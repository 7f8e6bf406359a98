#!/usr/bin/env bash
# Non-comment line counter for the Scala sources.
#
# A line counts unless it is blank, starts with `//` (after leading
# whitespace), or lies in a block comment: from a line whose first
# non-blank characters are `/*` through the line holding the closing
# `*/` (Scaladoc included). Prints one "<count> <file>" line per file,
# then a total, for src/main and src/test.
#
# With `--since <rev>`, prints "<count at rev> → <count now> <file>"
# for each .scala file that differs between <rev> and the working tree
# (untracked files included), then the tree totals the same way. The
# old side is read through `git show <rev>:<path>`.
#
# Usage: scripts/loc.sh            # both trees
#        scripts/loc.sh src/main   # one tree
#        scripts/loc.sh --since HEAD~1 [src/main]
set -euo pipefail
cd "$(dirname "$0")/.."

# The counting rule (awk): n[FILENAME] per input file, tot overall.
rule='
  FNR == 1 { inblk = 0; files[++nf] = FILENAME; n[FILENAME] = 0 }
  {
    t = $0; sub(/^[ \t]+/, "", t)
    if (inblk) { if (index(t, "*/")) inblk = 0; next }
    if (t == "") next
    if (substr(t, 1, 2) == "//") next
    if (substr(t, 1, 2) == "/*") {
      if (!index(substr(t, 3), "*/")) inblk = 1
      next
    }
    n[FILENAME]++; tot++
  }'

count() {
  find "$1" -name '*.scala' | sort | xargs awk -v tree="$1" "$rule"'
    END {
      for (i = 1; i <= nf; i++) printf "%7d %s\n", n[files[i]], files[i]
      printf "%7d total %s\n", tot, tree
    }'
}

# countAt <rev> <tree>: count's output for <tree> as it was at <rev>.
countAt() {
  local f c tot=0
  while read -r f; do
    c=$(git show "$1:$f" | awk "$rule"' END { print tot + 0 }')
    printf "%7d %s\n" "$c" "$f"
    tot=$((tot + c))
  done < <(git ls-tree -r --name-only "$1" -- "$2" | grep '\.scala$')
  printf "%7d total %s\n" "$tot" "$2"
}

# since <rev> <tree>: the counts at <rev> beside today's, for the
# files that changed, then the totals.
since() {
  awk -v tree="$2" '
    FILENAME == ARGV[1] { files[++nf] = $0; next }
    $2 == "total" { tot[FILENAME == ARGV[2]] = $1; next }
    { n[FILENAME == ARGV[2], $2] = $1 }
    END {
      for (i = 1; i <= nf; i++)
        printf "%7d → %7d %s\n", n[1, files[i]], n[0, files[i]], files[i]
      printf "%7d → %7d total %s\n", tot[1], tot[0], tree
    }' \
    <({ git diff --name-only "$1" -- "$2"
        git ls-files --others --exclude-standard -- "$2"
      } | grep '\.scala$' | sort -u) \
    <(countAt "$1" "$2") \
    <(if [ -d "$2" ]; then count "$2"; fi)
}

if [ "${1:-}" = "--since" ]; then
  rev=${2:?usage: scripts/loc.sh --since <rev> [tree...]}
  shift 2
  trees=("$@")
  [ $# -eq 0 ] && trees=(src/main src/test)
  for t in "${trees[@]}"; do since "$rev" "$t"; done
  exit 0
fi

trees=("$@")
[ $# -eq 0 ] && trees=(src/main src/test)
for t in "${trees[@]}"; do count "$t"; done
