#!/usr/bin/env bash
# Non-comment line counter for the Scala sources.
#
# A line counts unless it is blank, starts with `//` (after leading
# whitespace), or lies in a block comment: from a line whose first
# non-blank characters are `/*` through the line holding the closing
# `*/` (Scaladoc included). Prints one "<count> <file>" line per file,
# then a total, for src/main and src/test.
#
# Usage: scripts/loc.sh            # both trees
#        scripts/loc.sh src/main   # one tree
set -euo pipefail
cd "$(dirname "$0")/.."

count() {
  find "$1" -name '*.scala' | sort | xargs awk -v tree="$1" '
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
    }
    END {
      for (i = 1; i <= nf; i++) printf "%7d %s\n", n[files[i]], files[i]
      printf "%7d total %s\n", tot, tree
    }'
}

trees=("$@")
[ $# -eq 0 ] && trees=(src/main src/test)
for t in "${trees[@]}"; do count "$t"; done
