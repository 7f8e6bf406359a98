#!/usr/bin/env bash
# Session-conf knob lister for the main sources.
#
# Prints one "<file>:<line> <key>" line per place src/main reads a
# `graft.*` session-conf key — a string literal "graft.<...>" passed
# straight to `getOption(`, `get(` or `contains(` — then the number
# of distinct keys. Every key is a setting an operator can change, so
# the total is the count of user-visible knobs.
#
# Usage: scripts/knobs.sh            # src/main
#        scripts/knobs.sh <dir>      # another tree
set -euo pipefail
cd "$(dirname "$0")/.."

tree="${1:-src/main}"
grep -rnoE '(getOption|get|contains)\("graft\.[A-Za-z0-9_.]+"' \
    --include='*.scala' "$tree" | sort -t: -k1,1 -k2,2n |
  awk -F: -v tree="$tree" '
    {
      key = $0; sub(/^[^"]*"/, "", key); sub(/"$/, "", key)
      printf "%s:%s %s\n", $1, $2, key
      if (!(key in seen)) { seen[key] = 1; n++ }
    }
    END { printf "%7d keys %s\n", n, tree }'
