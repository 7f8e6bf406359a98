#!/usr/bin/env bash
# WARN classes of a log, most frequent first.
#
# A WARN line is "<date> <time> WARN <Logger>: <message>" (the test
# layout in src/test/resources/log4j2.properties). Its class is the
# logger plus the message up to its first path (a word starting with
# "/" or "<scheme>:/") or number, so lines that differ only in a file,
# table, pid or count fall into one class. Stack-trace lines under a
# WARN are not counted. Prints one "<count> <class>" line per class,
# then the total.
#
# Usage: scripts/warns.sh <log>
set -euo pipefail
[ $# -eq 1 ] || { echo "usage: $0 <log>" >&2; exit 2; }

awk '
  match($0, / WARN [^ :]+: /) {
    logger = substr($0, RSTART + 6, RLENGTH - 8)
    msg = substr($0, RSTART + RLENGTH)
    if (match(msg, /(^|[ \047"(=[])(\/|[A-Za-z][A-Za-z0-9+.-]*:\/)|[0-9]/))
      msg = substr(msg, 1, RSTART - 1)
    sub(/[ \t]+$/, "", msg)
    n[logger ": " msg]++; tot++
  }
  END {
    for (k in n) printf "%7d %s\n", n[k], k | "sort -k1,1nr -k2"
    close("sort -k1,1nr -k2")
    printf "%7d total\n", tot
  }' "$1"
