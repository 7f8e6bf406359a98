#!/usr/bin/env python3
"""Rewrite a graft.PlanDump output directory into a form that diffs.

Two PlanDump runs of one commit print different text for the same plan:
expression ids, exchange plan ids, RDD ids, lambda addresses, source line
numbers, the per-process suffix of memoized index tables and the warehouse
path all change between JVMs, and Spark's distinct-aggregate rewrite may
order its Expand projections differently. This script removes that noise:

  - expression ids (`#123`, `#123L`) are dropped;
  - `plan_id=N`, `RDD[N]`, lambda addresses (`$Lambda$N/0x...@...`) and
    source line numbers (`Foo.scala:N`) become fixed tokens;
  - memoized table names lose their process id (`..._<hash>_p<pid>`) and
    warehouse locations become `file:WAREHOUSE`;
  - an Expand node of the distinct-aggregate rewrite (its output ends in
    `gid`) gets its output columns sorted by name, its projection rows
    sorted, and its `gid` values renumbered in that order; the new column
    order and `gid` numbers are applied to the whole plan text, so the
    aggregates above the Expand read the same in every run.

Usage:
    python3 scripts/plan_norm.py IN_DIR OUT_DIR [SUFFIX]

Every `*.txt` file of IN_DIR is written normalised to OUT_DIR under the same
name; with SUFFIX, a trailing `_SUFFIX` is dropped from each name, so dumps
taken with different suffixes can be compared with `diff -r`.
"""

import os
import re
import sys

SUBS = [
    (re.compile(r"#\d+L?"), ""),
    (re.compile(r"plan_id=\d+"), "plan_id=N"),
    (re.compile(r"RDD\[\d+\]"), "RDD[N]"),
    (re.compile(r"\$Lambda(\$\d+)?/0x[0-9a-f]+@[0-9a-f]+"), "$Lambda"),
    (re.compile(r"(\w+\.(?:scala|java)):\d+"), r"\1:LINE"),
    (re.compile(r"(_[0-9a-f]{10})_p\d+"), r"\1_pPID"),
    (re.compile(r"file:[^\s,\]]*/graft_warehouse"), "file:WAREHOUSE"),
]

EXPAND_ARGS = re.compile(
    r"^(\(\d+\) Expand[^\n]*\nInput \[\d+\]: [^\n]*\nArguments: )([^\n]*)$",
    re.M)


def split_top(s):
    """Split `s` on the commas that sit outside every bracket."""
    out, depth, cur = [], 0, []
    for ch in s:
        if ch in "([{":
            depth += 1
        elif ch in ")]}":
            depth -= 1
        if ch == "," and depth == 0:
            out.append("".join(cur).strip())
            cur = []
        else:
            cur.append(ch)
    out.append("".join(cur).strip())
    return out


def unbracket(s):
    assert s.startswith("[") and s.endswith("]"), s
    return s[1:-1]


def canon_expand(text):
    """Canonical column order and gid numbering for distinct-rewrite
    Expand nodes (see the module doc)."""
    for m in list(EXPAND_ARGS.finditer(text)):
        parts = split_top(m.group(2))
        if len(parts) != 2:
            continue
        out = split_top(unbracket(parts[1]))
        if out[-1] != "gid":
            continue
        rows = [split_top(unbracket(r))
                for r in split_top(unbracket(parts[0]))]
        perm = sorted(range(len(out) - 1), key=lambda i: out[i])
        cols = [out[i] for i in perm]
        keyed = sorted(([r[i] for i in perm], r[-1]) for r in rows)
        gids = {old: str(new) for new, (_, old) in enumerate(keyed)}
        args = "[%s], [%s]" % (
            ", ".join("[%s]" % ", ".join(items + [gids[old]])
                      for items, old in keyed),
            ", ".join(cols + ["gid"]))
        text = text.replace(m.group(0), m.group(1) + args)
        text = text.replace(", ".join(out[:-1]), ", ".join(cols))
        text = re.sub(r"\(gid = (\d+)\)",
                      lambda g: "(gid = %s)" % gids.get(g.group(1),
                                                        g.group(1)),
                      text)
    return text


def normalise(text):
    for rx, rep in SUBS:
        text = rx.sub(rep, text)
    return canon_expand(text)


def main(argv):
    if len(argv) not in (3, 4):
        sys.exit(__doc__)
    src, dst = argv[1], argv[2]
    tail = "_" + argv[3] + ".txt" if len(argv) == 4 else None
    os.makedirs(dst, exist_ok=True)
    n = 0
    for name in sorted(os.listdir(src)):
        if not name.endswith(".txt"):
            continue
        with open(os.path.join(src, name), encoding="utf-8") as f:
            text = normalise(f.read())
        out = name
        if tail and name.endswith(tail):
            out = name[:-len(tail)] + ".txt"
        with open(os.path.join(dst, out), "w", encoding="utf-8") as f:
            f.write(text)
        n += 1
    print("normalised %d plans into %s" % (n, dst))


if __name__ == "__main__":
    main(sys.argv)
