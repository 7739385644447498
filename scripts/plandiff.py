#!/usr/bin/env python3
"""Compare two directories of physical-plan dumps row by row.

Each directory holds one `<row>.txt` per battery row, as written by
`graft.ExplainMain` with `SPARK_GRAFT_EXPLAIN_DIR` set (Spark's
`explain("formatted")` text). For every row present in both directories the
script compares

  * the operator tree: the indented tree at the top of the dump, and
  * the operator details below it, after normalizing what differs between
    any two runs of the same plan: expression ids (`#123`), exchange and
    subquery `plan_id=`s, RDD ids (`MapPartitionsRDD[42]`) with their
    call-site line numbers, the checkout's warehouse directory, JVM object
    hashes of array literals (`[J@1c0293a`), JVM lambda class names
    (`CodecOps$$$Lambda$5655/0x00007f16e15b35e0`), and the generated
    lambda-variable names (`x_17`).

Spark's distinct-aggregate rewrite (an `Expand` tagging each row with a
`gid` per distinct group, then the aggregates over it) orders its groups
differently from run to run. In the `Expand` operator that emits `gid` and
in every aggregate or exchange that reads it, each bracketed or
parenthesized list is therefore compared as a multiset, and the group
numbers (`gid = 2`, the projections' trailing literals) are dropped.

A row whose operator tree differs is a plan change. A row whose tree is the
same but whose normalized details differ changed only expressions or alias
names inside the same operators; `--details` prints those diffs too.

    python3 scripts/plandiff.py <before-dir> <after-dir> [--details]

Exit status is 1 when any operator tree differs, 0 otherwise.
"""
import argparse
import difflib
import os
import re
import sys

NORMALIZE = [
    (re.compile(r"\$Lambda(\$\d+)?/0x[0-9a-f]+"), "$Lambda"),
    (re.compile(r"#\d+L?"), "#N"),
    (re.compile(r"plan_id=\d+"), "plan_id=N"),
    (re.compile(r"RDD\[\d+\]"), "RDD[N]"),
    (re.compile(r"\.scala:\d+"), ".scala:N"),
    (re.compile(r"file:\S*/spark-warehouse/"), "file:<warehouse>/"),
    (re.compile(r"@[0-9a-f]{5,8}\b"), "@N"),
    (re.compile(r"\b(lambda [a-z]+)_\d+"), r"\1_N"),
    (re.compile(r"\b([xyz])_\d+\b"), r"\1_N"),
]


def normalize(line):
    for pat, rep in NORMALIZE:
        line = pat.sub(rep, line)
    return line.rstrip()


OPERATOR = re.compile(r"^\(\d+\) (\S+)")
GID = re.compile(r"\bgid#N\b")
GROUP_NO = re.compile(r"(\bgid#N = )\d+|(?<=, )\d+(?=\])")
GROUPED = ("Expand", "HashAggregate", "ObjectHashAggregate", "SortAggregate",
           "Exchange")


def as_multisets(line):
    """`line` with the top-level elements of every [...] / (...) list sorted,
    innermost lists first, and the distinct-group numbers dropped."""
    line = GROUP_NO.sub(lambda m: (m.group(1) or "") + "G", line)
    stack = [[""]]  # per open list: its elements so far
    for c in line:
        if c in "[(":
            stack.append([""])
        elif c in "])" and len(stack) > 1:
            elems = stack.pop()
            stack[-1][-1] += "[" + ", ".join(sorted(e.strip() for e in elems)) + "]"
        elif c == "," and len(stack) > 1:
            stack[-1].append("")
        else:
            stack[-1][-1] += c
    while len(stack) > 1:  # unbalanced (a truncated line): close what is open
        elems = stack.pop()
        stack[-1][-1] += "[" + ", ".join(elems)
    return stack[0][0]


def details_of(lines):
    """Normalized detail lines; the blocks of the distinct-aggregate rewrite
    (an Expand emitting `gid`, aggregates and exchanges reading it) compare
    their lists as multisets."""
    blocks, cur = [], None
    for l in lines:
        if not l.strip():
            continue
        m = OPERATOR.match(l)
        if m or cur is None:
            cur = [m.group(1) if m else None, []]
            blocks.append(cur)
        cur[1].append(normalize(l))
    details = []
    for op, ls in blocks:
        if op in GROUPED and any(GID.search(l) for l in ls[1:]):
            ls = ls[:1] + [as_multisets(l) for l in ls[1:]]
        details.extend(ls)
    return details


def split_plan(text):
    """(operator tree lines, normalized detail lines) of one formatted dump."""
    lines = text.splitlines()
    start = next((i + 1 for i, l in enumerate(lines)
                  if l.startswith("== Physical Plan ==")), 0)
    tree = []
    i = start
    while i < len(lines) and lines[i].strip():
        tree.append(lines[i].rstrip())
        i += 1
    return tree, details_of(lines[i:])


def read(path):
    with open(path, encoding="utf-8") as f:
        return split_plan(f.read())


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("before")
    ap.add_argument("after")
    ap.add_argument("--details", action="store_true",
                    help="also print the normalized detail diff of rows "
                         "whose operator tree is unchanged")
    a = ap.parse_args()

    names = lambda d: {f[:-4] for f in os.listdir(d) if f.endswith(".txt")}
    before, after = names(a.before), names(a.after)
    for only, where in ((before - after, a.after), (after - before, a.before)):
        for n in sorted(only):
            print(f"{n}: missing from {where}")

    changed = 0
    for n in sorted(before & after):
        tb, db = read(os.path.join(a.before, n + ".txt"))
        ta, da = read(os.path.join(a.after, n + ".txt"))
        if tb != ta:
            changed += 1
            print(f"{n}: OPERATOR TREE DIFFERS")
            for l in difflib.unified_diff(tb, ta, "before", "after", lineterm="", n=1):
                print("    " + l)
        elif db != da:
            print(f"{n}: same operator tree ({len(tb)} operators); "
                  "expressions or alias names differ")
            if a.details:
                for l in difflib.unified_diff(db, da, "before", "after", lineterm="", n=0):
                    print("    " + l[:200])
        else:
            print(f"{n}: identical ({len(tb)} operators)")
    print(f"{len(before & after)} rows compared, {changed} operator trees differ")
    sys.exit(1 if changed else 0)


if __name__ == "__main__":
    main()
