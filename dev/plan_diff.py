#!/usr/bin/env python3
"""List the queries whose PlanDump plans differ between two dumps.

Usage: dev/plan_diff.py <dirA> <suffixA> <dirB> <suffixB>

Reads <dirA>/<q>_<suffixA>.txt and <dirB>/<q>_<suffixB>.txt, as written
by `runMain graft.PlanDump <outDir> <suffix> <q1,q2,...>`, normalizes the
run-specific tokens (expression ids `#<n>`, `plan_id=<n>`, `RDD[<n>]`,
call sites `at X.scala:<n>`, lambda classes `Lambda$<n>/0x…@…`, lambda
variables `lambda x_<n>`, object identity hashes `Class@<hex>`, the root
of the query's scratch dir `…/userFiles-<uuid>/` under Spark's local
dir, and every other UUID: scope dirs, written part files), and prints
each query whose plans still differ, or that only one side dumped.
Exits 1 if any query is listed.

Caveat: one PlanDump run builds every query in the same JVM, so a
query's expression ids depend on the queries built before it. Where two
ids tie, that can reorder a plan's nodes (for example the Expand
projections of distinct-aggregate groups) with no change in the query
itself. A query can also embed a value it computed from a sampled
layout at build time (globalRowNumber's per-partition row offsets).
Re-dump a listed query alone, on both sides, before calling it a
change.
"""
import pathlib
import re
import sys

NORMALIZE = [
    (re.compile(r"#\d+"), "#"),
    (re.compile(r"plan_id=\d+"), "plan_id="),
    (re.compile(r"RDD\[\d+\]"), "RDD[]"),
    (re.compile(r"at (\w+)\.scala:\d+"), r"at \1.scala:"),
    (re.compile(r"Lambda\$\d*/0x[0-9a-f]+@[0-9a-f]+"), "Lambda"),
    (re.compile(r"\b(lambda [A-Za-z]+)_\d+"), r"\1_"),
    (re.compile(r"(?<=[\w$\]])@[0-9a-f]{1,8}\b"), "@"),
    (re.compile(r"[^\s\[\]]*/userFiles-[0-9a-f-]{36}/"), "userFiles/"),
    (re.compile(r"[0-9a-f]{8}(-[0-9a-f]{4}){3}-[0-9a-f]{12}"), "uuid"),
]


def plans(directory, suffix):
    tail = f"_{suffix}.txt"
    return {p.name[: -len(tail)]: p
            for p in pathlib.Path(directory).glob(f"*{tail}")}


def normalized(path):
    text = path.read_text()
    for pattern, repl in NORMALIZE:
        text = pattern.sub(repl, text)
    return text


def main(argv):
    if len(argv) != 5:
        sys.exit(__doc__.split("\n\n")[1])
    a, b = plans(argv[1], argv[2]), plans(argv[3], argv[4])
    differ = sorted(q for q in a.keys() | b.keys()
                    if q not in a or q not in b
                    or normalized(a[q]) != normalized(b[q]))
    for q in differ:
        side = "only A" if q not in b else "only B" if q not in a else "differs"
        print(f"{side}\t{q}")
    print(f"== {len(a.keys() | b.keys()) - len(differ)} identical, "
          f"{len(differ)} listed ==")
    return 1 if differ else 0


if __name__ == "__main__":
    sys.exit(main(sys.argv))
