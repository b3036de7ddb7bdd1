#!/usr/bin/env python3
"""Check the plans a Verify run wrote against the golden plan manifest.

Usage: dev/check_plans.py <verifyOutDir> [--update]

`runMain graft.Verify <sfDir> <verifyOutDir> [q1,q2,...]` writes each
query's formatted plan to <verifyOutDir>/_plans/<q>.txt. This hashes
each one (sha256 of the normalized text) and compares it with the
query's line in plans/golden.tsv (`name<TAB>sha256`, one line per
scored query). Only the run's own queries are checked, so a subset
Verify checks its subset. Lists each query whose hash differs or that
the manifest lacks, and exits 1 if any is listed. With --update it
rewrites the manifest lines of the run's queries instead; a change
that means to move a plan updates its lines and names the queries.

Plans embed the shuffle partition count (`hashpartitioning(k, 4)`), so
run Verify at SPARK_GRAFT_CPUS=4. The normalization removes what varies
from run to run: expression ids `#<n>`, `plan_id=<n>`, `RDD[<n>]`,
call sites `at X.scala:<n>`, lambda classes `Lambda$<n>/0x…@…`, lambda
variables `lambda x_<n>`, object identity hashes `Class@<hex>`, the
root of the query's scratch dir `…/userFiles-<uuid>/` under Spark's
local dir, every other UUID (scope dirs, written part files), and the
path above the scale dir of a testdata table (`file:…/sf0.01/x.parquet`
keeps `sf0.01/x.parquet`), so the manifest holds wherever the testdata
lives.

Spark's RewriteDistinctAggregates orders the Expand groups of a
plan's distinct aggregates by the hash of their expressions, which
holds expression ids, so the same query can list those groups, their
columns and their `gid` numbers in another order in another run. A
plan with such a `gid` column is therefore compared line by line as a
sorted multiset of tokens, with the numbers compared to `gid` dropped:
its operators, their count and every line's contents stay checked,
the order within a line does not.

To see what changed, run Verify on both trees with the query's name as
its 3rd arg and diff the two `_plans/<q>.txt` files.
"""
import hashlib
import pathlib
import re
import sys

MANIFEST = pathlib.Path(__file__).resolve().parent.parent / "plans/golden.tsv"

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
    (re.compile(r"(?<=file:)[^\s\[\]]*/(?=[^/\s\[\]]+/[^/\s\[\]]+\.parquet\])"), ""),
]
GID = re.compile(r"\bgid# = \d+")
TOKEN = re.compile(r"[\s,()\[\]]+")


def normalized(text):
    for pattern, repl in NORMALIZE:
        text = pattern.sub(repl, text)
    if "gid#" in text:
        text = "\n".join(" ".join(sorted(TOKEN.split(GID.sub("gid# =", line))))
                         for line in text.splitlines())
    return text


def digest(path):
    return hashlib.sha256(normalized(path.read_text()).encode()).hexdigest()


def main(argv):
    if len(argv) not in (2, 3) or argv[2:] not in ([], ["--update"]):
        sys.exit(__doc__.split("\n\n")[1])
    run = {p.stem: digest(p)
           for p in pathlib.Path(argv[1], "_plans").glob("*.txt")}
    if not run:
        sys.exit(f"no plans under {argv[1]}/_plans: run graft.Verify first")
    golden = (dict(line.split("\t") for line in MANIFEST.read_text().splitlines())
              if MANIFEST.exists() else {})
    if argv[2:]:
        golden.update(run)
        MANIFEST.write_text("".join(f"{q}\t{h}\n" for q, h in sorted(golden.items())))
        print(f"== wrote {len(run)} of {len(golden)} lines of {MANIFEST.name} ==")
        return 0
    listed = sorted(q for q in run if golden.get(q) != run[q])
    for q in listed:
        print(f"{'differs' if q in golden else 'new'}\t{q}")
    print(f"== {len(run) - len(listed)} match, {len(listed)} listed, "
          f"{len(golden.keys() - run.keys())} manifest lines not in this run ==")
    if listed:
        print("a plan moved: run Verify at SPARK_GRAFT_CPUS=4; if the change "
              "is meant, rerun with --update and name the queries")
    return 1 if listed else 0


if __name__ == "__main__":
    sys.exit(main(sys.argv))
