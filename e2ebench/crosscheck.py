#!/usr/bin/env python3
"""Cross-check the benchmark's expected query values against DuckDB.

    python3 e2ebench/crosscheck.py [--sf sf0.01]

Run it from the repository root. It builds the benchmark (as run.py
does), runs the engine's own `graft.Verify` on the build's classpath
for every query in expected/queries.tsv at that scale factor, which
writes each query's result as parquet and SparkEntry.oracleSql as
oracle_sql.json under .bench_build/crosscheck/, and then runs each
oracle SQL with DuckDB on the same test data. A query passes when
DuckDB's result has the same columns (compared by name), the same rows
in the same order and equal cells (doubles within 1e-9) as the Spark
result, and its row count equals the one in expected/queries.tsv. The
digests in that file are then digests of results DuckDB agrees with.
It prints PASS/FAIL per query (expected/crosscheck.txt is this output)
and exits non-zero on any failure.

The expected values themselves are written by
`run.py --workload <w> --seed 1 --seconds 1 --record <tsv>`.
"""
import argparse
import glob
import json
import math
import os
import shutil
import sys

import duckdb
import pandas as pd

import run

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def cell(v):
    if v is None or (isinstance(v, float) and math.isnan(v)):
        return None
    if hasattr(v, "tolist"):
        return v.tolist()
    return v


def same(a, b):
    a, b = cell(a), cell(b)
    if isinstance(a, float) or isinstance(b, float):
        if a is None or b is None:
            return a is b
        return abs(float(a) - float(b)) <= 1e-9
    return str(a) == str(b)


def check(con, sql, result_dir, rows):
    exp = con.sql(sql).df()
    files = sorted(glob.glob(os.path.join(result_dir, "*.parquet")))
    if not files:
        return "no Spark result"
    got = pd.concat([pd.read_parquet(f) for f in files])
    cols = sorted(exp.columns)
    if cols != sorted(got.columns):
        return f"columns spark={sorted(got.columns)} oracle={cols}"
    if len(exp) != len(got):
        return f"rows spark={len(got)} oracle={len(exp)}"
    if len(exp) != rows:
        return f"rows oracle={len(exp)} expected file={rows}"
    exp, got = exp[cols].reset_index(drop=True), got[cols].reset_index(drop=True)
    for c in cols:
        for i, (x, y) in enumerate(zip(exp[c], got[c])):
            if not same(x, y):
                return f"row {i} col {c}: oracle={x!r} spark={y!r}"
    return None


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf", default="sf0.01")
    args = ap.parse_args()
    rows = {}
    with open(os.path.join(run.HERE, "expected", "queries.tsv")) as fh:
        for line in fh:
            sf, q, n, _ = line.rstrip("\n").split("\t")
            if sf == args.sf:
                rows[q] = int(n)
    run.preflight()
    run.build()
    sf_dir = os.path.join(run.TESTDATA, args.sf)
    out = os.path.join(run.BUILD, "crosscheck")
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(os.path.join(out, "tmp"))
    env = dict(os.environ)
    env["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    cmd = run.java(os.path.join(out, "tmp")) + [
        "graft.Verify", sf_dir, out, ",".join(sorted(rows))]
    with open(os.path.join(out, "verify.log"), "w") as log:
        rc = run.run_child(cmd, run.ROOT, env, log, log, 1800)
    if rc != 0:
        sys.exit(f"graft.Verify failed (rc={rc}); see {out}/verify.log")
    with open(os.path.join(out, "oracle_sql.json")) as fh:
        oracle = json.load(fh)
    con = duckdb.connect()
    con.sql("SET threads TO 2")
    for t in TABLES:
        p = os.path.join(sf_dir, f"{t}.parquet")
        if os.path.exists(p):
            con.sql(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
    fails = 0
    for name in sorted(rows):
        if name not in oracle:
            print(f"SKIP {args.sf} {name}: no oracle SQL")
            continue
        err = check(con, oracle[name], os.path.join(out, name), rows[name])
        fails += err is not None
        print(f"{'PASS' if err is None else 'FAIL'} {args.sf} {name}"
              f" ({rows[name]} rows){': ' + err if err else ''}")
    print(f"== {fails} failed ==")
    sys.exit(1 if fails else 0)


if __name__ == "__main__":
    main()
