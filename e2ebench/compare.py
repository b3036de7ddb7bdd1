#!/usr/bin/env python3
"""Compare the parent and the change from a file of paired runs.

    python3 e2ebench/compare.py PAIRS.jsonl

PAIRS.jsonl is written by repeat.py. Records marked superseded and
traced runs are left out. Metrics, units, directions and bounds come
from BENCHMARK.json. Two tables are printed, each with one row per
end-to-end metric per workload.

Spread: for each side, the first quartile, median and third quartile,
and the spread (q3 - q1) / median against the metric's bound: "steady"
when the spread is at most a third of the bound, "ok" when it is within
the bound, "UNSTEADY" otherwise.

Comparison, by the rule in choosing-metrics §8, on runs paired by seed:

- "better": the change wins at least nine tenths of the pairs (ties
  count for neither side), its median is the better one, and the
  medians differ by more than the parent's quartile distance;
- otherwise "unresolved (spread > bound)" when either side's spread
  exceeds the bound, unless every change run reads better than every
  parent run ("not worse (every run better)");
- otherwise "WORSE" when the change's median is worse than the parent's
  by more than the bound, else "same (within bound)".
"""
import json
import os
import statistics
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SIDES = ("parent", "change")


def load(path):
    runs = {}
    with open(path) as fh:
        for line in fh:
            rec = json.loads(line)
            if rec.get("trace", 0) != 0 or rec.get("superseded"):
                continue
            runs.setdefault((rec["side"], rec["workload"]), []).append(rec)
    return runs


def values(recs, metric):
    """Seed -> value of every run that produced the metric."""
    out = {}
    for r in recs:
        res = r.get("result")
        if res and metric in res.get("metrics", {}):
            out[r["seed"]] = float(res["metrics"][metric]["value"])
    return out


def quartiles(xs):
    if len(xs) < 2:
        return xs[0], xs[0], xs[0]
    q1, _, q3 = statistics.quantiles(xs, n=4)
    return q1, statistics.median(xs), q3


def spread(xs):
    q1, med, q3 = quartiles(xs)
    return (q3 - q1) / abs(med) if med else float("inf")


def fmt(x):
    return f"{x:.4g}"


def bad_runs(recs):
    return [r["seed"] for r in recs if not r.get("result")
            or not r["result"].get("correct") or r["result"].get("failed")]


def spreads(bench, runs):
    print(f"{'side':<7} {'workload':<16} {'metric':<12} {'n':>3} {'q1':>10}"
          f" {'median':>10} {'q3':>10} {'spread':>7} {'bound':>6}  verdict")
    for side in SIDES:
        for w in (x["name"] for x in bench["workloads"]):
            recs = runs.get((side, w), [])
            for m in bench["end_to_end"]:
                v = list(values(recs, m["name"]).values())
                if not v:
                    print(f"{side:<7} {w:<16} {m['name']:<12}   0  no runs")
                    continue
                q1, med, q3 = quartiles(v)
                sp, b = spread(v), m["bound"]
                verdict = ("steady" if sp <= b / 3 else "ok" if sp <= b
                           else "UNSTEADY")
                print(f"{side:<7} {w:<16} {m['name']:<12} {len(v):>3}"
                      f" {fmt(q1):>10} {fmt(med):>10} {fmt(q3):>10}"
                      f" {sp:>7.3f} {b:>6}  {verdict}")
            if bad_runs(recs):
                print(f"{side:<7} {w:<16} failed or incorrect runs, seeds"
                      f" {bad_runs(recs)}")


def compare(bench, runs):
    print(f"{'workload':<16} {'metric':<12} {'parent q1/med/q3':>30}"
          f" {'change q1/med/q3':>30} {'wins':>7}  verdict")
    for w in (x["name"] for x in bench["workloads"]):
        for m in bench["end_to_end"]:
            a = values(runs.get(("parent", w), []), m["name"])
            c = values(runs.get(("change", w), []), m["name"])
            seeds = sorted(set(a) & set(c))
            if not seeds:
                print(f"{w:<16} {m['name']:<12} no pairs")
                continue
            higher = m["better"] == "higher"

            def better(x, y):  # x reads better than y
                return x > y if higher else x < y

            pa, pc = quartiles(list(a.values())), quartiles(list(c.values()))
            wins = sum(better(c[s], a[s]) for s in seeds)
            losses = sum(better(a[s], c[s]) for s in seeds)
            b = m["bound"]
            worse_by = ((pa[1] - pc[1]) if higher else (pc[1] - pa[1])) / abs(pa[1])
            if (wins >= 0.9 * len(seeds) and better(pc[1], pa[1])
                    and abs(pc[1] - pa[1]) > pa[2] - pa[0]):
                verdict = "better"
            elif spread(list(a.values())) > b or spread(list(c.values())) > b:
                if all(better(x, y) for x in c.values() for y in a.values()):
                    verdict = "not worse (every run better)"
                else:
                    verdict = "unresolved (spread > bound)"
            elif worse_by > b:
                verdict = f"WORSE by {worse_by:.1%} (bound {b:.0%})"
            else:
                verdict = ("same (within bound; median "
                           f"{(pc[1] - pa[1]) / abs(pa[1]):+.1%})")
            col = lambda q: "/".join(fmt(x) for x in q)
            print(f"{w:<16} {m['name']:<12} {col(pa):>30} {col(pc):>30}"
                  f" {wins:>3}-{losses:<3}  {verdict}")


def main():
    if len(sys.argv) != 2:
        sys.exit(__doc__)
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    runs = load(sys.argv[1])
    spreads(bench, runs)
    print()
    compare(bench, runs)


if __name__ == "__main__":
    main()
