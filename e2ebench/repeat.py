#!/usr/bin/env python3
"""Run the benchmark on two trees in pairs and record every run.

    python3 e2ebench/repeat.py OUT.jsonl --parent TREE --change TREE
                               [--workloads a,b] [--seeds 1-10]
                               [--trace 0|1] [--max-steal 0.08]
                               [--retries 1]

TREE is a checkout of one commit (a plain copy is enough); each tree
builds into its own .bench_build/. For each workload and seed the two
trees run back to back, one run at a time, with the command and run
length from each tree's BENCHMARK.json. Which tree goes first
alternates from one seed to the next, so a slow spell of the host falls
on both sides alike. To measure the spread of one commit, pass two
checkouts of the same commit.

Every run appends one line to OUT: {"side", "workload", "seed",
"attempt", "first", "trace", "elapsed_s", "exit", "host_steal",
"superseded", "result"}. host_steal is the share of CPU time the
hypervisor took during the run (run.py prints it on stderr for untraced
runs). When either run of a pair saw more steal than --max-steal, the
pair is run again, up to --retries times; the earlier records stay in
OUT, marked "superseded": true, and compare.py ignores them.
"""
import argparse
import json
import os
import re
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def seeds(spec):
    out = []
    for part in spec.split(","):
        lo, _, hi = part.partition("-")
        out += list(range(int(lo), int(hi or lo) + 1))
    return out


def run_once(tree, workload, seed, trace):
    with open(os.path.join(tree, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    cmd = bench["command"] + ["--workload", workload, "--seed", str(seed),
                              "--seconds", str(bench["run_seconds"]),
                              "--trace", str(trace)]
    t = time.time()
    p = subprocess.run(cmd, cwd=tree, stdout=subprocess.PIPE,
                       stderr=subprocess.PIPE, text=True)
    sys.stderr.write(p.stderr)
    steal = re.findall(r"host_steal=([0-9.]+)", p.stderr)
    lines = p.stdout.strip().splitlines()
    try:
        result = json.loads(lines[-1]) if p.returncode == 0 else None
    except (IndexError, json.JSONDecodeError):
        result = None
    return {"elapsed_s": round(time.time() - t, 1), "exit": p.returncode,
            "host_steal": float(steal[-1]) if steal else None,
            "result": result}


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("out")
    ap.add_argument("--parent", required=True)
    ap.add_argument("--change", required=True)
    ap.add_argument("--workloads")
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--max-steal", type=float, default=0.08)
    ap.add_argument("--retries", type=int, default=1)
    args = ap.parse_args()
    trees = {"parent": os.path.abspath(args.parent),
             "change": os.path.abspath(args.change)}
    with open(os.path.join(trees["change"], "BENCHMARK.json")) as fh:
        names = [w["name"] for w in json.load(fh)["workloads"]]
    for w in (args.workloads.split(",") if args.workloads else names):
        for i, s in enumerate(seeds(args.seeds)):
            order = ["parent", "change"] if i % 2 == 0 else ["change", "parent"]
            for attempt in range(args.retries + 1):
                recs = []
                for side in order:
                    rec = {"side": side, "workload": w, "seed": s,
                           "attempt": attempt, "first": order[0],
                           "trace": args.trace}
                    rec.update(run_once(trees[side], w, s, args.trace))
                    recs.append(rec)
                    print(f"{w} seed={s} {side} exit={rec['exit']} "
                          f"{rec['elapsed_s']} s steal={rec['host_steal']}",
                          file=sys.stderr)
                again = attempt < args.retries and any(
                    (r["host_steal"] or 0) > args.max_steal for r in recs)
                with open(args.out, "a") as fh:
                    for r in recs:
                        r["superseded"] = again
                        fh.write(json.dumps(r) + "\n")
                if not again:
                    break


if __name__ == "__main__":
    main()
