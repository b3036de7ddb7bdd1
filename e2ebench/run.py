#!/usr/bin/env python3
"""Benchmark entry point: builds the engine from source, runs one workload.

    python3 e2ebench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run it from the repository root. The first call compiles the engine
(../src/main/scala) together with the harness (src/main/scala) with sbt
into .bench_build/; later calls reuse that build while no source file
changed. It then starts one JVM that sets up the workload, measures it
and checks its outputs, and relays that JVM's result: the last line of
stdout is one JSON object {"correct", "attempted", "failed", "metrics"}.
Logs and traced-run spans go to .bench_build/. With `--record TSV` it
instead writes the workload's expected query values (the lines of
expected/queries.tsv) to TSV.

Exit codes: 0 ok, 2 missing sources or test data, 3 build failed,
4 the run failed or produced no result.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
CLASSES = os.path.join(BUILD, "sbt", "scala-2.13", "classes")
ENGINE_SRC = os.path.join(ROOT, "src", "main", "scala")
TESTDATA = os.environ.get("GRAFT_BENCH_TESTDATA",
                          os.path.expanduser("~/testdata"))
WORKLOADS = ("envelope_open", "iterative_pins")
RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 850

# Spark on JDK 17 outside spark-submit needs these (same list as the
# root build's javaOptions).
ADD_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
    "java.net", "java.nio", "java.util", "java.util.concurrent",
    "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
    "sun.security.action", "sun.util.calendar",
]


def spark_jars():
    """The Spark distribution's jar directory: $SPARK_HOME/jars, else
    the one beside the spark-submit on PATH."""
    home = os.environ.get("SPARK_HOME")
    if not home and shutil.which("spark-submit"):
        home = os.path.dirname(os.path.dirname(
            os.path.realpath(shutil.which("spark-submit"))))
    return os.path.join(home or "", "jars")


def log(msg):
    print(f"[run.py] {msg}", file=sys.stderr, flush=True)


def source_stamp():
    """Hash of every file the build reads, plus where the build lives."""
    h = hashlib.sha256(ROOT.encode())
    files = []
    for base in (ENGINE_SRC, os.path.join(HERE, "src")):
        for d, _, fs in os.walk(base):
            files += [os.path.join(d, f) for f in fs]
    files += [os.path.join(HERE, "build.sbt"),
              os.path.join(HERE, "project", "build.properties")]
    for f in sorted(files):
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def build():
    stamp_file = os.path.join(BUILD, "build.stamp")
    stamp = source_stamp()
    if os.path.isdir(CLASSES) and os.path.exists(stamp_file):
        with open(stamp_file) as fh:
            if fh.read().strip() == stamp:
                return
    os.makedirs(BUILD, exist_ok=True)
    env = dict(os.environ)
    env["COURSIER_MODE"] = "offline"
    env["GRAFT_SPARK_JARS"] = spark_jars()
    env.setdefault("SBT_OPTS",
                   "-Dsbt.override.build.repos=true "
                   "-Dsbt.repository.config=" +
                   os.path.expanduser("~/.sbt/repositories") +
                   " -Dsbt.offline=true -Xmx2g")
    cmd = ["sbt", "--batch", "-Dsbt.log.noformat=true",
           "-Dsbt.server.autostart=false", "clean", "compile"]
    log("building the engine and harness with sbt (first run only)")
    t = time.time()
    with open(os.path.join(BUILD, "build.log"), "w") as out:
        rc = run_child(cmd, HERE, env, out, out, BUILD_TIMEOUT_S)
    if rc != 0 or not os.path.isdir(CLASSES):
        log(f"build failed (rc={rc}); see {os.path.join(BUILD, 'build.log')}")
        sys.exit(3)
    with open(stamp_file, "w") as fh:
        fh.write(stamp + "\n")
    log(f"built in {time.time() - t:.1f} s")


def run_child(cmd, cwd, env, stdout, stderr, timeout):
    """Run cmd in its own process group; kill the whole group on
    timeout or interrupt, and always wait for it to end."""
    p = subprocess.Popen(cmd, cwd=cwd, env=env, stdout=stdout,
                         stderr=stderr, start_new_session=True)
    try:
        return p.wait(timeout=timeout)
    except BaseException:
        try:
            os.killpg(p.pid, signal.SIGKILL)
        except ProcessLookupError:
            pass
        p.wait()
        return -1


def preflight():
    """Exit with code 2 when the engine sources, the Spark jars or the
    test data are missing."""
    if not os.path.isdir(ENGINE_SRC):
        log(f"engine sources not found at {ENGINE_SRC}")
        sys.exit(2)
    if not os.path.isdir(spark_jars()):
        log("Spark jars not found (set SPARK_HOME)")
        sys.exit(2)
    if not os.path.isdir(TESTDATA):
        log(f"test data not found at {TESTDATA} (set GRAFT_BENCH_TESTDATA)")
        sys.exit(2)


def java(tmp):
    """The JVM command line up to the main class, on the build's
    classpath, with a fixed 2 GB heap and one core per usable CPU. The
    heap is touched at start, so the resident set does not depend on
    how much of the heap the collector happened to use."""
    cpus = len(os.sched_getaffinity(0))
    return (["java"] +
            [a for p in ADD_OPENS
             for a in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")] +
            ["-Xms2g", "-Xmx2g", "-XX:+AlwaysPreTouch",
             f"-XX:ActiveProcessorCount={cpus}",
             f"-Djava.io.tmpdir={tmp}", "-Dspark.sql.session.timeZone=UTC",
             "-cp", CLASSES + os.pathsep + os.path.join(spark_jars(), "*")])


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--record", metavar="TSV",
                    help="write the workload's expected query values to "
                         "TSV instead of measuring")
    args = ap.parse_args()

    preflight()
    build()

    work = os.path.join(BUILD, "work", f"{args.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    jvm = java(os.path.join(work, "tmp")) + [
        "graftbench.Main",
        "--workload", args.workload, "--seed", str(args.seed),
        "--seconds", str(args.seconds), "--trace", str(args.trace),
        "--work-dir", os.path.join(work, "data"),
        "--testdata", TESTDATA,
        "--spans", os.path.join(BUILD, "spans",
                                f"{args.workload}-{args.seed}.json")]
    if args.record:
        jvm += ["--record", os.path.abspath(args.record)]
    env = dict(os.environ)
    env["GRAFT_BENCH_EXPECTED"] = os.path.join(HERE, "expected", "queries.tsv")
    stdout_path = os.path.join(work, "stdout.txt")
    stderr_path = os.path.join(BUILD, f"run-{args.workload}-{args.seed}-"
                                      f"t{args.trace}.log")
    with open(stdout_path, "w") as out, open(stderr_path, "w") as err:
        rc = run_child(jvm, ROOT, env, out, err, RUN_TIMEOUT_S)
    with open(stdout_path) as fh:
        lines = [l for l in fh.read().splitlines() if l.strip()]
    shutil.rmtree(work, ignore_errors=True)
    result = None
    if rc == 0 and lines:
        try:
            result = json.loads(lines[-1])
        except json.JSONDecodeError:
            result = None
    if args.record:
        sys.exit(0 if rc == 0 else 4)
    if result is None:
        log(f"run failed (rc={rc}); see {stderr_path}")
        sys.exit(4)
    with open(stderr_path) as fh:
        for l in fh:
            if l.startswith("[graftbench]") and " op " not in l:
                sys.stderr.write(l)
    if not shape(result, args.trace):
        sys.exit(4)
    print(json.dumps(result))


def shape(result, trace):
    """Order the metrics as BENCHMARK.json lists them. A per-layer
    metric the workload does not exercise is reported as 0; a missing
    end-to-end metric fails the run."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        want = json.load(fh)["per_layer" if trace else "end_to_end"]
    got, out = result["metrics"], {}
    for m in want:
        if m["name"] in got:
            out[m["name"]] = got[m["name"]]
        elif trace:
            out[m["name"]] = {"value": 0, "unit": m["unit"]}
        else:
            log(f"run produced no {m['name']}")
            return False
    result["metrics"] = out
    return True


if __name__ == "__main__":
    main()
