#!/usr/bin/env bash
# Full pre-snapshot gate — run before ending a round. Exits non-zero on
# the first red stage so a broken suite can't slip into a snapshot
# (round 7 shipped 51 red tests because nothing forced this).
#
# Usage: dev/gate.sh [sfDir]   (default /root/testdata/sf0.01)
set -euo pipefail
cd "$(dirname "$0")/.."
SF="${1:-/root/testdata/sf0.01}"

echo "== 1/6 SURVEY.md §2 inventory drift =="
python3 dev/check_inventory.py

echo "== 2/6 one pin path, one owner per query, one testdata reader =="
if grep -rnE "\.(localCheckpoint|checkpoint)\(" src/main --include=*.scala \
    | grep -v "/PinBridge.scala:"; then
  echo "direct pin above: route it through graft.api.ops.pinLineage"
  exit 1
fi
# A context-wide sweep frees the pins of a query running next to this
# one, and a fixed scratch root is shared by concurrent queries: what a
# query allocates belongs to its fork (PinBridge.close releases it).
if grep -rnE "getPersistentRDDs|/dev/shm" src/main --include=*.scala; then
  echo "global sweep or fixed scratch root above: use the query's fork"
  exit 1
fi
# A testdata read outside Tables infers its schema from the footer with
# a job of its own on every call; Tables reads each footer once.
if grep -rnF 'spark.read.parquet(s"$dir/' src/main --include=*.scala \
    | grep -v "/Tables.scala:"; then
  echo "testdata read above: load it through graft.Tables"
  exit 1
fi

echo "== 3/6 sbt test =="
sbt -batch test

# Plans embed the shuffle partition count, which is the core count:
# plans/golden.tsv holds the plans of a 4-core session.
echo "== 4/6 Verify @ $SF =="
SPARK_GRAFT_CPUS=4 sbt -batch "runMain graft.Verify $SF target/verify_out"

echo "== 5/6 plans match plans/golden.tsv =="
python3 dev/check_plans.py target/verify_out

echo "== 6/6 DuckDB oracle differential =="
python3 dev/check_oracle.py "$SF" target/verify_out

echo "GATE GREEN"
