#!/usr/bin/env bash
# Full pre-snapshot gate — run before ending a round. Exits non-zero on
# the first red stage so a broken suite can't slip into a snapshot
# (round 7 shipped 51 red tests because nothing forced this).
#
# Usage: dev/gate.sh [sfDir]   (default /root/testdata/sf0.01)
set -euo pipefail
cd "$(dirname "$0")/.."
SF="${1:-/root/testdata/sf0.01}"

echo "== 1/4 SURVEY.md §2 inventory drift =="
python3 dev/check_inventory.py

echo "== 2/4 sbt test =="
sbt -batch test

echo "== 3/4 Verify @ $SF =="
sbt -batch "runMain graft.Verify $SF target/verify_out"

echo "== 4/4 DuckDB oracle differential =="
python3 dev/check_oracle.py "$SF" target/verify_out

echo "GATE GREEN"
