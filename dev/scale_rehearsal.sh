#!/usr/bin/env bash
# Scale-rehearsal protocol (SURVEY §6): deterministic 10x (sf1) and 30x
# (sf3) datasets derived from the driver's sf0.1 via graft.ScaleUp,
# then min-of-3 benches of the expensive tail. Dev-only tool — the
# committed artifacts are BENCH_LOCAL_sf1_min3*.json /
# BENCH_LOCAL_sf3_worst_min3*.json and CORRECTNESS_sf1.json.
#
# Usage: dev/scale_rehearsal.sh [sf1|sf3|verify_sf1]
set -euo pipefail
cd "$(dirname "$0")/.."

# The sf1 set: the 30 most expensive queries by min-of-3 — including,
# PERMANENTLY, the two streaming drains q_stream_session and
# q_stream_decrypt (the family measured exactly 2.0x at 10x in r10;
# keeping them in the set makes that a regression guard, per the r10
# verdict). Compare rounds with:
#   python3 dev/compare_bench.py BENCH_LOCAL_sf1_min3_rA.json \
#       BENCH_LOCAL_sf1_min3_rB.json
SF1_SET=q_dedup_components,q_dedup_components_star,q_dedup_containment,q_dedup_keep_best,q_dedup_semantic,q_dedup_simhash,q_graph_adamic_adar,q_graph_assortativity,q_graph_bfs,q_graph_kcore,q_graph_lpa,q_graph_modularity,q_graph_pagerank,q_graph_triangles,q_join_interval,q_market_basket,q_rec_cooccur,q_stream_decrypt,q_stream_dedup,q_stream_join,q_stream_join_full,q_stream_join_left,q_stream_session,q_stream_session_timeout,q_stream_topk,q_text_dup_doc_filter,q_text_dup_ngrams,q_text_dup_spans,q_text_novelty,q_ts_theilsen

# The sf3 set: the worst-RATIO families from the sf1 rehearsal (the
# capped-quadratic ops) — the point is the ratio CURVE across decades
# (sf0.1 -> sf1 -> sf3 must flatten, not compound).
SF3_SET=q_dedup_semantic,q_graph_adamic_adar,q_dedup_components,q_dedup_components_star

MEM=${SPARK_DRIVER_MEM:-32g}

case "${1:-sf1}" in
  gen_sf1)
    SPARK_DRIVER_MEM=$MEM \
      sbt -batch "runMain graft.ScaleUp /root/testdata/sf0.1 target/sf1 10"
    ;;
  gen_sf3)
    SPARK_DRIVER_MEM=$MEM \
      sbt -batch "runMain graft.ScaleUp /root/testdata/sf0.1 target/sf3 30"
    ;;
  sf1)
    SPARK_DRIVER_MEM=$MEM SPARK_GRAFT_SF_DIR=target/sf1 \
      SPARK_GRAFT_BENCH_RUNS=3 \
      SPARK_GRAFT_BENCH_ONLY=$SF1_SET \
      sbt -batch "runMain graft.Bench"
    ;;
  sf3)
    SPARK_DRIVER_MEM=$MEM SPARK_GRAFT_SF_DIR=target/sf3 \
      SPARK_GRAFT_BENCH_RUNS=3 \
      SPARK_GRAFT_BENCH_ONLY=$SF3_SET \
      sbt -batch "runMain graft.Bench"
    ;;
  verify_sf1)
    # Full 272-query oracle differential at sf1: Verify dump + DuckDB
    # replay. The committed artifact is CORRECTNESS_sf1.json.
    SPARK_DRIVER_MEM=$MEM \
      sbt -batch "runMain graft.Verify target/sf1 target/verify_sf1"
    # --jobs 8: fan the heavy recursive-CTE oracles over workers.
    # --rtol 1e-12: double sums in the e10 range differ by last-ulp
    # summation order at sf1 (rtol ~3e-15); driver-parity runs at
    # sf0.01 keep the default strict 0.
    python3 dev/check_oracle.py target/sf1 target/verify_sf1 \
      --jobs 8 --rtol 1e-12 --json CORRECTNESS_sf1.json
    ;;
  *)
    echo "usage: $0 [gen_sf1|gen_sf3|sf1|sf3|verify_sf1]" >&2
    exit 2
    ;;
esac
