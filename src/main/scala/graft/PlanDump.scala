package graft
import java.nio.file.{Files, Paths}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.ExplainMode
import org.apache.spark.sql.graft.PinBridge
/** Dev tool: dump formatted physical plans (AQE initial plans) in the
  * GraftSession shape.
  *
  *   runMain graft.PlanDump
  *     writes PLANS.md from the representative picks below at sf0.001,
  *     so plan shape is reviewable without running Spark;
  *   runMain graft.PlanDump <outDir> <suffix> <q1,q2,...>
  *     writes <outDir>/<q>_<suffix>.txt per named query at
  *     $SPARK_GRAFT_SF_DIR (default sf0.1, the bench's scale), e.g.
  *     before/after an optimization.
  */
object PlanDump {
  /** The formatted plan of a query built by `SparkEntry.queries`; closes
    * the query's session fork after, releasing its pins and scratch dir. */
  private def plan(df: DataFrame): String =
    try df.queryExecution.explainString(ExplainMode.fromString("formatted"))
    finally PinBridge.close(df.sparkSession)

  def main(args: Array[String]): Unit = {
    require(args.isEmpty || args.length == 3,
      "usage: PlanDump [<outDir> <suffix> <q1,q2,...>]")
    val spark = GraftSession()
    if (args.isEmpty) writePlansMd(spark)
    else {
      val Array(outDir, suffix, names) = args
      val sfDir =
        sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
      Files.createDirectories(Paths.get(outDir))
      SparkEntry.select(Some(names)).foreach { case (name, fn) =>
        val out = Paths.get(outDir, s"${name}_$suffix.txt")
        Files.writeString(out, plan(fn(spark, sfDir)))
        println(s"[plandump] wrote $out")
      }
    }
    spark.stop()
  }

  private def writePlansMd(spark: SparkSession): Unit = {
    val dir = "/root/testdata/sf0.001"
    val picks = Seq(
      "q_agg_pricing_summary" -> "flagship: scan with pushed filter -> two-phase hash-agg -> sort",
      "q_join_multiway" -> "5-way star join: SMJ fact-fact, broadcast dims",
      "q_scan_filter_pushdown" -> "predicates reach the parquet reader (PushedFilters)",
      "q_dedup_minhash" -> "sketch in one 128-col hash-agg; bands shuffle ids only",
      "q_sim_cosine_topk" -> "broadcast query vector -> TakeOrderedAndProject, no vector shuffle",
      "q_window_tumbling" -> "event-time windows as plain hash-agg (streaming twin shares the plan)",
      "q_msg_pipeline" -> "whole envelope pipeline as one codegen'd map stage over the scan",
      "q_join_interval" -> "interval pair counts with NO join: cell-duplicated window frames, O(n log n)/cell",
      "q_join_salted" -> "skew tool: composite (key, _salt) equi-join spreads the hot key",
      "q_kafka_pipeline" -> "Kafka wire schema -> headers -> unwrap -> decrypt -> verify, one map stage",
      "q_sim_ann_multiprobe" -> "multi-probe ANN: confidence-sorted bit flips explode query-side only",
      "q_scan_partitioned" -> "partition-pruned lake read: predicate in PartitionFilters, zero I/O elsewhere",
      "q_pack_sequences" -> "sequence packing: cumsum window over (lang, md5-shard) keys, partitions scale with the shard knob",
      "q_scd2_merge" -> "SCD2: ONE full-outer join of current slice vs change set, outcomes exploded in one pass",
      "q_sample_stratified" -> "stratified hash sample: scan-side filter, no shuffle",
      "q_embed_quantize" -> "int8 quantization: one projection pass over one scan",
      "q_text_unigram_surprisal" -> "unigram LM score: explode -> two partial aggs, broadcast model join",
      "q_recursive_spine" -> "recursive CTE spine: fact aggregated FIRST, months-sized join after",
      "q_join_bloom" -> "bloom semi-join reduction: codegen'd sketch probe filters the scan BELOW the join",
      "q_sample_weighted" -> "weighted sample: rank filter lowered to WindowGroupLimit (partial top-k before the shuffle)",
      "q_text_dup_ngrams" -> "cross-doc duplicated n-grams: grams as projection behind Generate, md5 digests shuffle, instances checkpointed",
      "q_ts_gapfill" -> "gap-fill + LOCF: window over the calendar-sized spine, never the raw events",
      "q_text_decontaminate" -> "decontamination: broadcast eval gram digests, map-side probe, zero extra corpus shuffles",
      "q_agg_profile" -> "column profiler: ONE scan, wide agg with Expand for exact distincts, long-form explode",
      "q_agg_heavy_hitters" -> "exact heavy hitters: partial-agg'd term counts, broadcast 1-row total",
      "q_dedup_containment" -> "containment: one symmetric overlap join, both directions by projection",
      "q_text_bm25" -> "BM25: postings filtered before any shuffle, broadcast df + stats, top-20",
      "q_text_quality_cut" -> "per-language p75 gate: broadcast cut table, no corpus shuffle",
      "q_dedup_semantic" -> "SemDeDup: broadcast centroid assignment, cluster-blocked pair scoring",
      "q_graph_triangles" -> "colorful triangles: checkpointed edge list, broadcast wedge/closure probes",
      "q_agg_extrema" -> "arg-extrema: partial max_by/min_by below the exchange",
      "q_ts_anomaly" -> "rolling z-score: one shuffle by user, trailing frame window",
      "q_funnel" -> "funnel: one user-keyed shuffle + sorted-group state machine, zero joins",
      "q_cohort_retention" -> "cohort retention: two user-keyed aggs, join repartitions neither side",
      "q_mv_refresh" -> "incremental MV refresh: delta projection + tiny agg over MV union deltas",
      "q_agg_count_min" -> "Count-Min: one bounded-memory scan, in-plan literal-slot estimates",
      "q_pipeline_embeddings" -> "embedding pipeline: quantize fused into scan, broadcast centroid argmax",
      "q_text_bigram_surprisal" -> "bigram LM: instances as projection, vocab^2 model broadcast",
      "q_sample_mixture" -> "token-budget mixture: rates derived in-plan (strata agg) and BROADCAST back onto the scan, no driver collect",
      "q_text_vocab_sketch" -> "string Misra-Gries vocab: one bounded-memory scan, <=k-entry buffer per partition through the shuffle",
      "q_dedup_keep_best" -> "keep-best dedup: components labeling + quality join + one component-keyed argmax window",
      "q_shuffle_shards" -> "deterministic epoch shuffle: doc_id-only scan, ONE shard hash exchange for the per-shard row_number, trailing range sort is the oracle ORDER BY only",
      "q_sim_hard_negatives" -> "hard-negative mining: bounded anchor batch BROADCAST onto one streamed corpus pass (BNLJ), per-anchor argmax window is the only hash exchange",
      "q_snapshot_diff" -> "snapshot diff: digests projected BEFORE the full-outer key join, so wide rows cross the shuffle once; per-class agg on top",
      "q_agg_kmv_intersect" -> "KMV set-intersection: bottom-k sketches partial-agg'd (<=k hashes/group cross the shuffle), pairwise estimator over broadcast-sized sketch rows",
      "q_window_streaks" -> "gaps-and-islands streaks: distinct to (user, day); ranking window and both roll-ups share ONE user-keyed exchange",
      "q_graph_adamic_adar" -> "Adamic-Adar: checkpointed distinct edge list, codegen pair join with the maxDeg-capped weight side joined pre-expansion, partial agg before the only pair-keyed shuffle, heap top-20",
      "q_stats_bootstrap" -> "Poisson bootstrap: B=40 replicates ride one explode, groups x B partial-agg'd cells, positional CI",
      "q_sample_kcenter" -> "k-center coreset: k distributed passes, broadcast center matrix, fixed-order distance folds",
      "q_ts_rate_limit" -> "token-bucket replay: one user shuffle, packed-BIGINT fold, 8 bytes of state per user",
      "q_graph_modularity" -> "LPA modularity: checkpointed edge list shared by LPA + intra-edge join + degrees, integer sufficient statistics",
      "q_sql_analytics" -> "SQL front-end ranks+ROLLUP: static rank cut lowers to WindowGroupLimit, Expand for the grand total",
      "q_source_quarantine" -> "corrupt-record quarantine: codegen'd JSON parse routes rows in a pure projection; one partial-agg'd rollup, payloads never shuffle",
      "q_seq_pattern" -> "row-pattern matching: ONE user shuffle to the encoded sequence, regexes run once per user post-agg, zero joins",
      "q_ts_decay" -> "recency decay: 1-row max broadcast (BNLJ), exact-integer partial-agg'd user hash-agg — the only exchange",
      "q_sim_knn_graph" -> "exact kNN graph: anchor batch BROADCAST onto one corpus pass (BNLJ), per-anchor top-k window is the only hash exchange",
      "q_text_hashing_trick" -> "feature hashing: explode reduced map-side into (doc, bucket) partials; norm agg + join reuse doc_id partitioning",
      "q_graph_lpa" -> "LPA: per round one edge join + a hash count agg, then the argmax as min(struct(-count,label)) — a SortAggregate behind a Sort at both levels, no rank window",
      "q_embed_kmeans" -> "Lloyd k-means: per iteration one (cluster, dim) partial-agg rollup; k*dim cells shuffle, vectors never do",
      "q_embed_pca_power" -> "PCA power iteration: one (i, j) integer Gram rollup, then 64-row frame math",
      "q_text_bpe_encode" -> "BPE encode: merges learn+apply on the vocab-bounded dict; word->count map broadcast onto the corpus",
      "q_multimodal_video" -> "video decode: container walk + per-frame BMP decode fused in one map stage, media never shuffles")
    val sb = new StringBuilder
    sb.append(s"# PLANS — formatted physical plans ($dir, " +
      s"${spark.sparkContext.master}, AQE initial plans)\n\n")
    sb.append("Generated by `graft.PlanDump`. What to look for: `PushedFilters`/`ReadSchema`\n")
    sb.append("on scans (pushdown + pruning), `BroadcastHashJoin` on dims, `partial_*`\n")
    sb.append("aggregates before every Exchange, `TakeOrderedAndProject` for top-k.\n")
    picks.foreach { case (name, note) =>
      val p = plan(SparkEntry.queries(name)(spark, dir))
      sb.append(s"\n## $name\n\n$note\n\n```\n$p```\n")
    }
    Files.writeString(Paths.get("PLANS.md"), sb.toString)
    println("wrote PLANS.md")
  }
}
