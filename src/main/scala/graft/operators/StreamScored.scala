package graft.operators

import graft.{GraftSession, Norm, QueryModule}
import graft.api.ops.pinLineage
import graft.streaming.Streams
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{OutputMode, Trigger}

/** The streaming wave under the driver's DuckDB oracle (round-1 verdict
  * gap #1): each `s_*` transform from [[graft.streaming.Streams]] runs
  * through the REAL streaming engine — `readStream` file source →
  * `MicroBatchExecution` with `Trigger.AvailableNow` → memory sink —
  * and the drained sink table is post-processed in batch and
  * hash-compared against a deterministic DuckDB twin. This is the same
  * plan a Kafka/Pub/Sub deployment runs; only the source differs.
  *
  * Determinism: AvailableNow over the single-file source processes
  * everything in one micro-batch, so no window is dropped as late and
  * dedup state never expires mid-stream — the streaming result equals
  * the batch-twin aggregate exactly. Complete mode emits the full
  * result table for aggregations; Append mode emits every surviving
  * row for the dedup (exactly-once output is what the oracle checks).
  *
  * Scale notes: state (window × type counts, seen event_ids) is keyed
  * by the shuffle key and partition-local; at production rates the
  * watermark bounds it — these queries carry the same watermarks, the
  * AvailableNow drain just never advances past them.
  */
object StreamScored extends QueryModule {

  /** Drain an unbounded frame with Trigger.AvailableNow into an
    * in-memory sink and hand back the sink table as a batch frame.
    * The memory sink is driver-local — correct here because every
    * drained result is either an aggregate (windows × types) or a
    * bounded test table; production sinks (parquet/Kafka) share the
    * identical plan upstream of the sink.
    */
  /** Shuffle-partition count for the streaming drains. Stateful
    * streaming stages pay a FIXED per-partition state-store cost every
    * micro-batch (provider open + commit + snapshot — and a
    * stream-stream join runs FOUR stores per partition), so the
    * partition count must track STATE VOLUME (keys × bytes), not core
    * count: at this SF, 32 partitions spend more time administering
    * 128 near-empty stores than joining (measured 2.2× on the drained
    * join, 5.5 s → 2.5 s at 8; a further family-wide sweep measured 4
    * below both 8 and 2 — 19.4 s vs 21.0/19.7 — so 4 is the floor for
    * THIS state volume). Size it up with state, not executors — it is
    * baked into the checkpoint at first run, so production re-sizing
    * means a new checkpoint.
    */
  private val streamStateParts = "4"

  /** @param finalize whether the drain still needs NO-DATA
    *   micro-batches after the last data batch. They exist to advance
    *   the watermark with no new input — firing state timeouts/timers,
    *   flushing outer-join null-extended rows, finalizing append-mode
    *   windows. A drain whose every output row is emitted IN the data
    *   batch (Complete-mode aggregates, inner joins, Update-mode
    *   flatMapGroupsWithState with NoTimeout, watermarked dedup)
    *   only pays for them — measured 0.6 s of a 1.9 s inner-join
    *   drain — so those queries pass `finalize = false`. Queries whose
    *   results are watermark-DRIVEN (outer joins, timer-based
    *   transformWithState) must keep the default `true`; getting this
    *   flag wrong is caught by the oracle gate, not silently.
    */
  private def runToTable(out: DataFrame, mode: OutputMode,
                         name: String,
                         finalize: Boolean = true): DataFrame = {
    val spark = out.sparkSession
    // The batch half of every scored query must keep the session's own
    // parallelism, so the drain's conf is scoped to the drain.
    GraftSession.withConf(spark,
      "spark.sql.streaming.noDataMicroBatches.enabled" ->
        finalize.toString,
      "spark.sql.shuffle.partitions" -> streamStateParts) {
      out.writeStream
        .format("memory")
        .queryName(name)
        .outputMode(mode)
        .trigger(Trigger.AvailableNow())
        .option("checkpointLocation", Scans.tmpPath(spark, s"$name-ckpt"))
        .start()
        .awaitTermination()
    }
    spark.table(name)
  }

  /** Drain an Append-mode unbounded frame into a PARQUET file sink
    * and read the result back through the sink's own `_spark_metadata`
    * commit log. For drains whose output is O(data) — stream-stream
    * join matches, per-row dedup survivors — the memory sink would
    * make the DRIVER's footprint O(result); the file sink keeps every
    * executor writing its own partition files and the driver holding
    * only file metadata, which is the production shape. The sink's
    * transaction log is also what makes the read-back exactly-once:
    * only files recorded by a committed batch are visible.
    *
    * Sink and checkpoint are named after the drain in the query's
    * scratch dir, so a second drain under the same name RESUMES the
    * first (the crash-resume path q_stream_resume scores).
    */
  private def runToParquet(out: DataFrame, name: String,
                           finalize: Boolean = true): DataFrame = {
    val spark = out.sparkSession
    val sinkPath = Scans.tmpPath(spark, s"$name-sink")
    GraftSession.withConf(spark,
      "spark.sql.streaming.noDataMicroBatches.enabled" ->
        finalize.toString,
      "spark.sql.shuffle.partitions" -> streamStateParts) {
      out.writeStream
        .format("parquet")
        .queryName(name)
        .outputMode(OutputMode.Append())
        .option("path", sinkPath)
        .option("checkpointLocation", Scans.tmpPath(spark, s"$name-ckpt"))
        .trigger(Trigger.AvailableNow())
        .start()
        .awaitTermination()
    }
    spark.read.parquet(sinkPath)
  }

  /** The reference pipeline end-to-end on the streaming engine
    * (§2.A A1–A6): stream events → JSON-encode + AES-encrypt + sign +
    * wrap DEK (publisher) → unwrap + decrypt + HMAC-verify + parse
    * (consumer) → watermarked 1 h windowed count → sink. The oracle is
    * the roundtrip trick: every message verifies, so the count per
    * window equals the plain batch count over `events`.
    */
  val streamDecrypt: Q = (spark, dir) => {
    val dek = "0123456789abcdef".getBytes("UTF-8")
    val kek = "kek-graft-000001".getBytes("UTF-8")
    val src = Streams.eventsFileStream(spark, dir)
      .select(col("event_id").as("id"), col("ts"),
        col("event_type"), col("value"))
    val messages = Streams.encryptMessages(src, dek, kek)
    val counts = Streams.decryptPipeline(messages, kek,
      "id LONG, event_type STRING")
    // The fused publish→consume stage (to_json + seal + unwrap +
    // decrypt + HMAC verify + parse) generates a method so large that
    // whole-stage codegen COSTS time instead of saving it — measured
    // 1.16 s with codegen vs 0.71 s interpreted on the batch twin at
    // sf0.1 (the generated mega-method re-compiles per execution and
    // blows past JIT limits; the marginal per-row cost is only
    // ~0.8 µs either way). Interpreted expression eval is the honest
    // winner for this one plan; every other query keeps codegen.
    val drained = GraftSession.withConf(spark,
        "spark.sql.codegen.wholeStage" -> "false") {
      runToTable(counts, OutputMode.Complete(), "graft_stream_decrypt",
        finalize = false)
    }
    drained
      .select(Norm.tstr(col("wstart")).as("wstart"), col("n_messages"))
      .orderBy("wstart")
  }

  /** s_watermark_late scored: watermarked tumbling counts through the
    * streaming engine; the single-batch drain drops nothing, so the
    * result equals the q_window_tumbling batch twin.
    */
  val streamWatermark: Q = (spark, dir) => {
    val counts =
      Streams.watermarkedCounts(Streams.eventsFileStream(spark, dir))
    runToTable(counts, OutputMode.Complete(), "graft_stream_watermark",
      finalize = false)
      .select(Norm.tstr(col("wstart")).as("wstart"), col("event_type"),
        col("n"), (col("sum_value").cast("double") / lit(100.0))
          .as("sum_value"))
      .orderBy("wstart", "event_type")
  }

  /** s_dedup_stream scored: the stream unioned with a full replay of
    * itself (every event_id arrives exactly twice) through
    * `dropDuplicatesWithinWatermark` — the oracle checks exactly-once
    * output: per type, surviving rows == distinct event_ids, which
    * fails both if dedup drops too little (2× counts) or too much.
    */
  val streamDedup: Q = (spark, dir) => {
    val once = Streams.eventsFileStream(spark, dir)
    val replay = Streams.eventsFileStream(spark, dir)
    // Survivors are O(data): parquet sink (executors write, driver
    // holds metadata only); projected to the two columns the
    // exactly-once check needs before the sink either way.
    val deduped = Streams.streamingDedup(once.unionByName(replay))
      .select("event_id", "event_type")
    runToParquet(deduped, "graft_stream_dedup", finalize = false)
      .groupBy("event_type")
      .agg(count(lit(1)).as("n_events"),
        countDistinct(col("event_id")).as("n_ids"))
      .orderBy("event_type")
  }

  /** s_stream_join scored: watermarked stream-stream click→purchase
    * attribution join through the streaming engine, matched pairs
    * drained (append — joins emit matches as they form) and summarized
    * in batch. Single-batch drain ⇒ result equals the batch join twin.
    */
  val streamJoin: Q = (spark, dir) => {
    val joined = Streams.clickPurchaseJoin(
      Streams.eventsFileStream(spark, dir),
      Streams.eventsFileStream(spark, dir))
      .select("click_id", "purchase_id", "c_user")
    // O(data) matched pairs: parquet sink, so the driver never holds
    // the match stream — only the post-sink aggregate is small
    runToParquet(joined, "graft_stream_join", finalize = false)
      .agg(count(lit(1)).as("n_pairs"),
        countDistinct(col("click_id")).as("n_clicks_matched"),
        countDistinct(col("c_user")).as("n_users"))
  }

  /** Stream-stream LEFT OUTER join scored: unconverted clicks emerge
    * as null-extended rows driven by the WATERMARK (only once no
    * qualifying purchase can still arrive), the genuinely hard part
    * of streaming outer joins. The drain relies on the engine's final
    * no-data micro-batch to advance the watermark past the last
    * click's expiry and flush the outer rows; the cutoff (clicks
    * before Jan 28, timeline ends Jan 30) guarantees every kept
    * click's state provably expires before termination, so the result
    * equals the batch left-join twin exactly.
    *
    * `multipleWatermarkPolicy=max`: the global watermark defaults to
    * the MIN across inputs, and the click side's max event time is
    * capped by its own cutoff filter — under `min`, every click in
    * the last hour before the cutoff would sit in state forever
    * (verified: 6 rows short). `min` is the safe default when inputs
    * have independent clocks (a slow stream may still deliver
    * matches); here both sides replay the SAME event log, so the
    * faster side's clock is authoritative and `max` is exact, not a
    * relaxation.
    */
  val streamJoinLeft: Q = (spark, dir) => {
    spark.conf.set("spark.sql.streaming.multipleWatermarkPolicy", "max")
    val joined = Streams.clickPurchaseLeftJoin(
      Streams.eventsFileStream(spark, dir),
      Streams.eventsFileStream(spark, dir),
      cutoff = "2024-01-28 00:00:00")
      .select("click_id", "purchase_id", "c_user")
    runToParquet(joined, "graft_stream_join_left")
      .agg(count(lit(1)).as("n_rows"),
        count(col("purchase_id")).as("n_matched"),
        sum(when(col("purchase_id").isNull, 1L).otherwise(0L))
          .as("n_unmatched"),
        countDistinct(col("c_user")).as("n_users"))
  }

  /** Shared body of the two stateful-counter scored queries: feed the
    * events stream with `value` pre-folded to integer cents
    * (floor(v*100+0.5) — integers sum exactly and order-independently
    * in IEEE doubles, so the arrival-order double fold inside the
    * state handler cannot diverge from the oracle's own sum order),
    * drain Update-mode running counters, and keep each user's FINAL
    * row (`max_by` on n_events — Update mode re-emits a user's row
    * every micro-batch it changes, so this post-aggregation makes the
    * result independent of how AvailableNow batched the drain).
    */
  private def drainUserCounts(counts: DataFrame,
                              name: String): DataFrame =
    runToTable(counts, OutputMode.Update(), name, finalize = false)
      .groupBy("user_id")
      .agg(max(col("n_events")).as("n_events"),
        max_by(col("sum_value"), col("n_events")).as("cents"))
      .select(col("user_id"), col("n_events"),
        col("cents").cast("long").as("sum_cents"))
      .orderBy("user_id")

  private def eventsInCents(spark: org.apache.spark.sql.SparkSession,
                            dir: String): DataFrame =
    Streams.eventsFileStream(spark, dir)
      .withColumn("value", floor(col("value") * 100 + lit(0.5)))

  /** s_stateful_count scored (round-3 verdict ask #1): running
    * per-user counters via flatMapGroupsWithState through the real
    * streaming engine, under the driver's batch-aggregate oracle.
    */
  val streamStateful: Q = (spark, dir) =>
    drainUserCounts(Streams.statefulUserCounts(eventsInCents(spark, dir)),
      "graft_stream_stateful")

  /** Same counters on Spark 4's `transformWithState` (RocksDB state
    * store). The provider flip is scoped by
    * [[Streams.withRocksDbStateStore]] so later streaming queries in
    * the session are unaffected.
    */
  val streamStatefulTws: Q = (spark, dir) =>
    Streams.withRocksDbStateStore(spark) {
      drainUserCounts(
        Streams.statefulUserCountsTws(eventsInCents(spark, dir)),
        "graft_stream_stateful_tws")
    }

  /** Event-time TIMER sessionization scored (see
    * [[Streams.sessionTimeouts]] / SessionTimeoutProcessor): the
    * transformWithState timer surface — register a close timer at
    * lastActivity + 30 min, re-arm on activity, emit-once + evict when
    * the watermark crosses it — through the real engine and under the
    * DuckDB oracle. The AvailableNow drain delivers all events in one
    * data batch (so each user's state holds its full event count), and
    * the FINAL NO-DATA BATCHES advance the watermark to the global max
    * event time, firing exactly the timers whose deadline lies at or
    * before it: a user's session closes iff lastTs + 30 min ≤ max(ts).
    * The post-drain reduction keeps each user's final view; `closed`
    * is therefore a pure function of the data the oracle recomputes.
    * `finalize = true` is load-bearing — without no-data batches no
    * timer ever fires.
    */
  val streamSessionTimeout: Q = (spark, dir) => {
    val out = Streams.withRocksDbStateStore(spark) {
      runToTable(
        Streams.sessionTimeouts(Streams.eventsFileStream(spark, dir)),
        OutputMode.Append(), "graft_stream_session_timeout")
    }
    out.groupBy("user_id")
      .agg(max(col("n_events")).as("n_events"),
        max(col("closed")).as("closed"))
      .orderBy("user_id")
  }

  /** Streaming CEP scored: the per-user conversion/error-burst counts
    * from [[Streams.patternAutomaton]]'s incremental DFA, drained and
    * checked against the SAME DuckDB regex oracle as the batch
    * q_seq_pattern — a cross-formulation proof (stateful automaton ==
    * backtracking regex) through the real streaming engine.
    */
  val streamPattern: Q = (spark, dir) => {
    val out = Streams.patternAutomaton(Streams.eventsFileStream(spark, dir))
    runToTable(out, OutputMode.Update(), "graft_stream_pattern",
      finalize = false)
      .groupBy("user_id")
      .agg(max(col("n_events")).as("n_events"),
        max_by(col("n_conversions"), col("n_events")).as("n_conversions"),
        max_by(col("n_error_bursts"), col("n_events")).as("n_error_bursts"))
      .orderBy("user_id")
  }

  /** FULL OUTER stream-stream join scored (see
    * [[Streams.clickPurchaseFullJoin]] for the watermark-before-filter
    * structure): the drained result must equal the batch FULL JOIN
    * over the same cutoff windows — matches, click-only, and
    * purchase-only rows all flushed by the final watermark.
    */
  val streamJoinFull: Q = (spark, dir) => {
    val joined = Streams.clickPurchaseFullJoin(
      Streams.eventsFileStream(spark, dir),
      Streams.eventsFileStream(spark, dir),
      cutoff = "2024-01-28 00:00:00")
      .select("click_id", "purchase_id", "c_user", "p_user")
    runToParquet(joined, "graft_stream_join_full")
      .agg(count(lit(1)).as("n_rows"),
        count(when(col("click_id").isNotNull &&
          col("purchase_id").isNotNull, 1)).as("n_matched"),
        sum(when(col("purchase_id").isNull, 1L).otherwise(0L))
          .as("n_click_only"),
        sum(when(col("click_id").isNull, 1L).otherwise(0L))
          .as("n_purchase_only"),
        countDistinct(coalesce(col("c_user"), col("p_user")))
          .as("n_users"))
  }

  /** Streaming session windows scored: the window-MERGING stateful
    * operator (a session's extent is data-dependent) through the real
    * engine. Complete mode emits the full merged-session state at the
    * drain (the engine rejects Update for session-window aggregations,
    * and Append would strand every session the final watermark can't
    * finalize — those in the last gap+delay of the timeline), so the
    * result equals the batch `q_session_window` twin. The post-drain
    * max-per-(user, start) aggregation additionally makes the result
    * insensitive to a multi-batch drain re-emitting a growing session
    * (same discipline as drainUserCounts). Sums in integer cents: the
    * state handler folds in arrival order, integers make that
    * order-invariant.
    */
  val streamSession: Q = (spark, dir) => {
    val sessions = Streams.sessionizedCounts(eventsInCents(spark, dir))
    runToTable(sessions, OutputMode.Complete(), "graft_stream_session",
      finalize = false)
      .groupBy("user_id", "session_start")
      .agg(max(col("session_end")).as("session_end"),
        max(col("n_events")).as("n_events"),
        max_by(col("sum_value"), col("n_events")).cast("long")
          .as("sum_cents"))
      .select(col("user_id"),
        Norm.tstr(col("session_start")).as("session_start"),
        Norm.tstr(col("session_end")).as("session_end"),
        col("n_events"), col("sum_cents"))
      .orderBy("user_id", "session_start")
  }

  /** Stream-static enrichment scored: events stream ⋈ nation dim
    * (broadcast, stateless) → per-nation totals, drained Complete.
    * Sums in integer cents (arrival-order-proof, as everywhere).
    */
  val streamEnrich: Q = (spark, dir) => {
    val dim = graft.Tables(spark, dir, "nation")
      .select(col("n_nationkey"), col("n_name"))
    val enriched = Streams.enrichEvents(eventsInCents(spark, dir), dim)
      .groupBy("n_name")
      .agg(count(lit(1)).as("n_events"),
        sum(col("value").cast("long")).as("sum_cents"))
    runToTable(enriched, OutputMode.Complete(), "graft_stream_enrich",
      finalize = false)
      .orderBy("n_name")
  }

  /** Streaming top-k: the watermarked windowed counts drained in
    * Complete mode, then ranked top-2 event types per window in batch
    * over the (windows × types)-sized sink table — the standard
    * "trending items per window" dashboard shape. The rank runs where
    * it belongs: post-sink over the bounded aggregate (state stores
    * can't maintain a global rank; re-ranking the small Complete-mode
    * output each trigger is the production pattern too).
    */
  val streamTopk: Q = (spark, dir) => {
    val counts =
      Streams.watermarkedCounts(Streams.eventsFileStream(spark, dir))
    val t = runToTable(counts, OutputMode.Complete(), "graft_stream_topk",
      finalize = false)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("wstart").orderBy(col("n").desc, col("event_type"))
    t.withColumn("rk", row_number().over(w))
      .filter(col("rk") <= 2)
      .select(Norm.tstr(col("wstart")).as("wstart"), col("event_type"),
        col("n"), col("rk"))
      .orderBy("wstart", "rk")
  }

  /** CDC-apply, scored: a streaming change feed (purchase events)
    * folded into a batch base snapshot (per-user click totals) by
    * per-batch `mergeUpsert` inside `foreachBatch` — what Delta's
    * streaming MERGE runs under the hood, here on plain frames.
    * Matched users take the change value, untouched users survive,
    * change-only users insert. AvailableNow over the single-file
    * source is one batch, so the drained snapshot is deterministic;
    * the per-batch `max` reduction enforces mergeUpsert's unique-key
    * precondition batch-locally (the production requirement too).
    * StreamingSpec drives the genuinely multi-batch version.
    */
  val streamCdcApply: Q = (spark, dir) => {
    import graft.api.ops._
    var snapshot = pinLineage(graft.Tables(spark, dir, "events")
      .filter(col("event_type") === "click")
      .groupBy("user_id").agg((count(lit(1)) * 10).as("cents")))
    val changes = Streams.eventsFileStream(spark, dir)
      .filter(col("event_type") === "purchase")
      .select(col("user_id"),
        floor(col("value") * 100 + 0.5).cast("long").as("cents"))
    GraftSession.withConf(spark,
      "spark.sql.shuffle.partitions" -> streamStateParts) {
      val q = changes.writeStream.outputMode("append")
        .trigger(Trigger.AvailableNow())
        .option("checkpointLocation",
          Scans.tmpPath(spark, "graft_stream_cdc-ckpt"))
        .foreachBatch { (batch: DataFrame, _: Long) =>
          val perKey = batch.groupBy("user_id")
            .agg(max("cents").as("cents"))
          snapshot = pinLineage(snapshot.mergeUpsert(perKey, "user_id"))
          ()
        }
        .start()
      q.awaitTermination()
    }
    snapshot.orderBy("user_id")
  }

  /** Streaming z-score anomaly detection scored (see
    * [[Streams.anomalyZScores]]): each flagged event is final when
    * emitted (its score depends only on its predecessors), so the
    * query drains in Append mode and the result must hash-match the
    * batch prior-window oracle exactly.
    */
  val streamAnomaly: Q = (spark, dir) => {
    // flagged rows are data-proportional in the worst case (every
    // event an outlier) — parquet sink, same O(result)-off-the-driver
    // discipline as the joins
    val out = Streams.anomalyZScores(Streams.eventsFileStream(spark, dir))
    runToParquet(out, "graft_stream_anomaly", finalize = false)
      .select(col("event_id"), col("user_id"), col("cents"),
        Norm.r4(col("z")).as("z"))
      .orderBy("event_id")
  }

  /** Online Holt smoothing scored (see [[Streams.holtSmoothing]]):
    * the drained Update-mode emissions, reduced to each type's LAST
    * view, must equal batch `q_ts_holt`'s recursive-CTE oracle
    * bit-for-bit — the incremental hour-bucketing fold and the batch
    * array fold are two formulations of the same exact-dyadic
    * recurrence, proven equal through the real streaming engine.
    * The last-emission pick keys on `n_events` (the cumulative event
    * count — STRICTLY increasing per emission), not `n_hours`: a
    * micro-batch whose rows all land inside the still-open hour
    * re-emits the same n_hours with a different level/trend, so a
    * multi-batch drain tie-broken on n_hours could keep the stale
    * emission.
    */
  val streamHolt: Q = (spark, dir) => {
    val out = Streams.holtSmoothing(Streams.eventsFileStream(spark, dir))
    runToTable(out, OutputMode.Update(), "graft_stream_holt",
      finalize = false)
      .groupBy("event_type")
      .agg(max(col("n_hours")).as("n_hours"),
        max_by(col("level"), col("n_events")).as("lv"),
        max_by(col("trend"), col("n_events")).as("tr"))
      .select(col("event_type"), col("n_hours"),
        Norm.r4tie(col("lv")).as("level"),
        Norm.r4dn(col("tr")).as("trend"),
        Norm.r4dn(col("lv") + col("tr")).as("forecast_next"))
      .orderBy("event_type")
  }

  /** Online token-bucket enforcement scored (see
    * [[Streams.rateLimitAudit]]): the drained per-user counters must
    * equal batch `q_ts_rate_limit`'s packed-BIGINT fold exactly —
    * all-integer state, same admission sequence, shared oracle.
    */
  val streamRateLimit: Q = (spark, dir) => {
    val out = Streams.rateLimitAudit(Streams.eventsFileStream(spark, dir))
    runToTable(out, OutputMode.Update(), "graft_stream_rate_limit",
      finalize = false)
      .groupBy("user_id")
      .agg(max(col("n_events")).as("n_events"),
        max_by(col("n_allowed"), col("n_events")).as("n_allowed"))
      .select(col("user_id"), col("n_events"), col("n_allowed"),
        (col("n_events") - col("n_allowed")).as("n_denied"),
        Norm.r4tie(col("n_allowed").cast("double")
          / col("n_events").cast("double")).as("allow_rate"))
      .orderBy("user_id")
  }

  /** Exactly-once across a REAL restart, scored: the stream stops
    * after batch 1 (query terminates — a crash, as far as the engine
    * knows), new data lands INCLUDING a full replay of batch 1, and a
    * second query resumes from the SAME durable checkpoint into the
    * SAME parquet sink. The union of the two drains' output must
    * equal one exactly-once pass:
    *
    *  - if the SOURCE offsets didn't resume, drain 2 re-reads batch
    *    1's file → its rows double (the sink's commit log would also
    *    have to be ignored);
    *  - if the DEDUP STATE didn't resume, batch 2's replay of batch
    *    1's event_ids passes through → those rows double;
    *  - only offsets + state + sink log all restored yields
    *    n_rows == n_ids == the batch twin, which is what the oracle
    *    hashes.
    *
    * Both drains share one checkpoint and one sink (resume is the
    * entire point), and the parquet sink's `_spark_metadata` log is
    * what makes the cross-restart union exactly-once on the OUTPUT
    * side: a file written by an uncommitted batch is invisible to the
    * read-back. `dropDuplicates` (no watermark) keeps seen-id state
    * forever, so the replay suppression is a pure state-resume test
    * with no expiry edge. StreamingSpec's unit twin drives the same
    * path with hand-built batches.
    */
  val streamResume: Q = (spark, dir) => {
    val in = Scans.tmpPath(spark, "stream_resume_in")
    val events = graft.Tables(spark, dir, "events")
      .select(col("event_id"), col("event_type"))
    // single-file landings with deterministic names: the file source
    // processes b1 in drain 1 and must skip it (offset log) in drain 2
    def land(df: DataFrame, name: String): Unit = {
      val scratch = Scans.tmpPath(spark, s"stream_resume_scratch_$name")
      df.coalesce(1).write.mode("overwrite").parquet(scratch)
      val part = new java.io.File(scratch).listFiles()
        .filter(_.getName.endsWith(".parquet")).head
      new java.io.File(in).mkdirs()
      java.nio.file.Files.move(part.toPath,
        java.nio.file.Paths.get(in, s"$name.parquet"))
      ()
    }
    def drain() = runToParquet(
      spark.readStream.schema(events.schema).parquet(in)
        .dropDuplicates("event_id"),
      "graft_stream_resume", finalize = false)
    land(events.filter(col("event_id") % 2 === 0), "b1")
    drain() // terminates — the "crash"
    // batch 2: the new half PLUS a full replay of batch 1's rows
    land(events.filter(col("event_id") % 2 =!= 0)
      .unionByName(events.filter(col("event_id") % 2 === 0)), "b2")
    drain() // resumes: same name, so same checkpoint and sink
      .groupBy("event_type")
      .agg(count(lit(1)).as("n_rows"),
        countDistinct(col("event_id")).as("n_ids"))
      .orderBy("event_type")
  }

  val queries: Map[String, Q] = Map(
    "q_stream_resume" -> streamResume,
    "q_stream_rate_limit" -> streamRateLimit,
    "q_stream_holt" -> streamHolt,
    "q_stream_anomaly" -> streamAnomaly,
    "q_stream_cdc" -> streamCdcApply,
    "q_stream_topk" -> streamTopk,
    "q_stream_enrich" -> streamEnrich,
    "q_stream_session" -> streamSession,
    "q_stream_decrypt" -> streamDecrypt,
    "q_stream_watermark" -> streamWatermark,
    "q_stream_dedup" -> streamDedup,
    "q_stream_join" -> streamJoin,
    "q_stream_join_left" -> streamJoinLeft,
    "q_stream_join_full" -> streamJoinFull,
    "q_stream_stateful" -> streamStateful,
    "q_stream_stateful_tws" -> streamStatefulTws,
    "q_stream_session_timeout" -> streamSessionTimeout,
    "q_stream_pattern" -> streamPattern,
  )

  val oracle: Map[String, String] = Map(
    "q_stream_resume" -> """
      SELECT event_type, count(*) AS n_rows,
             count(DISTINCT event_id) AS n_ids
      FROM events GROUP BY event_type ORDER BY event_type""",
    "q_stream_session_timeout" -> """
      WITH u AS (
        SELECT user_id, count(*) AS n_events, max(ts) AS last_ts
        FROM events GROUP BY user_id),
      w AS (SELECT max(ts) AS wm FROM events)
      SELECT user_id, n_events,
             (last_ts + INTERVAL 30 MINUTE) <= wm AS closed
      FROM u CROSS JOIN w ORDER BY user_id""",
    "q_stream_rate_limit" -> """
      WITH gaps AS (
        SELECT user_id, ts, event_id,
               coalesce(epoch_us(ts) - lag(epoch_us(ts), 1)
                 OVER (PARTITION BY user_id ORDER BY ts, event_id),
                 0) AS dt
        FROM events),
      folded AS (
        SELECT user_id, count(*) AS n_events,
               list_reduce(
                 list_prepend(CAST(18000000000 * 67108864 AS BIGINT),
                   list(CAST(dt AS BIGINT) ORDER BY ts, event_id)),
                 (a, x) -> CASE
                   WHEN least(18000000000, a // 67108864 + x)
                        >= 3600000000
                   THEN (least(18000000000, a // 67108864 + x)
                         - 3600000000) * 67108864 + a % 67108864 + 1
                   ELSE least(18000000000, a // 67108864 + x) * 67108864
                        + a % 67108864 END) AS acc
        FROM gaps GROUP BY user_id)
      SELECT user_id, n_events,
             CAST(acc % 67108864 AS BIGINT) AS n_allowed,
             CAST(n_events - acc % 67108864 AS BIGINT) AS n_denied,
             floor(CAST(acc % 67108864 AS DOUBLE)
                   / CAST(n_events AS DOUBLE) * 10000 + 0.5) / 10000
               AS allow_rate
      FROM folded ORDER BY user_id""",
    "q_stream_holt" -> """
      WITH RECURSIVE hourly AS (
        SELECT event_type, date_trunc('hour', ts) AS hr,
               CAST(count(*) AS DOUBLE) AS x
        FROM events GROUP BY 1, 2),
      seq AS (
        SELECT event_type, x,
               row_number() OVER (PARTITION BY event_type
                                  ORDER BY hr) AS t,
               count(*) OVER (PARTITION BY event_type) AS n
        FROM hourly),
      holt AS (
        SELECT event_type, t, n, x AS l, CAST(0.0 AS DOUBLE) AS b
        FROM seq WHERE t = 1
        UNION ALL
        SELECT s.event_type, s.t, s.n,
               CAST(0.5 AS DOUBLE) * s.x
                 + CAST(0.5 AS DOUBLE) * (h.l + h.b),
               CAST(0.5 AS DOUBLE)
                 * ((CAST(0.5 AS DOUBLE) * s.x
                     + CAST(0.5 AS DOUBLE) * (h.l + h.b)) - h.l)
                 + CAST(0.5 AS DOUBLE) * h.b
        FROM holt h
        JOIN seq s ON s.event_type = h.event_type AND s.t = h.t + 1)
      SELECT event_type, n AS n_hours,
             floor(l * 10000 + 0.5) / 10000 AS level,
             floor(b * 10000) / 10000 AS trend,
             floor((l + b) * 10000) / 10000 AS forecast_next
      FROM holt WHERE t = n ORDER BY event_type""",
    "q_stream_anomaly" -> """
      WITH c AS (
        SELECT event_id, user_id, ts,
               CAST(floor(value * 100 + 0.5) AS BIGINT) AS x
        FROM events),
      w AS (
        SELECT event_id, user_id, x,
               count(*) OVER win AS n,
               sum(x) OVER win AS s1,
               sum(x * x) OVER win AS s2
        FROM c
        WINDOW win AS (PARTITION BY user_id ORDER BY ts, event_id
                       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING))
      SELECT event_id, user_id, x AS cents,
             round(CAST(n * x - s1 AS DOUBLE) /
                   sqrt(CAST(n * s2 - s1 * s1 AS DOUBLE)), 4) AS z
      FROM w
      WHERE n >= 10 AND n * s2 - s1 * s1 > 0
        AND abs(CAST(n * x - s1 AS DOUBLE) /
                sqrt(CAST(n * s2 - s1 * s1 AS DOUBLE))) > 3
      ORDER BY event_id""",
    "q_stream_pattern" -> """
      WITH c AS (
        SELECT user_id, ts, event_id,
               CASE event_type WHEN 'signup' THEN 's' WHEN 'click' THEN 'c'
                    WHEN 'view' THEN 'v' WHEN 'purchase' THEN 'p'
                    ELSE 'e' END AS code
        FROM events),
      s AS (
        SELECT user_id, string_agg(code, '' ORDER BY ts, event_id) AS seq
        FROM c GROUP BY user_id)
      SELECT user_id,
             CAST(length(seq) AS BIGINT) AS n_events,
             CAST(len(regexp_extract_all(seq, 's[cv]*p')) AS BIGINT)
               AS n_conversions,
             CAST(len(regexp_extract_all(seq, 'e+')) AS BIGINT)
               AS n_error_bursts
      FROM s ORDER BY user_id""",
    "q_stream_cdc" -> """
      WITH base AS (
        SELECT user_id, count(*) * 10 AS cents
        FROM events WHERE event_type = 'click' GROUP BY user_id),
      chg AS (
        SELECT user_id,
               max(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS cents
        FROM events WHERE event_type = 'purchase' GROUP BY user_id)
      SELECT coalesce(b.user_id, c.user_id) AS user_id,
             CASE WHEN c.user_id IS NOT NULL THEN c.cents
                  ELSE b.cents END AS cents
      FROM base b FULL OUTER JOIN chg c ON b.user_id = c.user_id
      ORDER BY user_id""",
    "q_stream_topk" -> """
      WITH c AS (
        SELECT strftime(time_bucket(INTERVAL 1 HOUR, ts),
                 '%Y-%m-%d %H:%M:%S') AS wstart,
               event_type, count(*) AS n
        FROM events
        GROUP BY 1, 2),
      r AS (
        SELECT wstart, event_type, n,
               row_number() OVER (
                 PARTITION BY wstart
                 ORDER BY n DESC, event_type ASC) AS rk
        FROM c)
      SELECT wstart, event_type, n, rk
      FROM r WHERE rk <= 2
      ORDER BY wstart, rk""",
    "q_stream_enrich" -> """
      SELECT n_name, count(*) AS n_events,
             CAST(sum(CAST(floor(value * 100 + 0.5) AS BIGINT))
               AS BIGINT) AS sum_cents
      FROM events
      JOIN nation ON n_nationkey = user_id % 25
      GROUP BY n_name
      ORDER BY n_name""",
    "q_stream_session" -> """
      WITH marked AS (
        SELECT user_id, ts,
               CAST(floor(value * 100 + 0.5) AS BIGINT) AS cents,
               CASE WHEN lag(ts) OVER w IS NULL
                      OR ts - lag(ts) OVER w >= INTERVAL 30 MINUTE
                    THEN 1 ELSE 0 END AS new_session
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts)
      ), numbered AS (
        SELECT *, sum(new_session) OVER (
          PARTITION BY user_id ORDER BY ts
          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
        FROM marked
      )
      SELECT user_id,
             strftime(min(ts), '%Y-%m-%d %H:%M:%S') AS session_start,
             strftime(max(ts) + INTERVAL 30 MINUTE, '%Y-%m-%d %H:%M:%S')
               AS session_end,
             count(*) AS n_events,
             CAST(sum(cents) AS BIGINT) AS sum_cents
      FROM numbered
      GROUP BY user_id, sid
      ORDER BY user_id, session_start""",
    "q_stream_decrypt" -> """
      SELECT strftime(time_bucket(INTERVAL 1 HOUR, ts),
               '%Y-%m-%d %H:%M:%S') AS wstart,
             count(*) AS n_messages
      FROM events
      GROUP BY 1
      ORDER BY wstart""",
    "q_stream_watermark" -> """
      SELECT strftime(time_bucket(INTERVAL 1 HOUR, ts),
               '%Y-%m-%d %H:%M:%S') AS wstart,
             event_type, count(*) AS n,
             CAST(sum(CAST(floor(value * 100 + 0.5) AS BIGINT))
               AS DOUBLE) / 100.0 AS sum_value
      FROM events
      GROUP BY 1, 2
      ORDER BY wstart, event_type""",
    "q_stream_dedup" -> """
      SELECT event_type, count(*) AS n_events,
             count(DISTINCT event_id) AS n_ids
      FROM events
      GROUP BY event_type
      ORDER BY event_type""",
    "q_stream_stateful" -> """
      SELECT user_id, count(*) AS n_events,
             CAST(sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS BIGINT)
               AS sum_cents
      FROM events
      GROUP BY user_id
      ORDER BY user_id""",
    "q_stream_stateful_tws" -> """
      SELECT user_id, count(*) AS n_events,
             CAST(sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS BIGINT)
               AS sum_cents
      FROM events
      GROUP BY user_id
      ORDER BY user_id""",
    "q_stream_join" -> """
      WITH c AS (SELECT user_id, ts, event_id FROM events
                 WHERE event_type = 'click'),
      p AS (SELECT user_id, ts, event_id FROM events
            WHERE event_type = 'purchase')
      SELECT count(*) AS n_pairs,
             count(DISTINCT c.event_id) AS n_clicks_matched,
             count(DISTINCT c.user_id) AS n_users
      FROM c JOIN p
        ON c.user_id = p.user_id
       AND (epoch_ns(p.ts) // 1000) >= (epoch_ns(c.ts) // 1000)
       AND (epoch_ns(p.ts) // 1000) <=
           (epoch_ns(c.ts) // 1000) + 3600000000""",
    "q_stream_join_full" -> """
      WITH c AS (SELECT user_id, ts, event_id FROM events
                 WHERE event_type = 'click'
                   AND ts < TIMESTAMP '2024-01-28 00:00:00'),
      p AS (SELECT user_id, ts, event_id FROM events
            WHERE event_type = 'purchase'
              AND ts < TIMESTAMP '2024-01-28 00:00:00')
      SELECT count(*) AS n_rows,
             count(CASE WHEN c.event_id IS NOT NULL
                         AND p.event_id IS NOT NULL THEN 1 END)
               AS n_matched,
             CAST(sum(CASE WHEN p.event_id IS NULL THEN 1 ELSE 0 END)
               AS BIGINT) AS n_click_only,
             CAST(sum(CASE WHEN c.event_id IS NULL THEN 1 ELSE 0 END)
               AS BIGINT) AS n_purchase_only,
             count(DISTINCT coalesce(c.user_id, p.user_id)) AS n_users
      FROM c FULL JOIN p
        ON c.user_id = p.user_id
       AND (epoch_ns(p.ts) // 1000) >= (epoch_ns(c.ts) // 1000)
       AND (epoch_ns(p.ts) // 1000) <=
           (epoch_ns(c.ts) // 1000) + 3600000000""",
    "q_stream_join_left" -> """
      WITH c AS (SELECT user_id, ts, event_id FROM events
                 WHERE event_type = 'click'
                   AND ts < TIMESTAMP '2024-01-28 00:00:00'),
      p AS (SELECT user_id, ts, event_id FROM events
            WHERE event_type = 'purchase')
      SELECT count(*) AS n_rows,
             count(p.event_id) AS n_matched,
             CAST(sum(CASE WHEN p.event_id IS NULL THEN 1 ELSE 0 END)
               AS BIGINT) AS n_unmatched,
             count(DISTINCT c.user_id) AS n_users
      FROM c LEFT JOIN p
        ON c.user_id = p.user_id
       AND (epoch_ns(p.ts) // 1000) >= (epoch_ns(c.ts) // 1000)
       AND (epoch_ns(p.ts) // 1000) <=
           (epoch_ns(c.ts) // 1000) + 3600000000""",
  )
}
