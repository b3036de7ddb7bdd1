package graft.streaming

import graft.functions.GraftFunctions._
import org.apache.spark.sql.{DataFrame, Encoders, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{ExpiredTimerInfo, GroupState,
  GroupStateTimeout, OutputMode, StatefulProcessor, TTLConfig, TimeMode,
  TimerValues, ValueState}
import org.apache.spark.sql.types._

/** Running per-user counters carried across micro-batches. */
case class UserAggState(nEvents: Long, sumValue: Double)

/** The same running counters on Spark 4's arbitrary-state API
  * (`transformWithState`): named `ValueState` with optional TTL,
  * timers, and a state-store schema of its own — the successor to
  * `flatMapGroupsWithState`. Requires the RocksDB state-store
  * provider — start the query inside
  * [[Streams.withRocksDbStateStore]].
  */
class UserCountsProcessor
    extends StatefulProcessor[Long, (Long, Double), (Long, Long, Double)] {
  @transient private var state: ValueState[UserAggState] = _

  override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
    state = getHandle.getValueState[UserAggState]("agg",
      Encoders.product[UserAggState], TTLConfig.NONE)

  override def handleInputRows(key: Long, rows: Iterator[(Long, Double)],
                               timerValues: TimerValues)
      : Iterator[(Long, Long, Double)] = {
    val prev = if (state.exists()) state.get() else UserAggState(0L, 0.0)
    var n = prev.nEvents
    var s = prev.sumValue
    rows.foreach { r => n += 1; s += r._2 }
    state.update(UserAggState(n, s))
    Iterator((key, n, s))
  }
}

/** CEP automaton state carried across micro-batches: live
  * signup-attempt flag, in-error-run flag, and the three counters.
  */
case class PatternState(inSignup: Boolean, lastWasError: Boolean,
                        nEvents: Long, nConv: Long, nBursts: Long)

/** Per-user prior-window sufficient statistics for streaming z-score
  * anomaly detection: count, Σcents, Σcents² — all exact integers so
  * the fold is order-invariant within a timestamp tie and the score is
  * reproducible against the batch window oracle.
  */
case class ZState(n: Long, s1: Long, s2: Long)

/** Token-bucket state: last event time (µs), remaining tokens (µs of
  * refill credit), and the running event/admitted counters. */
case class BucketState(lastTs: Long, tokensUs: Long, nEvents: Long,
                       nAllowed: Long)

/** Holt level/trend state plus the still-open hour's running count —
  * `lastHour`/`cnt` hold the pending bucket so a later micro-batch can
  * keep filling it before it folds into (l, b). `init` is false until
  * the first completed hour seeds the level. `nEv` is the cumulative
  * event count — STRICTLY increasing across emissions (every batch
  * with rows for the key raises it), unlike `n` (hour count), which
  * can repeat when a whole batch lands inside the still-open hour;
  * downstream last-emission reductions key on `nEv`. */
case class HoltState(lastHour: Long, cnt: Long, l: Double, b: Double,
                     n: Long, init: Boolean, nEv: Long)

/** Open-session tracker: event count + last-activity millis. */
case class SessionTrack(nEvents: Long, lastTs: Long)

/** Session timeout via EVENT-TIME TIMERS (the `transformWithState`
  * surface `session_window` can't express: arbitrary state plus a
  * callback when the watermark passes a per-key deadline). Each input
  * batch re-arms the key's close timer at lastActivity + gap; when the
  * watermark crosses it, [[handleExpiredTimer]] emits the closed
  * session ONCE and clears the key's state — bounded state with
  * explicit eviction, the production pattern for abandoned-cart /
  * inactivity pipelines. Stale timers (re-armed later by new activity)
  * are detected by comparing the firing time against the CURRENT
  * deadline and ignored — cheaper than delete-on-rearm, and correct
  * even where `deleteTimer` races a concurrent expiry.
  *
  * Input: (user_id, tsMillis). Output: (user_id, n_events, closed) —
  * open-session progress rows plus exactly one closed=true row per
  * timed-out session.
  */
class SessionTimeoutProcessor(gapMs: Long)
    extends StatefulProcessor[Long, (Long, Long), (Long, Long, Boolean)] {
  @transient private var state: ValueState[SessionTrack] = _

  override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
    state = getHandle.getValueState[SessionTrack]("sess",
      Encoders.product[SessionTrack], TTLConfig.NONE)

  override def handleInputRows(key: Long, rows: Iterator[(Long, Long)],
                               timerValues: TimerValues)
      : Iterator[(Long, Long, Boolean)] = {
    val prev = if (state.exists()) state.get() else SessionTrack(0L, 0L)
    var n = prev.nEvents
    var last = prev.lastTs
    rows.foreach { r => n += 1; if (r._2 > last) last = r._2 }
    state.update(SessionTrack(n, last))
    getHandle.registerTimer(last + gapMs)
    Iterator((key, n, false))
  }

  override def handleExpiredTimer(key: Long, timerValues: TimerValues,
                                  expired: ExpiredTimerInfo)
      : Iterator[(Long, Long, Boolean)] = {
    if (!state.exists()) Iterator.empty
    else {
      val cur = state.get()
      if (expired.getExpiryTimeInMs() < cur.lastTs + gapMs)
        Iterator.empty // stale timer; a newer deadline is armed
      else {
        state.clear()
        Iterator((key, cur.nEvents, true))
      }
    }
  }
}

/** Structured Streaming wave (SURVEY.md §2.B `s_*`): the reference is a
  * streaming pipeline (Pub/Sub → decrypt DoFn → sink), so this module
  * re-expresses its unbounded path on Structured Streaming, plus the
  * stateful operators a production stream needs (watermarked windows,
  * streaming dedup, custom state).
  *
  * Every transform is `DataFrame => DataFrame` over an *unbounded*
  * input, so the identical plan runs from any source — the file source
  * here, `MemoryStream` in StreamingSpec, Kafka on a real cluster.
  * There is no DuckDB streaming oracle; StreamingSpec drives
  * micro-batches and asserts semantics (late-drop, dedup, state,
  * decrypt roundtrip).
  *
  * Scale notes: all stateful ops key their state by the shuffle key
  * (window×type, event_id, user_id), so state is partition-local and
  * scales horizontally with executors; watermarks bound state size —
  * without them, windowed state grows forever at 100 TB/day rates.
  */
object Streams {

  /** Runs `body` with the RocksDB state-store provider set for any
    * streaming query STARTED inside it, restoring the prior provider
    * (or unsetting) afterwards. `transformWithState` requires RocksDB,
    * but the provider conf is session-wide and baked into a query at
    * start — leaving it flipped would silently switch the provider
    * under later stateful queries and break resumption of checkpoints
    * created under the default HDFS-backed provider, so the flip is
    * scoped here and the plan builders below never mutate session
    * conf themselves.
    */
  def withRocksDbStateStore[T](spark: SparkSession)(body: => T): T =
    graft.GraftSession.withConf(spark,
      "spark.sql.streaming.stateStore.providerClass" ->
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"
    )(body)

  /** A1: unbounded source — file-based `readStream` over the events
    * table (the batch stand-in for a Pub/Sub/Kafka subscription).
    *
    * File-source streams need an explicit schema, and the physical type
    * of `ts` has varied across testdata generations (timestamp[ns] →
    * LongType nanos under `nanosAsLong`; timestamp[us] → TimestampNTZ).
    * Take exactly the schema a batch read infers, from the footer
    * schema cache the batch loader keeps ([[graft.Tables.schemaOf]], one
    * footer read per file identity), then normalize `ts` the same way as
    * the batch path ([[graft.Tables.normalizeTs]]).
    */
  def eventsFileStream(spark: SparkSession, dir: String): DataFrame = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val fileSchema = graft.Tables.schemaOf(spark, s"$dir/events.parquet")
    // The file source wants a directory. Driver testdata lays events
    // out as ONE file in the sf dir — glob-filter to just it. A
    // production landing zone (and the ScaleUp rehearsal output) is a
    // DIRECTORY of part files — stream that directly.
    val reader = spark.readStream.schema(fileSchema)
    val stream =
      if (new java.io.File(s"$dir/events.parquet").isDirectory)
        reader.parquet(s"$dir/events.parquet")
      else
        reader.option("pathGlobFilter", "events.parquet").parquet(dir)
    graft.Tables.normalizeTs(stream)
  }

  /** s_watermark_late: tumbling-window counts per event type; events
    * more than 10 min behind the max seen ts are dropped, and a window
    * finalizes (append-mode emit) once the watermark passes its end.
    */
  def watermarkedCounts(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "10 minutes")
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      // exact BIGINT cents: a raw double sum is micro-batch- and
      // partial-agg-order-dependent (consumers divide once at the end)
      .agg(count(lit(1)).as("n"),
        sum(floor(col("value") * 100 + 0.5).cast("long"))
          .as("sum_value"))
      .select(col("window.start").as("wstart"), col("event_type"),
        col("n"), col("sum_value"))

  /** s_dedup_stream: drop replayed event_ids; the watermark bounds how
    * long each id is remembered, so state stays O(ids per 10 min).
    */
  def streamingDedup(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "10 minutes")
      .dropDuplicatesWithinWatermark("event_id")

  /** s_stateful_count: running per-user (n_events, sum_value) via
    * flatMapGroupsWithState — the engine's analogue of the reference
    * DoFn's in-process mutable state, but fault-tolerant (StateStore)
    * and partitioned by key.
    */
  def statefulUserCounts(events: DataFrame): DataFrame = {
    val spark = events.sparkSession
    import spark.implicits._
    events
      .select(col("user_id").cast("long"), col("value").cast("double"))
      .as[(Long, Double)]
      .groupByKey(_._1)
      .flatMapGroupsWithState(
        OutputMode.Update, GroupStateTimeout.NoTimeout) {
        (userId: Long, rows: Iterator[(Long, Double)],
         state: GroupState[UserAggState]) =>
          val prev = state.getOption.getOrElse(UserAggState(0L, 0.0))
          var n = prev.nEvents
          var s = prev.sumValue
          rows.foreach { r => n += 1; s += r._2 }
          state.update(UserAggState(n, s))
          Iterator((userId, n, s))
      }
      .toDF("user_id", "n_events", "sum_value")
  }

  /** s_pattern: streaming CEP (complex event processing) — the
    * incremental-automaton form of the batch regex q_seq_pattern.
    * Per-user DFA over the event-type alphabet: `signup` opens a live
    * attempt, `click`/`view` keep it open, `purchase` closes it as one
    * conversion, anything else kills it; error-burst counting tracks
    * runs of consecutive errors. Equivalent to counting leftmost
    * non-overlapping `s[cv]*p` / `e+` regex matches — the DuckDB
    * oracle IS that regex, so two unrelated formulations (incremental
    * DFA vs backtracking regex) must agree through the gate.
    *
    * Ordering: events inside a micro-batch are sorted by (ts,
    * event_id) before feeding the DFA (per-user volume per batch is
    * bounded — the same envelope sessionization carries); across
    * micro-batches the file source's single AvailableNow drain (and,
    * in production, watermark-ordered replay) preserves order. State
    * is O(1) per user: two booleans + three counters.
    */
  /** s_holt: ONLINE Holt linear smoothing per event type — the
    * streaming twin of batch `q_ts_holt`, same dyadic α = β = 0.5
    * recurrence, run incrementally: events bucket into hours inside
    * the state handler; an hour folds into (level, trend) the moment
    * a later hour opens, and the still-open hour rides in state so a
    * micro-batch boundary inside an hour cannot split its count.
    * Each emission reports the "as-if-closed" view (pending hour
    * folded in for OUTPUT, kept pending in STATE), so the final
    * emission equals the batch fold exactly — and because the fold
    * is exact binary arithmetic, equality is bitwise, proven through
    * the DuckDB recursive-CTE oracle shared with the batch query.
    *
    * Ordering contract: within a micro-batch, (ts, event_id) sort;
    * across batches, in-order arrival per key (the file source's
    * AvailableNow drain, or watermark-ordered replay in production).
    * State is O(1): two doubles + three longs + a flag.
    */
  def holtSmoothing(events: DataFrame): DataFrame = {
    val spark = events.sparkSession
    import spark.implicits._
    events
      .select(col("event_type"), unix_micros(col("ts")).as("tsu"),
        col("event_id").cast("long"))
      .as[(String, Long, Long)]
      .groupByKey(_._1)
      .flatMapGroupsWithState(
        OutputMode.Update, GroupStateTimeout.NoTimeout) {
        (et: String, rows: Iterator[(String, Long, Long)],
         state: GroupState[HoltState]) =>
          def fold(l: Double, b: Double, init: Boolean,
                   x: Double): (Double, Double) =
            if (!init) (x, 0.0)
            else {
              val l1 = 0.5 * x + 0.5 * (l + b)
              (l1, 0.5 * (l1 - l) + 0.5 * b)
            }
          var st = state.getOption
            .getOrElse(HoltState(Long.MinValue, 0L, 0.0, 0.0, 0L,
              init = false, nEv = 0L))
          rows.toArray.sortBy(r => (r._2, r._3)).foreach { r =>
            val h = Math.floorDiv(r._2, 3600000000L)
            if (h == st.lastHour)
              st = st.copy(cnt = st.cnt + 1, nEv = st.nEv + 1)
            else if (st.cnt == 0L)
              st = st.copy(lastHour = h, cnt = 1L, nEv = st.nEv + 1)
            else {
              val (l1, b1) = fold(st.l, st.b, st.init, st.cnt.toDouble)
              st = HoltState(h, 1L, l1, b1, st.n + 1, init = true,
                nEv = st.nEv + 1)
            }
          }
          state.update(st)
          val (lf, bf) =
            if (st.cnt > 0L) fold(st.l, st.b, st.init, st.cnt.toDouble)
            else (st.l, st.b)
          val nf = st.n + (if (st.cnt > 0L) 1L else 0L)
          Iterator((et, nf, lf, bf, st.nEv))
      }
      .toDF("event_type", "n_hours", "level", "trend", "n_events")
  }

  /** s_rate_limit: ONLINE token-bucket quota enforcement per user —
    * the streaming twin of batch `q_ts_rate_limit` (5 tokens, 1
    * token/hour, all-integer µs arithmetic): state carries the last
    * event time and remaining refill credit, so admission decisions
    * are identical whether events arrive in one batch or many. The
    * drained counters hash-match the batch packed-BIGINT fold through
    * the shared oracle.
    *
    * Ordering contract: (ts, event_id) sort within a micro-batch,
    * in-order arrival across batches per key — same as the other
    * stateful ops here. State is 4 longs per user.
    */
  def rateLimitAudit(events: DataFrame): DataFrame = {
    val spark = events.sparkSession
    import spark.implicits._
    events
      .select(col("user_id").cast("long"), unix_micros(col("ts")).as("tsu"),
        col("event_id").cast("long"))
      .as[(Long, Long, Long)]
      .groupByKey(_._1)
      .flatMapGroupsWithState(
        OutputMode.Update, GroupStateTimeout.NoTimeout) {
        (uid: Long, rows: Iterator[(Long, Long, Long)],
         state: GroupState[BucketState]) =>
          var st = state.getOption
            .getOrElse(BucketState(Long.MinValue, 18000000000L, 0L, 0L))
          rows.toArray.sortBy(r => (r._2, r._3)).foreach { r =>
            val dt = if (st.lastTs == Long.MinValue) 0L
              else r._2 - st.lastTs
            val tokens = math.min(18000000000L, st.tokensUs + dt)
            st =
              if (tokens >= 3600000000L)
                BucketState(r._2, tokens - 3600000000L,
                  st.nEvents + 1, st.nAllowed + 1)
              else BucketState(r._2, tokens, st.nEvents + 1,
                st.nAllowed)
          }
          state.update(st)
          Iterator((uid, st.nEvents, st.nAllowed))
      }
      .toDF("user_id", "n_events", "n_allowed")
  }

  def patternAutomaton(events: DataFrame): DataFrame = {
    val spark = events.sparkSession
    import spark.implicits._
    events
      .select(col("user_id").cast("long"), unix_micros(col("ts")).as("tsu"),
        col("event_id").cast("long"), col("event_type"))
      .as[(Long, Long, Long, String)]
      .groupByKey(_._1)
      .flatMapGroupsWithState(
        OutputMode.Update, GroupStateTimeout.NoTimeout) {
        (uid: Long, rows: Iterator[(Long, Long, Long, String)],
         state: GroupState[PatternState]) =>
          val prev = state.getOption
            .getOrElse(PatternState(false, false, 0L, 0L, 0L))
          var inS = prev.inSignup
          var lastErr = prev.lastWasError
          var n = prev.nEvents
          var conv = prev.nConv
          var burst = prev.nBursts
          rows.toArray.sortBy(r => (r._2, r._3)).foreach { r =>
            n += 1
            r._4 match {
              case "signup" =>
                inS = true; lastErr = false
              case "click" | "view" =>
                lastErr = false
              case "purchase" =>
                if (inS) { conv += 1; inS = false }
                lastErr = false
              case _ =>
                if (!lastErr) burst += 1
                lastErr = true; inS = false
            }
          }
          state.update(PatternState(inS, lastErr, n, conv, burst))
          Iterator((uid, n, conv, burst))
      }
      .toDF("user_id", "n_events", "n_conversions", "n_error_bursts")
  }

  /** s_anomaly: streaming per-user z-score anomaly detection — each
    * event is scored against the user's PRIOR history (population σ of
    * everything seen before it), the monitoring shape a fraud/metrics
    * pipeline runs online. State is three integers (n, Σx, Σx² in
    * cents), folded in (ts, event_id) order within each micro-batch;
    * the algebra keeps everything in exact BIGINT up to one final
    * divide: z = (n·x − Σx) / √(n·Σx² − (Σx)²), which equals the
    * classical (x − μ)/σ. An event is emitted iff it has ≥ 10
    * predecessors, the prior window has nonzero variance, and |z| > 3.
    * The DuckDB oracle is the batch twin: the same statistics from a
    * `ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING` window.
    *
    * Scale: O(1) state per user, no retained events; the only shuffle
    * is the groupByKey hash by user — identical to every stateful op
    * here.
    */
  def anomalyZScores(events: DataFrame): DataFrame = {
    val spark = events.sparkSession
    import spark.implicits._
    events
      .select(col("user_id").cast("long"), unix_micros(col("ts")).as("tsu"),
        col("event_id").cast("long"),
        floor(col("value") * 100 + 0.5).cast("long").as("cents"))
      .as[(Long, Long, Long, Long)]
      .groupByKey(_._1)
      .flatMapGroupsWithState(
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (uid: Long, rows: Iterator[(Long, Long, Long, Long)],
         state: GroupState[ZState]) =>
          val prev = state.getOption.getOrElse(ZState(0L, 0L, 0L))
          var n = prev.n; var s1 = prev.s1; var s2 = prev.s2
          val out = scala.collection.mutable.ArrayBuffer
            .empty[(Long, Long, Long, Double)]
          rows.toArray.sortBy(r => (r._2, r._3)).foreach { r =>
            val x = r._4
            val num = n * x - s1
            val den2 = n * s2 - s1 * s1
            if (n >= 10 && den2 > 0) {
              val z = num.toDouble / math.sqrt(den2.toDouble)
              if (math.abs(z) > 3.0) out += ((r._3, uid, x, z))
            }
            n += 1; s1 += x; s2 += x * x
          }
          state.update(ZState(n, s1, s2))
          out.iterator
      }
      .toDF("event_id", "user_id", "cents", "z")
  }

  /** s_stateful_tws: [[statefulUserCounts]] re-expressed on
    * `transformWithState` (see [[UserCountsProcessor]]). State lives in
    * RocksDB per partition — bounded memory at any key cardinality.
    * Start the query inside [[withRocksDbStateStore]].
    */
  def statefulUserCountsTws(events: DataFrame): DataFrame = {
    val spark = events.sparkSession
    import spark.implicits._
    events
      .select(col("user_id").cast("long"), col("value").cast("double"))
      .as[(Long, Double)]
      .groupByKey(_._1)
      .transformWithState(new UserCountsProcessor,
        TimeMode.None(), OutputMode.Update())
      .toDF("user_id", "n_events", "sum_value")
  }

  /** Per-user session timeout on event-time timers (see
    * [[SessionTimeoutProcessor]]): a session closes — emitted once,
    * state evicted — when the watermark passes lastActivity + `gap`.
    * Watermark delay 0 keeps test drains deterministic: the watermark
    * is exactly the max event time seen, so which sessions close is a
    * pure function of the data. Start the query inside
    * [[withRocksDbStateStore]] (transformWithState requires RocksDB).
    */
  def sessionTimeouts(events: DataFrame,
                      gapMs: Long = 30L * 60 * 1000): DataFrame = {
    val spark = events.sparkSession
    import spark.implicits._
    events
      .withWatermark("ts", "0 seconds")
      .select(col("user_id").cast("long"),
        unix_millis(col("ts")).as("tsms"))
      .as[(Long, Long)]
      .groupByKey(_._1)
      .transformWithState(new SessionTimeoutProcessor(gapMs),
        TimeMode.EventTime(), OutputMode.Append())
      .toDF("user_id", "n_events", "closed")
  }

  /** Streaming session windows: per-user sessions with a 30 min
    * inactivity gap — the stateful operator that MERGES windows as
    * events arrive (unlike tumbling/sliding, a session's extent is
    * data-dependent, so the state store keeps open sessions per user
    * and coalesces overlaps). The watermark both drops late events
    * and finalizes sessions (append emits a session only once no
    * event can extend it). Same `session_window` expression as the
    * batch twin `q_session_window` — only the watermark is added.
    */
  def sessionizedCounts(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "10 minutes")
      .groupBy(col("user_id"), session_window(col("ts"), "30 minutes"))
      .agg(count(lit(1)).as("n_events"), sum("value").as("sum_value"))
      .select(col("user_id"),
        col("session_window.start").as("session_start"),
        col("session_window.end").as("session_end"),
        col("n_events"), col("sum_value"))

  /** Stream-static enrichment join: the unbounded stream joins a
    * batch dimension (the lookup-table shape every deployment has —
    * user → account, key → tenant). Stateless: each micro-batch
    * broadcast-hash-joins the dim, nothing is buffered between
    * batches, so unlike stream-stream joins it needs no watermark and
    * holds no state. The dim is re-resolvable per batch (a slowly
    * changing dim picks up updates at the next trigger).
    */
  def enrichEvents(events: DataFrame, dim: DataFrame): DataFrame =
    events
      .withColumn("n_nationkey", pmod(col("user_id"), lit(25)))
      .join(broadcast(dim), "n_nationkey")

  /** s_stream_join: stream-stream inner join — click→purchase
    * attribution within 1 hour per user. Both sides carry watermarks
    * and the join has a time-range condition, so each side's buffered
    * state is bounded to the band + watermark delay (without the range
    * condition Spark must buffer one side forever). The canonical
    * hard streaming operator: state is keyed by user and evicted as
    * the watermark passes c_ts + 1h.
    */
  def clickPurchaseJoin(clicks: DataFrame,
                        purchases: DataFrame): DataFrame = {
    val c = clicks.filter(col("event_type") === "click")
      .select(col("user_id").as("c_user"), col("ts").as("c_ts"),
        col("event_id").as("click_id"))
      .withWatermark("c_ts", "10 minutes")
    val p = purchases.filter(col("event_type") === "purchase")
      .select(col("user_id").as("p_user"), col("ts").as("p_ts"),
        col("event_id").as("purchase_id"))
      .withWatermark("p_ts", "10 minutes")
    c.join(p, col("c_user") === col("p_user") &&
      col("p_ts") >= col("c_ts") &&
      col("p_ts") <= col("c_ts") + expr("INTERVAL 1 HOUR"))
  }

  /** Stream-stream LEFT OUTER click→purchase attribution: like
    * [[clickPurchaseJoin]] but unconverted clicks survive as
    * null-extended rows — the shape marketing funnels actually need
    * (conversion rate requires the denominator). Outer results are
    * emitted by the WATERMARK, not the match: a click's null row
    * appears only once no qualifying purchase can still arrive
    * (watermark > c_ts + 1h + delay), which is why both sides carry
    * watermarks and the join carries the time-range bound — state
    * stays bounded AND every click eventually resolves. `cutoff`
    * keeps only clicks old enough that the stream's final watermark
    * provably expires them (end-of-stream clicks would otherwise sit
    * unresolved in state and the drained result would under-count
    * unmatched clicks vs the batch twin).
    */
  def clickPurchaseLeftJoin(clicks: DataFrame, purchases: DataFrame,
                            cutoff: String): DataFrame = {
    val c = clicks.filter(col("event_type") === "click" &&
        col("ts") < lit(cutoff).cast("timestamp"))
      .select(col("user_id").as("c_user"), col("ts").as("c_ts"),
        col("event_id").as("click_id"))
      .withWatermark("c_ts", "10 minutes")
    val p = purchases.filter(col("event_type") === "purchase")
      .select(col("user_id").as("p_user"), col("ts").as("p_ts"),
        col("event_id").as("purchase_id"))
      .withWatermark("p_ts", "10 minutes")
    c.join(p, col("c_user") === col("p_user") &&
      col("p_ts") >= col("c_ts") &&
      col("p_ts") <= col("c_ts") + expr("INTERVAL 1 HOUR"),
      "left_outer")
  }

  /** Stream-stream FULL OUTER click↔purchase attribution — the third
    * watermark-driven join mode: inner matches plus null-extended rows
    * from BOTH sides, each emitted only when the watermark proves no
    * counterpart can still arrive (unmatched clicks at
    * wm > c_ts + 1h + delay, unmatched purchases at wm > p_ts + delay).
    *
    * Structural difference from [[clickPurchaseLeftJoin]], and the
    * part worth copying: the watermark is attached BEFORE the cutoff
    * filter. Both sides need a `cutoff` so the drained unmatched sets
    * are deterministic — but filtering first would also cap each
    * side's WATERMARK at the cutoff, leaving every row in the last
    * band+delay before it stranded in state (systematic under-count).
    * Watermarking the raw stream lets the event-time clock run to
    * stream end while the filter bounds the joined rows, so every
    * cutoff row provably resolves. (Event-time metadata survives the
    * rename/projection below — watermark-then-select is the supported
    * order.)
    */
  def clickPurchaseFullJoin(clicks: DataFrame, purchases: DataFrame,
                            cutoff: String): DataFrame = {
    val c = clicks.withWatermark("ts", "10 minutes")
      .filter(col("event_type") === "click" &&
        col("ts") < lit(cutoff).cast("timestamp"))
      .select(col("user_id").as("c_user"), col("ts").as("c_ts"),
        col("event_id").as("click_id"))
    val p = purchases.withWatermark("ts", "10 minutes")
      .filter(col("event_type") === "purchase" &&
        col("ts") < lit(cutoff).cast("timestamp"))
      .select(col("user_id").as("p_user"), col("ts").as("p_ts"),
        col("event_id").as("purchase_id"))
    c.join(p, col("c_user") === col("p_user") &&
      col("p_ts") >= col("c_ts") &&
      col("p_ts") <= col("c_ts") + expr("INTERVAL 1 HOUR"),
      "full_outer")
  }

  /** Publisher side of the reference (§2.A A7), streaming: JSON-encode
    * the row, AES-encrypt with the DEK, attach attributes carrying the
    * KEK-wrapped DEK and the HMAC signature.
    */
  def encryptMessages(rows: DataFrame, dek: Array[Byte],
                      kek: Array[Byte]): DataFrame = {
    import graft.api.ops._
    val payload = to_json(struct(rows.columns.map(col).toSeq: _*))
      .cast("binary")
    rows.sealEnvelope(payload, dek, kek)
      .select(col("id"), col("ts"), col("value"), col("attributes"))
  }

  /** s_decrypt_pipeline, consumer side (§2.A A2–A6): unwrap the DEK
    * from the attribute, decrypt the payload, recompute + verify the
    * HMAC, parse the JSON — one stateless codegen'd map stage, then a
    * watermarked windowed count as the sink aggregation.
    */
  def decryptPipeline(messages: DataFrame, kek: Array[Byte],
                      payloadSchema: String): DataFrame = {
    import graft.api.ops._
    messages.openEnvelope(kek)
      .filter(col("verified"))
      .select(col("id"), col("ts"),
        from_json(col("payload").cast("string"), lit(payloadSchema))
          .as("msg"))
      .withWatermark("ts", "10 minutes")
      .groupBy(window(col("ts"), "1 hour"))
      .agg(count(lit(1)).as("n_messages"))
      .select(col("window.start").as("wstart"), col("n_messages"))
  }
}
