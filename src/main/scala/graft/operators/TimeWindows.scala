package graft.operators

import graft.{Norm, QueryModule, Tables}
import graft.api.ops.pinLineage
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Event-time windowing, batch twins of the streaming queries
  * (SURVEY.md §2.B "Streaming"). The exact same window()/
  * session_window() expressions run unchanged under readStream — the
  * streaming wave reuses these, adding watermarks; scalatest covers
  * that path (no DuckDB streaming oracle).
  *
  * Scale notes: window() is a per-row projection (tumbling) or a ≤4-row
  * explode (sliding) followed by ordinary hash-agg — partial aggs keep
  * shuffle volume at O(windows × types), not O(events).
  */
object TimeWindows extends QueryModule {

  /** 1 h tumbling windows × event type. */
  val windowTumbling: Q = (spark, dir) => {
    val e = Tables(spark, dir, "events")
    e.groupBy(window(col("ts"), "1 hour"), col("event_type"))
      // exact BIGINT cents divided once — raw double sums are
      // partial-agg-order-dependent (r11 sf1 differential lesson)
      .agg(count(lit(1)).as("n"),
        (sum(floor(col("value") * 100 + 0.5).cast("long"))
          .cast("double") / lit(100.0)).as("sum_value"))
      .select(Norm.tstr(col("window.start")).as("wstart"), col("event_type"),
        col("n"), col("sum_value"))
      .orderBy("wstart", "event_type")
  }

  /** 1 h window sliding every 15 min — each event lands in 4 windows. */
  val windowSliding: Q = (spark, dir) => {
    val e = Tables(spark, dir, "events")
    e.groupBy(window(col("ts"), "1 hour", "15 minutes"))
      .agg(count(lit(1)).as("n"),
        countDistinct(col("user_id")).as("n_users"))
      .select(Norm.tstr(col("window.start")).as("wstart"), col("n"),
        col("n_users"))
      .orderBy("wstart")
  }

  /** Per-user sessions with a 30 min inactivity gap. Spark merges
    * events into a session while the next event is strictly inside
    * [start, last+gap); the oracle's gaps-and-islands twin uses
    * diff >= gap as the session break to match.
    */
  val sessionWindows: Q = (spark, dir) => {
    val e = Tables(spark, dir, "events")
    e.groupBy(col("user_id"), session_window(col("ts"), "30 minutes"))
      .agg(count(lit(1)).as("n_events"),
        (sum(floor(col("value") * 100 + 0.5).cast("long"))
          .cast("double") / lit(100.0)).as("sum_value"))
      .select(col("user_id"),
        Norm.tstr(col("session_window.start")).as("session_start"),
        Norm.tstr(col("session_window.end")).as("session_end"),
        col("n_events"), col("sum_value"))
      .orderBy("user_id", "session_start")
  }

  /** Time-series gap-fill + LOCF: a rare signal (value > 95, ~1% of
    * events — two thirds of the hourly buckets are empty at sf0.01)
    * aggregated per (type, hour), then joined onto a dense hourly
    * spine and forward-filled (last observation carried forward) so
    * every hour reports the most recent reading — the resample shape
    * every monitoring/feature-store pipeline needs.
    *
    * Scale: the only pass over the raw events is a partial-agg'd
    * hash-agg down to (types × hours); the spine is calendar-sized
    * (sequence() over the hour range, ~9 k rows/year/type regardless
    * of data volume), so the LOCF window — partitioned by type over
    * the SPINE, not the events — is bounded by the calendar too.
    * Sums carried in integer cents: exact in both engines.
    */
  val gapFill: Q = (spark, dir) => {
    val e = Tables(spark, dir, "events")
    val obs = e.filter(col("value") > 95)
      .groupBy(col("event_type"), date_trunc("hour", col("ts")).as("h"))
      .agg(count(lit(1)).as("n"),
        sum(floor(col("value") * 100 + 0.5).cast("long")).as("cents"))
    val hours = e
      .agg(date_trunc("hour", min("ts")).as("lo"),
        date_trunc("hour", max("ts")).as("hi"))
      .select(explode(sequence(col("lo"), col("hi"),
        expr("interval 1 hour"))).as("h"))
    val spine = hours.crossJoin(broadcast(e.select("event_type").distinct()))
    val w = Window.partitionBy("event_type").orderBy("h")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    spine.join(obs, Seq("event_type", "h"), "left")
      .select(col("event_type"), Norm.tstr(col("h")).as("hour"),
        coalesce(col("n"), lit(0L)).as("n"),
        coalesce(last(col("cents"), ignoreNulls = true).over(w), lit(0L))
          .as("locf_cents"),
        col("n").isNull.as("is_gap"))
      .orderBy("event_type", "hour")
  }

  /** DAU / trailing-7-day WAU / stickiness (DAU÷WAU) per day — the
    * engagement dashboard triple. Exact distincts, not sketches.
    *
    * Scale: the ONLY pass over raw events is the partial-agg'd
    * distinct down to (day, user); the trailing-window fan-out joins
    * that reduced frame against the broadcast day spine (≤7× row
    * growth, bounded by the calendar), then count-distincts per day.
    * Shuffle volume is O(active-pairs), never O(events); stickiness
    * is one exact-int division, tie-proofed.
    */
  val activeUsers: Q = (spark, dir) => {
    val e = Tables(spark, dir, "events")
    val du = e.select(to_date(col("ts")).as("d"), col("user_id")).distinct()
    val dau = du.groupBy("d").agg(count(lit(1)).as("dau"))
    val days = dau.select(col("d").as("day"))
    val wau = du.join(broadcast(days),
        col("d").between(date_sub(col("day"), 6), col("day")))
      .groupBy("day").agg(countDistinct("user_id").as("wau"))
    dau.withColumnRenamed("d", "day").join(wau, "day")
      .select(Norm.dstr(col("day")).as("day"), col("dau"), col("wau"),
        Norm.r4tie(col("dau").cast("double") / col("wau"))
          .as("stickiness"))
      .orderBy("day")
  }

  /** Gaps-and-islands: per-user consecutive-day activity STREAKS via
    * the classic island key `day − row_number()` (constant within a
    * run of consecutive days, distinct across runs — no self-join, no
    * recursive walk). Output per user: longest streak, number of
    * streaks, active days — the retention/engagement triple.
    *
    * Scale: one partial-agg'd distinct down to (user, day) bounds the
    * window input at O(users × days); the row_number window and the
    * streak roll-up share ONE user-keyed exchange (the island groupBy
    * is a prefix of (user, island) partitioning), and the final
    * per-user agg is user-keyed too. Raw events are touched once.
    */
  val windowStreaks: Q = (spark, dir) => {
    val e = Tables(spark, dir, "events")
    val du = e.select(col("user_id"), to_date(col("ts")).as("d")).distinct()
    val w = Window.partitionBy("user_id").orderBy("d")
    val islands = du
      .withColumn("island", datediff(col("d"), lit("2024-01-01"))
        - row_number().over(w))
      .groupBy("user_id", "island")
      .agg(count(lit(1)).as("len"))
    islands.groupBy("user_id")
      .agg(max(col("len")).as("longest_streak"),
        count(lit(1)).as("n_streaks"),
        sum(col("len")).as("active_days"))
      .orderBy("user_id")
  }

  /** Last-touch attribution: every purchase credits the user's most
    * recent PRECEDING touch event (click/view/signup — errors and
    * other purchases don't earn credit); purchases with no prior
    * touch are 'direct'. Revenue carried in exact integer cents.
    *
    * Scale: one user-keyed shuffle + per-user sort; the credit lookup
    * is `last(CASE…, ignoreNulls)` over rows unbounded..1-preceding —
    * no per-purchase backward join, no event explosion. Shuffle is
    * O(events) once, the classic sessionize shape. Determinism: the
    * testdata's per-user (ts) collisions don't exist across types
    * (unique (event_type, ts) pairs), and the frame excludes the
    * current row, so credit is unambiguous.
    */
  val attribution: Q = (spark, dir) => {
    val e = Tables(spark, dir, "events")
    val touch = when(col("event_type").isin("click", "view", "signup"),
      col("event_type"))
    val w = Window.partitionBy("user_id").orderBy("ts")
      .rowsBetween(Window.unboundedPreceding, -1)
    e.withColumn("channel",
        coalesce(last(touch, ignoreNulls = true).over(w), lit("direct")))
      .filter(col("event_type") === "purchase")
      .groupBy("channel")
      .agg(count(lit(1)).as("n_purchases"),
        sum(floor(col("value") * 100 + 0.5).cast("long")).as("cents"))
      .orderBy("channel")
  }

  /** OHLC resampling (the market-data/metrics downsample): per
    * (event_type, 15-min bar) the first value by time (open), max
    * (high), min (low), last value by time (close) and the tick
    * count — `min_by`/`max_by` selection aggregates, so open/close
    * need NO window or self-join and partial-agg applies (each
    * map-side partial keeps one (value, ts) champion per bar).
    *
    * Scale: one partial-agg'd hash-agg over the events, shuffle
    * volume O(types × bars), never O(events). Determinism: the
    * testdata's (event_type, ts) pairs are unique at every SF (the
    * same precondition [[funnel]] documents), so the by-ts champions
    * are unambiguous; high/low/open/close are SELECTIONS of existing
    * doubles — both engines round the identical IEEE value.
    */
  val ohlc: Q = (spark, dir) => {
    val e = Tables(spark, dir, "events")
    e.groupBy(col("event_type"), window(col("ts"), "15 minutes"))
      .agg(Norm.r4(min_by(col("value"), col("ts"))).as("open"),
        Norm.r4(max("value")).as("high"),
        Norm.r4(min("value")).as("low"),
        Norm.r4(max_by(col("value"), col("ts"))).as("close"),
        count(lit(1)).as("n"))
      .select(col("event_type"), Norm.tstr(col("window.start")).as("bar"),
        col("open"), col("high"), col("low"), col("close"), col("n"))
      .orderBy("event_type", "bar")
  }

  /** Linear interpolation across gaps — [[gapFill]]'s LOCF upgraded
    * to the resample shape feature stores actually want: each empty
    * hourly bucket gets the line between its previous and next known
    * readings, edges fall back to nearest-known (backfill before the
    * first reading, LOCF after the last).
    *
    * Exactness at scale: everything stays INTEGER. Known buckets are
    * round-half-up averages in millicents; the interpolation is the
    * exact rational `(pmc·(t₁−t) + nmc·(t−t₀)) / (t₁−t₀)` evaluated
    * as `(num·2+den) div (2·den)` in int64 (hour indices keep the
    * magnitudes ≤ 1e10) — zero float ops, so both engines agree
    * bit-for-bit with no rounding tolerance at all. The four
    * prev/next probes are two window frames over the calendar-sized
    * spine, not the events.
    */
  val interpolate: Q = (spark, dir) => {
    val e = Tables(spark, dir, "events")
    val obs = e.filter(col("value") > 95)
      .groupBy(col("event_type"), date_trunc("hour", col("ts")).as("h"))
      .agg(expr("(sum(cast(floor(value*100 + 0.5) as bigint))*2000" +
        " + count(*)) div (2*count(*))").as("mc"))
    val hours = e
      .agg(date_trunc("hour", min("ts")).as("lo"),
        date_trunc("hour", max("ts")).as("hi"))
      .select(explode(sequence(col("lo"), col("hi"),
        expr("interval 1 hour"))).as("h"))
    val spine = hours.crossJoin(broadcast(e.select("event_type").distinct()))
    val wp = Window.partitionBy("event_type").orderBy("h")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wn = Window.partitionBy("event_type").orderBy("h")
      .rowsBetween(1, Window.unboundedFollowing)
    val khi = when(col("mc").isNotNull, col("hi0"))
    spine.join(obs, Seq("event_type", "h"), "left")
      .withColumn("hi0", expr("unix_seconds(h) div 3600"))
      .select(col("event_type"), col("h"), col("mc"), col("hi0"),
        last(col("mc"), ignoreNulls = true).over(wp).as("pmc"),
        last(khi, ignoreNulls = true).over(wp).as("phi"),
        first(col("mc"), ignoreNulls = true).over(wn).as("nmc"),
        first(khi, ignoreNulls = true).over(wn).as("nhi"))
      .select(col("event_type"), Norm.tstr(col("h")).as("hour"),
        col("mc").isNull.as("is_gap"),
        when(col("pmc").isNull && col("nmc").isNull, lit(0L))
          .when(col("pmc").isNull, col("nmc"))
          .when(col("nmc").isNull, col("pmc"))
          .otherwise(expr("((pmc*(nhi-hi0) + nmc*(hi0-phi))*2" +
            " + (nhi-phi)) div (2*(nhi-phi))"))
          .as("interp_mc"))
      .orderBy("event_type", "hour")
  }

  /** Per-user EWMA (α = 0.25) over each user's event series — the
    * smoothing feature every metrics/feature-store pipeline computes.
    * EWMA's recurrence (s ← αx + (1−α)s) is inherently ORDERED, which
    * SQL window frames can't express (no running self-reference), so
    * this uses the engine's typed secondary-sort surface:
    * `groupByKey(user).flatMapSortedGroups(ts)` — each group arrives
    * as one iterator, already sorted by the shuffle's secondary key,
    * and the fold streams through it in O(1) memory. That is the
    * scale-correct shape: ONE shuffle (by user), no per-group
    * collect_list materialization, state = one double per open group.
    *
    * Determinism: inputs are integer cents and α = 0.25 / 1−α = 0.75
    * are exact binary fractions, so the fold is the same IEEE
    * multiply-add sequence in both engines — bit-identical before the
    * final tie-proof rounding.
    */
  val ewma: Q = (spark, dir) => {
    import spark.implicits._
    val rows = Tables(spark, dir, "events")
      .select(col("user_id").cast("long"),
        unix_micros(col("ts")).as("tus"),
        floor(col("value") * 100 + 0.5).cast("double").as("cents"))
      .as[(Long, Long, Double)]
    val folded = rows.groupByKey(_._1)
      .flatMapSortedGroups(col("tus")) { (user, it) =>
        var s = Double.NaN
        it.map { case (_, tus, x) =>
          s = if (s.isNaN) x else 0.25 * x + 0.75 * s
          (user, tus, s)
        }
      }
      .toDF("user_id", "tus", "ewma")
    folded.select(col("user_id"),
        Norm.tstr(timestamp_micros(col("tus"))).as("ts"),
        Norm.r4tie(col("ewma")).as("ewma_cents"))
      // ts prints at second precision: two same-user events inside one
      // second would tie, and their (distinct) ewma values would then
      // be order-ambiguous across engines — break on the value too.
      .orderBy("user_id", "ts", "ewma_cents")
  }

  /** Rolling z-score anomaly flags: each event scored against the
    * mean/stddev of its user's PRECEDING 10 events (the trailing
    * frame excludes the current row — scoring a point against a
    * baseline that includes it dampens the very spike being tested).
    * One shuffle (by user), O(frame) state per partition — the
    * monitoring-side twin of the EWMA smoother above. Warm-up guard:
    * at least 8 prior points and nonzero spread, else no verdict.
    * Determinism: integer-cent inputs, both engines filter on the
    * SAME 4-dp-rounded z, and (user_id, ts) is collision-free in
    * this data so the frame contents are totally ordered.
    */
  val tsAnomaly: Q = (spark, dir) => {
    val w = Window.partitionBy("user_id").orderBy("ts")
      .rowsBetween(-10, -1)
    Tables(spark, dir, "events")
      .select(col("user_id"), col("ts"),
        floor(col("value") * 100 + 0.5).cast("double").as("cents"))
      .select(col("user_id"), col("ts"), col("cents"),
        count(col("cents")).over(w).as("n_prev"),
        avg(col("cents")).over(w).as("mu"),
        stddev_samp(col("cents")).over(w).as("sigma"))
      .filter(col("n_prev") >= 8 && col("sigma") > 0)
      .withColumn("z", Norm.r4((col("cents") - col("mu")) / col("sigma")))
      .filter(abs(col("z")) >= 2.5)
      .select(col("user_id"), Norm.tstr(col("ts")).as("ts"),
        col("cents").cast("long").as("cents"), col("z"))
      .orderBy("user_id", "ts")
  }

  /** Ordered funnel conversion (view → click → purchase): how many
    * users reach each stage, where a stage counts only STRICTLY AFTER
    * the previous one completed. The naive form is K chained
    * min-after-join passes (K shuffles + K joins); here the whole
    * funnel is a one-pass state machine on the typed secondary-sort
    * surface — ONE shuffle by user, each group streams through in
    * event-time order with O(1) state (the stage counter), the same
    * shape as [[ewma]]. (user_id, ts) is collision-free in this data,
    * so "after" is unambiguous; the DuckDB twin is the chained
    * min-after form, proving the two formulations agree.
    */
  val funnel: Q = (spark, dir) => {
    import graft.api.ops._
    val staged = Tables(spark, dir, "events")
      .funnelStages(col("user_id"), col("ts"), col("event_type"),
        Seq("view", "click", "purchase"))
    staged.agg(
      sum(when(col("stage") >= 1, 1L).otherwise(0L)).as("n_view"),
      sum(when(col("stage") >= 2, 1L).otherwise(0L)).as("n_click"),
      sum(when(col("stage") >= 3, 1L).otherwise(0L)).as("n_purchase"))
  }

  /** Weekly cohort retention: users grouped by the week of their
    * FIRST event; each later active week counts them at its offset.
    * BOTH inputs to the user-keyed join are groupBy(user) aggregates
    * — first-touch week, and the distinct-week SET via collect_set —
    * so the two sides arrive identically hash-partitioned and the
    * join repartitions neither (below the broadcast threshold Spark
    * still prefers a BHJ — also shuffle-free; a flat `distinct()` of
    * (user, week) would instead partition by the pair and force a
    * re-shuffle of the event volume once past broadcast). collect_set
    * state is bounded by the CALENDAR (distinct weeks), not the
    * user's event count; weeks explode only after the join, into the
    * tiny (cohorts × offsets) count. Offsets divide exactly by 7
    * (both sides week-truncated), so the arithmetic is integer-exact
    * in both engines.
    */
  val cohortRetention: Q = (spark, dir) => {
    val ev = Tables(spark, dir, "events")
    val first = ev.groupBy("user_id")
      .agg(date_trunc("week", min(col("ts"))).as("w0"))
    val active = ev.groupBy("user_id")
      .agg(collect_set(date_trunc("week", col("ts"))).as("ws"))
    active.join(first, "user_id")
      .select(col("w0"), explode(col("ws")).as("w"))
      .withColumn("week_offset",
        (datediff(col("w"), col("w0")) / 7).cast("long"))
      .groupBy(date_format(col("w0"), "yyyy-MM-dd").as("cohort_week"),
        col("week_offset"))
      .agg(count(lit(1)).as("n_users"))
      .orderBy("cohort_week", "week_offset")
  }

  /** Event-transition matrix (first-order Markov estimate of user
    * behavior): adjacent event-type pairs per user via lag, counted
    * and normalized to per-source probabilities. One shuffle by user
    * for the lag window; the normalizing window runs over the
    * |types|² transition matrix, never the events. Long/long division
    * is double in both engines; probabilities tie-proof-rounded.
    */
  val eventTransitions: Q = (spark, dir) => {
    val wLag = Window.partitionBy("user_id").orderBy("ts")
    val wNorm = Window.partitionBy("prev")
    Tables(spark, dir, "events")
      .select(col("user_id"), col("ts"), col("event_type"))
      .withColumn("prev", lag(col("event_type"), 1).over(wLag))
      .filter(col("prev").isNotNull)
      .groupBy("prev", "event_type")
      .agg(count(lit(1)).as("n"))
      .withColumn("p", Norm.r4(col("n") / sum(col("n")).over(wNorm)))
      .orderBy("prev", "event_type")
  }

  /** RFM segmentation over purchases: per-user Recency (days since
    * last purchase, vs the latest purchase in the data), Frequency
    * (purchase count) and Monetary (exact integer cents), each scored
    * 1–4 against the population's exact quartiles, concatenated into
    * the classic 'r-f-m' segment label.
    *
    * Scale: raw events reduce to one row per buyer in a single
    * partial-agg'd pass; the quartile thresholds are ONE 1-row
    * percentile agg over that reduced frame, broadcast back via
    * crossJoin — scoring is then a pure projection. No global sort,
    * no ntile window: an exact ntile(4) would force every user row
    * through one partition, which is precisely what dies at 1000
    * executors; threshold scoring is the scale-safe equivalent
    * (boundary ties share a score instead of splitting arbitrarily,
    * which is also the deterministic choice).
    */
  val rfm: Q = (spark, dir) => {
    val e = Tables(spark, dir, "events")
    // pin: the per-buyer frame feeds three consumers (quartile cuts,
    // recency cuts, the scoring projection) — without the pin each
    // branch would re-run the full event scan + agg.
    val perUser = pinLineage(e.filter(col("event_type") === "purchase")
      .groupBy("user_id")
      .agg(max(to_date(col("ts"))).as("last_d"),
        count(lit(1)).as("frequency"),
        sum(floor(col("value") * 100 + 0.5).cast("long"))
          .as("monetary_cents")))
    val cuts = perUser.agg(
      max(col("last_d")).as("anchor"),
      percentile(col("frequency"), array(lit(0.25), lit(0.5), lit(0.75)))
        .as("fq"),
      percentile(col("monetary_cents"),
        array(lit(0.25), lit(0.5), lit(0.75))).as("mq"))
    val scored = pinLineage(perUser.crossJoin(broadcast(cuts))
      .withColumn("recency_d",
        datediff(col("anchor"), col("last_d")).cast("long")))
    // Recency quartiles come from the recency values themselves, so
    // compute them on the same broadcast pass: rq = quantiles of
    // (anchor - last_d). Both engines derive them from the identical
    // reduced frame.
    val rq = scored.agg(percentile(col("recency_d"),
      array(lit(0.25), lit(0.5), lit(0.75))).as("rq"))
    def ge(c: Column, q: Column): Column = (c >= q).cast("long")
    def le(c: Column, q: Column): Column = (c <= q).cast("long")
    scored.crossJoin(broadcast(rq))
      .withColumn("r_score", lit(1) + le(col("recency_d"), col("rq")(0))
        + le(col("recency_d"), col("rq")(1))
        + le(col("recency_d"), col("rq")(2)))
      .withColumn("f_score", lit(1) + ge(col("frequency"), col("fq")(0))
        + ge(col("frequency"), col("fq")(1))
        + ge(col("frequency"), col("fq")(2)))
      .withColumn("m_score",
        lit(1) + ge(col("monetary_cents"), col("mq")(0))
        + ge(col("monetary_cents"), col("mq")(1))
        + ge(col("monetary_cents"), col("mq")(2)))
      .select(col("user_id"), col("recency_d"), col("frequency"),
        col("monetary_cents"), col("r_score"), col("f_score"),
        col("m_score"),
        concat_ws("-", col("r_score"), col("f_score"), col("m_score"))
          .as("segment"))
      .orderBy("user_id")
  }

  /** Churn snapshot by market segment: a user is churned when their
    * last event of ANY type is more than 7 days older than the
    * dataset's latest activity day. Joined to the customer dim for
    * the segment rollup.
    *
    * Scale: events reduce to one (user, last_seen) row in a single
    * partial-agg'd pass before ANY join; the anchor is a 1-row
    * broadcast; the dim join then moves only O(users) rows. Rate is
    * long/long division, tie-proofed.
    */
  val churn: Q = (spark, dir) => {
    val e = Tables(spark, dir, "events")
    val cust = Tables(spark, dir, "customer")
    // pin: (user, last_seen) feeds both the anchor agg and the dim
    // join — one event scan, not two.
    val lastSeen = pinLineage(e.groupBy("user_id")
      .agg(max(to_date(col("ts"))).as("last_seen")))
    val anchor = lastSeen.agg(max(col("last_seen")).as("anchor"))
    lastSeen.crossJoin(broadcast(anchor))
      .withColumn("churned",
        (col("last_seen") < date_sub(col("anchor"), 7)).cast("long"))
      .join(cust, col("user_id") === col("c_custkey"))
      .groupBy("c_mktsegment")
      .agg(count(lit(1)).as("n_users"), sum(col("churned")).as("n_churned"))
      .select(col("c_mktsegment"), col("n_users"), col("n_churned"),
        Norm.r4tie(col("n_churned").cast("double") / col("n_users"))
          .as("churn_rate"))
      .orderBy("c_mktsegment")
  }

  /** Top-10 opening paths: each user's first three events (by ts,
    * event_id — a total order) joined into a 'a>b>c' path, counted
    * across users. Users with fewer than three events are excluded.
    *
    * Scale: ONE user-keyed shuffle for the ranking window, then the
    * frame is already reduced to ≤3 rows/user before the path agg;
    * the final count groups |types|³ ≤ 125 distinct paths and the
    * top-10 executes as TakeOrderedAndProject (no global sort
    * materialization). Determinism: event_id breaks ts ties.
    */
  val userPath: Q = (spark, dir) => {
    val e = Tables(spark, dir, "events")
    val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    e.select(col("user_id"), col("ts"), col("event_id"), col("event_type"))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= 3)
      .groupBy("user_id")
      .agg(count(lit(1)).as("nev"),
        concat_ws(">", transform(
          array_sort(collect_list(struct(col("rn"), col("event_type")))),
          x => x.getField("event_type"))).as("path"))
      .filter(col("nev") === 3)
      .groupBy("path").agg(count(lit(1)).as("n_users"))
      .orderBy(col("n_users").desc, col("path"))
      .limit(10)
  }

  /** Per-user maximum drawdown over a signed cash-flow series
    * (purchases credit, errors debit — exact integer cents): running
    * balance, running peak, and the deepest peak-to-balance drop.
    *
    * Scale: ONE user-keyed shuffle — the running sum and the running
    * max stack on the SAME (partition, order), so Spark plans one
    * Exchange + one Sort for both Window nodes, and the final
    * per-user agg reuses the same hash partitioning (zero additional
    * exchanges; PlanSpec pins exactly one). All integer math; (ts,
    * event_id) totally orders each series.
    */
  val drawdown: Q = (spark, dir) => {
    val e = Tables(spark, dir, "events")
      .filter(col("event_type").isin("purchase", "error"))
      .select(col("user_id"), col("ts"), col("event_id"),
        when(col("event_type") === "purchase",
          floor(col("value") * 100 + 0.5).cast("long"))
          .otherwise(-floor(col("value") * 100 + 0.5).cast("long"))
          .as("cents"))
    val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    e.withColumn("cum", sum(col("cents")).over(w))
      .withColumn("peak", max(col("cum")).over(w))
      .groupBy("user_id")
      .agg(count(lit(1)).as("n_flows"),
        sum(col("cents")).as("final_cents"),
        max(col("peak") - col("cum")).as("max_drawdown_cents"))
      .orderBy("user_id")
  }

  /** MATCH_RECOGNIZE-lite: per-user row-pattern matching. Each user's
    * history is encoded as a one-char-per-event string in (ts,
    * event_id) order, and patterns run as regexes over that string:
    * `s[cv]*p` counts non-overlapping `signup (click|view)* purchase`
    * conversions, `e+` counts maximal error bursts. This is the
    * SQL:2016 MATCH_RECOGNIZE / CEP operator class Spark has no native
    * operator for, composed from collect_list + codegen'd regexp_count
    * instead of a per-user UDF.
    *
    * Determinism: `[cv]` excludes both `s` and `p`, so every engine's
    * leftmost-first matcher (Java regex, RE2) finds the identical
    * match set; (ts, event_id) totally orders each user's events on
    * both sides.
    *
    * Scale: ONE user-keyed shuffle; per-user state is the encoded
    * string (1 byte/event — the same per-user envelope every
    * sessionization op carries), and each regex runs once per user,
    * not per event.
    */
  val seqPattern: Q = (spark, dir) => {
    val e = Tables(spark, dir, "events")
    val code = when(col("event_type") === "signup", "s")
      .when(col("event_type") === "click", "c")
      .when(col("event_type") === "view", "v")
      .when(col("event_type") === "purchase", "p")
      .otherwise("e")
    e.select(col("user_id"),
        struct(col("ts"), col("event_id"), code.as("c")).as("ev"))
      .groupBy("user_id")
      .agg(concat_ws("", transform(array_sort(collect_list(col("ev"))),
        x => x.getField("c"))).as("seq"))
      .select(col("user_id"),
        length(col("seq")).cast("long").as("n_events"),
        regexp_count(col("seq"), lit("s[cv]*p")).cast("long")
          .as("n_conversions"),
        regexp_count(col("seq"), lit("e+")).cast("long")
          .as("n_error_bursts"))
      .orderBy("user_id")
  }

  /** Recency-weighted engagement per user (the feature-store decay
    * shape): each event contributes value · 2^(-age_days) with a 1-day
    * half-life, aged against the corpus max ts. Every step is chosen
    * to be bit-identical across engines: ages are integer days from
    * exact µs integer arithmetic (`div`, never float division), values
    * become integer cents, ages clamp at 20, and each contribution is
    * scaled to the integer cents·2^(20-age) — so the ENTIRE sum stays
    * in exact BIGINT arithmetic and only one final division pair
    * (by 2^20, then 100) produces the double. No float-sum ordering
    * leniency needed, by construction.
    *
    * Scale: one partial-agg'd hash aggregation over events; the corpus
    * max ts is a 1-row broadcast.
    */
  val tsDecay: Q = (spark, dir) => {
    val e = Tables(spark, dir, "events")
    val mx = e.agg(max(unix_micros(col("ts"))).as("mx"))
    e.crossJoin(broadcast(mx))
      .withColumn("age_d",
        least(expr("(mx - unix_micros(ts)) div 86400000000"), lit(20L)))
      .withColumn("cents", floor(col("value") * 100 + 0.5).cast("long"))
      .withColumn("scaled",
        col("cents") * expr("shiftleft(cast(1 as bigint), cast(20 - age_d as int))"))
      .groupBy("user_id")
      .agg(count(lit(1)).as("n_events"),
        Norm.r4tie(sum(col("scaled")).cast("double") / 1048576d / 100d)
          .as("decayed_value"))
      .orderBy("user_id")
  }

  /** CUSUM change-point scores over each event type's hourly count
    * series (the classic drift/level-shift monitor). The textbook
    * recurrence C_i = max(0, C_{i-1} + (x_i - μ)) is sequential, but it
    * has an exact closed form over prefix sums: with d_i = n·x_i - S
    * (the deviation scaled by n so μ = S/n stays integral),
    * P_i = Σ_{j≤i} d_j and C_i = P_i - min(0, min_{j≤i} P_j) — a plain
    * running-sum + running-min window pair. PropertySpec proves the
    * identity against a direct fold.
    *
    * Every quantity is exact BIGINT; the reported score C_i/n is one
    * final division of exact integers → identical doubles both engines.
    *
    * Scale: the groupBy shrinks events to O(types × hours) before any
    * window runs; the windows then sort thousands of rows, not events.
    */
  val tsCusum: Q = (spark, dir) => {
    import graft.api.ops._
    val e = Tables(spark, dir, "events")
    val hourly = e.groupBy(col("event_type"),
        date_trunc("hour", col("ts")).as("hr"))
      .agg(count(lit(1)).as("x"))
    val scored = hourly.cusumScores(col("event_type"), col("hr"), col("x"))
    val wPeak = Window.partitionBy("key")
      .orderBy(col("c").desc, col("time"))
    scored.select(col("key").as("event_type"),
        Norm.tstr(col("time")).as("hour"), col("x"),
        Norm.r4tie(col("c").cast("double") / col("n").cast("double"))
          .as("cusum"),
        (row_number().over(wPeak) === 1).as("is_cp"))
      .orderBy("event_type", "hour")
  }

  /** Single best changepoint per event-type hourly count series by
    * between-segment variance reduction (binary-segmentation step 1,
    * the CUSUM test's parametric sibling): for each interior split k,
    * gain(k) = S_k²/k + (S−S_k)²/(n−k) − S²/n, argmax over k with
    * ties to the earliest hour. Every sufficient statistic (S_k, S,
    * k, n) is an exact integer from window prefix sums; the gain is
    * one fixed-shape double expression over those ints, so both
    * engines rank identical IEEE values — no rounding needed before
    * the argmax, and the reported gain rounds tie-proof.
    *
    * Scale: events reduce to (types × hours) in the first partial-agg
    * groupBy; every window partitions by event_type — no single-
    * partition window, no driver state. Recursing the segmentation
    * (full binary seg) is this same query re-applied per segment.
    */
  val tsChangepoint: Q = (spark, dir) => {
    val e = Tables(spark, dir, "events")
    val hourly = e.groupBy(col("event_type"),
        date_trunc("hour", col("ts")).as("hr"))
      .agg(count(lit(1)).as("x"))
    val wOrd = Window.partitionBy("event_type").orderBy("hr")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wAll = Window.partitionBy("event_type")
    val scored = hourly
      .withColumn("k", row_number().over(
        Window.partitionBy("event_type").orderBy("hr")))
      .withColumn("sk", sum(col("x")).over(wOrd))
      .withColumn("n", count(lit(1)).over(wAll))
      .withColumn("s", sum(col("x")).over(wAll))
      .filter(col("k") < col("n"))
    val kd = col("k").cast("double")
    val nd = col("n").cast("double")
    val skd = col("sk").cast("double")
    val sd = col("s").cast("double")
    val rd = (col("s") - col("sk")).cast("double")
    val wPick = Window.partitionBy("event_type")
      .orderBy(col("score").desc, col("hr"))
    scored
      .withColumn("score",
        skd * skd / kd + rd * rd / (nd - kd) - sd * sd / nd)
      .withColumn("rn", row_number().over(wPick))
      .filter(col("rn") === 1)
      .select(col("event_type"), Norm.tstr(col("hr")).as("cp_hour"),
        col("k").cast("long").as("k"), col("n"),
        Norm.r4tie(col("score")).as("gain"))
      .orderBy("event_type")
  }

  /** Matrix-profile-style motif discovery (the MASS/matrix-profile
    * headline, exact form): per event-type hourly series, the closest
    * pair of NON-overlapping 24-hour windows under z-normalized
    * Euclidean distance — "which day-long pattern repeats most
    * exactly?". Window vectors come from an ordered 24-row frame;
    * their sufficient statistics (Σx, Σx² as exact BIGINTs) gate out
    * zero-variance windows with an integer inequality both engines
    * share.
    *
    * The distance uses the MASS identity dist² = 2w − 2·(dot −
    * w·μaμb)/(σaσb): the only pair-dependent term is the window dot
    * product, computed by the codegen [[graft.functions.DotArrays]]
    * kernel (sequential left fold — the exact shape DuckDB's
    * list_reduce replays) instead of a per-element interpreted
    * z-norm lambda; the per-window μ/σ come free from the BIGINT
    * sufficient statistics. That swap took the sf0.1 pair stage from
    * 27 s (1.1 M pairs × 24 interpreted lambda frames, serialized on
    * 5 per-type tasks) to sub-second. dist is 4dp-rounded tie-proof
    * BEFORE the per-type argmin with (i, j) tie order; the identity's
    * cancellation for near-identical windows can go ε-negative, so
    * dist² clamps at 0 with the same greatest() both engines share.
    *
    * Scale: the frame is (types × hours) — bounded by the time span,
    * not data volume (events partial-agg to hourly counts first) —
    * and the pair join is per-type. For long spans, band the join by
    * |i − j| or go FFT/MASS per partition; the knob is the same
    * bounded-frame argument every ts_* query documents.
    */
  val tsMotif: Q = (spark, dir) => {
    // argmin as a partial-agg'd min(struct) — (dist, i, j) is a total
    // order (i, j unique per type), so the lexicographic struct min IS
    // the (dist asc, i, j) rank-1 row without a 1.1M-row window sort
    motifPairFrame(spark, dir, 24, sym = false)
      .groupBy(col("event_type"))
      .agg(min(struct(col("dist"), col("i"), col("j"),
        col("hr_a"), col("hr_b"))).as("m"))
      .select(col("event_type"), Norm.tstr(col("m.hr_a")).as("motif_a"),
        Norm.tstr(col("m.hr_b")).as("motif_b"), col("m.dist").as("dist"))
      .orderBy("event_type")
  }

  /** Matrix-profile discord — motif's dual: per event-type hourly
    * series, the 24-hour window whose NEAREST non-overlapping
    * neighbor is farthest away — "which day looks like no other day?"
    * (the matrix-profile anomaly headline; a repeated anomaly is a
    * motif, a one-off is a discord). Same window frame, sufficient
    * statistics, MASS-identity distance, and 4dp rounding as
    * [[tsMotif]] via [[motifPairFrame]] (symmetric pairs: every
    * window needs its min over BOTH directions); then a hash-agg min
    * per window and a per-type argmax with (max nn_dist, earliest i)
    * tie order.
    *
    * Scale: identical bound to the motif — pairs are per-type over
    * the (types × hours) frame; the nn min is a hash aggregate keyed
    * (type, i), not a window, so it parallelizes across the full
    * shuffle width.
    */
  val tsDiscord: Q = (spark, dir) => {
    // argmax with earliest-window ties as a partial-agg'd max(struct):
    // −i inverts the tie direction (max nn_dist, then smallest i)
    motifPairFrame(spark, dir, 24, sym = true)
      .groupBy(col("event_type"), col("i"), col("hr_a"))
      .agg(min(col("dist")).as("nn_dist"))
      .groupBy(col("event_type"))
      .agg(max(struct(col("nn_dist"), (-col("i")).as("negi"),
        col("hr_a"))).as("m"))
      .select(col("event_type"),
        Norm.tstr(col("m.hr_a")).as("discord_hour"),
        col("m.nn_dist").as("nn_dist"))
      .orderBy("event_type")
  }

  /** Peak detection with a robust baseline — the alerting primitive
    * under every "traffic spike" dashboard: an hour is a peak of its
    * event type iff it STRICTLY exceeds every hour in its ±3h
    * neighborhood (plateaus are not peaks; both one-sided maxima must
    * be below x) AND clears 1.5× the ±12h rolling median baseline —
    * entirely integer comparisons (2x ≥ 3·med avoids the float
    * ratio; the median is the lower median of the sorted 25-row
    * window, exact on counts). Boundary hours without a full ±3 (or
    * ±12) neighborhood are ineligible rather than silently compared
    * against a truncated window.
    *
    * Scale: all windows ride the (types × hours) hourly frame —
    * volume-free after the first partial agg; the 25-element
    * sort-per-row is calendar-bounded.
    */
  val tsPeaks: Q = (spark, dir) => {
    val e = Tables(spark, dir, "events")
    val hourly = e.groupBy(col("event_type"),
        date_trunc("hour", col("ts")).as("hr"))
      .agg(count(lit(1)).as("x"))
    val wOrd = Window.partitionBy("event_type").orderBy("hr")
    val wPrev = wOrd.rowsBetween(-3, -1)
    val wNext = wOrd.rowsBetween(1, 3)
    val wMed = wOrd.rowsBetween(-12, 12)
    hourly
      .withColumn("mx_prev", max(col("x")).over(wPrev))
      .withColumn("n_prev", count(lit(1)).over(wPrev))
      .withColumn("mx_next", max(col("x")).over(wNext))
      .withColumn("n_next", count(lit(1)).over(wNext))
      .withColumn("base", collect_list(col("x")).over(wMed))
      .filter(col("n_prev") === 3 && col("n_next") === 3 &&
        size(col("base")) === 25)
      .withColumn("med", element_at(array_sort(col("base")), 13))
      .filter(col("x") > col("mx_prev") && col("x") > col("mx_next") &&
        col("x") * 2 >= col("med") * 3)
      .select(col("event_type"), Norm.tstr(col("hr")).as("peak_hour"),
        col("x"), col("med").as("baseline_med"))
      .orderBy("event_type", "peak_hour")
  }

  /** Rolling robust quantile bands — the non-parametric Bollinger:
    * per event-type hourly series, the exact p10/p50/p90 of the
    * ±12-hour window (lower-quantile convention: element ⌈q·25⌉ of
    * the sorted 25-row window — positions 3/13/23, pure integer
    * selection, no interpolation) plus the outside-the-band flag.
    * This is q_ts_anomaly's distribution-free sibling: the 3σ rule
    * assumes normality, the p10/p90 band doesn't. Reported for the
    * final 48 hours per type (the dashboard's live tail); boundary
    * hours without a full ±12 window are ineligible, not truncated.
    *
    * Scale: the 25-element sort-per-row rides the (types × hours)
    * frame — calendar-bounded, volume-free after the hourly agg.
    */
  val tsBands: Q = (spark, dir) => {
    val e = Tables(spark, dir, "events")
    val hourly = e.groupBy(col("event_type"),
        date_trunc("hour", col("ts")).as("hr"))
      .agg(count(lit(1)).as("x"))
      .withColumn("h", expr("unix_micros(hr) div 3600000000"))
    val wOrd = Window.partitionBy("event_type").orderBy("hr")
    val wBand = wOrd.rowsBetween(-12, 12)
    val wType = Window.partitionBy("event_type")
    hourly
      .withColumn("base", collect_list(col("x")).over(wBand))
      .withColumn("hmax", max(col("h")).over(wType))
      .filter(size(col("base")) === 25 && col("h") > col("hmax") - 48)
      .withColumn("s", array_sort(col("base")))
      .select(col("event_type"), Norm.tstr(col("hr")).as("hour"),
        col("x"), element_at(col("s"), 3).as("p10"),
        element_at(col("s"), 13).as("p50"),
        element_at(col("s"), 23).as("p90"),
        (col("x") < element_at(col("s"), 3) ||
          col("x") > element_at(col("s"), 23)).as("outside"))
      .orderBy("event_type", "hour")
  }

  /** Shared matrix-profile pair frame (q_ts_motif / q_ts_discord):
    * per-type w-hour window vectors over the hourly count series with
    * exact-BIGINT sufficient statistics (zero-variance windows gated
    * by the Cauchy–Schwarz equality case n·Σx² = (Σx)²), paired
    * non-overlapping (one-directional j − i ≥ w for the motif's
    * unordered argmin; symmetric |j − i| ≥ w for the discord's
    * per-window min), with the MASS-identity z-normalized distance
    * already 4dp-rounded. Columns: event_type, i, j, hr_a, hr_b, dist.
    */
  private def motifPairFrame(spark: SparkSession, dir: String, w: Int,
      sym: Boolean): DataFrame = {
    val e = Tables(spark, dir, "events")
    val hourly = e.groupBy(col("event_type"),
        date_trunc("hour", col("ts")).as("hr"))
      .agg(count(lit(1)).as("x"))
    val wOrd = Window.partitionBy("event_type").orderBy("hr")
    val wVec = wOrd.rowsBetween(Window.currentRow, w - 1)
    val wins = hourly
      .withColumn("i", row_number().over(wOrd))
      .withColumn("v", collect_list(col("x")).over(wVec))
      .filter(size(col("v")) === w)
      .withColumn("s1", aggregate(col("v"), lit(0L), _ + _))
      .withColumn("s2", aggregate(col("v"), lit(0L),
        (acc, x) => acc + x * x))
      // zero-variance gate on exact integers: n·Σx² == (Σx)² iff all
      // window values are equal (Cauchy-Schwarz equality case)
      .filter(col("s2") * w =!= col("s1") * col("s1"))
      .select(col("event_type"), col("i"), col("hr"),
        col("v").cast("array<double>").as("v"),
        (col("s1").cast("double") / w).as("mu"),
        sqrt((col("s2").cast("double") -
          col("s1").cast("double") * col("s1").cast("double") / w) / w)
          .as("sigma"))
    val a = wins.select(col("event_type"), col("i"), col("hr").as("hr_a"),
      col("v").as("va"), col("mu").as("mua"), col("sigma").as("sga"))
    val b = wins.select(col("event_type").as("et_b"), col("i").as("j"),
      col("hr").as("hr_b"), col("v").as("vb"), col("mu").as("mub"),
      col("sigma").as("sgb"))
    val dot = graft.functions.GraftFunctions.dot_arrays(col("va"), col("vb"))
    val dist = sqrt(greatest(
      lit(2.0 * w) - lit(2.0) *
        ((dot - lit(w.toDouble) * col("mua") * col("mub")) /
          (col("sga") * col("sgb"))),
      lit(0.0)))
    val gap = if (sym) abs(b("j") - a("i")) else b("j") - a("i")
    a.join(b, a("event_type") === b("et_b") && gap >= lit(w))
      .withColumn("dist", Norm.r4tie(dist))
      .select(col("event_type"), col("i"), col("j"), col("hr_a"),
        col("hr_b"), col("dist"))
  }

  /** Lag-1 and lag-24 autocorrelation of each event type's hourly count
    * series — the "is there day-over-day seasonality / short-term
    * momentum" diagnostic. Pearson r over (x_i, x_{i+k}) pairs with all
    * five sufficient statistics (Σx, Σy, Σx², Σy², Σxy) kept in exact
    * BIGINT; only the final normalized quotient touches doubles, with
    * the two variance factors cast to double BEFORE multiplying (their
    * BIGINT product could overflow at scale; the double product is the
    * same IEEE value in both engines).
    *
    * Scale: two window leads over the tiny (types × hours) frame, then
    * a 12-row aggregate. Events are reduced by the first groupBy.
    */
  val tsAutocorr: Q = (spark, dir) => {
    val e = Tables(spark, dir, "events")
    val hourly = e.groupBy(col("event_type"),
        date_trunc("hour", col("ts")).as("hr"))
      .agg(count(lit(1)).as("x"))
    val w = Window.partitionBy("event_type").orderBy("hr")
    // Both lags ride ONE pass: two lead columns, one aggregation
    // producing both stat sets (sum/count skip the null tail rows), an
    // explode to long form — the events scan and the hourly agg are
    // never duplicated the way a per-lag union would duplicate them.
    val paired = hourly
      .withColumn("y1", lead(col("x"), 1).over(w))
      .withColumn("y24", lead(col("x"), 24).over(w))
    def stats(y: String) = struct(
      count(col(y)).as("np"),
      sum(when(col(y).isNotNull, col("x"))).as("a1"),
      sum(col(y)).as("a2"),
      sum(when(col(y).isNotNull, col("x") * col("x"))).as("s11"),
      sum(col(y) * col(y)).as("s22"),
      sum(col("x") * col(y)).as("s12"))
    val st = col("e.st")
    paired.groupBy("event_type")
      .agg(stats("y1").as("l1"), stats("y24").as("l24"))
      .select(col("event_type"), explode(array(
        struct(lit(1L).as("lag"), col("l1").as("st")),
        struct(lit(24L).as("lag"), col("l24").as("st")))).as("e"))
      .select(col("event_type"), col("e.lag").as("lag"),
        st.getField("np").as("n_pairs"),
        Norm.r4((st.getField("np") * st.getField("s12") -
          st.getField("a1") * st.getField("a2")).cast("double") /
          sqrt((st.getField("np") * st.getField("s11") -
            st.getField("a1") * st.getField("a1")).cast("double") *
            (st.getField("np") * st.getField("s22") -
              st.getField("a2") * st.getField("a2")).cast("double")))
          .as("r"))
      .orderBy("event_type", "lag")
  }

  /** Hour-of-day seasonal profile per event type: each hour's share of
    * the type's traffic as a seasonal index (24 = all traffic in one
    * hour, 1 = flat), plus the peak-hour flag. The seasonal baseline a
    * forecaster subtracts before looking for anomalies.
    *
    * Index = 24·cnt/total — one division of exact BIGINTs.
    * Scale: partial-agg'd groupBy down to types × 24 cells.
    */
  val tsSeasonal: Q = (spark, dir) => {
    val e = Tables(spark, dir, "events")
    val cells = e.groupBy(col("event_type"), hour(col("ts")).as("hod"))
      .agg(count(lit(1)).as("cnt"))
    val wT = Window.partitionBy("event_type")
    val wPeak = Window.partitionBy("event_type")
      .orderBy(col("cnt").desc, col("hod"))
    cells
      .withColumn("total", sum(col("cnt")).over(wT))
      .select(col("event_type"), col("hod").cast("long").as("hod"),
        col("cnt"),
        Norm.r4tie(lit(24d) * col("cnt").cast("double") /
          col("total").cast("double")).as("seasonal_index"),
        (row_number().over(wPeak) === 1).as("is_peak"))
      .orderBy("event_type", "hod")
  }

  /** Mann-Kendall trend test over each type's hourly count series —
    * the nonparametric "is this metric monotonically drifting" monitor
    * (no normality assumption, robust to outliers). S = Σ_{i<j}
    * sgn(x_j − x_i) with the tie-corrected variance
    * (n(n−1)(2n+5) − Σ_t t(t−1)(2t+5))/18; z applies the standard
    * ±1 continuity correction; |z| > 1.96 labels the trend at α=0.05.
    * S, n and the 18·var numerator are exact BIGINTs — doubles appear
    * only in the final quotient.
    *
    * Scale: the pairwise comparison is a self-join of the HOURLY table
    * — O(hours²) per type is CALENDAR-bounded (30 days → 258k pairs),
    * independent of event volume; events reduce in the first groupBy.
    */
  val tsTrend: Q = (spark, dir) => {
    val e = Tables(spark, dir, "events")
    val hourly = e.groupBy(col("event_type"),
        date_trunc("hour", col("ts")).as("hr"))
      .agg(count(lit(1)).as("x"))
    val a = hourly.select(col("event_type").as("t"), col("hr").as("hi"),
      col("x").as("xi"))
    val b = hourly.select(col("event_type").as("t2"), col("hr").as("hj"),
      col("x").as("xj"))
    val s = a.join(b, col("t") === col("t2") && col("hi") < col("hj"))
      .groupBy(col("t").as("event_type"))
      .agg(sum(when(col("xj") > col("xi"), 1L)
        .when(col("xj") < col("xi"), -1L).otherwise(0L)).as("s"))
    val nrows = hourly.groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"))
    val ties = hourly.groupBy(col("event_type"), col("x"))
      .agg(count(lit(1)).as("tc"))
      .groupBy("event_type")
      .agg(sum(col("tc") * (col("tc") - 1) * (lit(2L) * col("tc") + 5))
        .as("tieadj"))
    val z = (col("s").cast("double") - signum(col("s").cast("double"))) /
      sqrt(col("v18").cast("double") / 18.0d)
    s.join(nrows, "event_type").join(ties, "event_type")
      .withColumn("v18",
        col("n") * (col("n") - 1) * (lit(2L) * col("n") + 5) - col("tieadj"))
      .withColumn("z", when(col("s") === 0, lit(0.0d)).otherwise(z))
      .select(col("event_type"), col("n"), col("s"), Norm.r4(col("z")).as("z"),
        when(col("z") > 1.96d, "increasing")
          .when(col("z") < -1.96d, "decreasing")
          .otherwise("none").as("trend"))
      .orderBy("event_type")
  }

  /** Single-frequency periodogram: the daily (24 h) and weekly (168 h)
    * Fourier amplitudes of each type's hourly count series — "how
    * strong is the diurnal/weekly cycle" in one number per period, the
    * spectral companion to q_ts_seasonal's profile. a = Σx·cos(2πt/P),
    * b = Σx·sin(2πt/P), amplitude = 2√(a²+b²)/n. The four trig sums
    * are LEFT FOLDS over the hour-sorted array (q_stats_chi2
    * discipline): both engines add the same doubles in the same order
    * (cos/sin may differ by 1 ulp per term — ~1e-13 relative on the
    * sum, invisible at 4dp). Phase angles come from exact integer
    * (hour-index mod P)/P fractions.
    *
    * Scale: events partial-agg to (types × hours); the fold array is
    * calendar-bounded (720 entries/month), never data-volume-sized.
    */
  val tsPeriodogram: Q = (spark, dir) => {
    val e = Tables(spark, dir, "events")
    val twoPi = lit(2 * math.Pi)
    val hourly = e.groupBy(col("event_type"),
        date_trunc("hour", col("ts")).as("hr"))
      .agg(count(lit(1)).as("x"))
      .withColumn("h", expr("unix_micros(hr) div 3600000000"))
    def ang(p: Int) =
      twoPi * (col("h") % p).cast("double") / lit(p.toDouble)
    val terms = hourly.select(col("event_type"), col("hr"),
      struct(col("hr"),
        (col("x").cast("double") * cos(ang(24))).as("c24"),
        (col("x").cast("double") * sin(ang(24))).as("s24"),
        (col("x").cast("double") * cos(ang(168))).as("c168"),
        (col("x").cast("double") * sin(ang(168))).as("s168")).as("e"))
    def fold(arr: Column, field: String): Column =
      aggregate(arr, lit(0.0d), (acc, e) => acc + e.getField(field))
    val agg = terms.groupBy("event_type")
      .agg(count(lit(1)).as("n_hours"),
        array_sort(collect_list(col("e"))).as("es"))
    val arr = col("es")
    val nD = col("n_hours").cast("double")
    def amp(c: String, s: String) = Norm.r4tie(
      lit(2.0d) * sqrt(fold(arr, c) * fold(arr, c) +
        fold(arr, s) * fold(arr, s)) / nD)
    agg.select(col("event_type"), col("n_hours"),
        amp("c24", "s24").as("amp_daily"),
        amp("c168", "s168").as("amp_weekly"))
      .orderBy("event_type")
  }

  /** Inter-arrival (gap) statistics per user — the latency/cadence
    * profile behind session-timeout and rate-limit tuning: for each
    * user with ≥ 2 events, the count, mean, min, and max of the gaps
    * between consecutive events. Gaps are exact integer microsecond
    * differences (lag over the per-user time order, event_id breaking
    * ts ties identically in both engines), summed as BIGINT; the mean
    * is the single float quotient at the end.
    *
    * Scale: one shuffle on user_id, per-partition sort for the lag,
    * partial-agg'd rollup — gap rows never leave their user partition.
    */
  val tsInterarrival: Q = (spark, dir) => {
    val e = Tables(spark, dir, "events")
    val wu = Window.partitionBy("user_id")
      .orderBy(col("ts"), col("event_id"))
    val gaps = e
      .select(col("user_id"), col("ts"), col("event_id"))
      .withColumn("gap_us",
        expr("unix_micros(ts)") - lag(expr("unix_micros(ts)"), 1).over(wu))
      .filter(col("gap_us").isNotNull)
    gaps.groupBy("user_id").agg(
        count(lit(1)).as("n_gaps"),
        sum("gap_us").as("sum_us"),
        min("gap_us").as("min_us"),
        max("gap_us").as("max_us"))
      .select(col("user_id"), col("n_gaps"),
        Norm.r4tie(col("sum_us").cast("double")
          / col("n_gaps").cast("double") / lit(1000000.0)).as("mean_gap_s"),
        Norm.r4tie(col("min_us").cast("double") / lit(1000000.0))
          .as("min_gap_s"),
        Norm.r4tie(col("max_us").cast("double") / lit(1000000.0))
          .as("max_gap_s"))
      .orderBy("user_id")
  }

  /** Holt linear (double-exponential) smoothing of the hourly event
    * count per type — level + trend state with a one-step-ahead
    * forecast, the simplest real forecaster over a business series.
    * The recurrence lₜ = α·xₜ + (1−α)(lₜ₋₁+bₜ₋₁); bₜ = β(lₜ−lₜ₋₁) +
    * (1−β)bₜ₋₁ runs as an ordered fold over the per-type hour series
    * with DYADIC α = β = 0.5: every intermediate is a finite binary
    * fraction of integer counts, so the fold is EXACT IEEE arithmetic
    * — no libm, no rounding drift — and the DuckDB twin replays it
    * with list_reduce to bit-identical state.
    *
    * Scale: series are pre-aggregated per (type, hour) — the fold
    * touches O(hours) elements per group, not O(events); state is 2
    * doubles. For very long series, chunk the fold with the same
    * closed-form the CUSUM op uses (the recurrence is linear, so
    * chunks compose by a 2×2 matrix product).
    */
  val tsHolt: Q = (spark, dir) => {
    import graft.api.ops._
    val e = Tables(spark, dir, "events")
    val hourly = e.groupBy(col("event_type"),
        date_trunc("hour", col("ts")).as("hr"))
      .agg(count(lit(1)).cast("double").as("x"))
    hourly.holtSmooth(col("event_type"), col("hr"), col("x"))
      .select(col("key").as("event_type"), col("n").as("n_hours"),
        Norm.r4tie(col("level")).as("level"),
        Norm.r4dn(col("trend")).as("trend"),
        Norm.r4dn(col("level") + col("trend")).as("forecast_next"))
      .orderBy("event_type")
  }

  /** Rolling one-step forecast backtest — the evaluation side of
    * q_ts_holt, because a forecaster without a backtest is a guess:
    * per event type, the Holt(0.5, 0.5) recursion's one-step-ahead
    * absolute errors over the whole hourly series (the fold IS the
    * rolling-origin backtest — each step's forecast uses exactly the
    * prior state), reported as MAE and as MASE (error relative to the
    * naive lag-1 forecaster — the standard scale-free skill metric;
    * < 1 beats naive). The naive denominator is EXACT: Σ|x_t − x_t₋₁|
    * over integer counts; the Holt SAE accumulates in fold order,
    * replayed step-for-step by the oracle's recursive CTE.
    *
    * Scale: the fold runs per type over the collected (types × hours)
    * series — the same bounded-frame argument as q_ts_holt; the naive
    * SAE is one lag window over the hourly frame.
    */
  val tsBacktest: Q = (spark, dir) => {
    import graft.api.ops._
    val e = Tables(spark, dir, "events")
    val hourly = e.groupBy(col("event_type"),
        date_trunc("hour", col("ts")).as("hr"))
      .agg(count(lit(1)).as("xi"))
    val holt = hourly.holtBacktest(col("event_type"), col("hr"),
      col("xi"))
    val wOrd = Window.partitionBy("event_type").orderBy("hr")
    val naive = hourly
      .withColumn("prev", lag(col("xi"), 1).over(wOrd))
      .filter(col("prev").isNotNull)
      .groupBy(col("event_type"))
      .agg(sum(abs(col("xi") - col("prev"))).as("naive_sae"))
    holt.join(naive, col("key") === col("event_type"))
      .select(col("event_type"), col("n").as("n_hours"),
        Norm.r4tie(col("sae") / (col("n") - 1).cast("double")).as("mae"),
        Norm.r4tie(col("sae") / col("naive_sae").cast("double"))
          .as("mase"))
      .orderBy("event_type")
  }

  /** Theil-Sen robust trend estimate per event type — the median of
    * all pairwise slopes over the hourly series, the outlier-immune
    * alternative to the OLS slope (q_agg_linreg) and the magnitude
    * companion to Mann-Kendall's direction test (q_ts_trend). Slopes
    * are quotients of the same integers in both engines (identical
    * doubles); the median is picked POSITIONALLY — row_number over
    * (slope, h1, h2) at index (n+1)÷2 — so even tied slopes resolve
    * identically, with no averaging of middle elements.
    *
    * Scale: the pair join is per-type over the PRE-AGGREGATED hourly
    * series (O(hours²) pairs per type, not O(events²)); for
    * year-scale series switch to the classic randomized-pair sample —
    * the median is stable under sampling, the plan shape unchanged.
    */
  val tsTheilSen: Q = (spark, dir) => {
    import graft.api.ops._
    val e = Tables(spark, dir, "events")
    val hourly = e.groupBy(col("event_type"),
        date_trunc("hour", col("ts")).as("hr"))
      .agg(count(lit(1)).as("x"))
      .withColumn("h", expr("unix_micros(hr) div 3600000000"))
    hourly.theilSenSlope(col("event_type"), col("h"), col("x"))
      .select(col("key").as("event_type"), col("n_pairs"),
        Norm.r4dn(col("slope")).as("sen_slope"))
      .orderBy("event_type")
  }

  /** Markov-chain (removal-effect) attribution — the data-driven
    * alternative to last-touch ([[attribution]]): model each user's
    * pre-conversion path as a first-order chain over touch channels,
    * and credit channel c by how much the start→conversion absorption
    * probability DROPS when c is removed (transitions into c redirect
    * to the null sink). The heavy half is distributed: episode
    * extraction (events strictly before the user's first purchase)
    * and transition counting shuffle once by user and reduce to a
    * ≤ 6×7 count matrix. The absorption solve is a bounded
    * driver-side iteration over that matrix (the Lloyd-centroid
    * precedent: k×k state, not data-sized), folding in SORTED-dst
    * order with probabilities that are quotients of the same integers
    * in both engines — the DuckDB twin replays the identical K = 60
    * ordered-fold iterations in a recursive CTE, so results match
    * bit-for-bit.
    *
    * Scale: transition counting is one user-shuffle + partial-agg'd
    * (src, dst) rollup; the driver matrix is channels², independent
    * of data volume. K truncates the absorption series identically
    * on both sides (transparent in the compare, geometric in error).
    */
  val attributionMarkov: Q = (spark, dir) => {
    val chans = Seq("click", "error", "signup", "view")
    val e = Tables(spark, dir, "events")
    val firstP = e.filter(col("event_type") === "purchase")
      .groupBy("user_id")
      .agg(min(struct(col("ts"), col("event_id"))).as("fp"))
    val path = e.join(firstP, Seq("user_id"), "left")
      .filter(col("event_type").isin(chans: _*))
      .filter(col("fp").isNull ||
        struct(col("ts"), col("event_id")) < col("fp"))
      .select(col("user_id"), col("event_type").as("ch"),
        col("ts"), col("event_id"))
    val wu = Window.partitionBy("user_id")
      .orderBy(col("ts"), col("event_id"))
    val steps = path
      .select(coalesce(lag(col("ch"), 1).over(wu), lit("start"))
        .as("src"), col("ch").as("dst"))
    val lastCh = path.groupBy("user_id")
      .agg(max_by(col("ch"), struct(col("ts"), col("event_id")))
        .as("last_ch"))
    val term = e.select("user_id").distinct()
      .join(lastCh, Seq("user_id"), "left")
      .join(firstP, Seq("user_id"), "left")
      .select(coalesce(col("last_ch"), lit("start")).as("src"),
        when(col("fp").isNotNull, "conv").otherwise("null").as("dst"))
    val counts = steps.unionByName(term)
      .groupBy("src", "dst").agg(count(lit(1)).as("n"))
      .collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    // Bounded driver-side absorption solve, K iterations, dst-sorted
    // folds — mirrored exactly by the oracle's recursive CTE.
    val K = 60
    def absorb(removed: Option[String]): Double = {
      val adj = counts.toSeq
        .filterNot { case ((s, _), _) => removed.contains(s) }
        .map { case ((s, d), n) =>
          (s, if (removed.contains(d)) "null" else d) -> n }
        .groupBy(_._1).map { case (k, v) => k -> v.map(_._2).sum }
      val totals = adj.groupBy(_._1._1)
        .map { case (s, m) => s -> m.values.sum }
      val transient = "start" +: chans
      var p = transient.map(_ -> 0.0).toMap
      for (_ <- 1 to K) {
        p = transient.map { s =>
          val tot = totals.getOrElse(s, 0L)
          if (tot == 0L) s -> 0.0
          else s -> adj.toSeq.filter(_._1._1 == s).sortBy(_._1._2)
            .foldLeft(0.0) { case (acc, ((_, d), n)) =>
              val pd = d match {
                case "conv" => 1.0
                case "null" => 0.0
                case t => p(t)
              }
              acc + (n.toDouble / tot.toDouble) * pd
            }
        }.toMap
      }
      p("start")
    }
    val pFull = absorb(None)
    val re = chans.map(c => c -> (pFull - absorb(Some(c))))
    val sumRe = re.foldLeft(0.0)(_ + _._2)
    import spark.implicits._
    re.map { case (c, r) =>
        (c, pFull, r, if (sumRe == 0.0) 0.0 else r / sumRe) }
      .toDF("channel", "p_conv", "removal_effect", "attr_share")
      .select(col("channel"), Norm.r4tie(col("p_conv")).as("p_conv"),
        Norm.r4dn(col("removal_effect")).as("removal_effect"),
        Norm.r4dn(col("attr_share")).as("attr_share"))
      .orderBy("channel")
  }

  /** Classical additive decomposition of each type's hourly series —
    * x = trend + seasonal + residual, the non-iterative STL
    * predecessor: trend is a centered 25 h rolling mean (exact
    * integer sum / window count), the hour-of-day seasonal index is
    * hodMean − grandMean (both quotients of BIGINTs), and the
    * residual is what's left. Every aggregate is integer-exact; the
    * three float subtractions are the same expression tree in both
    * engines. Emits the decomposition for the last 48 hours per type
    * (the inspection window), keeping output bounded.
    *
    * Scale: one events partial-agg to (type, hour); the rolling mean
    * rides one per-type window sort; the seasonal index is a 24-row
    * broadcast join back.
    */
  val tsDecompose: Q = (spark, dir) => {
    val e = Tables(spark, dir, "events")
    val hourly = e.groupBy(col("event_type"),
        date_trunc("hour", col("ts")).as("hr"))
      .agg(count(lit(1)).as("x"))
      .withColumn("h", expr("unix_micros(hr) div 3600000000"))
      .withColumn("hod", (col("h") % 24).cast("int"))
    val wRoll = Window.partitionBy("event_type").orderBy("h")
      .rowsBetween(-12, 12)
    val wType = Window.partitionBy("event_type")
    val withTrend = hourly
      .withColumn("trend", sum(col("x")).over(wRoll).cast("double")
        / count(lit(1)).over(wRoll).cast("double"))
      .withColumn("gsum", sum(col("x")).over(wType))
      .withColumn("gn", count(lit(1)).over(wType))
      .withColumn("hmax", max(col("h")).over(wType))
    val hod = hourly.groupBy("event_type", "hod")
      .agg(sum(col("x")).as("hsum"), count(lit(1)).as("hn"))
    withTrend.join(broadcast(hod), Seq("event_type", "hod"))
      .withColumn("seasonal",
        col("hsum").cast("double") / col("hn").cast("double")
          - col("gsum").cast("double") / col("gn").cast("double"))
      .filter(col("h") > col("hmax") - 48)
      .select(col("event_type"), col("h"), col("x"),
        Norm.r4tie(col("trend")).as("trend"),
        Norm.r4dn(col("seasonal")).as("seasonal"),
        Norm.r4dn(col("x").cast("double") - col("trend")
          - col("seasonal")).as("residual"))
      .orderBy("event_type", "h")
  }

  /** Lagged cross-correlation between the click and purchase hourly
    * series — the lead-lag detector ("do clicks predict purchases L
    * hours later?"): Pearson r of (clickₜ, purchaseₜ₊L) for L ∈
    * [−3, 3], every sufficient statistic an exact BIGINT over the
    * joined overlap, one float closed form per lag. The argmax lag is
    * the reporting headline; all 7 lags are emitted.
    *
    * Scale: both series are pre-aggregated to hours; the lag
    * alignment is a 7×-exploded equi-join on the shifted hour index —
    * calendar-bounded rows, volume-independent.
    */
  val tsCrosscorr: Q = (spark, dir) => {
    val e = Tables(spark, dir, "events")
    val hourly = e.groupBy(col("event_type"),
        date_trunc("hour", col("ts")).as("hr"))
      .agg(count(lit(1)).as("n"))
      .withColumn("h", expr("unix_micros(hr) div 3600000000"))
    val hc = hourly.filter(col("event_type") === "click")
      .select(col("h"), col("n").as("x"))
    val hp = hourly.filter(col("event_type") === "purchase")
      .select(col("h").as("hp"), col("n").as("y"))
    val lagged = hc
      .withColumn("lag_h", explode(sequence(lit(-3), lit(3))))
      .join(hp, col("hp") === col("h") + col("lag_h"))
    val agg = lagged.groupBy("lag_h").agg(
      count(lit(1)).as("n"),
      sum(col("x")).as("sx"), sum(col("y")).as("sy"),
      sum(col("x") * col("y")).as("sxy"),
      sum(col("x") * col("x")).as("sxx"),
      sum(col("y") * col("y")).as("syy"))
    def d(c: String) = col(c).cast("double")
    val r = (d("n") * d("sxy") - d("sx") * d("sy")) /
      sqrt((d("n") * d("sxx") - d("sx") * d("sx"))
        * (d("n") * d("syy") - d("sy") * d("sy")))
    agg.select(col("lag_h"), col("n").as("n_hours"),
        Norm.r4dn(r).as("r"))
      .orderBy("lag_h")
  }

  /** Time-to-convert distribution — the funnel-latency report: per
    * user, the gap between first signup and the first purchase AFTER
    * it; the conversion rate and positional quartiles + p90 of the
    * gap (exact-µs integer deltas, ranks tie-broken by user_id, the
    * same index arithmetic as the IQR op — no interpolation, no
    * float drift).
    *
    * Scale: two user-keyed min-rollups and one join — all partial-
    * agg'd; the rank pass is a range-partitioned parallel sort of the
    * CONVERTED-USER table (bounded by users, not events) via
    * [[graft.api.ops.GraftDataFrameOps.globalRowNumber]] — no
    * single-partition window; the signup count and the rank-table
    * count are 1-row broadcast crossJoins, not driver actions, so the
    * whole query is one job.
    */
  val tsTimeToConvert: Q = (spark, dir) => {
    import graft.api.ops._
    val e = Tables(spark, dir, "events")
    val su = e.filter(col("event_type") === "signup")
      .groupBy("user_id")
      .agg(min(struct(col("ts"), col("event_id"))).as("su"))
    val pu = e.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("ts"), col("event_id"))
      .join(su, "user_id")
      .filter(struct(col("ts"), col("event_id")) > col("su"))
      .groupBy("user_id")
      .agg((min(expr("unix_micros(ts)"))
        - min(expr("unix_micros(su.ts)"))).as("gap_us"))
    val ranked = pu
      .globalRowNumber(Seq(col("gap_us"), col("user_id")), "rn")
    // ranked is checkpointed by globalRowNumber, so the 1-row count
    // branch re-reads the pinned rank table, not the events scan.
    val nConv = ranked.groupBy().agg(count(lit(1)).as("n"))
    val nSign = su.groupBy().agg(count(lit(1)).as("n_signups"))
    def at(idx: Column) = min(when(col("rn") === idx, col("gap_us")))
    ranked.crossJoin(broadcast(nConv)).groupBy().agg(
        max(col("n")).as("n_converted"),
        at(greatest(expr("(n + 3) div 4"), lit(1))).as("p25_us"),
        at(expr("(n + 1) div 2")).as("p50_us"),
        at(least(expr("(3 * (n + 1)) div 4"), col("n"))).as("p75_us"),
        at(least(expr("(9 * (n + 1)) div 10"), col("n"))).as("p90_us"))
      .crossJoin(broadcast(nSign))
      .select(col("n_signups"), col("n_converted"),
        Norm.r4tie(col("n_converted").cast("double")
          / col("n_signups").cast("double")).as("cvr"),
        Norm.r4tie(col("p25_us").cast("double") / 1000000.0).as("p25_s"),
        Norm.r4tie(col("p50_us").cast("double") / 1000000.0).as("p50_s"),
        Norm.r4tie(col("p75_us").cast("double") / 1000000.0).as("p75_s"),
        Norm.r4tie(col("p90_us").cast("double") / 1000000.0).as("p90_s"))
  }

  /** Conditional transition entropy H(next | prev) per source state —
    * how predictable behavior is after each event type (0 bits =
    * deterministic next step, log₂5 ≈ 2.32 = uniform): transition
    * counts from the per-user lag, then per source the ordered fold
    * of (n_sd/n_s)·log₂(n_s/n_sd) over dst-sorted terms. Counts are
    * exact BIGINTs; log₂ touches only the ≤5×5 probability table.
    *
    * Scale: one user shuffle for the lag, partial-agg'd (src, dst)
    * rollup, arithmetic on the bounded transition table.
    */
  val seqEntropy: Q = (spark, dir) => {
    val e = Tables(spark, dir, "events")
    val wu = Window.partitionBy("user_id")
      .orderBy(col("ts"), col("event_id"))
    val trans = e
      .select(col("user_id"), col("event_type").as("dst"),
        lag(col("event_type"), 1).over(wu).as("src"))
      .filter(col("src").isNotNull)
      .groupBy("src", "dst").agg(count(lit(1)).as("n_sd"))
    val withTot = trans
      .withColumn("n_s", sum("n_sd").over(Window.partitionBy("src")))
      .withColumn("term", struct(col("dst"),
        (col("n_sd").cast("double") / col("n_s").cast("double")
          * log2(col("n_s").cast("double") / col("n_sd").cast("double")))
          .as("t")))
    withTot.groupBy("src")
      .agg(max(col("n_s")).as("n_transitions"),
        count(lit(1)).as("n_dsts"),
        aggregate(array_sort(collect_list(col("term"))), lit(0.0),
          (acc, e2) => acc + e2.getField("t")).as("h"))
      .select(col("src"), col("n_transitions"), col("n_dsts"),
        Norm.r4tie(col("h")).as("entropy_bits"))
      .orderBy("src")
  }

  /** Token-bucket rate-limit audit — replay each user's event stream
    * through a 5-token bucket refilling 1 token/hour and report how
    * many events the quota would admit (the capacity-planning
    * question behind every API limiter). The simulation is an ordered
    * fold whose state is ONE packed BIGINT (tokens-in-µs · 2²⁰ +
    * admitted-count) over pre-computed integer µs gaps — all-integer
    * arithmetic, bit-exact on any engine, and a SCALAR accumulator on
    * purpose: DuckDB 1.0's list_reduce corrupts multi-field struct
    * accumulators (see q_ts_holt), packing sidesteps it.
    *
    * Scale: one user shuffle for the lag + fold; state is a constant
    * 8 bytes per user regardless of event count.
    */
  val tsRateLimit: Q = (spark, dir) => {
    val e = Tables(spark, dir, "events")
    val wu = Window.partitionBy("user_id")
      .orderBy(col("ts"), col("event_id"))
    val gaps = e
      .select(col("user_id"), col("ts"), col("event_id"))
      .withColumn("dt",
        coalesce(expr("unix_micros(ts)")
          - lag(expr("unix_micros(ts)"), 1).over(wu), lit(0L)))
    val folded = gaps.groupBy("user_id")
      .agg(count(lit(1)).as("n_events"),
        array_sort(collect_list(struct(col("ts"), col("event_id"),
          col("dt")))).as("es"))
      // acc = tokens_us * 2^26 + n_allowed; cap 5 tokens = 1.8e10 us,
      // cost 1 token = 3.6e9 us. 1.8e10 · 2^26 ≈ 1.21e18 < 2^63, and
      // the low field holds ~67M admitted events per user before
      // overflow — a hard bound, but far above any per-user event
      // count a production limiter audit would see (2^20 was the old
      // width: a documented silent-corruption risk past 1M events).
      .withColumn("acc", expr("""
        aggregate(es, 18000000000L * 67108864L,
          (a, x) -> IF(least(18000000000L, a div 67108864 + x.dt)
                       >= 3600000000,
            (least(18000000000L, a div 67108864 + x.dt) - 3600000000)
              * 67108864 + a % 67108864 + 1,
            least(18000000000L, a div 67108864 + x.dt) * 67108864
              + a % 67108864))"""))
    folded.select(col("user_id"), col("n_events"),
        expr("acc % 67108864").as("n_allowed"),
        (col("n_events") - expr("acc % 67108864")).as("n_denied"),
        Norm.r4tie(expr("acc % 67108864").cast("double")
          / col("n_events").cast("double")).as("allow_rate"))
      .orderBy("user_id")
  }

  /** Intervention (before/after) analysis — "did the Jan-16 change
    * move the metric?": per event type, pre vs post mean event value
    * with a Welch t statistic, the time-based sibling of the user-
    * split A/B test (q_abtest). Moments are exact integer cents; the
    * t closed form is the identical expression tree in both engines.
    *
    * Scale: one partial-agg'd pass to types × {pre, post} sufficient-
    * statistic cells; no shuffle after.
    */
  val tsIntervention: Q = (spark, dir) => {
    val cut = lit("2024-01-16 00:00:00").cast("timestamp")
    val e = Tables(spark, dir, "events")
      .select(col("event_type"),
        when(col("ts") < cut, "pre").otherwise("post").as("phase"),
        floor(col("value") * 100 + 0.5).cast("long").as("c"))
    val s = e.groupBy("event_type", "phase")
      .agg(count(lit(1)).as("n"), sum(col("c")).as("s1"),
        sum(col("c") * col("c")).as("s2"))
    def side(p: String) = s.filter(col("phase") === p)
      .select(col("event_type"), col("n").as(s"n_$p"),
        col("s1").as(s"s1_$p"), col("s2").as(s"s2_$p"))
    def mean(p: String) =
      col(s"s1_$p").cast("double") / col(s"n_$p").cast("double")
    def vr(p: String) =
      (col(s"s2_$p").cast("double") - col(s"s1_$p").cast("double")
        * col(s"s1_$p").cast("double") / col(s"n_$p").cast("double")) /
        (col(s"n_$p").cast("double") - lit(1.0))
    val t = (mean("post") - mean("pre")) /
      sqrt(vr("post") / col("n_post").cast("double")
        + vr("pre") / col("n_pre").cast("double"))
    side("pre").join(side("post"), "event_type")
      .select(col("event_type"), col("n_pre"), col("n_post"),
        Norm.r4tie(mean("pre")).as("mean_pre_cents"),
        Norm.r4tie(mean("post")).as("mean_post_cents"),
        Norm.r4dn(t).as("welch_t"),
        (abs(t) > 1.96).as("significant"))
      .orderBy("event_type")
  }

  /** Week-over-week change per event type — the dashboard staple:
    * ISO-week event counts and revenue cents, each with its previous
    * week's value (lag) and percent change (bp-exact: Δ·10⁴/prev on
    * integers, floor-divided, so the basis-point figure is itself an
    * exact integer — no float percentages at all). Weeks key on the
    * FULL (ISO week-year, ISO week) pair — week number alone would
    * collapse the same week number from different years into one cell
    * and lag numerically rather than chronologically across a year
    * boundary.
    *
    * Scale: one partial-agg'd pass to types × weeks; the lag window
    * re-shuffles only the bounded weekly table.
    */
  val tsWow: Q = (spark, dir) => {
    val e = Tables(spark, dir, "events")
    val weekly = e.groupBy(col("event_type"),
        expr("extract(YEAROFWEEK FROM ts)").cast("int").as("wyear"),
        weekofyear(col("ts")).as("week"))
      .agg(count(lit(1)).as("n"),
        sum(floor(col("value") * 100 + 0.5).cast("long")).as("cents"))
    val w = Window.partitionBy("event_type").orderBy("wyear", "week")
    weekly
      .withColumn("prev_n", lag(col("n"), 1).over(w))
      .withColumn("prev_cents", lag(col("cents"), 1).over(w))
      .filter(col("prev_n").isNotNull)
      // floor of an exact double quotient, NOT integer `div`: Spark's
      // div truncates toward zero while DuckDB's // floors, so they'd
      // disagree on every negative change
      .select(col("event_type"), col("wyear"), col("week"), col("n"),
        col("prev_n"),
        floor(((col("n") - col("prev_n")) * 10000).cast("double")
          / col("prev_n").cast("double")).cast("long")
          .as("n_change_bp"),
        col("cents"), col("prev_cents"),
        floor(((col("cents") - col("prev_cents")) * 10000).cast("double")
          / col("prev_cents").cast("double")).cast("long")
          .as("cents_change_bp"))
      .orderBy("event_type", "wyear", "week")
  }

  /** VaR/CVaR of day-over-day revenue drops per type — the tail-risk
    * pair every ops dashboard wants next to the mean: loss_t =
    * cents_{t−1} − cents_t (positive = revenue fell), VaR95 is the
    * positional 95th-percentile loss (exact integer ranks, the IQR
    * op's index arithmetic — no interpolation) and CVaR95 the exact
    * integer mean of losses ≥ VaR (Expected Shortfall, the coherent
    * one of the two). All losses are exact BIGINT cents; the only
    * doubles are the two final /100 rescales and the CVaR division.
    *
    * Scale: events pre-aggregate to (type, day) — the lag/rank
    * windows run on calendar-sized frames; the rank pass is per-type
    * (bounded partitions), never a global sort.
    */
  val tsVarCvar: Q = (spark, dir) => {
    val e = Tables(spark, dir, "events")
    val daily = e.groupBy(col("event_type"), to_date(col("ts")).as("day"))
      .agg(sum(floor(col("value") * 100 + 0.5).cast("long")).as("cents"))
    val wl = Window.partitionBy("event_type").orderBy("day")
    val losses = daily
      .withColumn("loss", lag(col("cents"), 1).over(wl) - col("cents"))
      .filter(col("loss").isNotNull)
    val wr = Window.partitionBy("event_type")
      .orderBy(col("loss"), col("day"))
    val ranked = losses
      .withColumn("rn", row_number().over(wr))
      .withColumn("n", count(lit(1)).over(Window.partitionBy("event_type")))
      .withColumn("k",
        least(greatest(expr("(19 * (n + 1)) div 20"), lit(1)), col("n")))
    val varPer = ranked.filter(col("rn") === col("k"))
      .select(col("event_type"), col("loss").as("var_cents"), col("n"))
    ranked.join(varPer.select(col("event_type"),
        col("var_cents")), Seq("event_type"))
      .filter(col("loss") >= col("var_cents"))
      .groupBy("event_type")
      .agg(count(lit(1)).as("n_tail"), sum("loss").as("tail_cents"))
      .join(varPer, Seq("event_type"))
      .select(col("event_type"), col("n").as("n_days"),
        (col("var_cents").cast("double") / 100.0).as("var95_usd"),
        Norm.r4tie(col("tail_cents").cast("double")
          / col("n_tail").cast("double") / 100.0).as("cvar95_usd"),
        col("n_tail"))
      .orderBy("event_type")
  }

  /** Hurst exponent by rescaled-range (R/S) analysis of the hourly
    * series per type — the long-memory diagnostic (H ≈ 0.5 random
    * walk, H > 0.5 trending/persistent, H < 0.5 mean-reverting) that
    * decides whether naive day-over-day forecasts are even admissible.
    * The series splits into non-overlapping chunks at three window
    * sizes w ∈ {30, 60, 120}; per chunk, R/S is computed in the
    * OVERFLOW-SAFE integer form R·w / (w·S) where both the range of
    * cumulative deviations and the variance argument are pre-scaled
    * by w: cumdev·w = w·cumsum − t·sum and w²·S² = w·Σx² − sum² are
    * exact BIGINTs, so R/S = (max−min of cumdev·w) / sqrt(w·Σx²−sum²)
    * is ONE division of identical exact integers on both engines.
    * Per-(type,w) means of the chunk R/S values use the ordered-fold
    * sum (sort by chunk index, then fold — partial-agg summation
    * order must not differ between engines), and H is the 3-point
    * log-log regression slope.
    *
    * Scale: the series pre-aggregates to O(hours) rows; chunk
    * statistics are one hash-agg over (type, w, chunk) keys (the 3×
    * row explosion is over the HOURLY frame, not events); the fold
    * arrays are chunk-count-sized. For year-scale series everything
    * stays O(hours in calendar) — event volume only touches the
    * first agg.
    */
  val tsHurst: Q = (spark, dir) => {
    val e = Tables(spark, dir, "events")
    val hourly = e.groupBy(col("event_type"),
        date_trunc("hour", col("ts")).as("hr"))
      .agg(count(lit(1)).as("x"))
    val w = Window.partitionBy("event_type").orderBy("hr")
    val chunks = hourly
      .withColumn("t0", (row_number().over(w) - 1).cast("long"))
      .withColumn("wsz", explode(array(lit(30L), lit(60L), lit(120L))))
      .withColumn("chunk", expr("t0 div wsz"))
      .withColumn("t", col("t0") % col("wsz") + 1)
    val wc = Window.partitionBy("event_type", "wsz", "chunk")
    val dev = chunks
      .withColumn("cum", sum("x").over(wc.orderBy("t")))
      .withColumn("stot", sum("x").over(wc))
      // cumdev pre-scaled by w: exact BIGINT (safe through ~10⁷
      // events/hour; decimal(38,0) beyond — the statsDeltaMethod
      // discipline)
      .withColumn("d", col("cum") * col("wsz") - col("t") * col("stot"))
    val rs = dev.groupBy("event_type", "wsz", "chunk")
      .agg(count(lit(1)).as("nc"),
        sum("x").as("sx"), sum(col("x") * col("x")).as("sxx"),
        max("d").as("mxd"), min("d").as("mnd"))
      .filter(col("nc") === col("wsz"))           // complete chunks only
      .filter(col("wsz") * col("sxx") > col("sx") * col("sx")) // S > 0
      .withColumn("rs", (col("mxd") - col("mnd")).cast("double") /
        sqrt((col("wsz") * col("sxx") - col("sx") * col("sx"))
          .cast("double")))
    // mean of chunk R/S per (type, w): ordered fold, not avg() — the
    // identical doubles must also SUM in the identical order
    val folded = rs.groupBy("event_type", "wsz")
      .agg(collect_list(struct(col("chunk"), col("rs"))).as("arr"))
      .select(col("event_type"), col("wsz"),
        size(col("arr")).as("n_chunks"),
        (aggregate(array_sort(col("arr")), lit(0.0),
          (acc, s) => acc + s.getField("rs")) /
          size(col("arr")).cast("double")).as("avg_rs"))
    val wide = folded.groupBy("event_type")
      .agg(max(when(col("wsz") === 30, col("avg_rs"))).as("a30"),
        max(when(col("wsz") === 60, col("avg_rs"))).as("a60"),
        max(when(col("wsz") === 120, col("avg_rs"))).as("a120"),
        sum(col("n_chunks")).as("n_chunks"))
    // the 3 window sizes are log-equidistant (ratio 2), so the 3-point
    // log-log regression slope collapses to (ln a120 − ln a30)/(2 ln 2);
    // the denominator is interpolated as a plan literal so both engines
    // parse the identical double
    val twoLn2 = 2.0 * math.log(2.0)
    wide.select(col("event_type"), col("n_chunks"),
        Norm.r4tie(col("a30")).as("avg_rs_30"),
        Norm.r4tie(col("a60")).as("avg_rs_60"),
        Norm.r4tie(col("a120")).as("avg_rs_120"),
        Norm.r4tie((log(col("a120")) - log(col("a30"))) / lit(twoLn2))
          .as("hurst"))
      .orderBy("event_type")
  }

  /** SAX symbolization (Lin et al.) of the hourly series per type:
    * PAA-compress the ordered hours into 8 equal segments
    * (seg = (rn−1)·8 div n — exact integer bucketing, no float
    * boundaries), then assign each segment a 4-letter alphabet symbol
    * by ntile(4) over the segment means — the data-adaptive quantile
    * breakpoints variant (both engines' ntile distributes remainders
    * to leading tiles identically, and the ORDER BY key is the
    * UNROUNDED quotient of exact integers — identical IEEE doubles on
    * both sides — with the segment index as tiebreak). SAX words are
    * what motif/novelty indexes store instead of raw series.
    *
    * Scale: the series is pre-aggregated to O(hours) rows per type;
    * segments are a fixed 8 per type, so the ntile window runs on a
    * bounded frame. Nothing here grows with event count except the
    * first hash agg.
    */
  val tsSax: Q = (spark, dir) => {
    val e = Tables(spark, dir, "events")
    val hourly = e.groupBy(col("event_type"),
        date_trunc("hour", col("ts")).as("hr"))
      .agg(count(lit(1)).as("x"))
    val w = Window.partitionBy("event_type").orderBy("hr")
    val seg = hourly
      .withColumn("rn", row_number().over(w))
      .withColumn("nh", count(lit(1)).over(Window.partitionBy("event_type")))
      .withColumn("seg", expr("((rn - 1) * 8) div nh"))
    val segs = seg.groupBy("event_type", "seg")
      .agg(count(lit(1)).as("n_hours"), sum("x").as("sx"))
      .withColumn("mean_key",
        col("sx").cast("double") / col("n_hours").cast("double"))
    val ws = Window.partitionBy("event_type")
      .orderBy(col("mean_key"), col("seg"))
    segs.withColumn("q", ntile(4).over(ws))
      .select(col("event_type"), col("seg"), col("n_hours"),
        Norm.r4tie(col("mean_key")).as("seg_mean"),
        expr("char(96 + q)").as("sym"))
      .orderBy("event_type", "seg")
  }

  /** Dynamic-time-warping distance between the per-type DAILY series —
    * the alignment-tolerant series distance (a one-day phase shift
    * costs ~nothing, unlike Euclidean). Full O(n·m) DP with L1 cost on
    * integer daily counts, so every DP cell is an exact BIGINT.
    *
    * The recurrence D[i][j] = |aᵢ−bⱼ| + min(D[i−1][j], D[i][j−1],
    * D[i−1][j−1]) is sequential in both indices, which no flat
    * fold can express — but cells on one ANTI-DIAGONAL d = i+j depend
    * only on diagonals d−1 and d−2, so the whole DP is a fold over
    * d = 1..n+m carrying two diagonal arrays as state: `aggregate`
    * over a `sequence`, each new diagonal a pure `transform` (no
    * intra-step dependency). The DuckDB twin replays the identical
    * wavefront as a recursive CTE carrying the two LIST columns.
    * Out-of-range lookups are guarded to +INF (element_at is 1-based
    * and ANSI-throws on 0, hence the explicit bounds CaseWhen; DuckDB
    * list_extract returns NULL, coalesced to the same INF).
    *
    * Scale: series length is CALENDAR-bounded (days in the window), so
    * the DP is O(days²) per pair and pairs are O(|types|²) — both
    * independent of event count; the only data-sized work is the first
    * daily hash-agg. For year-scale series, swap in the banded
    * (Sakoe–Chiba) variant: clamp each diagonal's transform range to
    * the band — same fold, shorter arrays.
    */
  val tsDtw: Q = (spark, dir) => {
    val e = Tables(spark, dir, "events")
    val daily = e.groupBy(col("event_type"), to_date(col("ts")).as("day"))
      .agg(count(lit(1)).as("x"))
    val arrs = daily.groupBy("event_type")
      .agg(transform(array_sort(collect_list(struct(col("day"), col("x")))),
          s => s.getField("x")).as("arr"),
        count(lit(1)).cast("int").as("len"))
    val a = arrs.select(col("event_type").as("type_a"),
      col("arr").as("a"), col("len").as("n"))
    val b = arrs.select(col("event_type").as("type_b"),
      col("arr").as("b"), col("len").as("m"))
    val pairs = a.crossJoin(broadcast(b))
      .filter(col("type_a") < col("type_b"))
    val dtwCol =
      graft.api.ops.dtwCost(col("a"), col("b"), col("n"), col("m"))
    pairs.select(col("type_a"), col("type_b"),
        col("n").cast("long").as("n"), col("m").cast("long").as("m"),
        dtwCol.as("dtw"))
      .withColumn("dtw_per_step",
        Norm.r4tie(col("dtw").cast("double") /
          (col("n") + col("m")).cast("double")))
      .orderBy("type_a", "type_b")
  }

  val queries: Map[String, Q] = Map(
    "q_ts_sax" -> tsSax,
    "q_ts_dtw" -> tsDtw,
    "q_ts_hurst" -> tsHurst,
    "q_ts_var_cvar" -> tsVarCvar,
    "q_ts_wow" -> tsWow,
    "q_ts_intervention" -> tsIntervention,
    "q_ts_rate_limit" -> tsRateLimit,
    "q_seq_entropy" -> seqEntropy,
    "q_ts_time_to_convert" -> tsTimeToConvert,
    "q_ts_crosscorr" -> tsCrosscorr,
    "q_ts_decompose" -> tsDecompose,
    "q_attribution_markov" -> attributionMarkov,
    "q_ts_theilsen" -> tsTheilSen,
    "q_ts_holt" -> tsHolt,
    "q_ts_backtest" -> tsBacktest,
    "q_ts_interarrival" -> tsInterarrival,
    "q_ts_periodogram" -> tsPeriodogram,
    "q_ts_trend" -> tsTrend,
    "q_ts_cusum" -> tsCusum,
    "q_ts_changepoint" -> tsChangepoint,
    "q_ts_motif" -> tsMotif,
    "q_ts_discord" -> tsDiscord,
    "q_ts_peaks" -> tsPeaks,
    "q_ts_bands" -> tsBands,
    "q_ts_autocorr" -> tsAutocorr,
    "q_ts_seasonal" -> tsSeasonal,
    "q_seq_pattern" -> seqPattern,
    "q_ts_decay" -> tsDecay,
    "q_ts_drawdown" -> drawdown,
    "q_rfm" -> rfm,
    "q_churn" -> churn,
    "q_user_path" -> userPath,
    "q_event_transitions" -> eventTransitions,
    "q_funnel" -> funnel,
    "q_cohort_retention" -> cohortRetention,
    "q_ts_anomaly" -> tsAnomaly,
    "q_ts_ewma" -> ewma,
    "q_ts_gapfill" -> gapFill,
    "q_ts_ohlc" -> ohlc,
    "q_attribution" -> attribution,
    "q_active_users" -> activeUsers,
    "q_window_streaks" -> windowStreaks,
    "q_ts_interpolate" -> interpolate,
    "q_window_tumbling" -> windowTumbling,
    "q_window_sliding" -> windowSliding,
    "q_session_window" -> sessionWindows,
  )

  /** Shared CTE prefix for the two matrix-profile oracles: the
    * DuckDB replay of [[motifPairFrame]]'s window frame — hourly
    * counts, 24-row list() windows, exact-BIGINT Σx/Σx² folds with
    * the zero-variance gate, and the μ/σ projection.
    */
  private val motifWinsCte = """WITH hourly AS (
        SELECT event_type, date_trunc('hour', ts) AS hr, count(*) AS x
        FROM events GROUP BY 1, 2),
      wins0 AS (
        SELECT event_type, hr,
               row_number() OVER wo AS i,
               list(x) OVER (PARTITION BY event_type ORDER BY hr
                 ROWS BETWEEN CURRENT ROW AND 23 FOLLOWING) AS v
        FROM hourly
        WINDOW wo AS (PARTITION BY event_type ORDER BY hr)),
      sums AS (
        SELECT event_type, hr, i, v,
               list_reduce(list_prepend(CAST(0 AS BIGINT), v),
                 (s, x) -> s + x) AS s1,
               list_reduce(list_prepend(CAST(0 AS BIGINT), v),
                 (s, x) -> s + x * x) AS s2
        FROM wins0 WHERE len(v) = 24),
      wins AS (
        SELECT event_type, hr, i, v,
               CAST(s1 AS DOUBLE) / 24 AS mu,
               sqrt((CAST(s2 AS DOUBLE)
                     - CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE) / 24) / 24)
                 AS sg
        FROM sums WHERE s2 * 24 <> s1 * s1)"""

  /** The MASS-identity pair distance on `wins a JOIN wins b`, 4dp
    * half-up rounded — the same float shape as the Spark side's
    * DotArrays kernel + identity expression.
    */
  private val motifDistSql = """floor(sqrt(greatest(
                 48.0 - 2.0 * ((list_reduce(
                   list_prepend(CAST(0 AS DOUBLE),
                     list_transform(range(1, 25), k ->
                       CAST(a.v[k] AS DOUBLE) * CAST(b.v[k] AS DOUBLE))),
                   (s, x) -> s + x)
                   - 24.0 * a.mu * b.mu) / (a.sg * b.sg)),
                 0.0)) * 10000 + 0.5) / 10000"""

  val oracle: Map[String, String] = Map(
    "q_ts_var_cvar" -> """
      WITH daily AS (
        SELECT event_type, CAST(ts AS DATE) AS day,
               CAST(sum(CAST(floor(value * 100 + 0.5) AS BIGINT))
                 AS BIGINT) AS cents
        FROM events GROUP BY 1, 2),
      losses AS (
        SELECT event_type, day,
               lag(cents, 1) OVER (PARTITION BY event_type
                 ORDER BY day) - cents AS loss
        FROM daily),
      l2 AS (SELECT event_type, day, CAST(loss AS BIGINT) AS loss
             FROM losses WHERE loss IS NOT NULL),
      ranked AS (
        SELECT event_type, loss,
               row_number() OVER (PARTITION BY event_type
                 ORDER BY loss, day) AS rn,
               count(*) OVER (PARTITION BY event_type) AS n
        FROM l2),
      k AS (
        SELECT event_type, loss, rn, n,
               least(greatest((19 * (n + 1)) // 20, 1), n) AS kk
        FROM ranked),
      vp AS (
        SELECT event_type, loss AS var_cents, n FROM k WHERE rn = kk),
      tail AS (
        SELECT r.event_type, CAST(count(*) AS BIGINT) AS n_tail,
               CAST(sum(r.loss) AS BIGINT) AS tail_cents
        FROM ranked r JOIN vp ON r.event_type = vp.event_type
        WHERE r.loss >= vp.var_cents
        GROUP BY r.event_type)
      SELECT t.event_type, vp.n AS n_days,
             CAST(vp.var_cents AS DOUBLE) / 100.0 AS var95_usd,
             floor(CAST(t.tail_cents AS DOUBLE)
                   / CAST(t.n_tail AS DOUBLE) / 100.0
                   * 10000 + 0.5) / 10000 AS cvar95_usd,
             t.n_tail
      FROM tail t JOIN vp ON t.event_type = vp.event_type
      ORDER BY t.event_type""",
    "q_ts_hurst" -> s"""
      WITH hourly AS (
        SELECT event_type, date_trunc('hour', ts) AS hr,
               CAST(count(*) AS BIGINT) AS x
        FROM events GROUP BY 1, 2),
      seq AS (
        SELECT event_type, x,
               CAST(row_number() OVER (PARTITION BY event_type
                 ORDER BY hr) - 1 AS BIGINT) AS t0
        FROM hourly),
      chunks AS (
        SELECT s.event_type, s.x, w.wsz,
               s.t0 // w.wsz AS chunk, s.t0 % w.wsz + 1 AS t
        FROM seq s CROSS JOIN (VALUES (CAST(30 AS BIGINT)),
          (CAST(60 AS BIGINT)), (CAST(120 AS BIGINT))) w(wsz)),
      dev AS (
        SELECT event_type, wsz, chunk, x, t,
               CAST(sum(x) OVER (PARTITION BY event_type, wsz, chunk
                     ORDER BY t) * wsz
                 - t * sum(x) OVER (PARTITION BY event_type, wsz, chunk)
                 AS BIGINT) AS d
        FROM chunks),
      rsr AS (
        SELECT event_type, wsz, chunk, count(*) AS nc,
               CAST(sum(x) AS BIGINT) AS sx,
               CAST(sum(x * x) AS BIGINT) AS sxx,
               CAST(max(d) AS BIGINT) AS mxd,
               CAST(min(d) AS BIGINT) AS mnd
        FROM dev GROUP BY 1, 2, 3),
      rs2 AS (
        SELECT event_type, wsz, chunk,
               CAST(mxd - mnd AS DOUBLE)
                 / sqrt(CAST(wsz * sxx - sx * sx AS DOUBLE)) AS rs
        FROM rsr WHERE nc = wsz AND wsz * sxx > sx * sx),
      folded AS (
        SELECT event_type, wsz, CAST(count(*) AS INT) AS n_chunks,
               list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
                   list(rs ORDER BY chunk)), (a, b) -> a + b)
                 / CAST(count(*) AS DOUBLE) AS avg_rs
        FROM rs2 GROUP BY 1, 2),
      wide AS (
        SELECT event_type,
               max(CASE WHEN wsz = 30 THEN avg_rs END) AS a30,
               max(CASE WHEN wsz = 60 THEN avg_rs END) AS a60,
               max(CASE WHEN wsz = 120 THEN avg_rs END) AS a120,
               CAST(sum(n_chunks) AS BIGINT) AS n_chunks
        FROM folded GROUP BY 1)
      SELECT event_type, n_chunks,
             floor(a30 * 10000 + 0.5) / 10000 AS avg_rs_30,
             floor(a60 * 10000 + 0.5) / 10000 AS avg_rs_60,
             floor(a120 * 10000 + 0.5) / 10000 AS avg_rs_120,
             floor((ln(a120) - ln(a30)) / ${2.0 * math.log(2.0)}
                   * 10000 + 0.5) / 10000 AS hurst
      FROM wide ORDER BY event_type""",
    "q_ts_sax" -> """
      WITH hourly AS (
        SELECT event_type, date_trunc('hour', ts) AS hr,
               CAST(count(*) AS BIGINT) AS x
        FROM events GROUP BY 1, 2),
      seq AS (
        SELECT event_type, x,
               row_number() OVER (PARTITION BY event_type
                                  ORDER BY hr) AS rn,
               count(*) OVER (PARTITION BY event_type) AS nh
        FROM hourly),
      segs AS (
        SELECT event_type, ((rn - 1) * 8) // nh AS seg,
               CAST(count(*) AS BIGINT) AS n_hours,
               CAST(sum(x) AS BIGINT) AS sx
        FROM seq GROUP BY 1, 2),
      keyed AS (
        SELECT event_type, seg, n_hours,
               CAST(sx AS DOUBLE) / CAST(n_hours AS DOUBLE) AS mean_key
        FROM segs)
      SELECT event_type, seg, n_hours,
             floor(mean_key * 10000 + 0.5) / 10000 AS seg_mean,
             chr(CAST(96 + ntile(4) OVER (PARTITION BY event_type
                          ORDER BY mean_key, seg) AS INT)) AS sym
      FROM keyed ORDER BY event_type, seg""",
    "q_ts_dtw" -> """
      WITH RECURSIVE daily AS (
        SELECT event_type, CAST(ts AS DATE) AS day,
               CAST(count(*) AS BIGINT) AS x
        FROM events GROUP BY 1, 2),
      arrs AS (
        SELECT event_type, list(x ORDER BY day) AS arr,
               CAST(count(*) AS BIGINT) AS len
        FROM daily GROUP BY event_type),
      pairs AS (
        SELECT x.event_type AS type_a, y.event_type AS type_b,
               x.arr AS a, y.arr AS b, x.len AS n, y.len AS m
        FROM arrs x JOIN arrs y ON x.event_type < y.event_type),
      dp AS (
        SELECT type_a, type_b, a, b, n, m, CAST(0 AS BIGINT) AS d,
               CAST([] AS BIGINT[]) AS p2,
               [CAST(0 AS BIGINT)] AS p1
        FROM pairs
        UNION ALL
        SELECT type_a, type_b, a, b, n, m, d + 1, p1,
               list_transform(
                 range(greatest(CAST(0 AS BIGINT), d + 1 - m),
                       least(n, d + 1) + 1),
                 i -> CASE
                   WHEN i = 0 AND d + 1 - i = 0 THEN CAST(0 AS BIGINT)
                   WHEN i = 0 OR d + 1 - i = 0
                     THEN CAST(1000000000000 AS BIGINT)
                   ELSE abs(a[CAST(i AS INT)] - b[CAST(d + 1 - i AS INT)])
                     + least(
                         coalesce(p1[CAST(i - greatest(CAST(0 AS BIGINT),
                                     d - m) AS INT)],
                                  CAST(1000000000000 AS BIGINT)),
                         coalesce(p1[CAST(i - greatest(CAST(0 AS BIGINT),
                                     d - m) + 1 AS INT)],
                                  CAST(1000000000000 AS BIGINT)),
                         coalesce(p2[CAST(i - greatest(CAST(0 AS BIGINT),
                                     d - 1 - m) AS INT)],
                                  CAST(1000000000000 AS BIGINT)))
                 END)
        FROM dp WHERE d < n + m)
      SELECT type_a, type_b, n, m, p1[1] AS dtw,
             floor(CAST(p1[1] AS DOUBLE) / CAST(n + m AS DOUBLE)
                   * 10000 + 0.5) / 10000 AS dtw_per_step
      FROM dp WHERE d = n + m ORDER BY type_a, type_b""",
    "q_ts_wow" -> """
      WITH weekly AS (
        SELECT event_type, CAST(isoyear(ts) AS INT) AS wyear,
               weekofyear(ts) AS week, count(*) AS n,
               CAST(sum(CAST(floor(value * 100 + 0.5) AS BIGINT))
                    AS BIGINT) AS cents
        FROM events GROUP BY 1, 2, 3),
      lagged AS (
        SELECT event_type, wyear, week, n, cents,
               lag(n) OVER (PARTITION BY event_type
                            ORDER BY wyear, week) AS prev_n,
               lag(cents) OVER (PARTITION BY event_type
                                ORDER BY wyear, week) AS prev_cents
        FROM weekly)
      SELECT event_type, wyear, CAST(week AS INT) AS week, n, prev_n,
             CAST(floor(CAST((n - prev_n) * 10000 AS DOUBLE)
                        / CAST(prev_n AS DOUBLE)) AS BIGINT)
               AS n_change_bp,
             cents, prev_cents,
             CAST(floor(CAST((cents - prev_cents) * 10000 AS DOUBLE)
                        / CAST(prev_cents AS DOUBLE)) AS BIGINT)
               AS cents_change_bp
      FROM lagged WHERE prev_n IS NOT NULL
      ORDER BY event_type, wyear, week""",
    "q_ts_intervention" -> """
      WITH e AS (
        SELECT event_type,
               CASE WHEN ts < TIMESTAMP '2024-01-16 00:00:00'
                    THEN 'pre' ELSE 'post' END AS phase,
               CAST(floor(value * 100 + 0.5) AS BIGINT) AS c
        FROM events),
      s AS (
        SELECT event_type, phase, count(*) AS n,
               CAST(sum(c) AS BIGINT) AS s1,
               CAST(sum(c * c) AS BIGINT) AS s2
        FROM e GROUP BY 1, 2),
      pre AS (SELECT event_type, n AS n_pre, s1 AS s1_pre,
                     s2 AS s2_pre FROM s WHERE phase = 'pre'),
      post AS (SELECT event_type, n AS n_post, s1 AS s1_post,
                      s2 AS s2_post FROM s WHERE phase = 'post'),
      j AS (
        SELECT pre.event_type, n_pre, n_post,
               CAST(s1_pre AS DOUBLE) / CAST(n_pre AS DOUBLE) AS mpre,
               CAST(s1_post AS DOUBLE) / CAST(n_post AS DOUBLE)
                 AS mpost,
               (CAST(s2_pre AS DOUBLE) - CAST(s1_pre AS DOUBLE)
                * CAST(s1_pre AS DOUBLE) / CAST(n_pre AS DOUBLE))
               / (CAST(n_pre AS DOUBLE) - 1.0) AS vpre,
               (CAST(s2_post AS DOUBLE) - CAST(s1_post AS DOUBLE)
                * CAST(s1_post AS DOUBLE) / CAST(n_post AS DOUBLE))
               / (CAST(n_post AS DOUBLE) - 1.0) AS vpost
        FROM pre JOIN post ON pre.event_type = post.event_type)
      SELECT event_type, n_pre, n_post,
             floor(mpre * 10000 + 0.5) / 10000 AS mean_pre_cents,
             floor(mpost * 10000 + 0.5) / 10000 AS mean_post_cents,
             floor((mpost - mpre)
                   / sqrt(vpost / CAST(n_post AS DOUBLE)
                          + vpre / CAST(n_pre AS DOUBLE)) * 10000)
               / 10000 AS welch_t,
             abs((mpost - mpre)
                 / sqrt(vpost / CAST(n_post AS DOUBLE)
                        + vpre / CAST(n_pre AS DOUBLE))) > 1.96
               AS significant
      FROM j ORDER BY event_type""",
    "q_ts_rate_limit" -> """
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
    "q_seq_entropy" -> """
      WITH trans AS (
        SELECT src, dst, count(*) AS n_sd FROM (
          SELECT lag(event_type) OVER (PARTITION BY user_id
                   ORDER BY ts, event_id) AS src,
                 event_type AS dst
          FROM events)
        WHERE src IS NOT NULL GROUP BY src, dst),
      t AS (
        SELECT src, dst, n_sd,
               CAST(sum(n_sd) OVER (PARTITION BY src) AS BIGINT)
                 AS n_s
        FROM trans),
      terms AS (
        SELECT src, dst, n_s,
               CAST(n_sd AS DOUBLE) / CAST(n_s AS DOUBLE)
                 * log2(CAST(n_s AS DOUBLE) / CAST(n_sd AS DOUBLE))
                 AS tv
        FROM t)
      SELECT src, max(n_s) AS n_transitions, count(*) AS n_dsts,
             floor(list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
                     list(tv ORDER BY dst)), (a, b) -> a + b)
                   * 10000 + 0.5) / 10000 AS entropy_bits
      FROM terms GROUP BY src ORDER BY src""",
    "q_ts_time_to_convert" -> """
      WITH su AS (
        SELECT user_id, ts AS sts, event_id AS seid FROM (
          SELECT user_id, ts, event_id, row_number() OVER (
            PARTITION BY user_id ORDER BY ts, event_id) AS rn
          FROM events WHERE event_type = 'signup') WHERE rn = 1),
      pu AS (
        SELECT e.user_id,
               min(epoch_us(e.ts)) - min(epoch_us(su.sts)) AS gap_us
        FROM events e JOIN su ON e.user_id = su.user_id
        WHERE e.event_type = 'purchase'
          AND (e.ts, e.event_id) > (su.sts, su.seid)
        GROUP BY e.user_id),
      ranked AS (
        SELECT gap_us,
               row_number() OVER (ORDER BY gap_us, user_id) AS rn,
               count(*) OVER () AS n
        FROM pu),
      sel AS (
        SELECT max(n) AS n_converted,
               min(CASE WHEN rn = greatest((n + 3) // 4, 1)
                        THEN gap_us END) AS p25_us,
               min(CASE WHEN rn = (n + 1) // 2
                        THEN gap_us END) AS p50_us,
               min(CASE WHEN rn = least((3 * (n + 1)) // 4, n)
                        THEN gap_us END) AS p75_us,
               min(CASE WHEN rn = least((9 * (n + 1)) // 10, n)
                        THEN gap_us END) AS p90_us
        FROM ranked),
      ns AS (SELECT count(*) AS n_signups FROM su)
      SELECT n_signups, n_converted,
             floor(CAST(n_converted AS DOUBLE)
                   / CAST(n_signups AS DOUBLE) * 10000 + 0.5) / 10000
               AS cvr,
             floor(CAST(p25_us AS DOUBLE) / 1000000.0
                   * 10000 + 0.5) / 10000 AS p25_s,
             floor(CAST(p50_us AS DOUBLE) / 1000000.0
                   * 10000 + 0.5) / 10000 AS p50_s,
             floor(CAST(p75_us AS DOUBLE) / 1000000.0
                   * 10000 + 0.5) / 10000 AS p75_s,
             floor(CAST(p90_us AS DOUBLE) / 1000000.0
                   * 10000 + 0.5) / 10000 AS p90_s
      FROM sel, ns""",
    "q_ts_crosscorr" -> """
      WITH hourly AS (
        SELECT event_type, date_trunc('hour', ts) AS hr, count(*) AS n
        FROM events GROUP BY 1, 2),
      pts AS (
        SELECT event_type, epoch_us(hr) // 3600000000 AS h, n
        FROM hourly),
      hc AS (SELECT h, n AS x FROM pts WHERE event_type = 'click'),
      hp AS (SELECT h AS hp2, n AS y FROM pts
             WHERE event_type = 'purchase'),
      lagged AS (
        SELECT l.lag_h, hc.x, hp.y
        FROM hc, (SELECT unnest(generate_series(-3, 3)) AS lag_h) l
        JOIN hp ON hp.hp2 = hc.h + l.lag_h),
      agg AS (
        SELECT lag_h, count(*) AS n,
               CAST(sum(x) AS BIGINT) AS sx,
               CAST(sum(y) AS BIGINT) AS sy,
               CAST(sum(x * y) AS BIGINT) AS sxy,
               CAST(sum(x * x) AS BIGINT) AS sxx,
               CAST(sum(y * y) AS BIGINT) AS syy
        FROM lagged GROUP BY lag_h)
      SELECT lag_h, n AS n_hours,
             floor((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
                    - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
                   / sqrt((CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
                           - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
                          * (CAST(n AS DOUBLE) * CAST(syy AS DOUBLE)
                             - CAST(sy AS DOUBLE)
                               * CAST(sy AS DOUBLE)))
                   * 10000) / 10000 AS r
      FROM agg ORDER BY lag_h""",
    "q_ts_decompose" -> """
      WITH hourly AS (
        SELECT event_type, date_trunc('hour', ts) AS hr, count(*) AS x
        FROM events GROUP BY 1, 2),
      pts AS (
        SELECT event_type, x,
               epoch_us(hr) // 3600000000 AS h,
               CAST((epoch_us(hr) // 3600000000) % 24 AS INT) AS hod
        FROM hourly),
      wt AS (
        SELECT event_type, h, hod, x,
               CAST(sum(x) OVER (PARTITION BY event_type ORDER BY h
                 ROWS BETWEEN 12 PRECEDING AND 12 FOLLOWING) AS DOUBLE)
               / CAST(count(*) OVER (PARTITION BY event_type ORDER BY h
                 ROWS BETWEEN 12 PRECEDING AND 12 FOLLOWING) AS DOUBLE)
                 AS trend,
               CAST(sum(x) OVER (PARTITION BY event_type) AS BIGINT)
                 AS gsum,
               count(*) OVER (PARTITION BY event_type) AS gn,
               max(h) OVER (PARTITION BY event_type) AS hmax
        FROM pts),
      hod AS (
        SELECT event_type, hod,
               CAST(sum(x) AS BIGINT) AS hsum, count(*) AS hn
        FROM pts GROUP BY 1, 2),
      j AS (
        SELECT wt.event_type, wt.h, wt.x, wt.trend,
               CAST(hsum AS DOUBLE) / CAST(hn AS DOUBLE)
                 - CAST(gsum AS DOUBLE) / CAST(gn AS DOUBLE)
                 AS seasonal
        FROM wt JOIN hod ON wt.event_type = hod.event_type
                        AND wt.hod = hod.hod
        WHERE wt.h > wt.hmax - 48)
      SELECT event_type, h, x,
             floor(trend * 10000 + 0.5) / 10000 AS trend,
             floor(seasonal * 10000) / 10000 AS seasonal,
             floor((CAST(x AS DOUBLE) - trend - seasonal) * 10000)
               / 10000 AS residual
      FROM j ORDER BY event_type, h""",
    "q_attribution_markov" -> """
      WITH RECURSIVE
      fp AS (
        SELECT user_id, ts AS pts, event_id AS peid FROM (
          SELECT user_id, ts, event_id, row_number() OVER (
            PARTITION BY user_id ORDER BY ts, event_id) AS rn
          FROM events WHERE event_type = 'purchase') WHERE rn = 1),
      path AS (
        SELECT e.user_id, e.event_type AS ch, e.ts, e.event_id
        FROM events e LEFT JOIN fp ON e.user_id = fp.user_id
        WHERE e.event_type IN ('click','error','signup','view')
          AND (fp.user_id IS NULL
               OR (e.ts, e.event_id) < (fp.pts, fp.peid))),
      steps AS (
        SELECT coalesce(lag(ch) OVER (PARTITION BY user_id
                 ORDER BY ts, event_id), 'start') AS src, ch AS dst
        FROM path),
      lastch AS (
        SELECT user_id, ch FROM (
          SELECT user_id, ch, row_number() OVER (PARTITION BY user_id
            ORDER BY ts DESC, event_id DESC) AS rn
          FROM path) WHERE rn = 1),
      term AS (
        SELECT coalesce(l.ch, 'start') AS src,
               CASE WHEN fp.user_id IS NOT NULL THEN 'conv'
                    ELSE 'null' END AS dst
        FROM (SELECT DISTINCT user_id FROM events) u
        LEFT JOIN lastch l ON u.user_id = l.user_id
        LEFT JOIN fp ON u.user_id = fp.user_id),
      trans AS (
        SELECT src, dst, count(*) AS n FROM (
          SELECT src, dst FROM steps
          UNION ALL SELECT src, dst FROM term)
        GROUP BY src, dst),
      variants AS (
        SELECT '__full__' AS rm
        UNION ALL SELECT unnest(['click','error','signup','view'])),
      adj AS (
        SELECT v.rm, t.src,
               CASE WHEN t.dst = v.rm THEN 'null' ELSE t.dst END AS dst,
               CAST(sum(t.n) AS BIGINT) AS n
        FROM variants v JOIN trans t ON t.src <> v.rm
        GROUP BY 1, 2, 3),
      tot AS (
        SELECT rm, src, CAST(sum(n) AS BIGINT) AS tot
        FROM adj GROUP BY 1, 2),
      tp AS (
        SELECT a.rm, a.src, a.dst,
               CAST(a.n AS DOUBLE) / CAST(t.tot AS DOUBLE) AS pr
        FROM adj a JOIN tot t ON a.rm = t.rm AND a.src = t.src),
      tl AS (
        SELECT rm, list(struct_pack(src := src, dst := dst, pr := pr))
                 AS trans
        FROM tp GROUP BY rm),
      it AS (
        SELECT rm, 0 AS k, trans,
               map_from_entries(list_transform(
                 ['start','click','error','signup','view'],
                 s -> struct_pack(ks := s, vs := CAST(0.0 AS DOUBLE))))
                 AS p
        FROM tl
        UNION ALL
        SELECT rm, k + 1, trans,
               map_from_entries(list_transform(
                 ['start','click','error','signup','view'],
                 s -> struct_pack(ks := s, vs := list_reduce(
                   list_prepend(CAST(0.0 AS DOUBLE),
                     list_transform(
                       list_sort(list_filter(trans, x -> x.src = s)),
                       x -> x.pr * CASE
                         WHEN x.dst = 'conv' THEN CAST(1.0 AS DOUBLE)
                         WHEN x.dst = 'null' THEN CAST(0.0 AS DOUBLE)
                         ELSE coalesce(map_extract(p, x.dst)[1],
                                       CAST(0.0 AS DOUBLE)) END)),
                   (a, b) -> a + b))))
        FROM it WHERE k < 60),
      fin AS (
        SELECT rm, map_extract(p, 'start')[1] AS ps
        FROM it WHERE k = 60),
      fullp AS (SELECT ps AS pf FROM fin WHERE rm = '__full__'),
      re AS (
        SELECT rm AS channel, pf, pf - ps AS re
        FROM fin, fullp WHERE rm <> '__full__'),
      sre AS (
        SELECT list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
                 list(re ORDER BY channel)), (a, b) -> a + b) AS s
        FROM re)
      SELECT channel,
             floor(pf * 10000 + 0.5) / 10000 AS p_conv,
             floor(re * 10000) / 10000 AS removal_effect,
             floor((CASE WHEN s = 0.0 THEN 0.0 ELSE re / s END)
                   * 10000) / 10000 AS attr_share
      FROM re, sre ORDER BY channel""",
    "q_ts_theilsen" -> """
      WITH hourly AS (
        SELECT event_type, date_trunc('hour', ts) AS hr, count(*) AS x
        FROM events GROUP BY 1, 2),
      pts AS (
        SELECT event_type, epoch_us(hr) // 3600000000 AS h, x
        FROM hourly),
      slopes AS (
        SELECT a.event_type, a.h AS h1, b.h AS h2,
               CAST(b.x - a.x AS DOUBLE) / CAST(b.h - a.h AS DOUBLE)
                 AS slope
        FROM pts a JOIN pts b
          ON a.event_type = b.event_type AND a.h < b.h),
      ranked AS (
        SELECT event_type, slope,
               row_number() OVER (PARTITION BY event_type
                                  ORDER BY slope, h1, h2) AS rn,
               count(*) OVER (PARTITION BY event_type) AS n_pairs
        FROM slopes)
      SELECT event_type, n_pairs,
             floor(slope * 10000) / 10000 AS sen_slope
      FROM ranked WHERE rn = (n_pairs + 1) // 2
      ORDER BY event_type""",
    "q_ts_backtest" -> """
      WITH RECURSIVE hourly AS (
        SELECT event_type, date_trunc('hour', ts) AS hr,
               count(*) AS xi
        FROM events GROUP BY 1, 2),
      seq AS (
        SELECT event_type, CAST(xi AS DOUBLE) AS x,
               row_number() OVER (PARTITION BY event_type
                                  ORDER BY hr) AS t,
               count(*) OVER (PARTITION BY event_type) AS n
        FROM hourly),
      holt AS (
        SELECT event_type, t, n, x AS l, CAST(0.0 AS DOUBLE) AS b,
               CAST(0.0 AS DOUBLE) AS sae
        FROM seq WHERE t = 1
        UNION ALL
        SELECT s.event_type, s.t, s.n,
               CAST(0.5 AS DOUBLE) * s.x
                 + CAST(0.5 AS DOUBLE) * (h.l + h.b),
               CAST(0.5 AS DOUBLE)
                 * ((CAST(0.5 AS DOUBLE) * s.x
                     + CAST(0.5 AS DOUBLE) * (h.l + h.b)) - h.l)
                 + CAST(0.5 AS DOUBLE) * h.b,
               h.sae + abs(s.x - (h.l + h.b))
        FROM holt h
        JOIN seq s ON s.event_type = h.event_type AND s.t = h.t + 1),
      naive AS (
        SELECT event_type,
               CAST(sum(abs(xi - prev)) AS BIGINT) AS naive_sae
        FROM (SELECT event_type, xi,
                     lag(xi) OVER (PARTITION BY event_type
                                   ORDER BY hr) AS prev
              FROM hourly)
        WHERE prev IS NOT NULL GROUP BY 1)
      SELECT h.event_type, h.n AS n_hours,
             floor(h.sae / CAST(h.n - 1 AS DOUBLE) * 10000 + 0.5)
               / 10000 AS mae,
             floor(h.sae / CAST(naive_sae AS DOUBLE) * 10000 + 0.5)
               / 10000 AS mase
      FROM holt h JOIN naive nv ON h.event_type = nv.event_type
      WHERE h.t = h.n ORDER BY h.event_type""",
    "q_ts_holt" -> """
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
    "q_ts_interarrival" -> """
      WITH gaps AS (
        SELECT user_id,
               epoch_us(ts) - lag(epoch_us(ts), 1)
                 OVER (PARTITION BY user_id ORDER BY ts, event_id)
                 AS gap_us
        FROM events),
      g AS (SELECT user_id, gap_us FROM gaps WHERE gap_us IS NOT NULL)
      SELECT user_id, count(*) AS n_gaps,
             floor(CAST(sum(gap_us) AS DOUBLE) / CAST(count(*) AS DOUBLE)
                   / 1000000.0 * 10000 + 0.5) / 10000 AS mean_gap_s,
             floor(CAST(min(gap_us) AS DOUBLE) / 1000000.0
                   * 10000 + 0.5) / 10000 AS min_gap_s,
             floor(CAST(max(gap_us) AS DOUBLE) / 1000000.0
                   * 10000 + 0.5) / 10000 AS max_gap_s
      FROM g GROUP BY user_id ORDER BY user_id""",
    "q_ts_periodogram" -> """
      WITH hourly AS (
        SELECT event_type, date_trunc('hour', ts) AS hr, count(*) AS x,
               epoch_us(date_trunc('hour', ts)) // 3600000000 AS h
        FROM events GROUP BY 1, 2),
      terms AS (
        SELECT event_type, hr,
          CAST(x AS DOUBLE) * cos(2 * pi() * CAST(h % 24 AS DOUBLE) / 24.0)
            AS c24,
          CAST(x AS DOUBLE) * sin(2 * pi() * CAST(h % 24 AS DOUBLE) / 24.0)
            AS s24,
          CAST(x AS DOUBLE) * cos(2 * pi() * CAST(h % 168 AS DOUBLE) / 168.0)
            AS c168,
          CAST(x AS DOUBLE) * sin(2 * pi() * CAST(h % 168 AS DOUBLE) / 168.0)
            AS s168
        FROM hourly),
      folded AS (
        SELECT event_type, count(*) AS n_hours,
          list_reduce(list_prepend(CAST(0 AS DOUBLE),
            list(c24 ORDER BY hr)), (a, v) -> a + v) AS a24,
          list_reduce(list_prepend(CAST(0 AS DOUBLE),
            list(s24 ORDER BY hr)), (a, v) -> a + v) AS b24,
          list_reduce(list_prepend(CAST(0 AS DOUBLE),
            list(c168 ORDER BY hr)), (a, v) -> a + v) AS a168,
          list_reduce(list_prepend(CAST(0 AS DOUBLE),
            list(s168 ORDER BY hr)), (a, v) -> a + v) AS b168
        FROM terms GROUP BY event_type)
      SELECT event_type, n_hours,
             floor(2.0 * sqrt(a24 * a24 + b24 * b24)
                   / CAST(n_hours AS DOUBLE) * 10000 + 0.5) / 10000
               AS amp_daily,
             floor(2.0 * sqrt(a168 * a168 + b168 * b168)
                   / CAST(n_hours AS DOUBLE) * 10000 + 0.5) / 10000
               AS amp_weekly
      FROM folded ORDER BY event_type""",
    "q_ts_trend" -> """
      WITH hourly AS (
        SELECT event_type, date_trunc('hour', ts) AS hr, count(*) AS x
        FROM events GROUP BY 1, 2),
      sr AS (
        SELECT a.event_type,
               sum(CASE WHEN b.x > a.x THEN 1
                        WHEN b.x < a.x THEN -1 ELSE 0 END) AS s
        FROM hourly a JOIN hourly b
          ON a.event_type = b.event_type AND a.hr < b.hr
        GROUP BY 1),
      nr AS (SELECT event_type, count(*) AS n FROM hourly GROUP BY 1),
      tr AS (
        SELECT event_type,
               sum(tc * (tc - 1) * (2 * tc + 5)) AS tieadj
        FROM (SELECT event_type, x, count(*) AS tc
              FROM hourly GROUP BY 1, 2)
        GROUP BY 1),
      j AS (
        SELECT sr.event_type, nr.n, sr.s,
               nr.n * (nr.n - 1) * (2 * nr.n + 5) - tr.tieadj AS v18
        FROM sr JOIN nr ON sr.event_type = nr.event_type
                JOIN tr ON sr.event_type = tr.event_type),
      zs AS (
        SELECT event_type, n, s,
               CASE WHEN s = 0 THEN 0.0
                    ELSE (CAST(s AS DOUBLE) - sign(CAST(s AS DOUBLE)))
                         / sqrt(CAST(v18 AS DOUBLE) / 18.0)
               END AS z
        FROM j)
      SELECT event_type, n, CAST(s AS BIGINT) AS s, round(z, 4) AS z,
             CASE WHEN z > 1.96 THEN 'increasing'
                  WHEN z < -1.96 THEN 'decreasing'
                  ELSE 'none' END AS trend
      FROM zs ORDER BY event_type""",
    "q_ts_cusum" -> """
      WITH hourly AS (
        SELECT event_type, date_trunc('hour', ts) AS hr, count(*) AS x
        FROM events GROUP BY 1, 2),
      scored AS (
        SELECT event_type, hr, x,
               count(*) OVER (PARTITION BY event_type) AS n,
               sum(x) OVER (PARTITION BY event_type) AS s
        FROM hourly),
      pfx AS (
        SELECT event_type, hr, x, n,
               sum(n * x - s) OVER w AS p
        FROM scored
        WINDOW w AS (PARTITION BY event_type ORDER BY hr
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
      cus AS (
        SELECT event_type, hr, x, n,
               p - least(CAST(0 AS HUGEINT), min(p) OVER w) AS c
        FROM pfx
        WINDOW w AS (PARTITION BY event_type ORDER BY hr
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
      SELECT event_type, strftime(hr, '%Y-%m-%d %H:%M:%S') AS hour,
             x,
             floor(CAST(c AS DOUBLE) / CAST(n AS DOUBLE) * 10000 + 0.5)
               / 10000 AS cusum,
             row_number() OVER (PARTITION BY event_type
               ORDER BY c DESC, hr) = 1 AS is_cp
      FROM cus ORDER BY event_type, hour""",
    "q_ts_changepoint" -> """
      WITH hourly AS (
        SELECT event_type, date_trunc('hour', ts) AS hr, count(*) AS x
        FROM events GROUP BY 1, 2),
      pre AS (
        SELECT event_type, hr,
               row_number() OVER wo AS k,
               sum(x) OVER (PARTITION BY event_type ORDER BY hr
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sk,
               count(*) OVER (PARTITION BY event_type) AS n,
               sum(x) OVER (PARTITION BY event_type) AS s
        FROM hourly
        WINDOW wo AS (PARTITION BY event_type ORDER BY hr)),
      sc AS (
        SELECT event_type, hr, k, n,
               CAST(sk AS DOUBLE) * CAST(sk AS DOUBLE) / CAST(k AS DOUBLE)
               + CAST(s - sk AS DOUBLE) * CAST(s - sk AS DOUBLE)
                 / (CAST(n AS DOUBLE) - CAST(k AS DOUBLE))
               - CAST(s AS DOUBLE) * CAST(s AS DOUBLE) / CAST(n AS DOUBLE)
                 AS score
        FROM pre WHERE k < n)
      SELECT event_type, strftime(hr, '%Y-%m-%d %H:%M:%S') AS cp_hour,
             CAST(k AS BIGINT) AS k, n,
             floor(score * 10000 + 0.5) / 10000 AS gain
      FROM sc
      QUALIFY row_number() OVER (PARTITION BY event_type
        ORDER BY score DESC, hr) = 1
      ORDER BY event_type""",
    "q_ts_motif" -> s"""
      $motifWinsCte,
      pairs AS (
        SELECT a.event_type, a.i, b.i AS j, a.hr AS hr_a, b.hr AS hr_b,
               $motifDistSql AS dist
        FROM wins a JOIN wins b
          ON a.event_type = b.event_type AND b.i - a.i >= 24)
      SELECT event_type,
             strftime(hr_a, '%Y-%m-%d %H:%M:%S') AS motif_a,
             strftime(hr_b, '%Y-%m-%d %H:%M:%S') AS motif_b,
             dist
      FROM pairs
      QUALIFY row_number() OVER (PARTITION BY event_type
        ORDER BY dist, i, j) = 1
      ORDER BY event_type""",
    "q_ts_bands" -> """
      WITH hourly AS (
        SELECT event_type, date_trunc('hour', ts) AS hr, count(*) AS x,
               epoch_us(date_trunc('hour', ts)) // 3600000000 AS h
        FROM events GROUP BY 1, 2),
      wins AS (
        SELECT event_type, hr, x, h,
               list(x) OVER (wo ROWS BETWEEN 12 PRECEDING
                 AND 12 FOLLOWING) AS base,
               max(h) OVER (PARTITION BY event_type) AS hmax
        FROM hourly
        WINDOW wo AS (PARTITION BY event_type ORDER BY hr)),
      f AS (
        SELECT event_type, hr, x, list_sort(base) AS s
        FROM wins
        WHERE len(base) = 25 AND h > hmax - 48)
      SELECT event_type,
             strftime(hr, '%Y-%m-%d %H:%M:%S') AS hour,
             x, s[3] AS p10, s[13] AS p50, s[23] AS p90,
             x < s[3] OR x > s[23] AS outside
      FROM f ORDER BY event_type, hour""",
    "q_ts_peaks" -> """
      WITH hourly AS (
        SELECT event_type, date_trunc('hour', ts) AS hr, count(*) AS x
        FROM events GROUP BY 1, 2),
      wins AS (
        SELECT event_type, hr, x,
               max(x) OVER (wo ROWS BETWEEN 3 PRECEDING AND 1 PRECEDING)
                 AS mx_prev,
               count(*) OVER (wo ROWS BETWEEN 3 PRECEDING AND 1 PRECEDING)
                 AS n_prev,
               max(x) OVER (wo ROWS BETWEEN 1 FOLLOWING AND 3 FOLLOWING)
                 AS mx_next,
               count(*) OVER (wo ROWS BETWEEN 1 FOLLOWING AND 3 FOLLOWING)
                 AS n_next,
               list(x) OVER (wo ROWS BETWEEN 12 PRECEDING AND 12 FOLLOWING)
                 AS base
        FROM hourly
        WINDOW wo AS (PARTITION BY event_type ORDER BY hr)),
      full_w AS (
        SELECT event_type, hr, x, mx_prev, mx_next,
               list_sort(base)[13] AS med
        FROM wins
        WHERE n_prev = 3 AND n_next = 3 AND len(base) = 25)
      SELECT event_type,
             strftime(hr, '%Y-%m-%d %H:%M:%S') AS peak_hour,
             x, med AS baseline_med
      FROM full_w
      WHERE x > mx_prev AND x > mx_next AND x * 2 >= med * 3
      ORDER BY event_type, peak_hour""",
    "q_ts_discord" -> s"""
      $motifWinsCte,
      pairs AS (
        SELECT a.event_type, a.i, a.hr AS hr_a,
               $motifDistSql AS dist
        FROM wins a JOIN wins b
          ON a.event_type = b.event_type AND abs(b.i - a.i) >= 24),
      nn AS (
        SELECT event_type, i, hr_a, min(dist) AS nn_dist
        FROM pairs GROUP BY 1, 2, 3)
      SELECT event_type,
             strftime(hr_a, '%Y-%m-%d %H:%M:%S') AS discord_hour,
             nn_dist
      FROM nn
      QUALIFY row_number() OVER (PARTITION BY event_type
        ORDER BY nn_dist DESC, i) = 1
      ORDER BY event_type""",
    "q_ts_autocorr" -> """
      WITH hourly AS (
        SELECT event_type, date_trunc('hour', ts) AS hr, count(*) AS x
        FROM events GROUP BY 1, 2),
      l AS (
        SELECT event_type, x,
               lead(x, 1) OVER (PARTITION BY event_type ORDER BY hr) AS y1,
               lead(x, 24) OVER (PARTITION BY event_type ORDER BY hr) AS y24
        FROM hourly),
      r1 AS (
        SELECT event_type, CAST(1 AS BIGINT) AS lag,
               count(*) AS n_pairs,
               sum(x) AS a1, sum(y1) AS a2,
               sum(x * x) AS s11, sum(y1 * y1) AS s22,
               sum(x * y1) AS s12
        FROM l WHERE y1 IS NOT NULL GROUP BY 1),
      r24 AS (
        SELECT event_type, CAST(24 AS BIGINT) AS lag,
               count(*) AS n_pairs,
               sum(x) AS a1, sum(y24) AS a2,
               sum(x * x) AS s11, sum(y24 * y24) AS s22,
               sum(x * y24) AS s12
        FROM l WHERE y24 IS NOT NULL GROUP BY 1),
      u AS (SELECT * FROM r1 UNION ALL SELECT * FROM r24)
      SELECT event_type, lag, n_pairs,
             round(CAST(n_pairs * s12 - a1 * a2 AS DOUBLE) /
                   sqrt(CAST(n_pairs * s11 - a1 * a1 AS DOUBLE) *
                        CAST(n_pairs * s22 - a2 * a2 AS DOUBLE)), 4) AS r
      FROM u ORDER BY event_type, lag""",
    "q_ts_seasonal" -> """
      WITH cells AS (
        SELECT event_type, date_part('hour', ts) AS hod, count(*) AS cnt
        FROM events GROUP BY 1, 2),
      t AS (
        SELECT event_type, CAST(hod AS BIGINT) AS hod, cnt,
               sum(cnt) OVER (PARTITION BY event_type) AS total,
               row_number() OVER (PARTITION BY event_type
                 ORDER BY cnt DESC, hod) AS rn
        FROM cells)
      SELECT event_type, hod, cnt,
             floor(24 * CAST(cnt AS DOUBLE) / CAST(total AS DOUBLE)
                   * 10000 + 0.5) / 10000 AS seasonal_index,
             rn = 1 AS is_peak
      FROM t ORDER BY event_type, hod""",
    "q_seq_pattern" -> """
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
    "q_ts_decay" -> """
      WITH m AS (SELECT max(epoch_us(ts)) AS mx FROM events),
      a AS (
        SELECT user_id,
               CAST(floor(value * 100 + 0.5) AS BIGINT) AS cents,
               least((mx - epoch_us(ts)) // 86400000000, 20) AS age_d
        FROM events, m)
      SELECT user_id, count(*) AS n_events,
             floor(CAST(sum(cents * (CAST(1 AS BIGINT) <<
                     CAST(20 - age_d AS INTEGER))) AS DOUBLE)
                   / 1048576 / 100 * 10000 + 0.5) / 10000 AS decayed_value
      FROM a GROUP BY user_id ORDER BY user_id""",
    "q_ts_drawdown" -> """
      WITH p AS (
        SELECT user_id, ts, event_id,
               CASE WHEN event_type = 'purchase'
                    THEN CAST(floor(value * 100 + 0.5) AS BIGINT)
                    ELSE -CAST(floor(value * 100 + 0.5) AS BIGINT)
               END AS cents
        FROM events WHERE event_type IN ('purchase', 'error')),
      c AS (
        SELECT user_id, ts, event_id, cents,
               sum(cents) OVER (PARTITION BY user_id
                 ORDER BY ts, event_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                 AS cum
        FROM p),
      d AS (
        SELECT user_id, cents, cum,
               max(cum) OVER (PARTITION BY user_id
                 ORDER BY ts, event_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                 AS peak
        FROM c)
      SELECT user_id, count(*) AS n_flows,
             CAST(sum(cents) AS BIGINT) AS final_cents,
             CAST(max(peak - cum) AS BIGINT) AS max_drawdown_cents
      FROM d GROUP BY user_id
      ORDER BY user_id""",
    "q_rfm" -> """
      WITH pu AS (
        SELECT user_id, max(CAST(ts AS DATE)) AS last_d,
               count(*) AS frequency,
               CAST(sum(CAST(floor(value * 100 + 0.5) AS BIGINT))
                 AS BIGINT) AS monetary_cents
        FROM events WHERE event_type = 'purchase'
        GROUP BY user_id),
      cuts AS (
        SELECT max(last_d) AS anchor,
               quantile_cont(frequency, [0.25, 0.5, 0.75]) AS fq,
               quantile_cont(monetary_cents, [0.25, 0.5, 0.75]) AS mq
        FROM pu),
      sc AS (
        SELECT pu.*, date_diff('day', last_d, anchor) AS recency_d,
               fq, mq
        FROM pu CROSS JOIN cuts),
      rq AS (
        SELECT quantile_cont(recency_d, [0.25, 0.5, 0.75]) AS rq
        FROM sc),
      s2 AS (
        SELECT user_id, CAST(recency_d AS BIGINT) AS recency_d,
               frequency, monetary_cents,
               CAST(1 + (recency_d <= rq[1])::INT
                      + (recency_d <= rq[2])::INT
                      + (recency_d <= rq[3])::INT AS BIGINT) AS r_score,
               CAST(1 + (frequency >= fq[1])::INT
                      + (frequency >= fq[2])::INT
                      + (frequency >= fq[3])::INT AS BIGINT) AS f_score,
               CAST(1 + (monetary_cents >= mq[1])::INT
                      + (monetary_cents >= mq[2])::INT
                      + (monetary_cents >= mq[3])::INT AS BIGINT)
                 AS m_score
        FROM sc CROSS JOIN rq)
      SELECT user_id, recency_d, frequency, monetary_cents,
             r_score, f_score, m_score,
             concat_ws('-', r_score, f_score, m_score) AS segment
      FROM s2 ORDER BY user_id""",
    "q_churn" -> """
      WITH ls AS (
        SELECT user_id, max(CAST(ts AS DATE)) AS last_seen
        FROM events GROUP BY user_id),
      a AS (SELECT max(last_seen) AS anchor FROM ls),
      f AS (
        SELECT user_id,
               (last_seen < anchor - INTERVAL 7 DAY)::INT AS churned
        FROM ls CROSS JOIN a)
      SELECT c_mktsegment, count(*) AS n_users,
             CAST(sum(churned) AS BIGINT) AS n_churned,
             floor(CAST(sum(churned) AS DOUBLE) / count(*) * 10000
                   + 0.5) / 10000 AS churn_rate
      FROM f JOIN customer ON user_id = c_custkey
      GROUP BY c_mktsegment
      ORDER BY c_mktsegment""",
    "q_user_path" -> """
      WITH r AS (
        SELECT user_id, event_type,
               row_number() OVER (PARTITION BY user_id
                                  ORDER BY ts, event_id) AS rn
        FROM events),
      p AS (
        SELECT user_id, string_agg(event_type, '>' ORDER BY rn) AS path
        FROM r WHERE rn <= 3
        GROUP BY user_id HAVING count(*) = 3)
      SELECT path, count(*) AS n_users
      FROM p GROUP BY path
      ORDER BY n_users DESC, path
      LIMIT 10""",
    "q_event_transitions" -> """
      WITH t AS (
        SELECT event_type,
               lag(event_type) OVER
                 (PARTITION BY user_id ORDER BY ts) AS prev
        FROM events)
      SELECT prev, event_type, count(*) AS n,
             round(count(*) / sum(count(*)) OVER (PARTITION BY prev), 4)
               AS p
      FROM t WHERE prev IS NOT NULL
      GROUP BY prev, event_type
      ORDER BY prev, event_type""",
    "q_funnel" -> """
      WITH t1 AS (
        SELECT user_id, min(ts) AS t1 FROM events
        WHERE event_type = 'view' GROUP BY user_id),
      t2 AS (
        SELECT e.user_id, min(ts) AS t2 FROM events e
        JOIN t1 USING (user_id)
        WHERE event_type = 'click' AND ts > t1 GROUP BY e.user_id),
      t3 AS (
        SELECT e.user_id, min(ts) AS t3 FROM events e
        JOIN t2 USING (user_id)
        WHERE event_type = 'purchase' AND ts > t2 GROUP BY e.user_id)
      SELECT (SELECT count(*) FROM t1) AS n_view,
             (SELECT count(*) FROM t2) AS n_click,
             (SELECT count(*) FROM t3) AS n_purchase""",
    "q_cohort_retention" -> """
      WITH first AS (
        SELECT user_id, date_trunc('week', min(ts)) AS w0
        FROM events GROUP BY user_id),
      active AS (
        SELECT DISTINCT user_id, date_trunc('week', ts) AS w
        FROM events)
      SELECT strftime(w0, '%Y-%m-%d') AS cohort_week,
             date_diff('day', w0, w) // 7 AS week_offset,
             count(*) AS n_users
      FROM active JOIN first USING (user_id)
      GROUP BY 1, 2
      ORDER BY cohort_week, week_offset""",
    "q_ts_anomaly" -> """
      WITH e AS (
        SELECT user_id, ts,
               CAST(floor(value * 100 + 0.5) AS DOUBLE) AS cents
        FROM events),
      w AS (
        SELECT user_id, ts, cents,
               count(cents) OVER win AS n_prev,
               avg(cents) OVER win AS mu,
               stddev_samp(cents) OVER win AS sigma
        FROM e
        WINDOW win AS (PARTITION BY user_id ORDER BY ts
                       ROWS BETWEEN 10 PRECEDING AND 1 PRECEDING)),
      z AS (
        SELECT user_id, ts, cents,
               round((cents - mu) / sigma, 4) AS z
        FROM w WHERE n_prev >= 8 AND sigma > 0)
      SELECT user_id, strftime(ts, '%Y-%m-%d %H:%M:%S') AS ts,
             CAST(cents AS BIGINT) AS cents, z
      FROM z WHERE abs(z) >= 2.5
      ORDER BY user_id, ts""",
    "q_ts_ewma" -> """
      WITH ser AS (
        SELECT user_id, ts,
               CAST(floor(value * 100 + 0.5) AS DOUBLE) AS cents
        FROM events),
      agg AS (
        SELECT user_id,
               list(ts ORDER BY ts) AS tss,
               list(cents ORDER BY ts) AS xs
        FROM ser GROUP BY user_id),
      idx AS (
        SELECT user_id, tss, xs,
               unnest(range(1, len(xs) + 1)) AS i
        FROM agg)
      SELECT user_id,
             strftime(tss[i], '%Y-%m-%d %H:%M:%S') AS ts,
             floor(CAST(list_reduce(xs[1:i],
                     (s, x) -> 0.25 * x + 0.75 * s) AS DOUBLE)
                   * 10000 + 0.5) / 10000 AS ewma_cents
      FROM idx
      ORDER BY user_id, ts, ewma_cents""",
    "q_window_streaks" -> """
      WITH du AS (
        SELECT DISTINCT user_id, CAST(ts AS DATE) AS d FROM events),
      isl AS (
        SELECT user_id,
               datediff('day', DATE '2024-01-01', d)
                 - row_number() OVER (PARTITION BY user_id ORDER BY d)
                 AS island
        FROM du),
      runs AS (
        SELECT user_id, island, count(*) AS len
        FROM isl GROUP BY user_id, island)
      SELECT user_id, max(len) AS longest_streak,
             count(*) AS n_streaks,
             CAST(sum(len) AS BIGINT) AS active_days
      FROM runs GROUP BY user_id ORDER BY user_id""",
    "q_active_users" -> """
      WITH du AS (
        SELECT DISTINCT CAST(ts AS DATE) AS d, user_id FROM events),
      dau AS (SELECT d, count(*) AS dau FROM du GROUP BY 1),
      wau AS (
        SELECT x.day, count(DISTINCT du.user_id) AS wau
        FROM (SELECT d AS day FROM dau) x JOIN du
          ON du.d BETWEEN x.day - INTERVAL 6 DAY AND x.day
        GROUP BY 1)
      SELECT strftime(dau.d, '%Y-%m-%d') AS day, dau.dau, wau.wau,
             floor((CAST(dau.dau AS DOUBLE) / wau.wau) * 10000 + 0.5)
               / 10000 AS stickiness
      FROM dau JOIN wau ON wau.day = dau.d
      ORDER BY day""",
    "q_attribution" -> """
      WITH t AS (
        SELECT event_type, value,
               coalesce(last_value(CASE WHEN event_type IN
                   ('click', 'view', 'signup') THEN event_type END
                 IGNORE NULLS) OVER (PARTITION BY user_id ORDER BY ts
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                 'direct') AS channel
        FROM events)
      SELECT channel, count(*) AS n_purchases,
             CAST(sum(CAST(floor(value*100 + 0.5) AS BIGINT))
               AS BIGINT) AS cents
      FROM t WHERE event_type = 'purchase'
      GROUP BY channel ORDER BY channel""",
    "q_ts_ohlc" -> """
      SELECT event_type,
             strftime(make_timestamp((epoch_us(ts) // 900000000)
               * 900000000), '%Y-%m-%d %H:%M:%S') AS bar,
             round(arg_min(value, ts), 4) AS open,
             round(max(value), 4) AS high,
             round(min(value), 4) AS low,
             round(arg_max(value, ts), 4) AS close,
             count(*) AS n
      FROM events
      GROUP BY 1, 2
      ORDER BY event_type, bar""",
    "q_ts_interpolate" -> """
      WITH b AS (
        SELECT date_trunc('hour', min(ts)) AS lo,
               date_trunc('hour', max(ts)) AS hi
        FROM events),
      hours AS (
        SELECT unnest(generate_series(lo, hi, INTERVAL 1 HOUR)) AS h
        FROM b),
      types AS (SELECT DISTINCT event_type FROM events),
      spine AS (SELECT event_type, h FROM types, hours),
      obs AS (
        SELECT event_type, date_trunc('hour', ts) AS h,
               (sum(CAST(floor(value*100 + 0.5) AS BIGINT))*2000
                 + count(*)) // (2*count(*)) AS mc
        FROM events WHERE value > 95 GROUP BY 1, 2),
      j AS (
        SELECT s.event_type, s.h, o.mc,
               CAST(epoch(s.h) AS BIGINT) // 3600 AS hi0
        FROM spine s LEFT JOIN obs o USING (event_type, h)),
      w AS (
        SELECT event_type, h, mc, hi0,
          last_value(mc IGNORE NULLS) OVER
            (PARTITION BY event_type ORDER BY h
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS pmc,
          last_value(CASE WHEN mc IS NOT NULL THEN hi0 END IGNORE NULLS)
            OVER (PARTITION BY event_type ORDER BY h
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS phi,
          first_value(mc IGNORE NULLS) OVER
            (PARTITION BY event_type ORDER BY h
             ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING) AS nmc,
          first_value(CASE WHEN mc IS NOT NULL THEN hi0 END IGNORE NULLS)
            OVER (PARTITION BY event_type ORDER BY h
             ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING) AS nhi
        FROM j)
      SELECT event_type, strftime(h, '%Y-%m-%d %H:%M:%S') AS hour,
             mc IS NULL AS is_gap,
             CAST(CASE
               WHEN pmc IS NULL AND nmc IS NULL THEN 0
               WHEN pmc IS NULL THEN nmc
               WHEN nmc IS NULL THEN pmc
               ELSE ((pmc*(nhi-hi0) + nmc*(hi0-phi))*2
                     + (nhi-phi)) // (2*(nhi-phi))
             END AS BIGINT) AS interp_mc
      FROM w ORDER BY event_type, hour""",
    "q_ts_gapfill" -> """
      WITH b AS (
        SELECT date_trunc('hour', min(ts)) AS lo,
               date_trunc('hour', max(ts)) AS hi
        FROM events),
      hrs AS (
        SELECT unnest(generate_series(lo, hi, INTERVAL 1 HOUR)) AS h
        FROM b),
      spine AS (
        SELECT event_type, h
        FROM (SELECT DISTINCT event_type FROM events) CROSS JOIN hrs),
      obs AS (
        SELECT event_type, date_trunc('hour', ts) AS h, count(*) AS n,
               CAST(sum(CAST(floor(value * 100 + 0.5) AS BIGINT))
                 AS BIGINT) AS cents
        FROM events WHERE value > 95
        GROUP BY 1, 2)
      SELECT s.event_type,
             strftime(s.h, '%Y-%m-%d %H:%M:%S') AS hour,
             coalesce(o.n, 0) AS n,
             coalesce(last_value(o.cents IGNORE NULLS) OVER (
               PARTITION BY s.event_type ORDER BY s.h
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 0)
               AS locf_cents,
             o.n IS NULL AS is_gap
      FROM spine s
      LEFT JOIN obs o ON s.event_type = o.event_type AND s.h = o.h
      ORDER BY s.event_type, hour""",
    "q_window_tumbling" -> """
      SELECT strftime(time_bucket(INTERVAL 1 HOUR, ts), '%Y-%m-%d %H:%M:%S')
               AS wstart,
             event_type, count(*) AS n,
             CAST(sum(CAST(floor(value * 100 + 0.5) AS BIGINT))
               AS DOUBLE) / 100.0 AS sum_value
      FROM events
      GROUP BY 1, 2
      ORDER BY wstart, event_type""",
    "q_window_sliding" -> """
      SELECT strftime(to_timestamp((CAST(floor(epoch(ts) / 900) AS BIGINT) - off) * 900),
                      '%Y-%m-%d %H:%M:%S') AS wstart,
             count(*) AS n, count(DISTINCT user_id) AS n_users
      FROM events CROSS JOIN (SELECT unnest([0, 1, 2, 3]) AS off) offs
      GROUP BY 1
      ORDER BY wstart""",
    "q_session_window" -> """
      WITH marked AS (
        SELECT user_id, ts, value,
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
             CAST(sum(CAST(floor(value * 100 + 0.5) AS BIGINT))
               AS DOUBLE) / 100.0 AS sum_value
      FROM numbered
      GROUP BY user_id, sid
      ORDER BY user_id, session_start""",
  )
}
