package graft.operators

import graft.{Norm, QueryModule, Tables}
import graft.api.ops.pinLineage
import org.apache.spark.sql.Column
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Aggregation operators (SURVEY.md §2.B "Aggregations").
  *
  * All stock Spark hash-aggregation: partial (map-side) + final agg, no
  * custom code. At 100 TB the partial agg bounds shuffle volume by group
  * cardinality (9 groups for the flagship), so these plans scale with
  * input size, not shuffle size.
  */
object Aggregates extends QueryModule {

  /** Flagship — TPC-H Q1 shaped pricing summary (SURVEY.md §7.1).
    * scan → filter → project → hash-agg → sort, full Catalyst lifecycle.
    */
  val pricingSummary: Q = (spark, dir) => {
    val li = Tables(spark, dir, "lineitem")
    // Every money/quantity column is 2dp in the source, so all sums
    // run on exact BIGINTs (cents; discount/tax as integer percents —
    // disc_price in 1e-4 $, charge in 1e-6 $) divided ONCE at the
    // end: a raw double sum is partial-agg-order-dependent and the
    // r11 sf1 differential caught exactly that ulp drift crossing a
    // 4dp boundary on the rollup's revenue sum at 6M rows.
    val pc = floor(col("l_extendedprice") * 100 + 0.5).cast("long")
    val dp = floor(col("l_discount") * 100 + 0.5).cast("long")
    val tp = floor(col("l_tax") * 100 + 0.5).cast("long")
    li.filter(col("l_shipdate") <= lit("1998-09-02").cast("timestamp"))
      .groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(
        sum(floor(col("l_quantity") + 0.5).cast("long")).cast("double")
          .as("sum_qty"),
        (sum(pc).cast("double") / lit(100.0)).as("sum_base_price"),
        (sum(pc * (lit(100L) - dp)).cast("double") / lit(10000.0))
          .as("sum_disc_price"),
        (sum(pc * (lit(100L) - dp) * (lit(100L) + tp)).cast("double")
          / lit(1000000.0)).as("sum_charge"),
        Norm.r4tie(sum(floor(col("l_quantity") + 0.5).cast("long"))
          .cast("double") / count(lit(1)).cast("double")).as("avg_qty"),
        Norm.r4tie(sum(pc).cast("double") / lit(100.0)
          / count(lit(1)).cast("double")).as("avg_price"),
        Norm.r4tie(sum(dp).cast("double") / lit(100.0)
          / count(lit(1)).cast("double")).as("avg_disc"),
        count(lit(1)).as("count_order"))
      .orderBy("l_returnflag", "l_linestatus")
  }

  /** count(distinct) — expands to a two-phase distinct aggregate. */
  val aggDistinct: Q = (spark, dir) => {
    val o = Tables(spark, dir, "orders")
    o.groupBy(col("o_orderstatus"))
      .agg(
        countDistinct(col("o_custkey")).as("n_custs"),
        countDistinct(col("o_orderpriority")).as("n_prios"),
        count(lit(1)).as("n_orders"))
      .orderBy("o_orderstatus")
  }

  /** ROLLUP region → nation revenue. Grouping-null keys coalesced to
    * 'ALL' on both sides so hash-match is stable.
    */
  val aggRollup: Q = (spark, dir) => {
    val o = Tables(spark, dir, "orders")
    val c = Tables(spark, dir, "customer")
    val n = Tables(spark, dir, "nation")
    val r = Tables(spark, dir, "region")
    o.join(c, o("o_custkey") === c("c_custkey"))
      .join(broadcast(n), c("c_nationkey") === n("n_nationkey"))
      .join(broadcast(r), n("n_regionkey") === r("r_regionkey"))
      .rollup(col("r_name"), col("n_name"))
      // exact BIGINT cents, divided ONCE: a raw double sum is
      // partial-agg-order-dependent and at sf1 (6M rows) drifted a
      // final ulp across the 4dp boundary vs DuckDB (caught by the
      // r11 sf1 differential — row 'AMERICA/ALL' off by 1e-4)
      .agg((sum(floor(col("o_totalprice") * 100 + 0.5).cast("long"))
        .cast("double") / lit(100.0)).as("revenue"),
        count(lit(1)).as("n_orders"))
      .select(
        coalesce(col("r_name"), lit("ALL")).as("region"),
        coalesce(col("n_name"), lit("ALL")).as("nation"),
        col("revenue"), col("n_orders"))
      .orderBy("region", "nation")
  }

  /** CUBE over (returnflag × linestatus). */
  val aggCube: Q = (spark, dir) => {
    val li = Tables(spark, dir, "lineitem")
    li.cube(col("l_returnflag"), col("l_linestatus"))
      .agg(Norm.r4(sum("l_quantity")).as("sum_qty"),
        count(lit(1)).as("n"))
      .select(
        coalesce(col("l_returnflag"), lit("ALL")).as("returnflag"),
        coalesce(col("l_linestatus"), lit("ALL")).as("linestatus"),
        col("sum_qty"), col("n"))
      .orderBy("returnflag", "linestatus")
  }

  /** Explicit GROUPING SETS via SQL. Revenue sums exact BIGINT cents
    * (one division at the end): a raw double sum over 15M orders at
    * sf1 drifts ~2e-4 with summation order, which is engine-visible.
    */
  val aggGroupingSets: Q = (spark, dir) => {
    Tables(spark, dir, "orders").createOrReplaceTempView("g_orders")
    spark.sql("""
      SELECT coalesce(o_orderstatus, 'ALL') AS status,
             coalesce(o_orderpriority, 'ALL') AS priority,
             round(cast(sum(cast(floor(o_totalprice * 100 + 0.5) AS bigint)) AS double) / 100.0, 4) AS revenue,
             count(1) AS n
      FROM g_orders
      GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority),
                              (o_orderstatus, o_orderpriority), ())
      ORDER BY status, priority
    """)
  }

  /** Statistical aggregates: stddev/variance/exact interpolated
    * percentile/min/max.
    */
  /** Linear-regression aggregate family (regr_slope / regr_intercept /
    * regr_r2 / regr_count + corr / covar_samp), SQL:2016 bivariate
    * stats: fit price-vs-quantity per return flag. All two-phase
    * moment aggregates — partial-agg before the shuffle like any sum;
    * x and y are small-magnitude (quantity ≤ 50), so the moment sums
    * stay well-conditioned and the 4dp rounding is engine-stable.
    */
  val aggLinreg: Q = (spark, dir) => {
    val l = Tables(spark, dir, "lineitem")
    val y = col("l_extendedprice")
    val x = col("l_quantity")
    l.groupBy(col("l_returnflag"))
      .agg(
        regr_count(y, x).as("n"),
        Norm.r4(regr_slope(y, x)).as("slope"),
        Norm.r4(regr_intercept(y, x)).as("intercept"),
        Norm.r4(regr_r2(y, x)).as("r2"),
        Norm.r4(corr(x, y)).as("corr_qp"),
        Norm.r4(covar_samp(x, y)).as("covar_qp"))
      .orderBy("l_returnflag")
  }

  val aggStats: Q = (spark, dir) => {
    val o = Tables(spark, dir, "orders")
    o.groupBy(col("o_orderstatus"))
      .agg(
        Norm.r4(stddev_samp(col("o_totalprice"))).as("sd_price"),
        Norm.r4(var_samp(col("o_totalprice"))).as("var_price"),
        Norm.r4(expr("percentile(o_totalprice, 0.5)")).as("median_price"),
        Norm.r4(min(col("o_totalprice"))).as("min_price"),
        Norm.r4(max(col("o_totalprice"))).as("max_price"))
      .orderBy("o_orderstatus")
  }

  /** Conditional / boolean aggregate family (count_if, bool_and,
    * bool_or) + exact interpolated median — the SQL:2023-ish aggregate
    * surface a migration from any modern warehouse expects. Median
    * runs over integer cents: with 2-decimal inputs scaled to BIGINT,
    * even-count interpolation lands on exact .0/.5 doubles, so the
    * cross-engine compare can't hit a float tie. All of these are
    * partial-aggregable built-ins — two-phase hash-agg, no extra
    * shuffle vs a plain count.
    */
  val aggConditional: Q = (spark, dir) => {
    val o = Tables(spark, dir, "orders")
      .withColumn("cents", floor(col("o_totalprice") * 100 + 0.5).cast("long"))
    o.groupBy(col("o_orderstatus"))
      .agg(count_if(col("o_totalprice") > 150000).as("n_big"),
        bool_and(col("o_totalprice") > 0).as("all_positive"),
        bool_or(col("o_orderpriority") === "1-URGENT").as("any_urgent"),
        Norm.r4(median(col("cents"))).as("median_cents"))
      .orderBy("o_orderstatus")
  }

  /** HyperLogLog approximate distinct — no DuckDB oracle (different
    * sketch); bounds-checked vs exact in scalatest.
    */
  val aggApproxDistinct: Q = (spark, dir) => {
    val e = Tables(spark, dir, "events")
    e.groupBy(col("event_type"))
      .agg(approx_count_distinct(col("user_id")).as("approx_users"),
        count(lit(1)).as("n"))
      .orderBy("event_type")
  }

  /** Mergeable HLL sketches — the pattern behind incremental distinct
    * counts at 100 TB: per-group sketches built in one pass
    * (`hll_sketch_agg`), then merged across groups (`hll_union_agg`)
    * WITHOUT rescanning the data — a re-aggregation over kilobyte
    * sketches instead of terabytes of raw rows. Output compares the
    * merged estimate to the global sketch estimate. No oracle (sketch
    * internals differ across engines); bounds-checked in scalatest.
    */
  val aggHllSketch: Q = (spark, dir) => {
    val e = Tables(spark, dir, "events")
    val perType = e.groupBy(col("event_type"))
      .agg(hll_sketch_agg(col("user_id")).as("sketch"),
        count(lit(1)).as("n"))
    perType.agg(
        hll_sketch_estimate(hll_union_agg(col("sketch")))
          .as("merged_distinct_users"),
        sum(col("n")).as("total_events"))
      .crossJoin(e.agg(
        hll_sketch_estimate(hll_sketch_agg(col("user_id")))
          .as("direct_distinct_users")))
  }

  /** KMV (bottom-k / theta-style) sketch SET OPERATIONS — what HLL
    * cannot do: estimate the OVERLAP between segments from mergeable
    * O(k) summaries. Per event type, the sketch is the k=256 smallest
    * md5(user_id) values ([[graft.functions.BottomKAgg]] — partial-
    * aggregable, so the shuffle moves ≤ k hashes per group, never
    * users); for a pair of types, J ≈ |bottom-k(A∪B) ∩ A ∩ B| / k.
    * Because the "randomness" is md5, the whole estimator is
    * DETERMINISTIC and the DuckDB twin reproduces it hash-for-hash —
    * an exactly-checked approximate operator. The exact Jaccard
    * (distinct-pair self-join) rides along to exhibit the estimate
    * error; at 100 TB you keep the sketch path (one pass + kilobyte
    * re-aggregations) and drop the exact one — that is the point.
    */
  val aggKmvIntersect: Q = (spark, dir) => {
    import graft.functions.BottomKAgg
    val K = 256
    // Segments = daily active-user cohorts (first 5 days): sparse
    // enough that overlaps genuinely vary (event types see every user
    // and would all read J = 1.0).
    val e = Tables(spark, dir, "events")
      .filter(dayofmonth(col("ts")) <= 5)
      .select(concat(lit("d"), dayofmonth(col("ts"))).as("seg"),
        col("user_id")).distinct()
    val sk = e.groupBy("seg")
      .agg(BottomKAgg.bottomK(K)(
        md5(col("user_id").cast("string")), col("user_id")).as("ids"))
      .select(col("seg"),
        transform(col("ids"), i => md5(i.cast("string"))).as("hs"))
    val est = sk.as("a").join(sk.as("b"), col("a.seg") < col("b.seg"))
      .select(col("a.seg").as("seg_a"), col("b.seg").as("seg_b"),
        col("a.hs").as("ha"), col("b.hs").as("hb"))
      .withColumn("u",
        slice(array_sort(array_union(col("ha"), col("hb"))), 1, K))
      .withColumn("shared", size(filter(col("u"),
        x => array_contains(col("ha"), x) && array_contains(col("hb"), x))))
      .select(col("seg_a"), col("seg_b"),
        Norm.r4(col("shared").cast("double") / size(col("u"))).as("j_est"))
    val sizes = e.groupBy(col("seg")).agg(count(lit(1)).as("n"))
    val common = e.as("x").join(e.as("y"),
        col("x.user_id") === col("y.user_id") &&
          col("x.seg") < col("y.seg"))
      .groupBy(col("x.seg").as("seg_a"), col("y.seg").as("seg_b"))
      .agg(count(lit(1)).as("n_common"))
    est.join(common, Seq("seg_a", "seg_b"), "left")
      .na.fill(0L, Seq("n_common"))
      .join(broadcast(sizes.select(col("seg").as("seg_a"),
        col("n").as("na"))), Seq("seg_a"))
      .join(broadcast(sizes.select(col("seg").as("seg_b"),
        col("n").as("nb"))), Seq("seg_b"))
      .select(col("seg_a"), col("seg_b"), col("j_est"),
        Norm.r4(col("n_common").cast("double") /
          (col("na") + col("nb") - col("n_common"))).as("j_exact"),
        col("n_common"))
      .orderBy("seg_a", "seg_b")
  }

  /** Approximate quantile sketch (Greenwald-Khanna style
    * `approx_percentile`) — the mergeable alternative to exact
    * `percentile`, which must buffer every value per group: the sketch
    * is O(1/ε) per partition and merges at partial-agg time, so p50/p95
    * over 100 TB cost one scan + kilobyte-sized shuffle. No oracle
    * (sketch boundaries are implementation-specific and merge-order
    * dependent); QualitySpec bounds both quantiles against the exact
    * percentiles' surrounding ranks.
    */
  val aggApproxQuantile: Q = (spark, dir) => {
    val o = Tables(spark, dir, "orders")
    o.groupBy(col("o_orderstatus"))
      .agg(
        Norm.r4(expr("approx_percentile(o_totalprice, 0.5, 10000)"))
          .as("p50_price"),
        Norm.r4(expr("approx_percentile(o_totalprice, 0.95, 10000)"))
          .as("p95_price"),
        count(lit(1)).as("n"))
      .orderBy("o_orderstatus")
  }

  /** KMV distinct-count estimator — the DETERMINISTIC twin of
    * `q_agg_approx_distinct`'s HLL ([[aggKmvIntersect]]'s proven
    * pattern): per event type, keep the k = 64 distinct user_ids whose
    * (md5, id) sort first (BottomKAgg — partial-aggregable, ≤ k hashes
    * per group cross the shuffle), and estimate D̂ = (k−1)/U₍k₎ where
    * U₍k₎ is the k-th smallest md5 normalized to [0,1) (first 15 hex
    * chars / 16¹⁵ — exact in a 60-bit long, exact as a double). Because
    * the "randomness" is md5, the DuckDB twin replays the estimator
    * hash-for-hash — an exactly-checked approximate-distinct operator,
    * closing the oracle gap the murmur-based HLL demo can't. Exact
    * count rides along to exhibit the error; groups smaller than k
    * fall back to the exact count (standard KMV). Scale: ONE pass +
    * kilobyte summaries, same as HLL; the estimate is mergeable
    * because bottom-k sets are.
    */
  val aggDistinctKmv: Q = (spark, dir) => {
    import graft.functions.BottomKAgg
    val K = 64
    val du = Tables(spark, dir, "events")
      .select(col("event_type"), col("user_id")).distinct()
    val sk = du.groupBy("event_type")
      .agg(BottomKAgg.bottomK(K)(
          md5(col("user_id").cast("string")), col("user_id")).as("ids"),
        count(lit(1)).as("n_exact"))
    // The bottomK array is (md5, id)-ordered, so element K is the
    // k-th smallest; its 60-bit hash prefix is exact in a long.
    val kth = conv(substring(
      md5(element_at(col("ids"), K).cast("string")), 1, 15), 16, 10)
      .cast("long")
    sk.select(col("event_type"), col("n_exact"),
        when(size(col("ids")) < K, col("n_exact").cast("double"))
          .otherwise(Norm.r4tie(lit(63.0) /
            (kth.cast("double") / lit(1.152921504606846976e18))))
          .as("kmv_est"))
      .orderBy("event_type")
  }

  /** KMV sketch MERGE — the scored proof of the property that makes
    * sketches work at 100 TB: bottom-k sketches are a COMMUTATIVE
    * MONOID (bottom-k of a union = bottom-k of the concatenated
    * per-partition bottom-ks), so a 1000-executor job ships k hashes
    * per partition, never rows. The query builds one KMV per event
    * type, merges the five sketches, and emits the merged estimate
    * NEXT TO the direct whole-corpus sketch plus the
    * `merged_equals_direct` flag — the monoid law itself is a
    * hash-checked output, not a code comment. Estimates use the
    * [[aggDistinctKmv]] form ((K−1)/normalized-kth-hash).
    *
    * Scale: per-type sketches partial-agg (≤ k hashes cross the
    * shuffle per group); the merge input is ≤ |types|·k ids — bytes.
    * The direct control is one more bounded bottom-k pass.
    */
  val aggKmvMerge: Q = (spark, dir) => {
    import graft.functions.BottomKAgg
    val K = 64
    val du = Tables(spark, dir, "events")
      .select(col("event_type"), col("user_id")).distinct()
    val perType = du.groupBy("event_type")
      .agg(BottomKAgg.bottomK(K)(
        md5(col("user_id").cast("string")), col("user_id")).as("ids"))
    val merged = perType
      .select(explode(col("ids")).as("user_id")).distinct()
      .agg(BottomKAgg.bottomK(K)(
        md5(col("user_id").cast("string")), col("user_id")).as("m_ids"))
    val direct = du.select("user_id").distinct()
      .agg(BottomKAgg.bottomK(K)(
          md5(col("user_id").cast("string")), col("user_id")).as("d_ids"),
        count(lit(1)).as("n_exact"))
    def est(ids: Column, nExact: Column): Column = {
      val kth = conv(substring(
        md5(element_at(ids, K).cast("string")), 1, 15), 16, 10)
        .cast("long")
      when(size(ids) < K, nExact.cast("double"))
        .otherwise(Norm.r4tie(lit(63.0) /
          (kth.cast("double") / lit(1.152921504606846976e18))))
    }
    merged.crossJoin(broadcast(direct))
      .select(col("n_exact"),
        est(col("d_ids"), col("n_exact")).as("est_direct"),
        est(col("m_ids"), col("n_exact")).as("est_merged"),
        (col("m_ids") === col("d_ids")).as("merged_equals_direct"))
  }

  /** Count-Min frequency sketch — the DETERMINISTIC md5-bucketed twin
    * of `q_agg_count_min`: a d = 4 × w = 64 grid where row j buckets
    * item x by 16 md5 bits of "j:x", each event increments its 4
    * cells (one partial-agg pass to 256 integer cells — the whole
    * "sketch" that crosses the shuffle), and the estimate for a probe
    * item is the MIN over its 4 cells — ≥ the true count by
    * construction (CM's one-sided guarantee, visible in the
    * `overcount` column). Probes = the top-20 users by exact count
    * (the heavy-hitter clientele CM exists for), selected by the
    * engines' shared (count desc, id) tie rule. Every number is an
    * exact BIGINT, so the DuckDB twin hash-matches the full grid
    * arithmetic — the oracle-checked form the murmur-based
    * `count_min_sketch()` demo can't give.
    */
  val aggCountMinTwin: Q = (spark, dir) => {
    val D = 4
    val W = 64
    def bucket(j: Int, x: Column): Column =
      conv(substring(md5(concat(lit(j.toString), lit(":"),
        x.cast("string"))), 1, 4), 16, 10).cast("long") % W
    val e = Tables(spark, dir, "events").select(col("user_id"))
    val rows = 0 until D
    val cells = e.select(explode(array(rows.map(j =>
        struct(lit(j).as("j"), bucket(j, col("user_id")).as("b"))): _*))
        .as("x"))
      .groupBy(col("x.j").as("j"), col("x.b").as("b"))
      .agg(count(lit(1)).as("c"))
    val top = e.groupBy("user_id").agg(count(lit(1)).as("n_exact"))
      .orderBy(col("n_exact").desc, col("user_id")).limit(20)
    val probes = top.select(col("user_id"), col("n_exact"),
        explode(array(rows.map(j => struct(lit(j).as("j"),
          bucket(j, col("user_id")).as("b"))): _*)).as("x"))
      .select(col("user_id"), col("n_exact"),
        col("x.j").as("j"), col("x.b").as("b"))
    probes.join(broadcast(cells), Seq("j", "b"))
      .groupBy("user_id", "n_exact").agg(min(col("c")).as("cm_est"))
      .select(col("user_id"), col("n_exact"), col("cm_est"),
        (col("cm_est") - col("n_exact")).as("overcount"))
      .orderBy("user_id")
  }

  /** Bottom-k-sample quantile sketch — the DETERMINISTIC twin of
    * `q_agg_approx_quantile`'s Greenwald–Khanna demo: per order
    * status, the k = 128 orders whose (md5(orderkey), orderkey) sort
    * first form a uniform-by-hash sample (Bar-Yossef-style bottom-k —
    * partial-aggregable, mergeable, ≤ k ids per group cross the
    * shuffle), and q̂(p) is the ⌈p·m⌉-th smallest sampled cent value.
    * The exact ⌈p·n⌉-rank quantiles ride along (one in-group sort —
    * the cost the sketch exists to avoid at 100 TB) so the error is
    * visible; every output is an exact BIGINT, so the DuckDB twin
    * hash-matches the whole estimator, rank arithmetic included.
    */
  val aggQuantileTwin: Q = (spark, dir) => {
    import graft.functions.BottomKAgg
    val K = 128
    val o = Tables(spark, dir, "orders")
      .select(col("o_orderstatus").as("st"),
        col("o_orderkey").cast("long").as("k"),
        floor(col("o_totalprice") * 100 + 0.5).cast("long").as("cents"))
    val sk = o.groupBy("st").agg(
      BottomKAgg.bottomK(K)(md5(col("k").cast("string")), col("k"))
        .as("ids"),
      count(lit(1)).as("n"))
    val ids = sk.select(col("st"), explode(col("ids")).as("k"))
    val sample = o.join(broadcast(ids), Seq("st", "k"))
      .groupBy("st").agg(sort_array(collect_list(col("cents"))).as("s"))
    def estAt(p: Double): Column =
      element_at(col("s"), ceil(size(col("s")) * p).cast("int"))
    val wq = Window.partitionBy("st").orderBy(col("cents"), col("k"))
    val ranked = o.withColumn("rn", row_number().over(wq))
      .join(sk.select(col("st"), col("n")), "st")
    def exactAt(p: Double, name: String): org.apache.spark.sql.DataFrame =
      ranked.filter(col("rn") ===
          ceil(col("n").cast("double") * p).cast("long"))
        .select(col("st"), col("cents").as(name))
    sk.select("st", "n").join(sample, "st")
      .join(exactAt(0.5, "p50_exact_cents"), "st")
      .join(exactAt(0.95, "p95_exact_cents"), "st")
      .select(col("st").as("o_orderstatus"), col("n"),
        size(col("s")).as("m"),
        estAt(0.5).as("p50_est_cents"),
        estAt(0.95).as("p95_est_cents"),
        col("p50_exact_cents"), col("p95_exact_cents"))
      .orderBy("o_orderstatus")
  }

  /** Correlated scalar subquery — orders 1.5× above their customer's
    * average. Catalyst decorrelates this (RewriteCorrelatedScalarSubquery)
    * into an aggregate + join, so it runs as two shuffles, not a
    * per-row subquery execution.
    */
  val subqueryCorrelated: Q = (spark, dir) => {
    Tables(spark, dir, "orders").createOrReplaceTempView("orders_v")
    spark.sql("""
      SELECT o_orderkey, o_custkey, round(o_totalprice, 4) AS totalprice
      FROM orders_v o
      WHERE o_totalprice > 1.5 * (SELECT avg(o2.o_totalprice)
                                  FROM orders_v o2
                                  WHERE o2.o_custkey = o.o_custkey)
      ORDER BY o_orderkey""")
  }

  /** Recursive CTE (Spark 4 SQL surface): a 1998 calendar-month spine
    * generated by bounded recursion, LEFT-joined to orders — the
    * densification pattern reports need (empty months show as zeros;
    * a plain GROUP BY can't produce rows for months with no data;
    * the synthetic orders end 1998-08 within this window, so trailing
    * months exercise the zeros). Revenue folds as exact integer
    * cents. Shape matters at scale: the fact table is AGGREGATED to
    * per-month rows FIRST (partial agg bounds the shuffle by group
    * count), then the months-sized result joins the months-sized
    * spine — joining the spine to raw orders instead would shuffle
    * the whole fact table onto 12 month keys (or need to broadcast
    * it). Recursion is driver-bounded (12 iterations).
    */
  val recursiveSpine: Q = (spark, dir) => {
    Tables(spark, dir, "orders").createOrReplaceTempView("orders_rs")
    spark.sql("""
      WITH RECURSIVE months(m) AS (
        SELECT DATE '1998-01-01'
        UNION ALL
        SELECT add_months(m, 1) FROM months WHERE m < DATE '1998-12-01'),
      agg AS (
        SELECT CAST(date_trunc('MONTH', o_orderdate) AS DATE) AS m,
               count(o_orderkey) AS n_orders,
               sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT))
                 AS cents
        FROM orders_rs GROUP BY 1)
      SELECT date_format(m, 'yyyy-MM') AS month,
             coalesce(n_orders, 0) AS n_orders,
             coalesce(cents, 0) AS cents
      FROM months LEFT JOIN agg USING (m)
      ORDER BY month""")
  }

  /** Pivot: per-user event counts, one column per event type. The
    * value list is explicit — at scale, pivot without it requires an
    * extra distinct pass over the data to discover the columns.
    */
  val aggPivot: Q = (spark, dir) => {
    Tables(spark, dir, "events")
      .groupBy(col("user_id"))
      .pivot("event_type",
        Seq("click", "error", "purchase", "signup", "view"))
      .agg(count(lit(1)))
      .na.fill(0L)
      .orderBy("user_id")
  }

  /** Unpivot (melt): the pivoted wide frame back to long format —
    * roundtrip proves pivot/unpivot are inverses (zero-count cells
    * dropped to match the plain group-by).
    */
  val aggUnpivot: Q = (spark, dir) => {
    aggPivot(spark, dir)
      .unpivot(Array(col("user_id")),
        Array(col("click"), col("error"), col("purchase"),
          col("signup"), col("view")),
        "event_type", "n")
      .filter(col("n") > 0)
      .orderBy("user_id", "event_type")
  }

  /** Ordered string aggregation: per region, the sorted comma-joined
    * nation list. collect_list is arrival-ordered (nondeterministic);
    * sort_array makes the result a pure function of the set, which is
    * both the determinism fix and what consumers want from a
    * list-valued aggregate.
    */
  val aggStringAgg: Q = (spark, dir) => {
    val n = Tables(spark, dir, "nation")
    val r = Tables(spark, dir, "region")
    n.join(broadcast(r), n("n_regionkey") === r("r_regionkey"))
      .groupBy(col("r_name"))
      .agg(concat_ws(",", sort_array(collect_list(col("n_name"))))
          .as("nations"),
        count(lit(1)).as("n_nations"))
      .orderBy("r_name")
  }

  /** Exact φ-heavy-hitters over the token stream: terms holding more
    * than 1/50 of all token occurrences. Support-threshold semantics
    * (not top-k — the output size is data-dependent). The integer
    * comparison `cnt * 50 > total` avoids a float threshold, so the
    * cut is exact in both engines. Term counts feed both the total and
    * the filter, so they're checkpointed once (vocab-sized, tiny).
    *
    * This is the exact two-pass twin of the one-pass bounded-memory
    * Misra–Gries summary (`graft.functions.MisraGriesAgg[String]`,
    * QualitySpec): at 100 TB the MG aggregator answers the same
    * question in one scan with k counters per partition; the exact
    * form here is what the oracle can verify.
    */
  val aggHeavyHitters: Q = (spark, dir) => {
    val counts = pinLineage(Tables(spark, dir, "documents")
      .select(explode(split(col("text"), " ")).as("term"))
      .groupBy("term").agg(count(lit(1)).as("cnt")))
    val total = counts.agg(sum("cnt").as("total"))
    counts.crossJoin(broadcast(total))
      .filter(col("cnt") * 50 > col("total"))
      .select(col("term"), col("cnt"))
      .orderBy("term")
  }

  /** Equi-width histogram of lineitem extended price: 20 buckets of
    * width 5500 from 0 (prices span ~[900, 105k] at every SF; the top
    * bucket is clamped so outliers can't fall off the edge). Bucket
    * assignment is a pure projection folded into the scan; one
    * partial-agg'd hash-agg. avg/min/max are emitted instead of sum:
    * a 60k-term double sum's FP error (~1e-6 absolute) sits too close
    * to the 4dp rounding boundary for a cross-engine hash, while the
    * same error divided by the bucket count is ~1e-10 — safe.
    */
  val aggHistogram: Q = (spark, dir) => {
    import Norm.r4tie
    Tables(spark, dir, "lineitem")
      .withColumn("bucket",
        least(floor(col("l_extendedprice") / 5500.0), lit(19.0))
          .cast("long"))
      .groupBy("bucket")
      .agg(count(lit(1)).as("cnt"),
        r4tie(avg(col("l_extendedprice"))).as("avg_price"),
        Norm.r4(min(col("l_extendedprice"))).as("min_price"),
        Norm.r4(max(col("l_extendedprice"))).as("max_price"))
      .orderBy("bucket")
  }

  /** One-scan column profile of `orders` (2 numeric + 2 string + the
    * key): the pre-ingestion data-quality gate. Exact distinct counts
    * here (oracle-checkable); `exact = false` is the documented
    * HLL scale path. See
    * [[graft.api.ops.GraftDataFrameOps.profileColumns]].
    */
  val aggProfile: Q = (spark, dir) => {
    import graft.api.ops._
    Tables(spark, dir, "orders")
      .profileColumns(Seq(
        "o_orderkey" -> true, "o_custkey" -> true,
        "o_orderstatus" -> false, "o_totalprice" -> true,
        "o_orderpriority" -> false))
      .orderBy("col_name")
  }

  /** max_by / min_by (arg-max/arg-min) per order status: which ORDER
    * carries the extreme price, not what the extreme price is — the
    * "representative row per group" aggregate that otherwise costs a
    * full window sort. One partial-aggregable hash-agg, no shuffle of
    * whole rows. o_totalprice ties exist in the data (14999 distinct /
    * 15000 rows at sf0.01), so the comparand is the cent value
    * composite-keyed with the orderkey via fixed-width lpad —
    * lexicographic order on zero-padded non-negative ints equals
    * numeric order, and it is engine-portable where struct-valued
    * arg_max is not.
    */
  val aggExtrema: Q = (spark, dir) => {
    val o = Tables(spark, dir, "orders")
      .withColumn("cents", floor(col("o_totalprice") * 100 + 0.5).cast("long"))
    val tieKey = concat(
      lpad(col("cents").cast("string"), 14, "0"),
      lpad(col("o_orderkey").cast("string"), 14, "0"))
    o.groupBy(col("o_orderstatus"))
      .agg(
        max_by(col("o_orderkey"), tieKey).as("max_price_order"),
        min_by(col("o_orderkey"), tieKey).as("min_price_order"),
        Norm.r4(max(col("o_totalprice"))).as("max_price"),
        Norm.r4(min(col("o_totalprice"))).as("min_price"),
        count(lit(1)).as("n"))
      .orderBy("o_orderstatus")
  }

  /** Count-Min point-frequency estimates vs exact counts for five
    * probe terms: ONE bounded-memory scan builds the mergeable
    * depth×width sketch ([[graft.functions.CountMinAgg]]); the probe
    * terms are literals, so their grid slots are computed at
    * PLAN-BUILD time and each estimate is a `least()` over `depth`
    * element_at lookups — no driver-side sketch readback, the whole
    * thing stays one Catalyst plan. `one_sided` must be true on every
    * row (CM errors only inflate). No DuckDB twin (no portable
    * murmur); QualitySpec gates the bounds + merge linearity.
    */
  val aggCountMin: Q = (spark, dir) => {
    import graft.functions.CountMinAgg
    val width = 256; val depth = 4
    val probes = Seq("join", "hash", "spark", "vector", "the")
    val toks = Tables(spark, dir, "documents")
      .select(explode(split(col("text"), " ")).as("term"))
    val sk = toks.agg(CountMinAgg.column(width, depth)(col("term"))
      .as("grid"))
    val exact = toks.filter(col("term").isin(probes: _*))
      .groupBy("term").agg(count(lit(1)).as("n_exact"))
    val estFor: String => org.apache.spark.sql.Column = t =>
      least((0 until depth).map { r =>
        val h = scala.util.hashing.MurmurHash3.stringHash(t, 0x9747b28c + r)
        // element_at is 1-based; same slot arithmetic as the UDAF.
        element_at(col("grid"), r * width + ((h & Int.MaxValue) % width) + 1)
      }: _*)
    val est = probes.tail.foldLeft(
        when(col("term") === probes.head, estFor(probes.head))) {
      (acc, t) => acc.when(col("term") === t, estFor(t))
    }
    exact.crossJoin(broadcast(sk))
      .select(col("term"), col("n_exact"), est.as("n_est"))
      .withColumn("one_sided", col("n_est") >= col("n_exact"))
      .orderBy("term")
  }

  /** Boolean aggregates — `bool_and`/`bool_or`/`count_if`, the
    * predicate-summary family (data-quality assertions compile to
    * exactly these): all partial-aggregable single-bit state.
    */
  val aggBool: Q = (spark, dir) =>
    Tables(spark, dir, "orders")
      .groupBy("o_orderpriority")
      .agg(
        bool_and(col("o_totalprice") > 1000).as("all_over_1k"),
        bool_or(col("o_orderstatus") === "F").as("any_final"),
        count_if(col("o_custkey") % 2 === 0).as("n_even_cust"),
        count(lit(1)).as("n"))
      .orderBy("o_orderpriority")

  /** Deequ-style expectation suite as ONE scan: every check metric is
    * an aggregate over the same pass (completeness, key uniqueness,
    * value range, set membership), folded to a long-form
    * (check, metric, passed) verdict table — the CI gate a pipeline
    * runs before publishing a table. Adding a check adds a column to
    * the single agg, never a scan.
    */
  val aggExpectations: Q = (spark, dir) => {
    val o = Tables(spark, dir, "orders")
    val m = o.agg(
      count(lit(1)).as("n_rows"),
      countDistinct(col("o_orderkey")).as("n_keys"),
      count_if(col("o_custkey").isNull).as("n_null_cust"),
      count_if(col("o_totalprice") <= 0).as("n_nonpos_price"),
      count_if(!col("o_orderstatus").isin("F", "O", "P"))
        .as("n_bad_status"))
    val checks = Seq(
      ("key_unique", col("n_keys"), col("n_keys") === col("n_rows")),
      ("custkey_complete", col("n_null_cust"), col("n_null_cust") === 0),
      ("price_positive", col("n_nonpos_price"),
        col("n_nonpos_price") === 0),
      ("status_in_domain", col("n_bad_status"), col("n_bad_status") === 0))
    m.select(col("n_rows"), explode(array(checks.map { case (name, v, ok) =>
        struct(lit(name).as("check_name"), v.cast("long").as("metric"),
          ok.as("passed")) }: _*)).as("c"))
      .select(col("c.check_name").as("check_name"), col("n_rows"),
        col("c.metric").as("metric"), col("c.passed").as("passed"))
      .orderBy("check_name")
  }

  /** Bitwise aggregates (bit_and/bit_or/bit_xor) over a flag bitmap
    * derived from order fields — how permission masks, feature flags,
    * and bloom-ish membership bitmaps aggregate; single-long state,
    * partial-aggregable, and xor doubles as an order-insensitive
    * checksum of the group's key set.
    */
  val aggBitwise: Q = (spark, dir) => {
    val o = Tables(spark, dir, "orders")
      .withColumn("flags",
        when(col("o_orderstatus") === "F", 1L).otherwise(0L) +
        when(col("o_totalprice") > 100000, 2L).otherwise(0L) +
        when(col("o_orderpriority").startsWith("1"), 4L).otherwise(0L))
    o.groupBy(col("o_orderpriority"))
      .agg(bit_and(col("flags")).as("flags_all"),
        bit_or(col("flags")).as("flags_any"),
        bit_xor(col("o_orderkey")).as("key_checksum"),
        count(lit(1)).as("n"))
      .orderBy("o_orderpriority")
  }

  /** Distribution-shape profile per corpus source: Shannon entropy
    * (nats) and Gini impurity of each source's language mix, plus the
    * distinct-language count — the diversity/imbalance diagnostics a
    * training-mix dashboard reports per source (a source whose
    * entropy collapses is suddenly monolingual; Gini → 0 likewise).
    *
    * Exactness: both reduce to INTEGER sufficient statistics. Gini is
    * 1 − Σc²/N² — one division of exact int64s, bit-identical across
    * engines. Entropy uses ln N − (Σ c·ln c)/N: `ln` of the same
    * integers gives the same doubles everywhere; only the (≤ languages
    * per source, ≈5) term summation is float, tie-guarded by r4tie.
    * Two-level partial-agg'd hash-agg — shuffle O(sources × langs).
    */
  val aggEntropy: Q = (spark, dir) => {
    val d = Tables(spark, dir, "documents")
    d.groupBy(col("source"), col("lang"))
      .agg(count(lit(1)).as("c"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_langs"), sum("c").as("n"),
        sum(col("c") * col("c")).as("ss"),
        sum(col("c").cast("double") * log(col("c").cast("double")))
          .as("clc"))
      .select(col("source"), col("n_langs"),
        Norm.r4tie(lit(1.0) - col("ss").cast("double") /
          (col("n") * col("n")).cast("double")).as("gini"),
        Norm.r4tie(log(col("n").cast("double")) -
          col("clc") / col("n").cast("double")).as("entropy"))
      .orderBy("source")
  }

  /** Robust outlier census per event type: exact median, exact MAD
    * (median absolute deviation), and the count of points beyond the
    * classic 3σ-equivalent cut 4.4478·MAD (= 3 × 1.4826, the normal-
    * consistency constant).
    *
    * Scale: the textbook THREE-pass exact MAD — each pass is a
    * projection-pruned 2-column scan feeding a partial-agg'd
    * per-type aggregate, with the ≤|types|-row median/MAD models
    * broadcast back; events are never shuffled (the exact percentile
    * buffers per GROUP, and groups here are |types|). At 100 TB swap
    * the two exact medians for `approx_percentile` and the plan
    * collapses to the same shape with bounded sketch buffers — the
    * same documented swap as q_text_quality_cut.
    */
  val statsMad: Q = (spark, dir) => {
    val e = Tables(spark, dir, "events")
      .select(col("event_type"),
        floor(col("value") * 100 + 0.5).cast("long").as("cents"))
    val med = e.groupBy("event_type")
      .agg(percentile(col("cents"), lit(0.5)).as("med_cents"))
    val dev = e.join(broadcast(med), "event_type")
      .withColumn("adev", abs(col("cents") - col("med_cents")))
    val mad = dev.groupBy("event_type")
      .agg(percentile(col("adev"), lit(0.5)).as("mad_cents"))
    dev.join(broadcast(mad), "event_type")
      .groupBy("event_type")
      .agg(count(lit(1)).as("n"),
        first(col("med_cents")).as("med_cents"),
        first(col("mad_cents")).as("mad_cents"),
        sum((col("adev") > lit(4.4478) * col("mad_cents")).cast("long"))
          .as("n_outliers"))
      .select(col("event_type"), col("n"), col("med_cents"),
        col("mad_cents"), col("n_outliers"),
        Norm.r4tie(col("n_outliers").cast("double") / col("n"))
          .as("outlier_frac"))
      .orderBy("event_type")
  }

  /** A/B experiment read-out: users split by id parity, purchase
    * values compared with a Welch t-statistic. Means and variances
    * derive from EXACT integer sums (n, Σx, Σx²) so the statistic is
    * the same IEEE double in any engine and under any partitioning —
    * `var_samp`/`stddev` stream central moments in a partition-
    * dependent order and are NOT reproducible cross-engine; the
    * integer-moment route is (sums stay well under 2^53 here; at a
    * scale where Σx² threatens 2^63, widen to DECIMAL before this
    * pattern breaks, don't fall back to streaming moments).
    *
    * Scale: one partial-agg'd pass to TWO rows, then pure arithmetic
    * — the significance call is a broadcast-trivial 1-row frame.
    */
  /** One-way ANOVA across event types on integer cents — "do the
    * groups share a mean?": F = (SSB/(k−1)) / (SSW/(n−k)) from exact
    * per-group BIGINT sufficient statistics (n_g, Σx, Σx²). The only
    * float sum is Σ_g S_g²/n_g over the k ≈ 6 group terms, which
    * folds in SORTED group order (the statsCramersV discipline), so
    * both engines add the identical doubles in the identical order.
    * η² = SSB/SST rides along as the effect size.
    *
    * Scale: one partial-agg'd pass to k rows, then a 1-row ordered
    * fold — nothing downstream of the scan depends on data volume.
    */
  val statsAnova: Q = (spark, dir) => {
    val g = Tables(spark, dir, "events")
      .select(col("event_type").as("t"),
        floor(col("value") * 100 + 0.5).cast("long").as("c"))
      .groupBy("t")
      .agg(count(lit(1)).as("ng"), sum(col("c")).as("sg"),
        sum(col("c") * col("c")).as("qg"))
    val folded = g.groupBy().agg(
      count(lit(1)).as("k"),
      sum("ng").as("n"), sum("sg").as("s"), sum("qg").as("q"),
      aggregate(array_sort(collect_list(struct(col("t"),
          (col("sg").cast("double") * col("sg") / col("ng"))
            .as("term")))),
        lit(0.0), (acc, e) => acc + e.getField("term")).as("sb_raw"))
    folded.select(col("k"), col("n"),
        Norm.r4tie((col("sb_raw")
          - col("s").cast("double") * col("s") / col("n")).as("ssb"))
          .as("ss_between"),
        Norm.r4tie(col("q").cast("double") - col("sb_raw"))
          .as("ss_within"),
        Norm.r4dn(((col("sb_raw")
            - col("s").cast("double") * col("s") / col("n"))
            / (col("k") - 1))
          / ((col("q").cast("double") - col("sb_raw"))
            / (col("n") - col("k")))).as("f_stat"),
        Norm.r4dn((col("sb_raw")
            - col("s").cast("double") * col("s") / col("n"))
          / (col("q").cast("double")
            - col("s").cast("double") * col("s") / col("n")))
          .as("eta_sq"))
  }

  /** Population Stability Index — the drift monitor production
    * scoring pipelines alert on: per event type, the value-cents
    * distribution over fixed $10 bins in the month's FIRST half
    * (reference) vs its SECOND half (current), PSI = Σ (p −
    * q)·ln(p/q). Bins are fixed-width integer buckets (c div 1000,
    * capped at 9) — production PSI pins the reference binning, it
    * does not re-quantile per window — and bins empty on either side
    * are skipped (the ε-free convention; both engines skip
    * identically via the same integer predicate). Counts stay exact
    * BIGINTs; each term is one shared float shape; the ≤10-term
    * per-type sum folds in bin order (the ordered-fold discipline —
    * a groupBy double sum is partial-agg-order-dependent). The
    * conventional alert at PSI ≥ 0.1 compares the ROUNDED value, so
    * the flag is as deterministic as the hash.
    *
    * Scale: one conditional-sum pass to (types × 10 bins), a
    * broadcast totals join, a bounded fold.
    */
  val statsPsi: Q = (spark, dir) => {
    val e = Tables(spark, dir, "events")
      .select(col("event_type").as("t"),
        (dayofmonth(col("ts")) <= 15).as("ref"),
        expr("least(CAST(floor(value * 100 + 0.5) AS BIGINT) div 1000, 9)")
          .as("bin"))
    val cells = e.groupBy("t", "bin").agg(
      sum(when(col("ref"), 1L).otherwise(0L)).as("nr"),
      sum(when(!col("ref"), 1L).otherwise(0L)).as("nc"))
    val tot = cells.groupBy("t").agg(
      sum(col("nr")).as("tr"), sum(col("nc")).as("tc"))
    def dd(c: String) = col(c).cast("double")
    val p = dd("nr") / dd("tr")
    val q = dd("nc") / dd("tc")
    val terms = cells.join(broadcast(tot), "t")
      .filter(col("nr") > 0 && col("nc") > 0)
      .select(col("t"), col("bin"), ((p - q) * log(p / q)).as("term"))
    val psi = aggregate(
      array_sort(collect_list(struct(col("bin"), col("term")))),
      lit(0.0), (acc, s) => acc + s.getField("term"))
    terms.groupBy("t")
      .agg(count(lit(1)).as("n_bins"), Norm.r4tie(psi).as("psi"))
      .select(col("t").as("event_type"), col("n_bins"), col("psi"),
        (col("psi") >= 0.1).as("drifted"))
      .orderBy("event_type")
  }

  /** Delta-method standard error for a ratio metric with USER-level
    * clustering — the A/B-platform correction naive per-event SEs get
    * wrong: revenue-per-event R = Σx/Σy is a ratio of sums whose
    * events correlate within a user, so the unit of analysis is the
    * user vector (x_u, y_u) and Var(R) ≈ (v_x − 2R·c_xy + R²·v_y) /
    * (n·ȳ²) (Fieller/delta method, the Deng et al. 2017 shape). Per
    * event type: per-user sums first (exact BIGINT cents/counts),
    * then the five cross moments (still BIGINT — Σx_u² stays < 2⁶³
    * through sf10; switch to decimal(38,0) beyond, the
    * exact-cents discipline), one float closed form at the end.
    *
    * Scale: two nested hash aggs (events → users → types); nothing
    * else moves. The naive-vs-delta gap is the point of the audit:
    * both SEs are emitted so the ratio of the two is the clustering
    * inflation factor.
    */
  val statsDeltaMethod: Q = (spark, dir) => {
    val e = Tables(spark, dir, "events")
      .select(col("event_type").as("t"), col("user_id"),
        floor(col("value") * 100 + 0.5).cast("long").as("c"))
    val users = e.groupBy("t", "user_id")
      .agg(sum(col("c")).as("x"), count(lit(1)).as("y"))
    // Cross moments in decimal(38,0), not LongType: the DuckDB twin
    // sums in HUGEINT, so the 38-digit budget keeps the two engines
    // agreeing exactly across ~19 more digits than a BIGINT sum
    // would. Failure is loud under EITHER ANSI setting: with ANSI on
    // (the Spark 4 default this build runs) a decimal-sum overflow
    // throws inside the aggregate itself and the raise_error below is
    // never reached; with ANSI off the overflowed sum comes out NULL
    // — and since every input is non-null by construction and each
    // group has >= 1 row, a NULL can ONLY mean overflow, which the
    // guard converts into the same loud task failure (the
    // embedPcaPower discipline). Belt and suspenders, not dead code:
    // the guard is what keeps the query loud if a caller's session
    // disables ANSI.
    def d19(c: Column) = c.cast("decimal(19,0)")
    def orOverflow(c: Column, what: String): Column =
      when(c.isNotNull, c).otherwise(raise_error(lit(
        s"decimal(38,0) overflow in statsDeltaMethod ($what) — " +
          "per-user cent totals exceed the 38-digit moment budget")))
    val g = users.groupBy("t").agg(
      count(lit(1)).as("n"),
      sum(col("x")).as("sx"), sum(col("y")).as("sy"),
      orOverflow(sum(d19(col("x")) * d19(col("x"))), "sxx").as("sxx"),
      orOverflow(sum(d19(col("y")) * d19(col("y"))), "syy").as("syy"),
      orOverflow(sum(d19(col("x")) * d19(col("y"))), "sxy").as("sxy"))
    def dd(c: String) = col(c).cast("double")
    val r = dd("sx") / dd("sy")
    val vx = (dd("sxx") - dd("sx") * dd("sx") / dd("n")) / (dd("n") - 1)
    val vy = (dd("syy") - dd("sy") * dd("sy") / dd("n")) / (dd("n") - 1)
    val cxy = (dd("sxy") - dd("sx") * dd("sy") / dd("n")) / (dd("n") - 1)
    val ybar = dd("sy") / dd("n")
    val seDelta = sqrt((vx - lit(2.0) * r * cxy + r * r * vy)
      / dd("n")) / ybar
    // naive per-event SE (pretends events are iid): the contrast that
    // makes the audit actionable — se_delta / se_naive is the
    // clustering inflation a naive A/B readout understates by
    val ev = e.groupBy("t").agg(
      count(lit(1)).as("ne"),
      sum(col("c")).as("se_"),
      orOverflow(sum(d19(col("c")) * d19(col("c"))), "qe").as("qe"))
    val vEvent = (dd("qe") - dd("se_") * dd("se_") / dd("ne")) /
      (dd("ne") - 1)
    val seNaive = sqrt(vEvent / dd("ne"))
    g.join(broadcast(ev), "t")
      .select(col("t").as("event_type"), col("n").as("n_users"),
        col("sy").as("n_events"),
        Norm.r4tie(r).as("ratio_cents"),
        Norm.r4tie(seDelta).as("se_delta"),
        Norm.r4tie(seNaive).as("se_naive"),
        Norm.r4tie(seDelta / seNaive).as("inflation"))
      .orderBy("event_type")
  }

  /** Brown–Forsythe test (Levene with median centers) for variance
    * homogeneity across event types — ANOVA's REQUIRED companion
    * (its equal-variance assumption is exactly what this tests, and
    * the median-centered form is the robust default). Structurally it
    * IS q_stats_anova run on z = |c − median_group|: the per-group
    * median is EXACT via the value histogram (cents have bounded
    * distinct values, so the cumulative window runs over the
    * histogram, never a raw-row sort; lower median by the integer
    * condition 2·cum ≥ n_g), z and its sufficient statistics stay
    * BIGINT, the 5-term between-group sum folds in group order
    * (ordered fold — a plain double sum over groups would be
    * agg-order-dependent), and W's closed form is one shared float
    * expression.
    *
    * Scale: the histogram is the partial-agg (distinct cents ×
    * types, data-volume-free); medians broadcast back; everything
    * after is a 5-row fold.
    */
  val statsLevene: Q = (spark, dir) => {
    val e = Tables(spark, dir, "events")
      .select(col("event_type").as("t"),
        floor(col("value") * 100 + 0.5).cast("long").as("c"))
    val hist = e.groupBy("t", "c").agg(count(lit(1)).as("cnt"))
    val wCum = Window.partitionBy("t").orderBy("c")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wTot = Window.partitionBy("t")
    val meds = hist
      .withColumn("cum", sum(col("cnt")).over(wCum))
      .withColumn("ng", sum(col("cnt")).over(wTot))
      .filter(col("cum") * 2 >= col("ng"))
      .groupBy("t").agg(min(col("c")).as("med"))
    val zh = hist.join(broadcast(meds), "t")
      .select(col("t"), abs(col("c") - col("med")).as("z"), col("cnt"))
    val g = zh.groupBy("t").agg(
      sum(col("cnt")).as("ng"),
      sum(col("z") * col("cnt")).as("sg"),
      sum(col("z") * col("z") * col("cnt")).as("qg"))
    val folded = g.groupBy().agg(
      count(lit(1)).as("k"),
      sum("ng").as("n"), sum("sg").as("s"), sum("qg").as("q"),
      aggregate(array_sort(collect_list(struct(col("t"),
          (col("sg").cast("double") * col("sg") / col("ng"))
            .as("term")))),
        lit(0.0), (acc, e2) => acc + e2.getField("term")).as("sb_raw"))
    folded.select(col("k"), col("n"),
      Norm.r4tie(col("sb_raw")
        - col("s").cast("double") * col("s") / col("n")).as("ss_between"),
      Norm.r4tie(col("q").cast("double") - col("sb_raw")).as("ss_within"),
      Norm.r4dn(((col("sb_raw")
          - col("s").cast("double") * col("s") / col("n"))
          / (col("k") - 1))
        / ((col("q").cast("double") - col("sb_raw"))
          / (col("n") - col("k")))).as("w_stat"))
  }

  /** Mann-Whitney U (Wilcoxon rank-sum) between click and purchase
    * values — the nonparametric A/B alternative when means mislead:
    * midranks handled EXACTLY by working in doubled-rank space
    * (midrank·2 = 2·cum + cnt + 1 is an integer for every tie group),
    * so the rank sum, U statistics, and the tie-corrected normal
    * approximation all derive from BIGINT sufficient statistics; the
    * z closed form is one identical expression tree in both engines.
    *
    * Scale: one partial-agg'd pass to the distinct-value table, one
    * bounded rank window over it, a 1-row finish — raw rows never
    * sort globally.
    */
  val statsMannWhitney: Q = (spark, dir) => {
    val e = Tables(spark, dir, "events")
      .filter(col("event_type").isin("click", "purchase"))
      .select(col("event_type").as("t"),
        floor(col("value") * 100 + 0.5).cast("long").as("c"))
    val byVal = e.groupBy("c")
      .agg(count(lit(1)).as("cnt"),
        sum(when(col("t") === "click", 1L).otherwise(0L)).as("cnt1"))
    val w = Window.orderBy("c")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val ranked = byVal
      .withColumn("cum", sum("cnt").over(w) - col("cnt"))
      .withColumn("mr2", lit(2) * col("cum") + col("cnt") + 1)
    val folded = ranked.groupBy().agg(
      sum("cnt1").as("n1"), sum(col("cnt") - col("cnt1")).as("n2"),
      sum(col("cnt1") * col("mr2")).as("r1x2"),
      sum(col("cnt") * col("cnt") * col("cnt") - col("cnt")).as("tie3"))
    // u1 = (r1x2 − n1(n1+1)) / 2: integer numerator halved once —
    // exact dyadic, no float accumulation anywhere upstream
    val u1 = (col("r1x2") - col("n1") * (col("n1") + 1))
      .cast("double") / 2
    val u2 = col("n1").cast("double") * col("n2") - u1
    val nn = (col("n1") + col("n2")).cast("double")
    val z = (u1 - col("n1").cast("double") * col("n2") / 2) /
      sqrt(col("n1").cast("double") * col("n2") / 12
        * ((nn + 1) - col("tie3").cast("double") / (nn * (nn - 1))))
    folded.select(col("n1"), col("n2"),
      Norm.r4tie(u1).as("u1"), Norm.r4tie(u2).as("u2"),
      Norm.r4dn(z).as("z"),
      (abs(z) > 1.96).as("significant"))
  }

  /** Welch's two-sample t-test (unequal variances) comparing click vs
    * purchase event values — the parametric companion to
    * [[statsMannWhitney]]'s rank test: group means and variances from
    * exact BIGINT totals (n, Σc, Σc² over ⌊v·100+½⌋-quantized cents,
    * ONE partial-agg'd pass), then t = (m₁−m₂)/√(v₁/n₁+v₂/n₂) and
    * the Welch–Satterthwaite df as single float expressions over the
    * six integer totals — identical IEEE operation order on both
    * engines. No p-value by design: it needs an incomplete-beta
    * neither engine has natively; |t| > 1.96 is the reported
    * large-sample decision (t is unit-invariant, so computing on
    * cents changes nothing).
    *
    * Scale: one scan, one map-side-combined agg to a 1-row frame —
    * nothing downstream of the six totals touches data volume.
    */
  val statsTtest: Q = (spark, dir) => {
    val e = Tables(spark, dir, "events")
      .filter(col("event_type").isin("click", "purchase"))
      .select((col("event_type") === "click").as("g"),
        floor(col("value") * 100 + 0.5).cast("long").as("c"))
    val f = e.groupBy().agg(
      sum(when(col("g"), 1L).otherwise(0L)).as("n1"),
      sum(when(col("g"), col("c")).otherwise(0L)).as("s1"),
      sum(when(col("g"), col("c") * col("c")).otherwise(0L)).as("q1"),
      sum(when(!col("g"), 1L).otherwise(0L)).as("n2"),
      sum(when(!col("g"), col("c")).otherwise(0L)).as("s2"),
      sum(when(!col("g"), col("c") * col("c")).otherwise(0L)).as("q2"))
    def m(s: Column, n: Column) = s.cast("double") / n.cast("double")
    def vr(q: Column, s: Column, n: Column) =
      (q.cast("double") - s.cast("double") * s.cast("double")
        / n.cast("double")) / (n.cast("double") - lit(1.0))
    val m1 = m(col("s1"), col("n1"))
    val m2 = m(col("s2"), col("n2"))
    val se1 = vr(col("q1"), col("s1"), col("n1")) /
      col("n1").cast("double")
    val se2 = vr(col("q2"), col("s2"), col("n2")) /
      col("n2").cast("double")
    val t = (m1 - m2) / sqrt(se1 + se2)
    val dfW = (se1 + se2) * (se1 + se2) /
      (se1 * se1 / (col("n1").cast("double") - lit(1.0))
        + se2 * se2 / (col("n2").cast("double") - lit(1.0)))
    f.select(col("n1"), col("n2"),
      Norm.r4tie(m1 / lit(100.0)).as("mean1"),
      Norm.r4tie(m2 / lit(100.0)).as("mean2"),
      Norm.r4dn(t).as("t_stat"),
      Norm.r4dn(dfW).as("df_welch"),
      (abs(t) > lit(1.96)).as("significant"))
  }

  /** Exact weighted median of line extended price (quantity-weighted)
    * per return flag — the robust center [[aggPercentiles]]'s
    * unweighted quantiles can't give you when rows carry different
    * mass: the smallest price p whose cumulative weight reaches half
    * the group total (lower-median convention), on exact BIGINT cents
    * and integer weights — the 2·cum ≥ total test never divides.
    *
    * Scale: partial-agg'd rollup to per-(flag, price) weight cells,
    * then a per-flag cumulative window over DISTINCT prices (bounded
    * by the price domain, not row count) — the same
    * distinct-value-ledger shape as [[statsMannWhitney]]'s ranks.
    */
  val aggWeightedMedian: Q = (spark, dir) => {
    val li = Tables(spark, dir, "lineitem")
      .select(col("l_returnflag").as("rf"),
        floor(col("l_extendedprice") * 100 + 0.5).cast("long").as("p"),
        floor(col("l_quantity") + 0.5).cast("long").as("w"))
    val byVal = li.groupBy("rf", "p").agg(sum("w").as("wv"))
    val win = Window.partitionBy("rf").orderBy("p")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    byVal
      .withColumn("cum", sum("wv").over(win))
      .withColumn("tw", sum("wv").over(Window.partitionBy("rf")))
      .filter(col("cum") * 2 >= col("tw"))
      .groupBy("rf")
      .agg(min("tw").as("total_w"), min("p").as("pmed"))
      .select(col("rf"), col("total_w"),
        Norm.r4tie(col("pmed").cast("double") / lit(100.0))
          .as("w_median"))
      .orderBy("rf")
  }

  /** Two-proportion z-test on CONVERSION RATE — q_abtest's
    * categorical sibling (that one compares purchase-value means;
    * most experiments ship a rate metric first): per-user converted
    * flag — purchase share above the uniform 1/5 expectation
    * (5·purchases > events, an integer comparison; "any purchase
    * ever" saturates to rate 1.0 at scale and zeroes the pooled
    * variance) — variants by user-id parity, pooled-variance
    * z = (p_A − p_B)/√(p̂(1−p̂)(1/n_A + 1/n_B)). Every count is an
    * exact BIGINT off two nested hash aggs; the z closed form is one
    * shared float expression.
    *
    * Scale: events → per-user flags (hash agg on user_id, the
    * shuffle the funnel family already pays) → a 2-row variant
    * rollup; the finish is row-local.
    */
  val statsTwoProportion: Q = (spark, dir) => {
    val u = Tables(spark, dir, "events")
      .groupBy(col("user_id"))
      .agg((sum(when(col("event_type") === "purchase", 1L)
        .otherwise(0L)) * 5 > count(lit(1))).cast("long").as("conv"))
      .select(when(col("user_id") % 2 === 0, "A").otherwise("B")
        .as("variant"), col("conv"))
    // the 2-row rollup feeds both variant branches — pin it
    val s = pinLineage(u.groupBy("variant")
      .agg(count(lit(1)).as("n"), sum(col("conv")).as("k")))
    val a = s.filter(col("variant") === "A")
      .select(col("n").as("n_a"), col("k").as("k_a"))
    val b = s.filter(col("variant") === "B")
      .select(col("n").as("n_b"), col("k").as("k_b"))
    def dd(c: Column) = c.cast("double")
    val pA = dd(col("k_a")) / dd(col("n_a"))
    val pB = dd(col("k_b")) / dd(col("n_b"))
    val pp = dd(col("k_a") + col("k_b")) / dd(col("n_a") + col("n_b"))
    val z = (pA - pB) /
      sqrt(pp * (lit(1.0) - pp) *
        (lit(1.0) / dd(col("n_a")) + lit(1.0) / dd(col("n_b"))))
    a.crossJoin(b)
      .select(col("n_a"), col("k_a"), col("n_b"), col("k_b"),
        Norm.r4tie(pA).as("rate_a"), Norm.r4tie(pB).as("rate_b"),
        Norm.r4dn(z).as("z"))
  }

  val abTest: Q = (spark, dir) => {
    val p = Tables(spark, dir, "events")
      .filter(col("event_type") === "purchase")
      .select(when(col("user_id") % 2 === 0, "A").otherwise("B")
        .as("variant"),
        floor(col("value") * 100 + 0.5).cast("long").as("c"))
    // pin: the 2-row moment frame feeds both variant branches —
    // without the pin each branch re-runs the event scan.
    val s = pinLineage(p.groupBy("variant")
      .agg(count(lit(1)).as("n"), sum(col("c")).as("sx"),
        sum(col("c") * col("c")).as("sx2")))
    val a = s.filter(col("variant") === "A")
      .select(col("n").as("n_a"), col("sx").as("sx_a"),
        col("sx2").as("sx2_a"))
    val b = s.filter(col("variant") === "B")
      .select(col("n").as("n_b"), col("sx").as("sx_b"),
        col("sx2").as("sx2_b"))
    def mean(sx: Column, n: Column): Column = sx.cast("double") / n
    def vr(sx2: Column, sx: Column, n: Column): Column =
      (sx2.cast("double") - sx.cast("double") * sx / n) / (n - 1)
    val ma = mean(col("sx_a"), col("n_a"))
    val mb = mean(col("sx_b"), col("n_b"))
    val va = vr(col("sx2_a"), col("sx_a"), col("n_a"))
    val vb = vr(col("sx2_b"), col("sx_b"), col("n_b"))
    val absT = Norm.r4tie(abs((mb - ma)
      / sqrt(va / col("n_a") + vb / col("n_b"))))
    a.crossJoin(b)
      .select(col("n_a"), col("n_b"),
        Norm.r4tie(ma).as("mean_a_cents"),
        Norm.r4tie(mb).as("mean_b_cents"),
        absT.as("abs_t"),
        (mb > ma).as("b_gt_a"),
        (absT > 1.96).as("significant"))
  }

  /** Two-sample Kolmogorov–Smirnov drift test: is the purchase value
    * distribution the same as the click value distribution? The exact
    * KS statistic D = max |ECDF_a − ECDF_b| over the cents-binned
    * domain, with the classic α=0.05 rejection cut
    * 1.358·√((n_a+n_b)/(n_a·n_b)) — the distribution-drift monitor a
    * training pipeline runs between data snapshots / sources.
    *
    * Determinism: the sweep runs in EXACT integer arithmetic —
    * D's numerator |cum_a·n_b − cum_b·n_a| is BIGINT, the argmax
    * tie-breaks on cents, and only the final division (identical
    * exact ints) and the critical-value sqrt (correctly-rounded IEEE
    * on identical inputs) touch floats, so the drift verdict can't
    * flip between engines.
    *
    * Scale: the only event-volume pass is a partial-agg'd histogram to
    * the cents domain (≤20 001 bins for 2-decimal values — a
    * calendar-like bound independent of row count, same argument as
    * the gapfill spine); the cumulative sweep and argmax run on that
    * bounded bin table.
    */
  val statsKs: Q = (spark, dir) => {
    val e = Tables(spark, dir, "events")
      .filter(col("event_type").isin("purchase", "click"))
      .select(col("event_type"),
        floor(col("value") * 100 + 0.5).cast("long").as("cents"))
    val hist = e.groupBy("cents").agg(
      sum(when(col("event_type") === "purchase", 1L).otherwise(0L)).as("ca"),
      sum(when(col("event_type") === "click", 1L).otherwise(0L)).as("cb"))
    val w = Window.orderBy("cents")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wAll = Window.partitionBy()
    val d = hist
      .withColumn("na", sum(col("ca")).over(wAll))
      .withColumn("nb", sum(col("cb")).over(wAll))
      .withColumn("dnum",
        abs(sum(col("ca")).over(w) * col("nb") -
          sum(col("cb")).over(w) * col("na")))
      .orderBy(col("dnum").desc, col("cents"))
      .limit(1)
    val ks = col("dnum").cast("double") /
      (col("na") * col("nb")).cast("double")
    val cut = lit(1.358) * sqrt((col("na") + col("nb")).cast("double") /
      (col("na") * col("nb")).cast("double"))
    d.select(col("na").as("n_a"), col("nb").as("n_b"),
      col("cents").as("ks_at_cents"),
      Norm.r4tie(ks).as("ks_stat"),
      (ks > cut).as("drift_flag"))
  }

  /** Chi-square independence test of event_type × hour-of-day — the
    * categorical drift twin of [[statsKs]] (is traffic mix stable
    * across the day?). χ² = Σ (obs−exp)²/exp with exp = rowTot·colTot/N.
    *
    * Determinism: every (obs·N − rT·cT) delta is exact BIGINT before
    * its single cast; the non-associative float SUM runs as a LEFT
    * FOLD over the (t, h)-sorted cell array — the same fixed-order
    * idiom as q_embed_quantize — so both engines add identical doubles
    * in the identical order (a plain `sum()` would be partial-agg
    * order-dependent).
    *
    * Scale: one partial-agg'd pass to |types|×24 cells; margins are
    * window sums over that bounded table; the fold happens on ≤120
    * elements in one row.
    */
  val statsChi2: Q = (spark, dir) => {
    val cells = Tables(spark, dir, "events")
      .groupBy(col("event_type").as("t"), hour(col("ts")).as("h"))
      .agg(count(lit(1)).as("obs"))
    val wAll = Window.partitionBy()
    val enr = cells
      .withColumn("n", sum(col("obs")).over(wAll))
      .withColumn("rt", sum(col("obs")).over(Window.partitionBy("t")))
      .withColumn("ct", sum(col("obs")).over(Window.partitionBy("h")))
    val dlt = (col("obs") * col("n") - col("rt") * col("ct")).cast("double")
    val term = dlt * dlt / (col("rt") * col("ct")).cast("double") /
      col("n").cast("double")
    enr.select(col("t"), col("h"), term.as("term"))
      .agg(count(lit(1)).cast("long").as("n_cells"),
        ((countDistinct(col("t")) - 1) * (countDistinct(col("h")) - 1))
          .cast("long").as("dof"),
        Norm.r4tie(aggregate(
          array_sort(collect_list(struct(col("t"), col("h"), col("term")))),
          lit(0d), (acc, x) => acc + x.getField("term"))).as("chi2"))
  }

  /** Exact per-group mode (argmax-by-count): each user's most frequent
    * event_type, with a deterministic tie-break (higher count first,
    * then lexicographically smallest type). The classic "label a user
    * by dominant behavior" op.
    *
    * Scale: NO collect_list of raw values — the first groupBy shrinks
    * events to (user × |event_type|) cells with map-side partial
    * counts, and the argmax window runs over that tiny frame (≤6 rows
    * per user). The mode share divides two exact BIGINTs → identical
    * doubles in both engines.
    */
  val aggMode: Q = (spark, dir) => {
    val e = Tables(spark, dir, "events")
    val cells = e.groupBy("user_id", "event_type")
      .agg(count(lit(1)).as("cnt"))
    val w = Window.partitionBy("user_id")
      .orderBy(col("cnt").desc, col("event_type"))
    cells
      .withColumn("rn", row_number().over(w))
      .withColumn("total", sum(col("cnt")).over(Window.partitionBy("user_id")))
      .filter(col("rn") === 1)
      .select(col("user_id"), col("event_type").as("mode_type"),
        col("cnt").as("mode_cnt"),
        Norm.r4tie(col("cnt").cast("double") / col("total").cast("double"))
          .as("mode_share"))
      .orderBy("user_id")
  }

  /** Exact grouped percentiles: the p50/p90/p99 latency-style table per
    * event type (the SRE/SLA reporting shape), over integer cents cast
    * to double so interpolation runs on exactly representable values.
    * DuckDB's quantile_cont and Spark's exact `percentile` share
    * percentile_cont semantics; their interpolation formulas differ
    * only in sub-4dp ulps on this domain.
    *
    * Scale: exact percentiles buffer each group — right at |types|
    * groups; the documented 100 TB swap is approx_percentile (already
    * exhibited by q_agg_approx_quantile) when groups stop fitting.
    */
  val aggPercentiles: Q = (spark, dir) => {
    val e = Tables(spark, dir, "events")
      .withColumn("cents",
        floor(col("value") * 100 + 0.5).cast("long").cast("double"))
    e.groupBy("event_type")
      .agg(count(lit(1)).as("n"),
        expr("percentile(cents, array(0.5D, 0.9D, 0.99D))").as("p"))
      .select(col("event_type"), col("n"),
        Norm.r4tie(col("p").getItem(0) / 100d).as("p50"),
        Norm.r4tie(col("p").getItem(1) / 100d).as("p90"),
        Norm.r4tie(col("p").getItem(2) / 100d).as("p99"))
      .orderBy("event_type")
  }

  /** Pairwise Pearson correlation matrix over four per-user behavior
    * metrics (clicks, views, purchases, spend-dollars) in long form —
    * the feature-correlation screen run before model training. All
    * sufficient statistics (4 sums + 10 pair products + n) come from
    * ONE aggregation over the per-user frame in exact BIGINT (spend in
    * whole dollars keeps squares < 2^63 at scale); each r casts to
    * double only in the final quotient, variance factors cast BEFORE
    * multiplying.
    *
    * Scale: one partial-agg'd user groupBy, then a 1-row global agg —
    * the matrix itself is O(k²) = 16 numbers whatever the volume.
    */
  val aggCorrMatrix: Q = (spark, dir) => {
    val e = Tables(spark, dir, "events")
    val perUser = e.groupBy("user_id").agg(
      sum(when(col("event_type") === "click", 1L).otherwise(0L)).as("m1"),
      sum(when(col("event_type") === "view", 1L).otherwise(0L)).as("m2"),
      sum(when(col("event_type") === "purchase", 1L).otherwise(0L)).as("m3"),
      sum(floor(col("value") * 100 + 0.5).cast("long")).as("c4"))
      .withColumn("m4", expr("c4 div 100"))
    val ms = Seq("m1", "m2", "m3", "m4")
    val sums = ms.map(m => sum(col(m)).as(s"s_$m")) ++
      (for (a <- ms; b <- ms if a <= b)
        yield sum(col(a) * col(b)).as(s"q_${a}_$b"))
    val stats = perUser.agg(count(lit(1)).as("n"), sums: _*)
    def q(a: String, b: String) =
      if (a <= b) col(s"q_${a}_$b") else col(s"q_${b}_$a")
    val pairs = for (a <- ms; b <- ms if a < b) yield {
      val num = (col("n") * q(a, b) - col(s"s_$a") * col(s"s_$b"))
        .cast("double")
      val da = (col("n") * q(a, a) - col(s"s_$a") * col(s"s_$a"))
        .cast("double")
      val db = (col("n") * q(b, b) - col(s"s_$b") * col(s"s_$b"))
        .cast("double")
      struct(lit(a).as("ma"), lit(b).as("mb"),
        (num / sqrt(da * db)).as("r"))
    }
    stats.select(explode(array(pairs: _*)).as("p"))
      .select(col("p.ma").as("metric_a"), col("p.mb").as("metric_b"),
        Norm.r4(col("p.r")).as("r"))
      .orderBy("metric_a", "metric_b")
  }

  /** The SQL front-end, end-to-end: TPC-H Q5's local-supplier-volume
    * shape submitted as ONE `spark.sql` text over registered temp
    * views — proving a SQL-only user gets the same engine (parser →
    * Catalyst → the same pushed-down, broadcast-planned physical plan
    * the DataFrame API gets; the optimizer does not care which
    * front-end built the tree). Revenue is exact integer cents ×
    * (100 − discount%) so the 6-way join's sum is order-invariant.
    *
    * Scale: classic star join — region/nation broadcast, the
    * customer⋈orders⋈lineitem⋈supplier spine shuffles on its keys with
    * AQE free to re-plan; one partial-agg'd nation rollup at the top.
    */
  val sqlEntry: Q = (spark, dir) => {
    Seq("customer", "orders", "lineitem", "supplier", "nation", "region")
      .foreach(t => Tables(spark, dir, t).createOrReplaceTempView(t))
    spark.sql("""
      SELECT n.n_name AS nation,
             count(*) AS n_items,
             floor(CAST(sum(CAST(floor(l.l_extendedprice * 100 + 0.5)
                                 AS BIGINT)
                       * (100 - CAST(floor(l.l_discount * 100 + 0.5)
                                     AS BIGINT))) AS DOUBLE)
                   / 10000 * 10000 + 0.5) / 10000 AS revenue
      FROM customer c
      JOIN orders o    ON c.c_custkey = o.o_custkey
      JOIN lineitem l  ON l.l_orderkey = o.o_orderkey
      JOIN supplier s  ON l.l_suppkey = s.s_suppkey
                      AND c.c_nationkey = s.s_nationkey
      JOIN nation n    ON c.c_nationkey = n.n_nationkey
      JOIN region r    ON n.n_regionkey = r.r_regionkey
      WHERE r.r_name IN ('AMERICA', 'ASIA')
      GROUP BY n.n_name
      ORDER BY revenue DESC, nation""")
  }

  /** Shape statistics — skewness and excess kurtosis of l_quantity per
    * return flag, from EXACT integer raw moments: quantities are small
    * integers (1..50 in the testdata), so Σq..Σq⁴ accumulate as BIGINTs
    * with zero float error, and the only doubles are the closed-form
    * central-moment quotients at the very end — evaluated by the
    * textually identical expression tree in both engines, so the IEEE
    * results match bit-for-bit before [[Norm.r4dn]] truncates
    * (sign-safe: skewness/kurtosis can be negative).
    *
    * Scale: one partial-agg'd scan; 4 BIGINT sums + a count per group
    * shuffle — a few dozen bytes per group regardless of input rows.
    * Σq⁴ stays under 2^63 to ~1.4e12 rows at q ≤ 50; past that widen
    * the accumulators to decimal(38,0).
    */
  val aggSkewness: Q = (spark, dir) => {
    val li = Tables(spark, dir, "lineitem")
      .select(col("l_returnflag"), col("l_quantity").cast("long").as("q"))
    val agg = li.groupBy("l_returnflag").agg(
      count(lit(1)).as("n"),
      sum(col("q")).as("s1"),
      sum(col("q") * col("q")).as("s2"),
      sum(col("q") * col("q") * col("q")).as("s3"),
      sum(col("q") * col("q") * col("q") * col("q")).as("s4"))
    val n = col("n").cast("double")
    def d(c: String) = col(c).cast("double")
    val m = d("s1") / n
    val m2 = d("s2") / n - m * m
    val m3 = d("s3") / n - lit(3.0) * m * (d("s2") / n) +
      lit(2.0) * m * m * m
    val m4 = d("s4") / n - lit(4.0) * m * (d("s3") / n) +
      lit(6.0) * m * m * (d("s2") / n) - lit(3.0) * m * m * m * m
    agg.select(col("l_returnflag"), col("n"),
        Norm.r4tie(m).as("mean_qty"),
        Norm.r4dn(m3 / sqrt(m2 * m2 * m2)).as("skewness"),
        Norm.r4dn(m4 / (m2 * m2) - lit(3.0)).as("kurtosis_excess"))
      .orderBy("l_returnflag")
  }

  /** Gini concentration of customer spend per market segment — the
    * standard inequality audit over a revenue distribution. Spend is
    * exact integer cents; customers are ranked ascending within their
    * segment (spend, then custkey so ties rank identically in both
    * engines) and G = 2·Σi·xᵢ/(n·Σx) − (n+1)/n over the ranked values.
    * Every accumulation (Σx, Σi·x) is BIGINT-exact; only the final
    * quotient is floating.
    *
    * Scale: the per-customer rollup partial-aggs then shuffles by
    * customer; the rank pass is a per-segment sort — the one inherent
    * cost of an exact rank-weighted statistic. With billions of
    * customers per segment, range-partition the sort (Spark's sort
    * already does) and compute Σi·x per range with offset arithmetic;
    * the formula itself needs no change. Σi·x ≤ n²·max_cents needs
    * decimal(38,0) past ~10⁸ customers/segment.
    */
  val aggGini: Q = (spark, dir) => {
    import graft.api.ops._
    val o = Tables(spark, dir, "orders")
    val c = Tables(spark, dir, "customer")
    o.join(broadcast(c), o("o_custkey") === c("c_custkey"))
      .groupBy(col("c_mktsegment").as("segment"), col("c_custkey"))
      .agg(sum(floor(col("o_totalprice") * 100 + 0.5).cast("long"))
        .as("cents"))
      .giniCoefficient(col("segment"), col("c_custkey"), col("cents"))
      .select(col("key").as("segment"), col("n").as("n_customers"),
        col("total").as("total_cents"),
        Norm.r4tie(col("gini")).as("gini"))
      .orderBy("segment")
  }

  /** Benjamini–Hochberg FDR correction over a 120-test family — the
    * multiple-testing discipline every metrics platform needs once it
    * runs more than one test: per (event_type × hour-of-day) cell, a
    * Welch t² of weekend vs weekday value-cents, ranked family-wide,
    * with BH discoveries at FDR α = 0.1. The p-value never exists at
    * query time: BH's p_(i) ≤ α·i/m is equivalent to t²_(i) ≥ z²_i
    * for the plan-literal ladder z²_i = invPhi(1 − α·i/(2m))²
    * ([[graft.api.ops.bhZsq]]) — so the only per-row math is the
    * fixed-shape Welch closed form off exact-BIGINT cents sufficient
    * statistics, and engine libm differences can't reach the data
    * path. The family size m = 120 is part of the test's definition;
    * a cell count drift raises in-plan (raise_error) rather than
    * silently shifting every threshold.
    *
    * Scale: events partial-agg to the 120-cell frame in one pass
    * (conditional sums — no join between the two groups); the rank
    * window runs over the bounded aggregate, benford-style, and the
    * 1-row k_BH max re-joins as a broadcast crossJoin.
    */
  val statsBhFdr: Q = (spark, dir) => {
    val alpha = 0.1
    val mTests = 120
    val zsq = graft.api.ops.bhZsq(alpha, mTests)
    val e = Tables(spark, dir, "events")
    val cents = floor(col("value") * 100 + 0.5).cast("long")
    val cells = e.select(col("event_type"), hour(col("ts")).as("hod"),
        (weekday(col("ts")) >= 5).as("we"), cents.as("c"))
      .groupBy("event_type", "hod")
      .agg(
        sum(when(col("we"), 1L).otherwise(0L)).as("n1"),
        sum(when(col("we"), col("c")).otherwise(0L)).as("x1"),
        sum(when(col("we"), col("c") * col("c")).otherwise(0L)).as("q1"),
        sum(when(!col("we"), 1L).otherwise(0L)).as("n2"),
        sum(when(!col("we"), col("c")).otherwise(0L)).as("x2"),
        sum(when(!col("we"), col("c") * col("c")).otherwise(0L)).as("q2"))
    def dd(c: String) = col(c).cast("double")
    val m1 = dd("x1") / dd("n1")
    val m2 = dd("x2") / dd("n2")
    val v1 = (dd("q1") - dd("x1") * dd("x1") / dd("n1")) / (dd("n1") - 1)
    val v2 = (dd("q2") - dd("x2") * dd("x2") / dd("n2")) / (dd("n2") - 1)
    val t2 = (m1 - m2) * (m1 - m2) / (v1 / dd("n1") + v2 / dd("n2"))
    val wAll = Window.orderBy(col("t2").desc, col("event_type"), col("hod"))
    val ranked = cells.withColumn("t2", t2)
      .withColumn("rank", row_number().over(wAll).cast("long"))
      .withColumn("n_cells", count(lit(1)).over(Window.partitionBy()))
      .withColumn("zsq",
        when(col("n_cells") =!= mTests, raise_error(concat(
          lit(s"bh_fdr: family must be exactly $mTests cells, got "),
          col("n_cells").cast("string"))).cast("double"))
          .otherwise(element_at(array(zsq.map(lit): _*),
            col("rank").cast("int"))))
      .withColumn("pass", col("t2") >= col("zsq"))
    val kmax = ranked.agg(max(when(col("pass"), col("rank"))).as("k_bh"))
    ranked.crossJoin(broadcast(kmax))
      .select(col("event_type"), col("hod"), col("n1"), col("n2"),
        Norm.r4tie(col("t2")).as("t2"), col("rank").as("bh_rank"),
        (col("rank") <= coalesce(col("k_bh"), lit(0L))).as("discovery"))
      .orderBy("bh_rank")
  }

  /** Kendall's τ-b between every pair of event-type hourly count
    * series — the rank-correlation sibling of q_ts_crosscorr's
    * Pearson r and q_agg_spearman's ρ, robust to monotone
    * transformations and the standard choice when series are
    * heavy-tailed. Concordant / discordant / tied pair counts are
    * exact BIGINTs from a sign comparison over all hour pairs; τ-b =
    * (C − D) / √((n₀ − t_x)(n₀ − t_y)) touches doubles only in the
    * one final closed form (counts ≤ 2.6e5 and their products
    * ≤ 6.7e10 are exactly representable, so both engines divide the
    * same IEEE values).
    *
    * Scale: the hour-pair join is quadratic in the CALENDAR (hours²,
    * per type pair), not in data volume — events partial-agg to
    * (types × hours) first. Past `mergeSpanHours` distinct hours
    * (multi-year spans) the query SWITCHES to Knight's O(n log n)
    * merge-sort pair count per type pair
    * ([[graft.functions.KendallKnight]] — each series fits one task);
    * the join form is preferred while hours² stays in the millions
    * because it whole-stage-codegens. The two forms produce
    * bit-identical counts (PropertySpec fuzzes the equivalence), so
    * the switch is invisible to the oracle.
    */
  val statsKendall: Q = (spark, dir) =>
    statsKendallImpl(spark, dir, mergeSpanHours = 5000)

  /** [[statsKendall]] with the span threshold exposed: the scored
    * entry's 30-day fixture (≤ 720 hours) takes the join form;
    * PropertySpec forces `mergeSpanHours = 0` to pin merge ≡ join on
    * the same data. The span probe is one partial-agg'd count over
    * the (types × hours) aggregate — trivial beside either form.
    */
  def statsKendallImpl(spark: org.apache.spark.sql.SparkSession,
                       dir: String,
                       mergeSpanHours: Int): org.apache.spark.sql.DataFrame = {
    val e = Tables(spark, dir, "events")
    // both the span probe and the chosen form read this; the pin
    // keeps the events scan from running twice
    val hourly = pinLineage(e.groupBy(col("event_type"),
        date_trunc("hour", col("ts")).as("hr"))
      .agg(count(lit(1)).as("x")))
    val aT = hourly.select(col("event_type").as("type_a"), col("hr"),
      col("x"))
    val bT = hourly.select(col("event_type").as("type_b"),
      col("hr").as("hr_b"), col("x").as("y"))
    // hours where BOTH series observe data; < keeps unordered pairs
    val series = aT.join(bT, col("hr") === col("hr_b") &&
        col("type_a") < col("type_b"))
      .select(col("type_a"), col("type_b"), col("hr"), col("x"), col("y"))
    val spanHours = hourly.select("hr").distinct().count()
    val agg =
      if (spanHours <= mergeSpanHours) {
        val p1 = series.select(col("type_a"), col("type_b"),
          col("hr").as("h1"), col("x").as("x1"), col("y").as("y1"))
        val p2 = series.select(col("type_a").as("ta2"),
          col("type_b").as("tb2"),
          col("hr").as("h2"), col("x").as("x2"), col("y").as("y2"))
        val dx = col("x1") - col("x2")
        val dy = col("y1") - col("y2")
        p1.join(p2, col("type_a") === col("ta2") &&
            col("type_b") === col("tb2") && col("h1") < col("h2"))
          .groupBy("type_a", "type_b").agg(
            count(lit(1)).as("n0"),
            sum(when((dx > 0 && dy > 0) || (dx < 0 && dy < 0), 1L)
              .otherwise(0L)).as("conc"),
            sum(when((dx > 0 && dy < 0) || (dx < 0 && dy > 0), 1L)
              .otherwise(0L)).as("disc"),
            sum(when(dx === 0, 1L).otherwise(0L)).as("tie_x"),
            sum(when(dy === 0, 1L).otherwise(0L)).as("tie_y"))
      } else {
        // Long-span path: one Knight pass per type pair. The shuffle
        // carries (pair, x, y) triples — the hourly AGGREGATE, never
        // events — and each pair's series sorts in a single task:
        // O(n log n) where the join form is O(n²).
        import spark.implicits._
        series.select(col("type_a"), col("type_b"), col("x"), col("y"))
          .as[(String, String, Long, Long)]
          .groupByKey(r => (r._1, r._2))
          .mapGroups { (key: (String, String),
                        it: Iterator[(String, String, Long, Long)]) =>
            val pts = it.map(r => (r._3, r._4)).toArray
            val (n0, c, d, tx, ty) = graft.functions.KendallKnight.stats(pts)
            (key._1, key._2, n0, c, d, tx, ty)
          }
          .toDF("type_a", "type_b", "n0", "conc", "disc",
            "tie_x", "tie_y")
          .filter(col("n0") > 0) // the join form emits no 1-hour pairs
      }
    def d(c: String) = col(c).cast("double")
    val tau = (d("conc") - d("disc")) /
      sqrt((d("n0") - d("tie_x")) * (d("n0") - d("tie_y")))
    agg.select(col("type_a"), col("type_b"), col("n0"), col("conc"),
        col("disc"), Norm.r4dn(tau).as("tau"))
      .orderBy("type_a", "type_b")
  }

  /** Benford first-digit audit over order totals — the classic fraud /
    * data-quality screen: the observed share of each leading digit vs
    * the Benford expectation log10(1+1/d). The digit is extracted
    * through exact integer+string ops (floor → BIGINT → first char),
    * never float log10 of the value itself, so binning is deterministic;
    * log10 only touches the 9 constant expectations.
    *
    * Scale: one scan, 9 groups, partial-agg'd; the total-count window
    * is over the 9-row aggregate, not the input.
    */
  val statsBenford: Q = (spark, dir) => {
    val o = Tables(spark, dir, "orders").filter(col("o_totalprice") >= 1)
    val d = o.select(
      substring(floor(col("o_totalprice")).cast("long").cast("string"),
        1, 1).as("digit"))
    val tot = Window.partitionBy()
    val share = col("n").cast("double") / col("n_total").cast("double")
    val benford = log10(lit(1.0) + lit(1.0) / col("digit").cast("double"))
    d.groupBy("digit").agg(count(lit(1)).as("n"))
      .withColumn("n_total", sum("n").over(tot))
      .select(col("digit"), col("n"),
        Norm.r4tie(share).as("share"),
        Norm.r4tie(benford).as("benford_p"),
        Norm.r4tie(abs(share - benford)).as("abs_dev"))
      .orderBy("digit")
  }

  /** 5%-trimmed mean of order totals per priority class — the robust
    * location estimate that survives fat tails where the plain mean
    * doesn't. Each group drops its k = ⌊n·5/100⌋ lowest and highest
    * rows by (cents, orderkey) rank — integer trim boundaries on
    * exact-cent ranks, so group membership of every row is
    * deterministic — then averages the kept cents (one BIGINT sum,
    * one final quotient). Reported next to the untrimmed mean so the
    * tail influence is visible.
    *
    * Scale: rank pass shuffles by priority (5 groups) and sorts per
    * group — for extreme groups use the same range-partitioned-sort
    * note as Gini; the trim itself is a filter, no second shuffle.
    */
  val aggTrimmedMean: Q = (spark, dir) => {
    val o = Tables(spark, dir, "orders")
      .select(col("o_orderpriority").as("priority"), col("o_orderkey"),
        floor(col("o_totalprice") * 100 + 0.5).cast("long").as("cents"))
    val w = Window.partitionBy("priority")
      .orderBy(col("cents"), col("o_orderkey"))
    val wp = Window.partitionBy("priority")
    val ranked = o.withColumn("rn", row_number().over(w))
      .withColumn("n", count(lit(1)).over(wp))
      .withColumn("k", expr("n * 5 div 100"))
    ranked.groupBy("priority").agg(
        max(col("n")).as("n_orders"),
        Norm.r4tie(sum(col("cents")).cast("double")
          / count(lit(1)).cast("double") / lit(100.0)).as("mean_all"),
        Norm.r4tie(
          sum(when(col("rn") > col("k") && col("rn") <= col("n") - col("k"),
            col("cents"))).cast("double")
          / sum(when(col("rn") > col("k") && col("rn") <= col("n") - col("k"),
            lit(1L))).cast("double") / lit(100.0)).as("mean_trimmed"))
      .orderBy("priority")
  }

  /** Herfindahl-Hirschman concentration index per market segment —
    * the antitrust-style measure HHI = Σ shareᵢ² over each customer's
    * revenue share, completing the concentration family (Gini = rank
    * inequality, Pareto = head mass, HHI = squared-share mass).
    * Computed as Σcents²/(Σcents)² with DECIMAL(38,0) accumulators —
    * cents² crosses 2^63 early, so the sums stay exact in decimal and
    * only the final ratio is floating. Also reports the
    * effective-competitor count 1/HHI.
    *
    * Scale: per-customer rollup then a 5-group partial-agg'd rollup;
    * no sort anywhere (unlike Gini/Pareto, HHI needs no ranking).
    */
  val aggHhi: Q = (spark, dir) => {
    val o = Tables(spark, dir, "orders")
    val c = Tables(spark, dir, "customer")
    val spend = o.join(broadcast(c), o("o_custkey") === c("c_custkey"))
      .groupBy(col("c_mktsegment").as("segment"), col("c_custkey"))
      .agg(sum(floor(col("o_totalprice") * 100 + 0.5).cast("long"))
        .as("cents"))
    val dc = col("cents").cast("decimal(38,0)")
    val hhi = col("s2").cast("double") /
      (col("s1").cast("double") * col("s1").cast("double"))
    spend.groupBy("segment").agg(
        count(lit(1)).as("n_customers"),
        sum(dc).as("s1"),
        sum(dc * dc).as("s2"))
      .select(col("segment"), col("n_customers"),
        Norm.r4tie(hhi * 10000).as("hhi_x10k"),
        Norm.r4tie(lit(1.0) / hhi).as("eff_competitors"))
      .orderBy("segment")
  }

  /** Poisson-bootstrap confidence interval for the mean order value
    * per priority — THE distributed bootstrap: instead of a global
    * with-replacement resample (impossible without shuffling the
    * world), each row enters replicate b with weight ~ Poisson(1),
    * drawn DETERMINISTICALLY by inverting the Poisson CDF on a
    * 48-bit md5 uniform of (orderkey, b). B = 40 replicates ride one
    * explode; replicate means are exact-integer quotients, and the
    * interval is POSITIONAL (2nd smallest / 2nd largest replicate
    * mean ≈ 5–95%), so no float averaging of order statistics. CDF
    * thresholds are 17-digit literals — both engines parse them to
    * identical doubles; no libm in the row path.
    *
    * Scale: the explode multiplies rows by B before a partial-agg'd
    * rollup to groups × B cells — shuffle volume is O(groups·B), and
    * B is the precision knob, independent of data size.
    */
  val statsBootstrap: Q = (spark, dir) => {
    val o = Tables(spark, dir, "orders")
      .select(col("o_orderpriority").as("priority"), col("o_orderkey"),
        floor(col("o_totalprice") * 100 + 0.5).cast("long").as("cents"))
    // P(Pois(1) <= k) for k = 0..5; heavier tails truncate to 6.
    val cdf = Seq(0.36787944117144233, 0.7357588823428847,
      0.9196986029286058, 0.9810118431238462, 0.9963401531726563,
      0.9994058151824183)
    val u = conv(substring(md5(concat(col("o_orderkey").cast("string"),
      lit("|"), col("b").cast("string"))), 1, 12), 16, 10)
      .cast("long").cast("double") / lit(281474976710656.0)
    val w = cdf.zipWithIndex.foldRight(lit(6L): Column) {
      case ((t, k), rest) => when(u < t, k.toLong).otherwise(rest)
    }
    val reps = o
      .withColumn("b", explode(sequence(lit(0), lit(39))))
      .withColumn("w", w)
      .groupBy("priority", "b")
      .agg((sum(col("w") * col("cents")).cast("double")
        / sum(col("w")).cast("double")).as("mean_b"))
    val wr = Window.partitionBy("priority")
      .orderBy(col("mean_b"), col("b"))
    val ci = reps.withColumn("rn", row_number().over(wr))
      .groupBy("priority")
      .agg(min(when(col("rn") === 2, col("mean_b"))).as("lo"),
        min(when(col("rn") === 39, col("mean_b"))).as("hi"))
    val point = o.groupBy("priority")
      .agg(count(lit(1)).as("n_orders"),
        (sum(col("cents")).cast("double")
          / count(lit(1)).cast("double")).as("mean_cents"))
    point.join(ci, "priority")
      .select(col("priority"), col("n_orders"),
        Norm.r4tie(col("mean_cents")).as("mean_cents"),
        Norm.r4tie(col("lo")).as("boot_lo"),
        Norm.r4tie(col("hi")).as("boot_hi"))
      .orderBy("priority")
  }

  /** Tukey IQR outlier fences per event type — the boxplot rule as a
    * data-quality monitor: positional quartiles (exact-cent ranks at
    * (n+1)÷4 and 3(n+1)÷4, clamped to [1, n]), fences at Q1−1.5·IQR /
    * Q3+1.5·IQR tested in SCALED-INTEGER form (2·cents vs 5·Q1−3·Q3)
    * so fence membership can't float-drift, and the outlier count +
    * extremes per type.
    *
    * Scale: one rank window per type (the inherent sort), the
    * quartile pick is a filter + 2-row aggregate joined back
    * broadcast; outlier counting is a partial-agg'd scan of the
    * ranked frame.
    */
  val statsIqrOutliers: Q = (spark, dir) => {
    val e = Tables(spark, dir, "events")
      .select(col("event_type"),
        floor(col("value") * 100 + 0.5).cast("long").as("cents"),
        col("event_id"))
    val w = Window.partitionBy("event_type")
      .orderBy(col("cents"), col("event_id"))
    val wt = Window.partitionBy("event_type")
    val ranked = e.withColumn("rn", row_number().over(w))
      .withColumn("n", count(lit(1)).over(wt))
    val qs = ranked
      .filter(col("rn") === greatest(expr("(n + 1) div 4"), lit(1)) ||
        col("rn") === least(expr("(3 * (n + 1)) div 4"), col("n")))
      .groupBy("event_type")
      .agg(min(col("cents")).as("q1"), max(col("cents")).as("q3"))
    ranked.join(broadcast(qs), "event_type")
      .withColumn("is_out",
        col("cents") * 2 < col("q1") * 5 - col("q3") * 3 ||
        col("cents") * 2 > col("q3") * 5 - col("q1") * 3)
      .groupBy("event_type")
      .agg(max(col("n")).as("n_events"),
        min(col("q1")).as("q1_cents"), min(col("q3")).as("q3_cents"),
        sum(when(col("is_out"), 1L).otherwise(0L)).as("n_outliers"),
        min(when(col("is_out"), col("cents"))).as("min_outlier"),
        max(when(col("is_out"), col("cents"))).as("max_outlier"))
      .orderBy("event_type")
  }

  /** Wilson 95% score interval for each event type's traffic share —
    * the binomial CI that stays inside [0,1] and behaves at small n,
    * the standard error bar on a rate dashboard (vs the bootstrap's
    * distribution-free CI on a MEAN). p̂ = nₜ/n from exact BIGINTs;
    * the closed form (p̂ + z²/2n ± z√(p̂(1−p̂)/n + z²/4n²))/(1 + z²/n)
    * is the identical expression tree in both engines (z = 1.96
    * literal), one sqrt each bound.
    *
    * Scale: one partial-agg'd pass to |types| cells + a 1-row total
    * window over the aggregate.
    */
  val statsWilson: Q = (spark, dir) => {
    val e = Tables(spark, dir, "events")
    val tot = Window.partitionBy()
    val n = col("n_total").cast("double")
    val p = col("n_type").cast("double") / n
    val z2 = lit(3.8416) // 1.96^2, exact decimal literal
    val centre = p + z2 / (lit(2.0) * n)
    val half = lit(1.96) * sqrt(p * (lit(1.0) - p) / n +
      z2 / (lit(4.0) * n * n))
    val denom = lit(1.0) + z2 / n
    e.groupBy("event_type").agg(count(lit(1)).as("n_type"))
      .withColumn("n_total", sum("n_type").over(tot))
      .select(col("event_type"), col("n_type"), col("n_total"),
        Norm.r4tie(p).as("share"),
        Norm.r4tie((centre - half) / denom).as("wilson_lo"),
        Norm.r4tie((centre + half) / denom).as("wilson_hi"))
      .orderBy("event_type")
  }

  /** Spearman rank correlation between per-user behavior metrics —
    * the monotone-association companion to q_agg_corr_matrix's
    * Pearson: ranks via row_number with user_id tiebreak (the
    * deterministic tie rule, documented — not average-rank), then the
    * EXACT closed form ρ = 1 − 6Σd²/(n(n²−1)) on BIGINT rank
    * differences; the only float is the final quotient. Reports
    * clicks↔spend and views↔purchases.
    *
    * Scale: one partial-agg'd user rollup, checkpointed ONCE; the four
    * rank orders then ride ONE range-partitioned parallel sort — the
    * rollup explodes to (user_id, tag, value) and sorts by (tag,
    * value, user_id), so within-tag rank = global rank − tagIdx·N.
    * One range exchange + one per-partition count-collect total (the
    * r10 form paid 4× checkpoint + 4× range shuffle + 4× collect by
    * chaining [[graft.api.ops.GraftDataFrameOps.globalRowNumber]]
    * per metric); still no single-partition window anywhere.
    */
  val aggSpearman: Q = (spark, dir) => {
    import graft.api.ops._
    val e = Tables(spark, dir, "events")
    val m = pinLineage(e.groupBy("user_id").agg(
      sum(when(col("event_type") === "click", 1L).otherwise(0L))
        .as("clicks"),
      sum(when(col("event_type") === "view", 1L).otherwise(0L))
        .as("views"),
      sum(when(col("event_type") === "purchase", 1L).otherwise(0L))
        .as("purchases"),
      sum(when(col("event_type") === "purchase",
        floor(col("value") * 100 + 0.5).cast("long")).otherwise(0L))
        .as("spend")))
    // nUsers is a driver scalar over the checkpointed rollup — the
    // same bounded footprint globalRowNumber's offset map holds.
    val nUsers = m.count()
    val tagged = m.select(col("user_id"), explode(map(
      lit(0L), col("clicks"), lit(1L), col("views"),
      lit(2L), col("purchases"), lit(3L), col("spend")))
      .as(Seq("tag", "v")))
    val ranked = tagged
      .globalRowNumber(Seq(col("tag"), col("v"), col("user_id")), "gr")
    // r_tag = gr − tagIdx·N ⇒ d_cs = r_clicks − r_spend = gr₀ − gr₃
    // + 3N and d_vp = r_views − r_purchases = gr₁ − gr₂ + N.
    val perUser = ranked.groupBy("user_id").agg(
      (max(when(col("tag") === 0L, col("gr")))
        - max(when(col("tag") === 3L, col("gr")))
        + lit(3L * nUsers)).as("d_cs"),
      (max(when(col("tag") === 1L, col("gr")))
        - max(when(col("tag") === 2L, col("gr")))
        + lit(nUsers)).as("d_vp"))
    perUser.agg(count(lit(1)).as("n"),
        sum(col("d_cs") * col("d_cs")).as("d2_cs"),
        sum(col("d_vp") * col("d_vp")).as("d2_vp"))
      .select(col("n").as("n_users"),
        Norm.r4dn(lit(1.0) - lit(6.0) * col("d2_cs").cast("double")
          / (col("n").cast("double")
             * (col("n").cast("double") * col("n").cast("double")
                - lit(1.0)))).as("rho_clicks_spend"),
        Norm.r4dn(lit(1.0) - lit(6.0) * col("d2_vp").cast("double")
          / (col("n").cast("double")
             * (col("n").cast("double") * col("n").cast("double")
                - lit(1.0)))).as("rho_views_purchases"))
  }

  /** Cramér's V association between order priority and order status —
    * the [0,1]-normalized effect size the raw χ² (q_stats_chi2) can't
    * give you across tables of different size: V = √(χ²/(n·(k−1))).
    * χ² from exact BIGINT contingency cells with the expected counts
    * as single float quotients; the cell-sum fold is ordered (sorted
    * by the cell key) so both engines add in the same sequence.
    *
    * Scale: one partial-agg'd pass to r×c cells; everything after is
    * arithmetic on the bounded contingency table.
    */
  val statsCramersV: Q = (spark, dir) => {
    val o = Tables(spark, dir, "orders")
    val cells = o.groupBy(col("o_orderpriority").as("p"),
        col("o_orderstatus").as("s"))
      .agg(count(lit(1)).as("nij"))
    val wAll = Window.partitionBy()
    val enriched = cells
      .withColumn("ni", sum("nij").over(Window.partitionBy("p")))
      .withColumn("nj", sum("nij").over(Window.partitionBy("s")))
      .withColumn("n", sum("nij").over(wAll))
      .withColumn("term", struct(col("p"), col("s"),
        ((col("nij").cast("double")
          - col("ni").cast("double") * col("nj").cast("double")
            / col("n").cast("double"))
          * (col("nij").cast("double")
            - col("ni").cast("double") * col("nj").cast("double")
              / col("n").cast("double"))
          / (col("ni").cast("double") * col("nj").cast("double")
            / col("n").cast("double"))).as("t")))
    val folded = enriched.groupBy().agg(
      max(col("n")).as("n"),
      countDistinct(col("p")).as("r"),
      countDistinct(col("s")).as("c"),
      aggregate(array_sort(collect_list(col("term"))), lit(0.0),
        (acc, e) => acc + e.getField("t")).as("chi2"))
    folded.select(col("n").as("n_orders"), col("r").as("n_rows"),
        col("c").as("n_cols"),
        Norm.r4tie(col("chi2")).as("chi2"),
        Norm.r4tie(sqrt(col("chi2")
          / (col("n").cast("double")
             * (least(col("r"), col("c")) - 1).cast("double"))))
          .as("cramers_v"))
  }

  /** Power analysis for the A/B test (q_abtest's planning twin): the
    * per-arm sample size to detect a 2% relative lift in mean
    * purchase value at α = 0.05 / power 0.80 — n = 2(z_α/2+z_β)²σ²/δ²
    * with σ² from the observed exact-integer moments and the z
    * constants as decimal literals (1.96, 0.8416). The answer every
    * experimentation platform computes before flipping a flag.
    *
    * Scale: one partial-agg'd pass to a single sufficient-statistics
    * row; the closed form is driver-free arithmetic on it.
    */
  val statsPower: Q = (spark, dir) => {
    val p = Tables(spark, dir, "events")
      .filter(col("event_type") === "purchase")
      .select(floor(col("value") * 100 + 0.5).cast("long").as("c"))
    val s = p.agg(count(lit(1)).as("n"), sum(col("c")).as("s1"),
      sum(col("c") * col("c")).as("s2"))
    val n = col("n").cast("double")
    val mean = col("s1").cast("double") / n
    val vr = (col("s2").cast("double")
      - col("s1").cast("double") * col("s1").cast("double") / n) /
      (n - lit(1.0))
    val delta = mean * lit(0.02)
    val need = lit(2.0) * lit(7.849) * vr / (delta * delta)
    s.select(col("n").as("n_purchases"),
        Norm.r4tie(mean).as("mean_cents"),
        Norm.r4tie(sqrt(vr)).as("sd_cents"),
        ceil(need).cast("long").as("n_per_arm_2pct"))
  }

  /** Second SQL-front-end proof point beside [[sqlEntry]]: window
    * functions + ROLLUP through one `spark.sql` text — the top-100
    * orders per priority summarized with a grand-total row. Proves a
    * SQL-only user gets ranks, frames, and grouping analytics from
    * the identical engine; exact cents, explicit NULLS FIRST so both
    * engines order the rollup row identically.
    */
  val sqlAnalytics: Q = (spark, dir) => {
    Tables(spark, dir, "orders").createOrReplaceTempView("orders")
    spark.sql("""
      WITH r AS (
        SELECT o_orderpriority AS priority,
               CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)
                 AS cents,
               row_number() OVER (PARTITION BY o_orderpriority
                 ORDER BY o_totalprice DESC, o_orderkey) AS rnk
        FROM orders)
      SELECT priority, count(*) AS n_top,
             sum(cents) AS top100_cents
      FROM r WHERE rnk <= 100
      GROUP BY ROLLUP(priority)
      ORDER BY priority ASC NULLS FIRST""")
  }

  /** Bowley (quartile) skewness per event type — the robust companion
    * to the moment skewness (q_agg_skewness): (Q1 + Q3 − 2·median) /
    * (Q3 − Q1) from positional exact-cent quartiles (the IQR op's
    * index arithmetic), outlier-immune where third moments aren't.
    * Integer numerator and denominator; one float quotient.
    */
  val statsBowley: Q = (spark, dir) => {
    val e = Tables(spark, dir, "events")
      .select(col("event_type"),
        floor(col("value") * 100 + 0.5).cast("long").as("cents"),
        col("event_id"))
    val w = Window.partitionBy("event_type")
      .orderBy(col("cents"), col("event_id"))
    val wt = Window.partitionBy("event_type")
    val ranked = e.withColumn("rn", row_number().over(w))
      .withColumn("n", count(lit(1)).over(wt))
    ranked.groupBy("event_type").agg(
        max(col("n")).as("n_events"),
        min(when(col("rn") === greatest(expr("(n + 1) div 4"), lit(1)),
          col("cents"))).as("q1"),
        min(when(col("rn") === expr("(n + 1) div 2"), col("cents")))
          .as("median"),
        min(when(col("rn") === least(expr("(3 * (n + 1)) div 4"),
          col("n")), col("cents"))).as("q3"))
      .select(col("event_type"), col("n_events"), col("q1"),
        col("median"), col("q3"),
        Norm.r4dn((col("q1") + col("q3") - lit(2L) * col("median"))
          .cast("double")
          / (col("q3") - col("q1")).cast("double")).as("bowley_skew"))
      .orderBy("event_type")
  }

  /** CUPED variance reduction (Deng et al.) — the experimentation-
    * platform workhorse: use each user's PRE-period spend as the
    * covariate for the post-period metric, θ = cov/var_pre, and
    * report the variance reduction corr² the adjustment buys. All
    * moments are exact integer DOLLARS (dollar products keep
    * n·Σxy < 2⁵³ with headroom cents wouldn't, so the double casts
    * stay exact); θ and the reduction are the identical closed-form
    * expressions in both engines.
    *
    * Scale: one user rollup, one 1-row moment aggregate — the same
    * sufficient-statistics discipline as the A/B and intervention
    * tests.
    */
  val statsCuped: Q = (spark, dir) => {
    val cut = lit("2024-01-16 00:00:00").cast("timestamp")
    val e = Tables(spark, dir, "events")
      .filter(col("event_type") === "purchase")
    val u = e.groupBy("user_id").agg(
      sum(when(col("ts") < cut, floor(col("value")).cast("long"))
        .otherwise(0L)).as("x"),
      sum(when(col("ts") >= cut, floor(col("value")).cast("long"))
        .otherwise(0L)).as("y"))
    val s = u.agg(count(lit(1)).as("n"),
      sum(col("x")).as("sx"), sum(col("y")).as("sy"),
      sum(col("x") * col("x")).as("sxx"),
      sum(col("y") * col("y")).as("syy"),
      sum(col("x") * col("y")).as("sxy"))
    def d(c: String) = col(c).cast("double")
    val cov = d("n") * d("sxy") - d("sx") * d("sy")
    val vx = d("n") * d("sxx") - d("sx") * d("sx")
    val vy = d("n") * d("syy") - d("sy") * d("sy")
    s.select(col("n").as("n_users"),
        Norm.r4dn(cov / vx).as("theta"),
        Norm.r4dn(cov / sqrt(vx * vy)).as("corr"),
        Norm.r4tie(cov * cov / (vx * vy) * 100).as("var_reduction_pct"))
  }

  /** TOST equivalence test (two one-sided tests) — the inference
    * q_abtest/q_stats_ttest cannot give: "are these two groups the
    * SAME to within ±δ?" (failing to reject difference ≠ proving
    * equivalence). Groups are the md5-half user split (the
    * embed_drift discipline — content-derived, engine-portable);
    * metric is per-user purchase spend in exact integer cents; the
    * two one-sided z statistics z_lo = (Δ+δ)/se and z_hi = (δ−Δ)/se
    * (Welch se) must BOTH clear the one-sided 5% critical value
    * 1.645 (a plan literal). The verdict compares the ROUNDED
    * min(z_lo, z_hi), the PSI alert discipline.
    *
    * Scale: one user rollup + one 2-row moment aggregate — the same
    * sufficient-statistics shape as q_abtest; nothing beyond the
    * first shuffle grows with data.
    */
  val statsTost: Q = (spark, dir) => {
    val e = Tables(spark, dir, "events")
      .filter(col("event_type") === "purchase")
    val u = e.groupBy("user_id")
      .agg(sum(floor(col("value") * 100 + 0.5).cast("long")).as("cents"))
      .withColumn("grp",
        when(substring(md5(col("user_id").cast("string")), 1, 1)
          .isin("0", "1", "2", "3", "4", "5", "6", "7"), "a")
          .otherwise("b"))
    // Second moment in decimal(38,0), the statsDeltaMethod discipline:
    // per-user cent totals around 3e9 square to ~9e18 ≈ 2^63, so a
    // LongType sum(cents²) aborts under ANSI well before the 38-digit
    // budget. d19×d19 → decimal(38,0) matches the HUGEINT the DuckDB
    // twin already sums in, and the orOverflow guard keeps the
    // failure loud if a caller's session disables ANSI.
    def d19(c: Column) = c.cast("decimal(19,0)")
    def orOverflow(c: Column): Column =
      when(c.isNotNull, c).otherwise(raise_error(lit(
        "decimal(38,0) overflow in statsTost (ss) — per-user cent " +
          "totals exceed the 38-digit moment budget")))
    val m = u.groupBy("grp").agg(
      count(lit(1)).as("n"), sum("cents").as("s"),
      orOverflow(sum(d19(col("cents")) * d19(col("cents")))).as("ss"))
    val w = m.groupBy().agg(
      max(when(col("grp") === "a", col("n"))).as("na"),
      max(when(col("grp") === "a", col("s"))).as("sa"),
      max(when(col("grp") === "a", col("ss"))).as("ssa"),
      max(when(col("grp") === "b", col("n"))).as("nb"),
      max(when(col("grp") === "b", col("s"))).as("sb"),
      max(when(col("grp") === "b", col("ss"))).as("ssb"))
    def d(c: String) = col(c).cast("double")
    val ma = d("sa") / d("na") / 100.0
    val mb = d("sb") / d("nb") / 100.0
    // Welch se in dollars: per-group sample variance of cent totals
    val va = (d("ssa") - d("sa") * d("sa") / d("na")) /
      (d("na") - 1) / 10000.0
    val vb = (d("ssb") - d("sb") * d("sb") / d("nb")) /
      (d("nb") - 1) / 10000.0
    val se = sqrt(va / d("na") + vb / d("nb"))
    val delta = lit(2.0) // equivalence margin: ±$2 mean spend
    val zLo = ((ma - mb) + delta) / se
    val zHi = (delta - (ma - mb)) / se
    w.select(col("na"), col("nb"),
        Norm.r4tie(ma).as("mean_a"), Norm.r4tie(mb).as("mean_b"),
        Norm.r4tie(ma - mb).as("diff"),
        Norm.r4tie(se).as("se"),
        Norm.r4tie(zLo).as("z_lower"), Norm.r4tie(zHi).as("z_upper"))
      .withColumn("equivalent",
        least(col("z_lower"), col("z_upper")) >= 1.645)
  }

  /** Cohen's kappa between two deterministic document "raters" — the
    * inter-annotator-agreement number every labeling pipeline reports
    * before trusting auto-labels. Rater A flags long docs
    * (n_chars >= 306, the corpus median), rater B flags wordy docs
    * (>= 46 whitespace-split tokens); kappa = (p_o − p_e)/(1 − p_e)
    * from the per-language 2×2 confusion. Everything up to the final
    * quotient is exact BIGINT counts: p_o and p_e are formed from
    * integer products over n², so both engines divide the identical
    * integers — one tie-proof round at the end.
    *
    * Scale: one pass over documents (both raters are row-local
    * expressions, no shuffle beyond the per-language hash agg), then a
    * |langs|-row closed form. Nothing grows with corpus size except
    * the single scan.
    */
  val statsCohensKappa: Q = (spark, dir) => {
    val docs = Tables(spark, dir, "documents")
    val ra = (col("n_chars") >= 306).cast("long")
    // token count = spaces + 1; space count via length differencing
    // (identical expression shape in the oracle)
    val spaces = length(col("text")) - length(regexp_replace(col("text"), " ", ""))
    val rb = (spaces + 1 >= 46).cast("long")
    val g = docs.groupBy("lang").agg(
      count(lit(1)).as("n"),
      sum(ra * rb).as("n11"),
      sum((lit(1) - ra) * (lit(1) - rb)).as("n00"),
      sum(ra).as("na1"),
      sum(rb).as("nb1"))
    def d(c: Column) = c.cast("double")
    val po = d(col("n11") + col("n00")) / d(col("n"))
    // p_e·n² as one exact integer so both engines divide identical values
    val peNum = col("na1") * col("nb1") +
      (col("n") - col("na1")) * (col("n") - col("nb1"))
    val pe = d(peNum) / d(col("n") * col("n"))
    g.select(col("lang"), col("n"), col("n11"), col("n00"),
        Norm.r4tie(po).as("p_o"), Norm.r4tie(pe).as("p_e"),
        Norm.r4tie((po - pe) / (lit(1.0) - pe)).as("kappa"))
      .orderBy("lang")
  }

  /** Wald-style sequential test (SPRT) per event type, in integer
    * log-odds units: observations arrive in event-time order, each
    * contributes +1 (value >= 35, the "success" the alternative
    * predicts) or −1, and the cumulative walk S_t decides at the first
    * |S_t| >= 12 — accept H1 on +12, H0 on −12, else keep sampling.
    * The symmetric-odds SPRT is EXACTLY this integer random walk
    * (log-likelihood increments are ±log(p1(1−p0)/(p0(1−p1))), one
    * common factor), so the whole decision path is exact BIGINT
    * arithmetic — no libm anywhere.
    *
    * Scale: one cumulative-sum window per type over the ordered stream
    * + a first-crossing min — O(n) state-light window work; the
    * decision typically fires after O(1/KL) observations, so a
    * streaming deployment stops reading each arm early.
    */
  val statsSprt: Q = (spark, dir) => {
    val e = Tables(spark, dir, "events")
    val w = Window.partitionBy("event_type").orderBy("ts", "event_id")
    val step = when(col("value") >= 35, 1L).otherwise(-1L)
    val walk = e.select(col("event_type"), col("ts"), col("event_id"),
        step.as("x"))
      .withColumn("t", row_number().over(w))
      .withColumn("s", sum(col("x")).over(w))
    walk.groupBy("event_type").agg(
        count(lit(1)).as("n"),
        min(when(col("s") >= 12, col("t"))).as("t_up"),
        min(when(col("s") <= -12, col("t"))).as("t_dn"),
        sum(col("x")).as("s_final"))
      .select(col("event_type"), col("n"),
        when(coalesce(col("t_up"), lit(Long.MaxValue)) <
             coalesce(col("t_dn"), lit(Long.MaxValue)), lit("h1"))
          .when(col("t_dn").isNotNull, lit("h0"))
          .otherwise(lit("continue")).as("decision"),
        least(col("t_up"), col("t_dn")).cast("long").as("t_decide"),
        col("s_final"))
      .orderBy("event_type")
  }

  val queries: Map[String, Q] = Map(
    "q_stats_cohens_kappa" -> statsCohensKappa,
    "q_stats_sprt" -> statsSprt,
    "q_stats_tost" -> statsTost,
    "q_stats_cuped" -> statsCuped,
    "q_stats_bowley" -> statsBowley,
    "q_sql_analytics" -> sqlAnalytics,
    "q_stats_cramers_v" -> statsCramersV,
    "q_stats_power" -> statsPower,
    "q_agg_spearman" -> aggSpearman,
    "q_stats_wilson" -> statsWilson,
    "q_stats_iqr_outliers" -> statsIqrOutliers,
    "q_stats_bootstrap" -> statsBootstrap,
    "q_agg_hhi" -> aggHhi,
    "q_agg_trimmed_mean" -> aggTrimmedMean,
    "q_agg_skewness" -> aggSkewness,
    "q_agg_gini" -> aggGini,
    "q_stats_benford" -> statsBenford,
    "q_stats_kendall" -> statsKendall,
    "q_stats_bh_fdr" -> statsBhFdr,
    "q_stats_levene" -> statsLevene,
    "q_stats_delta_method" -> statsDeltaMethod,
    "q_stats_psi" -> statsPsi,
    "q_sql_entry" -> sqlEntry,
    "q_agg_corr_matrix" -> aggCorrMatrix,
    "q_agg_percentiles" -> aggPercentiles,
    "q_agg_mode" -> aggMode,
    "q_abtest" -> abTest,
    "q_stats_two_proportion" -> statsTwoProportion,
    "q_stats_anova" -> statsAnova,
    "q_stats_mannwhitney" -> statsMannWhitney,
    "q_stats_ttest" -> statsTtest,
    "q_agg_weighted_median" -> aggWeightedMedian,
    "q_stats_mad" -> statsMad,
    "q_stats_ks" -> statsKs,
    "q_stats_chi2" -> statsChi2,
    "q_agg_entropy" -> aggEntropy,
    "q_agg_bitwise" -> aggBitwise,
    "q_agg_expectations" -> aggExpectations,
    "q_agg_bool" -> aggBool,
    "q_agg_count_min" -> aggCountMin,
    "q_agg_extrema" -> aggExtrema,
    "q_agg_profile" -> aggProfile,
    "q_agg_heavy_hitters" -> aggHeavyHitters,
    "q_agg_histogram" -> aggHistogram,
    "q_agg_string_agg" -> aggStringAgg,
    "q_agg_pricing_summary" -> pricingSummary,
    "q_agg_hll_sketch" -> aggHllSketch,
    "q_agg_kmv_intersect" -> aggKmvIntersect,
    "q_agg_distinct_kmv" -> aggDistinctKmv,
    "q_agg_kmv_merge" -> aggKmvMerge,
    "q_agg_count_min_twin" -> aggCountMinTwin,
    "q_agg_quantile_twin" -> aggQuantileTwin,
    "q_subquery_correlated" -> subqueryCorrelated,
    "q_recursive_spine" -> recursiveSpine,
    "q_agg_pivot" -> aggPivot,
    "q_agg_unpivot" -> aggUnpivot,
    "q_agg_distinct" -> aggDistinct,
    "q_agg_rollup" -> aggRollup,
    "q_agg_cube" -> aggCube,
    "q_agg_grouping_sets" -> aggGroupingSets,
    "q_agg_stats" -> aggStats,
    "q_agg_linreg" -> aggLinreg,
    "q_agg_conditional" -> aggConditional,
    "q_agg_approx_distinct" -> aggApproxDistinct,
    "q_agg_approx_quantile" -> aggApproxQuantile,
  )

  val oracle: Map[String, String] = Map(
    "q_stats_tost" -> """
      WITH u AS (
        SELECT user_id,
               CAST(sum(CAST(floor(value * 100 + 0.5) AS BIGINT))
                 AS BIGINT) AS cents,
               CASE WHEN substring(md5(CAST(user_id AS VARCHAR)), 1, 1)
                      IN ('0','1','2','3','4','5','6','7')
                    THEN 'a' ELSE 'b' END AS grp
        FROM events WHERE event_type = 'purchase' GROUP BY user_id),
      m AS (
        SELECT grp, CAST(count(*) AS BIGINT) AS n,
               CAST(sum(cents) AS BIGINT) AS s,
               CAST(sum(cents * cents) AS BIGINT) AS ss
        FROM u GROUP BY grp),
      w AS (
        SELECT max(CASE WHEN grp = 'a' THEN n END) AS na,
               max(CASE WHEN grp = 'a' THEN s END) AS sa,
               max(CASE WHEN grp = 'a' THEN ss END) AS ssa,
               max(CASE WHEN grp = 'b' THEN n END) AS nb,
               max(CASE WHEN grp = 'b' THEN s END) AS sb,
               max(CASE WHEN grp = 'b' THEN ss END) AS ssb
        FROM m),
      c AS (
        SELECT na, nb,
               CAST(sa AS DOUBLE) / CAST(na AS DOUBLE) / 100.0 AS ma,
               CAST(sb AS DOUBLE) / CAST(nb AS DOUBLE) / 100.0 AS mb,
               sqrt(((CAST(ssa AS DOUBLE)
                      - CAST(sa AS DOUBLE) * CAST(sa AS DOUBLE)
                        / CAST(na AS DOUBLE))
                     / (CAST(na AS DOUBLE) - 1) / 10000.0)
                    / CAST(na AS DOUBLE)
                  + ((CAST(ssb AS DOUBLE)
                      - CAST(sb AS DOUBLE) * CAST(sb AS DOUBLE)
                        / CAST(nb AS DOUBLE))
                     / (CAST(nb AS DOUBLE) - 1) / 10000.0)
                    / CAST(nb AS DOUBLE)) AS se
        FROM w)
      SELECT na, nb,
             floor(ma * 10000 + 0.5) / 10000 AS mean_a,
             floor(mb * 10000 + 0.5) / 10000 AS mean_b,
             floor((ma - mb) * 10000 + 0.5) / 10000 AS diff,
             floor(se * 10000 + 0.5) / 10000 AS se,
             floor(((ma - mb) + 2.0) / se * 10000 + 0.5) / 10000
               AS z_lower,
             floor((2.0 - (ma - mb)) / se * 10000 + 0.5) / 10000
               AS z_upper,
             least(floor(((ma - mb) + 2.0) / se * 10000 + 0.5) / 10000,
                   floor((2.0 - (ma - mb)) / se * 10000 + 0.5) / 10000)
               >= 1.645 AS equivalent
      FROM c""",
    "q_stats_cohens_kappa" -> """
      WITH r AS (
        SELECT lang,
               CASE WHEN n_chars >= 306 THEN 1 ELSE 0 END AS ra,
               CASE WHEN length(text) - length(replace(text, ' ', ''))
                      + 1 >= 46 THEN 1 ELSE 0 END AS rb
        FROM documents),
      g AS (
        SELECT lang, CAST(count(*) AS BIGINT) AS n,
               CAST(sum(ra * rb) AS BIGINT) AS n11,
               CAST(sum((1 - ra) * (1 - rb)) AS BIGINT) AS n00,
               CAST(sum(ra) AS BIGINT) AS na1,
               CAST(sum(rb) AS BIGINT) AS nb1
        FROM r GROUP BY lang)
      SELECT lang, n, n11, n00,
             floor(CAST(n11 + n00 AS DOUBLE) / CAST(n AS DOUBLE)
                   * 10000 + 0.5) / 10000 AS p_o,
             floor(CAST(na1 * nb1 + (n - na1) * (n - nb1) AS DOUBLE)
                   / CAST(n * n AS DOUBLE) * 10000 + 0.5) / 10000 AS p_e,
             floor((CAST(n11 + n00 AS DOUBLE) / CAST(n AS DOUBLE)
                    - CAST(na1 * nb1 + (n - na1) * (n - nb1) AS DOUBLE)
                      / CAST(n * n AS DOUBLE))
                   / (1.0 - CAST(na1 * nb1 + (n - na1) * (n - nb1)
                                 AS DOUBLE) / CAST(n * n AS DOUBLE))
                   * 10000 + 0.5) / 10000 AS kappa
      FROM g ORDER BY lang""",
    "q_stats_sprt" -> """
      WITH walk AS (
        SELECT event_type,
               row_number() OVER (PARTITION BY event_type
                                  ORDER BY ts, event_id) AS t,
               sum(CASE WHEN value >= 35 THEN 1 ELSE -1 END)
                 OVER (PARTITION BY event_type
                       ORDER BY ts, event_id) AS s,
               CASE WHEN value >= 35 THEN 1 ELSE -1 END AS x
        FROM events),
      g AS (
        SELECT event_type, CAST(count(*) AS BIGINT) AS n,
               min(CASE WHEN s >= 12 THEN t END) AS t_up,
               min(CASE WHEN s <= -12 THEN t END) AS t_dn,
               CAST(sum(x) AS BIGINT) AS s_final
        FROM walk GROUP BY event_type)
      SELECT event_type, n,
             CASE WHEN coalesce(t_up, 9223372036854775807)
                       < coalesce(t_dn, 9223372036854775807) THEN 'h1'
                  WHEN t_dn IS NOT NULL THEN 'h0'
                  ELSE 'continue' END AS decision,
             CAST(least(t_up, t_dn) AS BIGINT) AS t_decide, s_final
      FROM g ORDER BY event_type""",
    "q_stats_psi" -> """
      WITH e AS (
        SELECT event_type AS t,
               date_part('day', ts) <= 15 AS ref,
               least(CAST(floor(value * 100 + 0.5) AS BIGINT) // 1000,
                     9) AS bin
        FROM events),
      cells AS (
        SELECT t, bin,
               CAST(sum(CASE WHEN ref THEN 1 ELSE 0 END) AS BIGINT)
                 AS nr,
               CAST(sum(CASE WHEN NOT ref THEN 1 ELSE 0 END) AS BIGINT)
                 AS nc
        FROM e GROUP BY 1, 2),
      tot AS (
        SELECT t, CAST(sum(nr) AS BIGINT) AS tr,
               CAST(sum(nc) AS BIGINT) AS tc
        FROM cells GROUP BY 1),
      terms AS (
        SELECT c.t, c.bin,
               (CAST(nr AS DOUBLE) / CAST(tr AS DOUBLE)
                - CAST(nc AS DOUBLE) / CAST(tc AS DOUBLE))
               * ln((CAST(nr AS DOUBLE) / CAST(tr AS DOUBLE))
                    / (CAST(nc AS DOUBLE) / CAST(tc AS DOUBLE))) AS term
        FROM cells c JOIN tot ON c.t = tot.t
        WHERE nr > 0 AND nc > 0),
      lists AS (
        SELECT t, count(*) AS n_bins,
               list(term ORDER BY bin) AS ts
        FROM terms GROUP BY 1),
      fin AS (
        SELECT t, n_bins,
               floor(list_reduce(list_prepend(CAST(0 AS DOUBLE), ts),
                 (a, x) -> a + x) * 10000 + 0.5) / 10000 AS psi
        FROM lists)
      SELECT t AS event_type, n_bins, psi, psi >= 0.1 AS drifted
      FROM fin ORDER BY event_type""",
    "q_stats_delta_method" -> """
      WITH e AS (
        SELECT event_type AS t, user_id,
               CAST(floor(value * 100 + 0.5) AS BIGINT) AS c
        FROM events),
      users AS (
        SELECT t, user_id, CAST(sum(c) AS BIGINT) AS x,
               count(*) AS y
        FROM e GROUP BY 1, 2),
      g AS (
        SELECT t, count(*) AS n,
               CAST(sum(x) AS BIGINT) AS sx,
               CAST(sum(y) AS BIGINT) AS sy,
               CAST(sum(x * x) AS BIGINT) AS sxx,
               CAST(sum(y * y) AS BIGINT) AS syy,
               CAST(sum(x * y) AS BIGINT) AS sxy
        FROM users GROUP BY 1),
      ev AS (
        SELECT t, count(*) AS ne,
               CAST(sum(c) AS BIGINT) AS se_,
               CAST(sum(c * c) AS BIGINT) AS qe
        FROM e GROUP BY 1),
      fin AS (
        SELECT g.t, g.n, g.sy,
               CAST(sx AS DOUBLE) / CAST(sy AS DOUBLE) AS r,
               (CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)
                  / CAST(n AS DOUBLE)) / (CAST(n AS DOUBLE) - 1) AS vx,
               (CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE)
                  / CAST(n AS DOUBLE)) / (CAST(n AS DOUBLE) - 1) AS vy,
               (CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE)
                  / CAST(n AS DOUBLE)) / (CAST(n AS DOUBLE) - 1) AS cxy,
               CAST(sy AS DOUBLE) / CAST(n AS DOUBLE) AS ybar,
               sqrt(((CAST(qe AS DOUBLE)
                      - CAST(se_ AS DOUBLE) * CAST(se_ AS DOUBLE)
                        / CAST(ne AS DOUBLE)) / (CAST(ne AS DOUBLE) - 1))
                    / CAST(ne AS DOUBLE)) AS se_naive
        FROM g JOIN ev ON g.t = ev.t)
      SELECT t AS event_type, n AS n_users, sy AS n_events,
             floor(r * 10000 + 0.5) / 10000 AS ratio_cents,
             floor(sqrt((vx - 2.0 * r * cxy + r * r * vy)
                        / CAST(n AS DOUBLE)) / ybar * 10000 + 0.5)
               / 10000 AS se_delta,
             floor(se_naive * 10000 + 0.5) / 10000 AS se_naive,
             floor(sqrt((vx - 2.0 * r * cxy + r * r * vy)
                        / CAST(n AS DOUBLE)) / ybar / se_naive
                   * 10000 + 0.5) / 10000 AS inflation
      FROM fin ORDER BY event_type""",
    "q_stats_levene" -> """
      WITH e AS (
        SELECT event_type AS t,
               CAST(floor(value * 100 + 0.5) AS BIGINT) AS c
        FROM events),
      hist AS (
        SELECT t, c, count(*) AS cnt FROM e GROUP BY 1, 2),
      cums AS (
        SELECT t, c, cnt,
               sum(cnt) OVER (PARTITION BY t ORDER BY c
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                 AS cum,
               sum(cnt) OVER (PARTITION BY t) AS ng
        FROM hist),
      meds AS (
        SELECT t, min(c) AS med FROM cums
        WHERE cum * 2 >= ng GROUP BY t),
      zh AS (
        SELECT hist.t, abs(hist.c - meds.med) AS z, hist.cnt
        FROM hist JOIN meds ON hist.t = meds.t),
      g AS (
        SELECT t, CAST(sum(cnt) AS BIGINT) AS ng,
               CAST(sum(z * cnt) AS BIGINT) AS sg,
               CAST(sum(z * z * cnt) AS BIGINT) AS qg
        FROM zh GROUP BY t),
      f AS (
        SELECT count(*) AS k, CAST(sum(ng) AS BIGINT) AS n,
               CAST(sum(sg) AS BIGINT) AS s,
               CAST(sum(qg) AS BIGINT) AS q,
               list_reduce(list_prepend(CAST(0 AS DOUBLE),
                 list(CAST(sg AS DOUBLE) * sg / ng ORDER BY t)),
                 (a, x) -> a + x) AS sb_raw
        FROM g)
      SELECT k, n,
             floor((sb_raw - CAST(s AS DOUBLE) * s / n) * 10000 + 0.5)
               / 10000 AS ss_between,
             floor((CAST(q AS DOUBLE) - sb_raw) * 10000 + 0.5) / 10000
               AS ss_within,
             floor(((sb_raw - CAST(s AS DOUBLE) * s / n) / (k - 1))
                   / ((CAST(q AS DOUBLE) - sb_raw) / (n - k)) * 10000)
               / 10000 AS w_stat
      FROM f""",
    "q_stats_anova" -> """
      WITH g AS (
        SELECT event_type AS t, count(*) AS ng,
               CAST(sum(CAST(floor(value * 100 + 0.5) AS BIGINT))
                 AS BIGINT) AS sg,
               CAST(sum(CAST(floor(value * 100 + 0.5) AS BIGINT)
                        * CAST(floor(value * 100 + 0.5) AS BIGINT))
                 AS BIGINT) AS qg
        FROM events GROUP BY event_type),
      f AS (
        SELECT count(*) AS k, CAST(sum(ng) AS BIGINT) AS n,
               CAST(sum(sg) AS BIGINT) AS s,
               CAST(sum(qg) AS BIGINT) AS q,
               list_reduce(list_prepend(CAST(0 AS DOUBLE),
                 list(CAST(sg AS DOUBLE) * sg / ng ORDER BY t)),
                 (a, x) -> a + x) AS sb_raw
        FROM g)
      SELECT k, n,
             floor((sb_raw - CAST(s AS DOUBLE) * s / n) * 10000 + 0.5)
               / 10000 AS ss_between,
             floor((CAST(q AS DOUBLE) - sb_raw) * 10000 + 0.5) / 10000
               AS ss_within,
             floor(((sb_raw - CAST(s AS DOUBLE) * s / n) / (k - 1))
                   / ((CAST(q AS DOUBLE) - sb_raw) / (n - k)) * 10000)
               / 10000 AS f_stat,
             floor((sb_raw - CAST(s AS DOUBLE) * s / n)
                   / (CAST(q AS DOUBLE) - CAST(s AS DOUBLE) * s / n)
                   * 10000) / 10000 AS eta_sq
      FROM f""",
    "q_stats_ttest" -> """
      WITH e AS (
        SELECT event_type = 'click' AS g,
               CAST(floor(value * 100 + 0.5) AS BIGINT) AS c
        FROM events WHERE event_type IN ('click', 'purchase')),
      f AS (
        SELECT CAST(sum(CASE WHEN g THEN 1 ELSE 0 END) AS BIGINT) AS n1,
               CAST(sum(CASE WHEN g THEN c ELSE 0 END) AS BIGINT) AS s1,
               CAST(sum(CASE WHEN g THEN c * c ELSE 0 END) AS BIGINT)
                 AS q1,
               CAST(sum(CASE WHEN NOT g THEN 1 ELSE 0 END) AS BIGINT)
                 AS n2,
               CAST(sum(CASE WHEN NOT g THEN c ELSE 0 END) AS BIGINT)
                 AS s2,
               CAST(sum(CASE WHEN NOT g THEN c * c ELSE 0 END)
                 AS BIGINT) AS q2
        FROM e),
      d AS (
        SELECT n1, n2,
               CAST(s1 AS DOUBLE) / CAST(n1 AS DOUBLE) AS m1,
               CAST(s2 AS DOUBLE) / CAST(n2 AS DOUBLE) AS m2,
               (CAST(q1 AS DOUBLE) - CAST(s1 AS DOUBLE)
                  * CAST(s1 AS DOUBLE) / CAST(n1 AS DOUBLE))
                 / (CAST(n1 AS DOUBLE) - 1.0) / CAST(n1 AS DOUBLE)
                 AS se1,
               (CAST(q2 AS DOUBLE) - CAST(s2 AS DOUBLE)
                  * CAST(s2 AS DOUBLE) / CAST(n2 AS DOUBLE))
                 / (CAST(n2 AS DOUBLE) - 1.0) / CAST(n2 AS DOUBLE)
                 AS se2
        FROM f),
      tt AS (
        SELECT n1, n2, m1, m2,
               (m1 - m2) / sqrt(se1 + se2) AS t,
               (se1 + se2) * (se1 + se2)
                 / (se1 * se1 / (CAST(n1 AS DOUBLE) - 1.0)
                    + se2 * se2 / (CAST(n2 AS DOUBLE) - 1.0)) AS dfw
        FROM d)
      SELECT n1, n2,
             floor(m1 / 100.0 * 10000 + 0.5) / 10000 AS mean1,
             floor(m2 / 100.0 * 10000 + 0.5) / 10000 AS mean2,
             floor(t * 10000) / 10000 AS t_stat,
             floor(dfw * 10000) / 10000 AS df_welch,
             abs(t) > 1.96 AS significant
      FROM tt""",
    "q_agg_weighted_median" -> """
      WITH li AS (
        SELECT l_returnflag AS rf,
               CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT) AS p,
               CAST(floor(l_quantity + 0.5) AS BIGINT) AS w
        FROM lineitem),
      bv AS (SELECT rf, p, CAST(sum(w) AS BIGINT) AS wv
             FROM li GROUP BY 1, 2),
      c AS (SELECT rf, p, wv,
                   CAST(sum(wv) OVER (PARTITION BY rf ORDER BY p
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                     AS BIGINT) AS cum,
                   CAST(sum(wv) OVER (PARTITION BY rf) AS BIGINT) AS tw
            FROM bv)
      SELECT rf, min(tw) AS total_w,
             floor(CAST(min(p) AS DOUBLE) / 100.0 * 10000 + 0.5)
               / 10000 AS w_median
      FROM c WHERE cum * 2 >= tw GROUP BY rf ORDER BY rf""",
    "q_stats_mannwhitney" -> """
      WITH e AS (
        SELECT event_type AS t,
               CAST(floor(value * 100 + 0.5) AS BIGINT) AS c
        FROM events WHERE event_type IN ('click', 'purchase')),
      bv AS (
        SELECT c, count(*) AS cnt,
               CAST(sum(CASE WHEN t = 'click' THEN 1 ELSE 0 END)
                 AS BIGINT) AS cnt1
        FROM e GROUP BY c),
      rk AS (
        SELECT c, cnt, cnt1,
               CAST(sum(cnt) OVER (ORDER BY c
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                 - cnt AS BIGINT) AS cum
        FROM bv),
      f AS (
        SELECT CAST(sum(cnt1) AS BIGINT) AS n1,
               CAST(sum(cnt - cnt1) AS BIGINT) AS n2,
               CAST(sum(cnt1 * (2 * cum + cnt + 1)) AS BIGINT) AS r1x2,
               CAST(sum(cnt * cnt * cnt - cnt) AS BIGINT) AS tie3
        FROM rk)
      SELECT n1, n2,
             floor(CAST(r1x2 - n1 * (n1 + 1) AS DOUBLE) / 2
                   * 10000 + 0.5) / 10000 AS u1,
             floor((CAST(n1 AS DOUBLE) * n2
                    - CAST(r1x2 - n1 * (n1 + 1) AS DOUBLE) / 2)
                   * 10000 + 0.5) / 10000 AS u2,
             floor((CAST(r1x2 - n1 * (n1 + 1) AS DOUBLE) / 2
                    - CAST(n1 AS DOUBLE) * n2 / 2)
                   / sqrt(CAST(n1 AS DOUBLE) * n2 / 12
                          * ((CAST(n1 + n2 AS DOUBLE) + 1)
                             - CAST(tie3 AS DOUBLE)
                               / (CAST(n1 + n2 AS DOUBLE)
                                  * (CAST(n1 + n2 AS DOUBLE) - 1))))
                   * 10000) / 10000 AS z,
             abs((CAST(r1x2 - n1 * (n1 + 1) AS DOUBLE) / 2
                  - CAST(n1 AS DOUBLE) * n2 / 2)
                 / sqrt(CAST(n1 AS DOUBLE) * n2 / 12
                        * ((CAST(n1 + n2 AS DOUBLE) + 1)
                           - CAST(tie3 AS DOUBLE)
                             / (CAST(n1 + n2 AS DOUBLE)
                                * (CAST(n1 + n2 AS DOUBLE) - 1)))))
               > 1.96 AS significant
      FROM f""",
    "q_stats_cuped" -> """
      WITH u AS (
        SELECT user_id,
               CAST(sum(CASE WHEN ts < TIMESTAMP '2024-01-16 00:00:00'
                             THEN CAST(floor(value) AS BIGINT)
                             ELSE 0 END) AS BIGINT) AS x,
               CAST(sum(CASE WHEN ts >= TIMESTAMP '2024-01-16 00:00:00'
                             THEN CAST(floor(value) AS BIGINT)
                             ELSE 0 END) AS BIGINT) AS y
        FROM events WHERE event_type = 'purchase'
        GROUP BY user_id),
      s AS (
        SELECT count(*) AS n,
               CAST(sum(x) AS DOUBLE) AS sx,
               CAST(sum(y) AS DOUBLE) AS sy,
               CAST(sum(x * x) AS DOUBLE) AS sxx,
               CAST(sum(y * y) AS DOUBLE) AS syy,
               CAST(sum(x * y) AS DOUBLE) AS sxy
        FROM u),
      c AS (
        SELECT n,
               CAST(n AS DOUBLE) * sxy - sx * sy AS cov,
               CAST(n AS DOUBLE) * sxx - sx * sx AS vx,
               CAST(n AS DOUBLE) * syy - sy * sy AS vy
        FROM s)
      SELECT n AS n_users,
             floor(cov / vx * 10000) / 10000 AS theta,
             floor(cov / sqrt(vx * vy) * 10000) / 10000 AS corr,
             floor(cov * cov / (vx * vy) * 100 * 10000 + 0.5) / 10000
               AS var_reduction_pct
      FROM c""",
    "q_stats_bowley" -> """
      WITH e AS (
        SELECT event_type,
               CAST(floor(value * 100 + 0.5) AS BIGINT) AS cents,
               event_id
        FROM events),
      ranked AS (
        SELECT event_type, cents,
               row_number() OVER (PARTITION BY event_type
                                  ORDER BY cents, event_id) AS rn,
               count(*) OVER (PARTITION BY event_type) AS n
        FROM e),
      qs AS (
        SELECT event_type, max(n) AS n_events,
               min(CASE WHEN rn = greatest((n + 1) // 4, 1)
                        THEN cents END) AS q1,
               min(CASE WHEN rn = (n + 1) // 2
                        THEN cents END) AS median,
               min(CASE WHEN rn = least((3 * (n + 1)) // 4, n)
                        THEN cents END) AS q3
        FROM ranked GROUP BY event_type)
      SELECT event_type, n_events, q1, median, q3,
             floor(CAST(q1 + q3 - 2 * median AS DOUBLE)
                   / CAST(q3 - q1 AS DOUBLE) * 10000) / 10000
               AS bowley_skew
      FROM qs ORDER BY event_type""",
    "q_sql_analytics" -> """
      WITH r AS (
        SELECT o_orderpriority AS priority,
               CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)
                 AS cents,
               row_number() OVER (PARTITION BY o_orderpriority
                 ORDER BY o_totalprice DESC, o_orderkey) AS rnk
        FROM orders)
      SELECT priority, count(*) AS n_top,
             CAST(sum(cents) AS BIGINT) AS top100_cents
      FROM r WHERE rnk <= 100
      GROUP BY ROLLUP(priority)
      ORDER BY priority ASC NULLS FIRST""",
    "q_stats_cramers_v" -> """
      WITH cells AS (
        SELECT o_orderpriority AS p, o_orderstatus AS s,
               count(*) AS nij
        FROM orders GROUP BY 1, 2),
      enr AS (
        SELECT p, s, nij,
               CAST(sum(nij) OVER (PARTITION BY p) AS BIGINT) AS ni,
               CAST(sum(nij) OVER (PARTITION BY s) AS BIGINT) AS nj,
               CAST(sum(nij) OVER () AS BIGINT) AS n
        FROM cells),
      terms AS (
        SELECT p, s, n,
               (CAST(nij AS DOUBLE)
                - CAST(ni AS DOUBLE) * CAST(nj AS DOUBLE)
                  / CAST(n AS DOUBLE))
               * (CAST(nij AS DOUBLE)
                  - CAST(ni AS DOUBLE) * CAST(nj AS DOUBLE)
                    / CAST(n AS DOUBLE))
               / (CAST(ni AS DOUBLE) * CAST(nj AS DOUBLE)
                  / CAST(n AS DOUBLE)) AS t
        FROM enr),
      folded AS (
        SELECT max(n) AS n, count(DISTINCT p) AS r,
               count(DISTINCT s) AS c,
               list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
                 list(t ORDER BY p, s)), (a, b) -> a + b) AS chi2
        FROM terms)
      SELECT n AS n_orders, r AS n_rows, c AS n_cols,
             floor(chi2 * 10000 + 0.5) / 10000 AS chi2,
             floor(sqrt(chi2 / (CAST(n AS DOUBLE)
                    * CAST(least(r, c) - 1 AS DOUBLE)))
                   * 10000 + 0.5) / 10000 AS cramers_v
      FROM folded""",
    "q_stats_power" -> """
      WITH p AS (
        SELECT CAST(floor(value * 100 + 0.5) AS BIGINT) AS c
        FROM events WHERE event_type = 'purchase'),
      s AS (
        SELECT count(*) AS n, CAST(sum(c) AS DOUBLE) AS s1,
               CAST(sum(c * c) AS DOUBLE) AS s2
        FROM p)
      SELECT n AS n_purchases,
             floor(s1 / n * 10000 + 0.5) / 10000 AS mean_cents,
             floor(sqrt((s2 - s1 * s1 / n) / (n - 1.0))
                   * 10000 + 0.5) / 10000 AS sd_cents,
             CAST(ceil(2.0 * 7.849 * ((s2 - s1 * s1 / n) / (n - 1.0))
                  / ((s1 / n * 0.02) * (s1 / n * 0.02)))
                  AS BIGINT) AS n_per_arm_2pct
      FROM s""",
    "q_agg_spearman" -> """
      WITH m AS (
        SELECT user_id,
               CAST(sum(CASE WHEN event_type = 'click'
                             THEN 1 ELSE 0 END) AS BIGINT) AS clicks,
               CAST(sum(CASE WHEN event_type = 'view'
                             THEN 1 ELSE 0 END) AS BIGINT) AS views,
               CAST(sum(CASE WHEN event_type = 'purchase'
                             THEN 1 ELSE 0 END) AS BIGINT)
                 AS purchases,
               CAST(sum(CASE WHEN event_type = 'purchase'
                             THEN CAST(floor(value * 100 + 0.5)
                                       AS BIGINT)
                             ELSE 0 END) AS BIGINT) AS spend
        FROM events GROUP BY user_id),
      ranked AS (
        SELECT row_number() OVER (ORDER BY clicks, user_id)
                 AS r_clicks,
               row_number() OVER (ORDER BY views, user_id) AS r_views,
               row_number() OVER (ORDER BY purchases, user_id)
                 AS r_purchases,
               row_number() OVER (ORDER BY spend, user_id) AS r_spend
        FROM m),
      s AS (
        SELECT count(*) AS n,
               CAST(sum(CAST(r_clicks - r_spend AS BIGINT)
                        * CAST(r_clicks - r_spend AS BIGINT))
                    AS BIGINT) AS d2_cs,
               CAST(sum(CAST(r_views - r_purchases AS BIGINT)
                        * CAST(r_views - r_purchases AS BIGINT))
                    AS BIGINT) AS d2_vp
        FROM ranked)
      SELECT n AS n_users,
             floor((1.0 - 6.0 * CAST(d2_cs AS DOUBLE)
                    / (CAST(n AS DOUBLE)
                       * (CAST(n AS DOUBLE) * CAST(n AS DOUBLE)
                          - 1.0))) * 10000) / 10000
               AS rho_clicks_spend,
             floor((1.0 - 6.0 * CAST(d2_vp AS DOUBLE)
                    / (CAST(n AS DOUBLE)
                       * (CAST(n AS DOUBLE) * CAST(n AS DOUBLE)
                          - 1.0))) * 10000) / 10000
               AS rho_views_purchases
      FROM s""",
    "q_stats_wilson" -> """
      WITH t AS (
        SELECT event_type, count(*) AS n_type FROM events
        GROUP BY event_type),
      w AS (
        SELECT event_type, n_type,
               CAST(sum(n_type) OVER () AS BIGINT) AS n_total
        FROM t),
      c AS (
        SELECT event_type, n_type, n_total,
               CAST(n_type AS DOUBLE) / CAST(n_total AS DOUBLE) AS p,
               CAST(n_total AS DOUBLE) AS n
        FROM w)
      SELECT event_type, n_type, n_total,
             floor(p * 10000 + 0.5) / 10000 AS share,
             floor(((p + 3.8416 / (2.0 * n))
                    - 1.96 * sqrt(p * (1.0 - p) / n
                                  + 3.8416 / (4.0 * n * n)))
                   / (1.0 + 3.8416 / n) * 10000 + 0.5) / 10000
               AS wilson_lo,
             floor(((p + 3.8416 / (2.0 * n))
                    + 1.96 * sqrt(p * (1.0 - p) / n
                                  + 3.8416 / (4.0 * n * n)))
                   / (1.0 + 3.8416 / n) * 10000 + 0.5) / 10000
               AS wilson_hi
      FROM c ORDER BY event_type""",
    "q_stats_iqr_outliers" -> """
      WITH e AS (
        SELECT event_type,
               CAST(floor(value * 100 + 0.5) AS BIGINT) AS cents,
               event_id
        FROM events),
      ranked AS (
        SELECT event_type, cents,
               row_number() OVER (PARTITION BY event_type
                                  ORDER BY cents, event_id) AS rn,
               count(*) OVER (PARTITION BY event_type) AS n
        FROM e),
      qs AS (
        SELECT event_type, min(cents) AS q1, max(cents) AS q3
        FROM ranked
        WHERE rn = greatest((n + 1) // 4, 1)
           OR rn = least((3 * (n + 1)) // 4, n)
        GROUP BY event_type)
      SELECT r.event_type, max(n) AS n_events,
             min(q1) AS q1_cents, min(q3) AS q3_cents,
             CAST(sum(CASE WHEN cents * 2 < q1 * 5 - q3 * 3
                             OR cents * 2 > q3 * 5 - q1 * 3
                           THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers,
             min(CASE WHEN cents * 2 < q1 * 5 - q3 * 3
                        OR cents * 2 > q3 * 5 - q1 * 3
                      THEN cents END) AS min_outlier,
             max(CASE WHEN cents * 2 < q1 * 5 - q3 * 3
                        OR cents * 2 > q3 * 5 - q1 * 3
                      THEN cents END) AS max_outlier
      FROM ranked r JOIN qs ON r.event_type = qs.event_type
      GROUP BY r.event_type ORDER BY r.event_type""",
    "q_stats_bootstrap" -> """
      WITH o AS (
        SELECT o_orderpriority AS priority, o_orderkey,
               CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS cents
        FROM orders),
      reps AS (
        SELECT priority, b,
               CAST(sum(w * cents) AS DOUBLE)
                 / CAST(sum(w) AS DOUBLE) AS mean_b
        FROM (
          SELECT priority, cents, b,
            CASE WHEN u < 0.36787944117144233 THEN 0
                 WHEN u < 0.7357588823428847 THEN 1
                 WHEN u < 0.9196986029286058 THEN 2
                 WHEN u < 0.9810118431238462 THEN 3
                 WHEN u < 0.9963401531726563 THEN 4
                 WHEN u < 0.9994058151824183 THEN 5
                 ELSE 6 END AS w
          FROM (
            SELECT priority, cents, b,
              CAST(('0x' || substring(md5(CAST(o_orderkey AS VARCHAR)
                || '|' || CAST(b AS VARCHAR)), 1, 12)) AS BIGINT)
                / 281474976710656.0 AS u
            FROM o, (SELECT unnest(generate_series(0, 39)) AS b)))
        GROUP BY priority, b),
      ranked AS (
        SELECT priority, mean_b,
               row_number() OVER (PARTITION BY priority
                                  ORDER BY mean_b, b) AS rn
        FROM reps),
      ci AS (
        SELECT priority,
               min(CASE WHEN rn = 2 THEN mean_b END) AS lo,
               min(CASE WHEN rn = 39 THEN mean_b END) AS hi
        FROM ranked GROUP BY priority),
      pt AS (
        SELECT priority, count(*) AS n_orders,
               CAST(sum(cents) AS DOUBLE)
                 / CAST(count(*) AS DOUBLE) AS mean_cents
        FROM o GROUP BY priority)
      SELECT pt.priority, n_orders,
             floor(mean_cents * 10000 + 0.5) / 10000 AS mean_cents,
             floor(lo * 10000 + 0.5) / 10000 AS boot_lo,
             floor(hi * 10000 + 0.5) / 10000 AS boot_hi
      FROM pt JOIN ci ON pt.priority = ci.priority
      ORDER BY pt.priority""",
    "q_agg_hhi" -> """
      WITH spend AS (
        SELECT c_mktsegment AS segment, c_custkey,
               sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT))
                 AS cents
        FROM orders JOIN customer ON o_custkey = c_custkey
        GROUP BY 1, 2),
      g AS (
        SELECT segment, count(*) AS n_customers,
               CAST(sum(cents) AS DOUBLE) AS s1,
               CAST(sum(CAST(cents AS HUGEINT) * cents) AS DOUBLE) AS s2
        FROM spend GROUP BY segment)
      SELECT segment, n_customers,
             floor(s2 / (s1 * s1) * 10000 * 10000 + 0.5) / 10000
               AS hhi_x10k,
             floor(1.0 / (s2 / (s1 * s1)) * 10000 + 0.5) / 10000
               AS eff_competitors
      FROM g ORDER BY segment""",
    "q_agg_trimmed_mean" -> """
      WITH o AS (
        SELECT o_orderpriority AS priority, o_orderkey,
               CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS cents
        FROM orders),
      ranked AS (
        SELECT priority, cents,
               row_number() OVER (PARTITION BY priority
                                  ORDER BY cents, o_orderkey) AS rn,
               count(*) OVER (PARTITION BY priority) AS n
        FROM o),
      t AS (SELECT priority, cents, rn, n, n * 5 // 100 AS k
            FROM ranked)
      SELECT priority, max(n) AS n_orders,
             floor(CAST(sum(cents) AS DOUBLE)
                   / CAST(count(*) AS DOUBLE) / 100.0
                   * 10000 + 0.5) / 10000 AS mean_all,
             floor(CAST(sum(CASE WHEN rn > k AND rn <= n - k
                                 THEN cents END) AS DOUBLE)
                   / CAST(sum(CASE WHEN rn > k AND rn <= n - k
                                   THEN 1 END) AS DOUBLE) / 100.0
                   * 10000 + 0.5) / 10000 AS mean_trimmed
      FROM t GROUP BY priority ORDER BY priority""",
    "q_agg_skewness" -> """
      WITH s AS (
        SELECT l_returnflag, count(*) AS n,
               CAST(sum(q) AS DOUBLE) AS s1,
               CAST(sum(q * q) AS DOUBLE) AS s2,
               CAST(sum(q * q * q) AS DOUBLE) AS s3,
               CAST(sum(q * q * q * q) AS DOUBLE) AS s4
        FROM (SELECT l_returnflag, CAST(l_quantity AS BIGINT) AS q
              FROM lineitem)
        GROUP BY l_returnflag),
      m AS (
        SELECT l_returnflag, n,
               s1 / n AS m,
               s2 / n - (s1 / n) * (s1 / n) AS m2,
               s3 / n - 3.0 * (s1 / n) * (s2 / n)
                 + 2.0 * (s1 / n) * (s1 / n) * (s1 / n) AS m3,
               s4 / n - 4.0 * (s1 / n) * (s3 / n)
                 + 6.0 * (s1 / n) * (s1 / n) * (s2 / n)
                 - 3.0 * (s1 / n) * (s1 / n) * (s1 / n) * (s1 / n) AS m4
        FROM (SELECT l_returnflag, CAST(n AS DOUBLE) AS n,
                     s1, s2, s3, s4 FROM s))
      SELECT l_returnflag, CAST(n AS BIGINT) AS n,
             floor(m * 10000 + 0.5) / 10000 AS mean_qty,
             floor(m3 / sqrt(m2 * m2 * m2) * 10000) / 10000 AS skewness,
             floor((m4 / (m2 * m2) - 3.0) * 10000) / 10000
               AS kurtosis_excess
      FROM m ORDER BY l_returnflag""",
    "q_agg_gini" -> """
      WITH spend AS (
        SELECT c_mktsegment AS segment, c_custkey,
               sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT))
                 AS cents
        FROM orders JOIN customer ON o_custkey = c_custkey
        GROUP BY 1, 2),
      ranked AS (
        SELECT segment, cents,
               row_number() OVER (PARTITION BY segment
                                  ORDER BY cents, c_custkey) AS i
        FROM spend),
      g AS (
        SELECT segment, count(*) AS n_customers,
               CAST(sum(cents) AS BIGINT) AS total_cents,
               CAST(sum(CAST(i AS BIGINT) * cents) AS BIGINT) AS s_ix
        FROM ranked GROUP BY segment)
      SELECT segment, n_customers, total_cents,
             floor((2.0 * CAST(s_ix AS DOUBLE)
                    / (CAST(n_customers AS DOUBLE)
                       * CAST(total_cents AS DOUBLE))
                    - CAST(n_customers + 1 AS DOUBLE)
                      / CAST(n_customers AS DOUBLE)) * 10000 + 0.5)
               / 10000 AS gini
      FROM g ORDER BY segment""",
    "q_stats_bh_fdr" -> s"""
      WITH src AS (
        SELECT event_type, ts,
               CAST(floor(value * 100 + 0.5) AS BIGINT) AS c
        FROM events),
      cells AS (
        SELECT event_type, date_part('hour', ts) AS hod,
               CAST(sum(CASE WHEN isodow(ts) >= 6 THEN 1 ELSE 0 END)
                    AS BIGINT) AS n1,
               CAST(sum(CASE WHEN isodow(ts) >= 6 THEN c ELSE 0 END)
                    AS BIGINT) AS x1,
               CAST(sum(CASE WHEN isodow(ts) >= 6 THEN c * c ELSE 0 END)
                    AS BIGINT) AS q1,
               CAST(sum(CASE WHEN isodow(ts) < 6 THEN 1 ELSE 0 END)
                    AS BIGINT) AS n2,
               CAST(sum(CASE WHEN isodow(ts) < 6 THEN c ELSE 0 END)
                    AS BIGINT) AS x2,
               CAST(sum(CASE WHEN isodow(ts) < 6 THEN c * c ELSE 0 END)
                    AS BIGINT) AS q2
        FROM src GROUP BY 1, 2),
      scored AS (
        SELECT event_type, hod, n1, n2,
               ((CAST(x1 AS DOUBLE) / CAST(n1 AS DOUBLE)
                 - CAST(x2 AS DOUBLE) / CAST(n2 AS DOUBLE))
                * (CAST(x1 AS DOUBLE) / CAST(n1 AS DOUBLE)
                   - CAST(x2 AS DOUBLE) / CAST(n2 AS DOUBLE)))
               / (((CAST(q1 AS DOUBLE)
                    - CAST(x1 AS DOUBLE) * CAST(x1 AS DOUBLE)
                      / CAST(n1 AS DOUBLE)) / (CAST(n1 AS DOUBLE) - 1))
                  / CAST(n1 AS DOUBLE)
                  + ((CAST(q2 AS DOUBLE)
                      - CAST(x2 AS DOUBLE) * CAST(x2 AS DOUBLE)
                        / CAST(n2 AS DOUBLE)) / (CAST(n2 AS DOUBLE) - 1))
                    / CAST(n2 AS DOUBLE)) AS t2
        FROM cells),
      ranked AS (
        SELECT event_type, hod, n1, n2, t2,
               row_number() OVER wo AS bh_rank,
               (CAST(${graft.api.ops.bhZsqSql(0.1, 120)}
                 AS DOUBLE[]))[row_number() OVER wo] AS zsq
        FROM scored
        WINDOW wo AS (ORDER BY t2 DESC, event_type, hod)),
      k AS (SELECT max(CASE WHEN t2 >= zsq THEN bh_rank END) AS k_bh
            FROM ranked)
      SELECT event_type, hod, n1, n2,
             floor(t2 * 10000 + 0.5) / 10000 AS t2,
             bh_rank, bh_rank <= COALESCE(k_bh, 0) AS discovery
      FROM ranked CROSS JOIN k
      ORDER BY bh_rank""",
    "q_stats_kendall" -> """
      WITH hourly AS (
        SELECT event_type, date_trunc('hour', ts) AS hr, count(*) AS x
        FROM events GROUP BY 1, 2),
      series AS (
        SELECT a.event_type AS type_a, b.event_type AS type_b,
               a.hr, a.x, b.x AS y
        FROM hourly a JOIN hourly b
          ON a.hr = b.hr AND a.event_type < b.event_type),
      agg AS (
        SELECT p.type_a, p.type_b,
               count(*) AS n0,
               CAST(sum(CASE WHEN (p.x > q.x AND p.y > q.y)
                               OR (p.x < q.x AND p.y < q.y)
                             THEN 1 ELSE 0 END) AS BIGINT) AS conc,
               CAST(sum(CASE WHEN (p.x > q.x AND p.y < q.y)
                               OR (p.x < q.x AND p.y > q.y)
                             THEN 1 ELSE 0 END) AS BIGINT) AS disc,
               CAST(sum(CASE WHEN p.x = q.x THEN 1 ELSE 0 END)
                    AS BIGINT) AS tie_x,
               CAST(sum(CASE WHEN p.y = q.y THEN 1 ELSE 0 END)
                    AS BIGINT) AS tie_y
        FROM series p JOIN series q
          ON p.type_a = q.type_a AND p.type_b = q.type_b AND p.hr < q.hr
        GROUP BY 1, 2)
      SELECT type_a, type_b, n0, conc, disc,
             floor((CAST(conc AS DOUBLE) - CAST(disc AS DOUBLE)) /
                   sqrt((CAST(n0 AS DOUBLE) - CAST(tie_x AS DOUBLE))
                        * (CAST(n0 AS DOUBLE) - CAST(tie_y AS DOUBLE)))
                   * 10000) / 10000 AS tau
      FROM agg ORDER BY type_a, type_b""",
    "q_stats_benford" -> """
      WITH d AS (
        SELECT substr(CAST(CAST(floor(o_totalprice) AS BIGINT)
                           AS VARCHAR), 1, 1) AS digit
        FROM orders WHERE o_totalprice >= 1),
      agg AS (
        SELECT digit, count(*) AS n FROM d GROUP BY digit),
      t AS (
        SELECT digit, n, sum(n) OVER () AS n_total FROM agg)
      SELECT digit, n,
             floor(CAST(n AS DOUBLE) / CAST(n_total AS DOUBLE)
                   * 10000 + 0.5) / 10000 AS share,
             floor(log10(1.0 + 1.0 / CAST(digit AS DOUBLE))
                   * 10000 + 0.5) / 10000 AS benford_p,
             floor(abs(CAST(n AS DOUBLE) / CAST(n_total AS DOUBLE)
                       - log10(1.0 + 1.0 / CAST(digit AS DOUBLE)))
                   * 10000 + 0.5) / 10000 AS abs_dev
      FROM t ORDER BY digit""",
    "q_sql_entry" -> """
      SELECT n.n_name AS nation,
             count(*) AS n_items,
             floor(CAST(sum(CAST(floor(l.l_extendedprice * 100 + 0.5)
                                 AS BIGINT)
                       * (100 - CAST(floor(l.l_discount * 100 + 0.5)
                                     AS BIGINT))) AS DOUBLE)
                   / 10000 * 10000 + 0.5) / 10000 AS revenue
      FROM customer c
      JOIN orders o    ON c.c_custkey = o.o_custkey
      JOIN lineitem l  ON l.l_orderkey = o.o_orderkey
      JOIN supplier s  ON l.l_suppkey = s.s_suppkey
                      AND c.c_nationkey = s.s_nationkey
      JOIN nation n    ON c.c_nationkey = n.n_nationkey
      JOIN region r    ON n.n_regionkey = r.r_regionkey
      WHERE r.r_name IN ('AMERICA', 'ASIA')
      GROUP BY n.n_name
      ORDER BY revenue DESC, nation""",
    "q_agg_corr_matrix" -> """
      WITH pu AS (
        SELECT user_id,
               sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS m1,
               sum(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS m2,
               sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
                 AS m3,
               sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) // 100 AS m4
        FROM events GROUP BY user_id),
      st AS (
        SELECT count(*) AS n,
               sum(m1) AS s1, sum(m2) AS s2, sum(m3) AS s3, sum(m4) AS s4,
               sum(m1*m1) AS q11, sum(m1*m2) AS q12, sum(m1*m3) AS q13,
               sum(m1*m4) AS q14, sum(m2*m2) AS q22, sum(m2*m3) AS q23,
               sum(m2*m4) AS q24, sum(m3*m3) AS q33, sum(m3*m4) AS q34,
               sum(m4*m4) AS q44
        FROM pu),
      pairs AS (
        SELECT 'm1' AS metric_a, 'm2' AS metric_b,
               CAST(n*q12 - s1*s2 AS DOUBLE) AS num,
               CAST(n*q11 - s1*s1 AS DOUBLE) AS da,
               CAST(n*q22 - s2*s2 AS DOUBLE) AS db FROM st
        UNION ALL SELECT 'm1', 'm3', CAST(n*q13 - s1*s3 AS DOUBLE),
               CAST(n*q11 - s1*s1 AS DOUBLE),
               CAST(n*q33 - s3*s3 AS DOUBLE) FROM st
        UNION ALL SELECT 'm1', 'm4', CAST(n*q14 - s1*s4 AS DOUBLE),
               CAST(n*q11 - s1*s1 AS DOUBLE),
               CAST(n*q44 - s4*s4 AS DOUBLE) FROM st
        UNION ALL SELECT 'm2', 'm3', CAST(n*q23 - s2*s3 AS DOUBLE),
               CAST(n*q22 - s2*s2 AS DOUBLE),
               CAST(n*q33 - s3*s3 AS DOUBLE) FROM st
        UNION ALL SELECT 'm2', 'm4', CAST(n*q24 - s2*s4 AS DOUBLE),
               CAST(n*q22 - s2*s2 AS DOUBLE),
               CAST(n*q44 - s4*s4 AS DOUBLE) FROM st
        UNION ALL SELECT 'm3', 'm4', CAST(n*q34 - s3*s4 AS DOUBLE),
               CAST(n*q33 - s3*s3 AS DOUBLE),
               CAST(n*q44 - s4*s4 AS DOUBLE) FROM st)
      SELECT metric_a, metric_b,
             round(num / sqrt(da * db), 4) AS r
      FROM pairs ORDER BY metric_a, metric_b""",
    "q_agg_percentiles" -> """
      WITH c AS (
        SELECT event_type,
               CAST(CAST(floor(value * 100 + 0.5) AS BIGINT) AS DOUBLE)
                 AS cents
        FROM events)
      SELECT event_type, count(*) AS n,
             floor(quantile_cont(cents, 0.5) / 100 * 10000 + 0.5) / 10000
               AS p50,
             floor(quantile_cont(cents, 0.9) / 100 * 10000 + 0.5) / 10000
               AS p90,
             floor(quantile_cont(cents, 0.99) / 100 * 10000 + 0.5) / 10000
               AS p99
      FROM c GROUP BY event_type ORDER BY event_type""",
    "q_agg_mode" -> """
      WITH cells AS (
        SELECT user_id, event_type, count(*) AS cnt
        FROM events GROUP BY 1, 2),
      ranked AS (
        SELECT user_id, event_type, cnt,
               row_number() OVER (PARTITION BY user_id
                 ORDER BY cnt DESC, event_type) AS rn,
               sum(cnt) OVER (PARTITION BY user_id) AS total
        FROM cells)
      SELECT user_id, event_type AS mode_type, cnt AS mode_cnt,
             floor(CAST(cnt AS DOUBLE) / CAST(total AS DOUBLE)
                   * 10000 + 0.5) / 10000 AS mode_share
      FROM ranked WHERE rn = 1 ORDER BY user_id""",
    "q_stats_ks" -> """
      WITH e AS (
        SELECT event_type, CAST(floor(value * 100 + 0.5) AS BIGINT) AS cents
        FROM events WHERE event_type IN ('purchase', 'click')),
      hist AS (
        SELECT cents,
               CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
                 AS BIGINT) AS ca,
               CAST(sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)
                 AS BIGINT) AS cb
        FROM e GROUP BY cents),
      sw AS (
        SELECT cents,
               CAST(sum(ca) OVER () AS BIGINT) AS na,
               CAST(sum(cb) OVER () AS BIGINT) AS nb,
               CAST(sum(ca) OVER (ORDER BY cents ROWS BETWEEN UNBOUNDED
                 PRECEDING AND CURRENT ROW) AS BIGINT) AS cuma,
               CAST(sum(cb) OVER (ORDER BY cents ROWS BETWEEN UNBOUNDED
                 PRECEDING AND CURRENT ROW) AS BIGINT) AS cumb
        FROM hist),
      d AS (SELECT cents, na, nb,
                   abs(cuma * nb - cumb * na) AS dnum FROM sw),
      top AS (SELECT * FROM d ORDER BY dnum DESC, cents LIMIT 1)
      SELECT na AS n_a, nb AS n_b, cents AS ks_at_cents,
             floor(CAST(dnum AS DOUBLE) / (na * nb) * 10000 + 0.5) / 10000
               AS ks_stat,
             CAST(dnum AS DOUBLE) / (na * nb) >
               1.358 * sqrt(CAST(na + nb AS DOUBLE) / (na * nb))
               AS drift_flag
      FROM top""",
    "q_stats_chi2" -> """
      WITH cells AS (
        SELECT event_type AS t, CAST(hour(ts) AS BIGINT) AS h,
               CAST(count(*) AS BIGINT) AS obs
        FROM events GROUP BY 1, 2),
      enr AS (
        SELECT t, h, obs,
               CAST(sum(obs) OVER () AS BIGINT) AS n,
               CAST(sum(obs) OVER (PARTITION BY t) AS BIGINT) AS rt,
               CAST(sum(obs) OVER (PARTITION BY h) AS BIGINT) AS ct
        FROM cells),
      terms AS (
        SELECT t, h,
               CAST(obs * n - rt * ct AS DOUBLE)
                 * CAST(obs * n - rt * ct AS DOUBLE)
                 / CAST(rt * ct AS DOUBLE) / CAST(n AS DOUBLE) AS term
        FROM enr)
      SELECT CAST(count(*) AS BIGINT) AS n_cells,
             CAST((count(DISTINCT t) - 1) * (count(DISTINCT h) - 1)
               AS BIGINT) AS dof,
             floor(list_reduce(list_prepend(CAST(0 AS DOUBLE),
               list(term ORDER BY t, h)), (a, x) -> a + x)
               * 10000 + 0.5) / 10000 AS chi2
      FROM terms""",
    "q_stats_two_proportion" -> """
      WITH u AS (
        SELECT user_id,
               CAST(sum(CASE WHEN event_type = 'purchase'
                             THEN 1 ELSE 0 END) * 5 > count(*)
                    AS BIGINT) AS conv
        FROM events GROUP BY user_id),
      v AS (
        SELECT CASE WHEN user_id % 2 = 0 THEN 'A' ELSE 'B' END
                 AS variant,
               conv
        FROM u),
      s AS (
        SELECT variant, count(*) AS n, CAST(sum(conv) AS BIGINT) AS k
        FROM v GROUP BY variant),
      a AS (SELECT n AS n_a, k AS k_a FROM s WHERE variant = 'A'),
      b AS (SELECT n AS n_b, k AS k_b FROM s WHERE variant = 'B'),
      f AS (
        SELECT n_a, k_a, n_b, k_b,
               CAST(k_a AS DOUBLE) / CAST(n_a AS DOUBLE) AS pa,
               CAST(k_b AS DOUBLE) / CAST(n_b AS DOUBLE) AS pb,
               CAST(k_a + k_b AS DOUBLE) / CAST(n_a + n_b AS DOUBLE)
                 AS pp
        FROM a CROSS JOIN b)
      SELECT n_a, k_a, n_b, k_b,
             floor(pa * 10000 + 0.5) / 10000 AS rate_a,
             floor(pb * 10000 + 0.5) / 10000 AS rate_b,
             floor((pa - pb) /
                   sqrt(pp * (1.0 - pp)
                        * (1.0 / CAST(n_a AS DOUBLE)
                           + 1.0 / CAST(n_b AS DOUBLE)))
                   * 10000) / 10000 AS z
      FROM f""",
    "q_abtest" -> """
      WITH p AS (
        SELECT CASE WHEN user_id % 2 = 0 THEN 'A' ELSE 'B' END AS v,
               CAST(floor(value * 100 + 0.5) AS BIGINT) AS c
        FROM events WHERE event_type = 'purchase'),
      s AS (
        SELECT v, count(*) AS n, sum(c) AS sx, sum(c * c) AS sx2
        FROM p GROUP BY v),
      w AS (
        SELECT a.n AS n_a, b.n AS n_b,
               CAST(a.sx AS DOUBLE) / a.n AS ma,
               CAST(b.sx AS DOUBLE) / b.n AS mb,
               (CAST(a.sx2 AS DOUBLE)
                 - CAST(a.sx AS DOUBLE) * a.sx / a.n) / (a.n - 1) AS va,
               (CAST(b.sx2 AS DOUBLE)
                 - CAST(b.sx AS DOUBLE) * b.sx / b.n) / (b.n - 1) AS vb
        FROM (SELECT * FROM s WHERE v = 'A') a
        CROSS JOIN (SELECT * FROM s WHERE v = 'B') b)
      SELECT n_a, n_b,
             floor(ma * 10000 + 0.5) / 10000 AS mean_a_cents,
             floor(mb * 10000 + 0.5) / 10000 AS mean_b_cents,
             floor(abs((mb - ma) / sqrt(va / n_a + vb / n_b))
                   * 10000 + 0.5) / 10000 AS abs_t,
             mb > ma AS b_gt_a,
             floor(abs((mb - ma) / sqrt(va / n_a + vb / n_b))
                   * 10000 + 0.5) / 10000 > 1.96 AS significant
      FROM w""",
    "q_stats_mad" -> """
      WITH e AS (
        SELECT event_type,
               CAST(floor(value * 100 + 0.5) AS BIGINT) AS cents
        FROM events),
      med AS (
        SELECT event_type, quantile_cont(cents, 0.5) AS med_cents
        FROM e GROUP BY event_type),
      dev AS (
        SELECT e.event_type, cents, med_cents,
               abs(cents - med_cents) AS adev
        FROM e JOIN med USING (event_type)),
      mad AS (
        SELECT event_type, quantile_cont(adev, 0.5) AS mad_cents
        FROM dev GROUP BY event_type)
      SELECT d.event_type, count(*) AS n,
             any_value(d.med_cents) AS med_cents,
             any_value(m.mad_cents) AS mad_cents,
             CAST(sum((d.adev > 4.4478 * m.mad_cents)::INT) AS BIGINT)
               AS n_outliers,
             floor(CAST(sum((d.adev > 4.4478 * m.mad_cents)::INT)
                   AS DOUBLE) / count(*) * 10000 + 0.5) / 10000
               AS outlier_frac
      FROM dev d JOIN mad m USING (event_type)
      GROUP BY d.event_type
      ORDER BY d.event_type""",
    "q_agg_entropy" -> """
      WITH lc AS (
        SELECT source, lang, count(*) AS c
        FROM documents GROUP BY 1, 2),
      s AS (
        SELECT source, count(*) AS n_langs, sum(c) AS n,
               sum(c*c) AS ss,
               sum(CAST(c AS DOUBLE) * ln(CAST(c AS DOUBLE))) AS clc
        FROM lc GROUP BY 1)
      SELECT source, n_langs,
             floor((1.0 - CAST(ss AS DOUBLE) / CAST(n*n AS DOUBLE))
               * 10000 + 0.5) / 10000 AS gini,
             floor((ln(CAST(n AS DOUBLE)) - clc / CAST(n AS DOUBLE))
               * 10000 + 0.5) / 10000 AS entropy
      FROM s ORDER BY source""",
    "q_agg_bitwise" -> """
      WITH o AS (
        SELECT o_orderkey, o_orderpriority,
               (CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END) +
               (CASE WHEN o_totalprice > 100000 THEN 2 ELSE 0 END) +
               (CASE WHEN o_orderpriority LIKE '1%' THEN 4 ELSE 0 END)
                 AS flags
        FROM orders)
      SELECT o_orderpriority,
             bit_and(flags) AS flags_all,
             bit_or(flags) AS flags_any,
             bit_xor(o_orderkey) AS key_checksum,
             count(*) AS n
      FROM o
      GROUP BY o_orderpriority
      ORDER BY o_orderpriority""",
    "q_agg_expectations" -> """
      WITH m AS (
        SELECT count(*) AS n_rows,
               count(DISTINCT o_orderkey) AS n_keys,
               count(*) FILTER (o_custkey IS NULL) AS n_null_cust,
               count(*) FILTER (o_totalprice <= 0) AS n_nonpos_price,
               count(*) FILTER (o_orderstatus NOT IN ('F', 'O', 'P'))
                 AS n_bad_status
        FROM orders)
      SELECT check_name, n_rows, metric, passed FROM (
        SELECT 'key_unique' AS check_name, n_rows, n_keys AS metric,
               n_keys = n_rows AS passed FROM m
        UNION ALL
        SELECT 'custkey_complete', n_rows, n_null_cust,
               n_null_cust = 0 FROM m
        UNION ALL
        SELECT 'price_positive', n_rows, n_nonpos_price,
               n_nonpos_price = 0 FROM m
        UNION ALL
        SELECT 'status_in_domain', n_rows, n_bad_status,
               n_bad_status = 0 FROM m)
      ORDER BY check_name""",
    "q_agg_bool" -> """
      SELECT o_orderpriority,
             bool_and(o_totalprice > 1000) AS all_over_1k,
             bool_or(o_orderstatus = 'F') AS any_final,
             count(*) FILTER (o_custkey % 2 = 0) AS n_even_cust,
             count(*) AS n
      FROM orders
      GROUP BY o_orderpriority
      ORDER BY o_orderpriority""",
    "q_agg_extrema" -> """
      WITH o AS (
        SELECT *, CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS cents
        FROM orders),
      k AS (
        SELECT *, lpad(CAST(cents AS VARCHAR), 14, '0') ||
                  lpad(CAST(o_orderkey AS VARCHAR), 14, '0') AS tie_key
        FROM o)
      SELECT o_orderstatus,
             max_by(o_orderkey, tie_key) AS max_price_order,
             min_by(o_orderkey, tie_key) AS min_price_order,
             round(max(o_totalprice), 4) AS max_price,
             round(min(o_totalprice), 4) AS min_price,
             count(*) AS n
      FROM k
      GROUP BY o_orderstatus
      ORDER BY o_orderstatus""",
    "q_agg_profile" -> """
      SELECT * FROM (
        SELECT 'o_custkey' AS col_name, count(*) AS n_rows,
               count(*) - count(o_custkey) AS n_nulls,
               count(DISTINCT o_custkey) AS n_distinct,
               round(CAST(min(o_custkey) AS DOUBLE), 4) AS min_num,
               round(CAST(max(o_custkey) AS DOUBLE), 4) AS max_num,
               CAST(NULL AS VARCHAR) AS min_str,
               CAST(NULL AS VARCHAR) AS max_str
        FROM orders
        UNION ALL
        SELECT 'o_orderkey', count(*), count(*) - count(o_orderkey),
               count(DISTINCT o_orderkey),
               round(CAST(min(o_orderkey) AS DOUBLE), 4),
               round(CAST(max(o_orderkey) AS DOUBLE), 4),
               NULL, NULL
        FROM orders
        UNION ALL
        SELECT 'o_orderpriority', count(*),
               count(*) - count(o_orderpriority),
               count(DISTINCT o_orderpriority),
               NULL, NULL,
               min(o_orderpriority), max(o_orderpriority)
        FROM orders
        UNION ALL
        SELECT 'o_orderstatus', count(*), count(*) - count(o_orderstatus),
               count(DISTINCT o_orderstatus),
               NULL, NULL,
               min(o_orderstatus), max(o_orderstatus)
        FROM orders
        UNION ALL
        SELECT 'o_totalprice', count(*), count(*) - count(o_totalprice),
               count(DISTINCT o_totalprice),
               round(CAST(min(o_totalprice) AS DOUBLE), 4),
               round(CAST(max(o_totalprice) AS DOUBLE), 4),
               NULL, NULL
        FROM orders)
      ORDER BY col_name""",
    "q_agg_heavy_hitters" -> """
      WITH t AS (
        SELECT unnest(string_split(text, ' ')) AS term FROM documents),
      c AS (SELECT term, count(*) AS cnt FROM t GROUP BY term),
      tot AS (SELECT sum(cnt) AS total FROM c)
      SELECT term, cnt FROM c, tot
      WHERE cnt * 50 > total
      ORDER BY term""",
    "q_agg_histogram" -> """
      SELECT CAST(least(floor(l_extendedprice / 5500.0), 19.0) AS BIGINT)
               AS bucket,
             count(*) AS cnt,
             floor(avg(l_extendedprice) * 10000 + 0.5) / 10000
               AS avg_price,
             round(min(l_extendedprice), 4) AS min_price,
             round(max(l_extendedprice), 4) AS max_price
      FROM lineitem
      GROUP BY 1
      ORDER BY bucket""",
    "q_agg_conditional" -> """
      SELECT o_orderstatus,
             CAST(count_if(o_totalprice > 150000) AS BIGINT) AS n_big,
             bool_and(o_totalprice > 0) AS all_positive,
             bool_or(o_orderpriority = '1-URGENT') AS any_urgent,
             round(median(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)), 4)
               AS median_cents
      FROM orders
      GROUP BY o_orderstatus
      ORDER BY o_orderstatus""",
    "q_agg_unpivot" -> """
      SELECT user_id, event_type, count(*) AS n
      FROM events
      GROUP BY user_id, event_type
      ORDER BY user_id, event_type""",
    "q_agg_pivot" -> """
      SELECT user_id,
             count(*) FILTER (event_type = 'click') AS click,
             count(*) FILTER (event_type = 'error') AS error,
             count(*) FILTER (event_type = 'purchase') AS purchase,
             count(*) FILTER (event_type = 'signup') AS signup,
             count(*) FILTER (event_type = 'view') AS view
      FROM events
      GROUP BY user_id
      ORDER BY user_id""",
    "q_subquery_correlated" -> """
      SELECT o_orderkey, o_custkey, round(o_totalprice, 4) AS totalprice
      FROM orders o
      WHERE o_totalprice > 1.5 * (SELECT avg(o2.o_totalprice)
                                  FROM orders o2
                                  WHERE o2.o_custkey = o.o_custkey)
      ORDER BY o_orderkey""",
    "q_agg_distinct_kmv" -> """
      WITH du AS (SELECT DISTINCT event_type, user_id FROM events),
      n AS (SELECT event_type, count(*) AS n_exact FROM du GROUP BY 1),
      r AS (SELECT event_type, user_id,
              row_number() OVER (PARTITION BY event_type
                ORDER BY md5(CAST(user_id AS VARCHAR)), user_id) AS rn
            FROM du),
      kth AS (SELECT event_type,
                CAST(('0x' || substring(md5(CAST(user_id AS VARCHAR)),
                  1, 15)) AS BIGINT) AS h
              FROM r WHERE rn = 64)
      SELECT n.event_type, n.n_exact,
             CASE WHEN kth.h IS NULL THEN CAST(n.n_exact AS DOUBLE)
                  ELSE floor(63.0 / (CAST(kth.h AS DOUBLE)
                         / 1152921504606846976.0) * 10000 + 0.5) / 10000
             END AS kmv_est
      FROM n LEFT JOIN kth ON n.event_type = kth.event_type
      ORDER BY n.event_type""",
    "q_agg_kmv_merge" -> """
      WITH du AS (SELECT DISTINCT event_type, user_id FROM events),
      pt AS (SELECT event_type, user_id,
               row_number() OVER (PARTITION BY event_type
                 ORDER BY md5(CAST(user_id AS VARCHAR)), user_id) AS rn
             FROM du),
      un AS (SELECT DISTINCT user_id FROM pt WHERE rn <= 64),
      mr AS (SELECT user_id, row_number() OVER (
               ORDER BY md5(CAST(user_id AS VARCHAR)), user_id) AS rn
             FROM un),
      mi AS (SELECT list(user_id ORDER BY md5(CAST(user_id AS VARCHAR)),
               user_id) AS ids FROM mr WHERE rn <= 64),
      gd AS (SELECT DISTINCT user_id FROM du),
      dr AS (SELECT user_id, row_number() OVER (
               ORDER BY md5(CAST(user_id AS VARCHAR)), user_id) AS rn
             FROM gd),
      di AS (SELECT list(user_id ORDER BY md5(CAST(user_id AS VARCHAR)),
               user_id) AS ids FROM dr WHERE rn <= 64),
      n AS (SELECT CAST(count(*) AS BIGINT) AS n_exact FROM gd),
      c AS (SELECT n.n_exact, di.ids AS d_ids, mi.ids AS m_ids,
              CAST(('0x' || substring(md5(CAST(di.ids[64] AS VARCHAR)),
                1, 15)) AS BIGINT) AS dh,
              CAST(('0x' || substring(md5(CAST(mi.ids[64] AS VARCHAR)),
                1, 15)) AS BIGINT) AS mh
            FROM n, di, mi)
      SELECT n_exact,
             CASE WHEN len(d_ids) < 64 THEN CAST(n_exact AS DOUBLE)
                  ELSE floor(63.0 / (CAST(dh AS DOUBLE)
                    / 1152921504606846976.0) * 10000 + 0.5) / 10000
             END AS est_direct,
             CASE WHEN len(m_ids) < 64 THEN CAST(n_exact AS DOUBLE)
                  ELSE floor(63.0 / (CAST(mh AS DOUBLE)
                    / 1152921504606846976.0) * 10000 + 0.5) / 10000
             END AS est_merged,
             m_ids = d_ids AS merged_equals_direct
      FROM c""",
    "q_agg_count_min_twin" -> """
      WITH u AS (SELECT user_id FROM events),
      js AS (SELECT unnest([0, 1, 2, 3]) AS j),
      cell AS (
        SELECT j,
               CAST(('0x' || substring(md5(CAST(j AS VARCHAR) || ':' ||
                 CAST(user_id AS VARCHAR)), 1, 4)) AS BIGINT) % 64 AS b,
               count(*) AS c
        FROM u CROSS JOIN js GROUP BY 1, 2),
      cnt AS (SELECT user_id, count(*) AS n_exact FROM u GROUP BY 1),
      top AS (SELECT user_id, n_exact FROM (
                SELECT user_id, n_exact,
                       row_number() OVER (ORDER BY n_exact DESC,
                         user_id) AS rn
                FROM cnt) WHERE rn <= 20),
      probe AS (
        SELECT t.user_id, t.n_exact, js.j,
               CAST(('0x' || substring(md5(CAST(js.j AS VARCHAR) || ':'
                 || CAST(t.user_id AS VARCHAR)), 1, 4)) AS BIGINT) % 64
                 AS b
        FROM top t CROSS JOIN js)
      SELECT p.user_id, p.n_exact, min(c.c) AS cm_est,
             min(c.c) - p.n_exact AS overcount
      FROM probe p JOIN cell c ON c.j = p.j AND c.b = p.b
      GROUP BY 1, 2 ORDER BY p.user_id""",
    "q_agg_quantile_twin" -> """
      WITH o AS (SELECT o_orderstatus AS st, o_orderkey AS k,
                   CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)
                     AS cents
                 FROM orders),
      hr AS (SELECT st, k, cents,
               row_number() OVER (PARTITION BY st
                 ORDER BY md5(CAST(k AS VARCHAR)), k) AS hrn
             FROM o),
      sm AS (SELECT st, list(cents ORDER BY cents) AS s
             FROM hr WHERE hrn <= 128 GROUP BY st),
      n AS (SELECT st, count(*) AS n FROM o GROUP BY 1),
      rr AS (SELECT st, cents,
               row_number() OVER (PARTITION BY st
                 ORDER BY cents, k) AS rn
             FROM o),
      e50 AS (SELECT rr.st, cents AS p50_exact_cents
              FROM rr JOIN n ON rr.st = n.st
              WHERE rn = CAST(ceil(CAST(n.n AS DOUBLE) * 0.5)
                AS BIGINT)),
      e95 AS (SELECT rr.st, cents AS p95_exact_cents
              FROM rr JOIN n ON rr.st = n.st
              WHERE rn = CAST(ceil(CAST(n.n AS DOUBLE) * 0.95)
                AS BIGINT))
      SELECT n.st AS o_orderstatus, n.n, len(s) AS m,
             s[CAST(ceil(len(s) * 0.5) AS BIGINT)] AS p50_est_cents,
             s[CAST(ceil(len(s) * 0.95) AS BIGINT)] AS p95_est_cents,
             e50.p50_exact_cents, e95.p95_exact_cents
      FROM n JOIN sm ON n.st = sm.st
      JOIN e50 ON n.st = e50.st
      JOIN e95 ON n.st = e95.st
      ORDER BY o_orderstatus""",
    "q_agg_kmv_intersect" -> """
      WITH du AS (
        SELECT DISTINCT 'd' || CAST(day(ts) AS VARCHAR) AS seg, user_id
        FROM events WHERE day(ts) <= 5),
      ranked AS (
        SELECT seg, md5(CAST(user_id AS VARCHAR)) AS h,
               row_number() OVER (PARTITION BY seg
                 ORDER BY md5(CAST(user_id AS VARCHAR)), user_id) AS rn
        FROM du),
      sk AS (SELECT seg, list(h ORDER BY h) AS hs
             FROM ranked WHERE rn <= 256 GROUP BY seg),
      sizes AS (SELECT seg, count(*) AS n FROM du GROUP BY 1),
      prs AS (
        SELECT a.seg AS seg_a, b.seg AS seg_b, a.hs AS ha, b.hs AS hb
        FROM sk a JOIN sk b ON a.seg < b.seg),
      est AS (
        SELECT seg_a, seg_b,
               len(list_filter(
                 list_sort(list_distinct(list_concat(ha, hb)))[1:256],
                 x -> list_contains(ha, x) AND list_contains(hb, x)))
                 AS shared,
               len(list_sort(list_distinct(list_concat(ha, hb)))[1:256])
                 AS usz
        FROM prs),
      com AS (
        SELECT x.seg AS seg_a, y.seg AS seg_b, count(*) AS n_common
        FROM du x JOIN du y ON x.user_id = y.user_id AND x.seg < y.seg
        GROUP BY 1, 2)
      SELECT e.seg_a, e.seg_b,
             round(CAST(e.shared AS DOUBLE) / e.usz, 4) AS j_est,
             round(CAST(coalesce(c.n_common, 0) AS DOUBLE) /
                   (sa.n + sb.n - coalesce(c.n_common, 0)), 4) AS j_exact,
             CAST(coalesce(c.n_common, 0) AS BIGINT) AS n_common
      FROM est e
      LEFT JOIN com c ON c.seg_a = e.seg_a AND c.seg_b = e.seg_b
      JOIN sizes sa ON sa.seg = e.seg_a
      JOIN sizes sb ON sb.seg = e.seg_b
      ORDER BY e.seg_a, e.seg_b""",
    "q_agg_pricing_summary" -> """
      WITH q AS (
        SELECT l_returnflag, l_linestatus,
               CAST(floor(l_quantity + 0.5) AS BIGINT) AS qi,
               CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT) AS pc,
               CAST(floor(l_discount * 100 + 0.5) AS BIGINT) AS dp,
               CAST(floor(l_tax * 100 + 0.5) AS BIGINT) AS tp
        FROM lineitem
        WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00')
      SELECT l_returnflag, l_linestatus,
             CAST(CAST(sum(qi) AS BIGINT) AS DOUBLE) AS sum_qty,
             CAST(CAST(sum(pc) AS BIGINT) AS DOUBLE) / 100.0
               AS sum_base_price,
             CAST(CAST(sum(pc * (100 - dp)) AS BIGINT) AS DOUBLE)
               / 10000.0 AS sum_disc_price,
             CAST(CAST(sum(pc * (100 - dp) * (100 + tp)) AS BIGINT)
               AS DOUBLE) / 1000000.0 AS sum_charge,
             floor(CAST(CAST(sum(qi) AS BIGINT) AS DOUBLE)
               / CAST(count(*) AS DOUBLE) * 10000 + 0.5) / 10000
               AS avg_qty,
             floor(CAST(CAST(sum(pc) AS BIGINT) AS DOUBLE) / 100.0
               / CAST(count(*) AS DOUBLE) * 10000 + 0.5) / 10000
               AS avg_price,
             floor(CAST(CAST(sum(dp) AS BIGINT) AS DOUBLE) / 100.0
               / CAST(count(*) AS DOUBLE) * 10000 + 0.5) / 10000
               AS avg_disc,
             count(*) AS count_order
      FROM q
      GROUP BY l_returnflag, l_linestatus
      ORDER BY l_returnflag, l_linestatus""",
    "q_agg_distinct" -> """
      SELECT o_orderstatus,
             count(DISTINCT o_custkey) AS n_custs,
             count(DISTINCT o_orderpriority) AS n_prios,
             count(*) AS n_orders
      FROM orders
      GROUP BY o_orderstatus
      ORDER BY o_orderstatus""",
    "q_agg_rollup" -> """
      SELECT coalesce(r_name, 'ALL') AS region,
             coalesce(n_name, 'ALL') AS nation,
             CAST(sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT))
               AS DOUBLE) / 100.0 AS revenue,
             count(*) AS n_orders
      FROM orders
      JOIN customer ON o_custkey = c_custkey
      JOIN nation ON c_nationkey = n_nationkey
      JOIN region ON n_regionkey = r_regionkey
      GROUP BY ROLLUP (r_name, n_name)
      ORDER BY region, nation""",
    "q_agg_cube" -> """
      SELECT coalesce(l_returnflag, 'ALL') AS returnflag,
             coalesce(l_linestatus, 'ALL') AS linestatus,
             round(sum(l_quantity), 4) AS sum_qty,
             count(*) AS n
      FROM lineitem
      GROUP BY CUBE (l_returnflag, l_linestatus)
      ORDER BY returnflag, linestatus""",
    "q_agg_grouping_sets" -> """
      SELECT coalesce(o_orderstatus, 'ALL') AS status,
             coalesce(o_orderpriority, 'ALL') AS priority,
             round(CAST(sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)) AS DOUBLE) / 100.0, 4) AS revenue,
             count(*) AS n
      FROM orders
      GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority),
                              (o_orderstatus, o_orderpriority), ())
      ORDER BY status, priority""",
    "q_agg_string_agg" -> """
      SELECT r_name,
             string_agg(n_name, ',' ORDER BY n_name) AS nations,
             count(*) AS n_nations
      FROM nation JOIN region ON n_regionkey = r_regionkey
      GROUP BY r_name
      ORDER BY r_name""",
    "q_recursive_spine" -> """
      WITH RECURSIVE months(m) AS (
        SELECT DATE '1998-01-01'
        UNION ALL
        SELECT CAST(m + INTERVAL 1 MONTH AS DATE) FROM months
        WHERE m < DATE '1998-12-01'),
      agg AS (
        SELECT CAST(date_trunc('month', o_orderdate) AS DATE) AS m,
               count(o_orderkey) AS n_orders,
               sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)) AS cents
        FROM orders GROUP BY 1)
      SELECT strftime(m, '%Y-%m') AS month,
             CAST(coalesce(n_orders, 0) AS BIGINT) AS n_orders,
             CAST(coalesce(cents, 0) AS BIGINT) AS cents
      FROM months LEFT JOIN agg USING (m)
      ORDER BY month""",
    "q_agg_linreg" -> """
      SELECT l_returnflag,
             CAST(regr_count(l_extendedprice, l_quantity) AS BIGINT) AS n,
             round(regr_slope(l_extendedprice, l_quantity), 4) AS slope,
             round(regr_intercept(l_extendedprice, l_quantity), 4)
               AS intercept,
             round(regr_r2(l_extendedprice, l_quantity), 4) AS r2,
             round(corr(l_quantity, l_extendedprice), 4) AS corr_qp,
             round(covar_samp(l_quantity, l_extendedprice), 4) AS covar_qp
      FROM lineitem
      GROUP BY l_returnflag
      ORDER BY l_returnflag""",
    "q_agg_stats" -> """
      SELECT o_orderstatus,
             round(stddev_samp(o_totalprice), 4) AS sd_price,
             round(var_samp(o_totalprice), 4) AS var_price,
             round(quantile_cont(o_totalprice, 0.5), 4) AS median_price,
             round(min(o_totalprice), 4) AS min_price,
             round(max(o_totalprice), 4) AS max_price
      FROM orders
      GROUP BY o_orderstatus
      ORDER BY o_orderstatus""",
  )
}
