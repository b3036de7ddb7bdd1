package graft.api

import graft.functions.{CentroidAgg, GraftFunctions}
import org.apache.spark.sql.{Column, DataFrame, Observation, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, IntegerType, LongType, StructField, StructType}

/** The engine's user-facing, table-agnostic API: every operator takes
  * and returns a `DataFrame`, parameterized by `Column`s, so it runs on
  * any schema — the `graft.operators.*` query modules are thin
  * adapters binding these to the driver testdata for the oracle gate.
  *
  * All transforms are pure logical-plan builders: no actions, no
  * collect, no driver-side loops — Catalyst sees the whole pipeline
  * and AQE re-plans shuffles at runtime, on any cluster size.
  *
  * {{{
  * import graft.api.ops._
  * docs.dedupExact($"doc_id", $"text")
  * docs.minhashDedupFlags($"doc_id", array_distinct(split($"text", " ")))
  * vecs.cosineTopK($"vec_id", $"embedding", queryVec, k = 10)
  * }}}
  */
object ops {

  /** Sequential left-fold dot product over two double arrays — fixed
    * evaluation order so results are bit-stable across engines. Backed
    * by the native codegen'd `dot_arrays` expression (bit-identical to
    * the `aggregate(zip_with(...))` fold it replaced, but a tight
    * primitive loop inside WholeStageCodegen instead of interpreted
    * per-element lambdas + an intermediate array per row).
    */
  def dotd(a: Column, b: Column): Column =
    GraftFunctions.dot_arrays(a, b)

  /** Cosine similarity of two double-array columns — native one-pass
    * expression (dot and both norms in a single loop).
    */
  def cosineSim(a: Column, b: Column): Column =
    GraftFunctions.cosine_sim(a, b)

  /** Dynamic-time-warping distance between two BIGINT-array series
    * with L1 cell cost — exact integer DP, expressed as an
    * anti-diagonal wavefront fold so plain higher-order functions can
    * run it (the row-major recurrence is sequential in both indices;
    * cells of diagonal d = i+j depend only on diagonals d−1/d−2, so
    * each new diagonal is a pure `transform` and the whole DP is one
    * `aggregate` over d = 1..n+m carrying two diagonal arrays). Cost
    * O(n·m) per row with O(min(n,m)) state. `n`/`m` must be the exact
    * lengths of `a`/`b`. Out-of-range lookups resolve to +INF via an
    * explicit bounds guard (ANSI element_at throws on index 0).
    *
    * Empty-vs-empty (n+m = 0) short-circuits to 0 BEFORE the fold:
    * `sequence(1, 0)` infers step −1 and yields [1, 0] rather than an
    * empty array, so the unguarded fold would run two bogus diagonals
    * and return +INF for the one input whose DTW distance is exactly
    * 0. (Empty-vs-NONempty still resolves to +INF through the fold —
    * no alignment exists — which is the intended semantics.)
    */
  def dtwCost(a: Column, b: Column, n: Column, m: Column): Column = {
    val inf = lit(1000000000000L)
    def at(arr: Column, idx: Column): Column =
      when(idx >= 1 && idx <= size(arr),
        element_at(arr, idx.cast("int"))).otherwise(inf)
    when((n + m) < 1, lit(0L)).otherwise(aggregate(
      sequence(lit(1L), (n + m).cast("long")),
      struct(array().cast("array<bigint>").as("p2"),
        array(lit(0L)).as("p1")),
      (st, d) => {
        val lo = greatest(lit(0L), d - m)
        val hi = least(n.cast("long"), d)
        val lo1 = greatest(lit(0L), d - 1 - m)
        val lo2 = greatest(lit(0L), d - 2 - m)
        val nd = transform(sequence(lo, hi), i => {
          val j = d - i
          when(i === 0 && j === 0, lit(0L))
            .when(i === 0 || j === 0, inf)
            .otherwise(
              abs(element_at(a, i.cast("int"))
                - element_at(b, j.cast("int"))) +
              least(
                at(st.getField("p1"), i - lo1),
                at(st.getField("p1"), i - lo1 + 1),
                at(st.getField("p2"), i - 1 - lo2 + 1)))
        })
        struct(st.getField("p1").as("p2"), nd.as("p1"))
      },
      st => element_at(st.getField("p1"), 1)))
  }

  /** Deterministic hyperplane matrix for sign-LSH: `numPlanes` rows of
    * `dim` coordinates from a seeded PRNG. Bucket count = 2^numPlanes,
    * so size numPlanes ≈ log2(n / targetBucketSize) and GROW it with
    * the corpus — a constant plane count makes every bucket's
    * population (and the within-bucket quadratic join) grow linearly
    * with n. Planes are generated sequentially, so `lshPlanes(k)` is a
    * prefix of `lshPlanes(k + m)` for the same seed: buckets at more
    * planes strictly refine buckets at fewer (multi-probe/recall
    * tuning can therefore drop suffix planes without rehashing).
    */
  def lshPlanes(numPlanes: Int, dim: Int, seed: Long = 42L): Seq[Seq[Double]] = {
    val rnd = new scala.util.Random(seed)
    Seq.fill(numPlanes)(Seq.fill(dim)(rnd.nextDouble() - 0.5))
  }

  /** Deterministic ±1/√k sign matrix for
    * [[GraftDataFrameOps.randomProject]]: `k` rows of `dim` entries
    * from a seeded PRNG. The same call generates the DuckDB oracle's
    * literal (see [[rprojectSignsSql]]), so the two sides can't
    * drift. With √k a power of two every entry is an exact binary
    * fraction — ±0.25 at k = 16 — keeping the projection arithmetic
    * bit-identical across engines.
    */
  def rprojectSigns(k: Int, dim: Int, seed: Long = 7L): Seq[Seq[Double]] = {
    val rnd = new scala.util.Random(seed)
    val scale = 1.0 / math.sqrt(k.toDouble)
    Seq.fill(k)(Seq.fill(dim)(if (rnd.nextBoolean()) scale else -scale))
  }

  /** The matrix of [[rprojectSigns]] as a DuckDB DOUBLE[][] literal. */
  def rprojectSignsSql(k: Int, dim: Int, seed: Long = 7L): String =
    rprojectSigns(k, dim, seed)
      .map(_.mkString("[", ", ", "]")).mkString("[", ",\n        ", "]")

  /** The matrix of [[lshPlanes]] as a DuckDB DOUBLE[][] literal —
    * the same Scala call generates both the Spark plan's typedLit and
    * the oracle's literal, so the two sides can't drift (the
    * rprojectSignsSql discipline). Scala's Double.toString is the
    * shortest round-trip decimal, so DuckDB parses back the identical
    * IEEE double.
    */
  def lshPlanesSql(numPlanes: Int, dim: Int, seed: Long = 42L): String =
    lshPlanes(numPlanes, dim, seed)
      .map(_.mkString("[", ", ", "]")).mkString("[", ",\n        ", "]")

  /** Inverse standard-normal CDF — Acklam's rational approximation
    * (public-domain algorithm, |relative ε| < 1.15e-9). Used at PLAN
    * BUILD time only: q_stats_bh_fdr turns its BH p-space thresholds
    * α·i/m into z²-space LITERALS through this, so no transcendental
    * function (whose libm rounding differs between the JVM and
    * DuckDB) is ever evaluated in the data path — the
    * lshPlanes/rprojectSigns plan-literal discipline applied to
    * statistics.
    */
  def invPhi(p: Double): Double = {
    require(p > 0.0 && p < 1.0, s"invPhi domain is (0,1), got $p")
    val a = Array(-3.969683028665376e+01, 2.209460984245205e+02,
      -2.759285104469687e+02, 1.383577518672690e+02,
      -3.066479806614716e+01, 2.506628277459239e+00)
    val b = Array(-5.447609879822406e+01, 1.615858368580409e+02,
      -1.556989798598866e+02, 6.680131188771972e+01,
      -1.328068155288572e+01)
    val c = Array(-7.784894002430293e-03, -3.223964580411365e-01,
      -2.400758277161838e+00, -2.549732539343734e+00,
      4.374664141464968e+00, 2.938163982698783e+00)
    val d = Array(7.784695709041462e-03, 3.224671290700398e-01,
      2.445134137142996e+00, 3.754408661907416e+00)
    val pl = 0.02425
    if (p < pl) {
      val q = math.sqrt(-2 * math.log(p))
      (((((c(0) * q + c(1)) * q + c(2)) * q + c(3)) * q + c(4)) * q + c(5)) /
        ((((d(0) * q + d(1)) * q + d(2)) * q + d(3)) * q + 1)
    } else if (p <= 1 - pl) {
      val q = p - 0.5
      val r = q * q
      (((((a(0) * r + a(1)) * r + a(2)) * r + a(3)) * r + a(4)) * r + a(5)) *
        q /
        (((((b(0) * r + b(1)) * r + b(2)) * r + b(3)) * r + b(4)) * r + 1)
    } else {
      val q = math.sqrt(-2 * math.log(1 - p))
      -(((((c(0) * q + c(1)) * q + c(2)) * q + c(3)) * q + c(4)) * q + c(5)) /
        ((((d(0) * q + d(1)) * q + d(2)) * q + d(3)) * q + 1)
    }
  }

  /** Benjamini–Hochberg threshold ladder in z²-space: entry i (1-based)
    * is invPhi(1 − α·i/(2m))² — the squared two-sided critical value a
    * rank-i test statistic must exceed for p_(i) ≤ α·i/m. Comparing
    * t² ≥ z²_(rank) is BH on the p-values without computing a single
    * p-value at query time.
    */
  def bhZsq(alpha: Double, m: Int): Seq[Double] =
    (1 to m).map { i =>
      val z = invPhi(1.0 - alpha * i / m / 2.0)
      z * z
    }

  /** The [[bhZsq]] ladder as a DuckDB DOUBLE[] literal (same
    * generating call as the Spark array literal, shortest-round-trip
    * Double.toString — the two sides can't drift).
    */
  def bhZsqSql(alpha: Double, m: Int): String =
    bhZsq(alpha, m).mkString("[", ", ", "]")

  /** NDCG position discounts 1/log2(i+1) for ranks 1..k, computed
    * once at plan build (log2 through libm differs across engines in
    * the last ulp — as literals both engines use bit-identical
    * doubles; the bhZsq discipline).
    */
  def ndcgWeights(k: Int): Seq[Double] =
    (1 to k).map(i => 1.0 / (math.log(i + 1.0) / math.log(2.0)))

  /** The [[ndcgWeights]] vector as a DuckDB DOUBLE[] literal. */
  def ndcgWeightsSql(k: Int): String =
    ndcgWeights(k).mkString("[", ", ", "]")

  /** Sign-prefix block id for embedding near-dup blocking: the sign
    * pattern of the first `bits` coordinates (near-identical vectors
    * share it). Bucket count = 2^bits — like [[lshPlanes]], `bits`
    * must grow with corpus size (≈ log2(n / targetBucketSize)) or the
    * within-block candidate join turns quadratic. Long-typed, so bits
    * up to 62 are valid. Requires vectors with at least `bits`
    * elements: `slice` truncates silently on shorter vectors, which
    * would collapse the bucket count to 2^dim and void the
    * prefix-refinement contract — so the expression itself enforces
    * it: a row whose vector is shorter than `bits` fails the query
    * loudly (`raise_error`) instead of mis-bucketing. A NULL vector is
    * NOT an error: it propagates to a NULL block id (standard SQL
    * null semantics), matching every other per-row function here.
    */
  def signPrefixBlock(vec: Column, bits: Int): Column = {
    require(bits >= 1 && bits <= 62, s"bits must be in [1, 62], got $bits")
    val block = aggregate(slice(vec, 1, bits), lit(0L),
      (acc, v) => acc * 2 + when(v > 0, lit(1L)).otherwise(lit(0L)))
    when(vec.isNull, lit(null).cast("long"))
      .when(size(vec) >= bits, block)
      .otherwise(raise_error(concat(
        lit(s"signPrefixBlock: vector shorter than $bits dims: size="),
        size(vec).cast("string"))).cast("long"))
  }

  /** Deterministic bucket in `[0, buckets)` from the md5 of `id` — the
    * content-stable hash shared by [[GraftDataFrameOps.withHashSplit]]
    * and sequence-packing sharding. md5-based on purpose: reproducible
    * in any engine (the DuckDB oracle re-derives it arithmetically),
    * unlike xxhash64/sha2 whose integer forms differ cross-engine.
    * Pure per-row projection.
    */
  def md5Bucket(id: Column, buckets: Int): Column = {
    require(buckets >= 1 && buckets <= 65536,
      s"buckets must be in [1, 65536] (16 bits of md5), got $buckets")
    conv(substring(md5(id.cast("string")), 1, 4), 16, 10)
      .cast("long") % buckets
  }

  /** Deterministic IVF coarse-quantizer anchors: `k` unit-normalized
    * pseudo-random `dim`-vectors from a seeded PRNG. The alternative
    * ANN index shape to sign-LSH ([[lshPlanes]]): anchors carve the
    * sphere into k Voronoi cells (by max cosine), each vector lives in
    * exactly ONE cell, and a query probes only the `nProbe` cells
    * whose anchors are most similar to it. Grow `k` with the corpus
    * (≈ n / targetCellSize) and `nProbe` for recall — the two knobs
    * are independent, like planes vs probes in multi-probe LSH.
    *
    * Seeded random anchors are the untrained baseline quantizer. For
    * a TRAINED one, run Lloyd iterations caller-side — assign with
    * [[GraftDataFrameOps.withIvfCell]], re-center with
    * [[GraftDataFrameOps.centroidPerKey]], feed the refined anchors
    * back in — so the index/search plans here stay pure (zero
    * driver-side actions in this API; training owns its own k×dim
    * collect, the same bounded driver state MLlib's KMeans keeps).
    */
  def ivfAnchors(k: Int, dim: Int, seed: Long = 7L): Seq[Seq[Double]] = {
    require(k >= 1, s"k must be >= 1, got $k")
    val rnd = new scala.util.Random(seed)
    Seq.fill(k) {
      val v = Seq.fill(dim)(rnd.nextGaussian())
      val n = math.sqrt(v.map(x => x * x).sum)
      v.map(_ / n)
    }
  }

  /** The matrix of [[ivfAnchors]] as a DuckDB DOUBLE[][] literal —
    * same generating call as the Spark typedLit (the lshPlanesSql
    * discipline), shortest-roundtrip decimals, so the replay parses
    * identical IEEE doubles.
    */
  def ivfAnchorsSql(k: Int, dim: Int, seed: Long = 7L): String =
    ivfAnchors(k, dim, seed)
      .map(_.mkString("[", ", ", "]")).mkString("[", ",\n        ", "]")

  /** Seeded random PQ codebooks (m subspaces × k unit codes × subdim)
    * — the untrained-baseline quantizer, exactly parallel to
    * [[ivfAnchors]]. Train per-subspace with the caller-side Lloyd
    * loop when distortion matters; the encode/search plans take the
    * codebooks as data either way.
    */
  def pqCodebooks(m: Int, k: Int, subdim: Int,
                  seed: Long = 7L): Seq[Seq[Seq[Double]]] = {
    require(m >= 1 && k >= 1 && subdim >= 1,
      s"m, k, subdim must be >= 1: $m, $k, $subdim")
    val rnd = new scala.util.Random(seed)
    Seq.fill(m)(Seq.fill(k) {
      val v = Seq.fill(subdim)(rnd.nextGaussian())
      val n = math.sqrt(v.map(x => x * x).sum)
      v.map(_ / n)
    })
  }

  /** Morton (Z-order) value of two non-negative int columns: the low
    * `bits` bits of `a` and `b` interleaved (a on even positions).
    * Sorting a table by z-value co-clusters BOTH dimensions, so
    * per-file min/max stats prune selective predicates on EITHER
    * column — the multi-dimensional data-skipping layout (Delta/
    * Iceberg `OPTIMIZE ZORDER BY`), where a plain sort only ever
    * skips on its leading key. Pure bit arithmetic (fold of
    * shift/and/or), codegen-friendly, reproducible in any engine.
    * Callers bucket wider domains down to `bits` first (range-rank or
    * modulo); 2·bits ≤ 62.
    */
  def zValue(a: Column, b: Column, bits: Int): Column = {
    require(bits >= 1 && bits <= 31, s"bits must be in [1, 31], got $bits")
    val (al, bl) = (a.cast("long"), b.cast("long"))
    (0 until bits).foldLeft(lit(0L)) { (acc, i) =>
      acc
        .bitwiseOR(shiftleft(shiftright(al, i).bitwiseAND(lit(1L)), 2 * i))
        .bitwiseOR(shiftleft(shiftright(bl, i).bitwiseAND(lit(1L)), 2 * i + 1))
    }
  }

  /** DuckDB-dialect SQL for [[zValue]] — the oracle twin is generated
    * from the same bit positions so the two can't drift.
    */
  def zValueSql(a: String, b: String, bits: Int): String =
    (0 until bits).map { i =>
      s"(((($a >> $i) & 1) << ${2 * i}) | ((($b >> $i) & 1) << ${2 * i + 1}))"
    }.mkString("(", " | ", ")")

  /** Lineage pin for iterative / multi-consumer frames. Durability
    * is the session's, never the caller's: with no checkpoint dir the
    * pin is `localCheckpoint()` — executor-memory-backed, fast, and the
    * right choice single-node, but NOT fault-tolerant (a lost executor
    * makes the pinned partitions unrecoverable and fails the job). On a
    * real cluster, where executor loss at 100 TB on 1000 executors is
    * routine, call `sc.setCheckpointDir(<HDFS / object store>)` and
    * every pin, in every query — this is the only pin path — becomes a
    * fault-tolerant `checkpoint()` under it: slower per round (a write
    * + read of the frame) but the pinned state survives executor loss.
    *
    * The pin preserves the materialized hash LAYOUT on the returned
    * scan (see [[org.apache.spark.sql.graft.PinBridge.pin]] — the
    * stock `Dataset.checkpoint` records `UnknownPartitioning` under
    * AQE, and a broken attribute mapping besides, so a spine carefully
    * `repartition(key)`-ed for its consumers came back unpartitioned
    * and EVERY downstream join/agg re-exchanged it; the r13 plan audit
    * found the pinned PageRank edge list re-shuffled on every one of
    * its joins). A pin that needs its layout claimable ends in
    * [[byKey]] — an explicit-count repartition AQE never coalesces
    * (coalesced hash buckets would falsify the claim, so PinBridge
    * refuses to record them). The returned frame is referenced like
    * any other, as often as a plan needs: relation dedup carries the
    * layout onto every re-aliased occurrence.
    */
  private[graft] def pinLineage(d: DataFrame): DataFrame =
    org.apache.spark.sql.graft.PinBridge.pin(d)

  /** Size-derived partition count for a frame (guide §2: derive
    * partitioning from input size, never a constant tuned for one
    * box): estimated bytes over the pin grain, clamped to
    * [1, spark.sql.shuffle.partitions]. The grain is the AQE advisory
    * partition size / 16 (4 MB by default): finer than the
    * I/O-oriented advisory because pinned frames feed CPU-heavy
    * multi-consumer operators (wedge expansion, iterative joins) that
    * want parallel reads of blocks far smaller than a scan split. A
    * tiny pinned frame (an iterative round's label table) gets 1-2
    * partitions instead of paying shuffle-partition-count task
    * launches per consumer stage; a big one saturates the session's
    * configured parallelism, which itself scales with the cluster. A
    * stats-less frame estimates huge and lands on the cap — the safe
    * side.
    */
  private[graft] def sizeParts(d: DataFrame): Int = {
    val conf = d.sparkSession.conf
    val maxN = conf.get("spark.sql.shuffle.partitions").toInt
    val grain = org.apache.spark.network.util.JavaUtils.byteStringAsBytes(
      conf.get("spark.sql.adaptive.advisoryPartitionSizeInBytes",
        "64MB")) / 16
    val est = d.queryExecution.optimizedPlan.stats.sizeInBytes
    ((est / grain.max(1L)) + 1).min(BigInt(maxN)).max(BigInt(1)).toInt
  }

  /** Hash layout for a frame about to be pinned: repartition on `keys`
    * with an EXPLICIT, [[sizeParts]]-derived partition count — AQE
    * coalesces a count-less `repartition(cols)` (REPARTITION_BY_COL),
    * after which the blocks are no longer a true HashPartitioning and
    * the pin cannot claim them; an explicit count (REPARTITION_BY_NUM)
    * is never coalesced, while AQE stays live for everything else in
    * the build.
    */
  private[graft] def byKey(d: DataFrame, keys: Column*): DataFrame =
    d.repartition(sizeParts(d), keys: _*)

  /** The session's `spark.sql.autoBroadcastJoinThreshold` in bytes;
    * None ("never") when broadcasting is off (`-1` does not parse as a
    * byte string) or the setting is not a positive size. */
  private[graft] def broadcastBytes(spark: SparkSession): Option[Long] =
    try Some(org.apache.spark.network.util.JavaUtils.byteStringAsBytes(
        spark.conf.get("spark.sql.autoBroadcastJoinThreshold", "10MB")))
      .filter(_ > 0)
    catch { case _: NumberFormatException => None }

  /** True when the pinned frame `pin`'s true bytes (the pin carries
    * them, see `PinBridge.pin`) are within [[broadcastBytes]]: the
    * frame is one the planner would ship whole to every task. */
  private[graft] def withinBroadcast(pin: DataFrame): Boolean =
    broadcastBytes(pin.sparkSession)
      .exists(pin.queryExecution.optimizedPlan.stats.sizeInBytes <= _)

  /** Pins `d` and returns the named aggregates `metrics` over its rows,
    * computed by the pin job itself (`Dataset.observe`): a convergence
    * probe that runs no job of its own. */
  private[graft] def pinObserved(d: DataFrame, metrics: Column*)
      : (DataFrame, Map[String, Any]) = {
    val probe = Observation()
    val pin = pinLineage(d.observe(probe, metrics.head, metrics.tail: _*))
    (pin, probe.get)
  }

  /** Release a pinned frame's materialized blocks — see
    * [[org.apache.spark.sql.graft.PinBridge.release]]. Only for pins
    * provably never read again (a loop's round N−1 state once round N
    * is materialized; a staged pin once its keyed re-layout is
    * pinned): localCheckpoint truncates lineage, so a released pin
    * cannot be recomputed. Pins alive at the end of a query are freed
    * when its fork closes (`GraftSession.runQuery`).
    */
  private[graft] def releasePin(d: DataFrame): Unit =
    org.apache.spark.sql.graft.PinBridge.release(d)

  /** Layout-claiming pin for a frame read by several consumer
    * sites. When the optimizer's size estimate is CREDIBLE
    * (no join in the plan — scans and row-preserving ops estimate
    * sanely), the layout decision is made up front and the frame is
    * materialized exactly ONCE: laid out by `keys` when big enough
    * that per-consumer re-exchanges cost more than the layout pass
    * (its size-derived partition count exceeds HALF the session
    * parallelism), pinned as-built otherwise. A frame derived from a
    * join estimates garbage (a stats-less join multiplies its inputs),
    * so it stages first: materialize with AQE fully free (cheap —
    * coalesced stages), read the TRUE size from the block manager,
    * then re-lay-out + re-pin only when warranted — and the staged
    * pin's blocks are RELEASED the moment the keyed pin exists, so the
    * two-pass form never doubles storage. The small/large trade flips
    * automatically as the data (or the configured parallelism's grain)
    * grows — no constant tuned to one box.
    */
  private[graft] def pinKeyed(d: DataFrame, keys: Column*): DataFrame = {
    val maxN = d.sparkSession.conf.get("spark.sql.shuffle.partitions").toInt
    val joinFree = !d.queryExecution.optimizedPlan.exists {
      case _: org.apache.spark.sql.catalyst.plans.logical.Join => true
      case _ => false
    }
    if (joinFree) {
      val n = sizeParts(d)
      if (n * 2 <= maxN) pinLineage(d)
      else pinLineage(d.repartition(n, keys: _*))
    } else {
      val staged = pinLineage(d)
      val n = sizeParts(staged)
      if (n * 2 <= maxN) staged
      else {
        val keyed = pinLineage(staged.repartition(n, keys: _*))
        releasePin(staged)
        keyed
      }
    }
  }

  /** The token n-grams of `tokens`, in order, as space-joined strings
    * (gram i covers tokens i+1 … i+n); an empty array for a document
    * shorter than n. The one gram builder of the n-gram operators
    * ([[GraftDataFrameOps.dupNgramStats]], [[GraftDataFrameOps.dupSpans]],
    * [[GraftDataFrameOps.ngramDecontaminate]], TextAnalysis' novelty
    * and split-coverage queries). Three rules, measured at sf0.1 on
    * dupNgramStats, shape how callers use it:
    * (1) `tokens` is an attribute projected BEHIND the Generate
    * barrier — higher-order-function lambdas are CodegenFallback with
    * no subexpression elimination, so passing a `split(...)`
    * expression re-tokenizes the document n times per gram (6× on
    * that stage alone);
    * (2) the lambda does only cheap element_at reads + one concat (n
    * unrolled at plan time) — the md5 digest runs AFTER the explode as
    * a top-level codegen'd projection, so only digests shuffle;
    * (3) the exploded instance table feeds two consumers, so it is
    * lineage-pinned — (id, digest) pairs, the standard
    * materialization point of suffix-style dedup — rather than
    * recomputed per consumer. Net: ~9× end-to-end vs the naive plan.
    * At corpus scale the pinned instance table is n-grams × 32 B —
    * large enough that a real cluster sets a checkpoint dir, so the
    * pin is a fault-tolerant checkpoint() (see [[pinLineage]]).
    */
  private[graft] def ngrams(tokens: Column, n: Int): Column =
    when(size(tokens) >= n,
      transform(sequence(lit(0), size(tokens) - n),
        i => concat_ws(" ",
          (0 until n).map(j =>
            element_at(tokens, (i + lit(j + 1)).cast("int"))): _*)))
      .otherwise(array().cast("array<string>"))

  /** One BPE round's winning pair over a (syms, freq) word dict:
    * adjacent-symbol pair counts weighted by freq — a pure projection +
    * explode + tiny agg — and the argmax by (count DESC, p1, p2), a
    * deterministic tie-break, taken with limit(1). Output: one row
    * (p1, p2, pair_count).
    */
  private[graft] def bpeTopPair(dict: DataFrame): DataFrame = {
    val idx = when(size(col("syms")) >= 2,
      sequence(lit(1), size(col("syms")) - 1))
      .otherwise(array().cast("array<int>"))
    dict
      .select(col("freq"), explode(transform(idx, i =>
        struct(element_at(col("syms"), i).as("p1"),
          element_at(col("syms"), i + 1).as("p2")))).as("pr"))
      .groupBy(col("pr.p1").as("p1"), col("pr.p2").as("p2"))
      .agg(sum("freq").as("pair_count"))
      .orderBy(col("pair_count").desc, col("p1"), col("p2"))
      .limit(1)
  }

  /** `dict` with the [[bpeTopPair]] winner `top` merged into every
    * word's `syms`, its other columns passed through in place: a 1-row
    * BROADCAST cross join carries the winner into a left-fold
    * `aggregate` that replays the greedy left-to-right non-overlapping
    * merge. The fold IS the greedy merge: walking symbols left to
    * right, a (p1, p2) adjacency collapses to p1||p2 and the merged
    * symbol is never itself re-matched as p1 within the round (run
    * "aaa" with pair (a,a) → [aa, a], the canonical non-overlap rule)
    * — fuzzed against an imperative reference in PropertySpec.
    */
  private[graft] def bpeMerge(dict: DataFrame, top: DataFrame): DataFrame = {
    val merged = aggregate(col("syms"), array().cast("array<string>"),
      (acc, x) => when(
        try_element_at(acc, lit(-1)) === col("_p1") && x === col("_p2"),
        concat(slice(acc, lit(1), size(acc) - 1),
          array(concat(col("_p1"), col("_p2")))))
        .otherwise(concat(acc, array(x))))
    dict.crossJoin(broadcast(top.select(col("p1").as("_p1"),
        col("p2").as("_p2"))))
      .select(dict.columns.toSeq.map(c =>
        if (c == "syms") merged.as("syms") else col(c)): _*)
  }

  /** The inverted-index overlap join of [[GraftDataFrameOps.jaccardPairs]]
    * and [[GraftDataFrameOps.containmentPairs]] — the core of a
    * set-similarity join: from a (blk, did, tok) token table and the
    * per-doc sizes (did, sz), every pair d1 < d2 sharing at least one
    * token within a block, with its overlap count. Tokens shuffle once
    * on (blk, tok); each posting list self-joins, so zero-overlap pairs
    * never materialize, and one hash agg counts each unordered pair's
    * overlap once. Output columns: d1, d2, common, sz1, sz2.
    */
  private[graft] def tokenOverlap(tok: DataFrame, sizes: DataFrame)
      : DataFrame = {
    val a = tok.select(col("blk"), col("tok"), col("did").as("d1"))
    val b = tok.select(col("blk").as("blk_b"), col("tok").as("tok_b"),
      col("did").as("d2"))
    a.join(b, a("blk") === b("blk_b") &&
        a("tok") === b("tok_b") && a("d1") < b("d2"))
      .groupBy("d1", "d2").agg(count(lit(1)).as("common"))
      .join(sizes.select(col("did").as("d1"), col("sz").as("sz1")), "d1")
      .join(sizes.select(col("did").as("d2"), col("sz").as("sz2")), "d2")
  }

  /** Symmetric adjacency of an undirected `(s, t)` edge list — the one
    * edge build [[GraftDataFrameOps.kCore]], [[GraftDataFrameOps.bfsHops]],
    * [[GraftDataFrameOps.pageRank]] and
    * [[GraftDataFrameOps.labelPropagation]] iterate over: the half list
    * plus its reverse, distinct, keyed on `s` and pinned ([[pinKeyed]]).
    * The union runs BEFORE the distinct, so duplicate input pairs (a
    * lazy fact-join half) collapse map-side in the same exchange that
    * dedups the reversed copies.
    */
  private[graft] def symAdjacency(half: DataFrame): DataFrame =
    pinKeyed(half
      .unionByName(half.select(col("t").as("s"), col("s").as("t")))
      .distinct(),
      col("s"))

  /** Seeded walks over the undirected graph of the half edge list
    * `half` (`s`, `t`): the `seeds` positive node ids, first by (md5
    * of the id as a string, id), each walk `steps` steps; at step k a
    * walker on node u moves to the neighbour v with the smallest
    * (md5("k:u:v"), v) — a content-derived coin both engines replay
    * exactly. Output: (seed, step, node), step 0 on the seed itself.
    *
    * Scale: the adjacency ([[symAdjacency]]) is built and pinned once.
    * When it fits one task ([[GraphKernels.fits]]), the walks run there
    * in memory (`GraphKernels.walks`). Otherwise each step is one join
    * of the seed-count-sized frontier (broadcast side) against it, and
    * the per-seed argmin is min(struct(hash, dst)) — a partial-agg'd
    * aggregate (map-side combine), NOT a window sort.
    */
  private[graft] def randomWalks(half: DataFrame, seeds: Int, steps: Int)
      : DataFrame = {
    val edges = symAdjacency(half)
    val s = edges.schema("s")
    if (GraphKernels.fits(edges))
      GraphKernels.finish(edges, StructType(Seq(
        StructField("seed", s.dataType, s.nullable),
        StructField("step", IntegerType, nullable = false),
        StructField("node", s.dataType))))(GraphKernels.walks(seeds, steps))
    else walkSteps(edges.select(col("s").as("src"), col("t").as("dst")),
      seeds, steps)
  }

  private def walkSteps(adj: DataFrame, seeds: Int, steps: Int): DataFrame = {
    // seeds derive from the checkpointed adjacency (src > 0 ⇔
    // customer side) — no second fact join for the seed list
    val start = adj.filter(col("src") > 0).select(col("src").as("cu"))
      .distinct()
      .orderBy(md5(col("cu").cast("string")), col("cu"))
      .limit(seeds)
      .select(col("cu").as("seed"), col("cu").as("node"))
    var frontier = start
    var walk = start.withColumn("step", lit(0))
    for (s <- 1 to steps) {
      val h = md5(concat_ws(":", lit(s), col("src"), col("dst")))
      val nxt = frontier
        .join(adj, frontier("node") === adj("src"))
        .groupBy(col("seed"))
        .agg(min(struct(h.as("h"), col("dst").as("d"))).as("pick"))
        .select(col("seed"), col("pick.d").as("node"))
      walk = walk.unionByName(nxt.withColumn("step", lit(s)))
      frontier = nxt
    }
    walk.select(col("seed"), col("step"), col("node"))
  }

  /** Shared core of [[GraftDataFrameOps.triangleCount]] and the
    * scored `q_graph_triangles` (whose edge build pre-filters colors
    * inside its expansion lambda): degree-oriented wedge closure over
    * a canonical (s1 < s2) pair list, `multiplier` scaling the
    * sampled count back to the full-graph estimate (1 = exact).
    * Dedupes, pins (the edge list feeds degree, orientation, and all
    * three count branches), and — when the pin's true bytes are
    * within the broadcast bound ([[withinBroadcast]]) — broadcasts the
    * edge-bytes side of the degree joins and the wedge/closure probes.
    * The hint is needed because each hinted side is DERIVED from the
    * pin, so the planner's own estimate of it is no true size. Past
    * that bound the wedge join shuffles by apex `u` and the closure
    * join by `(v1, v2)` — the same algebra, shuffle-planned.
    */
  private[graft] def triangleCore(rawPairs: DataFrame,
                                  multiplier: Long): DataFrame = {
    val pairs = pinLineage(rawPairs.distinct())
    val hint: DataFrame => DataFrame =
      if (withinBroadcast(pairs)) broadcast(_) else identity
    val deg = pairs.select(col("s1").as("s"))
      .unionAll(pairs.select(col("s2").as("s")))
      .groupBy("s").agg(count(lit(1)).as("d"))
    val withDeg = pairs
      .join(hint(deg.select(col("s").as("s1"), col("d").as("d1"))), "s1")
      .join(hint(deg.select(col("s").as("s2"), col("d").as("d2"))), "s2")
    val fwd = struct(col("d1"), col("s1")) < struct(col("d2"), col("s2"))
    val o = withDeg.select(
      when(fwd, col("s1")).otherwise(col("s2")).as("u"),
      when(fwd, col("s2")).otherwise(col("s1")).as("v"),
      when(fwd, col("d2")).otherwise(col("d1")).as("dv"))
    val e1 = o.select(col("u"), col("v").as("v1"), col("dv").as("dv1"))
    val e2 = o.select(col("u").as("u2"), col("v").as("v2"),
      col("dv").as("dv2"))
    val wedges = e1.join(hint(e2), col("u") === col("u2") &&
        struct(col("dv1"), col("v1")) < struct(col("dv2"), col("v2")))
      .select(col("v1"), col("v2"))
    val closed = wedges.join(
      hint(o.select(col("u").as("v1"), col("v").as("v2"))),
      Seq("v1", "v2"))
    deg.agg(count(lit(1)).as("n_nodes"))
      .crossJoin(pairs.agg(count(lit(1)).as("n_edges")))
      .crossJoin(closed.agg(count(lit(1)).as("n_triangles"),
        (count(lit(1)) * multiplier).as("est_total")))
  }

  implicit class GraftDataFrameOps(private val df: DataFrame) {

    /** Extension form of [[byKey]]: explicit-count hash layout for a
      * frame about to be pinned (AQE never coalesces it, so the pin
      * can claim the layout).
      */
    def keyedBy(keys: Column*): DataFrame = byKey(df, keys: _*)

    // ───────────────────────── dedup ─────────────────────────

    /** Exact-duplicate groups by content hash. One hash-shuffle; the
      * 32-byte sha2 shuffles, the content never does. Output:
      * (doc_id = min id per group, n_dups).
      */
    def dedupExact(id: Column, content: Column): DataFrame =
      df.groupBy(sha2(content, 256).as("content_hash"))
        .agg(min(id).as("doc_id"), count(lit(1)).as("n_dups"))
        .select(col("doc_id"), col("n_dups"))

    /** Exact Jaccard-similar pairs over a token-set column, restricted
      * to equal values of `block`, via an inverted-index token join —
      * every stage a codegen'd hash join/agg; zero-overlap pairs are
      * never materialized. Output: (d1, d2, jaccard) with d1 < d2.
      *
      * `maxDf` is the stopword-skew guard: a token present in n docs of
      * a block emits O(n²) candidate rows, so one ultra-common token
      * makes one reducer quadratic at corpus scale. Tokens with
      * per-block document frequency > maxDf are dropped from the
      * inverted index (one window count on the same (blk, tok) key the
      * pair join shuffles on). Pairs sharing ONLY cut tokens stop being
      * candidates and `common` counts kept tokens only, so the computed
      * jaccard is a lower bound while the cut is active; set maxDf
      * above the corpus max df for exact results.
      *
      * `withCutCounts = true` appends `n_cut_tokens` = how many of the
      * pair's tokens the df-cut removed (d1's + d2's): 0 means the
      * pair's jaccard is EXACT, > 0 means lower-bound-only — so a
      * consumer can tell the two apart instead of trusting convention.
      * Default off, so the 3-column output (and its oracle) is
      * unchanged.
      */
    def jaccardPairs(id: Column, tokset: Column, block: Column,
                     threshold: Double,
                     maxDf: Int = Int.MaxValue,
                     withCutCounts: Boolean = false): DataFrame = {
      val base = df.select(block.as("blk"), id.as("did"), tokset.as("ts"))
      val sizes = base.select(col("did"), size(col("ts")).as("sz"))
      val tokAll = base.select(col("blk"), col("did"),
        explode(col("ts")).as("tok"))
      // df counts come from a partial-agg'd groupBy joined back, not a
      // count-over-window: the window form sorted the ENTIRE exploded
      // token stream by (blk, tok) — and because the frame feeds both
      // wedge-join sides, that sort ran twice per query. The count
      // table is (distinct tokens per block)-sized, so the join back is
      // a broadcast at sane vocabularies and a plain hash join beyond.
      val flagged =
        if (maxDf == Int.MaxValue) tokAll.withColumn("_cut", lit(false))
        else {
          val dfc = tokAll.groupBy("blk", "tok")
            .agg(count(lit(1)).as("_df"))
          tokAll.join(dfc, Seq("blk", "tok"))
            .withColumn("_cut", col("_df") > maxDf).drop("_df")
        }
      val tok = flagged.filter(!col("_cut")).drop("_cut")
      val pairs = tokenOverlap(tok, sizes)
        .select(col("d1"), col("d2"),
          round(col("common").cast("double") /
            (col("sz1") + col("sz2") - col("common")), 4).as("jaccard"))
        .filter(col("jaccard") >= threshold)
      if (!withCutCounts) pairs
      else {
        // Per-doc count of df-cut tokens (0 for most docs; tiny frame,
        // broadcast-joined twice onto the surviving pairs only).
        val cutPerDoc = flagged.filter(col("_cut"))
          .groupBy("did").agg(count(lit(1)).as("n_cut"))
        pairs
          .join(broadcast(cutPerDoc.select(col("did").as("d1"),
            col("n_cut").as("_c1"))), Seq("d1"), "left")
          .join(broadcast(cutPerDoc.select(col("did").as("d2"),
            col("n_cut").as("_c2"))), Seq("d2"), "left")
          .select(col("d1"), col("d2"), col("jaccard"),
            (coalesce(col("_c1"), lit(0L)) + coalesce(col("_c2"), lit(0L)))
              .as("n_cut_tokens"))
      }
    }

    /** Vocabulary-encode documents to token ids — the tokenizer-
      * adjacent preprocessing step between text cleaning and training:
      * build a frequency-ranked vocab (id = dense rank by count desc,
      * term asc; 1-based), map every token to its id (OOV → 0), and
      * emit per-doc stats plus the first `preview` ids in POSITION
      * order. Output: (doc_id, n_tokens, n_oov, ids — comma-joined
      * preview).
      *
      * Shape: tokens explode once and shuffle once (the per-doc
      * re-agg); the vocab is vocab-sized (not corpus-sized) and
      * broadcast into the id join, so encoding is a map-side probe.
      * The ranking window is a single partition over the VOCAB — that
      * is the knob-bounded frame (millions of terms, not billions of
      * tokens); position order is recovered with one array_sort of
      * (pos, id) structs per doc, never a second window over the
      * token stream.
      */
    def encodeTokenIds(id: Column, tokens: Column, vocabSize: Int,
                       preview: Int = 10): DataFrame = {
      require(vocabSize >= 1, s"vocabSize must be >= 1, got $vocabSize")
      val tok = df.select(id.as("doc_id"), posexplode(tokens)
        .as(Seq("pos", "term")))
      val vocab = tok.groupBy("term").agg(count(lit(1)).as("_cnt"))
        .withColumn("tid", row_number().over(
          Window.orderBy(col("_cnt").desc, col("term"))))
        .filter(col("tid") <= vocabSize)
        .select("term", "tid")
      tok.join(broadcast(vocab), Seq("term"), "left")
        .withColumn("tid", coalesce(col("tid"), lit(0)))
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_tokens"),
          sum(when(col("tid") === 0, 1L).otherwise(0L)).as("n_oov"),
          concat_ws(",", slice(transform(
            array_sort(collect_list(struct(col("pos"), col("tid")))),
            s => s.getField("tid").cast("string")), 1, preview))
            .as("ids"))
    }

    /** Source/domain-level quality gating — the CCNet/RefinedWeb move
      * of dropping whole DOMAINS, not documents: aggregate a per-row
      * quality signal to its stratum (source, domain, crawl host),
      * compare each stratum's mean against the doc-weighted corpus
      * mean, and emit the audit table (stratum, n_docs, mean_q,
      * kept). Per-doc filters miss systematically-bad origins whose
      * individual pages straddle the cut; the stratum gate removes
      * them wholesale (join `kept` back onto the corpus to apply it).
      *
      * Shape: ONE partial-agged shuffle over #strata keys carrying
      * (sum, count); the corpus mean derives from the same tiny
      * per-stratum table (re-agg + broadcast cross join), so the raw
      * rows are scanned exactly once at any scale. `kept` compares
      * the tie-proof-ROUNDED means so both engines gate on the same
      * 4dp value.
      */
    def stratumQualityGate(stratum: Column, quality: Column): DataFrame = {
      val per = df.select(stratum.as("stratum"), quality.as("_q"))
        .groupBy("stratum")
        .agg(count(lit(1)).as("n_docs"), sum(col("_q")).as("_sq"))
      val tot = per.agg(sum(col("_sq")).as("_tsq"),
        sum(col("n_docs")).as("_tn"))
      per.crossJoin(broadcast(tot))
        .select(col("stratum"), col("n_docs"),
          graft.Norm.r4tie(col("_sq") / col("n_docs")).as("mean_q"),
          (graft.Norm.r4tie(col("_sq") / col("n_docs")) >=
            graft.Norm.r4tie(col("_tsq") / col("_tn"))).as("kept"))
    }

    /** Fixed-size token chunking with overlap — the context-window
      * prep step for RAG indexing and long-doc training: split each
      * document's token stream into windows of `chunkSize` tokens
      * starting every `stride` tokens (stride < chunkSize ⇒
      * overlapping chunks; the tail chunk may be shorter). Output one
      * row per chunk: (doc_id, chunk_id, start, n_chunk, digest) —
      * the md5 digest stands in for the chunk text so downstream
      * joins/dedup move 32-byte hashes, not text (emit the slice
      * itself instead when the consumer needs content).
      *
      * Shape: pure per-row expansion — sequence + posexplode + slice
      * inside whole-stage codegen; NO shuffle, no window, no UDF. Row
      * growth is n/stride per doc, set by the caller's knobs; at
      * 100 TB the expansion streams through the scan stage and
      * whatever shuffle follows carries only the fixed-width chunk
      * rows.
      */
    /** BPE merge-rule learning (Sennrich, Haddow & Birch 2016, the
      * subword-tokenizer training step): learn `numMerges` merge
      * rules from the corpus, returning the merge table
      * (merge_round, p1, p2, merged, pair_count) in learned order.
      *
      * Trains on the WORD-FREQUENCY dictionary, like every production
      * BPE trainer: the only corpus-scale work is one explode +
      * hash-agg building (word, freq) — partial-agged before its
      * shuffle — after which all rounds run on the vocab-sized dict
      * (Heaps' law: ~√N types for N tokens, so 100 TB of text trains
      * on a dict that fits one executor's shuffle partition). Each
      * round is the freq-weighted argmax pair ([[ops.bpeTopPair]])
      * merged into every word by the greedy left-to-right fold
      * ([[ops.bpeMerge]]). No collect, no driver state: the k-round
      * loop only stacks plan nodes, so Catalyst sees one DAG and the
      * winner never leaves the cluster.
      *
      * The dict is lineage-pinned per round (each round's plan embeds
      * the previous dict twice — once in the pair agg, once under the
      * winner's cross join — so an unpinned loop doubles the plan per
      * round and re-derives the dict 2^k times); durability as in
      * [[graft.api.ops.pinLineage]].
      */
    def bpeMergeTable(tokens: Column, numMerges: Int): DataFrame = {
      require(numMerges >= 1 && numMerges <= 64,
        s"numMerges must be in [1, 64], got $numMerges")
      var dict = pinLineage(df
        .select(explode(tokens).as("word"))
        .filter(col("word").isNotNull && col("word") =!= "")
        .groupBy("word").agg(count(lit(1)).as("freq"))
        // split(s, "") keeps a trailing empty token (Java split with
        // limit -1); filter it so symbols are exactly the characters.
        .select(filter(split(col("word"), ""), s => s =!= "").as("syms"),
          col("freq")))
      var merges: DataFrame = null
      for (r <- 1 to numMerges) {
        val top = bpeTopPair(dict)
        val round = top.select(lit(r).as("merge_round"), col("p1"),
          col("p2"), concat(col("p1"), col("p2")).as("merged"),
          col("pair_count"))
        merges = if (merges == null) round else merges.unionAll(round)
        if (r < numMerges) dict = pinLineage(bpeMerge(dict, top))
      }
      merges.orderBy("merge_round")
    }

    /** APPLY learned BPE merges — the encode side completing
      * [[bpeMergeTable]]'s train side: learn `numMerges` greedy rules
      * over the word-frequency dict, apply EVERY rule to every word
      * (the train path skips applying the last one — it only needs
      * the rule list), and emit per-`id` tokenization stats:
      * word/char/token counts and the chars-per-token compression
      * ratio — the fertility audit a tokenizer change ships with.
      *
      * Scale shape: merges learn and apply on the DICT (unique words,
      * vocabulary-bounded — never corpus rows); the final word →
      * token-count map broadcasts onto the exploded corpus for one
      * partial-agg'd per-doc rollup. Same pinned-lineage rounds as the
      * train side.
      */
    def bpeEncodeCounts(id: Column, tokens: Column, numMerges: Int)
        : DataFrame = {
      require(numMerges >= 1 && numMerges <= 64,
        s"numMerges must be in [1, 64], got $numMerges")
      val words = df.select(id.as("doc_id"), explode(tokens).as("word"))
        .filter(col("word").isNotNull && col("word") =!= "")
      var dict = pinLineage(words
        .groupBy("word").agg(count(lit(1)).as("freq"))
        .select(col("word"),
          filter(split(col("word"), ""), s => s =!= "").as("syms"),
          col("freq")))
      for (_ <- 1 to numMerges) {
        val next = pinLineage(bpeMerge(dict, bpeTopPair(dict)))
        // Unlike bpeMergeTable (whose lazy merge-row union still
        // references every round's dict), nothing here reads round
        // N−1's dict once round N is pinned — release it.
        releasePin(dict)
        dict = next
      }
      val enc = dict.select(col("word"), size(col("syms")).as("n_sym"))
      words.join(broadcast(enc), "word")
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_words"),
          sum(length(col("word")).cast("long")).as("n_chars"),
          sum(col("n_sym").cast("long")).as("n_tokens"))
    }

    def tokenChunks(id: Column, tokens: Column, chunkSize: Int,
                    stride: Int): DataFrame = {
      require(chunkSize >= 1, s"chunkSize must be >= 1, got $chunkSize")
      require(stride >= 1 && stride <= chunkSize,
        s"stride must be in [1, chunkSize], got $stride")
      df.select(id.as("doc_id"), tokens.as("_t"))
        .filter(size(col("_t")) >= 1)
        .select(col("doc_id"), col("_t"),
          posexplode(sequence(lit(0), size(col("_t")) - 1, lit(stride)))
            .as(Seq("chunk_id", "start")))
        .select(col("doc_id"), col("chunk_id"), col("start"),
          size(slice(col("_t"), col("start") + 1, lit(chunkSize)))
            .as("n_chunk"),
          md5(concat_ws(" ",
            slice(col("_t"), col("start") + 1, lit(chunkSize))))
            .as("digest"))
    }

    /** One-scan column profiling (the Deequ/dbt-style data-quality
      * gate a pipeline runs before training ingestion): per column —
      * row count, null count, exact distinct count, and min/max
      * (numeric columns as 4dp doubles; string columns
      * lexicographically, in separate columns so no double ever
      * stringifies — double→string formatting is engine-specific).
      * `cols` maps column name → isNumeric. Output: one row per
      * profiled column.
      *
      * Shape: ONE wide aggregate over a single scan (4·|cols| agg
      * expressions), pivoted to long form by a pure projection
      * (inline array-of-structs explode of the 1-row result). The
      * exact `countDistinct`s Expand the scan |cols|-fold pre-shuffle;
      * that is the oracle-checkable form — at 100 TB flip
      * `exact = false` and every distinct count becomes a mergeable
      * HLL sketch (`approx_count_distinct`), Expand-free, same output
      * schema. Min/max/count partial-aggregate either way.
      */
    def profileColumns(cols: Seq[(String, Boolean)],
                       exact: Boolean = true): DataFrame = {
      require(cols.nonEmpty, "profileColumns: no columns given")
      val aggs = cols.flatMap { case (c, isNum) =>
        val nd = if (exact) countDistinct(col(c))
                 else approx_count_distinct(col(c))
        Seq(
          count(lit(1)).as(s"__${c}_rows"),
          sum(when(col(c).isNull, 1L).otherwise(0L)).as(s"__${c}_nulls"),
          nd.as(s"__${c}_nd")) ++ (
          if (isNum) Seq(
            min(col(c)).cast("double").as(s"__${c}_minn"),
            max(col(c)).cast("double").as(s"__${c}_maxn"))
          else Seq(
            min(col(c).cast("string")).as(s"__${c}_mins"),
            max(col(c).cast("string")).as(s"__${c}_maxs")))
      }
      val one = df.agg(aggs.head, aggs.tail: _*)
      val entries = cols.map { case (c, isNum) =>
        struct(
          lit(c).as("col_name"),
          col(s"__${c}_rows").as("n_rows"),
          col(s"__${c}_nulls").as("n_nulls"),
          col(s"__${c}_nd").as("n_distinct"),
          (if (isNum) round(col(s"__${c}_minn"), 4)
           else lit(null).cast("double")).as("min_num"),
          (if (isNum) round(col(s"__${c}_maxn"), 4)
           else lit(null).cast("double")).as("max_num"),
          (if (isNum) lit(null).cast("string")
           else col(s"__${c}_mins")).as("min_str"),
          (if (isNum) lit(null).cast("string")
           else col(s"__${c}_maxs")).as("max_str"))
      }
      one.select(explode(array(entries: _*)).as("p")).select(col("p.*"))
    }

    /** Asymmetric containment pairs: C(A→B) = |tok(A) ∩ tok(B)| / |tok(A)|
      * — the sub-document duplication signal Jaccard misses. A short doc
      * quoted whole inside a long one has low Jaccard (the union is
      * large) but containment ≈ 1, so dedup recipes test both. Output:
      * (inner_id, outer_id, containment) for ordered pairs with
      * C(inner→outer) ≥ `threshold`, inner ≠ outer, within `block`.
      *
      * Shape: same inverted-index token join as [[jaccardPairs]]
      * (tokens shuffle once, pair overlap counts come from one
      * hash-agg over d1<d2 candidates — symmetric, so each unordered
      * pair is counted ONCE), then both directed containments are
      * derived from that single overlap row and filtered — direction
      * costs a projection, not a second join. Tie-proof floor rounding
      * (counts are non-negative; p/q ratios with tiny q land exactly
      * on 4dp ties, where HALF_UP vs half-even diverge).
      */
    def containmentPairs(id: Column, tokset: Column, block: Column,
                         threshold: Double): DataFrame = {
      val base = df.select(block.as("blk"), id.as("did"), tokset.as("ts"))
      val sizes = base.select(col("did"), size(col("ts")).as("sz"))
      val withSizes = tokenOverlap(base.select(col("blk"), col("did"),
        explode(col("ts")).as("tok")), sizes)
      val fwd = withSizes.select(col("d1").as("inner_id"),
        col("d2").as("outer_id"),
        (col("common").cast("double") / col("sz1")).as("c"))
      val rev = withSizes.select(col("d2").as("inner_id"),
        col("d1").as("outer_id"),
        (col("common").cast("double") / col("sz2")).as("c"))
      fwd.unionByName(rev)
        .withColumn("containment", floor(col("c") * 10000 + 0.5) / 10000)
        .filter(col("containment") >= threshold)
        .select("inner_id", "outer_id", "containment")
    }

    /** Connected components over an undirected pair list (`a`, `b`) —
      * the step that turns near-dup PAIRS into dedup CLUSTERS so a
      * pipeline can keep exactly one canonical doc per cluster
      * (pairwise keep/discard alone over-deletes chains: a~b, b~c
      * must keep ONE of {a,b,c}, not drop both b and c). Output:
      * (id, comp) for every vertex in the pair list, comp = MIN id
      * reachable — so `comp` is a stable canonical representative.
      *
      * Algorithm: iterative min-label propagation (the Pregel pattern
      * GraphX uses): labels(v) ← min over N(v) ∪ {v}; labels only
      * decrease, fixpoint = componentwise min. Each round is one
      * shuffle join (edges ⋈ labels on vertex id) + one hash agg on
      * the same key, so rounds are cheap and AQE-planned; rounds
      * needed = graph diameter, which for near-dup clusters is tiny
      * (dup clusters are dense). For adversarial long-path graphs
      * swap in alternating large-star/small-star contraction
      * (O(log²n) rounds, same join/agg shape). A lineage pin per
      * round truncates lineage — without it the iterative plan grows
      * exponentially. The pins follow the session ([[pinLineage]]):
      * memory-backed `localCheckpoint` by default, fault-tolerant
      * `checkpoint()` once `sc.setCheckpointDir` is set, so on a real
      * cluster hours of propagation rounds survive executor loss. The
      * driver coordinates but never holds data: each round's only
      * job is its pin, which also counts the changed labels
      * ([[pinObserved]]). When the pinned edge list fits one task
      * ([[GraphKernels.fits]]), union-find finishes there instead of
      * the rounds. Raises if the rounds do not converge within
      * `maxIter` — an unconverged labeling silently merges/splits
      * clusters, so fail loudly.
      */
    def connectedComponents(a: String, b: String,
                            maxIter: Int = 25): DataFrame = {
      // Hash-partition the pinned edges on the per-round join key `t`
      // (pinLineage preserves the layout): every round's edges ⋈ labels
      // then satisfies its distribution from the pin, so the O(E) side
      // never re-exchanges — only the O(V) label frame moves per round.
      val edges = pinLineage(df.select(col(a).as("s"), col(b).as("t"))
        .unionByName(df.select(col(b).as("s"), col(a).as("t")))
        .distinct().keyedBy(col("t")))
      val s = edges.schema("s")
      if (GraphKernels.fits(edges))
        pinLineage(GraphKernels.finish(edges, StructType(Seq(
          StructField("id", s.dataType, s.nullable),
          StructField("comp", s.dataType))))(GraphKernels.components))
      else propagateMinLabels(edges, maxIter)
    }

    private def propagateMinLabels(edges: DataFrame, maxIter: Int)
        : DataFrame = {
      var labels = pinLineage(edges.select(col("s").as("id")).distinct()
        .withColumn("comp", col("id")))
      var it = 0
      var done = false
      while (!done && it < maxIter) {
        // The previous label rides through the same union + min-agg
        // (tagged rows; prev is unique per id, so min() recovers it),
        // so the convergence probe is a count of changed labels that
        // the pin job itself computes — NOT a second edges-sized join
        // per round, which previously cost each iteration an extra
        // shuffle of the whole label frame. Edges are pre-partitioned
        // on `t`, so the join moves nothing.
        val (next, probe) = pinObserved(edges
          .join(labels.select(col("id").as("t"), col("comp")), "t")
          .select(col("s").as("id"), col("comp"),
            when(lit(false), col("comp")).as("prev"))
          .unionByName(labels.select(col("id"), col("comp"),
            col("comp").as("prev")))
          .groupBy("id").agg(min("comp").as("comp"),
            min("prev").as("prev")),
          count_if(col("comp") =!= col("prev")).as("changed"))
        done = probe("changed") == 0L
        // `next` is materialized (pins are eager), so round N−1's label
        // blocks are dead — release them now instead of letting every
        // round's O(V) pin accumulate until driver GC.
        releasePin(labels)
        labels = next.select(col("id"), col("comp"))
        it += 1
      }
      require(done,
        s"connectedComponents: not converged after $maxIter iterations")
      labels
    }

    /** Connected components by alternating LARGE-STAR / SMALL-STAR
      * contraction (Kiveris et al., "Connected Components in MapReduce
      * and Beyond", SoCC '14) — the O(log² n)-round alternative to
      * [[connectedComponents]]' O(diameter) min-label propagation.
      * Same output contract: (id, comp) for every vertex of the pair
      * list, comp = MIN id reachable. Min-label stays the default for
      * near-dup graphs (dup clusters are dense, diameter ~2-3, and its
      * per-round plan is one join + one agg); THIS form is for
      * high-diameter graphs — chains, meshes, road-network shapes —
      * where diameter-many rounds is the scale killer: a 10⁶-long
      * path needs 10⁶ min-label rounds but ~tens of star rounds.
      *
      * Per round, both operations are pure join + agg (no collect_set
      * — a hub's neighborhood never materializes in one row, so the
      * min-center node of a huge component is shuffle skew, not OOM):
      * large-star connects every neighbor v > u to m = min(N(u)∪{u});
      * small-star connects every neighbor v ≤ u (plus u itself) to m.
      * Both strictly reduce the potential Σ(edge stretch); the edge
      * set converges to min-rooted stars, read out as labels.
      * Convergence probe = the round's pin job counts and hashes its
      * own rows ([[pinObserved]]); only when both match the previous
      * pin does an exact `exceptAll` check run. Lineage is pinned per
      * round ([[pinLineage]]). Once the pinned edge set fits one task
      * ([[GraphKernels.fits]], checked at entry and after every round),
      * union-find finishes there.
      */
    def connectedComponentsStar(a: String, b: String,
                                maxIter: Int = 30): DataFrame = {
      val verts = df.select(col(a).cast("long").as("id"))
        .unionByName(df.select(col(b).cast("long").as("id"))).distinct()
      // Every pin also counts its rows and sums their xxhash64: a round
      // whose pin matches the previous one on both is the only one
      // that pays for the exact `exceptAll` confirmation (equal sums
      // alone could alias a swap).
      def pinSigned(d: DataFrame): (DataFrame, Map[String, Any]) =
        pinObserved(d, count(lit(1)).as("n"),
          sum(xxhash64(col("u"), col("v")).cast("decimal(38,0)")).as("h"))
      // Orient child > parent; self-loops carry no connectivity. ONE
      // exchange establishes both the dedup and the hash(u) layout
      // (hash(u) clusters every (u, v) duplicate), which the per-round
      // min-child aggregate and small-star join then consume
      // shuffle-free off the pin.
      var (e, sig) = pinSigned(df
        .select(greatest(col(a), col(b)).cast("long").as("u"),
          least(col(a), col(b)).cast("long").as("v"))
        .filter(col("u") =!= col("v")).keyedBy(col("u")).distinct())
      var it = 0
      var done = false
      // The edge set only shrinks toward the stars, so the one-task
      // rule is checked again on every round's pin: on a big graph it
      // fires only for the tail rounds.
      var small = GraphKernels.fits(e)
      while (!done && !small && it < maxIter) {
        // Large-star from the ORIENTED edges alone: over u > v,
        // min(N(c) ∪ {c}) = least(min-child(c), c) — every parent of
        // c is > c, so the symmetric 2E neighbor view the round used
        // to aggregate contributes nothing to the minimum. m rides a
        // left join keyed on the child (least() skips the null for
        // childless c).
        val mn = e.groupBy("u").agg(min("v").as("_mn"))
          .select(col("u").as("_c"), col("_mn"))
        // `large` stays UN-pinned: it is referenced twice below, but
        // its keyedBy exchange is reused across the two references,
        // while a per-round materialization job costs more than the
        // one re-read it saves (measured on the r13 hot-set bench).
        val large = e
          .join(mn, col("v") === col("_c"), "left")
          .select(col("u"), least(col("_mn"), col("v")).as("v"))
          .keyedBy(col("u")).distinct()
        // Small-star on the oriented (child > parent) edges — both
        // consumers (min rollup + join) read the keyed layout.
        val smins = large.groupBy("u").agg(min(col("v")).as("m"))
        val stars = large.join(smins, "u")
          .select(col("v").as("u"), col("m").as("v"))
          .filter(col("u") =!= col("v"))
          .unionByName(smins.select(col("u"), col("m").as("v")))
          .keyedBy(col("u")).distinct()
        val (next, nextSig) = pinSigned(stars)
        small = GraphKernels.fits(next)
        done = !small && nextSig == sig && next.exceptAll(e).isEmpty
        // The convergence probe above was the last read of round N−1's
        // edge pin — release its O(E) blocks before the next round.
        releasePin(e)
        e = next
        sig = nextSig
        it += 1
      }
      require(done || small,
        s"connectedComponentsStar: not converged after $maxIter rounds")
      val lbl =
        if (done) e.select(col("u").as("id"), col("v").as("comp"))
          .unionByName(e.select(col("v").as("id"), col("v").as("comp")))
          .groupBy("id").agg(min("comp").as("comp"))
        else pinLineage(GraphKernels.finish(e, StructType(Seq(
          StructField("id", LongType), StructField("comp", LongType))))(
          GraphKernels.components))
      verts.join(lbl, Seq("id"), "left")
        .select(col("id"), coalesce(col("comp"), col("id")).as("comp"))
    }

    /** k-core decomposition by iterative degree peeling (Matula &
      * Beck's algorithm, distributed form): repeatedly delete every
      * node of degree < k until none remain; what survives is the
      * maximal subgraph with all degrees ≥ k — the standard graph
      * measure of "embedded enough to trust" (spam/bot rings fall out
      * of low cores; k-core is also the classic pre-filter before
      * expensive community detection). Takes the same two-column
      * undirected edge list as [[pageRank]]; returns the core's nodes
      * with their WITHIN-CORE degree: (id, deg).
      *
      * Each round is one partial-agged degree count over #nodes keys
      * plus two anti joins against the (typically tiny, broadcast-
      * eligible) sub-k node set — edges shuffle at most once per
      * round, and the edge list is hash-partitioned once up front so
      * degree counting never re-exchanges it. The loop runs to
      * FIXPOINT; its probe (the count of sub-k nodes) is computed by
      * the round's degree pin job itself ([[pinObserved]]). Rounds are
      * data-bounded (≤ the peel depth, O(n) worst case on a path,
      * small on real degree-skewed graphs), capped by `maxRounds` as a
      * runaway guard. When the pinned adjacency fits one task
      * ([[GraphKernels.fits]]), the same rounds, under the same cap,
      * peel there in memory instead.
      */
    def kCore(a: String, b: String, k: Int, maxRounds: Int = 50): DataFrame = {
      require(k >= 1, s"k must be >= 1, got $k")
      require(maxRounds >= 1 && maxRounds <= 500,
        s"maxRounds must be in [1,500], got $maxRounds")
      val edges0 = symAdjacency(df.select(col(a).as("s"), col(b).as("t")))
      val s = edges0.schema("s")
      if (GraphKernels.fits(edges0))
        pinLineage(GraphKernels.finish(edges0, StructType(Seq(
          StructField("id", s.dataType, s.nullable),
          StructField("deg", LongType, nullable = false))))(
          GraphKernels.peel(k, maxRounds)))
      else peelRounds(edges0, k, maxRounds)
    }

    private def peelRounds(edges0: DataFrame, k: Int, maxRounds: Int)
        : DataFrame = {
      // The O(E) edge list is pinned exactly ONCE. Each round filters
      // it AT READ against the ACCUMULATED peel set (`removed`, a
      // node-sized pin rebuilt per round) — removing nodes is
      // idempotent and order-independent, so "edges minus every node
      // peeled so far" equals the classic per-round re-filtered edge
      // list, without re-materializing O(E) blocks every round (the
      // r13 storage leak: one full edge pin per peel round). Round
      // state is ONE small pin, released as soon as the next exists.
      //
      // Broadcast bound for the peel set: derived from the session's
      // autoBroadcastJoinThreshold at ~16 bytes per hashed long row —
      // the probe just COUNTED the exact cardinality, so the decision
      // never trusts a size estimate (a blind 5M-row hint here could
      // OOM a constrained driver). Past the bound — a first peel
      // removing most of a huge graph — or with broadcasting off, fall
      // back to the shuffled anti join.
      val bcRows = broadcastBytes(edges0.sparkSession).fold(0L)(_ / 16)
      def liveEdges(removed: Option[DataFrame], nRemoved: Long)
          : DataFrame = {
        removed match {
          case None => edges0
          case Some(r) =>
            val hint: DataFrame => DataFrame =
              if (nRemoved <= bcRows) broadcast(_) else identity
            edges0
              .join(hint(r.withColumnRenamed("_bad", "_bads")),
                col("s") === col("_bads"), "left_anti")
              .join(hint(r.withColumnRenamed("_bad", "_badt")),
                col("t") === col("_badt"), "left_anti")
        }
      }
      var removed: Option[DataFrame] = None
      var nRemoved = 0L
      var round = 0
      var lastDeg: DataFrame = null
      var converged = false
      while (!converged && round < maxRounds) {
        round += 1
        // Broadcast anti joins preserve the pinned hash(s) layout, so
        // the degree rollup never re-exchanges the O(E) side.
        val (deg, probe) = pinObserved(liveEdges(removed, nRemoved)
          .groupBy("s").agg(count(lit(1)).as("_deg")),
          count_if(col("_deg") < k).as("bad"))
        val bad = deg.filter(col("_deg") < k).select(col("s").as("_bad"))
        val nBad = probe("bad").asInstanceOf[Long]
        if (nBad == 0) { converged = true; lastDeg = deg }
        else {
          val nextRemoved = pinLineage(removed match {
            case None => bad
            case Some(r) => r.unionByName(bad)
          })
          removed.foreach(releasePin)
          releasePin(deg)
          removed = Some(nextRemoved)
          nRemoved += nBad
        }
      }
      // The converged round's degree table IS the answer: every
      // surviving node with its within-core degree (identical to
      // re-aggregating the live edges, minus one full pass). A
      // maxRounds-capped unconverged peel returns the current live
      // degrees, exactly as the per-round-refiltered form did.
      if (lastDeg == null)
        lastDeg = liveEdges(removed, nRemoved)
          .groupBy("s").agg(count(lit(1)).as("_deg"))
      lastDeg.select(col("s").as("id"), col("_deg").as("deg"))
    }

    /** Breadth-first hop distances from `seed` over the undirected
      * graph whose edges are rows (`a`, `b`): the Pregel BFS loop as
      * plain DataFrame algebra. Returns (id, dist) for every node
      * within `maxHops` of the seed (the seed itself at dist 0);
      * unreached nodes are absent.
      *
      * Scale: the canonical symmetric edge list is checkpointed and
      * hash-partitioned on the join key ONCE — each round's
      * frontier-expansion join re-exchanges only the frontier
      * (O(frontier) ids), and the visited filter is an anti-join
      * against the node-sized distance table. Rounds are pinned like
      * connectedComponents' loop so the plan prefix never regrows, and
      * stop at the first empty frontier, which each frontier pin job
      * counts itself ([[pinObserved]]). When the pinned adjacency fits
      * one task ([[GraphKernels.fits]]), a BFS queue capped at
      * `maxHops` runs there instead.
      */
    def bfsHops(a: String, b: String, seed: Long, maxHops: Int): DataFrame = {
      require(maxHops >= 1 && maxHops <= 50,
        s"maxHops must be in [1,50]: $maxHops")
      val edges = symAdjacency(df.select(col(a).as("s"), col(b).as("t")))
      // Integral ids widen to the long seed, as in the rounds' union.
      if (GraphKernels.fits(edges))
        pinLineage(GraphKernels.finish(edges, StructType(Seq(
          StructField("id", LongType, edges.schema("t").nullable),
          StructField("dist", LongType, nullable = false))))(
          GraphKernels.bfs(seed, maxHops)))
      else expandHops(edges, seed, maxHops)
    }

    private def expandHops(edges: DataFrame, seed: Long, maxHops: Int)
        : DataFrame = {
      val spark = edges.sparkSession
      var dist = spark.range(1)
        .select(lit(seed).as("id"), lit(0L).as("dist"))
      var frontier = dist.select("id")
      var prevFrontierPin: DataFrame = null
      var k = 1
      var empty = false
      while (!empty && k <= maxHops) {
        // The frontier pin job counts its own rows: an empty frontier
        // leaves `dist` final, so the remaining hops are skipped.
        val (next, probe) = pinObserved(edges
          .join(frontier.withColumnRenamed("id", "s"), "s")
          .select(col("t").as("id")).distinct()
          .join(dist, Seq("id"), "left_anti")
          .select(col("id"), lit(k.toLong).as("dist")),
          count(lit(1)).as("n"))
        empty = probe("n") == 0L
        if (!empty) {
          val newDist = pinLineage(dist.unionByName(next))
          // Both hop-k pins are now materialized: hop k−1's dist table
          // and frontier pin are dead — release instead of accumulating
          // two O(V) pins per hop until driver GC.
          releasePin(dist)
          if (prevFrontierPin != null) releasePin(prevFrontierPin)
          prevFrontierPin = next
          dist = newDist
          frontier = next.select("id")
        }
        k += 1
      }
      dist
    }

    /** Fixed-iteration PageRank over an undirected edge list (columns
      * `a`, `b`; node ids must be globally unique across both columns).
      * rank₀ = 1.0; rankᵢ₊₁(v) = (1−d) + d·Σ_{u∼v} rankᵢ(u)/deg(u).
      * Undirected edges mean every node has deg ≥ 1, so there are no
      * dangling nodes and no mass-leak correction term. Output:
      * (id, rank) — UNROUNDED; callers round for oracle compares.
      *
      * Scale shape: the edge list is symmetrized, deduped and
      * lineage-pinned once ([[symAdjacency]]). When that pin fits one
      * task ([[GraphKernels.fits]]), the same synchronous rounds run
      * there in memory (`GraphKernels.pageRank`) and nothing else is
      * built or pinned. Otherwise it is reused every iteration (at
      * 100 TB the edge build dominates; re-deriving it per iteration
      * would rescan the fact table `iters` times); degrees ride along
      * on one more pin, so each iteration is exactly one shuffle-join
      * (edges ⋈ ranks on the source id) + one partial-agg'd sum — the
      * textbook distributed PageRank step. Ranks are checkpointed per
      * iteration past 5 iterations to cut the lineage (an
      * uncheckpointed loop replans the whole prefix each time,
      * quadratic plan growth).
      */
    def pageRank(a: String, b: String, iters: Int = 3,
                 damping: Double = 0.85): DataFrame = {
      require(iters >= 1 && iters <= 50, s"iters must be in [1,50]: $iters")
      val edges = symAdjacency(df.select(col(a).as("s"), col(b).as("t")))
      val t = edges.schema("t")
      if (GraphKernels.fits(edges))
        GraphKernels.finish(edges, StructType(Seq(
          StructField("id", t.dataType, t.nullable),
          StructField("rank", DoubleType))))(
          GraphKernels.pageRank(iters, damping))
      else rankRounds(edges, iters, damping)
    }

    private def rankRounds(edges: DataFrame, iters: Int, damping: Double)
        : DataFrame = {
      // The edges are pinned ONCE, keyed on the join key when large
      // enough (see [[pinKeyed]]), so none of the `iters` joins below
      // re-exchanges the (large) edge side — only the rank side
      // (O(nodes)) shuffles per iteration.
      val deg = edges.groupBy("s").agg(count(lit(1)).as("_deg"))
      val withDeg = pinLineage(edges.join(deg, "s"))
      // Lineage pinning is only needed when the loop is long: each
      // round's plan nests the previous one, so at small fixed `iters`
      // the whole rank recursion compiles into ONE multi-shuffle job
      // (cheapest), while a long loop without pinning replans a
      // quadratically growing prefix — checkpoint per round past the
      // threshold, exactly like connectedComponents' unbounded loop.
      val pin: DataFrame => DataFrame =
        if (iters > 5) pinLineage(_) else identity
      var ranks = pin(edges.select(col("s").as("id")).distinct()
        .withColumn("rank", lit(1.0)))
      for (_ <- 1 to iters) {
        val next = pin(withDeg
          .join(ranks.withColumnRenamed("id", "s"), "s")
          .select(col("t").as("id"),
            (col("rank") / col("_deg")).as("_c"))
          .groupBy("id")
          .agg((lit(1.0 - damping) + lit(damping) * sum(col("_c")))
            .as("rank")))
        // Pinned-rounds path only (short loops compile into one lazy
        // DAG — nothing to release): round N is materialized, so round
        // N−1's rank pin is dead.
        if (iters > 5) releasePin(ranks)
        ranks = next
      }
      ranks
    }

    /** Synchronous label-propagation communities (Raghavan et al.
      * 2007, the Pregel/GraphX LPA shape) over the undirected graph
      * whose edges are rows (`a`, `b`): every node starts labeled by
      * its own id; each round RELABELS every node with the most
      * frequent label among its neighbors, ties broken by the
      * SMALLEST label — fully deterministic, unlike classic
      * random-order LPA, so reruns and the oracle agree. `iters` is
      * fixed (LPA has no monotone convergence guarantee — synchronous
      * updates can 2-cycle on bipartite structure, which is why a
      * fixpoint probe would be wrong here).
      *
      * Scale shape = [[pageRank]]: the (doubled, deduped) edge list
      * is checkpointed and hash-partitioned ONCE on the join key. When
      * that pin fits one task ([[GraphKernels.fits]]), the same rounds
      * run there in memory (`GraphKernels.propagate`). Otherwise each
      * round joins the O(nodes) label frame to it, partial-aggs the
      * (node, label) counts, and takes the per-node argmax as a second
      * aggregate, min(struct(−count, label)) — a SortAggregate behind
      * a Sort at both levels, shuffling only label rows.
      * Output: (id, label) — nodes sharing a label after
      * `iters` rounds form the community.
      */
    def labelPropagation(a: String, b: String, iters: Int = 2): DataFrame = {
      require(iters >= 1 && iters <= 20, s"iters must be in [1,20]: $iters")
      val edges = symAdjacency(df.select(col(a).as("s"), col(b).as("t")))
      val (s, t) = (edges.schema("s"), edges.schema("t"))
      if (GraphKernels.fits(edges))
        GraphKernels.finish(edges, StructType(Seq(
          StructField("id", t.dataType, t.nullable),
          StructField("label", s.dataType))))(GraphKernels.propagate(iters))
      else labelRounds(edges, iters)
    }

    private def labelRounds(edges: DataFrame, iters: Int): DataFrame = {
      val pin: DataFrame => DataFrame =
        if (iters > 5) pinLineage(_) else identity
      var labels = pin(edges.select(col("s").as("id")).distinct()
        .withColumn("label", col("id")))
      for (_ <- 1 to iters) {
        // argmax-by-(count desc, label asc) as min(struct(−count,
        // label)) — a second aggregate instead of a row_number window
        // (measured 2.3 s → 2.1 s LPA, 3.4 s → 2.5 s modularity
        // min-of-3 at sf0.1). It is NOT a hash aggregate: min over a
        // struct has no hash-aggregate buffer, so Spark plans it as a
        // SortAggregate behind a Sort, at both the partial and the
        // final level; negating the count is safe (it is bounded by
        // the edge count). A two-slot declarative argmax that plans as
        // a HashAggregate measured no faster at sf0.1.
        // The label join keys on `s` — the key the edge list is
        // hash-partitioned on — and relabels `t`: over a SYMMETRIC
        // edge set {(u,v)} = {(v,u)} the (t, label(s)) pairs are the
        // identical multiset as (s, label(t)), so the result is
        // byte-identical while the O(E) side never re-exchanges
        // (joining on `t` re-shuffled the whole edge list per round).
        val next = pin(edges
          .join(labels.withColumnRenamed("id", "s"), "s")
          .groupBy(col("t").as("id"), col("label"))
          .agg(count(lit(1)).as("_c"))
          .groupBy("id")
          .agg(min(struct((-col("_c")).as("_nc"), col("label"))).as("_m"))
          .select(col("id"), col("_m.label").as("label")))
        // Pinned-rounds path only: release round N−1's label pin once
        // round N is materialized (see pageRank).
        if (iters > 5) releasePin(labels)
        labels = next
      }
      labels
    }

    /** Ordered funnel progression: for each `id`, the highest stage
      * index reached walking its events in `ts` order, where stage
      * k+1 counts only STRICTLY AFTER stage k completed (an earlier
      * out-of-order occurrence is ignored, not banked). One user-keyed
      * shuffle feeding a sorted-group fold with O(1) state — the
      * K-stage funnel without K chained min-after self-joins. Output:
      * (id, stage) with stage in [0, stages.length].
      *
      * REQUIRES a numeric (long-castable) `id`: the typed sorted-group
      * surface needs a concrete key encoder, and the fold keys on
      * `id.cast("long")` — under Spark 4's default ANSI mode a
      * non-numeric string id throws at runtime (with ANSI off it
      * would null-collapse ids into one group, which is why the cast
      * failing loudly is the safe behavior). Non-numeric ids: derive a
      * numeric surrogate first (e.g. `xxhash64(id)` — collision odds
      * are the standard 64-bit birthday bound). Same-timestamp events
      * are folded in `(ts, event)` order — the event name is the
      * deterministic tie-break, so reruns and different partitionings
      * always produce the same stage.
      */
    def funnelStages(id: Column, ts: Column, event: Column,
                     stages: Seq[String]): DataFrame = {
      require(stages.nonEmpty, "stages must be non-empty")
      require(stages.distinct.size == stages.size,
        s"stages must be distinct, got $stages")
      val spark = df.sparkSession
      import spark.implicits._
      val rows = df.select(id.cast("long").as("_fid"),
          unix_micros(ts.cast("timestamp")).as("_fts"),
          event.cast("string").as("_fet"))
        .as[(Long, Long, String)]
      val stageArr = stages.toArray
      rows.groupByKey(_._1)
        .flatMapSortedGroups(col("_fts"), col("_fet")) { (user, it) =>
          var s = 0
          it.foreach { case (_, _, et) =>
            if (s < stageArr.length && et == stageArr(s)) s += 1
          }
          Iterator.single((user, s))
        }
        .toDF("id", "stage")
    }

    /** Triangle count of the undirected graph whose edges are rows
      * (`a`, `b`), by the degree-oriented node-iterator (Suri &
      * Vassilvitskii): orient each edge from its (degree, id)-smaller
      * endpoint — bounding every out-degree by O(√m), which minimizes
      * wedge work exactly on skewed graphs — enumerate wedges at each
      * apex, close them against the oriented edge set. Input edges
      * are canonicalized here (self-loops dropped, duplicates and
      * reversals deduped), so callers can pass any raw pair list.
      *
      * `nColors` > 1 switches on COLORFUL sparsification (Pagh &
      * Tsourakakis 2012) for graphs too dense to count exactly: nodes
      * get a deterministic md5 color, only monochromatic edges
      * survive, and `est_total` = count × nColors² is the unbiased
      * full-graph estimate. nColors = 1 keeps every edge (exact;
      * est_total = n_triangles). Output: ONE row
      * (n_nodes, n_edges, n_triangles, est_total).
      *
      * The canonical edge list is pinned — it feeds the degree table,
      * the orientation, and all count branches; the wedge/closure
      * probes broadcast it (edge-bytes) when its true bytes are within
      * `spark.sql.autoBroadcastJoinThreshold`, and past that shuffle
      * the wedge join by apex and the closure join by (v1, v2) — same
      * algebra, same counts.
      */
    def triangleCount(a: String, b: String, nColors: Int = 1): DataFrame = {
      require(nColors >= 1 && nColors <= 65536,
        s"nColors must be in [1, 65536], got $nColors")
      val raw = df.select(col(a).as("x"), col(b).as("y"))
        .filter(col("x") =!= col("y"))
        .select(least(col("x"), col("y")).as("s1"),
          greatest(col("x"), col("y")).as("s2"))
      val sampled =
        if (nColors == 1) raw
        else raw.filter(md5Bucket(col("s1"), nColors) ===
          md5Bucket(col("s2"), nColors))
      triangleCore(sampled, nColors.toLong * nColors)
    }

    /** MinHash/LSH near-dup dedup → per-row keep/discard flag (O(n)
      * output). A row is a dup iff some banded-LSH candidate with a
      * smaller id verifies at exact token-set Jaccard ≥ `threshold`
      * (greedy min-id canonicalization). Signatures are computed in one
      * codegen'd hash-agg of `numHashes` min() columns over the
      * exploded token sets; candidates carry only ids through the band
      * shuffle. Output: (doc_id, is_dup).
      *
      * Hash family — ENGINE-PORTABLE by construction (the r8→r9
      * upgrade that bought this operator an exact DuckDB oracle
      * instead of a bounds-only spec): one md5 per token folded to a
      * 60-bit int (the md5Bucket discipline), reduced mod the Mersenne
      * prime p = 2³¹−1, then `numHashes` affine mixes
      * hₖ = (aₖ·h + bₖ) mod p with constants derived from k by fixed
      * integer formulas — every step replayable in ANSI SQL, products
      * bounded by p² < 2⁶³. ONE string hash per token (the 128 mixes
      * are integer ops) also beats the 128-×-xxhash64-per-token scheme
      * it replaced. Band keys are md5 digests of the comma-joined
      * signature slice.
      */
    /** MinHash-LSH candidate pairs — the banding join BEFORE exact
      * verification, exposed so audits can measure the band schema's
      * precision/recall directly (q_dedup_lsh_audit). Same signature
      * family and hash constants as [[minhashDedupFlags]], which
      * builds on this. Output: (d1, d2) with d1 < d2, distinct.
      */
    def minhashCandidatePairs(id: Column, tokset: Column,
                              numHashes: Int = 128,
                              bands: Int = 8): DataFrame = {
      require(numHashes % bands == 0, "bands must divide numHashes")
      val rows = numHashes / bands
      val P = 2147483647L // 2^31 - 1, prime
      def aK(k: Int): Long = (k.toLong * 2654435761L) % (P - 1) + 1
      def bK(k: Int): Long = (k.toLong * 40503L * 65537L + 17L) % P
      val base = df.select(id.as("did"), tokset.as("ts"))
      val shingled = base.select(col("did"), explode(col("ts")).as("sh"))
        .withColumn("h31",
          conv(substring(md5(col("sh")), 1, 15), 16, 10)
            .cast("long") % P)
      val minCols = (0 until numHashes).map(k =>
        min((col("h31") * aK(k) + bK(k)) % P).as(s"m$k"))
      val sigs = shingled.groupBy("did").agg(minCols.head, minCols.tail: _*)
      val banded = sigs.select(col("did"),
        explode(array((0 until bands).map(b =>
          struct(lit(b).as("band_id"),
            md5(concat_ws(",", (b * rows until (b + 1) * rows)
              .map(k => col(s"m$k").cast("string")): _*))
              .as("band_hash"))): _*)).as("band"))
        .select(col("did"), col("band.band_id"), col("band.band_hash"))
      val a = banded.select(col("band_id"), col("band_hash"),
        col("did").as("d1"))
      val b = banded.select(col("band_id").as("band_id_b"),
        col("band_hash").as("band_hash_b"), col("did").as("d2"))
      a.join(b, a("band_id") === b("band_id_b") &&
          a("band_hash") === b("band_hash_b") && a("d1") < b("d2"))
        .select("d1", "d2").dropDuplicates("d1", "d2")
    }

    def minhashDedupFlags(id: Column, tokset: Column,
                          threshold: Double = 0.9,
                          numHashes: Int = 128,
                          bands: Int = 8): DataFrame = {
      val base = df.select(id.as("did"), tokset.as("ts"))
      val cand = minhashCandidatePairs(id, tokset, numHashes, bands)
      val ts = base.select(col("did"), col("ts"))
      val dupIds = cand
        .join(ts.select(col("did").as("d1"), col("ts").as("s1")), "d1")
        .join(ts.select(col("did").as("d2"), col("ts").as("s2")), "d2")
        .filter(size(array_intersect(col("s1"), col("s2"))).cast("double") /
          size(array_union(col("s1"), col("s2"))) >= threshold)
        .select(col("d2").as("did")).distinct()
      base.select(col("did").as("doc_id"))
        .join(dupIds.withColumn("is_dup", lit(true))
          .withColumnRenamed("did", "doc_id"), Seq("doc_id"), "left")
        .select(col("doc_id"),
          coalesce(col("is_dup"), lit(false)).as("is_dup"))
    }

    /** 64-bit SimHash per row from a token-set column (bit-majority
      * vote, computed as one codegen'd hash-agg of 64 conditional
      * sums). Output: (doc_id, simhash).
      *
      * Token hash — ENGINE-PORTABLE by construction (the r9 upgrade
      * that bought simhash an exact DuckDB oracle): the 64 bits come
      * from two 32-bit halves of md5(token) (hex digits 1–8 and 9–16
      * parsed as ints — Catalyst CSE computes the md5 once), bits
      * 0–31 from the low half, 32–63 from the high; every step is
      * ANSI-SQL-replayable, unlike xxhash64. Cost of the exactness:
      * md5 is slower than xxhash64 (measured +0.4 s min-of-3 on the
      * scored query at sf0.1) — the price of a hash-match oracle over
      * a bounds-only spec, and still one string hash per token.
      */
    def simhash64(id: Column, tokset: Column): DataFrame = {
      val tok = df.select(id.as("doc_id"), explode(tokset).as("t"))
        .select(col("doc_id"),
          conv(substring(md5(col("t")), 1, 8), 16, 10)
            .cast("long").as("h1"),
          conv(substring(md5(col("t")), 9, 8), 16, 10)
            .cast("long").as("h2"))
      val bitCols = (0 until 64).map { b =>
        val src = if (b < 32) shiftright(col("h2"), b)
          else shiftright(col("h1"), b - 32)
        sum(src.bitwiseAND(lit(1L)).cast("long")).as(s"c$b")
      }
      val counted = tok.groupBy("doc_id")
        .agg(count(lit(1)).as("n"), bitCols: _*)
      val sim = (0 until 64).map(b =>
          when(col(s"c$b") * 2 > col("n"), lit(1L << b)).otherwise(lit(0L)))
        .reduce(_ + _)
      counted.select(col("doc_id"), sim.as("simhash"))
    }

    /** Near-dup pairs at Hamming distance ≤ `maxHamming` between
      * simhashes, with EXACT recall via rotate-block candidate
      * generation: the 64-bit sketch is cut into `tables` equal slices
      * and a pair is a candidate iff SOME slice matches — by
      * pigeonhole, any pair with at most `tables - 1` differing bits
      * must agree on at least one slice, so no true pair is missed
      * (a single-prefix block misses pairs whose differing bits fall
      * in the prefix). Candidates carry only (id, sketch) through the
      * `tables`× slice shuffle. Call on the output of [[simhash64]]
      * (pass a materialized frame to avoid recomputing the sketch on
      * both join sides). Output: (d1, d2, hamming) with d1 < d2.
      */
    def simhashPairs(maxHamming: Int, tables: Int = 4): DataFrame = {
      require(64 % tables == 0, "tables must divide 64")
      require(maxHamming < tables,
        s"pigeonhole recall guarantee needs maxHamming < tables " +
          s"($maxHamming >= $tables)")
      val width = 64 / tables
      val mask = if (width == 64) -1L else (1L << width) - 1
      val sliced = df.select(col("doc_id"), col("simhash"),
        posexplode(array((0 until tables).map(t =>
          shiftrightunsigned(col("simhash"), t * width)
            .bitwiseAND(lit(mask))): _*)).as(Seq("tbl", "slice")))
      val a = sliced.select(col("tbl"), col("slice"),
        col("doc_id").as("d1"), col("simhash").as("h1"))
      val b = sliced.select(col("tbl").as("tbl_b"), col("slice").as("slice_b"),
        col("doc_id").as("d2"), col("simhash").as("h2"))
      a.join(b, a("tbl") === b("tbl_b") && a("slice") === b("slice_b") &&
          a("d1") < b("d2"))
        .select(col("d1"), col("d2"),
          expr("bit_count(h1 ^ h2)").as("hamming"))
        .filter(col("hamming") <= maxHamming)
        .dropDuplicates("d1", "d2")
    }

    // ─────────────────────── similarity ───────────────────────

    /** Brute-force top-k rows by cosine similarity to one query vector
      * (broadcast): scan → project → TakeOrderedAndProject, no shuffle
      * of the vectors. `vec` must be a numeric array column.
      */
    /** Johnson–Lindenstrauss random projection (Achlioptas 2003
      * database-friendly form): map a `dim`-vector to `k` dims through
      * a deterministic ±1/√k sign matrix — the standard footprint cut
      * before an ANN index when even int8 quantization keeps too many
      * coordinates. E[‖Pv‖²] = ‖v‖² and pairwise inner products are
      * preserved to ±O(√(log n / k)) distortion (QualitySpec pins the
      * measured bound). Output: (vec_id, proj array<double>).
      *
      * Pure per-row projection — the matrix is a PLAN LITERAL (k·dim
      * doubles, ~8 KB at 16×64, inlined into codegen like a broadcast
      * without the exchange), each output coordinate one native
      * [[dotd]] fold inside whole-stage codegen; no shuffle, no UDF,
      * scales embarrassingly. Pick √k a power of two (k = 4, 16, 64)
      * and the scale factor is exact binary, so products are exact
      * halved floats and both engines sum identical doubles.
      */
    def randomProject(id: Column, vec: Column, dim: Int, k: Int,
                      seed: Long = 7L): DataFrame = {
      require(k >= 1 && dim >= 1, s"k and dim must be >= 1, got $k, $dim")
      val mat = rprojectSigns(k, dim, seed)
      df.select(id.as("vec_id"),
        transform(typedLit(mat),
          row => dotd(transform(vec, _.cast("double")), row)).as("proj"))
    }

    def cosineTopK(id: Column, vec: Column, query: Seq[Double],
                   k: Int): DataFrame = {
      val qv = typedLit(query)
      df.select(id.as("vec_id"),
          round(cosineSim(transform(vec, _.cast("double")), qv), 4)
            .as("cos_sim"))
        .orderBy(col("cos_sim").desc, col("vec_id"))
        .limit(k)
    }

    /** Sign-LSH bucket id for a numeric array column: the `planes.size`
      * -bit sign pattern of dot products with fixed hyperplanes (pass a
      * fixed-seed-generated matrix for determinism). Candidates for
      * ANN search only need comparing within equal buckets.
      */
    def withSignLshBucket(vec: Column, planes: Seq[Seq[Double]],
                          out: String = "bucket"): DataFrame = {
      val planeLit = typedLit(planes)
      val v = transform(vec, _.cast("double"))
      df.withColumn(out, planes.indices.map(k =>
          when(dotd(v, planeLit.getItem(k)) > 0,
            lit(1 << (planes.size - 1 - k))).otherwise(lit(0)))
        .reduce(_ + _))
    }

    /** IVF cell id for a numeric array column: index of the
      * max-cosine anchor from [[ivfAnchors]] (ties → smallest index).
      * Every vector lands in exactly one of the k Voronoi cells; ANN
      * search compares only within the probed cells. Per-row cost is
      * k native `cosine_sim` kernels over literal anchors — no
      * explode, no shuffle.
      */
    def withIvfCell(vec: Column, anchors: Seq[Seq[Double]],
                    out: String = "cell"): DataFrame = {
      val aLit = typedLit(anchors)
      val v = transform(vec, _.cast("double"))
      // Struct max is lexicographic: max sim first, then max negi =
      // SMALLEST anchor index — the same tie-break direction the
      // probe ranking in annIvf uses, so a query always probes its
      // own cell.
      val scored = array(anchors.indices.map(i =>
        struct(cosineSim(v, aLit.getItem(i)).as("sim"),
          lit(-i).as("negi"))): _*)
      df.withColumn(out,
        (-array_max(scored).getField("negi")).cast("int"))
    }

    /** Elementwise mean vector per key via the typed Aggregator UDAF.
      * Output: (key, centroid: array<double>).
      */
    def centroidPerKey(key: Column, vec: Column): DataFrame =
      df.groupBy(key.as("key"))
        .agg(CentroidAgg.column(vec).as("centroid"))

    /** Lloyd refinement of IVF anchors — the "training" loop the
      * [[ivfAnchors]] doc promises: `iters` rounds of assign
      * ([[withIvfCell]], max-cosine) + re-center ([[centroidPerKey]],
      * unit-normalized so anchors stay on the sphere and cosine
      * ordering is preserved). Returns the refined k×dim anchors;
      * empty cells keep their previous anchor (k never shrinks).
      * Each round is one distributed assign+agg job whose ONLY
      * driver-side state is the k×dim centroid collect — the same
      * bounded footprint MLlib's KMeans keeps; vectors never leave
      * the executors. Convergence: k-means inertia (here 1−cos to
      * the own anchor) is non-increasing per round — pinned in
      * QualitySpec rather than re-derived at runtime.
      */
    def lloydRefine(id: Column, vec: Column, anchors: Seq[Seq[Double]],
                    iters: Int): Seq[Seq[Double]] = {
      require(iters >= 1, s"iters must be >= 1, got $iters")
      var a = anchors
      for (_ <- 1 to iters) {
        val cells = df.select(id.as("_id"), vec.as("_v"))
          .withIvfCell(col("_v"), a, "cell")
        // CentroidAgg's typed input is Array[Float] (the table's
        // storage type); the float round-trip only perturbs centroids
        // below the inertia tolerance.
        val centroids = cells.centroidPerKey(col("cell"),
            transform(col("_v"), _.cast("float")))
          .collect().map { r =>
            val c = r.getSeq[Double](1)
            val n = math.sqrt(c.map(x => x * x).sum)
            r.getInt(0) -> (if (n == 0) c else c.map(_ / n))
          }.toMap
        a = a.indices.map(i => centroids.getOrElse(i, a(i)).toIndexedSeq)
      }
      a
    }

    // ───────────────────────── text ─────────────────────────

    /** Global term counts over a token column produced by the caller
      * (explode + two-phase hash-agg). Output: (term, n, n_docs).
      */
    def termCounts(id: Column, tokens: Column): DataFrame =
      df.select(id.as("did"), explode(tokens).as("term"))
        .groupBy("term")
        .agg(count(lit(1)).as("n"), countDistinct(col("did")).as("n_docs"))

    /** tf-idf, top-`k` terms per document (document frequency joined
      * broadcast; ranked on the rounded score for cross-engine
      * stability). Output: (doc_id, term, tfidf, rn).
      */
    def tfidfTopTerms(id: Column, tokens: Column, k: Int): DataFrame = {
      val tok = df.select(id.as("did"), explode(tokens).as("term"))
      val tf = tok.groupBy("did", "term").agg(count(lit(1)).as("tf"))
      // df(term) = row count of tf — tf's key is already (doc, term)
      // distinct, so this is a plain count, not a countDistinct expand.
      val dfreq = tf.groupBy("term").agg(count(lit(1)).as("df"))
      val n = df.agg(count(lit(1)).as("n"))
      val w = Window.partitionBy("doc_id")
        .orderBy(col("tfidf").desc, col("term"))
      tf.join(broadcast(dfreq), "term").crossJoin(broadcast(n))
        .select(col("did").as("doc_id"), col("term"),
          round(col("tf") * log(col("n").cast("double") / col("df")), 4)
            .as("tfidf"))
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") <= k)
    }

    /** Per-document mean token surprisal (nats) under the corpus's own
      * unigram model — the workhorse LM-quality filter shape (CC-Net
      * scores documents with a KenLM over a reference corpus; the
      * unigram self-model is its engine-expressible core): documents of
      * improbable tokens score high, boilerplate scores low. p(t) =
      * count(t)/total from one explode + hash-agg; the model joins
      * back via broadcast (vocab-sized). Output: (doc_id, n_tokens,
      * surprisal). Mean surprisal is ≥ 0, so tie-proof
      * [[graft.Norm.r4tie]] rounding applies. Perplexity = exp(x) if a
      * consumer wants it — monotone, so filters can threshold either.
      *
      * Scale: two shuffles (term agg, doc agg) over exploded tokens,
      * both partial-agg'd; the unigram table is the only broadcast —
      * cap vocab with a min-count cut if the corpus is web-scale.
      */
    def unigramSurprisal(id: Column, tokens: Column): DataFrame = {
      val tok = df.select(id.as("doc_id"), explode(tokens).as("term"))
      val counts = tok.groupBy("term").agg(count(lit(1)).as("cnt"))
      val total = tok.agg(count(lit(1)).as("total"))
      tok.join(broadcast(counts), "term").crossJoin(broadcast(total))
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_tokens"),
          graft.Norm.r4tie(avg(-log(col("cnt").cast("double") /
            col("total")))).as("surprisal"))
    }

    /** Per-document mean BIGRAM surprisal under the corpus's own
      * interpolated bigram model — the next LM-filter rung above
      * [[unigramSurprisal]]: P(cur|prev) = λ·c(prev,cur)/c(prev,•)
      * + (1−λ)·c(cur)/N. Unigram interpolation (λ an exact binary
      * fraction, default 1/2) makes every probability strictly
      * positive without smoothing hyperparameters, and the identical
      * multiply-add order on both engines keeps the IEEE arithmetic
      * reproducible before the tie-proof rounding.
      *
      * Shape: bigram instances build as a pure per-row projection
      * (element_at pairs over an index sequence, the dupNgramStats
      * idiom — no window, no shuffle to form them) and checkpoint
      * once for their three consumers (bigram counts, context counts,
      * probability join); both count tables are vocab²-bounded and
      * broadcast, so the corpus shuffles only for the per-doc agg.
      */
    def bigramSurprisal(id: Column, tokens: Column,
                        lambda: Double = 0.5): DataFrame = {
      require(lambda > 0 && lambda < 1, s"lambda must be in (0,1): $lambda")
      val pairs = pinLineage(df.select(id.as("doc_id"), tokens.as("_t"))
        .filter(size(col("_t")) >= 2)
        .select(col("doc_id"),
          explode(transform(sequence(lit(0), size(col("_t")) - 2),
            i => struct(
              element_at(col("_t"), (i + lit(1)).cast("int")).as("prev"),
              element_at(col("_t"), (i + lit(2)).cast("int")).as("cur"))))
            .as("b"))
        .select(col("doc_id"), col("b.prev").as("prev"),
          col("b.cur").as("cur")))
      val cbig = pairs.groupBy("prev", "cur").agg(count(lit(1)).as("cbig"))
      val cctx = pairs.groupBy("prev").agg(count(lit(1)).as("cctx"))
      val tok = df.select(explode(tokens).as("term"))
      val cuni = tok.groupBy("term").agg(count(lit(1)).as("cuni"))
      val total = tok.agg(count(lit(1)).as("total"))
      pairs.join(broadcast(cbig), Seq("prev", "cur"))
        .join(broadcast(cctx), Seq("prev"))
        .join(broadcast(cuni.withColumnRenamed("term", "cur")), Seq("cur"))
        .crossJoin(broadcast(total))
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_bigrams"),
          graft.Norm.r4tie(avg(-log(
            lit(lambda) * (col("cbig").cast("double") / col("cctx")) +
            lit(1 - lambda) * (col("cuni").cast("double") / col("total")))))
            .as("surprisal"))
    }

    /** Cross-document duplicated n-gram statistics — the corpus-level
      * dedup signal of Lee et al. 2022 ("Deduplicating Training Data
      * Makes Language Models Better", arXiv:2107.06499), engine-
      * expressible core: for each document, the fraction of its token
      * n-grams that also occur in at least one OTHER document. High
      * fractions mark boilerplate/templated/near-copied text that
      * exact and MinHash dedup both miss (they compare whole docs;
      * this catches shared SPANS). Output: (doc_id, n_grams, n_dup,
      * dup_frac), dup_frac floor-rounded to 4dp exactly like the
      * oracle.
      *
      * Shape: grams are built as a pure per-row projection
      * ([[ops.ngrams]], whose scaladoc holds the three measured rules
      * of this stage), then only `md5(gram)` instances travel: every
      * shuffle key is a constant-width digest, never the text, the
      * same ids-only discipline as dedupExact — at n=13 (the paper's
      * choice) a raw-gram shuffle would ship ~13× the corpus. Document
      * frequency = plain count over (doc, gram)-distinct instances, no
      * countDistinct expand. A gram with df ≥ 2 is duplicated; its
      * instances count toward every holder's n_dup (df ≥ 2 ⟺ "some
      * OTHER doc has it" for each holder individually).
      */
    def dupNgramStats(id: Column, tokens: Column, n: Int): DataFrame = {
      require(n >= 2 && n <= 32, s"n must be in [2, 32], got $n")
      // The pin is hash-partitioned on the digest `_g` — the key of
      // every downstream operation: distinct (hash(_g) clusters the
      // (doc_id, _g) duplicates), the df aggregate, and the join back
      // all run on the pinned layout without re-exchanging the
      // instance table; only the final per-doc rollup shuffles.
      val inst = pinLineage(df.select(id.as("doc_id"), tokens.as("_t"))
        .select(col("doc_id"), explode(ngrams(col("_t"), n)).as("_gs"))
        .select(col("doc_id"), md5(col("_gs")).as("_g"))
        .keyedBy(col("_g")))
      val dfreq = inst.distinct()
        .groupBy("_g").agg(count(lit(1)).as("_df"))
      inst.join(dfreq, "_g")
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_grams"),
          sum(when(col("_df") >= 2, 1L).otherwise(0L)).as("n_dup"))
        .withColumn("dup_frac",
          floor(col("n_dup") * lit(10000.0) / col("n_grams") + 0.5) / 10000)
    }

    /** Duplicate-SPAN statistics — the maximal-substring step of
      * exact-substring dedup (Lee et al. 2022, "Deduplicating
      * Training Data Makes Language Models Better", arXiv:2107.06499,
      * §3.1 ExactSubstr): where [[dupNgramStats]] counts duplicated
      * n-grams, this merges each document's duplicated-gram hits into
      * MAXIMAL token spans — the unit the paper actually cuts out of
      * training text. A gram is duplicated when its corpus occurrence
      * count is ≥ 2 (within- or cross-document, per the paper's
      * suffix-array semantics); overlapping/adjacent hits [i, i+n)
      * merge into islands. Output, one row per doc with ≥ 1 span:
      * (doc_id, n_tokens, n_spans, dup_tokens, max_span, dup_frac).
      *
      * Scale shape: grams build as the same pure projection as
      * [[dupNgramStats]] (lambda does element_at reads only; md5 runs
      * post-explode in codegen) and the pinned instance table carries
      * (doc, start, digest) — 32-byte digests shuffle, never text.
      * Island-merging exploits the FIXED gram length: sorted by
      * start, a new span begins exactly when start − prev_start > n
      * (running max-end is prev_start + n), so the merge is one
      * lag + running-sum window partitioned by doc — small per-doc
      * partitions at any corpus size — and both downstream groupBys
      * reuse the window's doc_id partitioning (subset clustering: no
      * further exchange).
      */
    def dupSpans(id: Column, tokens: Column, n: Int): DataFrame = {
      require(n >= 2 && n <= 32, s"n must be in [2, 32], got $n")
      // Same digest-keyed pin layout as [[dupNgramStats]]: the dup-gram
      // aggregate and the join back both consume the pinned hash(_g)
      // blocks shuffle-free; only the per-doc island window exchanges.
      val inst = pinLineage(df.select(id.as("doc_id"), tokens.as("_t"))
        .select(col("doc_id"), size(col("_t")).as("n_tokens"),
          posexplode(ngrams(col("_t"), n)).as(Seq("start", "_gs")))
        .select(col("doc_id"), col("n_tokens"), col("start"),
          md5(col("_gs")).as("_g"))
        .keyedBy(col("_g")))
      val dup = inst.groupBy("_g").agg(count(lit(1)).as("_c"))
        .filter(col("_c") >= 2).select("_g")
      val w = Window.partitionBy("doc_id").orderBy("start")
      val spans = inst.join(dup, "_g")
        .withColumn("_prev", lag(col("start"), 1).over(w))
        .withColumn("_brk",
          when(col("_prev").isNull ||
            col("start") - col("_prev") > n, 1L).otherwise(0L))
        .withColumn("_island", sum(col("_brk")).over(
          w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        .groupBy("doc_id", "n_tokens", "_island")
        .agg(min(col("start")).as("_s0"),
          (max(col("start")) + n).as("_e0"))
      spans.groupBy("doc_id", "n_tokens")
        .agg(count(lit(1)).as("n_spans"),
          sum(col("_e0") - col("_s0")).as("dup_tokens"),
          max(col("_e0") - col("_s0")).as("max_span"))
        .withColumn("dup_frac",
          floor(col("dup_tokens") * lit(10000.0) / col("n_tokens") + 0.5)
            / 10000)
    }

    /** Document-level duplicated-content drop rule (the MassiveText /
      * Gopher filter, Rae et al. 2021 §A.1.2; Lee et al. 2022 use the
      * same span machinery): compute each document's duplicated-token
      * fraction via [[dupSpans]] and KEEP only documents at or below
      * `maxDupFrac` — documents without any duplicated span carry
      * dup_frac 0 and always survive. Returns the kept rows of this
      * frame plus their audited `dup_frac`.
      *
      * Scale = [[dupSpans]] (digests-only shuffles) plus one join-back
      * of the per-doc stats on the id — stats rows exist only for
      * documents that HAVE duplicated spans, so the join's build side
      * is the dirty subset, not the corpus.
      */
    def dupDocFilter(id: Column, tokens: Column, n: Int,
                     maxDupFrac: Double): DataFrame = {
      require(maxDupFrac >= 0 && maxDupFrac <= 1,
        s"maxDupFrac must be in [0, 1], got $maxDupFrac")
      val stats = df.dupSpans(id, tokens, n)
        .select(col("doc_id").as("_df_id"), col("dup_frac").as("_df_frac"))
      df.withColumn("_df_key", id)
        .join(stats, col("_df_key") === col("_df_id"), "left")
        .withColumn("dup_frac", coalesce(col("_df_frac"), lit(0.0)))
        .filter(col("dup_frac") <= maxDupFrac)
        .drop("_df_key", "_df_id", "_df_frac")
    }

    /** Benchmark decontamination (the GPT-3 appendix-C / PaLM recipe):
      * flag every TRAINING document sharing at least one token n-gram
      * with an EVAL-set document, so contaminated examples can be
      * dropped before pre-training. `isEval` partitions the input into
      * the eval set (true) and the training corpus (false). Output, one
      * row per training doc with ≥ n tokens: (doc_id, n_grams distinct
      * grams, n_contaminated grams shared with eval, contaminated).
      * Training docs shorter than n tokens carry no grams and are
      * excluded — document-level policy for those belongs upstream.
      *
      * Scale shape: grams are built with the same pure-projection
      * transform as [[dupNgramStats]] ([[ops.ngrams]]: no window, no
      * shuffle) and only md5 digests shuffle. The eval side is DISTINCT gram digests of
      * the eval set only — benchmarks are MBs against a TB-scale
      * corpus, so it is explicitly broadcast: the contamination check
      * costs zero extra shuffles of the training corpus (a map-side
      * hash probe), which is the only shape that survives 100 TB. The
      * instance table feeds both sides, so it is checkpointed once.
      */
    def ngramDecontaminate(id: Column, tokens: Column, isEval: Column,
                           n: Int): DataFrame = {
      require(n >= 2 && n <= 32, s"n must be in [2, 32], got $n")
      val inst = pinLineage(df
        .select(id.as("doc_id"), isEval.as("_ev"), tokens.as("_t"))
        .select(col("doc_id"), col("_ev"),
          explode(ngrams(col("_t"), n)).as("_gs"))
        .select(col("doc_id"), col("_ev"), md5(col("_gs")).as("_g")))
      val evalGrams = inst.filter(col("_ev")).select("_g").distinct()
        .withColumn("_hit", lit(1L))
      inst.filter(!col("_ev")).select("doc_id", "_g").distinct()
        .join(broadcast(evalGrams), Seq("_g"), "left")
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_grams"),
          sum(coalesce(col("_hit"), lit(0L))).as("n_contaminated"))
        .withColumn("contaminated", col("n_contaminated") > 0)
    }

    /** SEMANTIC benchmark decontamination — the embedding sibling of
      * [[ngramDecontaminate]]: rows where `isEval` holds are the
      * benchmark; every other row gets its max 4dp-rounded cosine
      * against ANY eval vector and a `contaminated` flag at `tau`.
      * Catches paraphrased eval leakage exact n-gram overlap misses.
      * Scale shape mirrors the n-gram form: the eval side broadcasts
      * (benchmarks are MBs against a TB corpus), the check is one
      * map-side pass, and the per-row max partial-aggregates to one
      * row per id before the only exchange — pairs never shuffle.
      * Output: (id, max_cos_eval, contaminated).
      */
    def semanticDecontaminate(id: Column, vec: Column, isEval: Column,
                              tau: Double): DataFrame = {
      require(tau >= -1 && tau <= 1, s"tau must be in [-1,1], got $tau")
      val ev = df.filter(isEval).select(vec.as("_ev_emb"))
      df.filter(!isEval)
        .select(id.as("id"), vec.as("_emb"))
        .crossJoin(broadcast(ev))
        .select(col("id"),
          // r4tie, not round: the max below ranks these values, and a
          // cosine landing exactly on .xxxx5 would round differently
          // in Spark (HALF_UP) vs the replaying oracle — the r11
          // knife-edge class. floor(x*1e4+0.5)/1e4 is the same IEEE
          // expression in both engines for either sign.
          graft.Norm.r4tie(GraftFunctions.cosine_sim(col("_emb"),
            col("_ev_emb"))).as("_c"))
        .groupBy("id")
        .agg(max(col("_c")).as("max_cos_eval"))
        .withColumn("contaminated", col("max_cos_eval") >= tau)
    }

    /** One-scan vocabulary heavy-hitters: the Misra–Gries summary
      * over strings ([[graft.functions.MisraGriesAgg]]) exploded to a
      * (term, est) table. ≤k-entry buffer per partition through the
      * shuffle — the bounded-memory alternative to `groupBy(term)`,
      * which must shuffle the full vocabulary. Estimates carry the MG
      * guarantee (f − n/(k+1) ≤ est ≤ f; every term with
      * f > n/(k+1) present); at k ≥ |vocab| the summary is exact.
      */
    def vocabSketch(term: Column, k: Int): DataFrame =
      df.select(graft.functions.MisraGriesAgg.column[String](k)(term).as("_mg"))
        .select(explode(col("_mg")).as(Seq("term", "est")))

    /** Data-driven language/label ID: build per-label token profiles
      * (top `profileSize` terms by frequency — the "training" step),
      * score every row by distinct-token overlap with each profile,
      * predict the argmax (ties → label asc). Profiles are tiny
      * (labels × profileSize) and broadcast. Output:
      * (doc_id, predicted, score).
      */
    def languageId(id: Column, tokens: Column, label: Column,
                   profileSize: Int = 10): DataFrame = {
      val tok = df.select(id.as("doc_id"), label.as("lbl"),
        explode(tokens).as("term"))
      val wp = Window.partitionBy("lbl").orderBy(col("cnt").desc, col("term"))
      val profile = tok.groupBy("lbl", "term").agg(count(lit(1)).as("cnt"))
        .withColumn("rn", row_number().over(wp))
        .filter(col("rn") <= profileSize)
        .select(col("lbl").as("p_lang"), col("term"))
      val wd = Window.partitionBy("doc_id")
        .orderBy(col("score").desc, col("p_lang"))
      tok.select("doc_id", "term").distinct()
        .join(broadcast(profile), "term")
        .groupBy("doc_id", "p_lang").agg(count(lit(1)).as("score"))
        .withColumn("rn", row_number().over(wd))
        .filter(col("rn") === 1)
        .select(col("doc_id"), col("p_lang").as("predicted"), col("score"))
    }

    /** Quality scoring — the standard cheap pre-filter for LLM corpora:
      * token stats, stopword/alpha ratios, and a composite score, all
      * pure per-row fold expressions (no shuffle, no UDF). Ratios are
      * computed at full precision; only output columns are rounded.
      */
    def qualityScores(id: Column, tokens: Column, nChars: Column,
                      stopwords: Seq[String]): DataFrame = {
      val d = df.select(id.as("doc_id"), nChars.as("n_chars"),
          tokens.as("toks"))
        .withColumn("stop_r",
          size(filter(col("toks"), t => t.isInCollection(stopwords)))
            .cast("double") / size(col("toks")))
        .withColumn("alpha_r",
          size(filter(col("toks"), t => t.rlike("^[a-z]+$")))
            .cast("double") / size(col("toks")))
      d.select(col("doc_id"), col("n_chars"),
        size(col("toks")).as("n_tokens"),
        round(col("n_chars").cast("double") / size(col("toks")), 4)
          .as("avg_token_len"),
        round(col("stop_r"), 4).as("stopword_ratio"),
        round(col("alpha_r"), 4).as("alpha_ratio"),
        round(col("alpha_r") * (lit(1.0) - col("stop_r")) *
          least(size(col("toks")).cast("double") / 50.0, lit(1.0)), 4)
          .as("quality"))
    }

    /** Logistic quality-classifier scoring — the engine half of the
      * fastText-style quality filter every web-scale pipeline runs
      * (GPT-3/LLaMA "looks-like-WebText" filtering, CCNet's linear
      * head): given PRETRAINED weights over interpretable per-doc
      * features (stopword ratio, lowercase-alpha ratio, ln token
      * count, mean token length), score = σ(b + w·x) and keep docs
      * past `threshold`. Training happens offline; scoring is the
      * 100 TB-shaped part and is a pure per-row projection here — no
      * shuffle, no UDF, whole-stage codegen end to end.
      *
      * Determinism: the multiply-add chain is written in one fixed
      * order (bias + stop + alpha + logTok + len) and replayed
      * verbatim by the oracle, so the pre-round doubles agree
      * bit-for-bit; `kept` compares the UNROUNDED logit against 0
      * (σ(z) ≥ ½ ⟺ z ≥ 0) to dodge any rounded-edge flip.
      */
    def qualityClassify(id: Column, tokens: Column, nChars: Column,
                        stopwords: Seq[String],
                        bias: Double, wStop: Double, wAlpha: Double,
                        wLogTok: Double, wLen: Double): DataFrame = {
      require(stopwords.nonEmpty, "stopwords must be non-empty")
      val d = df.select(id.as("doc_id"), nChars.as("n_chars"),
          tokens.as("_toks"))
        .withColumn("_n", size(col("_toks")))
        .withColumn("_stop_r",
          size(filter(col("_toks"), t => t.isInCollection(stopwords)))
            .cast("double") / col("_n"))
        .withColumn("_alpha_r",
          size(filter(col("_toks"), t => t.rlike("^[a-z]+$")))
            .cast("double") / col("_n"))
        .withColumn("_z",
          lit(bias) + lit(wStop) * col("_stop_r") +
            lit(wAlpha) * col("_alpha_r") +
            lit(wLogTok) * log(col("_n").cast("double")) +
            lit(wLen) * (col("n_chars").cast("double") / col("_n")))
      d.select(col("doc_id"), col("_n").as("n_tokens"),
        graft.Norm.r4tie(lit(1.0) / (lit(1.0) + exp(-col("_z"))))
          .as("score"),
        (col("_z") >= 0).as("kept"))
    }

    /** Deterministic, content-stable dataset split (train/val/test) by
      * hash bucket of `id` — the production pattern for corpus splits:
      * assignment depends only on the id, so it is reproducible across
      * runs, engines, partitionings, and incremental re-ingests (a
      * seeded `sample()` is none of those — its RNG is partition-
      * dependent). `cuts` are (name, exclusive-upper-bucket) pairs over
      * 100 md5-derived buckets, ascending, last entry taking the rest.
      * Pure per-row projection: no shuffle, no state.
      */
    def withHashSplit(id: Column, out: String = "split",
                      cuts: Seq[(String, Int)] =
                        Seq("train" -> 80, "val" -> 90, "test" -> 100))
        : DataFrame = {
      require(cuts.nonEmpty && cuts.last._2 == 100 &&
        cuts.map(_._2) == cuts.map(_._2).sorted,
        "cuts must ascend and end at 100")
      val bucket = md5Bucket(id, 100)
      val assigned = cuts.init.reverse
        .foldLeft(lit(cuts.last._1): Column) {
          case (acc, (name, hi)) => when(bucket < hi, lit(name)).otherwise(acc)
        }
      df.withColumn(out, assigned)
    }

    /** Token-budget mixture sampling — the Dolma/Pile mixture-building
      * step: given target corpus SHARES per stratum (e.g. language)
      * and a total token `budget`, derive each stratum's sampling rate
      * FROM THE DATA (`rate = min(1, budget·share / stratum_tokens)`)
      * and keep rows by the same content-stable md5 bucket as
      * [[stratifiedHashSample]]. Rates are computed in-plan: one
      * partial-agged shuffle over #strata keys, broadcast back onto
      * the scan — no driver collect, so the same plan runs when the
      * totals come from 100 TB. The md5 bucket makes samples
      * reproducible AND nested: raising the budget only ADDS rows
      * (ablation-friendly), never reshuffles the kept set. Strata
      * absent from `shares` get share 0 → dropped. Output: the kept
      * rows plus their stratum's `rate` column.
      */
    def tokenBudgetMixture(id: Column, stratum: Column, weight: Column,
                           shares: Map[String, Double], budget: Long,
                           buckets: Int = 10000): DataFrame = {
      require(budget > 0, s"budget must be positive, got $budget")
      require(shares.nonEmpty, "shares must be non-empty")
      shares.values.foreach(s =>
        require(s >= 0 && s <= 1, s"shares must be in [0,1], got $s"))
      val shareCol = shares.toSeq.sortBy(_._1)
        .foldLeft(lit(0.0): Column) { case (acc, (k, s)) =>
          when(col("_stratum") === lit(k), lit(s)).otherwise(acc)
        }
      val d = df.withColumn("_stratum", stratum)
      val rates = d.groupBy("_stratum")
        .agg(sum(weight.cast("long")).as("_tot"))
        .select(col("_stratum"),
          least(lit(1.0), lit(budget.toDouble) * shareCol / col("_tot"))
            .as("rate"))
      d.join(broadcast(rates), "_stratum")
        .filter(md5Bucket(id, buckets) < col("rate") * buckets)
        .drop("_stratum")
    }

    /** Temperature-smoothed mixture sampling (the multilingual
      * rebalancing rule of XLM-R / mT5, Conneau et al. 2020 §3.1):
      * instead of explicit target shares, stratum sampling mass is
      * q_s ∝ (n_s)^α — α ∈ (0, 1) flattens the natural distribution,
      * upweighting tail strata (α = 1 keeps natural proportions,
      * α = 0 gives uniform). Per-stratum keep rate =
      * min(1, budget · q_s / n_s), applied via the content-stable md5
      * bucket (same nesting/replay guarantees as
      * [[stratifiedHashSample]]).
      *
      * In-plan like [[tokenBudgetMixture]]: one #strata-key partial-
      * agged shuffle for the totals, a 1-row agg for the normalizer
      * Σ(n_m)^α, both broadcast back onto the stream — no collect, so
      * the same plan derives the mixture from 100 TB of totals.
      */
    def temperatureMixture(id: Column, stratum: Column, weight: Column,
                           alpha: Double, budget: Long,
                           buckets: Int = 10000): DataFrame = {
      require(alpha > 0 && alpha <= 1, s"alpha must be in (0,1], got $alpha")
      require(budget > 0, s"budget must be positive, got $budget")
      val d = df.withColumn("_stratum", stratum)
      val totals = d.groupBy("_stratum")
        .agg(sum(weight.cast("long")).as("_tot"))
      val norm = totals.agg(sum(pow(col("_tot"), alpha)).as("_norm"))
      val rates = totals.crossJoin(broadcast(norm))
        .select(col("_stratum"),
          least(lit(1.0),
            lit(budget.toDouble) * pow(col("_tot"), alpha) / col("_norm")
              / col("_tot")).as("rate"))
      d.join(broadcast(rates), "_stratum")
        .filter(md5Bucket(id, buckets) < col("rate") * buckets)
        .drop("_stratum")
    }

    /** Stratified hash sampling: keep each row with a per-stratum rate
      * — the mixture-rebalancing primitive of training-data pipelines
      * (downweight the over-represented language/source without
      * touching the rest). Like [[withHashSplit]] it is content-stable
      * (md5-bucket of `id`), so the SAME rows are kept across runs,
      * engines, and repartitionings — seeded `sample()` guarantees
      * none of that — and a row kept at rate r stays kept at every
      * rate ≥ r (nested samples for ablations). Rate granularity is
      * 1/`buckets`. Pure projection + filter: no shuffle, pushes into
      * the scan.
      */
    def stratifiedHashSample(id: Column, stratum: Column,
                             rates: Map[String, Double],
                             default: Double = 1.0,
                             buckets: Int = 10000): DataFrame = {
      (rates.values.toSeq :+ default).foreach(r =>
        require(r >= 0 && r <= 1, s"rates must be in [0,1], got $r"))
      val rate = rates.toSeq.sortBy(_._1).foldLeft(lit(default): Column) {
        case (acc, (k, r)) => when(stratum === lit(k), lit(r)).otherwise(acc)
      }
      df.filter(md5Bucket(id, buckets) < rate * buckets)
    }

    /** Symmetric int8 scalar quantization of an embedding column —
      * the standard 4× footprint cut before vectors go to an ANN
      * index (FAISS's SQ8 shape): per-vector scale = max|v|/127,
      * q_i = round_half_up(v_i/scale) ∈ [-127, 127]. Output:
      * (vec_id, scale, q_sum, err_l2) — the quantized checksum and
      * L2 reconstruction error make the lossy step auditable. Pure
      * per-row fold expressions: no shuffle, no UDF; rounding is
      * floor(x + 0.5) so both engines agree (Spark round() is HALF_UP,
      * DuckDB's half-even), and the error fold is a LEFT fold so the
      * double accumulation order is engine-identical.
      */
    /** Weighted sampling without replacement, top-`k` per stratum, by
      * the Efraimidis–Spirakis key (u^(1/w), taken in log space:
      * ln(u)/w — same ordering, no pow): each row's inclusion chance
      * is proportional to `weight`, yet selection is fully
      * DETERMINISTIC because u comes from md5(id), not a PRNG — the
      * property a training-data mixer needs (re-runs, engine swaps,
      * and re-ingests pick the identical sample; the DuckDB oracle
      * re-derives u arithmetically). u quantizes to 16 md5 bits —
      * selection granularity, not a correctness knob; key ties break
      * on id in both engines.
      *
      * Scale: the rank filter is a row_number over (stratum, key),
      * which Spark 3.5+ executes as WindowGroupLimit — a partial
      * per-partition top-k BEFORE the shuffle (pinned in PlanSpec), so
      * shuffle volume is O(partitions × k), not O(rows); the classic
      * two-phase distributed reservoir without leaving the declarative
      * plan.
      */
    def weightedSample(id: Column, weight: Column, stratum: Column,
                       k: Int): DataFrame = {
      require(k >= 1, s"k must be >= 1, got $k")
      val u = (conv(substring(md5(id.cast("string")), 1, 4), 16, 10)
        .cast("double") + 1) / 65536.0
      val key = log(u) / weight
      val w = Window.partitionBy(stratum).orderBy(key.desc, id.asc)
      df.withColumn("_rn", row_number().over(w))
        .filter(col("_rn") <= k)
        .withColumnRenamed("_rn", "rank")
    }

    /** DSIR importance selection — Data Selection via Importance
      * Resampling (Xie et al., NeurIPS 2023, arXiv:2302.03169): rank
      * every raw document by how target-like its token distribution
      * is, `logw = mean_t [ ln p_tgt(t) − ln p_raw(t) ]` under
      * add-one-smoothed unigram models that share the raw corpus's
      * vocabulary (the engine-expressible core of DSIR's hashed
      * bag-of-ngrams models). `isTarget` marks the in-plan rows that
      * train the target model (DSIR uses a held-out quality corpus;
      * any stratum of the input works the same way). Canonical DSIR
      * perturbs logw with Gumbel noise before the top-k; the
      * deterministic form here orders by (logw desc, id) so every
      * engine and every re-run selects the identical k rows — swap
      * the ordering key for `logw + gumbel(md5(id))` when statistical
      * resampling matters.
      *
      * Scale: both model aggs are partial-agged explode shuffles; the
      * joined log-ratio model is vocab-sized and BROADCAST (cap the
      * vocab with a min-count cut at web scale); scoring is one more
      * partial agg over tokens and the top-k is TakeOrderedAndProject
      * — no full sort, no driver state, no UDF. logw is rounded with
      * the tie-proof floor identity, which the oracle replays verbatim
      * (sign-safe here because BOTH engines use the same floor — the
      * r4tie non-negativity caveat is about matching round(), which
      * this path never calls).
      */
    def dsirTopK(id: Column, tokens: Column, isTarget: Column,
                 k: Int): DataFrame = {
      require(k >= 1, s"k must be >= 1, got $k")
      val tok = df.select(id.as("doc_id"), isTarget.as("_tgt"),
        explode(tokens).as("term"))
      val raw = tok.groupBy("term").agg(count(lit(1)).as("_craw"))
      val tgt = tok.filter(col("_tgt")).groupBy("term")
        .agg(count(lit(1)).as("_ctgt"))
      val stats = raw.agg(sum(col("_craw")).cast("double").as("_nraw"),
        count(lit(1)).cast("double").as("_v"))
      val ntgt = tgt.agg(coalesce(sum(col("_ctgt")), lit(0L))
        .cast("double").as("_ntgt"))
      val model = raw.join(tgt, Seq("term"), "left")
        .crossJoin(broadcast(stats)).crossJoin(broadcast(ntgt))
        .select(col("term"),
          (log((coalesce(col("_ctgt"), lit(0L)).cast("double") + 1) /
               (col("_ntgt") + col("_v"))) -
           log((col("_craw").cast("double") + 1) /
               (col("_nraw") + col("_v")))).as("_logr"))
      tok.join(broadcast(model), "term")
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_tokens"),
          graft.Norm.r4tie(avg(col("_logr"))).as("logw"))
        .orderBy(col("logw").desc, col("doc_id"))
        .limit(k)
    }

    def int8Quantize(id: Column, vec: Column): DataFrame = {
      val v = df.select(id.as("vec_id"), vec.as("v"))
        .withColumn("scale",
          array_max(transform(col("v"), x => abs(x))) / 127d)
        .withColumn("q",
          when(col("scale") === 0,
            transform(col("v"), _ => lit(0L)))
          .otherwise(transform(col("v"),
            x => floor(x / col("scale") + 0.5).cast("long"))))
      // err_l2 is computed BEFORE the rounded `scale` alias exists:
      // in one select, `col("scale")` next to an alias also named
      // `scale` resolves to the lateral alias (the ROUNDED value),
      // which inflated the reconstruction error ~2x. withColumn
      // stages keep every reference unambiguous.
      v.withColumn("q_sum", aggregate(col("q"), lit(0L), (a, x) => a + x))
        .withColumn("err_l2", graft.Norm.r4tie(sqrt(aggregate(
          zip_with(col("v"), col("q"),
            (x, q) => pow(x - q * col("scale"), 2)),
          lit(0d), (a, x) => a + x))))
        .select(col("vec_id"),
          graft.Norm.r4tie(col("scale")).as("scale"),
          col("q_sum"), col("err_l2"))
    }

    /** Product-quantization encode (Jégou, Douze & Schmid 2011,
      * "Product Quantization for Nearest Neighbor Search") — the
      * third leg of the FAISS quantizer family next to
      * [[int8Quantize]] (SQ8) and IVF cells: split each vector into
      * `m` contiguous subvectors and snap each to its nearest code
      * (L2, tie → lower code id) from that subspace's codebook, so a
      * dim-`d` float vector compresses to `m` small ints (d·4 bytes →
      * m bytes at k ≤ 256). `codebooks(j)(c)` is the c-th code of
      * subspace j; train them offline (Lloyd per subspace — the same
      * caller-side loop as [[lloydRefine]]) or pass seeded random
      * codes as the untrained baseline. Output: (vec_id, codes
      * array<int>, err_l2 — the total quantization distortion, the
      * auditable lossiness number).
      *
      * Scale shape: pure per-row projection — the codebooks are
      * plan-time literals (m·k·subdim doubles, a few KB), subvector
      * slices and self-dots are hoisted to attributes ONCE per row
      * (higher-order lambdas get no subexpression elimination — the
      * dupNgramStats lesson), and each argmin is a k-element
      * array_sort on (dist, code) structs. No shuffle, no UDF, no
      * driver state.
      */
    def pqEncode(id: Column, vec: Column,
                 codebooks: Seq[Seq[Seq[Double]]]): DataFrame = {
      val m = codebooks.length
      require(m >= 1, "codebooks must be non-empty")
      val k = codebooks.head.length
      val subdim = codebooks.head.head.length
      require(codebooks.forall(cb => cb.length == k &&
        cb.forall(_.length == subdim)),
        "codebooks must be rectangular: m × k × subdim")
      val withSubs = (0 until m).foldLeft(
        df.select(id.as("vec_id"), vec.as("_v"))) { (d, j) =>
        d.withColumn(s"_s$j",
            transform(slice(col("_v"), j * subdim + 1, subdim),
              _.cast("double")))
          .withColumn(s"_sd$j", dotd(col(s"_s$j"), col(s"_s$j")))
      }
      val mins = (0 until m).map { j =>
        val cands = array(codebooks(j).indices.map { c =>
          val code = codebooks(j)(c)
          val d2 = col(s"_sd$j") -
            lit(2.0) * dotd(col(s"_s$j"), typedLit(code)) +
            lit(code.map(x => x * x).sum)
          struct(d2.as("d"), lit(c).as("c"))
        }: _*)
        array_sort(cands).getItem(0)
      }
      withSubs
        .withColumn("_mins", array(mins: _*))
        .select(col("vec_id"),
          transform(col("_mins"), x => x.getField("c")).as("codes"),
          graft.Norm.r4tie(sqrt(greatest(lit(0.0),
            aggregate(transform(col("_mins"), x => x.getField("d")),
              lit(0.0), (a, x) => a + x)))).as("err_l2"))
    }

    /** Per-subspace Lloyd training of PQ codebooks — the exact twin
      * of [[lloydRefine]] for the product-quantizer: each subspace
      * independently runs `iters` rounds of assign (L2 argmin, the
      * same distance [[pqEncode]] uses) + re-center (mean via the
      * mergeable CentroidAgg — plain means, NOT unit-normalized:
      * PQ is an L2 quantizer, not a cosine one). Empty codes keep
      * their previous center, so k never shrinks. Driver state is m
      * k×subdim collects per iteration — the bounded MLlib-KMeans
      * footprint; subvectors never leave the executors. Subspace
      * inertia (Σ min-d²) is non-increasing per round — pinned in
      * QualitySpec via [[pqEncode]]'s err_l2 rather than re-derived.
      */
    def pqTrain(vec: Column, codebooks: Seq[Seq[Seq[Double]]],
                iters: Int): Seq[Seq[Seq[Double]]] = {
      require(iters >= 1, s"iters must be >= 1, got $iters")
      val m = codebooks.length
      val subdim = codebooks.head.head.length
      (0 until m).map { j =>
        var cb = codebooks(j)
        val sub = df.select(
            transform(slice(vec, j * subdim + 1, subdim), _.cast("double"))
              .as("_sv"))
          .withColumn("_sd", dotd(col("_sv"), col("_sv")))
        for (_ <- 1 to iters) {
          val cands = array(cb.indices.map { c =>
            val code = cb(c)
            struct((col("_sd") - lit(2.0) * dotd(col("_sv"), typedLit(code))
              + lit(code.map(x => x * x).sum)).as("d"),
              lit(c).as("c"))
          }: _*)
          val cents = sub
            .withColumn("_code", array_sort(cands).getItem(0).getField("c"))
            .centroidPerKey(col("_code"),
              transform(col("_sv"), _.cast("float")))
            .collect().map(r => r.getInt(0) -> r.getSeq[Double](1)).toMap
          cb = cb.indices.map(c => cents.getOrElse(c, cb(c)).toIndexedSeq)
        }
        cb
      }
    }

    /** Asymmetric-distance (ADC) top-k search over a PQ-encoded
      * table: approximate q·v as Σ_j q_sub_j · codebook_j[code_j] —
      * the query stays full-precision, the corpus stays m-byte codes
      * (the PQ paper's ADC regime, the accuracy-preserving one). The
      * inner-product lookup table per (subspace, code) is built as
      * plan-time literal arithmetic against the broadcast query, so
      * scoring an encoded row is m array-index adds — no vector
      * reconstruction, no text/float traffic — followed by one
      * per-query top-k window (WindowGroupLimit partial top-k below
      * the shuffle).
      */
    def pqAdcTopK(queries: DataFrame,
                  codebooks: Seq[Seq[Seq[Double]]], k: Int): DataFrame = {
      val codesDf = df // the PQ-encoded table: (vec_id, codes)
      require(k >= 1, s"k must be >= 1, got $k")
      val m = codebooks.length
      val subdim = codebooks.head.head.length
      val withQSubs = (0 until m).foldLeft(queries) { (d, j) =>
        d.withColumn(s"_q$j",
          transform(slice(col("qv"), j * subdim + 1, subdim),
            _.cast("double")))
      }
      // Per subspace: the k-entry LUT of q_sub_j · code as an array
      // literal-of-dots; scoring indexes it with the stored code.
      val withLut = (0 until m).foldLeft(withQSubs) { (d, j) =>
        d.withColumn(s"_lut$j", array(codebooks(j).map(code =>
          dotd(col(s"_q$j"), typedLit(code))): _*))
      }
      val qcols = col("qid") +: (0 until m).map(j => col(s"_lut$j"))
      val adc = (0 until m).map(j =>
        element_at(col(s"_lut$j"), col("codes").getItem(j) + 1))
        .reduce(_ + _)
      val w = Window.partitionBy("qid")
        .orderBy(col("adc").desc, col("vec_id"))
      codesDf.crossJoin(broadcast(withLut.select(qcols: _*)))
        .select(col("qid"), col("vec_id"),
          graft.Norm.r4tie(adc).as("adc"))
        .withColumn("rank", row_number().over(w))
        .filter(col("rank") <= k)
    }

    // ───────────────── mutations (copy-on-write) ─────────────────

    /** MERGE INTO (upsert) expressed copy-on-write — the Spark-first
      * formulation of a mutable table over an immutable columnar lake,
      * and exactly what Delta/Iceberg COW MERGE lowers to: one
      * equi-join of target and source on the merge key, matched rows
      * take every source column, unmatched-by-target source rows
      * insert, unmatched-by-source target rows carry over; the caller
      * writes the result as the new snapshot. Semantics: WHEN MATCHED
      * THEN UPDATE SET * / WHEN NOT MATCHED THEN INSERT *.
      *
      * Scale: a plain key equi-join — broadcast when the source is
      * change-set-sized (AQE decides), sort-merge when both sides are
      * big. At 100 TB, join the source's touched partition values
      * first and rewrite ONLY those partitions (dynamic partition
      * overwrite); the merge plan itself is unchanged. Source keys
      * must be unique (standard MERGE precondition — duplicate source
      * keys make the update non-deterministic).
      */
    def mergeUpsert(source: DataFrame, key: String): DataFrame = {
      val cols = df.columns.toSeq
      require(source.columns.toSeq.sorted == cols.sorted,
        s"mergeUpsert: schemas differ (target=${cols.sorted
          .mkString(",")} source=${source.columns.sorted.mkString(",")})")
      val t = df.select(cols.map(c => col(c).as(s"t_$c")): _*)
      // Source key nullness IS the matched/insert flag after the full
      // outer join (coalesce alone would mis-handle legitimate NULL
      // source values in non-key columns) — so a NULL key in an actual
      // source row would silently become an all-NULL output row. Guard
      // loudly in-plan: a driver-side require can't see row data.
      val s = source.select(cols.map { c =>
        val e =
          if (c == key)
            when(col(c).isNotNull, col(c)).otherwise(raise_error(
              lit(s"mergeUpsert: NULL merge key '$key' in source row")))
          else col(c)
        e.as(s"s_$c")
      }: _*)
      val matched = col(s"s_$key").isNotNull
      t.join(s, col(s"t_$key") === col(s"s_$key"), "full_outer")
        .select(cols.map(c =>
          when(matched, col(s"s_$c")).otherwise(col(s"t_$c")).as(c)): _*)
    }

    /** UPDATE ... SET ... WHERE as a pure projection (copy-on-write):
      * rows satisfying `cond` take the `set` expressions, every other
      * row (including NULL-cond rows, per SQL) passes through. No
      * shuffle — at scale this is a partition-local rewrite.
      */
    def updateWhere(cond: Column, set: Map[String, Column]): DataFrame = {
      val unknown = set.keySet -- df.columns.toSet
      require(unknown.isEmpty, s"updateWhere: no such columns $unknown")
      val hit = coalesce(cond, lit(false))
      df.select(df.columns.toSeq.map { c =>
        set.get(c).map(e => when(hit, e).otherwise(col(c)).as(c))
          .getOrElse(col(c))
      }: _*)
    }

    /** DELETE ... WHERE as a retain-filter (copy-on-write). SQL DELETE
      * removes rows where `cond` IS TRUE — rows where it evaluates to
      * NULL are KEPT, which a naive `filter(!cond)` would drop.
      */
    def deleteWhere(cond: Column): DataFrame =
      df.filter(!coalesce(cond, lit(false)))

    /** Type-2 slowly-changing-dimension merge (the standard warehouse
      * history-keeping MERGE): `df` is the dimension snapshot carrying
      * (`key`, attributes…, `valid_from`, `valid_to`, `is_current`);
      * `changes` carries (`key`, attributes…, `tsCol`). Per change
      * row: a new key inserts an open version; a matched key whose
      * attributes differ (NULL-safe compare) closes the current
      * version at the change timestamp and inserts the new open one; a
      * matched key with identical attributes is a no-op. History rows
      * (`is_current = false`) pass through untouched.
      *
      * Preconditions, guarded like [[mergeUpsert]]: at most one change
      * per key per merge (two versions of one key in one batch have no
      * defined order — run batches in timestamp order); change keys
      * non-NULL (in-plan raise_error, since a driver require can't see
      * row data).
      *
      * Scale: ONE full-outer equi-join between the CURRENT slice and
      * the change set (broadcast-able — change sets are deltas), plus
      * pure filters/unions; the history slice never shuffles. At
      * 100 TB partition the dimension by is_current (or date) so the
      * join reads only the current partition.
      */
    def scd2Merge(changes: DataFrame, key: String, tsCol: String): DataFrame = {
      val scd = Seq("valid_from", "valid_to", "is_current")
      scd.foreach(c => require(df.columns.contains(c),
        s"scd2Merge: target lacks SCD column '$c'"))
      val attrs = df.columns.toSeq
        .filterNot(c => c == key || scd.contains(c))
      require(changes.columns.toSet == (attrs :+ key :+ tsCol).toSet,
        s"scd2Merge: change set must carry exactly (key, attrs, ts): " +
          s"expected ${(attrs :+ key :+ tsCol).sorted.mkString(",")} " +
          s"got ${changes.columns.sorted.mkString(",")}")
      val ch = changes.select(
        when(col(key).isNotNull, col(key)).otherwise(raise_error(
            lit(s"scd2Merge: NULL key '$key' in change row")))
          .as(s"_ch_$key") +:
          col(tsCol).as("_ch_ts") +:
          attrs.map(a => col(a).as(s"_ch_$a")): _*)
      val cur = df.filter(col("is_current"))
      val hist = df.filter(!col("is_current"))
      val j = cur.join(ch, col(key) === col(s"_ch_$key"), "full_outer")
      val matched = col(key).isNotNull && col(s"_ch_$key").isNotNull
      val differs = attrs.map(a => !(col(a) <=> col(s"_ch_$a")))
        .reduceOption(_ || _).getOrElse(lit(false))
      // Emit all outcome rows in ONE pass over the join (explode of a
      // per-row candidate array). Filter-per-outcome + union looks
      // equivalent but makes Catalyst EXECUTE the join once per
      // branch (3x join, 6x dimension scan — PlanSpec pins this).
      val cols = df.columns.toSeq
      def shaped(f: String => Column): Column =
        struct(cols.map(c => f(c).as(c)): _*)
      val targetRow = shaped(col)
      val closedRow = shaped {
        case "valid_to" =>
          col("_ch_ts").cast(df.schema("valid_to").dataType)
        case "is_current" => lit(false)
        case c => col(c)
      }
      val openedRow = shaped {
        case `key` => col(s"_ch_$key")
        case "valid_from" =>
          col("_ch_ts").cast(df.schema("valid_from").dataType)
        case "valid_to" => lit(null).cast(df.schema("valid_to").dataType)
        case "is_current" => lit(true)
        case a => col(s"_ch_$a")
      }
      val emitted =
        when(matched && differs, array(closedRow, openedRow))
          .when(col(key).isNotNull, array(targetRow)) // untouched / no-op
          .otherwise(array(openedRow))                // brand-new key
      hist.unionByName(
        j.select(explode(emitted).as("_r")).select(col("_r.*")))
    }

    // ──────────────────────── skew tools ────────────────────────

    /** Global row_number over a TOTAL order (`sortCols` must include a
      * unique tiebreaker) WITHOUT the single-partition window that
      * `row_number().over(Window.orderBy(...))` compiles to — the
      * classic scale-killer: one reducer sorts the entire table.
      *
      * Plan: `repartitionByRange(numParts, sortCols)` so partition i
      * holds a contiguous rank range, sort within partitions, then
      * `monotonically_increasing_id()` (pid in the upper 31 bits, a
      * CONSECUTIVE 0-based counter in the lower 33 — assigned after
      * the sort, and Catalyst never reorders a nondeterministic
      * projection below its Sort) yields each row's partition-local
      * rank for free inside codegen. The global rank is local rank +
      * the sum of preceding partitions' row counts.
      *
      * Those counts are the ONE deliberate driver-side value — a
      * ≤`numParts`-row collect, the same footprint the range
      * partitioner already holds for its boundaries (the bloomSemiJoin
      * exception discipline; everything else stays in-plan). The
      * offsets return as a broadcast map literal, so no join and no
      * extra shuffle: one range exchange total, fully parallel, vs the
      * built-in's serial single-partition sort.
      *
      * Partition boundaries come from sampling and are NOT part of the
      * result contract: ranks are determined by the total order alone
      * (offsets are computed from ACTUAL counts), so any boundary
      * placement yields identical output. The checkpoint pins one
      * materialization so the count pass and the output read the same
      * id assignment.
      */
    def globalRowNumber(sortCols: Seq[Column], out: String,
                        numParts: Int = 0): DataFrame = {
      val n = if (numParts > 0) numParts
        else df.sparkSession.conf.get("spark.sql.shuffle.partitions").toInt
      val localMask = (1L << 33) - 1
      val parted = pinLineage(df.repartitionByRange(n, sortCols: _*)
        .sortWithinPartitions(sortCols: _*)
        .withColumn("_gr_mono", monotonically_increasing_id()))
      val counts = parted
        .groupBy(shiftright(col("_gr_mono"), 33).as("_pid"))
        .agg(count(lit(1)).as("_cnt"))
        .collect().map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1)
      var acc = 0L
      val offsets: Map[Long, Long] = counts.map { case (pid, c) =>
        val entry = (pid, acc); acc += c; entry
      }.toMap
      parted.withColumn(out,
          element_at(typedLit(offsets), shiftright(col("_gr_mono"), 33))
            + col("_gr_mono").bitwiseAND(lit(localMask)) + lit(1L))
        .drop("_gr_mono")
    }

    /** Inner equi-join robust to heavy key skew, for when AQE's skew
      * split can't help (e.g. the skew is in the build side of a
      * non-broadcastable join): the probe rows are salted uniformly
      * into `salt` sub-keys and the build side is replicated once per
      * sub-key, so a hot key's rows spread across `salt` reducers
      * instead of stalling one. Costs `salt`× replication of the
      * build side — use with a dimension-sized `right`.
      */
    def saltedJoin(right: DataFrame, key: String, salt: Int): DataFrame = {
      val probe = df.withColumn("_salt",
        pmod(spark_partition_id().cast("long") * 31 +
          monotonically_increasing_id(), lit(salt)).cast("int"))
      val build = right.withColumn("_salt",
        explode(sequence(lit(0), lit(salt - 1))))
      probe.join(build, Seq(key, "_salt")).drop("_salt")
    }

    /** Semi-join reduction: build a Bloom filter over `right`'s join
      * key (a filtered dimension — compact by construction), then drop
      * probe rows that cannot match AT THE PROBE SCAN, before the join
      * shuffle. The final equi-join removes the filter's false
      * positives, so results are exactly the plain join's — the sketch
      * only cuts shuffle volume. At 100 TB this is the classic
      * two-phase semi-join: the probe side never shuffles rows whose
      * keys the build side doesn't hold (at fpp=1% that's ~99% of a
      * fact table probing a selective dim filter).
      *
      * The sketch build is ONE deliberate aggregation action over the
      * *small* side — the same data a broadcast join would ship to the
      * driver anyway, reduced to `-n·ln(fpp)/ln²2` bits (~1.2 MB per
      * million keys at 1%). This is the documented exception to the
      * "no actions in plan builders" rule above; never call it with a
      * fact-sized `right`. Size `expectedItems` ≥ the build side's
      * distinct-key count — undersizing inflates the false-positive
      * rate (still correct, just less reduction).
      */
    def bloomSemiJoin(right: DataFrame, key: String,
                      expectedItems: Long = 1L << 20,
                      fpp: Double = 0.01): DataFrame = {
      val sketch = right.stat.bloomFilter(key, expectedItems, fpp)
      val bos = new java.io.ByteArrayOutputStream()
      sketch.writeTo(bos)
      df.filter(
          GraftFunctions.bloom_might_contain(df(key), bos.toByteArray))
        .join(right, key)
    }

    /** Incremental cross-batch dedup: the rows of THIS frame whose
      * fingerprint `key` does not appear in `base` (the already-
      * ingested corpus) — the ingestion-time filter that keeps a
      * continuously-fed training set duplicate-free without
      * re-deduplicating history.
      *
      * Two-tier plan: a Bloom filter over the base fingerprints is
      * probed AT THE INCOMING SCAN — a Bloom has NO false negatives,
      * so rows the probe rejects are *definitely new* and bypass the
      * join entirely; only the ~fpp false-positive sliver plus the
      * true duplicates continue into the exact anti-join that settles
      * them. On a mostly-novel 100 TB/day feed the anti-join shuffles
      * ~1% of incoming instead of all of it; the base side ships as
      * `-n·ln(fpp)/ln²2` filter bits (~1.2 MB/million keys), not as
      * rows. The filter build is one deliberate action over the
      * base's distinct fingerprints (same documented exception as
      * [[bloomSemiJoin]]); the incoming scan runs twice (once per
      * branch of the union) — scans are the cheap leg, shuffles the
      * expensive one. Fingerprints dedupe EXACTLY on `key`: pick it
      * per policy (full-text digest, prefix digest, normalized-text
      * digest) — near-dup policies belong to the MinHash/SimHash ops.
      */
    def incrementalNew(base: DataFrame, key: Column, baseKey: Column,
                       expectedItems: Long = 1L << 20,
                       fpp: Double = 0.01): DataFrame = {
      val baseKeys = base.select(baseKey.cast("string").as("_bkey"))
        .distinct()
      val sketch = baseKeys.select(xxhash64(col("_bkey")).as("_bh"))
        .stat.bloomFilter("_bh", expectedItems, fpp)
      val bos = new java.io.ByteArrayOutputStream()
      sketch.writeTo(bos)
      val d = df.withColumn("_key", key.cast("string"))
      val probe = GraftFunctions.bloom_might_contain(
        xxhash64(col("_key")), bos.toByteArray)
      val definitelyNew = d.filter(!probe)
      val maybeDup = d.filter(probe)
        .join(baseKeys, col("_key") === col("_bkey"), "left_anti")
      definitelyNew.unionByName(maybeDup).drop("_key")
    }

    // ──────────── monitoring / spatial / sampling ────────────

    /** CUSUM change-point statistics over a keyed integer series: for
      * each (key, time, x) row, emits the exact cumulative-sum score
      * C_i of the recurrence C_i = max(0, C_{i-1} + (x_i − μ_key))
      * computed via its closed form C_i = P_i − min(0, min_{j≤i} P_j)
      * over prefix sums of d_i = n·x_i − S (deviations scaled by the
      * series length n so the mean stays integral — everything exact
      * BIGINT). Output: (key, time, x, c, n); the normalized score is
      * c/n. The level-shift monitor for any keyed count/latency series.
      *
      * Scale: two windows sharing one (key)-partitioned sort; feed it
      * an already-aggregated series (e.g. per-hour counts), not raw
      * rows.
      */
    def cusumScores(key: Column, time: Column, x: Column): DataFrame = {
      val base = df.select(key.as("key"), time.as("time"), x.as("x"))
      val wAll = Window.partitionBy("key")
      val wOrd = Window.partitionBy("key").orderBy("time")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      base
        .withColumn("n", count(lit(1)).over(wAll))
        .withColumn("s", sum(col("x")).over(wAll))
        .withColumn("p", sum(col("n") * col("x") - col("s")).over(wOrd))
        .withColumn("c",
          col("p") - least(lit(0L), min(col("p")).over(wOrd)))
        .select("key", "time", "x", "c", "n")
    }

    /** Gini coefficient per key over non-negative integer values —
      * G = 2Σi·xᵢ/(nΣx) − (n+1)/n with values ranked ascending and
      * ties broken by `id`, so both the rank and the BIGINT Σi·x are
      * engine-reproducible. Output: (key, n, total, gini). Feed
      * integer units (cents, counts); the only float is the final
      * closed form.
      */
    def giniCoefficient(key: Column, id: Column, x: Column): DataFrame = {
      val base = df.select(key.as("key"), id.as("id"),
        x.cast("long").as("x"))
      val w = Window.partitionBy("key").orderBy(col("x"), col("id"))
      base.withColumn("i", row_number().over(w))
        .groupBy("key").agg(
          count(lit(1)).as("n"),
          sum(col("x")).as("total"),
          sum(col("i").cast("long") * col("x")).as("s_ix"))
        .select(col("key"), col("n"), col("total"),
          (lit(2.0) * col("s_ix").cast("double")
            / (col("n").cast("double") * col("total").cast("double"))
            - (col("n") + 1).cast("double") / col("n").cast("double"))
            .as("gini"))
    }

    /** Holt linear (double-exponential) smoothing per key over an
      * ALREADY-AGGREGATED series (feed per-hour counts, not raw rows):
      * ordered fold of lₜ = α·xₜ + (1−α)(lₜ₋₁+bₜ₋₁); bₜ = β(lₜ−lₜ₋₁)
      * + (1−β)bₜ₋₁ with the DYADIC α = β = 0.5 — every intermediate is
      * a finite binary fraction, so results are bit-reproducible on
      * any IEEE engine (the property `q_ts_holt`'s DuckDB oracle
      * proves). Output: (key, n, level, trend); forecast h steps ahead
      * is level + h·trend. Streaming twin:
      * [[graft.streaming.Streams.holtSmoothing]].
      *
      * Scale: one shuffle on key; per-key state is the collected
      * series (bounded — hours, not events). For very long series,
      * chunk the fold and compose chunks by 2×2 matrix product (the
      * recurrence is linear).
      */
    def holtSmooth(key: Column, time: Column, x: Column): DataFrame = {
      val base = df.select(key.as("key"), time.as("time"),
        x.cast("double").as("x"))
      base.groupBy("key")
        .agg(count(lit(1)).as("n"),
          array_sort(collect_list(struct(col("time"), col("x"))))
            .as("xs"))
        .withColumn("st", expr("""
          aggregate(xs,
            named_struct('l', CAST(0.0 AS DOUBLE),
                         'b', CAST(0.0 AS DOUBLE), 'i', 0),
            (a, v) -> IF(a.i = 0,
              named_struct('l', v.x, 'b', CAST(0.0 AS DOUBLE), 'i', 1),
              named_struct(
                'l', 0.5D * v.x + 0.5D * (a.l + a.b),
                'b', 0.5D * ((0.5D * v.x + 0.5D * (a.l + a.b)) - a.l)
                     + 0.5D * a.b,
                'i', 1)))"""))
        .select(col("key"), col("n"), col("st.l").as("level"),
          col("st.b").as("trend"))
    }

    /** One-step-ahead Holt backtest per key: the same α = β = 0.5
      * fold as [[holtSmooth]], extended to accumulate the absolute
      * one-step forecast error |x_t − (l + b)_{t−1}| in fold order —
      * the in-sample error series every rolling-origin evaluation
      * reduces to for this recursion (each step's forecast uses
      * exactly the prior state, so the fold IS the backtest).
      * Output: (key, n, sae) with n − 1 error terms; divide by n − 1
      * for MAE, by the naive lag-1 SAE for MASE.
      */
    def holtBacktest(key: Column, time: Column, x: Column): DataFrame = {
      val base = df.select(key.as("key"), time.as("time"),
        x.cast("double").as("x"))
      base.groupBy("key")
        .agg(count(lit(1)).as("n"),
          array_sort(collect_list(struct(col("time"), col("x"))))
            .as("xs"))
        .withColumn("st", expr("""
          aggregate(xs,
            named_struct('l', CAST(0.0 AS DOUBLE),
                         'b', CAST(0.0 AS DOUBLE),
                         'sae', CAST(0.0 AS DOUBLE), 'i', 0),
            (a, v) -> IF(a.i = 0,
              named_struct('l', v.x, 'b', CAST(0.0 AS DOUBLE),
                           'sae', CAST(0.0 AS DOUBLE), 'i', 1),
              named_struct(
                'l', 0.5D * v.x + 0.5D * (a.l + a.b),
                'b', 0.5D * ((0.5D * v.x + 0.5D * (a.l + a.b)) - a.l)
                     + 0.5D * a.b,
                'sae', a.sae + abs(v.x - (a.l + a.b)),
                'i', 1)))"""))
        .select(col("key"), col("n"), col("st.sae").as("sae"))
    }

    /** Theil-Sen robust slope per key: the POSITIONAL median (index
      * (n+1)÷2 over (slope, t1, t2) order — no middle-pair averaging,
      * so tied slopes resolve identically on any engine) of all
      * pairwise slopes over an already-aggregated integer series.
      * Output: (key, n_pairs, slope). O(points²) pairs per key — for
      * year-scale series feed a sampled pair set; the median is
      * stable under sampling.
      */
    def theilSenSlope(key: Column, t: Column, x: Column): DataFrame = {
      val base = df.select(key.as("key"), t.cast("long").as("t"),
        x.cast("long").as("x"))
      val a = base.select(col("key"), col("t").as("t1"),
        col("x").as("x1"))
      val b = base.select(col("key"), col("t").as("t2"),
        col("x").as("x2"))
      val slopes = a.join(b, "key").filter(col("t1") < col("t2"))
        .select(col("key"), col("t1"), col("t2"),
          ((col("x2") - col("x1")).cast("double")
            / (col("t2") - col("t1")).cast("double")).as("slope"))
      val w = Window.partitionBy("key")
        .orderBy(col("slope"), col("t1"), col("t2"))
      slopes.withColumn("rn", row_number().over(w))
        .withColumn("n_pairs",
          count(lit(1)).over(Window.partitionBy("key")))
        .filter(col("rn") === expr("(n_pairs + 1) div 2"))
        .select(col("key"), col("n_pairs"), col("slope"))
    }

    /** Adamic-Adar link prediction over a bipartite edge frame
      * (src → dst): top-K dst pairs by Σ 1/ln(deg(src)) over shared
      * srcs. Weights quantize to exact integers (⌊10⁶/ln deg⌋) BEFORE
      * the pair aggregate, so scores sum order-independently; the
      * top-K is a TakeOrderedAndProject heap. Output:
      * (d1, d2, n_common, score_int) — divide score_int by 10⁶ for
      * the real-valued score.
      *
      * Shape: pairs expand inside a WHOLE-STAGE-CODEGEN'D equi-join of
      * the distinct edge list with itself on src (d1 < d2), weights
      * riding the left side from a degree rollup. This replaced a
      * collect_set + nested-transform array lambda: higher-order
      * functions evaluate their lambdas interpreted per element and
      * materialize an O(deg²) struct array per src, and the swap
      * measured 5.3 s → 1.8 s min-of-3 at sf0.1. Shuffle ledger: the
      * edge list hashes by src twice (join sides) + once for degrees
      * vs once for collect_set — but the O(Σdeg²) pair stream never
      * shuffles in either shape (partial aggregation precedes the only
      * pair-keyed exchange), and codegen wins by 3× on the part that
      * dominates.
      *
      * Skew guard — ENFORCED, not advisory: `maxDeg` drops srcs whose
      * degree exceeds it BEFORE pair expansion (the degree join keeps
      * only 2 ≤ deg ≤ maxDeg srcs on the pair-generating side). A
      * mega-degree src contributes O(deg²) pairs at an asymptotically
      * negligible 1/ln(deg) weight each — the classic quadratic skew
      * bomb — so at extreme scale the cap trades a vanishing score
      * term for a hard bound on per-src join fan-out. Exact when
      * maxDeg ≥ the corpus max degree (the driver queries set it far
      * above their data's max, so the guard is live in the plan but
      * value-neutral).
      */
    def adamicAdar(src: Column, dst: Column, topK: Int,
                   maxDeg: Int = Int.MaxValue): DataFrame = {
      require(maxDeg >= 2, s"maxDeg must be >= 2, got $maxDeg")
      // distinct first (duplicate edges partial-aggregate away
      // MAP-SIDE, and would overcount wedges), then pin keyed on the
      // wedge apex: the edge list feeds THREE consumers (degree rollup
      // + both join sides) whose upstream filters differ enough that
      // ReuseExchange misses — without the pin the scan→join→distinct
      // subtree runs three times (measured 1.8 s → 1.3 s min-of-3 at
      // sf0.1 with it).
      val edges =
        pinKeyed(df.select(src.as("src"), dst.as("dst")).distinct(), col("src"))
      val deg = edges.groupBy("src").agg(count(lit(1)).as("d"))
        .filter(col("d").between(2, maxDeg))
        .select(col("src"),
          floor(lit(1000000.0) / log(col("d").cast("double")))
            .cast("long").as("w"))
      val left = edges.join(deg, "src")
        .select(col("src"), col("dst").as("d1"), col("w"))
      val right = edges
        .select(col("src").as("src_r"), col("dst").as("d2"))
      left
        .join(right, col("src") === col("src_r") && col("d1") < col("d2"))
        .groupBy("d1", "d2")
        .agg(count(lit(1)).as("n_common"), sum("w").as("score_int"))
        .orderBy(col("score_int").desc, col("d1"), col("d2"))
        .limit(topK)
    }

    /** Bipartite butterfly count — the 2×2-biclique census (Wang et
      * al.'s butterfly counting), the bipartite graph's triangle
      * analogue: B = Σ over leaf pairs sharing k apexes of C(k,2).
      * Butterflies are what bipartite clustering coefficients and
      * co-purchase "customers who bought X also bought Y" strength
      * are built from, WITHOUT projecting the graph (the projection
      * densifies — see graphTriangles' 91%-dense co-supply lesson).
      *
      * Same scale spine as [[adamicAdar]]: distinct+checkpointed edge
      * list, apex-degree cap (degree-d apex contributes C(d,2) wedges
      * — the cap bounds the quadratic term on power-law graphs), wedge
      * equi-join by apex, partial-agg'd pair counts. The cap's bias is
      * explicit, not silent: `n_capped_hubs` reports how many apexes
      * were excluded (0 ⇒ the count is EXACT). All counts exact
      * BIGINTs — C(k,2) via (k·(k−1)) div 2, no doubles anywhere.
      */
    def butterflyCount(apex: Column, leaf: Column,
                       maxDeg: Int = Int.MaxValue): DataFrame = {
      require(maxDeg >= 2, s"maxDeg must be >= 2, got $maxDeg")
      // same distinct, apex-keyed pin as [[adamicAdar]].
      val edges =
        pinKeyed(df.select(apex.as("a"), leaf.as("l")).distinct(), col("a"))
      val deg = edges.groupBy("a").agg(count(lit(1)).as("d"))
      val capped = deg.agg(
        sum(when(col("d") > maxDeg, 1L).otherwise(0L))
          .as("n_capped_hubs"))
      val ok = deg.filter(col("d").between(2, maxDeg)).select("a")
      val e1 = edges.join(ok, "a").select(col("a"), col("l").as("l1"))
      val e2 = edges.select(col("a").as("a2"), col("l").as("l2"))
      val pairs = e1
        .join(e2, col("a") === col("a2") && col("l1") < col("l2"))
        .groupBy("l1", "l2").agg(count(lit(1)).as("k"))
      pairs.agg(count(lit(1)).as("n_pairs"),
          sum(expr("(k * (k - 1)) div 2")).as("n_butterflies"),
          max(col("k")).as("max_shared"))
        .crossJoin(broadcast(capped))
    }

    /** Neighbor-set Jaccard similarity over a bipartite edge list —
      * the size-normalized companion to [[adamicAdar]]: for `dst`
      * pairs sharing ≥1 `src`, J = |N(a)∩N(b)| / |N(a)∪N(b)| with the
      * intersection counted by a hub-capped wedge join and the union
      * from TRUE degrees (|N(a)|+|N(b)|−common, degrees computed
      * BEFORE any cap so the quotient is exact). The score is
      * quantized to ⌊J·10⁶⌋ by BIGINT division before the (desc, d1,
      * d2) top-K, so ranking never compares floats.
      *
      * Cap bias — explicit, not silent: when `maxDeg` binds, wedges
      * through over-cap srcs are excluded from the intersection while
      * the union keeps true degrees, so reported scores can only
      * UNDERESTIMATE true Jaccard. Every output row carries
      * `n_capped_hubs` (how many srcs exceeded the cap); 0 ⇒ the
      * scores are exact.
      *
      * Scale shape: distinct partial-aggs duplicate edges map-side;
      * the wedge join fans out only through hub `src` nodes with
      * 2..`maxDeg` neighbors (degree-1 srcs cannot contribute to any
      * intersection — dropping them is value-neutral; `maxDeg` is the
      * enforced skew ceiling, same discipline as [[adamicAdar]]);
      * every shuffle carries id pairs, never adjacency lists.
      */
    def neighborJaccard(src: Column, dst: Column, topK: Int,
                        maxDeg: Int = Int.MaxValue): DataFrame = {
      require(maxDeg >= 2, s"maxDeg must be >= 2, got $maxDeg")
      // same distinct, apex-keyed pin as [[adamicAdar]].
      val edges =
        pinKeyed(df.select(src.as("src"), dst.as("dst")).distinct(), col("src"))
      val degDst = edges.groupBy("dst").agg(count(lit(1)).as("deg"))
      val srcDeg = edges.groupBy("src").agg(count(lit(1)).as("sd"))
      val hub = srcDeg.filter(col("sd").between(2, maxDeg)).select("src")
      // When the maxDeg cap binds, wedges through over-cap srcs are
      // dropped from n_common while the union term keeps the TRUE
      // degrees — so the reported score UNDERESTIMATES Jaccard (never
      // inflates). The cap must not engage silently: n_capped_hubs
      // rides along on every row (a broadcast 1-row rollup, not an
      // action), so callers — and the oracle — see exactly how many
      // hubs were excluded. 0 means the scores are exact Jaccard.
      val nCapped = srcDeg.filter(col("sd") > maxDeg)
        .agg(count(lit(1)).as("n_capped_hubs"))
      val capped = edges.join(hub, "src")
      val left = capped.select(col("src"), col("dst").as("d1"))
      val right = capped.select(col("src").as("src_r"),
        col("dst").as("d2"))
      left.join(right,
          col("src") === col("src_r") && col("d1") < col("d2"))
        .groupBy("d1", "d2").agg(count(lit(1)).as("n_common"))
        .join(degDst.select(col("dst").as("d1"),
          col("deg").as("deg1")), "d1")
        .join(degDst.select(col("dst").as("d2"),
          col("deg").as("deg2")), "d2")
        .withColumn("jacc_int",
          expr("n_common * 1000000 DIV (deg1 + deg2 - n_common)"))
        .crossJoin(broadcast(nCapped))
        .orderBy(col("jacc_int").desc, col("d1"), col("d2"))
        .limit(topK)
    }

    /** Co-occurrence pair counts over (basket, item) memberships: for
      * every unordered item pair sharing a basket, how many baskets
      * contain both. Output: (a, b, n_ab) with a < b. The shared
      * kernel under the co-occurrence recommender and market-basket
      * rules.
      *
      * Scale shape: one distinct partial-aggs duplicate memberships
      * map-side, one collect to a per-basket sorted item set, pair
      * expansion as a codegen'd array lambda (O(k²) per basket), then
      * a partial-agg'd hash-agg over id pairs — every shuffle carries
      * id pairs, never baskets, and NO fact self-join.
      *
      * Skew guard — ENFORCED, not advisory: `maxBasket` drops baskets
      * larger than the ceiling before expansion. A mega-basket (a
      * crawler session, a bot cart, a catalog-export "order") is the
      * O(k²) skew bomb of this shape; real baskets are bounded (TPC-H:
      * ≤7 items), so a generous ceiling is value-neutral on honest
      * data while hard-bounding per-basket work at 100 TB.
      */
    def basketPairs(basket: Column, item: Column,
                    maxBasket: Int = 1000): DataFrame = {
      require(maxBasket >= 2, s"maxBasket must be >= 2, got $maxBasket")
      // No pre-distinct: collect_set IS the dedup (its partial
      // aggregation buffers are sets, so duplicate memberships also
      // collapse map-side) — the separate distinct cost one extra
      // full exchange of the membership frame for nothing.
      val baskets = df.select(basket.as("o"), item.as("p"))
        .groupBy("o").agg(sort_array(collect_set(col("p"))).as("ps"))
        .filter(size(col("ps")).between(2, maxBasket))
      baskets
        .select(explode(flatten(transform(col("ps"), (x, i) =>
          transform(slice(col("ps"), i + lit(2), size(col("ps"))), y =>
            struct(x.as("a"), y.as("b")))))).as("pr"))
        .groupBy(col("pr.a").as("a"), col("pr.b").as("b"))
        .agg(count(lit(1)).as("n_ab"))
    }

    /** Grid-bucketed spatial radius join: all (left, right) pairs
      * within euclidean `r`, as an equi-join on r-sized grid cells —
      * the left side keeps its cell, the right side explodes to the
      * 3×3 neighborhood, so every qualifying pair meets in exactly one
      * cell and is distance-tested once. O(n·9·density) instead of
      * O(n·m); shuffle is hash-by-cell, both sides may be huge.
      * Output: (left_id, right_id, dist).
      */
    def gridRadiusJoin(right: DataFrame,
                       leftId: Column, lx: Column, ly: Column,
                       rightId: Column, rx: Column, ry: Column,
                       r: Double): DataFrame = {
      val l = df.select(leftId.as("left_id"), lx.as("_x"), ly.as("_y"))
        .withColumn("_cx", floor(col("_x") / r).cast("long"))
        .withColumn("_cy", floor(col("_y") / r).cast("long"))
      val rt = right
        .select(rightId.as("right_id"), rx.as("_rx"), ry.as("_ry"))
        .withColumn("_scx", floor(col("_rx") / r).cast("long"))
        .withColumn("_scy", floor(col("_ry") / r).cast("long"))
        .withColumn("_dx", explode(array(lit(-1L), lit(0L), lit(1L))))
        .withColumn("_dy", explode(array(lit(-1L), lit(0L), lit(1L))))
        .select(col("right_id"), col("_rx"), col("_ry"),
          (col("_scx") + col("_dx")).as("_jcx"),
          (col("_scy") + col("_dy")).as("_jcy"))
      val d2 = (col("_x") - col("_rx")) * (col("_x") - col("_rx")) +
        (col("_y") - col("_ry")) * (col("_y") - col("_ry"))
      l.join(rt, col("_cx") === col("_jcx") && col("_cy") === col("_jcy"))
        .filter(d2 <= lit(r * r))
        .select(col("left_id"), col("right_id"), sqrt(d2).as("dist"))
    }

    /** Neyman-allocation stratified sample: split a `budget` across
      * strata ∝ N_h·σ_h = √(n·Σx² − (Σx)²) (exact BIGINT — big AND
      * internally-varied strata get more rows: the minimum-variance
      * allocation), then keep each stratum's `alloc_h` lowest-md5 ids
      * (content-stable). The stratum-weight total is an ordered fold,
      * so allocations are reproducible cross-engine. Output:
      * (id, stratum, rn, alloc). Requires budget ≤ 1000 per stratum
      * pre-cut (the static rn bound that becomes a WindowGroupLimit).
      */
    def neymanSample(stratum: Column, id: Column, x: Column,
                     budget: Int): DataFrame = {
      require(budget <= 1000, "budget pre-cut is capped at 1000/stratum")
      val base = df.select(stratum.as("stratum"), id.as("id"), x.as("_x"))
      val st = base.groupBy("stratum")
        .agg(count(lit(1)).as("n_h"), sum(col("_x")).as("s1"),
          sum(col("_x") * col("_x")).as("s2"))
        .withColumn("w",
          sqrt((col("n_h") * col("s2") - col("s1") * col("s1"))
            .cast("double")))
      val wtot = st.agg(aggregate(
        array_sort(collect_list(struct(col("stratum"), col("w")))),
        lit(0.0d), (acc, e) => acc + e.getField("w")).as("wt"))
      val alloc = st.crossJoin(broadcast(wtot))
        .select(col("stratum").as("_astratum"),
          floor(lit(budget.toDouble) * col("w") / col("wt")).cast("long")
            .as("alloc"))
      val w = Window.partitionBy("stratum")
        .orderBy(md5(col("id").cast("string")), col("id"))
      base.select(col("id"), col("stratum"))
        .withColumn("rn", row_number().over(w).cast("long"))
        .filter(col("rn") <= budget)
        .join(broadcast(alloc), col("stratum") === col("_astratum"))
        .filter(col("rn") <= col("alloc"))
        .select(col("id"), col("stratum"), col("rn"), col("alloc"))
    }

    // ───────────────────────── crypto ─────────────────────────

    /** Publisher side of the reference pipeline: AES-encrypt `payload`
      * with `dek`, attach attributes carrying the KEK-wrapped DEK and
      * the HMAC-SHA256 signature. Inverse of [[openEnvelope]].
      *
      * Ciphertext and signature are computed in ONE projection over the
      * input frame, so a `payload` expression that references a column
      * named `value` still reads the original — two stacked withColumns
      * would sign a payload whose `value` was already replaced by the
      * ciphertext, and every message would fail verification.
      */
    def sealEnvelope(payload: Column, dek: Array[Byte],
                     kek: Array[Byte]): DataFrame = {
      val value = GraftFunctions.aes_ecb_encrypt(payload, lit(dek))
      val attrs = map(
        lit("wrapped_dek"),
        base64(GraftFunctions.wrap_dek(lit(kek), lit(dek))),
        lit("sig"), base64(GraftFunctions.hmac_sha256(lit(dek), payload)))
      val others = df.columns
        .filterNot(c => c == "value" || c == "attributes").map(col)
      df.select(others.toSeq :+ value.as("value") :+
        attrs.as("attributes"): _*)
    }

    /** Consumer side: unwrap the DEK from the attributes map, decrypt
      * `value`, recompute the HMAC and compare it with the `sig`
      * attribute on bytes. Adds (payload BINARY, verified BOOLEAN). One
      * stateless codegen'd map stage.
      *
      * Tampering is rejected row by row: a wrapped DEK or a payload that
      * does not decrypt, or a signature that does not match, gives
      * `verified = false` and `payload = null` for that row only, so no
      * unauthenticated plaintext leaves the opener. The DEK is unwrapped
      * once per row, into a column dropped at the end: CollapseProject
      * keeps it in a Project of its own, as two expressions read it.
      */
    def openEnvelope(kek: Array[Byte]): DataFrame = {
      import GraftFunctions._
      val (dek, pt, ok) = (col("_env_dek"), col("_env_pt"), col("_env_ok"))
      df.withColumn("_env_dek", try_eval(unwrap_dek(lit(kek),
          unbase64(element_at(col("attributes"), "wrapped_dek")))))
        .withColumn("_env_pt", try_eval(aes_ecb_decrypt(col("value"), dek)))
        .withColumn("_env_ok", sig_matches(hmac_sha256(dek, pt),
          element_at(col("attributes"), "sig")))
        .withColumn("payload", when(ok, pt))
        .withColumn("verified", ok)
        .drop("_env_dek", "_env_pt", "_env_ok")
    }
  }
}
