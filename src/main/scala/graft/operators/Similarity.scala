package graft.operators

import graft.{Norm, QueryModule, Tables}
import graft.api.ops.pinLineage
import graft.functions.CentroidAgg
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Embedding similarity / vector operators (builder-prompt LLM surface:
  * brute-force cosine top-k baseline, LSH-bucketed ANN scale path,
  * blocked similarity join, centroid UDAF, multimodal join).
  *
  * Scale notes:
  *  - cosine top-k broadcasts the single query vector and compiles to
  *    scan → project → TakeOrderedAndProject: embarrassingly parallel,
  *    no shuffle of the vectors;
  *  - the blocked join shuffles once on the block key; within-block
  *    pairing is quadratic, so blocks must stay bounded (here: label ×
  *    deterministic 1-in-5 subsample) — the ANN query is the unbounded
  *    alternative;
  *  - ANN hashes every vector to a sign-LSH bucket (8 deterministic
  *    hyperplanes) and only compares within buckets: candidate count
  *    per query drops ~256× vs brute force, the classic IVF/LSH
  *    trade-off;
  *  - the centroid UDAF ships one 64-double buffer per label per
  *    partition (see CentroidAgg).
  */
object Similarity extends QueryModule {

  /** Array<float> → array<double> for bit-stable fold arithmetic. */
  private def dbl(c: Column): Column = transform(c, _.cast("double"))

  private def dot(a: Column, b: Column): Column = graft.api.ops.dotd(a, b)

  private def cosine(a: Column, b: Column): Column =
    graft.api.ops.cosineSim(a, b)

  private def emb(spark: org.apache.spark.sql.SparkSession, dir: String): DataFrame =
    Tables(spark, dir, "embeddings")
      .withColumn("emb", dbl(col("embedding")))

  /** Deterministic ABSOLUTE-size audit batch: the `n` rows whose ids
    * sort first by (md5(vec_id), vec_id) — a content-stable pseudo-
    * random sample whose SIZE does not grow with the corpus. The old
    * fraction batches (`vec_id % 50/10`) made the exact side of every
    * brute-force audit O(n²/50): correct, but then the scale
    * rehearsal measures the quadratic audit instead of the linear
    * queries×corpus stream a production deployment (fixed eval set /
    * training batch) actually pays. Plan: TakeOrderedAndProject — one
    * corpus scan with a per-partition top-n heap, no shuffle. Oracle
    * twin: ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id LIMIT n.
    */
  private def auditBatch(e: DataFrame, n: Int): DataFrame =
    e.orderBy(md5(col("vec_id").cast("string")), col("vec_id")).limit(n)

  /** Query-batch size for the ANN quality audits (recall / NDCG /
    * Matryoshka) — fixed absolutely, like a benchmark's eval set. */
  private val AuditN = 40

  /** Anchor-batch size for the batch-shaped ops (hard negatives, kNN
    * graph, semantic decontamination's eval side). */
  private val AnchorN = 200

  /** Brute-force cosine top-10 against the vec_id=0 query vector. */
  val simCosineTopk: Q = (spark, dir) => {
    val e = emb(spark, dir)
    val q = e.filter(col("vec_id") === 0).select(col("emb").as("qv"))
    e.crossJoin(broadcast(q))
      .select(col("vec_id"), Norm.r4(cosine(col("emb"), col("qv"))).as("cos_sim"))
      .orderBy(col("cos_sim").desc, col("vec_id"))
      .limit(10)
  }

  /** Most-similar pair per label block (deterministic 1-in-5 subsample
    * keeps the per-block pair count bounded at every SF).
    */
  val simBlockedJoin: Q = (spark, dir) => {
    val e = emb(spark, dir).filter(col("vec_id") % 5 === 0)
      .select(col("vec_id"), col("label"), col("emb"))
    val a = e.select(col("label"), col("vec_id").as("v1"), col("emb").as("e1"))
    val b = e.select(col("label").as("label_b"), col("vec_id").as("v2"),
      col("emb").as("e2"))
    val w = Window.partitionBy("label")
      .orderBy(col("cos_sim").desc, col("v1"), col("v2"))
    a.join(b, a("label") === b("label_b") && a("v1") < b("v2"))
      .select(col("label"), col("v1"), col("v2"),
        Norm.r4(cosine(col("e1"), col("e2"))).as("cos_sim"))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col("label"), col("v1"), col("v2"), col("cos_sim"))
      .orderBy("label")
  }

  /** Hard-negative mining for contrastive training: for each anchor
    * (deterministic md5-top-[[AnchorN]] batch — "the current training
    * batch", ABSOLUTE size so cost is linear in the corpus),
    * the most cosine-similar embedding with a DIFFERENT label. The
    * exact form here is the oracle-checkable baseline; its plan is the
    * scale-correct one for a real pipeline: the anchor batch (bounded,
    * O(batch × dim)) broadcasts onto a single streamed pass over the
    * corpus — a BroadcastNestedLoopJoin where the corpus never
    * shuffles — and the per-anchor argmax is a WindowGroupLimit-
    * eligible row_number. Past corpus sizes where a full pass per
    * batch is too slow, swap the candidate stream for the LSH/IVF
    * bucketed candidates (q_sim_ann_*) — same downstream argmax.
    * Ranking compares the ROUNDED similarity (ties then break on
    * vec_id) so both engines rank identical doubles.
    */
  val simHardNegatives: Q = (spark, dir) => {
    val e = emb(spark, dir)
    val anchors = auditBatch(e, AnchorN)
      .select(col("vec_id").as("aid"), col("label").as("label"),
        col("emb").as("ae"))
    val cands = e.select(col("vec_id").as("hard_neg"),
      col("label").as("neg_label"), col("emb").as("be"))
    val w = Window.partitionBy("aid")
      .orderBy(col("cos_sim").desc, col("hard_neg"))
    cands.join(broadcast(anchors), col("label") =!= col("neg_label"))
      .select(col("aid"), col("label"), col("hard_neg"), col("neg_label"),
        Norm.r4tie(cosine(col("ae"), col("be"))).as("cos_sim"))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col("aid"), col("label"), col("hard_neg"), col("neg_label"),
        col("cos_sim"))
      .orderBy("aid")
  }

  /** Exact k-NN graph over an anchor batch: for each anchor
    * (deterministic md5-top-[[AnchorN]] batch — ABSOLUTE size, so the
    * full-corpus stream stays linear), its 3 nearest neighbors by
    * cosine, any label, self excluded — the graph-construction step
    * under SemDeDup-style clustering, kNN-LM retrieval, and UMAP-ish
    * corpus maps. Same scale shape as [[simHardNegatives]]: the
    * bounded anchor batch (O(batch × dim)) broadcasts onto ONE
    * streamed pass over the corpus — BroadcastNestedLoopJoin, corpus
    * never shuffles — and per-anchor top-k is a WindowGroupLimit-
    * eligible row_number over rounded similarity (ties break on
    * neighbor id, so both engines rank identical doubles). Past
    * corpus sizes where a full pass per batch is too slow, the
    * LSH/IVF bucketed candidates (q_sim_ann_*) slot in as the
    * candidate stream with the same downstream argmax.
    */
  val simKnnGraph: Q = (spark, dir) => {
    val e = emb(spark, dir)
    val anchors = auditBatch(e, AnchorN)
      .select(col("vec_id").as("src"), col("emb").as("ae"))
    val cands = e.select(col("vec_id").as("dst"), col("emb").as("be"))
    val w = Window.partitionBy("src")
      .orderBy(col("cos_sim").desc, col("dst"))
    cands.join(broadcast(anchors), col("src") =!= col("dst"))
      .select(col("src"), col("dst"),
        Norm.r4tie(cosine(col("ae"), col("be"))).as("cos_sim"))
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= 3)
      .select(col("src"), col("rank"), col("dst"), col("cos_sim"))
      .orderBy("src", "rank")
  }

  /** Lloyd's k-means over the embedding table, k = 4, 2 iterations —
    * the clustering step under IVF index builds, data-mixture
    * balancing, and diversity pruning. Everything is engineered for
    * exact cross-engine replay:
    *
    *  - init: the k vectors with smallest (md5(vec_id), vec_id) —
    *    content-stable, no RNG state;
    *  - assignment: squared distance as a fixed-order per-dim fold,
    *    quantized to ⌊d²·10⁶⌋ BIGINT before the argmin (ties → lowest
    *    cluster index) — no float comparison can flip cross-engine;
    *  - update: per-(cluster, dim) centroids from exact BIGINT sums of
    *    ⌊v·10⁶+½⌋-quantized inputs divided once — the same
    *    no-float-summation discipline as the label centroids, so the
    *    next round's distances start from bit-identical doubles.
    *
    * Scale shape: the classic distributed Lloyd — per iteration one
    * partial-agg'd (cluster, dim) rollup (k·dim cells cross the
    * shuffle, never vectors), centroids collected to the driver
    * (O(k·dim) — the standard Lloyd driver state) and re-broadcast as
    * plan literals. Iteration count is fixed (2), not convergence-
    * probed, so the oracle can unroll it. Fails loudly if a cluster
    * empties (k ≪ n here; a production run would re-seed).
    */
  def kmeansLloyd(spark: org.apache.spark.sql.SparkSession, dir: String,
                  k: Int, iters: Int): DataFrame = {
    // pinned: feeds init + every assignment pass
    val e = pinLineage(emb(spark, dir).select(col("vec_id"), col("emb")))
    def d2i(v: Column, cLit: Column): Column =
      floor(aggregate(zip_with(v, cLit, (a, b) => (a - b) * (a - b)),
        lit(0.0), _ + _) * 1000000).cast("long")
    // argmin over an array of (d2i, idx) structs — array_min orders by
    // the struct fields, so ties break to the lowest cluster index
    def assigned(centroids: Seq[Seq[Double]]): DataFrame = {
      val cl = typedLit(centroids)
      val scored = (0 until centroids.size).map(i =>
        struct(d2i(col("emb"), cl.getItem(i)).as("d"),
          lit(i).as("i")))
      e.withColumn("cluster",
        array_min(array(scored: _*)).getField("i"))
    }
    def update(asg: DataFrame): DataFrame =
      asg.select(col("cluster"), posexplode(col("emb")).as(Seq("pos", "v")))
        .groupBy("cluster", "pos")
        .agg(sum(floor(col("v") * 1000000 + 0.5).cast("long")).as("s"),
          count(lit(1)).as("n"))
    def centroidsOf(u: DataFrame, k: Int): Seq[Seq[Double]] = {
      val rows = u.collect()
        .map(r => (r.getAs[Int]("cluster"), r.getAs[Int]("pos"),
          r.getAs[Long]("s"), r.getAs[Long]("n")))
      val byC = rows.groupBy(_._1)
      require(byC.size == k,
        s"k-means cluster emptied: ${byC.size} of $k clusters populated")
      (0 until k).map(c => byC(c).sortBy(_._2)
        .map(t => t._3.toDouble / t._4 / 1000000.0).toSeq)
    }
    val init: Seq[Seq[Double]] = e
      .orderBy(md5(col("vec_id").cast("string")), col("vec_id"))
      .limit(k).collect()
      .map(_.getSeq[Double](1).toVector).toVector
    var cents = init
    var asg: DataFrame = null
    for (_ <- 1 to iters) {
      asg = assigned(cents)
      cents = centroidsOf(update(asg), k)
    }
    // final emission straight from the distributed rollup (the driver
    // round-trip above only feeds the next iteration's literals)
    update(asg)
      .select(col("cluster"), col("n").as("n_members"),
        (col("pos") + 1).cast("int").as("pos"),
        Norm.r4dn(col("s").cast("double") / col("n") / 1000000.0)
          .as("cval"))
      .orderBy("cluster", "pos")
  }

  /** Scored entry: k = 4, 2 Lloyd iterations. */
  val embedKmeans: Q = (spark, dir) => kmeansLloyd(spark, dir, 4, 2)

  /** Top principal direction of the embedding cloud by two power
    * iterations over the EXACT-INTEGER Gram matrix — the PCA step
    * under whitening, drift monitors, and spectral diagnostics,
    * engineered so a distributed run and a SQL replay agree to the
    * bit:
    *
    *  - inputs quantize to qᵢ = ⌊v·10³+½⌋ BIGINTs, so the 64×64 Gram
    *    G = Σ_rows q qᵀ is an exact integer matrix (|q| ≤ ~10³,
    *    products ≤ 10⁶, × n rows stays far under 2⁶³) — the ONLY
    *    data-volume-dependent pass, one partial-agg'd (i, j) rollup;
    *  - iteration 1 from the all-ones start is a pure integer row sum
    *    w¹ = G·1 (BIGINT); iteration 2 w² = G·w¹ runs in
    *    DECIMAL(38,0) (≤ ~10³⁴) — both EXACT, no float order anywhere;
    *  - the only floats are the final normalization (‖w²‖ via an
    *    ORDERED fold over the 64 loadings — the statsCramersV
    *    discipline) and the Rayleigh quotient λ ≈ (w¹·w²)/(w¹·w¹)
    *    from exact decimal dots — identical IEEE ops both engines.
    *
    * Scale: the Gram pass shuffles 4 096 integer cells per partition
    * (dim² ≪ data); everything after operates on a 64-row frame. The
    * all-ones start is deterministic and, per Perron-Frobenius-style
    * arguments, nearly never orthogonal to the top eigenvector of a
    * covariance-like matrix.
    */
  val embedPcaPower: Q = (spark, dir) => {
    val q = Tables(spark, dir, "embeddings")
      .select(col("vec_id"), posexplode(col("embedding")))
      .toDF("vec_id", "i", "v")
      .select(col("vec_id"), col("i"),
        floor(col("v").cast("double") * 1000 + 0.5).cast("long").as("q"))
    val a = q.select(col("vec_id"), col("i"), col("q").as("qa"))
    val b = q.select(col("vec_id").as("vid_b"), col("i").as("j"),
      col("q").as("qb"))
    // checkpoint: the Gram is the ONLY data-volume-dependent pass and
    // it feeds BOTH iterations (w¹ = G·1 and w² = G·w¹) — without the
    // pin the scan→join→rollup subtree runs twice (caught by the plan
    // dump: two full Generate+join branches). 4 096 integer cells, so
    // the checkpoint itself is free.
    val gram = pinLineage(a.join(b, col("vec_id") === col("vid_b"))
      .groupBy("i", "j").agg(sum(col("qa") * col("qb")).as("g")))
    val w1 = gram.groupBy(col("i").as("wi"))
      .agg(sum("g").as("w1"))
    // decimal(38,0) products overflow to NULL under non-ANSI mode
    // while the DuckDB oracle computes in HUGEINT — on longer-tailed
    // data that would degrade to a silent hash mismatch. Convert any
    // overflow NULL into a loud task failure instead: every input to
    // these sums is non-null by construction, so NULL here can ONLY
    // mean overflow.
    def orOverflow(c: Column, what: String): Column =
      when(c.isNotNull, c).otherwise(raise_error(lit(
        s"decimal(38,0) overflow in embedPcaPower ($what) — shrink the " +
          "quantization scale (NOTE: sum() over ZERO rows is also NULL, " +
          "so an empty embeddings input raises this too — check the " +
          "source is non-empty)")))
    val w2 = gram.join(broadcast(w1), col("j") === col("wi"))
      .groupBy("i")
      .agg(sum(col("g").cast("decimal(38,0)")
        * col("w1").cast("decimal(38,0)")).as("w2raw"))
      .join(broadcast(w1), col("i") === col("wi"))
      .select(col("i"), col("w1"),
        orOverflow(col("w2raw"), "w2 = G*w1").as("w2dec"))
    val folded = w2.groupBy().agg(
      // ordered fold: ‖w²‖² as a left fold over pos-sorted doubles
      aggregate(array_sort(collect_list(struct(col("i"),
          col("w2dec").cast("double").as("wd")))), lit(0.0),
        (acc, e) => acc + e.getField("wd") * e.getField("wd"))
        .as("n2"),
      orOverflow(sum(col("w1").cast("decimal(38,0)")
        * col("w2dec")), "dot12").cast("double").as("dot12"),
      orOverflow(sum(col("w1").cast("decimal(38,0)")
        * col("w1").cast("decimal(38,0)")), "dot11")
        .cast("double").as("dot11"))
    w2.crossJoin(broadcast(folded))
      .select((col("i") + 1).cast("int").as("pos"),
        Norm.r4dn(col("w2dec").cast("double") / sqrt(col("n2")))
          .as("loading"),
        Norm.r4dn(col("dot12") / col("dot11")).as("lambda"))
      .orderBy("pos")
  }

  /** Elementwise mean embedding per label via the typed Aggregator,
    * posexploded to (label, pos, mean_val) long format so the oracle
    * compares scalars, not list encodings.
    */
  val centroidPerLabel: Q = (spark, dir) => {
    import graft.api.ops._
    Tables(spark, dir, "embeddings")
      .centroidPerKey(col("label"), col("embedding"))
      .select(col("key").as("label"),
        posexplode(col("centroid")).as(Seq("pos0", "mval")))
      .select(col("label"), (col("pos0") + 1).cast("long").as("pos"),
        Norm.r4(col("mval")).as("mean_val"))
      .orderBy("label", "pos")
  }

  /** Embedding-centroid drift monitor — the representation-space
    * twin of q_stats_psi: per label, the cosine gap 1 − cos(c_ref,
    * c_cur) between the class centroid over the md5-half REFERENCE
    * slice and the other half, plus both centroid NORMS. On encoder
    * embeddings with class structure (‖c‖ well above the 1/√n noise
    * floor) the halves are exchangeable and drift ≈ 0; a re-embedded
    * or retrained feed shows up as a per-label jump long before
    * downstream metrics move. The norms are what make the reading
    * honest: THIS corpus is label-isotropic (centroids ≈ 0 while
    * per-vector norms ≈ 1 — consistent with its max pairwise
    * cos ≈ 0.51), so the centroid direction is pure sampling noise
    * and drift reads ≈ 1; the monitor's correct interpretation is
    * gated on ‖c‖, exactly as this query exposes it. Cosine runs
    * over the two mean vectors through the same one-pass kernel as
    * every embedding query (scale-invariant, so mean-vs-sum is a
    * no-op — the mean is kept because the oracle replays avg());
    * per-half counts ride along.
    *
    * Scale: the [[graft.functions.CentroidAgg]] partial-agg argument
    * — the shuffle carries one 64-double buffer per (label × half ×
    * partition), never vectors.
    */
  val embedDrift: Q = (spark, dir) => {
    import graft.api.ops._
    val halves = Tables(spark, dir, "embeddings")
      .select(col("label"), md5Bucket(col("vec_id"), 2).as("half"),
        col("embedding"))
    val cents = halves
      .centroidPerKey(struct(col("label"), col("half")), col("embedding"))
      .select(col("key.label").as("label"), col("key.half").as("half"),
        col("centroid"))
    val ns = halves.groupBy("label", "half").agg(count(lit(1)).as("n"))
    val both = cents.join(ns, Seq("label", "half"))
    val ref = both.filter(col("half") === 0)
      .select(col("label"), col("centroid").as("c0"), col("n").as("n_ref"))
    val cur = both.filter(col("half") === 1)
      .select(col("label").as("label_c"), col("centroid").as("c1"),
        col("n").as("n_cur"))
    ref.join(cur, col("label") === col("label_c"))
      .select(col("label"), col("n_ref"), col("n_cur"),
        Norm.r4tie(sqrt(dot(col("c0"), col("c0")))).as("norm_ref"),
        Norm.r4tie(sqrt(dot(col("c1"), col("c1")))).as("norm_cur"),
        Norm.r4tie(lit(1.0) - cosine(col("c0"), col("c1"))).as("drift"))
      .orderBy("label")
  }

  /** ANN via sign-LSH: `numPlanes` deterministic pseudo-random
    * hyperplanes ([[graft.api.ops.lshPlanes]], fixed seed, materialized
    * as literal arrays so the per-row work is `numPlanes` zip_with
    * folds over constants), vectors bucketed by the sign pattern;
    * queries (every 50th vector) compare only within their bucket.
    * Bucket count = 2^numPlanes — size numPlanes to the corpus
    * (≈ log2(n / targetBucketSize)); the seeded planes are
    * prefix-nested, so buckets at more planes strictly refine buckets
    * at fewer (QualitySpec pins refinement + planted-clone recall).
    *
    * EXACT oracle since r9 (for the 8-plane scored entry): the plane
    * matrix is emitted into the DuckDB SQL as a literal by the SAME
    * Scala call that builds the Spark typedLit
    * ([[graft.api.ops.lshPlanesSql]]), and both engines fold the
    * plane dots in identical left-to-right IEEE order, so bucket ids
    * and rounded cosines hash-match bit-for-bit. QualitySpec keeps
    * the semantic checks (refinement, planted-clone recall) the
    * oracle alone wouldn't prove.
    */
  def annLsh(spark: org.apache.spark.sql.SparkSession, dir: String,
             numPlanes: Int): DataFrame = {
    import graft.api.ops._
    val planes = lshPlanes(numPlanes, dim = 64)
    val e = emb(spark, dir).withSignLshBucket(col("emb"), planes)
    val queries = e.filter(col("vec_id") % 50 === 0)
      .select(col("vec_id").as("qid"), col("emb").as("qv"), col("bucket"))
    val w = Window.partitionBy("qid")
      .orderBy(col("cos_sim").desc, col("vec_id"))
    e.join(queries, "bucket")
      .select(col("qid"), col("vec_id"),
        Norm.r4(cosine(col("emb"), col("qv"))).as("cos_sim"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= 3)
      .orderBy("qid", "rank")
  }

  /** Scored entry: 8 planes = 256 buckets, sized to this corpus. */
  val simAnnLsh: Q = (spark, dir) => annLsh(spark, dir, numPlanes = 8)

  /** Multi-probe ANN: the recall lever that does NOT shrink the bucket
    * count. Each query searches its own bucket plus the `probes`
    * buckets reached by flipping its least-confident sign bits (the
    * planes with the smallest |dot| margin — where a true neighbor most
    * likely landed on the other side). Candidate volume grows only
    * (probes+1)× per query while bucket count stays 2^numPlanes, so at
    * corpus scale you raise numPlanes for bounded buckets AND probes
    * for recall, instead of trading one for the other. Every vector
    * still lives in exactly one bucket — probing is query-side only,
    * no index duplication. QualitySpec pins recall(multi) ≥
    * recall(single) per query vs brute-force ground truth.
    *
    * EXACT oracle since r9 (for the 8-plane/2-probe scored entry):
    * plane literal via [[graft.api.ops.lshPlanesSql]]; margins,
    * confidence-sorted bit flips, probe-bucket union and in-bucket
    * cosine top-3 all replayed with identical fold order.
    */
  def annLshMultiProbe(spark: org.apache.spark.sql.SparkSession,
                       dir: String, numPlanes: Int,
                       probes: Int): DataFrame = {
    import graft.api.ops._
    require(probes >= 0 && probes <= numPlanes,
      s"probes must be in [0, $numPlanes], got $probes")
    val planes = lshPlanes(numPlanes, dim = 64)
    val planeLit = typedLit(planes)
    // Bit k (plane k) sits at position (numPlanes-1-k) in the bucket id.
    val maskLit = typedLit((0 until numPlanes).map(k =>
      1 << (numPlanes - 1 - k)))
    val e = emb(spark, dir).withSignLshBucket(col("emb"), planes)
    // Per query: (|margin|, plane) pairs sorted ascending → flip the
    // `probes` least-confident bits. Struct sort is lexicographic, so
    // ties break deterministically on the plane index.
    val conf = array((0 until numPlanes).map(k =>
      struct(abs(dotd(col("qv"), planeLit.getItem(k))).as("a"),
        lit(k).as("k"))): _*)
    val probeBuckets = concat(array(col("bucket")),
      transform(slice(array_sort(conf), 1, probes),
        f => col("bucket")
          .bitwiseXOR(element_at(maskLit, f.getField("k") + 1))))
    val queries = e.filter(col("vec_id") % 50 === 0)
      .select(col("vec_id").as("qid"), col("emb").as("qv"), col("bucket"))
      .select(col("qid"), col("qv"),
        explode(probeBuckets).as("bucket"))
    val w = Window.partitionBy("qid")
      .orderBy(col("cos_sim").desc, col("vec_id"))
    e.join(queries, "bucket")
      .select(col("qid"), col("vec_id"),
        Norm.r4(cosine(col("emb"), col("qv"))).as("cos_sim"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= 3)
      .orderBy("qid", "rank")
  }

  /** Scored entry: 8 planes, 2 probe flips per query. */
  val simAnnMultiProbe: Q = (spark, dir) =>
    annLshMultiProbe(spark, dir, numPlanes = 8, probes = 2)

  /** IVF ANN — the OTHER classic index shape beside sign-LSH (the
    * builder brief names both): k seeded unit anchors carve the
    * sphere into Voronoi cells by max cosine
    * ([[graft.api.ops.ivfAnchors]]/`withIvfCell`), every vector lives
    * in exactly one cell (no index duplication), and each query
    * compares only within its `nProbe` most-similar anchor cells.
    * Candidate volume ≈ nProbe/k of the corpus per query; grow k with
    * the corpus for bounded cells and nProbe for recall —
    * independent knobs, exactly like planes vs probes in
    * multi-probe LSH. Anchors here are the untrained baseline
    * quantizer; a Lloyd-trained one plugs into the same two calls
    * (see ivfAnchors doc).
    *
    * EXACT oracle since r9 (for the 16-cell/2-probe scored entry):
    * the anchor matrix is emitted into the DuckDB SQL by the same
    * Scala call that builds the Spark typedLit
    * ([[graft.api.ops.ivfAnchorsSql]]); cell assignment, probe
    * ranking and the in-cell cosine top-3 all replay with identical
    * fold order and hash-match. QualitySpec keeps cell
    * exhaustiveness, the self-hit, and nProbe-monotone recall vs
    * brute force.
    */
  def annIvf(spark: org.apache.spark.sql.SparkSession, dir: String,
             k: Int, nProbe: Int, topK: Int = 3,
             batchN: Option[Int] = None): DataFrame = {
    import graft.api.ops._
    require(nProbe >= 1 && nProbe <= k,
      s"nProbe must be in [1, $k], got $nProbe")
    val anchors = ivfAnchors(k, dim = 64)
    val aLit = typedLit(anchors)
    val e = emb(spark, dir).withIvfCell(col("emb"), anchors)
    // Rank anchors per query by (sim desc, index asc) — the same
    // tie-break as the cell assignment — and probe the top nProbe.
    val ranked = array(anchors.indices.map(i =>
      struct((-cosine(col("qv"), aLit.getItem(i))).as("negsim"),
        lit(i).as("i"))): _*)
    // batchN = Some(n): the md5-top-n ABSOLUTE batch the quality
    // audits use (recall/NDCG must probe exactly the batch they
    // compare against); None: the scored entry's 1-in-50 sweep.
    val qsrc = batchN.map(n => auditBatch(emb(spark, dir), n))
      .getOrElse(emb(spark, dir).filter(col("vec_id") % 50 === 0))
    val queries = qsrc
      .select(col("vec_id").as("qid"), col("emb").as("qv"))
      .select(col("qid"), col("qv"),
        explode(transform(slice(array_sort(ranked), 1, nProbe),
          f => f.getField("i").cast("int"))).as("cell"))
    val w = Window.partitionBy("qid")
      .orderBy(col("cos_sim").desc, col("vec_id"))
    e.join(queries, "cell")
      .select(col("qid"), col("vec_id"),
        Norm.r4tie(cosine(col("emb"), col("qv"))).as("cos_sim"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= topK)
      .orderBy("qid", "rank")
  }

  /** Scored entry: 16 cells, 2 probes — sized to this corpus. */
  val simAnnIvf: Q = (spark, dir) => annIvf(spark, dir, k = 16, nProbe = 2)

  /** Graph-ANN: NSW-style beam search over a pivot graph — the one
    * classic index family LSH/IVF/PQ don't cover (HNSW/SPANN lineage).
    * The index has two bounded layers, both deterministic:
    *
    *  - **pivot graph**: the md5-top-[[AnchorN]] vectors are pivots;
    *    each links to its `M` nearest OTHER pivots by rounded cosine
    *    (pivots × pivots — index metadata, bytes at any corpus size);
    *  - **leaf attachment**: each pivot owns its `L` nearest corpus
    *    vectors — built in ONE corpus stream against the broadcast
    *    pivot table (the SPANN posting-list idea; the only
    *    data-volume-dependent index pass, and it is linear).
    *
    * Search per query: start at the FIXED entry pivot (smallest
    * (md5, id) — deterministic, like every seed here), then `rounds`
    * beam steps: frontier = beam-width-`W` best visited pivots by
    * cosine-to-query, expand their graph links, union into visited.
    * Final candidates = visited pivots ∪ their leaves; result = exact
    * top-10 over candidates. Scored with the SAME recall@10 audit as
    * IVF (`q_sim_ann_recall`) so the two index families are directly
    * comparable on one number; the exact side streams the corpus once
    * against the broadcast [[AuditN]] query batch.
    *
    * Every step — graph build, beam ranks, candidate set, final rank
    * — replays in DuckDB (rounds unrolled to CTEs, the kmeans/BPE
    * discipline), so the whole walk is hash-checked, not just its
    * quality bounds. Driver holds only loop CONTROL (3 unrolled
    * rounds); all data flows stay in the plan.
    */
  val simAnnNsw: Q = (spark, dir) =>
    annNswRecall(spark, dir, beamW = 4, rounds = 3)

  /** [[simAnnNsw]] with the beam knobs exposed for QualitySpec. */
  def annNswRecall(spark: org.apache.spark.sql.SparkSession, dir: String,
                   beamW: Int, rounds: Int): DataFrame = {
    val M = 3 // pivot out-degree
    val L = 8 // leaves per pivot
    val e = emb(spark, dir)
    // pinned: bounded (AnchorN × dim); feeds 4 consumers
    val anch = pinLineage(auditBatch(e, AnchorN)
      .select(col("vec_id").as("aid"), col("emb").as("aemb")))
    val q = auditBatch(e, AuditN)
      .select(col("vec_id").as("qid"), col("emb").as("qv"))
    val wA = Window.partitionBy("aid")
      .orderBy(col("acs").desc, col("nid"))
    val agraph = anch.join(broadcast(anch.select(col("aid").as("nid"),
        col("aemb").as("nemb"))), col("aid") =!= col("nid"))
      .select(col("aid"), col("nid"),
        Norm.r4tie(cosine(col("aemb"), col("nemb"))).as("acs"))
      .withColumn("rn", row_number().over(wA))
      .filter(col("rn") <= M).select("aid", "nid")
    val wL = Window.partitionBy("aid")
      .orderBy(col("lcs").desc, col("vec_id"))
    val leaves = e.crossJoin(broadcast(anch))
      .select(col("aid"), col("vec_id"),
        Norm.r4tie(cosine(col("emb"), col("aemb"))).as("lcs"))
      .withColumn("rn", row_number().over(wL))
      .filter(col("rn") <= L)
      .select(col("aid"), col("vec_id").as("lid"))
    // query→pivot scores: AuditN × AnchorN rows, reused every round
    val qa = pinLineage(q.crossJoin(broadcast(anch))
      .select(col("qid"), col("aid"),
        Norm.r4tie(cosine(col("qv"), col("aemb"))).as("qac")))
    val entry = anch
      .orderBy(md5(col("aid").cast("string")), col("aid")).limit(1)
      .select("aid")
    var visited = q.select(col("qid")).crossJoin(broadcast(entry))
    (1 to rounds).foreach { _ =>
      val wF = Window.partitionBy("qid")
        .orderBy(col("qac").desc, col("aid"))
      val frontier = visited.join(qa, Seq("qid", "aid"))
        .withColumn("rn", row_number().over(wF))
        .filter(col("rn") <= beamW).select("qid", "aid")
      val expand = frontier.join(broadcast(agraph), "aid")
        .select(col("qid"), col("nid").as("aid"))
      visited = visited.unionByName(expand).distinct()
    }
    val cand = visited.join(broadcast(leaves), "aid")
      .select(col("qid"), col("lid").as("vec_id"))
      .unionByName(visited.select(col("qid"), col("aid").as("vec_id")))
      .distinct()
    val wTop = Window.partitionBy("qid")
      .orderBy(col("cs").desc, col("vec_id"))
    val nsw10 = cand
      .join(e.select(col("vec_id"), col("emb")), "vec_id")
      .join(broadcast(q), "qid")
      .select(col("qid"), col("vec_id"),
        Norm.r4tie(cosine(col("emb"), col("qv"))).as("cs"))
      .withColumn("rn", row_number().over(wTop))
      .filter(col("rn") <= 10).select("qid", "vec_id")
    val exact = e.crossJoin(broadcast(q))
      .select(col("qid"), col("vec_id"),
        Norm.r4tie(cosine(col("emb"), col("qv"))).as("cs"))
      .withColumn("rn", row_number().over(wTop))
      .filter(col("rn") <= 10).select("qid", "vec_id")
    val hits = exact.join(nsw10, Seq("qid", "vec_id"), "left_semi")
      .groupBy("qid").agg(count(lit(1)).as("n_hits"))
    q.select("qid").join(hits, Seq("qid"), "left")
      .select(col("qid"),
        coalesce(col("n_hits"), lit(0L)).as("n_hits"))
      .withColumn("recall_at_10",
        Norm.r4tie(col("n_hits").cast("double") / 10.0))
      .orderBy("qid")
  }

  /** ANN quality audit: recall@10 of the IVF index (16 cells, 2
    * probes) against the exact cosine top-10, per query. This is the
    * measurement every ANN deployment ships next to the index build —
    * the number that tells you whether nProbe is sized right. Exact
    * side is the bounded-query-batch broadcast over one streamed
    * corpus pass (the simHardNegatives shape: the corpus never
    * shuffles); ANN side reuses the IVF candidate plan. Both ranks
    * compare the ROUNDED cosine (ties on vec_id) so the two engines
    * rank identical doubles, and recall divides once at the end.
    */
  val simAnnRecall: Q = (spark, dir) => annRecall(spark, dir, nProbe = 2)

  /** [[simAnnRecall]] with the probe width exposed: at nProbe = k
    * (probe every cell) the IVF search IS exact search, so recall must
    * be identically 1.0 — the property QualitySpec pins.
    */
  def annRecall(spark: org.apache.spark.sql.SparkSession, dir: String,
                nProbe: Int): DataFrame = {
    val e = emb(spark, dir)
    val queries = auditBatch(e, AuditN)
      .select(col("vec_id").as("qid"), col("emb").as("qv"))
    val wq = Window.partitionBy("qid")
      .orderBy(col("cos_sim").desc, col("vec_id"))
    val exact = e.crossJoin(broadcast(queries))
      .select(col("qid"), col("vec_id"),
        Norm.r4tie(cosine(col("emb"), col("qv"))).as("cos_sim"))
      .withColumn("rank", row_number().over(wq))
      .filter(col("rank") <= 10)
      .select(col("qid"), col("vec_id"))
    val ann = annIvf(spark, dir, k = 16, nProbe = nProbe, topK = 10,
        batchN = Some(AuditN))
      .select(col("qid"), col("vec_id"))
    val hits = exact.join(ann, Seq("qid", "vec_id"), "left_semi")
      .groupBy("qid").agg(count(lit(1)).as("n_hits"))
    queries.select(col("qid"))
      .join(hits, Seq("qid"), "left")
      .select(col("qid"),
        coalesce(col("n_hits"), lit(0L)).as("n_hits"))
      .withColumn("recall_at_10",
        Norm.r4(col("n_hits").cast("double") / 10.0))
      .orderBy("qid")
  }

  /** NDCG@10 of the IVF index — recall@10's graded sibling and the
    * second number every ANN deployment publishes: recall says how
    * many of the true top-10 came back, NDCG says whether what came
    * back is RANKED like the truth (a miss at rank 1 costs more than
    * at rank 10). Relevance = the exact 4dp-rounded cosine of each
    * retrieved vector; DCG folds rel·w over the ANN ranking and IDCG
    * over the exact top-10, with the position discounts 1/log2(i+1)
    * emitted as plan literals ([[graft.api.ops.ndcgWeights]] — libm
    * log2 never runs at query time) and both sums as ORDERED left
    * folds over rank-sorted arrays (a groupBy sum of doubles would be
    * partial-agg-order-dependent). Self-hit keeps IDCG ≥ 1, so the
    * final division is safe.
    *
    * Scale: inherits the two audited plans — the exact side streams
    * the corpus once against the broadcast query batch, the ANN side
    * probes 2/16 cells; the folds touch 10-element arrays per query.
    */
  val simNdcg: Q = (spark, dir) => annNdcg(spark, dir, nProbe = 2)

  /** [[simNdcg]] with the probe width exposed: at nProbe = k the ANN
    * ranking IS the exact ranking (same candidates, same
    * (rounded-cosine, vec_id) sort), so NDCG must be identically 1.0
    * — the QualitySpec pin.
    */
  def annNdcg(spark: org.apache.spark.sql.SparkSession, dir: String,
              nProbe: Int): DataFrame = {
    import graft.api.ops._
    val wLit = array(ndcgWeights(10).map(lit): _*)
    def dcgFold(l: Column): Column =
      aggregate(
        transform(sort_array(l), (s, i) =>
          s.getField("cos_sim") * element_at(wLit, i + 1)),
        lit(0.0), (acc, x) => acc + x)
    val e = emb(spark, dir)
    val queries = auditBatch(e, AuditN)
      .select(col("vec_id").as("qid"), col("emb").as("qv"))
    val wq = Window.partitionBy("qid")
      .orderBy(col("cos_sim").desc, col("vec_id"))
    val exact = e.crossJoin(broadcast(queries))
      .select(col("qid"), col("vec_id"),
        Norm.r4tie(cosine(col("emb"), col("qv"))).as("cos_sim"))
      .withColumn("rank", row_number().over(wq))
      .filter(col("rank") <= 10)
    val ann = annIvf(spark, dir, k = 16, nProbe = nProbe, topK = 10,
      batchN = Some(AuditN))
    val dcg = ann.groupBy("qid")
      .agg(dcgFold(collect_list(struct(col("rank"), col("cos_sim"))))
        .as("dcg"))
    val idcg = exact.groupBy("qid")
      .agg(dcgFold(collect_list(struct(col("rank"), col("cos_sim"))))
        .as("idcg"))
    idcg.join(dcg, Seq("qid"))
      .select(col("qid"), Norm.r4dn(col("dcg")).as("dcg"),
        Norm.r4dn(col("idcg")).as("idcg"),
        Norm.r4dn(col("dcg") / col("idcg")).as("ndcg_at_10"))
      .orderBy("qid")
  }

  /** Matryoshka truncation audit — recall@10 of PREFIX-dimension
    * search vs the full 64-dim exact top-10, at dim budgets 16/32/64:
    * the measurement behind every truncated-embedding deployment
    * (MRL-style indexes serve the first d dims to cut memory
    * bandwidth; this curve says what that costs in retrieval
    * quality, and whether these embeddings were trained to truncate).
    * The 64-dim row is the built-in control — recall ≡ 1.0 by
    * construction (QualitySpec-pinned). Hits stay exact BIGINTs; one
    * division per output row.
    *
    * Scale: ONE corpus×queries broadcast pass computes all three
    * prefix cosines (the corpus never shuffles — the
    * simHardNegatives shape); the per-(query, dim) rank window runs
    * over the scored candidates; the tiny top-10 frame is
    * checkpointed once for its two consumers (truth + probe).
    */
  val embedMatryoshka: Q = (spark, dir) => {
    val e = emb(spark, dir)
    val queries = auditBatch(e, AuditN)
      .select(col("vec_id").as("qid"), col("emb").as("qv"))
    val dims = Seq(16, 32, 64)
    val scored = e.crossJoin(broadcast(queries))
      .select(col("qid"), col("vec_id"),
        explode(array(dims.map(d => struct(lit(d).as("dim"),
          Norm.r4tie(cosine(slice(col("emb"), 1, d),
            slice(col("qv"), 1, d))).as("cs"))): _*)).as("x"))
      .select(col("qid"), col("vec_id"), col("x.dim").as("dim"),
        col("x.cs").as("cs"))
    val w = Window.partitionBy("qid", "dim")
      .orderBy(col("cs").desc, col("vec_id"))
    // pinned: tiny; feeds truth + probe
    val top = pinLineage(scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= 10))
    val truth = top.filter(col("dim") === 64)
      .select(col("qid").as("tq"), col("vec_id").as("tv"))
    val hits = top.join(truth,
        col("qid") === col("tq") && col("vec_id") === col("tv"),
        "left_semi")
      .groupBy("dim").agg(count(lit(1)).as("sum_hits"))
    val nq = queries.agg(count(lit(1)).as("n_queries"))
    hits.crossJoin(broadcast(nq))
      .select(col("dim"), col("sum_hits"), col("n_queries"),
        Norm.r4tie(col("sum_hits").cast("double") /
          (lit(10.0) * col("n_queries").cast("double"))).as("avg_recall"))
      .orderBy("dim")
  }

  /** Multimodal join: text stats + vector norm in one row
    * (documents ⋈ embeddings on doc_id = vec_id).
    */
  val multimodalJoin: Q = (spark, dir) => {
    val d = Tables(spark, dir, "documents")
    val e = emb(spark, dir)
    d.join(e, d("doc_id") === e("vec_id"))
      .select(d("doc_id"), d("lang"), d("n_chars"),
        size(split(d("text"), " ")).as("n_tokens"),
        Norm.r4(sqrt(dot(col("emb"), col("emb")))).as("l2_norm"),
        e("label"))
      .orderBy("doc_id")
  }

  /** Int8 scalar quantization of the embedding table (the footprint
    * cut before ANN indexing) with per-vector audit columns — see
    * [[graft.api.ops.GraftDataFrameOps.int8Quantize]].
    */
  val embedQuantize: Q = (spark, dir) => {
    import graft.api.ops._
    emb(spark, dir)
      .int8Quantize(col("vec_id"), col("emb"))
      .orderBy("vec_id")
  }

  /** JL random projection 64 → 16 dims (±0.25 sign matrix, seed 7),
    * scored in long form (vec_id, dim, val) with the tie-proof floor
    * rounding; see [[graft.api.ops.GraftDataFrameOps.randomProject]].
    */
  val embedRproject: Q = (spark, dir) => {
    import graft.api.ops._
    Tables(spark, dir, "embeddings")
      .randomProject(col("vec_id"), col("embedding"), dim = 64, k = 16)
      .select(col("vec_id"), posexplode(col("proj")).as(Seq("dim", "v")))
      .select(col("vec_id"), col("dim"),
        (floor(col("v") * 10000 + 0.5) / 10000).as("val"))
      .orderBy("vec_id", "dim")
  }

  /** SemDeDup-shaped semantic dedup (cluster, then prune WITHIN the
    * cluster — Abbas et al. 2023): vectors are assigned to their
    * nearest data-derived centroid (per-label elementwise means via
    * the CentroidAgg UDAF — a trained quantizer stand-in; swap in
    * [[graft.api.ops.GraftDataFrameOps.lloydRefine]] output for real
    * k-means), then only within-cluster candidates are cosine-scored.
    * Assignment broadcasts the k-row centroid table (bytes at any
    * SF); argmax is a row_number over the 4-dp-rounded similarity so
    * both engines break near-ties identically.
    *
    * WITHIN the cluster, candidates are LSH-sub-blocked (`tables`
    * sign-hash tables of `bits` planes each, pair = same bucket in
    * ANY table — the rotate-block recall trick from q_dedup_simhash
    * on real-valued hyperplanes): the r11 sf3 rehearsal measured the
    * raw within-cluster join compounding (7.3 s at sf1 → 153 s at
    * sf3, exponent ≈ 2.8 — cluster count is fixed so Σ|cluster|²
    * IS n²), and the banding divides that by 2^bits/tables ≈ 64. Like
    * every LSH block in this library, `bits` is the scale knob: grow
    * it ≈ log2(cluster_size / target_bucket) so buckets stay bounded
    * (and/or grow the cluster count, which real SemDeDup does — its k
    * scales with n). The corpus plants no near-dups (max cos ≈ 0.51),
    * so the production `cos ≥ τ` drop set would be empty — the query
    * emits each cluster's top-2 closest CANDIDATE pairs with the
    * `would_drop` verdict column instead, exercising the full assign
    * → block → score → prune plan while staying non-empty and
    * oracle-checkable (same trick as q_dedup_embedding).
    */
  val dedupSemantic: Q = (spark, dir) =>
    dedupSemanticBanded(spark, dir, tables = 4, bits = 8)

  /** [[dedupSemantic]] with the banding exposed (tables × bits sign
    * tables over a shared 32-plane pool when tables·bits ≤ 32).
    */
  def dedupSemanticBanded(spark: org.apache.spark.sql.SparkSession,
                          dir: String, tables: Int,
                          bits: Int): DataFrame = {
    import graft.api.ops._
    val planes = lshPlanes(tables * bits, 64)
    val e = emb(spark, dir)
    val cents = Tables(spark, dir, "embeddings")
      .centroidPerKey(col("label"), col("embedding"))
      .select(col("key").as("clabel"), col("centroid").as("cemb"))
    val wAssign = Window.partitionBy("vec_id")
      .orderBy(col("csim").desc, col("clabel"))
    val best = e.crossJoin(broadcast(cents))
      .select(col("vec_id"), col("emb"), col("clabel"),
        Norm.r4(cosine(col("emb"), col("cemb"))).as("csim"))
      .withColumn("rn", row_number().over(wAssign))
      .filter(col("rn") === 1)
      .select(col("vec_id"), col("clabel").as("cluster"), col("emb"))
    val withBuckets = (0 until tables).foldLeft(best) { (d, t) =>
      d.withSignLshBucket(col("emb"),
        planes.slice(t * bits, (t + 1) * bits), s"b$t")
    }
    val cells0 = withBuckets.select(col("vec_id"), col("cluster"),
      col("emb"),
      posexplode(array((0 until tables).map(t => col(s"b$t")): _*))
        .as(Seq("tbl", "bkt")))
    // Occupancy-bounded sub-bucketing — the third-decade guard the
    // sf10 rehearsal demanded: fixed plane counts mean bucket
    // occupancy grows ∝ n, so in-bucket all-pairs is n² again past
    // the band fix's design scale (measured: 4.35 s at sf3 →
    // 258.8 s at sf10). Each (cluster, table, bucket) cell with cnt
    // members splits into nsub = ⌈cnt/128⌉ deterministic md5
    // sub-cells — pair work per cell becomes O(cnt·128), linear in n
    // at every scale. nsub = 1 (a no-op, bit-identical results)
    // whenever occupancy ≤ 128, which holds through sf3; past that,
    // a true near-dup pair collides in a sub-cell with prob 1/nsub
    // per table, so T tables keep recall ≈ 1−(1−1/nsub)^T (~94% at
    // nsub = 2, T = 4). The production knob remains growing
    // bits/tables with the corpus; this cap is the engine default
    // that refuses to go quadratic when nobody turns the knob. The
    // oracle replays cnt, nsub and the md5 sub-cell exactly.
    val occ = Window.partitionBy("cluster", "tbl", "bkt")
    val cells = cells0
      .withColumn("cnt", count(lit(1)).over(occ))
      .withColumn("sub",
        conv(substring(md5(col("vec_id").cast("string")), 1, 8), 16, 10)
          .cast("long") % expr("(cnt + 127) div 128"))
    val ca = cells.select(col("cluster"), col("tbl"), col("bkt"),
      col("sub"), col("vec_id").as("v1"), col("emb").as("e1"))
    val cb = cells.select(col("cluster").as("cluster_b"),
      col("tbl").as("tbl_b"), col("bkt").as("bkt_b"),
      col("sub").as("sub_b"), col("vec_id").as("v2"), col("emb").as("e2"))
    val cand = ca.join(cb, ca("cluster") === cb("cluster_b") &&
        ca("tbl") === cb("tbl_b") && ca("bkt") === cb("bkt_b") &&
        ca("sub") === cb("sub_b") &&
        ca("v1") < cb("v2"))
      .select(col("cluster"), col("tbl"), col("bkt"), col("sub"),
        col("v1"), col("v2"),
        Norm.r4(cosine(col("e1"), col("e2"))).as("cos_sim"))
    // Distributive pre-reduction: the cluster's top-2 pairs are top-2
    // within SOME cell that contains them (if two better pairs shared
    // every cell, those two would be the cluster top-2), so ranking
    // ≤ 2 per (cluster, table, bucket, sub) FIRST — with the identical
    // (cos desc, v1, v2) total order — is exact, and shrinks the
    // cluster-level window input from O(candidate pairs) to
    // O(cells·2). Without it the final per-cluster sort ate ~100M
    // rows in |clusters| partitions at sf10.
    val wCell = Window.partitionBy("cluster", "tbl", "bkt", "sub")
      .orderBy(col("cos_sim").desc, col("v1"), col("v2"))
    val reduced = cand
      .withColumn("cr", row_number().over(wCell))
      .filter(col("cr") <= 2)
      .dropDuplicates("cluster", "v1", "v2")
    val wPair = Window.partitionBy("cluster")
      .orderBy(col("cos_sim").desc, col("v1"), col("v2"))
    reduced
      .select(col("cluster"), col("v1"), col("v2"), col("cos_sim"))
      .withColumn("rank", row_number().over(wPair))
      .filter(col("rank") <= 2)
      .withColumn("would_drop", col("cos_sim") >= 0.9)
      .select("cluster", "v1", "v2", "cos_sim", "would_drop")
      .orderBy("cluster", "v1", "v2")
  }

  /** The embedding-prep pipeline END-TO-END in one Catalyst plan —
    * the vector-side twin of q_pipeline_corpus: int8 scalar
    * quantization → reconstruction → nearest-centroid assignment of
    * the RECONSTRUCTED vector → per-cluster footprint audit (count,
    * mean L2 reconstruction error, mean cosine to the centroid).
    * This is the audit a pipeline runs before committing to a
    * quantized ANN index: does SQ8 preserve cluster geometry? One
    * plan, so the quantization projection fuses into the scan and
    * the k-row centroid table broadcasts into the assignment —
    * nothing materializes between stages. Reconstruction error uses
    * (x−r)·(x−r), not pow, so the IEEE arithmetic is identical in
    * the DuckDB twin; per-vector values round before the argmax and
    * the per-cluster means round tie-proof.
    */
  val pipelineEmbeddings: Q = (spark, dir) => {
    import graft.api.ops._
    val cents = Tables(spark, dir, "embeddings")
      .centroidPerKey(col("label"), col("embedding"))
      .select(col("key").as("clabel"), col("centroid").as("cemb"))
    val q = emb(spark, dir)
      .withColumn("scale",
        array_max(transform(col("emb"), x => abs(x))) / 127d)
      .withColumn("recon",
        when(col("scale") === 0, transform(col("emb"), _ => lit(0d)))
          .otherwise(transform(col("emb"),
            x => floor(x / col("scale") + 0.5) * col("scale"))))
      .withColumn("err_l2", sqrt(aggregate(
        zip_with(col("emb"), col("recon"), (x, r) => (x - r) * (x - r)),
        lit(0d), (a, x) => a + x)))
    val wAssign = Window.partitionBy("vec_id")
      .orderBy(col("csim").desc, col("clabel"))
    q.crossJoin(broadcast(cents))
      .select(col("vec_id"), col("err_l2"), col("clabel"),
        Norm.r4(cosine(col("recon"), col("cemb"))).as("csim"))
      .withColumn("rn", row_number().over(wAssign))
      .filter(col("rn") === 1)
      .groupBy(col("clabel").as("cluster"))
      .agg(count(lit(1)).as("n_vecs"),
        Norm.r4tie(avg(col("err_l2"))).as("mean_err"),
        Norm.r4tie(avg(col("csim"))).as("mean_csim"))
      .orderBy("cluster")
  }

  /** SEMANTIC benchmark decontamination — the embedding sibling of
    * `q_text_decontaminate`'s n-gram recipe: flag every TRAINING
    * vector whose max cosine against ANY eval-set vector crosses τ
    * (paraphrased eval leakage that exact n-gram overlap misses —
    * the Phi/FineWeb-style semantic decontamination pass). Eval set =
    * the md5-top-[[AnchorN]] ids — an ABSOLUTE-size deterministic
    * benchmark stand-in, like a real eval set: its size is fixed, so
    * the broadcast side stays O(AnchorN·dim) bytes and the whole pass
    * is linear in the corpus at every scale factor.
    *
    * Scale shape mirrors the n-gram form exactly: benchmarks are MBs
    * against a TB corpus, so the EVAL side broadcasts and the check
    * is one map-side pass over training vectors — pairs never
    * shuffle; the per-vector max partial-aggregates to one row per
    * vec_id before the only exchange. Cosines round to 4dp BEFORE the
    * max so both engines take the max of identical values.
    */
  val decontaminateSemantic: Q = (spark, dir) => {
    import graft.api.ops._
    val e = emb(spark, dir)
    // Membership in the absolute eval batch as a per-row flag: a
    // broadcast left join against the AnchorN eval ids (bytes), so
    // the predicate API stays a Column and the corpus never shuffles.
    val evalIds = auditBatch(e, AnchorN)
      .select(col("vec_id"), lit(true).as("_is_eval"))
    val marked = e.join(broadcast(evalIds.select(col("vec_id"),
        col("_is_eval"))), Seq("vec_id"), "left")
      .withColumn("_is_eval", coalesce(col("_is_eval"), lit(false)))
    marked.semanticDecontaminate(col("vec_id"), col("emb"),
        col("_is_eval"), tau = 0.4)
      .withColumnRenamed("id", "vec_id")
      .join(broadcast(e.select(col("vec_id"), col("label"))), "vec_id")
      .select("vec_id", "label", "max_cos_eval", "contaminated")
      .orderBy("vec_id")
  }

  /** PQ encode + ADC top-3 (m=4 subspaces × k=16 codes over dim 64):
    * the codes table is built and searched in ONE plan; queries are
    * every 50th vector.
    *
    * EXACT oracle since r9: the 4×16×16 codebook literal is emitted
    * into the DuckDB SQL by the same Scala call that builds the Spark
    * typedLits (the lshPlanesSql discipline), and every fold — subnorm,
    * code distance, LUT dot, the 4-term ADC sum — replays in the
    * identical left-to-right order, so codes, ADC scores and ranks
    * hash-match. QualitySpec keeps the self-hit/recall semantic gate.
    * See [[graft.api.ops.GraftDataFrameOps.pqEncode]] /
    * [[graft.api.ops.GraftDataFrameOps.pqAdcTopK]].
    */
  val simPq: Q = (spark, dir) => {
    import graft.api.ops._
    val books = pqCodebooks(m = 4, k = 16, subdim = 16)
    val e = emb(spark, dir)
    val codes = e.pqEncode(col("vec_id"), col("emb"), books)
    val queries = e.filter(col("vec_id") % 50 === 0)
      .select(col("vec_id").as("qid"), col("emb").as("qv"))
    codes.pqAdcTopK(queries, books, k = 3)
      .orderBy("qid", "rank")
  }

  /** Item-item co-occurrence recommender (the "bought together"
    * baseline): parts sharing an order co-occur; each part's top-3
    * partners by co-order count (ties to the smaller partner id).
    *
    * Scale shape = the triangle-count lesson, hoisted into
    * [[graft.api.ops.GraftDataFrameOps.basketPairs]]: NO
    * lineitem⋈lineitem shuffle self-join — distinct memberships,
    * bounded sorted baskets, codegen'd pair lambda, id-pair shuffles
    * only — and the mega-basket skew bomb is cut by basketPairs'
    * ENFORCED ceiling (1000 here: TPC-H baskets are ≤7 items, so the
    * guard is live in the plan but value-neutral on this data; the
    * PropertySpec mega-basket test proves the cut leaves honest
    * baskets' pair counts untouched).
    */
  val recCooccur: Q = (spark, dir) => {
    import graft.api.ops._
    val li = Tables(spark, dir, "lineitem")
    val pairs = li
      .basketPairs(col("l_orderkey"), col("l_partkey"), maxBasket = 1000)
      .withColumnRenamed("n_ab", "n")
    // Mirror each (a,b) count into both directions with ONE Generate
    // over the aggregated counts — a union of two selects would
    // re-execute the whole scan→basket→pair subtree twice
    // (PlanSpec pins the single lineitem scan).
    val both = pairs.select(explode(array(
        struct(col("a").as("part"), col("b").as("partner"), col("n")),
        struct(col("b").as("part"), col("a").as("partner"), col("n"))))
        .as("r"))
      .select(col("r.part").as("part"), col("r.partner").as("partner"),
        col("r.n").as("n"))
    val w = Window.partitionBy("part")
      .orderBy(col("n").desc, col("partner"))
    both.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= 3)
      .orderBy("part", "rank")
  }

  /** Association rules over order baskets (the Apriori-at-depth-2
    * surface): directional rules a⇒b with exact support, confidence
    * and lift, minimum pair-support 2, top-20 by lift (ties broken by
    * the rule ids).
    *
    * Scale shape = [[recCooccur]] plus the rule algebra: NO fact
    * self-join — one checkpointed distinct (order, item) frame feeds
    * the basket collect (via
    * [[graft.api.ops.GraftDataFrameOps.basketPairs]], whose ENFORCED
    * 1000-item ceiling cuts the mega-basket skew bomb; value-neutral
    * on ≤7-item TPC-H baskets — the re-distinct inside basketPairs
    * over the already-unique checkpoint is a near-free id-pair
    * shuffle, cheaper than re-scanning the fact table), the per-item
    * basket counts, and the 1-row basket total; the pair-count shuffle
    * carries id pairs only. The |items|-row count table broadcasts
    * onto the rules twice (antecedent, consequent) — items are a
    * dimension, orders of magnitude below the fact table; past
    * broadcast scale both joins shuffle by item id (drop the hint).
    * Support/confidence/lift are single-divide doubles,
    * tie-proof-rounded, and the top-20 executes as
    * TakeOrderedAndProject.
    */
  val marketBasket: Q = (spark, dir) => {
    import graft.api.ops._
    val li = Tables(spark, dir, "lineitem")
    // Pinned hash(o) layout: the basket collect (groupBy o) and the
    // distinct-basket count both consume it shuffle-free.
    val op = graft.api.ops.pinLineage(
      li.select(col("l_orderkey").as("o"), col("l_partkey").as("p"))
        .keyedBy(col("o")).distinct())
    val nB = op.select(countDistinct(col("o")).as("n_baskets"))
    val itemN = op.groupBy("p").agg(count(lit(1)).as("n_item"))
    val pairs = op.basketPairs(col("o"), col("p"), maxBasket = 1000)
      .filter(col("n_ab") >= 2)
    val rules = pairs.select(explode(array(
        struct(col("a").as("antecedent"), col("b").as("consequent"),
          col("n_ab")),
        struct(col("b").as("antecedent"), col("a").as("consequent"),
          col("n_ab")))).as("r"))
      .select(col("r.antecedent").as("antecedent"),
        col("r.consequent").as("consequent"), col("r.n_ab").as("n_ab"))
    rules
      .join(broadcast(itemN.select(col("p").as("antecedent"),
        col("n_item").as("n_a"))), "antecedent")
      .join(broadcast(itemN.select(col("p").as("consequent"),
        col("n_item").as("n_b"))), "consequent")
      .crossJoin(broadcast(nB))
      .select(col("antecedent"), col("consequent"), col("n_ab"),
        col("n_a"), col("n_b"),
        Norm.r4tie(col("n_ab").cast("double") / col("n_baskets"))
          .as("support"),
        Norm.r4tie(col("n_ab").cast("double") / col("n_a"))
          .as("confidence"),
        Norm.r4tie(col("n_ab").cast("double") * col("n_baskets")
          / (col("n_a") * col("n_b"))).as("lift"))
      .orderBy(col("lift").desc, col("antecedent"), col("consequent"))
      .limit(20)
  }

  /** Per-dimension standardization ("diagonal whitening") of the
    * embedding table: z = (x − μ_d)/σ_d per dimension — the
    * preprocessing step before cosine/IVF indexing when dimensions
    * have wildly different scales. Emitted long-format for every 100th
    * vector so the oracle compares scalars.
    *
    * Scale: the μ/σ model is ONE posexplode + partial-agg'd hash-agg
    * down to `dim` rows (64), broadcast back — the normalize pass is a
    * pure projection, no shuffle of vectors. Same shape as
    * [[pipelineEmbeddings]]'s stats stage.
    */
  val embedWhiten: Q = (spark, dir) => {
    val e = emb(spark, dir)
    val dims = e.select(posexplode(col("emb")).as(Seq("pos0", "x")))
      .groupBy("pos0").agg(avg("x").as("mu"), stddev_samp("x").as("sd"))
    e.filter(col("vec_id") % 100 === 0)
      .select(col("vec_id"), posexplode(col("emb")).as(Seq("pos0", "x")))
      .join(broadcast(dims), "pos0")
      .select(col("vec_id"), (col("pos0") + 1).cast("long").as("pos"),
        Norm.r4((col("x") - col("mu")) / col("sd")).as("z"))
      .orderBy("vec_id", "pos")
  }

  /** Maximal-Marginal-Relevance (MMR) diversified retrieval: per query
    * the greedy top-k that trades relevance against redundancy —
    * argmax λ·sim(q,d) − (1−λ)·max sim(d, selected) — the standard
    * reranker when plain cosine top-k returns ten copies of the same
    * near-duplicate. Two-stage, scale-first: a DISTRIBUTED candidate
    * cut (brute-force cosine top-50 per query — swap in the LSH/IVF
    * path at corpus scale, same contract) feeds a PER-QUERY greedy
    * loop over ≤50 candidates in flatMapGroups — bounded imperative
    * state, the legitimate mapGroups niche, parallel across queries.
    * Deterministic: candidates sort by (−relevance, vec_id), ties in
    * the marginal score break toward the lower vec_id, and all
    * arithmetic is a fixed-order Scala fold. λ = 0.7, k = 10.
    *
    * EXACT oracle since r9: the fixed 10-pick greedy unrolls into
    * CTE rounds ([[mmrOracle]]) — candidates and pairwise cosines
    * precomputed (materialized, or CTE inlining re-scans the parquet
    * exponentially), each round anti-joins picks and arg-maxes with
    * the loop's tie rule — so greedy argmax IS relational once the
    * iteration count is a constant. QualitySpec keeps the semantic
    * pins: first pick = top-1, selection ⊆ candidates, and MMR's
    * mean pairwise cosine ≤ plain top-k's (diversity actually won).
    */
  val simMmr: Q = (spark, dir) => {
    import spark.implicits._
    val e = emb(spark, dir)
    val q = e.filter(col("vec_id") % 50 === 0)
      .select(col("vec_id").as("qid"), col("emb").as("qv"))
    val w = Window.partitionBy("qid")
      .orderBy(col("cos_sim").desc, col("vec_id"))
    val cands = e.crossJoin(broadcast(q))
      .filter(col("vec_id") =!= col("qid"))
      .select(col("qid"), col("vec_id"),
        cosine(col("emb"), col("qv")).as("cos_sim"), col("emb"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= 50)
      .select(col("qid"), col("vec_id"), col("cos_sim"), col("emb"))
      .as[(Long, Long, Double, Seq[Double])]
    val lambdaW = 0.7
    val k = 10
    val picked = cands.groupByKey(_._1).flatMapGroups { (qid, it) =>
      val cs = it.map(c => (c._2, c._3, c._4.toArray)).toArray
        .sortBy(c => (-c._2, c._1))
      def cosv(a: Array[Double], b: Array[Double]): Double = {
        var i = 0; var dp = 0.0; var na = 0.0; var nb = 0.0
        while (i < a.length) {
          dp += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i); i += 1
        }
        dp / (math.sqrt(na) * math.sqrt(nb))
      }
      val used = Array.fill(cs.length)(false)
      val selVecs = scala.collection.mutable.ArrayBuffer.empty[Array[Double]]
      val out = scala.collection.mutable.ArrayBuffer
        .empty[(Long, Int, Long, Double, Double)]
      var exhausted = false
      while (!exhausted && out.length < k && out.length < cs.length) {
        var bestIdx = -1
        var bestScore = Double.NegativeInfinity
        var i = 0
        while (i < cs.length) {
          if (!used(i)) {
            // true max over the selection — can be NEGATIVE (an
            // anti-similar candidate earns a diversity BONUS, per the
            // standard MMR formula); only an empty selection zeroes
            // the penalty term
            var maxSim = Double.NegativeInfinity
            var j = 0
            while (j < selVecs.length) {
              val s = cosv(cs(i)._3, selVecs(j))
              if (s > maxSim) maxSim = s
              j += 1
            }
            if (selVecs.isEmpty) maxSim = 0.0
            val sc = lambdaW * cs(i)._2 - (1 - lambdaW) * maxSim
            // strict > keeps the first (lowest vec_id at equal
            // relevance) candidate on ties — deterministic
            if (sc > bestScore) { bestScore = sc; bestIdx = i }
          }
          i += 1
        }
        // bestIdx stays -1 when every remaining marginal score is NaN
        // (a zero-norm embedding makes cosv 0/0 and `sc > bestScore`
        // never fires) — stop selecting instead of indexing used(-1);
        // degenerate vectors degrade to a shorter ranked list.
        if (bestIdx < 0) exhausted = true
        else {
          used(bestIdx) = true
          selVecs += cs(bestIdx)._3
          out += ((qid, out.length + 1, cs(bestIdx)._1, cs(bestIdx)._2,
            bestScore))
        }
      }
      out
    }
    picked.toDF("qid", "rank", "vec_id", "relevance", "mmr_score")
      .select(col("qid"), col("rank"), col("vec_id"),
        Norm.r4(col("relevance")).as("relevance"),
        Norm.r4dn(col("mmr_score")).as("mmr_score"))
      .orderBy("qid", "rank")
  }

  /** k-center coreset by farthest-point (Gonzalez) sampling — the
    * geometric data-pruning pick: k = 8 vectors that 2-approximate the
    * optimal covering radius, the diversity-first alternative to the
    * distribution-matching samplers (DSIR/stratified). Greedy is
    * inherently sequential, so each round is ONE distributed pass
    * (min-distance-to-centers via fixed-order per-dim folds, argmax by
    * (dist desc, vec_id)) and the driver keeps only the k×dim center
    * matrix (the Lloyd-centroid precedent); the reported radius at
    * each rank is the covering radius before that pick. The DuckDB
    * twin replays the same greedy in a recursive CTE whose working row
    * carries the selected ids + center vectors, arg-maxing via
    * max(struct) — distances are identical left folds over identical
    * doubles, so the trace matches bit-for-bit.
    *
    * Scale: k passes over the corpus, each a scan + broadcast k×dim
    * literal — no pairwise materialization; for huge corpora swap the
    * exact argmax for a per-partition top-1 pre-reduce (same plan
    * Spark's TakeOrdered already does).
    */
  val sampleKcenter: Q = (spark, dir) => {
    // One materialization: the k−1 greedy rounds below each scan `e`,
    // and without the pin every round re-reads parquet and re-derives
    // the emb projection (measured 2.6 s → sub-second at sf0.1).
    val e = pinLineage(emb(spark, dir).select(col("vec_id"), col("emb")))
    val k = 8
    val first = e.filter(col("vec_id") === 0)
      .select(col("emb")).head.getSeq[Double](0).toVector
    var centers = Vector((0L, first))
    var out = Vector((1, 0L, 0.0))
    def dist2(p: Column, c: Column): Column =
      aggregate(zip_with(p, c, (a, b) => (a - b) * (a - b)),
        lit(0.0), _ + _)
    for (r <- 2 to k) {
      val cArr = typedLit(centers.map(_._2))
      val md = aggregate(cArr, lit(Double.PositiveInfinity),
        (acc, c) => least(acc, dist2(col("emb"), c)))
      val row = e.filter(!col("vec_id").isin(centers.map(_._1): _*))
        .select(col("vec_id"), md.as("md"), col("emb"))
        .orderBy(col("md").desc, col("vec_id"))
        .limit(1).collect().head
      centers :+= ((row.getLong(0), row.getSeq[Double](2).toVector))
      out :+= ((r, row.getLong(0), row.getDouble(1)))
    }
    import spark.implicits._
    out.toDF("rank", "vec_id", "radius")
      .select(col("rank"), col("vec_id"),
        Norm.r4tie(col("radius")).as("radius"))
      .orderBy("rank")
  }

  /** Per-label embedding outliers — mislabeled-example screening: each
    * label's centroid (per-dim mean computed as an exact BIGINT sum of
    * ⌊v·10⁶+½⌋-quantized inputs divided once — NO float summation, so
    * the centroid is bit-identical on any engine and any partial-agg
    * order), every member's squared distance to it (fixed-order
    * per-dim fold, then quantized to an exact ⌊d·10⁶⌋ BIGINT), the
    * label's mean distance from the integer sums, and the top-3
    * farthest members by (dist desc, vec_id).
    *
    * Scale: the centroid is a per-(label, dim) partial-agg'd rollup
    * broadcast back; distances are a projection; the top-3 rides a
    * per-label rank window over quantized integers.
    */
  val embedOutliers: Q = (spark, dir) => {
    val e = emb(spark, dir)
    val cen = e.select(col("label"), posexplode(col("emb")))
      .toDF("label", "pos", "v")
      .groupBy("label", "pos")
      .agg(sum(floor(col("v") * 1000000 + 0.5).cast("long")).as("s"),
        count(lit(1)).as("cnt"))
      .withColumn("mq", col("s").cast("double")
        / col("cnt").cast("double") / 1000000.0)
      .groupBy("label")
      .agg(array_sort(collect_list(struct(col("pos"), col("mq"))))
        .as("cw"))
      .select(col("label"), transform(col("cw"), _.getField("mq"))
        .as("cen"))
    val dist = e.join(broadcast(cen), "label")
      .withColumn("d2", aggregate(
        zip_with(col("emb"), col("cen"), (a, b) => (a - b) * (a - b)),
        lit(0.0), _ + _))
      .withColumn("d2i", floor(col("d2") * 1000000).cast("long"))
    val wl = Window.partitionBy("label")
      .orderBy(col("d2i").desc, col("vec_id"))
    val wm = Window.partitionBy("label")
    dist
      .withColumn("rank", row_number().over(wl))
      .withColumn("n", count(lit(1)).over(wm))
      .withColumn("sum_d2i", sum(col("d2i")).over(wm))
      .filter(col("rank") <= 3)
      .select(col("label"), col("rank"), col("vec_id"),
        Norm.r4tie(col("d2i").cast("double") / 1000000.0).as("dist2"),
        Norm.r4tie(col("sum_d2i").cast("double")
          / col("n").cast("double") / 1000000.0).as("label_mean_dist2"))
      .orderBy("label", "rank")
  }

  /** Nearest-centroid classification audit — the zero-training
    * label-quality / separability check: classify every vector by its
    * closest label centroid (6dp-quantized centroids, distances
    * quantized to BIGINT, ties to the lower label — the same
    * determinism kit as [[embedOutliers]]) and report per-label
    * accuracy. Near-random accuracy means the labels aren't separable
    * in embedding space; per-label dips localize label noise.
    *
    * Scale: centroid rollup broadcast back; the classify pass is a
    * corpus × k-centroid projection (k literal-sized), then a
    * per-vector min(struct) — no pairwise corpus join.
    */
  val simCentroidClassify: Q = (spark, dir) => {
    val e = emb(spark, dir)
    val cen = e.select(col("label"), posexplode(col("emb")))
      .toDF("label", "pos", "v")
      .groupBy("label", "pos")
      .agg(sum(floor(col("v") * 1000000 + 0.5).cast("long")).as("s"),
        count(lit(1)).as("cnt"))
      .withColumn("mq", col("s").cast("double")
        / col("cnt").cast("double") / 1000000.0)
      .groupBy("label")
      .agg(array_sort(collect_list(struct(col("pos"), col("mq"))))
        .as("cw"))
      .select(col("label").as("clabel"),
        transform(col("cw"), _.getField("mq")).as("cen"))
    val best = e.crossJoin(broadcast(cen))
      .withColumn("d2i", floor(aggregate(
        zip_with(col("emb"), col("cen"), (a, b) => (a - b) * (a - b)),
        lit(0.0), _ + _) * 1000000).cast("long"))
      .groupBy("vec_id", "label")
      .agg(min(struct(col("d2i"), col("clabel"))).as("best"))
    best.groupBy(col("label").as("true_label"))
      .agg(count(lit(1)).as("n"),
        sum(when(col("label") === col("best.clabel"), 1L)
          .otherwise(0L)).as("n_correct"))
      .select(col("true_label"), col("n"), col("n_correct"),
        Norm.r4tie(col("n_correct").cast("double")
          / col("n").cast("double")).as("accuracy"))
      .orderBy("true_label")
  }

  val queries: Map[String, Q] = Map(
    "q_sim_centroid_classify" -> simCentroidClassify,
    "q_embed_outliers" -> embedOutliers,
    "q_sample_kcenter" -> sampleKcenter,
    "q_sim_mmr" -> simMmr,
    "q_embed_whiten" -> embedWhiten,
    "q_rec_cooccur" -> recCooccur,
    "q_market_basket" -> marketBasket,
    "q_embed_rproject" -> embedRproject,
    "q_decontaminate_semantic" -> decontaminateSemantic,
    "q_sim_pq" -> simPq,
    "q_pipeline_embeddings" -> pipelineEmbeddings,
    "q_dedup_semantic" -> dedupSemantic,
    "q_embed_quantize" -> embedQuantize,
    "q_sim_cosine_topk" -> simCosineTopk,
    "q_sim_blocked_join" -> simBlockedJoin,
    "q_sim_hard_negatives" -> simHardNegatives,
    "q_sim_knn_graph" -> simKnnGraph,
    "q_centroid_per_label" -> centroidPerLabel,
    "q_embed_kmeans" -> embedKmeans,
    "q_embed_pca_power" -> embedPcaPower,
    "q_sim_ann_lsh" -> simAnnLsh,
    "q_sim_ann_multiprobe" -> simAnnMultiProbe,
    "q_sim_ann_ivf" -> simAnnIvf,
    "q_sim_ann_nsw" -> simAnnNsw,
    "q_sim_ann_recall" -> simAnnRecall,
    "q_sim_ndcg" -> simNdcg,
    "q_embed_matryoshka" -> embedMatryoshka,
    "q_embed_drift" -> embedDrift,
    "q_multimodal_join" -> multimodalJoin,
  )

  /** DuckDB twin of [[simAnnRecall]]: the q_sim_ann_ivf CTE chain
    * widened to top-10, an exact brute-force top-10 CTE, and a
    * per-query hit count — both ranks order by (rounded cosine desc,
    * vec_id), the engines' shared tie discipline.
    */
  /** Shared CTE chain for the ANN quality-audit oracles
    * ([[annRecallOracle]] / [[simNdcgOracle]]): the q_sim_ann_ivf
    * index replay (anchors literal, cell assignment, 2-probe search)
    * widened to a ranked top-10 `ann` CTE, plus the brute-force
    * ranked top-10 `exact` CTE and the query set `q`.
    */
  private def annTop10Cte: String = {
    def cos(a: String, b: String): String =
      s"""list_reduce(list_prepend(CAST(0 AS DOUBLE),
           list_transform(range(1, 65), d -> $a[d] * $b[d])),
           (s, x) -> s + x)
         / (sqrt(list_reduce(list_prepend(CAST(0 AS DOUBLE),
              list_transform(range(1, 65), d -> $a[d] * $a[d])),
              (s, x) -> s + x))
            * sqrt(list_reduce(list_prepend(CAST(0 AS DOUBLE),
                list_transform(range(1, 65), d -> $b[d] * $b[d])),
                (s, x) -> s + x)))"""
    s"""
      WITH e AS (
        SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
        FROM embeddings),
      an AS (
        SELECT i - 1 AS cell,
               (CAST(${graft.api.ops.ivfAnchorsSql(16, 64)}
                 AS DOUBLE[][]))[i] AS a
        FROM generate_series(1, 16) AS g(i)),
      q AS (SELECT vec_id AS qid, v AS qv FROM e
            ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id LIMIT 40),
      sims AS (
        SELECT e.vec_id, e.v, an.cell, ${cos("e.v", "an.a")} AS sim
        FROM e CROSS JOIN an),
      assigned AS (
        SELECT vec_id, v, cell FROM sims
        QUALIFY row_number() OVER (PARTITION BY vec_id
                                   ORDER BY sim DESC, cell) = 1),
      probes AS (
        SELECT s.vec_id AS qid, s.v AS qv, s.cell
        FROM sims s JOIN q ON q.qid = s.vec_id
        QUALIFY row_number() OVER (PARTITION BY s.vec_id
                                   ORDER BY s.sim DESC, s.cell) <= 2),
      ann AS (
        SELECT p.qid, a.vec_id,
               floor((${cos("a.v", "p.qv")}) * 10000 + 0.5) / 10000
                 AS cos_sim,
               row_number() OVER (PARTITION BY p.qid
                 ORDER BY floor((${cos("a.v", "p.qv")}) * 10000 + 0.5)
                            / 10000 DESC,
                          a.vec_id) AS rnk
        FROM assigned a JOIN probes p ON a.cell = p.cell
        QUALIFY rnk <= 10),
      exact AS (
        SELECT q.qid, e.vec_id,
               floor((${cos("e.v", "q.qv")}) * 10000 + 0.5) / 10000
                 AS cos_sim,
               row_number() OVER (PARTITION BY q.qid
                 ORDER BY floor((${cos("e.v", "q.qv")}) * 10000 + 0.5)
                            / 10000 DESC,
                          e.vec_id) AS rnk
        FROM e CROSS JOIN q
        QUALIFY rnk <= 10)"""
  }

  /** DuckDB twin of [[annNswRecall]] (beamW=4, rounds=3): the pivot
    * graph / leaf / query-score CTEs, the beam walk unrolled to one
    * (frontier, visited) CTE pair per round (the kmeans/BPE-oracle
    * discipline), the same candidate union and rank-10 compare.
    */
  private def annNswOracle(beamW: Int, rounds: Int): String = {
    def cos(a: String, b: String): String =
      s"""(list_reduce(list_prepend(CAST(0 AS DOUBLE),
           list_transform(range(1, 65), d -> $a[d] * $b[d])),
           (s, x) -> s + x)
         / (sqrt(list_reduce(list_prepend(CAST(0 AS DOUBLE),
              list_transform(range(1, 65), d -> $a[d] * $a[d])),
              (s, x) -> s + x))
            * sqrt(list_reduce(list_prepend(CAST(0 AS DOUBLE),
                list_transform(range(1, 65), d -> $b[d] * $b[d])),
                (s, x) -> s + x))))"""
    def r4(x: String): String = s"floor($x * 10000 + 0.5) / 10000"
    val walk = (1 to rounds).map { t =>
      s"""f$t AS (
        SELECT qid, aid FROM (
          SELECT v.qid, v.aid,
                 row_number() OVER (PARTITION BY v.qid
                   ORDER BY qa.qac DESC, v.aid) AS rn
          FROM v${t - 1} v JOIN qa ON qa.qid = v.qid AND qa.aid = v.aid)
        WHERE rn <= $beamW),
      v$t AS (
        SELECT DISTINCT qid, aid FROM (
          SELECT qid, aid FROM v${t - 1}
          UNION ALL
          SELECT f.qid, g.nid AS aid
          FROM f$t f JOIN agraph g ON g.aid = f.aid))"""
    }.mkString(",\n      ")
    s"""
      WITH e AS (
        SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
        FROM embeddings),
      q AS (SELECT vec_id AS qid, v AS qv FROM e
            ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id LIMIT 40),
      anch AS (SELECT vec_id AS aid, v AS av FROM e
               ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id LIMIT 200),
      agraph AS (
        SELECT aid, nid FROM (
          SELECT a.aid, b.aid AS nid,
                 row_number() OVER (PARTITION BY a.aid
                   ORDER BY ${r4(cos("a.av", "b.av"))} DESC, b.aid)
                   AS rn
          FROM anch a JOIN anch b ON a.aid <> b.aid)
        WHERE rn <= 3),
      leaves AS (
        SELECT aid, lid FROM (
          SELECT a.aid, e.vec_id AS lid,
                 row_number() OVER (PARTITION BY a.aid
                   ORDER BY ${r4(cos("e.v", "a.av"))} DESC, e.vec_id)
                   AS rn
          FROM anch a CROSS JOIN e)
        WHERE rn <= 8),
      qa AS (SELECT q.qid, a.aid, ${r4(cos("q.qv", "a.av"))} AS qac
             FROM q CROSS JOIN anch a),
      entry AS (SELECT aid FROM anch
                ORDER BY md5(CAST(aid AS VARCHAR)), aid LIMIT 1),
      v0 AS (SELECT q.qid, entry.aid FROM q CROSS JOIN entry),
      $walk,
      cand AS (
        SELECT DISTINCT qid, vec_id FROM (
          SELECT v.qid, l.lid AS vec_id
          FROM v$rounds v JOIN leaves l ON l.aid = v.aid
          UNION ALL
          SELECT qid, aid AS vec_id FROM v$rounds)),
      nsw10 AS (
        SELECT qid, vec_id FROM (
          SELECT c.qid, c.vec_id,
                 row_number() OVER (PARTITION BY c.qid
                   ORDER BY ${r4(cos("e.v", "q.qv"))} DESC, c.vec_id)
                   AS rn
          FROM cand c JOIN e ON e.vec_id = c.vec_id
                      JOIN q ON q.qid = c.qid)
        WHERE rn <= 10),
      exact AS (
        SELECT qid, vec_id FROM (
          SELECT q.qid, e.vec_id,
                 row_number() OVER (PARTITION BY q.qid
                   ORDER BY ${r4(cos("e.v", "q.qv"))} DESC, e.vec_id)
                   AS rn
          FROM e CROSS JOIN q)
        WHERE rn <= 10),
      hits AS (
        SELECT x.qid, count(*) AS n_hits
        FROM exact x JOIN nsw10 n
          ON n.qid = x.qid AND n.vec_id = x.vec_id
        GROUP BY x.qid)
      SELECT q.qid,
             CAST(coalesce(h.n_hits, 0) AS BIGINT) AS n_hits,
             floor(CAST(coalesce(h.n_hits, 0) AS DOUBLE) / 10.0
               * 10000 + 0.5) / 10000 AS recall_at_10
      FROM q LEFT JOIN hits h ON h.qid = q.qid
      ORDER BY q.qid"""
  }

  private def annRecallOracle: String =
    s"""$annTop10Cte,
      hits AS (
        SELECT x.qid, count(*) AS n_hits
        FROM exact x JOIN ann ON ann.qid = x.qid
          AND ann.vec_id = x.vec_id
        GROUP BY x.qid)
      SELECT q.qid,
             CAST(coalesce(h.n_hits, 0) AS BIGINT) AS n_hits,
             round(CAST(coalesce(h.n_hits, 0) AS DOUBLE) / 10.0, 4)
               AS recall_at_10
      FROM q LEFT JOIN hits h ON q.qid = h.qid
      ORDER BY q.qid"""

  /** DuckDB twin of [[simNdcg]]: the shared ANN/exact ranked-top-10
    * CTEs, each rolled into a rank-ordered relevance list, the same
    * position-weighted left fold (weights = the identical DOUBLE[]
    * literal), one division.
    */
  private def simNdcgOracle: String = {
    def fold(rl: String): String =
      s"""list_reduce(list_prepend(CAST(0 AS DOUBLE),
           list_transform(range(1, len($rl) + 1), k ->
             $rl[k] * (CAST(${graft.api.ops.ndcgWeightsSql(10)}
               AS DOUBLE[]))[k])),
           (a, x) -> a + x)"""
    s"""$annTop10Cte,
      drel0 AS (
        SELECT qid, list(cos_sim ORDER BY rnk) AS rl
        FROM ann GROUP BY qid),
      irel0 AS (
        SELECT qid, list(cos_sim ORDER BY rnk) AS rl
        FROM exact GROUP BY qid),
      drel AS (SELECT qid, ${fold("rl")} AS dcg FROM drel0),
      irel AS (SELECT qid, ${fold("rl")} AS idcg FROM irel0)
      SELECT i.qid,
             floor(d.dcg * 10000) / 10000 AS dcg,
             floor(i.idcg * 10000) / 10000 AS idcg,
             floor(d.dcg / i.idcg * 10000) / 10000 AS ndcg_at_10
      FROM irel i JOIN drel d ON i.qid = d.qid
      ORDER BY i.qid"""
  }

  /** DuckDB twin of [[embedDrift]]: md5-half split, per-(label,
    * half) elementwise avg() centroids (the q_centroid_per_label
    * replay), the standard three-fold cosine between the two mean
    * vectors.
    */
  private def embedDriftOracle: String = {
    def sumsq(a: String): String =
      s"""list_reduce(list_prepend(CAST(0 AS DOUBLE),
           list_transform(range(1, 65), d -> $a[d] * $a[d])),
           (s, x) -> s + x)"""
    def cos(a: String, b: String): String =
      s"""list_reduce(list_prepend(CAST(0 AS DOUBLE),
           list_transform(range(1, 65), d -> $a[d] * $b[d])),
           (s, x) -> s + x)
         / (sqrt(list_reduce(list_prepend(CAST(0 AS DOUBLE),
              list_transform(range(1, 65), d -> $a[d] * $a[d])),
              (s, x) -> s + x))
            * sqrt(list_reduce(list_prepend(CAST(0 AS DOUBLE),
                list_transform(range(1, 65), d -> $b[d] * $b[d])),
                (s, x) -> s + x)))"""
    s"""
      WITH h AS (
        SELECT label, embedding,
               ((strpos('0123456789abcdef', substring(lower(md5(
                   CAST(vec_id AS VARCHAR))), 1, 1)) - 1) * 4096 +
                (strpos('0123456789abcdef', substring(lower(md5(
                   CAST(vec_id AS VARCHAR))), 2, 1)) - 1) * 256 +
                (strpos('0123456789abcdef', substring(lower(md5(
                   CAST(vec_id AS VARCHAR))), 3, 1)) - 1) * 16 +
                (strpos('0123456789abcdef', substring(lower(md5(
                   CAST(vec_id AS VARCHAR))), 4, 1)) - 1)) % 2 AS half
        FROM embeddings),
      m AS (
        SELECT label, half, pos, avg(v) AS mv
        FROM (SELECT label, half,
                     generate_subscripts(embedding, 1) AS pos,
                     unnest(CAST(embedding AS DOUBLE[])) AS v
              FROM h)
        GROUP BY 1, 2, 3),
      cent AS (
        SELECT label, half, list(mv ORDER BY pos) AS c
        FROM m GROUP BY 1, 2),
      ns AS (SELECT label, half, count(*) AS n FROM h GROUP BY 1, 2),
      r AS (SELECT cent.label, c AS c0, n AS n_ref
            FROM cent JOIN ns ON cent.label = ns.label
              AND cent.half = ns.half
            WHERE cent.half = 0),
      u AS (SELECT cent.label, c AS c1, n AS n_cur
            FROM cent JOIN ns ON cent.label = ns.label
              AND cent.half = ns.half
            WHERE cent.half = 1)
      SELECT r.label, n_ref, n_cur,
             floor(sqrt(${sumsq("c0")}) * 10000 + 0.5) / 10000
               AS norm_ref,
             floor(sqrt(${sumsq("c1")}) * 10000 + 0.5) / 10000
               AS norm_cur,
             floor((1.0 - ${cos("c0", "c1")}) * 10000 + 0.5) / 10000
               AS drift
      FROM r JOIN u ON r.label = u.label
      ORDER BY r.label"""
  }

  /** DuckDB twin of [[embedMatryoshka]]: prefix cosines over
    * range(1, dim+1) with dim from an unnest'd budget list, the same
    * (rounded cs desc, vec_id) rank discipline, exact hit counts.
    */
  private def matryoshkaOracle: String =
    s"""
      WITH e AS (
        SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
        FROM embeddings),
      q AS (SELECT vec_id AS qid, v AS qv FROM e
            ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id LIMIT 40),
      dims AS (SELECT unnest([16, 32, 64]) AS dim),
      scored AS (
        SELECT q.qid, e.vec_id, d.dim,
               floor((list_reduce(list_prepend(CAST(0 AS DOUBLE),
                   list_transform(range(1, d.dim + 1),
                     i -> e.v[i] * q.qv[i])), (s, x) -> s + x)
                 / (sqrt(list_reduce(list_prepend(CAST(0 AS DOUBLE),
                      list_transform(range(1, d.dim + 1),
                        i -> e.v[i] * e.v[i])), (s, x) -> s + x))
                    * sqrt(list_reduce(list_prepend(CAST(0 AS DOUBLE),
                        list_transform(range(1, d.dim + 1),
                          i -> q.qv[i] * q.qv[i])), (s, x) -> s + x))))
                 * 10000 + 0.5) / 10000 AS cs
        FROM e CROSS JOIN q CROSS JOIN dims d),
      top AS (
        SELECT qid, vec_id, dim,
               row_number() OVER (PARTITION BY qid, dim
                 ORDER BY cs DESC, vec_id) AS rnk
        FROM scored QUALIFY rnk <= 10),
      truth AS (SELECT qid, vec_id FROM top WHERE dim = 64),
      hits AS (
        SELECT t.dim, count(*) AS sum_hits
        FROM top t JOIN truth x
          ON t.qid = x.qid AND t.vec_id = x.vec_id
        GROUP BY t.dim),
      nq AS (SELECT count(*) AS n_queries FROM q)
      SELECT dim, sum_hits, n_queries,
             floor(CAST(sum_hits AS DOUBLE)
                   / (10.0 * CAST(n_queries AS DOUBLE)) * 10000 + 0.5)
               / 10000 AS avg_recall
      FROM hits CROSS JOIN nq
      ORDER BY dim"""

  /** DuckDB twin of [[simMmr]], generated by unrolling the fixed
    * `k`-pick greedy loop into CTE rounds (the kmeans/BPE-oracle
    * discipline): candidates and their pairwise cosines precompute
    * once; each round anti-joins out the picks so far, scores
    * remaining candidates λ·rel − (1−λ)·maxSimToSelected (max is
    * order-independent; λ and 1−λ are the same IEEE expressions both
    * engines evaluate), and arg-maxes with the Scala loop's tie rule
    * (score desc, then the (rel desc, vec_id) scan order).
    */
  private def mmrOracle(k: Int): String = {
    def cos(a: String, b: String): String =
      s"""list_reduce(list_prepend(CAST(0 AS DOUBLE),
           list_transform(range(1, 65), i -> $a[i] * $b[i])),
           (s, x) -> s + x)
         / (sqrt(list_reduce(list_prepend(CAST(0 AS DOUBLE),
              list_transform(range(1, 65), i -> $a[i] * $a[i])),
              (s, x) -> s + x))
            * sqrt(list_reduce(list_prepend(CAST(0 AS DOUBLE),
                list_transform(range(1, 65), i -> $b[i] * $b[i])),
                (s, x) -> s + x)))"""
    val head = s"""
      WITH e AS (
        SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
        FROM embeddings),
      q AS (SELECT vec_id AS qid, v AS qv FROM e WHERE vec_id % 50 = 0),
      cand AS MATERIALIZED (
        SELECT q.qid, e.vec_id, ${cos("e.v", "q.qv")} AS rel, e.v
        FROM e CROSS JOIN q WHERE e.vec_id <> q.qid
        QUALIFY row_number() OVER (PARTITION BY q.qid
                                   ORDER BY rel DESC, e.vec_id) <= 50),
      ps AS MATERIALIZED (
        SELECT a.qid, a.vec_id AS av, b.vec_id AS bv,
               ${cos("a.v", "b.v")} AS sim
        FROM cand a JOIN cand b
          ON a.qid = b.qid AND a.vec_id <> b.vec_id),
      sel1 AS MATERIALIZED (
        SELECT qid, 1 AS rank, vec_id, rel, 0.7 * rel AS score
        FROM cand
        QUALIFY row_number() OVER (PARTITION BY qid
          ORDER BY 0.7 * rel DESC, rel DESC, vec_id) = 1)"""
    val rounds = (2 to k).map { r =>
      val prevAll = (1 until r).map(i => s"SELECT * FROM sel$i")
        .mkString(" UNION ALL ")
      s"""
      prev$r AS MATERIALIZED ($prevAll),
      scored$r AS (
        SELECT c.qid, c.vec_id, c.rel,
               0.7 * c.rel - (1 - 0.7) * max(p.sim) AS score
        FROM cand c
        LEFT JOIN prev$r x
          ON x.qid = c.qid AND x.vec_id = c.vec_id
        JOIN prev$r s ON s.qid = c.qid
        JOIN ps p ON p.qid = c.qid AND p.av = c.vec_id
                  AND p.bv = s.vec_id
        WHERE x.vec_id IS NULL
        GROUP BY c.qid, c.vec_id, c.rel),
      sel$r AS MATERIALIZED (
        SELECT qid, $r AS rank, vec_id, rel, score
        FROM scored$r
        QUALIFY row_number() OVER (PARTITION BY qid
          ORDER BY score DESC, rel DESC, vec_id) = 1)"""
    }.mkString(",")
    val unions = (1 to k).map(r => s"SELECT * FROM sel$r")
      .mkString(" UNION ALL ")
    s"""$head,$rounds,
      allsel AS ($unions)
      SELECT qid, CAST(rank AS INT) AS rank, vec_id,
             round(rel, 4) AS relevance,
             floor(score * 10000) / 10000 AS mmr_score
      FROM allsel ORDER BY qid, rank"""
  }

  /** The m×k×subdim codebooks of [[graft.api.ops.pqCodebooks]] as a
    * DuckDB DOUBLE[][][] literal — same generating call as the Spark
    * side.
    */
  private def pqCodebooksSql(m: Int, k: Int, subdim: Int): String =
    graft.api.ops.pqCodebooks(m, k, subdim)
      .map(_.map(_.mkString("[", ", ", "]"))
        .mkString("[", ",\n        ", "]"))
      .mkString("[", ",\n        ", "]")

  val oracle: Map[String, String] = Map(
    "q_sim_mmr" -> mmrOracle(10),
    "q_sim_pq" -> s"""
      WITH e AS (
        SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
        FROM embeddings),
      cb AS (
        SELECT j, c, (CAST(${pqCodebooksSql(4, 16, 16)}
          AS DOUBLE[][][]))[j][c] AS code
        FROM generate_series(1, 4) AS gj(j),
             generate_series(1, 16) AS gc(c)),
      cbn AS (
        SELECT j, c, code,
               list_reduce(list_prepend(CAST(0 AS DOUBLE),
                 list_transform(code, x -> x * x)), (s, x) -> s + x)
                 AS cn
        FROM cb),
      sub AS (
        SELECT vec_id, j,
               list_transform(range(1, 17), d -> v[(j - 1) * 16 + d])
                 AS s
        FROM e, generate_series(1, 4) AS gj(j)),
      sd AS (
        SELECT vec_id, j, s,
               list_reduce(list_prepend(CAST(0 AS DOUBLE),
                 list_transform(s, x -> x * x)), (a, x) -> a + x)
                 AS sdd
        FROM sub),
      dist AS (
        SELECT sd.vec_id, sd.j, cbn.c,
               sdd - 2.0 * list_reduce(list_prepend(CAST(0 AS DOUBLE),
                 list_transform(range(1, 17),
                   d -> sd.s[d] * cbn.code[d])),
                 (a, x) -> a + x) + cbn.cn AS d2
        FROM sd JOIN cbn ON sd.j = cbn.j),
      codes AS (
        SELECT vec_id, j, c - 1 AS c FROM dist
        QUALIFY row_number() OVER (PARTITION BY vec_id, j
                                   ORDER BY d2, c) = 1),
      qsub AS (
        SELECT vec_id AS qid, j,
               list_transform(range(1, 17), d -> v[(j - 1) * 16 + d])
                 AS q
        FROM e, generate_series(1, 4) AS gj(j)
        WHERE vec_id % 50 = 0),
      lut AS (
        SELECT qsub.qid, qsub.j, cbn.c - 1 AS c,
               list_reduce(list_prepend(CAST(0 AS DOUBLE),
                 list_transform(range(1, 17),
                   d -> qsub.q[d] * cbn.code[d])),
                 (a, x) -> a + x) AS l
        FROM qsub JOIN cbn ON qsub.j = cbn.j),
      adc AS (
        SELECT l.qid, co.vec_id,
               floor(list_reduce(list_prepend(CAST(0 AS DOUBLE),
                 list(l.l ORDER BY l.j)), (a, x) -> a + x)
                 * 10000 + 0.5) / 10000 AS adc
        FROM codes co JOIN lut l ON co.j = l.j AND co.c = l.c
        GROUP BY l.qid, co.vec_id)
      SELECT qid, vec_id, adc,
             CAST(row_number() OVER (PARTITION BY qid
               ORDER BY adc DESC, vec_id) AS INT) AS rank
      FROM adc
      QUALIFY rank <= 3
      ORDER BY qid, rank""",
    "q_sim_ann_multiprobe" -> s"""
      WITH e AS (
        SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
        FROM embeddings),
      pl AS (
        SELECT k, (CAST(${graft.api.ops.lshPlanesSql(8, 64)}
          AS DOUBLE[][]))[k] AS p
        FROM generate_series(1, 8) AS g(k)),
      dots AS (
        SELECT e.vec_id, pl.k,
               list_reduce(list_prepend(CAST(0 AS DOUBLE),
                 list_transform(range(1, 65), i -> e.v[i] * pl.p[i])),
                 (s, x) -> s + x) AS d
        FROM e CROSS JOIN pl),
      buck AS (
        SELECT vec_id,
               CAST(sum(CASE WHEN d > 0 THEN 1 << (8 - k) ELSE 0 END)
                 AS BIGINT) AS bucket
        FROM dots GROUP BY vec_id),
      eb AS (SELECT e.vec_id, e.v, b.bucket
             FROM e JOIN buck b USING (vec_id)),
      flips AS (
        SELECT vec_id, k FROM dots WHERE vec_id % 50 = 0
        QUALIFY row_number() OVER (PARTITION BY vec_id
                                   ORDER BY abs(d), k) <= 2),
      qprobes AS (
        SELECT eb.vec_id AS qid, eb.v AS qv, eb.bucket FROM eb
        WHERE eb.vec_id % 50 = 0
        UNION ALL
        SELECT eb.vec_id, eb.v,
               xor(eb.bucket, CAST(1 << (8 - f.k) AS BIGINT))
        FROM eb JOIN flips f ON eb.vec_id = f.vec_id),
      scored AS (
        SELECT q.qid, eb.vec_id,
               round(
                 list_reduce(list_prepend(CAST(0 AS DOUBLE),
                   list_transform(range(1, 65), i -> eb.v[i] * q.qv[i])),
                   (s, x) -> s + x)
                 / (sqrt(list_reduce(list_prepend(CAST(0 AS DOUBLE),
                      list_transform(range(1, 65),
                        i -> eb.v[i] * eb.v[i])),
                      (s, x) -> s + x))
                    * sqrt(list_reduce(list_prepend(CAST(0 AS DOUBLE),
                        list_transform(range(1, 65),
                          i -> q.qv[i] * q.qv[i])),
                        (s, x) -> s + x))), 4) AS cos_sim
        FROM eb JOIN qprobes q ON eb.bucket = q.bucket)
      SELECT qid, vec_id, cos_sim,
             CAST(row_number() OVER (PARTITION BY qid
               ORDER BY cos_sim DESC, vec_id) AS INT) AS rank
      FROM scored
      QUALIFY rank <= 3
      ORDER BY qid, rank""",
    "q_sim_ann_ivf" -> s"""
      WITH e AS (
        SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
        FROM embeddings),
      an AS (
        SELECT i - 1 AS cell,
               (CAST(${graft.api.ops.ivfAnchorsSql(16, 64)}
                 AS DOUBLE[][]))[i] AS a
        FROM generate_series(1, 16) AS g(i)),
      sims AS (
        SELECT e.vec_id, e.v, an.cell,
               list_reduce(list_prepend(CAST(0 AS DOUBLE),
                 list_transform(range(1, 65), d -> e.v[d] * an.a[d])),
                 (s, x) -> s + x)
               / (sqrt(list_reduce(list_prepend(CAST(0 AS DOUBLE),
                    list_transform(range(1, 65), d -> e.v[d] * e.v[d])),
                    (s, x) -> s + x))
                  * sqrt(list_reduce(list_prepend(CAST(0 AS DOUBLE),
                      list_transform(range(1, 65),
                        d -> an.a[d] * an.a[d])),
                      (s, x) -> s + x))) AS sim
        FROM e CROSS JOIN an),
      assigned AS (
        SELECT vec_id, v, cell FROM sims
        QUALIFY row_number() OVER (PARTITION BY vec_id
                                   ORDER BY sim DESC, cell) = 1),
      probes AS (
        SELECT s.vec_id AS qid, s.v AS qv, s.cell
        FROM sims s WHERE s.vec_id % 50 = 0
        QUALIFY row_number() OVER (PARTITION BY s.vec_id
                                   ORDER BY s.sim DESC, s.cell) <= 2),
      scored AS (
        SELECT p.qid, a.vec_id,
               floor((
                 list_reduce(list_prepend(CAST(0 AS DOUBLE),
                   list_transform(range(1, 65), d -> a.v[d] * p.qv[d])),
                   (s, x) -> s + x)
                 / (sqrt(list_reduce(list_prepend(CAST(0 AS DOUBLE),
                      list_transform(range(1, 65),
                        d -> a.v[d] * a.v[d])),
                      (s, x) -> s + x))
                    * sqrt(list_reduce(list_prepend(CAST(0 AS DOUBLE),
                        list_transform(range(1, 65),
                          d -> p.qv[d] * p.qv[d])),
                        (s, x) -> s + x)))) * 10000 + 0.5) / 10000
                 AS cos_sim
        FROM assigned a JOIN probes p ON a.cell = p.cell)
      SELECT qid, vec_id, cos_sim,
             CAST(row_number() OVER (PARTITION BY qid
               ORDER BY cos_sim DESC, vec_id) AS INT) AS rank
      FROM scored
      QUALIFY rank <= 3
      ORDER BY qid, rank""",
    "q_sim_ann_recall" -> annRecallOracle,
    "q_sim_ann_nsw" -> annNswOracle(beamW = 4, rounds = 3),
    "q_sim_ndcg" -> simNdcgOracle,
    "q_embed_matryoshka" -> matryoshkaOracle,
    "q_embed_drift" -> embedDriftOracle,
    "q_embed_pca_power" -> """
      WITH q AS (
        SELECT vec_id, i,
               CAST(floor(CAST(embedding[i] AS DOUBLE) * 1000 + 0.5)
                 AS BIGINT) AS q
        FROM embeddings,
          LATERAL unnest(generate_series(1, 64)) AS g(i)),
      gram AS (
        SELECT a.i, b.i AS j, CAST(sum(a.q * b.q) AS BIGINT) AS g
        FROM q a JOIN q b ON a.vec_id = b.vec_id
        GROUP BY a.i, b.i),
      w1 AS (SELECT i AS wi, CAST(sum(g) AS BIGINT) AS w1
             FROM gram GROUP BY i),
      w2 AS (
        SELECT gram.i,
               CAST(sum(CAST(g AS HUGEINT) * w1) AS HUGEINT) AS w2dec
        FROM gram JOIN w1 ON gram.j = w1.wi
        GROUP BY gram.i),
      w2w AS (SELECT w2.i, w1.w1, w2.w2dec
              FROM w2 JOIN w1 ON w2.i = w1.wi),
      folded AS (
        SELECT
          list_reduce(list_prepend(CAST(0 AS DOUBLE),
            list_transform(list(CAST(w2dec AS DOUBLE) ORDER BY i),
              x -> x * x)),
            (s, x) -> s + x) AS n2,
          CAST(sum(CAST(w1 AS HUGEINT) * w2dec) AS DOUBLE) AS dot12,
          CAST(sum(CAST(w1 AS HUGEINT) * CAST(w1 AS HUGEINT)) AS DOUBLE)
            AS dot11
        FROM w2w)
      SELECT CAST(w2w.i AS INT) AS pos,
             floor(CAST(w2dec AS DOUBLE) / sqrt(n2) * 10000) / 10000
               AS loading,
             floor(dot12 / dot11 * 10000) / 10000 AS lambda
      FROM w2w CROSS JOIN folded ORDER BY pos""",
    "q_embed_kmeans" -> """
      WITH emb AS (
        SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
      init AS (
        SELECT row_number() OVER (ORDER BY md5(CAST(vec_id AS VARCHAR)),
                 vec_id) - 1 AS c, v
        FROM emb
        QUALIFY row_number() OVER (ORDER BY md5(CAST(vec_id AS VARCHAR)),
                  vec_id) <= 4),
      a1 AS (
        SELECT e.vec_id, e.v, i.c,
               CAST(floor(list_reduce(list_prepend(CAST(0 AS DOUBLE),
                 list_transform(range(1, 65),
                   d -> (e.v[d] - i.v[d]) * (e.v[d] - i.v[d]))),
                 (s, x) -> s + x) * 1000000) AS BIGINT) AS d2i
        FROM emb e CROSS JOIN init i),
      asg1 AS (
        SELECT vec_id, v, c FROM a1
        QUALIFY row_number() OVER (PARTITION BY vec_id
                                   ORDER BY d2i, c) = 1),
      u1 AS (
        SELECT c, pos,
               CAST(sum(CAST(floor(v[pos] * 1000000 + 0.5) AS BIGINT))
                 AS BIGINT) AS s,
               count(*) AS n
        FROM asg1, LATERAL unnest(generate_series(1, 64)) AS g(pos)
        GROUP BY c, pos),
      c1 AS (
        SELECT c, list(CAST(s AS DOUBLE) / n / 1000000 ORDER BY pos) AS v
        FROM u1 GROUP BY c),
      a2 AS (
        SELECT e.vec_id, e.v, i.c,
               CAST(floor(list_reduce(list_prepend(CAST(0 AS DOUBLE),
                 list_transform(range(1, 65),
                   d -> (e.v[d] - i.v[d]) * (e.v[d] - i.v[d]))),
                 (s, x) -> s + x) * 1000000) AS BIGINT) AS d2i
        FROM emb e CROSS JOIN c1 i),
      asg2 AS (
        SELECT vec_id, v, c FROM a2
        QUALIFY row_number() OVER (PARTITION BY vec_id
                                   ORDER BY d2i, c) = 1),
      u2 AS (
        SELECT c, pos,
               CAST(sum(CAST(floor(v[pos] * 1000000 + 0.5) AS BIGINT))
                 AS BIGINT) AS s,
               count(*) AS n
        FROM asg2, LATERAL unnest(generate_series(1, 64)) AS g(pos)
        GROUP BY c, pos)
      SELECT CAST(c AS INT) AS cluster, n AS n_members,
             CAST(pos AS INT) AS pos,
             floor(CAST(s AS DOUBLE) / n / 1000000 * 10000) / 10000
               AS cval
      FROM u2 ORDER BY cluster, pos""",
    "q_sim_ann_lsh" -> s"""
      WITH e AS (
        SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
        FROM embeddings),
      pl AS (
        SELECT k, (CAST(${graft.api.ops.lshPlanesSql(8, 64)}
          AS DOUBLE[][]))[k] AS p
        FROM generate_series(1, 8) AS g(k)),
      dots AS (
        SELECT e.vec_id, pl.k,
               list_reduce(list_prepend(CAST(0 AS DOUBLE),
                 list_transform(range(1, 65), i -> e.v[i] * pl.p[i])),
                 (s, x) -> s + x) AS d
        FROM e CROSS JOIN pl),
      buck AS (
        SELECT vec_id,
               CAST(sum(CASE WHEN d > 0 THEN 1 << (8 - k) ELSE 0 END)
                 AS BIGINT) AS bucket
        FROM dots GROUP BY vec_id),
      eb AS (SELECT e.vec_id, e.v, b.bucket
             FROM e JOIN buck b USING (vec_id)),
      q AS (SELECT vec_id AS qid, v AS qv, bucket
            FROM eb WHERE vec_id % 50 = 0),
      scored AS (
        SELECT q.qid, eb.vec_id,
               round(
                 list_reduce(list_prepend(CAST(0 AS DOUBLE),
                   list_transform(range(1, 65), i -> eb.v[i] * q.qv[i])),
                   (s, x) -> s + x)
                 / (sqrt(list_reduce(list_prepend(CAST(0 AS DOUBLE),
                      list_transform(range(1, 65),
                        i -> eb.v[i] * eb.v[i])),
                      (s, x) -> s + x))
                    * sqrt(list_reduce(list_prepend(CAST(0 AS DOUBLE),
                        list_transform(range(1, 65),
                          i -> q.qv[i] * q.qv[i])),
                        (s, x) -> s + x))), 4) AS cos_sim
        FROM eb JOIN q ON eb.bucket = q.bucket),
      ranked AS (
        SELECT qid, vec_id, cos_sim,
               CAST(row_number() OVER (PARTITION BY qid
                 ORDER BY cos_sim DESC, vec_id) AS INT) AS rank
        FROM scored)
      SELECT qid, vec_id, cos_sim, rank FROM ranked WHERE rank <= 3
      ORDER BY qid, rank""",
    "q_embed_whiten" -> """
      WITH x AS (
        SELECT vec_id, generate_subscripts(embedding, 1) AS pos,
               unnest(CAST(embedding AS DOUBLE[])) AS v
        FROM embeddings),
      d AS (
        SELECT pos, avg(v) AS mu, stddev_samp(v) AS sd
        FROM x GROUP BY pos)
      SELECT x.vec_id, x.pos, round((x.v - d.mu) / d.sd, 4) AS z
      FROM x JOIN d USING (pos)
      WHERE x.vec_id % 100 = 0
      ORDER BY x.vec_id, x.pos""",
    "q_market_basket" -> """
      WITH op AS (
        SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem),
      nb AS (SELECT count(DISTINCT o) AS n_baskets FROM op),
      item AS (SELECT p, count(*) AS n_item FROM op GROUP BY p),
      pr AS (
        SELECT a.p AS a, b.p AS b, count(*) AS n_ab
        FROM op a JOIN op b ON a.o = b.o AND a.p < b.p
        GROUP BY a.p, b.p HAVING count(*) >= 2),
      rules AS (
        SELECT a AS antecedent, b AS consequent, n_ab FROM pr
        UNION ALL
        SELECT b AS antecedent, a AS consequent, n_ab FROM pr)
      SELECT antecedent, consequent, n_ab,
             ia.n_item AS n_a, ib.n_item AS n_b,
             floor(CAST(n_ab AS DOUBLE) / nb.n_baskets * 10000 + 0.5)
               / 10000 AS support,
             floor(CAST(n_ab AS DOUBLE) / ia.n_item * 10000 + 0.5)
               / 10000 AS confidence,
             floor(CAST(n_ab AS DOUBLE) * nb.n_baskets
                   / (ia.n_item * ib.n_item) * 10000 + 0.5) / 10000
               AS lift
      FROM rules
      JOIN item ia ON antecedent = ia.p
      JOIN item ib ON consequent = ib.p
      CROSS JOIN nb
      ORDER BY lift DESC, antecedent, consequent
      LIMIT 20""",
    "q_rec_cooccur" -> """
      WITH op AS (
        SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem),
      pairs AS (
        SELECT x.p AS a, y.p AS b, count(*) AS n
        FROM op x JOIN op y ON x.o = y.o AND x.p < y.p
        GROUP BY 1, 2),
      bd AS (
        SELECT a AS part, b AS partner, n FROM pairs
        UNION ALL
        SELECT b AS part, a AS partner, n FROM pairs),
      r AS (
        SELECT part, partner, n,
               row_number() OVER (PARTITION BY part
                 ORDER BY n DESC, partner) AS rank
        FROM bd)
      SELECT part, partner, n, rank FROM r
      WHERE rank <= 3 ORDER BY part, rank""",
    "q_embed_rproject" -> s"""
      WITH m AS (SELECT CAST(${graft.api.ops.rprojectSignsSql(16, 64)}
                   AS DOUBLE[][]) AS mat),
      e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
            FROM embeddings)
      SELECT vec_id, CAST(j - 1 AS INT) AS dim,
             floor(list_dot_product(v, mat[j]) * 10000 + 0.5) / 10000
               AS val
      FROM e, m, unnest(range(1, 17)) AS t(j)
      ORDER BY vec_id, dim""",
    "q_decontaminate_semantic" -> """
      WITH e AS (
        SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS emb
        FROM embeddings),
      ev AS (SELECT vec_id AS eid, emb AS eemb FROM e
             ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id LIMIT 200),
      scored AS (
        SELECT t.vec_id, t.label,
               floor((
                 list_reduce(list_prepend(CAST(0 AS DOUBLE),
                   list_transform(range(1, 65), i -> t.emb[i] * ev.eemb[i])),
                   (s, v) -> s + v)
                 / (sqrt(list_reduce(list_prepend(CAST(0 AS DOUBLE),
                      list_transform(range(1, 65), i -> t.emb[i] * t.emb[i])),
                      (s, v) -> s + v))
                  * sqrt(list_reduce(list_prepend(CAST(0 AS DOUBLE),
                      list_transform(range(1, 65),
                        i -> ev.eemb[i] * ev.eemb[i])),
                      (s, v) -> s + v)))) * 10000 + 0.5) / 10000 AS c
        FROM e t CROSS JOIN ev
        WHERE t.vec_id NOT IN (SELECT eid FROM ev))
      SELECT vec_id, label, max(c) AS max_cos_eval,
             max(c) >= 0.4 AS contaminated
      FROM scored
      GROUP BY vec_id, label
      ORDER BY vec_id""",
    "q_pipeline_embeddings" -> """
      WITH e AS (
        SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings),
      cent AS (
        SELECT label AS clabel, list(cv ORDER BY pos) AS cemb
        FROM (SELECT label, pos, avg(v) AS cv
              FROM (SELECT label,
                           generate_subscripts(embedding, 1) AS pos,
                           unnest(CAST(embedding AS DOUBLE[])) AS v
                    FROM embeddings)
              GROUP BY label, pos)
        GROUP BY label),
      q AS (
        SELECT vec_id, emb,
               list_max(list_transform(emb, x -> abs(x))) / 127 AS scale
        FROM e),
      r AS (
        SELECT vec_id, emb,
               CASE WHEN scale = 0
                    THEN list_transform(emb, x -> CAST(0 AS DOUBLE))
                    ELSE list_transform(emb,
                      x -> floor(x / scale + 0.5) * scale) END AS recon
        FROM q),
      err AS (
        SELECT vec_id, recon,
               sqrt(list_reduce(list_prepend(CAST(0 AS DOUBLE),
                 list_transform(range(1, 65),
                   i -> (emb[i] - recon[i]) * (emb[i] - recon[i]))),
                 (a, x) -> a + x)) AS err_l2
        FROM r),
      scored AS (
        SELECT vec_id, err_l2, clabel,
               round(
                 list_reduce(list_prepend(CAST(0 AS DOUBLE),
                   list_transform(range(1, 65), i -> recon[i] * cemb[i])),
                   (a, x) -> a + x)
                 / (sqrt(list_reduce(list_prepend(CAST(0 AS DOUBLE),
                      list_transform(range(1, 65), i -> recon[i] * recon[i])),
                      (a, x) -> a + x))
                  * sqrt(list_reduce(list_prepend(CAST(0 AS DOUBLE),
                      list_transform(range(1, 65), i -> cemb[i] * cemb[i])),
                      (a, x) -> a + x))), 4) AS csim
        FROM err CROSS JOIN cent),
      best AS (
        SELECT vec_id, err_l2, clabel, csim
        FROM (SELECT *, row_number() OVER
                (PARTITION BY vec_id ORDER BY csim DESC, clabel) AS rn
              FROM scored)
        WHERE rn = 1)
      SELECT clabel AS cluster, count(*) AS n_vecs,
             floor(avg(err_l2) * 10000 + 0.5) / 10000 AS mean_err,
             floor(avg(csim) * 10000 + 0.5) / 10000 AS mean_csim
      FROM best
      GROUP BY clabel
      ORDER BY cluster""",
    "q_dedup_semantic" -> s"""
      WITH e AS (
        SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings),
      cent AS (
        SELECT label AS clabel, list(cv ORDER BY pos) AS cemb
        FROM (SELECT label, pos, avg(v) AS cv
              FROM (SELECT label,
                           generate_subscripts(embedding, 1) AS pos,
                           unnest(CAST(embedding AS DOUBLE[])) AS v
                    FROM embeddings)
              GROUP BY label, pos)
        GROUP BY label),
      scored AS (
        SELECT vec_id, emb, clabel,
               round(
                 list_reduce(list_prepend(CAST(0 AS DOUBLE),
                   list_transform(range(1, 65), i -> emb[i] * cemb[i])),
                   (acc, x) -> acc + x)
                 / (sqrt(list_reduce(list_prepend(CAST(0 AS DOUBLE),
                      list_transform(range(1, 65), i -> emb[i] * emb[i])),
                      (acc, x) -> acc + x))
                  * sqrt(list_reduce(list_prepend(CAST(0 AS DOUBLE),
                      list_transform(range(1, 65), i -> cemb[i] * cemb[i])),
                      (acc, x) -> acc + x))), 4) AS csim
        FROM e CROSS JOIN cent),
      best AS (
        SELECT vec_id, clabel AS cluster, emb
        FROM (SELECT *, row_number() OVER
                (PARTITION BY vec_id ORDER BY csim DESC, clabel) AS rn
              FROM scored)
        WHERE rn = 1),
      pl AS (
        SELECT k, (CAST(${graft.api.ops.lshPlanesSql(32, 64)}
          AS DOUBLE[][]))[k] AS p
        FROM generate_series(1, 32) AS g(k)),
      dots AS (
        SELECT b.vec_id, pl.k,
               list_reduce(list_prepend(CAST(0 AS DOUBLE),
                 list_transform(range(1, 65), i -> b.emb[i] * pl.p[i])),
                 (acc, x) -> acc + x) AS d
        FROM best b CROSS JOIN pl),
      buck AS (
        SELECT vec_id, (k - 1) // 8 AS tbl,
               sum(CASE WHEN d > 0
                        THEN 1 << (7 - ((k - 1) % 8)) ELSE 0 END) AS bkt
        FROM dots GROUP BY vec_id, (k - 1) // 8),
      cells0 AS (
        SELECT b.cluster, b.vec_id, k.tbl, k.bkt
        FROM best b JOIN buck k USING (vec_id)),
      cells AS (
        SELECT cluster, vec_id, tbl, bkt,
               CAST(('0x' || substring(md5(CAST(vec_id AS VARCHAR)),
                 1, 8)) AS BIGINT)
                 % ((count(*) OVER (PARTITION BY cluster, tbl, bkt)
                     + 127) // 128) AS sub
        FROM cells0),
      cand AS (
        SELECT DISTINCT a.cluster, a.vec_id AS v1, b.vec_id AS v2
        FROM cells a JOIN cells b
          ON a.cluster = b.cluster AND a.tbl = b.tbl
             AND a.bkt = b.bkt AND a.sub = b.sub
             AND a.vec_id < b.vec_id),
      pairs AS (
        SELECT c.cluster, c.v1, c.v2,
               round(
                 list_reduce(list_prepend(CAST(0 AS DOUBLE),
                   list_transform(range(1, 65), i -> a.emb[i] * b.emb[i])),
                   (acc, x) -> acc + x)
                 / (sqrt(list_reduce(list_prepend(CAST(0 AS DOUBLE),
                      list_transform(range(1, 65), i -> a.emb[i] * a.emb[i])),
                      (acc, x) -> acc + x))
                  * sqrt(list_reduce(list_prepend(CAST(0 AS DOUBLE),
                      list_transform(range(1, 65), i -> b.emb[i] * b.emb[i])),
                      (acc, x) -> acc + x))), 4) AS cos_sim
        FROM cand c
        JOIN best a ON a.vec_id = c.v1
        JOIN best b ON b.vec_id = c.v2),
      ranked AS (
        SELECT *, row_number() OVER
          (PARTITION BY cluster ORDER BY cos_sim DESC, v1, v2) AS rank
        FROM pairs)
      SELECT cluster, v1, v2, cos_sim, cos_sim >= 0.9 AS would_drop
      FROM ranked WHERE rank <= 2
      ORDER BY cluster, v1, v2""",
    "q_embed_quantize" -> """
      WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
                 FROM embeddings),
      s AS (SELECT vec_id, v,
                   list_max(list_transform(v, x -> abs(x))) / 127 AS scale
            FROM e),
      q AS (SELECT vec_id, v, scale,
                   CASE WHEN scale = 0
                        THEN list_transform(v, x -> CAST(0 AS BIGINT))
                        ELSE list_transform(v,
                          x -> CAST(floor(x / scale + 0.5) AS BIGINT))
                     END AS qv
            FROM s)
      SELECT vec_id,
             floor(scale * 10000 + 0.5) / 10000 AS scale,
             list_reduce(list_prepend(CAST(0 AS BIGINT), qv),
               (a, x) -> a + x) AS q_sum,
             floor(sqrt(list_reduce(list_prepend(CAST(0 AS DOUBLE),
                 list_transform(range(1, 65),
                   i -> pow(v[i] - qv[i] * scale, 2))),
               (a, x) -> a + x)) * 10000 + 0.5) / 10000 AS err_l2
      FROM q
      ORDER BY vec_id""",
    "q_sim_centroid_classify" -> """
      WITH x AS (
        SELECT label, generate_subscripts(embedding, 1) AS pos,
               unnest(CAST(embedding AS DOUBLE[])) AS v
        FROM embeddings),
      cenp AS (
        SELECT label AS clabel, pos,
               CAST(sum(CAST(floor(v * 1000000 + 0.5) AS BIGINT))
                    AS DOUBLE)
                 / CAST(count(*) AS DOUBLE) / 1000000 AS mq
        FROM x GROUP BY label, pos),
      cen AS (
        SELECT clabel, list(mq ORDER BY pos) AS cen FROM cenp
        GROUP BY clabel),
      scored AS (
        SELECT e.vec_id, e.label,
               {'d': CAST(floor(list_reduce(
                  list_prepend(CAST(0.0 AS DOUBLE),
                    list_transform(
                      list_zip(CAST(e.embedding AS DOUBLE[]), c.cen),
                      z -> (z[1] - z[2]) * (z[1] - z[2]))),
                  (a, b) -> a + b) * 1000000) AS BIGINT),
                'l': c.clabel} AS st
        FROM embeddings e, cen c),
      best AS (
        SELECT vec_id, label, (min(st)).l AS pred
        FROM scored GROUP BY vec_id, label)
      SELECT label AS true_label, count(*) AS n,
             CAST(sum(CASE WHEN label = pred THEN 1 ELSE 0 END)
                  AS BIGINT) AS n_correct,
             floor(CAST(sum(CASE WHEN label = pred THEN 1 ELSE 0 END)
                        AS DOUBLE) / CAST(count(*) AS DOUBLE)
                   * 10000 + 0.5) / 10000 AS accuracy
      FROM best GROUP BY label ORDER BY label""",
    "q_embed_outliers" -> """
      WITH x AS (
        SELECT label, vec_id, generate_subscripts(embedding, 1) AS pos,
               unnest(CAST(embedding AS DOUBLE[])) AS v
        FROM embeddings),
      cenp AS (
        SELECT label, pos,
               CAST(sum(CAST(floor(v * 1000000 + 0.5) AS BIGINT))
                    AS DOUBLE)
                 / CAST(count(*) AS DOUBLE) / 1000000 AS mq
        FROM x GROUP BY label, pos),
      cen AS (
        SELECT label, list(mq ORDER BY pos) AS cen FROM cenp
        GROUP BY label),
      dist AS (
        SELECT e.label, e.vec_id,
               CAST(floor(list_reduce(
                 list_prepend(CAST(0.0 AS DOUBLE),
                   list_transform(
                     list_zip(CAST(e.embedding AS DOUBLE[]), c.cen),
                     z -> (z[1] - z[2]) * (z[1] - z[2]))),
                 (a, b) -> a + b) * 1000000) AS BIGINT) AS d2i
        FROM embeddings e JOIN cen c ON e.label = c.label),
      ranked AS (
        SELECT label, vec_id, d2i,
               row_number() OVER (PARTITION BY label
                                  ORDER BY d2i DESC, vec_id) AS rank,
               count(*) OVER (PARTITION BY label) AS n,
               CAST(sum(d2i) OVER (PARTITION BY label) AS BIGINT)
                 AS sum_d2i
        FROM dist)
      SELECT label, CAST(rank AS INT) AS rank, vec_id,
             floor(CAST(d2i AS DOUBLE) / 1000000.0 * 10000 + 0.5)
               / 10000 AS dist2,
             floor(CAST(sum_d2i AS DOUBLE) / CAST(n AS DOUBLE)
                   / 1000000.0 * 10000 + 0.5) / 10000
               AS label_mean_dist2
      FROM ranked WHERE rank <= 3
      ORDER BY label, rank""",
    "q_sample_kcenter" -> """
      WITH RECURSIVE emb AS (
        SELECT vec_id,
               list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
        FROM embeddings),
      it AS (
        SELECT 1 AS rnk, [CAST(0 AS BIGINT)] AS ids,
               [(SELECT v FROM emb WHERE vec_id = 0)] AS centers,
               CAST(0.0 AS DOUBLE) AS radius
        UNION ALL
        SELECT rnk + 1,
               list_append(ids, -((max(st)).nid)),
               list_append(centers, (max(st)).v),
               (max(st)).md
        FROM (
          SELECT it.rnk, it.ids, it.centers,
                 {'md': list_reduce(
                    list_prepend(CAST('inf' AS DOUBLE),
                      list_transform(it.centers, c ->
                        list_reduce(
                          list_prepend(CAST(0.0 AS DOUBLE),
                            list_transform(list_zip(e.v, c),
                              z -> (z[1] - z[2]) * (z[1] - z[2]))),
                          (a, b) -> a + b))),
                    (a, b) -> least(a, b)),
                  'nid': -e.vec_id,
                  'v': e.v} AS st
          FROM it, emb e
          WHERE NOT list_contains(it.ids, e.vec_id) AND it.rnk < 8)
        GROUP BY rnk, ids, centers)
      SELECT rnk AS rank, ids[rnk] AS vec_id,
             floor(radius * 10000 + 0.5) / 10000 AS radius
      FROM it ORDER BY rnk""",
    "q_sim_cosine_topk" -> """
      WITH z AS (
        SELECT vec_id,
               unnest(CAST(embedding AS DOUBLE[])) AS x,
               unnest(CAST((SELECT embedding FROM embeddings WHERE vec_id = 0)
                 AS DOUBLE[])) AS y
        FROM embeddings),
      s AS (SELECT vec_id, sum(x*y) AS dot, sum(x*x) AS na, sum(y*y) AS nb
            FROM z GROUP BY vec_id)
      SELECT vec_id, round(dot / (sqrt(na) * sqrt(nb)), 4) AS cos_sim
      FROM s
      ORDER BY cos_sim DESC, vec_id
      LIMIT 10""",
    "q_sim_hard_negatives" -> """
      WITH e AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS emb
                 FROM embeddings),
      anch AS (SELECT vec_id, label, emb FROM e
               ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id LIMIT 200),
      pairs AS (
        SELECT a.vec_id AS aid, a.label AS label,
               b.vec_id AS hard_neg, b.label AS neg_label,
               list_reduce(list_prepend(CAST(0 AS DOUBLE),
                 list_transform(range(1, 65), i -> a.emb[i] * b.emb[i])),
                 (s, v) -> s + v) AS dot,
               sqrt(list_reduce(list_prepend(CAST(0 AS DOUBLE),
                 list_transform(range(1, 65), i -> a.emb[i] * a.emb[i])),
                 (s, v) -> s + v)) AS na,
               sqrt(list_reduce(list_prepend(CAST(0 AS DOUBLE),
                 list_transform(range(1, 65), i -> b.emb[i] * b.emb[i])),
                 (s, v) -> s + v)) AS nb
        FROM anch a JOIN e b ON a.label <> b.label),
      scored AS (
        SELECT aid, label, hard_neg, neg_label,
               floor(dot / (na * nb) * 10000 + 0.5) / 10000 AS cos_sim,
               row_number() OVER (PARTITION BY aid
                 ORDER BY floor(dot / (na * nb) * 10000 + 0.5) / 10000
                   DESC, hard_neg) AS rn
        FROM pairs)
      SELECT aid, label, hard_neg, neg_label, cos_sim
      FROM scored WHERE rn = 1 ORDER BY aid""",
    "q_sim_knn_graph" -> """
      WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb
                 FROM embeddings),
      anch AS (SELECT vec_id, emb FROM e
               ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id LIMIT 200),
      pairs AS (
        SELECT a.vec_id AS src, b.vec_id AS dst,
               list_reduce(list_prepend(CAST(0 AS DOUBLE),
                 list_transform(range(1, 65), i -> a.emb[i] * b.emb[i])),
                 (s, v) -> s + v) AS dot,
               sqrt(list_reduce(list_prepend(CAST(0 AS DOUBLE),
                 list_transform(range(1, 65), i -> a.emb[i] * a.emb[i])),
                 (s, v) -> s + v)) AS na,
               sqrt(list_reduce(list_prepend(CAST(0 AS DOUBLE),
                 list_transform(range(1, 65), i -> b.emb[i] * b.emb[i])),
                 (s, v) -> s + v)) AS nb
        FROM anch a JOIN e b ON a.vec_id <> b.vec_id),
      scored AS (
        SELECT src, dst,
               floor(dot / (na * nb) * 10000 + 0.5) / 10000 AS cos_sim,
               row_number() OVER (PARTITION BY src
                 ORDER BY floor(dot / (na * nb) * 10000 + 0.5) / 10000
                   DESC, dst) AS rank
        FROM pairs)
      SELECT src, CAST(rank AS BIGINT) AS rank, dst, cos_sim
      FROM scored WHERE rank <= 3 ORDER BY src, rank""",
    "q_sim_blocked_join" -> """
      WITH e AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS emb
                 FROM embeddings WHERE vec_id % 5 = 0),
      pairs AS (
        SELECT a.label, a.vec_id AS v1, b.vec_id AS v2,
               list_reduce(list_prepend(CAST(0 AS DOUBLE),
                 list_transform(range(1, 65), i -> a.emb[i] * b.emb[i])),
                 (s, v) -> s + v) AS dot,
               sqrt(list_reduce(list_prepend(CAST(0 AS DOUBLE),
                 list_transform(range(1, 65), i -> a.emb[i] * a.emb[i])),
                 (s, v) -> s + v)) AS na,
               sqrt(list_reduce(list_prepend(CAST(0 AS DOUBLE),
                 list_transform(range(1, 65), i -> b.emb[i] * b.emb[i])),
                 (s, v) -> s + v)) AS nb
        FROM e a JOIN e b ON a.label = b.label AND a.vec_id < b.vec_id),
      scored AS (
        SELECT label, v1, v2, round(dot / (na * nb), 4) AS cos_sim,
               row_number() OVER (PARTITION BY label
                 ORDER BY round(dot / (na * nb), 4) DESC, v1, v2) AS rn
        FROM pairs)
      SELECT label, v1, v2, cos_sim FROM scored WHERE rn = 1
      ORDER BY label""",
    "q_centroid_per_label" -> """
      SELECT label, pos, round(avg(v), 4) AS mean_val
      FROM (SELECT label, generate_subscripts(embedding, 1) AS pos,
                   unnest(CAST(embedding AS DOUBLE[])) AS v
            FROM embeddings)
      GROUP BY label, pos
      ORDER BY label, pos""",
    "q_multimodal_join" -> """
      WITH z AS (SELECT vec_id AS zid, sum(x*x) AS nsq
                 FROM (SELECT vec_id, unnest(CAST(embedding AS DOUBLE[])) AS x
                       FROM embeddings)
                 GROUP BY vec_id)
      SELECT doc_id, lang, n_chars,
             CAST(len(string_split(text, ' ')) AS INT) AS n_tokens,
             round(sqrt(nsq), 4) AS l2_norm, label
      FROM documents
      JOIN embeddings ON doc_id = vec_id
      JOIN z ON doc_id = zid
      ORDER BY doc_id""",
  )
}
