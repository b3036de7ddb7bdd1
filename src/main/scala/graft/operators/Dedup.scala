package graft.operators

import graft.{Norm, QueryModule, Tables}
import graft.api.ops._
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Deduplication operators for training-data pipelines (builder-prompt
  * LLM surface): exact, n-gram Jaccard, MinHash+LSH, SimHash,
  * embedding-cosine. Thin adapters binding the generic
  * [[graft.api.ops]] transforms to the driver's `documents` /
  * `embeddings` tables for the DuckDB oracle gate; scale notes live on
  * the API methods.
  */
/** Shared near-dup spine BUILDERS (the [[GraphSpine]] pattern for the
  * dedup family): three scored queries — components, components-star,
  * keep-best — consume the IDENTICAL Jaccard ≥ 0.8 pair graph over
  * `documents` (source+lang blocking, maxDf = 1000), and two of them
  * the identical min-label components fixpoint on top of it. This
  * object is the single implementation of those builds; like
  * [[GraphSpine]] they are deliberately NOT memoized across queries
  * (a cross-query cache would let a timed bench query skip the
  * tokenize → wedge-join work because a warm-up pass already did it —
  * every per-query timing must reflect a from-parquet computation).
  * `pinLineage` pins the pair graph within ONE query, so the
  * components op reads materialized blocks: it finishes in one task
  * while its edge pin is small, and iterates its rounds over them
  * otherwise.
  * components-star shares only the pairs — its star-contraction
  * fixpoint is the point of that query, so it computes its own labels.
  */
object DedupSpine {

  /** Jaccard ≥ 0.8 near-dup pairs (d1, d2, jaccard) over `documents`,
    * blocked by (source, lang), token df capped at 1000. */
  def pairs08(spark: SparkSession, dir: String): DataFrame =
    graft.api.ops.pinLineage(Tables(spark, dir, "documents")
      .withColumn("tokset", array_distinct(split(col("text"), " ")))
      .jaccardPairs(col("doc_id"), col("tokset"),
        struct(col("source"), col("lang")), threshold = 0.8,
        maxDf = 1000))

  /** Min-label connected components of [[pairs08]]: (doc_id, comp). */
  def components08(spark: SparkSession, dir: String): DataFrame =
    pairs08(spark, dir)
      .connectedComponents("d1", "d2")
      .withColumnRenamed("id", "doc_id")
}

object Dedup extends QueryModule {

  private def docsWithTokens(spark: SparkSession, dir: String): DataFrame =
    Tables(spark, dir, "documents")
      .withColumn("tokens", split(col("text"), " "))
      .withColumn("tokset", array_distinct(col("tokens")))

  /** Exact duplicate groups by content hash; canonical = min doc_id. */
  val dedupExact: Q = (spark, dir) =>
    Tables(spark, dir, "documents")
      .dedupExact(col("doc_id"), col("text"))
      .orderBy("doc_id")

  /** Exact token-set Jaccard ≥ 0.8 pairs, blocked by (source, lang),
    * via the inverted-index token join. The DuckDB twin verifies the
    * set arithmetic; the MinHash query approximates exactly this
    * measure without the blocking. maxDf = 1000 keeps the stopword-skew
    * guard on the scored plan while staying far above this corpus's max
    * per-block df (≤ block size ≈ 50 at sf0.1), so the oracle result is
    * exact — at real corpus scale the cut is what bounds the candidate
    * join (see [[graft.api.ops.GraftDataFrameOps.jaccardPairs]]).
    */
  val dedupNgramJaccard: Q = (spark, dir) =>
    docsWithTokens(spark, dir)
      .jaccardPairs(col("doc_id"), col("tokset"),
        struct(col("source"), col("lang")), threshold = 0.8, maxDf = 1000)
      .orderBy("d1", "d2")

  /** LSH banding audit — the tuning report for the MinHash schema
    * (128 hashes × 8 bands of 16): how many candidate pairs the bands
    * emit, what fraction survive exact ≥ 0.9 Jaccard verification
    * (precision — the wasted-verification cost knob), and what
    * fraction of the true in-block pairs the bands caught (recall —
    * the missed-duplicate knob). Runs on the deterministic 1-in-5
    * audit sample; the truth set is the lang-blocked exact pair list
    * (jaccardPairs, cap inert at oracle scales). Every count is an
    * exact integer entering the plan as a 1-row broadcast crossJoin
    * (no driver .count()); the two ratios divide once at the end.
    */
  val dedupLshAudit: Q = (spark, dir) => {
    val d = docsWithTokens(spark, dir).filter(col("doc_id") % 5 === 0)
    val cand = d.minhashCandidatePairs(col("doc_id"), col("tokset"))
    val ts = d.select(col("doc_id"), col("tokset"))
    // Same threshold predicate as the truth set: jaccardPairs compares
    // the 4dp-ROUNDED Jaccard against the threshold, so the verify
    // filter must too — otherwise a knife-edge pair with raw J in
    // [0.89995, 0.9) is truth but can never verify, and precision /
    // recall silently use two different definitions of "duplicate".
    val verified = cand
      .join(ts.select(col("doc_id").as("d1"), col("tokset").as("s1")), "d1")
      .join(ts.select(col("doc_id").as("d2"), col("tokset").as("s2")), "d2")
      .filter(round(
        size(array_intersect(col("s1"), col("s2"))).cast("double") /
          size(array_union(col("s1"), col("s2"))), 4) >= 0.9)
      .select(col("d1"), col("d2"))
    val truth = d.jaccardPairs(col("doc_id"), col("tokset"), col("lang"),
      threshold = 0.9, maxDf = 1000).select(col("d1"), col("d2"))
    val hit = cand.join(truth, Seq("d1", "d2"), "left_semi")
    val nc = cand.agg(count(lit(1)).as("n_cand"))
    val nv = verified.agg(count(lit(1)).as("n_verified"))
    val nt = truth.agg(count(lit(1)).as("n_truth"))
    val nh = hit.agg(count(lit(1)).as("n_hit"))
    nc.crossJoin(nv).crossJoin(nt).crossJoin(nh)
      .select(col("n_cand"), col("n_verified"), col("n_truth"),
        col("n_hit"),
        Norm.r4tie(col("n_verified").cast("double") /
          col("n_cand").cast("double")).as("lsh_precision"),
        Norm.r4tie(col("n_hit").cast("double") /
          col("n_truth").cast("double")).as("lsh_recall"))
  }

  /** Cross-source duplication matrix — the provenance report every
    * crawl-dedup pipeline publishes ("which feeds are re-crawling each
    * other?"): near-dup pairs blocked by lang ONLY (so pairs cross
    * source boundaries, unlike q_dedup_ngram_jaccard's
    * (source, lang) blocks), rolled up to unordered source pairs with
    * pair count and mean Jaccard. Runs on the deterministic 1-in-5
    * audit sample — the n² oracle replay stays tractable at rehearsal
    * scales, and a sampled matrix is how these reports run in
    * production anyway. The mean is exact: each 4dp-rounded Jaccard
    * lifts to an integer (×1e4, exact long sum, one final division) —
    * a double sum's order-dependent ulp drift would land mean values
    * like .81235 exactly on the rounding knife-edge. maxDf = 1000
    * exceeds every per-(lang, token) df at oracle scales (≤ ~100 at
    * sf0.01; per-replica ≤ 1000 at sf1/sf3 because ScaleUp suffixes
    * tokens per replica), so the cap-free oracle is exact there while
    * the cap still bounds candidate fanout beyond them.
    */
  val dedupSourceMatrix: Q = (spark, dir) => {
    val d = docsWithTokens(spark, dir).filter(col("doc_id") % 5 === 0)
    val pairs = d.jaccardPairs(col("doc_id"), col("tokset"),
      col("lang"), threshold = 0.8, maxDf = 1000)
    val src = d.select(col("doc_id"), col("source"))
    pairs
      .join(src.select(col("doc_id").as("d1"), col("source").as("s1")), "d1")
      .join(src.select(col("doc_id").as("d2"), col("source").as("s2")), "d2")
      .select(least(col("s1"), col("s2")).as("source_a"),
        greatest(col("s1"), col("s2")).as("source_b"),
        floor(col("jaccard") * 10000 + 0.5).cast("long").as("j4"))
      .groupBy("source_a", "source_b")
      .agg(count(lit(1)).as("n_pairs"), sum(col("j4")).as("sj4"))
      .select(col("source_a"), col("source_b"), col("n_pairs"),
        (floor(col("sj4").cast("double") / col("n_pairs").cast("double")
          + 0.5) / 10000).as("avg_jaccard"))
      .orderBy("source_a", "source_b")
  }

  /** Dedup threshold sensitivity sweep — the tuning report run BEFORE
    * committing to a Jaccard cut: pair count, affected-document count
    * and affected share at τ ∈ {0.7, 0.8, 0.9}, from ONE pair
    * enumeration at the loosest threshold (each tighter τ is a filter
    * of the same pair set, so the sweep costs one join, not three).
    * Lang-blocked on the 1-in-5 audit sample like the other dedup
    * audits; shares divide exact BIGINTs once per row.
    */
  val dedupThresholdSweep: Q = (spark, dir) => {
    val d = docsWithTokens(spark, dir).filter(col("doc_id") % 5 === 0)
    val pairs = graft.api.ops.pinLineage(
      d.jaccardPairs(col("doc_id"), col("tokset"), col("lang"),
        threshold = 0.7, maxDf = 1000)) // feeds one agg + one explode per τ
    val nDocs = d.agg(count(lit(1)).as("n_sample"))
    val taus = array(lit(0.7), lit(0.8), lit(0.9))
    val byTau = pairs
      .select(explode(taus).as("tau"), col("d1"), col("d2"), col("jaccard"))
      .filter(col("jaccard") >= col("tau"))
    val nPairs = byTau.groupBy("tau").agg(count(lit(1)).as("n_pairs"))
    val nAffected = byTau
      .select(col("tau"), explode(array(col("d1"), col("d2"))).as("doc"))
      .groupBy("tau").agg(countDistinct(col("doc")).as("n_docs"))
    nPairs.join(nAffected, "tau").crossJoin(broadcast(nDocs))
      .select(col("tau"), col("n_pairs"), col("n_docs"),
        Norm.r4tie(col("n_docs").cast("double") /
          col("n_sample").cast("double")).as("doc_share"))
      .orderBy("tau")
  }

  /** Train/val/test split-leakage audit — the eval-integrity check
    * every benchmark pipeline needs: near-duplicate pairs that
    * STRADDLE the deterministic md5 hash split (a test doc with a
    * train near-twin inflates eval scores exactly like test-set
    * contamination). Same lang-blocked ≥ 0.8 near-dup graph as
    * q_graph_clustering on the 1-in-5 audit sample, each endpoint
    * labeled by the shared 80/10/10 `withHashSplit`, rolled up per
    * unordered split pair with the cross-split flag and each cell's
    * share of all near-dup pairs (one division off exact BIGINTs;
    * the 1-row total joins back as a broadcast crossJoin, no
    * single-partition window). The fix this audit motivates —
    * splitting by near-dup COMPONENT instead of by doc — is
    * q_dedup_components + withHashSplit on the component id.
    */
  val dedupSplitLeakage: Q = (spark, dir) => {
    import graft.api.ops._
    val d = docsWithTokens(spark, dir).filter(col("doc_id") % 5 === 0)
      .withHashSplit(col("doc_id"))
    val pairs = d.jaccardPairs(col("doc_id"), col("tokset"), col("lang"),
      threshold = 0.8, maxDf = 1000)
    val sp = d.select(col("doc_id"), col("split"))
    val cells = pairs
      .join(sp.select(col("doc_id").as("d1"), col("split").as("sp1")), "d1")
      .join(sp.select(col("doc_id").as("d2"), col("split").as("sp2")), "d2")
      .select(least(col("sp1"), col("sp2")).as("split_a"),
        greatest(col("sp1"), col("sp2")).as("split_b"))
      .groupBy("split_a", "split_b")
      .agg(count(lit(1)).as("n_pairs"))
    val total = cells.agg(sum(col("n_pairs")).as("n_total"))
    cells.crossJoin(broadcast(total))
      .select(col("split_a"), col("split_b"), col("n_pairs"),
        (col("split_a") =!= col("split_b")).as("leaky"),
        Norm.r4tie(col("n_pairs").cast("double") /
          col("n_total").cast("double")).as("pair_share"))
      .orderBy("split_a", "split_b")
  }

  /** Local clustering coefficient of the near-duplicate graph — the
    * cluster-SHAPE audit for dedup: cliquey neighborhoods (cc → 1)
    * mean candidate clusters are true duplicate groups, while low cc
    * flags chain-shaped components (transitive LSH bridging: A≈B≈C
    * with A̸≈C), exactly the case where keep-one-per-component dedup
    * over-deletes. Edges are the lang-blocked ≥ 0.8 near-dup pairs on
    * the deterministic 1-in-5 audit sample (the same graph
    * q_dedup_source_matrix rolls up). Per node with degree ≥ 2:
    * degree, triangle count, cc = 2T/(d(d−1)) — T and d exact
    * BIGINTs, the division the only float op, 4dp tie-proof rounded.
    *
    * Triangles enumerate by smallest vertex over the canonical
    * (d1 < d2) edge list: wedge join at the minimum endpoint + one
    * closure join, each triangle found exactly once, every stage a
    * codegen hash join. Wedge fanout is Σ(above-degree)² — bounded by
    * near-dup cluster sizes, which the jaccardPairs maxDf cap already
    * guards (same skew argument as the rest of the dedup family).
    */
  val graphClustering: Q = (spark, dir) => {
    val d = docsWithTokens(spark, dir).filter(col("doc_id") % 5 === 0)
    // pin: the edge list feeds FIVE consumer sites (two degree legs,
    // the wedge join's both sides, the closure probe) — it is
    // hash-partitioned on the wedge apex `a` so both wedge sides read
    // the pinned layout shuffle-free.
    val edges = graft.api.ops.pinKeyed(
      d.jaccardPairs(col("doc_id"), col("tokset"), col("lang"),
          threshold = 0.8, maxDf = 1000)
        .select(col("d1").as("a"), col("d2").as("b")),
      col("a"))
    val deg = edges.select(col("a").as("v"))
      .unionAll(edges.select(col("b").as("v")))
      .groupBy("v").agg(count(lit(1)).as("d"))
    val e1 = edges.select(col("a").as("u"), col("b").as("v"))
    val e2 = edges.select(col("a").as("u2"), col("b").as("w"))
    val tris = e1.join(e2, col("u") === col("u2") && col("w") > col("v"))
      .select(col("u"), col("v"), col("w"))
      .join(edges.select(col("a").as("v"), col("b").as("w")), Seq("v", "w"))
    val perNode = tris.select(col("u").as("v0"))
      .unionAll(tris.select(col("v").as("v0")))
      .unionAll(tris.select(col("w").as("v0")))
      .groupBy("v0").agg(count(lit(1)).as("t"))
    deg.filter(col("d") >= 2)
      .join(perNode.select(col("v0").as("v"), col("t")), Seq("v"), "left")
      .na.fill(0L, Seq("t"))
      .select(col("v").as("doc_id"), col("d").as("degree"),
        col("t").as("n_triangles"),
        Norm.r4tie(lit(2.0) * col("t").cast("double") /
          (col("d").cast("double") * (col("d").cast("double") - 1)))
          .as("cc"))
      .orderBy("doc_id")
  }

  /** Asymmetric containment ≥ 0.9 within (source, lang) blocks — the
    * sub-document signal: a short doc quoted whole inside a long one
    * scores containment ≈ 1 where Jaccard stays low. Directed output
    * (inner contained-in outer) from ONE symmetric overlap join. See
    * [[graft.api.ops.GraftDataFrameOps.containmentPairs]].
    */
  val dedupContainment: Q = (spark, dir) =>
    docsWithTokens(spark, dir)
      .containmentPairs(col("doc_id"), col("tokset"),
        struct(col("source"), col("lang")), threshold = 0.9)
      .orderBy("inner_id", "outer_id")

  /** MinHash/LSH near-dup dedup → per-doc keep/discard flag. 128
    * hashes banded 8 × 16 — a steep s-curve, needed because this
    * synthetic corpus has background token-set Jaccard ≈ 0.62 (tiny
    * vocabulary), far above real corpora: P(candidate) ≈ 1-(1-s^16)^8
    * → 0.4% at the background vs ~85% at s=0.9. Signing 3-token
    * shingles instead would drop recall to ~0 — the testdata's
    * near-dups share vocabulary, not word order.
    *
    * EXACT oracle since r9: the md5+affine hash family (see
    * [[graft.api.ops.GraftDataFrameOps.minhashDedupFlags]]) is
    * replayed step-for-step in DuckDB — signatures, band digests,
    * candidate join and Jaccard verify all hash-match. QualitySpec
    * additionally keeps the semantic bound (precision=1, recall ≥0.9
    * vs brute force), which the oracle alone wouldn't prove.
    */
  val dedupMinhash: Q = (spark, dir) =>
    docsWithTokens(spark, dir)
      .minhashDedupFlags(col("doc_id"), col("tokset"),
        threshold = 0.9, numHashes = 128, bands = 8)
      .orderBy("doc_id")

  /** 64-bit SimHash near-dup pairs at Hamming ≤ 3 via 4×16-bit
    * rotate-block candidates — pigeonhole guarantees EXACT recall at
    * ≤ 3 differing bits (maxHamming < tables). The sketch (2 longs/doc)
    * is localCheckpoint'd so the self-join reads it instead of
    * recomputing the 64-column vote agg on both sides.
    *
    * EXACT oracle since r9: the md5-halves token hash (see
    * [[graft.api.ops.GraftDataFrameOps.simhash64]]) is replayed in
    * DuckDB — bit votes, sketch, rotate-block candidates and hamming
    * all hash-match. QualitySpec keeps the recall-equals-brute-force
    * semantic check.
    */
  val dedupSimhash: Q = (spark, dir) =>
    graft.api.ops.pinLineage(docsWithTokens(spark, dir)
      .simhash64(col("doc_id"), col("tokset")))
      .simhashPairs(maxHamming = 3, tables = 4)
      .orderBy("d1", "d2")

  /** Embedding-cosine near-dup: candidate pairs meet only inside a
    * sign-LSH block (the sign pattern of the first `bits` dims — near
    * -identical vectors share it at any `bits`), then exact cosine
    * ranks them; top-20 emitted. `bits` sizes the bucket count (2^bits)
    * and must grow ≈ log2(n / targetBucketSize) with the corpus — see
    * [[graft.api.ops.signPrefixBlock]]; blocks at more bits strictly
    * refine blocks at fewer, so raising `bits` only removes candidate
    * pairs (QualitySpec pins this and clone recall). The testdata
    * plants no near-dups (max cos ≈ 0.51), so a production-style
    * `cos ≥ τ` filter would be empty — emitting the ranked candidates
    * keeps the query non-empty and oracle-checkable while exercising
    * the same block→score→rank plan.
    */
  def embeddingNearDup(spark: SparkSession, dir: String,
                       bits: Int): DataFrame = {
    val e = Tables(spark, dir, "embeddings")
      .withColumn("emb", transform(col("embedding"), _.cast("double")))
      .withColumn("block", graft.api.ops.signPrefixBlock(col("emb"), bits))
    val a = e.select(col("block"), col("vec_id").as("v1"), col("emb").as("e1"))
    val b = e.select(col("block").as("block_b"), col("vec_id").as("v2"),
      col("emb").as("e2"))
    a.join(b, a("block") === b("block_b") && a("v1") < b("v2"))
      .select(col("v1"), col("v2"),
        Norm.r4(graft.api.ops.cosineSim(col("e1"), col("e2"))).as("cos_sim"))
      .orderBy(col("cos_sim").desc, col("v1"), col("v2"))
      .limit(20)
  }

  /** Scored entry: bits = 8 to match the DuckDB twin's blocking. */
  val dedupEmbedding: Q = (spark, dir) => embeddingNearDup(spark, dir, 8)

  /** Pairs → CLUSTERS: connected components over the exact Jaccard
    * ≥ 0.8 pair graph, then every document labeled with its cluster's
    * canonical (min) doc_id. This is the step every pairwise near-dup
    * detector above feeds at production scale — without it, chained
    * dups (a~b, b~c with a≁c) get over- or under-deleted. Isolated
    * docs are their own component. The DuckDB twin computes the same
    * fixpoint as a recursive transitive closure (tractable at oracle
    * SF; the Spark side is the O(diameter)-round distributed form).
    */
  val dedupComponents: Q = (spark, dir) => {
    val comp = DedupSpine.components08(spark, dir)
    Tables(spark, dir, "documents").select(col("doc_id"))
      .join(comp, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("comp"), col("doc_id")).as("component"))
      .withColumn("is_canonical", col("component") === col("doc_id"))
      .orderBy("doc_id")
  }

  /** [[dedupComponents]] on the alternating large-star/small-star
    * contraction (`connectedComponentsStar`) instead of min-label
    * propagation — O(log² n) rounds vs O(diameter), the form for
    * high-diameter similarity graphs. Hash-matching the SAME
    * recursive-transitive-closure oracle as q_dedup_components proves
    * the two distributed algorithms compute the identical fixpoint
    * through the driver's gate, not just in unit tests.
    */
  val dedupComponentsStar: Q = (spark, dir) => {
    val pairs = DedupSpine.pairs08(spark, dir)
    val comp = pairs.connectedComponentsStar("d1", "d2")
      .withColumnRenamed("id", "doc_id")
    Tables(spark, dir, "documents").select(col("doc_id"))
      .join(comp, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("comp"), col("doc_id")).as("component"))
      .withColumn("is_canonical", col("component") === col("doc_id"))
      .orderBy("doc_id")
  }

  /** The production dedup DECISION rule: near-dup clusters keep their
    * highest-QUALITY member, not the min-id one — min-id canonicals
    * are a stable placeholder, but real pipelines keep the best copy
    * (RefinedWeb/FineWeb keep-one-per-cluster step). Clusters come
    * from [[dedupComponents]]' pair graph; the kept doc is the
    * 4dp-quality argmax with doc_id as the deterministic tie-break
    * (rounded quality on purpose — both engines agree on 4dp, so ties
    * break identically). One component-keyed window over the labeled
    * docs (per-cluster cardinality is small by construction, so the
    * window partition is never a skew concern at corpus scale).
    * Output: (doc_id, component, quality, keep).
    */
  val dedupKeepBest: Q = (spark, dir) => {
    val comp = DedupSpine.components08(spark, dir)
    val qual = Tables(spark, dir, "documents")
      .qualityScores(col("doc_id"), split(col("text"), " "), col("n_chars"),
        stopwords = Seq("the", "a", "of", "and", "to", "in"))
      .select(col("doc_id"), col("quality"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("component")
      .orderBy(col("quality").desc, col("doc_id"))
    Tables(spark, dir, "documents").select(col("doc_id"))
      .join(comp, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("comp"), col("doc_id")).as("component"))
      .join(qual, "doc_id")
      .withColumn("keep", col("doc_id") === first(col("doc_id")).over(w))
      .select("doc_id", "component", "quality", "keep")
      .orderBy("doc_id")
  }

  /** Incremental cross-batch dedup: docs 250+ are "today's feed",
    * docs 0–249 the ingested base; fingerprint = md5 of the first 8
    * tokens (a prefix-digest policy, which DOES collide across the
    * batches — 13 incoming docs drop at sf0.01). The Bloom-probe
    * two-tier plan is the point at scale; see
    * [[graft.api.ops.GraftDataFrameOps.incrementalNew]].
    */
  val dedupCrossBatch: Q = (spark, dir) => {
    val fp = md5(concat_ws(" ", slice(split(col("text"), " "), 1, 8)))
    val all = Tables(spark, dir, "documents")
    all.filter(col("doc_id") >= 250)
      .incrementalNew(all.filter(col("doc_id") < 250).select(fp.as("fp")),
        fp, col("fp"))
      .select("doc_id", "lang", "source")
      .orderBy("doc_id")
  }

  /** The FULL rolling-crawl incremental-dedup story (the operator a
    * 100 TB recurring ingest actually runs), extending
    * [[dedupCrossBatch]]'s single filter into the two-phase pipeline:
    *
    *  1. batch N (docs < 250) dedups internally; what persists between
    *     batches is ONLY its canonical fingerprint manifest — never
    *     text, never non-canonical rows;
    *  2. batch N+1 (docs ≥ 250) drops every doc whose fingerprint hits
    *     the manifest (Bloom pre-probe at the scan + exact anti-join
    *     on survivors, via [[graft.api.ops.GraftDataFrameOps
    *     .incrementalNew]]), then dedups internally — emitting one row
    *     per NEWLY-RETAINED canonical with its absorbed-member count.
    *
    * No batch-N canonical can re-emit by construction (its fingerprint
    * is in the manifest), and the DuckDB twin replays BOTH phases, so
    * the hash match proves it rather than asserting it. At scale the
    * manifest is the only cross-batch state: O(canonicals) fingerprint
    * strings, mergeable across days, exactly what a crawl cursor
    * persists.
    */
  val dedupIncremental: Q = (spark, dir) => {
    val fp = md5(concat_ws(" ", slice(split(col("text"), " "), 1, 8)))
    val all = Tables(spark, dir, "documents").withColumn("fp", fp)
    val manifest = all.filter(col("doc_id") < 250).select("fp").distinct()
    val fresh = all.filter(col("doc_id") >= 250)
      .incrementalNew(manifest, col("fp"), col("fp"))
    fresh.groupBy("fp")
      .agg(min(col("doc_id")).as("doc_id"),
        min_by(col("lang"), col("doc_id")).as("lang"),
        min_by(col("source"), col("doc_id")).as("source"),
        count(lit(1)).as("n_members"))
      .select("doc_id", "lang", "source", "n_members")
      .orderBy("doc_id")
  }

  val queries: Map[String, Q] = Map(
    "q_dedup_cross_batch" -> dedupCrossBatch,
    "q_dedup_incremental" -> dedupIncremental,
    "q_dedup_exact" -> dedupExact,
    "q_dedup_ngram_jaccard" -> dedupNgramJaccard,
    "q_dedup_source_matrix" -> dedupSourceMatrix,
    "q_graph_clustering" -> graphClustering,
    "q_dedup_split_leakage" -> dedupSplitLeakage,
    "q_dedup_threshold_sweep" -> dedupThresholdSweep,
    "q_dedup_lsh_audit" -> dedupLshAudit,
    "q_dedup_containment" -> dedupContainment,
    "q_dedup_minhash" -> dedupMinhash,
    "q_dedup_simhash" -> dedupSimhash,
    "q_dedup_embedding" -> dedupEmbedding,
    "q_dedup_components" -> dedupComponents,
    "q_dedup_components_star" -> dedupComponentsStar,
    "q_dedup_keep_best" -> dedupKeepBest,
  )

  /** Shared by q_dedup_components and q_dedup_components_star: the
    * oracle is the recursive transitive closure (tractable at oracle
    * SF), so a hash match proves BOTH distributed algorithms — the
    * O(diameter) min-label loop and the O(log² n) star contraction —
    * compute the identical fixpoint.
    */
  private val componentsOracleSql = """
      WITH RECURSIVE d AS (
        SELECT doc_id, source, lang,
               list_distinct(string_split(text, ' ')) AS tokset
        FROM documents),
      p AS (
        SELECT d1, d2 FROM (
          SELECT a.doc_id AS d1, b.doc_id AS d2,
                 round(CAST(len(list_intersect(a.tokset, b.tokset)) AS DOUBLE) /
                   len(list_distinct(list_concat(a.tokset, b.tokset))), 4)
                   AS jaccard
          FROM d a JOIN d b
            ON a.source = b.source AND a.lang = b.lang
               AND a.doc_id < b.doc_id)
        WHERE jaccard >= 0.8),
      e AS (SELECT d1 AS s, d2 AS t FROM p
            UNION SELECT d2, d1 FROM p),
      reach(a, b) AS (
        SELECT s, s FROM e
        UNION
        SELECT r.a, e.t FROM reach r JOIN e ON r.b = e.s),
      comp AS (SELECT a AS doc_id, min(b) AS component
               FROM reach GROUP BY a)
      SELECT doc.doc_id,
             coalesce(c.component, doc.doc_id) AS component,
             coalesce(c.component, doc.doc_id) = doc.doc_id AS is_canonical
      FROM documents doc LEFT JOIN comp c ON doc.doc_id = c.doc_id
      ORDER BY doc.doc_id"""

  val oracle: Map[String, String] = Map(
    "q_dedup_incremental" -> """
      WITH p AS (
        SELECT doc_id, lang, source,
               md5(array_to_string(string_split(text, ' ')[1:8], ' '))
                 AS fp
        FROM documents),
      manifest AS (SELECT DISTINCT fp FROM p WHERE doc_id < 250),
      fresh AS (
        SELECT * FROM p
        WHERE doc_id >= 250
          AND fp NOT IN (SELECT fp FROM manifest))
      SELECT min(doc_id) AS doc_id,
             min_by(lang, doc_id) AS lang,
             min_by(source, doc_id) AS source,
             count(*) AS n_members
      FROM fresh GROUP BY fp ORDER BY doc_id""",
    "q_dedup_simhash" -> """
      WITH toks AS (
        SELECT doc_id, unnest(list_distinct(string_split(text, ' ')))
          AS t
        FROM documents),
      h AS (
        SELECT doc_id,
               CAST(('0x' || substring(md5(t), 1, 8)) AS BIGINT) AS h1,
               CAST(('0x' || substring(md5(t), 9, 8)) AS BIGINT) AS h2
        FROM toks),
      bits AS (SELECT b FROM generate_series(0, 63) AS g(b)),
      votes AS (
        SELECT doc_id, b,
               sum(CASE WHEN b < 32 THEN (h2 >> b) & 1
                        ELSE (h1 >> (b - 32)) & 1 END) AS c,
               count(*) AS n
        FROM h CROSS JOIN bits GROUP BY doc_id, b),
      sketch AS (
        SELECT doc_id,
               CAST(sum(CASE WHEN c * 2 > n
                             THEN CASE WHEN b = 63
                                       THEN -9223372036854775808
                                       ELSE CAST(1 AS BIGINT) << b END
                             ELSE 0 END) AS BIGINT) AS simhash
        FROM votes GROUP BY doc_id),
      sliced AS (
        SELECT doc_id, simhash, t AS tbl,
               (simhash >> (t * 16)) & 65535 AS slice
        FROM sketch CROSS JOIN generate_series(0, 3) AS g(t)),
      cand AS (
        SELECT a.doc_id AS d1, b.doc_id AS d2,
               bit_count(xor(a.simhash, b.simhash)) AS hamming
        FROM sliced a JOIN sliced b
          ON a.tbl = b.tbl AND a.slice = b.slice
             AND a.doc_id < b.doc_id)
      SELECT DISTINCT d1, d2, CAST(hamming AS INT) AS hamming
      FROM cand WHERE hamming <= 3
      ORDER BY d1, d2""",
    "q_dedup_minhash" -> """
      WITH toks AS (
        SELECT doc_id, unnest(list_distinct(string_split(text, ' ')))
          AS sh
        FROM documents),
      h AS (
        SELECT doc_id,
               CAST(('0x' || substring(md5(sh), 1, 15)) AS BIGINT)
                 % 2147483647 AS h31
        FROM toks),
      ks AS (
        SELECT k,
               (k * 2654435761) % 2147483646 + 1 AS a,
               (k * 40503 * 65537 + 17) % 2147483647 AS b
        FROM generate_series(0, 127) AS g(k)),
      sig AS (
        SELECT doc_id, k, min((h31 * a + b) % 2147483647) AS m
        FROM h CROSS JOIN ks GROUP BY doc_id, k),
      band AS (
        SELECT doc_id, k // 16 AS band_id,
               md5(string_agg(CAST(m AS VARCHAR), ',' ORDER BY k)) AS bh
        FROM sig GROUP BY doc_id, k // 16),
      cand AS (
        SELECT DISTINCT x.doc_id AS d1, y.doc_id AS d2
        FROM band x JOIN band y
          ON x.band_id = y.band_id AND x.bh = y.bh
             AND x.doc_id < y.doc_id),
      d AS (
        SELECT doc_id, list_distinct(string_split(text, ' ')) AS ts
        FROM documents),
      dup AS (
        SELECT DISTINCT c.d2 AS doc_id
        FROM cand c
        JOIN d a ON a.doc_id = c.d1
        JOIN d b ON b.doc_id = c.d2
        WHERE CAST(len(list_intersect(a.ts, b.ts)) AS DOUBLE)
              / len(list_distinct(list_concat(a.ts, b.ts))) >= 0.9)
      SELECT doc.doc_id,
             coalesce(doc.doc_id IN (SELECT doc_id FROM dup), FALSE)
               AS is_dup
      FROM documents doc ORDER BY doc.doc_id""",
    "q_dedup_cross_batch" -> """
      WITH p AS (
        SELECT doc_id, lang, source,
               md5(array_to_string(string_split(text, ' ')[1:8], ' '))
                 AS fp
        FROM documents)
      SELECT doc_id, lang, source FROM p i
      WHERE i.doc_id >= 250
        AND NOT EXISTS (SELECT 1 FROM p b
                        WHERE b.doc_id < 250 AND b.fp = i.fp)
      ORDER BY doc_id""",
    "q_dedup_exact" -> """
      SELECT min(doc_id) AS doc_id, count(*) AS n_dups
      FROM documents
      GROUP BY text
      ORDER BY doc_id""",
    "q_dedup_ngram_jaccard" -> """
      WITH d AS (SELECT doc_id, source, lang,
                        list_distinct(string_split(text, ' ')) AS tokset
                 FROM documents)
      SELECT d1, d2, jaccard FROM (
        SELECT a.doc_id AS d1, b.doc_id AS d2,
               round(CAST(len(list_intersect(a.tokset, b.tokset)) AS DOUBLE) /
                 len(list_distinct(list_concat(a.tokset, b.tokset))), 4)
                 AS jaccard
        FROM d a JOIN d b
          ON a.source = b.source AND a.lang = b.lang AND a.doc_id < b.doc_id)
      WHERE jaccard >= 0.8
      ORDER BY d1, d2""",
    "q_dedup_lsh_audit" -> """
      WITH toks AS (
        SELECT doc_id, unnest(list_distinct(string_split(text, ' ')))
          AS sh
        FROM documents WHERE doc_id % 5 = 0),
      h AS (
        SELECT doc_id,
               CAST(('0x' || substring(md5(sh), 1, 15)) AS BIGINT)
                 % 2147483647 AS h31
        FROM toks),
      ks AS (
        SELECT k,
               (k * 2654435761) % 2147483646 + 1 AS a,
               (k * 40503 * 65537 + 17) % 2147483647 AS b
        FROM generate_series(0, 127) AS g(k)),
      sig AS (
        SELECT doc_id, k, min((h31 * a + b) % 2147483647) AS m
        FROM h CROSS JOIN ks GROUP BY doc_id, k),
      band AS (
        SELECT doc_id, k // 16 AS band_id,
               md5(string_agg(CAST(m AS VARCHAR), ',' ORDER BY k)) AS bh
        FROM sig GROUP BY doc_id, k // 16),
      cand AS (
        SELECT DISTINCT x.doc_id AS d1, y.doc_id AS d2
        FROM band x JOIN band y
          ON x.band_id = y.band_id AND x.bh = y.bh
             AND x.doc_id < y.doc_id),
      d AS (
        SELECT doc_id, lang,
               list_distinct(string_split(text, ' ')) AS ts
        FROM documents WHERE doc_id % 5 = 0),
      ver AS (
        SELECT c.d1, c.d2 FROM cand c
        JOIN d a ON a.doc_id = c.d1
        JOIN d b ON b.doc_id = c.d2
        WHERE round(CAST(len(list_intersect(a.ts, b.ts)) AS DOUBLE)
              / len(list_distinct(list_concat(a.ts, b.ts))), 4) >= 0.9),
      truth AS (
        SELECT a.doc_id AS d1, b.doc_id AS d2
        FROM d a JOIN d b ON a.lang = b.lang AND a.doc_id < b.doc_id
        WHERE round(CAST(len(list_intersect(a.ts, b.ts)) AS DOUBLE) /
              len(list_distinct(list_concat(a.ts, b.ts))), 4) >= 0.9),
      hit AS (SELECT d1, d2 FROM cand INTERSECT SELECT d1, d2 FROM truth)
      SELECT nc.n_cand, nv.n_verified, nt.n_truth, nh.n_hit,
             floor(CAST(nv.n_verified AS DOUBLE)
               / CAST(nc.n_cand AS DOUBLE) * 10000 + 0.5) / 10000
               AS lsh_precision,
             floor(CAST(nh.n_hit AS DOUBLE)
               / CAST(nt.n_truth AS DOUBLE) * 10000 + 0.5) / 10000
               AS lsh_recall
      FROM (SELECT count(*) AS n_cand FROM cand) nc,
           (SELECT count(*) AS n_verified FROM ver) nv,
           (SELECT count(*) AS n_truth FROM truth) nt,
           (SELECT count(*) AS n_hit FROM hit) nh""",
    "q_dedup_source_matrix" -> """
      WITH d AS (SELECT doc_id, source, lang,
                        list_distinct(string_split(text, ' ')) AS tokset
                 FROM documents
                 WHERE doc_id % 5 = 0),
      p AS (
        SELECT a.source AS s1, b.source AS s2,
               round(CAST(len(list_intersect(a.tokset, b.tokset)) AS DOUBLE) /
                 len(list_distinct(list_concat(a.tokset, b.tokset))), 4)
                 AS jaccard
        FROM d a JOIN d b
          ON a.lang = b.lang AND a.doc_id < b.doc_id),
      q AS (
        SELECT least(s1, s2) AS source_a, greatest(s1, s2) AS source_b,
               CAST(floor(jaccard * 10000 + 0.5) AS BIGINT) AS j4
        FROM p WHERE jaccard >= 0.8)
      SELECT source_a, source_b, count(*) AS n_pairs,
             floor(CAST(sum(j4) AS DOUBLE) / CAST(count(*) AS DOUBLE)
               + 0.5) / 10000 AS avg_jaccard
      FROM q GROUP BY source_a, source_b
      ORDER BY source_a, source_b""",
    "q_dedup_threshold_sweep" -> """
      WITH d AS (SELECT doc_id, lang,
                        list_distinct(string_split(text, ' ')) AS tokset
                 FROM documents
                 WHERE doc_id % 5 = 0),
      p AS (
        SELECT a.doc_id AS d1, b.doc_id AS d2,
               round(CAST(len(list_intersect(a.tokset, b.tokset)) AS DOUBLE) /
                 len(list_distinct(list_concat(a.tokset, b.tokset))), 4)
                 AS jaccard
        FROM d a JOIN d b
          ON a.lang = b.lang AND a.doc_id < b.doc_id),
      bytau AS (
        SELECT tau, d1, d2
        FROM p CROSS JOIN (SELECT unnest([0.7, 0.8, 0.9]) AS tau)
        WHERE jaccard >= tau),
      np AS (SELECT tau, count(*) AS n_pairs FROM bytau GROUP BY tau),
      na AS (
        SELECT tau, count(DISTINCT doc) AS n_docs FROM (
          SELECT tau, d1 AS doc FROM bytau
          UNION ALL SELECT tau, d2 AS doc FROM bytau)
        GROUP BY tau),
      tot AS (SELECT count(*) AS n_sample FROM d)
      SELECT np.tau, np.n_pairs, na.n_docs,
             floor(CAST(na.n_docs AS DOUBLE) / CAST(n_sample AS DOUBLE)
               * 10000 + 0.5) / 10000 AS doc_share
      FROM np JOIN na ON np.tau = na.tau CROSS JOIN tot
      ORDER BY np.tau""",
    "q_dedup_split_leakage" -> """
      WITH d0 AS (
        SELECT doc_id, lang,
               list_distinct(string_split(text, ' ')) AS tokset,
               ((strpos('0123456789abcdef', substring(lower(md5(
                   CAST(doc_id AS VARCHAR))), 1, 1)) - 1) * 4096 +
                (strpos('0123456789abcdef', substring(lower(md5(
                   CAST(doc_id AS VARCHAR))), 2, 1)) - 1) * 256 +
                (strpos('0123456789abcdef', substring(lower(md5(
                   CAST(doc_id AS VARCHAR))), 3, 1)) - 1) * 16 +
                (strpos('0123456789abcdef', substring(lower(md5(
                   CAST(doc_id AS VARCHAR))), 4, 1)) - 1)) % 100 AS bucket
        FROM documents WHERE doc_id % 5 = 0),
      d AS (
        SELECT doc_id, lang, tokset,
               CASE WHEN bucket < 80 THEN 'train'
                    WHEN bucket < 90 THEN 'val'
                    ELSE 'test' END AS split
        FROM d0),
      p AS (
        SELECT a.split AS sp1, b.split AS sp2,
               round(CAST(len(list_intersect(a.tokset, b.tokset)) AS DOUBLE) /
                 len(list_distinct(list_concat(a.tokset, b.tokset))), 4)
                 AS jaccard
        FROM d a JOIN d b
          ON a.lang = b.lang AND a.doc_id < b.doc_id),
      cells AS (
        SELECT least(sp1, sp2) AS split_a, greatest(sp1, sp2) AS split_b,
               count(*) AS n_pairs
        FROM p WHERE jaccard >= 0.8
        GROUP BY 1, 2),
      tot AS (SELECT sum(n_pairs) AS n_total FROM cells)
      SELECT split_a, split_b, n_pairs,
             split_a <> split_b AS leaky,
             floor(CAST(n_pairs AS DOUBLE) / CAST(n_total AS DOUBLE)
               * 10000 + 0.5) / 10000 AS pair_share
      FROM cells CROSS JOIN tot
      ORDER BY split_a, split_b""",
    "q_graph_clustering" -> """
      WITH d AS (SELECT doc_id, lang,
                        list_distinct(string_split(text, ' ')) AS tokset
                 FROM documents
                 WHERE doc_id % 5 = 0),
      p AS (
        SELECT a.doc_id AS ea, b.doc_id AS eb,
               round(CAST(len(list_intersect(a.tokset, b.tokset)) AS DOUBLE) /
                 len(list_distinct(list_concat(a.tokset, b.tokset))), 4)
                 AS jaccard
        FROM d a JOIN d b
          ON a.lang = b.lang AND a.doc_id < b.doc_id),
      e AS (SELECT ea, eb FROM p WHERE jaccard >= 0.8),
      deg AS (
        SELECT v, count(*) AS dg FROM (
          SELECT ea AS v FROM e UNION ALL SELECT eb AS v FROM e)
        GROUP BY v),
      tri AS (
        SELECT e1.ea AS u, e1.eb AS v, e2.eb AS w
        FROM e e1
        JOIN e e2 ON e1.ea = e2.ea AND e2.eb > e1.eb
        JOIN e e3 ON e3.ea = e1.eb AND e3.eb = e2.eb),
      pn AS (
        SELECT v0, count(*) AS t FROM (
          SELECT u AS v0 FROM tri
          UNION ALL SELECT v AS v0 FROM tri
          UNION ALL SELECT w AS v0 FROM tri)
        GROUP BY v0)
      SELECT deg.v AS doc_id, dg AS degree,
             COALESCE(t, 0) AS n_triangles,
             floor(2.0 * CAST(COALESCE(t, 0) AS DOUBLE) /
                   (CAST(dg AS DOUBLE) * (CAST(dg AS DOUBLE) - 1))
                   * 10000 + 0.5) / 10000 AS cc
      FROM deg LEFT JOIN pn ON pn.v0 = deg.v
      WHERE dg >= 2
      ORDER BY doc_id""",
    "q_dedup_containment" -> """
      WITH d AS (SELECT doc_id, source, lang,
                        list_distinct(string_split(text, ' ')) AS tokset
                 FROM documents),
      p AS (
        SELECT a.doc_id AS d1, b.doc_id AS d2,
               len(list_intersect(a.tokset, b.tokset)) AS common,
               len(a.tokset) AS sz1, len(b.tokset) AS sz2
        FROM d a JOIN d b
          ON a.source = b.source AND a.lang = b.lang
             AND a.doc_id < b.doc_id),
      dirs AS (
        SELECT d1 AS inner_id, d2 AS outer_id,
               floor(CAST(common AS DOUBLE) / sz1 * 10000 + 0.5) / 10000
                 AS containment
        FROM p
        UNION ALL
        SELECT d2 AS inner_id, d1 AS outer_id,
               floor(CAST(common AS DOUBLE) / sz2 * 10000 + 0.5) / 10000
                 AS containment
        FROM p)
      SELECT inner_id, outer_id, containment
      FROM dirs
      WHERE containment >= 0.9
      ORDER BY inner_id, outer_id""",
    "q_dedup_components" -> componentsOracleSql,
    // Identical oracle on purpose: min-label and star contraction
    // must produce the identical typed result table.
    "q_dedup_components_star" -> componentsOracleSql,
    // Same component closure + the q_text_quality score formula +
    // a per-component argmax window (quality DESC, doc_id tie-break).
    "q_dedup_keep_best" -> """
      WITH RECURSIVE d AS (
        SELECT doc_id, source, lang,
               list_distinct(string_split(text, ' ')) AS tokset
        FROM documents),
      p AS (
        SELECT d1, d2 FROM (
          SELECT a.doc_id AS d1, b.doc_id AS d2,
                 round(CAST(len(list_intersect(a.tokset, b.tokset)) AS DOUBLE) /
                   len(list_distinct(list_concat(a.tokset, b.tokset))), 4)
                   AS jaccard
          FROM d a JOIN d b
            ON a.source = b.source AND a.lang = b.lang
               AND a.doc_id < b.doc_id)
        WHERE jaccard >= 0.8),
      e AS (SELECT d1 AS s, d2 AS t FROM p
            UNION SELECT d2, d1 FROM p),
      reach(a, b) AS (
        SELECT s, s FROM e
        UNION
        SELECT r.a, e.t FROM reach r JOIN e ON r.b = e.s),
      comp AS (SELECT a AS doc_id, min(b) AS component
               FROM reach GROUP BY a),
      qual AS (
        SELECT doc_id,
               round(
                 (CAST(len(list_filter(toks, t -> regexp_full_match(
                    t, '[a-z]+'))) AS DOUBLE) / len(toks)) *
                 (1.0 - CAST(len(list_filter(toks, t -> list_contains(
                    ['the', 'a', 'of', 'and', 'to', 'in'], t))) AS DOUBLE)
                    / len(toks)) *
                 least(CAST(len(toks) AS DOUBLE) / 50.0, 1.0), 4) AS quality
        FROM (SELECT doc_id, string_split(text, ' ') AS toks
              FROM documents)),
      m AS (
        SELECT doc.doc_id,
               coalesce(c.component, doc.doc_id) AS component,
               q.quality
        FROM documents doc
        LEFT JOIN comp c ON doc.doc_id = c.doc_id
        JOIN qual q ON doc.doc_id = q.doc_id)
      SELECT doc_id, component, quality,
             doc_id = first_value(doc_id) OVER (
               PARTITION BY component
               ORDER BY quality DESC, doc_id) AS keep
      FROM m
      ORDER BY doc_id""",
    "q_dedup_embedding" -> """
      WITH e AS (
        SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb
        FROM embeddings),
      blocked AS (
        SELECT vec_id, emb,
               list_reduce(list_prepend(0,
                 list_transform(emb[1:8],
                   v -> CASE WHEN v > 0 THEN 1 ELSE 0 END)),
                 (acc, x) -> acc * 2 + x) AS block
        FROM e),
      pairs AS (
        SELECT a.vec_id AS v1, b.vec_id AS v2, a.emb AS ea, b.emb AS eb
        FROM blocked a JOIN blocked b
          ON a.block = b.block AND a.vec_id < b.vec_id),
      scored AS (
        SELECT v1, v2,
               round(
                 list_reduce(list_prepend(CAST(0 AS DOUBLE),
                   list_transform(range(1, 65), i -> ea[i] * eb[i])),
                   (s, v) -> s + v)
                 / (sqrt(list_reduce(list_prepend(CAST(0 AS DOUBLE),
                      list_transform(range(1, 65), i -> ea[i] * ea[i])),
                      (s, v) -> s + v))
                  * sqrt(list_reduce(list_prepend(CAST(0 AS DOUBLE),
                      list_transform(range(1, 65), i -> eb[i] * eb[i])),
                      (s, v) -> s + v))), 4) AS cos_sim
        FROM pairs)
      SELECT v1, v2, cos_sim FROM scored
      ORDER BY cos_sim DESC, v1, v2
      LIMIT 20""",
  )
}
