package graft.operators

import graft.{Norm, QueryModule, Tables}
import graft.api.ops.pinLineage
import graft.functions.TokenizePos
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.Bridge

/** Text-analysis operators for training-data pipelines (builder-prompt
  * LLM surface): tokenization (incl. the custom Generator), tf-idf,
  * language stats, data-driven language ID, quality scoring, and
  * rolling-hash fingerprinting.
  *
  * Scale notes: token explosion multiplies rows ~50×, so every
  * aggregation after explode is partial-agg'd before its shuffle
  * (stock hash-agg); the language-ID profile is tiny (langs × 10) and
  * broadcast; fingerprints/quality are pure per-row fold expressions —
  * no shuffle, no UDF.
  */
object TextAnalysis extends QueryModule {

  private def docs(spark: SparkSession, dir: String): DataFrame =
    Tables(spark, dir, "documents")

  /** Global term counts (explode + hash-agg). */
  val textTokenize: Q = (spark, dir) => {
    import graft.api.ops._
    docs(spark, dir)
      .termCounts(col("doc_id"), split(col("text"), " "))
      .orderBy("term")
  }

  /** Positional tokenization through the custom Generator (UDTF
    * surface): first 5 tokens of each document with their positions.
    */
  val textTokenizePos: Q = (spark, dir) => {
    val d = docs(spark, dir)
    d.select(col("doc_id"),
        Bridge.column(TokenizePos(Bridge.expression(col("text"))))
          .as(Seq("pos", "token")))
      .filter(col("pos") < 5)
      .orderBy("doc_id", "pos")
  }

  /** tf-idf, top-3 terms per document (ranked on the rounded score so
    * cross-engine ordering is stable).
    */
  val textTfidf: Q = (spark, dir) => {
    import graft.api.ops._
    docs(spark, dir)
      .tfidfTopTerms(col("doc_id"), split(col("text"), " "), k = 3)
      .orderBy("doc_id", "rn")
  }

  /** Per-language corpus stats. Averages are rounded with the tie-proof
    * [[Norm.r4tie]] identity instead of round() — see its doc for the
    * HALF_UP vs half-even rationale (inputs here are non-negative).
    */
  val textLangStats: Q = (spark, dir) => {
    import Norm.r4tie
    docs(spark, dir)
      .withColumn("n_tokens", size(split(col("text"), " ")))
      .groupBy("lang")
      .agg(count(lit(1)).as("n_docs"),
        countDistinct(col("source")).as("n_sources"),
        r4tie(avg(col("n_chars"))).as("avg_chars"),
        r4tie(avg(col("n_tokens"))).as("avg_tokens"),
        sum(col("n_chars")).as("total_chars"))
      .orderBy("lang")
  }

  /** Data-driven language ID: build per-language profiles (top-10
    * terms by frequency), score each document by distinct-token overlap
    * with each profile, predict the argmax (ties → lang asc). The
    * profile is the "training" step; both run in one plan.
    */
  val textLangid: Q = (spark, dir) => {
    import graft.api.ops._
    val d = docs(spark, dir)
    d.select(col("doc_id"), col("lang"))
      .join(d.languageId(col("doc_id"), split(col("text"), " "),
        col("lang"), profileSize = 10), "doc_id")
      .select(col("doc_id"), col("lang").as("actual"),
        col("predicted"), col("score"))
      .orderBy("doc_id")
  }

  /** Quality scoring: token stats, stopword ratio, alpha ratio, and a
    * composite score — the standard cheap pre-filter for LLM corpora.
    */
  val textQuality: Q = (spark, dir) => {
    import graft.api.ops._
    docs(spark, dir)
      .qualityScores(col("doc_id"), split(col("text"), " "), col("n_chars"),
        stopwords = Seq("the", "a", "of", "and", "to", "in"))
      .orderBy("doc_id")
  }

  /** Token counting two ways: whitespace tokens and a BPE-ish
    * subword estimate (alnum runs + ceil(len/4) pieces per run).
    */
  val textTokenCount: Q = (spark, dir) => {
    val d = docs(spark, dir).withColumn("toks", split(col("text"), " "))
    d.select(col("doc_id"),
        size(col("toks")).as("n_ws_tokens"),
        expr("""aggregate(toks, 0L,
          |  (acc, t) -> acc + CAST(ceil(length(t) / 4.0) AS LONG))"""
          .stripMargin).as("n_bpe_pieces"))
      .orderBy("doc_id")
  }

  /** Rolling polynomial fingerprint over the token stream (Rabin-Karp
    * shape): fold (h*131 + code(t)) mod p — identical integer fold on
    * the DuckDB side, so it is oracle-checkable unlike the xxhash
    * signatures.
    */
  /** Train→test n-gram coverage — decontamination's inverse-direction
    * metric: what share of the TEST split's distinct 3-grams (within
    * the same lang) already appear in TRAIN? Decontamination asks
    * "which eval grams leaked into train so I can drop them"; this
    * asks "how memorizable is my held-out split" — coverage → 1 means
    * test perplexity measures recall, not generalization, and after
    * near-dup-aware splitting this number is what should drop. Same
    * md5 split as q_sample_hash_split, same gram expansion as
    * q_text_decontaminate; counts exact BIGINT, one division.
    *
    * Scale: grams reduce to md5 hashes before the distinct (text
    * never shuffles); the (lang, gram) join is a hash join on
    * 16-byte keys — the decontaminate shape with the broadcast
    * flipped (train-side gram sets are corpus-sized, so they
    * shuffle; the TEST side of a real pipeline is the small side).
    */
  val textSplitCoverage: Q = (spark, dir) => {
    import graft.api.ops._
    val d = docs(spark, dir).withHashSplit(col("doc_id"))
      .select(col("lang"), col("split"), split(col("text"), " ").as("t"))
    // pinned: feeds the train and test legs
    val inst = pinLineage(d
      .select(col("lang"), col("split"),
        explode(ngrams(col("t"), 3)).as("gs"))
      .select(col("lang"), col("split"), md5(col("gs")).as("g")))
    val train = inst.filter(col("split") === "train")
      .select("lang", "g").distinct()
      .withColumn("hit", lit(1L))
    val test = inst.filter(col("split") === "test")
      .select("lang", "g").distinct()
    test.join(train, Seq("lang", "g"), "left")
      .groupBy("lang")
      .agg(count(lit(1)).as("n_test_grams"),
        sum(coalesce(col("hit"), lit(0L))).as("n_covered"))
      .select(col("lang"), col("n_test_grams"), col("n_covered"),
        Norm.r4tie(col("n_covered").cast("double") /
          col("n_test_grams").cast("double")).as("coverage"))
      .orderBy("lang")
  }

  /** Boilerplate-prefix detector — the header/footer screen whole-doc
    * dedup misses: documents sharing their EXACT first-16-token
    * prefix (crawl boilerplate, license headers, template intros are
    * prefix-identical even when bodies diverge, so whole-doc hashing
    * and Jaccard both under-count them). Clusters of ≥ 2 by the
    * verbatim prefix string, reporting size, the canonical (min)
    * doc_id, and the prefix itself; top-50 by (size desc, prefix) —
    * the triage order a cleanup pass works through.
    *
    * Scale: ONE hash aggregate on the 16-token prefix (the full text
    * never shuffles — only the ~100-byte prefix); the top-50 is a
    * TakeOrdered heap, not a global sort.
    */
  val textBoilerplate: Q = (spark, dir) => {
    val d = docs(spark, dir)
    d.select(col("doc_id"),
        array_join(slice(split(col("text"), " "), 1, 16), " ")
          .as("prefix"))
      .groupBy("prefix")
      .agg(count(lit(1)).as("n_docs"), min(col("doc_id")).as("min_doc"))
      .filter(col("n_docs") >= 2)
      .orderBy(col("n_docs").desc, col("prefix"))
      .limit(50)
      .select(col("prefix"), col("n_docs"), col("min_doc"))
  }

  val textFingerprint: Q = (spark, dir) => {
    val d = docs(spark, dir).withColumn("toks", split(col("text"), " "))
    d.select(col("doc_id"),
        expr("""aggregate(
          |  transform(toks, t -> CAST(ascii(substring(t, 1, 1)) * 31
          |    + length(t) AS LONG)),
          |  0L, (acc, c) -> (acc * 131 + c) % 1000000007)""".stripMargin)
          .as("fingerprint"))
      .orderBy("doc_id")
  }

  /** Deterministic train/val/test split of the corpus by md5 bucket of
    * doc_id (80/10/10), summarized per (split, lang). md5 is
    * reproducible in DuckDB too, so unlike seeded `sample()` this is
    * fully oracle-checkable — and that reproducibility is exactly why
    * hash splits (not RNG) are the right tool on a real corpus.
    */
  val sampleHashSplit: Q = (spark, dir) => {
    import graft.api.ops._
    docs(spark, dir)
      .withHashSplit(col("doc_id"))
      .groupBy("split", "lang")
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_chars")).as("total_chars"))
      .orderBy("split", "lang")
  }

  /** Deterministic global shuffle + shard assignment — how a training
    * epoch order is produced over a 100 TB corpus with zero RNG state:
    * rank every doc by md5(doc_id:seed) (a fixed pseudorandom
    * permutation of the corpus), route it to a shard by the last md5
    * nibble, and number rows within each shard in rank order. Rerunning
    * with the same seed reproduces the epoch byte-for-byte; a new seed
    * is a fresh epoch — no sampled range boundaries, no driver state.
    *
    * Scale: the rank/shard columns are pure projections; the only
    * shuffle is the shard-partitioned row_number window, and shard
    * count is chosen ∝ corpus size (one nibble = 16 shards here; four
    * nibbles = 65 536 shards at petabyte scale) so a shard always fits
    * an executor sort. This is the map-side of a terasort with FIXED,
    * data-independent "ranges" — which is what makes it reproducible
    * where repartitionByRange (sampled boundaries) is not.
    */
  val shuffleShards: Q = (spark, dir) => {
    val d = docs(spark, dir)
      .withColumn("rkey",
        md5(concat(col("doc_id").cast("string"), lit(":graft42"))))
      .withColumn("shard",
        (expr("locate(substring(rkey, 32, 1), '0123456789abcdef')") - 1)
          .cast("long"))
    d.withColumn("pos",
        row_number().over(
          Window.partitionBy(col("shard"))
            .orderBy(col("rkey"), col("doc_id"))).cast("long"))
      .select(col("shard"), col("pos"), col("doc_id"), col("rkey"))
      .orderBy("shard", "pos")
  }

  /** Per-language uniform 5-doc sample via the mergeable bottom-k
    * UDAF ([[graft.functions.BottomKAgg]]): rank = md5(doc_id), keep
    * the 5 smallest per lang — the deterministic reservoir every
    * eval-set / spot-check pipeline wants. Shuffle O(langs × k)
    * buffers, never rows; the window-free shape matters at corpus
    * scale (a row_number window would sort every partition's rows).
    */
  val sampleReservoir: Q = (spark, dir) => {
    import graft.functions.BottomKAgg
    docs(spark, dir)
      .groupBy("lang")
      .agg(BottomKAgg.bottomK(5)(
        md5(col("doc_id").cast("string")), col("doc_id")).as("ids"))
      .select(col("lang"), posexplode(col("ids")).as(Seq("pos0", "doc_id")))
      .select(col("lang"), (col("pos0") + 1).cast("long").as("pos"),
        col("doc_id"))
      .orderBy("lang", "pos")
  }

  /** Repetition-based quality signals (the Gopher-rules family):
    * duplicate-token fraction and most-frequent-bigram fraction, plus
    * the keep/drop verdict a pretraining filter would apply. Bigram
    * counts explode ~50× like every token op; the per-doc max comes
    * from one hash-agg + max — no window over the exploded stream.
    */
  val textRepetition: Q = (spark, dir) => {
    // pin: d feeds both join sides (per-doc stats and the bigram
    // explode) — materialize it once instead of scanning and
    // re-splitting the corpus twice (same pattern as dedupSimhash).
    val d = pinLineage(docs(spark, dir)
      .withColumn("toks", split(col("text"), " "))
      .select(col("doc_id"), col("toks"),
        size(col("toks")).cast("long").as("n"),
        size(array_distinct(col("toks"))).cast("long").as("n_uniq")))
    // size >= 2 guard: sequence(0, -1) on a 1-token doc would infer a
    // NEGATIVE step and emit [0, -1] — null bigrams and a 0-token
    // denominator downstream.
    val topBigram = d
      .filter(size(col("toks")) >= 2)
      .select(col("doc_id"), explode(expr(
        """transform(sequence(0, size(toks) - 2),
          |  i -> concat(toks[i], ' ', toks[i + 1]))""".stripMargin))
        .as("bigram"))
      .groupBy("doc_id", "bigram").agg(count(lit(1)).as("cnt"))
      .groupBy("doc_id").agg(max(col("cnt")).as("max_bigram_cnt"))
    d.join(topBigram, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n").as("n_tokens"),
        Norm.r4(lit(1.0) - col("n_uniq").cast("double") / col("n"))
          .as("dup_token_frac"),
        Norm.r4(coalesce(
          col("max_bigram_cnt").cast("double") / (col("n") - 1), lit(0.0)))
          .as("top_bigram_frac"))
      .withColumn("keep",
        col("dup_token_frac") < 0.3 && col("top_bigram_frac") < 0.2)
      .orderBy("doc_id")
  }

  /** Token-budget sequence packing (chunked greedy): docs are packed
    * in doc_id order per (language, shard) into 512-token sequences by
    * their cumulative token end position — the deterministic relational
    * formulation of training-sequence packing (a stateful greedy
    * packer is order-dependent; the cumsum rule is pure window
    * algebra, one shuffle per partition key). Output: per-pack
    * occupancy.
    *
    * The shard key is what makes the window scale: partitioned by
    * `lang` alone, one reducer per language runs the whole corpus
    * cumsum — 5 partitions at ANY data size. The deterministic
    * md5-bucket shard of doc_id ([[graft.api.ops.md5Bucket]], the same
    * cross-engine-reproducible hash as the train/val/test split) cuts
    * each language into `shards` independent window partitions; grow
    * `shards` with the corpus (rows per (lang, shard) is what must fit
    * a reducer). Packing is then per (lang, shard) — the standard
    * trade in distributed sequence packing: global-order packing is
    * inherently sequential, sharded packing costs at most one
    * underfilled tail pack per shard and parallelizes freely.
    */
  def packSequencesSharded(shards: Int): Q = (spark, dir) => {
    import graft.api.ops._
    val budget = 512L
    val w = Window.partitionBy("lang", "shard").orderBy("doc_id")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    docs(spark, dir)
      .withColumn("n_tokens", size(split(col("text"), " ")).cast("long"))
      .withColumn("shard", md5Bucket(col("doc_id"), shards))
      .select(col("lang"), col("shard"), col("doc_id"), col("n_tokens"),
        sum("n_tokens").over(w).as("cum"))
      .withColumn("pack_id", floor((col("cum") - 1) / budget))
      .groupBy("lang", "shard", "pack_id")
      .agg(count(lit(1)).as("n_docs"),
        sum("n_tokens").as("n_tokens_total"))
      .orderBy("lang", "shard", "pack_id")
  }

  /** Scored instance: 4 shards (sf0.01 has 500 docs ⇒ ~25 docs per
    * (lang, shard) — enough to exercise multi-pack shards while the
    * DuckDB twin re-derives the identical md5 buckets).
    */
  val packSequences: Q = packSequencesSharded(4)

  /** CC-Net-style LM quality score: mean token surprisal under the
    * corpus's own unigram model (see
    * [[graft.api.ops.GraftDataFrameOps.unigramSurprisal]]).
    */
  val textSurprisal: Q = (spark, dir) => {
    import graft.api.ops._
    docs(spark, dir)
      .unigramSurprisal(col("doc_id"), split(col("text"), " "))
      .orderBy("doc_id")
  }

  /** Mixture rebalancing: downsample over-represented languages with
    * content-stable per-stratum rates (en 25%, de 50%, rest kept) —
    * same md5 arithmetic as the split, so fully oracle-checkable.
    */
  /** Token-budget mixture: per-language sampling rates derived from
    * corpus token totals against a 10k-token budget with explicit
    * target shares, applied via the content-stable md5 bucket. The
    * scale point: rates are computed IN-PLAN (one #strata-key agg,
    * broadcast back) — no driver collect, so the identical plan
    * builds a mixture from 100 TB of totals. Result is the
    * per-language audit table (docs kept, tokens kept, rate).
    */
  val sampleMixture: Q = (spark, dir) => {
    import graft.api.ops._
    docs(spark, dir)
      .withColumn("n_tokens", size(split(col("text"), " ")))
      .tokenBudgetMixture(col("doc_id"), col("lang"), col("n_tokens"),
        shares = Map("en" -> 0.35, "zh" -> 0.20, "de" -> 0.15,
          "es" -> 0.15, "fr" -> 0.15),
        budget = 10000L)
      .groupBy("lang")
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_tokens").cast("long")).as("kept_tokens"),
        Norm.r4tie(first(col("rate"))).as("rate"))
      .orderBy("lang")
  }

  /** Gopher/MassiveText duplicated-content document filter: drop
    * documents whose duplicated-6-gram-span token fraction exceeds
    * 0.2 (at sf0.01 that removes the 47 planted near-dup docs, every
    * one ≥ 0.8 duplicated). See
    * [[graft.api.ops.GraftDataFrameOps.dupDocFilter]].
    */
  val textDupDocFilter: Q = (spark, dir) => {
    import graft.api.ops._
    docs(spark, dir)
      .dupDocFilter(col("doc_id"), split(col("text"), " "), n = 6,
        maxDupFrac = 0.2)
      .select("doc_id", "lang", "dup_frac")
      .orderBy("doc_id")
  }

  /** Temperature-smoothed mixture (XLM-R/mT5 α-sampling): per-lang
    * rates ∝ (n_lang)^α derived in-plan against a 20k-token budget at
    * α = 0.5 — flattens the language distribution, upweighting tail
    * languages relative to [[sampleMixture]]'s explicit shares. Same
    * audit-table output shape.
    */
  val sampleTemperature: Q = (spark, dir) => {
    import graft.api.ops._
    docs(spark, dir)
      .withColumn("n_tokens", size(split(col("text"), " ")))
      .temperatureMixture(col("doc_id"), col("lang"),
        col("n_tokens"), alpha = 0.5, budget = 20000L)
      .groupBy("lang")
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_tokens").cast("long")).as("kept_tokens"),
        Norm.r4tie(first(col("rate"))).as("rate"))
      .orderBy("lang")
  }

  /** Source-level quality gate: per-source mean of the unrounded
    * quality signal vs the doc-weighted corpus mean — drops whole
    * origins, the step per-doc filters can't express (see
    * [[graft.api.ops.GraftDataFrameOps.stratumQualityGate]]).
    */
  val sourceGate: Q = (spark, dir) => {
    import graft.api.ops._
    val toks = split(col("text"), " ")
    val stops = Seq("the", "a", "of", "and", "to", "in")
    val stopR = size(filter(toks, t => t.isInCollection(stops)))
      .cast("double") / size(toks)
    val alphaR = size(filter(toks, t => t.rlike("^[a-z]+$")))
      .cast("double") / size(toks)
    val quality = alphaR * (lit(1.0) - stopR) *
      least(size(toks).cast("double") / 50.0, lit(1.0))
    docs(spark, dir)
      .stratumQualityGate(col("source"), quality)
      .withColumnRenamed("stratum", "source")
      .orderBy("source")
  }

  /** RAG/context chunking: 16-token windows every 12 tokens (4-token
    * overlap), digests only — see
    * [[graft.api.ops.GraftDataFrameOps.tokenChunks]].
    */
  val chunkDocuments: Q = (spark, dir) => {
    import graft.api.ops._
    docs(spark, dir)
      .tokenChunks(col("doc_id"), split(col("text"), " "),
        chunkSize = 16, stride = 12)
      .orderBy("doc_id", "chunk_id")
  }

  /** Quality-classifier scoring: σ(b + w·x) over interpretable
    * features with fixed "pretrained" weights — the fastText-filter
    * shape (see [[graft.api.ops.GraftDataFrameOps.qualityClassify]]).
    * Weights favor alpha-heavy, stopword-light, longer documents.
    */
  val textQualityClassifier: Q = (spark, dir) => {
    import graft.api.ops._
    docs(spark, dir)
      .qualityClassify(col("doc_id"), split(col("text"), " "),
        col("n_chars"),
        stopwords = Seq("the", "a", "of", "and", "to", "in"),
        bias = -2.0, wStop = -3.0, wAlpha = 2.5,
        wLogTok = 0.5, wLen = 0.1)
      .orderBy("doc_id")
  }

  /** DSIR data selection (Xie et al. 2023): rank the corpus by
    * importance weight toward an in-corpus English target model and
    * keep the top-50 — the published importance-resampling recipe
    * with the target LM trained in the SAME plan (see
    * [[graft.api.ops.GraftDataFrameOps.dsirTopK]] for the scale and
    * determinism notes).
    */
  val sampleDsir: Q = (spark, dir) => {
    import graft.api.ops._
    docs(spark, dir)
      .dsirTopK(col("doc_id"), split(col("text"), " "),
        col("lang") === "en", k = 50)
      .orderBy(col("logw").desc, col("doc_id"))
  }

  val sampleStratified: Q = (spark, dir) => {
    import graft.api.ops._
    docs(spark, dir)
      .stratifiedHashSample(col("doc_id"), col("lang"),
        Map("en" -> 0.25, "de" -> 0.5))
      .select(col("doc_id"), col("lang"))
      .orderBy("doc_id")
  }

  /** Zipf / vocabulary head: top-50 terms with rank and cumulative
    * corpus share. The running share is windowed over ONLY the
    * top-k rows (post TakeOrderedAndProject), so the single-partition
    * window is k-bounded at any corpus size — never over the vocab.
    * Cumulative counts are exact longs; the one double division per
    * row is rounded tie-proof.
    */
  /** One-scan vocabulary heavy-hitters via the mergeable string
    * Misra–Gries UDAF — the bounded-memory twin of [[textVocab]]: the
    * exact form's `groupBy(term)` shuffles the FULL vocabulary (at
    * 100 TB: billions of distinct terms), while this moves one
    * ≤k-entry buffer per partition regardless of corpus size. Scored
    * with an exact oracle on purpose: k = 4096 exceeds the synthetic
    * corpus's distinct-term count at EVERY rehearsal decade (ScaleUp
    * multiplies the vocab by the factor via its w→w_r token rewrite —
    * k = 128 broke exactness at sf1), and Misra–Gries with
    * k ≥ |vocab| never decrements — the sketch IS the exact frequency
    * table, so the DuckDB hash match verifies the whole UDAF/merge
    * path, not just bounds (the k < vocab sketch regime is
    * QualitySpec-gated on forced-decrement runs).
    */
  val textVocabSketch: Q = (spark, dir) => {
    import graft.api.ops._
    val w = Window.orderBy(col("cnt").desc, col("term"))
    docs(spark, dir)
      .select(explode(split(col("text"), " ")).as("term"))
      .vocabSketch(col("term"), k = 4096)
      .select(col("term"), col("est").as("cnt"))
      .orderBy(col("cnt").desc, col("term")).limit(20)
      .select(row_number().over(w).as("rank"), col("term"), col("cnt"))
      .orderBy("rank")
  }

  val textVocab: Q = (spark, dir) => {
    val tok = docs(spark, dir)
      .select(explode(split(col("text"), " ")).as("term"))
    val counts = tok.groupBy("term").agg(count(lit(1)).as("cnt"))
    val total = tok.agg(count(lit(1)).as("total"))
    val w = Window.orderBy(col("cnt").desc, col("term"))
    counts.orderBy(col("cnt").desc, col("term")).limit(50)
      .crossJoin(broadcast(total))
      .select(row_number().over(w).as("rank"), col("term"), col("cnt"),
        Norm.r4tie(sum(col("cnt"))
            .over(w.rowsBetween(Window.unboundedPreceding,
              Window.currentRow))
            .cast("double") / col("total")).as("cum_share"))
      .orderBy("rank")
  }

  /** PII scrubbing — the compliance pass every training corpus runs
    * before the tokenizer. The synthetic corpus carries no PII, so
    * the query PLANTS deterministic address/phone strings derived
    * from doc_id, then redacts them and counts what it scrubbed —
    * verifying detection AND replacement against known ground truth.
    * Patterns stay in the Java-regex ∩ RE2 dialect subset (no
    * backrefs/lookarounds) so the DuckDB twin runs them verbatim.
    * Pure per-row projection: no shuffle, scales linearly.
    */
  val textPiiRedact: Q = (spark, dir) => {
    val planted = docs(spark, dir).select(col("doc_id"),
      concat(col("text"),
        lit(" contact user"), col("doc_id"), lit("@example.com"),
        lit(" tel +1 555 010 "),
        lpad((col("doc_id") % 100).cast("string"), 2, "0")).as("txt"))
    val emailRe = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
    val phoneRe = "\\+[0-9][0-9 ]{6,}[0-9]"
    planted
      .withColumn("n_emails", regexp_count(col("txt"), lit(emailRe)))
      .withColumn("n_phones", regexp_count(col("txt"), lit(phoneRe)))
      .withColumn("redacted",
        regexp_replace(regexp_replace(col("txt"), emailRe, "<EMAIL>"),
          phoneRe, "<PHONE>"))
      .select(col("doc_id"), col("n_emails"), col("n_phones"),
        length(col("redacted")).as("redacted_len"),
        expr("right(redacted, 30)").as("tail"))
      .orderBy("doc_id")
  }

  /** Cross-document duplicated-span signal at n=3 (the paper's n=13
    * needs longer docs than the fixture's ~100-token rows; the plan
    * is n-invariant). See [[graft.api.ops.GraftDataFrameOps.dupNgramStats]]
    * for the md5-keyed, ids-only shuffle design.
    */
  val textDupNgrams: Q = (spark, dir) => {
    import graft.api.ops._
    Tables(spark, dir, "documents")
      .dupNgramStats(col("doc_id"), split(col("text"), " "), n = 3)
      .orderBy("doc_id")
  }

  /** Canonical text normalization — the first stage of every cleaning
    * pipeline (C4/CCNet shape): lowercase, strip non-alphanumerics to
    * spaces, collapse runs of whitespace, trim. The md5 digest of the
    * NORMALIZED text crosses the oracle hash — an end-to-end proof
    * both engines normalize byte-identically (the digest is also the
    * natural key for exact dedup after normalization). Projection
    * only: no shuffle, stays in whole-stage codegen.
    */
  val textNormalize: Q = (spark, dir) => {
    val norm = trim(regexp_replace(
      regexp_replace(lower(col("text")), "[^a-z0-9 ]", " "), " +", " "))
    docs(spark, dir)
      .select(col("doc_id"),
        length(col("text")).as("raw_chars"),
        length(norm).as("norm_chars"),
        md5(norm).as("digest"))
      .orderBy("doc_id")
  }

  /** Maximal duplicated-substring spans at n=3 (ExactSubstr, Lee et
    * al. 2022) — the cut-these-tokens step above [[textDupNgrams]]'s
    * counts; see [[graft.api.ops.GraftDataFrameOps.dupSpans]].
    */
  val textDupSpans: Q = (spark, dir) => {
    import graft.api.ops._
    Tables(spark, dir, "documents")
      .dupSpans(col("doc_id"), split(col("text"), " "), n = 3)
      .orderBy("doc_id")
  }

  /** Benchmark decontamination at n=3 (the fixture's ~20-token docs;
    * the plan is n-invariant — production uses the paper's n=13). The
    * eval set is carved deterministically from the corpus
    * (doc_id % 17 = 0 stands in for a held-out benchmark); every
    * training doc sharing a 3-gram with it is flagged. See
    * [[graft.api.ops.GraftDataFrameOps.ngramDecontaminate]] for the
    * broadcast-eval-side, digests-only-shuffle design.
    */
  val textDecontaminate: Q = (spark, dir) => {
    import graft.api.ops._
    Tables(spark, dir, "documents")
      .ngramDecontaminate(col("doc_id"), split(col("text"), " "),
        col("doc_id") % 17 === 0, n = 3)
      .orderBy("doc_id")
  }

  /** Weighted deterministic sampling: 20 docs per language, inclusion
    * odds ∝ n_chars (longer docs carry more training signal per
    * document; mixture weighting is the standard corpus-blend knob).
    */
  val sampleWeighted: Q = (spark, dir) => {
    import graft.api.ops._
    Tables(spark, dir, "documents")
      .weightedSample(col("doc_id"), col("n_chars").cast("double"),
        col("lang"), k = 20)
      .select(col("lang"), col("rank"), col("doc_id"), col("n_chars"))
      .orderBy("lang", "rank")
  }

  /** Token-id encoding against a 20-term frequency-ranked vocab (the
    * corpus has 31 distinct terms, so OOV is exercised). See
    * [[graft.api.ops.GraftDataFrameOps.encodeTokenIds]].
    */
  val textEncodeIds: Q = (spark, dir) => {
    import graft.api.ops._
    Tables(spark, dir, "documents")
      .encodeTokenIds(col("doc_id"), split(col("text"), " "),
        vocabSize = 20, preview = 10)
      .orderBy("doc_id")
  }

  /** The corpus-prep pipeline END-TO-END in one plan — the showcase
    * that the library's ops compose: exact-dedup to canonical docs
    * (min doc_id per content hash, a broadcast-able semi-join at this
    * dedup rate), quality gate (length floor), content-stable
    * train/val/test split, then per-(split, lang) doc and token
    * totals. One Catalyst plan, so pushdown/pruning/partial-agg apply
    * across stage boundaries — no intermediate materialization, which
    * is the point of declaring the pipeline instead of scripting it.
    */
  val pipelineCorpus: Q = (spark, dir) => {
    import graft.api.ops._
    val d = Tables(spark, dir, "documents")
    val canonical = d.dedupExact(col("doc_id"), col("text"))
      .select("doc_id")
    d.join(canonical, Seq("doc_id"), "left_semi")
      .filter(col("n_chars") >= 40)
      .withHashSplit(col("doc_id"))
      .withColumn("n_tokens", size(split(col("text"), " ")).cast("long"))
      .groupBy("split", "lang")
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_tokens")).as("total_tokens"))
      .orderBy("split", "lang")
  }

  /** Per-language p75 length gate: keep documents at or above their
    * language's 75th-percentile length. The "filter by a per-group
    * quantile" curation pattern (per-language quality cuts à la
    * CCNet): the cut is an exact interpolated percentile (Spark
    * `percentile` ≡ SQL `percentile_cont`), computed per group and
    * broadcast back — group count (languages) is tiny, so the join
    * adds no shuffle of the corpus. Both engines compare against the
    * SAME 4-dp-rounded cut so interpolation ulps can't flip a row. At
    * scale swap `percentile` for `approx_percentile` (documented knob;
    * the plan is unchanged).
    */
  val textQualityCut: Q = (spark, dir) => {
    val d = Tables(spark, dir, "documents")
    val cuts = d.groupBy("lang")
      .agg(Norm.r4(percentile(col("n_chars"), lit(0.75))).as("p75_chars"))
    d.join(broadcast(cuts), Seq("lang"))
      .filter(col("n_chars") >= col("p75_chars"))
      .select(col("doc_id"), col("lang"), col("n_chars"), col("p75_chars"))
      .orderBy("doc_id")
  }

  /** BM25 retrieval scoring (Robertson/Sparck-Jones; the Lucene
    * `ln(1 + (N-df+.5)/(df+.5))` idf form, k1 = 1.2, b = 0.75) of the
    * whole corpus against a 3-term query. Plan shape: one corpus scan
    * → explode to matched query terms only (the filter lands BEFORE
    * the shuffle, so only query-term postings move) → per-(doc, term)
    * tf hash-agg → broadcast the 3-row df table and the 1-row
    * (N, avgdl) scalars → per-doc score sum → top-20. No corpus-sized
    * shuffle at any point; at 100 TB the df/avgdl side stays bytes.
    */
  val textBm25: Q = (spark, dir) => {
    val terms = Seq("spark", "join", "vector")
    val k1 = 1.2; val b = 0.75
    val d = Tables(spark, dir, "documents")
      .select(col("doc_id"), split(col("text"), " ").as("toks"))
      .withColumn("dl", size(col("toks")).cast("double"))
    val stats = d.agg(count(lit(1)).cast("double").as("n_docs"),
      avg(col("dl")).as("avgdl"))
    val tf = d.select(col("doc_id"), col("dl"), explode(col("toks")).as("term"))
      .filter(col("term").isin(terms: _*))
      .groupBy("doc_id", "dl", "term")
      .agg(count(lit(1)).cast("double").as("tf"))
    val df_ = tf.groupBy("term").agg(count(lit(1)).cast("double").as("df"))
    val idf = log(lit(1.0) +
      (col("n_docs") - col("df") + 0.5) / (col("df") + 0.5))
    tf.join(broadcast(df_), "term")
      .crossJoin(broadcast(stats))
      .withColumn("s", idf * col("tf") * lit(k1 + 1) /
        (col("tf") + lit(k1) * (lit(1 - b) + lit(b) * col("dl") / col("avgdl"))))
      .groupBy("doc_id")
      .agg(Norm.r4(sum(col("s"))).as("bm25"),
        count(lit(1)).as("n_terms"))
      .orderBy(col("bm25").desc, col("doc_id"))
      .limit(20)
  }

  /** BPE merge-rule learning on the corpus (Sennrich et al. 2016) —
    * 4 merge rounds over the word-frequency dict; see
    * [[graft.api.ops.GraftDataFrameOps.bpeMergeTable]].
    */
  val textBpeMerges: Q = (spark, dir) => {
    import graft.api.ops._
    docs(spark, dir).bpeMergeTable(split(col("text"), " "), numMerges = 4)
  }

  /** DuckDB twin of [[textBpeMerges]], generated for `k` rounds so
    * the two sides can't drift on round count: the greedy
    * left-to-right fold is replayed per word by a recursive CTE whose
    * list accumulator applies exactly the merge rule of the Spark
    * `aggregate` lambda (depth = word length).
    */
  /** BPE ENCODE applied to the corpus (see
    * [[graft.api.ops.GraftDataFrameOps.bpeEncodeCounts]]): learn 4
    * merges, apply all 4 to every word, per-doc tokenization stats +
    * chars-per-token fertility.
    */
  val textBpeEncode: Q = (spark, dir) => {
    import graft.api.ops._
    docs(spark, dir)
      .bpeEncodeCounts(col("doc_id"), split(col("text"), " "),
        numMerges = 4)
      .select(col("doc_id"), col("n_words"), col("n_chars"),
        col("n_tokens"),
        Norm.r4tie(col("n_chars").cast("double") / col("n_tokens"))
          .as("chars_per_token"))
      .orderBy("doc_id")
  }

  /** DuckDB twin of [[textBpeEncode]], generated for `k` rounds from
    * the same parameter as the Spark side (the [[bpeOracle]]
    * discipline): the learning recursion threads the WORD through
    * every round so the final dict still maps word → symbol count,
    * then re-joins the corpus for the per-doc rollup.
    */
  private def bpeEncodeOracle(k: Int): String = {
    val head = """WITH RECURSIVE
      tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS word
              FROM documents),
      d0 AS (SELECT word, string_split(word, '') AS syms,
                    CAST(count(*) AS BIGINT) AS freq
             FROM tok WHERE word <> '' GROUP BY word)"""
    val rounds = (1 to k).map { r =>
      val p = r - 1
      s"""
      pc$r AS (SELECT syms[i] AS p1, syms[i+1] AS p2, sum(freq) AS cnt
               FROM d$p, unnest(range(1, len(syms))) AS t(i)
               GROUP BY 1, 2),
      top$r AS (SELECT p1, p2 FROM pc$r
                ORDER BY cnt DESC, p1, p2 LIMIT 1),
      a$r AS (
        SELECT d.word, d.syms, d.freq, 1 AS i, [d.syms[1]] AS acc
        FROM d$p d
        UNION ALL
        SELECT a.word, a.syms, a.freq, a.i + 1,
          CASE WHEN a.acc[-1] = t.p1 AND a.syms[a.i+1] = t.p2
            THEN list_append(a.acc[1:len(a.acc)-1], t.p1 || t.p2)
            ELSE list_append(a.acc, a.syms[a.i+1]) END
        FROM a$r a, top$r t WHERE a.i < len(a.syms)),
      d$r AS (SELECT word, acc AS syms, freq FROM a$r
              WHERE i = len(syms))"""
    }.mkString(",")
    s"""$head,$rounds,
      enc AS (SELECT word, len(syms) AS n_sym FROM d$k)
      SELECT t.doc_id, count(*) AS n_words,
             CAST(sum(length(t.word)) AS BIGINT) AS n_chars,
             CAST(sum(e.n_sym) AS BIGINT) AS n_tokens,
             floor(CAST(sum(length(t.word)) AS DOUBLE) / sum(e.n_sym)
                   * 10000 + 0.5) / 10000 AS chars_per_token
      FROM tok t JOIN enc e ON t.word = e.word
      GROUP BY t.doc_id ORDER BY t.doc_id"""
  }

  private def bpeOracle(k: Int): String = {
    val head = """WITH RECURSIVE
      tok AS (SELECT unnest(string_split(text, ' ')) AS word FROM documents),
      d0 AS (SELECT string_split(word, '') AS syms,
                    CAST(count(*) AS BIGINT) AS freq
             FROM tok WHERE word <> '' GROUP BY word)"""
    val rounds = (1 to k).map { r =>
      val p = r - 1
      s"""
      pc$r AS (SELECT syms[i] AS p1, syms[i+1] AS p2, sum(freq) AS cnt
               FROM d$p, unnest(range(1, len(syms))) AS t(i)
               GROUP BY 1, 2),
      top$r AS (SELECT p1, p2, cnt FROM pc$r
                ORDER BY cnt DESC, p1, p2 LIMIT 1),
      a$r AS (
        SELECT d.syms, d.freq, 1 AS i, [d.syms[1]] AS acc FROM d$p d
        UNION ALL
        SELECT a.syms, a.freq, a.i + 1,
          CASE WHEN a.acc[-1] = t.p1 AND a.syms[a.i+1] = t.p2
            THEN list_append(a.acc[1:len(a.acc)-1], t.p1 || t.p2)
            ELSE list_append(a.acc, a.syms[a.i+1]) END
        FROM a$r a, top$r t WHERE a.i < len(a.syms)),
      d$r AS (SELECT acc AS syms, freq FROM a$r WHERE i = len(syms))"""
    }.mkString(",")
    val unions = (1 to k).map { r =>
      s"""SELECT $r AS merge_round, p1, p2, p1 || p2 AS merged,
                 CAST(cnt AS BIGINT) AS pair_count FROM top$r"""
    }.mkString("\nUNION ALL ")
    s"$head,$rounds\n$unions\nORDER BY merge_round"
  }

  /** k-anonymity generalization (k=10) over the corpus release
    * quasi-identifiers (lang, source, 100-char length bucket): cells
    * with ≥ k documents publish as-is; smaller cells generalize the
    * length bucket to '*' and re-test at (lang, source); what's STILL
    * under k is suppressed entirely and reported only as one global
    * suppressed-total row — the minimal-disclosure audit shape a
    * dataset release pipeline runs before shipping metadata.
    *
    * Scale: one partial-agg'd hash-agg down to the cell histogram
    * (data-volume-independent cardinality); the generalize/suppress
    * cascade then operates on CELLS, not documents — two more aggs
    * over an already-tiny frame. Document text never shuffles.
    */
  val kAnon: Q = (spark, dir) => {
    val k = 10
    val d = Tables(spark, dir, "documents")
    val g0 = d.groupBy(col("lang"), col("source"),
        concat(lit("b"), expr("n_chars div 100").cast("string"))
          .as("bucket"))
      .agg(count(lit(1)).as("n"))
    val small = g0.filter(col("n") < k)
    val g1 = small.groupBy("lang", "source").agg(sum("n").as("n"))
    val keep1 = g1.filter(col("n") >= k)
      .select(col("lang"), col("source"), lit("*").as("bucket"), col("n"))
    val supp = g1.filter(col("n") < k)
      .agg(sum("n").as("n")).filter(col("n").isNotNull)
      .select(lit("*").as("lang"), lit("*").as("source"),
        lit("*").as("bucket"), col("n"))
    g0.filter(col("n") >= k).select("lang", "source", "bucket", "n")
      .unionByName(keep1).unionByName(supp)
      .orderBy("lang", "source", "bucket")
  }

  /** l-diversity audit, the companion check k-anonymity misses: a cell
    * can hold ≥ k rows yet leak the sensitive attribute when every row
    * shares one value. Over the release quasi-identifiers (lang,
    * 100-char length bucket) with `source` sensitive: distinct-l per
    * cell, the dominant source's share (exact BIGINT ratio), and the
    * l ≥ 2 verdict a release gate enforces.
    *
    * Scale: one partial-agg'd pass to (QI × source) cells, then
    * windows/aggs over that bounded histogram — text never shuffles.
    */
  val privacyLdiv: Q = (spark, dir) => {
    val d = Tables(spark, dir, "documents")
    val cells = d.groupBy(col("lang"),
        concat(lit("b"), expr("n_chars div 100").cast("string"))
          .as("bucket"),
        col("source"))
      .agg(count(lit(1)).as("ns"))
    val w = Window.partitionBy("lang", "bucket")
    cells
      .withColumn("n", sum(col("ns")).over(w))
      .withColumn("l", count(lit(1)).over(w))
      .withColumn("mx", max(col("ns")).over(w))
      .groupBy(col("lang"), col("bucket"))
      .agg(max(col("n")).as("n"), max(col("l")).as("l"),
        Norm.r4tie(max(col("mx")).cast("double") /
          max(col("n")).cast("double")).as("dominant_share"))
      .withColumn("diverse", col("l") >= 2)
      .orderBy("lang", "bucket")
  }

  /** t-closeness audit (Li et al.) — the release gate k-anonymity and
    * l-diversity still miss: a cell can be large AND diverse yet have
    * a sensitive-attribute DISTRIBUTION far from the corpus-wide one,
    * leaking "this cell skews long/short". Sensitive attribute here is
    * the ORDERED 100-char length bucket; distance is the ordered-EMD
    * t = (1/(m−1)) Σ_j |CumP_cell(j) − CumP_global(j)| over QI cells
    * (lang, source). Every cumulative proportion difference is put on
    * the common denominator n_cell·N, so the summed numerator
    * Σ|cum_cell·N − cum_global·n_cell| is exact BIGINT and both
    * engines perform ONE identical division at the end (products stay
    * under 2⁶³ through ~10⁹ docs; switch to decimal(38,0) beyond).
    * Violation is judged on the 4dp-rounded t, the PSI discipline.
    *
    * Scale: one partial-agg'd pass to (QI × bucket) cells, then
    * windows over the bounded grid (cells × m rows — the grid is
    * DENSIFIED by cross-joining the m global buckets so missing-bucket
    * cumulative terms are present, which the sparse cell frame alone
    * would silently drop). Text never shuffles.
    */
  val privacyTclose: Q = (spark, dir) => {
    val d = Tables(spark, dir, "documents")
      .select(col("lang"), col("source"), expr("n_chars div 100").as("b"))
    val glob = d.groupBy("b").agg(count(lit(1)).as("cg"))
      .withColumn("cum_all", sum("cg").over(Window.orderBy("b")))
    val tot = glob.agg(sum("cg").as("nn"),
      count(lit(1)).cast("long").as("m"))
    val cells = d.groupBy("lang", "source", "b").agg(count(lit(1)).as("c"))
    val groups = d.groupBy("lang", "source").agg(count(lit(1)).as("ng"))
    val grid = groups.crossJoin(broadcast(glob.select("b", "cum_all")))
      .join(cells, Seq("lang", "source", "b"), "left")
      .withColumn("c", coalesce(col("c"), lit(0L)))
      .withColumn("cum_g", sum("c").over(
        Window.partitionBy("lang", "source").orderBy("b")))
      .crossJoin(broadcast(tot))
    val t = grid.groupBy("lang", "source")
      .agg(max("ng").as("n"),
        // Σ_j |cum_cell(j)·N − cum_global(j)·n_cell| — exact BIGINT;
        // the last bucket's term is always 0, so summing ALL buckets
        // and dividing by (m−1) equals the textbook j<m sum
        sum(abs(col("cum_g") * col("nn") - col("cum_all") * col("ng")))
          .as("num"),
        max("nn").as("nn"), max("m").as("m"))
    t.select(col("lang"), col("source"), col("n"),
        Norm.r4tie(col("num").cast("double") /
          (col("n") * col("nn") * (col("m") - 1)).cast("double")).as("t"))
      .withColumn("violates", col("t") > 0.2)
      .orderBy("lang", "source")
  }

  /** Keyed pseudonymization with referential-integrity audit — the
    * GDPR-pipeline primitive k-anonymity/l-diversity sit on top of:
    * replace the join key with a salted one-way pseudonym, THEN prove
    * the replacement didn't break the data. Both sides of the
    * user_id = c_custkey relation are pseudonymized with the same
    * keyed function (md5 of pepper:key, 16 hex chars — deterministic
    * and engine-portable, the md5Bucket discipline; swap in
    * HMAC-SHA256 via functions.HmacSha256 when the pepper must be
    * secret from the oracle engine). The audit emits the two facts a
    * release gate needs: pseudonym INJECTIVITY on the observed keys
    * (distinct pids == distinct uids — a collision silently merges
    * users) and JOIN PRESERVATION (the pseudonym join returns exactly
    * the raw join's cardinality).
    *
    * Scale: two distinct-counts and two joins on the same keys the
    * raw pipeline already shuffles (the pseudonym is a per-row
    * projection; a 16-char key widens shuffle rows, nothing else).
    */
  val privacyPseudonym: Q = (spark, dir) => {
    def pid(c: Column): Column =
      substring(md5(concat(lit("pepper42:"), c.cast("string"))), 1, 16)
    val e = Tables(spark, dir, "events")
      .select(col("user_id"), pid(col("user_id")).as("pid"))
    val c = Tables(spark, dir, "customer")
      .select(col("c_custkey"), pid(col("c_custkey")).as("cpid"))
    val inj = e.agg(
      countDistinct(col("user_id")).as("n_users"),
      countDistinct(col("pid")).as("n_pids"))
    val rawJoin = e.join(c, col("user_id") === col("c_custkey"))
      .agg(count(lit(1)).as("n_raw_join"))
    val pidJoin = e.join(c, col("pid") === col("cpid"))
      .agg(count(lit(1)).as("n_pseudo_join"))
    inj.crossJoin(rawJoin).crossJoin(pidJoin)
      .select(col("n_users"), col("n_pids"), col("n_raw_join"),
        col("n_pseudo_join"),
        (col("n_users") === col("n_pids") &&
          col("n_raw_join") === col("n_pseudo_join")).as("intact"))
  }

  /** Feature-hashing ("hashing trick") bag-of-words vectorizer: each
    * token hashes to one of 64 buckets via the engine-portable
    * md5Bucket, per-doc bucket counts are the sparse vector, and the
    * emitted weight is the L2-normalized tf — the fixed-width
    * featurizer (Vowpal-Wabbit / sklearn HashingVectorizer shape) that
    * needs NO vocabulary pass, so it runs in one explode + hash-agg
    * over any corpus size. Output is long-format (doc_id, bucket, tf,
    * weight) so the oracle compares scalars, not array encodings.
    *
    * Determinism: tf and the squared-norm are exact integers; the only
    * float ops are one sqrt and one division on identical doubles.
    *
    * Scale: tokens never shuffle — the explode feeds a partial-agg'd
    * hash-agg keyed (doc_id, bucket) (≤64 rows/doc out of the map
    * side); the per-doc norm is a second bounded agg plus a co-
    * partitioned self-join on doc_id.
    */
  val textHashingTrick: Q = (spark, dir) => {
    val tf = docs(spark, dir)
      .select(col("doc_id"), explode(split(col("text"), " ")).as("tok"))
      .filter(col("tok") =!= "")
      .groupBy(col("doc_id"),
        graft.api.ops.md5Bucket(col("tok"), 64).as("bucket"))
      .agg(count(lit(1)).as("tf"))
    val norms = tf.groupBy("doc_id").agg(sum(col("tf") * col("tf")).as("sq"))
    tf.join(norms, "doc_id")
      .select(col("doc_id"), col("bucket"), col("tf"),
        Norm.r4tie(col("tf").cast("double") / sqrt(col("sq").cast("double")))
          .as("weight"))
      .orderBy("doc_id", "bucket")
  }

  /** Local-DP frequency estimation via randomized response over
    * events.event_type (k = 5 categories): each row reports its true
    * type with probability 3/4, else a uniformly drawn type — both
    * coins are the engine-portable md5Bucket of the event id, so the
    * "randomness" is deterministic and replayable in any engine. The
    * unbiased estimator inverts the channel,
    * n̂_j = (c_j − N/20) / (3/4) = (20·c_j − N) / 15, computed with an
    * INTEGER numerator so both engines divide identical exact values
    * (then clamp at 0, the standard RR post-process). n_true sits
    * beside the estimate to show the estimator error the analyst
    * would pay for the privacy.
    *
    * Scale: two partial-agg'd passes over events (true counts,
    * reported counts) joined on the 5-row type dimension; N is a
    * window sum over those 5 rows. Nothing driver-side.
    */
  val privacyRr: Q = (spark, dir) => {
    val types = Seq("click", "error", "purchase", "signup", "view")
    val e = Tables(spark, dir, "events")
    val keep = graft.api.ops.md5Bucket(col("event_id"), 4) < 3
    val fake = element_at(array(types.map(lit): _*),
      (graft.api.ops.md5Bucket(
        concat(col("event_id").cast("string"), lit("f")), 5) + 1).cast("int"))
    val reported = e
      .select(when(keep, col("event_type")).otherwise(fake).as("event_type"))
      .groupBy("event_type").agg(count(lit(1)).as("n_reported"))
    val truth = e.groupBy("event_type").agg(count(lit(1)).as("n_true"))
    val wAll = Window.partitionBy()
    truth.join(reported, Seq("event_type"), "full_outer")
      .select(col("event_type"),
        coalesce(col("n_true"), lit(0L)).as("n_true"),
        coalesce(col("n_reported"), lit(0L)).as("n_reported"))
      .withColumn("n_total", sum(col("n_reported")).over(wAll))
      .select(col("event_type"), col("n_true"), col("n_reported"),
        Norm.r4tie(greatest(
          (lit(20L) * col("n_reported") - col("n_total")).cast("double") / 15d,
          lit(0d))).as("n_est"))
      .orderBy("event_type")
  }

  /** Corpus-wide collocation mining: the top-100 bigrams by pointwise
    * mutual information among bigrams seen ≥ 5 times — the "New York"
    * / "machine learning" detector a tokenizer-training pipeline runs
    * before merging multiword units. PMI = ln(p(xy) / (p(x)·p(y)))
    * with p(xy) = c_xy/B over bigram positions and p(x) = c_x/T over
    * token positions; all counts are exact BIGINTs and the quotient is
    * assembled in one fixed double-expression shape (casts BEFORE
    * multiplies — the BIGINT product c_xy·T² would overflow at corpus
    * scale) so both engines produce the identical double.
    *
    * Scale: bigrams come from a shuffle-free per-doc zip (slice+zip,
    * no self-join); both count tables are partial-agg'd by key; the
    * two unigram lookups are plain hash joins on the bounded vocab;
    * top-100 is TakeOrderedAndProject. The corpus totals T and B are
    * 1-row broadcasts.
    */
  val textCollocations: Q = (spark, dir) => {
    val d = docs(spark, dir).withColumn("toks", split(col("text"), " "))
    val tokens = d.select(explode(col("toks")).as("tok"))
      .filter(col("tok") =!= "")
    val uni = tokens.groupBy("tok").agg(count(lit(1)).as("c"))
    val tot = tokens.agg(count(lit(1)).as("t"))
    val bigrams = d.select(explode(expr(
        """zip_with(slice(toks, 1, size(toks) - 1),
                    slice(toks, 2, size(toks) - 1),
                    (a, b) -> named_struct('w1', a, 'w2', b))"""))
        .as("bg"))
      .select(col("bg.w1"), col("bg.w2"))
      .filter(col("w1") =!= "" && col("w2") =!= "")
    val btot = bigrams.agg(count(lit(1)).as("b"))
    val cxy = bigrams.groupBy("w1", "w2").agg(count(lit(1)).as("cxy"))
      .filter(col("cxy") >= 5)
    val u1 = uni.select(col("tok").as("w1"), col("c").as("cx"))
    val u2 = uni.select(col("tok").as("w2"), col("c").as("cy"))
    cxy.join(u1, "w1").join(u2, "w2")
      .crossJoin(broadcast(tot)).crossJoin(broadcast(btot))
      .select(col("w1"), col("w2"), col("cxy"),
        Norm.r4(log(col("cxy").cast("double") * col("t").cast("double") *
          col("t").cast("double") /
          (col("b").cast("double") * col("cx").cast("double") *
            col("cy").cast("double")))).as("pmi"))
      .orderBy(col("pmi").desc, col("w1"), col("w2"))
      .limit(100)
  }

  /** Zipf-law fit of the corpus frequency spectrum: OLS slope/intercept
    * of ln(freq) on ln(rank) over the top-1000 terms — the
    * "is this corpus natural language or boilerplate" health check (a
    * natural corpus slopes ≈ −1; templated spam flattens or cliffs).
    * The four OLS sums are LEFT FOLDS over the rank-sorted 1000-element
    * array (the q_stats_chi2 discipline), so both engines add the same
    * doubles in the same order — no float-sum-order leniency.
    *
    * Scale: term counts partial-agg; top-1000 is a heap top-k
    * (TakeOrderedAndProject), and the window/fold run on 1000 rows —
    * everything after the vocab agg is O(1000) whatever the corpus.
    */
  val textZipf: Q = (spark, dir) => {
    val d = docs(spark, dir).withColumn("toks", split(col("text"), " "))
    val tc = d.select(explode(col("toks")).as("tok"))
      .filter(col("tok") =!= "")
      .groupBy("tok").agg(count(lit(1)).as("c"))
      .orderBy(col("c").desc, col("tok")).limit(1000)
    val w = Window.orderBy(col("c").desc, col("tok"))
    val ranked = tc.withColumn("rn", row_number().over(w))
      .select(struct(col("rn"),
        log(col("rn").cast("double")).as("lx"),
        log(col("c").cast("double")).as("ly")).as("e"))
    def fold(field: String, arr: Column): Column =
      aggregate(arr, lit(0.0d), (acc, e) => acc + e.getField(field))
    val agg = ranked.agg(count(lit(1)).as("n_terms"),
      array_sort(collect_list(col("e"))).as("es"))
    val arr = col("es")
    val nD = col("n_terms").cast("double")
    val sx = fold("lx", arr)
    val sy = fold("ly", arr)
    val sxy = aggregate(arr, lit(0.0d),
      (acc, e) => acc + e.getField("lx") * e.getField("ly"))
    val sxx = aggregate(arr, lit(0.0d),
      (acc, e) => acc + e.getField("lx") * e.getField("lx"))
    agg.select(col("n_terms"),
        ((nD * sxy - sx * sy) / (nD * sxx - sx * sx)).as("slope_raw"),
        sx.as("sx"), sy.as("sy"))
      .select(col("n_terms"), Norm.r4(col("slope_raw")).as("slope"),
        Norm.r4((col("sy") - col("slope_raw") * col("sx")) / nD)
          .as("intercept"))
  }

  /** Neyman-allocation stratified sampling: a 200-doc budget split
    * across language strata ∝ N_h·σ_h (strata that are big AND
    * internally varied get more samples — the design that minimizes
    * the estimator's variance, vs the proportional split
    * q_sample_stratified draws). N_h·σ_h = √(n·Σx² − (Σx)²) on exact
    * BIGINTs (x = n_chars); the stratum-weight total is an ordered
    * fold over the ≤|langs| weights; within a stratum the sample is
    * the alloc_h lowest md5(doc_id) — content-stable like every
    * sampler here.
    *
    * Scale: the static rn ≤ 200 pre-cut compiles to a partial
    * WindowGroupLimit — map tasks forward ≤200 rows per lang before
    * the shuffle; the dynamic alloc_h cut then broadcasts onto that
    * bounded frame. Stats are one partial-agg'd pass.
    */
  val sampleNeyman: Q = (spark, dir) => {
    import graft.api.ops._
    docs(spark, dir)
      .neymanSample(col("lang"), col("doc_id"), col("n_chars"),
        budget = 200)
      .select(col("id").as("doc_id"), col("stratum").as("lang"),
        col("rn"), col("alloc"))
      .orderBy("lang", "rn")
  }

  /** Flesch reading-ease + Flesch-Kincaid grade per document — the
    * classic readability screens for a pretraining quality gate. All
    * three counts (sentences, words, syllable proxies) come from the
    * same marker trick: collapse each matching run to a single
    * sentinel char with regexp_replace, strip everything else, take
    * the length — pure per-row string ops with identical regex
    * semantics (character classes only) in Java and RE2, no
    * tokenizer state. Vowel-group count is the standard cheap
    * syllable proxy. Scores are signed → [[Norm.r4dn]].
    *
    * Scale: pure projection — no shuffle, no state; whole-stage
    * codegen keeps it in one pass over the text column.
    */
  val textReadability: Q = (spark, dir) => {
    val d = Tables(spark, dir, "documents")
    def runs(src: Column, pattern: String, marker: String): Column =
      length(regexp_replace(regexp_replace(src, pattern, marker),
        s"[^$marker]", ""))
    val lw = lower(col("text"))
    val doc = d.select(col("doc_id"),
        runs(lw, "[a-z]+", "W").as("n_words"),
        runs(lw, "[aeiouy]+", "V").as("n_syllables"),
        greatest(runs(col("text"), "[.!?]+", "S"), lit(1))
          .as("n_sentences"))
      .filter(col("n_words") > 0)
    val wps = col("n_words").cast("double") / col("n_sentences").cast("double")
    val spw = col("n_syllables").cast("double") / col("n_words").cast("double")
    doc.select(col("doc_id"), col("n_words"), col("n_sentences"),
        col("n_syllables"),
        Norm.r4dn(lit(206.835) - lit(1.015) * wps - lit(84.6) * spw)
          .as("flesch"),
        Norm.r4dn(lit(0.39) * wps + lit(11.8) * spw - lit(15.59))
          .as("fk_grade"))
      .orderBy("doc_id")
  }

  /** Differentially-private event-type histogram — Laplace(b=20)
    * noise via inverse-CDF over a DETERMINISTIC md5-derived uniform
    * (48 bits of md5(event_type||'|dp') / 2^48), the same
    * engine-portable coin construction as randomized response
    * ([[privacyRr]]): the noisy release is reproducible, auditable,
    * and oracle-checkable while keeping the real Laplace shape.
    * Released counts clamp at 0 and round down to integers.
    *
    * Scale: the noise is a per-GROUP projection after the partial-
    * agg'd count — one hash + one log per released cell, independent
    * of input rows.
    */
  val privacyDpHist: Q = (spark, dir) => {
    val e = Tables(spark, dir, "events")
    val t = e.groupBy("event_type").agg(count(lit(1)).as("n_true"))
    val u = conv(substring(md5(concat(col("event_type"), lit("|dp"))),
        1, 12), 16, 10).cast("long").cast("double") /
      lit(281474976710656.0) // 2^48
    val cen = u - lit(0.5)
    val noise = -lit(20.0) * signum(cen) *
      log(lit(1.0) - lit(2.0) * abs(cen))
    t.select(col("event_type"), col("n_true"),
        greatest(floor(col("n_true").cast("double") + noise).cast("long"),
          lit(0L)).as("n_noisy"))
      .orderBy("event_type")
  }

  /** RAKE keyword extraction (Rose et al.) — corpus top-25 key
    * phrases: candidate phrases are maximal stopword-free word runs
    * (a running stopword count segments each document — pure window
    * arithmetic, no sequential parser), each word scores
    * degree/frequency over the phrase corpus, and a phrase scores the
    * sum of its words. Word scores quantize to exact integers
    * (⌊10⁶·degree/freq⌋) before any summation, so phrase scores are
    * BIGINT-exact and the top-25 cut can't float-drift.
    *
    * Scale: one word explode (shuffle by doc for the segment window,
    * then by word for the vocab-bounded stats, broadcast back); the
    * top-25 is a heap TakeOrderedAndProject.
    */
  val textRake: Q = (spark, dir) => {
    val stop = Seq("the", "a", "an", "and", "or", "of", "to", "in",
      "is", "on", "for", "with", "as", "at", "by", "be", "are", "was",
      "it", "this", "that", "from", "not", "but", "have", "has")
    val d = Tables(spark, dir, "documents")
    val words = d.select(col("doc_id"),
        posexplode(split(lower(col("text")), "[^a-z]+")))
      .toDF("doc_id", "pos", "w")
      .filter(col("w") =!= "")
      .withColumn("is_stop", col("w").isInCollection(stop))
    val wdoc = Window.partitionBy("doc_id").orderBy("pos")
    val phr = words
      .withColumn("pid",
        sum(when(col("is_stop"), 1L).otherwise(0L)).over(wdoc))
      .filter(!col("is_stop"))
    val phrases = pinLineage(phr.groupBy("doc_id", "pid")
      .agg(array_sort(collect_list(struct(col("pos"), col("w"))))
        .as("pw"))
      .select(col("doc_id"), col("pid"),
        transform(col("pw"), _.getField("w")).as("ws"))
      .withColumn("len", size(col("ws")))
      // standard RAKE candidate cap: runs longer than 4 words are
      // almost never keyphrases (and the synthetic corpus's sparse
      // stopwords would otherwise make whole documents candidates)
      .filter(col("len") <= 4))
    val wstats = phrases
      .select(explode(col("ws")).as("w"), col("len"))
      .groupBy("w")
      .agg(count(lit(1)).as("freq"), sum("len").as("degree"))
      .withColumn("wscore", expr("degree * 1000000 div freq"))
    val inst = phrases
      .select(col("doc_id"), col("pid"),
        concat_ws(" ", col("ws")).as("phrase"),
        explode(col("ws")).as("w"))
      .join(broadcast(wstats.select("w", "wscore")), "w")
      .groupBy("doc_id", "pid", "phrase")
      .agg(sum("wscore").as("score_int"))
    inst.groupBy("phrase")
      .agg(count(lit(1)).as("n_occurrences"),
        min("score_int").as("score_int"))
      .orderBy(col("score_int").desc, col("phrase"))
      .limit(25)
      .select(col("phrase"), col("n_occurrences"),
        Norm.r4tie(col("score_int").cast("double") / 1000000.0)
          .as("rake_score"))
  }

  /** N-gram novelty per document — the incremental-crawl signal
    * ("how much of this doc is new against everything before it"):
    * distinct word-3-gram md5 digests per doc, each gram attributed
    * to its FIRST doc (min doc_id), novelty = first-occurrence share.
    * Exactly the statistic a dedup-aware ingest uses to rank refresh
    * candidates; pure integer counts + one quotient.
    *
    * Scale: digests shuffle, never text (the dupNgramStats
    * discipline); the first-doc table is gram-cardinality-bounded and
    * the join back is digest-keyed.
    */
  val textNovelty: Q = (spark, dir) => {
    import graft.api.ops._
    // ONE exchange keyed on the gram digest `g` does triple duty: the
    // repartition colocates (doc_id, g) so the distinct needs no
    // second exchange (hash(g) clusters every (doc_id, g) duplicate),
    // and the pinned layout then feeds BOTH the first-doc aggregate
    // and the join back shuffle-free (pinLineage keeps the layout —
    // the bare localCheckpoint dropped it and every consumer
    // re-exchanged).
    val inst = graft.api.ops.pinLineage(docs(spark, dir)
      .select(col("doc_id"), split(col("text"), " ").as("_t"))
      .select(col("doc_id"), explode(ngrams(col("_t"), 3)).as("_gs"))
      .select(col("doc_id"), md5(col("_gs")).as("g"))
      .keyedBy(col("g"))
      .distinct())
    val first = inst.groupBy("g").agg(min("doc_id").as("first_doc"))
    inst.join(first, "g")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_grams"),
        sum(when(col("first_doc") === col("doc_id"), 1L)
          .otherwise(0L)).as("n_novel"))
      .select(col("doc_id"), col("n_grams"), col("n_novel"),
        Norm.r4tie(col("n_novel").cast("double")
          / col("n_grams").cast("double")).as("novelty"))
      .orderBy("doc_id")
  }

  /** Gopher-style quality rule gate (Rae et al.) — the named-rule
    * variant of the scalar quality score: per document the individual
    * verdicts a pretraining filter logs (word count in [50, 100k],
    * mean word length in [3, 10], symbol-to-word ratio < 0.1,
    * ≥ 80% alphabetic words) plus the overall pass. EVERY threshold
    * tests in scaled-integer form (3n ≤ Σlen ≤ 10n; symbols·10 < n;
    * alpha·5 ≥ n·4), so rule membership is exact — no float
    * boundaries to drift between engines.
    *
    * Scale: pure per-row projection over the text column, no shuffle.
    */
  val textGopherRules: Q = (spark, dir) => {
    val d = docs(spark, dir)
    val words = filter(split(col("text"), " "), w => w =!= "")
    val base = d.select(col("doc_id"), words.as("ws"),
        (length(col("text"))
          - length(regexp_replace(col("text"), "[#…]|\\.\\.\\.", "")))
          .as("symbols"))
      .select(col("doc_id"), size(col("ws")).as("n_words"),
        aggregate(col("ws"), lit(0L), (a, w) => a + length(w))
          .as("sum_len"),
        size(filter(col("ws"), w => w.rlike("[a-zA-Z]")))
          .as("n_alpha"),
        col("symbols"))
    base.select(col("doc_id"), col("n_words"),
        (col("n_words") >= 50 && col("n_words") <= 100000)
          .as("ok_word_count"),
        (col("sum_len") >= col("n_words") * 3 &&
          col("sum_len") <= col("n_words") * 10).as("ok_word_len"),
        (col("symbols") * 10 < col("n_words")).as("ok_symbols"),
        (col("n_alpha") * 5 >= col("n_words") * 4).as("ok_alpha"),
        ((col("n_words") >= 50 && col("n_words") <= 100000) &&
         (col("sum_len") >= col("n_words") * 3 &&
          col("sum_len") <= col("n_words") * 10) &&
         (col("symbols") * 10 < col("n_words")) &&
         (col("n_alpha") * 5 >= col("n_words") * 4)).as("pass"))
      .orderBy("doc_id")
  }

  /** Small-cell suppression — the census-style release rule the
    * k-anonymity audit (q_privacy_kanon) motivates: publish the
    * (lang, source) contingency table with every cell under 5 NULLed
    * and flagged, so no released count can isolate a small group.
    * Pure integer counts; the release and its suppression ledger in
    * one result.
    *
    * Scale: one partial-agg'd pass to the bounded cell table.
    */
  val privacySuppress: Q = (spark, dir) => {
    val d = docs(spark, dir)
    d.groupBy("lang", "source")
      .agg(count(lit(1)).as("n_raw"))
      .select(col("lang"), col("source"),
        when(col("n_raw") >= 5, col("n_raw")).as("n_released"),
        (col("n_raw") < 5).as("suppressed"))
      .orderBy("lang", "source")
  }

  val queries: Map[String, Q] = Map(
    "q_privacy_suppress" -> privacySuppress,
    "q_text_gopher_rules" -> textGopherRules,
    "q_text_novelty" -> textNovelty,
    "q_text_rake" -> textRake,
    "q_text_readability" -> textReadability,
    "q_privacy_dp_hist" -> privacyDpHist,
    "q_privacy_ldiv" -> privacyLdiv,
    "q_privacy_tclose" -> privacyTclose,
    "q_privacy_pseudonym" -> privacyPseudonym,
    "q_sample_neyman" -> sampleNeyman,
    "q_text_zipf" -> textZipf,
    "q_text_collocations" -> textCollocations,
    "q_text_hashing_trick" -> textHashingTrick,
    "q_privacy_rr" -> privacyRr,
    "q_privacy_kanon" -> kAnon,
    "q_sample_reservoir" -> sampleReservoir,
    "q_text_bpe_merges" -> textBpeMerges,
    "q_text_bpe_encode" -> textBpeEncode,
    "q_text_quality_cut" -> textQualityCut,
    "q_text_bm25" -> textBm25,
    "q_pipeline_corpus" -> pipelineCorpus,
    "q_text_encode_ids" -> textEncodeIds,
    "q_text_decontaminate" -> textDecontaminate,
    "q_sample_weighted" -> sampleWeighted,
    "q_text_dup_ngrams" -> textDupNgrams,
    "q_text_dup_spans" -> textDupSpans,
    "q_text_dup_doc_filter" -> textDupDocFilter,
    "q_text_normalize" -> textNormalize,
    "q_text_repetition" -> textRepetition,
    "q_text_pii_redact" -> textPiiRedact,
    "q_text_unigram_surprisal" -> textSurprisal,
    "q_text_bigram_surprisal" -> ((spark, dir) => {
      import graft.api.ops._
      docs(spark, dir)
        .bigramSurprisal(col("doc_id"), split(col("text"), " "))
        .orderBy("doc_id")
    }),
    "q_sample_stratified" -> sampleStratified,
    "q_sample_mixture" -> sampleMixture,
    "q_sample_temperature" -> sampleTemperature,
    "q_sample_dsir" -> sampleDsir,
    "q_text_quality_classifier" -> textQualityClassifier,
    "q_chunk_documents" -> chunkDocuments,
    "q_source_gate" -> sourceGate,
    "q_text_vocab" -> textVocab,
    "q_text_vocab_sketch" -> textVocabSketch,
    "q_pack_sequences" -> packSequences,
    "q_sample_hash_split" -> sampleHashSplit,
    "q_shuffle_shards" -> shuffleShards,
    "q_text_tokenize" -> textTokenize,
    "q_text_tokenize_pos" -> textTokenizePos,
    "q_text_tfidf" -> textTfidf,
    "q_text_lang_stats" -> textLangStats,
    "q_text_langid" -> textLangid,
    "q_text_quality" -> textQuality,
    "q_text_token_count" -> textTokenCount,
    "q_text_fingerprint" -> textFingerprint,
    "q_text_boilerplate" -> textBoilerplate,
    "q_text_split_coverage" -> textSplitCoverage,
  )

  val oracle: Map[String, String] = Map(
    "q_privacy_suppress" -> """
      SELECT lang, source,
             CASE WHEN count(*) >= 5 THEN count(*) END AS n_released,
             count(*) < 5 AS suppressed
      FROM documents GROUP BY lang, source
      ORDER BY lang, source""",
    "q_text_gopher_rules" -> """
      WITH base AS (
        SELECT doc_id,
               len(list_filter(string_split(text, ' '), w -> w <> ''))
                 AS n_words,
               CAST(list_reduce(list_prepend(CAST(0 AS BIGINT),
                 list_transform(
                   list_filter(string_split(text, ' '), w -> w <> ''),
                   w -> CAST(length(w) AS BIGINT))),
                 (a, b) -> a + b) AS BIGINT) AS sum_len,
               len(list_filter(string_split(text, ' '),
                 w -> w <> '' AND regexp_matches(w, '[a-zA-Z]')))
                 AS n_alpha,
               length(text)
                 - length(regexp_replace(text, '[#…]|\\.\\.\\.',
                          '', 'g')) AS symbols
        FROM documents)
      SELECT doc_id, CAST(n_words AS INT) AS n_words,
             n_words >= 50 AND n_words <= 100000 AS ok_word_count,
             sum_len >= n_words * 3 AND sum_len <= n_words * 10
               AS ok_word_len,
             symbols * 10 < n_words AS ok_symbols,
             n_alpha * 5 >= n_words * 4 AS ok_alpha,
             (n_words >= 50 AND n_words <= 100000)
               AND (sum_len >= n_words * 3
                    AND sum_len <= n_words * 10)
               AND (symbols * 10 < n_words)
               AND (n_alpha * 5 >= n_words * 4) AS pass
      FROM base ORDER BY doc_id""",
    "q_text_novelty" -> """
      WITH t AS (
        SELECT doc_id, string_split(text, ' ') AS w FROM documents),
      inst AS (
        SELECT DISTINCT doc_id, md5(g) AS g FROM (
          SELECT doc_id,
                 unnest(list_transform(
                   generate_series(1, len(w) - 2),
                   i -> w[i] || ' ' || w[i + 1] || ' ' || w[i + 2]))
                   AS g
          FROM t WHERE len(w) >= 3) x),
      fst AS (SELECT g, min(doc_id) AS first_doc FROM inst GROUP BY g)
      SELECT i.doc_id, count(*) AS n_grams,
             CAST(sum(CASE WHEN first_doc = i.doc_id
                           THEN 1 ELSE 0 END) AS BIGINT) AS n_novel,
             floor(CAST(sum(CASE WHEN first_doc = i.doc_id
                                 THEN 1 ELSE 0 END) AS DOUBLE)
                   / CAST(count(*) AS DOUBLE) * 10000 + 0.5) / 10000
               AS novelty
      FROM inst i JOIN fst ON i.g = fst.g
      GROUP BY i.doc_id ORDER BY i.doc_id""",
    "q_text_rake" -> """
      WITH raw AS (
        SELECT doc_id, string_split_regex(lower(text), '[^a-z]+') AS l
        FROM documents),
      words0 AS (
        SELECT doc_id, generate_subscripts(l, 1) AS pos,
               unnest(l) AS w
        FROM raw),
      words AS (
        SELECT doc_id, pos, w,
               w IN ('the','a','an','and','or','of','to','in','is',
                     'on','for','with','as','at','by','be','are',
                     'was','it','this','that','from','not','but',
                     'have','has') AS is_stop
        FROM words0 WHERE w <> ''),
      seg AS (
        SELECT doc_id, pos, w,
               CAST(sum(CASE WHEN is_stop THEN 1 ELSE 0 END)
                 OVER (PARTITION BY doc_id ORDER BY pos
                       ROWS UNBOUNDED PRECEDING) AS BIGINT) AS pid
        FROM words
        QUALIFY NOT is_stop),
      phrases AS (
        SELECT doc_id, pid, phrase, len FROM (
          SELECT doc_id, pid,
                 string_agg(w, ' ' ORDER BY pos) AS phrase,
                 count(*) AS len
          FROM seg GROUP BY doc_id, pid)
        WHERE len <= 4),
      wstats AS (
        SELECT w, count(*) AS freq,
               CAST(sum(len) AS BIGINT) AS degree,
               CAST(sum(len) AS BIGINT) * 1000000 // count(*) AS wscore
        FROM (SELECT s.w, p.len
              FROM seg s JOIN phrases p
                ON s.doc_id = p.doc_id AND s.pid = p.pid)
        GROUP BY w),
      inst AS (
        SELECT s.doc_id, s.pid, p.phrase,
               CAST(sum(wstats.wscore) AS BIGINT) AS score_int
        FROM seg s
        JOIN phrases p ON s.doc_id = p.doc_id AND s.pid = p.pid
        JOIN wstats ON s.w = wstats.w
        GROUP BY s.doc_id, s.pid, p.phrase),
      top AS (
        SELECT phrase, count(*) AS n_occurrences,
               min(score_int) AS score_int
        FROM inst GROUP BY phrase
        ORDER BY score_int DESC, phrase LIMIT 25)
      SELECT phrase, n_occurrences,
             floor(CAST(score_int AS DOUBLE) / 1000000.0
                   * 10000 + 0.5) / 10000 AS rake_score
      FROM top""",
    "q_text_readability" -> """
      WITH c AS (
        SELECT doc_id,
               length(regexp_replace(regexp_replace(lower(text),
                 '[a-z]+', 'W', 'g'), '[^W]', '', 'g')) AS n_words,
               length(regexp_replace(regexp_replace(lower(text),
                 '[aeiouy]+', 'V', 'g'), '[^V]', '', 'g')) AS n_syllables,
               greatest(length(regexp_replace(regexp_replace(text,
                 '[.!?]+', 'S', 'g'), '[^S]', '', 'g')), 1) AS n_sentences
        FROM documents),
      f AS (SELECT * FROM c WHERE n_words > 0)
      SELECT doc_id,
             CAST(n_words AS INT) AS n_words,
             CAST(n_sentences AS INT) AS n_sentences,
             CAST(n_syllables AS INT) AS n_syllables,
             floor((206.835
                    - 1.015 * (CAST(n_words AS DOUBLE)
                               / CAST(n_sentences AS DOUBLE))
                    - 84.6 * (CAST(n_syllables AS DOUBLE)
                              / CAST(n_words AS DOUBLE))) * 10000)
               / 10000 AS flesch,
             floor((0.39 * (CAST(n_words AS DOUBLE)
                            / CAST(n_sentences AS DOUBLE))
                    + 11.8 * (CAST(n_syllables AS DOUBLE)
                              / CAST(n_words AS DOUBLE))
                    - 15.59) * 10000) / 10000 AS fk_grade
      FROM f ORDER BY doc_id""",
    "q_privacy_dp_hist" -> """
      WITH t AS (
        SELECT event_type, count(*) AS n_true FROM events
        GROUP BY event_type),
      n AS (
        SELECT event_type, n_true,
               CAST(('0x' || substring(md5(event_type || '|dp'), 1, 12))
                    AS BIGINT) / 281474976710656.0 - 0.5 AS cen
        FROM t)
      SELECT event_type, n_true,
             greatest(CAST(floor(CAST(n_true AS DOUBLE)
               + (-20.0) * sign(cen) * ln(1.0 - 2.0 * abs(cen)))
               AS BIGINT), 0) AS n_noisy
      FROM n ORDER BY event_type""",
    "q_privacy_pseudonym" -> """
      WITH e AS (
        SELECT user_id,
               substring(md5('pepper42:' || CAST(user_id AS VARCHAR)),
                 1, 16) AS pid
        FROM events),
      c AS (
        SELECT c_custkey,
               substring(md5('pepper42:' || CAST(c_custkey AS VARCHAR)),
                 1, 16) AS cpid
        FROM customer),
      inj AS (
        SELECT CAST(count(DISTINCT user_id) AS BIGINT) AS n_users,
               CAST(count(DISTINCT pid) AS BIGINT) AS n_pids
        FROM e),
      rj AS (
        SELECT count(*) AS n_raw_join
        FROM e JOIN c ON e.user_id = c.c_custkey),
      pj AS (
        SELECT count(*) AS n_pseudo_join
        FROM e JOIN c ON e.pid = c.cpid)
      SELECT n_users, n_pids, n_raw_join, n_pseudo_join,
             n_users = n_pids AND n_raw_join = n_pseudo_join AS intact
      FROM inj CROSS JOIN rj CROSS JOIN pj""",
    "q_privacy_tclose" -> """
      WITH d AS (
        SELECT lang, source, n_chars // 100 AS b FROM documents),
      gall AS (
        SELECT b, CAST(count(*) AS BIGINT) AS cg FROM d GROUP BY b),
      gcum AS (
        SELECT b, CAST(sum(cg) OVER (ORDER BY b) AS BIGINT) AS cum_all
        FROM gall),
      tot AS (
        SELECT CAST(sum(cg) AS BIGINT) AS nn,
               CAST(count(*) AS BIGINT) AS m FROM gall),
      cells AS (
        SELECT lang, source, b, CAST(count(*) AS BIGINT) AS c
        FROM d GROUP BY lang, source, b),
      groups AS (
        SELECT lang, source, CAST(count(*) AS BIGINT) AS ng
        FROM d GROUP BY lang, source),
      grid AS (
        SELECT g.lang, g.source, g.ng, x.b, x.cum_all,
               CAST(sum(coalesce(c.c, 0))
                 OVER (PARTITION BY g.lang, g.source ORDER BY x.b)
                 AS BIGINT) AS cum_g
        FROM groups g CROSS JOIN gcum x
        LEFT JOIN cells c
          ON c.lang = g.lang AND c.source = g.source AND c.b = x.b),
      agg AS (
        SELECT lang, source, max(ng) AS n,
               CAST(sum(abs(cum_g * (SELECT nn FROM tot)
                            - cum_all * ng)) AS BIGINT) AS num
        FROM grid GROUP BY lang, source)
      SELECT lang, source, n,
             floor(CAST(num AS DOUBLE)
                   / CAST(n * (SELECT nn FROM tot)
                          * ((SELECT m FROM tot) - 1) AS DOUBLE)
                   * 10000 + 0.5) / 10000 AS t,
             floor(CAST(num AS DOUBLE)
                   / CAST(n * (SELECT nn FROM tot)
                          * ((SELECT m FROM tot) - 1) AS DOUBLE)
                   * 10000 + 0.5) / 10000 > 0.2 AS violates
      FROM agg ORDER BY lang, source""",
    "q_privacy_ldiv" -> """
      WITH cells AS (
        SELECT lang, 'b' || CAST(n_chars // 100 AS VARCHAR) AS bucket,
               source, count(*) AS ns
        FROM documents GROUP BY 1, 2, 3),
      g AS (
        SELECT lang, bucket,
               CAST(sum(ns) AS BIGINT) AS n,
               CAST(count(*) AS BIGINT) AS l,
               CAST(max(ns) AS BIGINT) AS mx
        FROM cells GROUP BY 1, 2)
      SELECT lang, bucket, n, l,
             floor(CAST(mx AS DOUBLE) / CAST(n AS DOUBLE)
                   * 10000 + 0.5) / 10000 AS dominant_share,
             l >= 2 AS diverse
      FROM g ORDER BY lang, bucket""",
    "q_sample_neyman" -> """
      WITH st AS (
        SELECT lang, count(*) AS n_h, sum(n_chars) AS s1,
               sum(n_chars * n_chars) AS s2
        FROM documents GROUP BY lang),
      ws AS (
        SELECT lang,
               sqrt(CAST(n_h * s2 - s1 * s1 AS DOUBLE)) AS w
        FROM st),
      wt AS (
        SELECT list_reduce(list_prepend(CAST(0 AS DOUBLE),
                 list(w ORDER BY lang)), (a, x) -> a + x) AS wt
        FROM ws),
      alloc AS (
        SELECT lang, CAST(floor(200.0 * w / wt) AS BIGINT) AS alloc
        FROM ws, wt),
      ranked AS (
        SELECT doc_id, lang,
               CAST(row_number() OVER (PARTITION BY lang
                 ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id)
                 AS BIGINT) AS rn
        FROM documents)
      SELECT r.doc_id, r.lang, r.rn, a.alloc
      FROM ranked r JOIN alloc a ON r.lang = a.lang
      WHERE r.rn <= a.alloc
      ORDER BY r.lang, r.rn""",
    "q_text_zipf" -> """
      WITH tk AS (SELECT tok FROM
             (SELECT unnest(string_split(text, ' ')) AS tok FROM documents)
             WHERE tok <> ''),
      tc AS (SELECT tok, count(*) AS c FROM tk GROUP BY tok
             ORDER BY c DESC, tok LIMIT 1000),
      ranked AS (SELECT c,
                   row_number() OVER (ORDER BY c DESC, tok) AS rn
                 FROM tc),
      es AS (SELECT count(*) AS n,
               list(struct_pack(rn := rn,
                                lx := ln(CAST(rn AS DOUBLE)),
                                ly := ln(CAST(c AS DOUBLE)))
                    ORDER BY rn) AS l
             FROM ranked),
      sums AS (SELECT n,
        list_reduce(list_prepend(CAST(0 AS DOUBLE),
          list_transform(l, e -> e.lx)), (a, x) -> a + x) AS sx,
        list_reduce(list_prepend(CAST(0 AS DOUBLE),
          list_transform(l, e -> e.ly)), (a, x) -> a + x) AS sy,
        list_reduce(list_prepend(CAST(0 AS DOUBLE),
          list_transform(l, e -> e.lx * e.ly)), (a, x) -> a + x) AS sxy,
        list_reduce(list_prepend(CAST(0 AS DOUBLE),
          list_transform(l, e -> e.lx * e.lx)), (a, x) -> a + x) AS sxx
        FROM es)
      SELECT n AS n_terms,
             round((CAST(n AS DOUBLE) * sxy - sx * sy)
                   / (CAST(n AS DOUBLE) * sxx - sx * sx), 4) AS slope,
             round((sy - ((CAST(n AS DOUBLE) * sxy - sx * sy)
                          / (CAST(n AS DOUBLE) * sxx - sx * sx)) * sx)
                   / CAST(n AS DOUBLE), 4) AS intercept
      FROM sums""",
    "q_text_collocations" -> """
      WITH d AS (SELECT string_split(text, ' ') AS toks FROM documents),
      tk AS (SELECT tok FROM (SELECT unnest(toks) AS tok FROM d)
             WHERE tok <> ''),
      uni AS (SELECT tok, count(*) AS c FROM tk GROUP BY tok),
      tt AS (SELECT count(*) AS t FROM tk),
      bg AS (SELECT unnest(toks[1:len(toks)-1]) AS w1,
                    unnest(toks[2:len(toks)]) AS w2
             FROM d),
      bgf AS (SELECT w1, w2 FROM bg WHERE w1 <> '' AND w2 <> ''),
      bt AS (SELECT count(*) AS b FROM bgf),
      cxy AS (SELECT w1, w2, count(*) AS cxy FROM bgf
              GROUP BY 1, 2 HAVING count(*) >= 5)
      SELECT cxy.w1, cxy.w2, cxy.cxy,
             round(ln(CAST(cxy.cxy AS DOUBLE) * CAST(tt.t AS DOUBLE)
                      * CAST(tt.t AS DOUBLE)
                      / (CAST(bt.b AS DOUBLE) * CAST(ux.c AS DOUBLE)
                         * CAST(uy.c AS DOUBLE))), 4) AS pmi
      FROM cxy
      JOIN uni ux ON cxy.w1 = ux.tok
      JOIN uni uy ON cxy.w2 = uy.tok, tt, bt
      ORDER BY pmi DESC, cxy.w1, cxy.w2
      LIMIT 100""",
    "q_text_hashing_trick" -> """
      WITH t AS (
        SELECT doc_id, unnest(string_split(text, ' ')) AS tok
        FROM documents),
      h AS (
        SELECT doc_id, lower(substring(md5(tok), 1, 4)) AS hx
        FROM t WHERE tok <> ''),
      b AS (
        SELECT doc_id,
               ((strpos('0123456789abcdef', substring(hx,1,1)) - 1) * 4096 +
                (strpos('0123456789abcdef', substring(hx,2,1)) - 1) * 256 +
                (strpos('0123456789abcdef', substring(hx,3,1)) - 1) * 16 +
                (strpos('0123456789abcdef', substring(hx,4,1)) - 1)) % 64
                 AS bucket
        FROM h),
      tf AS (SELECT doc_id, bucket, count(*) AS tf FROM b
             GROUP BY doc_id, bucket),
      n AS (SELECT doc_id, sum(tf * tf) AS sq FROM tf GROUP BY doc_id)
      SELECT tf.doc_id, CAST(tf.bucket AS BIGINT) AS bucket, tf.tf,
             floor(CAST(tf.tf AS DOUBLE) / sqrt(CAST(n.sq AS DOUBLE))
                   * 10000 + 0.5) / 10000 AS weight
      FROM tf JOIN n ON tf.doc_id = n.doc_id
      ORDER BY tf.doc_id, bucket""",
    "q_privacy_rr" -> """
      WITH c AS (
        SELECT event_type,
               ((strpos('0123456789abcdef', substring(lower(substring(md5(CAST(event_id AS VARCHAR)), 1, 4)),1,1)) - 1) * 4096 +
                (strpos('0123456789abcdef', substring(lower(substring(md5(CAST(event_id AS VARCHAR)), 1, 4)),2,1)) - 1) * 256 +
                (strpos('0123456789abcdef', substring(lower(substring(md5(CAST(event_id AS VARCHAR)), 1, 4)),3,1)) - 1) * 16 +
                (strpos('0123456789abcdef', substring(lower(substring(md5(CAST(event_id AS VARCHAR)), 1, 4)),4,1)) - 1)) % 4 AS coin,
               ((strpos('0123456789abcdef', substring(lower(substring(md5(CAST(event_id AS VARCHAR) || 'f'), 1, 4)),1,1)) - 1) * 4096 +
                (strpos('0123456789abcdef', substring(lower(substring(md5(CAST(event_id AS VARCHAR) || 'f'), 1, 4)),2,1)) - 1) * 256 +
                (strpos('0123456789abcdef', substring(lower(substring(md5(CAST(event_id AS VARCHAR) || 'f'), 1, 4)),3,1)) - 1) * 16 +
                (strpos('0123456789abcdef', substring(lower(substring(md5(CAST(event_id AS VARCHAR) || 'f'), 1, 4)),4,1)) - 1)) % 5 AS fi
        FROM events),
      rep AS (
        SELECT CASE WHEN coin < 3 THEN event_type
                    ELSE (['click','error','purchase','signup','view'])[fi + 1]
               END AS event_type
        FROM c),
      r AS (SELECT event_type, count(*) AS n_reported FROM rep
            GROUP BY event_type),
      t AS (SELECT event_type, count(*) AS n_true FROM events
            GROUP BY event_type)
      SELECT COALESCE(t.event_type, r.event_type) AS event_type,
             COALESCE(t.n_true, 0) AS n_true,
             COALESCE(r.n_reported, 0) AS n_reported,
             floor(greatest(
               CAST(20 * COALESCE(r.n_reported, 0)
                    - sum(COALESCE(r.n_reported, 0)) OVER () AS DOUBLE) / 15,
               0) * 10000 + 0.5) / 10000 AS n_est
      FROM t FULL OUTER JOIN r ON t.event_type = r.event_type
      ORDER BY event_type""",
    "q_sample_reservoir" -> """
      WITH r AS (
        SELECT lang, doc_id,
               row_number() OVER (PARTITION BY lang
                 ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS pos
        FROM documents)
      SELECT lang, pos, doc_id FROM r
      WHERE pos <= 5 ORDER BY lang, pos""",
    "q_privacy_kanon" -> """
      WITH g0 AS (
        SELECT lang, source,
               'b' || CAST(n_chars // 100 AS VARCHAR) AS bucket,
               count(*) AS n
        FROM documents GROUP BY 1, 2, 3),
      small AS (SELECT * FROM g0 WHERE n < 10),
      g1 AS (
        SELECT lang, source, CAST(sum(n) AS BIGINT) AS n
        FROM small GROUP BY 1, 2),
      keep1 AS (
        SELECT lang, source, '*' AS bucket, n FROM g1 WHERE n >= 10),
      supp AS (
        SELECT '*' AS lang, '*' AS source, '*' AS bucket,
               CAST(sum(n) AS BIGINT) AS n
        FROM g1 WHERE n < 10 HAVING sum(n) IS NOT NULL)
      SELECT lang, source, bucket, n FROM g0 WHERE n >= 10
      UNION ALL SELECT lang, source, bucket, n FROM keep1
      UNION ALL SELECT lang, source, bucket, n FROM supp
      ORDER BY lang, source, bucket""",
    "q_text_bpe_merges" -> bpeOracle(4),
    "q_text_bpe_encode" -> bpeEncodeOracle(4),
    "q_text_quality_cut" -> """
      WITH cuts AS (
        SELECT lang,
               round(quantile_cont(n_chars, 0.75), 4) AS p75_chars
        FROM documents GROUP BY lang)
      SELECT d.doc_id, d.lang, d.n_chars, c.p75_chars
      FROM documents d JOIN cuts c ON d.lang = c.lang
      WHERE d.n_chars >= c.p75_chars
      ORDER BY d.doc_id""",
    "q_text_bm25" -> """
      WITH d AS (
        SELECT doc_id, string_split(text, ' ') AS toks,
               CAST(len(string_split(text, ' ')) AS DOUBLE) AS dl
        FROM documents),
      stats AS (
        SELECT CAST(count(*) AS DOUBLE) AS n_docs, avg(dl) AS avgdl FROM d),
      tf AS (
        SELECT doc_id, dl, term, CAST(count(*) AS DOUBLE) AS tf
        FROM (SELECT doc_id, dl, unnest(toks) AS term FROM d)
        WHERE term IN ('spark', 'join', 'vector')
        GROUP BY doc_id, dl, term),
      dfreq AS (
        SELECT term, CAST(count(*) AS DOUBLE) AS df FROM tf GROUP BY term),
      scored AS (
        SELECT doc_id,
               ln(1 + (n_docs - df + 0.5) / (df + 0.5))
                 * tf * (1.2 + 1)
                 / (tf + 1.2 * (1 - 0.75 + 0.75 * dl / avgdl)) AS s
        FROM tf JOIN dfreq USING (term) CROSS JOIN stats)
      SELECT doc_id, round(sum(s), 4) AS bm25, count(*) AS n_terms
      FROM scored
      GROUP BY doc_id
      ORDER BY bm25 DESC, doc_id
      LIMIT 20""",
    "q_pipeline_corpus" -> """
      WITH canon AS (
        SELECT min(doc_id) AS doc_id FROM documents GROUP BY text),
      kept AS (
        SELECT d.doc_id, d.lang, d.text
        FROM documents d JOIN canon c ON d.doc_id = c.doc_id
        WHERE d.n_chars >= 40),
      h AS (
        SELECT doc_id, lang, text,
               lower(substring(md5(CAST(doc_id AS VARCHAR)), 1, 4)) AS hx
        FROM kept),
      b AS (
        SELECT lang, text,
               ((strpos('0123456789abcdef', substring(hx, 1, 1)) - 1) * 4096 +
                (strpos('0123456789abcdef', substring(hx, 2, 1)) - 1) * 256 +
                (strpos('0123456789abcdef', substring(hx, 3, 1)) - 1) * 16 +
                (strpos('0123456789abcdef', substring(hx, 4, 1)) - 1)) % 100
                 AS bucket
        FROM h),
      s AS (
        SELECT lang,
               CASE WHEN bucket < 80 THEN 'train'
                    WHEN bucket < 90 THEN 'val'
                    ELSE 'test' END AS split,
               CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
        FROM b)
      SELECT split, lang, count(*) AS n_docs,
             CAST(sum(n_tokens) AS BIGINT) AS total_tokens
      FROM s
      GROUP BY split, lang
      ORDER BY split, lang""",
    "q_text_encode_ids" -> """
      WITH tok AS (
        SELECT doc_id, generate_subscripts(toks, 1) - 1 AS pos,
               unnest(toks) AS term
        FROM (SELECT doc_id, string_split(text, ' ') AS toks
              FROM documents)),
      vocab AS (
        SELECT term, tid FROM (
          SELECT term,
                 row_number() OVER (ORDER BY count(*) DESC, term ASC)
                   AS tid
          FROM tok GROUP BY term)
        WHERE tid <= 20),
      enc AS (
        SELECT t.doc_id, t.pos, coalesce(v.tid, 0) AS tid
        FROM tok t LEFT JOIN vocab v ON t.term = v.term)
      SELECT doc_id, count(*) AS n_tokens,
             CAST(sum(CASE WHEN tid = 0 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_oov,
             string_agg(CAST(tid AS VARCHAR), ',' ORDER BY pos)
               FILTER (WHERE pos < 10) AS ids
      FROM enc
      GROUP BY doc_id
      ORDER BY doc_id""",
    "q_text_decontaminate" -> """
      WITH toks AS (
        SELECT doc_id, doc_id % 17 = 0 AS ev,
               string_split(text, ' ') AS t
        FROM documents),
      inst AS (
        SELECT DISTINCT doc_id, ev,
               md5(array_to_string(t[i:i+2], ' ')) AS g
        FROM (SELECT doc_id, ev, t,
                     unnest(range(1, len(t) - 1)) AS i
              FROM toks WHERE len(t) >= 3)),
      ev_grams AS (
        SELECT DISTINCT g FROM inst WHERE ev),
      train AS (
        SELECT doc_id, g FROM inst WHERE NOT ev)
      SELECT t.doc_id, count(*) AS n_grams,
             CAST(sum(CASE WHEN e.g IS NOT NULL THEN 1 ELSE 0 END)
               AS BIGINT) AS n_contaminated,
             sum(CASE WHEN e.g IS NOT NULL THEN 1 ELSE 0 END) > 0
               AS contaminated
      FROM train t LEFT JOIN ev_grams e ON t.g = e.g
      GROUP BY t.doc_id
      ORDER BY t.doc_id""",
    "q_sample_weighted" -> """
      WITH h AS (
        SELECT doc_id, lang, n_chars,
               lower(substring(md5(CAST(doc_id AS VARCHAR)), 1, 4)) AS hx
        FROM documents),
      u AS (
        SELECT doc_id, lang, n_chars,
               ((strpos('0123456789abcdef', substring(hx, 1, 1)) - 1) * 4096 +
                (strpos('0123456789abcdef', substring(hx, 2, 1)) - 1) * 256 +
                (strpos('0123456789abcdef', substring(hx, 3, 1)) - 1) * 16 +
                (strpos('0123456789abcdef', substring(hx, 4, 1)) - 1) + 1)
                 / 65536.0 AS uv
        FROM h),
      ranked AS (
        SELECT lang, doc_id, n_chars,
               row_number() OVER (
                 PARTITION BY lang
                 ORDER BY ln(uv) / n_chars DESC, doc_id ASC) AS rank
        FROM u)
      SELECT lang, rank, doc_id, n_chars
      FROM ranked
      WHERE rank <= 20
      ORDER BY lang, rank""",
    "q_text_normalize" -> """
      SELECT doc_id,
             CAST(len(text) AS INT) AS raw_chars,
             CAST(len(trim(regexp_replace(regexp_replace(lower(text),
               '[^a-z0-9 ]', ' ', 'g'), ' +', ' ', 'g'))) AS INT)
               AS norm_chars,
             lower(md5(trim(regexp_replace(regexp_replace(lower(text),
               '[^a-z0-9 ]', ' ', 'g'), ' +', ' ', 'g')))) AS digest
      FROM documents
      ORDER BY doc_id""",
    "q_text_dup_spans" -> """
      WITH d AS (
        SELECT doc_id, string_split(text, ' ') AS toks FROM documents
        WHERE len(string_split(text, ' ')) >= 3),
      gr AS (
        SELECT doc_id, len(toks) AS n_tokens,
               unnest(generate_series(0, len(toks) - 3)) AS start, toks
        FROM d),
      g AS (
        SELECT doc_id, n_tokens, start,
               array_to_string(list_slice(toks, start + 1, start + 3), ' ')
                 AS gram
        FROM gr),
      cnt AS (SELECT gram, count(*) AS c FROM g GROUP BY gram),
      hits AS (
        SELECT doc_id, n_tokens, start
        FROM g JOIN cnt USING (gram) WHERE c >= 2),
      lagged AS (
        SELECT doc_id, n_tokens, start,
               lag(start) OVER (PARTITION BY doc_id ORDER BY start) AS prev
        FROM hits),
      isl AS (
        SELECT doc_id, n_tokens, start,
               sum(CASE WHEN prev IS NULL OR start - prev > 3
                        THEN 1 ELSE 0 END)
                 OVER (PARTITION BY doc_id ORDER BY start) AS island
        FROM lagged),
      sp AS (
        SELECT doc_id, n_tokens, island,
               min(start) AS s0, max(start) + 3 AS e0
        FROM isl GROUP BY doc_id, n_tokens, island)
      SELECT doc_id, CAST(n_tokens AS INT) AS n_tokens,
             count(*) AS n_spans,
             CAST(sum(e0 - s0) AS BIGINT) AS dup_tokens,
             CAST(max(e0 - s0) AS INT) AS max_span,
             floor(CAST(sum(e0 - s0) AS BIGINT) * 10000.0 / n_tokens + 0.5)
               / 10000 AS dup_frac
      FROM sp GROUP BY doc_id, n_tokens
      ORDER BY doc_id""",
    "q_text_dup_doc_filter" -> """
      WITH d AS (
        SELECT doc_id, string_split(text, ' ') AS toks FROM documents
        WHERE len(string_split(text, ' ')) >= 6),
      gr AS (
        SELECT doc_id, len(toks) AS n_tokens,
               unnest(generate_series(0, len(toks) - 6)) AS start, toks
        FROM d),
      g AS (
        SELECT doc_id, n_tokens, start,
               array_to_string(list_slice(toks, start + 1, start + 6), ' ')
                 AS gram
        FROM gr),
      cnt AS (SELECT gram, count(*) AS c FROM g GROUP BY gram),
      hits AS (
        SELECT doc_id, n_tokens, start
        FROM g JOIN cnt USING (gram) WHERE c >= 2),
      lagged AS (
        SELECT doc_id, n_tokens, start,
               lag(start) OVER (PARTITION BY doc_id ORDER BY start) AS prev
        FROM hits),
      isl AS (
        SELECT doc_id, n_tokens, start,
               sum(CASE WHEN prev IS NULL OR start - prev > 6
                        THEN 1 ELSE 0 END)
                 OVER (PARTITION BY doc_id ORDER BY start) AS island
        FROM lagged),
      sp AS (
        SELECT doc_id, n_tokens, island,
               min(start) AS s0, max(start) + 6 AS e0
        FROM isl GROUP BY doc_id, n_tokens, island),
      st AS (
        SELECT doc_id,
               floor(CAST(sum(e0 - s0) AS BIGINT) * 10000.0 / n_tokens
                 + 0.5) / 10000 AS dup_frac
        FROM sp GROUP BY doc_id, n_tokens)
      SELECT doc.doc_id, doc.lang,
             coalesce(st.dup_frac, 0.0) AS dup_frac
      FROM documents doc LEFT JOIN st ON doc.doc_id = st.doc_id
      WHERE coalesce(st.dup_frac, 0.0) <= 0.2
      ORDER BY doc.doc_id""",
    "q_text_dup_ngrams" -> """
      WITH toks AS (
        SELECT doc_id, string_split(text, ' ') AS t FROM documents),
      inst AS (
        SELECT doc_id, md5(array_to_string(t[i:i+2], ' ')) AS g
        FROM (SELECT doc_id, t, unnest(range(1, len(t) - 1)) AS i
              FROM toks WHERE len(t) >= 3)),
      dfreq AS (
        SELECT g, count(*) AS df
        FROM (SELECT DISTINCT doc_id, g FROM inst)
        GROUP BY g)
      SELECT doc_id, count(*) AS n_grams,
             CAST(sum(CASE WHEN df >= 2 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_dup,
             floor(sum(CASE WHEN df >= 2 THEN 1 ELSE 0 END)
                   * 10000.0 / count(*) + 0.5) / 10000 AS dup_frac
      FROM inst JOIN dfreq USING (g)
      GROUP BY doc_id
      ORDER BY doc_id""",
    "q_text_repetition" -> """
      WITH t AS (
        SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
      base AS (
        SELECT doc_id, CAST(len(toks) AS BIGINT) AS n,
               CAST(len(list_distinct(toks)) AS BIGINT) AS n_uniq
        FROM t),
      bi AS (
        SELECT doc_id, unnest(list_transform(range(1, len(toks)),
                 i -> concat(toks[i], ' ', toks[i + 1]))) AS bigram
        FROM t),
      topbi AS (
        SELECT doc_id, max(cnt) AS max_bigram_cnt FROM (
          SELECT doc_id, bigram, count(*) AS cnt
          FROM bi GROUP BY doc_id, bigram)
        GROUP BY doc_id)
      SELECT b.doc_id, b.n AS n_tokens,
             round(1.0 - CAST(b.n_uniq AS DOUBLE) / b.n, 4)
               AS dup_token_frac,
             round(coalesce(CAST(max_bigram_cnt AS DOUBLE) / (b.n - 1), 0.0),
               4) AS top_bigram_frac,
             (round(1.0 - CAST(b.n_uniq AS DOUBLE) / b.n, 4) < 0.3 AND
              round(coalesce(CAST(max_bigram_cnt AS DOUBLE) / (b.n - 1), 0.0),
                4) < 0.2) AS keep
      FROM base b LEFT JOIN topbi USING (doc_id)
      ORDER BY doc_id""",
    "q_pack_sequences" -> """
      WITH h AS (
        SELECT lang, doc_id,
               CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
               lower(substring(md5(CAST(doc_id AS VARCHAR)), 1, 4)) AS hx
        FROM documents),
      t AS (
        SELECT lang, doc_id, n_tokens,
               ((strpos('0123456789abcdef', substring(hx, 1, 1)) - 1) * 4096 +
                (strpos('0123456789abcdef', substring(hx, 2, 1)) - 1) * 256 +
                (strpos('0123456789abcdef', substring(hx, 3, 1)) - 1) * 16 +
                (strpos('0123456789abcdef', substring(hx, 4, 1)) - 1)) % 4
                 AS shard
        FROM h),
      c AS (
        SELECT lang, shard, doc_id, n_tokens,
               sum(n_tokens) OVER (PARTITION BY lang, shard ORDER BY doc_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
        FROM t)
      SELECT lang, CAST(shard AS BIGINT) AS shard,
             CAST(floor((cum - 1) / 512) AS BIGINT) AS pack_id,
             count(*) AS n_docs, CAST(sum(n_tokens) AS BIGINT)
               AS n_tokens_total
      FROM c
      GROUP BY 1, 2, 3
      ORDER BY lang, shard, pack_id""",
    "q_text_pii_redact" -> """
      WITH p AS (
        SELECT doc_id,
               text || ' contact user' || CAST(doc_id AS VARCHAR) ||
                 '@example.com' || ' tel +1 555 010 ' ||
                 lpad(CAST(doc_id % 100 AS VARCHAR), 2, '0') AS txt
        FROM documents),
      r AS (
        SELECT doc_id, txt,
               regexp_replace(
                 regexp_replace(txt,
                   '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}',
                   '<EMAIL>', 'g'),
                 '\+[0-9][0-9 ]{6,}[0-9]', '<PHONE>', 'g') AS redacted
        FROM p)
      SELECT doc_id,
             CAST(len(regexp_extract_all(txt,
               '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS INT)
               AS n_emails,
             CAST(len(regexp_extract_all(txt,
               '\+[0-9][0-9 ]{6,}[0-9]')) AS INT) AS n_phones,
             CAST(length(redacted) AS INT) AS redacted_len,
             right(redacted, 30) AS tail
      FROM r
      ORDER BY doc_id""",
    "q_text_bigram_surprisal" -> """
      WITH d AS (SELECT doc_id, string_split(text, ' ') AS xs
                 FROM documents),
      bg AS (
        SELECT doc_id, xs[i - 1] AS prev, xs[i] AS cur
        FROM (SELECT doc_id, xs, unnest(range(2, len(xs) + 1)) AS i
              FROM d WHERE len(xs) >= 2)),
      cb AS (SELECT prev, cur, count(*) AS cbig FROM bg GROUP BY 1, 2),
      cc AS (SELECT prev, count(*) AS cctx FROM bg GROUP BY 1),
      tok AS (SELECT unnest(string_split(text, ' ')) AS term
              FROM documents),
      cu AS (SELECT term, count(*) AS cuni FROM tok GROUP BY 1),
      t AS (SELECT count(*) AS total FROM tok)
      SELECT doc_id, count(*) AS n_bigrams,
             floor(avg(-ln(
               0.5 * (CAST(cbig AS DOUBLE) / cctx) +
               0.5 * (CAST(cuni AS DOUBLE) / total))) * 10000 + 0.5)
               / 10000 AS surprisal
      FROM bg
      JOIN cb USING (prev, cur)
      JOIN cc USING (prev)
      JOIN cu ON bg.cur = cu.term
      CROSS JOIN t
      GROUP BY doc_id
      ORDER BY doc_id""",
    "q_text_unigram_surprisal" -> """
      WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS term
                   FROM documents),
      c AS (SELECT term, count(*) AS cnt FROM tok GROUP BY term),
      t AS (SELECT count(*) AS total FROM tok)
      SELECT doc_id, count(*) AS n_tokens,
             floor(avg(-ln(CAST(cnt AS DOUBLE) / total)) * 10000 + 0.5)
               / 10000 AS surprisal
      FROM tok JOIN c USING (term) CROSS JOIN t
      GROUP BY doc_id
      ORDER BY doc_id""",
    "q_source_gate" -> """
      WITH q AS (
        SELECT source,
               (CAST(len(list_filter(toks, t -> regexp_full_match(
                  t, '[a-z]+'))) AS DOUBLE) / len(toks)) *
               (1.0 - CAST(len(list_filter(toks, t -> list_contains(
                  ['the', 'a', 'of', 'and', 'to', 'in'], t))) AS DOUBLE)
                  / len(toks)) *
               least(CAST(len(toks) AS DOUBLE) / 50.0, 1.0) AS quality
        FROM (SELECT source, string_split(text, ' ') AS toks
              FROM documents)),
      per AS (
        SELECT source, count(*) AS n_docs, sum(quality) AS sq
        FROM q GROUP BY source),
      tot AS (
        SELECT sum(sq) AS tsq, CAST(sum(n_docs) AS DOUBLE) AS tn FROM per)
      SELECT source, n_docs,
             floor(sq / n_docs * 10000 + 0.5) / 10000 AS mean_q,
             (floor(sq / n_docs * 10000 + 0.5) / 10000 >=
              floor(tsq / tn * 10000 + 0.5) / 10000) AS kept
      FROM per CROSS JOIN tot
      ORDER BY source""",
    "q_chunk_documents" -> """
      WITH d AS (
        SELECT doc_id, string_split(text, ' ') AS toks FROM documents
        WHERE len(string_split(text, ' ')) >= 1),
      s AS (
        SELECT doc_id, toks,
               unnest(generate_series(0, len(toks) - 1, 12)) AS start
        FROM d)
      SELECT doc_id,
             CAST(start // 12 AS INT) AS chunk_id,
             CAST(start AS INT) AS start,
             CAST(len(list_slice(toks, start + 1, start + 16)) AS INT)
               AS n_chunk,
             lower(md5(array_to_string(
               list_slice(toks, start + 1, start + 16), ' '))) AS digest
      FROM s
      ORDER BY doc_id, chunk_id""",
    "q_text_quality_classifier" -> """
      WITH f AS (
        SELECT doc_id, n_chars, string_split(text, ' ') AS toks
        FROM documents),
      feat AS (
        SELECT doc_id,
               len(toks) AS n_tokens,
               CAST(len(list_filter(toks, t -> list_contains(
                 ['the', 'a', 'of', 'and', 'to', 'in'], t))) AS DOUBLE)
                 / len(toks) AS stop_r,
               CAST(len(list_filter(toks, t -> regexp_full_match(
                 t, '[a-z]+'))) AS DOUBLE) / len(toks) AS alpha_r,
               CAST(n_chars AS DOUBLE) / len(toks) AS avg_len
        FROM f),
      z AS (
        SELECT doc_id, n_tokens,
               -2.0 + (-3.0) * stop_r + 2.5 * alpha_r
                 + 0.5 * ln(CAST(n_tokens AS DOUBLE)) + 0.1 * avg_len AS z
        FROM feat)
      SELECT doc_id, CAST(n_tokens AS INT) AS n_tokens,
             floor((1.0 / (1.0 + exp(-z))) * 10000 + 0.5) / 10000 AS score,
             (z >= 0) AS kept
      FROM z
      ORDER BY doc_id""",
    "q_sample_dsir" -> """
      WITH tok AS (
        SELECT doc_id, lang, unnest(string_split(text, ' ')) AS term
        FROM documents),
      raw AS (SELECT term, count(*) AS craw FROM tok GROUP BY term),
      tgt AS (SELECT term, count(*) AS ctgt FROM tok
              WHERE lang = 'en' GROUP BY term),
      stats AS (SELECT CAST(sum(craw) AS DOUBLE) AS nraw,
                       CAST(count(*) AS DOUBLE) AS v FROM raw),
      nt AS (SELECT CAST(coalesce(sum(ctgt), 0) AS DOUBLE) AS ntgt FROM tgt),
      model AS (
        SELECT r.term,
               ln((coalesce(t.ctgt, 0) + 1) / (ntgt + v))
                 - ln((r.craw + 1) / (nraw + v)) AS logr
        FROM raw r LEFT JOIN tgt t USING (term)
        CROSS JOIN stats CROSS JOIN nt),
      scored AS (
        SELECT doc_id, count(*) AS n_tokens,
               floor(avg(logr) * 10000 + 0.5) / 10000 AS logw
        FROM tok JOIN model USING (term)
        GROUP BY doc_id)
      SELECT doc_id, n_tokens, logw
      FROM scored
      ORDER BY logw DESC, doc_id
      LIMIT 50""",
    "q_sample_stratified" -> """
      WITH b AS (
        SELECT doc_id, lang,
               ((strpos('0123456789abcdef', substring(hx, 1, 1)) - 1) * 4096 +
                (strpos('0123456789abcdef', substring(hx, 2, 1)) - 1) * 256 +
                (strpos('0123456789abcdef', substring(hx, 3, 1)) - 1) * 16 +
                (strpos('0123456789abcdef', substring(hx, 4, 1)) - 1)) % 10000
                 AS bucket
        FROM (SELECT doc_id, lang,
                     lower(substring(md5(CAST(doc_id AS VARCHAR)), 1, 4)) AS hx
              FROM documents))
      SELECT doc_id, lang FROM b
      WHERE bucket < CASE lang WHEN 'en' THEN 2500
                               WHEN 'de' THEN 5000
                               ELSE 10000 END
      ORDER BY doc_id""",
    "q_sample_mixture" -> """
      WITH d AS (
        SELECT doc_id, lang,
               len(string_split(text, ' ')) AS n_tokens,
               ((strpos('0123456789abcdef', substring(hx, 1, 1)) - 1) * 4096 +
                (strpos('0123456789abcdef', substring(hx, 2, 1)) - 1) * 256 +
                (strpos('0123456789abcdef', substring(hx, 3, 1)) - 1) * 16 +
                (strpos('0123456789abcdef', substring(hx, 4, 1)) - 1)) % 10000
                 AS bucket
        FROM (SELECT doc_id, lang, text,
                     lower(substring(md5(CAST(doc_id AS VARCHAR)), 1, 4)) AS hx
              FROM documents)),
      tot AS (SELECT lang, CAST(sum(n_tokens) AS BIGINT) AS tot
              FROM d GROUP BY lang),
      r AS (SELECT lang,
                   least(1.0, 10000.0 *
                     CASE lang WHEN 'de' THEN 0.15 WHEN 'en' THEN 0.35
                               WHEN 'es' THEN 0.15 WHEN 'fr' THEN 0.15
                               WHEN 'zh' THEN 0.20 ELSE 0.0 END
                     / tot) AS rate
            FROM tot),
      s AS (SELECT d.lang, d.n_tokens, r.rate
            FROM d JOIN r ON d.lang = r.lang
            WHERE d.bucket < r.rate * 10000)
      SELECT lang, count(*) AS n_docs,
             CAST(sum(n_tokens) AS BIGINT) AS kept_tokens,
             floor(rate * 10000 + 0.5) / 10000 AS rate
      FROM s
      GROUP BY lang, rate
      ORDER BY lang""",
    "q_sample_temperature" -> """
      WITH d AS (
        SELECT doc_id, lang,
               len(string_split(text, ' ')) AS n_tokens,
               ((strpos('0123456789abcdef', substring(hx, 1, 1)) - 1) * 4096 +
                (strpos('0123456789abcdef', substring(hx, 2, 1)) - 1) * 256 +
                (strpos('0123456789abcdef', substring(hx, 3, 1)) - 1) * 16 +
                (strpos('0123456789abcdef', substring(hx, 4, 1)) - 1)) % 10000
                 AS bucket
        FROM (SELECT doc_id, lang, text,
                     lower(substring(md5(CAST(doc_id AS VARCHAR)), 1, 4)) AS hx
              FROM documents)),
      tot AS (SELECT lang, CAST(sum(n_tokens) AS BIGINT) AS tot
              FROM d GROUP BY lang),
      nrm AS (SELECT sum(pow(tot, 0.5)) AS nn FROM tot),
      r AS (SELECT lang,
                   least(1.0, 20000.0 * pow(tot, 0.5) / nn / tot) AS rate
            FROM tot CROSS JOIN nrm),
      s AS (SELECT d.lang, d.n_tokens, r.rate
            FROM d JOIN r ON d.lang = r.lang
            WHERE d.bucket < r.rate * 10000)
      SELECT lang, count(*) AS n_docs,
             CAST(sum(n_tokens) AS BIGINT) AS kept_tokens,
             floor(rate * 10000 + 0.5) / 10000 AS rate
      FROM s
      GROUP BY lang, rate
      ORDER BY lang""",
    "q_text_vocab_sketch" -> """
      WITH tok AS (SELECT unnest(string_split(text, ' ')) AS term
                   FROM documents),
      c AS (SELECT term, count(*) AS cnt FROM tok GROUP BY term),
      top AS (SELECT term, cnt FROM c ORDER BY cnt DESC, term LIMIT 20)
      SELECT CAST(row_number() OVER (ORDER BY cnt DESC, term) AS INT)
               AS rank,
             term, cnt
      FROM top
      ORDER BY rank""",
    "q_text_vocab" -> """
      WITH tok AS (SELECT unnest(string_split(text, ' ')) AS term
                   FROM documents),
      c AS (SELECT term, count(*) AS cnt FROM tok GROUP BY term),
      t AS (SELECT count(*) AS total FROM tok),
      top AS (SELECT term, cnt FROM c ORDER BY cnt DESC, term LIMIT 50)
      SELECT CAST(row_number() OVER (ORDER BY cnt DESC, term) AS INT)
               AS rank,
             term, cnt,
             floor(CAST(sum(cnt) OVER (ORDER BY cnt DESC, term
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS DOUBLE) / total * 10000 + 0.5) / 10000 AS cum_share
      FROM top CROSS JOIN t
      ORDER BY rank""",
    "q_shuffle_shards" -> """
      WITH r AS (
        SELECT doc_id,
               md5(CAST(doc_id AS VARCHAR) || ':graft42') AS rkey
        FROM documents),
      s AS (
        SELECT doc_id, rkey,
               CAST(strpos('0123456789abcdef', substring(rkey, 32, 1)) - 1
                 AS BIGINT) AS shard
        FROM r)
      SELECT shard,
             CAST(row_number() OVER (PARTITION BY shard
               ORDER BY rkey, doc_id) AS BIGINT) AS pos,
             doc_id, rkey
      FROM s ORDER BY shard, pos""",
    "q_sample_hash_split" -> """
      WITH h AS (
        SELECT lang, n_chars,
               lower(substring(md5(CAST(doc_id AS VARCHAR)), 1, 4)) AS hx
        FROM documents),
      b AS (
        SELECT lang, n_chars,
               ((strpos('0123456789abcdef', substring(hx, 1, 1)) - 1) * 4096 +
                (strpos('0123456789abcdef', substring(hx, 2, 1)) - 1) * 256 +
                (strpos('0123456789abcdef', substring(hx, 3, 1)) - 1) * 16 +
                (strpos('0123456789abcdef', substring(hx, 4, 1)) - 1)) % 100
                 AS bucket
        FROM h)
      SELECT CASE WHEN bucket < 80 THEN 'train'
                  WHEN bucket < 90 THEN 'val'
                  ELSE 'test' END AS split,
             lang, count(*) AS n_docs,
             CAST(sum(n_chars) AS BIGINT) AS total_chars
      FROM b
      GROUP BY 1, 2
      ORDER BY split, lang""",
    "q_text_tokenize" -> """
      SELECT term, count(*) AS n, count(DISTINCT doc_id) AS n_docs
      FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS term
            FROM documents)
      GROUP BY term
      ORDER BY term""",
    "q_text_tokenize_pos" -> """
      SELECT doc_id, CAST(pos AS INT) AS pos, token FROM (
        SELECT doc_id, generate_subscripts(toks, 1) - 1 AS pos,
               unnest(toks) AS token
        FROM (SELECT doc_id, string_split(text, ' ') AS toks FROM documents))
      WHERE pos < 5
      ORDER BY doc_id, pos""",
    "q_text_tfidf" -> """
      WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS term
                   FROM documents),
      tf AS (SELECT doc_id, term, count(*) AS tf FROM tok GROUP BY doc_id, term),
      df AS (SELECT term, count(DISTINCT doc_id) AS df FROM tok GROUP BY term),
      n AS (SELECT count(*) AS n FROM documents),
      scored AS (
        SELECT doc_id, term, round(tf * ln(CAST(n AS DOUBLE) / df), 4) AS tfidf
        FROM tf JOIN df USING (term) CROSS JOIN n),
      ranked AS (
        SELECT *, row_number() OVER (PARTITION BY doc_id
                    ORDER BY tfidf DESC, term) AS rn
        FROM scored)
      SELECT doc_id, term, tfidf, CAST(rn AS INT) AS rn
      FROM ranked WHERE rn <= 3
      ORDER BY doc_id, rn""",
    "q_text_lang_stats" -> """
      SELECT lang, count(*) AS n_docs, count(DISTINCT source) AS n_sources,
             floor(avg(n_chars) * 10000 + 0.5) / 10000 AS avg_chars,
             floor(avg(len(string_split(text, ' '))) * 10000 + 0.5) / 10000
               AS avg_tokens,
             CAST(sum(n_chars) AS BIGINT) AS total_chars
      FROM documents
      GROUP BY lang
      ORDER BY lang""",
    "q_text_langid" -> """
      WITH tok AS (SELECT doc_id, lang, unnest(string_split(text, ' ')) AS term
                   FROM documents),
      profile AS (
        SELECT lang AS p_lang, term FROM (
          SELECT lang, term, count(*) AS cnt,
                 row_number() OVER (PARTITION BY lang
                   ORDER BY count(*) DESC, term) AS rn
          FROM tok GROUP BY lang, term)
        WHERE rn <= 10),
      doc_terms AS (SELECT DISTINCT doc_id, term FROM tok),
      scores AS (
        SELECT doc_id, p_lang, count(*) AS score
        FROM doc_terms JOIN profile USING (term)
        GROUP BY doc_id, p_lang),
      best AS (
        SELECT doc_id, p_lang, score,
               row_number() OVER (PARTITION BY doc_id
                 ORDER BY score DESC, p_lang) AS rn
        FROM scores)
      SELECT d.doc_id, d.lang AS actual, b.p_lang AS predicted, b.score
      FROM documents d JOIN best b ON d.doc_id = b.doc_id AND b.rn = 1
      ORDER BY d.doc_id""",
    "q_text_quality" -> """
      WITH q AS (
        SELECT doc_id, n_chars, string_split(text, ' ') AS toks
        FROM documents)
      SELECT doc_id, n_chars,
             CAST(len(toks) AS INT) AS n_tokens,
             round(CAST(n_chars AS DOUBLE) / len(toks), 4) AS avg_token_len,
             round(CAST(len(list_filter(toks, t -> list_contains(
               ['the', 'a', 'of', 'and', 'to', 'in'], t))) AS DOUBLE)
               / len(toks), 4) AS stopword_ratio,
             round(CAST(len(list_filter(toks, t -> regexp_full_match(
               t, '[a-z]+'))) AS DOUBLE) / len(toks), 4) AS alpha_ratio,
             round(
               (CAST(len(list_filter(toks, t -> regexp_full_match(
                  t, '[a-z]+'))) AS DOUBLE) / len(toks)) *
               (1.0 - CAST(len(list_filter(toks, t -> list_contains(
                  ['the', 'a', 'of', 'and', 'to', 'in'], t))) AS DOUBLE)
                  / len(toks)) *
               least(CAST(len(toks) AS DOUBLE) / 50.0, 1.0), 4) AS quality
      FROM q
      ORDER BY doc_id""",
    "q_text_token_count" -> """
      SELECT doc_id,
             CAST(len(string_split(text, ' ')) AS INT) AS n_ws_tokens,
             list_reduce(list_prepend(CAST(0 AS BIGINT),
               list_transform(string_split(text, ' '),
                 t -> CAST(ceil(length(t) / 4.0) AS BIGINT))),
               (acc, c) -> acc + c) AS n_bpe_pieces
      FROM documents
      ORDER BY doc_id""",
    "q_text_split_coverage" -> """
      WITH d0 AS (
        SELECT doc_id, lang, string_split(text, ' ') AS t,
               ((strpos('0123456789abcdef', substring(lower(md5(
                   CAST(doc_id AS VARCHAR))), 1, 1)) - 1) * 4096 +
                (strpos('0123456789abcdef', substring(lower(md5(
                   CAST(doc_id AS VARCHAR))), 2, 1)) - 1) * 256 +
                (strpos('0123456789abcdef', substring(lower(md5(
                   CAST(doc_id AS VARCHAR))), 3, 1)) - 1) * 16 +
                (strpos('0123456789abcdef', substring(lower(md5(
                   CAST(doc_id AS VARCHAR))), 4, 1)) - 1)) % 100 AS bucket
        FROM documents),
      s AS (
        SELECT lang, t,
               CASE WHEN bucket < 80 THEN 'train'
                    WHEN bucket < 90 THEN 'val'
                    ELSE 'test' END AS split
        FROM d0),
      inst AS (
        SELECT DISTINCT lang, split,
               md5(array_to_string(t[i:i+2], ' ')) AS g
        FROM (SELECT lang, split, t,
                     unnest(range(1, len(t) - 1)) AS i
              FROM s WHERE len(t) >= 3)),
      tr AS (SELECT lang, g FROM inst WHERE split = 'train'),
      te AS (SELECT lang, g FROM inst WHERE split = 'test')
      SELECT te.lang, count(*) AS n_test_grams,
             CAST(sum(CASE WHEN tr.g IS NOT NULL THEN 1 ELSE 0 END)
               AS BIGINT) AS n_covered,
             floor(CAST(sum(CASE WHEN tr.g IS NOT NULL
                                 THEN 1 ELSE 0 END) AS DOUBLE)
                   / CAST(count(*) AS DOUBLE) * 10000 + 0.5) / 10000
               AS coverage
      FROM te LEFT JOIN tr ON te.lang = tr.lang AND te.g = tr.g
      GROUP BY te.lang
      ORDER BY te.lang""",
    "q_text_boilerplate" -> """
      WITH p AS (
        SELECT doc_id,
               array_to_string(string_split(text, ' ')[1:16], ' ')
                 AS prefix
        FROM documents),
      g AS (
        SELECT prefix, count(*) AS n_docs,
               CAST(min(doc_id) AS BIGINT) AS min_doc
        FROM p GROUP BY prefix HAVING count(*) >= 2)
      SELECT prefix, n_docs, min_doc
      FROM g ORDER BY n_docs DESC, prefix LIMIT 50""",
    "q_text_fingerprint" -> """
      SELECT doc_id,
             list_reduce(list_prepend(CAST(0 AS BIGINT),
               list_transform(string_split(text, ' '),
                 t -> CAST(unicode(substring(t, 1, 1)) * 31
                   + length(t) AS BIGINT))),
               (acc, c) -> (acc * 131 + c) % 1000000007) AS fingerprint
      FROM documents
      ORDER BY doc_id""",
  )
}
