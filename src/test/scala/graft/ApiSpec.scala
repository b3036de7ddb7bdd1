package graft

import scala.jdk.CollectionConverters._
import graft.api.ops._
import org.apache.spark.sql.functions._

/** The public DataFrame-level API ([[graft.api.ops]]) on schemas that
  * are NOT the driver testdata — proof the operators are table-agnostic
  * library surface, not query-shaped one-offs.
  */
class ApiSpec extends SparkSpec {

  test("dedupExact groups arbitrary content columns") {
    import spark.implicits._
    val df = Seq((1L, "aa"), (2L, "bb"), (3L, "aa"), (4L, "aa"))
      .toDF("id", "payload")
    val out = df.dedupExact(col("id"), col("payload"))
      .orderBy("doc_id").collect()
    assert(out.map(r => (r.getLong(0), r.getLong(1))).toSeq ===
      Seq((1L, 3L), (2L, 1L)))
  }

  test("minhashDedupFlags flags an exact clone on a custom schema") {
    import spark.implicits._
    val df = Seq(
      (10L, Seq("x", "y", "z", "w")),
      (20L, Seq("x", "y", "z", "w")),          // clone of 10
      (30L, Seq("p", "q", "r", "s"))
    ).toDF("k", "toks")
    val out = df.minhashDedupFlags(col("k"), col("toks"), threshold = 0.9)
      .orderBy("doc_id").collect()
    assert(out.map(r => (r.getLong(0), r.getBoolean(1))).toSeq ===
      Seq((10L, false), (20L, true), (30L, false)))
  }

  test("jaccardPairs finds the overlapping pair within its block") {
    import spark.implicits._
    val df = Seq(
      (1L, "b1", Seq("a", "b", "c", "d", "e")),
      (2L, "b1", Seq("a", "b", "c", "d", "f")),  // j = 4/6 ≈ 0.667
      (3L, "b2", Seq("a", "b", "c", "d", "e"))   // other block
    ).toDF("id", "blk", "toks")
    val out = df.jaccardPairs(col("id"), col("toks"), col("blk"), 0.6)
      .collect()
    assert(out.length === 1)
    assert((out.head.getLong(0), out.head.getLong(1)) === (1L, 2L))
  }

  test("jaccardPairs df-cut bounds candidates from a planted hot token") {
    import spark.implicits._
    // 50 docs share ONLY the hot token "the" (a quadratic candidate
    // bomb without the cut); one true dup pair shares real content.
    val docs = (1L to 50L).map(i => (i, "b", Seq("the", s"u$i", s"v$i"))) ++
      Seq((100L, "b", Seq("the", "x", "y", "z")),
          (101L, "b", Seq("the", "x", "y", "z")))
    val df = docs.toDF("id", "blk", "toks")
    val out = df.jaccardPairs(col("id"), col("toks"), col("blk"),
      threshold = 0.5, maxDf = 10).collect()
    // Hot token df = 52 > 10 → cut: hot-only pairs never become
    // candidates; the dup pair's jaccard is the kept-token lower bound
    // 3/(4+4-3) = 0.6 instead of 1.0.
    assert(out.map(r => (r.getLong(0), r.getLong(1))).toSeq ===
      Seq((100L, 101L)))
    assert(math.abs(out.head.getAs[Double]("jaccard") - 0.6) < 1e-9)
  }

  test("jaccardPairs withCutCounts tells exact from lower-bound pairs") {
    import spark.implicits._
    // Same planted-hot-token corpus as above: under the df cut, the
    // surviving dup pair's jaccard is a LOWER BOUND (the shared hot
    // token was cut from both docs) — n_cut_tokens = 2 says so; with
    // no cut active the same pair reports 0 (exact).
    val docs = (1L to 50L).map(i => (i, "b", Seq("the", s"u$i", s"v$i"))) ++
      Seq((100L, "b", Seq("the", "x", "y", "z")),
          (101L, "b", Seq("the", "x", "y", "z")))
    val df = docs.toDF("id", "blk", "toks")
    val cut = df.jaccardPairs(col("id"), col("toks"), col("blk"),
      threshold = 0.5, maxDf = 10, withCutCounts = true).collect()
    assert(cut.length === 1)
    assert(cut.head.getAs[Long]("n_cut_tokens") === 2L)
    val exact = df.jaccardPairs(col("id"), col("toks"), col("blk"),
      threshold = 0.5, withCutCounts = true).collect()
    assert(exact.length === 1)
    assert(exact.head.getAs[Long]("n_cut_tokens") === 0L)
    assert(math.abs(exact.head.getAs[Double]("jaccard") - 1.0) < 1e-9)
  }

  test("packSequencesSharded partition count scales with the shard count") {
    import org.apache.spark.sql.functions.sum
    // The round-3 scale flag: a lang-only window packs the whole corpus
    // on one reducer per language. Sharding must multiply the window
    // partition count while preserving the packed totals exactly.
    val p1 = graft.operators.TextAnalysis.packSequencesSharded(1)(spark, sfDir)
    val p4 = graft.operators.TextAnalysis.packSequencesSharded(4)(spark, sfDir)
    val g1 = p1.select("lang", "shard").distinct().count()
    val g4 = p4.select("lang", "shard").distinct().count()
    assert(g1 > 0 && g4 > g1 && g4 <= g1 * 4,
      s"window partitions: 1 shard -> $g1 groups, 4 shards -> $g4")
    val t1 = p1.agg(sum("n_docs"), sum("n_tokens_total")).head
    val t4 = p4.agg(sum("n_docs"), sum("n_tokens_total")).head
    assert(t1 === t4, "sharding must not change what gets packed")
  }

  test("simhash64 + simhashPairs pairs identical token sets at hamming 0") {
    import spark.implicits._
    val df = Seq(
      (1L, Seq("m", "n", "o")),
      (2L, Seq("m", "n", "o")),
      (3L, Seq("completely", "different", "words", "here"))
    ).toDF("id", "toks")
    val pairs = df.simhash64(col("id"), col("toks"))
      .simhashPairs(maxHamming = 0).collect()
    assert(pairs.map(r => (r.getLong(0), r.getLong(1))).toSet === Set((1L, 2L)))
  }

  test("cosineTopK ranks an identical vector first") {
    import spark.implicits._
    val df = Seq(
      (1L, Seq(1.0, 0.0, 0.0)),
      (2L, Seq(0.0, 1.0, 0.0)),
      (3L, Seq(0.9, 0.1, 0.0))
    ).toDF("id", "v")
    val out = df.cosineTopK(col("id"), col("v"), Seq(1.0, 0.0, 0.0), 2)
      .collect()
    assert(out.head.getLong(0) === 1L)
    assert(math.abs(out.head.getDouble(1) - 1.0) < 1e-9)
    assert(out(1).getLong(0) === 3L)
  }

  test("withSignLshBucket is deterministic and equal for equal vectors") {
    import spark.implicits._
    val planes = Seq(Seq(0.5, -0.25, 0.1), Seq(-0.3, 0.4, 0.2))
    val df = Seq((1L, Seq(1.0, 2.0, 3.0)), (2L, Seq(1.0, 2.0, 3.0)))
      .toDF("id", "v")
    val buckets = df.withSignLshBucket(col("v"), planes)
      .select("bucket").collect().map(_.getInt(0))
    assert(buckets(0) === buckets(1))
    assert(buckets(0) >= 0 && buckets(0) < 4)
  }

  test("centroidPerKey averages elementwise on any key type") {
    import spark.implicits._
    val df = Seq(
      ("a", Seq(1.0f, 3.0f)), ("a", Seq(3.0f, 5.0f)), ("b", Seq(7.0f, 9.0f))
    ).toDF("g", "v")
    val out = df.centroidPerKey(col("g"), col("v"))
      .orderBy("key").collect()
    assert(out(0).getSeq[Double](1) === Seq(2.0, 4.0))
    assert(out(1).getSeq[Double](1) === Seq(7.0, 9.0))
  }

  test("tfidfTopTerms surfaces the distinguishing term first") {
    import spark.implicits._
    val df = Seq(
      (1L, Seq("shared", "shared", "rare")),
      (2L, Seq("shared", "common")),
      (3L, Seq("shared", "common"))
    ).toDF("id", "toks")
    val top1 = df.tfidfTopTerms(col("id"), col("toks"), k = 1)
      .filter(col("doc_id") === 1L).collect()
    assert(top1.head.getAs[String]("term") === "rare")
  }

  test("languageId recovers the label from disjoint vocabularies") {
    import spark.implicits._
    val df = Seq(
      (1L, "aa", Seq("foo", "bar", "baz")),
      (2L, "aa", Seq("foo", "bar", "qux")),
      (3L, "bb", Seq("uno", "dos", "tres")),
      (4L, "bb", Seq("uno", "dos", "cuatro"))
    ).toDF("id", "lbl", "toks")
    val pred = df.languageId(col("id"), col("toks"), col("lbl"))
      .orderBy("doc_id").collect()
    assert(pred.map(_.getString(1)).toSeq === Seq("aa", "aa", "bb", "bb"))
  }

  test("qualityScores computes ratios on a custom schema") {
    import spark.implicits._
    val df = Seq((1L, 20L, Seq("the", "quick", "fox", "the")))
      .toDF("id", "nc", "toks")
    val r = df.qualityScores(col("id"), col("toks"), col("nc"),
      stopwords = Seq("the")).head
    assert(r.getAs[Int]("n_tokens") === 4)
    assert(math.abs(r.getAs[Double]("stopword_ratio") - 0.5) < 1e-9)
    assert(math.abs(r.getAs[Double]("alpha_ratio") - 1.0) < 1e-9)
    assert(math.abs(r.getAs[Double]("avg_token_len") - 5.0) < 1e-9)
  }

  test("withHashSplit is deterministic, exhaustive, and roughly proportional") {
    import spark.implicits._
    val df = (1L to 2000L).toDF("id")
    val a = df.withHashSplit(col("id")).groupBy("split").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val b = df.orderBy(col("id").desc).withHashSplit(col("id"))
      .groupBy("split").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(a === b)                      // order/partitioning-independent
    assert(a.values.sum === 2000L)       // every row assigned
    assert(a("train") > 1400 && a("train") < 1800)  // ~80%
    assert(a("val") > 100 && a("val") < 300)        // ~10%
    assert(a("test") > 100 && a("test") < 300)      // ~10%
  }

  test("saltedJoin equals the plain join on a skewed key distribution") {
    import spark.implicits._
    // 10k rows of one hot key + a tail, joined to a small dim.
    val probe = ((1 to 10000).map(_ => 1) ++ (1 to 100).map(i => i % 7 + 2))
      .toDF("k")
    val dim = (1 to 10).map(k => (k, s"v$k")).toDF("k", "payload")
    val plain = probe.join(dim, "k")
    val salted = probe.saltedJoin(dim, "k", salt = 8)
    assert(salted.count() === plain.count())
    assert(salted.groupBy("k").count().orderBy("k").collect().toSeq ===
      plain.groupBy("k").count().orderBy("k").collect().toSeq)
  }

  test("mergeUpsert updates matched, inserts new, keeps untouched rows") {
    import spark.implicits._
    val target = Seq((1L, "a", 10L), (2L, "b", 20L), (3L, "c", 30L))
      .toDF("k", "s", "v")
    // Update k=2 (with a legit NULL value — must NOT fall back to the
    // target's 20), insert k=9.
    val source = Seq((2L, "B", Option.empty[Long]), (9L, "n", Some(90L)))
      .toDF("k", "s", "v")
    val out = target.mergeUpsert(source, "k").orderBy("k").collect()
    assert(out.map(_.getLong(0)).toSeq === Seq(1L, 2L, 3L, 9L))
    val r2 = out(1)
    assert(r2.getString(1) === "B" && r2.isNullAt(2),
      "matched row must take ALL source columns, including NULLs")
    assert(out(0).getString(1) === "a" && out(2).getString(1) === "c")
    assert(out(3).getString(1) === "n" && out(3).getLong(2) === 90L)
  }

  test("connectedComponents merges chains to the min id per cluster") {
    import spark.implicits._
    // Chain 1-2-3-4 (1~2, 2~3, 3~4 but 1 NOT pairwise-similar to 4),
    // triangle 10-11-12, separate pair 20-21. A pairwise keep/discard
    // would mishandle the chain; components must label all of 1..4
    // with 1.
    val pairs = Seq((1L, 2L), (2L, 3L), (3L, 4L), (10L, 11L),
      (11L, 12L), (10L, 12L), (21L, 20L)).toDF("d1", "d2")
    val comp = pairs.connectedComponents("d1", "d2")
      .orderBy("id").collect().map(r => r.getLong(0) -> r.getLong(1))
    assert(comp.toSeq === Seq(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L,
      10L -> 10L, 11L -> 10L, 12L -> 10L, 20L -> 20L, 21L -> 20L))
  }

  test("pins follow the session's checkpoint dir") {
    import spark.implicits._
    import org.apache.spark.sql.execution.LogicalRDD
    // Durability is the session's, never the op's: with no checkpoint
    // dir every pin is a memory-backed localCheckpoint (a lost executor
    // kills a 100 TB job mid-propagation); once sc.setCheckpointDir is
    // set, every pin — an iterative op's rounds, a pinKeyed spine and
    // globalRowNumber's id pin alike — is a fault-tolerant checkpoint()
    // under that dir. Same labels and row numbers either way.
    val pairs = Seq((1L, 2L), (2L, 3L), (3L, 4L), (10L, 11L))
      .toDF("d1", "d2")
    val expected = Seq(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L,
      10L -> 10L, 11L -> 10L)
    def labels() = pairs.connectedComponents("d1", "d2")
      .orderBy("id").collect().map(r => r.getLong(0) -> r.getLong(1)).toSeq
    def pinFile(pin: org.apache.spark.sql.DataFrame) =
      pin.queryExecution.analyzed match {
        case l: LogicalRDD => l.rdd.getCheckpointFile
        case p => fail(s"no pinned scan: $p")
      }
    def keyedPinFile() = pinFile(pinKeyed(pairs, col("d1")))
    def rowNumbers() = pairs.globalRowNumber(Seq(col("d1"), col("d2")), "rn")
    val expectedRn = Seq((1L, 2L, 1L), (2L, 3L, 2L), (3L, 4L, 3L),
      (10L, 11L, 4L))
    def rn() = rowNumbers().orderBy("rn").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    def rowNumberPinFile() = rowNumbers().queryExecution.analyzed
      .collectFirst { case l: LogicalRDD => l.rdd.getCheckpointFile }
      .getOrElse(fail("globalRowNumber has no pinned scan"))
    val sc = spark.sparkContext
    assert(sc.getCheckpointDir.isEmpty)
    val dir = java.nio.file.Files.createTempDirectory("graft-pins")
    def written() = java.nio.file.Files.walk(dir).count() - 1 // minus dir
    try {
      assert(labels() === expected)
      assert(keyedPinFile().isEmpty, "a pin without a dir has a file")
      assert(rn() === expectedRn)
      assert(rowNumberPinFile().isEmpty, "a pin without a dir has a file")
      assert(written() === 0)
      sc.setCheckpointDir(dir.toString)
      assert(labels() === expected)
      assert(written() > 1,
        "checkpoint dir is empty — the op's pins did not land there")
      val f = keyedPinFile()
      assert(f.exists(_.contains(dir.getFileName.toString)),
        s"pinKeyed pin is not under the checkpoint dir: $f")
      assert(rn() === expectedRn)
      val g = rowNumberPinFile()
      assert(g.exists(_.contains(dir.getFileName.toString)),
        s"globalRowNumber pin is not under the checkpoint dir: $g")
      // A checkpoint() pin holds no blocks, so its true size is the
      // summed length of its part files — not Long.MaxValue.
      val big = pinLineage(spark.range(200000).toDF("id")
        .withColumn("v", col("id") * 3))
      val parts = new java.io.File(new org.apache.hadoop.fs.Path(
          pinFile(big).get).toUri.getPath)
        .listFiles().filter(_.getName.startsWith("part-"))
      assert(parts.nonEmpty)
      assert(big.queryExecution.optimizedPlan.stats.sizeInBytes ===
        BigInt(parts.map(_.length).sum))
      // A query's pins live as long as its scope: once runQuery closes
      // the query's fork, none of their checkpoint dirs remain.
      def rddDirs() = {
        val w = java.nio.file.Files.walk(dir)
        try w.iterator().asScala.filter(_.getFileName.toString
          .startsWith("rdd-")).toSet
        finally w.close()
      }
      val prior = rddDirs()
      var made = Set.empty[java.nio.file.Path]
      val (_, err) = GraftSession.runQuery(
          SparkEntry.queries("q_graph_kcore")(spark, sfDir)) { df =>
        made = rddDirs() -- prior
        df.count()
      }
      assert(err.isEmpty, s"q_graph_kcore failed: $err")
      assert(made.nonEmpty, "the query pinned nothing under the dir")
      assert((rddDirs() intersect made).isEmpty,
        "pin checkpoint dirs outlived the query's scope")
    } finally {
      sc.setCheckpointDir(null)
      java.nio.file.Files.walk(dir).sorted(java.util.Comparator.reverseOrder())
        .forEach(p => java.nio.file.Files.delete(p))
    }
  }

  test("semanticDecontaminate + vocabSketch run on a foreign schema") {
    import spark.implicits._
    import graft.api.ops._
    // Planted leak: row 10 is the eval vector; row 1 is its exact copy
    // (cos=1), rows 2-3 are orthogonal-ish. Any-schema contract: no
    // doc_id/vec_id column names required.
    val rows = Seq(
      (10L, Array(1.0, 0.0, 0.0), true),
      (1L, Array(1.0, 0.0, 0.0), false),
      (2L, Array(0.0, 1.0, 0.0), false),
      (3L, Array(0.0, 0.0, 1.0), false)
    ).toDF("rid", "v", "ev")
    val out = rows.semanticDecontaminate(col("rid"), col("v"), col("ev"),
        tau = 0.9)
      .collect().map(r => r.getLong(0) ->
        (r.getDouble(1), r.getBoolean(2))).toMap
    assert(out.keySet === Set(1L, 2L, 3L)) // eval row excluded
    assert(out(1L) === ((1.0, true)), s"clone must flag: $out")
    assert(!out(2L)._2 && !out(3L)._2, s"orthogonal must not flag: $out")
    // vocabSketch at k >= vocab reproduces exact counts on any column.
    val terms = Seq("x", "x", "y").toDF("t")
      .vocabSketch(col("t"), k = 8)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(terms === Map("x" -> 2L, "y" -> 1L))
  }

  test("tokenBudgetMixture: nested budgets, determinism, share-0 drops") {
    import graft.api.ops._
    val docs = Tables(spark, sfDir, "documents")
      .withColumn("n_tokens", size(split(col("text"), " ")))
    def kept(budget: Long): Set[Long] =
      docs.tokenBudgetMixture(col("doc_id"), col("lang"), col("n_tokens"),
          Map("en" -> 1.0), budget)
        .select("doc_id").collect().map(_.getLong(0)).toSet
    val k2 = kept(2000)
    val k4 = kept(4000)
    assert(k2.nonEmpty && k2.size < k4.size,
      s"budget must scale the sample: ${k2.size} vs ${k4.size}")
    // Raising the budget only ADDS rows (md5-bucket nesting) — the
    // ablation property: the 2k-token corpus is a subset of the 4k one.
    assert(k2.subsetOf(k4), s"${(k2 -- k4).size} rows lost at higher budget")
    assert(kept(2000) === k2) // content-stable, no RNG drift
    // Strata without a share are dropped, not passed through.
    assert(docs.tokenBudgetMixture(col("doc_id"), col("lang"),
        col("n_tokens"), Map("en" -> 1.0), 4000)
      .filter(col("lang") =!= "en").count() === 0L)
  }

  test("stratifiedHashSample: nested samples, exact strata, no RNG drift") {
    import graft.api.ops._
    val docs = Tables(spark, sfDir, "documents")
    def keep(rate: Double): Set[Long] =
      docs.stratifiedHashSample(col("doc_id"), col("lang"),
          Map("en" -> rate), default = 1.0)
        .filter(col("lang") === "en")
        .select("doc_id").collect().map(_.getLong(0)).toSet
    val k25 = keep(0.25)
    val k50 = keep(0.50)
    // Nested-sample property the scaladoc promises: a row kept at a
    // lower rate stays kept at every higher rate (ablation subsets).
    assert(k25.subsetOf(k50), s"${(k25 -- k50).size} rows lost at 50%")
    // Determinism: same call, same rows (no RNG).
    assert(keep(0.25) === k25)
    // Non-'en' strata pass through untouched at default rate 1.0.
    val others = docs.filter(col("lang") =!= "en").count()
    val sampled = docs.stratifiedHashSample(col("doc_id"), col("lang"),
      Map("en" -> 0.25), default = 1.0)
    assert(sampled.filter(col("lang") =!= "en").count() === others)
  }

  test("int8Quantize: reconstruction error bounded by scale * sqrt(dim)/2") {
    import graft.api.ops._
    // Per element |v - q*scale| <= scale/2 (round-half-up), so
    // err_l2 <= scale * sqrt(dim) / 2 — the quantizer's contract.
    val e = Tables(spark, sfDir, "embeddings")
      .withColumn("emb", transform(col("embedding"), _.cast("double")))
    val bad = e.int8Quantize(col("vec_id"), col("emb"))
      .filter(col("err_l2") > col("scale") * math.sqrt(64) / 2 + 1e-4)
      .count()
    assert(bad === 0, s"$bad vectors exceed the quantization error bound")
  }

  test("Observation collects data-quality counters without a second pass") {
    import org.apache.spark.sql.Observation
    // The production pattern for pipeline health metrics: row counts /
    // null counts / extremes observed DURING the query, no extra scan.
    val obs = Observation("dq")
    val out = Tables(spark, sfDir, "orders")
      .observe(obs, count(lit(1)).as("rows"),
        sum(col("o_custkey").isNull.cast("long")).as("null_keys"),
        max(col("o_totalprice")).as("max_price"))
      .filter(col("o_orderstatus") === "F")
    val kept = out.count()
    val m = obs.get
    assert(m("rows").asInstanceOf[Long] > kept,
      "observe must see pre-filter rows")
    assert(m("null_keys").asInstanceOf[Long] === 0L)
    assert(m("max_price").asInstanceOf[Double] > 0)
  }

  test("connectedComponents raises loudly when maxIter is too small") {
    import spark.implicits._
    // A 6-chain needs ~5 propagation rounds; maxIter=2 must raise, not
    // return a silently half-merged labeling. The cap guards the
    // distributed rounds, so they run with the broadcast bound off: a
    // graph this small otherwise finishes in one task, by union-find,
    // which needs no rounds.
    val chain = (1L to 5L).map(i => (i, i + 1)).toDF("d1", "d2")
    val ex = intercept[IllegalArgumentException] {
      GraftSession.withConf(spark, "spark.sql.autoBroadcastJoinThreshold" -> "-1") {
        chain.connectedComponents("d1", "d2", maxIter = 2)
      }
    }
    assert(ex.getMessage.contains("not converged"))
  }

  test("the distributed rounds probe convergence on their pin jobs") {
    import spark.implicits._
    import java.util.concurrent.{ConcurrentLinkedQueue, CountDownLatch, TimeUnit}
    import java.util.concurrent.atomic.AtomicInteger
    import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent, SparkListenerJobStart}
    import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
    // A 6-chain and a triangle: every op runs several rounds.
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L), (5L, 6L),
      (10L, 11L), (11L, 12L), (12L, 10L)).toDF("a", "b")
    val comp = (1L to 6L).map(_ -> 1L).toMap ++ (10L to 12L).map(_ -> 10L)
    // A 4-hop path: bfsHops' fifth frontier is empty, 45 hops early.
    val path = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L)).toDF("a", "b")
    val sc = spark.sparkContext
    // The actions `body` runs, by the call site Spark names each SQL
    // execution after ("pin at …", "isEmpty at …"), and the number of
    // jobs it starts. Under AQE the final stage of a collecting action
    // runs on a pool thread and takes that thread's name, so the
    // action is read from its execution, not its stages. Bus delivery
    // is ordered: once a marker job submitted after `body` has been
    // seen, so has everything `body` started.
    def actionsOf[T](body: => T): (T, List[String], Int) = {
      val actions = new ConcurrentLinkedQueue[String]()
      val jobs = new AtomicInteger()
      val marker = new CountDownLatch(1)
      val listener = new SparkListener {
        override def onJobStart(j: SparkListenerJobStart): Unit =
          if (Option(j.properties).exists(_.getProperty("graft.test.marker") != null))
            marker.countDown()
          else jobs.incrementAndGet()
        override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
          case x: SparkListenerSQLExecutionStart => actions.add(x.description)
          case _ =>
        }
      }
      sc.addSparkListener(listener)
      try {
        val out = body
        sc.setLocalProperty("graft.test.marker", "end")
        try sc.parallelize(Seq(1), 1).count()
        finally sc.setLocalProperty("graft.test.marker", null)
        assert(marker.await(30, TimeUnit.SECONDS), "listener bus did not drain")
        (out, actions.asScala.toList, jobs.get)
      } finally sc.removeSparkListener(listener)
    }
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val cases = Seq[(String, () => Map[Long, Long], Map[Long, Long])](
      ("connectedComponents", () => rows(edges.connectedComponents("a", "b")), comp),
      ("connectedComponentsStar", () => rows(edges.connectedComponentsStar("a", "b")), comp),
      ("kCore", () => rows(edges.kCore("a", "b", k = 2)),
        Map(10L -> 2L, 11L -> 2L, 12L -> 2L)),
      ("bfsHops", () => rows(path.bfsHops("a", "b", seed = 1L, maxHops = 50)),
        (1L to 5L).map(v => v -> (v - 1L)).toMap))
    for ((name, run, expect) <- cases) {
      val (dist, actions, distJobs) = actionsOf(GraftSession.withConf(spark,
        "spark.sql.autoBroadcastJoinThreshold" -> "-1")(run()))
      assert(dist === expect, name)
      assert(actions.count(_.startsWith("pin at")) > 3, s"$name ran no rounds: $actions")
      assert(!actions.exists(_.startsWith("count at")), s"$name: $actions")
      // bfsHops: the edge pin, then a frontier and a dist pin per hop
      // up to the 5th frontier, which is empty and ends the rounds.
      if (name == "bfsHops")
        assert(actions.count(_.startsWith("pin at")) <= 1 + 2 * 4 + 1,
          s"$name ran past its empty frontier: $actions")
      // Only the star form may confirm a signature match exactly, once.
      val confirmations = actions.count(_.startsWith("isEmpty at"))
      assert(confirmations <= (if (name == "connectedComponentsStar") 1 else 0),
        s"$name: $actions")
      // With the bound on, the same graph finishes in one task.
      val (one, _, oneJobs) = actionsOf(run())
      assert(one === expect, name)
      assert(oneJobs < distJobs,
        s"$name: $oneJobs jobs on the one-task path, $distJobs distributed")
    }
    // The fixed-iteration ops run no convergence probe; with the bound
    // on they too finish in one task, in fewer jobs, with the same
    // ranks (within 1e-9: float sums follow the partitioning) and
    // labels (whole numbers, so within 1e-9 is equal).
    val fixed = Seq[(String, () => Map[Long, Double])](
      ("pageRank", () => edges.pageRank("a", "b", iters = 3).collect()
        .map(r => r.getLong(0) -> r.getDouble(1)).toMap),
      ("labelPropagation", () => rows(edges.labelPropagation("a", "b", iters = 2))
        .map { case (id, l) => id -> l.toDouble }))
    for ((name, run) <- fixed) {
      val (dist, _, distJobs) = actionsOf(GraftSession.withConf(spark,
        "spark.sql.autoBroadcastJoinThreshold" -> "-1")(run()))
      val (one, _, oneJobs) = actionsOf(run())
      assert(one.keySet === dist.keySet, name)
      for ((id, x) <- dist) assert(math.abs(one(id) - x) <= 1e-9, s"$name id=$id")
      assert(oneJobs < distJobs,
        s"$name: $oneJobs jobs on the one-task path, $distJobs distributed")
    }
  }

  test("mergeUpsert fails loudly on a NULL merge key in the source") {
    import spark.implicits._
    val target = Seq((1L, 10L)).toDF("k", "v")
    val source = Seq((Some(2L), 20L), (Option.empty[Long], 99L)).toDF("k", "v")
    // Without the in-plan guard the NULL-key row would be unmatched on
    // both join sides and silently emit an all-NULL output row.
    val ex = intercept[Exception] {
      target.mergeUpsert(source, "k").collect()
    }
    assert(ex.getMessage.contains("NULL merge key"))
  }

  test("signPrefixBlock: NULL vector -> NULL block; short vector raises") {
    import spark.implicits._
    val df = Seq((1L, Some(Seq(1.0, -2.0, 3.0, 4.0))), (2L, None))
      .toDF("id", "emb")
    val out = df.select(col("id"), signPrefixBlock(col("emb"), 4).as("blk"))
      .orderBy("id").collect()
    assert(out(0).getLong(1) === 0xBL) // signs + - + + = 1011
    assert(out(1).isNullAt(1), "NULL vector must propagate, not raise")
    val ex = intercept[Exception] {
      df.na.drop().select(signPrefixBlock(col("emb"), 8)).collect()
    }
    assert(ex.getMessage.contains("shorter than 8 dims"))
  }

  test("scd2Merge closes changed, inserts new, no-ops identical (NULL-safe)") {
    import spark.implicits._
    val dim = Seq(
      (1L, Some("a"), "2020-01-01", Option.empty[String], true),
      (1L, Some("old"), "2010-01-01", Some("2020-01-01"), false), // history
      (2L, Some("b"), "2020-01-01", Option.empty[String], true),
      (3L, Option.empty[String], "2020-01-01", Option.empty[String], true))
      .toDF("k", "attr", "valid_from", "valid_to", "is_current")
    val ch = Seq(
      (1L, Some("a2"), "2021-01-01"),   // differs -> close + open
      (3L, Option.empty[String], "2021-01-01"), // identical (NULL attr) -> no-op
      (9L, Some("n"), "2021-01-01"))    // new key -> insert
      .toDF("k", "attr", "ts")
    val out = dim.scd2Merge(ch, "k", "ts")
      .orderBy("k", "valid_from")
      .collect().map(r => (r.getLong(0), Option(r.getString(1)),
        r.getString(2), Option(r.getString(3)), r.getBoolean(4)))
    assert(out.toSeq === Seq(
      (1L, Some("old"), "2010-01-01", Some("2020-01-01"), false),
      (1L, Some("a"), "2020-01-01", Some("2021-01-01"), false),
      (1L, Some("a2"), "2021-01-01", None, true),
      (2L, Some("b"), "2020-01-01", None, true),
      (3L, None, "2020-01-01", None, true),
      (9L, Some("n"), "2021-01-01", None, true)))
  }

  test("updateWhere / deleteWhere follow SQL NULL-condition semantics") {
    import spark.implicits._
    val df = Seq((1L, Some("x"), 10L), (2L, None, 20L), (3L, Some("y"), 30L))
      .toDF("k", "tag", "v")
    // tag = 'x' is NULL for k=2: UPDATE must leave it unchanged,
    // DELETE must keep it.
    val upd = df.updateWhere(col("tag") === "x", Map("v" -> lit(99L)))
      .orderBy("k").collect()
    assert(upd.map(_.getLong(2)).toSeq === Seq(99L, 20L, 30L))
    val del = df.deleteWhere(col("tag") === "x").orderBy("k").collect()
    assert(del.map(_.getLong(0)).toSeq === Seq(2L, 3L),
      "NULL-condition rows are kept by SQL DELETE")
  }

  test("sealEnvelope verifies when the frame already has a value column") {
    import spark.implicits._
    // Regression: the payload expression reads `value`; the seal must
    // sign the ORIGINAL value, not the ciphertext that replaces it.
    val dek = "0123456789abcdef".getBytes("UTF-8")
    val kek = "kek-graft-000001".getBytes("UTF-8")
    val df = Seq((1L, 2.5), (2L, -3.25)).toDF("id", "value")
    val out = df.sealEnvelope(
        to_json(struct(col("id"), col("value"))).cast("binary"), dek, kek)
      .openEnvelope(kek)
      .select(col("id"), col("verified"),
        col("payload").cast("string").as("pt"))
      .orderBy("id").collect()
    assert(out.forall(_.getBoolean(1)))
    assert(out.head.getString(2).contains("2.5"))
  }

  test("zValue interleaves bits exactly (a on even, b on odd positions)") {
    import spark.implicits._
    val cases = Seq((0L, 0L, 0L), (1L, 0L, 1L), (0L, 1L, 2L),
      (1L, 1L, 3L), (3L, 0L, 5L), (0L, 3L, 10L), (3L, 3L, 15L),
      (255L, 255L, 65535L), (255L, 0L, 21845L))
    val out = cases.map { case (a, b, _) => (a, b) }.toDF("a", "b")
      .withColumn("z", graft.api.ops.zValue(col("a"), col("b"), 8))
      .orderBy("a", "b").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(out === cases.toSet, s"got $out")
  }

  test("bloomSemiJoin equals the plain join even with false positives") {
    import spark.implicits._
    // fpp = 0.5 and an undersized sketch force false positives through
    // the probe filter; the equi-join must still remove every one.
    val probe = (1L to 1000L).map(i => (i, s"p$i")).toDF("k", "pv")
    val build = Seq((3L, "a"), (500L, "b"), (997L, "c")).toDF("k", "bv")
    val got = probe.bloomSemiJoin(build, "k",
        expectedItems = 4, fpp = 0.5)
      .orderBy("k").collect().map(_.getLong(0)).toSeq
    assert(got === Seq(3L, 500L, 997L))
  }

  test("incrementalNew equals the plain anti join even with false positives") {
    import spark.implicits._
    // A 20k-key base sizes the filter at fpp 0.01, so about 1% of the
    // 20k incoming keys it does not hold still probe positive; the
    // exact anti join must drop none of them.
    val base = (1L to 40000L by 2).toDF("b")
    val incoming = (1L to 40000L).map(i => (i, s"r$i")).toDF("k", "v")
    val sketch = base.select(xxhash64(col("b").cast("string")).as("h"))
      .stat.bloomFilter("h", 20000L, 0.01)
    val falsePositives = incoming.filter(col("k") % 2 === 0)
      .select(xxhash64(col("k").cast("string"))).as[Long].collect()
      .count(sketch.mightContainLong)
    assert(falsePositives > 0, "no key probed positive: the exact leg is untested")
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.orderBy("k").collect().map(r => (r.getLong(0), r.getString(1))).toSeq
    val got = rows(incoming.incrementalNew(base, col("k"), col("b")))
    assert(got === rows(incoming.join(base, col("k") === col("b"), "left_anti")))
    assert(got.map(_._1) === (2L to 40000L by 2))
  }

  test("weightedSample is deterministic and weight-biased") {
    import spark.implicits._
    // 500 light rows (w=1) vs 500 heavy (w=50), one stratum, k=100:
    // heavy rows must dominate the sample, and a re-run must pick the
    // exact same set (md5-derived randomness, no RNG drift).
    val df = (1L to 1000L)
      .map(i => (i, if (i % 2 == 0) 50.0 else 1.0, "s"))
      .toDF("id", "w", "g")
    def pick(): Seq[Long] = df.weightedSample(col("id"), col("w"),
      col("g"), k = 100).orderBy("id").collect().map(_.getLong(0)).toSeq
    val a = pick()
    assert(a === pick(), "weighted sample drifted between runs")
    val heavy = a.count(_ % 2 == 0)
    assert(heavy >= 85, s"expected heavy-weight dominance, got $heavy/100")
  }

  test("dupNgramStats scores a planted shared span, zero for unique docs") {
    import spark.implicits._
    val df = Seq(
      (1L, "a b c d e f g h"),       // shares no span
      (2L, "p q r s t u v w"),       // shares s t u with 3
      (3L, "x y s t u z k m")        // shares s t u with 2
    ).toDF("id", "text")
    val out = df.dupNgramStats(col("id"), split(col("text"), " "), 3)
      .orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getLong(2))).toMap
    assert(out(1L) === 0L, "unique doc must have zero duplicated grams")
    // docs 2 and 3 each contain exactly one shared trigram: 's t u'.
    assert(out(2L) === 1L && out(3L) === 1L, s"got $out")
  }

  test("sealEnvelope/openEnvelope roundtrip and verify on any frame") {
    import spark.implicits._
    val dek = "0123456789abcdef".getBytes("UTF-8")
    val kek = "kek-graft-000001".getBytes("UTF-8")
    val df = Seq((1L, "hello"), (2L, "world")).toDF("id", "msg")
    val out = df.sealEnvelope(col("msg").cast("binary"), dek, kek)
      .drop("msg")
      .openEnvelope(kek)
      .select(col("id"), col("payload").cast("string").as("rt"),
        col("verified"))
      .orderBy("id").collect()
    assert(out.map(_.getString(1)).toSeq === Seq("hello", "world"))
    assert(out.forall(_.getBoolean(2)))
  }

  test("pageRank: mass conservation, positivity, hub outranks leaves") {
    import spark.implicits._
    // Star graph: hub 0 joined to leaves 101..110. Undirected PageRank
    // has the invariant sum(rank) = N at every iteration (no dangling
    // nodes), and the hub must dominate every leaf.
    val edges = (101L to 110L).map(l => (0L, l)).toDF("a", "b")
    onBothPaths {
      val pr = edges.pageRank("a", "b", iters = 3)
      val rows = pr.collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
      assert(rows.size === 11)
      assert(rows.values.forall(_ > 0))
      val total = rows.values.sum
      assert(math.abs(total - 11.0) < 1e-9, s"mass not conserved: $total")
      val hub = rows(0L)
      (101L to 110L).foreach(l => assert(hub > rows(l),
        s"hub $hub not above leaf ${rows(l)}"))
    }
  }

  test("bfsHops: path graph distances, hop cap, unreached absent") {
    import spark.implicits._
    // Path 1-2-3-4-5 plus isolated edge 8-9. From seed 1 with
    // maxHops=3: dists 0..3 for 1..4; 5 is beyond the cap and the
    // 8-9 component is unreachable — both absent.
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L), (8L, 9L))
      .toDF("a", "b")
    val out = edges.bfsHops("a", "b", seed = 1L, maxHops = 3)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(out === Map(1L -> 0L, 2L -> 1L, 3L -> 2L, 4L -> 3L))
    // Edges are undirected: from the middle both arms are reached.
    val mid = edges.bfsHops("a", "b", seed = 3L, maxHops = 2)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(mid === Map(3L -> 0L, 2L -> 1L, 4L -> 1L, 1L -> 2L, 5L -> 2L))
  }

  test("ngramDecontaminate: planted overlap flags exactly the overlapping doc") {
    import spark.implicits._
    val df = Seq(
      (1L, "a b c d e", false),   // shares trigram "a b c" with eval
      (2L, "x y z w v", false),   // clean
      (3L, "a b c q r", true),    // the eval doc
      (4L, "a b", false)          // shorter than n: excluded
    ).toDF("id", "text", "ev")
    val out = df.ngramDecontaminate(col("id"), split(col("text"), " "),
        col("ev"), n = 3)
      .collect().map(r => r.getLong(0) ->
        (r.getAs[Long]("n_contaminated"), r.getAs[Boolean]("contaminated")))
      .toMap
    assert(out.keySet === Set(1L, 2L), s"got ${out.keySet}")
    assert(out(1L) === ((1L, true)), s"got ${out(1L)}")
    assert(out(2L) === ((0L, false)), s"got ${out(2L)}")
  }

  test("containmentPairs: planted sub-document scores 1.0 where Jaccard is low") {
    import spark.implicits._
    val df = Seq(
      (1L, "a b c"),                          // contained whole in doc 2
      (2L, "a b c d e f g h i j k l m n o p q r s t"),
      (3L, "zz yy xx")                        // unrelated
    ).toDF("id", "text").withColumn("blk", lit(0))
    val toks = array_distinct(split(col("text"), " "))
    val cont = df.containmentPairs(col("id"), toks, col("blk"), 0.9)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    // Directed: 1 contained in 2 at 3/3 = 1.0; never the reverse
    // (3/20), never doc 3.
    assert(cont.toSeq === Seq((1L, 2L, 1.0)), cont.mkString(","))
    val jac = df.jaccardPairs(col("id"), toks, col("blk"), threshold = 0.0)
      .filter(col("d1") === 1 && col("d2") === 2)
      .head.getAs[Double]("jaccard")
    assert(jac < 0.2, s"jaccard $jac should be low for the same pair")
  }

  test("encodeTokenIds: preview ids decode back to the original tokens") {
    import spark.implicits._
    val df = Seq((1L, "w x w y"), (2L, "y z q w")).toDF("id", "text")
    val toks = split(col("text"), " ")
    val out = df.encodeTokenIds(col("id"), toks, vocabSize = 3, preview = 10)
      .collect().map(r => r.getLong(0) ->
        (r.getAs[Long]("n_tokens"), r.getAs[Long]("n_oov"),
         r.getAs[String]("ids"))).toMap
    // Counts: w=3, y=2, x=z=q=1. Vocab(3) by (cnt desc, term asc):
    // w=1, y=2, q=3 (q wins the count tie alphabetically); x and z
    // are OOV -> 0.
    assert(out(1L) === ((4L, 1L, "1,0,1,2")), s"got ${out(1L)}")
    assert(out(2L) === ((4L, 1L, "2,0,3,1")), s"got ${out(2L)}")
  }

  test("profileColumns counts nulls and ignores them in min/max/distinct") {
    import spark.implicits._
    val df = Seq[(java.lang.Long, String)]((1L, "a"), (null, "b"),
      (3L, null)).toDF("num", "str")
    val rows = df.profileColumns(Seq("num" -> true, "str" -> false))
      .collect().map(r => r.getString(0) -> r).toMap
    val n = rows("num"); val t = rows("str")
    assert(n.getAs[Long]("n_rows") === 3L)
    assert(n.getAs[Long]("n_nulls") === 1L)
    assert(n.getAs[Long]("n_distinct") === 2L)
    assert(n.getAs[Double]("min_num") === 1.0)
    assert(n.getAs[Double]("max_num") === 3.0)
    assert(t.getAs[Long]("n_nulls") === 1L)
    assert(t.getAs[String]("min_str") === "a")
    assert(t.getAs[String]("max_str") === "b")
  }

  test("funnelStages honors strict order: early out-of-order events don't bank") {
    import spark.implicits._
    val t0 = java.sql.Timestamp.valueOf("2024-01-01 00:00:00").getTime
    def ts(m: Int) = new java.sql.Timestamp(t0 + m * 60000L)
    val df = Seq(
      (1L, ts(1), "view"), (1L, ts(2), "click"), (1L, ts(3), "purchase"),
      (2L, ts(1), "purchase"), (2L, ts(2), "click"), (2L, ts(3), "view"),
      (3L, ts(1), "click"), (3L, ts(2), "view"), (3L, ts(3), "click"),
      (3L, ts(4), "purchase"),
      (4L, ts(1), "view"), (4L, ts(2), "purchase")
    ).toDF("uid", "ts", "et")
    val out = df.funnelStages(col("uid"), col("ts"), col("et"),
        Seq("view", "click", "purchase"))
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    // u1 completes in order; u2's purchase/click precede its view
    // (only view counts); u3's first click precedes its view but the
    // SECOND click lands after -> full funnel; u4 skips click, so the
    // purchase can't count.
    assert(out === Map(1L -> 3, 2L -> 1, 3L -> 3, 4L -> 1), out.toString)
  }

  test("bigramSurprisal: repetitive bigrams score lower than unique ones") {
    import spark.implicits._
    val df = Seq(
      (1L, "x y x y x y x y x y"), // one dominant bigram -> predictable
      (2L, "a b c d e f g h i j") // every bigram unique -> surprising
    ).toDF("id", "text")
    val out = df.bigramSurprisal(col("id"), split(col("text"), " "))
      .collect().map(r => r.getLong(0) ->
        (r.getAs[Long]("n_bigrams"), r.getAs[Double]("surprisal"))).toMap
    assert(out(1L)._1 === 9L)
    assert(out(2L)._1 === 9L)
    assert(out(1L)._2 < out(2L)._2,
      s"repetitive doc should be less surprising: $out")
  }

  test("triangleCount is exact on planted graphs and canonicalizes input") {
    import spark.implicits._
    def tri(edges: Seq[(Long, Long)]): (Long, Long, Long, Long) = {
      val r = edges.toDF("a", "b").triangleCount("a", "b").head
      (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))
    }
    // K4: 4 nodes, 6 edges, 4 triangles; exact mode => est == count.
    val k4 = for (i <- 0L to 3L; j <- (i + 1) to 3L) yield (i, j)
    assert(tri(k4) === ((4L, 6L, 4L, 4L)))
    // Path graph: wedges exist but never close.
    assert(tri(Seq((1L, 2L), (2L, 3L), (3L, 4L))) === ((4L, 3L, 0L, 0L)))
    // Dirty input: reversals, duplicates, and self-loops must not
    // change the count (one triangle {1,2,3} + a pendant edge).
    val dirty = Seq((1L, 2L), (2L, 1L), (2L, 3L), (3L, 1L), (1L, 3L),
      (3L, 3L), (3L, 4L))
    assert(tri(dirty) === ((4L, 4L, 1L, 1L)))
    // Past the broadcast bound (here: broadcasting off) the wedge join
    // shuffles by apex and the closure by pair — same algebra, same
    // counts, and no broadcast hash join left in the executed plan.
    GraftSession.withConf(spark, "spark.sql.autoBroadcastJoinThreshold" -> "-1") {
      val q = k4.toDF("a", "b").triangleCount("a", "b")
      val shuffled = q.collect().head
      assert((shuffled.getLong(0), shuffled.getLong(1), shuffled.getLong(2),
        shuffled.getLong(3)) === ((4L, 6L, 4L, 4L)))
      val plan = q.queryExecution.executedPlan.toString
      assert(plan.contains("isFinalPlan=true"), plan)
      assert(!plan.contains("BroadcastHashJoin"), plan)
    }
  }

  test("pageRank long-loop (checkpointed) branch matches the short-loop result") {
    import spark.implicits._
    val edges = (101L to 105L).map(l => (0L, l)).toDF("a", "b")
    // Run on both paths: the checkpointed rounds only run distributed.
    onBothPaths {
      def ranks(iters: Int) =
        edges.pageRank("a", "b", iters = iters)
          .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
      // iters = 6 crosses the pin threshold (checkpoint-per-round path);
      // its iteration arithmetic must be identical: compare iteration 6
      // unpinned is unavailable, so assert the invariants instead.
      val r6 = ranks(6)
      assert(r6.size === 6)
      assert(math.abs(r6.values.sum - 6.0) < 1e-9)
      assert((101L to 105L).forall(l => r6(0L) > r6(l)))
      // A star is bipartite, so ranks oscillate by parity -- compare
      // SAME-parity depths across the pin threshold: iteration 4
      // (unpinned) and 6 (pinned) must be damping-contracted toward the
      // fixed point, not diverging.
      val r4 = ranks(4)
      // Star fixed point: r_h = 0.15 + 0.85·n·r_l, r_l = 0.15 + 0.85·r_h/n
      // => r_h = 0.15(1 + 0.85n) / (1 - 0.85²); n = 5 leaves.
      val fixedHub = 0.15 * (1 + 0.85 * 5) / (1 - 0.85 * 0.85)
      assert(math.abs(r6(0L) - fixedHub) <= math.abs(r4(0L) - fixedHub) + 1e-9,
        s"pinned path moved away from the fixed point: " +
          s"${r4(0L)} -> ${r6(0L)} (target $fixedHub)")
    }
  }

  test("dupSpans merges overlapping hits; within-doc repeats count") {
    import spark.implicits._
    val df = Seq(
      (1L, "a b c d e x y z"),   // shares "a b c d e" grams with doc 2
      (2L, "a b c d e p q r"),
      (3L, "m n o q s t"),       // unique: no row
      (4L, "u v w k k u v w")    // "u v w" twice WITHIN the doc
    ).toDF("id", "text")
    val out = df.dupSpans(col("id"), split(col("text"), " "), n = 3)
      .collect().map(r => r.getLong(0) ->
        (r.getInt(1), r.getLong(2), r.getLong(3), r.getInt(4))).toMap
    // Docs 1/2: hits at starts 0,1,2 merge into ONE span [0,5).
    assert(out(1L) === ((8, 1L, 5L, 5)), s"got $out")
    assert(out(2L) === ((8, 1L, 5L, 5)), s"got $out")
    // Doc 4: "u v w" at starts 0 and 5 — gap 5 > n, so TWO len-3 spans.
    assert(out(4L) === ((8, 2L, 6L, 3)), s"got $out")
    assert(!out.contains(3L), s"unique doc flagged: $out")
  }

  test("kCore: pendant chain peels over multiple rounds, clique survives") {
    import spark.implicits._
    // K4 clique {1,2,3,4} + chain 4-5-6-7. At k=2 the chain must peel
    // one node per round (7, then 6, then 5) — three pruning rounds —
    // while every clique node keeps within-core degree 3.
    val edges = Seq((1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L),
      (3L, 4L), (4L, 5L), (5L, 6L), (6L, 7L)).toDF("a", "b")
    val core = edges.kCore("a", "b", k = 2)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(core === Map(1L -> 3L, 2L -> 3L, 3L -> 3L, 4L -> 3L),
      s"got $core")
    // k above the max degree: the whole graph peels away.
    assert(edges.kCore("a", "b", k = 5).count() === 0)
  }

  test("tokenChunks: strided windows cover the doc with the set overlap") {
    import spark.implicits._
    val df = Seq((1L, (1 to 10).map(i => s"t$i").mkString(" ")))
      .toDF("id", "text")
    val out = df.tokenChunks(col("id"), split(col("text"), " "),
        chunkSize = 4, stride = 3)
      .orderBy("chunk_id")
      .collect().map(r => (r.getInt(1), r.getInt(2), r.getInt(3)))
    // starts 0,3,6,9; all full chunks except the 1-token tail.
    assert(out.toSeq === Seq((0, 0, 4), (1, 3, 4), (2, 6, 4), (3, 9, 1)),
      out.mkString(","))
    // Coverage: sum of (n_chunk - overlap) + overlap = doc length when
    // stride divides the walk — here 4+3+3+0 trailing... check directly:
    // every token index [0,10) falls inside at least one [start, start+4).
    val covered = out.flatMap { case (_, s, n) => s until (s + n) }.toSet
    assert(covered === (0 until 10).toSet, covered.toSeq.sorted.mkString(","))
  }

  test("dsirTopK ranks target-like raw docs above off-target ones") {
    import spark.implicits._
    val df = Seq(
      (1L, "g h g h g", true),   // target model trains on g/h
      (2L, "g h g h h", true),
      (3L, "g h g g h", false),  // raw, target-like
      (4L, "j k j k j", false),  // raw, off-target
      (5L, "g h j k g", false)   // raw, mixed
    ).toDF("id", "text", "tgt")
    val out = df.dsirTopK(col("id"), split(col("text"), " "), col("tgt"),
        k = 5)
      .collect().map(r => r.getLong(0) -> r.getDouble(2)).toMap
    assert(out(3L) > out(5L) && out(5L) > out(4L),
      s"importance order wrong: $out")
    // Weights are per-token means: a doc of pure target vocab beats one
    // with any off-target token regardless of length.
    assert(out(3L) > out(4L))
  }

  test("qualityClassify: kept agrees with the 0.5 threshold; stopwords hurt") {
    import spark.implicits._
    val df = Seq(
      (1L, "alpha beta gamma delta epsilon zeta", 35L),
      (2L, "the a of and to in", 18L)   // pure stopwords
    ).toDF("id", "text", "nc")
    val out = df.qualityClassify(col("id"), split(col("text"), " "),
        col("nc"), stopwords = Seq("the", "a", "of", "and", "to", "in"),
        bias = -2.0, wStop = -3.0, wAlpha = 2.5, wLogTok = 0.5, wLen = 0.1)
      .collect().map(r =>
        r.getLong(0) -> (r.getDouble(2), r.getBoolean(3))).toMap
    assert(out(1L)._1 > out(2L)._1, s"stopword doc not penalized: $out")
    out.values.foreach { case (score, kept) =>
      assert(kept === (score >= 0.5), s"kept/threshold disagree: $out")
    }
  }

  test("cusumScores matches the hand-computed fold on a foreign schema") {
    import spark.implicits._
    // x = [5,1,1,9], mean 4 → scaled deviations d = 4x−16 =
    // [4,−12,−12,20], prefixes [4,−8,−20,0] → C = [4,0,0,20].
    val df = Seq(("a", 1, 5L), ("a", 2, 1L), ("a", 3, 1L), ("a", 4, 9L))
      .toDF("series", "t", "cnt")
    val out = df.cusumScores(col("series"), col("t"), col("cnt"))
      .orderBy("time").collect().map(_.getLong(3))
    assert(out.toSeq === Seq(4L, 0L, 0L, 20L))
  }

  test("gridRadiusJoin catches a pair straddling a cell border") {
    import spark.implicits._
    val l = Seq((1L, 0.099999, 0.1), (2L, 0.9, 0.9)).toDF("lid", "a", "b")
    val r = Seq((10L, 0.100001, 0.1), (20L, 0.5, 0.5)).toDF("rid", "u", "v")
    val out = l.gridRadiusJoin(r, col("lid"), col("a"), col("b"),
        col("rid"), col("u"), col("v"), r = 0.05)
      .collect().map(x => (x.getLong(0), x.getLong(1)))
    assert(out.toSeq === Seq((1L, 10L)))
  }

  test("neymanSample sends the whole budget to the varied stratum") {
    import spark.implicits._
    // Stratum s1 has zero variance → weight 0 → allocation 0; every
    // sampled row must come from s2.
    val df = (1 to 50).map(i => ("s1", i.toLong, 100L)) ++
      (51 to 100).map(i => ("s2", i.toLong, (i % 7) * 37L))
    val out = df.toDF("grp", "k", "v")
      .neymanSample(col("grp"), col("k"), col("v"), budget = 4)
      .collect()
    assert(out.nonEmpty && out.forall(_.getString(1) == "s2"),
      out.mkString(","))
    assert(out.length === 4, out.mkString(","))
  }

  test("stratumQualityGate keeps the above-mean stratum, drops the below") {
    import spark.implicits._
    val df = Seq(("good", 0.9), ("good", 0.8), ("bad", 0.1), ("bad", 0.2))
      .toDF("src", "q")
    val out = df.stratumQualityGate(col("src"), col("q"))
      .collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getDouble(2),
        r.getBoolean(3))).toMap
    assert(out("good") === ((2L, 0.85, true)), s"got $out")
    assert(out("bad") === ((2L, 0.15, false)), s"got $out")
  }

  test("holtSmooth reproduces the hand fold exactly (dyadic arithmetic)") {
    import spark.implicits._
    // x = [3,2,4]: l=3,b=0 -> l=2.5,b=-0.25 -> l=3.125,b=0.1875
    val df = Seq(("m", 1, 3.0), ("m", 2, 2.0), ("m", 3, 4.0))
      .toDF("metric", "hr", "cnt")
    val out = df.holtSmooth(col("metric"), col("hr"), col("cnt"))
      .collect().head
    assert(out.getAs[Long]("n") === 3L)
    assert(out.getAs[Double]("level") === 3.125)
    assert(out.getAs[Double]("trend") === 0.1875)
  }

  test("theilSenSlope picks the positional median pairwise slope") {
    import spark.implicits._
    // points (0,0),(1,2),(2,1): slopes 2, 0.5, -1 -> median 0.5
    val df = Seq(("s", 0, 0), ("s", 1, 2), ("s", 2, 1))
      .toDF("series", "t", "x")
    val out = df.theilSenSlope(col("series"), col("t"), col("x"))
      .collect().head
    assert(out.getAs[Long]("n_pairs") === 3L)
    assert(out.getAs[Double]("slope") === 0.5)
  }

  test("adamicAdar weights shared neighbors by 1/ln(degree), exact ints") {
    import spark.implicits._
    // c1,c2 -> {s1,s2}; c3 -> {s1,s2,s3}: (s1,s2) shares 3 customers
    // (2 of degree 2, 1 of degree 3) = 2*1442695 + 910239 = 3795629;
    // (s1,s3) and (s2,s3) share only c3 = 910239.
    val df = Seq(("c1","s1"),("c1","s2"),("c2","s1"),("c2","s2"),
      ("c3","s1"),("c3","s2"),("c3","s3"),("c3","s3"))
      .toDF("cust", "supp")
    val out = df.adamicAdar(col("cust"), col("supp"), topK = 10)
      .collect().map(r => (r.getString(0), r.getString(1),
        r.getAs[Long]("n_common"), r.getAs[Long]("score_int")))
    assert(out.toSeq === Seq(
      ("s1", "s2", 3L, 3795629L),
      ("s1", "s3", 1L, 910239L),
      ("s2", "s3", 1L, 910239L)))
  }

  test("giniCoefficient matches the closed form on a hand fixture") {
    import spark.implicits._
    // values [1,1,2]: ranks 1,2,3 (id tiebreak), sum(i*x)=9, total=4
    // G = 2*9/(3*4) - 4/3
    val df = Seq(("g", 1L, 1L), ("g", 2L, 1L), ("g", 3L, 2L))
      .toDF("grp", "id", "v")
    val out = df.giniCoefficient(col("grp"), col("id"), col("v"))
      .collect().head
    assert(out.getAs[Long]("n") === 3L)
    assert(out.getAs[Long]("total") === 4L)
    assert(out.getAs[Double]("gini") === 2.0 * 9 / (3.0 * 4.0) - 4.0 / 3.0)
  }

  test("globalRowNumber matches a global sort rank on a foreign schema") {
    import spark.implicits._
    // 200 rows, keys deliberately unsorted and duplicated (score has
    // ties; the sid tiebreaker makes the order total).
    val rows = (0 until 200).map(i => (i.toLong, (i * 37 % 50).toLong))
    val df = rows.toDF("sid", "score").repartition(7)
    val out = df.globalRowNumber(Seq(col("score"), col("sid")), "rnk",
        numParts = 5)
      .select("sid", "rnk").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toMap
    val expected = rows.sortBy(r => (r._2, r._1)).zipWithIndex
      .map { case ((sid, _), i) => sid -> (i + 1L) }.toMap
    assert(out === expected)
  }

  test("globalRowNumber is invariant to numParts and stays parallel") {
    import spark.implicits._
    val df = (0 until 300).map(i => ((i * 13 % 97).toLong, i.toLong))
      .toDF("k", "sid")
    def ranks(parts: Int) =
      df.globalRowNumber(Seq(col("k"), col("sid")), "rnk", parts)
        .select("sid", "rnk").collect()
        .map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1).toSeq
    assert(ranks(1) === ranks(4))
    assert(ranks(4) === ranks(32))
    // The rank table must remain range-partitioned — NOT collapsed to
    // one partition the way Window.orderBy would leave it.
    val parted = df.globalRowNumber(Seq(col("k"), col("sid")), "rnk", 8)
    assert(parted.rdd.getNumPartitions === 8)
  }

  test("neighborJaccard: hand graph scores, degree-1 srcs contribute nothing") {
    import spark.implicits._
    // c1→{A,B}, c2→{A,B}, c3→{B,C}, c4→{C}: degrees A=2 B=3 C=2;
    // c4 has one neighbor and must not affect any pair.
    val edges = Seq((10L, 1L), (10L, 2L), (11L, 1L), (11L, 2L),
      (12L, 2L), (12L, 3L), (13L, 3L)).toDF("c", "s")
    val out = edges.neighborJaccard(col("c"), col("s"), topK = 10)
      .select("d1", "d2", "n_common", "jacc_int").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    // J(A,B) = 2/(2+3−2) = 2/3 → 666666; J(B,C) = 1/(3+2−1) = 1/4
    assert(out.toSeq === Seq((1L, 2L, 2L, 666666L),
      (2L, 3L, 1L, 250000L)))
  }

  test("neighborJaccard maxDeg drops pairs only reachable via a mega-hub") {
    import spark.implicits._
    // hub 99 connects X,Y,Z (degree 3 > maxDeg 2); c1 connects X,Y.
    val edges = Seq((99L, 7L), (99L, 8L), (99L, 9L), (1L, 7L), (1L, 8L))
      .toDF("c", "s")
    val out = edges.neighborJaccard(col("c"), col("s"), topK = 10,
        maxDeg = 2)
      .select("d1", "d2").collect().map(r => (r.getLong(0), r.getLong(1)))
    // only the (7,8) wedge through c1 survives; union still uses TRUE
    // degrees (7 and 8 each have deg 2) → J = 1/3
    assert(out.toSeq === Seq((7L, 8L)))
  }

  test("invPhi hits textbook normal quantiles to 1e-8") {
    import graft.api.ops.invPhi
    // Acklam's approximation promises |rel ε| < 1.15e-9; pin the
    // standard two-sided critical values (these feed q_stats_bh_fdr's
    // z² ladder as plan literals) and the tail/central region split.
    val cases = Seq(
      0.5 -> 0.0,
      0.975 -> 1.9599639845400545,
      0.995 -> 2.5758293035489004,
      0.9999 -> 3.719016485455709,
      0.025 -> -1.9599639845400545,
      0.01 -> -2.3263478740408408)
    cases.foreach { case (p, z) =>
      assert(math.abs(invPhi(p) - z) < 1e-8, s"invPhi($p)")
    }
    // ladder is strictly increasing in z² as rank i decreases
    // (smaller BH cut → larger critical value)
    val zsq = graft.api.ops.bhZsq(0.1, 120)
    assert(zsq.size === 120)
    assert(zsq.sliding(2).forall { case Seq(a, b) => a > b })
    // monotone inverse sanity: Φ⁻¹ symmetric around 0.5
    assert(math.abs(invPhi(0.7) + invPhi(0.3)) < 1e-12)
  }
}
