package graft

import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

/** Property-based invariants (SURVEY.md §5.2 item 3) driven by seeded
  * scalacheck generators — deterministic, so failures are reproducible.
  * Data-plane properties are evaluated THROUGH Spark plans (not plain
  * Scala) so they exercise codegen'd expression evaluation.
  */
class PropertySpec extends SparkSpec {

  private val params = Gen.Parameters.default
  private def sample[A](g: Gen[A], seed: Long): A =
    g.pureApply(params, Seed(seed))

  test("aes decrypt(encrypt(m,k),k) == m for arbitrary byte payloads") {
    import spark.implicits._
    val payloads = (1 to 100).map { i =>
      sample(Gen.listOf(Gen.choose(Byte.MinValue, Byte.MaxValue)), i).toArray
    }.filter(_.nonEmpty)
    for (keyLen <- Seq(16, 24, 32); mode <- Seq("ECB", "GCM")) {
      val key = ("k" * keyLen).getBytes("UTF-8")
      val bad = payloads.toDF("m")
        .select(col("m"),
          aes_decrypt(aes_encrypt(col("m"), lit(key), lit(mode)),
            lit(key), lit(mode)).as("rt"))
        .filter(not(col("m") === col("rt"))).count()
      assert(bad === 0, s"roundtrip failed for keyLen=$keyLen mode=$mode")
    }
  }

  test("KendallKnight.stats ≡ quadratic sign-count on fuzzed tied series") {
    import graft.functions.KendallKnight
    def brute(pts: Array[(Long, Long)]): (Long, Long, Long, Long, Long) = {
      var c = 0L; var d = 0L; var tx = 0L; var ty = 0L; var n0 = 0L
      for (i <- pts.indices; j <- (i + 1) until pts.length) {
        n0 += 1
        val dx = pts(i)._1 - pts(j)._1
        val dy = pts(i)._2 - pts(j)._2
        if (dx == 0) tx += 1
        if (dy == 0) ty += 1
        if ((dx > 0 && dy > 0) || (dx < 0 && dy < 0)) c += 1
        if ((dx > 0 && dy < 0) || (dx < 0 && dy > 0)) d += 1
      }
      (n0, c, d, tx, ty)
    }
    // Heavy ties (small value range) are the regime where the Knight
    // identity has to get every correction term right.
    for (seed <- 1 to 8; n <- Seq(0, 1, 2, 3, 50, 500)) {
      val g = Gen.listOfN(n, Gen.zip(
        Gen.choose(0L, 9L), Gen.choose(0L, 9L)))
      val pts = sample(g, seed * 1000L + n).toArray
      assert(KendallKnight.stats(pts) === brute(pts),
        s"mismatch at seed=$seed n=$n")
    }
    // and a wide-range regime (few ties, inversions dominate)
    for (seed <- 1 to 3) {
      val g = Gen.listOfN(800, Gen.zip(
        Gen.choose(-1000000L, 1000000L), Gen.choose(-1000000L, 1000000L)))
      val pts = sample(g, 77L + seed).toArray
      assert(KendallKnight.stats(pts) === brute(pts),
        s"wide-range mismatch at seed=$seed")
    }
  }

  test("q_stats_kendall: merge path ≡ join path on the scored fixture") {
    // mergeSpanHours = 0 forces Knight's per-series path; MaxValue
    // forces the hour-pair join. Same rows bit-for-bit, so the
    // production span switch is invisible to the oracle.
    val viaMerge = operators.Aggregates
      .statsKendallImpl(spark, sfDir, mergeSpanHours = 0)
      .collect().map(_.toSeq).toSeq
    val viaJoin = operators.Aggregates
      .statsKendallImpl(spark, sfDir, mergeSpanHours = Int.MaxValue)
      .collect().map(_.toSeq).toSeq
    assert(viaMerge.nonEmpty)
    assert(viaMerge === viaJoin)
  }

  test("hmac_sha256 is deterministic and key-sensitive on random inputs") {
    import spark.implicits._
    import graft.functions.GraftFunctions.hmac_sha256
    val msgs = (1 to 50).map(i =>
      sample(Gen.alphaNumStr, i * 7 + 1)).filter(_.nonEmpty)
    val df = msgs.toDF("m").select(
      hmac_sha256(lit("key-a".getBytes), col("m").cast("binary")).as("s1"),
      hmac_sha256(lit("key-a".getBytes), col("m").cast("binary")).as("s2"),
      hmac_sha256(lit("key-b".getBytes), col("m").cast("binary")).as("s3"))
    assert(df.filter(not(col("s1") === col("s2"))).count() === 0)
    assert(df.filter(col("s1") === col("s3")).count() === 0)
  }

  test("every random timestamp lands in exactly one tumbling window") {
    import spark.implicits._
    val base = java.sql.Timestamp.valueOf("2024-01-01 00:00:00").getTime
    val offsets = (1 to 200).map(i =>
      sample(Gen.choose(0L, 30L * 24 * 3600 * 1000), i))
    val df = offsets.map(o => new java.sql.Timestamp(base + o)).toDF("ts")
      .select(col("ts"), window(col("ts"), "1 hour").as("w"))
    // containment: ts ∈ [start, end) for the single window it got
    assert(df.filter(col("ts") < col("w.start") ||
      col("ts") >= col("w.end")).count() === 0)
    // partition: per-window counts sum back to the row count
    val total = df.groupBy("w").count().agg(sum("count")).head.getLong(0)
    assert(total === offsets.size)
  }

  test("session windows partition events and last at least the gap") {
    val e = Tables(spark, sfDir, "events")
    val sessions = e.groupBy(col("user_id"),
        session_window(col("ts"), "30 minutes").as("sw"))
      .agg(count(lit(1)).as("n"))
    val totalEvents = e.count()
    assert(sessions.agg(sum("n")).head.getLong(0) === totalEvents)
    assert(sessions.count() <= totalEvents)
    // end = last event + gap ⇒ every session spans >= the 30 min gap
    assert(sessions.filter(
      col("sw.end").cast("long") - col("sw.start").cast("long") <
        30L * 60).count() === 0)
  }

  test("exact dedup is a partition of the corpus and idempotent") {
    val docs = Tables(spark, sfDir, "documents")
    val out = SparkEntry.queries("q_dedup_exact")(spark, sfDir)
    // groups partition the docs: sizes sum to the corpus
    assert(out.agg(sum("n_dups")).head.getLong(0) === docs.count())
    // one group per distinct text
    assert(out.count() === docs.select("text").distinct().count())
    // canonical ids are distinct docs (idempotence: re-dedup is a no-op)
    assert(out.select("doc_id").distinct().count() === out.count())
  }

  test("q_shuffle_shards is a reproducible permutation into dense shards") {
    import org.apache.spark.sql.functions._
    val docs = Tables(spark, sfDir, "documents")
    val out = SparkEntry.queries("q_shuffle_shards")(spark, sfDir)
    // A permutation: every doc exactly once, nothing invented.
    assert(out.count() === docs.count())
    assert(out.select("doc_id").distinct().count() === docs.count())
    // Shards are valid nibble ids and positions are dense 1..n per
    // shard (so shard files can be written and replayed by offset).
    val bad = out.filter(col("shard") < 0 || col("shard") > 15).count()
    assert(bad === 0)
    val holes = out.groupBy("shard")
      .agg(count(lit(1)).as("n"), max("pos").as("mx"), min("pos").as("mn"))
      .filter(col("mx") =!= col("n") || col("mn") =!= 1)
      .count()
    assert(holes === 0, "per-shard positions must be contiguous from 1")
    // Same seed, same epoch: a rerun is byte-identical.
    val again = SparkEntry.queries("q_shuffle_shards")(spark, sfDir)
    assert(out.exceptAll(again).count() === 0)
    assert(again.exceptAll(out).count() === 0)
  }

  test("native dot_arrays/cosine_sim are bit-identical to the fold form") {
    import spark.implicits._
    import graft.functions.GraftFunctions.{cosine_sim, dot_arrays}
    // The kernel swap is only hash-safe if accumulation order matches
    // the aggregate(zip_with(...)) fold exactly — compare bit patterns,
    // not approximate equality, on seeded random vectors.
    val vecs = (1 to 100).map { i =>
      (sample(Gen.listOfN(64, Gen.choose(-5.0, 5.0)), i),
       sample(Gen.listOfN(64, Gen.choose(-5.0, 5.0)), i + 1000))
    }
    def fold(a: org.apache.spark.sql.Column, b: org.apache.spark.sql.Column) =
      aggregate(zip_with(a, b, (x, y) => x * y), lit(0.0), (s, v) => s + v)
    val df = vecs.toDF("a", "b").select(
      dot_arrays(col("a"), col("b")).as("nd"),
      fold(col("a"), col("b")).as("fd"),
      cosine_sim(col("a"), col("b")).as("nc"),
      (fold(col("a"), col("b")) /
        (sqrt(fold(col("a"), col("a"))) * sqrt(fold(col("b"), col("b")))))
        .as("fc"))
    df.collect().foreach { r =>
      assert(java.lang.Double.doubleToRawLongBits(r.getDouble(0)) ===
        java.lang.Double.doubleToRawLongBits(r.getDouble(1)), r.toString)
      assert(java.lang.Double.doubleToRawLongBits(r.getDouble(2)) ===
        java.lang.Double.doubleToRawLongBits(r.getDouble(3)), r.toString)
    }
  }

  test("cosine similarity is bounded and sim(v,v)=1 on real embeddings") {
    val e = Tables(spark, sfDir, "embeddings")
      .withColumn("emb", transform(col("embedding"), _.cast("double")))
    def dot(a: org.apache.spark.sql.Column, b: org.apache.spark.sql.Column) =
      aggregate(zip_with(a, b, (x, y) => x * y), lit(0.0), (s, v) => s + v)
    val self = e.select(
      (dot(col("emb"), col("emb")) /
        (sqrt(dot(col("emb"), col("emb"))) *
         sqrt(dot(col("emb"), col("emb"))))).as("c"))
    assert(self.filter(abs(col("c") - 1.0) > 1e-9).count() === 0)
  }

  test("both connectedComponents forms match union-find on dirty seeded graphs") {
    import spark.implicits._
    import graft.api.ops._
    // Independent reference (union-find in test code) so the two
    // distributed algorithms can't share a bug and both pass. Dirty
    // input on purpose: duplicate edges, reversals, and self-loops
    // exercise the canonicalization paths.
    for (seed <- 1 to 6) {
      val n = 40
      val m = 30 + 4 * seed
      val raw = (0 until m).map { i =>
        val a = sample(Gen.choose(0, n - 1), seed * 1000 + i).toLong
        val b = sample(Gen.choose(0, n - 1), seed * 1000 + i + 500).toLong
        (a, b)
      }
      val dirty = raw ++ raw.take(5).map(_.swap) ++ Seq((7L, 7L))
      // Union-find reference over every id that appears.
      val parent = scala.collection.mutable.Map[Long, Long]()
      def find(x: Long): Long = {
        val p = parent.getOrElseUpdate(x, x)
        if (p == x) x else { val r = find(p); parent(x) = r; r }
      }
      dirty.foreach { case (a, b) =>
        val (ra, rb) = (find(a), find(b))
        if (ra != rb) parent(ra max rb) = ra min rb
      }
      // Canonical label = min id per set (min-root union above keeps
      // roots minimal, so find() IS the min).
      val expect = dirty.flatMap(e => Seq(e._1, e._2)).distinct
        .map(x => x -> find(x)).toMap
      val df = dirty.toDF("a", "b")
      def check(path: String): Unit = {
        val minLabel = df.connectedComponents("a", "b", maxIter = 100)
          .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
        val star = df.connectedComponentsStar("a", "b")
          .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
        assert(minLabel === expect, s"seed=$seed $path: min-label != union-find")
        assert(star === expect, s"seed=$seed $path: star != union-find")
      }
      // Small graphs finish in one task; the rounds run only with the
      // broadcast bound off, so each graph checks both paths.
      check("one-task")
      distributed(check("distributed"))
      // Checkpoint pins carry their size from their part files: the
      // same decision and the same labels with a checkpoint dir set.
      if (seed == 1) withCheckpointDir {
        check("one-task, checkpoint dir")
        distributed(check("distributed, checkpoint dir"))
      }
    }
  }

  private def withCheckpointDir[T](body: => T): T = {
    val dir = java.nio.file.Files.createTempDirectory("graft-pins")
    spark.sparkContext.setCheckpointDir(dir.toString)
    try body
    finally {
      spark.sparkContext.setCheckpointDir(null)
      java.nio.file.Files.walk(dir).sorted(java.util.Comparator.reverseOrder())
        .forEach(p => java.nio.file.Files.delete(p))
    }
  }

  test("bfsHops matches an in-memory BFS on seeded graphs, both paths") {
    import spark.implicits._
    import graft.api.ops._
    // Dirty input: duplicate edges, reversals and a self-loop; seed 99
    // has no edge at all, so only it is reached, at distance 0.
    for (seed <- 1 to 4; (from, hops) <- Seq((0L, 2), (5L, 4), (99L, 3))) {
      val n = 30
      val raw = (0 until 28 + 2 * seed).map { i =>
        (sample(Gen.choose(0, n - 1), seed * 3000 + i).toLong,
          sample(Gen.choose(0, n - 1), seed * 3000 + i + 700).toLong)
      }
      val dirty = raw ++ raw.take(4) ++ raw.take(3).map(_.swap) ++ Seq((2L, 2L))
      val adj = dirty.flatMap { case (a, b) => Seq(a -> b, b -> a) }
        .groupMap(_._1)(_._2)
      var expect = Map(from -> 0L)
      var frontier = Set(from)
      for (h <- 1 to hops) {
        frontier = frontier.flatMap(adj.getOrElse(_, Nil)) -- expect.keySet
        expect ++= frontier.map(_ -> h.toLong)
      }
      val df = dirty.toDF("a", "b")
      def got() = df.bfsHops("a", "b", seed = from, maxHops = hops)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(got() === expect, s"seed=$seed from=$from: one-task != BFS")
      assert(distributed(got()) === expect,
        s"seed=$seed from=$from: distributed != BFS")
    }
  }

  test("graph ops keep int ids and the same schema on both paths") {
    import spark.implicits._
    import graft.api.ops._
    // A non-null and a nullable int id column: both paths must agree on
    // type and nullability, not only on values.
    val edges = Seq((1, 2), (2, 3), (3, 1), (3, 4), (4, 5), (6, 7), (8, 8))
    val frames = Seq(edges.toDF("a", "b"),
      edges.map { case (a, b) => (a, Option(b)) }.toDF("a", "b"))
    val graphOps: Seq[(String, org.apache.spark.sql.DataFrame => org.apache.spark.sql.DataFrame)] = Seq(
      "connectedComponents" -> (_.connectedComponents("a", "b")),
      "connectedComponentsStar" -> (_.connectedComponentsStar("a", "b")),
      "kCore" -> (_.kCore("a", "b", k = 2)),
      "bfsHops" -> (_.bfsHops("a", "b", seed = 3L, maxHops = 2)),
      "pageRank" -> (_.pageRank("a", "b")),
      "labelPropagation" -> (_.labelPropagation("a", "b")))
    // Each op emits one row per id. Ranks are float sums whose order
    // follows the partitioning: they compare within 1e-9, every other
    // cell exactly.
    def byId(d: org.apache.spark.sql.DataFrame) = {
      val rows = d.collect()
      val m = rows.map(r => Option(r.get(0)) -> r.toSeq.tail).toMap
      assert(m.size === rows.length, "one row per id")
      m
    }
    for (df <- frames; (name, op) <- graphOps) {
      val one = op(df)
      val dist = distributed(op(df))
      assert(one.schema === dist.schema, s"$name on ${df.schema.simpleString}")
      val (o, d) = (byId(one), byId(dist))
      assert(o.keySet === d.keySet, name)
      for ((id, cs) <- d; (x, y) <- o(id).zip(cs)) (x, y) match {
        case (x: Double, y: Double) => assert(math.abs(x - y) <= 1e-9, s"$name id=$id")
        case _ => assert(x === y, s"$name id=$id")
      }
    }
    assert(frames.head.connectedComponents("a", "b").schema("id").dataType ===
      org.apache.spark.sql.types.IntegerType)
  }

  /** A seeded dirty graph over ids 0..n−1: duplicate and reversed
    * edges, two self-loops, two pendant (degree-1) nodes and one edge
    * with a null endpoint. */
  private def dirtyGraph(seed: Int, n: Int): Seq[(Option[Long], Option[Long])] = {
    val raw = (0 until 30 + 3 * seed).map { i =>
      (sample(Gen.choose(0, n - 1), seed * 5000 + i).toLong,
        sample(Gen.choose(0, n - 1), seed * 5000 + i + 777).toLong)
    }
    val dirty = raw ++ raw.take(4) ++ raw.take(3).map(_.swap) ++
      Seq((2L, 2L), (3L, 3L), (0L, 100L + seed), (1L, 200L + seed))
    dirty.map { case (a, b) => (Option(a), Option(b)) } :+ ((Some(4L), None))
  }

  test("pageRank is the same on both paths over dirty seeded graphs") {
    import spark.implicits._
    import graft.api.ops._
    // iters = 6 takes the rounds' per-round pins.
    for (seed <- 1 to 5; iters <- Seq(3, 6)) {
      val df = dirtyGraph(seed, 20).toDF("a", "b")
      def ranks() = df.pageRank("a", "b", iters = iters).collect()
        .map(r => Option(r.get(0)) -> r.getDouble(1)).toMap
      val (one, dist) = (ranks(), distributed(ranks()))
      assert(one.keySet === dist.keySet, s"seed=$seed iters=$iters")
      assert(one.keySet.contains(None), s"seed=$seed: no null-endpoint rank")
      for ((id, r) <- dist) {
        assert(math.abs(one(id) - r) <= 1e-9, s"seed=$seed iters=$iters id=$id")
        assert(math.floor(one(id) * 10000 + 0.5) === math.floor(r * 10000 + 0.5),
          s"seed=$seed iters=$iters id=$id: 4dp")
      }
    }
  }

  test("labelPropagation is the same on both paths over dirty seeded graphs") {
    import spark.implicits._
    import graft.api.ops._
    for (seed <- 1 to 5; iters <- Seq(1, 2, 6)) {
      val df = dirtyGraph(seed, 20).toDF("a", "b")
      def labels() = df.labelPropagation("a", "b", iters = iters).collect()
        .map(_.toSeq).sortBy(_.toString)
      val one = labels()
      assert(one === distributed(labels()), s"seed=$seed iters=$iters")
      assert(one.exists(_.head == null), s"seed=$seed: no null-endpoint label")
    }
  }

  test("randomWalks is the same on both paths over dirty seeded graphs") {
    import spark.implicits._
    // Seeds 1..5 over 20 nodes, 4 seeds of 6 steps: walks that reach
    // a pendant or the null endpoint end there.
    for (seed <- 1 to 5) {
      val half = dirtyGraph(seed, 20).toDF("s", "t")
      def walks() = graft.api.ops.randomWalks(half, seeds = 4, steps = 6)
        .collect().map(_.toSeq).sortBy(r => (r(0).toString, r(1).toString))
      val one = walks()
      assert(one.length > 4, s"seed=$seed: no step taken")
      assert(one === distributed(walks()), s"seed=$seed")
    }
  }

  test("triangleCount(exact) matches brute force on seeded random graphs") {
    import spark.implicits._
    import graft.api.ops._
    // 12 seeded Erdos-Renyi-ish graphs over 8 nodes at varying density
    // vs an O(n^3) reference -- randomized coverage of the
    // degree-orientation total order beyond the planted K4/path cases
    // (ties in degree are common at n=8, which is exactly the
    // tie-break logic worth fuzzing).
    val allPairs = for (i <- 0 until 8; j <- (i + 1) until 8) yield (i, j)
    for (seed <- 1 to 12) {
      val keep = sample(Gen.listOfN(allPairs.size, Gen.choose(0, 99)), seed)
      val p = 20 + 5 * seed // density 25%..80%
      val edges = allPairs.zip(keep).collect {
        case ((i, j), r) if r < p => (i.toLong, j.toLong) }
      if (edges.nonEmpty) {
        val adj = edges.toSet
        def has(a: Long, b: Long) = adj((a min b, a max b))
        val brute = (for {
          a <- 0L until 8L; b <- (a + 1) until 8L; c <- (b + 1) until 8L
          if has(a, b) && has(a, c) && has(b, c)
        } yield 1).size.toLong
        val row = edges.toDF("a", "b").triangleCount("a", "b").head
        assert(row.getLong(2) === brute,
          s"seed=$seed: got ${row.getLong(2)}, brute=$brute, edges=$edges")
        assert(row.getLong(3) === brute) // exact mode: est == count
      }
    }
  }

  test("kCore matches sequential peeling on seeded random graphs") {
    import spark.implicits._
    import graft.api.ops._
    // Independent reference: sequential whole-graph peeling in test
    // code. Dirty input: duplicate edges, reversals, self-loops —
    // the distributed form must canonicalize identically.
    for (seed <- 1 to 5; k <- Seq(2, 3)) {
      val n = 25
      val m = 35 + 3 * seed
      val raw = (0 until m).map { i =>
        val a = sample(Gen.choose(0, n - 1), seed * 2000 + i).toLong
        val b = sample(Gen.choose(0, n - 1), seed * 2000 + i + 999).toLong
        (a, b)
      }
      val dirty = raw ++ raw.take(4).map(_.swap) ++ Seq((3L, 3L))
      // Reference peel over the canonical undirected simple graph
      // (self-loops contribute both directions of (a,a) → collapse to
      // one adjacency entry, like the distinct() in kCore).
      var adj = dirty.flatMap { case (a, b) => Seq((a, b), (b, a)) }
        .distinct.groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
      var changed = true
      while (changed) {
        val badNodes = adj.collect { case (v, ns) if ns.size < k => v }.toSet
        changed = badNodes.nonEmpty
        if (changed)
          adj = adj.filterNot(e => badNodes(e._1))
            .view.mapValues(_ -- badNodes).toMap
            .filter(_._2.nonEmpty)
      }
      val expect = adj.map { case (v, ns) => v -> ns.size.toLong }
      def got() = dirty.toDF("a", "b").kCore("a", "b", k = k)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(got() === expect, s"seed=$seed k=$k: kCore != sequential peel")
      assert(distributed(got()) === expect,
        s"seed=$seed k=$k: distributed kCore != sequential peel")
    }
  }

  test("a capped kCore returns the same live degrees on both paths") {
    import spark.implicits._
    import graft.api.ops._
    // K4 {1,2,3,4} + chain 4-5-6-7 peels one chain node per round at
    // k = 2; one round removes only 7, so 6 is left with degree 1.
    val df = Seq((1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L),
      (3L, 4L), (4L, 5L), (5L, 6L), (6L, 7L)).toDF("a", "b")
    val expect = Map(1L -> 3L, 2L -> 3L, 3L -> 3L, 4L -> 4L, 5L -> 2L, 6L -> 1L)
    def got() = df.kCore("a", "b", k = 2, maxRounds = 1)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got() === expect)
    assert(distributed(got()) === expect)
  }

  test("BottomKAgg equals the sort-take reference at every partitioning") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    // Reference: plain in-memory sort by (rank, id), take k. The UDAF
    // must agree regardless of partition count (merge path) and k
    // (including k > group size).
    for (seed <- 1 to 3; k <- Seq(1, 3, 50); parts <- Seq(1, 7)) {
      val rows = (0 until 40).map { i =>
        val g = sample(Gen.choose(0, 2), seed * 100 + i)
        (s"g$g", i.toLong)
      }
      val expect = rows.groupBy(_._1).view.mapValues { vs =>
        vs.map { case (_, id) =>
          (java.security.MessageDigest.getInstance("MD5")
            .digest(id.toString.getBytes("UTF-8"))
            .map("%02x".format(_)).mkString, id)
        }.sorted.take(k).map(_._2).toSeq
      }.toMap
      val got = rows.toDF("g", "id").repartition(parts)
        .groupBy("g")
        .agg(graft.functions.BottomKAgg.bottomK(k)(
          md5(col("id").cast("string")), col("id")).as("ids"))
        .collect().map(r => r.getString(0) -> r.getSeq[Long](1)).toMap
      assert(got === expect, s"seed=$seed k=$k parts=$parts")
    }
  }

  test("labelPropagation matches a synchronous in-memory LPA on seeded graphs") {
    import spark.implicits._
    import graft.api.ops._
    // Independent reference: synchronous mode-of-neighbors relabeling
    // over an in-memory adjacency map, min-label tie-break. Dirty
    // input: duplicate edges, reversals, a self-loop — the distributed
    // form's double+distinct canonicalization must match.
    for (seed <- 1 to 5; iters <- Seq(1, 3)) {
      val n = 20
      val m = 30 + 3 * seed
      val raw = (0 until m).map { i =>
        val a = sample(Gen.choose(0, n - 1), seed * 3000 + i).toLong
        val b = sample(Gen.choose(0, n - 1), seed * 3000 + i + 999).toLong
        (a, b)
      }
      val dirty = raw ++ raw.take(4).map(_.swap) ++ Seq((5L, 5L))
      val adj = dirty.flatMap { case (a, b) => Seq((a, b), (b, a)) }
        .distinct.groupBy(_._1).view.mapValues(_.map(_._2)).toMap
      var labels: Map[Long, Long] = adj.keys.map(v => v -> v).toMap
      for (_ <- 1 to iters) {
        labels = adj.map { case (v, ns) =>
          val counts = ns.map(labels).groupBy(identity).view.mapValues(_.size)
          v -> counts.toSeq.minBy { case (l, c) => (-c, l) }._1
        }
      }
      def got() = dirty.toDF("a", "b").labelPropagation("a", "b", iters = iters)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(got() === labels, s"seed=$seed iters=$iters: LPA != reference")
      assert(distributed(got()) === labels,
        s"seed=$seed iters=$iters: distributed LPA != reference")
    }
  }

  test("dupSpans covered tokens match a brute-force span scan") {
    import spark.implicits._
    import graft.api.ops._
    // Reference: mark every token index covered by an n-gram whose
    // exact text occurs >= 2 times across the corpus, then read spans
    // off the boolean mask — an implementation with nothing in common
    // with the window/island plan.
    val vocab = Vector("a", "b", "c", "d", "e")
    for (seed <- 1 to 5) {
      val n = 3
      val docs = (0 until 8).map { d =>
        val len = 5 + sample(Gen.choose(0, 10), seed * 300 + d)
        val toks = (0 until len).map(i =>
          vocab(sample(Gen.choose(0, vocab.size - 1), seed * 300 + d * 37 + i)))
        (d.toLong, toks.mkString(" "))
      }
      val counts = scala.collection.mutable.Map[String, Int]()
      val grams = docs.map { case (id, text) =>
        val t = text.split(" ")
        val gs = (0 to t.length - n).map(i => t.slice(i, i + n).mkString(" "))
        gs.foreach(g => counts(g) = counts.getOrElse(g, 0) + 1)
        id -> (t.length, gs)
      }.toMap
      val expect = grams.flatMap { case (id, (len, gs)) =>
        val mask = Array.fill(len)(false)
        gs.zipWithIndex.foreach { case (g, i) =>
          if (counts(g) >= 2) (i until i + n).foreach(mask(_) = true)
        }
        if (!mask.contains(true)) None
        else {
          // spans = maximal true runs
          val spans = scala.collection.mutable.ArrayBuffer[Int]()
          var i = 0
          while (i < len) {
            if (mask(i)) {
              var j = i; while (j < len && mask(j)) j += 1
              spans += (j - i); i = j
            } else i += 1
          }
          Some(id -> (spans.size.toLong, spans.sum.toLong, spans.max))
        }
      }
      val got = docs.toDF("id", "text")
        .dupSpans(col("id"), split(col("text"), " "), n = n)
        .collect().map(r => r.getLong(0) ->
          (r.getLong(2), r.getLong(3), r.getInt(4))).toMap
      assert(got === expect, s"seed=$seed: dupSpans != brute force\n" +
        s"docs=${docs.mkString("\n")}")
    }
  }

  test("ngrams matches Scala sliding(n) on short, empty and repeated-token docs") {
    import spark.implicits._
    import graft.api.ops._
    // Reference: the windows of sliding(n), and none for a doc shorter
    // than n (where sliding would yield one short window). A 3-token
    // alphabet repeats tokens within and across grams.
    val vocab = Vector("a", "b", "c")
    val planted = Seq(Seq.empty[String], Seq("a"), Seq("a", "a"),
      Seq("a", "a", "a"), Seq("b", "a", "b", "a", "b", "a"))
    val docs = planted ++ (0 until 20).map { d =>
      val len = sample(Gen.choose(0, 9), 700 + d)
      (0 until len).map(i => vocab(sample(Gen.choose(0, 2), 700 + d * 31 + i)))
    }
    val frame = docs.toDF("t")
    for (n <- Seq(2, 3, 6)) {
      val expect = docs.map(t =>
        if (t.length < n) Seq.empty[String]
        else t.sliding(n).map(_.mkString(" ")).toSeq)
      val got = frame.select(ngrams(col("t"), n)).collect()
        .map(_.getSeq[String](0)).toSeq
      assert(got === expect, s"n=$n: ngrams != sliding")
    }
  }

  test("bpeMergeTable matches an imperative BPE trainer on random corpora") {
    import spark.implicits._
    import graft.api.ops._
    // Reference trainer: word-freq dict, per round count adjacent
    // pairs, argmax by (count desc, p1, p2), apply the greedy
    // left-to-right non-overlapping merge imperatively — nothing in
    // common with the fold/HOF plan. Small alphabet forces runs
    // ("aaa…") so the non-overlap rule is actually exercised.
    def greedyMerge(syms: Vector[String], p1: String, p2: String): Vector[String] = {
      val out = scala.collection.mutable.ArrayBuffer[String]()
      var i = 0
      while (i < syms.length) {
        if (i + 1 < syms.length && syms(i) == p1 && syms(i + 1) == p2) {
          out += (p1 + p2); i += 2
        } else { out += syms(i); i += 1 }
      }
      out.toVector
    }
    for (seed <- 1 to 5) {
      val words = (0 until 40).map { w =>
        val len = 1 + sample(Gen.choose(0, 7), seed * 1000 + w)
        (0 until len).map(i =>
          Seq("a", "b", "c")(sample(Gen.choose(0, 2), seed * 1000 + w * 13 + i)))
          .mkString
      }
      var dict = words.groupBy(identity).map { case (w, g) =>
        (w.map(_.toString).toVector, g.size.toLong)
      }.toVector
      val expect = (1 to 3).map { r =>
        val counts = scala.collection.mutable.Map[(String, String), Long]()
        dict.foreach { case (syms, f) =>
          syms.zip(syms.drop(1)).foreach(p =>
            counts(p) = counts.getOrElse(p, 0L) + f)
        }
        val ((p1, p2), cnt) = counts.toSeq
          .sortBy { case ((a, b), c) => (-c, a, b) }.head
        dict = dict.map { case (s, f) => (greedyMerge(s, p1, p2), f) }
        (r, p1, p2, p1 + p2, cnt)
      }
      // One doc per word occurrence — tokens arrive pre-split.
      val got = words.toDF("w")
        .bpeMergeTable(array(col("w")), numMerges = 3)
        .collect()
        .map(r => (r.getInt(0), r.getString(1), r.getString(2),
          r.getString(3), r.getLong(4)))
        .toSeq
      assert(got === expect, s"seed=$seed: bpe != reference trainer\n" +
        s"words=${words.mkString(" ")}")
    }
  }

  test("q_seq_pattern conversions are bounded by signups and purchases per user") {
    // Each `s[cv]*p` match consumes one signup and one purchase, so the
    // count can never exceed either; error bursts can't exceed errors.
    val byUser = Tables(spark, sfDir, "events")
      .groupBy("user_id")
      .agg(
        sum(when(col("event_type") === "signup", 1L).otherwise(0L)).as("ns"),
        sum(when(col("event_type") === "purchase", 1L).otherwise(0L)).as("np"),
        sum(when(col("event_type") === "error", 1L).otherwise(0L)).as("ne"),
        count(lit(1)).as("n"))
    val pat = operators.TimeWindows.seqPattern(spark, sfDir)
    val bad = pat.join(byUser, "user_id")
      .filter(col("n_conversions") > least(col("ns"), col("np")) ||
        col("n_error_bursts") > col("ne") ||
        col("n_events") =!= col("n"))
      .count()
    assert(bad === 0)
  }

  test("q_ts_decay is positive and bounded by the undecayed per-user sum") {
    val raw = Tables(spark, sfDir, "events")
      .groupBy("user_id").agg(sum("value").as("raw_sum"))
    val bad = operators.TimeWindows.tsDecay(spark, sfDir)
      .join(raw, "user_id")
      .filter(col("decayed_value") < 0 ||
        col("decayed_value") > col("raw_sum") + 0.01)
      .count()
    assert(bad === 0)
  }

  test("q_text_hashing_trick weights are unit-L2 per doc") {
    val bad = operators.TextAnalysis.textHashingTrick(spark, sfDir)
      .groupBy("doc_id")
      .agg(sum(col("weight") * col("weight")).as("sq"))
      .filter(abs(col("sq") - 1.0) > 0.01)
      .count()
    assert(bad === 0)
  }

  test("q_privacy_rr reported counts rebalance but total is conserved") {
    val r = operators.TextAnalysis.privacyRr(spark, sfDir)
      .agg(sum("n_true").as("t"), sum("n_reported").as("r")).head
    assert(r.getLong(0) === r.getLong(1))
  }

  test("CUSUM prefix-sum/running-min closed form equals the direct fold") {
    // q_ts_cusum relies on C_i = P_i - min(0, min_{j<=i} P_j) being
    // exactly the recurrence C_i = max(0, C_{i-1} + d_i). Prove it on
    // random integer series THROUGH the Spark windows the query uses.
    import spark.implicits._
    val series = (1 to 20).map { s =>
      s.toLong -> sample(Gen.listOfN(50, Gen.choose(-100L, 100L)), s)
    }
    val rows = series.flatMap { case (sid, ds) =>
      ds.zipWithIndex.map { case (d, i) => (sid, i.toLong, d) }
    }
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("sid").orderBy("i")
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
        org.apache.spark.sql.expressions.Window.currentRow)
    val viaWindows = rows.toDF("sid", "i", "d")
      .withColumn("p", sum(col("d")).over(w))
      .withColumn("c", col("p") - least(lit(0L), min(col("p")).over(w)))
      .select("sid", "i", "c").as[(Long, Long, Long)]
      .collect().map { case (s, i, c) => (s, i) -> c }.toMap
    series.foreach { case (sid, ds) =>
      var c = 0L
      ds.zipWithIndex.foreach { case (d, i) =>
        c = math.max(0L, c + d)
        assert(viaWindows((sid, i.toLong)) === c,
          s"series $sid diverges at $i")
      }
    }
  }

  test("streaming z-score algebra equals the classical (x-mean)/sigma") {
    // q_stream_anomaly scores with (n·x − Σx)/√(n·Σx² − (Σx)²); check
    // against the naive prior-window mean/population-σ on random data.
    val xs = sample(Gen.listOfN(200, Gen.choose(0L, 10000L)), 42)
    var n = 0L; var s1 = 0L; var s2 = 0L
    xs.foreach { x =>
      if (n >= 2) {
        val den2 = n * s2 - s1 * s1
        if (den2 > 0) {
          val fast = (n * x - s1).toDouble / math.sqrt(den2.toDouble)
          val mean = s1.toDouble / n
          val sd = math.sqrt(s2.toDouble / n - mean * mean)
          val naive = (x - mean) / sd
          assert(math.abs(fast - naive) < 1e-6, s"at n=$n x=$x")
        }
      }
      n += 1; s1 += x; s2 += x * x
    }
  }

  test("q_geo_grid_join grid pruning loses no pair vs brute force") {
    // The 3x3 neighbor explode must reproduce the exact brute-force
    // radius join — a pair straddling a cell border is the regression
    // this guards against.
    val grid = operators.Joins.geoGridJoin(spark, sfDir)
      .select("c_custkey", "s_suppkey")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val c = Tables(spark, sfDir, "customer")
      .select("c_custkey").collect().map(_.getLong(0))
    val s = Tables(spark, sfDir, "supplier")
      .select("s_suppkey").collect().map(_.getLong(0))
    def cxy(k: Long) = ((k * 2654435761L % 1000003L).toDouble / 1000003d,
      ((k * 40503L + 12345L) % 999983L).toDouble / 999983d)
    def sxy(k: Long) = (((k * 1500450271L + 7919L) % 1000003L).toDouble
      / 1000003d, ((k * 96002369L + 271L) % 999983L).toDouble / 999983d)
    val brute = (for {
      ck <- c; sk <- s
      (x, y) = cxy(ck); (sx, sy) = sxy(sk)
      if (x - sx) * (x - sx) + (y - sy) * (y - sy) <= 0.05 * 0.05
    } yield (ck, sk)).toSet
    assert(grid === brute)
  }

  test("q_sim_knn_graph: every anchor has exactly 3 ranked neighbors, none itself") {
    val g = operators.Similarity.simKnnGraph(spark, sfDir)
    assert(g.filter(col("src") === col("dst")).count() === 0)
    val bad = g.groupBy("src")
      .agg(count(lit(1)).as("k"), max("rank").as("mr"), min("rank").as("lo"))
      .filter(col("k") =!= 3 || col("mr") =!= 3 || col("lo") =!= 1)
      .count()
    assert(bad === 0)
  }

  test("holtSmooth on a constant series returns (level=c, trend=0) exactly") {
    import spark.implicits._
    import graft.api.ops._
    // With dyadic alpha=beta=0.5 the fold is exact: any constant
    // integer series fixes the level at c and the trend at 0.
    val cs = (1 to 20).map(i => sample(Gen.choose(1L, 1000000L), i * 13 + 1))
    val rows = cs.zipWithIndex.flatMap { case (c, k) =>
      (1 to 12).map(t => (s"s$k", t, c.toDouble)) }
    val out = rows.toDF("key", "t", "x")
      .holtSmooth(col("key"), col("t"), col("x"))
      .collect().map(r => r.getString(0) ->
        ((r.getDouble(2), r.getDouble(3)))).toMap
    cs.zipWithIndex.foreach { case (c, k) =>
      assert(out(s"s$k") === ((c.toDouble, 0.0)), s"series s$k c=$c")
    }
  }

  test("theilSenSlope recovers an exact linear trend for any integer slope") {
    import spark.implicits._
    import graft.api.ops._
    // x = a*t + b: every pairwise slope equals a, so the positional
    // median is a regardless of n or b.
    val abs2 = (1 to 15).map(i => (sample(Gen.choose(-500L, 500L), i * 3 + 2),
      sample(Gen.choose(-10000L, 10000L), i * 5 + 7)))
    val rows = abs2.zipWithIndex.flatMap { case ((a, b), k) =>
      (0 to 9).map(t => (s"s$k", t.toLong, a * t + b)) }
    val out = rows.toDF("key", "t", "x")
      .theilSenSlope(col("key"), col("t"), col("x"))
      .collect().map(r => r.getString(0) -> r.getDouble(2)).toMap
    abs2.zipWithIndex.foreach { case ((a, _), k) =>
      assert(out(s"s$k") === a.toDouble, s"series s$k a=$a")
    }
  }

  test("adamicAdar on complete bipartite K(2,m) scores every pair 2*floor(1e6/ln m)") {
    import spark.implicits._
    import graft.api.ops._
    for (m <- Seq(3, 5, 9)) {
      val edges = for (srcN <- Seq("c1", "c2"); d <- 1 to m)
        yield (srcN, s"d$d")
      val out = edges.toDF("src", "dst")
        .adamicAdar(col("src"), col("dst"), topK = 100).collect()
      val expected = 2L * math.floor(1e6 / math.log(m.toDouble)).toLong
      assert(out.length === m * (m - 1) / 2, s"m=$m pair count")
      out.foreach { r =>
        assert(r.getAs[Long]("n_common") === 2L, s"m=$m")
        assert(r.getAs[Long]("score_int") === expected,
          s"m=$m got ${r.getAs[Long]("score_int")} want $expected")
      }
    }
  }

  test("adamicAdar maxDeg cuts a planted mega-hub, leaves honest top-k intact") {
    import spark.implicits._
    import graft.api.ops._
    val rnd = new scala.util.Random(7)
    // honest bipartite graph: 40 srcs × ≤8 dsts
    val honest = for (s <- 1 to 40; d <- rnd.shuffle((1 to 30).toList)
      .take(2 + rnd.nextInt(7))) yield (s"c$s", s"d$d")
    // mega-hub: one crawler-like src touching EVERY dst — O(deg²)
    // pairs at negligible 1/ln(deg) weight, the quadratic skew bomb
    val hub = for (d <- 1 to 30) yield ("c_hub", s"d$d")
    val base = honest.toDF("src", "dst")
    val withHub = (honest ++ hub).toDF("src", "dst")
    def key(r: org.apache.spark.sql.Row) =
      (r.getString(0), r.getString(1), r.getLong(2), r.getLong(3))
    val uncapped = base.adamicAdar(col("src"), col("dst"), topK = 15)
      .collect().map(key)
    val capped = withHub
      .adamicAdar(col("src"), col("dst"), topK = 15, maxDeg = 10)
      .collect().map(key)
    // cap set below the hub's degree (30) and above every honest
    // src's (≤8): the capped run over poisoned data must equal the
    // uncapped run over clean data EXACTLY, scores included
    assert(capped.toSeq === uncapped.toSeq)
    intercept[IllegalArgumentException] {
      base.adamicAdar(col("src"), col("dst"), topK = 5, maxDeg = 1)
    }
  }

  test("butterflyCount maxDeg cuts a planted mega-hub and reports it") {
    import spark.implicits._
    import graft.api.ops._
    val rnd = new scala.util.Random(11)
    val honest = for (a <- 1 to 25; l <- rnd.shuffle((1 to 20).toList)
      .take(2 + rnd.nextInt(5))) yield (s"a$a", s"l$l")
    // mega-hub apex touching every leaf: C(20,2) = 190 poisoned wedges
    val hub = for (l <- 1 to 20) yield ("a_hub", s"l$l")
    val base = honest.toDF("apex", "leaf")
    val withHub = (honest ++ hub).toDF("apex", "leaf")
    val clean = base.butterflyCount(col("apex"), col("leaf")).head()
    val capped = withHub
      .butterflyCount(col("apex"), col("leaf"), maxDeg = 10).head()
    // cap below the hub's degree (20), above every honest apex's (≤7):
    // the capped census over poisoned data equals the clean census,
    // and the exclusion is REPORTED, never silent
    assert(clean.getAs[Long]("n_capped_hubs") === 0L)
    assert(capped.getAs[Long]("n_capped_hubs") === 1L)
    assert(capped.getAs[Long]("n_butterflies") ===
      clean.getAs[Long]("n_butterflies"))
    assert(capped.getAs[Long]("n_pairs") === clean.getAs[Long]("n_pairs"))
    intercept[IllegalArgumentException] {
      base.butterflyCount(col("apex"), col("leaf"), maxDeg = 1)
    }
  }

  test("minhash flags and kmeans rollups are invariant under repartitioning") {
    // The exact-arithmetic claims (md5+affine signatures, BIGINT
    // centroid sums) imply results cannot depend on how the input is
    // partitioned — the property that makes the DuckDB oracles valid
    // on a cluster of ANY size. Prove it: 1 partition vs 13.
    import spark.implicits._
    import graft.api.ops._
    val rnd = new scala.util.Random(23)
    val docs = (0 until 60).map { i =>
      val base = Seq.fill(8 + rnd.nextInt(8))(s"w${rnd.nextInt(30)}")
      (i.toLong, base.distinct)
    }
    val df1 = docs.toDF("doc_id", "tokset").repartition(1)
    val df13 = docs.toDF("doc_id", "tokset").repartition(13)
    def flags(d: org.apache.spark.sql.DataFrame) =
      d.minhashDedupFlags(col("doc_id"), col("tokset"),
        threshold = 0.8, numHashes = 32, bands = 4)
        .collect().map(r => (r.getLong(0), r.getBoolean(1)))
        .sortBy(_._1).toSeq
    assert(flags(df1) === flags(df13))
  }

  test("Bmp codec: encode/decode roundtrip, top-down variant, corrupt input") {
    import graft.operators.Bmp
    val rnd = new scala.util.Random(3)
    // widths 4..11 cover every stride-padding residue (w*3 mod 4)
    for (w <- 4 to 11; h <- Seq(3, 8)) {
      val channels = Array.fill(3 * w * h)(rnd.nextInt(256))
      val bmp = Bmp.encode(w, h, channels)
      assert(bmp(0) === 'B'.toByte && bmp(1) === 'M'.toByte)
      assert(bmp.length === 54 + ((w * 3 + 3) / 4 * 4) * h)
      val (w2, h2, back) = Bmp.decode(bmp)
      assert((w2, h2) === ((w, h)), s"dims w=$w h=$h")
      assert(back.toSeq === channels.toSeq, s"pixels w=$w h=$h")
    }
    // a TOP-DOWN BMP (negative height) decodes to the same image:
    // flip the encoder's bottom-up rows and negate the height field
    val channels = Array.tabulate(3 * 5 * 4)(identity).map(_ % 256)
    val bu = Bmp.encode(5, 4, channels)
    val stride = (5 * 3 + 3) / 4 * 4
    val td = bu.clone()
    val negH = -4
    td(22) = (negH & 0xff).toByte; td(23) = ((negH >> 8) & 0xff).toByte
    td(24) = ((negH >> 16) & 0xff).toByte
    td(25) = ((negH >> 24) & 0xff).toByte
    for (y <- 0 until 4; i <- 0 until stride)
      td(54 + y * stride + i) = bu(54 + (3 - y) * stride + i)
    val (_, _, fromTd) = Bmp.decode(td)
    assert(fromTd.toSeq === channels.toSeq, "top-down decode")
    // corrupt containers fail loudly, never yield wrong features
    intercept[IllegalArgumentException] {
      Bmp.decode("not a bitmap at all".getBytes("UTF-8"))
    }
    intercept[IllegalArgumentException] {
      Bmp.decode(bu.take(60)) // truncated pixel data
    }
  }

  test("Wav codec: encode/decode roundtrip, chunk-walk, corrupt input") {
    import graft.operators.Wav
    val rnd = new scala.util.Random(5)
    for (n <- Seq(1, 7, 200, 299)) {
      val samples = Array.fill(n)(rnd.nextInt(65536).toShort)
      val wav = Wav.encode(8000, samples)
      assert(wav.length === 44 + n * 2)
      val (rate, back) = Wav.decode(wav)
      assert(rate === 8000)
      assert(back.toSeq === samples.toSeq, s"n=$n")
    }
    // a container with an extra unknown chunk BEFORE data still
    // decodes (the RIFF chunk walk must skip, not reject)
    val samples = Array[Short](100, -200, 300)
    val base = Wav.encode(44100, samples)
    val extra = Array[Byte]('L', 'I', 'S', 'T', 4, 0, 0, 0, 1, 2, 3, 4)
    val withChunk = base.take(36) ++ extra ++ base.drop(36)
    // fix RIFF size field
    val sz = withChunk.length - 8
    withChunk(4) = (sz & 0xff).toByte
    withChunk(5) = ((sz >> 8) & 0xff).toByte
    val (r2, b2) = Wav.decode(withChunk)
    assert(r2 === 44100 && b2.toSeq === samples.toSeq)
    intercept[IllegalArgumentException] {
      Wav.decode("RIFFxxxxWAVEbroken".getBytes("US-ASCII"))
    }
  }

  test("basketPairs maxBasket cuts a planted mega-basket, honest counts intact") {
    import spark.implicits._
    import graft.api.ops._
    val rnd = new scala.util.Random(11)
    val honest = for (o <- 1 to 50; p <- rnd.shuffle((1 to 25).toList)
      .take(2 + rnd.nextInt(5))) yield (o.toLong, p.toLong)
    // a catalog-export "order" containing every item
    val mega = for (p <- 1 to 25) yield (999L, p.toLong)
    val base = honest.toDF("o", "p")
    val withMega = (honest ++ mega).toDF("o", "p")
    def key(r: org.apache.spark.sql.Row) =
      (r.getLong(0), r.getLong(1), r.getLong(2))
    val clean = base.basketPairs(col("o"), col("p"), maxBasket = 10)
      .collect().map(key).sortBy(identity)
    val guarded = withMega.basketPairs(col("o"), col("p"), maxBasket = 10)
      .collect().map(key).sortBy(identity)
    assert(guarded.toSeq === clean.toSeq)
    // uncapped over poisoned data: the mega-basket inflates counts
    val unguarded = withMega
      .basketPairs(col("o"), col("p"), maxBasket = 1000)
      .collect().map(key).sortBy(identity)
    assert(unguarded.toSeq !== clean.toSeq)
    // duplicate memberships collapse before expansion (the distinct)
    val dup = (honest ++ honest).toDF("o", "p")
      .basketPairs(col("o"), col("p"), maxBasket = 10)
      .collect().map(key).sortBy(identity)
    assert(dup.toSeq === clean.toSeq)
    intercept[IllegalArgumentException] {
      base.basketPairs(col("o"), col("p"), maxBasket = 0)
    }
  }

  test("q_ts_changepoint matches a driver-side brute-force argmax") {
    // The scored query's windowed argmax vs an independent sequential
    // recomputation of gain(k) = S_k²/k + (S−S_k)²/(n−k) − S²/n over
    // the same hourly series (bounded: types × hours rows). Ties go
    // to the earliest split in both (strict > keeps the first max).
    val hourly = Tables(spark, sfDir, "events")
      .groupBy(col("event_type"), date_trunc("hour", col("ts")).as("hr"))
      .agg(count(lit(1)).as("x"))
      .collect()
      .map(r => (r.getString(0), r.getTimestamp(1), r.getLong(2)))
    val expected = hourly.groupBy(_._1).map { case (t, rows) =>
      val xs = rows.sortBy(_._2.getTime).map(_._3)
      val n = xs.length
      val s = xs.sum
      var bestK = -1
      var bestGain = Double.NegativeInfinity
      var sk = 0L
      for (k <- 1 until n) {
        sk += xs(k - 1)
        val gain =
          sk.toDouble * sk.toDouble / k.toDouble +
            (s - sk).toDouble * (s - sk).toDouble / (n - k).toDouble -
            s.toDouble * s.toDouble / n.toDouble
        if (gain > bestGain) { bestGain = gain; bestK = k }
      }
      t -> ((bestK.toLong, n.toLong,
        math.floor(bestGain * 10000 + 0.5) / 10000))
    }
    val got = SparkEntry.queries("q_ts_changepoint")(spark, sfDir).collect()
    assert(got.length === expected.size)
    got.foreach { r =>
      val t = r.getAs[String]("event_type")
      val (k, n, g) = expected(t)
      assert(r.getAs[Long]("k") === k, s"type=$t split")
      assert(r.getAs[Long]("n") === n, s"type=$t length")
      assert(r.getAs[Double]("gain") === g, s"type=$t gain")
    }
  }

  test("q_ts_motif matches a driver-side brute-force nearest pair") {
    // Independent sequential recomputation of the motif: all 24-hour
    // windows per type, zero-variance windows gated by the exact
    // integer inequality n·Σx² == (Σx)², all non-overlapping pairs
    // (j − i ≥ 24), distance via the MASS identity dist² = 2w −
    // 2·(dot − w·μaμb)/(σaσb) with the dot product as the same
    // sequential left fold, clamped at 0, 4dp half-up rounding
    // BEFORE the argmin, ties to the smallest (i, j).
    val w = 24
    val hourly = Tables(spark, sfDir, "events")
      .groupBy(col("event_type"), date_trunc("hour", col("ts")).as("hr"))
      .agg(count(lit(1)).as("x"))
      .collect()
      .map(r => (r.getString(0), r.getTimestamp(1), r.getLong(2)))
    val fmt = new java.text.SimpleDateFormat("yyyy-MM-dd HH:mm:ss")
    fmt.setTimeZone(java.util.TimeZone.getTimeZone("UTC"))
    val expected = hourly.groupBy(_._1).flatMap { case (t, rows) =>
      val series = rows.sortBy(_._2.getTime)
      val xs = series.map(_._3)
      val wins = (0 to xs.length - w).flatMap { i0 =>
        val v = xs.slice(i0, i0 + w)
        val s1 = v.sum
        val s2 = v.map(x => x * x).sum
        if (s2 * w == s1 * s1) None
        else {
          val mu = s1.toDouble / w
          val sg = math.sqrt((s2.toDouble - s1.toDouble * s1.toDouble / w) / w)
          Some((i0 + 1, series(i0)._2, v, mu, sg))
        }
      }
      var best: Option[(Double, Int, Int, String, String)] = None
      for ((i, hrA, va, mua, sga) <- wins; (j, hrB, vb, mub, sgb) <- wins
           if j - i >= w) {
        var dot = 0.0
        for (k <- 0 until w) dot += va(k).toDouble * vb(k).toDouble
        val d2 = math.max(
          2.0 * w - 2.0 * ((dot - w.toDouble * mua * mub) / (sga * sgb)),
          0.0)
        val dist = math.floor(math.sqrt(d2) * 10000 + 0.5) / 10000
        val cand = (dist, i, j, fmt.format(hrA), fmt.format(hrB))
        val better = best.forall { b =>
          dist < b._1 || (dist == b._1 && (i < b._2 ||
            (i == b._2 && j < b._3)))
        }
        if (better) best = Some(cand)
      }
      best.map(b => t -> b)
    }
    val got = SparkEntry.queries("q_ts_motif")(spark, sfDir).collect()
    assert(got.length === expected.size)
    got.foreach { r =>
      val t = r.getAs[String]("event_type")
      val (dist, _, _, ma, mb) = expected(t)
      assert(r.getAs[String]("motif_a") === ma, s"type=$t motif_a")
      assert(r.getAs[String]("motif_b") === mb, s"type=$t motif_b")
      assert(r.getAs[Double]("dist") === dist, s"type=$t dist")
    }
  }

  test("q_join_asof_nearest matches a driver-side nearest scan") {
    // Independent recomputation: per user, sorted order dates; per
    // event, binary-search the nearest (backward wins exact ties,
    // same-instant orders are backward matches at gap 0).
    val fmtD = new java.text.SimpleDateFormat("yyyy-MM-dd")
    fmtD.setTimeZone(java.util.TimeZone.getTimeZone("UTC"))
    // orders are timestamp_ntz (LocalDateTime rows), events plain
    // timestamp — read either as UTC epoch micros
    def us(v: Any): Long = v match {
      case t: java.sql.Timestamp =>
        math.floorDiv(t.getTime, 1000L) * 1000000L + t.getNanos / 1000L
      case d: java.time.LocalDateTime =>
        d.toEpochSecond(java.time.ZoneOffset.UTC) * 1000000L +
          d.getNano / 1000L
    }
    val orders = Tables(spark, sfDir, "orders")
      .select(col("o_custkey"), col("o_orderdate")).collect()
      .map(r => (r.getLong(0), us(r.get(1))))
      .groupBy(_._1).map { case (k, v) => k -> v.map(_._2).sorted }
    val got = SparkEntry.queries("q_join_asof_nearest")(spark, sfDir)
      .select("event_id", "user_id", "nearest_order_date", "dir",
        "gap_us").collect()
    val evs = Tables(spark, sfDir, "events")
      .select(col("event_id"), col("user_id"), col("ts")).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), us(r.get(2)))).toMap
    assert(got.nonEmpty)
    var checkedFwd = 0
    var checkedBwd = 0
    got.foreach { r =>
      val (uid, tus) = evs(r.getAs[Long]("event_id"))
      val ods = orders.getOrElse(uid, Array.empty[Long])
      if (ods.isEmpty) {
        assert(r.getAs[String]("dir") === "none")
        assert(r.getAs[Long]("gap_us") === -1L)
      } else {
        val prev = ods.filter(_ <= tus).lastOption
        val nxt = ods.filter(_ > tus).headOption
        val (dir, gap, pick) = (prev, nxt) match {
          case (Some(p), None) => ("backward", tus - p, p)
          case (None, Some(n)) => ("forward", n - tus, n)
          case (Some(p), Some(n)) =>
            if (tus - p <= n - tus) ("backward", tus - p, p)
            else ("forward", n - tus, n)
          case (None, None) => ("none", -1L, 0L)
        }
        assert(r.getAs[String]("dir") === dir, s"event ${r.get(0)}")
        assert(r.getAs[Long]("gap_us") === gap, s"event ${r.get(0)}")
        assert(r.getAs[String]("nearest_order_date") ===
          fmtD.format(new java.util.Date(pick / 1000L)))
        if (dir == "forward") checkedFwd += 1 else checkedBwd += 1
      }
    }
    // this corpus is backward-only (events postdate every order), so
    // the forward / exact-tie branches are pinned by the PLANTED
    // fixture below, not here
    assert(checkedBwd > 0)
  }

  test("nearestAsofCore: planted forward, tie, and same-instant cases") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    // key 1: point strictly after (forward); key 2: equidistant pair
    // (backward wins the tie); key 3: same-instant point (backward,
    // gap 0); key 4: no points (none).
    val probes = Seq(
      (1L, ts("2020-01-01 10:00:00"), 100L),
      (2L, ts("2020-01-01 12:00:00"), 200L),
      (3L, ts("2020-01-01 08:00:00"), 300L),
      (4L, ts("2020-01-01 09:00:00"), 400L))
      .toDF("k", "t", "event_id")
    val points = Seq(
      (1L, ts("2020-01-01 11:30:00")),
      (2L, ts("2020-01-01 11:00:00")),
      (2L, ts("2020-01-01 13:00:00")),
      (3L, ts("2020-01-01 08:00:00")))
      .toDF("k", "odate")
    val out = graft.operators.Joins.nearestAsofCore(probes, points)
      .select(col("event_id"), col("dir"), col("gap_us"))
      .collect().map(r => r.getLong(0) ->
        (r.getString(1), r.getLong(2))).toMap
    assert(out(100L) === ("forward", 5400L * 1000000L))
    assert(out(200L) === ("backward", 3600L * 1000000L)) // tie → past
    assert(out(300L) === ("backward", 0L)) // same instant
    assert(out(400L) === ("none", -1L))
  }

  test("q_ts_backtest matches a driver-side Holt recursion") {
    // Independent sequential recomputation of the one-step backtest:
    // the same α = β = 0.5 recursion, SAE accumulated in series
    // order, naive lag-1 SAE on exact integers.
    val hourly = Tables(spark, sfDir, "events")
      .groupBy(col("event_type"), date_trunc("hour", col("ts")).as("hr"))
      .agg(count(lit(1)).as("x"))
      .collect()
      .map(r => (r.getString(0), r.getTimestamp(1), r.getLong(2)))
    val expected = hourly.groupBy(_._1).map { case (t, rows) =>
      val xs = rows.sortBy(_._2.getTime).map(_._3)
      var l = xs.head.toDouble
      var b = 0.0
      var sae = 0.0
      var naive = 0L
      for (i <- 1 until xs.length) {
        val x = xs(i).toDouble
        sae += math.abs(x - (l + b))
        val l2 = 0.5 * x + 0.5 * (l + b)
        b = 0.5 * (l2 - l) + 0.5 * b
        l = l2
        naive += math.abs(xs(i) - xs(i - 1))
      }
      val n = xs.length
      t -> ((n.toLong,
        math.floor(sae / (n - 1).toDouble * 10000 + 0.5) / 10000,
        math.floor(sae / naive.toDouble * 10000 + 0.5) / 10000))
    }
    val got = SparkEntry.queries("q_ts_backtest")(spark, sfDir).collect()
    assert(got.length === expected.size)
    got.foreach { r =>
      val t = r.getAs[String]("event_type")
      val (n, mae, mase) = expected(t)
      assert(r.getAs[Long]("n_hours") === n, s"type=$t n")
      assert(r.getAs[Double]("mae") === mae, s"type=$t mae")
      assert(r.getAs[Double]("mase") === mase, s"type=$t mase")
    }
  }

  test("q_stats_levene matches a driver-side brute-force W") {
    // Histogram-median + ANOVA-on-|z| algebra vs a naive driver
    // recomputation: per-type lower median over sorted cents, exact
    // BIGINT z sufficient statistics, the between-group fold in
    // type order, the same W float shape.
    val rows = Tables(spark, sfDir, "events")
      .select(col("event_type"),
        floor(col("value") * 100 + 0.5).cast("long").as("c"))
      .collect().map(r => (r.getString(0), r.getLong(1)))
    val byT = rows.groupBy(_._1).toSeq.sortBy(_._1)
    val stats = byT.map { case (t, rs) =>
      val cs = rs.map(_._2).sorted
      val med = cs((cs.length + 1) / 2 - 1) // lower median, 1-based pos
      val zs = cs.map(x => math.abs(x - med))
      (t, zs.length.toLong, zs.sum, zs.map(z => z * z).sum)
    }
    val k = stats.length
    val n = stats.map(_._2).sum
    val s = stats.map(_._3).sum
    val q = stats.map(_._4).sum
    var sbRaw = 0.0
    stats.foreach { case (_, ng, sg, _) =>
      sbRaw += sg.toDouble * sg / ng
    }
    val w = ((sbRaw - s.toDouble * s / n) / (k - 1)) /
      ((q.toDouble - sbRaw) / (n - k))
    val got = SparkEntry.queries("q_stats_levene")(spark, sfDir).collect()
    assert(got.length === 1)
    assert(got(0).getAs[Long]("k") === k.toLong)
    assert(got(0).getAs[Long]("n") === n)
    assert(got(0).getAs[Double]("w_stat") ===
      math.floor(w * 10000) / 10000)
  }

  test("q_graph_clustering matches a driver-side brute-force cc") {
    // The wedge-closure triangle count + cc algebra vs a naive
    // adjacency-set recomputation over the SAME edge list (the edge
    // build — jaccardPairs — has its own specs and oracle; this pins
    // the graph part: per-node triangle counts and 2T/(d(d−1))).
    import graft.api.ops._
    val d = Tables(spark, sfDir, "documents")
      .filter(col("doc_id") % 5 === 0)
      .select(col("doc_id"), col("lang"),
        array_distinct(split(col("text"), " ")).as("tokset"))
    val edges = d.jaccardPairs(col("doc_id"), col("tokset"), col("lang"),
        threshold = 0.8, maxDf = 1000)
      .select("d1", "d2").collect().map(r => (r.getLong(0), r.getLong(1)))
    val adj = scala.collection.mutable.Map.empty[Long, Set[Long]]
      .withDefaultValue(Set.empty)
    edges.foreach { case (a, b) =>
      adj(a) = adj(a) + b; adj(b) = adj(b) + a
    }
    val expected = adj.collect { case (v, ns) if ns.size >= 2 =>
      val nsSeq = ns.toSeq
      var t = 0L
      for (i <- nsSeq.indices; j <- (i + 1) until nsSeq.size)
        if (adj(nsSeq(i)).contains(nsSeq(j))) t += 1
      val dg = ns.size
      v -> ((dg.toLong, t,
        math.floor(2.0 * t / (dg.toDouble * (dg.toDouble - 1))
          * 10000 + 0.5) / 10000))
    }.toMap
    val got = SparkEntry.queries("q_graph_clustering")(spark, sfDir).collect()
    assert(got.length === expected.size)
    got.foreach { r =>
      val v = r.getAs[Long]("doc_id")
      val (dg, t, cc) = expected(v)
      assert(r.getAs[Long]("degree") === dg, s"node=$v degree")
      assert(r.getAs[Long]("n_triangles") === t, s"node=$v triangles")
      assert(r.getAs[Double]("cc") === cc, s"node=$v cc")
    }
  }

  test("q_ts_discord matches a driver-side brute-force farthest-nn") {
    // Independent recomputation of the discord: per window, the min
    // MASS-identity distance over BOTH directions (|j − i| ≥ 24,
    // each pair distance 4dp-rounded first), then the per-type
    // argmax with (max nn_dist, earliest i) ties.
    val w = 24
    val hourly = Tables(spark, sfDir, "events")
      .groupBy(col("event_type"), date_trunc("hour", col("ts")).as("hr"))
      .agg(count(lit(1)).as("x"))
      .collect()
      .map(r => (r.getString(0), r.getTimestamp(1), r.getLong(2)))
    val fmt = new java.text.SimpleDateFormat("yyyy-MM-dd HH:mm:ss")
    fmt.setTimeZone(java.util.TimeZone.getTimeZone("UTC"))
    val expected = hourly.groupBy(_._1).flatMap { case (t, rows) =>
      val series = rows.sortBy(_._2.getTime)
      val xs = series.map(_._3)
      val wins = (0 to xs.length - w).flatMap { i0 =>
        val v = xs.slice(i0, i0 + w)
        val s1 = v.sum
        val s2 = v.map(x => x * x).sum
        if (s2 * w == s1 * s1) None
        else {
          val mu = s1.toDouble / w
          val sg = math.sqrt((s2.toDouble - s1.toDouble * s1.toDouble / w) / w)
          Some((i0 + 1, series(i0)._2, v, mu, sg))
        }
      }
      val nn = wins.flatMap { case (i, hrA, va, mua, sga) =>
        val ds = wins.collect {
          case (j, _, vb, mub, sgb) if math.abs(j - i) >= w =>
            var dot = 0.0
            for (k <- 0 until w) dot += va(k).toDouble * vb(k).toDouble
            val d2 = math.max(
              2.0 * w - 2.0 * ((dot - w.toDouble * mua * mub) / (sga * sgb)),
              0.0)
            math.floor(math.sqrt(d2) * 10000 + 0.5) / 10000
        }
        if (ds.isEmpty) None else Some((i, fmt.format(hrA), ds.min))
      }
      if (nn.isEmpty) None
      else {
        var best = nn.head
        for (c <- nn.tail)
          if (c._3 > best._3 || (c._3 == best._3 && c._1 < best._1)) best = c
        Some(t -> best)
      }
    }
    val got = SparkEntry.queries("q_ts_discord")(spark, sfDir).collect()
    assert(got.length === expected.size)
    got.foreach { r =>
      val t = r.getAs[String]("event_type")
      val (_, hr, d) = expected(t)
      assert(r.getAs[String]("discord_hour") === hr, s"type=$t hour")
      assert(r.getAs[Double]("nn_dist") === d, s"type=$t nn_dist")
    }
  }

  test("TxnLog OCC: two writers racing commit(checkpointEvery=1) — " +
      "each version has exactly one winner, losers conflict loudly, " +
      "a concurrent reader never errors or reads a torn set") {
    import graft.sources.TxnLog
    import graft.operators.Scans
    import spark.implicits._
    val base = Scans.tmpPath(spark, "txnlog_occ_race")
    def wipe(f: java.io.File): Unit = {
      if (f.isDirectory) f.listFiles().foreach(wipe)
      f.delete(): Unit
    }
    wipe(new java.io.File(base))
    // Pre-write all data files on the main thread (Spark writes are
    // not the system under test); the racing threads only do TxnLog
    // metadata commits — the OCC protocol itself.
    val perWriter = 6
    for (w <- 0 until 2; i <- 0 until perWriter)
      Seq((w * 100L + i, s"w${w}c$i")).toDF("k", "s")
        .write.parquet(s"$base/w${w}_$i")
    val conflicts = new java.util.concurrent.atomic.AtomicInteger(0)
    val failure = new java.util.concurrent.atomic.AtomicReference[String](null)
    def writer(w: Int): Thread = new Thread(() => {
      try (0 until perWriter).foreach { i =>
        var committed = false
        var tries = 0
        while (!committed) {
          val rv = TxnLog.latestVersion(spark, base)
          try {
            TxnLog.commit(spark, base, rv,
              TxnLog.partFiles(spark, base, s"w${w}_$i"),
              checkpointEvery = 1)
            committed = true
          } catch {
            case _: TxnLog.VersionConflictException =>
              conflicts.incrementAndGet()
              tries += 1
              if (tries > 200) throw new IllegalStateException(
                s"writer $w commit $i starved after 200 conflicts")
          }
        }
      } catch { case t: Throwable => failure.compareAndSet(null,
        s"writer $w died: $t"): Unit }
    })
    val stop = new java.util.concurrent.atomic.AtomicBoolean(false)
    val reader = new Thread(() => {
      try while (!stop.get() && failure.get() == null) {
        // default-version head read: exercises latestVersion +
        // checkpoint-seeded replay concurrently with both writers
        val v = TxnLog.latestVersion(spark, base)
        if (v >= 0) {
          val n = TxnLog.filesAsOf(spark, base, v).size
          // every commit adds exactly one file, none removes: live
          // count at version v must be exactly v + 1 — any other
          // value is a torn/partial read
          if (n != v + 1) failure.compareAndSet(null,
            s"torn read: version $v has $n live files, want ${v + 1}"): Unit
        }
      } catch { case t: Throwable => failure.compareAndSet(null,
        s"reader died: $t"): Unit }
    })
    val ws = Seq(writer(0), writer(1))
    reader.start(); ws.foreach(_.start()); ws.foreach(_.join(120000))
    stop.set(true); reader.join(30000)
    assert(failure.get() == null, String.valueOf(failure.get()))
    // exactly one winner per version slot, all 12 commits landed
    assert(TxnLog.latestVersion(spark, base) === 2 * perWriter - 1)
    val live = TxnLog.readAsOf(spark, base).select("k").as[Long]
      .collect().sorted
    assert(live.length === 2 * perWriter, "every commit's file is live")
    assert(live.toSeq ===
      (for (w <- 0 until 2; i <- 0 until perWriter)
        yield w * 100L + i).sorted)
    // the log directory holds exactly one version file per slot (no
    // overwrites) plus checkpoints
    val names = new java.io.File(base, "_graft_log").list().toSeq
    val versions = names.filter(_.matches("""\d{8}\.json"""))
    assert(versions.size === 2 * perWriter)
    info(s"observed ${conflicts.get()} OCC conflicts across the race")
  }

  test("PinBridge: pin through an aliased-key join keeps layout, rows, " +
      "and releases its blocks") {
    // The RemoveRedundantAliases shape: the pin's plan joins on an
    // ALIASED key, so the optimizer rewrites attribute ids inside the
    // checkpointed plan — exactly the gap that made the stock
    // Dataset.checkpoint record a partitioning its own output can't
    // satisfy. The pin must (a) claim a HashPartitioning that maps
    // onto ITS OWN output attributes, (b) let a keyed consumer that
    // references it twice plan with no exchange, (c) return
    // byte-identical rows, and (d) free its blocks on releasePin.
    import spark.implicits._
    import graft.api.ops._
    import org.apache.spark.sql.execution.LogicalRDD
    import org.apache.spark.sql.catalyst.plans.physical.HashPartitioning
    GraftSession.withConf(spark,
        // a 1-byte pin grain forces >1 part; no broadcast, so the self
        // join below needs both sides' layout
        "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "16b",
        "spark.sql.autoBroadcastJoinThreshold" -> "-1") {
      val left = (0L until 200L).map(i => (i, i % 7)).toDF("k", "v")
        .select(col("k").as("kk"), col("v")) // the alias under test
      val right = (0L until 200L by 2L).map(i => (i, i * 3)).toDF("kk", "w")
      val joined = left.join(right, "kk")
      val expected = joined.collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sorted
      val pinned = pinLineage(byKey(joined, col("kk")))
      // (a) claimed layout is a hash layout over the pin's own output
      val lrdd = pinned.queryExecution.analyzed.asInstanceOf[LogicalRDD]
      lrdd.outputPartitioning match {
        case h: HashPartitioning =>
          assert(h.references.subsetOf(lrdd.outputSet),
            s"claimed layout references foreign attrs: $h vs ${lrdd.output}")
        case p => fail(s"expected a claimed HashPartitioning, got $p")
      }
      // (b) a self join on the key, then a keyed aggregate, plans no
      // exchange: relation dedup re-aliases the second reference with
      // `LogicalRDD.newInstance()`, which in Spark 4.1.2 rewrites the
      // claimed layout onto the new attributes
      val agg = pinned.join(pinned.select(col("kk"), col("w").as("w2")), "kk")
        .groupBy("kk").agg(sum("w2").as("sw"))
      val pp = agg.queryExecution.executedPlan.toString
      assert(pp.contains("SortMergeJoin"), pp)
      assert(!pp.contains("Exchange hashpartitioning"),
        s"consumer re-exchanged the pinned frame:\n$pp")
      // (c) row identity through the pin
      val got = pinned.collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sorted
      assert(got === expected)
      // (d) release drops the blocks from the persistent-RDD registry
      val rddId = lrdd.rdd.id
      assert(spark.sparkContext.getPersistentRDDs.contains(rddId))
      releasePin(pinned)
      assert(!spark.sparkContext.getPersistentRDDs.contains(rddId),
        "releasePin left the pin's RDD registered")
    }
  }
}
