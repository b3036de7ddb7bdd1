package graft

import org.apache.spark.sql.functions._

/** Bucketed co-located joins — at 100 TB the shuffle in a fact⋈fact
  * join dominates the query; bucketing both tables on the join key at
  * write time removes it entirely (both sides are already hash-
  * partitioned on disk). This spec proves the engine's plans exploit
  * that: the bucketed join has NO Exchange ahead of the join, and the
  * result is identical to the shuffled join.
  */
class BucketingSpec extends SparkSpec {

  test("bucketed fact join runs shuffle-free and matches the plain join") {
    val li = Tables(spark, sfDir, "lineitem")
      .select("l_orderkey", "l_quantity", "l_extendedprice")
    val ord = Tables(spark, sfDir, "orders")
      .select("o_orderkey", "o_totalprice")
    li.write.mode("overwrite").bucketBy(8, "l_orderkey")
      .sortBy("l_orderkey").saveAsTable("li_b")
    ord.write.mode("overwrite").bucketBy(8, "o_orderkey")
      .sortBy("o_orderkey").saveAsTable("ord_b")
    // Force the shuffle-join comparison point: no broadcast.
    try GraftSession.withConf(spark,
        "spark.sql.autoBroadcastJoinThreshold" -> "-1") {
      val bucketed = spark.table("li_b")
        .join(spark.table("ord_b"), col("l_orderkey") === col("o_orderkey"))
      val plan = bucketed.queryExecution.executedPlan.toString
      assert(plan.contains("SortMergeJoin"), plan)
      assert(!plan.contains("Exchange"),
        s"bucketed join still shuffles:\n$plan")
      val plain = li.join(ord, col("l_orderkey") === col("o_orderkey"))
      assert(bucketed.count() === plain.count())
      val b = bucketed.agg(sum("l_quantity"), sum("o_totalprice")).head
      val p = plain.agg(sum("l_quantity"), sum("o_totalprice")).head
      assert(math.abs(b.getDouble(0) - p.getDouble(0)) < 1e-6)
      assert(math.abs(b.getDouble(1) - p.getDouble(1)) < 1e-4)
    } finally {
      spark.sql("DROP TABLE IF EXISTS li_b")
      spark.sql("DROP TABLE IF EXISTS ord_b")
    }
  }

  test("sorted range-partitioned write yields disjoint per-file ranges") {
    // The q_sink_sorted layout claim: after repartitionByRange +
    // sortWithinPartitions, each parquet file covers a DISJOINT
    // o_orderdate interval, so footer min/max prunes a time-range
    // scan to ~1/N of the files. Verify from the data itself:
    // per-file [min, max] intervals must not overlap.
    val tmp = graft.operators.Scans.tmpPath(spark, "graft_sorted_spec")
    try {
      Tables(spark, sfDir, "orders")
        .select(col("o_orderkey"), col("o_orderdate"))
        .repartitionByRange(8, col("o_orderdate"))
        .sortWithinPartitions("o_orderdate", "o_orderkey")
        .write.mode("overwrite").parquet(tmp)
      val ranges = spark.read.parquet(tmp)
        .groupBy(input_file_name().as("f"))
        .agg(min(unix_timestamp(col("o_orderdate"))).as("lo"),
          max(unix_timestamp(col("o_orderdate"))).as("hi"))
        .orderBy("lo")
        .collect().map(r => (r.getLong(1), r.getLong(2)))
      assert(ranges.length > 1, "expected multiple files")
      ranges.sliding(2).foreach { case Array((_, hi), (lo, _)) =>
        assert(hi <= lo,
          s"file ranges overlap: prev hi=$hi next lo=$lo")
      }
    } finally {
      org.apache.commons.io.FileUtils
        .deleteDirectory(new java.io.File(tmp))
    }
  }

  test("z-order layout bounds per-file ranges on BOTH dimensions") {
    // The q_lake_zorder layout claim: sorting by the Morton value
    // co-clusters both dims, so every file's min/max footer stats are
    // selective for predicates on EITHER column. A linear sort on ux
    // gets ~the same ux clustering but its per-file vy range spans
    // the whole domain — no skipping on the second dim. Measured from
    // the data (sum of per-file ranges, lower = more skippable).
    import graft.api.ops
    val base = Tables(spark, sfDir, "events")
      .withColumn("ux", pmod(col("user_id"), lit(256)).cast("long"))
      .withColumn("vy", pmod(floor(col("value")).cast("long"), lit(256)))
    def rangeSums(sorted: org.apache.spark.sql.DataFrame): (Long, Long, Long) = {
      val tmp = graft.operators.Scans.tmpPath(spark,
        s"graft_zorder_spec-${java.util.UUID.randomUUID()}")
      try {
        sorted.write.mode("overwrite").parquet(tmp)
        val r = spark.read.parquet(tmp)
          .groupBy(input_file_name())
          .agg((max("ux") - min("ux")).as("rx"),
            (max("vy") - min("vy")).as("ry"))
          .agg(sum("rx"), sum("ry"), count(lit(1))).head
        (r.getLong(0), r.getLong(1), r.getLong(2))
      } finally {
        org.apache.commons.io.FileUtils
          .deleteDirectory(new java.io.File(tmp))
      }
    }
    val dom = base.agg(max("ux") - min("ux"), max("vy") - min("vy")).head
    val (dx, dy) = (dom.getLong(0), dom.getLong(1))
    // Interleaving only clusters when both dims contribute comparable
    // bit widths — so normalize each dim to 16 equal-width buckets of
    // its own domain first (what OPTIMIZE ZORDER's range-id pass
    // does), then interleave 4+4 bits. Stats stay on the RAW columns.
    val (zx, zy, zn) = rangeSums(base
      .withColumn("z", ops.zValue(
        floor(col("ux") * 16 / (dx + 1)).cast("long"),
        floor(col("vy") * 16 / (dy + 1)).cast("long"), 4))
      .repartitionByRange(16, col("z")).sortWithinPartitions("z"))
    val (lx, ly, _) = rangeSums(base
      .repartitionByRange(16, col("ux")).sortWithinPartitions("ux"))
    // Linear sort wins outright on its own key...
    assert(lx < zx)
    // ...but its trailing dim degenerates (each file spans ~the whole
    // vy domain), while z-order must stay selective on BOTH dims:
    // every file a bounded patch of the (ux, vy) plane — strictly
    // better than the linear layout's blowup on vy, and under half
    // the no-clustering-at-all bound (files × domain) on each dim.
    assert(zy < ly / 2,
      s"z-order vy range sum $zy not better than linear's $ly")
    assert(zx < zn * dx / 2,
      s"z-order ux range sum $zx ~unclustered (files=$zn, domain=$dx)")
    assert(zy < zn * dy / 2,
      s"z-order vy range sum $zy ~unclustered (files=$zn, domain=$dy)")
  }

  test("small-file compaction: 16 fragment files -> 1 file, lossless") {
    import graft.operators.Scans
    val nDocs = Tables(spark, sfDir, "documents").count()
    val r = SparkEntry.queries("q_lake_compact")(spark, sfDir)
    assert(r.count() === nDocs, "compaction dropped or duplicated rows")
    val frag = Scans.tmpPath(r.sparkSession, "compact_frag")
    val out = Scans.tmpPath(r.sparkSession, "compact_out")
    assert(Scans.parquetFileCount(spark, frag) === 16,
      "fragmented copy should have 16 data files")
    // 500 docs is well under the 128 MB target -> exactly one file.
    assert(Scans.parquetFileCount(spark, out) === 1,
      "compacted copy should be a single data file")
  }

  test("txn log: concurrent commits conflict; loser retries on re-read") {
    import graft.sources.TxnLog
    import graft.operators.Scans
    val base = Scans.tmpPath(spark, "txnlog_conflict")
    val d = new java.io.File(base)
    def wipe(f: java.io.File): Unit = {
      if (f.isDirectory) f.listFiles().foreach(wipe)
      f.delete(): Unit
    }
    wipe(d)
    import spark.implicits._
    Seq((1L, "x"), (2L, "y")).toDF("k", "v")
      .write.parquet(s"$base/d0")
    val v0 = TxnLog.commit(spark, base, -1,
      TxnLog.partFiles(spark, base, "d0"))
    assert(v0 === 0)
    // Two writers both read version 0 and prepare commits.
    Seq((3L, "z")).toDF("k", "v").write.parquet(s"$base/dA")
    Seq((4L, "w")).toDF("k", "v").write.parquet(s"$base/dB")
    val vA = TxnLog.commit(spark, base, v0,
      TxnLog.partFiles(spark, base, "dA"))
    assert(vA === 1)
    // Writer B targets the same slot — must CONFLICT, not overwrite.
    intercept[TxnLog.VersionConflictException] {
      TxnLog.commit(spark, base, v0,
        TxnLog.partFiles(spark, base, "dB"))
    }
    // A's commit survived untouched; B re-reads and lands on top.
    assert(TxnLog.latestVersion(spark, base) === 1)
    assert(TxnLog.readAsOf(spark, base, 1).count() === 3)
    val vB = TxnLog.commit(spark, base, TxnLog.latestVersion(spark, base),
      TxnLog.partFiles(spark, base, "dB"))
    assert(vB === 2)
    assert(TxnLog.readAsOf(spark, base, 2).count() === 4)
    // and time travel still sees every historical state
    assert(TxnLog.readAsOf(spark, base, 0).count() === 2)
  }

  test("txn log: checkpointed reads touch O(suffix), not O(versions), " +
      "log files; semantics identical to full replay") {
    import graft.sources.TxnLog
    import graft.operators.Scans
    val base = Scans.tmpPath(spark, "txnlog_checkpoint")
    def wipe(f: java.io.File): Unit = {
      if (f.isDirectory) f.listFiles().foreach(wipe)
      f.delete(): Unit
    }
    wipe(new java.io.File(base))
    import spark.implicits._
    // 12 single-row append commits with checkpointEvery = 5 →
    // checkpoints at v4 and v9.
    var v = -1
    (0 to 11).foreach { i =>
      Seq((i.toLong, s"r$i")).toDF("k", "s").write.parquet(s"$base/d$i")
      v = TxnLog.commit(spark, base, v,
        TxnLog.partFiles(spark, base, s"d$i"), checkpointEvery = 5)
    }
    assert(v === 11)
    assert(TxnLog.latestCheckpoint(spark, base, 11) === Some(9))
    assert(TxnLog.latestCheckpoint(spark, base, 8) === Some(4))
    assert(TxnLog.latestCheckpoint(spark, base, 3) === None)
    // Checkpoint-seeded result ≡ full replay at every version.
    val full = (0 to 11).map(ver =>
      TxnLog.readAsOf(spark, base, ver).count())
    assert(full === (1L to 12L))
    // THE pin: delete every log file the v9 checkpoint covers — a
    // head read (checkpoint 9 + logs 10, 11) must still succeed,
    // which is only possible through the O(suffix) path.
    (0 to 9).foreach { lv =>
      java.nio.file.Files.deleteIfExists(java.nio.file.Paths.get(
        base, "_graft_log", f"$lv%08d.json"))
    }
    assert(TxnLog.filesAsOf(spark, base, 11).size === 12)
    assert(TxnLog.readAsOf(spark, base, 11).count() === 12)
    // ...and at v8 the nearest checkpoint is v4 whose suffix logs
    // (5..8) are gone → the read must fail LOUDLY, not silently
    // return the checkpoint state.
    intercept[IllegalArgumentException] {
      TxnLog.filesAsOf(spark, base, 8)
    }
    // unreferencedFiles is checkpoint-blind (needs dead prefix adds)
    // and must also fail loudly once the prefix is severed.
    intercept[IllegalArgumentException] {
      TxnLog.unreferencedFiles(spark, base, 11)
    }
  }

  test("txn log: default-version HEAD reads work on a checkpointed " +
      "table (checkpoint names must not poison latestVersion)") {
    // Regression: latestVersion once filtered with endsWith(".json"),
    // so `00000002.checkpoint.json` survived the filter and
    // `"00000002.checkpoint".toInt` threw NumberFormatException —
    // breaking readAsOf()/filesAsOf()/unreferencedFiles()/checkpoint()
    // at their default version = -1 on ANY table that had ever
    // checkpointed. The most common lake call (read at head) must not
    // depend on the caller knowing the head version number.
    import graft.sources.TxnLog
    import graft.operators.Scans
    val base = Scans.tmpPath(spark, "txnlog_head_after_cp")
    def wipe(f: java.io.File): Unit = {
      if (f.isDirectory) f.listFiles().foreach(wipe)
      f.delete(): Unit
    }
    wipe(new java.io.File(base))
    import spark.implicits._
    var v = -1
    (0 to 4).foreach { i =>
      Seq((i.toLong, s"r$i")).toDF("k", "s").write.parquet(s"$base/d$i")
      v = TxnLog.commit(spark, base, v,
        TxnLog.partFiles(spark, base, s"d$i"), checkpointEvery = 3)
    }
    assert(TxnLog.latestCheckpoint(spark, base, v) === Some(2))
    // every default-version entry point, on the checkpointed table:
    assert(TxnLog.latestVersion(spark, base) === 4)
    assert(TxnLog.readAsOf(spark, base).count() === 5)
    assert(TxnLog.filesAsOf(spark, base).size === 5)
    assert(TxnLog.unreferencedFiles(spark, base).isEmpty)
    assert(TxnLog.checkpoint(spark, base) === 4)
    // foreign junk in _graft_log (editor backups, partial tmp files)
    // must be SKIPPED by the name filters, not crash every read
    val junk = Seq("notes.json", "00000001.json.bak",
      "x0000001.checkpoint.json", "0000000a.checkpoint.json")
    junk.foreach { n =>
      java.nio.file.Files.write(
        java.nio.file.Paths.get(base, "_graft_log", n),
        "garbage".getBytes("UTF-8"))
    }
    assert(TxnLog.latestVersion(spark, base) === 4)
    assert(TxnLog.latestCheckpoint(spark, base, 99) === Some(4))
    assert(TxnLog.readAsOf(spark, base).count() === 5)
  }

  test("txn log: checkpoint publication is atomic — a reader racing " +
      "repeated rewrites never sees a torn file set") {
    // checkpoint() once used create(overwrite=true): a reader opening
    // the file mid-rewrite could read a PREFIX of the live set and
    // silently under-read the table. Publication is now temp-file +
    // ATOMIC_MOVE; this hammers the window from a racing thread.
    import graft.sources.TxnLog
    import graft.operators.Scans
    val base = Scans.tmpPath(spark, "txnlog_cp_race")
    def wipe(f: java.io.File): Unit = {
      if (f.isDirectory) f.listFiles().foreach(wipe)
      f.delete(): Unit
    }
    wipe(new java.io.File(base))
    import spark.implicits._
    var v = -1
    (0 to 7).foreach { i =>
      Seq((i.toLong, s"r$i")).toDF("k", "s").write.parquet(s"$base/d$i")
      v = TxnLog.commit(spark, base, v,
        TxnLog.partFiles(spark, base, s"d$i"))
    }
    TxnLog.checkpoint(spark, base, 7)
    val bad = new java.util.concurrent.atomic.AtomicReference[String](null)
    val stop = new java.util.concurrent.atomic.AtomicBoolean(false)
    val reader = new Thread(() => {
      var n = 0
      while (!stop.get() && n < 2000 && bad.get() == null) {
        val sz = TxnLog.filesAsOf(spark, base, 7).size
        if (sz != 8) bad.set(s"torn read: saw $sz of 8 live files")
        n += 1
      }
    })
    reader.start()
    // rewrite the same (idempotent) checkpoint continuously under it
    (1 to 200).foreach { _ => TxnLog.checkpoint(spark, base, 7) }
    stop.set(true)
    reader.join(30000)
    assert(bad.get() == null, String.valueOf(bad.get()))
  }

  test("txn log: checkpoint sees through removes (checkpoint seed + " +
      "remove suffix)") {
    import graft.sources.TxnLog
    import graft.operators.Scans
    val base = Scans.tmpPath(spark, "txnlog_checkpoint_rm")
    def wipe(f: java.io.File): Unit = {
      if (f.isDirectory) f.listFiles().foreach(wipe)
      f.delete(): Unit
    }
    wipe(new java.io.File(base))
    import spark.implicits._
    var v = -1
    (0 to 3).foreach { i =>
      Seq((i.toLong, s"r$i")).toDF("k", "s").write.parquet(s"$base/d$i")
      v = TxnLog.commit(spark, base, v,
        TxnLog.partFiles(spark, base, s"d$i"), checkpointEvery = 4)
    }
    // checkpoint at v3; v4 removes d1 on top of the checkpoint seed
    assert(TxnLog.latestCheckpoint(spark, base, v) === Some(3))
    v = TxnLog.commit(spark, base, v, adds = Nil,
      removes = TxnLog.partFiles(spark, base, "d1"))
    val live = TxnLog.readAsOf(spark, base, v)
      .select("k").as[Long].collect().sorted
    assert(live === Seq(0L, 2L, 3L), "remove over checkpoint seed")
  }

  test("txn log: unreferencedFiles lists exactly the removed adds") {
    import graft.sources.TxnLog
    import graft.operators.Scans
    val base = Scans.tmpPath(spark, "txnlog_vacuum")
    def wipe(f: java.io.File): Unit = {
      if (f.isDirectory) f.listFiles().foreach(wipe)
      f.delete(): Unit
    }
    wipe(new java.io.File(base))
    import spark.implicits._
    Seq((1L, "x"), (2L, "y")).toDF("k", "v").write.parquet(s"$base/d0")
    val d0 = TxnLog.partFiles(spark, base, "d0")
    val v0 = TxnLog.commit(spark, base, -1, d0)
    // nothing removed yet -> nothing to vacuum
    assert(TxnLog.unreferencedFiles(spark, base).isEmpty)
    Seq((1L, "x2"), (2L, "y2")).toDF("k", "v").write.parquet(s"$base/d1")
    TxnLog.commit(spark, base, v0,
      adds = TxnLog.partFiles(spark, base, "d1"), removes = d0)
    // retention-0 candidates = exactly the d0 files, base-prefixed;
    // live files are untouched and history BEFORE the vacuum works
    val dead = TxnLog.unreferencedFiles(spark, base)
    assert(dead.toSet === d0.map(f => s"$base/$f").toSet)
    assert(TxnLog.filesAsOf(spark, base).toSet
      .intersect(dead.toSet).isEmpty)
    // asking at version 0 (before the remove) -> nothing unreferenced
    assert(TxnLog.unreferencedFiles(spark, base, 0).isEmpty)
  }
}
