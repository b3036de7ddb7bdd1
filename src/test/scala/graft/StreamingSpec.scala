package graft

import java.sql.Timestamp

import graft.streaming.Streams
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.StreamingQuery

/** Micro-batch-driven checks for the streaming wave (no DuckDB oracle —
  * SURVEY.md §5.2 item 4). Each test feeds explicit batches through a
  * MemoryStream, runs processAllAvailable between adds so watermarks
  * advance deterministically, and asserts on the memory sink.
  */
case class Ev(event_id: Long, ts: Timestamp, user_id: Long,
              event_type: String, value: Double)

case class Msg(id: Long, ts: Timestamp, lang: String)

class StreamingSpec extends SparkSpec {

  private def t(s: String): Timestamp = Timestamp.valueOf(s)

  private def run(df: DataFrame, name: String, mode: String)
                 (feed: (StreamingQuery => Unit)): DataFrame = {
    val q = df.writeStream.format("memory").queryName(name)
      .outputMode(mode).start()
    try feed(q) finally q.stop()
    spark.table(name)
  }

  test("s_watermark_late drops events behind the watermark") {
    implicit val sql = spark.sqlContext
    import spark.implicits._
    val in = MemoryStream[Ev]
    val out = run(Streams.watermarkedCounts(in.toDF), "wm", "append") { q =>
      in.addData(
        Ev(1, t("2024-01-01 10:05:00"), 1, "click", 1.0),
        Ev(2, t("2024-01-01 10:20:00"), 2, "click", 2.0))
      q.processAllAvailable()
      // Advances the watermark to 11:50 → the 10:00 window finalizes.
      in.addData(Ev(3, t("2024-01-01 12:00:00"), 1, "click", 3.0))
      q.processAllAvailable()
      // Late by 105 min (watermark 11:50) → must be dropped.
      in.addData(Ev(4, t("2024-01-01 10:10:00"), 3, "click", 9.0))
      q.processAllAvailable()
      // Close the 12:00 window too so the sink has both finalized rows.
      in.addData(Ev(5, t("2024-01-01 14:00:00"), 1, "view", 1.0))
      q.processAllAvailable()
    }
    val w10 = out.filter("wstart = '2024-01-01 10:00:00'").collect()
    assert(w10.length === 1)
    assert(w10.head.getAs[Long]("n") === 2) // late event 4 not counted
  }

  test("s_dedup_stream emits each event_id once within the watermark") {
    implicit val sql = spark.sqlContext
    import spark.implicits._
    val in = MemoryStream[Ev]
    val out = run(Streams.streamingDedup(in.toDF), "dedup", "append") { q =>
      in.addData(
        Ev(1, t("2024-01-01 10:00:00"), 1, "click", 1.0),
        Ev(1, t("2024-01-01 10:00:30"), 1, "click", 1.0), // same batch dup
        Ev(2, t("2024-01-01 10:01:00"), 2, "view", 2.0))
      q.processAllAvailable()
      in.addData(Ev(1, t("2024-01-01 10:02:00"), 1, "click", 1.0)) // replay
      q.processAllAvailable()
    }
    assert(out.count() === 2)
    assert(out.select("event_id").distinct().count() === 2)
  }

  test("s_stateful_count carries per-user state across micro-batches") {
    implicit val sql = spark.sqlContext
    import spark.implicits._
    val in = MemoryStream[Ev]
    val out = run(Streams.statefulUserCounts(in.toDF), "state", "update") { q =>
      in.addData(
        Ev(1, t("2024-01-01 10:00:00"), 7, "click", 1.5),
        Ev(2, t("2024-01-01 10:01:00"), 7, "click", 2.5))
      q.processAllAvailable()
      in.addData(Ev(3, t("2024-01-01 10:02:00"), 7, "view", 4.0))
      q.processAllAvailable()
    }
    // Last update for user 7 must reflect all three events.
    val last = out.filter("user_id = 7 and n_events = 3").collect()
    assert(last.length === 1)
    assert(math.abs(last.head.getAs[Double]("sum_value") - 8.0) < 1e-9)
  }

  test("s_stateful_tws (transformWithState) carries state across batches") {
    implicit val sql = spark.sqlContext
    import spark.implicits._
    val in = MemoryStream[Ev]
    val out = Streams.withRocksDbStateStore(spark) {
      run(Streams.statefulUserCountsTws(in.toDF), "tws", "update") { q =>
        in.addData(
          Ev(1, t("2024-01-01 10:00:00"), 7, "click", 1.5),
          Ev(2, t("2024-01-01 10:01:00"), 7, "click", 2.5))
        q.processAllAvailable()
        in.addData(Ev(3, t("2024-01-01 10:02:00"), 7, "view", 4.0))
        q.processAllAvailable()
      }
    }
    val last = out.filter("user_id = 7 and n_events = 3").collect()
    assert(last.length === 1)
    assert(math.abs(last.head.getAs[Double]("sum_value") - 8.0) < 1e-9)
  }

  test("stateful query recovers its state from the checkpoint on restart") {
    implicit val sql = spark.sqlContext
    import spark.implicits._
    val ckpt = graft.operators.Scans.tmpPath(spark, "graft-ckpt")
    val in = MemoryStream[Ev]
    // memory sink can't recover from a checkpoint; foreachBatch can.
    val seen = scala.collection.concurrent.TrieMap[(Long, Long), Double]()
    def start() = Streams.statefulUserCounts(in.toDF)
      .writeStream.outputMode("update")
      .option("checkpointLocation", ckpt)
      .foreachBatch { (df: org.apache.spark.sql.DataFrame, _: Long) =>
        df.collect().foreach { r =>
          seen((r.getLong(0), r.getLong(1))) = r.getDouble(2)
        }
      }
      .start()
    val q1 = start()
    in.addData(Ev(1, t("2024-01-01 10:00:00"), 7, "click", 1.0))
    q1.processAllAvailable()
    q1.stop()
    // Restart against the same checkpoint: the counter must resume
    // from 1, not restart from 0 — state lives in the StateStore, not
    // the process (the reference's in-process DoFn cache can't do this).
    val q2 = start()
    in.addData(Ev(2, t("2024-01-01 10:01:00"), 7, "view", 2.0))
    q2.processAllAvailable()
    q2.stop()
    assert(seen.contains((7L, 2L)), seen.toString)
    assert(math.abs(seen((7L, 2L)) - 3.0) < 1e-9)
  }

  test("stream-stream left join: null row only after the watermark proves it") {
    implicit val sql = spark.sqlContext
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val clicks = MemoryStream[Ev]
    val purchases = MemoryStream[Ev]
    val joined = Streams.clickPurchaseLeftJoin(
      clicks.toDF, purchases.toDF, cutoff = "2024-02-01 00:00:00")
    val out = run(joined, "left_join_unit", "append") { q =>
      // Batch 1: a click with NO purchase. Nothing may emit yet — a
      // qualifying purchase could still arrive.
      clicks.addData(Ev(1, t("2024-01-01 10:00:00"), 7, "click", 1.0))
      q.processAllAvailable()
      assert(spark.table("left_join_unit").isEmpty,
        "outer row emitted before the watermark could prove no match")
      // Batch 2: watermark advances past 10:00 + 1h + 10min on both
      // sides -> the unmatched click must flush as a null-extended row.
      clicks.addData(Ev(2, t("2024-01-01 13:00:00"), 8, "click", 1.0))
      purchases.addData(Ev(3, t("2024-01-01 13:00:00"), 9, "purchase", 1.0))
      q.processAllAvailable()
      q.processAllAvailable() // no-data batch applies the new watermark
    }
    val rows = out.select("click_id", "purchase_id").collect()
      .map(r => (r.getLong(0), if (r.isNullAt(1)) None else Some(r.getLong(1))))
    assert(rows.contains((1L, None)),
      s"unmatched click 1 missing/matched: ${rows.mkString(",")}")
  }

  test("foreachBatch applies a streaming change feed as MERGE upserts") {
    // The CDC-apply pattern: a change stream maintains a mutable
    // snapshot via per-batch mergeUpsert (what Delta's streaming
    // MERGE runs under the hood). Two batches: an update to a live
    // key, then an insert of a new key — the final snapshot must
    // equal applying both changes in order, and the untouched key
    // must survive both batches.
    implicit val sql = spark.sqlContext
    import spark.implicits._
    import graft.api.ops._
    import org.apache.spark.sql.functions._
    val in = MemoryStream[Ev]
    var snapshot = Seq((7L, 10L), (8L, 100L)).toDF("user_id", "cents")
      .localCheckpoint()
    val q = in.toDF
      .select(col("user_id"),
        floor(col("value") * 100 + 0.5).cast("long").as("cents"))
      .writeStream.outputMode("append")
      .foreachBatch { (batch: DataFrame, _: Long) =>
        // MERGE precondition (unique source keys): reduce the batch to
        // one change per key first.
        val changes = batch.groupBy("user_id").agg(max("cents").as("cents"))
        snapshot = snapshot.mergeUpsert(changes, "user_id")
          .localCheckpoint() // pin the version; drop pre-merge lineage
        ()
      }
      .start()
    in.addData(Ev(1, t("2024-01-01 10:00:00"), 7, "click", 2.5))
    q.processAllAvailable()
    in.addData(Ev(2, t("2024-01-01 10:05:00"), 9, "view", 1.0))
    q.processAllAvailable()
    q.stop()
    val out = snapshot.orderBy("user_id").collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    assert(out.toSeq === Seq(7L -> 250L, 8L -> 100L, 9L -> 100L))
  }

  test("watermark bounds dedup state: evictions + late-drop show in metrics") {
    // Pins the scale claim "the watermark caps state size" with the
    // engine's own state-store metrics instead of a comment: ids whose
    // eviction time passed the watermark leave the store
    // (numRowsRemoved), late rows never enter it
    // (numRowsDroppedByWatermark), and the final store holds fewer
    // rows than the distinct ids fed.
    implicit val sql = spark.sqlContext
    import spark.implicits._
    val in = MemoryStream[Ev]
    val q = Streams.streamingDedup(in.toDF).writeStream.format("memory")
      .queryName("statemetrics").outputMode("append").start()
    try {
      in.addData(Ev(1, t("2024-01-01 10:00:00"), 1, "click", 1.0),
        Ev(2, t("2024-01-01 10:01:00"), 2, "view", 1.0))
      q.processAllAvailable()
      // Advances the watermark to 11:50 → ids 1, 2 become evictable.
      in.addData(Ev(3, t("2024-01-01 12:00:00"), 1, "click", 1.0))
      q.processAllAvailable()
      // 105 min behind the watermark → dropped before the state store.
      in.addData(Ev(5, t("2024-01-01 10:05:00"), 3, "click", 1.0))
      q.processAllAvailable()
      in.addData(Ev(4, t("2024-01-01 14:00:00"), 2, "view", 1.0))
      q.processAllAvailable()
      val progs = q.recentProgress.filter(_.stateOperators.nonEmpty)
      assert(progs.nonEmpty)
      val removed = progs.map(_.stateOperators.head.numRowsRemoved).sum
      val lateDropped =
        progs.map(_.stateOperators.head.numRowsDroppedByWatermark).sum
      val finalTotal = progs.last.stateOperators.head.numRowsTotal
      assert(removed >= 2, s"expected watermark eviction, removed=$removed")
      assert(lateDropped >= 1, s"late row not dropped, dropped=$lateDropped")
      assert(finalTotal < 4, s"state holds all ids, total=$finalTotal")
    } finally q.stop()
  }

  test("s_decrypt_pipeline decrypts, verifies, and window-counts a stream") {
    implicit val sql = spark.sqlContext
    import spark.implicits._
    val dek = "0123456789abcdef".getBytes("UTF-8")
    val kek = "kek-graft-000001".getBytes("UTF-8")
    val in = MemoryStream[Msg]
    val encrypted = Streams.encryptMessages(in.toDF, dek, kek)
    val piped = Streams.decryptPipeline(encrypted, kek,
      "id LONG, ts TIMESTAMP, lang STRING")
    val out = run(piped, "pipe", "append") { q =>
      in.addData(
        Msg(1, t("2024-01-01 10:05:00"), "en"),
        Msg(2, t("2024-01-01 10:25:00"), "fr"),
        Msg(3, t("2024-01-01 11:10:00"), "en"))
      q.processAllAvailable()
      in.addData(Msg(4, t("2024-01-01 13:00:00"), "de")) // advance watermark
      q.processAllAvailable()
    }
    val w10 = out.filter("wstart = '2024-01-01 10:00:00'").collect()
    assert(w10.length === 1)
    assert(w10.head.getAs[Long]("n_messages") === 2)
  }

  test("streaming file source reads the events table end-to-end") {
    val stream = Streams.eventsFileStream(spark, sfDir)
    assert(stream.isStreaming)
    val out = run(
      Streams.watermarkedCounts(stream), "filesrc", "append") { q =>
      q.processAllAvailable()
    }
    // Append mode only emits windows the watermark has passed; the
    // final window stays open, so expect at least most of the 30 days
    // × 24 h × 5 types worth of windows.
    assert(out.count() > 100)
  }

  test("tampered ciphertext fails HMAC verification and is filtered out") {
    implicit val sql = spark.sqlContext
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val dek = "0123456789abcdef".getBytes("UTF-8")
    val kek = "kek-graft-000001".getBytes("UTF-8")
    val in = MemoryStream[Msg]
    // Flip the signature attribute → verified=false → row filtered.
    val tampered = Streams.encryptMessages(in.toDF, dek, kek)
      .withColumn("attributes",
        map(lit("wrapped_dek"), element_at(col("attributes"), "wrapped_dek"),
            lit("sig"), lit("AAAA")))
    val piped = Streams.decryptPipeline(tampered, kek,
      "id LONG, ts TIMESTAMP, lang STRING")
    val out = run(piped, "tampered", "append") { q =>
      in.addData(Msg(1, t("2024-01-01 10:05:00"), "en"))
      q.processAllAvailable()
      in.addData(Msg(2, t("2024-01-01 13:00:00"), "fr"))
      q.processAllAvailable()
    }
    assert(out.count() === 0)
  }

  test("s_session_timeout: a deadline EXACTLY at the watermark fires (<= boundary)") {
    // Pins the engine's timer-expiry boundary so the scored oracle's
    // `last + gap <= max(ts)` comparison is a documented fact, not an
    // assumption: user 7's deadline (10:00 + 30 min) lands exactly ON
    // the final watermark (user 8's 10:30 event, delay 0) — it must
    // close; user 8's own 11:00 deadline is past the watermark — open.
    implicit val sql = spark.sqlContext
    import spark.implicits._
    val in = MemoryStream[Ev]
    val out = Streams.withRocksDbStateStore(spark) {
      run(Streams.sessionTimeouts(in.toDF), "sesstie", "append") { q =>
        in.addData(
          Ev(1, t("2024-01-01 10:00:00"), 7, "click", 1.0),
          Ev(2, t("2024-01-01 10:30:00"), 8, "view", 1.0))
        q.processAllAvailable()
      }
    }
    val closed = out.filter("closed").collect()
    assert(closed.map(_.getAs[Long]("user_id")).toSeq === Seq(7L),
      s"tie-at-watermark must close: ${closed.mkString(",")}")
  }

  test("s_session_timeout: event-time timer closes idle sessions, evicts state") {
    implicit val sql = spark.sqlContext
    import spark.implicits._
    val in = MemoryStream[Ev]
    val out = Streams.withRocksDbStateStore(spark) {
      run(Streams.sessionTimeouts(in.toDF), "sesstimer", "append") { q =>
      // Batch 1: user 7 active until 10:05, user 8 until 10:00.
      in.addData(
        Ev(1, t("2024-01-01 10:00:00"), 7, "click", 1.0),
        Ev(2, t("2024-01-01 10:05:00"), 7, "click", 1.0),
        Ev(3, t("2024-01-01 10:00:00"), 8, "view", 1.0))
      q.processAllAvailable()
      // Batch 2: only user 8 stays active; watermark jumps to 11:30,
      // past user 7's 10:35 deadline -> 7's session closes. User 8's
      // re-armed 12:00 deadline is beyond the watermark -> stays open,
      // and the stale 10:30 timer from batch 1 must NOT close it.
      in.addData(Ev(4, t("2024-01-01 11:30:00"), 8, "view", 1.0))
      q.processAllAvailable()
      }
    }
    val closed = out.filter("closed").collect()
    assert(closed.length === 1, s"expected exactly one closed session")
    assert(closed.head.getAs[Long]("user_id") === 7L)
    assert(closed.head.getAs[Long]("n_events") === 2L)
    // Progress rows for both users were emitted while open.
    assert(out.filter("user_id = 8 and not closed").count() >= 1)
  }

  test("stream-stream join: watermark EVICTS buffered state (metrics pin)") {
    // The "watermark bounds state" claim as a test, not a comment:
    // read the engine's own StateOperatorProgress. The join buffers
    // both sides; once the watermark passes c_ts + 1h + delay, the
    // rows must leave the store — numRowsTotal at the end is strictly
    // below its peak, with removals reported.
    implicit val sql = spark.sqlContext
    import spark.implicits._
    val in = MemoryStream[Ev]
    var peakState = 0L
    var endState = Long.MaxValue
    var removed = 0L
    run(Streams.clickPurchaseJoin(in.toDF, in.toDF), "joinmet", "append") { q =>
      in.addData(
        Ev(100, t("2024-01-01 10:00:00"), 1, "click", 1.0),
        Ev(101, t("2024-01-01 10:01:00"), 2, "click", 1.0),
        Ev(200, t("2024-01-01 10:30:00"), 1, "purchase", 5.0))
      q.processAllAvailable()
      // Jump the event clock ~10 h ON BOTH SIDES: the global watermark
      // is the MIN across the two watermark nodes (default policy), so
      // a click alone would leave the purchase side's watermark — and
      // the join's eviction clock — stuck at 10:20. With both at
      // 20:00, the watermark reaches 19:50, far past every 10:xx row's
      // eviction deadline (ts + 1 h band + 10 min delay).
      in.addData(
        Ev(300, t("2024-01-01 20:00:00"), 3, "click", 1.0),
        Ev(310, t("2024-01-01 20:00:00"), 9, "purchase", 2.0))
      q.processAllAvailable()
      // One more batch so the post-jump watermark drives the eviction.
      in.addData(
        Ev(301, t("2024-01-01 21:00:00"), 4, "click", 1.0),
        Ev(311, t("2024-01-01 21:00:00"), 8, "purchase", 2.0))
      q.processAllAvailable()
      val sops = q.recentProgress.flatMap(_.stateOperators)
      assert(sops.exists(_.operatorName.contains("symmetricHashJoin")),
        s"expected a join state operator, got ${sops.map(_.operatorName).toSet}")
      peakState = sops.map(_.numRowsTotal).max
      endState = sops.last.numRowsTotal
      removed = sops.map(_.numRowsRemoved).sum
    }
    assert(peakState >= 3L, s"join never buffered the fed rows: $peakState")
    assert(endState < peakState,
      s"watermark did not evict join state: end=$endState peak=$peakState")
    assert(removed > 0L, "state store reported no removals")
  }

  test("session window: late rows are dropped BY THE WATERMARK (metrics pin)") {
    implicit val sql = spark.sqlContext
    import spark.implicits._
    val in = MemoryStream[Ev]
    var dropped = 0L
    var peakState = 0L
    var opNames = Set.empty[String]
    run(Streams.sessionizedCounts(in.toDF), "sessmet", "append") { q =>
      in.addData(
        Ev(1, t("2024-01-01 10:00:00"), 7, "click", 1.0),
        Ev(2, t("2024-01-01 10:05:00"), 7, "click", 2.0))
      q.processAllAvailable()
      // Watermark → 11:50; the 10:00–10:35 session finalizes.
      in.addData(Ev(3, t("2024-01-01 12:00:00"), 7, "view", 1.0))
      q.processAllAvailable()
      // 10:20 is 90 min behind the watermark → the state operator must
      // count it in numRowsDroppedByWatermark (not merge it).
      in.addData(Ev(4, t("2024-01-01 10:20:00"), 7, "click", 9.0))
      q.processAllAvailable()
      val sops = q.recentProgress.flatMap(_.stateOperators)
      opNames = sops.map(_.operatorName).toSet
      dropped = sops.map(_.numRowsDroppedByWatermark).sum
      peakState = sops.map(_.numRowsTotal).max
    }
    assert(opNames.exists(_.toLowerCase.contains("session")),
      s"expected a session-window state operator, got $opNames")
    assert(peakState > 0L, "session state never materialized")
    assert(dropped >= 1L,
      s"late row was not dropped by the watermark (dropped=$dropped)")
  }

  test("s_anomaly scores against prior-batch state; exact z on a planted outlier") {
    // 12 alternating baseline values arrive in batch 1 (mean 11.00,
    // population σ exactly 1.00 in cents); batch 2 brings one outlier
    // and one in-band value. Only the outlier may be emitted, with the
    // hand-computed z — proving the sufficient statistics survived the
    // micro-batch boundary and the integer algebra is exact.
    implicit val sql = spark.sqlContext
    import spark.implicits._
    val in = MemoryStream[Ev]
    val base = (1 to 12).map { i =>
      val v = if (i % 2 == 0) 12.00 else 10.00
      Ev(i.toLong, t(f"2024-01-01 10:${i}%02d:00"), 5, "click", v)
    }
    val out = run(Streams.anomalyZScores(in.toDF), "anom", "append") { q =>
      in.addData(base: _*)
      q.processAllAvailable()
      in.addData(
        Ev(13, t("2024-01-01 10:13:00"), 5, "click", 50.00), // z = 39
        Ev(14, t("2024-01-01 10:14:00"), 5, "click", 11.00)) // z = 0
      q.processAllAvailable()
    }
    import org.apache.spark.sql.functions.col
    val rows = out.select("event_id", "cents", "z")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(rows.toSeq === Seq((13L, 5000L, 39.0)), rows.mkString(","))
  }

  test("s_pattern DFA carries automaton state across micro-batches") {
    // A signup in batch 1 must still convert on a purchase arriving in
    // batch 3 (with only click/view between) — the live-attempt flag
    // survives the micro-batch boundary in the state store. An error in
    // a later batch kills a pending attempt; split error runs across
    // batches must still count as ONE burst.
    implicit val sql = spark.sqlContext
    import spark.implicits._
    val in = MemoryStream[Ev]
    val out = run(Streams.patternAutomaton(in.toDF), "pat", "update") { q =>
      in.addData(
        Ev(1, t("2024-01-01 10:00:00"), 7, "signup", 1.0),
        Ev(2, t("2024-01-01 10:01:00"), 8, "error", 1.0))
      q.processAllAvailable()
      in.addData(
        Ev(3, t("2024-01-01 10:02:00"), 7, "click", 1.0),
        Ev(4, t("2024-01-01 10:03:00"), 8, "error", 1.0)) // same burst
      q.processAllAvailable()
      in.addData(
        Ev(5, t("2024-01-01 10:04:00"), 7, "purchase", 1.0), // converts
        Ev(6, t("2024-01-01 10:05:00"), 8, "signup", 1.0),
        Ev(7, t("2024-01-01 10:06:00"), 8, "error", 1.0),    // kills it
        Ev(8, t("2024-01-01 10:07:00"), 8, "purchase", 1.0)) // no conv
      q.processAllAvailable()
    }
    // Update mode: take each user's last emitted row (max n_events).
    import org.apache.spark.sql.functions.{col, max, max_by}
    val last = out.groupBy("user_id")
      .agg(max("n_events").as("n_events"),
        max_by(col("n_conversions"), col("n_events")).as("conv"),
        max_by(col("n_error_bursts"), col("n_events")).as("bursts"))
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2),
        r.getLong(3)))).toMap
    assert(last(7L) === ((3L, 1L, 0L)), s"user 7: ${last(7L)}")
    assert(last(8L) === ((5L, 0L, 2L)), s"user 8: ${last(8L)}")
  }

  test("s_holt folds split hours exactly once across micro-batches") {
    // Hour buckets [3, 2, 4] with the 2-event hour SPLIT across two
    // micro-batches — the pending-hour state must keep filling the
    // open bucket instead of folding a 1-event hour twice. Hand fold:
    // l=3,b=0 -> x=2: l=2.5, b=-0.25 -> x=4: l=3.125, b=0.1875.
    implicit val sql = spark.sqlContext
    import spark.implicits._
    val in = MemoryStream[Ev]
    val out = run(Streams.holtSmoothing(in.toDF), "holt", "update") { q =>
      in.addData(
        Ev(1, t("2024-01-01 10:00:00"), 1, "click", 0),
        Ev(2, t("2024-01-01 10:10:00"), 1, "click", 0),
        Ev(3, t("2024-01-01 10:20:00"), 1, "click", 0),
        Ev(4, t("2024-01-01 11:00:00"), 1, "click", 0))
      q.processAllAvailable()
      in.addData(
        Ev(5, t("2024-01-01 11:30:00"), 1, "click", 0),
        Ev(6, t("2024-01-01 12:00:00"), 1, "click", 0),
        Ev(7, t("2024-01-01 12:15:00"), 1, "click", 0),
        Ev(8, t("2024-01-01 12:30:00"), 1, "click", 0),
        Ev(9, t("2024-01-01 12:45:00"), 1, "click", 0))
      q.processAllAvailable()
    }
    import org.apache.spark.sql.functions.{col, max, max_by}
    val last = out.filter(col("event_type") === "click")
      .groupBy("event_type")
      .agg(max("n_hours").as("n"),
        max_by(col("level"), col("n_events")).as("l"),
        max_by(col("trend"), col("n_events")).as("b"))
      .collect().head
    assert(last.getAs[Long]("n") === 3L)
    assert(last.getAs[Double]("l") === 3.125) // exact dyadic
    assert(last.getAs[Double]("b") === 0.1875)
  }

  test("s_holt same-hour second batch emits a strictly larger n_events") {
    // Both batches land inside ONE hour: n_hours repeats (1) across
    // the two emissions, so a max_by on n_hours would tie-break
    // arbitrarily and could keep the STALE level. n_events (3 then 5)
    // is strictly increasing and must pick the batch-2 view.
    implicit val sql = spark.sqlContext
    import spark.implicits._
    val in = MemoryStream[Ev]
    val out = run(Streams.holtSmoothing(in.toDF), "holt2", "update") { q =>
      in.addData(
        Ev(1, t("2024-01-01 10:00:00"), 1, "click", 0),
        Ev(2, t("2024-01-01 10:10:00"), 1, "click", 0),
        Ev(3, t("2024-01-01 10:20:00"), 1, "click", 0))
      q.processAllAvailable()
      in.addData(
        Ev(4, t("2024-01-01 10:30:00"), 1, "click", 0),
        Ev(5, t("2024-01-01 10:40:00"), 1, "click", 0))
      q.processAllAvailable()
    }
    import org.apache.spark.sql.functions.{col, max, max_by}
    val rows = out.filter(col("event_type") === "click")
      .select("n_hours", "level", "n_events")
      .collect().map(r => (r.getLong(0), r.getDouble(1), r.getLong(2)))
      .sortBy(_._3)
    assert(rows.map(_._3).toSeq === Seq(3L, 5L)) // strictly increasing
    assert(rows.map(_._1).toSeq === Seq(1L, 1L)) // n_hours TIES
    val last = out.filter(col("event_type") === "click")
      .groupBy("event_type")
      .agg(max_by(col("level"), col("n_events")).as("l"))
      .collect().head
    assert(last.getAs[Double]("l") === 5.0) // batch-2 pending count
  }

  test("s_rate_limit bucket depletion survives the micro-batch boundary") {
    // 7 events inside one hour, split 4 + 3 across batches: the
    // 5-token bucket admits exactly 5 overall — tokens spent in
    // batch 1 must stay spent in batch 2.
    implicit val sql = spark.sqlContext
    import spark.implicits._
    val in = MemoryStream[Ev]
    val out = run(Streams.rateLimitAudit(in.toDF), "rl", "update") { q =>
      in.addData((1 to 4).map(i =>
        Ev(i, t(f"2024-01-01 10:0$i:00"), 1, "click", 0)): _*)
      q.processAllAvailable()
      in.addData((5 to 7).map(i =>
        Ev(i, t(f"2024-01-01 10:0$i:00"), 1, "click", 0)): _*)
      q.processAllAvailable()
    }
    import org.apache.spark.sql.functions.{col, max, max_by}
    val last = out.groupBy("user_id")
      .agg(max("n_events").as("n"),
        max_by(col("n_allowed"), col("n_events")).as("allowed"))
      .collect().head
    assert(last.getAs[Long]("n") === 7L)
    assert(last.getAs[Long]("allowed") === 5L)
  }

  test("parquet-sink resume: offsets, dedup state, and sink log all restore") {
    // The q_stream_resume scored path on hand-built batches, with the
    // intermediate state visible: drain 1 stops (crash), batch 2
    // replays batch 1's ids, drain 2 resumes from the same checkpoint
    // into the same sink — exactly-once across the restart.
    import spark.implicits._
    import org.apache.spark.sql.streaming.Trigger
    val root = java.nio.file.Paths.get(
      graft.operators.Scans.tmpPath(spark, "graft-resume"))
    val in = root.resolve("in").toString
    val sink = root.resolve("sink").toString
    val ckpt = root.resolve("ckpt").toString
    def land(rows: Seq[(Long, String)], name: String): Unit = {
      val scratch = root.resolve(s"scratch-$name").toString
      rows.toDF("id", "v").coalesce(1).write.parquet(scratch)
      val part = new java.io.File(scratch).listFiles()
        .filter(_.getName.endsWith(".parquet")).head
      new java.io.File(in).mkdirs()
      java.nio.file.Files.move(part.toPath,
        java.nio.file.Paths.get(in, s"$name.parquet"))
      ()
    }
    val schema = Seq((0L, "")).toDF("id", "v").schema
    def drain(): Unit = {
      val q = spark.readStream.schema(schema).parquet(in)
        .dropDuplicates("id")
        .writeStream.format("parquet").outputMode("append")
        .option("path", sink).option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    }
    land(Seq((1L, "a"), (2L, "b"), (3L, "c")), "b1")
    drain()
    val after1 = spark.read.parquet(sink).select("id")
      .collect().map(_.getLong(0)).sorted.toSeq
    assert(after1 === Seq(1L, 2L, 3L), "drain 1 must emit batch 1 once")
    // batch 2 = one new id + a replay of every batch-1 id
    land(Seq((3L, "c"), (4L, "d"), (1L, "a"), (2L, "b")), "b2")
    drain()
    val after2 = spark.read.parquet(sink).select("id")
      .collect().map(_.getLong(0)).sorted.toSeq
    assert(after2 === Seq(1L, 2L, 3L, 4L),
      "resume must skip batch 1 (offsets) AND its replayed ids (state)")
  }
}
