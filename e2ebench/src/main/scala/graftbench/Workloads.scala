package graftbench

import java.nio.file.Files

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Encoders, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

import graft.SparkEntry
import graft.api.ops._
import graft.functions.GraftFunctions._

trait Workload {
  def spark: SparkSession
  /** Operations of one pass, in a fixed order (the harness shuffles). */
  def ops: Seq[Op]
  /** Work units in one pass: messages, or queries. */
  def unitsPerPass: Long
  /** Untraced runs set up this many times and report the median as
    * setup_s; traced runs set up once.
    */
  def setupReps: Int = 3
  /** Untraced runs time at least this many passes; traced runs one. */
  def minPasses: Int = 1
  /** Prepare inputs and warm up; called once per set-up repetition. */
  def setup(): Unit
  /** Per-layer probes run after the traced timed region. */
  def probes(tracer: Tracer): Seq[(String, Double, String)] =
    CryptoKernels.measure()
}

object Workloads {
  val iterativeNames: Seq[String] = Seq(
    "q_dedup_components", "q_dedup_components_star", "q_dedup_keep_best",
    "q_graph_bfs", "q_graph_kcore", "q_graph_pagerank", "q_graph_lpa",
    "q_graph_random_walks", "q_graph_modularity")

  def apply(name: String, spark: SparkSession, a: Main.Args): Workload =
    name match {
      case "envelope_open" => new EnvelopeWorkload(spark, a)
      case "iterative_pins" => new QueryWorkload(spark, a, iterativeNames,
        "sf0.01")
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
}

/** The paper's consumer: read sealed messages, open the envelope
  * (unwrap the DEK, decrypt, verify the HMAC), parse the JSON payload
  * and aggregate. Messages are generated from the seed at set-up and
  * sealed exactly as `sealEnvelope` seals them, but with a DEK per
  * run of messages: the timed set reuses each DEK for n / 64 ids, as a
  * publisher rotating keys; the traced run also opens a set with one DEK per message.
  * About 0.1% of the messages have one byte of their `sig` attribute
  * flipped.
  */
final class EnvelopeWorkload(val spark: SparkSession, a: Main.Args)
    extends Workload {
  val n: Long = 150000L
  private val rotatingRun = n / 64
  private val s = java.lang.Math.floorMod(a.seed, 1000003L)
  private val kek = f"kek-$s%012d".getBytes("UTF-8")
  private val path = a.workDir.resolve("messages").toString
  private val uniquePath = a.workDir.resolve("messages-unique").toString
  private val partitions = 2 * spark.sparkContext.defaultParallelism

  private val payloadSchema = "msg_id LONG, account STRING, " +
    "amount_cents LONG, currency STRING, ts STRING, device STRING, memo STRING"

  // The generator's closed forms, evaluated per id on the driver.
  private def amount(id: Long): Long = (id * 7919L + s) % 100000L
  private def tampered(id: Long): Boolean = (id * 104729L + s * 31L) % 1009L == 0L

  private lazy val tamperedIds: Seq[Long] = (0L until n).filter(tampered)
  private lazy val expectedOk: Long = n - tamperedIds.size
  private lazy val expectedAmount: Long =
    (0L until n).iterator.filterNot(tampered).map(amount).sum
  private lazy val expectedBadDigest: java.math.BigDecimal =
    digestOf(spark.createDataset(tamperedIds)(Encoders.scalaLong).toDF("id"))
      .head().getDecimal(0)

  private def digestOf(df: DataFrame): DataFrame =
    df.agg(sum(xxhash64(col("id")).cast("decimal(38,0)")))

  def unitsPerPass: Long = n

  /** N sealed messages (id, value, attributes), a DEK per `runLen` ids. */
  def messages(runLen: Long): DataFrame = {
    val id = col("id")
    val pt = to_json(struct(
      id.as("msg_id"),
      format_string("acct-%08d", (id * 7L + s) % 100000000L).as("account"),
      ((id * 7919L + s) % 100000L).as("amount_cents"),
      element_at(array(Seq("EUR", "USD", "GBP", "JPY", "CHF").map(lit): _*),
        (id % 5 + 1).cast("int")).as("currency"),
      format_string("2024-%02d-%02dT%02d:%02d:%02dZ", id % 12 + 1, id % 28 + 1,
        id % 24, id % 60, (id * 7L) % 60).as("ts"),
      format_string("sensor-%05d", (id * 31L + s) % 50000L).as("device"),
      format_string("batch-%04d", id % 1000).as("memo"))).cast("binary")
    val dek = unhex(substring(sha2(concat(lit(s"dek-$s-"),
      (id.cast("long") / lit(runLen)).cast("long").cast("string")), 256), 1, 32))
    val sig = base64(hmac_sha256(col("dek"), col("pt")))
    val flipped = concat(
      when(substring(sig, 1, 1) === "A", lit("B")).otherwise(lit("A")),
      substring(sig, 2, 64))
    spark.range(0, n, 1, partitions)
      .select(id, pt.as("pt"), dek.as("dek"))
      // One projection, as sealEnvelope does it.
      .select(id,
        aes_ecb_encrypt(col("pt"), col("dek")).as("value"),
        map(lit("wrapped_dek"), base64(wrap_dek(lit(kek), col("dek"))),
          lit("sig"), when((id * 104729L + s * 31L) % 1009L === 0, flipped)
            .otherwise(sig)).as("attributes"))
  }

  private def opened(df: DataFrame): DataFrame =
    df.openEnvelope(kek).select(col("id"), col("verified"),
      from_json(col("payload").cast("string"), lit(payloadSchema)).as("m"))

  private def summary(df: DataFrame): DataFrame = opened(df).agg(
    count(lit(1)).as("n"),
    count(when(col("verified"), lit(1))).as("n_ok"),
    sum(when(col("verified"), col("m.amount_cents"))).as("amount"),
    sum(when(!col("verified"), xxhash64(col("id")).cast("decimal(38,0)")))
      .as("bad_digest"),
    count(when(col("verified") && col("m.msg_id") =!= col("id"), lit(1)))
      .as("id_mismatch"))

  private def openOp(at: String): Op = new Op {
    val name = "open"
    def build(): DataFrame = summary(spark.read.parquet(at))
    def action(df: DataFrame): Row = df.head()
    def check(r: Row): Option[String] = {
      val got = (r.getLong(0), r.getLong(1), r.getLong(2), r.getDecimal(3),
        r.getLong(4))
      val ok = got._1 == n && got._2 == expectedOk &&
        got._3 == expectedAmount &&
        Option(got._4).exists(_.compareTo(expectedBadDigest) == 0) &&
        got._5 == 0L
      if (ok) None
      else Some(s"got $got, want ($n,$expectedOk,$expectedAmount," +
        s"$expectedBadDigest,0)")
    }
  }

  val ops: Seq[Op] = Seq(openOp(path))

  private def openChecked(at: String): Unit = {
    val o = openOp(at)
    o.check(o.action(o.build())).foreach(e =>
      throw new IllegalStateException(s"open of $at: $e"))
  }

  def setup(): Unit = {
    messages(rotatingRun).write.mode("overwrite").parquet(path)
    // Open twice: the open time keeps falling over the first ten or
    // so opens, as the JVM compiles the crypto path; the three set-ups
    // open six times before the timed region starts.
    (1 to 2).foreach(_ => openChecked(path))
  }

  private def timeMedian(reps: Int)(f: => Unit): Double =
    Stats.median((1 to reps).map { _ =>
      val t = System.nanoTime(); f; (System.nanoTime() - t) / 1e9
    })

  /** Throughput of the rotating and the unique-DEK set, the stage
    * split of the open pipeline as cumulative truncated plans, a
    * streaming drain of the same pipeline, and a parquet sink write.
    */
  override def probes(tracer: Tracer): Seq[(String, Double, String)] = {
    messages(1).write.mode("overwrite").parquet(uniquePath)
    val rates = Seq("envelope.rotating_msgs_per_s" -> path,
      "envelope.unique_dek_msgs_per_s" -> uniquePath).map { case (k, at) =>
      (k, n / timeMedian(3)(openChecked(at)), "1/s")
    }
    val base = spark.read.parquet(path)
    val rowDek = unwrap_dek(lit(kek),
      unbase64(element_at(col("attributes"), "wrapped_dek")))
    def consume(df: DataFrame, c: org.apache.spark.sql.Column): Unit =
      df.agg(count(lit(1)), sum(c)).head()
    // Each stage also consumes everything the stages before it made.
    val scanned = length(col("value")) + size(col("attributes"))
    val unwrapped = scanned + length(rowDek)
    val decrypted = unwrapped + length(aes_ecb_decrypt(col("value"), rowDek))
    val stages = Seq(
      "envelope.scan_s" -> (() => consume(base, scanned)),
      "envelope.unwrap_s" -> (() => consume(base, unwrapped)),
      "envelope.decrypt_s" -> (() => consume(base, decrypted)),
      "envelope.verify_s" -> (() => consume(base.openEnvelope(kek),
        scanned + length(col("payload")) + col("verified").cast("int"))),
      "envelope.parse_s" -> (() => { summary(base).head(); () }))
    val stageMetrics = stages.map { case (k, f) => (k, timeMedian(2)(f()), "s") }

    val before = tracer.totals()
    val ckpt = a.workDir.resolve("stream-ckpt").toString
    val q = opened(spark.readStream.schema(base.schema)
        .option("maxFilesPerTrigger", (partitions / 2).toString).parquet(path))
      .groupBy((col("id") % 64).as("bucket"))
      .agg(count(lit(1)).as("n"), sum(col("m.amount_cents")).as("amount"))
      .writeStream.format("noop").outputMode("update")
      .option("checkpointLocation", ckpt)
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    val sinkDir = a.workDir.resolve("sink")
    opened(base).select(col("id"), col("verified"), col("m.*"))
      .write.mode("overwrite").parquet(sinkDir.toString)
    tracer.drain(spark)
    val w = tracer.totals().minus(before)
    val files = Files.list(sinkDir).iterator().asScala
      .count(_.getFileName.toString.endsWith(".parquet"))
    rates ++ stageMetrics ++ tracer.streamMetrics() ++ Seq(
      ("write.files", files.toDouble, "count"),
      ("write.bytes", w.outBytes.toDouble, "bytes"),
      ("write.rows", w.outRows.toDouble, "count")) ++ super.probes(tracer)
  }
}

/** Engine queries from `SparkEntry.queries` at one scale factor. Each
  * operation is `fn(spark, dir)` followed by one action that computes
  * the result's row count and an order-insensitive row digest, which
  * must equal the values in expected/queries.tsv.
  */
final class QueryWorkload(val spark: SparkSession, a: Main.Args,
                          names: Seq[String], sf: String)
    extends Workload {
  private val dir = a.testdata.resolve(sf).toString
  require(Files.isDirectory(a.testdata.resolve(sf)), s"no test data at $dir")
  private val queries = SparkEntry.queries
  private val unknown = names.filterNot(queries.contains)
  require(unknown.isEmpty, s"not in SparkEntry.queries: $unknown")

  /** `sf<TAB>query<TAB>rows<TAB>digest` lines of expected/queries.tsv,
    * whose location run.py passes as GRAFT_BENCH_EXPECTED.
    */
  private val expected: Map[String, (Long, String)] =
    sys.env.get("GRAFT_BENCH_EXPECTED").map(java.nio.file.Paths.get(_))
      .filter(Files.exists(_)).toSeq
      .flatMap(p => Files.readAllLines(p).asScala)
      .map(_.split("\t")).collect {
        case Array(`sf`, q, rows, dg) => q -> (rows.toLong, dg)
      }.toMap

  def unitsPerPass: Long = names.size.toLong

  private def digest(df: DataFrame): Row = {
    val d = df.toDF(df.columns.indices.map(i => s"c$i"): _*)
    d.agg(count(lit(1)), sum(xxhash64(to_json(struct(d.columns.toIndexedSeq.map(col): _*)))
      .cast("decimal(38,0)")).cast("string")).head()
  }

  private def op(query: String, at: String): Op = new Op {
    def name: String = query
    def build(): DataFrame = queries(query)(spark, at)
    def action(df: DataFrame): Row = digest(df)
    def check(r: Row): Option[String] =
      expected.get(query) match {
        case None => Some(s"no expected value for $sf/$query")
        case Some((rows, dg)) =>
          val got = (r.getLong(0), String.valueOf(r.getString(1)))
          if (got == ((rows, dg))) None else Some(s"got $got, want ($rows,$dg)")
      }
  }

  val ops: Seq[Op] = names.map(op(_, dir))

  /** One set-up: it is the JVM's cold warm-up pass (24-29 s). A second
    * one in the same JVM runs warm (13-15 s), so it measures something
    * else, and the run has no time for both it and a second timed pass.
    */
  override def setupReps: Int = 1

  /** Two passes give query_p50_s 18 samples instead of 9. */
  override def minPasses: Int = 2

  /** Run every query of the workload once on the smallest test data.
    * Without this the first timed pass runs about 25% slower than the
    * second, as the JVM compiles the queries' code paths.
    */
  def setup(): Unit = names.foreach { q =>
    val o = op(q, a.testdata.resolve("sf0.001").toString)
    o.action(o.build())
    Harness.sweep(spark)
  }

  /** `sf<TAB>query<TAB>rows<TAB>digest` of every query, for
    * expected/queries.tsv.
    */
  def expectedLines(): Seq[String] = names.map { n =>
    val r = digest(queries(n)(spark, dir))
    Harness.sweep(spark)
    s"$sf\t$n\t${r.getLong(0)}\t${r.getString(1)}"
  }
}
