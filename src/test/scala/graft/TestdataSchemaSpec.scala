package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Canary for driver-side testdata regenerations.
  *
  * The events.ts physical type has silently changed between rounds
  * (timestamp[ns] → timestamp[us]), once killing 40 queries at plan
  * time. These tests pin the contract: whatever footer type the
  * current fixtures carry, the loader must produce a µs TimestampType
  * with sane values — so the next regeneration fails ONE named test
  * here instead of half the query surface.
  */
class TestdataSchemaSpec extends SparkSpec {

  test("every table loads and has rows at sf0.001") {
    Tables.names.foreach { t =>
      val df = Tables(spark, sfDir, t)
      assert(df.limit(1).count() == 1, s"table $t is empty")
    }
  }

  test("every table carries the column set the queries were built against") {
    // A driver-side regeneration that renames or drops a column should
    // fail HERE, by table name, not as dozens of analysis errors
    // scattered across the query surface. Extra new columns are fine.
    val expected = Map(
      "region" -> Set("r_regionkey", "r_name"),
      "nation" -> Set("n_nationkey", "n_name", "n_regionkey"),
      "customer" -> Set("c_custkey", "c_name", "c_nationkey", "c_acctbal",
        "c_mktsegment"),
      "supplier" -> Set("s_suppkey", "s_name", "s_nationkey", "s_acctbal"),
      "part" -> Set("p_partkey", "p_name", "p_brand", "p_type", "p_size",
        "p_retailprice"),
      "orders" -> Set("o_orderkey", "o_custkey", "o_orderstatus",
        "o_totalprice", "o_orderdate", "o_orderpriority"),
      "lineitem" -> Set("l_orderkey", "l_partkey", "l_suppkey",
        "l_linenumber", "l_quantity", "l_extendedprice", "l_discount",
        "l_tax", "l_returnflag", "l_linestatus", "l_shipdate"),
      "events" -> Set("event_id", "ts", "user_id", "event_type", "value",
        "props"),
      "documents" -> Set("doc_id", "text", "lang", "source", "n_chars"),
      "embeddings" -> Set("vec_id", "embedding", "label"))
    expected.foreach { case (t, cols) =>
      val have = Tables(spark, sfDir, t).columns.toSet
      val missing = cols -- have
      assert(missing.isEmpty,
        s"table $t lost columns $missing (has: ${have.toSeq.sorted})")
    }
  }

  test("events loader yields TimestampType ts regardless of footer type") {
    val ev = Tables.events(spark, sfDir)
    assert(ev.schema("ts").dataType == TimestampType,
      s"ts loaded as ${ev.schema("ts").dataType}")
    // Values must span days, not minutes: a unit mix-up (ns read as µs,
    // µs divided as ns) compresses or stretches the range 1000×.
    val row = ev.agg(
      min("ts").cast("long").as("lo"), max("ts").cast("long").as("hi"))
      .head()
    val spanDays = (row.getLong(1) - row.getLong(0)).toDouble / 86400
    assert(spanDays > 1 && spanDays < 10000,
      f"events ts span $spanDays%.1f days — timestamp unit mishandled")
    // And land in a plausible calendar window (not 1970, not year 4000).
    val yr = ev.select(year(col("ts"))).head().getInt(0)
    assert(yr > 2000 && yr < 2100, s"events ts year $yr")
  }

  test("a table's footer is read once, and again once it is rewritten") {
    import spark.implicits._
    import java.nio.file.{Files, StandardCopyOption}
    import java.util.concurrent.{CountDownLatch, TimeUnit}
    import java.util.concurrent.atomic.AtomicInteger
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    val sc = spark.sparkContext
    // Jobs `body` starts; a marker job submitted after it shows that the
    // listener bus has delivered them all.
    def jobsOf[T](body: => T): (T, Int) = {
      val jobs = new AtomicInteger()
      val marker = new CountDownLatch(1)
      val listener = new SparkListener {
        override def onJobStart(j: SparkListenerJobStart): Unit =
          if (Option(j.properties).exists(_.getProperty("graft.test.marker") != null))
            marker.countDown()
          else jobs.incrementAndGet()
      }
      sc.addSparkListener(listener)
      try {
        val out = body
        sc.setLocalProperty("graft.test.marker", "end")
        try sc.parallelize(Seq(1), 1).count()
        finally sc.setLocalProperty("graft.test.marker", null)
        assert(marker.await(30, TimeUnit.SECONDS), "listener bus did not drain")
        (out, jobs.get)
      } finally sc.removeSparkListener(listener)
    }
    val dir = Files.createTempDirectory("graft-tables")
    // One parquet file named like a testdata table: `$dir/t.parquet`.
    def write(df: org.apache.spark.sql.DataFrame): Unit = {
      val tmp = dir.resolve("tmp")
      df.coalesce(1).write.mode("overwrite").parquet(tmp.toString)
      val part = tmp.toFile.listFiles().find(_.getName.endsWith(".parquet")).get
      Files.move(part.toPath, dir.resolve("t.parquet"), StandardCopyOption.REPLACE_EXISTING)
    }
    try {
      write(Seq((1L, "a"), (2L, "b")).toDF("k", "v"))
      val (first, firstJobs) = jobsOf(Tables(spark, dir.toString, "t"))
      assert(firstJobs > 0, "the first read infers the schema from the footer")
      val (again, againJobs) = jobsOf(Tables(spark, dir.toString, "t"))
      assert(againJobs === 0, "the second read of the same file read its footer")
      assert(again.schema === first.schema)
      assert(again.orderBy("k").as[(Long, String)].collect() === Array((1L, "a"), (2L, "b")))
      write(Seq((3L, 0.5, 7)).toDF("k", "x", "y"))
      val rewritten = Tables(spark, dir.toString, "t")
      assert(rewritten.columns.toSeq === Seq("k", "x", "y"))
      assert(rewritten.as[(Long, Double, Int)].collect() === Array((3L, 0.5, 7)))
    } finally {
      Files.walk(dir).sorted(java.util.Comparator.reverseOrder())
        .forEach(p => Files.delete(p))
    }
  }

  test("normalizeTs dispatches on LongType nanos and TimestampNTZ alike") {
    import spark.implicits._
    val usWanted = 1700000000000000L // 2023-11-14 22:13:20 UTC in µs

    val fromNanos = Tables.normalizeTs(
      Seq(usWanted * 1000L).toDF("ts"))
    assert(fromNanos.schema("ts").dataType == TimestampType)
    assert(fromNanos.select(unix_micros(col("ts"))).head().getLong(0)
      == usWanted)

    val fromNtz = Tables.normalizeTs(
      Seq(usWanted).toDF("raw")
        .select(to_timestamp_ntz(timestamp_micros(col("raw")).cast("string"))
          .as("ts")))
    assert(fromNtz.schema("ts").dataType == TimestampType)
    assert(fromNtz.select(unix_micros(col("ts"))).head().getLong(0)
      == usWanted)

    val alreadyTs = Tables.normalizeTs(
      Seq(usWanted).toDF("raw")
        .select(timestamp_micros(col("raw")).as("ts")))
    assert(alreadyTs.schema("ts").dataType == TimestampType)
    assert(alreadyTs.select(unix_micros(col("ts"))).head().getLong(0)
      == usWanted)
  }

  test("loaded column types are pinned for every table") {
    // The r7 lesson, finished: ts units are guarded above, but a
    // regeneration could also flip embeddings to list<double>, doc_id
    // to int32, or prices to decimal — each breaking encoders, fold
    // arithmetic, or oracle dtype-strict compares far from here. Pin
    // the LOADED Spark type of every column the queries do arithmetic
    // on, by table, so the next silent flip fails one named test.
    def types(t: String): Map[String, DataType] =
      Tables(spark, sfDir, t).schema.fields
        .map(f => f.name -> f.dataType).toMap
    val emb = types("embeddings")
    assert(emb("vec_id") == LongType, emb("vec_id"))
    assert(emb("embedding") == ArrayType(FloatType, containsNull = true)
      || emb("embedding") == ArrayType(FloatType, containsNull = false),
      s"embeddings.embedding loaded as ${emb("embedding")} — the vector " +
        "kernels and float→double promotion discipline assume list<float>")
    assert(emb("label") == IntegerType, emb("label"))
    val doc = types("documents")
    assert(doc("doc_id") == LongType, doc("doc_id"))
    Seq("text", "lang", "source").foreach(c =>
      assert(doc(c) == StringType, s"documents.$c: ${doc(c)}"))
    assert(doc("n_chars") == LongType, doc("n_chars"))
    val li = types("lineitem")
    Seq("l_orderkey", "l_partkey", "l_suppkey").foreach(c =>
      assert(li(c) == LongType, s"lineitem.$c: ${li(c)}"))
    Seq("l_quantity", "l_extendedprice", "l_discount", "l_tax").foreach(c =>
      assert(li(c) == DoubleType, s"lineitem.$c: ${li(c)}"))
    // date cols load NTZ (footer timestamp[us], no tz annotation) —
    // either timestamp flavor is fine, a LongType/DateType flip is not
    assert(Set[DataType](TimestampType, TimestampNTZType)
      .contains(li("l_shipdate")), li("l_shipdate"))
    val ord = types("orders")
    assert(ord("o_totalprice") == DoubleType, ord("o_totalprice"))
    assert(Set[DataType](TimestampType, TimestampNTZType)
      .contains(ord("o_orderdate")), ord("o_orderdate"))
    val ev = types("events")
    assert(ev("event_id") == LongType && ev("user_id") == LongType, ev)
    assert(ev("value") == DoubleType, ev("value"))
  }

  test("embeddings are 64-dim and documents are non-empty ASCII") {
    // Load-bearing value contracts: the vector ops fix dim = 64 in
    // plan literals (planes, projection matrices, range(1,65) oracle
    // folds), and the md5/byte-arithmetic oracles (minhash, simhash,
    // multimodal BMP) treat string POSITIONS as BYTE positions — true
    // only while text stays ASCII. A regeneration that emits unicode
    // text or a different dim must fail here, by name.
    val e = Tables(spark, sfDir, "embeddings")
      .select(size(col("embedding")).as("d"))
      .agg(min("d"), max("d")).head()
    assert(e.getInt(0) == 64 && e.getInt(1) == 64,
      s"embedding dims ${e.getInt(0)}..${e.getInt(1)} != 64")
    val d = Tables(spark, sfDir, "documents")
      .select(length(col("text")).as("len"), col("text"))
      .agg(min("len").as("lo"),
        max(array_max(transform(split(col("text"), ""),
          c => ascii(c)))).as("maxcp")).head()
    assert(d.getInt(0) >= 1, "empty document text")
    assert(d.getInt(1) < 128,
      s"non-ASCII code point ${d.getInt(1)} in documents.text — byte/char " +
        "position equivalence (minhash/simhash/BMP oracles) broken")
  }

  test("streaming source schema agrees with the batch loader") {
    // eventsFileStream peeks the batch-inferred footer schema; its
    // normalized output columns must match Tables.events exactly, or
    // stream/batch joins on the same table drift.
    val batch = Tables.events(spark, sfDir)
    val stream = graft.streaming.Streams.eventsFileStream(spark, sfDir)
    assert(stream.schema == batch.schema,
      s"stream ${stream.schema.simpleString} != batch ${batch.schema.simpleString}")
  }
}
