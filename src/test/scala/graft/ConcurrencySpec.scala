package graft

import java.util.concurrent.{Callable, Executors, TimeUnit}
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Queries sharing one SparkContext run side by side: each builds on
  * its own fork of the session, so its pins, views, conf, streams and
  * scratch dir are its own, and a neighbour — even one that fails —
  * cannot change its answer.
  */
class ConcurrencySpec extends SparkSpec {

  /** Row count and an order-insensitive hash of every row. */
  private def digest(df: DataFrame): (Long, String) = {
    val d = df.toDF(df.columns.indices.map(i => s"c$i"): _*)
    val r = d.agg(count(lit(1)), sum(xxhash64(to_json(struct(
        d.columns.toIndexedSeq.map(col): _*))).cast("decimal(38,0)"))
      .cast("string")).head()
    (r.getLong(0), String.valueOf(r.getString(1)))
  }

  private def run(name: String, dir: String): Either[Throwable, (Long, String)] = {
    var got: (Long, String) = null
    val (_, err) = GraftSession.runQuery(
      SparkEntry.queries(name)(spark, dir))(df => got = digest(df))
    err.toLeft(got)
  }

  test("queries on a 4-thread pool hash-equal their serial runs") {
    val names = Seq(
      "q_stream_join",     // streaming drain into a memory-sink view
      "q_graph_kcore",     // iterative op: pins released mid-loop
      "q_sql_timetravel",  // lake write + catalog conf
      "q_sink_parquet",    // scratch-dir writer, twice at once
      "q_sink_parquet",
      "q_join_lateral",    // temp views with fixed names
      "q_lake_timetravel", // lake write with a fixed-name table
      "q_stream_cdc")      // pins made inside foreachBatch
    val serial = names.distinct.map(n => n -> run(n, sfDir)).toMap
    serial.foreach { case (n, r) => assert(r.isRight, s"$n failed: $r") }
    val pool = Executors.newFixedThreadPool(4)
    try {
      // the failing query goes in first, so its fork closes while the
      // others are still running
      val jobs = ("q_graph_kcore", "/nonexistent/graft-testdata") +:
        names.map(_ -> sfDir)
      val futures = pool.invokeAll(jobs.map { case (n, d) =>
        new Callable[Either[Throwable, (Long, String)]] {
          def call() = run(n, d)
        }
      }.asJava).asScala.map(_.get())
      assert(futures.head.isLeft, "a query on a missing dir succeeded")
      names.zip(futures.tail).foreach { case (n, r) =>
        assert(r === serial(n), s"$n differs from its serial run")
      }
    } finally {
      pool.shutdown()
      assert(pool.awaitTermination(60, TimeUnit.SECONDS))
    }
  }
}
