package graft

import org.apache.spark.sql.SparkSession
import graft.functions.GraftFunctions

/** The one session shape every main and the test suite run in:
  * `local[cpus]`, shuffle partitions = cpus, UTC session time zone
  * (events.ts normalization and every timestamp string depend on it),
  * no UI, and the engine's SQL functions injected as extensions — so
  * a query sees the same session in Bench, Verify and the tests.
  */
object GraftSession {

  /** `SPARK_GRAFT_CPUS`, else every core the JVM can see. */
  def cpus: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.trim.toInt)
    .getOrElse(Runtime.getRuntime.availableProcessors)

  def apply(): SparkSession = apply(cpus)

  def apply(cpus: Int): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .withExtensions(GraftFunctions.registerExtensions)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** Session hygiene between queries, outside any timed region: every
    * pin (localCheckpoint) a query materialized and did not release
    * stays in the block store until driver GC happens to collect its
    * wrapper — across a 324-query session that is hundreds of leaked
    * persisted RDDs, storage fills, and whichever queries run after
    * the cliff pay 10-70× (the r13 282 s → 1004 s full-bench
    * collapse). Each query recomputes from parquet either way, so the
    * sweep changes memory pressure only, never a result or a timing.
    * Blocking: waiting the few ms for block removal is free here, and
    * it guarantees the NEXT query starts with an empty block store
    * instead of racing the async cleaner (observed: pin-heavy queries
    * ran 2-3× slower mid-session while async removals lagged).
    */
  def sweepPins(spark: SparkSession): Unit =
    spark.sparkContext.getPersistentRDDs.values
      .foreach(_.unpersist(blocking = true))

  /** The query loop body Bench and Verify share: runs `body`, returns
    * its seconds and error, and sweeps the pins after the clock stops. */
  private[graft] def runQuery(spark: SparkSession)(body: => Any)
      : (Double, Option[Throwable]) = {
    val t0 = System.nanoTime()
    val err = try { body; None } catch { case e: Throwable => Some(e) }
    val dt = (System.nanoTime() - t0) / 1e9
    sweepPins(spark)
    (dt, err)
  }

  /** Runs `body` with the given session conf values set, then — also
    * when `body` throws — puts every key back as it was: restored to
    * its prior value, or unset if it had none. Keys are restored in
    * reverse order, so nested scopes unwind innermost first.
    */
  def withConf[T](spark: SparkSession, kvs: (String, String)*)(
      body: => T): T = {
    val prior = kvs.map { case (k, _) => k -> spark.conf.getOption(k) }
    kvs.foreach { case (k, v) => spark.conf.set(k, v) }
    try body
    finally prior.reverseIterator.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }
}
