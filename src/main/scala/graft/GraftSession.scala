package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.graft.PinBridge
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

  /** The query loop body Bench and Verify share: builds the query's
    * frame, runs `action` on it, returns the seconds and the error, and
    * after the clock stops closes the frame's session — the query's own
    * fork (`SparkEntry.queries`; see `PinBridge.close`).
    */
  private[graft] def runQuery(build: => DataFrame)(action: DataFrame => Any)
      : (Double, Option[Throwable]) = {
    val t0 = System.nanoTime()
    var df: DataFrame = null
    val err = try { df = build; action(df); None }
      catch { case e: Throwable => Some(e) }
    val dt = (System.nanoTime() - t0) / 1e9
    if (df != null) PinBridge.close(df.sparkSession)
    (dt, err)
  }

  /** Runs `body` with the given session conf values set, then — also
    * when `body` throws — puts every key back as it was: restored to
    * its prior value, or unset if it had none. Keys are restored in
    * reverse order, so nested scopes unwind innermost first. A query's
    * session is its own fork, so this is only for a setting that must
    * not reach the rest of the same query (a streaming drain's conf).
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
