package graftbench

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.{DataFrame, Row, SparkSession}

/** One timed operation of a workload: `build` returns the frame (for
  * engine queries this runs `fn(spark, dir)`, including every eager
  * pin, drain and driver-side count inside it); `action` runs the one
  * job-producing action whose result `check` validates.
  */
trait Op {
  def name: String
  def build(): DataFrame
  def action(df: DataFrame): Row
  /** None when the result is correct, else what is wrong. */
  def check(r: Row): Option[String]
}

final case class OpRecord(name: String, pass: Int, spanId: String,
                          startMs: Long, endMs: Long,
                          buildS: Double, actionS: Double, ok: Boolean,
                          error: Option[String],
                          pinsPersisted: Int, pinsBytes: Long, pinsSwept: Int,
                          residue: Option[Gauges.Residue]) {
  def totalS: Double = buildS + actionS
}

final case class EndToEnd(wallS: Double, p50S: Double, itemsPerS: Double,
                          okRatio: Double, attempted: Int, failed: Int)

final class Region {
  val passes = new ArrayBuffer[Seq[OpRecord]]
  def ops: Seq[OpRecord] = passes.flatten.toSeq
  def attempted: Int = ops.size
  def failed: Int = ops.count(!_.ok)
  def failures: Seq[String] =
    ops.filterNot(_.ok).map(r => s"${r.name}: ${r.error.getOrElse("?")}")

  /** wall_s is the median pass time (sum of its operations' times);
    * items_per_s is the work units of one pass over wall_s.
    */
  def endToEnd(unitsPerPass: Long): EndToEnd = {
    val wall = Stats.median(passes.map(_.map(_.totalS).sum).toSeq)
    EndToEnd(wall, Stats.median(ops.map(_.totalS)), unitsPerPass / wall,
      (attempted - failed).toDouble / attempted, attempted, failed)
  }

  /** Session residue after the last operation's sweep. */
  def residueMetrics: Seq[(String, Double, String)] =
    ops.flatMap(_.residue).lastOption.toSeq.flatMap(_.metrics)
}

object Harness {
  private var spanSeq = 0

  /** Unpersist every persisted RDD, waiting for the blocks to go (the
    * same sweep graft.Bench runs between queries).
    */
  def sweep(spark: SparkSession): Unit =
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))

  /** Run one operation: build, act, check, then sweep leftover pins
    * and (traced runs only) read the session gauges. Only build and
    * action are timed.
    */
  def runOp(w: Workload, op: Op, pass: Int,
            tracer: Option[Tracer]): OpRecord = {
    val sc = w.spark.sparkContext
    spanSeq += 1
    val spanId = f"op-$spanSeq%05d"
    tracer.foreach(_ => sc.setJobGroup(spanId, op.name, interruptOnCancel = false))
    val startMs = System.currentTimeMillis()
    val t0 = System.nanoTime()
    var t1 = t0
    var persisted, swept = 0
    var pinBytes = 0L
    var gaugeNs = 0L
    val outcome =
      try {
        val df = op.build()
        t1 = System.nanoTime()
        if (tracer.isDefined) {
          persisted = sc.getPersistentRDDs.size
          pinBytes = sc.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum
          gaugeNs = System.nanoTime() - t1 // not the query's time
        }
        val row = op.action(df)
        op.check(row)
      } catch {
        case e: Throwable => Some(s"${e.getClass.getSimpleName}: " +
          String.valueOf(e.getMessage).linesIterator.nextOption().getOrElse(""))
      }
    val t2 = System.nanoTime()
    val endMs = System.currentTimeMillis()
    if (t1 == t0) t1 = t2 // build threw: all time is build time
    if (tracer.isDefined) {
      swept = sc.getPersistentRDDs.size
      sc.clearJobGroup()
    }
    sweep(w.spark)
    val residue = tracer.map(_ => Gauges.residue(w.spark))
    OpRecord(op.name, pass, spanId, startMs, endMs, (t1 - t0) / 1e9,
      (t2 - t1 - gaugeNs) / 1e9, outcome.isEmpty, outcome, persisted, pinBytes, swept,
      residue)
  }
}
