package graftbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._
import scala.util.Try

import org.apache.spark.sql.SparkSession

object Stats {
  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted
    val n = s.size
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }
}

object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null"
    else if (d == math.rint(d) && math.abs(d) < 1e15) d.toLong.toString
    else d.toString

  def result(correct: Boolean, attempted: Int, failed: Int,
             metrics: Seq[(String, Double, String)]): String = {
    val ms = metrics.map { case (k, v, u) =>
      s"${str(k)}: {\"value\": ${num(v)}, \"unit\": ${str(u)}}"
    }.mkString(", ")
    s"""{"correct": $correct, "attempted": $attempted, "failed": $failed, "metrics": {$ms}}"""
  }
}

/** Process, session and host gauges. All are read outside timed code. */
object Gauges {

  final case class Residue(tempViews: Int, activeStreams: Int,
                           persistentRdds: Int, threads: Int,
                           heapUsedMb: Double) {
    def metrics: Seq[(String, Double, String)] = Seq(
      ("residue.temp_views", tempViews.toDouble, "count"),
      ("residue.active_streams", activeStreams.toDouble, "count"),
      ("residue.persistent_rdds", persistentRdds.toDouble, "count"),
      ("residue.threads", threads.toDouble, "count"),
      ("residue.heap_used_mb", heapUsedMb, "MB"))
  }

  def residue(spark: SparkSession): Residue = Residue(
    spark.catalog.listTables().collect().count(_.isTemporary),
    spark.streams.active.length,
    spark.sparkContext.getPersistentRDDs.size,
    ManagementFactory.getThreadMXBean.getThreadCount,
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0)

  /** Peak resident set of this process (VmHWM), in MB. */
  def rssPeakMb(): Double = procStatusKb("VmHWM") / 1024.0

  private def procStatusKb(key: String): Double =
    Try(Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith(key + ":")).get
      .split("\\s+")(1).toDouble).getOrElse(Double.NaN)

  /** (steal, total) jiffies of all CPUs, from /proc/stat. */
  def cpuJiffies(): (Long, Long) =
    Try {
      val f = Files.readAllLines(Paths.get("/proc/stat")).get(0).trim
        .split("\\s+").drop(1).take(8).map(_.toLong)
      (f(7), f.sum)
    }.getOrElse((0L, 0L))

  /** Share of CPU time the hypervisor took since `from`. */
  def stealRatio(from: (Long, Long)): Double = {
    val to = cpuJiffies()
    val total = to._2 - from._2
    if (total > 0) (to._1 - from._1).toDouble / total else 0.0
  }

  def loadAvg1m(): Double =
    Try(Files.readString(Paths.get("/proc/loadavg")).trim.split("\\s+")(0)
      .toDouble).getOrElse(Double.NaN)

  def dirBytes(root: Path): Long =
    if (!Files.exists(root)) 0L
    else Try {
      val s = Files.walk(root)
      try s.iterator().asScala.filter(Files.isRegularFile(_))
        .map(p => Try(Files.size(p)).getOrElse(0L)).sum
      finally s.close()
    }.getOrElse(0L)
}
