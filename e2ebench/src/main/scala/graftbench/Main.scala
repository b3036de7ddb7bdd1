package graftbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable.ArrayBuffer
import scala.util.Random

import org.apache.spark.sql.SparkSession

/** Benchmark entry point. One JVM = one run of one workload.
  *
  *   graftbench.Main --workload <name> --seed <n> --seconds <s>
  *                   --trace <0|1> --work-dir <dir> --testdata <dir>
  *                   [--spans <file>] [--record <file>]
  *
  * The load is a closed loop with one client: the harness issues one
  * operation (a query, or one open of a message set), waits for its
  * result, checks it, and only then issues the next. The timed region
  * runs whole passes over the workload's operations, in an order drawn
  * from the seed, until `--seconds` have elapsed (at least one pass).
  *
  * Untraced runs (`--trace 0`) print the end-to-end metrics. Traced
  * runs (`--trace 1`) run every operation twice in a row, once with
  * the listeners of [[Tracer]] registered and once without, in an
  * order that alternates; then they run the per-layer probes and print
  * the per-layer metrics. The last stdout line is always the result
  * JSON. `--record` instead writes a query workload's expected values
  * to the file.
  */
object Main {

  final case class Args(workload: String, seed: Long, seconds: Int,
                        trace: Boolean, workDir: Path, testdata: Path,
                        record: Option[Path], spans: Option[Path])

  def parse(args: Array[String]): Args = {
    val kv = args.grouped(2).collect { case Array(k, v) => k -> v }.toMap
    def need(k: String) = kv.getOrElse(k,
      throw new IllegalArgumentException(s"missing $k"))
    Args(need("--workload"), need("--seed").toLong, need("--seconds").toInt,
      need("--trace") == "1", Paths.get(need("--work-dir")).toAbsolutePath,
      Paths.get(need("--testdata")), kv.get("--record").map(Paths.get(_)),
      kv.get("--spans").map(Paths.get(_)))
  }

  def session(a: Args, cpus: Int): SparkSession = {
    val spark = SparkSession.builder()
      .appName(s"graftbench-${a.workload}")
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", a.workDir.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", a.workDir.resolve("warehouse").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    val cpus = Runtime.getRuntime.availableProcessors()
    Files.createDirectories(a.workDir)
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
    val loadStart = Gauges.loadAvg1m()
    val cpuStart = Gauges.cpuJiffies()
    val spark = session(a, cpus)
    val sessionS = (System.currentTimeMillis() - jvmStartMs) / 1e3
    val code =
      try {
        val w = Workloads(a.workload, spark, a)
        (a.record, w) match {
          case (Some(out), q: QueryWorkload) =>
            Files.writeString(out, q.expectedLines().mkString("", "\n", "\n")); 0
          case (Some(_), _) =>
            System.err.println(s"[graftbench] ${a.workload} has no expected file"); 1
          case (None, _) => run(a, spark, w, cpus, sessionS, loadStart, cpuStart)
        }
      } finally spark.stop()
    sys.exit(code)
  }

  /** The timed region: whole passes until `seconds` have elapsed, at
    * least the workload's `minPasses` (one when traced). Returns the
    * untraced and the traced operations as two regions. With a tracer,
    * each operation runs untraced and traced back to back, and which
    * goes first alternates from one operation to the next, so both see
    * the same warm state.
    */
  def timedRegion(a: Args, w: Workload,
                  tracer: Option[Tracer]): (Region, Region) = {
    val untraced, traced = new Region
    val rnd = new Random(a.seed * 1000003L + 1)
    val t0 = System.nanoTime()
    val budgetNs = a.seconds * 1000000000L
    // Stop starting passes well before the run's time limit.
    val capNs = 100L * 1000000000L
    val minPasses = if (tracer.isEmpty) w.minPasses else 1
    var pass = 0
    while (pass < minPasses ||
      (System.nanoTime() - t0 < budgetNs && System.nanoTime() - t0 < capNs)) {
      val u, t = new ArrayBuffer[OpRecord]
      rnd.shuffle(w.ops).zipWithIndex.foreach { case (op, i) =>
        def plain(): Unit = u += Harness.runOp(w, op, pass, None)
        tracer match {
          case None => plain()
          case Some(tr) =>
            def withTrace(): Unit = {
              tr.attach(w.spark)
              t += Harness.runOp(w, op, pass, tracer)
              tr.detach(w.spark)
            }
            if ((pass + i) % 2 == 0) { withTrace(); plain() }
            else { plain(); withTrace() }
        }
      }
      untraced.passes += u.toSeq
      if (tracer.isDefined) traced.passes += t.toSeq
      pass += 1
    }
    (untraced, traced)
  }

  def run(a: Args, spark: SparkSession, w: Workload, cpus: Int,
          sessionS: Double, loadStart: Double, cpuStart: (Long, Long)): Int = {
    val reps = (1 to (if (a.trace) 1 else w.setupReps)).map { _ =>
      val t = System.nanoTime()
      w.setup()
      (System.nanoTime() - t) / 1e9
    }
    val setupS = sessionS + Stats.median(reps)
    System.err.println(f"[graftbench] session ${sessionS}%.2f s, set-up reps " +
      reps.map(r => f"$r%.2f").mkString(", ") + " s")

    val out = new ArrayBuffer[(String, Double, String)]
    val regions = ArrayBuffer.empty[Region]
    if (!a.trace) {
      val (untraced, _) = timedRegion(a, w, None)
      regions += untraced
      val m = untraced.endToEnd(w.unitsPerPass)
      out += (("setup_s", setupS, "s"))
      out += (("wall_s", m.wallS, "s"))
      out += (("query_p50_s", m.p50S, "s"))
      out += (("items_per_s", m.itemsPerS, "1/s"))
      out += (("rss_peak_mb", Gauges.rssPeakMb(), "MB"))
      out += (("ok_ratio", m.okRatio, "ratio"))
      untraced.ops.foreach(r => System.err.println(
        f"[graftbench] op ${r.name} pass ${r.pass} build ${r.buildS}%.3f action ${r.actionS}%.3f"))
      System.err.println(f"[graftbench] ${a.workload}: passes=${untraced.passes.size}" +
        f" ops=${m.attempted} failed=${m.failed} failed_ratio=${m.failed.toDouble / m.attempted}%.4f" +
        f" host_steal=${Gauges.stealRatio(cpuStart)}%.3f")
    } else {
      val tracer = new Tracer(cpus)
      val (untraced, traced) = timedRegion(a, w, Some(tracer))
      regions ++= Seq(untraced, traced)
      tracer.attach(spark)
      val probes = w.probes(tracer)
      tracer.detach(spark)
      val mu = untraced.endToEnd(w.unitsPerPass)
      val mt = traced.endToEnd(w.unitsPerPass)
      out ++= tracer.layerMetrics(traced)
      out ++= probes
      out ++= traced.residueMetrics
      out += (("localdir.bytes", Gauges.dirBytes(a.workDir).toDouble, "bytes"))
      out += (("host.loadavg_1m_start", loadStart, "load"))
      out += (("host.loadavg_1m_end", Gauges.loadAvg1m(), "load"))
      out += (("host.steal_ratio", Gauges.stealRatio(cpuStart), "ratio"))
      out += (("trace.untraced_wall_s", mu.wallS, "s"))
      out += (("trace.traced_wall_s", mt.wallS, "s"))
      out += (("trace.overhead_s", mt.wallS - mu.wallS, "s"))
      a.spans.foreach(tracer.writeSpans(_, traced))
    }
    val attempted = regions.map(_.attempted).sum
    val failed = regions.map(_.failed).sum
    regions.flatMap(_.failures).distinct.take(10).foreach(f =>
      System.err.println(s"[graftbench] FAILED $f"))
    println(Json.result(failed == 0, attempted, failed, out.toSeq))
    0
  }
}
