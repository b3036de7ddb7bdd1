package graftbench

import java.nio.file.{Files, Path}
import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** Counters of one span (or of the whole run). Updated only from the
  * listener-bus thread; read after [[Tracer.drain]].
  */
final class Counts {
  var jobs, stages, tasks = 0L
  var runMs, cpuNs, gcMs = 0L
  var shuffleRead, shuffleWrite, spill = 0L
  var outBytes, outRows = 0L

  def copy(): Counts = { val c = new Counts; c.add(this, 1); c }
  def minus(o: Counts): Counts = { val c = copy(); c.add(o, -1); c }
  def add(o: Counts, sign: Long): Unit = {
    jobs += sign * o.jobs; stages += sign * o.stages; tasks += sign * o.tasks
    runMs += sign * o.runMs; cpuNs += sign * o.cpuNs; gcMs += sign * o.gcMs
    shuffleRead += sign * o.shuffleRead; shuffleWrite += sign * o.shuffleWrite
    spill += sign * o.spill; outBytes += sign * o.outBytes
    outRows += sign * o.outRows
  }
  def json: String =
    s""""jobs": $jobs, "stages": $stages, "tasks": $tasks, "task_run_ms": $runMs, """ +
      s""""task_cpu_ms": ${cpuNs / 1000000}, "gc_ms": $gcMs, "shuffle_read_bytes": $shuffleRead, """ +
      s""""shuffle_write_bytes": $shuffleWrite, "spill_bytes": $spill"""
}

/** Span recorder for the traced run. Registers, through public API
  * only, a SparkListener (jobs, stages, task metrics), a
  * QueryExecutionListener (analysis, optimization and planning phases)
  * and a StreamingQueryListener (micro-batch progress). Jobs are tied
  * to the operation that ran them by the job group the harness sets to
  * the operation's span id.
  */
final class Tracer(cpus: Int) extends SparkListener {
  private val byGroup = new ConcurrentHashMap[String, Counts]()
  private val stageGroup = new ConcurrentHashMap[Int, String]()
  private val all = new Counts
  @volatile private var jobsStarted, jobsEnded = 0L

  // (phase start ms, analysis ms, optimization ms, planning ms)
  private val phases = new ArrayBuffer[(Long, Long, Long, Long)]
  private val progress = new ArrayBuffer[StreamingQueryListener.QueryProgressEvent]

  private def group(stageId: Int): Counts =
    byGroup.computeIfAbsent(stageGroup.getOrDefault(stageId, "none"),
      _ => new Counts)

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val g = Option(e.properties).flatMap(p =>
      Option(p.getProperty("spark.jobGroup.id"))).getOrElse("none")
    e.stageIds.foreach(stageGroup.put(_, g))
    byGroup.computeIfAbsent(g, _ => new Counts).jobs += 1
    all.jobs += 1
    jobsStarted += 1
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = jobsEnded += 1

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    group(e.stageInfo.stageId).stages += 1
    all.stages += 1
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    if (m != null) {
      val c = new Counts
      c.tasks = 1
      c.runMs = m.executorRunTime
      c.cpuNs = m.executorCpuTime
      c.gcMs = m.jvmGCTime
      c.shuffleRead = m.shuffleReadMetrics.totalBytesRead
      c.shuffleWrite = m.shuffleWriteMetrics.bytesWritten
      c.spill = m.memoryBytesSpilled + m.diskBytesSpilled
      c.outBytes = m.outputMetrics.bytesWritten
      c.outRows = m.outputMetrics.recordsWritten
      group(e.stageId).add(c, 1)
      all.add(c, 1)
    }
  }

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution,
                           durationNs: Long): Unit = {
      val ph = qe.tracker.phases
      def ms(k: String) = ph.get(k).map(p => p.endTimeMs - p.startTimeMs).getOrElse(0L)
      val start = ph.values.map(_.startTimeMs).minOption.getOrElse(0L)
      phases.synchronized {
        phases += ((start, ms("analysis"), ms("optimization"), ms("planning")))
      }
    }
    override def onFailure(funcName: String, qe: QueryExecution,
                           exception: Exception): Unit = ()
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      progress.synchronized { progress += e }
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  }

  def totals(): Counts = all.copy()

  /** Wait, outside any timed region, until the listener bus has
    * delivered every job this run started, then a little longer for
    * the execution listeners (public API has no flush).
    */
  def drain(spark: SparkSession): Unit = {
    val deadline = System.nanoTime() + 10000000000L
    while ((jobsEnded < jobsStarted ||
      spark.sparkContext.statusTracker.getActiveJobIds().nonEmpty) &&
      System.nanoTime() < deadline) Thread.sleep(20)
    Thread.sleep(300)
  }

  private def phaseSums(recs: Seq[OpRecord]): (Double, Double, Double) = {
    val snap = phases.synchronized(phases.toList)
    val inRegion = snap.filter { case (st, _, _, _) =>
      recs.exists(r => st >= r.startMs && st <= r.endMs)
    }
    (inRegion.map(_._2).sum.toDouble, inRegion.map(_._3).sum.toDouble,
      inRegion.map(_._4).sum.toDouble)
  }

  private def spanCounts(r: OpRecord): Counts =
    Option(byGroup.get(r.spanId)).getOrElse(new Counts)

  /** Per-layer metrics of the traced region, summed over its passes
    * and divided by the pass count (so values are per pass).
    */
  def layerMetrics(region: Region): Seq[(String, Double, String)] = {
    val recs = region.ops
    val passes = region.passes.size.toDouble
    val c = new Counts
    recs.foreach(r => c.add(spanCounts(r), 1))
    val (an, opt, pl) = phaseSums(recs)
    val wall = recs.map(_.totalS).sum
    Seq(
      ("operators.build_s", recs.map(_.buildS).sum / passes, "s"),
      ("operators.action_s", recs.map(_.actionS).sum / passes, "s"),
      ("plan.analysis_ms", an / passes, "ms"),
      ("plan.optimization_ms", opt / passes, "ms"),
      ("plan.planning_ms", pl / passes, "ms"),
      ("sched.jobs", c.jobs / passes, "count"),
      ("sched.stages", c.stages / passes, "count"),
      ("sched.tasks", c.tasks / passes, "count"),
      ("sched.tasks_per_stage", if (c.stages > 0) c.tasks.toDouble / c.stages else 0.0, "count"),
      ("exec.task_run_ms", c.runMs / passes, "ms"),
      ("exec.task_cpu_ms", c.cpuNs / 1e6 / passes, "ms"),
      ("exec.gc_ms", c.gcMs / passes, "ms"),
      ("exec.core_busy_ratio", if (wall > 0) c.runMs / 1e3 / (wall * cpus) else 0.0, "ratio"),
      ("shuffle.read_bytes", c.shuffleRead / passes, "bytes"),
      ("shuffle.write_bytes", c.shuffleWrite / passes, "bytes"),
      ("spill.bytes", c.spill / passes, "bytes"),
      ("pins.persisted", recs.map(_.pinsPersisted).sum / passes, "count"),
      ("pins.storage_bytes", recs.map(_.pinsBytes).sum / passes, "bytes"),
      ("pins.swept", recs.map(_.pinsSwept).sum / passes, "count"))
  }

  /** Micro-batch progress of every streaming query seen so far. */
  def streamMetrics(): Seq[(String, Double, String)] = {
    val ps = progress.synchronized(progress.toList).map(_.progress)
    def d(k: String) = ps.map(p => Option(p.durationMs.get(k)).map(_.longValue)
      .getOrElse(0L)).sum.toDouble
    val lastByQuery = ps.groupBy(_.id).values.map(_.maxBy(_.batchId))
    Seq(
      ("stream.batches", ps.size.toDouble, "count"),
      ("stream.trigger_ms", d("triggerExecution"), "ms"),
      ("stream.add_batch_ms", d("addBatch"), "ms"),
      ("stream.wal_commit_ms", d("walCommit") + d("commitOffsets"), "ms"),
      ("stream.state_commit_ms",
        ps.flatMap(_.stateOperators).map(_.commitTimeMs).sum.toDouble, "ms"),
      ("stream.state_rows",
        lastByQuery.flatMap(_.stateOperators).map(_.numRowsTotal).sum.toDouble, "count"))
  }

  /** Write the spans of the traced region as JSON. */
  def writeSpans(path: Path, region: Region): Unit = {
    val spans = region.ops.map { r =>
      s"""{"id": "${r.spanId}", "parent": "pass-${r.pass}", "name": ${Json.str(r.name)}, """ +
        s""""start_ms": ${r.startMs}, "end_ms": ${r.endMs}, "build_s": ${r.buildS}, """ +
        s""""action_s": ${r.actionS}, "ok": ${r.ok}, "pins_persisted": ${r.pinsPersisted}, """ +
        s""""pins_storage_bytes": ${r.pinsBytes}, "pins_swept": ${r.pinsSwept}, """ +
        spanCounts(r).json +
        r.residue.map(g => s""", "residue": {"temp_views": ${g.tempViews}, """ +
          s""""active_streams": ${g.activeStreams}, "persistent_rdds": ${g.persistentRdds}, """ +
          s""""threads": ${g.threads}, "heap_used_mb": ${g.heapUsedMb}}""").getOrElse("") + "}"
    }
    Files.createDirectories(path.getParent)
    Files.writeString(path, spans.mkString("[\n", ",\n", "\n]\n"))
  }

  private def listeners(spark: SparkSession) =
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession].listenerManager

  /** Register the three listeners. */
  def attach(spark: SparkSession): Unit = {
    spark.sparkContext.addSparkListener(this)
    listeners(spark).register(qeListener)
    spark.streams.addListener(streamListener)
  }

  /** Deliver what is queued, then remove the three listeners, so that
    * the next operation runs untraced.
    */
  def detach(spark: SparkSession): Unit = {
    drain(spark)
    spark.sparkContext.removeSparkListener(this)
    listeners(spark).unregister(qeListener)
    spark.streams.removeListener(streamListener)
  }
}

