package org.apache.spark.sql.graft

import java.io.File
import java.util.UUID
import java.util.concurrent.ConcurrentHashMap
import scala.jdk.CollectionConverters._
import org.apache.hadoop.fs.Path
import org.apache.spark.{SparkContext, SparkFiles}
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.catalyst.expressions.{Attribute, AttributeSet, Expression, SortOrder}
import org.apache.spark.sql.catalyst.plans.logical.{Project, Statistics}
import org.apache.spark.sql.catalyst.plans.physical.{HashPartitioning, Partitioning, PartitioningCollection, SinglePartition, UnknownPartitioning}
import org.apache.spark.sql.classic.{Dataset, SparkSession}
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.internal.SQLConf

/** The one pin path, and the one owner of what a query allocates.
  *
  * Every pinned frame in every query is materialized by [[pin]] (as
  * `graft.api.ops.pinLineage`) and nowhere else, so the session decides
  * durability and every pin carries its layout claim and true size.
  *
  * Every `graft.SparkEntry` query builds on its own [[scoped]] fork of
  * the caller's session, which owns the query's pins, views, conf,
  * streams and [[scratch]] dir until [[close]] releases them together;
  * so nothing one query allocates reaches a query running beside it.
  * (`cloneSession`, `withActive` and `unpersistRDD` are package-private
  * to Spark, hence this package.)
  *
  * One Spark gap defeats the partition-once-iterate-free design this
  * engine's iterative operators rely on (verified against the shipped
  * Spark 4.1.2 bytecode and plans): `Dataset.checkpoint` records the
  * PHYSICAL plan's outputPartitioning into the LogicalRDD but keys the
  * node's output on the ANALYZED attribute ids. The optimizer is free
  * to rewrite ids inside the plan (RemoveRedundantAliases does, for
  * any aliased join key), so the recorded partitioning can reference
  * attributes that are not in the node's own output — EnsureRequirements
  * then never matches it and every consumer re-exchanges the pinned
  * frame. [[pin]] rebuilds the LogicalRDD with the physical→analyzed
  * attribute map applied (positional: the optimizer preserves output
  * arity and order), dropping any partitioning/ordering it cannot prove
  * maps onto the output.
  *
  * A pin referenced more than once in one query needs nothing more:
  * DeduplicateRelations re-aliases the later occurrences through
  * `LogicalRDD.newInstance()`, which in Spark 4.1.2 rewrites the
  * outputPartitioning (any `Expression` partitioning: HashPartitioning,
  * PartitioningCollection) through the same old→new attribute map as
  * the output, ordering and statistics. PropertySpec's aliased-key pin
  * test fails if an upgrade drops that rewrite.
  *
  * Beyond the checkpoint itself the fix moves no data; it is metadata.
  */
object PinBridge {

  /** One session's live pins (RDD id → checkpoint dir, if any) and its
    * scratch dir, under the per-application local dir Spark deletes at
    * exit. */
  private final class Scope {
    val pins = new ConcurrentHashMap[Int, Option[String]]()
    val dir = new File(SparkFiles.getRootDirectory(), s"scope-${UUID.randomUUID()}")
  }

  /** Weak keys: a session nobody closes takes its scope along when it
    * is collected, and the context cleaner frees its pins. */
  private val scopes =
    new java.util.WeakHashMap[org.apache.spark.sql.SparkSession, Scope]()

  private def scopeOf(spark: org.apache.spark.sql.SparkSession): Scope =
    scopes.synchronized(scopes.computeIfAbsent(spark, _ => new Scope))

  /** Builds a query on a fresh `cloneSession()` of `spark` (same conf
    * and temp views), active while `build` runs. Closed at once if
    * `build` throws; else whoever runs the action closes it after.
    * The fork is not artifact-isolated: an isolated session gets its
    * own class loader, which Spark 4 keys the codegen cache by, so each
    * query would recompile its generated classes (380 vs 280 compiles
    * per pass of the 9 iterative queries, 10-40% more task CPU). A
    * clone fixes its isolation while it is made, hence two clones.
    */
  def scoped(spark: org.apache.spark.sql.SparkSession)(
      build: org.apache.spark.sql.SparkSession => org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    val shared = spark.asInstanceOf[SparkSession].cloneSession()
    shared.sessionState.conf.setConf(SQLConf.ARTIFACTS_SESSION_ISOLATION_ENABLED, false)
    val fork = shared.cloneSession()
    try fork.withActive(build(fork))
    catch { case e: Throwable => close(fork); throw e }
  }

  /** The session's scratch dir, created on first use: a query's
    * sinks, lake tables and stream checkpoints. */
  def scratch(spark: org.apache.spark.sql.SparkSession): String = {
    val dir = scopeOf(spark).dir
    dir.mkdirs()
    dir.getPath
  }

  /** Releases what `spark` allocated: stops its streams, frees its
    * live pins and deletes its scratch dir (views and conf go with the
    * session object). Blocking, so the next query starts with the
    * block store this one found; keep it out of timed regions. */
  def close(spark: org.apache.spark.sql.SparkSession): Unit = {
    val classic = spark.asInstanceOf[SparkSession]
    classic.sharedState.activeStreamingQueries.values.asScala
      .filter(_.sparkSession eq classic).foreach(_.stop())
    val scope = scopes.synchronized(Option(scopes.remove(spark)))
    scope.foreach { s =>
      s.pins.forEach((id, file) => drop(classic.sparkContext, id, file, blocking = true))
      org.apache.spark.util.Utils.deleteRecursively(s.dir)
    }
  }

  /** Frees one pin's blocks and checkpoint files. `RDD.unpersist`
    * would only add a WARN per local pin and reset a storage level
    * nobody reads again. */
  private def drop(sc: SparkContext, id: Int, file: Option[String],
                   blocking: Boolean): Unit = {
    sc.unpersistRDD(id, blocking)
    file.foreach { f =>
      val p = new Path(f)
      p.getFileSystem(sc.hadoopConfiguration).delete(p, true)
    }
  }

  /** Remap every attribute in `e` through `assoc`; None if the result
    * references anything outside the target output (an unprovable
    * layout must be dropped, never guessed — a wrong HashPartitioning
    * claim would let the planner skip a REQUIRED exchange and corrupt
    * results).
    */
  private def remap(e: Expression, assoc: Map[Attribute, Attribute],
                    outSet: AttributeSet): Option[Expression] = {
    val rewritten = e.transform {
      case a: Attribute => assoc.getOrElse(a, a)
    }
    if (rewritten.references.subsetOf(outSet)) Some(rewritten) else None
  }

  /** The ACTUAL byte size of a pinned RDD: the summed length of its
    * checkpoint part files for a `checkpoint()` pin (which holds no
    * blocks), its block-manager bytes for a `localCheckpoint()` one.
    * Logical size estimates are useless for pinned frames (a
    * stats-less join estimate multiplies its inputs), and every
    * downstream decision — broadcast choice, [[graft.api.ops]]'
    * size-adaptive pin layout — improves when the pin carries the
    * truth it just materialized.
    */
  private def trueStats(spark: SparkSession, rdd: RDD[_]): Option[Statistics] = {
    val bytes = rdd.getCheckpointFile match {
      case Some(file) =>
        val dir = new Path(file)
        dir.getFileSystem(spark.sparkContext.hadoopConfiguration).listStatus(dir)
          .filter(_.getPath.getName.startsWith("part-")).map(_.getLen).sum
      case None => spark.sparkContext.getRDDStorageInfo
        .find(_.id == rdd.id).fold(0L)(i => i.memSize + i.diskSize)
    }
    Option.when(bytes > 0)(Statistics(sizeInBytes = bytes))
  }

  /** Only plain hash partitionings (or collections of them) are ever
    * claimed: an AQE-coalesced read (CoalescedHashPartitioning) or any
    * exotic layout is NOT reproducible by a fresh exchange on the
    * consumer side, so claiming it could co-locate a join wrongly.
    */
  private def remapPartitioning(p: Partitioning,
                                assoc: Map[Attribute, Attribute],
                                outSet: AttributeSet): Partitioning =
    p match {
      case pc: PartitioningCollection =>
        val kept = pc.partitionings
          .map(remapPartitioning(_, assoc, outSet))
          .filterNot(_.isInstanceOf[UnknownPartitioning])
        if (kept.nonEmpty) PartitioningCollection(kept)
        else UnknownPartitioning(p.numPartitions)
      case h: HashPartitioning =>
        remap(h, assoc, outSet)
          .map(_.asInstanceOf[Partitioning])
          .getOrElse(UnknownPartitioning(p.numPartitions))
      // A one-partition pin (the size-adaptive layout's small case) is
      // trivially claimable: SinglePartition references no attributes
      // and satisfies every clustered distribution, so consumers skip
      // their exchanges instead of re-shuffling a 1-partition frame.
      case SinglePartition => SinglePartition
      case other => UnknownPartitioning(other.numPartitions)
    }

  /** Checkpoint `d` and return a scan that carries the materialized
    * layout keyed on ITS OWN output attributes. The session decides
    * durability, as MLlib and GraphX do: with `sc.setCheckpointDir` set
    * the pin is a fault-tolerant `checkpoint()` under that dir (pinned
    * state survives executor loss); without one it is the memory-backed
    * `localCheckpoint()`. Runs under AQE: the layout is read from the FINAL
    * adaptive physical plan after the checkpoint executed (the stock
    * capture reads the AdaptiveSparkPlanExec wrapper pre-finalization
    * and records UnknownPartitioning). Only a plain HashPartitioning
    * survives the claim — a frame whose last exchange was AQE-coalesced
    * deliberately claims nothing (see [[remapPartitioning]]); callers
    * that NEED the layout end the pin with
    * `repartition(numPartitions, key)`, whose explicit count AQE never
    * coalesces.
    */
  def pin(d: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    val ck =
      if (d.sparkSession.sparkContext.getCheckpointDir.isDefined) d.checkpoint()
      else d.localCheckpoint()
    ck.queryExecution.analyzed match {
      case l: LogicalRDD =>
        val spark = d.sparkSession.asInstanceOf[SparkSession]
        scopeOf(spark).pins.put(l.rdd.id, l.rdd.getCheckpointFile)
        // The checkpoint above already executed the plan, so the
        // adaptive wrapper holds its final physical plan and real
        // output layout.
        val phys = d.queryExecution.executedPlan match {
          case a: AdaptiveSparkPlanExec => a.executedPlan
          case p => p
        }
        // The physical→analyzed map is positional; the optimizer must
        // preserve output arity, order, names and types (the final plan
        // produces the analyzed schema). If that invariant ever breaks,
        // a mis-zipped map could "prove" a HashPartitioning onto the
        // wrong attribute and let the planner SKIP a required exchange
        // — so verify it per pair and claim nothing on any mismatch.
        val aligned = phys.output.length == l.output.length &&
          phys.output.zip(l.output).forall { case (p, o) =>
            p.name == o.name && p.dataType == o.dataType
          }
        val (part, ord) =
          if (!aligned)
            (UnknownPartitioning(phys.outputPartitioning.numPartitions),
              Nil)
          else {
            val assoc: Map[Attribute, Attribute] =
              phys.output.zip(l.output).toMap
            val outSet = AttributeSet(l.output)
            (remapPartitioning(phys.outputPartitioning, assoc, outSet),
              phys.outputOrdering.flatMap(
                remap(_, assoc, outSet).map(_.asInstanceOf[SortOrder])))
          }
        Dataset.ofRows(spark,
          LogicalRDD(l.output, l.rdd, part, ord, l.isStreaming,
            l.stream)(spark, trueStats(spark, l.rdd)))
      case _ => ck
    }
  }

  /** Release a [[pin]] before its query ends: its blocks (async) and
    * its checkpoint files. A pin's lineage is TRUNCATED, so a released
    * pin can never be read again — callers release only pins provably
    * dead: an iterative loop's round N−1 state once round N has
    * materialized, or a staged pin once its keyed re-layout is pinned.
    * That keeps a loop's footprint at O(1) rounds however many rounds
    * it runs; every pin still alive when the query ends is freed by
    * [[close]]. No-op for non-pinned frames.
    */
  def release(df: org.apache.spark.sql.DataFrame): Unit = {
    val rdd = df.queryExecution.analyzed match {
      case l: LogicalRDD => Some(l.rdd)
      case Project(_, l: LogicalRDD) => Some(l.rdd)
      case _ => None
    }
    rdd.foreach { r =>
      scopeOf(df.sparkSession).pins.remove(r.id)
      drop(r.sparkContext, r.id, r.getCheckpointFile, blocking = false)
    }
  }
}
