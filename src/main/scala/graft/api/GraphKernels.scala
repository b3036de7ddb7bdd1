package graft.api

import scala.collection.mutable
import org.apache.spark.sql.{DataFrame, Encoders, Row}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types._

/** One-task finishes of the iterative graph ops in [[ops]]. Once an
  * op's pinned edge state is small enough ([[fits]]), one task holds
  * all of it, and running the rest of the fixpoint there in memory
  * costs one job instead of a pin job (plus its AQE stage jobs) per
  * distributed round. Kiveris et al. ("Connected Components in
  * MapReduce and Beyond", SoCC '14) finish the same way once the
  * remaining graph fits on one machine.
  *
  * Each kernel reads the op's own pinned, canonicalized edge frame as
  * (a, b) long pairs and returns exact (id, value) pairs; [[finish]]
  * types them as the distributed path's output.
  */
private[api] object GraphKernels {

  /** True when `pin` can finish in one task: its true bytes are within
    * the session's broadcast bound ([[ops.withinBroadcast]]), and its
    * ids are integral. A frame the planner would ship whole to every
    * task is small enough for one task to finish over; the rule reads
    * no row count and no scale factor, so on big inputs it fires only
    * once the state has shrunk. */
  def fits(pin: DataFrame): Boolean =
    pin.schema.forall(f => integral(f.dataType)) && ops.withinBroadcast(pin)

  /** Runs `kernel` in one task over the two columns of the pinned
    * edge frame `edges` and pins the (id, value) pairs it returns,
    * typed as `schema`: the distributed path's output, so an int id
    * comes back as an int. A row with a null endpoint is no edge. */
  def finish(edges: DataFrame, schema: StructType)(
      kernel: Iterator[(Long, Long)] => Iterator[(Long, Long)]): DataFrame = {
    val id = fromLong(schema(0).dataType)
    val value = fromLong(schema(1).dataType)
    val Array(a, b) = edges.columns
    ops.pinLineage(edges
      .select(col(a).cast(LongType), col(b).cast(LongType)).na.drop()
      .coalesce(1)
      .mapPartitions(rows => kernel(rows.map(r => (r.getLong(0), r.getLong(1))))
        .map { case (x, y) => Row(id(x), value(y)) })(Encoders.row(schema)))
  }

  private def integral(dt: DataType): Boolean = dt match {
    case ByteType | ShortType | IntegerType | LongType => true
    case _ => false
  }

  private def fromLong(dt: DataType): Long => Any = dt match {
    case ByteType => _.toByte
    case ShortType => _.toShort
    case IntegerType => _.toInt
    case _ => x => x
  }

  /** (node, min id of its component) for every node of an undirected
    * edge list: union-find that keeps the smaller root, so every root
    * is its set's minimum. */
  def components(edges: Iterator[(Long, Long)]): Iterator[(Long, Long)] = {
    val parent = mutable.LongMap.empty[Long]
    def find(x: Long): Long = {
      var r = x
      var up = parent.getOrElseUpdate(r, r)
      while (up != r) { r = up; up = parent(r) }
      var y = x
      while (y != r) { up = parent(y); parent(y) = r; y = up }
      r
    }
    edges.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra < rb) parent(rb) = ra else if (rb < ra) parent(ra) = rb
    }
    parent.keys.toArray.iterator.map(x => (x, find(x)))
  }

  /** (node, within-core degree) after round-synchronous peeling of a
    * symmetric adjacency: each round deletes every node of degree < k
    * at once, for at most `rounds` rounds, the same rounds
    * `ops.kCore` runs distributed. A node left with no live edge drops
    * out, as it does from the distributed degree table. */
  def peel(k: Int, rounds: Int)(edges: Iterator[(Long, Long)]): Iterator[(Long, Long)] = {
    val adj = edges.toSeq.groupMap(_._1)(_._2)
    val deg = mutable.LongMap.from(adj.view.mapValues(_.size.toLong))
    def below = deg.keys.filter(deg(_) < k).toList
    var bad = below
    var round = 0
    while (bad.nonEmpty && round < rounds) {
      round += 1
      bad.foreach(deg.remove)
      for (v <- bad; u <- adj(v) if deg.contains(u)) deg(u) -= 1
      deg.filterInPlace((_, d) => d > 0)
      bad = below
    }
    deg.iterator
  }

  /** (node, hop distance) for every node within `maxHops` of `seed`
    * over a symmetric adjacency, the seed itself at 0 even when it has
    * no edge, as in `ops.bfsHops`. */
  def bfs(seed: Long, maxHops: Int)(edges: Iterator[(Long, Long)]): Iterator[(Long, Long)] = {
    val adj = edges.toSeq.groupMap(_._1)(_._2)
    val dist = mutable.LongMap(seed -> 0L)
    var frontier = Seq(seed)
    for (hop <- 1 to maxHops) {
      frontier = frontier.flatMap(adj.getOrElse(_, Nil)).distinct.filterNot(dist.contains)
      frontier.foreach(dist(_) = hop)
    }
    dist.iterator
  }
}
