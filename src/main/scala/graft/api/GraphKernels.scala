package graft.api

import scala.collection.mutable
import org.apache.spark.sql.{DataFrame, Encoders, Row}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types._

/** One-task finishes of the graph ops in [[ops]]. Once an op's pinned
  * edge state is small enough ([[fits]]), one task holds all of it, and
  * running the rest of the op there in memory costs one job instead of
  * a pin job (plus its AQE stage jobs) per distributed round. Kiveris
  * et al. ("Connected Components in MapReduce and Beyond", SoCC '14)
  * finish the same way once the remaining graph fits on one machine.
  *
  * Each kernel reads the op's own pinned, canonicalized edge frame as
  * (a, b) long pairs, a null endpoint as None, and returns the exact
  * rows of the distributed path, which [[finish]] types as its output:
  *  - [[components]]: (node, min id of its component), for both
  *    components forms;
  *  - [[peel]]: (node, within-core degree) for `kCore`;
  *  - [[bfs]]: (node, hop distance) for `bfsHops`;
  *  - [[pageRank]]: (node, rank) for `pageRank`;
  *  - [[propagate]]: (node, label) for `labelPropagation`;
  *  - [[walks]]: (seed, step, node) for the seeded walks
  *    (`ops.randomWalks`).
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
    * edge frame `edges`, a null endpoint passed as None, and types the
    * rows it returns as `schema`: the distributed path's output, so an
    * int id comes back as an int. A kernel emits each row as a tuple
    * whose id cells are `Long`s (None for a null id); every other cell
    * passes through as it is. The frame is not pinned, so a result
    * read once costs no job of its own; the two components forms pin
    * it ([[ops.pinLineage]]). */
  def finish(edges: DataFrame, schema: StructType)(
      kernel: Iterator[(Option[Long], Option[Long])] => Iterator[Product]): DataFrame = {
    val cells = schema.fields.map(f => cell(f.dataType))
    val Array(a, b) = edges.columns
    def opt(r: Row, i: Int) = if (r.isNullAt(i)) None else Some(r.getLong(i))
    edges
      .select(col(a).cast(LongType), col(b).cast(LongType))
      .coalesce(1)
      .mapPartitions(rows => kernel(rows.map(r => (opt(r, 0), opt(r, 1))))
        .map(p => Row.fromSeq(p.productIterator.zip(cells)
          .map { case (v, f) => f(v) }.toSeq)))(Encoders.row(schema))
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

  private def cell(dt: DataType): Any => Any = {
    val id = fromLong(dt)
    (v: Any) => v match {
      case x: Long => id(x)
      case Some(x: Long) => id(x)
      case None => null
      case x => x
    }
  }

  /** The edges with both endpoints: the only rows the union-find,
    * peeling and BFS kernels treat as edges. */
  private def present(edges: Iterator[(Option[Long], Option[Long])])
      : Iterator[(Long, Long)] =
    edges.collect { case (Some(a), Some(b)) => (a, b) }

  /** Each source node's targets, a null target kept as None:
    * a row with a null source joins no rank or label, so in the
    * distributed rounds it is no edge either. */
  private def targets(edges: Iterator[(Option[Long], Option[Long])])
      : Map[Long, Seq[Option[Long]]] =
    edges.collect { case (Some(s), t) => (s, t) }.toSeq.groupMap(_._1)(_._2)

  /** (node, min id of its component) for every node of an undirected
    * edge list: union-find that keeps the smaller root, so every root
    * is its set's minimum. */
  def components(edges: Iterator[(Option[Long], Option[Long])]): Iterator[(Long, Long)] = {
    val parent = mutable.LongMap.empty[Long]
    def find(x: Long): Long = {
      var r = x
      var up = parent.getOrElseUpdate(r, r)
      while (up != r) { r = up; up = parent(r) }
      var y = x
      while (y != r) { up = parent(y); parent(y) = r; y = up }
      r
    }
    present(edges).foreach { case (a, b) =>
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
  def peel(k: Int, rounds: Int)(edges: Iterator[(Option[Long], Option[Long])])
      : Iterator[(Long, Long)] = {
    val adj = present(edges).toSeq.groupMap(_._1)(_._2)
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
  def bfs(seed: Long, maxHops: Int)(edges: Iterator[(Option[Long], Option[Long])])
      : Iterator[(Long, Long)] = {
    val adj = present(edges).toSeq.groupMap(_._1)(_._2)
    val dist = mutable.LongMap(seed -> 0L)
    var frontier = Seq(seed)
    for (hop <- 1 to maxHops) {
      frontier = frontier.flatMap(adj.getOrElse(_, Nil)).distinct.filterNot(dist.contains)
      frontier.foreach(dist(_) = hop)
    }
    dist.iterator
  }

  /** (node, rank) after `iters` synchronous PageRank rounds over a
    * symmetric distinct adjacency, as `ops.pageRank` runs them: every
    * source starts at rank 1; a round gives each target
    * (1 − d) + d·Σ rank(u)/deg(u) over its sources u that hold a rank,
    * deg counting each distinct edge once (a self-loop too). A node
    * reached from no ranked source drops out, and an edge to a null
    * endpoint passes its share to the null id, as in the rounds. */
  def pageRank(iters: Int, damping: Double)(
      edges: Iterator[(Option[Long], Option[Long])]): Iterator[(Option[Long], Double)] = {
    val adj = targets(edges)
    var rank: collection.Map[Option[Long], Double] = adj.map { case (s, _) => Option(s) -> 1.0 }
    for (_ <- 1 to iters) {
      val sum = mutable.HashMap.empty[Option[Long], Double]
      for ((s, ts) <- adj; r <- rank.get(Some(s)); share = r / ts.size.toDouble; t <- ts)
        sum(t) = sum.getOrElse(t, 0.0) + share
      rank = sum.map { case (t, x) => t -> ((1.0 - damping) + damping * x) }
    }
    rank.iterator
  }

  /** (node, label) after `iters` synchronous label-propagation rounds
    * over a symmetric distinct adjacency, as `ops.labelPropagation`
    * runs them: every source starts labeled by its own id; a round
    * relabels each target with its labeled sources' most frequent
    * label, the smallest label among equal counts. */
  def propagate(iters: Int)(
      edges: Iterator[(Option[Long], Option[Long])]): Iterator[(Option[Long], Long)] = {
    val adj = targets(edges)
    var label: collection.Map[Option[Long], Long] = adj.map { case (s, _) => Option(s) -> s }
    for (_ <- 1 to iters) {
      val counts = mutable.HashMap.empty[Option[Long], mutable.LongMap[Long]]
      for ((s, ts) <- adj; l <- label.get(Some(s)); t <- ts) {
        val c = counts.getOrElseUpdate(t, mutable.LongMap.empty[Long])
        c(l) = c.getOrElse(l, 0L) + 1
      }
      label = counts.map { case (t, c) => t -> c.minBy { case (l, n) => (-n, l) }._1 }
    }
    label.iterator
  }

  /** (seed, step, node) rows of the seeded walks over a symmetric
    * distinct adjacency, as `ops.randomWalks` takes them: the `seeds`
    * positive source ids first by (md5 of the id's decimal string,
    * id), each at step 0 on itself; at step k a walker on node u moves
    * to the neighbour v with the smallest (md5("k:u:v"), v) — a null
    * neighbour hashes "k:u" and ends the walk there, and a walker
    * with nowhere to go stops. */
  def walks(seeds: Int, steps: Int)(
      edges: Iterator[(Option[Long], Option[Long])]): Iterator[(Long, Int, Option[Long])] = {
    val adj = targets(edges)
    val md = java.security.MessageDigest.getInstance("MD5")
    val hex = java.util.HexFormat.of()
    def md5(s: String) =
      hex.formatHex(md.digest(s.getBytes(java.nio.charset.StandardCharsets.UTF_8)))
    // Each key hashed once: a sort would rehash it at every comparison.
    val starts = adj.keys.filter(_ > 0).toSeq.map(cu => (md5(cu.toString), cu))
      .sorted.take(seeds).map(_._2)
    starts.iterator.flatMap { seed =>
      val rows = mutable.ArrayBuffer((seed, 0, Option(seed)))
      var at = Option(seed)
      var k = 1
      while (k <= steps && at.exists(adj.contains)) {
        val u = at.get
        at = adj(u).minBy(v => (md5((Seq(k, u) ++ v).mkString(":")), v))
        rows += ((seed, k, at))
        k += 1
      }
      rows
    }
  }
}
