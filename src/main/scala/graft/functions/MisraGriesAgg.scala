package graft.functions

import scala.reflect.ClassTag
import scala.reflect.runtime.universe.TypeTag
import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
import org.apache.spark.sql.expressions.Aggregator
import org.apache.spark.sql.functions.udaf
import org.apache.spark.sql.{Column, Encoder}

/** Bounded buffer of (item, count) counters, as flat parallel arrays
  * so the buffer encoder is array-shaped through the shuffle (no
  * per-entry struct encoding). Only the first `used` slots are
  * meaningful (arrays carry growth capacity, ≤ 2× the live size);
  * `offset` is the lazily-applied decrement-all debt — an entry's LIVE
  * count is `counts(i) - offset`, and a slot whose stored count is
  * ≤ offset is logically evicted (it keeps its place until the next
  * compaction, or is re-used in place if its item re-arrives).
  *
  * The two `@transient` fields are per-partition working state, never
  * encoded: `idx` maps item → slot for O(1) lookup (rebuilt after
  * deserialization — `idx == null` is the rebuild signal), `liveMinLB`
  * is a lower bound on the minimum live count, so `offset ≥ liveMinLB`
  * is the only time a compaction scan can find dead slots. The index
  * is object-keyed, so a `Long` item is boxed in it.
  */
case class MgBuf[T](var items: Array[T], var counts: Array[Long],
                    var used: Int, var offset: Long) {
  @transient private[functions] var idx: scala.collection.mutable.AnyRefMap[AnyRef, Int] = _
  @transient private[functions] var liveMinLB: Long = Long.MaxValue
}

/** One-pass Misra–Gries φ-heavy-hitter summary over a column of `T`
  * (`String` for `vocabSketch`'s vocabulary; `Long` is the bounded-
  * memory scale path behind the exact two-pass q_agg_heavy_hitters,
  * QualitySpec-gated like the sketch family). Top items of a 100 TB
  * column in one scan with O(k) state per partition, where the exact
  * form (`groupBy(item).count`) must shuffle every distinct item first.
  *
  * Guarantees (Misra–Gries '82; merge rule from Agarwal et al.,
  * "Mergeable Summaries", PODS '12): after summarizing n items with
  * k counters, every item with true frequency f > n/(k+1) is present,
  * and every reported estimate e satisfies f − n/(k+1) ≤ e ≤ f. The
  * merge subtracts the (k+1)-th largest combined count from every
  * counter and drops the non-positive ones, which preserves the error
  * bound under partial aggregation — so the shuffle moves one
  * ≤k-counter buffer per partition, O(k) regardless of row count.
  *
  * EXACTNESS property worth knowing: when k ≥ the true number of
  * distinct items, no decrement ever fires and the summary IS the
  * exact frequency table — so a generously-sized sketch can be
  * oracle-checked exactly at test scale while remaining the
  * bounded-memory path in production. NULL inputs are ignored (SQL
  * aggregate convention).
  *
  * Per-row cost is amortized O(1) at any k: lookups go through the
  * transient slot index (not a linear scan), the textbook
  * decrement-all step is a lazy `offset += 1`, and the O(k)
  * dead-slot compaction runs only when the offset crosses the
  * minimum live count — at most once per decrement-all, whose count
  * is itself bounded by n/(k+1), so total compaction work is O(n).
  */
class MisraGriesAgg[T: TypeTag: ClassTag](k: Int)
    extends Aggregator[T, MgBuf[T], Map[T, Long]] with Serializable {
  require(k >= 1 && k <= 100000, s"k must be in [1, 100000], got $k")

  private type Index = scala.collection.mutable.AnyRefMap[AnyRef, Int]
  private def key(x: T): AnyRef = x.asInstanceOf[AnyRef]

  override def zero: MgBuf[T] = MgBuf(Array.empty[T], Array.empty, 0, 0L)

  /** Slot index over the first `n` items. */
  private def index(b: MgBuf[T], n: Int): Index = {
    val m = new Index(math.max(8, n * 2))
    var i = 0
    while (i < n) { m(key(b.items(i))) = i; i += 1 }
    m
  }

  /** Rebuild the transient slot index + live-min bound after
    * deserialization (or on a fresh zero buffer). O(used), once per
    * partition resume.
    */
  private def rebuild(b: MgBuf[T]): Unit = {
    var lm = Long.MaxValue
    var i = 0
    while (i < b.used) {
      if (b.counts(i) > b.offset && b.counts(i) < lm) lm = b.counts(i)
      i += 1
    }
    b.idx = index(b, b.used)
    b.liveMinLB = lm
  }

  /** Drop dead slots (count ≤ offset), rebase live counts to absolute
    * (offset := 0), recompute the exact live minimum. O(used); runs
    * at most once per decrement-all, so amortized O(1) per row.
    */
  private def compact(b: MgBuf[T]): Unit = {
    var w = 0
    var lm = Long.MaxValue
    var i = 0
    while (i < b.used) {
      val live = b.counts(i) - b.offset
      if (live > 0) {
        b.items(w) = b.items(i)
        b.counts(w) = live
        if (live < lm) lm = live
        w += 1
      }
      i += 1
    }
    // Clear dropped object slots so evicted items don't pin memory.
    (b.items: Any) match {
      case refs: Array[AnyRef] => java.util.Arrays.fill(refs, w, b.used, null)
      case _ =>
    }
    b.used = w
    b.offset = 0L
    b.liveMinLB = lm
    b.idx = index(b, w)
  }

  /** Append x into a free slot (caller guarantees used < k), growing
    * capacity geometrically so per-insert array copying is amortized
    * O(1) instead of an O(k) copy per arrival.
    */
  private def insert(b: MgBuf[T], x: T): Unit = {
    if (b.used == b.items.length) {
      val ncap = math.min(k, math.max(4, b.items.length * 2))
      b.items = Array.copyOf(b.items, ncap)
      b.counts = java.util.Arrays.copyOf(b.counts, ncap)
    }
    b.items(b.used) = x
    b.counts(b.used) = b.offset + 1
    b.idx(key(x)) = b.used
    b.used += 1
    if (b.offset + 1 < b.liveMinLB) b.liveMinLB = b.offset + 1
  }

  override def reduce(b: MgBuf[T], x: T): MgBuf[T] = {
    if (x == null) return b
    if (b.idx == null) rebuild(b)
    b.idx.get(key(x)) match {
      case Some(i) =>
        if (b.counts(i) > b.offset) b.counts(i) += 1 // live: increment
        else { // dead slot still holding x: re-insert in place
          b.counts(i) = b.offset + 1
          if (b.offset + 1 < b.liveMinLB) b.liveMinLB = b.offset + 1
        }
        b
      case None =>
        // Free a slot first if any entry has died since the last scan.
        if (b.used == k && b.offset >= b.liveMinLB) compact(b)
        if (b.used < k) insert(b, x)
        // Decrement-all step: charge one occurrence of every tracked
        // item against the untracked arrival (which is charged too,
        // hence not inserted). Lazy: one offset bump, dead slots are
        // reaped by the next compaction.
        else b.offset += 1
        b
    }
  }

  override def merge(x: MgBuf[T], y: MgBuf[T]): MgBuf[T] = {
    if (x.used == 0) y
    else if (y.used == 0) x
    else {
      val m = scala.collection.mutable.AnyRefMap.empty[AnyRef, Long]
      for (b <- Seq(x, y)) {
        var j = 0
        while (j < b.used) {
          val live = b.counts(j) - b.offset
          val item = key(b.items(j))
          if (live > 0) m(item) = m.getOrElse(item, 0L) + live
          j += 1
        }
      }
      // Past k counters, subtract the (k+1)-th largest count; ≤ k survive.
      val cut =
        if (m.size <= k) 0L
        else m.values.toArray.sorted(Ordering[Long].reverse)(k)
      val kept = m.toArray.collect {
        case (item, c) if c - cut > 0 => (item.asInstanceOf[T], c - cut)
      }
      MgBuf(kept.map(_._1), kept.map(_._2), kept.length, 0L)
    }
  }

  override def finish(b: MgBuf[T]): Map[T, Long] =
    (0 until b.used).iterator
      .filter(i => b.counts(i) > b.offset)
      .map(i => b.items(i) -> (b.counts(i) - b.offset))
      .toMap

  override def bufferEncoder: Encoder[MgBuf[T]] = ExpressionEncoder[MgBuf[T]]()
  override def outputEncoder: Encoder[Map[T, Long]] =
    ExpressionEncoder[Map[T, Long]]()
}

object MisraGriesAgg {
  /** Column-level entry point: `MisraGriesAgg.column[String](k)(termCol)`. */
  def column[T: TypeTag: ClassTag](k: Int)(c: Column): Column =
    udaf(new MisraGriesAgg[T](k), ExpressionEncoder[T]())(c)
}
