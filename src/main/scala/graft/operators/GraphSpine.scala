package graft.operators

import graft.Tables
import graft.api.ops._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Shared co-purchase graph-spine BUILDERS.
  *
  * Every query in the graph family starts from the SAME edge list —
  * distinct (o_custkey, l_suppkey) pairs of the lineitem ⋈ orders fact
  * join — then diverges (wedge joins, rank/label/core iteration,
  * degree rollups). This object is the single implementation of that
  * build, [[factPairs]], and of the spines derived from it: hash-
  * partitioned on the join key and pinned
  * ([[graft.api.ops.pinKeyed]]) so that a query with several consumers
  * of the spine (degree rollups + joins + audit) computes it once
  * WITHIN that query. The wedge ops (adamicAdar, neighborJaccard,
  * butterflyCount) take the lazy [[factPairs]] and pin their own
  * distinct edge list, keyed on their wedge apex.
  *
  * Deliberately NOT memoized across queries: an earlier draft cached
  * the built spine in a module-level map keyed on the sf-dir, which
  * let a timed bench query skip the fact join entirely because a
  * previous (or warm-up) query had already built it. That moves real
  * per-query cost out of the timed region — the bench's per-query
  * numbers must each reflect a from-parquet computation — so every
  * call here builds fresh; reuse is scoped to one query plan via
  * a lineage pin, the same discipline as [[graft.api.ops]]. The
  * symmetric adjacency the iterative ops consume is built inside each
  * op ([[graft.api.ops.symAdjacency]]) from a half list: the lazy
  * [[factHalf]] when the query needs only that shape, or
  * [[signedHalfFrom]] a built spine when it also consumes the raw one
  * (injective column maps commute with distinct, so results are
  * byte-identical either way).
  *
  * Scale notes (100 TB): the spine is O(distinct edges), not O(fact
  * rows) — the fact join partial-aggregates its duplicate pairs
  * map-side in the distinct.
  */
object GraphSpine {

  /** Canonical distinct co-purchase edge list: (cust, supp), both keys
    * positive, hash-partitioned on `cust` (the join key of the profile,
    * assortativity and modularity rollups) and pinned. */
  def coPurchase(spark: SparkSession, dir: String): DataFrame =
    graft.api.ops.pinKeyed(factPairs(spark, dir).distinct(), col("cust"))

  /** The signed HALF edge list (cust, −supp) — customers positive,
    * suppliers negated so the two id spaces never collide. A
    * projection of a built co-purchase spine (injective, so
    * distinctness is preserved), NOT a second spine. */
  def signedHalfFrom(coPurchase: DataFrame): DataFrame =
    coPurchase.select(col("cust"), (-col("supp")).as("supp"))

  /** The signed half edge list (s = cust, t = −supp) straight off the
    * fact join — lazy and NOT deduped: the iterative ops' symmetric
    * build collapses its duplicate pairs map-side in the same exchange
    * that dedups the reversed copies, so no co-purchase spine is
    * materialized first. */
  def factHalf(spark: SparkSession, dir: String): DataFrame =
    factPairs(spark, dir).select(col("cust").as("s"), (-col("supp")).as("t"))

  /** The (cust, supp) pairs of the fact join — lazy, NOT deduped: the
    * one build every spine above derives from; the wedge ops take it. */
  private[graft] def factPairs(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables(spark, dir, "lineitem")
    val ord = Tables(spark, dir, "orders")
    li.join(ord, li("l_orderkey") === ord("o_orderkey"))
      .select(col("o_custkey").as("cust"), col("l_suppkey").as("supp"))
  }
}
