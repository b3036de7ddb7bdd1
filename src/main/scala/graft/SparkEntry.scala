package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.graft.PinBridge
import graft.operators._

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * Each QueryModule contributes (queries, oracleSql) pairs; this object
  * only concatenates them. Keys must be unique across modules.
  */
object SparkEntry {
  private def modules: Seq[QueryModule] = Seq(
    Scans,
    Aggregates,
    Joins,
    Windows,
    SetOps,
    ScalarFuncs,
    TimeWindows,
    Crypto,
    StreamScored,
    Dedup,
    Similarity,
    TextAnalysis,
    Multimodal,
    Mutations,
    Graphs,
  )

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    Aggregates.pricingSummary(spark, "/root/testdata/sf0.001")

  /** One entry per implemented operator from SURVEY.md §2, each built
    * on its own fork of the given session (`PinBridge.scoped`). */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    modules.flatMap(_.queries).toMap.map { case (name, fn) =>
      name -> ((spark: SparkSession, dir: String) =>
        PinBridge.scoped(spark)(fn(_, dir)))
    }

  /** The queries named in a comma-separated list (spaces and empty
    * entries ignored), or all of them for `None`. An unknown name
    * throws: a typo must abort, not silently run a smaller set.
    */
  def select(names: Option[String])
      : Map[String, (SparkSession, String) => DataFrame] = {
    val all = queries
    names.fold(all) { csv =>
      val wanted = csv.split(",").map(_.trim).filter(_.nonEmpty).toSet
      val unknown = wanted -- all.keySet
      require(unknown.isEmpty, "names not in SparkEntry.queries: " +
        unknown.toSeq.sorted.mkString(", "))
      all.filter(kv => wanted(kv._1))
    }
  }

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omit for non-SQL-expressible ops. */
  def oracleSql: Map[String, String] =
    modules.flatMap(_.oracle).toMap
}
