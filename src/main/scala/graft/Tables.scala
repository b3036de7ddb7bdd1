package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** Table loader + output-normalization helpers shared by every query.
  *
  * All driver testdata is one parquet file per table under an sf dir
  * (TESTDATA.md). Loading goes through here so partition/pushdown config
  * stays in one place, and so each file's footer is read once: a plain
  * `spark.read.parquet` infers the schema with a Spark job per call,
  * while a read given the schema runs none. The schema is inferred on
  * the first read of a file identity — the path, the length and
  * modification time of each file under it, and the
  * `spark.sql.legacy.parquet.nanosAsLong` setting it is read under —
  * and given to every later read ([[schemaOf]]). A rewritten file has a
  * new identity, so its footer is read again. Only schemas are cached,
  * never frames or data: every query still scans its tables itself.
  */
object Tables {
  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  def apply(spark: SparkSession, dir: String, name: String): DataFrame =
    if (name == "events") events(spark, dir) else read(spark, s"$dir/$name.parquet")

  private val schemas =
    scala.collection.concurrent.TrieMap.empty[(Seq[(String, Long, Long)], String), StructType]

  /** The schema `spark.read.parquet(path)` infers, read from the footer
    * once per file identity. */
  private[graft] def schemaOf(spark: SparkSession, path: String): StructType = {
    val p = new org.apache.hadoop.fs.Path(path)
    val files = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
      .listStatus(p).toSeq
      .map(s => (s.getPath.toString, s.getLen, s.getModificationTime)).sorted
    val nanos = spark.conf.get("spark.sql.legacy.parquet.nanosAsLong", "false")
    schemas.getOrElseUpdate((files, nanos), spark.read.parquet(path).schema)
  }

  private def read(spark: SparkSession, path: String): DataFrame =
    spark.read.schema(schemaOf(spark, path)).parquet(path)

  /** events.ts has shipped as parquet timestamp[ns] in some testdata
    * generations and timestamp[us] in others, so dispatch on the type
    * Spark actually reads rather than assuming either:
    *  - timestamp[ns]: Spark's vectorized reader rejects it
    *    (PARQUET_TYPE_ILLEGAL); with `nanosAsLong` it surfaces as
    *    LongType nanos, which we convert to microsecond TimestampType
    *    with exact integer arithmetic (`div`, not `/` — ns values
    *    exceed 2^53 so double division would corrupt). The DuckDB
    *    oracle keeps full ns precision; every query only outputs
    *    second-precision strings / hour-level buckets, where the
    *    truncation is invisible.
    *  - timestamp[us] (isAdjustedToUTC=false): surfaces as
    *    TimestampNTZType; cast to TimestampType — value-identical
    *    because every session runs with spark.sql.session.timeZone=UTC.
    */
  def events(spark: SparkSession, dir: String): DataFrame = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    normalizeTs(read(spark, s"$dir/events.parquet"))
  }

  /** Normalize an events frame's `ts` column to TimestampType (µs),
    * whatever physical type the parquet footer declared. Shared by the
    * batch loader and the streaming file source. */
  def normalizeTs(raw: DataFrame): DataFrame =
    raw.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        raw.withColumn("ts", expr("timestamp_micros(ts div 1000)"))
      case org.apache.spark.sql.types.TimestampNTZType =>
        raw.withColumn("ts", col("ts").cast("timestamp"))
      case _ => raw
    }
}

/** Normalization helpers that keep oracle hash-compares stable
  * (SURVEY.md §5.2: round doubles to 4dp, format timestamps as UTC
  * strings, deterministic ORDER BY in every oracle-checked query).
  */
object Norm {
  /** Round to 4 decimal places as double — matches `round(x, 4)` in the
    * DuckDB oracle SQL. Always cast to double first so float32 inputs
    * (e.g. embedding elements) don't round in float space.
    */
  def r4(c: Column): Column = round(c.cast("double"), 4)

  /** Tie-proof 4dp rounding: floor(x*1e4 + 0.5)/1e4 on the same IEEE
    * double in both engines. Use instead of [[r4]] whenever the value
    * is an average (or any quotient) that could land exactly on a
    * .00005 tie — Spark `round` is HALF_UP, DuckDB half-even, so a tie
    * at the 4th decimal would hash-mismatch; floor of the identical
    * double cannot. Signed inputs (cosines in [-1, 1], differences,
    * rank keys) are fine too: for negatives it rounds
    * half-toward-+inf rather than HALF_UP, which does not matter
    * wherever the requirement is that both engines emit the IDENTICAL
    * double, not a specific half-tie convention. Oracle twin:
    * floor(x * 10000 + 0.5) / 10000.
    */
  def r4tie(c: Column): Column = floor(c * 10000 + 0.5) / 10000

  /** Sign-safe deterministic 4dp truncation: floor(x*1e4)/1e4 — rounds
    * toward -inf, so unlike [[r4]] it has no half-way tie (floor is a
    * step function whose only sensitivity is an argument landing
    * exactly on an integer, which identical IEEE doubles on both
    * engines either both do or both don't). Use for signed outputs
    * (skewness, trend slopes, Flesch scores). Oracle twin:
    * floor(x * 10000) / 10000.
    */
  def r4dn(c: Column): Column = floor(c * 10000) / 10000

  /** Timestamp → 'yyyy-MM-dd HH:mm:ss' string; avoids engine-level
    * timestamp encoding differences in the compare. Oracle twin:
    * strftime(ts, '%Y-%m-%d %H:%M:%S').
    */
  def tstr(c: Column): Column = date_format(c, "yyyy-MM-dd HH:mm:ss")

  /** Date-only string. Oracle twin: strftime(ts, '%Y-%m-%d'). */
  def dstr(c: Column): Column = date_format(c, "yyyy-MM-dd")
}
