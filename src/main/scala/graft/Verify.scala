package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    // Optional 3rd arg: comma-separated query-name filter (iterating on
    // one query; e2ebench/crosscheck.py checks its query set this way).
    // A full correctness dump passes 2 args.
    val Array(sfDir, outDir) = args.take(2)
    val queries = SparkEntry.select(args.lift(2))
    val spark = GraftSession()
    new java.io.File(outDir).mkdirs()
    // A query that throws must be LOUD: it is recorded in
    // verify_errors.json, counted on stdout, and fails the exit code —
    // otherwise a crashing query silently vanishes from the driver's
    // CORRECTNESS compare (round 7 lost 33 queries exactly this way).
    val errors = scala.collection.mutable.LinkedHashMap.empty[String, String]
    queries.foreach { case (name, fn) =>
      GraftSession.runQuery(fn(spark, sfDir))(_.coalesce(1).write
        .mode("overwrite").parquet(s"$outDir/$name"))._2.foreach { e =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
        errors(name) = s"${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(500)}"
      }
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    val errJson = errors
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/verify_errors.json"), errJson)
    println(s"[verify] ${errors.size} failed of ${queries.size} queries")
    spark.stop()
    if (errors.nonEmpty) sys.exit(1)
  }
}
