package graft
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    // SPARK_GRAFT_BENCH_ONLY (dev-only; the driver leaves it unset →
    // all queries) restricts the run to a comma-separated name list —
    // the scale-rehearsal protocol benches the expensive tail at sf1
    // without paying for 270 queries per iteration.
    val only = sys.env.get("SPARK_GRAFT_BENCH_ONLY")
    val queries = SparkEntry.select(only)
    val spark = GraftSession()
    // Untimed warm-up pass: JVM/codegen JIT, parquet footer caches, and
    // broadcast paths all pay first-use costs that would otherwise land
    // on whichever query happens to run first (observed: +4 s on a
    // 0.4 s query). The timed pass below measures steady state.
    queries.foreach { case (_, fn) =>
      GraftSession.runQuery(fn(spark, sfDir))(_.count())
    }
    // SPARK_GRAFT_BENCH_RUNS > 1 (dev-only; the driver leaves it unset
    // → 1, identical behavior) times each query N times and reports
    // the MIN — the standard noise-floor estimate. Single-run timings
    // on this box swing 2-3× per query (round-5's q_dedup_simhash
    // "regression" was exactly that), so min-of-N is how a suspected
    // regression gets confirmed or cleared locally.
    val runs = sys.env.getOrElse("SPARK_GRAFT_BENCH_RUNS", "1").toInt
      .max(1)
    // A query that throws must not silently contribute time-to-throw
    // to the total (round 7's artifact hid 33 crashes as ~0.1 s
    // "timings"): record it, and surface the list in the JSON line.
    val failed = scala.collection.mutable.LinkedHashSet.empty[String]
    val results = queries.map { case (name, fn) =>
      val best = (1 to runs).map { _ =>
        val (dt, err) = GraftSession.runQuery(fn(spark, sfDir))(_.count())
        if (err.isDefined) failed += name
        dt
      }.min
      name -> best
    }
    val qs = results.map { case (k, v) => s"\"" + k + "\":" + v }
      .mkString("{", ",", "}")
    val total = if (results.nonEmpty) results.values.sum else 0.0
    val failedJson = failed.map("\"" + _ + "\"").mkString("[", ",", "]")
    val line =
      s"""{"metric":"total","value":$total,"unit":"sec","queries":$qs,"n_failed":${failed.size},"failed":$failedJson,"sf":"$sfDir"}"""
    println(line)
    // The driver captures stdout with a TAIL window: the full line
    // above loses its FRONT in the round artifact once the query map
    // grows past the window. Emit a compact totals-only line after it
    // (and the slowest five, for triage) so the tail always carries a
    // complete, parseable summary; per-query detail lives in the full
    // line and in target/bench.json.
    val worst = results.toSeq.sortBy(-_._2).take(5)
      .map { case (k, v) => s"\"" + k + "\":" + (math.round(v * 1000) / 1000.0) }
      .mkString("{", ",", "}")
    println(s"""{"metric":"total","value":$total,"unit":"sec","n_queries":${results.size},"n_failed":${failed.size},"failed":$failedJson,"slowest":$worst,"sf":"$sfDir"}""")
    // Persist the full line to files too so every per-query timing
    // stays auditable. BENCH_FULL_latest.json sits at the repo root on
    // purpose: the driver's round-end commit sweeps it up, so the full
    // 270+-entry per-query map survives even though the driver's own
    // BENCH_r*.json keeps only a truncated stdout tail. A
    // SPARK_GRAFT_BENCH_ONLY hot-set run must NOT overwrite it (the
    // r13 mistake: a 19-query run clobbered the full-bench artifact
    // and broke cross-round drift comparison) — partial runs write
    // only target/bench.json.
    val sinks =
      if (only.isEmpty) Seq("target/bench.json", "BENCH_FULL_latest.json")
      else Seq("target/bench.json")
    for (p <- sinks) {
      try {
        val out = java.nio.file.Paths.get(p)
        if (out.getParent != null)
          java.nio.file.Files.createDirectories(out.getParent)
        java.nio.file.Files.writeString(out, line + "\n")
      } catch { case _: Throwable => () }
    }
    spark.stop()
  }
}
