package graft

/** Cost-based-optimizer surface (round-1 verdict gap #4): `ANALYZE
  * TABLE` statistics flowing into Catalyst. At 100 TB the optimizer
  * cannot see data sizes from file listings alone — join strategy and
  * join order come from catalog statistics, so the engine must (a)
  * collect them and (b) actually plan with them. These tests pin both:
  * exact rowCount from ANALYZE, column-level NDV, and CBO cardinality
  * propagation through a join.
  */
class CboSpec extends SparkSpec {

  private lazy val setupOnce: Unit = {
    spark.sql("CREATE DATABASE IF NOT EXISTS graft_cbo")
    Seq("customer", "orders").foreach { t =>
      // The in-memory catalog forgets tables between JVMs but the
      // warehouse directory survives — clear both before recreating.
      spark.sql(s"DROP TABLE IF EXISTS graft_cbo.$t")
      val loc = java.nio.file.Paths.get(
        spark.conf.get("spark.sql.warehouse.dir").stripPrefix("file:"),
        "graft_cbo.db", t)
      if (java.nio.file.Files.exists(loc)) {
        import scala.jdk.CollectionConverters._
        java.nio.file.Files.walk(loc).iterator().asScala.toSeq.reverse
          .foreach(java.nio.file.Files.delete)
      }
      Tables(spark, sfDir, t).write.saveAsTable(s"graft_cbo.$t")
      spark.sql(s"ANALYZE TABLE graft_cbo.$t COMPUTE STATISTICS FOR ALL COLUMNS")
    }
  }

  private def setup(): Unit = setupOnce

  test("ANALYZE TABLE yields exact rowCount stats on the relation") {
    setup()
    val expected = Tables(spark, sfDir, "customer").count()
    // rowCount surfaces through the stats visitor only under CBO —
    // without it Catalyst plans on sizeInBytes alone.
    GraftSession.withConf(spark, "spark.sql.cbo.enabled" -> "true") {
      val stats = spark.table("graft_cbo.customer")
        .queryExecution.optimizedPlan.stats
      assert(stats.rowCount.contains(BigInt(expected)), stats.toString)
    }
  }

  test("column statistics carry distinct counts for join estimation") {
    setup()
    val desc = spark
      .sql("DESCRIBE EXTENDED graft_cbo.orders o_custkey")
      .collect().map(r => (r.getString(0), r.getString(1))).toMap
    // distinct_count is what CostBasedJoinReorder uses for join
    // cardinality; NULL here would mean stats aren't really flowing.
    assert(desc.get("distinct_count").exists(v => v != null && v != "NULL"),
      desc.toString)
  }

  test("CBO propagates cardinality through a join plan") {
    setup()
    GraftSession.withConf(spark, "spark.sql.cbo.enabled" -> "true",
      "spark.sql.cbo.joinReorder.enabled" -> "true") {
      // Assert on the JOIN node itself — the aggregate above it
      // estimates ~NDV(c_mktsegment) rows, which would pass any bound
      // regardless of how wrong the join cardinality is.
      val joinStats = spark.sql("""
        SELECT c.c_mktsegment, count(*) AS n
        FROM graft_cbo.orders o
        JOIN graft_cbo.customer c ON o.o_custkey = c.c_custkey
        GROUP BY c.c_mktsegment""")
        .queryExecution.optimizedPlan.collect {
          case j: org.apache.spark.sql.catalyst.plans.logical.Join => j.stats
        }
      assert(joinStats.nonEmpty)
      // FK join: true cardinality = |orders|; CBO's NDV-based estimate
      // must be defined and within 10x either way.
      val trueCard = Tables(spark, sfDir, "orders").count().toDouble
      val est = joinStats.head.rowCount
      assert(est.isDefined, joinStats.head.toString)
      assert(est.get.toDouble >= trueCard / 10.0 &&
        est.get.toDouble <= trueCard * 10.0,
        s"est=${est.get} true=$trueCard")
    }
  }

  test("AQE splits a skewed sort-merge join at runtime (OptimizeSkewedJoin)") {
    // One hot key holds 150k of 200k probe rows — the shape that
    // stalls one reducer for the whole stage at scale. AQE must
    // detect the skewed shuffle partition from RUNTIME sizes and
    // split it across tasks (replicating the matching build rows),
    // with no plan change and no manual salt. Thresholds are lowered
    // to make a KB-scale fixture cross them — the assertion is that
    // the MECHANISM fires; production sizes trip the defaults.
    // SURVEY §4 records when this works vs when q_join_salted's
    // manual salting is still required.
    import org.apache.spark.sql.functions.{col, when, lit, md5, concat}
    GraftSession.withConf(spark,
      "spark.sql.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.adaptive.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes"
        -> "100000",
      // factor=1.0: with only 4 shuffle partitions the hot one must
      // merely exceed the median, not 5x it, to be declared skewed.
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor" -> "1.0",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "50000") {
      // ~96 bytes of hash padding per row: two sorted longs lz4-compress
      // to almost nothing, so without it the 150k-row hot partition can
      // land UNDER the 100 kB shuffle-size threshold and the mechanism
      // never trips on a KB-scale fixture.
      val pad = concat(md5(col("id").cast("string")),
        md5((col("id") + 1).cast("string")),
        md5((col("id") + 2).cast("string")))
      val left = spark.range(200000).select(
        when(col("id") < 150000, lit(0L)).otherwise(col("id")).as("k"),
        col("id").as("lv"), pad.as("lpad"))
      val right = spark.range(1000).select(col("id").as("k"),
        col("id").as("rv"))
      val joined = left.join(right, "k")
      // Execute THIS Dataset's own QueryExecution: count() builds a
      // separate plan, leaving joined's AdaptiveSparkPlanExec at its
      // initial (never skew-optimized) state — the r10 failure mode.
      // only k = 0 matches (tail ids exceed the dim's key range)
      assert(joined.queryExecution.toRdd.count() === 150000L)
      val adaptive = joined.queryExecution.executedPlan.collectFirst {
        case a: org.apache.spark.sql.execution.adaptive
            .AdaptiveSparkPlanExec => a
      }.getOrElse(fail("no adaptive plan — AQE off?"))
      // Query stages are LEAF nodes in the adaptive plan tree — a plain
      // collect stops at ResultQueryStage and sees no join at all.
      def smjIn(p: org.apache.spark.sql.execution.SparkPlan)
          : Seq[org.apache.spark.sql.execution.joins.SortMergeJoinExec] =
        p match {
          case q: org.apache.spark.sql.execution.adaptive.QueryStageExec =>
            smjIn(q.plan)
          case s: org.apache.spark.sql.execution.joins.SortMergeJoinExec =>
            s +: s.children.flatMap(smjIn)
          case other => other.children.flatMap(smjIn)
        }
      val smj = smjIn(adaptive.executedPlan)
      assert(smj.nonEmpty, adaptive.toString)
      assert(smj.exists(_.isSkewJoin),
        s"hot partition not split:\n${adaptive.executedPlan}")
    }
  }
}
