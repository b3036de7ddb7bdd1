package graft

import scala.jdk.CollectionConverters._
import org.apache.spark.sql.functions._

/** Every SparkEntry query must execute at sf0.001 and return rows —
  * a 0-row result is almost always a broken predicate, and queries
  * that throw never reach the driver's oracle gate.
  */
class QueriesSpec extends SparkSpec {

  /** What the shared session holds that a query could have left: RDD
    * ids of persistent RDDs, temp view names, stream execution threads
    * and scope dirs under Spark's local dir. Persistent RDDs, threads
    * and dirs are context-wide, so the pass is judged against what the
    * suites before it left, not against zero.
    */
  private def residue(): Map[String, Set[String]] = Map(
    "persistent RDDs" ->
      spark.sparkContext.getPersistentRDDs.keySet.map(_.toString).toSet,
    "temp views" -> spark.catalog.listTables().collect()
      .filter(_.isTemporary).map(_.name).toSet,
    "active streams" -> Thread.getAllStackTraces.keySet.asScala
      .map(_.getName).filter(_.startsWith("stream execution thread")).toSet,
    "scope dirs" -> Option(new java.io.File(
        org.apache.spark.SparkFiles.getRootDirectory()).listFiles())
      .toSet.flatten.map(_.getName).filter(_.startsWith("scope-")))

  private var before: Map[String, Set[String]] = Map.empty

  override def beforeAll(): Unit = {
    super.beforeAll()
    before = residue()
  }

  SparkEntry.queries.foreach { case (name, fn) =>
    test(s"$name runs and returns rows at sf0.001") {
      val (_, err) = GraftSession.runQuery(fn(spark, sfDir)) { df =>
        assert(df.columns.nonEmpty)
        assert(df.count() > 0, s"$name returned 0 rows")
      }
      err.foreach(throw _)
    }
  }

  test("the query pass leaves nothing on the shared session") {
    // Each query ran on its own fork, closed by runQuery; nothing
    // sweeps between queries, so whatever a query leaves shows here.
    val after = residue()
    before.keys.foreach { k =>
      assert(after(k) -- before(k) === Set.empty, s"$k left by the pass")
    }
  }

  test("entry (flagship) returns rows") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("every query key has oracle SQL or is explicitly oracle-less") {
    val q = SparkEntry.queries.keySet
    val o = SparkEntry.oracleSql.keySet
    assert(o.subsetOf(q), s"oracle keys without query: ${o.diff(q)}")
  }

  test("select: an unknown name throws, a valid subset selects exactly it") {
    val err = intercept[IllegalArgumentException] {
      SparkEntry.select(Some("q_agg_pricing_summary,q_no_such_query"))
    }
    assert(err.getMessage.contains("q_no_such_query"))
    val picked = SparkEntry.select(
      Some(" q_agg_pricing_summary, q_msg_pipeline ,,"))
    assert(picked.keySet === Set("q_agg_pricing_summary", "q_msg_pipeline"))
    assert(SparkEntry.select(None).keySet === SparkEntry.queries.keySet)
  }

  test("GraphSpine-backed builds match the inline per-query edge builds") {
    import graft.api.ops._
    val li = Tables(spark, sfDir, "lineitem")
    val ord = Tables(spark, sfDir, "orders")
    val fact = li.join(ord, li("l_orderkey") === ord("o_orderkey"))
    // wedge op: the inline fact join vs the GraphSpine lazy pairs the
    // scored query passes (the op distincts and pins either one)
    val aaInline = fact
      .adamicAdar(col("o_custkey"), col("l_suppkey"), topK = 20,
        maxDeg = 1000)
      .collect().toSeq
    val aaSpine = operators.GraphSpine.factPairs(spark, sfDir)
      .adamicAdar(col("cust"), col("supp"), topK = 20, maxDeg = 1000)
      .collect().toSeq
    assert(aaSpine === aaInline)
    // iterative op: the distinct spine's half vs the raw fact half,
    // whose duplicate pairs the op's symmetric build must collapse.
    // Ranks are float sums whose partial-agg order may differ between
    // the two (identically-partitioned but differently-ordered) edge
    // builds — compare at the 4dp the scored query emits.
    val half = fact.select(col("o_custkey").as("cust"),
      (-col("l_suppkey")).as("supp"))
    def r4(df: org.apache.spark.sql.DataFrame) = df
      .select(col("id"), Norm.r4tie(col("rank")).as("rank"))
      .orderBy("id").collect().toSeq
    val prInline = r4(half.pageRank("cust", "supp", iters = 3))
    val prSpine = r4(operators.GraphSpine.signedHalfFrom(
        operators.GraphSpine.coPurchase(spark, sfDir))
      .pageRank("cust", "supp", iters = 3))
    assert(prSpine === prInline)
  }

  test("approx_count_distinct within 5% of exact on events.user_id") {
    val e = Tables(spark, sfDir, "events")
    val approx = e.agg(approx_count_distinct("user_id")).head.getLong(0)
    val exact = e.agg(countDistinct("user_id")).head.getLong(0)
    assert(math.abs(approx - exact).toDouble / exact < 0.05)
  }
}
