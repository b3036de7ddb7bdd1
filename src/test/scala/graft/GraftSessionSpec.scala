package graft

/** [[GraftSession.withConf]]: every key it sets is put back as it was,
  * whether the body returns or throws, and nested scopes unwind in
  * order.
  */
class GraftSessionSpec extends SparkSpec {
  private val present = "spark.graft.test.present"
  private val absent = "spark.graft.test.absent"

  /** Runs a case with `present` set and `absent` unset, and leaves
    * neither behind in the shared test session. */
  private def fresh(body: => Unit): Unit = {
    spark.conf.set(present, "before")
    spark.conf.unset(absent)
    try body
    finally { spark.conf.unset(present); spark.conf.unset(absent) }
  }

  test("withConf restores a present key and unsets an absent one")(fresh {
    val seen = GraftSession.withConf(spark,
      present -> "inside", absent -> "inside") {
      (spark.conf.get(present), spark.conf.get(absent))
    }
    assert(seen === ("inside", "inside"))
    assert(spark.conf.getOption(present) === Some("before"))
    assert(spark.conf.getOption(absent) === None)
  })

  test("withConf restores both keys when the body throws")(fresh {
    intercept[IllegalStateException] {
      GraftSession.withConf(spark, present -> "inside", absent -> "inside") {
        throw new IllegalStateException("boom")
      }
    }
    assert(spark.conf.getOption(present) === Some("before"))
    assert(spark.conf.getOption(absent) === None)
  })

  test("nested withConf scopes unwind innermost first")(fresh {
    GraftSession.withConf(spark, present -> "outer", absent -> "outer") {
      GraftSession.withConf(spark, present -> "inner") {
        assert(spark.conf.get(present) === "inner")
        assert(spark.conf.get(absent) === "outer")
      }
      assert(spark.conf.get(present) === "outer")
      assert(spark.conf.get(absent) === "outer")
    }
    assert(spark.conf.getOption(present) === Some("before"))
    assert(spark.conf.getOption(absent) === None)
  })
}
