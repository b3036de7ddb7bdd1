package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for all suites. sf0.001 keeps suites fast;
  * the driver's DuckDB gate covers sf0.01.
  */
trait SparkSpec extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = SparkSpec.session
  val sfDir = "/root/testdata/sf0.001"

  /** Runs `body` with the one-task finish of the iterative graph ops
    * off: with no broadcast bound, no pin is small enough for it. */
  protected def distributed[T](body: => T): T =
    GraftSession.withConf(spark, "spark.sql.autoBroadcastJoinThreshold" -> "-1")(body)

  /** Runs `body` on both paths of the iterative graph ops: with the
    * session's bound, where a small graph finishes in one task, and
    * [[distributed]]. */
  protected def onBothPaths(body: => Unit): Unit = {
    withClue("one task: ")(body)
    withClue("distributed: ")(distributed(body))
  }
}

object SparkSpec {
  lazy val session: SparkSession = GraftSession(4)
}
