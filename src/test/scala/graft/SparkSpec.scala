package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

object SparkSpec {
  /** The live shared session, or a new one (with a new SparkContext) if
    * a suite stopped the last one. The harness session itself, at an
    * explicit 4 cores whatever SPARK_GRAFT_CPUS says, so tests plan what
    * Bench and Verify ship, TopKPushdown included, in any suite order. */
  def session(): SparkSession = GraftSession.harness(4)
}

/** Shared session for all suites (one JVM under Test/fork), built by the
  * harness entry points' own builder, incl. the checkpoint dir, so the
  * reliable-checkpoint branch of iterative operators is what tests
  * exercise. */
trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSpec.session()

  val sf = "/root/testdata/sf0.001"
}
