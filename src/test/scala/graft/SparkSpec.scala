package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

object SparkSpec {
  /** The live shared session, or a new one (with a new SparkContext) if
    * a suite stopped the last one. */
  def session(): SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    GraftSession.ensureCheckpointDir(s)
    s
  }
}

/** Shared session for all suites (one JVM under Test/fork). Mirrors the
  * harness entry points (Verify/Bench) incl. the checkpoint dir, so the
  * reliable-checkpoint branch of iterative operators is what tests
  * exercise. */
trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSpec.session()

  val sf = "/root/testdata/sf0.001"
}
