package graft
import java.nio.file.{Files, Paths}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.ExplainMode
/** Dev tool (not a Bench or Verify surface), on the harness session
  * (`GraftSession.harness`: SPARK_GRAFT_CPUS cores, default 4).
  *
  *   runMain graft.Dev plan <outDir> <suffix> <key> [key ...]
  *     writes `.explain("formatted")` of each declared key to
  *     <outDir>/<key>_<suffix>.txt, built at SPARK_GRAFT_SF_DIR (default
  *     sf0.1, the bench scale, so size-driven planner choices match what
  *     the bench executes) — the plans/rNN before/after evidence;
  *     `scripts/plandiff.py` compares two such directories.
  *   runMain graft.Dev check <key> [key ...]
  *     runs each key at sf0.001 and sf0.01 and prints its row count and
  *     first row.
  */
object Dev {
  def main(args: Array[String]): Unit = args.toList match {
    case "plan" :: outDir :: suffix :: keys => withSession(plan(_, outDir, suffix, keys))
    case "check" :: keys => withSession(check(_, keys))
    case _ =>
      System.err.println(
        "usage: graft.Dev plan <outDir> <suffix> <key>... | check <key>...")
      sys.exit(2)
  }

  private def withSession(body: SparkSession => Unit): Unit = {
    val spark = GraftSession.harness()
    try body(spark) finally spark.stop()
  }

  private def plan(spark: SparkSession, outDir: String, suffix: String,
      keys: Seq[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    new java.io.File(outDir).mkdirs()
    for (k <- keys) {
      val txt = SparkEntry.queries(k)(spark, sfDir).queryExecution
        .explainString(ExplainMode.fromString("formatted"))
      Files.writeString(Paths.get(s"$outDir/${k}_$suffix.txt"), txt)
      // Iterative keys materialize intermediate state while the
      // DataFrame is CONSTRUCTED (checkpointed supersteps) — sweep it
      // so one key's pinned blocks don't skew the next key's plan.
      GraftSession.dropLeftoverBlocks(spark)
    }
  }

  private def check(spark: SparkSession, keys: Seq[String]): Unit =
    for (dir <- Seq("/root/testdata/sf0.001", "/root/testdata/sf0.01");
         k <- keys) {
      val rows = SparkEntry.queries(k)(spark, dir).collect()
      println(s"$k @ $dir -> ${rows.length} rows; head=${rows.headOption}")
    }
}
