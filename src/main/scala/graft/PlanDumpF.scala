package graft
import org.apache.spark.sql.SparkSession
/** Dev tool (not a driver surface): write `.explain("formatted")` output
  * of named declared keys to files — the round-17 optimization evidence
  * trail (plans/r17/<key>_{before,after}.txt). Runs at the BENCH scale
  * (sf0.1) and the bench core count so size-estimate-driven planner
  * choices (broadcast thresholds, AQE initial plans) match what the
  * bench actually executes. Usage:
  *   runMain graft.PlanDumpF <outDir> <suffix> <key> [key ...]
  * writes <outDir>/<key>_<suffix>.txt per key.
  */
object PlanDumpF {
  def main(args: Array[String]): Unit = {
    val outDir = args(0)
    val suffix = args(1)
    val keys = args.drop(2)
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder().master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    GraftSession.ensureCheckpointDir(spark)
    graft.plans.TopKPushdown.install(spark)
    new java.io.File(outDir).mkdirs()
    for (k <- keys) {
      val df = SparkEntry.queries(k)(spark, sfDir)
      val txt = df.queryExecution.explainString(
        org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
      java.nio.file.Files.writeString(
        java.nio.file.Paths.get(s"$outDir/${k}_$suffix.txt"), txt)
      // Iterative keys materialize intermediate state while the
      // DataFrame is CONSTRUCTED (checkpointed supersteps) — sweep it
      // so one key's pinned blocks don't skew the next key's plan.
      GraftSession.dropLeftoverBlocks(spark)
    }
    spark.stop()
  }
}
