package graft
import org.apache.spark.sql.SparkSession
/** Dev tool (not a driver surface): print the physical plan of named
  * declared keys at sf0.001 — the .explain audit loop the scale
  * discipline prescribes (pushdown/pruning/join-shape eyeballing
  * before a key ships; PlanAuditSpec pins the load-bearing shapes). */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val spark = SparkSession.builder().master("local[4]")
      .config("spark.sql.shuffle.partitions", 4)
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    GraftSession.ensureCheckpointDir(spark)
    graft.plans.TopKPushdown.install(spark)
    for (k <- args) {
      println(s"===== $k =====")
      val df = SparkEntry.queries(k)(spark, "/root/testdata/sf0.001")
      println(df.queryExecution.explainString(
        org.apache.spark.sql.execution.SimpleMode))
    }
    spark.stop()
  }
}
