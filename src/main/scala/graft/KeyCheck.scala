package graft
import org.apache.spark.sql.SparkSession
/** Local iteration harness (dev tool, not a driver surface): run named
  * declared keys at both small SFs and print row counts + head. */
object KeyCheck {
  def main(args: Array[String]): Unit = {
    val spark = SparkSession.builder().master("local[8]")
      .config("spark.sql.shuffle.partitions", 8)
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    GraftSession.ensureCheckpointDir(spark)
    graft.plans.TopKPushdown.install(spark)
    for (dir <- Seq("/root/testdata/sf0.001", "/root/testdata/sf0.01");
         k <- args) {
      val rows = SparkEntry.queries(k)(spark, dir).collect()
      println(s"$k @ $dir -> ${rows.length} rows; head=${rows.headOption}")
    }
    spark.stop()
  }
}
