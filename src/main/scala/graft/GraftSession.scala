package graft

import org.apache.spark.sql.SparkSession

/** Session-level plumbing shared by the harness entry points (Bench,
  * Verify, ScaleStress, Dev, the test suites) and available to library
  * users.
  *
  * `ensureCheckpointDir` makes iterative operators' RELIABLE-checkpoint
  * branch actually run: ConnectedComponents (dedup_cluster_canon) cuts
  * lineage every superstep with `df.checkpoint(true)` when a checkpoint
  * dir exists and only falls back to fault-intolerant `localCheckpoint`
  * without one. A real cluster points this at durable storage (HDFS/
  * object store); the harness default is a per-application /tmp
  * directory, removed at JVM exit.
  */
object GraftSession {

  /** The one session builder of every harness entry point:
    * `local[cpus]` with as many shuffle partitions, UTC session time,
    * no UI, WARN logs, a checkpoint dir and the TopKPushdown rule, so
    * every harness plans what Bench and Verify plan. `cpus` defaults to
    * SPARK_GRAFT_CPUS, else 4. perfbench's frozen `Harness` keeps a
    * hand-made copy that also places its directories under its run
    * directory. */
  def harness(cpus: Int = sys.env.get("SPARK_GRAFT_CPUS").fold(4)(_.toInt))
      : SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toLong)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    ensureCheckpointDir(spark)
    graft.plans.TopKPushdown.install(spark)
    spark
  }

  private val cleanupRegistered =
    java.util.concurrent.ConcurrentHashMap.newKeySet[String]()

  /** Set a per-application checkpoint dir unless the caller already
    * configured one. Idempotent; registers one shutdown cleanup per
    * directory actually created. */
  def ensureCheckpointDir(spark: SparkSession): Unit =
    if (spark.sparkContext.getCheckpointDir.isEmpty) {
      val dir = s"/tmp/graft_checkpoints/${spark.sparkContext.applicationId}"
      spark.sparkContext.setCheckpointDir(dir)
      if (cleanupRegistered.add(dir)) {
        Runtime.getRuntime.addShutdownHook(new Thread(() => {
          def del(f: java.io.File): Unit = {
            val kids = f.listFiles()
            if (kids != null) kids.foreach(del)
            f.delete(): Unit
          }
          del(new java.io.File(dir))
        }))
      }
    }

  /** Sets nothing (byte-sized AQE reducers ran slower than the
    * default, 112.7 vs 101.2 s bench). It stays only because
    * perfbench's frozen `Harness` calls it; no entry point in `src/`
    * does. */
  def applyRuntimeTuning(spark: SparkSession): Unit = ()

  /** Drop cached relations and any leftover persisted RDDs — the ONE
    * copy of the per-query block hygiene both harness drivers (Bench,
    * Verify) run between queries. Several operators pin blocks whose
    * lifetime Spark's ContextCleaner only reclaims on GC
    * (GlobalRank's two-pass partitioning pin, iterative superstep
    * checkpoints, pivot samples); across a 170+-query run those dead
    * blocks fill the unified region and the LATE queries pay the
    * eviction/GC thrash (graph_pagerank read 18.8 s in-run vs 6.6 s
    * solo before this sweep existed). Blocking eviction on purpose:
    * an async unpersist races into the NEXT query's timed region,
    * which is exactly the cross-query interference the sweep removes.
    * Long-lived library sessions composing these operators should
    * call this at their own unit-of-work boundaries. */
  def dropLeftoverBlocks(spark: SparkSession): Unit = {
    spark.sharedState.cacheManager.clearCache()
    spark.sparkContext.getPersistentRDDs.values
      .foreach(_.unpersist(blocking = true))
  }
}
