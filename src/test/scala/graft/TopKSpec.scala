package graft

import org.apache.spark.sql.functions._
import graft.plans.TopKPerGroup

/** The custom LogicalPlan + Strategy + SparkPlan operator must return
  * exactly the window-based top-k (the oracle-checked `topk_per_group`
  * semantics) while planning as partial→exchange→final bounded heaps.
  */
class TopKSpec extends SparkSpec {

  test("TopKPerGroup == window row_number top-3, planned as 2-phase heaps") {
    val o = Tables.t(spark, sf, "orders")
    val got = TopKPerGroup(o, 3,
      Seq("o_custkey"), Seq(("o_totalprice", false), ("o_orderkey", true)))
      .select(col("o_custkey"), col("o_orderkey"), col("o_totalprice"))
      .orderBy(col("o_custkey"), col("o_totalprice").desc, col("o_orderkey"))
      .collect().toSeq
    val expected = SparkEntry.queries("topk_per_group")(spark, sf)
      .select(col("o_custkey"), col("o_orderkey"), col("o_totalprice"))
      .collect().toSeq
    assert(got == expected, s"${got.size} vs ${expected.size} rows")

    val plan = TopKPerGroup(o, 3,
      Seq("o_custkey"), Seq(("o_totalprice", false), ("o_orderkey", true)))
      .queryExecution.executedPlan.toString
    assert("TopKPerGroup 3".r.findAllIn(plan).size == 2, plan.take(1500))
    assert(plan.contains("Exchange hashpartitioning"), plan.take(1500))
  }

  test("near-unique group keys under a tiny partial cap: flush path == window form") {
    // o_orderkey is unique → every group is its own key, the worst case
    // for the heap map. A 1 KB cap forces the partial stage through its
    // drain-and-restart path on every few rows; results must still be
    // exactly the window form's.
    val o = Tables.t(spark, sf, "orders")
      .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"))
    spark.conf.set("spark.graft.topk.maxPartialBytes", "1024")
    try {
      val got = TopKPerGroup(o, 2, Seq("o_orderkey"),
        Seq(("o_totalprice", false), ("o_custkey", true)))
        .orderBy(col("o_orderkey"), col("o_totalprice").desc, col("o_custkey"))
        .collect().toSeq
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("o_orderkey"))
        .orderBy(col("o_totalprice").desc, col("o_custkey"))
      // Keep the baseline a genuine window plan: the shared session
      // installs the TopKPushdownRule.
      spark.conf.set("spark.graft.topk.pushdown.enabled", "false")
      val expected = try o.withColumn("rn", row_number().over(w))
        .filter(col("rn") <= 2).drop("rn")
        .orderBy(col("o_orderkey"), col("o_totalprice").desc, col("o_custkey"))
        .collect().toSeq
      finally spark.conf.unset("spark.graft.topk.pushdown.enabled")
      assert(got == expected, s"${got.size} vs ${expected.size} rows")
    } finally spark.conf.unset("spark.graft.topk.maxPartialBytes")
  }

  test("final stage runs after a spillable sort (plan shows Sort before final)") {
    val o = Tables.t(spark, sf, "orders")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val plan = TopKPerGroup(o, 3,
        Seq("o_custkey"), Seq(("o_totalprice", false), ("o_orderkey", true)))
        .queryExecution.executedPlan.toString
      // partial → exchange → Sort (UnsafeExternalSorter-backed, spills)
      // → final streaming scan.
      assert(plan.contains("Sort ["), plan.take(1500))
      assert("TopKPerGroup 3".r.findAllIn(plan).size == 2, plan.take(1500))
    } finally spark.conf.set("spark.sql.adaptive.enabled", "true")
  }

  test("TopKPerGroup with k=1 matches min_by per group") {
    val e = Tables.events(spark, sf)
    val got = TopKPerGroup(e.select(col("user_id"), col("event_id"), col("value")),
      1, Seq("user_id"), Seq(("event_id", true)))
      .select(col("user_id"), col("event_id"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    val expected = e.groupBy("user_id").agg(min(col("event_id")).as("m"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(got == expected)
  }
}
