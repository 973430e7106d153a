package graft

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.plans.GlobalRank

/** The scalable two-pass percent_rank/cume_dist must agree exactly with
  * the single-partition window form — including tie groups — while
  * actually running on multiple range partitions.
  */
class GlobalRankSpec extends SparkSpec {

  /** GlobalRank range-exchanges into spark.sql.shuffle.partitions
    * partitions; run `body` at `n` of them, then restore the session's
    * setting. */
  private def withShufflePartitions[T](n: Int)(body: => T): T = {
    val key = "spark.sql.shuffle.partitions"
    val saved = spark.conf.get(key)
    spark.conf.set(key, n.toLong)
    try body finally spark.conf.set(key, saved)
  }

  test("two-pass percent_rank/cume_dist == window form on orders") {
    val orders = Tables.t(spark, sf, "orders")
      .select(col("o_orderkey"), col("o_totalprice"))
    val w = Window.orderBy(col("o_totalprice"))
    val windowed = orders
      .select(col("o_orderkey"),
        percent_rank().over(w).as("pr"), cume_dist().over(w).as("cd"))
      .collect().map(r => r.getLong(0) -> (r.getDouble(1), r.getDouble(2))).toMap
    val twoPass = withShufflePartitions(7) {
      GlobalRank.percentCume(orders, "o_totalprice")
        .select(col("o_orderkey"), col("pr"), col("cd"))
        .collect().map(r => r.getLong(0) -> (r.getDouble(1), r.getDouble(2))).toMap
    }
    assert(twoPass.size == windowed.size)
    val bad = windowed.collect {
      case (k, v) if twoPass(k) != v => (k, v, twoPass(k))
    }
    assert(bad.isEmpty, s"${bad.size} mismatches, first: ${bad.headOption}")
  }

  test("ties share percent_rank and cume_dist across partition boundaries") {
    import spark.implicits._
    // Heavy ties: 1000 rows over 5 distinct keys, forced through many
    // partitions — every tie group must still get one (pr, cd) pair.
    val df = spark.range(1000)
      .select(col("id"), (col("id") % 5).cast("double").as("k"))
    val got = withShufflePartitions(13)(GlobalRank.percentCume(df, "k"))
    val perKey = got.groupBy("k")
      .agg(countDistinct(col("pr")).as("nPr"), countDistinct(col("cd")).as("nCd"),
        count(lit(1)).as("n"))
      .collect()
    perKey.foreach { r =>
      assert(r.getLong(1) == 1 && r.getLong(2) == 1,
        s"tie group ${r.getDouble(0)} split: $r")
      assert(r.getLong(3) == 200)
    }
    // Spot-check exact values: key 0 ranks rows 0..199 → pr = 0.
    val k0 = got.filter(col("k") === 0.0).select("pr", "cd").head()
    assert(k0.getDouble(0) == 0.0 && k0.getDouble(1) == 200.0 / 1000.0)
  }

  test("binary-typed keys tie correctly (deep equality, not reference)") {
    // BINARY keys surface as Array[Byte] in external Rows, where == is
    // REFERENCE equality — the case that genuinely requires deepEquals
    // (ArrayType keys deserialize to Seq, whose == is already by value).
    val df = spark.range(100)
      .select(col("id"), expr("cast(cast(id % 4 AS STRING) AS BINARY)").as("k"))
    val got = withShufflePartitions(5)(GlobalRank.percentCume(df, "k"))
    val perKey = got.selectExpr("cast(k AS STRING) AS k0", "pr", "cd")
      .groupBy("k0")
      .agg(countDistinct(col("pr")).as("nPr"), countDistinct(col("cd")).as("nCd"))
      .collect()
    perKey.foreach { r =>
      assert(r.getLong(1) == 1 && r.getLong(2) == 1,
        s"array-key tie group ${r.getString(0)} split: $r")
    }
  }

  test("two-pass runningSum == window cumsum, invariant across partitionings") {
    val docs = Tables.t(spark, sf, "documents")
      .select(col("doc_id"),
        size(split(col("text"), " ")).cast("long").as("n"),
        md5(col("doc_id").cast("string").cast("binary")).as("skey"))
    val w = Window.orderBy(col("skey"), col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val windowed = docs.select(col("doc_id"), sum(col("n")).over(w).as("cum"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    for (parts <- Seq(1, 7, 32)) {
      val twoPass = withShufflePartitions(parts) {
        GlobalRank.runningSum(docs, Seq("skey", "doc_id"), "n", "cum")
          .select(col("doc_id"), col("cum"))
          .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      }
      assert(twoPass == windowed, s"prefix sums diverge at $parts partitions")
    }
  }

  test("two-pass runningMaxExclusive == window exclusive max, invariant across partitionings") {
    val docs = Tables.t(spark, sf, "documents")
      .select(col("doc_id"),
        size(split(col("text"), " ")).cast("long").as("n"),
        md5(col("doc_id").cast("string").cast("binary")).as("skey"))
    val w = Window.orderBy(col("skey"), col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val windowed = docs
      .select(col("doc_id"),
        coalesce(max(col("n")).over(w), lit(Long.MinValue)).as("pm"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    for (parts <- Seq(1, 7, 32)) {
      val twoPass = withShufflePartitions(parts) {
        GlobalRank.runningMaxExclusive(docs, Seq("skey", "doc_id"), "n", "pm")
          .select(col("doc_id"), col("pm"))
          .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      }
      assert(twoPass == windowed, s"prefix maxes diverge at $parts partitions")
    }
  }

  test("two-pass runningSums (multi-column) == window cumsums, invariant across partitionings") {
    val docs = Tables.t(spark, sf, "documents")
      .select(col("doc_id"),
        size(split(col("text"), " ")).cast("long").as("n"),
        col("n_chars").cast("long").as("m"),
        md5(col("doc_id").cast("string").cast("binary")).as("skey"))
    val w = Window.orderBy(col("skey"), col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val windowed = docs.select(col("doc_id"),
        sum(col("n")).over(w).as("cn"), sum(col("m")).over(w).as("cm"))
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    for (parts <- Seq(1, 7, 32)) {
      val twoPass = withShufflePartitions(parts) {
        GlobalRank.runningSums(docs, Seq("skey", "doc_id"), Seq("n", "m"),
          Seq("cn", "cm"))
          .select(col("doc_id"), col("cn"), col("cm"))
          .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
      }
      assert(twoPass == windowed, s"multi prefix sums diverge at $parts partitions")
    }
  }

  test("dropping the persisted ranged blocks recomputes the same rows") {
    val orders = Tables.t(spark, sf, "orders")
      .select(col("o_orderkey"), col("o_totalprice"))
    val docs = Tables.t(spark, sf, "documents")
      .select(col("doc_id"),
        size(split(col("text"), " ")).cast("long").as("n"),
        col("n_chars").cast("long").as("m"),
        md5(col("doc_id").cast("string").cast("binary")).as("skey"))
    def build() = Seq(
      GlobalRank.percentCume(orders, "o_totalprice"),
      GlobalRank.runningSums(docs, Seq("skey", "doc_id"), Seq("n", "m"),
        Seq("cn", "cm")))
    def rows(dfs: Seq[org.apache.spark.sql.DataFrame]) =
      dfs.map(_.collect().map(_.toString).sorted.toSeq)
    withShufflePartitions(7) {
      val undisturbed = rows(build())
      val disturbed = build()
      assert(spark.sparkContext.getPersistentRDDs.nonEmpty)
      GraftSession.dropLeftoverBlocks(spark)
      assert(spark.sparkContext.getPersistentRDDs.isEmpty)
      assert(rows(disturbed) == undisturbed)
    }
  }

  test("runningSum rejects non-long values and clashing output columns") {
    val df = Tables.t(spark, sf, "documents")
      .select(col("doc_id"), col("n_chars").cast("int").as("v"))
    intercept[IllegalArgumentException] {
      GlobalRank.runningSum(df, Seq("doc_id"), "v")
    }
    val dfl = df.select(col("doc_id"), col("v").cast("long").as("v"),
      lit(0L).as("cum"))
    intercept[IllegalArgumentException] {
      GlobalRank.runningSum(dfl, Seq("doc_id"), "v")
    }
  }
}
