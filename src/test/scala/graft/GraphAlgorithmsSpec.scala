package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.operators.GraphAlgorithms

/** The shared fixed-round loops behind the §2.23 graph keys: each
  * public loop, run on the graph and round count a declared key uses,
  * must reproduce that key's rows; and the seed BFS behind
  * graph_closeness / graph_eccentricity must pin one state copy.
  */
class GraphAlgorithmsSpec extends SparkSpec {

  // The co-purchase graph: distinct (a < b) part pairs bought in the
  // same order.
  private lazy val oriented: DataFrame = {
    val pp = Tables.t(spark, sf, "lineitem")
      .select(col("l_orderkey").as("ok"), col("l_partkey").as("p"))
      .distinct()
    pp.as("x").join(pp.as("y"),
        col("x.ok") === col("y.ok") && col("x.p") < col("y.p"))
      .select(col("x.p").as("a"), col("y.p").as("b")).distinct()
  }

  // The '0'-prefix Doulion sample (p = 1/16) graph_kcore and
  // graph_label_prop build.
  private lazy val sampled: DataFrame = oriented.filter(
    substring(md5(concat(col("a").cast("string"), lit("_"),
      col("b").cast("string")).cast("binary")), 1, 1) === "0")

  private def asMap(df: DataFrame): Map[Long, Long] =
    df.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap

  private def declared(key: String): Map[Long, Long] =
    asMap(SparkEntry.queries(key)(spark, sf))

  test("bfsFullReagg at 3 rounds == graph_bfs_distance") {
    // Both directions of the co-purchase graph, seeds ≡ 0 mod 97.
    val edges = oriented.select(col("a").as("src"), col("b").as("dst"))
      .unionAll(oriented.select(col("b").as("src"), col("a").as("dst")))
    val seeds = Tables.t(spark, sf, "lineitem")
      .select(col("l_partkey").as("node")).distinct()
      .filter(pmod(col("node"), lit(97)) === 0)
    val got = asMap(GraphAlgorithms.bfsFullReagg(spark, edges, seeds, 3))
    assert(got == declared("graph_bfs_distance"))
    assert(got.values.toSet.subsetOf(Set(0L, 1L, 2L, 3L)))
  }

  test("pageRank at 5 supersteps == graph_pagerank") {
    // The bipartite graph the key builds.
    val pairs = Tables.t(spark, sf, "lineitem")
      .select(col("l_partkey"), col("l_suppkey")).distinct()
    val bip = pairs
      .select((col("l_partkey") * 2).as("src"),
        (col("l_suppkey") * 2 + 1).as("dst"))
      .unionAll(pairs.select((col("l_suppkey") * 2 + 1).as("src"),
        (col("l_partkey") * 2).as("dst")))
    assert(asMap(GraphAlgorithms.pageRank(spark, bip, iters = 5))
      == declared("graph_pagerank"))
  }

  test("kcorePeel at 5 rounds == graph_kcore's degrees") {
    val peeled = GraphAlgorithms.kcorePeel(spark, sampled, k = 2, rounds = 5)
    val deg = asMap(peeled.select(explode(array(col("a"), col("b"))).as("node"))
      .groupBy("node").agg(count(lit(1)).as("deg")))
    assert(deg == declared("graph_kcore"))
    // Five rounds reach the 2-core at the fixture scale: no survivor
    // has degree below 2.
    assert(deg.values.forall(_ >= 2))
  }

  test("labelPropagation at 5 rounds == graph_label_prop") {
    val labels = asMap(GraphAlgorithms.labelPropagation(spark, sampled, 5))
    assert(labels == declared("graph_label_prop"))
    // Labels originate as self-labels and only propagate.
    assert(labels.values.toSet.subsetOf(labels.keySet))
  }

  test("graph_closeness pins one BFS state copy and keeps its rows") {
    GraftSession.dropLeftoverBlocks(spark)
    val df = SparkEntry.queries("graph_closeness")(spark, sf)
    val pinned = spark.sparkContext.getPersistentRDDs.size
    assert(pinned <= 1, s"$pinned persisted RDDs after building graph_closeness")
    // Local reference: per-seed BFS to depth 3 over the collected
    // co-purchase graph, harmonic sum in sixths as the key computes it.
    val adj = oriented.collect()
      .flatMap(r => Seq(r.getLong(0) -> r.getLong(1), r.getLong(1) -> r.getLong(0)))
      .groupBy(_._1).map { case (v, es) => v -> es.map(_._2) }
    val seeds = Tables.t(spark, sf, "lineitem")
      .select(col("l_partkey").as("node")).distinct()
      .orderBy(md5(col("node").cast("string").cast("binary")), col("node"))
      .limit(16).collect().map(_.getLong(0))
    val expected = seeds.sorted.map { seed =>
      var seen = Map(seed -> 0L)
      var frontier = Seq(seed)
      for (d <- 1L to 3L) {
        frontier = frontier.flatMap(v => adj.getOrElse(v, Array.empty[Long]))
          .distinct.filterNot(seen.contains)
        seen ++= frontier.map(_ -> d)
      }
      val reached = seen.values.filter(_ > 0)
      (seed, reached.size.toLong, reached.map(6 / _).sum)
    }.filter(_._2 > 0).toSeq
    val got = df.collect().map(r =>
      (r.getLong(0), r.getLong(1), math.round(r.getDouble(2) * 6))).toSeq
    assert(got == expected)
  }
}
