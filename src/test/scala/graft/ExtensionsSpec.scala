package graft

import org.apache.spark.sql.SparkSession

/** The spark.sql.extensions deployment path: a fresh session configured
  * with GraftExtensions exposes the custom expressions as SQL functions
  * without any registration calls.
  */
class ExtensionsSpec extends SparkSpec {

  /** Stop whatever context another suite left running: spark.sql.extensions
    * is a STATIC conf, read only when a session creates its context. */
  private def stopActive(): Unit = {
    SparkSession.getActiveSession.orElse(SparkSession.getDefaultSession)
      .foreach(_.sparkContext.stop())
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
  }

  test("GraftExtensions injects array_dot, discount_band, tokenize") {
    // spark.sql.extensions is a STATIC conf: it only takes effect when the
    // session also creates the SparkContext. Another suite's shared
    // session (SparkSpec) may have created one already — stop it so this
    // test exercises the real deployment path; later suites' lazy
    // getOrCreate transparently builds a fresh context afterwards.
    stopActive()
    val s = SparkSession.builder()
      .master("local[2]")
      .appName("graft-ext-test")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.sql.shuffle.partitions", "2")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    try {
      val dot = s.sql("SELECT array_dot(array(1.0D, 2.0D), array(3.0D, 4.0D))")
        .head().getDouble(0)
      assert(dot == 11.0)
      val band = s.sql("SELECT discount_band(0.05D)").head().getString(0)
      assert(band == "MID")
      val toks = s.sql(
        "SELECT pos, token FROM (SELECT 'a b c' AS t) LATERAL VIEW tokenize(t) x AS pos, token")
        .collect().map(r => (r.getLong(0), r.getString(1))).toSeq
      assert(toks == Seq((0L, "a"), (1L, "b"), (2L, "c")))
      assert(s.sessionState.planner.strategies.exists(_.toString.contains("TopKStrategy"))
        || s.sessionState.planner.extraPlanningStrategies.nonEmpty)
      // Sketch-signature surface.
      assert(s.sql("SELECT size(minhash_sig(array('a','b'), 8))")
        .head().getInt(0) == 8)
      assert(s.sql("SELECT simhash_sig(array('a','b')) = simhash_sig(array('b','a'))")
        .head().getBoolean(0), "simhash must be token-order independent")
      assert(s.sql("SELECT sorted_intersect_count(array('a','b','c'), array('b','c','d'))")
        .head().getInt(0) == 2)
      // Implicit coercion: integer-array input is cast to array<double>.
      assert(s.sql("SELECT hyperplane_sig(array(1, -2)) = hyperplane_sig(array(1.0D, -2.0D))")
        .head().getBoolean(0))
      // t-digest aggregate: exact on a set small enough to never merge
      // centroids; 2-arg (default compression) and 3-arg forms.
      val med = s.sql("SELECT tdigest_quantile(CAST(id AS DOUBLE), 0.5D) " +
        "FROM range(0, 101)").head().getDouble(0)
      assert(math.abs(med - 50.0) <= 1.0, s"tdigest median of 0..100: $med")
      val med3 = s.sql("SELECT tdigest_quantile(CAST(id AS DOUBLE), 0.5D, 50) " +
        "FROM range(0, 101)").head().getDouble(0)
      assert(math.abs(med3 - 50.0) <= 2.0, s"tdigest(δ=50) median: $med3")
      // Bloom build + probe round-trip through pure SQL: every inserted
      // key probes true, and a disjoint key probes false at this sizing.
      assert(s.sql(
        """WITH bf AS (SELECT bloom_build(id, 4096, 5) AS b FROM range(0, 100))
          |SELECT count(*) FROM range(0, 100), bf
          |WHERE bloom_might_contain(b, id, 5)""".stripMargin)
        .head().getLong(0) == 100L)
      // Count-Min: exact on a collision-free sizing (100 keys, 2048 slots
      // per row — est == exact unless two keys collide in EVERY row).
      assert(s.sql(
        """WITH cm AS (SELECT countmin_build(id % 10, 5, 2048) AS b
          |            FROM range(0, 100))
          |SELECT countmin_estimate(b, 3, 5) FROM cm""".stripMargin)
        .head().getLong(0) == 10L)
      // Exact bitmap distinct: 100 rows over 25 distinct keys.
      assert(s.sql("SELECT bitmap_distinct(id % 25, 1024) FROM range(0, 100)")
        .head().getLong(0) == 25L)
      // NFC normalization: decomposed e+U+0301 composes to U+00E9.
      assert(s.sql("SELECT nfc_normalize('é') = 'é'")
        .head().getBoolean(0))
    } finally {
      // Tear down this context too: a later suite's session must not
      // silently inherit the extension-configured context.
      s.sparkContext.stop()
      SparkSession.clearActiveSession()
      SparkSession.clearDefaultSession()
    }
  }

  test("GraftExtensions and TopKPushdown.install add the same planner additions") {
    // The two registration paths: spark.sql.extensions at session
    // creation, and install on a plain session (GraftSession.harness,
    // perfbench's Harness). Both must add the same strategies and rules
    // and so plan a key alike.
    def additions(extensions: Boolean): (Set[AnyRef], Seq[String]) = {
      stopActive()
      val b = SparkSession.builder()
        .master("local[2]")
        .appName("graft-ext-parity")
        .config("spark.sql.shuffle.partitions", "2")
        .config("spark.ui.enabled", "false")
      val s = (if (extensions) b.config("spark.sql.extensions", "graft.GraftExtensions")
        else b).getOrCreate()
      try {
        if (!extensions) graft.plans.TopKPushdown.install(s)
        val st = s.sessionState
        val added: Set[AnyRef] = (st.planner.extraPlanningStrategies ++
          st.experimentalMethods.extraStrategies ++
          st.optimizer.extendedOperatorOptimizationRules ++
          st.experimentalMethods.extraOptimizations).toSet
        s.conf.set("spark.sql.adaptive.enabled", "false")
        val ops = SparkEntry.queries("geo_step_length_percentiles")(s, sf)
          .queryExecution.executedPlan
          .collect { case p => p.nodeName }
        (added, ops)
      } finally stopActive()
    }
    val (extAdded, extOps) = additions(extensions = true)
    val (installAdded, installOps) = additions(extensions = false)
    assert(extAdded == installAdded)
    assert(extAdded.contains(graft.plans.OneTaskSortStrategy), extAdded)
    assert(extOps == installOps)
    assert(extOps.contains("OneTaskSort"), extOps)
  }
}
