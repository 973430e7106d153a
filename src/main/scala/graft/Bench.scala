package graft
import org.apache.spark.sql.SparkSession
object Bench {
  /** Min-of-passes: a pass that threw reads +Inf, so any successful
    * pass wins the min; both passes failed → None (written as null,
    * named in "failed", excluded from the total). Factored out so
    * BenchSentinelSpec can pin that a failure never reads as a time
    * without a full bench run. */
  private[graft] def combinePasses(a: Double, b: Double): Option[Double] =
    Some(math.min(a, b)).filterNot(_.isInfinity)
  private[graft] def totalOf(rs: Iterable[Option[Double]]): Double =
    rs.flatten.sum

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = GraftSession.harness()
    // Warm the session (executor threads, codegen compiler, parquet
    // footer caches) so the first measured query isn't startup noise.
    spark.range(1000000).selectExpr("sum(id)").collect()
    SparkEntry.entry(spark).count()
    // Optional subset for local iteration: comma-separated query names.
    val only = sys.env.get("SPARK_GRAFT_BENCH_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    val selected = only match {
      case Some(names) => SparkEntry.queries.filter { case (k, _) => names(k) }
      case None => SparkEntry.queries
    }
    // Two timed runs per query, report the MIN (round-5 verdict ask #5):
    // the driver's loaded machine kept manufacturing phantom regressions
    // (a 16.2 s reading for a query that runs in 3.7 s quiet) — a
    // min-of-2 discards a one-off scheduler stall while still charging
    // real plan cost, so round-over-round comparison stops being
    // load-dominated. Documented in BASELINE.md §"Bench protocol".
    //
    // Round-8 change: the two runs are TEMPORALLY DECORRELATED — two
    // full passes over the key list, min across passes — instead of
    // back-to-back. Root cause of the r7 driver-run "stall clusters"
    // (BASELINE.md round-8 anchor): the stalled keys were CONTIGUOUS
    // in this map's iteration order, so one co-tenant load burst of
    // 10-30 s covered both back-to-back runs of several adjacent
    // sub-second keys and the min absorbed nothing. With the runs a
    // full pass apart, a burst must persist for minutes to poison
    // both readings of any key.
    //
    // Per-query block hygiene (see GraftSession.dropLeftoverBlocks for
    // the full rationale): sweep AFTER the timer stops so each timing
    // reflects the query's own cost, with blocking eviction so the
    // sweep can't race into the next timed region. No
    // positive-interference risk: each run rebuilds its DataFrames, so
    // old blocks were never reusable.
    // Round-18 (verdict #8): a throwing query used to be timed at its
    // time-to-throw (~0 s) and masqueraded as a speedup — now a failed
    // pass reads +Inf, the min-of-2 keeps any SUCCESSFUL pass's time,
    // and a key that failed BOTH passes lands in the JSON as null, is
    // named in the "failed" list and is excluded from the total.
    def once(fn: (SparkSession, String) => org.apache.spark.sql.DataFrame): Double = {
      val t0 = System.nanoTime()
      val ok = try { fn(spark, sfDir).count(); true }
        catch { case e: Throwable =>
          System.err.println(s"[bench] query failed: ${e.getMessage}")
          false
        }
      val t = (System.nanoTime() - t0) / 1e9
      GraftSession.dropLeftoverBlocks(spark)
      if (ok) t else Double.PositiveInfinity
    }
    val pass1 = selected.map { case (name, fn) => name -> once(fn) }
    val results = selected.map { case (name, fn) =>
      name -> combinePasses(pass1(name), once(fn))
    }
    // 3-decimal seconds keep the one-line JSON short enough that a
    // tail-capturing driver doesn't truncate the leading queries (the
    // round-2 report lost ~25 entries to full-precision doubles).
    def f(v: Double): String = "%.3f".formatLocal(java.util.Locale.ROOT, v)
    val qs = results.map { case (k, v) =>
      s"\"" + k + "\":" + v.fold("null")(f) }.mkString("{", ",", "}")
    val failed = results.collect { case (k, None) => s"\"$k\"" }
      .mkString("[", ",", "]")
    // Failed keys are excluded from the total so a breakage can't read
    // as a speedup (verdict #8).
    val total = totalOf(results.values)
    val json = s"""{"metric":"total","value":${f(total)},"unit":"sec","runs_per_query":2,"agg":"min","queries":$qs,"failed":$failed,"sf":"$sfDir"}"""
    // Belt and braces: the same JSON goes to a TRACKED file (BENCH_FULL
    // .json — not gitignored), so the complete per-query map survives as
    // a committed artifact every round even though the driver's bounded
    // stdout tail truncates ~30 of the ~108 entries. Full runs (no
    // SPARK_GRAFT_BENCH_ONLY subset) never land in the tracked file
    // under a subset run's numbers because subsets write the untracked
    // BENCH_LOCAL.json.
    val out = new java.io.File(
      if (only.isEmpty) "BENCH_FULL.json" else "BENCH_LOCAL.json").getAbsolutePath
    // A swallowed write failure would leave a STALE committed artifact
    // that the tail line then points at as authoritative — log it and
    // flag it in the tail JSON so staleness is detectable.
    val writeFailed = try {
      java.nio.file.Files.writeString(java.nio.file.Paths.get(out), json + "\n")
      false
    } catch { case e: Throwable =>
      System.err.println(s"[bench] write of $out FAILED (stale artifact?): $e")
      true
    }
    println(json)
    // The driver captures a bounded TAIL of stdout and the long per-query
    // line has been truncated past parsing three rounds running — a short
    // line printed LAST always survives the capture. Distinct metric name
    // so line-by-line JSON consumers can't double-count the total.
    println(s"""{"metric":"total_tail","value":${f(total)},"unit":"sec","sf":"$sfDir","queries_in_file":"$out","write_failed":$writeFailed}""")
    spark.stop()
  }
}
