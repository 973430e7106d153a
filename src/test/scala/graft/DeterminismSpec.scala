package graft

import org.apache.spark.sql.Row

/** The engine's reproducibility claim (SURVEY §1.3): results are
  * independent of partition count and merge order, because every float
  * aggregate routes through exact decimal sums and every query ends in
  * a totally-ordered sort. This spec pins it in CI by running the most
  * float-sensitive queries under different shuffle-partition counts —
  * a raw SUM(double) would diverge in final ulps here.
  */
class DeterminismSpec extends SparkSpec {

  private def rows(q: String, parts: String): Seq[Row] = {
    spark.conf.set("spark.sql.shuffle.partitions", parts)
    try SparkEntry.queries(q)(spark, sf).collect().toSeq
    finally spark.conf.set("spark.sql.shuffle.partitions", "4")
  }

  test("float-sensitive queries are bit-identical across partition counts") {
    // hist_equidepth is the sharpest case here: its buckets come from
    // GlobalRank's range exchange, whose partition COUNT changes with
    // this conf — cume = p/N must stay identical anyway.
    // (agg_tdigest_quantile is deliberately absent: its estimate is
    // partition-layout-DEPENDENT by design — different partials compress
    // to different centroids; TDigestSpec pins the rank-error band
    // across partitionings instead. sim_ann_kmeans covers the decimal
    // centroid means + literal-folded assignment; the curation verdict
    // covers the composed quality doubles + langid decimal scores.)
    for (q <- Seq("agg_groupby_pricing", "agg_stats", "sim_cosine_pairs",
      "stream_session_windows", "text_tfidf_topterm",
      "dedup_embedding_cosine", "win_moving_avg",
      "agg_percentiles", "pivot_wide",
      "hist_equidepth", "ts_gapfill_daily", "funnel_stages",
      "sim_ann_kmeans", "pipeline_curation_verdict",
      // Round-6 continuation: the decimal-moment keys (z / corr), the
      // double interpolation arithmetic, and the two runningSum
      // consumers whose range-exchange partition count tracks this conf
      "ts_anomaly_zscore", "agg_corr_value_hour", "ts_interpolate_linear",
      "ts_concurrency_max", "pipeline_vocab_encode",
      // Round-7 wave: entropy's sorted-fold double sum (collect_list
      // arrival order varies with partitioning — array_sort must fully
      // absorb it) and the preference pairs' struct-argmax over
      // quality doubles
      "agg_entropy_mix", "pipeline_preference_pairs",
      // Round-7 third wave: anchored decimal moments, percentile-of-
      // percentile, decimal rolling window sums, decimal regression
      // moments
      "agg_skew_kurtosis", "agg_mad", "ts_level_shift",
      "agg_trend_slope",
      // Round-7 fourth wave: rank-sum Gini (window ranks must absorb
      // partitioning through the tie-block identity), Welch's anchored
      // two-pass moments, the exact-moment acf/seasonality pair, and
      // the funnel's collect-sort-fold arrays
      "agg_gini", "ab_test_welch", "ts_autocorr", "ts_dow_seasonality",
      "funnel_conversion_window",
      // Round-7 fifth wave: the zipf log-moment sorted folds, the
      // readability double formula, the quantization in-array fold,
      // and the pareto share division
      "text_zipf_slope", "text_readability", "sim_vector_quantize_error",
      "agg_pareto_8020",
      // Round-7 sixth wave: session averages, exact gap percentiles
      // (interpolation doubles), fertility ratios
      "ts_session_stats", "ts_gap_percentiles",
      "text_tokenizer_fertility",
      // Round-7 seventh wave: the JW double threshold and the
      // decimal partial-merge identity
      "dedup_jaro_names", "etl_incremental_agg_merge",
      // Round-7 eighth wave: the cohort running sum's dollars edge
      "agg_cohort_ltv",
      // Round-7 ninth wave: MAD percentile doubles, conversion-latency
      // percentiles, stickiness/new-share ratios
      "ts_anomaly_mad", "agg_time_to_convert", "ts_stickiness_ratio",
      "ts_new_vs_returning",
      // Round-7 tenth wave: growth ratios, RFM percentile thresholds
      "ts_growth_rates", "agg_rfm_segments",
      // Round-7 eleventh wave: Wilson interval doubles, the centroid
      // argmin over folded distances
      "ts_error_rate_wilson", "sim_centroid_classify",
      // Round-7 twelfth wave: MAE divisions, basket shares
      "ts_forecast_baseline_mae", "agg_basket_size_dist",
      // Round-7 thirteenth wave: survival/dormancy/balance shares
      "agg_survival_curve", "agg_dormancy_buckets",
      "pipeline_shard_balance",
      // The detection family (shared box fixture, IoU pair gate and
      // mutual-best windows) and the probe-retrieval family (shared
      // cosine scorer, top-10 heap and rank window)
      "eval_det_f1_at_iou", "eval_det_match", "eval_count_ccc",
      "eval_det_ap", "eval_map_coco", "eval_det_recall_by_size",
      "multimodal_hard_example_mining",
      "eval_ndcg_label", "eval_mrr_label", "eval_err",
      "eval_ap_retrieval", "eval_ndcg_curve",
      // The seed BFS (seedDistances): composite-key min reduces and
      // the harmonic sixths division behind one shared loop
      "graph_closeness", "graph_eccentricity")) {
      val a = rows(q, "3")
      val b = rows(q, "17")
      assert(a == b, s"$q diverged between 3 and 17 shuffle partitions " +
        s"(${a.size} vs ${b.size} rows)")
    }
  }

  test("one-task and range final sorts return identical rows") {
    // These keys' final sort runs in one task below the broadcast
    // threshold (OneTaskSortStrategy) and as Spark's range sort at -1.
    // Both sorts are total, so the rows and their order must not move.
    val key = "spark.sql.autoBroadcastJoinThreshold"
    def run(q: String, threshold: Option[String]): (Seq[Row], String) = {
      threshold.foreach(spark.conf.set(key, _))
      try {
        val df = SparkEntry.queries(q)(spark, sf)
        (df.collect().toSeq, df.queryExecution.executedPlan.toString)
      } finally spark.conf.unset(key)
    }
    for (q <- Seq("geo_step_length_percentiles", "stream_hourly_topk",
      "pipeline_length_bias_audit")) {
      val (ranged, rangedPlan) = run(q, Some("-1"))
      val (oneTask, oneTaskPlan) = run(q, None)
      assert(!rangedPlan.contains("OneTaskSort"), s"$q: $rangedPlan")
      assert(oneTaskPlan.contains("OneTaskSort"), s"$q: $oneTaskPlan")
      assert(ranged.nonEmpty && ranged == oneTask, s"$q rows moved " +
        s"(${ranged.size} vs ${oneTask.size} rows)")
    }
  }
}
