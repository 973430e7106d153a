package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables.{epochDay, events, t}
import graft.Det.{davg, dsum, r4d, sqlAvg, sqlEpochDay, sqlSum}

/** §2.19 Event-analytics operators (SURVEY.md, round-5 amendment): the
  * two product-analytics staples the §2.10 event stack doesn't cover —
  * ordered conversion FUNNELS and value-distribution HISTOGRAMS.
  *
  * Scale design: the funnel is a chain of user_id-keyed min-aggregations
  * where each stage's frame is a strict subset of the previous stage's
  * users — the shuffles shrink monotonically, and once a stage drops
  * under the broadcast threshold AQE turns every later stage join into a
  * broadcast (no hint needed). The histogram is a map-side bucket
  * projection + partial agg: one shuffle of at most `buckets` rows per
  * partition, the cheapest possible distribution profile at 100 TB.
  *
  * Timestamps: stage ordering compares epoch-MILLIS longs on both the
  * Spark and oracle sides (`unix_millis` vs `epoch_ms`). The engines
  * store different native precisions (Spark µs after the loader's
  * ns-floor-div, DuckDB ns) — flooring both to ms makes every strict->
  * comparison take the same branch, the same convention the §2.10
  * streaming oracles use.
  */
object AnalyticsQueries {
  type Q = (SparkSession, String) => DataFrame

  /** First time each user reached `tp` strictly AFTER their time in
    * `prev` (user_id, t) — the per-stage funnel step. */
  private def stage(e: DataFrame, tp: String, prev: DataFrame): DataFrame =
    e.filter(col("event_type") === tp)
      .join(prev, Seq("user_id"))
      .filter(col("ms") > col("t"))
      .groupBy("user_id").agg(min(col("ms")).as("t"))

  /** Zero-filled (event_type, day, y) daily grid over the corpus
    * lo..hi calendar — THE shared spine of every calendar-indexed key
    * (autocorr, dow seasonality, burst days, MAD anomaly, growth
    * rates, forecast backtest). One partial-aggregating exchange
    * collapses the corpus to |types|×|days| cells; the spine itself is
    * GENERATED (types × sequence(lo, hi)), never scanned; quiet days
    * emit y = 0 — the contract those keys' oracles each mirror as the
    * same CTE chain. Kept in one place so a spine change (e.g.
    * per-type day bounds) cannot silently desynchronize the family.
    */
  private[operators] def zeroFilledDaily(s: SparkSession,
      dir: String): DataFrame = {
    val e = events(s, dir)
      .select(col("event_type"), epochDay("ts").as("day"))
    val d = e.groupBy("event_type", "day").agg(count(lit(1)).as("y"))
    val spine = e.select("event_type").distinct()
      .crossJoin(broadcast(
        e.agg(min(col("day")).as("lo"), max(col("day")).as("hi"))))
      .select(col("event_type"),
        explode(sequence(col("lo"), col("hi"))).as("day"))
    spine.join(d, Seq("event_type", "day"), "left")
      .select(col("event_type"), col("day"),
        coalesce(col("y"), lit(0L)).as("y"))
  }

  /** The ts_holt_winters state machine: one row per event_type with
    * the 28-day pivot y1..y28 and the unrolled 10⁻⁶-unit BIGINT
    * level/trend/seasonal/prediction columns l14..l28, b14..b28,
    * s8..s28, p15..p28 (integer-only updates, truncating div — see
    * the key's scaladoc). Shared by ts_holt_winters (the component
    * dump) and ts_hw_backtest (the one-step-ahead error summary). */
  private def holtWintersWide(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("event_type").orderBy("day")
    val d = zeroFilledDaily(s, dir)
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= 28)
    val aggs = (1 to 28).map(i =>
      max(when(col("rn") === i, col("y"))).cast("long").as(s"y$i"))
    val cur = d.groupBy("event_type").agg(aggs.head, aggs.tail: _*)
    val w1 = (1 to 7).map(i => s"y$i").mkString(" + ")
    val w2 = (8 to 14).map(i => s"y$i").mkString(" + ")
    // Round-17: the 14 recurrence steps ran as ~70 chained withColumn
    // layers (quadratic analyzer cost — the ts_kalman_smooth story,
    // measured there: 2.05 s → 0.56 s isolated after the fold rewrite).
    // The identical integer recurrence as ONE aggregate() fold; the
    // state struct carries the l/b histories and the s seasonal lags
    // (l14/b14/s_{t-7} all sit at index t-14 of their arrays), and the
    // within-step l_t reuse is inlined (same truncating-div integer
    // expression, so every emitted value is bit-identical). The wide
    // y/p/l/b/s column interface the two consumer keys read is
    // reconstructed from the fold arrays in one projection.
    val init = (8 to 14).map(j => s"y$j * 1000000 - l14").mkString(", ")
    val lt = "(2 * (element_at(ys, t) * 1000000L" +
      " - element_at(st.ss, t - 14))" +
      " + 8 * (element_at(st.ls, t - 14)" +
      " + element_at(st.bs, t - 14))) div 10"
    val fold =
      s"""aggregate(sequence(15, 28),
         |  named_struct('ls', array(l14), 'bs', array(b14),
         |    'ss', ss0, 'ps', CAST(array() AS ARRAY<BIGINT>)),
         |  (st, t) -> named_struct(
         |    'ls', array_append(st.ls, $lt),
         |    'bs', array_append(st.bs,
         |      ((($lt) - element_at(st.ls, t - 14))
         |        + 9 * element_at(st.bs, t - 14)) div 10),
         |    'ss', array_append(st.ss,
         |      (3 * (element_at(ys, t) * 1000000L - ($lt))
         |        + 7 * element_at(st.ss, t - 14)) div 10),
         |    'ps', array_append(st.ps,
         |      element_at(st.ls, t - 14) + element_at(st.bs, t - 14)
         |        + element_at(st.ss, t - 14)))
         |) AS hw""".stripMargin
    val wide =
      Seq("event_type") ++ (1 to 28).map(i => s"y$i") ++
        (14 to 28).map(t => s"element_at(hw.ls, ${t - 13}) AS l$t") ++
        (14 to 28).map(t => s"element_at(hw.bs, ${t - 13}) AS b$t") ++
        (8 to 28).map(j => s"element_at(hw.ss, ${j - 7}) AS s$j") ++
        (15 to 28).map(t => s"element_at(hw.ps, ${t - 14}) AS p$t")
    cur
      .selectExpr((Seq("*",
        s"(($w2) * 1000000) div 7 AS l14",
        s"((($w2) - ($w1)) * 1000000) div 49 AS b14")): _*)
      .selectExpr("*", s"array($init) AS ss0",
        s"array(${(1 to 28).map(i => s"y$i").mkString(", ")}) AS ys")
      .selectExpr("*", fold)
      .selectExpr(wide: _*)
  }

  /** ts_kalman_smooth's gain schedule K6(t) = ⌊K_t·10⁶⌋, t = 2..28 —
    * DATA-INDEPENDENT, so it is computed ONCE here in exact BigInt
    * rationals and lands as integer literals in BOTH engines' plans
    * (no float division ever runs inside either query). Local-level
    * model with q/r = 1/4 and diffuse-ish start P₁/r = 1: predict
    * p⁺ = p + 1/4, gain K = p⁺/(p⁺+1), update p' = K (the local-level
    * identity). K converges to (√17−1)/8 ≈ 0.39039 within ~6 steps;
    * the floor to 10⁻⁶ is part of the declared contract, not error. */
  private val kalmanGains: Map[Int, Long] = {
    var num = BigInt(1); var den = BigInt(1)
    (2 to 28).map { t =>
      val pn = 4 * num + den
      val pd = 4 * den
      val kn = pn; val kd = pn + pd
      val g = kn.gcd(kd)
      num = kn / g; den = kd / g
      t -> ((kn * 1000000) / kd).toLong
    }.toMap
  }

  /** The matching DuckDB CTE chain ending at st28 (same columns). */
  private def holtWintersOracleCtes: String = {
    val w1 = (1 to 7).map(i => s"y$i").mkString(" + ")
    val w2 = (8 to 14).map(i => s"y$i").mkString(" + ")
    val piv = (1 to 28).map(i =>
      s"CAST(max(CASE WHEN rn = $i THEN y END) AS BIGINT) AS y$i")
      .mkString(",\n    ")
    val sInit = (8 to 14).map(j => s"y$j * 1000000 - l14 AS s$j")
      .mkString(",\n    ")
    val steps = (15 to 28).map { t =>
      s"""st$t AS (SELECT *,
         |    l${t - 1} + b${t - 1} + s${t - 7} AS p$t,
         |    (2 * (y$t * 1000000 - s${t - 7})
         |      + 8 * (l${t - 1} + b${t - 1})) // 10 AS l$t,
         |    ((l$t - l${t - 1}) + 9 * b${t - 1}) // 10 AS b$t,
         |    (3 * (y$t * 1000000 - l$t) + 7 * s${t - 7}) // 10 AS s$t
         |  FROM st${t - 1})""".stripMargin
    }.mkString(",\n")
    s"""WITH e AS (SELECT event_type, ${sqlEpochDay("ts")} AS day
       |  FROM events),
       |d AS (SELECT event_type, day, count(*) AS y FROM e GROUP BY 1, 2),
       |b AS (SELECT min(day) AS lo, max(day) AS hi FROM e),
       |ty AS (SELECT DISTINCT event_type FROM e),
       |spine AS (SELECT event_type, unnest(range(lo, hi + 1)) AS day
       |  FROM ty CROSS JOIN b),
       |f AS (SELECT s.event_type, s.day, COALESCE(d.y, 0) AS y,
       |    row_number() OVER (PARTITION BY s.event_type
       |      ORDER BY s.day) AS rn
       |  FROM spine s LEFT JOIN d USING (event_type, day)),
       |piv AS (SELECT event_type,
       |    $piv
       |  FROM f WHERE rn <= 28 GROUP BY 1),
       |st14 AS (SELECT *,
       |    (($w2) * 1000000) // 7 AS l14,
       |    ((($w2) - ($w1)) * 1000000) // 49 AS b14,
       |    $sInit
       |  FROM piv),
       |$steps""".stripMargin
  }

  /** The DFT terms of each type's zero-filled daily series at the
    * frequencies k = 1..10: (event_type, k, xs, nd) with xs the
    * t-sorted (t, re_t, im_t) list of per-day terms y·cos/sin(2πkt/N)
    * (N the calendar length) and nd its size; folding xs in order
    * keeps every float sum shuffle-order-free (ts_periodogram,
    * ts_spectral_entropy). */
  private def dftTermLists(s: SparkSession, dir: String): DataFrame = {
    val full = zeroFilledDaily(s, dir)
    val b = full.agg(min(col("day")).as("lo"), max(col("day")).as("hi"))
    val ks = s.range(1, 11).select(col("id").as("k"))
    val terms = full.crossJoin(broadcast(b)).crossJoin(broadcast(ks))
      .select(col("event_type"), col("k"),
        (col("day") - col("lo")).as("t"),
        (col("hi") - col("lo") + 1).as("nn"), col("y"))
      .select(col("event_type"), col("k"), col("t"),
        (col("y").cast("double")
          * cos(lit(2.0 * math.Pi) * (col("k") * col("t")).cast("double")
            / col("nn").cast("double"))).as("re_t"),
        (col("y").cast("double")
          * sin(lit(2.0 * math.Pi) * (col("k") * col("t")).cast("double")
            / col("nn").cast("double"))).as("im_t"))
    terms.groupBy("event_type", "k")
      .agg(array_sort(collect_list(
        struct(col("t"), col("re_t"), col("im_t")))).as("xs"),
        count(lit(1)).as("nd"))
  }

  /** Activity-span survival over the user lifespans (last − first
    * active day): (bounds, surv) with bounds = one row (mx, n_users)
    * and surv = (n_users, k, c, `out`) on the zero-filled k = 0..mx
    * spine — c users with lifespan k, `out` the survivors with
    * lifespan ≥ k as a suffix sum (agg_survival_curve,
    * agg_median_survival_time). */
  private def lifespanSurvivors(s: SparkSession, dir: String,
      out: String): (DataFrame, DataFrame) = {
    import org.apache.spark.sql.expressions.Window
    val lif = events(s, dir)
      .select(col("user_id"), epochDay("ts").as("day"))
      .groupBy("user_id")
      .agg((max(col("day")) - min(col("day"))).as("lifespan"))
    val hist = lif.groupBy("lifespan").agg(count(lit(1)).as("c"))
    val bounds = lif.agg(max(col("lifespan")).as("mx"),
      count(lit(1)).as("n_users"))
    val spine = bounds.select(col("n_users"),
      explode(sequence(lit(0L), col("mx"))).as("k"))
    val wsuf = Window.orderBy(col("k").desc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val surv = spine.join(hist, col("k") === col("lifespan"), "left")
      .select(col("n_users"), col("k"),
        coalesce(col("c"), lit(0L)).as("c"))
    (bounds, surv.withColumn(out, sum(col("c")).over(wsuf)))
  }

  /** Daily order revenue in exact cents: (day, rev), one row per
    * order day (ts_rolling_sharpe, ts_variance_ratio,
    * ts_sma_crossover). */
  private def dailyRevenue(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "orders")
      .select(epochDay("o_orderdate").as("day"),
        round(col("o_totalprice") * 100).cast("long").as("cents"))
      .groupBy("day").agg(sum(col("cents")).as("rev"))

  val queries: Map[String, Q] = Map(
    // Ordered conversion funnel view → click → purchase: a user counts
    // for stage k only with a stage-k event strictly after their first
    // qualifying stage-(k−1) event. Emits one row per stage with the
    // surviving user count — the shape every growth dashboard draws.
    "funnel_stages" -> ((s, dir) => {
      val e = events(s, dir).select(col("user_id"), col("event_type"),
        unix_millis(col("ts").cast("timestamp")).as("ms"))
      val v = e.filter(col("event_type") === "view")
        .groupBy("user_id").agg(min(col("ms")).as("t"))
      val c = stage(e, "click", v)
      val p = stage(e, "purchase", c)
      def cnt(st: Int, tp: String, df: DataFrame): DataFrame =
        df.agg(count(lit(1)).as("n_users"))
          .select(lit(st).as("stage"), lit(tp).as("event_type"),
            col("n_users"))
      cnt(1, "view", v).unionAll(cnt(2, "click", c))
        .unionAll(cnt(3, "purchase", p))
        .orderBy("stage")
    }),

    // Fixed-width value histogram: 20 buckets of width 10 over [0, 200),
    // under/overflow clamped to the edge buckets. Explicit floor + clamp
    // arithmetic (not width_bucket — absent from DuckDB 1.0) so both
    // engines evaluate the identical IEEE expression. Per bucket: count
    // and exact-decimal value sum.
    "hist_values" -> ((s, dir) => {
      events(s, dir)
        .select(least(greatest(floor(col("value") / 10.0), lit(0L)),
          lit(19L)).cast("int").as("bucket"), col("value"))
        .groupBy("bucket")
        .agg(count(lit(1)).as("n"), dsum(col("value")).as("sum_value"))
        .orderBy("bucket")
    }),

    // Cohort retention — the other product-analytics staple next to the
    // funnel: users grouped by first-activity DAY (the cohort), counted
    // distinct per whole days elapsed since their cohort day. Two
    // user_id-keyed aggs (first-activity, then per-(cohort, offset)
    // distinct users); the cohort table is one row per user, so the
    // attach-back join shuffles on user_id and AQE broadcasts it when a
    // day's cohort is small. Day arithmetic on epoch-ms longs (the §2.10
    // convention) — floor division to days is engine-identical.
    "cohort_retention" -> ((s, dir) => {
      val e = events(s, dir).select(col("user_id"),
        epochDay("ts").as("day"))
      val cohort = e.groupBy("user_id").agg(min(col("day")).as("cohort_day"))
      e.join(cohort, Seq("user_id"))
        .groupBy(col("cohort_day"), (col("day") - col("cohort_day")).as("day_offset"))
        .agg(countDistinct(col("user_id")).as("n_users"))
        .orderBy("cohort_day", "day_offset")
    }),

    // Equi-DEPTH quartiles (the complement of hist_values' equi-width
    // buckets): bucket = clamp(floor(cume_dist·4)) over the global value
    // ordering, computed by the two-pass distributed GlobalRank — NOT a
    // single-partition Window — so the global ordering scales like a
    // range-partitioned sort (the win_percent_cume scale story, reused).
    // Ties share a cume value in both engines (cume_dist groups ties),
    // and cume = p/N is one double division — bit-identical floors.
    // This is the EXACT formulation (oracle-comparable); when only the
    // bucket boundaries matter at extreme scale, the cheaper path is
    // approx_percentile cutpoints + a map-side bucket projection — the
    // declared agg_approx_quantile key demonstrates that sketch.
    "hist_equidepth" -> ((s, dir) => {
      val e = events(s, dir).select(col("value"))
      graft.plans.GlobalRank.percentCume(e, "value")
        .select(least(floor(col("cd") * 4), lit(3L)).cast("int").as("bucket"),
          col("value"))
        .groupBy("bucket")
        .agg(count(lit(1)).as("n"), min(col("value")).as("lo"),
          max(col("value")).as("hi"))
        .orderBy("bucket")
    }),

    // Time-series gap fill (resample): daily count + exact sum of a
    // SPARSE event slice (purchases with a rare json prop, ~2% of rows
    // — genuinely gappy at sf0.001), left-joined onto a generated
    // day spine covering [min_day, max_day] so missing days surface as
    // explicit zeros. The spine derives from a one-row bounds agg and
    // is |days| rows — always broadcast-scale no matter the corpus
    // size; the only real shuffle is the daily aggregation.
    "ts_gapfill_daily" -> ((s, dir) => {
      val e = events(s, dir).select(
        epochDay("ts").as("day"),
        col("event_type"), col("value"), col("props"))
      val hv = e.filter(col("event_type") === "purchase" &&
          get_json_object(col("props"), "$.k").cast("long") < 10)
        .groupBy("day")
        .agg(count(lit(1)).as("n"), dsum(col("value")).as("sum_value"))
      val spine = e.agg(min(col("day")).as("lo"), max(col("day")).as("hi"))
        .select(explode(sequence(col("lo"), col("hi"))).as("day"))
      spine.join(hv, Seq("day"), "left")
        .select(col("day"), coalesce(col("n"), lit(0L)).as("n"),
          coalesce(col("sum_value"), lit(0.0)).as("sum_value"))
        .orderBy("day")
    }),

    // SESSIONIZATION — the gap-based complement of etl_gaps_islands'
    // change-based runs, and THE event-analytics primitive under every
    // engagement metric: per user, maximal event runs where consecutive
    // gaps stay ≤ 30 min; a longer silence starts a new session. Same
    // lag-flag → running-sum machinery, keyed on TIME GAPS instead of
    // type changes. One user_id shuffle serves the lag window, the
    // running-sum window and the per-session agg (all three share the
    // partitioning — Catalyst plans a single exchange); no global
    // ordering anywhere. Epoch-ms longs per the §2.10 convention;
    // (ms, event_id) ordering makes simultaneous events deterministic.
    "ts_sessionize" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("ms"), col("event_id"))
      events(s, dir)
        .select(col("user_id"), col("event_id"),
          unix_millis(col("ts").cast("timestamp")).as("ms"))
        .withColumn("prev_ms", lag(col("ms"), 1).over(w))
        .withColumn("new_s", when(col("prev_ms").isNull ||
          col("ms") - col("prev_ms") > 1800000L, 1L).otherwise(0L))
        .withColumn("session_id", sum(col("new_s")).over(
          w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        .groupBy(col("user_id"), col("session_id"))
        .agg(count(lit(1)).as("n_events"), min(col("ms")).as("start_ms"),
          max(col("ms")).as("end_ms"))
        .orderBy(col("user_id"), col("session_id"))
    }),

    // FIRST-TOUCH ATTRIBUTION — the marketing-analytics composition of
    // ts_sessionize: every purchase is credited to the event that
    // OPENED its session (the "first touch"). Session boundaries are
    // the same 30-min-gap rule; the first-touch columns are computed as
    // a running IGNORE-NULLS last() over the session-start markers
    // (rows where new_s = 1) so the whole query — lag flag, running
    // session id, first-touch carry-forward, purchase filter — rides
    // ONE user_id exchange. The naive spelling (a second window
    // partitioned by (user, session)) would re-shuffle; the
    // carry-forward trick is what keeps a 100 TB attribution job at a
    // single exchange. (ms, event_id) ordering per the sessionize
    // convention.
    "attribution_first_touch" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("ms"), col("event_id"))
      val run = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
      events(s, dir)
        .select(col("user_id"), col("event_id"), col("event_type"),
          unix_millis(col("ts").cast("timestamp")).as("ms"))
        .withColumn("prev_ms", lag(col("ms"), 1).over(w))
        .withColumn("new_s", when(col("prev_ms").isNull ||
          col("ms") - col("prev_ms") > 1800000L, 1L).otherwise(0L))
        .withColumn("session_id", sum(col("new_s")).over(run))
        .withColumn("first_touch", last(
          when(col("new_s") === 1, col("event_type")), ignoreNulls = true)
          .over(run))
        .withColumn("sess_start_ms", last(
          when(col("new_s") === 1, col("ms")), ignoreNulls = true)
          .over(run))
        .filter(col("event_type") === "purchase")
        .select(col("event_id"), col("user_id"), col("session_id"),
          col("first_touch"), col("sess_start_ms"))
        .orderBy("event_id")
    }),

    // FUNNEL STAGE SIGNIFICANCE (§2.180) — is the click→purchase
    // drop-off WORSE than view→click, or just noisier? The pooled
    // two-proportion χ² between the two consecutive conversion rates
    // of funnel_stages' pipeline, with numerator and denominator
    // kept as exact decimal integers (z² = (x₁n₂−x₂n₁)²(n₁+n₂) /
    // (n₁n₂(x₁+x₂)(n₁+n₂−x₁−x₂))) — one double division at the
    // end, the srm_check-style 3.84 compare on identical doubles.
    // Tells the growth team which stage transition to fix FIRST.
    // CAVEAT (ADVICE r15): the two funnel rates are NESTED — the
    // click cohort is both the numerator of rate₁ and the
    // denominator of rate₂ — so the independent-samples pooled χ²
    // assumption doesn't hold and 3.841 is NOT a calibrated 5%
    // cutoff here. z² is served as a deterministic HEURISTIC ranking
    // score for "which transition is more out of line", not a
    // significance test; a calibrated test would compare the
    // transitions on independent user cohorts.
    "funnel_stage_significance" -> ((s, dir) => {
      val D0 = "decimal(38,0)"
      val e = events(s, dir).select(col("user_id"), col("event_type"),
        unix_millis(col("ts").cast("timestamp")).as("ms"))
      val v = e.filter(col("event_type") === "view")
        .groupBy("user_id").agg(min(col("ms")).as("t"))
      val c = stage(e, "click", v)
      val p = stage(e, "purchase", c)
      v.agg(count(lit(1)).as("n_view"))
        .crossJoin(c.agg(count(lit(1)).as("n_click")))
        .crossJoin(p.agg(count(lit(1)).as("n_purchase")))
        .select(col("n_view"), col("n_click"), col("n_purchase"),
          r4d(col("n_click").cast("double")
            / col("n_view").cast("double")).as("rate_view_click"),
          r4d(col("n_purchase").cast("double")
            / col("n_click").cast("double")).as("rate_click_purchase"),
          {
            val num = (col("n_click").cast(D0) * col("n_click")
              - col("n_purchase").cast(D0) * col("n_view"))
            val x12 = col("n_click") + col("n_purchase")
            val den = col("n_view").cast(D0) * col("n_click") *
              x12 * (col("n_view") + col("n_click") - x12)
            val z2 = (num * num * (col("n_view") + col("n_click")))
              .cast("double") / den.cast("double")
            when(den > 0, r4d(z2)).as("z2")
          },
          {
            val num = (col("n_click").cast(D0) * col("n_click")
              - col("n_purchase").cast(D0) * col("n_view"))
            val x12 = col("n_click") + col("n_purchase")
            val den = col("n_view").cast(D0) * col("n_click") *
              x12 * (col("n_view") + col("n_click") - x12)
            val z2 = (num * num * (col("n_view") + col("n_click")))
              .cast("double") / den.cast("double")
            when(den > 0, z2 > 3.841458820694124)
              .as("rates_differ")
          })
    }),

    // POSITION-BASED ATTRIBUTION (§2.179) — the U-shaped (40/20/40)
    // multi-touch model between attribution_first_touch's single
    // credit and a full data-driven model: each purchase's session
    // touches collapse to ordered-DISTINCT channels (first
    // occurrence order), then credit 40% first / 40% last / 20%
    // split over middles. Credits are exact integers in 10⁻⁴ units:
    // the middle share is 2000 DIV (n−2) with the integer remainder
    // assigned to the FIRST middle position, so every path sums to
    // exactly 10000 for ANY channel count (the round-15 when-table
    // only summed to 10000 at n = 4 — a silent 110% mint had a 6th
    // event type ever landed; ADVICE r15). Session device shared
    // with first-touch; the purchase⋈touch join is session-bounded.
    "attribution_position_based" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("ms"), col("event_id"))
      val run = w.rowsBetween(Window.unboundedPreceding,
        Window.currentRow)
      val e = events(s, dir)
        .select(col("user_id"), col("event_id"), col("event_type"),
          unix_millis(col("ts").cast("timestamp")).as("ms"))
        .withColumn("prev_ms", lag(col("ms"), 1).over(w))
        .withColumn("new_s", when(col("prev_ms").isNull ||
          col("ms") - col("prev_ms") > 1800000L, 1L).otherwise(0L))
        .withColumn("session_id", sum(col("new_s")).over(run))
      val purchases = e.filter(col("event_type") === "purchase")
        .select(col("user_id").as("pu"), col("session_id").as("ps"),
          col("ms").as("pms"), col("event_id").as("pid"))
      val touches = e.filter(col("event_type") =!= "purchase")
        .select(col("user_id").as("pu"), col("session_id").as("ps"),
          col("event_type").as("channel"), col("ms").as("tms"),
          col("event_id").as("tid"))
      val firsts = purchases.join(touches, Seq("pu", "ps"))
        .filter(col("tms") < col("pms")
          || (col("tms") === col("pms") && col("tid") < col("pid")))
        .groupBy(col("pid"), col("channel"))
        .agg(min(col("tms")).as("fms"), min(col("tid")).as("ftid"))
      val wp = Window.partitionBy("pid")
        .orderBy(col("fms"), col("ftid"))
      val credit = firsts
        .withColumn("pos", row_number().over(wp).cast("long"))
        .withColumn("n",
          count(lit(1)).over(Window.partitionBy("pid")))
        .withColumn("cr",
          when(col("n") === 1, 10000L)
            .when(col("n") === 2, 5000L)
            .otherwise(when(col("pos") === 1
              || col("pos") === col("n"), 4000L)
              .otherwise((lit(2000L) / (col("n") - 2)).cast("long")
                + when(col("pos") === 2,
                  lit(2000L) % (col("n") - 2)).otherwise(0L))))
      credit.groupBy(col("channel"))
        .agg(count(lit(1)).as("n_touch_paths"),
          sum(col("cr")).as("crs"))
        .select(col("channel"), col("n_touch_paths"),
          r4d(col("crs").cast("double") / lit(10000.0))
            .as("credit"))
        .orderBy("channel")
    }),

    // TPC-H Q3 (shipping priority) through the PURE SQL surface —
    // `spark.sql` over `parquet.`path`` direct queries, no DataFrame
    // combinators and no temp-view registration (view names would
    // collide across sfDirs in one session). Proves the engine's SQL
    // entry point plans the same broadcast-dim star the DataFrame keys
    // pin, on the canonical analytics query shape: selective dim filter,
    // fact⋈fact join, grouped revenue agg, ordered top-10. Revenue uses
    // the shared exact-decimal SUM spelling (valid in both engines);
    // the extra ORDER BY keys break revenue ties deterministically.
    "sql_tpch_q3" -> ((s, dir) => {
      s.sql(s"""SELECT l_orderkey,
        |  ${sqlSum("l_extendedprice * (1 - l_discount)")} AS revenue,
        |  CAST(o_orderdate AS DATE) AS o_orderdate, o_orderpriority
        |FROM parquet.`$dir/customer.parquet`
        |JOIN parquet.`$dir/orders.parquet` ON c_custkey = o_custkey
        |JOIN parquet.`$dir/lineitem.parquet` ON l_orderkey = o_orderkey
        |WHERE c_mktsegment = 'BUILDING'
        |  AND o_orderdate < DATE '1997-03-15'
        |  AND l_shipdate > DATE '1997-03-15'
        |GROUP BY l_orderkey, o_orderdate, o_orderpriority
        |ORDER BY revenue DESC, o_orderdate, l_orderkey
        |LIMIT 10""".stripMargin)
    }),

    // DAILY TRENDING TOP-K — the dashboard staple composing three of
    // the engine's own surfaces in one plan: JSON path extraction
    // (scan-side), a (day, value) two-phase count, and the custom
    // TopKPerGroup operator for the per-day top-3 — so the exchange
    // after the count carries ≤3 rows per day per partition instead of
    // the full value distribution (the bounded-heap contract, pinned
    // for the base key in PlanAuditSpec). The trailing row_number
    // ranks the ≤3 survivors; (n desc, kv) fully tie-broken.
    "topk_trending_daily" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val counts = events(s, dir)
        .select(epochDay("ts").as("day"),
          get_json_object(col("props"), "$.k").cast("long").as("kv"))
        .groupBy(col("day"), col("kv")).agg(count(lit(1)).as("n"))
      val top = graft.plans.TopKPerGroup(counts, k = 3,
        partNames = Seq("day"), orderSpec = Seq(("n", false), ("kv", true)))
      val w = Window.partitionBy(col("day"))
        .orderBy(col("n").desc, col("kv"))
      top.withColumn("rk", row_number().over(w).cast("long"))
        .select(col("day"), col("kv"), col("n"), col("rk"))
        .orderBy("day", "rk")
    }),

    // TPC-H Q18 (large-volume customer) through the pure SQL surface —
    // the NESTED-SUBQUERY planning shape q3's flat star doesn't
    // exercise: an IN (GROUP BY … HAVING) subquery over the same fact
    // table the outer query aggregates. Catalyst rewrites the IN to a
    // LEFT-SEMI join whose build side is the HAVING aggregate — a
    // heavy-hitter key set orders of magnitude smaller than the fact
    // table (874 of 15k orders at sf0.01), so it broadcasts (verified
    // in the executed plan) and the fact side never shuffles for the
    // filter; past broadcast size both sides of the semi join key on
    // l_orderkey/o_orderkey and co-partition. The HAVING threshold and
    // the output sum both use the exact-decimal spelling — a double
    // sum landing exactly on the 200 boundary must take the same
    // branch on both engines. o_orderkey breaks total-price ties.
    "sql_tpch_q18" -> ((s, dir) => {
      s.sql(s"""SELECT c_name, c_custkey, o_orderkey,
        |  CAST(o_orderdate AS DATE) AS o_orderdate, o_totalprice,
        |  ${sqlSum("l_quantity")} AS sum_qty
        |FROM parquet.`$dir/customer.parquet`
        |JOIN parquet.`$dir/orders.parquet` ON c_custkey = o_custkey
        |JOIN parquet.`$dir/lineitem.parquet` ON o_orderkey = l_orderkey
        |WHERE o_orderkey IN (
        |  SELECT l_orderkey FROM parquet.`$dir/lineitem.parquet`
        |  GROUP BY l_orderkey
        |  HAVING SUM(CAST(l_quantity AS DECIMAL(38,6))) > 200)
        |GROUP BY c_name, c_custkey, o_orderkey, o_orderdate, o_totalprice
        |ORDER BY o_totalprice DESC, o_orderdate, o_orderkey
        |LIMIT 100""".stripMargin)
    }),

    // OHLC downsampling — the time-series resample every metrics store
    // ships (candlestick bars): per (event_type, day), the value at the
    // first and last event plus the min/max/count/volume of the bar.
    // Open/close are argmin/argmax over the UNIQUE (ms, event_id) order,
    // expressed as min/max over a (ms, event_id, value) struct — a
    // two-phase hash agg (partial min/max per partition), NOT a window,
    // so a 100 TB resample is one shuffle of (type, day) groups with
    // map-side combine. Volume uses the exact-decimal SUM (values carry
    // 2dp, lossless).
    "ts_resample_ohlc" -> ((s, dir) => {
      events(s, dir)
        .select(col("event_type"), epochDay("ts").as("day"),
          unix_millis(col("ts").cast("timestamp")).as("ms"),
          col("event_id"), col("value"))
        .groupBy(col("event_type"), col("day"))
        .agg(
          min(struct(col("ms"), col("event_id"), col("value")))
            .getField("value").as("open"),
          max(col("value")).as("high"),
          min(col("value")).as("low"),
          max(struct(col("ms"), col("event_id"), col("value")))
            .getField("value").as("close"),
          count(lit(1)).as("n"),
          dsum(col("value")).as("volume"))
        .orderBy("event_type", "day")
    }),

    // Linearly-weighted moving average (WMA) per user over the trailing
    // 20 events — the recency-weighted smoother next to win_moving_avg's
    // uniform frame. Weights are DISTANCE-based integers (current row
    // 20, 19 steps back 1), so the weighted sum stays in exact decimal
    // arithmetic (2dp values × integer weights — order-independent,
    // cross-engine identical); only the final normalize divides in
    // doubles, through the shared r4d round. collect_list over the
    // (ms, event_id)-ordered frame feeds an index-weighted aggregate
    // HOF — ONE user_id exchange serves both the window and the HOF
    // (map-side), no self-join despite the oracle spelling one.
    "ts_wma" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("ms"), col("event_id")).rowsBetween(-19, 0)
      events(s, dir)
        .select(col("user_id"), col("event_id"),
          unix_millis(col("ts").cast("timestamp")).as("ms"), col("value"))
        .withColumn("vals", collect_list(col("value")).over(w))
        .select(col("user_id"), col("event_id"),
          r4d(expr(
            "aggregate(sequence(0, size(vals) - 1), cast(0 as decimal(38,6)), " +
              "(acc, i) -> acc + cast(element_at(vals, i + 1) as decimal(38,6)) " +
              "* (21 - size(vals) + i))").cast("double")
            / expr("size(vals) * (41 - size(vals)) div 2")).as("wma"))
        .orderBy("user_id", "event_id")
    }),

    // MAX-CONCURRENCY SWEEP-LINE — peak simultaneous 30-min activity
    // windows (the "peak concurrent sessions/connections" metric every
    // capacity dashboard needs). Classic sweep-line: each window emits a
    // +1 at its start and a −1 at its end, and peak concurrency is the
    // max of the running sum over the GLOBAL endpoint order. The running
    // sum is `GlobalRank.runningSum` (range exchange → O(partitions)
    // partial sums → streamed prefix pass) — NOT a single-partition
    // window, so the sweep parallelizes like a global sort at 100 TB.
    // Half-open [s, e) semantics: at equal timestamps the −1 sorts
    // before the +1 (d asc in the order key), so a window ending exactly
    // when another starts never counts as overlap; event_id completes
    // the unique total order runningSum requires. Output = one row,
    // (peak, first ms reaching it) — the argmin rides a lexicographic
    // max-of-struct with negated t, no second pass.
    "ts_concurrency_max" -> ((s, dir) => {
      val p = events(s, dir).select(
        unix_millis(col("ts").cast("timestamp")).as("ms"), col("event_id"))
      val ends = p.select(explode(array(
          struct(col("ms").as("t"), lit(1L).as("d"), col("event_id")),
          struct((col("ms") + 1800000L).as("t"), lit(-1L).as("d"),
            col("event_id")))).as("e"))
        .select(col("e.t").as("t"), col("e.d").as("d"),
          col("e.event_id").as("event_id"))
      graft.plans.GlobalRank.runningSum(ends, Seq("t", "d", "event_id"),
          "d", "cum")
        .agg(max(struct(col("cum"), (-col("t")).as("negt"))).as("m"))
        .select(col("m.cum").as("max_concurrent"),
          (-col("m.negt")).as("at_ms"))
    }),

    // Z-SCORE ANOMALY FLAGS — events whose value deviates > 2.5σ from
    // their type's mean (the data-quality outlier sweep next to
    // etl_dq_report's rule checks). The per-type moments are ONE
    // two-phase agg with decimal-EXACT sums (2dp values ⇒ v² carries
    // 4dp ⇒ decimal(18,4) sums are lossless WHILE n·max(v)² < 10¹⁴ —
    // ~10⁹ rows/group at the fixture's |v|≲300, a real bound a 100 TB
    // group can exceed, so the agg also takes max(|v|) and every use
    // of n goes through Det.checkedN: past the bound the key FAILS
    // LOUDLY via raise_error instead of silently NULLing groups where
    // the oracle's HUGEINT sums survive. decimal(18) is deliberate —
    // see checkedN's scaladoc for why widening to 38 breaks exactness);
    // variance comes from the numerator form (n·Σv² − (Σv)²)/(n(n−1))
    // computed exactly in decimals, with sqrt and the per-row z the only
    // double ops — IEEE-identical on both engines. The 5-row stats
    // table broadcasts; the verdict is map-side in the scan stage. The
    // threshold compares the shared r4d-rounded z (the
    // text_repetition_filter convention) so boundary events can't flip
    // between engines.
    "ts_anomaly_zscore" -> ((s, dir) => {
      val e = events(s, dir)
        .select(col("event_id"), col("event_type"), col("value"))
      val dv = col("value").cast("decimal(18,2)")
      val st = e.groupBy("event_type").agg(
          count(lit(1)).as("n"),
          sum(dv).cast("decimal(18,2)").as("s"),
          sum(dv * dv).cast("decimal(18,4)").as("ss"),
          max(abs(dv)).as("mx"))
        .withColumn("nc", graft.Det.checkedN(col("n"),
          col("n").cast("double") *
            pow(col("mx").cast("double"), lit(2)) < lit(9e13),
          "ts_anomaly_zscore: n*max(v)^2 exceeds decimal(18,4) exact " +
            "range — moment sums no longer lossless"))
        // Degenerate groups (n ≤ 1 or constant values) have no defined
        // z — drop them via the EXACT decimal variance numerator, so no
        // NaN std ever reaches the comparison (Spark and DuckDB order
        // NaN differently enough around > to flake the gate otherwise).
        .withColumn("num", col("nc") * col("ss") - col("s") * col("s"))
        .filter(col("n") > 1 && col("num") > 0)
        .select(col("event_type"),
          (col("s").cast("double") / col("n")).as("mean"),
          sqrt(col("num").cast("double") /
            (col("n") * (col("n") - lit(1L)))).as("std"))
      e.join(broadcast(st), Seq("event_type"))
        .withColumn("z", r4d((col("value") - col("mean")) / col("std")))
        .filter(abs(col("z")) > 2.5)
        .select(col("event_id"), col("event_type"), col("value"), col("z"))
        .orderBy("event_id")
    }),

    // LINEAR INTERPOLATION over daily gaps — the time-series repair next
    // to ts_gapfill_daily's zero-fill: missing days take the straight
    // line between their nearest observed neighbors, edges carry the
    // single available neighbor. The fixture's daily series is complete,
    // so dropout is SYNTHESIZED deterministically (day % 3 = 1 withheld
    // — the text_pii_scrub convention; 50 gap rows incl. 5 edge rows at
    // every SF, both branches live). Daily means are exact-decimal davg;
    // the |types|×|days| daily table broadcasts onto the spine (itself
    // partitioned by event_type from the bounds agg), and all four
    // IGNORE-NULLS neighbor carries reuse THAT partitioning — the plan
    // carries exactly two hash exchanges (bounds agg, daily agg) and no
    // window-induced exchange at all (pinned in PlanAuditSpec). Both
    // per-type tables are bounded by the calendar regardless of corpus
    // size.
    "ts_interpolate_linear" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val e = events(s, dir)
        .select(col("event_type"), epochDay("ts").as("day"), col("value"))
      val daily = e.filter(col("day") % 3 =!= 1)
        .groupBy("event_type", "day").agg(davg(col("value")).as("v"))
      val spine = e.groupBy("event_type")
        .agg(min(col("day")).as("lo"), max(col("day")).as("hi"))
        .select(col("event_type"),
          explode(sequence(col("lo"), col("hi"))).as("day"))
      val wp = Window.partitionBy("event_type").orderBy("day")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val wn = Window.partitionBy("event_type").orderBy("day")
        .rowsBetween(Window.currentRow, Window.unboundedFollowing)
      spine.join(daily, Seq("event_type", "day"), "left")
        .withColumn("vp", last(col("v"), ignoreNulls = true).over(wp))
        .withColumn("dp", last(when(col("v").isNotNull, col("day")),
          ignoreNulls = true).over(wp))
        .withColumn("vn", first(col("v"), ignoreNulls = true).over(wn))
        .withColumn("dn", first(when(col("v").isNotNull, col("day")),
          ignoreNulls = true).over(wn))
        .select(col("event_type"), col("day"),
          r4d(when(col("v").isNotNull, col("v"))
            .when(col("vp").isNull, col("vn"))
            .when(col("vn").isNull, col("vp"))
            .otherwise(col("vp") + (col("vn") - col("vp")) *
              (col("day") - col("dp")) / (col("dn") - col("dp"))))
            .as("v_filled"),
          col("v").isNull.as("was_gap"))
        .orderBy("event_type", "day")
    }),

    // CUMULATIVE DISTINCT USERS BY DAY — the growth-dashboard "total
    // unique users to date" curve. COUNT(DISTINCT) per day would
    // re-scan every prior day; instead distinct-ness collapses to each
    // user's FIRST-SEEN day (one user_id-keyed min-agg — map-side
    // combine shrinks it before the exchange), daily first-seen counts
    // ride a |days|-sized agg, and the cumulative curve is
    // `GlobalRank.runningSum` over the day spine. Quiet days surface
    // with n_new = 0 and a flat curve (the gapfill spine convention).
    "agg_cumulative_distinct_daily" -> ((s, dir) => {
      val e = events(s, dir).select(col("user_id"), epochDay("ts").as("day"))
      val firstSeen = e.groupBy("user_id").agg(min(col("day")).as("day"))
      val dayNew = firstSeen.groupBy("day").agg(count(lit(1)).as("n_new"))
      val spine = e.agg(min(col("day")).as("lo"), max(col("day")).as("hi"))
        .select(explode(sequence(col("lo"), col("hi"))).as("day"))
      val joined = spine.join(dayNew, Seq("day"), "left")
        .select(col("day"), coalesce(col("n_new"), lit(0L)).as("n_new"))
      graft.plans.GlobalRank.runningSum(joined, Seq("day"), "n_new",
          "cum_users")
        .orderBy("day")
    }),

    // LATERAL correlated subquery through the pure SQL surface — the
    // third planning shape next to q3's flat star and q18's nested IN:
    // a per-row dependent subquery with ORDER BY + LIMIT. Catalyst
    // DECORRELATES it (DecorrelateInnerQuery rewrites the correlated
    // limit into a partitioned rank over the join) rather than
    // executing one subquery per outer row — the plan this key pins is
    // "no nested-loop re-execution", which is exactly what makes
    // lateral SQL survive a 10⁹-row outer side. Top-2 orders per
    // high-balance customer; inner lateral drops order-less customers.
    "sql_lateral_topn" -> ((s, dir) => {
      val q = (t: String) => s"parquet.`$dir/$t.parquet`"
      s.sql(
        s"""SELECT c.c_custkey, o.o_orderkey, o.o_totalprice
           |FROM ${q("customer")} c,
           |LATERAL (SELECT o_orderkey, o_totalprice FROM ${q("orders")}
           |         WHERE o_custkey = c.c_custkey
           |         ORDER BY o_totalprice DESC, o_orderkey LIMIT 2) o
           |WHERE c.c_acctbal > 5000
           |ORDER BY c.c_custkey, o.o_totalprice DESC, o.o_orderkey""".stripMargin)
    }),

    // 7-DAY SLIDING DISTINCT USERS (WAU by day) — the windowed
    // complement of agg_cumulative_distinct_daily's to-date curve, and
    // the one distinct-count shape a running window CANNOT express
    // (distinctness doesn't decompose over frames). The scalable
    // spelling: collapse to distinct (user, day) pairs first (map-side
    // partial dedup), CONTRIBUTE each pair to the ≤7 window-days it
    // serves (a map-side explode — rows grow 7×|user-days|, bounded by
    // the window width, never 7×|events|), dedup (window_day, user) and
    // count. Three keyed exchanges, each volume-bounded (user-days,
    // 7×user-days, then ≤|days| partial counts per partition) — no
    // per-day re-scan of prior days, where the naive correlated form
    // scans the corpus once per day. Days whose trailing window is
    // empty surface as 0 via the spine.
    "agg_wau_sliding_distinct" -> ((s, dir) => {
      val e = events(s, dir).select(col("user_id"), epochDay("ts").as("day"))
      val bounds = e.agg(min(col("day")).as("lo"), max(col("day")).as("hi"))
      val userDays = e.distinct()
      // Clip phantom window-days past the corpus max BEFORE the two
      // dedup exchanges (the bitmap/HLL siblings' broadcast-bounds
      // device) — without it every user active near the max day ships
      // up to 6 (user, wday) rows the spine join would only discard.
      val contrib = userDays
        .select(col("user_id"),
          explode(sequence(col("day"), col("day") + 6)).as("wday"))
        .join(broadcast(bounds.select(col("hi"))), col("wday") <= col("hi"))
        .drop("hi")
      val wau = contrib.distinct()
        .groupBy("wday").agg(count(lit(1)).as("wau"))
      val spine = bounds
        .select(explode(sequence(col("lo"), col("hi"))).as("wday"))
      spine.join(wau, Seq("wday"), "left")
        .select(col("wday").as("day"),
          coalesce(col("wau"), lit(0L)).as("wau"))
        .orderBy("day")
    }),

    // LONGEST DAILY-ACTIVITY STREAK per user — the gaps-islands
    // composition every engagement system ships (complement of
    // etl_gaps_islands' change-runs and ts_sessionize's time-gap runs:
    // here the island key is CALENDAR consecutiveness, day − rn). The
    // distinct pre-pass keys on (user, day); the row_number window, the
    // island agg and the per-user argmax then share ONE user_id
    // exchange (two hash exchanges total, pinned in PlanAuditSpec).
    // The argmax (longest streak, earliest start on ties) is a
    // lexicographic max-of-struct with negated start — one
    // partial-aggregating pass, no second window.
    "win_streak_longest" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy("user_id").orderBy("day")
      events(s, dir).select(col("user_id"), epochDay("ts").as("day"))
        .distinct()
        .withColumn("island", col("day") - row_number().over(w))
        .groupBy("user_id", "island")
        .agg(count(lit(1)).as("len"), min(col("day")).as("start"))
        .groupBy("user_id")
        .agg(max(struct(col("len"), (-col("start")).as("negs"))).as("m"))
        .select(col("user_id"), col("m.len").as("longest_days"),
          (-col("m.negs")).as("start_day"))
        .orderBy("user_id")
    }),

    // EVENT-PATH TRANSITION MATRIX — the Markov-chain view of user
    // journeys (the input of next-action prediction, Sankey "flow"
    // dashboards, and bot detection by improbable transitions): for
    // every consecutive event pair per user (ordered by ms, event_id —
    // total order via the unique id), count occurrences and distinct
    // users per (from_type → to_type) edge.
    //
    // Scale: ONE user_id hash exchange feeds the lead() window; the
    // transition agg then reduces to ≤ |types|² rows via partial
    // (map-side) aggregation, so the second exchange carries at most
    // 25 rows per partition regardless of corpus size. No global sort
    // anywhere except the bounded final output.
    "path_transitions" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("ms"), col("event_id"))
      events(s, dir)
        .select(col("user_id"), col("event_id"), col("event_type"),
          unix_millis(col("ts").cast("timestamp")).as("ms"))
        .withColumn("next_type", lead(col("event_type"), 1).over(w))
        .filter(col("next_type").isNotNull)
        .groupBy(col("event_type").as("from_type"),
          col("next_type").as("to_type"))
        .agg(count(lit(1)).as("n"),
          countDistinct(col("user_id")).as("n_users"))
        .orderBy("from_type", "to_type")
    }),

    // INTERVAL-COVERAGE (merge overlapping intervals) — the third
    // member of the interval-algebra family: ts_concurrency_max counts
    // simultaneous intervals (sweep line), etl_gaps_islands merges
    // equal-STATE runs, this merges time-OVERLAPPING intervals into
    // maximal covered spans per user and reports n_intervals /
    // covered_ms / longest_ms (SLA uptime, machine-busy time, total
    // session coverage). Each event spans [ms, ms + value minutes);
    // the duration is derived as round(value·100)·600 ms — integer
    // once rounded, so the interval bounds (and everything after) are
    // exact longs in both engines. Touching intervals (next.start ==
    // running max end) MERGE — the closed-interval convention,
    // documented here because the strictness choice changes island
    // counts.
    //
    // Scale: the island numbering is the standard prev-running-max
    // trick — ONE user_id exchange serves the running-max window, the
    // island numbering, the per-island agg, and the per-user rollup
    // (same partitioning throughout, no re-shuffle); per-key state in
    // the window is one long. This is the merge-intervals shape that
    // survives 100 TB: no interval self-join (quadratic per user), no
    // driver-side merge.
    // LEVEL-SHIFT (changepoint) SCAN — the LOCAL complement of
    // ts_anomaly_zscore's global outlier filter: for every day, compare
    // the mean of the 7 prior daily means against the 7 following
    // (two-window CUSUM-lite; the recursive CUSUM statistic itself is
    // not window-expressible — this two-sided scan is the standard
    // distributed spelling). Emits every day with its shift estimate;
    // `shift` is NULL until both windows are full (edges), and the
    // flag thresholds the r4d-ROUNDED shift (the repetition-filter
    // convention) so boundary days can't flip between engines.
    //
    // Determinism: daily means are exact-decimal davg; the rolling
    // sums run over decimal(18,4) — Spark recomputes sliding frames
    // while DuckDB uses segment-tree combines, so a DOUBLE rolling
    // sum would differ in ulps (different summation trees); decimal
    // addition is associative, immune to both. ROWS frames = trailing
    // observations; the fixture's daily series is dense per type (no
    // calendar gaps at any SF) — on gappy data compose with
    // ts_gapfill_daily first.
    //
    // Scale: one (type, day) agg exchange, then ONE event_type window
    // partitioning serves all four frames; per-day state is bounded
    // by the 7-day frames. The daily table is calendar-bounded
    // regardless of corpus size.
    "ts_level_shift" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val daily = events(s, dir)
        .select(col("event_type"), epochDay("ts").as("day"), col("value"))
        .groupBy("event_type", "day")
        .agg(davg(col("value")).as("v"))
        .withColumn("dv", col("v").cast("decimal(18,4)"))
      val wb = Window.partitionBy("event_type").orderBy("day")
        .rowsBetween(-7, -1)
      val wa = Window.partitionBy("event_type").orderBy("day")
        .rowsBetween(1, 7)
      daily
        .withColumn("nb", count(col("dv")).over(wb))
        .withColumn("na", count(col("dv")).over(wa))
        .withColumn("shift",
          when(col("nb") === 7 && col("na") === 7,
            r4d(sum(col("dv")).over(wa).cast("double") / col("na")
              - sum(col("dv")).over(wb).cast("double") / col("nb"))))
        .select(col("event_type"), col("day"), col("v"), col("shift"),
          when(col("shift").isNotNull,
            (abs(col("shift")) > 1.0).cast("long")).as("is_shift"))
        .orderBy("event_type", "day")
    }),

    "ts_interval_coverage" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("start_ms"), col("event_id"))
      val e = events(s, dir)
        .select(col("user_id"), col("event_id"),
          unix_millis(col("ts").cast("timestamp")).as("start_ms"),
          (round(col("value") * 100) * 600).cast("long").as("dur_ms"))
        .withColumn("end_ms", col("start_ms") + col("dur_ms"))
      e.withColumn("prev_max", max(col("end_ms"))
          .over(w.rowsBetween(Window.unboundedPreceding, -1)))
        .withColumn("new_iv",
          when(col("prev_max") >= col("start_ms"), 0L).otherwise(1L))
        .withColumn("island", sum(col("new_iv"))
          .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        .groupBy(col("user_id"), col("island"))
        .agg(min(col("start_ms")).as("iv_start"),
          max(col("end_ms")).as("iv_end"))
        .groupBy(col("user_id"))
        .agg(count(lit(1)).as("n_intervals"),
          sum(col("iv_end") - col("iv_start")).as("covered_ms"),
          max(col("iv_end") - col("iv_start")).as("longest_ms"))
        .orderBy("user_id")
    }),

    // LAG-k AUTOCORRELATION of daily event volume per type — the
    // seasonality detector next to ts_level_shift's changepoints and
    // agg_trend_slope's drift: lag-1 reads day-over-day persistence,
    // lag-7 the weekly cycle. Computed over the ZERO-FILLED calendar
    // spine (ts_gapfill's convention) — quiet days are real signal; an
    // acf over observed-days-only would overstate persistence exactly
    // where traffic is sparsest. Pearson corr of (xₜ, xₜ₋ₖ) from
    // decimal-EXACT integer moments (the agg_corr family), doubles only
    // at the final divide/sqrt; degenerate series (constant either
    // margin) drop via the exact integer variance tests. Per-row long
    // products cap daily volume at ~3×10⁹ events/day (long-exact y²);
    // beyond that, pre-bucket or widen — the agg_trend_slope bound.
    //
    // Scale: the corpus collapses to |types|×|days| rows in the first
    // partial-aggregating exchange; ONE window node (partition by type,
    // order by day) hosts both lag frames, and the pair explode is
    // map-side — the whole key after the pre-agg is calendar-bounded,
    // never corpus-bounded.
    // TREND R² (§2.127) — how much of the daily series does the
    // linear trend actually EXPLAIN (agg_trend_slope gives the slope;
    // without R² a near-zero-signal slope reads as a trend)? From the
    // same exact integer moments over the time-bounded zero-filled
    // spine: R² = (nΣxy − ΣxΣy)² / ((nΣxx − (Σx)²)(nΣyy − (Σy)²)) —
    // DECIMAL(38,0) products, one division per type.
    "ts_trend_r2" -> ((s, dir) => {
      val full = zeroFilledDaily(s, dir)
      val b = full.agg(min(col("day")).as("lo"))
      full.crossJoin(broadcast(b))
        .select(col("event_type"), (col("day") - col("lo")).as("x"),
          col("y"))
        .groupBy("event_type")
        .agg(count(lit(1)).as("n"),
          sum(col("x")).cast("decimal(38,0)").as("sx"),
          sum(col("y")).cast("decimal(38,0)").as("sy"),
          sum(col("x").cast("decimal(38,0)") * col("x")).as("sxx"),
          sum(col("y").cast("decimal(38,0)") * col("y")).as("syy"),
          sum(col("x").cast("decimal(38,0)") * col("y")).as("sxy"))
        .filter(col("n") * col("sxx") > col("sx") * col("sx")
          && col("n") * col("syy") > col("sy") * col("sy"))
        .select(col("event_type"), col("n").as("n_days"),
          r4d(((col("n") * col("sxy") - col("sx") * col("sy"))
              * (col("n") * col("sxy") - col("sx") * col("sy")))
              .cast("double")
            / ((col("n") * col("sxx") - col("sx") * col("sx"))
              * (col("n") * col("syy") - col("sy") * col("sy")))
              .cast("double")).as("r2"))
        .orderBy("event_type")
    }),

    // EVENT-SPACING CV (§2.125) — is the arrival process bursty or
    // regular? Per type, the coefficient of variation of WITHIN-DAY
    // inter-event gaps (CV ≈ 1 Poisson, > 1 bursty, < 1 regular — the
    // point-process face of text_token_burstiness). Gaps are exact
    // integer ms off a (type, day)-partitioned lag window — per-day
    // partitions stay bounded at any corpus size where a per-type
    // global ordering would not — moments ride DECIMAL(38,0), and
    // CV = √(nΣg² − (Σg)²)/Σg is one chain of exact operands.
    "ts_event_spacing_cv" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val e = events(s, dir).select(col("event_type"),
        epochDay("ts").as("day"),
        unix_millis(col("ts").cast("timestamp")).as("ms"),
        col("event_id"))
      val w = Window.partitionBy("event_type", "day")
        .orderBy("ms", "event_id")
      val gaps = e.withColumn("pms", lag(col("ms"), 1).over(w))
        .filter(col("pms").isNotNull)
        .select(col("event_type"), (col("ms") - col("pms")).as("g"))
      gaps.groupBy("event_type")
        .agg(count(lit(1)).as("n"),
          sum(col("g")).cast("decimal(38,0)").as("sg"),
          sum(col("g").cast("decimal(38,0)") * col("g")).as("sgg"))
        .select(col("event_type"), col("n").as("n_gaps"),
          r4d(col("sg").cast("double") / col("n").cast("double"))
            .as("mean_ms"),
          r4d(sqrt(greatest(lit(0.0),
              (col("n") * col("sgg") - col("sg") * col("sg"))
                .cast("double")))
            / col("sg").cast("double")).as("cv"))
        .orderBy("event_type")
    }),

    // DRAWDOWN CURVE (§2.122) — the running-peak shortfall of
    // cumulative daily revenue (the finance drawdown applied to any
    // cumulative KPI: "how far below the best-ever are we, day by
    // day"): cum and peak are integer-cents window sums/maxes over
    // the TIME-bounded day spine — the whole key is integer-exact,
    // zero float surface. One corpus reduce to (day, cents), then
    // constant-size windows.
    "ts_drawdown_curve" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val daily = events(s, dir)
        .select(epochDay("ts").as("day"),
          round(col("value") * 100).cast("long").as("cents"))
        .groupBy("day").agg(sum(col("cents")).cast("long").as("rev"))
      val w = Window.orderBy("day")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      daily
        .withColumn("cum_cents", sum(col("rev")).over(w).cast("long"))
        .withColumn("peak_cents", max(col("cum_cents")).over(w))
        .select(col("day"), col("rev").as("day_cents"),
          col("cum_cents"), col("peak_cents"),
          (col("peak_cents") - col("cum_cents")).as("drawdown_cents"))
        .orderBy("day")
    }),

    // COHORT RETENTION HALF-LIFE (§2.117) — compress each weekly
    // cohort's retention curve to the ONE number growth teams track:
    // fit ln r_w = a − λw over week offsets 1..4 by exact-moment OLS
    // and report half-life = ln 2 / λ. Retention points are exact
    // integer ratios (distinct active / cohort size); each point's
    // log is one libm call on identical operands; the Σln r and
    // Σw·ln r folds ride w-sorted bounded struct lists (≤ 4 points);
    // λ's OLS chain is spelled operand-for-operand. Cohorts with < 2
    // positive points can't support a slope and drop. Shape: one
    // first-touch reduce, one (cohort, week) distinct reduce — the
    // cohort_retention plumbing with a constant-size fit on top.
    "ts_cohort_halflife" -> ((s, dir) => {
      val e = events(s, dir)
        .select(col("user_id"), epochDay("ts").as("day"))
      val cw = e.groupBy("user_id").agg(min(col("day")).as("cd"))
        .select(col("user_id"), expr("cd div 7").as("cohort_week"))
      val sizes = cw.groupBy("cohort_week")
        .agg(countDistinct(col("user_id")).as("n_users"))
      val pts = e.join(cw, Seq("user_id"))
        .select(col("cohort_week"), col("user_id"),
          (expr("day div 7") - col("cohort_week")).as("w"))
        .filter(col("w") >= 1 && col("w") <= 4)
        .groupBy("cohort_week", "w")
        .agg(countDistinct(col("user_id")).as("act"))
        .join(sizes, Seq("cohort_week"))
        .select(col("cohort_week"), col("w"),
          log(col("act").cast("double") / col("n_users").cast("double"))
            .as("lr"))
      val fit = pts.groupBy("cohort_week")
        .agg(count(lit(1)).as("np"),
          sum(col("w")).cast("long").as("sw"),
          sum(col("w") * col("w")).cast("long").as("sww"),
          array_sort(collect_list(struct(col("w"), col("lr"))))
            .as("xs"))
        .filter(col("np") >= 2)
        .select(col("cohort_week"), col("np"), col("sw"), col("sww"),
          aggregate(col("xs"), lit(0.0), (a, x) => a + x("lr")).as("sl"),
          aggregate(col("xs"), lit(0.0), (a, x) =>
            a + x("w").cast("double") * x("lr")).as("swl"))
      fit.join(sizes, Seq("cohort_week"))
        .withColumn("lam",
          -(col("np").cast("double") * col("swl")
              - col("sw").cast("double") * col("sl"))
            / (col("np") * col("sww") - col("sw") * col("sw"))
              .cast("double"))
        .select(col("cohort_week"), col("n_users"),
          col("np").as("n_points"), r4d(col("lam")).as("lambda"),
          when(col("lam") > 0,
            r4d(log(lit(2.0)) / col("lam"))).as("halflife_weeks"))
        .orderBy("cohort_week")
    }),

    // HURST EXPONENT, R/S form (§2.117) — does the daily series have
    // long memory (H > ½ trends persist, H < ½ mean-reverts, random
    // walk ½)? Rescaled-range analysis at block sizes n ∈ {4, 8, 16}:
    // per full block, the range of cumulative deviations scaled to
    // stay INTEGER (D_j = n·cum_j − (j+1)·S), variance as
    // n·Σy² − S² in DECIMAL(38,0), so R/S = (maxD − minD)/√var is
    // one division of exact operands; per-size means fold over
    // blk-sorted bounded lists, and H = (ln RS₁₆ − ln RS₄)/(2 ln 2) —
    // the equally-spaced-x OLS slope in closed form. The series is
    // the time-bounded day spine: corpus size changes y, never the
    // block structure.
    "ts_hurst_exponent" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val daily = zeroFilledDaily(s, dir)
        .groupBy("day").agg(sum(col("y")).cast("long").as("y"))
      val lo = daily.agg(min(col("day")).as("lo"))
      val idx = daily.crossJoin(broadcast(lo))
        .select((col("day") - col("lo")).as("t"), col("y"))
      val ns = s.range(0, 3)
        .select(expr("shiftleft(4L, cast(id as int))").as("wsize"))
      val blocks = idx.crossJoin(broadcast(ns))
        .select(col("wsize"), expr("t div wsize").as("blk"),
          (col("t") % col("wsize")).as("j"), col("y"))
      val full = blocks.groupBy("wsize", "blk")
        .agg(count(lit(1)).as("cnt"),
          sum(col("y")).cast("long").as("ssum"),
          sum(col("y").cast("decimal(38,0)") * col("y")).as("syy"))
        .filter(col("cnt") === col("wsize"))
      val wcum = Window.partitionBy("wsize", "blk").orderBy("j")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val rs = blocks
        .join(full.select(col("wsize"), col("blk"), col("ssum"),
          col("syy")), Seq("wsize", "blk"))
        .withColumn("cy", sum(col("y")).over(wcum).cast("long"))
        .withColumn("dj",
          col("wsize") * col("cy") - (col("j") + 1) * col("ssum"))
        .groupBy("wsize", "blk", "ssum", "syy")
        .agg(max(col("dj")).as("mx"), min(col("dj")).as("mn"))
        .withColumn("var2",
          col("wsize").cast("decimal(38,0)") * col("syy")
            - col("ssum").cast("decimal(38,0)") * col("ssum"))
        .filter(col("var2") > 0)
        .select(col("wsize"), col("blk"),
          ((col("mx") - col("mn")).cast("double")
            / sqrt(col("var2").cast("double"))).as("rsb"))
      val mrs = rs.groupBy("wsize")
        .agg(count(lit(1)).as("nb"),
          array_sort(collect_list(struct(col("blk"), col("rsb"))))
            .as("xs"))
        .select(col("wsize"), col("nb"),
          (aggregate(col("xs"), lit(0.0), (a, x) => a + x("rsb"))
            / col("nb")).as("mrs"))
      mrs.agg(
          max(when(col("wsize") === 4, col("nb"))).as("nb4"),
          max(when(col("wsize") === 8, col("nb"))).as("nb8"),
          max(when(col("wsize") === 16, col("nb"))).as("nb16"),
          max(when(col("wsize") === 4, col("mrs"))).as("rs4"),
          max(when(col("wsize") === 8, col("mrs"))).as("rs8"),
          max(when(col("wsize") === 16, col("mrs"))).as("rs16"))
        .select(col("nb4"), col("nb8"), col("nb16"),
          r4d(col("rs4")).as("rs4"), r4d(col("rs8")).as("rs8"),
          r4d(col("rs16")).as("rs16"),
          r4d((log(col("rs16")) - log(col("rs4")))
            / (log(lit(2.0)) * 2)).as("hurst"))
    }),

    // BINARY-SEGMENTATION CHANGEPOINT (§2.113/116) — the best single
    // split of the global daily series by SSE gain: argmax_k
    // S₁²/k + S₂²/(N−k) − S²/N (the variance-reduction objective; the
    // CUSUM key detects drift direction, this one OPTIMIZES the split
    // point — binary segmentation's first level). Prefix sums are
    // exact integer windows over the TIME-bounded day spine; each
    // candidate's gain is one double chain from DECIMAL(38,0)-squared
    // exact integers (identical operands → identical doubles, so the
    // argmax rank is engine-stable, day tie-break). Corpus size only
    // changes y values — every window here is constant-size.
    "ts_changepoint_binseg" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val daily = zeroFilledDaily(s, dir)
        .groupBy("day").agg(sum(col("y")).cast("long").as("y"))
      val wc = Window.orderBy("day")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val cum = daily
        .withColumn("s1", sum(col("y")).over(wc).cast("long"))
        .withColumn("k",
          row_number().over(Window.orderBy("day")).cast("long"))
      val tot = cum.agg(max(col("s1")).as("stot"), max(col("k")).as("nn"))
      val g = cum.crossJoin(broadcast(tot)).filter(col("k") < col("nn"))
        .withColumn("s2", col("stot") - col("s1"))
        .withColumn("n2", col("nn") - col("k"))
        .withColumn("gain",
          (col("s1").cast("decimal(38,0)") * col("s1")).cast("double")
              / col("k").cast("double")
            + (col("s2").cast("decimal(38,0)") * col("s2")).cast("double")
              / col("n2").cast("double")
            - (col("stot").cast("decimal(38,0)") * col("stot"))
              .cast("double") / col("nn").cast("double"))
      g.withColumn("rk", row_number().over(
          Window.orderBy(col("gain").desc, col("day"))))
        .filter(col("rk") === 1)
        .select(col("day").as("split_day"), col("k").as("n_left"),
          col("n2").as("n_right"),
          r4d(col("s1").cast("double") / col("k").cast("double"))
            .as("mean_left"),
          r4d(col("s2").cast("double") / col("n2").cast("double"))
            .as("mean_right"),
          r4d(col("gain")).as("gain"))
    }),

    // DFT PERIODOGRAM (§2.113) — which cycle lengths carry the energy
    // of each type's daily series? Frequency-domain seasonality, next
    // to ts_autocorr/ts_dow_seasonality's fixed-lag probes: for k ∈
    // 1..10 whole cycles over the window, re/im = Σ_t y_t·cos/sin
    // (2πkt/N), power = (re² + im²)/N. Determinism: angles are
    // 2π·(k·t)/N with EXACT integer k·t and the 2π literal an exact
    // power-of-two scaling of the shared closest-double π (Spark's
    // math.Pi ≡ DuckDB's pi()); cos/sin are the libm surface the geo
    // keys already rely on; each per-day term is one double product,
    // and the per-(type, k) sums fold over t-sorted struct lists (the
    // markov device). Scale: the series is the TIME-bounded zero-
    // filled day spine — corpus size changes y values, never the fold
    // length — so the whole frequency sweep is a constant-size tail
    // on one (type, day) reduce.
    "ts_periodogram" -> ((s, dir) => {
      dftTermLists(s, dir)
        .select(col("event_type"), col("k"), col("nd"),
          aggregate(col("xs"), lit(0.0), (a, x) => a + x("re_t")).as("re0"),
          aggregate(col("xs"), lit(0.0), (a, x) => a + x("im_t")).as("im0"))
        .select(col("event_type"), col("k"), col("nd"),
          r4d(col("re0")).as("re"), r4d(col("im0")).as("im"),
          r4d((col("re0") * col("re0") + col("im0") * col("im0"))
            / col("nd")).as("power"))
        .orderBy("event_type", "k")
    }),

    // VALUE-BAND MIGRATION (§2.168) — the LTV movement matrix: each
    // customer's order spend in the first vs second half of the
    // calendar (integer-midpoint split), bucketed into log₂ dollar
    // bands ('none' for a silent half), counted as a (band_from,
    // band_to) transition matrix — the upgrade/churn flow a revenue
    // review reads. Exact integer cents and band arithmetic
    // (length(bin(dollars + 1)) — the log2-bucket device); two keyed
    // reduces over the |customers|-row panel.
    "agg_value_band_migration" -> ((s, dir) => {
      val o = t(s, dir, "orders").select(col("o_custkey"),
        epochDay("o_orderdate").as("day"),
        round(col("o_totalprice") * 100).cast("long").as("cents"))
      val b = o.agg(min(col("day")).as("lo"), max(col("day")).as("hi"))
        .select(expr("(lo + hi) div 2").as("mid"))
      val halves = o.crossJoin(broadcast(b))
        .groupBy("o_custkey")
        .agg(sum(when(col("day") <= col("mid"), col("cents"))
          .otherwise(0L)).as("c1"),
          sum(when(col("day") > col("mid"), col("cents"))
            .otherwise(0L)).as("c2"))
      val banded = halves
        .withColumn("band_from", when(col("c1") === 0, lit("none"))
          .otherwise(concat(lit("b"),
            (length(bin(expr("c1 div 100 + 1"))) - 1).cast("string"))))
        .withColumn("band_to", when(col("c2") === 0, lit("none"))
          .otherwise(concat(lit("b"),
            (length(bin(expr("c2 div 100 + 1"))) - 1).cast("string"))))
      val m = banded.groupBy("band_from", "band_to")
        .agg(count(lit(1)).as("n_customers"))
      val tot = m.agg(sum(col("n_customers")).cast("long").as("ntot"))
      m.crossJoin(broadcast(tot))
        .select(col("band_from"), col("band_to"), col("n_customers"),
          r4d(col("n_customers").cast("double")
            / col("ntot").cast("double")).as("share"))
        .orderBy("band_from", "band_to")
    }),

    // DONCHIAN CHANNEL (§2.167) — the rolling 7-day min/max envelope
    // with breakout flags: the simplest regime monitor (a day
    // strictly above the PRIOR week's high is an upside breakout —
    // the alert rule ops channels actually run). Exact integer
    // window extrema over the spine, EXCLUSIVE frame (-7..-1) so
    // today never contains itself; edge days with a short window
    // emit NULL channel, never a fake bound.
    "ts_donchian_channel" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy(col("event_type")).orderBy(col("day"))
        .rowsBetween(-7, -1)
      zeroFilledDaily(s, dir)
        .withColumn("nwin", count(lit(1)).over(w))
        .withColumn("ch_hi",
          when(col("nwin") === 7, max(col("y")).over(w)))
        .withColumn("ch_lo",
          when(col("nwin") === 7, min(col("y")).over(w)))
        .select(col("event_type"), col("day"), col("y"),
          col("ch_lo"), col("ch_hi"),
          (col("ch_hi").isNotNull && col("y") > col("ch_hi"))
            .as("breakout_up"),
          (col("ch_lo").isNotNull && col("y") < col("ch_lo"))
            .as("breakout_down"))
        .orderBy("event_type", "day")
    }),

    // TREND ACCELERATION (§2.198) — is growth speeding up or just
    // continuing: per event type, the mean SECOND difference of the
    // zero-filled daily series (exact integer d², decimal sum, one
    // division) and the share of accelerating days — the convexity
    // readout above ts_growth_rates' first differences. One window,
    // one reduce.
    "ts_trend_acceleration" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val D0 = "decimal(38,0)"
      val w = Window.partitionBy("event_type").orderBy(col("day"))
      val d = zeroFilledDaily(s, dir)
        .withColumn("d1", col("y") - lag(col("y"), 1).over(w))
        .withColumn("d2", col("d1") - lag(col("d1"), 1).over(w))
        .filter(col("d2").isNotNull)
      d.groupBy("event_type")
        .agg(count(lit(1)).as("n_days"),
          sum(col("d2").cast(D0)).as("s2"),
          count_if(col("d2") > 0).as("n_accel"))
        .select(col("event_type"), col("n_days"),
          r4d(col("s2").cast("double") / col("n_days").cast("double"))
            .as("mean_accel"),
          r4d(col("n_accel").cast("double")
            / col("n_days").cast("double")).as("accel_share"))
        .orderBy("event_type")
    }),

    // DISPERSION INDEX (§2.196) — the Fano factor variance/mean of
    // daily counts per event type over the zero-filled spine: ≈1 is
    // Poisson arrivals, ≫1 is bursty/clustered traffic — the
    // one-number overdispersion screen in front of
    // agg_negative_binomial_fit's full model. Exact decimal moments,
    // cross-multiplied to ONE division (D = (n·q − s²)/(n·s)); the
    // Poisson flag compares exact integers (the same cross-mult with
    // 2× bands).
    "ts_dispersion_index" -> ((s, dir) => {
      val D0 = "decimal(38,0)"
      val d = zeroFilledDaily(s, dir)
      d.groupBy("event_type")
        .agg(count(lit(1)).as("n"),
          sum(col("y").cast(D0)).as("s"),
          sum((col("y") * col("y")).cast(D0)).as("q"))
        .filter(col("s") > 0)
        .select(col("event_type"), col("n").as("n_days"),
          col("s").cast("long").as("n_events"),
          r4d((col("n").cast(D0) * col("q") - col("s") * col("s"))
            .cast("double")
            / (col("n").cast(D0) * col("s")).cast("double"))
            .as("dispersion_index"),
          (col("n").cast(D0) * col("q") - col("s") * col("s")
            > lit(2).cast(D0) * col("n") * col("s"))
            .as("overdispersed"))
        .orderBy("event_type")
    }),

    // ROLLING SHARPE (§2.193) — the trend signal-to-noise ratio on
    // daily revenue changes: over each full trailing 28-day window
    // of exact-cent 1-day differences, mean/σ (population) spelled
    // s·√n / √(n·q − s²) so every input to the two sqrts is an exact
    // decimal integer — the regime-quality number next to
    // ts_variance_ratio's single split. Two windows over the
    // bounded daily series.
    "ts_rolling_sharpe" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val D0 = "decimal(38,0)"
      val daily = dailyRevenue(s, dir)
      val wd = Window.orderBy(col("day"))
      val d = daily
        .withColumn("d1", col("rev") - lag(col("rev"), 1).over(wd))
        .filter(col("d1").isNotNull)
      val w28 = Window.orderBy(col("day")).rowsBetween(-27, 0)
      d.withColumn("nw", count(lit(1)).over(w28))
        .withColumn("s", sum(col("d1").cast(D0)).over(w28))
        .withColumn("q",
          sum((col("d1") * col("d1")).cast(D0)).over(w28))
        .filter(col("nw") === 28)
        .filter(col("nw").cast(D0) * col("q") > col("s") * col("s"))
        .select(col("day"),
          r4d(col("s").cast("double")
            * sqrt(col("nw").cast("double"))
            / sqrt((col("nw").cast(D0) * col("q")
              - col("s") * col("s")).cast("double")))
            .as("rolling_sharpe"))
        .orderBy("day")
    }),

    // DAILY VWAP (§2.192) — the volume-weighted average price per
    // ship day over line items: Σ(extended price)/Σ(quantity) with
    // both sums in exact cents — the fills-weighted price benchmark
    // finance and procurement quote (a plain AVG over-weights small
    // lots). One keyed reduce; one division per day.
    "ts_vwap_daily" -> ((s, dir) => {
      t(s, dir, "lineitem")
        .select(epochDay("l_shipdate").as("day"),
          round(col("l_extendedprice") * 100).cast("long")
            .as("pc"),
          round(col("l_quantity") * 100).cast("long").as("qc"))
        .groupBy("day")
        .agg(count(lit(1)).as("n_lines"),
          sum(col("pc")).as("sp"), sum(col("qc")).as("sq"))
        .filter(col("sq") > 0)
        .select(col("day"), col("n_lines"),
          col("sq").as("volume_centiunits"),
          r4d(col("sp").cast("double") / col("sq").cast("double"))
            .as("vwap"))
        .orderBy("day")
    }),

    // TYPE MIX DRIFT (§2.186) — the composition monitor: per day,
    // the χ² of that day's event-type mix against the corpus-wide
    // mix (zero-filled over the type grid, so a silently MISSING
    // type is drift too), flagged at the df=4 95% critical value.
    // Catches "clicks collapsed but volume held" — the class of
    // incident a per-type volume alert misses. Per-cell terms are
    // exact decimal cross-multiplications divided once each, summed
    // in sorted type order (the bounded-fold device); the flag is
    // the srm-style compare on identical doubles.
    "ts_type_mix_drift" -> ((s, dir) => {
      val D0 = "decimal(38,0)"
      val e = events(s, dir)
        .select(epochDay("ts").as("day"), col("event_type"))
      val tot = e.agg(count(lit(1)).as("nn"))
      val byT = e.groupBy("event_type").agg(count(lit(1)).as("nt"))
      val byD = e.groupBy("day").agg(count(lit(1)).as("nd"))
      val obs = e.groupBy("day", "event_type")
        .agg(count(lit(1)).as("o"))
      val num = (coalesce(col("o"), lit(0L)).cast(D0) * col("nn")
        - col("nd").cast(D0) * col("nt"))
      val cells = byD.crossJoin(broadcast(byT))
        .join(obs, Seq("day", "event_type"), "left")
        .crossJoin(broadcast(tot))
        .select(col("day"), col("nd"),
          struct(col("event_type"),
            ((num * num).cast("double")
              / (col("nd").cast(D0) * col("nt") * col("nn"))
                .cast("double")).as("t")).as("st"))
      cells.groupBy("day")
        .agg(max(col("nd")).as("n_events"),
          aggregate(array_sort(collect_list(col("st"))), lit(0.0),
            (acc, x) => acc + x("t")).as("chi2r"))
        .select(col("day"), col("n_events"),
          r4d(col("chi2r")).as("chi2"),
          (col("chi2r") > 9.487729036781154).as("mix_drift"))
        .orderBy("day")
    }),

    // PEAK-TO-MEAN RATIO (§2.184) — the capacity-headroom factor:
    // per event type over the zero-filled daily spine, peak day
    // volume over mean daily volume (provision for peak, pay for
    // mean — this ratio IS the overprovision bill). The ratio
    // cross-multiplies to max·n/sum on exact integers before ONE
    // rounded division; peak day reported under the (y desc, day)
    // total order.
    "ts_peak_to_mean_ratio" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val d = zeroFilledDaily(s, dir)
      val w = Window.partitionBy("event_type")
        .orderBy(col("y").desc, col("day"))
      val peak = d.withColumn("rk", row_number().over(w))
        .filter(col("rk") === 1)
        .select(col("event_type"), col("day").as("peak_day"),
          col("y").as("peak_count"))
      d.groupBy("event_type")
        .agg(count(lit(1)).as("n_days"), sum(col("y")).as("s"))
        .join(peak, Seq("event_type"))
        .select(col("event_type"), col("n_days"), col("peak_day"),
          col("peak_count"),
          r4d((col("peak_count") * col("n_days")).cast("double")
            / col("s").cast("double")).as("peak_to_mean"))
        .orderBy("event_type")
    }),

    // PEAK HOUR STABILITY (§2.182) — capacity planning's first
    // question: is the busiest hour the SAME every week, or does it
    // wander? Per event type: each week's argmax hour (under the
    // (n desc, hour) total order), the modal peak hour across weeks,
    // and the share of weeks agreeing with it — a share near 1 means
    // a static staffing/scaling schedule works. Exact counts, two
    // bounded argmax windows.
    "ts_peak_hour_stability" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val e = events(s, dir)
        .select(col("event_type"),
          expr("unix_millis(cast(ts as timestamp))" +
            " div 86400000 div 7").as("week"),
          expr("unix_millis(cast(ts as timestamp))" +
            " div 3600000 % 24").as("hour"))
        .groupBy("event_type", "week", "hour")
        .agg(count(lit(1)).as("n"))
      val ww = Window.partitionBy("event_type", "week")
        .orderBy(col("n").desc, col("hour"))
      val peaks = e.withColumn("rk", row_number().over(ww))
        .filter(col("rk") === 1)
        .select(col("event_type"), col("week"),
          col("hour").as("peak_hour"))
      val wc = peaks.groupBy("event_type", "peak_hour")
        .agg(count(lit(1)).as("nw"))
      val wm = Window.partitionBy("event_type")
        .orderBy(col("nw").desc, col("peak_hour"))
      val modal = wc.withColumn("rk", row_number().over(wm))
        .filter(col("rk") === 1)
        .select(col("event_type"), col("peak_hour").as("modal_hour"),
          col("nw").as("n_weeks_at_modal"))
      peaks.groupBy("event_type").agg(count(lit(1)).as("n_weeks"))
        .join(modal, Seq("event_type"))
        .select(col("event_type"), col("n_weeks"), col("modal_hour"),
          col("n_weeks_at_modal"),
          r4d(col("n_weeks_at_modal").cast("double")
            / col("n_weeks").cast("double")).as("stability"))
        .orderBy("event_type")
    }),

    // VARIANCE RATIO (§2.177) — the Lo-MacKinlay random-walk test on
    // daily order revenue: VR(7) = Var(7-day differences)/(7·Var(1-
    // day differences)) — VR ≈ 1 random walk, > 1 trending, < 1
    // mean-reverting; the regime diagnostic next to ts_hurst_exponent
    // (which estimates the same thing through R/S). Differences are
    // exact cent integers off two lag windows; both variances stay in
    // decimal(38,0) cross-multiplied form so ONE division runs, and
    // the regime flag compares exact integers — no float enters it.
    "ts_variance_ratio" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val D0 = "decimal(38,0)"
      val daily = dailyRevenue(s, dir)
      val wd = Window.orderBy(col("day"))
      val d = daily
        .withColumn("d1", col("rev") - lag(col("rev"), 1).over(wd))
        .withColumn("d7", col("rev") - lag(col("rev"), 7).over(wd))
      val m1 = d.filter(col("d1").isNotNull)
        .agg(count(lit(1)).as("n1"),
          sum(col("d1").cast(D0)).as("s1"),
          sum(col("d1").cast(D0) * col("d1")).as("s11"))
      val m7 = d.filter(col("d7").isNotNull)
        .agg(count(lit(1)).as("n7"),
          sum(col("d7").cast(D0)).as("s7"),
          sum(col("d7").cast(D0) * col("d7")).as("s77"))
      m1.crossJoin(m7)
        .select(col("n1"), col("n7"),
          r4d((col("n1").cast(D0) * col("n1")
            * (col("n7").cast(D0) * col("s77") - col("s7") * col("s7")))
            .cast("double")
            / (lit(7).cast(D0) * col("n7") * col("n7")
              * (col("n1").cast(D0) * col("s11") - col("s1") * col("s1")))
              .cast("double")).as("variance_ratio"),
          when(col("n1").cast(D0) * col("n1")
              * (col("n7").cast(D0) * col("s77") - col("s7") * col("s7"))
              > lit(7).cast(D0) * col("n7") * col("n7")
              * (col("n1").cast(D0) * col("s11") - col("s1") * col("s1")),
            lit("trending")).otherwise(lit("mean_reverting"))
            .as("regime"))
    }),

    // MARKOV ENTROPY RATE (§2.177) — how predictable is the next
    // event given the current one: the empirical conditional entropy
    // H(next | current) of the user-journey transition chain =
    // (Σᵢ nᵢ·log2 nᵢ − Σᵢⱼ nᵢⱼ·log2 nᵢⱼ)/N in bits, plus the
    // log2(|states|)-normalized form — the sequence-compressibility
    // number behind agg_markov_steady_state's matrix. Counts exact;
    // the two c·log2(c) folds run over SORTED bounded |types|²
    // lists (the shared entropy device); one division each.
    "ts_markov_entropy_rate" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("ms"), col("event_id"))
      val tr = events(s, dir)
        .select(col("user_id"), col("event_id"), col("event_type"),
          unix_millis(col("ts").cast("timestamp")).as("ms"))
        .withColumn("next_type", lead(col("event_type"), 1).over(w))
        .filter(col("next_type").isNotNull)
        .groupBy(col("event_type").as("from"),
          col("next_type").as("to"))
        .agg(count(lit(1)).as("n"))
      val plogp = (cs: org.apache.spark.sql.Column) =>
        aggregate(cs, lit(0.0), (acc, x) =>
          acc + x.cast("double") * log2(x.cast("double")))
      val cells = tr.agg(sum(col("n")).as("nn"),
        array_sort(collect_list(col("n"))).as("cs"))
      val froms = tr.groupBy("from").agg(sum(col("n")).as("nf"))
        .agg(count(lit(1)).as("n_states"),
          array_sort(collect_list(col("nf"))).as("fs"))
      cells.crossJoin(froms)
        .select(col("nn").as("n_transitions"), col("n_states"),
          r4d((plogp(col("fs")) - plogp(col("cs"))) / col("nn"))
            .as("entropy_rate_bits"),
          when(col("n_states") > 1,
            r4d(((plogp(col("fs")) - plogp(col("cs"))) / col("nn"))
              / log2(col("n_states")))).otherwise(lit(0.0))
            .as("entropy_norm"))
    }),

    // ASSOCIATION-RULES LIFT (§2.172) — market-basket mining on the
    // behavioral stream: baskets are user-days, items are event
    // types; for each type pair (a < b), support, directional
    // confidence and lift = n_ab·N/(n_a·n_b) — the "users who X also
    // Y" primitive behind cross-sell and feature-adoption reports.
    // The pair join explodes WITHIN baskets only (≤ |types| items per
    // basket — bounded fanout, corpus-linear rows); singles and the
    // basket total are broadcast scalars; lift cross-multiplies exact
    // integers before its one rounded division.
    "agg_assoc_rules_lift" -> ((s, dir) => {
      val b = events(s, dir)
        .select(col("user_id"), epochDay("ts").as("day"),
          col("event_type"))
        .distinct()
      val nb = b.select("user_id", "day").distinct()
        .agg(count(lit(1)).as("n_baskets"))
      val singles = b.groupBy(col("event_type"))
        .agg(count(lit(1)).as("n_single"))
      val pairs = b.as("x").join(b.as("y"),
          col("x.user_id") === col("y.user_id")
            && col("x.day") === col("y.day")
            && col("x.event_type") < col("y.event_type"))
        .groupBy(col("x.event_type").as("a"),
          col("y.event_type").as("b"))
        .agg(count(lit(1)).as("n_ab"))
      pairs
        .join(broadcast(singles.select(col("event_type").as("a"),
          col("n_single").as("n_a"))), Seq("a"))
        .join(broadcast(singles.select(col("event_type").as("b"),
          col("n_single").as("n_b"))), Seq("b"))
        .crossJoin(broadcast(nb))
        .select(col("a"), col("b"), col("n_ab"), col("n_a"),
          col("n_b"),
          r4d(col("n_ab").cast("double")
            / col("n_baskets").cast("double")).as("support"),
          r4d(col("n_ab").cast("double")
            / col("n_a").cast("double")).as("confidence_a_b"),
          r4d((col("n_ab") * col("n_baskets")).cast("double")
            / (col("n_a") * col("n_b")).cast("double")).as("lift"))
        .orderBy("a", "b")
    }),

    // SEGMENTED REGRESSION (§2.172) — interrupted-time-series slope
    // analysis: split the zero-filled daily spine at the integer-
    // midpoint day and fit exact-moment OLS slopes to each half (the
    // agg_trend_slope device, decimal(38,0) sums, one double
    // division each); slope_change is the trend-break readout that
    // complements ts_level_shift (mean break) and ab_diff_in_diff
    // (level×group). Two filtered reduces over the bounded spine.
    "ts_segmented_regression" -> ((s, dir) => {
      val d = zeroFilledDaily(s, dir)
      val bounds = d.agg(min(col("day")).as("lo"),
        max(col("day")).as("hi"))
      val seg = d.crossJoin(broadcast(bounds))
        .withColumn("post", col("day") > expr("(lo + hi) div 2"))
      def withSlope(f: DataFrame, nn: String, sl: String) =
        f.groupBy("event_type")
          .agg(count(lit(1)).as("n"),
            sum(col("day").cast("decimal(38,0)")).as("sx"),
            sum(col("y").cast("decimal(38,0)")).as("sy"),
            sum((col("day") * col("day")).cast("decimal(38,0)"))
              .as("sxx"),
            sum((col("day") * col("y")).cast("decimal(38,0)"))
              .as("sxy"))
          .select(col("event_type"), col("n").as(nn),
            ((col("n") * col("sxy") - col("sx") * col("sy"))
              .cast("double")
              / (col("n") * col("sxx") - col("sx") * col("sx"))
                .cast("double")).as(sl))
      withSlope(seg.filter(!col("post")), "n_pre", "bpre")
        .join(withSlope(seg.filter(col("post")), "n_post", "bpost"),
          Seq("event_type"))
        .select(col("event_type"), col("n_pre"), col("n_post"),
          r4d(col("bpre")).as("slope_pre"),
          r4d(col("bpost")).as("slope_post"),
          r4d(col("bpost") - col("bpre")).as("slope_change"))
        .orderBy("event_type")
    }),

    // SMA CROSSOVER (§2.169) — the classic golden/death-cross change
    // detector on daily order revenue: days where the trailing 7-day
    // SMA crosses the trailing 28-day SMA (both full-window, rows
    // convention over present order days). Both SMAs are exact
    // integer-cent sums, and because 28 = 4·7 the comparison
    // cross-multiplies to sign(4·s7 − s28) on exact BIGINTs — no
    // float mean is ever compared, so the cross days are
    // engine-exact; doubles appear only in the two reported SMA
    // readouts. One reduce to the bounded daily series + two windows.
    "ts_sma_crossover" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val daily = dailyRevenue(s, dir)
      val wd = Window.orderBy(col("day"))
      daily
        .withColumn("rn", row_number().over(wd))
        .withColumn("s7", sum(col("rev")).over(wd.rowsBetween(-6, 0)))
        .withColumn("s28",
          sum(col("rev")).over(wd.rowsBetween(-27, 0)))
        .filter(col("rn") >= 28)
        .withColumn("sgn",
          when(col("s7") * 4 > col("s28"), lit(1L))
            .when(col("s7") * 4 < col("s28"), lit(-1L))
            .otherwise(lit(0L)))
        .withColumn("psgn", lag(col("sgn"), 1).over(wd))
        .filter(col("psgn").isNotNull && col("sgn") =!= col("psgn"))
        .select(col("day"),
          r4d(col("s7").cast("double") / 700.0).as("sma7"),
          r4d(col("s28").cast("double") / 2800.0).as("sma28"),
          when(col("sgn") > col("psgn"), lit("golden"))
            .otherwise(lit("death")).as("direction"))
        .orderBy("day")
    }),

    // MONTHLY SEASONAL INDEX (§2.166) — the retail-calendar
    // normalizer: per calendar month (1-12), order revenue as a
    // share of the monthly MEAN (index 1.0 = average month) — the
    // divisor every month-over-month comparison needs before it
    // means anything. Exact integer cents per month; the 12-row mean
    // is itself an exact rational (total/12 in the index denominator
    // via cents·12 cross-multiplication — no float mean enters);
    // one reduce.
    "ts_monthly_seasonal_index" -> ((s, dir) => {
      val m = t(s, dir, "orders")
        .select(month(col("o_orderdate").cast("date")).cast("long")
          .as("m"),
          round(col("o_totalprice") * 100).cast("long").as("cents"))
        .groupBy("m")
        .agg(count(lit(1)).as("n_orders"), sum(col("cents")).as("rev"))
      val tot = m.agg(sum(col("rev")).as("rev_total"),
        count(lit(1)).as("n_months"))
      m.crossJoin(broadcast(tot))
        .select(col("m").as("month"), col("n_orders"),
          col("rev").as("rev_cents"),
          r4d((col("rev") * col("n_months")).cast("double")
            / col("rev_total").cast("double")).as("seasonal_index"))
        .orderBy("month")
    }),

    // GROWTH STREAKS (§2.164) — momentum runs on the daily spine:
    // the longest run of strictly-increasing days and of strictly-
    // decreasing days per type (win_streak_longest profiles USER
    // activity; this profiles the series itself — the "N green days
    // in a row" alarm). Strict integer comparisons off one lag
    // window, then the gaps-and-islands grouping (day − row_number
    // constant within a run) on each flag. Exact counts.
    "ts_growth_streaks" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy(col("event_type")).orderBy(col("day"))
      val d = zeroFilledDaily(s, dir)
        .withColumn("py", lag(col("y"), 1).over(w))
        .filter(col("py").isNotNull)
        .localCheckpoint(true)
      def longest(flag: org.apache.spark.sql.Column): DataFrame = d
        .filter(flag)
        .withColumn("grp", col("day") - row_number().over(w))
        .groupBy("event_type", "grp")
        .agg(count(lit(1)).as("len"))
        .groupBy("event_type")
        .agg(max(col("len")).as("longest"),
          sum(col("len")).as("ndays"))
      val up = longest(col("y") > col("py"))
        .select(col("event_type"), col("longest").as("longest_up_run"),
          col("ndays").as("n_up_days"))
      val dn = longest(col("y") < col("py"))
        .select(col("event_type"),
          col("longest").as("longest_down_run"),
          col("ndays").as("n_down_days"))
      val tot = d.groupBy("event_type").agg(count(lit(1)).as("n_days"))
      tot.join(up, Seq("event_type"), "left")
        .join(dn, Seq("event_type"), "left")
        .select(col("event_type"), col("n_days"),
          coalesce(col("n_up_days"), lit(0L)).as("n_up_days"),
          coalesce(col("longest_up_run"), lit(0L)).as("longest_up_run"),
          coalesce(col("n_down_days"), lit(0L)).as("n_down_days"),
          coalesce(col("longest_down_run"), lit(0L))
            .as("longest_down_run"))
        .orderBy("event_type")
    }),

    // DAILY VALUE PERCENTILE BANDS (§2.162) — the p50/p90 band chart
    // every latency/value monitoring dashboard draws: per (type,
    // day), the median and 90th percentile of event value as exact
    // BIGINT cent order statistics (§1.3-cast both sides) plus the
    // exact mean. Corpus collapses to |types|×|days| percentile
    // groups in one exchange — the partial-agg shape that holds at
    // any scale.
    "ts_daily_value_percentiles" -> ((s, dir) => {
      events(s, dir).select(col("event_type"),
          epochDay("ts").as("day"),
          round(col("value") * 100).cast("long").as("cents"))
        .createOrReplaceTempView("dvp_events")
      s.sql("""SELECT event_type, day, count(*) AS n,
        |  ROUND(CAST(sum(cents) AS DOUBLE) / CAST(count(*) AS DOUBLE)
        |    / 100.0 * 10000) / 10000 AS mean_value,
        |  CAST(percentile_disc(0.5) WITHIN GROUP (ORDER BY cents)
        |    AS BIGINT) AS p50_cents,
        |  CAST(percentile_disc(0.9) WITHIN GROUP (ORDER BY cents)
        |    AS BIGINT) AS p90_cents
        |FROM dvp_events GROUP BY 1, 2
        |ORDER BY event_type, day""".stripMargin)
    }),

    // GUMBEL BLOCK MAXIMA (§2.158) — extreme-value capacity
    // planning: weekly maxima of the daily volume per type, a
    // method-of-moments Gumbel fit (scale = σ·√6/π, loc = μ − γ·σ —
    // both constants spelled as shared literals), and the 4-week
    // return level loc − scale·ln(−ln(0.75)) — "the daily peak to
    // provision for per month". Block maxima are exact integers off
    // the spine; μ and σ come from exact decimal moments; the only
    // libm is sqrt/ln at the edge, identical both engines, r4d.
    "ts_gumbel_block_maxima" -> ((s, dir) => {
      val wk = zeroFilledDaily(s, dir)
        .select(col("event_type"), expr("day div 7").as("week"),
          col("y"))
        .groupBy("event_type", "week").agg(max(col("y")).as("m"))
      val a = wk.groupBy("event_type")
        .agg(count(lit(1)).as("n_blocks"),
          sum(col("m").cast("decimal(38,0)")).as("s1"),
          sum((col("m") * col("m")).cast("decimal(38,0)")).as("s2"),
          max(col("m")).as("max_weekly"))
        .filter(col("n_blocks") > 1 &&
          col("n_blocks").cast("decimal(38,0)") * col("s2")
            > col("s1") * col("s1"))
      val mu = col("s1").cast("double") / col("n_blocks").cast("double")
      val sd = sqrt((col("n_blocks").cast("decimal(38,0)") * col("s2")
        - col("s1") * col("s1")).cast("double")
        / (col("n_blocks") * col("n_blocks")).cast("double"))
      a.withColumn("scale", sd * lit(0.7796968012336609))
        .withColumn("loc", mu - lit(0.5772156649015329) * col("scale"))
        .select(col("event_type"), col("n_blocks"), col("max_weekly"),
          r4d(mu).as("mean_weekly_max"),
          r4d(col("loc")).as("gumbel_loc"),
          r4d(col("scale")).as("gumbel_scale"),
          r4d(col("loc") - col("scale") * log(-log(lit(0.75))))
            .as("return_level_4wk"))
        .orderBy("event_type")
    }),

    // SPECTRAL ENTROPY (§2.155) — how concentrated is each type's
    // daily rhythm: Shannon entropy of the normalized k = 1..10
    // periodogram powers, over log₂10 so 1.0 = white noise and → 0 =
    // a single dominant cycle. The regularity scalar the
    // ts_periodogram TABLE implies but never states (and the
    // ts_seasonal_strength companion that doesn't presuppose WHICH
    // period). Same DFT term construction; every float reduce is an
    // ORDERED fold (array_sort + aggregate — the periodogram
    // device), so shuffle order can't move a ulp; power ratios and
    // logs at the edge, r4d.
    "ts_spectral_entropy" -> ((s, dir) => {
      val pw = dftTermLists(s, dir)
        .select(col("event_type"), col("k"),
          ((aggregate(col("xs"), lit(0.0), (a, x) => a + x("re_t"))
            * aggregate(col("xs"), lit(0.0), (a, x) => a + x("re_t"))
            + aggregate(col("xs"), lit(0.0), (a, x) => a + x("im_t"))
              * aggregate(col("xs"), lit(0.0), (a, x) => a + x("im_t")))
            / col("nd").cast("double")).as("power"))
      pw.groupBy("event_type")
        .agg(array_sort(collect_list(struct(col("k"), col("power"))))
          .as("ps"))
        .select(col("event_type"),
          aggregate(col("ps"), lit(0.0), (a, x) => a + x("power"))
            .as("ptot"), col("ps"))
        .select(col("event_type"),
          // log₂10 spelled as a shared literal (the SPRT ln-constant
          // convention) — a libm log2(10) could differ in the last
          // ulp between engines.
          r4d(aggregate(col("ps"), lit(0.0), (a, x) =>
            a - when(x("power") > 0,
              x("power") / col("ptot")
                * log2(x("power") / col("ptot"))).otherwise(0.0))
            / lit(3.321928094887362)).as("spectral_entropy"))
        .orderBy("event_type")
    }),

    "ts_autocorr" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val full = zeroFilledDaily(s, dir)
      val w = Window.partitionBy(col("event_type")).orderBy(col("day"))
      val pairs = full
        .select(col("event_type"), col("y"),
          lag(col("y"), 1).over(w).as("y1"),
          lag(col("y"), 7).over(w).as("y7"))
        .select(col("event_type"), explode(array(
          struct(lit(1L).as("lag_k"), col("y1").as("x"), col("y").as("yv")),
          struct(lit(7L).as("lag_k"), col("y7").as("x"), col("y").as("yv"))))
          .as("p"))
        .select(col("event_type"), col("p.lag_k").as("lag_k"),
          col("p.x").as("x"), col("p.yv").as("yy"))
        .filter(col("x").isNotNull)
      pairs.groupBy("event_type", "lag_k")
        .agg(count(lit(1)).as("n_raw"),
          sum(col("x").cast("decimal(38,0)")).as("sx"),
          sum(col("yy").cast("decimal(38,0)")).as("sy"),
          sum((col("x") * col("x")).cast("decimal(38,0)")).as("sxx"),
          sum((col("yy") * col("yy")).cast("decimal(38,0)")).as("syy"),
          sum((col("x") * col("yy")).cast("decimal(38,0)")).as("sxy"),
          max(greatest(col("x"), col("yy"))).as("mxy"))
        // Loud bound (the agg_skew_kurtosis convention): x·x / y·y /
        // x·y are LONG products before the decimal casts — a daily
        // count past ~3.03×10⁹ would wrap them silently under
        // non-ANSI while the oracle's HUGEINT keeps going.
        .withColumn("n", graft.Det.checkedN(col("n_raw"),
          col("mxy").cast("double") < lit(3.0e9),
          "ts_autocorr: daily volume exceeds the long-exact y^2 range " +
            "— pre-bucket or widen to decimal products"))
        .filter(col("n") > 1 &&
          col("n") * col("sxx") > col("sx") * col("sx") &&
          col("n") * col("syy") > col("sy") * col("sy"))
        .select(col("event_type"), col("lag_k"), col("n"),
          r4d((col("n") * col("sxy") - col("sx") * col("sy")).cast("double")
            / (sqrt((col("n") * col("sxx") - col("sx") * col("sx"))
                .cast("double"))
              * sqrt((col("n") * col("syy") - col("sy") * col("sy"))
                .cast("double")))).as("acf"))
        .orderBy("event_type", "lag_k")
    }),

    // TIME-BOUNDED FUNNEL — funnel_stages with conversion DEADLINES,
    // the form growth teams actually ship (click within 24 h of the
    // first view, purchase within 72 h of that click; an unbounded
    // funnel credits conversions months later). Stage anchors chain —
    // each window opens at the PREVIOUS stage's qualifying event — so
    // this is not expressible as three independent min-filters.
    //
    // Scale shape: ONE user_id exchange. Each user folds to (first
    // view, sorted click-ms list, sorted purchase-ms list) in a single
    // partial-aggregating groupBy; the chained deadlines then resolve
    // map-side with array filter/min higher-order functions (codegen,
    // no UDF), and the final global roll-up is a handful of rows. The
    // per-user arrays are bounded by that user's event count — the
    // same per-entity bound every sessionize/funnel key carries; the
    // oracle spells the identical semantics as three dependent
    // min-joins. All timestamps integer ms; counts exact.
    "funnel_conversion_window" -> ((s, dir) => {
      val e = events(s, dir).select(col("user_id"), col("event_type"),
        unix_millis(col("ts").cast("timestamp")).as("ms"))
      val u = e.groupBy("user_id").agg(
        min(when(col("event_type") === "view", col("ms"))).as("v"),
        sort_array(collect_list(
          when(col("event_type") === "click", col("ms")))).as("cs"),
        sort_array(collect_list(
          when(col("event_type") === "purchase", col("ms")))).as("ps"))
      val staged = u
        .withColumn("c", array_min(filter(col("cs"),
          x => x >= col("v") && x <= col("v") + lit(86400000L))))
        .withColumn("p", array_min(filter(col("ps"),
          x => x >= col("c") && x <= col("c") + lit(259200000L))))
      staged.agg(
          count(col("v")).as("n_view"),
          count(col("c")).as("n_click_24h"),
          count(col("p")).as("n_purchase_72h"))
        .select(col("n_view"), col("n_click_24h"), col("n_purchase_72h"),
          r4d(col("n_click_24h").cast("double")
            / col("n_view").cast("double")).as("cvr_click"),
          r4d(col("n_purchase_72h").cast("double")
            / col("n_view").cast("double")).as("cvr_purchase"))
    }),

    // WEEKLY RANK MOVERS — part revenue rank this week vs last, the
    // "movers and shakers" dashboard (merchandising watches rank
    // DELTAS, not raw revenue — a #40 → #12 jump is the signal). Ranks
    // are per-week dense orderings (revenue cents desc, part — total
    // order, integer exact); the delta joins consecutive weeks via a
    // lag over the part timeline with an explicit week-continuity
    // check (a part absent last week has no delta, not a fake one).
    // Restricted to this-week rank ≤ 20 — the list a human reads.
    // Two window partitionings (week for the rank, part for the lag),
    // each over the |weeks|×|parts| pre-agg, never raw lineitem.
    "topk_rank_delta" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val wk = t(s, dir, "lineitem")
        .select(col("l_partkey").as("part"),
          expr("unix_millis(cast(l_shipdate as timestamp)) div 86400000" +
            " div 7").as("week"),
          round(col("l_extendedprice") * 100).cast("long").as("cents"))
        .groupBy("week", "part").agg(sum(col("cents")).as("rev"))
      val rw = Window.partitionBy(col("week"))
        .orderBy(col("rev").desc, col("part"))
      val pw = Window.partitionBy(col("part")).orderBy(col("week"))
      wk.withColumn("rnk", row_number().over(rw).cast("long"))
        .withColumn("prev_rnk", lag(col("rnk"), 1).over(pw))
        .withColumn("prev_week", lag(col("week"), 1).over(pw))
        .filter(col("rnk") <= 20)
        .select(col("week"), col("part"), col("rnk"),
          when(col("prev_week") === col("week") - 1, col("prev_rnk"))
            .as("prev_rnk"),
          when(col("prev_week") === col("week") - 1,
            col("prev_rnk") - col("rnk")).as("rank_delta"))
        .orderBy("week", "rnk")
    }),

    // SURVIVAL CURVE — share of users still active k days after first
    // being seen (activity-span Kaplan-Meier without censoring: the
    // fixture window is closed, so lifespan = last − first is fully
    // observed). THE churn curve retention teams plot; its k = 7 point
    // is cohort_retention's week-1 number. Per-user span is one
    // exchange; survivors(k) is a SUFFIX SUM over the |lifespans|
    // histogram (domain-bounded — never a per-user × per-k explode),
    // zero-filled onto the k spine so the curve has no holes. All
    // integers until the final share.
    "agg_survival_curve" -> ((s, dir) => {
      lifespanSurvivors(s, dir, "n_survivors")._2
        .select(col("k"), col("n_survivors"),
          r4d(col("n_survivors").cast("double")
            / col("n_users").cast("double")).as("survival"))
        .orderBy("k")
    }),

    // MEDIAN SURVIVAL TIME (§2.186) — the one-row readout clinicians
    // and retention teams quote from agg_survival_curve's table: the
    // first lifespan day where ≤ half the cohort survives (exact
    // integer test 2·n_survivors ≤ n_users — the curve's rationals
    // never leave integers), plus the survival shares at the 7/14/28
    // day horizons. Same lifespan histogram + suffix-sum spine as
    // the parent key; three bounded lookups and one threshold scan.
    "agg_median_survival_time" -> ((s, dir) => {
      val (bounds, survivors) = lifespanSurvivors(s, dir, "ns")
      val surv = survivors.localCheckpoint(true)
      val med = surv.filter(col("ns") * 2 <= col("n_users"))
        .agg(min(col("k")).as("median_lifespan_days"))
      def at(h: Int, nm: String) =
        surv.filter(col("k") === h).agg(max(col("ns")).as(nm))
      bounds.select(col("n_users")).crossJoin(med)
        .crossJoin(at(7, "ns7")).crossJoin(at(14, "ns14"))
        .crossJoin(at(28, "ns28"))
        .select(col("n_users"), col("median_lifespan_days"),
          r4d(coalesce(col("ns7"), lit(0L)).cast("double")
            / col("n_users").cast("double")).as("s7"),
          r4d(coalesce(col("ns14"), lit(0L)).cast("double")
            / col("n_users").cast("double")).as("s14"),
          r4d(coalesce(col("ns28"), lit(0L)).cast("double")
            / col("n_users").cast("double")).as("s28"))
    }),

    // DORMANCY BUCKETS — users by days since last activity in weekly
    // bands (the reactivation-campaign segmentation: 0-6 = active,
    // 28+ = churned-for-practical-purposes). Recency measured against
    // the corpus max day (the RFM convention); bucket edges are
    // integer comparisons, shares one double each.
    "agg_dormancy_buckets" -> ((s, dir) => {
      val e = events(s, dir)
        .select(col("user_id"), epochDay("ts").as("day"))
      val u = e.crossJoin(broadcast(e.agg(max(col("day")).as("hi"))))
        .groupBy("user_id")
        .agg(min(col("hi") - col("day")).as("dormant_days"))
      val b = u.select(
        when(col("dormant_days") <= 6, "0-6")
          .when(col("dormant_days") <= 13, "7-13")
          .when(col("dormant_days") <= 20, "14-20")
          .when(col("dormant_days") <= 27, "21-27")
          .otherwise("28+").as("bucket"))
        .groupBy("bucket").agg(count(lit(1)).as("n_users"))
      b.crossJoin(broadcast(b.agg(sum(col("n_users")).as("total"))))
        .select(col("bucket"), col("n_users"),
          r4d(col("n_users").cast("double")
            / col("total").cast("double")).as("share"))
        .orderBy("bucket")
    }),

    // BASELINE FORECAST BACKTEST — MAE of the two canonical naive
    // forecasters (ŷₜ = yₜ₋₁ and the seasonal ŷₜ = yₜ₋₇) per type:
    // the floor every real forecasting model must beat, and the
    // cheapest quantitative answer to "is this series momentum-driven
    // or weekly-cyclic" (ts_autocorr's question, in forecast-error
    // units). Scored only on days where BOTH predictors are defined —
    // same n, so the winner comparison is on EXACT integer error
    // sums, no division involved; the MAEs themselves are one double
    // division each, r4d. Zero-filled spine; both lags in ONE window
    // node.
    "ts_forecast_baseline_mae" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val full = zeroFilledDaily(s, dir)
      val w = Window.partitionBy(col("event_type")).orderBy(col("day"))
      full
        .withColumn("y1", lag(col("y"), 1).over(w))
        .withColumn("y7", lag(col("y"), 7).over(w))
        .filter(col("y1").isNotNull && col("y7").isNotNull)
        .groupBy("event_type")
        .agg(count(lit(1)).as("n_scored"),
          sum(abs(col("y") - col("y1"))).as("se1"),
          sum(abs(col("y") - col("y7"))).as("se7"))
        .select(col("event_type"), col("n_scored"),
          r4d(col("se1").cast("double") / col("n_scored").cast("double"))
            .as("mae_naive"),
          r4d(col("se7").cast("double") / col("n_scored").cast("double"))
            .as("mae_seasonal"),
          when(col("se7") < col("se1"), lit("seasonal"))
            .otherwise(lit("naive")).as("winner"))
        .orderBy("event_type")
    }),

    // TOP EVENT TRIGRAMS — the 3-step extension of path_transitions'
    // Markov matrix: the most common (a → b → c) user journeys, the
    // sequence-mining-lite view UX funnels and bot-detection rules
    // read. Both leads ride ONE user_id window; the path count
    // partial-aggregates to ≤ |types|³ rows per partition
    // (domain-bounded), and the top-10 tail collapses to
    // TakeOrderedAndProject under the full (n desc, path) total
    // order.
    "path_trigrams_topk" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("ms"), col("event_id"))
      events(s, dir)
        .select(col("user_id"), col("event_id"), col("event_type"),
          unix_millis(col("ts").cast("timestamp")).as("ms"))
        .withColumn("t2", lead(col("event_type"), 1).over(w))
        .withColumn("t3", lead(col("event_type"), 2).over(w))
        .filter(col("t2").isNotNull && col("t3").isNotNull)
        .groupBy(col("event_type").as("t1"), col("t2"), col("t3"))
        .agg(count(lit(1)).as("n"))
        .orderBy(col("n").desc, col("t1"), col("t2"), col("t3"))
        .limit(10)
    }),

    // TPC-H Q14 — promotion effect: the CONDITIONAL-AGGREGATE-RATIO
    // member (promo share of revenue in a month — two Det.dsum
    // branches over one fact⋈dim join, then one ratio). Both sums are
    // already 4dp-exact doubles, so the ratio is a single
    // IEEE-identical division; part broadcasts (pinned).
    "sql_tpch_q14" -> ((s, dir) => {
      s.sql(s"""SELECT
        |  ROUND(100.0 * promo / total * 10000.0) / 10000.0
        |    AS promo_revenue_pct,
        |  promo AS promo_revenue, total AS total_revenue
        |FROM (SELECT
        |  ${sqlSum("CASE WHEN p_type = 'PROMO' THEN l_extendedprice * (1 - l_discount) END")}
        |    AS promo,
        |  ${sqlSum("l_extendedprice * (1 - l_discount)")} AS total
        |FROM parquet.`$dir/lineitem.parquet`
        |JOIN parquet.`$dir/part.parquet` ON l_partkey = p_partkey
        |WHERE l_shipdate >= DATE '1996-09-01'
        |  AND l_shipdate < DATE '1996-10-01')""".stripMargin)
    }),

    // CORRELATED EXISTS — the SQL-surface form of the semi join (the
    // DataFrame left_semi key proves the operator; this proves the
    // PARSER/DECORRELATION path: a correlated EXISTS subquery must
    // rewrite to a semi join, pinned — naive per-row execution of the
    // subquery is the quadratic trap). NOT EXISTS rides the same plan
    // as anti; one key covers the EXISTS side.
    // SCALAR-AGG SUBQUERY THRESHOLDS (§2.189) — uncorrelated scalar
    // subqueries as inline expression operands (the SQL surface next
    // to EXISTS/IN; Spark does not implement quantified > ALL/ANY,
    // so the equivalent max/min scalar forms ARE the idiom):
    // customers above every per-status mean order value
    // (> the max of the three) and above at least one (> the min),
    // counted in one pass. The subquery means are exact-cent sums
    // divided once — bit-identical doubles at each compare.
    "sql_scalar_subquery_thresholds" -> ((s, dir) => {
      s.sql(s"""SELECT
        |  count(*) AS n_customers,
        |  count_if(c_acctbal > (
        |    SELECT max(m) FROM (
        |      SELECT CAST(sum(CAST(round(o_totalprice * 100)
        |          AS BIGINT)) AS DOUBLE) / count(*) / 100 AS m
        |      FROM parquet.`$dir/orders.parquet`
        |      GROUP BY o_orderstatus))) AS n_above_all,
        |  count_if(c_acctbal > (
        |    SELECT min(m) FROM (
        |      SELECT CAST(sum(CAST(round(o_totalprice * 100)
        |          AS BIGINT)) AS DOUBLE) / count(*) / 100 AS m
        |      FROM parquet.`$dir/orders.parquet`
        |      GROUP BY o_orderstatus))) AS n_above_any
        |FROM parquet.`$dir/customer.parquet`""".stripMargin)
    }),

    "sql_exists_correlated" -> ((s, dir) => {
      s.sql(s"""SELECT c_custkey, c_name
        |FROM parquet.`$dir/customer.parquet`
        |WHERE EXISTS (SELECT 1 FROM parquet.`$dir/orders.parquet`
        |  WHERE o_custkey = c_custkey AND o_totalprice > 300000)
        |ORDER BY c_custkey""".stripMargin)
    }),

    // TPC-H Q6 — the forecasting-revenue-change flat scan: no join,
    // no group — the benchmark's pure predicate-pushdown/codegen
    // measure (every predicate must reach the parquet scan, pinned).
    // The discount band compares 2dp doubles against literals —
    // identical IEEE comparisons in both engines.
    "sql_tpch_q6" -> ((s, dir) => {
      s.sql(s"""SELECT ${sqlSum("l_extendedprice * l_discount")} AS revenue
        |FROM parquet.`$dir/lineitem.parquet`
        |WHERE l_shipdate >= DATE '1996-01-01'
        |  AND l_shipdate < DATE '1997-01-01'
        |  AND l_discount BETWEEN 0.05 AND 0.07
        |  AND l_quantity < 24""".stripMargin)
    }),

    // DAILY ERROR RATE with WILSON INTERVAL — the SLO/reliability
    // read: raw error share per day PLUS the 95% Wilson score bounds,
    // which stay honest at small n where the naive ±1.96·√(p(1−p)/n)
    // interval collapses or escapes [0, 1] (the reason SRE burn-rate
    // alerts use Wilson). Counts are exact integers; the interval is
    // a fixed sequence of IEEE double ops (z = 1.96 literal) spelled
    // identically in both engines, r4d at the edge. One day-keyed
    // two-phase agg — nothing but the calendar leaves the first
    // exchange.
    "ts_error_rate_wilson" -> ((s, dir) => {
      val z = 1.96
      val d = events(s, dir)
        .select(epochDay("ts").as("day"),
          (col("event_type") === "error").cast("long").as("is_err"))
        .groupBy("day")
        .agg(count(lit(1)).as("n"), sum(col("is_err")).as("e"))
        .withColumn("nn", col("n").cast("double"))
        .withColumn("p", col("e").cast("double") / col("nn"))
        .withColumn("den", lit(1.0) + lit(z * z) / col("nn"))
        .withColumn("ctr", col("p") + lit(z * z) / (lit(2.0) * col("nn")))
        .withColumn("rad", lit(z) * sqrt(
          col("p") * (lit(1.0) - col("p")) / col("nn")
            + lit(z * z) / (lit(4.0) * col("nn") * col("nn"))))
      d.select(col("day"), col("n").as("n_events"), col("e").as("n_errors"),
          r4d(col("p")).as("err_rate"),
          r4d((col("ctr") - col("rad")) / col("den")).as("wilson_lo"),
          r4d((col("ctr") + col("rad")) / col("den")).as("wilson_hi"))
        .orderBy("day")
    }),

    // TPC-H Q7 — volume shipping between two nations: the DISJUNCTIVE
    // join-predicate member of the TPC-H set ((n1, n2) ∈ {(A, B),
    // (B, A)} — a filter Catalyst must keep as a residual over the
    // two broadcast nation legs, not a cartesian); supplier and
    // customer nations resolve through separate copies of the same
    // dim. Fixture nations are synthetic (NATION_12 / NATION_10 stand
    // in for the spec's FRANCE/GERMANY).
    "sql_tpch_q7" -> ((s, dir) => {
      s.sql(s"""SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
        |  CAST(year(l_shipdate) AS BIGINT) AS l_year,
        |  ${sqlSum("l_extendedprice * (1 - l_discount)")} AS revenue
        |FROM parquet.`$dir/supplier.parquet`
        |JOIN parquet.`$dir/lineitem.parquet` ON s_suppkey = l_suppkey
        |JOIN parquet.`$dir/orders.parquet` ON o_orderkey = l_orderkey
        |JOIN parquet.`$dir/customer.parquet` ON c_custkey = o_custkey
        |JOIN parquet.`$dir/nation.parquet` n1 ON s_nationkey = n1.n_nationkey
        |JOIN parquet.`$dir/nation.parquet` n2 ON c_nationkey = n2.n_nationkey
        |WHERE ((n1.n_name = 'NATION_12' AND n2.n_name = 'NATION_10')
        |    OR (n1.n_name = 'NATION_10' AND n2.n_name = 'NATION_12'))
        |  AND l_shipdate >= DATE '1996-01-01'
        |  AND l_shipdate < DATE '1998-01-01'
        |GROUP BY n1.n_name, n2.n_name, year(l_shipdate)
        |ORDER BY supp_nation, cust_nation, l_year""".stripMargin)
    }),

    // DAILY GROWTH RATES — day-over-day and week-over-week percent
    // change of daily volume per type, the first derivative every
    // metrics page shows next to the raw series (DoD reads momentum,
    // WoW cancels the weekly cycle ts_dow_seasonality profiles). Over
    // the zero-filled spine; a zero baseline emits NULL (growth from
    // nothing is undefined, not infinite); both lags ride ONE window
    // node. The ratio is one double division + r4d — numerator and
    // denominator are exact integer counts.
    "ts_growth_rates" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val full = zeroFilledDaily(s, dir)
      val w = Window.partitionBy(col("event_type")).orderBy(col("day"))
      def pct(prev: org.apache.spark.sql.Column) =
        when(prev > 0, r4d((col("y") - prev).cast("double")
          * lit(100.0) / prev.cast("double")))
      full
        .withColumn("y1", lag(col("y"), 1).over(w))
        .withColumn("y7", lag(col("y"), 7).over(w))
        .select(col("event_type"), col("day"), col("y"),
          pct(col("y1")).as("dod_pct"), pct(col("y7")).as("wow_pct"))
        .orderBy("event_type", "day")
    }),

    // RFM SEGMENTATION — recency/frequency/monetary scoring, the
    // marketing-analytics classic that buckets every customer 1–5 on
    // each axis and reads the concatenated code as a segment
    // ("5-5-5" = champions, "1-4-5" = at-risk big spender). Scores
    // come from THRESHOLD assignment against the four exact
    // 20/40/60/80 percentiles of each metric (broadcast back — one
    // |1|-row statistics table), NOT from a global ntile window: ntile
    // is a single-partition sort of every customer, the one shape that
    // cannot scale (the GlobalRank scaladoc's argument); thresholds
    // keep scoring map-side. Boundary contract: score = 1 + #(metric >
    // threshold_k) — ties on a threshold take the lower bucket,
    // identical in both engines on these integer metrics. Recency
    // inverts (smaller days-since = better = 5).
    "agg_rfm_segments" -> ((s, dir) => {
      val e = events(s, dir).select(col("user_id"),
        epochDay("ts").as("day"),
        when(col("event_type") === "purchase",
          round(col("value") * 100).cast("long")).as("cents"))
      val hi = broadcast(e.agg(max(col("day")).as("hi")))
      val u = e.crossJoin(hi).groupBy("user_id")
        .agg(min(col("hi") - col("day")).as("recency"),
          count(lit(1)).as("frequency"),
          coalesce(sum(col("cents")), lit(0L)).as("monetary"))
      def q(c: String) = Seq(0.2, 0.4, 0.6, 0.8).zipWithIndex.map {
        case (p, i) => percentile(col(c), lit(p)).as(s"${c}_q${i + 1}")
      }
      val th = broadcast(u.agg(q("recency").head,
        q("recency").tail ++ q("frequency") ++ q("monetary"): _*))
      def score(c: String, invert: Boolean) = {
        val raw = (1 to 4).map(i =>
          when(col(c).cast("double") > col(s"${c}_q$i"), 1L)
            .otherwise(0L)).reduce(_ + _) + 1L
        if (invert) lit(6L) - raw else raw
      }
      u.crossJoin(th)
        .select(col("user_id"), col("recency"), col("frequency"),
          r4d(col("monetary").cast("double") / lit(100.0)).as("monetary"),
          score("recency", invert = true).as("r_score"),
          score("frequency", invert = false).as("f_score"),
          score("monetary", invert = false).as("m_score"))
        .withColumn("segment", concat_ws("-", col("r_score"),
          col("f_score"), col("m_score")))
        .orderBy("user_id")
    }),

    // MAD-BASED ANOMALY DAYS — the ROBUST member of the anomaly family
    // (ts_anomaly_zscore thresholds on mean/stddev, which the anomaly
    // itself inflates — one 100× spike day drags the mean up and can
    // mask a second spike; median/MAD have breakdown point 0.5, so the
    // threshold barely moves). Flag days where |y − median| > 3·MAD
    // over the ZERO-FILLED spine. Both statistics are exact
    // interpolated percentiles (the agg_mad machinery applied to the
    // calendar-bounded daily table — group state is |days|, not
    // corpus); the deviation, threshold product and compare are
    // spelled identically in both engines. MAD = 0 (constant series)
    // flags nothing via the explicit guard rather than dividing.
    //
    // Scale: corpus → |types|×|days| in one partial-agg exchange; the
    // two percentile aggs and both broadcast join-backs operate on
    // that bounded table only.
    "ts_anomaly_mad" -> ((s, dir) => {
      val full = zeroFilledDaily(s, dir)
      val med = full.groupBy("event_type")
        .agg(percentile(col("y"), lit(0.5)).as("med"))
      val dev = full.join(broadcast(med), Seq("event_type"))
        .withColumn("dev", abs(col("y").cast("double") - col("med")))
      val mad = dev.groupBy("event_type")
        .agg(percentile(col("dev"), lit(0.5)).as("mad"))
      dev.join(broadcast(mad), Seq("event_type"))
        .select(col("event_type"), col("day"), col("y"),
          r4d(col("dev")).as("dev"),
          when(col("mad") > 0.0 && col("dev") > lit(3.0) * col("mad"), 1L)
            .otherwise(0L).as("outlier"))
        .orderBy("event_type", "day")
    }),

    // NEW vs RETURNING split of daily actives — the growth-accounting
    // identity (DAU = acquisition + retention) every product dashboard
    // leads with. A user's first-seen day assigns NEW exactly once;
    // everything after is RETURNING. All integer counts off the
    // distinct (user, day) grid; one double share at the edge.
    //
    // Scale: ONE user_id exchange — each user folds to their distinct
    // day SET (collect_set partial-aggregates map-side; per-entity
    // bounded, the funnel convention), first-seen is the array min,
    // and the explode back out is map-side on the same partitioning.
    // The join spelling (distinct grid ⋈ first-seen) would cost two
    // more exchanges for identical output — the oracle spells it that
    // way, which is exactly why the fold is worth pinning (2 hash
    // exchanges total).
    "ts_new_vs_returning" -> ((s, dir) => {
      val u = events(s, dir)
        .select(col("user_id"), epochDay("ts").as("day"))
        .groupBy("user_id").agg(collect_set(col("day")).as("days"))
      u.select(array_min(col("days")).as("fday"),
          explode(col("days")).as("day"))
        .groupBy("day")
        .agg(count(lit(1)).as("n_active"),
          sum(when(col("day") === col("fday"), 1L).otherwise(0L))
            .as("n_new"))
        .select(col("day"), col("n_active"), col("n_new"),
          (col("n_active") - col("n_new")).as("n_returning"),
          r4d(col("n_new").cast("double") / col("n_active").cast("double"))
            .as("new_share"))
        .orderBy("day")
    }),

    // DAU/WAU STICKINESS — the engagement-frequency ratio (what share
    // of a week's actives show up on a given day) composing the two
    // exact distinct surfaces: DAU off the (user, day) grid, WAU by
    // the agg_wau_sliding_distinct trailing-window contribution
    // explode (each active day contributes to its ≤7 trailing
    // window-days, clipped by the broadcast corpus bound BEFORE the
    // dedup exchanges — the sibling key's device). Emitted on the
    // full lo..hi spine with DAU 0 ⇒ stickiness 0.0; WAU = 0 (fully
    // quiet week) emits NULL stickiness rather than a division.
    "ts_stickiness_ratio" -> ((s, dir) => {
      val e = events(s, dir)
        .select(col("user_id"), epochDay("ts").as("day"))
      val bounds = e.agg(min(col("day")).as("lo"), max(col("day")).as("hi"))
      val ud = e.distinct()
      val dau = ud.groupBy("day").agg(count(lit(1)).as("dau"))
      val wau = ud
        .select(col("user_id"),
          explode(sequence(col("day"), col("day") + 6)).as("wday"))
        .join(broadcast(bounds.select(col("hi"))), col("wday") <= col("hi"))
        .drop("hi")
        .distinct()
        .groupBy("wday").agg(count(lit(1)).as("wau"))
      val spine = bounds
        .select(explode(sequence(col("lo"), col("hi"))).as("day"))
      spine
        .join(dau, Seq("day"), "left")
        .join(wau.withColumnRenamed("wday", "day"), Seq("day"), "left")
        .select(col("day"), coalesce(col("dau"), lit(0L)).as("dau"),
          coalesce(col("wau"), lit(0L)).as("wau"),
          when(col("wau") > 0, r4d(coalesce(col("dau"), lit(0L))
            .cast("double") / col("wau").cast("double"))).as("stickiness"))
        .orderBy("day")
    }),

    // TIME-TO-CONVERT PERCENTILES — the funnel family's latency view
    // (funnel_conversion_window counts WHO converts inside a deadline;
    // this reads HOW LONG conversion takes — the number that sets the
    // deadline). Per user: first view, then the first purchase AT OR
    // AFTER it via the funnel key's sorted-array fold (ONE user_id
    // exchange, chained stages map-side); the global p50/p95 of the
    // integer-ms latencies are exact interpolated percentiles over
    // |converted users| rows, reported in minutes (one division
    // INSIDE the percentile input is avoided — percentile runs on raw
    // ms, the minutes conversion is the final double op, r4d).
    "agg_time_to_convert" -> ((s, dir) => {
      val e = events(s, dir).select(col("user_id"), col("event_type"),
        unix_millis(col("ts").cast("timestamp")).as("ms"))
      val u = e.groupBy("user_id").agg(
        min(when(col("event_type") === "view", col("ms"))).as("v"),
        sort_array(collect_list(
          when(col("event_type") === "purchase", col("ms")))).as("ps"))
      u.withColumn("p", array_min(filter(col("ps"), x => x >= col("v"))))
        .filter(col("p").isNotNull)
        .withColumn("lat", col("p") - col("v"))
        .agg(count(lit(1)).as("n_converted"),
          r4d(percentile(col("lat"), lit(0.5)) / lit(60000.0))
            .as("p50_minutes"),
          r4d(percentile(col("lat"), lit(0.95)) / lit(60000.0))
            .as("p95_minutes"))
    }),

    // COHORT LTV CURVE — cumulative purchase revenue by signup cohort
    // × account age, the money companion of cohort_retention (retention
    // reads WHO came back; LTV reads what coming back was WORTH — the
    // payback-period curve growth finance actually plots). Cohort =
    // each user's first-seen day; age = event day − cohort day.
    // Everything is INTEGER-EXACT: revenue in cents (long), per-cell
    // sums exact, and the cumulative-over-age running sum is a long
    // window sum — no decimal frames, no float accumulation; one
    // double division to dollars at the edge (r4d). Ages with no
    // purchases don't emit a row (observed-ages contract, like the
    // sketch WAU's emitted-days note); the curve is still monotone
    // because cum carries across the gap.
    //
    // Scale: one user_id exchange for the first-seen day, the join
    // back rides the same key, then the (cohort, age) cells are
    // calendar²-bounded — the window stage never sees raw events.
    "agg_cohort_ltv" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val e = events(s, dir).select(col("user_id"),
        epochDay("ts").as("day"), col("event_type"),
        round(col("value") * 100).cast("long").as("cents"))
      val first = e.groupBy("user_id").agg(min(col("day")).as("cohort_day"))
      val cells = e.join(first, Seq("user_id"))
        .filter(col("event_type") === "purchase")
        .groupBy(col("cohort_day"), (col("day") - col("cohort_day")).as("age_days"))
        .agg(count(lit(1)).as("n_purchases"), sum(col("cents")).as("rev"))
      val w = Window.partitionBy(col("cohort_day")).orderBy(col("age_days"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      cells.withColumn("cum_cents", sum(col("rev")).over(w))
        .select(col("cohort_day"), col("age_days"), col("n_purchases"),
          r4d(col("cum_cents").cast("double") / lit(100.0))
            .as("cum_revenue"))
        .orderBy("cohort_day", "age_days")
    }),

    // SESSION DURATION/DEPTH STATS per user — the engagement rollup on
    // top of ts_sessionize's raw sessions (product dashboards read
    // "avg session length" and "events per session", not session
    // rows). Sessions come from the SAME 30-min lag rule — one user_id
    // exchange hosts the lag flag, the running session id, and both
    // rollup levels (session agg reuses the window partitioning; the
    // user agg reuses the session agg's). Durations are integer ms end
    // to end, so every sum is exact; the two averages are single
    // double divisions, r4d at the edge.
    "ts_session_stats" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("ms"), col("event_id"))
      val sess = events(s, dir)
        .select(col("user_id"), col("event_id"),
          unix_millis(col("ts").cast("timestamp")).as("ms"))
        .withColumn("prev_ms", lag(col("ms"), 1).over(w))
        .withColumn("new_s", when(col("prev_ms").isNull ||
          col("ms") - col("prev_ms") > 1800000L, 1L).otherwise(0L))
        .withColumn("session_id", sum(col("new_s")).over(
          w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        .groupBy(col("user_id"), col("session_id"))
        .agg(count(lit(1)).as("ne"),
          (max(col("ms")) - min(col("ms"))).as("dur"))
      sess.groupBy("user_id")
        .agg(count(lit(1)).as("n_sessions"),
          sum(col("ne")).as("n_events"),
          max(col("dur")).as("max_dur_ms"),
          sum(col("dur")).as("sum_dur"))
        .select(col("user_id"), col("n_sessions"), col("n_events"),
          col("max_dur_ms"),
          r4d(col("sum_dur").cast("double")
            / col("n_sessions").cast("double")).as("avg_dur_ms"),
          r4d(col("n_events").cast("double")
            / col("n_sessions").cast("double")).as("events_per_session"))
        .orderBy("user_id")
    }),

    // INTER-EVENT GAP PERCENTILES per user — the cadence profile under
    // every engagement/churn model (median gap = typical rhythm, p95 =
    // the silence that predicts drop-off; sessionize's 30-min constant
    // should really be read off this table). Gaps are integer ms from
    // one lag() on the sessionize ordering; the two percentiles are
    // exact interpolated (the agg_percentiles convention — Spark
    // percentile() ≡ DuckDB quantile_cont, r4d at the edge). Per-user
    // exact percentile state is bounded by that user's event count —
    // the per-entity bound; open-ended groups swap to the
    // tdigest/GK sketch keys (the agg_mad note).
    "ts_gap_percentiles" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("ms"), col("event_id"))
      events(s, dir)
        .select(col("user_id"), col("event_id"),
          unix_millis(col("ts").cast("timestamp")).as("ms"))
        .withColumn("gap", col("ms") - lag(col("ms"), 1).over(w))
        .filter(col("gap").isNotNull)
        .groupBy("user_id")
        .agg(count(lit(1)).as("n_gaps"),
          r4d(percentile(col("gap"), lit(0.5))).as("p50_gap_ms"),
          r4d(percentile(col("gap"), lit(0.95))).as("p95_gap_ms"))
        .orderBy("user_id")
    }),

    // BURST DAYS — one-sided spike detection next to ts_level_shift's
    // two-sided mean shifts: a day bursts when its volume more than
    // doubles the trailing-week average, the standard ops-alerting
    // rule. The comparison is ALL integers (7·y > 2·Σprev7 — no float
    // rate, no threshold ulps), the trailing frame EXCLUDES the
    // current day (a spike must not dilute its own baseline), and
    // days without a full 7-day history emit flag 0 via the frame
    // count — never a NULL reaching the compare. Zero-filled spine so
    // a quiet week before a spike reads as the burst it is; one
    // (type, day) agg + ONE window node hosting both frames.
    "ts_burst_days" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val full = zeroFilledDaily(s, dir)
      val wf = Window.partitionBy(col("event_type")).orderBy(col("day"))
        .rowsBetween(-7, -1)
      full
        .withColumn("s7", sum(col("y")).over(wf))
        .withColumn("n7", count(col("y")).over(wf))
        .select(col("event_type"), col("day"), col("y"),
          coalesce(col("s7"), lit(0L)).as("sum_prev7"),
          when(col("n7") === 7 && col("y") * 7 > col("s7") * 2, 1L)
            .otherwise(0L).as("burst"))
        .orderBy("event_type", "day")
    }),

    // DAY-OF-WEEK SEASONALITY INDEX per event type — the cyclic
    // profile that complements ts_autocorr's lag-7 scalar (autocorr
    // says THAT a weekly cycle exists; this says WHICH days carry it):
    // idx(dow) = (events/day on that weekday) ÷ (events/day overall),
    // over the ZERO-FILLED spine so quiet weekdays read < 1.0 instead
    // of vanishing. The ratio-of-rates is computed as one exact
    // integer cross-product ratio (ne·td)/(nd·te) — no intermediate
    // float rates, one double divide at the edge, r4d. Weekday from
    // pure modular arithmetic on the epoch day ((day+4) % 7, 0 =
    // Sunday — day 0 is a Thursday): identical in both engines, no
    // timezone-sensitive date functions in the compare path.
    //
    // Scale: calendar-bounded after the first partial-aggregating
    // exchange (|types|×|days| rows); the per-type totals ride a
    // 7-row/partition window — no second scan, no join.
    "ts_dow_seasonality" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val full = zeroFilledDaily(s, dir)
        .withColumn("dow", (col("day") + 4) % 7)
      val g = full.groupBy("event_type", "dow")
        .agg(count(lit(1)).as("n_days"),
          sum(col("y").cast("decimal(38,0)")).as("ne"))
      val w = Window.partitionBy(col("event_type"))
      g.withColumn("td", sum(col("n_days")).over(w))
        .withColumn("te", sum(col("ne")).over(w))
        .filter(col("te") > 0)
        .select(col("event_type"), col("dow"), col("n_days"),
          col("ne").cast("long").as("n_events"),
          r4d((col("ne") * col("td")).cast("double")
            / (col("n_days") * col("te")).cast("double")).as("idx"))
        .orderBy("event_type", "dow")
    }),

    // ROLLING CORRELATION (§2.60) — trailing-14-day Pearson correlation
    // between the click and purchase daily series on the shared
    // zero-filled spine: the metric-covariation read (are purchases
    // tracking clicks this fortnight, or decoupling?) that pairs-trading
    // and funnel-health dashboards both draw. EXACT integer moments:
    // the five windowed sums (Σx, Σy, Σxy, Σx², Σy²) are integer
    // counts, the n·Σxy − Σx·Σy numerators stay integers (bounded far
    // below 2⁶³ by the 14-day frame), and the ONE double op is the
    // final ÷√ — r4d at the edge; zero-variance frames emit NULL.
    // Calendar-bounded global window (documented exception, the
    // ts_ewma convention).
    // ROLLING OLS SLOPE (§2.72) — the trailing-14-day trend per type:
    // "is this metric accelerating RIGHT NOW", the dashboard
    // complement of the global agg_trend_slope and the trailing
    // window sibling of ts_rolling_corr. Five integer window sums on
    // the zero-filled spine, integer numerator/denominator
    // (nΣxy − ΣxΣy over nΣxx − Σx²), one double division at the
    // edge; n = 1 frames have zero x-variance → NULL by the guard,
    // identically in both engines. Per-type windows over O(days)
    // rows — never the event table.
    "ts_rolling_slope" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy(col("event_type")).orderBy(col("day"))
        .rowsBetween(-13, 0)
      zeroFilledDaily(s, dir)
        .withColumn("n", count(lit(1)).over(w))
        .withColumn("sx", sum(col("day")).over(w))
        .withColumn("sy", sum(col("y")).over(w))
        .withColumn("sxy", sum(col("day") * col("y")).over(w))
        .withColumn("sxx", sum(col("day") * col("day")).over(w))
        .select(col("event_type"), col("day"), col("y"),
          when(col("n") * col("sxx") - col("sx") * col("sx") > 0,
            r4d((col("n") * col("sxy") - col("sx") * col("sy"))
              .cast("double")
              / (col("n") * col("sxx") - col("sx") * col("sx"))
                .cast("double"))).as("slope14"))
        .orderBy("event_type", "day")
    }),

    // WAPE / sMAPE (§2.68) — the other two forecast-accuracy metrics
    // ops teams quote next to ts_forecast_baseline_mae (MAE is
    // scale-bound; WAPE = Σ|e|/Σy normalizes by volume, sMAPE bounds
    // each day's contribution at 2). Seasonal-naive lag-7 forecast on
    // the shared zero-filled spine. Determinism: WAPE is a ratio of
    // exact integer sums (one double division); sMAPE's per-row terms
    // are doubles, so each term is FIXED to decimal(38,12) before the
    // sum — the decimal sum is order-independent where a raw double
    // sum would drift with shuffle order (the Det.davg device at
    // 12dp). Both-zero days contribute 0 by the standard convention
    // (|e| is 0 too), CASE-identical in both engines; Σy = 0 → NULL
    // WAPE via the raw division.
    "ts_forecast_wape_smape" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy(col("event_type")).orderBy(col("day"))
      val sc = zeroFilledDaily(s, dir)
        .withColumn("f", lag(col("y"), 7).over(w))
        .filter(col("f").isNotNull)
        .withColumn("term",
          when(col("y") + col("f") === 0, lit(0.0))
            .otherwise(lit(2.0) * abs(col("y") - col("f")).cast("double")
              / (col("y") + col("f")).cast("double")))
      sc.groupBy("event_type")
        .agg(count(lit(1)).as("n_scored"),
          sum(abs(col("y") - col("f"))).as("sae"),
          sum(col("y")).as("sy"),
          sum(col("term").cast("decimal(38,12)")).as("st"))
        .select(col("event_type"), col("n_scored"),
          r4d(col("sae").cast("double") / col("sy").cast("double"))
            .as("wape"),
          r4d(col("st").cast("double") / col("n_scored").cast("double"))
            .as("smape"))
        .orderBy("event_type")
    }),

    // LTTB DOWNSAMPLING (§2.66) — Largest-Triangle-Three-Buckets, the
    // standard dashboard decimation: keep ONE day per weekly bucket,
    // the one forming the largest triangle against the NEIGHBOR BUCKET
    // MEAN points — peaks and cliffs survive where naive every-7th-day
    // sampling flattens them. This is the PARALLEL variant (anchors
    // are the prev/next bucket means, not the previously-selected
    // point): classic LTTB's selected-point anchor is a sequential
    // fold, which is exactly what a distributed engine must not do —
    // the mean-anchor form is embarrassingly parallel and visually
    // equivalent. First/last buckets keep their endpoint days (LTTB
    // convention). Bucket means are exact-integer sums divided once;
    // the 2×area score is a fixed double expression spelled
    // operand-for-operand in both engines; ties → earliest day. Scale:
    // O(days) windows over the per-bucket stats, one broadcast-size
    // join back to the daily series.
    "ts_downsample_lttb" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val fl = zeroFilledDaily(s, dir)
        .withColumn("bucket", expr("day div 7"))
      val bs = fl.groupBy(col("event_type"), col("bucket"))
        .agg(count(lit(1)).as("n"), sum(col("day")).as("sx"),
          sum(col("y")).as("sy"))
        .select(col("event_type"), col("bucket"),
          (col("sx").cast("double") / col("n").cast("double")).as("mx"),
          (col("sy").cast("double") / col("n").cast("double")).as("my"))
      val wb = Window.partitionBy(col("event_type")).orderBy(col("bucket"))
      val bm = bs
        .withColumn("pmx", lag(col("mx"), 1).over(wb))
        .withColumn("pmy", lag(col("my"), 1).over(wb))
        .withColumn("nmx", lead(col("mx"), 1).over(wb))
        .withColumn("nmy", lead(col("my"), 1).over(wb))
        .select(col("event_type"), col("bucket"), col("pmx"), col("pmy"),
          col("nmx"), col("nmy"))
      val scored = fl.join(bm, Seq("event_type", "bucket"))
        .withColumn("score",
          when(col("pmx").isNull, -col("day").cast("double"))
            .when(col("nmx").isNull, col("day").cast("double"))
            .otherwise(abs(
              (col("pmx") - col("nmx"))
                * (col("y").cast("double") - col("pmy"))
                - (col("pmx") - col("day").cast("double"))
                  * (col("nmy") - col("pmy")))))
      val wr = Window.partitionBy(col("event_type"), col("bucket"))
        .orderBy(col("score").desc, col("day"))
      scored.withColumn("rk", row_number().over(wr)).filter(col("rk") === 1)
        .select(col("event_type"), col("bucket"), col("day").as("sel_day"),
          col("y"))
        .orderBy("event_type", "bucket")
    }),

    // CUSUM CHANGE-POINT (§2.63) — where did the daily level SHIFT?
    // Page's classic cumulative-sum statistic on the zero-filled
    // per-type series, argmax form: C_t = n·P_t − t·S (P_t = prefix
    // sum, S = total, n = days) is n× the centered cusum
    // Σ_{i≤t}(y_i − ȳ), kept INTEGER by never dividing — every
    // compared statistic is an exact decimal(38,0) product of longs
    // (HUGEINT on the oracle side), so the argmax day is
    // bit-deterministic; |C| ties break to the EARLIEST day. The two
    // double divisions (before/after means) happen once per group at
    // the edge, r4d'd; a change point on the last day leaves no
    // "after" regime → NULL, spelled CASE-identically in both
    // engines. Scale: windows over the AGGREGATED day series
    // (O(days) per type), not events; products bounded by
    // days·total — the checkedN regime only nears 2⁶³ past ~10⁹
    // events/day · century spans, far beyond the decimal(38) range
    // used here.
    "ts_cusum_changepoint" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val full = zeroFilledDaily(s, dir)
      val w = Window.partitionBy(col("event_type")).orderBy(col("day"))
      val wt = Window.partitionBy(col("event_type"))
      val c = full
        .withColumn("t", row_number().over(w).cast("long"))
        .withColumn("p", sum(col("y")).over(
          w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        .withColumn("n", count(lit(1)).over(wt))
        .withColumn("stot", sum(col("y")).over(wt))
        .withColumn("c",
          col("n").cast("decimal(38,0)") * col("p").cast("decimal(38,0)")
            - col("t").cast("decimal(38,0)") * col("stot").cast("decimal(38,0)"))
      val pick = Window.partitionBy(col("event_type"))
        .orderBy(abs(col("c")).desc, col("day"))
      c.withColumn("rk", row_number().over(pick)).filter(col("rk") === 1)
        .select(col("event_type"), col("day").as("cp_day"),
          abs(col("c")).cast("long").as("cusum_abs"),
          r4d(col("p").cast("double") / col("t").cast("double"))
            .as("mean_before"),
          when(col("n") > col("t"),
            r4d((col("stot") - col("p")).cast("double")
              / (col("n") - col("t")).cast("double"))).as("mean_after"))
        .orderBy("event_type")
    }),

    // PEAK DETECTION (§2.63) — strict local maxima of the daily
    // series (y above BOTH neighbors; plateau shoulders and the
    // endpoints are not peaks — lag/lead NULLs fail the strict
    // comparison in both engines identically). Prominence here is the
    // simple one-lag margin y − max(neighbors) — an exact integer.
    // One windowed pass over the aggregated day spine; O(days)/type.
    "ts_peak_detect" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy(col("event_type")).orderBy(col("day"))
      zeroFilledDaily(s, dir)
        .withColumn("py", lag(col("y"), 1).over(w))
        .withColumn("ny", lead(col("y"), 1).over(w))
        .filter(col("y") > col("py") && col("y") > col("ny"))
        .select(col("event_type"), col("day"), col("y"),
          (col("y") - greatest(col("py"), col("ny"))).as("prominence"))
        .orderBy("event_type", "day")
    }),

    // THEIL-SEN ROBUST TREND (§2.63) — the median of all pairwise
    // slopes (y_j−y_i)/(day_j−day_i): breakdown point 29%, the
    // robust complement of agg_trend_slope's OLS line (one corrupted
    // burst day drags OLS arbitrarily; Theil-Sen shrugs until a third
    // of the series is bad). Pairs are generated from the AGGREGATED
    // daily series — O(days²) per type (a ~60-day fixture span makes
    // ~1.8k pairs), never O(rows²); a 100 TB corpus changes the y
    // magnitudes, not the pair count, which is the whole point of
    // aggregating first. Each slope is one IEEE double division of
    // exact integers; the median interpolates two doubles max
    // (percentile ≡ quantile_cont), r4d at the edge.
    "ts_theil_sen" -> ((s, dir) => {
      val fl = zeroFilledDaily(s, dir)
      val a = fl.select(col("event_type"), col("day").as("d1"), col("y").as("y1"))
      val b = fl.select(col("event_type"), col("day").as("d2"), col("y").as("y2"))
      val pairs = a.join(b, Seq("event_type")).filter(col("d1") < col("d2"))
        .select(col("event_type"),
          ((col("y2") - col("y1")).cast("double")
            / (col("d2") - col("d1")).cast("double")).as("slope"))
      val days = fl.groupBy("event_type").agg(count(lit(1)).as("n_days"))
      pairs.groupBy("event_type")
        .agg(count(lit(1)).as("n_pairs"),
          r4d(percentile(col("slope"), lit(0.5))).as("theil_slope"))
        .join(broadcast(days), Seq("event_type"))
        .select(col("event_type"), col("n_days"), col("n_pairs"),
          col("theil_slope"))
        .orderBy("event_type")
    }),

    // WEEKLY CHURN (§2.81) — the subscription-health table: per epoch
    // week, how many active users did NOT return the following week.
    // Complement of cohort_retention's cohort×offset matrix: this is
    // the period-over-period operational read (one row per week, the
    // number an on-call dashboard alarms on). One distinct
    // (user, week) reduce, one self-join shifted by a week (equi on
    // user+week — broadcast-or-shuffle hash, never quadratic), exact
    // counts; the final week's churn is NULL (its successor hasn't
    // happened), never a fake zero.
    // RECORD-BREAKING DAYS (§2.106) — per event type, how often the
    // daily volume set a new all-time high, and when it last did: the
    // "are we still growing" sentinel (a healthy growth series breaks
    // records ~log(n) times; a record drought dates the plateau).
    // First observed day counts as a record by convention. All
    // integer: per-(type, day) counts, one type-keyed running-max
    // window, exact reduce. Shape: the dow-seasonality plan plus one
    // window — day count bounds everything past the first exchange.
    "ts_records_count" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val d = events(s, dir)
        .select(col("event_type"), epochDay("ts").as("day"))
        .groupBy("event_type", "day").agg(count(lit(1)).as("v"))
      val w = Window.partitionBy("event_type").orderBy("day")
        .rowsBetween(Window.unboundedPreceding, -1)
      d.withColumn("prevmax", max(col("v")).over(w))
        .withColumn("rec",
          (col("prevmax").isNull || col("v") > col("prevmax"))
            .cast("long"))
        .groupBy("event_type")
        .agg(count(lit(1)).as("n_days"),
          sum(col("rec")).cast("long").as("n_records"),
          max(when(col("rec") === 1, col("day"))).as("last_record_day"),
          max(col("v")).as("max_daily"))
        .orderBy("event_type")
    }),

    // HOUR × DAY-OF-WEEK HEATMAP (§2.103) — the weekly activity
    // profile ("when does traffic actually happen") every ops
    // dashboard pins top-left: counts per (epoch-day mod 7, epoch-hour
    // mod 24) cell with each cell's share of the total — 168 exact
    // integer cells off the engine-neutral epoch-residue clock (the
    // dow/hour conventions of agg_chi2 / agg_corr_value_hour), one
    // division per cell against a broadcast total. One partial-agg
    // reduce; nothing downstream scales.
    "ts_hour_dow_heatmap" -> ((s, dir) => {
      val e = events(s, dir).select(
        (epochDay("ts") % 7).as("dow"),
        expr("unix_millis(cast(ts as timestamp)) div 3600000 % 24")
          .as("hour"))
      val cells = e.groupBy("dow", "hour").agg(count(lit(1)).as("n"))
      val tot = cells.agg(sum(col("n")).cast("long").as("total"))
      cells.crossJoin(broadcast(tot))
        .select(col("dow"), col("hour"), col("n"),
          r4d(col("n").cast("double") / col("total").cast("double"))
            .as("share"))
        .orderBy("dow", "hour")
    }),

    // DAILY MIX ENTROPY (§2.101) — Shannon entropy of each day's
    // event-type mix: the drift sentinel a pipeline watches next to
    // volume (volume can hold steady while the MIX collapses to one
    // type — exactly what a stuck upstream looks like). The
    // agg_entropy_mix device per day: exact integer counts, entropy =
    // log2(n) − (1/n)·Σ c·log2(c) folded over the ≤|types| sorted
    // per-day list. Shape: one (day, type) partial-agg reduce, one
    // day reduce — day count bounds everything downstream.
    "ts_entropy_daily" -> ((s, dir) => {
      val c = events(s, dir)
        .select(epochDay("ts").as("day"), col("event_type"))
        .groupBy("day", "event_type").agg(count(lit(1)).as("c"))
      c.groupBy("day")
        .agg(sum(col("c")).as("n_events"), count(lit(1)).as("n_types"),
          array_sort(collect_list(col("c"))).as("cs"))
        .select(col("day"), col("n_events"), col("n_types"),
          r4d(log2(col("n_events"))
            - aggregate(col("cs"), lit(0.0), (acc, x) =>
                acc + x.cast("double") * log2(x.cast("double")))
              / col("n_events")).as("entropy_bits"))
        .orderBy("day")
    }),

    "ts_churn_weekly" -> ((s, dir) => {
      val uw = events(s, dir)
        .select(col("user_id"), (epochDay("ts") / 7).cast("long").as("week"))
        .distinct()
      val nxt = uw.select(col("user_id"), (col("week") - 1).as("week"),
        lit(1).as("nx"))
      val mx = uw.agg(max(col("week")).as("maxw"))
      uw.join(nxt, Seq("user_id", "week"), "left")
        .groupBy("week")
        .agg(count(lit(1)).as("n_active"), count(col("nx")).as("n_retained"))
        .crossJoin(broadcast(mx))
        .select(col("week"), col("n_active"),
          when(col("week") < col("maxw"), col("n_retained"))
            .as("n_retained"),
          when(col("week") < col("maxw"),
            col("n_active") - col("n_retained")).as("n_churned"),
          when(col("week") < col("maxw"),
            r4d((col("n_active") - col("n_retained")).cast("double")
              / col("n_active").cast("double"))).as("churn_rate"))
        .orderBy("week")
    }),

    "ts_rolling_corr" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      // Day spine is the GLOBAL lo..hi range over all events — never
      // derived from the click/purchase subset, so a corpus missing
      // either type still yields the full zero-filled series the
      // oracle's unconditional spine + COALESCE-0 produces.
      val e = events(s, dir)
        .select(col("event_type"), epochDay("ts").as("day"))
      val perDay = e.groupBy("day")
        .agg(count(when(col("event_type") === "click", 1)).as("cx0"),
          count(when(col("event_type") === "purchase", 1)).as("cy0"))
      val spine = e
        .agg(min(col("day")).as("lo"), max(col("day")).as("hi"))
        .select(explode(sequence(col("lo"), col("hi"))).as("day"))
      val d = spine.join(perDay, Seq("day"), "left")
        .select(col("day"), coalesce(col("cx0"), lit(0L)).as("cx"),
          coalesce(col("cy0"), lit(0L)).as("cy"))
      val w = Window.orderBy(col("day")).rowsBetween(-13, 0)
      val m = d
        .withColumn("n", count(lit(1)).over(w))
        .withColumn("sx", sum(col("cx")).over(w))
        .withColumn("sy", sum(col("cy")).over(w))
        .withColumn("sxy", sum(col("cx") * col("cy")).over(w))
        .withColumn("sxx", sum(col("cx") * col("cx")).over(w))
        .withColumn("syy", sum(col("cy") * col("cy")).over(w))
      m.select(col("day"), col("cx"), col("cy"),
          when(col("n") * col("sxx") - col("sx") * col("sx") > 0
              && col("n") * col("syy") - col("sy") * col("sy") > 0,
            r4d((col("n") * col("sxy") - col("sx") * col("sy"))
              .cast("double")
              / sqrt((col("n") * col("sxx") - col("sx") * col("sx"))
                  .cast("double")
                * (col("n") * col("syy") - col("sy") * col("sy"))
                  .cast("double"))))
            .as("corr14"))
        .orderBy("day")
    }),

    // TPC-H Q1 — THE scan-aggregate benchmark staple: one lineitem
    // pass, a date residual, eight aggregates over two grouping
    // columns. Every money aggregate routes through Det.dsum/davg
    // (exact decimal sums, §1.3) — the three-factor charge product
    // carries ≤6 decimal digits, exactly the bound decimal(38,6) was
    // chosen for. The plan is the ideal shape already: pushed date
    // filter, two-phase partial agg, no shuffle beyond |groups|.
    "sql_tpch_q1" -> ((s, dir) => {
      s.sql(s"""SELECT l_returnflag, l_linestatus,
        |  ${sqlSum("l_quantity")} AS sum_qty,
        |  ${sqlSum("l_extendedprice")} AS sum_base_price,
        |  ${sqlSum("l_extendedprice * (1 - l_discount)")} AS sum_disc_price,
        |  ${sqlSum("l_extendedprice * (1 - l_discount) * (1 + l_tax)")}
        |    AS sum_charge,
        |  ${sqlAvg("l_quantity")} AS avg_qty,
        |  ${sqlAvg("l_extendedprice")} AS avg_price,
        |  ${sqlAvg("l_discount")} AS avg_disc,
        |  count(*) AS count_order
        |FROM parquet.`$dir/lineitem.parquet`
        |WHERE l_shipdate <= DATE '2000-09-02'
        |GROUP BY l_returnflag, l_linestatus
        |ORDER BY l_returnflag, l_linestatus""".stripMargin)
    }),

    // TPC-H Q10 — returned-item revenue: which customers sent the most
    // money back last quarter. The fourth TPC-H member: q1 = scan-agg,
    // q5 = co-located star, q18 = grouped-HAVING semi-join, q10 = the
    // high-cardinality group-by (|customers| groups, not 6) with a
    // top-k tail — the case where the ORDER BY + LIMIT must collapse
    // to TakeOrderedAndProject instead of a full sort of every
    // customer. Date range and returnflag push to the scans; revenue
    // through Det.dsum; (revenue DESC, c_custkey) totally ordered.
    "sql_tpch_q10" -> ((s, dir) => {
      s.sql(s"""SELECT c_custkey, c_name, n_name,
        |  ${sqlSum("l_extendedprice * (1 - l_discount)")} AS revenue
        |FROM parquet.`$dir/customer.parquet`
        |JOIN parquet.`$dir/orders.parquet` ON c_custkey = o_custkey
        |JOIN parquet.`$dir/lineitem.parquet` ON l_orderkey = o_orderkey
        |JOIN parquet.`$dir/nation.parquet` ON c_nationkey = n_nationkey
        |WHERE o_orderdate >= DATE '1996-01-01'
        |  AND o_orderdate < DATE '1996-04-01'
        |  AND l_returnflag = 'R'
        |GROUP BY c_custkey, c_name, n_name
        |ORDER BY revenue DESC, c_custkey
        |LIMIT 20""".stripMargin)
    }),

    // TPC-H Q5 — the classic six-table star with the CO-LOCATION twist
    // (customer and supplier must share a nation): two independent
    // broadcast-dim legs (nation⋈region on both sides) plus the
    // c_nationkey = s_nationkey residual folded into the supplier join
    // key, so Catalyst plans it as equi-joins end to end — no theta
    // join, dims broadcast, the orders date range and r_name filter
    // pushed to the scans. Complements q3 (one-dim star) and q18
    // (semi-join on a grouped HAVING) in the declared SQL surface.
    "sql_tpch_q5" -> ((s, dir) => {
      s.sql(s"""SELECT n_name,
        |  ${sqlSum("l_extendedprice * (1 - l_discount)")} AS revenue
        |FROM parquet.`$dir/customer.parquet`
        |JOIN parquet.`$dir/orders.parquet` ON c_custkey = o_custkey
        |JOIN parquet.`$dir/lineitem.parquet` ON l_orderkey = o_orderkey
        |JOIN parquet.`$dir/supplier.parquet` ON l_suppkey = s_suppkey
        |  AND c_nationkey = s_nationkey
        |JOIN parquet.`$dir/nation.parquet` ON s_nationkey = n_nationkey
        |JOIN parquet.`$dir/region.parquet` ON n_regionkey = r_regionkey
        |WHERE r_name = 'ASIA'
        |  AND o_orderdate >= DATE '1996-01-01'
        |  AND o_orderdate < DATE '1997-01-01'
        |GROUP BY n_name
        |ORDER BY revenue DESC, n_name""".stripMargin)
    }),

    // TPC-H Q17 — small-quantity-order revenue: the CORRELATED SCALAR
    // SUBQUERY member (`l_quantity < 0.2 × the part's own average`) —
    // the one classic Catalyst decorrelation surface the SQL family
    // (flat stars, IN+HAVING, LATERAL, EXISTS) doesn't prove. The
    // planner MUST rewrite the per-row subquery into one per-part
    // aggregate joined back (pinned in PlanAuditSpec: no subquery
    // node survives, no cartesian) — naive re-execution per probe row
    // is the quadratic trap. Determinism: l_quantity is integral, so
    // SUM/AVG over doubles is exact (every partial sum an exact
    // integer < 2⁵³, order-independent); the 0.2× threshold and the
    // final ÷7 are single IEEE ops spelled identically in the oracle.
    // Spec container/brand filter adapted to the fixture dims.
    "sql_tpch_q17" -> ((s, dir) => {
      s.sql(s"""SELECT
        |  ROUND(CAST(SUM(CAST(l_extendedprice AS DECIMAL(38,6)))
        |    AS DOUBLE) / 7.0 * 10000.0) / 10000.0 AS avg_yearly,
        |  count(*) AS n_lines
        |FROM parquet.`$dir/lineitem.parquet`
        |JOIN parquet.`$dir/part.parquet` ON p_partkey = l_partkey
        |WHERE p_brand = 'Brand#23' AND p_type = 'MEDIUM'
        |  AND l_quantity < (
        |    SELECT 0.2 * avg(l2.l_quantity)
        |    FROM parquet.`$dir/lineitem.parquet` l2
        |    WHERE l2.l_partkey = p_partkey)""".stripMargin)
    }),

    // TPC-H Q21 — suppliers who kept orders waiting: the MULTI-EXISTS
    // composition (a correlated EXISTS and a correlated NOT EXISTS
    // over two more aliases of the same fact table, both carrying a
    // NON-EQUALITY correlated predicate `l2.l_suppkey <> l1.l_suppkey`
    // — plus the NOT EXISTS referencing an outer column from a THIRD
    // table, o_orderdate). Both must decorrelate to one semi and one
    // anti join on l_orderkey with the inequalities as residuals
    // (pinned: LeftSemi + LeftAnti, no cartesian). "Late" adapts the
    // spec's receipt>commit to the fixture's shipdate > orderdate+365d
    // (timestamp + interval, identical in both engines); (numwait
    // DESC, s_name) is a total order — s_name is unique.
    "sql_tpch_q21" -> ((s, dir) => {
      s.sql(s"""SELECT s_name, count(*) AS numwait
        |FROM parquet.`$dir/supplier.parquet`
        |JOIN parquet.`$dir/lineitem.parquet` l1 ON s_suppkey = l1.l_suppkey
        |JOIN parquet.`$dir/orders.parquet` ON o_orderkey = l1.l_orderkey
        |WHERE o_orderstatus = 'F'
        |  AND l1.l_shipdate > o_orderdate + INTERVAL 365 DAY
        |  AND EXISTS (
        |    SELECT 1 FROM parquet.`$dir/lineitem.parquet` l2
        |    WHERE l2.l_orderkey = l1.l_orderkey
        |      AND l2.l_suppkey <> l1.l_suppkey)
        |  AND NOT EXISTS (
        |    SELECT 1 FROM parquet.`$dir/lineitem.parquet` l3
        |    WHERE l3.l_orderkey = l1.l_orderkey
        |      AND l3.l_suppkey <> l1.l_suppkey
        |      AND l3.l_shipdate > o_orderdate + INTERVAL 365 DAY)
        |GROUP BY s_name
        |ORDER BY numwait DESC, s_name
        |LIMIT 20""".stripMargin)
    }),

    // MTD/YoY KPI TABLE — the BI staple row: monthly order revenue
    // with the year-to-date running total and the same-month-last-year
    // percent change (month vs its own seasonal anchor — the
    // ts_growth_rates WoW idea at fiscal granularity). Exactness: the
    // running YTD and the YoY delta are computed over the EXACT
    // DECIMAL monthly sums and rounded once at the edge — a running
    // sum of already-rounded doubles would drift in the last ulp with
    // frame evaluation order. The YoY lag carries an explicit
    // month-continuity check (prev = month − 12 months exactly, else
    // NULL — a gap year must not fake a comparison). The global month
    // window is calendar-bounded (≤ |months| rows — the documented
    // bounded-input exception to the no-global-window rule).
    "ts_mtd_yoy" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val m = t(s, dir, "orders")
        .groupBy(date_trunc("month", col("o_orderdate")).cast("date")
          .as("month"))
        .agg(count(lit(1)).as("n_orders"),
          sum(col("o_totalprice").cast(graft.Det.D)).as("rev_dec"))
      val wy = Window.partitionBy(year(col("month"))).orderBy(col("month"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val wall = Window.orderBy(col("month"))
      m.withColumn("ytd_dec", sum(col("rev_dec")).over(wy))
        .withColumn("prev_dec", lag(col("rev_dec"), 12).over(wall))
        .withColumn("prev_month", lag(col("month"), 12).over(wall))
        .select(col("month"), col("n_orders"),
          round(col("rev_dec"), 4).cast("double").as("revenue"),
          round(col("ytd_dec"), 4).cast("double").as("ytd_revenue"),
          when(col("prev_month") === add_months(col("month"), -12),
            r4d((col("rev_dec") - col("prev_dec")).cast("double")
              * lit(100.0) / col("prev_dec").cast("double")))
            .as("yoy_pct"))
        .orderBy("month")
    }),

    // EWMA — exponentially weighted moving average of daily volume per
    // type over the zero-filled spine, α = ½ truncated at 8 taps: the
    // exponential sibling of ts_wma's linear decay (recency-weighted
    // smoothing where last week barely counts). The α = ½ choice is
    // the determinism trick: every weight is a POWER OF TWO, so each
    // y·2⁻ᵏ term is an EXACT double (scaling by 2⁻ᵏ only shifts the
    // exponent), the 8-term numerator/denominator sums are exact
    // rationals with denominator 128 far inside the 53-bit mantissa,
    // and the result is bit-identical in ANY summation order and both
    // engines — no sorted-fold machinery needed (contrast
    // text_perplexity_unigram, whose log terms are irrational). One
    // double division at the edge, r4d. Partial leading windows
    // renormalize over the present taps (the win_moving_avg contract).
    //
    // Scale: corpus collapses to |types|×|days| in the pre-agg
    // exchange; all 8 lags ride ONE window node (pinned).
    "ts_ewma" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy(col("event_type")).orderBy(col("day"))
      val full = zeroFilledDaily(s, dir)
      def tap(k: Int): org.apache.spark.sql.Column =
        if (k == 0) col("y") else lag(col("y"), k).over(w)
      val num = (0 to 7).map(k =>
        coalesce(tap(k).cast("double") * lit(1.0 / (1 << k)), lit(0.0)))
        .reduce(_ + _)
      val den = (0 to 7).map(k =>
        when(tap(k).isNotNull, lit(1.0 / (1 << k))).otherwise(lit(0.0)))
        .reduce(_ + _)
      full.select(col("event_type"), col("day"), col("y"),
          r4d(num / den).as("ewma"))
        .orderBy("event_type", "day")
    }),

    // ADDITIVE HOLT-WINTERS (§2.129) — level + trend + day-of-week
    // seasonality, the classic triple-exponential recurrence next to
    // ts_ewma's memoryless smoothing and ts_stl_decompose's
    // non-recursive decomposition. The declared semantic is a FIXED
    // 28-day horizon over the zero-filled spine (rows 1-28 of each
    // type's series): weeks 1-2 initialize (level = week-2 mean,
    // trend = week-over-week mean delta / 7, seasonals = week-2
    // deviations), then 14 UNROLLED update steps t = 15..28 — the
    // same declared-fixed-rounds device as every iterative key.
    // Exactness: ALL state lives in 10⁻⁶-unit BIGINTs and every
    // update is integer arithmetic with truncating division
    // (α = 2/10, β = 1/10, γ = 3/10 spelled as integer
    // numerators over div 10 — Spark `div` ≡ DuckDB `//` on
    // negatives too, verified truncation toward zero), so shuffle
    // order and libm can't move a ulp; the only doubles are the
    // final ÷10⁶ display conversions, r4d'd. Scale: the corpus
    // collapses to |types|×28 cells in one exchange; the unrolled
    // steps are column expressions on a |types|-row frame.
    // HOLT-WINTERS BACKTEST (§2.136) — how good were the 14
    // one-step-ahead predictions the ts_holt_winters recurrence made?
    // MAE and WAPE per type, both EXACT integer arithmetic end to
    // end: each step's error |y_t·10⁶ − p_t| is a BIGINT (the
    // prediction is already in micro-units), so the sums need no
    // snap and WAPE is one integer-over-integer division. The model
    // evaluation loop (fit key + error key) every forecasting
    // pipeline runs, closed over the same declared state machine —
    // literally the same helper builds both plans.
    "ts_hw_backtest" -> ((s, dir) => {
      val cur = holtWintersWide(s, dir)
      val errSum = (15 to 28)
        .map(t => s"abs(y$t * 1000000 - p$t)").mkString(" + ")
      val ySum = (15 to 28).map(t => s"y$t").mkString(" + ")
      cur.select(col("event_type"),
          expr(s"$errSum").as("err6"), expr(s"$ySum").as("ytot"))
        .select(col("event_type"), lit(14L).as("n_steps"),
          r4d(col("err6").cast("double") / lit(14.0) / lit(1000000.0))
            .as("mae"),
          r4d(col("err6").cast("double")
            / (col("ytot") * 1000000L).cast("double")).as("wape"))
        .orderBy("event_type")
    }),

    "ts_holt_winters" -> ((s, dir) => {
      val cur = holtWintersWide(s, dir)
      val stacked = (15 to 28)
        .map(t => s"${t}L, y$t, p$t, l$t, b$t, s$t").mkString(", ")
      cur.selectExpr("event_type",
          s"stack(14, $stacked) AS (step, y, pm, lm, bm, sm)")
        .select(col("event_type"), col("step"), col("y"),
          r4d(col("pm").cast("double") / lit(1000000.0)).as("fitted"),
          r4d(col("lm").cast("double") / lit(1000000.0)).as("level"),
          r4d(col("bm").cast("double") / lit(1000000.0)).as("trend"),
          r4d(col("sm").cast("double") / lit(1000000.0)).as("seasonal"))
        .orderBy("event_type", "step")
    }),

    // 1-D KALMAN SMOOTH (§2.149) — the local-level state-space filter
    // over the zero-filled daily spine: the classic remaining smoother
    // next to ts_ewma (fixed memory) and ts_holt_winters (fixed
    // trend/seasonal structure) — its gain ADAPTS to accumulated
    // state uncertainty instead of being a constant. Declared
    // semantic: the first 28 spine days per type (the holt_winters
    // horizon); l₁ = y₁, then 27 unrolled updates
    // l_t = l_{t-1} + K6_t·(y_t·10⁶ − l_{t-1}) div 10⁶ where the
    // gain schedule K6_t is data-independent (local-level model,
    // q/r = 1/4) and PRECOMPUTED as integer constants in
    // [[kalmanGains]] — so ALL state lives in 10⁻⁶-unit BIGINTs and
    // no float division runs in either engine (the ts_holt_winters
    // device verbatim). Innovations (one-step-ahead residuals) are
    // emitted for the anomaly keys to consume. Scale: the corpus
    // collapses to |types|×28 cells in one exchange; the unrolled
    // steps are column expressions on a |types|-row frame.
    "ts_kalman_smooth" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy("event_type").orderBy("day")
      val d = zeroFilledDaily(s, dir)
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") <= 28)
      val aggs = (1 to 28).map(i =>
        max(when(col("rn") === i, col("y"))).cast("long").as(s"y$i"))
      val cur = d.groupBy("event_type").agg(aggs.head, aggs.tail: _*)
      // Round-17: the 27 recurrence steps ran as 54 chained withColumn
      // layers — Catalyst re-analyzes the whole growing projection per
      // layer (quadratic driver cost: ~2 s of planning for 0.45 s of
      // jobs, and a 25 s cold codegen of the unrolled projection).
      // Same integer recurrence as ONE aggregate() fold over the
      // packed y array: l_t = l_{t-1} + K6_t·(y_t·10⁶ − l_{t-1}) div
      // 10⁶ with the same precomputed gains, so every emitted value is
      // bit-identical; innovations are recovered afterwards as
      // i_t = y_t·10⁶ − l_{t−1} (the same expression the chain used).
      val ksLit = (2 to 28).map(t => s"${kalmanGains(t)}L").mkString(", ")
      val ysLit = (1 to 28).map(i => s"y$i").mkString(", ")
      cur
        .selectExpr("event_type", s"array($ysLit) AS ys")
        .selectExpr("event_type", "ys", s"array($ksLit) AS ks")
        .selectExpr("event_type", "ys", "ks",
          """aggregate(sequence(2, 28),
            |  array(element_at(ys, 1) * 1000000L),
            |  (ls, t) -> array_append(ls,
            |    element_at(ls, t - 1)
            |      + (element_at(ks, t - 1)
            |         * (element_at(ys, t) * 1000000L
            |            - element_at(ls, t - 1))) div 1000000L)
            |) AS ls""".stripMargin)
        .selectExpr("event_type", "ys", "ks", "ls",
          "explode(sequence(2, 28)) AS step")
        .selectExpr("event_type", "CAST(step AS BIGINT) AS step",
          "element_at(ys, step) AS y",
          "element_at(ys, step) * 1000000L" +
            " - element_at(ls, step - 1) AS im",
          "element_at(ls, step) AS lm",
          "element_at(ks, step - 1) AS k6")
        .select(col("event_type"), col("step"), col("y"),
          r4d(col("lm").cast("double") / lit(1000000.0)).as("level"),
          r4d(col("im").cast("double") / lit(1000000.0)).as("innovation"),
          r4d(col("k6").cast("double") / lit(1000000.0)).as("gain"))
        .orderBy("event_type", "step")
    }),

    // PARTIAL AUTOCORRELATION, LAGS 1-3 (§2.152) — the AR-order
    // diagnostic ts_autocorr's raw ρₖ can't give (ρ₂ confounds the
    // direct lag-2 effect with ρ₁ twice-applied; PACF removes the
    // intermediate lags): Durbin-Levinson unrolled to order 3 in
    // closed form — φ₁₁ = ρ₁, φ₂₂ = (ρ₂−ρ₁²)/(1−ρ₁²),
    // φ₃₃ = (ρ₃ − a₂₁ρ₂ − φ₂₂ρ₁)/(1 − a₂₁ρ₁ − φ₂₂ρ₂) with
    // a₂₁ = ρ₁(1−φ₂₂). ρₖ is the ts_autocorr pair-Pearson estimator
    // (exact decimal moment sums; doubles only in the final ratios),
    // kept UNROUNDED through the recursion, both engines spelling the
    // identical expression tree. Scale: the corpus collapses to
    // |types|×|days|; the 3 lags ride one window node; the recursion
    // is scalar arithmetic on a |types|-row frame.
    "ts_pacf" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val full = zeroFilledDaily(s, dir)
      val w = Window.partitionBy(col("event_type")).orderBy(col("day"))
      val pairs = full
        .select(col("event_type"), col("y"),
          lag(col("y"), 1).over(w).as("k1"),
          lag(col("y"), 2).over(w).as("k2"),
          lag(col("y"), 3).over(w).as("k3"))
        .select(col("event_type"), explode(array(
          struct(lit(1L).as("lag_k"), col("k1").as("x"), col("y").as("yv")),
          struct(lit(2L).as("lag_k"), col("k2").as("x"), col("y").as("yv")),
          struct(lit(3L).as("lag_k"), col("k3").as("x"), col("y").as("yv"))))
          .as("p"))
        .select(col("event_type"), col("p.lag_k").as("lag_k"),
          col("p.x").as("x"), col("p.yv").as("yy"))
        .filter(col("x").isNotNull)
      val rho = pairs.groupBy("event_type", "lag_k")
        .agg(count(lit(1)).as("n"),
          sum(col("x").cast("decimal(38,0)")).as("sx"),
          sum(col("yy").cast("decimal(38,0)")).as("sy"),
          sum((col("x") * col("x")).cast("decimal(38,0)")).as("sxx"),
          sum((col("yy") * col("yy")).cast("decimal(38,0)")).as("syy"),
          sum((col("x") * col("yy")).cast("decimal(38,0)")).as("sxy"))
        .filter(col("n") > 1 &&
          col("n") * col("sxx") > col("sx") * col("sx") &&
          col("n") * col("syy") > col("sy") * col("sy"))
        .select(col("event_type"), col("lag_k"),
          ((col("n") * col("sxy") - col("sx") * col("sy")).cast("double")
            / (sqrt((col("n") * col("sxx") - col("sx") * col("sx"))
              .cast("double"))
              * sqrt((col("n") * col("syy") - col("sy") * col("sy"))
                .cast("double")))).as("rho"))
      val piv = rho.groupBy("event_type")
        .agg(max(when(col("lag_k") === 1, col("rho"))).as("r1"),
          max(when(col("lag_k") === 2, col("rho"))).as("r2"),
          max(when(col("lag_k") === 3, col("rho"))).as("r3"))
        .filter(col("r1").isNotNull && col("r2").isNotNull
          && col("r3").isNotNull)
      piv
        .withColumn("p22", (col("r2") - col("r1") * col("r1"))
          / (lit(1.0) - col("r1") * col("r1")))
        .withColumn("a21", col("r1") * (lit(1.0) - col("p22")))
        .withColumn("p33",
          (col("r3") - col("a21") * col("r2") - col("p22") * col("r1"))
            / (lit(1.0) - col("a21") * col("r1")
              - col("p22") * col("r2")))
        .select(col("event_type"), r4d(col("r1")).as("pacf_1"),
          r4d(col("p22")).as("pacf_2"), r4d(col("p33")).as("pacf_3"))
        .orderBy("event_type")
    }),

    // TURNING-POINTS RANDOMNESS TEST (§2.152) — count strict local
    // peaks and troughs of the per-type daily series and compare to
    // the iid expectation E[T] = 2(n−2)/3, Var[T] = (16n−29)/90 (the
    // classic nonparametric trend/oscillation screen; too FEW
    // turning points ⇒ trend, too MANY ⇒ alternation). Strict
    // inequalities on exact integer y (ties produce neither), so the
    // count is exact; the expectation/z are two divisions and a sqrt
    // at the edge. One lag/lead window pass over the spine.
    "ts_turning_points" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy(col("event_type")).orderBy(col("day"))
      val d = zeroFilledDaily(s, dir)
        .withColumn("py", lag(col("y"), 1).over(w))
        .withColumn("ny", lead(col("y"), 1).over(w))
      d.groupBy("event_type")
        .agg(count(lit(1)).as("n_days"),
          count_if(col("py").isNotNull && col("ny").isNotNull
            && col("y") > col("py") && col("y") > col("ny"))
            .as("n_peaks"),
          count_if(col("py").isNotNull && col("ny").isNotNull
            && col("y") < col("py") && col("y") < col("ny"))
            .as("n_troughs"))
        .select(col("event_type"), col("n_days"), col("n_peaks"),
          col("n_troughs"),
          (col("n_peaks") + col("n_troughs")).as("n_turning"),
          r4d(lit(2.0) * (col("n_days") - 2).cast("double") / lit(3.0))
            .as("expected"),
          r4d(((col("n_peaks") + col("n_troughs")).cast("double")
            - lit(2.0) * (col("n_days") - 2).cast("double") / lit(3.0))
            / sqrt((lit(16.0) * col("n_days").cast("double") - lit(29.0))
              / lit(90.0))).as("z"))
        .orderBy("event_type")
    }),

    // ZERO-RUN PROFILE (§2.152) — the sparsity/outage shape of each
    // type's daily series: how many quiet days, in how many
    // consecutive RUNS, and the longest one — the gaps-and-islands
    // device (day − row_number is constant within a run) applied to
    // the zero-filled spine, which is what makes "quiet day" well
    // defined at all. Exact integers; one window + two reduces.
    "ts_zero_run_profile" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy(col("event_type")).orderBy(col("day"))
      val full = zeroFilledDaily(s, dir).localCheckpoint(true)
      val runs = full.filter(col("y") === 0)
        .withColumn("grp", col("day") - row_number().over(w))
        .groupBy("event_type", "grp")
        .agg(count(lit(1)).as("run_len"))
        .groupBy("event_type")
        .agg(count(lit(1)).as("n_runs"),
          sum(col("run_len")).as("n_zero_days"),
          max(col("run_len")).as("max_run"))
      val tot = full.groupBy("event_type")
        .agg(count(lit(1)).as("n_days"))
      tot.join(runs, Seq("event_type"), "left")
        .select(col("event_type"), col("n_days"),
          coalesce(col("n_zero_days"), lit(0L)).as("n_zero_days"),
          coalesce(col("n_runs"), lit(0L)).as("n_runs"),
          coalesce(col("max_run"), lit(0L)).as("max_run"),
          r4d(coalesce(col("n_zero_days"), lit(0L)).cast("double")
            / col("n_days").cast("double")).as("zero_share"))
        .orderBy("event_type")
    }),

    // FREQUENT ORDERED EPISODES (§2.149) — support counts for ordered
    // length-3 event-type episodes with BOUNDED GAPS (each hop skips
    // at most one intervening event): the funnel-mining primitive
    // between path_trigrams_topk's strictly-adjacent n-grams and
    // funnel_conversion_window's single hand-declared pattern. The
    // four (d₁, d₂) ∈ {1,2}² lead offsets enumerate every qualifying
    // index triple (i, i+d₁, i+d₁+d₂) EXACTLY once, so support is
    // exact, not sampled. Aggregate-first: one user-partitioned
    // window pass (4 leads ride one window node) + a map-side 4-way
    // struct explode, reduced to the |types|³-bounded episode table —
    // the corpus never pairs with itself.
    "path_frequent_episodes" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy("user_id")
        .orderBy(col("ms"), col("event_id"))
      val e = events(s, dir)
        .select(col("user_id"), col("event_id"), col("event_type"),
          unix_millis(col("ts").cast("timestamp")).as("ms"))
        .withColumn("l1", lead(col("event_type"), 1).over(w))
        .withColumn("l2", lead(col("event_type"), 2).over(w))
        .withColumn("l3", lead(col("event_type"), 3).over(w))
        .withColumn("l4", lead(col("event_type"), 4).over(w))
      val tr = (c2: String, c3: String) =>
        struct(col("event_type").as("t1"), col(c2).as("t2"),
          col(c3).as("t3"))
      e.select(col("user_id"), explode(array(
            tr("l1", "l2"), tr("l1", "l3"), tr("l2", "l3"),
            tr("l2", "l4"))).as("ep"))
        .select(col("user_id"), col("ep.t1").as("t1"),
          col("ep.t2").as("t2"), col("ep.t3").as("t3"))
        .filter(col("t2").isNotNull && col("t3").isNotNull)
        .groupBy("t1", "t2", "t3")
        .agg(count(lit(1)).as("n_occurrences"),
          countDistinct(col("user_id")).as("n_users"))
        .orderBy("t1", "t2", "t3")
    }),

    // STL-STYLE SEASONAL DECOMPOSITION (§2.86) — the classic additive
    // trend/seasonal/residual split of the per-type daily series:
    // trend = centered 7-day moving average, seasonal = per-day-of-week
    // mean of the detrended series, residual = what's left — the
    // decomposition every capacity/anomaly dashboard starts from (the
    // moving-average STL core; LOESS refinement is a fitting loop, not
    // a query, and deliberately out of scope).
    //
    // Exactness device: everything is computed in UNITS OF 1/7 —
    // trend7 = the 7-day window SUM (exact integer), detrended7 =
    // 7·y − trend7 (exact integer), seasonal7 = one davg-style
    // integer-sum division per (type, dow) — so no inexact double is
    // ever summed; each output is its integer (or one-division)
    // numerator divided by 7 once, r4d'd. Edge days (incomplete
    // 7-day window) emit NULL trend/residual, never a fake value.
    // Scale: the corpus reduces to |types|×|days| before any window;
    // the seasonal table is ≤ |types|×7 rows, broadcast back.
    "ts_stl_decompose" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val w7 = Window.partitionBy("event_type").orderBy("day")
        .rowsBetween(-3, 3)
      val d = zeroFilledDaily(s, dir)
        .withColumn("nwin", count(lit(1)).over(w7))
        .withColumn("trend7",
          when(col("nwin") === 7, sum(col("y")).over(w7)))
        .withColumn("dow", col("day") % 7)
        .withColumn("detr7", lit(7) * col("y") - col("trend7"))
      val seasonal = d.filter(col("detr7").isNotNull)
        .groupBy("event_type", "dow")
        .agg((sum(col("detr7")).cast("double")
          / count(lit(1)).cast("double")).as("seasonal7"))
      d.join(broadcast(seasonal), Seq("event_type", "dow"), "left")
        .select(col("event_type"), col("day"), col("y"),
          r4d(col("trend7").cast("double") / lit(7.0)).as("trend"),
          r4d(col("seasonal7") / lit(7.0)).as("seasonal"),
          r4d((col("detr7").cast("double") - col("seasonal7")) / lit(7.0))
            .as("residual"))
        .orderBy("event_type", "day")
    }),

    // WEEKEND EFFECT (§2.148) — the scalar the dow-seasonality
    // PROFILE keys imply but never state: weekend vs weekday mean
    // daily volume per type, as a ratio and a difference. Weekend =
    // epoch-day ≡ 2, 3 (mod 7) — Saturday/Sunday under the 1970
    // Thursday origin, spelled identically in both engines. Exact
    // integer volume and day counts off the zero-filled spine; two
    // divisions and their ratio at the edge.
    "ts_weekend_effect" -> ((s, dir) => {
      val d = zeroFilledDaily(s, dir)
        .withColumn("wk", (col("day") % 7).isin(2L, 3L))
      d.groupBy("event_type")
        .agg(count_if(col("wk")).as("n_weekend_days"),
          count_if(!col("wk")).as("n_weekday_days"),
          sum(when(col("wk"), col("y")).otherwise(0L)).cast("long")
            .as("y_weekend"),
          sum(when(!col("wk"), col("y")).otherwise(0L)).cast("long")
            .as("y_weekday"))
        .select(col("event_type"),
          r4d(col("y_weekend").cast("double")
            / col("n_weekend_days").cast("double")).as("weekend_mean"),
          r4d(col("y_weekday").cast("double")
            / col("n_weekday_days").cast("double")).as("weekday_mean"),
          r4d((col("y_weekend").cast("double")
            / col("n_weekend_days").cast("double"))
            / (col("y_weekday").cast("double")
              / col("n_weekday_days").cast("double"))).as("ratio"),
          r4d(col("y_weekend").cast("double")
            / col("n_weekend_days").cast("double")
            - col("y_weekday").cast("double")
              / col("n_weekday_days").cast("double")).as("diff"))
        .orderBy("event_type")
    }),

    // SHEWHART I-MR CONTROL LIMITS (§2.145) — the SPC individuals
    // chart on daily volume per type: center = mean, limits =
    // center ± 2.66·(mean moving range) (the classical d2-based
    // constant, spelled as the 2.66 literal in both engines), plus
    // the count of out-of-control days. The moving-range sum is an
    // exact integer off one lag window over the zero-filled spine;
    // center/limits are one double chain per type; the violation
    // count compares exact integer days against the identical
    // limits. The drift alarm every ops dashboard should derive,
    // not eyeball.
    "ts_control_limits" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy("event_type").orderBy("day")
      val d = zeroFilledDaily(s, dir)
        .withColumn("py", lag(col("y"), 1).over(w))
      val g = d.groupBy("event_type").agg(
        count(lit(1)).as("n_days"),
        sum(col("y")).cast("long").as("sy"),
        sum(when(col("py").isNotNull, abs(col("y") - col("py")))
          .otherwise(0L)).cast("long").as("smr"),
        count_if(col("py").isNotNull).as("nmr"))
      val center = col("sy").cast("double") / col("n_days").cast("double")
      val mrbar = col("smr").cast("double") / col("nmr").cast("double")
      val lims = g.select(col("event_type"), col("n_days"),
        center.as("center"),
        (center + lit(2.66) * mrbar).as("ucl"),
        greatest(lit(0.0), center - lit(2.66) * mrbar).as("lcl"))
        .localCheckpoint(true)
      d.join(broadcast(lims), Seq("event_type"))
        .groupBy(col("event_type"), col("n_days"), col("center"),
          col("ucl"), col("lcl"))
        .agg(count_if(col("y").cast("double") > col("ucl")
          || col("y").cast("double") < col("lcl")).as("n_violations"))
        .select(col("event_type"), col("n_days"),
          r4d(col("center")).as("center"), r4d(col("ucl")).as("ucl"),
          r4d(col("lcl")).as("lcl"), col("n_violations"))
        .orderBy("event_type")
    }),

    // DURBIN-WATSON (§2.138) — are the daily-trend residuals
    // autocorrelated (the assumption check behind agg_trend_slope's
    // OLS and every "is this trend real" read)? DW =
    // Σ(e_t − e_{t−1})²/Σe_t², and the statistic is SCALE-INVARIANT
    // in the residuals — so instead of dividing by the slope's
    // denominator, each residual is multiplied through by it:
    // E_t = n·Sxx·y_t − Sxx·Σy − n·Sxy·x_t + Sxy·Σx (centered
    // moments, ALL exact integers in DECIMAL(38,0)), and DW is one
    // division of two exact integer sums — no float anywhere before
    // the edge. Day spine zero-filled; lag via ONE per-type window.
    "ts_durbin_watson" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val d = zeroFilledDaily(s, dir)
      val m = d.groupBy("event_type").agg(
        count(lit(1)).as("n"),
        sum(col("day").cast("decimal(38,0)")).as("sx"),
        sum(col("y").cast("decimal(38,0)")).as("sy"),
        sum(col("day").cast("decimal(38,0)") * col("day")).as("sxx"),
        sum(col("day").cast("decimal(38,0)") * col("y")).as("sxy"))
        .withColumn("cxx", col("n").cast("decimal(38,0)") * col("sxx")
          - col("sx") * col("sx"))
        .withColumn("cxy", col("n").cast("decimal(38,0)") * col("sxy")
          - col("sx") * col("sy"))
      val e = d.join(m, Seq("event_type"))
        .select(col("event_type"), col("day"),
          (col("n").cast("decimal(38,0)") * col("cxx") * col("y")
            - col("cxx") * col("sy")
            - col("n").cast("decimal(38,0)") * col("cxy") * col("day")
            + col("cxy") * col("sx")).as("et"))
      val w = Window.partitionBy("event_type").orderBy("day")
      e.withColumn("ep", lag(col("et"), 1).over(w))
        .groupBy("event_type")
        .agg(count(lit(1)).as("n_days"),
          sum(col("et") * col("et")).as("see"),
          sum(when(col("ep").isNotNull,
            (col("et") - col("ep")) * (col("et") - col("ep")))
            .otherwise(lit(0).cast("decimal(38,0)"))).as("sd"))
        .select(col("event_type"), col("n_days"),
          r4d(col("sd").cast("double") / col("see").cast("double"))
            .as("dw"))
        .orderBy("event_type")
    }),

    // DAY-OF-WEEK UNIFORMITY χ² (§2.138) — is traffic actually
    // seasonal by weekday, as a TEST rather than ts_dow_seasonality's
    // profile? χ² against uniform E = N/7 rearranged to the
    // all-integer form Σ(7·O_d − N)²/(7N) (the agg_cochran_q
    // doubled-deviation trick at multiplier 7), over the full 7-day
    // spine so an empty weekday still contributes. One reduce, one
    // division.
    "ts_dow_uniformity_chi2" -> ((s, dir) => {
      val d = events(s, dir)
        .select(col("event_type"), (epochDay("ts") % 7).as("dow"))
        .groupBy("event_type", "dow").agg(count(lit(1)).as("o"))
      val spine = events(s, dir).select("event_type").distinct()
        .crossJoin(s.range(0, 7).toDF("dow"))
      val cell = spine.join(d, Seq("event_type", "dow"), "left")
        .select(col("event_type"), col("dow"),
          coalesce(col("o"), lit(0L)).as("o"))
      val tot = cell.groupBy("event_type")
        .agg(sum(col("o")).cast("long").as("ntot"))
      cell.join(tot, Seq("event_type"))
        .select(col("event_type"), col("ntot"),
          ((lit(7L) * col("o") - col("ntot")).cast("decimal(38,0)")
            * (lit(7L) * col("o") - col("ntot"))).as("dev2"))
        .groupBy("event_type", "ntot")
        .agg(sum(col("dev2")).cast("decimal(38,0)").as("sdev2"))
        .select(col("event_type"), col("ntot").as("n_events"),
          lit(6L).as("df"),
          r4d(col("sdev2").cast("double")
            / (lit(7.0) * col("ntot").cast("double"))).as("chi2"))
        .orderBy("event_type")
    }),

    // SEASONAL / TREND STRENGTH (§2.135) — the Hyndman feasts-style
    // scalars on top of ts_stl_decompose's components: F_seasonal =
    // max(0, 1 − Var(resid)/Var(detrended)) and F_trend =
    // max(0, 1 − Var(resid)/Var(deseasonalized)) per type — the two
    // numbers a forecasting router reads before picking a model.
    // Same 1/7-unit integer pipeline as STL (trend7 = 7-day window
    // SUM, detr7 = 7y − trend7 exact); the residual and the
    // deseasonalized series subtract the per-(type,dow) seasonal
    // mean (one exact division per bounded cell), so those two are
    // snapped to milli-units (floor·10³ of the identical IEEE chain)
    // before their DECIMAL(38,0) variance moments — no raw-double
    // sum anywhere. Complete-window days only, the STL edge rule.
    "ts_seasonal_strength" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val w7 = Window.partitionBy("event_type").orderBy("day")
        .rowsBetween(-3, 3)
      val d = zeroFilledDaily(s, dir)
        .withColumn("nwin", count(lit(1)).over(w7))
        .withColumn("trend7",
          when(col("nwin") === 7, sum(col("y")).over(w7)))
        .withColumn("dow", col("day") % 7)
        .withColumn("detr7", lit(7) * col("y") - col("trend7"))
        .filter(col("detr7").isNotNull)
      val seasonal = d.groupBy("event_type", "dow")
        .agg((sum(col("detr7")).cast("double")
          / count(lit(1)).cast("double")).as("seasonal7"))
      val x = d.join(broadcast(seasonal), Seq("event_type", "dow"))
        .select(col("event_type"), col("detr7"),
          floor((col("detr7").cast("double") - col("seasonal7"))
            * lit(1000.0)).cast("long").as("res3"),
          floor((lit(7.0) * col("y").cast("double") - col("seasonal7"))
            * lit(1000.0)).cast("long").as("des3"))
      def varTerm(c: String) =
        (count(lit(1)).cast("decimal(38,0)")
          * sum(col(c).cast("decimal(38,0)") * col(c))
          - sum(col(c).cast("decimal(38,0)"))
            * sum(col(c).cast("decimal(38,0)"))).cast("double")
      x.groupBy("event_type")
        .agg(count(lit(1)).as("n_days"),
          varTerm("res3").as("vres"),
          varTerm("des3").as("vdes"),
          (count(lit(1)).cast("decimal(38,0)")
            * sum((col("detr7") * 1000).cast("decimal(38,0)")
              * (col("detr7") * 1000))
            - sum((col("detr7") * 1000).cast("decimal(38,0)"))
              * sum((col("detr7") * 1000).cast("decimal(38,0)")))
            .cast("double").as("vdet"))
        .select(col("event_type"), col("n_days"),
          r4d(greatest(lit(0.0),
            lit(1.0) - col("vres") / col("vdet"))).as("f_seasonal"),
          r4d(greatest(lit(0.0),
            lit(1.0) - col("vres") / col("vdes"))).as("f_trend"))
        .orderBy("event_type")
    }),

    // ANSI FILTER-CLAUSE AGGREGATES + bool_and/bool_or — the
    // conditional-aggregation SQL surface (`agg(...) FILTER (WHERE p)`)
    // that replaces the CASE-WHEN-inside-SUM idiom (sql_tpch_q14's
    // spelling) with the standard form, plus the boolean reducers.
    // Catalyst compiles FILTER into the aggregate's input predicate —
    // still one two-phase hash agg, no extra pass (same plan family as
    // the flagship). Money sums ride the decimal convention INSIDE the
    // filter; counts stay BIGINT.
    "agg_filter_clause" -> ((s, dir) => {
      s.sql(s"""SELECT l_returnflag,
        |  count(*) AS n_all,
        |  count(*) FILTER (WHERE l_quantity > 25) AS n_heavy,
        |  CAST(ROUND(SUM(CAST(l_extendedprice * (1 - l_discount)
        |      AS DECIMAL(38,6))) FILTER (WHERE l_discount > 0.05), 4)
        |    AS DOUBLE) AS deep_disc_revenue,
        |  bool_and(l_quantity >= 1) AS all_qty_positive,
        |  bool_or(l_discount > 0.09) AS any_deep_discount
        |FROM parquet.`$dir/lineitem.parquet`
        |GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin)
    }),

    // ROLLING MEDIAN — exact 7-day trailing median of daily volume per
    // type over the zero-filled spine: the robust baseline next to
    // win_moving_avg's mean (one outlier day drags a mean for a week;
    // the median shrugs — the difference ts_anomaly_mad exploits
    // corpus-wide, here as a windowed series). percentile() as a
    // WINDOW aggregate over a ROWS frame; counts are integers, so the
    // only float op is the midpoint interpolation on even windows —
    // (a+b)/2 on integer-valued doubles, exact in both engines (the
    // agg_stats percentile≡quantile_cont parity, now in a frame).
    // Leading edge keeps the partial window (n < 7) — same contract as
    // win_moving_avg.
    //
    // Scale: the corpus collapses to |types|×|days| rows in the
    // pre-agg exchange; ONE window node hosts the frame; the per-row
    // sort cost is bounded by the 7-row frame.
    "win_rolling_median" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy(col("event_type")).orderBy(col("day"))
        .rowsBetween(-6, 0)
      zeroFilledDaily(s, dir)
        .select(col("event_type"), col("day"), col("y"),
          r4d(expr("percentile(y, 0.5)").over(w)).as("med7"))
        .orderBy("event_type", "day")
    }),

    // RECURSIVE CTE — the iterative SQL surface (Spark 4's
    // WITH RECURSIVE): every supplier walks the synthetic binary-tree
    // hierarchy parent(n) = ⌊n/2⌋ to the root, emitting one row per
    // ancestor — transitive closure with a data-dependent depth no
    // UNION chain can express statically, planned as Spark's
    // UnionLoop (pinned). Spelling identical in both engines:
    // CAST(floor(node / 2) AS BIGINT) — `div`/`//` differ between
    // dialects and a bare CAST of n/2 rounds half-AWAY in DuckDB but
    // truncates in Spark, exactly the .5 trap floor() removes. Depth
    // caps at ⌈log₂ max(s_suppkey)⌉ ≈ 11 — far under Spark's
    // recursion limit; outputs are exact integers (path sum CAST
    // before the HUGEINT divergence).
    "sql_recursive_cte" -> ((s, dir) => {
      s.sql(s"""WITH RECURSIVE walk(k, node, depth) AS (
        |  SELECT s_suppkey, CAST(s_suppkey AS BIGINT), 0
        |  FROM parquet.`$dir/supplier.parquet`
        |  UNION ALL
        |  SELECT k, CAST(floor(node / 2) AS BIGINT), depth + 1
        |  FROM walk WHERE node > 1)
        |SELECT k AS s_suppkey, CAST(max(depth) AS BIGINT) AS n_hops,
        |  CAST(sum(node) AS BIGINT) AS path_sum
        |FROM walk GROUP BY k ORDER BY s_suppkey""".stripMargin)
    }),

    // TPC-H Q22 — global-sales-opportunity: the ANTI JOIN + UNCORRELATED
    // SCALAR AVERAGE composition (positive-balance average as a 1-row
    // subquery every probe row compares against, NOT EXISTS orders →
    // anti join; with q17 and q21 this closes the structurally
    // distinct TPC-H planner-shape set). The spec's phone-prefix
    // country codes adapt to a 7-key c_nationkey IN list (same
    // selectivity role). Determinism: the scalar average is spelled as
    // the exact decimal sum ÷ count in ONE double division in both
    // engines — a raw AVG(double) differs in the last ulp with
    // partial-agg order, which a threshold comparison would amplify
    // into row membership flips.
    "sql_tpch_q22" -> ((s, dir) => {
      s.sql(s"""SELECT CAST(c_nationkey AS BIGINT) AS cntrycode,
        |  count(*) AS numcust,
        |  ${sqlSum("c_acctbal")} AS totacctbal
        |FROM parquet.`$dir/customer.parquet`
        |WHERE c_nationkey IN (3, 7, 11, 13, 17, 19, 23)
        |  AND c_acctbal > (
        |    SELECT CAST(SUM(CAST(c_acctbal AS DECIMAL(38,6))) AS DOUBLE)
        |      / COUNT(*)
        |    FROM parquet.`$dir/customer.parquet`
        |    WHERE c_acctbal > 0.0
        |      AND c_nationkey IN (3, 7, 11, 13, 17, 19, 23))
        |  AND NOT EXISTS (
        |    SELECT 1 FROM parquet.`$dir/orders.parquet`
        |    WHERE o_custkey = c_custkey AND o_totalprice > 400000)
        |GROUP BY c_nationkey
        |ORDER BY cntrycode""".stripMargin)
    })
  )

  val oracle: Map[String, String] = Map(
    // Same spine, same mod-7 weekend set, identical edge chain.
    "ts_weekend_effect" ->
      s"""WITH e AS (SELECT event_type, ${sqlEpochDay("ts")} AS day
         |  FROM events),
         |d0 AS (SELECT event_type, day, count(*) AS y FROM e
         |  GROUP BY 1, 2),
         |b AS (SELECT min(day) AS lo, max(day) AS hi FROM e),
         |ty AS (SELECT DISTINCT event_type FROM e),
         |spine AS (SELECT event_type, unnest(range(lo, hi + 1)) AS day
         |  FROM ty CROSS JOIN b),
         |f AS (SELECT s.event_type, s.day, COALESCE(d0.y, 0) AS y,
         |    s.day % 7 IN (2, 3) AS wk
         |  FROM spine s LEFT JOIN d0 USING (event_type, day)),
         |g AS (SELECT event_type,
         |    count(*) FILTER (WHERE wk) AS nwe,
         |    count(*) FILTER (WHERE NOT wk) AS nwd,
         |    CAST(sum(CASE WHEN wk THEN y ELSE 0 END) AS BIGINT)
         |      AS ywe,
         |    CAST(sum(CASE WHEN NOT wk THEN y ELSE 0 END) AS BIGINT)
         |      AS ywd
         |  FROM f GROUP BY 1)
         |SELECT event_type,
         |  ROUND(CAST(ywe AS DOUBLE) / CAST(nwe AS DOUBLE) * 10000)
         |    / 10000 AS weekend_mean,
         |  ROUND(CAST(ywd AS DOUBLE) / CAST(nwd AS DOUBLE) * 10000)
         |    / 10000 AS weekday_mean,
         |  ROUND((CAST(ywe AS DOUBLE) / CAST(nwe AS DOUBLE))
         |    / (CAST(ywd AS DOUBLE) / CAST(nwd AS DOUBLE)) * 10000)
         |    / 10000 AS ratio,
         |  ROUND((CAST(ywe AS DOUBLE) / CAST(nwe AS DOUBLE)
         |    - CAST(ywd AS DOUBLE) / CAST(nwd AS DOUBLE)) * 10000)
         |    / 10000 + 0.0 AS diff
         |FROM g ORDER BY event_type""".stripMargin,
    // Same spine, exact MR sum, the 2.66 literal, identical limits
    // and violation comparison.
    "ts_control_limits" ->
      s"""WITH e AS (SELECT event_type, ${sqlEpochDay("ts")} AS day
         |  FROM events),
         |d0 AS (SELECT event_type, day, count(*) AS y FROM e
         |  GROUP BY 1, 2),
         |b AS (SELECT min(day) AS lo, max(day) AS hi FROM e),
         |ty AS (SELECT DISTINCT event_type FROM e),
         |spine AS (SELECT event_type, unnest(range(lo, hi + 1)) AS day
         |  FROM ty CROSS JOIN b),
         |f AS (SELECT s.event_type, s.day, COALESCE(d0.y, 0) AS y
         |  FROM spine s LEFT JOIN d0 USING (event_type, day)),
         |l AS (SELECT *, lag(y) OVER (PARTITION BY event_type
         |    ORDER BY day) AS py FROM f),
         |g AS (SELECT event_type, count(*) AS n_days,
         |    CAST(sum(y) AS BIGINT) AS sy,
         |    CAST(sum(CASE WHEN py IS NOT NULL THEN abs(y - py)
         |      ELSE 0 END) AS BIGINT) AS smr,
         |    count(*) FILTER (WHERE py IS NOT NULL) AS nmr
         |  FROM l GROUP BY 1),
         |lim AS (SELECT event_type, n_days,
         |    CAST(sy AS DOUBLE) / CAST(n_days AS DOUBLE) AS center,
         |    CAST(sy AS DOUBLE) / CAST(n_days AS DOUBLE)
         |      + 2.66 * (CAST(smr AS DOUBLE) / CAST(nmr AS DOUBLE))
         |      AS ucl,
         |    greatest(0.0, CAST(sy AS DOUBLE) / CAST(n_days AS DOUBLE)
         |      - 2.66 * (CAST(smr AS DOUBLE) / CAST(nmr AS DOUBLE)))
         |      AS lcl
         |  FROM g)
         |SELECT f.event_type, n_days,
         |  ROUND(center * 10000) / 10000 AS center,
         |  ROUND(ucl * 10000) / 10000 AS ucl,
         |  ROUND(lcl * 10000) / 10000 AS lcl,
         |  count(*) FILTER (WHERE CAST(y AS DOUBLE) > ucl
         |    OR CAST(y AS DOUBLE) < lcl) AS n_violations
         |FROM f JOIN lim USING (event_type)
         |GROUP BY 1, 2, center, ucl, lcl
         |ORDER BY event_type""".stripMargin,
    // Same multiplied-through integer residuals (scale cancels in
    // DW), HUGEINT sums, one division.
    "ts_durbin_watson" ->
      s"""WITH e AS (SELECT event_type, ${sqlEpochDay("ts")} AS day
         |  FROM events),
         |d0 AS (SELECT event_type, day, count(*) AS y FROM e
         |  GROUP BY 1, 2),
         |b AS (SELECT min(day) AS lo, max(day) AS hi FROM e),
         |ty AS (SELECT DISTINCT event_type FROM e),
         |spine AS (SELECT event_type, unnest(range(lo, hi + 1)) AS day
         |  FROM ty CROSS JOIN b),
         |f AS (SELECT s.event_type, s.day, COALESCE(d0.y, 0) AS y
         |  FROM spine s LEFT JOIN d0 USING (event_type, day)),
         |m AS (SELECT event_type, count(*) AS n,
         |    CAST(sum(CAST(day AS HUGEINT)) AS HUGEINT) AS sx,
         |    CAST(sum(CAST(y AS HUGEINT)) AS HUGEINT) AS sy,
         |    CAST(sum(CAST(day AS HUGEINT) * day) AS HUGEINT) AS sxx,
         |    CAST(sum(CAST(day AS HUGEINT) * y) AS HUGEINT) AS sxy
         |  FROM f GROUP BY 1),
         |m2 AS (SELECT *, CAST(n AS HUGEINT) * sxx - sx * sx AS cxx,
         |    CAST(n AS HUGEINT) * sxy - sx * sy AS cxy FROM m),
         |ee AS (SELECT f.event_type, f.day,
         |    CAST(n AS HUGEINT) * cxx * y - cxx * sy
         |      - CAST(n AS HUGEINT) * cxy * day + cxy * sx AS et
         |  FROM f JOIN m2 USING (event_type)),
         |lg AS (SELECT event_type, et, lag(et) OVER (
         |    PARTITION BY event_type ORDER BY day) AS ep FROM ee),
         |a AS (SELECT event_type, count(*) AS n_days,
         |    CAST(sum(et * et) AS HUGEINT) AS see,
         |    CAST(sum(CASE WHEN ep IS NOT NULL
         |      THEN (et - ep) * (et - ep) ELSE 0 END) AS HUGEINT)
         |      AS sd
         |  FROM lg GROUP BY 1)
         |SELECT event_type, n_days,
         |  ROUND(CAST(sd AS DOUBLE) / CAST(see AS DOUBLE) * 10000)
         |    / 10000 AS dw
         |FROM a ORDER BY event_type""".stripMargin,
    // Same 7-day spine and doubled-deviation integers.
    "ts_dow_uniformity_chi2" ->
      s"""WITH d AS (SELECT event_type, ${sqlEpochDay("ts")} % 7
         |    AS dow, count(*) AS o
         |  FROM events GROUP BY 1, 2),
         |ty AS (SELECT DISTINCT event_type FROM events),
         |spine AS (SELECT event_type, range AS dow
         |  FROM ty CROSS JOIN range(0, 7)),
         |cell AS (SELECT s.event_type, s.dow, COALESCE(o, 0) AS o
         |  FROM spine s LEFT JOIN d USING (event_type, dow)),
         |tot AS (SELECT event_type, CAST(sum(o) AS BIGINT) AS ntot
         |  FROM cell GROUP BY 1),
         |a AS (SELECT cell.event_type, ntot,
         |    CAST(sum(CAST(7 * o - ntot AS HUGEINT) * (7 * o - ntot))
         |      AS HUGEINT) AS sdev2
         |  FROM cell JOIN tot USING (event_type) GROUP BY 1, 2)
         |SELECT event_type, ntot AS n_events, CAST(6 AS BIGINT) AS df,
         |  ROUND(CAST(sdev2 AS DOUBLE) / (7.0 * CAST(ntot AS DOUBLE))
         |    * 10000) / 10000 AS chi2
         |FROM a ORDER BY event_type""".stripMargin,
    // Same STL integer pipeline, same milli-unit snaps, same
    // n·Σx²−(Σx)² variance terms.
    "ts_seasonal_strength" ->
      s"""WITH e AS (SELECT event_type, ${sqlEpochDay("ts")} AS day
         |  FROM events),
         |d0 AS (SELECT event_type, day, count(*) AS y FROM e
         |  GROUP BY 1, 2),
         |b AS (SELECT min(day) AS lo, max(day) AS hi FROM e),
         |ty AS (SELECT DISTINCT event_type FROM e),
         |spine AS (SELECT event_type, unnest(range(lo, hi + 1)) AS day
         |  FROM ty CROSS JOIN b),
         |f AS (SELECT s.event_type, s.day, COALESCE(d0.y, 0) AS y
         |  FROM spine s LEFT JOIN d0 USING (event_type, day)),
         |t AS (SELECT event_type, day, y,
         |    count(*) OVER w AS nwin, CAST(sum(y) OVER w AS BIGINT)
         |      AS trend7, day % 7 AS dow
         |  FROM f WINDOW w AS (PARTITION BY event_type ORDER BY day
         |    ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING)),
         |dd AS (SELECT event_type, day, y, dow,
         |    7 * y - trend7 AS detr7
         |  FROM t WHERE nwin = 7),
         |se AS (SELECT event_type, dow,
         |    CAST(CAST(sum(detr7) AS BIGINT) AS DOUBLE)
         |      / CAST(count(*) AS DOUBLE) AS seasonal7
         |  FROM dd GROUP BY 1, 2),
         |x AS (SELECT dd.event_type, detr7,
         |    CAST(floor((CAST(detr7 AS DOUBLE) - seasonal7) * 1000.0)
         |      AS BIGINT) AS res3,
         |    CAST(floor((7.0 * CAST(y AS DOUBLE) - seasonal7)
         |      * 1000.0) AS BIGINT) AS des3
         |  FROM dd JOIN se USING (event_type, dow)),
         |a AS (SELECT event_type, count(*) AS n_days,
         |    CAST(CAST(count(*) AS HUGEINT)
         |        * sum(CAST(res3 AS HUGEINT) * res3)
         |      - sum(CAST(res3 AS HUGEINT))
         |        * sum(CAST(res3 AS HUGEINT)) AS DOUBLE) AS vres,
         |    CAST(CAST(count(*) AS HUGEINT)
         |        * sum(CAST(des3 AS HUGEINT) * des3)
         |      - sum(CAST(des3 AS HUGEINT))
         |        * sum(CAST(des3 AS HUGEINT)) AS DOUBLE) AS vdes,
         |    CAST(CAST(count(*) AS HUGEINT)
         |        * sum(CAST(detr7 * 1000 AS HUGEINT)
         |          * (detr7 * 1000))
         |      - sum(CAST(detr7 * 1000 AS HUGEINT))
         |        * sum(CAST(detr7 * 1000 AS HUGEINT)) AS DOUBLE)
         |      AS vdet
         |  FROM x GROUP BY 1)
         |SELECT event_type, n_days,
         |  ROUND(greatest(0.0, 1.0 - vres / vdet) * 10000) / 10000
         |    AS f_seasonal,
         |  ROUND(greatest(0.0, 1.0 - vres / vdes) * 10000) / 10000
         |    AS f_trend
         |FROM a ORDER BY event_type""".stripMargin,
    // Same 28-column pivot and the same 14 unrolled integer steps —
    // one CTE per step (DuckDB lateral aliases let b_t read l_t);
    // `//` ≡ Spark `div` on negatives (both truncate toward zero).
    // Same st28 chain; the error/total sums are the same integer
    // expressions.
    "ts_hw_backtest" -> {
      val errSum = (15 to 28)
        .map(t => s"abs(y$t * 1000000 - p$t)").mkString("\n  + ")
      val ySum = (15 to 28).map(t => s"y$t").mkString(" + ")
      s"""$holtWintersOracleCtes,
         |u AS (SELECT event_type,
         |    CAST($errSum AS BIGINT) AS err6,
         |    CAST($ySum AS BIGINT) AS ytot
         |  FROM st28)
         |SELECT event_type, CAST(14 AS BIGINT) AS n_steps,
         |  ROUND(CAST(err6 AS DOUBLE) / 14.0 / 1000000.0 * 10000)
         |    / 10000 AS mae,
         |  ROUND(CAST(err6 AS DOUBLE) / CAST(ytot * 1000000 AS DOUBLE)
         |    * 10000) / 10000 AS wape
         |FROM u ORDER BY event_type""".stripMargin
    },
    "ts_holt_winters" -> {
      val union = (15 to 28).map(t =>
        s"SELECT event_type, $t AS step, y$t AS y, p$t AS pm, " +
          s"l$t AS lm, b$t AS bm, s$t AS sm FROM st28")
        .mkString("\n  UNION ALL ")
      s"""$holtWintersOracleCtes,
         |u AS ($union)
         |SELECT event_type, CAST(step AS BIGINT) AS step, y,
         |  ROUND(CAST(pm AS DOUBLE) / 1000000.0 * 10000) / 10000 + 0.0
         |    AS fitted,
         |  ROUND(CAST(lm AS DOUBLE) / 1000000.0 * 10000) / 10000 + 0.0
         |    AS level,
         |  ROUND(CAST(bm AS DOUBLE) / 1000000.0 * 10000) / 10000 + 0.0
         |    AS trend,
         |  ROUND(CAST(sm AS DOUBLE) / 1000000.0 * 10000) / 10000 + 0.0
         |    AS seasonal
         |FROM u ORDER BY event_type, step""".stripMargin
    },
    // Same spine/pivot prelude as Holt-Winters; the gain literals come
    // from the SAME kalmanGains schedule, so the two engines cannot
    // disagree on a constant.
    "ts_kalman_smooth" -> {
      val piv = (1 to 28).map(i =>
        s"CAST(max(CASE WHEN rn = $i THEN y END) AS BIGINT) AS y$i")
        .mkString(",\n    ")
      val steps = (2 to 28).map { t =>
        s"""k$t AS (SELECT *, y$t * 1000000 - l${t - 1} AS i$t,
           |    l${t - 1} + (${kalmanGains(t)} * i$t) // 1000000 AS l$t
           |  FROM k${t - 1})""".stripMargin
      }.mkString(",\n")
      val union = (2 to 28).map(t =>
        s"SELECT event_type, $t AS step, y$t AS y, i$t AS im, " +
          s"l$t AS lm, ${kalmanGains(t)} AS k6 FROM k28")
        .mkString("\n  UNION ALL ")
      s"""WITH e AS (SELECT event_type, ${sqlEpochDay("ts")} AS day
         |  FROM events),
         |d AS (SELECT event_type, day, count(*) AS y FROM e
         |  GROUP BY 1, 2),
         |b AS (SELECT min(day) AS lo, max(day) AS hi FROM e),
         |ty AS (SELECT DISTINCT event_type FROM e),
         |spine AS (SELECT event_type, unnest(range(lo, hi + 1)) AS day
         |  FROM ty CROSS JOIN b),
         |f AS (SELECT s.event_type, s.day, COALESCE(d.y, 0) AS y,
         |    row_number() OVER (PARTITION BY s.event_type
         |      ORDER BY s.day) AS rn
         |  FROM spine s LEFT JOIN d USING (event_type, day)),
         |piv AS (SELECT event_type,
         |    $piv
         |  FROM f WHERE rn <= 28 GROUP BY 1),
         |k1 AS (SELECT *, y1 * 1000000 AS l1 FROM piv),
         |$steps,
         |u AS ($union)
         |SELECT event_type, CAST(step AS BIGINT) AS step, y,
         |  ROUND(CAST(lm AS DOUBLE) / 1000000.0 * 10000) / 10000 + 0.0
         |    AS level,
         |  ROUND(CAST(im AS DOUBLE) / 1000000.0 * 10000) / 10000 + 0.0
         |    AS innovation,
         |  ROUND(CAST(k6 AS DOUBLE) / 1000000.0 * 10000) / 10000 + 0.0
         |    AS gain
         |FROM u ORDER BY event_type, step""".stripMargin
    },
    "path_frequent_episodes" ->
      """WITH e AS (SELECT user_id, event_id, event_type,
        |    epoch_ms(ts) AS ms FROM events),
        |l AS (SELECT user_id, event_type AS t,
        |    lead(event_type, 1) OVER w AS l1,
        |    lead(event_type, 2) OVER w AS l2,
        |    lead(event_type, 3) OVER w AS l3,
        |    lead(event_type, 4) OVER w AS l4
        |  FROM e WINDOW w AS (PARTITION BY user_id
        |    ORDER BY ms, event_id)),
        |x AS (SELECT user_id, t AS t1, l1 AS t2, l2 AS t3 FROM l
        |  UNION ALL SELECT user_id, t, l1, l3 FROM l
        |  UNION ALL SELECT user_id, t, l2, l3 FROM l
        |  UNION ALL SELECT user_id, t, l2, l4 FROM l)
        |SELECT t1, t2, t3, count(*) AS n_occurrences,
        |  count(DISTINCT user_id) AS n_users
        |FROM x WHERE t2 IS NOT NULL AND t3 IS NOT NULL
        |GROUP BY 1, 2, 3 ORDER BY t1, t2, t3""".stripMargin,
    "funnel_stages" ->
      """WITH e AS (SELECT user_id, event_type, epoch_ms(ts) AS ms FROM events),
        |v AS (SELECT user_id, min(ms) AS t FROM e
        |      WHERE event_type = 'view' GROUP BY 1),
        |c AS (SELECT e.user_id, min(ms) AS t FROM e JOIN v USING (user_id)
        |      WHERE event_type = 'click' AND e.ms > v.t GROUP BY 1),
        |p AS (SELECT e.user_id, min(ms) AS t FROM e JOIN c USING (user_id)
        |      WHERE event_type = 'purchase' AND e.ms > c.t GROUP BY 1)
        |SELECT * FROM (
        |  SELECT 1 AS stage, 'view' AS event_type, count(*) AS n_users FROM v
        |  UNION ALL SELECT 2, 'click', count(*) FROM c
        |  UNION ALL SELECT 3, 'purchase', count(*) FROM p)
        |ORDER BY stage""".stripMargin,
    "hist_values" ->
      s"""SELECT CAST(least(greatest(floor(value / 10.0), 0), 19) AS INT) AS bucket,
         |count(*) AS n, ${sqlSum("value")} AS sum_value
         |FROM events GROUP BY 1 ORDER BY bucket""".stripMargin,
    "cohort_retention" ->
      s"""WITH e AS (SELECT user_id, ${sqlEpochDay("ts")} AS day FROM events),
        |c AS (SELECT user_id, min(day) AS cohort_day FROM e GROUP BY 1)
        |SELECT cohort_day, day - cohort_day AS day_offset,
        |  count(DISTINCT user_id) AS n_users
        |FROM e JOIN c USING (user_id)
        |GROUP BY 1, 2 ORDER BY cohort_day, day_offset""".stripMargin,
    "hist_equidepth" ->
      """SELECT bucket, count(*) AS n, min(value) AS lo, max(value) AS hi
        |FROM (SELECT value,
        |  CAST(least(floor(cume_dist() OVER (ORDER BY value) * 4), 3) AS INT)
        |    AS bucket FROM events)
        |GROUP BY bucket ORDER BY bucket""".stripMargin,
    "ts_gapfill_daily" ->
      s"""WITH e AS (SELECT ${sqlEpochDay("ts")} AS day, event_type,
         |    value, props FROM events),
         |hv AS (SELECT day, count(*) AS n, ${sqlSum("value")} AS sum_value
         |  FROM e WHERE event_type = 'purchase'
         |    AND CAST(json_extract_string(props, '$$.k') AS BIGINT) < 10
         |  GROUP BY 1),
         |b AS (SELECT min(day) AS lo, max(day) AS hi FROM e),
         |days AS (SELECT unnest(range(lo, hi + 1)) AS day FROM b)
         |SELECT day, coalesce(n, 0) AS n, coalesce(sum_value, 0.0) AS sum_value
         |FROM days LEFT JOIN hv USING (day) ORDER BY day""".stripMargin,
    "ts_sessionize" ->
      """WITH e AS (SELECT user_id, event_id, epoch_ms(ts) AS ms FROM events),
        |f AS (SELECT user_id, event_id, ms,
        |  CASE WHEN lag(ms) OVER w IS NULL
        |       OR ms - lag(ms) OVER w > 1800000 THEN 1 ELSE 0 END AS new_s
        |  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ms, event_id)),
        |s AS (SELECT user_id, ms, CAST(sum(new_s) OVER (PARTITION BY user_id
        |  ORDER BY ms, event_id ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_id
        |  FROM f)
        |SELECT user_id, session_id, count(*) AS n_events,
        |  min(ms) AS start_ms, max(ms) AS end_ms
        |FROM s GROUP BY 1, 2 ORDER BY user_id, session_id""".stripMargin,
    // The oracle takes the join spelling (first event per session via
    // row_number, attached back) — different shape, same answer, which
    // is exactly what makes the carry-forward trick worth pinning.
    "attribution_first_touch" ->
      """WITH e AS (SELECT user_id, event_id, event_type, epoch_ms(ts) AS ms
        |  FROM events),
        |f AS (SELECT user_id, event_id, event_type, ms,
        |  CASE WHEN lag(ms) OVER w IS NULL
        |       OR ms - lag(ms) OVER w > 1800000 THEN 1 ELSE 0 END AS new_s
        |  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ms, event_id)),
        |s AS (SELECT user_id, event_id, event_type, ms,
        |  CAST(sum(new_s) OVER (PARTITION BY user_id ORDER BY ms, event_id
        |    ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_id
        |  FROM f),
        |fs AS (SELECT user_id, session_id, event_type AS first_touch,
        |    ms AS sess_start_ms
        |  FROM (SELECT *, row_number() OVER (PARTITION BY user_id, session_id
        |      ORDER BY ms, event_id) AS rn FROM s)
        |  WHERE rn = 1)
        |SELECT s.event_id, s.user_id, s.session_id, fs.first_touch,
        |  fs.sess_start_ms
        |FROM s JOIN fs USING (user_id, session_id)
        |WHERE s.event_type = 'purchase' ORDER BY event_id""".stripMargin,
    "topk_trending_daily" ->
      s"""WITH c AS (SELECT ${sqlEpochDay("ts")} AS day,
         |    CAST(json_extract_string(props, '$$.k') AS BIGINT) AS kv,
         |    count(*) AS n
         |  FROM events GROUP BY 1, 2)
         |SELECT day, kv, n, rk FROM (
         |  SELECT *, CAST(row_number() OVER (PARTITION BY day
         |    ORDER BY n DESC, kv) AS BIGINT) AS rk FROM c)
         |WHERE rk <= 3 ORDER BY day, rk""".stripMargin,
    "sql_tpch_q18" ->
      s"""SELECT c_name, c_custkey, o_orderkey,
         |  CAST(o_orderdate AS DATE) AS o_orderdate, o_totalprice,
         |  ${sqlSum("l_quantity")} AS sum_qty
         |FROM customer
         |JOIN orders ON c_custkey = o_custkey
         |JOIN lineitem ON o_orderkey = l_orderkey
         |WHERE o_orderkey IN (
         |  SELECT l_orderkey FROM lineitem
         |  GROUP BY l_orderkey
         |  HAVING SUM(CAST(l_quantity AS DECIMAL(38,6))) > 200)
         |GROUP BY c_name, c_custkey, o_orderkey, o_orderdate, o_totalprice
         |ORDER BY o_totalprice DESC, o_orderdate, o_orderkey
         |LIMIT 100""".stripMargin,
    "sql_tpch_q3" ->
      s"""SELECT l_orderkey,
         |  ${sqlSum("l_extendedprice * (1 - l_discount)")} AS revenue,
         |  CAST(o_orderdate AS DATE) AS o_orderdate, o_orderpriority
         |FROM customer
         |JOIN orders ON c_custkey = o_custkey
         |JOIN lineitem ON l_orderkey = o_orderkey
         |WHERE c_mktsegment = 'BUILDING'
         |  AND o_orderdate < DATE '1997-03-15'
         |  AND l_shipdate > DATE '1997-03-15'
         |GROUP BY l_orderkey, o_orderdate, o_orderpriority
         |ORDER BY revenue DESC, o_orderdate, l_orderkey
         |LIMIT 10""".stripMargin,
    // Open/close spelled as rank-1 rows over the same unique
    // (ms, event_id) order the Spark struct-min/max encodes.
    "ts_resample_ohlc" ->
      s"""WITH e AS (SELECT event_type, ${sqlEpochDay("ts")} AS day,
         |    epoch_ms(ts) AS ms, event_id, value FROM events),
         |r AS (SELECT *,
         |  row_number() OVER (PARTITION BY event_type, day
         |    ORDER BY ms, event_id) AS ra,
         |  row_number() OVER (PARTITION BY event_type, day
         |    ORDER BY ms DESC, event_id DESC) AS rd FROM e)
         |SELECT event_type, day,
         |  max(CASE WHEN ra = 1 THEN value END) AS open,
         |  max(value) AS high, min(value) AS low,
         |  max(CASE WHEN rd = 1 THEN value END) AS close,
         |  count(*) AS n, ${sqlSum("value")} AS volume
         |FROM r GROUP BY 1, 2 ORDER BY event_type, day""".stripMargin,
    // The self-join form of the distance-weighted trailing window the
    // Spark side computes map-side; integer weights keep the weighted
    // sum in exact decimals on both engines.
    "ts_wma" ->
      """WITH e AS (SELECT user_id, event_id, value, epoch_ms(ts) AS ms,
        |  row_number() OVER (PARTITION BY user_id ORDER BY ms, event_id)
        |    AS rn FROM events),
        |j AS (SELECT a.user_id, a.event_id, b.value AS bv,
        |    20 - (a.rn - b.rn) AS wt
        |  FROM e a JOIN e b ON a.user_id = b.user_id
        |    AND b.rn BETWEEN a.rn - 19 AND a.rn)
        |SELECT user_id, event_id,
        |  ROUND(CAST(SUM(CAST(bv AS DECIMAL(38,6)) * wt) AS DOUBLE)
        |    / (COUNT(*) * (41 - COUNT(*)) // 2), 4) AS wma
        |FROM j GROUP BY user_id, event_id
        |ORDER BY user_id, event_id""".stripMargin,
    // Same sweep: −1 sorts before +1 at equal t (half-open windows),
    // event_id completes the unique order; the oracle's window cumsum
    // is the spelling GlobalRank.runningSum avoids at scale.
    "ts_concurrency_max" ->
      """WITH p AS (SELECT epoch_ms(ts) AS ms, event_id FROM events),
        |ends AS (SELECT ms AS t, CAST(1 AS BIGINT) AS d, event_id FROM p
        |  UNION ALL
        |  SELECT ms + 1800000, CAST(-1 AS BIGINT), event_id FROM p),
        |c AS (SELECT t, CAST(sum(d) OVER (ORDER BY t, d, event_id
        |  ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum FROM ends),
        |m AS (SELECT max(cum) AS mc FROM c)
        |SELECT mc AS max_concurrent, min(t) AS at_ms
        |FROM c, m WHERE cum = mc GROUP BY mc""".stripMargin,
    // Identical exact-decimal moment arithmetic; sqrt and the per-row z
    // are the only double ops, in the same expression order.
    "ts_anomaly_zscore" ->
      """WITH s AS (SELECT event_type, count(*) AS n,
        |    CAST(sum(CAST(value AS DECIMAL(18,2))) AS DECIMAL(18,2)) AS s,
        |    CAST(sum(CAST(value AS DECIMAL(18,2)) * CAST(value AS DECIMAL(18,2)))
        |      AS DECIMAL(18,4)) AS ss
        |  FROM events GROUP BY 1),
        |st AS (SELECT event_type, CAST(s AS DOUBLE) / n AS mean,
        |    sqrt(CAST(n * ss - s * s AS DOUBLE) / (n * (n - 1))) AS std
        |  FROM s WHERE n > 1 AND n * ss - s * s > 0),
        |z AS (SELECT event_id, e.event_type, value,
        |    ROUND((value - mean) / std, 4) AS z
        |  FROM events e JOIN st ON e.event_type = st.event_type)
        |SELECT event_id, event_type, value, z FROM z
        |WHERE abs(z) > 2.5 ORDER BY event_id""".stripMargin,
    "ts_interpolate_linear" ->
      s"""WITH e AS (SELECT event_type, ${sqlEpochDay("ts")} AS day, value
         |  FROM events),
         |daily AS (SELECT event_type, day, ${sqlAvg("value")} AS v
         |  FROM e WHERE day % 3 != 1 GROUP BY 1, 2),
         |b AS (SELECT event_type, min(day) AS lo, max(day) AS hi
         |  FROM e GROUP BY 1),
         |spine AS (SELECT event_type, unnest(range(lo, hi + 1)) AS day FROM b),
         |j AS (SELECT s.event_type, s.day, d.v
         |  FROM spine s LEFT JOIN daily d USING (event_type, day)),
         |w AS (SELECT event_type, day, v,
         |  last_value(v IGNORE NULLS) OVER wp AS vp,
         |  last_value(CASE WHEN v IS NOT NULL THEN day END IGNORE NULLS)
         |    OVER wp AS dp,
         |  first_value(v IGNORE NULLS) OVER wn AS vn,
         |  first_value(CASE WHEN v IS NOT NULL THEN day END IGNORE NULLS)
         |    OVER wn AS dn
         |  FROM j WINDOW
         |  wp AS (PARTITION BY event_type ORDER BY day
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
         |  wn AS (PARTITION BY event_type ORDER BY day
         |    ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING))
         |SELECT event_type, day,
         |  ROUND(CASE WHEN v IS NOT NULL THEN v
         |    WHEN vp IS NULL THEN vn
         |    WHEN vn IS NULL THEN vp
         |    ELSE vp + (vn - vp) * (day - dp) / (dn - dp) END, 4) AS v_filled,
         |  v IS NULL AS was_gap
         |FROM w ORDER BY event_type, day""".stripMargin,
    "sql_lateral_topn" ->
      """SELECT c.c_custkey, o.o_orderkey, o.o_totalprice
        |FROM customer c,
        |LATERAL (SELECT o_orderkey, o_totalprice FROM orders
        |         WHERE o_custkey = c.c_custkey
        |         ORDER BY o_totalprice DESC, o_orderkey LIMIT 2) o
        |WHERE c.c_acctbal > 5000
        |ORDER BY c.c_custkey, o.o_totalprice DESC, o.o_orderkey""".stripMargin,
    "agg_cumulative_distinct_daily" ->
      s"""WITH e AS (SELECT user_id, ${sqlEpochDay("ts")} AS day FROM events),
         |f AS (SELECT user_id, min(day) AS day FROM e GROUP BY 1),
         |dn AS (SELECT day, count(*) AS n_new FROM f GROUP BY 1),
         |b AS (SELECT min(day) AS lo, max(day) AS hi FROM e),
         |days AS (SELECT unnest(range(lo, hi + 1)) AS day FROM b),
         |j AS (SELECT day, coalesce(n_new, 0) AS n_new
         |  FROM days LEFT JOIN dn USING (day))
         |SELECT day, n_new, CAST(sum(n_new) OVER (ORDER BY day
         |  ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_users
         |FROM j ORDER BY day""".stripMargin,
    // The correlated range-join spelling of the same window counts —
    // fine at oracle scale, exactly what the contribute-explode avoids.
    "agg_wau_sliding_distinct" ->
      s"""WITH d0 AS (SELECT user_id, ${sqlEpochDay("ts")} AS day FROM events),
         |e AS (SELECT DISTINCT user_id, day FROM d0),
         |b AS (SELECT min(day) AS lo, max(day) AS hi FROM d0),
         |days AS (SELECT unnest(range(lo, hi + 1)) AS day FROM b),
         |w AS (SELECT d.day, count(DISTINCT e.user_id) AS wau
         |  FROM days d JOIN e ON e.day BETWEEN d.day - 6 AND d.day
         |  GROUP BY 1)
         |SELECT day, coalesce(wau, 0) AS wau
         |FROM days LEFT JOIN w USING (day) ORDER BY day""".stripMargin,
    "win_streak_longest" ->
      s"""WITH e AS (SELECT DISTINCT user_id, ${sqlEpochDay("ts")} AS day
         |  FROM events),
         |r AS (SELECT user_id, day, day - row_number() OVER
         |  (PARTITION BY user_id ORDER BY day) AS island FROM e),
         |i AS (SELECT user_id, island, count(*) AS len, min(day) AS start
         |  FROM r GROUP BY 1, 2),
         |x AS (SELECT user_id, len, start, row_number() OVER
         |  (PARTITION BY user_id ORDER BY len DESC, start) AS rk FROM i)
         |SELECT user_id, len AS longest_days, start AS start_day
         |FROM x WHERE rk = 1 ORDER BY user_id""".stripMargin,
    "path_transitions" ->
      """WITH e AS (SELECT user_id, event_id, event_type, epoch_ms(ts) AS ms
        |  FROM events),
        |p AS (SELECT user_id, event_type,
        |  lead(event_type) OVER (PARTITION BY user_id ORDER BY ms, event_id)
        |    AS next_type FROM e)
        |SELECT event_type AS from_type, next_type AS to_type,
        |  count(*) AS n, count(DISTINCT user_id) AS n_users
        |FROM p WHERE next_type IS NOT NULL
        |GROUP BY 1, 2 ORDER BY from_type, to_type""".stripMargin,
    "ts_level_shift" ->
      s"""WITH daily AS (SELECT event_type, ${sqlEpochDay("ts")} AS day,
         |    ${sqlAvg("value")} AS v
         |  FROM events GROUP BY 1, 2),
         |d AS (SELECT event_type, day, v,
         |    CAST(v AS DECIMAL(18,4)) AS dv FROM daily),
         |w AS (SELECT event_type, day, v,
         |  count(dv) OVER wb AS nb, count(dv) OVER wa AS na,
         |  sum(dv) OVER wb AS sb, sum(dv) OVER wa AS sa
         |  FROM d WINDOW
         |  wb AS (PARTITION BY event_type ORDER BY day
         |    ROWS BETWEEN 7 PRECEDING AND 1 PRECEDING),
         |  wa AS (PARTITION BY event_type ORDER BY day
         |    ROWS BETWEEN 1 FOLLOWING AND 7 FOLLOWING)),
         |f AS (SELECT event_type, day, v,
         |  CASE WHEN nb = 7 AND na = 7 THEN
         |    ROUND((CAST(sa AS DOUBLE) / na - CAST(sb AS DOUBLE) / nb)
         |      * 10000.0) / 10000.0 + 0.0 END AS shift
         |  FROM w)
         |SELECT event_type, day, v, shift,
         |  CASE WHEN shift IS NOT NULL THEN
         |    CAST(abs(shift) > 1.0 AS BIGINT) END AS is_shift
         |FROM f ORDER BY event_type, day""".stripMargin,
    // Same prev-running-max island spelling; the covered_ms sum is an
    // uncast SUM(BIGINT) in DuckDB (HUGEINT) — CAST keeps the driver's
    // type-sensitive hash aligned (the round-6 lesson, SURVEY §2.20).
    "ts_interval_coverage" ->
      """WITH e AS (SELECT user_id, event_id, epoch_ms(ts) AS start_ms,
        |    epoch_ms(ts) + CAST(round(value * 100) AS BIGINT) * 600 AS end_ms
        |  FROM events),
        |f AS (SELECT user_id, event_id, start_ms, end_ms,
        |  CASE WHEN max(end_ms) OVER (PARTITION BY user_id
        |      ORDER BY start_ms, event_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) >= start_ms
        |    THEN 0 ELSE 1 END AS new_iv FROM e),
        |s AS (SELECT user_id, start_ms, end_ms,
        |  CAST(sum(new_iv) OVER (PARTITION BY user_id
        |    ORDER BY start_ms, event_id ROWS UNBOUNDED PRECEDING) AS BIGINT)
        |    AS island FROM f),
        |iv AS (SELECT user_id, island, min(start_ms) AS iv_start,
        |    max(end_ms) AS iv_end
        |  FROM s GROUP BY 1, 2)
        |SELECT user_id, count(*) AS n_intervals,
        |  CAST(sum(iv_end - iv_start) AS BIGINT) AS covered_ms,
        |  max(iv_end - iv_start) AS longest_ms
        |FROM iv GROUP BY 1 ORDER BY user_id""".stripMargin,
    // Same spine, same single-window lags, winner on exact integer
    // error sums (HUGEINT-cast before nothing — the sums only feed
    // the compare and the divisions).
    "topk_rank_delta" ->
      """WITH wk AS (SELECT l_partkey AS part,
        |    (epoch_ms(l_shipdate) // 86400000) // 7 AS week,
        |    CAST(round(l_extendedprice * 100) AS BIGINT) AS cents
        |  FROM lineitem),
        |rev AS (SELECT week, part, CAST(sum(cents) AS BIGINT) AS rev
        |  FROM wk GROUP BY 1, 2),
        |r AS (SELECT week, part, rev,
        |    row_number() OVER (PARTITION BY week
        |      ORDER BY rev DESC, part) AS rnk
        |  FROM rev),
        |l AS (SELECT week, part, rnk,
        |    lag(rnk) OVER w AS prev_rnk,
        |    lag(week) OVER w AS prev_week
        |  FROM r WINDOW w AS (PARTITION BY part ORDER BY week))
        |SELECT week, part, rnk,
        |  CASE WHEN prev_week = week - 1 THEN prev_rnk END AS prev_rnk,
        |  CASE WHEN prev_week = week - 1 THEN prev_rnk - rnk END
        |    AS rank_delta
        |FROM l WHERE rnk <= 20 ORDER BY week, rnk""".stripMargin,
    // Same lifespan spine and suffix sums; exact 2·ns ≤ n test.
    "agg_median_survival_time" ->
      s"""WITH lif AS (SELECT user_id,
         |    max(${sqlEpochDay("ts")}) - min(${sqlEpochDay("ts")})
         |      AS lifespan
         |  FROM events GROUP BY 1),
         |h AS (SELECT lifespan, count(*) AS c FROM lif GROUP BY 1),
         |b AS (SELECT max(lifespan) AS mx, count(*) AS n_users
         |  FROM lif),
         |spine AS (SELECT n_users, unnest(range(0, mx + 1)) AS k
         |  FROM b),
         |j AS (SELECT n_users, k, coalesce(c, 0) AS c
         |  FROM spine LEFT JOIN h ON k = lifespan),
         |s AS (SELECT n_users, k,
         |    CAST(sum(c) OVER (ORDER BY k DESC
         |      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS ns
         |  FROM j),
         |med AS (SELECT min(k) AS median_lifespan_days FROM s
         |  WHERE ns * 2 <= n_users),
         |a7 AS (SELECT max(ns) AS ns7 FROM s WHERE k = 7),
         |a14 AS (SELECT max(ns) AS ns14 FROM s WHERE k = 14),
         |a28 AS (SELECT max(ns) AS ns28 FROM s WHERE k = 28)
         |SELECT n_users, median_lifespan_days,
         |  ROUND(CAST(coalesce(ns7, 0) AS DOUBLE)
         |    / CAST(n_users AS DOUBLE) * 10000) / 10000 AS s7,
         |  ROUND(CAST(coalesce(ns14, 0) AS DOUBLE)
         |    / CAST(n_users AS DOUBLE) * 10000) / 10000 AS s14,
         |  ROUND(CAST(coalesce(ns28, 0) AS DOUBLE)
         |    / CAST(n_users AS DOUBLE) * 10000) / 10000 AS s28
         |FROM b CROSS JOIN med CROSS JOIN a7 CROSS JOIN a14
         |  CROSS JOIN a28""".stripMargin,
    "agg_survival_curve" ->
      s"""WITH lif AS (SELECT user_id,
         |    max(${sqlEpochDay("ts")}) - min(${sqlEpochDay("ts")})
         |      AS lifespan
         |  FROM events GROUP BY 1),
         |h AS (SELECT lifespan, count(*) AS c FROM lif GROUP BY 1),
         |b AS (SELECT max(lifespan) AS mx, count(*) AS n_users FROM lif),
         |spine AS (SELECT n_users, unnest(range(0, mx + 1)) AS k FROM b),
         |j AS (SELECT n_users, k, coalesce(c, 0) AS c
         |  FROM spine LEFT JOIN h ON k = lifespan),
         |s AS (SELECT n_users, k,
         |    CAST(sum(c) OVER (ORDER BY k DESC
         |      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS n_survivors
         |  FROM j)
         |SELECT k, n_survivors,
         |  ROUND(CAST(n_survivors AS DOUBLE) / CAST(n_users AS DOUBLE)
         |    * 10000.0) / 10000.0 AS survival
         |FROM s ORDER BY k""".stripMargin,
    "agg_dormancy_buckets" ->
      s"""WITH e AS (SELECT user_id, ${sqlEpochDay("ts")} AS day
         |  FROM events),
         |b AS (SELECT max(day) AS hi FROM e),
         |u AS (SELECT user_id, min(hi - day) AS dormant_days
         |  FROM e CROSS JOIN b GROUP BY 1),
         |k AS (SELECT CASE WHEN dormant_days <= 6 THEN '0-6'
         |    WHEN dormant_days <= 13 THEN '7-13'
         |    WHEN dormant_days <= 20 THEN '14-20'
         |    WHEN dormant_days <= 27 THEN '21-27'
         |    ELSE '28+' END AS bucket FROM u),
         |g AS (SELECT bucket, count(*) AS n_users FROM k GROUP BY 1),
         |t AS (SELECT CAST(sum(n_users) AS BIGINT) AS total FROM g)
         |SELECT bucket, n_users,
         |  ROUND(CAST(n_users AS DOUBLE) / CAST(total AS DOUBLE)
         |    * 10000.0) / 10000.0 AS share
         |FROM g CROSS JOIN t ORDER BY bucket""".stripMargin,
    "ts_forecast_baseline_mae" ->
      s"""WITH e AS (SELECT event_type, ${sqlEpochDay("ts")} AS day
         |  FROM events),
         |d AS (SELECT event_type, day, count(*) AS y FROM e GROUP BY 1, 2),
         |b AS (SELECT min(day) AS lo, max(day) AS hi FROM e),
         |ty AS (SELECT DISTINCT event_type FROM e),
         |spine AS (SELECT event_type, unnest(range(lo, hi + 1)) AS day
         |  FROM ty CROSS JOIN b),
         |fl AS (SELECT s.event_type, s.day, coalesce(y, 0) AS y
         |  FROM spine s LEFT JOIN d
         |    ON s.event_type = d.event_type AND s.day = d.day),
         |l AS (SELECT event_type, day, y,
         |    lag(y, 1) OVER (PARTITION BY event_type ORDER BY day) AS y1,
         |    lag(y, 7) OVER (PARTITION BY event_type ORDER BY day) AS y7
         |  FROM fl),
         |m AS (SELECT event_type, count(*) AS n_scored,
         |    CAST(sum(abs(y - y1)) AS BIGINT) AS se1,
         |    CAST(sum(abs(y - y7)) AS BIGINT) AS se7
         |  FROM l WHERE y1 IS NOT NULL AND y7 IS NOT NULL GROUP BY 1)
         |SELECT event_type, n_scored,
         |  ROUND(CAST(se1 AS DOUBLE) / CAST(n_scored AS DOUBLE)
         |    * 10000.0) / 10000.0 AS mae_naive,
         |  ROUND(CAST(se7 AS DOUBLE) / CAST(n_scored AS DOUBLE)
         |    * 10000.0) / 10000.0 AS mae_seasonal,
         |  CASE WHEN se7 < se1 THEN 'seasonal' ELSE 'naive' END AS winner
         |FROM m ORDER BY event_type""".stripMargin,
    "path_trigrams_topk" ->
      """WITH e AS (SELECT user_id, event_id, event_type,
        |    epoch_ms(ts) AS ms FROM events),
        |l AS (SELECT event_type AS t1,
        |    lead(event_type, 1) OVER w AS t2,
        |    lead(event_type, 2) OVER w AS t3
        |  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ms, event_id))
        |SELECT t1, t2, t3, count(*) AS n FROM l
        |WHERE t2 IS NOT NULL AND t3 IS NOT NULL
        |GROUP BY 1, 2, 3
        |ORDER BY n DESC, t1, t2, t3 LIMIT 10""".stripMargin,
    "sql_tpch_q14" ->
      s"""SELECT
         |  ROUND(100.0 * promo / total * 10000.0) / 10000.0
         |    AS promo_revenue_pct,
         |  promo AS promo_revenue, total AS total_revenue
         |FROM (SELECT
         |  ${sqlSum("CASE WHEN p_type = 'PROMO' THEN l_extendedprice * (1 - l_discount) END")}
         |    AS promo,
         |  ${sqlSum("l_extendedprice * (1 - l_discount)")} AS total
         |FROM lineitem
         |JOIN part ON l_partkey = p_partkey
         |WHERE l_shipdate >= DATE '1996-09-01'
         |  AND l_shipdate < DATE '1996-10-01')""".stripMargin,
    // Same exact-cent subquery means; identical scalar compares.
    "sql_scalar_subquery_thresholds" ->
      """SELECT count(*) AS n_customers,
        |  count(*) FILTER (WHERE c_acctbal > (
        |    SELECT max(m) FROM (
        |      SELECT CAST(sum(CAST(round(o_totalprice * 100, 0)
        |          AS BIGINT)) AS DOUBLE) / count(*) / 100 AS m
        |      FROM orders GROUP BY o_orderstatus))) AS n_above_all,
        |  count(*) FILTER (WHERE c_acctbal > (
        |    SELECT min(m) FROM (
        |      SELECT CAST(sum(CAST(round(o_totalprice * 100, 0)
        |          AS BIGINT)) AS DOUBLE) / count(*) / 100 AS m
        |      FROM orders GROUP BY o_orderstatus))) AS n_above_any
        |FROM customer""".stripMargin,
    "sql_exists_correlated" ->
      """SELECT c_custkey, c_name
        |FROM customer
        |WHERE EXISTS (SELECT 1 FROM orders
        |  WHERE o_custkey = c_custkey AND o_totalprice > 300000)
        |ORDER BY c_custkey""".stripMargin,
    "sql_tpch_q6" ->
      s"""SELECT ${sqlSum("l_extendedprice * l_discount")} AS revenue
         |FROM lineitem
         |WHERE l_shipdate >= DATE '1996-01-01'
         |  AND l_shipdate < DATE '1997-01-01'
         |  AND l_discount BETWEEN 0.05 AND 0.07
         |  AND l_quantity < 24""".stripMargin,
    // Same z = 1.96 literal, same op sequence — center, radius and
    // denominator divide in the identical order.
    "ts_error_rate_wilson" ->
      s"""WITH d AS (SELECT ${sqlEpochDay("ts")} AS day, count(*) AS n,
         |    CAST(sum(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END)
         |      AS BIGINT) AS e
         |  FROM events GROUP BY 1),
         |w AS (SELECT day, n, e,
         |    CAST(n AS DOUBLE) AS nn,
         |    CAST(e AS DOUBLE) / CAST(n AS DOUBLE) AS p FROM d),
         |x AS (SELECT day, n, e, nn, p,
         |    1.0 + (1.96 * 1.96) / nn AS den,
         |    p + (1.96 * 1.96) / (2.0 * nn) AS ctr,
         |    1.96 * sqrt(p * (1.0 - p) / nn
         |      + (1.96 * 1.96) / (4.0 * nn * nn)) AS rad
         |  FROM w)
         |SELECT day, n AS n_events, e AS n_errors,
         |  ROUND(p * 10000.0) / 10000.0 AS err_rate,
         |  ROUND((ctr - rad) / den * 10000.0) / 10000.0 AS wilson_lo,
         |  ROUND((ctr + rad) / den * 10000.0) / 10000.0 AS wilson_hi
         |FROM x ORDER BY day""".stripMargin,
    "sql_tpch_q7" ->
      s"""SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
         |  CAST(year(l_shipdate) AS BIGINT) AS l_year,
         |  ${sqlSum("l_extendedprice * (1 - l_discount)")} AS revenue
         |FROM supplier
         |JOIN lineitem ON s_suppkey = l_suppkey
         |JOIN orders ON o_orderkey = l_orderkey
         |JOIN customer ON c_custkey = o_custkey
         |JOIN nation n1 ON s_nationkey = n1.n_nationkey
         |JOIN nation n2 ON c_nationkey = n2.n_nationkey
         |WHERE ((n1.n_name = 'NATION_12' AND n2.n_name = 'NATION_10')
         |    OR (n1.n_name = 'NATION_10' AND n2.n_name = 'NATION_12'))
         |  AND l_shipdate >= DATE '1996-01-01'
         |  AND l_shipdate < DATE '1998-01-01'
         |GROUP BY n1.n_name, n2.n_name, year(l_shipdate)
         |ORDER BY supp_nation, cust_nation, l_year""".stripMargin,
    "ts_growth_rates" ->
      s"""WITH e AS (SELECT event_type, ${sqlEpochDay("ts")} AS day
         |  FROM events),
         |d AS (SELECT event_type, day, count(*) AS y FROM e GROUP BY 1, 2),
         |b AS (SELECT min(day) AS lo, max(day) AS hi FROM e),
         |ty AS (SELECT DISTINCT event_type FROM e),
         |spine AS (SELECT event_type, unnest(range(lo, hi + 1)) AS day
         |  FROM ty CROSS JOIN b),
         |fl AS (SELECT s.event_type, s.day, coalesce(y, 0) AS y
         |  FROM spine s LEFT JOIN d
         |    ON s.event_type = d.event_type AND s.day = d.day),
         |l AS (SELECT event_type, day, y,
         |    lag(y, 1) OVER (PARTITION BY event_type ORDER BY day) AS y1,
         |    lag(y, 7) OVER (PARTITION BY event_type ORDER BY day) AS y7
         |  FROM fl)
         |SELECT event_type, day, y,
         |  CASE WHEN y1 > 0 THEN ROUND(CAST(y - y1 AS DOUBLE) * 100.0
         |    / CAST(y1 AS DOUBLE) * 10000.0) / 10000.0 END AS dod_pct,
         |  CASE WHEN y7 > 0 THEN ROUND(CAST(y - y7 AS DOUBLE) * 100.0
         |    / CAST(y7 AS DOUBLE) * 10000.0) / 10000.0 END AS wow_pct
         |FROM l ORDER BY event_type, day""".stripMargin,
    // Same exact quantile thresholds broadcast conceptually via a
    // scalar-subquery CROSS JOIN; score = 1 + #(metric > q_k), recency
    // inverted.
    "agg_rfm_segments" -> {
      def qs(c: String) = (1 to 4).map(i =>
        s"quantile_cont($c, 0.${i * 2}) AS ${c}_q$i").mkString(", ")
      def sc(c: String, inv: Boolean) = {
        val raw = (1 to 4).map(i =>
          s"(CASE WHEN CAST($c AS DOUBLE) > ${c}_q$i THEN 1 ELSE 0 END)")
          .mkString(" + ")
        val e = s"CAST(1 + $raw AS BIGINT)"
        if (inv) s"6 - $e" else e
      }
      s"""WITH e AS (SELECT user_id, ${sqlEpochDay("ts")} AS day,
         |    CASE WHEN event_type = 'purchase'
         |      THEN CAST(round(value * 100) AS BIGINT) END AS cents
         |  FROM events),
         |b AS (SELECT max(day) AS hi FROM e),
         |u AS (SELECT user_id, min(hi - day) AS recency,
         |    count(*) AS frequency,
         |    coalesce(CAST(sum(cents) AS BIGINT), 0) AS monetary
         |  FROM e CROSS JOIN b GROUP BY 1),
         |th AS (SELECT ${qs("recency")}, ${qs("frequency")},
         |    ${qs("monetary")} FROM u),
         |s AS (SELECT user_id, recency, frequency, monetary,
         |    ${sc("recency", inv = true)} AS r_score,
         |    ${sc("frequency", inv = false)} AS f_score,
         |    ${sc("monetary", inv = false)} AS m_score
         |  FROM u CROSS JOIN th)
         |SELECT user_id, recency, frequency,
         |  ROUND(CAST(monetary AS DOUBLE) / 100.0 * 10000.0) / 10000.0
         |    AS monetary,
         |  r_score, f_score, m_score,
         |  CAST(r_score AS VARCHAR) || '-' || CAST(f_score AS VARCHAR)
         |    || '-' || CAST(m_score AS VARCHAR) AS segment
         |FROM s ORDER BY user_id""".stripMargin
    },
    // Same spine, same two quantile_cont statistics, same threshold
    // spelling — the MAD-0 guard mirrors exactly.
    "ts_anomaly_mad" ->
      s"""WITH e AS (SELECT event_type, ${sqlEpochDay("ts")} AS day
         |  FROM events),
         |d AS (SELECT event_type, day, count(*) AS y FROM e GROUP BY 1, 2),
         |b AS (SELECT min(day) AS lo, max(day) AS hi FROM e),
         |ty AS (SELECT DISTINCT event_type FROM e),
         |spine AS (SELECT event_type, unnest(range(lo, hi + 1)) AS day
         |  FROM ty CROSS JOIN b),
         |fl AS (SELECT s.event_type, s.day, coalesce(y, 0) AS y
         |  FROM spine s LEFT JOIN d
         |    ON s.event_type = d.event_type AND s.day = d.day),
         |med AS (SELECT event_type, quantile_cont(y, 0.5) AS med
         |  FROM fl GROUP BY 1),
         |dv AS (SELECT fl.event_type, day, y,
         |    abs(CAST(y AS DOUBLE) - med) AS dev
         |  FROM fl JOIN med ON fl.event_type = med.event_type),
         |mad AS (SELECT event_type, quantile_cont(dev, 0.5) AS mad
         |  FROM dv GROUP BY 1)
         |SELECT dv.event_type AS event_type, day, y,
         |  ROUND(dev * 10000.0) / 10000.0 AS dev,
         |  CASE WHEN mad > 0.0 AND dev > 3.0 * mad THEN CAST(1 AS BIGINT)
         |    ELSE CAST(0 AS BIGINT) END AS outlier
         |FROM dv JOIN mad ON dv.event_type = mad.event_type
         |ORDER BY dv.event_type, day""".stripMargin,
    "ts_new_vs_returning" ->
      s"""WITH ud AS (SELECT DISTINCT user_id, ${sqlEpochDay("ts")} AS day
         |  FROM events),
         |f AS (SELECT user_id, min(day) AS fday FROM ud GROUP BY 1),
         |g AS (SELECT day, count(*) AS n_active,
         |    CAST(sum(CASE WHEN day = fday THEN 1 ELSE 0 END) AS BIGINT)
         |      AS n_new
         |  FROM ud JOIN f USING (user_id) GROUP BY 1)
         |SELECT day, n_active, n_new, n_active - n_new AS n_returning,
         |  ROUND(CAST(n_new AS DOUBLE) / CAST(n_active AS DOUBLE)
         |    * 10000.0) / 10000.0 AS new_share
         |FROM g ORDER BY day""".stripMargin,
    "ts_stickiness_ratio" ->
      s"""WITH e AS (SELECT user_id, ${sqlEpochDay("ts")} AS day
         |  FROM events),
         |b AS (SELECT min(day) AS lo, max(day) AS hi FROM e),
         |ud AS (SELECT DISTINCT user_id, day FROM e),
         |dau AS (SELECT day, count(*) AS dau FROM ud GROUP BY 1),
         |contrib AS (SELECT DISTINCT user_id, day + k AS wday
         |  FROM ud CROSS JOIN (SELECT unnest(range(7)) AS k) ks
         |  WHERE day + k <= (SELECT hi FROM b)),
         |wau AS (SELECT wday AS day, count(*) AS wau
         |  FROM contrib GROUP BY 1),
         |spine AS (SELECT unnest(range(lo, hi + 1)) AS day FROM b)
         |SELECT s.day, coalesce(dau, 0) AS dau, coalesce(wau, 0) AS wau,
         |  CASE WHEN coalesce(wau, 0) > 0 THEN
         |    ROUND(CAST(coalesce(dau, 0) AS DOUBLE) / CAST(wau AS DOUBLE)
         |      * 10000.0) / 10000.0 END AS stickiness
         |FROM spine s LEFT JOIN dau ON s.day = dau.day
         |LEFT JOIN wau ON s.day = wau.day
         |ORDER BY s.day""".stripMargin,
    // Dependent-min CTEs mirror the sorted-array fold; percentiles on
    // raw ms, minutes conversion at the edge.
    "agg_time_to_convert" ->
      """WITH e AS (SELECT user_id, event_type, epoch_ms(ts) AS ms
        |  FROM events),
        |v AS (SELECT user_id, min(ms) AS v FROM e
        |  WHERE event_type = 'view' GROUP BY 1),
        |p AS (SELECT e.user_id, min(ms) AS p FROM e JOIN v USING (user_id)
        |  WHERE event_type = 'purchase' AND ms >= v GROUP BY 1),
        |l AS (SELECT p.user_id, p - v AS lat FROM p JOIN v USING (user_id))
        |SELECT count(*) AS n_converted,
        |  ROUND(quantile_cont(lat, 0.5) / 60000.0 * 10000.0) / 10000.0
        |    AS p50_minutes,
        |  ROUND(quantile_cont(lat, 0.95) / 60000.0 * 10000.0) / 10000.0
        |    AS p95_minutes
        |FROM l""".stripMargin,
    // Same first-seen join, integer cents, HUGEINT-backed running sum
    // cast only at the dollars edge.
    "agg_cohort_ltv" ->
      s"""WITH e AS (SELECT user_id, ${sqlEpochDay("ts")} AS day,
         |    event_type, CAST(round(value * 100) AS BIGINT) AS cents
         |  FROM events),
         |f AS (SELECT user_id, min(day) AS cohort_day FROM e GROUP BY 1),
         |cells AS (SELECT cohort_day, day - cohort_day AS age_days,
         |    count(*) AS n_purchases, CAST(sum(cents) AS BIGINT) AS rev
         |  FROM e JOIN f USING (user_id)
         |  WHERE event_type = 'purchase' GROUP BY 1, 2),
         |c AS (SELECT cohort_day, age_days, n_purchases,
         |    sum(rev) OVER (PARTITION BY cohort_day ORDER BY age_days
         |      ROWS UNBOUNDED PRECEDING) AS cum_cents
         |  FROM cells)
         |SELECT cohort_day, age_days, n_purchases,
         |  ROUND(CAST(cum_cents AS DOUBLE) / 100.0 * 10000.0) / 10000.0
         |    AS cum_revenue
         |FROM c ORDER BY cohort_day, age_days""".stripMargin,
    // The ts_sessionize CTE chain + two exact integer rollups; only
    // the final two averages divide, in the same double op order.
    "ts_session_stats" ->
      """WITH e AS (SELECT user_id, event_id, epoch_ms(ts) AS ms FROM events),
        |f AS (SELECT user_id, event_id, ms,
        |  CASE WHEN lag(ms) OVER w IS NULL
        |       OR ms - lag(ms) OVER w > 1800000 THEN 1 ELSE 0 END AS new_s
        |  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ms, event_id)),
        |s AS (SELECT user_id, ms, CAST(sum(new_s) OVER (PARTITION BY user_id
        |  ORDER BY ms, event_id ROWS UNBOUNDED PRECEDING) AS BIGINT)
        |    AS session_id
        |  FROM f),
        |sess AS (SELECT user_id, session_id, count(*) AS ne,
        |    max(ms) - min(ms) AS dur
        |  FROM s GROUP BY 1, 2),
        |u AS (SELECT user_id, count(*) AS n_sessions,
        |    CAST(sum(ne) AS BIGINT) AS n_events,
        |    max(dur) AS max_dur_ms,
        |    CAST(sum(dur) AS BIGINT) AS sum_dur
        |  FROM sess GROUP BY 1)
        |SELECT user_id, n_sessions, n_events, max_dur_ms,
        |  ROUND(CAST(sum_dur AS DOUBLE) / CAST(n_sessions AS DOUBLE)
        |    * 10000.0) / 10000.0 AS avg_dur_ms,
        |  ROUND(CAST(n_events AS DOUBLE) / CAST(n_sessions AS DOUBLE)
        |    * 10000.0) / 10000.0 AS events_per_session
        |FROM u ORDER BY user_id""".stripMargin,
    "ts_gap_percentiles" ->
      """WITH e AS (SELECT user_id, event_id, epoch_ms(ts) AS ms FROM events),
        |g AS (SELECT user_id,
        |    ms - lag(ms) OVER (PARTITION BY user_id
        |      ORDER BY ms, event_id) AS gap
        |  FROM e)
        |SELECT user_id, count(*) AS n_gaps,
        |  ROUND(quantile_cont(gap, 0.5) * 10000.0) / 10000.0
        |    AS p50_gap_ms,
        |  ROUND(quantile_cont(gap, 0.95) * 10000.0) / 10000.0
        |    AS p95_gap_ms
        |FROM g WHERE gap IS NOT NULL
        |GROUP BY 1 ORDER BY user_id""".stripMargin,
    // Same spine, same EXCLUDING-current frame, same all-integer
    // threshold; DuckDB's HUGEINT window sum only feeds the compare.
    "ts_burst_days" ->
      s"""WITH e AS (SELECT event_type, ${sqlEpochDay("ts")} AS day
         |  FROM events),
         |d AS (SELECT event_type, day, count(*) AS y FROM e GROUP BY 1, 2),
         |b AS (SELECT min(day) AS lo, max(day) AS hi FROM e),
         |ty AS (SELECT DISTINCT event_type FROM e),
         |spine AS (SELECT event_type, unnest(range(lo, hi + 1)) AS day
         |  FROM ty CROSS JOIN b),
         |fl AS (SELECT s.event_type, s.day, coalesce(y, 0) AS y
         |  FROM spine s LEFT JOIN d
         |    ON s.event_type = d.event_type AND s.day = d.day),
         |w AS (SELECT event_type, day, y,
         |    sum(y) OVER (PARTITION BY event_type ORDER BY day
         |      ROWS BETWEEN 7 PRECEDING AND 1 PRECEDING) AS s7,
         |    count(y) OVER (PARTITION BY event_type ORDER BY day
         |      ROWS BETWEEN 7 PRECEDING AND 1 PRECEDING) AS n7
         |  FROM fl)
         |SELECT event_type, day, y,
         |  CAST(coalesce(s7, 0) AS BIGINT) AS sum_prev7,
         |  CASE WHEN n7 = 7 AND y * 7 > s7 * 2 THEN CAST(1 AS BIGINT)
         |    ELSE CAST(0 AS BIGINT) END AS burst
         |FROM w ORDER BY event_type, day""".stripMargin,
    // Same zero-filled spine, same lag frames, same exact moments;
    // HUGEINT mirrors decimal(38), sqrt·sqrt in the same op order.
    // Same exact moments off the shared spine CTEs, one division.
    "ts_trend_r2" ->
      s"""WITH e AS (SELECT event_type, ${sqlEpochDay("ts")} AS day
         |  FROM events),
         |d AS (SELECT event_type, day, count(*) AS y FROM e
         |  GROUP BY 1, 2),
         |b AS (SELECT min(day) AS lo, max(day) AS hi FROM e),
         |ty AS (SELECT DISTINCT event_type FROM e),
         |spine AS (SELECT event_type, unnest(range(lo, hi + 1)) AS day
         |  FROM ty CROSS JOIN b),
         |fl AS (SELECT s.event_type, s.day - b.lo AS x,
         |    coalesce(y, 0) AS y
         |  FROM spine s LEFT JOIN d
         |    ON s.event_type = d.event_type AND s.day = d.day
         |  CROSS JOIN b),
         |m AS (SELECT event_type, count(*) AS n,
         |    CAST(sum(x) AS HUGEINT) AS sx,
         |    CAST(sum(y) AS HUGEINT) AS sy,
         |    CAST(sum(CAST(x AS HUGEINT) * x) AS HUGEINT) AS sxx,
         |    CAST(sum(CAST(y AS HUGEINT) * y) AS HUGEINT) AS syy,
         |    CAST(sum(CAST(x AS HUGEINT) * y) AS HUGEINT) AS sxy
         |  FROM fl GROUP BY 1)
         |SELECT event_type, n AS n_days,
         |  ROUND(CAST((n * sxy - sx * sy) * (n * sxy - sx * sy)
         |      AS DOUBLE)
         |    / CAST((n * sxx - sx * sx) * (n * syy - sy * sy)
         |      AS DOUBLE) * 10000) / 10000 AS r2
         |FROM m
         |WHERE n * sxx > sx * sx AND n * syy > sy * sy
         |ORDER BY event_type""".stripMargin,
    // Same (type, day)-partitioned gaps, HUGEINT moments, one CV
    // chain.
    "ts_event_spacing_cv" ->
      s"""WITH e AS (SELECT event_type, ${sqlEpochDay("ts")} AS day,
         |    epoch_ms(ts) AS ms, event_id FROM events),
         |g AS (SELECT event_type, ms - lag(ms) OVER (
         |    PARTITION BY event_type, day ORDER BY ms, event_id) AS g
         |  FROM e),
         |f AS (SELECT event_type, g FROM g WHERE g IS NOT NULL),
         |m AS (SELECT event_type, count(*) AS n,
         |    CAST(sum(g) AS HUGEINT) AS sg,
         |    CAST(sum(CAST(g AS HUGEINT) * g) AS HUGEINT) AS sgg
         |  FROM f GROUP BY 1)
         |SELECT event_type, n AS n_gaps,
         |  ROUND(CAST(sg AS DOUBLE) / CAST(n AS DOUBLE) * 10000)
         |    / 10000 AS mean_ms,
         |  ROUND(sqrt(greatest(0.0, CAST(n * sgg - sg * sg AS DOUBLE)))
         |    / CAST(sg AS DOUBLE) * 10000) / 10000 AS cv
         |FROM m ORDER BY event_type""".stripMargin,
    // Pure integer windows; HUGEINT sums cast back.
    "ts_drawdown_curve" ->
      s"""WITH d AS (SELECT ${sqlEpochDay("ts")} AS day,
         |    CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
         |      AS rev
         |  FROM events GROUP BY 1),
         |c AS (SELECT day, rev,
         |    CAST(sum(rev) OVER (ORDER BY day ROWS UNBOUNDED PRECEDING)
         |      AS BIGINT) AS cum_cents
         |  FROM d),
         |p AS (SELECT day, rev, cum_cents,
         |    max(cum_cents) OVER (ORDER BY day ROWS UNBOUNDED PRECEDING)
         |      AS peak_cents
         |  FROM c)
         |SELECT day, rev AS day_cents, cum_cents, peak_cents,
         |  peak_cents - cum_cents AS drawdown_cents
         |FROM p ORDER BY day""".stripMargin,
    // Same exact retention ratios, w-sorted log folds, OLS chain
    // spelled operand-for-operand; ln 2 symbolic in both engines.
    "ts_cohort_halflife" ->
      s"""WITH e AS (SELECT user_id, ${sqlEpochDay("ts")} AS day
         |  FROM events),
         |cw AS (SELECT user_id, min(day) // 7 AS cohort_week
         |  FROM e GROUP BY 1),
         |sizes AS (SELECT cohort_week, count(DISTINCT user_id)
         |    AS n_users FROM cw GROUP BY 1),
         |pts AS (SELECT c.cohort_week, e.day // 7 - c.cohort_week AS w,
         |    count(DISTINCT e.user_id) AS act
         |  FROM e JOIN cw c ON c.user_id = e.user_id
         |  WHERE e.day // 7 - c.cohort_week BETWEEN 1 AND 4
         |  GROUP BY 1, 2),
         |lr AS (SELECT p.cohort_week, p.w,
         |    ln(CAST(act AS DOUBLE) / CAST(n_users AS DOUBLE)) AS lr
         |  FROM pts p JOIN sizes USING (cohort_week)),
         |fit AS (SELECT cohort_week, count(*) AS np,
         |    CAST(sum(w) AS BIGINT) AS sw,
         |    CAST(sum(w * w) AS BIGINT) AS sww,
         |    list_aggregate(list_transform(
         |      list_sort(list({'w': w, 'l': lr})), z -> z.l), 'sum')
         |      AS sl,
         |    list_aggregate(list_transform(
         |      list_sort(list({'w': w, 'l': lr})),
         |      z -> CAST(z.w AS DOUBLE) * z.l), 'sum') AS swl
         |  FROM lr GROUP BY 1 HAVING count(*) >= 2),
         |lam AS (SELECT cohort_week, np, sw, sww, sl, swl,
         |    -(CAST(np AS DOUBLE) * swl - CAST(sw AS DOUBLE) * sl)
         |      / CAST(np * sww - sw * sw AS DOUBLE) AS lam
         |  FROM fit)
         |SELECT l.cohort_week, n_users, np AS n_points,
         |  ROUND(lam * 10000) / 10000 + 0.0 AS lambda,
         |  CASE WHEN lam > 0
         |    THEN ROUND(ln(2.0) / lam * 10000) / 10000 END
         |    AS halflife_weeks
         |FROM lam l JOIN sizes USING (cohort_week)
         |ORDER BY l.cohort_week""".stripMargin,
    // Same integer deviations (n·cum − (j+1)·S), HUGEINT variance,
    // blk-sorted R/S folds, closed-form slope.
    "ts_hurst_exponent" ->
      s"""WITH e AS (SELECT event_type, ${sqlEpochDay("ts")} AS day
         |  FROM events),
         |d0 AS (SELECT event_type, day, count(*) AS y FROM e
         |  GROUP BY 1, 2),
         |b AS (SELECT min(day) AS lo, max(day) AS hi FROM e),
         |ty AS (SELECT DISTINCT event_type FROM e),
         |spine AS (SELECT event_type, unnest(range(lo, hi + 1)) AS day
         |  FROM ty CROSS JOIN b),
         |fl AS (SELECT s.event_type, s.day, coalesce(y, 0) AS y
         |  FROM spine s LEFT JOIN d0
         |    ON s.event_type = d0.event_type AND s.day = d0.day),
         |daily AS (SELECT day, CAST(sum(y) AS BIGINT) AS y
         |  FROM fl GROUP BY 1),
         |idx AS (SELECT day - lo AS t, y FROM daily CROSS JOIN b),
         |blocks AS (SELECT CAST(w AS BIGINT) AS wsize, t // w AS blk,
         |    t % w AS j, y
         |  FROM idx, (SELECT unnest([4, 8, 16]) AS w)),
         |fullb AS (SELECT wsize, blk, count(*) AS cnt,
         |    CAST(sum(y) AS BIGINT) AS ssum,
         |    CAST(sum(CAST(y AS HUGEINT) * y) AS HUGEINT) AS syy
         |  FROM blocks GROUP BY 1, 2 HAVING count(*) = wsize),
         |dev AS (SELECT bl.wsize, bl.blk, f.ssum, f.syy,
         |    bl.wsize * CAST(sum(bl.y) OVER (PARTITION BY bl.wsize,
         |      bl.blk ORDER BY bl.j ROWS UNBOUNDED PRECEDING)
         |      AS BIGINT) - (bl.j + 1) * f.ssum AS dj
         |  FROM blocks bl JOIN fullb f
         |    ON f.wsize = bl.wsize AND f.blk = bl.blk),
         |rsb AS (SELECT wsize, blk,
         |    CAST(max(dj) - min(dj) AS DOUBLE)
         |      / sqrt(CAST(wsize * syy - CAST(ssum AS HUGEINT) * ssum
         |        AS DOUBLE)) AS rsb
         |  FROM dev GROUP BY wsize, blk, ssum, syy
         |  HAVING wsize * syy - CAST(ssum AS HUGEINT) * ssum > 0),
         |mrs AS (SELECT wsize, count(*) AS nb,
         |    list_aggregate(list_transform(
         |      list_sort(list({'b': blk, 'r': rsb})), z -> z.r), 'sum')
         |      / count(*) AS mrs
         |  FROM rsb GROUP BY 1)
         |SELECT max(CASE WHEN wsize = 4 THEN nb END) AS nb4,
         |  max(CASE WHEN wsize = 8 THEN nb END) AS nb8,
         |  max(CASE WHEN wsize = 16 THEN nb END) AS nb16,
         |  ROUND(max(CASE WHEN wsize = 4 THEN mrs END) * 10000)
         |    / 10000 AS rs4,
         |  ROUND(max(CASE WHEN wsize = 8 THEN mrs END) * 10000)
         |    / 10000 AS rs8,
         |  ROUND(max(CASE WHEN wsize = 16 THEN mrs END) * 10000)
         |    / 10000 AS rs16,
         |  ROUND((ln(max(CASE WHEN wsize = 16 THEN mrs END))
         |      - ln(max(CASE WHEN wsize = 4 THEN mrs END)))
         |    / (ln(2.0) * 2) * 10000) / 10000 + 0.0 AS hurst
         |FROM mrs""".stripMargin,
    // Same exact prefix sums and HUGEINT-squared gain chain; argmax
    // rank with the day tie-break.
    "ts_changepoint_binseg" ->
      s"""WITH e AS (SELECT event_type, ${sqlEpochDay("ts")} AS day
         |  FROM events),
         |d0 AS (SELECT event_type, day, count(*) AS y FROM e
         |  GROUP BY 1, 2),
         |b AS (SELECT min(day) AS lo, max(day) AS hi FROM e),
         |ty AS (SELECT DISTINCT event_type FROM e),
         |spine AS (SELECT event_type, unnest(range(lo, hi + 1)) AS day
         |  FROM ty CROSS JOIN b),
         |fl AS (SELECT s.event_type, s.day, coalesce(y, 0) AS y
         |  FROM spine s LEFT JOIN d0
         |    ON s.event_type = d0.event_type AND s.day = d0.day),
         |daily AS (SELECT day, CAST(sum(y) AS BIGINT) AS y
         |  FROM fl GROUP BY 1),
         |cum AS (SELECT day, y,
         |    CAST(sum(y) OVER (ORDER BY day ROWS UNBOUNDED PRECEDING)
         |      AS BIGINT) AS s1,
         |    CAST(row_number() OVER (ORDER BY day) AS BIGINT) AS k
         |  FROM daily),
         |tot AS (SELECT max(s1) AS stot, max(k) AS nn FROM cum),
         |g AS (SELECT day, k, stot - s1 AS s2, nn - k AS n2, s1,
         |    CAST(CAST(s1 AS HUGEINT) * s1 AS DOUBLE)
         |        / CAST(k AS DOUBLE)
         |      + CAST(CAST(stot - s1 AS HUGEINT) * (stot - s1)
         |        AS DOUBLE) / CAST(nn - k AS DOUBLE)
         |      - CAST(CAST(stot AS HUGEINT) * stot AS DOUBLE)
         |        / CAST(nn AS DOUBLE) AS gain
         |  FROM cum CROSS JOIN tot WHERE k < nn),
         |r AS (SELECT *, row_number() OVER (ORDER BY gain DESC, day)
         |    AS rk FROM g)
         |SELECT day AS split_day, k AS n_left, n2 AS n_right,
         |  ROUND(CAST(s1 AS DOUBLE) / CAST(k AS DOUBLE) * 10000)
         |    / 10000 AS mean_left,
         |  ROUND(CAST(s2 AS DOUBLE) / CAST(n2 AS DOUBLE) * 10000)
         |    / 10000 AS mean_right,
         |  ROUND(gain * 10000) / 10000 + 0.0 AS gain
         |FROM r WHERE rk = 1""".stripMargin,
    // Same 2π·(k·t)/N angles (pi() ≡ math.Pi, ×2 exact), t-sorted
    // struct folds for re/im, one power division.
    "ts_periodogram" ->
      s"""WITH e AS (SELECT event_type, ${sqlEpochDay("ts")} AS day
         |  FROM events),
         |d AS (SELECT event_type, day, count(*) AS y FROM e GROUP BY 1, 2),
         |b AS (SELECT min(day) AS lo, max(day) AS hi FROM e),
         |ty AS (SELECT DISTINCT event_type FROM e),
         |spine AS (SELECT event_type, unnest(range(lo, hi + 1)) AS day
         |  FROM ty CROSS JOIN b),
         |fl AS (SELECT s.event_type, s.day, coalesce(y, 0) AS y
         |  FROM spine s LEFT JOIN d
         |    ON s.event_type = d.event_type AND s.day = d.day),
         |terms AS (SELECT f.event_type, CAST(ks.k AS BIGINT) AS k,
         |    f.day - b.lo AS t,
         |    CAST(f.y AS DOUBLE) * cos(2.0 * pi()
         |      * CAST(ks.k * (f.day - b.lo) AS DOUBLE)
         |      / CAST(b.hi - b.lo + 1 AS DOUBLE)) AS re_t,
         |    CAST(f.y AS DOUBLE) * sin(2.0 * pi()
         |      * CAST(ks.k * (f.day - b.lo) AS DOUBLE)
         |      / CAST(b.hi - b.lo + 1 AS DOUBLE)) AS im_t
         |  FROM fl f CROSS JOIN b
         |  CROSS JOIN (SELECT unnest(range(1, 11)) AS k) ks),
         |ag AS (SELECT event_type, k, count(*) AS nd,
         |    list_aggregate(list_transform(
         |      list_sort(list({'t': t, 'r': re_t, 'i': im_t})),
         |      z -> z.r), 'sum') AS re0,
         |    list_aggregate(list_transform(
         |      list_sort(list({'t': t, 'r': re_t, 'i': im_t})),
         |      z -> z.i), 'sum') AS im0
         |  FROM terms GROUP BY 1, 2)
         |SELECT event_type, k, nd,
         |  ROUND(re0 * 10000) / 10000 + 0.0 AS re,
         |  ROUND(im0 * 10000) / 10000 + 0.0 AS im,
         |  ROUND((re0 * re0 + im0 * im0) / nd * 10000) / 10000 + 0.0
         |    AS power
         |FROM ag ORDER BY event_type, k""".stripMargin,
    // Same midpoint split, log2 dollar bands, transition reduce.
    "agg_value_band_migration" ->
      s"""WITH o AS (SELECT o_custkey,
         |    ${sqlEpochDay("o_orderdate")} AS day,
         |    CAST(round(o_totalprice * 100, 0) AS BIGINT) AS cents
         |  FROM orders),
         |b AS (SELECT (min(day) + max(day)) // 2 AS mid FROM o),
         |h AS (SELECT o_custkey,
         |    CAST(sum(CASE WHEN day <= mid THEN cents ELSE 0 END)
         |      AS BIGINT) AS c1,
         |    CAST(sum(CASE WHEN day > mid THEN cents ELSE 0 END)
         |      AS BIGINT) AS c2
         |  FROM o CROSS JOIN b GROUP BY 1),
         |bd AS (SELECT
         |    CASE WHEN c1 = 0 THEN 'none' ELSE 'b' ||
         |      CAST(length(bin(c1 // 100 + 1)) - 1 AS VARCHAR) END
         |      AS band_from,
         |    CASE WHEN c2 = 0 THEN 'none' ELSE 'b' ||
         |      CAST(length(bin(c2 // 100 + 1)) - 1 AS VARCHAR) END
         |      AS band_to
         |  FROM h),
         |m AS (SELECT band_from, band_to, count(*) AS n_customers
         |  FROM bd GROUP BY 1, 2),
         |t AS (SELECT CAST(sum(n_customers) AS BIGINT) AS ntot FROM m)
         |SELECT band_from, band_to, n_customers,
         |  ROUND(CAST(n_customers AS DOUBLE) / CAST(ntot AS DOUBLE)
         |    * 10000) / 10000 AS share
         |FROM m CROSS JOIN t ORDER BY band_from, band_to""".stripMargin,
    // Same exclusive 7-day frame extrema and strict breakout tests.
    "ts_donchian_channel" ->
      s"""WITH e AS (SELECT event_type, ${sqlEpochDay("ts")} AS day
         |  FROM events),
         |d AS (SELECT event_type, day, count(*) AS y FROM e
         |  GROUP BY 1, 2),
         |b AS (SELECT min(day) AS lo, max(day) AS hi FROM e),
         |ty AS (SELECT DISTINCT event_type FROM e),
         |spine AS (SELECT event_type, unnest(range(lo, hi + 1)) AS day
         |  FROM ty CROSS JOIN b),
         |fl AS (SELECT s.event_type, s.day, coalesce(y, 0) AS y
         |  FROM spine s LEFT JOIN d
         |    ON d.event_type = s.event_type AND d.day = s.day),
         |w AS (SELECT event_type, day, y,
         |    count(*) OVER wf AS nwin,
         |    max(y) OVER wf AS mx, min(y) OVER wf AS mn
         |  FROM fl WINDOW wf AS (PARTITION BY event_type ORDER BY day
         |    ROWS BETWEEN 7 PRECEDING AND 1 PRECEDING))
         |SELECT event_type, day, y,
         |  CASE WHEN nwin = 7 THEN mn END AS ch_lo,
         |  CASE WHEN nwin = 7 THEN mx END AS ch_hi,
         |  nwin = 7 AND y > mx AS breakout_up,
         |  nwin = 7 AND y < mn AS breakout_down
         |FROM w ORDER BY event_type, day""".stripMargin,
    // Same spine and exact second differences.
    "ts_trend_acceleration" ->
      s"""WITH e AS (SELECT event_type, ${sqlEpochDay("ts")} AS day
         |  FROM events),
         |d0 AS (SELECT event_type, day, count(*) AS y FROM e
         |  GROUP BY 1, 2),
         |bd AS (SELECT min(day) AS lo, max(day) AS hi FROM e),
         |ty AS (SELECT DISTINCT event_type FROM e),
         |spine AS (SELECT event_type, unnest(range(lo, hi + 1)) AS day
         |  FROM ty CROSS JOIN bd),
         |fl AS (SELECT s.event_type, s.day, coalesce(y, 0) AS y
         |  FROM spine s LEFT JOIN d0
         |    ON d0.event_type = s.event_type AND d0.day = s.day),
         |l1 AS (SELECT event_type, day,
         |    y - lag(y) OVER w AS d1
         |  FROM fl WINDOW w AS (PARTITION BY event_type
         |    ORDER BY day)),
         |l2 AS (SELECT event_type,
         |    d1 - lag(d1) OVER w AS d2
         |  FROM l1 WINDOW w AS (PARTITION BY event_type
         |    ORDER BY day))
         |SELECT event_type, count(*) AS n_days,
         |  ROUND(CAST(sum(CAST(d2 AS HUGEINT)) AS DOUBLE)
         |    / CAST(count(*) AS DOUBLE) * 10000) / 10000 + 0.0
         |    AS mean_accel,
         |  ROUND(CAST(count(*) FILTER (WHERE d2 > 0) AS DOUBLE)
         |    / CAST(count(*) AS DOUBLE) * 10000) / 10000
         |    AS accel_share
         |FROM l2 WHERE d2 IS NOT NULL
         |GROUP BY event_type ORDER BY event_type""".stripMargin,
    // Same zero-filled spine, exact moments, one division, exact 2×
    // overdispersion band.
    "ts_dispersion_index" ->
      s"""WITH e AS (SELECT event_type, ${sqlEpochDay("ts")} AS day
         |  FROM events),
         |d0 AS (SELECT event_type, day, count(*) AS y FROM e
         |  GROUP BY 1, 2),
         |bd AS (SELECT min(day) AS lo, max(day) AS hi FROM e),
         |ty AS (SELECT DISTINCT event_type FROM e),
         |spine AS (SELECT event_type, unnest(range(lo, hi + 1)) AS day
         |  FROM ty CROSS JOIN bd),
         |fl AS (SELECT s.event_type, s.day, coalesce(y, 0) AS y
         |  FROM spine s LEFT JOIN d0
         |    ON d0.event_type = s.event_type AND d0.day = s.day),
         |m AS (SELECT event_type, count(*) AS n,
         |    CAST(sum(y) AS HUGEINT) AS s,
         |    CAST(sum(CAST(y AS HUGEINT) * y) AS HUGEINT) AS q
         |  FROM fl GROUP BY 1)
         |SELECT event_type, n AS n_days, CAST(s AS BIGINT)
         |    AS n_events,
         |  ROUND(CAST(CAST(n AS HUGEINT) * q - s * s AS DOUBLE)
         |    / CAST(CAST(n AS HUGEINT) * s AS DOUBLE) * 10000)
         |    / 10000 AS dispersion_index,
         |  CAST(n AS HUGEINT) * q - s * s
         |    > 2 * CAST(n AS HUGEINT) * s AS overdispersed
         |FROM m WHERE s > 0 ORDER BY event_type""".stripMargin,
    // Same exact-cent differences and windowed HUGEINT moments.
    "ts_rolling_sharpe" ->
      """WITH d0 AS (SELECT epoch_ms(o_orderdate) // 86400000 AS day,
        |    CAST(sum(CAST(round(o_totalprice * 100, 0) AS BIGINT))
        |      AS BIGINT) AS rev
        |  FROM orders GROUP BY 1),
        |l AS (SELECT day, rev - lag(rev, 1) OVER (ORDER BY day)
        |    AS d1 FROM d0),
        |f AS (SELECT day, d1 FROM l WHERE d1 IS NOT NULL),
        |w AS (SELECT day,
        |    count(*) OVER wf AS nw,
        |    CAST(sum(CAST(d1 AS HUGEINT)) OVER wf AS HUGEINT) AS s,
        |    CAST(sum(CAST(d1 AS HUGEINT) * d1) OVER wf AS HUGEINT)
        |      AS q
        |  FROM f WINDOW wf AS (ORDER BY day
        |    ROWS BETWEEN 27 PRECEDING AND CURRENT ROW))
        |SELECT day,
        |  ROUND(CAST(s AS DOUBLE) * sqrt(CAST(nw AS DOUBLE))
        |    / sqrt(CAST(CAST(nw AS HUGEINT) * q - s * s AS DOUBLE))
        |    * 10000) / 10000 + 0.0 AS rolling_sharpe
        |FROM w WHERE nw = 28
        |  AND CAST(nw AS HUGEINT) * q > s * s
        |ORDER BY day""".stripMargin,
    // Same exact cent sums; one division per day.
    "ts_vwap_daily" ->
      """WITH d AS (SELECT epoch_ms(l_shipdate) // 86400000 AS day,
        |    CAST(round(l_extendedprice * 100) AS BIGINT) AS pc,
        |    CAST(round(l_quantity * 100) AS BIGINT) AS qc
        |  FROM lineitem),
        |g AS (SELECT day, count(*) AS n_lines,
        |    CAST(sum(pc) AS BIGINT) AS sp,
        |    CAST(sum(qc) AS BIGINT) AS sq
        |  FROM d GROUP BY 1)
        |SELECT day, n_lines, sq AS volume_centiunits,
        |  ROUND(CAST(sp AS DOUBLE) / CAST(sq AS DOUBLE) * 10000)
        |    / 10000 AS vwap
        |FROM g WHERE sq > 0 ORDER BY day""".stripMargin,
    // Same zero-filled type grid, per-cell exact terms, sorted fold,
    // and double-threshold flag.
    "ts_type_mix_drift" ->
      s"""WITH e AS (SELECT ${sqlEpochDay("ts")} AS day, event_type
         |  FROM events),
         |t AS (SELECT count(*) AS nn FROM e),
         |bt AS (SELECT event_type, count(*) AS nt FROM e GROUP BY 1),
         |bd AS (SELECT day, count(*) AS nd FROM e GROUP BY 1),
         |o AS (SELECT day, event_type, count(*) AS o FROM e
         |  GROUP BY 1, 2),
         |cells AS (SELECT bd.day, bd.nd,
         |    {'event_type': bt.event_type,
         |     't': CAST((coalesce(o.o, 0) * CAST(nn AS HUGEINT)
         |         - CAST(bd.nd AS HUGEINT) * bt.nt)
         |       * (coalesce(o.o, 0) * CAST(nn AS HUGEINT)
         |         - CAST(bd.nd AS HUGEINT) * bt.nt) AS DOUBLE)
         |       / CAST(CAST(bd.nd AS HUGEINT) * bt.nt * nn
         |         AS DOUBLE)} AS st
         |  FROM bd CROSS JOIN bt
         |  LEFT JOIN o ON o.day = bd.day
         |    AND o.event_type = bt.event_type
         |  CROSS JOIN t),
         |g AS (SELECT day, max(nd) AS n_events,
         |    list_aggregate(list_transform(list_sort(list(st)),
         |      x -> x.t), 'sum') AS chi2r
         |  FROM cells GROUP BY 1)
         |SELECT day, n_events,
         |  ROUND(chi2r * 10000) / 10000 AS chi2,
         |  chi2r > 9.487729036781154 AS mix_drift
         |FROM g ORDER BY day""".stripMargin,
    // Same zero-filled spine, argmax order, and cross-multiplied
    // ratio.
    "ts_peak_to_mean_ratio" ->
      s"""WITH e AS (SELECT event_type, ${sqlEpochDay("ts")} AS day
         |  FROM events),
         |d0 AS (SELECT event_type, day, count(*) AS y FROM e
         |  GROUP BY 1, 2),
         |bd AS (SELECT min(day) AS lo, max(day) AS hi FROM e),
         |ty AS (SELECT DISTINCT event_type FROM e),
         |spine AS (SELECT event_type, unnest(range(lo, hi + 1)) AS day
         |  FROM ty CROSS JOIN bd),
         |fl AS (SELECT s.event_type, s.day, coalesce(y, 0) AS y
         |  FROM spine s LEFT JOIN d0
         |    ON d0.event_type = s.event_type AND d0.day = s.day),
         |pk AS (SELECT event_type, day AS peak_day,
         |    y AS peak_count FROM (
         |  SELECT *, row_number() OVER (PARTITION BY event_type
         |    ORDER BY y DESC, day) AS rk FROM fl) WHERE rk = 1),
         |g AS (SELECT event_type, count(*) AS n_days,
         |    CAST(sum(y) AS BIGINT) AS s FROM fl GROUP BY 1)
         |SELECT g.event_type, n_days, peak_day, peak_count,
         |  ROUND(CAST(peak_count * n_days AS DOUBLE)
         |    / CAST(s AS DOUBLE) * 10000) / 10000 AS peak_to_mean
         |FROM g JOIN pk ON pk.event_type = g.event_type
         |ORDER BY g.event_type""".stripMargin,
    // Same weekly argmax and modal-hour total orders.
    "ts_peak_hour_stability" ->
      """WITH e AS (SELECT event_type,
        |    epoch_ms(ts) // 86400000 // 7 AS week,
        |    epoch_ms(ts) // 3600000 % 24 AS hour, count(*) AS n
        |  FROM events GROUP BY 1, 2, 3),
        |pk AS (SELECT event_type, week, hour AS peak_hour FROM (
        |  SELECT *, row_number() OVER (PARTITION BY event_type, week
        |    ORDER BY n DESC, hour) AS rk FROM e) WHERE rk = 1),
        |wc AS (SELECT event_type, peak_hour, count(*) AS nw FROM pk
        |  GROUP BY 1, 2),
        |md AS (SELECT event_type, peak_hour AS modal_hour,
        |    nw AS n_weeks_at_modal FROM (
        |  SELECT *, row_number() OVER (PARTITION BY event_type
        |    ORDER BY nw DESC, peak_hour) AS rk FROM wc)
        |  WHERE rk = 1),
        |tw AS (SELECT event_type, count(*) AS n_weeks FROM pk
        |  GROUP BY 1)
        |SELECT tw.event_type, n_weeks, modal_hour, n_weeks_at_modal,
        |  ROUND(CAST(n_weeks_at_modal AS DOUBLE)
        |    / CAST(n_weeks AS DOUBLE) * 10000) / 10000 AS stability
        |FROM tw JOIN md ON md.event_type = tw.event_type
        |ORDER BY tw.event_type""".stripMargin,
    // Same stage CTEs; same exact cross-multiplied χ² and double
    // threshold compare.
    "funnel_stage_significance" ->
      """WITH e AS (SELECT user_id, event_type, epoch_ms(ts) AS ms
        |  FROM events),
        |v AS (SELECT user_id, min(ms) AS t FROM e
        |      WHERE event_type = 'view' GROUP BY 1),
        |c AS (SELECT e.user_id, min(ms) AS t FROM e
        |      JOIN v USING (user_id)
        |      WHERE event_type = 'click' AND e.ms > v.t GROUP BY 1),
        |p AS (SELECT e.user_id, min(ms) AS t FROM e
        |      JOIN c USING (user_id)
        |      WHERE event_type = 'purchase' AND e.ms > c.t
        |      GROUP BY 1),
        |n AS (SELECT (SELECT count(*) FROM v) AS n_view,
        |    (SELECT count(*) FROM c) AS n_click,
        |    (SELECT count(*) FROM p) AS n_purchase),
        |z AS (SELECT *,
        |    CAST(n_click AS HUGEINT) * n_click
        |      - CAST(n_purchase AS HUGEINT) * n_view AS num,
        |    CAST(n_view AS HUGEINT) * n_click
        |      * (n_click + n_purchase)
        |      * (n_view + n_click - n_click - n_purchase) AS den
        |  FROM n)
        |SELECT n_view, n_click, n_purchase,
        |  ROUND(CAST(n_click AS DOUBLE) / CAST(n_view AS DOUBLE)
        |    * 10000) / 10000 AS rate_view_click,
        |  ROUND(CAST(n_purchase AS DOUBLE) / CAST(n_click AS DOUBLE)
        |    * 10000) / 10000 AS rate_click_purchase,
        |  CASE WHEN den > 0 THEN
        |    ROUND(CAST(num * num * (n_view + n_click) AS DOUBLE)
        |      / CAST(den AS DOUBLE) * 10000) / 10000 END AS z2,
        |  CASE WHEN den > 0 THEN
        |    CAST(num * num * (n_view + n_click) AS DOUBLE)
        |      / CAST(den AS DOUBLE) > 3.841458820694124 END
        |    AS rates_differ
        |FROM z""".stripMargin,
    // Same session device, first-occurrence channel order, and
    // complete integer weight table.
    "attribution_position_based" ->
      """WITH e AS (SELECT user_id, event_id, event_type,
        |    epoch_ms(ts) AS ms FROM events),
        |l AS (SELECT *, lag(ms) OVER w AS prev_ms FROM e
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ms, event_id)),
        |ns AS (SELECT *, CASE WHEN prev_ms IS NULL
        |    OR ms - prev_ms > 1800000 THEN 1 ELSE 0 END AS new_s
        |  FROM l),
        |sess AS (SELECT *, CAST(sum(new_s) OVER (PARTITION BY user_id
        |    ORDER BY ms, event_id ROWS UNBOUNDED PRECEDING)
        |    AS BIGINT) AS session_id FROM ns),
        |p AS (SELECT user_id AS pu, session_id AS ps, ms AS pms,
        |    event_id AS pid FROM sess WHERE event_type = 'purchase'),
        |t AS (SELECT user_id AS pu, session_id AS ps,
        |    event_type AS channel, ms AS tms, event_id AS tid
        |  FROM sess WHERE event_type <> 'purchase'),
        |f AS (SELECT pid, channel, min(tms) AS fms,
        |    min(tid) AS ftid
        |  FROM p JOIN t USING (pu, ps)
        |  WHERE tms < pms OR (tms = pms AND tid < pid)
        |  GROUP BY 1, 2),
        |r AS (SELECT *, CAST(row_number() OVER (PARTITION BY pid
        |      ORDER BY fms, ftid) AS BIGINT) AS pos,
        |    count(*) OVER (PARTITION BY pid) AS n FROM f),
        |c AS (SELECT channel, CASE WHEN n = 1 THEN 10000
        |    WHEN n = 2 THEN 5000
        |    ELSE (CASE WHEN pos = 1 OR pos = n THEN 4000
        |      ELSE 2000 // (n - 2)
        |        + (CASE WHEN pos = 2 THEN 2000 % (n - 2)
        |          ELSE 0 END) END) END AS cr FROM r)
        |SELECT channel, count(*) AS n_touch_paths,
        |  ROUND(CAST(sum(cr) AS DOUBLE) / 10000.0 * 10000) / 10000
        |    AS credit
        |FROM c GROUP BY 1 ORDER BY channel""".stripMargin,
    // Same exact-cent lag differences and cross-multiplied HUGEINT
    // variance ratio; same exact regime compare.
    "ts_variance_ratio" ->
      """WITH d AS (SELECT epoch_ms(o_orderdate) // 86400000 AS day,
        |    CAST(sum(CAST(round(o_totalprice * 100, 0) AS BIGINT))
        |      AS BIGINT) AS rev
        |  FROM orders GROUP BY 1),
        |l AS (SELECT rev - lag(rev, 1) OVER (ORDER BY day) AS d1,
        |    rev - lag(rev, 7) OVER (ORDER BY day) AS d7
        |  FROM d),
        |m1 AS (SELECT count(*) AS n1,
        |    CAST(sum(CAST(d1 AS HUGEINT)) AS HUGEINT) AS s1,
        |    CAST(sum(CAST(d1 AS HUGEINT) * d1) AS HUGEINT) AS s11
        |  FROM l WHERE d1 IS NOT NULL),
        |m7 AS (SELECT count(*) AS n7,
        |    CAST(sum(CAST(d7 AS HUGEINT)) AS HUGEINT) AS s7,
        |    CAST(sum(CAST(d7 AS HUGEINT) * d7) AS HUGEINT) AS s77
        |  FROM l WHERE d7 IS NOT NULL)
        |SELECT n1, n7,
        |  ROUND(CAST(CAST(n1 AS HUGEINT) * n1
        |      * (CAST(n7 AS HUGEINT) * s77 - s7 * s7) AS DOUBLE)
        |    / CAST(7 * CAST(n7 AS HUGEINT) * n7
        |      * (CAST(n1 AS HUGEINT) * s11 - s1 * s1) AS DOUBLE)
        |    * 10000) / 10000 AS variance_ratio,
        |  CASE WHEN CAST(n1 AS HUGEINT) * n1
        |      * (CAST(n7 AS HUGEINT) * s77 - s7 * s7)
        |      > 7 * CAST(n7 AS HUGEINT) * n7
        |      * (CAST(n1 AS HUGEINT) * s11 - s1 * s1)
        |    THEN 'trending' ELSE 'mean_reverting' END AS regime
        |FROM m1 CROSS JOIN m7""".stripMargin,
    // Same transition counts; same two sorted c·log2(c) folds.
    "ts_markov_entropy_rate" ->
      """WITH e AS (SELECT user_id, event_id, event_type,
        |    epoch_ms(ts) AS ms FROM events),
        |l AS (SELECT event_type,
        |    lead(event_type) OVER (PARTITION BY user_id
        |      ORDER BY ms, event_id) AS next_type FROM e),
        |tr AS (SELECT event_type AS f, next_type AS t, count(*) AS n
        |  FROM l WHERE next_type IS NOT NULL GROUP BY 1, 2),
        |cells AS (SELECT CAST(sum(n) AS BIGINT) AS nn,
        |    list_sort(list(n)) AS cs FROM tr),
        |froms AS (SELECT count(*) AS n_states,
        |    list_sort(list(nf)) AS fs FROM
        |    (SELECT f, CAST(sum(n) AS BIGINT) AS nf FROM tr
        |      GROUP BY 1))
        |SELECT nn AS n_transitions, n_states,
        |  ROUND((list_aggregate(list_transform(fs, x -> x * log2(x)),
        |      'sum')
        |    - list_aggregate(list_transform(cs, x -> x * log2(x)),
        |      'sum')) / nn * 10000) / 10000 + 0.0
        |    AS entropy_rate_bits,
        |  CASE WHEN n_states > 1 THEN
        |    ROUND((list_aggregate(list_transform(fs,
        |        x -> x * log2(x)), 'sum')
        |      - list_aggregate(list_transform(cs,
        |        x -> x * log2(x)), 'sum')) / nn / log2(n_states)
        |      * 10000) / 10000 + 0.0
        |  ELSE 0.0 END AS entropy_norm
        |FROM cells CROSS JOIN froms""".stripMargin,
    // Same user-day baskets, within-basket pair join, and exact
    // cross-multiplied lift.
    "agg_assoc_rules_lift" ->
      s"""WITH b AS (SELECT DISTINCT user_id,
         |    ${sqlEpochDay("ts")} AS day, event_type FROM events),
         |nb AS (SELECT count(*) AS n_baskets FROM
         |  (SELECT DISTINCT user_id, day FROM b)),
         |s AS (SELECT event_type, count(*) AS n_single FROM b
         |  GROUP BY 1),
         |p AS (SELECT x.event_type AS a, y.event_type AS b,
         |    count(*) AS n_ab
         |  FROM b x JOIN b y ON x.user_id = y.user_id
         |    AND x.day = y.day AND x.event_type < y.event_type
         |  GROUP BY 1, 2)
         |SELECT p.a, p.b, p.n_ab, sa.n_single AS n_a,
         |  sb.n_single AS n_b,
         |  ROUND(CAST(p.n_ab AS DOUBLE)
         |    / CAST(nb.n_baskets AS DOUBLE) * 10000) / 10000
         |    AS support,
         |  ROUND(CAST(p.n_ab AS DOUBLE)
         |    / CAST(sa.n_single AS DOUBLE) * 10000) / 10000
         |    AS confidence_a_b,
         |  ROUND(CAST(p.n_ab * nb.n_baskets AS DOUBLE)
         |    / CAST(sa.n_single * sb.n_single AS DOUBLE) * 10000)
         |    / 10000 AS lift
         |FROM p JOIN s sa ON sa.event_type = p.a
         |  JOIN s sb ON sb.event_type = p.b
         |  CROSS JOIN nb ORDER BY a, b""".stripMargin,
    // Same zero-filled spine, integer-midpoint split, and exact
    // HUGEINT moment slopes.
    "ts_segmented_regression" ->
      s"""WITH e AS (SELECT event_type, ${sqlEpochDay("ts")} AS day
         |  FROM events),
         |d0 AS (SELECT event_type, day, count(*) AS y FROM e
         |  GROUP BY 1, 2),
         |bd AS (SELECT min(day) AS lo, max(day) AS hi FROM e),
         |ty AS (SELECT DISTINCT event_type FROM e),
         |spine AS (SELECT event_type, unnest(range(lo, hi + 1)) AS day
         |  FROM ty CROSS JOIN bd),
         |fl AS (SELECT s.event_type, s.day, coalesce(y, 0) AS y,
         |    s.day > (bd.lo + bd.hi) // 2 AS post
         |  FROM spine s LEFT JOIN d0
         |    ON d0.event_type = s.event_type AND d0.day = s.day
         |  CROSS JOIN bd),
         |m AS (SELECT event_type, post, count(*) AS n,
         |    CAST(sum(day) AS HUGEINT) AS sx,
         |    CAST(sum(y) AS HUGEINT) AS sy,
         |    CAST(sum(day * day) AS HUGEINT) AS sxx,
         |    CAST(sum(day * y) AS HUGEINT) AS sxy
         |  FROM fl GROUP BY 1, 2),
         |sl AS (SELECT event_type, post, n,
         |    CAST(n * sxy - sx * sy AS DOUBLE)
         |      / CAST(n * sxx - sx * sx AS DOUBLE) AS b
         |  FROM m)
         |SELECT pre.event_type, pre.n AS n_pre, post.n AS n_post,
         |  ROUND(pre.b * 10000) / 10000 + 0.0 AS slope_pre,
         |  ROUND(post.b * 10000) / 10000 + 0.0 AS slope_post,
         |  ROUND((post.b - pre.b) * 10000) / 10000 + 0.0
         |    AS slope_change
         |FROM sl pre JOIN sl post
         |  ON pre.event_type = post.event_type
         |  AND NOT pre.post AND post.post
         |ORDER BY pre.event_type""".stripMargin,
    // Same exact-cent windows and 4·s7 vs s28 integer sign compare.
    "ts_sma_crossover" ->
      """WITH d AS (SELECT epoch_ms(o_orderdate) // 86400000 AS day,
        |    CAST(sum(CAST(round(o_totalprice * 100, 0) AS BIGINT))
        |      AS BIGINT) AS rev
        |  FROM orders GROUP BY 1),
        |w AS (SELECT day,
        |    row_number() OVER (ORDER BY day) AS rn,
        |    CAST(sum(rev) OVER (ORDER BY day
        |      ROWS BETWEEN 6 PRECEDING AND CURRENT ROW) AS BIGINT)
        |      AS s7,
        |    CAST(sum(rev) OVER (ORDER BY day
        |      ROWS BETWEEN 27 PRECEDING AND CURRENT ROW) AS BIGINT)
        |      AS s28
        |  FROM d),
        |sg AS (SELECT day, s7, s28,
        |    CASE WHEN 4 * s7 > s28 THEN 1
        |      WHEN 4 * s7 < s28 THEN -1 ELSE 0 END AS sgn
        |  FROM w WHERE rn >= 28),
        |x AS (SELECT *, lag(sgn) OVER (ORDER BY day) AS psgn FROM sg)
        |SELECT day,
        |  ROUND(CAST(s7 AS DOUBLE) / 700.0 * 10000) / 10000 AS sma7,
        |  ROUND(CAST(s28 AS DOUBLE) / 2800.0 * 10000) / 10000
        |    AS sma28,
        |  CASE WHEN sgn > psgn THEN 'golden' ELSE 'death' END
        |    AS direction
        |FROM x WHERE psgn IS NOT NULL AND sgn <> psgn
        |ORDER BY day""".stripMargin,
    // Same exact cents and cross-multiplied index.
    "ts_monthly_seasonal_index" ->
      """WITH m AS (SELECT CAST(month(o_orderdate) AS BIGINT) AS m,
        |    count(*) AS n_orders,
        |    CAST(sum(CAST(round(o_totalprice * 100, 0) AS BIGINT))
        |      AS BIGINT) AS rev
        |  FROM orders GROUP BY 1),
        |t AS (SELECT CAST(sum(rev) AS BIGINT) AS rev_total,
        |    count(*) AS n_months FROM m)
        |SELECT m AS month, n_orders, rev AS rev_cents,
        |  ROUND(CAST(rev * n_months AS DOUBLE)
        |    / CAST(rev_total AS DOUBLE) * 10000) / 10000
        |    AS seasonal_index
        |FROM m CROSS JOIN t ORDER BY month""".stripMargin,
    // Same lag flags and gaps-and-islands runs on the spine.
    "ts_growth_streaks" ->
      s"""WITH e AS (SELECT event_type, ${sqlEpochDay("ts")} AS day
         |  FROM events),
         |d0 AS (SELECT event_type, day, count(*) AS y FROM e
         |  GROUP BY 1, 2),
         |b AS (SELECT min(day) AS lo, max(day) AS hi FROM e),
         |ty AS (SELECT DISTINCT event_type FROM e),
         |spine AS (SELECT event_type, unnest(range(lo, hi + 1)) AS day
         |  FROM ty CROSS JOIN b),
         |fl AS (SELECT s.event_type, s.day, coalesce(y, 0) AS y
         |  FROM spine s LEFT JOIN d0
         |    ON d0.event_type = s.event_type AND d0.day = s.day),
         |l AS (SELECT event_type, day, y,
         |    lag(y) OVER (PARTITION BY event_type ORDER BY day) AS py
         |  FROM fl),
         |d AS (SELECT * FROM l WHERE py IS NOT NULL),
         |upr AS (SELECT event_type, max(len) AS longest_up_run,
         |    CAST(sum(len) AS BIGINT) AS n_up_days FROM (
         |  SELECT event_type, grp, count(*) AS len FROM (
         |    SELECT event_type, day - row_number()
         |      OVER (PARTITION BY event_type ORDER BY day) AS grp
         |    FROM d WHERE y > py) GROUP BY 1, 2) GROUP BY 1),
         |dnr AS (SELECT event_type, max(len) AS longest_down_run,
         |    CAST(sum(len) AS BIGINT) AS n_down_days FROM (
         |  SELECT event_type, grp, count(*) AS len FROM (
         |    SELECT event_type, day - row_number()
         |      OVER (PARTITION BY event_type ORDER BY day) AS grp
         |    FROM d WHERE y < py) GROUP BY 1, 2) GROUP BY 1),
         |tot AS (SELECT event_type, count(*) AS n_days FROM d
         |  GROUP BY 1)
         |SELECT t.event_type, t.n_days,
         |  COALESCE(u.n_up_days, 0) AS n_up_days,
         |  COALESCE(u.longest_up_run, 0) AS longest_up_run,
         |  COALESCE(dn.n_down_days, 0) AS n_down_days,
         |  COALESCE(dn.longest_down_run, 0) AS longest_down_run
         |FROM tot t LEFT JOIN upr u ON u.event_type = t.event_type
         |LEFT JOIN dnr dn ON dn.event_type = t.event_type
         |ORDER BY t.event_type""".stripMargin,
    // Same per-(type, day) order statistics and exact mean.
    "ts_daily_value_percentiles" ->
      s"""WITH e AS (SELECT event_type, ${sqlEpochDay("ts")} AS day,
         |    CAST(round(value * 100) AS BIGINT) AS cents FROM events)
         |SELECT event_type, day, count(*) AS n,
         |  ROUND(CAST(CAST(sum(cents) AS BIGINT) AS DOUBLE)
         |    / CAST(count(*) AS DOUBLE) / 100.0 * 10000) / 10000 + 0.0
         |    AS mean_value,
         |  CAST(percentile_disc(0.5) WITHIN GROUP (ORDER BY cents)
         |    AS BIGINT) AS p50_cents,
         |  CAST(percentile_disc(0.9) WITHIN GROUP (ORDER BY cents)
         |    AS BIGINT) AS p90_cents
         |FROM e GROUP BY 1, 2
         |ORDER BY event_type, day""".stripMargin,
    // Same spine block maxima, decimal moments, shared √6/π and γ
    // literals, identical ln edge.
    "ts_gumbel_block_maxima" ->
      s"""WITH e AS (SELECT event_type, ${sqlEpochDay("ts")} AS day
         |  FROM events),
         |d AS (SELECT event_type, day, count(*) AS y FROM e GROUP BY 1, 2),
         |b AS (SELECT min(day) AS lo, max(day) AS hi FROM e),
         |ty AS (SELECT DISTINCT event_type FROM e),
         |spine AS (SELECT event_type, unnest(range(lo, hi + 1)) AS day
         |  FROM ty CROSS JOIN b),
         |fl AS (SELECT s.event_type, s.day, coalesce(y, 0) AS y
         |  FROM spine s LEFT JOIN d
         |    ON s.event_type = d.event_type AND s.day = d.day),
         |wk AS (SELECT event_type, day // 7 AS week, max(y) AS m
         |  FROM fl GROUP BY 1, 2),
         |a AS (SELECT event_type, count(*) AS n_blocks,
         |    CAST(sum(m) AS HUGEINT) AS s1,
         |    CAST(sum(CAST(m AS HUGEINT) * m) AS HUGEINT) AS s2,
         |    max(m) AS max_weekly
         |  FROM wk GROUP BY 1),
         |f AS (SELECT event_type, n_blocks, max_weekly,
         |    CAST(s1 AS DOUBLE) / CAST(n_blocks AS DOUBLE) AS mu,
         |    sqrt(CAST(CAST(n_blocks AS HUGEINT) * s2 - s1 * s1
         |        AS DOUBLE)
         |      / CAST(n_blocks * n_blocks AS DOUBLE)) AS sd
         |  FROM a WHERE n_blocks > 1
         |    AND CAST(n_blocks AS HUGEINT) * s2 > s1 * s1),
         |g AS (SELECT *, sd * 0.7796968012336609 AS scale FROM f),
         |h AS (SELECT *, mu - 0.5772156649015329 * scale AS loc FROM g)
         |SELECT event_type, n_blocks, max_weekly,
         |  ROUND(mu * 10000) / 10000 + 0.0 AS mean_weekly_max,
         |  ROUND(loc * 10000) / 10000 + 0.0 AS gumbel_loc,
         |  ROUND(scale * 10000) / 10000 + 0.0 AS gumbel_scale,
         |  ROUND((loc - scale * ln(-ln(0.75))) * 10000) / 10000 + 0.0
         |    AS return_level_4wk
         |FROM h ORDER BY event_type""".stripMargin,
    // Same DFT chain; the entropy fold over the k-sorted power list
    // and the shared log₂10 literal.
    "ts_spectral_entropy" ->
      s"""WITH e AS (SELECT event_type, ${sqlEpochDay("ts")} AS day
         |  FROM events),
         |d AS (SELECT event_type, day, count(*) AS y FROM e GROUP BY 1, 2),
         |b AS (SELECT min(day) AS lo, max(day) AS hi FROM e),
         |ty AS (SELECT DISTINCT event_type FROM e),
         |spine AS (SELECT event_type, unnest(range(lo, hi + 1)) AS day
         |  FROM ty CROSS JOIN b),
         |fl AS (SELECT s.event_type, s.day, coalesce(y, 0) AS y
         |  FROM spine s LEFT JOIN d
         |    ON s.event_type = d.event_type AND s.day = d.day),
         |terms AS (SELECT f.event_type, CAST(ks.k AS BIGINT) AS k,
         |    f.day - b.lo AS t,
         |    CAST(f.y AS DOUBLE) * cos(2.0 * pi()
         |      * CAST(ks.k * (f.day - b.lo) AS DOUBLE)
         |      / CAST(b.hi - b.lo + 1 AS DOUBLE)) AS re_t,
         |    CAST(f.y AS DOUBLE) * sin(2.0 * pi()
         |      * CAST(ks.k * (f.day - b.lo) AS DOUBLE)
         |      / CAST(b.hi - b.lo + 1 AS DOUBLE)) AS im_t
         |  FROM fl f CROSS JOIN b
         |  CROSS JOIN (SELECT unnest(range(1, 11)) AS k) ks),
         |ag AS (SELECT event_type, k, count(*) AS nd,
         |    list_aggregate(list_transform(
         |      list_sort(list({'t': t, 'r': re_t, 'i': im_t})),
         |      z -> z.r), 'sum') AS re0,
         |    list_aggregate(list_transform(
         |      list_sort(list({'t': t, 'r': re_t, 'i': im_t})),
         |      z -> z.i), 'sum') AS im0
         |  FROM terms GROUP BY 1, 2),
         |pw AS (SELECT event_type, k,
         |    (re0 * re0 + im0 * im0) / nd AS power FROM ag),
         |l AS (SELECT event_type,
         |    list_transform(list_sort(list({'k': k, 'p': power})),
         |      z -> z.p) AS ps
         |  FROM pw GROUP BY 1),
         |t2 AS (SELECT event_type, ps,
         |    list_aggregate(ps, 'sum') AS ptot FROM l)
         |SELECT event_type,
         |  ROUND(list_aggregate(list_transform(ps,
         |      p -> CASE WHEN p > 0 THEN
         |        -(p / ptot * log2(p / ptot)) ELSE 0.0 END), 'sum')
         |    / 3.321928094887362 * 10000) / 10000 + 0.0
         |    AS spectral_entropy
         |FROM t2 ORDER BY event_type""".stripMargin,
    "ts_autocorr" ->
      s"""WITH e AS (SELECT event_type, ${sqlEpochDay("ts")} AS day
         |  FROM events),
         |d AS (SELECT event_type, day, count(*) AS y FROM e GROUP BY 1, 2),
         |b AS (SELECT min(day) AS lo, max(day) AS hi FROM e),
         |ty AS (SELECT DISTINCT event_type FROM e),
         |spine AS (SELECT event_type, unnest(range(lo, hi + 1)) AS day
         |  FROM ty CROSS JOIN b),
         |fl AS (SELECT s.event_type, s.day, coalesce(y, 0) AS y
         |  FROM spine s LEFT JOIN d
         |    ON s.event_type = d.event_type AND s.day = d.day),
         |l AS (SELECT event_type, y,
         |    lag(y, 1) OVER (PARTITION BY event_type ORDER BY day) AS y1,
         |    lag(y, 7) OVER (PARTITION BY event_type ORDER BY day) AS y7
         |  FROM fl),
         |p AS (SELECT event_type, CAST(1 AS BIGINT) AS lag_k,
         |    y1 AS x, y AS yy FROM l WHERE y1 IS NOT NULL
         |  UNION ALL SELECT event_type, CAST(7 AS BIGINT), y7, y
         |    FROM l WHERE y7 IS NOT NULL),
         |m AS (SELECT event_type, lag_k, count(*) AS n,
         |    CAST(sum(x) AS HUGEINT) AS sx,
         |    CAST(sum(yy) AS HUGEINT) AS sy,
         |    CAST(sum(x * x) AS HUGEINT) AS sxx,
         |    CAST(sum(yy * yy) AS HUGEINT) AS syy,
         |    CAST(sum(x * yy) AS HUGEINT) AS sxy
         |  FROM p GROUP BY 1, 2)
         |SELECT event_type, lag_k, n,
         |  ROUND(CAST(n * sxy - sx * sy AS DOUBLE)
         |    / (sqrt(CAST(n * sxx - sx * sx AS DOUBLE))
         |      * sqrt(CAST(n * syy - sy * sy AS DOUBLE)))
         |    * 10000.0) / 10000.0 AS acf
         |FROM m WHERE n > 1 AND n * sxx > sx * sx AND n * syy > sy * sy
         |ORDER BY event_type, lag_k""".stripMargin,
    // Same pair-Pearson ρ chain at lags 1-3, the identical unrolled
    // Durbin-Levinson scalars (kept unrounded through the recursion).
    "ts_pacf" ->
      s"""WITH e AS (SELECT event_type, ${sqlEpochDay("ts")} AS day
         |  FROM events),
         |d AS (SELECT event_type, day, count(*) AS y FROM e GROUP BY 1, 2),
         |b AS (SELECT min(day) AS lo, max(day) AS hi FROM e),
         |ty AS (SELECT DISTINCT event_type FROM e),
         |spine AS (SELECT event_type, unnest(range(lo, hi + 1)) AS day
         |  FROM ty CROSS JOIN b),
         |fl AS (SELECT s.event_type, s.day, coalesce(y, 0) AS y
         |  FROM spine s LEFT JOIN d
         |    ON s.event_type = d.event_type AND s.day = d.day),
         |l AS (SELECT event_type, y,
         |    lag(y, 1) OVER (PARTITION BY event_type ORDER BY day) AS k1,
         |    lag(y, 2) OVER (PARTITION BY event_type ORDER BY day) AS k2,
         |    lag(y, 3) OVER (PARTITION BY event_type ORDER BY day) AS k3
         |  FROM fl),
         |p AS (SELECT event_type, CAST(1 AS BIGINT) AS lag_k,
         |    k1 AS x, y AS yy FROM l WHERE k1 IS NOT NULL
         |  UNION ALL SELECT event_type, CAST(2 AS BIGINT), k2, y
         |    FROM l WHERE k2 IS NOT NULL
         |  UNION ALL SELECT event_type, CAST(3 AS BIGINT), k3, y
         |    FROM l WHERE k3 IS NOT NULL),
         |m AS (SELECT event_type, lag_k, count(*) AS n,
         |    CAST(sum(x) AS HUGEINT) AS sx,
         |    CAST(sum(yy) AS HUGEINT) AS sy,
         |    CAST(sum(x * x) AS HUGEINT) AS sxx,
         |    CAST(sum(yy * yy) AS HUGEINT) AS syy,
         |    CAST(sum(x * yy) AS HUGEINT) AS sxy
         |  FROM p GROUP BY 1, 2),
         |r AS (SELECT event_type, lag_k,
         |    CAST(n * sxy - sx * sy AS DOUBLE)
         |      / (sqrt(CAST(n * sxx - sx * sx AS DOUBLE))
         |        * sqrt(CAST(n * syy - sy * sy AS DOUBLE))) AS rho
         |  FROM m WHERE n > 1 AND n * sxx > sx * sx
         |    AND n * syy > sy * sy),
         |piv AS (SELECT event_type,
         |    max(CASE WHEN lag_k = 1 THEN rho END) AS r1,
         |    max(CASE WHEN lag_k = 2 THEN rho END) AS r2,
         |    max(CASE WHEN lag_k = 3 THEN rho END) AS r3
         |  FROM r GROUP BY 1),
         |s2 AS (SELECT event_type, r1, r2, r3,
         |    (r2 - r1 * r1) / (1.0 - r1 * r1) AS p22 FROM piv
         |  WHERE r1 IS NOT NULL AND r2 IS NOT NULL AND r3 IS NOT NULL),
         |s3 AS (SELECT event_type, r1, r2, r3, p22,
         |    r1 * (1.0 - p22) AS a21 FROM s2)
         |SELECT event_type,
         |  ROUND(r1 * 10000.0) / 10000.0 + 0.0 AS pacf_1,
         |  ROUND(p22 * 10000.0) / 10000.0 + 0.0 AS pacf_2,
         |  ROUND((r3 - a21 * r2 - p22 * r1)
         |    / (1.0 - a21 * r1 - p22 * r2) * 10000.0) / 10000.0 + 0.0
         |    AS pacf_3
         |FROM s3 ORDER BY event_type""".stripMargin,
    // Same strict peak/trough counts off the spine; identical
    // expectation/variance edge.
    "ts_turning_points" ->
      s"""WITH e AS (SELECT event_type, ${sqlEpochDay("ts")} AS day
         |  FROM events),
         |d AS (SELECT event_type, day, count(*) AS y FROM e GROUP BY 1, 2),
         |b AS (SELECT min(day) AS lo, max(day) AS hi FROM e),
         |ty AS (SELECT DISTINCT event_type FROM e),
         |spine AS (SELECT event_type, unnest(range(lo, hi + 1)) AS day
         |  FROM ty CROSS JOIN b),
         |fl AS (SELECT s.event_type, s.day, coalesce(y, 0) AS y
         |  FROM spine s LEFT JOIN d
         |    ON s.event_type = d.event_type AND s.day = d.day),
         |l AS (SELECT event_type, y,
         |    lag(y) OVER (PARTITION BY event_type ORDER BY day) AS py,
         |    lead(y) OVER (PARTITION BY event_type ORDER BY day) AS ny
         |  FROM fl),
         |a AS (SELECT event_type, count(*) AS n_days,
         |    count(*) FILTER (WHERE py IS NOT NULL AND ny IS NOT NULL
         |      AND y > py AND y > ny) AS n_peaks,
         |    count(*) FILTER (WHERE py IS NOT NULL AND ny IS NOT NULL
         |      AND y < py AND y < ny) AS n_troughs
         |  FROM l GROUP BY 1)
         |SELECT event_type, n_days, n_peaks, n_troughs,
         |  n_peaks + n_troughs AS n_turning,
         |  ROUND(2.0 * CAST(n_days - 2 AS DOUBLE) / 3.0 * 10000.0)
         |    / 10000.0 + 0.0 AS expected,
         |  ROUND((CAST(n_peaks + n_troughs AS DOUBLE)
         |    - 2.0 * CAST(n_days - 2 AS DOUBLE) / 3.0)
         |    / sqrt((16.0 * CAST(n_days AS DOUBLE) - 29.0) / 90.0)
         |    * 10000.0) / 10000.0 + 0.0 AS z
         |FROM a ORDER BY event_type""".stripMargin,
    // Same gaps-and-islands grouping of the spine's zero days.
    "ts_zero_run_profile" ->
      s"""WITH e AS (SELECT event_type, ${sqlEpochDay("ts")} AS day
         |  FROM events),
         |d AS (SELECT event_type, day, count(*) AS y FROM e GROUP BY 1, 2),
         |b AS (SELECT min(day) AS lo, max(day) AS hi FROM e),
         |ty AS (SELECT DISTINCT event_type FROM e),
         |spine AS (SELECT event_type, unnest(range(lo, hi + 1)) AS day
         |  FROM ty CROSS JOIN b),
         |fl AS (SELECT s.event_type, s.day, coalesce(y, 0) AS y
         |  FROM spine s LEFT JOIN d
         |    ON s.event_type = d.event_type AND s.day = d.day),
         |z AS (SELECT event_type, day,
         |    day - row_number() OVER (PARTITION BY event_type
         |      ORDER BY day) AS grp
         |  FROM fl WHERE y = 0),
         |rl AS (SELECT event_type, grp, count(*) AS run_len
         |  FROM z GROUP BY 1, 2),
         |runs AS (SELECT event_type, count(*) AS n_runs,
         |    CAST(sum(run_len) AS BIGINT) AS n_zero_days,
         |    max(run_len) AS max_run
         |  FROM rl GROUP BY 1),
         |tot AS (SELECT event_type, count(*) AS n_days FROM fl
         |  GROUP BY 1)
         |SELECT t.event_type, t.n_days,
         |  COALESCE(r.n_zero_days, 0) AS n_zero_days,
         |  COALESCE(r.n_runs, 0) AS n_runs,
         |  COALESCE(r.max_run, 0) AS max_run,
         |  ROUND(CAST(COALESCE(r.n_zero_days, 0) AS DOUBLE)
         |    / CAST(t.n_days AS DOUBLE) * 10000) / 10000 + 0.0
         |    AS zero_share
         |FROM tot t LEFT JOIN runs r ON r.event_type = t.event_type
         |ORDER BY t.event_type""".stripMargin,
    // The funnel_stages CTE chain with deadlines: each stage's min is
    // taken over events inside the window opened by the previous
    // stage's qualifying minimum — dependent joins, same semantics as
    // the Spark side's per-user array fold.
    "funnel_conversion_window" ->
      """WITH e AS (SELECT user_id, event_type, epoch_ms(ts) AS ms
        |  FROM events),
        |v AS (SELECT user_id, min(ms) AS v FROM e
        |  WHERE event_type = 'view' GROUP BY 1),
        |c AS (SELECT e.user_id, min(ms) AS c FROM e JOIN v USING (user_id)
        |  WHERE event_type = 'click'
        |    AND ms >= v AND ms <= v + 86400000 GROUP BY 1),
        |p AS (SELECT e.user_id, min(ms) AS p FROM e JOIN c USING (user_id)
        |  WHERE event_type = 'purchase'
        |    AND ms >= c AND ms <= c + 259200000 GROUP BY 1)
        |SELECT (SELECT count(*) FROM v) AS n_view,
        |  (SELECT count(*) FROM c) AS n_click_24h,
        |  (SELECT count(*) FROM p) AS n_purchase_72h,
        |  ROUND(CAST((SELECT count(*) FROM c) AS DOUBLE)
        |    / CAST((SELECT count(*) FROM v) AS DOUBLE) * 10000.0)
        |    / 10000.0 AS cvr_click,
        |  ROUND(CAST((SELECT count(*) FROM p) AS DOUBLE)
        |    / CAST((SELECT count(*) FROM v) AS DOUBLE) * 10000.0)
        |    / 10000.0 AS cvr_purchase""".stripMargin,
    // Same spine, same modular weekday, same integer cross-product
    // ratio; the per-type totals ride the same 7-row window.
    "ts_dow_seasonality" ->
      s"""WITH e AS (SELECT event_type, ${sqlEpochDay("ts")} AS day
         |  FROM events),
         |d AS (SELECT event_type, day, count(*) AS y FROM e GROUP BY 1, 2),
         |b AS (SELECT min(day) AS lo, max(day) AS hi FROM e),
         |ty AS (SELECT DISTINCT event_type FROM e),
         |spine AS (SELECT event_type, unnest(range(lo, hi + 1)) AS day
         |  FROM ty CROSS JOIN b),
         |fl AS (SELECT s.event_type, s.day, coalesce(y, 0) AS y,
         |    (s.day + 4) % 7 AS dow
         |  FROM spine s LEFT JOIN d
         |    ON s.event_type = d.event_type AND s.day = d.day),
         |g AS (SELECT event_type, dow, count(*) AS n_days,
         |    CAST(sum(y) AS HUGEINT) AS ne
         |  FROM fl GROUP BY 1, 2),
         |t AS (SELECT event_type, dow, n_days, ne,
         |    sum(n_days) OVER (PARTITION BY event_type) AS td,
         |    sum(ne) OVER (PARTITION BY event_type) AS te FROM g)
         |SELECT event_type, dow, n_days, CAST(ne AS BIGINT) AS n_events,
         |  ROUND(CAST(ne * td AS DOUBLE) / CAST(n_days * te AS DOUBLE)
         |    * 10000.0) / 10000.0 AS idx
         |FROM t WHERE te > 0 ORDER BY event_type, dow""".stripMargin,
    "sql_tpch_q10" ->
      s"""SELECT c_custkey, c_name, n_name,
         |  ${sqlSum("l_extendedprice * (1 - l_discount)")} AS revenue
         |FROM customer
         |JOIN orders ON c_custkey = o_custkey
         |JOIN lineitem ON l_orderkey = o_orderkey
         |JOIN nation ON c_nationkey = n_nationkey
         |WHERE o_orderdate >= DATE '1996-01-01'
         |  AND o_orderdate < DATE '1996-04-01'
         |  AND l_returnflag = 'R'
         |GROUP BY c_custkey, c_name, n_name
         |ORDER BY revenue DESC, c_custkey
         |LIMIT 20""".stripMargin,
    "sql_tpch_q1" ->
      s"""SELECT l_returnflag, l_linestatus,
         |  ${sqlSum("l_quantity")} AS sum_qty,
         |  ${sqlSum("l_extendedprice")} AS sum_base_price,
         |  ${sqlSum("l_extendedprice * (1 - l_discount)")} AS sum_disc_price,
         |  ${sqlSum("l_extendedprice * (1 - l_discount) * (1 + l_tax)")}
         |    AS sum_charge,
         |  ${sqlAvg("l_quantity")} AS avg_qty,
         |  ${sqlAvg("l_extendedprice")} AS avg_price,
         |  ${sqlAvg("l_discount")} AS avg_disc,
         |  count(*) AS count_order
         |FROM lineitem
         |WHERE l_shipdate <= DATE '2000-09-02'
         |GROUP BY l_returnflag, l_linestatus
         |ORDER BY l_returnflag, l_linestatus""".stripMargin,
    "sql_tpch_q5" ->
      s"""SELECT n_name,
         |  ${sqlSum("l_extendedprice * (1 - l_discount)")} AS revenue
         |FROM customer
         |JOIN orders ON c_custkey = o_custkey
         |JOIN lineitem ON l_orderkey = o_orderkey
         |JOIN supplier ON l_suppkey = s_suppkey
         |  AND c_nationkey = s_nationkey
         |JOIN nation ON s_nationkey = n_nationkey
         |JOIN region ON n_regionkey = r_regionkey
         |WHERE r_name = 'ASIA'
         |  AND o_orderdate >= DATE '1996-01-01'
         |  AND o_orderdate < DATE '1997-01-01'
         |GROUP BY n_name
         |ORDER BY revenue DESC, n_name""".stripMargin,
    // Same five integer window sums and guard on the x-variance.
    "ts_rolling_slope" ->
      s"""WITH e AS (SELECT event_type, ${sqlEpochDay("ts")} AS day
         |  FROM events),
         |d AS (SELECT event_type, day, count(*) AS y FROM e GROUP BY 1, 2),
         |b AS (SELECT min(day) AS lo, max(day) AS hi FROM e),
         |ty AS (SELECT DISTINCT event_type FROM e),
         |spine AS (SELECT event_type, unnest(range(lo, hi + 1)) AS day
         |  FROM ty CROSS JOIN b),
         |fl AS (SELECT s.event_type, s.day, coalesce(y, 0) AS y
         |  FROM spine s LEFT JOIN d
         |    ON s.event_type = d.event_type AND s.day = d.day),
         |m AS (SELECT event_type, day, y,
         |    count(*) OVER w AS n,
         |    CAST(sum(day) OVER w AS BIGINT) AS sx,
         |    CAST(sum(y) OVER w AS BIGINT) AS sy,
         |    CAST(sum(day * y) OVER w AS BIGINT) AS sxy,
         |    CAST(sum(day * day) OVER w AS BIGINT) AS sxx
         |  FROM fl WINDOW w AS (PARTITION BY event_type ORDER BY day
         |    ROWS BETWEEN 13 PRECEDING AND CURRENT ROW))
         |SELECT event_type, day, y,
         |  CASE WHEN n * sxx - sx * sx > 0 THEN
         |    ROUND(CAST(n * sxy - sx * sy AS DOUBLE)
         |      / CAST(n * sxx - sx * sx AS DOUBLE) * 10000) / 10000
         |  END AS slope14
         |FROM m ORDER BY event_type, day""".stripMargin,
    // Same lag-7 scoring; sMAPE terms fixed to DECIMAL(38,12) before
    // the sum, WAPE a ratio of integer sums.
    "ts_forecast_wape_smape" ->
      s"""WITH e AS (SELECT event_type, ${sqlEpochDay("ts")} AS day
         |  FROM events),
         |d AS (SELECT event_type, day, count(*) AS y FROM e GROUP BY 1, 2),
         |b AS (SELECT min(day) AS lo, max(day) AS hi FROM e),
         |ty AS (SELECT DISTINCT event_type FROM e),
         |spine AS (SELECT event_type, unnest(range(lo, hi + 1)) AS day
         |  FROM ty CROSS JOIN b),
         |fl AS (SELECT s.event_type, s.day, coalesce(y, 0) AS y
         |  FROM spine s LEFT JOIN d
         |    ON s.event_type = d.event_type AND s.day = d.day),
         |l AS (SELECT event_type, day, y,
         |    lag(y, 7) OVER (PARTITION BY event_type ORDER BY day) AS f
         |  FROM fl),
         |sc AS (SELECT event_type, y, f,
         |    CASE WHEN y + f = 0 THEN 0.0
         |         ELSE 2.0 * CAST(abs(y - f) AS DOUBLE)
         |           / CAST(y + f AS DOUBLE) END AS term
         |  FROM l WHERE f IS NOT NULL)
         |SELECT event_type, count(*) AS n_scored,
         |  ROUND(CAST(CAST(sum(abs(y - f)) AS BIGINT) AS DOUBLE)
         |    / CAST(CAST(sum(y) AS BIGINT) AS DOUBLE) * 10000) / 10000
         |    AS wape,
         |  ROUND(CAST(sum(CAST(term AS DECIMAL(38,12))) AS DOUBLE)
         |    / CAST(count(*) AS DOUBLE) * 10000) / 10000 AS smape
         |FROM sc GROUP BY event_type ORDER BY event_type""".stripMargin,
    // Same bucket means, neighbor anchors, and 2×area score; '//' is
    // DuckDB's floor division (post-epoch days ⇒ ≡ Spark div).
    "ts_downsample_lttb" ->
      s"""WITH e AS (SELECT event_type, ${sqlEpochDay("ts")} AS day
         |  FROM events),
         |d AS (SELECT event_type, day, count(*) AS y FROM e GROUP BY 1, 2),
         |b AS (SELECT min(day) AS lo, max(day) AS hi FROM e),
         |ty AS (SELECT DISTINCT event_type FROM e),
         |spine AS (SELECT event_type, unnest(range(lo, hi + 1)) AS day
         |  FROM ty CROSS JOIN b),
         |fl AS (SELECT s.event_type, s.day, coalesce(y, 0) AS y,
         |    s.day // 7 AS bucket
         |  FROM spine s LEFT JOIN d
         |    ON s.event_type = d.event_type AND s.day = d.day),
         |bs AS (SELECT event_type, bucket,
         |    CAST(sum(day) AS DOUBLE) / count(*) AS mx,
         |    CAST(sum(y) AS DOUBLE) / count(*) AS my
         |  FROM fl GROUP BY 1, 2),
         |bm AS (SELECT event_type, bucket,
         |    lag(mx) OVER w AS pmx, lag(my) OVER w AS pmy,
         |    lead(mx) OVER w AS nmx, lead(my) OVER w AS nmy
         |  FROM bs WINDOW w AS (PARTITION BY event_type ORDER BY bucket)),
         |c AS (SELECT f.event_type, f.bucket, f.day, f.y,
         |    CASE WHEN pmx IS NULL THEN -CAST(f.day AS DOUBLE)
         |         WHEN nmx IS NULL THEN CAST(f.day AS DOUBLE)
         |         ELSE abs((pmx - nmx) * (CAST(f.y AS DOUBLE) - pmy)
         |           - (pmx - CAST(f.day AS DOUBLE)) * (nmy - pmy))
         |    END AS score
         |  FROM fl f JOIN bm ON f.event_type = bm.event_type
         |    AND f.bucket = bm.bucket),
         |r AS (SELECT *, row_number() OVER (PARTITION BY event_type, bucket
         |    ORDER BY score DESC, day) AS rk FROM c)
         |SELECT event_type, bucket, day AS sel_day, y
         |FROM r WHERE rk = 1 ORDER BY event_type, bucket""".stripMargin,
    // Same integer cusum statistic; HUGEINT products, CASE for the
    // no-after-regime NULL, abs-desc/day-asc argmax tie-break.
    "ts_cusum_changepoint" ->
      s"""WITH e AS (SELECT event_type, ${sqlEpochDay("ts")} AS day
         |  FROM events),
         |d AS (SELECT event_type, day, count(*) AS y FROM e GROUP BY 1, 2),
         |b AS (SELECT min(day) AS lo, max(day) AS hi FROM e),
         |ty AS (SELECT DISTINCT event_type FROM e),
         |spine AS (SELECT event_type, unnest(range(lo, hi + 1)) AS day
         |  FROM ty CROSS JOIN b),
         |fl AS (SELECT s.event_type, s.day, coalesce(y, 0) AS y
         |  FROM spine s LEFT JOIN d
         |    ON s.event_type = d.event_type AND s.day = d.day),
         |c AS (SELECT event_type, day,
         |    row_number() OVER w AS t,
         |    sum(y) OVER (PARTITION BY event_type ORDER BY day
         |      ROWS UNBOUNDED PRECEDING) AS p,
         |    count(*) OVER (PARTITION BY event_type) AS n,
         |    sum(y) OVER (PARTITION BY event_type) AS stot
         |  FROM fl WINDOW w AS (PARTITION BY event_type ORDER BY day)),
         |m AS (SELECT event_type, day, t, p, n, stot,
         |    CAST(n AS HUGEINT) * p - CAST(t AS HUGEINT) * stot AS c
         |  FROM c),
         |r AS (SELECT *, row_number() OVER (PARTITION BY event_type
         |    ORDER BY abs(c) DESC, day) AS rk FROM m)
         |SELECT event_type, day AS cp_day,
         |  CAST(abs(c) AS BIGINT) AS cusum_abs,
         |  ROUND(CAST(p AS DOUBLE) / t * 10000) / 10000 AS mean_before,
         |  CASE WHEN n > t THEN
         |    ROUND(CAST(stot - p AS DOUBLE) / (n - t) * 10000) / 10000
         |  END AS mean_after
         |FROM r WHERE rk = 1 ORDER BY event_type""".stripMargin,
    // Strict neighbors comparison — NULL lag/lead rows drop in the
    // WHERE exactly as on the Spark side.
    "ts_peak_detect" ->
      s"""WITH e AS (SELECT event_type, ${sqlEpochDay("ts")} AS day
         |  FROM events),
         |d AS (SELECT event_type, day, count(*) AS y FROM e GROUP BY 1, 2),
         |b AS (SELECT min(day) AS lo, max(day) AS hi FROM e),
         |ty AS (SELECT DISTINCT event_type FROM e),
         |spine AS (SELECT event_type, unnest(range(lo, hi + 1)) AS day
         |  FROM ty CROSS JOIN b),
         |fl AS (SELECT s.event_type, s.day, coalesce(y, 0) AS y
         |  FROM spine s LEFT JOIN d
         |    ON s.event_type = d.event_type AND s.day = d.day),
         |l AS (SELECT event_type, day, y,
         |    lag(y, 1) OVER w AS py, lead(y, 1) OVER w AS ny
         |  FROM fl WINDOW w AS (PARTITION BY event_type ORDER BY day))
         |SELECT event_type, day, y,
         |  CAST(y - greatest(py, ny) AS BIGINT) AS prominence
         |FROM l WHERE y > py AND y > ny
         |ORDER BY event_type, day""".stripMargin,
    // Same pair generation over the aggregated series; quantile_cont
    // ≡ percentile interpolation on doubles.
    "ts_theil_sen" ->
      s"""WITH e AS (SELECT event_type, ${sqlEpochDay("ts")} AS day
         |  FROM events),
         |d AS (SELECT event_type, day, count(*) AS y FROM e GROUP BY 1, 2),
         |b AS (SELECT min(day) AS lo, max(day) AS hi FROM e),
         |ty AS (SELECT DISTINCT event_type FROM e),
         |spine AS (SELECT event_type, unnest(range(lo, hi + 1)) AS day
         |  FROM ty CROSS JOIN b),
         |fl AS (SELECT s.event_type, s.day, coalesce(y, 0) AS y
         |  FROM spine s LEFT JOIN d
         |    ON s.event_type = d.event_type AND s.day = d.day),
         |pairs AS (SELECT a.event_type,
         |    CAST(b2.y - a.y AS DOUBLE) / (b2.day - a.day) AS slope
         |  FROM fl a JOIN fl b2 ON a.event_type = b2.event_type
         |    AND a.day < b2.day),
         |nd AS (SELECT event_type, count(*) AS n_days FROM fl GROUP BY 1)
         |SELECT p.event_type, nd.n_days, count(*) AS n_pairs,
         |  ROUND(quantile_cont(slope, 0.5) * 10000) / 10000 + 0.0
         |    AS theil_slope
         |FROM pairs p JOIN nd ON p.event_type = nd.event_type
         |GROUP BY p.event_type, nd.n_days
         |ORDER BY p.event_type""".stripMargin,
    // Same exact-integer moments on the same zero-filled day spine;
    // FILTER counts ≡ the Spark side's conditional sums of the
    // zero-filled per-type series.
    // Same running-max record rule; window max HUGEINT-cast back.
    "ts_records_count" ->
      s"""WITH d AS (SELECT event_type, ${sqlEpochDay("ts")} AS day,
         |    count(*) AS v
         |  FROM events GROUP BY 1, 2),
         |r AS (SELECT event_type, day, v,
         |    max(v) OVER (PARTITION BY event_type ORDER BY day
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
         |      AS prevmax
         |  FROM d),
         |f AS (SELECT event_type, day, v,
         |    CASE WHEN prevmax IS NULL OR v > prevmax THEN 1 ELSE 0
         |    END AS rec
         |  FROM r)
         |SELECT event_type, count(*) AS n_days,
         |  CAST(sum(rec) AS BIGINT) AS n_records,
         |  max(CASE WHEN rec = 1 THEN day END) AS last_record_day,
         |  CAST(max(v) AS BIGINT) AS max_daily
         |FROM f GROUP BY event_type ORDER BY event_type""".stripMargin,
    // Epoch-residue dow/hour; exact cells, one division per cell.
    "ts_hour_dow_heatmap" ->
      s"""WITH e AS (SELECT (${sqlEpochDay("ts")}) % 7 AS dow,
         |    epoch_ms(ts) // 3600000 % 24 AS hour FROM events),
         |cells AS (SELECT dow, hour, count(*) AS n
         |  FROM e GROUP BY 1, 2),
         |t AS (SELECT CAST(sum(n) AS BIGINT) AS total FROM cells)
         |SELECT dow, hour, n,
         |  ROUND(CAST(n AS DOUBLE) / CAST(total AS DOUBLE) * 10000)
         |    / 10000 AS share
         |FROM cells CROSS JOIN t ORDER BY dow, hour""".stripMargin,
    // Per-day agg_entropy_mix fold; counts exact, log2 terms in
    // sorted-list order.
    "ts_entropy_daily" ->
      s"""WITH c AS (SELECT ${sqlEpochDay("ts")} AS day, event_type,
         |    count(*) AS c
         |  FROM events GROUP BY 1, 2),
         |g AS (SELECT day, CAST(sum(c) AS BIGINT) AS n_events,
         |    count(*) AS n_types, list_sort(list(c)) AS cs
         |  FROM c GROUP BY 1)
         |SELECT day, n_events, n_types,
         |  ROUND(log2(n_events)
         |    - list_aggregate(list_transform(cs, x -> x * log2(x)), 'sum')
         |      / n_events, 4) + 0.0 AS entropy_bits
         |FROM g ORDER BY day""".stripMargin,
    "ts_churn_weekly" ->
      s"""WITH uw AS (SELECT DISTINCT user_id,
         |    (${sqlEpochDay("ts")}) // 7 AS week FROM events),
         |ag AS (SELECT w.week, count(*) AS n_active,
         |    count(n.user_id) AS n_retained
         |  FROM uw w LEFT JOIN uw n
         |    ON n.user_id = w.user_id AND n.week = w.week + 1
         |  GROUP BY w.week),
         |mx AS (SELECT max(week) AS maxw FROM uw)
         |SELECT week, n_active,
         |  CASE WHEN week < maxw THEN n_retained END AS n_retained,
         |  CASE WHEN week < maxw THEN n_active - n_retained END
         |    AS n_churned,
         |  CASE WHEN week < maxw THEN
         |    ROUND(CAST(n_active - n_retained AS DOUBLE)
         |      / CAST(n_active AS DOUBLE) * 10000) / 10000 END
         |    AS churn_rate
         |FROM ag, mx ORDER BY week""".stripMargin,
    "ts_rolling_corr" ->
      s"""WITH e AS (SELECT event_type, ${sqlEpochDay("ts")} AS day
         |  FROM events),
         |b AS (SELECT min(day) AS lo, max(day) AS hi FROM e),
         |spine AS (SELECT unnest(range(lo, hi + 1)) AS day FROM b),
         |d AS (SELECT day,
         |    count(*) FILTER (WHERE event_type = 'click') AS cx,
         |    count(*) FILTER (WHERE event_type = 'purchase') AS cy
         |  FROM e GROUP BY day),
         |f AS (SELECT s.day, COALESCE(cx, 0) AS cx, COALESCE(cy, 0) AS cy
         |  FROM spine s LEFT JOIN d USING (day)),
         |m AS (SELECT day, cx, cy,
         |    count(*) OVER w AS n,
         |    CAST(sum(cx) OVER w AS BIGINT) AS sx,
         |    CAST(sum(cy) OVER w AS BIGINT) AS sy,
         |    CAST(sum(cx * cy) OVER w AS BIGINT) AS sxy,
         |    CAST(sum(cx * cx) OVER w AS BIGINT) AS sxx,
         |    CAST(sum(cy * cy) OVER w AS BIGINT) AS syy
         |  FROM f WINDOW w AS (ORDER BY day
         |    ROWS BETWEEN 13 PRECEDING AND CURRENT ROW))
         |SELECT day, CAST(cx AS BIGINT) AS cx, CAST(cy AS BIGINT) AS cy,
         |  CASE WHEN n * sxx - sx * sx > 0 AND n * syy - sy * sy > 0 THEN
         |    ROUND(CAST(n * sxy - sx * sy AS DOUBLE)
         |      / sqrt(CAST(n * sxx - sx * sx AS DOUBLE)
         |           * CAST(n * syy - sy * sy AS DOUBLE)) * 10000.0)
         |      / 10000.0 + 0.0
         |  END AS corr14
         |FROM m ORDER BY day""".stripMargin,
    // count(*) stays BIGINT; the ÷7 ratio divides the exact decimal
    // sum as a double exactly as the Spark spelling does.
    "sql_tpch_q17" ->
      """SELECT
        |  ROUND(CAST(SUM(CAST(l_extendedprice AS DECIMAL(38,6)))
        |    AS DOUBLE) / 7.0 * 10000.0) / 10000.0 AS avg_yearly,
        |  count(*) AS n_lines
        |FROM lineitem
        |JOIN part ON p_partkey = l_partkey
        |WHERE p_brand = 'Brand#23' AND p_type = 'MEDIUM'
        |  AND l_quantity < (
        |    SELECT 0.2 * avg(l2.l_quantity)
        |    FROM lineitem l2
        |    WHERE l2.l_partkey = p_partkey)""".stripMargin,
    "sql_tpch_q21" ->
      """SELECT s_name, count(*) AS numwait
        |FROM supplier
        |JOIN lineitem l1 ON s_suppkey = l1.l_suppkey
        |JOIN orders ON o_orderkey = l1.l_orderkey
        |WHERE o_orderstatus = 'F'
        |  AND l1.l_shipdate > o_orderdate + INTERVAL 365 DAY
        |  AND EXISTS (
        |    SELECT 1 FROM lineitem l2
        |    WHERE l2.l_orderkey = l1.l_orderkey
        |      AND l2.l_suppkey <> l1.l_suppkey)
        |  AND NOT EXISTS (
        |    SELECT 1 FROM lineitem l3
        |    WHERE l3.l_orderkey = l1.l_orderkey
        |      AND l3.l_suppkey <> l1.l_suppkey
        |      AND l3.l_shipdate > o_orderdate + INTERVAL 365 DAY)
        |GROUP BY s_name
        |ORDER BY numwait DESC, s_name
        |LIMIT 20""".stripMargin,
    // Same exact-decimal discipline: YTD and YoY over the DECIMAL
    // monthly sums, one round at the edge; same continuity CASE.
    "ts_mtd_yoy" ->
      """WITH m AS (SELECT CAST(date_trunc('month', o_orderdate) AS DATE)
        |    AS month, count(*) AS n_orders,
        |    sum(CAST(o_totalprice AS DECIMAL(38,6))) AS rev_dec
        |  FROM orders GROUP BY 1),
        |w AS (SELECT month, n_orders, rev_dec,
        |    sum(rev_dec) OVER (PARTITION BY year(month) ORDER BY month
        |      ROWS UNBOUNDED PRECEDING) AS ytd_dec,
        |    lag(rev_dec, 12) OVER (ORDER BY month) AS prev_dec,
        |    lag(month, 12) OVER (ORDER BY month) AS prev_month
        |  FROM m)
        |SELECT month, n_orders,
        |  CAST(ROUND(rev_dec, 4) AS DOUBLE) AS revenue,
        |  CAST(ROUND(ytd_dec, 4) AS DOUBLE) AS ytd_revenue,
        |  CASE WHEN prev_month = month - INTERVAL 12 MONTH THEN
        |    ROUND(CAST(rev_dec - prev_dec AS DOUBLE) * 100.0
        |      / CAST(prev_dec AS DOUBLE) * 10000.0) / 10000.0
        |  END AS yoy_pct
        |FROM w ORDER BY month""".stripMargin,
    // Same 8 power-of-two taps: every term and both sums are exact
    // doubles (see the Spark side's scaladoc), so the spelling only
    // has to match arithmetically, not in fold order.
    "ts_ewma" -> {
      val num = (0 to 7).map { k =>
        if (k == 0) s"CAST(y AS DOUBLE) * ${1.0 / (1 << k)}"
        else s"COALESCE(CAST(lag(y, $k) OVER w AS DOUBLE) * ${1.0 / (1 << k)}, 0.0)"
      }.mkString("\n         |    + ")
      val den = (0 to 7).map { k =>
        if (k == 0) s"${1.0 / (1 << k)}"
        else s"CASE WHEN lag(y, $k) OVER w IS NOT NULL THEN ${1.0 / (1 << k)} ELSE 0.0 END"
      }.mkString("\n         |    + ")
      s"""WITH e AS (SELECT event_type, ${sqlEpochDay("ts")} AS day
         |  FROM events),
         |d AS (SELECT event_type, day, count(*) AS y FROM e GROUP BY 1, 2),
         |b AS (SELECT min(day) AS lo, max(day) AS hi FROM e),
         |ty AS (SELECT DISTINCT event_type FROM e),
         |spine AS (SELECT event_type, unnest(range(lo, hi + 1)) AS day
         |  FROM ty CROSS JOIN b),
         |f AS (SELECT s.event_type, s.day, COALESCE(d.y, 0) AS y
         |  FROM spine s LEFT JOIN d USING (event_type, day))
         |SELECT event_type, day, CAST(y AS BIGINT) AS y,
         |  ROUND(($num)
         |   / ($den) * 10000.0) / 10000.0 AS ewma
         |FROM f WINDOW w AS (PARTITION BY event_type ORDER BY day)
         |ORDER BY event_type, day""".stripMargin
    },
    // STL: the same 1/7-unit integers; negative-capable outputs carry
    // the +0.0 normalizer, NULL edge trends stay NULL through it.
    "ts_stl_decompose" ->
      s"""WITH e AS (SELECT event_type, ${sqlEpochDay("ts")} AS day
         |  FROM events),
         |d AS (SELECT event_type, day, count(*) AS y FROM e GROUP BY 1, 2),
         |b AS (SELECT min(day) AS lo, max(day) AS hi FROM e),
         |ty AS (SELECT DISTINCT event_type FROM e),
         |spine AS (SELECT event_type, unnest(range(lo, hi + 1)) AS day
         |  FROM ty CROSS JOIN b),
         |f AS (SELECT s.event_type, s.day, COALESCE(d.y, 0) AS y
         |  FROM spine s LEFT JOIN d USING (event_type, day)),
         |t7 AS (SELECT event_type, day, y, day % 7 AS dow,
         |    CASE WHEN count(*) OVER w7 = 7
         |      THEN CAST(sum(y) OVER w7 AS BIGINT) END AS trend7
         |  FROM f WINDOW w7 AS (PARTITION BY event_type ORDER BY day
         |    ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING)),
         |dt AS (SELECT *, 7 * y - trend7 AS detr7 FROM t7),
         |se AS (SELECT event_type, dow,
         |    CAST(sum(detr7) AS DOUBLE) / count(*) AS seasonal7
         |  FROM dt WHERE detr7 IS NOT NULL GROUP BY 1, 2)
         |SELECT dt.event_type, dt.day, CAST(dt.y AS BIGINT) AS y,
         |  ROUND(CAST(trend7 AS DOUBLE) / 7.0 * 10000) / 10000 + 0.0
         |    AS trend,
         |  ROUND(seasonal7 / 7.0 * 10000) / 10000 + 0.0 AS seasonal,
         |  ROUND((CAST(detr7 AS DOUBLE) - seasonal7) / 7.0 * 10000)
         |    / 10000 + 0.0 AS residual
         |FROM dt LEFT JOIN se USING (event_type, dow)
         |ORDER BY event_type, day""".stripMargin,
    "agg_filter_clause" ->
      s"""SELECT l_returnflag,
         |  count(*) AS n_all,
         |  count(*) FILTER (WHERE l_quantity > 25) AS n_heavy,
         |  CAST(ROUND(SUM(CAST(l_extendedprice * (1 - l_discount)
         |      AS DECIMAL(38,6))) FILTER (WHERE l_discount > 0.05), 4)
         |    AS DOUBLE) AS deep_disc_revenue,
         |  bool_and(l_quantity >= 1) AS all_qty_positive,
         |  bool_or(l_discount > 0.09) AS any_deep_discount
         |FROM lineitem
         |GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,
    // quantile_cont is DuckDB's exact interpolating percentile — the
    // agg_stats parity, here as a window aggregate over the same
    // 6-PRECEDING frame; zero-filled spine CTE mirrors the Spark side.
    "win_rolling_median" ->
      s"""WITH e AS (SELECT event_type, ${sqlEpochDay("ts")} AS day
         |  FROM events),
         |d AS (SELECT event_type, day, count(*) AS y FROM e GROUP BY 1, 2),
         |b AS (SELECT min(day) AS lo, max(day) AS hi FROM e),
         |ty AS (SELECT DISTINCT event_type FROM e),
         |spine AS (SELECT event_type, unnest(range(lo, hi + 1)) AS day
         |  FROM ty CROSS JOIN b),
         |f AS (SELECT s.event_type, s.day, COALESCE(d.y, 0) AS y
         |  FROM spine s LEFT JOIN d USING (event_type, day))
         |SELECT event_type, day, CAST(y AS BIGINT) AS y,
         |  ROUND(quantile_cont(y, 0.5) OVER (PARTITION BY event_type
         |    ORDER BY day ROWS BETWEEN 6 PRECEDING AND CURRENT ROW)
         |    * 10000.0) / 10000.0 AS med7
         |FROM f ORDER BY event_type, day""".stripMargin,
    "sql_recursive_cte" ->
      """WITH RECURSIVE walk(k, node, depth) AS (
        |  SELECT s_suppkey, CAST(s_suppkey AS BIGINT), 0
        |  FROM supplier
        |  UNION ALL
        |  SELECT k, CAST(floor(node / 2) AS BIGINT), depth + 1
        |  FROM walk WHERE node > 1)
        |SELECT k AS s_suppkey, CAST(max(depth) AS BIGINT) AS n_hops,
        |  CAST(sum(node) AS BIGINT) AS path_sum
        |FROM walk GROUP BY k ORDER BY s_suppkey""".stripMargin,
    "sql_tpch_q22" ->
      s"""SELECT CAST(c_nationkey AS BIGINT) AS cntrycode,
         |  count(*) AS numcust,
         |  ${sqlSum("c_acctbal")} AS totacctbal
         |FROM customer
         |WHERE c_nationkey IN (3, 7, 11, 13, 17, 19, 23)
         |  AND c_acctbal > (
         |    SELECT CAST(SUM(CAST(c_acctbal AS DECIMAL(38,6))) AS DOUBLE)
         |      / COUNT(*)
         |    FROM customer
         |    WHERE c_acctbal > 0.0
         |      AND c_nationkey IN (3, 7, 11, 13, 17, 19, 23))
         |  AND NOT EXISTS (
         |    SELECT 1 FROM orders
         |    WHERE o_custkey = c_custkey AND o_totalprice > 400000)
         |GROUP BY c_nationkey
         |ORDER BY cntrycode""".stripMargin
  )
}
