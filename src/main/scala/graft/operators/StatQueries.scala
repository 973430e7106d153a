package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables.{t, events, epochDay}
import graft.Det.{r4d, sqlAvg, sqlEpochDay}

/** §2.74+ Statistical inference + evaluation-metric operators
  * (SURVEY.md, round-10 amendment): the hypothesis-test and
  * model-evaluation surface a data platform grows once analysts move
  * past descriptive aggregates — independence tests on categorical
  * breakdowns, rank correlations robust to monotone transforms, digit
  * forensics, and the classifier/retrieval evaluation metrics every
  * training pipeline reports (confusion tables, exact AUC,
  * calibration).
  *
  * Determinism discipline (§1.3): every statistic is built from EXACT
  * integer counts (contingency cells, concordant/discordant pair
  * counts, leading digits of cents-integers, doubled average ranks —
  * all integers by construction), with the final irrational step
  * (sqrt / log / division) spelled operand-for-operand in both engines
  * and rounded through the multiply-form r4d at the edge. No raw
  * double is ever summed.
  *
  * Scale: each key is aggregate-first — the O(rows) pass reduces to a
  * tiny statistic table (35 contingency cells, ~60 spine days, 9
  * digits, 10 bins) BEFORE any self-join or window, so the quadratic
  * pieces (day-pair joins for Kendall) are O(days²) regardless of
  * corpus size, and every window runs over a driver-scale frame. */
object StatQueries {
  type Q = (SparkSession, String) => DataFrame

  /** Day-of-week as epoch-day mod 7 — engine-neutral (Spark
    * `dayofweek` is 1=Sunday while DuckDB's is 0=Sunday; the mod-7
    * residue of the shared epoch-day convention sidesteps the fence).
    * 1970-01-01 was a Thursday, so residue 0 = Thursday; the label is
    * a bucket id, not a calendar name. */
  private def dow(c: Column): Column = c % 7

  /** The zero-filled (day, clicks, purchases) series on the GLOBAL
    * lo..hi event-day spine — the ts_rolling_corr shape, shared so the
    * rank/concordance keys iterate literally the same series. */
  private def dailyXY(s: SparkSession, dir: String): DataFrame = {
    val e = events(s, dir)
      .select(col("event_type"), epochDay("ts").as("day"))
    val perDay = e.groupBy("day")
      .agg(count(when(col("event_type") === "click", 1)).as("cx0"),
        count(when(col("event_type") === "purchase", 1)).as("cy0"))
    val spine = e.agg(min(col("day")).as("lo"), max(col("day")).as("hi"))
      .select(explode(sequence(col("lo"), col("hi"))).as("day"))
    spine.join(perDay, Seq("day"), "left")
      .select(col("day"), coalesce(col("cx0"), lit(0L)).as("cx"),
        coalesce(col("cy0"), lit(0L)).as("cy"))
  }

  /** The A/B keys' anchored events: (event_type, arm, c, n, a, d) —
    * arm A/B from the md5 of user_id, c = value in cents, n and
    * a = s1 div n the arm's count and integer anchor, d = c − a, so
    * Σd and Σd² stay small exact integers (ab_test_welch,
    * agg_cohens_d). */
  private[operators] def abAnchored(s: SparkSession, dir: String)
      : DataFrame = {
    val e = events(s, dir).select(col("event_type"),
      when(substring(md5(col("user_id").cast("string").cast("binary")),
        1, 1) < "8", "A").otherwise("B").as("arm"),
      round(col("value") * 100).cast("long").as("c"))
    val p1 = e.groupBy("event_type", "arm")
      .agg(count(lit(1)).as("n"), sum(col("c")).as("s1"))
      .select(col("event_type"), col("arm"), col("n"),
        expr("s1 div n").as("a"))
    e.join(broadcast(p1), Seq("event_type", "arm"))
      .withColumn("d", col("c") - col("a"))
  }

  /** Per-arm mean and sample variance from exact (n, a, d1 = Σd,
    * d2 = Σd²) moments: adds nn = n as double, mean = a + d1/n and
    * v = (n·d2 − d1²)/(n(n−1)) — an exact decimal numerator, one
    * double divide. */
  private[operators] def withArmMoments(m: DataFrame): DataFrame =
    m.withColumn("nn", col("n").cast("double"))
      .withColumn("mean",
        col("a").cast("double") + col("d1").cast("double") / col("nn"))
      .withColumn("v",
        (col("n") * col("d2") - col("d1") * col("d1")).cast("double")
          / (col("nn") * (col("nn") - lit(1.0))))

  /** One-way ANOVA over `df`'s groups g of the LONG column `v`:
    * (k, n, ss_between, ss_within, `stat`) with stat the F ratio.
    * Per-group n/Σv/Σv² are exact BIGINTs; the one order-sensitive
    * double step, Σ_g S_g²/n_g, folds over the group-key-sorted list,
    * so the summation order is pinned on both engines
    * (agg_anova_oneway, agg_levene_test). */
  private def oneWayF(df: DataFrame, v: String, stat: String): DataFrame = {
    val grp = df.groupBy("g").agg(count(lit(1)).as("n_g"),
      sum(col(v)).as("s_g"), sum(col(v) * col(v)).as("q2_g"))
    val one = grp.agg(
      array_sort(collect_list(struct(col("g"), col("n_g"), col("s_g"),
        col("q2_g")))).as("gs"))
      .select(expr("size(gs)").cast("long").as("k"),
        expr("aggregate(gs, 0L, (a, x) -> a + x.n_g)").as("n"),
        expr("aggregate(gs, 0L, (a, x) -> a + x.s_g)").as("s"),
        expr("aggregate(gs, 0L, (a, x) -> a + x.q2_g)").as("q2"),
        expr("aggregate(gs, cast(0.0 as double), (a, x) -> " +
          "a + cast(x.s_g * x.s_g as double) / cast(x.n_g as double))")
          .as("bs"))
    val ssb = col("bs") - (col("s").cast("double")
      * col("s").cast("double") / col("n").cast("double"))
    val ssw = col("q2").cast("double") - col("bs")
    one.select(col("k"), col("n"), r4d(ssb).as("ss_between"),
      r4d(ssw).as("ss_within"),
      when(col("k") > 1 && col("n") > col("k") && ssw > 0,
        r4d((ssb / (col("k") - 1).cast("double"))
          / (ssw / (col("n") - col("k")).cast("double"))))
        .as(stat))
  }

  /** The event-type × day-of-week contingency cells with their margins:
    * (event_type, dw, obs, r, c, n) — r the type's row total, c the
    * weekday's column total, n the grand total (agg_cramers_v,
    * agg_g_test). */
  private def typeDowCells(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val cells = events(s, dir)
      .select(col("event_type"), dow(epochDay("ts")).as("dw"))
      .groupBy("event_type", "dw").agg(count(lit(1)).as("obs"))
    val wr = Window.partitionBy("event_type")
    val wc = Window.partitionBy("dw")
    val wn = Window.partitionBy()
    cells
      .withColumn("r", sum(col("obs")).over(wr))
      .withColumn("c", sum(col("obs")).over(wc))
      .withColumn("n", sum(col("obs")).over(wn))
  }

  val queries: Map[String, Q] = Map(
    // CHI-SQUARE INDEPENDENCE (§2.74) — is event mix independent of
    // day-of-week? The workhorse categorical test, emitted as the
    // full contingency diagnostic (one row per observed cell with its
    // expected count and chi² contribution) rather than a single
    // opaque statistic — the form a dashboard drills into. Row/col/N
    // totals are window sums over the CELL table (|types|·7 rows), so
    // the corpus is scanned once; expected = r·c/N is an exact BIGINT
    // product (≤ n², far under 2^63 at any plausible per-cell count)
    // pushed through one IEEE division.
    "agg_chi2_independence" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val cells = events(s, dir)
        .select(col("event_type"), dow(epochDay("ts")).as("dow"))
        .groupBy("event_type", "dow").agg(count(lit(1)).as("obs"))
      val wr = Window.partitionBy("event_type")
      val wc = Window.partitionBy("dow")
      val wn = Window.partitionBy()
      val withTotals = cells
        .withColumn("r", sum(col("obs")).over(wr))
        .withColumn("c", sum(col("obs")).over(wc))
        .withColumn("n", sum(col("obs")).over(wn))
      withTotals
        .withColumn("e",
          (col("r") * col("c")).cast("double") / col("n").cast("double"))
        .select(col("event_type"), col("dow"), col("obs"),
          r4d(col("e")).as("expected"),
          r4d((col("obs").cast("double") - col("e"))
            * (col("obs").cast("double") - col("e")) / col("e"))
            .as("chi2_contrib"))
        .orderBy("event_type", "dow")
    }),

    // KENDALL TAU-B (§2.74) — rank concordance between daily click
    // and purchase volume, tie-corrected. Aggregate-first: the
    // O(rows) pass reduces to the shared zero-filled day spine, THEN
    // the O(days²) pair self-join counts concordant / discordant /
    // tied pairs — every count an exact integer, so the only floating
    // steps are one sqrt and one division on BIGINT-exact operands
    // (n0 ≤ days² keeps every product far inside 2^63). The robust
    // complement of ts_rolling_corr's Pearson: invariant under any
    // monotone transform of either series.
    "agg_kendall_tau" -> ((s, dir) => {
      val d = dailyXY(s, dir)
      val a = d.select(col("day").as("d1"), col("cx").as("x1"),
        col("cy").as("y1"))
      val b = d.select(col("day").as("d2"), col("cx").as("x2"),
        col("cy").as("y2"))
      val pairs = a.join(b, col("d1") < col("d2"))
        .select(
          ((col("x2") - col("x1")) * (col("y2") - col("y1"))).as("prod"),
          (col("x1") === col("x2")).as("tx"),
          (col("y1") === col("y2")).as("ty"))
      pairs.agg(
          count(lit(1)).as("n_pairs"),
          count_if(col("prod") > 0).as("concordant"),
          count_if(col("prod") < 0).as("discordant"),
          count_if(col("tx")).as("ties_x"),
          count_if(col("ty")).as("ties_y"))
        .select(col("n_pairs"), col("concordant"), col("discordant"),
          col("ties_x"), col("ties_y"),
          r4d((col("concordant") - col("discordant")).cast("double")
            / sqrt((col("n_pairs") - col("ties_x")).cast("double")
              * (col("n_pairs") - col("ties_y")).cast("double")))
            .as("tau_b"))
    }),

    // BENFORD LEADING-DIGIT PROFILE (§2.74) — first-significant-digit
    // distribution of order totals against Benford's log10(1+1/d)
    // expectation: the classic forensic screen for fabricated or
    // truncated money columns. The digit is extracted from the
    // CENTS-INTEGER's decimal string (integer-to-string is identical
    // cross-engine; double-to-string formatting is NOT — the reason
    // the extraction never touches the raw double). One group-by on a
    // 9-value key; shares are exact-count divisions, the only libm
    // step is log10 of the 9 constants, r4d-rounded.
    "agg_benford_digits" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val digits = t(s, dir, "orders")
        .select(substring(round(col("o_totalprice") * 100).cast("long")
          .cast("string"), 1, 1).cast("int").as("digit"))
        .groupBy("digit").agg(count(lit(1)).as("n"))
      digits
        .withColumn("total", sum(col("n")).over(Window.partitionBy()))
        .select(col("digit"), col("n"),
          r4d(col("n").cast("double") / col("total").cast("double"))
            .as("share"),
          r4d(log10(lit(1.0) + lit(1.0) / col("digit").cast("double")))
            .as("benford"),
          r4d(col("n").cast("double") / col("total").cast("double")
            - log10(lit(1.0) + lit(1.0) / col("digit").cast("double")))
            .as("excess"))
        .orderBy("digit")
    }),

    // CONFUSION-MATRIX SWEEP (§2.75) — the classifier evaluation
    // table: label = purchase event, score = value, one row per
    // decision threshold (20..180 step 20) with exact TP/FP/FN/TN
    // counts and the derived precision / recall / F1 / accuracy.
    // One corpus pass: the 9-row threshold spine broadcast-crosses
    // the events ONCE and the counts reduce map-side per threshold
    // (9× the scan's rows into the partial agg, zero extra shuffles).
    // Undefined ratios (empty prediction class) stay NULL via guards
    // spelled identically in both engines; F1 is computed from the
    // RAW ratios and rounded once, so no double-rounding drift.
    "eval_confusion_binary" -> ((s, dir) => {
      val e = events(s, dir).select(col("value"),
        (col("event_type") === "purchase").as("pos"))
      val thresholds = s.range(1, 10)
        .select((col("id") * 20).cast("double").as("threshold"))
      val m = e.crossJoin(broadcast(thresholds))
        .groupBy("threshold")
        .agg(count_if(col("pos") && col("value") >= col("threshold")).as("tp"),
          count_if(!col("pos") && col("value") >= col("threshold")).as("fp"),
          count_if(col("pos") && col("value") < col("threshold")).as("fn"),
          count_if(!col("pos") && col("value") < col("threshold")).as("tn"))
      val prec =
        col("tp").cast("double") / (col("tp") + col("fp")).cast("double")
      val rec =
        col("tp").cast("double") / (col("tp") + col("fn")).cast("double")
      m.select(col("threshold"), col("tp"), col("fp"), col("fn"), col("tn"),
          when(col("tp") + col("fp") > 0, r4d(prec)).as("precision"),
          when(col("tp") + col("fn") > 0, r4d(rec)).as("recall"),
          when(col("tp") + col("fp") > 0 && col("tp") + col("fn") > 0
              && col("tp") > 0,
            r4d(lit(2.0) * prec * rec / (prec + rec))).as("f1"),
          r4d((col("tp") + col("tn")).cast("double")
            / (col("tp") + col("fp") + col("fn") + col("tn")).cast("double"))
            .as("accuracy"))
        .orderBy("threshold")
    }),

    // EXACT AUC VIA RANK SUM (§2.75) — the Mann-Whitney identity:
    // AUC = (Σ_pos rank − n₊(n₊+1)/2) / (n₊·n₋) with average ranks
    // over ties. Ranks are kept EXACT by doubling: the average rank
    // of a tie group is (2·cum − n_v + 1)/2, so the DOUBLED rank is
    // the integer 2·cum − n_v + 1 and the whole statistic reduces to
    // one integer numerator over one integer denominator — a single
    // IEEE division, no floating accumulation at all. Shape: one
    // group-by on score (exact 2dp doubles), one ordered prefix sum
    // over the |distinct scores| table (driver-scale here; the
    // distributed form is pack_sequences' two-pass prefix sum), one
    // global fold.
    // AUC STABILITY (§2.197) — eval_threshold_stability's split-half
    // device applied to AUC: the doubled-rank AUC computed
    // independently on the user-parity halves plus the absolute gap.
    // A large gap means the ranking quality itself is noise, not
    // just the operating threshold. Rank sums stay exact integers
    // per half (the parent key's device); three rounded outputs.
    "eval_auc_stability" -> ((s, dir) => {
      // Round-18 (verdict #5, guide §2): the cumulative rank sweep ran
      // as an UNPARTITIONED window over the distinct-value table — one
      // task sorting |distinct doubles| rows, which approaches the row
      // count at 100 TB. Same prefix sum via GlobalRank.runningSum
      // (range exchange + O(partitions) offsets), identical integers.
      def auc(half: DataFrame, nm: String) = {
        val byScore = half.groupBy("value")
          .agg(count(lit(1)).as("n_v"), count_if(col("pos")).as("p_v"))
        graft.plans.GlobalRank.runningSum(byScore, Seq("value"), "n_v", "cum")
          .withColumn("dr", lit(2) * col("cum") - col("n_v") + 1)
          .agg(sum(col("p_v")).as("np"),
            sum(col("n_v") - col("p_v")).as("nn"),
            sum(col("p_v") * col("dr")).as("sdr"))
          .select(((col("sdr") - col("np") * (col("np") + 1))
            .cast("double")
            / (lit(2) * col("np") * col("nn")).cast("double"))
            .as(nm))
      }
      val e = events(s, dir).select(col("value"),
        (col("event_type") === "purchase").as("pos"),
        (col("user_id") % 2).as("half"))
      auc(e.filter(col("half") === 0), "a0")
        .crossJoin(auc(e.filter(col("half") === 1), "a1"))
        .select(r4d(col("a0")).as("auc_even"),
          r4d(col("a1")).as("auc_odd"),
          r4d(abs(col("a0") - col("a1"))).as("auc_gap"))
    }),

    "eval_auc_rank" -> ((s, dir) => {
      // Round-18 (verdict #5): distributed prefix sum instead of the
      // single-partition window over the distinct-score table — see
      // eval_auc_stability.
      val byScore = events(s, dir)
        .select(col("value"), (col("event_type") === "purchase").as("pos"))
        .groupBy("value")
        .agg(count(lit(1)).as("n_v"), count_if(col("pos")).as("p_v"))
      val ranked = graft.plans.GlobalRank
        .runningSum(byScore, Seq("value"), "n_v", "cum")
        .withColumn("dr", lit(2) * col("cum") - col("n_v") + 1)
      ranked.agg(
          sum(col("p_v")).as("n_pos"),
          sum(col("n_v") - col("p_v")).as("n_neg"),
          sum(col("p_v") * col("dr")).as("sum_dr_pos"))
        .select(col("n_pos"), col("n_neg"),
          r4d((col("sum_dr_pos") - col("n_pos") * (col("n_pos") + 1))
            .cast("double")
            / (lit(2) * col("n_pos") * col("n_neg")).cast("double"))
            .as("auc"))
    }),

    // CALIBRATION TABLE (§2.75) — reliability diagram data: score
    // mapped to a pseudo-probability (value/200 clamped to 1), 10
    // equal-width bins, each with exact n / positives, the mean
    // predicted probability (exact decimal sum of a 2dp column — the
    // davg discipline), and the observed positive rate; gap =
    // observed − predicted is the per-bin calibration error (ECE's
    // summand). One group-by on a derived int key — pure map-side
    // until the 10-row reduce.
    "eval_calibration_bins" -> ((s, dir) => {
      val e = events(s, dir).select(
        least(floor(col("value") / 20).cast("int"), lit(9)).as("bin"),
        least(col("value"), lit(200.0)).as("vc"),
        (col("event_type") === "purchase").as("pos"))
      e.groupBy("bin")
        .agg(count(lit(1)).as("n"), count_if(col("pos")).as("n_pos"),
          // exact decimal sum of the clamped 2dp score; the /200
          // probability mapping happens AFTER aggregation so no
          // inexact per-row double ever enters the sum
          r4d(sum(col("vc").cast(graft.Det.D)).cast("double")
            / count(lit(1)) / lit(200.0)).as("mean_pred"),
          r4d(count_if(col("pos")).cast("double")
            / count(lit(1)).cast("double")).as("frac_pos"))
        .withColumn("gap", r4d(col("frac_pos") - col("mean_pred")))
        .orderBy("bin")
    }),

    // PR-AUC / AVERAGE PRECISION (§2.84) — the ranking-quality
    // companion of eval_auc_rank for IMBALANCED classes (ROC-AUC
    // flatters a classifier when negatives dominate; AP does not):
    // AP = Σ_v ΔR·P over the distinct-score grid walked in DESCENDING
    // score order, where at score v, P = cumP/cumN (precision of the
    // "predict positive at ≥ v" rule) and ΔR = p_v/n_pos. Exactness:
    // scores reduce to the integer CENTS grid, the cumulative counts
    // are exact window integers, and the ≤|distinct cents| rational
    // terms p_v·(cumP/cumN) fold LEFT-TO-RIGHT over the sorted
    // (descending-score) list — the agg_geo_harmonic_mean device, so
    // the double sum is bit-stable across partitionings and engines
    // (per-term IEEE divisions, libm-free). One /n_pos at the edge,
    // r4d'd.
    "eval_pr_auc" -> ((s, dir) => {
      // Round-18 (verdict #5): both cumulative counts in ONE
      // distributed prefix pass over the negated-cents total order
      // (descending score ≡ ascending -cents), replacing the
      // single-partition window — see eval_auc_stability.
      val byScore = events(s, dir)
        .select(round(col("value") * 100).cast("long").as("cents"),
          (col("event_type") === "purchase").as("pos"))
        .groupBy("cents")
        .agg(count(lit(1)).as("n_v"), count_if(col("pos")).as("p_v"))
      val cum = graft.plans.GlobalRank.runningSums(
          byScore.withColumn("nscore", -col("cents")),
          Seq("nscore"), Seq("n_v", "p_v"), Seq("cumn", "cump"))
        .select(col("nscore"), col("p_v"), col("cump"), col("cumn"))
      cum.agg(
          sum(col("p_v")).as("n_pos"),
          array_sort(collect_list(struct(col("nscore"), col("p_v"),
            col("cump"), col("cumn")))).as("vs"))
        .select(col("n_pos"),
          r4d(aggregate(col("vs"), lit(0.0), (acc, x) =>
            acc + x.getField("p_v").cast("double")
              * (x.getField("cump").cast("double")
                / x.getField("cumn").cast("double")))
            / col("n_pos").cast("double")).as("ap"))
    }),

    // TWO-SAMPLE KOLMOGOROV-SMIRNOV (§2.82) — are click and purchase
    // value distributions the same? The D statistic is kept EXACT by
    // cross-multiplication: D = max|c₁/n₁ − c₂/n₂| over the pooled
    // value grid ≡ max|c₁·n₂ − c₂·n₁| / (n₁·n₂), an integer max over
    // cumulative counts divided once at the edge. The asymptotic 5%
    // critical value 1.36·√((n₁+n₂)/(n₁·n₂)) is the only libm step.
    // Shape: one value-grouped reduce, one ordered prefix sum over
    // the |distinct values| grid (driver-scale here; distributed =
    // the two-pass prefix sum), one global max.
    "agg_ks_test" -> ((s, dir) => {
      // Round-18 (verdict #5): both cumulative counts via ONE
      // distributed prefix pass (see eval_auc_stability); the totals
      // n1/n2 are the final cumulative values, i.e. max(c1)/max(c2)
      // over the non-negative count sums — the partitionBy()-less
      // whole-table window is gone with the ordered one.
      val e = events(s, dir)
        .filter(col("event_type").isin("click", "purchase"))
        .select(col("value"),
          (col("event_type") === "click").as("isx"))
      val byV = e.groupBy("value")
        .agg(count_if(col("isx")).as("a"), count_if(!col("isx")).as("b"))
      val cum = graft.plans.GlobalRank.runningSums(byV, Seq("value"),
        Seq("a", "b"), Seq("c1", "c2"))
      val tot = cum.agg(max(col("c1")).as("n1"), max(col("c2")).as("n2"))
      cum.crossJoin(broadcast(tot))
        .agg(max(col("n1")).as("n1"), max(col("n2")).as("n2"),
          max(abs(col("c1") * col("n2") - col("c2") * col("n1")))
            .as("dnum"))
        .select(col("n1"), col("n2"),
          r4d(col("dnum").cast("double")
            / (col("n1") * col("n2")).cast("double")).as("d_stat"),
          r4d(lit(1.36) * sqrt((col("n1") + col("n2")).cast("double")
            / (col("n1") * col("n2")).cast("double"))).as("crit_05"))
    }),

    // WALD-WOLFOWITZ RUNS TEST (§2.82) — is the daily volume's
    // up/down sequence random, or trending/oscillating? Signs come
    // from consecutive-day deltas on the zero-filled spine (equal
    // days drop, the standard treatment); the run count and the
    // +/− tallies are exact integers, and the normal approximation
    // z = (R − μ)/σ is assembled from those integers in one double
    // expression, r4d'd (negative-capable → oracle carries the
    // +0.0 normalizer).
    "agg_runs_test" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val d = dailyXY(s, dir)
        .select(col("day"), (col("cx") + col("cy")).as("y"))
      val w = Window.orderBy("day")
      val signs = d
        .withColumn("py", lag(col("y"), 1).over(w))
        .filter(col("py").isNotNull && col("y") =!= col("py"))
        .withColumn("sg", when(col("y") > col("py"), 1).otherwise(-1))
        .withColumn("psg", lag(col("sg"), 1).over(Window.orderBy("day")))
      // A completely flat series has an EMPTY sign sequence → zero
      // runs, not one; the +1 (first run) only exists once a first
      // sign exists.
      val m = signs.agg(
        count_if(col("sg") === 1).as("n_plus"),
        count_if(col("sg") === -1).as("n_minus"),
        when(count(lit(1)) > 0,
          count_if(col("psg").isNotNull && col("sg") =!= col("psg")) + 1)
          .otherwise(lit(0L)).as("n_runs"))
      val np = col("n_plus").cast("double")
      val nm = col("n_minus").cast("double")
      val nn = np + nm
      val mu = lit(1.0) + lit(2.0) * np * nm / nn
      val sig2 = lit(2.0) * np * nm * (lit(2.0) * np * nm - nn)
      m.select(col("n_plus"), col("n_minus"), col("n_runs"),
        when(col("n_plus") > 0 && col("n_minus") > 0,
          r4d((col("n_runs").cast("double") - mu)
            / sqrt(sig2 / (nn * nn * (nn - 1))))).as("z"))
    }),

    // GEOMETRIC + HARMONIC MEANS (§2.82) — the two Pythagorean means
    // agg_stats omits: the geometric mean (exp∘avg∘ln — the right
    // average for multiplicative quantities like growth factors) and
    // the harmonic mean (n/Σ(1/x) — the right average for rates).
    // Both means require value > 0 (ln/reciprocal undefined at 0, and
    // the sf0.1 fixture DOES contain value = 0.0 rows), so the
    // zero rows are filtered explicitly — standard treatment, spelled
    // identically in the oracle.
    //
    // Determinism device: a raw avg(ln x) / sum(1/x) would accumulate
    // doubles in partition-merge order. Instead the corpus is first
    // reduced to the CENTS GRID — value carries exactly 2 decimals,
    // so round(value·100) is the exact integer the double encodes and
    // the (event_type, cents) → n_v reduce is all-integer — then the
    // ≤|distinct cents| subtotals are collected, sorted, and folded
    // left-to-right with the aggregate() HOF (the agg_entropy_mix
    // convention): bit-identical across partition counts, and the
    // same ascending fold the oracle's list_sort + list_transform +
    // list_aggregate('sum') evaluates. The collected array is bounded
    // by the VALUE DOMAIN (≤ ~56k cents values at any SF), not the
    // corpus — not the collect-the-rows anti-pattern. AM ≥ GM ≥ HM
    // holds as a free sanity invariant.
    "agg_geo_harmonic_mean" -> ((s, dir) => {
      val byV = events(s, dir).filter(col("value") > 0)
        .select(col("event_type"),
          round(col("value") * 100).cast("long").as("cents"))
        .groupBy("event_type", "cents").agg(count(lit(1)).as("n_v"))
      byV.groupBy("event_type")
        .agg(sum(col("n_v")).as("n"),
          sum(col("cents") * col("n_v")).as("sc"),
          array_sort(collect_list(struct(col("cents"), col("n_v"))))
            .as("vs"))
        .select(col("event_type"), col("n"),
          r4d(exp(aggregate(col("vs"), lit(0.0), (acc, x) =>
            acc + x.getField("n_v").cast("double")
              * log(x.getField("cents").cast("double") / lit(100.0)))
            / col("n").cast("double"))).as("geo_mean"),
          r4d(col("n").cast("double")
            / aggregate(col("vs"), lit(0.0), (acc, x) =>
              acc + x.getField("n_v").cast("double")
                / (x.getField("cents").cast("double") / lit(100.0))))
            .as("harm_mean"),
          r4d(col("sc").cast("double") / lit(100.0)
            / col("n").cast("double")).as("arith_mean"))
        .orderBy("event_type")
    }),

    // POISSON-BOOTSTRAP CONFIDENCE INTERVAL (§2.85) — the
    // distributed-scale bootstrap: instead of materializing B
    // resampled datasets (impossible at 100 TB), each row draws a
    // Poisson(1) REPLICATION COUNT per replicate — the standard
    // streaming/MapReduce bootstrap approximation (multinomial →
    // Poisson for large n) — so one scan feeds all B=48 replicate
    // means and the 95% CI of the mean is the (2nd, 47th) order
    // statistics of the sorted replicate means (ceil(q·B) selection,
    // the PERCENTILE_DISC convention).
    //
    // Determinism: the "random" count is the md5-prefix device
    // (pipeline_kfold_group's) keyed by (event_id, replicate) — a
    // 16-bit hex prefix compared against the Poisson(1) CDF cut
    // points floor(CDF·2¹⁶) — so both engines draw the IDENTICAL
    // resample. Replicate sums are exact decimals (cnt·value carries
    // 2dp), each mean is one IEEE division, and the 48 doubles sort
    // and select identically; r4d only at the CI edge.
    "agg_bootstrap_ci" -> ((s, dir) => {
      val B = 48
      // fanout BEFORE the ×B explode: the B·|events| md5 draws otherwise
      // fuse into the single-row-group scan task (round-17, guide §2.5).
      val e = graft.Tables.fanout(events(s, dir)
          .select(col("event_id"), col("event_type"), col("value")),
          col("event_id"))
        .withColumn("b", explode(sequence(lit(1), lit(B))))
      val h4 = substring(md5(concat(col("event_id").cast("string"),
        lit(":"), col("b").cast("string")).cast("binary")), 1, 4)
      val cnt = when(h4 < "5e2d", 0).when(h4 < "bc5a", 1)
        .when(h4 < "eb71", 2).when(h4 < "fb23", 3)
        .when(h4 < "ff10", 4).when(h4 < "ffd9", 5).otherwise(6)
      val rep = e.withColumn("cnt", cnt)
        .groupBy(col("event_type"), col("b"))
        .agg(sum(col("cnt")).as("m"),
          sum((col("cnt") * col("value")).cast(graft.Det.D)).as("sv"))
        .filter(col("m") > 0)
        .select(col("event_type"),
          (col("sv").cast("double") / col("m").cast("double"))
            .as("mean_b"))
      val full = events(s, dir).groupBy("event_type")
        .agg(count(lit(1)).as("n"),
          graft.Det.davg(col("value")).as("mean_value"))
      val ci = rep.groupBy("event_type")
        .agg(count(lit(1)).as("n_replicates"),
          array_sort(collect_list(col("mean_b"))).as("ms"))
        // Order-statistic indices from the SURVIVING replicate count,
        // not the literals 2/47: a skewed fixture can drop a replicate
        // via the m > 0 filter, and hardcoded indices would silently
        // report the wrong (or a null) quantile. ceil(q·n) is the
        // PERCENTILE_DISC selection rule in both engines.
        .select(col("event_type"), col("n_replicates"),
          r4d(element_at(col("ms"),
            ceil(col("n_replicates") * 0.025).cast("int"))).as("ci_lo"),
          r4d(element_at(col("ms"),
            ceil(col("n_replicates") * 0.975).cast("int"))).as("ci_hi"))
      full.join(ci, Seq("event_type"))
        .select(col("event_type"), col("n"), col("mean_value"),
          col("n_replicates"), col("ci_lo"), col("ci_hi"))
        .orderBy("event_type")
    }),

    // SPEARMAN RANK CORRELATION (§2.76) — Pearson on average ranks of
    // the daily click/purchase series: the monotone-robust sibling of
    // agg_kendall_tau on literally the same zero-filled spine.
    // Exactness device: DOUBLED average ranks (2·cum − n_v + 1) are
    // integers, and scaling both variables by 2 cancels in ρ, so
    // every moment is an exact decimal(38,0) integer (the
    // graph_assortativity convention — HUGEINT on the DuckDB side)
    // and the only floating steps are two sqrts and one division.
    // Shape: two tiny rank tables off value-grouped prefix sums, two
    // broadcast joins back to the spine, one global fold.
    "agg_spearman_corr" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val d = dailyXY(s, dir)
      def dranks(src: DataFrame, c: String): DataFrame = {
        val w = Window.orderBy(c)
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        src.groupBy(c).agg(count(lit(1)).as("n_v"))
          .withColumn("cum", sum(col("n_v")).over(w))
          .select(col(c), (lit(2) * col("cum") - col("n_v") + 1).as(s"dr_$c"))
      }
      val ranked = d
        .join(broadcast(dranks(d, "cx")), Seq("cx"))
        .join(broadcast(dranks(d, "cy")), Seq("cy"))
      val D0 = "decimal(38,0)"
      val m = ranked.agg(count(lit(1)).as("n"),
        sum(col("dr_cx").cast(D0)).as("sx"),
        sum(col("dr_cy").cast(D0)).as("sy"),
        sum((col("dr_cx") * col("dr_cy")).cast(D0)).as("sxy"),
        sum((col("dr_cx") * col("dr_cx")).cast(D0)).as("sxx"),
        sum((col("dr_cy") * col("dr_cy")).cast(D0)).as("syy"))
      m.select(col("n").as("n_days"),
        when(col("n") * col("sxx") > col("sx") * col("sx")
            && col("n") * col("syy") > col("sy") * col("sy"),
          r4d((col("n") * col("sxy") - col("sx") * col("sy")).cast("double")
            / (sqrt((col("n") * col("sxx") - col("sx") * col("sx"))
                .cast("double"))
              * sqrt((col("n") * col("syy") - col("sy") * col("sy"))
                .cast("double"))))).as("rho"))
    }),

    // ONE-WAY ANOVA (§2.88) — does mean quantity differ across the
    // three return-flag populations? The F-test every experiment
    // platform reports when the comparison has MORE than two arms
    // (ab_test_welch's k-group generalization). Exactness: per-group
    // n/Σq/Σq² are exact BIGINTs on the rounded-integer quantity
    // grid, so SSB = Σ S_g²/n_g − S²/n and SSW = Q − Σ S_g²/n_g are
    // assembled from integers; the only order-sensitive double step,
    // Σ_g S_g²/n_g, folds over the group-key-sorted collected list
    // (the agg_geo_harmonic_mean device — k groups, driver-scale) so
    // the summation order is pinned on both engines. Shape: one
    // O(rows) partial-agg reduce to k rows, then a 1-row fold —
    // nothing downstream of the first shuffle depends on corpus size.
    "agg_anova_oneway" -> ((s, dir) => {
      val li = t(s, dir, "lineitem").select(col("l_returnflag").as("g"),
        round(col("l_quantity")).cast("long").as("q"))
      oneWayF(li, "q", "f_stat")
    }),

    // LAGGED CROSS-CORRELATION (§2.88) — Pearson r between the daily
    // click series and the purchase series shifted by k ∈ [−7, 7]
    // days, on the shared zero-filled spine: the lead–lag diagnostic
    // (does activity today predict conversions in three days?) that
    // sits beside ts_autocorr exactly as cross-correlation sits
    // beside autocorrelation. Each lag's moments (n, Σx, Σy, Σxy,
    // Σx², Σy²) are exact integer sums over the overlap window (the
    // inner join drops boundary days — the standard treatment), kept
    // in decimal(38,0) (agg_spearman_corr's convention; HUGEINT on
    // the DuckDB side) so no double is summed; r is one guarded
    // expression per lag row. Shape: spine × 15 lags is a map-side
    // explode, the shifted self-join is an equi-join on the derived
    // day+lag key, and the reduce is a 15-row partial agg — O(days)
    // work regardless of corpus size once the spine exists.
    "ts_cross_corr" -> ((s, dir) => {
      val d = dailyXY(s, dir)
      val x = d.select(col("day"), col("cx"))
        .withColumn("lag", explode(sequence(lit(-7L), lit(7L))))
      val y2 = d.select(col("day").as("yday"), col("cy"))
      val D0 = "decimal(38,0)"
      val m = x.join(y2, col("yday") === col("day") + col("lag"))
        .groupBy("lag").agg(count(lit(1)).as("n"),
          sum(col("cx").cast(D0)).as("sx"),
          sum(col("cy").cast(D0)).as("sy"),
          sum((col("cx") * col("cy")).cast(D0)).as("sxy"),
          sum((col("cx") * col("cx")).cast(D0)).as("sxx"),
          sum((col("cy") * col("cy")).cast(D0)).as("syy"))
      m.select(col("lag"), col("n"),
          when(col("n") * col("sxx") > col("sx") * col("sx")
              && col("n") * col("syy") > col("sy") * col("sy"),
            r4d((col("n") * col("sxy") - col("sx") * col("sy"))
              .cast("double")
              / (sqrt((col("n") * col("sxx") - col("sx") * col("sx"))
                  .cast("double"))
                * sqrt((col("n") * col("syy") - col("sy") * col("sy"))
                  .cast("double"))))).as("r"))
        .orderBy("lag")
    }),

    // COHEN'S KAPPA (§2.90) — chance-corrected agreement between two
    // annotators labeling the same corpus: the QA statistic every
    // labeling effort reports before its annotations become training
    // data (raw agreement flatters whenever the label marginals are
    // skewed; kappa subtracts what agreement chance alone would buy).
    // Fixture: annotator A = the 5-bucket n_chars residue; annotator B
    // agrees except every 7th doc, which shifts by a doc_id-dependent
    // offset — a realistic ~0.86 raw / lower-kappa disagreement
    // pattern. Exactness: kappa = (po−pe)/(1−pe) reduces over the
    // common n² denominator to (n·agree − Σ_k ra_k·rb_k) /
    // (n² − Σ_k ra_k·rb_k) — EVERY operand an exact integer (the
    // marginal products summed in decimal(38,0) so a trillion-doc
    // corpus can't overflow the k≤5 fold), so the statistic is ONE
    // guarded division, r4d'd with po/pe beside it. Shape: two
    // O(rows) marginal reduces to ≤5 rows each + one count pass —
    // nothing after the first shuffle depends on corpus size.
    "eval_cohen_kappa" -> ((s, dir) => {
      val D0 = "decimal(38,0)"
      val d = t(s, dir, "documents").select(col("doc_id"),
          (col("n_chars") % 5).cast("long").as("la"))
        .withColumn("lb", when(col("doc_id") % 7 === 0,
          (col("la") + 1 + col("doc_id") % 3) % 5).otherwise(col("la")))
      val ma = d.groupBy("la").agg(count(lit(1)).as("ra"))
      val mb = d.groupBy("lb").agg(count(lit(1)).as("rb"))
      val pe = ma.join(mb, col("la") === col("lb"))
        .agg(sum(col("ra").cast(D0) * col("rb")).as("pe_num"))
      val tot = d.agg(count(lit(1)).as("n"),
        count_if(col("la") === col("lb")).as("n_agree"))
      val nn = col("n").cast(D0) * col("n")
      val kNum = col("n").cast(D0) * col("n_agree") - col("pe_num")
      val kDen = nn - col("pe_num")
      tot.crossJoin(pe).select(col("n"), col("n_agree"),
        col("pe_num").cast("long").as("pe_num"),
        r4d(col("n_agree").cast("double") / col("n").cast("double"))
          .as("po"),
        r4d(col("pe_num").cast("double") / nn.cast("double")).as("pe"),
        when(kDen > 0, r4d(kNum.cast("double") / kDen.cast("double")))
          .as("kappa"))
    }),

    // WEIGHTED KAPPA (§2.173) — linear-weighted Cohen's kappa, the
    // ordinal-rating agreement standard (disagreeing by one grade ≠
    // disagreeing by four): κ_w = 1 − n·Σ|i−j|·O_ij / Σ|i−j|·r_i·c_j
    // over the same deterministic 5-grade rater pair as
    // eval_cohen_kappa (which treats all disagreements equally).
    // Every sum is an exact decimal(38,0) integer — the single
    // division is the last step; the expected-disagreement grid is
    // the bounded 5×5 marginal cross join.
    "eval_weighted_kappa" -> ((s, dir) => {
      val D0 = "decimal(38,0)"
      val d = t(s, dir, "documents").select(col("doc_id"),
          (col("n_chars") % 5).cast("long").as("la"))
        .withColumn("lb", when(col("doc_id") % 7 === 0,
          (col("la") + 1 + col("doc_id") % 3) % 5)
          .otherwise(col("la")))
      val svo = d.groupBy("la", "lb").agg(count(lit(1)).as("o"))
        .agg(sum((abs(col("la") - col("lb")) * col("o")).cast(D0))
          .as("svo"))
      val ma = d.groupBy("la").agg(count(lit(1)).as("ra"))
      val mb = d.groupBy("lb").agg(count(lit(1)).as("rb"))
      val sve = ma.crossJoin(mb)
        .agg(sum(abs(col("la") - col("lb")).cast(D0)
          * col("ra") * col("rb")).as("sve"))
      d.agg(count(lit(1)).as("n")).crossJoin(svo).crossJoin(sve)
        .select(col("n"),
          col("svo").cast("long").as("sum_weighted_obs"),
          col("sve").cast("long").as("sum_weighted_exp"),
          when(col("sve") > 0,
            r4d(lit(1.0) - (col("n").cast(D0) * col("svo"))
              .cast("double") / col("sve").cast("double")))
            .as("kappa_w"))
    }),

    // MANN-KENDALL TREND TEST (§2.91) — is the daily purchase series
    // monotonically trending? The nonparametric trend screen
    // monitoring stacks run before fitting any slope (agg_trend_slope
    // assumes linearity; MK only asks "up or down more often than
    // chance"). S = Σ_{i<j} sign(v_j − v_i) and the tie-corrected
    // variance 18·Var = n(n−1)(2n+5) − Σ_t t(t−1)(2t+5) are EXACT
    // BIGINTs (pair counts and tie-group cubes); the continuity-
    // corrected z = (S∓1)/√(var18/18) is the only floating step,
    // operand-order pinned and r4d'd. Shape: aggregate-first — the
    // corpus reduces to the zero-filled day spine, THEN the O(days²)
    // pair join (Kendall's device: days², not rows², regardless of
    // corpus size) plus one ≤|values|-row tie reduce.
    "ts_mann_kendall" -> ((s, dir) => {
      val d = dailyXY(s, dir).select(col("day"), col("cy").as("v"))
      val a = d.select(col("day").as("d1"), col("v").as("v1"))
      val b = d.select(col("day").as("d2"), col("v").as("v2"))
      val sAgg = a.join(b, col("d1") < col("d2"))
        .agg((count_if(col("v2") > col("v1"))
          - count_if(col("v2") < col("v1"))).as("s_stat"))
      val nn = d.agg(count(lit(1)).as("n"))
      val ties = d.groupBy("v").agg(count(lit(1)).as("t"))
        .filter(col("t") > 1)
        .agg(coalesce(sum(col("t") * (col("t") - 1)
          * (lit(2L) * col("t") + 5)), lit(0L)).as("tie_term"))
      nn.crossJoin(sAgg).crossJoin(ties)
        .select(col("n"), col("s_stat"), col("tie_term"),
          (col("n") * (col("n") - 1) * (lit(2L) * col("n") + 5)
            - col("tie_term")).as("var18"))
        .select(col("n"), col("s_stat"), col("tie_term"), col("var18"),
          when(col("var18") > 0 && col("s_stat") =!= 0,
            r4d((col("s_stat").cast("double")
              - when(col("s_stat") > 0, lit(1.0)).otherwise(lit(-1.0)))
              / sqrt(col("var18").cast("double") / lit(18.0))))
            .otherwise(when(col("var18") > 0, lit(0.0))).as("z"))
    }),

    // SEASONAL MANN-KENDALL (§2.165) — the trend test a weekly-
    // seasonal series actually needs (plain ts_mann_kendall reads
    // day-of-week structure as noise or fake trend): Kendall pairs
    // form only WITHIN each (type, day-of-week) stratum, S and the
    // tie-corrected variance sum across strata, one continuity-
    // corrected z per type. Pairs are blocked per (type, dow) —
    // quadratic only in days/7, bounded by the calendar horizon,
    // never the corpus. Exact integer S and Var·18; doubles at the
    // z edge.
    "ts_seasonal_mann_kendall" -> ((s, dir) => {
      val d = AnalyticsQueries.zeroFilledDaily(s, dir)
        .withColumn("dow", col("day") % 7)
      val a = d.select(col("event_type"), col("dow"),
        col("day").as("d1"), col("y").as("v1"))
      val b = d.select(col("event_type"), col("dow"),
        col("day").as("d2"), col("y").as("v2"))
      val sAgg = a.join(b, Seq("event_type", "dow"))
        .filter(col("d1") < col("d2"))
        .groupBy("event_type")
        .agg((count_if(col("v2") > col("v1"))
          - count_if(col("v2") < col("v1"))).as("s_stat"))
      val varAgg = d.groupBy("event_type", "dow")
        .agg(count(lit(1)).as("nd"))
        .join(d.groupBy("event_type", "dow", "y")
            .agg(count(lit(1)).as("t"))
          .filter(col("t") > 1)
          .groupBy("event_type", "dow")
          .agg(sum(col("t") * (col("t") - 1)
            * (lit(2L) * col("t") + 5)).as("tie_term")),
          Seq("event_type", "dow"), "left")
        .select(col("event_type"),
          (col("nd") * (col("nd") - 1) * (lit(2L) * col("nd") + 5)
            - coalesce(col("tie_term"), lit(0L))).as("v18d"))
        .groupBy("event_type")
        .agg(sum(col("v18d")).as("var18"))
      val nn = d.groupBy("event_type").agg(count(lit(1)).as("n_days"))
      nn.join(sAgg, Seq("event_type")).join(varAgg, Seq("event_type"))
        .select(col("event_type"), col("n_days"), col("s_stat"),
          col("var18"),
          when(col("var18") > 0 && col("s_stat") =!= 0,
            r4d((col("s_stat").cast("double")
              - when(col("s_stat") > 0, lit(1.0)).otherwise(lit(-1.0)))
              / sqrt(col("var18").cast("double") / lit(18.0))))
            .otherwise(when(col("var18") > 0, lit(0.0))).as("z"))
        .orderBy("event_type")
    }),

    // BROWN-FORSYTHE LEVENE TEST (§2.91) — do the return-flag groups
    // differ in SPREAD, not just mean? The variance-homogeneity check
    // that decides whether agg_anova_oneway's equal-variance F is even
    // admissible, in the robust median-centered form. Exactness
    // inherits the whole ANOVA device: the group median of the integer
    // quantity grid is an exact PERCENTILE_DISC order statistic (a
    // k-row broadcast), so z = |q − med_g| is an exact BIGINT and the
    // F over z is assembled from exact n/Σz/Σz² with the one
    // order-sensitive double (Σ S_g²/n_g) folded over the group-sorted
    // list. Shape: one broadcast join + one O(rows) reduce to k rows.
    "agg_levene_test" -> ((s, dir) => {
      val li = t(s, dir, "lineitem").select(col("l_returnflag").as("g"),
        round(col("l_quantity")).cast("long").as("q"))
      li.createOrReplaceTempView("lev_q")
      val med = s.sql("""SELECT g,
        |  CAST(percentile_disc(0.5) WITHIN GROUP (ORDER BY q)
        |    AS BIGINT) AS med
        |FROM lev_q GROUP BY g""".stripMargin)
      val z = li.join(broadcast(med), Seq("g"))
        .select(col("g"), abs(col("q") - col("med")).as("z"))
      oneWayF(z, "z", "w_stat")
    }),

    // CRAMÉR'S V (§2.91) — the effect size agg_chi2_independence's
    // drill-down table omits: how STRONG is the event-mix ↔
    // day-of-week association once significance is a given at scale
    // (at 100 TB everything is "significant"; V ∈ [0,1] is what's
    // actually comparable across breakdowns). The χ² total is the one
    // order-sensitive double sum — each cell's (o−e)²/e is
    // IEEE-identical cross-engine (same exact-integer operands), and
    // the 35-cell sum folds over the (type, dow)-sorted contribution
    // list. V = √(χ²/(n·min(r−1,c−1))) is two libm steps on pinned
    // operands. Shape: one O(rows) reduce to the cell table, then a
    // 1-row fold — r and c are count_distincts over ≤35 rows.
    "agg_cramers_v" -> ((s, dir) => {
      val contrib = typeDowCells(s, dir)
        .withColumn("e",
          (col("r") * col("c")).cast("double") / col("n").cast("double"))
        .withColumn("contrib",
          (col("obs").cast("double") - col("e"))
            * (col("obs").cast("double") - col("e")) / col("e"))
      val folded = contrib.agg(
        count(lit(1)).as("n_cells"),
        max(col("n")).as("n"),
        countDistinct(col("event_type")).as("r_cat"),
        countDistinct(col("dw")).as("c_cat"),
        expr("aggregate(array_sort(collect_list(" +
          "struct(event_type, dw, contrib))), cast(0.0 as double), " +
          "(a, x) -> a + x.contrib)").as("chi2"))
      folded.select(col("n_cells"), col("n"), col("r_cat"), col("c_cat"),
        ((col("r_cat") - 1) * (col("c_cat") - 1)).as("dof"),
        r4d(col("chi2")).as("chi2"),
        when(col("n") > 0 && least(col("r_cat"), col("c_cat")) > 1,
          r4d(sqrt(col("chi2") / (col("n")
            * least(col("r_cat") - 1, col("c_cat") - 1)).cast("double"))))
          .as("v"))
    }),

    // LJUNG-BOX WHITENESS TEST (§2.92) — are the daily purchase
    // series' autocorrelations at lags 1..7 jointly zero? The
    // residual-diagnostic ts_stl_decompose's remainder should pass if
    // the seasonal fit is honest, and the standard portmanteau screen
    // before trusting any forecast baseline. Exactness: each lag's
    // autocorrelation is the ratio of two EXACT BIGINTs — multiplying
    // the mean-centered products through by n² turns
    // Σ(x_t−x̄)(x_{t+k}−x̄) into Σ(n·x_t−S)(n·x_{t+k}−S), integer
    // arithmetic end-to-end (spine days × counts keep every product
    // far under 2^63) — and the cumulative Q_k = n(n+2)·Σ_{j≤k}
    // r_j²/(n−j) accumulates over the lag-ORDERED 7-row window, so
    // the double fold order is pinned on both engines. Shape:
    // aggregate-first to the zero-filled spine, one 15-way explode
    // equi-join (the cross-corr device), a 7-row reduce + window.
    "ts_ljung_box" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val d = dailyXY(s, dir).select(col("day"), col("cy").as("v"))
      val m0 = d.agg(count(lit(1)).as("n"), sum(col("v")).as("sv"))
      val cen = d.crossJoin(broadcast(m0))
        .select(col("day"), col("n"), col("sv"),
          (col("n") * col("v") - col("sv")).as("c"))
      val D0 = "decimal(38,0)"
      val den = cen.agg(max(col("n")).as("n"),
        sum(col("c").cast(D0) * col("c")).as("den"))
      val x = cen.select(col("day"), col("c"))
        .withColumn("lag", explode(sequence(lit(1L), lit(7L))))
      val y2 = cen.select(col("day").as("yday"), col("c").as("c2"))
      val nums = x.join(y2, col("yday") === col("day") + col("lag"))
        .groupBy("lag").agg(sum(col("c").cast(D0) * col("c2")).as("num"))
      val wQ = Window.orderBy("lag")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      nums.crossJoin(broadcast(den))
        .withColumn("r", col("num").cast("double")
          / col("den").cast("double"))
        .withColumn("term", col("r") * col("r")
          / (col("n") - col("lag")).cast("double"))
        .withColumn("q_cum",
          (col("n") * (col("n") + 2)).cast("double")
            * sum(col("term")).over(wQ))
        .select(col("lag"), col("n"), r4d(col("r")).as("r"),
          r4d(col("q_cum")).as("q_cum"))
        .orderBy("lag")
    }),

    // FLEISS' KAPPA (§2.92) — eval_cohen_kappa's r-rater
    // generalization for the triple-annotation pass a labeling QA
    // round runs on contested images: agreement among THREE fixed
    // raters, chance-corrected by the pooled label marginals. This
    // statistic is FULLY RATIONAL: with r=3 raters, each item's
    // Σ_k n_ik² collapses to the equality pattern (all-agree 9 /
    // two-agree 5 / all-distinct 3), so P̄'s numerator and P̄e's
    // Σ C_k² are exact integers, and kappa = (P̄−P̄e)/(1−P̄e) clears
    // to ONE division of two decimal(38,0) operands (scaled through
    // by (Nr)²(r−1) — no intermediate double, no fold, no rounding
    // anywhere but the reported edge). Shape: one O(rows) map-side
    // pattern classify + a ≤5-row marginal reduce.
    "eval_fleiss_kappa" -> ((s, dir) => {
      val D0 = "decimal(38,0)"
      val d = t(s, dir, "documents").select(col("doc_id"),
          (col("n_chars") % 5).cast("long").as("la"))
        .withColumn("lb", when(col("doc_id") % 7 === 0,
          (col("la") + 1 + col("doc_id") % 3) % 5).otherwise(col("la")))
        .withColumn("lc", when(col("doc_id") % 11 === 0,
          (col("la") + 2 + col("doc_id") % 2) % 5).otherwise(col("la")))
      val pat = d.select(col("doc_id"), col("la"), col("lb"), col("lc"),
        when(col("la") === col("lb") && col("lb") === col("lc"), 9L)
          .when(col("la") =!= col("lb") && col("lb") =!= col("lc")
            && col("la") =!= col("lc"), 3L)
          .otherwise(5L).as("sq"))
      val items = pat.agg(count(lit(1)).as("n_items"),
        count_if(col("sq") === 9).as("n_all3"),
        count_if(col("sq") === 5).as("n_two"),
        count_if(col("sq") === 3).as("n_dist"),
        sum(col("sq")).as("sum_sq"))
      val marg = d.select(explode(array(col("la"), col("lb"), col("lc")))
          .as("lab"))
        .groupBy("lab").agg(count(lit(1)).as("ck"))
        .agg(sum(col("ck").cast(D0) * col("ck")).as("sum_ck2"))
      // P̄  = (Σsq − N·r) / (N·r·(r−1));  P̄e = ΣC_k² / (N·r)²
      // κ = (P̄−P̄e)/(1−P̄e)
      //   = ((Σsq−Nr)·(Nr)² − ΣC²·Nr(r−1)) / ((Nr(r−1))·((Nr)²−ΣC²))
      val r = lit(3L)
      items.crossJoin(marg).select(
          col("n_items"), col("n_all3"), col("n_two"), col("n_dist"),
          (col("n_items").cast(D0) * r).as("nr"),
          col("sum_sq").cast(D0).as("ssq"), col("sum_ck2"))
        .select(col("n_items"), col("n_all3"), col("n_two"),
          col("n_dist"),
          r4d((col("ssq") - col("nr")).cast("double")
            / (col("nr") * (r - 1)).cast("double")).as("p_bar"),
          r4d(col("sum_ck2").cast("double")
            / (col("nr") * col("nr")).cast("double")).as("p_e"),
          when(col("nr") * col("nr") - col("sum_ck2") > 0,
            r4d(((col("ssq") - col("nr")) * col("nr") * col("nr")
              - col("sum_ck2") * col("nr") * (r - 1)).cast("double")
              / ((col("nr") * (r - 1))
                * (col("nr") * col("nr") - col("sum_ck2")))
                .cast("double"))).as("kappa"))
    }),

    // TUKEY HSD PAIRWISE q (§2.93) — the post-hoc step after
    // agg_anova_oneway rejects: WHICH return-flag pairs differ? The
    // studentized-range statistic q = |x̄ᵢ−x̄ⱼ| / √((MSW/2)(1/nᵢ+1/nⱼ))
    // per unordered group pair, with MSW from the same exact device —
    // n/Σq/Σq² per group are exact BIGINTs on the integer quantity
    // grid and the one order-sensitive double (Σ S_g²/n_g) folds over
    // the group-key-sorted list. Every downstream double (means,
    // MSW, se, q) is spelled operand-for-operand on both engines.
    // Shape: O(rows) reduce to k rows, then a k²/2 self-join — 3
    // pairs here, k² driver-scale always.
    "agg_tukey_hsd" -> ((s, dir) => {
      val li = t(s, dir, "lineitem").select(col("l_returnflag").as("g"),
        round(col("l_quantity")).cast("long").as("q"))
      val grp = li.groupBy("g").agg(count(lit(1)).as("n_g"),
        sum(col("q")).as("s_g"), sum(col("q") * col("q")).as("q2_g"))
      val one = grp.agg(
        array_sort(collect_list(struct(col("g"), col("n_g"), col("s_g"),
          col("q2_g")))).as("gs"))
        .select(expr("size(gs)").cast("long").as("k"),
          expr("aggregate(gs, 0L, (a, x) -> a + x.n_g)").as("n"),
          expr("aggregate(gs, 0L, (a, x) -> a + x.q2_g)").as("q2"),
          expr("aggregate(gs, cast(0.0 as double), (a, x) -> " +
            "a + cast(x.s_g * x.s_g as double) / cast(x.n_g as double))")
            .as("bs"))
        .select(col("k"), col("n"),
          ((col("q2").cast("double") - col("bs"))
            / (col("n") - col("k")).cast("double")).as("msw"))
      val a = grp.select(col("g").as("g1"), col("n_g").as("n1"),
        col("s_g").as("s1"))
      val b = grp.select(col("g").as("g2"), col("n_g").as("n2"),
        col("s_g").as("s2"))
      a.join(b, col("g1") < col("g2")).crossJoin(broadcast(one))
        .select(col("g1"), col("g2"), col("n1"), col("n2"),
          (col("s1").cast("double") / col("n1").cast("double"))
            .as("mean1"),
          (col("s2").cast("double") / col("n2").cast("double"))
            .as("mean2"),
          col("msw"))
        .select(col("g1"), col("g2"), col("n1"), col("n2"),
          r4d(col("mean1")).as("mean1"), r4d(col("mean2")).as("mean2"),
          when(col("msw") > 0,
            r4d(abs(col("mean1") - col("mean2"))
              / sqrt(col("msw") / lit(2.0)
                * (lit(1.0) / col("n1").cast("double")
                  + lit(1.0) / col("n2").cast("double")))))
            .as("q_stat"))
        .orderBy("g1", "g2")
    }),

    // MCNEMAR PAIRED TEST (§2.93) — did detector B actually improve
    // on detector A? The paired comparison on the SAME items (the
    // only valid way to compare two models evaluated on one test
    // set): only the discordant counts b = A-only-correct and
    // c = B-only-correct carry signal, and the continuity-corrected
    // χ² = (|b−c|−1)²/(b+c) is exact-integer arithmetic into ONE
    // division. Fixture: two deterministic correctness patterns with
    // genuine discordance (hash-residue accuracy ~80% vs ~70%).
    // Shape: one O(rows) map-side classify + global count reduce.
    "eval_mcnemar" -> ((s, dir) => {
      val d = t(s, dir, "documents").select(col("doc_id"),
          col("n_chars"))
        .withColumn("a_ok", (col("doc_id") * 7 + col("n_chars")) % 10 < 8)
        .withColumn("b_ok", (col("doc_id") * 13 + col("n_chars")) % 10 < 7)
      d.agg(count(lit(1)).as("n"),
          count_if(col("a_ok") && col("b_ok")).as("n11"),
          count_if(col("a_ok") && !col("b_ok")).as("n10"),
          count_if(!col("a_ok") && col("b_ok")).as("n01"),
          count_if(!col("a_ok") && !col("b_ok")).as("n00"))
        .select(col("n"), col("n11"), col("n10"), col("n01"), col("n00"),
          when(col("n10") + col("n01") > 0,
            r4d(((abs(col("n10") - col("n01")) - 1)
              * (abs(col("n10") - col("n01")) - 1)).cast("double")
              / (col("n10") + col("n01")).cast("double"))).as("chi2"))
    }),

    // CAPTURE-RECAPTURE ABUNDANCE (§2.94) — the Chapman-corrected
    // Lincoln-Petersen estimator: two survey passes over one
    // population (even vs odd survey days), N̂ = (n₁+1)(n₂+1)/(m+1)−1
    // from the pass-1 count, pass-2 count, and the resight overlap m
    // — THE mark-recapture abundance figure a wildlife survey program
    // exists to produce. Exactness: n₁/n₂/m are exact distinct
    // counts (one per-individual flag reduce — no count-distinct
    // shuffle trio), and both N̂ and its variance are RATIONAL in
    // them: one decimal(38,0) product ratio each ((n₁+1)(n₂+1)
    // (n₁−m)(n₂−m) stays < 10¹⁷ on the bounded id space), sqrt only
    // at the reported se edge. Shape: O(rows) reduce to ≤|ids| flag
    // rows, then a 1-row fold.
    "agg_capture_recapture" -> ((s, dir) => {
      val D0 = "decimal(38,0)"
      val ind = events(s, dir).select(
          ((col("user_id") * 997 + col("event_id") * 31) % 11520)
            .as("animal"),
          (epochDay("ts") % 2 === 0).as("p1"))
        .groupBy("animal")
        .agg(max(col("p1")).as("in1"), max(!col("p1")).as("in2"))
      val m = ind.agg(count_if(col("in1")).as("n1"),
        count_if(col("in2")).as("n2"),
        count_if(col("in1") && col("in2")).as("m"))
      val nhat = (col("n1") + 1).cast(D0) * (col("n2") + 1)
      val varNum = (col("n1") + 1).cast(D0) * (col("n2") + 1) *
        (col("n1") - col("m")) * (col("n2") - col("m"))
      val varDen = (col("m") + 1).cast(D0) * (col("m") + 1) *
        (col("m") + 2)
      m.select(col("n1"), col("n2"), col("m"),
        r4d(nhat.cast("double") / (col("m") + 1).cast("double")
          - lit(1.0)).as("n_hat"),
        r4d(sqrt(varNum.cast("double") / varDen.cast("double")))
          .as("se"))
    }),

    // PINBALL (QUANTILE) LOSS (§2.95) — scores a seasonal-naive
    // quantile forecast (ŷ_t = y_{t−7}) of the daily purchase series
    // at q ∈ {0.1, 0.5, 0.9}: the loss proper scoring of quantile
    // forecasts requires (MAE can only rate the median). EXACT by
    // 10-scaling: 10·pinball = max(q₁₀·d, (q₁₀−10)·d) on the integer
    // error d = y−ŷ, summed in decimal(38,0); the mean is ONE
    // division by 10n at the edge. Shape: spine → derived-key
    // equi-join for the lag (the cross-corr device, no global
    // window), ×3 quantile explode, 3-row reduce.
    "ts_pinball_loss" -> ((s, dir) => {
      val D0 = "decimal(38,0)"
      val d = dailyXY(s, dir).select(col("day"), col("cy").as("v"))
      val f = d.select((col("day") + 7).as("day"), col("v").as("fc"))
      val err = d.join(f, Seq("day"))
        .select((col("v") - col("fc")).as("e"))
        .withColumn("q10", explode(array(lit(1L), lit(5L), lit(9L))))
      err.groupBy("q10")
        .agg(count(lit(1)).as("n"),
          sum(greatest(col("q10") * col("e"),
            (col("q10") - 10) * col("e")).cast(D0)).as("s10"))
        .select(col("q10"), col("n"),
          r4d(col("s10").cast("double")
            / (lit(10L) * col("n")).cast("double")).as("mean_pinball"))
        .orderBy("q10")
    }),

    // G-TEST OF INDEPENDENCE (§2.95) — the likelihood-ratio companion
    // of agg_chi2_independence on the same event-mix × day-of-week
    // contingency: G = 2·Σ o·ln(o/e) is additive across partitions of
    // the table (χ² is not), which is why hierarchical log-linear
    // analyses prefer it. Each cell's o·ln(o/e) is computed from
    // IDENTICAL operands cross-engine (o exact BIGINT, e = r·c/n one
    // IEEE division, ln on the same double), and the 35-cell sum —
    // the one order-sensitive step — folds over the (type, dow)-sorted
    // contribution list (the Cramér's V device). Zero cells contribute
    // 0 by the o·ln(o/e) → 0 limit and are absent from the cell table
    // anyway. Shape: one O(rows) reduce, then a 1-row fold.
    "agg_g_test" -> ((s, dir) => {
      val contrib = typeDowCells(s, dir)
        .withColumn("contrib", col("obs").cast("double")
          * log(col("obs").cast("double")
            / ((col("r") * col("c")).cast("double")
              / col("n").cast("double"))))
      val folded = contrib.agg(
        count(lit(1)).as("n_cells"),
        max(col("n")).as("n"),
        countDistinct(col("event_type")).as("r_cat"),
        countDistinct(col("dw")).as("c_cat"),
        expr("aggregate(array_sort(collect_list(" +
          "struct(event_type, dw, contrib))), cast(0.0 as double), " +
          "(a, x) -> a + x.contrib)").as("hg"))
      folded.select(col("n_cells"), col("n"),
        ((col("r_cat") - 1) * (col("c_cat") - 1)).as("dof"),
        r4d(lit(2.0) * col("hg")).as("g_stat"))
    }),

    // BRIER SCORE + SKILL (§2.95) — mean squared error of the
    // probability forecast p = value/200 against the purchase
    // outcome, plus the skill score against the base-rate forecast:
    // the calibration-bin table (eval_calibration_bins) says WHERE
    // the model miscalibrates; Brier says HOW MUCH it costs overall.
    // EXACT: p is the cents-integer vc/20000, so Brier·20000² =
    // Σ(vc − 20000·y)² is an exact decimal(38,0) sum; the base-rate
    // Brier r(1−r) = n₊(n−n₊)/n² is rational; score and skill are
    // each ONE division on exact operands, spelled identically in
    // both engines. Shape: one O(rows) map-side classify + 1-row
    // reduce — nothing downstream scales.
    // BRIER DECOMPOSITION (§2.191) — Murphy's three-way split of
    // the Brier score over the 20-bin forecast grid: reliability
    // (miscalibration cost), resolution (discrimination gain), and
    // uncertainty (the data's own entropy term), with binned_brier =
    // REL − RES + UNC as the identity readout. Tells a forecast
    // team whether to spend on calibration (REL) or on features
    // (RES). Per-bin terms are squared exact integer cross-
    // multiplications divided once each; the 20-term sums fold in
    // bin order (the bounded-fold device); UNC is exact.
    "eval_brier_decomposition" -> ((s, dir) => {
      val D0 = "decimal(38,0)"
      val e = events(s, dir).select(
        round(least(col("value"), lit(200.0)) * 100).cast("long")
          .as("vc"),
        when(col("event_type") === "purchase", 1L).otherwise(0L)
          .as("y"))
        .select(least(expr("vc div 1000"), lit(19L)).as("b"),
          col("vc"), col("y"))
      val bins = e.groupBy("b")
        .agg(count(lit(1)).as("nb"), sum(col("vc")).as("sb"),
          sum(col("y")).as("kb"))
      val tot = e.agg(count(lit(1)).as("nn"), sum(col("y")).as("kk"))
      val terms = bins.crossJoin(broadcast(tot))
        .select(col("nn"), col("kk"),
          struct(col("b"),
            (((col("sb").cast(D0) - lit(20000).cast(D0) * col("kb"))
              * (col("sb").cast(D0) - lit(20000).cast(D0) * col("kb")))
              .cast("double")
              / (lit(400000000L).cast(D0) * col("nb"))
                .cast("double")).as("rel"),
            (((col("kb").cast(D0) * col("nn")
              - col("nb").cast(D0) * col("kk"))
              * (col("kb").cast(D0) * col("nn")
                - col("nb").cast(D0) * col("kk"))).cast("double")
              / (col("nb").cast(D0) * col("nn") * col("nn"))
                .cast("double")).as("res")).as("st"))
      terms.groupBy("nn", "kk")
        .agg(aggregate(array_sort(collect_list(col("st"))), lit(0.0),
            (acc, x) => acc + x("rel")).as("relsum"),
          aggregate(array_sort(collect_list(col("st"))), lit(0.0),
            (acc, x) => acc + x("res")).as("ressum"))
        .select(col("nn").as("n"), col("kk").as("n_pos"),
          r4d(col("relsum") / col("nn").cast("double"))
            .as("reliability"),
          r4d(col("ressum") / col("nn").cast("double"))
            .as("resolution"),
          r4d((col("kk").cast(D0) * (col("nn") - col("kk")))
            .cast("double")
            / (col("nn").cast(D0) * col("nn")).cast("double"))
            .as("uncertainty"),
          r4d(col("relsum") / col("nn").cast("double")
            - col("ressum") / col("nn").cast("double")
            + (col("kk").cast(D0) * (col("nn") - col("kk")))
              .cast("double")
              / (col("nn").cast(D0) * col("nn")).cast("double"))
            .as("binned_brier"))
    }),

    "eval_brier_score" -> ((s, dir) => {
      val D0 = "decimal(38,0)"
      val e = events(s, dir).select(
        round(least(col("value"), lit(200.0)) * 100).cast("long")
          .as("vc"),
        when(col("event_type") === "purchase", 1L).otherwise(0L)
          .as("y"))
      val m = e.agg(count(lit(1)).as("n"), sum(col("y")).as("n_pos"),
        sum(((col("vc") - col("y") * 20000L)
          * (col("vc") - col("y") * 20000L)).cast(D0)).as("se20k"))
      val brier = (col("se20k").cast("double")
        / (col("n").cast(D0) * 400000000L).cast("double"))
      val base = (col("n_pos").cast(D0) * (col("n") - col("n_pos")))
        .cast("double") / (col("n").cast(D0) * col("n")).cast("double")
      m.select(col("n"), col("n_pos"), r4d(brier).as("brier"),
        r4d(base).as("brier_base"),
        when(col("n_pos") > 0 && col("n_pos") < col("n"),
          r4d(lit(1.0) - brier / base)).as("skill"))
    }),

    // INTERVENTION WELCH TEST (§2.96) — did daily purchase volume
    // change after the spine's midpoint (the "new sensor / new
    // policy took effect mid-survey" question)? ab_test_welch's
    // unequal-variance t, but the arms are TIME halves of the daily
    // series rather than user-hash arms. Exactness: per-arm moments
    // (n, Σv, Σv²) are exact decimal(38,0) on integer daily counts,
    // the split day is integer arithmetic on the spine bounds, and
    // mean/variance/t/df are spelled operand-for-operand. Shape:
    // aggregate-first to the spine, 2-row arm reduce, 1-row join.
    "ts_intervention_welch" -> ((s, dir) => {
      val D0 = "decimal(38,0)"
      val d0 = dailyXY(s, dir).select(col("day"), col("cy").as("v"))
      val bounds = d0.agg(min(col("day")).as("lo"), max(col("day")).as("hi"))
        .select(expr("(lo + hi) div 2").as("mid"))
      val m = d0.crossJoin(broadcast(bounds))
        .withColumn("arm", when(col("day") < col("mid"), "pre")
          .otherwise("post"))
        .groupBy("arm").agg(count(lit(1)).as("n"),
          sum(col("v").cast(D0)).as("s"),
          sum((col("v") * col("v")).cast(D0)).as("q2"))
        .withColumn("nn", col("n").cast("double"))
        .withColumn("mean", col("s").cast("double") / col("nn"))
        .withColumn("v",
          (col("n") * col("q2") - col("s") * col("s")).cast("double")
            / (col("nn") * (col("nn") - lit(1.0))))
      val a = m.filter(col("arm") === "pre").select(
        col("n").as("n_pre"), col("nn").as("nna"),
        col("mean").as("ma"), col("v").as("va"))
      val b = m.filter(col("arm") === "post").select(
        col("n").as("n_post"), col("nn").as("nnb"),
        col("mean").as("mb"), col("v").as("vb"))
      a.crossJoin(b)
        .filter(col("n_pre") > 1 && col("n_post") > 1)
        .withColumn("sea", col("va") / col("nna"))
        .withColumn("seb", col("vb") / col("nnb"))
        .withColumn("se2", col("sea") + col("seb"))
        .select(col("n_pre"), col("n_post"),
          r4d(col("ma")).as("mean_pre"), r4d(col("mb")).as("mean_post"),
          when(col("se2") > 0,
            r4d((col("ma") - col("mb")) / sqrt(col("se2"))))
            .as("t_stat"),
          when(col("se2") > 0, r4d(col("se2") * col("se2")
            / (col("sea") * col("sea") / (col("nna") - lit(1.0))
              + col("seb") * col("seb") / (col("nnb") - lit(1.0)))))
            .as("df_welch"))
    }),

    // DELETE-1 JACKKNIFE OF THE MEAN (§2.96) — the resampling
    // companion of agg_bootstrap_ci built for distributed data: k=32
    // deterministic key-residue buckets, each leave-one-bucket-out
    // mean m₍ⱼ₎ = (S−sⱼ)/(N−nⱼ) computed from EXACT decimal sums, and
    // the jackknife variance (k−1)/k · Σ(m₍ⱼ₎−m̄·)² folded over the
    // bucket-id-sorted 32-row list TWICE (once for m̄·, once for the
    // squared deviations) so no double sum floats free. Estimates the
    // se of the mean order total without any per-row randomness.
    // Shape: one O(rows) reduce to 32 rows, then 1-row folds.
    "agg_jackknife_variance" -> ((s, dir) => {
      val D0 = "decimal(38,0)"
      val o = t(s, dir, "orders").select(
        (col("o_orderkey") % 32).as("bkt"),
        round(col("o_totalprice") * 100).cast("long").as("c"))
      val grp = o.groupBy("bkt").agg(count(lit(1)).as("n_j"),
        sum(col("c").cast(D0)).as("s_j"))
      val one = grp.agg(array_sort(collect_list(
          struct(col("bkt"), col("n_j"), col("s_j")))).as("gs"))
        .select(col("gs"),
          expr("size(gs)").cast("long").as("k"),
          expr("aggregate(gs, 0L, (a, x) -> a + x.n_j)").as("n"),
          expr("aggregate(gs, cast(0 as decimal(38,0)), " +
            "(a, x) -> a + x.s_j)").as("s"))
      val withDot = one.select(col("gs"), col("k"), col("n"), col("s"),
        expr("""aggregate(gs, cast(0.0 as double), (a, x) ->
          |a + cast(s - x.s_j as double)
          |  / cast(n - x.n_j as double))""".stripMargin).as("mdotsum"))
        .withColumn("mdot", col("mdotsum") / col("k").cast("double"))
      withDot.select(col("k"), col("n"),
          r4d(col("s").cast("double") / col("n").cast("double"))
            .as("mean_cents"),
          col("mdot"),
          expr("""aggregate(gs, cast(0.0 as double), (a, x) ->
            |a + (cast(s - x.s_j as double)
            |    / cast(n - x.n_j as double) - mdot)
            |  * (cast(s - x.s_j as double)
            |    / cast(n - x.n_j as double) - mdot))""".stripMargin)
            .as("devsum"))
        .select(col("k"), col("n"), col("mean_cents"),
          r4d(sqrt((col("k") - 1).cast("double") / col("k").cast("double")
            * col("devsum"))).as("jk_se_cents"))
    }),

    // LOG LOSS / CROSS-ENTROPY (§2.97) — the proper scoring rule that
    // PUNISHES overconfidence where Brier merely taxes it (a confident
    // wrong p=0.999 costs ~7 nats here vs 1.0 there): the metric every
    // training pipeline monitors. Exactness device: probabilities live
    // on the bounded CENTS grid (p = vc/20000, vc ∈ 0..20000 clamped
    // to 1..19999 — the standard eps-clip), so the corpus reduces to
    // ≤ 2·10⁴ (pc, counts) cells and the ln terms — the only libm —
    // fold over the pc-SORTED cell list (the agg_geo_harmonic_mean
    // device), each term spelled n·ln(pc/20000) operand-for-operand.
    // The base-rate entropy and skill are 1-row arithmetic. Shape: one
    // O(rows) partial-agg reduce to the bounded grid, then a 1-row
    // fold — nothing downstream scales with the corpus.
    "eval_log_loss" -> ((s, dir) => {
      val e = events(s, dir).select(
        greatest(lit(1L), least(
          round(least(col("value"), lit(200.0)) * 100).cast("long"),
          lit(19999L))).as("pc"),
        when(col("event_type") === "purchase", 1L).otherwise(0L)
          .as("y"))
      val byv = e.groupBy("pc").agg(count(lit(1)).as("n_v"),
        sum(col("y")).as("p_v"))
      val cells = byv.select(col("pc"), col("n_v"), col("p_v"),
        (col("p_v").cast("double")
            * log(col("pc").cast("double") / lit(20000.0))
          + (col("n_v") - col("p_v")).cast("double")
            * log((lit(20000L) - col("pc")).cast("double")
              / lit(20000.0))).as("contrib"))
      val m = cells.agg(sum(col("n_v")).cast("long").as("n"),
        sum(col("p_v")).cast("long").as("n_pos"),
        expr("aggregate(array_sort(collect_list(struct(pc, contrib)))," +
          " cast(0.0 as double), (a, x) -> a + x.contrib)").as("ll"))
      val r = col("n_pos").cast("double") / col("n").cast("double")
      val base = (col("n_pos").cast("double") * log(r)
        + (col("n") - col("n_pos")).cast("double") * log(lit(1.0) - r))
      m.select(col("n"), col("n_pos"),
        r4d(-col("ll") / col("n").cast("double")).as("log_loss"),
        when(col("n_pos") > 0 && col("n_pos") < col("n"),
          r4d(-base / col("n").cast("double"))).as("log_loss_base"),
        when(col("n_pos") > 0 && col("n_pos") < col("n"),
          r4d(lit(1.0) - col("ll") / base)).as("skill"))
    }),

    // EXPECTED CALIBRATION ERROR (§2.97) — eval_calibration_bins's
    // per-bin gap table collapsed to the two numbers dashboards alarm
    // on: ECE = Σ_b (n_b/N)·|acc_b − conf_b| and MCE = max_b |gap_b|.
    // FULLY exact up to the last division: n_b·|acc_b − conf_b| =
    // |20000·pos_b − Σvc_b| / 20000 on the cents grid, so ECE's
    // numerator is ONE exact integer sum over 10 bins and ECE is a
    // single IEEE division; MCE takes the max of 10 identically-
    // spelled per-bin divisions (max is order-free). No libm at all.
    // Shape: O(rows) reduce to ≤10 bins, then 1-row arithmetic.
    "eval_ece" -> ((s, dir) => {
      val D0 = "decimal(38,0)"
      val e = events(s, dir).select(
        least(floor(col("value") / 20).cast("int"), lit(9)).as("bin"),
        round(least(col("value"), lit(200.0)) * 100).cast("long")
          .as("vc"),
        when(col("event_type") === "purchase", 1L).otherwise(0L)
          .as("y"))
      val bins = e.groupBy("bin").agg(count(lit(1)).as("n_b"),
        sum(col("y")).as("pos_b"), sum(col("vc").cast(D0)).as("sv_b"))
      bins.agg(sum(col("n_b")).cast("long").as("n"),
          count(lit(1)).as("n_bins"),
          sum(abs((col("pos_b") * 20000L).cast(D0) - col("sv_b")))
            .as("devsum"),
          max(abs((col("pos_b") * 20000L).cast(D0) - col("sv_b"))
            .cast("double")
            / (lit(20000.0) * col("n_b").cast("double"))).as("mce"))
        .select(col("n"), col("n_bins"),
          r4d(col("devsum").cast("double")
            / (lit(20000.0) * col("n").cast("double"))).as("ece"),
          r4d(col("mce")).as("mce"))
    }),

    // COHEN'S d EFFECT SIZE (§2.97) — the magnitude companion of
    // ab_test_welch's significance: the same md5 user arms and the
    // same anchored exact moments, but reporting the POOLED-SD
    // standardized mean difference (and its small-sample Hedges g
    // correction) — the number a power analysis or meta-analysis
    // consumes, where t only says "unlikely under H0". Moments reuse
    // the welch key's anchor device verbatim (exact decimal Σd, Σd²
    // per arm); d, sp and g are a handful of IEEE ops spelled
    // operand-for-operand. Shape: identical to ab_test_welch — two
    // O(rows) passes to 2·|types| moment rows, then 1-row-per-type
    // arithmetic.
    "agg_cohens_d" -> ((s, dir) => {
      val m = withArmMoments(abAnchored(s, dir)
        .groupBy("event_type", "arm")
        .agg(max(col("n")).as("n"), max(col("a")).as("a"),
          sum(col("d").cast("decimal(38,0)")).as("d1"),
          sum((col("d") * col("d")).cast("decimal(38,0)")).as("d2")))
      val a = m.filter(col("arm") === "A").select(col("event_type"),
        col("n").as("na"), col("nn").as("nna"), col("mean").as("ma"),
        col("v").as("va"))
      val b = m.filter(col("arm") === "B").select(col("event_type"),
        col("n").as("nb"), col("nn").as("nnb"), col("mean").as("mb"),
        col("v").as("vb"))
      a.join(b, Seq("event_type"))
        .filter(col("na") > 1 && col("nb") > 1)
        .withColumn("sp2",
          ((col("nna") - lit(1.0)) * col("va")
            + (col("nnb") - lit(1.0)) * col("vb"))
            / (col("nna") + col("nnb") - lit(2.0)))
        .filter(col("sp2") > 0)
        .select(col("event_type"), col("na"), col("nb"),
          r4d(col("ma") / lit(100.0)).as("mean_a"),
          r4d(col("mb") / lit(100.0)).as("mean_b"),
          r4d((col("ma") - col("mb")) / sqrt(col("sp2"))).as("cohens_d"),
          r4d((col("ma") - col("mb")) / sqrt(col("sp2"))
            * (lit(1.0) - lit(3.0)
              / (lit(4.0) * (col("nna") + col("nnb")) - lit(9.0))))
            .as("hedges_g"))
        .orderBy("event_type")
    }),

    // CUMULATIVE GAINS / LIFT AT DECILES (§2.99) — the campaign-
    // targeting readout of the same cents-grid ranking eval_pr_auc
    // walks: "contact the top k/10 of the population by score — what
    // fraction of all positives do we capture, and at what lift over
    // random?" Exactness: the corpus reduces to ≤2·10⁴ score blocks
    // with exact cumulative integers; each decile CUT is the first
    // block (descending score) where 10·cumn ≥ k·N — an integer
    // comparison — selected by one lexicographic struct-min; capture
    // and lift are single divisions of exact integer PRODUCTS
    // (cump·N / cumn·n_pos). Shape: O(rows) reduce to the grid, one
    // driver-scale window, a 10×|blocks| bounded join.
    "eval_lift_curve" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val e = events(s, dir).select(
        round(least(col("value"), lit(200.0)) * 100).cast("long")
          .as("cents"),
        when(col("event_type") === "purchase", 1L).otherwise(0L)
          .as("y"))
      val byv = e.groupBy("cents").agg(count(lit(1)).as("n_v"),
        sum(col("y")).as("p_v"))
      val w = Window.orderBy(col("cents").desc)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val cum = byv
        .withColumn("cumn", sum(col("n_v")).over(w).cast("long"))
        .withColumn("cump", sum(col("p_v")).over(w).cast("long"))
      val glob = byv.agg(sum(col("n_v")).cast("long").as("n"),
        sum(col("p_v")).cast("long").as("n_pos"))
      s.range(1, 11).select(col("id").as("k"))
        .crossJoin(broadcast(glob))
        .join(cum, col("cumn") * 10 >= col("k") * col("n"))
        .groupBy("k", "n", "n_pos")
        .agg(min(struct(col("cumn"), col("cump"), col("cents")))
          .as("cut"))
        .select(col("k"), col("cut.cents").as("score_cut"),
          col("cut.cumn").as("n_at_cut"),
          col("cut.cump").as("pos_at_cut"),
          when(col("n_pos") > 0, r4d(col("cut.cump").cast("double")
            / col("n_pos").cast("double"))).as("capture"),
          when(col("n_pos") > 0,
            r4d((col("cut.cump") * col("n")).cast("double")
              / (col("cut.cumn") * col("n_pos")).cast("double")))
            .as("lift"))
        .orderBy("k")
    }),

    // POISSON RATE RATIO (§2.99) — did the purchase RATE change after
    // the mid-survey intervention? ts_intervention_welch compares
    // daily MEANS with a t; when the measure is a raw event count the
    // canonical comparison is the Poisson rate ratio with the Wald
    // interval on ln RR (se = √(1/n₁ + 1/n₂) — exposure days enter RR
    // but not the variance). Counts and day spans are exact integers
    // off the shared spine; RR = (n₂·d₁)/(n₁·d₂) is one division of
    // exact products; ln and the z are three libm/IEEE ops on one
    // row. Shape: aggregate-first to the spine, 2-row reduce.
    "agg_poisson_rate_ratio" -> ((s, dir) => {
      val d0 = dailyXY(s, dir).select(col("day"), col("cy").as("v"))
      val bounds = d0.agg(min(col("day")).as("lo"),
        max(col("day")).as("hi"))
        .select(expr("(lo + hi) div 2").as("mid"))
      val m = d0.crossJoin(broadcast(bounds))
        .withColumn("arm", when(col("day") < col("mid"), "pre")
          .otherwise("post"))
        .groupBy("arm").agg(count(lit(1)).as("d"),
          sum(col("v")).cast("long").as("n"))
      val a = m.filter(col("arm") === "pre")
        .select(col("n").as("n_pre"), col("d").as("days_pre"))
      val b = m.filter(col("arm") === "post")
        .select(col("n").as("n_post"), col("d").as("days_post"))
      val rr = ((col("n_post") * col("days_pre")).cast("double")
        / (col("n_pre") * col("days_post")).cast("double"))
      val se = sqrt(lit(1.0) / col("n_pre").cast("double")
        + lit(1.0) / col("n_post").cast("double"))
      a.crossJoin(b)
        .filter(col("n_pre") > 0 && col("n_post") > 0)
        .select(col("n_pre"), col("days_pre"), col("n_post"),
          col("days_post"), r4d(rr).as("rate_ratio"),
          r4d(log(rr) / se).as("z_wald"))
    }),

    // NEYMAN OPTIMAL ALLOCATION (§2.100) — how to split a fixed
    // sample budget (B = 10 000) across the event-type strata for a
    // minimum-variance estimate of mean value: n_h ∝ N_h·s_h — the
    // survey-sampling design rule (proportional allocation ignores
    // within-stratum spread; Neyman samples volatile strata harder),
    // feeding the same md5-hash sampler sample_stratified_hash runs.
    // Determinism: per-stratum moments are the welch keys' exact
    // anchored decimals; each N_h·s_h is one sqrt (IEEE-exact) on an
    // exact-numerator variance; their SUM folds over the
    // stratum-sorted ≤|types| list (the geo-harmonic-mean device);
    // share and floor(B·share) are then bit-identical. Shape: one
    // O(rows) reduce to |types| moment rows, a 1-row fold, broadcast
    // back — corpus-size-free past the first exchange.
    "sample_neyman_allocation" -> ((s, dir) => {
      val D0 = "decimal(38,0)"
      val e = events(s, dir).select(col("event_type"),
        round(col("value") * 100).cast("long").as("c"))
      val p1 = e.groupBy("event_type")
        .agg(count(lit(1)).as("n"), sum(col("c")).as("s1"))
        .select(col("event_type"), col("n"), expr("s1 div n").as("a"))
      val m = e.join(broadcast(p1), Seq("event_type"))
        .withColumn("d", col("c") - col("a"))
        .groupBy("event_type")
        .agg(max(col("n")).as("n"),
          sum(col("d").cast(D0)).as("d1"),
          sum((col("d") * col("d")).cast(D0)).as("d2"))
        .filter(col("n") > 1)
        .withColumn("nn", col("n").cast("double"))
        .withColumn("ns", col("nn") * sqrt(
          (col("n") * col("d2") - col("d1") * col("d1")).cast("double")
            / (col("nn") * (col("nn") - lit(1.0)))))
      val tot = m.agg(expr(
        "aggregate(array_sort(collect_list(struct(event_type, ns))), " +
          "cast(0.0 as double), (acc, x) -> acc + x.ns)").as("tot_ns"))
      m.crossJoin(broadcast(tot))
        .select(col("event_type"), col("n").as("n_stratum"),
          r4d(col("ns") / col("nn") / lit(100.0)).as("sd_value"),
          r4d(col("ns") / col("tot_ns")).as("share"),
          floor(lit(10000.0) * (col("ns") / col("tot_ns")))
            .cast("long").as("alloc_n"))
        .orderBy("event_type")
    }),

    // HODGES–LEHMANN LOCATION ESTIMATE (§2.103) — the rank-based
    // center of the daily purchase series: the median of all Walsh
    // averages (vᵢ+vⱼ)/2 over day pairs i ≤ j — robust where the mean
    // is dragged by burst days and more efficient than the plain
    // median, the standard robust-location companion of ts_theil_sen
    // (which is HL applied to slopes). ENTIRELY integer until the
    // final halving: pair sums vᵢ+vⱼ are exact, the median is the
    // ceil(n/2) order statistic (PERCENTILE_DISC convention) selected
    // from the sorted pair-sum list, and the estimate is one division
    // by 2. Shape: aggregate-first to the ~O(days) spine, the O(days²)
    // pair join (~4·10³ pairs at 90 days) is corpus-size-free.
    "agg_hodges_lehmann" -> ((s, dir) => {
      val d = dailyXY(s, dir).select(col("day"), col("cy").as("v"))
      val pairs = d.as("x").join(d.as("y"),
          col("x.day") <= col("y.day"))
        .select((col("x.v") + col("y.v")).as("s2"))
      pairs.agg(count(lit(1)).as("n_pairs"),
          array_sort(collect_list(col("s2"))).as("ss"))
        .select(col("n_pairs"),
          element_at(col("ss"),
            ceil(col("n_pairs") * 0.5).cast("int")).as("hl2_units"))
        .select(col("n_pairs"), col("hl2_units"),
          r4d(col("hl2_units").cast("double") / lit(2.0)).as("hl"))
    }),

    // POPULATION STABILITY INDEX (§2.104) — did the value DISTRIBUTION
    // drift between the two halves of the survey window? PSI =
    // Σ_bins (p_b − q_b)·ln(p_b/q_b) over the 10 calibration-style
    // value bins — the score-drift alarm every deployed-model monitor
    // fires on (text_js_drift watches token mix by SOURCE; PSI
    // watches a numeric score's shape over TIME). Exactness: bin
    // counts are exact integers per arm with the 0.5%-floor count
    // smoothing applied as INTEGER units (counts scaled ×200 so the
    // floor is the integer max(200·c, n)), each bin term is built
    // from two exact-ratio divisions + one ln, and the ≤10 terms fold
    // over the bin-sorted list. Shape: O(rows) reduce to ≤20 (arm,
    // bin) cells, a 1-row fold.
    "eval_psi" -> ((s, dir) => {
      val e = events(s, dir).select(
        least(floor(col("value") / 20).cast("int"), lit(9)).as("bin"),
        epochDay("ts").as("day"))
      val bounds = e.agg(min(col("day")).as("lo"), max(col("day")).as("hi"))
        .select(expr("(lo + hi) div 2").as("mid"))
      val cells = e.crossJoin(broadcast(bounds))
        .withColumn("arm", when(col("day") < col("mid"), "pre")
          .otherwise("post"))
        .groupBy("bin", "arm").agg(count(lit(1)).as("c"))
      val arms = cells.groupBy("arm").agg(sum(col("c")).cast("long").as("n"))
      val spine = s.range(0, 10).select(col("id").cast("int").as("bin"))
        .crossJoin(arms)
      val filled = spine.join(cells, Seq("bin", "arm"), "left")
        // 0.5%-floor smoothing in integer units: share = max(200·c, n)
        // / (200·n) — zero-count bins get exactly 0.5% without a float
        // epsilon, and the clamp comparison is integer.
        .select(col("bin"), col("arm"),
          greatest(col("n"), coalesce(col("c"), lit(0L)) * 200)
            .as("u200"),
          (col("n") * 200).as("d200"))
      val pre = filled.filter(col("arm") === "pre")
        .select(col("bin"), col("u200").as("pu"), col("d200").as("pd"))
      val post = filled.filter(col("arm") === "post")
        .select(col("bin"), col("u200").as("qu"), col("d200").as("qd"))
      val terms = pre.join(post, Seq("bin"))
        .select(col("bin"),
          ((col("pu").cast("double") / col("pd").cast("double")
            - col("qu").cast("double") / col("qd").cast("double"))
            * log((col("pu").cast("double") / col("pd").cast("double"))
              / (col("qu").cast("double") / col("qd").cast("double"))))
            .as("term"))
      terms.agg(count(lit(1)).as("n_bins"),
          expr("aggregate(array_sort(collect_list(struct(bin, term)))," +
            " cast(0.0 as double), (a, x) -> a + x.term)").as("psi0"))
        .select(col("n_bins"), r4d(col("psi0")).as("psi"),
          (col("psi0") > 0.2).as("major_shift"))
    }),

    // HILL TAIL-INDEX ESTIMATOR (§2.105) — how heavy is the value
    // distribution's upper tail? α̂ = k / Σᵢ ln(xᵢ/x₍k₊₁₎) over the
    // k = 100 largest observations: the standard power-law tail
    // diagnostic (α ≤ 2 → infinite variance — means/anova on such a
    // column are lies; this key is the check that licenses them).
    // Exactness: the top-(k+1) multiset lives on the exact cents
    // grid and is order-statistic deterministic (ties at the boundary
    // share the same cents value, so WHICH duplicate enters cannot
    // change the multiset); the k ln terms fold over the sorted
    // collected list; one division. Shape: global top-101 is
    // TakeOrderedAndProject (bounded heap per partition, no global
    // sort), then a 1-row fold.
    "agg_tail_index_hill" -> ((s, dir) => {
      val top = events(s, dir)
        .select(round(col("value") * 100).cast("long").as("c"))
        .filter(col("c") > 0)
        .orderBy(col("c").desc).limit(101)
      val m = top.agg(count(lit(1)).as("n_top"),
        min(col("c")).as("thr"),
        array_sort(collect_list(col("c"))).as("cs"))
      m.filter(col("n_top") === 101 && col("thr") > 0)
        .select(lit(100L).as("k"), col("thr").as("threshold_cents"),
          expr("""aggregate(slice(cs, 2, 100), cast(0.0 as double),
            |(a, x) -> a + ln(cast(x as double)
            |  / cast(element_at(cs, 1) as double)))""".stripMargin)
            .as("h"))
        .select(col("k"), col("threshold_cents"),
          when(col("h") > 0,
            r4d(lit(100.0) / col("h"))).as("hill_alpha"))
    }),

    // MARKOV STEADY STATE (§2.105) — where does the event-type chain
    // settle? path_transitions estimates the per-user transition
    // matrix; this key row-normalizes it and runs 8 UNROLLED power-
    // iteration steps from the uniform vector (the label-prop/MMR
    // fixed-round convention — steady state is the eigenvector the
    // funnel/journey teams actually quote). The state space is the
    // ≤|event types| alphabet, so every step is a ≤25-cell join; each
    // new π[to] folds its ≤5 products over the from-sorted list (both
    // engines), P's entries are exact-integer ratios, and every step
    // is eagerly pinned (the MMR lineage lesson). Shape: one corpus
    // scan for the lag pairs; everything after is alphabet-sized.
    "agg_markov_steady_state" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("ms"), col("event_id"))
      val trans = events(s, dir)
        .select(col("user_id"), col("event_id"), col("event_type"),
          unix_millis(col("ts").cast("timestamp")).as("ms"))
        .withColumn("next_type", lead(col("event_type"), 1).over(w))
        .filter(col("next_type").isNotNull)
        .groupBy(col("event_type").as("from"),
          col("next_type").as("to"))
        .agg(count(lit(1)).as("n"))
        .withColumn("n_from",
          sum(col("n")).over(Window.partitionBy(col("from"))))
        .select(col("from"), col("to"),
          (col("n").cast("double") / col("n_from").cast("double"))
            .as("p"))
        .localCheckpoint(true)
      val states = trans.select(col("from").as("state"))
        .unionAll(trans.select(col("to").as("state"))).distinct()
        .localCheckpoint(true)
      val nStates = states.count()
      val pi0 = states.withColumn("v", lit(1.0) / lit(nStates.toDouble))
      // Round-17: checkpoint every SECOND step — pi is referenced once
      // per step, so two un-truncated layers keep the plan bounded
      // (alphabet-sized frames; the cost here is jobs and per-step
      // planning, not data) while halving the materialization jobs.
      val piN = (1 to 8).foldLeft(pi0) { (pi, i) =>
        val next = trans
          .join(pi.withColumnRenamed("state", "from"), Seq("from"))
          .select(col("to"), col("from"), (col("v") * col("p")).as("t"))
          .groupBy(col("to").as("state"))
          .agg(expr("aggregate(array_sort(collect_list(struct(from, t)))," +
            " cast(0.0 as double), (a, x) -> a + x.t)").as("v"))
        if (i % 2 == 0) next.localCheckpoint(true) else next
      }
      // Renormalize once at the end: a state with no outgoing rows is
      // sub-stochastic and leaks mass during the iteration; the
      // reported vector is the direction, normalized over the
      // state-sorted fold.
      val tot = piN.agg(expr(
        "aggregate(array_sort(collect_list(struct(state, v)))," +
          " cast(0.0 as double), (a, x) -> a + x.v)").as("tv"))
      piN.crossJoin(broadcast(tot))
        .select(col("state"), r4d(col("v") / col("tv")).as("pi"))
        .orderBy("state")
    }),

    // KRIPPENDORFF'S ALPHA, nominal (§2.109) — the agreement
    // coefficient that handles INCOMPLETE rating designs (any number
    // of raters per item, unlike Cohen's fixed pair or Fleiss's fixed
    // m): items = orders, raters = line numbers, labels = return
    // flags; only items with ≥ 2 ratings are pairable. α = 1 − Do/De
    // with Do = (1/N)·Σ_u Σ_k n_uk(n_u − n_uk)/(n_u − 1) and
    // De = Σ_k n_k(N − n_k) / (N(N−1)). Every count is exact; the
    // only per-item division is snapped to BIGINT 10⁻⁶ units with
    // truncating div (the adamic-adar device — identical truncation
    // in both engines, only integers are summed), and the corpus-
    // scale sums ride DECIMAL(38,0). Shape: one (item, label) reduce,
    // one item reduce, one ≤|labels| reduce — aggregate-first, no
    // joins beyond the n_u broadcast-back.
    "eval_krippendorff_alpha" -> ((s, dir) => {
      val r = t(s, dir, "lineitem").select(col("l_orderkey").as("ok"),
        col("l_returnflag").as("lab"))
      val cells0 = r.groupBy("ok", "lab").agg(count(lit(1)).as("n_uk"))
      val nu = cells0.groupBy("ok").agg(sum(col("n_uk")).cast("long")
        .as("n_u")).filter(col("n_u") >= 2)
      val cells = cells0.join(nu, Seq("ok"))
      val perItem = cells.groupBy("ok", "n_u")
        .agg(sum(col("n_uk") * (col("n_u") - col("n_uk"))).as("s_u"))
        .select(expr("(s_u * 1000000) div (n_u - 1)").as("d6"),
          col("n_u"))
      val tot = perItem.agg(
        sum(col("d6").cast("decimal(38,0)")).as("do6"),
        sum(col("n_u")).cast("long").as("nvals"),
        count(lit(1)).as("n_items"))
      val deNum = cells.groupBy("lab")
        .agg(sum(col("n_uk")).cast("long").as("n_k"))
        .crossJoin(broadcast(tot.select(col("nvals").as("nv"))))
        .agg(sum(col("n_k").cast("decimal(38,0)")
          * (col("nv") - col("n_k"))).as("de_num"))
      tot.crossJoin(broadcast(deNum))
        .select(col("n_items"), col("nvals").as("n_values"),
          r4d(col("do6").cast("double") / lit(1000000.0)
            / col("nvals").cast("double")).as("do_rate"),
          r4d(col("de_num").cast("double")
            / (col("nvals").cast("double")
              * (col("nvals") - 1).cast("double"))).as("de_rate"),
          r4d(lit(1.0)
            - (col("do6").cast("double") / lit(1000000.0)
                / col("nvals").cast("double"))
              / (col("de_num").cast("double")
                / (col("nvals").cast("double")
                  * (col("nvals") - 1).cast("double")))).as("alpha"))
    }),

    // RANK-BIASED OVERLAP @10 (§2.109) — how much do two rankings of
    // the SAME catalog agree, weighted toward the top (the list-
    // comparison metric search teams use where Kendall over the full
    // catalog is noise)? Rankers: parts by total quantity vs by total
    // discounted revenue (both exact decimal sums), tie-broken by
    // part key. Truncated RBO = Σ_{d=1..10} (1−p)p^{d−1}·X_d/d at
    // p = 0.9, computed EXACTLY: X_d is the integer overlap of the
    // two depth-d prefixes (a ≤10×10 join), and each weight is the
    // rational 9^{d−1}/10^d inlined as integer literals — never libm
    // pow, whose rounding is not cross-engine-pinned. The 10 per-depth
    // doubles fold over a sorted list. Shape: two global top-10s (the
    // TakeOrderedAndProject pattern) off two partial-agg reduces; the
    // depth sweep is constant-size.
    "eval_rbo_overlap" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val li = t(s, dir, "lineitem")
      def top10(m: DataFrame): DataFrame = {
        val w = Window.orderBy(col("m").desc, col("pk"))
        m.orderBy(col("m").desc, col("pk")).limit(10)
          .withColumn("rk", row_number().over(w))
          .select(col("pk"), col("rk"))
      }
      val a = top10(li.groupBy(col("l_partkey").as("pk"))
        .agg(sum(col("l_quantity")).as("m")))
      val b = top10(li.groupBy(col("l_partkey").as("pk"))
        .agg(sum(col("l_extendedprice") * (lit(1) - col("l_discount")))
          .as("m")))
      val inter = a.select(col("pk"), col("rk").as("ra"))
        .join(b.select(col("pk"), col("rk").as("rb")), Seq("pk"))
      // d, 9^{d-1}, d·10^d — the exact weight grid.
      val grid = s.range(1, 11).select(col("id").as("d"))
        .withColumn("num9", expr(
          "CASE d WHEN 1 THEN 1L WHEN 2 THEN 9L WHEN 3 THEN 81L" +
            " WHEN 4 THEN 729L WHEN 5 THEN 6561L WHEN 6 THEN 59049L" +
            " WHEN 7 THEN 531441L WHEN 8 THEN 4782969L" +
            " WHEN 9 THEN 43046721L ELSE 387420489L END"))
        .withColumn("den", col("d") * expr(
          "CASE d WHEN 1 THEN 10L WHEN 2 THEN 100L WHEN 3 THEN 1000L" +
            " WHEN 4 THEN 10000L WHEN 5 THEN 100000L" +
            " WHEN 6 THEN 1000000L WHEN 7 THEN 10000000L" +
            " WHEN 8 THEN 100000000L WHEN 9 THEN 1000000000L" +
            " ELSE 10000000000L END"))
      val xd = grid.join(inter,
          col("ra") <= col("d") && col("rb") <= col("d"), "left")
        .groupBy("d", "num9", "den").agg(count(col("pk")).as("x_d"))
      xd.agg(
          max(when(col("d") === 10, col("x_d"))).as("overlap_at_10"),
          array_sort(collect_list(
            (col("x_d") * col("num9")).cast("double")
              / col("den").cast("double"))).as("ts"))
        .select(col("overlap_at_10"),
          r4d(aggregate(col("ts"), lit(0.0), (acc, x) => acc + x))
            .as("rbo"))
    }),

    // KENDALL'S W (§2.109) — concordance among m rankers over n
    // items: do the event types agree on WHICH hours are busy? Each
    // type ranks the 24 hours by exact activity count (zero-filled
    // type×hour spine; strict total order via the hour tie-break, so
    // no tie-correction term is owed). W = 12·S/(m²(n³−n)) computed
    // through the doubled deviation 2R_i − m(n+1) so S4 = Σ(2R_i −
    // m(n+1))² stays an exact integer (S = S4/4 ⇒ W = 3·S4/(m²(n³−n))
    // — ONE double division of exact integers). Shape: one
    // (type, hour) reduce off the corpus, windows over the bounded
    // 24·|types| spine, a 24-row reduce.
    "agg_kendall_w" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val e = events(s, dir)
        .select(col("event_type").as("et"),
          expr("unix_millis(cast(ts as timestamp)) div 3600000 % 24")
            .as("hour"))
      val counts = e.groupBy("et", "hour").agg(count(lit(1)).as("c"))
      val spine = counts.select(col("et")).distinct()
        .crossJoin(s.range(0, 24).select(col("id").as("hour")))
      val ranked = spine.join(counts, Seq("et", "hour"), "left")
        .select(col("et"), col("hour"),
          coalesce(col("c"), lit(0L)).as("c"))
        .withColumn("rk", row_number().over(Window.partitionBy("et")
          .orderBy(col("c").desc, col("hour"))))
      val m = ranked.select(col("et")).distinct().count()
      val ri = ranked.groupBy("hour")
        .agg(sum(col("rk")).cast("long").as("r_i"))
      ri.agg(sum((col("r_i") * 2 - lit(m * 25L))
          * (col("r_i") * 2 - lit(m * 25L))).as("s4"),
          count(lit(1)).as("n_items"))
        .select(lit(m).as("m_raters"), col("n_items"), col("s4"),
          r4d(lit(3.0) * col("s4").cast("double")
            / lit((m * m * (24L * 24 * 24 - 24)).toDouble)).as("w"))
    }),

    // WILCOXON SIGNED-RANK (§2.112) — the paired nonparametric test
    // next to the unpaired rank machinery (auc_rank, hodges_lehmann):
    // did per-user activity SHIFT between the observation window's
    // halves? Pairs = (first-half count, second-half count) per user
    // off one corpus pass against the broadcast integer midpoint
    // (2·day < lo+hi — exact); zero differences drop per the
    // classical procedure. Ranks of |d| are EXACT integers via
    // GlobalRank.runningSum over the (|d|, user) total order — the
    // two-pass distributed prefix sum, never a single-partition
    // window — with the strict tie-break documented as the declared
    // semantic (integer |d| values tie heavily; competition order by
    // user_id replaces midranks, bit-replayably). W⁺/W⁻ are integer
    // sums; the normal-approximation z is one double chain at the
    // edge.
    // YOUDEN-J OPTIMAL THRESHOLD (§2.122) — where should the score
    // cutoff sit? Sweep eval_auc_rank's score blocks descending,
    // J(t) = TPR − FPR per block from exact cumulative integers, and
    // take the argmax (identical-double ranking, score tie-break) —
    // the operating-point picker next to the threshold-free AUC. The
    // sweep window runs over DISTINCT score values (a domain-bounded
    // table, not the corpus).
    "eval_youden_threshold" -> ((s, dir) => {
      // Round-18 (verdict #5): both cumulative counts via ONE
      // distributed prefix pass over -value (descending sweep), and
      // the argmax via orderBy+limit(1) — TakeOrderedAndProject
      // (per-partition top-1 + driver merge), never a row_number over
      // an unpartitioned window. Same total order (j desc, value asc),
      // so the winner row is identical.
      val byScore = events(s, dir)
        .select(col("value"), (col("event_type") === "purchase").as("pos"))
        .groupBy("value")
        .agg(count(lit(1)).as("n_v"), count_if(col("pos")).as("p_v"))
      val tot = byScore.agg(sum(col("p_v")).cast("long").as("np"),
        sum(col("n_v") - col("p_v")).cast("long").as("nn"))
      // The sweep runs in `value DESC` order as Spark and DuckDB sort it
      // (NaN first, nulls last) through an ascending key: the class
      // (NaN 0, number 1, null 2), then -value. -value alone would put
      // NaN last and nulls first.
      val cum = graft.plans.GlobalRank.runningSums(
          byScore
            .withColumn("vcls", when(isnan(col("value")), 0)
              .when(col("value").isNull, 2).otherwise(1))
            .withColumn("negv", -col("value"))
            .withColumn("q_v", col("n_v") - col("p_v")),
          Seq("vcls", "negv"), Seq("p_v", "q_v"), Seq("ctp", "cfp"))
        .crossJoin(broadcast(tot))
        .withColumn("j",
          col("ctp").cast("double") / col("np").cast("double")
            - col("cfp").cast("double") / col("nn").cast("double"))
      cum.orderBy(col("j").desc, col("value").asc_nulls_last)
        .limit(1)
        .select(col("value").as("threshold"), col("np").as("n_pos"),
          col("nn").as("n_neg"), col("ctp").as("tp"), col("cfp").as("fp"),
          r4d(col("ctp").cast("double") / col("np").cast("double"))
            .as("tpr"),
          r4d(col("cfp").cast("double") / col("nn").cast("double"))
            .as("fpr"),
          r4d(col("j")).as("youden_j"))
    }),

    // DELTA-METHOD RATIO CI (§2.121) — the experimentation trap done
    // right: a ratio metric (revenue per event) needs the delta
    // method because users, not events, are the randomization unit.
    // Per arm: per-user (cents, events) pairs — cents are EXACT
    // integers (value carries 2dp by fixture construction) — moments
    // in DECIMAL(38,0), R = Σx/Σy, s² = (Sxx − 2R·Sxy + R²·Syy)/(n−1),
    // se = √(s²·n)/Σy, CI = R ± 1.96·se, everything after the moments
    // one double chain per arm. Output in dollars per event.
    "agg_ratio_metric_ci" -> ((s, dir) => {
      val u = events(s, dir)
        .select((col("user_id") % 2).as("arm"), col("user_id"),
          round(col("value") * 100).cast("long").as("cents"))
        .groupBy("arm", "user_id")
        .agg(sum(col("cents")).cast("long").as("x"),
          count(lit(1)).as("y"))
      val m = u.groupBy("arm")
        .agg(count(lit(1)).as("n"),
          sum(col("x")).cast("decimal(38,0)").as("sx"),
          sum(col("y")).cast("decimal(38,0)").as("sy"),
          sum(col("x").cast("decimal(38,0)") * col("x")).as("sxx"),
          sum(col("y").cast("decimal(38,0)") * col("y")).as("syy"),
          sum(col("x").cast("decimal(38,0)") * col("y")).as("sxy"))
      m.withColumn("r", col("sx").cast("double") / col("sy").cast("double"))
        .withColumn("s2",
          (col("sxx").cast("double")
            - lit(2.0) * col("r") * col("sxy").cast("double")
            + col("r") * col("r") * col("syy").cast("double"))
          / (col("n") - 1).cast("double"))
        .withColumn("se",
          sqrt(col("s2") * col("n").cast("double"))
            / col("sy").cast("double"))
        .select(col("arm"), col("n").as("n_users"),
          r4d(col("r") / 100).as("ratio"),
          r4d((col("r") - lit(1.96) * col("se")) / 100).as("ci_lo"),
          r4d((col("r") + lit(1.96) * col("se")) / 100).as("ci_hi"))
        .orderBy("arm")
    }),

    // SAMPLE-RATIO-MISMATCH CHECK (§2.121) — the guardrail every
    // experiment platform runs before reading ANY metric: are the
    // arms actually 50/50 at the randomization unit (users)? For two
    // cells with equal expectation the chi² collapses to
    // (n₀−n₁)²/(n₀+n₁) — exact integers, one division; flagged
    // against the 1-df 95% critical value on the UNROUNDED statistic.
    "agg_srm_check" -> ((s, dir) => {
      val u = events(s, dir)
        .select(col("user_id"), (col("user_id") % 2).as("arm"))
        .distinct()
      u.groupBy("arm").agg(count(lit(1)).as("n"))
        .agg(max(when(col("arm") === 0, col("n"))).as("n0"),
          max(when(col("arm") === 1, col("n"))).as("n1"))
        .withColumn("chi0",
          ((col("n0") - col("n1")) * (col("n0") - col("n1")))
            .cast("double") / (col("n0") + col("n1")).cast("double"))
        .select(col("n0"), col("n1"), r4d(col("chi0")).as("chi2"),
          (col("chi0") > 3.841458820694124).as("srm"))
    }),

    // SRM DAILY DRIFT (§2.175) — ramp monitoring for the experiment
    // gate: agg_srm_check's sample-ratio test evaluated PER DAY over
    // daily-active users, so a mid-flight assignment bug (cache
    // poisoning, bot influx on one arm) surfaces the day it starts
    // instead of diluted into the cumulative test. The 3σ flag is
    // exact-integer: |n₀ − n/2| > 1.5√n ⟺ (2n₀ − n)² > 9n — no
    // float enters the decision. One distinct + one keyed reduce.
    "ab_srm_daily_drift" -> ((s, dir) => {
      val u = events(s, dir)
        .select(epochDay("ts").as("day"), col("user_id"),
          (col("user_id") % 2).as("arm"))
        .distinct()
      u.groupBy("day")
        .agg(count(lit(1)).as("n"),
          count_if(col("arm") === 0).as("n0"))
        .select(col("day"), col("n"), col("n0"),
          r4d(col("n0").cast("double") / col("n").cast("double"))
            .as("share_arm0"),
          ((lit(2) * col("n0") - col("n"))
            * (lit(2) * col("n0") - col("n"))
            > lit(9) * col("n")).as("srm_flag"))
        .orderBy("day")
    }),

    // PAIRWISE WIN-RATE MATRIX (§2.120) — the LLM-eval staple: for
    // every pair of "systems" (event types standing in for model
    // arms), the fraction of SHARED contexts (user, day) where A's
    // reward beats B's. Per-context reward = max(value) — an
    // order-free exact reduce, never a float sum; wins/ties/losses
    // are integer counts off one (context)-keyed equi self-join
    // (type-pair fan ≤ C(5,2) per context); win rate (2w+t)/2n is
    // one division. The matrix every A/B/n dashboard draws.
    "eval_pairwise_winrate" -> ((s, dir) => {
      val r = events(s, dir)
        .select(col("user_id"), epochDay("ts").as("day"),
          col("event_type").as("et"), col("value"))
        .groupBy("user_id", "day", "et")
        .agg(max(col("value")).as("rw"))
      val pairs = r.as("a").join(r.as("b"),
          col("a.user_id") === col("b.user_id")
            && col("a.day") === col("b.day")
            && col("a.et") < col("b.et"))
        .select(col("a.et").as("type_a"), col("b.et").as("type_b"),
          when(col("a.rw") > col("b.rw"), 1L).otherwise(0L).as("w"),
          when(col("a.rw") === col("b.rw"), 1L).otherwise(0L).as("t"))
      pairs.groupBy("type_a", "type_b")
        .agg(count(lit(1)).as("n_contexts"),
          sum(col("w")).cast("long").as("wins_a"),
          sum(col("t")).cast("long").as("ties"))
        .select(col("type_a"), col("type_b"), col("n_contexts"),
          col("wins_a"), col("ties"),
          r4d((col("wins_a") * 2 + col("ties")).cast("double")
            / (col("n_contexts") * 2).cast("double")).as("winrate_a"))
        .orderBy("type_a", "type_b")
    }),

    // COCHRAN'S Q (§2.118) — the k-related-samples extension of
    // McNemar: did per-user activity (binary) CHANGE across the
    // window's first four weeks? Q = (k−1)·Σ_j(k·C_j − T)² /
    // (k·(k·ΣR_i − ΣR_i²)) — the classical statistic rearranged so
    // every operand is an exact integer (the doubled-deviation trick
    // at multiplier k) and the only division is the last one. Shape:
    // one (user, week) distinct reduce, one user reduce, one ≤4-row
    // column reduce.
    "agg_cochran_q" -> ((s, dir) => {
      // The binary treatment is "user made a HIGH-VALUE purchase
      // (value > 95) that week" — sparse enough that the denominator
      // k·ΣR − ΣR² carries variance on the dense fixture (plain
      // weekly activity is all-ones → D = 0, Q undefined — guarded
      // below regardless).
      val e = events(s, dir)
        .filter(col("event_type") === "purchase" && col("value") > 95)
        .select(col("user_id"), epochDay("ts").as("day"))
      val lo = e.agg(min(col("day")).as("lo"))
      val uw = e.crossJoin(broadcast(lo))
        .select(col("user_id"),
          expr("(day - lo) div 7").as("w"))
        .filter(col("w") >= 0 && col("w") <= 3)
        .distinct()
      val ri = uw.groupBy("user_id").agg(count(lit(1)).as("r"))
      val riAgg = ri.agg(count(lit(1)).as("n_users"),
        sum(col("r")).cast("long").as("t"),
        sum(col("r") * col("r")).cast("long").as("rr"))
      // Left-join the full four-week spine so a week with ZERO
      // qualifying users still contributes its (0 − T)² = T² term —
      // the sum runs over all k columns, present or not.
      val cj = s.range(0, 4).toDF("w")
        .join(uw.groupBy("w").agg(count(lit(1)).as("c0")),
          Seq("w"), "left")
        .select(col("w"), coalesce(col("c0"), lit(0L)).as("c"))
      cj.crossJoin(broadcast(riAgg))
        .select(col("n_users"), col("t"), col("rr"),
          ((lit(4L) * col("c") - col("t"))
            * (lit(4L) * col("c") - col("t"))).as("dev2"))
        .groupBy("n_users", "t", "rr")
        .agg(sum(col("dev2")).cast("long").as("sdev2"))
        .select(col("n_users"), col("t"),
          (lit(4L) * col("t") - col("rr")).as("d_base"),
          when(lit(4L) * col("t") - col("rr") > 0,
            r4d(lit(3.0) * col("sdev2").cast("double")
              / (lit(4.0) * (lit(4L) * col("t") - col("rr"))
                .cast("double")))).as("q"))
    }),

    // LOG-RANK TEST (§2.137) — the standard censoring-aware
    // comparison of two survival curves (agg_survival_curve draws
    // them; this says whether the arms DIFFER): time-to-first-
    // purchase from each user's first event, censored at the window
    // edge, user-parity arms. At each event time the O−E and
    // variance terms are rationals over bounded integers, so each is
    // floor-snapped to 10⁻⁶-unit BIGINTs (identical IEEE chain both
    // engines) and only integers are summed across the BOUNDED
    // distinct-time spine; χ² = (ΣO−ΣE)²/ΣV is one edge chain.
    // At-risk counts come from exclusive cumulative removals over
    // the spine — no per-user scan per time point.
    "agg_logrank_test" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val ev = events(s, dir)
        .select(col("user_id"), col("event_type"),
          epochDay("ts").as("day"))
      val fe = ev.groupBy("user_id").agg(min(col("day")).as("fe"))
      val fp = ev.filter(col("event_type") === "purchase")
        .groupBy("user_id").agg(min(col("day")).as("fp"))
      val mx = ev.agg(max(col("day")).as("maxd"))
      val u = fe.join(fp, Seq("user_id"), "left")
        .crossJoin(broadcast(mx))
        .select((col("user_id") % 2).as("arm"),
          when(col("fp").isNotNull, col("fp") - col("fe"))
            .otherwise(col("maxd") - col("fe")).as("tte"),
          when(col("fp").isNotNull, 1L).otherwise(0L).as("ev"))
      val rem = u.groupBy("arm", "tte").agg(count(lit(1)).as("nrem"),
        sum(col("ev")).cast("long").as("d"))
      val spine = u.select("tte").distinct()
        .crossJoin(s.range(0, 2).toDF("arm"))
      val cell = spine.join(rem, Seq("arm", "tte"), "left")
        .select(col("arm"), col("tte"),
          coalesce(col("nrem"), lit(0L)).as("nrem"),
          coalesce(col("d"), lit(0L)).as("d"))
      val wcum = Window.partitionBy("arm").orderBy("tte")
        .rowsBetween(Window.unboundedPreceding, -1)
      val na = u.groupBy("arm").agg(count(lit(1)).as("ntot"))
      val risk = cell
        .withColumn("cumrem",
          coalesce(sum(col("nrem")).over(wcum), lit(0L)))
        .join(na, Seq("arm"))
        .withColumn("natrisk", col("ntot") - col("cumrem"))
      val tt = risk.groupBy("tte").agg(
          max(when(col("arm") === 0, col("d"))).as("d0"),
          max(when(col("arm") === 1, col("d"))).as("d1"),
          max(when(col("arm") === 0, col("natrisk"))).as("n0"),
          max(when(col("arm") === 1, col("natrisk"))).as("n1"))
        .withColumn("d", col("d0") + col("d1"))
        .withColumn("n", col("n0") + col("n1"))
        .filter(col("d") > 0 && col("n") > 1)
      val terms = tt.select(col("d0"), col("d1"),
        floor(col("d").cast("double") * col("n0").cast("double")
          / col("n").cast("double") * lit(1.0e6)).cast("long")
          .as("e6"),
        floor(col("d").cast("double")
          * (col("n0").cast("double") / col("n").cast("double"))
          * (col("n1").cast("double") / col("n").cast("double"))
          * ((col("n") - col("d")).cast("double")
            / (col("n") - 1).cast("double"))
          * lit(1.0e6)).cast("long").as("v6"))
      val ag = terms.agg(sum(col("d0")).cast("long").as("o0"),
        sum(col("d1")).cast("long").as("o1"),
        sum(col("e6")).cast("long").as("se6"),
        sum(col("v6")).cast("long").as("sv6"))
      val nap = na.agg(
        max(when(col("arm") === 0, col("ntot"))).as("n_arm0"),
        max(when(col("arm") === 1, col("ntot"))).as("n_arm1"))
      ag.crossJoin(broadcast(nap))
        .select(col("n_arm0"), col("n_arm1"),
          col("o0").as("events0"), col("o1").as("events1"),
          r4d((col("o0").cast("double")
              - col("se6").cast("double") / lit(1.0e6))
            * (col("o0").cast("double")
              - col("se6").cast("double") / lit(1.0e6))
            / (col("sv6").cast("double") / lit(1.0e6))).as("chi2"))
    }),

    // PARTIAL CORRELATION (§2.146) — does value track hour AFTER
    // controlling for weekday: r_xy·z = (r_xy − r_xz·r_zy)/
    // √((1−r_xz²)(1−r_zy²)) from the three pairwise Pearson r's —
    // the confounder-aware companion to agg_corr_value_hour. All
    // nine moments are exact DECIMAL(38,0) integers off ONE corpus
    // reduce (x = cents, y = hour, z = dow — all integers); the
    // three r's and the partial are one spelled double chain.
    "agg_partial_corr" -> ((s, dir) => {
      val e = events(s, dir).select(
        round(col("value") * 100).cast("long").as("x"),
        expr("unix_millis(cast(ts as timestamp)) div 3600000 % 24")
          .as("y"),
        (epochDay("ts") % 7).as("z"))
      def d(c: String) = col(c).cast("decimal(38,0)")
      val m = e.agg(count(lit(1)).as("n"),
        sum(d("x")).as("sx"), sum(d("y")).as("sy"), sum(d("z")).as("sz"),
        sum(d("x") * col("x")).as("sxx"),
        sum(d("y") * col("y")).as("syy"),
        sum(d("z") * col("z")).as("szz"),
        sum(d("x") * col("y")).as("sxy"),
        sum(d("x") * col("z")).as("sxz"),
        sum(d("y") * col("z")).as("syz"))
      def r(sab: String, sa: String, sb: String, saa: String,
          sbb: String) =
        ((col("n").cast("decimal(38,0)") * col(sab))
          - (col(sa) * col(sb))).cast("double") /
          sqrt(((col("n").cast("decimal(38,0)") * col(saa))
            - (col(sa) * col(sa))).cast("double")
            * ((col("n").cast("decimal(38,0)") * col(sbb))
              - (col(sb) * col(sb))).cast("double"))
      val rxy = r("sxy", "sx", "sy", "sxx", "syy")
      val rxz = r("sxz", "sx", "sz", "sxx", "szz")
      val rzy = r("syz", "sy", "sz", "syy", "szz")
      m.select(col("n").as("n_events"),
        r4d(rxy).as("r_xy"), r4d(rxz).as("r_xz"), r4d(rzy).as("r_zy"),
        r4d((rxy - rxz * rzy)
          / sqrt((lit(1.0) - rxz * rxz) * (lit(1.0) - rzy * rzy)))
          .as("r_xy_given_z"))
    }),

    // CONDITIONAL ENTROPY / INFORMATION GAIN (§2.146) — how much
    // does knowing the weekday tell you about the event-type mix:
    // IG = H(type) − H(type|dow). Probabilities are exact rationals
    // over the BOUNDED |types|×7 cell table; each p·ln p term is
    // floor-snapped to 10⁻⁹ nats (the mld ln convention) before the
    // ≤42-term integer sums, so no raw-double sum exists; the two
    // entropies and the gain are one edge chain.
    "agg_entropy_conditional" -> ((s, dir) => {
      val e = events(s, dir)
        .select(col("event_type"), (epochDay("ts") % 7).as("dow"))
      val cell = e.groupBy("event_type", "dow")
        .agg(count(lit(1)).as("c"))
      val nTot = cell.agg(sum(col("c")).cast("long").as("nn"))
      // H(type): marginal counts; term = −(ct/N)·ln(ct/N).
      val ht = cell.groupBy("event_type")
        .agg(sum(col("c")).cast("long").as("ct"))
        .crossJoin(broadcast(nTot))
        .select(floor(-(col("ct").cast("double")
          / col("nn").cast("double"))
          * log(col("ct").cast("double") / col("nn").cast("double"))
          * lit(1.0e9)).cast("long").as("t9"))
        .agg(sum(col("t9")).cast("long").as("h9"))
        .select(col("h9").as("ht9"))
      // H(type|dow) = Σ_d (nd/N)·H(type|d) = Σ_cells −(c/N)·ln(c/nd).
      val nd = cell.groupBy("dow").agg(sum(col("c")).cast("long").as("cd"))
      val hc = cell.join(nd, Seq("dow")).crossJoin(broadcast(nTot))
        .select(floor(-(col("c").cast("double")
          / col("nn").cast("double"))
          * log(col("c").cast("double") / col("cd").cast("double"))
          * lit(1.0e9)).cast("long").as("t9"))
        .agg(sum(col("t9")).cast("long").as("hc9"))
      ht.crossJoin(hc)
        .select(r4d(col("ht9").cast("double") / lit(1.0e9)).as("h_type"),
          r4d(col("hc9").cast("double") / lit(1.0e9)).as("h_type_given_dow"),
          r4d((col("ht9") - col("hc9")).cast("double") / lit(1.0e9))
            .as("info_gain"))
    }),

    // COCHRAN-ARMITAGE TREND (§2.145) — does conversion rate TREND
    // across an ORDERED factor (weekday 0..6), which the unordered
    // χ² can't see? T = Σsᵢ(aᵢ − nᵢ·A/N) with scores sᵢ = i;
    // z = T/√(p̄(1−p̄)·(Σnᵢsᵢ² − (Σnᵢsᵢ)²/N)). All moments exact
    // integers off one (dow)-reduce; the variance's inner term is
    // assembled in DECIMAL(38,0) as N·Σns² − (Σns)² over N, one
    // truncating division, and the z is one edge chain.
    "ab_cochran_armitage_trend" -> ((s, dir) => {
      val e = events(s, dir)
        .select((epochDay("ts") % 7).as("sc"),
          when(col("event_type") === "purchase", 1L).otherwise(0L)
            .as("conv"))
      val g = e.groupBy("sc").agg(count(lit(1)).as("n"),
        sum(col("conv")).cast("long").as("a"))
      val m = g.agg(sum(col("n")).cast("long").as("nn"),
        sum(col("a")).cast("long").as("aa"),
        sum(col("sc").cast("decimal(38,0)") * col("a"))
          .cast("decimal(38,0)").as("sa"),
        sum(col("sc").cast("decimal(38,0)") * col("n"))
          .cast("decimal(38,0)").as("sn"),
        sum(col("sc").cast("decimal(38,0)") * col("sc") * col("n"))
          .cast("decimal(38,0)").as("sn2"))
      // T·N = N·Σs·a − A·Σs·n (exact); var inner = Σns² − (Σns)²/N
      // → N·inner = N·Σns² − (Σns)² (exact).
      m.select(col("nn").as("n_events"), col("aa").as("n_conv"),
        r4d(((col("nn").cast("decimal(38,0)") * col("sa")
            - col("aa").cast("decimal(38,0)") * col("sn"))
          .cast("double") / col("nn").cast("double"))
          / sqrt((col("aa").cast("double") / col("nn").cast("double"))
            * (lit(1.0) - col("aa").cast("double")
              / col("nn").cast("double"))
            * ((col("nn").cast("decimal(38,0)") * col("sn2")
              - col("sn") * col("sn")).cast("double")
              / col("nn").cast("double")))).as("z"))
    }),

    // MOOD'S MEDIAN TEST (§2.144) — the coarsest, most
    // outlier-proof k-group location test (counts above/below the
    // GRAND median per event type, then the 2×k χ²): the member
    // that stays valid when even Kruskal-Wallis's rank assumptions
    // wobble. The grand median is a percentile_disc order statistic
    // over cents (CAST AS BIGINT per the §1.3 rule); the χ² with
    // E = rowtot·coltot/N is assembled from exact integers with the
    // per-cell term floor-snapped to 10⁻⁶ before the cross-cell sum
    // (2k bounded cells). Ties at the median go BELOW (≤ median),
    // the classical convention, identically on both sides.
    "agg_median_test" -> ((s, dir) => {
      val e = events(s, dir)
        .select(col("event_type"),
          round(col("value") * 100).cast("long").as("cents"))
      e.createOrReplaceTempView("mt_e")
      val med = s.sql("""SELECT CAST(percentile_disc(0.5)
        | WITHIN GROUP (ORDER BY cents) AS BIGINT) AS med
        |FROM mt_e""".stripMargin)
      val cell = e.crossJoin(broadcast(med))
        .groupBy("event_type")
        .agg(count_if(col("cents") > col("med")).as("n_above"),
          count_if(col("cents") <= col("med")).as("n_below"))
      val tot = cell.agg(sum(col("n_above")).cast("long").as("ta"),
        sum(col("n_below")).cast("long").as("tb"))
      val terms = cell.crossJoin(broadcast(tot))
        .withColumn("nn", col("ta") + col("tb"))
        .select(col("event_type"), col("n_above"), col("n_below"),
          (floor((col("n_above").cast("double")
            - (col("n_above") + col("n_below")).cast("double")
              * col("ta").cast("double") / col("nn").cast("double"))
            * (col("n_above").cast("double")
              - (col("n_above") + col("n_below")).cast("double")
                * col("ta").cast("double") / col("nn").cast("double"))
            / ((col("n_above") + col("n_below")).cast("double")
              * col("ta").cast("double") / col("nn").cast("double"))
            * lit(1.0e6))
            + floor((col("n_below").cast("double")
              - (col("n_above") + col("n_below")).cast("double")
                * col("tb").cast("double") / col("nn").cast("double"))
              * (col("n_below").cast("double")
                - (col("n_above") + col("n_below")).cast("double")
                  * col("tb").cast("double") / col("nn").cast("double"))
              / ((col("n_above") + col("n_below")).cast("double")
                * col("tb").cast("double") / col("nn").cast("double"))
              * lit(1.0e6))).cast("long").as("t6"))
      val k = terms.agg(count(lit(1)).as("k"),
        sum(col("t6")).cast("long").as("st6"))
      k.select(col("k"), (col("k") - 1).as("df"),
        r4d(col("st6").cast("double") / lit(1.0e6)).as("chi2"))
    }),

    // ONE-SAMPLE T (§2.143) — the simplest member the test family
    // skipped: is mean purchase value different from the spelled
    // reference μ₀ = 10000 cents, per event type? t =
    // (x̄−μ₀)/(s/√n) from the exact n·Σx²−(Σx)² DECIMAL(38,0)
    // numerators; one double chain per group, degenerate groups →
    // NULL by the exact integer variance test.
    "agg_ttest_one_sample" -> ((s, dir) => {
      val e = events(s, dir)
        .select(col("event_type"),
          round(col("value") * 100).cast("long").as("cents"))
      val g = e.groupBy("event_type").agg(count(lit(1)).as("n"),
        sum(col("cents").cast("decimal(38,0)")).as("sx"),
        sum(col("cents").cast("decimal(38,0)") * col("cents"))
          .as("sxx"))
      val vnum = (col("n").cast("decimal(38,0)") * col("sxx")) -
        (col("sx") * col("sx"))
      val vden = col("n").cast("decimal(38,0)") * (col("n") - 1)
      g.select(col("event_type"), col("n"),
          r4d(col("sx").cast("double") / col("n").cast("double"))
            .as("mean_cents"),
          when(col("n") > 1 && vnum > 0,
            r4d((col("sx").cast("double") / col("n").cast("double")
                - lit(10000.0))
              / sqrt(vnum.cast("double") / vden.cast("double")
                / col("n").cast("double")))).as("t"))
        .orderBy("event_type")
    }),

    // REGRESSION METRICS, HOUR-MODEL (§2.141) — the regression-eval
    // face the metric family lacked (AUC/F1/ECE grade classifiers;
    // nothing graded a VALUE predictor): evaluate the per-hour-mean
    // model ŷ = mean(value | hour) with MAE/RMSE/R². Exactness: the
    // group-mean model's SSE has the closed form Σ_h (nQ_h − S_h²)/n_h
    // and the MAE numerator Σ|n_h·y − S_h| is an exact per-row
    // integer — each hour's term carries ONE truncating division
    // (quantization ≤ 1 cent²/hour, deterministic both engines), so
    // the cross-hour sums are integer sums; the three metrics are
    // one edge chain. Two corpus passes (moments, then |residual|
    // against the broadcast 24-row model).
    "eval_regression_hour_model" -> ((s, dir) => {
      val e = events(s, dir)
        .select(expr("unix_millis(cast(ts as timestamp))" +
          " div 3600000 % 24").as("hour"),
          round(col("value") * 100).cast("long").as("cents"))
      val hr = e.groupBy("hour").agg(count(lit(1)).as("n"),
        sum(col("cents").cast("decimal(38,0)")).as("s"),
        sum(col("cents").cast("decimal(38,0)") * col("cents")).as("q"))
      val madnum = e.join(broadcast(hr), Seq("hour"))
        .groupBy("hour")
        .agg(sum(abs(col("n").cast("decimal(38,0)") * col("cents")
          - col("s"))).cast("decimal(38,0)").as("mn"))
      val terms = hr.join(madnum, Seq("hour"))
        .select(col("n"),
          expr("CAST((n * q - s * s) div n AS BIGINT)").as("sse0"),
          expr("CAST(mn div n AS BIGINT)").as("mad0"))
      val g = terms.agg(sum(col("n")).cast("long").as("nn"),
        sum(col("sse0")).cast("decimal(38,0)").as("sse"),
        sum(col("mad0")).cast("decimal(38,0)").as("mad"))
      val tot = e.agg(count(lit(1)).as("n2"),
        sum(col("cents").cast("decimal(38,0)")).as("st"),
        sum(col("cents").cast("decimal(38,0)") * col("cents"))
          .as("qt"))
      g.crossJoin(broadcast(tot))
        .select(col("nn").as("n_events"),
          r4d(col("mad").cast("double") / col("nn").cast("double"))
            .as("mae_cents"),
          r4d(sqrt(col("sse").cast("double") / col("nn").cast("double")))
            .as("rmse_cents"),
          r4d(lit(1.0) - col("sse").cast("double")
            / expr("CAST((n2 * qt - st * st) div n2 AS BIGINT)")
              .cast("double")).as("r2"))
    }),

    // ODDS RATIO + WOOLF CI (§2.140) — the effect-size companion to
    // agg_two_proportion_z's significance answer: OR = ad/bc between
    // the user-parity arms' conversion 2×2, with the Woolf interval
    // exp(ln OR ± 1.96·√(1/a+1/b+1/c+1/d)). Counts exact off one
    // reduce; ln/exp run once each at the single-row edge under r4d
    // (the mean-log-deviation edge convention — per-row libm never
    // sums). Any empty cell → NULL (the classical undefined case).
    "ab_odds_ratio_ci" -> ((s, dir) => {
      val e = events(s, dir)
        .groupBy((col("user_id") % 2).as("arm"), col("user_id"))
        .agg(max(when(col("event_type") === "purchase", 1L)
          .otherwise(0L)).as("conv"))
      val piv = e.groupBy("arm")
        .agg(count_if(col("conv") === 1).as("c"),
          count_if(col("conv") === 0).as("nc"))
        .agg(max(when(col("arm") === 0, col("c"))).as("a"),
          max(when(col("arm") === 0, col("nc"))).as("b"),
          max(when(col("arm") === 1, col("c"))).as("cc"),
          max(when(col("arm") === 1, col("nc"))).as("d"))
      val or = (col("a").cast("double") * col("d").cast("double")) /
        (col("b").cast("double") * col("cc").cast("double"))
      val se = sqrt(lit(1.0) / col("a").cast("double")
        + lit(1.0) / col("b").cast("double")
        + lit(1.0) / col("cc").cast("double")
        + lit(1.0) / col("d").cast("double"))
      val ok = col("a") > 0 && col("b") > 0 && col("cc") > 0 &&
        col("d") > 0
      piv.select(col("a"), col("b"), col("cc").as("c"), col("d"),
        when(ok, r4d(or)).as("odds_ratio"),
        when(ok, r4d(exp(log(or) - lit(1.96) * se))).as("ci_lo"),
        when(ok, r4d(exp(log(or) + lit(1.96) * se))).as("ci_hi"))
    }),

    // NEGATIVE-BINOMIAL FIT (§2.160) — count models: per event type,
    // the method-of-moments NB fit of per-user event counts over the
    // ZERO-FILLED user panel (users who never did the thing are the
    // point of overdispersion modeling): dispersion D = σ²/μ, and
    // for D > 1 the NB parameters r = μ²/(σ² − μ), p = μ/σ² — the
    // "is Poisson wrong here" answer that decides rate-limit and
    // anomaly thresholds. μ, σ² from exact decimal moments
    // (population form); under-dispersed types emit NULL r/p by the
    // exact integer test n·Σc² − S² ≤ n·S.
    "agg_negative_binomial_fit" -> ((s, dir) => {
      val e = events(s, dir).select(col("user_id"), col("event_type"))
      val panel = e.select(col("user_id")).distinct()
        .crossJoin(e.select(col("event_type")).distinct())
        .join(e.groupBy("user_id", "event_type")
          .agg(count(lit(1)).as("c")),
          Seq("user_id", "event_type"), "left")
        .select(col("event_type"), coalesce(col("c"), lit(0L)).as("c"))
      val a = panel.groupBy("event_type")
        .agg(count(lit(1)).as("n"),
          sum(col("c").cast("decimal(38,0)")).as("s1"),
          sum((col("c") * col("c")).cast("decimal(38,0)")).as("s2"))
      val mu = col("s1").cast("double") / col("n").cast("double")
      val v = ((col("n").cast("decimal(38,0)") * col("s2")
        - col("s1") * col("s1")).cast("double")
        / (col("n") * col("n")).cast("double"))
      val over = (col("n").cast("decimal(38,0)") * col("s2")
        - col("s1") * col("s1")) > (col("n").cast("decimal(38,0)")
        * col("s1"))
      a.filter(col("n") > 1 && col("s1") > 0)
        .select(col("event_type"), col("n").as("n_users"),
          r4d(mu).as("mean_per_user"),
          r4d(v).as("var_per_user"),
          r4d(v / mu).as("dispersion"),
          when(over, r4d(mu * mu / (v - mu))).as("nb_r"),
          when(over, r4d(mu / v)).as("nb_p"))
        .orderBy("event_type")
    }),

    // BENFORD FIRST-TWO DIGITS (§2.163) — the forensic-accounting
    // second pass: the two-leading-digit law P(d) = log₁₀(1 + 1/d),
    // d ∈ 10..99, over order cents — far more sensitive to invented
    // numbers than the first digit alone (the standard escalation
    // when agg_benford_digits looks borderline). Exact integer digit
    // extraction (string prefix of the cent value ≥ 10), one reduce,
    // a 90-row output joined to a generated digit spine so absent
    // digits report 0, not a missing row.
    "agg_benford_first_two" -> ((s, dir) => {
      val d = t(s, dir, "orders")
        .select(round(col("o_totalprice") * 100).cast("long").as("c"))
        .filter(col("c") >= 10)
        .select(substring(col("c").cast("string"), 1, 2).cast("long")
          .as("d2"))
        .groupBy("d2").agg(count(lit(1)).as("n"))
      val spine = s.range(10, 100).select(col("id").as("d2"))
      val tot = d.agg(sum(col("n")).cast("long").as("ntot"))
      spine.join(d, Seq("d2"), "left")
        .crossJoin(broadcast(tot))
        .select(col("d2"), coalesce(col("n"), lit(0L)).as("n"),
          r4d(coalesce(col("n"), lit(0L)).cast("double")
            / col("ntot").cast("double")).as("share"),
          r4d(log10(lit(1.0) + lit(1.0) / col("d2").cast("double")))
            .as("benford"),
          r4d(coalesce(col("n"), lit(0L)).cast("double")
            / col("ntot").cast("double")
            - log10(lit(1.0) + lit(1.0) / col("d2").cast("double")))
            .as("excess"))
        .orderBy("d2")
    }),

    // SELECTIVE RISK / COVERAGE (§2.167) — the abstention curve
    // every human-in-the-loop deployment tunes: predict only when
    // the score is CONFIDENT (|p − ½| > δ, predicting positive when
    // p > ½), abstain otherwise; report coverage and the error rate
    // AMONG predictions at δ ∈ {0.1, 0.2, 0.3, 0.4} — the
    // risk-coverage trade-off (El-Yaniv & Wiener's selective risk),
    // which no single-threshold key expresses (confidence is
    // two-sided). Exact integer cells on the cents grid (|2c − N|
    // > 2δN cross-multiplied — no float confidence), one pass over
    // a broadcast 4-row δ spine.
    "eval_selective_risk" -> ((s, dir) => {
      val e = events(s, dir).select(
        least(round(col("value") * 100).cast("long"), lit(20000L))
          .as("c"),
        (col("event_type") === "purchase").as("pos"))
      val ds = s.range(1, 5).select((col("id") * 2000L).as("d2"))
      e.crossJoin(broadcast(ds))
        .withColumn("covered",
          abs(lit(2L) * col("c") - lit(20000L)) > lit(2L) * col("d2"))
        .withColumn("pred_pos", col("c") > lit(10000L))
        .groupBy("d2")
        .agg(count(lit(1)).as("n"),
          count_if(col("covered")).as("n_covered"),
          count_if(col("covered")
            && (col("pred_pos") =!= col("pos"))).as("n_errors"))
        .select(r4d(col("d2").cast("double") / lit(20000.0))
            .as("delta"),
          col("n"), col("n_covered"), col("n_errors"),
          r4d(col("n_covered").cast("double") / col("n").cast("double"))
            .as("coverage"),
          when(col("n_covered") > 0,
            r4d(col("n_errors").cast("double")
              / col("n_covered").cast("double"))).as("selective_risk"))
        .orderBy("delta")
    }),

    // F1-OPTIMAL THRESHOLD (§2.162) — the F1-argmax operating point
    // over the FULL distinct-score grid: eval_youden_threshold picks
    // the J = TPR − FPR optimum (balanced-error), this picks the
    // precision/recall harmonic optimum — the cut an imbalanced
    // alerting pipeline actually deploys, and a grid scan rather
    // than eval_confusion_binary's 9-point table. Confusion cells
    // come from cumulative window counts over the per-cent
    // aggregation (one exchange, ≤ |distinct cents| rows); F1 per
    // cut is one rational of exact integers; the argmax takes the
    // (f1 desc, threshold asc) total order — F1 values are
    // identical doubles in both engines, so the winner row is too.
    // DISTRIBUTION OVERLAP (§2.181) — the overlap coefficient
    // OVL = Σ min(p_i, q_i) between the purchase and non-purchase
    // score histograms (20 fixed bins, the hist_values device):
    // the separability number that complements AUC (rank-based) and
    // KS (max gap) with the literal shared probability mass — 1 =
    // indistinguishable, 0 = separable. Bin mins cross-multiply to
    // exact decimal integers (min(c₁ᵢn₂, c₂ᵢn₁)) so ONE division
    // runs at the edge; two keyed reduces over the bounded bin grid.
    "eval_distribution_overlap" -> ((s, dir) => {
      val D0 = "decimal(38,0)"
      val e = events(s, dir).select(
        least(greatest(floor(col("value") / 10.0), lit(0.0)),
          lit(19.0)).cast("long").as("bucket"),
        (col("event_type") === "purchase").as("pos"))
      val b = e.groupBy("bucket")
        .agg(count_if(col("pos")).as("c1"),
          count_if(!col("pos")).as("c2"))
      val tot = e.agg(count_if(col("pos")).as("n1"),
        count_if(!col("pos")).as("n2"))
      b.crossJoin(broadcast(tot))
        .select(least(col("c1").cast(D0) * col("n2"),
          col("c2").cast(D0) * col("n1")).as("m"),
          col("n1"), col("n2"))
        .groupBy("n1", "n2")
        .agg(sum(col("m")).as("sm"))
        .select(col("n1").as("n_pos"), col("n2").as("n_neg"),
          r4d(col("sm").cast("double")
            / (col("n1").cast(D0) * col("n2")).cast("double"))
            .as("overlap"),
          r4d(lit(1.0) - col("sm").cast("double")
            / (col("n1").cast(D0) * col("n2")).cast("double"))
            .as("separation"))
    }),

    // RESIDUAL PROFILE BY HOUR (§2.178) — the heteroscedasticity
    // readout behind eval_regression_hour_model's pooled MAE/RMSE:
    // the hour-mean model's per-hour error profile, so a monitoring
    // stack sees WHICH hours the model is noisy in (pooled metrics
    // hide a 3 am error spike). Same exact decimal(38,0) integer
    // moments per hour — n·q − s² and Σ|n·c − s| stay integers until
    // the final divisions; one broadcast join + two keyed reduces.
    "eval_residual_profile_by_hour" -> ((s, dir) => {
      val e = events(s, dir)
        .select(expr("unix_millis(cast(ts as timestamp))" +
          " div 3600000 % 24").as("hour"),
          round(col("value") * 100).cast("long").as("cents"))
      val hr = e.groupBy("hour").agg(count(lit(1)).as("n"),
        sum(col("cents").cast("decimal(38,0)")).as("s"),
        sum(col("cents").cast("decimal(38,0)") * col("cents")).as("q"))
      val madnum = e.join(broadcast(hr), Seq("hour"))
        .groupBy("hour")
        .agg(sum(abs(col("n").cast("decimal(38,0)") * col("cents")
          - col("s"))).cast("decimal(38,0)").as("mn"))
      hr.join(madnum, Seq("hour"))
        .select(col("hour"), col("n"),
          r4d(col("mn").cast("double")
            / (col("n").cast("double") * col("n").cast("double")))
            .as("mae_cents"),
          r4d(sqrt((col("n").cast("decimal(38,0)") * col("q")
            - col("s") * col("s")).cast("double")
            / (col("n").cast("double") * col("n").cast("double"))))
            .as("rmse_cents"))
        .orderBy("hour")
    }),

    // PRECISION AT RECALL TARGET (§2.182) — the deployment
    // operating-point picker: among thresholds whose recall is at
    // least 80% (exact integer test 5·tp ≥ 4·p_total — no float in
    // the constraint), the one with maximum precision (argmax under
    // the exact cross-multiplied precision order, ties to the lower
    // threshold). The recall-floor counterpart of
    // eval_f1_optimal_threshold (joint max) and eval_youden_threshold
    // (rate gap); same bounded cumulative sweep.
    "eval_precision_at_recall" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val e = events(s, dir).select(
        round(col("value") * 100).cast("long").as("c"),
        (col("event_type") === "purchase").as("pos"))
      val byC = e.groupBy("c")
        .agg(count_if(col("pos")).as("np"),
          count_if(!col("pos")).as("nn"))
      // Round-18 (verdict #5): distributed prefix sums + TakeOrdered
      // argmax — see eval_youden_threshold.
      val cum = graft.plans.GlobalRank.runningSums(
        byC.withColumn("negc", -col("c")),
        Seq("negc"), Seq("np", "nn"), Seq("tp", "fp"))
      val tot = e.agg(count_if(col("pos")).as("ptot"))
      val ok = cum.crossJoin(broadcast(tot))
        .filter(col("tp") * 5 >= col("ptot") * 4)
        .withColumn("prec", col("tp").cast("double")
          / (col("tp") + col("fp")).cast("double"))
      ok.orderBy(col("prec").desc, col("c"))
        .limit(1)
        .select(col("c").as("thr_cents"), col("tp"), col("fp"),
          (col("ptot") - col("tp")).as("fn"),
          r4d(col("prec")).as("precision"),
          r4d(col("tp").cast("double") / col("ptot").cast("double"))
            .as("recall"))
    }),

    // THRESHOLD STABILITY (§2.178) — does the F1-optimal threshold
    // survive a data split? eval_f1_optimal_threshold's argmax sweep
    // run independently on the user_id-parity halves; a large gap
    // between the two optima means the "optimal" threshold is noise
    // (the threshold-overfit check every deployment gate needs).
    // Same bounded cumulative sweep per half; the gap is an exact
    // integer cent difference.
    "eval_threshold_stability" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      def best(half: DataFrame, thr: String, f1n: String) = {
        val byC = half.groupBy("c")
          .agg(count_if(col("pos")).as("np"),
            count_if(!col("pos")).as("nn"))
        // Round-18 (verdict #5): distributed prefix sums + TakeOrdered
        // argmax — see eval_youden_threshold.
        val cum = graft.plans.GlobalRank.runningSums(
          byC.withColumn("negc", -col("c")),
          Seq("negc"), Seq("np", "nn"), Seq("tp", "fp"))
        val tot = half.agg(count_if(col("pos")).as("ptot"))
        val f1 = cum.crossJoin(broadcast(tot))
          .select(col("c"),
            ((lit(2L) * col("tp")).cast("double")
              / (lit(2L) * col("tp") + col("fp") + col("ptot")
                - col("tp")).cast("double")).as("f1"))
        f1.orderBy(col("f1").desc, col("c"))
          .limit(1)
          .select(col("c").as(thr), r4d(col("f1")).as(f1n))
      }
      val e = events(s, dir).select(
        round(col("value") * 100).cast("long").as("c"),
        (col("event_type") === "purchase").as("pos"),
        (col("user_id") % 2).as("half"))
      best(e.filter(col("half") === 0), "thr_even", "f1_even")
        .crossJoin(best(e.filter(col("half") === 1),
          "thr_odd", "f1_odd"))
        .select(col("thr_even"), col("f1_even"), col("thr_odd"),
          col("f1_odd"),
          abs(col("thr_even") - col("thr_odd")).as("thr_gap_cents"))
    }),

    "eval_f1_optimal_threshold" -> ((s, dir) => {
      val e = events(s, dir).select(
        round(col("value") * 100).cast("long").as("c"),
        (col("event_type") === "purchase").as("pos"))
      val byC = e.groupBy("c")
        .agg(count_if(col("pos")).as("np"),
          count_if(!col("pos")).as("nn"))
      // Round-18 (verdict #5): distributed prefix sums + TakeOrdered
      // argmax — see eval_youden_threshold.
      val cum = graft.plans.GlobalRank.runningSums(
        byC.withColumn("negc", -col("c")),
        Seq("negc"), Seq("np", "nn"), Seq("tp", "fp"))
      val tot = e.agg(count_if(col("pos")).as("ptot"))
      val f1 = cum.crossJoin(broadcast(tot))
        .select(col("c").as("thr_cents"), col("tp"), col("fp"),
          (col("ptot") - col("tp")).as("fn"),
          ((lit(2L) * col("tp")).cast("double")
            / (lit(2L) * col("tp") + col("fp") + col("ptot")
              - col("tp")).cast("double")).as("f1"))
      f1.orderBy(col("f1").desc, col("thr_cents"))
        .limit(1)
        .select(col("thr_cents"), col("tp"), col("fp"), col("fn"),
          r4d(col("tp").cast("double")
            / (col("tp") + col("fp")).cast("double")).as("precision"),
          r4d(col("tp").cast("double")
            / (col("tp") + col("fn")).cast("double")).as("recall"),
          r4d(col("f1")).as("f1_max"))
    }),

    // CALIBRATION SLOPE / INTERCEPT (§2.160) — the two-parameter
    // linear recalibration summary next to eval_calibration_bins'
    // per-bin table and eval_ece's scalar: OLS of the binary outcome
    // on the predicted probability (value/200, the bins key's
    // mapping) — slope 1, intercept 0 ⟺ calibrated; slope < 1 ⟺
    // overconfident. Closed form from exact decimal moments on the
    // integer cents grid (Σxy = Σ_{pos} x is an exact integer sum);
    // the /200 mapping folds into the slope at the edge.
    "eval_calibration_slope" -> ((s, dir) => {
      val e = events(s, dir).select(
        least(round(col("value") * 100).cast("long"), lit(20000L))
          .as("x"),
        when(col("event_type") === "purchase", 1L).otherwise(0L)
          .as("y"))
      val a = e.groupBy()
        .agg(count(lit(1)).as("n"),
          sum(col("x").cast("decimal(38,0)")).as("sx"),
          sum(col("y").cast("decimal(38,0)")).as("sy"),
          sum((col("x") * col("x")).cast("decimal(38,0)")).as("sxx"),
          sum((col("x") * col("y")).cast("decimal(38,0)")).as("sxy"))
      val num = (col("n").cast("decimal(38,0)") * col("sxy")
        - col("sx") * col("sy")).cast("double")
      val den = (col("n").cast("decimal(38,0)") * col("sxx")
        - col("sx") * col("sx")).cast("double")
      a.filter(col("n") > 1
          && col("n").cast("decimal(38,0)") * col("sxx")
            > col("sx") * col("sx"))
        .select(col("n"),
          r4d(num / den * lit(20000.0)).as("calibration_slope"),
          r4d(col("sy").cast("double") / col("n").cast("double")
            - num / den
              * (col("sx").cast("double") / col("n").cast("double")))
            .as("calibration_intercept"),
          r4d(col("sy").cast("double") / col("n").cast("double"))
            .as("base_rate"))
    }),

    // DIFFERENCE-IN-DIFFERENCES (§2.158) — the workhorse
    // quasi-experimental estimator the A/B family can't cover when
    // assignment isn't randomized at exposure time: per-user event
    // volume in the pre/post halves of the corpus calendar
    // (intervention day = integer midpoint, deterministic), treatment
    // = the user_id % 2 arm convention, effect = (T,post − T,pre) −
    // (C,post − C,pre) in mean events per user-period. Cell means
    // come from exact integer sums over the |users|×2 cell table
    // (every user contributes to both periods, zero-filled, so the
    // panel is balanced by construction); doubles only in the four
    // means and their combination, spelled identically.
    "ab_diff_in_diff" -> ((s, dir) => {
      val e = events(s, dir)
        .select(col("user_id"), epochDay("ts").as("day"))
      val b = e.agg(min(col("day")).as("lo"), max(col("day")).as("hi"))
        .select(expr("(lo + hi) div 2").as("mid"))
      val cells = e.crossJoin(broadcast(b))
        .select(col("user_id"), (col("user_id") % 2).as("arm"),
          when(col("day") > col("mid"), lit("post")).otherwise(lit("pre"))
            .as("period"))
        .groupBy("user_id", "arm", "period")
        .agg(count(lit(1)).as("c"))
      val users = e.select(col("user_id"),
        (col("user_id") % 2).as("arm")).distinct()
      val spine = users.crossJoin(
        s.range(2).select(when(col("id") === 0, lit("pre"))
          .otherwise(lit("post")).as("period")))
      val panel = spine.join(cells, Seq("user_id", "arm", "period"),
          "left")
        .select(col("arm"), col("period"),
          coalesce(col("c"), lit(0L)).as("c"))
      val m = panel.groupBy("arm", "period")
        .agg(count(lit(1)).as("n"), sum(col("c")).as("sc"))
        .select(col("arm"), col("period"),
          (col("sc").cast("double") / col("n").cast("double")).as("mu"))
      val piv = m.groupBy()
        .agg(
          max(when(col("arm") === 1 && col("period") === "pre",
            col("mu"))).as("t_pre"),
          max(when(col("arm") === 1 && col("period") === "post",
            col("mu"))).as("t_post"),
          max(when(col("arm") === 0 && col("period") === "pre",
            col("mu"))).as("c_pre"),
          max(when(col("arm") === 0 && col("period") === "post",
            col("mu"))).as("c_post"))
      piv.select(r4d(col("t_pre")).as("treat_pre"),
        r4d(col("t_post")).as("treat_post"),
        r4d(col("c_pre")).as("control_pre"),
        r4d(col("c_post")).as("control_post"),
        r4d((col("t_post") - col("t_pre"))
          - (col("c_post") - col("c_pre"))).as("did_effect"))
    }),

    // RELATIVE RISK + CI (§2.154) — the epidemiology-convention
    // effect size next to ab_odds_ratio_ci's odds ratio (RR is what
    // product reviews actually mean by "x% more likely to convert";
    // OR only approximates it when conversion is rare): RR =
    // (a/(a+b)) / (c/(c+d)) over the same deterministic user_id%2
    // arms and per-user conversion flags, with the standard
    // log-normal CI exp(ln RR ± 1.96·√(1/a − 1/(a+b) + 1/c −
    // 1/(c+d))). Exact counts from one reduce; doubles at the edge;
    // degenerate cells → NULL.
    "ab_relative_risk_ci" -> ((s, dir) => {
      val e = events(s, dir)
        .groupBy((col("user_id") % 2).as("arm"), col("user_id"))
        .agg(max(when(col("event_type") === "purchase", 1L)
          .otherwise(0L)).as("conv"))
      val piv = e.groupBy("arm")
        .agg(count_if(col("conv") === 1).as("c"),
          count_if(col("conv") === 0).as("nc"))
        .agg(max(when(col("arm") === 0, col("c"))).as("a"),
          max(when(col("arm") === 0, col("nc"))).as("b"),
          max(when(col("arm") === 1, col("c"))).as("cc"),
          max(when(col("arm") === 1, col("nc"))).as("d"))
      val n1 = col("a") + col("b")
      val n2 = col("cc") + col("d")
      val rr = (col("a").cast("double") / n1.cast("double")) /
        (col("cc").cast("double") / n2.cast("double"))
      val se = sqrt(lit(1.0) / col("a").cast("double")
        - lit(1.0) / n1.cast("double")
        + lit(1.0) / col("cc").cast("double")
        - lit(1.0) / n2.cast("double"))
      val ok = col("a") > 0 && col("cc") > 0
      piv.select(col("a"), col("b"), col("cc").as("c"), col("d"),
        when(ok, r4d(rr)).as("relative_risk"),
        when(ok, r4d(exp(log(rr) - lit(1.96) * se))).as("ci_lo"),
        when(ok, r4d(exp(log(rr) + lit(1.96) * se))).as("ci_hi"))
    }),

    // COHEN'S H (§2.154) — the arcsine-stabilized effect size for two
    // proportions: h = 2·asin(√p₁) − 2·asin(√p₂) (unlike the raw
    // difference, equally detectable at any baseline rate — the
    // number power calculators standardize on, companion to
    // ab_power_sample_size). Same deterministic arms; exact counts;
    // asin/sqrt at the display edge only, spelled operand-for-operand
    // with the oracle; the conventional small/medium/large read at
    // |h| = 0.2/0.5/0.8.
    "ab_cohens_h" -> ((s, dir) => {
      val e = events(s, dir)
        .groupBy((col("user_id") % 2).as("arm"), col("user_id"))
        .agg(max(when(col("event_type") === "purchase", 1L)
          .otherwise(0L)).as("conv"))
      val piv = e.groupBy("arm")
        .agg(count(lit(1)).as("n"), sum(col("conv")).as("c"))
        .agg(max(when(col("arm") === 0, col("n"))).as("n1"),
          max(when(col("arm") === 0, col("c"))).as("c1"),
          max(when(col("arm") === 1, col("n"))).as("n2"),
          max(when(col("arm") === 1, col("c"))).as("c2"))
      val p1 = col("c1").cast("double") / col("n1").cast("double")
      val p2 = col("c2").cast("double") / col("n2").cast("double")
      val h = lit(2.0) * asin(sqrt(p1)) - lit(2.0) * asin(sqrt(p2))
      piv.select(col("n1"), col("c1"), col("n2"), col("c2"),
        r4d(p1).as("p1"), r4d(p2).as("p2"), r4d(h).as("cohens_h"),
        when(abs(h) < 0.2, lit("negligible"))
          .when(abs(h) < 0.5, lit("small"))
          .when(abs(h) < 0.8, lit("medium"))
          .otherwise(lit("large")).as("magnitude"))
    }),

    // POWER / SAMPLE-SIZE (§2.137) — the question every experiment
    // review asks first: at the OBSERVED arm conversion rates, how
    // many users per arm would a two-proportion test need for 80%
    // power at α = 0.05? n = (z_α·√(2p̄q̄) + z_β·√(p₁q₁+p₂q₂))²/δ²
    // with the z constants spelled as the literals 1.96 and 0.84 in
    // BOTH engines (the SPRT ln-constant convention). Exact counts
    // from one reduce; the chain is doubles at the edge; δ = 0 →
    // NULL.
    "ab_power_sample_size" -> ((s, dir) => {
      val e = events(s, dir)
        .select((col("user_id") % 2).as("arm"),
          when(col("event_type") === "purchase", 1L).otherwise(0L)
            .as("conv"))
      val a = e.groupBy("arm")
        .agg(count(lit(1)).as("n"), sum(col("conv")).cast("long").as("c"))
      val piv = a.agg(
        max(when(col("arm") === 0, col("n"))).as("n1"),
        max(when(col("arm") === 0, col("c"))).as("c1"),
        max(when(col("arm") === 1, col("n"))).as("n2"),
        max(when(col("arm") === 1, col("c"))).as("c2"))
      val p1 = col("c1").cast("double") / col("n1").cast("double")
      val p2 = col("c2").cast("double") / col("n2").cast("double")
      val pb = (col("c1") + col("c2")).cast("double") /
        (col("n1") + col("n2")).cast("double")
      val num = lit(1.96) * sqrt(lit(2.0) * pb * (lit(1.0) - pb)) +
        lit(0.84) * sqrt(p1 * (lit(1.0) - p1) + p2 * (lit(1.0) - p2))
      piv.select(r4d(p1).as("p1"), r4d(p2).as("p2"),
        r4d(p1 - p2).as("delta"),
        when(p1 - p2 =!= 0.0,
          ceil(num * num / ((p1 - p2) * (p1 - p2))).cast("long"))
          .as("n_per_arm"))
    }),

    // KRUSKAL-WALLIS H (§2.135) — the k-group UNPAIRED rank test
    // that rounds out the nonparametric family (one-way ANOVA on
    // ranks): do the five event types draw value cents from one
    // distribution? Same aggregate-first device as agg_mann_whitney_u
    // scaled to k groups: the corpus reduces to the (cents, type)
    // count table, value-level lo/hi come from ONE cumulative pass
    // over the bounded distinct-cents dictionary, and each group's
    // DOUBLED rank sum is Σ cnt·(lo+1+hi) exact in DECIMAL(38,0).
    // The cross-group Σ R²ⱼ/nⱼ is snapped per group (floor of the
    // identical IEEE chain — deterministic, capacity documented) so
    // only integers are ever summed; tie correction Σ(t³−t) exact in
    // decimals; H and the corrected H are one edge chain.
    "agg_kruskal_wallis" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val e = events(s, dir)
        .select(col("event_type"),
          round(col("value") * 100).cast("long").as("cents"))
      val gv = e.groupBy("cents", "event_type")
        .agg(count(lit(1)).as("cnt"))
      val nv = gv.groupBy("cents").agg(sum(col("cnt")).as("nv"))
      // Round-18 (verdict #5): distributed prefix sum over the
      // distinct-cents dictionary — see eval_auc_stability.
      val vt = graft.plans.GlobalRank.runningSum(nv, Seq("cents"), "nv", "hi")
        .withColumn("lo", col("hi") - col("nv"))
      val grp = gv.join(vt, Seq("cents"))
        .groupBy("event_type")
        .agg(sum(col("cnt")).cast("long").as("nj"),
          sum(col("cnt").cast("decimal(38,0)")
            * (col("lo") + 1 + col("hi"))).cast("decimal(38,0)")
            .as("r2j"))
      val terms = grp.select(col("nj"),
        floor(col("r2j").cast("double") * col("r2j").cast("double")
          / col("nj").cast("double")).cast("long").as("t0"))
      val ties = vt.agg(sum(col("nv").cast("decimal(38,0)")
        * col("nv") * col("nv") - col("nv")).cast("decimal(38,0)")
        .as("tsum"))
      val a = terms.agg(count(lit(1)).as("k"),
        sum(col("nj")).cast("long").as("n"),
        sum(col("t0")).cast("decimal(38,0)").as("st"))
      a.crossJoin(broadcast(ties))
        .select(col("k"), col("n"), (col("k") - 1).as("df"),
          r4d((lit(3.0) * col("st").cast("double")
            / (col("n").cast("double")
              * (col("n").cast("double") + lit(1.0)))
            - lit(3.0) * (col("n").cast("double") + lit(1.0)))
            / (lit(1.0) - col("tsum").cast("double")
              / (col("n").cast("decimal(38,0)") * col("n") * col("n")
                - col("n")).cast("double"))).as("h"))
    }),

    // FRIEDMAN TEST (§2.134) — the k-related-samples rank test
    // completing the nonparametric family (Wilcoxon = 2 paired,
    // Mann-Whitney = 2 unpaired, Kruskal's role here taken by the
    // BLOCKED design): did weekly purchase spend SHIFT across the
    // window's first four weeks, ranking weeks WITHIN each user?
    // Blocks are the full user × 4-week spine (zero-filled — the
    // cochran lesson: absent weeks are 0-spend observations, not
    // missing). Tied ranks in DOUBLED units via the exact closed
    // form 2·avgrank = 2·(#smaller) + (#equal incl self) + 1,
    // computed by a bounded 4×4 per-user self-join — never a corpus
    // rank window. Q = 3·ΣR₂ⱼ²/(k(k+1)·n) − 3n(k+1) with R₂ the
    // doubled column rank sums, exact in DECIMAL(38,0), one double
    // chain.
    "agg_friedman_test" -> ((s, dir) => {
      val e = events(s, dir)
        .filter(col("event_type") === "purchase")
        .select(col("user_id"), epochDay("ts").as("day"),
          round(col("value") * 100).cast("long").as("cents"))
      val lo = e.agg(min(col("day")).as("lo"))
      val uw = e.crossJoin(broadcast(lo))
        .select(col("user_id"), expr("(day - lo) div 7").as("w"),
          col("cents"))
        .filter(col("w") >= 0 && col("w") <= 3)
      val users = uw.select("user_id").distinct()
      val spine = users.crossJoin(s.range(0, 4).toDF("w"))
      val cell = spine
        .join(uw.groupBy("user_id", "w")
          .agg(sum(col("cents")).cast("long").as("v0")),
          Seq("user_id", "w"), "left")
        .select(col("user_id"), col("w"),
          coalesce(col("v0"), lit(0L)).as("v"))
        .localCheckpoint(true)
      val r2 = cell.as("a").join(cell.as("b"), Seq("user_id"))
        .groupBy(col("user_id"), col("a.w").as("w"))
        .agg((sum(when(col("b.v") < col("a.v"), 2L).otherwise(0L))
          + sum(when(col("b.v") === col("a.v"), 1L).otherwise(0L))
          + 1L).as("r2"))
      val cols = r2.groupBy("w")
        .agg(sum(col("r2")).cast("decimal(38,0)").as("rj2"))
      val n = users.agg(count(lit(1)).as("n"))
      cols.agg(sum(col("rj2") * col("rj2")).cast("decimal(38,0)")
          .as("sr2sq"))
        .crossJoin(broadcast(n))
        .select(col("n").as("n_users"), lit(4L).as("k"),
          r4d(lit(3.0) * col("sr2sq").cast("double")
            / (lit(20.0) * col("n").cast("double"))
            - lit(15.0) * col("n").cast("double")).as("q"))
    }),

    // BARTLETT'S TEST (§2.133) — k-group variance homogeneity, the
    // parametric (normal-theory) sibling of agg_levene_test: χ² =
    // [(N−k)·ln Sp² − Σ(nᵢ−1)·ln Sᵢ²] / C over purchase cents by
    // event type. Cross-group sums NEVER add raw doubles: each
    // group's (nᵢ−1)·ln Sᵢ² is floor-snapped to 10⁻⁶-unit BIGINTs
    // (the mean-log-deviation convention), each group's SS to
    // 10⁻³ units, and C's Σ1/(nᵢ−1) is the EXACT integer
    // 10¹² div (nᵢ−1) — so the only order-free-needed sums are
    // integer sums, and the remaining ln/divisions are one edge
    // chain. Variance numerators exact in DECIMAL(38,0).
    "agg_bartlett_test" -> ((s, dir) => {
      val e = events(s, dir)
        .select(col("event_type"),
          round(col("value") * 100).cast("long").as("cents"))
      val g = e.groupBy("event_type").agg(count(lit(1)).as("n"),
          sum(col("cents").cast("decimal(38,0)")).as("sx"),
          sum(col("cents").cast("decimal(38,0)") * col("cents"))
            .as("sxx"))
        .filter(col("n") > 1)
        .withColumn("vnum",
          col("n").cast("decimal(38,0)") * col("sxx")
            - col("sx") * col("sx"))
        .withColumn("s2d", col("vnum").cast("double")
          / (col("n").cast("decimal(38,0)") * (col("n") - 1))
            .cast("double"))
      val terms = g.select(
        col("n"),
        floor((col("n") - 1).cast("double") * log(col("s2d"))
          * lit(1.0e6)).cast("long").as("lterm6"),
        floor(col("vnum").cast("double") / col("n").cast("double")
          * lit(1000.0)).cast("long").as("ssm3"),
        expr("1000000000000L div (n - 1)").as("q12"))
      val a = terms.agg(count(lit(1)).as("k"),
        sum(col("n")).cast("long").as("n_total"),
        sum(col("lterm6")).cast("long").as("slt6"),
        sum(col("ssm3")).cast("decimal(38,0)").as("sss3"),
        sum(col("q12")).cast("long").as("sq12"))
      a.select(col("k"), col("n_total"), (col("k") - 1).as("df"),
        r4d((((col("n_total") - col("k")).cast("double")
            * log(col("sss3").cast("double") / lit(1000.0)
              / (col("n_total") - col("k")).cast("double")))
          - col("slt6").cast("double") / lit(1.0e6))
          / (lit(1.0)
            + (col("sq12").cast("double") / lit(1.0e12)
              - lit(1.0) / (col("n_total") - col("k")).cast("double"))
              / (lit(3.0) * (col("k") - 1).cast("double"))))
          .as("chi2"))
    }),

    // PAIRED SIGN TEST (§2.133) — the assumption-free paired
    // location test under agg_wilcoxon_signed_rank (which needs
    // symmetric differences; the sign test needs nothing): did each
    // user's purchase count move pre → post across the integer
    // day-span midpoint (the CUPED split)? Ties drop per the
    // classical test; z = (n₊ − n₋)/√(n₊ + n₋) — exact integer
    // counts, one sqrt at the edge.
    "agg_sign_test" -> ((s, dir) => {
      val e = events(s, dir)
        .filter(col("event_type") === "purchase")
        .select(col("user_id"), epochDay("ts").as("day"))
      val b = e.agg(min(col("day")).as("lo"), max(col("day")).as("hi"))
      val per = e.crossJoin(broadcast(b))
        .withColumn("mid", expr("lo + (hi - lo) div 2"))
        .groupBy("user_id")
        .agg(count_if(col("day") <= col("mid")).as("pre"),
          count_if(col("day") > col("mid")).as("post"))
      val a = per.agg(count(lit(1)).as("n_users"),
        count_if(col("post") > col("pre")).as("n_plus"),
        count_if(col("post") < col("pre")).as("n_minus"),
        count_if(col("post") === col("pre")).as("n_ties"))
      a.select(col("n_users"), col("n_plus"), col("n_minus"),
        col("n_ties"),
        when(col("n_plus") + col("n_minus") > 0,
          r4d((col("n_plus") - col("n_minus")).cast("double")
            / sqrt((col("n_plus") + col("n_minus")).cast("double"))))
          .as("z"))
    }),

    // TWO-SAMPLE F TEST (§2.132) — the variance-ratio companion to
    // ab_test_welch's mean test: did a variant change DISPERSION,
    // not just level? F = s₁²/s₂² between the user-parity arms over
    // purchase cents. Sample variances from the exact
    // n·Σx² − (Σx)² numerators in DECIMAL(38,0) (one reduce, no
    // anchor needed at cents scale ≤ 10¹² rows/arm); the ratio is
    // one double chain spelled operand-for-operand; degenerate arms
    // (n ≤ 1 or zero variance in arm 2) emit NULL via the exact
    // integer test.
    "agg_f_test_two_sample" -> ((s, dir) => {
      val e = events(s, dir)
        .filter(col("event_type") === "purchase")
        .select((col("user_id") % 2).as("arm"),
          round(col("value") * 100).cast("long").as("cents"))
      val a = e.groupBy("arm").agg(count(lit(1)).as("n"),
        sum(col("cents").cast("decimal(38,0)")).as("sx"),
        sum(col("cents").cast("decimal(38,0)") * col("cents"))
          .as("sxx"))
      val piv = a.agg(
        max(when(col("arm") === 0, col("n"))).as("n1"),
        max(when(col("arm") === 0, col("sx"))).as("sx1"),
        max(when(col("arm") === 0, col("sxx"))).as("sxx1"),
        max(when(col("arm") === 1, col("n"))).as("n2"),
        max(when(col("arm") === 1, col("sx"))).as("sx2"),
        max(when(col("arm") === 1, col("sxx"))).as("sxx2"))
      def vnum(n: String, sx: String, sxx: String) =
        col(n).cast("decimal(38,0)") * col(sxx) - col(sx) * col(sx)
      def vden(n: String) =
        (col(n).cast("decimal(38,0)") * (col(n) - 1))
      piv.select(col("n1"), col("n2"),
        when(col("n1") > 1 && col("n2") > 1
            && vnum("n2", "sx2", "sxx2") > 0,
          r4d((vnum("n1", "sx1", "sxx1").cast("double")
              / vden("n1").cast("double"))
            / (vnum("n2", "sx2", "sxx2").cast("double")
              / vden("n2").cast("double")))).as("f"))
    }),

    // DECISION-STUMP SPLIT FINDER (§2.136) — the CART primitive:
    // which threshold on value best separates purchases, by weighted
    // Gini impurity G = 1 − [(tp²+fp²)/n_L + (fn²+tn²)/n_R]/N?
    // Every feature-importance and tree-induction pass runs exactly
    // this scan. Same confusion fixture and broadcast threshold
    // spine as eval_confusion_binary; squared counts exact in
    // DECIMAL(38,0), two spelled divisions per row, empty sides
    // contribute 0, best row = min Gini with lowest-threshold
    // tie-break via two broadcast scalar reductions.
    "eval_stump_split" -> ((s, dir) => {
      val e = events(s, dir).select(col("value"),
        (col("event_type") === "purchase").as("pos"))
      val thresholds = s.range(1, 10)
        .select((col("id") * 20).cast("double").as("threshold"))
      val m = e.crossJoin(broadcast(thresholds))
        .groupBy("threshold")
        .agg(count_if(col("pos") && col("value") >= col("threshold"))
            .as("tp"),
          count_if(!col("pos") && col("value") >= col("threshold"))
            .as("fp"),
          count_if(col("pos") && col("value") < col("threshold"))
            .as("fn"),
          count_if(!col("pos") && col("value") < col("threshold"))
            .as("tn"))
      def sq(c: String) = col(c).cast("decimal(38,0)") * col(c)
      val g = m.withColumn("n_left", col("tp") + col("fp"))
        .withColumn("n_right", col("fn") + col("tn"))
        .withColumn("gd", lit(1.0)
          - (when(col("n_left") > 0,
              (sq("tp") + sq("fp")).cast("double")
                / col("n_left").cast("double")).otherwise(lit(0.0))
            + when(col("n_right") > 0,
              (sq("fn") + sq("tn")).cast("double")
                / col("n_right").cast("double")).otherwise(lit(0.0)))
            / (col("n_left") + col("n_right")).cast("double"))
        .localCheckpoint(true)
      val mn = g.agg(min(col("gd")).as("mg"))
      val bt = g.crossJoin(broadcast(mn))
        .filter(col("gd") === col("mg"))
        .agg(min(col("threshold")).as("bt"))
      g.crossJoin(broadcast(bt))
        .select(col("threshold"), col("n_left"), col("n_right"),
          r4d(col("gd")).as("gini"),
          (col("threshold") === col("bt")).as("is_best"))
        .orderBy("threshold")
    }),

    // MATTHEWS CORRELATION (§2.132) — the single-number
    // confusion-matrix summary robust to class imbalance, beside
    // eval_confusion_binary's per-threshold P/R/F1 (F1 ignores TN;
    // MCC = (TP·TN − FP·FN)/√((TP+FP)(TP+FN)(TN+FP)(TN+FN)) does
    // not — the metric imbalanced-detection evals should lead with).
    // Same classifier fixture (value ≥ threshold predicts purchase),
    // same broadcast threshold spine; the numerator is an exact
    // DECIMAL(38,0) difference, the four marginals multiply as
    // doubles in fixed order under one correctly-rounded sqrt.
    "eval_matthews_corr" -> ((s, dir) => {
      val e = events(s, dir).select(col("value"),
        (col("event_type") === "purchase").as("pos"))
      val thresholds = s.range(1, 10)
        .select((col("id") * 20).cast("double").as("threshold"))
      val m = e.crossJoin(broadcast(thresholds))
        .groupBy("threshold")
        .agg(count_if(col("pos") && col("value") >= col("threshold"))
            .as("tp"),
          count_if(!col("pos") && col("value") >= col("threshold"))
            .as("fp"),
          count_if(col("pos") && col("value") < col("threshold"))
            .as("fn"),
          count_if(!col("pos") && col("value") < col("threshold"))
            .as("tn"))
      val denom =
        sqrt((col("tp") + col("fp")).cast("double")
          * (col("tp") + col("fn")).cast("double")
          * (col("tn") + col("fp")).cast("double")
          * (col("tn") + col("fn")).cast("double"))
      m.select(col("threshold"), col("tp"), col("fp"), col("fn"),
          col("tn"),
          when((col("tp") + col("fp")) > 0 && (col("tp") + col("fn")) > 0
              && (col("tn") + col("fp")) > 0 && (col("tn") + col("fn")) > 0,
            r4d((col("tp").cast("decimal(38,0)") * col("tn")
                - col("fp").cast("decimal(38,0)") * col("fn"))
              .cast("double") / denom)).as("mcc"))
        .orderBy("threshold")
    }),

    // CUPED ADJUSTMENT (§2.131) — the industry-standard variance
    // reduction for A/B metrics (Deng et al. 2013): adjust each
    // user's experiment-period metric Y by their PRE-period covariate
    // X, Y' = Y − θ(X − X̄), θ = cov(X,Y)/var(X), shrinking metric
    // variance by ρ² without biasing the treatment delta. Periods:
    // the integer day-span midpoint (lo + (hi−lo) div 2) splits each
    // user's purchase cents into X (pre) and Y (post); arms are the
    // user-parity device shared by the other A/B keys. Exactness:
    // all five moments exact in DECIMAL(38,0) off one user-grain
    // reduce; θ and the adjusted means are one double chain at the
    // edge, spelled operand-for-operand in both engines.
    "ab_cuped_adjustment" -> ((s, dir) => {
      val e = events(s, dir)
        .filter(col("event_type") === "purchase")
        .select(col("user_id"), epochDay("ts").as("day"),
          round(col("value") * 100).cast("long").as("cents"))
      val b = e.agg(min(col("day")).as("lo"), max(col("day")).as("hi"))
      val per = e.crossJoin(broadcast(b))
        .withColumn("mid", expr("lo + (hi - lo) div 2"))
        .groupBy("user_id")
        .agg(sum(when(col("day") <= col("mid"), col("cents"))
            .otherwise(0L)).cast("long").as("x"),
          sum(when(col("day") > col("mid"), col("cents"))
            .otherwise(0L)).cast("long").as("y"))
        .withColumn("arm", col("user_id") % 2)
      val g = per.agg(count(lit(1)).as("n"),
        sum(col("x").cast("decimal(38,0)")).as("sx"),
        sum(col("y").cast("decimal(38,0)")).as("sy"),
        sum(col("x").cast("decimal(38,0)") * col("x")).as("sxx"),
        sum(col("x").cast("decimal(38,0)") * col("y")).as("sxy"))
      val theta =
        (col("n").cast("decimal(38,0)") * col("sxy")
          - col("sx") * col("sy")).cast("double") /
        (col("n").cast("decimal(38,0)") * col("sxx")
          - col("sx") * col("sx")).cast("double")
      per.groupBy("arm").agg(count(lit(1)).as("n_users"),
          sum(col("x").cast("decimal(38,0)")).as("sxa"),
          sum(col("y").cast("decimal(38,0)")).as("sya"))
        .crossJoin(broadcast(g))
        .select(col("arm"), col("n_users"),
          r4d(col("sya").cast("double") / col("n_users").cast("double"))
            .as("mean_y"),
          r4d(col("sya").cast("double") / col("n_users").cast("double")
            - theta
              * (col("sxa").cast("double") / col("n_users").cast("double")
                - col("sx").cast("double") / col("n").cast("double")))
            .as("mean_y_cuped"),
          r4d(theta).as("theta"))
        .orderBy("arm")
    }),

    // MANN-WHITNEY U (§2.130) — the UNPAIRED rank-sum test beside
    // agg_wilcoxon_signed_rank's paired form: do the two md5-free
    // user-parity arms draw purchase values from the same
    // distribution? Aggregate-first exact ranks: the corpus reduces
    // to the distinct-cents dictionary with per-arm counts, and each
    // value's tied-rank contribution is the closed form
    // n1(v)·(lo + 1 + hi) in DOUBLED-rank units (2·avg tied rank =
    // (lo+1) + hi, both exact integers off one cumulative count) —
    // no per-row rank window ever touches the corpus. The cumulative
    // window runs over the BOUNDED value dictionary (the
    // bipartite-profile device). Tie-corrected normal z; doubles
    // only in the final chain, spelled operand-for-operand in both
    // engines; Σ(t³−t) in DECIMAL(38,0).
    "agg_mann_whitney_u" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val e = events(s, dir)
        .filter(col("event_type") === "purchase")
        .select((col("user_id") % 2).as("arm"),
          round(col("value") * 100).cast("long").as("cents"))
      val vc = e.groupBy("cents")
        .agg(sum(when(col("arm") === 0, 1L).otherwise(0L))
            .cast("long").as("n1v"),
          sum(when(col("arm") === 1, 1L).otherwise(0L))
            .cast("long").as("n2v"))
        .withColumn("nv", col("n1v") + col("n2v"))
      val wv = Window.orderBy("cents")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val r = vc.withColumn("hi", sum(col("nv")).over(wv))
      val a = r.agg(
        sum(col("n1v")).cast("long").as("n1"),
        sum(col("n2v")).cast("long").as("n2"),
        sum((col("n1v").cast("decimal(38,0)")
          * (col("hi") - col("nv") + 1 + col("hi"))))
          .cast("decimal(38,0)").as("r1x2"),
        sum(col("nv").cast("decimal(38,0)") * col("nv") * col("nv")
          - col("nv")).cast("decimal(38,0)").as("tsum"))
      a.select(col("n1"), col("n2"),
          ((col("r1x2") - (col("n1").cast("decimal(38,0)")
            * (col("n1") + 1))).cast("double") / lit(2.0)).as("u1"),
          col("tsum"))
        .select(col("n1"), col("n2"), r4d(col("u1")).as("u1"),
          r4d((col("u1")
              - col("n1").cast("double") * col("n2").cast("double")
                / lit(2.0))
            / sqrt((col("n1").cast("double") * col("n2").cast("double")
                / lit(12.0))
              * ((col("n1") + col("n2")).cast("double") + lit(1.0)
                - col("tsum").cast("double")
                  / ((col("n1") + col("n2")).cast("double")
                    * ((col("n1") + col("n2")).cast("double")
                      - lit(1.0)))))).as("z"))
    }),

    // TWO-PROPORTION Z (§2.118) — the workhorse conversion-rate test
    // between A/B arms (fixed-horizon companion to ab_sprt_sequential
    // and the categorical sibling of ab_test_welch): pooled
    // p̂ = (c₁+c₂)/(n₁+n₂), z = (p̂₁−p̂₂)/√(p̂(1−p̂)(1/n₁+1/n₂)). All
    // counts exact integers off one corpus reduce; the z is one
    // double chain spelled operand-for-operand.
    "agg_two_proportion_z" -> ((s, dir) => {
      val e = events(s, dir)
        .select((col("user_id") % 2).as("arm"),
          when(col("event_type") === "purchase", 1L).otherwise(0L)
            .as("conv"))
      val a = e.groupBy("arm")
        .agg(count(lit(1)).as("n"), sum(col("conv")).cast("long").as("c"))
      val piv = a.agg(
        max(when(col("arm") === 0, col("n"))).as("n1"),
        max(when(col("arm") === 0, col("c"))).as("c1"),
        max(when(col("arm") === 1, col("n"))).as("n2"),
        max(when(col("arm") === 1, col("c"))).as("c2"))
      piv.withColumn("p",
          (col("c1") + col("c2")).cast("double")
            / (col("n1") + col("n2")).cast("double"))
        .select(col("n1"), col("c1"), col("n2"), col("c2"),
          r4d(col("c1").cast("double") / col("n1").cast("double"))
            .as("p1"),
          r4d(col("c2").cast("double") / col("n2").cast("double"))
            .as("p2"),
          r4d((col("c1").cast("double") / col("n1").cast("double")
              - col("c2").cast("double") / col("n2").cast("double"))
            / sqrt(col("p") * (lit(1.0) - col("p"))
              * (lit(1.0) / col("n1").cast("double")
                + lit(1.0) / col("n2").cast("double")))).as("z"))
    }),

    // SEQUENTIAL SPRT (§2.113) — Wald's sequential probability ratio
    // test, the machinery behind "can we stop this A/B early?": per
    // arm (user_id parity), the purchase-rate log-likelihood ratio of
    // H₁ p=0.20 vs H₀ p=0.15 accumulates day by day, and each day is
    // classified against the α=β=0.05 boundaries ±ln 19. Exactness:
    // cumulative trials/conversions are integer window sums over the
    // per-(arm, day) reduce (bounded table); the LLR is
    // c·ln(p₁/p₀) + (n−c)·ln((1−p₁)/(1−p₀)) — two libm constants
    // spelled symbolically in both engines times exact integers, one
    // chain per row. The decision compares the UNROUNDED llr on both
    // sides.
    "ab_sprt_sequential" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val e = events(s, dir)
        .select((col("user_id") % 2).as("arm"), epochDay("ts").as("day"),
          when(col("event_type") === "purchase", lit(1L))
            .otherwise(lit(0L)).as("conv"))
      val d = e.groupBy("arm", "day")
        .agg(count(lit(1)).as("n"), sum(col("conv")).cast("long").as("c"))
      val w = Window.partitionBy("arm").orderBy("day")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      d.withColumn("cn", sum(col("n")).over(w).cast("long"))
        .withColumn("cc", sum(col("c")).over(w).cast("long"))
        .withColumn("llr0",
          col("cc").cast("double") * log(lit(0.2) / lit(0.15))
            + (col("cn") - col("cc")).cast("double")
              * log(lit(0.8) / lit(0.85)))
        .select(col("arm"), col("day"),
          col("cn").as("cum_trials"), col("cc").as("cum_conv"),
          r4d(col("llr0")).as("llr"),
          when(col("llr0") >= log(lit(19.0)), "reject_h0")
            .when(col("llr0") <= -log(lit(19.0)), "accept_h0")
            .otherwise("continue").as("decision"))
        .orderBy("arm", "day")
    }),

    "agg_wilcoxon_signed_rank" -> ((s, dir) => {
      val e = events(s, dir)
        .select(col("user_id"), epochDay("ts").as("day"))
      val bounds = e.agg(min(col("day")).as("lo"), max(col("day")).as("hi"))
      val d = e.crossJoin(broadcast(bounds))
        .select(col("user_id"),
          when(col("day") * 2 < col("lo") + col("hi"), lit(1L))
            .otherwise(lit(0L)).as("h1"))
        .groupBy("user_id")
        .agg(sum(col("h1")).cast("long").as("c1"),
          sum(lit(1L) - col("h1")).cast("long").as("c2"))
        .filter(col("c2") =!= col("c1"))
        .select(col("user_id"), (col("c2") - col("c1")).as("dd"),
          abs(col("c2") - col("c1")).as("absd"), lit(1L).as("one"))
      val ranked = graft.plans.GlobalRank.runningSum(
        d, Seq("absd", "user_id"), "one", "rk")
      ranked.agg(count(lit(1)).as("n_pairs"),
          sum(when(col("dd") > 0, col("rk")).otherwise(lit(0L)))
            .cast("long").as("w_plus"),
          sum(when(col("dd") < 0, col("rk")).otherwise(lit(0L)))
            .cast("long").as("w_minus"))
        .select(col("n_pairs"), col("w_plus"), col("w_minus"),
          r4d((col("w_plus").cast("double")
              - col("n_pairs").cast("double")
                * (col("n_pairs") + 1).cast("double") / lit(4.0))
            / sqrt(col("n_pairs").cast("double")
              * (col("n_pairs") + 1).cast("double")
              * (col("n_pairs") * 2 + 1).cast("double") / lit(24.0)))
            .as("z"))
    }))

  val oracle: Map[String, String] = Map(
    // Same pairable-item filter; the per-item division snapped to
    // 10⁻⁶-unit BIGINTs (// ≡ Spark div on non-negative operands),
    // corpus sums as DECIMAL(38,0), the α chain spelled
    // operand-for-operand.
    "eval_krippendorff_alpha" ->
      """WITH cells0 AS (SELECT l_orderkey AS ok, l_returnflag AS lab,
        |    count(*) AS n_uk FROM lineitem GROUP BY 1, 2),
        |nu AS (SELECT ok, CAST(sum(n_uk) AS BIGINT) AS n_u
        |  FROM cells0 GROUP BY 1 HAVING CAST(sum(n_uk) AS BIGINT) >= 2),
        |cells AS (SELECT c.*, n.n_u FROM cells0 c JOIN nu n USING (ok)),
        |peritem AS (SELECT ok, n_u,
        |    (CAST(sum(n_uk * (n_u - n_uk)) AS BIGINT) * 1000000)
        |      // (n_u - 1) AS d6
        |  FROM cells GROUP BY 1, 2),
        |tot AS (SELECT CAST(sum(d6) AS DECIMAL(38,0)) AS do6,
        |    CAST(sum(n_u) AS BIGINT) AS nvals,
        |    count(*) AS n_items FROM peritem),
        |nk AS (SELECT lab, CAST(sum(n_uk) AS BIGINT) AS n_k
        |  FROM cells GROUP BY 1),
        |de AS (SELECT CAST(sum(CAST(n_k AS DECIMAL(38,0))
        |    * (nvals - n_k)) AS DECIMAL(38,0)) AS de_num
        |  FROM nk CROSS JOIN tot)
        |SELECT n_items, nvals AS n_values,
        |  ROUND(CAST(do6 AS DOUBLE) / 1000000.0 / CAST(nvals AS DOUBLE)
        |    * 10000) / 10000 + 0.0 AS do_rate,
        |  ROUND(CAST(de_num AS DOUBLE)
        |    / (CAST(nvals AS DOUBLE) * CAST(nvals - 1 AS DOUBLE))
        |    * 10000) / 10000 + 0.0 AS de_rate,
        |  ROUND((1.0
        |    - (CAST(do6 AS DOUBLE) / 1000000.0 / CAST(nvals AS DOUBLE))
        |      / (CAST(de_num AS DOUBLE)
        |        / (CAST(nvals AS DOUBLE) * CAST(nvals - 1 AS DOUBLE))))
        |    * 10000) / 10000 + 0.0 AS alpha
        |FROM tot CROSS JOIN de""".stripMargin,
    // Two exact-decimal top-10s; the weight grid's 9^{d−1} and d·10^d
    // are inlined integer literals (never libm pow), the 10 per-depth
    // doubles fold over a sorted list.
    "eval_rbo_overlap" ->
      """WITH a0 AS (SELECT l_partkey AS pk, sum(l_quantity) AS m
        |  FROM lineitem GROUP BY 1 ORDER BY m DESC, pk LIMIT 10),
        |a AS (SELECT pk, row_number() OVER (ORDER BY m DESC, pk) AS ra
        |  FROM a0),
        |b0 AS (SELECT l_partkey AS pk,
        |    sum(l_extendedprice * (1 - l_discount)) AS m
        |  FROM lineitem GROUP BY 1 ORDER BY m DESC, pk LIMIT 10),
        |b AS (SELECT pk, row_number() OVER (ORDER BY m DESC, pk) AS rb
        |  FROM b0),
        |inter AS (SELECT a.pk, ra, rb FROM a JOIN b USING (pk)),
        |grid AS (SELECT CAST(d AS BIGINT) AS d, CAST(n9 AS BIGINT)
        |    AS num9, CAST(d AS BIGINT) * CAST(p10 AS BIGINT) AS den
        |  FROM (VALUES (1, 1, 10), (2, 9, 100), (3, 81, 1000),
        |    (4, 729, 10000), (5, 6561, 100000), (6, 59049, 1000000),
        |    (7, 531441, 10000000), (8, 4782969, 100000000),
        |    (9, 43046721, 1000000000),
        |    (10, 387420489, 10000000000)) t(d, n9, p10)),
        |xd AS (SELECT g.d, g.num9, g.den, count(i.pk) AS x_d
        |  FROM grid g LEFT JOIN inter i ON i.ra <= g.d AND i.rb <= g.d
        |  GROUP BY 1, 2, 3)
        |SELECT max(CASE WHEN d = 10 THEN x_d END) AS overlap_at_10,
        |  ROUND(list_aggregate(list_sort(
        |      list(CAST(x_d * num9 AS DOUBLE) / CAST(den AS DOUBLE))),
        |      'sum') * 10000) / 10000 + 0.0 AS rbo
        |FROM xd""".stripMargin,
    // Zero-filled type×hour spine, strict-order ranks, the doubled
    // deviation keeps S4 integer; W is one division.
    "agg_kendall_w" ->
      """WITH e AS (SELECT event_type AS et,
        |    epoch_ms(ts) // 3600000 % 24 AS hour FROM events),
        |counts AS (SELECT et, hour, count(*) AS c FROM e GROUP BY 1, 2),
        |spine AS (SELECT et, CAST(h AS BIGINT) AS hour
        |  FROM (SELECT DISTINCT et FROM counts),
        |    (SELECT unnest(range(24)) AS h)),
        |ranked AS (SELECT s.et, s.hour, coalesce(c.c, 0) AS c,
        |    row_number() OVER (PARTITION BY s.et
        |      ORDER BY coalesce(c.c, 0) DESC, s.hour) AS rk
        |  FROM spine s LEFT JOIN counts c
        |    ON c.et = s.et AND c.hour = s.hour),
        |m AS (SELECT count(DISTINCT et) AS m FROM ranked),
        |ri AS (SELECT hour, CAST(sum(rk) AS BIGINT) AS r_i
        |  FROM ranked GROUP BY 1)
        |SELECT m AS m_raters, count(*) AS n_items,
        |  CAST(sum((r_i * 2 - m * 25) * (r_i * 2 - m * 25)) AS BIGINT)
        |    AS s4,
        |  ROUND(3.0 * CAST(CAST(sum((r_i * 2 - m * 25)
        |      * (r_i * 2 - m * 25)) AS BIGINT) AS DOUBLE)
        |    / CAST(m * m * (24 * 24 * 24 - 24) AS DOUBLE)
        |    * 10000) / 10000 + 0.0 AS w
        |FROM ri CROSS JOIN m GROUP BY m""".stripMargin,
    // Same score blocks descending; J from exact cumulative
    // integers, argmax on identical doubles with the score tie-break.
    "eval_youden_threshold" ->
      """WITH s AS (SELECT value, count(*) AS n_v,
        |    sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
        |      AS p_v
        |  FROM events GROUP BY 1),
        |t AS (SELECT CAST(sum(p_v) AS BIGINT) AS np,
        |    CAST(sum(n_v - p_v) AS BIGINT) AS nn FROM s),
        |c AS (SELECT value,
        |    CAST(sum(p_v) OVER (ORDER BY value DESC
        |      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS ctp,
        |    CAST(sum(n_v - p_v) OVER (ORDER BY value DESC
        |      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cfp
        |  FROM s),
        |j AS (SELECT value, ctp, cfp, np, nn,
        |    CAST(ctp AS DOUBLE) / CAST(np AS DOUBLE)
        |      - CAST(cfp AS DOUBLE) / CAST(nn AS DOUBLE) AS j
        |  FROM c CROSS JOIN t),
        |r AS (SELECT *, row_number() OVER (ORDER BY j DESC, value)
        |    AS rk FROM j)
        |SELECT value AS threshold, np AS n_pos, nn AS n_neg,
        |  ctp AS tp, cfp AS fp,
        |  ROUND(CAST(ctp AS DOUBLE) / CAST(np AS DOUBLE) * 10000)
        |    / 10000 AS tpr,
        |  ROUND(CAST(cfp AS DOUBLE) / CAST(nn AS DOUBLE) * 10000)
        |    / 10000 AS fpr,
        |  ROUND(j * 10000) / 10000 + 0.0 AS youden_j
        |FROM r WHERE rk = 1""".stripMargin,
    // Same integer cents moments; the R/s²/se/CI chain spelled
    // operand-for-operand.
    "agg_ratio_metric_ci" ->
      """WITH u AS (SELECT user_id % 2 AS arm, user_id,
        |    CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
        |      AS x,
        |    count(*) AS y
        |  FROM events GROUP BY 1, 2),
        |m AS (SELECT arm, count(*) AS n,
        |    CAST(sum(x) AS HUGEINT) AS sx,
        |    CAST(sum(y) AS HUGEINT) AS sy,
        |    CAST(sum(CAST(x AS HUGEINT) * x) AS HUGEINT) AS sxx,
        |    CAST(sum(CAST(y AS HUGEINT) * y) AS HUGEINT) AS syy,
        |    CAST(sum(CAST(x AS HUGEINT) * y) AS HUGEINT) AS sxy
        |  FROM u GROUP BY 1),
        |c AS (SELECT arm, n,
        |    CAST(sx AS DOUBLE) / CAST(sy AS DOUBLE) AS r,
        |    sxx, syy, sxy, sy FROM m),
        |d AS (SELECT arm, n, r, sy,
        |    (CAST(sxx AS DOUBLE) - 2.0 * r * CAST(sxy AS DOUBLE)
        |      + r * r * CAST(syy AS DOUBLE)) / CAST(n - 1 AS DOUBLE)
        |      AS s2
        |  FROM c),
        |e AS (SELECT arm, n, r,
        |    sqrt(s2 * CAST(n AS DOUBLE)) / CAST(sy AS DOUBLE) AS se
        |  FROM d)
        |SELECT arm, n AS n_users,
        |  ROUND(r / 100 * 10000) / 10000 AS ratio,
        |  ROUND((r - 1.96 * se) / 100 * 10000) / 10000 + 0.0 AS ci_lo,
        |  ROUND((r + 1.96 * se) / 100 * 10000) / 10000 + 0.0 AS ci_hi
        |FROM e ORDER BY arm""".stripMargin,
    // Same collapsed two-cell chi² and unrounded flag.
    // Same daily-distinct users and exact (2n₀−n)² > 9n flag.
    "ab_srm_daily_drift" ->
      s"""WITH u AS (SELECT DISTINCT ${sqlEpochDay("ts")} AS day,
         |    user_id, user_id % 2 AS arm FROM events),
         |g AS (SELECT day, count(*) AS n,
         |    count(*) FILTER (WHERE arm = 0) AS n0
         |  FROM u GROUP BY 1)
         |SELECT day, n, n0,
         |  ROUND(CAST(n0 AS DOUBLE) / CAST(n AS DOUBLE) * 10000)
         |    / 10000 AS share_arm0,
         |  (2 * n0 - n) * (2 * n0 - n) > 9 * n AS srm_flag
         |FROM g ORDER BY day""".stripMargin,
    "agg_srm_check" ->
      """WITH u AS (SELECT DISTINCT user_id, user_id % 2 AS arm
        |  FROM events),
        |a AS (SELECT arm, count(*) AS n FROM u GROUP BY 1),
        |p AS (SELECT max(CASE WHEN arm = 0 THEN n END) AS n0,
        |    max(CASE WHEN arm = 1 THEN n END) AS n1 FROM a),
        |c AS (SELECT n0, n1,
        |    CAST((n0 - n1) * (n0 - n1) AS DOUBLE)
        |      / CAST(n0 + n1 AS DOUBLE) AS chi0 FROM p)
        |SELECT n0, n1, ROUND(chi0 * 10000) / 10000 AS chi2,
        |  chi0 > 3.841458820694124 AS srm
        |FROM c""".stripMargin,
    // Same order-free max reward per context and integer win counts.
    "eval_pairwise_winrate" ->
      s"""WITH r AS (SELECT user_id, ${sqlEpochDay("ts")} AS day,
         |    event_type AS et, max(value) AS rw
         |  FROM events GROUP BY 1, 2, 3),
         |p AS (SELECT a.et AS type_a, b.et AS type_b,
         |    CASE WHEN a.rw > b.rw THEN 1 ELSE 0 END AS w,
         |    CASE WHEN a.rw = b.rw THEN 1 ELSE 0 END AS t
         |  FROM r a JOIN r b ON a.user_id = b.user_id
         |    AND a.day = b.day AND a.et < b.et)
         |SELECT type_a, type_b, count(*) AS n_contexts,
         |  CAST(sum(w) AS BIGINT) AS wins_a,
         |  CAST(sum(t) AS BIGINT) AS ties,
         |  ROUND(CAST(CAST(sum(w) AS BIGINT) * 2
         |      + CAST(sum(t) AS BIGINT) AS DOUBLE)
         |    / CAST(count(*) * 2 AS DOUBLE) * 10000) / 10000
         |    AS winrate_a
         |FROM p GROUP BY 1, 2 ORDER BY type_a, type_b""".stripMargin,
    // Same k-multiplied integer deviations and single division.
    "agg_cochran_q" ->
      s"""WITH e AS (SELECT user_id, ${sqlEpochDay("ts")} AS day
         |  FROM events WHERE event_type = 'purchase' AND value > 95),
         |lo AS (SELECT min(day) AS lo FROM e),
         |uw AS (SELECT DISTINCT user_id, (day - lo) // 7 AS w
         |  FROM e CROSS JOIN lo WHERE (day - lo) // 7 BETWEEN 0 AND 3),
         |ri AS (SELECT user_id, count(*) AS r FROM uw GROUP BY 1),
         |ra AS (SELECT count(*) AS n_users,
         |    CAST(sum(r) AS BIGINT) AS t,
         |    CAST(sum(r * r) AS BIGINT) AS rr FROM ri),
         |cw AS (SELECT w, count(*) AS c FROM uw GROUP BY 1),
         |spine AS (SELECT range AS w FROM range(0, 4)),
         |cj AS (SELECT spine.w, COALESCE(cw.c, 0) AS c
         |  FROM spine LEFT JOIN cw USING (w)),
         |sd AS (SELECT n_users, t, rr,
         |    CAST(sum((4 * c - t) * (4 * c - t)) AS BIGINT) AS sdev2
         |  FROM cj CROSS JOIN ra GROUP BY 1, 2, 3)
         |SELECT n_users, t, 4 * t - rr AS d_base,
         |  CASE WHEN 4 * t - rr > 0 THEN
         |    ROUND(3.0 * CAST(sdev2 AS DOUBLE)
         |      / (4.0 * CAST(4 * t - rr AS DOUBLE)) * 10000) / 10000
         |      + 0.0 END AS q
         |FROM sd""".stripMargin,
    // Same spine, exclusive cumulative removals, snapped per-time
    // terms, identical χ² chain.
    "agg_logrank_test" ->
      s"""WITH ev AS (SELECT user_id, event_type,
         |    ${sqlEpochDay("ts")} AS day FROM events),
         |fe AS (SELECT user_id, min(day) AS fe FROM ev GROUP BY 1),
         |fp AS (SELECT user_id, min(day) AS fp FROM ev
         |  WHERE event_type = 'purchase' GROUP BY 1),
         |mx AS (SELECT max(day) AS maxd FROM ev),
         |u AS (SELECT fe.user_id % 2 AS arm,
         |    CASE WHEN fp IS NOT NULL THEN fp - fe
         |      ELSE maxd - fe END AS tte,
         |    CASE WHEN fp IS NOT NULL THEN 1 ELSE 0 END AS ev
         |  FROM fe LEFT JOIN fp USING (user_id) CROSS JOIN mx),
         |rem AS (SELECT arm, tte, count(*) AS nrem,
         |    CAST(sum(ev) AS BIGINT) AS d FROM u GROUP BY 1, 2),
         |spine AS (SELECT tte, range AS arm FROM
         |  (SELECT DISTINCT tte FROM u) CROSS JOIN range(0, 2)),
         |cell AS (SELECT s.arm, s.tte, COALESCE(nrem, 0) AS nrem,
         |    COALESCE(d, 0) AS d
         |  FROM spine s LEFT JOIN rem USING (arm, tte)),
         |na AS (SELECT arm, count(*) AS ntot FROM u GROUP BY 1),
         |risk AS (SELECT cell.arm, tte, d,
         |    ntot - COALESCE(CAST(sum(nrem) OVER (PARTITION BY cell.arm
         |      ORDER BY tte ROWS BETWEEN UNBOUNDED PRECEDING
         |      AND 1 PRECEDING) AS BIGINT), 0) AS natrisk
         |  FROM cell JOIN na ON na.arm = cell.arm),
         |tt AS (SELECT tte,
         |    max(CASE WHEN arm = 0 THEN d END) AS d0,
         |    max(CASE WHEN arm = 1 THEN d END) AS d1,
         |    max(CASE WHEN arm = 0 THEN natrisk END) AS n0,
         |    max(CASE WHEN arm = 1 THEN natrisk END) AS n1
         |  FROM risk GROUP BY 1),
         |t2 AS (SELECT *, d0 + d1 AS d, n0 + n1 AS n FROM tt
         |  WHERE d0 + d1 > 0 AND n0 + n1 > 1),
         |terms AS (SELECT d0, d1,
         |    CAST(floor(CAST(d AS DOUBLE) * CAST(n0 AS DOUBLE)
         |      / CAST(n AS DOUBLE) * 1000000.0) AS BIGINT) AS e6,
         |    CAST(floor(CAST(d AS DOUBLE)
         |      * (CAST(n0 AS DOUBLE) / CAST(n AS DOUBLE))
         |      * (CAST(n1 AS DOUBLE) / CAST(n AS DOUBLE))
         |      * (CAST(n - d AS DOUBLE) / CAST(n - 1 AS DOUBLE))
         |      * 1000000.0) AS BIGINT) AS v6
         |  FROM t2),
         |ag AS (SELECT CAST(sum(d0) AS BIGINT) AS o0,
         |    CAST(sum(d1) AS BIGINT) AS o1,
         |    CAST(sum(e6) AS BIGINT) AS se6,
         |    CAST(sum(v6) AS BIGINT) AS sv6 FROM terms),
         |nap AS (SELECT max(CASE WHEN arm = 0 THEN ntot END) AS n_arm0,
         |    max(CASE WHEN arm = 1 THEN ntot END) AS n_arm1 FROM na)
         |SELECT n_arm0, n_arm1, o0 AS events0, o1 AS events1,
         |  ROUND((CAST(o0 AS DOUBLE) - CAST(se6 AS DOUBLE) / 1000000.0)
         |    * (CAST(o0 AS DOUBLE) - CAST(se6 AS DOUBLE) / 1000000.0)
         |    / (CAST(sv6 AS DOUBLE) / 1000000.0)
         |    * 10000) / 10000 AS chi2
         |FROM ag CROSS JOIN nap""".stripMargin,
    // Same nine HUGEINT moments, the identical three-r chain.
    "agg_partial_corr" ->
      s"""WITH e AS (SELECT CAST(round(value * 100) AS BIGINT) AS x,
         |    epoch_ms(ts) // 3600000 % 24 AS y,
         |    ${sqlEpochDay("ts")} % 7 AS z FROM events),
         |m AS (SELECT count(*) AS n,
         |    CAST(sum(CAST(x AS HUGEINT)) AS HUGEINT) AS sx,
         |    CAST(sum(CAST(y AS HUGEINT)) AS HUGEINT) AS sy,
         |    CAST(sum(CAST(z AS HUGEINT)) AS HUGEINT) AS sz,
         |    CAST(sum(CAST(x AS HUGEINT) * x) AS HUGEINT) AS sxx,
         |    CAST(sum(CAST(y AS HUGEINT) * y) AS HUGEINT) AS syy,
         |    CAST(sum(CAST(z AS HUGEINT) * z) AS HUGEINT) AS szz,
         |    CAST(sum(CAST(x AS HUGEINT) * y) AS HUGEINT) AS sxy,
         |    CAST(sum(CAST(x AS HUGEINT) * z) AS HUGEINT) AS sxz,
         |    CAST(sum(CAST(y AS HUGEINT) * z) AS HUGEINT) AS syz
         |  FROM e),
         |r AS (SELECT n,
         |    CAST(CAST(n AS HUGEINT) * sxy - sx * sy AS DOUBLE)
         |      / sqrt(CAST(CAST(n AS HUGEINT) * sxx - sx * sx
         |          AS DOUBLE)
         |        * CAST(CAST(n AS HUGEINT) * syy - sy * sy AS DOUBLE))
         |      AS rxy,
         |    CAST(CAST(n AS HUGEINT) * sxz - sx * sz AS DOUBLE)
         |      / sqrt(CAST(CAST(n AS HUGEINT) * sxx - sx * sx
         |          AS DOUBLE)
         |        * CAST(CAST(n AS HUGEINT) * szz - sz * sz AS DOUBLE))
         |      AS rxz,
         |    CAST(CAST(n AS HUGEINT) * syz - sy * sz AS DOUBLE)
         |      / sqrt(CAST(CAST(n AS HUGEINT) * syy - sy * sy
         |          AS DOUBLE)
         |        * CAST(CAST(n AS HUGEINT) * szz - sz * sz AS DOUBLE))
         |      AS rzy
         |  FROM m)
         |SELECT n AS n_events,
         |  ROUND(rxy * 10000) / 10000 + 0.0 AS r_xy,
         |  ROUND(rxz * 10000) / 10000 + 0.0 AS r_xz,
         |  ROUND(rzy * 10000) / 10000 + 0.0 AS r_zy,
         |  ROUND((rxy - rxz * rzy)
         |    / sqrt((1.0 - rxz * rxz) * (1.0 - rzy * rzy))
         |    * 10000) / 10000 + 0.0 AS r_xy_given_z
         |FROM r""".stripMargin,
    // Same bounded cells, the same 10⁻⁹-snapped p·ln p terms.
    "agg_entropy_conditional" ->
      s"""WITH e AS (SELECT event_type, ${sqlEpochDay("ts")} % 7
         |    AS dow FROM events),
         |cell AS (SELECT event_type, dow, count(*) AS c
         |  FROM e GROUP BY 1, 2),
         |nt AS (SELECT CAST(sum(c) AS BIGINT) AS nn FROM cell),
         |ht AS (SELECT CAST(sum(t9) AS BIGINT) AS ht9 FROM (
         |  SELECT CAST(floor(-(CAST(ct AS DOUBLE)
         |      / CAST(nn AS DOUBLE))
         |    * ln(CAST(ct AS DOUBLE) / CAST(nn AS DOUBLE))
         |    * 1.0e9) AS BIGINT) AS t9
         |  FROM (SELECT event_type, CAST(sum(c) AS BIGINT) AS ct
         |    FROM cell GROUP BY 1) CROSS JOIN nt)),
         |nd AS (SELECT dow, CAST(sum(c) AS BIGINT) AS cd FROM cell
         |  GROUP BY 1),
         |hc AS (SELECT CAST(sum(t9) AS BIGINT) AS hc9 FROM (
         |  SELECT CAST(floor(-(CAST(c AS DOUBLE)
         |      / CAST(nn AS DOUBLE))
         |    * ln(CAST(c AS DOUBLE) / CAST(cd AS DOUBLE))
         |    * 1.0e9) AS BIGINT) AS t9
         |  FROM cell JOIN nd USING (dow) CROSS JOIN nt))
         |SELECT ROUND(CAST(ht9 AS DOUBLE) / 1.0e9 * 10000) / 10000
         |    AS h_type,
         |  ROUND(CAST(hc9 AS DOUBLE) / 1.0e9 * 10000) / 10000
         |    AS h_type_given_dow,
         |  ROUND(CAST(ht9 - hc9 AS DOUBLE) / 1.0e9 * 10000) / 10000
         |    + 0.0 AS info_gain
         |FROM ht CROSS JOIN hc""".stripMargin,
    // Same dow scores and exact moment assembly, identical chain.
    "ab_cochran_armitage_trend" ->
      s"""WITH e AS (SELECT ${sqlEpochDay("ts")} % 7 AS sc,
         |    CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END
         |      AS conv FROM events),
         |g AS (SELECT sc, count(*) AS n,
         |    CAST(sum(conv) AS BIGINT) AS a FROM e GROUP BY 1),
         |m AS (SELECT CAST(sum(n) AS BIGINT) AS nn,
         |    CAST(sum(a) AS BIGINT) AS aa,
         |    CAST(sum(CAST(sc AS HUGEINT) * a) AS HUGEINT) AS sa,
         |    CAST(sum(CAST(sc AS HUGEINT) * n) AS HUGEINT) AS sn,
         |    CAST(sum(CAST(sc AS HUGEINT) * sc * n) AS HUGEINT)
         |      AS sn2
         |  FROM g)
         |SELECT nn AS n_events, aa AS n_conv,
         |  ROUND((CAST(CAST(nn AS HUGEINT) * sa
         |      - CAST(aa AS HUGEINT) * sn AS DOUBLE)
         |      / CAST(nn AS DOUBLE))
         |    / sqrt((CAST(aa AS DOUBLE) / CAST(nn AS DOUBLE))
         |      * (1.0 - CAST(aa AS DOUBLE) / CAST(nn AS DOUBLE))
         |      * (CAST(CAST(nn AS HUGEINT) * sn2 - sn * sn AS DOUBLE)
         |        / CAST(nn AS DOUBLE)))
         |    * 10000) / 10000 + 0.0 AS z
         |FROM m""".stripMargin,
    // Same BIGINT-cast median, ties-below, snapped per-cell terms.
    "agg_median_test" ->
      """WITH e AS (SELECT event_type,
        |    CAST(round(value * 100) AS BIGINT) AS cents FROM events),
        |m AS (SELECT CAST(percentile_disc(0.5)
        |    WITHIN GROUP (ORDER BY cents) AS BIGINT) AS med FROM e),
        |cell AS (SELECT event_type,
        |    count(*) FILTER (WHERE cents > med) AS n_above,
        |    count(*) FILTER (WHERE cents <= med) AS n_below
        |  FROM e CROSS JOIN m GROUP BY 1),
        |tot AS (SELECT CAST(sum(n_above) AS BIGINT) AS ta,
        |    CAST(sum(n_below) AS BIGINT) AS tb FROM cell),
        |terms AS (SELECT event_type,
        |    CAST(floor((CAST(n_above AS DOUBLE)
        |      - CAST(n_above + n_below AS DOUBLE)
        |        * CAST(ta AS DOUBLE) / CAST(ta + tb AS DOUBLE))
        |      * (CAST(n_above AS DOUBLE)
        |        - CAST(n_above + n_below AS DOUBLE)
        |          * CAST(ta AS DOUBLE) / CAST(ta + tb AS DOUBLE))
        |      / (CAST(n_above + n_below AS DOUBLE)
        |        * CAST(ta AS DOUBLE) / CAST(ta + tb AS DOUBLE))
        |      * 1.0e6)
        |    + floor((CAST(n_below AS DOUBLE)
        |      - CAST(n_above + n_below AS DOUBLE)
        |        * CAST(tb AS DOUBLE) / CAST(ta + tb AS DOUBLE))
        |      * (CAST(n_below AS DOUBLE)
        |        - CAST(n_above + n_below AS DOUBLE)
        |          * CAST(tb AS DOUBLE) / CAST(ta + tb AS DOUBLE))
        |      / (CAST(n_above + n_below AS DOUBLE)
        |        * CAST(tb AS DOUBLE) / CAST(ta + tb AS DOUBLE))
        |      * 1.0e6) AS BIGINT) AS t6
        |  FROM cell CROSS JOIN tot)
        |SELECT count(*) AS k, count(*) - 1 AS df,
        |  ROUND(CAST(CAST(sum(t6) AS BIGINT) AS DOUBLE) / 1.0e6
        |    * 10000) / 10000 AS chi2
        |FROM terms""".stripMargin,
    // Same moments, the 10000 literal, identical chain.
    "agg_ttest_one_sample" ->
      """WITH e AS (SELECT event_type,
        |    CAST(round(value * 100) AS BIGINT) AS cents FROM events),
        |g AS (SELECT event_type, count(*) AS n,
        |    CAST(sum(CAST(cents AS HUGEINT)) AS HUGEINT) AS sx,
        |    CAST(sum(CAST(cents AS HUGEINT) * cents) AS HUGEINT)
        |      AS sxx
        |  FROM e GROUP BY 1)
        |SELECT event_type, n,
        |  ROUND(CAST(sx AS DOUBLE) / CAST(n AS DOUBLE) * 10000)
        |    / 10000 AS mean_cents,
        |  CASE WHEN n > 1 AND CAST(n AS HUGEINT) * sxx - sx * sx > 0
        |    THEN ROUND((CAST(sx AS DOUBLE) / CAST(n AS DOUBLE)
        |        - 10000.0)
        |      / sqrt(CAST(CAST(n AS HUGEINT) * sxx - sx * sx
        |          AS DOUBLE)
        |        / CAST(CAST(n AS HUGEINT) * (n - 1) AS DOUBLE)
        |        / CAST(n AS DOUBLE))
        |      * 10000) / 10000 + 0.0 END AS t
        |FROM g ORDER BY event_type""".stripMargin,
    // Same closed-form SSE/MAE terms with the identical truncating
    // divisions, HUGEINT moments, one edge chain.
    "eval_regression_hour_model" ->
      """WITH e AS (SELECT epoch_ms(ts) // 3600000 % 24 AS hour,
        |    CAST(round(value * 100) AS BIGINT) AS cents FROM events),
        |hr AS (SELECT hour, count(*) AS n,
        |    CAST(sum(CAST(cents AS HUGEINT)) AS HUGEINT) AS s,
        |    CAST(sum(CAST(cents AS HUGEINT) * cents) AS HUGEINT)
        |      AS q
        |  FROM e GROUP BY 1),
        |madnum AS (SELECT e.hour,
        |    CAST(sum(abs(CAST(n AS HUGEINT) * cents - s)) AS HUGEINT)
        |      AS mn
        |  FROM e JOIN hr ON hr.hour = e.hour GROUP BY 1),
        |terms AS (SELECT n,
        |    CAST((CAST(n AS HUGEINT) * q - s * s) // n AS BIGINT)
        |      AS sse0,
        |    CAST(mn // n AS BIGINT) AS mad0
        |  FROM hr JOIN madnum USING (hour)),
        |g AS (SELECT CAST(sum(n) AS BIGINT) AS nn,
        |    CAST(sum(sse0) AS HUGEINT) AS sse,
        |    CAST(sum(mad0) AS HUGEINT) AS mad FROM terms),
        |tot AS (SELECT count(*) AS n2,
        |    CAST(sum(CAST(cents AS HUGEINT)) AS HUGEINT) AS st,
        |    CAST(sum(CAST(cents AS HUGEINT) * cents) AS HUGEINT)
        |      AS qt
        |  FROM e)
        |SELECT nn AS n_events,
        |  ROUND(CAST(mad AS DOUBLE) / CAST(nn AS DOUBLE) * 10000)
        |    / 10000 AS mae_cents,
        |  ROUND(sqrt(CAST(sse AS DOUBLE) / CAST(nn AS DOUBLE))
        |    * 10000) / 10000 AS rmse_cents,
        |  ROUND((1.0 - CAST(sse AS DOUBLE)
        |    / CAST(CAST((CAST(n2 AS HUGEINT) * qt - st * st) // n2
        |      AS BIGINT) AS DOUBLE)) * 10000) / 10000 + 0.0 AS r2
        |FROM g CROSS JOIN tot""".stripMargin,
    // Same user-grain 2×2, identical edge ln/exp chain.
    "ab_odds_ratio_ci" ->
      """WITH u AS (SELECT user_id % 2 AS arm,
        |    max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
        |      AS conv
        |  FROM events GROUP BY user_id, arm),
        |g AS (SELECT arm, count(*) FILTER (WHERE conv = 1) AS c,
        |    count(*) FILTER (WHERE conv = 0) AS nc FROM u GROUP BY 1),
        |p AS (SELECT max(CASE WHEN arm = 0 THEN c END) AS a,
        |    max(CASE WHEN arm = 0 THEN nc END) AS b,
        |    max(CASE WHEN arm = 1 THEN c END) AS cc,
        |    max(CASE WHEN arm = 1 THEN nc END) AS d FROM g),
        |q AS (SELECT *,
        |    (CAST(a AS DOUBLE) * CAST(d AS DOUBLE))
        |      / (CAST(b AS DOUBLE) * CAST(cc AS DOUBLE)) AS orr,
        |    sqrt(1.0 / CAST(a AS DOUBLE) + 1.0 / CAST(b AS DOUBLE)
        |      + 1.0 / CAST(cc AS DOUBLE) + 1.0 / CAST(d AS DOUBLE))
        |      AS se
        |  FROM p)
        |SELECT a, b, cc AS c, d,
        |  CASE WHEN a > 0 AND b > 0 AND cc > 0 AND d > 0 THEN
        |    ROUND(orr * 10000) / 10000 END AS odds_ratio,
        |  CASE WHEN a > 0 AND b > 0 AND cc > 0 AND d > 0 THEN
        |    ROUND(exp(ln(orr) - 1.96 * se) * 10000) / 10000 END
        |    AS ci_lo,
        |  CASE WHEN a > 0 AND b > 0 AND cc > 0 AND d > 0 THEN
        |    ROUND(exp(ln(orr) + 1.96 * se) * 10000) / 10000 END
        |    AS ci_hi
        |FROM q""".stripMargin,
    // Same zero-filled panel, decimal moments, exact overdispersion
    // test.
    "agg_negative_binomial_fit" ->
      """WITH e AS (SELECT user_id, event_type FROM events),
        |cnt AS (SELECT user_id, event_type, count(*) AS c FROM e
        |  GROUP BY 1, 2),
        |panel AS (SELECT t.event_type, COALESCE(c.c, 0) AS c
        |  FROM (SELECT DISTINCT user_id FROM e) u
        |  CROSS JOIN (SELECT DISTINCT event_type FROM e) t
        |  LEFT JOIN cnt c
        |    ON c.user_id = u.user_id AND c.event_type = t.event_type),
        |a AS (SELECT event_type, count(*) AS n,
        |    CAST(sum(c) AS HUGEINT) AS s1,
        |    CAST(sum(CAST(c AS HUGEINT) * c) AS HUGEINT) AS s2
        |  FROM panel GROUP BY 1),
        |f AS (SELECT event_type, n, s1, s2,
        |    CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE) AS mu,
        |    CAST(CAST(n AS HUGEINT) * s2 - s1 * s1 AS DOUBLE)
        |      / CAST(n * n AS DOUBLE) AS v
        |  FROM a WHERE n > 1 AND s1 > 0)
        |SELECT event_type, n AS n_users,
        |  ROUND(mu * 10000) / 10000 + 0.0 AS mean_per_user,
        |  ROUND(v * 10000) / 10000 + 0.0 AS var_per_user,
        |  ROUND(v / mu * 10000) / 10000 + 0.0 AS dispersion,
        |  CASE WHEN CAST(n AS HUGEINT) * s2 - s1 * s1
        |      > CAST(n AS HUGEINT) * s1 THEN
        |    ROUND(mu * mu / (v - mu) * 10000) / 10000 END AS nb_r,
        |  CASE WHEN CAST(n AS HUGEINT) * s2 - s1 * s1
        |      > CAST(n AS HUGEINT) * s1 THEN
        |    ROUND(mu / v * 10000) / 10000 END AS nb_p
        |FROM f ORDER BY event_type""".stripMargin,
    // Same dow-stratified pairs, tie-corrected variance sum, and
    // continuity-corrected z.
    "ts_seasonal_mann_kendall" ->
      s"""WITH e AS (SELECT event_type, ${sqlEpochDay("ts")} AS day
         |  FROM events),
         |d0 AS (SELECT event_type, day, count(*) AS y FROM e
         |  GROUP BY 1, 2),
         |b AS (SELECT min(day) AS lo, max(day) AS hi FROM e),
         |ty AS (SELECT DISTINCT event_type FROM e),
         |spine AS (SELECT event_type, unnest(range(lo, hi + 1)) AS day
         |  FROM ty CROSS JOIN b),
         |fl AS (SELECT s.event_type, s.day, s.day % 7 AS dow,
         |    coalesce(y, 0) AS y
         |  FROM spine s LEFT JOIN d0
         |    ON d0.event_type = s.event_type AND d0.day = s.day),
         |sa AS (SELECT a.event_type,
         |    CAST(count(*) FILTER (WHERE b2.y > a.y) AS BIGINT)
         |      - CAST(count(*) FILTER (WHERE b2.y < a.y) AS BIGINT)
         |      AS s_stat
         |  FROM fl a JOIN fl b2 ON b2.event_type = a.event_type
         |    AND b2.dow = a.dow AND a.day < b2.day
         |  GROUP BY 1),
         |nd AS (SELECT event_type, dow, count(*) AS nd FROM fl
         |  GROUP BY 1, 2),
         |tt AS (SELECT event_type, dow,
         |    CAST(sum(t * (t - 1) * (2 * t + 5)) AS BIGINT) AS tie_term
         |  FROM (SELECT event_type, dow, y, count(*) AS t FROM fl
         |    GROUP BY 1, 2, 3) WHERE t > 1 GROUP BY 1, 2),
         |va AS (SELECT n.event_type,
         |    CAST(sum(n.nd * (n.nd - 1) * (2 * n.nd + 5)
         |      - COALESCE(t.tie_term, 0)) AS BIGINT) AS var18
         |  FROM nd n LEFT JOIN tt t
         |    ON t.event_type = n.event_type AND t.dow = n.dow
         |  GROUP BY 1),
         |nn AS (SELECT event_type, count(*) AS n_days FROM fl
         |  GROUP BY 1)
         |SELECT nn.event_type, nn.n_days, sa.s_stat, va.var18,
         |  CASE WHEN va.var18 > 0 AND sa.s_stat <> 0 THEN
         |    ROUND((CAST(sa.s_stat AS DOUBLE)
         |      - CASE WHEN sa.s_stat > 0 THEN 1.0 ELSE -1.0 END)
         |      / sqrt(CAST(va.var18 AS DOUBLE) / 18.0) * 10000)
         |      / 10000
         |  WHEN va.var18 > 0 THEN 0.0 END AS z
         |FROM nn JOIN sa ON sa.event_type = nn.event_type
         |JOIN va ON va.event_type = nn.event_type
         |ORDER BY nn.event_type""".stripMargin,
    // Same two-digit prefix, digit spine, identical log10 edge.
    "agg_benford_first_two" ->
      """WITH c AS (SELECT CAST(round(o_totalprice * 100, 0) AS BIGINT)
        |    AS c FROM orders),
        |d AS (SELECT CAST(substring(CAST(c AS VARCHAR), 1, 2)
        |    AS BIGINT) AS d2, count(*) AS n
        |  FROM c WHERE c >= 10 GROUP BY 1),
        |spine AS (SELECT unnest(range(10, 100)) AS d2),
        |t AS (SELECT CAST(sum(n) AS BIGINT) AS ntot FROM d)
        |SELECT s.d2, COALESCE(d.n, 0) AS n,
        |  ROUND(CAST(COALESCE(d.n, 0) AS DOUBLE)
        |    / CAST(ntot AS DOUBLE) * 10000) / 10000 AS share,
        |  ROUND(log10(1.0 + 1.0 / CAST(s.d2 AS DOUBLE)) * 10000)
        |    / 10000 + 0.0 AS benford,
        |  ROUND((CAST(COALESCE(d.n, 0) AS DOUBLE)
        |    / CAST(ntot AS DOUBLE)
        |    - log10(1.0 + 1.0 / CAST(s.d2 AS DOUBLE))) * 10000)
        |    / 10000 + 0.0 AS excess
        |FROM spine s LEFT JOIN d ON d.d2 = s.d2 CROSS JOIN t
        |ORDER BY s.d2""".stripMargin,
    // Same cross-multiplied two-sided confidence cells and δ spine.
    "eval_selective_risk" ->
      """WITH e AS (SELECT
        |    least(CAST(round(value * 100) AS BIGINT), 20000) AS c,
        |    event_type = 'purchase' AS pos FROM events),
        |ds AS (SELECT CAST(i * 2000 AS BIGINT) AS d2
        |  FROM (SELECT unnest(range(1, 5)) AS i)),
        |a AS (SELECT d2, count(*) AS n,
        |    count(*) FILTER (WHERE abs(2 * c - 20000) > 2 * d2)
        |      AS n_covered,
        |    count(*) FILTER (WHERE abs(2 * c - 20000) > 2 * d2
        |      AND (c > 10000) <> pos) AS n_errors
        |  FROM e CROSS JOIN ds GROUP BY 1)
        |SELECT ROUND(CAST(d2 AS DOUBLE) / 20000.0 * 10000) / 10000
        |    AS delta,
        |  n, n_covered, n_errors,
        |  ROUND(CAST(n_covered AS DOUBLE) / CAST(n AS DOUBLE)
        |    * 10000) / 10000 AS coverage,
        |  CASE WHEN n_covered > 0 THEN
        |    ROUND(CAST(n_errors AS DOUBLE)
        |      / CAST(n_covered AS DOUBLE) * 10000) / 10000 END
        |    AS selective_risk
        |FROM a ORDER BY delta""".stripMargin,
    // Same per-cent cumulative cells and (f1 desc, cut) argmax.
    // Same fixed bins and exact cross-multiplied bin minima.
    "eval_distribution_overlap" ->
      """WITH e AS (SELECT
        |    CAST(least(greatest(floor(value / 10.0), 0), 19)
        |      AS BIGINT) AS bucket,
        |    event_type = 'purchase' AS pos FROM events),
        |b AS (SELECT bucket,
        |    count(*) FILTER (WHERE pos) AS c1,
        |    count(*) FILTER (WHERE NOT pos) AS c2
        |  FROM e GROUP BY 1),
        |t AS (SELECT count(*) FILTER (WHERE pos) AS n1,
        |    count(*) FILTER (WHERE NOT pos) AS n2 FROM e),
        |m AS (SELECT n1, n2,
        |    CAST(sum(least(CAST(c1 AS HUGEINT) * n2,
        |      CAST(c2 AS HUGEINT) * n1)) AS HUGEINT) AS sm
        |  FROM b CROSS JOIN t GROUP BY 1, 2)
        |SELECT n1 AS n_pos, n2 AS n_neg,
        |  ROUND(CAST(sm AS DOUBLE)
        |    / CAST(CAST(n1 AS HUGEINT) * n2 AS DOUBLE) * 10000)
        |    / 10000 AS overlap,
        |  ROUND((1.0 - CAST(sm AS DOUBLE)
        |    / CAST(CAST(n1 AS HUGEINT) * n2 AS DOUBLE)) * 10000)
        |    / 10000 AS separation
        |FROM m""".stripMargin,
    // Same per-hour exact integer moments; per-hour divisions only.
    "eval_residual_profile_by_hour" ->
      """WITH e AS (SELECT
        |    epoch_ms(ts) // 3600000 % 24 AS hour,
        |    CAST(round(value * 100) AS BIGINT) AS cents FROM events),
        |hr AS (SELECT hour, count(*) AS n,
        |    CAST(sum(CAST(cents AS HUGEINT)) AS HUGEINT) AS s,
        |    CAST(sum(CAST(cents AS HUGEINT) * cents) AS HUGEINT)
        |      AS q
        |  FROM e GROUP BY 1),
        |mn AS (SELECT e.hour,
        |    CAST(sum(abs(CAST(hr.n AS HUGEINT) * e.cents - hr.s))
        |      AS HUGEINT) AS mn
        |  FROM e JOIN hr ON hr.hour = e.hour GROUP BY 1)
        |SELECT hr.hour, n,
        |  ROUND(CAST(mn AS DOUBLE)
        |    / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE)) * 10000)
        |    / 10000 AS mae_cents,
        |  ROUND(sqrt(CAST(CAST(n AS HUGEINT) * q - s * s AS DOUBLE)
        |    / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE))) * 10000)
        |    / 10000 AS rmse_cents
        |FROM hr JOIN mn ON mn.hour = hr.hour
        |ORDER BY hr.hour""".stripMargin,
    // Same cumulative sweep, exact 5·tp ≥ 4·ptot recall floor, and
    // (precision desc, c) argmax.
    "eval_precision_at_recall" ->
      """WITH e AS (SELECT CAST(round(value * 100) AS BIGINT) AS c,
        |    event_type = 'purchase' AS pos FROM events),
        |byc AS (SELECT c, count(*) FILTER (WHERE pos) AS np,
        |    count(*) FILTER (WHERE NOT pos) AS nn FROM e GROUP BY 1),
        |tot AS (SELECT count(*) FILTER (WHERE pos) AS ptot FROM e),
        |cum AS (SELECT c,
        |    CAST(sum(np) OVER (ORDER BY c DESC
        |      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS tp,
        |    CAST(sum(nn) OVER (ORDER BY c DESC
        |      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS fp
        |  FROM byc),
        |ok AS (SELECT c, tp, fp, ptot,
        |    CAST(tp AS DOUBLE) / CAST(tp + fp AS DOUBLE) AS prec
        |  FROM cum CROSS JOIN tot WHERE tp * 5 >= ptot * 4),
        |r AS (SELECT *, row_number() OVER (ORDER BY prec DESC, c)
        |    AS rk FROM ok)
        |SELECT c AS thr_cents, tp, fp, ptot - tp AS fn,
        |  ROUND(prec * 10000) / 10000 AS precision,
        |  ROUND(CAST(tp AS DOUBLE) / CAST(ptot AS DOUBLE) * 10000)
        |    / 10000 AS recall
        |FROM r WHERE rk = 1""".stripMargin,
    // Same per-half cumulative sweeps and (f1 desc, c) argmax; gap
    // exact.
    "eval_threshold_stability" ->
      """WITH e AS (SELECT CAST(round(value * 100) AS BIGINT) AS c,
        |    event_type = 'purchase' AS pos, user_id % 2 AS half
        |  FROM events),
        |byc0 AS (SELECT c, count(*) FILTER (WHERE pos) AS np,
        |    count(*) FILTER (WHERE NOT pos) AS nn FROM e
        |  WHERE half = 0 GROUP BY 1),
        |tot0 AS (SELECT count(*) FILTER (WHERE pos) AS ptot FROM e
        |  WHERE half = 0),
        |cum0 AS (SELECT c,
        |    CAST(sum(np) OVER (ORDER BY c DESC
        |      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS tp,
        |    CAST(sum(nn) OVER (ORDER BY c DESC
        |      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS fp
        |  FROM byc0),
        |f0 AS (SELECT c, CAST(2 * tp AS DOUBLE)
        |    / CAST(2 * tp + fp + ptot - tp AS DOUBLE) AS f1
        |  FROM cum0 CROSS JOIN tot0),
        |r0 AS (SELECT c AS thr_even,
        |    ROUND(f1 * 10000) / 10000 + 0.0 AS f1_even,
        |    row_number() OVER (ORDER BY f1 DESC, c) AS rk FROM f0),
        |byc1 AS (SELECT c, count(*) FILTER (WHERE pos) AS np,
        |    count(*) FILTER (WHERE NOT pos) AS nn FROM e
        |  WHERE half = 1 GROUP BY 1),
        |tot1 AS (SELECT count(*) FILTER (WHERE pos) AS ptot FROM e
        |  WHERE half = 1),
        |cum1 AS (SELECT c,
        |    CAST(sum(np) OVER (ORDER BY c DESC
        |      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS tp,
        |    CAST(sum(nn) OVER (ORDER BY c DESC
        |      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS fp
        |  FROM byc1),
        |f1h AS (SELECT c, CAST(2 * tp AS DOUBLE)
        |    / CAST(2 * tp + fp + ptot - tp AS DOUBLE) AS f1
        |  FROM cum1 CROSS JOIN tot1),
        |r1 AS (SELECT c AS thr_odd,
        |    ROUND(f1 * 10000) / 10000 + 0.0 AS f1_odd,
        |    row_number() OVER (ORDER BY f1 DESC, c) AS rk FROM f1h)
        |SELECT thr_even, f1_even, thr_odd, f1_odd,
        |  abs(thr_even - thr_odd) AS thr_gap_cents
        |FROM r0 CROSS JOIN r1
        |WHERE r0.rk = 1 AND r1.rk = 1""".stripMargin,
    "eval_f1_optimal_threshold" ->
      """WITH e AS (SELECT CAST(round(value * 100) AS BIGINT) AS c,
        |    event_type = 'purchase' AS pos FROM events),
        |byc AS (SELECT c, count(*) FILTER (WHERE pos) AS np,
        |    count(*) FILTER (WHERE NOT pos) AS nn FROM e GROUP BY 1),
        |tot AS (SELECT count(*) FILTER (WHERE pos) AS ptot FROM e),
        |cum AS (SELECT c AS thr_cents,
        |    CAST(sum(np) OVER (ORDER BY c DESC
        |      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS tp,
        |    CAST(sum(nn) OVER (ORDER BY c DESC
        |      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS fp
        |  FROM byc),
        |f AS (SELECT thr_cents, tp, fp, ptot - tp AS fn,
        |    CAST(2 * tp AS DOUBLE)
        |      / CAST(2 * tp + fp + ptot - tp AS DOUBLE) AS f1
        |  FROM cum CROSS JOIN tot),
        |r AS (SELECT *, row_number() OVER (ORDER BY f1 DESC,
        |    thr_cents) AS rk FROM f)
        |SELECT thr_cents, tp, fp, fn,
        |  ROUND(CAST(tp AS DOUBLE) / CAST(tp + fp AS DOUBLE) * 10000)
        |    / 10000 AS precision,
        |  ROUND(CAST(tp AS DOUBLE) / CAST(tp + fn AS DOUBLE) * 10000)
        |    / 10000 AS recall,
        |  ROUND(f1 * 10000) / 10000 + 0.0 AS f1_max
        |FROM r WHERE rk = 1""".stripMargin,
    // Same exact moment OLS on the cents grid; identical /200 fold.
    "eval_calibration_slope" ->
      """WITH e AS (SELECT
        |    least(CAST(round(value * 100) AS BIGINT), 20000) AS x,
        |    CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS y
        |  FROM events),
        |a AS (SELECT count(*) AS n,
        |    CAST(sum(x) AS HUGEINT) AS sx,
        |    CAST(sum(y) AS HUGEINT) AS sy,
        |    CAST(sum(x * x) AS HUGEINT) AS sxx,
        |    CAST(sum(x * y) AS HUGEINT) AS sxy
        |  FROM e),
        |f AS (SELECT n, sx, sy, sxx, sxy,
        |    CAST(CAST(n AS HUGEINT) * sxy - sx * sy AS DOUBLE) AS num,
        |    CAST(CAST(n AS HUGEINT) * sxx - sx * sx AS DOUBLE) AS den
        |  FROM a WHERE n > 1 AND CAST(n AS HUGEINT) * sxx > sx * sx)
        |SELECT n,
        |  ROUND(num / den * 20000.0 * 10000) / 10000 + 0.0
        |    AS calibration_slope,
        |  ROUND((CAST(sy AS DOUBLE) / CAST(n AS DOUBLE)
        |    - num / den * (CAST(sx AS DOUBLE) / CAST(n AS DOUBLE)))
        |    * 10000) / 10000 + 0.0 AS calibration_intercept,
        |  ROUND(CAST(sy AS DOUBLE) / CAST(n AS DOUBLE) * 10000)
        |    / 10000 + 0.0 AS base_rate
        |FROM f""".stripMargin,
    // Same balanced user-period panel off the integer-midpoint
    // split; identical four means and combination.
    "ab_diff_in_diff" ->
      s"""WITH e AS (SELECT user_id, ${sqlEpochDay("ts")} AS day
         |  FROM events),
         |b AS (SELECT (min(day) + max(day)) // 2 AS mid FROM e),
         |cells AS (SELECT user_id, user_id % 2 AS arm,
         |    CASE WHEN day > mid THEN 'post' ELSE 'pre' END AS period,
         |    count(*) AS c
         |  FROM e CROSS JOIN b GROUP BY 1, 2, 3),
         |users AS (SELECT DISTINCT user_id, user_id % 2 AS arm FROM e),
         |spine AS (SELECT user_id, arm, period FROM users
         |  CROSS JOIN (SELECT unnest(['pre', 'post']) AS period)),
         |panel AS (SELECT s.arm, s.period, COALESCE(c.c, 0) AS c
         |  FROM spine s LEFT JOIN cells c
         |    ON c.user_id = s.user_id AND c.arm = s.arm
         |    AND c.period = s.period),
         |m AS (SELECT arm, period,
         |    CAST(sum(c) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS mu
         |  FROM panel GROUP BY 1, 2),
         |piv AS (SELECT
         |    max(CASE WHEN arm = 1 AND period = 'pre' THEN mu END)
         |      AS t_pre,
         |    max(CASE WHEN arm = 1 AND period = 'post' THEN mu END)
         |      AS t_post,
         |    max(CASE WHEN arm = 0 AND period = 'pre' THEN mu END)
         |      AS c_pre,
         |    max(CASE WHEN arm = 0 AND period = 'post' THEN mu END)
         |      AS c_post FROM m)
         |SELECT ROUND(t_pre * 10000) / 10000 + 0.0 AS treat_pre,
         |  ROUND(t_post * 10000) / 10000 + 0.0 AS treat_post,
         |  ROUND(c_pre * 10000) / 10000 + 0.0 AS control_pre,
         |  ROUND(c_post * 10000) / 10000 + 0.0 AS control_post,
         |  ROUND(((t_post - t_pre) - (c_post - c_pre)) * 10000)
         |    / 10000 + 0.0 AS did_effect
         |FROM piv""".stripMargin,
    // Same pivoted counts; the log-normal RR interval in the
    // identical op order.
    "ab_relative_risk_ci" ->
      """WITH u AS (SELECT user_id % 2 AS arm,
        |    max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
        |      AS conv
        |  FROM events GROUP BY user_id, arm),
        |g AS (SELECT arm, count(*) FILTER (WHERE conv = 1) AS c,
        |    count(*) FILTER (WHERE conv = 0) AS nc FROM u GROUP BY 1),
        |p AS (SELECT max(CASE WHEN arm = 0 THEN c END) AS a,
        |    max(CASE WHEN arm = 0 THEN nc END) AS b,
        |    max(CASE WHEN arm = 1 THEN c END) AS cc,
        |    max(CASE WHEN arm = 1 THEN nc END) AS d FROM g),
        |q AS (SELECT *,
        |    (CAST(a AS DOUBLE) / CAST(a + b AS DOUBLE))
        |      / (CAST(cc AS DOUBLE) / CAST(cc + d AS DOUBLE)) AS rr,
        |    sqrt(1.0 / CAST(a AS DOUBLE) - 1.0 / CAST(a + b AS DOUBLE)
        |      + 1.0 / CAST(cc AS DOUBLE)
        |      - 1.0 / CAST(cc + d AS DOUBLE)) AS se
        |  FROM p)
        |SELECT a, b, cc AS c, d,
        |  CASE WHEN a > 0 AND cc > 0 THEN
        |    ROUND(rr * 10000) / 10000 END AS relative_risk,
        |  CASE WHEN a > 0 AND cc > 0 THEN
        |    ROUND(exp(ln(rr) - 1.96 * se) * 10000) / 10000 END
        |    AS ci_lo,
        |  CASE WHEN a > 0 AND cc > 0 THEN
        |    ROUND(exp(ln(rr) + 1.96 * se) * 10000) / 10000 END
        |    AS ci_hi
        |FROM q""".stripMargin,
    // Same arms; asin/sqrt spelled operand-for-operand; identical
    // magnitude cuts.
    "ab_cohens_h" ->
      """WITH u AS (SELECT user_id % 2 AS arm,
        |    max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
        |      AS conv
        |  FROM events GROUP BY user_id, arm),
        |g AS (SELECT arm, count(*) AS n,
        |    CAST(sum(conv) AS BIGINT) AS c FROM u GROUP BY 1),
        |p AS (SELECT max(CASE WHEN arm = 0 THEN n END) AS n1,
        |    max(CASE WHEN arm = 0 THEN c END) AS c1,
        |    max(CASE WHEN arm = 1 THEN n END) AS n2,
        |    max(CASE WHEN arm = 1 THEN c END) AS c2 FROM g),
        |q AS (SELECT *,
        |    CAST(c1 AS DOUBLE) / CAST(n1 AS DOUBLE) AS p1,
        |    CAST(c2 AS DOUBLE) / CAST(n2 AS DOUBLE) AS p2 FROM p),
        |h AS (SELECT *, 2.0 * asin(sqrt(p1)) - 2.0 * asin(sqrt(p2))
        |    AS ch FROM q)
        |SELECT n1, c1, n2, c2,
        |  ROUND(p1 * 10000) / 10000 + 0.0 AS p1,
        |  ROUND(p2 * 10000) / 10000 + 0.0 AS p2,
        |  ROUND(ch * 10000) / 10000 + 0.0 AS cohens_h,
        |  CASE WHEN abs(ch) < 0.2 THEN 'negligible'
        |    WHEN abs(ch) < 0.5 THEN 'small'
        |    WHEN abs(ch) < 0.8 THEN 'medium'
        |    ELSE 'large' END AS magnitude
        |FROM h""".stripMargin,
    // Same pivoted counts; the 1.96/0.84 literals and the identical
    // chain; δ = 0 → NULL.
    "ab_power_sample_size" ->
      """WITH e AS (SELECT user_id % 2 AS arm,
        |    CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END
        |      AS conv FROM events),
        |a AS (SELECT arm, count(*) AS n,
        |    CAST(sum(conv) AS BIGINT) AS c FROM e GROUP BY 1),
        |p AS (SELECT max(CASE WHEN arm = 0 THEN n END) AS n1,
        |    max(CASE WHEN arm = 0 THEN c END) AS c1,
        |    max(CASE WHEN arm = 1 THEN n END) AS n2,
        |    max(CASE WHEN arm = 1 THEN c END) AS c2 FROM a),
        |q AS (SELECT *,
        |    CAST(c1 AS DOUBLE) / CAST(n1 AS DOUBLE) AS p1,
        |    CAST(c2 AS DOUBLE) / CAST(n2 AS DOUBLE) AS p2,
        |    CAST(c1 + c2 AS DOUBLE) / CAST(n1 + n2 AS DOUBLE) AS pb
        |  FROM p),
        |r AS (SELECT *,
        |    1.96 * sqrt(2.0 * pb * (1.0 - pb))
        |      + 0.84 * sqrt(p1 * (1.0 - p1) + p2 * (1.0 - p2)) AS num
        |  FROM q)
        |SELECT ROUND(p1 * 10000) / 10000 AS p1,
        |  ROUND(p2 * 10000) / 10000 AS p2,
        |  ROUND((p1 - p2) * 10000) / 10000 + 0.0 AS delta,
        |  CASE WHEN p1 - p2 <> 0.0 THEN
        |    CAST(ceil(num * num / ((p1 - p2) * (p1 - p2))) AS BIGINT)
        |    END AS n_per_arm
        |FROM r""".stripMargin,
    // Same dictionary cumulative pass, doubled rank sums, snapped
    // per-group terms, identical tie-corrected chain.
    "agg_kruskal_wallis" ->
      """WITH e AS (SELECT event_type,
        |    CAST(round(value * 100) AS BIGINT) AS cents FROM events),
        |gv AS (SELECT cents, event_type, count(*) AS cnt
        |  FROM e GROUP BY 1, 2),
        |nv AS (SELECT cents, CAST(sum(cnt) AS BIGINT) AS nv
        |  FROM gv GROUP BY 1),
        |vt AS (SELECT cents, nv,
        |    CAST(sum(nv) OVER (ORDER BY cents
        |      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS hi
        |  FROM nv),
        |v2 AS (SELECT cents, nv, hi, hi - nv AS lo FROM vt),
        |grp AS (SELECT event_type, CAST(sum(cnt) AS BIGINT) AS nj,
        |    CAST(sum(CAST(cnt AS HUGEINT) * (lo + 1 + hi))
        |      AS HUGEINT) AS r2j
        |  FROM gv JOIN v2 USING (cents) GROUP BY 1),
        |terms AS (SELECT nj,
        |    CAST(floor(CAST(r2j AS DOUBLE) * CAST(r2j AS DOUBLE)
        |      / CAST(nj AS DOUBLE)) AS BIGINT) AS t0
        |  FROM grp),
        |ties AS (SELECT CAST(sum(CAST(nv AS HUGEINT) * nv * nv - nv)
        |    AS HUGEINT) AS tsum FROM v2),
        |a AS (SELECT count(*) AS k, CAST(sum(nj) AS BIGINT) AS n,
        |    CAST(sum(t0) AS HUGEINT) AS st FROM terms)
        |SELECT k, n, k - 1 AS df,
        |  ROUND((3.0 * CAST(st AS DOUBLE)
        |    / (CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) + 1.0))
        |    - 3.0 * (CAST(n AS DOUBLE) + 1.0))
        |    / (1.0 - CAST(tsum AS DOUBLE)
        |      / CAST(CAST(n AS HUGEINT) * n * n - n AS DOUBLE))
        |    * 10000) / 10000 + 0.0 AS h
        |FROM a CROSS JOIN ties""".stripMargin,
    // Same zero-filled user×week spine, the same bounded 4×4
    // doubled-rank self-join, HUGEINT column sums, one chain.
    "agg_friedman_test" ->
      s"""WITH e AS (SELECT user_id, ${sqlEpochDay("ts")} AS day,
         |    CAST(round(value * 100) AS BIGINT) AS cents
         |  FROM events WHERE event_type = 'purchase'),
         |lo AS (SELECT min(day) AS lo FROM e),
         |uw AS (SELECT user_id, (day - lo) // 7 AS w, cents
         |  FROM e CROSS JOIN lo WHERE (day - lo) // 7 BETWEEN 0 AND 3),
         |users AS (SELECT DISTINCT user_id FROM uw),
         |spine AS (SELECT user_id, range AS w
         |  FROM users CROSS JOIN range(0, 4)),
         |cs AS (SELECT user_id, w, CAST(sum(cents) AS BIGINT) AS v0
         |  FROM uw GROUP BY 1, 2),
         |cell AS (SELECT s.user_id, s.w, COALESCE(v0, 0) AS v
         |  FROM spine s LEFT JOIN cs USING (user_id, w)),
         |r2 AS (SELECT a.user_id, a.w,
         |    CAST(sum(CASE WHEN b.v < a.v THEN 2 ELSE 0 END)
         |      + sum(CASE WHEN b.v = a.v THEN 1 ELSE 0 END) + 1
         |      AS BIGINT) AS r2
         |  FROM cell a JOIN cell b USING (user_id) GROUP BY 1, 2),
         |cols AS (SELECT w, CAST(sum(r2) AS HUGEINT) AS rj2
         |  FROM r2 GROUP BY 1),
         |nn AS (SELECT count(*) AS n FROM users),
         |s2 AS (SELECT CAST(sum(rj2 * rj2) AS HUGEINT) AS sr2sq
         |  FROM cols)
         |SELECT n AS n_users, CAST(4 AS BIGINT) AS k,
         |  ROUND((3.0 * CAST(sr2sq AS DOUBLE)
         |    / (20.0 * CAST(n AS DOUBLE))
         |    - 15.0 * CAST(n AS DOUBLE)) * 10000) / 10000 + 0.0 AS q
         |FROM s2 CROSS JOIN nn""".stripMargin,
    // Same per-group snapped terms (floor·10⁶ ln, floor·10³ SS,
    // exact 10¹²//(n−1)), the identical edge chain.
    "agg_bartlett_test" ->
      """WITH e AS (SELECT event_type,
        |    CAST(round(value * 100) AS BIGINT) AS cents FROM events),
        |g AS (SELECT event_type, count(*) AS n,
        |    CAST(sum(CAST(cents AS HUGEINT)) AS HUGEINT) AS sx,
        |    CAST(sum(CAST(cents AS HUGEINT) * cents) AS HUGEINT)
        |      AS sxx
        |  FROM e GROUP BY 1 HAVING count(*) > 1),
        |v AS (SELECT n,
        |    CAST(n AS HUGEINT) * sxx - sx * sx AS vnum FROM g),
        |t AS (SELECT n,
        |    CAST(floor(CAST(n - 1 AS DOUBLE)
        |      * ln(CAST(vnum AS DOUBLE)
        |        / CAST(CAST(n AS HUGEINT) * (n - 1) AS DOUBLE))
        |      * 1000000.0) AS BIGINT) AS lterm6,
        |    CAST(floor(CAST(vnum AS DOUBLE) / CAST(n AS DOUBLE)
        |      * 1000.0) AS BIGINT) AS ssm3,
        |    1000000000000 // (n - 1) AS q12
        |  FROM v),
        |a AS (SELECT count(*) AS k, CAST(sum(n) AS BIGINT) AS n_total,
        |    CAST(sum(lterm6) AS BIGINT) AS slt6,
        |    CAST(sum(ssm3) AS HUGEINT) AS sss3,
        |    CAST(sum(q12) AS BIGINT) AS sq12
        |  FROM t)
        |SELECT k, n_total, k - 1 AS df,
        |  ROUND(((CAST(n_total - k AS DOUBLE)
        |      * ln(CAST(sss3 AS DOUBLE) / 1000.0
        |        / CAST(n_total - k AS DOUBLE)))
        |    - CAST(slt6 AS DOUBLE) / 1000000.0)
        |    / (1.0 + (CAST(sq12 AS DOUBLE) / 1000000000000.0
        |      - 1.0 / CAST(n_total - k AS DOUBLE))
        |      / (3.0 * CAST(k - 1 AS DOUBLE)))
        |    * 10000) / 10000 + 0.0 AS chi2
        |FROM a""".stripMargin,
    // Same midpoint split and integer counts; one sqrt.
    "agg_sign_test" ->
      s"""WITH e AS (SELECT user_id, ${sqlEpochDay("ts")} AS day
         |  FROM events WHERE event_type = 'purchase'),
         |b AS (SELECT min(day) AS lo, max(day) AS hi FROM e),
         |per AS (SELECT user_id,
         |    count(*) FILTER (WHERE day <= lo + (hi - lo) // 2)
         |      AS pre,
         |    count(*) FILTER (WHERE day > lo + (hi - lo) // 2)
         |      AS post
         |  FROM e CROSS JOIN b GROUP BY user_id),
         |a AS (SELECT count(*) AS n_users,
         |    count(*) FILTER (WHERE post > pre) AS n_plus,
         |    count(*) FILTER (WHERE post < pre) AS n_minus,
         |    count(*) FILTER (WHERE post = pre) AS n_ties
         |  FROM per)
         |SELECT n_users, n_plus, n_minus, n_ties,
         |  CASE WHEN n_plus + n_minus > 0 THEN
         |    ROUND(CAST(n_plus - n_minus AS DOUBLE)
         |      / sqrt(CAST(n_plus + n_minus AS DOUBLE))
         |      * 10000) / 10000 + 0.0 END AS z
         |FROM a""".stripMargin,
    // Same arm moments (HUGEINT), identical ratio chain, identical
    // degenerate-arm NULL rule.
    "agg_f_test_two_sample" ->
      """WITH e AS (SELECT user_id % 2 AS arm,
        |    CAST(round(value * 100) AS BIGINT) AS cents
        |  FROM events WHERE event_type = 'purchase'),
        |a AS (SELECT arm, count(*) AS n,
        |    CAST(sum(CAST(cents AS HUGEINT)) AS HUGEINT) AS sx,
        |    CAST(sum(CAST(cents AS HUGEINT) * cents) AS HUGEINT)
        |      AS sxx
        |  FROM e GROUP BY 1),
        |p AS (SELECT max(CASE WHEN arm = 0 THEN n END) AS n1,
        |    max(CASE WHEN arm = 0 THEN sx END) AS sx1,
        |    max(CASE WHEN arm = 0 THEN sxx END) AS sxx1,
        |    max(CASE WHEN arm = 1 THEN n END) AS n2,
        |    max(CASE WHEN arm = 1 THEN sx END) AS sx2,
        |    max(CASE WHEN arm = 1 THEN sxx END) AS sxx2
        |  FROM a)
        |SELECT n1, n2,
        |  CASE WHEN n1 > 1 AND n2 > 1
        |      AND CAST(n2 AS HUGEINT) * sxx2 - sx2 * sx2 > 0 THEN
        |    ROUND((CAST(CAST(n1 AS HUGEINT) * sxx1 - sx1 * sx1
        |        AS DOUBLE)
        |      / CAST(CAST(n1 AS HUGEINT) * (n1 - 1) AS DOUBLE))
        |    / (CAST(CAST(n2 AS HUGEINT) * sxx2 - sx2 * sx2 AS DOUBLE)
        |      / CAST(CAST(n2 AS HUGEINT) * (n2 - 1) AS DOUBLE))
        |    * 10000) / 10000 END AS f
        |FROM p""".stripMargin,
    // Same confusion spine, HUGEINT squared counts, identical Gini
    // chain, identical min + lowest-threshold tie-break.
    "eval_stump_split" ->
      """WITH e AS (SELECT value,
        |    event_type = 'purchase' AS pos FROM events),
        |th AS (SELECT CAST(range * 20 AS DOUBLE) AS threshold
        |  FROM range(1, 10)),
        |m AS (SELECT threshold,
        |    count(*) FILTER (WHERE pos AND value >= threshold) AS tp,
        |    count(*) FILTER (WHERE NOT pos AND value >= threshold)
        |      AS fp,
        |    count(*) FILTER (WHERE pos AND value < threshold) AS fn,
        |    count(*) FILTER (WHERE NOT pos AND value < threshold)
        |      AS tn
        |  FROM e CROSS JOIN th GROUP BY 1),
        |g AS (SELECT threshold, tp + fp AS n_left, fn + tn AS n_right,
        |    1.0 - (CASE WHEN tp + fp > 0 THEN
        |        CAST(CAST(tp AS HUGEINT) * tp
        |          + CAST(fp AS HUGEINT) * fp AS DOUBLE)
        |          / CAST(tp + fp AS DOUBLE) ELSE 0.0 END
        |      + CASE WHEN fn + tn > 0 THEN
        |        CAST(CAST(fn AS HUGEINT) * fn
        |          + CAST(tn AS HUGEINT) * tn AS DOUBLE)
        |          / CAST(fn + tn AS DOUBLE) ELSE 0.0 END)
        |      / CAST(tp + fp + fn + tn AS DOUBLE) AS gd
        |  FROM m),
        |mn AS (SELECT min(gd) AS mg FROM g),
        |bt AS (SELECT min(threshold) AS bt FROM g CROSS JOIN mn
        |  WHERE gd = mg)
        |SELECT threshold, n_left, n_right,
        |  ROUND(gd * 10000) / 10000 AS gini,
        |  threshold = bt AS is_best
        |FROM g CROSS JOIN bt ORDER BY threshold""".stripMargin,
    // Same confusion counts; exact HUGEINT numerator, the identical
    // fixed-order marginal product under one sqrt.
    "eval_matthews_corr" ->
      """WITH e AS (SELECT value,
        |    event_type = 'purchase' AS pos FROM events),
        |th AS (SELECT CAST(range * 20 AS DOUBLE) AS threshold
        |  FROM range(1, 10)),
        |m AS (SELECT threshold,
        |    count(*) FILTER (WHERE pos AND value >= threshold) AS tp,
        |    count(*) FILTER (WHERE NOT pos AND value >= threshold)
        |      AS fp,
        |    count(*) FILTER (WHERE pos AND value < threshold) AS fn,
        |    count(*) FILTER (WHERE NOT pos AND value < threshold)
        |      AS tn
        |  FROM e CROSS JOIN th GROUP BY 1)
        |SELECT threshold, tp, fp, fn, tn,
        |  CASE WHEN tp + fp > 0 AND tp + fn > 0 AND tn + fp > 0
        |      AND tn + fn > 0 THEN
        |    ROUND(CAST(CAST(tp AS HUGEINT) * tn
        |        - CAST(fp AS HUGEINT) * fn AS DOUBLE)
        |      / sqrt(CAST(tp + fp AS DOUBLE) * CAST(tp + fn AS DOUBLE)
        |        * CAST(tn + fp AS DOUBLE) * CAST(tn + fn AS DOUBLE))
        |      * 10000) / 10000 + 0.0 END AS mcc
        |FROM m ORDER BY threshold""".stripMargin,
    // Same midpoint split, user-grain reduce, HUGEINT moments, and
    // the identical θ / adjusted-mean double chain.
    "ab_cuped_adjustment" ->
      s"""WITH e AS (SELECT user_id, ${sqlEpochDay("ts")} AS day,
         |    CAST(round(value * 100) AS BIGINT) AS cents
         |  FROM events WHERE event_type = 'purchase'),
         |b AS (SELECT min(day) AS lo, max(day) AS hi FROM e),
         |per AS (SELECT user_id,
         |    CAST(sum(CASE WHEN day <= lo + (hi - lo) // 2 THEN cents
         |      ELSE 0 END) AS BIGINT) AS x,
         |    CAST(sum(CASE WHEN day > lo + (hi - lo) // 2 THEN cents
         |      ELSE 0 END) AS BIGINT) AS y,
         |    user_id % 2 AS arm
         |  FROM e CROSS JOIN b GROUP BY user_id),
         |g AS (SELECT count(*) AS n,
         |    CAST(sum(CAST(x AS HUGEINT)) AS HUGEINT) AS sx,
         |    CAST(sum(CAST(y AS HUGEINT)) AS HUGEINT) AS sy,
         |    CAST(sum(CAST(x AS HUGEINT) * x) AS HUGEINT) AS sxx,
         |    CAST(sum(CAST(x AS HUGEINT) * y) AS HUGEINT) AS sxy
         |  FROM per),
         |a AS (SELECT arm, count(*) AS n_users,
         |    CAST(sum(CAST(x AS HUGEINT)) AS HUGEINT) AS sxa,
         |    CAST(sum(CAST(y AS HUGEINT)) AS HUGEINT) AS sya
         |  FROM per GROUP BY 1),
         |j AS (SELECT *,
         |    CAST(CAST(n AS HUGEINT) * sxy - sx * sy AS DOUBLE)
         |      / CAST(CAST(n AS HUGEINT) * sxx - sx * sx AS DOUBLE)
         |      AS theta
         |  FROM a CROSS JOIN g)
         |SELECT arm, n_users,
         |  ROUND(CAST(sya AS DOUBLE) / CAST(n_users AS DOUBLE)
         |    * 10000) / 10000 AS mean_y,
         |  ROUND((CAST(sya AS DOUBLE) / CAST(n_users AS DOUBLE)
         |    - theta * (CAST(sxa AS DOUBLE) / CAST(n_users AS DOUBLE)
         |      - CAST(sx AS DOUBLE) / CAST(n AS DOUBLE)))
         |    * 10000) / 10000 + 0.0 AS mean_y_cuped,
         |  ROUND(theta * 10000) / 10000 + 0.0 AS theta
         |FROM j ORDER BY arm""".stripMargin,
    // Same distinct-cents dictionary, doubled-rank closed form,
    // HUGEINT moments, the identical final double chain.
    "agg_mann_whitney_u" ->
      """WITH e AS (SELECT user_id % 2 AS arm,
        |    CAST(round(value * 100) AS BIGINT) AS cents
        |  FROM events WHERE event_type = 'purchase'),
        |vc AS (SELECT cents,
        |    CAST(sum(CASE WHEN arm = 0 THEN 1 ELSE 0 END) AS BIGINT)
        |      AS n1v,
        |    CAST(sum(CASE WHEN arm = 1 THEN 1 ELSE 0 END) AS BIGINT)
        |      AS n2v
        |  FROM e GROUP BY 1),
        |v2 AS (SELECT cents, n1v, n2v, n1v + n2v AS nv FROM vc),
        |r AS (SELECT *, CAST(sum(nv) OVER (ORDER BY cents
        |    ROWS UNBOUNDED PRECEDING) AS BIGINT) AS hi FROM v2),
        |a AS (SELECT CAST(sum(n1v) AS BIGINT) AS n1,
        |    CAST(sum(n2v) AS BIGINT) AS n2,
        |    CAST(sum(CAST(n1v AS HUGEINT) * (hi - nv + 1 + hi))
        |      AS HUGEINT) AS r1x2,
        |    CAST(sum(CAST(nv AS HUGEINT) * nv * nv - nv) AS HUGEINT)
        |      AS tsum
        |  FROM r),
        |u AS (SELECT n1, n2,
        |    CAST(r1x2 - CAST(n1 AS HUGEINT) * (n1 + 1) AS DOUBLE)
        |      / 2.0 AS u1,
        |    tsum FROM a)
        |SELECT n1, n2, ROUND(u1 * 10000) / 10000 AS u1,
        |  ROUND((u1 - CAST(n1 AS DOUBLE) * CAST(n2 AS DOUBLE) / 2.0)
        |    / sqrt((CAST(n1 AS DOUBLE) * CAST(n2 AS DOUBLE) / 12.0)
        |      * (CAST(n1 + n2 AS DOUBLE) + 1.0
        |        - CAST(tsum AS DOUBLE)
        |          / (CAST(n1 + n2 AS DOUBLE)
        |            * (CAST(n1 + n2 AS DOUBLE) - 1.0))))
        |    * 10000) / 10000 + 0.0 AS z
        |FROM u""".stripMargin,
    // Same pooled p̂ and one z chain.
    "agg_two_proportion_z" ->
      """WITH e AS (SELECT user_id % 2 AS arm,
        |    CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END
        |      AS conv FROM events),
        |a AS (SELECT arm, count(*) AS n,
        |    CAST(sum(conv) AS BIGINT) AS c FROM e GROUP BY 1),
        |p AS (SELECT max(CASE WHEN arm = 0 THEN n END) AS n1,
        |    max(CASE WHEN arm = 0 THEN c END) AS c1,
        |    max(CASE WHEN arm = 1 THEN n END) AS n2,
        |    max(CASE WHEN arm = 1 THEN c END) AS c2 FROM a),
        |q AS (SELECT *, CAST(c1 + c2 AS DOUBLE)
        |    / CAST(n1 + n2 AS DOUBLE) AS p FROM p)
        |SELECT n1, c1, n2, c2,
        |  ROUND(CAST(c1 AS DOUBLE) / CAST(n1 AS DOUBLE) * 10000)
        |    / 10000 AS p1,
        |  ROUND(CAST(c2 AS DOUBLE) / CAST(n2 AS DOUBLE) * 10000)
        |    / 10000 AS p2,
        |  ROUND((CAST(c1 AS DOUBLE) / CAST(n1 AS DOUBLE)
        |      - CAST(c2 AS DOUBLE) / CAST(n2 AS DOUBLE))
        |    / sqrt(p * (1.0 - p) * (1.0 / CAST(n1 AS DOUBLE)
        |      + 1.0 / CAST(n2 AS DOUBLE))) * 10000) / 10000 + 0.0
        |    AS z
        |FROM q""".stripMargin,
    // Same cumulative integer counts; the two ln constants and the
    // boundary comparison spelled symbolically, unrounded llr on both
    // sides of the CASE.
    "ab_sprt_sequential" ->
      s"""WITH e AS (SELECT user_id % 2 AS arm,
         |    ${sqlEpochDay("ts")} AS day,
         |    CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END
         |      AS conv
         |  FROM events),
         |d AS (SELECT arm, day, count(*) AS n,
         |    CAST(sum(conv) AS BIGINT) AS c FROM e GROUP BY 1, 2),
         |cum AS (SELECT arm, day,
         |    CAST(sum(n) OVER w AS BIGINT) AS cn,
         |    CAST(sum(c) OVER w AS BIGINT) AS cc
         |  FROM d WINDOW w AS (PARTITION BY arm ORDER BY day
         |    ROWS UNBOUNDED PRECEDING)),
         |l AS (SELECT arm, day, cn, cc,
         |    CAST(cc AS DOUBLE) * ln(0.2 / 0.15)
         |      + CAST(cn - cc AS DOUBLE) * ln(0.8 / 0.85) AS llr0
         |  FROM cum)
         |SELECT arm, day, cn AS cum_trials, cc AS cum_conv,
         |  ROUND(llr0 * 10000) / 10000 + 0.0 AS llr,
         |  CASE WHEN llr0 >= ln(19.0) THEN 'reject_h0'
         |    WHEN llr0 <= -ln(19.0) THEN 'accept_h0'
         |    ELSE 'continue' END AS decision
         |FROM l ORDER BY arm, day""".stripMargin,
    // Same exact midpoint split and (|d|, user) competition ranks;
    // W and the z chain spelled operand-for-operand.
    "agg_wilcoxon_signed_rank" ->
      s"""WITH e AS (SELECT user_id, ${sqlEpochDay("ts")} AS day
         |  FROM events),
         |b AS (SELECT min(day) AS lo, max(day) AS hi FROM e),
         |pc AS (SELECT user_id,
         |    CAST(sum(CASE WHEN day * 2 < lo + hi THEN 1 ELSE 0 END)
         |      AS BIGINT) AS c1,
         |    CAST(sum(CASE WHEN day * 2 < lo + hi THEN 0 ELSE 1 END)
         |      AS BIGINT) AS c2
         |  FROM e CROSS JOIN b GROUP BY 1),
         |d AS (SELECT user_id, c2 - c1 AS dd, abs(c2 - c1) AS absd
         |  FROM pc WHERE c2 <> c1),
         |r AS (SELECT dd,
         |    row_number() OVER (ORDER BY absd, user_id) AS rk FROM d),
         |w AS (SELECT count(*) AS n_pairs,
         |    CAST(sum(CASE WHEN dd > 0 THEN rk ELSE 0 END) AS BIGINT)
         |      AS w_plus,
         |    CAST(sum(CASE WHEN dd < 0 THEN rk ELSE 0 END) AS BIGINT)
         |      AS w_minus
         |  FROM r)
         |SELECT n_pairs, w_plus, w_minus,
         |  ROUND((CAST(w_plus AS DOUBLE)
         |      - CAST(n_pairs AS DOUBLE) * CAST(n_pairs + 1 AS DOUBLE)
         |        / 4.0)
         |    / sqrt(CAST(n_pairs AS DOUBLE)
         |      * CAST(n_pairs + 1 AS DOUBLE)
         |      * CAST(n_pairs * 2 + 1 AS DOUBLE) / 24.0)
         |    * 10000) / 10000 + 0.0 AS z
         |FROM w""".stripMargin,
    "agg_chi2_independence" ->
      s"""WITH cells AS (SELECT event_type,
         |    (${sqlEpochDay("ts")}) % 7 AS dow, count(*) AS obs
         |  FROM events GROUP BY 1, 2),
         |tot AS (SELECT event_type, dow, obs,
         |    CAST(sum(obs) OVER (PARTITION BY event_type) AS BIGINT) AS r,
         |    CAST(sum(obs) OVER (PARTITION BY dow) AS BIGINT) AS c,
         |    CAST(sum(obs) OVER () AS BIGINT) AS n
         |  FROM cells),
         |ex AS (SELECT event_type, dow, obs,
         |    CAST(r * c AS DOUBLE) / CAST(n AS DOUBLE) AS e
         |  FROM tot)
         |SELECT event_type, dow, obs,
         |  ROUND(e * 10000) / 10000 + 0.0 AS expected,
         |  ROUND((CAST(obs AS DOUBLE) - e) * (CAST(obs AS DOUBLE) - e)
         |    / e * 10000) / 10000 + 0.0 AS chi2_contrib
         |FROM ex ORDER BY event_type, dow""".stripMargin,
    "agg_kendall_tau" ->
      s"""WITH e AS (SELECT event_type, ${sqlEpochDay("ts")} AS day
         |  FROM events),
         |b AS (SELECT min(day) AS lo, max(day) AS hi FROM e),
         |spine AS (SELECT unnest(range(lo, hi + 1)) AS day FROM b),
         |d0 AS (SELECT day,
         |    count(*) FILTER (WHERE event_type = 'click') AS cx,
         |    count(*) FILTER (WHERE event_type = 'purchase') AS cy
         |  FROM e GROUP BY day),
         |d AS (SELECT s.day, COALESCE(cx, 0) AS cx, COALESCE(cy, 0) AS cy
         |  FROM spine s LEFT JOIN d0 USING (day)),
         |p AS (SELECT (b2.cx - a.cx) * (b2.cy - a.cy) AS prod,
         |    a.cx = b2.cx AS tx, a.cy = b2.cy AS ty
         |  FROM d a JOIN d b2 ON a.day < b2.day),
         |m AS (SELECT count(*) AS n_pairs,
         |    count(*) FILTER (WHERE prod > 0) AS concordant,
         |    count(*) FILTER (WHERE prod < 0) AS discordant,
         |    count(*) FILTER (WHERE tx) AS ties_x,
         |    count(*) FILTER (WHERE ty) AS ties_y
         |  FROM p)
         |SELECT n_pairs, concordant, discordant, ties_x, ties_y,
         |  ROUND(CAST(concordant - discordant AS DOUBLE)
         |    / sqrt(CAST(n_pairs - ties_x AS DOUBLE)
         |      * CAST(n_pairs - ties_y AS DOUBLE)) * 10000) / 10000
         |    + 0.0 AS tau_b
         |FROM m""".stripMargin,
    "agg_benford_digits" ->
      """WITH d AS (SELECT CAST(substring(CAST(CAST(
        |      ROUND(o_totalprice * 100) AS BIGINT) AS VARCHAR), 1, 1)
        |      AS INT) AS digit, count(*) AS n
        |  FROM orders GROUP BY 1),
        |tt AS (SELECT digit, n, CAST(sum(n) OVER () AS BIGINT) AS total
        |  FROM d)
        |SELECT digit, n,
        |  ROUND(CAST(n AS DOUBLE) / CAST(total AS DOUBLE) * 10000)
        |    / 10000 + 0.0 AS share,
        |  ROUND(log10(1.0 + 1.0 / CAST(digit AS DOUBLE)) * 10000)
        |    / 10000 + 0.0 AS benford,
        |  ROUND((CAST(n AS DOUBLE) / CAST(total AS DOUBLE)
        |    - log10(1.0 + 1.0 / CAST(digit AS DOUBLE))) * 10000)
        |    / 10000 + 0.0 AS excess
        |FROM tt ORDER BY digit""".stripMargin,
    "eval_confusion_binary" ->
      """WITH th AS (SELECT CAST(i * 20 AS DOUBLE) AS threshold
        |  FROM (SELECT unnest(range(1, 10)) AS i)),
        |e AS (SELECT value, event_type = 'purchase' AS pos FROM events),
        |m AS (SELECT threshold,
        |    count(*) FILTER (WHERE pos AND value >= threshold) AS tp,
        |    count(*) FILTER (WHERE NOT pos AND value >= threshold) AS fp,
        |    count(*) FILTER (WHERE pos AND value < threshold) AS fn,
        |    count(*) FILTER (WHERE NOT pos AND value < threshold) AS tn
        |  FROM e CROSS JOIN th GROUP BY threshold),
        |r AS (SELECT *, CAST(tp AS DOUBLE) / CAST(tp + fp AS DOUBLE) AS p,
        |    CAST(tp AS DOUBLE) / CAST(tp + fn AS DOUBLE) AS rc
        |  FROM m)
        |SELECT threshold, tp, fp, fn, tn,
        |  CASE WHEN tp + fp > 0 THEN ROUND(p * 10000) / 10000 + 0.0 END
        |    AS precision,
        |  CASE WHEN tp + fn > 0 THEN ROUND(rc * 10000) / 10000 + 0.0 END
        |    AS recall,
        |  CASE WHEN tp + fp > 0 AND tp + fn > 0 AND tp > 0 THEN
        |    ROUND(2.0 * p * rc / (p + rc) * 10000) / 10000 + 0.0 END
        |    AS f1,
        |  ROUND(CAST(tp + tn AS DOUBLE)
        |    / CAST(tp + fp + fn + tn AS DOUBLE) * 10000) / 10000 + 0.0
        |    AS accuracy
        |FROM r ORDER BY threshold""".stripMargin,
    // Same doubled-rank AUC per user-parity half; exact rank sums.
    "eval_auc_stability" ->
      """WITH e AS (SELECT value,
        |    event_type = 'purchase' AS pos, user_id % 2 AS half
        |  FROM events),
        |b0 AS (SELECT value, count(*) AS n_v,
        |    count(*) FILTER (WHERE pos) AS p_v FROM e
        |  WHERE half = 0 GROUP BY value),
        |r0 AS (SELECT n_v, p_v, CAST(sum(n_v) OVER (ORDER BY value
        |    ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum FROM b0),
        |m0 AS (SELECT CAST(sum(p_v) AS BIGINT) AS np,
        |    CAST(sum(n_v - p_v) AS BIGINT) AS nn,
        |    CAST(sum(p_v * (2 * cum - n_v + 1)) AS BIGINT) AS sdr
        |  FROM r0),
        |a0 AS (SELECT CAST(sdr - np * (np + 1) AS DOUBLE)
        |    / CAST(2 * np * nn AS DOUBLE) AS a0 FROM m0),
        |b1 AS (SELECT value, count(*) AS n_v,
        |    count(*) FILTER (WHERE pos) AS p_v FROM e
        |  WHERE half = 1 GROUP BY value),
        |r1 AS (SELECT n_v, p_v, CAST(sum(n_v) OVER (ORDER BY value
        |    ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum FROM b1),
        |m1 AS (SELECT CAST(sum(p_v) AS BIGINT) AS np,
        |    CAST(sum(n_v - p_v) AS BIGINT) AS nn,
        |    CAST(sum(p_v * (2 * cum - n_v + 1)) AS BIGINT) AS sdr
        |  FROM r1),
        |a1 AS (SELECT CAST(sdr - np * (np + 1) AS DOUBLE)
        |    / CAST(2 * np * nn AS DOUBLE) AS a1 FROM m1)
        |SELECT ROUND(a0 * 10000) / 10000 AS auc_even,
        |  ROUND(a1 * 10000) / 10000 AS auc_odd,
        |  ROUND(abs(a0 - a1) * 10000) / 10000 AS auc_gap
        |FROM a0 CROSS JOIN a1""".stripMargin,
    "eval_auc_rank" ->
      """WITH bys AS (SELECT value, count(*) AS n_v,
        |    count(*) FILTER (WHERE event_type = 'purchase') AS p_v
        |  FROM events GROUP BY value),
        |rk AS (SELECT n_v, p_v,
        |    CAST(sum(n_v) OVER (ORDER BY value
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |      AS BIGINT) AS cum
        |  FROM bys),
        |m AS (SELECT CAST(sum(p_v) AS BIGINT) AS n_pos,
        |    CAST(sum(n_v - p_v) AS BIGINT) AS n_neg,
        |    CAST(sum(p_v * (2 * cum - n_v + 1)) AS BIGINT) AS sum_dr_pos
        |  FROM rk)
        |SELECT n_pos, n_neg,
        |  ROUND(CAST(sum_dr_pos - n_pos * (n_pos + 1) AS DOUBLE)
        |    / CAST(2 * n_pos * n_neg AS DOUBLE) * 10000) / 10000 + 0.0
        |    AS auc
        |FROM m""".stripMargin,
    "eval_calibration_bins" ->
      """WITH e AS (SELECT
        |    least(CAST(floor(value / 20) AS INT), 9) AS bin,
        |    least(value, 200.0) AS vc,
        |    event_type = 'purchase' AS pos
        |  FROM events)
        |SELECT bin, count(*) AS n,
        |  count(*) FILTER (WHERE pos) AS n_pos,
        |  ROUND(CAST(SUM(CAST(vc AS DECIMAL(38,6))) AS DOUBLE)
        |    / count(*) / 200.0 * 10000) / 10000 + 0.0 AS mean_pred,
        |  ROUND(CAST(count(*) FILTER (WHERE pos) AS DOUBLE)
        |    / CAST(count(*) AS DOUBLE) * 10000) / 10000 + 0.0 AS frac_pos,
        |  ROUND((ROUND(CAST(count(*) FILTER (WHERE pos) AS DOUBLE)
        |      / CAST(count(*) AS DOUBLE) * 10000) / 10000
        |    - ROUND(CAST(SUM(CAST(vc AS DECIMAL(38,6))) AS DOUBLE)
        |      / count(*) / 200.0 * 10000) / 10000) * 10000) / 10000 + 0.0
        |    AS gap
        |FROM e GROUP BY bin ORDER BY bin""".stripMargin,
    // Bootstrap: identical md5-prefix Poisson draws, exact decimal
    // replicate sums, 1-based list index selection after list_sort.
    "agg_bootstrap_ci" ->
      s"""WITH r AS (SELECT event_id, event_type, value,
         |    CAST(b AS INT) AS b
         |  FROM events, LATERAL (SELECT unnest(range(1, 49)) AS b)),
         |c AS (SELECT event_type, b, value,
         |    CASE WHEN h < '5e2d' THEN 0 WHEN h < 'bc5a' THEN 1
         |         WHEN h < 'eb71' THEN 2 WHEN h < 'fb23' THEN 3
         |         WHEN h < 'ff10' THEN 4 WHEN h < 'ffd9' THEN 5
         |         ELSE 6 END AS cnt
         |  FROM (SELECT *, substr(md5(CAST(event_id AS VARCHAR)
         |      || ':' || CAST(b AS VARCHAR)), 1, 4) AS h FROM r)),
         |rep AS (SELECT event_type, b,
         |    CAST(sum(cnt) AS BIGINT) AS m,
         |    sum(CAST(cnt * value AS DECIMAL(38,6))) AS sv
         |  FROM c GROUP BY 1, 2),
         |mb AS (SELECT event_type,
         |    CAST(sv AS DOUBLE) / CAST(m AS DOUBLE) AS mean_b
         |  FROM rep WHERE m > 0),
         |ci AS (SELECT event_type, count(*) AS n_replicates,
         |    list_sort(list(mean_b)) AS ms
         |  FROM mb GROUP BY 1),
         |f AS (SELECT event_type, count(*) AS n,
         |    ${sqlAvg("value")} AS mean_value
         |  FROM events GROUP BY 1)
         |SELECT f.event_type, n, mean_value, n_replicates,
         |  ROUND(ms[CAST(ceil(n_replicates * 0.025) AS INT)] * 10000)
         |    / 10000 AS ci_lo,
         |  ROUND(ms[CAST(ceil(n_replicates * 0.975) AS INT)] * 10000)
         |    / 10000 AS ci_hi
         |FROM f JOIN ci USING (event_type)
         |ORDER BY event_type""".stripMargin,
    // PR-AUC: same cents-grid + descending cumulative counts, with
    // the sorted-list fold (list_sort orders by nscore, the first
    // struct field) — window sums CAST back from HUGEINT.
    "eval_pr_auc" ->
      """WITH e AS (SELECT CAST(round(value * 100) AS BIGINT) AS cents,
        |    event_type = 'purchase' AS pos FROM events),
        |byv AS (SELECT cents, count(*) AS n_v,
        |    count(*) FILTER (WHERE pos) AS p_v
        |  FROM e GROUP BY cents),
        |cum AS (SELECT -cents AS nscore, p_v,
        |    CAST(sum(n_v) OVER (ORDER BY cents DESC
        |      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cumn,
        |    CAST(sum(p_v) OVER (ORDER BY cents DESC
        |      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cump
        |  FROM byv),
        |g AS (SELECT CAST(sum(p_v) AS BIGINT) AS n_pos,
        |    list_sort(list(
        |      {'nscore': nscore, 'p_v': p_v, 'cump': cump, 'cumn': cumn}))
        |      AS vs
        |  FROM cum)
        |SELECT n_pos,
        |  ROUND(list_aggregate(list_transform(vs,
        |      x -> CAST(x.p_v AS DOUBLE)
        |        * (CAST(x.cump AS DOUBLE) / CAST(x.cumn AS DOUBLE))),
        |      'sum')
        |    / CAST(n_pos AS DOUBLE) * 10000) / 10000 AS ap
        |FROM g""".stripMargin,
    // KS: exact integer cross-multiplied D over the pooled value
    // grid; windowed cumulative sums of BIGINT counts go HUGEINT in
    // DuckDB → CAST back (the HUGEINT lesson). Only the two final
    // divisions and the sqrt touch the float domain.
    "agg_ks_test" ->
      """WITH e AS (SELECT value, event_type = 'click' AS isx
        |  FROM events WHERE event_type IN ('click', 'purchase')),
        |byv AS (SELECT value,
        |    count(*) FILTER (WHERE isx) AS a,
        |    count(*) FILTER (WHERE NOT isx) AS b
        |  FROM e GROUP BY value),
        |cum AS (SELECT
        |    CAST(sum(a) OVER (ORDER BY value
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |      AS BIGINT) AS c1,
        |    CAST(sum(b) OVER (ORDER BY value
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |      AS BIGINT) AS c2,
        |    CAST(sum(a) OVER () AS BIGINT) AS n1,
        |    CAST(sum(b) OVER () AS BIGINT) AS n2
        |  FROM byv)
        |SELECT max(n1) AS n1, max(n2) AS n2,
        |  ROUND(CAST(max(abs(c1 * n2 - c2 * n1)) AS DOUBLE)
        |    / CAST(max(n1) * max(n2) AS DOUBLE) * 10000) / 10000
        |    AS d_stat,
        |  ROUND(1.36 * sqrt(CAST(max(n1) + max(n2) AS DOUBLE)
        |    / CAST(max(n1) * max(n2) AS DOUBLE)) * 10000) / 10000
        |    AS crit_05
        |FROM cum""".stripMargin,
    // Runs: all-integer run/sign tallies on the zero-filled spine;
    // z is assembled from those integers operand-for-operand with
    // the Spark expression and carries the +0.0 normalizer
    // (negative-capable statistic).
    "agg_runs_test" ->
      s"""WITH e AS (SELECT event_type, ${sqlEpochDay("ts")} AS day
         |  FROM events),
         |b AS (SELECT min(day) AS lo, max(day) AS hi FROM e),
         |spine AS (SELECT unnest(range(lo, hi + 1)) AS day FROM b),
         |d0 AS (SELECT day,
         |    count(*) FILTER (WHERE event_type = 'click') AS cx,
         |    count(*) FILTER (WHERE event_type = 'purchase') AS cy
         |  FROM e GROUP BY day),
         |d AS (SELECT s.day,
         |    COALESCE(cx, 0) + COALESCE(cy, 0) AS y
         |  FROM spine s LEFT JOIN d0 USING (day)),
         |lg AS (SELECT day, y, lag(y) OVER (ORDER BY day) AS py
         |  FROM d),
         |sg AS (SELECT day,
         |    CASE WHEN y > py THEN 1 ELSE -1 END AS sg
         |  FROM lg WHERE py IS NOT NULL AND y <> py),
         |sq AS (SELECT sg, lag(sg) OVER (ORDER BY day) AS psg FROM sg),
         |m AS (SELECT
         |    count(*) FILTER (WHERE sg = 1) AS n_plus,
         |    count(*) FILTER (WHERE sg = -1) AS n_minus,
         |    CASE WHEN count(*) > 0 THEN
         |      count(*) FILTER (WHERE psg IS NOT NULL AND sg <> psg)
         |        + 1 ELSE 0 END AS n_runs
         |  FROM sq)
         |SELECT n_plus, n_minus, n_runs,
         |  CASE WHEN n_plus > 0 AND n_minus > 0 THEN
         |    ROUND((CAST(n_runs AS DOUBLE)
         |      - (1.0 + 2.0 * CAST(n_plus AS DOUBLE)
         |        * CAST(n_minus AS DOUBLE)
         |        / (CAST(n_plus AS DOUBLE) + CAST(n_minus AS DOUBLE))))
         |      / sqrt(2.0 * CAST(n_plus AS DOUBLE)
         |          * CAST(n_minus AS DOUBLE)
         |          * (2.0 * CAST(n_plus AS DOUBLE)
         |            * CAST(n_minus AS DOUBLE)
         |            - (CAST(n_plus AS DOUBLE)
         |              + CAST(n_minus AS DOUBLE)))
         |        / ((CAST(n_plus AS DOUBLE) + CAST(n_minus AS DOUBLE))
         |          * (CAST(n_plus AS DOUBLE) + CAST(n_minus AS DOUBLE))
         |          * ((CAST(n_plus AS DOUBLE)
         |            + CAST(n_minus AS DOUBLE)) - 1)))
         |      * 10000) / 10000 + 0.0 END AS z
         |FROM m""".stripMargin,
    // Pythagorean means: integer cents-grid reduce, then the same
    // ascending (cents, n_v) fold Spark evaluates — list_sort on the
    // struct orders by cents (first field), list_aggregate('sum')
    // folds left-to-right (the entropy-key precedent).
    "agg_geo_harmonic_mean" ->
      """WITH pos AS (SELECT event_type,
        |    CAST(round(value * 100) AS BIGINT) AS cents
        |  FROM events WHERE value > 0),
        |byv AS (SELECT event_type, cents, count(*) AS n_v
        |  FROM pos GROUP BY 1, 2),
        |g AS (SELECT event_type, CAST(sum(n_v) AS BIGINT) AS n,
        |    CAST(sum(cents * n_v) AS BIGINT) AS sc,
        |    list_sort(list({'cents': cents, 'n_v': n_v})) AS vs
        |  FROM byv GROUP BY 1)
        |SELECT event_type, n,
        |  ROUND(exp(list_aggregate(list_transform(vs,
        |      x -> CAST(x.n_v AS DOUBLE)
        |        * ln(CAST(x.cents AS DOUBLE) / 100.0)), 'sum')
        |    / CAST(n AS DOUBLE)) * 10000) / 10000 AS geo_mean,
        |  ROUND(CAST(n AS DOUBLE)
        |    / list_aggregate(list_transform(vs,
        |      x -> CAST(x.n_v AS DOUBLE)
        |        / (CAST(x.cents AS DOUBLE) / 100.0)), 'sum')
        |    * 10000) / 10000 AS harm_mean,
        |  ROUND(CAST(sc AS DOUBLE) / 100.0 / CAST(n AS DOUBLE)
        |    * 10000) / 10000 AS arith_mean
        |FROM g ORDER BY event_type""".stripMargin,
    "agg_spearman_corr" ->
      s"""WITH e AS (SELECT event_type, ${sqlEpochDay("ts")} AS day
         |  FROM events),
         |b AS (SELECT min(day) AS lo, max(day) AS hi FROM e),
         |spine AS (SELECT unnest(range(lo, hi + 1)) AS day FROM b),
         |d0 AS (SELECT day,
         |    count(*) FILTER (WHERE event_type = 'click') AS cx,
         |    count(*) FILTER (WHERE event_type = 'purchase') AS cy
         |  FROM e GROUP BY day),
         |d AS (SELECT s.day, COALESCE(cx, 0) AS cx, COALESCE(cy, 0) AS cy
         |  FROM spine s LEFT JOIN d0 USING (day)),
         |rx AS (SELECT cx, 2 * CAST(sum(n_v) OVER (ORDER BY cx
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
         |      AS BIGINT) - n_v + 1 AS dr_cx
         |  FROM (SELECT cx, count(*) AS n_v FROM d GROUP BY cx)),
         |ry AS (SELECT cy, 2 * CAST(sum(n_v) OVER (ORDER BY cy
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
         |      AS BIGINT) - n_v + 1 AS dr_cy
         |  FROM (SELECT cy, count(*) AS n_v FROM d GROUP BY cy)),
         |rk AS (SELECT dr_cx, dr_cy FROM d
         |  JOIN rx USING (cx) JOIN ry USING (cy)),
         |m AS (SELECT count(*) AS n,
         |    CAST(sum(dr_cx) AS HUGEINT) AS sx,
         |    CAST(sum(dr_cy) AS HUGEINT) AS sy,
         |    CAST(sum(dr_cx * dr_cy) AS HUGEINT) AS sxy,
         |    CAST(sum(dr_cx * dr_cx) AS HUGEINT) AS sxx,
         |    CAST(sum(dr_cy * dr_cy) AS HUGEINT) AS syy
         |  FROM rk)
         |SELECT n AS n_days,
         |  CASE WHEN n * sxx > sx * sx AND n * syy > sy * sy THEN
         |    ROUND(CAST(n * sxy - sx * sy AS DOUBLE)
         |      / (sqrt(CAST(n * sxx - sx * sx AS DOUBLE))
         |        * sqrt(CAST(n * syy - sy * sy AS DOUBLE))) * 10000)
         |      / 10000 + 0.0 END AS rho
         |FROM m""".stripMargin,
    // Same group-key-sorted list fold for the order-sensitive
    // Σ S_g²/n_g; every other moment is an exact BIGINT.
    "agg_anova_oneway" ->
      """WITH li AS (SELECT l_returnflag AS g,
        |    CAST(round(l_quantity) AS BIGINT) AS q FROM lineitem),
        |grp AS (SELECT g, count(*) AS n_g,
        |    CAST(sum(q) AS BIGINT) AS s_g,
        |    CAST(sum(q * q) AS BIGINT) AS q2_g
        |  FROM li GROUP BY 1),
        |one AS (SELECT list_sort(list({'g': g, 'n_g': n_g, 's_g': s_g,
        |      'q2_g': q2_g})) AS gs FROM grp),
        |m AS (SELECT CAST(len(gs) AS BIGINT) AS k,
        |    CAST(list_aggregate(list_transform(gs, x -> x.n_g), 'sum')
        |      AS BIGINT) AS n,
        |    CAST(list_aggregate(list_transform(gs, x -> x.s_g), 'sum')
        |      AS BIGINT) AS s,
        |    CAST(list_aggregate(list_transform(gs, x -> x.q2_g), 'sum')
        |      AS BIGINT) AS q2,
        |    list_aggregate(list_transform(gs,
        |      x -> CAST(x.s_g * x.s_g AS DOUBLE)
        |        / CAST(x.n_g AS DOUBLE)), 'sum') AS bs
        |  FROM one),
        |f AS (SELECT k, n,
        |    bs - CAST(s AS DOUBLE) * CAST(s AS DOUBLE)
        |      / CAST(n AS DOUBLE) AS ssb,
        |    CAST(q2 AS DOUBLE) - bs AS ssw
        |  FROM m)
        |SELECT k, n,
        |  ROUND(ssb * 10000) / 10000 AS ss_between,
        |  ROUND(ssw * 10000) / 10000 AS ss_within,
        |  CASE WHEN k > 1 AND n > k AND ssw > 0 THEN
        |    ROUND((ssb / CAST(k - 1 AS DOUBLE))
        |      / (ssw / CAST(n - k AS DOUBLE)) * 10000) / 10000
        |  END AS f_stat
        |FROM f""".stripMargin,
    // The spine CTE is agg_spearman_corr's; moments per lag go
    // HUGEINT internally, r is negative-capable → +0.0 normalizer.
    "ts_cross_corr" ->
      s"""WITH e AS (SELECT event_type, ${sqlEpochDay("ts")} AS day
         |  FROM events),
         |b AS (SELECT min(day) AS lo, max(day) AS hi FROM e),
         |spine AS (SELECT unnest(range(lo, hi + 1)) AS day FROM b),
         |d0 AS (SELECT day,
         |    count(*) FILTER (WHERE event_type = 'click') AS cx,
         |    count(*) FILTER (WHERE event_type = 'purchase') AS cy
         |  FROM e GROUP BY day),
         |d AS (SELECT s.day, COALESCE(cx, 0) AS cx, COALESCE(cy, 0) AS cy
         |  FROM spine s LEFT JOIN d0 USING (day)),
         |lags AS (SELECT unnest(range(-7, 8)) AS lag),
         |j AS (SELECT l.lag, x.cx, y.cy
         |  FROM d x CROSS JOIN lags l
         |  JOIN d y ON y.day = x.day + l.lag),
         |m AS (SELECT lag, count(*) AS n,
         |    CAST(sum(cx) AS HUGEINT) AS sx,
         |    CAST(sum(cy) AS HUGEINT) AS sy,
         |    CAST(sum(cx * cy) AS HUGEINT) AS sxy,
         |    CAST(sum(cx * cx) AS HUGEINT) AS sxx,
         |    CAST(sum(cy * cy) AS HUGEINT) AS syy
         |  FROM j GROUP BY lag)
         |SELECT lag, n,
         |  CASE WHEN n * sxx > sx * sx AND n * syy > sy * sy THEN
         |    ROUND(CAST(n * sxy - sx * sy AS DOUBLE)
         |      / (sqrt(CAST(n * sxx - sx * sx AS DOUBLE))
         |        * sqrt(CAST(n * syy - sy * sy AS DOUBLE))) * 10000)
         |      / 10000 + 0.0 END AS r
         |FROM m ORDER BY lag""".stripMargin,
    // Same 5-bucket annotator fixture; marginal products summed in
    // DECIMAL(38,0) to mirror Spark's fold, cast back at the edge.
    // Same 5-grade rater pair; exact DECIMAL(38,0) weighted sums,
    // one final division.
    "eval_weighted_kappa" ->
      """WITH d AS (SELECT doc_id,
        |    CAST(n_chars % 5 AS BIGINT) AS la FROM documents),
        |ab AS (SELECT doc_id, la,
        |    CASE WHEN doc_id % 7 = 0 THEN (la + 1 + doc_id % 3) % 5
        |      ELSE la END AS lb
        |  FROM d),
        |svo AS (SELECT CAST(sum(CAST(abs(la - lb) * o
        |      AS DECIMAL(38,0))) AS DECIMAL(38,0)) AS svo
        |  FROM (SELECT la, lb, count(*) AS o FROM ab GROUP BY 1, 2)),
        |ma AS (SELECT la, count(*) AS ra FROM ab GROUP BY la),
        |mb AS (SELECT lb, count(*) AS rb FROM ab GROUP BY lb),
        |sve AS (SELECT CAST(sum(CAST(abs(la - lb) AS DECIMAL(38,0))
        |      * ra * rb) AS DECIMAL(38,0)) AS sve
        |  FROM ma CROSS JOIN mb),
        |tot AS (SELECT count(*) AS n FROM ab)
        |SELECT n, CAST(svo AS BIGINT) AS sum_weighted_obs,
        |  CAST(sve AS BIGINT) AS sum_weighted_exp,
        |  CASE WHEN sve > 0 THEN
        |    ROUND((1.0 - CAST(CAST(n AS DECIMAL(38,0)) * svo
        |        AS DOUBLE) / CAST(sve AS DOUBLE)) * 10000) / 10000
        |      + 0.0 END AS kappa_w
        |FROM tot CROSS JOIN svo CROSS JOIN sve""".stripMargin,
    "eval_cohen_kappa" ->
      """WITH d AS (SELECT doc_id,
        |    CAST(n_chars % 5 AS BIGINT) AS la FROM documents),
        |ab AS (SELECT doc_id, la,
        |    CASE WHEN doc_id % 7 = 0 THEN (la + 1 + doc_id % 3) % 5
        |      ELSE la END AS lb
        |  FROM d),
        |ma AS (SELECT la, count(*) AS ra FROM ab GROUP BY la),
        |mb AS (SELECT lb, count(*) AS rb FROM ab GROUP BY lb),
        |pe AS (SELECT CAST(sum(CAST(ra AS DECIMAL(38,0)) * rb)
        |    AS DECIMAL(38,0)) AS pe_num
        |  FROM ma JOIN mb ON ma.la = mb.lb),
        |tot AS (SELECT count(*) AS n,
        |    count(*) FILTER (WHERE la = lb) AS n_agree FROM ab)
        |SELECT n, n_agree, CAST(pe_num AS BIGINT) AS pe_num,
        |  ROUND(CAST(n_agree AS DOUBLE) / CAST(n AS DOUBLE) * 10000)
        |    / 10000 + 0.0 AS po,
        |  ROUND(CAST(pe_num AS DOUBLE)
        |    / CAST(CAST(n AS DECIMAL(38,0)) * n AS DOUBLE) * 10000)
        |    / 10000 + 0.0 AS pe,
        |  CASE WHEN CAST(n AS DECIMAL(38,0)) * n - pe_num > 0 THEN
        |    ROUND(CAST(CAST(n AS DECIMAL(38,0)) * n_agree - pe_num
        |        AS DOUBLE)
        |      / CAST(CAST(n AS DECIMAL(38,0)) * n - pe_num AS DOUBLE)
        |      * 10000) / 10000 + 0.0 END AS kappa
        |FROM tot CROSS JOIN pe""".stripMargin,
    // Same spine + pair-join device as Kendall; every count/cube an
    // exact BIGINT, the continuity-corrected z operand-order pinned.
    "ts_mann_kendall" ->
      s"""WITH e AS (SELECT event_type, ${sqlEpochDay("ts")} AS day
         |  FROM events),
         |b AS (SELECT min(day) AS lo, max(day) AS hi FROM e),
         |spine AS (SELECT unnest(range(lo, hi + 1)) AS day FROM b),
         |d0 AS (SELECT day,
         |    count(*) FILTER (WHERE event_type = 'purchase') AS cy
         |  FROM e GROUP BY day),
         |d AS (SELECT s.day, COALESCE(cy, 0) AS v
         |  FROM spine s LEFT JOIN d0 USING (day)),
         |sa AS (SELECT CAST(count(*) FILTER (WHERE b2.v > a.v)
         |      - count(*) FILTER (WHERE b2.v < a.v) AS BIGINT) AS s_stat
         |  FROM d a JOIN d b2 ON a.day < b2.day),
         |nn AS (SELECT count(*) AS n FROM d),
         |tg AS (SELECT v, count(*) AS t FROM d GROUP BY v
         |  HAVING count(*) > 1),
         |ties AS (SELECT COALESCE(CAST(sum(t * (t - 1) * (2 * t + 5))
         |      AS BIGINT), 0) AS tie_term FROM tg),
         |m AS (SELECT n, s_stat, tie_term,
         |    n * (n - 1) * (2 * n + 5) - tie_term AS var18
         |  FROM nn CROSS JOIN sa CROSS JOIN ties)
         |SELECT n, s_stat, tie_term, var18,
         |  CASE WHEN var18 > 0 AND s_stat <> 0 THEN
         |    ROUND((CAST(s_stat AS DOUBLE)
         |        - CASE WHEN s_stat > 0 THEN 1.0 ELSE -1.0 END)
         |      / sqrt(CAST(var18 AS DOUBLE) / 18.0) * 10000) / 10000
         |      + 0.0
         |  WHEN var18 > 0 THEN 0.0 END AS z
         |FROM m""".stripMargin,
    // Group medians are exact PERCENTILE_DISC order statistics on the
    // integer grid; the F over |q − med| reuses the ANOVA fold.
    "agg_levene_test" ->
      """WITH li AS (SELECT l_returnflag AS g,
        |    CAST(round(l_quantity) AS BIGINT) AS q FROM lineitem),
        |med AS (SELECT g, CAST(percentile_disc(0.5)
        |      WITHIN GROUP (ORDER BY q) AS BIGINT) AS med
        |  FROM li GROUP BY g),
        |z AS (SELECT li.g, abs(q - med) AS z
        |  FROM li JOIN med USING (g)),
        |grp AS (SELECT g, count(*) AS n_g,
        |    CAST(sum(z) AS BIGINT) AS s_g,
        |    CAST(sum(z * z) AS BIGINT) AS q2_g
        |  FROM z GROUP BY 1),
        |one AS (SELECT list_sort(list({'g': g, 'n_g': n_g, 's_g': s_g,
        |      'q2_g': q2_g})) AS gs FROM grp),
        |m AS (SELECT CAST(len(gs) AS BIGINT) AS k,
        |    CAST(list_aggregate(list_transform(gs, x -> x.n_g), 'sum')
        |      AS BIGINT) AS n,
        |    CAST(list_aggregate(list_transform(gs, x -> x.s_g), 'sum')
        |      AS BIGINT) AS s,
        |    CAST(list_aggregate(list_transform(gs, x -> x.q2_g), 'sum')
        |      AS BIGINT) AS q2,
        |    list_aggregate(list_transform(gs,
        |      x -> CAST(x.s_g * x.s_g AS DOUBLE)
        |        / CAST(x.n_g AS DOUBLE)), 'sum') AS bs
        |  FROM one),
        |f AS (SELECT k, n,
        |    bs - CAST(s AS DOUBLE) * CAST(s AS DOUBLE)
        |      / CAST(n AS DOUBLE) AS ssb,
        |    CAST(q2 AS DOUBLE) - bs AS ssw
        |  FROM m)
        |SELECT k, n,
        |  ROUND(ssb * 10000) / 10000 AS ss_between,
        |  ROUND(ssw * 10000) / 10000 AS ss_within,
        |  CASE WHEN k > 1 AND n > k AND ssw > 0 THEN
        |    ROUND((ssb / CAST(k - 1 AS DOUBLE))
        |      / (ssw / CAST(n - k AS DOUBLE)) * 10000) / 10000
        |  END AS w_stat
        |FROM f""".stripMargin,
    // Chi² total folded over the (type, dow)-sorted per-cell
    // contributions (each IEEE-identical cross-engine); V's sqrt on
    // pinned operands.
    "agg_cramers_v" ->
      s"""WITH cells AS (SELECT event_type,
         |    (${sqlEpochDay("ts")}) % 7 AS dw, count(*) AS obs
         |  FROM events GROUP BY 1, 2),
         |tot AS (SELECT event_type, dw, obs,
         |    CAST(sum(obs) OVER (PARTITION BY event_type) AS BIGINT) AS r,
         |    CAST(sum(obs) OVER (PARTITION BY dw) AS BIGINT) AS c,
         |    CAST(sum(obs) OVER () AS BIGINT) AS n
         |  FROM cells),
         |ct AS (SELECT event_type, dw, obs, r, c, n,
         |    (CAST(obs AS DOUBLE) - CAST(r * c AS DOUBLE)
         |        / CAST(n AS DOUBLE))
         |      * (CAST(obs AS DOUBLE) - CAST(r * c AS DOUBLE)
         |        / CAST(n AS DOUBLE))
         |      / (CAST(r * c AS DOUBLE) / CAST(n AS DOUBLE)) AS contrib
         |  FROM tot),
         |m AS (SELECT count(*) AS n_cells, max(n) AS n,
         |    CAST(count(DISTINCT event_type) AS BIGINT) AS r_cat,
         |    CAST(count(DISTINCT dw) AS BIGINT) AS c_cat,
         |    list_aggregate(list_transform(
         |      list_sort(list({'event_type': event_type, 'dw': dw,
         |        'contrib': contrib})), x -> x.contrib), 'sum') AS chi2
         |  FROM ct)
         |SELECT n_cells, n, r_cat, c_cat,
         |  (r_cat - 1) * (c_cat - 1) AS dof,
         |  ROUND(chi2 * 10000) / 10000 + 0.0 AS chi2,
         |  CASE WHEN n > 0 AND least(r_cat, c_cat) > 1 THEN
         |    ROUND(sqrt(chi2 / CAST(n * least(r_cat - 1, c_cat - 1)
         |      AS DOUBLE)) * 10000) / 10000 + 0.0 END AS v
         |FROM m""".stripMargin,
    // n²-scaled centered products keep every autocovariance an exact
    // integer (HUGEINT here, decimal(38,0) on the Spark side); the
    // cumulative Q folds over the lag-ordered 7-row window.
    "ts_ljung_box" ->
      s"""WITH e AS (SELECT event_type, ${sqlEpochDay("ts")} AS day
         |  FROM events),
         |b AS (SELECT min(day) AS lo, max(day) AS hi FROM e),
         |spine AS (SELECT unnest(range(lo, hi + 1)) AS day FROM b),
         |d0 AS (SELECT day,
         |    count(*) FILTER (WHERE event_type = 'purchase') AS cy
         |  FROM e GROUP BY day),
         |d AS (SELECT s.day, COALESCE(cy, 0) AS v
         |  FROM spine s LEFT JOIN d0 USING (day)),
         |m0 AS (SELECT count(*) AS n, CAST(sum(v) AS BIGINT) AS sv
         |  FROM d),
         |cen AS (SELECT day, n, sv, n * v - sv AS c
         |  FROM d CROSS JOIN m0),
         |den AS (SELECT max(n) AS n,
         |    CAST(sum(CAST(c AS HUGEINT) * c) AS HUGEINT) AS den
         |  FROM cen),
         |lags AS (SELECT unnest(range(1, 8)) AS lag),
         |nums AS (SELECT l.lag,
         |    CAST(sum(CAST(x.c AS HUGEINT) * y.c) AS HUGEINT) AS num
         |  FROM cen x CROSS JOIN lags l
         |  JOIN cen y ON y.day = x.day + l.lag
         |  GROUP BY l.lag),
         |rr AS (SELECT lag, n,
         |    CAST(num AS DOUBLE) / CAST(den AS DOUBLE) AS r
         |  FROM nums CROSS JOIN den),
         |qq AS (SELECT lag, n, r,
         |    CAST(n * (n + 2) AS DOUBLE)
         |      * sum(r * r / CAST(n - lag AS DOUBLE))
         |        OVER (ORDER BY lag
         |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
         |      AS q_cum
         |  FROM rr)
         |SELECT lag, n, ROUND(r * 10000) / 10000 + 0.0 AS r,
         |  ROUND(q_cum * 10000) / 10000 + 0.0 AS q_cum
         |FROM qq ORDER BY lag""".stripMargin,
    // Fully rational: the equality-pattern trick collapses Σn², and
    // kappa clears to one division of HUGEINT-exact operands.
    "eval_fleiss_kappa" ->
      """WITH d AS (SELECT doc_id,
        |    CAST(n_chars % 5 AS BIGINT) AS la FROM documents),
        |abc AS (SELECT doc_id, la,
        |    CASE WHEN doc_id % 7 = 0 THEN (la + 1 + doc_id % 3) % 5
        |      ELSE la END AS lb,
        |    CASE WHEN doc_id % 11 = 0 THEN (la + 2 + doc_id % 2) % 5
        |      ELSE la END AS lc
        |  FROM d),
        |pat AS (SELECT doc_id, la, lb, lc,
        |    CASE WHEN la = lb AND lb = lc THEN 9
        |      WHEN la <> lb AND lb <> lc AND la <> lc THEN 3
        |      ELSE 5 END AS sq
        |  FROM abc),
        |items AS (SELECT count(*) AS n_items,
        |    count(*) FILTER (WHERE sq = 9) AS n_all3,
        |    count(*) FILTER (WHERE sq = 5) AS n_two,
        |    count(*) FILTER (WHERE sq = 3) AS n_dist,
        |    CAST(sum(sq) AS HUGEINT) AS ssq
        |  FROM pat),
        |lab AS (SELECT unnest([la, lb, lc]) AS lab FROM abc),
        |marg AS (SELECT CAST(sum(CAST(ck AS HUGEINT) * ck) AS HUGEINT)
        |      AS sum_ck2
        |  FROM (SELECT lab, count(*) AS ck FROM lab GROUP BY lab)),
        |m AS (SELECT n_items, n_all3, n_two, n_dist,
        |    CAST(n_items AS HUGEINT) * 3 AS nr, ssq, sum_ck2
        |  FROM items CROSS JOIN marg)
        |SELECT n_items, n_all3, n_two, n_dist,
        |  ROUND(CAST(ssq - nr AS DOUBLE) / CAST(nr * 2 AS DOUBLE)
        |    * 10000) / 10000 + 0.0 AS p_bar,
        |  ROUND(CAST(sum_ck2 AS DOUBLE) / CAST(nr * nr AS DOUBLE)
        |    * 10000) / 10000 + 0.0 AS p_e,
        |  CASE WHEN nr * nr - sum_ck2 > 0 THEN
        |    ROUND(CAST((ssq - nr) * nr * nr - sum_ck2 * nr * 2
        |        AS DOUBLE)
        |      / CAST((nr * 2) * (nr * nr - sum_ck2) AS DOUBLE)
        |      * 10000) / 10000 + 0.0 END AS kappa
        |FROM m""".stripMargin,
    // MSW via the ANOVA sorted fold; per-pair means/se/q spelled
    // operand-for-operand.
    "agg_tukey_hsd" ->
      """WITH li AS (SELECT l_returnflag AS g,
        |    CAST(round(l_quantity) AS BIGINT) AS q FROM lineitem),
        |grp AS (SELECT g, count(*) AS n_g,
        |    CAST(sum(q) AS BIGINT) AS s_g,
        |    CAST(sum(q * q) AS BIGINT) AS q2_g
        |  FROM li GROUP BY 1),
        |one0 AS (SELECT list_sort(list({'g': g, 'n_g': n_g, 's_g': s_g,
        |      'q2_g': q2_g})) AS gs FROM grp),
        |one AS (SELECT CAST(len(gs) AS BIGINT) AS k,
        |    CAST(list_aggregate(list_transform(gs, x -> x.n_g), 'sum')
        |      AS BIGINT) AS n,
        |    CAST(list_aggregate(list_transform(gs, x -> x.q2_g), 'sum')
        |      AS BIGINT) AS q2,
        |    list_aggregate(list_transform(gs,
        |      x -> CAST(x.s_g * x.s_g AS DOUBLE)
        |        / CAST(x.n_g AS DOUBLE)), 'sum') AS bs
        |  FROM one0),
        |mw AS (SELECT k, n,
        |    (CAST(q2 AS DOUBLE) - bs) / CAST(n - k AS DOUBLE) AS msw
        |  FROM one),
        |pr AS (SELECT a.g AS g1, b.g AS g2, a.n_g AS n1, b.n_g AS n2,
        |    CAST(a.s_g AS DOUBLE) / CAST(a.n_g AS DOUBLE) AS mean1,
        |    CAST(b.s_g AS DOUBLE) / CAST(b.n_g AS DOUBLE) AS mean2,
        |    msw
        |  FROM grp a JOIN grp b ON a.g < b.g CROSS JOIN mw)
        |SELECT g1, g2, n1, n2,
        |  ROUND(mean1 * 10000) / 10000 + 0.0 AS mean1,
        |  ROUND(mean2 * 10000) / 10000 + 0.0 AS mean2,
        |  CASE WHEN msw > 0 THEN
        |    ROUND(abs(mean1 - mean2)
        |      / sqrt(msw / 2.0 * (1.0 / CAST(n1 AS DOUBLE)
        |        + 1.0 / CAST(n2 AS DOUBLE))) * 10000) / 10000 + 0.0
        |  END AS q_stat
        |FROM pr ORDER BY g1, g2""".stripMargin,
    // Discordant-only exact-integer χ² with continuity correction.
    "eval_mcnemar" ->
      """WITH d AS (SELECT doc_id, n_chars,
        |    (doc_id * 7 + n_chars) % 10 < 8 AS a_ok,
        |    (doc_id * 13 + n_chars) % 10 < 7 AS b_ok
        |  FROM documents),
        |m AS (SELECT count(*) AS n,
        |    count(*) FILTER (WHERE a_ok AND b_ok) AS n11,
        |    count(*) FILTER (WHERE a_ok AND NOT b_ok) AS n10,
        |    count(*) FILTER (WHERE NOT a_ok AND b_ok) AS n01,
        |    count(*) FILTER (WHERE NOT a_ok AND NOT b_ok) AS n00
        |  FROM d)
        |SELECT n, n11, n10, n01, n00,
        |  CASE WHEN n10 + n01 > 0 THEN
        |    ROUND(CAST((abs(n10 - n01) - 1) * (abs(n10 - n01) - 1)
        |        AS DOUBLE)
        |      / CAST(n10 + n01 AS DOUBLE) * 10000) / 10000 + 0.0
        |  END AS chi2
        |FROM m""".stripMargin,
    // Per-individual flag reduce, then Chapman's rational estimator
    // and variance in HUGEINT products.
    "agg_capture_recapture" ->
      s"""WITH r AS (SELECT
         |    (user_id * 997 + event_id * 31) % 11520 AS animal,
         |    (${sqlEpochDay("ts")}) % 2 = 0 AS p1
         |  FROM events),
         |ind AS (SELECT animal, bool_or(p1) AS in1,
         |    bool_or(NOT p1) AS in2
         |  FROM r GROUP BY animal),
         |m AS (SELECT count(*) FILTER (WHERE in1) AS n1,
         |    count(*) FILTER (WHERE in2) AS n2,
         |    count(*) FILTER (WHERE in1 AND in2) AS m
         |  FROM ind)
         |SELECT n1, n2, m,
         |  ROUND((CAST(CAST(n1 + 1 AS HUGEINT) * (n2 + 1) AS DOUBLE)
         |      / CAST(m + 1 AS DOUBLE) - 1.0) * 10000) / 10000 + 0.0
         |    AS n_hat,
         |  ROUND(sqrt(CAST(CAST(n1 + 1 AS HUGEINT) * (n2 + 1)
         |        * (n1 - m) * (n2 - m) AS DOUBLE)
         |      / CAST(CAST(m + 1 AS HUGEINT) * (m + 1) * (m + 2)
         |        AS DOUBLE)) * 10000) / 10000 + 0.0 AS se
         |FROM m""".stripMargin,
    // 10-scaled exact pinball on the integer seasonal-naive error;
    // HUGEINT sums mirror the decimal(38,0) fold.
    "ts_pinball_loss" ->
      s"""WITH e AS (SELECT event_type, ${sqlEpochDay("ts")} AS day
         |  FROM events),
         |b AS (SELECT min(day) AS lo, max(day) AS hi FROM e),
         |spine AS (SELECT unnest(range(lo, hi + 1)) AS day FROM b),
         |d0 AS (SELECT day,
         |    count(*) FILTER (WHERE event_type = 'purchase') AS cy
         |  FROM e GROUP BY day),
         |d AS (SELECT s.day, COALESCE(cy, 0) AS v
         |  FROM spine s LEFT JOIN d0 USING (day)),
         |err AS (SELECT a.v - f.v AS e
         |  FROM d a JOIN d f ON a.day = f.day + 7),
         |q AS (SELECT unnest([1, 5, 9]) AS q10),
         |m AS (SELECT q10, count(*) AS n,
         |    CAST(sum(greatest(q10 * e, (q10 - 10) * e)) AS HUGEINT)
         |      AS s10
         |  FROM err CROSS JOIN q GROUP BY q10)
         |SELECT CAST(q10 AS BIGINT) AS q10, n,
         |  ROUND(CAST(s10 AS DOUBLE) / CAST(10 * n AS DOUBLE) * 10000)
         |    / 10000 + 0.0 AS mean_pinball
         |FROM m ORDER BY q10""".stripMargin,
    // Per-cell o·ln(o/e) from identical operands; the sum folds over
    // the (type, dow)-sorted list exactly as Cramér's V does.
    "agg_g_test" ->
      s"""WITH cells AS (SELECT event_type,
         |    (${sqlEpochDay("ts")}) % 7 AS dw, count(*) AS obs
         |  FROM events GROUP BY 1, 2),
         |tot AS (SELECT event_type, dw, obs,
         |    CAST(sum(obs) OVER (PARTITION BY event_type) AS BIGINT) AS r,
         |    CAST(sum(obs) OVER (PARTITION BY dw) AS BIGINT) AS c,
         |    CAST(sum(obs) OVER () AS BIGINT) AS n
         |  FROM cells),
         |ct AS (SELECT event_type, dw, obs, r, c, n,
         |    CAST(obs AS DOUBLE)
         |      * ln(CAST(obs AS DOUBLE)
         |        / (CAST(r * c AS DOUBLE) / CAST(n AS DOUBLE)))
         |      AS contrib
         |  FROM tot),
         |m AS (SELECT count(*) AS n_cells, max(n) AS n,
         |    CAST(count(DISTINCT event_type) AS BIGINT) AS r_cat,
         |    CAST(count(DISTINCT dw) AS BIGINT) AS c_cat,
         |    list_aggregate(list_transform(
         |      list_sort(list({'event_type': event_type, 'dw': dw,
         |        'contrib': contrib})), x -> x.contrib), 'sum') AS hg
         |  FROM ct)
         |SELECT n_cells, n, (r_cat - 1) * (c_cat - 1) AS dof,
         |  ROUND(2.0 * hg * 10000) / 10000 + 0.0 AS g_stat
         |FROM m""".stripMargin,
    // 20000-scaled exact squared error; Brier, base rate, and skill
    // are three divisions on HUGEINT-exact operands.
    // Same 20-bin grid, exact cross-multiplied per-bin terms, sorted
    // folds, exact UNC.
    "eval_brier_decomposition" ->
      """WITH e AS (SELECT
        |    least(CAST(round(least(value, 200.0) * 100) AS BIGINT)
        |      // 1000, 19) AS b,
        |    CAST(round(least(value, 200.0) * 100) AS BIGINT) AS vc,
        |    CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS y
        |  FROM events),
        |bins AS (SELECT b, count(*) AS nb,
        |    CAST(sum(vc) AS HUGEINT) AS sb,
        |    CAST(sum(y) AS HUGEINT) AS kb
        |  FROM e GROUP BY 1),
        |t AS (SELECT count(*) AS nn, CAST(sum(y) AS BIGINT) AS kk
        |  FROM e),
        |terms AS (SELECT nn, kk, {'b': b,
        |    'rel': CAST((sb - 20000 * kb) * (sb - 20000 * kb)
        |        AS DOUBLE)
        |      / CAST(400000000 * CAST(nb AS HUGEINT) AS DOUBLE),
        |    'res': CAST((kb * nn - CAST(nb AS HUGEINT) * kk)
        |        * (kb * nn - CAST(nb AS HUGEINT) * kk) AS DOUBLE)
        |      / CAST(CAST(nb AS HUGEINT) * nn * nn AS DOUBLE)} AS st
        |  FROM bins CROSS JOIN t),
        |g AS (SELECT nn, kk,
        |    list_aggregate(list_transform(list_sort(list(st)),
        |      x -> x.rel), 'sum') AS relsum,
        |    list_aggregate(list_transform(list_sort(list(st)),
        |      x -> x.res), 'sum') AS ressum
        |  FROM terms GROUP BY 1, 2)
        |SELECT nn AS n, kk AS n_pos,
        |  ROUND(relsum / nn * 10000) / 10000 AS reliability,
        |  ROUND(ressum / nn * 10000) / 10000 AS resolution,
        |  ROUND(CAST(CAST(kk AS HUGEINT) * (nn - kk) AS DOUBLE)
        |    / CAST(CAST(nn AS HUGEINT) * nn AS DOUBLE) * 10000)
        |    / 10000 AS uncertainty,
        |  ROUND((relsum / nn - ressum / nn
        |    + CAST(CAST(kk AS HUGEINT) * (nn - kk) AS DOUBLE)
        |      / CAST(CAST(nn AS HUGEINT) * nn AS DOUBLE)) * 10000)
        |    / 10000 AS binned_brier
        |FROM g""".stripMargin,
    "eval_brier_score" ->
      """WITH e AS (SELECT
        |    CAST(round(least(value, 200.0) * 100) AS BIGINT) AS vc,
        |    CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS y
        |  FROM events),
        |m AS (SELECT count(*) AS n, CAST(sum(y) AS BIGINT) AS n_pos,
        |    CAST(sum(CAST((vc - 20000 * y) AS HUGEINT)
        |      * (vc - 20000 * y)) AS HUGEINT) AS se20k
        |  FROM e),
        |f AS (SELECT n, n_pos,
        |    CAST(se20k AS DOUBLE)
        |      / CAST(CAST(n AS HUGEINT) * 400000000 AS DOUBLE) AS brier,
        |    CAST(CAST(n_pos AS HUGEINT) * (n - n_pos) AS DOUBLE)
        |      / CAST(CAST(n AS HUGEINT) * n AS DOUBLE) AS base
        |  FROM m)
        |SELECT n, n_pos,
        |  ROUND(brier * 10000) / 10000 + 0.0 AS brier,
        |  ROUND(base * 10000) / 10000 + 0.0 AS brier_base,
        |  CASE WHEN n_pos > 0 AND n_pos < n THEN
        |    ROUND((1.0 - brier / base) * 10000) / 10000 + 0.0
        |  END AS skill
        |FROM f""".stripMargin,
    // Time-split Welch on the shared spine; moments HUGEINT-exact,
    // mean/var/t/df spelled operand-for-operand with ab_test_welch.
    "ts_intervention_welch" ->
      s"""WITH e AS (SELECT event_type, ${sqlEpochDay("ts")} AS day
         |  FROM events),
         |b AS (SELECT min(day) AS lo, max(day) AS hi FROM e),
         |spine AS (SELECT unnest(range(lo, hi + 1)) AS day FROM b),
         |d0 AS (SELECT day,
         |    count(*) FILTER (WHERE event_type = 'purchase') AS cy
         |  FROM e GROUP BY day),
         |d AS (SELECT s.day, COALESCE(cy, 0) AS v
         |  FROM spine s LEFT JOIN d0 USING (day)),
         |b2 AS (SELECT (min(day) + max(day)) // 2 AS mid FROM d),
         |m AS (SELECT CASE WHEN day < mid THEN 'pre' ELSE 'post' END
         |      AS arm,
         |    count(*) AS n, CAST(sum(v) AS HUGEINT) AS s,
         |    CAST(sum(v * v) AS HUGEINT) AS q2
         |  FROM d CROSS JOIN b2 GROUP BY 1),
         |w AS (SELECT arm, n, CAST(n AS DOUBLE) AS nn,
         |    CAST(s AS DOUBLE) / CAST(n AS DOUBLE) AS mean,
         |    CAST(n * q2 - s * s AS DOUBLE)
         |      / (CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) - 1.0)) AS v
         |  FROM m),
         |j AS (SELECT a.n AS n_pre, bb.n AS n_post,
         |    a.nn AS nna, bb.nn AS nnb, a.mean AS ma, bb.mean AS mb,
         |    a.v / a.nn AS sea, bb.v / bb.nn AS seb,
         |    a.v / a.nn + bb.v / bb.nn AS se2
         |  FROM w a CROSS JOIN w bb
         |  WHERE a.arm = 'pre' AND bb.arm = 'post'
         |    AND a.n > 1 AND bb.n > 1)
         |SELECT n_pre, n_post,
         |  ROUND(ma * 10000) / 10000 + 0.0 AS mean_pre,
         |  ROUND(mb * 10000) / 10000 + 0.0 AS mean_post,
         |  CASE WHEN se2 > 0 THEN
         |    ROUND((ma - mb) / sqrt(se2) * 10000) / 10000 + 0.0
         |  END AS t_stat,
         |  CASE WHEN se2 > 0 THEN
         |    ROUND(se2 * se2 / (sea * sea / (nna - 1.0)
         |      + seb * seb / (nnb - 1.0)) * 10000) / 10000 + 0.0
         |  END AS df_welch
         |FROM j""".stripMargin,
    // 32 key-residue buckets; both folds ride the bucket-id-sorted
    // list exactly as the Spark aggregate() lambdas do.
    "agg_jackknife_variance" ->
      """WITH o AS (SELECT o_orderkey % 32 AS bkt,
        |    CAST(round(o_totalprice * 100) AS BIGINT) AS c
        |  FROM orders),
        |grp AS (SELECT bkt, count(*) AS n_j,
        |    CAST(sum(c) AS HUGEINT) AS s_j
        |  FROM o GROUP BY bkt),
        |one AS (SELECT list_sort(list({'bkt': bkt, 'n_j': n_j,
        |      's_j': s_j})) AS gs,
        |    CAST(count(*) AS BIGINT) AS k,
        |    CAST(sum(n_j) AS BIGINT) AS n,
        |    CAST(sum(s_j) AS HUGEINT) AS s
        |  FROM grp),
        |dot AS (SELECT gs, k, n, s,
        |    list_aggregate(list_transform(gs,
        |      x -> CAST(s - x.s_j AS DOUBLE)
        |        / CAST(n - x.n_j AS DOUBLE)), 'sum')
        |      / CAST(k AS DOUBLE) AS mdot
        |  FROM one),
        |dev AS (SELECT k, n, s, mdot,
        |    list_aggregate(list_transform(gs,
        |      x -> (CAST(s - x.s_j AS DOUBLE)
        |          / CAST(n - x.n_j AS DOUBLE) - mdot)
        |        * (CAST(s - x.s_j AS DOUBLE)
        |          / CAST(n - x.n_j AS DOUBLE) - mdot)), 'sum') AS devsum
        |  FROM dot)
        |SELECT k, n,
        |  ROUND(CAST(s AS DOUBLE) / CAST(n AS DOUBLE) * 10000) / 10000
        |    + 0.0 AS mean_cents,
        |  ROUND(sqrt(CAST(k - 1 AS DOUBLE) / CAST(k AS DOUBLE)
        |    * devsum) * 10000) / 10000 + 0.0 AS jk_se_cents
        |FROM dev""".stripMargin,
    // Bounded cents grid + pc-sorted list fold; ln terms spelled
    // n·ln(CAST(pc AS DOUBLE)/20000.0) operand-for-operand.
    "eval_log_loss" ->
      """WITH e AS (SELECT
        |    greatest(1, least(CAST(round(least(value, 200.0) * 100)
        |      AS BIGINT), 19999)) AS pc,
        |    CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS y
        |  FROM events),
        |byv AS (SELECT pc, count(*) AS n_v,
        |    CAST(sum(y) AS BIGINT) AS p_v
        |  FROM e GROUP BY pc),
        |cells AS (SELECT pc, n_v, p_v,
        |    CAST(p_v AS DOUBLE) * ln(CAST(pc AS DOUBLE) / 20000.0)
        |      + CAST(n_v - p_v AS DOUBLE)
        |        * ln(CAST(20000 - pc AS DOUBLE) / 20000.0) AS contrib
        |  FROM byv),
        |m AS (SELECT CAST(sum(n_v) AS BIGINT) AS n,
        |    CAST(sum(p_v) AS BIGINT) AS n_pos,
        |    list_aggregate(list_transform(
        |      list_sort(list({'pc': pc, 'contrib': contrib})),
        |      x -> x.contrib), 'sum') AS ll
        |  FROM cells),
        |f AS (SELECT n, n_pos, ll,
        |    CAST(n_pos AS DOUBLE)
        |      * ln(CAST(n_pos AS DOUBLE) / CAST(n AS DOUBLE))
        |    + CAST(n - n_pos AS DOUBLE)
        |      * ln(1.0 - CAST(n_pos AS DOUBLE) / CAST(n AS DOUBLE))
        |      AS base
        |  FROM m)
        |SELECT n, n_pos,
        |  ROUND(-ll / CAST(n AS DOUBLE) * 10000) / 10000 + 0.0
        |    AS log_loss,
        |  CASE WHEN n_pos > 0 AND n_pos < n THEN
        |    ROUND(-base / CAST(n AS DOUBLE) * 10000) / 10000 + 0.0
        |  END AS log_loss_base,
        |  CASE WHEN n_pos > 0 AND n_pos < n THEN
        |    ROUND((1.0 - ll / base) * 10000) / 10000 + 0.0
        |  END AS skill
        |FROM f""".stripMargin,
    // Integer ECE numerator (HUGEINT devsum), one division; MCE max
    // over 10 identically-spelled per-bin divisions.
    "eval_ece" ->
      """WITH e AS (SELECT
        |    least(CAST(floor(value / 20) AS INT), 9) AS bin,
        |    CAST(round(least(value, 200.0) * 100) AS BIGINT) AS vc,
        |    CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS y
        |  FROM events),
        |bins AS (SELECT bin, count(*) AS n_b,
        |    CAST(sum(y) AS BIGINT) AS pos_b,
        |    CAST(sum(vc) AS HUGEINT) AS sv_b
        |  FROM e GROUP BY bin),
        |m AS (SELECT CAST(sum(n_b) AS BIGINT) AS n,
        |    count(*) AS n_bins,
        |    CAST(sum(abs(CAST(pos_b * 20000 AS HUGEINT) - sv_b))
        |      AS HUGEINT) AS devsum,
        |    max(CAST(abs(CAST(pos_b * 20000 AS HUGEINT) - sv_b)
        |        AS DOUBLE) / (20000.0 * CAST(n_b AS DOUBLE))) AS mce
        |  FROM bins)
        |SELECT n, n_bins,
        |  ROUND(CAST(devsum AS DOUBLE) / (20000.0 * CAST(n AS DOUBLE))
        |    * 10000) / 10000 + 0.0 AS ece,
        |  ROUND(mce * 10000) / 10000 + 0.0 AS mce
        |FROM m""".stripMargin,
    // The welch oracle's exact anchored moments; d/sp/g spelled
    // operand-for-operand with the Spark plan.
    "agg_cohens_d" ->
      """WITH e AS (SELECT event_type,
        |    CASE WHEN substring(md5(CAST(user_id AS VARCHAR)), 1, 1) < '8'
        |      THEN 'A' ELSE 'B' END AS arm,
        |    CAST(round(value * 100) AS BIGINT) AS c FROM events),
        |p1 AS (SELECT event_type, arm, count(*) AS n,
        |    CAST(sum(c) AS BIGINT) // count(*) AS a
        |  FROM e GROUP BY 1, 2),
        |m0 AS (SELECT e.event_type, e.arm, n, a,
        |    CAST(e.c - a AS HUGEINT) AS d
        |  FROM e JOIN p1 USING (event_type, arm)),
        |m AS (SELECT event_type, arm, max(n) AS n, max(a) AS a,
        |    CAST(sum(d) AS HUGEINT) AS d1,
        |    CAST(sum(d * d) AS HUGEINT) AS d2
        |  FROM m0 GROUP BY 1, 2),
        |v AS (SELECT event_type, arm, n, CAST(n AS DOUBLE) AS nn,
        |    CAST(a AS DOUBLE) + CAST(d1 AS DOUBLE) / CAST(n AS DOUBLE)
        |      AS mean,
        |    CAST(n * d2 - d1 * d1 AS DOUBLE)
        |      / (CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) - 1.0)) AS var
        |  FROM m),
        |j AS (SELECT a.event_type, a.n AS na, b.n AS nb,
        |    a.nn AS nna, b.nn AS nnb, a.mean AS ma, b.mean AS mb,
        |    ((a.nn - 1.0) * a.var + (b.nn - 1.0) * b.var)
        |      / (a.nn + b.nn - 2.0) AS sp2
        |  FROM v a JOIN v b ON a.event_type = b.event_type
        |  WHERE a.arm = 'A' AND b.arm = 'B' AND a.n > 1 AND b.n > 1)
        |SELECT event_type, na, nb,
        |  ROUND(ma / 100.0 * 10000.0) / 10000.0 AS mean_a,
        |  ROUND(mb / 100.0 * 10000.0) / 10000.0 AS mean_b,
        |  ROUND((ma - mb) / sqrt(sp2) * 10000.0) / 10000.0 + 0.0
        |    AS cohens_d,
        |  ROUND((ma - mb) / sqrt(sp2)
        |    * (1.0 - 3.0 / (4.0 * (nna + nnb) - 9.0)) * 10000.0)
        |    / 10000.0 + 0.0 AS hedges_g
        |FROM j WHERE sp2 > 0 ORDER BY event_type""".stripMargin,
    // Decile cuts are integer comparisons on the cents-grid
    // cumulatives; capture/lift divide exact integer products.
    "eval_lift_curve" ->
      """WITH e AS (SELECT
        |    CAST(round(least(value, 200.0) * 100) AS BIGINT) AS cents,
        |    CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS y
        |  FROM events),
        |byv AS (SELECT cents, count(*) AS n_v,
        |    CAST(sum(y) AS BIGINT) AS p_v
        |  FROM e GROUP BY cents),
        |cum AS (SELECT cents,
        |    CAST(sum(n_v) OVER (ORDER BY cents DESC
        |      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cumn,
        |    CAST(sum(p_v) OVER (ORDER BY cents DESC
        |      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cump
        |  FROM byv),
        |g AS (SELECT CAST(sum(n_v) AS BIGINT) AS n,
        |    CAST(sum(p_v) AS BIGINT) AS n_pos FROM byv),
        |ks AS (SELECT unnest(range(1, 11)) AS k),
        |cut AS (SELECT k, n, n_pos,
        |    min(struct_pack(cumn := cumn, cump := cump, cents := cents))
        |      AS c
        |  FROM ks CROSS JOIN g JOIN cum ON cumn * 10 >= k * n
        |  GROUP BY 1, 2, 3)
        |SELECT CAST(k AS BIGINT) AS k, c.cents AS score_cut,
        |  c.cumn AS n_at_cut, c.cump AS pos_at_cut,
        |  CASE WHEN n_pos > 0 THEN
        |    ROUND(CAST(c.cump AS DOUBLE) / CAST(n_pos AS DOUBLE)
        |      * 10000) / 10000
        |  END AS capture,
        |  CASE WHEN n_pos > 0 THEN
        |    ROUND(CAST(c.cump * n AS DOUBLE)
        |      / CAST(c.cumn * n_pos AS DOUBLE) * 10000) / 10000
        |  END AS lift
        |FROM cut ORDER BY k""".stripMargin,
    // Exact counts/day spans off the shared spine; RR one division of
    // integer products, ln/sqrt/z spelled operand-for-operand.
    "agg_poisson_rate_ratio" ->
      s"""WITH e AS (SELECT event_type, ${sqlEpochDay("ts")} AS day
         |  FROM events),
         |b AS (SELECT min(day) AS lo, max(day) AS hi FROM e),
         |spine AS (SELECT unnest(range(lo, hi + 1)) AS day FROM b),
         |d0 AS (SELECT day,
         |    count(*) FILTER (WHERE event_type = 'purchase') AS cy
         |  FROM e GROUP BY day),
         |d AS (SELECT s.day, COALESCE(cy, 0) AS v
         |  FROM spine s LEFT JOIN d0 USING (day)),
         |b2 AS (SELECT (min(day) + max(day)) // 2 AS mid FROM d),
         |m AS (SELECT CASE WHEN day < mid THEN 'pre' ELSE 'post' END
         |      AS arm,
         |    count(*) AS dd, CAST(sum(v) AS BIGINT) AS n
         |  FROM d CROSS JOIN b2 GROUP BY 1),
         |j AS (SELECT a.n AS n_pre, a.dd AS days_pre,
         |    bb.n AS n_post, bb.dd AS days_post
         |  FROM m a CROSS JOIN m bb
         |  WHERE a.arm = 'pre' AND bb.arm = 'post'
         |    AND a.n > 0 AND bb.n > 0)
         |SELECT n_pre, days_pre, n_post, days_post,
         |  ROUND(CAST(n_post * days_pre AS DOUBLE)
         |    / CAST(n_pre * days_post AS DOUBLE) * 10000) / 10000
         |    AS rate_ratio,
         |  ROUND(ln(CAST(n_post * days_pre AS DOUBLE)
         |      / CAST(n_pre * days_post AS DOUBLE))
         |    / sqrt(1.0 / CAST(n_pre AS DOUBLE)
         |      + 1.0 / CAST(n_post AS DOUBLE)) * 10000) / 10000 + 0.0
         |    AS z_wald
         |FROM j""".stripMargin,
    // Anchored exact moments per stratum; N_h·s_h summed over the
    // stratum-sorted list; share/floor bit-identical.
    "sample_neyman_allocation" ->
      """WITH e AS (SELECT event_type,
        |    CAST(round(value * 100) AS BIGINT) AS c FROM events),
        |p1 AS (SELECT event_type, count(*) AS n,
        |    CAST(sum(c) AS BIGINT) // count(*) AS a
        |  FROM e GROUP BY 1),
        |m0 AS (SELECT e.event_type, n,
        |    CAST(e.c - a AS HUGEINT) AS d
        |  FROM e JOIN p1 USING (event_type)),
        |m AS (SELECT event_type, max(n) AS n,
        |    CAST(sum(d) AS HUGEINT) AS d1,
        |    CAST(sum(d * d) AS HUGEINT) AS d2
        |  FROM m0 GROUP BY 1 HAVING max(n) > 1),
        |ns AS (SELECT event_type, n, CAST(n AS DOUBLE) AS nn,
        |    CAST(n AS DOUBLE) * sqrt(CAST(n * d2 - d1 * d1 AS DOUBLE)
        |      / (CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) - 1.0))) AS ns
        |  FROM m),
        |tot AS (SELECT list_aggregate(list_transform(
        |    list_sort(list({'event_type': event_type, 'ns': ns})),
        |    x -> x.ns), 'sum') AS tot_ns FROM ns)
        |SELECT event_type, n AS n_stratum,
        |  ROUND(ns / nn / 100.0 * 10000) / 10000 AS sd_value,
        |  ROUND(ns / tot_ns * 10000) / 10000 AS share,
        |  CAST(floor(10000.0 * (ns / tot_ns)) AS BIGINT) AS alloc_n
        |FROM ns CROSS JOIN tot ORDER BY event_type""".stripMargin,
    // Integer Walsh-average sums, ceil(n/2) order statistic off the
    // sorted list, one halving.
    "agg_hodges_lehmann" ->
      s"""WITH e AS (SELECT event_type, ${sqlEpochDay("ts")} AS day
         |  FROM events),
         |b AS (SELECT min(day) AS lo, max(day) AS hi FROM e),
         |spine AS (SELECT unnest(range(lo, hi + 1)) AS day FROM b),
         |d0 AS (SELECT day,
         |    count(*) FILTER (WHERE event_type = 'purchase') AS cy
         |  FROM e GROUP BY day),
         |d AS (SELECT s.day, COALESCE(cy, 0) AS v
         |  FROM spine s LEFT JOIN d0 USING (day)),
         |p AS (SELECT CAST(x.v + y.v AS BIGINT) AS s2
         |  FROM d x JOIN d y ON x.day <= y.day),
         |m AS (SELECT count(*) AS n_pairs, list_sort(list(s2)) AS ss
         |  FROM p)
         |SELECT n_pairs,
         |  ss[CAST(ceil(n_pairs * 0.5) AS INT)] AS hl2_units,
         |  ROUND(CAST(ss[CAST(ceil(n_pairs * 0.5) AS INT)] AS DOUBLE)
         |    / 2.0 * 10000) / 10000 AS hl
         |FROM m""".stripMargin,
    // Integer-unit 0.5%-floor smoothing; ≤10 ln terms fold bin-sorted.
    "eval_psi" ->
      s"""WITH e AS (SELECT
         |    least(CAST(floor(value / 20) AS INT), 9) AS bin,
         |    ${sqlEpochDay("ts")} AS day FROM events),
         |b2 AS (SELECT (min(day) + max(day)) // 2 AS mid FROM e),
         |cells AS (SELECT bin,
         |    CASE WHEN day < mid THEN 'pre' ELSE 'post' END AS arm,
         |    count(*) AS c
         |  FROM e CROSS JOIN b2 GROUP BY 1, 2),
         |arms AS (SELECT arm, CAST(sum(c) AS BIGINT) AS n
         |  FROM cells GROUP BY 1),
         |spine AS (SELECT CAST(unnest(range(0, 10)) AS INT) AS bin),
         |filled AS (SELECT s.bin, a.arm,
         |    greatest(a.n, COALESCE(c.c, 0) * 200) AS u200,
         |    a.n * 200 AS d200
         |  FROM spine s CROSS JOIN arms a
         |  LEFT JOIN cells c ON c.bin = s.bin AND c.arm = a.arm),
         |terms AS (SELECT p.bin,
         |    (CAST(p.u200 AS DOUBLE) / CAST(p.d200 AS DOUBLE)
         |      - CAST(q.u200 AS DOUBLE) / CAST(q.d200 AS DOUBLE))
         |    * ln((CAST(p.u200 AS DOUBLE) / CAST(p.d200 AS DOUBLE))
         |      / (CAST(q.u200 AS DOUBLE) / CAST(q.d200 AS DOUBLE)))
         |      AS term
         |  FROM filled p JOIN filled q ON p.bin = q.bin
         |  WHERE p.arm = 'pre' AND q.arm = 'post'),
         |m AS (SELECT count(*) AS n_bins,
         |    list_aggregate(list_transform(
         |      list_sort(list({'bin': bin, 'term': term})),
         |      x -> x.term), 'sum') AS psi0
         |  FROM terms)
         |SELECT n_bins, ROUND(psi0 * 10000) / 10000 + 0.0 AS psi,
         |  psi0 > 0.2 AS major_shift
         |FROM m""".stripMargin,
    // Top-(k+1) cents multiset (boundary ties share a value, so the
    // multiset is deterministic); k ln terms fold sorted.
    "agg_tail_index_hill" ->
      """WITH c AS (SELECT CAST(round(value * 100) AS BIGINT) AS c
        |  FROM events WHERE CAST(round(value * 100) AS BIGINT) > 0),
        |top AS (SELECT c FROM c ORDER BY c DESC LIMIT 101),
        |m AS (SELECT count(*) AS n_top, min(c) AS thr,
        |    list_sort(list(c)) AS cs FROM top),
        |h AS (SELECT n_top, thr,
        |    list_aggregate(list_transform(cs[2:101],
        |      x -> ln(CAST(x AS DOUBLE) / CAST(cs[1] AS DOUBLE))),
        |      'sum') AS h
        |  FROM m WHERE n_top = 101 AND thr > 0)
        |SELECT CAST(100 AS BIGINT) AS k, thr AS threshold_cents,
        |  CASE WHEN h > 0 THEN ROUND(100.0 / h * 10000) / 10000 + 0.0
        |  END AS hill_alpha
        |FROM h""".stripMargin,
    // The same 8 power-iteration steps unrolled MATERIALIZED; each
    // step's ≤|alphabet| products fold from-sorted; final renorm over
    // the state-sorted fold.
    "agg_markov_steady_state" -> {
      val prelude =
        s"""WITH e AS (SELECT user_id, event_id, event_type,
           |    epoch_ms(ts) AS ms FROM events),
           |nx AS (SELECT event_type AS f,
           |    lead(event_type) OVER (PARTITION BY user_id
           |      ORDER BY ms, event_id) AS t
           |  FROM e),
           |tr AS (SELECT f, t, count(*) AS n FROM nx
           |  WHERE t IS NOT NULL GROUP BY 1, 2),
           |p AS MATERIALIZED (SELECT f, t,
           |    CAST(n AS DOUBLE)
           |      / CAST(sum(n) OVER (PARTITION BY f) AS DOUBLE) AS p
           |  FROM tr),
           |states AS MATERIALIZED (SELECT DISTINCT state FROM (
           |  SELECT f AS state FROM p UNION ALL SELECT t FROM p)),
           |ns AS (SELECT count(*) AS ns FROM states),
           |pi0 AS MATERIALIZED (SELECT state, 1.0 / ns AS v
           |  FROM states CROSS JOIN ns)""".stripMargin
      val rounds = (1 to 8).map { k =>
        s"""pi$k AS MATERIALIZED (SELECT p.t AS state,
           |    list_aggregate(list_transform(
           |      list_sort(list({'f': p.f, 'x': pi.v * p.p})),
           |      z -> z.x), 'sum') AS v
           |  FROM p JOIN pi${k - 1} pi ON p.f = pi.state
           |  GROUP BY p.t)""".stripMargin
      }.mkString(",\n", ",\n", "")
      val tail =
        """,
          |tot AS (SELECT list_aggregate(list_transform(
          |    list_sort(list({'s': state, 'v': v})), z -> z.v), 'sum')
          |    AS tv FROM pi8)
          |SELECT state, ROUND(v / tv * 10000) / 10000 + 0.0 AS pi
          |FROM pi8 CROSS JOIN tot ORDER BY state""".stripMargin
      prelude + rounds + tail
    })
}
