package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables.t
import graft.Det.r4d
import graft.functions.ArrayDot

/** §2.9 Similarity search over `embeddings` (SURVEY.md).
  *
  * Brute-force cosine against a bounded probe set: probes are broadcast
  * (tiny), so the scan over the full vector table stays shuffle-free and
  * embarrassingly parallel — at 100 TB this is one pass over the
  * embedding column per probe batch. The computation is `zip_with` +
  * `aggregate` higher-order functions in double; an IVF-bucketed variant
  * (`sim_ann_ivf`, §extras) is the at-scale ANN path that prunes the
  * scanned fraction.
  */
object SimQueries {
  type Q = (SparkSession, String) => DataFrame

  /** (probe_id, vec_id, cos) for probes vec_id < 10 against all vectors. */
  private def cosinePairs(s: SparkSession, dir: String): DataFrame = {
    val emb = t(s, dir, "embeddings")
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
    val probes = emb.filter(col("vec_id") < 10)
      .select(col("vec_id").as("probe_id"), col("v").as("p"))
    emb.crossJoin(broadcast(probes))
      .select(col("probe_id"), col("vec_id"),
        (ArrayDot(col("p"), col("v"))
          / (sqrt(ArrayDot(col("p"), col("p"))) * sqrt(ArrayDot(col("v"), col("v")))))
          .as("cos"))
  }

  /** The centroid-classifier confusion matrix (label, pred, n) —
    * decimal(38,12)-exact per-label centroids folded in dimension
    * order, bit-stable d² argmin (ties to the smaller label). Shared
    * by sim_centroid_classify (the matrix itself) and
    * eval_per_class_prf (its per-class P/R/F1 reduction) so the two
    * keys cannot disagree on a prediction. */
  private def centroidConfusion(s: SparkSession, dir: String): DataFrame =
    centroidD2(s, dir)
      .groupBy(col("vec_id"), col("label"))
      .agg(min_by(col("clabel"), struct(col("d2"), col("clabel")))
        .as("pred"))
      .groupBy(col("label"), col("pred"))
      .agg(count(lit(1)).as("n"))

  /** Every (embedding row, label centroid) pair with its squared L2
    * distance: the embeddings columns plus (clabel, cvec, d2). Each
    * centroid is the decimal(38,12)-exact per-dimension mean divided
    * once to a double; d2 folds in dimension order, so it is
    * bit-stable across engines and partitionings. */
  private def centroidD2(s: SparkSession, dir: String): DataFrame = {
    val emb = t(s, dir, "embeddings")
    val cent = emb
      .select(col("label"), posexplode(col("embedding")))
      .groupBy(col("label"), col("pos"))
      .agg((sum(col("col").cast("double").cast("decimal(38,12)"))
        .cast("double") / count(lit(1))).as("c"))
    val carr = cent.groupBy("label")
      .agg(array_sort(collect_list(struct(col("pos"), col("c"))))
        .as("ps"))
      .select(col("label").as("clabel"),
        expr("transform(ps, p -> p.c)").as("cvec"))
    emb.crossJoin(broadcast(carr))
      .withColumn("d2", aggregate(
        zip_with(col("embedding"), col("cvec"),
          (x, c) => (x.cast("double") - c) * (x.cast("double") - c)),
        lit(0.0), (acc, e) => acc + e))
  }

  /** The label-retrieval probe set: (emb, scored) with emb = (vec_id,
    * v, label) and scored = (probe_id, plabel, vec_id, label, cos),
    * the cosine of each probe (vec_id < 10, broadcast) against every
    * other vector. */
  private def probeScores(s: SparkSession, dir: String)
      : (DataFrame, DataFrame) = {
    val emb = t(s, dir, "embeddings")
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"),
        col("label"))
    val probes = emb.filter(col("vec_id") < 10)
      .select(col("vec_id").as("probe_id"), col("v").as("p"),
        col("label").as("plabel"))
    val scored = emb.crossJoin(broadcast(probes))
      .filter(col("vec_id") =!= col("probe_id"))
      .select(col("probe_id"), col("plabel"), col("vec_id"), col("label"),
        (ArrayDot(col("p"), col("v"))
          / (sqrt(ArrayDot(col("p"), col("p")))
            * sqrt(ArrayDot(col("v"), col("v"))))).as("cos"))
    (emb, scored)
  }

  /** A probe's ranking order: cosine descending, vec_id ties. */
  private val probeRank = Window.partitionBy("probe_id")
    .orderBy(col("cos").desc, col("vec_id"))

  /** Each probe's 10 best rows under [[probeRank]], via the bounded
    * per-group heap. */
  private def probeTop10(scored: DataFrame): DataFrame =
    graft.plans.TopKPerGroup(scored, k = 10,
      partNames = Seq("probe_id"),
      orderSpec = Seq(("cos", false), ("vec_id", true)))

  /** NDCG weights for ranks 1..10 on an integer grid: (rk, wu, cumw)
    * with wu = round(10¹²/log₂(rk+1)) and cumw its prefix sum (the
    * ideal-DCG lookup), so DCG/IDCG is an exact BIGINT ratio. */
  private def ndcgWeights(s: SparkSession): DataFrame =
    s.range(1, 11).select(col("id").as("rk"),
        round(lit(1e12) / log2(col("id").cast("double") + 1))
          .cast("long").as("wu"))
      .withColumn("cumw", sum(col("wu")).over(Window.orderBy("rk")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)))

  /** The md5-ordered 100-anchor panel (replay-stable) scored against
    * every other vector by squared L2: (aid, alabel, vec_id, label,
    * d2), d2 folded in dimension order. */
  private def anchorScores(s: SparkSession, dir: String): DataFrame = {
    val emb = graft.Tables.embs(s, dir)
      .select(col("vec_id"), col("label"),
        col("embedding").cast("array<double>").as("v"))
    val anchors = emb
      .select(col("vec_id").as("aid"), col("label").as("alabel"),
        col("v").as("av"),
        md5(col("vec_id").cast("string").cast("binary")).as("h"))
      .orderBy(col("h"), col("aid")).limit(100)
      .select(col("aid"), col("alabel"), col("av"))
    emb.crossJoin(broadcast(anchors))
      .filter(col("vec_id") =!= col("aid"))
      .select(col("aid"), col("alabel"), col("vec_id"),
        col("label"),
        aggregate(zip_with(col("av"), col("v"),
          (a, x) => (a - x) * (a - x)),
          lit(0.0), (acc, e) => acc + e).as("d2"))
  }

  val queries: Map[String, Q] = Map(
    // ROCCHIO QUERY EXPANSION (§2.117) — the classic relevance-
    // feedback loop: each probe's query vector is blended with the
    // CENTROID of its top-5 cosine neighbors (q' = 3/4·q + 1/4·c —
    // exact binary weights), then re-searched; the output marks which
    // expanded-top-5 neighbors are NEW vs the original list (the
    // recall-expansion number an IR evaluation reads). Determinism:
    // the centroid is an exact DECIMAL(38,12) per-dimension mean (the
    // IVF-centroid device), q' is one double chain per dimension, and
    // both searches rank identical doubles with vec_id tie-breaks.
    // Shape: two broadcast probe passes over the corpus (the
    // cosinePairs shape twice) + bounded per-probe dimension tables —
    // nothing probe×corpus beyond the scans.
    "sim_rocchio_expand" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
        .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
      val probes = emb.filter(col("vec_id") < 10)
        .select(col("vec_id").as("probe_id"), col("v").as("p"))
      val scored = emb.crossJoin(broadcast(probes))
        .filter(col("vec_id") =!= col("probe_id"))
        .select(col("probe_id"), col("vec_id"), col("v"), col("p"),
          (ArrayDot(col("p"), col("v"))
            / (sqrt(ArrayDot(col("p"), col("p")))
              * sqrt(ArrayDot(col("v"), col("v"))))).as("cos"))
      val w = Window.partitionBy("probe_id")
        .orderBy(col("cos").desc, col("vec_id"))
      val top5 = scored.withColumn("rk", row_number().over(w))
        .filter(col("rk") <= 5)
        .select(col("probe_id"), col("vec_id"), col("v"))
        .localCheckpoint(true)
      val cent = top5
        .select(col("probe_id"), posexplode(col("v")).as(Seq("pos", "x")))
        .groupBy("probe_id", "pos")
        .agg((sum(col("x").cast("decimal(38,12)")).cast("double")
          / count(lit(1))).as("c"))
      val qdim = probes
        .select(col("probe_id"), posexplode(col("p")).as(Seq("pos", "q")))
        .join(cent, Seq("probe_id", "pos"))
        .select(col("probe_id"), col("pos"),
          (col("q") * 0.75 + col("c") * 0.25).as("qv"))
      val qp = qdim.groupBy("probe_id")
        .agg(array_sort(collect_list(struct(col("pos"), col("qv"))))
          .as("xs"))
        .select(col("probe_id"),
          expr("transform(xs, z -> z.qv)").as("p2"))
      val re = emb.crossJoin(broadcast(qp))
        .filter(col("vec_id") =!= col("probe_id"))
        .select(col("probe_id"), col("vec_id"),
          (ArrayDot(col("p2"), col("v"))
            / (sqrt(ArrayDot(col("p2"), col("p2")))
              * sqrt(ArrayDot(col("v"), col("v"))))).as("cos"))
        .withColumn("rk", row_number().over(w))
        .filter(col("rk") <= 5)
      re.join(top5.select(col("probe_id"), col("vec_id"),
          lit(1L).as("orig")), Seq("probe_id", "vec_id"), "left")
        .select(col("probe_id"), col("rk").cast("long").as("rk"),
          col("vec_id"), r4d(col("cos")).as("cos"),
          col("orig").isNull.as("is_new"))
        .orderBy("probe_id", "rk")
    }),

    "sim_cosine_pairs" -> ((s, dir) => {
      cosinePairs(s, dir)
        .select(col("probe_id"), col("vec_id"), r4d(col("cos")).as("cos"))
        .orderBy("probe_id", "vec_id")
    }),

    // Top-5 neighbors per probe by cosine (excluding self), ties → vec_id.
    // Runs through the custom TopKPerGroup operator: the bounded-heap
    // partial pass ships ≤ 5 rows per (probe × scan partition) into the
    // exchange instead of window-sorting every scored pair — the shape
    // that holds when the probe set is large. The trailing row_number
    // only ranks the ≤ 5 survivors per probe.
    "sim_knn_topk" -> ((s, dir) => {
      val scored = cosinePairs(s, dir)
        .filter(col("vec_id") =!= col("probe_id"))
      val top = graft.plans.TopKPerGroup(scored, k = 5,
        partNames = Seq("probe_id"),
        orderSpec = Seq(("cos", false), ("vec_id", true)))
      val w = Window.partitionBy("probe_id").orderBy(col("cos").desc, col("vec_id"))
      top.withColumn("rk", row_number().over(w))
        .select(col("probe_id"), col("vec_id"), r4d(col("cos")).as("cos"),
          col("rk").cast("long").as("rk"))
        .orderBy("probe_id", "rk")
    }),

    // MAX-INNER-PRODUCT top-5 (§2.59) — the retrieval scoring the
    // cosine keys deliberately don't cover: two-tower recommenders and
    // learned retrieval rank by RAW dot product, where a vector's NORM
    // is part of its score (popular items learn long embeddings;
    // cosine normalization erases exactly that signal, so MIPS and
    // kNN return genuinely different neighbors). Same scale shape as
    // sim_knn_topk: broadcast probes, one scan, TopKPerGroup bounded
    // heap (≤5 rows per probe × partition into the exchange) — and the
    // classic MIPS-to-cosine reductions (norm-augmented dimension)
    // stay unnecessary while the probe side broadcasts.
    "sim_mips_topk" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
        .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
      val probes = emb.filter(col("vec_id") < 10)
        .select(col("vec_id").as("probe_id"), col("v").as("p"))
      val scored = emb.crossJoin(broadcast(probes))
        .filter(col("vec_id") =!= col("probe_id"))
        .select(col("probe_id"), col("vec_id"),
          ArrayDot(col("p"), col("v")).as("dot"))
      val top = graft.plans.TopKPerGroup(scored, k = 5,
        partNames = Seq("probe_id"),
        orderSpec = Seq(("dot", false), ("vec_id", true)))
      val w = Window.partitionBy("probe_id")
        .orderBy(col("dot").desc, col("vec_id"))
      top.withColumn("rk", row_number().over(w))
        .select(col("probe_id"), col("vec_id"), r4d(col("dot")).as("dot"),
          col("rk").cast("long").as("rk"))
        .orderBy("probe_id", "rk")
    }),

    // HARD-NEGATIVE MINING (§2.64) — for each probe, the top-3 most
    // similar vectors with a DIFFERENT label: the contrastive-training
    // data step (random negatives are too easy; the informative ones
    // are the near-misses this query surfaces — the standard
    // bi-encoder fine-tuning recipe). Same scale shape as
    // sim_knn_topk: broadcast probes, one scan, label filter applied
    // BEFORE scoring ships into the bounded TopKPerGroup heap (≤3
    // rows per probe × partition into the exchange). Ties → vec_id.
    "sim_hard_negative_mine" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
        .select(col("vec_id"), col("label"),
          col("embedding").cast("array<double>").as("v"))
      val probes = emb.filter(col("vec_id") < 10)
        .select(col("vec_id").as("probe_id"), col("label").as("plabel"),
          col("v").as("p"))
      val scored = emb.crossJoin(broadcast(probes))
        .filter(col("label") =!= col("plabel"))
        .select(col("probe_id"), col("vec_id"),
          (ArrayDot(col("p"), col("v"))
            / (sqrt(ArrayDot(col("p"), col("p")))
              * sqrt(ArrayDot(col("v"), col("v"))))).as("cos"))
      val top = graft.plans.TopKPerGroup(scored, k = 3,
        partNames = Seq("probe_id"),
        orderSpec = Seq(("cos", false), ("vec_id", true)))
      val w = Window.partitionBy("probe_id")
        .orderBy(col("cos").desc, col("vec_id"))
      top.withColumn("rk", row_number().over(w))
        .select(col("probe_id"), col("vec_id"), r4d(col("cos")).as("cos"),
          col("rk").cast("long").as("rk"))
        .orderBy("probe_id", "rk")
    }),

    // MATRYOSHKA PREFIX RECALL (§2.70) — how much ranking quality do
    // the first 16 of 64 dimensions retain? recall@5 of the
    // prefix-dimension exact search vs the full-dimension exact
    // search, per probe — the evaluation behind Matryoshka/truncated
    // embeddings (store 4× less, rerank the shortlist with full
    // vectors only). Same broadcast-probe scan shape twice; the
    // 5-row-per-probe set join is metadata-sized.
    "sim_prefix_dim_recall" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
        .select(col("vec_id"), col("embedding").cast("array<double>").as("v"),
          slice(col("embedding").cast("array<double>"), 1, 16).as("v16"))
      val probes = emb.filter(col("vec_id") < 10)
        .select(col("vec_id").as("probe_id"), col("v").as("p"),
          col("v16").as("p16"))
      def top5(scoreCol: Column): DataFrame = {
        val w = Window.partitionBy("probe_id")
          .orderBy(col("cos").desc, col("vec_id"))
        emb.crossJoin(broadcast(probes))
          .filter(col("vec_id") =!= col("probe_id"))
          .withColumn("cos", scoreCol)
          .withColumn("rk", row_number().over(w)).filter(col("rk") <= 5)
          .select(col("probe_id"), col("vec_id"))
      }
      val full = top5(ArrayDot(col("p"), col("v"))
        / (sqrt(ArrayDot(col("p"), col("p")))
          * sqrt(ArrayDot(col("v"), col("v")))))
      val prefix = top5(ArrayDot(col("p16"), col("v16"))
        / (sqrt(ArrayDot(col("p16"), col("p16")))
          * sqrt(ArrayDot(col("v16"), col("v16")))))
        .withColumn("hit", lit(1L))
      full.join(prefix, Seq("probe_id", "vec_id"), "left")
        .groupBy("probe_id")
        .agg(count(col("hit")).as("n_match"))
        .select(col("probe_id"), col("n_match"),
          r4d(col("n_match").cast("double") / lit(5.0)).as("recall_at_5"))
        .orderBy("probe_id")
    }),

    // RECALL@5 EVALUATION (§2.67) — the metric every ANN deployment
    // reports: per probe, what fraction of the EXACT top-5 does the
    // IVF (nprobe=2) candidate search return? Pure composition of the
    // two declared retrieval keys (shared implementations — eval and
    // production cannot drift), joined on (probe, neighbor): recall
    // = |ivf ∩ exact| / 5. The join is over 5-row-per-probe sets —
    // metadata-sized regardless of corpus scale; the cost is the two
    // searches themselves, already accounted by their own keys.
    "sim_recall_eval" -> ((s, dir) => {
      val exact = SimQueries.queries("sim_knn_topk")(s, dir)
        .select(col("probe_id"), col("vec_id"))
      val ivf = PipelineQueries.queries("sim_ann_ivf")(s, dir)
        .select(col("probe_id"), col("vec_id"), lit(1L).as("hit"))
      exact.join(ivf, Seq("probe_id", "vec_id"), "left")
        .groupBy("probe_id")
        .agg(count(col("hit")).as("n_match"))
        .select(col("probe_id"), col("n_match"),
          r4d(col("n_match").cast("double") / lit(5.0)).as("recall_at_5"))
        .orderBy("probe_id")
    }),

    // NDCG@10 BY LABEL MATCH (§2.76) — graded retrieval quality, one
    // step past sim_recall_eval's set-overlap: the top-10 cosine
    // neighbors are scored by POSITION (a same-label hit at rank 1 is
    // worth 1/log₂2, at rank 10 only 1/log₂11), normalized by the
    // ideal ordering of everything reachable (min(10, |same-label
    // corpus| − self)). Determinism device: the 10 discount weights
    // are snapped to an integer grid — round(10¹²/log₂(i+1)) per rank
    // i, with their prefix sums as the IDCG lookup — so DCG/IDCG is
    // an exact BIGINT ratio and the one division happens at the edge.
    // Scale shape: broadcast probes + the tiny 10-row weight spine;
    // one corpus scan through the bounded TopKPerGroup heap; the
    // label-count table reduces map-side.
    "eval_ndcg_label" -> ((s, dir) => {
      val (emb, scored) = probeScores(s, dir)
      val top = probeTop10(scored)
      val wtab = ndcgWeights(s)
      val ranked = top
        .withColumn("rk", row_number().over(probeRank).cast("long"))
        .join(broadcast(wtab.select("rk", "wu")), Seq("rk"))
      val perProbe = ranked.groupBy("probe_id")
        .agg(first(col("plabel")).as("plabel"),
          count_if(col("label") === col("plabel")).as("rel_in_top10"),
          sum(when(col("label") === col("plabel"), col("wu"))
            .otherwise(0L)).as("dcg_units"))
      val labelCnt = emb.groupBy(col("label").as("plabel"))
        .agg(count(lit(1)).as("n_label"))
      perProbe
        .join(broadcast(labelCnt), Seq("plabel"))
        .withColumn("ideal_k", least(lit(10L), col("n_label") - 1))
        .join(broadcast(wtab.select(col("rk").as("ideal_k"),
          col("cumw").as("idcg_units"))), Seq("ideal_k"))
        .select(col("probe_id"), col("rel_in_top10"), col("ideal_k"),
          r4d(col("dcg_units").cast("double")
            / col("idcg_units").cast("double")).as("ndcg_at_10"))
        .orderBy("probe_id")
    }),

    // MEAN-RECIPROCAL-RANK BY LABEL (§2.79) — "how deep is the first
    // relevant hit": per probe, the rank of the first same-label
    // neighbor in the FULL cosine ordering and its reciprocal — the
    // metric that punishes a retrieval stack whose first screen is
    // wrong even when recall@k is fine. The ranking window partitions
    // by probe (parallel across probes); first_rank is one min() per
    // probe; rr = one exact integer reciprocal, r4d'd. NDCG grades
    // the whole page; MRR grades the first hit — both faces declared.
    "eval_mrr_label" -> ((s, dir) => {
      val (_, scored) = probeScores(s, dir)
      scored.withColumn("rk", row_number().over(probeRank).cast("long"))
        .filter(col("label") === col("plabel"))
        .groupBy("probe_id")
        .agg(min(col("rk")).as("first_hit_rank"))
        .select(col("probe_id"), col("first_hit_rank"),
          r4d(lit(1.0) / col("first_hit_rank").cast("double"))
            .as("reciprocal_rank"))
        .orderBy("probe_id")
    }),

    // EXPECTED RECIPROCAL RANK @10 (§2.131) — the cascade-model
    // member of the retrieval-eval family: a user scans down, stops
    // at a satisfying result with probability R_r, so ERR =
    // Σ_r (1/r)·R_r·Π_{i<r}(1−R_i). With binary labels R ∈ {0, ½},
    // every term is the DYADIC rational rel_r·2^{−(c_r+1)}/r (c_r =
    // relevant results above r), so scaling by 2¹⁰·lcm(1..10) =
    // 1024·2520 makes each summand the EXACT integer
    // rel·2^(9−c)·(2520 div r) — the eval_ap_retrieval common-
    // denominator trick with a power-of-two factor riding along.
    // One integer sum per probe, one IEEE division at the edge.
    // Same broadcast probe set and bounded per-probe ranking as the
    // rest of the triad.
    "eval_err" -> ((s, dir) => {
      val (_, scored) = probeScores(s, dir)
      val wprev = Window.partitionBy("probe_id").orderBy("rk")
        .rowsBetween(Window.unboundedPreceding, -1)
      scored.withColumn("rk", row_number().over(probeRank).cast("long"))
        .filter(col("rk") <= 10)
        .withColumn("rel",
          when(col("label") === col("plabel"), 1L).otherwise(0L))
        .withColumn("c", coalesce(sum(col("rel")).over(wprev), lit(0L)))
        .groupBy("probe_id")
        .agg(sum(col("rel")).cast("long").as("n_rel_top10"),
          sum(expr("rel * shiftleft(1L, cast(9 - c AS int))" +
            " * (2520 div rk)")).cast("long").as("errx"))
        .select(col("probe_id"), col("n_rel_top10"),
          r4d(col("errx").cast("double") / lit(2580480.0)).as("err"))
        .orderBy("probe_id")
    }),

    // AVERAGE PRECISION @10 BY LABEL (§2.84) — the third face of the
    // retrieval-eval triad: NDCG grades the whole page with graded
    // discounts, MRR grades the first hit, AP@10 grades EVERY hit by
    // the precision at its position — Σ_{hit k} P@k / min(10, n_rel).
    // Exactness device: P@k = cumrel/k has denominators k ∈ 1..10
    // only, so scaling by lcm(1..10) = 2520 makes every summand the
    // exact integer cumrel·(2520 div k) — the whole statistic is one
    // integer sum over one integer denominator, a single IEEE
    // division r4d'd at the edge (the eval_auc_rank doubled-rank
    // trick with a different common denominator). Shape: the shared
    // bounded-heap TopKPerGroup(10) per probe, a 10-row window per
    // probe, broadcast label counts.
    "eval_ap_retrieval" -> ((s, dir) => {
      val (emb, scored) = probeScores(s, dir)
      val top = probeTop10(scored)
      val ranked = top
        .withColumn("rk", row_number().over(probeRank).cast("long"))
        .withColumn("rel", (col("label") === col("plabel")).cast("long"))
        .withColumn("cumrel", sum(col("rel")).over(
          probeRank.rowsBetween(Window.unboundedPreceding,
            Window.currentRow)))
      val perProbe = ranked.groupBy("probe_id")
        .agg(first(col("plabel")).as("plabel"),
          count_if(col("rel") === 1).as("hits10"),
          coalesce(sum(when(col("rel") === 1,
            col("cumrel") * expr("2520 div rk"))), lit(0L)).as("ap_units"))
      val labelCnt = emb.groupBy(col("label").as("plabel"))
        .agg(count(lit(1)).as("n_label"))
      perProbe.join(broadcast(labelCnt), Seq("plabel"))
        .withColumn("ideal_k", least(lit(10L), col("n_label") - 1))
        .select(col("probe_id"), col("hits10"), col("ideal_k"),
          when(col("ideal_k") > 0,
            r4d(col("ap_units").cast("double")
              / (lit(2520.0) * col("ideal_k").cast("double"))))
            .as("ap_at_10"))
        .orderBy("probe_id")
    }),

    // Per-label elementwise mean of the first 8 dims (exact decimal sums
    // at scale 12 — lossless for float inputs, order-independent).
    "sim_centroid_per_label" -> ((s, dir) => {
      t(s, dir, "embeddings")
        .select(col("label"), posexplode(slice(col("embedding"), 1, 8)))
        .groupBy(col("label"), col("pos"))
        .agg(r4d(sum(col("col").cast("double").cast("decimal(38,12)"))
          .cast("double") / count(lit(1))).as("mean"))
        .select(col("label"), col("pos").cast("long").as("pos"), col("mean"))
        .orderBy("label", "pos")
    }),

    // The "multimodal columns" surface: text metadata + vector in one row.
    "multimodal_join" -> ((s, dir) => {
      t(s, dir, "documents")
        .join(t(s, dir, "embeddings"), col("doc_id") === col("vec_id"))
        .groupBy(col("lang"), col("label")).agg(count(lit(1)).as("n"))
        .orderBy("lang", "label")
    }),

    // NEAREST-CENTROID CLASSIFICATION + CONFUSION MATRIX — the eval
    // step downstream of sim_centroid_per_label: fit per-label mean
    // vectors, assign every embedding to its nearest centroid
    // (squared L2), and emit the label × predicted confusion counts —
    // the first-line "are these embeddings separable" check every
    // labeling/distillation pipeline runs. Centroids are exact
    // decimal(38,12) means over ALL 64 dims (order-independent, the
    // sibling key's device) divided once to doubles; distances fold in
    // DIMENSION order via zip_with + aggregate (in-order, the entropy
    // convention), so the argmin sees bit-identical d² in both
    // engines; argmin tie-breaks on label via the lexicographic
    // struct.
    //
    // Scale: centroids are a |labels|×|dims| table — broadcast as
    // |labels| rows of arrays; scoring is one map-side pass over the
    // vector table (the IVF routing shape), and the confusion output
    // is |labels|² rows.
    // NORM DISTRIBUTION (§2.148) — per-label L2 norm statistics of
    // the embeddings: unnormalized-embedding drift between labels is
    // the classic silent killer of dot-product retrieval (MIPS
    // favors long vectors; sim_mips_topk's results are only
    // comparable if norms are), so the norm profile belongs next to
    // the dim-variance diagnostic. Norm = one correctly-rounded sqrt
    // over the deterministic dot fold, floor-snapped to micro-units
    // before the DECIMAL(38,0) moment sums; min/max exact on the
    // snapped integers.
    "sim_norm_distribution" -> ((s, dir) => {
      val n6 = floor(sqrt(ArrayDot(col("v"), col("v"))) * lit(1.0e6))
        .cast("long")
      t(s, dir, "embeddings")
        .select(col("label"),
          col("embedding").cast("array<double>").as("v"))
        .select(col("label"), n6.as("n6"))
        .groupBy("label")
        .agg(count(lit(1)).as("n_vecs"),
          sum(col("n6").cast("decimal(38,0)")).as("s6"),
          min(col("n6")).as("min6"), max(col("n6")).as("max6"))
        .select(col("label"), col("n_vecs"),
          r4d(col("s6").cast("double") / col("n_vecs").cast("double")
            / lit(1.0e6)).as("mean_norm"),
          r4d(col("min6").cast("double") / lit(1.0e6)).as("min_norm"),
          r4d(col("max6").cast("double") / lit(1.0e6)).as("max_norm"))
        .orderBy("label")
    }),

    // CLASSIFY MARGIN (§2.168) — the confidence profile of the
    // centroid classifier: per vector, the d² gap between the
    // second-best and best centroid (the decision margin); per
    // label: mean margin (micro-snapped to 10⁻⁶ BIGINTs before
    // summing — order-independent) and the share of AMBIGUOUS
    // vectors (margin < 0.01, the near-boundary cases a routing
    // pipeline sends to review). The 10-centroid distance list per
    // vector is bounded and sorts by the bit-stable (d², label)
    // order the classify key's argmin already stakes on.
    "sim_classify_margin" -> ((s, dir) => {
      val d2 = centroidD2(s, dir)
        .groupBy(col("vec_id"), col("label"))
        .agg(array_sort(collect_list(struct(col("d2"), col("clabel"))))
          .as("ds"))
        .select(col("vec_id"), col("label"),
          floor((element_at(col("ds"), 2)("d2")
            - element_at(col("ds"), 1)("d2")) * lit(1.0e6))
            .cast("long").as("m6"))
      d2.groupBy("label")
        .agg(count(lit(1)).as("n_vecs"),
          sum(col("m6").cast("decimal(38,0)")).as("sm6"),
          count_if(col("m6") < 10000L).as("n_ambiguous"))
        .select(col("label"), col("n_vecs"),
          r4d(col("sm6").cast("double") / col("n_vecs").cast("double")
            / lit(1.0e6)).as("mean_margin"),
          col("n_ambiguous"),
          r4d(col("n_ambiguous").cast("double")
            / col("n_vecs").cast("double")).as("share_ambiguous"))
        .orderBy("label")
    }),

    // DIM CORRELATION PAIRS (§2.178) — the redundancy companion to
    // sim_dim_variance's per-dimension spread: Pearson correlation
    // between embedding dimensions (first 16 dims — the bounded
    // 120-pair grid), top-10 by |r| — strongly correlated dims mean
    // the representation wastes capacity and PCA/whitening will pay.
    // Values micro-snap to 10⁻⁶ integers FIRST, so every moment sum
    // is an exact decimal and the only floats are the final
    // correlation divisions; pair expansion is map-side (explode of
    // a per-row 120-struct list — no self-join), then one keyed
    // reduce over the bounded pair grid.
    "sim_dim_correlation_pairs" -> ((s, dir) => {
      val D0 = "decimal(38,0)"
      val a6 = expr("transform(slice(embedding, 1, 16)," +
        " x -> CAST(floor(CAST(x AS DOUBLE) * 1000000.0) AS LONG))")
      val pairs = t(s, dir, "embeddings")
        .select(a6.as("a"))
        .select(explode(expr(
          "flatten(transform(sequence(0, 14), i ->" +
            " transform(sequence(i + 1, 15), j ->" +
            " struct(i AS pi, j AS pj," +
            " a[i] AS xi, a[j] AS xj))))")).as("p"))
        .select(col("p.pi").cast("long").as("pi"),
          col("p.pj").cast("long").as("pj"),
          col("p.xi").as("xi"), col("p.xj").as("xj"))
      val m = pairs.groupBy("pi", "pj")
        .agg(count(lit(1)).as("n"),
          sum(col("xi").cast(D0)).as("si"),
          sum(col("xj").cast(D0)).as("sj"),
          sum(col("xi").cast(D0) * col("xi")).as("sii"),
          sum(col("xj").cast(D0) * col("xj")).as("sjj"),
          sum(col("xi").cast(D0) * col("xj")).as("sij"))
      m.select(col("pi"), col("pj"),
          r4d((col("n").cast(D0) * col("sij") - col("si") * col("sj"))
            .cast("double")
            / (sqrt((col("n").cast(D0) * col("sii")
              - col("si") * col("si")).cast("double"))
              * sqrt((col("n").cast(D0) * col("sjj")
                - col("sj") * col("sj")).cast("double"))))
            .as("corr"))
        .orderBy(abs(col("corr")).desc, col("pi"), col("pj"))
        .limit(10)
    }),

    // ORDINAL ERROR COST (§2.191) — severity-weighted error over
    // the shared centroid confusion: when labels are ordinal,
    // predicting 9 for a 0 is worse than predicting 1 — expected
    // cost E|label − pred|, total cost, and the single worst
    // off-diagonal confusion cell (the pair to fix first). Exact
    // integer costs, one division, one bounded argmax.
    "eval_ordinal_error_cost" -> ((s, dir) => {
      val conf = centroidConfusion(s, dir).localCheckpoint(true)
      val tot = conf.agg(sum(col("n")).as("nn"),
        sum((abs(col("label") - col("pred")) * col("n"))
          .cast("decimal(38,0)")).as("cost"))
      val w = Window.orderBy(col("n").desc, col("label"),
        col("pred"))
      val worst = conf.filter(col("label") =!= col("pred"))
        .withColumn("rk", row_number().over(w))
        .filter(col("rk") === 1)
        .select(col("label").as("worst_label"),
          col("pred").as("worst_pred"), col("n").as("worst_n"))
      tot.crossJoin(worst)
        .select(col("nn").as("n_vectors"),
          col("cost").cast("long").as("total_cost"),
          r4d(col("cost").cast("double") / col("nn").cast("double"))
            .as("mean_cost"),
          col("worst_label"), col("worst_pred"), col("worst_n"))
    }),

    // MACRO/MICRO F1 (§2.189) — the two-row summary every multiclass
    // eval quotes above eval_per_class_prf's table: micro-F1 (= the
    // trace share — accuracy, for single-label multiclass) and
    // macro-F1 (the unweighted per-class mean that surfaces
    // minority-class failure). Shares the SAME confusion matrix as
    // the per-class key so the summaries cannot disagree with the
    // table; per-class F1 rationals micro-snap to 10⁻⁶ integers
    // before the bounded decimal mean.
    "eval_macro_micro_f1" -> ((s, dir) => {
      val conf = centroidConfusion(s, dir).localCheckpoint(true)
      val byLabel = conf.groupBy("label")
        .agg(sum(col("n")).as("lt"))
      val byPred = conf.groupBy("pred").agg(sum(col("n")).as("pt"))
        .withColumnRenamed("pred", "label")
      val tp = conf.filter(col("label") === col("pred"))
        .select(col("label"), col("n").as("tp"))
      val per = byLabel.join(tp, Seq("label"), "left")
        .join(byPred, Seq("label"), "left")
        .select(col("label"), coalesce(col("tp"), lit(0L)).as("tp"),
          (coalesce(col("pt"), lit(0L))
            - coalesce(col("tp"), lit(0L))).as("fp"),
          (col("lt") - coalesce(col("tp"), lit(0L))).as("fn"))
        .select(col("tp"),
          floor((lit(2L) * col("tp")).cast("double")
            / (lit(2L) * col("tp") + col("fp") + col("fn"))
              .cast("double") * lit(1.0e6)).cast("long").as("f16"))
      val tot = conf.agg(sum(col("n")).as("nn"))
      per.agg(count(lit(1)).as("n_classes"),
          sum(col("tp")).as("stp"),
          sum(col("f16").cast("decimal(38,0)")).as("sf6"))
        .crossJoin(broadcast(tot))
        .select(col("n_classes"), col("nn").as("n_vectors"),
          r4d(col("stp").cast("double") / col("nn").cast("double"))
            .as("micro_f1"),
          r4d(col("sf6").cast("double")
            / col("n_classes").cast("double") / lit(1.0e6))
            .as("macro_f1"))
    }),

    // INTRINSIC DIMENSION (§2.188) — the Levina–Bickel MLE over the
    // 100-anchor panel: per anchor, id = 8 / Σⱼ ln(d²₅/d²ⱼ) from its
    // top-5 squared distances (the d² spelling halves nothing — the
    // 2s fold into the 8), then the panel mean. An ID far below the
    // ambient 64 says the embeddings live on a low-dimensional
    // manifold and aggressive PQ/dim-reduction is safe — the
    // actionable summary behind sim_dim_variance's per-dim table.
    // Per-anchor folds run over the sorted bounded 5-list;
    // per-anchor ids micro-snap to 10⁻⁶ integers before the exact
    // decimal mean. Degenerate anchors (zero or all-equal
    // distances) drop out by exact compare.
    "sim_intrinsic_dimension" -> ((s, dir) => {
      val emb = graft.Tables.embs(s, dir)
        .select(col("vec_id"),
          col("embedding").cast("array<double>").as("v"))
      val anchors = emb
        .select(col("vec_id").as("aid"), col("v").as("av"),
          md5(col("vec_id").cast("string").cast("binary")).as("h"))
        .orderBy(col("h"), col("aid")).limit(100)
        .select(col("aid"), col("av"))
      val scored = emb.crossJoin(broadcast(anchors))
        .filter(col("vec_id") =!= col("aid"))
        .select(col("aid"), col("vec_id"),
          aggregate(zip_with(col("av"), col("v"),
            (a, x) => (a - x) * (a - x)),
            lit(0.0), (acc, e) => acc + e).as("d2"))
      val top = graft.plans.TopKPerGroup(scored, k = 5,
        partNames = Seq("aid"),
        orderSpec = Seq(("d2", true), ("vec_id", true)))
      val per = top.groupBy("aid")
        .agg(array_sort(collect_list(col("d2"))).as("ds"))
        .filter(size(col("ds")) === 5
          && element_at(col("ds"), 1) > 0
          && element_at(col("ds"), 5) > element_at(col("ds"), 1))
        .select(floor(lit(8.0e6)
          / aggregate(expr("slice(ds, 1, 4)"), lit(0.0),
            (acc, x) => acc + log(element_at(col("ds"), 5) / x)))
          .cast("long").as("id6"))
      per.agg(count(lit(1)).as("n_anchors"),
          sum(col("id6").cast("decimal(38,0)")).as("s6"))
        .select(col("n_anchors"),
          r4d(col("s6").cast("double")
            / col("n_anchors").cast("double") / lit(1.0e6))
            .as("mean_intrinsic_dim"))
    }),

    // FIRST-HIT RANK HISTOGRAM (§2.185) — the distribution behind
    // MRR's single number: per anchor of the shared 100-anchor
    // panel, the rank of the first SAME-LABEL neighbor under the
    // (d², vec_id) total order, histogrammed into {1, 2, 3, 4-5,
    // 6-10, 11+} buckets — "truth at rank 1 half the time, beyond
    // 10 a quarter of the time" is what the retrieval team actually
    // needs to hear. One corpus scan + one per-anchor rank window.
    "eval_first_hit_rank_hist" -> ((s, dir) => {
      val scored = anchorScores(s, dir)
      val w = Window.partitionBy("aid")
        .orderBy(col("d2"), col("vec_id"))
      val fr = scored
        .withColumn("rk", row_number().over(w).cast("long"))
        .filter(col("label") === col("alabel"))
        .groupBy("aid").agg(min(col("rk")).as("fr"))
      val bucketed = fr.select(
        when(col("fr") <= 3, col("fr"))
          .when(col("fr") <= 5, 4L)
          .when(col("fr") <= 10, 5L).otherwise(6L).as("bucket_id"))
        .groupBy("bucket_id").agg(count(lit(1)).as("n_anchors"))
      bucketed
        .crossJoin(broadcast(bucketed
          .agg(sum(col("n_anchors")).cast("long").as("tot"))))
        .select(col("bucket_id"),
          when(col("bucket_id") === 1, "1")
            .when(col("bucket_id") === 2, "2")
            .when(col("bucket_id") === 3, "3")
            .when(col("bucket_id") === 4, "4-5")
            .when(col("bucket_id") === 5, "6-10")
            .otherwise("11+").as("first_hit_rank"),
          col("n_anchors"),
          r4d(col("n_anchors").cast("double")
            / col("tot").cast("double")).as("share"))
        .orderBy("bucket_id")
    }),

    // HUBNESS PROFILE (§2.184) — the high-dimensional ANN pathology
    // check: some vectors ("hubs") appear in everyone's top-k and
    // poison retrieval diversity. Over the md5-ordered 100-anchor
    // panel (the LOO key's device), take each anchor's top-5
    // nearest others and report the 10 most-retrieved vectors with
    // their share of all 500 retrieval slots — a share far above
    // 5/n means hubness is real and the index needs norm/centering
    // work. One corpus scan into bounded per-anchor heaps.
    "sim_hubness_profile" -> ((s, dir) => {
      val top = graft.plans.TopKPerGroup(anchorScores(s, dir), k = 5,
        partNames = Seq("aid"),
        orderSpec = Seq(("d2", true), ("vec_id", true)))
      val counts = top.groupBy(col("vec_id"), col("label"))
        .agg(count(lit(1)).as("n_retrievals"))
      val tot = counts.agg(sum(col("n_retrievals")).cast("long")
        .as("slots"))
      counts.crossJoin(broadcast(tot))
        .orderBy(col("n_retrievals").desc, col("vec_id"))
        .limit(10)
        .select(col("vec_id"), col("label"), col("n_retrievals"),
          r4d(col("n_retrievals").cast("double")
            / col("slots").cast("double")).as("slot_share"))
    }),

    // LOO 1-NN ACCURACY (§2.172) — the intrinsic-separability
    // benchmark: for a deterministic 100-anchor panel (md5 hash
    // order — replay-stable, the §2.128 budget device), find each
    // anchor's nearest OTHER vector (squared L2, (d², vec_id) total
    // order) and score leave-one-out label agreement per label. The
    // honest "are these embeddings linearly usable" number next to
    // the centroid classifier's (which assumes unimodal classes).
    // Scale: anchors broadcast; ONE corpus scan scores 100·n pairs
    // map-side into a bounded per-anchor top-1 — never corpus×corpus.
    "sim_loo_knn_accuracy" -> ((s, dir) => {
      val scored = anchorScores(s, dir)
      val top = graft.plans.TopKPerGroup(scored, k = 1,
        partNames = Seq("aid"),
        orderSpec = Seq(("d2", true), ("vec_id", true)))
      top.select(col("alabel"),
          (col("label") === col("alabel")).cast("long").as("ok"))
        .groupBy(col("alabel").as("label"))
        .agg(count(lit(1)).as("n_anchors"),
          sum(col("ok")).as("n_correct"))
        .select(col("label"), col("n_anchors"), col("n_correct"),
          r4d(col("n_correct").cast("double")
            / col("n_anchors").cast("double")).as("accuracy"))
        .orderBy("label")
    }),

    // LABEL EXEMPLARS (§2.169) — prototype picking: the 3 vectors
    // closest (squared L2) to their OWN label centroid — the "show
    // me what this class looks like" readout every labeling audit
    // and few-shot-prompt builder starts from (a medoid
    // approximation at centroid cost: one broadcast equi-join on
    // label, no pair enumeration). Centroids are the classify keys'
    // exact decimal(38,12) means divided once to doubles; d² folds
    // in dimension order on the same bit-stable device; top-3 under
    // the (d², vec_id) total order via a per-label bounded window.
    "sim_label_exemplars" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val cent = emb
        .select(col("label"), posexplode(col("embedding")))
        .groupBy(col("label"), col("pos"))
        .agg((sum(col("col").cast("double").cast("decimal(38,12)"))
          .cast("double") / count(lit(1))).as("c"))
      val carr = cent.groupBy("label")
        .agg(array_sort(collect_list(struct(col("pos"), col("c"))))
          .as("ps"))
        .select(col("label"),
          expr("transform(ps, p -> p.c)").as("cvec"))
      val w = Window.partitionBy(col("label"))
        .orderBy(col("d2"), col("vec_id"))
      emb.join(broadcast(carr), Seq("label"))
        .withColumn("d2", aggregate(
          zip_with(col("embedding"), col("cvec"),
            (x, c) => (x.cast("double") - c) * (x.cast("double") - c)),
          lit(0.0), (acc, e) => acc + e))
        .withColumn("rk", row_number().over(w))
        .filter(col("rk") <= 3)
        .select(col("label"), col("rk").cast("long").as("rk"),
          col("vec_id"), r4d(col("d2")).as("d2"))
        .orderBy("label", "rk")
    }),

    // NORM OUTLIERS (§2.165) — the actionable list behind
    // sim_norm_distribution's per-label profile: the 10 vectors
    // whose L2 norm deviates most from their label's mean (in σ
    // units), flagged is_outlier at the conventional |z| > 2 — the
    // truncated/corrupted/unnormalized-ingest suspects a vector-
    // store audit inspects first (a top-k, not a filter, so a clean
    // corpus still reports its most-deviant candidates). Norms
    // micro-snap to 10⁻⁶ BIGINTs (the shared grid), μ/σ from exact
    // integer moments broadcast back, the (|z| desc, vec_id) order
    // total on identical doubles.
    "sim_norm_outliers" -> ((s, dir) => {
      val n6c = floor(sqrt(ArrayDot(col("v"), col("v"))) * lit(1.0e6))
        .cast("long")
      val v = t(s, dir, "embeddings")
        .select(col("vec_id"), col("label"),
          col("embedding").cast("array<double>").as("v"))
        .select(col("vec_id"), col("label"), n6c.as("n6"))
      val m = v.groupBy("label")
        .agg(count(lit(1)).as("n"),
          sum(col("n6").cast("decimal(38,0)")).as("s1"),
          sum(col("n6").cast("decimal(38,0)") * col("n6")).as("s2"))
        .filter(col("n") > 1 &&
          col("n").cast("decimal(38,0)") * col("s2")
            > col("s1") * col("s1"))
      val mu = col("s1").cast("double") / col("n").cast("double")
      val sd = sqrt((col("n").cast("decimal(38,0)") * col("s2")
        - col("s1") * col("s1")).cast("double")
        / (col("n") * col("n")).cast("double"))
      v.join(broadcast(m), Seq("label"))
        .withColumn("z", (col("n6").cast("double") - mu) / sd)
        .orderBy(abs(col("z")).desc, col("vec_id"))
        .limit(10)
        .select(col("label"), col("vec_id"),
          r4d(col("n6").cast("double") / lit(1.0e6)).as("norm"),
          r4d(col("z")).as("z"),
          (abs(col("z")) > 2.0).as("is_outlier"))
        .orderBy("label", "vec_id")
    }),

    // NDCG@k CURVE (§2.163) — eval_ndcg_label at the four standard
    // cutoffs k ∈ {1, 3, 5, 10} instead of one: where does ranking
    // quality fall off (the ANN-tuning companion of
    // sim_recall_curve, on the graded-relevance axis). Same integer
    // DCG weight units (round(10¹²/log₂(rk+1)) — exact BIGINT sums,
    // no float DCG), same label-count ideal; per (probe, k) rows so
    // every value is an exact rational — no cross-probe float mean.
    "eval_ndcg_curve" -> ((s, dir) => {
      val (emb, scored) = probeScores(s, dir)
      val top = probeTop10(scored)
      val wtab = ndcgWeights(s)
      val ks = s.range(4).select(
        when(col("id") === 0, 1L).when(col("id") === 1, 3L)
          .when(col("id") === 2, 5L).otherwise(10L).as("k"))
      val ranked = top
        .withColumn("rk", row_number().over(probeRank).cast("long"))
        .join(broadcast(wtab.select("rk", "wu")), Seq("rk"))
        .crossJoin(broadcast(ks))
        .filter(col("rk") <= col("k"))
      val perProbe = ranked.groupBy("probe_id", "k")
        .agg(first(col("plabel")).as("plabel"),
          count_if(col("label") === col("plabel")).as("rel_in_topk"),
          sum(when(col("label") === col("plabel"), col("wu"))
            .otherwise(0L)).as("dcg_units"))
      val labelCnt = emb.groupBy(col("label").as("plabel"))
        .agg(count(lit(1)).as("n_label"))
      perProbe
        .join(broadcast(labelCnt), Seq("plabel"))
        .withColumn("ideal_k", least(col("k"), col("n_label") - 1))
        .join(broadcast(wtab.select(col("rk").as("ideal_k"),
          col("cumw").as("idcg_units"))), Seq("ideal_k"))
        .select(col("probe_id"), col("k"), col("rel_in_topk"),
          r4d(col("dcg_units").cast("double")
            / col("idcg_units").cast("double")).as("ndcg_at_k"))
        .orderBy("probe_id", "k")
    }),

    // CENTROID DRIFT (§2.161) — the embedding-version drift monitor:
    // split each label's vectors into two deterministic pseudo-
    // batches (vec_id parity — stand-ins for "last week's embeddings
    // vs this week's"), compute both decimal(38,12)-exact centroids
    // (the classify device), and report the per-label L2 shift and
    // the worst single dimension — the re-index / re-calibrate
    // trigger every vector store watches. The difference fold runs
    // in dimension order (zip over pos-sorted arrays), max is
    // order-free, sqrt at the edge.
    "sim_centroid_drift" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
        .withColumn("half", (col("vec_id") % 2).cast("long"))
      val cent = emb
        .select(col("label"), col("half"), posexplode(col("embedding")))
        .groupBy("label", "half", "pos")
        .agg((sum(col("col").cast("double").cast("decimal(38,12)"))
          .cast("double") / count(lit(1))).as("c"))
      val arr = cent.groupBy("label", "half")
        .agg(array_sort(collect_list(struct(col("pos"), col("c"))))
          .as("ps"))
        .select(col("label"), col("half"),
          expr("transform(ps, p -> p.c)").as("cv"))
      val n = emb.groupBy("label", "half").agg(count(lit(1)).as("n"))
      val a = arr.filter(col("half") === 0)
        .select(col("label"), col("cv").as("ca"))
        .join(n.filter(col("half") === 0)
          .select(col("label"), col("n").as("n_even")), Seq("label"))
      val b = arr.filter(col("half") === 1)
        .select(col("label"), col("cv").as("cb"))
        .join(n.filter(col("half") === 1)
          .select(col("label"), col("n").as("n_odd")), Seq("label"))
      a.join(b, Seq("label"))
        .withColumn("d2", aggregate(
          zip_with(col("ca"), col("cb"), (x, y) => (x - y) * (x - y)),
          lit(0.0), (acc, e) => acc + e))
        .withColumn("dmax", aggregate(
          zip_with(col("ca"), col("cb"), (x, y) => abs(x - y)),
          lit(0.0), (acc, e) => greatest(acc, e)))
        .select(col("label"), col("n_even"), col("n_odd"),
          r4d(sqrt(col("d2"))).as("l2_shift"),
          r4d(col("dmax")).as("max_dim_shift"))
        .orderBy("label")
    }),

    // INTRA-LABEL DIVERSITY (§2.151) — mean PAIRWISE dot product
    // within each label WITHOUT forming pairs: the polarization
    // identity Σ_{i≠j} ⟨vᵢ,vⱼ⟩ = ‖Σᵢvᵢ‖² − Σᵢ‖vᵢ‖² turns the
    // O(n²·d) pairwise reduce into TWO LINEAR passes (per-dimension
    // component sums, then one 64-row fold per label) — the cluster
    // cohesion / mode-collapse diagnostic that stays O(n·d) at
    // 100 TB where sim_cosine_pairs' blocked join cannot. Exactness:
    // components micro-snap to 10⁻⁶ BIGINTs FIRST (the declared
    // grid), so every sum/square is exact integer arithmetic in
    // decimal(38,0)/HUGEINT — order-independent, engine-identical;
    // one double division at the edge, in 10⁻¹² dot units.
    "sim_intra_label_diversity" -> ((s, dir) => {
      val u = t(s, dir, "embeddings")
        .select(col("label"), posexplode(col("embedding")))
        .select(col("label"), col("pos"),
          floor(col("col").cast("double") * lit(1.0e6)).cast("long")
            .as("xi"))
      val byDim = u.groupBy("label", "pos")
        .agg(sum(col("xi").cast("decimal(38,0)")).as("sd"),
          sum(col("xi").cast("decimal(38,0)") * col("xi")).as("qd"))
      val per = byDim.groupBy("label")
        .agg(sum(col("sd") * col("sd")).as("ssq"),
          sum(col("qd")).as("qq"))
      val n = t(s, dir, "embeddings")
        .groupBy("label").agg(count(lit(1)).as("n_vecs"))
      n.join(per, Seq("label"))
        .filter(col("n_vecs") > 1)
        .select(col("label"), col("n_vecs"),
          r4d((col("ssq") - col("qq")).cast("double")
            / (col("n_vecs") * (col("n_vecs") - 1)).cast("double")
            / lit(1.0e12)).as("mean_pairwise_dot"))
        .orderBy("label")
    }),

    // TRIPLET VIOLATION / 1-NN ERROR RATE (§2.155) — for each
    // deterministic anchor (vec_id < 20), is the nearest OTHER-label
    // vector closer than the nearest SAME-label vector? A violated
    // triplet (a, nearest-pos, nearest-neg) ⟺ a 1-NN
    // leave-one-out misclassification — the metric-learning health
    // check next to eval_topk_accuracy's centroid view (centroids
    // blur multi-modal classes; 1-NN doesn't). The bounded anchor
    // set broadcasts; d² is the classify key's bit-stable
    // dimension-order fold; two conditional mins per anchor, exact
    // counts per label.
    "sim_triplet_violation_rate" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
        .select(col("vec_id"), col("label"), col("embedding"))
      val anchors = emb.filter(col("vec_id") < 20)
        .select(col("vec_id").as("aid"), col("label").as("alabel"),
          col("embedding").as("av"))
      val d2 = emb.crossJoin(broadcast(anchors))
        .filter(col("vec_id") =!= col("aid"))
        .withColumn("d2", aggregate(
          zip_with(col("embedding"), col("av"),
            (x, c) => (x.cast("double") - c.cast("double"))
              * (x.cast("double") - c.cast("double"))),
          lit(0.0), (acc, e) => acc + e))
      d2.groupBy("aid", "alabel")
        .agg(min(when(col("label") === col("alabel"), col("d2")))
          .as("d_same"),
          min(when(col("label") =!= col("alabel"), col("d2")))
            .as("d_other"))
        .groupBy(col("alabel").as("label"))
        .agg(count(lit(1)).as("n_anchors"),
          count_if(col("d_other") < col("d_same")).as("n_violations"))
        .select(col("label"), col("n_anchors"), col("n_violations"),
          r4d(col("n_violations").cast("double")
            / col("n_anchors").cast("double")).as("violation_rate"))
        .orderBy("label")
    }),

    // PREFIX-RECALL CURVE (§2.142) — sim_prefix_dim_recall at ONE k
    // answers "is the 16-dim prefix good enough at 10"; the CURVE
    // answers where it breaks: recall@k of the 16-dim prefix ranking
    // against the full ranking for k ∈ {1, 5, 10, 20}, averaged over
    // probes. Both rankings are exact per-probe top-20 (bounded
    // windows over the broadcast probe set); each k's hit count is
    // the conditional sum [rk_full ≤ k ∧ rk_prefix ≤ k] off ONE
    // joined table and a 4-row k spine — exact integers, one
    // division per k.
    "sim_recall_curve" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
        .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
      val probes = emb.filter(col("vec_id") < 10)
        .select(col("vec_id").as("probe_id"), col("v").as("p"),
          expr("slice(v, 1, 16)").as("p16"))
      val scored = emb.crossJoin(broadcast(probes))
        .filter(col("vec_id") =!= col("probe_id"))
        .select(col("probe_id"), col("vec_id"),
          (ArrayDot(col("p"), col("v"))
            / (sqrt(ArrayDot(col("p"), col("p")))
              * sqrt(ArrayDot(col("v"), col("v"))))).as("cosf"),
          (ArrayDot(col("p16"), expr("slice(v, 1, 16)"))
            / (sqrt(ArrayDot(col("p16"), col("p16")))
              * sqrt(ArrayDot(expr("slice(v, 1, 16)"),
                expr("slice(v, 1, 16)"))))).as("cosp"))
      val wf = Window.partitionBy("probe_id")
        .orderBy(col("cosf").desc, col("vec_id"))
      val wp = Window.partitionBy("probe_id")
        .orderBy(col("cosp").desc, col("vec_id"))
      val rk = scored
        .withColumn("rkf", row_number().over(wf).cast("long"))
        .withColumn("rkp", row_number().over(wp).cast("long"))
        .filter(col("rkf") <= 20 || col("rkp") <= 20)
      val np = probes.count()
      val ks = s.createDataFrame(Seq(1L, 5L, 10L, 20L).map(Tuple1(_)))
        .toDF("k")
      rk.crossJoin(broadcast(ks))
        .groupBy("k")
        .agg(sum(when(col("rkf") <= col("k")
          && col("rkp") <= col("k"), 1L).otherwise(0L))
          .cast("long").as("n_hits"))
        .select(col("k"), col("n_hits"),
          r4d(col("n_hits").cast("double")
            / (col("k") * lit(np)).cast("double")).as("recall"))
        .orderBy("k")
    }),

    // PER-DIMENSION VARIANCE PROFILE (§2.138) — which embedding
    // dimensions carry signal: mean and variance per coordinate,
    // the PCA-lite diagnostic behind Matryoshka-prefix decisions
    // (sim_prefix_dim_recall measures a 16-dim prefix; this says
    // whether 16 was the right number). Floats are floor-snapped to
    // micro-unit BIGINTs per value, so both moments are EXACT
    // DECIMAL(38,0) integer sums at any corpus size; two divisions
    // per dimension at the edge. One posexplode + one reduce,
    // shuffle bounded by |dims|.
    "sim_dim_variance" -> ((s, dir) => {
      val u = t(s, dir, "embeddings")
        .select(posexplode(col("embedding")))
        .select(col("pos"),
          floor(col("col").cast("double") * lit(1.0e6)).cast("long")
            .as("xi"))
      u.groupBy("pos").agg(count(lit(1)).as("n"),
          sum(col("xi").cast("decimal(38,0)")).as("sx"),
          sum(col("xi").cast("decimal(38,0)") * col("xi")).as("sxx"))
        .select(col("pos").cast("long").as("dim"), col("n"),
          r4d(col("sx").cast("double") / col("n").cast("double")
            / lit(1.0e6)).as("mean"),
          r4d((col("n").cast("decimal(38,0)") * col("sxx")
              - col("sx") * col("sx")).cast("double")
            / (col("n").cast("decimal(38,0)") * col("n")).cast("double")
            / lit(1.0e12)).as("variance"))
        .orderBy("dim")
    }),

    // TOP-K CLASSIFICATION ACCURACY (§2.136) — the standard
    // image-net-style top-1/top-3 readout over the SAME centroid
    // classifier sim_centroid_classify declares (the confusion
    // matrix says WHERE it errs; this says how often the truth is
    // at least NEAR the top): rank the label centroids per vector
    // by the identical bit-stable d² fold, flag the truth at rank 1
    // and within rank ≤ 3. Exact counts per label, two divisions.
    "eval_topk_accuracy" -> ((s, dir) => {
      val scored = centroidD2(s, dir)
      val w = Window.partitionBy("vec_id")
        .orderBy(col("d2"), col("clabel"))
      scored.withColumn("rk", row_number().over(w))
        .filter(col("rk") <= 3)
        .groupBy("vec_id", "label")
        .agg(max(when(col("rk") === 1
            && col("clabel") === col("label"), 1L).otherwise(0L))
            .as("hit1"),
          max(when(col("clabel") === col("label"), 1L).otherwise(0L))
            .as("hit3"))
        .groupBy("label")
        .agg(count(lit(1)).as("n_vecs"),
          sum(col("hit1")).cast("long").as("n_top1"),
          sum(col("hit3")).cast("long").as("n_top3"))
        .select(col("label"), col("n_vecs"), col("n_top1"),
          col("n_top3"),
          r4d(col("n_top1").cast("double") / col("n_vecs").cast("double"))
            .as("top1_acc"),
          r4d(col("n_top3").cast("double") / col("n_vecs").cast("double"))
            .as("top3_acc"))
        .orderBy("label")
    }),

    "sim_centroid_classify" -> ((s, dir) =>
      centroidConfusion(s, dir).orderBy("label", "pred")),

    // PER-CLASS PRECISION / RECALL / F1 (§2.154) — the multiclass
    // readout the confusion MATRIX (sim_centroid_classify) and the
    // top-k ACCURACY (eval_topk_accuracy) bracket but never state:
    // per class, TP / FP / FN off the same bit-stable centroid
    // confusion, precision = TP/ŷ-total, recall = TP/y-total, F1 =
    // 2TP/(2TP+FP+FN) — every value an exact integer or a single
    // rational division, so no macro-averaging float-sum ambiguity
    // enters the table (macro-F1 is the reader's one-line mean over
    // this ≤|labels|-row output). Degenerate classes (never
    // predicted) emit NULL precision, not a fake 0.
    "eval_per_class_prf" -> ((s, dir) => {
      val conf = centroidConfusion(s, dir).localCheckpoint(true)
      val byLabel = conf.groupBy("label")
        .agg(sum(col("n")).as("label_total"))
      val byPred = conf.groupBy("pred")
        .agg(sum(col("n")).as("pred_total"))
        .withColumnRenamed("pred", "label")
      val tp = conf.filter(col("label") === col("pred"))
        .select(col("label"), col("n").as("tp"))
      byLabel.join(tp, Seq("label"), "left")
        .join(byPred, Seq("label"), "left")
        .select(col("label"),
          coalesce(col("tp"), lit(0L)).as("tp"),
          (coalesce(col("pred_total"), lit(0L))
            - coalesce(col("tp"), lit(0L))).as("fp"),
          (col("label_total") - coalesce(col("tp"), lit(0L))).as("fn"))
        .select(col("label"), col("tp"), col("fp"), col("fn"),
          when(col("tp") + col("fp") > 0,
            r4d(col("tp").cast("double")
              / (col("tp") + col("fp")).cast("double"))).as("precision"),
          when(col("tp") + col("fn") > 0,
            r4d(col("tp").cast("double")
              / (col("tp") + col("fn")).cast("double"))).as("recall"),
          when(lit(2L) * col("tp") + col("fp") + col("fn") > 0,
            r4d((lit(2L) * col("tp")).cast("double")
              / (lit(2L) * col("tp") + col("fp") + col("fn"))
                .cast("double"))).as("f1"))
        .orderBy("label")
    }),

    // CENTROID SILHOUETTE DISTRIBUTION (§2.98) — the cluster-quality
    // readout downstream of sim_centroid_classify: per vector, a =
    // distance to the OWN label centroid, b = distance to the nearest
    // OTHER centroid, s = (b−a)/max(a,b) ∈ [−1,1] — reported as the
    // per-label histogram of s in 0.1 buckets (the form a separability
    // dashboard plots). The full-pairwise silhouette is O(n²) and dead
    // at scale; the centroid (simplified) silhouette is the standard
    // large-n substitute and is one map-side pass over a broadcast
    // |labels|×|dims| table. Determinism: centroids are the exact
    // decimal(38,12) means of the sibling keys; d² folds in dimension
    // order (bit-identical both engines — the argmin of the classify
    // key already stakes its answer on this); sqrt is IEEE
    // correctly-rounded (not libm), so a, b, s and the bucket floor
    // are bit-identical — every output cell is an exact count.
    "sim_silhouette_centroid" -> ((s, dir) => {
      val d2 = centroidD2(s, dir)
      val ab = d2.groupBy("vec_id", "label")
        .agg(max(when(col("clabel") === col("label"), col("d2")))
          .as("a2"),
          min(when(col("clabel") =!= col("label"), col("d2")))
            .as("b2"))
        .filter(col("b2").isNotNull)
        .withColumn("a", sqrt(col("a2")))
        .withColumn("b", sqrt(col("b2")))
        .withColumn("sil", when(greatest(col("a"), col("b")) > 0,
          (col("b") - col("a")) / greatest(col("a"), col("b")))
          .otherwise(lit(0.0)))
      ab.groupBy(col("label"),
          floor(col("sil") * 10).cast("long").as("bucket"))
        .agg(count(lit(1)).as("n_vecs"))
        .orderBy("label", "bucket")
    }),

    // MMR DIVERSITY RE-RANKING (§2.101) — maximal marginal relevance
    // over each probe's top-20 cosine candidates: pick 5 results
    // greedily by score λ·cos(q,d) − (1−λ)·max_{s∈S} cos(d,s)
    // (λ = 0.7) — the standard redundancy-killer between retrieval
    // and the context window of a RAG stack. Greedy selection is
    // ORDER-DEPENDENT, so the five steps run UNROLLED (the
    // label-prop/kcore fixed-round convention): each step anti-joins
    // the picked set, takes the max penalty against picks via the
    // precomputed bounded pair table (20×20 per probe), and argmaxes
    // through one (score desc, vec_id) window. All cosines ride the
    // codegen ArrayDot with IEEE-identical spelling; max/argmax on
    // bit-identical doubles tie-break on vec_id. Shape: one corpus
    // scan scores candidates (broadcast probes); everything after the
    // bounded-heap TopKPerGroup(20) touches ≤ 200 rows per probe —
    // corpus-size-free.
    "sim_mmr_rerank" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
        .select(col("vec_id"), col("embedding").cast("array<double>")
          .as("v"))
      val probes = emb.filter(col("vec_id") < 10)
        .select(col("vec_id").as("probe_id"), col("v").as("p"))
      val scored = emb.crossJoin(broadcast(probes))
        .filter(col("vec_id") =!= col("probe_id"))
        .select(col("probe_id"), col("vec_id"), col("v"),
          (ArrayDot(col("p"), col("v"))
            / (sqrt(ArrayDot(col("p"), col("p")))
              * sqrt(ArrayDot(col("v"), col("v"))))).as("cosq"))
      // Lineage discipline (the GraphAlgorithms round-6 lesson): the
      // greedy unroll references each earlier step's frame from TWO
      // places (the picked-set union AND the output union), so
      // without truncation the plan tree doubles per step (~16 copies
      // of the scan DAG by step 5 — measured 29.6 s at sf0.1 from
      // pure replay/optimizer blowup). Each step is ≤ |probes| rows;
      // eager localCheckpoint pins it and the whole key drops to scan
      // cost.
      val cands = graft.plans.TopKPerGroup(scored, k = 20,
        partNames = Seq("probe_id"),
        orderSpec = Seq(("cosq", false), ("vec_id", true)))
        .localCheckpoint(true)
      val a = cands.select(col("probe_id"), col("vec_id").as("ai"),
        col("v").as("av"))
      val b = cands.select(col("probe_id"), col("vec_id").as("bi"),
        col("v").as("bv"))
      val pairs = a.join(b, Seq("probe_id"))
        .filter(col("ai") =!= col("bi"))
        .select(col("probe_id"), col("ai"), col("bi"),
          (ArrayDot(col("av"), col("bv"))
            / (sqrt(ArrayDot(col("av"), col("av")))
              * sqrt(ArrayDot(col("bv"), col("bv"))))).as("cosab"))
        .localCheckpoint(true)
      val slim = cands.select(col("probe_id"), col("vec_id"),
        col("cosq"))
      val w1 = Window.partitionBy("probe_id")
        .orderBy(col("cosq").desc, col("vec_id"))
      val s1 = slim.withColumn("rk", row_number().over(w1))
        .filter(col("rk") === 1)
        .select(col("probe_id"), col("vec_id"), lit(1L).as("step"),
          col("cosq"), (lit(0.7) * col("cosq")).as("mmr"))
        .localCheckpoint(true)
      val steps = (2 to 5).foldLeft(Seq(s1)) { (acc, _) =>
        val picked = acc.map(_.select(col("probe_id"), col("vec_id")))
          .reduce(_ unionAll _)
        val rem = slim.join(picked, Seq("probe_id", "vec_id"),
          "left_anti")
        val pen = pairs
          .join(picked.select(col("probe_id"),
            col("vec_id").as("bi")), Seq("probe_id", "bi"))
          .groupBy(col("probe_id"), col("ai").as("vec_id"))
          .agg(max(col("cosab")).as("pen"))
        val sc = rem.join(pen, Seq("probe_id", "vec_id"))
          .withColumn("mmr",
            lit(0.7) * col("cosq") - lit(0.3) * col("pen"))
        val wk = Window.partitionBy("probe_id")
          .orderBy(col("mmr").desc, col("vec_id"))
        acc :+ sc.withColumn("rk", row_number().over(wk))
          .filter(col("rk") === 1)
          .select(col("probe_id"), col("vec_id"),
            lit(acc.size + 1L).as("step"), col("cosq"), col("mmr"))
          .localCheckpoint(true)
      }
      steps.reduce(_ unionAll _)
        .select(col("probe_id"), col("step"), col("vec_id"),
          r4d(col("cosq")).as("relevance"), r4d(col("mmr")).as("mmr"))
        .orderBy("probe_id", "step")
    }),

    // INT8 SCALAR QUANTIZATION reconstruction error — the storage-cost
    // lever of every vector index (a 64-dim float corpus drops 4× when
    // codes go int8; whether recall survives is exactly this key's
    // per-vector MSE). Min-max affine quantization: q = round((x −
    // lo)/scale) ∈ [0, 255], reconstruction lo + q·scale, error summed
    // per vector — entirely map-side scan-stage HOFs, no UDF, no
    // shuffle before the presentation sort, so at 100 TB it costs one
    // linear pass like the fingerprint keys.
    //
    // Determinism: float→double casts are exact, the fold runs in
    // ARRAY order on both engines (in-index aggregate() here, in-order
    // list sum in DuckDB — the entropy convention), and every IEEE op
    // is spelled identically. MSE surfaces ×10⁶ so r4d keeps signal at
    // this embedding magnitude; constant vectors (scale 0) emit 0
    // error via an explicit guard instead of a NaN.
    // PRODUCT QUANTIZATION (§2.58) — the second lever of the
    // vector-storage trade (sim_vector_quantize_error is the int8
    // SCALAR lever): split the 64-dim vector into 4 × 16-dim
    // subspaces, encode each against a 16-entry per-subspace codebook
    // (4 × 4 bits/vector vs 64 × 8 for int8), reconstruction error =
    // distance to the chosen codeword. The declared key uses the 16
    // deterministic ANCHOR vectors (vec_id < 16) as the codebook —
    // the random-codebook PQ baseline — because that is exactly
    // oracle-expressible; Lloyd-refined codebooks via the existing
    // deterministic KMeans are the production upgrade and are
    // property-pinned in KMeansSpec (refinement never increases the
    // error this key measures).
    //
    // Determinism: d² = ⟨s,s⟩ + ⟨a,a⟩ − 2⟨s,a⟩ over index-ordered
    // codegen dot products (ArrayDot ≡ list_dot_product, the cosine
    // keys' contract); argmin tie-broken by (d², aid) row_number; NO
    // cross-row double sums — the output is per (vector, subspace),
    // like the scalar key's per-vector rows.
    //
    // Scale: the codebook is O(k·dim) and BROADCAST; encoding is one
    // map-side pass over the vector table (16 dot products per
    // subspace per row), embarrassingly parallel, shuffle only for
    // the 4-row-per-vector argmin window — at 100 TB this is the
    // standard massive-encode shape (IVF-PQ's encode half).
    "sim_pq_error" -> ((s, dir) => {
      val v = t(s, dir, "embeddings")
        .select(col("vec_id"), col("embedding").cast("array<double>").as("emb"))
      val sub = v.select(col("vec_id"),
          explode(array((0 until 4).map(j =>
            struct(lit(j).as("j"),
              slice(col("emb"), j * 16 + 1, 16).as("s"))): _*)).as("e"))
        .select(col("vec_id"), col("e.j").as("j"), col("e.s").as("s"))
      val anch = sub.filter(col("vec_id") < 16)
        .select(col("vec_id").as("aid"), col("j"), col("s").as("a"))
      val d = sub.join(broadcast(anch), Seq("j"))
        .select(col("vec_id"), col("j"), col("aid"),
          (ArrayDot(col("s"), col("s")) + ArrayDot(col("a"), col("a"))
            - lit(2) * ArrayDot(col("s"), col("a"))).as("d2"))
      val w = Window.partitionBy(col("vec_id"), col("j"))
        .orderBy(col("d2"), col("aid"))
      d.withColumn("rk", row_number().over(w)).filter(col("rk") === 1)
        .select(col("vec_id"), col("j").cast("long").as("subspace"),
          col("aid").as("code"),
          r4d(col("d2") / lit(16.0) * lit(1000000.0)).as("sub_mse_x1e6"))
        .orderBy("vec_id", "subspace")
    }),

    "sim_vector_quantize_error" -> ((s, dir) => {
      val v = t(s, dir, "embeddings").select(col("vec_id"),
        col("embedding"),
        array_min(col("embedding")).cast("double").as("lo"),
        array_max(col("embedding")).cast("double").as("hi"))
      v.withColumn("scale", (col("hi") - col("lo")) / lit(255.0))
        .withColumn("sse", when(col("scale") === 0.0, lit(0.0))
          .otherwise(aggregate(col("embedding"), lit(0.0), (acc, x) => {
            val xd = x.cast("double")
            val dq = col("lo") +
              round((xd - col("lo")) / col("scale")) * col("scale")
            acc + (xd - dq) * (xd - dq)
          })))
        .select(col("vec_id"), col("lo"), col("hi"),
          r4d(col("sse") / size(col("embedding")).cast("double")
            * lit(1000000.0)).as("mse_x1e6"))
        .orderBy("vec_id")
    })
  )

  private val cosSql =
    """pairs AS (
      |  SELECT p.vec_id AS probe_id, e.vec_id AS vec_id,
      |    list_dot_product(CAST(p.embedding AS DOUBLE[]), CAST(e.embedding AS DOUBLE[]))
      |      / (sqrt(list_dot_product(CAST(p.embedding AS DOUBLE[]), CAST(p.embedding AS DOUBLE[])))
      |       * sqrt(list_dot_product(CAST(e.embedding AS DOUBLE[]), CAST(e.embedding AS DOUBLE[])))) AS cos
      |  FROM embeddings e CROSS JOIN (SELECT * FROM embeddings WHERE vec_id < 10) p)""".stripMargin

  val oracle: Map[String, String] = Map(
    // Same two search passes, DECIMAL(38,12) centroid mean (the IVF
    // device), exact-binary 3/4 + 1/4 blend, multiply-form round.
    "sim_rocchio_expand" ->
      """WITH emb AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
        |  FROM embeddings),
        |probes AS (SELECT vec_id AS probe_id, v AS p FROM emb
        |  WHERE vec_id < 10),
        |scored AS (SELECT p.probe_id, e.vec_id,
        |    list_dot_product(p.p, e.v)
        |      / (sqrt(list_dot_product(p.p, p.p))
        |        * sqrt(list_dot_product(e.v, e.v))) AS cos
        |  FROM emb e CROSS JOIN probes p WHERE e.vec_id <> p.probe_id),
        |top5 AS (SELECT probe_id, vec_id FROM (
        |  SELECT probe_id, vec_id, row_number() OVER (
        |    PARTITION BY probe_id ORDER BY cos DESC, vec_id) AS rk
        |  FROM scored) WHERE rk <= 5),
        |cent AS (SELECT probe_id, pos,
        |    CAST(SUM(CAST(x AS DECIMAL(38,12))) AS DOUBLE) / count(*)
        |      AS c
        |  FROM (SELECT t.probe_id, unnest(range(64)) AS pos,
        |      unnest(e.v) AS x
        |    FROM top5 t JOIN emb e ON e.vec_id = t.vec_id)
        |  GROUP BY 1, 2),
        |qd AS (SELECT probe_id, pos, q * 0.75 + c * 0.25 AS qv
        |  FROM (SELECT probe_id, unnest(range(64)) AS pos,
        |      unnest(p) AS q FROM probes)
        |  JOIN cent USING (probe_id, pos)),
        |qp AS (SELECT probe_id, list(qv ORDER BY pos) AS p2
        |  FROM qd GROUP BY 1),
        |re AS (SELECT q.probe_id, e.vec_id,
        |    list_dot_product(q.p2, e.v)
        |      / (sqrt(list_dot_product(q.p2, q.p2))
        |        * sqrt(list_dot_product(e.v, e.v))) AS cos
        |  FROM emb e CROSS JOIN qp q WHERE e.vec_id <> q.probe_id),
        |rr AS (SELECT probe_id, vec_id, cos, row_number() OVER (
        |    PARTITION BY probe_id ORDER BY cos DESC, vec_id) AS rk
        |  FROM re)
        |SELECT rr.probe_id, rr.rk, rr.vec_id,
        |  ROUND(rr.cos * 10000) / 10000 + 0.0 AS cos,
        |  t.vec_id IS NULL AS is_new
        |FROM rr LEFT JOIN top5 t
        |  ON t.probe_id = rr.probe_id AND t.vec_id = rr.vec_id
        |WHERE rr.rk <= 5 ORDER BY rr.probe_id, rr.rk""".stripMargin,
    // `ROUND(x,4) + 0.0` normalizes IEEE -0.0 (DuckDB's multiply-form ROUND
    // preserves the sign bit of a tiny negative cosine; Spark's BigDecimal
    // path cannot produce -0.0, and the driver's hash is bit-sensitive).
    "sim_cosine_pairs" ->
      s"""WITH $cosSql
         |SELECT probe_id, vec_id, ROUND(cos, 4) + 0.0 AS cos FROM pairs
         |ORDER BY probe_id, vec_id""".stripMargin,
    "sim_knn_topk" ->
      s"""WITH $cosSql
         |SELECT probe_id, vec_id, ROUND(cos, 4) + 0.0 AS cos, rk FROM (
         |  SELECT probe_id, vec_id, cos,
         |    row_number() OVER (PARTITION BY probe_id ORDER BY cos DESC, vec_id) AS rk
         |  FROM pairs WHERE vec_id <> probe_id)
         |WHERE rk <= 5 ORDER BY probe_id, rk""".stripMargin,
    // Same integer-grid discount weights (BIGINT 10⁻¹² units of
    // 1/log₂(rank+1)) and prefix-sum IDCG lookup as the Spark side.
    "eval_ndcg_label" ->
      s"""WITH $cosSql,
         |lab AS (SELECT vec_id, label FROM embeddings),
         |sc AS (SELECT p.probe_id, pl.label AS plabel, p.vec_id,
         |    nl.label, p.cos
         |  FROM pairs p
         |  JOIN lab pl ON pl.vec_id = p.probe_id
         |  JOIN lab nl ON nl.vec_id = p.vec_id
         |  WHERE p.vec_id <> p.probe_id),
         |rkd AS (SELECT *, row_number() OVER (PARTITION BY probe_id
         |    ORDER BY cos DESC, vec_id) AS rk FROM sc),
         |wt AS (SELECT i AS rk,
         |    CAST(ROUND(1e12 / log2(CAST(i AS DOUBLE) + 1)) AS BIGINT)
         |      AS wu,
         |    CAST(sum(CAST(ROUND(1e12 / log2(CAST(i AS DOUBLE) + 1))
         |      AS BIGINT)) OVER (ORDER BY i ROWS UNBOUNDED PRECEDING)
         |      AS BIGINT) AS cumw
         |  FROM (SELECT unnest(range(1, 11)) AS i)),
         |tp AS (SELECT r.probe_id, r.plabel, r.label, w.wu
         |  FROM rkd r JOIN wt w ON r.rk = w.rk WHERE r.rk <= 10),
         |pp AS (SELECT probe_id, max(plabel) AS plabel,
         |    count(*) FILTER (WHERE label = plabel) AS rel_in_top10,
         |    CAST(sum(CASE WHEN label = plabel THEN wu ELSE 0 END)
         |      AS BIGINT) AS dcg_units
         |  FROM tp GROUP BY probe_id),
         |lc AS (SELECT label AS plabel, count(*) AS n_label
         |  FROM lab GROUP BY 1)
         |SELECT pp.probe_id, rel_in_top10,
         |  least(10, n_label - 1) AS ideal_k,
         |  ROUND(CAST(dcg_units AS DOUBLE) / CAST(w2.cumw AS DOUBLE)
         |    * 10000) / 10000 + 0.0 AS ndcg_at_10
         |FROM pp JOIN lc ON lc.plabel = pp.plabel
         |JOIN wt w2 ON w2.rk = least(10, n_label - 1)
         |ORDER BY pp.probe_id""".stripMargin,
    // Same ranked grid and integer weight units, k-spine cross join,
    // exact per-(probe, k) rationals.
    "eval_ndcg_curve" ->
      s"""WITH $cosSql,
         |lab AS (SELECT vec_id, label FROM embeddings),
         |sc AS (SELECT p.probe_id, pl.label AS plabel, p.vec_id,
         |    nl.label, p.cos
         |  FROM pairs p
         |  JOIN lab pl ON pl.vec_id = p.probe_id
         |  JOIN lab nl ON nl.vec_id = p.vec_id
         |  WHERE p.vec_id <> p.probe_id),
         |rkd AS (SELECT *, row_number() OVER (PARTITION BY probe_id
         |    ORDER BY cos DESC, vec_id) AS rk FROM sc),
         |wt AS (SELECT i AS rk,
         |    CAST(ROUND(1e12 / log2(CAST(i AS DOUBLE) + 1)) AS BIGINT)
         |      AS wu,
         |    CAST(sum(CAST(ROUND(1e12 / log2(CAST(i AS DOUBLE) + 1))
         |      AS BIGINT)) OVER (ORDER BY i ROWS UNBOUNDED PRECEDING)
         |      AS BIGINT) AS cumw
         |  FROM (SELECT unnest(range(1, 11)) AS i)),
         |ks AS (SELECT unnest([1, 3, 5, 10]) AS k),
         |tp AS (SELECT r.probe_id, r.plabel, r.label, w.wu,
         |    CAST(ks.k AS BIGINT) AS k
         |  FROM rkd r JOIN wt w ON r.rk = w.rk CROSS JOIN ks
         |  WHERE r.rk <= 10 AND r.rk <= ks.k),
         |pp AS (SELECT probe_id, k, max(plabel) AS plabel,
         |    count(*) FILTER (WHERE label = plabel) AS rel_in_topk,
         |    CAST(sum(CASE WHEN label = plabel THEN wu ELSE 0 END)
         |      AS BIGINT) AS dcg_units
         |  FROM tp GROUP BY 1, 2),
         |lc AS (SELECT label AS plabel, count(*) AS n_label
         |  FROM lab GROUP BY 1)
         |SELECT pp.probe_id, pp.k, rel_in_topk,
         |  ROUND(CAST(dcg_units AS DOUBLE) / CAST(w2.cumw AS DOUBLE)
         |    * 10000) / 10000 + 0.0 AS ndcg_at_k
         |FROM pp JOIN lc ON lc.plabel = pp.plabel
         |JOIN wt w2 ON w2.rk = least(pp.k, n_label - 1)
         |ORDER BY pp.probe_id, pp.k""".stripMargin,
    // Same ranked grid as NDCG; the 2520-unit summands make ap_units
    // an exact BIGINT (CAST — the HUGEINT lesson), one division at
    // the edge.
    "eval_ap_retrieval" ->
      s"""WITH $cosSql,
         |lab AS (SELECT vec_id, label FROM embeddings),
         |sc AS (SELECT p.probe_id, pl.label AS plabel, p.vec_id,
         |    nl.label, p.cos
         |  FROM pairs p
         |  JOIN lab pl ON pl.vec_id = p.probe_id
         |  JOIN lab nl ON nl.vec_id = p.vec_id
         |  WHERE p.vec_id <> p.probe_id),
         |rkd AS (SELECT *, row_number() OVER (PARTITION BY probe_id
         |    ORDER BY cos DESC, vec_id) AS rk FROM sc),
         |tp AS (SELECT probe_id, plabel, rk,
         |    CASE WHEN label = plabel THEN 1 ELSE 0 END AS rel
         |  FROM rkd WHERE rk <= 10),
         |cr AS (SELECT probe_id, plabel, rk, rel,
         |    CAST(sum(rel) OVER (PARTITION BY probe_id ORDER BY rk
         |      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cumrel
         |  FROM tp),
         |pp AS (SELECT probe_id, max(plabel) AS plabel,
         |    count(*) FILTER (WHERE rel = 1) AS hits10,
         |    CAST(COALESCE(sum(CASE WHEN rel = 1
         |      THEN cumrel * (2520 // rk) END), 0) AS BIGINT) AS ap_units
         |  FROM cr GROUP BY probe_id),
         |lc AS (SELECT label AS plabel, count(*) AS n_label
         |  FROM lab GROUP BY 1)
         |SELECT pp.probe_id, hits10,
         |  least(10, n_label - 1) AS ideal_k,
         |  CASE WHEN least(10, n_label - 1) > 0 THEN
         |    ROUND(CAST(ap_units AS DOUBLE)
         |      / (2520.0 * CAST(least(10, n_label - 1) AS DOUBLE))
         |      * 10000) / 10000 END AS ap_at_10
         |FROM pp JOIN lc ON lc.plabel = pp.plabel
         |ORDER BY pp.probe_id""".stripMargin,
    // Same ranked pairs; the identical integer scaling (1 << (9−c)
    // ≡ Spark shiftleft, 2520 // rk ≡ div), one division.
    "eval_err" ->
      s"""WITH $cosSql,
         |lab AS (SELECT vec_id, label FROM embeddings),
         |sc AS (SELECT p.probe_id, pl.label AS plabel, p.vec_id,
         |    nl.label, p.cos
         |  FROM pairs p
         |  JOIN lab pl ON pl.vec_id = p.probe_id
         |  JOIN lab nl ON nl.vec_id = p.vec_id
         |  WHERE p.vec_id <> p.probe_id),
         |rkd AS (SELECT *, CAST(row_number() OVER (
         |    PARTITION BY probe_id ORDER BY cos DESC, vec_id)
         |    AS BIGINT) AS rk FROM sc),
         |top AS (SELECT probe_id,
         |    CASE WHEN label = plabel THEN 1 ELSE 0 END AS rel, rk
         |  FROM rkd WHERE rk <= 10),
         |cc AS (SELECT *, COALESCE(CAST(sum(rel) OVER (
         |    PARTITION BY probe_id ORDER BY rk
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
         |    AS BIGINT), 0) AS c
         |  FROM top)
         |SELECT probe_id, CAST(sum(rel) AS BIGINT) AS n_rel_top10,
         |  ROUND(CAST(CAST(sum(rel * (1 << CAST(9 - c AS INTEGER))
         |      * (2520 // rk)) AS BIGINT) AS DOUBLE)
         |    / 2580480.0 * 10000) / 10000 AS err
         |FROM cc GROUP BY probe_id
         |ORDER BY probe_id""".stripMargin,
    "eval_mrr_label" ->
      s"""WITH $cosSql,
         |lab AS (SELECT vec_id, label FROM embeddings),
         |sc AS (SELECT p.probe_id, pl.label AS plabel, p.vec_id,
         |    nl.label, p.cos
         |  FROM pairs p
         |  JOIN lab pl ON pl.vec_id = p.probe_id
         |  JOIN lab nl ON nl.vec_id = p.vec_id
         |  WHERE p.vec_id <> p.probe_id),
         |rkd AS (SELECT *, row_number() OVER (PARTITION BY probe_id
         |    ORDER BY cos DESC, vec_id) AS rk FROM sc)
         |SELECT probe_id, CAST(min(rk) AS BIGINT) AS first_hit_rank,
         |  ROUND(1.0 / CAST(min(rk) AS DOUBLE) * 10000) / 10000
         |    AS reciprocal_rank
         |FROM rkd WHERE label = plabel GROUP BY probe_id
         |ORDER BY probe_id""".stripMargin,
    // Full vs 16-dim-prefix exact rankings; list slicing is DuckDB's
    // 1-based inclusive [1:16].
    "sim_prefix_dim_recall" ->
      """WITH pr AS (SELECT vec_id AS probe_id,
        |    CAST(embedding AS DOUBLE[]) AS p,
        |    CAST(embedding AS DOUBLE[])[1:16] AS p16
        |  FROM embeddings WHERE vec_id < 10),
        |sc AS (SELECT pr.probe_id, e.vec_id,
        |    list_dot_product(p, CAST(e.embedding AS DOUBLE[]))
        |      / (sqrt(list_dot_product(p, p))
        |       * sqrt(list_dot_product(CAST(e.embedding AS DOUBLE[]),
        |           CAST(e.embedding AS DOUBLE[])))) AS cosf,
        |    list_dot_product(p16, CAST(e.embedding AS DOUBLE[])[1:16])
        |      / (sqrt(list_dot_product(p16, p16))
        |       * sqrt(list_dot_product(CAST(e.embedding AS DOUBLE[])[1:16],
        |           CAST(e.embedding AS DOUBLE[])[1:16]))) AS cosp
        |  FROM embeddings e CROSS JOIN pr WHERE e.vec_id <> pr.probe_id),
        |fullk AS (SELECT probe_id, vec_id FROM (
        |  SELECT probe_id, vec_id, row_number() OVER (
        |    PARTITION BY probe_id ORDER BY cosf DESC, vec_id) AS rk
        |  FROM sc) WHERE rk <= 5),
        |pref AS (SELECT probe_id, vec_id FROM (
        |  SELECT probe_id, vec_id, row_number() OVER (
        |    PARTITION BY probe_id ORDER BY cosp DESC, vec_id) AS rk
        |  FROM sc) WHERE rk <= 5)
        |SELECT f.probe_id, count(p.vec_id) AS n_match,
        |  ROUND(CAST(count(p.vec_id) AS DOUBLE) / 5.0 * 10000) / 10000
        |    AS recall_at_5
        |FROM fullk f LEFT JOIN pref p
        |  ON f.probe_id = p.probe_id AND f.vec_id = p.vec_id
        |GROUP BY f.probe_id ORDER BY f.probe_id""".stripMargin,
    // Exact top-5 (the kNN pairs CTE) vs the IVF candidate CTEs
    // (shared text with sim_ann_ivf's oracle — eval and production
    // cannot drift); left join counts the intersection.
    "sim_recall_eval" ->
      (s"WITH $cosSql,\n${PipelineQueries.IvfCtes},\n" +
        """exact AS (SELECT probe_id, vec_id FROM (
          |  SELECT probe_id, vec_id, row_number() OVER (
          |    PARTITION BY probe_id ORDER BY cos DESC, vec_id) AS rk
          |  FROM pairs WHERE vec_id <> probe_id) WHERE rk <= 5),
          |ivf AS (SELECT probe_id, vec_id FROM (
          |  SELECT probe_id, vec_id, row_number() OVER (
          |    PARTITION BY probe_id ORDER BY cos DESC, vec_id) AS rk
          |  FROM cand) WHERE rk <= 5)
          |SELECT e.probe_id, count(i.vec_id) AS n_match,
          |  ROUND(CAST(count(i.vec_id) AS DOUBLE) / 5.0 * 10000) / 10000
          |    AS recall_at_5
          |FROM exact e LEFT JOIN ivf i
          |  ON e.probe_id = i.probe_id AND e.vec_id = i.vec_id
          |GROUP BY e.probe_id ORDER BY e.probe_id""".stripMargin),
    // Label-filtered variant of the kNN oracle: the label inequality
    // lands in the pair CTE, before ranking — same as the Spark side's
    // pre-heap filter.
    "sim_hard_negative_mine" ->
      """WITH pairs AS (
        |  SELECT p.vec_id AS probe_id, e.vec_id AS vec_id,
        |    list_dot_product(CAST(p.embedding AS DOUBLE[]),
        |        CAST(e.embedding AS DOUBLE[]))
        |      / (sqrt(list_dot_product(CAST(p.embedding AS DOUBLE[]),
        |          CAST(p.embedding AS DOUBLE[])))
        |       * sqrt(list_dot_product(CAST(e.embedding AS DOUBLE[]),
        |          CAST(e.embedding AS DOUBLE[])))) AS cos
        |  FROM embeddings e
        |  CROSS JOIN (SELECT * FROM embeddings WHERE vec_id < 10) p
        |  WHERE e.label <> p.label)
        |SELECT probe_id, vec_id, ROUND(cos, 4) + 0.0 AS cos, rk FROM (
        |  SELECT probe_id, vec_id, cos,
        |    row_number() OVER (PARTITION BY probe_id
        |      ORDER BY cos DESC, vec_id) AS rk
        |  FROM pairs)
        |WHERE rk <= 3 ORDER BY probe_id, rk""".stripMargin,
    "sim_centroid_per_label" ->
      """SELECT label, pos,
        |  ROUND(CAST(SUM(CAST(CAST(x AS DOUBLE) AS DECIMAL(38,12))) AS DOUBLE)
        |    / COUNT(*), 4) AS mean
        |FROM (SELECT label, unnest(range(8)) AS pos, unnest(embedding[1:8]) AS x
        |      FROM embeddings)
        |GROUP BY label, pos ORDER BY label, pos""".stripMargin,
    "multimodal_join" ->
      """SELECT lang, label, count(*) AS n
        |FROM documents JOIN embeddings ON doc_id = vec_id
        |GROUP BY lang, label ORDER BY lang, label""".stripMargin,
    // Parallel unnests zip positionally (the centroid key's device);
    // per-dim squares fold in index order; argmin via row_number with
    // the same (d2, label) tie order.
    // Same snapped norms (list_dot_product fold ≡ ArrayDot), HUGEINT
    // sum, identical edge divisions.
    "sim_norm_distribution" ->
      """WITH n AS (SELECT label,
        |    CAST(floor(sqrt(list_dot_product(
        |        CAST(embedding AS DOUBLE[]),
        |        CAST(embedding AS DOUBLE[]))) * 1000000.0) AS BIGINT)
        |      AS n6
        |  FROM embeddings),
        |a AS (SELECT label, count(*) AS n_vecs,
        |    CAST(sum(CAST(n6 AS HUGEINT)) AS HUGEINT) AS s6,
        |    min(n6) AS min6, max(n6) AS max6
        |  FROM n GROUP BY 1)
        |SELECT label, n_vecs,
        |  ROUND(CAST(s6 AS DOUBLE) / CAST(n_vecs AS DOUBLE)
        |    / 1000000.0 * 10000) / 10000 AS mean_norm,
        |  ROUND(CAST(min6 AS DOUBLE) / 1000000.0 * 10000) / 10000
        |    AS min_norm,
        |  ROUND(CAST(max6 AS DOUBLE) / 1000000.0 * 10000) / 10000
        |    AS max_norm
        |FROM a ORDER BY label""".stripMargin,
    // Same centroid folds; the (d², label)-sorted margin and
    // identical micro-snap.
    "sim_classify_margin" ->
      """WITH u AS (SELECT label, unnest(range(len(embedding))) AS pos,
        |    unnest(embedding) AS x
        |  FROM embeddings),
        |cent AS (SELECT label, pos,
        |    CAST(SUM(CAST(CAST(x AS DOUBLE) AS DECIMAL(38,12))) AS DOUBLE)
        |      / COUNT(*) AS c
        |  FROM u GROUP BY 1, 2),
        |carr AS (SELECT label AS clabel, list(c ORDER BY pos) AS cvec
        |  FROM cent GROUP BY 1),
        |sc AS (SELECT e.vec_id, e.label,
        |    {'d': list_aggregate(list_transform(
        |      range(1, len(e.embedding) + 1),
        |      i -> (CAST(e.embedding[i] AS DOUBLE) - c.cvec[i])
        |        * (CAST(e.embedding[i] AS DOUBLE) - c.cvec[i])),
        |      'sum'), 'c': c.clabel} AS dc
        |  FROM embeddings e CROSS JOIN carr c),
        |m AS (SELECT vec_id, label,
        |    CAST(floor((list_sort(list(dc))[2].d
        |      - list_sort(list(dc))[1].d) * 1000000.0) AS BIGINT)
        |      AS m6
        |  FROM sc GROUP BY 1, 2)
        |SELECT label, count(*) AS n_vecs,
        |  ROUND(CAST(CAST(sum(m6) AS BIGINT) AS DOUBLE)
        |    / CAST(count(*) AS DOUBLE) / 1000000.0 * 10000) / 10000
        |    AS mean_margin,
        |  count(*) FILTER (WHERE m6 < 10000) AS n_ambiguous,
        |  ROUND(CAST(count(*) FILTER (WHERE m6 < 10000) AS DOUBLE)
        |    / CAST(count(*) AS DOUBLE) * 10000) / 10000
        |    AS share_ambiguous
        |FROM m GROUP BY label ORDER BY label""".stripMargin,
    // Same micro-snapped values, exact HUGEINT moments, identical
    // (|corr| desc, pi, pj) top-10 on the rounded value.
    "sim_dim_correlation_pairs" ->
      """WITH a AS (SELECT list_transform(
        |    CAST(embedding[1:16] AS DOUBLE[]),
        |    x -> CAST(floor(x * 1000000.0) AS BIGINT)) AS a
        |  FROM embeddings),
        |u AS (SELECT unnest(flatten(list_transform(range(0, 15),
        |    i -> list_transform(range(i + 1, 16), j ->
        |      {'pi': i, 'pj': j, 'xi': a[i + 1], 'xj': a[j + 1]}))))
        |    AS p
        |  FROM a),
        |x AS (SELECT CAST(p.pi AS BIGINT) AS pi,
        |    CAST(p.pj AS BIGINT) AS pj, p.xi AS xi, p.xj AS xj
        |  FROM u),
        |m AS (SELECT pi, pj, count(*) AS n,
        |    CAST(sum(CAST(xi AS HUGEINT)) AS HUGEINT) AS si,
        |    CAST(sum(CAST(xj AS HUGEINT)) AS HUGEINT) AS sj,
        |    CAST(sum(CAST(xi AS HUGEINT) * xi) AS HUGEINT) AS sii,
        |    CAST(sum(CAST(xj AS HUGEINT) * xj) AS HUGEINT) AS sjj,
        |    CAST(sum(CAST(xi AS HUGEINT) * xj) AS HUGEINT) AS sij
        |  FROM x GROUP BY 1, 2),
        |c AS (SELECT pi, pj,
        |    ROUND(CAST(CAST(n AS HUGEINT) * sij - si * sj AS DOUBLE)
        |      / (sqrt(CAST(CAST(n AS HUGEINT) * sii - si * si
        |          AS DOUBLE))
        |        * sqrt(CAST(CAST(n AS HUGEINT) * sjj - sj * sj
        |          AS DOUBLE))) * 10000) / 10000 + 0.0 AS corr
        |  FROM m)
        |SELECT pi, pj, corr FROM c
        |ORDER BY abs(corr) DESC, pi, pj LIMIT 10""".stripMargin,
    // Same panel and top-5; same ln fold over the sorted 5-list and
    // micro-snapped mean.
    "sim_intrinsic_dimension" ->
      """WITH a AS (SELECT vec_id AS aid,
        |    CAST(embedding AS DOUBLE[]) AS av
        |  FROM embeddings
        |  ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id LIMIT 100),
        |sc AS (SELECT a.aid, e.vec_id,
        |    list_aggregate(list_transform(
        |      range(1, len(e.embedding) + 1),
        |      i -> (a.av[i] - CAST(e.embedding[i] AS DOUBLE))
        |        * (a.av[i] - CAST(e.embedding[i] AS DOUBLE))),
        |      'sum') AS d2
        |  FROM embeddings e CROSS JOIN a WHERE e.vec_id <> a.aid),
        |rk AS (SELECT *, row_number() OVER (PARTITION BY aid
        |    ORDER BY d2, vec_id) AS rk FROM sc),
        |per AS (SELECT aid, list_sort(list(d2)) AS ds FROM rk
        |  WHERE rk <= 5 GROUP BY 1),
        |ok AS (SELECT CAST(floor(8000000.0
        |    / list_aggregate(list_transform(ds[1:4],
        |        x -> ln(ds[5] / x)), 'sum')) AS BIGINT) AS id6
        |  FROM per WHERE len(ds) = 5 AND ds[1] > 0
        |    AND ds[5] > ds[1])
        |SELECT count(*) AS n_anchors,
        |  ROUND(CAST(sum(CAST(id6 AS HUGEINT)) AS DOUBLE)
        |    / CAST(count(*) AS DOUBLE) / 1000000.0 * 10000) / 10000
        |    AS mean_intrinsic_dim
        |FROM ok""".stripMargin,
    // Same panel, full per-anchor rank, and bucket map.
    "eval_first_hit_rank_hist" ->
      """WITH a AS (SELECT vec_id AS aid, label AS alabel,
        |    CAST(embedding AS DOUBLE[]) AS av
        |  FROM embeddings
        |  ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id LIMIT 100),
        |sc AS (SELECT a.aid, a.alabel, e.vec_id, e.label,
        |    list_aggregate(list_transform(
        |      range(1, len(e.embedding) + 1),
        |      i -> (a.av[i] - CAST(e.embedding[i] AS DOUBLE))
        |        * (a.av[i] - CAST(e.embedding[i] AS DOUBLE))),
        |      'sum') AS d2
        |  FROM embeddings e CROSS JOIN a WHERE e.vec_id <> a.aid),
        |rk AS (SELECT *, CAST(row_number() OVER (PARTITION BY aid
        |    ORDER BY d2, vec_id) AS BIGINT) AS rk FROM sc),
        |fr AS (SELECT aid, min(rk) AS fr FROM rk
        |  WHERE label = alabel GROUP BY 1),
        |bk AS (SELECT CASE WHEN fr <= 3 THEN fr WHEN fr <= 5 THEN 4
        |    WHEN fr <= 10 THEN 5 ELSE 6 END AS bucket_id FROM fr),
        |g AS (SELECT bucket_id, count(*) AS n_anchors FROM bk
        |  GROUP BY 1),
        |t AS (SELECT CAST(sum(n_anchors) AS BIGINT) AS tot FROM g)
        |SELECT bucket_id,
        |  CASE bucket_id WHEN 1 THEN '1' WHEN 2 THEN '2'
        |    WHEN 3 THEN '3' WHEN 4 THEN '4-5' WHEN 5 THEN '6-10'
        |    ELSE '11+' END AS first_hit_rank,
        |  n_anchors,
        |  ROUND(CAST(n_anchors AS DOUBLE) / CAST(tot AS DOUBLE)
        |    * 10000) / 10000 AS share
        |FROM g CROSS JOIN t ORDER BY bucket_id""".stripMargin,
    // Same anchor panel and per-anchor (d², vec_id) top-5; bounded
    // top-10 hub order.
    "sim_hubness_profile" ->
      """WITH a AS (SELECT vec_id AS aid,
        |    CAST(embedding AS DOUBLE[]) AS av
        |  FROM embeddings
        |  ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id LIMIT 100),
        |sc AS (SELECT a.aid, e.vec_id, e.label,
        |    list_aggregate(list_transform(
        |      range(1, len(e.embedding) + 1),
        |      i -> (a.av[i] - CAST(e.embedding[i] AS DOUBLE))
        |        * (a.av[i] - CAST(e.embedding[i] AS DOUBLE))),
        |      'sum') AS d2
        |  FROM embeddings e CROSS JOIN a WHERE e.vec_id <> a.aid),
        |rk AS (SELECT *, row_number() OVER (PARTITION BY aid
        |    ORDER BY d2, vec_id) AS rk FROM sc),
        |c AS (SELECT vec_id, label, count(*) AS n_retrievals
        |  FROM rk WHERE rk <= 5 GROUP BY 1, 2),
        |t AS (SELECT CAST(sum(n_retrievals) AS BIGINT) AS slots
        |  FROM c)
        |SELECT vec_id, label, n_retrievals,
        |  ROUND(CAST(n_retrievals AS DOUBLE) / CAST(slots AS DOUBLE)
        |    * 10000) / 10000 AS slot_share
        |FROM c CROSS JOIN t
        |ORDER BY n_retrievals DESC, vec_id LIMIT 10""".stripMargin,
    // Same md5-ordered 100-anchor panel, in-order d² fold, and
    // (d², vec_id) top-1.
    "sim_loo_knn_accuracy" ->
      """WITH a AS (SELECT vec_id AS aid, label AS alabel,
        |    CAST(embedding AS DOUBLE[]) AS av
        |  FROM embeddings
        |  ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id LIMIT 100),
        |sc AS (SELECT a.aid, a.alabel, e.vec_id, e.label,
        |    list_aggregate(list_transform(
        |      range(1, len(e.embedding) + 1),
        |      i -> (a.av[i] - CAST(e.embedding[i] AS DOUBLE))
        |        * (a.av[i] - CAST(e.embedding[i] AS DOUBLE))),
        |      'sum') AS d2
        |  FROM embeddings e CROSS JOIN a WHERE e.vec_id <> a.aid),
        |rk AS (SELECT *, row_number() OVER (PARTITION BY aid
        |    ORDER BY d2, vec_id) AS rk FROM sc)
        |SELECT alabel AS label, count(*) AS n_anchors,
        |  CAST(sum(CASE WHEN label = alabel THEN 1 ELSE 0 END)
        |    AS BIGINT) AS n_correct,
        |  ROUND(CAST(sum(CASE WHEN label = alabel THEN 1 ELSE 0 END)
        |      AS DOUBLE) / CAST(count(*) AS DOUBLE) * 10000) / 10000
        |    AS accuracy
        |FROM rk WHERE rk = 1 GROUP BY alabel ORDER BY label""".stripMargin,
    // Same exact centroids and in-order d² fold; same (d², vec_id)
    // rank.
    "sim_label_exemplars" ->
      """WITH u AS (SELECT label, unnest(range(len(embedding))) AS pos,
        |    unnest(embedding) AS x
        |  FROM embeddings),
        |cent AS (SELECT label, pos,
        |    CAST(SUM(CAST(CAST(x AS DOUBLE) AS DECIMAL(38,12))) AS DOUBLE)
        |      / COUNT(*) AS c
        |  FROM u GROUP BY 1, 2),
        |carr AS (SELECT label, list(c ORDER BY pos) AS cvec
        |  FROM cent GROUP BY 1),
        |d AS (SELECT e.vec_id, e.label,
        |    list_aggregate(list_transform(
        |      range(1, len(e.embedding) + 1),
        |      i -> (CAST(e.embedding[i] AS DOUBLE) - c.cvec[i])
        |        * (CAST(e.embedding[i] AS DOUBLE) - c.cvec[i])),
        |      'sum') AS d2
        |  FROM embeddings e JOIN carr c ON c.label = e.label),
        |rk AS (SELECT *, row_number() OVER (PARTITION BY label
        |    ORDER BY d2, vec_id) AS rk FROM d)
        |SELECT label, rk, vec_id, ROUND(d2 * 10000) / 10000 AS d2
        |FROM rk WHERE rk <= 3 ORDER BY label, rk""".stripMargin,
    // Same micro-snapped norms, exact moments, identical |z| > 2 cut.
    "sim_norm_outliers" ->
      """WITH v AS (SELECT vec_id, label,
        |    CAST(floor(sqrt(list_dot_product(
        |        CAST(embedding AS DOUBLE[]),
        |        CAST(embedding AS DOUBLE[]))) * 1000000.0) AS BIGINT)
        |      AS n6
        |  FROM embeddings),
        |m AS (SELECT label, count(*) AS n,
        |    CAST(sum(CAST(n6 AS HUGEINT)) AS HUGEINT) AS s1,
        |    CAST(sum(CAST(n6 AS HUGEINT) * n6) AS HUGEINT) AS s2
        |  FROM v GROUP BY 1),
        |f AS (SELECT label, n, s1, s2,
        |    CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE) AS mu,
        |    sqrt(CAST(CAST(n AS HUGEINT) * s2 - s1 * s1 AS DOUBLE)
        |      / CAST(n * n AS DOUBLE)) AS sd
        |  FROM m WHERE n > 1 AND CAST(n AS HUGEINT) * s2 > s1 * s1),
        |z AS (SELECT v.label, v.vec_id, v.n6,
        |    (CAST(v.n6 AS DOUBLE) - f.mu) / f.sd AS z
        |  FROM v JOIN f ON f.label = v.label),
        |top AS (SELECT * FROM z ORDER BY abs(z) DESC, vec_id
        |  LIMIT 10)
        |SELECT label, vec_id,
        |  ROUND(CAST(n6 AS DOUBLE) / 1000000.0 * 10000) / 10000
        |    AS norm,
        |  ROUND(z * 10000) / 10000 + 0.0 AS z,
        |  abs(z) > 2.0 AS is_outlier
        |FROM top ORDER BY label, vec_id""".stripMargin,
    // Same parity split, decimal(38,12) centroids, pos-ordered
    // difference fold, order-free max.
    "sim_centroid_drift" ->
      """WITH u AS (SELECT label, vec_id % 2 AS half,
        |    unnest(range(len(embedding))) AS pos,
        |    unnest(embedding) AS x
        |  FROM embeddings),
        |cent AS (SELECT label, half, pos,
        |    CAST(SUM(CAST(CAST(x AS DOUBLE) AS DECIMAL(38,12)))
        |      AS DOUBLE) / COUNT(*) AS c
        |  FROM u GROUP BY 1, 2, 3),
        |arr AS (SELECT label, half, list(c ORDER BY pos) AS cv
        |  FROM cent GROUP BY 1, 2),
        |n AS (SELECT label, vec_id % 2 AS half, count(*) AS n
        |  FROM embeddings GROUP BY 1, 2),
        |a AS (SELECT arr.label, arr.cv AS ca, n.n AS n_even
        |  FROM arr JOIN n ON n.label = arr.label AND n.half = arr.half
        |  WHERE arr.half = 0),
        |b AS (SELECT arr.label, arr.cv AS cb, n.n AS n_odd
        |  FROM arr JOIN n ON n.label = arr.label AND n.half = arr.half
        |  WHERE arr.half = 1),
        |j AS (SELECT a.label, a.n_even, b.n_odd,
        |    list_aggregate(list_transform(range(1, len(a.ca) + 1),
        |      i -> (a.ca[i] - b.cb[i]) * (a.ca[i] - b.cb[i])), 'sum')
        |      AS d2,
        |    list_aggregate(list_transform(range(1, len(a.ca) + 1),
        |      i -> abs(a.ca[i] - b.cb[i])), 'max') AS dmax
        |  FROM a JOIN b ON b.label = a.label)
        |SELECT label, n_even, n_odd,
        |  ROUND(sqrt(d2) * 10000) / 10000 + 0.0 AS l2_shift,
        |  ROUND(dmax * 10000) / 10000 + 0.0 AS max_dim_shift
        |FROM j ORDER BY label""".stripMargin,
    // Same micro-snapped polarization identity; HUGEINT holds the
    // squared component sums exactly.
    "sim_intra_label_diversity" ->
      """WITH u AS (SELECT label,
        |    unnest(range(len(embedding))) AS pos,
        |    CAST(floor(CAST(unnest(embedding) AS DOUBLE) * 1000000.0)
        |      AS BIGINT) AS xi
        |  FROM embeddings),
        |d AS (SELECT label, pos,
        |    CAST(sum(CAST(xi AS HUGEINT)) AS HUGEINT) AS sd,
        |    CAST(sum(CAST(xi AS HUGEINT) * xi) AS HUGEINT) AS qd
        |  FROM u GROUP BY 1, 2),
        |p AS (SELECT label, CAST(sum(sd * sd) AS HUGEINT) AS ssq,
        |    CAST(sum(qd) AS HUGEINT) AS qq FROM d GROUP BY 1),
        |n AS (SELECT label, count(*) AS n_vecs FROM embeddings
        |  GROUP BY 1)
        |SELECT n.label, n.n_vecs,
        |  ROUND(CAST(p.ssq - p.qq AS DOUBLE)
        |    / CAST(n.n_vecs * (n.n_vecs - 1) AS DOUBLE) / 1.0e12
        |    * 10000) / 10000 AS mean_pairwise_dot
        |FROM n JOIN p USING (label) WHERE n.n_vecs > 1
        |ORDER BY label""".stripMargin,
    // Same two rankings (full vs [1:16] prefix), same conditional
    // hit counts over the 4-row k spine.
    "sim_recall_curve" ->
      """WITH pr AS (SELECT vec_id AS probe_id,
        |    CAST(embedding AS DOUBLE[]) AS p,
        |    CAST(embedding AS DOUBLE[])[1:16] AS p16
        |  FROM embeddings WHERE vec_id < 10),
        |sc AS (SELECT pr.probe_id, e.vec_id,
        |    list_dot_product(p, CAST(e.embedding AS DOUBLE[]))
        |      / (sqrt(list_dot_product(p, p))
        |       * sqrt(list_dot_product(CAST(e.embedding AS DOUBLE[]),
        |           CAST(e.embedding AS DOUBLE[])))) AS cosf,
        |    list_dot_product(p16, CAST(e.embedding AS DOUBLE[])[1:16])
        |      / (sqrt(list_dot_product(p16, p16))
        |       * sqrt(list_dot_product(
        |           CAST(e.embedding AS DOUBLE[])[1:16],
        |           CAST(e.embedding AS DOUBLE[])[1:16]))) AS cosp
        |  FROM embeddings e CROSS JOIN pr
        |  WHERE e.vec_id <> pr.probe_id),
        |rk AS (SELECT probe_id, vec_id,
        |    CAST(row_number() OVER (PARTITION BY probe_id
        |      ORDER BY cosf DESC, vec_id) AS BIGINT) AS rkf,
        |    CAST(row_number() OVER (PARTITION BY probe_id
        |      ORDER BY cosp DESC, vec_id) AS BIGINT) AS rkp
        |  FROM sc),
        |np AS (SELECT count(*) AS np FROM pr),
        |ks AS (SELECT CAST(unnest([1, 5, 10, 20]) AS BIGINT) AS k),
        |h AS (SELECT k,
        |    CAST(sum(CASE WHEN rkf <= k AND rkp <= k THEN 1 ELSE 0
        |      END) AS BIGINT) AS n_hits
        |  FROM rk CROSS JOIN ks
        |  WHERE rkf <= 20 OR rkp <= 20 GROUP BY 1)
        |SELECT k, n_hits,
        |  ROUND(CAST(n_hits AS DOUBLE) / CAST(k * np AS DOUBLE)
        |    * 10000) / 10000 AS recall
        |FROM h CROSS JOIN np ORDER BY k""".stripMargin,
    // Same micro-snap, HUGEINT moments, identical edge divisions.
    "sim_dim_variance" ->
      """WITH u AS (SELECT unnest(range(len(embedding))) AS pos,
        |    CAST(floor(CAST(unnest(embedding) AS DOUBLE) * 1000000.0)
        |      AS BIGINT) AS xi
        |  FROM embeddings),
        |a AS (SELECT pos, count(*) AS n,
        |    CAST(sum(CAST(xi AS HUGEINT)) AS HUGEINT) AS sx,
        |    CAST(sum(CAST(xi AS HUGEINT) * xi) AS HUGEINT) AS sxx
        |  FROM u GROUP BY 1)
        |SELECT CAST(pos AS BIGINT) AS dim, n,
        |  ROUND(CAST(sx AS DOUBLE) / CAST(n AS DOUBLE) / 1000000.0
        |    * 10000) / 10000 + 0.0 AS mean,
        |  ROUND(CAST(CAST(n AS HUGEINT) * sxx - sx * sx AS DOUBLE)
        |    / CAST(CAST(n AS HUGEINT) * n AS DOUBLE) / 1.0e12
        |    * 10000) / 10000 AS variance
        |FROM a ORDER BY dim""".stripMargin,
    // Same centroids, same fold, same per-vector ranking; top-1 and
    // top-3 flags reduce per label.
    "eval_topk_accuracy" ->
      """WITH u AS (SELECT label, unnest(range(len(embedding))) AS pos,
        |    unnest(embedding) AS x
        |  FROM embeddings),
        |cent AS (SELECT label, pos,
        |    CAST(SUM(CAST(CAST(x AS DOUBLE) AS DECIMAL(38,12))) AS DOUBLE)
        |      / COUNT(*) AS c
        |  FROM u GROUP BY 1, 2),
        |carr AS (SELECT label AS clabel, list(c ORDER BY pos) AS cvec
        |  FROM cent GROUP BY 1),
        |sc AS (SELECT e.vec_id, e.label, c.clabel,
        |    list_aggregate(list_transform(range(1, len(e.embedding) + 1),
        |      i -> (CAST(e.embedding[i] AS DOUBLE) - c.cvec[i])
        |        * (CAST(e.embedding[i] AS DOUBLE) - c.cvec[i])), 'sum')
        |      AS d2
        |  FROM embeddings e CROSS JOIN carr c),
        |r AS (SELECT vec_id, label, clabel,
        |    row_number() OVER (PARTITION BY vec_id
        |      ORDER BY d2, clabel) AS rk
        |  FROM sc),
        |h AS (SELECT vec_id, label,
        |    CAST(max(CASE WHEN rk = 1 AND clabel = label THEN 1
        |      ELSE 0 END) AS BIGINT) AS hit1,
        |    CAST(max(CASE WHEN clabel = label THEN 1 ELSE 0 END)
        |      AS BIGINT) AS hit3
        |  FROM r WHERE rk <= 3 GROUP BY 1, 2)
        |SELECT label, count(*) AS n_vecs,
        |  CAST(sum(hit1) AS BIGINT) AS n_top1,
        |  CAST(sum(hit3) AS BIGINT) AS n_top3,
        |  ROUND(CAST(CAST(sum(hit1) AS BIGINT) AS DOUBLE)
        |    / CAST(count(*) AS DOUBLE) * 10000) / 10000 AS top1_acc,
        |  ROUND(CAST(CAST(sum(hit3) AS BIGINT) AS DOUBLE)
        |    / CAST(count(*) AS DOUBLE) * 10000) / 10000 AS top3_acc
        |FROM h GROUP BY label ORDER BY label""".stripMargin,
    "sim_centroid_classify" ->
      """WITH u AS (SELECT label, unnest(range(len(embedding))) AS pos,
        |    unnest(embedding) AS x
        |  FROM embeddings),
        |cent AS (SELECT label, pos,
        |    CAST(SUM(CAST(CAST(x AS DOUBLE) AS DECIMAL(38,12))) AS DOUBLE)
        |      / COUNT(*) AS c
        |  FROM u GROUP BY 1, 2),
        |carr AS (SELECT label AS clabel, list(c ORDER BY pos) AS cvec
        |  FROM cent GROUP BY 1),
        |sc AS (SELECT e.vec_id, e.label, c.clabel,
        |    list_aggregate(list_transform(range(1, len(e.embedding) + 1),
        |      i -> (CAST(e.embedding[i] AS DOUBLE) - c.cvec[i])
        |        * (CAST(e.embedding[i] AS DOUBLE) - c.cvec[i])), 'sum')
        |      AS d2
        |  FROM embeddings e CROSS JOIN carr c),
        |r AS (SELECT vec_id, label, clabel,
        |    row_number() OVER (PARTITION BY vec_id
        |      ORDER BY d2, clabel) AS rk
        |  FROM sc),
        |pred AS (SELECT vec_id, label, clabel AS pred FROM r WHERE rk = 1)
        |SELECT label, pred, count(*) AS n FROM pred
        |GROUP BY 1, 2 ORDER BY label, pred""".stripMargin,
    // Same bounded-anchor d² folds and conditional mins.
    "sim_triplet_violation_rate" ->
      """WITH a AS (SELECT vec_id AS aid, label AS alabel,
        |    CAST(embedding AS DOUBLE[]) AS av FROM embeddings
        |  WHERE vec_id < 20),
        |d AS (SELECT e.vec_id, e.label, a.aid, a.alabel,
        |    list_aggregate(list_transform(range(1, len(e.embedding) + 1),
        |      i -> (CAST(e.embedding[i] AS DOUBLE) - a.av[i])
        |        * (CAST(e.embedding[i] AS DOUBLE) - a.av[i])), 'sum')
        |      AS d2
        |  FROM embeddings e CROSS JOIN a WHERE e.vec_id <> a.aid),
        |p AS (SELECT aid, alabel,
        |    min(CASE WHEN label = alabel THEN d2 END) AS d_same,
        |    min(CASE WHEN label <> alabel THEN d2 END) AS d_other
        |  FROM d GROUP BY 1, 2)
        |SELECT alabel AS label, count(*) AS n_anchors,
        |  count(*) FILTER (WHERE d_other < d_same) AS n_violations,
        |  ROUND(CAST(count(*) FILTER (WHERE d_other < d_same) AS DOUBLE)
        |    / CAST(count(*) AS DOUBLE) * 10000) / 10000
        |    AS violation_rate
        |FROM p GROUP BY 1 ORDER BY label""".stripMargin,
    // Same confusion chain; per-class P/R/F1 as single rationals.
    // Same confusion CTEs; exact |label−pred| costs and (n desc,
    // label, pred) worst cell.
    "eval_ordinal_error_cost" ->
      """WITH u AS (SELECT label, unnest(range(len(embedding))) AS pos,
        |    unnest(embedding) AS x
        |  FROM embeddings),
        |cent AS (SELECT label, pos,
        |    CAST(SUM(CAST(CAST(x AS DOUBLE) AS DECIMAL(38,12))) AS DOUBLE)
        |      / COUNT(*) AS c
        |  FROM u GROUP BY 1, 2),
        |carr AS (SELECT label AS clabel, list(c ORDER BY pos) AS cvec
        |  FROM cent GROUP BY 1),
        |sc AS (SELECT e.vec_id, e.label, c.clabel,
        |    list_aggregate(list_transform(range(1, len(e.embedding) + 1),
        |      i -> (CAST(e.embedding[i] AS DOUBLE) - c.cvec[i])
        |        * (CAST(e.embedding[i] AS DOUBLE) - c.cvec[i])), 'sum')
        |      AS d2
        |  FROM embeddings e CROSS JOIN carr c),
        |r AS (SELECT vec_id, label, clabel,
        |    row_number() OVER (PARTITION BY vec_id
        |      ORDER BY d2, clabel) AS rk
        |  FROM sc),
        |conf AS (SELECT label, clabel AS pred, count(*) AS n FROM r
        |  WHERE rk = 1 GROUP BY 1, 2),
        |tot AS (SELECT CAST(sum(n) AS BIGINT) AS nn,
        |    CAST(sum(CAST(abs(label - pred) AS HUGEINT) * n)
        |      AS HUGEINT) AS cost FROM conf),
        |wst AS (SELECT label AS worst_label, pred AS worst_pred,
        |    n AS worst_n FROM (
        |  SELECT *, row_number() OVER (ORDER BY n DESC, label, pred)
        |      AS rk
        |  FROM conf WHERE label <> pred) WHERE rk = 1)
        |SELECT nn AS n_vectors, CAST(cost AS BIGINT) AS total_cost,
        |  ROUND(CAST(cost AS DOUBLE) / CAST(nn AS DOUBLE) * 10000)
        |    / 10000 AS mean_cost,
        |  worst_label, worst_pred, worst_n
        |FROM tot CROSS JOIN wst""".stripMargin,
    // Same confusion CTEs; micro = trace share, macro = snapped
    // per-class F1 mean.
    "eval_macro_micro_f1" ->
      """WITH u AS (SELECT label, unnest(range(len(embedding))) AS pos,
        |    unnest(embedding) AS x
        |  FROM embeddings),
        |cent AS (SELECT label, pos,
        |    CAST(SUM(CAST(CAST(x AS DOUBLE) AS DECIMAL(38,12))) AS DOUBLE)
        |      / COUNT(*) AS c
        |  FROM u GROUP BY 1, 2),
        |carr AS (SELECT label AS clabel, list(c ORDER BY pos) AS cvec
        |  FROM cent GROUP BY 1),
        |sc AS (SELECT e.vec_id, e.label, c.clabel,
        |    list_aggregate(list_transform(range(1, len(e.embedding) + 1),
        |      i -> (CAST(e.embedding[i] AS DOUBLE) - c.cvec[i])
        |        * (CAST(e.embedding[i] AS DOUBLE) - c.cvec[i])), 'sum')
        |      AS d2
        |  FROM embeddings e CROSS JOIN carr c),
        |r AS (SELECT vec_id, label, clabel,
        |    row_number() OVER (PARTITION BY vec_id
        |      ORDER BY d2, clabel) AS rk
        |  FROM sc),
        |pred AS (SELECT vec_id, label, clabel AS pred FROM r
        |  WHERE rk = 1),
        |conf AS (SELECT label, pred, count(*) AS n FROM pred
        |  GROUP BY 1, 2),
        |bl AS (SELECT label, CAST(sum(n) AS BIGINT) AS lt FROM conf
        |  GROUP BY 1),
        |bp AS (SELECT pred AS label, CAST(sum(n) AS BIGINT) AS pt
        |  FROM conf GROUP BY 1),
        |tp AS (SELECT label, n AS tp FROM conf WHERE label = pred),
        |per AS (SELECT COALESCE(tp.tp, 0) AS tp,
        |    CAST(floor(CAST(2 * COALESCE(tp.tp, 0) AS DOUBLE)
        |      / CAST(2 * COALESCE(tp.tp, 0)
        |        + COALESCE(bp.pt, 0) - COALESCE(tp.tp, 0)
        |        + bl.lt - COALESCE(tp.tp, 0) AS DOUBLE)
        |      * 1000000.0) AS BIGINT) AS f16
        |  FROM bl LEFT JOIN tp ON tp.label = bl.label
        |  LEFT JOIN bp ON bp.label = bl.label),
        |t AS (SELECT CAST(sum(n) AS BIGINT) AS nn FROM conf)
        |SELECT count(*) AS n_classes, nn AS n_vectors,
        |  ROUND(CAST(sum(tp) AS DOUBLE) / CAST(nn AS DOUBLE)
        |    * 10000) / 10000 AS micro_f1,
        |  ROUND(CAST(sum(CAST(f16 AS HUGEINT)) AS DOUBLE)
        |    / CAST(count(*) AS DOUBLE) / 1000000.0 * 10000) / 10000
        |    AS macro_f1
        |FROM per CROSS JOIN t GROUP BY nn""".stripMargin,
    "eval_per_class_prf" ->
      """WITH u AS (SELECT label, unnest(range(len(embedding))) AS pos,
        |    unnest(embedding) AS x
        |  FROM embeddings),
        |cent AS (SELECT label, pos,
        |    CAST(SUM(CAST(CAST(x AS DOUBLE) AS DECIMAL(38,12))) AS DOUBLE)
        |      / COUNT(*) AS c
        |  FROM u GROUP BY 1, 2),
        |carr AS (SELECT label AS clabel, list(c ORDER BY pos) AS cvec
        |  FROM cent GROUP BY 1),
        |sc AS (SELECT e.vec_id, e.label, c.clabel,
        |    list_aggregate(list_transform(range(1, len(e.embedding) + 1),
        |      i -> (CAST(e.embedding[i] AS DOUBLE) - c.cvec[i])
        |        * (CAST(e.embedding[i] AS DOUBLE) - c.cvec[i])), 'sum')
        |      AS d2
        |  FROM embeddings e CROSS JOIN carr c),
        |r AS (SELECT vec_id, label, clabel,
        |    row_number() OVER (PARTITION BY vec_id
        |      ORDER BY d2, clabel) AS rk
        |  FROM sc),
        |pred AS (SELECT vec_id, label, clabel AS pred FROM r WHERE rk = 1),
        |conf AS (SELECT label, pred, count(*) AS n FROM pred
        |  GROUP BY 1, 2),
        |bl AS (SELECT label, CAST(sum(n) AS BIGINT) AS label_total
        |  FROM conf GROUP BY 1),
        |bp AS (SELECT pred AS label, CAST(sum(n) AS BIGINT)
        |    AS pred_total FROM conf GROUP BY 1),
        |tp AS (SELECT label, n AS tp FROM conf WHERE label = pred),
        |j AS (SELECT bl.label,
        |    COALESCE(tp.tp, 0) AS tp,
        |    COALESCE(bp.pred_total, 0) - COALESCE(tp.tp, 0) AS fp,
        |    bl.label_total - COALESCE(tp.tp, 0) AS fn
        |  FROM bl LEFT JOIN tp ON tp.label = bl.label
        |  LEFT JOIN bp ON bp.label = bl.label)
        |SELECT label, tp, fp, fn,
        |  CASE WHEN tp + fp > 0 THEN ROUND(CAST(tp AS DOUBLE)
        |    / CAST(tp + fp AS DOUBLE) * 10000) / 10000 END
        |    AS precision,
        |  CASE WHEN tp + fn > 0 THEN ROUND(CAST(tp AS DOUBLE)
        |    / CAST(tp + fn AS DOUBLE) * 10000) / 10000 END AS recall,
        |  CASE WHEN 2 * tp + fp + fn > 0 THEN
        |    ROUND(CAST(2 * tp AS DOUBLE)
        |      / CAST(2 * tp + fp + fn AS DOUBLE) * 10000) / 10000 END
        |    AS f1
        |FROM j ORDER BY label""".stripMargin,
    // The same five greedy steps, unrolled as MATERIALIZED CTEs (the
    // kcore/label-prop oracle convention); cosines via
    // list_dot_product with the identical IEEE spelling, mmr computed
    // once per row and reused for the ordering.
    "sim_mmr_rerank" -> {
      val prelude =
        """WITH emb AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
          |  FROM embeddings),
          |sc AS MATERIALIZED (SELECT p.vec_id AS probe_id, e.vec_id,
          |    list_dot_product(p.v, e.v)
          |      / (sqrt(list_dot_product(p.v, p.v))
          |        * sqrt(list_dot_product(e.v, e.v))) AS cosq,
          |    e.v AS v
          |  FROM emb e CROSS JOIN (SELECT * FROM emb WHERE vec_id < 10) p
          |  WHERE e.vec_id <> p.vec_id),
          |cand AS MATERIALIZED (SELECT probe_id, vec_id, cosq, v FROM (
          |    SELECT *, row_number() OVER (PARTITION BY probe_id
          |      ORDER BY cosq DESC, vec_id) AS rk FROM sc)
          |  WHERE rk <= 20),
          |pairs AS MATERIALIZED (SELECT a.probe_id, a.vec_id AS ai,
          |    b.vec_id AS bi,
          |    list_dot_product(a.v, b.v)
          |      / (sqrt(list_dot_product(a.v, a.v))
          |        * sqrt(list_dot_product(b.v, b.v))) AS cosab
          |  FROM cand a JOIN cand b ON a.probe_id = b.probe_id
          |    AND a.vec_id <> b.vec_id),
          |s1 AS MATERIALIZED (SELECT probe_id, vec_id, 1 AS step, cosq,
          |    0.7 * cosq AS mmr FROM (
          |    SELECT probe_id, vec_id, cosq,
          |      row_number() OVER (PARTITION BY probe_id
          |        ORDER BY cosq DESC, vec_id) AS rk FROM cand)
          |  WHERE rk = 1),
          |acc1 AS (SELECT probe_id, vec_id FROM s1)""".stripMargin
      val rounds = (2 to 5).map { k =>
        s"""s$k AS MATERIALIZED (SELECT probe_id, vec_id, $k AS step,
           |    cosq, mmr FROM (
           |    SELECT probe_id, vec_id, cosq, mmr,
           |      row_number() OVER (PARTITION BY probe_id
           |        ORDER BY mmr DESC, vec_id) AS rk
           |    FROM (
           |      SELECT r.probe_id, r.vec_id, r.cosq,
           |        0.7 * r.cosq - 0.3 * p.pen AS mmr
           |      FROM (SELECT c.* FROM cand c ANTI JOIN acc${k - 1} a
           |          ON c.probe_id = a.probe_id
           |          AND c.vec_id = a.vec_id) r
           |      JOIN (SELECT pr.probe_id, pr.ai AS vec_id,
           |            max(pr.cosab) AS pen
           |          FROM pairs pr JOIN acc${k - 1} a
           |            ON pr.probe_id = a.probe_id
           |            AND pr.bi = a.vec_id
           |          GROUP BY 1, 2) p
           |        ON r.probe_id = p.probe_id
           |        AND r.vec_id = p.vec_id))
           |  WHERE rk = 1),
           |acc$k AS (SELECT * FROM acc${k - 1}
           |  UNION ALL SELECT probe_id, vec_id FROM s$k)""".stripMargin
      }.mkString(",\n", ",\n", "")
      val tail =
        """
          |SELECT probe_id, CAST(step AS BIGINT) AS step, vec_id,
          |  ROUND(cosq * 10000) / 10000 + 0.0 AS relevance,
          |  ROUND(mmr * 10000) / 10000 + 0.0 AS mmr
          |FROM (SELECT * FROM s1 UNION ALL SELECT * FROM s2
          |  UNION ALL SELECT * FROM s3 UNION ALL SELECT * FROM s4
          |  UNION ALL SELECT * FROM s5)
          |ORDER BY probe_id, step""".stripMargin
      prelude + rounds + tail
    },
    // Same exact centroids + in-order d² folds as the classify
    // oracle; sqrt is IEEE-exact so the bucket floors agree bitwise.
    "sim_silhouette_centroid" ->
      """WITH u AS (SELECT label, unnest(range(len(embedding))) AS pos,
        |    unnest(embedding) AS x
        |  FROM embeddings),
        |cent AS (SELECT label, pos,
        |    CAST(SUM(CAST(CAST(x AS DOUBLE) AS DECIMAL(38,12))) AS DOUBLE)
        |      / COUNT(*) AS c
        |  FROM u GROUP BY 1, 2),
        |carr AS (SELECT label AS clabel, list(c ORDER BY pos) AS cvec
        |  FROM cent GROUP BY 1),
        |sc AS (SELECT e.vec_id, e.label, c.clabel,
        |    list_aggregate(list_transform(range(1, len(e.embedding) + 1),
        |      i -> (CAST(e.embedding[i] AS DOUBLE) - c.cvec[i])
        |        * (CAST(e.embedding[i] AS DOUBLE) - c.cvec[i])), 'sum')
        |      AS d2
        |  FROM embeddings e CROSS JOIN carr c),
        |ab AS (SELECT vec_id, label,
        |    max(d2) FILTER (WHERE clabel = label) AS a2,
        |    min(d2) FILTER (WHERE clabel <> label) AS b2
        |  FROM sc GROUP BY 1, 2),
        |sil AS (SELECT label,
        |    CASE WHEN greatest(sqrt(a2), sqrt(b2)) > 0 THEN
        |      (sqrt(b2) - sqrt(a2)) / greatest(sqrt(a2), sqrt(b2))
        |    ELSE 0.0 END AS s
        |  FROM ab WHERE b2 IS NOT NULL)
        |SELECT label, CAST(floor(s * 10) AS BIGINT) AS bucket,
        |  count(*) AS n_vecs
        |FROM sil GROUP BY 1, 2 ORDER BY label, bucket""".stripMargin,
    // Identical IEEE op order; list sums run in list order (the
    // entropy convention), float→double casts exact.
    // Raw dot, no normalization; same -0.0-safe round as the cosine
    // keys.
    "sim_mips_topk" ->
      """WITH emb AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
        |  FROM embeddings),
        |scored AS (SELECT p.vec_id AS probe_id, e.vec_id AS vec_id,
        |    list_dot_product(p.v, e.v) AS dot
        |  FROM emb e CROSS JOIN (SELECT * FROM emb WHERE vec_id < 10) p
        |  WHERE e.vec_id <> p.vec_id)
        |SELECT probe_id, vec_id, ROUND(dot, 4) + 0.0 AS dot, rk FROM (
        |  SELECT probe_id, vec_id, dot,
        |    row_number() OVER (PARTITION BY probe_id
        |      ORDER BY dot DESC, vec_id) AS rk
        |  FROM scored)
        |WHERE rk <= 5 ORDER BY probe_id, rk""".stripMargin,
    // DuckDB 1-based list slice emb[a:b]; the d² spelling and the
    // (d², aid) tie-break are operand-for-operand the Spark side.
    "sim_pq_error" ->
      """WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb
        |  FROM embeddings),
        |sub AS (SELECT vec_id, j, emb[j * 16 + 1 : j * 16 + 16] AS s
        |  FROM v CROSS JOIN (SELECT unnest(range(4)) AS j)),
        |anch AS (SELECT vec_id AS aid, j, s AS a FROM sub
        |  WHERE vec_id < 16),
        |d AS (SELECT sub.vec_id, sub.j, anch.aid,
        |    list_dot_product(s, s) + list_dot_product(a, a)
        |      - 2 * list_dot_product(s, a) AS d2
        |  FROM sub JOIN anch ON sub.j = anch.j),
        |best AS (SELECT vec_id, j, aid, d2,
        |    row_number() OVER (PARTITION BY vec_id, j
        |      ORDER BY d2, aid) AS rk
        |  FROM d)
        |SELECT vec_id, CAST(j AS BIGINT) AS subspace, aid AS code,
        |  ROUND(d2 / 16.0 * 1000000.0 * 10000.0) / 10000.0
        |    AS sub_mse_x1e6
        |FROM best WHERE rk = 1 ORDER BY vec_id, subspace""".stripMargin,
    "sim_vector_quantize_error" ->
      """WITH v AS (SELECT vec_id, embedding,
        |    CAST(list_min(embedding) AS DOUBLE) AS lo,
        |    CAST(list_max(embedding) AS DOUBLE) AS hi
        |  FROM embeddings),
        |s AS (SELECT vec_id, embedding, lo, hi,
        |    (hi - lo) / 255.0 AS scale FROM v),
        |e AS (SELECT vec_id, lo, hi,
        |    CASE WHEN scale = 0.0 THEN 0.0 ELSE
        |      list_aggregate(list_transform(embedding, x ->
        |        (CAST(x AS DOUBLE)
        |          - (lo + round((CAST(x AS DOUBLE) - lo) / scale) * scale))
        |        * (CAST(x AS DOUBLE)
        |          - (lo + round((CAST(x AS DOUBLE) - lo) / scale) * scale))),
        |        'sum') END AS sse,
        |    len(embedding) AS dim
        |  FROM s)
        |SELECT vec_id, lo, hi,
        |  ROUND(sse / CAST(dim AS DOUBLE) * 1000000.0 * 10000.0)
        |    / 10000.0 AS mse_x1e6
        |FROM e ORDER BY vec_id""".stripMargin
  )
}
