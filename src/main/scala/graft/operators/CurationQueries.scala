package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables.t
import graft.Det.r4d

/** §2.17 Corpus-curation operators (SURVEY.md, round-4 amendment) — the
  * two training-data steps the §2.9/§2.12 dedup stack doesn't cover:
  * benchmark DECONTAMINATION (drop training docs that leak evaluation
  * data, the n-gram-overlap rule used by every published LLM data
  * pipeline) and SUBSTRING-level duplication stats (shared long token
  * windows ACROSS documents — doc-level dedup keeps both copies of two
  * different pages quoting the same boilerplate; window-level detection
  * is what finds it).
  *
  * Scale design: both ops reduce the corpus to narrow (doc_id, window)
  * rows before any shuffle. Decontamination probes a broadcast benchmark
  * shingle set (benchmark suites are ~10⁶ shingles — trivially
  * broadcastable next to a 100 TB corpus), so the corpus side never
  * shuffles to discover overlaps; only the per-doc verdict aggregation
  * and the final doc_id-keyed join move data. The window-dup scan
  * shuffles one slim row per window position; at 100 TB the window
  * STRING would be replaced by its xxhash64 (64-bit key through the
  * exchange, collision odds ~n²/2⁶⁴ — a false dup-window per ~10⁹ TB),
  * kept as the raw string here so the DuckDB oracle is exact.
  */
object CurationQueries {
  type Q = (SparkSession, String) => DataFrame

  /** Distinct word `n`-gram shingles per doc: (doc_id, sh). */
  private def shingles(docs: DataFrame, n: Int): DataFrame =
    docs.select(col("doc_id"), split(col("text"), " ").as("toks"))
      .filter(size(col("toks")) >= n)
      .select(col("doc_id"), explode(expr(
        s"array_distinct(transform(sequence(0, size(toks)-$n), " +
          s"i -> concat_ws(' ', slice(toks, i+1, $n))))")).as("sh"))

  /** (doc_id, url): one synthetic URL per document, built identically
    * on both engines, with all four real-world noise classes live at
    * every SF — http vs https (mod 2), host case (mod 3), trailing
    * slash (mod 4), utm_* tracking params (mod 5). Shared by
    * text_url_normalize and fn_parse_url. */
  private[graft] def syntheticUrls(s: SparkSession, dir: String): DataFrame = {
    val d = col("doc_id")
    val hostRaw = concat(lit("site"), (d % 50).cast("string"),
      lit(".example.com"))
    val url = concat(
      when(d % 2 === 0, "https").otherwise("http"), lit("://"),
      when(d % 3 === 0, upper(hostRaw)).otherwise(hostRaw),
      lit("/a/item"), (d % 20).cast("string"),
      when(d % 4 === 0, "/").otherwise(""),
      when(d % 5 === 0,
        concat(lit("?utm_source=feed&id="), (d % 10).cast("string")))
        .when(d % 5 === 1, concat(lit("?id="), (d % 10).cast("string")))
        .when(d % 5 === 2, lit("?utm_campaign=x"))
        .otherwise(lit("")))
    t(s, dir, "documents").select(d.as("doc_id"), url.as("url"))
  }

  val queries: Map[String, Q] = Map(
    // PER-SOURCE BOILERPLATE-LINE REMOVAL REPORT (§2.199) — the
    // CCNet/RefinedWeb boilerplate screen as a SOURCE-scoped pass
    // (dedup_line_level is the corpus-wide per-doc C4 report; real
    // crawl boilerplate — nav bars, footers — repeats within a
    // site/source, so the frequency table is keyed (source, line)):
    // a "line" is a non-overlapping 4-token chunk (the fixture's
    // periodless word stream stands in for newline lines), a line is
    // boilerplate when it appears in ≥ 2 distinct docs of its source,
    // and the report gives the char share a rewrite would remove.
    // Shape: map-side chunk explode → ONE (source, line)-keyed
    // doc-distinct count (the inverted index — no all-pairs), then a
    // 20-row source rollup + broadcast doc-count join. At 100 TB the
    // line table is the only corpus-sized shuffle and it carries slim
    // (source, line-hash)-sized rows; the removal itself (filter docs'
    // chunks against the broadcast per-source boiler set) reuses the
    // same table.
    "text_boilerplate_lines" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val lines = docs.select(col("doc_id"), col("source"),
        explode(expr(
          "transform(sequence(0, cast(ceil(size(split(text, ' ')) / 4.0)" +
            " as int) - 1), " +
            "i -> array_join(slice(split(text, ' '), i * 4 + 1, 4), ' '))"))
          .as("line"))
      val g = lines.groupBy("source", "line")
        .agg(countDistinct(col("doc_id")).as("df"),
          count(lit(1)).as("n_inst"))
      val per = g.groupBy("source").agg(
        count(lit(1)).as("n_distinct_lines"),
        sum(when(col("df") >= 2, 1L).otherwise(0L)).as("n_boiler_lines"),
        sum(when(col("df") >= 2,
          length(col("line")).cast("long") * col("n_inst"))
          .otherwise(0L)).as("rc"),
        sum(length(col("line")).cast("long") * col("n_inst")).as("tc"))
      per.join(broadcast(docs.groupBy("source")
          .agg(count(lit(1)).as("n_docs"))), Seq("source"))
        .select(col("source"), col("n_docs"), col("n_distinct_lines"),
          col("n_boiler_lines"),
          r4d(col("rc").cast("double") / col("tc").cast("double"))
            .as("removed_char_share"))
        .orderBy("source")
    }),

    // LEXICON BLOCKLIST SCORING (§2.200) — the toxicity/blocklist
    // screen of a curation funnel: a small severity lexicon (here a
    // deterministic stand-in over the fixture vocabulary — a real
    // deployment drops in its own term table) broadcasts to every
    // scan task; per doc: hit instances, hit rate, a severity score
    // (Σ severity over hit instances) and the gate bucket the
    // curation verdict consumes. Map-side token explode + broadcast
    // lexicon join + one doc_id reduce — no corpus-sized shuffle
    // beyond the doc rollup, the standard 100 TB shape.
    "text_blocklist_score" -> ((s, dir) => {
      import s.implicits._
      val lex = Seq(("slow", 5L), ("dup", 5L), ("big", 2L),
        ("small", 1L), ("fast", 1L)).toDF("token", "sev")
      val toks = t(s, dir, "documents")
        .select(col("doc_id"), explode(split(col("text"), " ")).as("token"))
      val hits = toks.join(broadcast(lex), Seq("token"))
        .groupBy("doc_id")
        .agg(count(lit(1)).as("h"), sum(col("sev")).as("sc"))
      t(s, dir, "documents")
        .select(col("doc_id"),
          size(split(col("text"), " ")).cast("long").as("n_tokens"))
        .join(hits, Seq("doc_id"), "left")
        .select(col("doc_id"), col("n_tokens"),
          coalesce(col("h"), lit(0L)).as("n_hits"),
          r4d(coalesce(col("h"), lit(0L)).cast("double")
            / col("n_tokens").cast("double")).as("hit_rate"),
          coalesce(col("sc"), lit(0L)).as("severity_score"))
        .withColumn("bucket",
          when(col("severity_score") >= 25, "block")
            .when(col("severity_score") >= 10, "review")
            .when(col("severity_score") >= 1, "flag")
            .otherwise("clean"))
        .orderBy("doc_id")
    }),

    // LICENSE-MARKER DETECTION (§2.201) — the license-mix report a
    // dataset card needs: a deterministic marker table (stand-in
    // tokens over the fixture vocabulary; a real deployment matches
    // SPDX / license-boilerplate regexes) classifies each doc by its
    // highest-priority marker (restricted > permissive > none), then
    // a per-source mix rollup with shares. Marker tests are map-side
    // array_contains on the token split — literal-folded, no join at
    // all below the 20×3-row rollup; feeds pipeline_dataset_card's
    // per-source card.
    "text_license_tags" -> ((s, dir) => {
      val toks = split(col("text"), " ")
      val docs = t(s, dir, "documents").select(col("source"),
        when(array_contains(toks, "customer")
          || array_contains(toks, "key"), "restricted")
          .when(array_contains(toks, "spark")
            || array_contains(toks, "stream"), "permissive")
          .otherwise("none").as("license"))
      val mix = docs.groupBy("source", "license")
        .agg(count(lit(1)).as("n_docs"))
      mix.join(broadcast(docs.groupBy("source")
          .agg(count(lit(1)).as("n_src"))), Seq("source"))
        .select(col("source"), col("license"), col("n_docs"),
          r4d(col("n_docs").cast("double") / col("n_src").cast("double"))
            .as("share"))
        .orderBy("source", "license")
    }),

    // C4-STYLE LINE-LEVEL DEDUP REPORT (§2.116) — the curation stage
    // between doc-level and substring-span dedup: a "line" here is a
    // non-overlapping 2-token chunk (the fixture-appropriate
    // granularity for its periodless word stream; a real corpus feeds
    // newline lines), and a line is BOILERPLATE when it occurs in ≥ 3
    // distinct documents — C4's remove-repeated-lines rule as a
    // per-doc report (line count, boilerplate count, kept fraction).
    // Shape: a map-side chunk explode, one chunk-keyed doc-distinct
    // reduce (dictionary-bounded), one join back on chunk, a per-doc
    // reduce — never doc×doc.
    "dedup_line_level" -> ((s, dir) => {
      val ch = t(s, dir, "documents")
        .select(col("doc_id"), split(col("text"), " ").as("toks"))
        .filter(size(col("toks")) >= 2)
        .select(col("doc_id"), explode(expr(
          "transform(sequence(0, size(toks) div 2 - 1)," +
            " i -> concat(toks[2*i], ' ', toks[2*i+1]))")).as("line"))
      val boiler = ch.groupBy("line")
        .agg(countDistinct(col("doc_id")).as("nd"))
        .filter(col("nd") >= 3).select(col("line"), lit(1L).as("bp"))
      ch.join(boiler, Seq("line"), "left")
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_lines"),
          coalesce(sum(col("bp")), lit(0L)).as("n_boilerplate"))
        .select(col("doc_id"), col("n_lines"), col("n_boilerplate"),
          r4d((col("n_lines") - col("n_boilerplate")).cast("double")
            / col("n_lines").cast("double")).as("kept_fraction"))
        .orderBy("doc_id")
    }),

    // CROSS-SOURCE DUPLICATE MATRIX (§2.125) — who copies from whom?
    // Duplicate groups keyed by the LEADING-BIGRAM prefix fingerprint
    // (the cheap crawler-side proxy; the fixture has no verbatim dup
    // texts, so exact-md5 groups would be vacuous — a real corpus
    // swaps the group key for the full-content hash with zero plan
    // change), groups ≥ 2 reduced to per-(group, source) COUNTS
    // first, so the source-pair contribution is the closed form
    // n_a·n_b (C(n,2) on the diagonal) — the pair count without EVER
    // materializing member pairs (a viral doc duplicated 10⁶ times
    // costs one count row per source, not 10¹² pairs). All integer.
    "dedup_cross_source_matrix" -> ((s, dir) => {
      val g = t(s, dir, "documents")
        .select(expr(
          "array_join(slice(split(text, ' '), 1, 2), ' ')").as("grp"),
          col("source"))
        .groupBy("grp", "source").agg(count(lit(1)).as("n"))
      val sized = g.withColumn("gt", sum(col("n")).over(
          org.apache.spark.sql.expressions.Window.partitionBy("grp")))
        .filter(col("gt") >= 2)
      val pairs = sized.as("a").join(sized.as("b"),
          col("a.grp") === col("b.grp")
            && col("a.source") <= col("b.source"))
        .select(col("a.source").as("source_a"),
          col("b.source").as("source_b"),
          when(col("a.source") === col("b.source"),
            expr("a.n * (a.n - 1) div 2"))
            .otherwise(col("a.n") * col("b.n")).as("np"))
      pairs.groupBy("source_a", "source_b")
        .agg(sum(col("np")).cast("long").as("n_dup_pairs"))
        .filter(col("n_dup_pairs") > 0)
        .orderBy("source_a", "source_b")
    }),

    // QUALITY-GATE FUNNEL (§2.124) — the curation pipeline's
    // accounting table: how many docs survive each successive gate
    // (min chars → min tokens → distinct-token ratio ≥ 0.3, the
    // integer test 10·distinct ≥ 3·tokens → exact-text dedup among
    // the survivors). The per-stage flags are one map-side pass; the
    // dedup stage is a text-keyed rank window over stage-3 survivors
    // (keyed, never global); the 4-row funnel is a stack() reshape of
    // two aggregates.
    "pipeline_quality_gate_funnel" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val d = t(s, dir, "documents")
        .select(col("doc_id"), col("text"), col("n_chars"),
          size(split(col("text"), " ")).as("ntok"),
          size(array_distinct(split(col("text"), " "))).as("ndis"))
        .withColumn("f1", col("n_chars") >= 100)
        .withColumn("f2", col("n_chars") >= 100 && col("ntok") >= 20)
        .withColumn("f3", col("n_chars") >= 100 && col("ntok") >= 20
          && col("ndis") * 10 >= col("ntok") * 3)
      val c = d.agg(count(lit(1)).as("n0"),
        sum(when(col("f1"), 1L).otherwise(0L)).cast("long").as("n1"),
        sum(when(col("f2"), 1L).otherwise(0L)).cast("long").as("n2"),
        sum(when(col("f3"), 1L).otherwise(0L)).cast("long").as("n3"))
      val c4 = d.filter(col("f3"))
        .withColumn("rn", row_number().over(
          Window.partitionBy("text").orderBy("doc_id")))
        .filter(col("rn") === 1).agg(count(lit(1)).as("n4"))
      c.crossJoin(broadcast(c4))
        .select(expr("stack(4," +
          " '1_min_chars', n0, n1," +
          " '2_min_tokens', n1, n2," +
          " '3_distinct_ratio', n2, n3," +
          " '4_exact_dedup', n3, n4)" +
          " AS (stage, n_in, n_out)"))
        .select(col("stage"), col("n_in"), col("n_out"),
          r4d((col("n_in") - col("n_out")).cast("double")
            / col("n_in").cast("double")).as("drop_rate"))
        .orderBy("stage")
    }),

    // SYSTEMATIC 1-IN-20 SAMPLE AUDIT (§2.123) — deterministic
    // systematic sampling through GlobalRank's distributed order
    // (md5(doc_id) total order, pick rank ≡ 7 mod 20) with the
    // per-source coverage audit QA wants: achieved rate vs the 1/20
    // design (systematic sampling guarantees ±1 per stratum ONLY
    // under stratified ordering — the audit shows the actual spread
    // under the hash order). No RNG anywhere; GlobalRank is the
    // two-pass prefix sum, never a single-partition window.
    // PREFIX DUPLICATE GROUPS (§2.147) — templated-page detection:
    // docs sharing their first 64 characters are near-certainly the
    // same boilerplate with different tails (the C4/CCNet prefix
    // heuristic; full near-dup runs the MinHash path — this is the
    // cheap first screen). One substring + one reduce; groups of
    // ≥ 2 reported with their source spread and the min-doc_id
    // canonical (the cluster-canon survivor convention).
    // SUFFIX GROUPS (§2.187) — the FOOTER-boilerplate companion to
    // dedup_prefix_groups: documents sharing their last 16
    // characters (signatures, licenses, nav footers — the classic
    // tail boilerplate a prefix pass misses), grouped on one reduce
    // over the suffix key with the same survivor convention. The
    // suffix is taken with substring arithmetic both engines spell
    // identically (length − 15, floored at 1 for short docs — a
    // 16-char suffix; the prefix key's 64-char width stays with the
    // prefix, where template heads are long).
    "dedup_suffix_groups" -> ((s, dir) => {
      t(s, dir, "documents")
        .select(expr(
          "substring(text, greatest(length(text) - 15, 1), 16)")
          .as("suffix"),
          col("doc_id"), col("source"))
        .groupBy("suffix")
        .agg(count(lit(1)).as("n_docs"),
          countDistinct(col("source")).as("n_sources"),
          min(col("doc_id")).as("canonical_doc"))
        .filter(col("n_docs") >= 2)
        .orderBy(col("n_docs").desc, col("suffix"))
    }),

    "dedup_prefix_groups" -> ((s, dir) => {
      t(s, dir, "documents")
        .select(substring(col("text"), 1, 64).as("prefix"),
          col("doc_id"), col("source"))
        .groupBy("prefix")
        .agg(count(lit(1)).as("n_docs"),
          countDistinct(col("source")).as("n_sources"),
          min(col("doc_id")).as("canonical_doc"))
        .filter(col("n_docs") >= 2)
        .orderBy(col("n_docs").desc, col("prefix"))
    }),

    // EXACT-k WEIGHTED SAMPLING WITHOUT REPLACEMENT (§2.129) — the
    // corpus-mixing primitive sample_weighted_mix's Bernoulli form
    // only approximates: exactly 20 docs per source, selection
    // probability increasing in weight (n_chars — the tokens-per-doc
    // proxy), no replacement, fully deterministic and replay-stable.
    // Device: PRIORITY SAMPLING (Duffield–Lund–Thorup; the
    // Efraimidis–Spirakis exponential-key family with the uniform
    // kept as an INTEGER) — each doc draws u = the first 13 md5 hex
    // digits of its id as a 52-bit integer uniform, priority
    // q = u div w (truncating integer division, identical in both
    // engines — no ln(), no libm, no float ordering anywhere), and
    // each source keeps its 20 SMALLEST priorities (doc_id
    // tie-break). The row_number-over-(source) + rk filter shape is
    // the TopKPushdownRule target, so the plan is the two-phase
    // bounded-heap TopKPerGroupExec at any corpus size — never a
    // per-source global sort.
    "sample_weighted_noreplacement" -> ((s, dir) => {
      val d = t(s, dir, "documents")
        .select(col("doc_id"), col("source"),
          col("n_chars").cast("long").as("w"))
        .filter(col("w") > 0)
        .withColumn("u", conv(substring(
            md5(col("doc_id").cast("string").cast("binary")), 1, 13),
          16, 10).cast("long"))
        .withColumn("priority", expr("u div w"))
      val win = Window.partitionBy("source")
        .orderBy(col("priority"), col("doc_id"))
      d.withColumn("rk", row_number().over(win).cast("long"))
        .filter(col("rk") <= 20)
        .select(col("source"), col("rk"), col("doc_id"),
          col("w").as("n_chars"), col("priority"))
        .orderBy("source", "rk")
    }),

    "sample_systematic" -> ((s, dir) => {
      val d = t(s, dir, "documents")
        .select(col("doc_id"), col("source"),
          md5(col("doc_id").cast("string").cast("binary")).as("skey"),
          lit(1L).as("one"))
      val ranked = graft.plans.GlobalRank.runningSum(
        d, Seq("skey", "doc_id"), "one", "rk")
      val tagged = ranked
        .withColumn("picked", pmod(col("rk"), lit(20L)) === 7)
      tagged.groupBy("source")
        .agg(count(lit(1)).as("n_docs"),
          sum(when(col("picked"), 1L).otherwise(0L)).cast("long")
            .as("n_sampled"))
        .select(col("source"), col("n_docs"), col("n_sampled"),
          r4d(col("n_sampled").cast("double")
            / col("n_docs").cast("double")).as("rate"),
          r4d(col("n_sampled").cast("double")
            / col("n_docs").cast("double") - lit(0.05)).as("rate_delta"))
        .orderBy("source")
    }),

    // EFFECTIVE SAMPLE SIZE REPORT (§2.119) — when docs carry
    // importance weights (here: length — the standard
    // tokens-per-sample proxy), how much of the corpus do weighted
    // draws EFFECTIVELY use? ESS = (Σw)²/Σw² per source + the ratio
    // to n (1 = uniform, →1/n = one doc dominates) — the
    // degeneracy check every weighted-sampling pipeline (temperature
    // mix, DoReMi) should report. Integer weights, DECIMAL(38,0)
    // moments, one division per output row.
    "sample_ess_report" -> ((s, dir) => {
      t(s, dir, "documents")
        .select(col("source"), col("n_chars").cast("long").as("w"))
        .groupBy("source")
        .agg(count(lit(1)).as("n_docs"),
          sum(col("w")).cast("decimal(38,0)").as("sw"),
          sum(col("w").cast("decimal(38,0)") * col("w")).as("sww"))
        .select(col("source"), col("n_docs"),
          col("sw").cast("long").as("sum_w"),
          r4d((col("sw") * col("sw")).cast("double")
            / col("sww").cast("double")).as("ess"),
          r4d((col("sw") * col("sw")).cast("double")
            / col("sww").cast("double")
            / col("n_docs").cast("double")).as("ess_ratio"))
        .orderBy("source")
    }),

    // ANNOTATION DISAGREEMENT ROUTING (§2.118) — the labeling-ops
    // table downstream of eval_krippendorff_alpha's corpus-level
    // answer: per item (same orders/linenumbers/returnflags rating
    // fixture), the modal label (exact counts, label tie-break via
    // struct min), the agreement fraction, and the route every
    // annotation platform implements — unanimous → accept, agreement
    // < 2/3 → relabel (the INTEGER test 3·n_modal < 2·n_ratings),
    // else review. One (item, label) reduce + one item reduce;
    // map-side classify.
    "pipeline_annotation_routing" -> ((s, dir) => {
      val cells = t(s, dir, "lineitem")
        .select(col("l_orderkey").as("ok"), col("l_returnflag").as("lab"))
        .groupBy("ok", "lab").agg(count(lit(1)).as("n_uk"))
      cells.groupBy("ok")
        .agg(sum(col("n_uk")).cast("long").as("n_ratings"),
          // min over (-count, label): highest count first, then the
          // SMALLEST label under full-string comparison — matches the
          // oracle's ORDER BY n_uk DESC, lab for any label domain
          // (ascii() reads only the first byte, so a max-with-negated-
          // ascii form would misbreak multi-char labels sharing one).
          min(struct((-col("n_uk")).as("negn"), col("lab"))).as("m"))
        .select(col("ok"), col("n_ratings"),
          col("m.lab").as("modal_label"), (-col("m.negn")).as("n_modal"))
        .withColumn("route",
          when(col("n_modal") === col("n_ratings"), "accept")
            .when(col("n_modal") * 3 < col("n_ratings") * 2, "relabel")
            .otherwise("review"))
        .select(col("ok"), col("n_ratings"), col("modal_label"),
          col("n_modal"),
          r4d(col("n_modal").cast("double")
            / col("n_ratings").cast("double")).as("agreement"),
          col("route"))
        .orderBy("ok")
    }),

    // Benchmark decontamination verdict: for every non-benchmark doc,
    // how many of its distinct 5-gram shingles appear anywhere in the
    // benchmark set (docs with doc_id % 97 == 0 stand in for an eval
    // suite; a real deployment feeds the suite as a second table).
    // n_overlap = 0 → clean; > 0 → quarantine. The probe is a broadcast
    // semi-ish join (inner join + count) against the benchmark shingle
    // set, so contamination discovery is map-side; the left join that
    // attaches zeros is doc_id-keyed.
    "text_decontaminate" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val sh = shingles(docs, 5)
      val bench = sh.filter(col("doc_id") % 97 === 0).select("sh").distinct()
      val hits = sh.filter(col("doc_id") % 97 =!= 0)
        .join(broadcast(bench), Seq("sh"))
        .groupBy("doc_id").agg(count(lit(1)).as("n_overlap"))
      docs.filter(col("doc_id") % 97 =!= 0).select("doc_id")
        .join(hits, Seq("doc_id"), "left")
        .select(col("doc_id"),
          coalesce(col("n_overlap"), lit(0L)).as("n_overlap"))
        .orderBy("doc_id")
    }),

    // GRADED CONTAMINATION SCORE (§2.98) — text_decontaminate's binary
    // verdict, graded: the FRACTION of each doc's distinct 5-gram
    // shingles found in the benchmark set, plus the triage band a
    // curation queue sorts by (clean / low ≤ 20% / high). A one-hit
    // quarantine throws away long documents that merely quote one
    // benchmark sentence; the graded score is what production
    // decontamination (and its published evaluations) actually
    // threshold on. The band decision is the INTEGER comparison
    // 5·n_overlap ≤ n_shingles — no float enters it; the reported
    // fraction is one division r4d'd. Shape: the same broadcast
    // benchmark probe as the parent key plus one per-doc shingle
    // count off the already-exploded shingle stream — two partial
    // aggs, zero new shuffle shapes.
    "text_contamination_score" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val sh = shingles(docs, 5).filter(col("doc_id") % 97 =!= 0)
      val bench = shingles(docs, 5).filter(col("doc_id") % 97 === 0)
        .select("sh").distinct()
      val tot = sh.groupBy("doc_id").agg(count(lit(1)).as("n_sh"))
      val hits = sh.join(broadcast(bench), Seq("sh"))
        .groupBy("doc_id").agg(count(lit(1)).as("n_overlap"))
      docs.filter(col("doc_id") % 97 =!= 0).select("doc_id")
        .join(tot, Seq("doc_id"), "left")
        .join(hits, Seq("doc_id"), "left")
        .select(col("doc_id"),
          coalesce(col("n_sh"), lit(0L)).as("n_shingles"),
          coalesce(col("n_overlap"), lit(0L)).as("n_overlap"))
        .withColumn("contam_frac", when(col("n_shingles") > 0,
          graft.Det.r4d(col("n_overlap").cast("double")
            / col("n_shingles").cast("double"))))
        .withColumn("band", when(col("n_overlap") === 0, "clean")
          .when(col("n_overlap") * 5 <= col("n_shingles"), "low")
          .otherwise("high"))
        .orderBy("doc_id")
    }),

    // Cross-document duplicated-substring stats: an 8-token window that
    // occurs in more than one document marks boilerplate / quotation
    // overlap doc-level dedup cannot see. Emits, per offending doc, the
    // count of duplicated window instances and the first/last 0-based
    // window position (the span bounds a removal pass would cut).
    // Windows are NOT array_distinct'ed — a doc repeating a duplicated
    // window counts each instance, and positions must survive for the
    // span bounds (hence posexplode, not the shingle helper above).
    "dedup_substring_spans" -> ((s, dir) => {
      val w = graft.Tables.docs(s, dir)
        .select(col("doc_id"), split(col("text"), " ").as("toks"))
        .filter(size(col("toks")) >= 8)
        .select(col("doc_id"), posexplode(expr(
          "transform(sequence(0, size(toks)-8), " +
            "i -> concat_ws(' ', slice(toks, i+1, 8)))")))
        .select(col("doc_id"), col("pos").cast("long").as("pos"),
          col("col").as("w"))
      val dup = w.groupBy("w").agg(countDistinct(col("doc_id")).as("nd"))
        .filter(col("nd") > 1).select("w")
      w.join(dup, Seq("w"))
        .groupBy("doc_id").agg(count(lit(1)).as("n_dup_win"),
          min("pos").as("first_pos"), max("pos").as("last_pos"))
        .orderBy("doc_id")
    }),

    // THE query a real curation user runs (round-5 verdict ask #4): one
    // plan composing language ID + quality score + exact-dup survivor
    // selection + benchmark decontamination into a per-doc keep/drop
    // verdict with the first failing rule as the reason. Rules, in
    // precedence order: (1) exact duplicate loser (canonical token-set
    // fingerprint, survivor = min doc_id — dedup_exact_text's
    // definition); (2) contaminated (any 5-gram shared with the
    // benchmark set, text_decontaminate's rule); (3) low quality
    // (composite score < 0.65 — drops the bottom ~6% of this corpus);
    // (4) off-target language (pipeline targets an English corpus:
    // pred_lang ≠ 'en'). Every branch is non-vacuous at sf0.001/0.01/
    // 0.1 (measured: 60/54/1056 dup, 2/1/14 contam, 36/29/364 quality,
    // 325/318/2951 lang, 71/92/563 keep).
    //
    // Plan shape (PlanAuditSpec pins no-cartesian + broadcast probe):
    // quality is map-side; the dup rank is one fp-keyed window; the
    // contamination probe is the broadcast semi-join of
    // text_decontaminate; langid is the shared keyed-join core; and
    // every verdict column attaches back by doc_id-keyed joins — no
    // join tree pathology, the whole thing is one linear plan over the
    // documents scan.
    "pipeline_curation_verdict" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val isBench = col("doc_id") % 97 === 0
      val corpus = docs.filter(!isBench)
      val wDup = Window.partitionBy(col("fp")).orderBy(col("doc_id"))
      val base = corpus.select(col("doc_id"), col("lang"),
          r4d(PipelineQueries.qualityExpr(col("text"))).as("quality"),
          md5(concat_ws(" ",
            array_sort(array_distinct(split(col("text"), " "))))).as("fp"))
        .withColumn("dup_rn", row_number().over(wDup))
      val sh = shingles(docs, 5)
      val bench = sh.filter(col("doc_id") % 97 === 0).select("sh").distinct()
      val hits = sh.filter(col("doc_id") % 97 =!= 0)
        .join(broadcast(bench), Seq("sh"))
        .groupBy("doc_id").agg(count(lit(1)).as("n_overlap"))
      val pred = PipelineQueries.langidPred(docs)
        .select(col("doc_id"), col("pred_lang"))
      base.join(pred, Seq("doc_id"))
        .join(hits, Seq("doc_id"), "left")
        .select(col("doc_id"), col("pred_lang"), col("quality"),
          when(col("dup_rn") > 1, 1L).otherwise(0L).as("is_dup"),
          coalesce(col("n_overlap"), lit(0L)).as("n_overlap"),
          when(col("dup_rn") > 1, "drop:dup")
            .when(coalesce(col("n_overlap"), lit(0L)) > 0, "drop:contam")
            .when(col("quality") < 0.65, "drop:quality")
            .when(col("pred_lang") =!= "en", "drop:lang")
            .otherwise("keep").as("verdict"))
        .orderBy("doc_id")
    }),

    // The 100 TB shuffle shape the raw-string variant's scaladoc
    // describes, as its own declared key: the dup-count exchange and the
    // membership join both key on xxhash64(window), so only slim
    // (doc_id, pos, h:long) rows ever shuffle — the window STRINGS never
    // leave the scan stage. A hash collision could merge two distinct
    // windows' doc counts (odds ≈ n²/2⁶⁴ ≈ 10⁻⁸ at fixture scale, and
    // deterministic — xxhash64 is seed-fixed, so the oracle row can
    // never flake); the raw-string key stays declared above for the
    // collision-impossible exact form. Same output shape and, absent a
    // collision, identical answer — hence the identical oracle SQL.
    "dedup_substring_spans_hashed" -> ((s, dir) => {
      val w = graft.Tables.docs(s, dir)
        .select(col("doc_id"), split(col("text"), " ").as("toks"))
        .filter(size(col("toks")) >= 8)
        .select(col("doc_id"), posexplode(expr(
          "transform(sequence(0, size(toks)-8), " +
            "i -> concat_ws(' ', slice(toks, i+1, 8)))")))
        .select(col("doc_id"), col("pos").cast("long").as("pos"),
          xxhash64(col("col")).as("h"))
      val dup = w.groupBy("h").agg(countDistinct(col("doc_id")).as("nd"))
        .filter(col("nd") > 1).select("h")
      w.join(dup, Seq("h"))
        .groupBy("doc_id").agg(count(lit(1)).as("n_dup_win"),
          min("pos").as("first_pos"), max("pos").as("last_pos"))
        .orderBy("doc_id")
    }),

    // SUBSTRING-DEDUP REMOVAL — the step after dedup_substring_spans'
    // report: actually CUT the duplicated windows out of the text (the
    // published train-data dedup recipe removes repeated spans, not
    // whole documents — doc-level survivors still carry the shared
    // boilerplate). A token position is removed iff some cross-document
    // duplicated 8-token window covers it; the cleaned text is the
    // uncovered tokens re-joined. The cover set comes back as ONE
    // sorted int array per doc (bounded by doc length) and the rebuild
    // is a map-side index-filter HOF — no per-token shuffle; the dup
    // discovery shuffles the same slim (doc_id, pos, window) rows as
    // the spans keys. Docs under 8 tokens and clean docs pass through
    // with n_removed = 0.
    "dedup_substring_removal" -> ((s, dir) => {
      val toks = t(s, dir, "documents")
        .select(col("doc_id"), split(col("text"), " ").as("toks"))
      val w = toks.filter(size(col("toks")) >= 8)
        .select(col("doc_id"), posexplode(expr(
          "transform(sequence(0, size(toks)-8), " +
            "i -> concat_ws(' ', slice(toks, i+1, 8)))")))
        .select(col("doc_id"), col("pos"), col("col").as("w"))
      val dup = w.groupBy("w").agg(countDistinct(col("doc_id")).as("nd"))
        .filter(col("nd") > 1).select("w")
      // No .distinct() before collect_set: the set dedupes, and its
      // PARTIAL aggregation already dedupes map-side — a distinct here
      // would add a second full exchange over the largest intermediate.
      val cov = w.join(dup, Seq("w"))
        .select(col("doc_id"),
          explode(expr("sequence(pos, pos + 7)")).as("p"))
        .groupBy("doc_id").agg(collect_set(col("p")).as("cov"))
      toks.join(cov, Seq("doc_id"), "left")
        .select(col("doc_id"),
          coalesce(size(col("cov")), lit(0)).cast("long").as("n_removed"),
          concat_ws(" ", expr(
            "filter(toks, (t, i) -> NOT array_contains(coalesce(cov, array()), i))"))
            .as("clean_text"))
        .orderBy("doc_id")
    }),

    // PII redaction — the compliance pass every released corpus runs:
    // count and replace emails / URLs / phone numbers with typed
    // placeholder tokens, entirely map-side (regexp_count +
    // regexp_replace are codegen'd built-ins — no UDF, no shuffle
    // before the presentation sort). The fixture corpus carries no PII,
    // so deterministic synthetic PII derived from doc_id is appended
    // IDENTICALLY on both engines before scrubbing (the non-vacuous-
    // branch convention of etl_upsert_type1): docs ≡0 mod 5 gain an
    // email, mod 7 a URL, mod 11 a phone — all three regex classes hit
    // at every scale factor, and docs hit 0–3 times. Patterns restrict
    // to RE2-safe syntax (no lookaround/backrefs) so the Java-regex and
    // RE2 engines match identical spans.
    "text_pii_scrub" -> ((s, dir) => {
      val email = "[a-z0-9._%+-]+@[a-z0-9.-]+\\.[a-z]{2,}"
      val url = "https?://[^ ]+"
      val phone = "\\+1-[0-9]{3}-[0-9]{3}-[0-9]{4}"
      val aug = concat(col("text"),
        when(col("doc_id") % 5 === 0, concat(lit(" contact user"),
          col("doc_id").cast("string"), lit("@example.com now")))
          .otherwise(""),
        when(col("doc_id") % 7 === 0, concat(lit(" see https://site"),
          col("doc_id").cast("string"), lit(".example.org/p?q=1 ok")))
          .otherwise(""),
        when(col("doc_id") % 11 === 0, concat(lit(" call +1-555-"),
          lpad(pmod(col("doc_id"), lit(1000)).cast("string"), 3, "0"),
          lit("-0199"))).otherwise(""))
      t(s, dir, "documents")
        .select(col("doc_id"), aug.as("text"))
        .select(col("doc_id"),
          regexp_count(col("text"), lit(email)).cast("long").as("n_email"),
          regexp_count(col("text"), lit(url)).cast("long").as("n_url"),
          regexp_count(col("text"), lit(phone)).cast("long").as("n_phone"),
          regexp_replace(regexp_replace(regexp_replace(col("text"),
            email, "<EMAIL>"), url, "<URL>"), phone, "<PHONE>")
            .as("clean_text"))
        .orderBy("doc_id")
    }),

    // Intra-document repetition filter (the Gopher/C4 quality family's
    // repetition signals, next to text_quality_score's length/stopword
    // composite): duplicate-TOKEN fraction (1 − distinct/total) and
    // duplicate-BIGRAM fraction per doc, flagged past measured
    // thresholds (token > 0.6 ∨ bigram > 0.08 — 181/500 docs flag at
    // sf0.01, both branches non-vacuous). Thresholds compare the
    // SHARED-ROUNDED value (Det.r4d both engines) so a boundary doc
    // can't flip between engines. Entirely map-side HOF arithmetic —
    // per-doc, no shuffle before the presentation sort; at 100 TB this
    // runs in the scan stage like the other quality signals.
    "text_repetition_filter" -> ((s, dir) => {
      val base = t(s, dir, "documents")
        .select(col("doc_id"), split(col("text"), " ").as("toks"))
        .filter(size(col("toks")) >= 2)
        .select(col("doc_id"),
          size(col("toks")).cast("double").as("nt"),
          size(array_distinct(col("toks"))).cast("double").as("ndt"),
          (size(col("toks")) - 1).cast("double").as("nb"),
          size(array_distinct(expr("transform(sequence(0, size(toks)-2), " +
            "i -> concat(toks[i], ' ', toks[i+1]))"))).cast("double")
            .as("ndb"))
      base.select(col("doc_id"),
          r4d(lit(1.0) - col("ndt") / col("nt")).as("rep_token"),
          r4d(lit(1.0) - col("ndb") / col("nb")).as("rep_bigram"))
        .withColumn("flagged",
          when(col("rep_token") > 0.6 || col("rep_bigram") > 0.08, 1L)
            .otherwise(0L))
        .orderBy("doc_id")
    }),

    // Per-source document cap — the Common-Crawl-style curation rule
    // that no single domain dominates the corpus: keep at most 10 docs
    // per source, chosen by the deterministic content-independent
    // md5(doc_id) order (the replayable-shuffle device of
    // sample_stratified_hash — a re-run or a backfill picks the SAME
    // survivors, unlike rand()). One row_number window partitioned by
    // source — per-key state, no global ordering; at 100 TB this is a
    // single source-keyed exchange, AQE-splittable when one domain is
    // 10⁶× another (the exact skew this rule exists to cut).
    "sample_domain_cap" -> ((s, dir) => {
      val w = Window.partitionBy(col("source"))
        .orderBy(col("skey"), col("doc_id"))
      t(s, dir, "documents")
        .select(col("doc_id"), col("source"),
          md5(col("doc_id").cast("string").cast("binary")).as("skey"))
        .withColumn("rk", row_number().over(w).cast("long"))
        .filter(col("rk") <= 10)
        .select(col("doc_id"), col("source"), col("rk"))
        .orderBy("source", "rk")
    }),

    // CLASS-BALANCED UNDERSAMPLING (§2.94) — equalize every language's
    // share by down-sampling each class to the MINORITY class's size:
    // the classifier-training counterpart of sample_domain_cap (whose
    // cap is a fixed constant; here the cap is an order statistic of
    // the data — min over per-class counts, a 1-row broadcast). Within
    // a class the survivors are the first m docs in deterministic
    // md5(doc_id) order (the epoch-shuffle device), so the kept set is
    // content-independent and engine-neutral. Shape: one ≤|classes|
    // reduce → 1-row min broadcast; one class-keyed exchange for the
    // per-class rank window (parallel across classes; the largest
    // class bounds a partition exactly as sample_domain_cap's cap
    // window does). No global window, no second pass over the corpus.
    "sample_balanced_undersample" -> ((s, dir) => {
      val d = t(s, dir, "documents")
        .select(col("doc_id"), col("lang"),
          md5(col("doc_id").cast("string").cast("binary")).as("skey"))
      val mcnt = d.groupBy("lang").agg(count(lit(1)).as("c"))
        .agg(min(col("c")).as("m"))
      val w = Window.partitionBy(col("lang"))
        .orderBy(col("skey"), col("doc_id"))
      d.withColumn("rk", row_number().over(w).cast("long"))
        .crossJoin(broadcast(mcnt))
        .filter(col("rk") <= col("m"))
        .select(col("lang"), col("rk"), col("doc_id"))
        .orderBy("lang", "rk")
    }),

    // CLASS-BALANCED OVERSAMPLING (§2.106) — the other arm of the
    // balance pair: replicate each minority-language doc
    // ceil(max_count/count) times (capped at 8×) instead of throwing
    // majority data away. Replication is a deterministic integer
    // explode(sequence(1, k)) — no RNG, replay-stable, and each copy
    // carries its copy index so downstream shuffles can epoch-vary
    // augmentation. The factor is integer ceiling arithmetic
    // ((mx + c − 1) div c) against one broadcast max; output counts
    // are exact. Shape: one lang reduce, one broadcast, one map-side
    // explode — the corpus never shuffles.
    "sample_balanced_oversample" -> ((s, dir) => {
      val d = t(s, dir, "documents").select(col("doc_id"), col("lang"))
      val cnt = d.groupBy("lang").agg(count(lit(1)).as("c"))
      val mx = cnt.agg(max(col("c")).as("mx"))
      val factor = cnt.crossJoin(broadcast(mx))
        .select(col("lang"),
          least(expr("(mx + c - 1) div c"), lit(8L)).as("k"))
      d.join(broadcast(factor), Seq("lang"))
        .select(col("lang"), col("doc_id"), col("k"),
          explode(expr("sequence(1L, k)")).as("copy_idx"))
        .orderBy("lang", "doc_id", "copy_idx")
    }),

    // URL canonicalization + dedup — the FIRST dedup pass of every
    // web-corpus pipeline (cheaper than any content hash: two crawls of
    // the same page differ by tracking params, scheme and host case
    // long before their bodies differ). The fixture has no URL column,
    // so deterministic synthetic URLs derived from doc_id are built
    // IDENTICALLY on both engines (the text_pii_scrub convention), with
    // all four real-world noise classes live at every SF: http vs https
    // (mod 2), host case (mod 3), trailing slash (mod 4), utm_*
    // tracking params (mod 5). Canonical form = https + lowercase host
    // + slash-stripped path + query with utm_* params removed; the
    // canonical survivor is the lowest doc_id (dedup_exact_text's
    // rule). Canonicalization is pure codegen'd regexp work in the scan
    // stage; the only shuffle is the canonical-key window — at 100 TB
    // one url-keyed exchange, and the regexps are RE2-safe with NO
    // capture-group replacements (Spark spells them $1, DuckDB \1 —
    // extract-and-rebuild sidesteps the incompatibility).
    "text_url_normalize" -> ((s, dir) => {
      val host = lower(regexp_extract(col("url"), "^https?://([^/?]+)", 1))
      val path = regexp_replace(
        regexp_extract(col("url"), "^https?://[^/?]+([^?]*)", 1), "/$", "")
      val q = regexp_replace(regexp_replace(
        regexp_extract(col("url"), "\\?(.*)$", 1),
        "utm_[a-z]+=[^&]*&?", ""), "&$", "")
      val w = Window.partitionBy(col("canon_url")).orderBy(col("doc_id"))
      syntheticUrls(s, dir)
        .select(col("doc_id"), col("url"),
          concat(lit("https://"), host, path,
            when(q === "", "").otherwise(concat(lit("?"), q)))
            .as("canon_url"))
        .withColumn("keep",
          when(row_number().over(w) === 1, 1L).otherwise(0L))
        .orderBy("doc_id")
    }),

    // TEMPERATURE-based corpus mixing — the multilingual rebalancing
    // rule (target share ∝ n^α, here α = 0.5) every multilingual
    // pretraining mix applies so head languages stop drowning tail
    // ones. Unlike sample_weighted_mix's GIVEN per-source rates, the
    // rates here are DERIVED from the corpus's own per-language counts:
    // k_lang = min(n, floor(N·√n / Σ√n)) — head langs downsample, tail
    // langs cap at full size (the keep-everything branch; en is the
    // only downsampled lang at every SF, so both branches are live).
    // Determinism: Σ√n is summed in EXACT decimal (order-independent —
    // a double sum would vary with aggregation order), the k arithmetic
    // is then identical double ops from identical inputs on both
    // engines, and survivors are the first k in the replayable
    // md5(doc_id) order (sample_domain_cap's device). Scale: the count
    // table is |langs| rows (broadcast), the rank one lang-keyed
    // window exchange — same shape as the domain cap.
    // NOVELTY RATIO (§2.68) — what fraction of each document's
    // distinct 5-gram shingles appears for the FIRST time in this
    // document (first = smallest doc_id, the corpus's deterministic
    // arrival order)? The curation metric between exact dedup and
    // quality scoring: boilerplate-heavy docs score near 0 even when
    // no single earlier document matches them (cross-doc dedup's
    // blind spot — the duplication is diffuse). Shares the shingles()
    // device with decontaminate/containment; attribution is one
    // shuffle keyed by shingle (min doc_id = map-side combinable),
    // then one doc_id-keyed join back. Docs under 5 tokens have no
    // shingles → NULL novelty, spelled identically in both engines.
    "text_novelty_ratio" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val sh = shingles(docs, 5)
      val fd = sh.groupBy("sh").agg(min(col("doc_id")).as("first_doc"))
      val per = sh.join(fd, Seq("sh"))
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_shingles"),
          sum(when(col("first_doc") === col("doc_id"), 1L).otherwise(0L))
            .as("n_novel"))
      docs.select(col("doc_id")).join(per, Seq("doc_id"), "left")
        .select(col("doc_id"),
          coalesce(col("n_shingles"), lit(0L)).as("n_shingles"),
          coalesce(col("n_novel"), lit(0L)).as("n_novel"),
          r4d(col("n_novel").cast("double")
            / col("n_shingles").cast("double")).as("novelty"))
        .orderBy("doc_id")
    }),

    // CONSISTENT PSEUDONYMIZATION (§2.67) — pii_scrub's sibling with
    // REFERENTIAL INTEGRITY: instead of collapsing every email to one
    // <EMAIL> tag (which destroys "same sender across documents"
    // joins), each PII token maps to a STABLE pseudonym derived from
    // its own hash (EMAIL_ + md5-prefix) — the same entity gets the
    // same pseudonym corpus-wide with no lookup table to secure, the
    // GDPR-grade anonymization that keeps analytics joinable. PII
    // here are whole whitespace tokens (the fixture's injected
    // emails/phones are), so the rewrite is a per-token HOF —
    // shuffle-free, no regexp_replace callback needed (neither engine
    // has one). 8 hex chars = 32 bits; collisions only matter within
    // the PSEUDONYM namespace (~65k entities per birthday-bound),
    // documented trade.
    "text_pseudonymize" -> ((s, dir) => {
      val d = col("doc_id")
      val aug = concat(col("text"),
        when(d % 5 === 0, concat(lit(" contact user"),
          d.cast("string"), lit("@example.com now"))).otherwise(""),
        when(d % 11 === 0, concat(lit(" call +1-555-"),
          lpad(pmod(d, lit(1000)).cast("string"), 3, "0"),
          lit("-0199"))).otherwise(""))
      val email = "^[a-z0-9._%+-]+@[a-z0-9.-]+\\.[a-z]{2,}$"
      val phone = "^\\+1-[0-9]{3}-[0-9]{3}-[0-9]{4}$"
      val toks = split(col("text"), " ")
      val out = transform(toks, tk =>
        when(regexp_like(tk, lit(email)),
          concat(lit("EMAIL_"), substring(md5(tk.cast("binary")), 1, 8)))
          .when(regexp_like(tk, lit(phone)),
            concat(lit("PHONE_"), substring(md5(tk.cast("binary")), 1, 8)))
          .otherwise(tk))
      val nPii = size(filter(toks, tk =>
        regexp_like(tk, lit(email)) || regexp_like(tk, lit(phone))))
      t(s, dir, "documents")
        .select(d.as("doc_id"), aug.as("text"))
        .select(col("doc_id"), nPii.cast("long").as("n_pseudo"),
          array_join(out, " ").as("pseudo_text"))
        .orderBy("doc_id")
    }),

    // MIXTURE REWEIGHTING (§2.64) — the domain-weights computation
    // upstream of every weighted sampler (the DoReMi/Pile recipe's
    // bookkeeping step): given a TARGET mixture (uniform over the k
    // sources here — a real run feeds target shares as a second
    // table), compare it with the corpus's ACTUAL token share per
    // source and emit the sampling weight target/actual — i.e. how
    // many epochs of each domain one pass at the target mixture
    // consumes (weight > 1 = the domain repeats, the overfit-risk
    // number dataset cards report). Token counts are exact integers;
    // the two divisions are spelled operand-for-operand in both
    // engines, r4d at the edge. One narrow aggregate per source plus
    // a broadcast scalar join — O(sources) state, never row-bound.
    "sample_mixture_weights" -> ((s, dir) => {
      val per = t(s, dir, "documents")
        .select(col("source"),
          size(split(col("text"), " ")).cast("long").as("ntok"))
        .groupBy("source")
        .agg(count(lit(1)).as("n_docs"), sum(col("ntok")).as("n_tokens"))
      val tot = per.agg(sum(col("n_tokens")).as("tot_tokens"),
        count(lit(1)).as("k"))
      per.crossJoin(broadcast(tot))
        .select(col("source"), col("n_docs"), col("n_tokens"),
          r4d(col("n_tokens").cast("double") / col("tot_tokens").cast("double"))
            .as("token_share"),
          r4d(col("tot_tokens").cast("double")
            / (col("k").cast("double") * col("n_tokens").cast("double")))
            .as("weight"))
        .orderBy("source")
    }),

    // DEDUP SURVIVORSHIP REPORT (§2.64) — the before/after accounting
    // every dedup stage prints: per source, how many docs survive
    // exact-text dedup and what fraction of the token volume was
    // duplicate mass. Within-source grouping (cross-source dups are
    // the cluster keys' business); groups by the full text here —
    // at 100 TB the group key would be xxhash64(text) (the
    // CurationQueries header's standard substitution), kept raw so
    // the oracle is exact. All-integer outputs except the one r4d
    // ratio.
    "dedup_survivorship_report" -> ((s, dir) => {
      val g = t(s, dir, "documents")
        .select(col("source"), col("text"),
          size(split(col("text"), " ")).cast("long").as("ntok"))
        .groupBy(col("source"), col("text"))
        .agg(count(lit(1)).as("n"), first(col("ntok")).as("ntok"))
      g.groupBy("source")
        .agg(sum(col("n")).as("n_docs"),
          count(lit(1)).as("n_unique"),
          (sum(col("n")) - count(lit(1))).as("n_dup_docs"),
          sum(col("ntok") * col("n")).as("tokens_total"),
          sum(col("ntok")).as("tokens_after"))
        .select(col("source"), col("n_docs"), col("n_unique"),
          col("n_dup_docs"), col("tokens_total"), col("tokens_after"),
          r4d(col("n_dup_docs").cast("double") / col("n_docs").cast("double"))
            .as("dup_ratio"))
        .orderBy("source")
    }),

    "sample_temperature_mix" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val counts = docs.groupBy(col("lang")).agg(count(lit(1)).as("n"))
      val tot = counts.agg(sum(col("n")).as("nn"),
        sum(sqrt(col("n").cast("double")).cast("decimal(38,8)")).as("ss"))
      val k = counts.crossJoin(tot).select(col("lang"),
        least(col("n"), floor(col("nn").cast("double") *
          sqrt(col("n").cast("double")) / col("ss").cast("double")))
          .as("k_keep"))
      val w = Window.partitionBy(col("lang"))
        .orderBy(col("skey"), col("doc_id"))
      docs.select(col("doc_id"), col("lang"),
          md5(col("doc_id").cast("string").cast("binary")).as("skey"))
        .withColumn("rk", row_number().over(w).cast("long"))
        .join(broadcast(k), Seq("lang"))
        .filter(col("rk") <= col("k_keep"))
        .select(col("lang"), col("doc_id"), col("rk"), col("k_keep"))
        .orderBy("lang", "rk")
    }),

    // Dataset card — the per-(source, lang) release summary every
    // published corpus ships: doc/token counts, exact-dup text count
    // (distinct md5), and mean doc length. ONE two-phase hash agg over
    // a map-side projection (countDistinct plans as the standard
    // two-shuffle expand, everything else partial-aggregates); the
    // whole 100 TB card costs a single scan.
    "pipeline_dataset_card" -> ((s, dir) => {
      t(s, dir, "documents")
        .select(col("source"), col("lang"),
          size(split(col("text"), " ")).cast("long").as("n_tok"),
          md5(col("text").cast("binary")).as("h"))
        .groupBy(col("source"), col("lang"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_tok")).as("n_tokens"),
          countDistinct(col("h")).as("n_unique_texts"),
          r4d(sum(col("n_tok")).cast("double") / count(lit(1)))
            .as("avg_tokens"))
        .orderBy("source", "lang")
    })
  )

  val oracle: Map[String, String] = Map(
    // Same 4-token chunking (DuckDB 1-based inclusive list slice ==
    // Spark slice(start, 4)), same df ≥ 2 rule, same char accounting.
    "text_boilerplate_lines" ->
      """WITH d AS (SELECT doc_id, source, string_split(text, ' ') AS toks
        |  FROM documents),
        |nd AS (SELECT source, count(*) AS n_docs FROM d GROUP BY 1),
        |ln AS (SELECT doc_id, source,
        |    unnest(range(0, CAST(ceil(len(toks) / 4.0) AS BIGINT))) AS i,
        |    toks FROM d),
        |l2 AS (SELECT doc_id, source,
        |    array_to_string(toks[i*4+1:i*4+4], ' ') AS line FROM ln),
        |g AS (SELECT source, line, count(DISTINCT doc_id) AS df,
        |    count(*) AS n_inst, CAST(length(line) AS BIGINT) AS ll
        |  FROM l2 GROUP BY 1, 2),
        |p AS (SELECT source, count(*) AS n_distinct_lines,
        |    CAST(sum(CASE WHEN df >= 2 THEN 1 ELSE 0 END) AS BIGINT)
        |      AS n_boiler_lines,
        |    CAST(sum(CASE WHEN df >= 2 THEN ll * n_inst ELSE 0 END)
        |      AS BIGINT) AS rc,
        |    CAST(sum(ll * n_inst) AS BIGINT) AS tc
        |  FROM g GROUP BY 1)
        |SELECT p.source, nd.n_docs, n_distinct_lines, n_boiler_lines,
        |  ROUND(CAST(rc AS DOUBLE) / CAST(tc AS DOUBLE) * 10000) / 10000
        |    AS removed_char_share
        |FROM p JOIN nd USING (source) ORDER BY source""".stripMargin,
    // Same literal lexicon, instance counts, and bucket thresholds.
    "text_blocklist_score" ->
      """WITH lex AS (SELECT * FROM (VALUES ('slow', 5), ('dup', 5),
        |    ('big', 2), ('small', 1), ('fast', 1)) AS v(token, sev)),
        |tk AS (SELECT doc_id, unnest(string_split(text, ' ')) AS token
        |  FROM documents),
        |h AS (SELECT doc_id, count(*) AS h,
        |    CAST(sum(sev) AS BIGINT) AS sc
        |  FROM tk JOIN lex USING (token) GROUP BY 1),
        |d AS (SELECT doc_id,
        |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
        |  FROM documents)
        |SELECT d.doc_id, n_tokens,
        |  coalesce(h, 0) AS n_hits,
        |  ROUND(CAST(coalesce(h, 0) AS DOUBLE) / CAST(n_tokens AS DOUBLE)
        |    * 10000) / 10000 AS hit_rate,
        |  coalesce(sc, 0) AS severity_score,
        |  CASE WHEN coalesce(sc, 0) >= 25 THEN 'block'
        |    WHEN coalesce(sc, 0) >= 10 THEN 'review'
        |    WHEN coalesce(sc, 0) >= 1 THEN 'flag'
        |    ELSE 'clean' END AS bucket
        |FROM d LEFT JOIN h USING (doc_id) ORDER BY doc_id""".stripMargin,
    // Same marker table and restricted > permissive priority.
    "text_license_tags" ->
      """WITH d AS (SELECT source,
        |    CASE WHEN list_contains(string_split(text, ' '), 'customer')
        |        OR list_contains(string_split(text, ' '), 'key')
        |      THEN 'restricted'
        |      WHEN list_contains(string_split(text, ' '), 'spark')
        |        OR list_contains(string_split(text, ' '), 'stream')
        |      THEN 'permissive'
        |      ELSE 'none' END AS license
        |  FROM documents),
        |m AS (SELECT source, license, count(*) AS n_docs FROM d
        |  GROUP BY 1, 2),
        |nd AS (SELECT source, count(*) AS n_src FROM d GROUP BY 1)
        |SELECT m.source, license, m.n_docs,
        |  ROUND(CAST(m.n_docs AS DOUBLE) / CAST(n_src AS DOUBLE)
        |    * 10000) / 10000 AS share
        |FROM m JOIN nd USING (source)
        |ORDER BY source, license""".stripMargin,
    // Same leading-bigram group key and closed-form pair counts.
    "dedup_cross_source_matrix" ->
      """WITH g AS (SELECT array_to_string(string_split(text, ' ')[1:2],
        |      ' ') AS grp, source, count(*) AS n
        |  FROM documents GROUP BY 1, 2),
        |sized AS (SELECT g.*,
        |    CAST(sum(n) OVER (PARTITION BY grp) AS BIGINT) AS gt
        |  FROM g),
        |f AS (SELECT * FROM sized WHERE gt >= 2),
        |p AS (SELECT a.source AS source_a, b.source AS source_b,
        |    CASE WHEN a.source = b.source THEN a.n * (a.n - 1) // 2
        |      ELSE a.n * b.n END AS np
        |  FROM f a JOIN f b ON a.grp = b.grp AND a.source <= b.source)
        |SELECT source_a, source_b, CAST(sum(np) AS BIGINT)
        |    AS n_dup_pairs
        |FROM p GROUP BY 1, 2 HAVING CAST(sum(np) AS BIGINT) > 0
        |ORDER BY source_a, source_b""".stripMargin,
    // Same staged integer gates; dedup via first-per-text rank among
    // stage-3 survivors.
    "pipeline_quality_gate_funnel" ->
      """WITH d AS (SELECT doc_id, text, n_chars,
        |    len(string_split(text, ' ')) AS ntok,
        |    len(list_distinct(string_split(text, ' '))) AS ndis
        |  FROM documents),
        |f AS (SELECT *,
        |    n_chars >= 100 AS f1,
        |    n_chars >= 100 AND ntok >= 20 AS f2,
        |    n_chars >= 100 AND ntok >= 20 AND ndis * 10 >= ntok * 3
        |      AS f3
        |  FROM d),
        |c AS (SELECT count(*) AS n0,
        |    CAST(sum(CASE WHEN f1 THEN 1 ELSE 0 END) AS BIGINT) AS n1,
        |    CAST(sum(CASE WHEN f2 THEN 1 ELSE 0 END) AS BIGINT) AS n2,
        |    CAST(sum(CASE WHEN f3 THEN 1 ELSE 0 END) AS BIGINT) AS n3
        |  FROM f),
        |c4 AS (SELECT count(*) AS n4 FROM (
        |  SELECT text, row_number() OVER (PARTITION BY text
        |    ORDER BY doc_id) AS rn FROM f WHERE f3) WHERE rn = 1),
        |st AS (
        |  SELECT '1_min_chars' AS stage, n0 AS n_in, n1 AS n_out
        |    FROM c
        |  UNION ALL SELECT '2_min_tokens', n1, n2 FROM c
        |  UNION ALL SELECT '3_distinct_ratio', n2, n3 FROM c
        |  UNION ALL SELECT '4_exact_dedup', n3, n4 FROM c CROSS JOIN c4)
        |SELECT stage, n_in, n_out,
        |  ROUND(CAST(n_in - n_out AS DOUBLE) / CAST(n_in AS DOUBLE)
        |    * 10000) / 10000 AS drop_rate
        |FROM st ORDER BY stage""".stripMargin,
    // Same floored suffix arithmetic and survivor convention.
    "dedup_suffix_groups" ->
      """SELECT substring(text, greatest(length(text) - 15, 1), 16)
        |    AS suffix,
        |  count(*) AS n_docs, count(DISTINCT source) AS n_sources,
        |  min(doc_id) AS canonical_doc
        |FROM documents GROUP BY 1 HAVING count(*) >= 2
        |ORDER BY n_docs DESC, suffix""".stripMargin,
    // Same 64-char substring grouping and survivor convention.
    "dedup_prefix_groups" ->
      """SELECT substring(text, 1, 64) AS prefix, count(*) AS n_docs,
        |  count(DISTINCT source) AS n_sources,
        |  min(doc_id) AS canonical_doc
        |FROM documents GROUP BY 1 HAVING count(*) >= 2
        |ORDER BY n_docs DESC, prefix""".stripMargin,
    // Same 52-bit md5 integer uniform ('0x' || hex cast ≡ Spark's
    // conv(hex, 16, 10)), same truncating priority division, same
    // per-source bottom-20.
    "sample_weighted_noreplacement" ->
      """WITH d AS (SELECT doc_id, source,
        |    CAST(n_chars AS BIGINT) AS w,
        |    CAST(('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 13))
        |      AS BIGINT) AS u
        |  FROM documents WHERE n_chars > 0),
        |k AS (SELECT doc_id, source, w, u // w AS priority FROM d),
        |r AS (SELECT source, doc_id, w, priority,
        |    CAST(row_number() OVER (PARTITION BY source
        |      ORDER BY priority, doc_id) AS BIGINT) AS rk
        |  FROM k)
        |SELECT source, rk, doc_id, w AS n_chars, priority
        |FROM r WHERE rk <= 20 ORDER BY source, rk""".stripMargin,
    // Same md5 total order (global row_number ≡ GlobalRank's prefix
    // count), mod-20 pick, exact rate arithmetic.
    "sample_systematic" ->
      """WITH d AS (SELECT doc_id, source,
        |    md5(CAST(doc_id AS VARCHAR)) AS skey FROM documents),
        |r AS (SELECT doc_id, source,
        |    CAST(row_number() OVER (ORDER BY skey, doc_id) AS BIGINT)
        |      AS rk
        |  FROM d)
        |SELECT source, count(*) AS n_docs,
        |  CAST(sum(CASE WHEN rk % 20 = 7 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_sampled,
        |  ROUND(CAST(sum(CASE WHEN rk % 20 = 7 THEN 1 ELSE 0 END)
        |      AS DOUBLE) / CAST(count(*) AS DOUBLE) * 10000) / 10000
        |    AS rate,
        |  ROUND((CAST(sum(CASE WHEN rk % 20 = 7 THEN 1 ELSE 0 END)
        |      AS DOUBLE) / CAST(count(*) AS DOUBLE) - 0.05) * 10000)
        |    / 10000 + 0.0 AS rate_delta
        |FROM r GROUP BY source ORDER BY source""".stripMargin,
    // Same integer weights and HUGEINT moments; the ESS chain
    // operand-for-operand.
    "sample_ess_report" ->
      """WITH a AS (SELECT source, count(*) AS n_docs,
        |    CAST(sum(n_chars) AS HUGEINT) AS sw,
        |    CAST(sum(CAST(n_chars AS HUGEINT) * n_chars) AS HUGEINT)
        |      AS sww
        |  FROM documents GROUP BY 1)
        |SELECT source, n_docs, CAST(sw AS BIGINT) AS sum_w,
        |  ROUND(CAST(sw * sw AS DOUBLE) / CAST(sww AS DOUBLE)
        |    * 10000) / 10000 AS ess,
        |  ROUND(CAST(sw * sw AS DOUBLE) / CAST(sww AS DOUBLE)
        |    / CAST(n_docs AS DOUBLE) * 10000) / 10000 AS ess_ratio
        |FROM a ORDER BY source""".stripMargin,
    // Same modal pick (rank ≡ the struct-max with inverted label
    // byte), integer route tests.
    "pipeline_annotation_routing" ->
      """WITH cells AS (SELECT l_orderkey AS ok, l_returnflag AS lab,
        |    count(*) AS n_uk FROM lineitem GROUP BY 1, 2),
        |tot AS (SELECT ok, CAST(sum(n_uk) AS BIGINT) AS n_ratings
        |  FROM cells GROUP BY 1),
        |m AS (SELECT ok, lab AS modal_label, n_uk AS n_modal FROM (
        |  SELECT ok, lab, n_uk, row_number() OVER (PARTITION BY ok
        |    ORDER BY n_uk DESC, lab) AS rn FROM cells) WHERE rn = 1)
        |SELECT t.ok, n_ratings, modal_label, n_modal,
        |  ROUND(CAST(n_modal AS DOUBLE) / CAST(n_ratings AS DOUBLE)
        |    * 10000) / 10000 AS agreement,
        |  CASE WHEN n_modal = n_ratings THEN 'accept'
        |    WHEN n_modal * 3 < n_ratings * 2 THEN 'relabel'
        |    ELSE 'review' END AS route
        |FROM tot t JOIN m USING (ok) ORDER BY t.ok""".stripMargin,
    // Same 2-token chunking (range(len//2) ≡ sequence/div), ≥3-doc
    // boilerplate rule, one kept-fraction division.
    "dedup_line_level" ->
      """WITH ch AS (SELECT doc_id,
        |    toks[2*i + 1] || ' ' || toks[2*i + 2] AS line
        |  FROM (SELECT doc_id, string_split(text, ' ') AS toks
        |    FROM documents WHERE len(string_split(text, ' ')) >= 2),
        |    LATERAL (SELECT unnest(range(len(toks) // 2)) AS i)),
        |boiler AS (SELECT line FROM (
        |  SELECT line, count(DISTINCT doc_id) AS nd FROM ch GROUP BY 1)
        |  WHERE nd >= 3)
        |SELECT doc_id, count(*) AS n_lines,
        |  CAST(sum(CASE WHEN b.line IS NOT NULL THEN 1 ELSE 0 END)
        |    AS BIGINT) AS n_boilerplate,
        |  ROUND(CAST(count(*) - sum(CASE WHEN b.line IS NOT NULL
        |      THEN 1 ELSE 0 END) AS DOUBLE)
        |    / CAST(count(*) AS DOUBLE) * 10000) / 10000
        |    AS kept_fraction
        |FROM ch LEFT JOIN boiler b USING (line)
        |GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    // The verdict oracle is the same CTE chain: the langid CTEs are
    // text_langid's verbatim, the quality arithmetic
    // text_quality_score's, the shingle CTEs text_decontaminate's, and
    // the dup rank dedup_exact_text's fingerprint — so a divergence in
    // any composed stage surfaces here even if the per-stage keys pass.
    "pipeline_curation_verdict" ->
      """WITH tok AS (SELECT doc_id, lang, unnest(string_split(text, ' ')) AS token FROM documents),
        |lt AS (SELECT lang AS p_lang, token, count(*) AS ct FROM tok GROUP BY 1, 2),
        |tot AS (SELECT lang AS p_lang, count(*) AS tot FROM tok GROUP BY 1),
        |v AS (SELECT count(DISTINCT token) AS v FROM tok),
        |prof AS (SELECT l.p_lang, tkn.token,
        |    CAST(ln(CAST(COALESCE(ct, 0) + 1 AS DOUBLE) / (tot + v)) AS DECIMAL(38,8)) AS lnp
        |  FROM (SELECT DISTINCT token FROM tok) tkn
        |  CROSS JOIN (SELECT DISTINCT lang AS p_lang FROM documents) l
        |  JOIN tot ON tot.p_lang = l.p_lang CROSS JOIN v
        |  LEFT JOIN lt ON lt.p_lang = l.p_lang AND lt.token = tkn.token),
        |scored AS (SELECT doc_id, lang, p_lang, SUM(lnp) AS score
        |  FROM tok JOIN prof ON tok.token = prof.token GROUP BY 1, 2, 3),
        |pred AS (SELECT doc_id, p_lang AS pred_lang FROM (
        |  SELECT *, row_number() OVER (PARTITION BY doc_id
        |    ORDER BY score DESC, p_lang) AS rn FROM scored) WHERE rn = 1),
        |corpus AS (SELECT doc_id, lang, text FROM documents WHERE doc_id % 97 <> 0),
        |q AS (SELECT doc_id, ROUND((0.4 * least(1.0, nt / 50.0)
        |    + 0.3 * (1.0 - nstop / nt) + 0.3 * (nd / nt)) * 10000) / 10000 AS quality
        |  FROM (SELECT doc_id, CAST(len(toks) AS DOUBLE) AS nt,
        |      CAST(len(list_filter(toks,
        |        t -> t IN ('the','a','of','to','and','in'))) AS DOUBLE) AS nstop,
        |      CAST(len(list_distinct(toks)) AS DOUBLE) AS nd
        |    FROM (SELECT doc_id, string_split(text, ' ') AS toks FROM corpus))),
        |dup AS (SELECT doc_id, row_number() OVER (PARTITION BY
        |    md5(array_to_string(list_sort(list_distinct(string_split(text, ' '))), ' '))
        |    ORDER BY doc_id) AS dup_rn FROM corpus),
        |sh AS (SELECT doc_id, unnest(list_distinct(list_transform(
        |    range(len(toks) - 4), i -> array_to_string(toks[i+1:i+5], ' ')))) AS sh
        |  FROM (SELECT doc_id, string_split(text, ' ') AS toks FROM documents)
        |  WHERE len(toks) >= 5),
        |bench AS (SELECT DISTINCT sh FROM sh WHERE doc_id % 97 = 0),
        |hits AS (SELECT doc_id, count(*) AS n_overlap FROM sh JOIN bench USING (sh)
        |         WHERE doc_id % 97 <> 0 GROUP BY 1)
        |SELECT c.doc_id, pred_lang, quality,
        |  CASE WHEN dup_rn > 1 THEN 1 ELSE 0 END AS is_dup,
        |  coalesce(n_overlap, 0) AS n_overlap,
        |  CASE WHEN dup_rn > 1 THEN 'drop:dup'
        |       WHEN coalesce(n_overlap, 0) > 0 THEN 'drop:contam'
        |       WHEN quality < 0.65 THEN 'drop:quality'
        |       WHEN pred_lang <> 'en' THEN 'drop:lang'
        |       ELSE 'keep' END AS verdict
        |FROM corpus c JOIN pred USING (doc_id) JOIN q USING (doc_id)
        |JOIN dup USING (doc_id) LEFT JOIN hits USING (doc_id)
        |ORDER BY doc_id""".stripMargin,
    "text_decontaminate" ->
      """WITH sh AS (SELECT doc_id, unnest(list_distinct(list_transform(
        |    range(len(toks) - 4), i -> array_to_string(toks[i+1:i+5], ' ')))) AS sh
        |  FROM (SELECT doc_id, string_split(text, ' ') AS toks FROM documents)
        |  WHERE len(toks) >= 5),
        |bench AS (SELECT DISTINCT sh FROM sh WHERE doc_id % 97 = 0),
        |hits AS (SELECT doc_id, count(*) AS n_overlap FROM sh JOIN bench USING (sh)
        |         WHERE doc_id % 97 <> 0 GROUP BY 1)
        |SELECT d.doc_id, coalesce(n_overlap, 0) AS n_overlap
        |FROM (SELECT doc_id FROM documents WHERE doc_id % 97 <> 0) d
        |LEFT JOIN hits USING (doc_id) ORDER BY doc_id""".stripMargin,
    // Same shingle stream; the band is the integer 5·overlap ≤ total
    // comparison, the fraction one rounded division.
    "text_contamination_score" ->
      """WITH sh AS (SELECT doc_id, unnest(list_distinct(list_transform(
        |    range(len(toks) - 4), i -> array_to_string(toks[i+1:i+5], ' ')))) AS sh
        |  FROM (SELECT doc_id, string_split(text, ' ') AS toks FROM documents)
        |  WHERE len(toks) >= 5),
        |bench AS (SELECT DISTINCT sh FROM sh WHERE doc_id % 97 = 0),
        |tot AS (SELECT doc_id, count(*) AS n_sh FROM sh
        |  WHERE doc_id % 97 <> 0 GROUP BY 1),
        |hits AS (SELECT doc_id, count(*) AS n_overlap FROM sh JOIN bench USING (sh)
        |         WHERE doc_id % 97 <> 0 GROUP BY 1),
        |f AS (SELECT d.doc_id, coalesce(n_sh, 0) AS n_shingles,
        |    coalesce(n_overlap, 0) AS n_overlap
        |  FROM (SELECT doc_id FROM documents WHERE doc_id % 97 <> 0) d
        |  LEFT JOIN tot USING (doc_id) LEFT JOIN hits USING (doc_id))
        |SELECT doc_id, n_shingles, n_overlap,
        |  CASE WHEN n_shingles > 0 THEN
        |    ROUND(CAST(n_overlap AS DOUBLE) / CAST(n_shingles AS DOUBLE)
        |      * 10000) / 10000
        |  END AS contam_frac,
        |  CASE WHEN n_overlap = 0 THEN 'clean'
        |       WHEN n_overlap * 5 <= n_shingles THEN 'low'
        |       ELSE 'high' END AS band
        |FROM f ORDER BY doc_id""".stripMargin,
    // The hashed variant's oracle is the SAME windowed CTE: xxhash64 is
    // an internal shuffle key, invisible in the output, and collision-
    // free on the fixture corpus (checked by this very row).
    "dedup_substring_spans_hashed" ->
      """WITH w AS (SELECT doc_id, unnest(range(len(toks) - 7)) AS pos,
        |    unnest(list_transform(range(len(toks) - 7),
        |      i -> array_to_string(toks[i+1:i+8], ' '))) AS w
        |  FROM (SELECT doc_id, string_split(text, ' ') AS toks FROM documents)
        |  WHERE len(toks) >= 8),
        |dup AS (SELECT w FROM w GROUP BY w HAVING count(DISTINCT doc_id) > 1)
        |SELECT doc_id, count(*) AS n_dup_win, min(pos) AS first_pos,
        |  max(pos) AS last_pos
        |FROM w JOIN dup USING (w) GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    "dedup_substring_spans" ->
      """WITH w AS (SELECT doc_id, unnest(range(len(toks) - 7)) AS pos,
        |    unnest(list_transform(range(len(toks) - 7),
        |      i -> array_to_string(toks[i+1:i+8], ' '))) AS w
        |  FROM (SELECT doc_id, string_split(text, ' ') AS toks FROM documents)
        |  WHERE len(toks) >= 8),
        |dup AS (SELECT w FROM w GROUP BY w HAVING count(DISTINCT doc_id) > 1)
        |SELECT doc_id, count(*) AS n_dup_win, min(pos) AS first_pos,
        |  max(pos) AS last_pos
        |FROM w JOIN dup USING (w) GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    // Triple-quoted on the Scala side so the single backslashes below
    // reach DuckDB verbatim (its standard strings don't process escape
    // sequences); 'g' flags because DuckDB regexp_replace is first-match
    // by default where Spark's replaces all.
    "text_pii_scrub" ->
      """WITH aug AS (SELECT doc_id,
        |  text || CASE WHEN doc_id % 5 = 0 THEN ' contact user' || doc_id || '@example.com now' ELSE '' END
        |       || CASE WHEN doc_id % 7 = 0 THEN ' see https://site' || doc_id || '.example.org/p?q=1 ok' ELSE '' END
        |       || CASE WHEN doc_id % 11 = 0 THEN ' call +1-555-' || lpad((doc_id % 1000)::varchar, 3, '0') || '-0199' ELSE '' END AS text
        |  FROM documents)
        |SELECT doc_id,
        |  len(regexp_extract_all(text, '[a-z0-9._%+-]+@[a-z0-9.-]+\.[a-z]{2,}')) AS n_email,
        |  len(regexp_extract_all(text, 'https?://[^ ]+')) AS n_url,
        |  len(regexp_extract_all(text, '\+1-[0-9]{3}-[0-9]{3}-[0-9]{4}')) AS n_phone,
        |  regexp_replace(regexp_replace(regexp_replace(text,
        |    '[a-z0-9._%+-]+@[a-z0-9.-]+\.[a-z]{2,}', '<EMAIL>', 'g'),
        |    'https?://[^ ]+', '<URL>', 'g'),
        |    '\+1-[0-9]{3}-[0-9]{3}-[0-9]{4}', '<PHONE>', 'g') AS clean_text
        |FROM aug ORDER BY doc_id""".stripMargin,
    "text_repetition_filter" ->
      """WITH g AS (SELECT doc_id,
        |    CAST(len(toks) AS DOUBLE) AS nt,
        |    CAST(len(list_distinct(toks)) AS DOUBLE) AS ndt,
        |    CAST(len(toks) - 1 AS DOUBLE) AS nb,
        |    CAST(len(list_distinct(list_transform(range(len(toks)-1),
        |      i -> toks[i+1] || ' ' || toks[i+2]))) AS DOUBLE) AS ndb
        |  FROM (SELECT doc_id, string_split(text, ' ') AS toks FROM documents)
        |  WHERE len(toks) >= 2),
        |r AS (SELECT doc_id,
        |    ROUND((1.0 - ndt / nt) * 10000) / 10000 AS rep_token,
        |    ROUND((1.0 - ndb / nb) * 10000) / 10000 AS rep_bigram FROM g)
        |SELECT doc_id, rep_token, rep_bigram,
        |  CASE WHEN rep_token > 0.6 OR rep_bigram > 0.08
        |    THEN 1 ELSE 0 END AS flagged
        |FROM r ORDER BY doc_id""".stripMargin,
    "sample_domain_cap" ->
      """WITH d AS (SELECT doc_id, source,
        |    md5(CAST(doc_id AS VARCHAR)) AS skey FROM documents),
        |r AS (SELECT doc_id, source, row_number() OVER (
        |    PARTITION BY source ORDER BY skey, doc_id) AS rk FROM d)
        |SELECT doc_id, source, CAST(rk AS BIGINT) AS rk
        |FROM r WHERE rk <= 10 ORDER BY source, rk""".stripMargin,
    // Integer ceiling factor + range explode; exact copy indices.
    "sample_balanced_oversample" ->
      """WITH d AS (SELECT doc_id, lang FROM documents),
        |cnt AS (SELECT lang, count(*) AS c FROM d GROUP BY lang),
        |mx AS (SELECT max(c) AS mx FROM cnt),
        |f AS (SELECT lang, least((mx + c - 1) // c, 8) AS k
        |  FROM cnt CROSS JOIN mx)
        |SELECT lang, doc_id, CAST(k AS BIGINT) AS k,
        |  CAST(unnest(range(1, k + 1)) AS BIGINT) AS copy_idx
        |FROM d JOIN f USING (lang)
        |ORDER BY lang, doc_id, copy_idx""".stripMargin,
    // Same md5-order rank; the cap is the min per-class count.
    "sample_balanced_undersample" ->
      """WITH d AS (SELECT doc_id, lang,
        |    md5(CAST(doc_id AS VARCHAR)) AS skey FROM documents),
        |mc AS (SELECT min(c) AS m FROM (
        |    SELECT lang, count(*) AS c FROM d GROUP BY lang)),
        |r AS (SELECT doc_id, lang, row_number() OVER (
        |    PARTITION BY lang ORDER BY skey, doc_id) AS rk FROM d)
        |SELECT lang, CAST(rk AS BIGINT) AS rk, doc_id
        |FROM r CROSS JOIN mc WHERE rk <= m ORDER BY lang, rk""".stripMargin,
    // Rebuild via tokens-with-position anti-join + ordered string_agg —
    // a different shape from Spark's index-filter HOF, same answer
    // (both reconstruct from the token array, so split/join roundtrip
    // quirks cancel).
    "dedup_substring_removal" ->
      """WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks
        |  FROM documents),
        |w AS (SELECT doc_id, unnest(range(len(toks) - 7)) AS pos,
        |    unnest(list_transform(range(len(toks) - 7),
        |      i -> array_to_string(toks[i+1:i+8], ' '))) AS w
        |  FROM t WHERE len(toks) >= 8),
        |dup AS (SELECT w FROM w GROUP BY w HAVING count(DISTINCT doc_id) > 1),
        |cov AS (SELECT DISTINCT doc_id, pos + k AS p
        |  FROM w JOIN dup USING (w)
        |  CROSS JOIN (SELECT unnest(range(8)) AS k)),
        |tok AS (SELECT doc_id, unnest(range(len(toks))) AS p,
        |    unnest(toks) AS tk FROM t),
        |clean AS (SELECT tok.doc_id,
        |    string_agg(tk, ' ' ORDER BY tok.p) AS clean_text
        |  FROM tok LEFT JOIN cov ON tok.doc_id = cov.doc_id AND tok.p = cov.p
        |  WHERE cov.p IS NULL GROUP BY tok.doc_id),
        |nr AS (SELECT doc_id, count(*) AS n_removed FROM cov GROUP BY 1)
        |SELECT d.doc_id, coalesce(nr.n_removed, 0) AS n_removed,
        |  coalesce(clean.clean_text, '') AS clean_text
        |FROM documents d LEFT JOIN nr USING (doc_id)
        |LEFT JOIN clean USING (doc_id)
        |ORDER BY d.doc_id""".stripMargin,
    // Exact-decimal Σ√n per the Spark side; the k arithmetic repeats
    // the same double ops in the same order.
    // Same distinct-shingle extraction and min-doc attribution; the
    // novelty division rides the raw (nullable) counts so a
    // shingle-less doc emits NULL in both engines.
    "text_novelty_ratio" ->
      """WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks
        |  FROM documents),
        |sh AS (SELECT DISTINCT doc_id,
        |    unnest(list_transform(range(len(toks) - 4),
        |      i -> array_to_string(toks[i+1:i+5], ' '))) AS sh
        |  FROM t WHERE len(toks) >= 5),
        |fd AS (SELECT sh, min(doc_id) AS first_doc FROM sh GROUP BY sh),
        |per AS (SELECT s.doc_id, count(*) AS n_shingles,
        |    CAST(count_if(fd.first_doc = s.doc_id) AS BIGINT) AS n_novel
        |  FROM sh s JOIN fd USING (sh) GROUP BY s.doc_id)
        |SELECT d.doc_id,
        |  coalesce(per.n_shingles, 0) AS n_shingles,
        |  coalesce(per.n_novel, 0) AS n_novel,
        |  ROUND(CAST(per.n_novel AS DOUBLE)
        |    / CAST(per.n_shingles AS DOUBLE) * 10000) / 10000 AS novelty
        |FROM documents d LEFT JOIN per USING (doc_id)
        |ORDER BY d.doc_id""".stripMargin,
    // Same augmentation, token-anchored regexes, md5-prefix pseudonyms.
    "text_pseudonymize" ->
      """WITH aug AS (SELECT doc_id,
        |  text || CASE WHEN doc_id % 5 = 0
        |      THEN ' contact user' || doc_id || '@example.com now'
        |      ELSE '' END
        |       || CASE WHEN doc_id % 11 = 0
        |      THEN ' call +1-555-' || lpad((doc_id % 1000)::varchar, 3, '0')
        |        || '-0199' ELSE '' END AS text
        |  FROM documents),
        |t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM aug)
        |SELECT doc_id,
        |  CAST(len(list_filter(toks, tk ->
        |    regexp_matches(tk, '^[a-z0-9._%+-]+@[a-z0-9.-]+\.[a-z]{2,}$')
        |    OR regexp_matches(tk, '^\+1-[0-9]{3}-[0-9]{3}-[0-9]{4}$')))
        |    AS BIGINT) AS n_pseudo,
        |  array_to_string(list_transform(toks, tk ->
        |    CASE WHEN regexp_matches(tk,
        |        '^[a-z0-9._%+-]+@[a-z0-9.-]+\.[a-z]{2,}$')
        |      THEN 'EMAIL_' || substr(md5(tk), 1, 8)
        |    WHEN regexp_matches(tk, '^\+1-[0-9]{3}-[0-9]{3}-[0-9]{4}$')
        |      THEN 'PHONE_' || substr(md5(tk), 1, 8)
        |    ELSE tk END), ' ') AS pseudo_text
        |FROM t ORDER BY doc_id""".stripMargin,
    // Same exact token totals; divisions operand-for-operand.
    "sample_mixture_weights" ->
      """WITH d AS (SELECT source, len(string_split(text, ' ')) AS ntok
        |  FROM documents),
        |per AS (SELECT source, count(*) AS n_docs,
        |    CAST(sum(ntok) AS BIGINT) AS n_tokens
        |  FROM d GROUP BY source),
        |tot AS (SELECT CAST(sum(n_tokens) AS BIGINT) AS tot_tokens,
        |    count(*) AS k FROM per)
        |SELECT source, n_docs, n_tokens,
        |  ROUND(CAST(n_tokens AS DOUBLE) / CAST(tot_tokens AS DOUBLE)
        |    * 10000) / 10000 AS token_share,
        |  ROUND(CAST(tot_tokens AS DOUBLE)
        |    / (CAST(k AS DOUBLE) * CAST(n_tokens AS DOUBLE))
        |    * 10000) / 10000 AS weight
        |FROM per CROSS JOIN tot ORDER BY source""".stripMargin,
    // Per-(source, text) groups first — any per-group ntok is the same
    // value (identical text), matching Spark's first().
    "dedup_survivorship_report" ->
      """WITH g AS (SELECT source, text, count(*) AS n,
        |    len(string_split(text, ' ')) AS ntok
        |  FROM documents GROUP BY source, text)
        |SELECT source,
        |  CAST(sum(n) AS BIGINT) AS n_docs,
        |  count(*) AS n_unique,
        |  CAST(sum(n) - count(*) AS BIGINT) AS n_dup_docs,
        |  CAST(sum(ntok * n) AS BIGINT) AS tokens_total,
        |  CAST(sum(ntok) AS BIGINT) AS tokens_after,
        |  ROUND(CAST(sum(n) - count(*) AS DOUBLE) / CAST(sum(n) AS DOUBLE)
        |    * 10000) / 10000 AS dup_ratio
        |FROM g GROUP BY source ORDER BY source""".stripMargin,
    "sample_temperature_mix" ->
      """WITH c AS (SELECT lang, count(*) AS n FROM documents GROUP BY 1),
        |t AS (SELECT SUM(n) AS nn,
        |    SUM(CAST(sqrt(CAST(n AS DOUBLE)) AS DECIMAL(38,8))) AS ss FROM c),
        |k AS (SELECT lang, least(n, CAST(floor(CAST(nn AS DOUBLE)
        |    * sqrt(CAST(n AS DOUBLE)) / CAST(ss AS DOUBLE)) AS BIGINT))
        |    AS k_keep
        |  FROM c CROSS JOIN t),
        |r AS (SELECT doc_id, lang, CAST(row_number() OVER (
        |    PARTITION BY lang ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id)
        |    AS BIGINT) AS rk
        |  FROM documents)
        |SELECT lang, doc_id, rk, k_keep FROM r JOIN k USING (lang)
        |WHERE rk <= k_keep ORDER BY lang, rk""".stripMargin,
    // Same synthetic-URL construction and extract-and-rebuild
    // canonicalization; 'g' on the utm strip (DuckDB regexp_replace is
    // first-match by default) and single-backslash `\?` per the
    // standard-string convention above.
    "text_url_normalize" ->
      """WITH u AS (SELECT doc_id,
        |  (CASE WHEN doc_id % 2 = 0 THEN 'https' ELSE 'http' END) || '://'
        |  || (CASE WHEN doc_id % 3 = 0
        |        THEN upper('site' || (doc_id % 50) || '.example.com')
        |        ELSE 'site' || (doc_id % 50) || '.example.com' END)
        |  || '/a/item' || (doc_id % 20)
        |  || (CASE WHEN doc_id % 4 = 0 THEN '/' ELSE '' END)
        |  || (CASE WHEN doc_id % 5 = 0 THEN '?utm_source=feed&id=' || (doc_id % 10)
        |           WHEN doc_id % 5 = 1 THEN '?id=' || (doc_id % 10)
        |           WHEN doc_id % 5 = 2 THEN '?utm_campaign=x'
        |           ELSE '' END) AS url
        |  FROM documents),
        |p AS (SELECT doc_id, url,
        |    lower(regexp_extract(url, '^https?://([^/?]+)', 1)) AS host,
        |    regexp_replace(regexp_extract(url, '^https?://[^/?]+([^?]*)', 1),
        |      '/$', '') AS path,
        |    regexp_replace(regexp_replace(regexp_extract(url, '\?(.*)$', 1),
        |      'utm_[a-z]+=[^&]*&?', '', 'g'), '&$', '') AS q
        |  FROM u),
        |c AS (SELECT doc_id, url, 'https://' || host || path ||
        |    (CASE WHEN q = '' THEN '' ELSE '?' || q END) AS canon_url
        |  FROM p)
        |SELECT doc_id, url, canon_url,
        |  CASE WHEN row_number() OVER (PARTITION BY canon_url
        |    ORDER BY doc_id) = 1 THEN 1 ELSE 0 END AS keep
        |FROM c ORDER BY doc_id""".stripMargin,
    "pipeline_dataset_card" ->
      """SELECT source, lang, count(*) AS n_docs,
        |  CAST(SUM(CAST(len(string_split(text, ' ')) AS BIGINT)) AS BIGINT) AS n_tokens,
        |  count(DISTINCT md5(text)) AS n_unique_texts,
        |  ROUND(CAST(SUM(CAST(len(string_split(text, ' ')) AS BIGINT))
        |      AS DOUBLE) / count(*) * 10000) / 10000 AS avg_tokens
        |FROM documents GROUP BY source, lang
        |ORDER BY source, lang""".stripMargin
  )
}
