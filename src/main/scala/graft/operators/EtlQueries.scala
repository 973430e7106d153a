package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables.{t, events, epochDay}
import graft.Det.{dsum, r4d, sqlEpochDay, sqlSum}

/** §2.20 ETL mutation & history operators (SURVEY.md, round-5
  * amendment): the two mutation-shaped staples of an ETL engine that
  * the relational §2.2–§2.6 surface doesn't express directly —
  * MERGE/upsert semantics (no transactional table format in scope, so
  * the engine composes it the canonical Spark way: full-outer join +
  * per-branch resolution, producing the post-merge snapshot a sink
  * would atomically swap in) and change-history derivation
  * (gaps-and-islands: maximal runs of unchanged state per key, the
  * primitive under SCD-type-2 validity ranges).
  *
  * Scale: the upsert is ONE key-equi full-outer join (AQE handles a
  * skewed/small side; at 100 TB both sides bucket on the merge key and
  * the join is exchange-free like scan_bucket_join). Islands use a
  * user_id-partitioned window — per-key state, no global ordering
  * anywhere.
  */
object EtlQueries {
  type Q = (SparkSession, String) => DataFrame

  /** The customer table and its synthetic next snapshot, full-outer
    * joined on the key: (key, o_name, o_seg, o_bal, n_name, n_seg,
    * n_bal). The next snapshot deletes mod-13 keys, bumps mod-7
    * balances, moves mod-21 segments and re-inserts mod-11 keys
    * under −key−1, so every diff branch is live at every SF. */
  private def snapshotPair(s: SparkSession, dir: String): DataFrame = {
    val base = t(s, dir, "customer")
      .select(col("c_custkey").as("key"), col("c_name").as("name"),
        col("c_mktsegment").as("seg"), col("c_acctbal").as("bal"))
    val nw = base.filter(pmod(col("key"), lit(13)) =!= 0)
      .select(col("key"), col("name"),
        when(pmod(col("key"), lit(21)) === 0, lit("MOVED"))
          .otherwise(col("seg")).as("seg"),
        when(pmod(col("key"), lit(7)) === 0, col("bal") + 100.0)
          .otherwise(col("bal")).as("bal"))
      .unionAll(base.filter(pmod(col("key"), lit(11)) === 0)
        .select((-col("key") - 1).as("key"),
          concat(lit("new-"), col("key").cast("string")).as("name"),
          col("seg"), col("bal")))
    val o = base.select(col("key"), col("name").as("o_name"),
      col("seg").as("o_seg"), col("bal").as("o_bal"))
    val n = nw.select(col("key"), col("name").as("n_name"),
      col("seg").as("n_seg"), col("bal").as("n_bal"))
    o.join(n, Seq("key"), "full_outer")
  }

  val queries: Map[String, Q] = Map(
    // OBSERVED DATA-QUALITY METRICS (§2.205) — Spark's Observation /
    // CollectMetrics machinery: metrics piggyback on a production
    // pass over the data (one CollectMetrics node in the plan, partial
    // aggregation map-side — NO second scan, no separate DQ job),
    // delivered to the driver through the observation listener. The
    // declared key runs the observed pass at plan-construction time
    // (the countmin/KMeans bounded-driver-state precedent) and
    // returns the metric row itself, so the DuckDB oracle verifies
    // the values that traveled the LISTENER path — a wrong partial
    // merge or a dropped metric hash-fails. At 100 TB this is how DQ
    // gates run free on top of an existing job instead of doubling
    // the scan.
    "etl_observe_metrics" -> ((s, dir) => {
      import s.implicits._
      val obs = org.apache.spark.sql.Observation()
      t(s, dir, "lineitem").observe(obs,
          count(lit(1)).as("n_rows"),
          sum(when(col("l_discount") > 0.06, 1L).otherwise(0L))
            .as("n_high_discount"),
          count(when(col("l_quantity").isNull, 1L)).as("n_null_qty"),
          min(col("l_shipdate").cast("date")).cast("string")
            .as("min_shipdate"))
        .count()
      val m = obs.get
      Seq((m("n_rows").asInstanceOf[Long],
          m("n_high_discount").asInstanceOf[Long],
          m("n_null_qty").asInstanceOf[Long],
          m("min_shipdate").asInstanceOf[String]))
        .toDF("n_rows", "n_high_discount", "n_null_qty", "min_shipdate")
    }),

    // MERGE INTO semantics without a table format: base = customer,
    // updates = per-customer order spend where 10% of keys are remapped
    // to ids OUTSIDE the base domain (the INSERT branch — order keys
    // are otherwise a subset of customer keys and the
    // not-matched-by-source branch would be vacuous). The remap is
    // NEGATION (−key − 1), not an offset: custkeys are non-negative at
    // every scale factor, so a negative id can never collide with a
    // real customer — an offset like +1e6 would silently turn inserts
    // into wrong-row updates once keys outgrow it, and the oracle
    // (same arithmetic) couldn't catch it. when-matched → updated balance;
    // when-not-matched-by-source → row kept verbatim; when-not-matched
    // → inserted with a synthesized name. `op` tags the branch so the
    // oracle pins each path's row count, not just the union.
    "etl_upsert_type1" -> ((s, dir) => {
      val base = t(s, dir, "customer")
        .select(col("c_custkey").as("key"), col("c_name").as("name"),
          col("c_acctbal").as("acctbal"))
      val upd = t(s, dir, "orders")
        .groupBy(col("o_custkey"))
        .agg(dsum(col("o_totalprice")).as("spend"))
        .select(when(pmod(col("o_custkey"), lit(10)) === 0,
            -col("o_custkey") - 1).otherwise(col("o_custkey")).as("key"),
          col("spend"))
      base.join(upd, Seq("key"), "full_outer")
        .select(col("key"),
          coalesce(col("name"),
            concat(lit("new-"), col("key").cast("string"))).as("name"),
          when(col("spend").isNull, col("acctbal"))
            .otherwise(r4d(col("spend") / 100.0)).as("acctbal"),
          when(col("spend").isNull, lit("keep"))
            .when(col("name").isNull, lit("insert"))
            .otherwise(lit("update")).as("op"))
        .orderBy("key")
    }),

    // Gaps-and-islands: per user, maximal runs of consecutive events
    // with the SAME event_type (ordered by ms, event_id) — the
    // change-detection primitive under SCD2 validity ranges and state
    // timelines. lag() flags changes (first row flags 1 via null
    // semantics), a running sum numbers islands, and one grouped agg
    // emits each island's span and size.
    "etl_gaps_islands" -> ((s, dir) => {
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("ms"), col("event_id"))
      val e = events(s, dir).select(col("user_id"), col("event_id"),
        col("event_type"),
        unix_millis(col("ts").cast("timestamp")).as("ms"))
      e.withColumn("chg",
          when(lag(col("event_type"), 1).over(w) === col("event_type"), 0)
            .otherwise(1))
        .withColumn("island", sum(col("chg"))
          .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        .groupBy(col("user_id"), col("island"), col("event_type"))
        .agg(count(lit(1)).as("n_events"), min(col("ms")).as("start_ms"),
          max(col("ms")).as("end_ms"))
        .orderBy("user_id", "island")
    }),

    // SCD Type-2 history build (the round-5 verdict's ranked ask #2): the
    // gaps-islands change runs above, composed one window further into
    // validity intervals — per user, each maximal run of the same
    // event_type becomes a versioned history row with
    // [effective_from, effective_to) bounds and an is_current flag
    // (effective_to = next version's effective_from via lead(); NULL =
    // open interval = current). This is the standard warehouse Type-2
    // shape: an upsert against it closes the current row and appends the
    // new version — exactly what `etl_upsert_type1` + this key compose
    // to.
    //
    // Scale: both windows and the island agg partition by user_id only —
    // per-key state, no global ordering; ONE shuffle on user_id serves
    // the change-flag window, the island agg, and the lead() window
    // (same partitioning reused across stages).
    "etl_scd2_history" -> ((s, dir) => {
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("ms"), col("event_id"))
      val wv = Window.partitionBy(col("user_id")).orderBy(col("version"))
      val e = events(s, dir).select(col("user_id"), col("event_id"),
        col("event_type"),
        unix_millis(col("ts").cast("timestamp")).as("ms"))
      e.withColumn("chg",
          when(lag(col("event_type"), 1).over(w) === col("event_type"), 0)
            .otherwise(1))
        .withColumn("version", sum(col("chg"))
          .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        .groupBy(col("user_id"), col("version"),
          col("event_type").as("state"))
        .agg(min(col("ms")).as("effective_from"),
          count(lit(1)).as("n_events"))
        .withColumn("effective_to",
          lead(col("effective_from"), 1).over(wv))
        .withColumn("is_current",
          when(col("effective_to").isNull, 1L).otherwise(0L))
        .select(col("user_id"), col("version"), col("state"),
          col("effective_from"), col("effective_to"), col("is_current"),
          col("n_events"))
        .orderBy("user_id", "version")
    }),

    // INCREMENTAL SCD2 apply — the production form of the key above: a
    // nightly batch does NOT re-window history, it reads the stored
    // Type-2 table and applies only the new change slice. Composition:
    // split the log at a cutoff (median timestamp here, a broadcast
    // one-row agg); build history for the old slice; collapse each
    // user's OPEN row into one weighted synthetic event (state,
    // effective_from, weight = n_events — all an apply step needs from
    // stored history); re-run gaps-islands over synthetic + new events
    // only; renumber by the open row's version offset; closed rows pass
    // through untouched. The oracle is the FULL-recompute CTE (same SQL
    // as etl_scd2_history): incremental ≡ recompute is exactly the
    // equivalence a production apply job must guarantee, and here the
    // driver's hash compare pins it every round.
    //
    // Scale: closed history never re-shuffles beyond the final lead()
    // window; the island re-window runs over open-rows + the new batch
    // only (O(batch) rows, not O(history)); everything stays under the
    // one user_id partitioning.
    "etl_scd2_incremental" -> ((s, dir) => {
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("ms"), col("event_id"))
      val wv = Window.partitionBy(col("user_id")).orderBy(col("version"))
      val run = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val e = events(s, dir).select(col("user_id"), col("event_id"),
        col("event_type"),
        unix_millis(col("ts").cast("timestamp")).as("ms"))
      val bounds = e.agg(((min(col("ms")) + max(col("ms"))) / 2)
        .cast("long").as("cut"))
      val ec = e.crossJoin(broadcast(bounds))
      val old = ec.filter(col("ms") <= col("cut")).drop("cut")
      val fresh = ec.filter(col("ms") > col("cut")).drop("cut")
      val hist = old
        .withColumn("chg",
          when(lag(col("event_type"), 1).over(w) === col("event_type"), 0)
            .otherwise(1))
        .withColumn("version", sum(col("chg")).over(run))
        .groupBy(col("user_id"), col("version"),
          col("event_type").as("state"))
        .agg(min(col("ms")).as("effective_from"),
          count(lit(1)).as("n_events"))
        .withColumn("vmax",
          max(col("version")).over(Window.partitionBy(col("user_id"))))
      val open = hist.filter(col("version") === col("vmax"))
      val closed = hist.filter(col("version") =!= col("vmax"))
        .select(col("user_id"), col("version"), col("state"),
          col("effective_from"), col("n_events"))
      val synth = open.select(col("user_id"), lit(-1L).as("event_id"),
        col("state").as("event_type"), col("effective_from").as("ms"),
        col("n_events").as("wt"))
      val replay = synth.unionByName(fresh.withColumn("wt", lit(1L)))
        .withColumn("chg",
          when(lag(col("event_type"), 1).over(w) === col("event_type"), 0)
            .otherwise(1))
        .withColumn("island", sum(col("chg")).over(run))
        .groupBy(col("user_id"), col("island"),
          col("event_type").as("state"))
        .agg(min(col("ms")).as("effective_from"),
          sum(col("wt")).as("n_events"))
      val voff = open.select(col("user_id"), (col("version") - 1).as("voff"))
      val rec = replay.join(voff, Seq("user_id"), "left")
        .select(col("user_id"),
          (col("island") + coalesce(col("voff"), lit(0L))).as("version"),
          col("state"), col("effective_from"), col("n_events"))
      closed.unionByName(rec)
        .withColumn("effective_to",
          lead(col("effective_from"), 1).over(wv))
        .withColumn("is_current",
          when(col("effective_to").isNull, 1L).otherwise(0L))
        .select(col("user_id"), col("version"), col("state"),
          col("effective_from"), col("effective_to"), col("is_current"),
          col("n_events"))
        .orderBy("user_id", "version")
    }),

    // CDC APPLY — the log-structured cousin of etl_upsert_type1's
    // two-table MERGE: the input is a CHANGE LOG (op ∈ {U, D} tagged,
    // versioned, many entries per key) and only each key's LATEST entry
    // may touch the snapshot — upsert resolves two current states, CDC
    // apply first resolves the log against itself. Orders stand in for
    // the log (o_orderkey = the monotone version; %7 entries are
    // deletes, %10 custkeys remap negative so the insert branch is
    // non-vacuous, the upsert key's device). Latest-wins is a
    // max(struct(version, …)) partial agg — ONE key shuffle, no window,
    // map-side combine shrinks each partition to one row per key before
    // the exchange (the right shape when a day's CDC log has 10⁹
    // entries over 10⁶ hot keys); then one full-outer join applies it.
    "etl_cdc_apply" -> ((s, dir) => {
      val base = t(s, dir, "customer")
        .select(col("c_custkey").as("key"), col("c_name").as("name"),
          col("c_acctbal").as("acctbal"))
      // Log derivation AND the latest-wins collapse are the shared Cdc
      // core (also behind stream_cdc_apply and CdcStreamSpec) — the
      // tie-break semantic has one definition, so the surfaces cannot
      // drift.
      val latest = Cdc.latest(Cdc.log(t(s, dir, "orders")))
      base.join(latest, Seq("key"), "full_outer")
        .filter(col("op").isNull || col("op") =!= "D")
        .select(col("key"),
          coalesce(col("name"),
            concat(lit("new-"), col("key").cast("string"))).as("name"),
          when(col("op") === "U", col("new_bal"))
            .otherwise(col("acctbal")).as("acctbal"),
          when(col("op").isNull, "keep")
            .when(col("acctbal").isNull, "insert")
            .otherwise("update").as("action"),
          col("version"))
        .orderBy("key")
    }),

    // DATA-QUALITY REPORT — the Deequ/dbt-test staple: run a suite of
    // declared checks (not-null, value range, key uniqueness,
    // referential integrity, plus a passing control) over a landed
    // batch and emit one row per check with violation counts and a
    // pass/fail verdict. The fixture is clean by construction, so a
    // DIRTY batch derives deterministically from orders (the
    // text_pii_scrub convention — every check non-vacuous at every
    // SF): mod-37 statuses nulled, mod-41 prices negated, mod-43 keys
    // collided onto their predecessor, mod-31 custkeys negated (an id
    // no customer can have → FK orphans). Cost shape: the four scalar
    // checks are ONE map-side CASE-count aggregation pass; uniqueness
    // is count − countDistinct in the same pass; only the FK check
    // joins (left-anti against the broadcast-able key side) — a 100 TB
    // DQ suite costs one scan plus one semi-structured join, not one
    // pass per check.
    "etl_dq_report" -> ((s, dir) => {
      val k = col("o_orderkey")
      val dirty = t(s, dir, "orders").select(
        when(pmod(k, lit(43)) === 0, k - 1).otherwise(k).as("key"),
        when(pmod(k, lit(31)) === 0, -col("o_custkey") - 1)
          .otherwise(col("o_custkey")).as("cust"),
        when(pmod(k, lit(37)) === 0, lit(null).cast("string"))
          .otherwise(col("o_orderstatus")).as("status"),
        when(pmod(k, lit(41)) === 0, -col("o_totalprice"))
          .otherwise(col("o_totalprice")).as("price"))
      val orphans = dirty.join(t(s, dir, "customer")
          .select(col("c_custkey")), col("cust") === col("c_custkey"),
          "left_anti")
        .agg(count(lit(1)).as("v")).select(lit("fk_cust_exists").as("check"),
          col("v").as("n_violations"))
      val scalars = dirty.agg(
        count(lit(1)).as("n"),
        sum(when(col("status").isNull, 1L).otherwise(0L)).as("v_null"),
        sum(when(col("price") < 0, 1L).otherwise(0L)).as("v_range"),
        (count(lit(1)) - countDistinct(col("key"))).as("v_dup"),
        sum(when(col("cust").isNull, 1L).otherwise(0L)).as("v_cust"))
      val rep = scalars.select(explode(map(
          lit("status_not_null"), col("v_null"),
          lit("price_non_negative"), col("v_range"),
          lit("key_unique"), col("v_dup"),
          lit("cust_not_null"), col("v_cust"))).as(Seq("check", "n_violations")))
        .unionByName(orphans)
      val n = dirty.agg(count(lit(1)).as("n_rows"))
      rep.crossJoin(broadcast(n))
        .select(col("check"), col("n_violations"), col("n_rows"),
          when(col("n_violations") === 0, "pass").otherwise("fail")
            .as("status"))
        .orderBy("check")
    }),

    // SNAPSHOT DIFF — the reconciliation report between two versions of
    // a table (last night's landing vs today's): which keys were added,
    // removed, or changed, and for changed rows WHICH columns moved.
    // The new snapshot is derived deterministically from the original
    // (the upsert convention, all four branches live at every SF):
    // mod-13 keys deleted, mod-7 balances bumped, mod-21 segments
    // moved (⊂ mod-7 → multi-column change rows exist), mod-11 keys
    // re-inserted under the negation device (−key−1 can never collide
    // with a real key). One key-equi full-outer join + map-side
    // column-by-column IS DISTINCT FROM comparison; unchanged rows are
    // dropped so the output is the delta, not the table. At 100 TB both
    // snapshots bucket on the key and the join is exchange-free; the
    // changed-column list is concat_ws over per-column null-safe
    // comparisons — no UDF, no second pass.
    "etl_snapshot_diff" -> ((s, dir) => {
      val diffName = !(col("o_name") <=> col("n_name"))
      val diffSeg = !(col("o_seg") <=> col("n_seg"))
      val diffBal = !(col("o_bal") <=> col("n_bal"))
      snapshotPair(s, dir)
        .withColumn("change_type",
          when(col("o_name").isNull, "added")
            .when(col("n_name").isNull, "removed")
            .when(diffName || diffSeg || diffBal, "changed")
            .otherwise("same"))
        .filter(col("change_type") =!= "same")
        .select(col("key"), col("change_type"),
          concat_ws(",",
            when(col("change_type") === "changed" && diffName, "name"),
            when(col("change_type") === "changed" && diffSeg, "seg"),
            when(col("change_type") === "changed" && diffBal, "bal"))
            .as("changed_cols"),
          col("o_bal"), col("n_bal"))
        .orderBy("key")
    }),

    // POINT-IN-TIME (as-of-history) JOIN — the lookup every SCD2 table
    // exists FOR: credit each fact to the dimension version that was
    // valid AT the fact's time, not the current one. State log = the
    // non-purchase events (the user's browsing state timeline, built
    // into [effective_from, effective_to) versions with the
    // etl_scd2_history windowing); facts = purchases. A purchase
    // matches version v iff eff_from ≤ ms and (eff_to IS NULL or
    // ms < eff_to) — the half-open convention makes the match UNIQUE
    // by construction (versions partition the timeline from the first
    // state event). LEFT join: purchases before any state event (or
    // from state-less users) surface as state='none', version=0
    // rather than vanishing — the miss path an audit needs to see.
    //
    // Scale: Spark extracts the user_id equality as the join key, so
    // this is a plain hash/sort-merge EQUI join with the interval
    // predicate as residual filter (pinned in PlanAuditSpec — NOT a
    // nested-loop over facts × history); the per-key blowup is
    // bounded by that user's version count. Both windows and the
    // fact join share the one user_id partitioning. At 100 TB the
    // history side buckets on user_id like scan_bucket_join and the
    // probe is exchange-free.
    "etl_pit_join" -> ((s, dir) => {
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("ms"), col("event_id"))
      val e = events(s, dir).select(col("user_id"), col("event_id"),
        col("event_type"),
        unix_millis(col("ts").cast("timestamp")).as("ms"))
      val hist = e.filter(col("event_type") =!= "purchase")
        .withColumn("chg",
          when(lag(col("event_type"), 1).over(w) === col("event_type"), 0)
            .otherwise(1))
        .withColumn("version", sum(col("chg"))
          .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        .groupBy(col("user_id").as("h_uid"), col("version"),
          col("event_type").as("state"))
        .agg(min(col("ms")).as("eff_from"))
        .withColumn("eff_to", lead(col("eff_from"), 1)
          .over(Window.partitionBy(col("h_uid")).orderBy(col("version"))))
      val facts = e.filter(col("event_type") === "purchase")
        .select(col("user_id"), col("event_id"), col("ms"))
      facts.join(hist,
          facts("user_id") === hist("h_uid")
            && facts("ms") >= hist("eff_from")
            && (hist("eff_to").isNull || facts("ms") < hist("eff_to")),
          "left")
        .select(col("event_id"), col("user_id"), col("ms"),
          coalesce(col("state"), lit("none")).as("state"),
          coalesce(col("version"), lit(0L)).as("version"))
        .orderBy("event_id")
    }),

    // REFERENTIAL-INTEGRITY (FK orphan) AUDIT — the cross-TABLE data-
    // quality check etl_dq_report's single-table rules don't cover:
    // per foreign-key relation, how many fact rows point at a missing
    // dimension row. The fixture's integrity holds by construction,
    // so orphans are INJECTED deterministically (mod-19/23/29 key
    // negation — the etl_upsert convention: negatives can never
    // collide with real keys, and the oracle replays the same
    // corruption) so every relation's count is live at every SF.
    //
    // Scale: ONE pass over the fact table — all three dims join as
    // broadcast key-lists in the same stage and the three orphan
    // counts come out of a single partial-aggregating count, then
    // stack() reshapes the one-row result map-side. An anti-join per
    // relation would scan the fact table three times. At 100 TB a
    // non-broadcastable dim (orders here) swaps its leg for the
    // join_bloom_prebuilt shape: bloom prefilter + exact confirm on
    // the survivors, same one-scan audit.
    "etl_orphan_audit" -> ((s, dir) => {
      val li = t(s, dir, "lineitem").select(
        when(pmod(col("l_orderkey"), lit(19)) === 0, -col("l_partkey") - 1)
          .otherwise(col("l_partkey")).as("fk_part"),
        when(pmod(col("l_orderkey"), lit(23)) === 0, -col("l_suppkey") - 1)
          .otherwise(col("l_suppkey")).as("fk_supp"),
        when(pmod(col("l_orderkey"), lit(29)) === 0, -col("l_orderkey") - 1)
          .otherwise(col("l_orderkey")).as("fk_order"))
      val joined = li
        .join(broadcast(t(s, dir, "part").select(col("p_partkey"))),
          col("fk_part") === col("p_partkey"), "left")
        .join(broadcast(t(s, dir, "supplier").select(col("s_suppkey"))),
          col("fk_supp") === col("s_suppkey"), "left")
        .join(broadcast(t(s, dir, "orders").select(col("o_orderkey"))),
          col("fk_order") === col("o_orderkey"), "left")
      joined.agg(count(lit(1)).as("n_rows"),
          count(when(col("p_partkey").isNull, 1)).as("o_part"),
          count(when(col("s_suppkey").isNull, 1)).as("o_supp"),
          count(when(col("o_orderkey").isNull, 1)).as("o_ord"))
        .select(expr("stack(3, 'lineitem->part', o_part, " +
            "'lineitem->supplier', o_supp, 'lineitem->orders', o_ord) " +
            "AS (relation, n_orphans)"),
          col("n_rows"))
        .select(col("relation"), col("n_rows"), col("n_orphans"),
          r4d(col("n_orphans") / col("n_rows")).as("orphan_pct"))
        .orderBy("relation")
    }),

    // FK REPAIR VIA UNKNOWN MEMBER (§2.79) — the remediation step
    // downstream of etl_orphan_audit (same corrupted-FK convention:
    // every 19th order's part key is broken): facts whose part FK
    // resolves nowhere are remapped to the classic data-warehouse
    // sentinel dimension row (key −1, brand 'UNKNOWN') instead of
    // being dropped — revenue totals stay complete, and the UNKNOWN
    // row's share IS the data-quality metric. One broadcast left
    // join; coalesce does the repair; per-brand rollup with exact
    // decimal revenue. A dropped-row repair would silently shrink
    // the fact table — the bug this operator exists to prevent.
    // SURROGATE-KEY ASSIGNMENT (§2.85) — the dimension-build step
    // every warehouse load runs: dense, gapless, deterministic
    // surrogate ids for the distinct (part, supplier) pairs observed
    // in the fact table, ordered by natural key. The ranking runs
    // through GlobalRank.runningSum of ones over the DISTINCT-pair
    // table — row_number over a global order WITHOUT the
    // single-partition window collapse (a 10⁹-pair dim at 100 TB
    // still ranks in parallel: range-partition, per-partition counts,
    // O(partitions) offsets to the driver, map-side add). The fact
    // count rides along from the same reduce.
    "etl_surrogate_keys" -> ((s, dir) => {
      val pairs = t(s, dir, "lineitem")
        .groupBy(col("l_partkey"), col("l_suppkey"))
        .agg(count(lit(1)).as("n_facts"))
        .withColumn("one", lit(1L))
      graft.plans.GlobalRank
        .runningSum(pairs, Seq("l_partkey", "l_suppkey"), "one", "sk")
        .select(col("sk"), col("l_partkey"), col("l_suppkey"),
          col("n_facts"))
        .orderBy("sk")
    }),

    "etl_fk_repair" -> ((s, dir) => {
      val li = t(s, dir, "lineitem").select(
        when(pmod(col("l_orderkey"), lit(19)) === 0, -col("l_partkey") - 1)
          .otherwise(col("l_partkey")).as("fk_part"),
        col("l_extendedprice"))
      li.join(broadcast(t(s, dir, "part")
            .select(col("p_partkey"), col("p_brand"))),
          col("fk_part") === col("p_partkey"), "left")
        .select(coalesce(col("p_brand"), lit("UNKNOWN")).as("brand"),
          col("p_partkey").isNull.as("repaired"),
          col("l_extendedprice"))
        .groupBy("brand")
        .agg(count(lit(1)).as("n_lines"),
          count_if(col("repaired")).as("n_repaired"),
          dsum(col("l_extendedprice")).as("revenue"))
        .orderBy("brand")
    }),

    // PARTITION PROFILE — the per-day health row a data-observability
    // system diffs after every load (row count, distinct entities,
    // value mass, id range): drops, duplicates, schema-level rot and
    // late loads all surface as profile deltas before any consumer
    // breaks. One exact pass: counts and id ranges are integers, the
    // value mass rides Det.dsum, the distinct-user count is the exact
    // declared form (the HLL sketch key is the open-cardinality swap).
    // Scale: one (day)-keyed two-phase agg; distinct-user is the one
    // expand, bounded by |users| per day.
    "etl_partition_profile" -> ((s, dir) => {
      events(s, dir)
        .select(epochDay("ts").as("day"), col("user_id"),
          col("event_id"), col("value"))
        .groupBy("day")
        .agg(count(lit(1)).as("n_rows"),
          countDistinct(col("user_id")).as("n_users"),
          dsum(col("value")).as("sum_value"),
          min(col("event_id")).as("min_event_id"),
          max(col("event_id")).as("max_event_id"))
        .orderBy("day")
    }),

    // INCREMENTAL AGGREGATE MAINTENANCE — the stored-partials pattern
    // that keeps a 100 TB daily rollup current without re-scanning
    // history: the corpus splits at the midpoint day into a "stored"
    // half and an arriving "delta", each reduces to per-(type, day)
    // partials INDEPENDENTLY, and the serving table is the MERGE of
    // the two partial sets — the same mergeable-aggregate discipline
    // the sketch tables use (SURVEY §2.26), here with exact counts and
    // decimal sums. Load-bearing detail: the partial money sums stay
    // UNROUNDED decimal(38,6) through the merge and round once at the
    // edge — rounding partials first would break the merge identity
    // (merged ≠ full recompute) in the last decimal place.
    //
    // Scale: each half is one partial-aggregating exchange over its
    // slice; the merge is an exchange over |types|×|days| partial
    // rows — never the corpus. In production the "stored" side is a
    // table read, not a re-scan; the oracle IS the full recompute, so
    // the driver gate proves merge ≡ recompute.
    "etl_incremental_agg_merge" -> ((s, dir) => {
      val e = events(s, dir).select(col("event_type"),
        epochDay("ts").as("day"), col("value"))
      val cut = broadcast(e.groupBy().agg(
        expr("min(day) + (max(day) - min(day)) div 2").as("cut")))
      val ec = e.crossJoin(cut)
      def part(f: org.apache.spark.sql.Column) = ec.filter(f)
        .groupBy("event_type", "day")
        .agg(count(lit(1)).as("n"),
          sum(col("value").cast(graft.Det.D)).as("sv"))
      part(col("day") <= col("cut"))
        .unionByName(part(col("day") > col("cut")))
        .groupBy("event_type", "day")
        .agg(sum(col("n")).as("n"),
          round(sum(col("sv")), 4).cast("double").as("sum_value"))
        .orderBy("event_type", "day")
    }),

    // SCD TYPE 3 — the "current + one previous" dimension shape
    // completing the slowly-changing family (type 1 = overwrite
    // [etl_upsert_type1], type 2 = full history [etl_scd2_history];
    // type 3 is what dashboards use when ONE look-back column answers
    // "what changed" without a history join). Tracked attribute: each
    // user's activity state = the event_type of their latest run under
    // the gaps-islands change rule. The last island is the current
    // value, the one before it the prev column, the island count the
    // change counter.
    //
    // Scale: ONE user_id exchange end to end — the change flag, the
    // island numbering, the per-island agg (clustering (user, island)
    // is satisfied by the user_id partitioning), the island-ordered
    // lag AND the final filter all ride it; no second shuffle, no
    // join.
    "etl_scd3_prev_value" -> ((s, dir) => {
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("ms"), col("event_id"))
      val st = events(s, dir)
        .select(col("user_id"), col("event_id"), col("event_type"),
          unix_millis(col("ts").cast("timestamp")).as("ms"))
        .withColumn("chg",
          when(lag(col("event_type"), 1).over(w).isNull ||
            col("event_type") =!= lag(col("event_type"), 1).over(w), 1L)
            .otherwise(0L))
        .withColumn("island", sum(col("chg")).over(
          w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      val isl = st.groupBy(col("user_id"), col("island"))
        .agg(min(col("ms")).as("start_ms"),
          max(col("event_type")).as("state")) // constant within island
      val wi = Window.partitionBy(col("user_id")).orderBy(col("island"))
      isl
        .withColumn("prev_state", lag(col("state"), 1).over(wi))
        .withColumn("nmax",
          max(col("island")).over(Window.partitionBy(col("user_id"))))
        .filter(col("island") === col("nmax"))
        .select(col("user_id"), col("state").as("cur_state"),
          col("start_ms").as("cur_since_ms"), col("prev_state"),
          col("nmax").as("n_changes"))
        .orderBy("user_id")
    }),

    // FK CONTAINMENT PROFILE — the schema-discovery statistic behind
    // "which column references which": for each candidate (child,
    // parent) pair, |distinct(child) ∩ distinct(parent)| /
    // |distinct(child)| plus the cardinality ratio — containment ≈ 1
    // with |child-distinct| ≤ |parent-distinct| is the FK signature
    // profilers flag (etl_orphan_audit then VERIFIES a declared FK
    // row-by-row; this key DISCOVERS candidates from data alone — the
    // two halves of referential tooling). A deliberate NON-key pair
    // (l_quantity vs p_partkey) anchors the negative reading. Each
    // side collapses to its distinct set FIRST (partial-agg
    // exchanges); the intersection is a semi join of slim key sets —
    // never a row-level join.
    // COMPOSITE PK AUDIT (§2.197) — uniqueness over MULTI-column
    // keys, which the single-key audit can't see: the
    // (l_orderkey, l_linenumber) composite that is lineitem's real
    // primary key, alongside two single-key calibration rows. Per
    // key: rows, distinct tuples, duplicate rows, and the exact
    // is_unique verdict. Distinct-count reduces only.
    "etl_composite_pk_audit" -> ((s, dir) => {
      val li = t(s, dir, "lineitem")
      def row(name: String, d: DataFrame, n: org.apache.spark.sql.Column) =
        d.agg(count(lit(1)).as("n_rows"), n.as("n_distinct"))
          .select(lit(name).as("key_name"), col("n_rows"),
            col("n_distinct"),
            (col("n_rows") - col("n_distinct")).as("n_dup_rows"),
            (col("n_rows") === col("n_distinct")).as("is_unique"))
      row("lineitem(l_orderkey,l_linenumber)", li,
          countDistinct(col("l_orderkey"), col("l_linenumber")))
        .unionByName(row("lineitem(l_orderkey)", li,
          countDistinct(col("l_orderkey"))))
        .unionByName(row("events(event_id)", events(s, dir),
          countDistinct(col("event_id"))))
        .orderBy("key_name")
    }),

    // PARTITION VOLUME ANOMALY (§2.192) — the ingest-volume monitor
    // on the month axis: per order month, row count flagged against
    // the median ± 3·MAD band, with BOTH the median and the MAD
    // taken as sorted-list middle elements over the bounded month
    // grid — exact integers end to end, no float robust statistics.
    // The "did May silently half-load" check a mean/σ monitor
    // misses when the outlier itself pollutes the mean.
    "etl_partition_volume_anomaly" -> ((s, dir) => {
      val m = t(s, dir, "orders")
        .select((year(col("o_orderdate").cast("date")) * 100
          + month(col("o_orderdate").cast("date"))).cast("long")
          .as("month_key"))
        .groupBy("month_key").agg(count(lit(1)).as("n_rows"))
      val med = m.agg(
        element_at(array_sort(collect_list(col("n_rows"))),
          (count(lit(1)) / 2 + 1).cast("int")).as("med"),
        count(lit(1)).as("n_months"))
      val mad = m.crossJoin(broadcast(med))
        .select(abs(col("n_rows") - col("med")).as("dev"),
          col("med"), col("n_months"))
        .agg(element_at(array_sort(collect_list(col("dev"))),
          (count(lit(1)) / 2 + 1).cast("int")).as("mad"),
          max(col("med")).as("med"),
          max(col("n_months")).as("n_months"))
      m.crossJoin(broadcast(mad))
        .select(col("month_key"), col("n_rows"), col("med"),
          col("mad"),
          (abs(col("n_rows") - col("med")) > lit(3L) * col("mad"))
            .as("is_anomaly"))
        .orderBy("month_key")
    }),

    // SLA ATTAINMENT (§2.188) — the fulfilment promise scoreboard:
    // per order priority, the share of orders whose FIRST line
    // shipped within 30 days of ordering (exact integer day lead ≤
    // 30 — no float in the test), plus the violation count. The
    // management-facing reduction of etl_order_to_ship_latency's
    // percentile profile. One keyed min + one FK join + one reduce.
    "etl_sla_attainment" -> ((s, dir) => {
      val firstShip = t(s, dir, "lineitem")
        .groupBy(col("l_orderkey"))
        .agg(min(epochDay("l_shipdate")).as("sd"))
      t(s, dir, "orders")
        .select(col("o_orderkey").as("l_orderkey"),
          col("o_orderpriority"), epochDay("o_orderdate").as("od"))
        .join(firstShip, Seq("l_orderkey"))
        .select(col("o_orderpriority"),
          ((col("sd") - col("od")) <= 30).cast("long").as("ok"))
        .groupBy("o_orderpriority")
        .agg(count(lit(1)).as("n_orders"), sum(col("ok")).as("n_met"))
        .select(col("o_orderpriority"), col("n_orders"),
          col("n_met"), (col("n_orders") - col("n_met"))
            .as("n_violations"),
          r4d(col("n_met").cast("double")
            / col("n_orders").cast("double")).as("attainment"))
        .orderBy("o_orderpriority")
    }),

    // MONTHLY PARTITION CHECKSUMS (§2.185) — etl_table_checksum's
    // device on the TIME axis: per order month, row count, distinct
    // row-hash count, and the min/max row hashes — the
    // per-partition reconciliation manifest an incremental sync
    // diffs against the source to find WHICH month drifted, instead
    // of re-scanning the table. Hash inputs are the canonical
    // pipe-joined column encoding with cents-exact price; one keyed
    // reduce over the bounded month grid.
    "etl_partition_checksum_monthly" -> ((s, dir) => {
      val rh = md5(concat_ws("|",
        col("o_orderkey"), col("o_custkey"), col("o_orderstatus"),
        round(col("o_totalprice") * 100).cast("long"))
        .cast("binary"))
      t(s, dir, "orders")
        .select((year(col("o_orderdate").cast("date")) * 100
          + month(col("o_orderdate").cast("date"))).cast("long")
          .as("month_key"), rh.as("rh"))
        .groupBy("month_key")
        .agg(count(lit(1)).as("n_rows"),
          countDistinct(col("rh")).as("n_distinct"),
          min(col("rh")).as("min_hash"),
          max(col("rh")).as("max_hash"))
        .orderBy("month_key")
    }),

    // TEMPORAL INTEGRITY AUDIT (§2.181) — the cross-table ordering
    // constraint dq_report's single-table ranges can't see: a line
    // item must not ship BEFORE its order was placed. Per constraint:
    // rows checked, violations, violation share, and the worst
    // (most negative) lead in days — plus two single-table
    // positivity constraints as calibration rows (their violation
    // counts pin the harness against an always-zero report reading
    // as vacuous). Exact day integers; the join rides the l_orderkey
    // FK (the co-partitioned join every engine already optimizes).
    "etl_temporal_integrity_audit" -> ((s, dir) => {
      val li = t(s, dir, "lineitem")
      val o = t(s, dir, "orders")
      val ship = li.select(col("l_orderkey"),
          epochDay("l_shipdate").as("sd"))
        .join(o.select(col("o_orderkey").as("l_orderkey"),
          epochDay("o_orderdate").as("od")), Seq("l_orderkey"))
        .select((col("sd") - col("od")).as("lead"))
      def row(name: String, checked: DataFrame) =
        checked.agg(count(lit(1)).as("n_rows"),
            count_if(col("lead") < 0).as("n_violations"),
            min(col("lead")).as("min_lead_days"))
          .select(lit(name).as("constraint_name"), col("n_rows"),
            col("n_violations"),
            r4d(col("n_violations").cast("double")
              / col("n_rows").cast("double")).as("violation_share"),
            col("min_lead_days"))
      row("lineitem.ship_after_order", ship)
        .unionByName(row("lineitem.quantity_positive",
          li.select(when(col("l_quantity") > 0, 1L).otherwise(-1L)
            .as("lead"))))
        .unionByName(row("orders.totalprice_positive",
          o.select(when(col("o_totalprice") > 0, 1L).otherwise(-1L)
            .as("lead"))))
        .orderBy("constraint_name")
    }),

    // COLUMN CARDINALITY PROFILE (§2.174) — the per-column profiling
    // pass storage engines run before choosing encodings: for each
    // lineitem column, distinct-value count, modal-value frequency,
    // and the dictionary-encoding advice flag (n_distinct ≤ 1% of
    // rows — exact integer cross-multiplication, the parquet
    // dictionary heuristic). Each column is ONE pruned single-column
    // scan + keyed reduce (never a stringified unpivot — no cross-
    // engine format surface); the union is |columns|-bounded.
    "etl_column_cardinality" -> ((s, dir) => {
      val li = t(s, dir, "lineitem")
      def arm(c: String): DataFrame =
        li.groupBy(col(c)).agg(count(lit(1)).as("n"))
          .agg(count(lit(1)).as("n_distinct"),
            sum(col("n")).as("n_rows"), max(col("n")).as("top1_n"))
          .select(lit(c).as("column_name"), col("n_rows"),
            col("n_distinct"), col("top1_n"),
            r4d(col("top1_n").cast("double")
              / col("n_rows").cast("double")).as("top1_share"),
            (col("n_distinct") * 100 <= col("n_rows"))
              .as("dict_advice"))
      Seq("l_orderkey", "l_partkey", "l_suppkey", "l_linenumber",
          "l_quantity", "l_extendedprice", "l_discount", "l_tax",
          "l_returnflag", "l_linestatus")
        .map(arm).reduce(_.unionByName(_))
        .orderBy("column_name")
    }),

    // FANOUT AUDIT (§2.171) — the join-explosion risk report: per FK
    // relationship, children-per-parent statistics INCLUDING
    // childless parents (the left-join-vs-inner row-count delta a
    // pipeline must know before choosing join type), max fanout (the
    // skew bound AQE will face), and the count of parents above 2×
    // the mean fanout — tested by exact integer cross-multiplication
    // (c·n_parents > 2·n_children), no float enters the flag. Each
    // relationship is one child-side keyed count + one slim left
    // join; output is 3 rows.
    "etl_fanout_audit" -> ((s, dir) => {
      def audit(rel: String, parent: DataFrame,
          child: DataFrame): DataFrame = {
        val cnt = child.toDF("k").groupBy("k")
          .agg(count(lit(1)).as("c"))
        val j = parent.toDF("k").join(cnt, Seq("k"), "left")
          .select(coalesce(col("c"), lit(0L)).as("c"))
        val tot = j.agg(count(lit(1)).as("np"),
          count_if(col("c") === 0).as("nzero"),
          sum(col("c")).as("nc"), max(col("c")).as("mx"))
        val over = j.crossJoin(broadcast(tot))
          .agg(count_if(col("c") * col("np") > lit(2) * col("nc"))
            .as("n_over_2x"))
        tot.crossJoin(over).select(lit(rel).as("relationship"),
          col("np").as("n_parents"), col("nzero").as("n_childless"),
          col("nc").as("n_children"), col("mx").as("max_fanout"),
          r4d(col("nc").cast("double") / col("np").cast("double"))
            .as("mean_fanout"),
          col("n_over_2x"))
      }
      audit("customer->orders",
          t(s, dir, "customer").select("c_custkey"),
          t(s, dir, "orders").select("o_custkey"))
        .unionByName(audit("orders->lineitem",
          t(s, dir, "orders").select("o_orderkey"),
          t(s, dir, "lineitem").select("l_orderkey")))
        .unionByName(audit("part->lineitem",
          t(s, dir, "part").select("p_partkey"),
          t(s, dir, "lineitem").select("l_partkey")))
        .orderBy("relationship")
    }),

    "etl_fk_containment" -> ((s, dir) => {
      val li = t(s, dir, "lineitem")
      def side(pair: String, isChild: Boolean, keys: DataFrame) =
        keys.toDF("k").distinct()
          .select(lit(pair).as("pair"), col("k"),
            lit(if (isChild) 1L else 0L).as("c"),
            lit(if (isChild) 0L else 1L).as("p"))
      // ONE distributed plan: per pair, each side collapses to its
      // distinct key set map-side, the union groups by (pair, key) to
      // mark membership, and a final per-pair agg counts the three
      // set sizes — no driver-side count loops, one result row per
      // candidate pair.
      val tagged = Seq(
        side("lineitem.l_orderkey->orders.o_orderkey", isChild = true,
          li.select(col("l_orderkey"))),
        side("lineitem.l_orderkey->orders.o_orderkey", isChild = false,
          t(s, dir, "orders").select(col("o_orderkey"))),
        side("lineitem.l_partkey->part.p_partkey", isChild = true,
          li.select(col("l_partkey"))),
        side("lineitem.l_partkey->part.p_partkey", isChild = false,
          t(s, dir, "part").select(col("p_partkey"))),
        side("orders.o_custkey->customer.c_custkey", isChild = true,
          t(s, dir, "orders").select(col("o_custkey"))),
        side("orders.o_custkey->customer.c_custkey", isChild = false,
          t(s, dir, "customer").select(col("c_custkey"))),
        side("lineitem.l_quantity->part.p_partkey", isChild = true,
          li.select(col("l_quantity").cast("long"))),
        side("lineitem.l_quantity->part.p_partkey", isChild = false,
          t(s, dir, "part").select(col("p_partkey"))))
        .reduce(_ unionByName _)
      tagged.groupBy(col("pair"), col("k"))
        .agg(max(col("c")).as("inc"), max(col("p")).as("inp"))
        .groupBy(col("pair"))
        .agg(sum(col("inc")).as("n_child"), sum(col("inp")).as("n_parent"),
          sum(col("inc") * col("inp")).as("n_common"))
        .select(col("pair"), col("n_child"), col("n_parent"),
          col("n_common"),
          r4d(col("n_common").cast("double")
            / col("n_child").cast("double")).as("containment"))
        .orderBy("pair")
    }),

    // TABLE CHECKSUM (§2.67) — replica reconciliation: a per-row md5
    // fingerprint folded into order-independent per-group digests
    // (count, distinct count, min/max hash) that two copies of a table
    // can compare WITHOUT shipping rows — the standard cross-cluster /
    // post-migration integrity check. The fingerprint renders every
    // field deterministically — money goes through the cents-integer
    // convention, because double→string formatting is engine-specific
    // (scientific-notation thresholds differ) while integer rendering
    // is universal. min/max/count-distinct are order-independent, so
    // shuffle layout can't leak into the digest; any single-row
    // difference flips n_distinct or an extreme with probability
    // 1 − 2⁻¹²⁸.
    "etl_table_checksum" -> ((s, dir) => {
      val rh = md5(concat_ws("|",
        col("o_orderkey"), col("o_custkey"), col("o_orderstatus"),
        round(col("o_totalprice") * 100).cast("long")).cast("binary"))
      t(s, dir, "orders")
        .select(col("o_orderstatus"), rh.as("rh"))
        .groupBy("o_orderstatus")
        .agg(count(lit(1)).as("n_rows"),
          countDistinct(col("rh")).as("n_distinct"),
          min(col("rh")).as("min_hash"),
          max(col("rh")).as("max_hash"))
        .orderBy("o_orderstatus")
    }),

    // ORDER→SHIP LATENCY (§2.161) — the fulfilment-lead-time profile
    // per order priority: days from order date to the FIRST shipped
    // line (mean + p50/p90 order statistics + max). Exact integer
    // epoch-day differences; the per-order first-ship is one keyed
    // min reduce; percentiles are §1.3-cast BIGINT order statistics.
    // The ops dashboard every warehouse runs, and the natural
    // latency companion of etl_late_arrival_report's ingest view.
    "etl_order_to_ship_latency" -> ((s, dir) => {
      val o = t(s, dir, "orders").select(col("o_orderkey"),
        col("o_orderpriority"), epochDay("o_orderdate").as("od"))
      val l = t(s, dir, "lineitem")
        .groupBy(col("l_orderkey").as("o_orderkey"))
        .agg(min(epochDay("l_shipdate")).as("sd"))
      o.join(l, Seq("o_orderkey"))
        .select(col("o_orderpriority"), (col("sd") - col("od")).as("lat"))
        .createOrReplaceTempView("osl_lat")
      s.sql("""SELECT o_orderpriority, count(*) AS n_orders,
        |  ROUND(CAST(sum(lat) AS DOUBLE) / CAST(count(*) AS DOUBLE)
        |    * 10000) / 10000 AS mean_days,
        |  CAST(percentile_disc(0.5) WITHIN GROUP (ORDER BY lat)
        |    AS BIGINT) AS p50_days,
        |  CAST(percentile_disc(0.9) WITHIN GROUP (ORDER BY lat)
        |    AS BIGINT) AS p90_days,
        |  max(lat) AS max_days
        |FROM osl_lat GROUP BY 1 ORDER BY 1""".stripMargin)
    }),

    // PRIMARY-KEY UNIQUENESS AUDIT (§2.153) — the first constraint
    // every warehouse load validates and the one etl_dq_report's
    // column profile doesn't state: per table, are the declared keys
    // actually unique (row count vs distinct-key count, duplicated
    // keys, excess rows). Covers every fixture table including
    // lineitem's COMPOSITE (orderkey, linenumber) key. Each table
    // pays one two-phase count(distinct) exchange; the result is 8
    // rows — the shape that stays 8 rows at 100 TB.
    "etl_pk_uniqueness_audit" -> ((s, dir) => {
      def audit(name: String, df: DataFrame, key: Seq[String])
          : DataFrame = {
        val k = concat_ws("|", key.map(col): _*)
        df.select(k.as("k"))
          .groupBy("k").agg(count(lit(1)).as("c"))
          .agg(sum(col("c")).as("n_rows"),
            count(lit(1)).as("n_keys"),
            count_if(col("c") > 1).as("n_dup_keys"),
            sum(when(col("c") > 1, col("c") - 1).otherwise(0L))
              .as("n_excess_rows"))
          .select(lit(name).as("table_name"), col("n_rows"),
            col("n_keys"), col("n_dup_keys"), col("n_excess_rows"),
            (col("n_dup_keys") === 0).as("is_unique"))
      }
      audit("customer", t(s, dir, "customer"), Seq("c_custkey"))
        .unionAll(audit("documents", t(s, dir, "documents"),
          Seq("doc_id")))
        .unionAll(audit("embeddings", t(s, dir, "embeddings"),
          Seq("vec_id")))
        .unionAll(audit("events", events(s, dir), Seq("event_id")))
        .unionAll(audit("lineitem", t(s, dir, "lineitem"),
          Seq("l_orderkey", "l_linenumber")))
        .unionAll(audit("orders", t(s, dir, "orders"),
          Seq("o_orderkey")))
        .unionAll(audit("part", t(s, dir, "part"), Seq("p_partkey")))
        .unionAll(audit("supplier", t(s, dir, "supplier"),
          Seq("s_suppkey")))
        .orderBy("table_name")
    }),

    // JOIN-KEY SKEW REPORT (§2.106) — the pre-flight audit behind
    // every AQE-skew/salting decision in this repo (join_skew_salted,
    // join_skew_aqe): for each frequently-joined FK column, the key
    // cardinality, the hottest key's row count, and the skew factor
    // max·n_keys/total (1.0 = perfectly uniform) — the number that
    // says whether a plain shuffle join will straggle at 100 TB. All
    // exact integers from per-column two-phase counts; one division
    // per output row (3 rows). Each column pays one partial-agg
    // exchange over its key.
    "etl_skew_report" -> ((s, dir) => {
      def audit(df: DataFrame, cn: String, label: String): DataFrame =
        df.groupBy(col(cn).as("k")).agg(count(lit(1)).as("c"))
          .agg(count(lit(1)).as("n_keys"),
            sum(col("c")).cast("long").as("n_rows"),
            max(col("c")).as("max_per_key"))
          .select(lit(label).as("fk"), col("n_keys"), col("n_rows"),
            col("max_per_key"),
            r4d((col("max_per_key") * col("n_keys")).cast("double")
              / col("n_rows").cast("double")).as("skew_factor"))
      audit(t(s, dir, "lineitem"), "l_orderkey", "lineitem.l_orderkey")
        .unionAll(audit(t(s, dir, "lineitem"), "l_partkey",
          "lineitem.l_partkey"))
        .unionAll(audit(t(s, dir, "orders"), "o_custkey",
          "orders.o_custkey"))
        .orderBy("fk")
    }),

    // COLUMN-LEVEL CHURN REPORT (§2.105) — etl_snapshot_diff names
    // WHICH rows changed; this aggregates WHICH COLUMNS drive the
    // churn between the same two snapshots (the first question a
    // pipeline owner asks when a diff spikes: one volatile column or
    // real entity turnover?). Same synthetic next-snapshot as the
    // diff key; one full-outer key join, null-safe per-column
    // comparisons counted with count_if — all exact integers in a
    // single 1-row reduce.
    "etl_column_churn" -> ((s, dir) => {
      val matched = col("o_name").isNotNull && col("n_name").isNotNull
      snapshotPair(s, dir)
        .agg(count(lit(1)).as("n_keys"),
          count_if(col("o_name").isNull).as("n_added"),
          count_if(col("n_name").isNull).as("n_removed"),
          count_if(matched && !(col("o_name") <=> col("n_name")))
            .as("chg_name"),
          count_if(matched && !(col("o_seg") <=> col("n_seg")))
            .as("chg_seg"),
          count_if(matched && !(col("o_bal") <=> col("n_bal")))
            .as("chg_bal"),
          count_if(matched && (col("o_name") <=> col("n_name"))
            && (col("o_seg") <=> col("n_seg"))
            && (col("o_bal") <=> col("n_bal"))).as("n_same"))
    }),

    // FRESHNESS / LAG REPORT (§2.101) — the pipeline-observability
    // table every warehouse dashboard tops: per source stream (event
    // type), latest landed day, lag behind the freshest stream, row
    // count and rows landed on the last day — the "is an upstream
    // stuck" check run before anything else is trusted. All integer
    // day arithmetic on the shared epoch-day convention; the global
    // max is a 1-row broadcast. Shape: one O(rows) partial-agg reduce
    // to |types| rows (the count_if(day = mx) rides the same pass via
    // a max-keyed second aggregate), then a broadcast compare.
    // WATERMARK RECOMMENDATION (§2.145) — the decision
    // etl_late_arrival_report's distribution exists to feed: per
    // event type, the p99 lateness (an exact percentile_disc order
    // statistic over integer milliseconds — CAST AS BIGINT per the
    // §1.3 rule) and the recommended watermark = that p99 rounded UP
    // to whole minutes (ceil on the exact integer via the
    // (x + 59999) div 60000 form — no float). The number every
    // withWatermark() call should be derived from, not guessed.
    "etl_watermark_recommendation" -> ((s, dir) => {
      val w = Window.partitionBy("user_id").orderBy("event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
      events(s, dir)
        .select(col("user_id"), col("event_id"), col("event_type"),
          unix_millis(col("ts").cast("timestamp")).as("ms"))
        .withColumn("prevmax", max(col("ms")).over(w))
        .withColumn("late_ms",
          when(col("prevmax") > col("ms"), col("prevmax") - col("ms"))
            .otherwise(0L))
        .createOrReplaceTempView("wm_late")
      s.sql("""SELECT event_type, count(*) AS n_events,
        |  CAST(percentile_disc(0.99) WITHIN GROUP (ORDER BY late_ms)
        |    AS BIGINT) AS p99_late_ms,
        |  (CAST(percentile_disc(0.99) WITHIN GROUP (ORDER BY late_ms)
        |    AS BIGINT) + 59999) div 60000 AS watermark_minutes
        |FROM wm_late GROUP BY event_type
        |ORDER BY event_type""".stripMargin)
    }),

    // RETENTION-POLICY PLAN (§2.141) — the deletion dry run every
    // governed table needs next to etl_backfill_plan's ingestion
    // twin: per event-day partition, its age against a 60-day
    // retention window, the expired flag, and the cumulative row
    // count a sweep in day order would delete. The corpus reduces to
    // the bounded day table in one exchange; the cumulative runs
    // over that table only. Exact integers throughout.
    "etl_retention_plan" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val d = events(s, dir).select(epochDay("ts").as("day"))
        .groupBy("day").agg(count(lit(1)).as("n_events"))
      val mx = d.agg(max(col("day")).as("maxd"))
      val w = Window.orderBy("day")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      d.crossJoin(broadcast(mx))
        .withColumn("age_days", col("maxd") - col("day"))
        .withColumn("expired", col("age_days") > 60)
        .withColumn("cum_deletable",
          sum(when(col("age_days") > 60, col("n_events"))
            .otherwise(0L)).over(w).cast("long"))
        .select(col("day"), col("n_events"), col("age_days"),
          col("expired"), col("cum_deletable"))
        .orderBy("day")
    }),

    // LATE-ARRIVAL REPORT (§2.133) — how out-of-order is each
    // stream, per event type: within a user's ingest sequence
    // (event_id is the arrival order), an event is LATE when its
    // event time sits below the running max of everything already
    // ingested for that user; lateness = prevmax − ms. The number
    // that sizes every watermark and every backfill window
    // (etl_backfill_plan consumes exactly this distribution).
    // Exact integer milliseconds; ONE user-partitioned exclusive
    // running-max window; per-type reduce.
    "etl_late_arrival_report" -> ((s, dir) => {
      val w = Window.partitionBy("user_id").orderBy("event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
      events(s, dir)
        .select(col("user_id"), col("event_id"), col("event_type"),
          unix_millis(col("ts").cast("timestamp")).as("ms"))
        .withColumn("prevmax", max(col("ms")).over(w))
        .withColumn("late_ms",
          when(col("prevmax") > col("ms"), col("prevmax") - col("ms"))
            .otherwise(0L))
        .groupBy("event_type")
        .agg(count(lit(1)).as("n_events"),
          count_if(col("late_ms") > 0).as("n_late"),
          max(col("late_ms")).as("max_late_ms"),
          sum(col("late_ms")).cast("long").as("sum_late_ms"))
        .select(col("event_type"), col("n_events"), col("n_late"),
          r4d(col("n_late").cast("double")
            / col("n_events").cast("double")).as("late_rate"),
          col("max_late_ms"), col("sum_late_ms"))
        .orderBy("event_type")
    }),

    "etl_freshness_report" -> ((s, dir) => {
      val e = events(s, dir)
        .select(col("event_type"), epochDay("ts").as("day"))
      val per = e.groupBy("event_type")
        .agg(count(lit(1)).as("n_rows"), max(col("day")).as("max_day"))
      val lastDay = e.join(per.select(col("event_type"),
          col("max_day").as("md")), Seq("event_type"))
        .filter(col("day") === col("md"))
        .groupBy("event_type").agg(count(lit(1)).as("n_last_day"))
      val glob = per.agg(max(col("max_day")).as("fresh"))
      per.join(lastDay, Seq("event_type"))
        .crossJoin(broadcast(glob))
        .select(col("event_type"), col("n_rows"), col("max_day"),
          (col("fresh") - col("max_day")).as("lag_days"),
          col("n_last_day"),
          (col("fresh") - col("max_day") > 1).as("stale"))
        .orderBy("event_type")
    }),

    // BACKFILL PLAN (§2.112) — the ops table behind every "which
    // partitions do I re-run?" decision: the expected (type, day)
    // grid over the global day spine anti-joined against the observed
    // partitions, reduced to a per-type manifest (expected/present/
    // missing counts + the missing range). Complements
    // etl_freshness_report (freshness asks "is the tail current?",
    // backfill asks "are there HOLES?"). Shape: one distinct over the
    // corpus, a bounded |types|×|days| spine, an anti join on the
    // composite key, three bounded reduces — integer day arithmetic
    // throughout.
    // SAMPLED STATS COLLECTION (§2.115) — the catalog-statistics
    // sweep a CBO/quality monitor runs: per profiled column, row
    // count, exact distinct count, and min/max, over the
    // deterministic md5 1/16 row sample (the Doulion device applied
    // to (orderkey, linenumber) — replayable, unlike TABLESAMPLE,
    // whose RNG no two engines share). ONE scan computes every
    // column's stats (the multi-distinct Expand shape); the stack()
    // reshape emits one row per column. Min/max cast to DOUBLE so the
    // profile table is column-type-agnostic (exact for these decimal
    // domains).
    "etl_stats_collect" -> ((s, dir) => {
      val sm = t(s, dir, "lineitem")
        .filter(substring(md5(concat(col("l_orderkey").cast("string"),
          lit("_"), col("l_linenumber").cast("string")).cast("binary")),
          1, 1) === "0")
      sm.agg(count(lit(1)).as("n"),
          countDistinct(col("l_quantity")).as("d1"),
          min(col("l_quantity")).cast("double").as("mn1"),
          max(col("l_quantity")).cast("double").as("mx1"),
          countDistinct(col("l_extendedprice")).as("d2"),
          min(col("l_extendedprice")).cast("double").as("mn2"),
          max(col("l_extendedprice")).cast("double").as("mx2"),
          countDistinct(col("l_discount")).as("d3"),
          min(col("l_discount")).cast("double").as("mn3"),
          max(col("l_discount")).cast("double").as("mx3"))
        .select(expr("stack(3," +
          " 'l_discount', n, d3, mn3, mx3," +
          " 'l_extendedprice', n, d2, mn2, mx2," +
          " 'l_quantity', n, d1, mn1, mx1)" +
          " AS (column_name, n_rows, n_distinct, min_v, max_v)"))
        .orderBy("column_name")
    }),

    "etl_backfill_plan" -> ((s, dir) => {
      val e = events(s, dir)
        .select(col("event_type"), epochDay("ts").as("day"))
      val bounds = e.agg(min(col("day")).as("lo"), max(col("day")).as("hi"))
      val types = e.select(col("event_type")).distinct()
      val expected = types.crossJoin(broadcast(bounds))
        .select(col("event_type"),
          explode(sequence(col("lo"), col("hi"))).as("day"))
      val present = e.distinct()
      val missing = expected
        .join(present, Seq("event_type", "day"), "left_anti")
        .groupBy("event_type")
        .agg(count(lit(1)).as("n_missing"),
          min(col("day")).as("first_missing_day"),
          max(col("day")).as("last_missing_day"))
      expected.groupBy("event_type").agg(count(lit(1)).as("n_expected"))
        .join(present.groupBy("event_type")
          .agg(count(lit(1)).as("n_present")), Seq("event_type"), "left")
        .join(missing, Seq("event_type"), "left")
        .select(col("event_type"), col("n_expected"),
          coalesce(col("n_present"), lit(0L)).as("n_present"),
          coalesce(col("n_missing"), lit(0L)).as("n_missing"),
          col("first_missing_day"), col("last_missing_day"))
        .orderBy("event_type")
    }),
  )

  val oracle: Map[String, String] = Map(
    // Same aggregates computed directly — verifying the values that
    // traveled Spark's observation-listener path.
    "etl_observe_metrics" ->
      """SELECT count(*) AS n_rows,
        |  CAST(sum(CASE WHEN l_discount > 0.06 THEN 1 ELSE 0 END)
        |    AS BIGINT) AS n_high_discount,
        |  count(CASE WHEN l_quantity IS NULL THEN 1 END) AS n_null_qty,
        |  CAST(CAST(min(l_shipdate) AS DATE) AS VARCHAR) AS min_shipdate
        |FROM lineitem""".stripMargin,
    // Same md5 sample and one-pass multi-distinct agg; UNION ALL is
    // the stack() reshape.
    "etl_stats_collect" ->
      """WITH sm AS (SELECT * FROM lineitem
        |  WHERE substring(md5(CAST(l_orderkey AS VARCHAR) || '_'
        |    || CAST(l_linenumber AS VARCHAR)), 1, 1) = '0'),
        |a AS (SELECT count(*) AS n,
        |    count(DISTINCT l_quantity) AS d1,
        |    CAST(min(l_quantity) AS DOUBLE) AS mn1,
        |    CAST(max(l_quantity) AS DOUBLE) AS mx1,
        |    count(DISTINCT l_extendedprice) AS d2,
        |    CAST(min(l_extendedprice) AS DOUBLE) AS mn2,
        |    CAST(max(l_extendedprice) AS DOUBLE) AS mx2,
        |    count(DISTINCT l_discount) AS d3,
        |    CAST(min(l_discount) AS DOUBLE) AS mn3,
        |    CAST(max(l_discount) AS DOUBLE) AS mx3
        |  FROM sm)
        |SELECT 'l_discount' AS column_name, n AS n_rows,
        |  d3 AS n_distinct, mn3 AS min_v, mx3 AS max_v FROM a
        |UNION ALL SELECT 'l_extendedprice', n, d2, mn2, mx2 FROM a
        |UNION ALL SELECT 'l_quantity', n, d1, mn1, mx1 FROM a
        |ORDER BY column_name""".stripMargin,
    // Same spine × types grid and NOT EXISTS ≡ anti join; null
    // first/last range when nothing is missing.
    "etl_backfill_plan" ->
      s"""WITH e AS (SELECT event_type, ${sqlEpochDay("ts")} AS day
         |  FROM events),
         |b AS (SELECT min(day) AS lo, max(day) AS hi FROM e),
         |ty AS (SELECT DISTINCT event_type FROM e),
         |expected AS (SELECT event_type, CAST(d AS BIGINT) AS day
         |  FROM ty, b, LATERAL (SELECT unnest(range(lo, hi + 1)) AS d)),
         |present AS (SELECT DISTINCT event_type, day FROM e),
         |miss AS (SELECT x.event_type, count(*) AS n_missing,
         |    min(x.day) AS first_missing_day,
         |    max(x.day) AS last_missing_day
         |  FROM expected x WHERE NOT EXISTS (SELECT 1 FROM present p
         |    WHERE p.event_type = x.event_type AND p.day = x.day)
         |  GROUP BY 1),
         |ex AS (SELECT event_type, count(*) AS n_expected
         |  FROM expected GROUP BY 1),
         |pr AS (SELECT event_type, count(*) AS n_present
         |  FROM present GROUP BY 1)
         |SELECT ex.event_type, n_expected,
         |  coalesce(n_present, 0) AS n_present,
         |  coalesce(n_missing, 0) AS n_missing,
         |  first_missing_day, last_missing_day
         |FROM ex LEFT JOIN pr USING (event_type)
         |LEFT JOIN miss USING (event_type)
         |ORDER BY ex.event_type""".stripMargin,
    // Integer day arithmetic throughout; last-day counts join back on
    // the per-type max.
    // Same lateness window, BIGINT-cast p99, integer ceil-minutes.
    "etl_watermark_recommendation" ->
      """WITH e AS (SELECT user_id, event_id, event_type,
        |    epoch_ms(ts) AS ms FROM events),
        |w AS (SELECT event_type,
        |    max(ms) OVER (PARTITION BY user_id ORDER BY event_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
        |      AS prevmax,
        |    ms FROM e),
        |l AS (SELECT event_type,
        |    CASE WHEN prevmax > ms THEN prevmax - ms ELSE 0 END
        |      AS late_ms
        |  FROM w)
        |SELECT event_type, count(*) AS n_events,
        |  CAST(percentile_disc(0.99) WITHIN GROUP (ORDER BY late_ms)
        |    AS BIGINT) AS p99_late_ms,
        |  (CAST(percentile_disc(0.99) WITHIN GROUP (ORDER BY late_ms)
        |    AS BIGINT) + 59999) // 60000 AS watermark_minutes
        |FROM l GROUP BY event_type ORDER BY event_type""".stripMargin,
    // Same bounded day table, cumulative in day order.
    "etl_retention_plan" ->
      s"""WITH d AS (SELECT ${sqlEpochDay("ts")} AS day,
         |    count(*) AS n_events FROM events GROUP BY 1),
         |m AS (SELECT max(day) AS maxd FROM d),
         |a AS (SELECT day, n_events, maxd - day AS age_days
         |  FROM d CROSS JOIN m)
         |SELECT day, n_events, age_days, age_days > 60 AS expired,
         |  CAST(sum(CASE WHEN age_days > 60 THEN n_events ELSE 0 END)
         |    OVER (ORDER BY day ROWS UNBOUNDED PRECEDING) AS BIGINT)
         |    AS cum_deletable
         |FROM a ORDER BY day""".stripMargin,
    // Same exclusive running max over the arrival order.
    "etl_late_arrival_report" ->
      """WITH e AS (SELECT user_id, event_id, event_type,
        |    epoch_ms(ts) AS ms FROM events),
        |w AS (SELECT event_type,
        |    max(ms) OVER (PARTITION BY user_id ORDER BY event_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
        |      AS prevmax,
        |    ms FROM e),
        |l AS (SELECT event_type,
        |    CASE WHEN prevmax > ms THEN prevmax - ms ELSE 0 END
        |      AS late_ms
        |  FROM w)
        |SELECT event_type, count(*) AS n_events,
        |  count(*) FILTER (WHERE late_ms > 0) AS n_late,
        |  ROUND(CAST(count(*) FILTER (WHERE late_ms > 0) AS DOUBLE)
        |    / CAST(count(*) AS DOUBLE) * 10000) / 10000 AS late_rate,
        |  max(late_ms) AS max_late_ms,
        |  CAST(sum(late_ms) AS BIGINT) AS sum_late_ms
        |FROM l GROUP BY event_type ORDER BY event_type""".stripMargin,
    "etl_freshness_report" ->
      s"""WITH e AS (SELECT event_type, ${graft.Det.sqlEpochDay("ts")}
         |    AS day FROM events),
         |per AS (SELECT event_type, count(*) AS n_rows,
         |    max(day) AS max_day
         |  FROM e GROUP BY 1),
         |ld AS (SELECT e.event_type, count(*) AS n_last_day
         |  FROM e JOIN per USING (event_type)
         |  WHERE day = max_day GROUP BY 1),
         |g AS (SELECT max(max_day) AS fresh FROM per)
         |SELECT event_type, n_rows, max_day,
         |  fresh - max_day AS lag_days, n_last_day,
         |  fresh - max_day > 1 AS stale
         |FROM per JOIN ld USING (event_type) CROSS JOIN g
         |ORDER BY event_type""".stripMargin,
    // Same pipe-joined integer rendering under md5.
    // Same multi-column distinct counts and exact verdicts.
    "etl_composite_pk_audit" ->
      """SELECT * FROM (
        |SELECT 'lineitem(l_orderkey,l_linenumber)' AS key_name,
        |  count(*) AS n_rows,
        |  count(DISTINCT (l_orderkey, l_linenumber)) AS n_distinct,
        |  count(*) - count(DISTINCT (l_orderkey, l_linenumber))
        |    AS n_dup_rows,
        |  count(*) = count(DISTINCT (l_orderkey, l_linenumber))
        |    AS is_unique
        |FROM lineitem
        |UNION ALL
        |SELECT 'lineitem(l_orderkey)', count(*),
        |  count(DISTINCT l_orderkey),
        |  count(*) - count(DISTINCT l_orderkey),
        |  count(*) = count(DISTINCT l_orderkey)
        |FROM lineitem
        |UNION ALL
        |SELECT 'events(event_id)', count(*),
        |  count(DISTINCT event_id),
        |  count(*) - count(DISTINCT event_id),
        |  count(*) = count(DISTINCT event_id)
        |FROM events) ORDER BY key_name""".stripMargin,
    // Same sorted-middle median/MAD and exact 3·MAD band.
    "etl_partition_volume_anomaly" ->
      """WITH m AS (SELECT CAST(year(o_orderdate) * 100
        |      + month(o_orderdate) AS BIGINT) AS month_key,
        |    count(*) AS n_rows
        |  FROM orders GROUP BY 1),
        |med AS (SELECT
        |    list_sort(list(n_rows))[count(*) // 2 + 1] AS med,
        |    count(*) AS n_months FROM m),
        |mad AS (SELECT
        |    list_sort(list(dev))[count(*) // 2 + 1] AS mad,
        |    max(med) AS med, max(n_months) AS n_months
        |  FROM (SELECT abs(n_rows - med) AS dev, med, n_months
        |    FROM m CROSS JOIN med))
        |SELECT month_key, n_rows, med, mad,
        |  abs(n_rows - med) > 3 * mad AS is_anomaly
        |FROM m CROSS JOIN mad ORDER BY month_key""".stripMargin,
    // Same first-ship day lead and exact 30-day test.
    "etl_sla_attainment" ->
      """WITH fs AS (SELECT l_orderkey,
        |    min(epoch_ms(l_shipdate) // 86400000) AS sd
        |  FROM lineitem GROUP BY 1),
        |j AS (SELECT o_orderpriority,
        |    CASE WHEN sd - epoch_ms(o_orderdate) // 86400000 <= 30
        |      THEN 1 ELSE 0 END AS ok
        |  FROM orders JOIN fs ON fs.l_orderkey = o_orderkey)
        |SELECT o_orderpriority, count(*) AS n_orders,
        |  CAST(sum(ok) AS BIGINT) AS n_met,
        |  count(*) - CAST(sum(ok) AS BIGINT) AS n_violations,
        |  ROUND(CAST(sum(ok) AS DOUBLE) / CAST(count(*) AS DOUBLE)
        |    * 10000) / 10000 AS attainment
        |FROM j GROUP BY 1 ORDER BY o_orderpriority""".stripMargin,
    // Same canonical row-hash encoding keyed by order month.
    "etl_partition_checksum_monthly" ->
      """WITH r AS (SELECT
        |    CAST(year(o_orderdate) * 100 + month(o_orderdate)
        |      AS BIGINT) AS month_key,
        |    md5(o_orderkey || '|' || o_custkey || '|' || o_orderstatus
        |      || '|' || CAST(round(o_totalprice * 100, 0) AS BIGINT))
        |      AS rh
        |  FROM orders)
        |SELECT month_key, count(*) AS n_rows,
        |  count(DISTINCT rh) AS n_distinct,
        |  min(rh) AS min_hash, max(rh) AS max_hash
        |FROM r GROUP BY month_key ORDER BY month_key""".stripMargin,
    "etl_table_checksum" ->
      """WITH r AS (SELECT o_orderstatus,
        |    md5(o_orderkey || '|' || o_custkey || '|' || o_orderstatus
        |      || '|' || CAST(round(o_totalprice * 100, 0) AS BIGINT)) AS rh
        |  FROM orders)
        |SELECT o_orderstatus, count(*) AS n_rows,
        |  count(DISTINCT rh) AS n_distinct,
        |  min(rh) AS min_hash, max(rh) AS max_hash
        |FROM r GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin,
    // Same epoch-day latency chain; identical order statistics.
    "etl_order_to_ship_latency" ->
      """WITH o AS (SELECT o_orderkey, o_orderpriority,
        |    epoch_ms(o_orderdate) // 86400000 AS od FROM orders),
        |l AS (SELECT l_orderkey AS o_orderkey,
        |    min(epoch_ms(l_shipdate) // 86400000) AS sd
        |  FROM lineitem GROUP BY 1),
        |j AS (SELECT o.o_orderpriority, sd - od AS lat
        |  FROM o JOIN l USING (o_orderkey))
        |SELECT o_orderpriority, count(*) AS n_orders,
        |  ROUND(CAST(sum(lat) AS DOUBLE) / CAST(count(*) AS DOUBLE)
        |    * 10000) / 10000 + 0.0 AS mean_days,
        |  CAST(percentile_disc(0.5) WITHIN GROUP (ORDER BY lat)
        |    AS BIGINT) AS p50_days,
        |  CAST(percentile_disc(0.9) WITHIN GROUP (ORDER BY lat)
        |    AS BIGINT) AS p90_days,
        |  max(lat) AS max_days
        |FROM j GROUP BY 1 ORDER BY 1""".stripMargin,
    // Same per-table key-group chain; one SELECT per fixture table.
    "etl_pk_uniqueness_audit" -> {
      def one(name: String, table: String, key: String): String =
        s"""SELECT '$name' AS table_name,
           |  CAST(sum(c) AS BIGINT) AS n_rows,
           |  count(*) AS n_keys,
           |  count(*) FILTER (WHERE c > 1) AS n_dup_keys,
           |  CAST(sum(CASE WHEN c > 1 THEN c - 1 ELSE 0 END) AS BIGINT)
           |    AS n_excess_rows,
           |  count(*) FILTER (WHERE c > 1) = 0 AS is_unique
           |FROM (SELECT concat_ws('|', $key) AS k, count(*) AS c
           |  FROM $table GROUP BY 1)""".stripMargin
      Seq(
        one("customer", "customer", "c_custkey"),
        one("documents", "documents", "doc_id"),
        one("embeddings", "embeddings", "vec_id"),
        one("events", "events", "event_id"),
        one("lineitem", "lineitem", "l_orderkey, l_linenumber"),
        one("orders", "orders", "o_orderkey"),
        one("part", "part", "p_partkey"),
        one("supplier", "supplier", "s_suppkey"))
        .mkString("", "\nUNION ALL\n", "\nORDER BY table_name")
    },
    // Same FK day-lead join and positivity sentinels.
    "etl_temporal_integrity_audit" -> {
      def row(name: String, leadSel: String) =
        s"""SELECT '$name' AS constraint_name, count(*) AS n_rows,
           |  count(*) FILTER (WHERE lead < 0) AS n_violations,
           |  ROUND(CAST(count(*) FILTER (WHERE lead < 0) AS DOUBLE)
           |    / CAST(count(*) AS DOUBLE) * 10000) / 10000
           |    AS violation_share,
           |  min(lead) AS min_lead_days
           |FROM ($leadSel)""".stripMargin
      Seq(
        row("lineitem.ship_after_order",
          """SELECT epoch_ms(l_shipdate) // 86400000
            |    - epoch_ms(o_orderdate) // 86400000 AS lead
            |  FROM lineitem JOIN orders
            |    ON o_orderkey = l_orderkey""".stripMargin),
        row("lineitem.quantity_positive",
          """SELECT CASE WHEN l_quantity > 0 THEN 1 ELSE -1 END
            |    AS lead FROM lineitem""".stripMargin),
        row("orders.totalprice_positive",
          """SELECT CASE WHEN o_totalprice > 0 THEN 1 ELSE -1 END
            |    AS lead FROM orders""".stripMargin))
        .mkString("", "\nUNION ALL\n", "\nORDER BY constraint_name")
    },
    // Same per-column keyed reduces and exact 1% cross-multiplied
    // dictionary advice.
    "etl_column_cardinality" -> {
      def arm(c: String) =
        s"""SELECT '$c' AS column_name,
           |  CAST(sum(n) AS BIGINT) AS n_rows,
           |  count(*) AS n_distinct, max(n) AS top1_n,
           |  ROUND(CAST(max(n) AS DOUBLE)
           |    / CAST(sum(n) AS DOUBLE) * 10000) / 10000
           |    AS top1_share,
           |  count(*) * 100 <= CAST(sum(n) AS BIGINT) AS dict_advice
           |FROM (SELECT count(*) AS n FROM lineitem
           |  GROUP BY $c)""".stripMargin
      Seq("l_orderkey", "l_partkey", "l_suppkey", "l_linenumber",
          "l_quantity", "l_extendedprice", "l_discount", "l_tax",
          "l_returnflag", "l_linestatus")
        .map(arm).mkString("", "\nUNION ALL\n", "\nORDER BY column_name")
    },
    // Same childless-inclusive counts and exact 2×-mean
    // cross-multiplication.
    "etl_fanout_audit" -> {
      def one(rel: String, pt: String, pk: String, ct: String,
          fk: String) =
        s"""SELECT '$rel' AS relationship, a.n_parents, a.n_childless,
           |  a.n_children, a.max_fanout,
           |  ROUND(CAST(a.n_children AS DOUBLE)
           |    / CAST(a.n_parents AS DOUBLE) * 10000) / 10000
           |    AS mean_fanout,
           |  (SELECT count(*) FROM (SELECT count(c2.$fk) AS c
           |      FROM $pt p2 LEFT JOIN $ct c2 ON c2.$fk = p2.$pk
           |      GROUP BY p2.$pk) j2
           |    WHERE j2.c * a.n_parents > 2 * a.n_children)
           |    AS n_over_2x
           |FROM (SELECT count(*) AS n_parents,
           |    count(*) FILTER (WHERE c = 0) AS n_childless,
           |    CAST(sum(c) AS BIGINT) AS n_children,
           |    max(c) AS max_fanout
           |  FROM (SELECT count(c.$fk) AS c FROM $pt p
           |    LEFT JOIN $ct c ON c.$fk = p.$pk
           |    GROUP BY p.$pk)) a""".stripMargin
      Seq(one("customer->orders", "customer", "c_custkey",
          "orders", "o_custkey"),
        one("orders->lineitem", "orders", "o_orderkey",
          "lineitem", "l_orderkey"),
        one("part->lineitem", "part", "p_partkey",
          "lineitem", "l_partkey"))
        .mkString("", "\nUNION ALL\n", "\nORDER BY relationship")
    },
    "etl_fk_containment" ->
      """WITH u AS (
        |  SELECT 'lineitem.l_orderkey->orders.o_orderkey' AS pair, k,
        |      max(c) AS inc, max(p) AS inp FROM (
        |    SELECT DISTINCT l_orderkey AS k, 1 AS c, 0 AS p FROM lineitem
        |    UNION ALL
        |    SELECT DISTINCT o_orderkey, 0, 1 FROM orders) GROUP BY 2
        |  UNION ALL
        |  SELECT 'lineitem.l_partkey->part.p_partkey', k,
        |      max(c), max(p) FROM (
        |    SELECT DISTINCT l_partkey AS k, 1 AS c, 0 AS p FROM lineitem
        |    UNION ALL
        |    SELECT DISTINCT p_partkey, 0, 1 FROM part) GROUP BY 2
        |  UNION ALL
        |  SELECT 'orders.o_custkey->customer.c_custkey', k,
        |      max(c), max(p) FROM (
        |    SELECT DISTINCT o_custkey AS k, 1 AS c, 0 AS p FROM orders
        |    UNION ALL
        |    SELECT DISTINCT c_custkey, 0, 1 FROM customer) GROUP BY 2
        |  UNION ALL
        |  SELECT 'lineitem.l_quantity->part.p_partkey', k,
        |      max(c), max(p) FROM (
        |    SELECT DISTINCT CAST(l_quantity AS BIGINT) AS k, 1 AS c, 0 AS p
        |    FROM lineitem
        |    UNION ALL
        |    SELECT DISTINCT p_partkey, 0, 1 FROM part) GROUP BY 2)
        |SELECT pair, CAST(sum(inc) AS BIGINT) AS n_child,
        |  CAST(sum(inp) AS BIGINT) AS n_parent,
        |  CAST(sum(inc * inp) AS BIGINT) AS n_common,
        |  ROUND(CAST(sum(inc * inp) AS DOUBLE) / CAST(sum(inc) AS DOUBLE)
        |    * 10000.0) / 10000.0 AS containment
        |FROM u GROUP BY pair ORDER BY pair""".stripMargin,
    // Same dirty-batch derivation; each check spelled as its own CTE.
    "etl_dq_report" ->
      """WITH dirty AS (SELECT
        |    CASE WHEN o_orderkey % 43 = 0 THEN o_orderkey - 1
        |         ELSE o_orderkey END AS key,
        |    CASE WHEN o_orderkey % 31 = 0 THEN -o_custkey - 1
        |         ELSE o_custkey END AS cust,
        |    CASE WHEN o_orderkey % 37 = 0 THEN NULL
        |         ELSE o_orderstatus END AS status,
        |    CASE WHEN o_orderkey % 41 = 0 THEN -o_totalprice
        |         ELSE o_totalprice END AS price
        |  FROM orders),
        |n AS (SELECT count(*) AS n_rows FROM dirty),
        |checks AS (
        |  SELECT 'status_not_null' AS "check",
        |    count(*) FILTER (status IS NULL) AS n_violations FROM dirty
        |  UNION ALL
        |  SELECT 'price_non_negative', count(*) FILTER (price < 0) FROM dirty
        |  UNION ALL
        |  SELECT 'key_unique', count(*) - count(DISTINCT key) FROM dirty
        |  UNION ALL
        |  SELECT 'cust_not_null', count(*) FILTER (cust IS NULL) FROM dirty
        |  UNION ALL
        |  SELECT 'fk_cust_exists', count(*) FROM dirty
        |  WHERE NOT EXISTS (SELECT 1 FROM customer WHERE c_custkey = cust))
        |SELECT "check", n_violations, n_rows,
        |  CASE WHEN n_violations = 0 THEN 'pass' ELSE 'fail' END AS status
        |FROM checks CROSS JOIN n ORDER BY "check"""".stripMargin,
    // Exact per-column counts; one division per row.
    "etl_skew_report" ->
      """WITH a AS (SELECT 'lineitem.l_orderkey' AS fk,
        |    count(*) AS n_keys,
        |    CAST(sum(c) AS BIGINT) AS n_rows,
        |    CAST(max(c) AS BIGINT) AS max_per_key
        |  FROM (SELECT l_orderkey, count(*) AS c FROM lineitem
        |    GROUP BY 1)),
        |b AS (SELECT 'lineitem.l_partkey', count(*),
        |    CAST(sum(c) AS BIGINT), CAST(max(c) AS BIGINT)
        |  FROM (SELECT l_partkey, count(*) AS c FROM lineitem
        |    GROUP BY 1)),
        |c AS (SELECT 'orders.o_custkey', count(*),
        |    CAST(sum(c) AS BIGINT), CAST(max(c) AS BIGINT)
        |  FROM (SELECT o_custkey, count(*) AS c FROM orders
        |    GROUP BY 1)),
        |u AS (SELECT * FROM a UNION ALL SELECT * FROM b
        |  UNION ALL SELECT * FROM c)
        |SELECT fk, n_keys, n_rows, max_per_key,
        |  ROUND(CAST(max_per_key * n_keys AS DOUBLE)
        |    / CAST(n_rows AS DOUBLE) * 10000) / 10000 AS skew_factor
        |FROM u ORDER BY fk""".stripMargin,
    // Same synthetic snapshot pair; null-safe per-column counters in
    // one reduce.
    "etl_column_churn" ->
      """WITH old AS (SELECT c_custkey AS key, c_name AS name,
        |    c_mktsegment AS seg, c_acctbal AS bal FROM customer),
        |nw AS (
        |  SELECT key, name,
        |    CASE WHEN key % 21 = 0 THEN 'MOVED' ELSE seg END AS seg,
        |    CASE WHEN key % 7 = 0 THEN bal + 100.0 ELSE bal END AS bal
        |  FROM old WHERE key % 13 <> 0
        |  UNION ALL
        |  SELECT -key - 1, 'new-' || key, seg, bal FROM old
        |  WHERE key % 11 = 0),
        |j AS (SELECT o.name AS o_name, o.seg AS o_seg, o.bal AS o_bal,
        |    n.name AS n_name, n.seg AS n_seg, n.bal AS n_bal,
        |    o.name IS NOT NULL AND n.name IS NOT NULL AS m
        |  FROM old o FULL OUTER JOIN nw n ON o.key = n.key)
        |SELECT count(*) AS n_keys,
        |  count(*) FILTER (WHERE o_name IS NULL) AS n_added,
        |  count(*) FILTER (WHERE n_name IS NULL) AS n_removed,
        |  count(*) FILTER (WHERE m AND o_name IS DISTINCT FROM n_name)
        |    AS chg_name,
        |  count(*) FILTER (WHERE m AND o_seg IS DISTINCT FROM n_seg)
        |    AS chg_seg,
        |  count(*) FILTER (WHERE m AND o_bal IS DISTINCT FROM n_bal)
        |    AS chg_bal,
        |  count(*) FILTER (WHERE m
        |    AND o_name IS NOT DISTINCT FROM n_name
        |    AND o_seg IS NOT DISTINCT FROM n_seg
        |    AND o_bal IS NOT DISTINCT FROM n_bal) AS n_same
        |FROM j""".stripMargin,
    "etl_snapshot_diff" ->
      """WITH old AS (SELECT c_custkey AS key, c_name AS name,
        |    c_mktsegment AS seg, c_acctbal AS bal FROM customer),
        |nw AS (
        |  SELECT key, name,
        |    CASE WHEN key % 21 = 0 THEN 'MOVED' ELSE seg END AS seg,
        |    CASE WHEN key % 7 = 0 THEN bal + 100.0 ELSE bal END AS bal
        |  FROM old WHERE key % 13 <> 0
        |  UNION ALL
        |  SELECT -key - 1, 'new-' || key, seg, bal FROM old
        |  WHERE key % 11 = 0),
        |j AS (SELECT coalesce(o.key, n.key) AS key,
        |    o.name AS o_name, o.seg AS o_seg, o.bal AS o_bal,
        |    n.name AS n_name, n.seg AS n_seg, n.bal AS n_bal
        |  FROM old o FULL OUTER JOIN nw n ON o.key = n.key),
        |c AS (SELECT *, CASE WHEN o_name IS NULL THEN 'added'
        |    WHEN n_name IS NULL THEN 'removed'
        |    WHEN o_name IS DISTINCT FROM n_name
        |      OR o_seg IS DISTINCT FROM n_seg
        |      OR o_bal IS DISTINCT FROM n_bal THEN 'changed'
        |    ELSE 'same' END AS change_type FROM j)
        |SELECT key, change_type,
        |  concat_ws(',',
        |    CASE WHEN change_type = 'changed'
        |      AND o_name IS DISTINCT FROM n_name THEN 'name' END,
        |    CASE WHEN change_type = 'changed'
        |      AND o_seg IS DISTINCT FROM n_seg THEN 'seg' END,
        |    CASE WHEN change_type = 'changed'
        |      AND o_bal IS DISTINCT FROM n_bal THEN 'bal' END) AS changed_cols,
        |  o_bal, n_bal
        |FROM c WHERE change_type <> 'same' ORDER BY key""".stripMargin,
    "etl_upsert_type1" ->
      s"""WITH upd AS (
         |  SELECT CASE WHEN o_custkey % 10 = 0 THEN -o_custkey - 1
         |              ELSE o_custkey END AS key, spend
         |  FROM (SELECT o_custkey, ${sqlSum("o_totalprice")} AS spend
         |        FROM orders GROUP BY 1)),
         |base AS (SELECT c_custkey AS key, c_name AS name,
         |         c_acctbal AS acctbal FROM customer)
         |SELECT key,
         |  coalesce(name, 'new-' || CAST(key AS VARCHAR)) AS name,
         |  CASE WHEN spend IS NULL THEN acctbal
         |       ELSE ROUND(spend / 100.0 * 10000) / 10000 END AS acctbal,
         |  CASE WHEN spend IS NULL THEN 'keep'
         |       WHEN name IS NULL THEN 'insert'
         |       ELSE 'update' END AS op
         |FROM base FULL OUTER JOIN upd USING (key)
         |ORDER BY key""".stripMargin,
    "etl_gaps_islands" ->
      """WITH e AS (SELECT user_id, event_id, event_type, epoch_ms(ts) AS ms
        |  FROM events),
        |flagged AS (SELECT *, CASE WHEN lag(event_type, 1) OVER w = event_type
        |    THEN 0 ELSE 1 END AS chg
        |  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ms, event_id)),
        |isl AS (SELECT *, SUM(chg) OVER (PARTITION BY user_id
        |    ORDER BY ms, event_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS island
        |  FROM flagged)
        |SELECT user_id, CAST(island AS BIGINT) AS island, event_type,
        |  count(*) AS n_events, min(ms) AS start_ms, max(ms) AS end_ms
        |FROM isl GROUP BY 1, 2, 3 ORDER BY user_id, island""".stripMargin,
    "etl_scd2_history" ->
      """WITH e AS (SELECT user_id, event_id, event_type, epoch_ms(ts) AS ms
        |  FROM events),
        |flagged AS (SELECT *, CASE WHEN lag(event_type, 1) OVER w = event_type
        |    THEN 0 ELSE 1 END AS chg
        |  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ms, event_id)),
        |isl AS (SELECT *, SUM(chg) OVER (PARTITION BY user_id
        |    ORDER BY ms, event_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS version
        |  FROM flagged),
        |hist AS (SELECT user_id, CAST(version AS BIGINT) AS version,
        |    event_type AS state, min(ms) AS effective_from,
        |    count(*) AS n_events
        |  FROM isl GROUP BY 1, 2, 3)
        |SELECT user_id, version, state, effective_from,
        |  lead(effective_from, 1) OVER w2 AS effective_to,
        |  CASE WHEN lead(effective_from, 1) OVER w2 IS NULL THEN 1 ELSE 0
        |    END AS is_current, n_events
        |FROM hist WINDOW w2 AS (PARTITION BY user_id ORDER BY version)
        |ORDER BY user_id, version""".stripMargin,
    // The incremental apply's oracle IS the full recompute — identical
    // SQL to etl_scd2_history. That identity is the point: the
    // incremental composition must be indistinguishable from
    // re-windowing all of history.
    "etl_scd2_incremental" ->
      """WITH e AS (SELECT user_id, event_id, event_type, epoch_ms(ts) AS ms
        |  FROM events),
        |flagged AS (SELECT *, CASE WHEN lag(event_type, 1) OVER w = event_type
        |    THEN 0 ELSE 1 END AS chg
        |  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ms, event_id)),
        |isl AS (SELECT *, SUM(chg) OVER (PARTITION BY user_id
        |    ORDER BY ms, event_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS version
        |  FROM flagged),
        |hist AS (SELECT user_id, CAST(version AS BIGINT) AS version,
        |    event_type AS state, min(ms) AS effective_from,
        |    count(*) AS n_events
        |  FROM isl GROUP BY 1, 2, 3)
        |SELECT user_id, version, state, effective_from,
        |  lead(effective_from, 1) OVER w2 AS effective_to,
        |  CASE WHEN lead(effective_from, 1) OVER w2 IS NULL THEN 1 ELSE 0
        |    END AS is_current, n_events
        |FROM hist WINDOW w2 AS (PARTITION BY user_id ORDER BY version)
        |ORDER BY user_id, version""".stripMargin,
    "etl_cdc_apply" ->
      """WITH base AS (SELECT c_custkey AS key, c_name AS name,
        |    c_acctbal AS acctbal FROM customer),
        |cdc AS (SELECT
        |    CASE WHEN o_custkey % 10 = 0 THEN -o_custkey - 1
        |         ELSE o_custkey END AS key,
        |    o_orderkey AS version,
        |    CASE WHEN o_orderkey % 7 = 0 THEN 'D' ELSE 'U' END AS op,
        |    ROUND(o_totalprice / 100.0 * 10000) / 10000 AS new_bal
        |  FROM orders),
        |latest AS (SELECT key, version, op, new_bal FROM (
        |    SELECT *, row_number() OVER (PARTITION BY key
        |      ORDER BY version DESC) AS rn FROM cdc) WHERE rn = 1)
        |SELECT coalesce(b.key, l.key) AS key,
        |  coalesce(b.name, 'new-' || coalesce(b.key, l.key)) AS name,
        |  CASE WHEN l.op = 'U' THEN l.new_bal ELSE b.acctbal END AS acctbal,
        |  CASE WHEN l.op IS NULL THEN 'keep'
        |       WHEN b.acctbal IS NULL THEN 'insert'
        |       ELSE 'update' END AS action,
        |  l.version AS version
        |FROM base b FULL OUTER JOIN latest l ON b.key = l.key
        |WHERE l.op IS NULL OR l.op <> 'D'
        |ORDER BY key""".stripMargin,
    // History CTE = the scd2 windowing over non-purchase events; the
    // join spells the half-open interval predicate directly.
    "etl_pit_join" ->
      """WITH e AS (SELECT user_id, event_id, event_type, epoch_ms(ts) AS ms
        |  FROM events),
        |st AS (SELECT user_id, event_id, event_type, ms,
        |  CASE WHEN lag(event_type) OVER w = event_type THEN 0 ELSE 1
        |    END AS chg
        |  FROM e WHERE event_type <> 'purchase'
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ms, event_id)),
        |v AS (SELECT user_id, event_type, ms,
        |  CAST(sum(chg) OVER (PARTITION BY user_id ORDER BY ms, event_id
        |    ROWS UNBOUNDED PRECEDING) AS BIGINT) AS version FROM st),
        |hist AS (SELECT user_id, version, event_type AS state,
        |    min(ms) AS eff_from
        |  FROM v GROUP BY 1, 2, 3),
        |hist2 AS (SELECT *, lead(eff_from) OVER (PARTITION BY user_id
        |    ORDER BY version) AS eff_to FROM hist),
        |p AS (SELECT user_id, event_id, ms FROM e
        |  WHERE event_type = 'purchase')
        |SELECT p.event_id, p.user_id, p.ms,
        |  coalesce(h.state, 'none') AS state,
        |  coalesce(h.version, 0) AS version
        |FROM p LEFT JOIN hist2 h ON p.user_id = h.user_id
        |  AND p.ms >= h.eff_from
        |  AND (h.eff_to IS NULL OR p.ms < h.eff_to)
        |ORDER BY event_id""".stripMargin,
    // Same injected corruption; the three orphan counts from one pass
    // of left joins, unpivoted to relation rows.
    "etl_orphan_audit" ->
      """WITH c AS (SELECT
        |    CASE WHEN l_orderkey % 19 = 0 THEN -l_partkey - 1
        |         ELSE l_partkey END AS fk_part,
        |    CASE WHEN l_orderkey % 23 = 0 THEN -l_suppkey - 1
        |         ELSE l_suppkey END AS fk_supp,
        |    CASE WHEN l_orderkey % 29 = 0 THEN -l_orderkey - 1
        |         ELSE l_orderkey END AS fk_order
        |  FROM lineitem),
        |a AS (SELECT count(*) AS n_rows,
        |    count(CASE WHEN p.p_partkey IS NULL THEN 1 END) AS o_part,
        |    count(CASE WHEN s.s_suppkey IS NULL THEN 1 END) AS o_supp,
        |    count(CASE WHEN o.o_orderkey IS NULL THEN 1 END) AS o_ord
        |  FROM c
        |  LEFT JOIN part p ON c.fk_part = p.p_partkey
        |  LEFT JOIN supplier s ON c.fk_supp = s.s_suppkey
        |  LEFT JOIN orders o ON c.fk_order = o.o_orderkey),
        |u AS (SELECT 'lineitem->part' AS relation, n_rows,
        |    o_part AS n_orphans FROM a
        |  UNION ALL SELECT 'lineitem->supplier', n_rows, o_supp FROM a
        |  UNION ALL SELECT 'lineitem->orders', n_rows, o_ord FROM a)
        |SELECT relation, n_rows, n_orphans,
        |  ROUND((n_orphans / n_rows) * 10000.0) / 10000.0 AS orphan_pct
        |FROM u ORDER BY relation""".stripMargin,
    "etl_surrogate_keys" ->
      """WITH p AS (SELECT l_partkey, l_suppkey, count(*) AS n_facts
        |  FROM lineitem GROUP BY 1, 2)
        |SELECT row_number() OVER (ORDER BY l_partkey, l_suppkey) AS sk,
        |  l_partkey, l_suppkey, n_facts
        |FROM p ORDER BY sk""".stripMargin,
    "etl_fk_repair" ->
      s"""WITH c AS (SELECT
         |    CASE WHEN l_orderkey % 19 = 0 THEN -l_partkey - 1
         |         ELSE l_partkey END AS fk_part,
         |    l_extendedprice
         |  FROM lineitem)
         |SELECT COALESCE(p.p_brand, 'UNKNOWN') AS brand,
         |  count(*) AS n_lines,
         |  count(CASE WHEN p.p_partkey IS NULL THEN 1 END) AS n_repaired,
         |  ${sqlSum("l_extendedprice")} AS revenue
         |FROM c LEFT JOIN part p ON c.fk_part = p.p_partkey
         |GROUP BY 1 ORDER BY brand""".stripMargin,
    // The gaps-islands CTE chain, island-ordered lag, last-island
    // filter — same total (ms, event_id) order throughout.
    "etl_scd3_prev_value" ->
      """WITH e AS (SELECT user_id, event_id, event_type, epoch_ms(ts) AS ms
        |  FROM events),
        |f AS (SELECT user_id, event_id, event_type, ms,
        |  CASE WHEN lag(event_type) OVER w IS NULL
        |       OR event_type <> lag(event_type) OVER w
        |    THEN 1 ELSE 0 END AS chg
        |  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ms, event_id)),
        |s AS (SELECT user_id, event_type, ms,
        |  CAST(sum(chg) OVER (PARTITION BY user_id ORDER BY ms, event_id
        |    ROWS UNBOUNDED PRECEDING) AS BIGINT) AS island
        |  FROM f),
        |i AS (SELECT user_id, island, min(ms) AS start_ms,
        |    max(event_type) AS state
        |  FROM s GROUP BY 1, 2),
        |x AS (SELECT user_id, island, start_ms, state,
        |    lag(state) OVER (PARTITION BY user_id ORDER BY island)
        |      AS prev_state,
        |    max(island) OVER (PARTITION BY user_id) AS nmax
        |  FROM i)
        |SELECT user_id, state AS cur_state, start_ms AS cur_since_ms,
        |  prev_state, nmax AS n_changes
        |FROM x WHERE island = nmax ORDER BY user_id""".stripMargin,
    "etl_partition_profile" ->
      s"""SELECT ${graft.Det.sqlEpochDay("ts")} AS day,
         |  count(*) AS n_rows,
         |  count(DISTINCT user_id) AS n_users,
         |  ${sqlSum("value")} AS sum_value,
         |  min(event_id) AS min_event_id,
         |  max(event_id) AS max_event_id
         |FROM events GROUP BY 1 ORDER BY day""".stripMargin,
    // The oracle is the FULL single-pass recompute — passing proves
    // the stored-partials merge is exactly the recomputed table.
    "etl_incremental_agg_merge" ->
      s"""SELECT event_type, ${graft.Det.sqlEpochDay("ts")} AS day,
         |  count(*) AS n, ${graft.Det.sqlSum("value")} AS sum_value
         |FROM events GROUP BY 1, 2
         |ORDER BY event_type, day""".stripMargin
  )
}
