package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables.{t, events, epochDay}
import graft.Det._

/** §2.5 Window functions (SURVEY.md). Every window is PARTITION BY + a
  * totally-ordered ORDER BY (unique tie-break), per the determinism
  * contract. Partitioned windows scale: one shuffle on the partition key,
  * then per-partition sort. `win_percent_cume` is the one GLOBAL ranking —
  * it routes through plans/GlobalRank (two-pass range-partitioned ranks +
  * stitched per-partition offsets), so no single-partition window exists
  * anywhere in the declared surface (pinned in PlanAuditSpec).
  */
object WindowQueries {
  type Q = (SparkSession, String) => DataFrame

  // Canonical windows: orders per customer, events per user.
  private def wOrd = Window.partitionBy(col("o_custkey"))
    .orderBy(col("o_orderdate"), col("o_orderkey"))
  private val ordSql = "PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey"

  val queries: Map[String, Q] = Map(
    // TIME TO NEXT PURCHASE (§2.126) — after each event, how long
    // until the user's next purchase? The reversed EXCLUSIVE running
    // min (ORDER BY ms DESC, id DESC; frame ends 1 PRECEDING) finds
    // the earliest strictly-later purchase per row in one per-user
    // window pass — no self-join, no explode — then the per-type
    // summary takes exact percentile_disc order statistics over the
    // integer-ms latencies. The window partitions per user (bounded),
    // the reduce per type.
    "win_time_to_next_purchase" -> ((s, dir) => {
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("ms").desc, col("event_id").desc)
        .rowsBetween(Window.unboundedPreceding, -1)
      events(s, dir)
        .select(col("user_id"), col("event_type"), col("event_id"),
          unix_millis(col("ts").cast("timestamp")).as("ms"))
        .withColumn("nxt", min(when(col("event_type") === "purchase",
          col("ms"))).over(w))
        .filter(col("nxt").isNotNull)
        .select(col("event_type"), (col("nxt") - col("ms")).as("lat"))
        .createOrReplaceTempView("events_ttnp")
      s.sql("""SELECT event_type, count(*) AS n_with_next,
        |  CAST(percentile_disc(0.5) WITHIN GROUP (ORDER BY lat)
        |    AS BIGINT) AS median_ms,
        |  CAST(percentile_disc(0.9) WITHIN GROUP (ORDER BY lat)
        |    AS BIGINT) AS p90_ms
        |FROM events_ttnp GROUP BY event_type
        |ORDER BY event_type""".stripMargin)
    }),

    // REORDER GAP (§2.162) — repeat-purchase cadence: the
    // day-granular gap between each customer's consecutive ORDERS
    // (win_time_to_next_purchase profiles the event stream; this
    // profiles the order book), summarized as the global gap
    // distribution — repeat-customer count, mean, §1.3-cast p50/p90
    // order statistics, max. One customer-partitioned lag window,
    // exact integer epoch-day gaps.
    "win_reorder_gap_stats" -> ((s, dir) => {
      val w = Window.partitionBy(col("o_custkey"))
        .orderBy(col("od"), col("o_orderkey"))
      t(s, dir, "orders")
        .select(col("o_custkey"), col("o_orderkey"),
          epochDay("o_orderdate").as("od"))
        .withColumn("gap", col("od") - lag(col("od"), 1).over(w))
        .filter(col("gap").isNotNull)
        .createOrReplaceTempView("wrg_gaps")
      s.sql("""SELECT count(DISTINCT o_custkey) AS n_repeat_customers,
        |  count(*) AS n_gaps,
        |  ROUND(CAST(sum(gap) AS DOUBLE) / CAST(count(*) AS DOUBLE)
        |    * 10000) / 10000 AS mean_gap_days,
        |  CAST(percentile_disc(0.5) WITHIN GROUP (ORDER BY gap)
        |    AS BIGINT) AS p50_gap_days,
        |  CAST(percentile_disc(0.9) WITHIN GROUP (ORDER BY gap)
        |    AS BIGINT) AS p90_gap_days,
        |  max(gap) AS max_gap_days
        |FROM wrg_gaps""".stripMargin)
    }),

    "win_row_number" -> ((s, dir) => {
      t(s, dir, "orders")
        .select(col("o_custkey"), col("o_orderkey"),
          row_number().over(wOrd).cast("long").as("rn"))
        .orderBy(col("o_custkey"), col("rn"))
    }),

    // rank/dense_rank over price alone (ties share ranks); output order
    // fully tie-broken separately.
    "win_rank_dense" -> ((s, dir) => {
      val w = Window.partitionBy(col("o_custkey")).orderBy(col("o_totalprice").desc)
      t(s, dir, "orders")
        .select(col("o_custkey"), col("o_orderkey"), col("o_totalprice"),
          rank().over(w).cast("long").as("rnk"),
          dense_rank().over(w).cast("long").as("drnk"))
        .orderBy(col("o_custkey"), col("o_orderkey"))
    }),

    "win_ntile" -> ((s, dir) => {
      val w = Window.partitionBy(col("c_mktsegment"))
        .orderBy(col("c_acctbal"), col("c_custkey"))
      t(s, dir, "customer")
        .select(col("c_mktsegment"), col("c_custkey"), col("c_acctbal"),
          ntile(4).over(w).cast("long").as("quartile"))
        .orderBy(col("c_mktsegment"), col("c_custkey"))
    }),

    "win_lag_lead" -> ((s, dir) => {
      t(s, dir, "orders")
        .select(col("o_custkey"), col("o_orderkey"),
          coalesce(datediff(col("o_orderdate").cast("date"),
            lag(col("o_orderdate"), 1).over(wOrd).cast("date")).cast("long"),
            lit(-1L)).as("gap_days"),
          coalesce(lead(col("o_orderpriority"), 1).over(wOrd), lit("NONE"))
            .as("next_priority"))
        .orderBy(col("o_custkey"), col("o_orderkey"))
    }),

    "win_running_sum" -> ((s, dir) => {
      val w = wOrd.rowsBetween(Window.unboundedPreceding, Window.currentRow)
      t(s, dir, "orders")
        .select(col("o_custkey"), col("o_orderkey"),
          round(sum(col("o_totalprice").cast(D)).over(w), 4).cast("double")
            .as("run_total"))
        .orderBy(col("o_custkey"), col("o_orderkey"))
    }),

    "win_moving_avg" -> ((s, dir) => {
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("ts"), col("event_id")).rowsBetween(-2, 0)
      events(s, dir)
        .select(col("user_id"), col("event_id"),
          r4d(sum(col("value").cast(D)).over(w).cast("double")
            / count(lit(1)).over(w)).as("mavg3"))
        .orderBy(col("user_id"), col("event_id"))
    }),

    // RANGE frame over epoch-day: orders within the 30 preceding days.
    // TIME-INTERVAL RANGE FRAME (§2.60) — the frame win_range_frame
    // deliberately approximates away: a TRUE `RANGE BETWEEN INTERVAL 7
    // DAYS PRECEDING` over the raw TIMESTAMP ordering (the epoch-day
    // integer range there quantizes to midnight boundaries; the
    // interval frame is event-time-exact, the "trailing 7×24h spend"
    // a risk engine actually means). Interval range frames are their
    // own SQL/Catalyst surface (calendar-interval bound resolution on
    // the ORDER BY type), only reachable through SQL text — the
    // DataFrame Window API takes long bounds only. RANGE semantics
    // also include ts-PEERS of the current row, so ties need no
    // tie-break: the frame is identical for every peer. Decimal-exact
    // sum, one round at the edge.
    "win_range_time_frame" -> ((s, dir) => {
      events(s, dir).createOrReplaceTempView("graft_ev_rtf")
      s.sql("""SELECT event_id,
        |  count(*) OVER w AS n_7d,
        |  CAST(ROUND(sum(CAST(value AS DECIMAL(38,6))) OVER w, 4)
        |    AS DOUBLE) AS sum_7d
        |FROM graft_ev_rtf
        |WINDOW w AS (PARTITION BY user_id ORDER BY ts
        |  RANGE BETWEEN INTERVAL 7 DAY PRECEDING AND CURRENT ROW)
        |ORDER BY event_id""".stripMargin)
    }),

    "win_range_frame" -> ((s, dir) => {
      val eday = datediff(col("o_orderdate").cast("date"),
        lit("1970-01-01").cast("date"))
      val w = Window.partitionBy(col("o_custkey")).orderBy(col("eday"))
        .rangeBetween(-30, 0)
      t(s, dir, "orders").withColumn("eday", eday)
        .select(col("o_custkey"), col("o_orderkey"),
          round(sum(col("o_totalprice").cast(D)).over(w), 4).cast("double")
            .as("sum_30d"),
          count(lit(1)).over(w).as("n_30d"))
        .orderBy(col("o_custkey"), col("o_orderkey"))
    }),

    // Global percent_rank/cume_dist via the two-pass GlobalRank operator
    // (plans/GlobalRank.scala): range exchange + per-partition offsets
    // instead of `Window.orderBy(price)`'s single-partition funnel —
    // same results (parity proven in GlobalRankSpec), but every task
    // holds O(largest tie run) rather than O(N). PlanAuditSpec pins the
    // absence of a partition-less Window in the executed plan.
    "win_percent_cume" -> ((s, dir) => {
      graft.plans.GlobalRank.percentCume(
          t(s, dir, "orders").select(col("o_orderkey"), col("o_totalprice")),
          "o_totalprice")
        .select(col("o_orderkey"), col("o_totalprice"),
          r4d(col("pr")).as("pr"), r4d(col("cd")).as("cd"))
        .orderBy(col("o_orderkey"))
    }),

    // MATCH_RECOGNIZE-lite: CONSECUTIVE event-sequence detection (the
    // complement of funnel_stages, whose stages may be arbitrarily far
    // apart): every run of exactly (view, click, purchase) in a user's
    // timeline, reported with its span. Two lead() columns over ONE
    // user-keyed window — the row-pattern automaton for a fixed-length
    // pattern compiles to leads, so detection costs a single exchange
    // and no self-joins (the naive 3-way self-join would shuffle the
    // event table three times). Non-vacuous at every SF (7/76/771
    // matches); (ms, event_id) ordering per the determinism contract.
    "win_pattern_match" -> ((s, dir) => {
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("ms"), col("event_id"))
      events(s, dir)
        .select(col("user_id"), col("event_id"), col("event_type"),
          unix_millis(col("ts").cast("timestamp")).as("ms"))
        .withColumn("t1", lead(col("event_type"), 1).over(w))
        .withColumn("t2", lead(col("event_type"), 2).over(w))
        .withColumn("ms2", lead(col("ms"), 2).over(w))
        .filter(col("event_type") === "view" && col("t1") === "click" &&
          col("t2") === "purchase")
        .select(col("user_id"), col("event_id").as("start_event_id"),
          col("ms").as("start_ms"), (col("ms2") - col("ms")).as("span_ms"))
        .orderBy("user_id", "start_event_id")
    }),

    "win_first_last_value" -> ((s, dir) => {
      val w = wOrd.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
      t(s, dir, "orders")
        .select(col("o_custkey"), col("o_orderkey"),
          first(col("o_totalprice")).over(w).as("first_price"),
          last(col("o_totalprice")).over(w).as("last_price"))
        .orderBy(col("o_custkey"), col("o_orderkey"))
    }),

    // FORWARD FILL — `last_value(x) IGNORE NULLS` over the trailing
    // frame: THE standard sparse-series densification (sensor/price
    // carry-forward — ts_interpolate_linear estimates BETWEEN points;
    // fill-forward repeats the last OBSERVED one, the
    // last-observation-carried-forward contract). The IGNORE NULLS
    // modifier is its own SQL surface — without it last_value returns
    // the frame's literal last row (usually the current NULL). NULLs
    // injected deterministically (event_id ≡ 0 mod 3 — the
    // filter_null_semantics device); leading NULLs before any
    // observation stay NULL by contract.
    "win_fill_forward" -> ((s, dir) => {
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("ts"), col("event_id"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      events(s, dir)
        .select(col("user_id"), col("event_id"), col("ts"),
          when(pmod(col("event_id"), lit(3)) === 0, lit(null))
            .otherwise(col("value")).as("v"))
        .select(col("user_id"), col("event_id"), col("v").as("observed"),
          last(col("v"), ignoreNulls = true).over(w).as("filled"))
        .orderBy(col("user_id"), col("event_id"))
    }),

    // nth_value over the full frame — the remaining member of the
    // value-window family next to first/last: each customer's 2nd
    // order price by date (NULL for single-order customers — both
    // engines agree 1-based, NULL past the frame end). Same shared
    // (o_custkey × date, key) window spec, same single exchange.
    "win_nth_value" -> ((s, dir) => {
      val w = wOrd.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
      t(s, dir, "orders")
        .select(col("o_custkey"), col("o_orderkey"),
          nth_value(col("o_totalprice"), 2).over(w).as("second_price"))
        .orderBy(col("o_custkey"), col("o_orderkey"))
    }),

    // Runs through the custom TopKPerGroup LogicalPlan/SparkStrategy
    // operator (plans/TopKPerGroup.scala): bounded-heap partial pass
    // before the exchange shuffles ≤ k rows per (group × partition)
    // instead of window-sorting every row. The trailing row_number only
    // ranks the ≤ 3 surviving rows per group, and the operator preserves
    // the exchange's clustering, so it adds a sort but no new shuffle.
    // Proven equal to the window form in TopKSpec; plan pinned in
    // PlanAuditSpec.
    // Same result as the window rank-limit idiom a user would write —
    // and that IS what this declares. The TopKPushdownRule optimizer
    // rule (plans/TopKPushdown.scala), which GraftSession.harness
    // installs in every harness session, rewrites the Filter(rn <= 2) over
    // the Window into TopKPerGroupNode, so the plan is the bounded-heap
    // two-phase operator + a re-window over ≤ 2 rows per group (no extra
    // exchange or sort — the operator passes both through). Plan pinned
    // in PlanAuditSpec; rule unit-tested in TopKPushdownSpec.
    "topk_pushdown_rank" -> ((s, dir) => {
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("value").desc, col("event_id"))
      events(s, dir)
        .select(col("user_id"), col("event_id"), col("value"),
          row_number().over(w).cast("long").as("rn"))
        .filter(col("rn") <= 2)
        .orderBy(col("user_id"), col("rn"))
    }),

    "topk_per_group" -> ((s, dir) => {
      val top = graft.plans.TopKPerGroup(
        t(s, dir, "orders")
          .select(col("o_custkey"), col("o_orderkey"), col("o_totalprice")),
        k = 3, partNames = Seq("o_custkey"),
        orderSpec = Seq(("o_totalprice", false), ("o_orderkey", true)))
      val w = Window.partitionBy(col("o_custkey"))
        .orderBy(col("o_totalprice").desc, col("o_orderkey"))
      top.withColumn("rn", row_number().over(w))
        .select(col("o_custkey"), col("o_orderkey"), col("o_totalprice"),
          col("rn").cast("long").as("rn"))
        .orderBy(col("o_custkey"), col("rn"))
    })
  )

  val oracle: Map[String, String] = Map(
    // Same lag-window gaps, same order statistics.
    "win_reorder_gap_stats" ->
      """WITH o AS (SELECT o_custkey, o_orderkey,
        |    epoch_ms(o_orderdate) // 86400000 AS od FROM orders),
        |g AS (SELECT o_custkey,
        |    od - lag(od) OVER (PARTITION BY o_custkey
        |      ORDER BY od, o_orderkey) AS gap
        |  FROM o)
        |SELECT count(DISTINCT o_custkey) AS n_repeat_customers,
        |  count(*) AS n_gaps,
        |  ROUND(CAST(CAST(sum(gap) AS BIGINT) AS DOUBLE)
        |    / CAST(count(*) AS DOUBLE) * 10000) / 10000 + 0.0
        |    AS mean_gap_days,
        |  CAST(percentile_disc(0.5) WITHIN GROUP (ORDER BY gap)
        |    AS BIGINT) AS p50_gap_days,
        |  CAST(percentile_disc(0.9) WITHIN GROUP (ORDER BY gap)
        |    AS BIGINT) AS p90_gap_days,
        |  max(gap) AS max_gap_days
        |FROM g WHERE gap IS NOT NULL""".stripMargin,
    // Same reversed exclusive running min and exact order stats.
    "win_time_to_next_purchase" ->
      """WITH e AS (SELECT user_id, event_type, event_id,
        |    epoch_ms(ts) AS ms FROM events),
        |x AS (SELECT event_type,
        |    min(CASE WHEN event_type = 'purchase' THEN ms END)
        |      OVER (PARTITION BY user_id ORDER BY ms DESC, event_id DESC
        |        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
        |      - ms AS lat0,
        |    min(CASE WHEN event_type = 'purchase' THEN ms END)
        |      OVER (PARTITION BY user_id ORDER BY ms DESC, event_id DESC
        |        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
        |      AS nxt
        |  FROM e)
        |SELECT event_type, count(*) AS n_with_next,
        |  percentile_disc(0.5) WITHIN GROUP (ORDER BY lat0)
        |    AS median_ms,
        |  percentile_disc(0.9) WITHIN GROUP (ORDER BY lat0) AS p90_ms
        |FROM x WHERE nxt IS NOT NULL
        |GROUP BY event_type ORDER BY event_type""".stripMargin,
    "win_pattern_match" ->
      """WITH e AS (SELECT user_id, event_id, event_type, epoch_ms(ts) AS ms
        |  FROM events),
        |w AS (SELECT *, lead(event_type, 1) OVER w AS t1,
        |    lead(event_type, 2) OVER w AS t2, lead(ms, 2) OVER w AS ms2
        |  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ms, event_id))
        |SELECT user_id, event_id AS start_event_id, ms AS start_ms,
        |  ms2 - ms AS span_ms
        |FROM w WHERE event_type = 'view' AND t1 = 'click'
        |  AND t2 = 'purchase'
        |ORDER BY user_id, start_event_id""".stripMargin,
    "win_row_number" ->
      s"""SELECT o_custkey, o_orderkey, row_number() OVER ($ordSql) AS rn
         |FROM orders ORDER BY o_custkey, rn""".stripMargin,
    "win_rank_dense" ->
      """SELECT o_custkey, o_orderkey, o_totalprice,
        |  rank() OVER (PARTITION BY o_custkey ORDER BY o_totalprice DESC) AS rnk,
        |  dense_rank() OVER (PARTITION BY o_custkey ORDER BY o_totalprice DESC) AS drnk
        |FROM orders ORDER BY o_custkey, o_orderkey""".stripMargin,
    "win_ntile" ->
      """SELECT c_mktsegment, c_custkey, c_acctbal,
        |  ntile(4) OVER (PARTITION BY c_mktsegment ORDER BY c_acctbal, c_custkey) AS quartile
        |FROM customer ORDER BY c_mktsegment, c_custkey""".stripMargin,
    "win_lag_lead" ->
      s"""SELECT o_custkey, o_orderkey,
         |  coalesce(date_diff('day',
         |    CAST(lag(o_orderdate, 1) OVER ($ordSql) AS DATE),
         |    CAST(o_orderdate AS DATE)), -1) AS gap_days,
         |  coalesce(lead(o_orderpriority, 1) OVER ($ordSql), 'NONE') AS next_priority
         |FROM orders ORDER BY o_custkey, o_orderkey""".stripMargin,
    "win_running_sum" ->
      s"""SELECT o_custkey, o_orderkey,
         |  CAST(ROUND(SUM(CAST(o_totalprice AS DECIMAL(38,6))) OVER ($ordSql
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 4) AS DOUBLE) AS run_total
         |FROM orders ORDER BY o_custkey, o_orderkey""".stripMargin,
    "win_moving_avg" ->
      """SELECT user_id, event_id,
        |  ROUND(CAST(SUM(CAST(value AS DECIMAL(38,6))) OVER w AS DOUBLE)
        |    / COUNT(*) OVER w, 4) AS mavg3
        |FROM events
        |WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
        |  ROWS BETWEEN 2 PRECEDING AND CURRENT ROW)
        |ORDER BY user_id, event_id""".stripMargin,
    // Same interval frame over the raw timestamp ordering.
    "win_range_time_frame" ->
      """SELECT event_id,
        |  count(*) OVER w AS n_7d,
        |  CAST(ROUND(sum(CAST(value AS DECIMAL(38,6))) OVER w, 4)
        |    AS DOUBLE) AS sum_7d
        |FROM events
        |WINDOW w AS (PARTITION BY user_id ORDER BY ts
        |  RANGE BETWEEN INTERVAL 7 DAY PRECEDING AND CURRENT ROW)
        |ORDER BY event_id""".stripMargin,
    "win_range_frame" ->
      """SELECT o_custkey, o_orderkey,
        |  CAST(ROUND(SUM(CAST(o_totalprice AS DECIMAL(38,6))) OVER w, 4) AS DOUBLE) AS sum_30d,
        |  COUNT(*) OVER w AS n_30d
        |FROM (SELECT *, date_diff('day', DATE '1970-01-01',
        |    CAST(o_orderdate AS DATE)) AS eday FROM orders)
        |WINDOW w AS (PARTITION BY o_custkey ORDER BY eday
        |  RANGE BETWEEN 30 PRECEDING AND CURRENT ROW)
        |ORDER BY o_custkey, o_orderkey""".stripMargin,
    "win_percent_cume" ->
      """SELECT o_orderkey, o_totalprice,
        |  ROUND(percent_rank() OVER (ORDER BY o_totalprice), 4) AS pr,
        |  ROUND(cume_dist() OVER (ORDER BY o_totalprice), 4) AS cd
        |FROM orders ORDER BY o_orderkey""".stripMargin,
    "win_first_last_value" ->
      s"""SELECT o_custkey, o_orderkey,
         |  first_value(o_totalprice) OVER ($ordSql
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) AS first_price,
         |  last_value(o_totalprice) OVER ($ordSql
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) AS last_price
         |FROM orders ORDER BY o_custkey, o_orderkey""".stripMargin,
    "win_fill_forward" ->
      """SELECT user_id, event_id, v AS observed,
        |  last_value(v IGNORE NULLS) OVER (PARTITION BY user_id
        |    ORDER BY ts, event_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS filled
        |FROM (SELECT user_id, event_id, ts,
        |    CASE WHEN event_id % 3 = 0 THEN NULL ELSE value END AS v
        |  FROM events)
        |ORDER BY user_id, event_id""".stripMargin,
    "win_nth_value" ->
      s"""SELECT o_custkey, o_orderkey,
         |  nth_value(o_totalprice, 2) OVER ($ordSql
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
         |    AS second_price
         |FROM orders ORDER BY o_custkey, o_orderkey""".stripMargin,
    "topk_pushdown_rank" ->
      """SELECT user_id, event_id, value, rn FROM (
        |  SELECT user_id, event_id, value,
        |    row_number() OVER (PARTITION BY user_id
        |      ORDER BY value DESC, event_id) AS rn
        |  FROM events)
        |WHERE rn <= 2 ORDER BY user_id, rn""".stripMargin,
    "topk_per_group" ->
      """SELECT o_custkey, o_orderkey, o_totalprice, rn FROM (
        |  SELECT o_custkey, o_orderkey, o_totalprice,
        |    row_number() OVER (PARTITION BY o_custkey
        |      ORDER BY o_totalprice DESC, o_orderkey) AS rn
        |  FROM orders)
        |WHERE rn <= 3 ORDER BY o_custkey, rn""".stripMargin
  )
}
