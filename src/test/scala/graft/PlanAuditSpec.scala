package graft

/** Physical-plan audits: the plans the 100 TB design depends on must stay
  * the plans Catalyst actually picks. Guards against silent regressions
  * (a dropped broadcast hint, a filter that stops pushing down) that
  * correctness tests can't see.
  */
class PlanAuditSpec extends SparkSpec {

  private def plan(name: String): String = {
    // AQE hides join strategies until execution; disable for inspection.
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try SparkEntry.queries(name)(spark, sf).queryExecution.executedPlan.toString
    finally spark.conf.set("spark.sql.adaptive.enabled", "true")
  }

  test("star join broadcasts all four dimension tables") {
    val p = plan("join_star_multiway")
    assert("BroadcastHashJoin".r.findAllIn(p).size == 4, p.take(2000))
  }

  test("simple filter pushes down to the parquet scan") {
    val p = plan("filter_simple")
    assert(p.contains("PushedFilters: [IsNotNull(l_quantity), GreaterThan(l_quantity,45.0)]"),
      p.take(2000))
  }

  test("schema-pruned scan reads only the two projected columns") {
    val p = plan("scan_schema_prune")
    assert(p.contains("ReadSchema: struct<l_orderkey:bigint,l_linenumber:int>"),
      p.take(2000))
  }

  test("global top-k collapses to TakeOrderedAndProject") {
    val p = plan("sort_limit_topk")
    assert(p.contains("TakeOrderedAndProject"), p.take(2000))
  }

  test("semi/anti joins stay semi/anti (no materialized full join)") {
    assert(plan("join_left_semi").contains("LeftSemi"), "left_semi lost")
    assert(plan("join_left_anti").contains("LeftAnti"), "left_anti lost")
  }

  test("flagship aggregation is two-phase hash aggregate") {
    val p = plan("agg_groupby_pricing")
    assert("HashAggregate".r.findAllIn(p).size >= 2, p.take(2000))
  }

  test("no accidental cartesian products in equi-join queries") {
    for (q <- Seq("join_shuffle_inner", "join_broadcast_inner", "join_self",
      "text_tfidf_topterm", "agg_having")) {
      val p = plan(q)
      assert(!p.contains("CartesianProduct"), s"$q has a cartesian product")
    }
  }

  test("dedup candidate generation is banded: no O(n²) join in any dedup plan") {
    // The round-1 all-pairs forms planned BroadcastNestedLoopJoin; the
    // banded/LSH rewrites must keep every join an equi-join. The two
    // round-17 incremental keys join delta signatures against the
    // STORED band index / stored labels — same equi-only contract.
    for (q <- Seq("dedup_simhash", "dedup_embedding_cosine",
      "dedup_minhash_lsh", "dedup_near_jaccard", "dedup_ngram_jaccard",
      "dedup_incremental_index", "dedup_incremental_cluster")) {
      val p = plan(q)
      assert(!p.contains("BroadcastNestedLoopJoin"), s"$q has a nested-loop join")
      assert(!p.contains("CartesianProduct"), s"$q has a cartesian product")
    }
  }

  test("salted-join spread key: equi-joins only, salt widens the join key") {
    // The §2.208 key's plan claim: the salted join stays a keyed
    // equi-join on (k, __graft_salt) — never a nested loop — and the
    // zipf synth + audit never cartesian.
    val p = plan("join_skew_salted_spread")
    assert(!p.contains("CartesianProduct"), p.take(2000))
    assert(!p.contains("BroadcastNestedLoopJoin"), p.take(2000))
  }

  test("topk_per_group and sim_knn_topk execute through TopKPerGroupExec") {
    for (q <- Seq("topk_per_group", "sim_knn_topk")) {
      val p = plan(q)
      // partial + final instances
      assert("TopKPerGroup".r.findAllIn(p).size >= 2, s"$q: ${p.take(2000)}")
    }
  }

  test("topk_pushdown_rank: rank-limit filter rewritten to two-phase TopKPerGroup") {
    val p = plan("topk_pushdown_rank")
    // partial + final instances of the custom operator, the native
    // WindowGroupLimit subsumed, and the re-window over the survivors
    // reusing the operator's sort + partitioning (exactly one exchange).
    assert("TopKPerGroup 2".r.findAllIn(p).size == 2, p.take(2000))
    assert(!p.contains("WindowGroupLimit"), p.take(2000))
    assert("Exchange hashpartitioning".r.findAllIn(p).size == 1, p.take(2000))
  }

  test("sample_weighted_noreplacement: priority bottom-k runs through TopKPerGroup, no Window") {
    // The key's scaladoc claims the row_number-over-(source) + rk ≤ 20
    // shape is the TopKPushdownRule target — pin it: two-phase
    // TopKPerGroup instances, no surviving Window/WindowGroupLimit.
    val p = plan("sample_weighted_noreplacement")
    assert("TopKPerGroup 20".r.findAllIn(p).size == 2, p.take(2000))
    assert(!p.contains("WindowGroupLimit"), p.take(2000))
  }

  test("win_percent_cume executes without any Window operator") {
    // The two-pass GlobalRank operator replaces Window.orderBy(price),
    // whose empty partition spec funnels EVERY row through one task.
    // The executed plan must contain no Window node at all (ranks come
    // from the range-exchanged RDD passes).
    val p = plan("win_percent_cume")
    assert(!p.contains("Window"), p.take(2000))
  }

  test("text_langid profile join is keyed, not hint-broadcast") {
    // threshold = -1 kills stats-based broadcast; a lingering hint on
    // the |vocab|×|langs| profile would still plan BroadcastHashJoin
    // (the surviving 1-row broadcast(vocab) cross join plans
    // BroadcastNestedLoopJoin, which is fine — it is one row by
    // construction).
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val p = plan("text_langid")
      assert(!p.contains("BroadcastHashJoin"), p.take(2000))
    } finally spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
  }

  test("dedup joins are keyed, not hint-broadcast: survive threshold = -1") {
    // With auto-broadcast off, a hint-free plan degrades to shuffle joins;
    // a lingering broadcast() hint (round-1 minhash re-join) would still
    // plan BroadcastHashJoin and OOM the driver at 100 TB doc sets.
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      for (q <- Seq("dedup_minhash_lsh", "dedup_simhash")) {
        val p = plan(q)
        assert(!p.contains("BroadcastHashJoin"), s"$q still hint-broadcasts a side")
        assert(!p.contains("BroadcastNestedLoopJoin"), s"$q has a nested-loop join")
      }
      // dedup_embedding_cosine legitimately broadcasts ONE relation: the
      // driver-built admissibility table, bounded at numPivots² rows by
      // construction (a LocalTableScan, never a data table). The
      // vector-vector candidate join must stay a keyed shuffle join.
      val p = plan("dedup_embedding_cosine")
      assert(!p.contains("BroadcastNestedLoopJoin"),
        "embedding dedup has a nested-loop join")
      val broadcasts = "BroadcastExchange".r.findAllIn(p).size
      assert(broadcasts <= 1, s"embedding dedup broadcasts $broadcasts relations")
      assert(p.contains("LocalTableScan"),
        "the one broadcast should feed from the driver-built admissibility rows")
      assert(p.contains("SortMergeJoin") || p.contains("ShuffledHashJoin"),
        "vector-side candidate join is not a keyed shuffle join:\n" + p.take(2000))
    } finally spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
  }

  test("bucketed join runs with no shuffle exchange on either side") {
    // Force the shuffle-join path (no broadcast, no AQE): over bucketed
    // tables the sort-merge join must read co-located buckets directly —
    // the ONLY exchange left is the presentation sort's range partition.
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val p = plan("scan_bucket_join")
      assert(p.contains("SortMergeJoin"), p.take(2000))
      assert(!p.contains("Exchange hashpartitioning"),
        s"bucketed join still shuffles:\n${p.take(2000)}")
      assert(p.contains("SelectedBucketsCount"), p.take(2000))
    } finally spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
  }

  test("decontamination probes the benchmark shingle set via broadcast") {
    // The corpus side must never shuffle to discover benchmark overlap:
    // the benchmark shingle set (tiny next to any real corpus) is the
    // broadcast side of the probe join.
    val p = plan("text_decontaminate")
    assert(p.contains("BroadcastHashJoin"),
      s"benchmark probe is not a broadcast join:\n${p.take(2000)}")
    assert(!p.contains("CartesianProduct"), p.take(2000))
  }

  test("curation verdict composes in one linear plan: broadcast probe, no cartesian") {
    // Four curation stages in one plan must not produce a pathological
    // join tree: every verdict column attaches back doc_id-keyed, the
    // benchmark probe stays broadcast, and nothing degenerates to a
    // cartesian / nested-loop join (the langid crossJoins are one-row
    // or 5-row broadcast frames — BroadcastNestedLoopJoin over a
    // single-row side is the intended plan, a CartesianProduct never).
    val p = plan("pipeline_curation_verdict")
    assert(p.contains("BroadcastHashJoin"),
      s"benchmark probe is not a broadcast join:\n${p.take(2000)}")
    assert(!p.contains("CartesianProduct"), p.take(2000))
  }

  test("z-order read-back pushes both box predicates to the parquet scan") {
    // Both dimensions' bounds must reach the scan as PushedFilters —
    // that is what lets parquet file/row-group stats prune against the
    // z-layout's bounded per-file envelopes. Formatted explain: the
    // simple-string plan TRUNCATES long filter lists.
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    val p = try SparkEntry.queries("scan_zorder_prune")(spark, sf)
      .queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode)
    finally spark.conf.set("spark.sql.adaptive.enabled", "true")
    for (f <- Seq("GreaterThanOrEqual(l_orderkey,100)",
        "LessThanOrEqual(l_orderkey,700)",
        "GreaterThanOrEqual(l_partkey,20)",
        "LessThanOrEqual(l_partkey,120)")) {
      assert(p.contains(f), s"missing pushed filter $f:\n${p.take(2000)}")
    }
  }

  test("SCD2 history runs on ONE user_id hash exchange (windows + agg + lead reuse it)") {
    // The scaladoc's scale claim, made falsifiable: the change-flag
    // window, the island agg and the lead() window must all reuse the
    // same user_id partitioning — HashPartitioning(user_id) satisfies
    // the agg's ClusteredDistribution(user_id, version, state) because
    // the expressions are a subset of the clustering. Only the final
    // presentation sort may add its range exchange.
    val p = plan("etl_scd2_history")
    val hashEx = "Exchange hashpartitioning".r.findAllIn(p).size
    assert(hashEx == 1, s"expected 1 user_id hash exchange, got $hashEx:\n" +
      p.split("\n").filter(_.contains("Exchange")).mkString("\n"))
  }

  test("sessionize runs on ONE user_id hash exchange (lag + running sum + agg reuse it)") {
    // Same falsifiable scale claim as the SCD2 pin: the gap-flag lag
    // window, the running-sum session-id window and the per-session agg
    // all share HashPartitioning(user_id); only the presentation sort
    // adds its range exchange.
    val p = plan("ts_sessionize")
    val hashEx = "Exchange hashpartitioning".r.findAllIn(p).size
    assert(hashEx == 1, s"expected 1 user_id hash exchange, got $hashEx:\n" +
      p.split("\n").filter(_.contains("Exchange")).mkString("\n"))
  }

  test("incremental SCD2 apply: keyed joins only, no cartesian") {
    // The one-row cutoff bound rides a broadcast nested loop (intended);
    // a CartesianProduct would mean the version-offset or union joins
    // degenerated.
    val p = plan("etl_scd2_incremental")
    assert(!p.contains("CartesianProduct"), p.take(2000))
  }

  test("k-means ANN: assignment is literal-folded (no broadcast exchange feeds it), no cartesian") {
    // fit() runs at plan-construction time; the declared key's PLAN is
    // the probe search. Assignment/routing fold centroids in as
    // literals, so the only joins are the c-keyed candidate join and
    // the probes' — never a cartesian.
    val p = plan("sim_ann_kmeans")
    assert(!p.contains("CartesianProduct"), p.take(2000))
    assert(!p.contains("BroadcastNestedLoopJoin"), p.take(2000))
  }

  test("dim filter drives dynamic partition pruning of the fact scan") {
    // No literal lang predicate exists on the fact side — the scan's
    // PartitionFilters must carry a dynamicpruning expression fed from
    // the dimension's filtered join keys.
    val p = plan("scan_dpp_join")
    assert("PartitionFilters:[^\\]]*dynamicpruning".r.findFirstIn(p).isDefined,
      s"fact scan not dynamically pruned:\n${p.take(3000)}")
  }

  /** Execute a declared query with AQE live and return the FINAL
    * adaptive plan string (the section before "== Initial Plan ==") —
    * the plan AQE actually ran after runtime re-planning. */
  private def aqeFinalPlan(name: String): String = {
    val df = SparkEntry.queries(name)(spark, sf)
    df.collect()
    df.queryExecution.executedPlan.toString.split("== Initial Plan ==")(0)
  }

  test("unhinted star join: the planner picks broadcast for all dims on its own") {
    // Deliberately NOT via plan() — this is the one pin that must hold
    // WITH adaptive execution live, since AQE is what re-plans joins
    // from runtime stats on a real cluster.
    // The adaptive plan string prints final AND initial plans — count
    // broadcasts in the final section only.
    val p = aqeFinalPlan("join_star_aqe")
    assert("BroadcastHashJoin".r.findAllIn(p).size == 4,
      s"planner/AQE did not broadcast all four dims:\n${p.take(3000)}")
  }

  test("binned range join stays an equi join even with broadcast disabled") {
    // The join_range_binned contract: the bin key makes the pure range
    // join hash-partitionable — it must never degrade to the O(n·m)
    // BroadcastNestedLoopJoin the naive non-equi form plans. Threshold
    // −1 removes the broadcast escape hatch, like the dedup-join pin.
    val s = spark.newSession()
    s.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    s.conf.set("spark.sql.adaptive.enabled", "false")
    val p = operators.JoinQueries.queries("join_range_binned")(s, sf)
      .queryExecution.executedPlan.toString
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      s"binned range join degraded to a nested loop:\n${p.take(3000)}")
    assert(p.contains("SortMergeJoin") || p.contains("ShuffledHashJoin"),
      s"no keyed join found:\n${p.take(3000)}")
  }

  test("binned interval-overlap join stays an equi join even with broadcast disabled") {
    // Same contract as the point-in-interval pin above, for the
    // interval×interval member: the bin equi-key must carry the join —
    // never a BroadcastNestedLoopJoin over the raw overlap predicate.
    val s = spark.newSession()
    s.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    s.conf.set("spark.sql.adaptive.enabled", "false")
    val p = operators.JoinQueries.queries("join_interval_overlap")(s, sf)
      .queryExecution.executedPlan.toString
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      s"binned interval overlap degraded to a nested loop:\n${p.take(3000)}")
    assert(p.contains("SortMergeJoin") || p.contains("ShuffledHashJoin"),
      s"no keyed join found:\n${p.take(3000)}")
  }

  test("SQL surface (sql_tpch_q3): broadcast star, no cartesian, ordered top-10 collapses") {
    // The pure-SQL entry point must reach the same physical shapes the
    // DataFrame keys pin: dims broadcast, equi-joins only, and the
    // ORDER BY ... LIMIT 10 planned as TakeOrderedAndProject (never a
    // global sort of the aggregated set).
    val p = aqeFinalPlan("sql_tpch_q3")
    assert(p.contains("BroadcastHashJoin"),
      s"no broadcast join in the SQL star:\n${p.take(3000)}")
    assert(!p.contains("CartesianProduct"), "SQL star planned a cartesian")
    assert(p.contains("TakeOrderedAndProject"),
      s"top-10 did not collapse to TakeOrderedAndProject:\n${p.take(3000)}")
  }

  test("q17 correlated scalar subquery decorrelates: aggregate+join, no per-row subquery") {
    // The correlated `l_quantity < 0.2×(that part's avg)` must rewrite
    // to ONE per-part aggregate joined back with the threshold as a
    // join residual — a surviving scalar-subquery node would mean
    // Catalyst fell back to per-row re-execution (the quadratic trap),
    // and a cartesian would mean the correlation was lost.
    val p = plan("sql_tpch_q17")
    assert(!p.contains("Subquery"),
      s"scalar subquery survived decorrelation:\n${p.take(3000)}")
    assert(p.contains("HashAggregate(keys=[l_partkey"),
      s"no per-part aggregate for the threshold:\n${p.take(3000)}")
    assert(p.contains("(0.2 * avg(l_quantity))"),
      s"threshold not a join residual:\n${p.take(3000)}")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"q17 planned a product join:\n${p.take(3000)}")
  }

  test("q21 multi-EXISTS decorrelates to one semi + one anti join with inequality residuals") {
    // Both correlated subqueries carry the non-equality predicate
    // l2.l_suppkey <> l1.l_suppkey (and the NOT EXISTS references
    // o_orderdate from a third table): they must still plan as keyed
    // semi/anti joins on l_orderkey with the inequalities as residuals
    // — never a nested loop — and the ORDER BY/LIMIT 20 must collapse.
    val p = plan("sql_tpch_q21")
    assert(p.contains("LeftSemi"), s"EXISTS lost its semi join:\n${p.take(3000)}")
    assert(p.contains("LeftAnti"), s"NOT EXISTS lost its anti join:\n${p.take(3000)}")
    assert(p.contains("TakeOrderedAndProject"),
      s"top-20 did not collapse:\n${p.take(3000)}")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"q21 planned a product join:\n${p.take(3000)}")
  }

  test("q19 disjunction pushes its per-table residues to BOTH scans") {
    // The OR-of-ANDs mixes columns from both join sides. The planner
    // must keep the equi key out of the disjunction and push each
    // table's residue of the OR to its scan — part gets the
    // brand∧size bands, lineitem the quantity envelopes — with the full
    // cross-table OR kept as the join residual. A scan with empty
    // PushedFilters would read everything and evaluate the OR post-join.
    val p = plan("sql_tpch_q19")
    assert(p.contains("PushedFilters: [IsNotNull(p_size), GreaterThanOrEqual(p_size,1), IsNotNull(p_partkey), Or(Or(And(EqualTo(p_brand"),
      s"part scan lost the pushed disjunction:\n${p.take(4000)}")
    assert(p.contains("Or(Or(And(GreaterThanOrEqual(l_quantity,1.0),LessThanOrEqual(l_quantity,11"),
      s"lineitem scan lost the quantity envelope:\n${p.take(4000)}")
    assert(" OR ".r.findAllIn(p).nonEmpty && p.contains("BroadcastHashJoin"),
      s"cross-table OR not a broadcast-join residual:\n${p.take(4000)}")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"q19 planned a product join:\n${p.take(3000)}")
  }

  test("q13 keeps the LEFT OUTER (ON-filter pushed to orders, never to customer)") {
    // The o_orderpriority filter lives in the ON clause: it must push
    // to the ORDERS scan only — pushing it as a post-join WHERE (or
    // filtering customer) would silently drop the zero-order customers
    // whose c_count = 0 bucket is the point of the query. Then the
    // distribution is a group-by OVER the per-customer group-by: two
    // distinct aggregate keys in one plan.
    val p = plan("sql_tpch_q13")
    assert(p.contains("LeftOuter"), s"outer join lost:\n${p.take(3000)}")
    assert(p.contains("PushedFilters: [IsNotNull(o_orderpriority), Not(EqualTo(o_orderpriority,3-MEDIUM))"),
      s"ON filter not pushed to the orders scan:\n${p.take(4000)}")
    assert(p.contains("HashAggregate(keys=[c_custkey") &&
      p.contains("HashAggregate(keys=[c_count"),
      s"missing one of the two aggregate levels:\n${p.take(4000)}")
  }

  test("q20 nested semi chain: two semi joins, correlated threshold decorrelated") {
    // Three nesting levels must collapse without any per-row execution:
    // supplier IN (...) → LeftSemi; ps_partkey IN (name-filtered parts)
    // → LeftSemi with the 'red%' pushed as StringStartsWith; and the
    // correlated 0.5×Σqty scalar → a per-(partkey, suppkey) aggregate
    // joined back with the threshold as a join residual.
    val p = plan("sql_tpch_q20")
    assert("LeftSemi".r.findAllIn(p).size >= 2,
      s"semi chain collapsed to fewer than 2 semi joins:\n${p.take(4000)}")
    assert(p.contains("0.5 * sum(l_quantity))"),
      s"correlated threshold not a decorrelated join residual:\n${p.take(4000)}")
    assert(p.contains("StringStartsWith(p_name,red)"),
      s"part-name prefix not pushed:\n${p.take(4000)}")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"q20 planned a product join:\n${p.take(3000)}")
  }

  test("q2 correlated MIN over the dim chain decorrelates to aggregate+join") {
    // The inner query repeats the 4-way chain: it must become ONE
    // per-part MIN aggregate joined back on (supplycost, partkey) —
    // the q17 rewrite at dim-chain width. A surviving subquery node or
    // a product join = per-row re-execution of a 4-way join.
    val p = plan("sql_tpch_q2")
    assert(p.contains("functions=[min(ps_supplycost"),
      s"no decorrelated per-part MIN aggregate:\n${p.take(4000)}")
    assert(!p.contains("Subquery"),
      s"scalar subquery survived decorrelation:\n${p.take(4000)}")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"q2 planned a product join:\n${p.take(3000)}")
  }

  test("q16 NOT IN plans as a null-aware anti join") {
    // s_acctbal < 0 suppliers via NOT IN: the build side must carry the
    // isNullAwareAntiJoin flag (the trailing `true`) — a plain LeftAnti
    // would be wrong the day the subquery column admits a NULL.
    val p = plan("sql_tpch_q16")
    assert("LeftAnti, BuildRight, true".r.findAllIn(p).size == 1,
      s"NOT IN did not plan as NAAJ:\n${p.take(4000)}")
  }

  test("null-aware anti join: NOT IN plans as NAAJ, never a plain anti or nested loop") {
    // BroadcastHashJoinExec prints its isNullAwareAntiJoin flag as the
    // trailing boolean: all three NOT IN branches must carry `true`
    // (o_custkey is nullable in the parquet schema even where no NULL
    // occurs — the planner must be conservative; scenario c's injected
    // NULL is what a plain LeftAnti would get wrong). A nested-loop
    // fallback here would mean the build side stopped broadcasting.
    val p = plan("join_null_aware_anti")
    val naaj = "LeftAnti, BuildRight, true".r.findAllIn(p).size
    assert(naaj == 3, s"expected 3 null-aware anti joins, got $naaj:\n${p.take(4000)}")
    assert(!p.contains("BroadcastNestedLoopJoin"),
      s"NAAJ degraded to a nested loop:\n${p.take(3000)}")
  }

  test("recursive CTE plans as UnionLoop; filter-clause aggregates stay one two-phase agg") {
    val r = plan("sql_recursive_cte")
    // The iterative SQL surface must plan as Spark's recursion operator
    // (anchor + UnionLoopRef back-edge) — a statically unrolled UNION
    // would mean the recursion was silently bounded at parse time.
    assert(r.contains("UnionLoop") && r.contains("UnionLoopRef"),
      s"recursion not planned as UnionLoop:\n${r.take(3000)}")
    val f = plan("agg_filter_clause")
    // FILTER compiles into the aggregate's input predicate: one
    // partial+final hash agg pair, the predicate visible on the
    // partial — not an extra scan or join per conditional aggregate.
    assert("HashAggregate".r.findAllIn(f).size == 2, f.take(2000))
    assert(f.contains("FILTER (WHERE"),
      s"filter clause not inside the aggregate:\n${f.take(2000)}")
  }

  test("select-list EXISTS plans as ExistenceJoin — all probe rows kept, one boolean each") {
    // Catalyst's fourth join flavor: a semi join would LOSE
    // non-matching customers, an outer join + dedup would multiply
    // matched ones. Two flags = two existence joins, zero cartesians.
    val p = plan("join_existence_flag")
    val n = "ExistenceJoin".r.findAllIn(p).size
    assert(n == 2, s"expected 2 existence joins, got $n:\n${p.take(3000)}")
    assert(!p.contains("CartesianProduct"), p.take(2000))
  }

  test("partition-values query reads ZERO data columns") {
    // Selecting only the partition column + count must leave the file
    // scan's ReadSchema EMPTY — values come from the hive paths, row
    // counts from footers; any data column here means the layout's
    // cheapest query started paying for a real scan.
    val p = plan("scan_partition_values")
    assert(p.contains("ReadSchema: struct<>"),
      s"partition-values scan read data columns:\n${p.take(2500)}")
  }

  test("multi-distinct plans through Expand (one replica per distinct column)") {
    // Two COUNT(DISTINCT ·) over different columns must take
    // Catalyst's Expand-based multi-distinct plan — the baseline the
    // sketch keys trade against; losing Expand would mean a silent
    // fallback to repeated self-joins.
    val p = plan("agg_multi_distinct")
    assert(p.contains("Expand"), s"no Expand in multi-distinct:\n${p.take(2500)}")
  }

  test("rolling median rides ONE window node over the pre-aggregated spine") {
    val p = plan("win_rolling_median")
    assert("Window \\[".r.findAllIn(p).size == 1, p.take(3000))
  }

  test("funnel stage joins and cohort attach-back broadcast under AQE") {
    // The §2.19 scale claims: funnel stage frames shrink monotonically
    // and the cohort table is one row per user, so AQE's runtime stats
    // must broadcast those joins with no hint — falsifiable here, not
    // just scaladoc prose.
    // funnel_stages has TWO stage joins (click→view, purchase→click);
    // both must broadcast, so count them — contains() would let one
    // silently degrade to a sort-merge join.
    val pf = aqeFinalPlan("funnel_stages")
    assert("BroadcastHashJoin".r.findAllIn(pf).size >= 2,
      s"funnel stage joins not all broadcast:\n${pf.take(3000)}")
    val pc = aqeFinalPlan("cohort_retention")
    assert(pc.contains("BroadcastHashJoin"),
      s"cohort attach-back not broadcast:\n${pc.take(3000)}")
  }

  test("gap-fill spine join broadcasts one side (AQE final plan)") {
    // The ts_gapfill_daily contract: the generated day spine is |days|
    // rows regardless of corpus size, so the fill join must never
    // shuffle the daily aggregate — AQE sees the tiny runtime size and
    // broadcasts. Like the unhinted star, pinned against the adaptive
    // FINAL plan.
    val p = aqeFinalPlan("ts_gapfill_daily")
    assert(p.contains("BroadcastHashJoin"),
      s"spine fill join not broadcast:\n${p.take(3000)}")
  }

  test("AQE splits a hot shuffle partition at runtime (OptimizeSkewedJoin)") {
    // The join_skew_aqe contract: at cluster scale a hot key's shuffle
    // partition crosses the skew thresholds and AQE splits it with no
    // query rewrite. Fixture shuffles can't reach the 256 MB production
    // threshold, so this pin scales the thresholds down (own cloned
    // session — runtime SQLConf is per-session, nothing leaks) and runs
    // the same unsalted hot-key join shape: 200k facts, 99.5% on one
    // key, against a multi-row-per-key dim too big to matter.
    val s = spark.newSession()
    s.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    s.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
    s.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionFactor", "2.0")
    s.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "16k")
    s.conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "16k")
    import org.apache.spark.sql.functions._
    val facts = s.range(200000).select(
      col("id").as("event_id"),
      // id div 200 (not id % 5, which is constant 0 whenever
      // id % 200 == 0) so the cold rows really spread over t0..t4.
      when(pmod(col("id"), lit(200)) === 0,
          concat(lit("t"), pmod(expr("id div 200"), lit(5))))
        .otherwise(lit("hot")).as("event_type"),
      (col("id") % 97).cast("double").as("value"))
    val dim = s.range(5).select(concat(lit("t"), col("id")).as("event_type"))
      .union(s.range(1).select(lit("hot").as("event_type")))
    // Downstream must NOT require the join key's partitioning (a
    // groupBy(event_type) would make the split cost an extra exchange,
    // which AQE's cost evaluator rightly refuses); a global aggregate
    // has no required distribution, like a sink write.
    val df = facts.join(dim, Seq("event_type"))
      .agg(count(lit(1)).as("n"), sum(col("value")).as("s"))
    df.collect()
    val p = df.queryExecution.executedPlan.toString.split("== Initial Plan ==")(0)
    assert(p.contains("skew=true"),
      s"AQE did not mark the hot partition skewed:\n${p.take(3000)}")
  }

  test("runtime bloom filter reaches the fact side (InjectRuntimeFilter)") {
    // The join_bloom_runtime contract: at cluster scale the selective
    // dim predicate becomes a bloom filter ANDed into the fact scan
    // (might_contain on l_partkey), discarding non-joining fact rows
    // before the shuffle. The injection rule requires the application
    // side to scan > 10 GB by default and skips broadcast-able joins —
    // both rightly suppress it at fixture scale — so the pin scales the
    // thresholds down in a cloned session, like the AQE skew pin above.
    val s = spark.newSession()
    s.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    s.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
    s.conf.set("spark.sql.optimizer.runtime.bloomFilter.enabled", "true")
    s.conf.set(
      "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold", "0")
    val p = operators.JoinQueries.queries("join_bloom_runtime")(s, sf)
      .queryExecution.optimizedPlan.toString
    assert(p.contains("might_contain"),
      s"no runtime bloom filter injected:\n${p.take(3000)}")
  }

  test("first-touch attribution rides a single user_id exchange") {
    val p = plan("attribution_first_touch")
    // The carry-forward claim: lag flag, running session id, ignore-nulls
    // last() AND the purchase filter all share one hash exchange on
    // user_id. A second hashpartitioning would mean the naive
    // (user, session) window snuck back in. (The final orderBy adds one
    // rangepartitioning — presentation, not computation.)
    val hashEx = "Exchange hashpartitioning".r.findAllIn(p).size
    assert(hashEx == 1, s"expected 1 hash exchange, got $hashEx:\n${p.take(3000)}")
    assert(p.contains("hashpartitioning(user_id"), p.take(2000))
  }

  test("streaming first-touch attribution batch face: one hash exchange, no window") {
    // The whole computation must stay ONE session_window aggregation —
    // per-key state is O(1) registers. A Window operator or a second
    // hashpartitioning would mean the carry-forward/ordinal form snuck
    // back in (that shape needs a per-user sort + window pass the
    // streaming state store can't host).
    val p = plan("stream_attribution_first_touch")
    val hashEx = "Exchange hashpartitioning".r.findAllIn(p).size
    assert(hashEx == 1, s"expected 1 hash exchange, got $hashEx:\n" +
      p.split("\n").filter(_.contains("Exchange")).mkString("\n"))
    assert(!p.contains("Window"), s"window operator leaked in:\n${p.take(3000)}")
  }

  test("temperature mix broadcasts the derived per-lang rate table") {
    val p = plan("sample_temperature_mix")
    assert(p.contains("BroadcastHashJoin"),
      s"rate table not broadcast:\n${p.take(3000)}")
    // Survivor ranking stays one lang-keyed window exchange.
    assert(p.contains("hashpartitioning(lang"), p.take(2000))
  }

  test("URL canonicalization shuffles only on the canonical key") {
    val p = plan("text_url_normalize")
    val hashEx = "Exchange hashpartitioning".r.findAllIn(p).size
    assert(hashEx == 1, s"expected 1 hash exchange, got $hashEx:\n${p.take(3000)}")
    assert(p.contains("hashpartitioning(canon_url"), p.take(2000))
  }

  test("prebuilt bloom probe prefilters the fact side below the semi join") {
    val p = plan("join_bloom_prebuilt")
    val probeIdx = p.indexOf("bloom_might_contain")
    assert(probeIdx >= 0, s"no bloom probe in plan:\n${p.take(2000)}")
    // In the plan string children print after (= below) their parent:
    // the probe must sit on the fact side UNDER the semi join — a probe
    // above the join would mean the prefilter ran after the shuffle it
    // exists to shrink.
    val joinIdx = p.indexOf("LeftSemi")
    assert(joinIdx >= 0 && probeIdx > joinIdx,
      s"bloom probe not below the semi join:\n${p.take(3000)}")
  }

  test("partitioned scan prunes by partition key (filter satisfied by listing)") {
    val p = plan("scan_partition_prune")
    // The lang predicate must land INSIDE the PartitionFilters list
    // (directory-level pruning), not merely appear somewhere in the plan
    // as a post-scan Filter — FileSourceScanExec always prints the
    // (possibly empty) PartitionFilters key for partitioned reads.
    assert("PartitionFilters:\\s*\\[[^\\]]*isnotnull\\(lang".r
        .findFirstIn(p).isDefined, p.take(2000))
    assert(p.contains("ReadSchema: struct<doc_id:bigint,n_chars:bigint>"),
      p.take(2000))
  }

  test("unpivot expands map-side: no exchange below the presentation sort") {
    val p = plan("unpivot_long")
    assert(p.contains("Expand"), p.take(2000))
    // Exactly one exchange — the range partitioning for the final sort.
    assert("Exchange".r.findAllIn(p).size == 1, p.take(2000))
  }

  test("stratified sample executes through TopKPerGroupExec") {
    val p = plan("sample_stratified_hash")
    assert(p.contains("TopKPerGroup"), p.take(2000))
    assert(!p.contains("Window"), "sample fell back to a window rank")
  }

  test("anomaly z-score: broadcast stats join, verdict in the scan stage") {
    // The 5-row moments table must broadcast and the threshold filter
    // ride the join condition — one hash exchange total (the stats
    // agg); the event side never shuffles.
    val p = plan("ts_anomaly_zscore")
    assert(p.contains("BroadcastHashJoin"), p.take(2000))
    val hashEx = "Exchange hashpartitioning".r.findAllIn(p).size
    assert(hashEx == 1, s"expected 1 hash exchange (stats agg), got $hashEx")
  }

  test("interpolation: daily table broadcasts, windows reuse the spine partitioning") {
    // Two hash exchanges (bounds agg, daily agg) and NO window-induced
    // exchange: all four IGNORE-NULLS carries reuse the spine's
    // event_type partitioning behind the broadcast join.
    val p = plan("ts_interpolate_linear")
    assert(p.contains("BroadcastHashJoin"), p.take(2000))
    assert(p.contains("Window"), "carries lost their window form")
    val hashEx = "Exchange hashpartitioning".r.findAllIn(p).size
    assert(hashEx == 2, s"expected 2 hash exchanges, got $hashEx:\n" +
      p.split("\n").filter(_.contains("Exchange")).mkString("\n"))
  }

  test("sweep-line and cumulative-distinct run without any Window operator") {
    // Both global running sums go through GlobalRank.runningSum's
    // two-pass range-exchange form — a Window node here would mean the
    // single-partition fallback crept back in.
    assert(!plan("ts_concurrency_max").contains("Window"))
    assert(!plan("agg_cumulative_distinct_daily").contains("Window"))
  }

  test("vocab encode ranks the dictionary without any Window operator") {
    // Dense ids come from runningSum-of-ones (parallel row_number);
    // the reassembly is a straight two-phase ObjectHashAggregate.
    val p = plan("pipeline_vocab_encode")
    assert(!p.contains("Window"), p.take(2000))
  }

  test("bitmap sliding WAU: ONE hash exchange, fixed-size partials") {
    // The whole sliding-distinct computation must collapse to a single
    // wday-keyed exchange carrying bitmap partials — the contribution
    // explode stays map-side and no pre-dedup exchange exists.
    val p = plan("agg_wau_bitmap_sliding")
    val hashEx = "Exchange hashpartitioning".r.findAllIn(p).size
    assert(hashEx == 1, s"expected 1 hash exchange, got $hashEx:\n" +
      p.split("\n").filter(_.contains("Exchange")).mkString("\n"))
  }

  test("SQL LATERAL LIMIT decorrelates onto TopKPerGroupExec, no nested loop") {
    // Catalyst must rewrite the correlated ORDER BY + LIMIT subquery
    // into a partitioned rank (DecorrelateInnerQuery) — executed once
    // over the inner table, not once per outer row — and the engine's
    // TopKPushdownRule then collapses that rank into the two-phase
    // bounded-heap operator. A BroadcastNestedLoopJoin here would mean
    // per-row re-execution came back.
    val p = plan("sql_lateral_topn")
    assert(p.contains("TopKPerGroup"), p.take(2500))
    assert(!p.contains("NestedLoop"), p.take(2500))
  }

  test("streak detection: distinct pre-pass + ONE shared user_id exchange") {
    // (user, day) dedup keys its own exchange; the row_number window,
    // island agg and per-user argmax all reuse hashpartitioning(user_id).
    val p = plan("win_streak_longest")
    val hashEx = "Exchange hashpartitioning".r.findAllIn(p).size
    assert(hashEx == 2, s"expected 2 hash exchanges, got $hashEx:\n" +
      p.split("\n").filter(_.contains("Exchange")).mkString("\n"))
  }

  test("interval coverage: windows and both rollups ride ONE user_id exchange") {
    // Running-max window, island numbering, per-island agg and per-user
    // rollup all reuse hashpartitioning(user_id) — a second hash
    // exchange would mean an interval self-join or re-partition crept in.
    val p = plan("ts_interval_coverage")
    val hashEx = "Exchange hashpartitioning".r.findAllIn(p).size
    assert(hashEx == 1, s"expected 1 hash exchange, got $hashEx:\n" +
      p.split("\n").filter(_.contains("Exchange")).mkString("\n"))
  }

  test("path transitions: lead window + distinct agg = two hash exchanges") {
    // user_id exchange for the window; ONE (from, to)-keyed exchange for
    // count + count-distinct (the per-(from,to,user) partial dedup runs
    // map-side on the window's partitioning — no third exchange).
    val p = plan("path_transitions")
    val hashEx = "Exchange hashpartitioning".r.findAllIn(p).size
    assert(hashEx == 2, s"expected 2 hash exchanges, got $hashEx:\n" +
      p.split("\n").filter(_.contains("Exchange")).mkString("\n"))
  }

  test("PIT join stays an equi join with the interval as residual") {
    // The user_id equality must be extracted as the join key (hash or
    // sort-merge with the [from, to) predicate as condition) — a
    // nested-loop/cartesian here would re-scan history per fact row.
    val p = plan("etl_pit_join")
    assert(p.contains("LeftOuter"), p.take(2000))
    assert(!p.contains("BroadcastNestedLoopJoin"), "PIT join fell to NLJ")
    assert(!p.contains("CartesianProduct"), "PIT join is cartesian")
  }

  test("preference pairs: ONE stratum exchange, no per-stratum window sort") {
    // min_by/max_by over (q, id) structs partial-aggregate map-side
    // (SortAggregate — struct extremes are sort-based, still two-phase);
    // a Window operator would mean the row_number spelling snuck in,
    // sorting every stratum.
    val p = plan("pipeline_preference_pairs")
    assert(!p.contains("Window"), s"window rank leaked in:\n${p.take(3000)}")
    val hashEx = "Exchange hashpartitioning".r.findAllIn(p).size
    assert(hashEx == 1, s"expected 1 hash exchange, got $hashEx:\n" +
      p.split("\n").filter(_.contains("Exchange")).mkString("\n"))
  }

  test("entropy mix: two exchanges, sorted-fold stays in the projection") {
    // (user, type) count exchange + user_id collect exchange; the
    // entropy fold is a per-row HOF over the collected array — no
    // Window, no third exchange.
    val p = plan("agg_entropy_mix")
    assert(!p.contains("Window"), p.take(2000))
    val hashEx = "Exchange hashpartitioning".r.findAllIn(p).size
    assert(hashEx == 2, s"expected 2 hash exchanges, got $hashEx:\n" +
      p.split("\n").filter(_.contains("Exchange")).mkString("\n"))
  }

  test("triangle count: three join legs reuse ONE distinct-edge exchange") {
    // The wedge join's two sides and the closing-edge probe are the
    // same distinct-edge subplan — Catalyst must build that exchange
    // once and reference it (ReusedExchange) at least twice; and every
    // leg stays an equi join.
    val p = plan("graph_triangle_count")
    val reused = "ReusedExchange".r.findAllIn(p).size
    assert(reused >= 2, s"expected >=2 ReusedExchange, got $reused:\n" +
      p.split("\n").filter(_.contains("Exchange")).mkString("\n"))
    assert(!p.contains("CartesianProduct"), "triangle legs went cartesian")
  }

  test("regexp suite is a pure scan-stage projection (no computation shuffle)") {
    val p = plan("fn_regexp_suite")
    assert("Exchange".r.findAllIn(p).size == 1, // presentation sort only
      p.split("\n").filter(_.contains("Exchange")).mkString("\n"))
  }

  test("skew/kurtosis: broadcast anchor, two hash exchanges, no window") {
    // Pass-1 anchor table broadcasts back onto the fact scan; the
    // moment sums are one partial-aggregating exchange. No Window, no
    // third exchange — the anchored form stays a two-agg plan.
    val p = plan("agg_skew_kurtosis")
    assert(p.contains("BroadcastHashJoin"), p.take(2000))
    assert(!p.contains("Window"), p.take(2000))
    val hashEx = "Exchange hashpartitioning".r.findAllIn(p).size
    assert(hashEx == 2, s"expected 2 hash exchanges, got $hashEx:\n" +
      p.split("\n").filter(_.contains("Exchange")).mkString("\n"))
  }

  test("MAD: median table broadcasts; both percentiles two-phase") {
    val p = plan("agg_mad")
    assert(p.contains("BroadcastHashJoin"), p.take(2000))
    assert("partial_percentile".r.findAllIn(p).size == 2,
      s"percentiles not two-phase:\n${p.take(3000)}")
  }

  test("level shift: one window node hosts all four frames") {
    // (type, day) agg exchange + ONE event_type window partitioning;
    // all four ROWS frames (2 counts + 2 sums) must land in a single
    // Window operator over one sort — four separate windows would
    // re-sort per frame.
    val p = plan("ts_level_shift")
    assert("Window \\[".r.findAllIn(p).size == 1,
      s"frames split across windows:\n${p.take(3000)}")
    val hashEx = "Exchange hashpartitioning".r.findAllIn(p).size
    assert(hashEx == 2, s"expected 2 hash exchanges, got $hashEx:\n" +
      p.split("\n").filter(_.contains("Exchange")).mkString("\n"))
  }

  test("trend slope: two agg exchanges, no window, no join") {
    val p = plan("agg_trend_slope")
    assert(!p.contains("Window") && !p.contains("Join"), p.take(2000))
    val hashEx = "Exchange hashpartitioning".r.findAllIn(p).size
    assert(hashEx == 2, s"expected 2 hash exchanges, got $hashEx:\n" +
      p.split("\n").filter(_.contains("Exchange")).mkString("\n"))
  }

  test("unicode normalize stays a scan-stage codegen projection") {
    // The custom Expression must not break whole-stage codegen: the
    // whole computation is one codegen'd project over the scan, the
    // only exchange the presentation sort.
    val p = plan("text_unicode_normalize")
    assert("Exchange".r.findAllIn(p).size == 1,
      p.split("\n").filter(_.contains("Exchange")).mkString("\n"))
    // The nfc_normalize projection must carry the `*(n)` whole-stage-
    // codegen marker — an interpreted fallback (UDF-style) would print
    // a bare Project.
    assert(p.split("\n").exists(l =>
      l.contains("nfc_normalize") && l.trim.matches("^[+:\\-\\s]*\\*\\(\\d+\\) Project.*")),
      s"nfc_normalize not in a codegen'd Project:\n${p.take(2000)}")
  }

  test("orphan audit: ONE fact scan, three broadcast legs, no anti-join re-scans") {
    // All three dim probes ride the same scan stage as broadcast left
    // joins; the counts partial-aggregate. Three anti joins would scan
    // the fact table three times.
    val p = plan("etl_orphan_audit")
    assert("BroadcastHashJoin".r.findAllIn(p).size == 3, p.take(3000))
    assert("FileScan parquet".r.findAllIn(p).size == 4, // fact + 3 dims
      s"unexpected scan count:\n" +
        p.split("\n").filter(_.contains("FileScan parquet")).mkString("\n"))
  }

  test("gini: rank window rides the pre-reduced table, final agg reuses its partitioning") {
    // (type, user) partial-agg exchange + event_type window exchange;
    // the final per-type agg is already partitioned by event_type, so
    // NO third exchange — the window's partitioning is reused.
    val p = plan("agg_gini")
    assert("Window \\[".r.findAllIn(p).size == 1, p.take(3000))
    val hashEx = "Exchange hashpartitioning".r.findAllIn(p).size
    assert(hashEx == 2, s"expected 2 hash exchanges, got $hashEx:\n" +
      p.split("\n").filter(_.contains("Exchange")).mkString("\n"))
  }

  test("Welch t-test: broadcast anchor pass, no window, no cartesian") {
    val p = plan("ab_test_welch")
    assert(p.contains("BroadcastHashJoin"), p.take(3000))
    assert(!p.contains("Window"), p.take(2000))
    assert(!p.contains("CartesianProduct"), p.take(2000))
  }

  test("autocorr: ONE window node hosts both lag frames") {
    // The spine join, both lag() frames in one Window over one sort,
    // then the moment agg — a per-lag window pair would re-sort twice.
    val p = plan("ts_autocorr")
    assert("Window \\[".r.findAllIn(p).size == 1,
      s"lag frames split across windows:\n${p.take(3000)}")
  }

  test("dow seasonality: ONE window node for the per-type totals") {
    val p = plan("ts_dow_seasonality")
    assert("Window \\[".r.findAllIn(p).size == 1, p.take(3000))
  }

  test("deadline funnel: ONE user_id exchange, no window, no join") {
    // The per-user fold is a single partial-aggregating hash exchange;
    // the chained deadlines resolve map-side in the projection and the
    // global roll-up rides a SinglePartition exchange.
    val p = plan("funnel_conversion_window")
    assert(!p.contains("Window") && !p.contains("Join"), p.take(3000))
    val hashEx = "Exchange hashpartitioning".r.findAllIn(p).size
    assert(hashEx == 1, s"expected 1 hash exchange, got $hashEx:\n" +
      p.split("\n").filter(_.contains("Exchange")).mkString("\n"))
  }

  test("TPC-H Q5: all dim legs broadcast, no cartesian") {
    // supplier/nation/region broadcast (the c_nationkey = s_nationkey
    // residual folds into the supplier leg's equi keys); only the
    // customer⋈orders⋈lineitem spine shuffles.
    val p = plan("sql_tpch_q5")
    assert("BroadcastHashJoin".r.findAllIn(p).size >= 3, p.take(3000))
    assert(!p.contains("CartesianProduct"), p.take(2000))
  }

  test("zipf slope: top-1000 head via TakeOrderedAndProject, never a full sort") {
    val p = plan("text_zipf_slope")
    assert(p.contains("TakeOrderedAndProject"), p.take(3000))
  }

  test("readability: pure scan projection — one presentation exchange, no join") {
    val p = plan("text_readability")
    assert(!p.contains("Join"), p.take(2000))
    assert("Exchange".r.findAllIn(p).size == 1,
      p.split("\n").filter(_.contains("Exchange")).mkString("\n"))
  }

  test("pareto 80/20: rank/cumsum/total share the event_type partitioning") {
    // Same contract as gini: per-user pre-agg exchange + ONE
    // event_type exchange feeding the window stack AND the final agg.
    val p = plan("agg_pareto_8020")
    val hashEx = "Exchange hashpartitioning".r.findAllIn(p).size
    assert(hashEx == 2, s"expected 2 hash exchanges, got $hashEx:\n" +
      p.split("\n").filter(_.contains("Exchange")).mkString("\n"))
  }

  test("quantization error: map-side HOF fold, one presentation exchange") {
    val p = plan("sim_vector_quantize_error")
    assert(!p.contains("Join") && !p.contains("HashAggregate"), p.take(2000))
    assert("Exchange".r.findAllIn(p).size == 1,
      p.split("\n").filter(_.contains("Exchange")).mkString("\n"))
  }

  test("TPC-H Q1: date filter pushes to the scan, two-phase agg") {
    val p = plan("sql_tpch_q1")
    assert(p.contains("PushedFilters: [IsNotNull(l_shipdate), LessThanOrEqual(l_shipdate"),
      p.split("\n").filter(_.contains("PushedFilters")).mkString("\n"))
    assert("HashAggregate".r.findAllIn(p).size >= 2, p.take(2000))
  }

  test("degree histogram: no cartesian, bucket agg is domain-bounded") {
    val p = plan("graph_degree_hist")
    assert(!p.contains("CartesianProduct"), p.take(2000))
  }

  test("session stats: sessionize + both rollups ride ONE user_id exchange") {
    // The lag flag, running session id, session agg ((user, session)
    // clustering satisfied by the user_id partitioning) and user agg
    // all share the window's exchange.
    val p = plan("ts_session_stats")
    val hashEx = "Exchange hashpartitioning".r.findAllIn(p).size
    assert(hashEx == 1, s"expected 1 hash exchange, got $hashEx:\n" +
      p.split("\n").filter(_.contains("Exchange")).mkString("\n"))
  }

  test("gap percentiles: lag window and percentile agg share the exchange") {
    val p = plan("ts_gap_percentiles")
    val hashEx = "Exchange hashpartitioning".r.findAllIn(p).size
    assert(hashEx == 1, s"expected 1 hash exchange, got $hashEx:\n" +
      p.split("\n").filter(_.contains("Exchange")).mkString("\n"))
  }

  test("burst days: ONE window node hosts both trailing frames") {
    val p = plan("ts_burst_days")
    assert("Window \\[".r.findAllIn(p).size == 1, p.take(3000))
  }

  test("tokenizer fertility: scan-side counting, one agg exchange, no join") {
    val p = plan("text_tokenizer_fertility")
    assert(!p.contains("Join") && !p.contains("Window"), p.take(2000))
    val hashEx = "Exchange hashpartitioning".r.findAllIn(p).size
    assert(hashEx == 1, s"expected 1 hash exchange, got $hashEx:\n" +
      p.split("\n").filter(_.contains("Exchange")).mkString("\n"))
  }

  test("SCD3: change flag, islands, both windows and the agg share ONE exchange") {
    val p = plan("etl_scd3_prev_value")
    assert(!p.contains("Join"), p.take(2000))
    val hashEx = "Exchange hashpartitioning".r.findAllIn(p).size
    assert(hashEx == 1, s"expected 1 hash exchange, got $hashEx:\n" +
      p.split("\n").filter(_.contains("Exchange")).mkString("\n"))
  }

  test("jaro names: the custom Expression stays inside whole-stage codegen") {
    // The JW score must ride a codegen'd operator (the `*(n)` marker),
    // not an interpreted fallback — a UDF here would box every pair.
    val p = plan("dedup_jaro_names")
    assert(p.split("\n").exists(l => l.contains("jaro_winkler") &&
      l.trim.matches("^[+:\\-\\s]*\\*\\(\\d+\\).*")),
      s"jaro_winkler not in a codegen'd operator:\n${p.take(3000)}")
    assert(!p.contains("CartesianProduct"), p.take(2000))
  }

  test("incremental agg merge: two partial halves union, no window, no row join") {
    // The only join is the broadcast-scalar cut; the halves are
    // filtered partial aggs merged through a Union + final agg.
    val p = plan("etl_incremental_agg_merge")
    assert(p.contains("Union"), p.take(3000))
    assert(!p.contains("Window") && !p.contains("SortMergeJoin"),
      p.take(2000))
  }

  test("TPC-H Q10: top-20 tail collapses to TakeOrderedAndProject") {
    val p = plan("sql_tpch_q10")
    assert(p.contains("TakeOrderedAndProject"), p.take(3000))
    assert(p.contains("BroadcastHashJoin"), p.take(3000))
  }

  test("nested prune: the scan reads ONLY the aggregated struct leaf") {
    // SchemaPruning must narrow the read to who.event_type — neither
    // who.user_id nor the payload struct may appear in ReadSchema.
    val p = plan("scan_nested_prune")
    assert(p.contains("ReadSchema: struct<who:struct<event_type:string>>"),
      p.split("\n").filter(_.contains("ReadSchema")).mkString("\n"))
  }

  test("hourly top-k ranks through TopKPerGroupExec above the windowed agg") {
    val p = plan("stream_hourly_topk")
    assert(p.contains("TopKPerGroup"), p.take(3000))
  }

  test("cohort LTV: ONE window over calendar-bounded cells, no cartesian") {
    val p = plan("agg_cohort_ltv")
    assert("Window \\[".r.findAllIn(p).size == 1, p.take(3000))
    assert(!p.contains("CartesianProduct"), p.take(2000))
  }

  test("byte chunks: map-side explode, one presentation exchange, no join") {
    val p = plan("multimodal_byte_chunks")
    assert(!p.contains("Join") && !p.contains("HashAggregate"), p.take(2000))
    assert("Exchange".r.findAllIn(p).size == 1,
      p.split("\n").filter(_.contains("Exchange")).mkString("\n"))
  }

  test("MAD anomaly days: statistics broadcast back, no window, no SMJ") {
    // Every join in the plan is broadcast-built (the daily table and
    // the two |types|-row statistics) — nothing row-shuffles for a
    // join and no window node appears.
    val p = plan("ts_anomaly_mad")
    assert("BroadcastHashJoin".r.findAllIn(p).size >= 2, p.take(3000))
    assert(!p.contains("SortMergeJoin") && !p.contains("Window"),
      p.take(2000))
  }

  test("new-vs-returning: day-set fold keeps it at two hash exchanges") {
    // user fold + day rollup; the join spelling would add two more.
    val p = plan("ts_new_vs_returning")
    assert(!p.contains("Join"), p.take(2000))
    val hashEx = "Exchange hashpartitioning".r.findAllIn(p).size
    assert(hashEx == 2, s"expected 2 hash exchanges, got $hashEx:\n" +
      p.split("\n").filter(_.contains("Exchange")).mkString("\n"))
  }

  test("time-to-convert: ONE user_id exchange, chained mins map-side") {
    val p = plan("agg_time_to_convert")
    assert(!p.contains("Join") && !p.contains("Window"), p.take(2000))
    val hashEx = "Exchange hashpartitioning".r.findAllIn(p).size
    assert(hashEx == 1, s"expected 1 hash exchange, got $hashEx:\n" +
      p.split("\n").filter(_.contains("Exchange")).mkString("\n"))
  }

  test("clustering coefficient: wedge legs reuse the distinct-edge exchange") {
    val p = plan("graph_clustering_coeff")
    assert(p.contains("ReusedExchange"), p.take(3000))
  }

  test("growth rates: both lag frames share ONE window node") {
    val p = plan("ts_growth_rates")
    assert("Window \\[".r.findAllIn(p).size == 1, p.take(3000))
  }

  test("RFM: threshold scoring — no window, no sort-merge join anywhere") {
    // The point of the percentile-threshold design: scoring is
    // map-side against a broadcast 1-row statistics table; a global
    // ntile would be a single-partition sort of every customer.
    val p = plan("agg_rfm_segments")
    assert(!p.contains("Window") && !p.contains("SortMergeJoin"),
      p.take(3000))
  }

  test("also-bought ranks through TopKPerGroupExec") {
    val p = plan("graph_also_bought_topk")
    assert(p.contains("TopKPerGroup"), p.take(3000))
  }

  test("partition profile: one day-keyed agg, the distinct expand is the only extra") {
    val p = plan("etl_partition_profile")
    assert(!p.contains("Join") && !p.contains("Window"), p.take(2000))
  }

  test("Wilson error rate: single two-phase agg, interval math in the projection") {
    val p = plan("ts_error_rate_wilson")
    assert(!p.contains("Join") && !p.contains("Window"), p.take(2000))
    val hashEx = "Exchange hashpartitioning".r.findAllIn(p).size
    assert(hashEx == 1, s"expected 1 hash exchange, got $hashEx:\n" +
      p.split("\n").filter(_.contains("Exchange")).mkString("\n"))
  }

  test("TPC-H Q7: disjunctive nation predicate stays a residual, no cartesian") {
    val p = plan("sql_tpch_q7")
    assert(!p.contains("CartesianProduct"), p.take(3000))
    assert("BroadcastHashJoin".r.findAllIn(p).size >= 2, p.take(3000))
  }

  test("forecast backtest: both predictor lags share ONE window node") {
    val p = plan("ts_forecast_baseline_mae")
    assert("Window \\[".r.findAllIn(p).size == 1, p.take(3000))
  }

  test("trigram top-10 collapses to TakeOrderedAndProject") {
    val p = plan("path_trigrams_topk")
    assert(p.contains("TakeOrderedAndProject"), p.take(3000))
    assert("Window \\[".r.findAllIn(p).size == 1, p.take(3000))
  }

  test("TPC-H Q6: every predicate reaches the parquet scan") {
    val p = plan("sql_tpch_q6")
    assert(p.contains("PushedFilters: [IsNotNull(l_shipdate), IsNotNull(l_discount), IsNotNull(l_quantity)"),
      p.split("\n").filter(_.contains("PushedFilters")).mkString("\n"))
    assert(!p.contains("Join"), p.take(2000))
  }

  test("basket distribution: broadcast total, no window, no row-join shuffle") {
    // The 1-row total rides a broadcast nested-loop cross; the share
    // never needs a global window or a sort-merge join. (The total's
    // subtree re-derives the distribution — 3 hash exchanges on
    // |orders|-then-|sizes| keys, all partial-aggregating.)
    val p = plan("agg_basket_size_dist")
    assert(!p.contains("Window") && !p.contains("SortMergeJoin"),
      p.take(2000))
    assert(p.contains("BroadcastNestedLoopJoin"), p.take(2000))
  }

  test("rank movers: week-rank and part-lag windows over the pre-agg only") {
    val p = plan("topk_rank_delta")
    assert("Window \\[".r.findAllIn(p).size == 2, p.take(3000))
    assert(!p.contains("Join"), p.take(2000))
  }

  test("survival curve: suffix sum rides ONE window over the bounded spine") {
    val p = plan("agg_survival_curve")
    assert("Window \\[".r.findAllIn(p).size == 1, p.take(3000))
    assert(!p.contains("SortMergeJoin"), p.take(2000))
  }

  test("dormancy buckets and shard balance: window-free, broadcast totals") {
    for (q <- Seq("agg_dormancy_buckets", "pipeline_shard_balance")) {
      val p = plan(q)
      assert(!p.contains("Window") && !p.contains("SortMergeJoin"),
        s"$q:\n${p.take(2000)}")
    }
  }

  test("TPC-H Q14: part broadcasts, single two-phase conditional agg") {
    val p = plan("sql_tpch_q14")
    assert(p.contains("BroadcastHashJoin"), p.take(3000))
    assert("HashAggregate".r.findAllIn(p).size >= 2, p.take(2000))
  }

  test("correlated EXISTS decorrelates to a semi join (no per-row subquery)") {
    val p = plan("sql_exists_correlated")
    assert(p.contains("LeftSemi"), p.take(3000))
    assert(!p.contains("CartesianProduct"), p.take(2000))
  }

  test("centroid classify: scoring is a broadcast map pass over the vectors") {
    // The |labels|-row centroid table broadcasts; the per-vector
    // argmin partial-aggregates — no shuffle of scored pairs beyond
    // the (vec, label) agg.
    val p = plan("sim_centroid_classify")
    assert(p.contains("BroadcastNestedLoopJoin") ||
      p.contains("BroadcastHashJoin"), p.take(3000))
    assert(!p.contains("SortMergeJoin"), p.take(2000))
  }

  test("inline VALUES dim broadcasts (LocalRelation stats seen by planner)") {
    val p = plan("sql_values_inline")
    assert(p.contains("BroadcastHashJoin"), p.take(2000))
    assert(!p.contains("SortMergeJoin"), p.take(2000))
  }

  test("star-EXCEPT prunes the dropped columns out of the scan") {
    val p = plan("sql_star_except")
    assert(p.contains("ReadSchema: struct<o_orderkey:bigint,o_custkey:bigint," +
      "o_orderstatus:string,o_totalprice:double>"), p.take(2000))
    assert(p.contains("GreaterThan(o_totalprice,300000.0)"), p.take(2000))
  }

  test("GROUP BY ALL plans the same two-phase hash aggregate") {
    val p = plan("sql_groupby_all")
    assert("HashAggregate".r.findAllIn(p).size >= 2, p.take(2000))
  }

  test("max_by/min_by is one two-phase aggregate — no window detour") {
    val p = plan("agg_max_by_min_by")
    assert("HashAggregate".r.findAllIn(p).size >= 2, p.take(2000))
    assert(!p.contains("Window"), p.take(2000))
  }

  test("hard negatives rank through TopKPerGroupExec, probes broadcast") {
    val p = plan("sim_hard_negative_mine")
    assert(p.contains("TopKPerGroup"), p.take(3000))
    assert(p.contains("BroadcastNestedLoopJoin") ||
      p.contains("BroadcastHashJoin"), p.take(3000))
  }

  test("Theil-Sen pairs ride the event_type hash join — no cartesian") {
    val p = plan("ts_theil_sen")
    assert(!p.contains("CartesianProduct"), p.take(3000))
  }

  test("span corruption and cusum plans stay cartesian-free") {
    for (q <- Seq("pipeline_span_corruption", "ts_cusum_changepoint",
      "ts_peak_detect")) {
      val p = plan(q)
      assert(!p.contains("CartesianProduct"), s"$q has a cartesian product")
    }
  }

  test("hash/URL function suites are join-free row-local projections") {
    for (q <- Seq("fn_hash_suite", "fn_parse_url")) {
      val p = plan(q)
      assert(!p.contains("Join"), s"$q plans a join: ${p.take(1500)}")
    }
  }

  // ---- round-10 waves ----

  test("LIMIT/OFFSET page collapses to a bounded TakeOrderedAndProject") {
    val p = plan("sort_limit_offset_page")
    assert(p.contains("TakeOrderedAndProject"), p.take(2000))
    assert(!p.contains("Exchange rangepartitioning"),
      s"offset page must not global-sort: ${p.take(2000)}")
  }

  test("bbox IoU is shuffle-free map work before the output sort") {
    val p = plan("multimodal_bbox_iou")
    assert(!p.contains("Join"), s"bbox plans a join: ${p.take(1500)}")
    // Exactly the one range exchange the deterministic output order needs.
    assert("Exchange".r.findAllIn(p).size == 1, p.take(2000))
  }

  test("confusion sweep: one corpus scan, threshold spine broadcast") {
    val p = plan("eval_confusion_binary")
    assert("FileScan parquet".r.findAllIn(p).size == 1,
      s"events must scan once: ${p.take(2000)}")
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastExchange"),
      s"threshold spine must broadcast: ${p.take(2000)}")
  }

  test("NDCG ranks through the bounded TopKPerGroup heap, cartesian-free") {
    val p = plan("eval_ndcg_label")
    assert(p.contains("TopKPerGroup"), p.take(2000))
    assert(!p.contains("CartesianProduct"), p.take(2000))
  }

  test("Adamic-Adar keeps the Jaccard key's equi-join-only wedge plan") {
    val p = plan("graph_adamic_adar")
    assert(!p.contains("CartesianProduct"), p.take(2000))
    // The wedge explode must come from sorted lists, not an nb⋈nb join:
    // the only joins are the capped-middle/deg and anti-join legs.
    assert(p.contains("Generate"), s"wedge explode missing: ${p.take(2000)}")
  }

  test("chi-square cells: one events scan feeding the window totals") {
    val p = plan("agg_chi2_independence")
    assert("FileScan parquet".r.findAllIn(p).size == 1,
      s"events must scan once: ${p.take(2000)}")
    assert(!p.contains("Join"), s"chi2 must be join-free: ${p.take(1500)}")
  }

  test("greedy NMS is join-free: per-image fold, no pairwise join at all") {
    val p = plan("multimodal_nms")
    assert(!p.contains("Join"), s"NMS must not join: ${p.take(2000)}")
    assert(!p.contains("CartesianProduct"), p.take(2000))
  }

  test("zone containment joins on grid cells, never a nested loop") {
    val p = plan("geo_zone_join")
    assert(!p.contains("BroadcastNestedLoopJoin"),
      s"zone join degenerated to a nested loop: ${p.take(2000)}")
    assert(!p.contains("CartesianProduct"), p.take(2000))
  }

  test("track sessions pay ONE user-keyed hash exchange for windows + reduce") {
    val p = plan("geo_track_sessions")
    assert("Exchange hashpartitioning\\(user_id".r.findAllIn(p).size == 1,
      s"expected exactly one user_id exchange: ${p.take(3000)}")
  }

  test("surrogate keys rank with NO Window operator (GlobalRank path)") {
    val p = plan("etl_surrogate_keys")
    assert(!p.contains("Window"),
      s"surrogate ranking fell back to a window: ${p.take(2000)}")
  }

  test("anchor assignment folds map-side: no join, no window, one sort exchange") {
    val p = plan("multimodal_anchor_assign")
    assert(!p.contains("Join"), s"anchor assign plans a join: ${p.take(1500)}")
    assert(!p.contains("Window"), s"anchor assign plans a window: ${p.take(1500)}")
    assert("Exchange".r.findAllIn(p).size == 1, p.take(2000))
  }

  test("tile re-projection fuses with a per-row predicate: join-free") {
    val p = plan("multimodal_tile_remap")
    assert(!p.contains("Join"), s"tile remap plans a join: ${p.take(1500)}")
    assert("Exchange".r.findAllIn(p).size == 1, p.take(2000))
  }

  test("capture-recapture is one events scan, join-free to the 1-row fold") {
    val p = plan("agg_capture_recapture")
    assert("FileScan parquet".r.findAllIn(p).size == 1,
      s"events must scan once: ${p.take(2000)}")
    assert(!p.contains("Join"), s"capture-recapture joins: ${p.take(1500)}")
  }

  test("detection AP: per-image/box windows only, cartesian-free") {
    val p = plan("eval_det_ap")
    assert(!p.contains("CartesianProduct"), p.take(2000))
    assert(p.contains("Exchange hashpartitioning(image_id"),
      s"matcher must shuffle per image: ${p.take(2000)}")
  }

  test("Gi* hotspots scatter on grid-cell equi-joins, never a nested loop over cells") {
    val p = plan("geo_hotspot_gi")
    assert(!p.contains("CartesianProduct"), p.take(2000))
    assert(p.contains("Exchange hashpartitioning(cell_lat"),
      s"scatter/gather must join on cell keys: ${p.take(2000)}")
  }

  test("balanced undersampling: two lang exchanges (rank window + cap reduce), cap broadcast") {
    val p = plan("sample_balanced_undersample")
    // One lang exchange feeds the rank window, one the min-count
    // reduce (partial-aggregated, ≤|classes| rows through it); the cap
    // itself reaches the filter as a broadcast, never a shuffle join.
    assert("Exchange hashpartitioning\\(lang".r.findAllIn(p).size == 2,
      s"expected the window + cap-reduce lang exchanges: ${p.take(3000)}")
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastExchange"),
      s"min-count cap must broadcast: ${p.take(2000)}")
  }

  test("grid-NN screening: scatter candidates join on cell keys, never a point-pair nested loop") {
    val p = plan("geo_nn_screening")
    assert(!p.contains("CartesianProduct"), p.take(2000))
    assert(!p.contains("BroadcastNestedLoopJoin"),
      s"NN candidates degenerated to a nested loop: ${p.take(2000)}")
    // Cell keys must be the JOIN keys — as a shuffle-hash/SMJ exchange
    // at scale or (fixture-size) a broadcast hash join; either way the
    // hash keys are the cells, never the raw points.
    assert(p.contains("Exchange hashpartitioning(cell_lat")
      || "HashJoin \\[cell_lat".r.findFirstIn(p).isDefined,
      s"candidates must equi-join on cells: ${p.take(2000)}")
  }

  test("class co-occurrence: within-image equi-join, marginals broadcast") {
    val p = plan("multimodal_class_cooccurrence")
    assert(!p.contains("CartesianProduct"), p.take(2000))
    assert(p.contains("Exchange hashpartitioning(image_id")
      || p.contains("SortMergeJoin") || p.contains("BroadcastHashJoin"),
      s"pair join must key on image_id: ${p.take(2000)}")
  }

  test("degree gini never sorts |V| globally: the only order-by window runs on the degree histogram") {
    val p = plan("graph_degree_gini")
    // The Lorenz fold's window partitions by nothing BUT its input is
    // the ≤O(√E)-row degree histogram (two aggregates upstream); a
    // |V|-scale global sort would show a rangepartitioning exchange
    // feeding the window straight from the node-degree aggregate.
    assert("Window".r.findAllIn(p).size >= 1, p.take(2000))
    assert("HashAggregate".r.findAllIn(p).size >= 4,
      s"histogram reduce must precede the window: ${p.take(3000)}")
  }

  test("COCO mAP: class-aware matcher keys (thr, cls, image), per-class partial aggs, no cartesian") {
    val p = plan("eval_map_coco")
    // The only crossJoins are the bounded grid builders and the
    // broadcast per-class gt totals — never the detection tables.
    assert(!p.contains("CartesianProduct"), p.take(2000))
    // The matcher and score-block windows must partition per
    // (thr, cls, …): a window missing cls would mix classes.
    assert(p.contains("Exchange hashpartitioning(thr")
      || p.contains("Exchange hashpartitioning(cls"),
      s"windows must shuffle per (thr, cls): ${p.take(3000)}")
    assert("HashAggregate".r.findAllIn(p).size >= 4,
      s"score blocks must reduce partially before the window: ${p.take(3000)}")
  }

  test("track stitching: frame-pair equi-join + pointer-doubling equi-joins, no nested loop") {
    val p = plan("multimodal_track_stitch")
    assert(!p.contains("CartesianProduct"), p.take(2000))
    assert(!p.contains("BroadcastNestedLoopJoin"),
      s"frame-pair candidates degenerated to a nested loop: ${p.take(2000)}")
  }

  test("betweenness dependency pass: (seed, node) equi-joins only, no cartesian") {
    val p = plan("graph_betweenness")
    assert(!p.contains("CartesianProduct")
      && !p.contains("BroadcastNestedLoopJoin"),
      s"dependency stages must stay equi-joins: ${p.take(2500)}")
  }

  test("grid DBSCAN: the corpus appears only in the first cell reduce; clustering joins on keys") {
    val p = plan("geo_dbscan_cells")
    // The adaptive core cut broadcasts the one-row mean; the label
    // rounds run against LocalTableScan checkpoints of the bounded
    // cell tables — a nested loop over cells would mean the stencil
    // degenerated.
    assert(!p.contains("CartesianProduct"), p.take(2000))
    assert(p.contains("BroadcastNestedLoopJoin")
      || p.contains("BroadcastExchange"),
      s"mean cut must broadcast: ${p.take(2000)}")
  }

  test("track kinematics: equi-joins over checkpointed track tables, no cartesian") {
    val p = plan("multimodal_track_speed")
    assert(!p.contains("CartesianProduct"), p.take(2000))
  }

  test("theil index: nation totals broadcast back, term pass is map-side") {
    val p = plan("agg_theil_index")
    assert(!p.contains("CartesianProduct"), p.take(2000))
    // customer dim and the 25-row totals both broadcast — the corpus
    // never shuffles for the share computation.
    assert("BroadcastHashJoin".r.findAllIn(p).size >= 2,
      s"dim + totals must broadcast: ${p.take(2500)}")
  }

  test("wilcoxon ranks run through GlobalRank's range exchange, not a single-partition window") {
    val p = plan("agg_wilcoxon_signed_rank")
    // GlobalRank.runningSum materializes via rangepartitioning; a
    // global row_number window would plan Exchange SinglePartition
    // feeding a Window.
    assert(!p.contains("Window"),
      s"rank must not be a global window: ${p.take(2500)}")
  }

  /** [[plan]] with spark.sql.autoBroadcastJoinThreshold at `t`. */
  private def planAt(name: String, t: String): String = {
    val key = "spark.sql.autoBroadcastJoinThreshold"
    spark.conf.set(key, t)
    try plan(name) finally spark.conf.unset(key)
  }

  test("small final sort runs in one task: no range exchange under it") {
    // Spark's range sort samples bounds with a job that re-runs the
    // window and both percentile aggregates; one task sorts the
    // per-user rows behind a single-partition exchange instead.
    val p = plan("geo_step_length_percentiles")
    assert(p.contains("OneTaskSort") && !p.contains("rangepartitioning"),
      p.take(3000))
    assert("Exchange SinglePartition".r.findAllIn(p).size == 1,
      p.split("\n").filter(_.contains("Exchange")).mkString("\n"))
    // Broadcasts off turns it off: Spark's range sort, as before.
    val ranged = planAt("geo_step_length_percentiles", "-1")
    assert(!ranged.contains("OneTaskSort") &&
      "Exchange rangepartitioning".r.findAllIn(ranged).size == 1, ranged.take(3000))
  }

  test("a final sort over an unpartitioned window adds no exchange") {
    // The window's output is already one partition in `day` order.
    def exchanges(p: String) = "Exchange".r.findAllIn(p).size
    val p = plan("etl_retention_plan")
    val ranged = planAt("etl_retention_plan", "-1")
    assert(exchanges(p) == exchanges(ranged) && exchanges(p) == 4,
      p.split("\n").filter(_.contains("Exchange")).mkString("\n"))
    assert(!ranged.contains("OneTaskSort"), ranged.take(3000))
  }
}
