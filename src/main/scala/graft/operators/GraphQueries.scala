package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables.t
import graft.Det.r4d

/** §2.23 Graph analytics (SURVEY.md, round-6 second amendment):
  * fixed-point PageRank — the second distributed-iteration primitive
  * next to dedup_cluster_canon's connected components (label
  * propagation finds WHICH rows relate; PageRank ranks HOW CENTRAL each
  * one is — the dedup survivor-selection and seed-page weighting step
  * of web-corpus curation pipelines).
  *
  * Determinism is the design driver: float PageRank sums contributions
  * in shuffle arrival order, so two runs (or two engines) differ in
  * final ulps and an exact oracle is impossible. Ranks here are SCALED
  * LONGS (1.0 ≡ 1,000,000) and every update is integer arithmetic —
  * `new = 150000 + 85·Σ(rank div deg) div 100`, the damping-0.85
  * update with truncating division on non-negative operands, identical
  * in Spark (`div`) and DuckDB (`//`). Replay-stable to the bit, which
  * is what an incremental 100 TB re-crawl diff actually needs; the
  * truncation bias (< 1e-6 per hop) is the documented price.
  *
  * Scale: each of the 5 fixed iterations is one edge⋈rank equi-join +
  * one dst-keyed partial-agg shuffle — the textbook Pregel round as
  * plain DataFrame ops, run with ConnectedComponents.scala's
  * materialization discipline: the (edges ⋈ deg) table persists ONCE
  * for the whole loop, each superstep's ranks are eagerly
  * checkpointed (truncating lineage — without this the single lazy
  * plan re-scanned lineitem 22× with zero exchange reuse, measured),
  * and the previous round's blocks release as soon as the next is
  * materialized, so driver/executor state is one ranks copy + the
  * edge cache regardless of iteration count. Graph: the
  * part↔supplier bipartite graph of distinct lineitem pairs, both
  * directions, so every node has out-degree ≥ 1 and the dangling-mass
  * term vanishes by construction.
  */
object GraphQueries {
  type Q = (SparkSession, String) => DataFrame

  /** Distinct (order, part) incidence pairs — the bipartite base of
    * every co-purchase graph key. */
  private def orderParts(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "lineitem")
      .select(col("l_orderkey").as("ok"), col("l_partkey").as("p"))
      .distinct()

  /** Oriented (a < b) distinct co-purchase edges — ONE definition so
    * triangle counting, clustering coefficient, degree histogram,
    * k-core and BFS all iterate literally the same graph. */
  private def orientedEdges(pp: DataFrame): DataFrame =
    pp.as("x").join(pp.as("y"),
        col("x.ok") === col("y.ok") && col("x.p") < col("y.p"))
      .select(col("x.p").as("a"), col("y.p").as("b")).distinct()

  /** FIXED deterministic seed budget for the sampled-seed BFS
    * estimators (closeness, eccentricity, betweenness). Round 13
    * sampled seeds as a FRACTION of |V| (p % 997 / % 499), so the
    * composite-key (seed × ball) state grew superlinearly with the
    * corpus — SCALE_STRESS measured exp_10x ≈ 1.04 on the two
    * closeness-family keys, the suite's only ≥ linear rows. A
    * CONSTANT seed count makes the estimator O(ball) at any corpus
    * size; the trade is estimator variance, not correctness — the
    * standard pivot-sampling argument (same device as
    * SimilarityJoin's bounded pivot set). Selection is hash-order
    * top-k — md5 of the node id, node tie-break — via
    * orderBy+limit, which Spark plans as TakeOrderedAndProject
    * (per-partition top-k + driver merge of k·p rows, never a global
    * sort), replay-stable and engine-neutral (DuckDB: ORDER BY
    * md5(CAST(p AS VARCHAR)), p LIMIT k). */
  private val SeedBudget = 16
  private def hashSeeds(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "lineitem")
      .select(col("l_partkey").as("node")).distinct()
      .orderBy(md5(col("node").cast("string").cast("binary")),
        col("node"))
      .limit(SeedBudget)

  /** The matching DuckDB seed subquery (columns: p). */
  private val oracleSeeds: String =
    s"""(SELECT p FROM (SELECT DISTINCT p FROM pp)
       |    ORDER BY md5(CAST(p AS VARCHAR)), p LIMIT $SeedBudget)""".stripMargin

  /** Doulion md5 edge sampling at the given hex-prefix set (Σ 1/16
    * each) — shared by the sampled-graph keys so their "SAME edge
    * set" invariants hold by construction, not by copy. */
  private def doulionSample(e: DataFrame, prefixes: Seq[String]): DataFrame =
    e.filter(substring(md5(concat(col("a").cast("string"), lit("_"),
      col("b").cast("string")).cast("binary")), 1, 1)
      .isin(prefixes: _*))

  /** Per-order part SETS — the shared first stage of the restructured
    * edge builds: ONE groupBy(ok) + collect_set (order baskets are
    * small, ≈4 parts, so the sets are bounded) instead of the
    * distinct-then-self-join spelling, which pays a distinct exchange
    * on (ok, p) AND a re-exchange on ok AND the join build. */
  private def partSetsByOrder(s: SparkSession, dir: String): DataFrame =
    graft.Tables.fanout(t(s, dir, "lineitem")
        .select(col("l_orderkey").as("ok"), col("l_partkey").as("p")),
        col("ok"))
      .groupBy("ok").agg(sort_array(collect_set(col("p"))).as("ps"))
      .filter(size(col("ps")) >= 2)

  /** `[doulionSample∘]orientedEdges(orderParts(…))` with the edge
    * GENERATION restructured for scale — bit-identical output
    * (round-9 A/B: same 1,493,876 edges on the 10× corpus, 2.4×
    * faster). Two wins over the self-join spelling: (a) the
    * [[partSetsByOrder]] build above, with per-order a<b pairs a
    * MAP-SIDE double explode off the sorted set; (b) the md5 sample
    * COMMUTES with distinct (it is a pure function of (a, b)), so it
    * filters the raw pair stream BEFORE the distinct — the dedup
    * exchange shuffles p·|pairs| rows instead of |pairs|. All the
    * co-purchase graph keys ride this build (round-9 migration); the
    * naive orientedEdges composition stays for spec-side reference
    * constructions. */
  private def sampledOrientedEdges(s: SparkSession, dir: String,
      prefixes: Option[Seq[String]]): DataFrame = {
    val pairs = partSetsByOrder(s, dir)
      .select(posexplode(col("ps")).as(Seq("i", "a")), col("ps"))
      .select(col("a"), explode(expr("slice(ps, i + 2, size(ps))")).as("b"))
    prefixes.fold(pairs)(p => doulionSample(pairs, p)).distinct()
  }

  /** Per-node triangle corner counts over oriented a<b edges: wedge
    * on the middle node + exact closing-edge probe (each triangle
    * once), credited to all three corners. The three join legs are
    * the same edge subplan, so the exchange builds once
    * (ReusedExchange, pinned). */
  private def triangleCorners(e: DataFrame): DataFrame = {
    val closing = e.select(col("a").as("ea"), col("b").as("eb"))
    e.as("e1").join(e.as("e2"), col("e1.b") === col("e2.a"))
      .select(col("e1.a").as("a"), col("e1.b").as("b"),
        col("e2.b").as("c"))
      .join(closing, col("a") === col("ea") && col("c") === col("eb"))
      .select(explode(array(col("a"), col("b"), col("c"))).as("node"))
      .groupBy("node").agg(count(lit(1)).as("n_tri"))
  }

  private val Iters = 5
  private val KcoreRounds = 5
  private val LpaRounds = 5
  private val BfsRounds = 3

  /** Both-direction (src, dst) edge cache for the per-round BFS-family
    * joins, hash-partitioned AND sorted on the per-round join key
    * before the persist (the round-17 §2.4 one-exchange-for-the-loop
    * device). Round-18 restructure: the two directions come from ONE
    * map-side explode of (a,b)/(b,a) structs instead of a
    * localCheckpoint of the oriented edges + a UNION of two reads —
    * the oriented-edge subplan is referenced exactly once, so the
    * extra materialization (checkpoint write + two cache reads) and
    * the union disappear; rows are identical. No Union of
    * generator-lineage legs remains, so the round-13 constraint-rewrite
    * shim is unnecessary on this path (the loop-side union joins a
    * checkpointed state table whose legs share no generator
    * attributes). */
  private def bothDirEdgeCache(s: SparkSession, dir: String,
      prefixes: Option[Seq[String]]): DataFrame =
    sampledOrientedEdges(s, dir, prefixes)
      .select(explode(array(
        struct(col("a").as("src"), col("b").as("dst")),
        struct(col("b").as("src"), col("a").as("dst")))).as("e"))
      .select(col("e.src").as("src"), col("e.dst").as("dst"))
      .repartition(col("src")).sortWithinPartitions("src")
      .persist()

  /** The composite-key (seed, node) BFS behind graph_closeness and
    * graph_eccentricity: every hashSeeds seed runs in ONE
    * BfsRounds-round loop over the full both-direction edge cache. Per
    * round, one equi-join expands last round's frontier (dist = r − 1)
    * and one (seed, node)-keyed min reduce merges it — bfsFullReagg's
    * plan with the seed column riding along (one loop per seed would
    * pay 3·|seeds| joins). Each round localCheckpoints eagerly
    * and releases the round it supersedes, so one state copy stays
    * pinned. Returns the (seed, node, dist) rows with dist > 0; the
    * edge cache is already unpersisted (the result reads only the
    * checkpointed state). */
  private def seedDistances(s: SparkSession, dir: String): DataFrame = {
    val ed = bothDirEdgeCache(s, dir, None)
    var dist = hashSeeds(s, dir).select(col("node").as("seed"),
      col("node"), lit(0L).as("dist")).localCheckpoint(true)
    for (r <- 1 to BfsRounds) {
      val nxt = dist.filter(col("dist") === (r - 1).toLong)
        .join(ed, col("node") === col("src"))
        .select(col("seed"), col("dst").as("node"),
          lit(r.toLong).as("dist"))
      val next = dist.unionAll(nxt)
        .groupBy("seed", "node").agg(min(col("dist")).as("dist"))
        .localCheckpoint(true)
      org.apache.spark.sql.graftshim.unpersistCheckpoint(dist)
      dist = next
    }
    ed.unpersist()
    dist.filter(col("dist") > 0)
  }

  /** The deduplicated co-purchase edges (a < b) labeled with both
    * endpoints' brands: (b, a, ba, bb), two broadcast label joins.
    * Shared by the brand conductance/modularity/cross-brand keys. */
  private def brandEdges(s: SparkSession, dir: String): DataFrame = {
    val co = partSetsByOrder(s, dir)
      .select(explode(col("ps")).as("a"), col("ps"))
      .select(col("a"), explode(col("ps")).as("b"))
      .filter(col("a") < col("b"))
      .distinct()
    val brand = t(s, dir, "part")
      .select(col("p_partkey"), col("p_brand"))
    co
      .join(broadcast(brand.select(col("p_partkey").as("a"),
        col("p_brand").as("ba"))), Seq("a"))
      .join(broadcast(brand.select(col("p_partkey").as("b"),
        col("p_brand").as("bb"))), Seq("b"))
  }

  /** The capped wedge machinery of the link-prediction keys: (e, deg,
    * mid) with e the persisted sampled oriented edges (a, b), deg the
    * persisted per-node degree (v, deg) and mid the (v, n, deg, cap)
    * neighbor rows whose middle v has degree at most the p95 degree
    * cap (a data value off the degree histogram, so replay-stable). */
  private def cappedWedgeMiddles(s: SparkSession, dir: String)
      : (DataFrame, DataFrame, DataFrame) = {
    import org.apache.spark.sql.expressions.Window
    val e = sampledOrientedEdges(s, dir, Some(Seq("0", "1"))).persist()
    val nb = e.select(col("a").as("v"), col("b").as("n"))
      .unionAll(e.select(col("b").as("v"), col("a").as("n")))
    val deg = nb.groupBy(col("v")).agg(count(lit(1)).as("deg")).persist()
    val hist = deg.groupBy(col("deg")).agg(count(lit(1)).as("cnt"))
    val cap = hist
      .withColumn("cum", sum(col("cnt")).over(Window.orderBy(col("deg"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .withColumn("k", ceil(lit(0.95) * sum(col("cnt"))
        .over(Window.partitionBy(lit(1)))).cast("long"))
      .filter(col("cum") >= col("k"))
      .agg(min(col("deg")).as("cap"))
    val mid = nb.join(deg, "v").crossJoin(broadcast(cap))
      .filter(col("deg") <= col("cap"))
    (e, deg, mid)
  }

  /** The event-type transition relation behind the directed type-graph
    * keys: (src, dst, n, n_from) — n consecutive same-user (src → dst)
    * event pairs in (ms, event_id) order, n_from the src type's total. */
  private def typeTransitions(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ms"), col("event_id"))
    graft.Tables.events(s, dir)
      .select(col("user_id"), col("event_id"), col("event_type"),
        unix_millis(col("ts").cast("timestamp")).as("ms"))
      .withColumn("next_type", lead(col("event_type"), 1).over(w))
      .filter(col("next_type").isNotNull)
      .groupBy(col("event_type").as("src"), col("next_type").as("dst"))
      .agg(count(lit(1)).as("n"))
      .withColumn("n_from",
        sum(col("n")).over(Window.partitionBy(col("src"))))
  }

  val queries: Map[String, Q] = Map(
    "graph_pagerank" -> ((s, dir) => {
      // The loop lives in GraphAlgorithms.pageRank (one cached
      // (src, dst, deg) copy serves every superstep; per-superstep
      // checkpoint truncates lineage so iteration N's plan is one join
      // + one agg, never a replay of rounds 1..N−1). Fixed 5 rounds
      // here — the unrolled-oracle contract.
      val pairs = t(s, dir, "lineitem")
        .select(col("l_partkey"), col("l_suppkey")).distinct()
      val edges = pairs
        .select((col("l_partkey") * 2).as("src"),
          (col("l_suppkey") * 2 + 1).as("dst"))
        .unionAll(pairs.select((col("l_suppkey") * 2 + 1).as("src"),
          (col("l_partkey") * 2).as("dst")))
      GraphAlgorithms.pageRank(s, edges, Iters).orderBy("node")
    }),

    // TRIANGLE COUNTING over a hash-sparsified co-occurrence graph —
    // the clustering-structure primitive next to PageRank's centrality
    // (community detection, link-spam scoring, graph feature
    // engineering). Graph: parts co-purchased in the same order
    // (distinct a<b pairs), DOULION-style deterministically sparsified
    // — keep an edge iff md5(a_b) starts in '0'..'3' (p = 1/4), the
    // same replayable md5 convention the sampling keys use (no rand()
    // anywhere; Tsourakakis et al., KDD'09: count/p³ estimates the
    // full-graph total). Counting uses the oriented-wedge form: on
    // a<b edges, wedge (a<b<c) via e1.b = e2.a, closed by an exact
    // (a,c) edge probe — each triangle found exactly once, then
    // credited to all three corners.
    //
    // Scale: orientation (a<b) caps wedge generation by the SQUARE of
    // the out-degree of the MIDDLE node under the total order — the
    // standard trick that tames power-law hubs (a hub's wedges split
    // across its lower neighbors instead of deg² at one node). The
    // sparsification pushes to the scan side (p² of wedges survive),
    // and all three legs are equi-joins on edge keys — shuffle-bounded
    // by |E|, never |V|². The three self-join legs are the same
    // distinct-edge subplan, so the exchange is built once and reused
    // (ReusedExchange, pinned in PlanAuditSpec).
    "graph_triangle_count" -> ((s, dir) => {
      val e = sampledOrientedEdges(s, dir, Some(Seq("0", "1", "2", "3")))
      triangleCorners(e).orderBy("node")
    }),

    // ALSO-BOUGHT TOP-K — the recommendation staple: for every part,
    // the 3 parts most often co-purchased with it (weighted bipartite
    // projection of the order⋈part graph + per-node top-k). The
    // co-occurrence count partial-aggregates off the per-order pair
    // expand (fan-out bounded by order size², never corpus²), and the
    // per-part ranking runs through the custom TopKPerGroup operator —
    // ≤3 rows per (part × partition) into the exchange instead of a
    // window sort of every neighbor list (pinned). Full total order
    // (n_co desc, other) for replay-stable recommendations.
    "graph_also_bought_topk" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      // Round-9: co-occurrence pairs off the per-order part SETS (one
      // groupBy(ok) shuffle + map-side double explode) instead of the
      // pp self-join — same bit-identical pair multiset, the
      // sampledOrientedEdges build rationale; both directions kept
      // (part ≠ other), no a<b orientation here.
      val co = partSetsByOrder(s, dir)
        .select(explode(col("ps")).as("part"), col("ps"))
        .select(col("part"), explode(col("ps")).as("other"))
        .filter(col("part") =!= col("other"))
        .groupBy(col("part"), col("other"))
        .agg(count(lit(1)).as("n_co"))
      val w = Window.partitionBy(col("part"))
        .orderBy(col("n_co").desc, col("other"))
      graft.plans.TopKPerGroup(co, k = 3, partNames = Seq("part"),
          orderSpec = Seq(("n_co", false), ("other", true)))
        .withColumn("rk", row_number().over(w).cast("long"))
        .orderBy("part", "rk")
    }),

    // MULTI-SOURCE BFS — hop distance from a deterministic seed set
    // (parts ≡ 0 mod 97), THREE fixed relaxation rounds: the
    // reachability/blast-radius primitive (which catalog items sit
    // within k recommendation hops of a recalled product; which
    // accounts within k payment hops of a flagged one). Each round is
    // one edge⋈frontier equi-join + a min-distance partial agg — the
    // Pregel round as plain DataFrame ops under the
    // ConnectedComponents materialization discipline (per-round eager
    // checkpoint, previous blocks released). Fixed rounds, not
    // fixpoint, so the unrolled MATERIALIZED oracle mirrors exactly
    // (the kcore lesson); unreached nodes simply don't appear.
    "graph_bfs_distance" -> ((s, dir) => {
      // Delegates to GraphAlgorithms.bfsFullReagg — on this DENSE
      // co-purchase graph (diameter ~2-3 from the mod-97 seeds) the
      // one-agg-per-round form is the cheaper one (it beat a
      // frontier-delta form in the round-8 A/B, BASELINE.md). Fixed 3
      // rounds — the unrolled-oracle contract.
      // Round-18: one-pass both-direction edge cache (see
      // bothDirEdgeCache) — drops the round-13 localCheckpoint +
      // direction-union (one materialization fewer; the constraint
      // shim is moot without a generator-lineage Union).
      val ed = bothDirEdgeCache(s, dir, None)
      val seeds = t(s, dir, "lineitem")
        .select(col("l_partkey").as("node")).distinct()
        .filter(pmod(col("node"), lit(97)) === 0)
      val dist = GraphAlgorithms.bfsFullReagg(s, ed, seeds, BfsRounds)
      ed.unpersist()
      dist.orderBy("node")
    }),

    // HARMONIC CENTRALITY, 3-HOP (§2.87) — per-seed Σ 1/d(s,v) over
    // the BFS ball (the closeness variant that handles disconnected
    // graphs; truncated at the same 3 rounds as graph_bfs_distance —
    // the unrolled-oracle contract). The distances come from
    // seedDistances, the composite-key (seed, node) BFS that runs all
    // SeedBudget seeds in ONE 3-round loop. Exactness: distances are
    // 1..3, so 1/d in SIXTHS (6 div d ∈ {6,3,2}) is an exact integer
    // sum; one division at the edge.
    "graph_closeness" -> ((s, dir) =>
      seedDistances(s, dir)
        .groupBy("seed")
        .agg(count(lit(1)).as("n_reached"),
          sum(expr("6 div dist")).as("h6"))
        .select(col("seed"), col("n_reached"),
          r4d(col("h6").cast("double") / lit(6.0)).as("harmonic_3hop"))
        .orderBy("seed")),

    // BIPARTITE DEGREE PROFILE (§2.120) — the ORIGINAL order↔part
    // incidence graph's two-sided shape (everything else projects it
    // away): per side, node count, edge count, exact mean degree, p95
    // (the capq cumulative-histogram device — never a global value
    // sort), and max. The numbers that decide whether the projected
    // co-purchase build is even safe (a fat order fans out
    // quadratically in the projection). One distinct pass, two
    // degree reduces, histogram tails.
    "graph_bipartite_profile" -> ((s, dir) => {
      val pp = t(s, dir, "lineitem")
        .select(col("l_orderkey").as("ok"), col("l_partkey").as("p"))
        .distinct().localCheckpoint(true)
      def side(keyCol: String, name: String): DataFrame = {
        val deg = pp.groupBy(keyCol).agg(count(lit(1)).as("deg"))
        val hist = deg.groupBy("deg").agg(count(lit(1)).as("cnt"))
        import org.apache.spark.sql.expressions.Window
        val wcum = Window.orderBy("deg")
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        val tot = hist.agg(sum(col("cnt")).cast("long").as("n"),
          sum(col("deg") * col("cnt")).cast("long").as("sdeg"),
          max(col("deg")).as("mx"))
        val p95 = hist.withColumn("cum", sum(col("cnt")).over(wcum)
            .cast("long"))
          .crossJoin(broadcast(tot))
          .filter(col("cum") * 20 >= col("n") * 19)
          .agg(min(col("deg")).as("p95"))
        tot.crossJoin(broadcast(p95))
          .select(lit(name).as("side"), col("n").as("n_nodes"),
            col("sdeg").as("n_edges"),
            r4d(col("sdeg").cast("double") / col("n").cast("double"))
              .as("avg_deg"),
            col("p95").as("p95_deg"), col("mx").as("max_deg"))
      }
      side("ok", "order").unionAll(side("p", "part")).orderBy("side")
    }),

    // 3-HOP REACH PROFILE + ECCENTRICITY (§2.119) — per closeness
    // seed: how many nodes sit at EXACTLY hop 1 / 2 / 3, and the
    // truncated eccentricity (the deepest occupied hop ≤ 3) — the
    // ball-growth curve next to graph_closeness's harmonic compress
    // (same seeds, same seedDistances BFS; a seed's curve
    // says hub-vs-periphery the single harmonic number hides). Exact
    // integer conditional counts off the same unrolled rounds.
    "graph_eccentricity" -> ((s, dir) =>
      seedDistances(s, dir)
        .groupBy("seed")
        .agg(sum(when(col("dist") === 1, 1L).otherwise(0L))
            .cast("long").as("n_hop1"),
          sum(when(col("dist") === 2, 1L).otherwise(0L))
            .cast("long").as("n_hop2"),
          sum(when(col("dist") === 3, 1L).otherwise(0L))
            .cast("long").as("n_hop3"),
          max(col("dist")).as("ecc3"))
        .orderBy("seed")),

    // SEED-SAMPLED TRUNCATED BRANDES BETWEENNESS (§2.108) — the one
    // classic centrality missing next to pagerank/closeness/kcore:
    // which nodes sit ON the short paths between others? Brandes over
    // all SeedBudget seeds at once via seedDistances' composite-key
    // (seed, node) BFS — extended to carry σ, the EXACT INTEGER count
    // of shortest paths (σ(w) = Σ σ over depth-(d−1) predecessors;
    // frontier rows join edges once per round, new nodes enter by
    // anti-join). The backward pass is the per-level dependency
    // accumulation δ(v) = Σ_{w∈succ} σv/σw·(1+δw) unrolled over the 3
    // truncated depths as two join+reduce stages — and kept
    // DETERMINISTIC by the adamic-adar device: each term is snapped
    // to BIGINT 10⁻⁶-units with truncating division (σw ≥ σv for a
    // succ pair, so every term ≤ 10⁶·(1+δw/10⁶) — no overflow), and
    // only INTEGERS are ever summed, so shuffle order can't move a
    // ulp. Per-node bc = Σ over seeds in DECIMAL(38,0) (seed counts
    // grow with the corpus), one double division at the edge. Edges:
    // the shared Doulion '0','1' sample (1/8) — betweenness on the
    // sparsified graph is the estimator, and the sample bounds σ and
    // the frontier fan-out at any corpus size.
    "graph_betweenness" -> ((s, dir) => {
      // Round-18: one-pass both-direction edge cache (bothDirEdgeCache)
      // replaces the localCheckpoint + direction-union build.
      val ed = bothDirEdgeCache(s, dir, Some(Seq("0", "1")))
      val seeds = hashSeeds(s, dir)
      var dist = seeds.select(col("node").as("seed"), col("node"),
        lit(0L).as("dist"), lit(1L).as("sigma")).localCheckpoint(true)
      for (r <- 1 to BfsRounds) {
        val contrib = dist.filter(col("dist") === (r - 1).toLong)
          .join(ed, col("node") === col("src"))
          .groupBy(col("seed"), col("dst"))
          .agg(sum(col("sigma")).as("sigma"))
          .select(col("seed"), col("dst").as("node"),
            lit(r.toLong).as("dist"), col("sigma"))
        val fresh = contrib.join(dist.select(col("seed"), col("node")),
          Seq("seed", "node"), "left_anti")
        dist = dist.unionAll(fresh).localCheckpoint(true)
      }
      def lvl(d: Int) = dist.filter(col("dist") === d.toLong)
        .select(col("seed"), col("node"), col("sigma"))
      // δ at depth 3 is 0 (truncation); depth-2 deps from depth-3
      // successors, then depth-1 deps read them back.
      val dep2 = lvl(2).as("v")
        .join(ed, col("v.node") === col("src"))
        .join(lvl(3).as("w"),
          col("w.seed") === col("v.seed") && col("w.node") === col("dst"))
        .groupBy(col("v.seed").as("seed"), col("v.node").as("node"))
        .agg(sum(expr("(v.sigma * 1000000) div w.sigma")).as("delta"))
        .localCheckpoint(true)
      val dep1 = lvl(1).as("v")
        .join(ed, col("v.node") === col("src"))
        .join(lvl(2).as("w"),
          col("w.seed") === col("v.seed") && col("w.node") === col("dst"))
        .join(dep2.as("dp"),
          col("dp.seed") === col("w.seed")
            && col("dp.node") === col("w.node"), "left")
        .groupBy(col("v.seed").as("seed"), col("v.node").as("node"))
        .agg(sum(expr(
          "(v.sigma * (1000000 + coalesce(dp.delta, 0L))) div w.sigma"))
          .as("delta"))
      val res = dep1.select(col("node"), col("delta"))
        .unionAll(dep2.select(col("node"), col("delta")))
        .groupBy("node")
        .agg(sum(col("delta").cast("decimal(38,0)")).as("bcd"))
        .select(col("node"), col("bcd").cast("long").as("bc_scaled"),
          r4d(col("bcd").cast("double") / lit(1000000.0))
            .as("betweenness"))
        .orderBy("node")
      res
    }),

    // LOCAL CLUSTERING COEFFICIENT — triangles normalized by wedge
    // capacity, cc(v) = 2·T(v)/(deg·(deg−1)): the per-node community
    // density score on top of graph_triangle_count's raw counts (high
    // cc = tight community, hub with cc ≈ 0 = spam/aggregator shape —
    // the feature link-spam classifiers read). Both T(v) and deg come
    // from the SAME Doulion-sparsified edge set (p = ¼ md5 prefix —
    // ratios on the sparsified graph are the estimator; mixing a
    // sampled numerator with the full-graph degree would bias cc by
    // p²). Same oriented-wedge counting, same reused distinct-edge
    // subplan; nodes below 2 sampled degrees have no defined cc and
    // drop; triangle-free nodes emit 0 via the left join.
    // GLOBAL TRANSITIVITY (§2.115) — the graph-level closure ratio
    // C = 3T/W = Σ_v T(v) / Σ_v C(deg_v, 2): one number where
    // graph_clustering_coeff emits per-node rows (the two famously
    // DISAGREE on hub-heavy graphs — transitivity weighs hubs by
    // their wedge count, the mean coefficient doesn't — which is
    // exactly why both belong in the surface). Same '0'–'3' Doulion
    // sample and the same reused triangle-corner subplan; both sums
    // are exact integers in DECIMAL(38,0) (wedge counts are
    // deg²-shaped and grow fast), ONE division at the edge.
    "graph_transitivity_global" -> ((s, dir) => {
      val e = sampledOrientedEdges(s, dir, Some(Seq("0", "1", "2", "3")))
        .localCheckpoint(true)
      val deg = e.select(explode(array(col("a"), col("b"))).as("node"))
        .groupBy("node").agg(count(lit(1)).as("deg"))
      val tc = triangleCorners(e)
      deg.join(tc, Seq("node"), "left")
        .agg(count(lit(1)).as("n_nodes"),
          sum((col("deg").cast("decimal(38,0)") * (col("deg") - 1) / 2)
            .cast("decimal(38,0)")).as("wedges"),
          sum(coalesce(col("n_tri"), lit(0L)).cast("decimal(38,0)"))
            .as("corners"))
        .select(col("n_nodes"),
          col("wedges").cast("long").as("sum_wedges"),
          col("corners").cast("long").as("sum_corners"),
          r4d(col("corners").cast("double")
            / col("wedges").cast("double")).as("transitivity"))
    }),

    "graph_clustering_coeff" -> ((s, dir) => {
      val e = sampledOrientedEdges(s, dir, Some(Seq("0", "1", "2", "3")))
      val deg = e.select(explode(array(col("a"), col("b"))).as("node"))
        .groupBy("node").agg(count(lit(1)).as("deg"))
      deg.join(triangleCorners(e), Seq("node"), "left")
        .filter(col("deg") >= 2)
        .select(col("node"), col("deg"),
          coalesce(col("n_tri"), lit(0L)).as("n_tri"),
          r4d(lit(2.0) * coalesce(col("n_tri"), lit(0L)).cast("double")
            / (col("deg").cast("double")
              * (col("deg").cast("double") - lit(1.0)))).as("coeff"))
        .orderBy("node")
    }),

    // DEGREE DISTRIBUTION of the co-purchase part graph in log₂
    // buckets — the power-law health check that decides every other
    // graph key's cost model (pagerank's hub mass, triangle counting's
    // wedge bound, skew-join salting thresholds all hinge on the
    // degree tail). Bucketing is INTEGER-EXACT via the binary-string
    // trick: floor(log₂ deg) = length(bin(deg)) − 1 — identical in
    // both engines, immune to the float-log ulp-at-power-of-two edge
    // that floor(log2(x)) risks.
    //
    // Scale: distinct edges (one exchange, the triangle key's subplan
    // without sampling — degrees must be exact), endpoint explode is
    // map-side on the edge partitioning, then a node-keyed count and a
    // ≤64-row bucket agg. Output is domain-bounded (≤64 buckets); the
    // shuffles are |E| slim pairs and |V| counts — never quadratic.
    "graph_degree_hist" -> ((s, dir) => {
      val e = sampledOrientedEdges(s, dir, None)
      val deg = e.select(explode(array(col("a"), col("b"))).as("node"))
        .groupBy("node").agg(count(lit(1)).as("deg"))
      deg.groupBy((length(bin(col("deg"))) - 1).cast("long").as("bucket"))
        .agg(count(lit(1)).as("n_nodes"), min(col("deg")).as("min_deg"),
          max(col("deg")).as("max_deg"),
          sum(col("deg").cast("decimal(38,0)")).cast("long").as("sum_deg"))
        .orderBy("bucket")
    }),

    // MUTUAL BEST PAIRS (§2.168) — the reciprocal-recommendation
    // audit over graph_also_bought_topk's ranking: part pairs that
    // are each other's #1 co-purchase (mutual-best links are the
    // high-precision "bundle" candidates; one-directional tops are
    // not). Top-1 per part under the (n_co desc, other) total order,
    // one self-join on the ≤|parts|-row top-1 table, a < b
    // canonicalization. Exact counts end to end.
    "graph_mutual_best_pairs" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val co = partSetsByOrder(s, dir)
        .select(explode(col("ps")).as("part"), col("ps"))
        .select(col("part"), explode(col("ps")).as("other"))
        .filter(col("part") =!= col("other"))
        .groupBy(col("part"), col("other"))
        .agg(count(lit(1)).as("n_co"))
      val w = Window.partitionBy(col("part"))
        .orderBy(col("n_co").desc, col("other"))
      val top1 = co.withColumn("rk", row_number().over(w))
        .filter(col("rk") === 1)
        .select(col("part"), col("other"), col("n_co"))
        .localCheckpoint(true)
      top1.as("x").join(top1.as("y"),
          col("x.other") === col("y.part")
            && col("y.other") === col("x.part")
            && col("x.part") < col("y.part"))
        .select(col("x.part").as("part_a"),
          col("x.other").as("part_b"), col("x.n_co").as("n_co"))
        .orderBy("part_a")
    }),

    // SIZE ASSORTATIVITY (§2.187) — the NUMERIC-attribute mixing
    // coefficient completing the trio (degree assortativity §2.x,
    // categorical type assortativity §2.176): Pearson correlation of
    // p_size across co-purchase edge endpoints, computed over BOTH
    // orientations so the statistic is symmetric by construction.
    // Sizes are exact integers — exact decimal moments, one
    // division. Do customers buy similar-sized parts together?
    "graph_size_assortativity" -> ((s, dir) => {
      val D0 = "decimal(38,0)"
      val co = partSetsByOrder(s, dir)
        .select(explode(col("ps")).as("a"), col("ps"))
        .select(col("a"), explode(col("ps")).as("b"))
        .filter(col("a") < col("b"))
        .distinct()
      val sz = t(s, dir, "part")
        .select(col("p_partkey"), col("p_size").cast("long")
          .as("psz"))
      val e2 = co
        .join(broadcast(sz.select(col("p_partkey").as("a"),
          col("psz").as("za"))), Seq("a"))
        .join(broadcast(sz.select(col("p_partkey").as("b"),
          col("psz").as("zb"))), Seq("b"))
      val both = e2.select(col("za").as("x"), col("zb").as("y"))
        .union(e2.select(col("zb").as("x"), col("za").as("y")))
      both.agg(count(lit(1)).as("n"),
          sum(col("x").cast(D0)).as("sx"),
          sum(col("y").cast(D0)).as("sy"),
          sum(col("x").cast(D0) * col("x")).as("sxx"),
          sum(col("y").cast(D0) * col("y")).as("syy"),
          sum(col("x").cast(D0) * col("y")).as("sxy"))
        .select(expr("n div 2").as("n_edges"),
          r4d((col("n") * col("sxy") - col("sx") * col("sy"))
            .cast("double")
            / (sqrt((col("n") * col("sxx") - col("sx") * col("sx"))
              .cast("double"))
              * sqrt((col("n") * col("syy") - col("sy") * col("sy"))
                .cast("double")))).as("size_assortativity"))
    }),

    // DEGREE-SALES CORRELATION (§2.185) — do hub products sell?
    // Pearson correlation between a part's co-purchase degree and
    // its total quantity sold — the "network position vs revenue"
    // number a merchandising team uses to decide whether bundle
    // placement (degree) is worth buying. Degrees and quantity cents
    // are exact integers, so every moment is an exact decimal and
    // ONE division runs; the join is part-keyed between two partial
    // aggregates.
    "graph_degree_sales_corr" -> ((s, dir) => {
      val D0 = "decimal(38,0)"
      val deg = partSetsByOrder(s, dir)
        .select(explode(col("ps")).as("part"), col("ps"))
        .select(col("part"), explode(col("ps")).as("other"))
        .filter(col("part") =!= col("other"))
        .distinct()
        .groupBy("part").agg(count(lit(1)).as("deg"))
      // Round-18: fanout REVERTED (round-17 verdict #4) — light
      // scan-fused work, the extra exchange cost more than the spread
      // won (0.97 → 1.39 s driver-to-driver with it kept).
      val sales = t(s, dir, "lineitem")
        .select(col("l_partkey"), col("l_quantity"))
        .groupBy(col("l_partkey").as("part"))
        .agg(sum(round(col("l_quantity") * 100).cast("long"))
          .as("qc"))
      val j = deg.join(sales, Seq("part"))
      j.agg(count(lit(1)).as("n"),
          sum(col("deg").cast(D0)).as("sx"),
          sum(col("qc").cast(D0)).as("sy"),
          sum(col("deg").cast(D0) * col("deg")).as("sxx"),
          sum(col("qc").cast(D0) * col("qc")).as("syy"),
          sum(col("deg").cast(D0) * col("qc")).as("sxy"))
        .select(col("n").as("n_parts"),
          r4d((col("n") * col("sxy") - col("sx") * col("sy"))
            .cast("double")
            / (sqrt((col("n") * col("sxx") - col("sx") * col("sx"))
              .cast("double"))
              * sqrt((col("n") * col("syy") - col("sy") * col("sy"))
                .cast("double")))).as("degree_sales_corr"))
    }),

    // SUPPLIER PROJECTION (§2.183) — the one-mode projection of the
    // part↔supplier bipartite graph graph_bipartite_profile
    // describes: the top-20 supplier pairs by shared distinct parts,
    // with the Jaccard overlap of their catalogs — the
    // "interchangeable vendor" readout procurement risk reviews
    // want. Aggregate-first: the distinct (supplier, part) table
    // pairs WITHIN part only (bounded by per-part supplier counts),
    // one keyed reduce, two broadcast degree joins, a bounded top-20
    // total order.
    "graph_supplier_projection" -> ((s, dir) => {
      val sp = graft.Tables.fanout(t(s, dir, "lineitem")
        .select(col("l_suppkey").as("sk"), col("l_partkey").as("p")),
        col("sk"), col("p")).distinct()
      val lhs = sp.select(col("p"), col("sk").as("sa"))
      val rhs = sp.select(col("p"), col("sk").as("sb"))
      val pairs = lhs.join(rhs, Seq("p"))
        .filter(col("sa") < col("sb"))
        .groupBy("sa", "sb").agg(count(lit(1)).as("n_shared"))
      val deg = sp.groupBy("sk").agg(count(lit(1)).as("d"))
      pairs
        .join(broadcast(deg.select(col("sk").as("sa"),
          col("d").as("da"))), Seq("sa"))
        .join(broadcast(deg.select(col("sk").as("sb"),
          col("d").as("db"))), Seq("sb"))
        .orderBy(col("n_shared").desc, col("sa"), col("sb"))
        .limit(20)
        .select(col("sa").as("supplier_a"), col("sb").as("supplier_b"),
          col("n_shared"), col("da").as("n_parts_a"),
          col("db").as("n_parts_b"),
          r4d(col("n_shared").cast("double")
            / (col("da") + col("db") - col("n_shared"))
              .cast("double")).as("jaccard"))
    }),

    // BRAND PAIR LIFT (§2.198) — market-basket association at the
    // BRAND level (agg_assoc_rules_lift's device on the order⋈brand
    // basket): top-20 brand pairs by lift (n_ab ≥ 5), the
    // co-merchandising table one level above part-level mutual
    // pairs. Within-basket pair fanout is bounded by per-order
    // distinct brands; lift cross-multiplies exact integers before
    // its one division; (lift rounded desc, pair) total order.
    "graph_brand_pair_lift" -> ((s, dir) => {
      val b = t(s, dir, "lineitem")
        .join(broadcast(t(s, dir, "part")
          .select(col("p_partkey").as("l_partkey"), col("p_brand"))),
          Seq("l_partkey"))
        .select(col("l_orderkey").as("ok"), col("p_brand"))
        .distinct()
      val nb = b.select("ok").distinct()
        .agg(count(lit(1)).as("n_baskets"))
      val singles = b.groupBy(col("p_brand"))
        .agg(count(lit(1)).as("n_single"))
      val lhs = b.select(col("ok"), col("p_brand").as("ba"))
      val rhs = b.select(col("ok"), col("p_brand").as("bb"))
      val pairs = lhs.join(rhs, Seq("ok"))
        .filter(col("ba") < col("bb"))
        .groupBy("ba", "bb").agg(count(lit(1)).as("n_ab"))
        .filter(col("n_ab") >= 5)
      pairs
        .join(broadcast(singles.select(col("p_brand").as("ba"),
          col("n_single").as("n_a"))), Seq("ba"))
        .join(broadcast(singles.select(col("p_brand").as("bb"),
          col("n_single").as("n_b"))), Seq("bb"))
        .crossJoin(broadcast(nb))
        .select(col("ba").as("brand_a"), col("bb").as("brand_b"),
          col("n_ab"),
          r4d((col("n_ab") * col("n_baskets")).cast("double")
            / (col("n_a") * col("n_b")).cast("double")).as("lift"))
        .orderBy(col("lift").desc, col("brand_a"), col("brand_b"))
        .limit(20)
    }),

    // CROSS-BRAND PARTS (§2.196) — the gateway products: the 20
    // parts whose co-purchase edges most often cross brand lines
    // (high cross share on a meaningful degree) — where cross-sell
    // placement actually works, the actionable list under the
    // aggregate assortativity/conductance numbers. Exact integer
    // edge counts from the endpoint-exploded brand-labeled edge
    // table; (share desc on the rounded value, part) total order.
    "graph_cross_brand_parts" -> ((s, dir) => {
      val e2 = brandEdges(s, dir)
      val per = e2.select(explode(array(
          struct(col("a").as("part"),
            (col("ba") =!= col("bb")).cast("long").as("x")),
          struct(col("b").as("part"),
            (col("ba") =!= col("bb")).cast("long").as("x"))))
          .as("s"))
        .select(col("s.part").as("part"), col("s.x").as("x"))
        .groupBy("part")
        .agg(count(lit(1)).as("deg"), sum(col("x")).as("n_cross"))
        .filter(col("deg") >= 10)
      per.select(col("part"), col("deg"), col("n_cross"),
          r4d(col("n_cross").cast("double") / col("deg").cast("double"))
            .as("cross_share"))
        .orderBy(col("cross_share").desc, col("part"))
        .limit(20)
    }),

    // BRAND MODULARITY (§2.190) — Newman's Q for the brand partition
    // in ONE exact division: Q = (4m·Σᵢ intᵢ − Σᵢ volᵢ²)/(4m²)
    // (intᵢ = internal edges of brand i, volᵢ = its degree volume,
    // m = total edges) — the global companion to the per-brand
    // conductance table and the no-iteration benchmark
    // graph_modularity's label-prop partition should beat. Exact
    // decimal integers end to end.
    "graph_brand_modularity" -> ((s, dir) => {
      val D0 = "decimal(38,0)"
      val e2 = brandEdges(s, dir)
      val m = e2.agg(count(lit(1)).as("m"),
        count_if(col("ba") === col("bb")).as("si"))
      val vols = e2.select(explode(array(col("ba"), col("bb")))
          .as("brand"))
        .groupBy("brand").agg(count(lit(1)).as("vol"))
        .agg(sum(col("vol").cast(D0) * col("vol")).as("sv2"),
          count(lit(1)).as("n_brands"))
      m.crossJoin(vols)
        .select(col("m").as("n_edges"), col("n_brands"),
          r4d((lit(4).cast(D0) * col("m") * col("si") - col("sv2"))
            .cast("double")
            / (lit(4).cast(D0) * col("m") * col("m"))
              .cast("double")).as("brand_modularity"))
    }),

    // BRAND CONDUCTANCE (§2.182) — community quality WITHOUT
    // iteration: treat part BRAND as the community assignment and
    // measure each brand's conductance φ = cut/min(vol, 2m−vol) over
    // the co-purchase graph — the "is this attribute a real
    // community" check that complements modularity (global score)
    // and attribute assortativity (type mixing) with a per-community
    // readout. Exact integer cut/volume counts off two broadcast
    // label joins; one |brands|-bounded reduce, one division.
    "graph_brand_conductance" -> ((s, dir) => {
      val e2 = brandEdges(s, dir)
      val m = e2.agg(count(lit(1)).as("m"))
      val per = e2.select(explode(array(
          struct(col("ba").as("brand"),
            (col("ba") === col("bb")).cast("long").as("internal")),
          struct(col("bb").as("brand"),
            (col("ba") === col("bb")).cast("long").as("internal"))))
          .as("x"))
        .select(col("x.brand").as("brand"),
          col("x.internal").as("internal"))
        .groupBy("brand")
        .agg(count(lit(1)).as("vol"),
          sum(lit(1L) - col("internal")).as("cut"))
      per.crossJoin(broadcast(m))
        .select(col("brand"), col("vol"), col("cut"),
          r4d(col("cut").cast("double")
            / least(col("vol"), lit(2L) * col("m") - col("vol"))
              .cast("double")).as("conductance"))
        .orderBy("brand")
    }),

    // ATTRIBUTE ASSORTATIVITY (§2.176) — Newman's discrete
    // assortativity coefficient over part TYPE at co-purchase edge
    // endpoints: do customers bundle within a category (r → 1) or
    // across (r < 0)? The categorical sibling of the degree-based
    // graph_assortativity. Mixing counts are directed half-edges
    // (each a<b edge contributes both orientations, so the matrix is
    // symmetric by construction); r = (M·tr − Σaᵢ²)/(M² − Σaᵢ²) in
    // exact decimal(38,0) integers with ONE final division. Two
    // broadcast-sized type joins + reduces over the |types|² grid.
    "graph_attribute_assortativity" -> ((s, dir) => {
      val D0 = "decimal(38,0)"
      val co = partSetsByOrder(s, dir)
        .select(explode(col("ps")).as("a"), col("ps"))
        .select(col("a"), explode(col("ps")).as("b"))
        .filter(col("a") < col("b"))
        .distinct()
      val typ = t(s, dir, "part")
        .select(col("p_partkey"), col("p_type"))
      val e2 = co
        .join(broadcast(typ.select(col("p_partkey").as("a"),
          col("p_type").as("ta"))), Seq("a"))
        .join(broadcast(typ.select(col("p_partkey").as("b"),
          col("p_type").as("tb"))), Seq("b"))
      val dir2 = e2.select(col("ta").as("ti"), col("tb").as("tj"))
        .union(e2.select(col("tb").as("ti"), col("ta").as("tj")))
      val nij = dir2.groupBy("ti", "tj")
        .agg(count(lit(1)).as("nij"))
      val tr = nij.filter(col("ti") === col("tj"))
        .agg(coalesce(sum(col("nij")), lit(0L)).as("tr"))
      val sa2 = nij.groupBy("ti").agg(sum(col("nij")).as("ai"))
        .agg(sum(col("ai").cast(D0) * col("ai")).as("sa2"))
      val m = dir2.agg(count(lit(1)).as("m"))
      m.crossJoin(tr).crossJoin(sa2)
        .select(expr("m div 2").as("n_edges"),
          r4d(col("tr").cast("double") / col("m").cast("double"))
            .as("same_type_share"),
          r4d((col("m").cast(D0) * col("tr") - col("sa2"))
            .cast("double")
            / (col("m").cast(D0) * col("m") - col("sa2"))
              .cast("double")).as("assortativity_r"))
    }),

    // CLUSTERING-BY-DEGREE (§2.174) — the c(k) curve: mean local
    // clustering coefficient per log₂-degree bucket — hierarchical-
    // modularity diagnostics read its slope (flat ⇒ random-graph-
    // like, falling ⇒ hub-and-spoke hierarchy). Composes
    // graph_clustering_coeff's per-node (deg, n_tri) on the SAME
    // sampled oriented edge set; per-node coefficients micro-snap to
    // 10⁻⁶ BIGINTs before the decimal bucket sums (order-
    // independent), the bucket from the bit-length device (no float
    // log). One extra keyed reduce over the per-node table.
    "graph_clustering_by_degree" -> ((s, dir) => {
      val e = sampledOrientedEdges(s, dir, Some(Seq("0", "1", "2", "3")))
      val deg = e.select(explode(array(col("a"), col("b"))).as("node"))
        .groupBy("node").agg(count(lit(1)).as("deg"))
      val per = deg.join(triangleCorners(e), Seq("node"), "left")
        .filter(col("deg") >= 2)
        .select(col("deg"),
          floor(lit(2.0e6)
            * coalesce(col("n_tri"), lit(0L)).cast("double")
            / (col("deg").cast("double")
              * (col("deg").cast("double") - lit(1.0))))
            .cast("long").as("c6"))
      per.select((length(bin(col("deg"))) - 1).cast("long")
          .as("bucket"), col("c6"))
        .groupBy("bucket")
        .agg(count(lit(1)).as("n_nodes"),
          sum(col("c6").cast("decimal(38,0)")).as("s6"))
        .select(col("bucket"), col("n_nodes"),
          r4d(col("s6").cast("double") / col("n_nodes").cast("double")
            / lit(1.0e6)).as("mean_coeff"))
        .orderBy("bucket")
    }),

    // EDGE EMBEDDEDNESS (§2.173) — Granovetter's weak-tie profile:
    // per co-purchase edge, the count of common neighbors of its
    // endpoints (the edge's triangle support), histogrammed into
    // power-of-two-ish buckets with shares — the structural-cohesion
    // readout between graph_clustering_coeff (per-node) and
    // graph_transitivity_global (one number). Embeddedness-0 edges
    // are local bridges (this fixture has none — the dense-graph
    // reading the bucket 0 row makes checkable). Runs on the SAME
    // doulion-sampled subgraph as the clustering keys (the full
    // co-purchase edge set benched 25 s at sf0.1 — the triangle
    // enumeration's wedge mass scales ~cubically in edge density, so
    // the 1/4 edge sample is the doctrine here exactly as it is for
    // clustering_coeff); exact integers throughout.
    "graph_edge_embeddedness" -> ((s, dir) => {
      // Eager checkpoint: co feeds FOUR plan branches (three
      // triangle legs + the left-join spine); materializing once
      // keeps the expensive order-set build single-execution.
      val co = sampledOrientedEdges(s, dir,
        Some(Seq("0", "1", "2", "3"))).localCheckpoint(true)
      // Per-edge triangle support via the ORIENTED a<b<c wedge +
      // closing-edge probe (each triangle enumerated once, wedge
      // mass bounded by oriented out-degree — the triangle_count
      // shape), NOT a symmetric-adjacency intersection join: the
      // naive form's Σdeg² hub blowup measured exp_10x 1.081 before
      // this rewrite; the oriented form sits at the family's ~0.5.
      val e1 = co.select(col("a").as("x1"), col("b").as("y1"))
      val e2 = co.select(col("a").as("x2"), col("b").as("y2"))
      val e3 = co.select(col("a").as("x3"), col("b").as("y3"))
      val tris = e1.join(e2, col("y1") === col("x2"))
        .join(e3, col("x3") === col("x1") && col("y3") === col("y2"))
        .select(col("x1").as("ta"), col("y1").as("tb"),
          col("y2").as("tc"))
      // One explode, not a 3-way union of selects: a union would
      // duplicate (and re-execute) the triangle join per branch —
      // measured 3× the whole-key cost before this form.
      val cn = tris.select(explode(array(
          struct(col("ta").as("a"), col("tb").as("b")),
          struct(col("ta").as("a"), col("tc").as("b")),
          struct(col("tb").as("a"), col("tc").as("b")))).as("e"))
        .select(col("e.a").as("a"), col("e.b").as("b"))
        .groupBy("a", "b").agg(count(lit(1)).as("c"))
      val bucketed = co.join(cn, Seq("a", "b"), "left")
        .select(coalesce(col("c"), lit(0L)).as("c"))
        .select(when(col("c") <= 2, col("c"))
          .when(col("c") <= 4, 3L).when(col("c") <= 8, 4L)
          .when(col("c") <= 16, 5L).otherwise(6L).as("bucket_id"))
        .groupBy("bucket_id").agg(count(lit(1)).as("n_edges"))
      bucketed
        .crossJoin(broadcast(bucketed
          .agg(sum(col("n_edges")).cast("long").as("tot"))))
        .select(col("bucket_id"),
          when(col("bucket_id") === 0, "0")
            .when(col("bucket_id") === 1, "1")
            .when(col("bucket_id") === 2, "2")
            .when(col("bucket_id") === 3, "3-4")
            .when(col("bucket_id") === 4, "5-8")
            .when(col("bucket_id") === 5, "9-16")
            .otherwise("17+").as("embeddedness"),
          col("n_edges"),
          r4d(col("n_edges").cast("double")
            / col("tot").cast("double")).as("share"))
        .orderBy("bucket_id")
    }),

    // DEEPWALK CORPUS (§2.171) — the random-walk sentence generator
    // behind DeepWalk/node2vec-style graph embeddings, made
    // replay-deterministic: from EVERY node of the co-purchase
    // graph, 2 walks of 2 steps each, the step choice driven by the
    // 52-bit md5 integer uniform (the §2.129 device) over the
    // node's md5-ranked adjacency list — no RNG state, so backfills
    // and retries emit byte-identical corpora. Shape: one bounded
    // window to index adjacency + two equi-joins (frontier ⋈ adj),
    // walk count is 2·|nodes| — corpus-linear, no materialized
    // walk×walk anything.
    "graph_deepwalk_corpus" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val co = partSetsByOrder(s, dir)
        .select(explode(col("ps")).as("part"), col("ps"))
        .select(col("part"), explode(col("ps")).as("other"))
        .filter(col("part") =!= col("other"))
        .distinct()
      val wadj = Window.partitionBy(col("part"))
        .orderBy(md5(concat(col("part").cast("string"), lit(":"),
          col("other").cast("string")).cast("binary")), col("other"))
      val adj = co.withColumn("idx",
        row_number().over(wadj).cast("long"))
      val deg = co.groupBy("part").agg(count(lit(1)).as("deg"))
      def u(node: org.apache.spark.sql.Column,
          seed: org.apache.spark.sql.Column, step: Int) =
        conv(substring(md5(concat(node.cast("string"), lit(":"),
          seed.cast("string"), lit(s":$step")).cast("binary")),
          1, 13), 16, 10).cast("long")
      val w0 = deg
        .select(col("part").as("n0"), col("deg").as("d0"),
          explode(array(lit(1L), lit(2L))).as("walk_no"))
        .withColumn("i1",
          pmod(u(col("n0"), col("walk_no"), 1), col("d0")) + 1)
      val s1 = w0.join(adj,
          col("part") === col("n0") && col("idx") === col("i1"))
        .select(col("n0"), col("walk_no"), col("other").as("n1"))
      // Round-18 (guide §3): step 2 used to join adjacency on n1 ALONE
      // and filter idx2 === i2 afterwards — a fan-out join producing
      // deg(n1) rows per walk before keeping exactly one. The index is
      // known BEFORE the join, so (n1, i2) is an equi-join key pair —
      // the join now emits exactly the chosen neighbor, matching step
      // 1's shape. Identical rows ((part, idx) is unique in adj).
      val s2 = s1
        .join(deg.select(col("part").as("n1"), col("deg").as("d1")),
          Seq("n1"))
        .withColumn("i2",
          pmod(u(col("n1"), col("walk_no"), 2), col("d1")) + 1)
        .join(adj.select(col("part").as("n1b"),
            col("idx").as("idx2"), col("other").as("n2")),
          col("n1") === col("n1b") && col("idx2") === col("i2"))
      s2.select(col("n0"), col("walk_no"), col("n1"), col("n2"))
        .orderBy("n0", "walk_no")
    }),

    // TOP HUBS (§2.164) — the named-node readout graph_degree_hist's
    // buckets anonymize: the 10 highest-degree parts of the
    // co-purchase graph with their endpoint share — the "which SKUs
    // anchor the catalog" list merchandising actually reads (and the
    // skew-handling watchlist for the join keys). Same unsampled
    // oriented edge set as the histogram; the top-10 is a bounded
    // ordered limit under the (deg desc, node) total order; share =
    // deg/2|E| exact integers, one division.
    "graph_top_hubs" -> ((s, dir) => {
      val e = sampledOrientedEdges(s, dir, None)
      val deg = e.select(explode(array(col("a"), col("b"))).as("node"))
        .groupBy("node").agg(count(lit(1)).as("deg"))
      val tot = deg.agg(sum(col("deg")).cast("long").as("endpoints"))
      deg.crossJoin(broadcast(tot))
        .orderBy(col("deg").desc, col("node"))
        .limit(10)
        .select(col("node"), col("deg"),
          r4d(col("deg").cast("double") / col("endpoints").cast("double"))
            .as("endpoint_share"))
    }),

    // AVERAGE NEIGHBOR DEGREE knn(d) (§2.96) — graph_assortativity's
    // single coefficient says WHETHER hubs attach to hubs; the knn(d)
    // curve says AT WHICH degrees the mixing turns (the standard
    // drill-down in network analysis). EXACT: within one degree
    // bucket every node shares denominator d, so knn(d) =
    // (Σ_{v:deg=d} Σ_{u∈N(v)} deg(u)) / (d · n_d) — a SINGLE division
    // of exact decimal(38,0) operands per bucket; no per-node
    // rational ever floats. Same '0'-prefix Doulion edge sample as
    // assortativity/modularity. Shape: two degree-keyed equi-joins +
    // a ≤|distinct degrees|-row reduce — the wedge explosion of the
    // link-prediction keys never happens here.
    // DEGREE GINI (§2.100) — hub concentration of the co-purchase
    // graph as one number (the inequality summary of
    // graph_degree_hist's buckets; assortativity says WHO hubs attach
    // to, this says how extreme the hubs are). NEVER ranks |V|
    // globally: the Lorenz sum folds over the DEGREE HISTOGRAM
    // (≤ O(√E) distinct degree values) — a block of n_d nodes at
    // degree d spans ranks (cumv−n_d, cumv], so 2·Σ rank·deg =
    // Σ_d d·n_d·(2·cumv − n_d + 1), every term an exact decimal
    // integer; G = (2·swc − (n+1)·Σdeg)/(n·Σdeg) is ONE division.
    // Shape: edge scan → |V| degree reduce → histogram reduce →
    // bounded window — the degree_hist plan plus one tiny window.
    "graph_degree_gini" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val D0 = "decimal(38,0)"
      val e = sampledOrientedEdges(s, dir, None)
      val deg = e.select(explode(array(col("a"), col("b"))).as("node"))
        .groupBy("node").agg(count(lit(1)).as("deg"))
      val hist = deg.groupBy("deg").agg(count(lit(1)).as("n_d"))
      val w = Window.orderBy("deg")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val cum = hist.withColumn("cumv", sum(col("n_d")).over(w)
        .cast("long"))
      cum.agg(sum(col("n_d")).cast("long").as("n_nodes"),
          sum((col("deg") * col("n_d")).cast(D0)).as("sdeg"),
          sum((col("deg") * col("n_d")).cast(D0)
            * (lit(2) * col("cumv") - col("n_d") + 1).cast(D0))
            .as("swc2"))
        .select(col("n_nodes"), col("sdeg").cast("long").as("sum_deg"),
          r4d((col("swc2")
              - (col("n_nodes") + 1).cast(D0) * col("sdeg"))
              .cast("double")
            / (col("n_nodes").cast(D0) * col("sdeg")).cast("double"))
            .as("gini"))
    }),

    // EGO-NETWORK DENSITY (§2.107) — for the 10 smallest part ids
    // present in the sampled graph: how densely is each node's 1-hop
    // neighborhood wired to ITSELF? φ_ego = 2·e_ego/(n_n·(n_n−1))
    // over edges among the neighbors (the seed's own spokes
    // excluded) — the local clustering drill-down the coefficient key
    // averages away. Never materializes neighbor PAIRS: ego edges
    // come from joining the EDGE list against the (seed, neighbor)
    // table on both endpoints — work is O(|E|·avg seeds per edge),
    // bounded by the seed list. Same '0'-prefix Doulion sample as the
    // coefficient keys; exact counts, one division per seed.
    "graph_ego_density" -> ((s, dir) => {
      val e = sampledOrientedEdges(s, dir, Some(Seq("0")))
        .localCheckpoint(true)
      val sym = e.select(col("a").as("v"), col("b").as("u"))
        .unionAll(e.select(col("b").as("v"), col("a").as("u")))
      val seeds = sym.select(col("v")).distinct()
        .orderBy("v").limit(10)
      val nb = sym.join(broadcast(seeds), Seq("v"))
        .select(col("v").as("seed"), col("u").as("nbr"))
        .localCheckpoint(true)
      val nn = nb.groupBy("seed").agg(count(lit(1)).as("n_nbrs"))
      val ego = e.select(col("a").as("x"), col("b").as("y"))
        .join(nb.select(col("seed"), col("nbr").as("x")), Seq("x"))
        .join(nb.select(col("seed"), col("nbr").as("y")),
          Seq("seed", "y"))
        .groupBy("seed").agg(count(lit(1)).as("e_ego"))
      nn.join(ego, Seq("seed"), "left")
        .select(col("seed"), col("n_nbrs"),
          coalesce(col("e_ego"), lit(0L)).as("e_ego"))
        .withColumn("density", when(col("n_nbrs") > 1,
          r4d((col("e_ego") * 2).cast("double")
            / (col("n_nbrs") * (col("n_nbrs") - 1)).cast("double")))
          .otherwise(lit(0.0)))
        .orderBy("seed")
    }),

    // RICH-CLUB COEFFICIENT (§2.103) — do the hubs form their own
    // club? φ(k) = 2·E_k / (N_k·(N_k−1)) over the subgraph of nodes
    // with degree > k, swept at k ∈ {1,2,4,8,16} — the
    // assortativity/knn(d) family's third face (knn says WHO hubs
    // attach to on average; φ says how densely the hub set wires to
    // ITSELF). Same '0'-prefix Doulion edge sample as the other
    // coefficient keys; N_k/E_k are exact integer counts off two
    // degree-keyed equi-joins (degrees broadcast to edge endpoints);
    // φ is one division of exact products per output row (≤5 rows).
    "graph_rich_club" -> ((s, dir) => {
      val e = sampledOrientedEdges(s, dir, Some(Seq("0"))).persist()
      val sym = e.select(col("a").as("v"))
        .unionAll(e.select(col("b").as("v")))
      val deg = sym.groupBy("v").agg(count(lit(1)).as("deg"))
      val ks = s.range(0, 5)
        .select(expr("shiftleft(1L, cast(id as int))").as("k"))
      val nk = ks.crossJoin(deg).filter(col("deg") > col("k"))
        .groupBy("k").agg(count(lit(1)).as("n_k"))
      val ek = e
        .join(deg.select(col("v").as("a"), col("deg").as("da")),
          Seq("a"))
        .join(deg.select(col("v").as("b"), col("deg").as("db")),
          Seq("b"))
        .crossJoin(ks)
        .filter(col("da") > col("k") && col("db") > col("k"))
        .groupBy("k").agg(count(lit(1)).as("e_k"))
      nk.join(ek, Seq("k"), "left")
        .select(col("k"), col("n_k"),
          coalesce(col("e_k"), lit(0L)).as("e_k"))
        .withColumn("phi", when(col("n_k") > 1,
          r4d((col("e_k") * 2).cast("double")
            / (col("n_k") * (col("n_k") - 1)).cast("double"))))
        .orderBy("k")
    }),

    "graph_avg_neighbor_degree" -> ((s, dir) => {
      val D0 = "decimal(38,0)"
      val e = sampledOrientedEdges(s, dir, Some(Seq("0"))).persist()
      val sym = e.select(col("a").as("v"), col("b").as("u"))
        .unionAll(e.select(col("b").as("v"), col("a").as("u")))
      val deg = sym.groupBy("v").agg(count(lit(1)).as("deg"))
      val sv = sym
        .join(deg.select(col("v").as("u"), col("deg").as("du")), Seq("u"))
        .groupBy("v").agg(sum(col("du").cast(D0)).as("s_v"))
      deg.join(sv, Seq("v"))
        .groupBy(col("deg").as("degree"))
        .agg(count(lit(1)).as("n_nodes"),
          sum(col("s_v")).as("s"))
        .select(col("degree"), col("n_nodes"),
          graft.Det.r4d(col("s").cast("double")
            / (col("degree").cast(D0) * col("n_nodes")).cast("double"))
            .as("knn"))
        .orderBy("degree")
    }),

    // JACCARD LINK PREDICTION — score NON-adjacent part pairs by
    // neighbor overlap, J = |N(x)∩N(y)| / |N(x)∪N(y)|: the classic
    // "products likely to be co-purchased next" baseline
    // (also-bought ranks EXISTING edges; this ranks MISSING ones —
    // the recommendation candidate generator). Common-neighbor counts
    // come from the same middle-node wedge generation as the triangle
    // key — the suite's steepest measured scale curve (wedge-PAIR
    // volume; SCALE.md round-8 addendum), so the declared plan ships
    // ALL THREE documented mitigations, each distribution-
    // deterministic:
    //  (1) Doulion p = ⅛ (prefix '0'-'1') — quarters pairs vs the
    //      triangle key's ¼;
    //  (2) min-common floor: HAVING common ≥ 2 directly on the pair
    //      aggregation — common=1 pairs are the quadratic tail and
    //      carry no overlap evidence; dropping them at the aggregate
    //      (before the anti-join and the two degree joins) shrinks
    //      every downstream shuffle;
    //  (3) middle-node degree cap at the exact 95th-percentile degree
    //      — hubs contribute pairs QUADRATICALLY and carry the least
    //      predictive signal (standard link-prediction practice). The
    //      percentile is an order statistic off the degree HISTOGRAM
    //      (O(distinct degrees) rows — a driver-light single-partition
    //      window over a tiny frame, never a global sort of |V|), so
    //      the cap is a data value and replay-stable; the scalar joins
    //      back via the broadcast-scalar idiom. Jaccard DENOMINATORS
    //      keep the TRUE degrees — the cap only limits which middles
    //      may witness a pair.
    // Integers until the one Jaccard division (|union| = dx+dy−common,
    // exact), r4d; top-20 under a (score, x, y) total order.
    //
    // Plan shape (the constant-factor half of the scale story): the
    // sampled edge set and the degree table are PERSISTED — e feeds
    // three consumers (both nb legs and the anti join) and deg four
    // (histogram, middle filter, both denominator joins); uncached,
    // the pp-self-join+distinct subplan re-executes per consumer.
    // Wedge pairs come from capped SORTED ADJACENCY LISTS (one
    // groupBy(v) shuffle of |nb| rows, then a map-side double
    // explode) instead of the nb⋈nb self-join — the join spelling
    // shuffles nb twice, builds a hash table per middle, and THEN
    // shuffles the pair stream; the list spelling pays one |nb|
    // shuffle and the cap bounds every list (and so every task's
    // explode fan-out) at the p95 degree — bounded-memory by
    // construction, no hub can blow a task.
    "graph_jaccard_linkpred" -> ((s, dir) => {
      val (e, deg, mid) = cappedWedgeMiddles(s, dir)
      val nbmid = mid.select(col("v"), col("n"))
      // Sorted lists ⇒ i < j iff ns[i] < ns[j] (neighbors are distinct
      // per v), so the (x < y) orientation falls out of slice().
      val pairs = nbmid.groupBy(col("v"))
        .agg(sort_array(collect_list(col("n"))).as("ns"))
        .filter(size(col("ns")) >= 2)
        .select(posexplode(col("ns")).as(Seq("i", "x")), col("ns"))
        .select(col("x"),
          explode(expr("slice(ns, i + 2, size(ns))")).as("y"))
      val common = pairs
        .groupBy("x", "y").agg(count(lit(1)).as("common"))
        .filter(col("common") >= 2)
      common
        .join(e, col("x") === col("a") && col("y") === col("b"),
          "left_anti")
        .join(deg.select(col("v").as("x"), col("deg").as("dx")), Seq("x"))
        .join(deg.select(col("v").as("y"), col("deg").as("dy")), Seq("y"))
        .select(col("x"), col("y"), col("common"),
          r4d(col("common").cast("double")
            / (col("dx") + col("dy") - col("common")).cast("double"))
            .as("jaccard"))
        .orderBy(col("jaccard").desc, col("x"), col("y"))
        .limit(20)
    }),

    // ADAMIC-ADAR LINK PREDICTION (§2.76) — the degree-weighted
    // refinement of graph_jaccard_linkpred on the SAME capped wedge
    // machinery: a common neighbor contributes 1/ln(deg) instead of
    // 1, so rare shared neighbors count more than hub co-membership
    // (the standard fix for Jaccard's hub bias). Determinism device:
    // each middle's contribution is snapped to an INTEGER grid —
    // round(10¹²/ln(deg)) units — so the per-pair score is an exact
    // BIGINT sum (shuffle-order-free; a last-ulp libm ln divergence
    // moves one unit in 10¹², invisible at 4dp) divided once at the
    // edge. Middles have deg ≥ 2 by the wedge filter, so ln > 0.
    // Plan shape identical to the Jaccard key: persisted sampled
    // edges + degrees, p95 degree cap off the histogram, sorted
    // capped adjacency lists, map-side double explode, anti join
    // against existing edges.
    "graph_adamic_adar" -> ((s, dir) => {
      val (e, _, mid) = cappedWedgeMiddles(s, dir)
      val nbmid = mid.select(col("v"), col("n"), col("deg"))
      val pairs = nbmid.groupBy(col("v"))
        .agg(sort_array(collect_list(col("n"))).as("ns"),
          first(col("deg")).as("degv"))
        .filter(size(col("ns")) >= 2)
        .withColumn("w",
          round(lit(1e12) / log(col("degv").cast("double"))).cast("long"))
        .select(posexplode(col("ns")).as(Seq("i", "x")), col("ns"), col("w"))
        .select(col("x"),
          explode(expr("slice(ns, i + 2, size(ns))")).as("y"), col("w"))
      val scored = pairs
        .groupBy("x", "y")
        .agg(count(lit(1)).as("common"), sum(col("w")).as("aa_units"))
        .filter(col("common") >= 2)
      scored
        .join(e, col("x") === col("a") && col("y") === col("b"),
          "left_anti")
        .select(col("x"), col("y"), col("common"),
          r4d(col("aa_units").cast("double") / lit(1e12)).as("adamic_adar"))
        .orderBy(col("adamic_adar").desc, col("x"), col("y"))
        .limit(20)
    }),

    // 2-CORE PEELING — the third distributed-iteration primitive
    // (connected components find WHO relates, PageRank HOW centrally;
    // the k-core strips the tree-like periphery that inflates both):
    // repeatedly drop nodes of degree < 2 and the edges they carried.
    // FIVE fixed peel rounds — a defined, replayable contract like
    // PageRank's five supersteps (a converge-to-fixpoint loop has
    // data-dependent round counts, which an unrolled oracle cannot
    // mirror). The graph is the md5-sparsified co-purchase edge set
    // (prefix '0', p = 1/16 — the triangle key's DOULION convention):
    // the FULL co-purchase graph has min degree ≈ 40 at every SF, so
    // a 2-core peel would be a no-op; the sparsified graph grows a
    // real low-degree periphery, and the peel (including its cascade
    // — a removal can drag a neighbor below 2 next round) converges
    // inside the contract at all fixture SFs.
    //
    // Scale: each round is one endpoint-count agg + two BROADCAST
    // semi-join prunes on the survivor set (|V|-row node lists — tiny
    // next to |E|; a non-broadcastable survivor set swaps to the
    // bloom-prefilter shape). The ConnectedComponents materialization
    // discipline applies: each round's edge set eagerly checkpoints
    // (lineage truncation) and the previous round's blocks release, so
    // state is one |E| copy regardless of rounds.
    "graph_kcore" -> ((s, dir) => {
      // Peel loop shared with GraphAlgorithms.kcorePeel; fixed 5
      // rounds here (unrolled-oracle contract), pinned ≡ the public
      // kcorePeel in GraphAlgorithmsSpec.
      val e = GraphAlgorithms.kcorePeel(s,
        sampledOrientedEdges(s, dir, Some(Seq("0"))), k = 2,
        rounds = KcoreRounds)
      e.select(explode(array(col("a"), col("b"))).as("node"))
        .groupBy("node").agg(count(lit(1)).as("deg"))
        .orderBy("node")
    }),

    // LABEL-PROPAGATION COMMUNITIES (§2.58) — the community-detection
    // complement of the iteration family (CC finds WHO connects,
    // PageRank HOW centrally, k-core the cohesive core; LPA finds the
    // DENSE GROUPS): synchronous LPA, every node adopts its neighbors'
    // most frequent label, MIN-label tie-break — the deterministic,
    // replayable variant (async/random LPA is neither). FIXED 5
    // supersteps like PageRank/k-core, because the unrolled
    // MATERIALIZED oracle mirrors rounds, not convergence (sync LPA
    // can also oscillate in 2-cycles); the loop is the public
    // GraphAlgorithms.labelPropagation, pinned ≡ this key in
    // GraphAlgorithmsSpec. Same '0'-prefix Doulion
    // graph as k-core (the sparsified periphery makes communities
    // non-trivial); integer counts, total (node) order.
    "graph_label_prop" -> ((s, dir) => {
      val e = sampledOrientedEdges(s, dir, Some(Seq("0")))
      GraphAlgorithms.labelPropagation(s, e, rounds = LpaRounds)
        .select(col("v").as("node"), col("label"))
        .orderBy("node")
    }),

    // DEGREE ASSORTATIVITY (§2.70) — Newman's r: the Pearson
    // correlation of endpoint degrees over the edge list, the one
    // structural scalar that says whether hubs link to hubs (r > 0,
    // social-style) or to leaves (r < 0, hub-and-spoke) — what it
    // means for partitioning strategy at 100 TB (disassortative
    // graphs are the skew-join case). Each undirected edge
    // contributes BOTH orderings (the standard treatment, making
    // Σx = Σy); every moment is an exact integer summed in
    // decimal(38,0) (HUGEINT oracle-side), one double division at
    // the edge; zero-variance degenerates to NULL via the raw
    // division in both engines. Cost: one self-join of the edge list
    // against the O(nodes) degree table — linear in edges.
    "graph_assortativity" -> ((s, dir) => {
      // Round-18 (guide §1.2 "don't compute things twice"): the
      // both-orderings union used to run the e⋈deg⋈deg chain TWICE —
      // one chain per ordering — doubling the two degree joins and the
      // edge scan. Both orderings' moments are symmetric functions of
      // one joined row: m = 2n, Σx = Σ(da+db), Σxy = 2Σda·db,
      // Σx² = Σ(da²+db²) — every sum an exact integer in decimal(38,0),
      // so the output is bit-identical to the union form (oracle
      // unchanged). ONE join chain, ONE pass, no union.
      val e = sampledOrientedEdges(s, dir, Some(Seq("0"))).persist()
      val deg = e.select(col("a").as("v"))
        .unionAll(e.select(col("b").as("v")))
        .groupBy("v").agg(count(lit(1)).as("deg"))
      val j = e
        .join(deg.select(col("v").as("a"), col("deg").as("da")), Seq("a"))
        .join(deg.select(col("v").as("b"), col("deg").as("db")), Seq("b"))
      j.agg(count(lit(1)).as("n"),
          sum((col("da") + col("db")).cast("decimal(38,0)")).as("sx"),
          sum((col("da") * col("db") * 2).cast("decimal(38,0)")).as("sxy"),
          sum((col("da") * col("da") + col("db") * col("db"))
            .cast("decimal(38,0)")).as("sxx"))
        .select((col("n") * 2).as("m"), col("sx"), col("sxy"), col("sxx"))
        .select(col("m"),
          graft.Det.r4d(
            (col("m") * col("sxy") - col("sx") * col("sx")).cast("double")
              / (col("m") * col("sxx") - col("sx") * col("sx"))
                .cast("double")).as("assortativity"))
    }),

    // MODULARITY (§2.66) — did label propagation find REAL structure?
    // Newman's per-community contribution Q_c = e_in/m − (Σdeg/2m)²
    // over the same '0'-prefix Doulion graph and the same 5-superstep
    // LPA labels: the standard community-quality score (ΣQ_c > 0 ⇒
    // better than random given the degree sequence). Every count
    // (m, e_in, Σdeg) is an exact integer; the two divisions and one
    // product are spelled operand-for-operand in both engines, r4d at
    // the edge. Scale: labels come from the declared LPA loop
    // (checkpoint discipline inside labelPropagation); the scoring
    // itself is two label-keyed joins on the edge list + O(|labels|)
    // aggregates with a broadcast scalar m — nothing quadratic.
    "graph_modularity" -> ((s, dir) => {
      val e = sampledOrientedEdges(s, dir, Some(Seq("0"))).persist()
      val labels = GraphAlgorithms.labelPropagation(s, e, rounds = LpaRounds)
      val degs = e.select(col("a").as("v"))
        .unionAll(e.select(col("b").as("v")))
        .groupBy("v").agg(count(lit(1)).as("deg"))
      val m = e.agg(count(lit(1)).as("m"))
      val ein = e
        .join(labels.select(col("v").as("a"), col("label").as("la")), Seq("a"))
        .join(labels.select(col("v").as("b"), col("label").as("lb")), Seq("b"))
        .filter(col("la") === col("lb"))
        .groupBy(col("la").as("label")).agg(count(lit(1)).as("e_in"))
      val dc = labels.join(degs, Seq("v"))
        .groupBy("label")
        .agg(sum(col("deg")).as("deg_sum"), count(lit(1)).as("n_nodes"))
      val out = dc.join(ein, Seq("label"), "left")
        .crossJoin(broadcast(m))
        .select(col("label").as("community"), col("n_nodes"),
          coalesce(col("e_in"), lit(0L)).as("internal_edges"),
          col("deg_sum"),
          graft.Det.r4d(
            coalesce(col("e_in"), lit(0L)).cast("double")
              / col("m").cast("double")
              - (col("deg_sum").cast("double")
                  / (col("m") * 2).cast("double"))
                * (col("deg_sum").cast("double")
                  / (col("m") * 2).cast("double"))).as("q_contrib"))
        .orderBy("community")
      // e stays persisted through execution (degs/m/ein reuse it);
      // the harness's dropLeftoverBlocks sweep reclaims it after the
      // query, same as the other graph keys' loop state.
      out
    }),

    // STRONGLY CONNECTED COMPONENTS (§2.128) — the one classic
    // component algorithm the family lacked: undirected CC
    // (dedup_cluster_canon) ignores direction, but "which event types
    // cycle into each other" is a DIRECTED question. Graph: the
    // dominant-transition graph over event types — the relation
    // agg_markov_steady_state builds, sparsified to edges carrying
    // AT LEAST THE UNIFORM SHARE of their source's outflow (the
    // integer test |types|·n ≥ n_from — above-chance transitions;
    // without a cut the dense fixture is one trivial SCC). Algorithm:
    // the node domain is BOUNDED (event types), so the corpus
    // collapses to a |types|² relation in one keyed reduce and the
    // full transitive closure is affordable by construction — 3
    // unrolled DOUBLING rounds (reach ∘ reach, diameter 2³ ≥ any
    // |types| ≤ 8 graph; the declared-semantic fixed-round contract),
    // then SCC(v) = {w : reach(v,w) ∧ reach(w,v)} via one self-join
    // of the closure with its transpose and scc_id = min member.
    // This is the label-intersection form of FW-BW reachability SCC;
    // on an UNBOUNDED node domain the same queries() shape runs with
    // the closure replaced by the forward/backward min-label
    // supersteps of dedup_cluster_canon — the doubling here is the
    // bounded-domain fast path, not the scale claim.
    // TWO-HOP REACH (§2.142) — the friend-of-friend audience size:
    // per node, the EXACT distinct count of nodes within ≤ 2 hops
    // (self excluded) on the shared '0'-prefix Doulion sample — the
    // number a notification-fanout or contact-tracing plan reads,
    // and the denominator quality signal behind
    // graph_jaccard_linkpred's candidate generation. Shape: one
    // edge⋈edge equi-join (deg² rows on the 1/16 sample — the
    // bounded-fanout argument the adamic-adar key documents), union
    // the 1-hop pairs, distinct, count — all keyed reduces.
    "graph_two_hop_reach" -> ((s, dir) => {
      // Round-17: the cache is read three ways keyed on src (wedge
      // probe side, 1-hop degree, reach reduce) — pre-partition + sort
      // once so those legs read it exchange-free (guide §2.4); only the
      // wedge x-leg (keyed by dst) still shuffles. Round-18: one-pass
      // both-direction build (bothDirEdgeCache).
      val ed = bothDirEdgeCache(s, dir, Some(Seq("0")))
      val two = ed.as("x").join(ed.as("y"),
          col("x.dst") === col("y.src"))
        .select(col("x.src").as("src"), col("y.dst").as("dst"))
        .filter(col("src") =!= col("dst"))
      val reach = ed.unionAll(two).distinct()
      val deg = ed.groupBy("src").agg(count(lit(1)).as("n_1hop"))
      val out = reach.groupBy("src").agg(count(lit(1)).as("n_2hop"))
        .join(deg, Seq("src"))
        .select(col("src").as("node"), col("n_1hop"), col("n_2hop"),
          r4d(col("n_2hop").cast("double")
            / col("n_1hop").cast("double")).as("expansion"))
        .orderBy("node")
      ed.unpersist()
      out
    }),

    // EDGE RECIPROCITY (§2.135) — the directed-graph scalar next to
    // graph_scc: of the dominant-transition edges (same uniform-share
    // cut, self-loops excluded), what fraction have their REVERSE
    // also present? The mutuality number that separates a feed-back
    // event loop from a one-way funnel. The graph is the bounded
    // |types|² relation; reciprocity = |E ∩ Eᵀ|/|E| via one
    // self-join, exact integer counts, one division.
    "graph_reciprocity" -> ((s, dir) => {
      val trans = typeTransitions(s, dir)
      val nt = graft.Tables.events(s, dir)
        .select(col("event_type")).distinct()
        .agg(count(lit(1)).as("ntypes"))
      val edges = trans.crossJoin(broadcast(nt))
        .filter(col("n") * col("ntypes") >= col("n_from")
          && col("src") =!= col("dst"))
        .select(col("src"), col("dst")).localCheckpoint(true)
      val recip = edges.as("e").join(edges.as("r"),
        col("e.src") === col("r.dst") && col("e.dst") === col("r.src"))
      edges.agg(count(lit(1)).as("n_edges"))
        .crossJoin(recip.agg(count(lit(1)).as("n_reciprocal")))
        .select(col("n_edges"), col("n_reciprocal"),
          r4d(col("n_reciprocal").cast("double")
            / col("n_edges").cast("double")).as("reciprocity"))
    }),

    // KATZ CENTRALITY, 3-TERM (§2.134) — the attenuated-walk-count
    // centrality completing the centrality family: katz(v) =
    // Σ_k α^k·(walks of length k ending at v), truncated at k = 3
    // with α = 1/4 (the declared-fixed-rounds contract; α < 1/λmax
    // convergence is moot under truncation). Walk counts are EXACT
    // integers off the shared '0','1' Doulion sample (w1 = degree,
    // w2 = Σ neighbor degrees — graph_avg_neighbor_degree's sum —
    // w3 one more gather), and α^k lands as the truncating division
    // (wk·10⁶) div 4^k, so the score is one integer sum per node —
    // no float anywhere. Corpus sums in DECIMAL(38,0); the 10⁶
    // scaling bound (w3·10⁶ < 2⁶³) is the documented long-capacity
    // caveat shared with the other div-scaled keys.
    "graph_katz" -> ((s, dir) => {
      // Round-17: the w2/w3 gathers both join this cache on src —
      // pre-partition + sort once so both joins read it exchange-free
      // and sort-free (guide §2.4); only the small per-step score
      // tables shuffle. Round-18: one-pass both-direction build
      // (bothDirEdgeCache).
      val ed = bothDirEdgeCache(s, dir, Some(Seq("0", "1")))
      val w1 = ed.groupBy(col("dst").as("node"))
        .agg(count(lit(1)).as("w1"))
      val w2 = ed.join(w1.withColumnRenamed("node", "src"), Seq("src"))
        .groupBy(col("dst").as("node"))
        .agg(sum(col("w1")).cast("decimal(38,0)").as("w2"))
      val w3 = ed.join(w2.withColumnRenamed("node", "src"), Seq("src"))
        .groupBy(col("dst").as("node"))
        .agg(sum(col("w2")).cast("decimal(38,0)").as("w3"))
      val out = w1.join(w2, Seq("node")).join(w3, Seq("node"))
        .select(col("node"), col("w1"),
          col("w2").cast("long").as("w2l"),
          col("w3").cast("long").as("w3l"))
        .select(col("node"), col("w1").as("degree"),
          (expr("(w1 * 1000000L) div 4")
            + expr("(w2l * 1000000L) div 16")
            + expr("(w3l * 1000000L) div 64")).as("katz6"))
        .select(col("node"), col("degree"), col("katz6"),
          r4d(col("katz6").cast("double") / lit(1000000.0)).as("katz"))
        .orderBy("node")
      ed.unpersist()
      out
    }),

    // HITS HUBS & AUTHORITIES (§2.130) — Kleinberg's mutual
    // reinforcement on the DIRECTED part→supplier supply graph, the
    // second classic eigenvector-style centrality next to
    // graph_pagerank (and computed with the same determinism
    // doctrine: SCALED-LONG scores, integer-only updates). Two
    // unrolled rounds (the declared-fixed-rounds contract); each
    // half-step is one edge⋈score equi-join + keyed sum (hub mass
    // flows to authorities, then back), normalized by the round's
    // MAX via truncating integer division so scores live in
    // [0, 10⁶] and no float division ever runs. Raw sums in
    // DECIMAL(38,0) (degree × 10⁶ is corpus-scale), the normalize is
    // Spark `div` ≡ DuckDB `//` on non-negative operands. Scale:
    // the graph is the distinct pair reduce of lineitem; every step
    // is one shuffle on a node-keyed table.
    "graph_hits" -> ((s, dir) => {
      val e = t(s, dir, "lineitem")
        .select(col("l_partkey").as("p"), col("l_suppkey").as("sp"))
        .distinct().localCheckpoint(true)
      var h = e.select(col("p")).distinct()
        .withColumn("h", lit(1000000L))
      var a: DataFrame = null
      for (_ <- 1 to 2) {
        val araw = e.join(h, Seq("p"))
          .groupBy("sp")
          .agg(sum(col("h").cast("decimal(38,0)"))
            .cast("decimal(38,0)").as("araw"))
        val amax = araw.agg(max(col("araw")).as("amax"))
        a = araw.crossJoin(broadcast(amax))
          .select(col("sp"),
            expr("CAST((araw * 1000000) div amax AS BIGINT)").as("a"))
          .localCheckpoint(true)
        val hraw = e.join(a, Seq("sp"))
          .groupBy("p")
          .agg(sum(col("a").cast("decimal(38,0)"))
            .cast("decimal(38,0)").as("hraw"))
        val hmax = hraw.agg(max(col("hraw")).as("hmax"))
        h = hraw.crossJoin(broadcast(hmax))
          .select(col("p"),
            expr("CAST((hraw * 1000000) div hmax AS BIGINT)").as("h"))
          .localCheckpoint(true)
      }
      a.select(lit("authority").as("side"), col("sp").as("node"),
          col("a").as("score6"))
        .unionAll(h.select(lit("hub").as("side"), col("p").as("node"),
          col("h").as("score6")))
        .orderBy("side", "node")
    }),

    // PERSONALIZED PAGERANK (§2.149) — random-walk-with-restart from
    // the deterministic md5-order SeedBudget seed set (the §2.128
    // device): the "related items for THESE nodes" recommender
    // primitive global graph_pagerank can't answer (its stationary
    // mass is seed-independent). Same integer doctrine verbatim:
    // ranks are SCALED LONGS, each of the 3 unrolled supersteps is
    // one edge⋈rank equi-join + one dst-keyed sum, and the update is
    // `restart + 85·Σ(rank div deg) div 100` where the restart mass
    // 150000 lands ONLY on seeds (a full-outer join with the seed
    // table keeps seeds alive even when isolated in the sampled
    // graph). Non-seed nodes keep pure decayed walk mass; rank-0
    // rows are pruned from the propagation join (rank > 0), so the
    // per-round shuffle follows the REACHED ball, not |V| — the
    // frontier-bounded shape that matters when the 100 TB graph's
    // diameter dwarfs the walk horizon. Graph: the '0','1'-Doulion
    // co-purchase sample, both directions (the graph_katz edge set).
    "graph_ppr" -> ((s, dir) => {
      // Round-17: loop-invariant cache pre-partitioned + sorted on the
      // per-round join key (guide §2.4) — only the rank table shuffles
      // per round. Round-18: one-pass both-direction build
      // (bothDirEdgeCache), and the out-degree comes from a
      // count-over-window PARTITIONED on the cache's own (src)
      // partitioning+order — no exchange, no sort, no second persisted
      // copy; the per-round window is a linear scan of the cache.
      val ed = bothDirEdgeCache(s, dir, Some(Seq("0", "1")))
      val edd = ed.withColumn("deg", count(lit(1)).over(
        org.apache.spark.sql.expressions.Window.partitionBy(col("src"))))
      val seeds = hashSeeds(s, dir).localCheckpoint(true)
      var r = seeds.select(col("node"), lit(1000000L).as("rank"))
        .localCheckpoint(true)
      for (_ <- 1 to 3) {
        val sc = edd
          .join(r.filter(col("rank") > 0), col("src") === col("node"))
          .select(col("dst"), expr("rank div deg").as("c"))
          .groupBy("dst").agg(sum(col("c")).as("sc"))
          .select(col("dst").as("node"), col("sc"))
        r = sc.join(seeds.select(col("node"), lit(1L).as("is_seed")),
            Seq("node"), "full_outer")
          .select(col("node"),
            (when(col("is_seed").isNotNull, lit(150000L))
              .otherwise(lit(0L))
              + expr("85 * coalesce(sc, 0L) div 100")).as("rank"))
          .localCheckpoint(true)
      }
      ed.unpersist()
      r.orderBy("node")
    }),

    "graph_scc" -> ((s, dir) => {
      val trans = typeTransitions(s, dir)
      val nodes = graft.Tables.events(s, dir)
        .select(col("event_type").as("v")).distinct()
      val nt = nodes.agg(count(lit(1)).as("ntypes"))
      val edges = trans.crossJoin(broadcast(nt))
        .filter(col("n") * col("ntypes") >= col("n_from"))
        .select(col("src"), col("dst"))
      var reach = nodes.select(col("v").as("src"), col("v").as("dst"))
        .unionAll(edges).distinct().localCheckpoint(true)
      for (_ <- 1 to 3) {
        reach = reach.unionAll(
          reach.as("x").join(reach.as("y"),
              col("x.dst") === col("y.src"))
            .select(col("x.src").as("src"), col("y.dst").as("dst")))
          .distinct().localCheckpoint(true)
      }
      val scc = reach.as("f")
        .join(reach.as("b"),
          col("f.src") === col("b.dst") && col("f.dst") === col("b.src"))
        .select(col("f.src").as("v"), col("f.dst").as("w"))
        .groupBy("v").agg(min(col("w")).as("scc_id"))
      val sizes = scc.groupBy("scc_id")
        .agg(count(lit(1)).as("scc_size"))
      scc.join(sizes, Seq("scc_id"))
        .select(col("v").as("event_type"), col("scc_id"),
          col("scc_size"))
        .orderBy("event_type")
    })
  )

  /** The same 5 integer-arithmetic supersteps, unrolled as CTEs. */
  val oracle: Map[String, String] = Map(
    "graph_pagerank" -> {
      val prelude =
        """WITH pairs AS (SELECT DISTINCT l_partkey, l_suppkey FROM lineitem),
          |edges AS (SELECT l_partkey * 2 AS src, l_suppkey * 2 + 1 AS dst
          |    FROM pairs
          |  UNION ALL
          |  SELECT l_suppkey * 2 + 1, l_partkey * 2 FROM pairs),
          |deg AS (SELECT src, count(*) AS deg FROM edges GROUP BY 1),
          |r0 AS (SELECT src AS node, CAST(1000000 AS BIGINT) AS rank
          |  FROM deg)""".stripMargin
      val steps = (1 to Iters).map { i =>
        s"""r$i AS (SELECT e.dst AS node,
           |  CAST(150000 + (85 * SUM(r.rank // d.deg)) // 100 AS BIGINT) AS rank
           |  FROM edges e JOIN deg d ON e.src = d.src
           |  JOIN r${i - 1} r ON e.src = r.node GROUP BY e.dst)""".stripMargin
      }.mkString(",\n")
      s"$prelude,\n$steps\nSELECT node, rank FROM r$Iters ORDER BY node"
    },
    "graph_triangle_count" ->
      """WITH pp AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS p
        |  FROM lineitem),
        |e0 AS (SELECT DISTINCT x.p AS a, y.p AS b
        |  FROM pp x JOIN pp y ON x.ok = y.ok AND x.p < y.p),
        |e AS (SELECT a, b FROM e0
        |  WHERE substring(md5(CAST(a AS VARCHAR) || '_'
        |    || CAST(b AS VARCHAR)), 1, 1) IN ('0', '1', '2', '3')),
        |tri AS (SELECT e1.a AS a, e1.b AS b, e2.b AS c
        |  FROM e e1 JOIN e e2 ON e1.b = e2.a
        |  JOIN e e3 ON e3.a = e1.a AND e3.b = e2.b),
        |n AS (SELECT a AS node FROM tri
        |  UNION ALL SELECT b FROM tri
        |  UNION ALL SELECT c FROM tri)
        |SELECT node, count(*) AS n_tri FROM n
        |GROUP BY 1 ORDER BY node""".stripMargin,
    "graph_also_bought_topk" ->
      """WITH pp AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS p
        |  FROM lineitem),
        |co AS (SELECT x.p AS part, y.p AS other, count(*) AS n_co
        |  FROM pp x JOIN pp y ON x.ok = y.ok AND x.p <> y.p
        |  GROUP BY 1, 2),
        |r AS (SELECT part, other, n_co,
        |    row_number() OVER (PARTITION BY part
        |      ORDER BY n_co DESC, other) AS rk
        |  FROM co)
        |SELECT part, other, n_co, rk FROM r
        |WHERE rk <= 3 ORDER BY part, rk""".stripMargin,
    // Unrolled MATERIALIZED relaxation rounds (the kcore lesson: each
    // round reads its predecessor twice).
    "graph_bfs_distance" -> {
      val prelude =
        """WITH pp AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS p
          |  FROM lineitem),
          |half AS (SELECT DISTINCT x.p AS a, y.p AS b
          |  FROM pp x JOIN pp y ON x.ok = y.ok AND x.p < y.p),
          |ed AS MATERIALIZED (SELECT a AS src, b AS dst FROM half
          |  UNION ALL SELECT b, a FROM half),
          |d0 AS MATERIALIZED (SELECT DISTINCT p AS node,
          |    CAST(0 AS BIGINT) AS dist
          |  FROM pp WHERE p % 97 = 0)""".stripMargin
      val rounds = (1 to BfsRounds).map { i =>
        s"""d$i AS MATERIALIZED (SELECT node, min(dist) AS dist FROM (
           |    SELECT ed.dst AS node, d.dist + 1 AS dist
           |    FROM ed JOIN d${i - 1} d ON ed.src = d.node
           |    UNION ALL SELECT node, dist FROM d${i - 1})
           |  GROUP BY 1)""".stripMargin
      }.mkString(",\n")
      s"$prelude,\n$rounds\n" +
        s"SELECT node, dist FROM d$BfsRounds ORDER BY node"
    },
    // Same unrolled BFS with the (seed, node) composite key; sixths
    // keep the harmonic sum integer (CAST — the HUGEINT lesson).
    "graph_closeness" -> {
      val prelude =
        """WITH pp AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS p
          |  FROM lineitem),
          |half AS (SELECT DISTINCT x.p AS a, y.p AS b
          |  FROM pp x JOIN pp y ON x.ok = y.ok AND x.p < y.p),
          |ed AS MATERIALIZED (SELECT a AS src, b AS dst FROM half
          |  UNION ALL SELECT b, a FROM half),
          |d0 AS MATERIALIZED (SELECT p AS seed, p AS node,
          |    CAST(0 AS BIGINT) AS dist
          |  FROM """.stripMargin + oracleSeeds + ")"
      val rounds = (1 to BfsRounds).map { i =>
        s"""d$i AS MATERIALIZED (SELECT seed, node, min(dist) AS dist
           |  FROM (
           |    SELECT d.seed, ed.dst AS node, d.dist + 1 AS dist
           |    FROM ed JOIN d${i - 1} d ON ed.src = d.node
           |    UNION ALL SELECT seed, node, dist FROM d${i - 1})
           |  GROUP BY 1, 2)""".stripMargin
      }.mkString(",\n")
      s"$prelude,\n$rounds\n" +
        s"""SELECT seed, count(*) AS n_reached,
           |  ROUND(CAST(CAST(sum(6 // dist) AS BIGINT) AS DOUBLE)
           |    / 6.0 * 10000) / 10000 AS harmonic_3hop
           |FROM d$BfsRounds WHERE dist > 0
           |GROUP BY seed ORDER BY seed""".stripMargin
    },
    // Same two-sided degree reduces; p95 via the integer cumulative
    // test 20·cum ≥ 19·n.
    "graph_bipartite_profile" ->
      """WITH pp AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS p
        |  FROM lineitem),
        |dok AS (SELECT ok, count(*) AS deg FROM pp GROUP BY 1),
        |dp AS (SELECT p, count(*) AS deg FROM pp GROUP BY 1),
        |sok AS (SELECT 'order' AS side, deg FROM dok
        |  UNION ALL SELECT 'part', deg FROM dp),
        |hist AS (SELECT side, deg, count(*) AS cnt FROM sok
        |  GROUP BY 1, 2),
        |tot AS (SELECT side, CAST(sum(cnt) AS BIGINT) AS n,
        |    CAST(sum(deg * cnt) AS BIGINT) AS sdeg, max(deg) AS mx
        |  FROM hist GROUP BY 1),
        |cum AS (SELECT h.side, h.deg,
        |    CAST(sum(h.cnt) OVER (PARTITION BY h.side ORDER BY h.deg
        |      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum
        |  FROM hist h),
        |p95 AS (SELECT c.side, min(c.deg) AS p95
        |  FROM cum c JOIN tot t ON t.side = c.side
        |  WHERE c.cum * 20 >= t.n * 19 GROUP BY 1)
        |SELECT t.side, n AS n_nodes, sdeg AS n_edges,
        |  ROUND(CAST(sdeg AS DOUBLE) / CAST(n AS DOUBLE) * 10000)
        |    / 10000 AS avg_deg,
        |  p95 AS p95_deg, mx AS max_deg
        |FROM tot t JOIN p95 USING (side) ORDER BY t.side""".stripMargin,
    // Same unrolled composite-key BFS as closeness; conditional
    // counts + max per seed.
    "graph_eccentricity" -> {
      val prelude =
        """WITH pp AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS p
          |  FROM lineitem),
          |half AS (SELECT DISTINCT x.p AS a, y.p AS b
          |  FROM pp x JOIN pp y ON x.ok = y.ok AND x.p < y.p),
          |ed AS MATERIALIZED (SELECT a AS src, b AS dst FROM half
          |  UNION ALL SELECT b, a FROM half),
          |d0 AS MATERIALIZED (SELECT p AS seed, p AS node,
          |    CAST(0 AS BIGINT) AS dist
          |  FROM """.stripMargin + oracleSeeds + ")"
      val rounds = (1 to BfsRounds).map { i =>
        s"""d$i AS MATERIALIZED (SELECT seed, node, min(dist) AS dist
           |  FROM (
           |    SELECT d.seed, ed.dst AS node, d.dist + 1 AS dist
           |    FROM ed JOIN d${i - 1} d ON ed.src = d.node
           |    UNION ALL SELECT seed, node, dist FROM d${i - 1})
           |  GROUP BY 1, 2)""".stripMargin
      }.mkString(",\n")
      s"$prelude,\n$rounds\n" +
        s"""SELECT seed,
           |  CAST(sum(CASE WHEN dist = 1 THEN 1 ELSE 0 END) AS BIGINT)
           |    AS n_hop1,
           |  CAST(sum(CASE WHEN dist = 2 THEN 1 ELSE 0 END) AS BIGINT)
           |    AS n_hop2,
           |  CAST(sum(CASE WHEN dist = 3 THEN 1 ELSE 0 END) AS BIGINT)
           |    AS n_hop3,
           |  max(dist) AS ecc3
           |FROM d$BfsRounds WHERE dist > 0
           |GROUP BY seed ORDER BY seed""".stripMargin
    },
    // Same composite-key BFS unrolled WITH σ (integer shortest-path
    // counts; new nodes by NOT EXISTS ≡ Spark's anti-join), then the
    // two dependency stages with the identical 10⁻⁶-unit truncating
    // per-term division — only integers are summed on both engines.
    "graph_betweenness" -> {
      val prelude =
        """WITH pp AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS p
          |  FROM lineitem),
          |e0 AS (SELECT DISTINCT x.p AS a, y.p AS b
          |  FROM pp x JOIN pp y ON x.ok = y.ok AND x.p < y.p),
          |half AS MATERIALIZED (SELECT a, b FROM e0
          |  WHERE substring(md5(CAST(a AS VARCHAR) || '_'
          |    || CAST(b AS VARCHAR)), 1, 1) IN ('0', '1')),
          |ed AS MATERIALIZED (SELECT a AS src, b AS dst FROM half
          |  UNION ALL SELECT b, a FROM half),
          |d0 AS (SELECT p AS seed, p AS node, CAST(0 AS BIGINT) AS dist,
          |    CAST(1 AS BIGINT) AS sigma
          |  FROM """.stripMargin + oracleSeeds + ")"
      val rounds = (1 to BfsRounds).map { i =>
        s"""c$i AS (SELECT d.seed, ed.dst AS node,
           |    CAST($i AS BIGINT) AS dist,
           |    CAST(sum(d.sigma) AS BIGINT) AS sigma
           |  FROM ed JOIN d${i - 1} d ON ed.src = d.node
           |  WHERE d.dist = ${i - 1} GROUP BY 1, 2),
           |d$i AS MATERIALIZED (SELECT * FROM d${i - 1} UNION ALL
           |  SELECT c.* FROM c$i c WHERE NOT EXISTS (
           |    SELECT 1 FROM d${i - 1} p
           |    WHERE p.seed = c.seed AND p.node = c.node))""".stripMargin
      }.mkString(",\n")
      s"$prelude,\n$rounds,\n" +
        s"""lvl1 AS (SELECT seed, node, sigma FROM d$BfsRounds
           |  WHERE dist = 1),
           |lvl2 AS (SELECT seed, node, sigma FROM d$BfsRounds
           |  WHERE dist = 2),
           |lvl3 AS (SELECT seed, node, sigma FROM d$BfsRounds
           |  WHERE dist = 3),
           |dep2 AS MATERIALIZED (SELECT v.seed, v.node,
           |    CAST(sum((v.sigma * 1000000) // w.sigma) AS BIGINT)
           |      AS delta
           |  FROM lvl2 v JOIN ed ON ed.src = v.node
           |  JOIN lvl3 w ON w.seed = v.seed AND w.node = ed.dst
           |  GROUP BY 1, 2),
           |dep1 AS (SELECT v.seed, v.node,
           |    CAST(sum((v.sigma * (1000000 + coalesce(dp.delta, 0)))
           |      // w.sigma) AS BIGINT) AS delta
           |  FROM lvl1 v JOIN ed ON ed.src = v.node
           |  JOIN lvl2 w ON w.seed = v.seed AND w.node = ed.dst
           |  LEFT JOIN dep2 dp
           |    ON dp.seed = w.seed AND dp.node = w.node
           |  GROUP BY 1, 2)
           |SELECT node, CAST(sum(delta) AS BIGINT) AS bc_scaled,
           |  ROUND(CAST(CAST(sum(delta) AS DECIMAL(38,0)) AS DOUBLE)
           |    / 1000000.0 * 10000) / 10000 + 0.0 AS betweenness
           |FROM (SELECT * FROM dep1 UNION ALL SELECT * FROM dep2)
           |GROUP BY node ORDER BY node""".stripMargin
    },
    // Same triangle chain + sampled degrees; per-node wedges exact
    // via // 2 (deg·(deg−1) is even), HUGEINT sums, one division.
    "graph_transitivity_global" ->
      """WITH pp AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS p
        |  FROM lineitem),
        |e0 AS (SELECT DISTINCT x.p AS a, y.p AS b
        |  FROM pp x JOIN pp y ON x.ok = y.ok AND x.p < y.p),
        |e AS MATERIALIZED (SELECT a, b FROM e0
        |  WHERE substring(md5(CAST(a AS VARCHAR) || '_'
        |    || CAST(b AS VARCHAR)), 1, 1) IN ('0', '1', '2', '3')),
        |deg AS (SELECT node, count(*) AS deg FROM (
        |  SELECT a AS node FROM e UNION ALL SELECT b FROM e) GROUP BY 1),
        |tri AS (SELECT e1.a AS a, e1.b AS b, e2.b AS c
        |  FROM e e1 JOIN e e2 ON e1.b = e2.a
        |  JOIN e e3 ON e3.a = e1.a AND e3.b = e2.b),
        |nt AS (SELECT node, count(*) AS n_tri FROM (
        |  SELECT a AS node FROM tri
        |  UNION ALL SELECT b FROM tri
        |  UNION ALL SELECT c FROM tri) GROUP BY 1)
        |SELECT count(*) AS n_nodes,
        |  CAST(CAST(sum((CAST(deg AS HUGEINT) * (deg - 1)) // 2)
        |    AS HUGEINT) AS BIGINT) AS sum_wedges,
        |  CAST(CAST(sum(coalesce(n_tri, 0)) AS HUGEINT) AS BIGINT)
        |    AS sum_corners,
        |  ROUND(CAST(CAST(sum(coalesce(n_tri, 0)) AS HUGEINT)
        |      AS DOUBLE)
        |    / CAST(CAST(sum((CAST(deg AS HUGEINT) * (deg - 1)) // 2)
        |      AS HUGEINT) AS DOUBLE) * 10000) / 10000 AS transitivity
        |FROM deg LEFT JOIN nt USING (node)""".stripMargin,
    // Triangle chain + sampled degrees, identical double spelling for
    // the normalization.
    "graph_clustering_coeff" ->
      """WITH pp AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS p
        |  FROM lineitem),
        |e0 AS (SELECT DISTINCT x.p AS a, y.p AS b
        |  FROM pp x JOIN pp y ON x.ok = y.ok AND x.p < y.p),
        |e AS MATERIALIZED (SELECT a, b FROM e0
        |  WHERE substring(md5(CAST(a AS VARCHAR) || '_'
        |    || CAST(b AS VARCHAR)), 1, 1) IN ('0', '1', '2', '3')),
        |deg AS (SELECT node, count(*) AS deg FROM (
        |  SELECT a AS node FROM e UNION ALL SELECT b FROM e) GROUP BY 1),
        |tri AS (SELECT e1.a AS a, e1.b AS b, e2.b AS c
        |  FROM e e1 JOIN e e2 ON e1.b = e2.a
        |  JOIN e e3 ON e3.a = e1.a AND e3.b = e2.b),
        |nt AS (SELECT node, count(*) AS n_tri FROM (
        |  SELECT a AS node FROM tri
        |  UNION ALL SELECT b FROM tri
        |  UNION ALL SELECT c FROM tri) GROUP BY 1)
        |SELECT deg.node, deg, coalesce(n_tri, 0) AS n_tri,
        |  ROUND(2.0 * CAST(coalesce(n_tri, 0) AS DOUBLE)
        |    / (CAST(deg AS DOUBLE) * (CAST(deg AS DOUBLE) - 1.0))
        |    * 10000.0) / 10000.0 AS coeff
        |FROM deg LEFT JOIN nt ON deg.node = nt.node
        |WHERE deg >= 2 ORDER BY deg.node""".stripMargin,
    // Same mitigated plan, CTE for CTE: the 95th-percentile cap off
    // the degree histogram, the capped middle set, the min-common
    // HAVING on the pair aggregation — identical arithmetic
    // (ceil(0.95·n) spelled operand-for-operand).
    "graph_jaccard_linkpred" ->
      """WITH pp AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS p
        |  FROM lineitem),
        |e0 AS (SELECT DISTINCT x.p AS a, y.p AS b
        |  FROM pp x JOIN pp y ON x.ok = y.ok AND x.p < y.p),
        |e AS MATERIALIZED (SELECT a, b FROM e0
        |  WHERE substring(md5(CAST(a AS VARCHAR) || '_'
        |    || CAST(b AS VARCHAR)), 1, 1) IN ('0', '1')),
        |nb AS MATERIALIZED (SELECT a AS v, b AS n FROM e
        |  UNION ALL SELECT b, a FROM e),
        |deg AS MATERIALIZED (SELECT v, count(*) AS deg FROM nb GROUP BY 1),
        |hist AS (SELECT deg, count(*) AS cnt FROM deg GROUP BY 1),
        |capq AS (SELECT min(deg) AS cap FROM (
        |  SELECT deg,
        |    sum(cnt) OVER (ORDER BY deg ROWS UNBOUNDED PRECEDING) AS cum,
        |    (SELECT CAST(ceil(0.95 * sum(cnt)) AS BIGINT) FROM hist) AS k
        |  FROM hist) WHERE cum >= k),
        |nbmid AS (SELECT nb.v, nb.n FROM nb JOIN deg ON deg.v = nb.v,
        |  capq WHERE deg.deg <= cap),
        |cm AS (SELECT p.n AS x, q.n AS y, count(*) AS common
        |  FROM nbmid p JOIN nbmid q ON p.v = q.v AND p.n < q.n
        |  GROUP BY 1, 2 HAVING count(*) >= 2),
        |ne AS (SELECT cm.* FROM cm
        |  WHERE NOT EXISTS (SELECT 1 FROM e
        |    WHERE e.a = cm.x AND e.b = cm.y))
        |SELECT x, y, CAST(common AS BIGINT) AS common,
        |  ROUND(CAST(common AS DOUBLE)
        |    / CAST(dx.deg + dy.deg - common AS DOUBLE) * 10000.0)
        |    / 10000.0 AS jaccard
        |FROM ne
        |JOIN deg dx ON dx.v = ne.x
        |JOIN deg dy ON dy.v = ne.y
        |ORDER BY jaccard DESC, x, y LIMIT 20""".stripMargin,
    // Same capped wedge CTEs as the Jaccard key; the middle's
    // contribution snapped to BIGINT 10⁻¹²-units of 1/ln(deg) before
    // the sum, exactly as the Spark side spells it.
    "graph_adamic_adar" ->
      """WITH pp AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS p
        |  FROM lineitem),
        |e0 AS (SELECT DISTINCT x.p AS a, y.p AS b
        |  FROM pp x JOIN pp y ON x.ok = y.ok AND x.p < y.p),
        |e AS MATERIALIZED (SELECT a, b FROM e0
        |  WHERE substring(md5(CAST(a AS VARCHAR) || '_'
        |    || CAST(b AS VARCHAR)), 1, 1) IN ('0', '1')),
        |nb AS MATERIALIZED (SELECT a AS v, b AS n FROM e
        |  UNION ALL SELECT b, a FROM e),
        |deg AS MATERIALIZED (SELECT v, count(*) AS deg FROM nb GROUP BY 1),
        |hist AS (SELECT deg, count(*) AS cnt FROM deg GROUP BY 1),
        |capq AS (SELECT min(deg) AS cap FROM (
        |  SELECT deg,
        |    sum(cnt) OVER (ORDER BY deg ROWS UNBOUNDED PRECEDING) AS cum,
        |    (SELECT CAST(ceil(0.95 * sum(cnt)) AS BIGINT) FROM hist) AS k
        |  FROM hist) WHERE cum >= k),
        |nbmid AS (SELECT nb.v, nb.n,
        |    CASE WHEN deg.deg >= 2 THEN CAST(ROUND(1e12
        |      / ln(CAST(deg.deg AS DOUBLE))) AS BIGINT) ELSE 0 END AS w
        |  FROM nb JOIN deg ON deg.v = nb.v, capq
        |  WHERE deg.deg <= cap),
        |cm AS (SELECT p.n AS x, q.n AS y, count(*) AS common,
        |    CAST(sum(p.w) AS BIGINT) AS aa_units
        |  FROM nbmid p JOIN nbmid q ON p.v = q.v AND p.n < q.n
        |  GROUP BY 1, 2 HAVING count(*) >= 2),
        |ne AS (SELECT cm.* FROM cm
        |  WHERE NOT EXISTS (SELECT 1 FROM e
        |    WHERE e.a = cm.x AND e.b = cm.y))
        |SELECT x, y, CAST(common AS BIGINT) AS common,
        |  ROUND(CAST(aa_units AS DOUBLE) / 1e12 * 10000.0) / 10000.0
        |    AS adamic_adar
        |FROM ne ORDER BY adamic_adar DESC, x, y LIMIT 20""".stripMargin,
    "graph_degree_hist" ->
      """WITH pp AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS p
        |  FROM lineitem),
        |e AS (SELECT DISTINCT x.p AS a, y.p AS b
        |  FROM pp x JOIN pp y ON x.ok = y.ok AND x.p < y.p),
        |n AS (SELECT a AS node FROM e UNION ALL SELECT b FROM e),
        |deg AS (SELECT node, count(*) AS deg FROM n GROUP BY 1)
        |SELECT length(bin(deg)) - 1 AS bucket, count(*) AS n_nodes,
        |  min(deg) AS min_deg, max(deg) AS max_deg,
        |  CAST(sum(deg) AS BIGINT) AS sum_deg
        |FROM deg GROUP BY 1 ORDER BY bucket""".stripMargin,
    // Same symmetric both-orientation moments in HUGEINT.
    "graph_size_assortativity" ->
      """WITH pp AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS p
        |  FROM lineitem),
        |co AS (SELECT DISTINCT x.p AS a, y.p AS b
        |  FROM pp x JOIN pp y ON x.ok = y.ok AND x.p < y.p),
        |e2 AS MATERIALIZED (SELECT pa.p_size AS za, pb.p_size AS zb
        |  FROM co JOIN part pa ON pa.p_partkey = co.a
        |  JOIN part pb ON pb.p_partkey = co.b),
        |bo AS (SELECT za AS x, zb AS y FROM e2
        |  UNION ALL SELECT zb, za FROM e2),
        |m AS (SELECT count(*) AS n,
        |    CAST(sum(CAST(x AS HUGEINT)) AS HUGEINT) AS sx,
        |    CAST(sum(CAST(y AS HUGEINT)) AS HUGEINT) AS sy,
        |    CAST(sum(CAST(x AS HUGEINT) * x) AS HUGEINT) AS sxx,
        |    CAST(sum(CAST(y AS HUGEINT) * y) AS HUGEINT) AS syy,
        |    CAST(sum(CAST(x AS HUGEINT) * y) AS HUGEINT) AS sxy
        |  FROM bo)
        |SELECT n // 2 AS n_edges,
        |  ROUND(CAST(n * sxy - sx * sy AS DOUBLE)
        |    / (sqrt(CAST(n * sxx - sx * sx AS DOUBLE))
        |      * sqrt(CAST(n * syy - sy * sy AS DOUBLE))) * 10000)
        |    / 10000 + 0.0 AS size_assortativity
        |FROM m""".stripMargin,
    // Same unsampled degrees, exact quantity cents, HUGEINT
    // moments.
    "graph_degree_sales_corr" ->
      """WITH pp AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS p
        |  FROM lineitem),
        |deg AS (SELECT part, count(*) AS deg FROM (
        |  SELECT DISTINCT x.p AS part, y.p AS other
        |  FROM pp x JOIN pp y ON x.ok = y.ok AND x.p <> y.p)
        |  GROUP BY 1),
        |sales AS (SELECT l_partkey AS part,
        |    CAST(sum(CAST(round(l_quantity * 100) AS BIGINT))
        |      AS BIGINT) AS qc
        |  FROM lineitem GROUP BY 1),
        |m AS (SELECT count(*) AS n,
        |    CAST(sum(CAST(deg AS HUGEINT)) AS HUGEINT) AS sx,
        |    CAST(sum(CAST(qc AS HUGEINT)) AS HUGEINT) AS sy,
        |    CAST(sum(CAST(deg AS HUGEINT) * deg) AS HUGEINT) AS sxx,
        |    CAST(sum(CAST(qc AS HUGEINT) * qc) AS HUGEINT) AS syy,
        |    CAST(sum(CAST(deg AS HUGEINT) * qc) AS HUGEINT) AS sxy
        |  FROM deg JOIN sales USING (part))
        |SELECT n AS n_parts,
        |  ROUND(CAST(n * sxy - sx * sy AS DOUBLE)
        |    / (sqrt(CAST(n * sxx - sx * sx AS DOUBLE))
        |      * sqrt(CAST(n * syy - sy * sy AS DOUBLE))) * 10000)
        |    / 10000 + 0.0 AS degree_sales_corr
        |FROM m""".stripMargin,
    // Same within-part pair reduce and bounded top-20 order.
    "graph_supplier_projection" ->
      """WITH sp AS (SELECT DISTINCT l_suppkey AS sk, l_partkey AS p
        |  FROM lineitem),
        |pairs AS (SELECT a.sk AS sa, b.sk AS sb, count(*) AS n_shared
        |  FROM sp a JOIN sp b ON a.p = b.p AND a.sk < b.sk
        |  GROUP BY 1, 2),
        |deg AS (SELECT sk, count(*) AS d FROM sp GROUP BY 1)
        |SELECT sa AS supplier_a, sb AS supplier_b, n_shared,
        |  da.d AS n_parts_a, db.d AS n_parts_b,
        |  ROUND(CAST(n_shared AS DOUBLE)
        |    / CAST(da.d + db.d - n_shared AS DOUBLE) * 10000)
        |    / 10000 AS jaccard
        |FROM pairs JOIN deg da ON da.sk = sa
        |  JOIN deg db ON db.sk = sb
        |ORDER BY n_shared DESC, sa, sb LIMIT 20""".stripMargin,
    // Same order⋈brand baskets and cross-multiplied lift; same
    // rounded-lift order.
    "graph_brand_pair_lift" ->
      """WITH b AS (SELECT DISTINCT l_orderkey AS ok, p_brand
        |  FROM lineitem JOIN part ON p_partkey = l_partkey),
        |nb AS (SELECT count(*) AS n_baskets FROM
        |  (SELECT DISTINCT ok FROM b)),
        |s AS (SELECT p_brand, count(*) AS n_single FROM b
        |  GROUP BY 1),
        |p AS (SELECT x.p_brand AS ba, y.p_brand AS bb,
        |    count(*) AS n_ab
        |  FROM b x JOIN b y ON x.ok = y.ok AND x.p_brand < y.p_brand
        |  GROUP BY 1, 2 HAVING count(*) >= 5)
        |SELECT ba AS brand_a, bb AS brand_b, n_ab,
        |  ROUND(CAST(n_ab * n_baskets AS DOUBLE)
        |    / CAST(sa.n_single * sb.n_single AS DOUBLE) * 10000)
        |    / 10000 AS lift
        |FROM p JOIN s sa ON sa.p_brand = ba
        |  JOIN s sb ON sb.p_brand = bb CROSS JOIN nb
        |ORDER BY ROUND(CAST(n_ab * n_baskets AS DOUBLE)
        |  / CAST(sa.n_single * sb.n_single AS DOUBLE) * 10000)
        |  / 10000 DESC, brand_a, brand_b LIMIT 20""".stripMargin,
    // Same endpoint-exploded cross flags; same rounded-share order.
    "graph_cross_brand_parts" ->
      """WITH pp AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS p
        |  FROM lineitem),
        |co AS (SELECT DISTINCT x.p AS a, y.p AS b
        |  FROM pp x JOIN pp y ON x.ok = y.ok AND x.p < y.p),
        |e2 AS MATERIALIZED (SELECT co.a, co.b,
        |    ba.p_brand AS bda, bb.p_brand AS bdb
        |  FROM co JOIN part ba ON ba.p_partkey = co.a
        |  JOIN part bb ON bb.p_partkey = co.b),
        |x AS (SELECT a AS part,
        |    CASE WHEN bda <> bdb THEN 1 ELSE 0 END AS x FROM e2
        |  UNION ALL SELECT b,
        |    CASE WHEN bda <> bdb THEN 1 ELSE 0 END FROM e2),
        |per AS (SELECT part, count(*) AS deg,
        |    CAST(sum(x) AS BIGINT) AS n_cross
        |  FROM x GROUP BY 1 HAVING count(*) >= 10)
        |SELECT part, deg, n_cross,
        |  ROUND(CAST(n_cross AS DOUBLE) / CAST(deg AS DOUBLE)
        |    * 10000) / 10000 AS cross_share
        |FROM per
        |ORDER BY ROUND(CAST(n_cross AS DOUBLE) / CAST(deg AS DOUBLE)
        |  * 10000) / 10000 DESC, part LIMIT 20""".stripMargin,
    // Same internal counts and endpoint volumes; one exact division.
    "graph_brand_modularity" ->
      """WITH pp AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS p
        |  FROM lineitem),
        |co AS (SELECT DISTINCT x.p AS a, y.p AS b
        |  FROM pp x JOIN pp y ON x.ok = y.ok AND x.p < y.p),
        |e2 AS MATERIALIZED (SELECT ba.p_brand AS ba, bb.p_brand AS bb
        |  FROM co JOIN part ba ON ba.p_partkey = co.a
        |  JOIN part bb ON bb.p_partkey = co.b),
        |m AS (SELECT count(*) AS m,
        |    count(*) FILTER (WHERE ba = bb) AS si FROM e2),
        |v AS (SELECT brand, count(*) AS vol FROM (
        |  SELECT ba AS brand FROM e2
        |  UNION ALL SELECT bb FROM e2) GROUP BY 1),
        |sv AS (SELECT CAST(sum(CAST(vol AS HUGEINT) * vol)
        |    AS HUGEINT) AS sv2, count(*) AS n_brands FROM v)
        |SELECT m AS n_edges, n_brands,
        |  ROUND(CAST(4 * CAST(m AS HUGEINT) * si - sv2 AS DOUBLE)
        |    / CAST(4 * CAST(m AS HUGEINT) * m AS DOUBLE) * 10000)
        |    / 10000 + 0.0 AS brand_modularity
        |FROM m CROSS JOIN sv""".stripMargin,
    // Same endpoint-exploded volumes and exact cut counts.
    "graph_brand_conductance" ->
      """WITH pp AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS p
        |  FROM lineitem),
        |co AS (SELECT DISTINCT x.p AS a, y.p AS b
        |  FROM pp x JOIN pp y ON x.ok = y.ok AND x.p < y.p),
        |e2 AS MATERIALIZED (SELECT ba.p_brand AS ba, bb.p_brand AS bb
        |  FROM co JOIN part ba ON ba.p_partkey = co.a
        |  JOIN part bb ON bb.p_partkey = co.b),
        |m AS (SELECT count(*) AS m FROM e2),
        |x AS (SELECT ba AS brand,
        |    CASE WHEN ba = bb THEN 1 ELSE 0 END AS internal FROM e2
        |  UNION ALL SELECT bb,
        |    CASE WHEN ba = bb THEN 1 ELSE 0 END FROM e2),
        |per AS (SELECT brand, count(*) AS vol,
        |    CAST(sum(1 - internal) AS BIGINT) AS cut
        |  FROM x GROUP BY 1)
        |SELECT brand, vol, cut,
        |  ROUND(CAST(cut AS DOUBLE)
        |    / CAST(least(vol, 2 * m - vol) AS DOUBLE) * 10000)
        |    / 10000 AS conductance
        |FROM per CROSS JOIN m ORDER BY brand""".stripMargin,
    // Same directed half-edge mixing counts and exact decimal r.
    "graph_attribute_assortativity" ->
      """WITH pp AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS p
        |  FROM lineitem),
        |co AS (SELECT DISTINCT x.p AS a, y.p AS b
        |  FROM pp x JOIN pp y ON x.ok = y.ok AND x.p < y.p),
        |e2 AS (SELECT ta.p_type AS ta, tb.p_type AS tb
        |  FROM co JOIN part ta ON ta.p_partkey = co.a
        |  JOIN part tb ON tb.p_partkey = co.b),
        |d2 AS (SELECT ta AS ti, tb AS tj FROM e2
        |  UNION ALL SELECT tb, ta FROM e2),
        |nij AS (SELECT ti, tj, count(*) AS nij FROM d2 GROUP BY 1, 2),
        |tr AS (SELECT coalesce(CAST(sum(nij) AS BIGINT), 0) AS tr
        |  FROM nij WHERE ti = tj),
        |sa2 AS (SELECT CAST(sum(CAST(ai AS DECIMAL(38,0)) * ai)
        |    AS DECIMAL(38,0)) AS sa2
        |  FROM (SELECT ti, CAST(sum(nij) AS BIGINT) AS ai FROM nij
        |    GROUP BY 1)),
        |m AS (SELECT count(*) AS m FROM d2)
        |SELECT m // 2 AS n_edges,
        |  ROUND(CAST(tr AS DOUBLE) / CAST(m AS DOUBLE) * 10000)
        |    / 10000 AS same_type_share,
        |  ROUND(CAST(CAST(m AS DECIMAL(38,0)) * tr - sa2 AS DOUBLE)
        |    / CAST(CAST(m AS DECIMAL(38,0)) * m - sa2 AS DOUBLE)
        |    * 10000) / 10000 + 0.0 AS assortativity_r
        |FROM m CROSS JOIN tr CROSS JOIN sa2""".stripMargin,
    // Same sampled edges/degrees/triangles as the per-node key; same
    // micro-snapped coefficients and bit-length buckets.
    "graph_clustering_by_degree" ->
      """WITH pp AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS p
        |  FROM lineitem),
        |e0 AS (SELECT DISTINCT x.p AS a, y.p AS b
        |  FROM pp x JOIN pp y ON x.ok = y.ok AND x.p < y.p),
        |e AS MATERIALIZED (SELECT a, b FROM e0
        |  WHERE substring(md5(CAST(a AS VARCHAR) || '_'
        |    || CAST(b AS VARCHAR)), 1, 1) IN ('0', '1', '2', '3')),
        |deg AS (SELECT node, count(*) AS deg FROM (
        |  SELECT a AS node FROM e UNION ALL SELECT b FROM e)
        |  GROUP BY 1),
        |tri AS (SELECT e1.a AS a, e1.b AS b, e2.b AS c
        |  FROM e e1 JOIN e e2 ON e1.b = e2.a
        |  JOIN e e3 ON e3.a = e1.a AND e3.b = e2.b),
        |nt AS (SELECT node, count(*) AS n_tri FROM (
        |  SELECT a AS node FROM tri
        |  UNION ALL SELECT b FROM tri
        |  UNION ALL SELECT c FROM tri) GROUP BY 1),
        |per AS (SELECT deg,
        |    CAST(floor(2000000.0 * CAST(coalesce(n_tri, 0) AS DOUBLE)
        |      / (CAST(deg AS DOUBLE) * (CAST(deg AS DOUBLE) - 1.0)))
        |      AS BIGINT) AS c6
        |  FROM deg LEFT JOIN nt ON deg.node = nt.node
        |  WHERE deg >= 2),
        |g AS (SELECT CAST(length(bin(deg)) - 1 AS BIGINT) AS bucket,
        |    count(*) AS n_nodes,
        |    CAST(sum(CAST(c6 AS HUGEINT)) AS HUGEINT) AS s6
        |  FROM per GROUP BY 1)
        |SELECT bucket, n_nodes,
        |  ROUND(CAST(s6 AS DOUBLE) / CAST(n_nodes AS DOUBLE)
        |    / 1000000.0 * 10000) / 10000 AS mean_coeff
        |FROM g ORDER BY bucket""".stripMargin,
    // Same sampled a<b edges as the clustering keys, symmetric
    // adjacency, and bucket map.
    "graph_edge_embeddedness" ->
      """WITH pp AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS p
        |  FROM lineitem),
        |e0 AS (SELECT DISTINCT x.p AS a, y.p AS b
        |  FROM pp x JOIN pp y ON x.ok = y.ok AND x.p < y.p),
        |co AS MATERIALIZED (SELECT a, b FROM e0
        |  WHERE substring(md5(CAST(a AS VARCHAR) || '_'
        |    || CAST(b AS VARCHAR)), 1, 1) IN ('0', '1', '2', '3')),
        |tri AS MATERIALIZED (SELECT e1.a AS ta, e1.b AS tb,
        |    e2.b AS tc
        |  FROM co e1 JOIN co e2 ON e1.b = e2.a
        |  JOIN co e3 ON e3.a = e1.a AND e3.b = e2.b),
        |cn AS (SELECT a, b, count(*) AS c FROM (
        |  SELECT ta AS a, tb AS b FROM tri
        |  UNION ALL SELECT ta, tc FROM tri
        |  UNION ALL SELECT tb, tc FROM tri) GROUP BY 1, 2),
        |ec AS (SELECT coalesce(cn.c, 0) AS c FROM co
        |  LEFT JOIN cn ON cn.a = co.a AND cn.b = co.b),
        |bk AS (SELECT CASE WHEN c <= 2 THEN c WHEN c <= 4 THEN 3
        |    WHEN c <= 8 THEN 4 WHEN c <= 16 THEN 5 ELSE 6 END
        |    AS bucket_id FROM ec),
        |g AS (SELECT bucket_id, count(*) AS n_edges FROM bk
        |  GROUP BY 1),
        |t AS (SELECT CAST(sum(n_edges) AS BIGINT) AS tot FROM g)
        |SELECT bucket_id,
        |  CASE bucket_id WHEN 0 THEN '0' WHEN 1 THEN '1'
        |    WHEN 2 THEN '2' WHEN 3 THEN '3-4' WHEN 4 THEN '5-8'
        |    WHEN 5 THEN '9-16' ELSE '17+' END AS embeddedness,
        |  n_edges,
        |  ROUND(CAST(n_edges AS DOUBLE) / CAST(tot AS DOUBLE)
        |    * 10000) / 10000 AS share
        |FROM g CROSS JOIN t ORDER BY bucket_id""".stripMargin,
    // Same md5-ranked adjacency, 52-bit integer uniforms
    // ('0x'||hex ≡ conv(hex,16,10)), and two unrolled step joins.
    "graph_deepwalk_corpus" ->
      """WITH pp AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS p
        |  FROM lineitem),
        |co AS (SELECT DISTINCT x.p AS part, y.p AS other
        |  FROM pp x JOIN pp y ON x.ok = y.ok AND x.p <> y.p),
        |adj AS (SELECT part, other,
        |    CAST(row_number() OVER (PARTITION BY part
        |      ORDER BY md5(CAST(part AS VARCHAR) || ':'
        |        || CAST(other AS VARCHAR)), other) AS BIGINT) AS idx
        |  FROM co),
        |deg AS (SELECT part, count(*) AS deg FROM co GROUP BY 1),
        |w0 AS (SELECT part AS n0, deg AS d0, walk_no,
        |    CAST(('0x' || substring(md5(CAST(part AS VARCHAR) || ':'
        |      || CAST(walk_no AS VARCHAR) || ':1'), 1, 13))
        |      AS BIGINT) % deg + 1 AS i1
        |  FROM deg CROSS JOIN
        |    (SELECT unnest([CAST(1 AS BIGINT), 2]) AS walk_no)),
        |s1 AS (SELECT w0.n0, w0.walk_no, a.other AS n1
        |  FROM w0 JOIN adj a ON a.part = w0.n0 AND a.idx = w0.i1),
        |s1d AS (SELECT s1.*, d.deg AS d1,
        |    CAST(('0x' || substring(md5(CAST(s1.n1 AS VARCHAR) || ':'
        |      || CAST(s1.walk_no AS VARCHAR) || ':2'), 1, 13))
        |      AS BIGINT) % d.deg + 1 AS i2
        |  FROM s1 JOIN deg d ON d.part = s1.n1)
        |SELECT s.n0, s.walk_no, s.n1, a.other AS n2
        |FROM s1d s JOIN adj a ON a.part = s.n1 AND a.idx = s.i2
        |ORDER BY n0, walk_no""".stripMargin,
    // Same top-1 ranking and reciprocal self-join.
    "graph_mutual_best_pairs" ->
      """WITH pp AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS p
        |  FROM lineitem),
        |co AS (SELECT x.p AS part, y.p AS other, count(*) AS n_co
        |  FROM pp x JOIN pp y ON x.ok = y.ok AND x.p <> y.p
        |  GROUP BY 1, 2),
        |t1 AS (SELECT part, other, n_co FROM (
        |  SELECT *, row_number() OVER (PARTITION BY part
        |    ORDER BY n_co DESC, other) AS rk FROM co) WHERE rk = 1)
        |SELECT x.part AS part_a, x.other AS part_b, x.n_co
        |FROM t1 x JOIN t1 y
        |  ON x.other = y.part AND y.other = x.part
        |  AND x.part < y.part
        |ORDER BY part_a""".stripMargin,
    // Same unsampled degree table; bounded top-10 total order.
    "graph_top_hubs" ->
      """WITH pp AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS p
        |  FROM lineitem),
        |e AS (SELECT DISTINCT x.p AS a, y.p AS b
        |  FROM pp x JOIN pp y ON x.ok = y.ok AND x.p < y.p),
        |n AS (SELECT a AS node FROM e UNION ALL SELECT b FROM e),
        |deg AS (SELECT node, count(*) AS deg FROM n GROUP BY 1),
        |t AS (SELECT CAST(sum(deg) AS BIGINT) AS endpoints FROM deg)
        |SELECT node, deg,
        |  ROUND(CAST(deg AS DOUBLE) / CAST(endpoints AS DOUBLE)
        |    * 10000) / 10000 AS endpoint_share
        |FROM deg CROSS JOIN t
        |ORDER BY deg DESC, node LIMIT 10""".stripMargin,
    // Histogram-block Lorenz sum (exact HUGEINT terms), one division.
    "graph_degree_gini" ->
      """WITH pp AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS p
        |  FROM lineitem),
        |e AS (SELECT DISTINCT x.p AS a, y.p AS b
        |  FROM pp x JOIN pp y ON x.ok = y.ok AND x.p < y.p),
        |n AS (SELECT a AS node FROM e UNION ALL SELECT b FROM e),
        |deg AS (SELECT node, count(*) AS deg FROM n GROUP BY 1),
        |hist AS (SELECT deg, count(*) AS n_d FROM deg GROUP BY 1),
        |cum AS (SELECT deg, n_d,
        |    CAST(sum(n_d) OVER (ORDER BY deg
        |      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cumv
        |  FROM hist),
        |m AS (SELECT CAST(sum(n_d) AS BIGINT) AS n_nodes,
        |    CAST(sum(CAST(deg * n_d AS HUGEINT)) AS HUGEINT) AS sdeg,
        |    CAST(sum(CAST(deg * n_d AS HUGEINT)
        |      * (2 * cumv - n_d + 1)) AS HUGEINT) AS swc2
        |  FROM cum)
        |SELECT n_nodes, CAST(sdeg AS BIGINT) AS sum_deg,
        |  ROUND(CAST(swc2 - (n_nodes + 1) * sdeg AS DOUBLE)
        |    / CAST(CAST(n_nodes AS HUGEINT) * sdeg AS DOUBLE)
        |    * 10000) / 10000 + 0.0 AS gini
        |FROM m""".stripMargin,
    // The same five peel rounds, unrolled as CTEs (the PageRank
    // convention for iterative oracles). Every round CTE is
    // MATERIALIZED: DuckDB inlines plain CTEs at every reference, and
    // each round reads its predecessor three times — unmaterialized,
    // e5 expands 3⁵-fold and the oracle never finishes.
    "graph_kcore" -> {
      val prelude =
        """WITH pp AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS p
          |  FROM lineitem),
          |ef AS (SELECT DISTINCT x.p AS a, y.p AS b
          |  FROM pp x JOIN pp y ON x.ok = y.ok AND x.p < y.p),
          |e0 AS MATERIALIZED (SELECT a, b FROM ef
          |  WHERE substring(md5(CAST(a AS VARCHAR) || '_'
          |    || CAST(b AS VARCHAR)), 1, 1) = '0')""".stripMargin
      val rounds = (1 to KcoreRounds).map { i =>
        s"""k$i AS MATERIALIZED (SELECT node FROM (
           |    SELECT node, count(*) AS deg FROM (
           |      SELECT a AS node FROM e${i - 1}
           |      UNION ALL SELECT b FROM e${i - 1})
           |    GROUP BY 1) WHERE deg >= 2),
           |e$i AS MATERIALIZED (SELECT a, b FROM e${i - 1}
           |  WHERE a IN (SELECT node FROM k$i)
           |    AND b IN (SELECT node FROM k$i))""".stripMargin
      }.mkString(",\n")
      s"$prelude,\n$rounds\n" +
        s"""SELECT node, count(*) AS deg FROM (
           |  SELECT a AS node FROM e$KcoreRounds
           |  UNION ALL SELECT b FROM e$KcoreRounds)
           |GROUP BY 1 ORDER BY node""".stripMargin
    },
    // The same five synchronous supersteps, unrolled as MATERIALIZED
    // CTEs (the k-core convention); the (count DESC, label ASC)
    // row_number is the identical tie-break spelling.
    // Same doubled edge orderings and HUGEINT moments; Σx = Σy by
    // construction so the numerator/denominator spellings collapse.
    "graph_assortativity" ->
      """WITH pp AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS p
        |  FROM lineitem),
        |ef AS (SELECT DISTINCT x.p AS a, y.p AS b
        |  FROM pp x JOIN pp y ON x.ok = y.ok AND x.p < y.p),
        |e AS (SELECT a, b FROM ef
        |  WHERE substring(md5(CAST(a AS VARCHAR) || '_'
        |    || CAST(b AS VARCHAR)), 1, 1) = '0'),
        |deg AS (SELECT v, count(*) AS deg FROM (
        |  SELECT a AS v FROM e UNION ALL SELECT b FROM e) GROUP BY v),
        |pairs AS (
        |  SELECT da.deg AS x, db.deg AS y FROM e
        |    JOIN deg da ON e.a = da.v JOIN deg db ON e.b = db.v
        |  UNION ALL
        |  SELECT db.deg, da.deg FROM e
        |    JOIN deg da ON e.a = da.v JOIN deg db ON e.b = db.v),
        |mo AS (SELECT count(*) AS m,
        |    CAST(sum(x) AS HUGEINT) AS sx,
        |    CAST(sum(x * y) AS HUGEINT) AS sxy,
        |    CAST(sum(x * x) AS HUGEINT) AS sxx
        |  FROM pairs)
        |SELECT m,
        |  ROUND(CAST(m * sxy - sx * sx AS DOUBLE)
        |    / CAST(m * sxx - sx * sx AS DOUBLE) * 10000) / 10000
        |    + 0.0 AS assortativity
        |FROM mo""".stripMargin,
    // Same Doulion sample; per-bucket single division on HUGEINT
    // sums (all nodes in a bucket share denominator d).
    // Same '0'-prefix sample; ego edges via two endpoint equi-joins.
    "graph_ego_density" ->
      """WITH pp AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS p
        |  FROM lineitem),
        |ef AS (SELECT DISTINCT x.p AS a, y.p AS b
        |  FROM pp x JOIN pp y ON x.ok = y.ok AND x.p < y.p),
        |e AS (SELECT a, b FROM ef
        |  WHERE substring(md5(CAST(a AS VARCHAR) || '_'
        |    || CAST(b AS VARCHAR)), 1, 1) = '0'),
        |sym AS (SELECT a AS v, b AS u FROM e
        |  UNION ALL SELECT b, a FROM e),
        |seeds AS (SELECT DISTINCT v FROM sym ORDER BY v LIMIT 10),
        |nb AS (SELECT sym.v AS seed, sym.u AS nbr
        |  FROM sym JOIN seeds ON sym.v = seeds.v),
        |nn AS (SELECT seed, count(*) AS n_nbrs FROM nb GROUP BY 1),
        |ego AS (SELECT na.seed, count(*) AS e_ego
        |  FROM e JOIN nb na ON e.a = na.nbr
        |  JOIN nb nbb ON e.b = nbb.nbr AND na.seed = nbb.seed
        |  GROUP BY 1)
        |SELECT nn.seed, n_nbrs, COALESCE(e_ego, 0) AS e_ego,
        |  CASE WHEN n_nbrs > 1 THEN
        |    ROUND(CAST(COALESCE(e_ego, 0) * 2 AS DOUBLE)
        |      / CAST(n_nbrs * (n_nbrs - 1) AS DOUBLE) * 10000) / 10000
        |  ELSE 0.0 END AS density
        |FROM nn LEFT JOIN ego USING (seed) ORDER BY seed""".stripMargin,
    // Same '0'-prefix sample; N_k/E_k exact counts, φ one division.
    "graph_rich_club" ->
      """WITH pp AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS p
        |  FROM lineitem),
        |ef AS (SELECT DISTINCT x.p AS a, y.p AS b
        |  FROM pp x JOIN pp y ON x.ok = y.ok AND x.p < y.p),
        |e AS (SELECT a, b FROM ef
        |  WHERE substring(md5(CAST(a AS VARCHAR) || '_'
        |    || CAST(b AS VARCHAR)), 1, 1) = '0'),
        |sym AS (SELECT a AS v FROM e UNION ALL SELECT b FROM e),
        |deg AS (SELECT v, count(*) AS deg FROM sym GROUP BY v),
        |ks AS (SELECT CAST(1 << unnest(range(0, 5)) AS BIGINT) AS k),
        |nk AS (SELECT ks.k, count(*) AS n_k
        |  FROM ks JOIN deg ON deg.deg > ks.k GROUP BY ks.k),
        |ek AS (SELECT ks.k, count(*) AS e_k
        |  FROM e JOIN deg da ON e.a = da.v
        |  JOIN deg db ON e.b = db.v
        |  CROSS JOIN ks
        |  WHERE da.deg > ks.k AND db.deg > ks.k GROUP BY ks.k)
        |SELECT k, n_k, COALESCE(e_k, 0) AS e_k,
        |  CASE WHEN n_k > 1 THEN
        |    ROUND(CAST(COALESCE(e_k, 0) * 2 AS DOUBLE)
        |      / CAST(n_k * (n_k - 1) AS DOUBLE) * 10000) / 10000
        |  END AS phi
        |FROM nk LEFT JOIN ek USING (k) ORDER BY k""".stripMargin,
    "graph_avg_neighbor_degree" ->
      """WITH pp AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS p
        |  FROM lineitem),
        |ef AS (SELECT DISTINCT x.p AS a, y.p AS b
        |  FROM pp x JOIN pp y ON x.ok = y.ok AND x.p < y.p),
        |e AS (SELECT a, b FROM ef
        |  WHERE substring(md5(CAST(a AS VARCHAR) || '_'
        |    || CAST(b AS VARCHAR)), 1, 1) = '0'),
        |sym AS (SELECT a AS v, b AS u FROM e
        |  UNION ALL SELECT b, a FROM e),
        |deg AS (SELECT v, count(*) AS deg FROM sym GROUP BY v),
        |sv AS (SELECT s.v, CAST(sum(d.deg) AS HUGEINT) AS s_v
        |  FROM sym s JOIN deg d ON s.u = d.v GROUP BY s.v),
        |g AS (SELECT d.deg AS degree, count(*) AS n_nodes,
        |    CAST(sum(s_v) AS HUGEINT) AS s
        |  FROM deg d JOIN sv ON d.v = sv.v GROUP BY d.deg)
        |SELECT degree, n_nodes,
        |  ROUND(CAST(s AS DOUBLE)
        |    / CAST(CAST(degree AS HUGEINT) * n_nodes AS DOUBLE)
        |    * 10000) / 10000 + 0.0 AS knn
        |FROM g ORDER BY degree""".stripMargin,
    "graph_label_prop" ->
      (s"$LpaCtes\n" +
        s"""SELECT v AS node, label FROM l$LpaRounds
           |ORDER BY node""".stripMargin),
    // Same LPA unroll feeding Newman's per-community contribution;
    // every count exact, divisions operand-for-operand with the Spark
    // spelling, multiply-form 4dp round.
    "graph_modularity" ->
      (s"$LpaCtes,\n" +
        s"""lab AS (SELECT v, label FROM l$LpaRounds),
           |mm AS (SELECT count(*) AS m FROM e),
           |degs AS (SELECT v, count(*) AS deg FROM nb GROUP BY v),
           |ein AS (SELECT l1.label AS label, count(*) AS e_in
           |  FROM e JOIN lab l1 ON e.a = l1.v JOIN lab l2 ON e.b = l2.v
           |  WHERE l1.label = l2.label GROUP BY 1),
           |dc AS (SELECT lab.label, CAST(sum(deg) AS BIGINT) AS deg_sum,
           |    count(*) AS n_nodes
           |  FROM lab JOIN degs ON lab.v = degs.v GROUP BY 1)
           |SELECT dc.label AS community, n_nodes,
           |  CAST(coalesce(e_in, 0) AS BIGINT) AS internal_edges, deg_sum,
           |  ROUND((CAST(coalesce(e_in, 0) AS DOUBLE) / CAST(m AS DOUBLE)
           |    - (CAST(deg_sum AS DOUBLE) / CAST(m * 2 AS DOUBLE))
           |      * (CAST(deg_sum AS DOUBLE) / CAST(m * 2 AS DOUBLE)))
           |    * 10000) / 10000 + 0.0 AS q_contrib
           |FROM dc LEFT JOIN ein ON dc.label = ein.label
           |CROSS JOIN mm
           |ORDER BY community""".stripMargin),

    // Same '0'-sample join-union-distinct reach.
    "graph_two_hop_reach" ->
      """WITH pp AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS p
        |  FROM lineitem),
        |e0 AS (SELECT DISTINCT x.p AS a, y.p AS b
        |  FROM pp x JOIN pp y ON x.ok = y.ok AND x.p < y.p),
        |half AS MATERIALIZED (SELECT a, b FROM e0
        |  WHERE substring(md5(CAST(a AS VARCHAR) || '_'
        |    || CAST(b AS VARCHAR)), 1, 1) = '0'),
        |ed AS MATERIALIZED (SELECT a AS src, b AS dst FROM half
        |  UNION ALL SELECT b, a FROM half),
        |two AS (SELECT x.src, y.dst FROM ed x JOIN ed y
        |  ON x.dst = y.src WHERE x.src <> y.dst),
        |reach AS (SELECT DISTINCT src, dst FROM
        |  (SELECT src, dst FROM ed UNION ALL SELECT src, dst FROM two)),
        |deg AS (SELECT src, count(*) AS n_1hop FROM ed GROUP BY 1),
        |r AS (SELECT src, count(*) AS n_2hop FROM reach GROUP BY 1)
        |SELECT r.src AS node, n_1hop, n_2hop,
        |  ROUND(CAST(n_2hop AS DOUBLE) / CAST(n_1hop AS DOUBLE)
        |    * 10000) / 10000 AS expansion
        |FROM r JOIN deg ON deg.src = r.src
        |ORDER BY node""".stripMargin,

    // Same dominant-transition cut minus self-loops; E ∩ Eᵀ by one
    // self-join.
    "graph_reciprocity" ->
      """WITH e AS (SELECT user_id, event_id, event_type,
        |    epoch_ms(ts) AS ms FROM events),
        |tr AS (SELECT event_type AS src,
        |    lead(event_type, 1) OVER (PARTITION BY user_id
        |      ORDER BY ms, event_id) AS dst
        |  FROM e),
        |tc AS (SELECT src, dst, count(*) AS n FROM tr
        |  WHERE dst IS NOT NULL GROUP BY 1, 2),
        |tf AS (SELECT src, dst, n,
        |    sum(n) OVER (PARTITION BY src) AS n_from FROM tc),
        |nt AS (SELECT count(*) AS ntypes FROM
        |  (SELECT DISTINCT event_type FROM events)),
        |ed AS (SELECT src, dst FROM tf CROSS JOIN nt
        |  WHERE n * ntypes >= n_from AND src <> dst),
        |ne AS (SELECT count(*) AS n_edges FROM ed),
        |nr AS (SELECT count(*) AS n_reciprocal
        |  FROM ed e JOIN ed r ON e.src = r.dst AND e.dst = r.src)
        |SELECT n_edges, n_reciprocal,
        |  ROUND(CAST(n_reciprocal AS DOUBLE) / CAST(n_edges AS DOUBLE)
        |    * 10000) / 10000 AS reciprocity
        |FROM ne CROSS JOIN nr""".stripMargin,

    // Same Doulion edges, the same three gather stages, identical
    // truncating α^k divisions.
    "graph_katz" ->
      """WITH pp AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS p
        |  FROM lineitem),
        |e0 AS (SELECT DISTINCT x.p AS a, y.p AS b
        |  FROM pp x JOIN pp y ON x.ok = y.ok AND x.p < y.p),
        |half AS MATERIALIZED (SELECT a, b FROM e0
        |  WHERE substring(md5(CAST(a AS VARCHAR) || '_'
        |    || CAST(b AS VARCHAR)), 1, 1) IN ('0', '1')),
        |ed AS MATERIALIZED (SELECT a AS src, b AS dst FROM half
        |  UNION ALL SELECT b, a FROM half),
        |w1 AS (SELECT dst AS node, count(*) AS w1 FROM ed GROUP BY 1),
        |w2 AS (SELECT ed.dst AS node,
        |    CAST(sum(CAST(w1.w1 AS HUGEINT)) AS HUGEINT) AS w2
        |  FROM ed JOIN w1 ON w1.node = ed.src GROUP BY 1),
        |w3 AS (SELECT ed.dst AS node,
        |    CAST(sum(w2.w2) AS HUGEINT) AS w3
        |  FROM ed JOIN w2 ON w2.node = ed.src GROUP BY 1),
        |j AS (SELECT w1.node, w1.w1,
        |    CAST(w2.w2 AS BIGINT) AS w2l, CAST(w3.w3 AS BIGINT) AS w3l
        |  FROM w1 JOIN w2 ON w2.node = w1.node
        |  JOIN w3 ON w3.node = w1.node),
        |k AS (SELECT node, w1 AS degree,
        |    (w1 * 1000000) // 4 + (w2l * 1000000) // 16
        |      + (w3l * 1000000) // 64 AS katz6
        |  FROM j)
        |SELECT node, degree, CAST(katz6 AS BIGINT) AS katz6,
        |  ROUND(CAST(katz6 AS DOUBLE) / 1000000.0 * 10000) / 10000
        |    AS katz
        |FROM k ORDER BY node""".stripMargin,

    // Same 3 unrolled restart supersteps; CAST AS BIGINT on the sum
    // (an uncast SUM(BIGINT) is HUGEINT), the identical rank>0 prune
    // and full-outer seed keep-alive.
    "graph_ppr" -> {
      val prelude =
        s"""WITH pp AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS p
           |  FROM lineitem),
           |e0 AS (SELECT DISTINCT x.p AS a, y.p AS b
           |  FROM pp x JOIN pp y ON x.ok = y.ok AND x.p < y.p),
           |half AS MATERIALIZED (SELECT a, b FROM e0
           |  WHERE substring(md5(CAST(a AS VARCHAR) || '_'
           |    || CAST(b AS VARCHAR)), 1, 1) IN ('0', '1')),
           |ed AS MATERIALIZED (SELECT a AS src, b AS dst FROM half
           |  UNION ALL SELECT b, a FROM half),
           |deg AS (SELECT src, count(*) AS deg FROM ed GROUP BY 1),
           |seeds AS (SELECT node FROM
           |    (SELECT DISTINCT l_partkey AS node FROM lineitem)
           |  ORDER BY md5(CAST(node AS VARCHAR)), node
           |  LIMIT $SeedBudget),
           |r0 AS (SELECT node, CAST(1000000 AS BIGINT) AS rank
           |  FROM seeds)""".stripMargin
      val steps = (1 to 3).map { i =>
        s"""r$i AS (SELECT COALESCE(m.node, sd.node) AS node,
           |    CAST(CASE WHEN sd.node IS NULL THEN 0 ELSE 150000 END
           |      + 85 * COALESCE(m.sc, 0) // 100 AS BIGINT) AS rank
           |  FROM (SELECT e.dst AS node,
           |      CAST(sum(r.rank // d.deg) AS BIGINT) AS sc
           |    FROM ed e JOIN deg d ON e.src = d.src
           |    JOIN r${i - 1} r ON e.src = r.node AND r.rank > 0
           |    GROUP BY 1) m
           |  FULL OUTER JOIN seeds sd ON m.node = sd.node)""".stripMargin
      }.mkString(",\n")
      s"$prelude,\n$steps\nSELECT node, rank FROM r3 ORDER BY node"
    },

    // Same two unrolled reinforcement rounds; HUGEINT raw sums, the
    // identical max-normalizing truncating division.
    "graph_hits" -> {
      val prelude =
        """WITH e AS (SELECT DISTINCT l_partkey AS p, l_suppkey AS sp
          |  FROM lineitem),
          |h0 AS (SELECT DISTINCT p, CAST(1000000 AS BIGINT) AS h
          |  FROM e)""".stripMargin
      val rounds = (1 to 2).map { i =>
        s"""ar$i AS (SELECT sp, CAST(sum(CAST(h AS HUGEINT)) AS HUGEINT)
           |    AS araw
           |  FROM e JOIN h${i - 1} USING (p) GROUP BY 1),
           |am$i AS (SELECT max(araw) AS amax FROM ar$i),
           |a$i AS MATERIALIZED (SELECT sp,
           |    CAST((araw * 1000000) // amax AS BIGINT) AS a
           |  FROM ar$i CROSS JOIN am$i),
           |hr$i AS (SELECT p, CAST(sum(CAST(a AS HUGEINT)) AS HUGEINT)
           |    AS hraw
           |  FROM e JOIN a$i USING (sp) GROUP BY 1),
           |hm$i AS (SELECT max(hraw) AS hmax FROM hr$i),
           |h$i AS MATERIALIZED (SELECT p,
           |    CAST((hraw * 1000000) // hmax AS BIGINT) AS h
           |  FROM hr$i CROSS JOIN hm$i)""".stripMargin
      }.mkString(",\n")
      s"$prelude,\n$rounds\n" +
        """SELECT side, node, score6 FROM (
          |  SELECT 'authority' AS side, sp AS node, a AS score6 FROM a2
          |  UNION ALL SELECT 'hub', p, h FROM h2)
          |ORDER BY side, node""".stripMargin
    },

    // Same dominant-transition edges, the same 3 unrolled doubling
    // rounds of the bounded closure, SCC by closure ∧ transpose.
    "graph_scc" -> {
      val prelude =
        """WITH e AS (SELECT user_id, event_id, event_type,
          |    epoch_ms(ts) AS ms FROM events),
          |tr AS (SELECT event_type AS src,
          |    lead(event_type, 1) OVER (PARTITION BY user_id
          |      ORDER BY ms, event_id) AS dst
          |  FROM e),
          |tc AS (SELECT src, dst, count(*) AS n FROM tr
          |  WHERE dst IS NOT NULL GROUP BY 1, 2),
          |tf AS (SELECT src, dst, n,
          |    sum(n) OVER (PARTITION BY src) AS n_from FROM tc),
          |nodes AS (SELECT DISTINCT event_type AS v FROM events),
          |nt AS (SELECT count(*) AS ntypes FROM nodes),
          |ed AS (SELECT src, dst FROM tf CROSS JOIN nt
          |  WHERE n * ntypes >= n_from),
          |r0 AS MATERIALIZED (SELECT DISTINCT src, dst FROM (
          |  SELECT v AS src, v AS dst FROM nodes
          |  UNION ALL SELECT src, dst FROM ed))""".stripMargin
      val rounds = (1 to 3).map { i =>
        s"""r$i AS MATERIALIZED (SELECT DISTINCT src, dst FROM (
           |  SELECT src, dst FROM r${i - 1}
           |  UNION ALL
           |  SELECT x.src, y.dst FROM r${i - 1} x
           |  JOIN r${i - 1} y ON x.dst = y.src))""".stripMargin
      }.mkString(",\n")
      s"$prelude,\n$rounds,\n" +
        """scc AS (SELECT f.src AS v, min(f.dst) AS scc_id
          |  FROM r3 f JOIN r3 b ON f.src = b.dst AND f.dst = b.src
          |  GROUP BY 1),
          |sz AS (SELECT scc_id, count(*) AS scc_size FROM scc
          |  GROUP BY 1)
          |SELECT v AS event_type, scc_id, scc_size
          |FROM scc JOIN sz USING (scc_id)
          |ORDER BY event_type""".stripMargin
    }
  )

  /** Shared LPA oracle CTEs: the '0'-prefix Doulion edge set, the
    * undirected adjacency, and the 5 unrolled min-tie-break supersteps
    * (consumed by both graph_label_prop and graph_modularity). */
  private lazy val LpaCtes: String = {
    val prelude =
      """WITH pp AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS p
        |  FROM lineitem),
        |ef AS (SELECT DISTINCT x.p AS a, y.p AS b
        |  FROM pp x JOIN pp y ON x.ok = y.ok AND x.p < y.p),
        |e AS MATERIALIZED (SELECT a, b FROM ef
        |  WHERE substring(md5(CAST(a AS VARCHAR) || '_'
        |    || CAST(b AS VARCHAR)), 1, 1) = '0'),
        |nb AS MATERIALIZED (SELECT a AS v, b AS n FROM e
        |  UNION ALL SELECT b, a FROM e),
        |l0 AS MATERIALIZED (SELECT DISTINCT v, v AS label FROM nb)""".stripMargin
    val rounds = (1 to LpaRounds).map { i =>
      s"""l$i AS MATERIALIZED (SELECT v, label FROM (
         |  SELECT nb.v, l.label, count(*) AS c,
         |    row_number() OVER (PARTITION BY nb.v
         |      ORDER BY count(*) DESC, l.label) AS rk
         |  FROM nb JOIN l${i - 1} l ON l.v = nb.n
         |  GROUP BY nb.v, l.label) WHERE rk = 1)""".stripMargin
    }.mkString(",\n")
    s"$prelude,\n$rounds"
  }
}
