package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Shared distributed-iteration loops behind the §2 graph keys — the
  * public, parameterized faces of `graph_bfs_distance`,
  * `graph_pagerank`, `graph_kcore` and `graph_label_prop`. Every loop
  * runs a FIXED number of rounds, so the keys' unrolled DuckDB oracles
  * mirror them exactly.
  *
  * All four run through one private loop, `iterate`, under the
  * ConnectedComponents materialization discipline: eager checkpoint
  * every `perMaterialize` rounds (lineage truncation — the alternative
  * single lazy plan re-scans the base relation once per round with
  * zero exchange reuse, measured in BASELINE.md), previous state's
  * blocks released as soon as the next is materialized, so executor
  * state is one iterate copy + any persisted edge cache regardless of
  * round count. The loop runs no action besides its checkpoints.
  */
object GraphAlgorithms {

  // dropOriginConstraints: the checkpoint keeps the origin plan's
  // constraint set, and the loop shape (iterate unioned with a plan
  // derived from it) trips Union's constraint rewrite when the origin
  // lineage carries a generator — see the shim's scaladoc. Constraints
  // on an already-materialized iterate buy nothing.
  private def materialize(s: SparkSession, df: DataFrame): DataFrame =
    org.apache.spark.sql.graftshim.dropOriginConstraints(
      if (s.sparkContext.getCheckpointDir.isDefined) df.checkpoint(true)
      else df.localCheckpoint(true))

  private def release(df: DataFrame): Unit =
    org.apache.spark.sql.graftshim.unpersistCheckpoint(df)

  /** The one fixed-round loop: materialize `init`, then apply `step`
    * `rounds` times, `perMaterialize` steps per eager checkpoint,
    * releasing each superseded state. Batching is only sound for a
    * step that reads its input ONCE (a linear plan — no subtree
    * duplication, no recompute); a step that reads it twice runs at
    * `perMaterialize` = 1. This is the one place that decides the
    * loops' batching and checkpoint policy. */
  private def iterate(s: SparkSession, init: DataFrame, rounds: Int,
      perMaterialize: Int)(step: DataFrame => DataFrame): DataFrame = {
    var state = materialize(s, init)
    var done = 0
    while (done < rounds) {
      val k = math.min(perMaterialize, rounds - done)
      val next = materialize(s, (1 to k).foldLeft(state)((d, _) => step(d)))
      release(state)
      state = next
      done += k
    }
    state
  }

  /** Multi-source BFS over directed `edges` (`src`, `dst`) from
    * `seeds` (`node`), full-re-aggregation form: each round relaxes
    * the ENTIRE distance table (one edge⋈state join + one min agg).
    * On the dense small-diameter fixture co-purchase graph, where the
    * frontier reaches most nodes by round 2, this beat a frontier-delta
    * form (BASELINE.md round-8 A/B: 4.06 s vs 4.56 s). Unreached nodes
    * are absent. The step reads its state twice (join + union), so one
    * round per checkpoint. */
  def bfsFullReagg(s: SparkSession, edges: DataFrame, seeds: DataFrame,
      rounds: Int): DataFrame = {
    require(rounds >= 0, s"rounds must be >= 0, got $rounds")
    iterate(s, seeds.select(col("node")).distinct()
        .withColumn("dist", lit(0L)), rounds, perMaterialize = 1) { dist =>
      edges
        .join(dist, col("src") === col("node"))
        .select(col("dst").as("node"), (col("dist") + 1).as("dist"))
        .unionByName(dist)
        .groupBy("node").agg(min(col("dist")).as("dist"))
    }
  }

  /** Integer-arithmetic PageRank (scaled longs, 1.0 ≡ 1,000,000;
    * damping 0.85 as `150000 + 85·Σ(rank div deg) div 100` — the
    * graph_pagerank update, bit-replayable in both engines). Runs
    * `iters` supersteps. Every node needs out-degree ≥ 1 (the callers'
    * bipartite both-directions construction guarantees it); dangling
    * nodes would leak rank mass silently. Returns ranks (`node`,
    * `rank`).
    */
  def pageRank(s: SparkSession, edges: DataFrame, iters: Int): DataFrame = {
    require(iters >= 1, s"iters must be >= 1, got $iters")
    val deg = edges.groupBy(col("src")).agg(count(lit(1)).as("deg"))
    // Round-17: the edge cache is hash-partitioned AND sorted on the
    // per-superstep join key BEFORE it is persisted, so every round's
    // edge⋈ranks sort-merge join reads it with NO exchange and NO sort
    // — only the (small) ranks side shuffles per round (guide §2.4
    // "two operations keyed the same way share one exchange"). The
    // one-time repartition replaces `iters` per-round re-shuffles of
    // the whole edge table.
    val ed = edges.join(deg, Seq("src"))
      .repartition(col("src")).sortWithinPartitions("src")
      .persist()
    // Round-18: the superstep references its input exactly ONCE
    // (join → partial agg → project), so TWO supersteps share one
    // eager checkpoint — half the checkpoint writes, read-backs and
    // job launches, whose fixed cost (not data) dominated the loop at
    // fixture scale. Identical integer arithmetic, bit-identical ranks.
    val ranks = iterate(s, deg.select(col("src").as("node"),
        lit(1000000L).as("rank")), iters, perMaterialize = 2) { r =>
      ed.join(r, col("src") === col("node"))
        .select(col("dst"), expr("rank div deg").as("c"))
        .groupBy(col("dst")).agg(sum(col("c")).as("sc"))
        .select(col("dst").as("node"),
          (lit(150000L) + expr("85 * sc div 100")).as("rank"))
    }
    ed.unpersist()
    ranks
  }

  /** Synchronous LABEL PROPAGATION over undirected (a, b) edges:
    * every node starts as its own label; each superstep every node
    * adopts the most frequent label among its NEIGHBORS, ties broken
    * by the MINIMUM label — fully deterministic (the async/random
    * variants of LPA are not replayable; the sync+min-tie-break form
    * is, at the cost of possible 2-cycles on bipartite structures,
    * which is why it runs a FIXED round count). Returns labels
    * (`v`, `label`). */
  def labelPropagation(s: SparkSession, edges: DataFrame, rounds: Int): DataFrame = {
    require(rounds >= 1)
    // Round-17: neighbor table pre-partitioned + sorted on the join key
    // (the labels side joins on "n" every round) — same one-exchange-
    // for-the-loop rationale as pageRank's edge cache.
    val nb = edges.select(col("a").as("v"), col("b").as("n"))
      .unionAll(edges.select(col("b").as("v"), col("a").as("n")))
      .repartition(col("n")).sortWithinPartitions("n")
      .persist()
    // Round-17: the most-frequent-min-tie-break label is an ARGMAX —
    // max_by over the total order (c, -label) picks highest count,
    // then lowest label, exactly row_number()=1 under
    // (c desc, label asc) — but partial-aggregates map-side, so the
    // second exchange carries ≤ one row per (v × partition) and the
    // per-partition window SORT disappears. (c, -label) is unique
    // within each v group (labels are distinct rows), so the argmax
    // is deterministic; labels are non-negative node ids, so -label
    // cannot overflow. Round-18: the step is linear in its input (one
    // join, two aggs), so two supersteps share one checkpoint, as in
    // pageRank.
    val labels = iterate(s,
        nb.select(col("v")).distinct().select(col("v"), col("v").as("label")),
        rounds, perMaterialize = 2) { l =>
      nb.join(l.withColumnRenamed("v", "n"), Seq("n"))
        .groupBy(col("v"), col("label")).agg(count(lit(1)).as("c"))
        .groupBy(col("v"))
        .agg(max_by(col("label"), struct(col("c"), -col("label")))
          .as("label"))
    }
    nb.unpersist()
    labels
  }

  /** k-core peel over undirected oriented edges (`a`, `b`): drop
    * nodes with (sampled) degree < k and the edges they carry,
    * `rounds` times. Peeling is monotone (rounds only remove), so the
    * result is a SUPERSET of the true k-core, equal to it once a round
    * removes nothing. Survivor prunes broadcast (|V|-row node lists;
    * swap to a bloom prefilter where survivors outgrow the broadcast
    * threshold). The step reads its edge set twice (degree agg +
    * prune), so one round per checkpoint. Returns surviving edges.
    */
  def kcorePeel(s: SparkSession, edges: DataFrame, k: Int, rounds: Int): DataFrame = {
    require(k >= 1 && rounds >= 1)
    iterate(s, edges, rounds, perMaterialize = 1) { e =>
      val keep = e.select(explode(array(col("a"), col("b"))).as("node"))
        .groupBy("node").agg(count(lit(1)).as("deg"))
        .filter(col("deg") >= k).select("node")
      e.join(broadcast(keep.withColumnRenamed("node", "a")),
          Seq("a"), "left_semi")
        .join(broadcast(keep.withColumnRenamed("node", "b")),
          Seq("b"), "left_semi")
        .select(col("a"), col("b"))
    }
  }
}
