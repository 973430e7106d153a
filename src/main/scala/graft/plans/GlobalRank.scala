package graft.plans

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.{DoubleType, LongType, StructField, StructType}

/** Scalable `percent_rank()` / `cume_dist()` over a GLOBAL ordering.
  *
  * The window form (`Window.orderBy(key)`) funnels every row through ONE
  * partition — correct, and what the declared `win_percent_cume` query
  * uses at fixture scale, but a non-starter at 100 TB. This operator is
  * the two-pass shape Spark itself uses for global sort:
  *
  *   1. `repartitionByRange(key)` + sort within partitions — parallel
  *      range exchange; equal keys land in one partition, so tie groups
  *      never straddle a boundary;
  *   2. count rows per partition (tiny: one long per partition),
  *      broadcast the cumulative offsets;
  *   3. stream each sorted partition once, assigning
  *      rank = offset + local-rank (ties share the rank of their first
  *      row) and cume = (offset + end-of-tie-run) / N.
  *
  * percent_rank = (rank − 1)/(N − 1), cume_dist = cume — identical to
  * SQL window semantics including ties (proven equal to the window form
  * in GlobalRankSpec). Memory per task is O(largest tie run), not O(N).
  */
object GlobalRank {

  /** Append `pr` (percent_rank) and `cd` (cume_dist) of `keyCol` to
    * `df`, computed without a single-partition window. `numPartitions`
    * controls the range exchange (default: spark.sql.shuffle.partitions).
    * The ranged input is persisted (MEMORY_AND_DISK) so both passes see
    * one partitioning; the cache lives as long as the returned
    * DataFrame's lineage is reachable on the driver, after which Spark's
    * ContextCleaner unpersists it (standard GC-based RDD cleanup —
    * repeated calls do not pin storage forever, but a caller holding
    * many results holds their caches too).
    */
  def percentCume(df: DataFrame, keyCol: String,
      numPartitions: Int = 0): DataFrame = {
    require(!df.columns.contains("pr") && !df.columns.contains("cd"),
      "percentCume appends columns 'pr' and 'cd' — rename the input's " +
        s"clashing column first (input: ${df.columns.mkString(", ")})")
    val spark = df.sparkSession
    val parts =
      if (numPartitions > 0) numPartitions
      else spark.conf.get("spark.sql.shuffle.partitions").toInt
    val keyIdx = df.schema.fieldIndex(keyCol)
    // ONE materialized range partitioning serves both passes: a second
    // execution of repartitionByRange re-samples boundaries (reservoir
    // order depends on upstream shuffle order), and offsets counted
    // against one partitioning but applied to another would silently
    // misrank. Persisting pins partition contents; the count job below
    // materializes the cache before the ranking pass reads it.
    val rangedRdd = df.repartitionByRange(parts, col(keyCol))
      .sortWithinPartitions(keyCol)
      .rdd.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // Pass 1: per-partition row counts → cumulative offsets (p longs on
    // the driver — independent of data size).
    val counts = rangedRdd
      .mapPartitionsWithIndex((pid, it) =>
        Iterator((pid, it.foldLeft(0L)((n, _) => n + 1))))
      .collect().toMap
    val nParts = rangedRdd.getNumPartitions
    val offsets = new Array[Long](nParts + 1)
    (0 until nParts).foreach(i => offsets(i + 1) = offsets(i) + counts.getOrElse(i, 0L))
    val total = offsets(nParts)
    val outSchema = StructType(df.schema.fields ++ Seq(
      StructField("pr", DoubleType, nullable = false),
      StructField("cd", DoubleType, nullable = false)))
    val prDenom = math.max(total - 1L, 1L).toDouble
    val bOffsets = spark.sparkContext.broadcast(offsets)
    // Pass 2: one streamed scan per sorted partition. Rows are buffered
    // only within a tie run (rank/cume are per-run constants).
    val out = rangedRdd.mapPartitionsWithIndex { (pid, rows) =>
      val base = bOffsets.value(pid)
      new Iterator[Row] {
        private var pos = base // global 0-based index of next unread row
        private var run: Array[Row] = Array.empty
        private var runStart = 0L
        private var emitted = 0
        private val buf = rows.buffered
        // deepEquals: element-wise for array keys (Scala == on Array is
        // reference equality and would split a tie run); boxed
        // Double/Float equals already matches sort semantics
        // (-0.0 ≠ 0.0, NaN = NaN — exactly java.lang.Double.compare).
        private def sameKey(a: Row, b: Row): Boolean =
          java.util.Objects.deepEquals(a.get(keyIdx), b.get(keyIdx))
        override def hasNext: Boolean = emitted < run.length || buf.hasNext
        override def next(): Row = {
          if (emitted == run.length) {
            val first = buf.next()
            val b = scala.collection.mutable.ArrayBuffer(first)
            while (buf.hasNext && sameKey(buf.head, first)) b += buf.next()
            run = b.toArray; runStart = pos; pos += run.length; emitted = 0
          }
          val r = run(emitted); emitted += 1
          val pr = runStart.toDouble / prDenom
          val cd = (runStart + run.length).toDouble / total
          Row.fromSeq(r.toSeq ++ Seq(pr, cd))
        }
      }
    }
    spark.createDataFrame(out, outSchema)
  }

  /** Append `outCol` = INCLUSIVE running sum of LONG `valueCol` over the
    * global `orderCols` ordering — the same two-pass shape as
    * [[percentCume]] (range exchange → per-partition partial sums,
    * O(partitions) longs on the driver → streamed prefix pass), i.e. a
    * global `sum() OVER (ORDER BY ... ROWS UNBOUNDED PRECEDING)` without
    * the single-partition window. Integer arithmetic throughout, so the
    * result is exact and partition-split independent: unlike tie-run
    * ranks, a prefix sum over a UNIQUE total order doesn't care where
    * range boundaries land — callers must therefore pass orderCols that
    * form a unique key (append a row id) or rows tying on the full key
    * get a stream-order-dependent interleaving (GlobalRankSpec pins
    * window equivalence + partitioning invariance on unique keys).
    *
    * Memory contract: the ranged RDD stays persisted for the OUTPUT's
    * lifetime — the offsets were counted against exactly that
    * partitioning, and releasing it early would let a recompute
    * re-sample range boundaries out from under them. ContextCleaner
    * reclaims the blocks once the result is unreferenced; long-lived
    * sessions running many queries should sweep leftovers at
    * unit-of-work boundaries via GraftSession.dropLeftoverBlocks (the
    * harness drivers do this between queries).
    */
  def runningSum(df: DataFrame, orderCols: Seq[String], valueCol: String,
      outCol: String = "cum", numPartitions: Int = 0): DataFrame =
    runningSums(df, orderCols, Seq(valueCol), Seq(outCol), numPartitions)

  /** Multi-column [[runningSum]]: append one INCLUSIVE running-sum
    * column per LONG `valueCols` entry over the global `orderCols`
    * ordering, in ONE range exchange + ONE offsets pass (round-18 —
    * the eval/stat cumulative sweeps need two or three prefix sums
    * over the same distinct-value grid, and per-column runningSum
    * calls would pay the exchange per column). Same unique-total-order
    * and persist-lifetime contracts as runningSum. */
  def runningSums(df: DataFrame, orderCols: Seq[String],
      valueCols: Seq[String], outCols: Seq[String],
      numPartitions: Int = 0): DataFrame = {
    require(orderCols.nonEmpty, "runningSums needs at least one order column")
    require(valueCols.nonEmpty && valueCols.size == outCols.size,
      s"valueCols/outCols must pair up, got $valueCols vs $outCols")
    outCols.foreach(c => require(!df.columns.contains(c),
      s"runningSums appends column '$c' — rename the input's clashing " +
        s"column first (input: ${df.columns.mkString(", ")})"))
    valueCols.foreach(c => require(df.schema(c).dataType == LongType,
      s"exact prefix sums need LONG value columns, got " +
        s"${df.schema(c).dataType.simpleString} for '$c'"))
    val spark = df.sparkSession
    val parts =
      if (numPartitions > 0) numPartitions
      else spark.conf.get("spark.sql.shuffle.partitions").toInt
    val vIdx = valueCols.map(df.schema.fieldIndex).toArray
    val k = vIdx.length
    val rangedRdd = df.repartitionByRange(parts, orderCols.map(col): _*)
      .sortWithinPartitions(orderCols.head, orderCols.tail: _*)
      .rdd.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val sums = rangedRdd
      .mapPartitionsWithIndex { (pid, it) =>
        val acc = new Array[Long](k)
        it.foreach { r =>
          var c = 0
          while (c < k) { acc(c) += r.getLong(vIdx(c)); c += 1 }
        }
        Iterator((pid, acc))
      }
      .collect().toMap
    val nParts = rangedRdd.getNumPartitions
    val offsets = Array.ofDim[Long](nParts + 1, k)
    (0 until nParts).foreach { i =>
      val s = sums.getOrElse(i, new Array[Long](k))
      var c = 0
      while (c < k) { offsets(i + 1)(c) = offsets(i)(c) + s(c); c += 1 }
    }
    val outSchema = StructType(df.schema.fields ++
      outCols.map(c => StructField(c, LongType, nullable = false)))
    val bOffsets = spark.sparkContext.broadcast(offsets)
    val out = rangedRdd.mapPartitionsWithIndex { (pid, rows) =>
      val acc = bOffsets.value(pid).clone()
      rows.map { r =>
        var c = 0
        while (c < k) { acc(c) += r.getLong(vIdx(c)); c += 1 }
        // snapshot: acc mutates across rows, and a Row must not alias it
        Row.fromSeq(r.toSeq ++ acc.clone().toSeq)
      }
    }
    spark.createDataFrame(out, outSchema)
  }

  /** Append `outCol` = EXCLUSIVE running MAX of LONG `valueCol` over
    * the global `orderCols` ordering (the max over STRICTLY preceding
    * rows; `Long.MinValue` for the global first row) — the same
    * two-pass shape as [[runningSum]], i.e. a global
    * `max() OVER (ORDER BY ... ROWS BETWEEN UNBOUNDED PRECEDING AND 1
    * PRECEDING)` without the single-partition window. The exclusive
    * form is what dominance tests (sort-filter SKYLINE: keep a row iff
    * no strictly-earlier row beats its value) consume directly.
    * Same unique-total-order and persist-lifetime contracts as
    * runningSum. */
  def runningMaxExclusive(df: DataFrame, orderCols: Seq[String],
      valueCol: String, outCol: String = "prevmax",
      numPartitions: Int = 0): DataFrame = {
    require(orderCols.nonEmpty,
      "runningMaxExclusive needs at least one order column")
    require(!df.columns.contains(outCol),
      s"runningMaxExclusive appends column '$outCol' — rename the " +
        s"input's clashing column first (input: ${df.columns.mkString(", ")})")
    require(df.schema(valueCol).dataType == LongType,
      s"exact prefix maxes need a LONG value column, got " +
        s"${df.schema(valueCol).dataType.simpleString} for '$valueCol'")
    val spark = df.sparkSession
    val parts =
      if (numPartitions > 0) numPartitions
      else spark.conf.get("spark.sql.shuffle.partitions").toInt
    val vIdx = df.schema.fieldIndex(valueCol)
    val rangedRdd = df.repartitionByRange(parts, orderCols.map(col): _*)
      .sortWithinPartitions(orderCols.head, orderCols.tail: _*)
      .rdd.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val maxes = rangedRdd
      .mapPartitionsWithIndex((pid, it) =>
        Iterator((pid, it.foldLeft(Long.MinValue)((acc, r) =>
          math.max(acc, r.getLong(vIdx))))))
      .collect().toMap
    val nParts = rangedRdd.getNumPartitions
    val offsets = new Array[Long](nParts + 1)
    offsets(0) = Long.MinValue
    (0 until nParts).foreach(i =>
      offsets(i + 1) =
        math.max(offsets(i), maxes.getOrElse(i, Long.MinValue)))
    val outSchema = StructType(df.schema.fields :+
      StructField(outCol, LongType, nullable = false))
    val bOffsets = spark.sparkContext.broadcast(offsets)
    val out = rangedRdd.mapPartitionsWithIndex { (pid, rows) =>
      var acc = bOffsets.value(pid)
      rows.map { r =>
        val prev = acc
        acc = math.max(acc, r.getLong(vIdx))
        Row.fromSeq(r.toSeq :+ prev)
      }
    }
    spark.createDataFrame(out, outSchema)
  }
}
