package graft.plans

import scala.reflect.ClassTag

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.catalyst.{CatalystTypeConverters, InternalRow}
import org.apache.spark.sql.catalyst.expressions.InterpretedOrdering
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.{DoubleType, LongType, StructField, StructType}
import org.apache.spark.storage.StorageLevel

/** Scalable `percent_rank()` / `cume_dist()` and running sums/maxes over
  * a GLOBAL ordering.
  *
  * The window form (`Window.orderBy(key)`) funnels every row through ONE
  * partition — correct, and what the declared `win_percent_cume` query
  * uses at fixture scale, but a non-starter at 100 TB. Every function
  * here is one [[scan]], the two-pass shape Spark itself uses for global
  * sort:
  *
  *   1. `repartitionByRange(orderCols)` + sort within partitions —
  *      parallel range exchange; equal keys land in one partition, so
  *      tie groups never straddle a boundary;
  *   2. fold each partition to a small summary (a count, sums, a max),
  *      combine the summaries into per-partition offsets on the driver
  *      (O(partitions) values, independent of data size) and broadcast
  *      them;
  *   3. stream each sorted partition once, starting from its offset.
  *
  * percent_rank = (rank − 1)/(N − 1), cume_dist = cume — identical to
  * SQL window semantics including ties (proven equal to the window form
  * in GlobalRankSpec). Memory per task is O(largest tie run), not O(N).
  */
object GlobalRank {

  /** The one two-pass scan: range-exchange `df` on `orderCols` into
    * spark.sql.shuffle.partitions sorted partitions, fold each to a
    * summary (`zero`, `fold`), combine the summaries left to right into
    * offsets, and stream partition `pid` through
    * `emit(offset, total, rows)`, where `offset` combines every earlier
    * partition's summary and `total` all of them; `emit` appends
    * `outFields` to each row. `zero` is a thunk so `fold` may update a
    * partition's summary in place.
    *
    * ONE materialized range partitioning serves both passes: a second
    * execution of repartitionByRange re-samples boundaries (reservoir
    * order depends on upstream shuffle order), and offsets counted
    * against one partitioning but applied to another would misrank.
    * Persisting (MEMORY_AND_DISK) pins partition contents; the summary
    * job materializes the cache before the streamed pass reads it. The
    * ranged RDD stays persisted for the OUTPUT's lifetime; Spark's
    * ContextCleaner unpersists it once the result is unreferenced on the
    * driver, and long-lived sessions running many queries should sweep
    * leftovers at unit-of-work boundaries via
    * GraftSession.dropLeftoverBlocks (Bench and Verify do this
    * between queries; GlobalRankSpec pins that a result whose blocks
    * were dropped still recomputes the same rows).
    */
  private def scan[S: ClassTag](df: DataFrame, orderCols: Seq[String],
      outFields: Seq[StructField], zero: () => S, fold: (S, Row) => S,
      combine: (S, S) => S)(
      emit: (S, S, Iterator[Row]) => Iterator[Row]): DataFrame = {
    require(orderCols.nonEmpty, "GlobalRank needs at least one order column")
    outFields.foreach(f => require(!df.columns.contains(f.name),
      s"GlobalRank appends column '${f.name}' — rename the input's " +
        s"clashing column first (input: ${df.columns.mkString(", ")})"))
    val spark = df.sparkSession
    val parts = spark.conf.get("spark.sql.shuffle.partitions").toInt
    val ranged = df.repartitionByRange(parts, orderCols.map(col): _*)
      .sortWithinPartitions(orderCols.head, orderCols.tail: _*)
      .rdd.persist(StorageLevel.MEMORY_AND_DISK)
    val offsets = ranged
      .mapPartitions(rows => Iterator(rows.foldLeft(zero())(fold)))
      .collect().scanLeft(zero())(combine)
    val bOffsets = spark.sparkContext.broadcast(offsets)
    val out = ranged.mapPartitionsWithIndex((pid, rows) =>
      emit(bOffsets.value(pid), bOffsets.value.last, rows))
    spark.createDataFrame(out, StructType(df.schema.fields ++ outFields))
  }

  /** Append `pr` (percent_rank) and `cd` (cume_dist) of `keyCol` to
    * `df`, computed without a single-partition window: rank = offset +
    * local rank (ties share the rank of their first row) and
    * cume = (offset + end-of-tie-run) / N. */
  def percentCume(df: DataFrame, keyCol: String): DataFrame = {
    val keyIdx = df.schema.fieldIndex(keyCol)
    val keyType = df.schema(keyIdx).dataType
    scan[Long](df, Seq(keyCol),
      Seq(StructField("pr", DoubleType, nullable = false),
        StructField("cd", DoubleType, nullable = false)),
      () => 0L, (n, _) => n + 1, _ + _) { (base, total, rows) =>
      val prDenom = math.max(total - 1L, 1L).toDouble
      // Rows are buffered only within a tie run (rank/cume are per-run
      // constants).
      new Iterator[Row] {
        private var pos = base // global 0-based index of next unread row
        private var run: Array[Row] = Array.empty
        private var runStart = 0L
        private var emitted = 0
        private val buf = rows.buffered
        // Peers are what the range sort itself ties: its ordering treats
        // -0.0 = 0.0 and NaN = NaN, and compares binary and array keys
        // by value, as `cume_dist()`/`percent_rank()` do.
        private val toKey = CatalystTypeConverters.createToCatalystConverter(keyType)
        private val ord = InterpretedOrdering.forSchema(Seq(keyType))
        private def sameKey(a: Row, b: Row): Boolean =
          ord.compare(InternalRow(toKey(a.get(keyIdx))),
            InternalRow(toKey(b.get(keyIdx)))) == 0
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
  }

  /** Append `outCol` = INCLUSIVE running sum of LONG `valueCol` over the
    * global `orderCols` ordering, i.e. a global
    * `sum() OVER (ORDER BY ... ROWS UNBOUNDED PRECEDING)` without the
    * single-partition window. Integer arithmetic throughout, so the
    * result is exact and partition-split independent: unlike tie-run
    * ranks, a prefix sum over a UNIQUE total order doesn't care where
    * range boundaries land — callers must therefore pass orderCols that
    * form a unique key (append a row id) or rows tying on the full key
    * get a stream-order-dependent interleaving (GlobalRankSpec pins
    * window equivalence + partitioning invariance on unique keys). */
  def runningSum(df: DataFrame, orderCols: Seq[String], valueCol: String,
      outCol: String = "cum"): DataFrame =
    runningSums(df, orderCols, Seq(valueCol), Seq(outCol))

  /** Multi-column [[runningSum]]: append one INCLUSIVE running-sum
    * column per LONG `valueCols` entry over the global `orderCols`
    * ordering, in ONE range exchange + ONE offsets pass (round-18 —
    * the eval/stat cumulative sweeps need two or three prefix sums
    * over the same distinct-value grid, and per-column runningSum
    * calls would pay the exchange per column). Same unique-total-order
    * contract as runningSum. */
  def runningSums(df: DataFrame, orderCols: Seq[String],
      valueCols: Seq[String], outCols: Seq[String]): DataFrame = {
    require(valueCols.nonEmpty && valueCols.size == outCols.size,
      s"valueCols/outCols must pair up, got $valueCols vs $outCols")
    valueCols.foreach(c => require(df.schema(c).dataType == LongType,
      s"exact prefix sums need LONG value columns, got " +
        s"${df.schema(c).dataType.simpleString} for '$c'"))
    val vIdx = valueCols.map(df.schema.fieldIndex).toArray
    val k = vIdx.length
    val add: (Array[Long], Row) => Array[Long] = (acc, r) => {
      var c = 0
      while (c < k) { acc(c) += r.getLong(vIdx(c)); c += 1 }
      acc
    }
    scan[Array[Long]](df, orderCols,
      outCols.map(c => StructField(c, LongType, nullable = false)),
      () => new Array[Long](k), add,
      (a, b) => Array.tabulate(k)(c => a(c) + b(c))) { (offset, _, rows) =>
      // the broadcast offset is shared by every task in this JVM
      val acc = offset.clone()
      // snapshot: acc mutates across rows, and a Row must not alias it
      rows.map(r => Row.fromSeq(r.toSeq ++ add(acc, r).clone().toSeq))
    }
  }

  /** Append `outCol` = EXCLUSIVE running MAX of LONG `valueCol` over
    * the global `orderCols` ordering (the max over STRICTLY preceding
    * rows; `Long.MinValue` for the global first row), i.e. a global
    * `max() OVER (ORDER BY ... ROWS BETWEEN UNBOUNDED PRECEDING AND 1
    * PRECEDING)` without the single-partition window. The exclusive
    * form is what dominance tests (sort-filter SKYLINE: keep a row iff
    * no strictly-earlier row beats its value) consume directly.
    * Same unique-total-order contract as runningSum. */
  def runningMaxExclusive(df: DataFrame, orderCols: Seq[String],
      valueCol: String, outCol: String = "prevmax"): DataFrame = {
    require(df.schema(valueCol).dataType == LongType,
      s"exact prefix maxes need a LONG value column, got " +
        s"${df.schema(valueCol).dataType.simpleString} for '$valueCol'")
    val vIdx = df.schema.fieldIndex(valueCol)
    scan[Long](df, orderCols, Seq(StructField(outCol, LongType, nullable = false)),
      () => Long.MinValue, (m, r) => math.max(m, r.getLong(vIdx)),
      (a, b) => math.max(a, b)) { (offset, _, rows) =>
      var acc = offset
      rows.map { r =>
        val prev = acc
        acc = math.max(acc, r.getLong(vIdx))
        Row.fromSeq(r.toSeq :+ prev)
      }
    }
  }
}
