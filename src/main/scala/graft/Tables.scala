package graft

import java.util.concurrent.ConcurrentHashMap

import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** Loaders for the driver-generated parquet fixtures (TESTDATA.md).
  * One parquet file per table; same schemas at every scale factor.
  */
object Tables {
  val names: Seq[String] = Seq("region", "nation", "customer", "supplier",
    "part", "orders", "lineitem", "events", "documents", "embeddings")

  /** Parquet confs whose value changes the schema inference returns
    * (`events` sets nanosAsLong mid-session). */
  private val inferenceConfs = Seq(
    "spark.sql.legacy.parquet.nanosAsLong",
    "spark.sql.parquet.binaryAsString",
    "spark.sql.parquet.int96AsTimestamp",
    "spark.sql.parquet.inferTimestampNTZ.enabled")

  /** What an inferred schema depends on: the path, every file under it
    * as (path, length, modification time), and the inference confs. */
  private final case class SchemaKey(path: String,
      files: Vector[(String, Long, Long)], confs: Seq[Option[String]])

  /** Inferred fixture schemas per session. Sessions are weak keys and
    * the values never reference them, so an entry dies with its session;
    * a stopped session's entry goes at the next call, since Spark itself
    * can keep a stopped session reachable (thread-locals). */
  private val schemas =
    new java.util.WeakHashMap[SparkSession, ConcurrentHashMap[SchemaKey, StructType]]()

  private[graft] def holds(spark: SparkSession): Boolean =
    schemas.synchronized(schemas.containsKey(spark))

  /** A fixture table as a fresh relation: new expression ids on every
    * call (self-joins resolve) and a full scan on every action; no rows
    * are cached.
    *
    * Schema inference (a file listing, a footer read and one Spark job)
    * runs once per session and fixture. Each later call passes the
    * inferred schema to `spark.read.schema(...)`, which starts no job.
    * The fixtures are assumed immutable while a session reads them;
    * a cached schema is reused only while the key is unchanged: the
    * session, the path, each file's length and modification time, and
    * the session's parquet inference confs ([[inferenceConfs]]). Only
    * the fixture dir comes through here; staged and scratch tables,
    * whose paths change within a session, keep `spark.read.parquet`.
    */
  def t(spark: SparkSession, dir: String, name: String): DataFrame = {
    val path = s"$dir/$name.parquet"
    listing(spark, path) match {
      // A missing path: Spark raises its own error.
      case None => spark.read.parquet(path)
      case Some(files) =>
        val key = SchemaKey(path, files, inferenceConfs.map(spark.conf.getOption))
        val cache = schemas.synchronized {
          schemas.keySet.removeIf(_.sparkContext.isStopped)
          schemas.computeIfAbsent(spark, _ => new ConcurrentHashMap[SchemaKey, StructType]())
        }
        Option(cache.get(key)) match {
          case Some(schema) => spark.read.schema(schema).parquet(path)
          case None =>
            val df = spark.read.parquet(path)
            cache.put(key, df.schema)
            df
        }
    }
  }

  /** Every file under `path` (the path itself for a plain file) as
    * (path, length, modification time); None if the path is missing.
    * Plain `FileStatus` calls only: a `LocatedFileStatus` (`listFiles`)
    * asks the local file system for permissions, which forks `ls`. */
  private def listing(spark: SparkSession,
      path: String): Option[Vector[(String, Long, Long)]] = try {
    val p = new Path(path)
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    def files(f: FileStatus): Vector[FileStatus] =
      if (f.isDirectory) fs.listStatus(f.getPath).toVector.flatMap(files)
      else Vector(f)
    Some(files(fs.getFileStatus(p))
      .map(f => (f.getPath.toString, f.getLen, f.getModificationTime)))
  } catch { case _: java.io.FileNotFoundException => None }

  /** FLOOR-division nanos→micros for a LONG nanosecond column — THE one
    * conversion both event loaders share (batch here, streaming in
    * GraftStreams.eventsFromParquetDir). Plain `div` truncates toward
    * zero, which would round pre-epoch (negative) timestamps 1 µs up;
    * integer-only arithmetic because 1e18 ns is past double's 2^53
    * exact range. */
  private[graft] def nanosFloorDivMicros(c: String): Column =
    expr(s"($c - (($c % 1000) + 1000) % 1000) div 1000")

  /** THE epoch-day convention for fixture timestamps, shared by every
    * declared query that buckets by day (cohort, gap fill, binned
    * range join) and mirrored by [[Det.sqlEpochDay]] on the
    * oracle side: cast to µs TIMESTAMP under the UTC-pinned session,
    * epoch millis, integer division to whole days. Fixture timestamps
    * are post-epoch, where `div`'s truncation equals floor; a pre-epoch
    * corpus would need the pmod floor-div treatment
    * [[nanosFloorDivMicros]] documents. */
  def epochDay(colName: String): Column =
    expr(s"unix_millis(cast(`$colName` as timestamp)) div 86400000")

  /** Scale-adaptive fan-out after a narrow-parallelism scan (guide §2.5
    * "input skew: one huge unsplittable file … repartition immediately
    * after the read"). The driver fixtures are ONE parquet file with ONE
    * row group per table, so a scan — and everything Spark fuses into
    * its stage: explodes, the md5-uniform device, tokenizers, partial
    * aggregates — runs on a single task regardless of core count. When
    * the observed scan parallelism is below the session's default
    * parallelism, redistribute by the given key (hash repartition — no
    * sort-before-repartition cost, and a downstream shuffle on the same
    * key is satisfied by this exchange instead of adding its own) or
    * round-robin when no natural key exists. At production scale (files
    * ≥ cores × row groups) the condition fails and this is a NO-OP — the
    * observed-parallelism test, not a tuned constant, carries the scale
    * adaptivity; the fanned shuffle is the projected narrow columns
    * only, a few MB at fixture scale. */
  def fanout(df: DataFrame, by: Column*): DataFrame = {
    val p = df.sparkSession.sparkContext.defaultParallelism
    // Cheap spread test: a file-backed leaf smaller than p × the 4 MB
    // openCostInBytes split floor cannot scan with ≥ p tasks. Read off
    // the ANALYZED plan only — an earlier draft asked the physical plan
    // (df.rdd.getNumPartitions), which forces optimization + physical
    // planning per call per bench pass and cost more than the fanout
    // won on sub-second keys. Non-file leaves (LocalRelation,
    // checkpointed LogicalRDD) never spread — their parallelism was
    // already chosen by whoever materialized them.
    val floorBytes = p.toLong * 4L * 1024 * 1024
    val leaves = df.queryExecution.analyzed.collectLeaves()
    val small = leaves.nonEmpty && leaves.forall {
      case l: org.apache.spark.sql.execution.datasources.LogicalRelation =>
        l.relation match {
          case f: org.apache.spark.sql.execution.datasources.HadoopFsRelation =>
            f.location.sizeInBytes < floorBytes
          case _ => false
        }
      case _ => false
    }
    if (small) {
      if (by.isEmpty) df.repartition(p) else df.repartition(p, by: _*)
    } else df
  }

  /** `documents` with scan-stage fan-out (round-17): tokenization,
    * shingling and hashing otherwise fuse into the single-row-group scan
    * task and run serially at any core count. Keyed by doc_id so a
    * downstream doc-keyed shuffle reuses the exchange; a pushed-down
    * doc_id filter still lands at the scan (PushDownPredicates moves
    * deterministic filters below RepartitionByExpression). */
  def docs(spark: SparkSession, dir: String): DataFrame =
    fanout(t(spark, dir, "documents"), col("doc_id"))

  /** `embeddings` with the same scan-stage fan-out: per-vector math is
    * the heavy map-side work here. */
  def embs(spark: SparkSession, dir: String): DataFrame =
    fanout(t(spark, dir, "embeddings"), col("vec_id"))

  /** `events.ts` has shipped in two parquet encodings across fixture
    * generations: TIMESTAMP(NANOS) (which Spark 4 refuses to read
    * natively — read as raw nanos under the legacy conf and
    * floor-divide to µs) and plain TIMESTAMP(MICROS). The loader
    * branches on the OBSERVED read schema so either generation
    * normalizes to the same µs TIMESTAMP_NTZ (matches DuckDB's naive
    * reading; lossless — no fixture generation carries sub-µs digits).
    *
    * Deliberate side effect: the session keeps nanosAsLong enabled after
    * this call (restoring it mid-plan risks executor-side schema
    * re-conversion under the old conf). Consequence: other NANOS parquet
    * columns read later in the same session surface as LONG nanos —
    * visible in the schema, not silently wrong timestamps.
    */
  def events(spark: SparkSession, dir: String): DataFrame = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val raw = t(spark, dir, "events")
    raw.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        raw.withColumn("ts",
          timestamp_micros(nanosFloorDivMicros("ts")).cast("timestamp_ntz"))
      case _ =>
        raw.withColumn("ts", col("ts").cast("timestamp_ntz"))
    }
  }
}

/** Cross-engine determinism helpers (SURVEY.md §1.3).
  *
  * Money-like fixture columns carry exactly 2 decimal digits, so products of
  * up to three of them carry ≤6: casting to DECIMAL(38,6) is lossless, and
  * decimal SUM is exact — independent of partition merge order (a raw
  * SUM(double) differs in the last ulps between runs and engines, which the
  * driver's hash compare would flag). AVG divides the exact decimal sum by
  * the count in one double division, which is IEEE-deterministic.
  */
object Det {
  val D = "decimal(38,6)"

  /** Exact, order-independent SUM of a money-like double, rounded to 4dp. */
  def dsum(c: Column): Column = round(sum(c.cast(D)), 4).cast("double")

  /** 4dp round of a DOUBLE that is bit-identical to DuckDB's
    * `ROUND(x, 4)`: DuckDB computes `round(x·10⁴)/10⁴` (one extra double
    * multiply), which near an exact decimal tie (e.g. an average landing
    * on …5) can round the opposite way from Spark's BigDecimal-exact
    * `round(x, 4)`. Reproducing the multiply on the Spark side makes both
    * engines take the same branch on every input (both round scale-0
    * half-away-from-zero).
    */
  def r4d(c: Column): Column = round(c * lit(10000.0)) / lit(10000.0)

  /** Order-independent AVG: exact decimal sum, one double division, 4dp. */
  def davg(c: Column): Column =
    r4d(sum(c.cast(D)).cast("double") / count(lit(1)))

  /** Deterministic per-row 4dp round of an exact-decimal-valued double. */
  def r4(c: Column): Column = round(c.cast(D), 4).cast("double")

  /** Loud scale guard for the decimal-EXACT moment keys
    * (`agg_corr_value_hour`, `ts_anomaly_zscore`): their per-group sums
    * deliberately stay at decimal(18,x) so the n·Σv² − (Σv)² numerators
    * fit decimal(38) EXACTLY (widening the sums to 38 would make Spark
    * cap/round the products, losing the exactness the degenerate-group
    * tests rely on). The price is a row-count bound: Σv² is exact only
    * while n·max(|v|)² < 10¹⁴. Past it, a silent NULL (non-ANSI) or
    * throw (ANSI) would diverge from the oracle's HUGEINT sums — so the
    * caller passes the bound as `cond` and every downstream use of n
    * goes through the checked column, turning overflow into an
    * immediate, attributable `raise_error` instead. `when/otherwise`
    * keeps the guard in the value path, so column pruning can't drop
    * it.
    *
    * NULL-safety: a group whose measured column is NULL on every row
    * makes the caller's max/abs statistic NULL, so `cond` evaluates
    * NULL — which must mean "no finite magnitude observed, nothing can
    * overflow", NOT "guard fired". The coalesce keeps such groups on
    * the pass branch (they then flow to the same NULL outputs the
    * oracle produces) instead of aborting the whole query. */
  def checkedN(n: Column, cond: Column, msg: String): Column =
    when(coalesce(cond, lit(true)), n)
      .otherwise(raise_error(lit(msg)).cast("bigint"))

  /** Oracle-side (DuckDB) spelling of [[Tables.epochDay]]: `//` is
    * DuckDB's integer division, truncating like Spark's `div` — equal
    * on the post-epoch fixture domain. */
  def sqlEpochDay(e: String): String = s"epoch_ms($e) // 86400000"

  /** Oracle-side (DuckDB) SQL spellings of the same three helpers. */
  def sqlSum(e: String): String =
    s"CAST(ROUND(SUM(CAST($e AS DECIMAL(38,6))),4) AS DOUBLE)"
  def sqlAvg(e: String): String =
    s"ROUND(CAST(SUM(CAST($e AS DECIMAL(38,6))) AS DOUBLE)/COUNT(*),4)"
  def sqlR4(e: String): String =
    s"CAST(ROUND(CAST($e AS DECIMAL(38,6)),4) AS DOUBLE)"
}
