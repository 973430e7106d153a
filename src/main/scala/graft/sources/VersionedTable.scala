package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Minimal commit-log table format: snapshot-isolated, versioned
  * parquet with manifest-level file statistics — the missing §2 storage
  * face (the ETL family covers merge, CDC, dynamic partition overwrite
  * and snapshot DIFF; this adds "the table AS OF version N" and
  * manifest min/max file pruning), re-expressed with only the pieces
  * Spark ships.
  *
  * Layout:
  * {{{
  *   <root>/data/v<N>-<writer>/part-*.parquet  immutable — one dir/commit
  *   <root>/_commits/<N>.json                  the commit point (link(2))
  * }}}
  *
  * Each manifest records the commit's op (`overwrite` | `append`), its
  * data dir, and per-FILE row counts + min/max of the writer-declared
  * stats columns. Version N's snapshot = the data dirs of the latest
  * overwrite ≤ N plus every append after it up to N — old files are
  * never mutated, so any historical version stays readable (time
  * travel) and a reader holding version N is isolated from later
  * commits by construction.
  *
  * Commit protocol: data files land first in a WRITER-UNIQUE staging
  * dir, then the manifest publishes to `_commits/N.json` via
  * `Files.createLink` — link(2)'s genuine create-new atomicity (NOT
  * rename, which silently replaces on POSIX). The link IS the commit.
  * A racing second writer's link fails (file exists, winner's bytes
  * untouched), so it re-reads the log and retries at N+1:
  * single-table optimistic concurrency, the Delta-style protocol
  * reduced to one primitive. (No multi-table transactions;
  * compaction is [[optimize]].)
  *
  * Scale: manifests are O(files) driver-side metadata — reading the
  * log is a few KB per commit, never a data scan; per-file min/max
  * lets [[prunedRead]] hand the parquet reader ONLY the files whose
  * range overlaps the predicate (the Iceberg/Delta data-skipping
  * trick), which at 100 TB is the difference between opening 40 files
  * and 40,000. Stats are computed in ONE Spark job over the
  * just-written files (`input_file_name()` group-by), not per-file
  * driver loops.
  *
  * FILESYSTEM CONSTRAINT (explicit): manifest IO and the commit
  * primitive use local-filesystem `java.nio` APIs — `Files.createLink`
  * is link(2), which exists only on a POSIX filesystem the DRIVER (and,
  * for [[HistoryDataSource]], every executor) can reach: local disk,
  * or a shared POSIX mount (NFS with proper link semantics). It does
  * NOT run against S3/HDFS-style object stores. Porting = routing
  * manifest IO through Hadoop `FileSystem` and replacing the link(2)
  * commit with the store's conditional-create primitive (HDFS
  * create-no-overwrite, S3 if-none-match PUT) — the protocol's shape
  * (stage uniquely, publish one manifest atomically, loser retries) is
  * unchanged; only the atomic-create primitive is store-specific.
  */
object VersionedTable {

  private val Ops = Set("overwrite", "append", "optimize")

  private def fs(p: String) = java.nio.file.Paths.get(p)

  private[graft] def listVersions(root: String): Seq[Long] = {
    val d = new java.io.File(s"$root/_commits")
    val kids = d.listFiles()
    if (kids == null) Seq.empty
    else kids.map(_.getName)
      .filter(n => n.endsWith(".json") && !n.endsWith(".ckpt.json"))
      .map(_.stripSuffix(".json").toLong).sorted.toSeq
  }

  /** Latest committed version, or -1 for an empty/absent table. */
  def latestVersion(root: String): Long =
    listVersions(root).lastOption.getOrElse(-1L)

  private def esc(s: String): String =
    s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    }

  /** Atomically claim commit slot `attempt` with `manifest`. True =
    * this writer owns the version; false = the slot was already taken
    * (lost race) and the existing manifest is UNTOUCHED. Uses
    * `Files.createLink` — link(2) fails with FileAlreadyExistsException
    * when the target exists, which is genuine create-new atomicity.
    * (`Files.move(…, ATOMIC_MOVE)` is NOT that: POSIX rename(2)
    * silently REPLACES an existing target, so a loser would clobber
    * the winner's manifest — verified on this host, and the round-8
    * review caught the original protocol doing exactly that.)
    * Package-visible so the race branch is unit-testable without a
    * second process. */
  private[graft] def tryPublish(root: String, attempt: Long,
      manifest: String): Boolean = {
    val tmp = fs(s"$root/_commits/.$attempt.${ProcessHandle.current.pid}" +
      s".${Thread.currentThread.getId}.tmp")
    java.nio.file.Files.writeString(tmp, manifest + "\n")
    try {
      java.nio.file.Files.createLink(fs(s"$root/_commits/$attempt.json"), tmp)
      true
    } catch {
      case _: java.nio.file.FileAlreadyExistsException => false
    } finally {
      java.nio.file.Files.deleteIfExists(tmp): Unit
    }
  }

  /** ONE attempt to commit `df` at version `expectedLatest + 1`.
    * Returns the committed version, or -1 if another writer took the
    * slot first (the staged data dir is removed; nothing references
    * it). This is the primitive for read-modify-write transactions
    * ([[merge]]): a caller whose new state DEPENDS on the current
    * snapshot must not blind-retry at N+2 — it must re-read and
    * re-derive, which only the caller can do. Plain [[commit]] (state
    * independent of the log) keeps its internal retry loop. */
  def commitIf(spark: SparkSession, root: String, df: DataFrame, op: String,
      statsCols: Seq[String], expectedLatest: Long): Long = {
    require(Ops(op), s"op must be one of $Ops, got '$op'")
    java.nio.file.Files.createDirectories(fs(s"$root/_commits"))
    val attempt = expectedLatest + 1
    // The staging dir is WRITER-UNIQUE, not keyed by the attempt alone:
    // two racers sharing data/v<N> would have the loser's
    // mode("overwrite") delete the winner's already-committed files
    // out from under its manifest. Uniqueness comes from a per-commit
    // random UUID — NOT pid+tid, which is only unique per host (two
    // writers on different machines sharing the filesystem can collide
    // on pid/tid, and Thread.getId is documented as reusable after
    // thread death). A lost race's uniquely-named dir is deleted
    // below; a crashed writer's orphan is a [[vacuum]] concern, never
    // a correctness one — no manifest references it.
    val writerTag = java.util.UUID.randomUUID.toString
    val dataDir = s"$root/data/v$attempt-$writerTag"
    df.write.mode("overwrite").parquet(dataDir)
    // One job: per-file row counts + min/max of the stats columns.
    val aggs = count(lit(1)).cast("long").as("rows") +:
      statsCols.flatMap(c => Seq(
        min(col(c)).cast("double").as(s"min_$c"),
        max(col(c)).cast("double").as(s"max_$c")))
    val stats = spark.read.parquet(dataDir)
      .groupBy(input_file_name().as("path"))
      .agg(aggs.head, aggs.tail: _*)
      .collect()
    val files = stats.map { r =>
      // A stats column that is all-NULL in a file has NULL min/max —
      // record NO range for it (prunedRead keeps rangeless files
      // conservatively) rather than a fabricated [0.0, 0.0]. NaN is
      // rejected the same way: it has no meaningful order, and bare
      // NaN is not a legal JSON token.
      val mm = statsCols.flatMap { c =>
        val (iMin, iMax) = (r.fieldIndex(s"min_$c"), r.fieldIndex(s"max_$c"))
        if (r.isNullAt(iMin) || r.isNullAt(iMax) ||
            r.getDouble(iMin).isNaN || r.getDouble(iMax).isNaN) None
        else Some(s""""$c":[${r.getDouble(iMin)},${r.getDouble(iMax)}]""")
      }.mkString(",")
      s"""{"path":"${esc(r.getString(0))}","rows":${r.getAs[Long]("rows")},"range":{$mm}}"""
    }.mkString("[", ",", "]")
    val manifest =
      s"""{"version":$attempt,"op":"$op","dir":"${esc(dataDir)}","stats_cols":[${
        statsCols.map(c => s""""${esc(c)}"""").mkString(",")}],"files":$files}"""
    if (tryPublish(root, attempt, manifest)) attempt
    else {
      deleteDirRecursively(new java.io.File(dataDir))
      -1L
    }
  }

  /** Commit `df` as the next version. `statsCols` declares the numeric
    * columns whose per-file min/max land in the manifest (choose the
    * columns queries range-filter on — sort/range-partition the frame
    * by them first so file ranges are tight and pruning bites).
    * Returns the committed version. Retries internally on a lost race
    * — safe because `df` does not depend on the table's own state
    * (use [[commitIf]] / [[merge]] when it does). */
  def commit(spark: SparkSession, root: String, df: DataFrame, op: String,
      statsCols: Seq[String] = Seq.empty): Long = {
    var committed = -1L
    while (committed < 0)
      committed = commitIf(spark, root, df, op, statsCols,
        latestVersion(root))
    committed
  }

  /** Type-1 MERGE (upsert) as a read-modify-write transaction: rows of
    * `updates` REPLACE current rows sharing the same `keys` values;
    * unmatched update rows insert; all other current rows carry over —
    * exactly `updates ∪ (current ⟕anti updates)`, the etl_upsert_type1
    * whole-row semantics composed with the commit protocol.
    *
    * Optimistic concurrency at the TRANSACTION level: the merge is
    * computed against snapshot N and committed with [[commitIf]] at
    * N+1. If another writer got there first, the merged frame is
    * STALE (it does not contain the winner's rows) — a blind slot
    * retry would silently drop them (lost update), so the loop
    * re-reads the new latest and re-derives the merge. Retries are
    * bounded by writer contention, not table size; each retry costs
    * one snapshot read + one write of the merged state.
    *
    * Returns the committed version. */
  def merge(spark: SparkSession, root: String, updates: DataFrame,
      keys: Seq[String], statsCols: Seq[String] = Seq.empty): Long = {
    require(keys.nonEmpty, "merge needs at least one key column")
    var committed = -1L
    while (committed < 0) {
      val expected = latestVersion(root)
      val merged =
        if (expected < 0) updates
        else updates.unionByName(
          readVersion(spark, root, expected).join(updates, keys, "left_anti"))
      committed = commitIf(spark, root, merged, "overwrite", statsCols,
        expected)
    }
    committed
  }

  /** Copy-on-write DELETE: commit a new overwrite version holding
    * every current row NOT matching `cond`. Read-modify-write like
    * [[merge]] — the surviving row set depends on the snapshot it was
    * filtered from, so a lost race re-reads the new latest and
    * re-filters instead of blind-retrying the slot (blind retry could
    * resurrect rows a concurrent committer just added-and-deleted).
    * Deletion is logical for history: older versions still read the
    * rows until [[vacuum]] expires their chain. Returns the committed
    * version. */
  def deleteWhere(spark: SparkSession, root: String,
      cond: org.apache.spark.sql.Column,
      statsCols: Seq[String] = Seq.empty): Long = {
    var committed = -1L
    while (committed < 0) {
      val expected = latestVersion(root)
      require(expected >= 0, s"nothing to delete at $root")
      // DELETE only where cond is TRUE (SQL three-valued logic): a
      // bare !cond maps NULL → NULL and would silently DELETE rows
      // whose predicate columns are NULL — the Delta-style
      // coalesce(cond, false) keeps them.
      val remaining = readVersion(spark, root, expected)
        .filter(!coalesce(cond, lit(false)))
      committed = commitIf(spark, root, remaining, "overwrite", statsCols,
        expected)
    }
    committed
  }

  /** Summary row of one manifest, extracted without a SparkSession. */
  case class ManifestMeta(version: Long, op: String, nFiles: Long,
      nRows: Long)

  /** SparkSession-free manifest summary parser for executor-side
    * readers ([[HistoryDataSource]]'s PartitionReader runs where no
    * session exists). Safe BECAUSE this module wrote the bytes with a
    * fixed grammar (`commit` above): keys appear exactly once per
    * scope, `"rows":` once per file entry. NOT a general JSON parser —
    * the Spark JSON reader path ([[history]]) remains the lenient
    * API. */
  def parseManifestMeta(manifest: String): ManifestMeta = {
    def field(re: scala.util.matching.Regex): String =
      re.findFirstMatchIn(manifest).map(_.group(1)).getOrElse(
        throw new IllegalArgumentException(
          s"not a graft manifest: ${manifest.take(120)}"))
    val rowCounts = "\"rows\":(\\d+)".r.findAllMatchIn(manifest)
      .map(_.group(1).toLong).toSeq
    ManifestMeta(
      field("\"version\":(\\d+)".r).toLong,
      field(s"""\"op\":\"(${Ops.toSeq.sorted.mkString("|")})\"""".r),
      rowCounts.size.toLong, rowCounts.sum)
  }

  private def deleteDirRecursively(f: java.io.File): Unit = {
    val kids = f.listFiles()
    if (kids != null) kids.foreach(deleteDirRecursively)
    f.delete(): Unit
  }

  private case class Manifest(version: Long, op: String, dir: String,
      files: Seq[(String, Long, Map[String, (Double, Double)])])

  /** Checkpoints on disk: `_commits/<N>.ckpt.json`, ascending. */
  private[graft] def listCheckpoints(root: String): Seq[Long] = {
    val d = new java.io.File(s"$root/_commits")
    val kids = d.listFiles()
    if (kids == null) Seq.empty
    else kids.map(_.getName).filter(_.endsWith(".ckpt.json"))
      .map(_.stripSuffix(".ckpt.json").toLong).sorted.toSeq
  }

  /** Write a planning CHECKPOINT at the current latest version N:
    * `_commits/<N>.ckpt.json` holds the snapshot chain's manifests
    * (latest overwrite ≤ N plus appends after it), one manifest per
    * line — the same grammar and Spark-JSON schema as the per-commit
    * files, so the reader needs no second parser. Snapshot planning
    * ([[readVersion]]/[[prunedRead]]) then opens ONE checkpoint file
    * plus only the commits AFTER it — O(delta) instead of an
    * O(commits) log replay, the Delta/Iceberg checkpoint idea on this
    * layout. Published with the same link(2) create-new primitive; a
    * racing duplicate at the same N simply loses (identical content).
    * Returns the checkpointed version. */
  def checkpoint(spark: SparkSession, root: String): Long = {
    val v = latestVersion(root)
    require(v >= 0, s"nothing to checkpoint at $root")
    val lines = snapshot(spark, root, v).map(m =>
      java.nio.file.Files.readString(
        fs(s"$root/_commits/${m.version}.json")).trim)
    val tmp = fs(s"$root/_commits/.$v.ckpt.${
      java.util.UUID.randomUUID}.tmp")
    java.nio.file.Files.writeString(tmp, lines.mkString("", "\n", "\n"))
    try java.nio.file.Files.createLink(
      fs(s"$root/_commits/$v.ckpt.json"), tmp)
    catch { case _: java.nio.file.FileAlreadyExistsException => () }
    finally java.nio.file.Files.deleteIfExists(tmp): Unit
    v
  }

  /** Snapshot expiration + orphan sweep. Retains the last
    * `retainLast` versions: every manifest participating in a
    * RETAINED version's snapshot (which pulls in the overwrite each
    * chain starts from) survives; all other manifests, their data
    * dirs, and checkpoints at dropped versions are deleted. A dir
    * referenced by a just-dropped manifest is known-expired — it is
    * deleted unconditionally, regardless of age. The grace window
    * applies only to dirs referenced by NO manifest at all (a crashed
    * writer's staging — lost races clean up after themselves): those
    * are deleted only when older than `orphanGraceMs`, because a LIVE
    * writer's staging dir is indistinguishable from a crash's — the
    * grace must exceed the longest plausible write (pass 0 only when
    * no writer can be in-flight, e.g. tests).
    *
    * After vacuum: reads at retained versions are byte-identical to
    * before (their chains are intact); a read past retention fails
    * loudly ("no committed version <= v"); [[history]] shows only the
    * retained log. Returns (dropped versions, deleted data dirs). */
  def vacuum(spark: SparkSession, root: String, retainLast: Int,
      orphanGraceMs: Long = 24L * 3600 * 1000): (Seq[Long], Seq[String]) = {
    require(retainLast >= 1, "must retain at least the current version")
    val versions = listVersions(root)
    if (versions.isEmpty) return (Seq.empty, Seq.empty)
    val retained = versions.takeRight(retainLast)
    val keep = retained.flatMap(v =>
      snapshot(spark, root, v).map(_.version)).toSet
    val allManifests = manifests(spark, root, Long.MaxValue)
    val keepDirs = allManifests.filter(m => keep(m.version))
      .map(m => new java.io.File(m.dir).getCanonicalPath).toSet
    // Dirs referenced only by manifests being dropped: known-expired,
    // reclaimed below regardless of age (the grace window is reserved
    // for true orphans no manifest ever referenced).
    val expiredDirs = allManifests.filterNot(m => keep(m.version))
      .map(m => new java.io.File(m.dir).getCanonicalPath)
      .toSet -- keepDirs
    val dropped = versions.filterNot(keep)
    // Manifests first: once the manifest is gone no reader can plan
    // over the dir it referenced, so the dir delete below can't race
    // a NEW read. (A reader already holding the old file list is the
    // documented retention hazard, as in Delta/Iceberg.)
    dropped.foreach { n =>
      java.nio.file.Files.deleteIfExists(fs(s"$root/_commits/$n.json")): Unit
    }
    listCheckpoints(root).filterNot(keep).foreach { n =>
      java.nio.file.Files.deleteIfExists(
        fs(s"$root/_commits/$n.ckpt.json")): Unit
    }
    val now = System.currentTimeMillis
    val dataKids = Option(new java.io.File(s"$root/data").listFiles())
      .getOrElse(Array.empty[java.io.File])
    val deleted = dataKids.filter { d =>
      val cp = d.getCanonicalPath
      !keepDirs(cp) &&
        (expiredDirs(cp) || (now - d.lastModified) >= orphanGraceMs)
    }.map { d => deleteDirRecursively(d); d.getPath }.toSeq
    (dropped, deleted)
  }

  /** Parse the manifests that plan version `v`. Metadata-sized:
    * Spark's JSON reader over the commit files, one collect of
    * O(files) slim rows. With `useCheckpoint` the read starts from the
    * newest checkpoint ≤ v (one multi-line file) plus only the commits
    * after it — the O(delta) snapshot-planning path; without it, the
    * full raw log (the audit face [[history]] wants every commit). */
  private def manifests(spark: SparkSession, root: String,
      v: Long, useCheckpoint: Boolean = false): Seq[Manifest] = {
    val versions = listVersions(root).filter(_ <= v)
    require(versions.nonEmpty, s"no committed version <= $v at $root")
    val ckpt =
      if (useCheckpoint) listCheckpoints(root).filter(_ <= v).lastOption
      else None
    val paths = ckpt match {
      case Some(n) => s"$root/_commits/$n.ckpt.json" +:
        versions.filter(_ > n).map(m => s"$root/_commits/$m.json")
      case None => versions.map(n => s"$root/_commits/$n.json")
    }
    val schema = "version LONG, op STRING, dir STRING, " +
      "stats_cols ARRAY<STRING>, files ARRAY<STRUCT<path: STRING, " +
      "rows: LONG, range: MAP<STRING, ARRAY<DOUBLE>>>>"
    spark.read.schema(schema).json(paths: _*)
      .collect().map { r =>
        // Row accessors hand back RUNTIME collections (mutable
        // ArraySeq / map wrappers) — type them as collection.Seq, not
        // the 2.13 immutable default, or the erased cast blows up at
        // first use.
        val files = r.getSeq[org.apache.spark.sql.Row](4).toSeq.map { f =>
          val ranges =
            Option(f.getMap[String, scala.collection.Seq[Double]](2))
              .map(_.toMap.map { case (k, ab) => k -> (ab(0), ab(1)) })
              .getOrElse(Map.empty[String, (Double, Double)])
          (f.getString(0), f.getLong(1), ranges)
        }
        Manifest(r.getLong(0), r.getString(1), r.getString(2), files)
      }.sortBy(_.version).toSeq
  }

  /** The manifests whose data participates in version `v`'s snapshot:
    * the latest overwrite ≤ v and every append after it. Plans through
    * the newest checkpoint when one exists (a checkpoint's content is
    * itself a snapshot chain, so the overwrite filter composes: any
    * overwrite AFTER the checkpoint supersedes it naturally). */
  private def snapshot(spark: SparkSession, root: String,
      v: Long): Seq[Manifest] = {
    val ms = manifests(spark, root, v, useCheckpoint = true)
    // Both "overwrite" and "optimize" are SNAPSHOT BASES: each rewrote
    // the full content as of its commit, so everything earlier is
    // superseded. "append" layers on top of the nearest base.
    val lastOverwrite = ms.filter(m => m.op == "overwrite" || m.op == "optimize")
      .lastOption.map(_.version).getOrElse(0L)
    ms.filter(_.version >= lastOverwrite)
  }

  /** The table AS OF version `v` — time travel. */
  def readVersion(spark: SparkSession, root: String, v: Long): DataFrame = {
    val dirs = snapshot(spark, root, v).map(_.dir)
    spark.read.parquet(dirs: _*)
  }

  def readLatest(spark: SparkSession, root: String): DataFrame =
    readVersion(spark, root, latestVersion(root))

  /** Version history as a DataFrame (version, op, n_files, n_rows) —
    * answered from manifests alone, zero data I/O. */
  def history(spark: SparkSession, root: String): DataFrame = {
    import spark.implicits._
    manifests(spark, root, Long.MaxValue)
      .map(m => (m.version, m.op, m.files.size.toLong,
        m.files.map(_._2).sum))
      .toDF("version", "op", "n_files", "n_rows")
  }

  /** Per-file (path, min, max) of `column` in version `v`'s snapshot —
    * the manifest's recorded ranges, pure metadata (no data I/O).
    * Files without a recorded range for `column` are absent here
    * (prunedRead keeps them conservatively). */
  def fileRangesFor(spark: SparkSession, root: String, v: Long,
      column: String): Seq[(String, Double, Double)] =
    snapshot(spark, root, v).flatMap(_.files).collect {
      case (path, _, ranges) if ranges.contains(column) =>
        (path, ranges(column)._1, ranges(column)._2)
    }

  /** Manifest-pruned read of version `v`: hand the reader only the
    * files whose recorded [min, max] of `column` overlaps [lo, hi],
    * with the exact predicate kept as a residual (stats admit, the
    * filter confirms — pruning can only SKIP files, never change the
    * answer). Files with no recorded range for `column` are
    * conservatively kept. Returns the frame and the chosen file list
    * (observability + the spec's files-skipped pin). */
  def prunedRead(spark: SparkSession, root: String, v: Long, column: String,
      lo: Double, hi: Double): (DataFrame, Seq[String]) = {
    require(lo <= hi, s"empty range [$lo, $hi]")
    val files = snapshot(spark, root, v).flatMap(_.files)
    val chosen = files.collect {
      case (path, _, ranges) if ranges.get(column)
        .forall { case (mn, mx) => mx >= lo && mn <= hi } => path
    }
    val df =
      if (chosen.isEmpty)
        readVersion(spark, root, v).limit(0)
      else spark.read.parquet(chosen: _*)
    (df.filter(col(column) >= lo && col(column) <= hi), chosen)
  }

  /** OPTIMIZE — compaction AS A COMMIT (§2.83): rewrite the current
    * snapshot's (possibly many small) data files into `targetFiles`
    * RANGE-CLUSTERED files on `clusterCol` (repartitionByRange + a
    * within-partition sort → tight, non-overlapping per-file min/max
    * in the manifest, so [[prunedRead]] bites maximally), committed
    * through the [[commitIf]] read-modify-write loop — a lost race
    * re-reads the new latest and re-clusters it, because blindly
    * retrying would resurrect the pre-race content and drop the
    * winner's rows.
    *
    * The commit carries op "optimize", which [[snapshot]] treats as a
    * base exactly like an overwrite: readers at the NEW version plan
    * only the compacted files; readers pinned at any OLD version
    * still plan against the old manifests and old (immutable) files —
    * compaction is invisible to time travel until [[vacuum]] expires
    * the superseded chain. Row content is BY CONSTRUCTION unchanged
    * (the declared key's oracle is the pre-compaction table).
    *
    * Stats columns default to the cluster column (the point of
    * clustering is range pruning on it); pass `statsCols` to record
    * more. Returns the committed version. */
  def optimize(spark: SparkSession, root: String, clusterCol: String,
      targetFiles: Int, statsCols: Seq[String] = Seq.empty): Long = {
    require(targetFiles > 0, s"targetFiles must be positive: $targetFiles")
    var committed = -1L
    while (committed < 0) {
      val expected = latestVersion(root)
      require(expected >= 0, s"nothing to optimize at $root")
      val clustered = readVersion(spark, root, expected)
        .repartitionByRange(targetFiles, col(clusterCol))
        .sortWithinPartitions(clusterCol)
      committed = commitIf(spark, root, clustered, "optimize",
        if (statsCols.isEmpty) Seq(clusterCol) else statsCols, expected)
    }
    committed
  }
}
