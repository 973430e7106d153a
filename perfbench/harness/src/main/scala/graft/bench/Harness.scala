package graft.bench

import java.io.File
import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.execution.{SparkPlan, WholeStageCodegenExec, InputAdapter}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.Exchange
import org.apache.spark.sql.execution.window.WindowExec
import org.apache.spark.sql.types.StructType

import graft.{GraftSession, SparkEntry, Tables}

/** Closed-loop, one-client benchmark of declared keys in one JVM.
  *
  * Each key runs as `construct → plan → action` (or `construct → plan →
  * sink` for the load workload), then the session's block hygiene. Every
  * layer is timed from outside, around calls into the engine's public
  * functions. Writes `result.json` (and `spans.jsonl` when traced) to
  * `--out`; `perfbench/run.py` turns them into metrics.
  *
  * Usage: Harness --list (prints every declared key), or
  *   Harness --keys FILE --data DIR --out DIR [--seed N] [--passes N]
  *     [--setups N] [--warm-passes N] [--trace 0|1] [--pairs 0|1]
  *     [--sink 0|1] [--check 0|1] [--cpus N]
  *     [--inject-throw KEY] [--inject-wrong KEY]
  */
object Harness {
  type Build = (SparkSession, String) => DataFrame

  final case class Args(keys: Seq[String], data: String, out: File,
      seed: Long, passes: Int, setups: Int, warmPasses: Int,
      trace: Boolean, sink: Boolean, check: Boolean, pairs: Boolean,
      cpus: Int, injectThrow: Option[String], injectWrong: Option[String])

  def parse(argv: Array[String]): Args = {
    val m = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    def req(k: String) = m.getOrElse(k, sys.error(s"missing --$k"))
    val keys = Files.readAllLines(Paths.get(req("keys"))).asScala
      .map(_.trim).filter(l => l.nonEmpty && !l.startsWith("#")).toList
    Args(keys, req("data"), new File(req("out")),
      m.getOrElse("seed", "1").toLong, m.getOrElse("passes", "2").toInt,
      m.getOrElse("setups", "3").toInt, m.getOrElse("warm-passes", "0").toInt,
      m.getOrElse("trace", "0") == "1",
      m.getOrElse("sink", "0") == "1", m.getOrElse("check", "1") == "1",
      m.getOrElse("pairs", "1") == "1",
      m.getOrElse("cpus", Runtime.getRuntime.availableProcessors.toString).toInt,
      m.get("inject-throw"), m.get("inject-wrong"))
  }

  /** Each key's build function (`*` = every declared key), optionally
    * replaced by a failing one (the benchmark's own failure-accounting
    * tests use this). The wrong one is right on its first call and, like
    * a stale session cache, returns as many rows with one of them
    * replaced on every later call. */
  def builds(a: Args): Seq[(String, Build)] = {
    val q = SparkEntry.queries
    val keys = if (a.keys == Seq("*")) q.keys.toSeq.sorted else a.keys
    val missing = keys.filterNot(q.contains)
    require(missing.isEmpty, s"keys not in SparkEntry.queries: ${missing.mkString(",")}")
    keys.map { k =>
      val f = q(k)
      val g: Build =
        if (a.injectThrow.contains(k)) (_, _) => throw new IllegalStateException(s"injected failure in $k")
        else if (a.injectWrong.contains(k)) {
          var calls = 0
          (s, d) => {
            calls += 1
            val df = f(s, d)
            if (calls == 1) df else df.limit(df.count().toInt - 1).unionAll(df.limit(1))
          }
        } else f
      k -> g
    }
  }

  def main(argv: Array[String]): Unit = {
    if (argv.sameElements(Array("--list"))) {
      SparkEntry.queries.keys.toSeq.sorted.foreach(println)
      return
    }
    val a = parse(argv)
    val fns = builds(a)
    a.out.mkdirs()
    new Harness(a, fns).run()
  }

  private[bench] def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) 0.0 else if (s.size % 2 == 1) s(s.size / 2)
    else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  private[bench] def dirStats(f: File): (Long, Long) =
    if (!f.exists()) (0L, 0L)
    else if (f.isFile) (1L, f.length())
    else Option(f.listFiles()).getOrElse(Array.empty[File]).map(dirStats)
      .foldLeft((0L, 0L)) { case ((n, b), (n2, b2)) => (n + n2, b + b2) }

  /** Minimal JSON rendering for the harness's own records. */
  object J {
    def s(v: String): String = "\"" + v.flatMap {
      case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"
      case '\r' => "\\r"; case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    def n(v: Double): String =
      if (v.isNaN || v.isInfinite) "null" else java.lang.Double.toString(v)
    def obj(kv: Iterable[(String, String)]): String =
      kv.map { case (k, v) => s(k) + ":" + v }.mkString("{", ",", "}")
    def arr(vs: Iterable[String]): String = vs.mkString("[", ",", "]")
  }
}

final class Harness(a: Harness.Args, fns: Seq[(String, Harness.Build)]) {
  import Harness._

  private val trace = new Trace
  private val spanKey = mutable.Map.empty[Long, String]
  private var spark: SparkSession = _
  private var listener: LayerListener = _
  private val listeners = mutable.ArrayBuffer.empty[LayerListener]
  private val appIds = mutable.ArrayBuffer.empty[String]
  private val runDir = a.out.getAbsoluteFile
  private val checkpointRoot = new File(runDir, "checkpoints")
  private val checkDir = new File(runDir, "check")
  private val sinkDir = new File(runDir, "sink")
  /** Each key's rows from the latest action pass, for the oracle compare. */
  private val lastRows = mutable.LinkedHashMap.empty[String, (StructType, Array[Row])]

  private def sec(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  /** The engine's harness session (mirrors graft.Bench), with every
    * directory the benchmark controls placed under the run directory. */
  private def startSession(): Double = {
    val t0 = System.nanoTime()
    spark = SparkSession.builder()
      .master(s"local[${a.cpus}]")
      .config("spark.sql.shuffle.partitions", a.cpus.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", new File(runDir, "spark-local").getPath)
      .config("spark.sql.warehouse.dir", new File(runDir, "warehouse").getPath)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val app = spark.sparkContext.applicationId
    appIds += app
    spark.sparkContext.setCheckpointDir(new File(checkpointRoot, app).getPath)
    GraftSession.ensureCheckpointDir(spark)
    GraftSession.applyRuntimeTuning(spark)
    graft.plans.TopKPushdown.install(spark)
    if (a.trace) {
      listener = new LayerListener(trace, id => spanKey.synchronized(spanKey.getOrElse(id, "")))
      listeners += listener
      spark.sparkContext.addSparkListener(listener)
    }
    sec(t0)
  }

  private def stopSession(): Unit = {
    spark.stop() // drains the listener bus
    spark = null
  }

  /** Where ScanQueries stages its build-once layouts for this session. */
  private def stagingRoot: File =
    new File(s"/tmp/graft_scratch/${spark.sparkContext.applicationId}")

  // ---- spans ---------------------------------------------------------

  private final class Open(val id: Long, val parent: Long, val name: String,
      val key: String, val startUs: Long, val t0: Long)

  private def open(name: String, key: String, parent: Long): Open = {
    val id = trace.newId()
    if (a.trace) spanKey.synchronized(spanKey(id) = key)
    new Open(id, parent, name, key, trace.nowUs(), System.nanoTime())
  }

  private def close(o: Open, traced: Boolean): Double = {
    val s = sec(o.t0)
    if (traced) trace.add(Span(o.id, o.parent, o.name, o.key, o.startUs, trace.nowUs()))
    s
  }

  /** Time `body` as phase `name` of a key; jobs it starts are tagged. */
  private def phase[T](name: String, key: String, parent: Long, traced: Boolean,
      rec: mutable.Map[String, String])(body: => T): T = {
    val o = open(name, key, parent)
    if (traced) spark.sparkContext.setLocalProperty(Trace.SpanProp, o.id.toString)
    try body
    finally {
      if (traced) spark.sparkContext.setLocalProperty(Trace.SpanProp, null)
      rec(s"${name}_s") = J.n(close(o, traced))
      rec(s"${name}_span") = o.id.toString
    }
  }

  // ---- one key -------------------------------------------------------

  /** Every operator of the plan the planner produced, subqueries
    * included: an adaptive plan counts as its initial plan. The load
    * workload's write re-plans the query, so the executed plan's final
    * adaptive form is not the one the write runs; the initial plan is
    * the same on both workloads and does not depend on runtime stats. */
  private def operators(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => operators(a.initialPlan)
    case _ =>
      val own = p match {
        case _: QueryStageExec | _: WholeStageCodegenExec | _: InputAdapter => Nil
        case _ => Seq(p)
      }
      own ++ p.children.flatMap(operators) ++ p.subqueries.flatMap(operators)
  }

  private def planShape(df: DataFrame): Seq[(String, String)] = {
    val qe = df.queryExecution
    val nodes = operators(qe.executedPlan)
    def count(f: SparkPlan => Boolean) = nodes.count(f).toString
    val phases = qe.tracker.phases
    def ms(p: String) = J.n(phases.get(p).map(_.durationMs.toDouble).getOrElse(0.0))
    Seq(
      "nodes" -> nodes.size.toString,
      "exchanges" -> count(_.isInstanceOf[Exchange]),
      "unpartitioned_windows" -> count {
        case w: WindowExec => w.partitionSpec.isEmpty
        case _ => false
      },
      "rdd_scans" -> count(_.getClass.getSimpleName.contains("RDDScan")),
      "topk_nodes" -> count(p => p.getClass.getSimpleName.contains("TakeOrdered") ||
        p.getClass.getSimpleName.contains("TopK")),
      "analysis_ms" -> ms("analysis"),
      "optimize_ms" -> ms("optimization"),
      "physical_ms" -> ms("planning"))
  }

  /** Runs one key. `mode` is "action" (collect the rows) or "sink" (write
    * them as the load step). Returns the key's record; a key that throws
    * is marked failed and its time is kept out of every timing. */
  private def runKey(key: String, fn: Build, mode: String, traced: Boolean,
      parent: Long): mutable.Map[String, String] = {
    val rec = mutable.LinkedHashMap[String, String]("key" -> J.s(key))
    val ks = open("key", key, parent)
    var df: DataFrame = null
    val t0 = System.nanoTime()
    val ok = try {
      df = phase("construct", key, ks.id, traced, rec)(fn(spark, a.data))
      phase("plan", key, ks.id, traced, rec)(df.queryExecution.executedPlan)
      mode match {
        case "action" =>
          val rows = phase("action", key, ks.id, traced, rec)(df.collect())
          rec("rows") = rows.length.toString
          if (a.check) lastRows(key) = (df.schema, rows)
        case "sink" =>
          val dir = new File(sinkDir, key)
          phase(mode, key, ks.id, traced, rec) {
            df.coalesce(1).write.mode("overwrite").parquet(dir.getPath)
          }
          rec("files") = Option(dir.listFiles()).getOrElse(Array.empty[File])
            .count(_.getName.endsWith(".parquet")).toString
          rec("bytes") = dirStats(dir)._2.toString
      }
      true
    } catch {
      case e: Throwable =>
        rec("error") = J.s(s"${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(500)}")
        false
    }
    rec("t_s") = J.n(sec(t0))
    rec("ok") = ok.toString
    if (traced && ok) planShape(df).foreach { case (k, v) => rec(k) = v }
    phase("hygiene", key, ks.id, traced, rec) {
      val blocks = spark.sparkContext.getPersistentRDDs.size +
        (if (spark.sharedState.cacheManager.isEmpty) 0 else 1)
      GraftSession.dropLeftoverBlocks(spark)
      rec("blocks_dropped") = blocks.toString
    }
    rec("key_span") = ks.id.toString
    close(ks, traced)
    rec
  }

  // ---- passes --------------------------------------------------------

  private def order(pass: Int): Seq[(String, Build)] =
    new scala.util.Random(a.seed * 1000003L + pass).shuffle(fns)

  /** One pass over every key, in the seed's order for this pass. Key
    * spans hang off `root`, the run span. */
  private def runPass(pass: Int, mode: String, traced: Boolean, root: Long): String = {
    if (listener != null) listener.enabled = traced
    lastRows.clear()
    val (cf0, cb0) = dirStats(checkpointRoot)
    val t0 = System.nanoTime()
    val recs = order(pass).map { case (k, f) => runKey(k, f, mode, traced, root) }
    val wall = sec(t0)
    val (cf1, cb1) = dirStats(checkpointRoot)
    if (listener != null) listener.enabled = false
    J.obj(Seq(
      "pass" -> pass.toString, "mode" -> J.s(mode), "traced" -> traced.toString,
      "wall_s" -> J.n(wall),
      "checkpoint_files" -> (cf1 - cf0).toString,
      "checkpoint_bytes" -> (cb1 - cb0).toString,
      "keys" -> J.arr(recs.map(r => J.obj(r)))))
  }

  // ---- floor row -----------------------------------------------------

  /** Fixed per-call costs of Spark itself under this session, so host
    * drift inside a run is visible next to the run's numbers. */
  private def floor(): String = {
    def ms(n: Int)(f: => Any): String = J.n(median((1 to n).map { _ =>
      val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e6
    }))
    val sc = spark.sparkContext
    val row = Seq(
      "sql_job_ms" -> ms(3)(spark.range(1).count()),
      "rdd_job_ms" -> ms(3)(sc.parallelize(Seq(1), 1).count()),
      "parquet_resolve_ms" -> ms(3)(spark.read.parquet(s"${a.data}/lineitem.parquet").schema),
      "local_checkpoint_ms" -> ms(3)(spark.range(10).localCheckpoint(true)),
      "reliable_checkpoint_ms" -> ms(3)(spark.range(10).checkpoint(true)))
    GraftSession.dropLeftoverBlocks(spark)
    J.obj(row)
  }

  /** Median cost of one `Tables.t` resolution over the fixture tables. */
  private def tablesResolveMs(): Double = median(Tables.names.map { t =>
    val t0 = System.nanoTime()
    Tables.t(spark, a.data, t).schema
    (System.nanoTime() - t0) / 1e6
  })

  // ---- run -----------------------------------------------------------

  def run(): Unit = {
    val timedMode = if (a.sink) "sink" else "action"
    val setups = mutable.ArrayBuffer.empty[String]
    for (i <- 1 to a.setups) {
      if (spark != null) stopSession()
      val t0 = System.nanoTime()
      val startS = startSession()
      val t1 = System.nanoTime()
      val warm = runPass(-i, timedMode, traced = false, 0)
      val warmS = sec(t1)
      val (sf, sb) = dirStats(stagingRoot)
      setups += J.obj(Seq("start_s" -> J.n(startS), "warm_s" -> J.n(warmS),
        "total_s" -> J.n(sec(t0)), "staging_files" -> sf.toString,
        "staging_bytes" -> sb.toString, "warm" -> warm))
    }
    if (spark == null) startSession()
    // JIT warm-up: a fixed number of untimed passes, so every run's
    // timed passes start from the same amount of work done in the JVM
    // (passes keep speeding up for well over a minute; a warm-up by
    // wall time would do less work on a slower host and read slower).
    val warmups = (1 to a.warmPasses)
      .map(i => runPass(-100 - i, timedMode, traced = false, 0)).toList
    val floorStart = floor()
    // A traced run alternates untraced and traced passes (unless --pairs 0),
    // so the tracing overhead is measured inside one JVM.
    val root = open("run", "", 0)
    val passes = (0 until a.passes).flatMap { p =>
      if (a.trace && !a.pairs) Seq(runPass(p, timedMode, traced = true, root.id))
      else if (a.trace) Seq(runPass(2 * p, timedMode, traced = false, root.id),
        runPass(2 * p + 1, timedMode, traced = true, root.id))
      else Seq(runPass(p, timedMode, traced = false, root.id))
    }
    close(root, a.trace)
    val floorEnd = floor()
    // The oracle compare reads the last timed pass's results: the load
    // workload's sink output, or here the rows the last action returned.
    if (a.check && !a.sink) lastRows.foreach { case (k, (schema, rows)) =>
      spark.createDataFrame(rows.toSeq.asJava, schema).coalesce(1)
        .write.mode("overwrite").parquet(new File(checkDir, k).getPath)
    }
    val resolveMs = if (a.trace) tablesResolveMs() else 0.0
    val app = spark.sparkContext.applicationId
    stopSession()
    val counters = listeners.flatMap(_.counters).map { case (span, c) =>
      J.obj(Seq("span" -> span.toString, "jobs" -> c.jobs.toString,
        "stages" -> c.stages.toString, "tasks" -> c.tasks.toString,
        "task_failures" -> c.taskFailures.toString, "run_ms" -> c.runMs.toString,
        "cpu_ns" -> c.cpuNs.toString, "gc_ms" -> c.gcMs.toString,
        "wait_ms" -> c.waitMs.toString, "shuffle_write" -> c.shuffleWrite.toString,
        "shuffle_read" -> c.shuffleRead.toString, "spill" -> c.spill.toString,
        "input_rows" -> c.inputRows.toString, "input_bytes" -> c.inputBytes.toString,
        "output_rows" -> c.outputRows.toString,
        "stage_skew" -> J.arr(c.stageSkew.map(J.n))))
    }
    val oracle = SparkEntry.oracleSql
    val result = J.obj(Seq(
      "keys" -> J.arr(fns.map(k => J.s(k._1))), "seed" -> a.seed.toString,
      "cpus" -> a.cpus.toString, "app" -> J.s(app),
      "app_ids" -> J.arr(appIds.map(J.s)),
      "staging_root" -> J.s("/tmp/graft_scratch"),
      "setups" -> J.arr(setups), "warmups" -> warmups.size.toString,
      "floor_start" -> floorStart,
      "floor_end" -> floorEnd, "tables_resolve_ms" -> J.n(resolveMs),
      "passes" -> J.arr(passes), "counters" -> J.arr(counters),
      "oracle" -> J.obj(fns.flatMap { case (k, _) => oracle.get(k).map(v => k -> J.s(v)) })))
    Files.writeString(new File(runDir, "result.json").toPath, result)
    if (a.trace) {
      val lines = trace.spans.map(s => J.obj(Seq("id" -> s.id.toString,
        "parent" -> s.parent.toString, "name" -> J.s(s.name), "key" -> J.s(s.key),
        "start_us" -> s.startUs.toString, "end_us" -> s.endUs.toString)))
      Files.writeString(new File(runDir, "spans.jsonl").toPath, lines.mkString("", "\n", "\n"))
    }
  }
}
