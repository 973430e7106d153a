package graft.bench

import java.util.concurrent.atomic.AtomicLong
import scala.collection.mutable

import org.apache.spark.scheduler._

/** One timed interval of the traced run. Times are epoch microseconds so
  * the harness's own spans and Spark's job/stage events share one clock.
  * `parent` 0 marks the root. Every span below a key carries the key. */
final case class Span(id: Long, parent: Long, name: String, key: String,
    startUs: Long, endUs: Long)

/** In-memory span store; written out once, when the run ends. */
final class Trace {
  private val ids = new AtomicLong(1)
  private val baseUs = System.currentTimeMillis() * 1000
  private val baseNs = System.nanoTime()
  private val buf = mutable.ArrayBuffer.empty[Span]

  def newId(): Long = ids.getAndIncrement()
  def nowUs(): Long = baseUs + (System.nanoTime() - baseNs) / 1000
  def add(s: Span): Unit = synchronized { buf += s }
  def spans: Seq[Span] = synchronized { buf.toList }
}

object Trace {
  /** Thread-local Spark property naming the harness span that is active
    * when a job starts. Spark copies it into the job's properties, also
    * for jobs launched from its own broadcast/subquery threads. */
  val SpanProp = "perfbench.span"
}

/** Spark execution counters, summed per harness span. */
final class Counters {
  var jobs, stages, tasks, taskFailures = 0L
  var runMs, cpuNs, gcMs, waitMs = 0L
  var shuffleWrite, shuffleRead, spill, inputRows, inputBytes = 0L
  var outputRows = 0L
  /** max ÷ median task run time of each finished stage with ≥ 2 tasks */
  val stageSkew = mutable.ArrayBuffer.empty[Double]
}

/** Attributes every job, stage and task to the harness span that was
  * active when its job started, and records job and stage spans under
  * it. Only attached in traced runs; `enabled` gates the untraced passes
  * of a traced run. Spark delivers events asynchronously, so the harness
  * reads `counters` only after the session has stopped (which drains the
  * listener bus). */
final class LayerListener(trace: Trace, keyOf: Long => String)
    extends SparkListener {
  @volatile var enabled = false
  val counters = mutable.Map.empty[Long, Counters]
  // jobId -> (phase span, job span, start ms); stageId -> (phase span, job span)
  private val jobs = mutable.Map.empty[Int, (Long, Long, Long)]
  private val stages = mutable.Map.empty[Int, (Long, Long)]
  private val stageRuns = mutable.Map.empty[Int, mutable.ArrayBuffer[Long]]

  private def c(span: Long) = counters.getOrElseUpdate(span, new Counters)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val prop = Option(e.properties).flatMap(p => Option(p.getProperty(Trace.SpanProp)))
    if (enabled) prop.foreach { s =>
      val phase = s.toLong
      val jobSpan = trace.newId()
      jobs(e.jobId) = (phase, jobSpan, e.time)
      e.stageIds.foreach(id => if (!stages.contains(id)) stages(id) = (phase, jobSpan))
      c(phase).jobs += 1
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.remove(e.jobId).foreach { case (phase, jobSpan, startMs) =>
      trace.add(Span(jobSpan, phase, s"job ${e.jobId}", keyOf(phase),
        startMs * 1000, e.time * 1000))
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val info = e.stageInfo
    stages.get(info.stageId).foreach { case (phase, jobSpan) =>
      val cs = c(phase)
      cs.stages += 1
      stageRuns.remove(info.stageId).filter(_.size >= 2).foreach { runs =>
        val sorted = runs.sorted
        val med = math.max(1L, sorted(sorted.size / 2))
        cs.stageSkew += sorted.last.toDouble / med
      }
      for (s <- info.submissionTime; f <- info.completionTime)
        trace.add(Span(trace.newId(), jobSpan, s"stage ${info.stageId}",
          keyOf(phase), s * 1000, f * 1000))
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    stages.get(e.stageId).foreach { case (phase, _) =>
      val cs = c(phase)
      cs.tasks += 1
      if (!e.taskInfo.successful) cs.taskFailures += 1
      val m = e.taskMetrics
      if (m != null) {
        cs.runMs += m.executorRunTime
        cs.cpuNs += m.executorCpuTime
        cs.gcMs += m.jvmGCTime
        // Scheduler wait: the task's wall time not spent deserializing,
        // running or serializing its result.
        cs.waitMs += math.max(0L, e.taskInfo.duration - m.executorRunTime -
          m.executorDeserializeTime - m.resultSerializationTime)
        cs.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        cs.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        cs.spill += m.diskBytesSpilled
        cs.inputRows += m.inputMetrics.recordsRead
        cs.inputBytes += m.inputMetrics.bytesRead
        cs.outputRows += m.outputMetrics.recordsWritten
        stageRuns.getOrElseUpdate(e.stageId, mutable.ArrayBuffer.empty) +=
          m.executorRunTime
      }
    }
  }
}
