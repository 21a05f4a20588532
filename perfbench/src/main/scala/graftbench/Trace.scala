package graftbench

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** Wall-clock reader shared by spans and Spark events: epoch
  * milliseconds (the clock Spark stamps its listener events with),
  * refined with `nanoTime` so short spans keep sub-millisecond digits.
  */
object Clock {
  private val baseMs = System.currentTimeMillis()
  private val baseNs = System.nanoTime()
  def ms(): Double = baseMs + (System.nanoTime() - baseNs) / 1e6
}

/** One traced interval: a run, a pass, a query, a build or execute
  * phase, or one call into `sources/`.
  */
final case class Span(id: Long, name: String, parent: Long, runId: String,
                      startMs: Double, var endMs: Double = Double.NaN)

/** In-memory span recorder. The innermost open span's id is published
  * as a Spark local property, so every job a span submits (also from
  * threads it starts) carries the id in its `JobStart` properties.
  * When disabled, `apply` only runs the body.
  */
final class Spans(sc: SparkContext, val runId: String, val enabled: Boolean) {
  val all = mutable.ArrayBuffer[Span]()
  private var stack = List.empty[Span]
  private var nextId = 1L

  def apply[A](name: String)(body: => A): A = {
    if (!enabled) return body
    val s = Span(nextId, name, stack.headOption.map(_.id).getOrElse(0L), runId, Clock.ms())
    nextId += 1
    all += s
    stack = s :: stack
    sc.setLocalProperty(Spans.Key, s.id.toString)
    try body
    finally {
      s.endMs = Clock.ms()
      stack = stack.tail
      sc.setLocalProperty(Spans.Key, stack.headOption.map(_.id.toString).orNull)
    }
  }
}

object Spans { val Key = "graftbench.span" }

/** Block-manager storage held by the session, from block update
  * events: memory plus disk bytes of every live block (cached and
  * checkpointed RDD partitions, broadcast pieces). Tracks the running
  * total, its peak since the last `mark`, and RDD-block churn. It is
  * registered for every pass, traced or not, so its running total
  * never misses a block.
  */
final class BlockTracker extends SparkListener {
  private val sizes = mutable.HashMap[String, Long]()
  private var total = 0L
  private var start = 0L
  private var peak = 0L
  private var rddCreated = 0L
  private var rddBytesCreated = 0L
  private var rddReleased = 0L

  override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = synchronized {
    val info = e.blockUpdatedInfo
    val id = info.blockId
    val size = if (info.storageLevel.isValid) info.memSize + info.diskSize else 0L
    val prev = sizes.getOrElse(id.name, 0L)
    if (size == 0L) sizes.remove(id.name) else sizes(id.name) = size
    total += size - prev
    peak = math.max(peak, total)
    if (id.isRDD) {
      if (prev == 0L && size > 0L) { rddCreated += 1; rddBytesCreated += size }
      if (prev > 0L && size == 0L) rddReleased += 1
    }
  }

  /** Restart peak and churn counting from the current level. */
  def mark(): Unit = synchronized {
    start = total; peak = total; rddCreated = 0; rddBytesCreated = 0; rddReleased = 0
  }

  /** Storage since the last `mark`. */
  def read(): BlockTracker.Storage = synchronized {
    BlockTracker.Storage(start, total, peak, rddCreated, rddBytesCreated, rddReleased)
  }
}

object BlockTracker {
  /** Bytes at mark, now and at the peak between; RDD blocks created
    * (and their bytes) and released since the mark. */
  final case class Storage(start: Long, end: Long, peak: Long, rddCreated: Long,
                           rddBytesCreated: Long, rddReleased: Long)
}

/** Job, stage, task and Catalyst-phase records for the traced run.
  * Jobs are tied to the span that submitted them through the span
  * local property; query executions are tied to spans later, by the
  * time their analysis phase started.
  */
final class TraceListener extends SparkListener with QueryExecutionListener {
  final case class Job(id: Int, span: Long, startMs: Long, var endMs: Long,
                       stages: Seq[Int], callSite: String, details: String)
  final class StageAgg {
    var tasks = 0L; var runMs = 0L; var inputBytes = 0L
    var shuffleWrite = 0L; var shuffleRead = 0L; var spill = 0L
    var completed = false
  }
  final case class Qe(funcName: String, startMs: Long, analysisMs: Long,
                      optimizationMs: Long, planningMs: Long, ok: Boolean)

  val jobs = mutable.LinkedHashMap[Int, Job]()
  val stages = mutable.HashMap[Int, StageAgg]()
  val qes = mutable.ArrayBuffer[Qe]()

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val span = Option(e.properties).flatMap(p => Option(p.getProperty(Spans.Key)))
      .map(_.toLong).getOrElse(0L)
    // the result stage carries the job's call site: short form as its
    // name, the submitting stack as its details
    val result = e.stageInfos.maxBy(_.stageId)
    jobs(e.jobId) = Job(e.jobId, span, e.time, -1L, e.stageIds, result.name, result.details)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach(_.endMs = e.time)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    stages.getOrElseUpdate(e.stageInfo.stageId, new StageAgg).completed = true
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val a = stages.getOrElseUpdate(e.stageId, new StageAgg)
    a.tasks += 1
    val m = e.taskMetrics
    if (m != null) {
      a.runMs += m.executorRunTime
      a.inputBytes += m.inputMetrics.bytesRead
      a.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      a.shuffleRead += m.shuffleReadMetrics.totalBytesRead
      a.spill += m.memoryBytesSpilled + m.diskBytesSpilled
    }
  }

  private def record(funcName: String, qe: QueryExecution, ok: Boolean): Unit = synchronized {
    val ph = qe.tracker.phases
    def d(p: String): Long = ph.get(p).map(_.durationMs).getOrElse(0L)
    val start = ph.get("analysis").orElse(ph.values.headOption).map(_.startTimeMs).getOrElse(0L)
    qes += Qe(funcName, start, d("analysis"), d("optimization"), d("planning"), ok)
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    record(funcName, qe, ok = true)
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
    record(funcName, qe, ok = false)
}
