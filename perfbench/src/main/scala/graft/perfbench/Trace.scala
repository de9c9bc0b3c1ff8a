package graft.perfbench

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

import scala.collection.mutable

/** Spans recorded around the benchmark's calls into each engine layer.
  *
  * Times are epoch milliseconds with nanosecond fraction (a nanoTime
  * offset from one epoch reading), so they share a clock with the
  * scheduler's stage timestamps. Spans are kept in memory and written
  * out when the run ends. While a span's body runs, the SparkContext job
  * group is the span's id, so [[EngineListener]] attributes every job the
  * body launches to the span that launched it.
  *
  * An inactive tracer runs each body with no recording at all; a traced
  * run switches it off for the passes it measures untraced.
  */
final class Tracer(sc: SparkContext, val enabled: Boolean) {
  @volatile var active: Boolean = enabled
  import Tracer.Span

  private val epochMs0 = System.currentTimeMillis().toDouble
  private val nano0 = System.nanoTime()
  def nowMs: Double = epochMs0 + (System.nanoTime() - nano0) / 1e6

  private var nextId = 1L
  private val stack = mutable.Stack.empty[Span]
  val spans = mutable.ArrayBuffer.empty[Span]

  /** Run `body` inside a child span of the innermost open span. `trace`
    * marks the span whose id its whole subtree shares (one per query or
    * refresh operation). */
  def span[T](name: String, layer: String, trace: Boolean = false)(
      body: => T): T = {
    if (!active) return body
    val parent = stack.headOption
    val id = nextId
    nextId += 1
    val s = Span(id, parent.map(_.id).getOrElse(0L),
      if (trace) id else parent.map(_.trace).getOrElse(0L),
      name, layer, nowMs)
    spans += s
    stack.push(s)
    sc.setJobGroup(id.toString, name, interruptOnCancel = false)
    try body
    finally {
      s.end = nowMs
      stack.pop()
      stack.headOption match {
        case Some(p) => sc.setJobGroup(p.id.toString, p.name, false)
        case None => sc.clearJobGroup()
      }
    }
  }

  /** Attach a measured count or size to the innermost open span. */
  def attr(key: String, value: Double): Unit =
    if (active) stack.headOption.foreach(_.attrs(key) = value)

  def toJson: Seq[Map[String, Any]] = spans.toSeq.map(s => Map(
    "id" -> s.id, "parent" -> s.parent, "trace" -> s.trace,
    "name" -> s.name, "layer" -> s.layer, "start_ms" -> s.start,
    "end_ms" -> s.end, "attrs" -> s.attrs.toMap))
}

object Tracer {
  final case class Span(id: Long, parent: Long, trace: Long, name: String,
      layer: String, start: Double) {
    var end: Double = start
    val attrs: mutable.Map[String, Double] = mutable.Map.empty
  }
}

/** Engine counters from the scheduler's listener events.
  *
  * Untraced runs keep only the executor task-time sum (`detail = false`);
  * traced runs also keep one record per stage, tagged with the job group
  * (the launching span's id) of the job that submitted it.
  */
final class EngineListener(@volatile var detail: Boolean)
    extends SparkListener {
  private val taskMs = new java.util.concurrent.atomic.AtomicLong()
  def taskMillis: Long = taskMs.get()

  final class StageRec(val stageId: Int, val attempt: Int, val group: String) {
    var submitMs = 0L
    var completeMs = 0L
    var tasks = 0L
    var runMs = 0L
    var waitMs = 0L
    var maxTaskMs = 0L
    var gcMs = 0L
    var inputBytes = 0L
    var shuffleReadBytes = 0L
    var shuffleWriteBytes = 0L
    var spillBytes = 0L
  }

  private val stageGroup = mutable.Map.empty[Int, String]
  private val jobGroups = mutable.ArrayBuffer.empty[(Int, String)]
  private val stages = mutable.LinkedHashMap.empty[(Int, Int), StageRec]

  override def onJobStart(e: SparkListenerJobStart): Unit = if (detail) {
    val group = Option(e.properties)
      .flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      .getOrElse("")
    synchronized {
      jobGroups += e.jobId -> group
      e.stageIds.foreach(id => stageGroup.getOrElseUpdate(id, group))
    }
  }

  private def rec(stageId: Int, attempt: Int): StageRec =
    stages.getOrElseUpdate((stageId, attempt),
      new StageRec(stageId, attempt, stageGroup.getOrElse(stageId, "")))

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
    if (detail) synchronized {
      val i = e.stageInfo
      rec(i.stageId, i.attemptNumber()).submitMs =
        i.submissionTime.getOrElse(System.currentTimeMillis())
    }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    if (detail) synchronized {
      val i = e.stageInfo
      rec(i.stageId, i.attemptNumber()).completeMs =
        i.completionTime.getOrElse(System.currentTimeMillis())
    }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    if (m != null) taskMs.addAndGet(m.executorRunTime)
    if (detail && m != null) synchronized {
      val r = rec(e.stageId, e.stageAttemptId)
      val info = e.taskInfo
      r.tasks += 1
      r.runMs += m.executorRunTime
      r.maxTaskMs = math.max(r.maxTaskMs, info.duration)
      if (r.submitMs > 0) r.waitMs += math.max(0L, info.launchTime - r.submitMs)
      r.gcMs += m.jvmGCTime
      r.inputBytes += m.inputMetrics.bytesRead
      r.shuffleReadBytes += m.shuffleReadMetrics.totalBytesRead
      r.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
      r.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
    }
  }

  def jobsJson: Seq[Map[String, Any]] = synchronized {
    jobGroups.toSeq.map { case (id, g) => Map("job" -> id, "span" -> g) }
  }

  def stagesJson: Seq[Map[String, Any]] = synchronized {
    stages.values.toSeq.map(r => Map(
      "stage" -> r.stageId, "attempt" -> r.attempt, "span" -> r.group,
      "submit_ms" -> r.submitMs, "complete_ms" -> r.completeMs,
      "tasks" -> r.tasks, "run_ms" -> r.runMs, "wait_ms" -> r.waitMs,
      "max_task_ms" -> r.maxTaskMs, "gc_ms" -> r.gcMs,
      "input_bytes" -> r.inputBytes,
      "shuffle_read_bytes" -> r.shuffleReadBytes,
      "shuffle_write_bytes" -> r.shuffleWriteBytes,
      "spill_bytes" -> r.spillBytes))
  }
}
