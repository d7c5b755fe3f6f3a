package perfbench

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart

/** One call into a layer, timed from the benchmark side. `op` is the
  * benchmark operation the call belongs to (-1 for set-up and checks);
  * a span opened inside another inherits its operation.
  */
final case class Span(id: Int, name: String, parent: Int, op: Int,
                      startNs: Long, startMs: Long) {
  var endNs: Long = -1L
  var endMs: Long = -1L
  def seconds: Double = (endNs - startNs) / 1e9
}

/** Task metrics of one completed stage attempt, attributed to the span
  * that was open when its job was submitted and to the SQL execution
  * (whose description is the action's call site) that ran it.
  */
final class StageRec(val span: Int, val execId: Long) {
  var submittedMs, completedMs = 0L
  var tasks, runMs, cpuNs, gcMs, fetchWaitMs = 0L
  var shuffleRead, shuffleWrite, spill, input = 0L
  val taskMs = mutable.ArrayBuffer[Long]()
  def skew: Double =
    if (taskMs.size < 2) 1.0
    else {
      val s = taskMs.sorted
      s.last.toDouble / math.max(s(s.size / 2), 1L)
    }
}

final class JobRec(val span: Int, val execId: Long, val startMs: Long) {
  var endMs: Long = -1L
}

/** Spark listener of traced runs: jobs, stages and SQL execution call
  * sites.
  */
final class Recorder extends SparkListener {
  val jobs = mutable.Map[Int, JobRec]()
  val stages = mutable.Map[(Int, Int), StageRec]()
  val execDesc = mutable.Map[Long, String]()

  private def prop(p: java.util.Properties, k: String): Option[String] =
    Option(p).flatMap(x => Option(x.getProperty(k)))
  private def spanOf(p: java.util.Properties): Int =
    prop(p, Tracer.SpanKey).map(_.toInt).getOrElse(-1)
  private def execOf(p: java.util.Properties): Long =
    prop(p, "spark.sql.execution.id").map(_.toLong).getOrElse(-1L)

  override def onJobStart(e: SparkListenerJobStart): Unit =
    synchronized {
      jobs(e.jobId) = new JobRec(spanOf(e.properties), execOf(e.properties), e.time)
    }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    synchronized { jobs.get(e.jobId).foreach(_.endMs = e.time) }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
    synchronized {
      val si = e.stageInfo
      val r = new StageRec(spanOf(e.properties), execOf(e.properties))
      r.submittedMs = si.submissionTime.getOrElse(System.currentTimeMillis())
      stages((si.stageId, si.attemptNumber())) = r
    }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    synchronized {
      stages.get((e.stageId, e.stageAttemptId)).foreach(_.taskMs += e.taskInfo.duration)
    }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val si = e.stageInfo
    val m = si.taskMetrics
    if (m != null) {
      stages.get((si.stageId, si.attemptNumber())).foreach { r =>
        r.completedMs = si.completionTime.getOrElse(System.currentTimeMillis())
        r.tasks = si.numTasks
        r.runMs = m.executorRunTime
        r.cpuNs = m.executorCpuTime
        r.gcMs = m.jvmGCTime
        r.fetchWaitMs = m.shuffleReadMetrics.fetchWaitTime
        r.shuffleRead = m.shuffleReadMetrics.totalBytesRead
        r.shuffleWrite = m.shuffleWriteMetrics.bytesWritten
        r.spill = m.diskBytesSpilled
        r.input = m.inputMetrics.bytesRead
      }
    }
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: SparkListenerSQLExecutionStart =>
      synchronized { execDesc(s.executionId) = s.description }
    case _ => ()
  }
}

/** In-memory span recorder. Spans nest on the driver thread; the open
  * span's id travels to Spark as a job-local property, so every job and
  * stage a call submits is attributed to it. Spans are kept in memory
  * and written out when the benchmark ends.
  */
final class Tracer(sc: SparkContext, val enabled: Boolean) {
  val recorder = new Recorder
  if (enabled) sc.addSparkListener(recorder)

  val spans = mutable.ArrayBuffer[Span]()
  private var open = List.empty[Span]

  /** Time `body` as a span. With tracing off only `op` spans (the
    * operation timer every run needs) are kept.
    */
  def span[A](name: String, op: Int = -1)(body: => A): A = {
    if (!enabled && name != Tracer.Op) return body
    val s = Span(spans.size, name, open.headOption.map(_.id).getOrElse(-1),
                 if (op >= 0) op else open.headOption.map(_.op).getOrElse(-1),
                 System.nanoTime(), System.currentTimeMillis())
    spans += s
    open = s :: open
    if (enabled) sc.setLocalProperty(Tracer.SpanKey, s.id.toString)
    try body
    finally {
      s.endNs = System.nanoTime()
      s.endMs = System.currentTimeMillis()
      open = open.tail
      if (enabled)
        sc.setLocalProperty(Tracer.SpanKey, open.headOption.map(_.id.toString).orNull)
    }
  }

  /** One segment of benchmark operation `op`. An operation may have
    * several segments; untimed checks run between them.
    */
  def op[A](op: Int)(body: => A): A = span(Tracer.Op, op)(body)

  /** Seconds operation `op` took: the sum of its segments. */
  def opSeconds(op: Int): Double =
    spans.iterator.filter(s => s.name == Tracer.Op && s.op == op).map(_.seconds).sum

  /** Block until the listener has seen every event posted so far. */
  def drain(): Unit = org.apache.spark.PerfbenchBus.drain(sc)

  /** Operation id of the span a job or stage was attributed to. */
  def opOf(span: Int): Int =
    if (span < 0 || span >= spans.size) -1 else spans(span).op
}

object Tracer {
  val Op = "op"
  val SpanKey = "perfbench.span"
}
