package perfbench

import scala.collection.concurrent.TrieMap

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed interval of the harness. `query` spans are roots; `build`,
  * `exec` and `release` spans are their children. Wall-clock millis are
  * kept beside the nanosecond clock so listener events (which carry
  * epoch millis) can be placed inside a span. */
final case class Span(
    id: Long, parent: Long, kind: String, query: String, pass: Int,
    startNs: Long, endNs: Long, startMs: Long, endMs: Long) {
  def seconds: Double = (endNs - startNs) / 1e9
}

/** Counters of the Spark work one span caused. */
final class SpanWork {
  var jobs, stages, tasks = 0L
  var taskRunMs, taskCpuNs = 0L
  var shuffleWriteBytes, shuffleReadBytes, spillBytes = 0L
  var inputBytes, inputRows, outputRows = 0L
  var lastJobEndMs = 0L
}

/** Planning time of one QueryExecution, per QueryPlanningTracker phase. */
final case class Planned(startMs: Long, planMs: Long, nodes: Int)

/** Listener pair the harness registers for traced passes only.
  *
  * Job, stage and task events are attributed through the local property
  * [[Tracer.SpanKey]] that the harness sets on its thread before each call
  * into a layer; Spark copies local properties into every job and stage it
  * starts from that thread. QueryExecution callbacks carry no local
  * properties, so each one is placed by the wall-clock start of its first
  * planning phase (the harness drives one query at a time). */
final class Tracer extends SparkListener with QueryExecutionListener {
  val work = TrieMap.empty[Long, SpanWork]
  private val stageSpan = TrieMap.empty[Int, Long]
  private val jobSpan = TrieMap.empty[Int, Long]
  val planned = new java.util.concurrent.ConcurrentLinkedQueue[Planned]()

  private def spanOf(p: java.util.Properties): Option[Long] =
    Option(p).flatMap(x => Option(x.getProperty(Tracer.SpanKey))).map(_.toLong)

  private def at(span: Long): SpanWork = work.getOrElseUpdate(span, new SpanWork)

  override def onJobStart(e: SparkListenerJobStart): Unit =
    spanOf(e.properties).foreach { s =>
      jobSpan(e.jobId) = s
      val w = at(s)
      w.synchronized(w.jobs += 1)
    }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    jobSpan.remove(e.jobId).foreach { s =>
      val w = at(s)
      w.synchronized(w.lastJobEndMs = math.max(w.lastJobEndMs, e.time))
    }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
    spanOf(e.properties).foreach { s =>
      stageSpan(e.stageInfo.stageId) = s
      val w = at(s)
      w.synchronized(w.stages += 1)
    }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    for (s <- stageSpan.get(e.stageId); m <- Option(e.taskMetrics)) {
      val w = at(s)
      w.synchronized {
        w.tasks += 1
        w.taskRunMs += m.executorRunTime
        w.taskCpuNs += m.executorCpuTime
        w.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
        w.shuffleReadBytes += m.shuffleReadMetrics.totalBytesRead
        w.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
        w.inputBytes += m.inputMetrics.bytesRead
        w.inputRows += m.inputMetrics.recordsRead
        w.outputRows += m.outputMetrics.recordsWritten
      }
    }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
    val phases = qe.tracker.phases.values
    if (phases.nonEmpty) {
      val nodes = Tracer.planHelper.collectWithSubqueries(qe.executedPlan) { case p => p }.size
      planned.add(Planned(phases.map(_.startTimeMs).min, phases.map(_.durationMs).sum, nodes))
    }
  }

  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
}

object Tracer {
  val SpanKey = "perfbench.span"
  private val planHelper = new AdaptiveSparkPlanHelper {}
}
