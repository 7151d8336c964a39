package graft.perfbench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
import org.apache.spark.sql.execution.joins.BroadcastNestedLoopJoinExec
import org.apache.spark.sql.util.QueryExecutionListener

/** Counters of one traced operation (a query execution, an append, a
  * compaction, a pipeline run), filled by the listeners below. */
final class OpStats {
  var jobs = 0L
  var stages = 0L
  var tasks = 0L
  var taskRunMs = 0L
  var taskCpuNs = 0L
  var gcMs = 0L
  var shuffleWrite = 0L
  var shuffleRead = 0L
  var spill = 0L
  var peakExecMem = 0L
  var scanBytes = 0L
  var scanRows = 0L
  var hotDrops = 0L
  /** Analysis + optimization + physical planning of the LAST SQL execution
    * of the operation: for a served query that is the timed discard write. */
  var planMs = 0L
  var exchanges = 0L
  var bnlJoins = 0L
  val jobIntervals = mutable.ArrayBuffer.empty[(Long, Long)]

  /** Wall milliseconds inside `[t0, t1]` covered by at least one job. */
  def jobCoveredMs(t0: Long, t1: Long): Long = {
    var covered = 0L
    var end = t0
    jobIntervals.map { case (a, b) => (a.max(t0), b.min(t1)) }.sortBy(_._1).foreach {
      case (a, b) =>
        val s = a.max(end)
        if (b > s) { covered += b - s; end = b }
    }
    covered
  }
}

/** One span: a layer boundary crossed by the benchmark. `op` ties the spans
  * of one operation together; `parent` names the enclosing span. */
final case class Span(name: String, startMs: Long, endMs: Long, parent: String, op: String)

/** Process-wide trace state. Tracing is on only in the traced run; the
  * listeners are registered by the benchmark itself and do nothing while
  * `enabled` is false. Operations run one at a time on the client thread,
  * tagged with a Spark job group, so job/stage/task events are attributed
  * by group and query-execution events by the current operation (the bus is
  * drained before the operation changes). */
object Trace {
  @volatile var enabled = false
  @volatile private var current: String = null

  private val stageOp = mutable.HashMap.empty[Int, String]
  private val jobStart = mutable.HashMap.empty[Int, (String, Long)]
  private val stats = mutable.HashMap.empty[String, OpStats]
  private val spanBuf = mutable.ArrayBuffer.empty[Span]

  def statsOf(op: String): OpStats = synchronized(stats.getOrElseUpdate(op, new OpStats))
  def span(s: Span): Unit = synchronized(spanBuf += s)
  def spans: Seq[Span] = synchronized(spanBuf.toList)

  def begin(op: String): Unit = synchronized { current = op; stats.remove(op) }
  def end(): Unit = synchronized { current = null }

  private[perfbench] def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val g = Option(e.properties).map(_.getProperty("spark.jobGroup.id")).orNull
    if (g != null) {
      jobStart(e.jobId) = (g, e.time)
      e.stageIds.foreach(stageOp(_) = g)
      statsOf(g).jobs += 1
    }
  }

  private[perfbench] def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobStart.remove(e.jobId).foreach { case (g, t0) =>
      statsOf(g).jobIntervals += ((t0, e.time))
      spanBuf += Span(s"job ${e.jobId}", t0, e.time, "exec", g)
    }
  }

  private[perfbench] def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    stageOp.get(e.stageInfo.stageId).foreach(statsOf(_).stages += 1)
  }

  private[perfbench] def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    stageOp.get(e.stageId).foreach { g =>
      val s = statsOf(g)
      s.tasks += 1
      val m = e.taskMetrics
      if (m != null) {
        s.taskRunMs += m.executorRunTime
        s.taskCpuNs += m.executorCpuTime
        s.gcMs += m.jvmGCTime
        s.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        s.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        s.spill += m.memoryBytesSpilled + m.diskBytesSpilled
        s.peakExecMem = s.peakExecMem.max(m.peakExecutionMemory)
        s.scanBytes += m.inputMetrics.bytesRead
        s.scanRows += m.inputMetrics.recordsRead
      }
    }
  }

  private def nodes(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
    case q: QueryStageExec => nodes(q.plan)
    case other => other +: (other.children ++ other.subqueries).flatMap(nodes)
  }

  private[perfbench] def onQuery(qe: QueryExecution): Unit = {
    val op = current
    if (op != null) {
      val drops = qe.observedMetrics.iterator.collect {
        case (name, row) if name.contains("_hot_drops_") =>
          row.toSeq.collect { case n: java.lang.Number => n.longValue }.sum
      }.sum
      val plan = nodes(qe.executedPlan)
      val phases = qe.tracker.phases.values
      synchronized {
        val s = statsOf(op)
        s.hotDrops += drops
        s.planMs = phases.map(_.durationMs).sum
        s.exchanges = plan.count(_.isInstanceOf[ShuffleExchangeLike]).toLong
        s.bnlJoins = plan.count(_.isInstanceOf[BroadcastNestedLoopJoinExec]).toLong
        phases.foreach { ph =>
          spanBuf += Span("plan", ph.startTimeMs, ph.endTimeMs, "query", op)
        }
      }
    }
  }
}

/** Job, stage and task counts and task metrics. */
final class TraceJobListener extends SparkListener {
  override def onJobStart(e: SparkListenerJobStart): Unit = if (Trace.enabled) Trace.onJobStart(e)
  override def onJobEnd(e: SparkListenerJobEnd): Unit = if (Trace.enabled) Trace.onJobEnd(e)
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    if (Trace.enabled) Trace.onStageCompleted(e)
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = if (Trace.enabled) Trace.onTaskEnd(e)
}

/** Observed metrics and plan shape of each SQL execution. Registered
  * through `spark.sql.queryExecutionListeners`, so every session gets one —
  * including the interactive-lane child sessions `Lane` creates. */
final class TraceQueryListener extends QueryExecutionListener {
  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    if (Trace.enabled) Trace.onQuery(qe)
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
}
