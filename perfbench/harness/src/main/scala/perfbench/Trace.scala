package perfbench

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.Exchange
import org.apache.spark.sql.execution.joins.{BroadcastHashJoinExec, SortMergeJoinExec}
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

import scala.collection.mutable

/** One timed call: `parent` is the enclosing span's id (-1 at the top),
  * `op` the id jobs started inside it are attributed to. Times are
  * System.nanoTime. */
final case class Span(id: Int, name: String, parent: Int, op: Int,
                      start: Long, end: Long)

/** In-memory span log, written out once at the end of the run. */
final class Spans {
  val all = mutable.ArrayBuffer.empty[Span]
  private var next = 0
  def newId(): Int = synchronized { next += 1; next }
  def add(s: Span): Unit = synchronized { all += s }
}

/** Counters of one op (or of work no op claimed, under id 0). */
final class Work {
  var jobs, stages, tasks, failedTasks = 0L
  var runMs, cpuNs, gcMs, shuffleRead, shuffleWrite, spill, outputBytes = 0L
  var peakExecMem = 0L
  val jobIntervals = mutable.ArrayBuffer.empty[(Long, Long)]
}

/** Attributes every job, stage and task to the op whose id was the
  * `OpProp` local property of the thread that started the job. Spark
  * copies local properties into threads a job-starting thread creates,
  * so jobs a streaming query runs on its own thread land on the op that
  * started the query. */
final class OpListener extends SparkListener {
  val byOp = mutable.Map.empty[Int, Work]
  private val stageOp = mutable.Map.empty[Int, Int]
  private val jobStart = mutable.Map.empty[Int, (Int, Long)]

  private def opOf(p: java.util.Properties): Int =
    Option(p).flatMap(x => Option(x.getProperty(OpListener.OpProp)))
      .map(_.toInt).getOrElse(0)
  private def work(op: Int) = byOp.getOrElseUpdate(op, new Work)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val op = opOf(e.properties)
    work(op).jobs += 1
    jobStart(e.jobId) = (op, System.nanoTime())
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobStart.remove(e.jobId).foreach { case (op, t0) =>
      work(op).jobIntervals += ((t0, System.nanoTime()))
    }
  }
  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
    synchronized {
      val op = opOf(e.properties)
      stageOp(e.stageInfo.stageId) = op
      work(op).stages += 1
    }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val w = work(stageOp.getOrElse(e.stageId, 0))
    w.tasks += 1
    if (e.reason != org.apache.spark.Success) w.failedTasks += 1
    val m = e.taskMetrics
    if (m != null) {
      w.runMs += m.executorRunTime
      w.cpuNs += m.executorCpuTime
      w.gcMs += m.jvmGCTime
      w.shuffleRead += m.shuffleReadMetrics.totalBytesRead
      w.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      w.spill += m.memoryBytesSpilled + m.diskBytesSpilled
      w.outputBytes += m.outputMetrics.bytesWritten
      w.peakExecMem = math.max(w.peakExecMem, m.peakExecutionMemory)
    }
  }
}

object OpListener {
  val OpProp = "perfbench.op"
}

/** Catalyst counters per SQL execution, summed per op: the planning
  * phases QueryPlanningTracker records and node counts of the final
  * (post-AQE) executed plan. */
final class PlanListener(current: () => Int) extends QueryExecutionListener
    with AdaptiveSparkPlanHelper {
  val byOp = mutable.Map.empty[Int, mutable.Map[String, Double]]

  private def add(op: Int, k: String, v: Double): Unit = {
    val m = byOp.getOrElseUpdate(op, mutable.Map.empty)
    m(k) = m.getOrElse(k, 0.0) + v
  }
  override def onSuccess(funcName: String, qe: QueryExecution,
                         durationNs: Long): Unit = synchronized {
    val op = current()
    add(op, "sql_execs", 1)
    val phases = qe.tracker.phases
    Seq("analysis" -> "analysis_ms", "optimization" -> "optimize_ms",
        "planning" -> "planning_ms").foreach { case (p, k) =>
      add(op, k, phases.get(p).map(_.durationMs.toDouble).getOrElse(0.0))
    }
    val plan: SparkPlan = qe.executedPlan
    def count(pf: PartialFunction[SparkPlan, Unit]): Int =
      collectWithSubqueries(plan) { case p if pf.isDefinedAt(p) => p }.size
    add(op, "exchanges", count { case _: Exchange => })
    add(op, "smj", count { case _: SortMergeJoinExec => })
    add(op, "bhj", count { case _: BroadcastHashJoinExec => })
    val topk = collectWithSubqueries(plan) {
      case p if p.nodeName.startsWith("TopKPerKey") => p
    }
    add(op, "topk_rows_out", topk.map(p =>
      p.metrics.get("numOutputRows").map(_.value).getOrElse(0L)).sum.toDouble)
  }
  override def onFailure(funcName: String, qe: QueryExecution,
                         exception: Exception): Unit = ()
}

/** Micro-batch progress as Spark reports it, attributed to the op that
  * is running when the batch ends. */
final class BatchListener(current: () => Int) extends StreamingQueryListener {
  val batches = mutable.ArrayBuffer.empty[(Int, Long, Map[String, Long])]
  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
    synchronized {
      val p = e.progress
      val d = p.durationMs
      val m = Seq("triggerExecution", "addBatch", "queryPlanning",
        "latestOffset", "getBatch", "walCommit", "commitOffsets")
        .map(k => k -> Option(d.get(k)).map(_.longValue).getOrElse(0L)).toMap
      // AvailableNow ends with a no-data progress event; only batches
      // that ran count
      if (p.numInputRows > 0 || m("addBatch") > 0)
        batches += ((current(), p.numInputRows, m))
    }
}
