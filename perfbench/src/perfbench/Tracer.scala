package perfbench

import scala.collection.mutable

import org.apache.spark.Success
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.util.QueryExecutionListener

/** Spans recorded from Spark's public listener interfaces: one per job,
  * one per stage and one per query execution (its plan phases). Each is
  * tagged with the operation that was running when Spark delivered the
  * event; the harness drains the listener bus after every operation, so
  * that tag is exact. Spans stay in memory until the run writes them.
  */
final class Tracer extends SparkListener with QueryExecutionListener
    with AdaptiveSparkPlanHelper {

  @volatile var op: Int = -1

  val jobs = mutable.ArrayBuffer.empty[Map[String, Any]]
  val stages = mutable.ArrayBuffer.empty[Map[String, Any]]
  val plans = mutable.ArrayBuffer.empty[Map[String, Any]]

  private val jobStarts = mutable.Map.empty[Int, Long]
  private val tasks = mutable.Map.empty[(Int, Int), StageTasks]

  private final class StageTasks {
    var n, failed = 0
    var cpuNs, runMs, gcMs, inputB, shuffleReadB, shuffleWriteB, spillB = 0L
    val durationsMs = mutable.ArrayBuffer.empty[Long]
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    jobStarts(e.jobId) = e.time
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs += Map("op" -> op, "job" -> e.jobId,
      "start_ms" -> jobStarts.remove(e.jobId).getOrElse(e.time),
      "end_ms" -> e.time, "ok" -> (e.jobResult == JobSucceeded))
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val s = tasks.getOrElseUpdate((e.stageId, e.stageAttemptId), new StageTasks)
    s.n += 1
    if (e.reason != Success) s.failed += 1
    s.durationsMs += e.taskInfo.duration
    val m = e.taskMetrics
    if (m != null) {
      s.cpuNs += m.executorCpuTime
      s.runMs += m.executorRunTime
      s.gcMs += m.jvmGCTime
      s.inputB += m.inputMetrics.bytesRead
      s.shuffleReadB += m.shuffleReadMetrics.totalBytesRead
      s.shuffleWriteB += m.shuffleWriteMetrics.bytesWritten
      s.spillB += m.diskBytesSpilled
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    synchronized {
      val i = e.stageInfo
      val s = tasks.remove((i.stageId, i.attemptNumber())).getOrElse(new StageTasks)
      stages += Map("op" -> op, "stage" -> i.stageId,
        "submit_ms" -> i.submissionTime.getOrElse(0L),
        "end_ms" -> i.completionTime.getOrElse(0L),
        "tasks" -> s.n, "failed_tasks" -> s.failed, "cpu_ns" -> s.cpuNs,
        "run_ms" -> s.runMs, "gc_ms" -> s.gcMs, "input_b" -> s.inputB,
        "shuffle_read_b" -> s.shuffleReadB,
        "shuffle_write_b" -> s.shuffleWriteB, "spill_b" -> s.spillB,
        "task_ms" -> s.durationsMs.toSeq)
    }

  override def onSuccess(funcName: String, qe: QueryExecution,
      durationNs: Long): Unit = record(qe)

  override def onFailure(funcName: String, qe: QueryExecution,
      exception: Exception): Unit = record(qe)

  private def record(qe: QueryExecution): Unit = {
    val phases = qe.tracker.phases
    def ms(p: String): Long = phases.get(p).map(_.durationMs).getOrElse(0L)
    val nodes = try collectWithSubqueries(qe.executedPlan) { case p => p }.size
      catch { case scala.util.control.NonFatal(_) => 0 }
    synchronized {
      plans += Map("op" -> op, "analysis_ms" -> ms("analysis"),
        "optimization_ms" -> ms("optimization"),
        "planning_ms" -> ms("planning"), "nodes" -> nodes)
    }
  }
}
