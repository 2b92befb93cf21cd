package perfbench

import java.util.Properties
import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.util.QueryExecutionListener

/** Local properties `Driver` sets around each traced call. Spark copies
  * them onto every job and stage the call starts, on any thread, so the
  * listeners can tie each job back to its query and phase. */
object Tag {
  val Qid = "perfbench.qid"
  val Phase = "perfbench.phase"

  def of(props: Properties): Option[(Long, String)] =
    Option(props).flatMap(p => Option(p.getProperty(Qid)))
      .map(q => (q.toLong, props.getProperty(Phase, "")))
}

final case class TaskRec(launchMs: Long, runMs: Long, cpuNs: Long,
                         shuffleWriteB: Long, shuffleReadB: Long,
                         recordsRead: Long, spillB: Long, peakMemB: Long)

final class JobRec(val id: Int, val qid: Long, val phase: String,
                   val startMs: Long, val stageIds: Seq[Int]) {
  var endMs: Long = startMs
}

final class StageRec(val id: Int, val qid: Long, val phase: String,
                     val submittedMs: Long) {
  var completedMs: Long = submittedMs
  val tasks = mutable.ArrayBuffer[TaskRec]()
}

/** Jobs, stages and tasks of tagged calls, from the listener bus. */
final class JobTracer extends SparkListener {
  val jobs = mutable.LinkedHashMap[Int, JobRec]()
  val stages = mutable.LinkedHashMap[(Int, Int), StageRec]()

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    Tag.of(e.properties).foreach { case (q, ph) =>
      jobs(e.jobId) = new JobRec(e.jobId, q, ph, e.time, e.stageIds) }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach(_.endMs = e.time)
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
    synchronized {
      Tag.of(e.properties).foreach { case (q, ph) =>
        val i = e.stageInfo
        stages((i.stageId, i.attemptNumber())) = new StageRec(i.stageId, q, ph,
          i.submissionTime.getOrElse(System.currentTimeMillis()))
      }
    }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    synchronized {
      val i = e.stageInfo
      stages.get((i.stageId, i.attemptNumber())).foreach(s =>
        s.completedMs = i.completionTime.getOrElse(System.currentTimeMillis()))
    }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    stages.get((e.stageId, e.stageAttemptId)).filter(_ => m != null).foreach {
      s =>
        s.tasks += TaskRec(e.taskInfo.launchTime, m.executorRunTime,
          m.executorCpuTime, m.shuffleWriteMetrics.bytesWritten,
          m.shuffleReadMetrics.totalBytesRead,
          m.inputMetrics.recordsRead + m.shuffleReadMetrics.recordsRead,
          m.memoryBytesSpilled + m.diskBytesSpilled, m.peakExecutionMemory)
    }
  }
}

/** One finished SQL execution: its Catalyst phases and the largest
  * operator row count of its final (post-AQE) physical plan. */
final case class QeRec(qid: Long, phase: String,
                       phases: Map[String, (Long, Long)], maxOpRows: Long)

/** Catalyst phase times of every SQL execution a traced call runs. The
  * `Driver` drains the bus at each phase boundary, so `current` still
  * names the call whose execution is being reported. */
final class QeTracer extends QueryExecutionListener {
  @volatile var current: (Long, String) = (-1L, "")
  val recs = mutable.ArrayBuffer[QeRec]()

  override def onSuccess(funcName: String, qe: QueryExecution,
                         durationNs: Long): Unit = synchronized {
    val (q, ph) = current
    if (q >= 0) recs += QeRec(q, ph,
      qe.tracker.phases.map { case (k, v) => k -> (v.startTimeMs, v.endTimeMs) },
      QeTracer.maxOpRows(qe.executedPlan))
  }

  override def onFailure(funcName: String, qe: QueryExecution,
                         exception: Exception): Unit = ()
}

object QeTracer {
  /** Largest `numOutputRows` of any operator, walking into adaptive plans,
    * query stages and subqueries. */
  def maxOpRows(p: SparkPlan): Long = {
    val here = p.metrics.get("numOutputRows").map(_.value).getOrElse(0L)
    val kids: Seq[SparkPlan] = p match {
      case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
      case s: QueryStageExec => Seq(s.plan)
      case other => other.children ++ other.subqueries
    }
    kids.foldLeft(here)((m, k) => math.max(m, maxOpRows(k)))
  }
}
