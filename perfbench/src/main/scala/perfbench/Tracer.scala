package perfbench

import org.apache.spark.Success
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener
import org.apache.spark.storage.RDDBlockId

import scala.collection.mutable

/** Spark-side counters of one op, filled from listener events. */
final class OpCounters {
  var tasks = 0L
  var taskMs = 0L
  var gcMs = 0L
  var shuffleReadBytes = 0L
  var shuffleWriteBytes = 0L
  var spillBytes = 0L
  var taskFailures = 0L
  var inputRecords = 0L
  var analysisMs = 0L
  var optimizerMs = 0L
  var planningMs = 0L
  val materializedRdds = mutable.Set.empty[Int]
  var materializedBytes = 0L
}

final case class JobEvent(jobId: Int, op: Int, startMs: Long, var endMs: Long,
                          stageIds: Seq[Int])
final case class StageEvent(submitMs: Long, endMs: Long)

/** The benchmark's own listener: Spark job, stage and task events plus
  * Catalyst phase times of every query execution. Jobs and stages are
  * linked to an op through the `perfbench.op` local property the harness
  * sets; everything else (tasks, blocks, query executions) is linked
  * through the job that ran it or, failing that, the op in flight. The
  * harness drains the listener bus after every traced op, so "the op in
  * flight when the event is delivered" is the op that caused it. */
final class Tracer extends SparkListener with QueryExecutionListener {
  @volatile var currentOp: Int = -1

  private val jobs = mutable.LinkedHashMap.empty[Int, JobEvent]
  private val stageOwner = mutable.Map.empty[Int, Int] // stage -> job
  private val stages = mutable.Map.empty[Int, mutable.ArrayBuffer[StageEvent]] // job -> stages
  private val counters = mutable.Map.empty[Int, OpCounters]

  private def countersOf(op: Int): OpCounters = counters.getOrElseUpdate(op, new OpCounters)
  private def opOfStage(stageId: Int): Int =
    stageOwner.get(stageId).flatMap(jobs.get).map(_.op).getOrElse(currentOp)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val op = Option(e.properties).flatMap(p => Option(p.getProperty(Tracer.OpProperty)))
      .map(_.toInt).getOrElse(currentOp)
    jobs(e.jobId) = JobEvent(e.jobId, op, e.time, e.time, e.stageIds)
    e.stageIds.foreach(s => stageOwner.getOrElseUpdate(s, e.jobId))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach(_.endMs = e.time)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val info = e.stageInfo
    for (submit <- info.submissionTime; end <- info.completionTime) {
      val job = stageOwner.getOrElse(info.stageId, -1)
      stages.getOrElseUpdate(job, mutable.ArrayBuffer.empty) +=
        StageEvent(submit, end)
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val c = countersOf(opOfStage(e.stageId))
    c.tasks += 1
    if (e.reason != Success) c.taskFailures += 1
    val m = e.taskMetrics
    if (m != null) {
      c.taskMs += m.executorRunTime
      c.gcMs += m.jvmGCTime
      c.shuffleReadBytes += m.shuffleReadMetrics.totalBytesRead
      c.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
      c.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
      c.inputRecords += m.inputMetrics.recordsRead
    }
  }

  override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = synchronized {
    val info = e.blockUpdatedInfo
    info.blockId match {
      case RDDBlockId(rddId, _) if info.storageLevel.isValid && currentOp >= 0 =>
        val c = countersOf(currentOp)
        c.materializedRdds += rddId
        c.materializedBytes += info.memSize + info.diskSize
      case _ =>
    }
  }

  private def phases(qe: QueryExecution): Unit = synchronized {
    if (currentOp >= 0) {
      val c = countersOf(currentOp)
      val p = qe.tracker.phases
      c.analysisMs += p.get("analysis").map(_.durationMs).getOrElse(0L)
      c.optimizerMs += p.get("optimization").map(_.durationMs).getOrElse(0L)
      c.planningMs += p.get("planning").map(_.durationMs).getOrElse(0L)
    }
  }
  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    phases(qe)
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
    phases(qe)

  /** Hand over (and forget) everything recorded for `op`. Call only
    * after the listener bus has been drained. */
  def take(op: Int): (Seq[JobEvent], Map[Int, Seq[StageEvent]], OpCounters) = synchronized {
    // jobs of no op (result dumps between ops) are dropped here too
    val (opJobs, stray) = jobs.values.filter(j => j.op == op || j.op < 0).toSeq.partition(_.op == op)
    val opStages = opJobs.map(j => j.jobId -> stages.remove(j.jobId).map(_.toSeq).getOrElse(Nil)).toMap
    (opJobs ++ stray).foreach { j =>
      stages.remove(j.jobId)
      jobs.remove(j.jobId)
      j.stageIds.foreach(s => if (stageOwner.get(s).contains(j.jobId)) stageOwner.remove(s))
    }
    val c = counters.remove(op).getOrElse(new OpCounters)
    (opJobs, opStages, c)
  }

  /** Drop events of untraced ops (listener on, op not traced). */
  def clear(): Unit = synchronized {
    jobs.clear(); stageOwner.clear(); stages.clear(); counters.clear()
  }
}

object Tracer {
  val OpProperty = "perfbench.op"
}
