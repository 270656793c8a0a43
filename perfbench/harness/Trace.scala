package perfbench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{QueryExecution, RDDScanExec, SortExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeLike, ShuffleExchangeLike}
import org.apache.spark.sql.execution.ui.SparkListenerSQLAdaptiveExecutionUpdate
import org.apache.spark.sql.util.QueryExecutionListener

/** One finished stage, with task metrics summed over its tasks. */
case class StageRec(
    id: Int, submitMs: Long, endMs: Long, tasks: Int, runMs: Long, cpuNs: Long, gcMs: Long,
    inputBytes: Long, shuffleReadBytes: Long, shuffleWriteBytes: Long, shuffleWriteNs: Long,
    fetchWaitMs: Long, spillBytes: Long, maxTaskMs: Long)

case class JobRec(id: Int, group: String, startMs: Long, var endMs: Long, stageIds: Seq[Int])

/** One Catalyst execution: its planning phases and exact operator counts. */
case class PlanRec(phases: Seq[(String, Long, Long)], exchanges: Int, broadcasts: Int, sorts: Int,
    checkpointScans: Int)

case class OpTrace(jobs: Seq[JobRec], stages: Seq[StageRec], plans: Seq[PlanRec], aqeUpdates: Int,
    storagePeakBytes: Long)

/** Counts operators of an executed plan, descending into adaptive query
  * stages and subqueries.
  */
object PlanWalk extends AdaptiveSparkPlanHelper {
  def counts(plan: SparkPlan): (Int, Int, Int, Int) = {
    val nodes = collectWithSubqueries(plan) { case p => p }
    (nodes.count(_.isInstanceOf[ShuffleExchangeLike]), nodes.count(_.isInstanceOf[BroadcastExchangeLike]),
      nodes.count(_.isInstanceOf[SortExec]), nodes.count(_.isInstanceOf[RDDScanExec]))
  }
}

/** Collects job, stage, task, AQE, block and Catalyst events while
  * `enabled`. [[take]] waits for the listener bus to drain and returns
  * everything since the previous call, so a caller that runs one op at a
  * time gets exactly that op's events.
  */
class Tracer(spark: SparkSession) extends SparkListener with QueryExecutionListener {
  @volatile var enabled = false
  private val jobs = mutable.LinkedHashMap[Int, JobRec]()
  private val stages = mutable.ArrayBuffer[StageRec]()
  private val maxTask = mutable.Map[Int, Long]()
  private val plans = mutable.ArrayBuffer[PlanRec]()
  private var aqe = 0
  private val blocks = mutable.Map[String, Long]()
  private var storageNow = 0L
  private var storagePeak = 0L

  spark.sparkContext.addSparkListener(this)
  spark.listenerManager.register(this)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    if (enabled) {
      val group = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id"))).getOrElse("")
      jobs(e.jobId) = JobRec(e.jobId, group, e.time, -1L, e.stageIds)
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach(_.endMs = e.time)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    if (enabled && e.taskInfo != null) {
      val d = e.taskInfo.duration
      maxTask(e.stageId) = math.max(maxTask.getOrElse(e.stageId, 0L), d)
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val i = e.stageInfo
    if (enabled && i.taskMetrics != null) {
      val m = i.taskMetrics
      stages += StageRec(i.stageId, i.submissionTime.getOrElse(0L), i.completionTime.getOrElse(0L),
        i.numTasks, m.executorRunTime, m.executorCpuTime, m.jvmGCTime, m.inputMetrics.bytesRead,
        m.shuffleReadMetrics.totalBytesRead, m.shuffleWriteMetrics.bytesWritten,
        m.shuffleWriteMetrics.writeTime, m.shuffleReadMetrics.fetchWaitTime,
        m.memoryBytesSpilled + m.diskBytesSpilled, maxTask.getOrElse(i.stageId, 0L))
    }
  }

  override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = synchronized {
    val b = e.blockUpdatedInfo
    val key = b.blockId.name
    storageNow -= blocks.remove(key).getOrElse(0L)
    if (b.storageLevel.isValid && b.memSize > 0) {
      blocks(key) = b.memSize
      storageNow += b.memSize
    }
    storagePeak = math.max(storagePeak, storageNow)
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case _: SparkListenerSQLAdaptiveExecutionUpdate if enabled => synchronized { aqe += 1 }
    case _ =>
  }

  private def record(qe: QueryExecution, walk: Boolean): Unit = if (enabled) {
    val phases = qe.tracker.phases.toSeq.sortBy(_._2.startTimeMs)
      .map { case (n, p) => (n, p.startTimeMs, p.endTimeMs) }
    val (ex, bc, so, ck) = if (walk) PlanWalk.counts(qe.executedPlan) else (0, 0, 0, 0)
    synchronized { plans += PlanRec(phases, ex, bc, so, ck) }
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = record(qe, walk = true)
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
    record(qe, walk = false)

  /** Waits for queued events, then hands over and clears the buffers. */
  def take(): OpTrace = {
    org.apache.spark.PerfbenchBus.drain(spark.sparkContext)
    synchronized {
      val t = OpTrace(jobs.values.toSeq, stages.toSeq, plans.toSeq, aqe, storagePeak)
      jobs.clear(); stages.clear(); maxTask.clear(); plans.clear(); aqe = 0
      storagePeak = storageNow
      t
    }
  }
}
