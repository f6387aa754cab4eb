package perfbench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.catalyst.QueryPlanningTracker
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import org.apache.spark.sql.util.QueryExecutionListener

/** Scheduler work of one Spark job, summed over the tasks and stages that
  * ran for it. Times are epoch milliseconds from the driver clock. */
final class JobRec(val id: Int, val group: String, val site: String,
    val startMs: Long) {
  var endMs: Long = -1L
  var stages = 0
  var tasks = 0
  var failedTasks = 0
  var emptyTasks = 0
  var runMs = 0L       // executorRunTime
  var taskWallMs = 0L  // launch to finish
  var inputBytes = 0L
  var shuffleWriteBytes = 0L
  var shuffleReadBytes = 0L
  var fetchWaitMs = 0L
  var spillBytes = 0L
  var peakExecBytes = 0L
  var gcMs = 0L
}

/** Catalyst optimization and physical planning of one query execution:
  * when it started (epoch ms) and how long it took. */
final case class PlanRec(startMs: Long, planMs: Long)

/** The traced run's SparkListener. It attributes every job to the harness
  * op that started it (through the job group the harness sets per op
  * phase) and to the graft module named by the innermost `graft.` frame of
  * the call site Spark recorded for the job's SQL execution (the job's own
  * stage call site when it has none). It also tracks the bytes that RDD
  * blocks (cache and checkpoint) hold, and their peak per op. As a
  * QueryExecutionListener it keeps the optimization and planning time each
  * finished query execution (an action or a write) spent, from that
  * execution's own planning tracker.
  *
  * Callbacks run on Spark's listener-bus thread; the harness reads the
  * results only after [[quiesce]]. */
final class Recorder extends SparkListener with QueryExecutionListener {
  val jobs = mutable.LinkedHashMap[Int, JobRec]()
  val plannings = mutable.ArrayBuffer[PlanRec]()
  private val stageToJob = mutable.Map[Int, Int]()
  private val sqlSites = mutable.Map[Long, String]()
  private val blockBytes = mutable.Map[String, Long]()
  private var residentBytes = 0L
  private var currentGroup = ""
  /** op group prefix (op id) -> peak bytes held by RDD blocks. */
  val peakBlockBytes = mutable.Map[String, Long]()
  /** Nanoseconds spent inside this listener's callbacks. */
  @volatile var selfNs = 0L
  @volatile private var lastEventNs = System.nanoTime()

  private def timed(body: => Unit): Unit = {
    val t0 = System.nanoTime()
    body
    val t1 = System.nanoTime()
    selfNs += t1 - t0
    lastEventNs = t1
  }

  /** Innermost `graft.` frame of a long call-site form, or "". */
  private def graftFrame(details: String): String =
    Option(details).toSeq.flatMap(_.split("\n")).map(_.trim)
      .find(l => l.startsWith("graft.")).getOrElse("")

  override def onJobStart(e: SparkListenerJobStart): Unit = timed {
    val props = Option(e.properties)
    def prop(k: String) = props.flatMap(p => Option(p.getProperty(k)))
    val group = prop("spark.jobGroup.id").getOrElse("")
    val sqlSite = prop("spark.sql.execution.id").flatMap(id => sqlSites.get(id.toLong))
    val site = sqlSite.filter(_.nonEmpty)
      .getOrElse(graftFrame(e.stageInfos.map(_.details).headOption.orNull))
    jobs(e.jobId) = new JobRec(e.jobId, group, site, e.time)
    e.stageIds.foreach(s => stageToJob(s) = e.jobId)
    currentGroup = group
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = timed {
    jobs.get(e.jobId).foreach(_.endMs = e.time)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = timed {
    stageToJob.get(e.stageInfo.stageId).flatMap(jobs.get).foreach(_.stages += 1)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = timed {
    stageToJob.get(e.stageId).flatMap(jobs.get).foreach { j =>
      j.tasks += 1
      if (!e.taskInfo.successful) j.failedTasks += 1
      j.taskWallMs += e.taskInfo.duration
      Option(e.taskMetrics).foreach { m =>
        j.runMs += m.executorRunTime
        j.gcMs += m.jvmGCTime
        j.inputBytes += m.inputMetrics.bytesRead
        j.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
        val r = m.shuffleReadMetrics
        j.shuffleReadBytes += r.localBytesRead + r.remoteBytesRead
        j.fetchWaitMs += r.fetchWaitTime
        j.spillBytes += m.diskBytesSpilled
        j.peakExecBytes = math.max(j.peakExecBytes, m.peakExecutionMemory)
        if (m.inputMetrics.recordsRead + r.recordsRead == 0) j.emptyTasks += 1
      }
    }
  }

  override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = timed {
    val info = e.blockUpdatedInfo
    if (info.blockId.isRDD) {
      val key = info.blockId.name
      val bytes =
        if (info.storageLevel.isValid) info.memSize + info.diskSize else 0L
      residentBytes += bytes - blockBytes.getOrElse(key, 0L)
      if (bytes == 0L) blockBytes.remove(key) else blockBytes(key) = bytes
      val op = currentGroup.takeWhile(_ != '/')
      if (op.nonEmpty)
        peakBlockBytes(op) = math.max(peakBlockBytes.getOrElse(op, 0L), residentBytes)
    }
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit = timed {
    e match {
      case s: SparkListenerSQLExecutionStart =>
        sqlSites(s.executionId) = graftFrame(s.details)
      case _ =>
    }
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    planned(qe)

  override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit =
    planned(qe)

  private def planned(qe: QueryExecution): Unit = timed {
    val ps = Seq(QueryPlanningTracker.OPTIMIZATION, QueryPlanningTracker.PLANNING)
      .flatMap(qe.tracker.phases.get)
    if (ps.nonEmpty)
      plannings += PlanRec(ps.map(_.startTimeMs).min, ps.map(_.durationMs).sum)
  }

  /** Block until the listener has seen no event for `quietMs` (at most
    * `maxMs`), so events posted by finished work have been processed. */
  def quiesce(quietMs: Long = 300, maxMs: Long = 10000): Unit = {
    val deadline = System.nanoTime() + maxMs * 1000000L
    while ((System.nanoTime() - lastEventNs) < quietMs * 1000000L &&
      System.nanoTime() < deadline) Thread.sleep(20)
  }
}
