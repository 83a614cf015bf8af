package graft.perfbench

import java.lang.management.{ManagementFactory, MemoryType}
import javax.management.{Notification, NotificationEmitter, NotificationListener}
import javax.management.openmbean.CompositeData

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import com.sun.management.GarbageCollectionNotificationInfo
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** Scheduler, executor and shuffle counters of one job group. */
final class GroupStats {
  var jobs = 0
  var stages = 0
  var stagesSkipped = 0
  var tasks = 0
  var taskRunMs = 0L
  var taskCpuNs = 0L
  var taskGcMs = 0L
  var shuffleWriteBytes = 0L
  var shuffleReadBytes = 0L
  var fetchWaitMs = 0L
  var spillBytes = 0L
  var taskQueueMs = 0L
  /** Highest max/median task time over this group's stages of >= 4 tasks. */
  var stageSkewMax = 0.0
}

final class JobRec(val id: Int, val group: String, val startMs: Long,
                   val stageIds: Set[Int]) {
  var endMs: Long = -1L
}

final class StageRec(val id: Int, val attempt: Int, val jobId: Int,
                     val submitMs: Long) {
  var completeMs: Long = -1L
  val taskMs = mutable.ArrayBuffer.empty[Long]
}

/** Catalyst phase times of one query execution (wall-clock ms). */
final case class PhaseRec(startMs: Long, analysisMs: Long,
                          optimizationMs: Long, planningMs: Long)

/** The benchmark's measurement layer: one `SparkListener` attributing
  * every job, stage and task to the job group the benchmark set before
  * the call that launched it, plus a `QueryExecutionListener` collecting
  * Catalyst phase times. Events arrive on the listener bus thread; the
  * benchmark reads the records only after draining the bus. */
final class LayerListener extends SparkListener {
  private val GroupKey = "spark.jobGroup.id"

  val jobs = mutable.LinkedHashMap.empty[Int, JobRec]
  val stages = mutable.LinkedHashMap.empty[(Int, Int), StageRec]
  val groups = mutable.HashMap.empty[String, GroupStats]
  val phases = mutable.ArrayBuffer.empty[PhaseRec]
  private val activeJobs = mutable.LinkedHashSet.empty[Int]

  private def statsOf(group: String): GroupStats =
    groups.getOrElseUpdate(group, new GroupStats)

  private def groupOfStage(stageId: Int, attempt: Int): Option[String] =
    stages.get((stageId, attempt)).flatMap(s => jobs.get(s.jobId)).map(_.group)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val group = Option(e.properties).flatMap(p => Option(p.getProperty(GroupKey)))
      .getOrElse("-")
    jobs(e.jobId) = new JobRec(e.jobId, group, e.time, e.stageIds.toSet)
    activeJobs += e.jobId
    statsOf(group).jobs += 1
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    activeJobs -= e.jobId
    jobs.get(e.jobId).foreach { j =>
      j.endMs = e.time
      val ran = stages.values.filter(_.jobId == j.id).map(_.id).toSet
      statsOf(j.group).stagesSkipped += (j.stageIds -- ran).size
    }
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
    val info = e.stageInfo
    // the newest running job that lists the stage is the one running it
    val jobId = activeJobs.toSeq.reverse
      .find(id => jobs(id).stageIds.contains(info.stageId)).getOrElse(-1)
    val submit = info.submissionTime.getOrElse(System.currentTimeMillis())
    stages((info.stageId, info.attemptNumber())) =
      new StageRec(info.stageId, info.attemptNumber(), jobId, submit)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val info = e.stageInfo
    stages.get((info.stageId, info.attemptNumber())).foreach { s =>
      s.completeMs = info.completionTime.getOrElse(System.currentTimeMillis())
      groupOfStage(s.id, s.attempt).foreach { g =>
        val st = statsOf(g)
        st.stages += 1
        if (s.taskMs.size >= 4) {
          val sorted = s.taskMs.sorted
          val median = sorted(sorted.size / 2).max(1L)
          st.stageSkewMax = st.stageSkewMax.max(sorted.last.toDouble / median)
        }
      }
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val stage = stages.get((e.stageId, e.stageAttemptId))
    val group = groupOfStage(e.stageId, e.stageAttemptId).getOrElse("-")
    val st = statsOf(group)
    st.tasks += 1
    val info = e.taskInfo
    if (info != null) {
      stage.foreach { s =>
        s.taskMs += info.duration
        st.taskQueueMs += (info.launchTime - s.submitMs).max(0L)
      }
    }
    val m = e.taskMetrics
    if (m != null) {
      st.taskRunMs += m.executorRunTime
      st.taskCpuNs += m.executorCpuTime
      st.taskGcMs += m.jvmGCTime
      st.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
      st.shuffleReadBytes += m.shuffleReadMetrics.totalBytesRead
      st.fetchWaitMs += m.shuffleReadMetrics.fetchWaitTime
      st.spillBytes += m.diskBytesSpilled
    }
  }

  val queryListener: QueryExecutionListener = new QueryExecutionListener {
    private def record(qe: QueryExecution): Unit = LayerListener.this.synchronized {
      val ph = qe.tracker.phases
      def dur(k: String): Long = ph.get(k).map(p => p.endTimeMs - p.startTimeMs).getOrElse(0L)
      if (ph.nonEmpty)
        phases += PhaseRec(ph.values.map(_.startTimeMs).min,
          dur("analysis"), dur("optimization"), dur("planning"))
    }
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      record(qe)
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
      record(qe)
  }

  def stats(group: String): GroupStats = synchronized(groups.getOrElse(group, new GroupStats))

  def jobsOf(group: String): Seq[JobRec] = synchronized(jobs.values.filter(_.group == group).toSeq)

  def stagesOf(jobId: Int): Seq[StageRec] = synchronized(stages.values.filter(_.jobId == jobId).toSeq)

  def phasesIn(fromMs: Long, toMs: Long): Seq[PhaseRec] =
    synchronized(phases.filter(p => p.startMs >= fromMs && p.startMs <= toMs).toSeq)
}

/** JVM-level probes: GC pause and JIT time from the MXBeans, and the
  * peak heap in use right after a collection (from GC notifications). */
final class JvmProbe {
  private val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == MemoryType.HEAP).map(_.getName).toSet
  @volatile private var peakAfterGc = 0L

  private val onGc = new NotificationListener {
    override def handleNotification(n: Notification, handback: AnyRef): Unit =
      if (n.getType == GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
        val info = GarbageCollectionNotificationInfo.from(n.getUserData.asInstanceOf[CompositeData])
        val used = info.getGcInfo.getMemoryUsageAfterGc.asScala
          .collect { case (pool, u) if heapPools(pool) => u.getUsed }.sum
        if (used > peakAfterGc) peakAfterGc = used
      }
  }
  ManagementFactory.getGarbageCollectorMXBeans.asScala.foreach {
    case e: NotificationEmitter => e.addNotificationListener(onGc, null, null)
    case _ =>
  }

  def gcMs: Long = ManagementFactory.getGarbageCollectorMXBeans.asScala
    .map(_.getCollectionTime.max(0L)).sum

  def jitMs: Long = {
    val c = ManagementFactory.getCompilationMXBean
    if (c != null && c.isCompilationTimeMonitoringSupported) c.getTotalCompilationTime else 0L
  }

  def heapPeakMb: Double = peakAfterGc / 1048576.0
}
