package graft

import scala.collection.immutable.SortedMap

import org.apache.spark.GraftListenerBus
import org.apache.spark.scheduler.{SparkListener, SparkListenerExecutorRemoved,
  SparkListenerJobStart, SparkListenerStageCompleted, SparkListenerTaskEnd,
  SparkListenerTaskStart}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.QueryPlanningTracker
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** The engine's one metrics layer: a `SparkListener` plus an inner
  * `QueryExecutionListener` that record, since the last `reset()`, what
  * the listener bus reports about one session's jobs, stages, tasks and
  * SQL executions. Events arrive asynchronously on the bus thread, so a
  * reader calls `drain()` before `snapshot()`; [[Metrics.during]] does
  * both around one body. Constructing one attaches it to `spark`, and
  * whoever constructs it closes it. */
final class Metrics(spark: SparkSession) extends SparkListener {
  import Metrics._

  private var rec = Snapshot()
  private def update(f: Snapshot => Snapshot): Unit = synchronized {
    rec = f(rec)
  }
  private def updateStage(id: Int)(f: Stage => Stage): Unit = update(r =>
    r.copy(stageMap = r.stageMap.updated(id,
      f(r.stageMap.getOrElse(id, Stage(id))))))

  override def onJobStart(e: SparkListenerJobStart): Unit = update { r =>
    // every job of one action carries its root SQL execution id, so the
    // distinct ids count actions where AQE makes many jobs per action
    val id = Option(e.properties).flatMap(p => Option(p.getProperty(
      "spark.sql.execution.root.id",
      p.getProperty("spark.sql.execution.id"))))
    r.copy(jobs = r.jobs + 1, executionIds = r.executionIds ++ id)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val si = e.stageInfo
    updateStage(si.stageId)(s => s.copy(name = si.name.takeWhile(_ != '\n'),
      wallMs = s.wallMs + (for (a <- si.submissionTime;
        b <- si.completionTime) yield b - a).getOrElse(0L)))
  }

  override def onTaskStart(e: SparkListenerTaskStart): Unit =
    if (e.taskInfo.speculative)
      update(r => r.copy(speculativeTasks = r.speculativeTasks + 1))

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val info = Option(e.taskInfo)
    if (info.exists(_.failed))
      update(r => r.copy(failedTasks = r.failedTasks + 1))
    updateStage(e.stageId) { s0 =>
      val s = s0.copy(taskMs = s0.taskMs ++ info.map(_.duration))
      Option(e.taskMetrics).fold(s)(m => s.copy(
        runMs = s.runMs + m.executorRunTime,
        gcMs = s.gcMs + m.jvmGCTime,
        spillBytes = s.spillBytes + m.memoryBytesSpilled + m.diskBytesSpilled,
        shuffleReadBytes =
          s.shuffleReadBytes + m.shuffleReadMetrics.totalBytesRead,
        shuffleWriteBytes =
          s.shuffleWriteBytes + m.shuffleWriteMetrics.bytesWritten,
        inputBytes = s.inputBytes + m.inputMetrics.bytesRead))
    }
  }

  override def onExecutorRemoved(e: SparkListenerExecutorRemoved): Unit =
    update(r => r.copy(executorsRemoved = r.executorsRemoved + 1))

  private val catalyst = new QueryExecutionListener {
    override def onSuccess(fn: String, qe: QueryExecution,
        durationNs: Long): Unit = update { r =>
      def ms(phase: String): Long = qe.tracker.phases.get(phase)
        .map(p => p.endTimeMs - p.startTimeMs).getOrElse(0L)
      r.copy(catalystQueries = r.catalystQueries + 1,
        analysisMs = r.analysisMs + ms(QueryPlanningTracker.ANALYSIS),
        optimizationMs =
          r.optimizationMs + ms(QueryPlanningTracker.OPTIMIZATION),
        planningMs = r.planningMs + ms(QueryPlanningTracker.PLANNING))
    }
    override def onFailure(fn: String, qe: QueryExecution,
        e: Exception): Unit = ()
  }

  spark.sparkContext.addSparkListener(this)
  spark.listenerManager.register(catalyst)

  /** Blocks until every event posted so far has reached every listener;
    * fails loudly if the bus does not empty within a minute. */
  def drain(): Unit =
    GraftListenerBus.waitUntilEmpty(spark.sparkContext, 60000L)

  def snapshot(): Snapshot = synchronized(rec)

  def reset(): Unit = update(_ => Snapshot())

  def close(): Unit = {
    spark.sparkContext.removeSparkListener(this)
    spark.listenerManager.unregister(catalyst)
  }
}

object Metrics {

  /** Runs `body` and returns its result with the record of exactly the
    * events it caused. The bus is drained before the reset because a
    * listener also receives events that were posted before it attached
    * but not yet delivered. */
  def during[T](spark: SparkSession)(body: => T): (T, Snapshot) = {
    val m = new Metrics(spark)
    try {
      m.drain(); m.reset()
      val r = body
      m.drain()
      (r, m.snapshot())
    } finally m.close()
  }

  private def median(xs: Seq[Long]): Long =
    if (xs.isEmpty) 0L else xs.sorted.apply(xs.size / 2)

  /** One stage's totals; attempts of a retried stage add up. */
  final case class Stage(id: Int, name: String = "", wallMs: Long = 0,
      taskMs: Vector[Long] = Vector.empty, runMs: Long = 0, gcMs: Long = 0,
      spillBytes: Long = 0, shuffleReadBytes: Long = 0,
      shuffleWriteBytes: Long = 0, inputBytes: Long = 0) {
    def maxTaskMs: Long = taskMs.maxOption.getOrElse(0L)
    def medTaskMs: Long = median(taskMs)
  }

  /** The record since the last reset. The Catalyst times are summed over
    * the `catalystQueries` successful SQL executions. */
  final case class Snapshot(jobs: Int = 0,
      executionIds: Set[String] = Set.empty,
      stageMap: SortedMap[Int, Stage] = SortedMap.empty,
      failedTasks: Int = 0, speculativeTasks: Int = 0,
      executorsRemoved: Int = 0, catalystQueries: Int = 0,
      analysisMs: Long = 0, optimizationMs: Long = 0, planningMs: Long = 0) {
    def executions: Int = executionIds.size
    def stages: Seq[Stage] = stageMap.values.toSeq
    def taskMs: Seq[Long] = stages.flatMap(_.taskMs)
    def gcMs: Long = stages.map(_.gcMs).sum
    def spillBytes: Long = stages.map(_.spillBytes).sum
    def shuffleReadBytes: Long = stages.map(_.shuffleReadBytes).sum
    def shuffleWriteBytes: Long = stages.map(_.shuffleWriteBytes).sum

    /** The per-query layer record of the bench JSON. */
    def json: String = Seq("jobs" -> jobs, "stages" -> stages.size,
      "executions" -> executions, "task_ms_sum" -> taskMs.sum,
      "task_ms_max" -> taskMs.maxOption.getOrElse(0L),
      "task_ms_med" -> median(taskMs), "shuffle_read_bytes" -> shuffleReadBytes,
      "shuffle_write_bytes" -> shuffleWriteBytes, "spill_bytes" -> spillBytes,
      "gc_ms" -> gcMs, "analysis_ms" -> analysisMs,
      "optimization_ms" -> optimizationMs, "planning_ms" -> planningMs)
      .map { case (k, v) => s"\"$k\":$v" }.mkString("{", ",", "}")
  }
}
