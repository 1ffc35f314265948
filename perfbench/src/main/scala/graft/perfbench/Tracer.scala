package graft.perfbench

import scala.collection.mutable
import org.apache.spark.{PerfbenchBus, SparkContext}
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution, WholeStageCodegenExec}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.command.{DataWritingCommand, DataWritingCommandExec}
import org.apache.spark.sql.util.QueryExecutionListener

/** Counters of one traced operation (a span). All times in ms unless the
  * name says otherwise. */
final class Span(val name: String) {
  var wallS, constructS = 0.0
  var memoBuilds = 0
  var jobs, stages, tasks = 0L
  var jobUnionMs = 0L
  var taskRunMs, taskCpuNs, gcMs, spillBytes = 0L
  var scanBytes, scanRows, scanTimeMs = 0L
  var shuffleWriteBytes, shuffleWriteRecords, shuffleReadBytes, fetchWaitMs = 0L
  var wscgMs, planMs, writeNs = 0L
  var writeBytes, writeFiles = 0L
  private[perfbench] val jobIntervals = mutable.ArrayBuffer.empty[(Long, Long)]

  /** Length of the union of this span's job intervals. */
  private[perfbench] def closeJobs(): Unit = {
    var end = Long.MinValue
    var total = 0L
    jobIntervals.sortBy(_._1).foreach { case (s, e) =>
      if (s >= end) { total += e - s; end = e }
      else if (e > end) { total += e - end; end = e }
    }
    jobUnionMs = total
  }

  def fields: Map[String, Any] = Map(
    "name" -> name, "wall_s" -> wallS, "construct_s" -> constructS,
    "memo_builds" -> memoBuilds, "jobs" -> jobs, "stages" -> stages, "tasks" -> tasks,
    "job_union_s" -> jobUnionMs / 1e3, "task_run_s" -> taskRunMs / 1e3,
    "task_cpu_s" -> taskCpuNs / 1e9, "gc_s" -> gcMs / 1e3, "spill_bytes" -> spillBytes,
    "scan_bytes" -> scanBytes, "scan_rows" -> scanRows, "scan_time_s" -> scanTimeMs / 1e3,
    "shuffle_write_bytes" -> shuffleWriteBytes, "shuffle_write_records" -> shuffleWriteRecords,
    "shuffle_read_bytes" -> shuffleReadBytes, "shuffle_fetch_wait_s" -> fetchWaitMs / 1e3,
    "wscg_s" -> wscgMs / 1e3, "plan_s" -> planMs / 1e3, "write_s" -> writeNs / 1e9,
    "bytes_written" -> writeBytes, "files_written" -> writeFiles)
}

/** Records Spark's own view of each span from outside the engine: a
  * `SparkListener` for jobs, stages and task metrics, and a
  * `QueryExecutionListener` for planning phases, SQL metrics of the
  * executed plan and write-command durations.
  *
  * Jobs are attributed through the job group the harness sets on its
  * thread before each span; stages and tasks follow their job. Events
  * without a group (jobs submitted from pool threads, query-execution
  * callbacks) go to the current span, which is exact because the harness
  * drains the listener bus before it moves to the next span. */
final class Tracer(sc: SparkContext) extends SparkListener with QueryExecutionListener {
  private val GroupPrefix = "perfbench-"
  val spans = mutable.ArrayBuffer.empty[Span]
  @volatile private var current: Option[Span] = None
  private val jobOwner = mutable.Map.empty[Int, (Span, Long)]
  private val stageOwner = mutable.Map.empty[Int, Span]

  /** Opens a span on the calling thread. */
  def open(name: String): Span = {
    PerfbenchBus.drain(sc)
    val s = new Span(name)
    synchronized { spans += s; current = Some(s) }
    sc.setJobGroup(GroupPrefix + (spans.size - 1), name, interruptOnCancel = false)
    s
  }

  /** Closes the current span once all of its events have been seen;
    * events arriving outside any span are dropped. */
  def close(): Unit = {
    PerfbenchBus.drain(sc)
    sc.clearJobGroup()
    synchronized {
      current.foreach(_.closeJobs())
      current = None
    }
  }

  private def ownerOf(props: java.util.Properties): Option[Span] =
    Option(props).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      .filter(_.startsWith(GroupPrefix))
      .flatMap(g => g.stripPrefix(GroupPrefix).toIntOption)
      .filter(_ < spans.size).map(spans(_))
      .orElse(current)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    ownerOf(e.properties).foreach { s =>
      s.jobs += 1
      s.stages += e.stageInfos.size
      e.stageIds.foreach(stageOwner(_) = s)
      jobOwner(e.jobId) = (s, e.time)
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobOwner.remove(e.jobId).foreach { case (s, t0) => s.jobIntervals += ((t0, e.time)) }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    stageOwner.get(e.stageId).orElse(current).foreach { s =>
      s.tasks += 1
      val m = e.taskMetrics
      if (m != null) {
        s.taskRunMs += m.executorRunTime
        s.taskCpuNs += m.executorCpuTime
        s.gcMs += m.jvmGCTime
        s.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
        s.scanBytes += m.inputMetrics.bytesRead
        s.scanRows += m.inputMetrics.recordsRead
        s.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
        s.shuffleWriteRecords += m.shuffleWriteMetrics.recordsWritten
        s.shuffleReadBytes += m.shuffleReadMetrics.totalBytesRead
        s.fetchWaitMs += m.shuffleReadMetrics.fetchWaitTime
      }
    }
  }

  private object Plans extends AdaptiveSparkPlanHelper

  private def record(qe: QueryExecution, durationNs: Long, succeeded: Boolean): Unit = synchronized {
    current.foreach { s =>
      s.planMs += qe.tracker.phases.values.map(_.durationMs).sum
      if (succeeded) {
        val plan = qe.executedPlan
        def metric(p: org.apache.spark.sql.execution.SparkPlan, key: String): Long =
          p.metrics.get(key).map(_.value).getOrElse(0L)
        s.scanTimeMs += Plans.collectWithSubqueries(plan) {
          case scan: FileSourceScanExec => metric(scan, "scanTime") }.sum
        s.wscgMs += Plans.collectWithSubqueries(plan) {
          case wscg: WholeStageCodegenExec => metric(wscg, "pipelineTime") }.sum
        val writes = qe.logical.isInstanceOf[DataWritingCommand] ||
          Plans.collectWithSubqueries(plan) { case w: DataWritingCommandExec => w }.nonEmpty
        if (writes) s.writeNs += durationNs
      }
    }
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    record(qe, durationNs, succeeded = true)

  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
    record(qe, 0L, succeeded = false)
}
