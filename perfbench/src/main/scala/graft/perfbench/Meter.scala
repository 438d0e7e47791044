package graft.perfbench

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}
import org.apache.spark.sql.util.QueryExecutionListener

import scala.collection.mutable

/** Engine totals at one instant. Differences of two snapshots give the
  * work done between them. */
final case class Counters(jobs: Long = 0, stages: Long = 0, tasks: Long = 0,
                          cpuNs: Long = 0, gcMs: Long = 0, scanBytes: Long = 0,
                          shuffleBytes: Long = 0, planMs: Long = 0) {
  def -(o: Counters): Counters = Counters(jobs - o.jobs, stages - o.stages, tasks - o.tasks,
    cpuNs - o.cpuNs, gcMs - o.gcMs, scanBytes - o.scanBytes,
    shuffleBytes - o.shuffleBytes, planMs - o.planMs)
  def +(o: Counters): Counters = Counters(jobs + o.jobs, stages + o.stages, tasks + o.tasks,
    cpuNs + o.cpuNs, gcMs + o.gcMs, scanBytes + o.scanBytes,
    shuffleBytes + o.shuffleBytes, planMs + o.planMs)
  def cpuS: Double = cpuNs / 1e9
}

/** One Spark job as the listener saw it (times in epoch ms). */
final case class JobRec(id: Int, start: Long, var end: Long, description: String,
                        executionId: Long, var work: Counters = Counters())

/** One SQL execution: its wall, and the table or path it wrote, if any. */
final case class ExecRec(id: Long, start: Long, target: String, var end: Long = -1)

/** The benchmark's own listener, registered on its own session. It
  * keeps task totals always; with `timeline` on it also keeps plan time,
  * scanned bytes and the per-job and per-execution records the traced
  * run attributes to layers. Every read first drains the listener bus. */
final class Meter(spark: SparkSession, timeline: Boolean)
    extends SparkListener with QueryExecutionListener {
  private var totals = Counters()
  private val stageSpans = mutable.ArrayBuffer.empty[(Long, Long)]
  private val stageJob = mutable.HashMap.empty[Int, JobRec]
  private val jobs = mutable.ArrayBuffer.empty[JobRec]
  private val execs = mutable.LinkedHashMap.empty[Long, ExecRec]

  spark.sparkContext.addSparkListener(this)
  if (timeline) spark.listenerManager.register(this)

  def drain(): Unit = org.apache.spark.BenchBus.drain(spark.sparkContext)

  def snapshot(): Counters = { drain(); synchronized(totals) }

  /** Milliseconds of [t0, t1] covered by at least one running stage. */
  def stageCoveredMs(t0: Long, t1: Long): Long = {
    drain()
    Stats.covered(synchronized(stageSpans.toList)
      .map { case (a, b) => (math.max(a, t0), math.min(b, t1)) })
  }

  def jobsBetween(t0: Long, t1: Long): List[JobRec] = {
    drain(); synchronized(jobs.filter(j => j.start >= t0 && j.start <= t1).toList)
  }

  def execsBetween(t0: Long, t1: Long): List[ExecRec] = {
    drain(); synchronized(execs.values.filter(e => e.start >= t0 && e.start <= t1).toList)
  }

  /** Engine work of the jobs that ran under one SQL execution. */
  def execWork(id: Long): Counters = synchronized(
    jobs.filter(_.executionId == id).foldLeft(Counters())(_ + _.work))

  /** Forget timeline records (totals stay), so long runs keep memory flat. */
  def clearTimeline(): Unit = {
    drain(); synchronized { jobs.clear(); execs.clear(); stageSpans.clear(); stageJob.clear() }
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    totals = totals.copy(jobs = totals.jobs + 1)
    if (timeline) {
      val p = e.properties
      def prop(k: String) = if (p == null) null else p.getProperty(k)
      val rec = JobRec(e.jobId, e.time, -1, Option(prop("spark.job.description")).getOrElse(""),
        Option(prop("spark.sql.execution.id")).map(_.toLong).getOrElse(-1L))
      jobs += rec
      e.stageIds.foreach(s => stageJob(s) = rec)
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    if (timeline) jobs.reverseIterator.find(_.id == e.jobId).foreach(_.end = e.time)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    totals = totals.copy(stages = totals.stages + 1)
    for (a <- e.stageInfo.submissionTime; b <- e.stageInfo.completionTime) stageSpans += ((a, b))
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    val w =
      if (m == null) Counters(tasks = 1)
      else Counters(tasks = 1, cpuNs = m.executorCpuTime, gcMs = m.jvmGCTime,
        shuffleBytes = m.shuffleReadMetrics.totalBytesRead + m.shuffleWriteMetrics.bytesWritten)
    totals = totals + w
    if (timeline) stageJob.get(e.stageId).foreach(j => j.work = j.work + w)
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit = if (timeline) e match {
    case s: SparkListenerSQLExecutionStart => synchronized {
      execs(s.executionId) = ExecRec(s.executionId, s.time,
        target = Meter.writeTarget(s.physicalPlanDescription).getOrElse(""))
    }
    case s: SparkListenerSQLExecutionEnd => synchronized {
      execs.get(s.executionId).foreach(_.end = s.time)
    }
    case _ =>
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
    val plan = qe.tracker.phases.values.map(_.durationMs).sum
    val scan = Meter.scanBytes(qe)
    synchronized { totals = totals.copy(planMs = totals.planMs + plan,
      scanBytes = totals.scanBytes + scan) }
  }

  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
}

object Meter extends AdaptiveSparkPlanHelper {
  /** Bytes of the files an execution's scans selected. Task input
    * metrics cannot serve here: parquet's vectored reads on the local
    * file system bypass the file-system counters they are built from. */
  def scanBytes(qe: QueryExecution): Long =
    collectWithSubqueries(qe.executedPlan) { case s: FileSourceScanExec =>
      s.metrics.get("filesSize").map(_.value).getOrElse(0L) }.sum

  // a write's target is the first argument in its command node's details
  // section of the formatted plan
  private def command(name: String) =
    ("""\(\d+\) Execute """ + name + """\s*\n(?:[^\n]*\n)*?Arguments: ([^,\s]+)""").r.unanchored
  private val Insert = command("InsertIntoHadoopFsRelationCommand")
  private val Create = command("CreateDataSourceTableAsSelectCommand")

  /** The path or table a write execution targets, from its plan text. */
  def writeTarget(plan: String): Option[String] = plan match {
    case Insert(path) => Some(path)
    case Create(table) => Some(table.split('.').last.stripPrefix("`").stripSuffix("`"))
    case _ => None
  }
}
