package etlbench

import scala.collection.mutable

import org.apache.spark.BusDrain
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.datasources.FilePartition
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import org.apache.spark.sql.util.QueryExecutionListener

/** Per-layer recorder for traced runs: every Spark job, stage and task
  * (a `SparkListener`) and every Catalyst phase and scanned-file count of
  * every QueryExecution (a `QueryExecutionListener`). It only records
  * timestamped facts; the split into layers happens when the result is
  * evaluated (`layers.py`), against the op windows the harness timed.
  * Installed only with `--trace 1`.
  *
  * A job is attributed to the repo function that launched it by its call
  * site: the job's `callSite.short` property where Spark sets one, else
  * the call site of the SQL execution the job belongs to (adaptive
  * execution submits most jobs from a pool thread, whose own call site
  * names no repo code). `fn` is the innermost `graft.` frame of that
  * execution's call stack. */
final class Trace extends SparkListener with QueryExecutionListener {

  private final class Stage(val id: Int, val job: Int) {
    var submitted = 0L
    var completed = 0L
    var tasks = 0
    var failed = 0
    var taskMs = 0L
    var cpuNs = 0L
    var gcMs = 0L
    var shuffleRead = 0L
    var shuffleWrite = 0L
    var spill = 0L
    var inputBytes = 0L
    var firstLaunch = Long.MaxValue
    var lastFinish = 0L
  }
  private final class Job(val id: Int, val submitted: Long, val callSite: String,
      val fn: String, val stageIds: Seq[Int]) {
    var ended = 0L
  }

  private val jobs = mutable.LinkedHashMap[Int, Job]()
  private val stageJob = mutable.Map[Int, Int]()
  private val stages = mutable.LinkedHashMap[(Int, Int), Stage]()
  private val phases = mutable.ArrayBuffer[(String, Long, Long)]()
  private val scans = mutable.ArrayBuffer[(Long, Long)]()
  private val executions = mutable.Map[Long, (String, String)]()

  private def repoFrame(stack: String): String =
    stack.linesIterator.map(_.trim).find(_.startsWith("graft."))
      .map(_.takeWhile(_ != '(').replace("$", "")).getOrElse("")

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case x: SparkListenerSQLExecutionStart => synchronized {
      executions(x.executionId) = (x.description, repoFrame(x.details))
    }
    case _ =>
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val prop = (k: String) => Option(e.properties).flatMap(p => Option(p.getProperty(k)))
    val exec = prop("spark.sql.execution.id").flatMap(id => executions.get(id.toLong))
    val site = prop("callSite.short").orElse(exec.map(_._1))
      .getOrElse(e.stageInfos.sortBy(_.stageId).lastOption.map(_.name).getOrElse(""))
    jobs(e.jobId) = new Job(e.jobId, e.time, site, exec.map(_._2).getOrElse(""), e.stageIds)
    e.stageIds.foreach(stageJob(_) = e.jobId)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach(_.ended = e.time)
  }

  private def stage(info: StageInfo): Stage =
    stages.getOrElseUpdate((info.stageId, info.attemptNumber()),
      new Stage(info.stageId, stageJob.getOrElse(info.stageId, -1)))

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
    val s = stage(e.stageInfo)
    s.submitted = e.stageInfo.submissionTime.getOrElse(0L)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    stage(e.stageInfo).completed = e.stageInfo.completionTime.getOrElse(0L)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val s = stages.getOrElseUpdate((e.stageId, e.stageAttemptId),
      new Stage(e.stageId, stageJob.getOrElse(e.stageId, -1)))
    val i = e.taskInfo
    s.tasks += 1
    if (!i.successful) s.failed += 1
    s.taskMs += i.finishTime - i.launchTime
    s.firstLaunch = math.min(s.firstLaunch, i.launchTime)
    s.lastFinish = math.max(s.lastFinish, i.finishTime)
    Option(e.taskMetrics).foreach { m =>
      s.cpuNs += m.executorCpuTime
      s.gcMs += m.jvmGCTime
      s.shuffleRead += m.shuffleReadMetrics.totalBytesRead
      s.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      s.spill += m.memoryBytesSpilled + m.diskBytesSpilled
      s.inputBytes += m.inputMetrics.bytesRead
    }
  }

  /** Files the plan's scans read: the `numFiles` metric of V1 scans, the
    * planned file splits of V2 file scans. */
  private def filesScanned(plan: SparkPlan): Long = plan match {
    case a: AdaptiveSparkPlanExec => filesScanned(a.executedPlan)
    case q: QueryStageExec => filesScanned(q.plan)
    case f: FileSourceScanExec => f.metrics.get("numFiles").map(_.value).getOrElse(0L)
    case b: BatchScanExec => b.inputPartitions.collect {
      case p: FilePartition => p.files.length.toLong }.sum
    case other => (other.children ++ other.subqueries).map(filesScanned).sum
  }

  private def record(qe: QueryExecution): Unit = {
    val ps = qe.tracker.phases.toSeq
    val files = try filesScanned(qe.executedPlan) catch { case _: Exception => 0L }
    synchronized {
      ps.foreach { case (name, p) => phases += ((name, p.startTimeMs, p.endTimeMs)) }
      if (ps.nonEmpty) scans += ((ps.map(_._2.startTimeMs).min, files))
    }
  }
  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = record(qe)
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = record(qe)

  /** Everything recorded, once the listener bus has delivered it. */
  def dump(spark: SparkSession): Map[String, Any] = {
    BusDrain(spark.sparkContext)
    synchronized {
      Map(
        "jobs" -> jobs.values.map(j => Map("id" -> j.id, "submitted" -> j.submitted,
          "ended" -> j.ended, "site" -> j.callSite, "fn" -> j.fn, "stages" -> j.stageIds)).toSeq,
        "stages" -> stages.values.map(s => Map("id" -> s.id, "job" -> s.job,
          "submitted" -> s.submitted, "completed" -> s.completed,
          "tasks" -> s.tasks, "failed" -> s.failed, "task_ms" -> s.taskMs,
          "cpu_ns" -> s.cpuNs, "gc_ms" -> s.gcMs, "shuffle_read" -> s.shuffleRead,
          "shuffle_write" -> s.shuffleWrite, "spill" -> s.spill, "input_bytes" -> s.inputBytes,
          "first_launch" -> (if (s.tasks == 0) 0L else s.firstLaunch),
          "last_finish" -> s.lastFinish)).toSeq,
        "phases" -> phases.map { case (n, a, b) => Seq(n, a, b) }.toSeq,
        "scans" -> scans.map { case (t, n) => Seq(t, n) }.toSeq)
    }
  }
}

object Trace {
  def install(spark: SparkSession): Trace = {
    val t = new Trace
    spark.sparkContext.addSparkListener(t)
    spark.listenerManager.register(t)
    t
  }
}
