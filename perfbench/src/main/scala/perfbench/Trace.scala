package perfbench

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.FileSystem
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}
import org.apache.spark.sql.util.QueryExecutionListener
import org.json4s._
import org.json4s.JsonDSL._

/** Layer records of the traced ops, gathered from outside the program
  * through public listeners. Jobs belong to the op whose id the submitting
  * thread carried in the [[Trace.OpProperty]] local property when the job
  * was submitted; jobs without it (untraced passes) are ignored. Plans are
  * matched to ops later by time, since a plan callback carries no local
  * properties. All callbacks run on Spark's listener-bus threads. */
final class Trace extends SparkListener with QueryExecutionListener {
  private final class StageRec {
    var tasks = 0L
    var tinyTasks = 0L
    var json: JValue = JNothing
  }

  private val lock = new Object
  private val jobs = mutable.ArrayBuffer.empty[JValue]
  private val openJobs = mutable.Map.empty[Int, (String, Long, String, String, Seq[Int])]
  private val execSites = mutable.Map.empty[Long, String]
  private val stageOwner = mutable.Map.empty[Int, (String, Int)]
  private val stages = mutable.Map.empty[(Int, Int), StageRec]
  private val plans = mutable.ArrayBuffer.empty[JValue]
  @volatile private var lastEventNs = System.nanoTime()

  private def touch(): Unit = lastEventNs = System.nanoTime()

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    touch()
    val op = Option(e.properties).flatMap(p => Option(p.getProperty(Trace.OpProperty)))
    op.foreach { id =>
      // the result stage is the job's newest; its call site is the job's
      val site = if (e.stageInfos.isEmpty) "" else e.stageInfos.maxBy(_.stageId).details
      val exec = Option(e.properties.getProperty("spark.sql.execution.id")).map(_.toLong)
      lock.synchronized {
        val execSite = exec.flatMap(execSites.get).getOrElse("")
        openJobs(e.jobId) = (id, e.time, site, execSite, e.stageIds)
        e.stageIds.foreach(s => stageOwner(s) = (id, e.jobId))
      }
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = {
    touch()
    lock.synchronized {
      openJobs.remove(e.jobId).foreach { case (op, start, site, execSite, stageIds) =>
        val ok = e.jobResult == JobSucceeded
        jobs += ("id" -> e.jobId) ~ ("op" -> op) ~ ("start_ms" -> start) ~
          ("end_ms" -> e.time) ~ ("ok" -> ok) ~ ("stages" -> stageIds.toList) ~
          ("call_site" -> site) ~ ("exec_call_site" -> execSite)
      }
    }
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: SparkListenerSQLExecutionStart =>
      touch()
      lock.synchronized(execSites(s.executionId) = s.details)
    case s: SparkListenerSQLExecutionEnd =>
      touch()
      lock.synchronized(execSites.remove(s.executionId))
    case _ =>
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    touch()
    lock.synchronized {
      stageOwner.get(e.stageId).foreach { _ =>
        val rec = stages.getOrElseUpdate((e.stageId, e.stageAttemptId), new StageRec)
        rec.tasks += 1
        if (e.taskInfo != null && e.taskInfo.duration < Trace.TinyTaskMs) rec.tinyTasks += 1
      }
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    touch()
    val info = e.stageInfo
    lock.synchronized {
      stageOwner.get(info.stageId).foreach { case (op, job) =>
        val rec = stages.getOrElseUpdate((info.stageId, info.attemptNumber()), new StageRec)
        val m = info.taskMetrics
        // RDDs a stage reads from a persisted copy are not recomputed
        val computed = info.rddInfos.filterNot(_.storageLevel.isValid).map(_.id)
        def metric(f: org.apache.spark.executor.TaskMetrics => Long): Long =
          if (m == null) 0L else f(m)
        rec.json = ("id" -> info.stageId) ~ ("attempt" -> info.attemptNumber()) ~
          ("op" -> op) ~ ("job" -> job) ~
          ("submit_ms" -> info.submissionTime.getOrElse(0L)) ~
          ("end_ms" -> info.completionTime.getOrElse(0L)) ~
          ("ok" -> info.failureReason.isEmpty) ~ ("rdds" -> computed.sorted.toList) ~
          ("tasks" -> rec.tasks) ~ ("tiny_tasks" -> rec.tinyTasks) ~
          ("executor_run_ms" -> metric(_.executorRunTime)) ~
          ("executor_cpu_ms" -> metric(_.executorCpuTime / 1000000L)) ~
          ("gc_ms" -> metric(_.jvmGCTime)) ~
          ("shuffle_read_bytes" -> metric(_.shuffleReadMetrics.totalBytesRead)) ~
          ("shuffle_write_bytes" -> metric(_.shuffleWriteMetrics.bytesWritten)) ~
          ("input_bytes" -> metric(_.inputMetrics.bytesRead)) ~
          ("spill_bytes" -> metric(t => t.memoryBytesSpilled + t.diskBytesSpilled)) ~
          ("result_bytes" -> metric(_.resultSize))
      }
    }
  }

  private def plan(qe: QueryExecution, ok: Boolean): Unit = {
    touch()
    val phases = qe.tracker.phases.values
    if (phases.nonEmpty) lock.synchronized {
      plans += ("end_ms" -> phases.map(_.endTimeMs).max) ~
        ("plan_ms" -> phases.map(_.durationMs).sum) ~ ("ok" -> ok)
    }
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    plan(qe, ok = true)

  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
    plan(qe, ok = false)

  /** Waits until no listener event has arrived for a while and every
    * traced job has ended, so the record is complete before it is read. */
  def drain(timeoutMs: Long = 10000L): Unit = {
    val deadline = System.nanoTime() + timeoutMs * 1000000L
    def quiet = System.nanoTime() - lastEventNs > 300L * 1000000L
    while (System.nanoTime() < deadline &&
        !(quiet && lock.synchronized(openJobs.isEmpty))) Thread.sleep(50)
  }

  def jobsJson: JArray = lock.synchronized(JArray(jobs.toList))
  def stagesJson: JArray =
    lock.synchronized(JArray(stages.values.map(_.json).filter(_ != JNothing).toList))
  def plansJson: JArray = lock.synchronized(JArray(plans.toList))
}

object Trace {
  /** Local property naming the traced op a job belongs to. */
  val OpProperty = "perfbench.op"

  /** A task shorter than this is mostly scheduling overhead. */
  val TinyTaskMs = 20L

  /** Hadoop's process-wide byte counters for the local filesystem, summed
    * over its filesystem classes (each class keeps its own). Under
    * `local[N]` the executors share the driver's JVM, so they count every
    * task's reads and writes too. The local filesystem does not count
    * operations, so those counters are left out. */
  @annotation.nowarn("cat=deprecation")
  def fsCounts(): Map[String, Long] = {
    val local = FileSystem.getAllStatistics.asScala.filter(_.getScheme == "file")
    Map(
      "fs.bytes_read" -> local.map(_.getBytesRead).sum,
      "fs.bytes_written" -> local.map(_.getBytesWritten).sum)
  }
}
