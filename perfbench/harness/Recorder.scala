package perfbench

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue, CountDownLatch, TimeUnit}

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import org.apache.spark.sql.util.QueryExecutionListener

/** Wall clock in epoch microseconds, read from the monotonic clock.
  * Spark's listener events carry epoch milliseconds, so operation
  * boundaries are kept on the same axis to nest jobs inside them.
  */
object Clock {
  private val anchorNs = System.nanoTime()
  private val anchorUs = System.currentTimeMillis() * 1000L
  def nowUs(): Long = anchorUs + (System.nanoTime() - anchorNs) / 1000L
}

final class JobRec(val id: Int, val startMs: Long, val op: String,
                   val phase: String, val stageIds: Seq[Int], val execution: Long) {
  @volatile var endMs: Long = -1L
  @volatile var ok: Boolean = true
}

final class StageRec(val id: Int, val attempt: Int, val name: String,
                     val details: String, val numTasks: Int,
                     val submitMs: Long, val completeMs: Long,
                     val inputBytes: Long, val inputRecords: Long,
                     val outputBytes: Long, val shuffleReadBytes: Long,
                     val shuffleWriteBytes: Long, val spillBytes: Long,
                     val runTimeMs: Long, val taskMs: Seq[Long])

final case class PhaseRec(name: String, startMs: Long, endMs: Long, func: String)

/** Bytes of the files an action's scans selected, stamped with the
  * action's planning time so it can be placed inside an operation. */
final case class ScanRec(atMs: Long, bytes: Long)

/** Events gathered by the two listeners while tracing is on. The
  * listeners run on Spark's listener-bus threads; operations are tagged
  * through thread-local job properties set by the driver loop.
  */
object Recorder {
  @volatile var enabled = false
  val jobs = new ConcurrentHashMap[Int, JobRec]()
  val stageJob = new ConcurrentHashMap[Int, Int]()
  val stages = new ConcurrentLinkedQueue[(Int, StageRec)]()
  val phases = new ConcurrentLinkedQueue[PhaseRec]()
  val scans = new ConcurrentLinkedQueue[ScanRec]()
  /** SQL execution id -> call site of the action that started it: jobs
    * that adaptive execution submits from its own threads keep only the
    * execution id, not the caller's stack. */
  val executions = new ConcurrentHashMap[Long, String]()
  private val taskMs = new ConcurrentHashMap[(Int, Int), ConcurrentLinkedQueue[Long]]()
  @volatile private var markerJob: CountDownLatch = new CountDownLatch(1)
  @volatile private var markerQe: CountDownLatch = new CountDownLatch(1)

  val Marker = "__drain__"

  def addTask(stage: Int, attempt: Int, ms: Long): Unit =
    taskMs.computeIfAbsent((stage, attempt), _ => new ConcurrentLinkedQueue[Long]()).add(ms)

  def tasksOf(stage: Int, attempt: Int): Seq[Long] =
    Option(taskMs.get((stage, attempt))).map(_.asScala.toSeq).getOrElse(Nil)

  def jobEndedMarker(): Unit = markerJob.countDown()
  def qeMarker(): Unit = markerQe.countDown()

  /** Run one marker job and one marker query, then wait until both
    * listeners have seen them: events are delivered in order per queue,
    * so everything posted before the markers has been recorded.
    */
  def drain(spark: org.apache.spark.sql.SparkSession): Unit = {
    markerJob = new CountDownLatch(1)
    markerQe = new CountDownLatch(1)
    val sc = spark.sparkContext
    sc.setLocalProperty("perfbench.op", Marker)
    sc.parallelize(Seq(1), 1).count()
    spark.range(1).toDF("perfbench_marker").collect()
    sc.setLocalProperty("perfbench.op", null)
    markerJob.await(30, TimeUnit.SECONDS)
    markerQe.await(30, TimeUnit.SECONDS)
  }
}

/** SparkListener half of the trace: jobs, stages and task durations. */
final class JobProbe extends SparkListener {
  override def onJobStart(e: SparkListenerJobStart): Unit = if (Recorder.enabled) {
    val p = Option(e.properties)
    val op = p.map(_.getProperty("perfbench.op")).orNull
    val phase = p.map(_.getProperty("perfbench.phase")).orNull
    val execution = p.flatMap(x => Option(x.getProperty("spark.sql.execution.id")))
      .map(_.toLong).getOrElse(-1L)
    Recorder.jobs.put(e.jobId, new JobRec(e.jobId, e.time, op, phase, e.stageIds, execution))
    e.stageIds.foreach(s => Recorder.stageJob.putIfAbsent(s, e.jobId))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = {
    val j = Recorder.jobs.get(e.jobId)
    if (j != null) {
      j.endMs = e.time
      j.ok = e.jobResult == JobSucceeded
      if (j.op == Recorder.Marker) Recorder.jobEndedMarker()
    }
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case x: SparkListenerSQLExecutionStart if Recorder.enabled =>
      Recorder.executions.put(x.executionId,
        Option(x.details).getOrElse("").linesIterator.take(16).mkString("\n"))
    case _ =>
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    if (Recorder.enabled && e.taskInfo != null)
      Recorder.addTask(e.stageId, e.stageAttemptId, e.taskInfo.duration)

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = if (Recorder.enabled) {
    val si = e.stageInfo
    val job = Recorder.stageJob.getOrDefault(si.stageId, -1)
    val m = si.taskMetrics
    def v(f: => Long): Long = if (m == null) 0L else f
    Recorder.stages.add(job -> new StageRec(
      si.stageId, si.attemptNumber(), si.name, Option(si.details).getOrElse(""),
      si.numTasks, si.submissionTime.getOrElse(-1L), si.completionTime.getOrElse(-1L),
      v(m.inputMetrics.bytesRead), v(m.inputMetrics.recordsRead),
      v(m.outputMetrics.bytesWritten), v(m.shuffleReadMetrics.totalBytesRead),
      v(m.shuffleWriteMetrics.bytesWritten),
      v(m.memoryBytesSpilled + m.diskBytesSpilled), v(m.executorRunTime),
      Recorder.tasksOf(si.stageId, si.attemptNumber())))
  }
}

/** QueryExecutionListener half: Catalyst phase times of every action.
  * Installed through `spark.sql.queryExecutionListeners`, so Spark
  * instantiates it; it reports into the shared Recorder.
  */
final class QeProbe extends QueryExecutionListener {
  private def record(func: String, qe: QueryExecution): Unit = {
    val marker =
      try qe.analyzed.output.exists(_.name == "perfbench_marker")
      catch { case _: Throwable => false }
    if (marker) Recorder.qeMarker()
    else if (Recorder.enabled) {
      val phases = qe.tracker.phases
      phases.foreach { case (name, s) =>
        Recorder.phases.add(PhaseRec(name, s.startTimeMs, s.endTimeMs, func))
      }
      phases.get("planning").foreach { p =>
        val bytes = try ScanBytes.of(qe.executedPlan) catch { case _: Throwable => 0L }
        Recorder.scans.add(ScanRec(p.startTimeMs, bytes))
      }
    }
  }
  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    record(funcName, qe)
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
    record(funcName, qe)
}

/** "size of files read" summed over the file scans of a plan, through
  * adaptive query stages and subqueries. */
object ScanBytes extends AdaptiveSparkPlanHelper {
  def of(plan: SparkPlan): Long =
    collectWithSubqueries(plan) { case s: FileSourceScanExec =>
      s.metrics.get("filesSize").map(_.value).getOrElse(0L)
    }.sum
}

object Trace {
  /** Raw trace records as JSON-ready values; spans are assembled from
    * them by the benchmark's Python side. */
  def dump(): Map[String, Any] = {
    val jobs = Recorder.jobs.values().asScala.toSeq.filter(_.op != Recorder.Marker)
      .sortBy(_.id).map { j =>
        Map("id" -> j.id, "op" -> j.op, "phase" -> j.phase, "start_ms" -> j.startMs,
          "end_ms" -> j.endMs, "ok" -> j.ok, "stage_ids" -> j.stageIds,
          "sql_details" -> Option(Recorder.executions.get(j.execution)).getOrElse(""))
      }
    val jobIds = jobs.map(_("id").asInstanceOf[Int]).toSet
    val stages = Recorder.stages.asScala.toSeq.filter { case (j, _) => jobIds(j) }
      .map { case (j, s) =>
        Map("job" -> j, "id" -> s.id, "attempt" -> s.attempt, "name" -> s.name,
          "details" -> s.details.linesIterator.take(12).mkString("\n"),
          "tasks" -> s.numTasks, "start_ms" -> s.submitMs, "end_ms" -> s.completeMs,
          "input_bytes" -> s.inputBytes, "input_records" -> s.inputRecords,
          "output_bytes" -> s.outputBytes, "shuffle_read_bytes" -> s.shuffleReadBytes,
          "shuffle_write_bytes" -> s.shuffleWriteBytes, "spill_bytes" -> s.spillBytes,
          "run_ms" -> s.runTimeMs, "task_ms" -> s.taskMs)
      }
    val phases = Recorder.phases.asScala.toSeq.map { p =>
      Map("name" -> p.name, "start_ms" -> p.startMs, "end_ms" -> p.endMs, "func" -> p.func)
    }
    val scans = Recorder.scans.asScala.toSeq.map(x => Map("at_ms" -> x.atMs, "bytes" -> x.bytes))
    Map("jobs" -> jobs, "stages" -> stages, "phases" -> phases, "scans" -> scans)
  }
}
