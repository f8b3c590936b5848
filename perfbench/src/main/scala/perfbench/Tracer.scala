package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.joins.BaseJoinExec
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** Listeners of the traced run. They only record raw events with their
  * epoch-millisecond timestamps; `run.py` assigns each event to the query
  * whose timed window contains it (queries run one at a time) and builds
  * the span tree from them. Every field is a plain number or string, so
  * the record serializes as-is. */
final class Tracer extends SparkListener with QueryExecutionListener {
  private def queue[T] = new ConcurrentLinkedQueue[T]()
  private val jobs = queue[Map[String, Any]]
  private val jobEnds = queue[Map[String, Any]]
  private val stages = queue[Map[String, Any]]
  private val tasks = queue[Seq[Double]]
  private val sqlExecs = queue[Map[String, Any]]
  private val plans = queue[Map[String, Any]]
  private val progress = queue[Map[String, Any]]

  /** Column order of each row in `tasks`. */
  val TaskFields: Seq[String] = Seq("stage", "launch_ms", "finish_ms",
    "run_ms", "cpu_ns", "shuffle_write_bytes", "shuffle_read_bytes",
    "input_bytes", "input_records", "output_bytes", "output_records")

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val sqlId = Option(e.properties).flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
    jobs.add(Map("job" -> e.jobId, "start_ms" -> e.time, "stages" -> e.stageIds,
      "sql" -> sqlId.map(_.toLong).getOrElse(-1L)))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    jobEnds.add(Map("job" -> e.jobId, "end_ms" -> e.time))

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val s = e.stageInfo
    stages.add(Map("stage" -> s.stageId,
      "start_ms" -> s.submissionTime.getOrElse(-1L),
      "end_ms" -> s.completionTime.getOrElse(-1L)))
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val i = e.taskInfo
    val m = Option(e.taskMetrics)
    def v(f: org.apache.spark.executor.TaskMetrics => Long): Double =
      m.map(f).getOrElse(0L).toDouble
    tasks.add(Seq(e.stageId.toDouble, i.launchTime.toDouble, i.finishTime.toDouble,
      v(_.executorRunTime), v(_.executorCpuTime),
      v(_.shuffleWriteMetrics.bytesWritten), v(_.shuffleReadMetrics.totalBytesRead),
      v(_.inputMetrics.bytesRead), v(_.inputMetrics.recordsRead),
      v(_.outputMetrics.bytesWritten), v(_.outputMetrics.recordsWritten)))
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: SparkListenerSQLExecutionStart =>
      sqlExecs.add(Map("sql" -> s.executionId, "start_ms" -> s.time))
    case s: SparkListenerSQLExecutionEnd =>
      sqlExecs.add(Map("sql" -> s.executionId, "end_ms" -> s.time))
    case _ =>
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    plans.add(planRecord(qe, durationNs))

  override def onFailure(funcName: String, qe: QueryExecution, error: Exception): Unit =
    plans.add(planRecord(qe, 0L))

  private def planRecord(qe: QueryExecution, durationNs: Long) = {
    val phases = qe.tracker.phases
    def ms(p: String): Long = phases.get(p).map(_.durationMs).getOrElse(0L)
    val start = if (phases.isEmpty) System.currentTimeMillis() - durationNs / 1000000
                else phases.values.map(_.startTimeMs).min
    val joinRows = Tracer.Plans.collect(qe.executedPlan) { case j: BaseJoinExec =>
      j.metrics.get("numOutputRows").map(_.value).getOrElse(0L)
    }.sum
    Map("start_ms" -> start, "analysis_ms" -> ms("analysis"),
      "optimization_ms" -> ms("optimization"), "planning_ms" -> ms("planning"),
      "join_rows_out" -> joinRows)
  }

  /** Per-trigger progress of every streaming query the library starts. */
  val streaming: StreamingQueryListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      val d = p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap
      progress.add(Map(
        "start_ms" -> java.time.Instant.parse(p.timestamp).toEpochMilli, "duration_ms" -> d))
    }
  }

  def raw: Map[String, Any] = Map(
    "jobs" -> jobs.asScala.toSeq, "job_ends" -> jobEnds.asScala.toSeq,
    "stages" -> stages.asScala.toSeq, "task_fields" -> TaskFields,
    "tasks" -> tasks.asScala.toSeq, "sql_executions" -> sqlExecs.asScala.toSeq,
    "plans" -> plans.asScala.toSeq, "triggers" -> progress.asScala.toSeq)
}

object Tracer {
  /** Walks into adaptive query stages, so joins of AQE plans are found. */
  private object Plans extends AdaptiveSparkPlanHelper
}
