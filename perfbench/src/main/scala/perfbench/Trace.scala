package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** One timed call into a layer. Spans are flat and sequential (the
  * benchmark is a single client thread), so a span's self time is its
  * duration. `label` names the query for the per-query spans. */
final case class Span(pass: Int, name: String, label: String,
                      startMs: Long, endMs: Long, wallNs: Long)

/** Attributes Spark work to spans from outside the engine: a SparkListener
  * and a QueryExecutionListener buffer timestamped events in memory, and
  * [[metrics]] assigns each event to the span whose time window holds it.
  * Time windows (not thread identity) make work that an engine call
  * submits from its own helper threads land on the span that is open
  * while it runs.
  */
final class Tracer(spark: SparkSession) {
  import Tracer.TaskEvent

  private val jobStarts = new ConcurrentLinkedQueue[Long]()
  private val stageStarts = new ConcurrentLinkedQueue[Long]()
  private val tasks = new ConcurrentLinkedQueue[TaskEvent]()
  // (phase end, phase duration) for analysis, optimization and planning
  private val phases = new ConcurrentLinkedQueue[(Long, Long)]()

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = jobStarts.add(e.time)
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      e.stageInfo.submissionTime.foreach(stageStarts.add(_))
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val i = e.taskInfo
      val m = e.taskMetrics
      tasks.add(if (m == null) TaskEvent(i.launchTime, i.finishTime, 0, 0, 0, 0, 0, 0)
      else TaskEvent(i.launchTime, i.finishTime, m.executorRunTime, m.executorCpuTime,
        m.jvmGCTime, m.shuffleWriteMetrics.bytesWritten, m.inputMetrics.bytesRead,
        m.diskBytesSpilled))
    }
  }

  private val planListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      record(qe)
    override def onFailure(funcName: String, qe: QueryExecution, error: Exception): Unit =
      record(qe)
    private def record(qe: QueryExecution): Unit =
      for ((name, p) <- qe.tracker.phases
           if Tracer.PlanPhases.contains(name)) phases.add((p.endTimeMs, p.durationMs))
  }

  def install(): Unit = {
    spark.sparkContext.addSparkListener(sparkListener)
    spark.listenerManager.register(planListener)
  }

  /** Waits for every posted event to reach the listeners, then detaches
    * them. */
  def uninstall(): Unit = {
    graft.SparkInternals.flushListenerBus(spark.sparkContext)
    spark.listenerManager.unregister(planListener)
    spark.sparkContext.removeSparkListener(sparkListener)
  }

  /** The 12 per-span metrics of [[Tracer.SpanMetrics]], summed over the
    * given spans by span name. Call after [[uninstall]]. */
  def metrics(spans: Seq[Span]): Map[String, Map[String, Double]] = {
    val sorted = spans.sortBy(_.startMs).toIndexedSeq
    val starts = sorted.map(_.startMs)
    // the latest-starting span whose window holds `ts`: a span starts no
    // earlier than the previous one ended, so a shared boundary millisecond
    // belongs to the span that is starting
    def owner(ts: Long): Option[Int] = {
      val i = starts.lastIndexWhere(_ <= ts)
      if (i >= 0 && ts <= sorted(i).endMs) Some(i) else None
    }
    val acc = Array.fill(sorted.size)(mutable.Map.empty[String, Double].withDefaultValue(0.0))
    def add(ts: Long, kv: (String, Double)*): Unit =
      owner(ts).foreach(i => kv.foreach { case (k, v) => acc(i)(k) += v })

    jobStarts.asScala.foreach(add(_, "jobs" -> 1))
    stageStarts.asScala.foreach(add(_, "stages" -> 1))
    phases.asScala.foreach { case (end, ms) => add(end, "plan_s" -> ms / 1e3) }
    val taskSeq = tasks.asScala.toSeq
    taskSeq.foreach { t =>
      add(t.launchMs, "tasks" -> 1, "task_run_s" -> t.runMs / 1e3,
        "task_cpu_s" -> t.cpuNs / 1e9, "gc_s" -> t.gcMs / 1e3,
        "shuffle_mb" -> t.shuffleBytes / 1e6, "input_mb" -> t.inputBytes / 1e6,
        "spill_mb" -> t.spillBytes / 1e6)
    }
    sorted.indices.foreach { i =>
      val s = sorted(i)
      acc(i)("wall_s") += s.wallNs / 1e9
      acc(i)("driver_only_s") += Tracer.idleMs(s.startMs, s.endMs,
        taskSeq.map(t => (t.launchMs, t.finishMs))) / 1e3
    }
    sorted.indices.groupBy(i => sorted(i).name).map { case (name, is) =>
      name -> Tracer.SpanMetrics.map(m => m -> is.map(acc(_)(m)).sum).toMap
    }
  }
}

object Tracer {
  private final case class TaskEvent(launchMs: Long, finishMs: Long, runMs: Long,
                                     cpuNs: Long, gcMs: Long, shuffleBytes: Long,
                                     inputBytes: Long, spillBytes: Long)

  val PlanPhases = Set("analysis", "optimization", "planning")

  val SpanMetrics: Seq[String] = Seq("wall_s", "driver_only_s", "plan_s", "jobs",
    "stages", "tasks", "task_run_s", "task_cpu_s", "gc_s", "shuffle_mb",
    "input_mb", "spill_mb")

  /** Milliseconds of [start, end] during which no task interval is open. */
  def idleMs(start: Long, end: Long, intervals: Seq[(Long, Long)]): Long = {
    var covered = 0L
    var reach = start
    for ((a, b) <- intervals.map { case (a, b) => (a max start, b min end) }
           .filter { case (a, b) => a < b }.sortBy(_._1)) {
      if (b > reach) { covered += b - (a max reach); reach = b }
    }
    (end - start) - covered
  }
}
