package perfbench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.util.QueryExecutionListener

/** Everything the public Spark listeners report while one op runs.
  * Times are epoch milliseconds, as the listener events carry them. */
final class OpTrace {
  /** (start, end, Seq of (stage start, stage end)) per job. */
  val jobs = mutable.ArrayBuffer.empty[(Long, Long, Seq[(Long, Long)])]
  val stageSpans = mutable.HashMap.empty[Int, (Long, Long)]
  val stageOfJob = mutable.HashMap.empty[Int, Seq[Int]]
  val jobStart = mutable.HashMap.empty[Int, Long]
  val sums = mutable.LinkedHashMap.empty[String, Double]
  /** Per query execution: Catalyst phase spans and scan/plan facts. */
  val executions = mutable.ArrayBuffer.empty[Map[String, Any]]

  def add(k: String, v: Double): Unit = sums(k) = sums.getOrElse(k, 0.0) + v
}

/** Spark's public listeners, attributed to the op that is running. Ops run
  * one at a time on the main thread, and [[finish]] drains the listener bus
  * before the next op starts, so every event lands in the op that caused it. */
final class Tracer extends SparkListener with QueryExecutionListener {
  @volatile private var cur = new OpTrace

  def begin(): Unit = synchronized { cur = new OpTrace }

  def finish(sc: org.apache.spark.SparkContext): OpTrace = {
    org.apache.spark.PerfbenchBus.drain(sc)
    synchronized { cur }
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    cur.jobStart(e.jobId) = e.time
    cur.stageOfJob(e.jobId) = e.stageIds
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    val t0 = cur.jobStart.getOrElse(e.jobId, e.time)
    val stages = cur.stageOfJob.getOrElse(e.jobId, Nil).flatMap(cur.stageSpans.get)
    cur.jobs += ((t0, e.time, stages))
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val s = e.stageInfo
    for (a <- s.submissionTime; b <- s.completionTime) cur.stageSpans(s.stageId) = (a, b)
    cur.add("stages", 1)
    cur.add("tasks", s.numTasks)
    val m = s.taskMetrics
    if (m != null) {
      cur.add("run_ms", m.executorRunTime)
      cur.add("cpu_ms", m.executorCpuTime / 1e6)
      cur.add("gc_ms", m.jvmGCTime)
      cur.add("shuffle_write_bytes", m.shuffleWriteMetrics.bytesWritten)
      cur.add("shuffle_records", m.shuffleWriteMetrics.recordsWritten)
      cur.add("shuffle_read_bytes", m.shuffleReadMetrics.totalBytesRead)
      cur.add("fetch_wait_ms", m.shuffleReadMetrics.fetchWaitTime)
      cur.add("spill_bytes", m.memoryBytesSpilled + m.diskBytesSpilled)
      cur.add("input_bytes", m.inputMetrics.bytesRead)
      cur.add("input_rows", m.inputMetrics.recordsRead)
    }
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    record(qe)

  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
    record(qe)

  private def record(qe: QueryExecution): Unit = {
    val phases = qe.tracker.phases.map { case (k, p) => k -> Seq(p.startTimeMs, p.endTimeMs) }
    val plan = qe.executedPlan
    val e = Map[String, Any](
      "phases" -> phases,
      "files" -> Tracer.scanFiles(plan),
      "reflection" -> Tracer.readsReflection(plan.toString))
    synchronized { cur.executions += e }
  }
}

object Tracer {
  /** Data files the executed plan's file scans read (AQE stages included). */
  def scanFiles(p: SparkPlan): Long = p match {
    case a: AdaptiveSparkPlanExec => scanFiles(a.executedPlan)
    case q: QueryStageExec => scanFiles(q.plan)
    case f: FileSourceScanExec => f.metrics.get("numFiles").map(_.value).getOrElse(0L)
    case other => other.children.map(scanFiles).sum + other.subqueries.map(scanFiles).sum
  }

  /** Reflection warehouses are created under `graft_*refl*` directories; a
    * plan that scans one was served from a materialization. */
  def readsReflection(planText: String): Boolean = planText.contains("_refl")
}
