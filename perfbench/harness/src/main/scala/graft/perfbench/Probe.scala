package graft.perfbench

import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable

import org.apache.spark.{Success, TaskEndReason}
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
import org.apache.spark.sql.execution.joins.{BroadcastHashJoinExec, ShuffledHashJoinExec, SortMergeJoinExec}
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** Counters of one timed execution, filled by the listeners below. */
final class ExecStats {
  val c: mutable.LinkedHashMap[String, Double] = mutable.LinkedHashMap(Seq(
    "jobs", "eager_jobs", "checkpoint_jobs", "stages", "tasks", "failed_tasks",
    "task_wait_s", "task_run_s", "task_cpu_s", "task_gc_s",
    "shuffle_write_mb", "shuffle_read_mb", "shuffle_records",
    "fetch_wait_s", "spill_mb", "input_mb", "input_rows",
    "map_s", "reduce_s", "analysis_s", "optimization_s", "planning_s",
    "stream_batches", "stream_batch_s", "state_rows", "state_mb")
    .map(_ -> 0.0): _*)
  def add(k: String, v: Double): Unit = synchronized { c(k) += v }
  def max(k: String, v: Double): Unit = synchronized { c(k) = math.max(c(k), v) }
  def snapshot: Map[String, Double] = synchronized { c.toMap }
}

/** The benchmark's own listeners: a SparkListener (jobs, stages, tasks,
  * shuffle, scan), a QueryExecutionListener (Catalyst phase times) and a
  * StreamingQueryListener (micro-batches and state). Jobs and stages are
  * attributed to an execution through the `perfbench.exec` local property
  * the harness sets around each call; query and stream events arrive on
  * the listener bus, which the harness drains before it moves on, so they
  * belong to the execution that is current while they are processed. */
final class Probe extends SparkListener {
  import Probe._

  private val stats = new ConcurrentHashMap[String, ExecStats]()
  private val stageExec = new ConcurrentHashMap[Int, String]()
  private val stageSubmitMs = new ConcurrentHashMap[Int, Long]()
  @volatile var current: String = null

  def statsFor(id: String): ExecStats = stats.computeIfAbsent(id, _ => new ExecStats)

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val id = Option(e.properties).map(_.getProperty(ExecProp)).orNull
    if (id != null) {
      val s = statsFor(id)
      s.add("jobs", 1)
      if (e.properties.getProperty(PhaseProp) == "build") s.add("eager_jobs", 1)
      if (e.stageInfos.exists(_.name.startsWith("localCheckpoint")))
        s.add("checkpoint_jobs", 1)
      e.stageInfos.foreach(si => stageExec.put(si.stageId, id))
    }
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = {
    val id = stageExec.get(e.stageInfo.stageId)
    if (id != null) {
      statsFor(id).add("stages", 1)
      stageSubmitMs.put(e.stageInfo.stageId,
        e.stageInfo.submissionTime.getOrElse(System.currentTimeMillis()))
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val id = stageExec.get(e.stageId)
    if (id == null) return
    val s = statsFor(id)
    s.add("tasks", 1)
    if (!isSuccess(e.reason)) s.add("failed_tasks", 1)
    val submit = stageSubmitMs.get(e.stageId)
    if (submit != 0L) s.add("task_wait_s", math.max(0L, e.taskInfo.launchTime - submit) / 1e3)
    val m = e.taskMetrics
    if (m != null) {
      val run = m.executorRunTime / 1e3
      s.add("task_run_s", run)
      s.add("task_cpu_s", m.executorCpuTime / 1e9)
      s.add("task_gc_s", m.jvmGCTime / 1e3)
      s.add("shuffle_write_mb", m.shuffleWriteMetrics.bytesWritten / MB)
      s.add("shuffle_records", m.shuffleWriteMetrics.recordsWritten.toDouble)
      s.add("shuffle_read_mb", m.shuffleReadMetrics.totalBytesRead / MB)
      s.add("fetch_wait_s", m.shuffleReadMetrics.fetchWaitTime / 1e3)
      s.add("spill_mb", m.diskBytesSpilled / MB)
      s.add("input_mb", m.inputMetrics.bytesRead / MB)
      s.add("input_rows", m.inputMetrics.recordsRead.toDouble)
      if (e.taskType == "ShuffleMapTask") s.add("map_s", run)
      if (m.shuffleReadMetrics.recordsRead > 0) s.add("reduce_s", run)
    }
  }

  private def isSuccess(r: TaskEndReason): Boolean = r == Success

  val queryListener: QueryExecutionListener = new QueryExecutionListener {
    override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit = phases(qe)
    override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = phases(qe)
    private def phases(qe: QueryExecution): Unit = {
      val id = current
      if (id != null) {
        val s = statsFor(id)
        val p = qe.tracker.phases
        Seq("analysis", "optimization", "planning").foreach { ph =>
          p.get(ph).foreach(x => s.add(s"${ph}_s", x.durationMs / 1e3))
        }
      }
    }
  }

  val streamListener: StreamingQueryListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val id = current
      if (id != null) {
        val s = statsFor(id)
        val p = e.progress
        s.add("stream_batches", 1)
        s.add("stream_batch_s", p.batchDuration / 1e3)
        s.max("state_rows", p.stateOperators.map(_.numRowsTotal).sum.toDouble)
        s.max("state_mb", p.stateOperators.map(_.memoryUsedBytes).sum / MB)
      }
    }
  }

  def attach(spark: SparkSession): Unit = {
    spark.sparkContext.addSparkListener(this)
    spark.listenerManager.register(queryListener)
    spark.streams.addListener(streamListener)
  }

  def detach(spark: SparkSession): Unit = {
    spark.sparkContext.removeSparkListener(this)
    spark.listenerManager.unregister(queryListener)
    spark.streams.removeListener(streamListener)
  }
}

object Probe extends AdaptiveSparkPlanHelper {
  val ExecProp = "perfbench.exec"
  val PhaseProp = "perfbench.phase"
  val MB: Double = 1024.0 * 1024.0

  /** Operator counts in the final (post-AQE) physical plan. */
  def planCounts(plan: SparkPlan): Map[String, Double] = {
    val nodes = collect(plan) { case p => p }
    def n(f: SparkPlan => Boolean): Double = nodes.count(f).toDouble
    Map(
      "exchanges" -> n(_.isInstanceOf[ShuffleExchangeLike]),
      "smj" -> n(_.isInstanceOf[SortMergeJoinExec]),
      "shj" -> n(_.isInstanceOf[ShuffledHashJoinExec]),
      "bhj" -> n(_.isInstanceOf[BroadcastHashJoinExec]),
      "topk_nodes" -> n { p =>
        val c = p.getClass.getSimpleName
        c == "TakeOrderedAndProjectExec" || c == "WindowGroupLimitExec" ||
          c == "TopKPerKeyExec"
      })
  }
}

/** In-memory span log: (span id, parent id, name, execution id, start ns,
  * end ns). Written out once, when the run ends. */
final class Spans(enabled: Boolean) {
  final case class Span(id: Int, parent: Int, name: String, exec: String,
      startNs: Long, endNs: Long)
  private val done = mutable.ArrayBuffer.empty[Span]
  private var stack = List.empty[Int]
  private var nextId = 0

  def apply[T](name: String, exec: String)(body: => T): T =
    if (!enabled) body
    else {
      val id = nextId
      nextId += 1
      val parent = stack.headOption.getOrElse(-1)
      stack = id :: stack
      val t0 = System.nanoTime()
      try body
      finally {
        stack = stack.tail
        done += Span(id, parent, name, exec, t0, System.nanoTime())
      }
    }

  def rows: Seq[Map[String, Any]] = done.toSeq.map(s => Map(
    "id" -> s.id, "parent" -> s.parent, "name" -> s.name, "exec" -> s.exec,
    "start_ns" -> s.startNs, "end_ns" -> s.endNs))
}
