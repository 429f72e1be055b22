package perfbench

import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.util.Try

import org.apache.spark.Success
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.util.QueryExecutionListener

/** Epoch milliseconds with sub-millisecond resolution, on the same scale as
  * the times Spark stamps on its listener events. */
object Clock {
  private val baseMs = System.currentTimeMillis().toDouble
  private val baseNs = System.nanoTime()
  def nowMs: Double = baseMs + (System.nanoTime() - baseNs) / 1e6
}

/** One span: `trace` is shared by every span of one query or stream drain;
  * `parent` is 0 for the root. */
final case class Span(trace: String, id: Long, parent: Long, name: String,
                      startMs: Double, endMs: Double) {
  def toMap: Map[String, Any] = Map("trace" -> trace, "id" -> id, "parent" -> parent,
    "name" -> name, "start_ms" -> startMs, "end_ms" -> endMs)
}

/** Measures the library from outside while attached: a SparkListener for
  * jobs, stages and tasks, and a QueryExecutionListener for the Catalyst
  * phase times (`tracker.phases`) and the executed plan's SQL metrics.
  * Work is grouped into units (one query, or one stream drain); the harness
  * brackets each unit with [[begin]] and [[end]]. Spans stay in memory until
  * the run writes them out. */
final class Tracer(spark: SparkSession) {
  import Tracer._

  private val jobs = mutable.ArrayBuffer.empty[JobRec]
  private val stages = mutable.ArrayBuffer.empty[StageRec]
  private val qes = mutable.ArrayBuffer.empty[QeRec]
  private val tasks = mutable.Map.empty[String, Double].withDefaultValue(0.0)

  val spans = mutable.ArrayBuffer.empty[Span]
  private val ids = new AtomicLong(0L)

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = Tracer.this.synchronized {
      jobs += JobRec(e.jobId, e.time, e.stageIds)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = Tracer.this.synchronized {
      jobs.find(_.id == e.jobId).foreach(_.endMs = e.time)
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = Tracer.this.synchronized {
      val i = e.stageInfo
      stages += StageRec(i.stageId, i.submissionTime.getOrElse(0L), i.completionTime.getOrElse(0L))
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = Tracer.this.synchronized {
      val info = e.taskInfo
      tasks("tasks") += 1
      if (e.reason != Success) tasks("tasks_failed") += 1
      val m = e.taskMetrics
      if (m != null) {
        tasks("run_ms") += m.executorRunTime
        tasks("cpu_ns") += m.executorCpuTime
        tasks("deser_ms") += m.executorDeserializeTime
        tasks("gc_ms") += m.jvmGCTime
        tasks("shuffle_write_b") += m.shuffleWriteMetrics.bytesWritten
        tasks("shuffle_read_b") += m.shuffleReadMetrics.totalBytesRead
        tasks("spill_b") += m.diskBytesSpilled
        if (m.inputMetrics.recordsRead == 0 && m.shuffleReadMetrics.recordsRead == 0)
          tasks("empty") += 1
        val gettingResult =
          if (info.gettingResultTime > 0) info.finishTime - info.gettingResultTime else 0L
        val delay = (info.finishTime - info.launchTime) - m.executorRunTime -
          m.executorDeserializeTime - m.resultSerializationTime - gettingResult
        tasks("sched_delay_ms") += math.max(0L, delay)
      }
    }
  }

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = record(qe)
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = record(qe)
  }

  private def record(qe: QueryExecution): Unit = {
    val phases = qe.tracker.phases
    val rec = QeRec(
      Try(phases.values.map(_.startTimeMs).min).getOrElse(0L),
      Try(phases.values.map(_.endTimeMs).max).getOrElse(0L),
      phases.map { case (k, p) => k -> p.durationMs },
      Try(Tracer.planMetrics(qe.executedPlan)).getOrElse(Map.empty))
    synchronized { qes += rec }
  }

  private var attached = false

  def attach(): Unit = if (!attached) {
    spark.sparkContext.addSparkListener(sparkListener)
    spark.listenerManager.register(qeListener)
    attached = true
  }

  def detach(): Unit = if (attached) {
    org.apache.spark.perfbench.ListenerBus.drain(spark.sparkContext)
    spark.sparkContext.removeSparkListener(sparkListener)
    spark.listenerManager.unregister(qeListener)
    attached = false
  }

  /** Start a unit: drop whatever the listeners saw outside any unit. */
  def begin(): Unit = {
    org.apache.spark.perfbench.ListenerBus.drain(spark.sparkContext)
    synchronized { jobs.clear(); stages.clear(); qes.clear(); tasks.clear() }
  }

  def newSpan(trace: String, parent: Long, name: String, startMs: Double, endMs: Double): Long = {
    val id = ids.incrementAndGet()
    synchronized { spans += Span(trace, id, parent, name, startMs, endMs) }
    id
  }

  /** Close a unit that ran from `startMs` to `endMs`, whose eager build work
    * ended at `buildEndMs`. Emits its spans (root, build, plan, execute, job,
    * stage) and returns its layer counters. */
  def end(trace: String, startMs: Double, buildEndMs: Double, endMs: Double): Map[String, Double] = {
    org.apache.spark.perfbench.ListenerBus.drain(spark.sparkContext)
    synchronized {
      val root = newSpan(trace, 0L, "root", startMs, endMs)
      val build = newSpan(trace, root, "build", startMs, buildEndMs)
      val exec = newSpan(trace, root, "execute", buildEndMs, endMs)
      def phaseOf(ms: Double): Long = if (ms < buildEndMs) build else exec
      qes.foreach(q => newSpan(trace, phaseOf(q.endMs.toDouble), "plan", q.startMs.toDouble, q.endMs.toDouble))
      val stageById = stages.map(s => s.id -> s).toMap
      jobs.foreach { j =>
        val jid = newSpan(trace, phaseOf(j.submitMs.toDouble), s"job ${j.id}",
          j.submitMs.toDouble, math.max(j.endMs, j.submitMs).toDouble)
        j.stageIds.flatMap(stageById.get).foreach { s =>
          newSpan(trace, jid, s"stage ${s.id}", s.submitMs.toDouble, s.endMs.toDouble)
        }
      }
      def phase(name: String): Double = qes.map(_.phases.getOrElse(name, 0L)).sum / 1e3
      def plan(name: String): Double = qes.map(_.plan.getOrElse(name, 0.0)).sum
      Map(
        "operators.build_jobs" -> jobs.count(_.submitMs < buildEndMs).toDouble,
        "catalyst.analysis_s" -> phase("analysis"),
        "catalyst.optimization_s" -> phase("optimization"),
        "catalyst.planning_s" -> phase("planning"),
        "execution.jobs" -> jobs.size.toDouble,
        "execution.stages" -> stages.size.toDouble,
        "execution.tasks" -> tasks("tasks"),
        "execution.tasks_failed" -> tasks("tasks_failed"),
        "execution.empty_tasks" -> tasks("empty"),
        "execution.task_run_s" -> tasks("run_ms") / 1e3,
        "execution.scheduler_delay_s" -> tasks("sched_delay_ms") / 1e3,
        "execution.deser_s" -> tasks("deser_ms") / 1e3,
        "execution.task_cpu_s" -> tasks("cpu_ns") / 1e9,
        "execution.gc_s" -> tasks("gc_ms") / 1e3,
        "execution.shuffle_write_mb" -> tasks("shuffle_write_b") / 1e6,
        "execution.shuffle_read_mb" -> tasks("shuffle_read_b") / 1e6,
        "execution.spill_mb" -> tasks("spill_b") / 1e6,
        "execution.agg_time_s" -> plan("agg_s"),
        "execution.sort_time_s" -> plan("sort_s"),
        "sources.scan_rows" -> plan("scan_rows"),
        "sources.scan_mb" -> plan("scan_mb"),
        "sources.scan_time_s" -> plan("scan_s"))
    }
  }
}

object Tracer {
  private final case class JobRec(id: Int, submitMs: Long, stageIds: Seq[Int], var endMs: Long = 0L)
  private final case class StageRec(id: Int, submitMs: Long, endMs: Long)
  private final case class QeRec(startMs: Long, endMs: Long, phases: Map[String, Long],
                                 plan: Map[String, Double])

  private val ScanNodes = Set("FileSourceScanExec", "BatchScanExec")

  /** Seconds held by a timing SQL metric, whichever unit it counts in. */
  private def seconds(m: org.apache.spark.sql.execution.metric.SQLMetric): Double =
    m.metricType match {
      case "nsTiming" => m.value / 1e9
      case "timing" => m.value / 1e3
      case _ => 0.0
    }

  /** Sum the aggregation, sort and file-scan SQL metrics of an executed
    * plan, looking through adaptive query stages. A cached relation's own
    * plan is skipped: its metrics belong to the query that filled it. */
  def planMetrics(root: SparkPlan): Map[String, Double] = {
    val out = mutable.Map.empty[String, Double].withDefaultValue(0.0)
    val seen = java.util.Collections.newSetFromMap(
      new java.util.IdentityHashMap[SparkPlan, java.lang.Boolean]())
    def visit(p: SparkPlan): Unit = if (seen.add(p)) {
      p.metrics.get("aggTime").foreach(m => out("agg_s") += seconds(m))
      p.metrics.get("sortTime").foreach(m => out("sort_s") += seconds(m))
      if (ScanNodes(p.getClass.getSimpleName)) {
        p.metrics.get("numOutputRows").foreach(m => out("scan_rows") += m.value)
        p.metrics.get("filesSize").foreach(m => out("scan_mb") += m.value / 1e6)
        p.metrics.get("scanTime").foreach(m => out("scan_s") += seconds(m))
      }
      p match {
        case a: AdaptiveSparkPlanExec => visit(a.executedPlan)
        case s: QueryStageExec => visit(s.plan)
        case _: InMemoryTableScanExec =>
        case other =>
          other.children.foreach(visit)
          other.subqueries.foreach(visit)
      }
    }
    visit(root)
    out.toMap
  }
}
