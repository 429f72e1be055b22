package graft.tools

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable
import scala.util.Try

import org.apache.spark.Success
import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.{ExplainMode, InputAdapter, LimitExec, ProjectExec,
  QueryExecution, RDDScanExec, SortExec, SparkPlan, TakeOrderedAndProjectExec,
  WholeStageCodegenExec}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, AQEShuffleReadExec,
  QueryStageExec}
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
import org.apache.spark.sql.execution.metric.SQLMetric
import org.apache.spark.sql.execution.window.WindowExec
import org.apache.spark.sql.graft.GraftSqlBridge
import org.apache.spark.sql.util.QueryExecutionListener

import graft.functions.ScopedCache

/** Per-query, per-layer profile of registry queries: one JSON record per
  * query, keyed by query name. Numeric fields carry BENCHMARK.json's
  * `per_layer` names, so they compare directly with perfbench's traced
  * runs, plus `loops.<family>.rounds` for every truncated loop the query
  * ran. `window.unpartitioned_rows` maps each window with no partition
  * spec (one task holds all its rows) to the rows its child fed it. A
  * query that throws gets an `error` string instead.
  *
  * Each query starts from a settled session, as a Bench pass does, runs
  * once to pay JIT and codegen, settles again, and the second pass is
  * recorded: `operators.build_*` from calling the query function until
  * it returns the DataFrame (eager checkpoints, driver collects), the
  * rest over that and the noop-sink action. Nothing here runs inside a
  * timed Bench loop.
  *
  * `--plans` also writes each query's formatted executed plan to
  * `<out>.plans/<qid>.txt`, followed by the source plan of every
  * registered checkpoint it reads ([[ScopedCache.checkpointSourceOf]]).
  *
  * Usage: runMain graft.tools.Profile <sfDir> <out.json> [--plans] [qid-prefix...]
  */
object Profile {

  type Query = (SparkSession, String) => DataFrame
  type Record = Map[String, Any]

  def main(args: Array[String]): Unit = {
    require(args.length >= 2, "usage: Profile <sfDir> <out.json> [--plans] [qid-prefix...]")
    val (sfDir, out) = (args(0), args(1))
    val prefixes = args.drop(2).filterNot(_ == "--plans")
    val plansDir = if (args.contains("--plans")) Some(Paths.get(s"$out.plans")) else None
    val spark = graft.GraftSession.get("graft-profile")
    spark.range(1000000).selectExpr("sum(id)").collect()
    val selected = graft.SparkEntry.queries.toSeq.sortBy(_._1).filter { case (name, _) =>
      prefixes.isEmpty || prefixes.exists(name.startsWith)
    }
    val t0 = System.nanoTime()
    val records = run(spark, sfDir, selected, plansDir)
    Files.writeString(Paths.get(out), toJson(records))
    val errors = records.count(_._2.contains("error"))
    println(f"[profile] ${records.size} queries, $errors errors, " +
      f"${(System.nanoTime() - t0) / 1e9}%.1f s -> $out")
    spark.stop()
  }

  /** Profile `queries` in order on `spark`; the listeners are attached for
    * this call only. */
  def run(spark: SparkSession, sfDir: String, queries: Seq[(String, Query)],
      plansDir: Option[Path]): Seq[(String, Record)] = {
    plansDir.foreach(Files.createDirectories(_))
    val c = new Collector(spark)
    try queries.map { case (name, fn) =>
      name -> (try profileOne(spark, sfDir, name, fn, c, plansDir)
      catch { case e: Throwable => Map("error" -> s"${e.getClass.getName}: ${e.getMessage}") })
    }
    finally c.detach()
  }

  /** As `Bench` settles between passes: no cached block, checkpoint or
    * GC debt of the previous pass is charged to the next. */
  private def settle(spark: SparkSession): Unit = {
    ScopedCache.clear(blocking = true)
    spark.catalog.clearCache()
    System.gc()
    Thread.sleep(150)
  }

  private def profileOne(spark: SparkSession, sfDir: String, name: String, fn: Query,
      c: Collector, plansDir: Option[Path]): Record = {
    settle(spark)
    fn(spark, sfDir).write.format("noop").mode("overwrite").save()
    settle(spark)
    ScopedCache.takeLoopRounds()
    c.begin()
    val t0 = System.nanoTime()
    val df = fn(spark, sfDir)
    val buildEndMs = System.currentTimeMillis()
    val buildS = (System.nanoTime() - t0) / 1e9
    df.write.format("noop").mode("overwrite").save()
    val (counters, qes) = c.end(buildEndMs, (System.nanoTime() - t0) / 1e9)
    plansDir.foreach(d => Files.writeString(d.resolve(name.takeWhile(_ != '_') + ".txt"),
      planText(name, qes)))
    val plans = qes.flatMap(q => Try(q.executedPlan).toOption)
    val loops = ScopedCache.takeLoopRounds().map { case (f, n) => s"loops.$f.rounds" -> n.toDouble }
    val windows = unpartitionedWindowRows(plans)
    counters ++ planMetrics(plans) ++ loops + ("operators.build_s" -> buildS) ++
      (if (windows.isEmpty) Map.empty else Map("window.unpartitioned_rows" -> windows))
  }

  /** Counters over one recorded pass: a SparkListener for jobs, stages and
    * tasks, and a QueryExecutionListener for every query execution, whose
    * Catalyst phase times (here) and SQL metrics ([[planMetrics]]) are read
    * once the pass is over.
    * The same accounting as perfbench's Tracer, minus its spans: the
    * library cannot depend on perfbench. */
  private final class Collector(spark: SparkSession) {
    private val jobSubmitMs = mutable.ArrayBuffer.empty[Long]
    private var stages = 0
    private val tasks = mutable.Map.empty[String, Double].withDefaultValue(0.0)
    private val qes = mutable.ArrayBuffer.empty[QueryExecution]

    private val sparkListener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Collector.this.synchronized { jobSubmitMs += e.time }
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
        Collector.this.synchronized { stages += 1 }
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit = Collector.this.synchronized {
        val info = e.taskInfo
        tasks("tasks") += 1
        if (e.reason != Success) tasks("failed") += 1
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
          tasks("sched_delay_ms") += math.max(0L, (info.finishTime - info.launchTime) -
            m.executorRunTime - m.executorDeserializeTime - m.resultSerializationTime -
            gettingResult)
        }
      }
    }

    private val qeListener = new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
        Collector.this.synchronized { qes += qe }
      override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
        Collector.this.synchronized { qes += qe }
    }

    spark.sparkContext.addSparkListener(sparkListener)
    spark.listenerManager.register(qeListener)

    private def drain(): Unit = GraftSqlBridge.drainListenerBus(spark.sparkContext)

    def detach(): Unit = {
      drain()
      spark.sparkContext.removeSparkListener(sparkListener)
      spark.listenerManager.unregister(qeListener)
    }

    /** Start a pass: forget whatever the listeners saw before it. */
    def begin(): Unit = {
      drain()
      synchronized { jobSubmitMs.clear(); stages = 0; tasks.clear(); qes.clear() }
    }

    /** Close a pass of `wallS` seconds whose DataFrame build ended at
      * `buildEndMs`: its listener counters and its query executions. */
    def end(buildEndMs: Long, wallS: Double): (Map[String, Double], Seq[QueryExecution]) = {
      drain()
      synchronized {
        def phase(name: String): Double =
          qes.map(_.tracker.phases.get(name).map(_.durationMs).getOrElse(0L)).sum / 1e3
        val n = tasks("tasks")
        (Map(
          "operators.build_jobs" -> jobSubmitMs.count(_ < buildEndMs).toDouble,
          "catalyst.analysis_s" -> phase("analysis"),
          "catalyst.optimization_s" -> phase("optimization"),
          "catalyst.planning_s" -> phase("planning"),
          "execution.jobs" -> jobSubmitMs.size.toDouble,
          "execution.stages" -> stages.toDouble,
          "execution.tasks" -> n,
          "execution.tasks_failed" -> tasks("failed"),
          "execution.empty_task_frac" -> (if (n > 0) tasks("empty") / n else 0.0),
          "execution.slot_busy_frac" ->
            (if (wallS > 0) tasks("run_ms") / 1e3 / (wallS * graft.GraftSession.cpus) else 0.0),
          "execution.task_cpu_s" -> tasks("cpu_ns") / 1e9,
          "execution.scheduler_delay_s" -> tasks("sched_delay_ms") / 1e3,
          "execution.deser_s" -> tasks("deser_ms") / 1e3,
          "execution.gc_s" -> tasks("gc_ms") / 1e3,
          "execution.shuffle_write_mb" -> tasks("shuffle_write_b") / 1e6,
          "execution.shuffle_read_mb" -> tasks("shuffle_read_b") / 1e6,
          "execution.spill_mb" -> tasks("spill_b") / 1e6), qes.toSeq)
      }
    }
  }

  /** Visit every node of the executed plans once, through adaptive query
    * stages and cached relations (settled first, so this pass filled
    * them). */
  private def walk(roots: Seq[SparkPlan])(f: SparkPlan => Unit): Unit = {
    val seen = java.util.Collections.newSetFromMap(
      new java.util.IdentityHashMap[SparkPlan, java.lang.Boolean]())
    def visit(p: SparkPlan): Unit = if (seen.add(p)) {
      f(p)
      p match {
        case a: AdaptiveSparkPlanExec => visit(a.executedPlan)
        case s: QueryStageExec => visit(s.plan)
        case m: InMemoryTableScanExec => visit(m.relation.cachedPlan)
        case _ =>
      }
      p.children.foreach(visit)
      p.subqueries.foreach(visit)
    }
    roots.foreach(visit)
  }

  /** Seconds held by a timing SQL metric, whichever unit it counts in. */
  private def seconds(m: SQLMetric): Double = m.metricType match {
    case "nsTiming" => m.value / 1e9
    case "timing" => m.value / 1e3
    case _ => 0.0
  }

  private val ScanNodes = Set("FileSourceScanExec", "BatchScanExec")

  /** Aggregation, sort and file-scan SQL metrics, summed. */
  private def planMetrics(roots: Seq[SparkPlan]): Map[String, Double] = {
    val out = mutable.Map("execution.agg_time_s" -> 0.0, "execution.sort_time_s" -> 0.0,
      "sources.scan_rows" -> 0.0, "sources.scan_mb" -> 0.0, "sources.scan_time_s" -> 0.0)
    def add(key: String, p: SparkPlan, metric: String)(of: SQLMetric => Double): Unit =
      p.metrics.get(metric).foreach(m => out(key) += of(m))
    walk(roots) { p =>
      add("execution.agg_time_s", p, "aggTime")(seconds)
      add("execution.sort_time_s", p, "sortTime")(seconds)
      if (ScanNodes(p.getClass.getSimpleName)) {
        add("sources.scan_rows", p, "numOutputRows")(_.value.toDouble)
        add("sources.scan_mb", p, "filesSize")(_.value / 1e6)
        add("sources.scan_time_s", p, "scanTime")(seconds)
      }
    }
    out.toMap
  }

  /** Rows a node emitted: its own row metric, a shuffle's records
    * written, at most a limit's count, or its child's through the nodes
    * that keep the row count (sorts, projections, shuffle reads, codegen
    * wrappers, windows); None where none of these tells. */
  private def rowsOut(p: SparkPlan): Option[Long] =
    p.metrics.get("numOutputRows").map(_.value).orElse(p match {
      case s: QueryStageExec => s.getRuntimeStatistics.rowCount.map(_.toLong)
      case e: ShuffleExchangeLike => e.runtimeStatistics.rowCount.map(_.toLong)
      case t: TakeOrderedAndProjectExec => rowsOut(t.child).map(math.min(_, t.limit.toLong))
      case l: LimitExec if l.limit >= 0 => rowsOut(l.child).map(math.min(_, l.limit.toLong))
      case _: SortExec | _: ProjectExec | _: AQEShuffleReadExec | _: InputAdapter |
          _: WholeStageCodegenExec | _: WindowExec => rowsOut(p.children.head)
      case _ => None
    })

  /** Every window with no partition spec: its input rows, keyed by its
    * output columns and order (one single task sorts all of them); null
    * where the plan does not tell. */
  private def unpartitionedWindowRows(roots: Seq[SparkPlan]): Map[String, Double] = {
    val out = mutable.Map.empty[String, Double].withDefaultValue(0.0)
    walk(roots) {
      case w: WindowExec if w.partitionSpec.isEmpty =>
        val key = w.windowExpression.map(_.name).mkString(",") + " ORDER BY " +
          w.orderSpec.map(_.sql).mkString(", ")
        out(key) += rowsOut(w.child).fold(Double.NaN)(_.toDouble)
      case _ =>
    }
    out.toMap
  }

  /** The recorded pass's last execution (the noop-sink action), then the
    * source plan behind each registered checkpoint leaf it reads,
    * recursively. */
  private def planText(name: String, qes: Seq[QueryExecution]): String = {
    val formatted = ExplainMode.fromString("formatted")
    val sb = new StringBuilder(s"# $name: executed plan of the profiled pass\n\n")
    val seen = mutable.Set.empty[Int]
    def sources(plan: SparkPlan): Unit = walk(Seq(plan)) {
      case r: RDDScanExec if seen.add(r.rdd.id) =>
        ScopedCache.checkpointSourceOf(r.rdd.id).foreach { src =>
          sb ++= s"\n# checkpoint source of RDD ${r.rdd.id}\n\n"
          sb ++= src.queryExecution.explainString(formatted)
          sources(src.queryExecution.executedPlan)
        }
      case _ =>
    }
    qes.lastOption.foreach { qe =>
      sb ++= qe.explainString(formatted)
      sources(qe.executedPlan)
    }
    sb.toString
  }

  private def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  private def value(v: Any): String = v match {
    case d: Double if d.isNaN || d.isInfinite => "null"
    case d: Double if d == math.rint(d) && math.abs(d) < 1e15 => d.toLong.toString
    case d: Double => String.format(java.util.Locale.ROOT, "%.6f", Double.box(d))
    case m: Map[_, _] =>
      m.toSeq.map { case (k, x) => k.toString -> x }.sortBy(_._1)
        .map { case (k, x) => str(k) + ":" + value(x) }.mkString("{", ",", "}")
    case x => str(String.valueOf(x))
  }

  /** One line per query, in the given order. */
  def toJson(records: Seq[(String, Record)]): String =
    records.map { case (name, r) => "  " + str(name) + ": " + value(r) }
      .mkString("{\n", ",\n", "\n}\n")
}
