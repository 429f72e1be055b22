package perfbench

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Dataset, Encoders, Row, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions.lit
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryProgress}

import graft.streaming.{Event, EventStreams, TopKUpdate}

/** The event-stream workload. The seeded arrivals (`<data>/stream/
  * arrivals.parquet`, one `batch` number per row) are fed through one
  * `MemoryStream[Event]` into four `EventStreams` pipelines at once:
  * `tumblingCounts` and `sessionizeWithState` into memory sinks,
  * `dedupByEventId` through `exactlyOnceSink` into a parquet directory, and
  * `topKPerKeyStream` into a foreachBatch collector. One driver thread runs
  * a closed loop: add a batch, then wait for `processAllAvailable` on every
  * query. A drain is one pass over all batches with fresh checkpoints, and
  * [[Harness.passes]] drains are timed. The first drain's outputs are
  * written out for the correctness check. */
final class StreamWorkload(spark: SparkSession, args: Harness.Args, tracer: Tracer) {
  import spark.implicits._

  private val batches: Seq[Seq[Event]] = {
    val rows = spark.read.parquet(s"${args.data}/stream/arrivals.parquet")
      .orderBy("seq").select("batch", "event_id", "ts", "user_id", "event_type", "value", "props")
      .collect()
    rows.groupBy(_.getInt(0)).toSeq.sortBy(_._1).map { case (_, rs) =>
      rs.toSeq.map(r => Event(r.getLong(1), r.getTimestamp(2), r.getLong(3), r.getString(4),
        r.getDouble(5), r.getString(6)))
    }
  }
  private val nEvents = batches.map(_.size).sum

  /** Watermark delay of every watermarked pipeline; `inputs.py` holds events
    * back inside it and sends late ones beyond it. */
  private val watermarkDelay = "2 hours"

  def run(): Map[String, Any] = {
    // warm-up: start the four queries and run them on the first batch, untimed
    drain(-1, traced = false, batches.take(1))
    val drains = (0 until Harness.passes(args)).map { i =>
      val traced = args.trace && Harness.tracedAt(i)
      if (traced) tracer.attach() else tracer.detach()
      drain(i, traced, batches)
    }
    tracer.detach()
    Map("events" -> nEvents, "batches" -> batches.size, "passes" -> drains)
  }

  private def drain(index: Int, traced: Boolean, input: Seq[Seq[Event]]): Map[String, Any] = {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val dir = s"${args.work}/stream/drain$index"
    val dump = index == 0
    Settle(spark)
    if (traced) tracer.begin()
    val (gc0, gcN0) = (Jvm.gcS, Jvm.gcCount)
    Jvm.resetHeapPeak()
    val startMs = Clock.nowMs
    val in = MemoryStream[Event]
    val events = in.toDS()
    val topk = new java.util.concurrent.ConcurrentLinkedQueue[Row]()
    def ck(name: String) = s"$dir/checkpoint-$name"
    val queries: Seq[(String, StreamingQuery)] = Seq(
      "tumbling" -> EventStreams.tumblingCounts(events.toDF(), watermarkDelay = watermarkDelay).writeStream
        .outputMode("append").format("memory").queryName(s"pb_tumbling_${index + 1}")
        .option("checkpointLocation", ck("tumbling")).start(),
      "sessions" -> EventStreams.sessionizeWithState(events, watermarkDelay = watermarkDelay).writeStream
        .outputMode("append").format("memory").queryName(s"pb_sessions_${index + 1}")
        .option("checkpointLocation", ck("sessions")).start(),
      "dedup" -> EventStreams.exactlyOnceSink(EventStreams.dedupByEventId(events.toDF(), watermarkDelay),
        s"$dir/sink", ck("dedup")),
      "topk" -> EventStreams.topKPerKeyStream(events).toDF().writeStream
        .outputMode("update").option("checkpointLocation", ck("topk"))
        .foreachBatch { (batch: Dataset[Row], id: Long) =>
          // collect every batch: the state stores commit only once it is read
          val rows = batch.withColumn("batch_id", lit(id)).collect()
          if (dump) topk.addAll(rows.toSeq.asJava)
          ()
        }.start())
    val buildEndMs = Clock.nowMs
    val cpu0 = Jvm.cpuSnapshot()
    val latencies = mutable.ArrayBuffer.empty[Double]
    val failure = scala.util.Try {
      input.foreach { b =>
        val t0 = System.nanoTime()
        in.addData(b)
        queries.foreach(_._2.processAllAvailable())
        latencies += (System.nanoTime() - t0) / 1e9
      }
    }.failed.toOption
    val cpuS = Jvm.cpuSince(cpu0)
    val (gcS, gcN) = (Jvm.gcS - gc0, Jvm.gcCount - gcN0)
    val endMs = Clock.nowMs
    val (peakMb, retainedMb) = Jvm.heapMb()
    queries.foreach(_._2.stop())
    val progress = queries.map { case (n, q) => n -> q.recentProgress.toSeq }.toMap
    val errors = queries.flatMap { case (n, q) => q.exception.map(e => s"$n: ${e.getMessage}") } ++
      failure.filter(_ => queries.forall(_._2.exception.isEmpty)).map(_.toString)
    if (dump && errors.isEmpty) writeOutputs(index, topk.asScala.toSeq, progress)
    val layers = mutable.Map.empty[String, Double]
    if (traced) {
      layers ++= tracer.end(s"${args.workload}/drain$index", startMs, buildEndMs, endMs)
      layers ++= streamingLayers(progress)
      layers("operators.build_s") = (buildEndMs - startMs) / 1e3
      layers("unit_wall_s") = (endMs - startMs) / 1e3
      layers("jvm.gc_s") = gcS
      layers("jvm.gc_count") = gcN
      layers("jvm.peak_heap_mb") = peakMb
    }
    Map("traced" -> traced,
      "units" -> Map("drain" -> Map("time_s" -> latencies.sum, "cpu_s" -> cpuS,
        "heap_peak_mb" -> peakMb, "heap_retained_mb" -> retainedMb, "error" -> (if (errors.isEmpty) null else errors.mkString("; ")))),
      "batch_latency_s" -> latencies,
      "layers" -> layers.toMap)
  }

  private def sumDuration(ps: Seq[StreamingQueryProgress], keys: String*): Double =
    ps.map(p => keys.map(k => Option(p.durationMs.get(k)).map(_.longValue).getOrElse(0L)).sum).sum / 1e3

  private def streamingLayers(progress: Map[String, Seq[StreamingQueryProgress]]): Map[String, Double] = {
    val all = progress.values.flatten.toSeq
    val ops = all.flatMap(_.stateOperators)
    val last = progress.values.flatMap(_.lastOption).flatMap(_.stateOperators).toSeq
    Map(
      "streaming.add_batch_s" -> sumDuration(all, "addBatch"),
      "streaming.query_planning_s" -> sumDuration(all, "queryPlanning"),
      "streaming.wal_commit_s" -> sumDuration(all, "walCommit", "commitOffsets"),
      "streaming.state_commit_s" -> ops.map(_.commitTimeMs).sum / 1e3,
      "streaming.state_rows" -> last.map(_.numRowsTotal).sum.toDouble,
      "streaming.state_mb" -> last.map(_.memoryUsedBytes).sum / 1e6,
      "streaming.state_rows_updated" -> ops.map(_.numRowsUpdated).sum.toDouble,
      "streaming.late_rows_dropped" -> lateDropped(progress("dedup")).toDouble)
  }

  private def lateDropped(ps: Seq[StreamingQueryProgress]): Long =
    ps.flatMap(_.stateOperators).map(_.numRowsDroppedByWatermark).sum

  /** The first drain's outputs, for `run.py`'s check against a batch
    * computation over the same arrivals. */
  private def writeOutputs(index: Int, topk: Seq[Row],
                           progress: Map[String, Seq[StreamingQueryProgress]]): Unit = {
    val out = s"${args.work}/stream/out"
    spark.table(s"pb_tumbling_${index + 1}").write.mode("overwrite").parquet(s"$out/tumbling")
    spark.table(s"pb_sessions_${index + 1}").write.mode("overwrite").parquet(s"$out/sessions")
    spark.createDataFrame(topk.asJava,
      Encoders.product[TopKUpdate].schema.add("batch_id", "long"))
      .write.mode("overwrite").parquet(s"$out/topk")
    val summary = progress.map { case (n, ps) =>
      n -> Map(
        "watermark" -> ps.lastOption.flatMap(p => Option(p.eventTime.get("watermark"))).orNull,
        "late_rows_dropped" -> lateDropped(ps),
        "batches" -> ps.size)
    }
    java.nio.file.Files.write(java.nio.file.Paths.get(s"$out/progress.json"),
      Json.encode(summary + ("sink" -> s"${args.work}/stream/drain$index/sink"))
        .getBytes(java.nio.charset.StandardCharsets.UTF_8))
    ()
  }
}
