package perfbench

import java.io.File
import java.lang.management.{ManagementFactory, MemoryType}
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}
import java.util.concurrent.atomic.AtomicLong
import javax.management.{Notification, NotificationEmitter}
import javax.management.openmbean.CompositeData

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import com.sun.management.GarbageCollectionNotificationInfo
import org.apache.spark.sql.{DataFrame, SparkSession}

/** The JVM side of the benchmark. It sets the session up, runs one workload
  * against the library's public entry points and writes a run record (raw
  * per-unit samples) for `run.py`, which checks the outputs and reduces the
  * samples to metrics.
  *
  * Usage: perfbench.Harness --workload <name> --data <inputs dir>
  *   --work <state dir> --seconds <n> --trace <0|1> --out <record.json>
  *
  * A batch workload runs its queries once untimed, writing each result to
  * `<work>/results/<query>` for the oracle check, then times whole passes
  * over the queries ([[passes]] of them). Each query starts with the cache
  * cold. With `--trace 1` untraced and traced passes alternate, so one run
  * gives both the per-layer numbers and the tracing overhead.
  */
object Harness {

  final case class Args(workload: String, data: String, work: String, seconds: Int,
                        trace: Boolean, out: String)

  def parse(argv: Array[String]): Args = {
    val m = argv.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    Args(m("workload"), m("data"), m("work"), m("seconds").toInt, m("trace") == "1", m("out"))
  }

  val setupRounds = 5

  /** Nominal seconds of one timed pass (or stream drain) per workload.
    * `--seconds` buys seconds / nominal passes, at least one, so that every
    * run of a workload does the same work whatever the host's speed. */
  private val nominalPassS = Map("sql-analytics" -> 3, "llm-pipeline" -> 3, "event-stream" -> 6)

  /** Timed passes for a run; traced runs need at least four (U T T U). */
  def passes(args: Args): Int =
    math.max(if (args.trace) 4 else 1, args.seconds / nominalPassS(args.workload))

  /** Traced runs alternate untraced and traced passes in the order
    * U T T U, so that warm-up drift over the run cancels out of the
    * overhead estimate. */
  def tracedAt(pass: Int): Boolean = pass % 4 == 1 || pass % 4 == 2

  def main(argv: Array[String]): Unit = {
    val args = parse(argv)
    val tmp = System.getProperty("java.io.tmpdir")
    val record = mutable.LinkedHashMap[String, Any](
      "workload" -> args.workload,
      "cores" -> graft.GraftSession.cpus,
      "artifacts_at_start" -> Artifacts.live(tmp).size)
    // set-up = session start through warm-up, repeated; the last session stays
    val (setups, spark) = setUp(args)
    record("setup_s") = setups
    val tracer = new Tracer(spark)
    val body = args.workload match {
      case "event-stream" => new StreamWorkload(spark, args, tracer).run()
      case w => new BatchWorkload(spark, args, tracer, Workloads.batch(w)).run()
    }
    record ++= body
    if (args.trace) writeSpans(s"${args.work}/spans.jsonl", tracer.spans.toSeq)
    Files.write(Paths.get(args.out), Json.encode(record).getBytes(StandardCharsets.UTF_8))
    spark.stop()
  }

  private def session(args: Args): SparkSession = {
    val s = graft.GraftSession.builder(s"perfbench-${args.workload}")
      .config("spark.sql.warehouse.dir", s"${args.work}/warehouse")
      // every micro-batch's progress must stay readable after a drain
      .config("spark.sql.streaming.numRecentProgressUpdates", "100000")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  private def setUp(args: Args): (Seq[Double], SparkSession) = {
    var last: SparkSession = null
    val times = (1 to setupRounds).map { i =>
      val t0 = System.nanoTime()
      val s = session(args)
      warmUp(s, args.data)
      val t = (System.nanoTime() - t0) / 1e9
      if (i < setupRounds) {
        s.stop()
        SparkSession.clearActiveSession()
        SparkSession.clearDefaultSession()
      } else last = s
      t
    }
    (times, last)
  }

  /** Generic warm-up, as `graft.Bench` does it: executor threads, the
    * parquet reader and the library's function registry. */
  private def warmUp(spark: SparkSession, data: String): Unit = {
    graft.functions.GraftFunctions.ensureRegistered(spark)
    spark.range(1000000).selectExpr("sum(id)").collect()
    spark.read.parquet(s"$data/region.parquet").count()
    ()
  }

  def writeSpans(path: String, spans: Seq[Span]): Unit =
    Files.write(Paths.get(path),
      spans.map(s => Json.encode(s.toMap)).mkString("", "\n", "\n").getBytes(StandardCharsets.UTF_8))
}

/** JVM-wide gauges read around a timed unit. */
object Jvm {
  private val gcs = ManagementFactory.getGarbageCollectorMXBeans.asScala

  private val threads = ManagementFactory.getThreadMXBean

  /** Threads whose CPU is not the program's: the JIT compiler, the garbage
    * collector and the benchmark's own sampler. HotSpot already hides its
    * compiler and GC threads from the thread bean; the names guard against
    * a JVM that shows them. How much they run varies from run to run with
    * the JVM's warm-up, not with the work. */
  private val notProgram = Seq("C1 CompilerThread", "C2 CompilerThread", "GC Thread", "G1 ",
    "perfbench-")

  /** CPU nanoseconds so far of every live thread but those above: the
    * driver's main thread, executor task threads, stream execution threads,
    * the scheduler, broadcast and result threads, the library's own
    * Future pools and the rest of what Spark runs. A thread that ends
    * inside the window takes its CPU with it; Spark's and Scala's pools
    * keep idle threads for a minute, longer than a unit runs. */
  def cpuSnapshot(): Map[Long, Long] =
    threads.getThreadInfo(threads.getAllThreadIds).iterator
      .filter(i => i != null && !notProgram.exists(i.getThreadName.startsWith))
      .map(i => i.getThreadId -> threads.getThreadCpuTime(i.getThreadId))
      .filter(_._2 > 0).toMap

  /** CPU seconds those threads spent since `before`. */
  def cpuSince(before: Map[Long, Long]): Double =
    cpuSnapshot().iterator.map { case (id, ns) => ns - before.getOrElse(id, 0L) }
      .filter(_ > 0).sum / 1e9
  def gcCount: Double = gcs.map(_.getCollectionCount.max(0L)).sum.toDouble
  def gcS: Double = gcs.map(_.getCollectionTime.max(0L)).sum / 1e3

  private val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == MemoryType.HEAP).map(_.getName).toSet
  private val heapPeak = new AtomicLong(0L)
  private val collections = new AtomicLong(0L)

  // every collection reports the heap it left in use
  gcs.foreach {
    case emitter: NotificationEmitter =>
      emitter.addNotificationListener((n: Notification, _: AnyRef) =>
        if (n.getType == GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
          val info = GarbageCollectionNotificationInfo.from(n.getUserData.asInstanceOf[CompositeData])
          val used = info.getGcInfo.getMemoryUsageAfterGc.asScala
            .collect { case (pool, u) if heapPools(pool) => u.getUsed }.sum
          heapPeak.accumulateAndGet(used, (a: Long, b: Long) => math.max(a, b))
          collections.incrementAndGet()
        }, null, null)
    case _ =>
  }

  /** Start a unit's heap window. */
  def resetHeapPeak(): Unit = heapPeak.set(0L)

  /** Heap in MB over the window: (peak, retained). Peak is the most heap
    * any collection in the window left in use, the full collection at its
    * end included; retained is what that last collection left. Heap in use
    * before a collection follows how far the collector let the young
    * generation fill, which changes from run to run; after one, it follows
    * what the program holds. Runs a collection, so call it outside timing. */
  def heapMb(): (Double, Double) = {
    val seen = collections.get
    System.gc()
    // notifications arrive on another thread; wait for the one just caused
    val deadline = System.nanoTime() + 500000000L
    while (collections.get == seen && System.nanoTime() < deadline) Thread.sleep(1)
    val retained = ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed
    (math.max(heapPeak.get, retained) / 1e6, retained / 1e6)
  }
}

/** Published ArtifactStore generations under the tmpdir. A generation is a
  * live `graft_*` directory (not a staging or retired one), told apart from
  * an earlier one at the same path by its signature stamp's file key and
  * modification time. */
object Artifacts {
  def live(tmp: String): Set[String] =
    Option(new File(tmp).listFiles()).toSeq.flatten
      .filter(f => f.isDirectory && f.getName.startsWith("graft_") &&
        !f.getName.contains(".tmp.") && !f.getName.contains(".old."))
      .map { f =>
        val stamp = new File(f, "_signature")
        val key = scala.util.Try(Files.readAttributes(stamp.toPath,
          classOf[java.nio.file.attribute.BasicFileAttributes]).fileKey()).getOrElse("none")
        s"${f.getName}|$key|${stamp.lastModified()}"
      }.toSet
}

/** Between units: release every scoped cache and checkpoint (blocking),
  * clear the cache manager, collect garbage. Returns the seconds spent in
  * `ScopedCache.clear` and the persisted RDDs still registered afterwards. */
object Settle {
  def apply(spark: SparkSession): (Double, Int) = {
    val t0 = System.nanoTime()
    graft.functions.ScopedCache.clear(blocking = true)
    val clearS = (System.nanoTime() - t0) / 1e9
    spark.catalog.clearCache()
    System.gc()
    (clearS, spark.sparkContext.getPersistentRDDs.size)
  }
}

/** Peak of the RDD storage (memory plus disk) seen by a 50 ms sampler. */
final class CacheSampler(spark: SparkSession) {
  @volatile private var peak = 0L
  @volatile private var running = true
  private def sample(): Unit = {
    val used = spark.sparkContext.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum
    if (used > peak) peak = used
  }
  private val thread = new Thread(() => {
    while (running) {
      scala.util.Try(sample())
      Thread.sleep(50)
    }
  }, "perfbench-cache-sampler")
  thread.setDaemon(true)
  thread.start()

  /** Stop sampling; return the peak in MB. */
  def stop(): Double = {
    running = false
    thread.join()
    scala.util.Try(sample())
    peak / 1e6
  }
}

final class BatchWorkload(spark: SparkSession, args: Harness.Args, tracer: Tracer,
                          queries: Seq[(String, (SparkSession, String) => DataFrame)]) {
  private val tmp = System.getProperty("java.io.tmpdir")
  private val seenArtifacts = mutable.Set.empty[String] ++ Artifacts.live(tmp)

  /** Artifact generations published since the last call. */
  private def newArtifacts(): Int = {
    val now = Artifacts.live(tmp)
    val fresh = now.diff(seenArtifacts)
    seenArtifacts ++= fresh
    fresh.size
  }

  def run(): Map[String, Any] = {
    val verify = mutable.LinkedHashMap.empty[String, Any]
    queries.foreach { case (name, fn) =>
      Settle(spark)
      verify(name) = scala.util.Try {
        fn(spark, args.data).write.mode("overwrite").parquet(s"${args.work}/results/$name")
      }.failed.toOption.map(e => s"${e.getClass.getSimpleName}: ${e.getMessage}").orNull
    }
    newArtifacts()
    val passes = (0 until Harness.passes(args)).map { i =>
      val traced = args.trace && Harness.tracedAt(i)
      if (traced) tracer.attach() else tracer.detach()
      pass(i, traced)
    }
    tracer.detach()
    Map("oracle_sql" -> queries.map(_._1).flatMap(n => graft.SparkEntry.oracleSql.get(n).map(n -> _)).toMap,
      "verify_errors" -> verify, "passes" -> passes)
  }

  private def pass(index: Int, traced: Boolean): Map[String, Any] = {
    val units = mutable.LinkedHashMap.empty[String, Any]
    val layers = mutable.Map.empty[String, Double].withDefaultValue(0.0)
    queries.foreach { case (name, fn) =>
      val (settleS, liveAfter) = Settle(spark)
      if (traced) tracer.begin()
      val sampler = if (traced) Some(new CacheSampler(spark)) else None
      val (gc0, gcN0) = (Jvm.gcS, Jvm.gcCount)
      Jvm.resetHeapPeak()
      val cpu0 = Jvm.cpuSnapshot()
      val t0 = System.nanoTime()
      val startMs = Clock.nowMs
      var buildEndMs = startMs
      var buildS = 0.0
      val error = scala.util.Try {
        val df = fn(spark, args.data)
        buildS = (System.nanoTime() - t0) / 1e9
        buildEndMs = Clock.nowMs
        // noop sink, as graft.Bench: count() would let Catalyst prune the work
        df.write.format("noop").mode("overwrite").save()
      }.failed.toOption.map(e => s"${e.getClass.getSimpleName}: ${e.getMessage}")
      val timeS = (System.nanoTime() - t0) / 1e9
      val endMs = Clock.nowMs
      val cpuS = Jvm.cpuSince(cpu0)
      val (gcS, gcN) = (Jvm.gcS - gc0, Jvm.gcCount - gcN0)
      val (peakMb, retainedMb) = Jvm.heapMb()
      error.foreach(e => System.err.println(s"[perfbench] $name failed: $e"))
      units(name) = Map("time_s" -> timeS, "build_s" -> buildS, "cpu_s" -> cpuS,
        "heap_peak_mb" -> peakMb, "heap_retained_mb" -> retainedMb, "error" -> error.orNull)
      if (traced) {
        val cacheMb = sampler.get.stop()
        val unit = tracer.end(s"${args.workload}/pass$index/$name", startMs, buildEndMs, endMs)
        unit.foreach { case (k, v) => layers(k) += v }
        layers("operators.build_s") += buildS
        layers("unit_wall_s") += timeS
        layers("jvm.gc_s") += gcS
        layers("jvm.gc_count") += gcN
        layers("jvm.peak_heap_mb") = math.max(layers("jvm.peak_heap_mb"), peakMb)
        layers("sources.artifact_builds") += newArtifacts()
        layers("cache.settle_s") += settleS
        layers("cache.peak_mb") = math.max(layers("cache.peak_mb"), cacheMb)
        layers("cache.live_rdds_after_settle") =
          math.max(layers("cache.live_rdds_after_settle"), liveAfter.toDouble)
      } else newArtifacts()
    }
    Map("traced" -> traced, "units" -> units, "layers" -> layers.toMap)
  }
}
