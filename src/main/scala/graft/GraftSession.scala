package graft

import org.apache.spark.sql.SparkSession

/** Single session factory so Bench / Verify / tests share one config
  * posture (SURVEY.md §7.3-5): UTC session timezone (oracle parity),
  * AQE on (runtime re-plan = the elastic-scaling answer, SURVEY.md §4),
  * shuffle partitions sized to the local core count rather than the
  * 200 default (local[N] = N executor threads in one JVM).
  *
  * At cluster scale the same code runs unchanged: only master /
  * shuffle-partition sizing are env-driven here.
  */
object GraftSession {

  /** Core count: SPARK_GRAFT_CPUS env if the driver set it (positive
    * integers only), else all. */
  def cpus: Int =
    sys.env.get("SPARK_GRAFT_CPUS").flatMap(s => scala.util.Try(s.toInt).toOption)
      .filter(_ > 0)
      .getOrElse(Runtime.getRuntime.availableProcessors())

  def builder(appName: String): SparkSession.Builder = {
    val b = SparkSession.builder()
      .appName(appName)
      .withExtensions(new graft.functions.GraftExtensions)
    // master precedence: spark-submit's (spark.master system property),
    // then an explicit SPARK_MASTER env, then local[cores]
    if (!sys.props.contains("spark.master"))
      b.master(sys.env.getOrElse("SPARK_MASTER", s"local[$cpus]"))
    b.config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      // bounded driver bookkeeping: a 500+-action bench/verify session
      // otherwise accumulates thousands of retained SQL executions /
      // jobs / stages / tasks in the AppStatus stores (the UI is off,
      // but its listeners are not) — measured r12: the same query reads
      // 2.3 s standalone and 15.8 s as query ~150 of a 182-query sweep,
      // with the gap tracking old-gen growth, not ambient load
      .config("spark.sql.ui.retainedExecutions", "8")
      .config("spark.ui.retainedJobs", "100")
      .config("spark.ui.retainedStages", "200")
      .config("spark.ui.retainedTasks", "2000")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      // r18 negative result (guide §2.2, VERDICT r17 scaling block —
      // measured, then REVERTED): parallelismFirst=false with the 64m
      // advisory size coalesced every sf0.1 shuffle to ~1 partition and
      // serialized the CPU-dense operators (shingle explodes, distance
      // kernels, surprisal aggregates), whose per-task cost is per-ROW,
      // not per-byte — full-bench geomean 0.61x vs the round-start
      // baseline, with the most-parallel queries hit hardest (q84 0.25x,
      // q72/q129/q161-163/q217 0.26-0.43x). Data-sized coalescing is the
      // right 100 TB posture only where cost tracks bytes; at bench SF it
      // removes the parallelism the bench exists to measure. The r17
      // 8-vs-32-core inversion on sub-second stages is a fixed-overhead
      // SF artifact (scheduler + GC at 32 threads over tiny stages), not
      // a partitioning defect — AQE's default parallelismFirst=true
      // already coalesces sub-MB stages via minPartitionSize. Keep
      // Spark's defaults; the advisory size stays env-tunable for real
      // cluster profiles where bytes/partition IS the constraint.
      .config("spark.sql.adaptive.advisoryPartitionSizeInBytes",
        sys.env.getOrElse("SPARK_GRAFT_ADVISORY_PARTITION_BYTES", "64m"))
      .config("spark.sql.warehouse.dir", "/tmp/graft-warehouse")
      // events.parquet stores TIMESTAMP(NANOS) which Spark's vectorized
      // reader rejects by default; read as long nanos, converted back to
      // TimestampType in Tables.events (truncation to micros matches what
      // DuckDB does when it reads the same file).
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      // fixture timestamps are NAIVE parquet micros (isAdjustedToUTC=
      // false); with NTZ inference on, Spark 4 would surface them as
      // TIMESTAMP_NTZ — a type unix_micros/window() reject and the serde
      // schemas don't model. Read them as TimestampType instead: with the
      // UTC session timezone above, the stored values are the same
      // instants DuckDB sees, so oracle parity is unchanged.
      .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
      // fork-free local file system (sources/LocalFs.scala). Without the
      // native Hadoop library (libhadoop.so), Hadoop's local FS launches a
      // `chmod` child process per file create and mkdir, and a `readlink`
      // per link-status lookup, four per FileContext rename. One
      // event-stream benchmark run (seed 1: a warm-up and two timed drains
      // of 5 micro-batches, 4 vCPUs) launched 6,448 `readlink` and 2,102
      // `chmod` processes, for state-store deltas, offset/commit logs and
      // sink files of ~100 KB a batch; with these classes, none. The two
      // keys cover both Hadoop APIs: FileSystem (sinks, parquet,
      // reliable checkpoints) and FileContext (Spark's default streaming
      // checkpoint manager). Checksums, the atomic rename and the
      // permission bits written are unchanged.
      .config("spark.hadoop.fs.file.impl", classOf[graft.sources.NioLocalFileSystem].getName)
      .config("spark.hadoop.fs.AbstractFileSystem.file.impl",
        classOf[graft.sources.NioLocalFs].getName)
  }

  def get(appName: String = "graft"): SparkSession = {
    val spark = builder(appName).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
