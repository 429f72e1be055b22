package graft

import java.nio.file.Files
import java.sql.Timestamp

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.streaming._

/** Streaming semantics (SURVEY.md §2.9 / §5.2): windows, watermark
  * admit/drop, keyed state + timers, stream-stream & stream-static joins,
  * DLQ fan-out, idempotent sink, streaming dedup — all MemoryStream-driven
  * with hand-placed event times (no wall clock).
  */
class StreamingSpec extends AnyFunSuite with SparkSpec {

  /** 2024-01-01T00:00:00Z */
  private val base = 1704067200000L
  private def ts(minutes: Double): Timestamp = new Timestamp(base + (minutes * 60000).toLong)
  private def ev(id: Long, minutes: Double, user: Long, typ: String, value: Double = 1.0): Event =
    Event(id, ts(minutes), user, typ, value, "{}")

  private def tmp(prefix: String): String =
    Files.createTempDirectory(prefix).toString

  test("tumbling windows finalize on watermark and drop too-late events (T2/T4/T5)") {
    val session = spark
    import session.implicits._
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[Event]
    val q = EventStreams.tumblingCounts(in.toDF(), "10 minutes", "10 minutes")
      .writeStream.outputMode("append").format("memory").queryName("tumbling")
      .option("checkpointLocation", tmp("ck-tumbling")).start()
    try {
      in.addData(ev(1, 1, 1, "click"), ev(2, 2, 1, "click"), ev(3, 5, 1, "view"))
      q.processAllAvailable()
      assert(spark.table("tumbling").count() === 0) // window [0,10) not closed yet
      in.addData(ev(4, 25, 2, "click")) // watermark -> 15min: closes [0,10)
      q.processAllAvailable()
      val closed = spark.table("tumbling")
        .select($"window_start", $"event_type", $"n").as[(Timestamp, String, Long)]
        .collect().toSet
      assert(closed === Set((ts(0), "click", 2L), (ts(0), "view", 1L)))
      in.addData(ev(5, 3, 1, "click")) // behind watermark: dropped
      in.addData(ev(6, 60, 2, "click")) // watermark -> 50: closes [20,30)
      q.processAllAvailable()
      val all = spark.table("tumbling")
        .select($"window_start", $"event_type", $"n").as[(Timestamp, String, Long)]
        .collect().toSet
      assert(all === Set(
        (ts(0), "click", 2L), (ts(0), "view", 1L), // late event 5 NOT counted
        (ts(20), "click", 1L)))
    } finally q.stop()
  }

  test("KMV sketch aggregates through streaming windowed state (exact below k)") {
    val session = spark
    import session.implicits._
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[Event]
    val q = EventStreams.tumblingDistinctUsers(in.toDF(), "10 minutes", "10 minutes")
      .writeStream.outputMode("append").format("memory").queryName("kmvwin")
      .option("checkpointLocation", tmp("ck-kmvwin")).start()
    try {
      // users 1,2,3 in window [0,10) — user 1 twice ACROSS micro-batches,
      // so the sketch state must merge between batches without
      // double-counting the duplicate
      in.addData(ev(1, 1, 1, "click"), ev(2, 2, 2, "click"))
      q.processAllAvailable()
      in.addData(ev(3, 5, 1, "view"), ev(4, 6, 3, "click"))
      q.processAllAvailable()
      in.addData(ev(5, 25, 9, "click")) // watermark -> 15min: closes [0,10)
      q.processAllAvailable()
      val closed = spark.table("kmvwin")
        .select($"window_start", $"n_users_approx").as[(Timestamp, Long)]
        .collect().toSet
      // 3 distinct users << k=1024: the sketch saw every hash — exact
      assert(closed === Set((ts(0), 3L)))
    } finally q.stop()
  }

  test("session windows merge by gap (T3)") {
    val session = spark
    import session.implicits._
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[Event]
    val q = EventStreams.sessionWindowCounts(in.toDF(), "30 minutes", "10 minutes")
      .writeStream.outputMode("append").format("memory").queryName("sessions")
      .option("checkpointLocation", tmp("ck-sessions")).start()
    try {
      in.addData(ev(1, 0, 7, "click", 2.0), ev(2, 5, 7, "view", 3.0), ev(3, 10, 7, "click", 5.0))
      in.addData(ev(4, 60, 7, "view", 1.0))
      in.addData(ev(5, 300, 9, "click")) // push watermark far ahead
      q.processAllAvailable()
      val rows = spark.table("sessions")
        .select($"session_start", $"session_end", $"user_id", $"n", $"total_value")
        .as[(Timestamp, Timestamp, Long, Long, Double)].collect().toSet
      assert(rows === Set(
        (ts(0), ts(40), 7L, 3L, 10.0),   // 3 events, ends last+gap
        (ts(60), ts(90), 7L, 1L, 1.0)))
    } finally q.stop()
  }

  /** Run `body` under a named state-store provider: "default" = the
    * HDFS-backed in-memory provider, "rocksdb" = RocksDBStateStoreProvider.
    * The state-HEAVY shapes (both sessionize timer flavors, the
    * stream-stream join) run under BOTH — provider-specific behavior
    * (value encoding, timeout bookkeeping) must never change semantics. */
  private def withStateProvider(provider: String)(body: => Unit): Unit =
    if (provider == "rocksdb") {
      EventStreams.rocksdbStateConfigs.foreach { case (k, v) => spark.conf.set(k, v) }
      try body
      finally spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
    } else body

  for (provider <- Seq("default", "rocksdb"))
  test(s"flatMapGroupsWithState sessionization with event-time timeout (T6/T7) [$provider]") {
    val session = spark
    import session.implicits._
    implicit val sqlCtx = spark.sqlContext
    withStateProvider(provider) {
      val in = MemoryStream[Event]
      val q = EventStreams.sessionizeWithState(in.toDS(), gapMs = 30 * 60000L,
          watermarkDelay = "10 minutes")
        .writeStream.outputMode("append").format("memory").queryName(s"fmgs_$provider")
        .option("checkpointLocation", tmp("ck-fmgs")).start()
      try {
        in.addData(ev(1, 0, 7, "click", 2.0), ev(2, 5, 7, "view", 3.0), ev(3, 10, 7, "click", 5.0))
        in.addData(ev(4, 60, 7, "view", 1.0)) // closes session 1 (gap > 30min)
        in.addData(ev(5, 300, 9, "click"))    // watermark 290 > 60+30: times out session 2
        q.processAllAvailable()
        val rows = spark.table(s"fmgs_$provider").as[SessionSummary].collect().toSet
        assert(rows === Set(
          SessionSummary(7L, 3L, ts(0), ts(10), 10.0),
          SessionSummary(7L, 1L, ts(60), ts(60), 1.0)))
      } finally q.stop()
    }
  }

  for (provider <- Seq("default", "rocksdb"))
  test(s"flatMapGroupsWithState with PROCESSING-time timeout flushes idle keys (T7) [$provider]") {
    val session = spark
    import session.implicits._
    implicit val sqlCtx = spark.sqlContext
    withStateProvider(provider) {
      val in = MemoryStream[Event]
      // NOTE: processAllAvailable() must NOT be used on this stream — with
      // processing-time timers armed, shouldRunAnotherBatch is always true
      // (the engine keeps running no-data batches to check timers), so the
      // "no new data" signal never fires and processAllAvailable blocks
      // forever. Poll the sink with a deadline instead; the real trigger
      // interval keeps the timer-checking batches from busy-spinning.
      val q = EventStreams.sessionizeIdleFlush(in.toDS(), gapMs = 30 * 60000L, idleMs = 500L)
        .writeStream.outputMode("append").format("memory").queryName(s"ptt_$provider")
        .trigger(org.apache.spark.sql.streaming.Trigger.ProcessingTime("100 milliseconds"))
        .option("checkpointLocation", tmp("ck-ptt")).start()
      try {
        in.addData(ev(1, 0, 7, "click", 2.0), ev(2, 5, 7, "view", 3.0),
                   ev(3, 60, 7, "click", 5.0))
        // the idleness timer fires ~500ms after the batch that consumed the
        // events; wall-clock timers need a tolerant deadline, not exact sleeps
        var waitedMs = 0
        while (spark.table(s"ptt_$provider").count() < 2 && waitedMs < 60000) {
          Thread.sleep(250); waitedMs += 250
        }
        val rows = spark.table(s"ptt_$provider").as[SessionSummary].collect().toSet
        // two sessions by EVENT-time gap (t=0..5 and t=60), both flushed by
        // the same idleness timer once key 7 goes quiet
        assert(rows === Set(
          SessionSummary(7L, 2L, ts(0), ts(5), 5.0),
          SessionSummary(7L, 1L, ts(60), ts(60), 5.0)))
      } finally q.stop()
    }
  }

  test("sessionizeIdleFlush maxOpenSessions force-flushes the oldest sessions of a hot key (T7)") {
    val session = spark
    import session.implicits._
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[Event]
    // four gap-separated sessions for ONE key in one batch, cap of 2:
    // the two oldest must flush immediately (bounded state), the two
    // newest on the idle timer — all four summaries eventually emitted
    val q = EventStreams.sessionizeIdleFlush(in.toDS(), gapMs = 30 * 60000L,
        idleMs = 500L, maxOpenSessions = 2)
      .writeStream.outputMode("append").format("memory").queryName("pttcap")
      .trigger(org.apache.spark.sql.streaming.Trigger.ProcessingTime("100 milliseconds"))
      .option("checkpointLocation", tmp("ck-pttcap")).start()
    try {
      in.addData(ev(1, 0, 7, "click", 1.0), ev(2, 60, 7, "view", 2.0),
                 ev(3, 120, 7, "click", 3.0), ev(4, 180, 7, "view", 4.0))
      var waitedMs = 0
      while (spark.table("pttcap").count() < 4 && waitedMs < 60000) {
        Thread.sleep(250); waitedMs += 250
      }
      val rows = spark.table("pttcap").as[SessionSummary].collect().toSet
      assert(rows === Set(
        SessionSummary(7L, 1L, ts(0), ts(0), 1.0),
        SessionSummary(7L, 1L, ts(60), ts(60), 2.0),
        SessionSummary(7L, 1L, ts(120), ts(120), 3.0),
        SessionSummary(7L, 1L, ts(180), ts(180), 4.0)))
    } finally q.stop()
  }

  test("sessionizeWithState absorbs in-watermark out-of-order events and extends boundaries") {
    val session = spark
    import session.implicits._
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[Event]
    val q = EventStreams.sessionizeWithState(in.toDS(), gapMs = 30 * 60000L,
        watermarkDelay = "2 hours")
      .writeStream.outputMode("append").format("memory").queryName("fmgs_ooo")
      .option("checkpointLocation", tmp("ck-fmgs-ooo")).start()
    try {
      in.addData(ev(1, 60, 7, "click", 1.0))   // session seed at t=60
      q.processAllAvailable()
      in.addData(ev(2, 40, 7, "view", 2.0))    // late, within gap BEFORE start
      q.processAllAvailable()
      in.addData(ev(3, 400, 9, "click", 1.0))  // advance watermark → timeout
      q.processAllAvailable()
      val rows = spark.table("fmgs_ooo").as[SessionSummary].collect().toSet
      // the late event extended the session start back to t=40
      assert(rows.contains(SessionSummary(7L, 2L, ts(40), ts(60), 3.0)), rows)
    } finally q.stop()
  }

  for (provider <- Seq("default", "rocksdb"))
  test(s"stream-stream windowed join matches same-key events in window (J2) [$provider]") {
    val session = spark
    import session.implicits._
    implicit val sqlCtx = spark.sqlContext
    withStateProvider(provider) {
      val in = MemoryStream[Event]
      val q = EventStreams.purchaseClickJoin(in.toDF(), windowMinutes = 10)
        .select($"p_id", $"c_id")
        .writeStream.outputMode("append").format("memory").queryName(s"ssj_$provider")
        .option("checkpointLocation", tmp("ck-ssj")).start()
      try {
        in.addData(
          ev(100, 4, 1, "click"),
          ev(101, 9, 2, "click"),    // other user: no match
          ev(102, 25, 1, "click"),   // after purchase 103, before 104
          ev(103, 10, 1, "purchase"),
          ev(104, 30, 1, "purchase"))
        q.processAllAvailable()
        val pairs = spark.table(s"ssj_$provider").as[(Long, Long)].collect().toSet
        assert(pairs === Set((103L, 100L), (104L, 102L)))
      } finally q.stop()
    }
  }

  test("stream-stream LEFT OUTER join emits unmatched rows after the watermark closes them (J2)") {
    val session = spark
    import session.implicits._
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[Event]
    val q = EventStreams.purchaseClickJoin(in.toDF(), windowMinutes = 10,
        watermarkDelay = "5 minutes", joinType = "leftOuter")
      .select($"p_id", $"c_id")
      .writeStream.outputMode("append").format("memory").queryName("ssj_outer")
      .option("checkpointLocation", tmp("ck-ssj-outer")).start()
    try {
      in.addData(
        ev(200, 4, 1, "click"),
        ev(201, 10, 1, "purchase"),   // matches click 200
        ev(202, 30, 2, "purchase"))   // no click for user 2 → outer row
      q.processAllAvailable()
      // the global watermark is the MIN across both sides' watermark
      // nodes (each sees only its filtered events), so BOTH a late click
      // and a late purchase are needed to advance it past the open state;
      // null-side rows then surface in the following micro-batch
      in.addData(ev(203, 120, 3, "click"), ev(204, 120, 8, "purchase"))
      q.processAllAvailable()
      in.addData(ev(205, 125, 3, "click"), ev(206, 125, 8, "purchase"))
      q.processAllAvailable()
      val pairs = spark.table("ssj_outer").as[(Long, Option[Long])].collect().toSet
      assert(pairs.contains((201L, Some(200L))), pairs)
      assert(pairs.contains((202L, None)), pairs)
    } finally q.stop()
  }

  test("stream-static enrichment joins the broadcast dimension (J1)") {
    val session = spark
    import session.implicits._
    implicit val sqlCtx = spark.sqlContext
    val dim = Seq((1L, "alice"), (2L, "bob")).toDF("user_id", "name")
    val in = MemoryStream[Event]
    val q = EventStreams.enrichWithDim(in.toDF(), dim, "user_id")
      .select($"event_id", $"name")
      .writeStream.outputMode("append").format("memory").queryName("enrich")
      .option("checkpointLocation", tmp("ck-enrich")).start()
    try {
      in.addData(ev(1, 0, 1, "click"), ev(2, 1, 2, "view"), ev(3, 2, 99, "view"))
      q.processAllAvailable()
      val rows = spark.table("enrich").as[(Long, Option[String])].collect().toSet
      assert(rows === Set((1L, Some("alice")), (2L, Some("bob")), (3L, None)))
    } finally q.stop()
  }

  test("streaming funnel emits one hit per completed chain, order-strict across batches") {
    val session = spark
    import session.implicits._
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[Event]
    val q = EventStreams.funnelDetect(in.toDS())
      .writeStream.outputMode("append").format("memory").queryName("funnel")
      .option("checkpointLocation", tmp("ck-funnel")).start()
    try {
      // batch 1: user 1 views+clicks; user 2 clicks BEFORE viewing
      in.addData(
        ev(1, 0, 1, "view"), ev(2, 5, 1, "click"),
        ev(3, 0, 2, "click"), ev(4, 5, 2, "view"))
      q.processAllAvailable()
      assert(spark.table("funnel").count() === 0)
      // batch 2: user 1 completes (and a second purchase must NOT
      // re-emit); user 2's purchase has no prior click-after-view
      in.addData(
        ev(5, 10, 1, "purchase"), ev(6, 15, 1, "purchase"),
        ev(7, 10, 2, "purchase"))
      q.processAllAvailable()
      val hits = spark.table("funnel")
        .as[(Long, Timestamp, Timestamp, Timestamp)].collect().toSeq
      assert(hits === Seq((1L, ts(0), ts(5), ts(10))))
      // batch 3: user 2 finishes a REAL chain -> exactly one more hit
      in.addData(ev(8, 20, 2, "click"), ev(9, 25, 2, "purchase"))
      q.processAllAvailable()
      val all = spark.table("funnel")
        .as[(Long, Timestamp, Timestamp, Timestamp)].collect().toSet
      assert(all === Set(
        (1L, ts(0), ts(5), ts(10)),
        (2L, ts(5), ts(20), ts(25))))
    } finally q.stop()
  }

  test("streaming SCD2 enrich: events join their own era's dim version, even late") {
    val session = spark
    import session.implicits._
    implicit val sqlCtx = spark.sqlContext
    val dim = Seq(
      (1L, ts(0), ts(10), "era1"),
      (1L, ts(10), ts(100), "era2")
    ).toDF("user_id", "valid_from", "valid_to", "era")
    val in = MemoryStream[Event]
    val q = EventStreams.enrichWithScd2(in.toDF(), dim, "user_id")
      .select(col("event_id"), col("era"))
      .writeStream.outputMode("append").format("memory").queryName("scd2")
      .option("checkpointLocation", tmp("ck-scd2")).start()
    try {
      in.addData(ev(1, 5, 1, "view"), ev(2, 15, 1, "view"))
      q.processAllAvailable()
      // batch 2 carries a LATE event from era 1 — it must still enrich
      // against era1's version, not the now-current era2
      in.addData(ev(3, 7, 1, "view"), ev(4, 999, 1, "view"))
      q.processAllAvailable()
      val got = spark.table("scd2").as[(Long, Option[String])].collect().toMap
      assert(got === Map(1L -> Some("era1"), 2L -> Some("era2"),
        3L -> Some("era1"), 4L -> None))
    } finally q.stop()
  }

  for (provider <- Seq("default", "rocksdb"))
  test(s"streaming top-k: O(k) state, snapshots on change, silence on worse values [$provider]") {
    val session = spark
    import session.implicits._
    implicit val sqlCtx = spark.sqlContext
    withStateProvider(provider) {
    val in = MemoryStream[Event]
    val q = EventStreams.topKPerKeyStream(in.toDS(), k = 2)
      .writeStream.outputMode("update").format("memory").queryName(s"topk_$provider")
      .option("checkpointLocation", tmp("ck-topk")).start()
    def snap(): Seq[(Long, Int, Double, Long)] =
      spark.table(s"topk_$provider").as[(Long, Int, Double, Long)].collect().toSeq
    try {
      // batch 1: three values for user 1 — only the best 2 survive
      in.addData(ev(1, 0, 1, "view", 5.0), ev(2, 1, 1, "view", 9.0),
                 ev(3, 2, 1, "view", 1.0))
      q.processAllAvailable()
      assert(snap() === Seq((1L, 1, 9.0, 2L), (1L, 2, 5.0, 1L)))
      // batch 2: strictly worse value → NO new emission for user 1
      in.addData(ev(4, 3, 1, "view", 0.5))
      q.processAllAvailable()
      assert(snap().size === 2)
      // batch 3: a new best → the key re-emits its full snapshot
      in.addData(ev(5, 4, 1, "view", 20.0))
      q.processAllAvailable()
      assert(snap().takeRight(2) === Seq((1L, 1, 20.0, 5L), (1L, 2, 9.0, 2L)))
      // tie on value ranks by event_id ascending (total order, like the
      // batch operator's tie-break contract)
      in.addData(ev(7, 5, 2, "view", 3.0), ev(6, 5, 2, "view", 3.0))
      q.processAllAvailable()
      assert(snap().filter(_._1 == 2L) === Seq((2L, 1, 3.0, 6L), (2L, 2, 3.0, 7L)))
    } finally q.stop()
    }
  }

  test("streaming decontamination: arriving docs screen against the persisted span index") {
    // the live twin of q153: each micro-batch admits through the SAME
    // screenBatch kernel the batch roll-up uses, against the frozen
    // train-span artifact — no train-side recompute per batch
    val session = spark
    import session.implicits._
    implicit val sqlCtx = spark.sqlContext
    val base = operators.SpanDedup.ensureSpanIndex(spark, sf0001)
    val trainText = graft.sources.Tables.documents(spark, sf0001)
      .filter(pmod(col("doc_id"), lit(10L)) < 8).orderBy("doc_id")
      .select("text").as[String].head()
    val results = new java.util.concurrent.ConcurrentHashMap[Long, (Long, Boolean)]()
    val in = MemoryStream[(Long, String)]
    val q = in.toDF().toDF("doc_id", "text")
      .writeStream
      .foreachBatch { (b: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
        operators.SpanDedup.screenBatch(b, base).collect().foreach { r =>
          results.put(r.getLong(0), (r.getLong(2), r.getBoolean(3)))
        }; ()
      }
      .option("checkpointLocation", tmp("ck-screen"))
      .start()
    try {
      in.addData((9001L, trainText),                       // verbatim train copy
                 (9002L, "zq xv qj wk pf bg dn lm rs tc")) // gibberish, clean
      q.processAllAvailable()
      in.addData((9003L, "too short"))                     // span-less
      q.processAllAvailable()
    } finally q.stop()
    assert(results.get(9001L)._2 === true)   // contaminated
    assert(results.get(9001L)._1 > 0)
    assert(results.get(9002L) === ((0L, false)))
    assert(results.get(9003L) === ((0L, false)))
  }

  test("streaming DSIR gate: arriving docs score identically to the batch estimator") {
    // the live twin of q161: the corpus-trained weight table is frozen
    // (the artifact a real pipeline ships to ingest) and each
    // micro-batch scores through the SAME featurization + decimal
    // term-sum kernel — so a doc's gate decision cannot depend on
    // whether it arrived in batch or in the stream
    val session = spark
    import session.implicits._
    implicit val sqlCtx = spark.sqlContext
    // frozen: decoupled from the corpus plan (literal rows, no lineage)
    val weights = operators.Curation.dsirWeightTable(spark, sf0001)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq.toDF("b", "lr")
    val batchScores = operators.Curation.dsirLogWeights(spark, sf0001)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getDouble(2)))).toMap
    val sample = graft.sources.Tables.documents(spark, sf0001)
      .select($"doc_id", $"text").orderBy($"doc_id").limit(5)
      .collect().map(r => (r.getLong(0), r.getString(1)))
    val results = new java.util.concurrent.ConcurrentHashMap[Long, (Long, Double)]()
    val in = MemoryStream[(Long, String)]
    val q = in.toDF().toDF("doc_id", "text")
      .writeStream
      .foreachBatch { (b: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
        operators.Curation.dsirScoreBatch(b, weights).collect().foreach { r =>
          results.put(r.getLong(0), (r.getLong(1), r.getDouble(2)))
        }; ()
      }
      .option("checkpointLocation", tmp("ck-dsir"))
      .start()
    try {
      in.addData(sample.take(3): _*)
      q.processAllAvailable()
      in.addData(sample.drop(3): _*) // second batch: same frozen weights
      q.processAllAvailable()
    } finally q.stop()
    sample.foreach { case (id, _) =>
      assert(results.get(id) === batchScores(id), s"doc $id stream != batch")
    }
  }

  test("streaming mixture gate: arriving docs sample identically to the batch draw") {
    // the live twin of q188: the corpus-census rate table is frozen (the
    // artifact a real pipeline ships to ingest) and each micro-batch
    // gates through the SAME integer-PPM draw kernel — so a doc's keep
    // decision cannot depend on whether it arrived in batch or stream
    val session = spark
    import session.implicits._
    implicit val sqlCtx = spark.sqlContext
    // frozen: decoupled from the corpus plan (literal rows, no lineage)
    val rates = operators.Curation.mixtureRateTable(
        graft.sources.Tables.documents(spark, sf0001))
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
      .toDF("source", "rate_ppm")
    val batchKept = operators.Curation.mixtureSample(spark, sf0001)
      .collect().map(r => r.getLong(0)).toSet
    val sample = graft.sources.Tables.documents(spark, sf0001)
      .select($"doc_id", $"source").orderBy($"doc_id").limit(10)
      .collect().map(r => (r.getLong(0), r.getString(1)))
    val kept = java.util.concurrent.ConcurrentHashMap.newKeySet[Long]()
    val seen = java.util.concurrent.ConcurrentHashMap.newKeySet[Long]()
    val in = MemoryStream[(Long, String)]
    val q = in.toDF().toDF("doc_id", "source")
      .writeStream
      .foreachBatch { (b: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
        b.collect().foreach(r => seen.add(r.getLong(0)))
        operators.Curation.mixtureGate(b, rates).collect()
          .foreach(r => kept.add(r.getLong(0))); ()
      }
      .option("checkpointLocation", tmp("ck-mixture"))
      .start()
    try {
      in.addData(sample.take(5): _*)
      q.processAllAvailable()
      in.addData(sample.drop(5): _*) // second batch: same frozen rates
      q.processAllAvailable()
    } finally q.stop()
    sample.foreach { case (id, _) =>
      assert(seen.contains(id))
      assert(kept.contains(id) === batchKept.contains(id),
        s"doc $id stream gate != batch draw")
    }
    // the gate actually discriminates on this sample (both outcomes occur)
    assert(sample.exists(s => kept.contains(s._1)) &&
      sample.exists(s => !kept.contains(s._1)))
  }

  test("streaming split gate: arriving docs land in the batch assignment's split") {
    // the live twin of q192: the near-dup label table is frozen (the
    // artifact a pipeline ships to its ingest tier) and every arriving
    // doc draws on its GROUP key through the same kernel — so a doc's
    // train/val/test placement cannot depend on whether it was assigned
    // in the nightly batch or at arrival time, and near-dups of training
    // docs can never leak into a holdout via the streaming path
    val session = spark
    import session.implicits._
    implicit val sqlCtx = spark.sqlContext
    val base = operators.Dedup.ensureNeardupArtifact(spark, sf0001)
    // frozen: decoupled from the corpus plan (literal rows, no lineage)
    val labels = spark.read.parquet(s"$base/doc_labels")
      .select($"node", $"label").as[(Long, Long)].collect().toSeq
      .toDF("node", "label")
    val batchSplit = operators.Dedup.clusterSplitAssign(spark, sf0001)
      .collect().map(r => (r.getLong(0), r.getString(2))).toMap
    // 5 singletons + up to 5 clustered docs, so both draw paths stream
    val clustered = labels.orderBy($"node").limit(5)
      .collect().map(_.getLong(0)).toSeq
    val singles = batchSplit.keys.toSeq.sorted
      .filterNot(clustered.contains).take(5)
    val sample = (singles ++ clustered).distinct
    val got = new java.util.concurrent.ConcurrentHashMap[Long, String]()
    val in = MemoryStream[Long]
    val q = in.toDF().toDF("doc_id")
      .writeStream
      .foreachBatch { (b: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
        operators.Dedup.clusterSplitAssignOf(b, labels).collect()
          .foreach(r => got.put(r.getLong(0), r.getString(2))); ()
      }
      .option("checkpointLocation", tmp("ck-splitgate"))
      .start()
    try {
      in.addData(sample.take(5): _*)
      q.processAllAvailable()
      in.addData(sample.drop(5): _*) // second batch: same frozen labels
      q.processAllAvailable()
    } finally q.stop()
    sample.foreach { id =>
      assert(got.get(id) === batchSplit(id), s"doc $id stream split != batch")
    }
    assert(clustered.nonEmpty, "fixture has no clustered docs to exercise")
  }

  test("streaming featurizer: arriving docs vectorize identically to the batch (q198)") {
    // the live twin of q198: the corpus-trained idf table is frozen (the
    // only corpus-global state the featurizer has) and each micro-batch
    // vectorizes through the SAME hash/sign/decimal-sum/normalize kernel
    // — every term is doc-local, so a doc's vector cannot depend on
    // whether it was featurized in the nightly batch or at arrival time
    val session = spark
    import session.implicits._
    implicit val sqlCtx = spark.sqlContext
    val corpus = graft.sources.Tables.documents(spark, sf0001)
      .select($"doc_id", $"text")
    // frozen: decoupled from the corpus plan (literal rows, no lineage)
    val idf = operators.TextOps.hashedIdfOf(corpus)
      .as[(String, Double)].collect().toSeq.toDF("tok", "idf")
    val batchVecs = operators.TextOps.hashedDocVectorsOf(corpus)
      .as[(Long, Int, Double)].collect()
      .groupBy(_._1).map { case (d, rs) =>
        d -> rs.map(t => (t._2, t._3)).sortBy(_._1).toSeq }
    val sample = corpus.orderBy($"doc_id").limit(6)
      .as[(Long, String)].collect().toSeq
    val got = new java.util.concurrent.ConcurrentHashMap[Long, Seq[(Int, Double)]]()
    val in = MemoryStream[(Long, String)]
    val q = in.toDF().toDF("doc_id", "text")
      .writeStream
      .foreachBatch { (b: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
        operators.TextOps.hashedVectorsBatch(b, idf).collect()
          .groupBy(_.getLong(0)).foreach { case (d, rs) =>
            got.put(d, rs.map(r => (r.getInt(1), r.getDouble(2))).sortBy(_._1).toSeq)
          }; ()
      }
      .option("checkpointLocation", tmp("ck-featurize"))
      .start()
    try {
      in.addData(sample.take(3): _*)
      q.processAllAvailable()
      in.addData(sample.drop(3): _*) // second batch: same frozen idf
      q.processAllAvailable()
    } finally q.stop()
    sample.foreach { case (id, _) =>
      assert(got.get(id) === batchVecs(id), s"doc $id stream vector != batch")
    }
  }

  test("streaming classifier: arriving docs score identically to the batch (q203)") {
    // the live twin of q203, completing the frozen-model convention for
    // the classifier family (q161 weights / q188 rates / q192 labels /
    // q198 idf): the TRAINED artifacts — the 33-weight lrmodel AND the
    // train-corpus idf the featurizer needs — freeze as literal rows,
    // ship to ingest, and every arriving doc's (score, keep) must be
    // bit-identical to the nightly batch scorer's, because scoring is a
    // pure per-doc map once the model is frozen (z-fold + sigmoid over
    // doc-local features)
    val session = spark
    import session.implicits._
    implicit val sqlCtx = spark.sqlContext
    val full = graft.sources.Tables.documents(spark, sf0001)
    val corpus = full.select($"doc_id", $"text")
    val w = operators.Curation.lrQualityTrainOf(full)
      .as[(Int, Double)].collect().sortBy(_._1).map(_._2)
    val idf = operators.TextOps.hashedIdfOf(corpus)
      .as[(String, Double)].collect().toSeq.toDF("tok", "idf")
    val batchScores = operators.Curation.lrScoreOf(corpus, w)
      .as[(Long, Double, Int)].collect().map(t => t._1 -> (t._2, t._3)).toMap
    val sample = corpus.orderBy($"doc_id").limit(6)
      .as[(Long, String)].collect().toSeq
    val got = new java.util.concurrent.ConcurrentHashMap[Long, (Double, Int)]()
    val in = MemoryStream[(Long, String)]
    val q = in.toDF().toDF("doc_id", "text")
      .writeStream
      .foreachBatch { (b: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
        operators.Curation.lrScoreBatch(b, w, idf).collect()
          .foreach { r => got.put(r.getLong(0), (r.getDouble(1), r.getInt(2))) }
        ()
      }
      .option("checkpointLocation", tmp("ck-lrscore"))
      .start()
    try {
      in.addData(sample.take(3): _*)
      q.processAllAvailable()
      in.addData(sample.drop(3): _*) // second batch: same frozen model
      q.processAllAvailable()
    } finally q.stop()
    sample.foreach { case (id, _) =>
      assert(got.get(id) === batchScores(id), s"doc $id stream score != batch")
    }
  }

  test("streaming recalibrated scoring: arriving docs match the batch bit-for-bit (q215)") {
    // q203's twin extended by the recalibration layer: the fitted Platt
    // (a, b) — 2 doubles of driver state — freezes alongside the weights
    // and the train-corpus idf; recalibrated scoring is a pure per-doc
    // map under the frozen triple, so stream ≡ batch exactly
    val session = spark
    import session.implicits._
    implicit val sqlCtx = spark.sqlContext
    val full = graft.sources.Tables.documents(spark, sf0001)
    val corpus = full.select($"doc_id", $"text")
    val w = operators.Curation.lrQualityTrainOf(full)
      .as[(Int, Double)].collect().sortBy(_._1).map(_._2)
    val idf = operators.TextOps.hashedIdfOf(corpus)
      .as[(String, Double)].collect().toSeq.toDF("tok", "idf")
    val lab = operators.TextOps.qualityScoresOf(full).select($"doc_id",
      org.apache.spark.sql.functions.when(
        $"quality" >= operators.Curation.FunnelQualityMin, 1.0)
        .otherwise(0.0).as("y"))
    val zy = operators.Curation.plattScoresOf(full, w, 1.0, 0.0)
      .select($"doc_id", $"z").join(lab, Seq("doc_id")).select($"z", $"y")
    val (a, b) = operators.Curation.plattFit(zy)
    val batch = operators.Curation.plattScoresOf(full, w, a, b)
      .select($"doc_id", $"score_raw", $"score_cal")
      .as[(Long, Double, Double)].collect().map(t => t._1 -> (t._2, t._3)).toMap
    val sample = corpus.orderBy($"doc_id").limit(6)
      .as[(Long, String)].collect().toSeq
    val got = new java.util.concurrent.ConcurrentHashMap[Long, (Double, Double)]()
    val in = MemoryStream[(Long, String)]
    val q = in.toDF().toDF("doc_id", "text")
      .writeStream
      .foreachBatch { (bdf: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
        operators.Curation.plattScoreBatch(bdf, w, idf, a, b).collect()
          .foreach { r => got.put(r.getLong(0), (r.getDouble(1), r.getDouble(2))) }
        ()
      }
      .option("checkpointLocation", tmp("ck-plattscore"))
      .start()
    try {
      in.addData(sample.take(3): _*)
      q.processAllAvailable()
      in.addData(sample.drop(3): _*) // second batch: same frozen triple
      q.processAllAvailable()
    } finally q.stop()
    sample.foreach { case (id, _) =>
      assert(got.get(id) === batch(id), s"doc $id stream recalibration != batch")
    }
  }

  test("streaming tokenizer: arriving docs encode identically to the batch (q210)") {
    // the live twin of q205/q210: the trained merge table freezes (R
    // rows of driver state) and ships to ingest; tokenizing is a pure
    // per-doc map under frozen merges, so an arriving doc's symbol
    // sequence must be bit-identical to the nightly batch encoder's
    val session = spark
    import session.implicits._
    implicit val sqlCtx = spark.sqlContext
    val corpus = graft.sources.Tables.documents(spark, sf0001)
      .select($"doc_id", $"text")
    val (rows, fin) = operators.TextOps.bpeTrainState(corpus)
    graft.functions.ScopedCache.releaseCheckpoint(fin)
    val merges = rows.map(r => (r._2, r._3))
    val batchSeqs = operators.TextOps.bpeEncode(corpus, merges)
      .as[(Long, Seq[String])].collect().toMap
    val sample = corpus.orderBy($"doc_id").limit(6)
      .as[(Long, String)].collect().toSeq
    val got = new java.util.concurrent.ConcurrentHashMap[Long, Seq[String]]()
    val in = MemoryStream[(Long, String)]
    val q = in.toDF().toDF("doc_id", "text")
      .writeStream
      .foreachBatch { (b: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
        operators.TextOps.bpeEncode(b, merges).collect()
          .foreach { r => got.put(r.getLong(0), r.getSeq[String](1).toSeq) }
        ()
      }
      .option("checkpointLocation", tmp("ck-bpe"))
      .start()
    try {
      in.addData(sample.take(3): _*)
      q.processAllAvailable()
      in.addData(sample.drop(3): _*) // second batch: same frozen merges
      q.processAllAvailable()
    } finally q.stop()
    sample.foreach { case (id, _) =>
      assert(got.get(id) === batchSeqs(id), s"doc $id stream encode != batch")
    }
  }

  test("streaming BM25 append: arriving docs rank fresh against the frozen base index") {
    // the live twin of q190: the base posting index is frozen; documents
    // keep arriving in micro-batches and the arrived set GROWS between
    // them — after every batch, the appended rank over base + everything
    // arrived so far must equal a fresh full recompute over the union
    // corpus (the invisibility law, live)
    val session = spark
    import session.implicits._
    import org.apache.spark.sql.functions.{col, count, explode, lit, pmod, size, split, sum}
    implicit val sqlCtx = spark.sqlContext
    val baseDocs = graft.sources.Tables.documents(spark, sf0001)
      .filter(pmod(col("doc_id"), lit(operators.TextOps.Bm25DeltaMod)) =!= 0)
      .select(col("doc_id"), col("text"))
    val btk = baseDocs.select(col("doc_id"), split(col("text"), " ").as("tk"))
    // frozen base tables (artifact stand-ins: materialized, no live lineage)
    val postings = btk.select(col("doc_id"), size(col("tk")).as("dl"),
        explode(col("tk")).as("tok"))
      .groupBy(col("doc_id"), col("dl"), col("tok"))
      .agg(count(lit(1)).as("tf")).localCheckpoint()
    val termDf = postings.groupBy(col("tok"))
      .agg(count(lit(1)).as("df")).localCheckpoint()
    val stats = btk.agg(count(lit(1)).as("n_docs"),
      sum(size(col("tk")).cast("long")).as("sum_dl")).localCheckpoint()
    val deltaDocs = graft.sources.Tables.documents(spark, sf0001)
      .filter(pmod(col("doc_id"), lit(operators.TextOps.Bm25DeltaMod)) === 0)
      .select(col("doc_id"), col("text")).orderBy(col("doc_id"))
      .collect().map(r => (r.getLong(0), r.getString(1)))
    val arrived = scala.collection.mutable.ListBuffer.empty[(Long, String)]
    val in = MemoryStream[(Long, String)]
    val q = in.toDF().toDF("doc_id", "text")
      .writeStream
      .foreachBatch { (b: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
        b.collect().foreach(r => arrived += ((r.getLong(0), r.getString(1)))); ()
      }
      .option("checkpointLocation", tmp("ck-bm25append"))
      .start()
    def assertFresh(): Unit = {
      val arrivedDf = arrived.toSeq.toDF("doc_id", "text")
      val got = operators.TextOps.bm25AppendedRankAgainst(
        postings, termDf, stats, arrivedDf).collect().toSeq
      val want = operators.TextOps.bm25RankOf(
        baseDocs.unionByName(arrivedDf)).collect().toSeq
      assert(got === want)
    }
    try {
      in.addData(deltaDocs.take(40): _*)
      q.processAllAvailable()
      assertFresh()                       // partial delta: 40 arrived
      in.addData(deltaDocs.drop(40): _*)  // the store grew between batches
      q.processAllAvailable()
      assertFresh()                       // full delta: every doc arrived
    } finally q.stop()
    // the second state strictly extends the first (growth actually happened)
    assert(arrived.size === deltaDocs.length && deltaDocs.length > 40)
  }

  test("streaming chunk admission: each micro-batch persists only chunks the store lacks") {
    // the live twin of q166's CAS diff: foreachBatch admits arriving
    // docs through the SAME admitChunks kernel the batch diff uses,
    // appending only store-missing unique chunks — re-sent content
    // admits nothing, edits admit only their edit-neighborhood chunks
    val session = spark
    import session.implicits._
    implicit val sqlCtx = spark.sqlContext
    val storeDir = tmp("cas-store")
    def storeDf(): org.apache.spark.sql.DataFrame = {
      val f = new java.io.File(storeDir)
      if (f.exists && f.listFiles != null &&
          f.listFiles.exists(_.getName.endsWith(".parquet")))
        spark.read.parquet(storeDir)
      else Seq.empty[(String, Long)].toDF("sha", "cb")
    }
    def randText(n: Int, seed: Int) = {
      val r = new scala.util.Random(seed)
      (1 to n).map(_ => ('a' + r.nextInt(26)).toChar).mkString
    }
    val a = randText(3000, 21)
    val aEdited = a.substring(0, 1400) + "<<live edit>>" + a.substring(1400)
    val b = randText(2000, 77)
    val in = MemoryStream[(Long, String)]
    val q = in.toDF().toDF("doc_id", "text")
      .withColumn("source", org.apache.spark.sql.functions.lit("live"))
      .writeStream
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
        operators.Dedup.admitChunks(batch, storeDf().select("sha"))
          .write.mode("append").parquet(storeDir); ()
      }
      .option("checkpointLocation", tmp("ck-cas"))
      .start()
    try {
      in.addData((1L, a))
      q.processAllAvailable()
      val afterA = storeDf().count()
      val aUniq = operators.Dedup.cdcChunkDedupOf(
        Seq(("live", 1L, a)).toDF("source", "doc_id", "text"))
        .collect().head.getLong(3)
      assert(afterA === aUniq) // first batch admits exactly A's unique chunks
      // batch 2: A re-sent (admits 0), an edit of A (admits only the
      // edit neighborhood), and a brand-new doc (admits all its chunks)
      in.addData((1L, a), (2L, aEdited), (3L, b))
      q.processAllAvailable()
      val after2 = storeDf().count()
      val bUniq = operators.Dedup.cdcChunkDedupOf(
        Seq(("live", 3L, b)).toDF("source", "doc_id", "text"))
        .collect().head.getLong(3)
      val editAdmits = after2 - afterA - bUniq
      assert(editAdmits >= 1L && editAdmits <= 4L,
        s"edit admitted $editAdmits chunks")
      // the store never holds a duplicate chunk
      assert(storeDf().select("sha").distinct().count() === after2)
      // batch 3: everything re-sent — nothing admits
      in.addData((1L, a), (2L, aEdited), (3L, b))
      q.processAllAvailable()
      assert(storeDf().count() === after2)
    } finally q.stop()
  }

  test("streaming dedup admission: the survivor store grows between micro-batches") {
    // the live twin of q176: each micro-batch dispositions through the
    // SAME neardupAppendOf kernel, and the admitted survivors (everything
    // not exact-identical to the store) JOIN the store before the next
    // batch — so content that arrived in batch 1 catches its duplicates
    // in batch 2, the true incremental-admission property a frozen
    // per-batch kernel alone cannot show
    val session = spark
    import session.implicits._
    implicit val sqlCtx = spark.sqlContext
    val tNew = "quark meson lepton boson hadron gluon photon neutrino"
    val tNear = "quark meson lepton boson hadron gluon photon electron"
    @volatile var store = Seq(
      (10L, "alpha beta gamma delta epsilon zeta eta theta"),
      (30L, "one two three four five six seven eight")
    ).toDF("doc_id", "text")
    val results = new java.util.concurrent.ConcurrentHashMap[Long, (String, Long)]()
    val in = MemoryStream[(Long, String)]
    val q = in.toDF().toDF("doc_id", "text")
      .writeStream
      .foreachBatch { (b: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
        if (!b.isEmpty) {
          val out = operators.Dedup.neardupAppendOf(store, b).collect()
          out.foreach(r => results.put(r.getLong(0), (r.getString(1), r.getLong(2))))
          // admit: batch keep-first winners not exact-identical to the
          // store become survivors the NEXT batch dedups against
          val admitted = out.filter(r => r.getString(1) == "new" ||
            r.getString(1) == "near_dup_base").map(_.getLong(0)).toSet
          val keep = b.collect().filter(r => admitted(r.getLong(0)))
            .map(r => (r.getLong(0), r.getString(1))).toSeq
          if (keep.nonEmpty) store = store.unionByName(keep.toDF("doc_id", "text"))
        }; ()
      }
      .option("checkpointLocation", tmp("ck-dedup-admit"))
      .start()
    try {
      in.addData((200L, tNew))
      q.processAllAvailable()
      assert(results.get(200L) === (("new", 200L)))
      // batch 2: an exact copy of batch 1's admitted doc must now be
      // caught against the GROWN store, and a near-dup must attach to it
      in.addData((201L, tNew), (202L, tNear))
      q.processAllAvailable()
      assert(results.get(201L) === (("exact_dup_base", 200L)))
      assert(results.get(202L) === (("near_dup_base", 200L)))
    } finally q.stop()
  }

  test("streaming paragraph dedup: growing hash store; folds compose to the one-shot batch (q214)") {
    // q214's ingest twin (the q176 growing-store grammar): each
    // micro-batch strips paragraphs already in the canonical-hash store
    // via paragraphDedupAgainst, then folds its newly kept keys back in
    // — so a paragraph admitted in batch 1 catches its copies in batch
    // 2, and the whole fold must equal the one-shot q214 batch operator
    // over everything seen, restricted to the batch docs
    val session = spark
    import session.implicits._
    implicit val sqlCtx = spark.sqlContext
    val seed = Seq(
      (10L, "seed article body\nCopyright Footer Nav")).toDF("doc_id", "text")
    val b1 = Seq(
      (100L, "first unique body\nCopyright Footer Nav"),
      (101L, "shared body paragraph\nCopyright Footer Nav"),
      (102L, "shared body paragraph\nsecond unique body"))
    val b2 = Seq(
      (200L, "shared body paragraph\nthird unique body"),
      (201L, "first unique body"))
    // the store starts as the seed's OWN kept keys (the seed deduped
    // alone — its distinct canonical hashes)
    @volatile var seen = operators.Profiling
      .paragraphDedupAgainst(seed, Seq.empty[String].toDF("k"))._2
      .as[String].collect().toSeq.toDF("k")
    val got = new java.util.concurrent.ConcurrentHashMap[Long, (Long, Long, String)]()
    val in = MemoryStream[(Long, String)]
    val q = in.toDF().toDF("doc_id", "text")
      .writeStream
      .foreachBatch { (b: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
        if (!b.isEmpty) {
          val (card, newKeys) = operators.Profiling.paragraphDedupAgainst(b, seen)
          card.collect().foreach(r =>
            got.put(r.getLong(0), (r.getLong(3), r.getLong(4), r.getString(5))))
          seen = seen.unionByName(
            newKeys.as[String](org.apache.spark.sql.Encoders.STRING)
              .collect().toSeq.toDF("k"))
        }; ()
      }
      .option("checkpointLocation", tmp("ck-para-dedup"))
      .start()
    try {
      in.addData(b1: _*)
      q.processAllAvailable()
      // footer caught against the seed store; intra-batch shared body
      // kept once (keep-first: doc 101)
      assert(got.get(100L) === ((1L, 1L, "first unique body")))
      assert(got.get(101L) === ((1L, 1L, "shared body paragraph")))
      assert(got.get(102L) === ((1L, 1L, "second unique body")))
      in.addData(b2: _*)
      q.processAllAvailable()
      // batch 2 catches batch 1's admitted paragraphs from the GROWN store
      assert(got.get(200L) === ((1L, 1L, "third unique body")))
      assert(got.get(201L) === ((0L, 1L, "")))
    } finally q.stop()
    // fold ≡ one-shot: the batch operator over seed ∪ b1 ∪ b2 must agree
    // on every batch doc (seed ids < b1 ids < b2 ids, so keep-first
    // order matches arrival order)
    val oneShot = operators.Profiling.paragraphDedupOf(
      seed.unionByName((b1 ++ b2).toDF("doc_id", "text")))
      .as[(Long, Long, Long, Long, Long, String)].collect()
      .filter(_._1 >= 100L)
      .map(t => t._1 -> ((t._4, t._5, t._6))).toMap
    (b1 ++ b2).map(_._1).foreach { id =>
      assert(got.get(id) === oneShot(id), s"doc $id fold != one-shot")
    }
  }

  test("streaming CCNet ingest: frozen LM/cuts + growing paragraph store; folds compose to one-shot (q221)") {
    // q221's ingest twin: the nightly run freezes the LM conditional
    // table, the tertile cuts (2 longs), and the paragraph-hash store;
    // each arriving micro-batch then runs ccnetIngest — pure per-doc
    // work plus the store anti-join — and folds its kept keys back in.
    val session = spark
    import session.implicits._
    implicit val sqlCtx = spark.sqlContext
    val nightly = Seq(
      (10L, "sA", "en", "shared boilerplate paragraph"),
      (14L, "sB", "en", "rep rep rep rep rep rep rep rep"),
      (15L, "sB", "en", "rep rep rep rep rep one two three"),
      (16L, "sB", "en", "rep rep rep u16 v16 w16 x16 y16"),
      (17L, "sB", "en", "rep rep u17 v17 w17 x17 y17 z17"),
      (18L, "sB", "en", "za p18 za q18 za r18 za s18"),
      (19L, "sB", "en", "zb p19 zb q19 zb r19 zb s19 zb t19 zb u19"))
      .toDF("doc_id", "source", "lang", "text")
    // freeze the nightly artifacts AS LITERALS (the frozen-model twin
    // convention: trained state ships to the stream, never a live plan)
    val probs = operators.TextOps.knProbsOf(nightly.select($"doc_id", $"text"))
      .as[(String, String, Double)].collect().toSeq.toDF("l", "r", "p")
    val cutsRow = operators.TextOps.tertileCutsDf(
      operators.TextOps.smoothedBigramSurprisalOf(nightly.select($"doc_id", $"text"))
        .select($"avg_smoothed_surprisal_nats".as("surprisal"))).collect()(0)
    val cuts = (cutsRow.getLong(0), cutsRow.getLong(1))
    val store0 = operators.Profiling
      .paragraphDedupAgainst(nightly, Seq.empty[String].toDF("k"))._2
      .as[String].collect().toSeq.toDF("k")
    val b1 = Seq(
      (100L, "sA", "en", "rep rep rep rep rep rep rep rep"),
      (101L, "sA", "en",
        "rep rep rep rep rep one two three\nrep rep rep u16 v16 w16 x16 y16"),
      (102L, "sA", "en", "fresh rep rep rep rep arrival doc"),
      (103L, "sB", "de", "plain en style prose"))
    val b2 = Seq(
      (200L, "sB", "en", "fresh rep rep rep rep arrival doc"),
      (201L, "sB", "en", "totally novel unattested words only"))
    @volatile var seen = store0
    val got = new java.util.concurrent.ConcurrentHashMap[Long, (String, String)]()
    val in = MemoryStream[(Long, String, String, String)]
    val q = in.toDF().toDF("doc_id", "source", "lang", "text")
      .writeStream
      .foreachBatch { (b: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
        if (!b.isEmpty) {
          val (stages, newKeys) = operators.Profiling.ccnetIngest(b, seen, probs, cuts)
          stages.select($"doc_id", $"stage",
            org.apache.spark.sql.functions.coalesce($"ppl_bucket",
              org.apache.spark.sql.functions.lit("-")))
            .collect().foreach(r =>
              got.put(r.getLong(0), (r.getString(1), r.getString(2))))
          seen = seen.unionByName(
            newKeys.as[String](org.apache.spark.sql.Encoders.STRING)
              .collect().toSeq.toDF("k"))
        }; ()
      }
      .option("checkpointLocation", tmp("ck-ccnet-ingest"))
      .start()
    try {
      in.addData(b1: _*)
      q.processAllAvailable()
      // nightly paragraphs caught by the frozen store; the fresh doc
      // scores on its frozen-attested transitions (rep->rep: head) and
      // the mislabeled doc exits at the langid gate
      assert(got.get(100L)._1 === "drop_empty")
      assert(got.get(101L)._1 === "drop_empty")
      assert(got.get(102L) === (("kept", "head")))
      assert(got.get(103L)._1 === "drop_langid")
      in.addData(b2: _*)
      q.processAllAvailable()
      // batch 2 catches batch 1's admitted paragraph from the GROWN
      // store; a doc with no frozen-attested transition is unscored
      assert(got.get(200L)._1 === "drop_empty")
      assert(got.get(201L)._1 === "drop_unscored")
    } finally q.stop()
    // fold ≡ one-shot: ingesting b1 ∪ b2 against the ORIGINAL store in
    // one call must agree on every arrival (b1 ids < b2 ids, so the
    // keep-first order matches arrival order)
    val oneShot = operators.Profiling.ccnetIngest(
      (b1 ++ b2).toDF("doc_id", "source", "lang", "text"), store0, probs, cuts)
      ._1.select($"doc_id", $"stage",
        org.apache.spark.sql.functions.coalesce($"ppl_bucket",
          org.apache.spark.sql.functions.lit("-")))
      .collect().map(r => r.getLong(0) -> ((r.getString(1), r.getString(2)))).toMap
    (b1 ++ b2).map(_._1).foreach { id =>
      assert(got.get(id) === oneShot(id), s"doc $id fold != one-shot")
    }
  }

  test("streaming compaction: per-batch folds compose to the fresh full build") {
    // the live twin of q185: each micro-batch FOLDS into the near-dup
    // artifact (writeCompactedNeardup against the previous generation),
    // so the stored index is always exactly what a from-scratch build
    // over everything seen so far would produce. Two batches make the
    // folds ITERATE — generation 2 consumes generation 1's updated
    // df/nsh bookkeeping, the part a single-fold test cannot touch.
    val session = spark
    import session.implicits._
    implicit val sqlCtx = spark.sqlContext
    val base = Seq(
      (30L, "one two three four five six seven eight"),
      (40L, "one two three four five six seven nine"),
      (50L, "cat dog bird fish lion tiger bear wolf")
    ).toDF("doc_id", "text")
    def writeGen(dir: String, bsv: org.apache.spark.sql.DataFrame,
        hot: org.apache.spark.sql.DataFrame, bsh: org.apache.spark.sql.DataFrame,
        bpairs: org.apache.spark.sql.DataFrame): Unit = {
      bsv.write.mode("overwrite").parquet(s"$dir/bsv")
      hot.write.mode("overwrite").parquet(s"$dir/hot")
      bsh.write.mode("overwrite").parquet(s"$dir/bsh")
      bpairs.write.mode("overwrite").parquet(s"$dir/bpairs")
    }
    val gen0 = tmp("compact-gen0")
    val (bsv0, hot0, bsh0, bpairs0, _) = operators.Dedup.appendBaseParts(base)
    writeGen(gen0,
      bsv0.select(col("doc_id"), col("tkey"))
        .join(bsh0.groupBy(col("doc_id")).agg(count(lit(1)).as("nsh")),
          Seq("doc_id"), "left").na.fill(0L, Seq("nsh")),
      hot0, bsh0, bpairs0)
    @volatile var cur = gen0
    @volatile var gen = 0
    val in = MemoryStream[(Long, String)]
    val q = in.toDF().toDF("doc_id", "text")
      .writeStream
      .foreachBatch { (b: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
        if (!b.isEmpty) {
          gen += 1
          val next = tmp(s"compact-gen$gen")
          operators.Dedup.writeCompactedNeardup(
            spark.read.parquet(s"$cur/bsv"), spark.read.parquet(s"$cur/hot"),
            spark.read.parquet(s"$cur/bsh"), spark.read.parquet(s"$cur/bpairs"),
            b.select(col("doc_id"), col("text")), next)
          cur = next
        }; ()
      }
      .option("checkpointLocation", tmp("ck-compact"))
      .start()
    try {
      // batch 1 extends the {30,40} cluster
      in.addData((102L, "one two three four five six seven ten"))
      q.processAllAvailable()
      // batch 2: a rep switch (7 < 30 takes over the cluster's identity)
      // plus an unrelated newcomer — folded against GENERATION 1
      in.addData((7L, "one two three four five six seven eight"),
        (110L, "sun moon star cloud rain snow wind storm"))
      q.processAllAvailable()
      def pairSet(df: org.apache.spark.sql.DataFrame) = df.collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3))).toSet
      val folded = pairSet(spark.read.parquet(s"$cur/bpairs"))
      val all = base.unionByName(Seq(
        (102L, "one two three four five six seven ten"),
        (7L, "one two three four five six seven eight"),
        (110L, "sun moon star cloud rain snow wind storm")).toDF("doc_id", "text"))
      val (_, _, _, freshPairs, freshLabels) = operators.Dedup.appendBaseParts(all)
      assert(folded === pairSet(freshPairs))
      // labels over the folded pairs carry the switched representative
      val lbl = operators.Dedup.clusterLabels(
          spark.read.parquet(s"$cur/bpairs").select(col("doc_a"), col("doc_b")))._1
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(lbl === freshLabels.collect().map(r => (r.getLong(0), r.getLong(1))).toSet)
      // 30 is no longer a survivor (it lost keep-first to the switched
      // rep 7); the cluster's label rows live in survivor space
      assert(Seq(7L, 40L, 102L).forall(d => lbl.contains((d, 7L))))
    } finally q.stop()
  }

  test("streaming index append: arriving vectors encode against the frozen index per micro-batch") {
    // the streaming half of the q135 story: a vector stream lands as one
    // immutable segment pair per micro-batch, encoded against the
    // PERSISTED models (broadcast joins only — foreachBatch reuses the
    // exact batch append entry point, so stream and batch cannot drift)
    val session = spark
    import session.implicits._
    implicit val sqlCtx = spark.sqlContext
    val base = operators.Similarity.ensureIvfPqDeltaIndex(spark, sf0001)
    val dim = operators.Similarity.KmeansDim
    def vec(i: Long): Array[Float] = Array.tabulate(dim)(j => 0.01f * ((i + j) % 11))
    val in = MemoryStream[(Long, Array[Float])]
    val q = in.toDF().toDF("vec_id", "embedding")
      .writeStream
      .foreachBatch { (b: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], id: Long) =>
        operators.Similarity.appendSegment(b, base, s"stream$id"); ()
      }
      .option("checkpointLocation", tmp("ck-append"))
      .start()
    try {
      in.addData((9001L, vec(9001L)), (9002L, vec(9002L)))
      q.processAllAvailable()
      in.addData((9003L, vec(9003L)))
      q.processAllAvailable()
    } finally q.stop()
    // each micro-batch is its own segment pair, holding exactly its rows
    val s0 = spark.read.parquet(s"$base/codes_stream0")
    val s1 = spark.read.parquet(s"$base/codes_stream1")
    assert(s0.select("vec_id").distinct().collect().map(_.getLong(0)).toSet
      === Set(9001L, 9002L))
    assert(s1.select("vec_id").distinct().collect().map(_.getLong(0)).toSet
      === Set(9003L))
    // parity: the streamed encoding is bit-equal to the batch append
    // path on the same vectors
    val statics = Seq((9001L, vec(9001L)), (9002L, vec(9002L)))
      .toDF("vec_id", "embedding")
    operators.Similarity.appendSegment(statics, base, "parity")
    assert(s0.collect().toSet
      === spark.read.parquet(s"$base/codes_parity").collect().toSet)
    assert(spark.read.parquet(s"$base/cells_stream0").collect().toSet
      === spark.read.parquet(s"$base/cells_parity").collect().toSet)
  }

  test("streaming compaction: accumulated micro-batch segments fold into one, searches bit-equal") {
    // the live twin of q180: micro-batch appends leave one segment pair
    // per batch (previous test's shape); periodic compaction folds them
    // into a single-segment index, and a search over the compacted
    // layout must be indistinguishable from the multi-segment search it
    // replaces — the same invisibility law q180's oracle pins in batch
    val session = spark
    import session.implicits._
    implicit val sqlCtx = spark.sqlContext
    val base = operators.Similarity.ensureIvfPqDeltaIndex(spark, sf0001)
    val dim = operators.Similarity.KmeansDim
    def vec(i: Long): Array[Float] = Array.tabulate(dim)(j => 0.01f * ((i + j) % 13))
    val in = MemoryStream[(Long, Array[Float])]
    val q = in.toDF().toDF("vec_id", "embedding")
      .writeStream
      .foreachBatch { (b: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], id: Long) =>
        operators.Similarity.appendSegment(b, base, s"c$id"); ()
      }
      .option("checkpointLocation", tmp("ck-compact"))
      .start()
    try {
      in.addData((9101L, vec(9101L)), (9102L, vec(9102L)))
      q.processAllAvailable()
      in.addData((9103L, vec(9103L)), (9104L, vec(9104L)))
      q.processAllAvailable()
    } finally q.stop()
    val segs = Seq("delta", "c0", "c1")
    val out = tmp("compacted-index")
    operators.Similarity.compactSegments(spark, base, segs, out)
    // the compacted layout is single-segment: base-table row counts are
    // the union of everything that was folded
    val nCells = segs.map(s => spark.read.parquet(s"$base/cells_$s").count()).sum +
      spark.read.parquet(s"$base/cells").count()
    assert(spark.read.parquet(s"$out/cells").count() === nCells)
    // search invisibility, live: multi-segment vs compacted, row for row
    val emb = graft.sources.Tables.embeddings(spark, sf0001)
    val before = operators.Similarity
      .ivfPqSearchSegments(spark, emb, base, segs).collect().toSeq
    val after = operators.Similarity
      .ivfPqSearchSegments(spark, emb, out).collect().toSeq
    assert(before.nonEmpty)
    assert(after === before)
  }

  test("DLQ fan-out splits poison records with origin metadata (S9)") {
    val session = spark
    import session.implicits._
    implicit val sqlCtx = spark.sqlContext
    val goodDir = tmp("dlq-good"); val dlqDir = tmp("dlq-bad")
    val in = MemoryStream[Event]
    val q = EventStreams.dlqSink(in.toDF(), goodDir, dlqDir, tmp("ck-dlq"))
    try {
      in.addData(ev(1, 0, 3, "click"), ev(2, 1, 11, "error"), ev(3, 2, 4, "view"),
                 ev(4, 3, 19, "error"))
      q.processAllAvailable()
      val good = spark.read.parquet(goodDir)
      val dlq = spark.read.parquet(dlqDir)
      assert(good.count() === 2)
      assert(dlq.count() === 2)
      val meta = dlq.select($"event_id", $"origin_topic", $"origin_partition", $"origin_offset")
        .as[(Long, String, Int, Long)].collect().toSet
      assert(meta === Set((2L, "events", 3, 2L), (4L, "events", 3, 4L)))
    } finally q.stop()
  }

  test("DLQ re-merge: repaired poison unions back to exactly the no-failure totals (S9/T8)") {
    val session = spark
    import session.implicits._
    import org.apache.spark.sql.functions._
    implicit val sqlCtx = spark.sqlContext
    val goodDir = tmp("rm-good"); val dlqDir = tmp("rm-bad"); val mergedDir = tmp("rm-merged")
    val in = MemoryStream[Event]
    val q = EventStreams.dlqSink(in.toDF(), goodDir, dlqDir, tmp("ck-rm"))
    val events = Seq(
      ev(1, 0, 1, "click", 10.0), ev(2, 1, 2, "error", 7.0), ev(3, 2, 1, "view", 3.0),
      ev(4, 3, 2, "error", 5.0), ev(5, 4, 3, "purchase", 20.0))
    try {
      in.addData(events: _*)
      q.processAllAvailable()
    } finally q.stop()
    val good = spark.read.parquet(goodDir)
    // offline repair: restore the intended type, keep id/ts/user/value
    val repaired = spark.read.parquet(dlqDir)
      .withColumn("event_type", lit("click"))
    val merged = EventStreams.remergeDlq(good, repaired).drop("batch_id")
    // write the merged flow through the idempotent sink TWICE (a replay
    // after failure) — exactly-once means the totals still match
    EventStreams.writeBatchIdempotent(merged, 0L, mergedDir)
    EventStreams.writeBatchIdempotent(merged, 0L, mergedDir)
    val got = spark.read.parquet(mergedDir)
    // reference: the same input with poison fixed at the source (no
    // failure, no DLQ trip)
    val noFailure = events.toDF().withColumn("event_type",
      when($"event_type" === "error", "click").otherwise($"event_type"))
    def totals(df: org.apache.spark.sql.DataFrame) =
      df.groupBy($"user_id", $"event_type")
        .agg(count(lit(1)).as("n"), sum($"value").as("v"))
        .as[(Long, String, Long, Double)].collect().toSet
    assert(got.count() === noFailure.count())
    assert(totals(got) === totals(noFailure))
    assert(got.filter($"event_type" === "error").count() === 0)
  }

  test("exactly-once under failure injection: killed mid-batch, restart replays to identical output (T8)") {
    val session = spark
    import session.implicits._
    implicit val sqlCtx = spark.sqlContext
    val out = tmp("fi-out"); val ck = tmp("ck-fi")
    val in = MemoryStream[Event]
    // first attempt of batch 1 writes PARTIAL output, then dies — the
    // at-least-once failure mode the idempotent sink must absorb
    // (kafka/README.md:162-171). foreachBatch runs on the driver, so a
    // captured flag records the injection.
    var injected = false
    def sink(failOnce: Boolean) = in.toDF().writeStream
      .option("checkpointLocation", ck)
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], id: Long) =>
        if (failOnce && id == 1L && !injected) {
          injected = true
          EventStreams.writeBatchIdempotent(batch.limit(1), id, out)
          throw new RuntimeException("injected crash after partial write")
        }
        EventStreams.writeBatchIdempotent(batch, id, out)
      }
    val q1 = sink(failOnce = true).start()
    val all = Seq(
      ev(1, 0, 1, "click", 10.0), ev(2, 1, 2, "view", 5.0),          // batch 0
      ev(3, 2, 1, "purchase", 20.0), ev(4, 3, 3, "click", 7.0), ev(5, 4, 2, "view", 1.0))
    try {
      in.addData(all(0), all(1))
      q1.processAllAvailable()
      in.addData(all(2), all(3), all(4)) // batch 1: dies after 1 of 3 rows
      intercept[Exception] { q1.processAllAvailable() }
      assert(q1.exception.isDefined, "query must have died from the injected crash")
    } finally q1.stop()
    assert(injected)
    // partial output of the failed attempt IS on disk — the dirty state
    // a naive append sink would duplicate
    assert(spark.read.parquet(out).filter($"batch_id" === 1L).count() === 1)
    // restart from the same checkpoint with a healthy sink: batch 1
    // replays and its dynamic partition overwrite REPLACES the partial file
    val q2 = sink(failOnce = false).start()
    try q2.processAllAvailable() finally q2.stop()
    val got = spark.read.parquet(out)
    assert(got.count() === all.size, "each input row exactly once after recovery")
    assert(got.select($"event_id").as[Long].collect().sorted === all.map(_.event_id).toArray)
    // and totals match the no-failure reference run bit-for-bit
    val ref = all.toDF()
    assert(got.agg(sum($"value")).as[Double].head() === ref.agg(sum($"value")).as[Double].head())
  }

  test("idempotent batch sink: replaying a batch id does not duplicate (T8)") {
    val session = spark
    import session.implicits._
    val out = tmp("eo-sink")
    val batch = Seq(ev(1, 0, 1, "click"), ev(2, 1, 2, "view")).toDF()
    EventStreams.writeBatchIdempotent(batch, 0L, out)
    EventStreams.writeBatchIdempotent(batch, 0L, out) // replay same batch
    assert(spark.read.parquet(out).count() === 2)
    EventStreams.writeBatchIdempotent(batch, 1L, out) // new batch appends
    assert(spark.read.parquet(out).count() === 4)
  }

  test("streaming dedup by offset within watermark (T11 analog)") {
    val session = spark
    import session.implicits._
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[Event]
    val q = EventStreams.dedupByEventId(in.toDF(), "10 minutes")
      .select($"event_id")
      .writeStream.outputMode("append").format("memory").queryName("dedup")
      .option("checkpointLocation", tmp("ck-dedup")).start()
    try {
      in.addData(ev(1, 0, 1, "click"), ev(1, 0, 1, "click"), ev(2, 1, 1, "view"))
      in.addData(ev(1, 2, 1, "click")) // duplicate offset, still within watermark
      q.processAllAvailable()
      val ids = spark.table("dedup").as[Long].collect().toList
      assert(ids.sorted === List(1L, 2L))
    } finally q.stop()
  }

  test("streaming content-hash dedup keeps the first copy of each text (q99 stream analog)") {
    val session = spark
    import session.implicits._
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[(Timestamp, Long, String)]
    val q = EventStreams.dedupByContentHash(
        in.toDF().toDF("ts", "doc_id", "text"))
      .select($"doc_id")
      .writeStream.outputMode("append").format("memory").queryName("cdedup")
      .option("checkpointLocation", tmp("ck-cdedup")).start()
    def t(m: Int) = Timestamp.valueOf(f"2024-01-01 10:$m%02d:00")
    try {
      in.addData((t(0), 1L, "alpha beta"), (t(1), 2L, "gamma delta"))
      in.addData((t(2), 3L, "alpha beta")) // same content, different doc_id
      q.processAllAvailable()
      val ids = spark.table("cdedup").as[Long].collect().toList
      assert(ids.sorted === List(1L, 2L), "content duplicate must be dropped")
    } finally q.stop()
  }

  test("file-source topic replay: streaming over a parquet log matches batch (S2/T10)") {
    val session = spark
    import session.implicits._
    val logDir = tmp("topic-log")
    val batch = Seq(ev(1, 0, 1, "click"), ev(2, 1, 2, "view"), ev(3, 2, 1, "click"),
                    ev(4, 3, 3, "purchase")).toDF()
    batch.write.mode("overwrite").parquet(logDir)
    val stream = spark.readStream.schema(batch.schema).parquet(logDir)
    val q = stream.groupBy($"event_type").agg(count(lit(1)).as("n"))
      .writeStream.outputMode("complete").format("memory").queryName("replay")
      .option("checkpointLocation", tmp("ck-replay")).start()
    try {
      q.processAllAvailable()
      val streamed = spark.table("replay").as[(String, Long)].collect().toMap
      val direct = batch.groupBy($"event_type").count().as[(String, Long)].collect().toMap
      assert(streamed === direct)
    } finally q.stop()
  }

  test("complete output mode materializes the stream⇄table duality (§1.1)") {
    val session = spark
    import session.implicits._
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[Event]
    val q = in.toDF().groupBy($"user_id").agg(sum($"value").as("total"))
      .writeStream.outputMode("complete").format("memory").queryName("duality")
      .option("checkpointLocation", tmp("ck-duality")).start()
    try {
      in.addData(ev(1, 0, 1, "click", 10.0), ev(2, 1, 2, "view", 5.0))
      q.processAllAvailable()
      assert(spark.table("duality").as[(Long, Double)].collect().toMap ===
        Map(1L -> 10.0, 2L -> 5.0))
      in.addData(ev(3, 2, 1, "click", 7.0)) // state updates, table reflects ALL changes
      q.processAllAvailable()
      assert(spark.table("duality").as[(Long, Double)].collect().toMap ===
        Map(1L -> 17.0, 2L -> 5.0))
    } finally q.stop()
  }

  test("transformWithState keeps per-key running totals in RocksDB state (T6, Spark 4 API)") {
    val session = spark
    import session.implicits._
    implicit val sqlCtx = spark.sqlContext
    EventStreams.rocksdbStateConfigs.foreach { case (k, v) => spark.conf.set(k, v) }
    try {
      val in = MemoryStream[Event]
      val q = EventStreams.runningTotals(in.toDS())
        .writeStream.outputMode("update").format("memory").queryName("tws")
        .option("checkpointLocation", tmp("ck-tws")).start()
      try {
        in.addData(ev(1, 0, 1, "click", 10.0), ev(2, 1, 2, "view", 5.0))
        q.processAllAvailable()
        in.addData(ev(3, 2, 1, "click", 7.0)) // user 1 state accumulates
        q.processAllAvailable()
        val latest = spark.table("tws").as[UserTotal].collect()
          .groupBy(_.user_id).map { case (u, rows) => u -> rows.maxBy(_.n_events) }
        assert(latest(1L) === UserTotal(1L, 2L, 17.0))
        assert(latest(2L) === UserTotal(2L, 1L, 5.0))
      } finally q.stop()
    } finally {
      spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
    }
  }

  test("reprocessing diff finds rows the new version adds (T10)") {
    val session = spark
    import session.implicits._
    val oldR = Seq(("a", 1L), ("b", 2L)).toDF("k", "v")
    val newR = Seq(("a", 1L), ("b", 3L)).toDF("k", "v")
    val diff = EventStreams.reprocessDiff(oldR, newR).as[(String, Long)].collect().toSet
    assert(diff === Set(("b", 3L)))
  }

  test("SQL over a stream (the ksqlDB-style surface, kafka/README.md:299-303)") {
    val session = spark
    import session.implicits._
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[Event]
    in.toDF().createOrReplaceTempView("events_stream")
    val q = spark.sql(
      """SELECT event_type, COUNT(*) AS n, SUM(value) AS total
        |FROM events_stream GROUP BY event_type""".stripMargin)
      .writeStream.outputMode("complete").format("memory").queryName("sqlstream")
      .option("checkpointLocation", tmp("ck-sqlstream")).start()
    try {
      in.addData(ev(1, 0, 1, "click", 2.0), ev(2, 1, 2, "click", 3.0),
                 ev(3, 2, 3, "view", 4.0))
      q.processAllAvailable()
      val rows = spark.table("sqlstream").as[(String, Long, Double)].collect().toSet
      assert(rows === Set(("click", 2L, 5.0), ("view", 1L, 4.0)))
    } finally q.stop()
  }

  test("windowed SQL over a watermarked stream view finalizes on watermark (ksqlDB windowed agg)") {
    // the full ksqlDB-analog surface: a continuous windowed GROUP BY
    // declared in SQL text against a registered stream view, with append
    // semantics driven by the watermark (declared on the DataFrame — OSS
    // Spark has no SQL watermark clause)
    val session = spark
    import session.implicits._
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[Event]
    in.toDF().withWatermark("ts", "10 minutes")
      .createOrReplaceTempView("events_wm_stream")
    val q = spark.sql(
      """SELECT window(ts, '10 minutes').start AS window_start,
        |  event_type, COUNT(*) AS n
        |FROM events_wm_stream
        |GROUP BY window(ts, '10 minutes'), event_type""".stripMargin)
      .writeStream.outputMode("append").format("memory").queryName("sqlwin")
      .option("checkpointLocation", tmp("ck-sqlwin")).start()
    try {
      in.addData(ev(1, 1, 1, "click"), ev(2, 2, 1, "click"), ev(3, 5, 1, "view"))
      q.processAllAvailable()
      assert(spark.table("sqlwin").count() === 0) // window [0,10) still open
      in.addData(ev(4, 25, 2, "click")) // watermark -> 15min: closes [0,10)
      q.processAllAvailable()
      val rows = spark.table("sqlwin").select($"window_start", $"event_type", $"n")
        .as[(Timestamp, String, Long)].collect().toSet
      assert(rows === Set((ts(0), "click", 2L), (ts(0), "view", 1L)))
    } finally q.stop()
  }

  test("PII redaction gates a stream at ingest (q89 core on readStream)") {
    val session = spark
    import session.implicits._
    implicit val sqlCtx = spark.sqlContext
    // the redaction gate's production position is BEFORE anything else
    // sees the data — i.e. inside streaming ingest; the unsorted core is
    // a narrow map, so it composes into a streaming plan unchanged
    val in = MemoryStream[(Long, String)]
    val q = operators.TextOps.redactPiiUnsorted(
        in.toDF().toDF("id", "text"), "id", "text")
      .writeStream.outputMode("append").format("memory").queryName("redacted")
      .option("checkpointLocation", tmp("ck-redact")).start()
    try {
      in.addData((1L, "mail a@b.co from 10.0.0.1"), (2L, "clean"))
      q.processAllAvailable()
      in.addData((3L, "id 12345"))
      q.processAllAvailable()
      val rows = spark.table("redacted")
        .select($"id", $"n_emails", $"n_ips", $"n_nums", $"redacted")
        .as[(Long, Int, Int, Int, String)].collect().toSet
      assert(rows === Set(
        (1L, 1, 1, 0, "mail <EMAIL> from <IP>"),
        (2L, 0, 0, 0, "clean"),
        (3L, 0, 0, 1, "id <NUM>")))
    } finally q.stop()
  }

  test("proto serde rides a live stream: encode -> wire -> decode (S10 x S6)") {
    // the producer-serializer / consumer-deserializer path the reference
    // pairs serde with: a stream proto-encodes per-batch, the consumer
    // decodes under ITS OWN (evolved) schema — here one field behind the
    // writer, exercising unknown-field skip on live micro-batches
    val session = spark
    import session.implicits._
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[(Long, String, Double)]
    val writerSchema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("id", org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("typ", org.apache.spark.sql.types.StringType),
      org.apache.spark.sql.types.StructField("value", org.apache.spark.sql.types.DoubleType)))
    val writer = sources.ProtoSerde.protoSchema(writerSchema)
    val readerSchema = org.apache.spark.sql.types.StructType(
      writerSchema.filter(_.name != "typ"))
    val decoded = sources.ProtoSerde.decode(
      sources.ProtoSerde.encode(in.toDF().toDF("id", "typ", "value")),
      writer, readerSchema)
    val q = decoded.writeStream.outputMode("append").format("memory")
      .queryName("proto_stream").option("checkpointLocation", tmp("ck-proto")).start()
    try {
      in.addData((1L, "click", 1.5), (2L, "view", -2.0))
      q.processAllAvailable()
      in.addData((3L, "click", 0.0))
      q.processAllAvailable()
      val rows = spark.table("proto_stream").as[(Long, Double)].collect().toSet
      assert(rows === Set((1L, 1.5), (2L, -2.0), (3L, 0.0)))
    } finally q.stop()
  }
}
