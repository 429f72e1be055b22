package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.{GraftQuery, QueryModule}
import graft.functions.Exact._
import graft.sources.Tables

/** Event-log (Kafka-topic) semantics in batch-replay form over the
  * `events` fixture (SURVEY.md §2.1 S4/S5/S8/S9, §2.3, §2.7 O1-O3,
  * §2.9 T11/T12): `event_id` is the offset, `user_id` the key, `ts`
  * event time (kafka/README.md:10-23). Live-streaming counterparts live
  * in graft.streaming and its ScalaTest suites.
  *
  * Scale posture: everything here partitions by `user_id` (the key) —
  * per-key windows shuffle once on the key, exactly the co-partitioning
  * the reference requires of keyed topics (kafka/README.md:374-376).
  * No driver-side loops; compaction is a window function, not a collect.
  */
object EventLog extends QueryModule {

  /** S5 seek/replay: consume from a given offset (kafka/README.md:198-200
    * `seek`); the predicate prunes parquet row groups via min/max stats. */
  def seekReplay(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.events(spark, dir)
    e.filter(col("event_id") >= 500)
      .groupBy(col("event_type"))
      .agg(
        count(lit(1)).as("n"),
        min(col("event_id")).as("first_offset"),
        max(col("event_id")).as("last_offset"))
      .orderBy(col("event_type"))
  }

  private val seekReplaySql =
    """SELECT event_type, COUNT(*) AS n,
      |  MIN(event_id) AS first_offset, MAX(event_id) AS last_offset
      |FROM events
      |WHERE event_id >= 500
      |GROUP BY event_type
      |ORDER BY event_type NULLS FIRST""".stripMargin

  /** S8 retention: keep only events within 7 days of the newest event
    * (kafka/README.md:29-34 time-based retention) — the cutoff is computed
    * in-plan (scalar aggregate broadcast), never collected to the driver. */
  def retentionWindow(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.events(spark, dir)
    val maxTs = e.agg(max(col("ts")).as("max_ts"))
    e.crossJoin(broadcast(maxTs))
      .filter(col("ts") >= col("max_ts") - expr("INTERVAL 7 DAYS"))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_retained"),
           exactSum(money(col("value"))).as("sum_value"))
      .orderBy(col("event_type"))
  }

  private val retentionWindowSql =
    """SELECT event_type, COUNT(*) AS n_retained,
      |  CAST(SUM(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS sum_value
      |FROM events
      |WHERE ts >= (SELECT MAX(ts) FROM events) - INTERVAL 7 DAY
      |GROUP BY event_type
      |ORDER BY event_type NULLS FIRST""".stripMargin

  /** T11 log compaction: latest record per key (kafka/README.md:27,
    * :433-434) as a keyed window — one shuffle on the key, no global sort. */
  def compactLatestPerKey(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.events(spark, dir)
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts").desc, col("event_id").desc)
    e.withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col("user_id"), col("event_id"), col("event_type"), col("value"), col("ts"))
      .orderBy(col("user_id"))
  }

  private val compactLatestPerKeySql =
    """SELECT user_id, event_id, event_type, value, ts FROM (
      |  SELECT user_id, event_id, event_type, value, ts,
      |    ROW_NUMBER() OVER (PARTITION BY user_id
      |                       ORDER BY ts DESC NULLS LAST, event_id DESC NULLS LAST) AS rn
      |  FROM events) t
      |WHERE rn = 1
      |ORDER BY user_id NULLS FIRST""".stripMargin

  /** T12 tombstones: compact to latest-per-key, then drop keys whose
    * latest record is a tombstone ('error' stands in for the null-value
    * delete marker, kafka/README.md:437). */
  def compactWithTombstones(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.events(spark, dir)
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts").desc, col("event_id").desc)
    e.withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1 && col("event_type") =!= "error")
      .select(col("user_id"), col("event_id"), col("event_type"), col("ts"))
      .orderBy(col("user_id"))
  }

  private val compactWithTombstonesSql =
    """SELECT user_id, event_id, event_type, ts FROM (
      |  SELECT user_id, event_id, event_type, ts,
      |    ROW_NUMBER() OVER (PARTITION BY user_id
      |                       ORDER BY ts DESC NULLS LAST, event_id DESC NULLS LAST) AS rn
      |  FROM events) t
      |WHERE rn = 1 AND event_type <> 'error'
      |ORDER BY user_id NULLS FIRST""".stripMargin

  /** S9 dead-letter queue: route poison records ('error' events) to a DLQ
    * enriched with origin metadata (kafka/README.md:202-271). The good/bad
    * split is two filters off one scan; this query is the DLQ side of the
    * same [[graft.streaming.EventStreams.dlqSplit]] the streaming sink
    * uses (one routing definition, batch-replayed here). */
  def dlqRecords(spark: SparkSession, dir: String): DataFrame = {
    val (_, dlq) = graft.streaming.EventStreams.dlqSplit(Tables.events(spark, dir))
    dlq.select(
        col("event_id"), col("user_id"), col("ts"), col("value"),
        col("origin_topic"), col("origin_partition"), col("origin_offset"))
      .orderBy(col("event_id"))
  }

  private val dlqRecordsSql =
    """SELECT event_id, user_id, ts, value,
      |  'events' AS origin_topic,
      |  CAST(user_id % 8 AS INT) AS origin_partition,
      |  event_id AS origin_offset
      |FROM events
      |WHERE event_type = 'error'
      |ORDER BY event_id NULLS FIRST""".stripMargin

  /** S4 + K2 + O1/O3: standalone-consumer read of one hash partition with
    * per-key ordering (kafka/README.md:117-118 assign; :374-376 key order).
    * Partition id = key mod N (the reference's default routing, :22). */
  def partitionAssignOrdered(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.events(spark, dir)
    val w = Window.partitionBy(col("user_id")).orderBy(col("event_id"))
    e.filter(col("user_id") % 8 === 3)
      .withColumn("seq_in_key", row_number().over(w))
      .select(col("user_id"), col("event_id"), col("seq_in_key"), col("event_type"))
      .orderBy(col("user_id"), col("event_id"))
  }

  private val partitionAssignOrderedSql =
    """SELECT user_id, event_id,
      |  CAST(ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY event_id NULLS FIRST) AS INT) AS seq_in_key,
      |  event_type
      |FROM events
      |WHERE user_id % 8 = 3
      |ORDER BY user_id NULLS FIRST, event_id NULLS FIRST""".stripMargin

  /** Gap-based sessionization (T3 session windows, batch form): a new
    * session starts after >30 min idle per key. Microsecond integer
    * arithmetic keeps the cutoff bit-exact across engines. */
  def sessionize(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.events(spark, dir)
    val byKey = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("event_id"))
    val sessions = e
      .withColumn("us", unix_micros(col("ts")))
      .withColumn("prev_us", lag(col("us"), 1).over(byKey))
      .withColumn("new_session",
        when(col("prev_us").isNull || col("us") - col("prev_us") > 1800000000L, 1L)
          .otherwise(0L))
      .withColumn("session_id",
        sum(col("new_session")).over(byKey.rowsBetween(Window.unboundedPreceding, 0)))
    sessions.groupBy(col("user_id"), col("session_id"))
      .agg(
        count(lit(1)).as("n_events"),
        min(col("ts")).as("session_start"),
        max(col("ts")).as("session_end"))
      .filter(col("n_events") >= 3)
      .orderBy(col("user_id"), col("session_id"))
  }

  private val sessionizeSql =
    """SELECT user_id, CAST(session_id AS BIGINT) AS session_id, COUNT(*) AS n_events,
      |  MIN(ts) AS session_start, MAX(ts) AS session_end
      |FROM (
      |  SELECT user_id, ts,
      |    SUM(new_session) OVER (PARTITION BY user_id
      |                           ORDER BY ts NULLS FIRST, event_id NULLS FIRST
      |                           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id
      |  FROM (
      |    SELECT user_id, ts, event_id,
      |      CASE WHEN prev_us IS NULL OR us - prev_us > 1800000000 THEN 1 ELSE 0 END AS new_session
      |    FROM (
      |      SELECT user_id, ts, event_id, EPOCH_US(ts) AS us,
      |        LAG(EPOCH_US(ts), 1) OVER (PARTITION BY user_id
      |                                   ORDER BY ts NULLS FIRST, event_id NULLS FIRST) AS prev_us
      |      FROM events) a) b) c
      |GROUP BY user_id, session_id
      |HAVING COUNT(*) >= 3
      |ORDER BY user_id NULLS FIRST, session_id NULLS FIRST""".stripMargin

  /** Tumbling event-time windows, batch-replay form (T2,
    * flink/README.md:72): per-day per-type counts + exact value sums. */
  def tumblingDailyWindows(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.events(spark, dir)
    e.groupBy(
        date_trunc("day", col("ts")).as("window_start"),
        col("event_type"))
      .agg(count(lit(1)).as("n"),
           exactSum(money(col("value"))).as("sum_value"))
      .orderBy(col("window_start"), col("event_type"))
  }

  private val tumblingDailyWindowsSql =
    """SELECT DATE_TRUNC('day', ts) AS window_start, event_type,
      |  COUNT(*) AS n,
      |  CAST(SUM(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS sum_value
      |FROM events
      |GROUP BY 1, 2
      |ORDER BY window_start NULLS FIRST, event_type NULLS FIRST""".stripMargin

  /** Sliding time-frame aggregate (T3 batch analog): per event, count and
    * exact-average of the key's events in the preceding hour (RANGE frame
    * over microsecond event time). */
  def slidingHourlyStats(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.events(spark, dir).filter(col("user_id") <= 20)
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("us"))
      .rangeBetween(-3600000000L, 0)
    e.withColumn("us", unix_micros(col("ts")))
      .select(
        col("user_id"), col("event_id"), col("ts"),
        count(lit(1)).over(w).as("n_last_hour"),
        (sum(money(col("value"))).over(w).cast(DoubleType) /
          count(lit(1)).over(w)).as("avg_value_last_hour"))
      .orderBy(col("user_id"), col("event_id"))
  }

  private val slidingHourlyStatsSql =
    """SELECT user_id, event_id, ts,
      |  COUNT(*) OVER w AS n_last_hour,
      |  CAST(SUM(CAST(value AS DECIMAL(12,2))) OVER w AS DOUBLE)
      |    / COUNT(*) OVER w AS avg_value_last_hour
      |FROM (SELECT user_id, event_id, ts, value, EPOCH_US(ts) AS us FROM events
      |      WHERE user_id <= 20) t
      |WINDOW w AS (PARTITION BY user_id ORDER BY us NULLS FIRST
      |             RANGE BETWEEN 3600000000 PRECEDING AND CURRENT ROW)
      |ORDER BY user_id NULLS FIRST, event_id NULLS FIRST""".stripMargin

  /** As-of join (SURVEY.md §7.3 hard part): for each purchase, the most
    * recent prior signup of the same user — forward-fill via
    * last_value(ignore nulls) over the keyed event order; no Spark
    * built-in as-of join needed, and no row explosion. */
  def asofLastSignup(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.events(spark, dir)
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("event_id"))
      .rowsBetween(Window.unboundedPreceding, -1)
    e.withColumn("last_signup_id",
        last(when(col("event_type") === "signup", col("event_id")), ignoreNulls = true).over(w))
      .filter(col("event_type") === "purchase")
      .select(col("user_id"), col("event_id"), col("ts"), col("last_signup_id"))
      .orderBy(col("user_id"), col("event_id"))
  }

  private val asofLastSignupSql =
    """SELECT user_id, event_id, ts, last_signup_id FROM (
      |  SELECT user_id, event_id, ts, event_type,
      |    LAST_VALUE(CASE WHEN event_type = 'signup' THEN event_id END IGNORE NULLS)
      |      OVER (PARTITION BY user_id ORDER BY ts NULLS FIRST, event_id NULLS FIRST
      |            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS last_signup_id
      |  FROM events) t
      |WHERE event_type = 'purchase'
      |ORDER BY user_id NULLS FIRST, event_id NULLS FIRST""".stripMargin

  /** J2 stream-stream windowed join, batch-replay form
    * (kafka/README.md:333): purchases matched to clicks of the same user
    * within the preceding 10 minutes — equi-key join + time-range predicate
    * (shuffles once on the key; the range filter runs inside the join). */
  def windowedSelfJoin(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.events(spark, dir)
    val p = e.filter(col("event_type") === "purchase")
      .select(col("user_id").as("p_user"), col("event_id").as("p_id"),
              unix_micros(col("ts")).as("p_us"))
    val c = e.filter(col("event_type") === "click")
      .select(col("user_id").as("c_user"), col("event_id").as("c_id"),
              unix_micros(col("ts")).as("c_us"))
    p.join(c, col("p_user") === col("c_user") &&
              col("c_us") >= col("p_us") - 600000000L &&
              col("c_us") <= col("p_us"))
      .groupBy(col("p_user"))
      .agg(count(lit(1)).as("n_pairs"),
           countDistinct(col("p_id")).as("n_purchases_with_click"))
      .orderBy(col("p_user"))
  }

  private val windowedSelfJoinSql =
    """SELECT p.user_id AS p_user, COUNT(*) AS n_pairs,
      |  COUNT(DISTINCT p.event_id) AS n_purchases_with_click
      |FROM events p
      |JOIN events c ON p.user_id = c.user_id
      |  AND c.event_type = 'click'
      |  AND EPOCH_US(c.ts) >= EPOCH_US(p.ts) - 600000000
      |  AND EPOCH_US(c.ts) <= EPOCH_US(p.ts)
      |WHERE p.event_type = 'purchase'
      |GROUP BY p.user_id
      |ORDER BY p_user NULLS FIRST""".stripMargin

  /** T5 too-late-data reconciliation (SURVEY.md §2.9: Spark drops
    * watermark-late rows with no side output, unlike the reference's
    * late-data handling — kafka/README.md:334 — so the delta is audited in
    * batch): replay the log in arrival order (event_id = offset) and find
    * every event whose event time is older than its origin partition's
    * watermark at arrival, for a 10-minute bounded-delay policy. The
    * running max is windowed per origin partition (user_id % 8, the
    * reference's key routing) exactly like per-partition source
    * watermarks — parallel, no global sort. Lateness is integer
    * microseconds, so the oracle compare is exact. */
  def lateEvents(spark: SparkSession, dir: String): DataFrame =
    lateEventsOf(Tables.events(spark, dir))

  /** DataFrame-level core (testable on constructed out-of-order logs):
    * expects `event_id` (arrival order), `user_id`, `ts`, `event_type`. */
  def lateEventsOf(e: DataFrame): DataFrame = {
    val w = Window.partitionBy(pmod(col("user_id"), lit(8)))
      .orderBy(col("event_id"))
      .rowsBetween(Window.unboundedPreceding, -1)
    e.withColumn("us", unix_micros(col("ts")))
      .withColumn("wm_us", max(col("us")).over(w) - 600000000L)
      .filter(col("us") < col("wm_us"))
      .select(
        col("event_id"), col("user_id"), col("ts"), col("event_type"),
        (col("wm_us") - col("us")).as("late_by_us"))
      .orderBy(col("event_id"))
  }

  private val lateEventsSql =
    """SELECT event_id, user_id, ts, event_type, wm_us - us AS late_by_us
      |FROM (
      |  SELECT event_id, user_id, ts, event_type, EPOCH_US(ts) AS us,
      |    MAX(EPOCH_US(ts)) OVER (PARTITION BY user_id % 8
      |                            ORDER BY event_id NULLS FIRST
      |                            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
      |      - 600000000 AS wm_us
      |  FROM events) t
      |WHERE us < wm_us
      |ORDER BY event_id NULLS FIRST""".stripMargin

  /** Pure range join (no equi-key), the shape SURVEY.md §2 warns becomes
    * a BroadcastNestedLoopJoin if declared naively: for every order, the
    * number of OTHER orders placed within ±24 h. Scale path = time
    * binning: the right side lands in its own UTC-day bin once, the left
    * side probes its day and both neighbors (explode ×3), so every
    * qualifying pair meets in exactly one equi-join bin and the shuffle is
    * linear in the input — no nested-loop, no all-pairs. The refine filter
    * then applies the exact ±24 h predicate. The oracle declares the same
    * semantics as the naive theta self-join. */
  def rangeJoinNearbyOrders(spark: SparkSession, dir: String): DataFrame =
    rangeJoinNearbyOrdersOf(Tables.orders(spark, dir))

  /** DataFrame-level core: expects `o_orderkey` and `o_orderdate`. */
  def rangeJoinNearbyOrdersOf(orders: DataFrame): DataFrame = {
    val DayUs = 86400000000L
    // o_orderdate is TIMESTAMP_NTZ; the session timezone is pinned UTC, so
    // casting to TIMESTAMP is the identity mapping onto the UTC epoch that
    // DuckDB's EPOCH_US computes on the naive value
    val o = orders
      .select(col("o_orderkey"),
        unix_micros(col("o_orderdate").cast(TimestampType)).as("us"))
    // Pre-aggregate to DISTINCT timestamps before the pair join: the count
    // of rows within ±24 h of t depends only on t, so the binned self-join
    // runs on (us, cnt) — day-granular fixtures collapse 150k orders to
    // ~2.4k distinct values and the candidate pairs drop from ~28M to a
    // few thousand. With dense (e.g. microsecond) timestamps the collapse
    // is a no-op and the plan degrades gracefully to the plain binned
    // join; either way it stays a linear-shuffle equi-join on the day
    // bin, never a nested loop.
    val byTime = o.groupBy(col("us")).agg(count(lit(1)).as("cnt"))
      .withColumn("day", floor(col("us") / DayUs))
    val right = byTime.select(col("us").as("rus"), col("cnt"), col("day").as("bin"))
    val left = byTime.select(col("us").as("lus"),
      explode(array(col("day") - 1, col("day"), col("day") + 1)).as("bin"))
    // each (lus, rus) pair meets in exactly one bin (rus's own day)
    val nearby = left.join(right, Seq("bin"))
      .filter(abs(col("lus") - col("rus")) <= DayUs)
      .groupBy(col("lus")).agg(sum(col("cnt")).as("n_incl_self"))
    // n_incl_self counts the probe row itself (lus = rus always qualifies).
    // Left join + coalesce: a NULL o_orderdate row has NULL us, matches
    // nothing, and must still surface with n_nearby = 0 — the LEFT JOIN
    // semantics the oracle declares (COUNT over no matches = 0).
    o.join(nearby, col("us") === col("lus"), "left")
      .select(col("o_orderkey"),
        coalesce(col("n_incl_self") - 1L, lit(0L)).as("n_nearby"))
      .orderBy(col("o_orderkey"))
  }

  private val rangeJoinNearbyOrdersSql =
    """SELECT a.o_orderkey, COUNT(b.o_orderkey) AS n_nearby
      |FROM orders a LEFT JOIN orders b
      |  ON b.o_orderkey <> a.o_orderkey
      | AND ABS(EPOCH_US(b.o_orderdate) - EPOCH_US(a.o_orderdate)) <= 86400000000
      |GROUP BY a.o_orderkey
      |ORDER BY a.o_orderkey NULLS FIRST""".stripMargin

  // ---------------------------------------------------------------------
  // q142: funnel / event-sequence conversion (CEP-lite)
  // ---------------------------------------------------------------------

  /** The funnel's ordered stages, shared plan/oracle/spec. */
  val FunnelStages: Seq[String] = Seq("view", "click", "purchase")

  /** q142: funnel conversion — per-user earliest-chain sequence match
    * over the event log (the CEP pattern `A -> B -> C` that Flink's CEP
    * library and every product-analytics stack run: how many users
    * progressed view → click → purchase, in event-time order, and how
    * long the chain took). Greedy earliest-chain semantics: stage k+1 is
    * the user's FIRST qualifying event strictly after their stage-k
    * time. Emits, per stage: users reaching it and the total event-time
    * lag from funnel start (micros — exact integers, so the row hashes
    * bit-stably).
    *
    * Scale shape: one aggregate per stage (min over the stage's events,
    * map-side collapsible) + one equi-join per transition against the
    * PER-USER table (events⋈users, shuffle co-partitioned or broadcast
    * by AQE) — never a per-user window over the whole log and no
    * event⋈event self-join, so per-stage cost is one filtered pass over
    * the stage's slice of the log. */
  def funnelConversion(spark: SparkSession, dir: String): DataFrame =
    funnelConversionOf(Tables.events(spark, dir))

  /** DataFrame-level core (testable on constructed event sequences). */
  private[graft] def funnelConversionOf(e: DataFrame): DataFrame = {
    def stageEvents(t: String) = e.filter(col("event_type") === t)
      .select(col("user_id"), col("ts"))
    val s1 = stageEvents(FunnelStages(0))
      .groupBy(col("user_id")).agg(min(col("ts")).as("t1"))
    val s2 = stageEvents(FunnelStages(1))
      .join(s1, Seq("user_id"))
      .filter(col("ts") > col("t1"))
      .groupBy(col("user_id"))
      .agg(min(col("ts")).as("t2"), max(col("t1")).as("t1"))
    val s3 = stageEvents(FunnelStages(2))
      .join(s2, Seq("user_id"))
      .filter(col("ts") > col("t2"))
      .groupBy(col("user_id"))
      .agg(min(col("ts")).as("t3"), max(col("t1")).as("t1"))
    def row(df: DataFrame, stage: String, end: String): DataFrame =
      df.groupBy().agg(
        count(lit(1)).as("n_users"),
        coalesce(sum(unix_micros(col(end)) - unix_micros(col("t1"))), lit(0L))
          .as("total_lag_us"))
        .select(lit(stage).as("stage"), col("n_users"), col("total_lag_us"))
    row(s1, s"1_${FunnelStages(0)}", "t1")
      .unionAll(row(s2, s"2_${FunnelStages(1)}", "t2"))
      .unionAll(row(s3, s"3_${FunnelStages(2)}", "t3"))
      .orderBy(col("stage"))
  }

  private val funnelConversionSql =
    s"""WITH s1 AS (SELECT user_id, MIN(ts) AS t1 FROM events
      |            WHERE event_type = '${FunnelStages(0)}' GROUP BY 1),
      |s2 AS (SELECT e.user_id, MIN(e.ts) AS t2, MAX(s1.t1) AS t1
      |       FROM events e JOIN s1 ON s1.user_id = e.user_id
      |       WHERE e.event_type = '${FunnelStages(1)}' AND e.ts > s1.t1
      |       GROUP BY 1),
      |s3 AS (SELECT e.user_id, MIN(e.ts) AS t3, MAX(s2.t1) AS t1
      |       FROM events e JOIN s2 ON s2.user_id = e.user_id
      |       WHERE e.event_type = '${FunnelStages(2)}' AND e.ts > s2.t2
      |       GROUP BY 1)
      |SELECT stage, n_users, total_lag_us FROM (
      |  SELECT '1_${FunnelStages(0)}' AS stage, COUNT(*) AS n_users,
      |    CAST(0 AS BIGINT) AS total_lag_us FROM s1
      |  UNION ALL
      |  SELECT '2_${FunnelStages(1)}', COUNT(*),
      |    CAST(COALESCE(SUM(EPOCH_US(t2) - EPOCH_US(t1)), 0) AS BIGINT) FROM s2
      |  UNION ALL
      |  SELECT '3_${FunnelStages(2)}', COUNT(*),
      |    CAST(COALESCE(SUM(EPOCH_US(t3) - EPOCH_US(t1)), 0) AS BIGINT) FROM s3
      |) t ORDER BY stage NULLS FIRST""".stripMargin

  /** Robust volume-anomaly detection: flag days whose per-type event count
    * deviates from that type's median by more than 1.5× the MAD (median
    * absolute deviation) — the outlier rule that, unlike mean/stddev
    * z-scores, one bad day cannot drag. Three bounded aggregates: daily
    * counts (map-side combined over the raw log — the only pass that sees
    * full data), then medians and MADs over the already-tiny counts table
    * (types × days rows). Medians are exact interpolated percentiles on
    * integer counts, so every derived double is dyadic-exact and the
    * boolean flag hash-stable. */
  def volumeAnomaly(spark: SparkSession, dir: String): DataFrame = {
    // counts is referenced three times downstream; without the scoped
    // persist each reference would re-scan the raw log — at 100 TB the
    // whole query must read it exactly once and the rest re-aggregate
    // this types×days table
    val counts = graft.functions.ScopedCache.persist("q145.counts", dir,
      Tables.events(spark, dir)
        .groupBy(col("event_type"), date_trunc("day", col("ts")).as("day"))
        .agg(count(lit(1)).as("cnt")))
    val med = counts.groupBy(col("event_type").as("m_type"))
      .agg(expr("percentile(cnt, 0.5)").as("med"))
    val withMed = counts.join(broadcast(med), col("event_type") === col("m_type"))
      .withColumn("dev", abs(col("cnt") - col("med")))
    val mad = withMed.groupBy(col("event_type").as("d_type"))
      .agg(expr("percentile(dev, 0.5)").as("mad"))
    withMed.join(broadcast(mad), col("event_type") === col("d_type"))
      .select(col("event_type"), col("day"), col("cnt"), col("med"), col("mad"),
        (col("dev") > lit(1.5) * col("mad")).as("is_anomaly"))
      .orderBy(col("event_type"), col("day"))
  }

  private val volumeAnomalySql =
    """WITH counts AS (
      |  SELECT event_type, DATE_TRUNC('day', ts) AS day, COUNT(*) AS cnt
      |  FROM events GROUP BY 1, 2),
      |med AS (
      |  SELECT event_type AS m_type, quantile_cont(cnt, 0.5) AS med
      |  FROM counts GROUP BY 1),
      |with_med AS (
      |  SELECT c.*, m.med, ABS(c.cnt - m.med) AS dev
      |  FROM counts c JOIN med m ON c.event_type = m.m_type),
      |mad AS (
      |  SELECT event_type AS d_type, quantile_cont(dev, 0.5) AS mad
      |  FROM with_med GROUP BY 1)
      |SELECT w.event_type, w.day, w.cnt, w.med, d.mad,
      |  w.dev > 1.5 * d.mad AS is_anomaly
      |FROM with_med w JOIN mad d ON w.event_type = d.d_type
      |ORDER BY w.event_type NULLS FIRST, w.day NULLS FIRST""".stripMargin

  /** Weekly cohort retention: users cohorted by the week they were first
    * seen; a cohort's week-N retention is how many of its users were
    * active N weeks later. Shapes that survive 100 TB: first-seen is a
    * map-combined min per user; the fact-side join back is equi on
    * user_id (the key both sides already aggregate/shuffle on); the
    * distinct count re-aggregates per (cohort, offset) with partial
    * dedup — no whole-log window, no self-join. Week offsets divide
    * exactly (both engines truncate to Monday week boundaries in UTC),
    * so the integer cast is exact. */
  def cohortRetention(spark: SparkSession, dir: String): DataFrame =
    cohortRetentionOf(Tables.events(spark, dir))

  private[graft] def cohortRetentionOf(e: DataFrame): DataFrame = {
    val first = e.groupBy(col("user_id").as("f_user"))
      .agg(date_trunc("week", min(col("ts"))).as("cohort_week"))
    e.join(first, col("user_id") === col("f_user"))
      .withColumn("week_offset",
        ((unix_micros(date_trunc("week", col("ts"))) -
          unix_micros(col("cohort_week"))) / lit(604800000000L)).cast("int"))
      .groupBy(col("cohort_week"), col("week_offset"))
      .agg(countDistinct(col("user_id")).as("active_users"))
      .orderBy(col("cohort_week"), col("week_offset"))
  }

  private val cohortRetentionSql =
    """WITH first_seen AS (
      |  SELECT user_id AS f_user, DATE_TRUNC('week', MIN(ts)) AS cohort_week
      |  FROM events GROUP BY 1)
      |SELECT cohort_week,
      |  CAST((EPOCH(DATE_TRUNC('week', e.ts)) - EPOCH(cohort_week)) / 604800 AS INT) AS week_offset,
      |  COUNT(DISTINCT e.user_id) AS active_users
      |FROM events e JOIN first_seen f ON e.user_id = f.f_user
      |GROUP BY 1, 2
      |ORDER BY cohort_week NULLS FIRST, week_offset NULLS FIRST""".stripMargin

  /** RFM (recency/frequency/monetary) segmentation, the bounded-state
    * way: per-user purchase aggregates, then ONE 3-scalar median row
    * broadcast back as the segment thresholds — never a global
    * ntile/rank window over all users (the formulation that serializes
    * the user table through one task at 100 TB; q116/q119's
    * threshold-over-window move, applied to marketing segmentation).
    * Monetary stays exact decimal until the final cast; recency is
    * day-granular so every median interpolation is dyadic-exact. */
  def rfmSegments(spark: SparkSession, dir: String): DataFrame = {
    val u = Tables.events(spark, dir)
      .filter(col("event_type") === "purchase")
      .groupBy(col("user_id"))
      .agg(
        (unix_micros(date_trunc("day", max(col("ts")))) / lit(86400000000L))
          .cast("long").as("r_day"),
        count(lit(1)).as("f"),
        sum(money(col("value"))).as("m"))
    val med = u.agg(
      expr("percentile(r_day, 0.5)").as("r_med"),
      expr("percentile(f, 0.5)").as("f_med"),
      expr("percentile(CAST(m AS DOUBLE), 0.5)").as("m_med"))
    u.crossJoin(broadcast(med))
      .withColumn("segment", concat(
        when(col("r_day") >= col("r_med"), lit("R1")).otherwise(lit("R0")),
        when(col("f") >= col("f_med"), lit("F1")).otherwise(lit("F0")),
        when(col("m").cast("double") >= col("m_med"), lit("M1")).otherwise(lit("M0"))))
      .groupBy(col("segment"))
      .agg(count(lit(1)).as("n_users"),
           sum(col("m")).cast("double").as("total_m"))
      .orderBy(col("segment"))
  }

  private val rfmSegmentsSql =
    """WITH u AS (
      |  SELECT user_id,
      |    CAST(EPOCH(DATE_TRUNC('day', MAX(ts))) * 1000000 / 86400000000 AS BIGINT) AS r_day,
      |    COUNT(*) AS f,
      |    SUM(CAST(value AS DECIMAL(12,2))) AS m
      |  FROM events WHERE event_type = 'purchase' GROUP BY 1),
      |med AS (
      |  SELECT quantile_cont(r_day, 0.5) AS r_med,
      |         quantile_cont(f, 0.5) AS f_med,
      |         quantile_cont(CAST(m AS DOUBLE), 0.5) AS m_med
      |  FROM u)
      |SELECT CONCAT(
      |    CASE WHEN r_day >= r_med THEN 'R1' ELSE 'R0' END,
      |    CASE WHEN f >= f_med THEN 'F1' ELSE 'F0' END,
      |    CASE WHEN CAST(m AS DOUBLE) >= m_med THEN 'M1' ELSE 'M0' END) AS segment,
      |  COUNT(*) AS n_users,
      |  CAST(SUM(m) AS DOUBLE) AS total_m
      |FROM u, med
      |GROUP BY 1 ORDER BY segment NULLS FIRST""".stripMargin

  override def queries: Seq[GraftQuery] = Seq(
    GraftQuery("q40_seek_replay", seekReplay, Some(seekReplaySql)),
    GraftQuery("q41_retention_window", retentionWindow, Some(retentionWindowSql)),
    GraftQuery("q42_compact_latest_per_key", compactLatestPerKey, Some(compactLatestPerKeySql)),
    GraftQuery("q43_compact_tombstones", compactWithTombstones, Some(compactWithTombstonesSql)),
    GraftQuery("q44_dlq_records", dlqRecords, Some(dlqRecordsSql)),
    GraftQuery("q45_partition_assign", partitionAssignOrdered, Some(partitionAssignOrderedSql)),
    GraftQuery("q46_sessionize", sessionize, Some(sessionizeSql)),
    GraftQuery("q47_tumbling_daily", tumblingDailyWindows, Some(tumblingDailyWindowsSql)),
    GraftQuery("q48_sliding_hourly", slidingHourlyStats, Some(slidingHourlyStatsSql)),
    GraftQuery("q49_asof_last_signup", asofLastSignup, Some(asofLastSignupSql)),
    GraftQuery("q50_windowed_self_join", windowedSelfJoin, Some(windowedSelfJoinSql)),
    GraftQuery("q51_late_events", lateEvents, Some(lateEventsSql)),
    GraftQuery("q52_range_join_nearby", rangeJoinNearbyOrders, Some(rangeJoinNearbyOrdersSql)),
    GraftQuery("q142_funnel_conversion", funnelConversion, Some(funnelConversionSql)),
    GraftQuery("q145_volume_anomaly", volumeAnomaly, Some(volumeAnomalySql)),
    GraftQuery("q146_cohort_retention", cohortRetention, Some(cohortRetentionSql)),
    GraftQuery("q149_rfm_segments", rfmSegments, Some(rfmSegmentsSql)),
  )
}
