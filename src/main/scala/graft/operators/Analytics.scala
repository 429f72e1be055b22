package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.{GraftQuery, QueryModule}
import graft.functions.Exact._
import graft.sources.Tables

/** Batch analytic depth (SURVEY.md §2.4 extras + §2.6 window functions +
  * §2.10 scalar functions): the batch form of the reference's
  * moving-average / min-max-per-day patterns (kafka/README.md:326) and the
  * "analysis" scope of README.md:21.
  *
  * Scale posture: window functions partition by their key — one shuffle
  * per distinct partitioning, reused across functions on the same window
  * spec. Top-k per group filters on row_number, never a global sort of
  * the fact table. Rollup/cube expand in the partial aggregate (one
  * shuffle). Exact decimals keep every float output hash-stable.
  */
object Analytics extends QueryModule {

  /** Top-3 orders by total price per market segment: window top-k
    * (row_number ≤ k), the per-group analog of min/max-per-day
    * (kafka/README.md:326). */
  def topkPerSegment(spark: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(spark, dir)
    val c = Tables.customer(spark, dir)
    val w = Window.partitionBy(col("c_mktsegment"))
      .orderBy(col("o_totalprice").desc, col("o_orderkey"))
    o.join(broadcast(c), col("o_custkey") === col("c_custkey"))
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= 3)
      .select(col("c_mktsegment"), col("rk"), col("o_orderkey"), col("o_totalprice"))
      .orderBy(col("c_mktsegment"), col("rk"))
  }

  private val topkPerSegmentSql =
    """SELECT c_mktsegment, CAST(rk AS INT) AS rk, o_orderkey, o_totalprice FROM (
      |  SELECT c_mktsegment, o_orderkey, o_totalprice,
      |    ROW_NUMBER() OVER (PARTITION BY c_mktsegment
      |                       ORDER BY o_totalprice DESC NULLS LAST, o_orderkey NULLS FIRST) AS rk
      |  FROM orders JOIN customer ON o_custkey = c_custkey) t
      |WHERE rk <= 3
      |ORDER BY c_mktsegment NULLS FIRST, rk NULLS FIRST""".stripMargin

  /** Top-5 orders per customer through the custom GroupTopK operator
    * (graft.plans.GroupTopK) — the whole-operator Catalyst extension:
    * logical node → planner strategy → partial/final exec pair. Same
    * semantics and shuffle volume as the row_number-over-window form
    * (q20's shape; Spark's WindowGroupLimit already map-side-limits
    * that), but sort-free on both sides of the exchange: bounded per-key
    * heaps replace the partition sorts WindowGroupLimit still needs
    * before its partial and final passes (O(n log k) vs O(n log n) at
    * 100 TB), and no Window exec runs. The trailing orderBy sorts only
    * the reduced output (≤ 5·|custkeys| rows). */
  def groupTopkOrders(spark: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(spark, dir)
      .select(col("o_custkey"), col("o_orderkey"), col("o_totalprice"))
    graft.plans.GroupTopK.topKPerKey(
        o, Seq("o_custkey"),
        Seq(graft.plans.GroupTopK.Key("o_totalprice", desc = true),
          graft.plans.GroupTopK.Key("o_orderkey")), 5)
      .orderBy(col("o_custkey"), col("o_totalprice").desc, col("o_orderkey"))
  }

  private val groupTopkOrdersSql =
    """SELECT o_custkey, o_orderkey, o_totalprice FROM (
      |  SELECT o_custkey, o_orderkey, o_totalprice,
      |    ROW_NUMBER() OVER (PARTITION BY o_custkey
      |                       ORDER BY o_totalprice DESC NULLS LAST, o_orderkey NULLS FIRST) AS rn
      |  FROM orders) t
      |WHERE rn <= 5
      |ORDER BY o_custkey NULLS FIRST, o_totalprice DESC NULLS LAST, o_orderkey NULLS FIRST""".stripMargin

  /** q143's semantics written as plain SQL in the WINDOW form — the
    * RewriteWindowTopK optimizer rule must recognize `row_number() ≤ k`
    * with the rank dropped and plan the custom sort-free operator
    * anyway (GroupTopKSpec pins the plan). Same oracle as q143: the
    * rewrite is only correct if the driver's hash compare can't tell
    * the two apart. */
  def groupTopkSql(spark: SparkSession, dir: String): DataFrame = {
    Tables.orders(spark, dir).createOrReplaceTempView("graft_q147_orders")
    spark.sql(
      """SELECT o_custkey, o_orderkey, o_totalprice FROM (
        |  SELECT o_custkey, o_orderkey, o_totalprice,
        |    row_number() OVER (PARTITION BY o_custkey
        |                       ORDER BY o_totalprice DESC, o_orderkey) AS rn
        |  FROM graft_q147_orders) t
        |WHERE rn <= 5
        |ORDER BY o_custkey, o_totalprice DESC, o_orderkey""".stripMargin)
  }

  /** Moving average over the last 3 orders per customer (A6
    * moving-average, kafka/README.md:326 — batch frame form). Decimal
    * window sum + one double division keeps it hash-exact. */
  def movingAvgOrderValue(spark: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(spark, dir).filter(col("o_custkey") <= 100)
    val w = Window.partitionBy(col("o_custkey"))
      .orderBy(col("o_orderdate"), col("o_orderkey"))
      .rowsBetween(-2, 0)
    o.select(
        col("o_custkey"), col("o_orderkey"), col("o_orderdate"),
        (sum(money(col("o_totalprice"))).over(w).cast(DoubleType) /
          count(lit(1)).over(w)).as("moving_avg"))
      .orderBy(col("o_custkey"), col("o_orderdate"), col("o_orderkey"))
  }

  private val movingAvgOrderValueSql =
    """SELECT o_custkey, o_orderkey, o_orderdate,
      |  CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) OVER w AS DOUBLE)
      |    / COUNT(*) OVER w AS moving_avg
      |FROM orders
      |WHERE o_custkey <= 100
      |WINDOW w AS (PARTITION BY o_custkey
      |             ORDER BY o_orderdate NULLS FIRST, o_orderkey NULLS FIRST
      |             ROWS BETWEEN 2 PRECEDING AND CURRENT ROW)
      |ORDER BY o_custkey NULLS FIRST, o_orderdate NULLS FIRST, o_orderkey NULLS FIRST""".stripMargin

  /** rank + dense_rank of parts by retail price within brand (§2.6). */
  def partPriceRanks(spark: SparkSession, dir: String): DataFrame = {
    val p = Tables.part(spark, dir)
    val w = Window.partitionBy(col("p_brand")).orderBy(col("p_retailprice").desc)
    p.select(
        col("p_brand"), col("p_partkey"), col("p_retailprice"),
        rank().over(w).as("price_rank"),
        dense_rank().over(w).as("price_dense_rank"))
      .filter(col("price_rank") <= 5)
      .orderBy(col("p_brand"), col("price_rank"), col("p_partkey"))
  }

  private val partPriceRanksSql =
    """SELECT p_brand, p_partkey, p_retailprice,
      |  CAST(price_rank AS INT) AS price_rank,
      |  CAST(price_dense_rank AS INT) AS price_dense_rank FROM (
      |  SELECT p_brand, p_partkey, p_retailprice,
      |    RANK() OVER (PARTITION BY p_brand ORDER BY p_retailprice DESC NULLS LAST) AS price_rank,
      |    DENSE_RANK() OVER (PARTITION BY p_brand ORDER BY p_retailprice DESC NULLS LAST) AS price_dense_rank
      |  FROM part) t
      |WHERE price_rank <= 5
      |ORDER BY p_brand NULLS FIRST, price_rank NULLS FIRST, p_partkey NULLS FIRST""".stripMargin

  /** lag/lead: gap in days between consecutive orders per customer. */
  def orderGaps(spark: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(spark, dir).filter(col("o_custkey") <= 50)
    val w = Window.partitionBy(col("o_custkey"))
      .orderBy(col("o_orderdate"), col("o_orderkey"))
    o.select(
        col("o_custkey"), col("o_orderkey"), col("o_orderdate"),
        lag(col("o_orderdate"), 1).over(w).as("prev_orderdate"),
        lead(col("o_orderkey"), 1).over(w).as("next_orderkey"))
      .withColumn("gap_days",
        datediff(col("o_orderdate"), col("prev_orderdate")))
      .orderBy(col("o_custkey"), col("o_orderdate"), col("o_orderkey"))
  }

  private val orderGapsSql =
    """SELECT o_custkey, o_orderkey, o_orderdate,
      |  LAG(o_orderdate, 1) OVER w AS prev_orderdate,
      |  LEAD(o_orderkey, 1) OVER w AS next_orderkey,
      |  CAST(DATE_DIFF('day', CAST(LAG(o_orderdate, 1) OVER w AS DATE),
      |                 CAST(o_orderdate AS DATE)) AS INT) AS gap_days
      |FROM orders
      |WHERE o_custkey <= 50
      |WINDOW w AS (PARTITION BY o_custkey
      |             ORDER BY o_orderdate NULLS FIRST, o_orderkey NULLS FIRST)
      |ORDER BY o_custkey NULLS FIRST, o_orderdate NULLS FIRST, o_orderkey NULLS FIRST""".stripMargin

  /** ROLLUP over region → nation: hierarchical subtotals (grouping-sets
    * family; batch analog of multi-level aggregation state). */
  def rollupCustomerValue(spark: SparkSession, dir: String): DataFrame = {
    val c = Tables.customer(spark, dir)
    val n = Tables.nation(spark, dir)
    val r = Tables.region(spark, dir)
    c.join(broadcast(n), col("c_nationkey") === col("n_nationkey"))
      .join(broadcast(r), col("n_regionkey") === col("r_regionkey"))
      .rollup(col("r_name"), col("n_name"))
      .agg(count(lit(1)).as("n_customers"),
           exactSum(money(col("c_acctbal"))).as("total_acctbal"))
      .orderBy(col("r_name"), col("n_name"))
  }

  private val rollupCustomerValueSql =
    """SELECT r_name, n_name, COUNT(*) AS n_customers,
      |  CAST(SUM(CAST(c_acctbal AS DECIMAL(12,2))) AS DOUBLE) AS total_acctbal
      |FROM customer
      |JOIN nation ON c_nationkey = n_nationkey
      |JOIN region ON n_regionkey = r_regionkey
      |GROUP BY ROLLUP (r_name, n_name)
      |ORDER BY r_name NULLS FIRST, n_name NULLS FIRST""".stripMargin

  /** CUBE over order status × priority. */
  def cubeOrderStatus(spark: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(spark, dir)
    o.cube(col("o_orderstatus"), col("o_orderpriority"))
      .agg(count(lit(1)).as("n_orders"),
           exactSum(money(col("o_totalprice"))).as("total_price"))
      .orderBy(col("o_orderstatus"), col("o_orderpriority"))
  }

  private val cubeOrderStatusSql =
    """SELECT o_orderstatus, o_orderpriority, COUNT(*) AS n_orders,
      |  CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE) AS total_price
      |FROM orders
      |GROUP BY CUBE (o_orderstatus, o_orderpriority)
      |ORDER BY o_orderstatus NULLS FIRST, o_orderpriority NULLS FIRST""".stripMargin

  /** count(distinct) per nation. Two single-distinct branches joined on
    * the 25-row group key instead of one multi-distinct aggregate: Spark
    * plans ≥2 distinct columns in one Aggregate via Expand, which
    * multiplies every fact row by the number of distinct groups BEFORE the
    * shuffle — at 100 TB that doubles/triples the largest exchange in the
    * plan. Each branch here partial-aggregates map-side on
    * (nation, key), so the shuffles carry near-distinct rows only; the
    * lineitem scan runs twice, but a pruned 3-column columnar scan is far
    * cheaper than an Expand-doubled shuffle, and the supplier broadcast is
    * reused across branches. */
  def distinctPartsPerNation(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(spark, dir)
    val s = Tables.supplier(spark, dir)
    distinctPartsPerNationOf(
      li.join(broadcast(s), col("l_suppkey") === col("s_suppkey"))
        .select(col("s_nationkey"), col("l_partkey"), col("l_orderkey")))
  }

  /** DataFrame-level core (testable on constructed frames): expects
    * (s_nationkey, l_partkey, l_orderkey). */
  def distinctPartsPerNationOf(base: DataFrame): DataFrame = {
    // count(key), not count(*), at level 2: COUNT(DISTINCT x) ignores
    // NULLs, and level 1 emits a NULL-key group when x is ever NULL
    val parts = base.groupBy(col("s_nationkey"), col("l_partkey"))
      .agg(count(lit(1)).as("c"))
      .groupBy(col("s_nationkey"))
      .agg(count(col("l_partkey")).as("n_parts"), sum(col("c")).as("n_lines"))
    val orders = base.select(col("s_nationkey"), col("l_orderkey")).distinct()
      .groupBy(col("s_nationkey"))
      .agg(count(col("l_orderkey")).as("n_orders"))
    // null-safe join key: GROUP BY emits a NULL-nationkey group that a
    // null-rejecting equi-join would silently drop
    parts.join(orders, parts("s_nationkey") <=> orders("s_nationkey"))
      .select(parts("s_nationkey"), col("n_parts"), col("n_orders"), col("n_lines"))
      .orderBy(parts("s_nationkey"))
  }

  private val distinctPartsPerNationSql =
    """SELECT s_nationkey,
      |  COUNT(DISTINCT l_partkey) AS n_parts,
      |  COUNT(DISTINCT l_orderkey) AS n_orders,
      |  COUNT(*) AS n_lines
      |FROM lineitem JOIN supplier ON l_suppkey = s_suppkey
      |GROUP BY s_nationkey
      |ORDER BY s_nationkey NULLS FIRST""".stripMargin

  /** Approximate distinct count: the 100 TB cardinality path — constant
    * memory per group vs the exact expansion above. A KMV (k-minimum-
    * values) sketch over the engine-portable hash family
    * ([[graft.functions.Kmv]]) rather than `approx_count_distinct`'s
    * HyperLogLog: identical scale story (bounded buffer, map-side
    * combinable, one sketch per group through the shuffle), but the
    * sketch state is REPLAYABLE in plain SQL, so the DuckDB oracle
    * certifies the estimate bit-for-bit (the r8 MinHash/SimHash
    * portability move applied to cardinality). The exact count rides
    * along so the estimate's error is visible in the output. */
  def approxDistinctParts(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(spark, dir)
    li.select(col("l_returnflag"), col("l_partkey"),
        graft.functions.Kmv.hashCol(col("l_partkey")).as("h"))
      .groupBy(col("l_returnflag"))
      .agg(
        expr("graft_kmv(h)").as("approx_parts"),
        countDistinct(col("l_partkey")).as("exact_parts"))
      .orderBy(col("l_returnflag"))
  }

  /** DuckDB replay of the KMV sketch: same hash, `ROW_NUMBER() <= k`
    * keeps the k minimum distinct values, same integer estimate. */
  private val approxDistinctPartsSql = {
    val k = graft.functions.Kmv.K
    val p = graft.functions.Kmv.P
    s"""WITH u AS (
       |  SELECT l_returnflag, ${graft.functions.Kmv.hashSql("l_partkey")} AS h
       |  FROM lineitem WHERE l_partkey IS NOT NULL),
       |h AS (SELECT DISTINCT l_returnflag, h FROM u),
       |r AS (SELECT l_returnflag, h,
       |        ROW_NUMBER() OVER (PARTITION BY l_returnflag ORDER BY h) AS rn,
       |        COUNT(*) OVER (PARTITION BY l_returnflag) AS nd
       |      FROM h),
       |k AS (SELECT l_returnflag, ANY_VALUE(nd) AS nd,
       |        MAX(CASE WHEN rn = $k THEN h END) AS kth
       |      FROM r WHERE rn <= $k GROUP BY l_returnflag),
       |e AS (SELECT l_returnflag, COUNT(DISTINCT l_partkey) AS exact_parts
       |      FROM lineitem GROUP BY l_returnflag)
       |SELECT e.l_returnflag,
       |  COALESCE(CASE WHEN k.nd < $k THEN k.nd
       |                ELSE (CAST(${k - 1} AS BIGINT) * $p) // k.kth END,
       |           0) AS approx_parts,
       |  e.exact_parts
       |FROM e LEFT JOIN k ON e.l_returnflag IS NOT DISTINCT FROM k.l_returnflag
       |ORDER BY e.l_returnflag NULLS FIRST""".stripMargin
  }

  /** String functions (§2.10): split/lower/substring/concat/regexp. */
  def stringFunctions(spark: SparkSession, dir: String): DataFrame = {
    val p = Tables.part(spark, dir).filter(col("p_size") === 1)
    p.select(
        col("p_partkey"),
        lower(col("p_name")).as("name_lower"),
        length(col("p_name")).as("name_len"),
        substring(col("p_name"), 1, 5).as("name_prefix"),
        concat_ws("/", col("p_brand"), col("p_type")).as("brand_type"),
        regexp_extract(col("p_brand"), "Brand#(\\d+)", 1).cast(IntegerType).as("brand_num"),
        size(split(col("p_name"), " ")).as("name_words"))
      .orderBy(col("p_partkey"))
  }

  private val stringFunctionsSql =
    """SELECT p_partkey,
      |  LOWER(p_name) AS name_lower,
      |  CAST(LENGTH(p_name) AS INT) AS name_len,
      |  SUBSTRING(p_name, 1, 5) AS name_prefix,
      |  CONCAT_WS('/', p_brand, p_type) AS brand_type,
      |  CAST(REGEXP_EXTRACT(p_brand, 'Brand#(\d+)', 1) AS INT) AS brand_num,
      |  CAST(LEN(STRING_SPLIT(p_name, ' ')) AS INT) AS name_words
      |FROM part
      |WHERE p_size = 1
      |ORDER BY p_partkey NULLS FIRST""".stripMargin

  /** Date/time functions (§2.10): trunc/year/month/quarter grouping. */
  def ordersByMonth(spark: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(spark, dir)
    o.groupBy(
        year(col("o_orderdate")).as("o_year"),
        month(col("o_orderdate")).as("o_month"),
        date_trunc("month", col("o_orderdate")).as("month_start"))
      .agg(count(lit(1)).as("n_orders"),
           exactSum(money(col("o_totalprice"))).as("total_price"))
      .orderBy(col("o_year"), col("o_month"))
  }

  private val ordersByMonthSql =
    """SELECT CAST(YEAR(o_orderdate) AS INT) AS o_year,
      |  CAST(MONTH(o_orderdate) AS INT) AS o_month,
      |  DATE_TRUNC('month', o_orderdate) AS month_start,
      |  COUNT(*) AS n_orders,
      |  CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE) AS total_price
      |FROM orders
      |GROUP BY 1, 2, 3
      |ORDER BY o_year NULLS FIRST, o_month NULLS FIRST""".stripMargin

  /** JSON extraction from the events payload (§2.10 / kafka schema-on-read,
    * kafka/README.md:312): props is a JSON string column. */
  def jsonPayloadStats(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.events(spark, dir)
    e.withColumn("k", get_json_object(col("props"), "$.k").cast(IntegerType))
      .groupBy(col("event_type"))
      .agg(
        count(col("k")).as("n"),
        sum(col("k").cast(LongType)).as("sum_k"),
        min(col("k")).as("min_k"),
        max(col("k")).as("max_k"))
      .orderBy(col("event_type"))
  }

  private val jsonPayloadStatsSql =
    """SELECT event_type,
      |  COUNT(k) AS n,
      |  CAST(SUM(k) AS BIGINT) AS sum_k,
      |  MIN(k) AS min_k,
      |  MAX(k) AS max_k
      |FROM (SELECT event_type,
      |        CAST(JSON_EXTRACT_STRING(props, '$.k') AS INT) AS k
      |      FROM events) t
      |GROUP BY event_type
      |ORDER BY event_type NULLS FIRST""".stripMargin

  /** Conditional aggregation (case/when — the branch pattern P6 in
    * aggregate form). */
  def conditionalAgg(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(spark, dir)
    li.groupBy(col("l_returnflag"))
      .agg(
        sum(when(col("l_discount") > 0.05, 1L).otherwise(0L)).as("n_high_discount"),
        sum(when(col("l_quantity") >= 25, money(col("l_extendedprice")))
          .otherwise(lit(BigDecimal(0)).cast(DecimalType(12, 2))))
          .cast(DoubleType).as("bulk_revenue"),
        (sum(when(col("l_linestatus") === "F", 1L).otherwise(0L)) * lit(100.0) /
          count(lit(1))).as("pct_finished"))
      .orderBy(col("l_returnflag"))
  }

  private val conditionalAggSql =
    """SELECT l_returnflag,
      |  CAST(SUM(CASE WHEN l_discount > 0.05 THEN 1 ELSE 0 END) AS BIGINT) AS n_high_discount,
      |  CAST(SUM(CASE WHEN l_quantity >= 25 THEN CAST(l_extendedprice AS DECIMAL(12,2))
      |           ELSE CAST(0 AS DECIMAL(12,2)) END) AS DOUBLE) AS bulk_revenue,
      |  SUM(CASE WHEN l_linestatus = 'F' THEN 1 ELSE 0 END) * 100.0 / COUNT(*) AS pct_finished
      |FROM lineitem
      |GROUP BY l_returnflag
      |ORDER BY l_returnflag NULLS FIRST""".stripMargin

  /** first/last value over an ordered window frame (§2.6). */
  def firstLastOrder(spark: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(spark, dir).filter(col("o_custkey") <= 200)
    val w = Window.partitionBy(col("o_custkey"))
      .orderBy(col("o_orderdate"), col("o_orderkey"))
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    o.select(
        col("o_custkey"), col("o_orderkey"), col("o_orderdate"),
        first(col("o_orderkey")).over(w).as("first_orderkey"),
        last(col("o_orderkey")).over(w).as("last_orderkey"))
      .orderBy(col("o_custkey"), col("o_orderdate"), col("o_orderkey"))
  }

  private val firstLastOrderSql =
    """SELECT o_custkey, o_orderkey, o_orderdate,
      |  FIRST_VALUE(o_orderkey) OVER w AS first_orderkey,
      |  LAST_VALUE(o_orderkey) OVER w AS last_orderkey
      |FROM orders
      |WHERE o_custkey <= 200
      |WINDOW w AS (PARTITION BY o_custkey
      |             ORDER BY o_orderdate NULLS FIRST, o_orderkey NULLS FIRST
      |             ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
      |ORDER BY o_custkey NULLS FIRST, o_orderdate NULLS FIRST, o_orderkey NULLS FIRST""".stripMargin

  /** Explicit GROUPING SETS (the general grouping-sets family beyond
    * rollup/cube): per-(status) totals and per-(priority) totals in one
    * pass — one shuffle, expanded map-side. */
  def groupingSetsTotals(spark: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(spark, dir)
    o.groupingSets(
        Seq(Seq(col("o_orderstatus")), Seq(col("o_orderpriority"))),
        col("o_orderstatus"), col("o_orderpriority"))
      .agg(count(lit(1)).as("n_orders"),
           exactSum(money(col("o_totalprice"))).as("total_price"))
      .orderBy(col("o_orderstatus"), col("o_orderpriority"))
  }

  private val groupingSetsTotalsSql =
    """SELECT o_orderstatus, o_orderpriority, COUNT(*) AS n_orders,
      |  CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE) AS total_price
      |FROM orders
      |GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority))
      |ORDER BY o_orderstatus NULLS FIRST, o_orderpriority NULLS FIRST""".stripMargin

  /** Map-typed payload access (§2.10 map functions): parse the JSON props
    * into map<string,int>, then key/value introspection. */
  def mapFunctions(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.events(spark, dir)
    e.withColumn("m", from_json(col("props"), MapType(StringType, IntegerType)))
      .select(
        col("event_id"),
        element_at(col("m"), "k").as("k_value"),
        size(map_keys(col("m"))).as("n_keys"),
        array_contains(map_keys(col("m")), "k").as("has_k"),
        coalesce(element_at(col("m"), "missing"), lit(-1)).as("missing_default"))
      .filter(col("event_id") < 2000)
      .orderBy(col("event_id"))
  }

  private val mapFunctionsSql =
    """SELECT event_id,
      |  CAST(JSON_EXTRACT_STRING(props, '$.k') AS INT) AS k_value,
      |  CAST(LEN(JSON_KEYS(props)) AS INT) AS n_keys,
      |  LIST_CONTAINS(JSON_KEYS(props), 'k') AS has_k,
      |  COALESCE(CAST(JSON_EXTRACT_STRING(props, '$.missing') AS INT), -1) AS missing_default
      |FROM events
      |WHERE event_id < 2000
      |ORDER BY event_id NULLS FIRST""".stripMargin

  /** Exact percentiles (median / p90) per group: both engines compute
    * sorted-position interpolation over the same values. Each column is
    * pre-aggregated to (group, value, frequency) and fed to the
    * frequency-weighted `percentile` — identical interpolation result,
    * but the shuffle and the percentile buffer carry one row per DISTINCT
    * value instead of every fact row (l_quantity has ~50 distinct values,
    * so that branch collapses ~12000×; map-side combine does the
    * collapsing before the exchange). This is the exact-percentile shape
    * that survives scale; the sketch twin q18 remains the constant-memory
    * alternative. */
  def quantityPercentiles(spark: SparkSession, dir: String): DataFrame =
    quantityPercentilesOf(Tables.lineitem(spark, dir))

  /** DataFrame-level core (testable on constructed frames): expects
    * (l_returnflag, l_quantity, l_extendedprice). */
  def quantityPercentilesOf(li: DataFrame): DataFrame = {
    val qty = li.groupBy(col("l_returnflag"), col("l_quantity"))
      .agg(count(lit(1)).as("freq"))
      .groupBy(col("l_returnflag"))
      .agg(
        expr("percentile(l_quantity, 0.5, freq)").as("median_qty"),
        expr("percentile(l_quantity, 0.9, freq)").as("p90_qty"))
    // l_extendedprice is ~97% distinct, so a (group, value, count)
    // pre-aggregate would collapse nothing and just add an exchange —
    // the plain exact percentile is the right shape for a near-unique
    // column. The range-bucketed refinement ([[p25PriceBucketedOf]])
    // computes the identical bits with bounded state but measured a
    // wash at bench scale (BASELINE.md), so plain ships here
    // and bucketed + q18's sketch remain the 100 TB escape hatches.
    val price = li.groupBy(col("l_returnflag"))
      .agg(expr("percentile(l_extendedprice, 0.25)").as("p25_price"))
    // null-safe join key: a NULL-returnflag group must survive the join
    qty.join(price, qty("l_returnflag") <=> price("l_returnflag"))
      .select(qty("l_returnflag"), col("median_qty"), col("p90_qty"), col("p25_price"))
      .orderBy(qty("l_returnflag"))
  }

  private val quantityPercentilesSql =
    """SELECT l_returnflag,
      |  QUANTILE_CONT(l_quantity, 0.5) AS median_qty,
      |  QUANTILE_CONT(l_quantity, 0.9) AS p90_qty,
      |  QUANTILE_CONT(l_extendedprice, 0.25) AS p25_price
      |FROM lineitem
      |GROUP BY l_returnflag
      |ORDER BY l_returnflag NULLS FIRST""".stripMargin

  /** Exact p25 of a near-unique column via range-bucketed pre-aggregation
    * — the candidate replacement for q35's plain-percentile branch. It
    * must stay bit-identical to the plain exact `percentile` (asserted in
    * SemanticsSpec); BASELINE.md records the timing. Shape:
    * (1) per-group (min, max, count) — tiny; (2) histogram count per
    * (group, range-bin) — a codegen'd
    * hash aggregate whose shuffle carries ≤ [[P25Bins]] rows per group
    * instead of a per-group value buffer; (3) locate the two bins
    * straddling the p25 order statistics from the cumulative histogram;
    * (4) re-scan only rows in those bins (≈ n/bins rows) and pick the
    * exact order statistics by row_number; (5) interpolate with exactly
    * Spark's `Percentile` formula `(hi - pos) * vlo + (pos - lo) * vhi`
    * so the result is bit-identical to the plain exact percentile (and
    * to the DuckDB oracle). Three pruned 2-column scans and bounded
    * state replace the single scan with an unbounded per-group
    * value->count buffer. */
  val P25Bins = 10000

  /** Generalized multi-percentile form of the bucketed algorithm above:
    * one histogram pass serves ANY list of percentiles over the same
    * (group, value) pair — the targets table just carries every wanted
    * order statistic. Returns (groupCol, <name per requested p>). This is
    * the q18 implementation (bounded state, oracle-certified) and the
    * engine behind [[p25PriceBucketedOf]]. */
  def bucketedPercentilesOf(
      df: DataFrame, groupCol: String, valueCol: String,
      ps: Seq[(String, Double)]): DataFrame = {
    val rows = df.select(col(groupCol).as("gk"), col(valueCol).as("v"))
      .filter(col("v").isNotNull)
    val base = rows.groupBy(col("gk"))
      .agg(min(col("v")).as("vmin"), max(col("v")).as("vmax"),
           count(lit(1)).as("n"))
      .withColumn("width", (col("vmax") - col("vmin")) / lit(P25Bins.toDouble))
    val stats = ps.zipWithIndex.foldLeft(base) { case (acc, ((_, p), i)) =>
      acc.withColumn(s"pos_$i", (col("n") - 1).cast(DoubleType) * lit(p))
        .withColumn(s"lo_$i", floor(col(s"pos_$i")).cast(LongType))
        .withColumn(s"hi_$i", ceil(col(s"pos_$i")).cast(LongType))
    }
    // group keys may be NULL: every stats join below is null-safe (<=>)
    // on a renamed key, mirroring the q26/q35 branch-join contract
    val statsB = broadcast(stats.withColumnRenamed("gk", "g"))
    def binOf(v: Column): Column =
      when(col("width") === 0d, lit(0L))
        .otherwise(least(floor((v - col("vmin")) / col("width")).cast(LongType),
                         lit(P25Bins - 1L)))
    val withBin = rows
      .join(statsB.select(col("g"), col("vmin"), col("width")),
            col("gk") <=> col("g"))
      .select(col("gk"), col("v"), binOf(col("v")).as("bin"))
    val hist = withBin.groupBy(col("gk"), col("bin"))
      .agg(count(lit(1)).as("c"))
    val wcum = Window.partitionBy(col("gk")).orderBy(col("bin"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val cum = hist.withColumn("cum_before", coalesce(sum(col("c")).over(wcum), lit(0L)))
    // one target row per wanted order statistic (each p needs two)
    val targets = stats.select(col("gk").as("g"),
        explode(array(ps.indices.flatMap(i =>
          Seq(col(s"lo_$i"), col(s"hi_$i"))): _*)).as("t"))
      .distinct()
    val cand = cum.join(broadcast(targets),
        col("gk") <=> col("g") &&
        col("t") >= col("cum_before") && col("t") < col("cum_before") + col("c"))
      .select(col("g"), col("t"), col("bin").as("cbin"), col("cum_before"))
    // refine: only rows in a straddling bin are ever sorted, and the
    // window partitions are (group, target) — ~n/bins rows each
    val wrank = Window.partitionBy(col("g"), col("t")).orderBy(col("v"))
    val picked = withBin.join(broadcast(cand),
        col("gk") <=> col("g") && col("bin") === col("cbin"))
      .withColumn("rn", row_number().over(wrank).cast(LongType) - 1L)
      .filter(col("rn") === col("t") - col("cum_before"))
      .select(col("g"), col("t"), col("v"))
    val perP = ps.indices.flatMap { i => Seq(
      min(when(col("t") === col(s"lo_$i"), col("v"))).as(s"vlo_$i"),
      min(when(col("t") === col(s"hi_$i"), col("v"))).as(s"vhi_$i"),
      first(col(s"pos_$i")).as(s"fpos_$i"),
      first(col(s"lo_$i")).as(s"flo_$i"),
      first(col(s"hi_$i")).as(s"fhi_$i")) }
    val out = picked.join(
        statsB.select(col("g").as("g2") +: ps.indices.flatMap(i =>
          Seq(col(s"pos_$i"), col(s"lo_$i"), col(s"hi_$i"))): _*),
        col("g") <=> col("g2"))
      .groupBy(col("g"))
      .agg(perP.head, perP.tail: _*)
      .select(col("g") +: ps.zipWithIndex.map { case ((name, _), i) =>
        when(col(s"flo_$i") === col(s"fhi_$i"), col(s"vlo_$i"))
          .otherwise((col(s"fhi_$i") - col(s"fpos_$i")) * col(s"vlo_$i") +
                     (col(s"fpos_$i") - col(s"flo_$i")) * col(s"vhi_$i")).as(name)
      }: _*)
    // a group whose values are ALL null has no stats row, but the plain
    // percentile still emits it (with NULL stats) — preserve such groups
    // with a left join from the full group universe
    df.select(col(groupCol)).distinct()
      .join(out, col(groupCol) <=> col("g"), "left")
      .select(col(groupCol) +: ps.map { case (name, _) => col(name) }: _*)
  }

  def p25PriceBucketedOf(li: DataFrame): DataFrame =
    bucketedPercentilesOf(li, "l_returnflag", "l_extendedprice",
      Seq(("p25_price", 0.25)))

  /** q18: the bounded-state percentile — [[bucketedPercentilesOf]] over
    * the same three statistics as q35. Unlike the Greenwald-Khanna
    * sketch ([[approxQuantityPercentiles]], which stays in the library
    * as the one-pass alternative), the bucketed form is EXACT — bit-
    * identical to the plain percentile (SemanticsSpec pins it), so the
    * plain QUANTILE_CONT oracle certifies it hash-green — while keeping
    * the 100 TB property the plain form lacks: per-group state is ≤
    * [[P25Bins]] histogram rows, never a value buffer proportional to
    * the group. */
  def bucketedQuantityPercentiles(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(spark, dir)
    val qty = bucketedPercentilesOf(li, "l_returnflag", "l_quantity",
      Seq(("median_qty", 0.5), ("p90_qty", 0.9)))
    val price = bucketedPercentilesOf(li, "l_returnflag", "l_extendedprice",
      Seq(("p25_price", 0.25)))
    qty.join(price, qty("l_returnflag") <=> price("l_returnflag"))
      .select(qty("l_returnflag"), col("median_qty"), col("p90_qty"), col("p25_price"))
      .orderBy(qty("l_returnflag"))
  }

  /** Sketch-based twin of [[quantityPercentiles]] / the bucketed q18.
    * `approx_percentile` (Greenwald-Khanna) is a bounded-memory,
    * map-side-combinable sketch: one pass, no per-group sort, mergeable
    * partials. Sketch internals are engine-specific (not oracle-
    * replayable), so q18 ships the bucketed exact form instead; this
    * stays as the one-pass library alternative, error-bounded against
    * the exact percentile in the suite. */
  def approxQuantityPercentiles(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(spark, dir)
    li.groupBy(col("l_returnflag"))
      .agg(
        expr("approx_percentile(l_quantity, 0.5, 10000)").as("median_qty"),
        expr("approx_percentile(l_quantity, 0.9, 10000)").as("p90_qty"),
        expr("approx_percentile(l_extendedprice, 0.25, 10000)").as("p25_price"))
      .orderBy(col("l_returnflag"))
  }

  /** Correlation / covariance (second-moment statistics): accumulation
    * order differs per engine, so surface rounded values. */
  def priceCorrelations(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(spark, dir)
    li.groupBy(col("l_linestatus"))
      .agg(
        round(corr(col("l_quantity"), col("l_extendedprice")), 6).as("corr_qty_price"),
        round(covar_samp(col("l_discount"), col("l_tax")), 8).as("covar_disc_tax"),
        round(stddev_samp(col("l_extendedprice")), 4).as("stddev_price"))
      .orderBy(col("l_linestatus"))
  }

  private val priceCorrelationsSql =
    """SELECT l_linestatus,
      |  ROUND(CORR(l_quantity, l_extendedprice), 6) AS corr_qty_price,
      |  ROUND(COVAR_SAMP(l_discount, l_tax), 8) AS covar_disc_tax,
      |  ROUND(STDDEV_SAMP(l_extendedprice), 4) AS stddev_price
      |FROM lineitem
      |GROUP BY l_linestatus
      |ORDER BY l_linestatus NULLS FIRST""".stripMargin

  /** Pivot: order counts per status × priority as a wide table (the
    * reshape operator; oracle mirrors with conditional aggregation). */
  def statusPriorityPivot(spark: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(spark, dir)
    o.groupBy(col("o_orderstatus"))
      .pivot("o_orderpriority",
        Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"))
      .agg(count(lit(1)))
      .na.fill(0L)
      .withColumnsRenamed(Map(
        "1-URGENT" -> "p1_urgent", "2-HIGH" -> "p2_high", "3-MEDIUM" -> "p3_medium",
        "4-NOT SPECIFIED" -> "p4_not_specified", "5-LOW" -> "p5_low"))
      .orderBy(col("o_orderstatus"))
  }

  private val statusPriorityPivotSql =
    """SELECT o_orderstatus,
      |  CAST(SUM(CASE WHEN o_orderpriority = '1-URGENT' THEN 1 ELSE 0 END) AS BIGINT) AS p1_urgent,
      |  CAST(SUM(CASE WHEN o_orderpriority = '2-HIGH' THEN 1 ELSE 0 END) AS BIGINT) AS p2_high,
      |  CAST(SUM(CASE WHEN o_orderpriority = '3-MEDIUM' THEN 1 ELSE 0 END) AS BIGINT) AS p3_medium,
      |  CAST(SUM(CASE WHEN o_orderpriority = '4-NOT SPECIFIED' THEN 1 ELSE 0 END) AS BIGINT) AS p4_not_specified,
      |  CAST(SUM(CASE WHEN o_orderpriority = '5-LOW' THEN 1 ELSE 0 END) AS BIGINT) AS p5_low
      |FROM orders
      |GROUP BY o_orderstatus
      |ORDER BY o_orderstatus NULLS FIRST""".stripMargin

  /** Scalar-subquery pattern: orders priced above the global average —
    * the aggregate is computed in-plan and broadcast, never collected. */
  def aboveAverageOrders(spark: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(spark, dir)
    val avgPrice = o.agg(exactAvg(money(col("o_totalprice"))).as("avg_price"))
    o.crossJoin(broadcast(avgPrice))
      .filter(col("o_totalprice") > col("avg_price"))
      .groupBy(col("o_orderstatus"))
      .agg(count(lit(1)).as("n_above_avg"),
           exactSum(money(col("o_totalprice"))).as("total_above_avg"))
      .orderBy(col("o_orderstatus"))
  }

  private val aboveAverageOrdersSql =
    """SELECT o_orderstatus, COUNT(*) AS n_above_avg,
      |  CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE) AS total_above_avg
      |FROM orders
      |WHERE o_totalprice > (
      |  SELECT CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE) / COUNT(*)
      |  FROM orders)
      |GROUP BY o_orderstatus
      |ORDER BY o_orderstatus NULLS FIRST""".stripMargin

  /** Rank-distribution window functions: ntile quartiles, percent_rank,
    * cume_dist — rational-arithmetic outputs, bit-stable across engines. */
  def orderValueDistribution(spark: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(spark, dir).filter(col("o_custkey") <= 100)
    val w = Window.partitionBy(col("o_orderstatus"))
      .orderBy(col("o_totalprice"), col("o_orderkey"))
    o.select(
        col("o_orderstatus"), col("o_orderkey"), col("o_totalprice"),
        ntile(4).over(w).as("quartile"),
        percent_rank().over(w).as("pct_rank"),
        cume_dist().over(w).as("cume"))
      .orderBy(col("o_orderstatus"), col("o_totalprice"), col("o_orderkey"))
  }

  private val orderValueDistributionSql =
    """SELECT o_orderstatus, o_orderkey, o_totalprice,
      |  CAST(NTILE(4) OVER w AS INT) AS quartile,
      |  PERCENT_RANK() OVER w AS pct_rank,
      |  CUME_DIST() OVER w AS cume
      |FROM orders
      |WHERE o_custkey <= 100
      |WINDOW w AS (PARTITION BY o_orderstatus
      |             ORDER BY o_totalprice NULLS FIRST, o_orderkey NULLS FIRST)
      |ORDER BY o_orderstatus NULLS FIRST, o_totalprice NULLS FIRST, o_orderkey NULLS FIRST""".stripMargin

  override def queries: Seq[GraftQuery] = Seq(
    GraftQuery("q20_topk_per_segment", topkPerSegment, Some(topkPerSegmentSql)),
    GraftQuery("q21_moving_avg", movingAvgOrderValue, Some(movingAvgOrderValueSql)),
    GraftQuery("q22_part_price_ranks", partPriceRanks, Some(partPriceRanksSql)),
    GraftQuery("q23_order_gaps", orderGaps, Some(orderGapsSql)),
    GraftQuery("q24_rollup_customer_value", rollupCustomerValue, Some(rollupCustomerValueSql)),
    GraftQuery("q25_cube_order_status", cubeOrderStatus, Some(cubeOrderStatusSql)),
    GraftQuery("q26_distinct_parts_per_nation", distinctPartsPerNation, Some(distinctPartsPerNationSql)),
    GraftQuery("q27_approx_distinct_parts", approxDistinctParts, Some(approxDistinctPartsSql)),
    GraftQuery("q28_string_functions", stringFunctions, Some(stringFunctionsSql)),
    GraftQuery("q29_orders_by_month", ordersByMonth, Some(ordersByMonthSql)),
    GraftQuery("q30_json_payload_stats", jsonPayloadStats, Some(jsonPayloadStatsSql)),
    GraftQuery("q31_conditional_agg", conditionalAgg, Some(conditionalAggSql)),
    GraftQuery("q32_first_last_order", firstLastOrder, Some(firstLastOrderSql)),
    GraftQuery("q33_grouping_sets", groupingSetsTotals, Some(groupingSetsTotalsSql)),
    GraftQuery("q34_map_functions", mapFunctions, Some(mapFunctionsSql)),
    GraftQuery("q18_approx_percentiles", bucketedQuantityPercentiles, Some(quantityPercentilesSql)),
    GraftQuery("q35_percentiles", quantityPercentiles, Some(quantityPercentilesSql)),
    GraftQuery("q36_correlations", priceCorrelations, Some(priceCorrelationsSql)),
    GraftQuery("q37_status_pivot", statusPriorityPivot, Some(statusPriorityPivotSql)),
    GraftQuery("q38_above_avg_orders", aboveAverageOrders, Some(aboveAverageOrdersSql)),
    GraftQuery("q39_value_distribution", orderValueDistribution, Some(orderValueDistributionSql)),
    GraftQuery("q143_group_topk", groupTopkOrders, Some(groupTopkOrdersSql)),
    GraftQuery("q147_group_topk_sql", groupTopkSql, Some(groupTopkOrdersSql)),
  )
}
