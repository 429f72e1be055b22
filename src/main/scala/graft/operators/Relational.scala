package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.{GraftQuery, QueryModule}
import graft.functions.Exact._
import graft.sources.Tables

/** Relational core: scan → filter/project → join (broadcast + shuffle,
  * all join types) → hash aggregate → sort/limit (SURVEY.md §2.1-2.5,
  * §2.7). These are the batch form of the reference's stateless
  * event-processing + enrichment patterns (kafka/README.md:325 map/filter,
  * :331-332 stream-table enrichment join, :352 co-partitioned joins).
  *
  * Scale posture: dimension tables (region/nation/supplier/part) are
  * broadcast — no shuffle of the fact side on those keys; fact⋈fact joins
  * (lineitem⋈orders) shuffle on the join key once and Catalyst reuses the
  * exchange. Filters sit directly on scans so they push into parquet.
  */
object Relational extends QueryModule {

  /** Q1-style pricing summary: wide hash aggregate with partial/final
    * combine; exercises A1/A3-A5 aggregates on exact decimals. */
  def pricingSummary(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(spark, dir)
    li.filter(col("l_shipdate") <= lit("1998-09-02").cast("timestamp"))
      .groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(
        exactSum(money(col("l_quantity"))).as("sum_qty"),
        exactSum(money(col("l_extendedprice"))).as("sum_base_price"),
        exactSum(money(col("l_extendedprice")) * oneMinus(col("l_discount"))).as("sum_disc_price"),
        exactSum(money(col("l_extendedprice")) * oneMinus(col("l_discount")) * onePlus(col("l_tax"))).as("sum_charge"),
        exactAvg(money(col("l_quantity"))).as("avg_qty"),
        exactAvg(money(col("l_extendedprice"))).as("avg_price"),
        count(lit(1)).as("count_order"))
      .orderBy(col("l_returnflag"), col("l_linestatus"))
  }

  private val pricingSummarySql =
    """SELECT l_returnflag, l_linestatus,
      |  CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS sum_qty,
      |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) AS sum_base_price,
      |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2)) * CAST(1 - l_discount AS DECIMAL(4,2))) AS DOUBLE) AS sum_disc_price,
      |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2)) * CAST(1 - l_discount AS DECIMAL(4,2)) * CAST(1 + l_tax AS DECIMAL(4,2))) AS DOUBLE) AS sum_charge,
      |  CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) / COUNT(*) AS avg_qty,
      |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) / COUNT(*) AS avg_price,
      |  COUNT(*) AS count_order
      |FROM lineitem
      |WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
      |GROUP BY l_returnflag, l_linestatus
      |ORDER BY l_returnflag NULLS FIRST, l_linestatus NULLS FIRST""".stripMargin

  /** Q5-style revenue per nation (the flagship / SparkEntry.entry):
    * region⋈nation broadcast onto customer⋈orders⋈lineitem. */
  def revenueByNation(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(spark, dir)
    val o = Tables.orders(spark, dir)
      .filter(col("o_orderdate") >= lit("1996-01-01").cast("timestamp") &&
              col("o_orderdate") <  lit("1998-01-01").cast("timestamp"))
    val c = Tables.customer(spark, dir)
    val n = Tables.nation(spark, dir)
    val r = Tables.region(spark, dir).filter(col("r_name") === "ASIA")
    li.join(o, col("l_orderkey") === col("o_orderkey"))
      .join(c, col("o_custkey") === col("c_custkey"))
      .join(broadcast(n), col("c_nationkey") === col("n_nationkey"))
      .join(broadcast(r), col("n_regionkey") === col("r_regionkey"))
      .groupBy(col("n_name"))
      .agg(exactSum(revenue(col("l_extendedprice"), col("l_discount"))).as("revenue"))
      .orderBy(col("revenue").desc, col("n_name"))
  }

  private val revenueByNationSql =
    """SELECT n_name,
      |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2)) * CAST(1 - l_discount AS DECIMAL(4,2))) AS DOUBLE) AS revenue
      |FROM lineitem
      |JOIN orders ON l_orderkey = o_orderkey
      |JOIN customer ON o_custkey = c_custkey
      |JOIN nation ON c_nationkey = n_nationkey
      |JOIN region ON n_regionkey = r_regionkey
      |WHERE r_name = 'ASIA'
      |  AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
      |  AND o_orderdate <  TIMESTAMP '1998-01-01 00:00:00'
      |GROUP BY n_name
      |ORDER BY revenue DESC NULLS LAST, n_name NULLS FIRST""".stripMargin

  /** Q3-style top-10 revenue orders for one segment (shuffle join +
    * TakeOrderedAndProject: top-k never globally sorts the fact table). */
  def topOrders(spark: SparkSession, dir: String): DataFrame = {
    val c = Tables.customer(spark, dir).filter(col("c_mktsegment") === "BUILDING")
    val o = Tables.orders(spark, dir)
    val li = Tables.lineitem(spark, dir)
    li.join(o, col("l_orderkey") === col("o_orderkey"))
      .join(c, col("o_custkey") === col("c_custkey"))
      .groupBy(col("o_orderkey"), col("o_orderdate"), col("o_orderpriority"))
      .agg(exactSum(revenue(col("l_extendedprice"), col("l_discount"))).as("revenue"))
      .orderBy(col("revenue").desc, col("o_orderkey"))
      .limit(10)
  }

  private val topOrdersSql =
    """SELECT o_orderkey, o_orderdate, o_orderpriority,
      |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2)) * CAST(1 - l_discount AS DECIMAL(4,2))) AS DOUBLE) AS revenue
      |FROM lineitem
      |JOIN orders ON l_orderkey = o_orderkey
      |JOIN customer ON o_custkey = c_custkey
      |WHERE c_mktsegment = 'BUILDING'
      |GROUP BY o_orderkey, o_orderdate, o_orderpriority
      |ORDER BY revenue DESC NULLS LAST, o_orderkey NULLS FIRST
      |LIMIT 10""".stripMargin

  /** Q4-style: priority counts over orders that have ≥1 returned line —
    * EXISTS as a left-semi join (never a row-multiplying inner join). */
  def orderPriorityCounts(spark: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(spark, dir)
    val returned = Tables.lineitem(spark, dir).filter(col("l_returnflag") === "R")
    o.join(returned, col("o_orderkey") === col("l_orderkey"), "left_semi")
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("order_count"))
      .orderBy(col("o_orderpriority"))
  }

  private val orderPriorityCountsSql =
    """SELECT o_orderpriority, COUNT(*) AS order_count
      |FROM orders
      |WHERE EXISTS (SELECT 1 FROM lineitem
      |              WHERE l_orderkey = o_orderkey AND l_returnflag = 'R')
      |GROUP BY o_orderpriority
      |ORDER BY o_orderpriority NULLS FIRST""".stripMargin

  /** Plain filter + project + per-row computed column (map/filter,
    * flink/README.md:21-23): everything pushes into the parquet scan. */
  def filterProject(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(spark, dir)
    li.filter(col("l_quantity") >= 45 &&
              col("l_discount") >= 0.05 &&
              col("l_returnflag") === "A")
      .select(
        col("l_orderkey"), col("l_linenumber"), col("l_quantity"),
        col("l_extendedprice"), col("l_discount"),
        (col("l_extendedprice") * (lit(1.0) - col("l_discount"))).as("disc_price"))
      .orderBy(col("l_orderkey"), col("l_linenumber"))
  }

  private val filterProjectSql =
    """SELECT l_orderkey, l_linenumber, l_quantity, l_extendedprice, l_discount,
      |  l_extendedprice * (1 - l_discount) AS disc_price
      |FROM lineitem
      |WHERE l_quantity >= 45 AND l_discount >= 0.05 AND l_returnflag = 'A'
      |ORDER BY l_orderkey NULLS FIRST, l_linenumber NULLS FIRST""".stripMargin

  /** Q6-style single-row global aggregate (partial agg does nearly all
    * the work map-side; one row crosses the exchange). */
  def forecastRevenue(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(spark, dir)
    li.filter(col("l_shipdate") >= lit("1997-01-01").cast("timestamp") &&
              col("l_shipdate") <  lit("1998-01-01").cast("timestamp") &&
              col("l_discount") >= 0.03 && col("l_discount") <= 0.07 &&
              col("l_quantity") < 24)
      .agg(exactSum(money(col("l_extendedprice")) * money(col("l_discount"))).as("promo_revenue"))
  }

  private val forecastRevenueSql =
    """SELECT CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2)) * CAST(l_discount AS DECIMAL(12,2))) AS DOUBLE) AS promo_revenue
      |FROM lineitem
      |WHERE l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
      |  AND l_shipdate <  TIMESTAMP '1998-01-01 00:00:00'
      |  AND l_discount >= 0.03 AND l_discount <= 0.07
      |  AND l_quantity < 24""".stripMargin

  /** Broadcast-enrichment join (the stream-table pattern,
    * kafka/README.md:331-332, batch form): orders enriched with the
    * customer dimension, aggregated per market segment. */
  def segmentStats(spark: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(spark, dir)
    val c = Tables.customer(spark, dir)
    o.join(broadcast(c), col("o_custkey") === col("c_custkey"))
      .groupBy(col("c_mktsegment"))
      .agg(
        count(lit(1)).as("n_orders"),
        exactSum(money(col("o_totalprice"))).as("total_price"),
        countDistinct(col("o_custkey")).as("n_customers"))
      .orderBy(col("c_mktsegment"))
  }

  private val segmentStatsSql =
    """SELECT c_mktsegment, COUNT(*) AS n_orders,
      |  CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE) AS total_price,
      |  COUNT(DISTINCT o_custkey) AS n_customers
      |FROM orders JOIN customer ON o_custkey = c_custkey
      |GROUP BY c_mktsegment
      |ORDER BY c_mktsegment NULLS FIRST""".stripMargin

  /** Left outer join keeping order-less customers (count(col) skips the
    * nulls the outer side introduces). */
  def customerOrderCounts(spark: SparkSession, dir: String): DataFrame = {
    val c = Tables.customer(spark, dir)
    val o = Tables.orders(spark, dir)
    c.join(o, col("c_custkey") === col("o_custkey"), "left")
      .groupBy(col("c_custkey"))
      .agg(count(col("o_orderkey")).as("n_orders"))
      .orderBy(col("c_custkey"))
  }

  private val customerOrderCountsSql =
    """SELECT c_custkey, COUNT(o_orderkey) AS n_orders
      |FROM customer LEFT JOIN orders ON c_custkey = o_custkey
      |GROUP BY c_custkey
      |ORDER BY c_custkey NULLS FIRST""".stripMargin

  /** Left-semi join: customers having ≥1 finished order. */
  def semiJoin(spark: SparkSession, dir: String): DataFrame = {
    val c = Tables.customer(spark, dir)
    val o = Tables.orders(spark, dir).filter(col("o_orderstatus") === "F")
    c.join(o, col("c_custkey") === col("o_custkey"), "left_semi")
      .select(col("c_custkey"), col("c_name"), col("c_mktsegment"))
      .orderBy(col("c_custkey"))
  }

  private val semiJoinSql =
    """SELECT c_custkey, c_name, c_mktsegment
      |FROM customer
      |WHERE EXISTS (SELECT 1 FROM orders
      |              WHERE o_custkey = c_custkey AND o_orderstatus = 'F')
      |ORDER BY c_custkey NULLS FIRST""".stripMargin

  /** Left-anti join: customers with no order since 2001 (NOT EXISTS). */
  def antiJoin(spark: SparkSession, dir: String): DataFrame = {
    val c = Tables.customer(spark, dir)
    val o = Tables.orders(spark, dir)
      .filter(col("o_orderdate") >= lit("2001-01-01").cast("timestamp"))
    c.join(o, col("c_custkey") === col("o_custkey"), "left_anti")
      .select(col("c_custkey"), col("c_name"), col("c_nationkey"))
      .orderBy(col("c_custkey"))
  }

  private val antiJoinSql =
    """SELECT c_custkey, c_name, c_nationkey
      |FROM customer
      |WHERE NOT EXISTS (SELECT 1 FROM orders
      |                  WHERE o_custkey = c_custkey
      |                    AND o_orderdate >= TIMESTAMP '2001-01-01 00:00:00')
      |ORDER BY c_custkey NULLS FIRST""".stripMargin

  /** Full outer join of two independent aggregates (customers vs
    * suppliers per nation — nations can be missing on either side). */
  def fullOuterNationActivity(spark: SparkSession, dir: String): DataFrame = {
    val c = Tables.customer(spark, dir)
      .groupBy(col("c_nationkey")).agg(count(lit(1)).as("n_customers"))
    val s = Tables.supplier(spark, dir)
      .groupBy(col("s_nationkey")).agg(count(lit(1)).as("n_suppliers"))
    c.join(s, col("c_nationkey") === col("s_nationkey"), "full_outer")
      .select(
        coalesce(col("c_nationkey"), col("s_nationkey")).as("nationkey"),
        coalesce(col("n_customers"), lit(0L)).as("n_customers"),
        coalesce(col("n_suppliers"), lit(0L)).as("n_suppliers"))
      .orderBy(col("nationkey"))
  }

  private val fullOuterNationActivitySql =
    """SELECT COALESCE(c.k, s.k) AS nationkey,
      |  COALESCE(c.n_customers, 0) AS n_customers,
      |  COALESCE(s.n_suppliers, 0) AS n_suppliers
      |FROM (SELECT c_nationkey AS k, COUNT(*) AS n_customers FROM customer GROUP BY 1) c
      |FULL JOIN (SELECT s_nationkey AS k, COUNT(*) AS n_suppliers FROM supplier GROUP BY 1) s
      |  ON c.k = s.k
      |ORDER BY nationkey NULLS FIRST""".stripMargin

  /** Multi-way star join with two fact-side shuffles plus three broadcast
    * dims: revenue per (region, part brand) slice. */
  def starSchemaSlice(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(spark, dir)
    val p = Tables.part(spark, dir).filter(col("p_size") <= 10)
    val s = Tables.supplier(spark, dir)
    val n = Tables.nation(spark, dir)
    val r = Tables.region(spark, dir)
    li.join(broadcast(p), col("l_partkey") === col("p_partkey"))
      .join(broadcast(s), col("l_suppkey") === col("s_suppkey"))
      .join(broadcast(n), col("s_nationkey") === col("n_nationkey"))
      .join(broadcast(r), col("n_regionkey") === col("r_regionkey"))
      .groupBy(col("r_name"), col("p_brand"))
      .agg(
        exactSum(revenue(col("l_extendedprice"), col("l_discount"))).as("revenue"),
        count(lit(1)).as("n_lines"))
      .orderBy(col("r_name"), col("p_brand"))
  }

  private val starSchemaSliceSql =
    """SELECT r_name, p_brand,
      |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2)) * CAST(1 - l_discount AS DECIMAL(4,2))) AS DOUBLE) AS revenue,
      |  COUNT(*) AS n_lines
      |FROM lineitem
      |JOIN part ON l_partkey = p_partkey
      |JOIN supplier ON l_suppkey = s_suppkey
      |JOIN nation ON s_nationkey = n_nationkey
      |JOIN region ON n_regionkey = r_regionkey
      |WHERE p_size <= 10
      |GROUP BY r_name, p_brand
      |ORDER BY r_name NULLS FIRST, p_brand NULLS FIRST""".stripMargin

  /** Union + except: customers active in 1996 but not 1997 (set ops,
    * SURVEY.md §2.8 — the reprocessing version-compare pattern,
    * kafka/README.md:336). */
  def churnedCustomers(spark: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(spark, dir)
    def activeIn(year: Int) =
      o.filter(col("o_orderdate") >= lit(s"$year-01-01").cast("timestamp") &&
               col("o_orderdate") < lit(s"${year + 1}-01-01").cast("timestamp"))
        .select(col("o_custkey"))
    activeIn(1996).except(activeIn(1997))
      .orderBy(col("o_custkey"))
  }

  private val churnedCustomersSql =
    """SELECT o_custkey
      |FROM orders
      |WHERE o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
      |  AND o_orderdate <  TIMESTAMP '1997-01-01 00:00:00'
      |EXCEPT
      |SELECT o_custkey
      |FROM orders
      |WHERE o_orderdate >= TIMESTAMP '1997-01-01 00:00:00'
      |  AND o_orderdate <  TIMESTAMP '1998-01-01 00:00:00'
      |ORDER BY o_custkey NULLS FIRST""".stripMargin

  /** Intersect: customer keys appearing in both halves of the date range. */
  def retainedCustomers(spark: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(spark, dir)
    val first = o.filter(col("o_orderdate") < lit("1998-01-01").cast("timestamp"))
      .select(col("o_custkey"))
    val second = o.filter(col("o_orderdate") >= lit("1998-01-01").cast("timestamp"))
      .select(col("o_custkey"))
    first.intersect(second).orderBy(col("o_custkey"))
  }

  private val retainedCustomersSql =
    """SELECT o_custkey FROM orders WHERE o_orderdate < TIMESTAMP '1998-01-01 00:00:00'
      |INTERSECT
      |SELECT o_custkey FROM orders WHERE o_orderdate >= TIMESTAMP '1998-01-01 00:00:00'
      |ORDER BY o_custkey NULLS FIRST""".stripMargin

  /** The SQL entry path (ksqlDB-style declared SQL, kafka/README.md:
    * 299-303, batch form): tables registered as views, the query itself
    * written in SQL and planned by the same Catalyst pipeline as the
    * DataFrame API. The DuckDB oracle is literally the same statement
    * modulo view names. */
  def sqlEntry(spark: SparkSession, dir: String): DataFrame = {
    Tables.orders(spark, dir).createOrReplaceTempView("orders_v")
    Tables.customer(spark, dir).createOrReplaceTempView("customer_v")
    spark.sql(
      """SELECT c_nationkey, COUNT(*) AS n_orders,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE) AS total_price
        |FROM orders_v JOIN customer_v ON o_custkey = c_custkey
        |WHERE o_orderstatus = 'O'
        |GROUP BY c_nationkey
        |ORDER BY c_nationkey""".stripMargin)
  }

  private val sqlEntrySql =
    """SELECT c_nationkey, COUNT(*) AS n_orders,
      |  CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE) AS total_price
      |FROM orders JOIN customer ON o_custkey = c_custkey
      |WHERE o_orderstatus = 'O'
      |GROUP BY c_nationkey
      |ORDER BY c_nationkey NULLS FIRST""".stripMargin

  /** Correlated EXISTS + NOT EXISTS through the declared-SQL surface
    * (§2.10 subqueries beyond q38's scalar and q17's correlated-average
    * forms): customers active in 1995 who placed no order in 1997.
    * Catalyst's RewritePredicateSubquery decorrelates both predicates into
    * a left-semi and a left-anti hash join on c_custkey — the scale shape
    * is two keyed joins, never a per-row subquery execution. */
  def existsChurn(spark: SparkSession, dir: String): DataFrame = {
    Tables.orders(spark, dir).createOrReplaceTempView("orders_v")
    Tables.customer(spark, dir).createOrReplaceTempView("customer_v")
    spark.sql(
      """SELECT c_custkey, c_mktsegment
        |FROM customer_v c
        |WHERE EXISTS (SELECT 1 FROM orders_v o
        |              WHERE o.o_custkey = c.c_custkey
        |                AND YEAR(o.o_orderdate) = 1995)
        |  AND NOT EXISTS (SELECT 1 FROM orders_v o
        |                  WHERE o.o_custkey = c.c_custkey
        |                    AND YEAR(o.o_orderdate) = 1997)
        |ORDER BY c_custkey""".stripMargin)
  }

  private val existsChurnSql =
    """SELECT c_custkey, c_mktsegment
      |FROM customer c
      |WHERE EXISTS (SELECT 1 FROM orders o
      |              WHERE o.o_custkey = c.c_custkey
      |                AND EXTRACT(YEAR FROM o.o_orderdate) = 1995)
      |  AND NOT EXISTS (SELECT 1 FROM orders o
      |                  WHERE o.o_custkey = c.c_custkey
      |                    AND EXTRACT(YEAR FROM o.o_orderdate) = 1997)
      |ORDER BY c_custkey NULLS FIRST""".stripMargin

  /** Bloom-filter semi-join reduction (q131): Spark's runtime-filter
    * primitives driven explicitly. The build side aggregates the
    * filtered dimension's keys into ONE Bloom filter
    * ([[org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate]],
    * distributed + map-side merged, landing as a scalar-subquery result);
    * the fact side then filters `graft_might_contain(bloom, key)` BEFORE
    * its shuffle, and an exact IN semi-join finishes the query — so
    * Bloom false positives cannot reach the result and the oracle is the
    * plain semi-join SQL.
    *
    * This is the 100 TB shuffle killer for selective dim filters: when
    * the dim is too big to broadcast, a plain semi-join shuffles the
    * ENTIRE fact table; the ~120 KB filter ships to every task and
    * drops non-qualifying fact rows at the scan, so the exchange
    * carries only nearly-qualifying rows. Spark's AQE-injected runtime
    * filter does this opportunistically behind thresholds; q131 pins
    * the shape deterministically (PlanSpec asserts the prune sits below
    * the join). */
  def bloomJoinPrune(spark: SparkSession, dir: String): DataFrame = {
    graft.functions.GraftFunctions.ensureRegistered(spark)
    Tables.orders(spark, dir).createOrReplaceTempView("g131_orders")
    Tables.customer(spark, dir).createOrReplaceTempView("g131_customer")
    spark.sql(
      """WITH bld AS (SELECT c_custkey FROM g131_customer
        |             WHERE c_mktsegment = 'BUILDING')
        |SELECT o_orderpriority, COUNT(*) AS n_orders,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE)
        |    AS total_value
        |FROM g131_orders o
        |WHERE graft_might_contain((SELECT graft_bloom_agg(c_custkey) FROM bld),
        |                          o.o_custkey)
        |  AND o.o_custkey IN (SELECT c_custkey FROM bld)
        |GROUP BY o_orderpriority
        |ORDER BY o_orderpriority""".stripMargin)
  }

  private val bloomJoinPruneSql =
    """SELECT o_orderpriority, COUNT(*) AS n_orders,
      |  CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE)
      |    AS total_value
      |FROM orders
      |WHERE o_custkey IN (SELECT c_custkey FROM customer
      |                    WHERE c_mktsegment = 'BUILDING')
      |GROUP BY o_orderpriority
      |ORDER BY o_orderpriority NULLS FIRST""".stripMargin

  /** Custom typed Aggregator registered as a UDAF (§2.11 A2 — the Flink
    * AggregateFunction analog) driving a DataFrame aggregation: one pass
    * computes count/mean/variance/min/max per group (Chan/Welford merge,
    * distribution-safe). Mean/variance accumulate in floating point, so
    * the surfaced values are rounded for the cross-engine compare. */
  def statsSummary(spark: SparkSession, dir: String): DataFrame = {
    val statsUdaf = udaf(graft.functions.StatsAggregator)
    val o = Tables.orders(spark, dir)
    o.groupBy(col("o_orderstatus"))
      .agg(statsUdaf(col("o_totalprice")).as("s"))
      .select(
        col("o_orderstatus"),
        col("s.n").as("n"),
        round(col("s.mean"), 4).as("mean_price"),
        round(col("s.variance"), 2).as("var_price"),
        col("s.min").as("min_price"),
        col("s.max").as("max_price"))
      .orderBy(col("o_orderstatus"))
  }

  private val statsSummarySql =
    """SELECT o_orderstatus, COUNT(*) AS n,
      |  ROUND(AVG(o_totalprice), 4) AS mean_price,
      |  ROUND(VAR_SAMP(o_totalprice), 2) AS var_price,
      |  MIN(o_totalprice) AS min_price,
      |  MAX(o_totalprice) AS max_price
      |FROM orders
      |GROUP BY o_orderstatus
      |ORDER BY o_orderstatus NULLS FIRST""".stripMargin

  /** TPC-H Q17-style correlated scalar subquery: revenue that would move
    * to small-quantity handling for one brand's parts, where "small" is
    * 0.2 × that part's own average quantity. Written as SQL so Catalyst's
    * subquery decorrelation is exercised end to end — the optimizer
    * rewrites the per-row correlated aggregate into one per-partkey
    * aggregate joined back (visible in the plan as an Aggregate + Join,
    * never a per-row re-scan), which is the only shape that survives at
    * 100 TB. Threshold arithmetic is integer-sum / count (l_quantity is
    * integer-valued), so the comparison is deterministic cross-engine. */
  def smallQuantityRevenue(spark: SparkSession, dir: String): DataFrame = {
    Tables.lineitem(spark, dir).createOrReplaceTempView("g17_lineitem")
    Tables.part(spark, dir).createOrReplaceTempView("g17_part")
    spark.sql(
      """SELECT CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) / 7.0
        |         AS DOUBLE) AS avg_yearly
        |FROM g17_lineitem JOIN g17_part ON p_partkey = l_partkey
        |WHERE p_brand = 'Brand#23'
        |  AND l_quantity < (
        |    SELECT 0.2 * (CAST(SUM(CAST(l2.l_quantity AS BIGINT)) AS DOUBLE) / COUNT(*))
        |    FROM g17_lineitem l2 WHERE l2.l_partkey = g17_part.p_partkey)""".stripMargin)
  }

  private val smallQuantityRevenueSql =
    """SELECT CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) / 7.0
      |         AS DOUBLE) AS avg_yearly
      |FROM lineitem JOIN part ON p_partkey = l_partkey
      |WHERE p_brand = 'Brand#23'
      |  AND l_quantity < (
      |    SELECT 0.2 * (CAST(SUM(CAST(l2.l_quantity AS BIGINT)) AS DOUBLE) / COUNT(*))
      |    FROM lineitem l2 WHERE l2.l_partkey = part.p_partkey)""".stripMargin

  /** SCD2 (slowly-changing-dimension, type 2) enrichment: facts joined to
    * the dimension VERSION valid at fact time — the temporal-validity twin
    * of the stream-table enrich join (J1) and the classic warehouse shape
    * Spark has no dedicated operator for. The versioned dimension is
    * derived deterministically from `nation` (two tax-rate versions split
    * at 1998-01-01) so the oracle can rebuild it; the join is a broadcast
    * equi-join on the nation key with the validity range as a post-join
    * filter — at 100 TB the dimension's version history stays
    * dim-table-sized (versions × keys), so broadcast holds and the fact
    * table is never shuffled for it. Tax application happens once per
    * GROUP on the exact decimal sum (one well-defined double multiply),
    * not per row, keeping the output hash-stable. */
  def scd2Enrich(spark: SparkSession, dir: String): DataFrame = {
    val n = Tables.nation(spark, dir)
    def version(v: Int, centsOff: Int, from: String, to: String): DataFrame =
      n.select(col("n_nationkey"), col("n_name"),
        lit(v).as("version"),
        (col("n_nationkey") + lit(centsOff)).cast("int").as("rate_cents"),
        lit(from).cast("timestamp").as("valid_from"),
        lit(to).cast("timestamp").as("valid_to"))
    val dim = version(1, 5, "1995-01-01", "1998-01-01")
      .unionByName(version(2, 7, "1998-01-01", "2002-01-01"))
    val c = Tables.customer(spark, dir).select(col("c_custkey"), col("c_nationkey"))
    Tables.orders(spark, dir)
      .join(c, col("o_custkey") === col("c_custkey"))
      .join(broadcast(dim),
        col("c_nationkey") === col("n_nationkey") &&
          col("o_orderdate") >= col("valid_from") &&
          col("o_orderdate") < col("valid_to"))
      .groupBy(col("n_name"), col("version"), col("rate_cents"))
      .agg(count(lit(1)).as("n_orders"),
           exactSum(money(col("o_totalprice"))).as("base_revenue"))
      .select(col("n_name"), col("version"), col("rate_cents"), col("n_orders"),
        col("base_revenue"),
        (col("base_revenue") * col("rate_cents") / lit(100.0)).as("tax_revenue"))
      .orderBy(col("n_name"), col("version"))
  }

  private val scd2EnrichSql =
    """WITH dim AS (
      |  SELECT n_nationkey, n_name, 1 AS version, CAST(n_nationkey + 5 AS INT) AS rate_cents,
      |         TIMESTAMP '1995-01-01' AS valid_from, TIMESTAMP '1998-01-01' AS valid_to
      |  FROM nation
      |  UNION ALL
      |  SELECT n_nationkey, n_name, 2, CAST(n_nationkey + 7 AS INT),
      |         TIMESTAMP '1998-01-01', TIMESTAMP '2002-01-01'
      |  FROM nation)
      |SELECT n_name, version, rate_cents, COUNT(*) AS n_orders,
      |  CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE) AS base_revenue,
      |  CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE) * rate_cents / 100.0 AS tax_revenue
      |FROM orders
      |JOIN customer ON o_custkey = c_custkey
      |JOIN dim ON c_nationkey = n_nationkey
      |        AND o_orderdate >= valid_from AND o_orderdate < valid_to
      |GROUP BY n_name, version, rate_cents
      |ORDER BY n_name NULLS FIRST, version NULLS FIRST""".stripMargin

  /** S7 connector exercised through the correctness gate: orders written
    * to the graft-proto DataSource V2 format (varint-framed protobuf wire
    * records + schema sidecar, sources/ProtoFileSource.scala) and read
    * back through the connector's pruned scan into an aggregate the
    * oracle computes from the parquet table directly — the driver's
    * hash compare certifies the bytes round-tripped exactly. The staging
    * dir is PER-JVM (pid-suffixed) and rebuilt per run: the driver's
    * harness may run Verify and Bench concurrently in separate processes
    * (the ArtifactStore r9/r10 lesson), and a shared stage would race a
    * reader in one JVM against the delete in the other. It lives under
    * `java.io.tmpdir`, as `ArtifactStore.path` does. */
  def protoRoundtrip(spark: SparkSession, dir: String): DataFrame = {
    val tmp = System.getProperty("java.io.tmpdir", "/tmp").stripSuffix("/")
    val stage = new java.io.File(
      s"$tmp/graft-proto-stage-${dir.replaceAll("[^a-zA-Z0-9]", "_")}-" +
        ProcessHandle.current().pid())
    def rm(f: java.io.File): Unit = {
      if (f.isDirectory) f.listFiles().foreach(rm)
      f.delete()
    }
    if (stage.exists()) rm(stage)
    Tables.orders(spark, dir)
      .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"),
        col("o_orderstatus"))
      .write.mode("append").format("graft-proto").save(stage.toString)
    spark.read.format("graft-proto").load(stage.toString)
      .groupBy(col("o_orderstatus"))
      .agg(count(lit(1)).as("n_orders"),
           exactSum(money(col("o_totalprice"))).as("total_price"),
           countDistinct(col("o_custkey")).as("n_custs"))
      .orderBy(col("o_orderstatus"))
  }

  private val protoRoundtripSql =
    """SELECT o_orderstatus, COUNT(*) AS n_orders,
      |  CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE) AS total_price,
      |  COUNT(DISTINCT o_custkey) AS n_custs
      |FROM orders
      |GROUP BY 1 ORDER BY o_orderstatus NULLS FIRST""".stripMargin

  override def queries: Seq[GraftQuery] = Seq(
    GraftQuery("q01_pricing_summary", pricingSummary, Some(pricingSummarySql)),
    GraftQuery("q02_revenue_by_nation", revenueByNation, Some(revenueByNationSql)),
    GraftQuery("q03_top_orders", topOrders, Some(topOrdersSql)),
    GraftQuery("q04_order_priority", orderPriorityCounts, Some(orderPriorityCountsSql)),
    GraftQuery("q05_filter_project", filterProject, Some(filterProjectSql)),
    GraftQuery("q06_forecast_revenue", forecastRevenue, Some(forecastRevenueSql)),
    GraftQuery("q07_segment_stats", segmentStats, Some(segmentStatsSql)),
    GraftQuery("q08_customer_order_counts", customerOrderCounts, Some(customerOrderCountsSql)),
    GraftQuery("q09_semi_join", semiJoin, Some(semiJoinSql)),
    GraftQuery("q10_anti_join", antiJoin, Some(antiJoinSql)),
    GraftQuery("q11_full_outer_nation", fullOuterNationActivity, Some(fullOuterNationActivitySql)),
    GraftQuery("q12_star_slice", starSchemaSlice, Some(starSchemaSliceSql)),
    GraftQuery("q13_churned_customers", churnedCustomers, Some(churnedCustomersSql)),
    GraftQuery("q14_retained_customers", retainedCustomers, Some(retainedCustomersSql)),
    GraftQuery("q15_sql_entry", sqlEntry, Some(sqlEntrySql)),
    GraftQuery("q16_stats_summary", statsSummary, Some(statsSummarySql)),
    GraftQuery("q17_small_qty_revenue", smallQuantityRevenue, Some(smallQuantityRevenueSql)),
    GraftQuery("q19_exists_churn", existsChurn, Some(existsChurnSql)),
    GraftQuery("q131_bloom_join_prune", bloomJoinPrune, Some(bloomJoinPruneSql)),
    GraftQuery("q144_scd2_enrich", scd2Enrich, Some(scd2EnrichSql)),
    GraftQuery("q150_proto_roundtrip", protoRoundtrip, Some(protoRoundtripSql)),
  )
}
