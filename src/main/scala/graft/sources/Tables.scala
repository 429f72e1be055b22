package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Loaders for the driver fixture tables (FIXTURES.md).
  *
  * The reference models durable topics as replayable, table-like logs
  * (/root/reference/kafka/README.md:8-10 — a topic "就如关系数据库的 Table
  * 概念"); here every topic/table is a parquet-backed scan whose filters
  * and column pruning Catalyst pushes into the file reader (SURVEY.md
  * §2.1 S1/S2). No schema inference happens on the hot path: parquet
  * footers carry the schema (Schema-Registry analog, kafka/README.md:294).
  */
object Tables {

  private def read(spark: SparkSession, dir: String, name: String): DataFrame =
    spark.read.parquet(s"$dir/$name.parquet")

  def region(spark: SparkSession, dir: String): DataFrame   = read(spark, dir, "region")
  def nation(spark: SparkSession, dir: String): DataFrame   = read(spark, dir, "nation")
  def customer(spark: SparkSession, dir: String): DataFrame = read(spark, dir, "customer")
  def supplier(spark: SparkSession, dir: String): DataFrame = read(spark, dir, "supplier")
  def part(spark: SparkSession, dir: String): DataFrame     = read(spark, dir, "part")
  def orders(spark: SparkSession, dir: String): DataFrame   = read(spark, dir, "orders")
  def lineitem(spark: SparkSession, dir: String): DataFrame = read(spark, dir, "lineitem")
  def documents(spark: SparkSession, dir: String): DataFrame  = read(spark, dir, "documents")
  def embeddings(spark: SparkSession, dir: String): DataFrame = read(spark, dir, "embeddings")

  /** The event-log table (the Kafka-topic analog: `event_id` = offset,
    * `user_id` = key, `ts` = event time; kafka/README.md:10-23).
    *
    * The file stores `ts` as TIMESTAMP(NANOS); with
    * `spark.sql.legacy.parquet.nanosAsLong=true` Spark surfaces it as a
    * nanosecond LongType, which we truncate to microseconds — the same
    * truncation DuckDB applies reading the file, so oracle comparisons see
    * identical values.
    */
  def events(spark: SparkSession, dir: String): DataFrame = {
    val raw = read(spark, dir, "events")
    raw.schema("ts").dataType match {
      case LongType =>
        raw.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case _ => raw
    }
  }

  /** Any fixture table by file name, `events` through [[events]]. */
  def byName(spark: SparkSession, dir: String, name: String): DataFrame =
    if (name == "events") events(spark, dir) else read(spark, dir, name)
}
