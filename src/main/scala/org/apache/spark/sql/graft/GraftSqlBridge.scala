package org.apache.spark.sql.graft

import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.classic.{Dataset => ClassicDataset, SparkSession => ClassicSparkSession}
import org.apache.spark.sql.execution.SparkStrategy
import org.apache.spark.sql.{DataFrame, SparkSession}

/** The one compilation unit that lives inside Spark's package namespace.
  *
  * Building a DataFrame from a hand-constructed logical plan goes through
  * `Dataset.ofRows`, and appending a planner strategy at runtime goes
  * through `SparkSession.experimental` — both scoped `private[sql]` /
  * classic-only; waiting for the listener bus to drain is
  * `private[spark]`. Everything else in graft stays outside Spark's
  * namespace; this bridge exists so exactly these calls can cross it
  * (the standard pattern for Catalyst extension libraries).
  */
object GraftSqlBridge {

  /** DataFrame over a custom logical plan (analyzer + optimizer + planner
    * run as for any query). */
  def ofRows(spark: SparkSession, plan: LogicalPlan): DataFrame =
    ClassicDataset.ofRows(spark.asInstanceOf[ClassicSparkSession], plan)

  /** Idempotently append a planner strategy to a live session — the
    * runtime-settable analog of `SparkSessionExtensions
    * .injectPlannerStrategy` for sessions graft didn't build (the
    * driver's own session, notebooks). Identity-checked so repeated
    * query runs don't stack duplicates. */
  def ensureStrategy(spark: SparkSession, strategy: SparkStrategy): Unit = {
    val exp = spark.asInstanceOf[ClassicSparkSession].experimental
    // read-modify-write on a plain var: serialize concurrent first-use
    // (two queries racing ensureRegistered would lose an append)
    exp.synchronized {
      if (!exp.extraStrategies.exists(_ eq strategy))
        exp.extraStrategies = exp.extraStrategies :+ strategy
    }
  }

  /** Same, for a logical optimizer rule (`experimental.extraOptimizations`
    * — runs after the built-in optimizer batches, which for the window
    * top-k rewrite also means after InferWindowGroupLimit). */
  def ensureOptimizerRule(
      spark: SparkSession,
      rule: org.apache.spark.sql.catalyst.rules.Rule[
        org.apache.spark.sql.catalyst.plans.logical.LogicalPlan]): Unit = {
    val exp = spark.asInstanceOf[ClassicSparkSession].experimental
    exp.synchronized {
      if (!exp.extraOptimizations.exists(_ eq rule))
        exp.extraOptimizations = exp.extraOptimizations :+ rule
    }
  }

  /** Block until every listener has seen every event posted so far:
    * listener events are delivered asynchronously, so a listener's totals
    * for a finished action are complete only after this. */
  def drainListenerBus(sc: org.apache.spark.SparkContext): Unit =
    sc.listenerBus.waitUntilEmpty(30000L)
}
