package graft.plans

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Alias, Ascending, Attribute, Descending, EqualTo, Expression, LessThan, LessThanOrEqual, Literal, RowNumber, RowOrdering, SortOrder, UnsafeProjection, UnsafeRow, WindowExpression}
import org.apache.spark.sql.catalyst.plans.logical.{Filter, LogicalPlan, Project, UnaryNode, Window, WindowGroupLimit}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.types.IntegerType
import org.apache.spark.sql.catalyst.plans.physical.{ClusteredDistribution, Distribution, Partitioning, UnspecifiedDistribution}
import org.apache.spark.sql.execution.{SparkPlan, SparkStrategy, UnaryExecNode}
import org.apache.spark.sql.graft.GraftSqlBridge
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Per-key top-k as a whole-operator Catalyst extension — the (c) rung of
  * the custom-operator ladder (SURVEY.md §4): a logical node, a planner
  * strategy, and a partial/final physical pair registered through
  * `SparkSessionExtensions`.
  *
  * Honest positioning vs the built-in path: since 3.5 Spark already
  * rewrites `row_number() OVER (...) <= k` filters into
  * `Sort → WindowGroupLimit(Partial) → Exchange → Sort →
  * WindowGroupLimit(Final) → Window → Filter`, so the SHUFFLE VOLUME of
  * the window formulation is already reduced to ≤ k rows per key per
  * input partition, as this operator's is. What the window path still
  * pays, and this operator does not:
  *  - a full LOCAL SORT of every input partition before the partial
  *    limiter, and another sort of every post-shuffle partition before
  *    the final one — O(n log n) comparisons plus sort-spill I/O, where
  *    the bounded per-key heaps here are O(n log k) and never sort more
  *    than k rows per key;
  *  - the Window exec itself (rank computation over sorted runs) after
  *    the final sort.
  * At 100 TB those partition sorts are the dominant cost of per-key
  * top-k; heap admission is one comparison against the heap head per
  * row. Note the map-side reduction (both here and in WindowGroupLimit)
  * only bites when a partition holds >k rows of a key: high-cardinality
  * keys scattered across partitions reduce nothing on the map side —
  * the win there is confined to the sorts.
  *
  * Memory posture: the map side tracks at most
  * `spark.graft.topk.maxPartialKeys` distinct keys (k rows each); rows of
  * keys beyond that cap stream through to the exchange un-reduced —
  * exactness is unaffected, only the reduction ratio degrades, the same
  * graceful fallback partial aggregation has for high-cardinality keys.
  * The final phase is exact and post-shuffle, where each task owns only
  * its keys; its working set is keys-per-task × k rows and — unlike the
  * window path's external sorter — does NOT spill, so extreme
  * keys-per-task deployments must size `spark.sql.shuffle.partitions`
  * accordingly (or keep the row_number form, which the rewrite rule
  * leaves alone whenever the rank column is consumed). Skew is bounded
  * by construction for map-side-tracked keys: a hot key contributes at
  * most k rows PER INPUT PARTITION to the exchange, so a final task
  * receives ≤ k · input-partitions rows of it, never the key's raw
  * row count.
  *
  * Determinism: callers must make `order` a total order (tie-break on a
  * unique column) for a deterministic result set — the same contract a
  * `row_number`-over-window top-k has.
  */
case class GroupTopK(
    groupExprs: Seq[Expression],
    order: Seq[SortOrder],
    k: Int,
    child: LogicalPlan) extends UnaryNode {
  require(k > 0, s"GroupTopK: k must be positive, got $k")
  require(groupExprs.nonEmpty,
    "GroupTopK: grouping keys must be non-empty (global top-k is Spark's own ORDER BY + LIMIT / TakeOrderedAndProject)")
  override def output: Seq[Attribute] = child.output
  override protected def withNewChildInternal(newChild: LogicalPlan): GroupTopK =
    copy(child = newChild)
}

/** Physical per-key top-k. `partial = true` is the pre-shuffle combine
  * (capped key tracking, pass-through beyond the cap); `partial = false`
  * declares `ClusteredDistribution(groupExprs)` so EnsureRequirements
  * plants the hash exchange between the two — the same partial/final
  * shape HashAggregateExec uses, and AQE handles the exchange like any
  * other (coalescing included).
  */
case class GroupTopKExec(
    groupExprs: Seq[Expression],
    order: Seq[SortOrder],
    k: Int,
    partial: Boolean,
    maxPartialKeys: Int,
    child: SparkPlan) extends UnaryExecNode {

  override def output: Seq[Attribute] = child.output
  override def outputPartitioning: Partitioning = child.outputPartitioning
  override def nodeName: String =
    if (partial) "GroupTopKPartial" else "GroupTopKFinal"

  override lazy val metrics = Map(
    "numOutputRows" -> org.apache.spark.sql.execution.metric.SQLMetrics
      .createMetric(sparkContext, "number of output rows"),
    // rows that bypassed the map-side heaps because the key cap was hit
    // — a nonzero value is the signal to raise maxPartialKeys or accept
    // window-like shuffle volume for this key distribution
    "numPassThroughRows" -> org.apache.spark.sql.execution.metric.SQLMetrics
      .createMetric(sparkContext, "rows passed through un-reduced"))

  override def requiredChildDistribution: Seq[Distribution] =
    if (partial) Seq(UnspecifiedDistribution)
    else Seq(ClusteredDistribution(groupExprs))

  override protected def doExecute(): RDD[InternalRow] = {
    val schema = output
    val keyExprs = groupExprs
    val sortOrders = order
    val kLocal = k
    // the final phase must see every key it owns; only the map side caps
    val keyCap = if (partial) maxPartialKeys else Int.MaxValue
    val outRows = longMetric("numOutputRows")
    val passRows = longMetric("numPassThroughRows")

    child.execute().mapPartitions({ iter =>
      val keyProj = UnsafeProjection.create(keyExprs, schema)
      val ord = RowOrdering.create(sortOrders, schema)
      // reverse-ordered heap: peek() is the WORST row currently kept, so
      // admission is one compare against the heap head
      val heaps = new java.util.HashMap[UnsafeRow, java.util.PriorityQueue[InternalRow]]()

      new Iterator[InternalRow] {
        private var pending: Iterator[InternalRow] = Iterator.empty
        private var drained = false

        override def hasNext: Boolean = {
          while (!pending.hasNext && !drained) {
            if (iter.hasNext) {
              val row = iter.next()
              val key = keyProj(row)
              var heap = heaps.get(key)
              if (heap == null && heaps.size() < keyCap) {
                heap = new java.util.PriorityQueue[InternalRow](kLocal + 1, ord.reverse)
                heaps.put(key.copy(), heap)
              }
              if (heap != null) {
                if (heap.size() < kLocal) heap.add(row.copy())
                else if (ord.compare(row, heap.peek()) < 0) {
                  heap.poll(); heap.add(row.copy())
                }
                // absorbed into the heap — nothing to emit for this row
              } else {
                // beyond the key cap: stream through un-reduced (exactness
                // is restored by the final phase; consumed before the next
                // iter.next() so no copy is needed)
                passRows += 1
                pending = Iterator.single(row)
              }
            } else {
              drained = true
              val groups = heaps.values().iterator()
              pending = new Iterator[InternalRow] {
                private var current: Iterator[InternalRow] = Iterator.empty
                override def hasNext: Boolean = {
                  while (!current.hasNext && groups.hasNext) {
                    val h = groups.next()
                    val arr = h.toArray(new Array[InternalRow](h.size()))
                    java.util.Arrays.sort(arr, ord)
                    current = arr.iterator
                  }
                  current.hasNext
                }
                override def next(): InternalRow = { hasNext; current.next() }
              }
            }
          }
          pending.hasNext
        }

        override def next(): InternalRow = {
          hasNext; outRows += 1; pending.next()
        }
      }
    }, preservesPartitioning = true)
  }

  override protected def withNewChildInternal(newChild: SparkPlan): GroupTopKExec =
    copy(child = newChild)
}

/** Plans the logical node as a partial/final exec pair. Registered both
  * through `GraftExtensions` (sessions graft builds) and, idempotently,
  * through `experimental.extraStrategies` on first use (sessions it
  * didn't). */
object GroupTopKStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case GroupTopK(keys, ord, k, child) =>
      // SQLConf.get is the active session's conf during planning (no
      // `conf` member on SparkStrategy itself)
      val cap = org.apache.spark.sql.internal.SQLConf.get
        .getConfString("spark.graft.topk.maxPartialKeys", "1048576").toInt
      GroupTopKExec(keys, ord, k, partial = false, cap,
        GroupTopKExec(keys, ord, k, partial = true, cap, planLater(child))) :: Nil
    case _ => Nil
  }
}

/** Optimizer rule: `Project(Filter(rn <= k, Window(row_number())))` where
  * the rank column is dropped by the Project → [[GroupTopK]]. The user
  * writes the idiomatic window form (DataFrame or plain SQL) and gets the
  * sort-free plan automatically — the same contract as Spark's own
  * InferWindowGroupLimit, taken one step further (that rule bounds the
  * sorts' input; this one removes the sorts and the Window exec).
  *
  * Fires ONLY when every piece is provably equivalent:
  *  - exactly one window expression, and it is `row_number()` (a `rank`
  *    filter can keep >k rows on ties; `row_number` cannot);
  *  - the filter is a sole `rn <= k` / `rn < k` / `rn = 1` conjunct;
  *  - the Project above references the rank attribute nowhere (a kept
  *    rank column can't be reproduced by GroupTopK);
  *  - non-empty partition AND order specs (empty partition = global
  *    top-k = Spark's TakeOrderedAndProject territory).
  * Row SET equality holds regardless of tie totality: both forms pick
  * the same arbitrary-but-ordered first k under the given SortOrder.
  * If Spark's InferWindowGroupLimit ran first, its limiter node below
  * the Window is stripped (GroupTopK subsumes it).
  */
object RewriteWindowTopK extends Rule[LogicalPlan] {

  private def limitOf(cond: Expression, rn: Attribute): Option[Int] = cond match {
    case LessThanOrEqual(a: Attribute, Literal(v: Int, IntegerType)) if a.semanticEquals(rn) => Some(v)
    // v > 1 guard: `rn < Int.MinValue` would wrap v-1 to Int.MaxValue and
    // turn an always-false filter into keep-everything; degenerate
    // literals fall through to the unrewritten (correct) window plan
    case LessThan(a: Attribute, Literal(v: Int, IntegerType)) if a.semanticEquals(rn) && v > 1 => Some(v - 1)
    case EqualTo(a: Attribute, Literal(v: Int, IntegerType)) if a.semanticEquals(rn) && v == 1 => Some(1)
    case _ => None
  }

  override def apply(plan: LogicalPlan): LogicalPlan = plan.transformUp {
    case p @ Project(projList, Filter(cond, w: Window))
        if w.windowExpressions.size == 1 &&
          w.partitionSpec.nonEmpty && w.orderSpec.nonEmpty =>
      w.windowExpressions.head match {
        case alias @ Alias(WindowExpression(RowNumber(), _), _) =>
          val rn = alias.toAttribute
          val child = w.child match {
            // Spark's inferred limiter below the window: subsumed
            case WindowGroupLimit(ps, os, RowNumber(), _, c)
                if ps == w.partitionSpec && os == w.orderSpec => c
            case c => c
          }
          limitOf(cond, rn) match {
            case Some(k) if k > 0 && projList.forall(!_.references.contains(rn)) =>
              Project(projList, GroupTopK(w.partitionSpec, w.orderSpec, k, child))
            case _ => p
          }
        case _ => p
      }
  }
}

object GroupTopK {

  /** One sort key: column name + direction. Null ordering follows
    * Spark's `DataFrame.sort` defaults (asc → nulls first, desc → nulls
    * last). */
  final case class Key(name: String, desc: Boolean = false)

  /** The k first rows of `df` per `groupCols` group under `order`, via
    * the map-side-combined exec pair above. Columns are resolved against
    * the analyzed child plan here, so the node enters analysis already
    * resolved. */
  def topKPerKey(df: DataFrame, groupCols: Seq[String], order: Seq[Key], k: Int): DataFrame = {
    val spark = df.sparkSession
    GraftSqlBridge.ensureStrategy(spark, GroupTopKStrategy)
    val child = df.queryExecution.analyzed
    def resolve(name: String): Attribute =
      child.output.find(_.name.equalsIgnoreCase(name)).getOrElse(
        throw new IllegalArgumentException(
          s"GroupTopK: column '$name' not in ${child.output.map(_.name).mkString(", ")}"))
    val sortOrders = order.map(o =>
      SortOrder(resolve(o.name), if (o.desc) Descending else Ascending))
    GraftSqlBridge.ofRows(spark, GroupTopK(groupCols.map(resolve), sortOrders, k, child))
  }
}
