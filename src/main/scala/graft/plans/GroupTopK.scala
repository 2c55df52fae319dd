package graft.plans

import scala.collection.mutable

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Ascending, Attribute, Descending, Expression, RowOrdering, SortOrder, UnsafeProjection, UnsafeRow}
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, UnaryNode}
import org.apache.spark.sql.catalyst.plans.physical.{ClusteredDistribution, Distribution, Partitioning, UnspecifiedDistribution}
import org.apache.spark.sql.execution.{SparkPlan, SparkStrategy, UnaryExecNode}
import org.apache.spark.sql.graft.Bridge

/** Whole-operator per-group top-k as a first-class plan node — the
  * engine's demonstration of the custom LogicalPlan + SparkStrategy +
  * SparkPlan extension tier (W1/O4 semantics, reference
  * topic_modeling.py:29-40 "top n per group").
  *
  * Why a physical operator instead of the window form: `row_number()
  * OVER (PARTITION BY g ORDER BY o) <= k` sorts every group in full —
  * per-group sort state grows with the group, which at 100 TB means
  * spilling whole skewed groups to disk to keep 3 rows of them. (Spark's
  * own InferWindowGroupLimit prunes to k per partition since 3.5, but
  * still plans the Window + two full per-partition sorts to produce the
  * rank column.) GroupTopKExec never sorts and never ranks: each task
  * streams its input through one bounded heap of k rows per group —
  * O(n log k) time, O(groups · k) memory — and the strategy plans the
  * canonical partial/final pair, so the shuffle moves at most
  * partitions × groups × k pre-pruned rows instead of the full table.
  *
  * The planner pipeline is the standard one: [[GroupTopKPlan]] (logical,
  * built by [[GroupTopK.topK]] on an analyzed child so its expressions
  * are born resolved) → [[GroupTopKStrategy]] (injected via
  * [[GraftExtensions]] `injectPlannerStrategy`) → partial
  * [[GroupTopKExec]] (map-side, any distribution) → exchange demanded by
  * the final exec's `requiredChildDistribution =
  * ClusteredDistribution(groupExprs)` (EnsureRequirements/AQE insert and
  * size it) → final [[GroupTopKExec]] (exact top-k, groups co-located).
  *
  * Determinism contract: callers must pass a total per-group ordering
  * (tie-break on a unique key) — same requirement row_number has for a
  * stable result. Output row order is unspecified (like any aggregate);
  * sort downstream if needed.
  */
case class GroupTopKPlan(
    groupExprs: Seq[Expression],
    order: Seq[SortOrder],
    k: Int,
    child: LogicalPlan) extends UnaryNode {
  require(k >= 1, s"GroupTopK needs k >= 1, got $k")
  override def output: Seq[Attribute] = child.output
  override def maxRows: Option[Long] = child.maxRows
  override protected def withNewChildInternal(newChild: LogicalPlan): GroupTopKPlan =
    copy(child = newChild)
}

/** Plans [[GroupTopKPlan]] as a partial/final [[GroupTopKExec]] pair —
  * the same shape HashAggregate uses, and for the same reason: the
  * partial run prunes each map partition to ≤ k rows per group BEFORE
  * the exchange, so shuffle volume is bounded by the answer size, not
  * the input size.
  */
object GroupTopKStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case GroupTopKPlan(g, o, k, child) =>
      GroupTopKExec(g, o, k, partial = false,
        GroupTopKExec(g, o, k, partial = true, planLater(child))) :: Nil
    case _ => Nil
  }
}

/** Bounded-state per-group top-k over one partition: a hash map from
  * group key to a max-heap of at most k rows, heap head = the worst row
  * kept, so each incoming row costs one comparison (and log k on
  * replacement). `partial = true` runs before the shuffle on arbitrary
  * input splits (its output is a correct superset candidate set because
  * top-k is mergeable: the global top-k of a union is contained in the
  * union of per-split top-ks); `partial = false` demands
  * ClusteredDistribution on the group key and produces the exact answer.
  */
case class GroupTopKExec(
    groupExprs: Seq[Expression],
    order: Seq[SortOrder],
    k: Int,
    partial: Boolean,
    child: SparkPlan) extends UnaryExecNode {

  override def output: Seq[Attribute] = child.output

  override def requiredChildDistribution: Seq[Distribution] =
    if (partial) Seq(UnspecifiedDistribution)
    else Seq(ClusteredDistribution(groupExprs))

  override def outputPartitioning: Partitioning = child.outputPartitioning

  override protected def withNewChildInternal(newChild: SparkPlan): GroupTopKExec =
    copy(child = newChild)

  override def nodeName: String =
    if (partial) "GroupTopK(partial)" else "GroupTopK(final)"

  override protected def doExecute(): RDD[InternalRow] = {
    val kLocal = k
    val gExprs = groupExprs
    val ord = order
    val childOutput = child.output
    child.execute().mapPartitions({ iter =>
      // Projections/orderings are codegen'd per task, not per row.
      val keyProj = UnsafeProjection.create(gExprs, childOutput)
      val cmp = RowOrdering.create(ord, childOutput)
      // Max-heap under the sort order: head is the LAST-sorting (worst)
      // of the k rows kept, so `row < head` means row displaces it.
      val heaps = mutable.HashMap.empty[UnsafeRow, mutable.PriorityQueue[InternalRow]]
      iter.foreach { row =>
        val key = keyProj(row)
        val heap = heaps.getOrElse(key, null) match {
          case null =>
            val h = mutable.PriorityQueue.empty[InternalRow](cmp)
            heaps.put(key.copy(), h) // copy: keyProj reuses its buffer
            h
          case h => h
        }
        if (heap.size < kLocal) heap.enqueue(row.copy())
        else if (cmp.compare(row, heap.head) < 0) {
          heap.dequeue()
          heap.enqueue(row.copy())
        }
      }
      heaps.valuesIterator.flatMap(_.iterator)
    }, preservesPartitioning = true)
  }
}

/** Column-name API over [[GroupTopKPlan]]. Kept deliberately as an
  * explicit operator (not an optimizer rewrite of window top-k queries):
  * Spark 3.5+ already prunes the window form via InferWindowGroupLimit,
  * so pattern-stealing it would mostly shadow a built-in; the value of
  * this node is the sort-free, rank-free whole-operator path you opt
  * into when the rank column isn't wanted.
  */
object GroupTopK {
  /** Top-k rows per group under (col, descending?) orderings with all
    * child columns preserved. Planned by [[GroupTopKStrategy]], which
    * GraftExtensions injects into every GraftSession.
    */
  def topK(df: DataFrame, groupCols: Seq[String],
      orderBy: Seq[(String, Boolean)], k: Int): DataFrame = {
    val spark: SparkSession = df.sparkSession
    val child = df.queryExecution.analyzed
    def attr(n: String): Attribute = child.output.find(_.name == n).getOrElse(
      throw new IllegalArgumentException(
        s"GroupTopK: no column '$n' in [${child.output.map(_.name).mkString(", ")}]"))
    val g = groupCols.map(n => attr(n): Expression)
    val o = orderBy.map { case (n, desc) =>
      SortOrder(attr(n), if (desc) Descending else Ascending)
    }
    Bridge.ofRows(spark, GroupTopKPlan(g, o, k, child))
  }
}
