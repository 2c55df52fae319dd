package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions.{col, lit, row_number}

/** The engine's one per-group top-k rule — the reference's "top n per
  * group" (topic_modeling.py:29-40: each topic's ranked top words) —
  * beside its DuckDB twin.
  *
  * Plan decision, made once here: the window form. [[topK]] ranks with
  * `row_number()` over `PARTITION BY keys ORDER BY order` and keeps the
  * rows ranked ≤ k. Spark 4.1's InferWindowGroupLimit turns that filter
  * (for a literal k) into a WindowGroupLimit node below the Window, so
  * each partition is pruned to k rows per group before the exchange and
  * only those are ranked; the rank column comes for free. The
  * whole-operator [[graft.plans.GroupTopK]] (a bounded heap, no sort, no
  * rank) stays a deliberate alternate form behind `o4_group_topk_exec`
  * only: routing the engine through it would drop the rank column
  * most callers keep and move every plan.
  *
  * Contract: `order` is a total order within each group (end it on a
  * unique key), as row_number needs for a deterministic answer. `k` is
  * an Int or a per-row Column bound. `rank = Some(name)` keeps the
  * 1-based int rank as column `name`; `None` drops it. `keys = Nil`
  * ranks the whole frame in one task: only for row-bounded inputs
  * (PlanSpec's unpartitioned-window table names each such caller).
  */
object Ranking {

  def topK(frame: DataFrame, keys: Seq[Column], order: Seq[Column], k: Column,
      rank: Option[String]): DataFrame = {
    val r = rank.getOrElse(
      Iterator.iterate("rn")(_ + "_").find(!frame.columns.contains(_)).get)
    val kept = frame
      .withColumn(r, row_number().over(Window.partitionBy(keys: _*).orderBy(order: _*)))
      .filter(col(r) <= k)
    if (rank.isDefined) kept else kept.drop(r)
  }

  def topK(frame: DataFrame, keys: Seq[Column], order: Seq[Column], k: Int,
      rank: Option[String]): DataFrame =
    topK(frame, keys, order, lit(k), rank)

  /** The DuckDB twin of [[topK]] over the relation `from` (a table or CTE
    * name, or a parenthesized SELECT): every column of `from`, plus the
    * rank as column `name` when `rank = Some(name)`. Each `order` item is
    * an expression with an optional `ASC`/`DESC` suffix; the null order is
    * written out as Spark's (`ASC NULLS FIRST`, `DESC NULLS LAST`), since
    * DuckDB puts nulls last in both directions.
    */
  def topKSql(from: String, keys: Seq[String], order: Seq[String], k: Int,
      rank: Option[String]): String = {
    val part = if (keys.isEmpty) "" else keys.mkString("PARTITION BY ", ", ", " ")
    val rowNumber = s"row_number() OVER (${part}ORDER BY ${order.map(sparkNullOrder).mkString(", ")})"
    rank match {
      case Some(r) => s"SELECT *, $rowNumber AS $r FROM $from QUALIFY $r <= $k"
      case None => s"SELECT * FROM $from QUALIFY $rowNumber <= $k"
    }
  }

  private def sparkNullOrder(item: String): String = {
    val t = item.trim
    if (t.toUpperCase.endsWith(" DESC")) s"$t NULLS LAST"
    else if (t.toUpperCase.endsWith(" ASC")) s"$t NULLS FIRST"
    else s"$t ASC NULLS FIRST"
  }
}
