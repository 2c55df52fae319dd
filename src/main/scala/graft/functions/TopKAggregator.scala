package graft.functions

import org.apache.spark.sql.{Encoder, Encoders}
import org.apache.spark.sql.expressions.Aggregator
import scala.collection.mutable.ArrayBuffer

/** Bounded-state top-k aggregator (SURVEY §7.3's "only plausibly justified
  * custom Catalyst-adjacent piece"): keeps at most k (key, score) pairs per
  * partial buffer, ordered by (score desc, key asc).
  *
  * Scale rationale: `orderBy(desc).limit(k)` plans TakeOrderedAndProject,
  * which is already per-partition top-k — but it is driver-merged and only
  * works as the terminal operator. An Aggregator composes: per-GROUP top-k
  * inside a groupBy, k·P rows across the shuffle instead of a per-group
  * sort, usable mid-pipeline. The engine's top-k rule is
  * [[graft.ops.Ranking.topK]]; this aggregator is its deliberate
  * alternate form behind `o2_topk_aggregator` and
  * `o4_topk_aggregator_per_group`.
  */
class TopK(k: Int)
    extends Aggregator[(Long, Long), ArrayBuffer[(Long, Long)], Seq[(Long, Long)]] {

  private def trim(b: ArrayBuffer[(Long, Long)]): ArrayBuffer[(Long, Long)] = {
    if (b.length > k) {
      val sorted = b.sortBy { case (key, score) => (-score, key) }
      b.clear()
      b ++= sorted.take(k)
    }
    b
  }

  override def zero: ArrayBuffer[(Long, Long)] = ArrayBuffer.empty

  override def reduce(b: ArrayBuffer[(Long, Long)], a: (Long, Long)): ArrayBuffer[(Long, Long)] = {
    b += a
    if (b.length >= 4 * k) trim(b) else b
  }

  override def merge(a: ArrayBuffer[(Long, Long)], b: ArrayBuffer[(Long, Long)]): ArrayBuffer[(Long, Long)] =
    trim(a ++= b)

  override def finish(b: ArrayBuffer[(Long, Long)]): Seq[(Long, Long)] =
    b.sortBy { case (key, score) => (-score, key) }.take(k).toSeq

  override def bufferEncoder: Encoder[ArrayBuffer[(Long, Long)]] =
    Encoders.kryo[ArrayBuffer[(Long, Long)]]

  override def outputEncoder: Encoder[Seq[(Long, Long)]] =
    org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Seq[(Long, Long)]]()
}
