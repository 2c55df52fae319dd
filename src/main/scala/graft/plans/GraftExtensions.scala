package graft.plans

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}
import graft.functions.{MinHashSig, PolyHash, ShingleHashes, VecDot}

/** Session extension registering the engine's custom codegen'd expressions
  * as SQL functions (so `spark.sql("SELECT poly_hash(text) ...")` works
  * alongside the Column API) plus the one optimizer rule that pays for
  * itself: [[LevenshteinThresholdRewrite]] (bounded edit-distance
  * predicates run Spark's banded early-exit algorithm).
  *
  * Installed by [[graft.GraftSession]] (or
  * `spark.sql.extensions=graft.plans.GraftExtensions`). One SparkStrategy
  * is injected — [[GroupTopKStrategy]], planning the explicit
  * [[GroupTopKPlan]] whole-operator node (every REFERENCE operator still
  * plans onto built-in physical operators per SURVEY §4; GroupTopK is
  * the engine's opt-in sort-free top-k path beyond the reference).
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    ext.injectOptimizerRule(_ => LevenshteinThresholdRewrite)
    ext.injectPlannerStrategy(_ => GroupTopKStrategy)
    ext.injectFunction((
      new FunctionIdentifier("poly_hash"),
      new ExpressionInfo(classOf[PolyHash].getName, "poly_hash"),
      (children: Seq[Expression]) => PolyHash(children.head)))
    ext.injectFunction((
      new FunctionIdentifier("shingle_hashes"),
      new ExpressionInfo(classOf[ShingleHashes].getName, "shingle_hashes"),
      (children: Seq[Expression]) => ShingleHashes(children.head)))
    ext.injectFunction((
      new FunctionIdentifier("min_hash_sig"),
      new ExpressionInfo(classOf[MinHashSig].getName, "min_hash_sig"),
      (children: Seq[Expression]) => MinHashSig(children.head)))
    ext.injectFunction((
      new FunctionIdentifier("vec_dot"),
      new ExpressionInfo(classOf[VecDot].getName, "vec_dot"),
      (children: Seq[Expression]) => VecDot(children(0), children(1))))
  }
}
