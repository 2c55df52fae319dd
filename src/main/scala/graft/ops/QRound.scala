package graft.ops

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Value-identical fast path for the engine's quantization idiom
  * `round(y, 0).cast("long")` (round 18).
  *
  * Spark's `Round` on DoubleType goes through
  * `BigDecimal.valueOf(y).setScale(0, HALF_UP)` — a Double.toString +
  * decimal parse + object allocation PER ROW. On the hot quantization
  * sites (the micro/nano-long discipline runs once per corpus row, and
  * in the EM/ALS trainers once per row per topic per round) that detour
  * is a measurable fraction of the whole query. The fast path computes
  * plain half-up directly on the double; the `when` guard routes the
  * only inputs where the two can disagree to the original expression:
  *
  *  - BigDecimal.valueOf rounds the SHORTEST DECIMAL REPRESENTATION of
  *    y, which differs from y by at most ulp(y)/2 — below 1e9 that is
  *    < 1.2e-7, so decimal-vs-binary half-up can only differ when y
  *    lies within ~1e-7 of a half-integer boundary. Anything within
  *    1e-5 of a boundary (100x margin, which also swallows the fp error
  *    of the floor/subtract probe itself) takes the slow exact path.
  *  - |y| >= 1e9 takes the slow path outright (ulp outgrows the band).
  *  - NaN/Infinity fail the `<` comparison and take the slow path, so
  *    the ANSI cast behavior is byte-for-byte the original's.
  *
  * Negative values: HALF_UP rounds away from zero, so the fast path is
  * sign(y) * floor(|y| + 0.5). The result is bit-identical to
  * `round(y, 0).cast("long")` by construction — oracle-facing sites can
  * use it freely (and the DuckDB oracles are unchanged either way).
  */
object QRound {
  /** The same rule on a driver- or executor-side double, for the
    * hand-written trainers (the distributed EM fit) that must stay
    * bit-identical to the Column form: `BigDecimal.valueOf(y)
    * .setScale(0, HALF_UP).toLong`, with the same guard.
    */
  def qroundLong(y: Double): Long = {
    val t = math.abs(y)
    if (t < 1e9 && math.abs(t - math.floor(t) - 0.5) > 1e-5) {
      val r = math.floor(t + 0.5).toLong
      if (y < 0) -r else r
    } else
      BigDecimal.valueOf(y).setScale(0, BigDecimal.RoundingMode.HALF_UP).toLong
  }

  def qroundLong(y: Column): Column = {
    val t = abs(y)
    when(t < lit(1e9) &&
        abs(t - floor(t).cast("double") - lit(0.5)) > lit(1e-5),
      when(y < lit(0.0), -floor(t + lit(0.5))).otherwise(floor(t + lit(0.5))))
      .otherwise(round(y, 0).cast("long"))
  }
}
