package graft.ops

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** The engine's one quantization rule: a double to an exact long,
  * HALF_UP, the value of Spark's `round(y, 0).cast("long")`.
  *
  * The analytics quantize each double at a fixed scale (milli, micro or
  * nano: the caller writes `x * 1e6`) before any order-sensitive sum, so
  * Spark and the DuckDB oracle add the same integers in any order. Every
  * quantization site under `src/main` goes through one of three forms:
  * the Column form `qroundLong(y: Column)`, the scalar form
  * `qroundLong(y: Double)` for hand-written trainers, and the DuckDB
  * twin [[qroundLongSql]]. MLSpec's source scan fails on any other
  * spelling under `src/main`.
  *
  * Spark's `Round` on DoubleType goes through
  * `BigDecimal.valueOf(y).setScale(0, HALF_UP)` — a Double.toString +
  * decimal parse + object allocation PER ROW. The Column form computes
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
  * `round(y, 0).cast("long")` by construction (MLSpec checks the three
  * forms against it on a boundary-heavy value set).
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

  /** The DuckDB twin: `y` is a SQL expression, rounded half away from
    * zero. The string is valid Spark SQL too (`round(y)` has scale 0),
    * for the `expr` sites that cannot take a Column.
    */
  def qroundLongSql(y: String): String = s"CAST(ROUND($y) AS BIGINT)"
}
