package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import Ranking.{topK, topKSql}
import QRound.{qroundLong, qroundLongSql}
import DedupOps.{polyHash, uniform, uniformSql}

/** Aggregation + window + time-bucketing core. Covers SURVEY.md §2.4 A1-A8,
  * §2.5 W1-W3, §2.8 F15-F29 (date/json/bucketing/histogram), §2.9 batch
  * forms of the daily tumbling windows.
  *
  * Scale notes:
  *  - All groupBys are hash aggregates with map-side partial aggregation —
  *    the shuffle carries one row per (partition × group), not per input row.
  *  - Pivots pin their value lists (SURVEY §7.4) so the schema is static:
  *    no extra distinct-values job, deterministic columns for the oracle.
  *  - Window top-k (W1) partitions by the group key; with AQE skewed
  *    partitions split. For per-group rank ≤ k over huge groups, the
  *    aggregate stays shuffle-bound, not sort-bound (k is tiny).
  *  - Double sums that feed the oracle hash-compare are rounded (or decimal)
  *    — reassociation across 32 partitions must not leak into output.
  */
object Aggregates {
  import Tables._

  type Q = (SparkSession, String) => DataFrame

  /** Pinned pivot domain for events.event_type (stable across sf, TESTDATA). */
  val EventTypes: Seq[String] = Seq("click", "error", "purchase", "signup", "view")

  /** Inactivity gap (µs) that closes a session in w_sessionize_gap —
    * shared with its oracle. 24 h: the synthetic events stream is sparse
    * per user (~1 event/user/day), so sub-day gaps degenerate to
    * one-event sessions.
    */
  val SessionGapUs: Long = 86400L * 1000000L

  /** BH multiple-testing config (a_bh_fdr): m hypotheses = the C(5,2)
    * pairwise Welch tests over the pinned 5-type domain, FDR level α.
    */
  val BhAlpha = 0.05
  val BhM = 10

  /** One-sided z at α = .05 for the TOST equivalence bounds — defined
    * once and INTERPOLATED into the SQL oracle (the bhZCrit injection
    * device), so the two renderings cannot drift apart on the boundary
    * constant their 6dp-rounded flags compare against.
    */
  val TostZ = 1.644854
  // The ladder is rank-indexed 1..BhM, so the pairwise-test count MUST
  // equal BhM — otherwise rank > BhM makes Spark's ANSI element_at
  // throw while DuckDB's list index returns NULL and the engines
  // DIVERGE instead of failing together (ADVICE r17). Tie the constant
  // to the domain it derives from, so growing EventTypes without
  // re-deriving the ladder fails at class-load, loudly, in both the
  // query path and every spec; StatsSpec additionally pins the OBSERVED
  // pair count from the data against BhM.
  require(BhM == EventTypes.length * (EventTypes.length - 1) / 2,
    s"BhM ($BhM) != C(${EventTypes.length}, 2) — re-derive the BH ladder")

  /** The rank-indexed BH critical ladder: zcrit(k) = Φ⁻¹(1 − α·k/(2m)),
    * k = 1..m — evaluated ONCE driver-side and injected verbatim into
    * both renderings (the a_power_analysis constant pattern, extended
    * to an array), so neither engine ever evaluates a normal CDF.
    */
  lazy val bhZCrit: Array[Double] =
    Array.tabulate(BhM)(i => invPhi(1 - BhAlpha * (i + 1) / (2.0 * BhM)))

  /** Inverse standard-normal CDF (Acklam's rational approximation,
    * |relative error| < 1.15e-9 — far inside the 6dp rounding both
    * engines apply before any comparison). Driver-side only; published
    * algorithm and coefficients (P. J. Acklam, 2003).
    */
  private def invPhi(p: Double): Double = {
    require(p > 0 && p < 1, s"invPhi domain: $p")
    val a = Array(-3.969683028665376e+01, 2.209460984245205e+02,
      -2.759285104469687e+02, 1.383577518672690e+02,
      -3.066479806614716e+01, 2.506628277459239e+00)
    val b = Array(-5.447609879822406e+01, 1.615858368580409e+02,
      -1.556989798598866e+02, 6.680131188771972e+01,
      -1.328068155288572e+01)
    val c = Array(-7.784894002430293e-03, -3.223964580411365e-01,
      -2.400758277161838e+00, -2.549732539343734e+00,
      4.374664141464968e+00, 2.938163982698783e+00)
    val dd = Array(7.784695709041462e-03, 3.224671290700398e-01,
      2.445134137142996e+00, 3.754408661907416e+00)
    val pl = 0.02425
    if (p < pl) {
      val q = math.sqrt(-2 * math.log(p))
      (((((c(0) * q + c(1)) * q + c(2)) * q + c(3)) * q + c(4)) * q + c(5)) /
        ((((dd(0) * q + dd(1)) * q + dd(2)) * q + dd(3)) * q + 1)
    } else if (p <= 1 - pl) {
      val q = p - 0.5
      val r = q * q
      (((((a(0) * r + a(1)) * r + a(2)) * r + a(3)) * r + a(4)) * r + a(5)) * q /
        (((((b(0) * r + b(1)) * r + b(2)) * r + b(3)) * r + b(4)) * r + 1)
    } else {
      -invPhi(1 - p) // symmetric upper tail — reuse the lower branch
    }
  }

  /** Exact global (or per-group) rank of `value` with no unpartitioned
    * window over the base table. Strategy: bin rows by floor(value) —
    * bin cardinality is bounded by the VALUE RANGE (~560 bins here), not
    * the row count — aggregate bin counts, compute cumulative offsets
    * with a window over that tiny aggregated table, then rank within
    * (group, bin) with a properly partitioned window and add the offset.
    * Returns the input plus `rn` (1-based rank of value within group,
    * ties broken arbitrarily but counts/min/max per rank range invariant)
    * and `n` (group row count). At 100 TB every shuffle here is keyed by
    * (group, bin); no single task ever sees more than one bin.
    */
  private def binRanked(s: SparkSession, ev: DataFrame,
      groupCols: Seq[String]): DataFrame = {
    import s.implicits._
    val gcols = groupCols.map(col)
    val binned = ev.withColumn("bin", floor($"value").cast("long"))
    val binCounts = binned.groupBy(gcols :+ $"bin": _*)
      .agg(count(lit(1)).as("c"))
    val wBins = Window.partitionBy(gcols: _*).orderBy($"bin")
      .rowsBetween(Window.unboundedPreceding, -1)
    val offsets = binCounts
      .withColumn("off", coalesce(sum($"c").over(wBins), lit(0L)))
      .withColumn("n", sum($"c").over(Window.partitionBy(gcols: _*)))
      .drop("c")
    val wInBin = Window.partitionBy(gcols :+ $"bin": _*).orderBy($"value")
    binned.join(broadcast(offsets), groupCols :+ "bin")
      .withColumn("rn", $"off" + row_number().over(wInBin))
      .drop("bin", "off")
  }

  /** HyperLogLog width: registers per key. */
  private val HllM = 16

  /** (keys..., j, r): the HyperLogLog registers of `frame`'s `user_id`
    * per key. With h = polyHash(user_id), register j = h % M and rho =
    * trailing-zeros(h div M) + 1 (27 when h div M = 0); r = max rho.
    * Trailing zeros are geometric(1/2) for uniform hashes (the FM/PCSA
    * orientation, chosen because (w & -w) is exact integer algebra in
    * both engines, where leading-zero counts would need a float log2).
    * The table is M rows per key whatever the corpus size, and max-merges
    * across shards. Twin: [[hllRegistersSql]].
    */
  private[graft] def hllRegisters(frame: DataFrame, keys: String*): DataFrame = {
    val k = keys.map(col)
    frame.select(k :+ polyHash(col("user_id").cast("string")).as("h"): _*)
      .select(k ++ Seq((col("h") % HllM).as("j"), expr(s"h div $HllM").as("w")): _*)
      .withColumn("rho", when(col("w") === 0, lit(27))
        .otherwise(expr("bit_count((w & -w) - 1) + 1")))
      .groupBy(k :+ col("j"): _*).agg(max(col("rho")).as("r"))
  }

  /** [[hllRegisters]]' DuckDB twin: a SELECT of (keys..., j, r) from `from`. */
  private[graft] def hllRegistersSql(from: String, keys: String*): String = {
    val k = keys.mkString(", ")
    val h = DedupOps.polyHashSql("CAST(user_id AS VARCHAR)")
    s"""SELECT $k, j,
       |    MAX(CASE WHEN w = 0 THEN 27 ELSE bit_count((w & -w) - 1) + 1 END) AS r
       |  FROM (SELECT $k, $h % $HllM AS j, $h // $HllM AS w FROM $from)
       |  GROUP BY ${(1 to keys.size + 1).mkString(", ")}""".stripMargin
  }

  /** (keys..., hll_est): the HyperLogLog estimate of every key of `frame`
    * from its [[hllRegisters]] `regs`, an absent register counting 0: the
    * bias-corrected harmonic mean 0.673·M²/Σ2^-r with the small-range
    * linear-counting correction M·ln(M/zeros), rounded 3dp. Every step is
    * deterministic, so DuckDB reproduces it bit for bit before the
    * rounding. Twin: [[hllEstimateSql]].
    */
  private[graft] def hllEstimate(frame: DataFrame, regs: DataFrame, keys: String*): DataFrame = {
    val k = keys.map(col)
    frame.select(k: _*).distinct()
      .select(k :+ explode(sequence(lit(0), lit(HllM - 1))).as("j"): _*)
      .join(regs, keys :+ "j", "left").na.fill(0, Seq("r"))
      .groupBy(k: _*).agg(
        sum(pow(lit(2.0), -col("r"))).as("s"),
        sum(when(col("r") === 0, 1).otherwise(0)).as("zeros"))
      .withColumn("raw", lit(0.673) * lit(HllM.toDouble * HllM) / col("s"))
      .select(k :+ round(
        when(col("raw") <= 2.5 * HllM && col("zeros") > 0,
          lit(HllM.toDouble) * log(lit(HllM.toDouble) / col("zeros")))
          .otherwise(col("raw")), 3).as("hll_est"): _*)
  }

  /** [[hllEstimate]]'s DuckDB twin: a SELECT of (keys..., hll_est) over
    * the keys of `from` and the register table `regs`.
    */
  private[graft] def hllEstimateSql(from: String, regs: String, keys: String*): String = {
    val k = keys.mkString(", ")
    s"""SELECT $k,
       |    ROUND(CASE WHEN raw <= ${2.5 * HllM} AND zeros > 0
       |      THEN ${HllM.toDouble} * ln(${HllM.toDouble} / zeros) ELSE raw END, 3) AS hll_est
       |  FROM (
       |    SELECT $k, 0.673 * ${HllM.toDouble * HllM} / s AS raw, zeros
       |    FROM (
       |      SELECT $k, SUM(pow(2.0, -r)) AS s,
       |        SUM(CASE WHEN r = 0 THEN 1 ELSE 0 END) AS zeros
       |      FROM (
       |        SELECT ${keys.map("dom." + _).mkString(", ")}, COALESCE(rg.r, 0) AS r
       |        FROM (SELECT DISTINCT $k, g.j
       |          FROM $from CROSS JOIN (SELECT unnest(range($HllM)) AS j) g) dom
       |        LEFT JOIN $regs rg
       |          ON ${(keys :+ "j").map(c => s"dom.$c = rg.$c").mkString(" AND ")})
       |      GROUP BY ${(1 to keys.size).mkString(", ")}))""".stripMargin
  }

  /** (keys..., n, sv, ssv): per group of `frame`, the row count and the
    * exact sums of vm and vm², vm = `value` as a milli long, so the
    * moments are bit-identical on any partitioning. Milli, not micro:
    * vm² ≤ ~3e11 keeps Σvm² in BIGINT far beyond this corpus (at true
    * 100 TB row counts the accumulator goes DECIMAL). Twin:
    * [[milliMomentsSql]].
    */
  private def milliMoments(frame: DataFrame, keys: Column*): DataFrame =
    frame.withColumn("vm", qroundLong(col("value") * 1e3))
      .groupBy(keys: _*)
      .agg(count(lit(1)).as("n"), sum(col("vm")).as("sv"),
        sum(col("vm") * col("vm")).as("ssv"))

  /** [[milliMoments]]' DuckDB twin: a SELECT from `from` grouped by the
    * select items `keys` (an item may carry an alias).
    */
  private def milliMomentsSql(from: String, keys: String*): String =
    s"""SELECT ${keys.mkString(", ")}, CAST(COUNT(*) AS BIGINT) AS n,
       |    CAST(SUM(vm) AS BIGINT) AS sv,
       |    CAST(SUM(vm * vm) AS BIGINT) AS ssv
       |  FROM (SELECT *, ${qroundLongSql("value * 1e3")} AS vm FROM $from)
       |  GROUP BY ${(1 to keys.size).mkString(", ")}""".stripMargin

  val queries: Map[String, Q] = Map(
    // A1 (bbc_news_dag.py:26-37): group-by key + count + collect-set +
    // HAVING — duplicate-group finder. sort_array makes the set column
    // deterministic for the compare.
    "a1_dup_groups" -> ((s, d) => {
      import s.implicits._
      lineitem(s, d)
        .groupBy($"l_orderkey")
        .agg(count("*").as("cnt"),
          array_join(sort_array(collect_set($"l_linenumber")), ",").as("line_numbers"))
        .filter($"cnt" > 5)
        .orderBy("l_orderkey")
    }),

    // A2 (bbc_news_dag.py:114-122): count(*) per table, one row each.
    "a2_table_counts" -> ((s, d) => {
      import s.implicits._
      val counts = Seq(
        "customer" -> customer(s, d), "events" -> events(s, d),
        "lineitem" -> lineitem(s, d), "orders" -> orders(s, d))
        .map { case (n, df) => df.agg(count("*").as("n_rows")).select(lit(n).as("tbl"), $"n_rows") }
      counts.reduce(_ union _).orderBy("tbl")
    }),

    // A3 (stats.py:16,24): value_counts — frequency distribution.
    "a3_event_type_counts" -> ((s, d) => {
      import s.implicits._
      events(s, d).groupBy($"event_type").agg(count("*").as("cnt"))
        .orderBy(desc("cnt"), asc("event_type"))
    }),

    // A4/W3 (stats_visualization.py:294): daily mean trend — the flagship.
    "a4_daily_value_trend" -> ((s, d) => {
      import s.implicits._
      events(s, d)
        .withColumn("day", to_date($"ts"))
        .groupBy($"day")
        .agg(round(avg($"value"), 6).as("avg_value"), count("*").as("n"))
        .orderBy("day")
    }),

    // A5/W2 (stats_visualization.py:83-84): day × category share-of-day
    // percentages — count / sum over (partition by day).
    "a5_daily_share_pct" -> ((s, d) => {
      import s.implicits._
      val wDay = Window.partitionBy($"day")
      events(s, d)
        .withColumn("day", to_date($"ts"))
        .groupBy($"day", $"event_type")
        .agg(count("*").as("cnt"))
        .withColumn("pct", round($"cnt" * 100.0 / sum($"cnt").over(wDay), 6))
        .orderBy("day", "event_type")
    }),

    // A6 (stats_visualization.py:392-401): date × category pivot matrix,
    // pinned columns, densified with 0.
    "a6_daily_pivot" -> ((s, d) => {
      import s.implicits._
      events(s, d)
        .withColumn("day", to_date($"ts"))
        .groupBy($"day")
        .pivot("event_type", EventTypes)
        .agg(count(lit(1)))
        .na.fill(0)
        .orderBy("day")
    }),

    // A7-as-relational argmax: per user, the event_type they do most
    // (row_number over count desc — deterministic tie-break by type).
    "a7_user_top_event" -> ((s, d) => {
      import s.implicits._
      topK(events(s, d).groupBy($"user_id", $"event_type").agg(count("*").as("cnt")),
        Seq($"user_id"), Seq(desc("cnt"), asc("event_type")), 1, None)
        .orderBy("user_id")
    }),

    // A8 (stats_visualization.py:171): idxmax — row of the global max.
    "a8_top_order" -> ((s, d) => {
      import s.implicits._
      orders(s, d)
        .select("o_orderkey", "o_custkey", "o_totalprice")
        .orderBy(desc("o_totalprice"), asc("o_orderkey"))
        .limit(1)
    }),

    // W1 (topic_modeling.py:29-40): per-group ranked top-k — top-3
    // suppliers by exact decimal revenue within each nation.
    "w1_top_suppliers_per_nation" -> ((s, d) => {
      import s.implicits._
      val rev = lineitem(s, d)
        .select($"l_suppkey",
          ($"l_extendedprice".cast("decimal(12,2)") *
            (lit(1).cast("decimal(12,2)") - $"l_discount".cast("decimal(4,2)"))).as("r"))
        .groupBy($"l_suppkey").agg(sum($"r").as("rev"))
      val ranked = supplier(s, d)
        .join(broadcast(nation(s, d)), $"s_nationkey" === $"n_nationkey")
        .join(rev, $"s_suppkey" === $"l_suppkey", "left")
      topK(ranked, Seq($"n_name"), Seq(desc("rev"), asc("s_suppkey")), 3, Some("rank"))
        .select($"n_name", $"rank", $"s_suppkey", $"s_name",
          round($"rev".cast("double"), 2).as("revenue"))
        .orderBy("n_name", "rank")
    }),

    // W-frame: running daily total of purchases (rowsBetween unbounded
    // preceding) — cumulative trend series. The unpartitioned window is
    // DELIBERATE and scale-safe: it runs over the already-aggregated
    // per-day series, whose cardinality is bounded by the calendar (one
    // row per day — thousands of rows at any corpus size), never by the
    // event count. Spark's WindowExec single-partition warning refers to
    // the input it sees, which is the tiny aggregate.
    "w_running_daily_purchases" -> ((s, d) => {
      import s.implicits._
      val w = Window.orderBy($"day").rowsBetween(Window.unboundedPreceding, Window.currentRow)
      events(s, d)
        .filter($"event_type" === "purchase")
        .withColumn("day", to_date($"ts"))
        .groupBy($"day").agg(count("*").as("n"))
        .withColumn("running_n", sum($"n").over(w))
        .orderBy("day")
    }),

    // lag/lead: day-over-day delta of event counts. Unpartitioned window
    // over the day-aggregated series — calendar-bounded, see
    // w_running_daily_purchases.
    "w_day_over_day_delta" -> ((s, d) => {
      import s.implicits._
      val w = Window.orderBy($"day")
      events(s, d)
        .withColumn("day", to_date($"ts"))
        .groupBy($"day").agg(count("*").as("n"))
        .withColumn("prev_n", lag($"n", 1).over(w))
        .withColumn("delta", $"n" - coalesce($"prev_n", lit(0)))
        .orderBy("day")
    }),

    // EWMA smoothing of the per-type daily value series (pandas
    // ewm(alpha=0.5, adjust=True) semantics — stats_visualization.py's
    // trend charts smooth this way). Closed form, no recursion:
    // ewma_t = Σ_{i≤t} x_i·(1-α)^(t-i) / Σ_{i≤t} (1-α)^(t-i); with
    // α = 0.5 both sides divide by 0.5^t, which cancels, leaving
    // Σ x_i·2^(d_i) / Σ 2^(d_i) over day-offsets d_i — every weight is an
    // exact power of two in IEEE, so the only cross-engine noise is
    // summation order, absorbed by the rounding.
    //
    // Overflow guard (unbounded spans): naive 2^t overflows to Inf past
    // ~1024 days. Re-anchor per EPOCH of F=64 days instead: the frame is
    // RANGE 63 PRECEDING (weights older than that are < 2^-63 relative —
    // below double ulp, so truncation is exact at any rounding), and
    // within a ≤64-day frame only the current epoch and its predecessor
    // can appear, distinguishable by epoch PARITY. Weight of a frame row
    // = 2^(t mod F) for same-parity rows, 2^(t mod F - F) for the other
    // parity — all exponents in [-64, 63], every scale an exact power of
    // two, and the common factor 2^(F·epoch) cancels in the ratio. Same
    // two-conditional-sum form in the DuckDB oracle.
    "w_ewma_daily" -> ((s, d) => {
      import s.implicits._
      val F = 64
      val byType = Window.partitionBy($"event_type")
      val wr = byType.orderBy($"t").rangeBetween(-(F - 1), 0)
      def ew(par: Int, c: Column) =
        sum(when($"pe" === par, c * pow(lit(2.0), $"r"))
          .otherwise(lit(0.0))).over(wr)
      val half = pow(lit(2.0), lit(-F))
      events(s, d)
        .withColumn("day", to_date($"ts"))
        .groupBy($"event_type", $"day").agg(avg($"value").as("x"))
        .withColumn("t", datediff($"day", min($"day").over(byType)))
        .withColumn("r", pmod($"t", lit(F)))
        .withColumn("pe", pmod(floor($"t" / lit(F)), lit(2)))
        .withColumn("num", when($"pe" === 0, ew(0, $"x") + ew(1, $"x") * half)
          .otherwise(ew(1, $"x") + ew(0, $"x") * half))
        .withColumn("den", when($"pe" === 0, ew(0, lit(1.0)) + ew(1, lit(1.0)) * half)
          .otherwise(ew(1, lit(1.0)) + ew(0, lit(1.0)) * half))
        .withColumn("ewma", round($"num" / $"den", 6))
        .select($"event_type", $"day", round($"x", 6).as("x"), $"ewma")
        .orderBy("event_type", "day")
    }),

    // ROLLUP (beyond the reference — SURVEY §2.4 notes it lacks grouping
    // sets): day × type counts with subtotals and grand total.
    "a_rollup_daily_type" -> ((s, d) => {
      import s.implicits._
      events(s, d)
        .withColumn("day", to_date($"ts"))
        .rollup($"day", $"event_type")
        .agg(count(lit(1)).as("n"))
        .orderBy($"day".asc_nulls_first, $"event_type".asc_nulls_first)
    }),

    // Funnel: users whose first signup precedes their first purchase,
    // per signup-day cohort.
    "a_funnel_signup_purchase" -> ((s, d) => {
      import s.implicits._
      val firsts = events(s, d)
        .filter($"event_type".isin("signup", "purchase"))
        .groupBy($"user_id")
        .agg(
          min(when($"event_type" === "signup", $"ts")).as("first_signup"),
          min(when($"event_type" === "purchase", $"ts")).as("first_purchase"))
      firsts
        .withColumn("converted",
          $"first_signup".isNotNull && $"first_purchase".isNotNull &&
            $"first_signup" < $"first_purchase")
        .groupBy(to_date($"first_signup").as("cohort_day"))
        .agg(count(lit(1)).as("n_users"),
          sum(when($"converted", 1).otherwise(0)).as("n_converted"))
        .orderBy($"cohort_day".asc_nulls_first)
    }),

    // Cohort retention: users bucketed by first-seen day; distinct active
    // users per (cohort_day, day_offset). Bounded output (30×30 max).
    "a_cohort_retention" -> ((s, d) => {
      import s.implicits._
      val ev = events(s, d).select($"user_id", to_date($"ts").as("day"))
      // round 18: cohort day as a window min — the aggregate+self-join
      // form scanned events twice and shuffled both join sides; one
      // user_id exchange now carries everything (same rows by
      // definition: min(day) per user attached to each of that user's
      // rows)
      ev.withColumn("cohort_day",
          min($"day").over(Window.partitionBy($"user_id")))
        .withColumn("day_offset", datediff($"day", $"cohort_day"))
        .groupBy($"cohort_day", $"day_offset")
        .agg(countDistinct($"user_id").as("n_active"))
        .orderBy("cohort_day", "day_offset")
    }),

    // F19 (sentiment_analysis.py:48-53): threshold bucketing with the
    // VADER ±0.05-style boundary semantics (>= / <=), then distribution.
    "f19_value_buckets" -> ((s, d) => {
      import s.implicits._
      events(s, d)
        .withColumn("bucket",
          when($"value" >= 150.0, "high")
            .when($"value" <= 50.0, "low")
            .otherwise("mid"))
        .groupBy($"bucket").agg(count("*").as("cnt"), round(avg($"value"), 6).as("avg_value"))
        .orderBy("bucket")
    }),

    // F29 (stats_visualization.py:103): histogram binning — fixed-width
    // buckets, densified against the full bucket domain.
    "f29_value_histogram" -> ((s, d) => {
      import s.implicits._
      val binned = events(s, d)
        .withColumn("bucket", least(floor($"value" / 25.0), lit(19)).cast("int"))
        .groupBy($"bucket").agg(count("*").as("cnt"))
      s.range(0, 20).select($"id".cast("int").as("bucket"))
        .join(binned, Seq("bucket"), "left")
        .na.fill(0, Seq("cnt"))
        .orderBy("bucket")
    }),

    // F15 (data_preparation.py:161): to_timestamp with errors="coerce" —
    // malformed strings → null, then null-rate accounting.
    "f15_parse_coerce" -> ((s, d) => {
      import s.implicits._
      events(s, d)
        .withColumn("ts_str",
          when($"event_id" % 97 === 0, lit("not-a-date"))
            .otherwise(date_format($"ts", "yyyy-MM-dd HH:mm:ss")))
        .withColumn("parsed", try_to_timestamp($"ts_str", lit("yyyy-MM-dd HH:mm:ss")))
        .agg(count("*").as("n"),
          count($"parsed").as("n_parsed"),
          sum(when($"parsed".isNull, 1).otherwise(0)).as("n_null"))
    }),

    // F18 (topic_modeling.py:143): date_format bucketing to hour strings.
    "f18_hourly_format" -> ((s, d) => {
      import s.implicits._
      events(s, d)
        .withColumn("hour", date_format($"ts", "yyyy-MM-dd HH"))
        .groupBy($"hour").agg(count("*").as("n"))
        .orderBy("hour")
    }),

    // F22-inverse: JSON field extraction from the props column.
    "f22_json_extract" -> ((s, d) => {
      import s.implicits._
      events(s, d)
        .withColumn("k", get_json_object($"props", "$.k").cast("int"))
        .groupBy($"k").agg(count("*").as("n"))
        .orderBy("k")
    }),

    // Stats summary (stats.py:9-25): min/max/avg/stddev per event type.
    // stddev uses Welford-style merge in both engines; round(6) absorbs
    // partition-order reassociation at this magnitude.
    "a_stats_summary" -> ((s, d) => {
      import s.implicits._
      events(s, d)
        .groupBy($"event_type")
        .agg(count("*").as("n"),
          round(min($"value"), 6).as("min_v"),
          round(max($"value"), 6).as("max_v"),
          round(avg($"value"), 6).as("avg_v"),
          round(stddev_samp($"value"), 5).as("sd_v"))
        .orderBy("event_type")
    }),

    // As-of join (the classic "operator Spark lacks"): for each purchase,
    // the most recent click of the same user at or before it. Implemented
    // scalably by composing built-ins — union the two streams, one shuffle
    // on (user_id), running last_value over event time — instead of a
    // range-condition join (which would plan as a broadcast nested loop).
    // The DuckDB oracle uses its NATIVE ASOF JOIN, so the semantics are
    // differentially pinned against an independent implementation.
    "asof_join_purchase_click" -> ((s, d) => {
      import s.implicits._
      val ev = events(s, d)
      val tagged = ev
        .filter($"event_type".isin("purchase", "click"))
        .select($"event_id", $"user_id", $"ts", $"event_type",
          when($"event_type" === "click", $"ts").as("click_ts"))
      val w = Window.partitionBy($"user_id")
        .orderBy($"ts".asc, $"event_type".asc, $"event_id".asc)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      tagged
        .withColumn("last_click_ts", last($"click_ts", ignoreNulls = true).over(w))
        .filter($"event_type" === "purchase")
        .select($"event_id", $"user_id", $"ts",
          $"last_click_ts".as("click_ts"),
          (unix_timestamp($"ts") - unix_timestamp($"last_click_ts"))
            .as("secs_since_click"))
        .orderBy("event_id")
    }),

    // Mann–Whitney U (click vs purchase values) — the NONPARAMETRIC
    // member of the inference family (t-test assumes normality; U only
    // needs ranks). Ranks come from the bounded-bin exact-rank device
    // (binRanked — no global sort), then collapse to per-distinct-value
    // midranks: min-rank + count per quantized value are INVARIANT to
    // how ties were broken, so the rank-sum is deterministic on any
    // partitioning and replays exactly in DuckDB (which may break ties
    // differently). z uses the large-sample normal approximation
    // without the tie-variance correction (documented; ties are sparse
    // on this value distribution).
    "a_mann_whitney" -> ((s, d) => {
      import s.implicits._
      val ev = events(s, d)
        .filter($"event_type".isin("click", "purchase"))
        .select($"event_type", $"value")
      val ranked = binRanked(s, ev, Seq.empty)
        .withColumn("vm", qroundLong($"value" * 1e3))
      val g = ranked.groupBy($"vm")
        .agg(min($"rn").as("mn"), count(lit(1)).as("c"),
          sum(when($"event_type" === "click", 1L).otherwise(0L)).as("ca"))
      g.agg(
          sum($"ca" * (lit(2L) * $"mn" + $"c" - 1L)).as("r1_2"),
          sum($"ca").as("n1"), sum($"c" - $"ca").as("n2"))
        .withColumn("u", ($"r1_2" - $"n1" * ($"n1" + 1L)) / 2.0)
        .withColumn("z", round(
          ($"u" - $"n1" * $"n2" / 2.0) /
            sqrt($"n1" * $"n2" * ($"n1" + $"n2" + 1L) / 12.0), 6))
        .select($"n1", $"n2", round($"u", 6).as("u"), $"z")
    }),

    // Two-sample Kolmogorov-Smirnov test over every event-type pair —
    // the distribution-shift detector that completes the inference trio
    // (Welch = means, Mann-Whitney = stochastic order, KS = whole-CDF).
    // Exact and tie-safe by construction: values milli-quantize to
    // integers, the ECDF gap is kept FRACTION-FREE as |cum1·n2 − cum2·n1|
    // (max over DISTINCT values, so ties contribute once, after the full
    // tie group — the correct KS convention), and only the final D and
    // the α=0.05 critical comparison touch doubles, as identical
    // expressions in both engines. Scale: events shuffle once on
    // (pair, vm); each event lands in ≤ |types|−1 pairs, the cumulative
    // window runs over the per-(pair, vm) AGGREGATE (distinct values,
    // not rows), and the pair table is |types|² broadcast.
    "a_ks_test" -> ((s, d) => {
      import s.implicits._
      val ev = events(s, d)
        .select($"event_type", qroundLong($"value" * 1e3).as("vm"))
      val types = ev.select($"event_type").distinct()
      val pairs = types.toDF("t1").crossJoin(types.toDF("t2"))
        .filter($"t1" < $"t2")
      val side1 = ev.join(broadcast(pairs), $"event_type" === $"t1")
        .select($"t1", $"t2", $"vm", lit(1L).as("c1"), lit(0L).as("c2"))
      val side2 = ev.join(broadcast(pairs), $"event_type" === $"t2")
        .select($"t1", $"t2", $"vm", lit(0L).as("c1"), lit(1L).as("c2"))
      val per = side1.union(side2)
        .groupBy($"t1", $"t2", $"vm")
        .agg(sum($"c1").as("a"), sum($"c2").as("b"))
      val w = Window.partitionBy($"t1", $"t2").orderBy($"vm")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val cum = per
        .withColumn("ca", sum($"a").over(w))
        .withColumn("cb", sum($"b").over(w))
      val g = per.groupBy($"t1", $"t2")
        .agg(sum($"a").as("n1"), sum($"b").as("n2"))
      cum.join(broadcast(g), Seq("t1", "t2"))
        .withColumn("dn", abs($"ca" * $"n2" - $"cb" * $"n1"))
        .groupBy($"t1", $"t2").agg(
          max($"n1").as("n1"), max($"n2").as("n2"), max($"dn").as("d_num"))
        .withColumn("ks_d",
          round($"d_num" / ($"n1" * $"n2").cast("double"), 6))
        .withColumn("reject_05",
          $"d_num" / ($"n1" * $"n2").cast("double") >
            lit(1.358) * sqrt(($"n1" + $"n2").cast("double") /
              ($"n1" * $"n2").cast("double")))
        .select($"t1", $"t2", $"n1", $"n2", $"d_num", $"ks_d", $"reject_05")
        .orderBy("t1", "t2")
    }),

    // Benford's-law first-digit audit over order totals — the classic
    // fabricated-data / pipeline-corruption tripwire (organically-grown
    // monetary values follow P(d) = log10(1 + 1/d); synthetic uniform
    // generators do not, and this query correctly flags the TPC-H-ish
    // generator with a huge chi²). The first significant digit comes
    // from STRING arithmetic on the exact integer part (no float log10,
    // whose ulp at a power of ten could flip a digit cross-engine);
    // observed shares and the chi² statistic are fixed double
    // expressions over exact counts. Scale: one map-side digit extract,
    // a 9-row aggregate, and 9-row arithmetic after it.
    "a_benford_digits" -> ((s, d) => {
      import s.implicits._
      val digits = orders(s, d)
        .select(substring($"o_totalprice".cast("decimal(12,2)")
          .cast("bigint").cast("string"), 1, 1).cast("int").as("digit"))
        .groupBy($"digit").agg(count(lit(1)).as("n"))
      val tot = digits.agg(sum($"n").as("nt"))
      val scored = digits.crossJoin(broadcast(tot))
        .withColumn("benford_share",
          log(10.0, lit(1.0) + lit(1.0) / $"digit"))
        .withColumn("obs_share", $"n".cast("double") / $"nt")
        .withColumn("chi_term",
          ($"n" - $"nt" * $"benford_share") *
            ($"n" - $"nt" * $"benford_share") / ($"nt" * $"benford_share"))
      // micro-quantize each of the 9 chi² terms before summing so the
      // reduction is order-free exact integer addition
      val chi2 = scored.agg(round(
        sum(qroundLong($"chi_term" * 1e6)) / 1e6, 4).as("chi2"))
      scored.select($"digit", $"n",
          round($"obs_share", 6).as("obs_share"),
          round($"benford_share", 6).as("benford_share"))
        .crossJoin(broadcast(chi2))
        .orderBy("digit")
    }),

    // Day-of-week seasonality profile — per-dow mean daily volume and
    // its ratio to the overall mean (the classic seasonality index).
    // The weekday comes from PORTABLE integer arithmetic on the day
    // number ((dnum + 4) mod 7, 0 = Sunday) instead of either engine's
    // locale-dependent dayofweek(); all ratios divide exact integers.
    "a_seasonality_dow" -> ((s, d) => {
      import s.implicits._
      val daily = events(s, d)
        .withColumn("day", to_date($"ts"))
        .groupBy($"day").agg(count(lit(1)).as("n"))
        .withColumn("dow",
          (datediff($"day", lit("1970-01-01").cast("date")) + 4) % 7)
      val tot = daily.agg(sum($"n").as("tn"), count(lit(1)).as("td"))
      daily.groupBy($"dow")
        .agg(count(lit(1)).as("n_days"), sum($"n").as("n_events"))
        .crossJoin(broadcast(tot))
        .withColumn("avg_events", round($"n_events" / $"n_days", 6))
        .withColumn("seasonality_idx", round(
          ($"n_events" / $"n_days") / ($"tn" / $"td"), 6))
        .select($"dow", $"n_days", $"n_events", $"avg_events",
          $"seasonality_idx")
        .orderBy("dow")
    }),

    // First/last-touch conversion attribution — the event-analytics
    // classic (which channel gets credit for a purchase?): each purchase
    // looks back 7 days for the same user's clicks; the earliest click
    // in the window is the first-touch credit, the latest the
    // last-touch, purchases with no in-window click report as
    // unattributed. "Channel" = the click's props.k div 20 (5 synthetic
    // channels via the JSON payload). Determinism: the in-window click
    // ranking orders by (ts, event_id) — a total order — and purchase
    // values micro-quantize before the per-channel sums. Scale: the
    // purchase×click pair frame rides the user equi-join (range
    // predicate is a residual — never a nested loop) and is bounded by
    // per-user weekly activity; both touch models come from ONE ranked
    // pass (row_number + partition count), one shuffle keyed by
    // purchase.
    "a_attribution_touch" -> ((s, d) => {
      import s.implicits._
      val ev = events(s, d)
      val purchases = ev.filter($"event_type" === "purchase")
        .select($"event_id".as("p_id"), $"user_id", $"ts".as("p_ts"),
          qroundLong($"value" * 1e6).as("v_micro"))
        .localCheckpoint(false) // probed by the pair join AND the anti side
      val clicks = ev.filter($"event_type" === "click")
        .select($"user_id", $"ts".as("c_ts"), $"event_id".as("c_id"),
          expr("cast(get_json_object(props, '$.k') as bigint) div 20")
            .as("channel"))
      val pairs = purchases.join(clicks, Seq("user_id"))
        .filter($"c_ts" < $"p_ts" &&
          $"c_ts" >= $"p_ts" - expr("INTERVAL 7 DAYS"))
        .withColumn("rn", row_number().over(
          Window.partitionBy($"p_id").orderBy($"c_ts", $"c_id")))
        .withColumn("cnt",
          count(lit(1)).over(Window.partitionBy($"p_id")))
        .localCheckpoint(false) // one ranked pass feeds both touch models
      val first = pairs.filter($"rn" === 1)
        .select(lit("first_touch").as("model"), $"channel", $"v_micro")
      val last = pairs.filter($"rn" === $"cnt")
        .select(lit("last_touch").as("model"), $"channel", $"v_micro")
      val unatt = purchases
        .join(pairs.select($"p_id").distinct(), Seq("p_id"), "left_anti")
        .select(lit("unattributed").as("model"), lit(-1L).as("channel"),
          $"v_micro")
      first.unionByName(last).unionByName(unatt)
        .groupBy($"model", $"channel")
        .agg(count(lit(1)).as("n_purchases"), sum($"v_micro").as("sv"))
        .select($"model", $"channel", $"n_purchases",
          round($"sv" / 1e6, 6).as("attributed_value"))
        .orderBy("model", "channel")
    }),

    // Data-contract validation report (the Great-Expectations shape, and
    // the generalization of the P9 schema guard / P10 validation gate):
    // a pinned expectation suite — null checks, key uniqueness, value
    // bounds, categorical domain, timestamp range — evaluated in ONE
    // scan as conditional aggregates, shipped long-form as
    // (rule, column, expectation, n_violations, passed). This is the
    // CI gate a pipeline runs before promoting a batch; everything is
    // an exact integer count, trivially engine-identical. Scale: one
    // pass, map-side partial aggregation, 6-row output; new rules add
    // aggregate columns, not passes.
    "dq_expectations" -> ((s, d) => {
      import s.implicits._
      val g = events(s, d).agg(
        sum(when($"event_id".isNull, 1L).otherwise(0L)).as("v1"),
        (count(lit(1)) - countDistinct($"event_id")).as("v2"),
        sum(when($"value" < 0.0, 1L).otherwise(0L)).as("v3"),
        sum(when(!$"event_type".isin(EventTypes: _*), 1L).otherwise(0L))
          .as("v4"),
        sum(when($"ts" < lit("2020-01-01").cast("timestamp") ||
          $"ts" >= lit("2030-01-01").cast("timestamp"), 1L).otherwise(0L))
          .as("v5"),
        sum(when($"user_id".isNull, 1L).otherwise(0L)).as("v6"))
        .localCheckpoint(false) // 1-row aggregate, unpivoted 6 ways
      val rules = Seq(
        (1L, "event_id", "not_null", "v1"),
        (2L, "event_id", "unique", "v2"),
        (3L, "value", "non_negative", "v3"),
        (4L, "event_type", "in_domain", "v4"),
        (5L, "ts", "in_range_2020_2030", "v5"),
        (6L, "user_id", "not_null", "v6"))
      rules.map { case (id, c, e, v) =>
        g.select(lit(id).as("rule_id"), lit(c).as("column_name"),
          lit(e).as("expectation"), col(v).as("n_violations"),
          (col(v) === 0L).as("passed"))
      }.reduce(_.unionByName(_)).orderBy("rule_id")
    }),

    // Mutual information + entropies between event type and weekday —
    // the model-free dependence audit (is the category mix actually
    // day-driven, and by how many bits?) that complements the
    // hypothesis-test family (chi2 says "dependent or not", MI says
    // "how much"), plus the normalized MI feature-relevance score
    // feature selection uses. All counts are exact integers on the
    // |types| x 7 contingency table; each MI/entropy term quantizes to
    // a micro long BEFORE its (35-row / 7-row / |types|-row bounded)
    // sum, and the natural logs run on identical exact ratios — so mi,
    // h_type, h_dow, and nmi = mi/min(h) replay bit-for-bit. Portable
    // weekday arithmetic ((epoch-days + 4) mod 7), no locale. Scale:
    // one corpus-keyed aggregate to the contingency table; everything
    // after is types x 7 arithmetic.
    "a_mutual_info" -> ((s, d) => {
      import s.implicits._
      val xy = events(s, d)
        .withColumn("dow",
          (datediff(to_date($"ts"), lit("1970-01-01").cast("date")) + 4) % 7)
        .groupBy($"event_type", $"dow").agg(count(lit(1)).as("nxy"))
        .localCheckpoint(false) // feeds marginals + the joint terms
      val nx = xy.groupBy($"event_type").agg(sum($"nxy").as("nx"))
      val ny = xy.groupBy($"dow").agg(sum($"nxy").as("ny"))
      val tot = xy.agg(sum($"nxy").as("nn"))
      val mi = xy.join(nx, "event_type").join(ny, "dow")
        .crossJoin(broadcast(tot))
        .select(qroundLong(($"nxy".cast("double") / $"nn")
          * log($"nn".cast("double") * $"nxy"
            / ($"nx".cast("double") * $"ny")) * 1e6)
          .as("t"))
        .agg(sum($"t").as("mi_u"))
      def entropy(m: DataFrame, c: String): DataFrame =
        m.crossJoin(broadcast(tot))
          .select(qroundLong((col(c).cast("double") / $"nn")
            * log(col(c).cast("double") / $"nn") * -1e6)
            .as("t"))
          .agg(sum($"t").as(s"h_$c"))
      mi.crossJoin(broadcast(entropy(nx, "nx")))
        .crossJoin(broadcast(entropy(ny, "ny")))
        .crossJoin(broadcast(tot))
        .select($"nn".as("n_events"),
          round($"mi_u" / 1e6, 6).as("mi"),
          round($"h_nx" / 1e6, 6).as("h_type"),
          round($"h_ny" / 1e6, 6).as("h_dow"),
          // Degenerate-corpus guard: a single event type (or single
          // weekday) has H = 0, making mi/min(H) 0/0; MI is then also 0
          // by definition, so emit nmi = 0 rather than NaN (mirrored in
          // the oracle).
          when(least($"h_nx", $"h_ny") === 0L, lit(0.0))
            .otherwise(round($"mi_u".cast("double")
              / least($"h_nx", $"h_ny"), 6)).as("nmi"))
    }),

    // Skyline / Pareto-front query (Börzsönyi, Kossmann & Stocker, ICDE
    // 2001, "The Skyline Operator"): the maximal users under (total
    // event value, event count) — no other user is >= on both dims and
    // > on one. The multi-objective "best examples" selector every
    // curation stack reinvents (quality vs length vs novelty); here on
    // exact integer dims (micro-quantized value sum, count) so dominance
    // is integer comparison in both engines. TWO-PHASE scale-safe plan:
    // (1) PRUNE — a 1-row min/max broadcast grid-bins the value dim into
    // <= 1001 equi-width buckets (bounded by construction, not by data);
    // the running max of event counts over STRICTLY higher buckets is a
    // dominance envelope (any point at or under it has a strictly-
    // richer, no-less-active dominator), and only envelope-beating
    // points survive — the map-side kill that does the corpus-scale
    // work. (2) VERIFY — exact dominance anti-join among the survivors
    // only; transitivity guarantees every dominator of a survivor is
    // itself a survivor, so the prune is lossless (proven against the
    // N^2 definition in RelationalSpec and by the oracle, which runs
    // the DIRECT NOT-EXISTS definition — a genuinely different
    // algorithm). At 100 TB: one user-keyed aggregate, one bounded
    // envelope, survivor-set-sized quadratic verify.
    "a_pareto_front" -> ((s, d) => {
      import s.implicits._
      val prof = events(s, d).groupBy($"user_id")
        .agg(sum(qroundLong($"value" * 1e6)).as("tv_micro"),
          count(lit(1)).as("n_events"))
        .localCheckpoint(false) // built once; probed by prune + verify
      val st = prof.agg(min($"tv_micro").as("lo"), max($"tv_micro").as("hi"))
      val binned = prof.crossJoin(broadcast(st))
        .withColumn("bkt", when($"hi" === $"lo", lit(0L))
          .otherwise(expr("((tv_micro - lo) * 1000) div (hi - lo + 1)")))
      val env = binned.groupBy($"bkt").agg(max($"n_events").as("bmax"))
      val above = env.withColumn("above",
        max($"bmax").over(Window.orderBy(desc("bkt"))
          .rowsBetween(Window.unboundedPreceding, -1)))
      val cand = binned.join(above.select($"bkt", $"above"), "bkt")
        .filter($"above".isNull || $"n_events" > $"above")
        .select($"user_id", $"tv_micro", $"n_events")
        .localCheckpoint(false) // survivor set: probed by both verify sides
      val c2 = cand.select($"tv_micro".as("qtv"), $"n_events".as("qne"))
      cand.join(c2,
          $"qtv" >= $"tv_micro" && $"qne" >= $"n_events" &&
            ($"qtv" > $"tv_micro" || $"qne" > $"n_events"), "left_anti")
        .select($"user_id", $"n_events", $"tv_micro",
          round($"tv_micro".cast("double") / 1e6, 6).as("total_value"))
        .orderBy("user_id")
    }),

    // First-order Markov transition matrix over per-user event sequences
    // — the behavioral-model readout (what follows a signup?). One
    // user-keyed window (lead over the unique (ts, event_id) order, so
    // every engine sees the same successor) emits the transition stream;
    // counts partial-aggregate to at most |types|² rows, and the row
    // normalization windows over THAT tiny table. At 100 TB the only
    // data-scale shuffle is the user-keyed one; the matrix itself is
    // O(types²) regardless of corpus size.
    "a_markov_transitions" -> ((s, d) => {
      import s.implicits._
      val w = Window.partitionBy($"user_id").orderBy($"ts".asc, $"event_id".asc)
      events(s, d)
        .withColumn("to_type", lead($"event_type", 1).over(w))
        .filter($"to_type".isNotNull)
        .select($"event_type".as("from_type"), $"to_type")
        .groupBy($"from_type", $"to_type").agg(count(lit(1)).as("n"))
        .withColumn("p", round(
          $"n" / sum($"n").over(Window.partitionBy($"from_type")), 6))
        .orderBy("from_type", "to_type")
    }),

    // Time-weighted average value per day (the TWAP of finance / the
    // duration-weighted gauge of monitoring): each reading holds until
    // the next one, so its weight is the µs gap to the day's next event.
    // Exact algebra end to end — micro-second gaps and milli-quantized
    // values are integers, Σ(vm·wus) stays under 2^56 at this value
    // range, and the final division is one fixed double expression.
    // The last reading of each day has no successor and drops out
    // (weight 0), matching the oracle's NULL-lead filter. One day-keyed
    // window + one day-keyed aggregate — a single shuffle at any scale.
    "a_twap_daily" -> ((s, d) => {
      import s.implicits._
      val ev = events(s, d)
        .select(to_date($"ts").as("day"),
          qroundLong($"value" * 1e3).as("vm"),
          unix_micros($"ts").as("tus"), $"event_id")
      val w = Window.partitionBy($"day").orderBy($"tus".asc, $"event_id".asc)
      ev.withColumn("wus", lead($"tus", 1).over(w) - $"tus")
        .filter($"wus".isNotNull)
        .groupBy($"day")
        .agg(count(lit(1)).as("n_spans"),
          sum($"vm" * $"wus").as("num"), sum($"wus").as("den"))
        .select($"day", $"n_spans",
          round($"num" / 1e3 / $"den", 6).as("twap"))
        .orderBy("day")
    }),

    // Theil–Sen robust trend per event type — the median of all pairwise
    // slopes of the daily count series (one outlier day barely moves it,
    // unlike w_trend_slope's OLS). The pair join is over the DAILY
    // aggregate, so its size is bounded by days²·types — calendar-bounded,
    // corpus-size-independent — and each per-type median windows over
    // that bounded pair table. Slopes divide exact-integer doubles, so
    // both engines compute bit-identical IEEE values and the rank-k order
    // statistic (lower median, rank (n+1)/2) is engine-portable without
    // quantization. Intercept uses Conover's med(y) − slope·med(x) form
    // over the same exact order-statistic device.
    "w_trend_theilsen" -> ((s, d) => {
      import s.implicits._
      val daily = events(s, d)
        .withColumn("day", to_date($"ts"))
        .groupBy($"event_type", $"day").agg(count(lit(1)).as("y"))
        .select($"event_type",
          datediff($"day", lit("1970-01-01").cast("date"))
            .cast("long").as("x"), $"y")
      val a = daily.select($"event_type", $"x".as("xa"), $"y".as("ya"))
      val b = daily.select($"event_type".as("tb"), $"x".as("xb"), $"y".as("yb"))
      val wS = Window.partitionBy($"event_type").orderBy($"slope")
      val wT = Window.partitionBy($"event_type")
      val med = a.join(b, $"event_type" === $"tb" && $"xa" < $"xb")
        .withColumn("slope",
          ($"yb" - $"ya").cast("double") / ($"xb" - $"xa").cast("double"))
        .withColumn("rn", row_number().over(wS))
        .withColumn("np", count(lit(1)).over(wT))
        // div, not / — Spark's / on longs is double division, which
        // turns odd (np+1) into x.5 and the rank filter into ∅
        .filter($"rn" === expr("(np + 1) div 2"))
        .select($"event_type", $"np".as("n_pairs"), $"slope")
      def medianOf(c: String, out: String): DataFrame = {
        val wV = Window.partitionBy($"event_type").orderBy(col(c))
        daily.withColumn("rn", row_number().over(wV))
          .withColumn("k", count(lit(1)).over(wT))
          .filter($"rn" === expr("(k + 1) div 2"))
          .select($"event_type".as(s"t_$out"), col(c).cast("double").as(out))
      }
      med
        .join(medianOf("x", "mx"), $"event_type" === $"t_mx")
        .join(medianOf("y", "my"), $"event_type" === $"t_my")
        .select($"event_type", $"n_pairs",
          round($"slope", 6).as("ts_slope"),
          round($"my" - $"slope" * $"mx", 6).as("ts_intercept"))
        .orderBy("event_type")
    }),

    // Autocorrelation function (lags 1–7) of the daily count series per
    // type — the correlogram that tells you whether yesterday predicts
    // today (and exposes the weekly cycle a_seasonality_dow models). Per
    // lag k the matched pairs come from an equi-join of the daily table
    // on dnum = dnum + k (calendar gaps simply drop pairs — documented),
    // and the classic estimator r_k = Σ(y_t−ȳ)(y_{t+k}−ȳ) / Σ(y_t−ȳ)²
    // expands to exact-integer pair sums plus the global (sy, syy, n)
    // moments, so the doubles are fixed expressions over exact inputs.
    // Everything after the first daily aggregate is calendar-bounded.
    // Holt's linear (double-exponential) smoothing over the daily value
    // series (Holt 1957 — the level+trend forecaster beside w_ewma_daily's
    // level-only filter): l_t = α·y_t + (1−α)(l_{t−1}+b_{t−1}),
    // b_t = β(l_t−l_{t−1}) + (1−β)b_{t−1}, α = 0.5, β = 0.3, l_1 = y_1,
    // b_1 = 0; forecast_next = l_t + b_t. An IIR recurrence has no
    // window-function form, so it runs as ONE ordered fold over the
    // calendar-bounded daily array (collect_list of ≤ |corpus days|
    // structs — the same bounded-frame posture as every daily-series op):
    // the engine's only sequential compute is a ≤ tens-of-rows driver-free
    // HOF. Determinism: y is an exact micro long; the level/trend state
    // RE-QUANTIZES TO MICRO LONGS AFTER EVERY STEP, so each step's double
    // arithmetic reads identical long inputs in both engines and the
    // whole trajectory replays bit-for-bit in the oracle's recursive CTE
    // (the GBM residual discipline applied to a time-series filter).
    "a_holt_linear" -> ((s, d) => {
      import s.implicits._
      val daily = events(s, d).groupBy(to_date($"ts").as("day"))
        .agg(sum(qroundLong($"value" * 1e6)).as("ym"))
      val arr = daily.agg(sort_array(collect_list(struct($"day", $"ym")))
        .as("ys"))
      val lNew = qroundLongSql("0.5 * y.ym + 0.5 * (acc.l + acc.b)")
      val bNew = qroundLongSql(s"0.3 * ($lNew - acc.l) + 0.7 * acc.b")
      arr.select(explode(expr(
        s"""aggregate(
           |  ys,
           |  named_struct('l', CAST(0 AS BIGINT), 'b', CAST(0 AS BIGINT),
           |    'out', CAST(array() AS
           |      ARRAY<STRUCT<day: DATE, ym: BIGINT, ln: BIGINT, bn: BIGINT>>)),
           |  (acc, y) -> CASE WHEN size(acc.out) = 0 THEN
           |      named_struct('l', y.ym, 'b', CAST(0 AS BIGINT),
           |        'out', array(named_struct('day', y.day, 'ym', y.ym,
           |          'ln', y.ym, 'bn', CAST(0 AS BIGINT))))
           |    ELSE named_struct('l', $lNew, 'b', $bNew,
           |      'out', concat(acc.out, array(named_struct('day', y.day,
           |        'ym', y.ym, 'ln', $lNew, 'bn', $bNew))))
           |    END,
           |  acc -> acc.out)""".stripMargin)).as("r"))
        .select($"r.day".as("day"),
          round($"r.ym".cast("double") / 1e6, 6).as("y"),
          round($"r.ln".cast("double") / 1e6, 6).as("level"),
          round($"r.bn".cast("double") / 1e6, 6).as("trend"),
          round(($"r.ln" + $"r.bn").cast("double") / 1e6, 6)
            .as("forecast_next"))
        .orderBy("day")
    }),

    "a_acf_daily" -> ((s, d) => {
      import s.implicits._
      val daily = events(s, d)
        .withColumn("day", to_date($"ts"))
        .groupBy($"event_type", $"day").agg(count(lit(1)).as("y"))
        .select($"event_type",
          datediff($"day", lit("1970-01-01").cast("date"))
            .cast("long").as("x"), $"y")
      val g = daily.groupBy($"event_type")
        .agg(count(lit(1)).as("n"), sum($"y").as("sy"),
          sum($"y" * $"y").as("syy"))
      // lag_k, not "lag" — LAG is reserved on the oracle side
      val left = daily.select($"event_type", $"x", $"y".as("y1"),
        explode(typedLit((1 to 7).map(_.toLong))).as("lag_k"))
      val right = daily.toDF("et2", "x2", "y2")
      val lagged = left.join(right,
        $"event_type" === $"et2" && $"x2" === $"x" + $"lag_k")
      lagged.groupBy($"event_type", $"lag_k")
        .agg(count(lit(1)).as("m"), sum($"y1" * $"y2").as("s12"),
          sum($"y1").as("s1"), sum($"y2").as("s2"))
        .join(broadcast(g), "event_type")
        .withColumn("ybar", $"sy" / $"n".cast("double"))
        .withColumn("acf", round(
          ($"s12" - $"ybar" * ($"s1" + $"s2") + $"m" * $"ybar" * $"ybar") /
            ($"syy" - $"sy" * $"ybar"), 6))
        .select($"event_type", $"lag_k", $"m", $"acf")
        .orderBy("event_type", "lag_k")
    }),

    // CUSUM change-point detection over the daily count series — the
    // classic "did the level shift, and when" monitor (Page 1954 shape,
    // offline form). The cumulative deviation Σ(y_i − ȳ) is kept
    // FRACTION-FREE as S_t = n·cumsum(y) − t·Σy (exact integers), so the
    // argmax |S_t| day is engine-portable with an earliest-day tie-break;
    // the reported peak rescales by 1/n at the end. The cumulative window
    // runs over the tiny daily aggregate — never the corpus.
    "a_cusum_changepoint" -> ((s, d) => {
      import s.implicits._
      val daily = events(s, d)
        .withColumn("day", to_date($"ts"))
        .groupBy($"event_type", $"day").agg(count(lit(1)).as("y"))
      val w = Window.partitionBy($"event_type").orderBy($"day")
      val cum = daily
        .withColumn("t", row_number().over(w).cast("long"))
        .withColumn("cy", sum($"y").over(
          w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      val g = daily.groupBy($"event_type")
        .agg(count(lit(1)).as("n"), sum($"y").as("sy"))
      val scored = cum.join(broadcast(g), "event_type")
        .withColumn("snum", $"n" * $"cy" - $"t" * $"sy") // n·S_t, exact
      topK(scored, Seq($"event_type"), Seq(abs($"snum").desc, $"day".asc), 1, None)
        .select($"event_type", $"day".as("cp_day"), $"n".as("n_days"),
          round(abs($"snum") / $"n".cast("double"), 6).as("cusum_peak"))
        .orderBy("event_type")
    }),

    // Robust per-type distribution profile — exact lower-quartile /
    // median / upper-quartile, IQR, MAD, and the Tukey-fence outlier
    // count (the robust siblings of a_stats_summary's moment stats; one
    // wild value moves none of these). Every order statistic comes from
    // the bounded-bin exact-rank device — two binRanked passes (values,
    // then |v − median| deviations), never an unpartitioned sort — and
    // all selected values are milli-quantized integers, so medians, MAD
    // and the fence comparisons are exact and engine-portable. Rank
    // convention: lower statistic at rank (n+1) div k, shared with the
    // oracle. At 100 TB each pass shuffles on (type, bin); the fence
    // count is a map-side probe against the broadcast 5-row thresholds.
    "a_robust_stats" -> ((s, d) => {
      import s.implicits._
      val ev = events(s, d).select($"event_type", $"value")
      // round 18: pin the ranked frame (quartiles, deviations and the
      // outlier count each re-ran the whole exact-rank pass) and the
      // 5-row quartile table (three consumers)
      val r1 = binRanked(s, ev, Seq("event_type"))
        .withColumn("vm", qroundLong($"value" * 1e3))
        .localCheckpoint(false)
      val qs = r1.groupBy($"event_type").agg(
        max($"n").as("n"),
        max(when($"rn" === expr("greatest((n + 1) div 4, 1)"), $"vm")).as("q1m"),
        max(when($"rn" === expr("(n + 1) div 2"), $"vm")).as("medm"),
        max(when($"rn" === expr("(3 * (n + 1)) div 4"), $"vm")).as("q3m"))
        .localCheckpoint(false)
      val dev = r1.select($"event_type", $"vm")
        .join(broadcast(qs.select($"event_type", $"medm")), "event_type")
        .withColumn("dm", abs($"vm" - $"medm"))
        .withColumn("value", $"dm" / 1e3)
      val mad = binRanked(s, dev, Seq("event_type"))
        .groupBy($"event_type")
        .agg(max(when($"rn" === expr("(n + 1) div 2"), $"dm")).as("madm"))
      val outl = r1.select($"event_type", $"vm")
        .join(broadcast(qs.select($"event_type", $"q1m", $"q3m")), "event_type")
        .groupBy($"event_type")
        .agg(sum(when(
          $"vm" < $"q1m" - lit(1.5) * ($"q3m" - $"q1m") ||
            $"vm" > $"q3m" + lit(1.5) * ($"q3m" - $"q1m"), 1L)
          .otherwise(0L)).as("n_outliers"))
      qs.join(mad, "event_type").join(outl, "event_type")
        .select($"event_type", $"n",
          round($"medm" / 1e3, 6).as("median"),
          round($"q1m" / 1e3, 6).as("q1"),
          round($"q3m" / 1e3, 6).as("q3"),
          round(($"q3m" - $"q1m") / 1e3, 6).as("iqr"),
          round($"madm" / 1e3, 6).as("mad"),
          $"n_outliers")
        .orderBy("event_type")
    }),

    // Welch's t-test between every event-type pair (the A/B-experiment
    // readout; completes the inference trio with a_bootstrap_ci and
    // a_chi2_daily_mix). ONE corpus pass accumulates the exact
    // milliMoments (n, Σvm, Σvm²) per group, so the 5-row stats table
    // is bit-identical on any partitioning — then the t statistic
    // and Welch–Satterthwaite df are fixed-order double expressions
    // over those integers, evaluated on the tiny pair self-join.
    "a_ttest_welch" -> ((s, d) => {
      import s.implicits._
      val g = milliMoments(events(s, d), $"event_type")
        .withColumn("m", $"sv" / 1e3 / $"n")
        .withColumn("v",
          ($"ssv" / 1e6 - ($"sv" / 1e3) * ($"sv" / 1e3) / $"n") / ($"n" - 1))
      val a = g.select($"event_type".as("type_a"), $"n".as("na"),
        $"m".as("ma"), $"v".as("va"))
      val b = g.select($"event_type".as("type_b"), $"n".as("nb"),
        $"m".as("mb"), $"v".as("vb"))
      a.join(b, $"type_a" < $"type_b")
        .withColumn("se2", $"va" / $"na" + $"vb" / $"nb")
        .withColumn("t", round(($"ma" - $"mb") / sqrt($"se2"), 6))
        .withColumn("df", round(
          $"se2" * $"se2" /
            (($"va" / $"na") * ($"va" / $"na") / ($"na" - 1) +
              ($"vb" / $"nb") * ($"vb" / $"nb") / ($"nb" - 1)), 6))
        .select($"type_a", $"type_b", $"na", $"nb",
          round($"ma", 6).as("mean_a"), round($"mb", 6).as("mean_b"),
          $"t", $"df")
        .orderBy("type_a", "type_b")
    }),

    // Benjamini-Hochberg FDR control over the m = C(5,2) = 10 pairwise
    // Welch tests above — the multiple-testing correction every
    // many-metric experiment dashboard needs (test 10 hypotheses at
    // α = .05 uncorrected and ~40% of null experiments flag something).
    // BH: sort p ascending, k* = max{k : p(k) ≤ α·k/m}, reject 1..k*.
    // With the large-sample z approximation (n is in the thousands
    // here; exact t only matters at tiny n — documented divergence from
    // textbook small-sample BH), p(k) ≤ α·k/m ⟺ |t|(k) ≥
    // Φ⁻¹(1 − α·k/(2m)), so the whole decision works on a LADDER of m
    // injected normal quantiles (Acklam's inverse-CDF evaluated
    // driver-side — the z_.975-style constant-injection pattern of
    // a_power_analysis/a_sprt_monitor, extended to a rank-indexed
    // array) and no CDF is ever evaluated in either engine. Ties in
    // |t| break on the pair key. Scale: the welch moment pass + a
    // 10-row ranked ladder.
    "a_bh_fdr" -> ((s, d) => {
      import s.implicits._
      val zc = bhZCrit.toSeq
      val g = milliMoments(events(s, d), $"event_type")
        .withColumn("m", $"sv" / 1e3 / $"n")
        .withColumn("v",
          ($"ssv" / 1e6 - ($"sv" / 1e3) * ($"sv" / 1e3) / $"n") / ($"n" - 1))
      val a = g.select($"event_type".as("type_a"), $"n".as("na"),
        $"m".as("ma"), $"v".as("va"))
      val b = g.select($"event_type".as("type_b"), $"n".as("nb"),
        $"m".as("mb"), $"v".as("vb"))
      val wRank = Window.orderBy(desc("abs_t"), asc("type_a"), asc("type_b"))
      val wAll = Window.rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing)
      a.join(b, $"type_a" < $"type_b")
        .withColumn("abs_t", abs(round(($"ma" - $"mb")
          / sqrt($"va" / $"na" + $"vb" / $"nb"), 6)))
        .withColumn("rank", row_number().over(wRank))
        .withColumn("zcrit", round(element_at(typedLit(zc), $"rank"), 6))
        .withColumn("kstar",
          max(when($"abs_t" >= $"zcrit", $"rank").otherwise(0)).over(wAll))
        .select($"type_a", $"type_b", $"abs_t", $"rank", $"zcrit",
          ($"rank" <= $"kstar").as("rejected"))
        .orderBy("rank")
    }),

    // Per-group OLS trend line — slope/intercept/r² of the daily event
    // count against the day number, per type (the "is this metric
    // drifting" readout). All five moment sums (k, Σx, Σy, Σxy, Σx²,
    // Σy²) are exact integers from one partial-aggregated pass, so the
    // closed-form coefficients are fixed double expressions over exact
    // inputs — a grouped sibling of ml_ridge_probe's normal equations.
    "w_trend_slope" -> ((s, d) => {
      import s.implicits._
      val daily = events(s, d)
        .withColumn("day", to_date($"ts"))
        .groupBy($"event_type", $"day").agg(count(lit(1)).as("y"))
        .withColumn("x", datediff($"day", lit("1970-01-01").cast("date"))
          .cast("long"))
      daily.groupBy($"event_type")
        .agg(count(lit(1)).as("k"), sum($"x").as("sx"), sum($"y").as("sy"),
          sum($"x" * $"y").as("sxy"), sum($"x" * $"x").as("sxx"),
          sum($"y" * $"y").as("syy"))
        // exact integer sums (< 2^53, so their double images are exact);
        // all downstream algebra in double — products of the sums would
        // overflow BIGINT
        .select($"event_type", $"k",
          $"k".cast("double").as("kd"), $"sx".cast("double").as("sxd"),
          $"sy".cast("double").as("syd"), $"sxy".cast("double").as("sxyd"),
          $"sxx".cast("double").as("sxxd"), $"syy".cast("double").as("syyd"))
        .withColumn("den", $"kd" * $"sxxd" - $"sxd" * $"sxd")
        .withColumn("num", $"kd" * $"sxyd" - $"sxd" * $"syd")
        .withColumn("slope", $"num" / $"den")
        .withColumn("intercept", ($"syd" - $"slope" * $"sxd") / $"kd")
        .withColumn("r2",
          ($"num" * $"num") / ($"den" * ($"kd" * $"syyd" - $"syd" * $"syd")))
        .select($"event_type", $"k",
          round($"slope", 6).as("slope"),
          round($"intercept", 6).as("intercept"),
          round($"r2", 6).as("r2"))
        .orderBy("event_type")
    }),

    // Ranking-family completeness: rank / dense_rank / percent_rank /
    // cume_dist / nth_value in one per-nation window over order totals
    // (ties broken by orderkey so every engine agrees row-for-row). One
    // customer→nation broadcast + one nation-partitioned window — the
    // window family shares a single shuffle.
    "w_rank_family" -> ((s, d) => {
      import s.implicits._
      val o = orders(s, d)
        .join(broadcast(customer(s, d)
          .select($"c_custkey", $"c_nationkey".as("nation"))),
          $"o_custkey" === $"c_custkey")
        .select($"nation", $"o_orderkey", $"o_totalprice")
      val w = Window.partitionBy($"nation")
        .orderBy(desc("o_totalprice"), asc("o_orderkey"))
      o.withColumn("rnk", rank().over(w))
        .withColumn("drnk", dense_rank().over(w))
        .withColumn("prank", round(percent_rank().over(w), 6))
        .withColumn("cdist", round(cume_dist().over(w), 6))
        .withColumn("third_price",
          nth_value($"o_totalprice", 3).over(
            w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        .filter($"rnk" <= 5)
        .select($"nation", $"rnk", $"drnk", $"prank", $"cdist",
          $"o_orderkey", $"o_totalprice", $"third_price")
        .orderBy("nation", "rnk", "o_orderkey")
    }),

    // RANGE-frame moving window — the 3-day moving average per type
    // computed with a RANGE (value-based) frame over the day number, so
    // CALENDAR gaps shrink the window instead of silently pulling in
    // older rows the way a ROWS frame would. Exact: the frame sums
    // integer counts; the average divides two exact values.
    "w_moving_range_3d" -> ((s, d) => {
      import s.implicits._
      val daily = events(s, d)
        .withColumn("day", to_date($"ts"))
        .groupBy($"day", $"event_type").agg(count(lit(1)).as("n"))
        .withColumn("dnum", datediff($"day", lit("1970-01-01").cast("date")))
      val w = Window.partitionBy($"event_type").orderBy($"dnum")
        .rangeBetween(-2, Window.currentRow)
      daily
        .withColumn("n_3d", sum($"n").over(w))
        .withColumn("days_in_frame", count(lit(1)).over(w))
        .withColumn("avg_3d", round($"n_3d" / $"days_in_frame", 6))
        .select($"day", $"event_type", $"n", $"n_3d", $"days_in_frame",
          $"avg_3d")
        .orderBy("day", "event_type")
    }),

    // Forward as-of join — for each purchase, the EARLIEST view at or
    // after it (time-to-next-engagement; the mirror of the backward
    // as-of above). Same composed-builtins device run in reverse: union
    // the streams, one (user) shuffle, last non-null view ts over the
    // DESCENDING-time frame that excludes the current row's own side —
    // never a range-condition nested loop. Oracle = DuckDB's native
    // forward ASOF (p.ts <= v.ts), so both directions of the operator
    // are differentially pinned against an independent implementation.
    "asof_join_next_view" -> ((s, d) => {
      import s.implicits._
      val ev = events(s, d)
      val tagged = ev
        .filter($"event_type".isin("purchase", "view"))
        .select($"event_id", $"user_id", $"ts", $"event_type",
          when($"event_type" === "view", $"ts").as("vts"))
      val w = Window.partitionBy($"user_id")
        .orderBy($"ts".desc, $"event_type".desc, $"event_id".desc)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      tagged
        .withColumn("next_view_ts", last($"vts", ignoreNulls = true).over(w))
        .filter($"event_type" === "purchase")
        .select($"event_id", $"user_id", $"ts",
          $"next_view_ts".as("view_ts"),
          (unix_timestamp($"next_view_ts") - unix_timestamp($"ts"))
            .as("secs_to_view"))
        .orderBy("event_id")
    }),

    // Exact interpolated percentiles WITHOUT per-group value buffering.
    // Spark's `percentile` aggregate holds every value of a group in one
    // reducer buffer — with 5 event types that is 5 tasks each buffering
    // ~1/5 of the table (a 100 TB scale-killer). Instead: bin-rank every
    // row (see binRanked — all windows partitioned, the only global pass
    // is over the tiny bin-count table), then pick the two rows at the
    // interpolation ranks with conditional aggregates and interpolate
    // exactly like percentile_cont: v_lo + frac * (v_hi - v_lo) with
    // k = 1 + (n-1)*p. The sketch-based scale path is a_approx_stats.
    "a_percentiles" -> ((s, d) => {
      import s.implicits._
      val ranked = binRanked(s,
        events(s, d).select($"event_type", $"value"), Seq("event_type"))
      def vAt(p: Double, lo: Boolean) = {
        val k = lit(1.0) + ($"n" - 1).cast("double") * lit(p)
        max(when($"rn" === (if (lo) floor(k) else ceil(k)), $"value"))
      }
      def interp(p: Double, lo: Column, hi: Column) = {
        val k = lit(1.0) + ($"nn" - 1).cast("double") * lit(p)
        round(lo + (hi - lo) * (k - floor(k)), 6)
      }
      ranked.groupBy($"event_type")
        .agg(max($"n").as("nn"),
          vAt(0.5, lo = true).as("lo50"), vAt(0.5, lo = false).as("hi50"),
          vAt(0.95, lo = true).as("lo95"), vAt(0.95, lo = false).as("hi95"),
          vAt(0.99, lo = true).as("lo99"), vAt(0.99, lo = false).as("hi99"))
        .select($"event_type",
          interp(0.5, $"lo50", $"hi50").as("p50"),
          interp(0.95, $"lo95", $"hi95").as("p95"),
          interp(0.99, $"lo99", $"hi99").as("p99"))
        .orderBy("event_type")
    }),

    // Bayesian A/B readout in closed form — Beta-Binomial conjugacy
    // (Beta(1,1) prior + binomial conversions ⇒ posterior
    // Beta(1+c, 1+n−c)): per arm, the posterior MEAN, MAP, and SD of
    // the purchase-conversion rate, plus the moment-matched normal
    // approximation of P(treat > ctrl) reported as its z-SCORE
    // (Δmean/√(var₀+var₁)) rather than a CDF value — the standard
    // dashboard compromise that keeps both engines CDF-free (the
    // a_bh_fdr ladder trick doesn't apply: this z is data-dependent).
    // Everything is rational arithmetic over exact user counts; one
    // distinct-user aggregate feeds the whole readout.
    "a_bayes_ab" -> ((s, d) => {
      import s.implicits._
      val conv = events(s, d)
        .groupBy($"user_id")
        .agg(max(when($"event_type" === "purchase", 1L).otherwise(0L))
          .as("converted"))
        .select(pmod($"user_id", lit(2L)).as("arm"), $"converted")
        .groupBy($"arm")
        .agg(count(lit(1)).as("n"), sum($"converted").as("c"))
        .withColumn("alpha", ($"c" + 1L).cast("double"))
        .withColumn("beta", ($"n" - $"c" + 1L).cast("double"))
        .withColumn("post_mean", $"alpha" / ($"alpha" + $"beta"))
        .withColumn("post_map", ($"alpha" - 1.0) / ($"alpha" + $"beta" - 2.0))
        .withColumn("post_var", $"alpha" * $"beta"
          / (($"alpha" + $"beta") * ($"alpha" + $"beta")
            * ($"alpha" + $"beta" + 1.0)))
      val a0 = conv.filter($"arm" === 0L).select($"n".as("n0"), $"c".as("c0"),
        $"post_mean".as("m0"), $"post_map".as("map0"), $"post_var".as("v0"))
      val a1 = conv.filter($"arm" === 1L).select($"n".as("n1"), $"c".as("c1"),
        $"post_mean".as("m1"), $"post_map".as("map1"), $"post_var".as("v1"))
      a0.crossJoin(a1)
        .select($"n0", $"c0", round($"m0", 6).as("mean_arm0"),
          round($"map0", 6).as("map_arm0"),
          $"n1", $"c1", round($"m1", 6).as("mean_arm1"),
          round($"map1", 6).as("map_arm1"),
          round(($"m1" - $"m0") / sqrt($"v0" + $"v1"), 6).as("lift_z"))
    }),

    // Quantile treatment effects at the deciles — the DISTRIBUTIONAL
    // experiment readout (a mean shift and a tail shift are different
    // products; QTE(τ) = Q_treat(τ) − Q_ctrl(τ) is the standard lens,
    // Koenker/Bassett quantile-regression's two-sample special case).
    // Per arm (the a_srm_check user split), the exact type-7 quantile at
    // τ = 0.1..0.9 via the binRanked device — rank selection shuffles by
    // (arm, value-bin), never a global sort — then one 9-row join of the
    // two arms. Both q's are 6dp-rounded BEFORE the difference, matching
    // the oracle's quantile_cont exactly (the a_percentiles contract).
    "a_qte_deciles" -> ((s, d) => {
      import s.implicits._
      val ev = events(s, d)
        .select(pmod($"user_id", lit(2L)).as("arm"), $"value")
      val ranked = binRanked(s, ev, Seq("arm"))
      val ps = (1 to 9).map(_ / 10.0)
      def vAt(p: Double, lo: Boolean) = {
        val k = lit(1.0) + ($"n" - 1).cast("double") * lit(p)
        max(when($"rn" === (if (lo) floor(k) else ceil(k)), $"value"))
      }
      val aggs = ps.zipWithIndex.flatMap { case (p, i) =>
        Seq(vAt(p, lo = true).as(s"lo$i"), vAt(p, lo = false).as(s"hi$i"))
      }
      val allAggs = max($"n").as("nn") +: aggs
      val g = ranked.groupBy($"arm").agg(allAggs.head, allAggs.tail: _*)
      val long = ps.zipWithIndex.map { case (p, i) =>
        val k = lit(1.0) + ($"nn" - 1).cast("double") * lit(p)
        g.select($"arm", lit((i + 1).toLong).as("decile"),
          round(col(s"lo$i") + (col(s"hi$i") - col(s"lo$i"))
            * (k - floor(k)), 6).as("q"))
      }.reduce(_ unionByName _)
      long.filter($"arm" === 0L).select($"decile", $"q".as("q_arm0"))
        .join(long.filter($"arm" === 1L)
          .select($"decile", $"q".as("q_arm1")), "decile")
        .withColumn("qte", round($"q_arm1" - $"q_arm0", 6))
        .orderBy("decile")
    }),

    // Data profiling (training-pipeline staple): per-column null rate,
    // distinct count, min/max rendered as strings — long-form so new
    // columns don't change the schema. One pass per column group via a
    // single wide aggregate, unioned long.
    // k-anonymity audit (Sweeney 2002, "k-Anonymity: A Model for
    // Protecting Privacy") over the document catalog's quasi-identifier
    // tuple (lang, source, n_chars div 100 size bin): a record is
    // k-anonymous iff at least k records share its full QI combination,
    // so re-identification risk concentrates in the small groups. For
    // k in {2, 5, 10}: how many docs / groups sit below the threshold
    // and what share of the corpus that is — the privacy companion to
    // text_pii_redact (that op scrubs direct identifiers; this one
    // measures QUASI-identifier exposure, the half k-anonymity exists
    // for). Scale: one QI-keyed aggregate (map-side combinable), then
    // 3 x |QI-combinations| bounded arithmetic — the corpus never
    // touches the k fan-out.
    "privacy_k_anonymity" -> ((s, d) => {
      import s.implicits._
      val g = documents(s, d)
        .select($"lang", $"source", expr("n_chars div 100").as("size_bin"))
        .groupBy($"lang", $"source", $"size_bin")
        .agg(count(lit(1)).as("gsz"))
        .localCheckpoint(false) // one aggregate, 3 k-level probes
      Seq(2L, 5L, 10L).toDF("k").crossJoin(g)
        .groupBy($"k").agg(
          sum($"gsz").as("n_docs"),
          count(lit(1)).as("n_groups"),
          sum(when($"gsz" < $"k", $"gsz").otherwise(0L)).as("n_risky_docs"),
          sum(when($"gsz" < $"k", 1L).otherwise(0L)).as("n_risky_groups"))
        .select($"k", $"n_docs", $"n_groups", $"n_risky_docs",
          $"n_risky_groups",
          round($"n_risky_docs".cast("double") / $"n_docs", 6)
            .as("risky_share"))
        .orderBy("k")
    }),

    // l-diversity audit (Machanavajjhala et al. 2007, "l-Diversity:
    // Privacy Beyond k-Anonymity", TKDD 1(1)) — the companion to
    // privacy_k_anonymity on the SAME quasi-identifier tuple
    // (lang, source, n_chars div 100): k-anonymity bounds group SIZE,
    // but a large group whose members all share one sensitive value
    // still leaks it to anyone who can place a target in the group
    // (the homogeneity attack); a group is l-diverse iff it contains
    // >= l DISTINCT sensitive values. The fixtures carry no genuinely
    // sensitive column, so the shipped query instantiates the sensitive
    // attribute with a deterministic 5-class content fingerprint
    // (poly_hash(text) mod 5 — PolyHash is always non-negative, so
    // plain % matches the oracle); the distinct-count machinery and the
    // per-l verdicts are what the op delivers — production swaps in the
    // real attribute column. Output per l in {2, 3, 5}: docs/groups
    // below the diversity threshold, their corpus share, and the
    // corpus-wide diversity floor min_l (the largest l for which the
    // whole corpus is l-diverse is min_l itself). Scale: one
    // QI+sensitive-keyed aggregate then a QI-keyed rollup, both
    // map-side combinable; the l fan-out and the floor touch only the
    // |QI-combinations|-bounded group frame.
    "privacy_l_diversity" -> ((s, d) => {
      import s.implicits._
      val g = documents(s, d)
        .select($"lang", $"source", expr("n_chars div 100").as("size_bin"),
          (graft.functions.PolyHash.poly_hash($"text") % 5L).as("sens"))
        .groupBy($"lang", $"source", $"size_bin", $"sens")
        .agg(count(lit(1)).as("cnt"))
        .groupBy($"lang", $"source", $"size_bin")
        .agg(sum($"cnt").as("gsz"), count(lit(1)).as("ndist"))
        .localCheckpoint(false) // one rollup, 3 l-level probes + the floor
      val floor = g.agg(min($"ndist").as("min_l"))
      Seq(2L, 3L, 5L).toDF("l").crossJoin(g)
        .groupBy($"l").agg(
          sum($"gsz").as("n_docs"),
          count(lit(1)).as("n_groups"),
          sum(when($"ndist" < $"l", $"gsz").otherwise(0L))
            .as("n_risky_docs"),
          sum(when($"ndist" < $"l", 1L).otherwise(0L))
            .as("n_risky_groups"))
        .crossJoin(broadcast(floor))
        .select($"l", $"n_docs", $"n_groups", $"n_risky_docs",
          $"n_risky_groups",
          round($"n_risky_docs".cast("double") / $"n_docs", 6)
            .as("risky_share"),
          $"min_l")
        .orderBy("l")
    }),

    // t-closeness audit (Li, Li & Venkatasubramanian, ICDE 2007,
    // "t-Closeness: Privacy Beyond k-Anonymity and l-Diversity") — the
    // third privacy lens on the SAME quasi-identifier grouping:
    // l-diversity counts distinct sensitive values, but a group whose
    // sensitive DISTRIBUTION is skewed far from the corpus-wide one
    // still leaks (the skewness attack — "diverse" but 90% one class).
    // A group satisfies t-closeness iff the distance between its
    // sensitive distribution and the global distribution is <= t; for a
    // categorical attribute with unit ground distance the EMD reduces to
    // total variation = L1/2. Sensitive attribute = the same 5-class
    // content fingerprint as privacy_l_diversity. Distance terms: the
    // per-class |p_group - p_global| quantizes to a micro long BEFORE
    // the (5-bounded) sum, so dist replays exactly; absent classes
    // contribute |0 - p_global| via the class-domain cross join
    // (|QI-groups| x 5, bounded). Output per t in {0.2, 0.35, 0.5}:
    // violating groups/docs + shares and the corpus-wide max distance.
    // Scale: one QI+class aggregate, one QI rollup, 5-row class domain —
    // all map-side combinable; nothing grows beyond |QI-combinations|.
    "privacy_t_closeness" -> ((s, d) => {
      import s.implicits._
      val sv = documents(s, d)
        .select($"lang", $"source", expr("n_chars div 100").as("size_bin"),
          (graft.functions.PolyHash.poly_hash($"text") % 5L).as("sens"))
        .localCheckpoint(false) // feeds group counts + global marginals
      val gs = sv.groupBy($"lang", $"source", $"size_bin", $"sens")
        .agg(count(lit(1)).as("cnt"))
      val g = gs.groupBy($"lang", $"source", $"size_bin")
        .agg(sum($"cnt").as("gsz"))
      val glob = sv.groupBy($"sens").agg(count(lit(1)).as("gcnt"))
      val tot = sv.agg(count(lit(1)).as("nn"))
      val dom = g.crossJoin(broadcast(glob)).crossJoin(broadcast(tot))
      val dist = dom
        .join(gs, Seq("lang", "source", "size_bin", "sens"), "left")
        .na.fill(0L, Seq("cnt"))
        .select($"lang", $"source", $"size_bin", $"gsz",
          qroundLong(abs($"cnt".cast("double") / $"gsz"
            - $"gcnt".cast("double") / $"nn") * 1e6)
            .as("term_micro"))
        .groupBy($"lang", $"source", $"size_bin")
        .agg(max($"gsz").as("gsz"),
          // integer halving (Spark's `/` on longs is double division;
          // DuckDB mirrors with //)
          expr("sum(term_micro) div 2").as("dist_micro"))
        .localCheckpoint(false) // 3 t-level probes + the max
      val mx = dist.agg(max($"dist_micro").as("max_micro"))
      Seq(200000L, 350000L, 500000L).toDF("t_micro").crossJoin(dist)
        .groupBy($"t_micro").agg(
          sum($"gsz").as("n_docs"),
          count(lit(1)).as("n_groups"),
          sum(when($"dist_micro" > $"t_micro", $"gsz").otherwise(0L))
            .as("n_far_docs"),
          sum(when($"dist_micro" > $"t_micro", 1L).otherwise(0L))
            .as("n_far_groups"))
        .crossJoin(broadcast(mx))
        .select(round($"t_micro" / 1e6, 2).as("t"),
          $"n_docs", $"n_groups", $"n_far_docs", $"n_far_groups",
          round($"n_far_docs".cast("double") / $"n_docs", 6)
            .as("far_share"),
          round($"max_micro" / 1e6, 6).as("max_dist"))
        .orderBy("t")
    }),

    "profile_events" -> ((s, d) => {
      import s.implicits._
      val ev = events(s, d)
      val total = count(lit(1))
      def prof(c: String) = ev.agg(
        total.as("n_rows"),
        sum(when(col(c).isNull, 1).otherwise(0)).as("n_null"),
        countDistinct(col(c)).as("n_distinct"),
        min(col(c)).cast("string").as("min_str"),
        max(col(c)).cast("string").as("max_str"))
        .select(lit(c).as("column"), $"n_rows", $"n_null", $"n_distinct",
          $"min_str", $"max_str")
      Seq("event_id", "user_id", "event_type", "value")
        .map(prof).reduce(_ union _)
        .orderBy("column")
    }),

    // Statistical aggregates: Pearson correlation and sample covariance
    // of value vs the json-extracted k, per event type.
    "a_corr_covar" -> ((s, d) => {
      import s.implicits._
      events(s, d)
        .withColumn("k", get_json_object($"props", "$.k").cast("double"))
        .groupBy($"event_type")
        .agg(round(corr($"value", $"k"), 6).as("corr_vk"),
          round(covar_samp($"value", $"k"), 4).as("covar_vk"))
        .orderBy("event_type")
    }),

    // Equi-depth histogram (exact ntile semantics) with NO global window:
    // `ntile(10) OVER (ORDER BY value)` would move the whole table into a
    // single partition. Instead bin-rank rows (binRanked: partitioned
    // windows only) and derive the ntile bucket arithmetically from the
    // global rank — first n%10 buckets get ceil(n/10) rows, rest get
    // floor(n/10), exactly SQL ntile.
    "f29b_equidepth_deciles" -> ((s, d) => {
      import s.implicits._
      val ranked = binRanked(s, events(s, d).select($"value"), Seq.empty)
      val sz = floor($"n" / 10)
      val r = $"n" % 10
      val bucket = when($"rn" <= r * (sz + 1),
          floor(($"rn" - 1) / (sz + 1)) + 1)
        .otherwise(r + floor(($"rn" - r * (sz + 1) - 1) /
          greatest(sz, lit(1L))) + 1)
      ranked.withColumn("decile", bucket.cast("int"))
        .groupBy($"decile")
        .agg(count(lit(1)).as("n"),
          round(min($"value"), 6).as("lo"),
          round(max($"value"), 6).as("hi"))
        .orderBy("decile")
    }),

    // Mergeable-sketch two-level aggregation — the 100 TB pattern behind
    // incremental distinct counts: build an HLL sketch per (event_type,
    // day) "shard" (in production these persist as binary columns next to
    // each partition), then MERGE the shard sketches per event_type
    // instead of re-scanning raw data. HLL registers are max-merged, so
    // the union is order-independent and deterministic. Oracled as a
    // PROPERTY CONTRACT (round 11): the datasketches estimate itself has
    // no SQL twin (DuckDB's HLL hashes differently), so the output
    // carries the exactly-replayable shard bookkeeping (n_shards, n_rows,
    // exact_users) plus `est_ok` = |est − exact| ≤ 5%·exact; the oracle
    // asserts TRUE, so an estimate drifting out of bounds (or a broken
    // merge) hash-mismatches instead of passing silently. The relational
    // twin `a_hll_shard_merge` oracles the register-merge math itself
    // bit-for-bit.
    "a_sketch_merge" -> ((s, d) => {
      import s.implicits._
      val shardSketches = events(s, d)
        .groupBy($"event_type", to_date($"ts").as("day"))
        .agg(hll_sketch_agg($"user_id").as("sk"),
          count(lit(1)).as("n_rows"))
      val merged = shardSketches
        .groupBy($"event_type")
        .agg(hll_sketch_estimate(hll_union_agg($"sk")).as("est_users"),
          count(lit(1)).as("n_shards"),
          sum($"n_rows").as("n_rows"))
      events(s, d).groupBy($"event_type")
        .agg(countDistinct($"user_id").as("exact_users"))
        .join(merged, "event_type")
        .select($"event_type", $"n_shards", $"n_rows", $"exact_users",
          (abs($"est_users" - $"exact_users") <=
            lit(0.05) * $"exact_users").as("est_ok"))
        .orderBy("event_type")
    }),

    // One-pass Poisson bootstrap (Chamandy et al., "Estimating Uncertainty
    // for Massive Data Streams" — the distributed bootstrap): classic
    // resampling needs B passes with shared RNG state; the Poisson trick
    // draws each row's multiplicity in resample b independently as
    // ~Poisson(1), so ALL B resamples happen in ONE scan (explode b,
    // weight, partial-aggregate to B×types cells — the shuffle carries
    // 32×5 rows, not the corpus). The weight here is a DETERMINISTIC
    // pseudo-Poisson surrogate — hash-indexed into [0,0,0,0,1,1,1,2,2,3],
    // which matches Poisson(1)'s mean AND variance exactly (E=1, Var=1) —
    // so the op is rerun-stable and oracle-reproducible. CI bounds are
    // the 2nd/31st order statistics of the 32 resample means (~93.8%
    // coverage), ties broken by resample id.
    "a_bootstrap_ci" -> ((s, d) => {
      import s.implicits._
      val B = 32
      val wTable = typedLit(Seq(0, 0, 0, 0, 1, 1, 1, 2, 2, 3))
      val rs = events(s, d)
        .select($"event_type", $"event_id".cast("string").as("eid"), $"value")
        .select($"event_type", $"value",
          explode(sequence(lit(0), lit(B - 1))).as("b"), $"eid")
        .withColumn("h", graft.functions.PolyHash.poly_hash(
          concat($"eid", lit(":"), $"b".cast("string"))))
        .withColumn("w", element_at(wTable, ($"h" % 10 + 1).cast("int")))
      val meansB = rs.groupBy($"event_type", $"b")
        .agg(round(sum($"w" * $"value") / sum($"w"), 6).as("m"))
      val byType = Window.partitionBy($"event_type").orderBy($"m", $"b")
      val ci = meansB.withColumn("rn", row_number().over(byType))
        .groupBy($"event_type").agg(
          min(when($"rn" === 2, $"m")).as("ci_lo"),
          min(when($"rn" === B - 1, $"m")).as("ci_hi"))
      events(s, d).groupBy($"event_type")
        .agg(round(avg($"value"), 6).as("mean_value"))
        .join(ci, "event_type")
        .orderBy("event_type")
    }),

    // HyperLogLog built RELATIONALLY and oracle-checked exactly (unlike
    // a_approx_stats, whose datasketches internals have no SQL twin):
    // the registers and the estimate are hllRegisters / hllEstimate.
    // Scale story: the register table is groupBy(key, j) max — 16 rows
    // per key regardless of corpus size, the mergeable persist-partial
    // artifact.
    "a_hll_probe" -> ((s, d) => {
      import s.implicits._
      val ev = events(s, d)
      ev.groupBy($"event_type")
        .agg(countDistinct($"user_id").as("exact_users"))
        .join(hllEstimate(ev, hllRegisters(ev, "event_type"), "event_type"), "event_type")
        .orderBy("event_type")
    }),

    // Quantile sketch built RELATIONALLY and oracle-checked exactly (the
    // KLL/MRL compactor family, same conversion the HLL and Count-Min
    // sketches got; a_approx_stats stays as the built-in-sketch
    // showcase). A KLL compaction sorts a full buffer and keeps
    // alternating items at doubled weight; repeating until ≤ k survive
    // is the one-shot batch equivalent. The parity each round comes from
    // the portable hash of (key, round) — KLL's randomized-parity
    // debiasing without RNG. The trick that keeps this ONE data pass:
    // alternating selection composes, so after r rounds the survivors
    // are exactly the ranks ≡ c (mod 2^r), and (c, 2^r, survivor count)
    // evolve by integer recurrences on the per-key COUNT alone. The
    // compaction schedule is therefore computed on the key-cardinality
    // table (model-scale, broadcast back), and the data pays one keyed
    // sort-shuffle + a modular filter. Estimates are raw input values
    // (order statistics) selected by integer rank comparisons — zero
    // float arithmetic end to end, so the DuckDB replay is bit-exact.
    // Capacity: Rounds=12 halvings ⇒ exact up to k·2^12 ≈ 262k rows per
    // key; beyond that survivors stay ≤ 2k with the same guarantees
    // after raising Rounds. Rank error ≤ 2^r/2 ≈ n/(2k) — bounds
    // asserted against exact percentiles in MGSpec.
    "a_quantile_sketch" -> ((s, d) => {
      import s.implicits._
      val K = 64L
      val Rounds = 12
      val wKey = Window.partitionBy($"event_type")
      val base = events(s, d)
        .select($"event_type", $"value", $"event_id".cast("long").as("eid"))
        .withColumn("rn", row_number().over(wKey.orderBy($"value", $"eid")))
        .withColumn("cnt0", count(lit(1)).over(wKey))
      // per-key compaction schedule: c (smallest surviving rank), m (the
      // rank modulus = 2^active rounds), ns (survivor count) — integer
      // recurrences over the 1-row-per-key count table. Each round is a
      // PROJECTION on that tiny frame (not a nested column expression:
      // ns feeds three branches per round, so an expression-tree unroll
      // is 3^Rounds nodes — measured OOM at 12 rounds).
      var sched = base.groupBy($"event_type").agg(max($"cnt0").as("ns"))
        .select($"event_type", lit(1L).as("c"), lit(1L).as("m"), $"ns")
      for (j <- 1 to Rounds) {
        val p = pmod(graft.functions.PolyHash.poly_hash(
          concat($"event_type", lit("#"), lit(j.toString))), lit(2L))
        sched = sched
          .withColumn("act", $"ns" > K)
          .withColumn("p", p)
          .select($"event_type",
            when($"act" && $"p" === 0, $"c" + $"m").otherwise($"c").as("c"),
            when($"act", $"m" * 2).otherwise($"m").as("m"),
            when($"act", when($"p" === 1, floor(($"ns" + 1) / 2).cast("long"))
              .otherwise(floor($"ns" / 2).cast("long")))
              .otherwise($"ns").as("ns"))
      }
      val surv = base.join(broadcast(sched), "event_type")
        .filter(pmod($"rn" - $"c", $"m") === 0)
        .withColumn("i", row_number().over(wKey.orderBy($"value", $"eid")))
      surv.groupBy($"event_type").agg(
        max($"cnt0").as("n_rows"),
        max($"ns").as("n_sketch"),
        min(when(lit(2) * $"i" >= $"ns", $"value")).as("est_p50"),
        min(when(lit(20) * $"i" >= lit(19) * $"ns", $"value")).as("est_p95"))
        .orderBy("event_type")
    }),

    // The MERGE half of the relational HLL, oracle-checked (a_sketch_merge
    // exercises the same shape with Spark-datasketches binaries, which
    // have no SQL twin): build one register table per (event_type, day)
    // SHARD, then max-merge the shard registers per type. Register max
    // is associative/commutative/idempotent, so the merged estimate must
    // equal a_hll_probe's direct global build — asserted in MGSpec; this
    // is the property that makes HLL shards a persistable incremental
    // artifact (union = re-aggregation, never a raw re-scan).
    "a_hll_shard_merge" -> ((s, d) => {
      import s.implicits._
      val ev = events(s, d)
      val shardRegs = hllRegisters(ev.withColumn("day", to_date($"ts")), "event_type", "day")
      val merged = shardRegs.groupBy($"event_type", $"j").agg(max($"r").as("r"))
      val nShards = shardRegs.select($"event_type", $"day").distinct()
        .groupBy($"event_type").agg(count(lit(1)).as("n_shards"))
      ev.groupBy($"event_type")
        .agg(countDistinct($"user_id").as("exact_users"))
        .join(nShards, "event_type")
        .join(hllEstimate(ev, merged, "event_type"), "event_type")
        .orderBy("event_type")
    }),

    // Built-in-sketch showcase (HLL++ distinct + Greenwald-Khanna
    // percentiles), oracled as a PROPERTY CONTRACT since round 12 (the
    // a_sketch_merge pattern): the sketch internals have no SQL twin, so
    // the output carries the exactly-replayable bookkeeping (n, exact
    // distinct) plus three booleans the oracle asserts TRUE —
    // `users_ok` = |approx − exact| ≤ 5%·exact. The sketch is built at
    // rsd = 0.01, so the 5% contract is ~5σ of the requested precision
    // — at the default rsd 0.05 the bound is only ~1σ and legitimately
    // trips at sf0.1 (observed: 1500 exact vs >5% drift). The estimator
    // is deterministic (fixed hash, no RNG), so a drifting estimate
    // hash-mismatches instead of passing silently. `p50_ok`/`p95_ok`
    // = the GK guarantee
    // itself: the returned value's tie-spanned rank interval
    // [count(<v)+1, count(≤v)] must intersect the target rank window
    // ⌈q·n⌉ ± (ε·n + 1) at the requested accuracy ε = 1/10000. The rank
    // audit is one extra aggregate over a 5-row broadcast join — the
    // corpus is scanned, never sorted (that is the point of GK at
    // 100 TB: exact percentile would be a global sort per group).
    "a_approx_stats" -> ((s, d) => {
      import s.implicits._
      val eps = 1.0 / 10000
      val approx = events(s, d)
        .groupBy($"event_type")
        .agg(
          approx_count_distinct($"user_id", 0.01).as("approx_users"),
          element_at(percentile_approx($"value", typedLit(Seq(0.5, 0.95)),
            lit(10000)), 1).as("ap50"),
          element_at(percentile_approx($"value", typedLit(Seq(0.5, 0.95)),
            lit(10000)), 2).as("ap95"))
      val audit = events(s, d)
        .join(broadcast(approx), "event_type")
        .groupBy($"event_type")
        .agg(
          count(lit(1)).as("n"),
          countDistinct($"user_id").as("exact_users"),
          first($"approx_users").as("au"),
          sum(when($"value" < $"ap50", 1L).otherwise(0L)).as("lt50"),
          sum(when($"value" <= $"ap50", 1L).otherwise(0L)).as("le50"),
          sum(when($"value" < $"ap95", 1L).otherwise(0L)).as("lt95"),
          sum(when($"value" <= $"ap95", 1L).otherwise(0L)).as("le95"))
      def rankOk(q: Double, lt: Column, le: Column): Column = {
        val target = ceil(lit(q) * $"n")
        val slack = lit(eps) * $"n" + lit(1.0)
        (le >= target - slack) && (lt + lit(1L) <= target + slack)
      }
      audit.select($"event_type", $"n", $"exact_users",
          (abs($"au" - $"exact_users") <=
            lit(0.05) * $"exact_users").as("users_ok"),
          rankOk(0.50, $"lt50", $"le50").as("p50_ok"),
          rankOk(0.95, $"lt95", $"le95").as("p95_ok"))
        .orderBy("event_type")
    }),

    // approx distinct (scale path for COUNT(DISTINCT) — SURVEY §2.4 notes
    // the reference lacks it; at 100 TB you want the sketch). Exact
    // count_distinct alongside for the oracle.
    "a_distinct_users_per_type" -> ((s, d) => {
      import s.implicits._
      events(s, d)
        .groupBy($"event_type")
        .agg(countDistinct($"user_id").as("n_users"), count("*").as("n"))
        .orderBy("event_type")
    }),

    // Trailing-window z-score anomaly detection — the monitoring op over
    // any keyed daily series: each (day, type) count scored against the
    // prior 7 CALENDAR days' mean/std. The per-type series is densified
    // first (a per-type date spine left-joined against the observed
    // counts, gaps filled with 0) so a day with zero events counts as a
    // zero observation instead of silently widening the lookback — with a
    // dense series, ROWS BETWEEN 7 PRECEDING AND 1 PRECEDING IS the prior
    // week. Spine cost is |types| × |days| rows — trivial at any scale.
    // Variance is EXPLICIT arithmetic (E[x²]−E[x]², clamped at 0 for
    // float cancellation) over integer window sums, so both engines
    // compute bit-identical doubles — stddev_samp would diverge (Welford
    // vs naive accumulation). All three window aggregates share one spec
    // in one select → a single Window node, one exchange on event_type;
    // frame state is 7 rows. z is null until a full trailing week exists
    // or when σ = 0.
    "w_anomaly_zscore" -> ((s, d) => {
      import s.implicits._
      val daily = events(s, d)
        .groupBy(to_date($"ts").as("day"), $"event_type")
        .agg(count(lit(1)).as("n"))
      val spine = daily.groupBy($"event_type")
        .agg(min($"day").as("d0"), max($"day").as("d1"))
        .select($"event_type", explode(sequence($"d0", $"d1")).as("day"))
      val dense = spine.join(daily, Seq("event_type", "day"), "left")
        .na.fill(Map("n" -> 0L))
      val w = Window.partitionBy($"event_type").orderBy($"day")
        .rowsBetween(-7, -1)
      val scored = dense.select($"day", $"event_type", $"n",
        count($"n").over(w).as("cnt"),
        sum($"n").over(w).as("s1"),
        sum($"n" * $"n").over(w).as("s2"))
      val mu = $"s1" / $"cnt"
      val sd = sqrt(greatest($"s2" / $"cnt" - mu * mu, lit(0.0d)))
      scored
        .withColumn("z",
          when($"cnt" === 7 && sd > 0, round(($"n" - mu) / sd, 6)))
        .select($"day", $"event_type", $"n", $"z")
        .orderBy("day", "event_type")
    }),

    // Market-basket co-occurrence (association mining): part pairs that
    // show up together in ≥ 3 orders, ranked by lift. Pair generation is
    // a within-basket self-join — cost ∝ Σ lines(order)², bounded by the
    // small per-order line count, never corpus² — then one partial-
    // aggregated shuffle on the pair key. Item frequencies join back on
    // the part key; the basket total is a one-value driver scalar (at
    // scale: a cached count, not data). Counts are integers, so support
    // and lift are one exact division each — oracle-identical.
    "a_market_basket" -> ((s, d) => {
      import s.implicits._
      val li = lineitem(s, d).select($"l_orderkey", $"l_partkey").distinct()
      val nOrders = li.select($"l_orderkey").distinct().count()
      val pf = li.groupBy($"l_partkey").agg(count(lit(1)).as("np"))
      li.toDF("o", "p1").join(li.toDF("o", "p2"), "o")
        .filter($"p1" < $"p2")
        .groupBy($"p1", $"p2").agg(count(lit(1)).as("n_ab"))
        .filter($"n_ab" >= 3)
        .join(pf.toDF("p1", "n1"), "p1")
        .join(pf.toDF("p2", "n2"), "p2")
        .withColumn("support", round($"n_ab" / lit(nOrders.toDouble), 6))
        .withColumn("lift",
          round($"n_ab" * lit(nOrders.toDouble) / ($"n1" * $"n2"), 6))
        .orderBy(desc("lift"), asc("p1"), asc("p2"))
        .limit(20)
        .select($"p1", $"p2", $"n_ab", $"support", $"lift")
    }),

    // Incremental materialized-aggregate maintenance — the refresh shape
    // every 100 TB rollup table needs: the standing per-type aggregate
    // ("state", here days < max day) is MERGED with a partial aggregate
    // over only the newly-arrived partition ("delta", the max day) via
    // the algebraic decomposition count/sum/min/max (avg derives as
    // sum/count at the end — never averaged averages). In production the
    // state side is a stored partials table, so a refresh scans ONLY the
    // new partition: cost ∝ delta, not corpus. Values are micro-integer
    // quantized before summing, so the state+delta merge is exact integer
    // arithmetic and provably equals the full recompute the oracle runs.
    "agg_incremental_merge" -> ((s, d) => {
      import s.implicits._
      val ev = events(s, d)
        .withColumn("day", to_date($"ts"))
        .withColumn("vm", qroundLong($"value" * 1e6))
      val mx = ev.agg(max($"day").as("mday"))
      val tagged = ev.crossJoin(broadcast(mx))
      def partial(df: DataFrame): DataFrame = df.groupBy($"event_type")
        .agg(count(lit(1)).as("n"), sum($"vm").as("sv"),
          min($"vm").as("mn"), max($"vm").as("mxv"))
      val state = partial(tagged.filter($"day" < $"mday"))
        .withColumn("is_new", lit(0L))
      val delta = partial(tagged.filter($"day" === $"mday"))
        .withColumn("is_new", lit(1L))
      state.unionByName(delta)
        .groupBy($"event_type")
        .agg(sum($"n").as("n_total"),
          sum(when($"is_new" === 1, $"n").otherwise(0L)).as("n_new"),
          sum($"sv").as("sv"), min($"mn").as("mn"), max($"mxv").as("mxv"))
        .select($"event_type", $"n_total", $"n_new",
          round($"sv" / 1e6, 6).as("sum_value"),
          round($"mn" / 1e6, 6).as("min_value"),
          round($"mxv" / 1e6, 6).as("max_value"),
          round($"sv" / 1e6 / $"n_total", 6).as("avg_value"))
        .orderBy("event_type")
    }),

    // CUBE grouping sets — all four (day × type) marginal combinations in
    // ONE pass (the rollup query covers only the prefix hierarchy).
    // Spark's Expand emits the 4 grouping-set replicas map-side, so the
    // shuffle carries partial aggregates per (set, key) — cost is 4
    // partial-agg rows per input row region, never 4 corpus scans.
    // grouping_id() disambiguates the null-key totals from genuine nulls.
    "a_cube_type_day" -> ((s, d) => {
      import s.implicits._
      events(s, d)
        .withColumn("day", to_date($"ts"))
        .withColumn("vm", qroundLong($"value" * 1e6))
        .cube($"day", $"event_type")
        .agg(count(lit(1)).as("n"),
          round(sum($"vm") / 1e6, 6).as("sum_value"),
          grouping_id().as("gid"))
        .orderBy($"gid", $"day".asc_nulls_first, $"event_type".asc_nulls_first)
    }),

    // Long-form melt of the daily pivot (the inverse reshape): unpivot is
    // a map-side Expand — no shuffle beyond the pivot's own aggregate —
    // so wide->long reshapes are free at any scale. Zero cells survive
    // the round trip (pivot emits count 0, not null), which the oracle's
    // day × type grid re-derives.
    "a6b_unpivot_long" -> ((s, d) => {
      import s.implicits._
      queries("a6_daily_pivot")(s, d)
        .unpivot(Array($"day"), EventTypes.map(col).toArray, "event_type", "n")
        .orderBy("day", "event_type")
    }),

    // Partition-skew diagnostic — the report that decides salting/AQE
    // settings before a big shuffle: per-key row counts for the 10
    // heaviest keys with their share of the table and their multiple of
    // the mean key load. One partial-aggregated groupBy + a 1-row stats
    // broadcast; the top-10 is a TakeOrdered, so the diagnostic costs
    // one shuffle regardless of key cardinality.
    "profile_key_skew" -> ((s, d) => {
      import s.implicits._
      val counts = events(s, d).groupBy($"user_id").agg(count(lit(1)).as("n"))
      val stats = counts.agg(count(lit(1)).as("n_keys"), sum($"n").as("n_rows"))
      counts.orderBy(desc("n"), asc("user_id")).limit(10)
        .crossJoin(broadcast(stats))
        .withColumn("share_pct", round($"n" * 100.0 / $"n_rows", 6))
        .withColumn("x_avg",
          round($"n" * $"n_keys" / $"n_rows".cast("double"), 6))
        .withColumn("avg_rows", round($"n_rows" / $"n_keys", 6))
        .select($"user_id", $"n", $"share_pct", $"x_avg", $"n_keys", $"avg_rows")
        .orderBy(desc("n"), asc("user_id"))
    }),

    // Categorical-drift monitor — per-day χ² of the event-type mix
    // against the corpus-wide mix (the companion to text_drift_kl's
    // continuous-text drift): a day whose traffic composition diverges
    // flags instrumentation breakage or bot floods. Expected counts are
    // the independence model day_total × type_share; per-cell χ² terms
    // micro-quantize before the per-day integer sum. Cells with zero
    // observed count are absent on BOTH engines (a documented
    // undercount; at 5 pinned types × real traffic they never vanish).
    // Two partial-aggregated shuffles + two broadcast marginals.
    "a_chi2_daily_mix" -> ((s, d) => {
      import s.implicits._
      val dt = events(s, d).withColumn("day", to_date($"ts"))
        .groupBy($"day", $"event_type").agg(count(lit(1)).as("o"))
      val dayTot = dt.groupBy($"day").agg(sum($"o").as("nd"))
      val typTot = dt.groupBy($"event_type").agg(sum($"o").as("nt"))
      val tot = typTot.agg(sum($"nt").as("n"))
      dt.join(dayTot, "day")
        .join(broadcast(typTot), "event_type")
        .crossJoin(broadcast(tot))
        .withColumn("e", $"nd".cast("double") * $"nt" / $"n")
        .withColumn("chi_e6",
          qroundLong(($"o" - $"e") * ($"o" - $"e") / $"e" * 1e6))
        .groupBy($"day")
        .agg(max($"nd").as("n_events"), count(lit(1)).as("n_cells"),
          sum($"chi_e6").as("chi2_e6"))
        .withColumn("chi2", round($"chi2_e6" / 1e6, 6))
        .orderBy("day")
    }),

    // Batch gap-sessionization (islands): a new session starts after
    // >24 h of per-user inactivity. lag + a running flag-sum assign
    // session ids inside ONE (user) shuffle; the per-session rollup
    // reuses the same partitioning. At 100 TB the user key is the only
    // shuffle dimension and sessions never cross partitions — the
    // pattern AQE splits cleanly on skewed users. Timestamp math is
    // exact integer microseconds on both engines.
    "w_sessionize_gap" -> ((s, d) => {
      import s.implicits._
      val ev = events(s, d)
        .select($"user_id", $"ts", $"event_type", $"event_id")
        .withColumn("us", unix_micros($"ts"))
      val w = Window.partitionBy($"user_id").orderBy($"ts", $"event_id")
      val flagged = ev
        .withColumn("prev_us", lag($"us", 1).over(w))
        .withColumn("new_sess",
          when($"prev_us".isNull || $"us" - $"prev_us" > SessionGapUs, 1L)
            .otherwise(0L))
      flagged.withColumn("session_id", sum($"new_sess").over(w))
        .groupBy($"user_id", $"session_id")
        .agg(min($"ts").as("session_start"), max($"ts").as("session_end"),
          count(lit(1)).as("n_events"),
          sum(when($"event_type" === "purchase", 1L).otherwise(0L))
            .as("n_purchases"),
          (max($"us") - min($"us")).as("duration_us"))
        .orderBy("user_id", "session_id")
    }),

    // Differentially-private counts via the discrete Laplace (two-sided
    // geometric) mechanism (Ghosh, Roughgarden & Sundararajan 2009,
    // "Universally utility-maximizing privacy mechanisms") — the
    // release gate that completes the privacy family: k-anonymity /
    // l-diversity / t-closeness AUDIT a table, this op shows the
    // publish path for aggregate statistics. Per event type, count +
    // noise where noise = X - Y, X,Y iid Geometric sampled by inverse
    // CDF (floor(ln(u)/ln(alpha)), alpha = e^-eps, eps = 1). The noise
    // is SEEDED — u comes from poly_hash(type#i), so the mechanism is
    // replayable in DuckDB and testable; a production release swaps in
    // true randomness (documented — determinism is for the differential
    // harness, not a privacy claim; n_true ships here for the same
    // reason and would obviously not be published). ln on identical
    // IEEE inputs is the KM/GMM precedent, and the ln-quotient is
    // quantized to a NANO LONG before the floor division (the repo's
    // quantize-before-discretize discipline — a 1-ulp ln divergence
    // near an integer quotient can no longer flip the geometric draw).
    // The quotient is always >= 0 (ln u <= 0, ln alpha < 0), so long
    // floor-division == truncation on both engines. The two draws are
    // seeded by PREFIX tags: a suffix-only tag pair ("…#1" vs "…#2")
    // differs in the final code point, so the polynomial hashes differ
    // by exactly 1 and u1 == u2 to within 1e-9 — X and Y then cancel
    // and the "noise" is identically 0 (zero privacy; the round-15
    // moments spec caught this live). A prefix difference is multiplied
    // by 131^len(key) and wraps mod p, fully decorrelating the draws.
    // Scale: one count aggregate; noise is per-GROUP map arithmetic.
    "privacy_dp_counts" -> ((s, d) => {
      import s.implicits._
      val alpha = math.exp(-1.0) // eps = 1
      def u(tag: String): Column = uniform(polyHash(concat(lit(tag), $"event_type")))
      events(s, d).groupBy($"event_type").agg(count(lit(1)).as("n_true"))
        .withColumn("q1n", qroundLong(log(u("dp1#")) / log(lit(alpha)) * 1e9))
        .withColumn("q2n", qroundLong(log(u("dp2#")) / log(lit(alpha)) * 1e9))
        .withColumn("noise",
          expr("(q1n div 1000000000) - (q2n div 1000000000)"))
        .select($"event_type", $"n_true", $"noise",
          ($"n_true" + $"noise").as("n_dp"))
        .orderBy("event_type")
    }),

    // Continuous-Laplace sibling of privacy_dp_counts (Dwork, McSherry,
    // Nissim & Smith 2006, "Calibrating noise to sensitivity") — the
    // textbook eps-DP release for real-valued statistics: noise =
    // -b * sign(u - 1/2) * ln(1 - 2|u - 1/2|), b = sensitivity/eps = 1.
    // Same seeded-inverse-CDF discipline as the discrete mechanism
    // (u from poly_hash, so the draw replays in DuckDB; production
    // swaps true randomness — determinism is for the differential
    // harness, not a privacy claim). The ln argument 1 - 2|u - 1/2| is
    // reached by EXACT IEEE ops from an integer hash (one division by
    // a literal, abs, subtract, multiply) so both engines feed ln the
    // identical double; the noise nano-quantizes to a long before the
    // final 6-dp release rounding (quantize-before-discretize — a
    // 1-ulp ln divergence cannot flip the published value). u = 1/2
    // exactly gives sign 0 -> noise 0 on both engines. Scale: one
    // count aggregate; noise is per-GROUP map arithmetic.
    "privacy_dp_laplace" -> ((s, d) => {
      import s.implicits._
      val u = uniform(polyHash(concat(lit("dpL#"), $"event_type")))
      // the 1e-12 floor removes the measure-zero u = 1 pole (ln 0) and
      // caps |noise| at b*ln(1e12) ~ 27.6 — far beyond any plausible draw
      val nNano = qroundLong(-signum(u - 0.5) *
        log(greatest(lit(1.0) - lit(2.0) * abs(u - 0.5), lit(1e-12))) *
        1e9)
      events(s, d).groupBy($"event_type").agg(count(lit(1)).as("n_true"))
        .withColumn("noise", round(nNano.cast("double") / 1e9, 6))
        .select($"event_type", $"n_true", $"noise",
          round($"n_true" + $"noise", 6).as("n_dp"))
        .orderBy("event_type")
    }),

    // Gaussian-mechanism sibling (zCDP — Bun & Steinke 2016): noise ~
    // N(0, sigma^2) with sigma = sensitivity/sqrt(2*rho) = 1 at
    // rho = 1/2. The draw is Box-Muller on two seeded uniforms:
    // z = sqrt(-2 ln u1) * cos(2*pi*u2) — sqrt is correctly rounded by
    // IEEE-754, ln is the KM/GMM precedent, and cos (not IEEE-exact in
    // principle) feeds the identical double on both engines with the
    // nano quantization immediately after z absorbing any final-ulp
    // divergence (a flip needs z*1e9 within ~1e-7 of a rounding
    // boundary — measure-zero for the hash-derived inputs, and the
    // differential harness would catch it tri-SF). Same seeded-replay
    // caveat as the Laplace mechanisms. Scale: per-GROUP map math.
    "privacy_dp_gaussian" -> ((s, d) => {
      import s.implicits._
      def u(tag: String): Column = uniform(polyHash(concat(lit(tag), $"event_type")))
      val zNano = qroundLong(sqrt(log(u("dpg1#")) * -2.0) *
        cos(u("dpg2#") * (2.0 * math.Pi)) * 1e9)
      events(s, d).groupBy($"event_type").agg(count(lit(1)).as("n_true"))
        .withColumn("noise", round(zNano.cast("double") / 1e9, 6))
        .select($"event_type", $"n_true", $"noise",
          round($"n_true" + $"noise", 6).as("n_dp"))
        .orderBy("event_type")
    }),

    // Epsilon sweep over the discrete-Laplace release — the
    // privacy/utility frontier in one relational pass (the nprobe_sweep
    // device applied to DP): for eps in {1/4, 1/2, 1, 2, 4} the per-type
    // counts are released with alpha = e^-eps geometric noise, each eps
    // seeded independently (tag carries the eps label). Alphas are
    // computed ONCE in the JVM and injected into both renderings as the
    // double's exact decimal string — DuckDB's own exp(-eps) could
    // differ by an ulp and flip a floor. abs_err ships so the utility
    // curve (noise shrinking as eps grows) is directly queryable.
    // Scale: one count aggregate broadcast-crossed with a 5-row literal.
    // PRIVACY BUDGET ACCOUNTING (Dwork-Rothblum-Vadhan FOCS'10 advanced
    // composition vs basic sequential composition) — the calculator that
    // turns the release family above into an operable budget: a daily
    // release cadence (one (ε₀=0.1, δ₀=1e-8) release per corpus day, the
    // production shape for a recurring private dashboard) accumulates
    // ε_basic = k·ε₀ / δ = k·δ₀, while advanced composition spends a δ'
    // = 1e-6 slack for ε_adv = ε₀·√(2k·ln(1/δ')) + k·ε₀·(e^{ε₀}−1) —
    // sublinear in k, overtaking basic once √k outgrows the constants
    // (k ≥ 35 at these parameters; the crossover is IN the output).
    // Determinism: ln(1/δ') and e^{ε₀}−1 are injected JVM constants
    // (the a_power_analysis pattern); the only runtime libm call is
    // sqrt(k), which IEEE 754 requires correctly rounded in both
    // engines; deltas stay exact NANO longs. Scale: one distinct-day
    // aggregate; the k-ladder window is bounded by the calendar, not
    // the corpus.
    "privacy_dp_accounting" -> ((s, d) => {
      import s.implicits._
      val eps0 = 0.1
      val c1 = math.sqrt(2 * math.log(1e6)) // √(2·ln(1/δ')), δ' = 1e-6
      val em1 = math.expm1(eps0)            // e^{ε₀} − 1
      val w = Window.orderBy($"day")
      events(s, d).select(to_date($"ts").as("day")).distinct()
        .withColumn("k", row_number().over(w))
        .withColumn("eps_basic", round($"k" * lit(eps0), 6))
        .withColumn("eps_advanced",
          round(lit(eps0) * lit(c1) * sqrt($"k")
            + $"k" * lit(eps0) * lit(em1), 6))
        .withColumn("delta_nano", $"k" * 10L + 1000L)
        .select($"k", $"day", $"eps_basic", $"eps_advanced", $"delta_nano",
          ($"eps_advanced" < $"eps_basic").as("advanced_wins"))
        .orderBy("k")
    }),

    "privacy_dp_sweep" -> ((s, d) => {
      import s.implicits._
      val eps = Seq(0.25, 0.5, 1.0, 2.0, 4.0)
      val grid = eps.map(e => (e, e.toString, math.exp(-e)))
        .toDF("eps", "lbl", "alpha")
      def u(tag: String): Column =
        uniform(polyHash(concat(lit("dpe"), $"lbl", lit(tag), $"event_type")))
      events(s, d).groupBy($"event_type").agg(count(lit(1)).as("n_true"))
        .crossJoin(broadcast(grid))
        .withColumn("q1n", qroundLong(log(u("#1#")) / log($"alpha") * 1e9))
        .withColumn("q2n", qroundLong(log(u("#2#")) / log($"alpha") * 1e9))
        .withColumn("noise",
          expr("(q1n div 1000000000) - (q2n div 1000000000)"))
        .select($"eps", $"event_type", $"n_true", $"noise",
          ($"n_true" + $"noise").as("n_dp"),
          abs($"noise").as("abs_err"))
        .orderBy("eps", "event_type")
    }),

    // Exponential mechanism (McSherry & Talwar 2007, "Mechanism Design
    // via Differential Privacy") — the standard DP SELECTION release,
    // completing the mechanism family (laplace/gaussian/geometric
    // release NUMBERS; this releases an ARGMAX): publish the most
    // frequent event type, choosing candidate r with probability
    // ∝ exp(eps·u(r)/(2Δu)), u(r) = count(r), Δu = 1, eps = 1. The
    // sampling uses the GUMBEL-MAX identity (argmax of score/2 + Gumbel
    // noise ~ the softmax distribution — Gumbel 1954; the standard
    // relational rendering since it needs no normalizing-sum draw):
    // g = -ln(-ln u) with u seeded per candidate (prefix tag, the
    // round-15 discipline), score_nano = n·5e8 exactly (n/2 in nano
    // units, a long product — no float in the utility term), key =
    // score_nano + g_nano, selected = key == max(key). ln-of-identical-
    // IEEE-input is the KM/GMM precedent and the noisy key nano-
    // quantizes BEFORE the max comparison (quantize-before-discretize).
    // p_select ships the analytic softmax for the utility audit:
    // exp((n-nmax)/2) per candidate nano-quantized to a long BEFORE the
    // ≤5-element sum (order-safe), then one 6dp division. Same seeded-
    // replay caveat as the other mechanisms (production swaps true
    // randomness; determinism is for the differential harness, not a
    // privacy claim — n_true obviously unpublished). Scale: one count
    // aggregate; selection is ≤|domain| rows of window math.
    "privacy_dp_expmech" -> ((s, d) => {
      import s.implicits._
      val u = uniform(polyHash(concat(lit("dpx#"), $"event_type")))
      // u = 1 gives -ln u = 0 (Gumbel +inf pole); the 1e-12 floor caps
      // g at ln(1e12) ~ 27.6 — measure-zero and far beyond any draw
      val gNano = qroundLong(-log(greatest(-log(u), lit(1e-12))) * 1e9)
      val counts = events(s, d).groupBy($"event_type")
        .agg(count(lit(1)).as("n_true"))
      val wAll = Window.partitionBy()
      counts
        .withColumn("key_nano", $"n_true" * 500000000L + gNano)
        .withColumn("nmax", max($"n_true").over(wAll))
        .withColumn("w_nano",
          qroundLong(exp(($"n_true" - $"nmax").cast("double") / 2.0) * 1e9))
        .select($"event_type", $"n_true",
          round($"key_nano".cast("double") / 1e9, 6).as("noisy_score"),
          round($"w_nano".cast("double")
            / sum($"w_nano").over(wAll).cast("double"), 6).as("p_select"),
          ($"key_nano" === max($"key_nano").over(wAll)).as("selected"))
        .orderBy("event_type")
    }),

    // Sample-ratio-mismatch check (the standard experimentation
    // GUARDRAIL — Fabijan et al. 2019, "Diagnosing sample ratio
    // mismatch"; run BEFORE reading any experiment result): chi-square
    // test that the randomization-unit counts match the designed 50/50
    // split. Units are USERS (the assignment unit), not events — an
    // event-level check would just measure activity skew. For a 2-arm
    // 50/50 design the statistic collapses to (n0 - n1)^2 / n — an
    // exact integer numerator over one double division, 6dp-rounded;
    // the decision compares the ROUNDED statistic against the
    // chi2(1df) 0.95 critical value injected as a JVM constant into
    // both renderings. Completes the suite: SRM gate → power design →
    // SPRT monitor → t-test/CUPED/DiD readout. Scale: one distinct +
    // one global aggregate.
    "a_srm_check" -> ((s, d) => {
      import s.implicits._
      val crit = 3.841458820694124 // chi2(1df) 0.95 quantile
      events(s, d).select($"user_id").distinct()
        .select(pmod($"user_id", lit(2L)).as("arm"))
        .agg(count(lit(1)).as("n_users"),
          sum(when($"arm" === 0L, 1L).otherwise(0L)).as("n_arm0"),
          sum(when($"arm" === 1L, 1L).otherwise(0L)).as("n_arm1"))
        .withColumn("chi2", round(
          (($"n_arm0" - $"n_arm1") * ($"n_arm0" - $"n_arm1"))
            .cast("double") / $"n_users", 6))
        .select($"n_users", $"n_arm0", $"n_arm1", $"chi2",
          ($"chi2" > lit(crit)).as("srm_detected"))
    }),

    // DP QUANTILE release (exponential mechanism over the value grid —
    // the numeric-domain sibling of privacy_dp_expmech; Smith 2011's
    // private-median shape): release the corpus median of `value`
    // without exposing exact ranks. Candidates are the 1000 equi-width
    // bins over the global micro-long range (the a_psi_drift grid
    // device, full domain materialized so EMPTY bins stay candidates);
    // utility u(bin) = -|rank(bin) - n/2| with rank sensitivity 1, so
    // score = u/2 at eps = 1 — computed EXACTLY as score_nano =
    // -|2·cum - n| · 2.5e8 (half-ranks in nano units, pure long
    // arithmetic; no float touches the utility). Selection is the same
    // Gumbel-max rendering as expmech: seeded per-bin Gumbel nano-noise
    // added to the score, TakeOrderedAndProject picks the max key, and
    // the released value is the winning bin's midpoint. The mechanism's
    // utility theorem (selection within O(ln|domain|/eps) ranks of the
    // true median) is spec-asserted as a percentile-band check. Same
    // seeded-replay caveat as the rest of the DP family. Scale: one
    // count aggregate + 1000-row bounded grid math.
    "privacy_dp_quantile" -> ((s, d) => {
      import s.implicits._
      val ev = events(s, d)
        .select(qroundLong($"value" * 1e6).as("v"))
      val st = ev.agg(min($"v").as("lo"), max($"v").as("hi"),
        count(lit(1)).as("n"))
      val binned = ev.crossJoin(broadcast(st))
        .withColumn("bin",
          expr("least((v - lo) * 1000 div (hi - lo + 1), 999L)"))
        .groupBy($"bin").agg(count(lit(1)).as("c"))
      val dom = st.select(explode(sequence(lit(0L), lit(999L))).as("bin"),
        $"lo", $"hi", $"n")
      val w = Window.orderBy($"bin")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val u = uniform(polyHash(concat(lit("dpq#"), $"bin".cast("string"))))
      val gNano = qroundLong(-log(greatest(-log(u), lit(1e-12))) * 1e9)
      dom.join(binned, Seq("bin"), "left").na.fill(0L, Seq("c"))
        .withColumn("cum", sum($"c").over(w))
        .withColumn("key_nano",
          -abs($"cum" * 2L - $"n") * 250000000L + gNano)
        .orderBy($"key_nano".desc, $"bin".asc)
        .limit(1)
        .select($"bin", $"n".as("n_total"),
          round(($"lo" + (($"bin" * 2L + 1L) * ($"hi" - $"lo" + 1L))
            / lit(2000.0)).cast("double") / 1e6, 6).as("released_value"),
          round($"key_nano".cast("double") / 1e9, 6).as("noisy_score"))
    }),

    // k-anonymity GENERALIZATION (a single-dimension Incognito-style
    // lattice walk — LeFevre et al. 2005): privacy_k_anonymity AUDITS a
    // table, this op picks the publishable generalization — the finest
    // user-bucket granularity whose every (user bucket, epoch-week)
    // quasi-identifier group still holds >= K = 5 rows. The ladder
    // g ∈ {1,4,16,64,256,1024} (user_id div g) is swept in ONE pass:
    // a 6-row level table fans the events out map-side, one aggregate
    // keyed (g, bucket, week) then a 6-row min/count reduction —
    // monotonicity of the lattice (coarser never lowers min group
    // size) is what makes the single sweep sound, and the spec asserts
    // it. Week is epoch-day div 7 (exact integer both engines; calendar
    // ISO weeks differ in year-boundary conventions). chosen marks the
    // finest satisfying level; if none satisfies, all rows read false
    // (COALESCE over the empty min — mirrored in the oracle).
    // Scale: one shuffle keyed by (g, bucket, week); 6x map fan-out.
    "privacy_k_generalize" -> ((s, d) => {
      import s.implicits._
      val K = 5L
      val lv = Seq(1L, 4L, 16L, 64L, 256L, 1024L).toDF("g")
      val ev = events(s, d).select($"user_id",
        expr("datediff(to_date(ts), date '1970-01-01') div 7").as("wk"))
      val stats = ev.crossJoin(broadcast(lv))
        .groupBy($"g", expr("user_id div g").as("qb"), $"wk")
        .agg(count(lit(1)).as("c"))
        .groupBy($"g").agg(count(lit(1)).as("n_groups"),
          min($"c").as("min_group_size"))
        .withColumn("k_satisfied", $"min_group_size" >= K)
      val chosen = stats.filter($"k_satisfied").agg(min($"g").as("gc"))
      stats.crossJoin(broadcast(chosen))
        .select($"g", $"n_groups", $"min_group_size", $"k_satisfied",
          coalesce($"g" === $"gc", lit(false)).as("chosen"))
        .orderBy("g")
    }),

    // Local-DP randomized response (Warner 1965; k-RR per Kairouz,
    // Oh & Viswanath 2016) over event_type — the LOCAL model completing
    // the central privacy_dp_* releases: each EVENT perturbs its own
    // report before aggregation (no trusted curator). With k = 5 types
    // and eps = 1: report the true type w.p. p = e^eps/(e^eps+k-1), else
    // one of the k-1 others uniformly (the second draw derives from the
    // same uniform: v = (u-p)/(1-p), j = min(floor(v*(k-1)), k-2) indexes
    // the SORTED other-type list — one seeded draw per row, prefix-tag
    // seeded per the round-15 discipline). The unbiased frequency
    // estimator inverts the channel: n_est = (c_t - m*q)/(p - q),
    // q = 1/(e^eps+k-1). p and q are injected into both renderings as
    // the JVM doubles' exact decimal strings. n_true ships for the
    // differential harness only (a real deployment never sees it).
    // Seed discipline: event_id is SEQUENTIAL, and a polynomial hash of
    // strings differing only in trailing digits is locally linear — raw
    // u would sweep a ~1e-5 sliver of [0,1] (the whole corpus making
    // one collective coin flip; caught live when sf0.001 lost a type).
    // The odd-multiplier scatter (h * 2654435761 mod p — the
    // Relational.scala epoch-salt device, a Weyl sequence) restores
    // distribution-level uniformity (measured: var 0.0833, stay
    // fraction 0.402 vs p = 0.4046). The mod-10 round-robin id splits
    // elsewhere (split_train_test etc.) are UNAFFECTED by this
    // property: they need proportion-exact partitioning, which locally
    // linear hashes deliver; RR needs DISTRIBUTIONAL randomness.
    // Scale: pure map-side perturbation + one count aggregate — the
    // local model's whole point is that this parallelizes trivially.
    "privacy_rr_frequency" -> ((s, d) => {
      import s.implicits._
      val k = EventTypes.length
      val p = math.exp(1.0) / (math.exp(1.0) + (k - 1))
      val q = 1.0 / (math.exp(1.0) + (k - 1))
      val domain = array(EventTypes.sorted.map(lit): _*)
      val u = uniform((polyHash(concat(lit("rr#"), $"event_id".cast("string")))
        * 2654435761L) % 1000000007L)
      val j = least(floor((u - lit(p)) / (lit(1.0) - lit(p)) * (k - 1))
        .cast("long"), lit((k - 2).toLong))
      val reported = events(s, d)
        .withColumn("report", when(u < lit(p), $"event_type")
          .otherwise(element_at(
            filter(domain, t => t =!= $"event_type"), (j + 1L).cast("int"))))
      val m = reported.agg(count(lit(1)).as("m"))
      val cTrue = reported.groupBy($"event_type")
        .agg(count(lit(1)).as("n_true"))
      val cRep = reported.groupBy($"report".as("event_type"))
        .agg(count(lit(1)).as("n_reported"))
      // LEFT join from the true-count side (round-15 advisor): a type the
      // perturbation happens to never report must still appear in the
      // release with n_reported = 0 and a small/negative n_est — an inner
      // join would silently drop it from BOTH renderings, which is exactly
      // the divergence class the differential harness cannot see.
      cTrue.join(cRep, Seq("event_type"), "left").crossJoin(broadcast(m))
        .select($"event_type", $"n_true",
          coalesce($"n_reported", lit(0L)).as("n_reported"),
          round((coalesce($"n_reported", lit(0L)).cast("double")
            - $"m" * lit(q)) / (lit(p) - lit(q)), 6).as("n_est"))
        .orderBy("event_type")
    }),

    // DAU/WAU stickiness — the engagement ratio every growth stack
    // tracks daily. The sliding 7-day distinct-user window is computed
    // by BOUNDED FAN-OUT, not a range join: each (user, active-day) row
    // is exploded to the 7 window-target days it covers (a constant
    // 7x map-side multiplier), then one exact countDistinct per target
    // day. At 100 TB that is linear with constant 7 and shuffles on
    // `day` — the alternative (per-day range join against a 7-day
    // event span) rescans the corpus per day. Window targets are inner-
    // joined to observed activity days, so partial-coverage days before
    // the corpus start never appear and the output domain equals the
    // calendar span. dau/wau are exact longs; the ratio is one double
    // division of exact longs, 6dp-rounded.
    "a_dau_wau_stickiness" -> ((s, d) => {
      import s.implicits._
      val ud = events(s, d)
        .select($"user_id", to_date($"ts").as("day")).distinct()
      val dau = ud.groupBy($"day").agg(count(lit(1)).as("dau"))
      val wau = ud
        .select($"user_id", explode(sequence(lit(0), lit(6))).as("o"), $"day")
        .select($"user_id", date_add($"day", $"o").as("day"))
        .groupBy($"day").agg(countDistinct($"user_id").as("wau"))
      dau.join(wau, "day")
        .select($"day", $"dau", $"wau",
          round($"dau".cast("double") / $"wau", 6).as("stickiness"))
        .orderBy("day")
    }),

    // Population Stability Index (the standard model-monitoring drift
    // metric; see e.g. Siddiqi, "Credit Risk Scorecards" 2006) between
    // the corpus's first and second 15-day halves, per event type:
    // PSI = sum_b (p_b - q_b) * ln(p_b / q_b) over 10 equi-width value
    // bins on the GLOBAL range (one 1-row min/max/start broadcast — the
    // gini/pareto device — so both halves share one grid). Shares are
    // double divisions of exact long counts, clamped at 1e-6 (the
    // standard empty-bin guard, mirrored in the oracle) so an empty
    // bin contributes a finite term; each term nano-quantizes before
    // the <= 10-element sum. Complements text_drift_kl (token-space
    // drift) with the value-space drift lens. Scale: one count
    // aggregate keyed by (type, half, bin); everything after is
    // <= |types| * 20 rows.
    "a_psi_drift" -> ((s, d) => {
      import s.implicits._
      val ev = events(s, d).select($"event_type", to_date($"ts").as("day"),
        qroundLong($"value" * 1e6).as("v"))
      val st = ev.agg(min($"day").as("d0"), min($"v").as("lo"),
        max($"v").as("hi"))
      val binned = ev.crossJoin(broadcast(st))
        .withColumn("half",
          when($"day" < date_add($"d0", 15), lit("first"))
            .otherwise(lit("second")))
        .withColumn("bin", // long div: (v-lo)*10 <= 5.6e9, far from 2^63
          expr("least((v - lo) * 10 div (hi - lo + 1), 9L)"))
      val counts = binned.groupBy($"event_type", $"bin").agg(
        sum(when($"half" === "first", 1L).otherwise(0L)).as("c1"),
        sum(when($"half" === "second", 1L).otherwise(0L)).as("c2"))
      val tot = Window.partitionBy($"event_type")
      counts
        .withColumn("n1", sum($"c1").over(tot))
        .withColumn("n2", sum($"c2").over(tot))
        // half totals clamped at 1 (round-15 advisor): a corpus shorter
        // than the 15-day split puts every row in one half, and 0/0 is
        // NULL in Spark but an error-or-NULL divergence risk in DuckDB —
        // with the clamp the empty half's shares read 0 → 1e-6 and PSI
        // stays finite in both renderings instead of going NULL.
        .withColumn("p", greatest($"c1".cast("double")
          / greatest($"n1", lit(1L)), lit(1e-6)))
        .withColumn("q", greatest($"c2".cast("double")
          / greatest($"n2", lit(1L)), lit(1e-6)))
        .withColumn("term_nano",
          qroundLong(($"p" - $"q") * log($"p" / $"q") * 1e9))
        .groupBy($"event_type")
        .agg(max($"n1").as("n_first"), max($"n2").as("n_second"),
          round(sum($"term_nano").cast("double") / 1e9, 6).as("psi"))
        .orderBy("event_type")
    }),

    // A/B power analysis (the standard two-sample normal-approximation
    // design formula, e.g. Kohavi/Tang/Xu "Trustworthy Online
    // Controlled Experiments" ch. 17): per event type, the per-arm
    // sample size needed to detect a 5%-of-mean lift at alpha = 0.05
    // (two-sided), power = 0.8 — n = ceil(2·(z_{0.975}+z_{0.8})²·σ²/δ²).
    // This is the DESIGN step in front of the monitor (a_sprt_monitor)
    // and the readouts (a_ttest_welch / a_cuped_adjusted /
    // a_did_estimator): the suite now covers design → sequential
    // monitoring → fixed-horizon analysis. σ² comes from exact
    // micro-long moment sums (one cast each, the CUPED discipline);
    // z-quantiles are JVM constants injected into both renderings.
    // days_needed contextualizes n against the type's observed daily
    // volume. Scale: one count/sum/sumsq aggregate per type.
    "a_power_analysis" -> ((s, d) => {
      import s.implicits._
      val z = 1.959963984540054 + 0.8416212335729143 // z_.975 + z_.80
      // MILLI quantization: vm^2 sums must stay inside 2^63 under ANSI
      // (the a_cuped_adjusted headroom discipline)
      val ev = events(s, d).select($"event_type", to_date($"ts").as("day"),
        qroundLong($"value" * 1e3).as("vm"))
      ev.groupBy($"event_type")
        .agg(count(lit(1)).as("n_obs"),
          countDistinct($"day").as("n_days"),
          sum($"vm").as("sv"), sum($"vm" * $"vm").as("svv"))
        // degenerate-design guard (round-15 advisor): n_obs = 1 divides by
        // (n_obs - 1) = 0 in the variance, and a zero mean makes mde = 0 so
        // n_required divides by zero — NULL/Inf→BIGINT casts diverge per
        // engine. Such types have no estimable design, so drop them in
        // BOTH renderings (sv = 0 ⟺ mean = 0 exactly, on long sums).
        .filter($"n_obs" > 1L && $"sv" =!= 0L)
        .withColumn("mean", $"sv".cast("double") / $"n_obs" / 1e3)
        .withColumn("variance",
          ($"svv".cast("double") - $"sv".cast("double") * $"sv" / $"n_obs")
            / ($"n_obs" - 1L) / 1e6)
        .withColumn("mde", $"mean" * 0.05)
        .withColumn("n_required",
          ceil(lit(2.0 * z * z) * $"variance" / ($"mde" * $"mde"))
            .cast("long"))
        .withColumn("days_needed",
          ceil($"n_required".cast("double")
            / ($"n_obs".cast("double") / $"n_days" / 2.0)).cast("long"))
        .select($"event_type", $"n_obs",
          round($"mean", 6).as("mean"),
          round($"variance", 6).as("variance"),
          round($"mde", 6).as("mde"), $"n_required", $"days_needed")
        .orderBy("event_type")
    }),

    // Neyman allocation (Neyman 1934 — the OPTIMAL stratified-sampling
    // design beside the corpus samplers: minimize estimator variance for
    // a fixed budget by sampling stratum h proportionally to N_h·S_h,
    // size × standard deviation, vs proportional allocation's N_h):
    // strata = event type, budget = 10% of the corpus (integer div).
    // Determinism: variance from exact milli-long moment sums (the
    // power-analysis discipline), sd via IEEE-correctly-rounded sqrt,
    // each N_h·sd weight NANO-QUANTIZED to a long before the ≤5-element
    // sum (order-safe); allocations are one double product of the long
    // ratio, HALF_UP-rounded in both engines. design_effect ships the
    // payoff audit: (Σ N_h S_h / N)² / (Σ N_h S_h² / N) ≤ 1, the
    // Neyman-vs-proportional variance ratio. Scale: one moment
    // aggregate per stratum + ≤|strata|-row arithmetic.
    "a_neyman_alloc" -> ((s, d) => {
      import s.implicits._
      val ev = events(s, d).select($"event_type",
        qroundLong($"value" * 1e3).as("vm"))
      val g = ev.groupBy($"event_type")
        .agg(count(lit(1)).as("n_h"), sum($"vm").as("sv"),
          sum($"vm" * $"vm").as("svv"))
        .filter($"n_h" > 1L)
        .withColumn("sd", sqrt(
          ($"svv".cast("double") - $"sv".cast("double") * $"sv" / $"n_h")
            / ($"n_h" - 1L)) / 1e3)
        .withColumn("w_nano", qroundLong($"n_h" * $"sd" * 1e9))
      val tot = g.agg(sum($"n_h").as("n_total"),
        sum($"w_nano").as("tw_nano"),
        // Σ N_h·S_h² in nano (for the design effect), exact per-element
        sum(qroundLong($"n_h" * $"sd" * $"sd" * 1e9))
          .as("twv_nano"))
        .withColumn("budget", expr("n_total div 10"))
      // greatest(·, 1) guards the all-zero-sd degenerate corpus (every
      // stratum constant ⇒ tw_nano = twv_nano = 0 ⇒ 0/0 NaN, whose cast
      // diverges between engines — the same degenerate-design class
      // a_power_analysis filters); on any real corpus the guard is
      // inert (weights ≥ 1 nano). Allocations degrade to 0, de to 0.
      g.crossJoin(broadcast(tot))
        .withColumn("neyman_n", qroundLong($"budget" *
          ($"w_nano".cast("double") / greatest($"tw_nano", lit(1L)))))
        .withColumn("proportional_n", qroundLong($"budget" *
          ($"n_h".cast("double") / $"n_total")))
        // explicit square, not pow(x, 2): libm pow is not ulp-portable
        .withColumn("mwbar", $"tw_nano".cast("double") / 1e9 / $"n_total")
        .withColumn("design_effect", round($"mwbar" * $"mwbar"
          / (greatest($"twv_nano", lit(1L)).cast("double") / 1e9 / $"n_total"),
          6))
        .select($"event_type", $"n_h", round($"sd", 6).as("sd"),
          $"neyman_n", $"proportional_n", $"design_effect")
        .orderBy("event_type")
    }),

    // Wald SPRT sequential monitor (Wald 1945) — the always-on peeking
    // companion to the fixed-horizon readouts (t-test / CUPED / DiD):
    // watch the treatment arm's purchase conversion day by day and stop
    // the moment the evidence crosses a boundary, with error rates
    // controlled DESPITE continuous monitoring (the problem naive
    // daily t-tests famously fail). H0: p = 0.2 vs H1: p = 0.25,
    // alpha = beta = 0.05 ⇒ log boundaries ±ln(19). The binomial LLR
    // is CLOSED FORM in the cumulative counts — llr_t = cum_purchases·
    // ln(p1/p0) + (cum_n − cum_purchases)·ln((1−p1)/(1−p0)) — so no
    // per-event float accumulation exists at all: exact long counts ×
    // two injected JVM constants, rounded 6dp, decision thresholds
    // compared on the rounded value in both engines. The cumulative
    // window runs over the calendar-bounded daily aggregate. Scale:
    // one filtered count aggregate keyed by day.
    "a_sprt_monitor" -> ((s, d) => {
      import s.implicits._
      val (p0, p1) = (0.2, 0.25)
      val c1 = math.log(p1 / p0)
      val c2 = math.log((1 - p1) / (1 - p0))
      val aThr = math.log(0.95 / 0.05) // ln((1-beta)/alpha)
      val bThr = math.log(0.05 / 0.95) // ln(beta/(1-alpha))
      val daily = events(s, d).filter(pmod($"user_id", lit(2L)) === 1L)
        .groupBy(to_date($"ts").as("day"))
        .agg(count(lit(1)).as("n"),
          sum(when($"event_type" === "purchase", 1L).otherwise(0L))
            .as("np"))
      val w = Window.orderBy($"day")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      daily.withColumn("cum_n", sum($"n").over(w))
        .withColumn("cum_purchases", sum($"np").over(w))
        .withColumn("llr", round($"cum_purchases" * lit(c1)
          + ($"cum_n" - $"cum_purchases") * lit(c2), 6))
        .withColumn("decision",
          when($"llr" >= lit(aThr), lit("accept_h1"))
            .when($"llr" <= lit(bThr), lit("accept_h0"))
            .otherwise(lit("continue")))
        .select($"day", $"cum_n", $"cum_purchases", $"llr", $"decision")
        .orderBy("day")
    }),

    // Difference-in-differences readout (Card & Krueger 1994 is the
    // canonical study; the panel estimator every experimentation /
    // policy stack reports next to the raw lift): effect =
    // (ȳ_T,post − ȳ_T,pre) − (ȳ_C,post − ȳ_C,pre) over the same
    // deterministic arm assignment (pmod(user_id, 2), sign-safe both
    // renderings — the repo-wide convention since round 18) and 15-day
    // split as a_cuped_adjusted — the two readouts compose into one
    // experimentation suite on identical cells. One corpus pass
    // aggregates the four (arm, period) cells as exact micro-long sums;
    // every mean is one double division, the effect is a fixed
    // parenthesization over the four cell means, both 6dp-rounded.
    // Output: the 4 cells + the effect column (same value each row, the
    // funnel-report convention). Scale: one groupBy of 4 groups.
    "a_did_estimator" -> ((s, d) => {
      import s.implicits._
      val ev = events(s, d).select($"user_id", to_date($"ts").as("day"),
        qroundLong($"value" * 1e6).as("vm"))
      val d0 = ev.agg(min($"day").as("d0"))
      val cells = ev.crossJoin(broadcast(d0))
        .select(pmod($"user_id", lit(2L)).as("arm"),
          when($"day" < date_add($"d0", 15), lit("pre"))
            .otherwise(lit("post")).as("period"), $"vm")
        .groupBy($"arm", $"period")
        .agg(count(lit(1)).as("n_events"), sum($"vm").as("sv"))
      didReadout(s, cells)
    }),

    // CUPED variance-reduced experiment readout (Deng, Xu, Kohavi &
    // Walker 2013, "Improving the sensitivity of online controlled
    // experiments") — the pre-period covariate adjustment every large
    // experimentation platform applies before the t-test. Per user:
    // x = pre-period (first 15 days) total value, y = outcome-period
    // total value, arm = pmod(user_id, 2) (the deterministic assignment
    // stand-in, sign-safe in both renderings per the repo-wide
    // convention). theta = cov(x, y)/var(x) over ALL users; the adjusted
    // arm mean is computed on AGGREGATES (mean_y - theta*(mean_x -
    // mean_x_all)) rather than per-row adjusted values, so the whole
    // readout is one user-keyed aggregate + a <= 2-row reduction.
    // var_reduction_pct = rho^2 * 100 (the CUPED guarantee: relative
    // variance drop of the adjusted metric). Determinism: per-user
    // totals are MILLI-quantized longs (value <= ~560, <= ~30 events/
    // user at sf0.1 -> |x_milli| < 2^24, and the sf0.1 moment sums
    // sum(x*y) stay ~8x under Long.MaxValue — headroom documented, the
    // ALS micro-sum precedent); moments are exact long sums, so theta/
    // rho/means are identical double arithmetic on both engines.
    "a_cuped_adjusted" -> ((s, d) => {
      import s.implicits._
      val ev = events(s, d).select($"user_id", to_date($"ts").as("day"),
        qroundLong($"value" * 1e3).as("vm"))
      val d0 = ev.agg(min($"day").as("d0"))
      val usr = ev.crossJoin(broadcast(d0))
        .groupBy($"user_id")
        .agg(sum(when($"day" < date_add($"d0", 15), $"vm").otherwise(0L))
          .as("x"),
          sum(when($"day" >= date_add($"d0", 15), $"vm").otherwise(0L))
            .as("y"))
        .withColumn("arm", pmod($"user_id", lit(2L)))
      // moments leave long space here: sx*sy would overflow 2^63 (ANSI
      // would throw); sums themselves are exact longs, so casting each
      // ONCE and running identical double expression trees on both
      // engines keeps theta/rho2 bit-deterministic
      cupedReadout(s, usr)
    }),

    // Kaplan-Meier survival estimator (Kaplan & Meier 1958) over user
    // lifetimes — the retention curve every product/churn stack ships,
    // with CORRECT censoring (naive "average lifetime" is biased low
    // because still-active users haven't finished living): a user's
    // lifetime is last-event day minus first-event day; users whose
    // last event falls in the corpus's final 3 days are right-censored
    // (they were still active when observation ended — they leave the
    // risk set without counting as churn). S(t) = prod_{u<=t}
    // (1 - d_u/n_u) over the day-valued duration domain, which is
    // bounded by the CALENDAR span of the corpus, not its row count.
    // Determinism: d/n/censor counts are exact longs; each factor's
    // ln quantizes to a nano long BEFORE the cumulative sum (the GMM
    // exp/ln precedent — identical IEEE inputs both engines) and the
    // 1e-300 clamp makes an extinct cohort read survival 0 exactly.
    // Scale: one user-keyed aggregate, a 1-row max-ts broadcast, then
    // everything lives on the <= |corpus days| duration frame.
    "a_survival_km" -> ((s, d) => {
      import s.implicits._
      val life = events(s, d).groupBy($"user_id")
        .agg(min(to_date($"ts")).as("first_day"),
          max(to_date($"ts")).as("last_day"))
      val horizon = events(s, d).agg(max(to_date($"ts")).as("end_day"))
      val durs = life.crossJoin(broadcast(horizon))
        .select(datediff($"last_day", $"first_day").cast("long").as("dur"),
          when(datediff($"end_day", $"last_day") < 3, 1L).otherwise(0L)
            .as("censored"))
      val byDur = durs.groupBy($"dur")
        .agg(count(lit(1)).as("n_ending"),
          sum(lit(1L) - $"censored").as("n_events"),
          sum($"censored").as("n_censored"))
        .localCheckpoint(false) // bounded frame: risk-set + product scans
      val wPrev = Window.orderBy($"dur")
        .rowsBetween(Window.unboundedPreceding, -1)
      val wCum = Window.orderBy($"dur")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val tot = byDur.agg(sum($"n_ending").as("n_total"))
      byDur.crossJoin(broadcast(tot))
        .withColumn("n_at_risk",
          $"n_total" - coalesce(sum($"n_ending").over(wPrev), lit(0L)))
        .withColumn("ln_nano",
          qroundLong(log(greatest(($"n_at_risk" - $"n_events").cast("double")
            / $"n_at_risk".cast("double"), lit(1e-300))) * 1e9))
        .withColumn("survival",
          round(exp(sum($"ln_nano").over(wCum).cast("double") / 1e9), 6))
        .select($"dur".as("dur_days"), $"n_at_risk", $"n_events",
          $"n_censored", $"survival")
        .orderBy("dur_days")
    }),

    // Gini concentration of per-user total event value (Lorenz-curve
    // trapezoid on GROUPED data — Gastwirth 1972): "what share of the
    // corpus's engagement mass sits with the heaviest users", the
    // concentration audit behind every data-mixture decision. The exact
    // per-item formula needs a corpus-wide sort; the scale-safe
    // estimator bins user totals into <= 1001 equi-width grid cells
    // (a_pareto_front's 1-row min/max broadcast device) and takes the
    // Lorenz trapezoid over bin aggregates — exact given the grouping,
    // under-shooting true Gini by at most the within-bin dispersion
    // (RelationalSpec pins the gap against the exact local replay).
    // Every term (n_b/n)·(L_{b-1}+L_b) quantizes to a nano long before
    // the bounded sum, so gini replays bit-for-bit in DuckDB. Scale:
    // one user-keyed aggregate; everything after is <= 1001 rows.
    "a_gini_concentration" -> ((s, d) => {
      import s.implicits._
      val prof = events(s, d).groupBy($"user_id")
        .agg(sum(qroundLong($"value" * 1e6)).as("tv"))
      val st = prof.agg(min($"tv").as("lo"), max($"tv").as("hi"),
        count(lit(1)).as("n"), sum($"tv").as("v"))
      val binned = prof.crossJoin(broadcast(st))
        .withColumn("bkt", when($"hi" === $"lo", lit(0L))
          .otherwise(expr("((tv - lo) * 1000) div (hi - lo + 1)")))
        .groupBy($"bkt").agg(count(lit(1)).as("nb"), sum($"tv").as("vb"),
          max($"n").as("n"), max($"v").as("v"))
      val wCum = Window.orderBy($"bkt")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      // v = 0 guard (the 0/0 discipline of a_mutual_info's NMI): an
      // all-zero (or net-zero) value corpus has no Lorenz curve — every
      // trapezoid term divides by total mass v, so gini is defined as
      // 0.0 (perfect equality of nothing) instead of NaN-poisoning the
      // release. Mirrored in the oracle.
      val terms = binned
        .withColumn("cv", sum($"vb").over(wCum))
        .withColumn("t_nano",
          when($"v" === 0L, lit(0L)).otherwise(
            qroundLong(($"nb".cast("double") / $"n".cast("double"))
              * ((($"cv" - $"vb") + $"cv").cast("double")
                / $"v".cast("double")) * 1e9)))
      terms.agg(max($"n").as("n_users"),
          round(max($"v").cast("double") / 1e6, 6).as("total_value"),
          when(max($"v") === 0L, lit(0.0)).otherwise(
            round(lit(1.0) - sum($"t_nano").cast("double") / 1e9, 6))
            .as("gini"))
    }),

    // Ordered funnel conversion (the product-analytics staple every
    // event warehouse reinvents; the windowed-sequence sibling of
    // a_cohort_retention): view -> click -> purchase, where each later
    // stage must occur STRICTLY AFTER the user's entry into the previous
    // one (first-touch semantics: stage k's entry = the user's earliest
    // qualifying event after stage k-1's entry — later same-type events
    // don't re-open the funnel). Output: one row per stage with entered
    // users, conversion from the previous stage and from the top.
    // Determinism: entries are MIN(ts) under exact timestamp comparison;
    // rates divide exact longs. Scale: one user-keyed conditional
    // aggregate per stage (3 total), each a map-side-combinable groupBy
    // joined user-to-user — never a self-join on the raw event stream,
    // and no per-user event sorting (the naive window formulation).
    "w_funnel_conversion" -> ((s, d) => {
      import s.implicits._
      val ev = events(s, d).select($"user_id", $"event_type", $"ts")
        .localCheckpoint(false) // probed once per funnel stage
      val s1 = ev.filter($"event_type" === "view")
        .groupBy($"user_id").agg(min($"ts").as("t1"))
      val s2 = ev.filter($"event_type" === "click")
        .join(s1, "user_id").filter($"ts" > $"t1")
        .groupBy($"user_id").agg(min($"ts").as("t2"))
      val s3 = ev.filter($"event_type" === "purchase")
        .join(s2, "user_id").filter($"ts" > $"t2")
        .groupBy($"user_id").agg(min($"ts").as("t3"))
      // stage counts stay XCom-scale scalars (3 longs — the S12
      // posture) but are computed as ONE lazy plan: the three 1-row
      // count aggregates cross-join into a single row, which explodes
      // into the 3-stage report. No driver .count() actions — the query
      // is as lazy as every other registered entry and runs as one job
      // when consumed (the round-14 ADVICE/VERDICT item)
      val n = s1.agg(count(lit(1)).as("n1"))
        .crossJoin(s2.agg(count(lit(1)).as("n2")))
        .crossJoin(s3.agg(count(lit(1)).as("n3")))
      n.select(explode(array(
          struct(lit(1).as("stage"), lit("view").as("step"),
            $"n1".as("n_users"), $"n1".as("prev"), $"n1".as("top")),
          struct(lit(2).as("stage"), lit("click_after_view").as("step"),
            $"n2".as("n_users"), $"n1".as("prev"), $"n1".as("top")),
          struct(lit(3).as("stage"),
            lit("purchase_after_click").as("step"),
            $"n3".as("n_users"), $"n2".as("prev"), $"n1".as("top"))))
          .as("r"))
        .select($"r.stage".as("stage"), $"r.step".as("step"),
          $"r.n_users".as("n_users"),
          when($"r.prev" === 0L, lit(0.0))
            .otherwise(round($"r.n_users".cast("double") / $"r.prev", 6))
            .as("conv_from_prev"),
          when($"r.top" === 0L, lit(0.0))
            .otherwise(round($"r.n_users".cast("double") / $"r.top", 6))
            .as("conv_from_top"))
        .orderBy("stage")
    }),

    // Mann-Whitney z over the experiment ARMS (round 18) — the
    // nonparametric sibling of a_ttest_welch/a_cuped_adjusted on the
    // same pmod(user_id, 2) split, completing the readout family with a
    // distribution-free test statistic; distinct from `a_mann_whitney`
    // (the click-vs-purchase U readout, no z): this one reports the
    // tie-corrected normal-approximation z the monitoring stack
    // thresholds on (Mann & Whitney 1947). Exactness device: ranks are
    // computed over the MILLI-quantized values in HALF-UNITS — for a
    // tie group of size t spanning cumulative positions (cum-t, cum],
    // the shared average rank is cum - (t-1)/2, so 2·rank = 2·cum - t
    // + 1 is an exact long for every group — and the rank-sum /
    // tie-correction terms stay exact longs until the one final z
    // division (sqrt is IEEE-correctly-rounded, portable across
    // engines, the a_ttest_welch precedent). The rank table is over
    // DISTINCT micro-values (one global-order window — the same
    // inherent exact-test cost as a_percentiles' type-7 quantiles; at
    // 100 TB you'd run this on the per-value partial-aggregated table,
    // which is exactly what this plan does: the window input is the
    // per-milli-bin aggregate, bounded by the VALUE RANGE (~1e6 bins
    // for a [0,1000] metric), not the corpus — the binRanked whitelist
    // argument, same as the sibling a_mann_whitney). Tie term Σ(t³−t)
    // stays < 2^63 for tie groups to ~2M rows; the BhM-style
    // loud-failure posture applies (ANSI overflow throws).
    "a_mann_whitney_arms" -> ((s, d) => {
      import s.implicits._
      val v = events(s, d).select(pmod($"user_id", lit(2L)).as("arm"),
        qroundLong($"value" * 1e3).as("vm"))
      val byV = v.groupBy($"vm")
        .agg(count(lit(1)).as("cnt"), sum($"arm").as("n1v"))
      val w = Window.orderBy($"vm")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      byV.withColumn("cum", sum($"cnt").over(w))
        .withColumn("rank2", lit(2L) * $"cum" - $"cnt" + lit(1L))
        .agg(sum($"cnt").as("n"), sum($"n1v").as("n1"),
          sum($"n1v" * $"rank2").as("r1_x2"),
          sum($"cnt" * $"cnt" * $"cnt" - $"cnt").as("tie_term"))
        .select($"n", ($"n" - $"n1").as("n0"), $"n1",
          ($"r1_x2" - $"n1" * ($"n1" + 1L)).as("u1_x2"), $"tie_term")
        // z from exact longs: U1 = u1_x2/2, mu = n0·n1/2,
        // var = n0·n1/12 · ((n+1) − tie_term/(n(n−1)))
        .withColumn("z", round(
          (($"u1_x2".cast("double") / 2.0)
            - ($"n0".cast("double") * $"n1" / 2.0)) /
            sqrt($"n0".cast("double") * $"n1" / 12.0 *
              (($"n" + 1L).cast("double") -
                $"tie_term".cast("double") /
                  ($"n".cast("double") * ($"n" - 1L)))), 6))
    }),

    // One-way ANOVA F across the event-type groups (Fisher 1925) — the
    // k-group generalization of a_ttest_welch, same exact-moments
    // device: ONE corpus pass accumulates milliMoments (n, Σvm, Σvm²)
    // per group; each group's between-term (Σvm/1e3)²/n is then
    // micro-quantized to a long BEFORE the k-element sum (the
    // a_neyman_alloc ≤5-element-sum pattern — long addition is
    // order-free where double addition is not), so SSB/SSW/F/η² are
    // fixed-order double expressions over exact integers. Scale: the
    // corpus pass is map-side partial-aggregated on 5 keys; everything
    // after runs on a 5-row frame.
    "a_anova_f" -> ((s, d) => {
      import s.implicits._
      val g = milliMoments(events(s, d), $"event_type")
        .withColumn("bt_micro",
          qroundLong(($"sv" / 1e3) * ($"sv" / 1e3) / $"n" * 1e6))
      g.agg(count(lit(1)).as("k"), sum($"n").as("n_total"),
          sum($"sv").as("s_all"), sum($"ssv").as("ss_all"),
          sum($"bt_micro").as("bt_all"))
        .withColumn("ssb",
          $"bt_all" / 1e6 - ($"s_all" / 1e3) * ($"s_all" / 1e3) / $"n_total")
        .withColumn("ssw", $"ss_all" / 1e6 - $"bt_all" / 1e6)
        .select($"k", $"n_total", round($"ssb", 6).as("ssb"),
          round($"ssw", 6).as("ssw"),
          round(($"ssb" / ($"k" - 1L)) /
            ($"ssw" / ($"n_total" - $"k")), 6).as("f_stat"),
          round($"ssb" / ($"ssb" + $"ssw"), 6).as("eta_sq"))
    }),

    // TOST equivalence test on the pmod(user_id, 2) experiment arms
    // (Schuirmann 1987) — the readout the t-test family can't give:
    // affirmative evidence of NO meaningful difference (the
    // launch-the-neutral-change decision), not mere absence of
    // significance. Margin δ = 2% of the pooled mean; two one-sided z
    // tests (large-sample normal approximation, the a_bh_fdr
    // precedent): equivalent ⇔ t_lower ≥ z_.05 AND t_upper ≤ −z_.05.
    // Same exact-moments device as a_ttest_welch — one corpus pass to
    // (n, Σvm, Σvm²) per (type, arm) milli-longs; every double after is
    // a fixed-order expression on the tiny 5-row pivot, and the flag
    // compares the 6dp-ROUNDED statistics to the literal threshold so
    // boundary behavior is pinned (the f19 convention).
    "a_tost_equivalence" -> ((s, d) => {
      import s.implicits._
      val zcrit = TostZ
      val g = milliMoments(events(s, d), $"event_type",
        pmod($"user_id", lit(2L)).as("arm"))
        .withColumn("m", $"sv" / 1e3 / $"n")
        .withColumn("v",
          ($"ssv" / 1e6 - ($"sv" / 1e3) * ($"sv" / 1e3) / $"n") / ($"n" - 1))
      val a = g.filter($"arm" === 0L).select($"event_type", $"n".as("na"),
        $"sv".as("sva"), $"m".as("ma"), $"v".as("va"))
      val b = g.filter($"arm" === 1L).select($"event_type", $"n".as("nb"),
        $"sv".as("svb"), $"m".as("mb"), $"v".as("vb"))
      // FULL OUTER: an event_type whose users all land in one arm must
      // surface as a NULL-statistics row (equivalent = 0), not vanish —
      // a silently-dropped treatment group is invisible to the oracle
      // compare because both engines would drop it identically
      a.join(b, Seq("event_type"), "full_outer")
        .withColumn("delta", ($"sva" + $"svb") / 1e3 / ($"na" + $"nb") * 0.02)
        .withColumn("se", sqrt($"va" / $"na" + $"vb" / $"nb"))
        .withColumn("t_lower", round(($"mb" - $"ma" + $"delta") / $"se", 6))
        .withColumn("t_upper", round(($"mb" - $"ma" - $"delta") / $"se", 6))
        .select($"event_type", $"na", $"nb",
          round($"ma", 6).as("mean_a"), round($"mb", 6).as("mean_b"),
          round($"mb" - $"ma", 6).as("diff"),
          round($"delta", 6).as("delta"),
          $"t_lower", $"t_upper",
          when($"t_lower" >= zcrit && $"t_upper" <= -zcrit, 1L)
            .otherwise(0L).as("equivalent"))
        .orderBy("event_type")
    }),

    // Cochran-Mantel-Haenszel stratified 2×2 test (Mantel & Haenszel
    // 1959): does the arm move the high-value rate CONTROLLING for
    // day-of-week — the confounder-adjusted readout a pooled 2×2 gets
    // wrong whenever traffic mix shifts across strata (Simpson's
    // class). Strata = epoch-day dow (the a_seasonality_dow arithmetic
    // — no engine dow convention involved), exposure = the
    // pmod(user_id, 2) arm, outcome = milli-value > 50000 (~the
    // corpus mean — splits every stratum non-degenerately at all SFs;
    // the heavy tail keeps the rate well under half). Per
    // stratum the 2×2 margins (n, r1, c1, a) are exact longs from ONE
    // corpus pass partial-aggregated on ≤ 7 keys; E_k = r1·c1/n and
    // V_k = (r1/n)(r0/n)·c1·c0/(n−1) are fixed-order doubles
    // nano-quantized to longs BEFORE the ≤ 7-element sums (the
    // a_neyman_alloc device), leaving one final z division. z² is the
    // CMH χ² (1 df); the signed z keeps the direction.
    "a_cmh_test" -> ((s, d) => {
      import s.implicits._
      val cells = events(s, d)
        .select(
          ((datediff(to_date($"ts"), lit("1970-01-01").cast("date")) + 4)
            % 7).as("stratum"),
          pmod($"user_id", lit(2L)).as("arm"),
          (qroundLong($"value" * 1e3) > 50000L)
            .cast("long").as("hit"))
        .groupBy($"stratum")
        .agg(count(lit(1)).as("n"), sum($"arm").as("r1"),
          sum($"hit").as("c1"), sum($"arm" * $"hit").as("a"))
        .withColumn("r0", $"n" - $"r1")
        .withColumn("c0", $"n" - $"c1")
        .withColumn("e_nano",
          qroundLong($"r1".cast("double") * $"c1" / $"n" * 1e9))
        // greatest(n−1, 1): an n = 1 stratum (seen at sf0.001) has
        // r1·r0 = 0, so V_k is exactly 0 whatever the denominator —
        // the guard only dodges ANSI ÷0, never changes a value (the
        // a_neyman_alloc greatest(tw_nano, 1) device)
        .withColumn("v_nano", qroundLong(
          ($"r1".cast("double") / $"n") * ($"r0".cast("double") / $"n") *
            $"c1" * $"c0" / greatest($"n" - 1L, lit(1L)) * 1e9))
      cells.agg(count(lit(1)).as("k"), sum($"n").as("n_total"),
          sum($"a").as("a_total"), sum($"e_nano").as("e_nano"),
          sum($"v_nano").as("v_nano"))
        .select($"k", $"n_total", $"a_total",
          round($"e_nano" / 1e9, 6).as("expected"),
          round($"v_nano" / 1e9, 6).as("variance"),
          when($"v_nano" > 0L, round(($"a_total" - $"e_nano" / 1e9) /
            sqrt($"v_nano" / 1e9), 6)).as("cmh_z"))
    }),
  )

  /** DiD readout over the (arm, period, n_events, sv) cell frame — the
    * four exact micro-long sufficient-statistic cells. Factored out of
    * a_did_estimator so StreamingSpec's foreachBatch twin shares the
    * readout arithmetic: counts and micro-long sums merge ADDITIVELY
    * across micro-batches, so the twin maintains the same four cells as
    * incrementally-merged state and the readout is exactly recomputable
    * after every batch (the streaming posture the reference's 30-min
    * cadence implies, SURVEY §2.9).
    */
  def didReadout(s: SparkSession, cells0: DataFrame): DataFrame = {
    import s.implicits._
    val cells = cells0.withColumn("mean_value",
      round($"sv".cast("double") / $"n_events" / 1e6, 6))
    val eff = cells.agg(round(
      (sum(when($"arm" === 1L && $"period" === "post",
        $"sv".cast("double") / $"n_events" / 1e6).otherwise(0.0))
        - sum(when($"arm" === 1L && $"period" === "pre",
          $"sv".cast("double") / $"n_events" / 1e6).otherwise(0.0)))
        - (sum(when($"arm" === 0L && $"period" === "post",
          $"sv".cast("double") / $"n_events" / 1e6).otherwise(0.0))
          - sum(when($"arm" === 0L && $"period" === "pre",
            $"sv".cast("double") / $"n_events" / 1e6).otherwise(0.0))), 6)
      .as("did_effect"))
    cells.select($"arm", $"period", $"n_events", $"mean_value")
      .crossJoin(broadcast(eff))
      .orderBy("arm", "period")
  }

  /** CUPED readout over the per-user covariate frame (arm, x, y) with
    * milli-long pre/outcome totals. Factored out of a_cuped_adjusted for
    * the same reason as didReadout: per-user totals merge ADDITIVELY
    * across micro-batches, so StreamingSpec's foreachBatch twin keeps a
    * user-keyed (x, y) state table and feeds the identical readout. The
    * quadratic moments (sxx/sxy/syy) are computed HERE, from the final
    * state, never incrementally — they are not additive in the deltas,
    * which is exactly why the streaming posture keys state by user.
    */
  def cupedReadout(s: SparkSession, usr: DataFrame): DataFrame = {
    import s.implicits._
    val gm = usr.agg(count(lit(1)).as("n"), sum($"x").as("sx"),
      sum($"y").as("sy"), sum($"x" * $"x").as("sxx"),
      sum($"x" * $"y").as("sxy"), sum($"y" * $"y").as("syy"))
      .select($"n".as("nu"),
        ($"sx".cast("double") / $"n").as("mx"),
        (($"sxy".cast("double") - $"sx".cast("double") * $"sy" / $"n")
          / ($"sxx".cast("double") - $"sx".cast("double") * $"sx" / $"n"))
          .as("theta"),
        (($"sxy".cast("double") - $"sx".cast("double") * $"sy" / $"n")
          * ($"sxy".cast("double") - $"sx".cast("double") * $"sy" / $"n")
          / (($"sxx".cast("double") - $"sx".cast("double") * $"sx" / $"n")
            * ($"syy".cast("double") - $"sy".cast("double") * $"sy"
              / $"n"))).as("rho2"))
    usr.groupBy($"arm")
      .agg(count(lit(1)).as("n_users"),
        sum($"x").as("ax"), sum($"y").as("ay"))
      .crossJoin(broadcast(gm))
      .select($"arm", $"n_users",
        round($"ay".cast("double") / $"n_users" / 1e3, 6).as("mean_y"),
        round(($"ay".cast("double") / $"n_users"
          - $"theta" * ($"ax".cast("double") / $"n_users" - $"mx")) / 1e3,
          6).as("mean_y_cuped"),
        round($"theta", 6).as("theta"),
        round($"rho2" * 100.0, 4).as("var_reduction_pct"))
      .orderBy("arm")
  }

  private val pivotCols =
    EventTypes.map(t =>
      s"CAST(SUM(CASE WHEN event_type = '$t' THEN 1 ELSE 0 END) AS BIGINT) AS \"$t\"")
      .mkString(", ")

  val oracles: Map[String, String] = Map(
    "a1_dup_groups" ->
      """SELECT l_orderkey, COUNT(*) AS cnt,
        |  array_to_string(list_sort(list(DISTINCT l_linenumber)), ',') AS line_numbers
        |FROM lineitem GROUP BY l_orderkey HAVING COUNT(*) > 5
        |ORDER BY l_orderkey""".stripMargin,
    "a2_table_counts" ->
      """SELECT 'customer' AS tbl, COUNT(*) AS n_rows FROM customer
        |UNION ALL SELECT 'events', COUNT(*) FROM events
        |UNION ALL SELECT 'lineitem', COUNT(*) FROM lineitem
        |UNION ALL SELECT 'orders', COUNT(*) FROM orders
        |ORDER BY tbl""".stripMargin,
    "a3_event_type_counts" ->
      """SELECT event_type, COUNT(*) AS cnt FROM events
        |GROUP BY event_type ORDER BY cnt DESC, event_type ASC""".stripMargin,
    "a4_daily_value_trend" ->
      """SELECT CAST(ts AS DATE) AS day, ROUND(AVG(value), 6) AS avg_value,
        |  COUNT(*) AS n
        |FROM events GROUP BY 1 ORDER BY 1""".stripMargin,
    "a5_daily_share_pct" ->
      """SELECT day, event_type, cnt,
        |  ROUND(cnt * 100.0 / SUM(cnt) OVER (PARTITION BY day), 6) AS pct
        |FROM (SELECT CAST(ts AS DATE) AS day, event_type, COUNT(*) AS cnt
        |      FROM events GROUP BY 1, 2)
        |ORDER BY day, event_type""".stripMargin,
    "a6_daily_pivot" ->
      s"""SELECT CAST(ts AS DATE) AS day, $pivotCols
         |FROM events GROUP BY 1 ORDER BY 1""".stripMargin,
    "a7_user_top_event" ->
      s"""SELECT user_id, event_type, cnt FROM (${topKSql(
        "(SELECT user_id, event_type, COUNT(*) AS cnt FROM events GROUP BY 1, 2)",
        Seq("user_id"), Seq("cnt DESC", "event_type ASC"), 1, None)})
         |ORDER BY user_id""".stripMargin,
    "a8_top_order" ->
      """SELECT o_orderkey, o_custkey, o_totalprice FROM orders
        |ORDER BY o_totalprice DESC, o_orderkey ASC LIMIT 1""".stripMargin,
    "a_bootstrap_ci" ->
      s"""WITH rs AS (
         |  SELECT event_type, value, g.b,
         |    [0,0,0,0,1,1,1,2,2,3][
         |      ${graft.ops.DedupOps.polyHashSql(
        "CAST(event_id AS VARCHAR) || ':' || CAST(g.b AS VARCHAR)")} % 10 + 1] AS w
         |  FROM events CROSS JOIN (SELECT unnest(range(32)) AS b) g),
         |mb AS (
         |  SELECT event_type, b, ROUND(SUM(w * value) / SUM(w), 6) AS m
         |  FROM rs GROUP BY 1, 2),
         |rk AS (
         |  SELECT event_type, m,
         |    row_number() OVER (PARTITION BY event_type ORDER BY m, b) AS rn
         |  FROM mb),
         |ci AS (
         |  SELECT event_type,
         |    MIN(CASE WHEN rn = 2 THEN m END) AS ci_lo,
         |    MIN(CASE WHEN rn = 31 THEN m END) AS ci_hi
         |  FROM rk GROUP BY 1)
         |SELECT events.event_type, ROUND(AVG(value), 6) AS mean_value,
         |  ANY_VALUE(ci_lo) AS ci_lo, ANY_VALUE(ci_hi) AS ci_hi
         |FROM events JOIN ci ON events.event_type = ci.event_type
         |GROUP BY 1 ORDER BY 1""".stripMargin,
    // Exact-integer replay of the ACF estimator: pair sums (m, s12, s1,
    // s2) and global moments (n, sy, syy) are BIGINTs in both engines;
    // ybar = sy / CAST(n AS DOUBLE) and the left-associated double
    // expression mirror the Spark column algebra term for term, so the
    // 6dp-rounded acf matches bit-for-bit. lag_k (not "lag": LAG is a
    // reserved word here).
    // Recursive-CTE replay of the micro-quantized Holt recurrence: the
    // walk advances one day (rn) at a time carrying (ln, bn); every
    // double expression reads the same exact longs the engine's fold
    // re-quantized, so the trajectories are identical pre-rounding.
    "a_holt_linear" ->
      s"""WITH RECURSIVE daily AS (
        |  SELECT CAST(ts AS DATE) AS day,
        |    CAST(SUM(${qroundLongSql("value * 1e6")}) AS BIGINT)
        |      AS ym,
        |    row_number() OVER (ORDER BY CAST(ts AS DATE)) AS rn
        |  FROM events GROUP BY 1),
        |hw(day, ym, rn, ln, bn) AS (
        |  SELECT day, ym, rn, ym, CAST(0 AS BIGINT) FROM daily WHERE rn = 1
        |  UNION ALL
        |  SELECT d.day, d.ym, d.rn,
        |    ${qroundLongSql("0.5 * d.ym + 0.5 * (h.ln + h.bn)")},
        |    ${qroundLongSql(s"""0.3 * (${qroundLongSql("0.5 * d.ym + 0.5 * (h.ln + h.bn)")} - h.ln) + 0.7 * h.bn""")}
        |  FROM hw h JOIN daily d ON d.rn = h.rn + 1)
        |SELECT day, ROUND(CAST(ym AS DOUBLE) / 1e6, 6) AS y,
        |  ROUND(CAST(ln AS DOUBLE) / 1e6, 6) AS level,
        |  ROUND(CAST(bn AS DOUBLE) / 1e6, 6) AS trend,
        |  ROUND(CAST(ln + bn AS DOUBLE) / 1e6, 6) AS forecast_next
        |FROM hw ORDER BY day""".stripMargin,
    "a_acf_daily" ->
      """WITH daily AS (
        |  SELECT event_type, CAST(ts AS DATE) AS day, COUNT(*) AS y
        |  FROM events GROUP BY 1, 2),
        |d2 AS (
        |  SELECT event_type,
        |    date_diff('day', DATE '1970-01-01', day) AS x, y
        |  FROM daily),
        |g AS (
        |  SELECT event_type, COUNT(*) AS n, SUM(y) AS sy,
        |    SUM(y * y) AS syy
        |  FROM d2 GROUP BY 1),
        |lags AS (SELECT unnest(range(1, 8)) AS lag_k),
        |pairs AS (
        |  SELECT a.event_type, lags.lag_k, a.y AS y1, b.y AS y2
        |  FROM d2 a CROSS JOIN lags
        |  JOIN d2 b ON b.event_type = a.event_type
        |    AND b.x = a.x + lags.lag_k),
        |agg AS (
        |  SELECT event_type, lag_k, COUNT(*) AS m, SUM(y1 * y2) AS s12,
        |    SUM(y1) AS s1, SUM(y2) AS s2
        |  FROM pairs GROUP BY 1, 2),
        |yb AS (SELECT event_type AS et, n, sy, syy,
        |  sy / CAST(n AS DOUBLE) AS ybar FROM g)
        |SELECT agg.event_type, lag_k, m,
        |  ROUND((s12 - ybar * (s1 + s2) + m * ybar * ybar)
        |        / (syy - sy * ybar), 6) AS acf
        |FROM agg JOIN yb ON agg.event_type = yb.et
        |ORDER BY event_type, lag_k""".stripMargin,
    // Fraction-free CUSUM replay: snum = n·cumsum(y) − t·Σy is exact
    // BIGINT algebra, the argmax is an integer comparison with the same
    // earliest-day tie-break, and only the final peak rescale touches
    // doubles — identical rounding on both sides.
    "a_cusum_changepoint" ->
      s"""WITH daily AS (
        |  SELECT event_type, CAST(ts AS DATE) AS day, COUNT(*) AS y
        |  FROM events GROUP BY 1, 2),
        |c AS (
        |  SELECT event_type, day, y,
        |    row_number() OVER (PARTITION BY event_type ORDER BY day) AS t,
        |    SUM(y) OVER (PARTITION BY event_type ORDER BY day
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cy
        |  FROM daily),
        |g AS (
        |  SELECT event_type, COUNT(*) AS n, SUM(y) AS sy
        |  FROM daily GROUP BY 1),
        |s AS (
        |  SELECT c.event_type, day, n, n * cy - t * sy AS snum
        |  FROM c JOIN g ON c.event_type = g.event_type),
        |p AS (${topKSql("s", Seq("event_type"), Seq("ABS(snum) DESC", "day ASC"), 1, None)})
        |SELECT event_type, day AS cp_day, n AS n_days,
        |  ROUND(ABS(snum) / CAST(n AS DOUBLE), 6) AS cusum_peak
        |FROM p ORDER BY event_type""".stripMargin,
    // Property oracle for the built-in sketches (see the query scaladoc):
    // n and exact distinct replay exactly; the three TRUEs assert the
    // HLL++ 5% bound and the GK rank guarantee at ε = 1/10000.
    "a_approx_stats" ->
      """SELECT event_type, COUNT(*) AS n,
        |  COUNT(DISTINCT user_id) AS exact_users,
        |  TRUE AS users_ok, TRUE AS p50_ok, TRUE AS p95_ok
        |FROM events GROUP BY 1 ORDER BY 1""".stripMargin,
    // Property oracle for the datasketches merge (see the query scaladoc):
    // shard bookkeeping and exact distinct replay exactly; `TRUE AS
    // est_ok` asserts the merged estimate stays within the 5% bound.
    "a_sketch_merge" ->
      """SELECT event_type,
        |  COUNT(DISTINCT CAST(ts AS DATE)) AS n_shards,
        |  COUNT(*) AS n_rows,
        |  COUNT(DISTINCT user_id) AS exact_users,
        |  TRUE AS est_ok
        |FROM events GROUP BY 1 ORDER BY 1""".stripMargin,
    "a_quantile_sketch" -> {
      val rounds = (1 to 12).map { j =>
        val p = graft.ops.DedupOps.polyHashSql(s"event_type || '#' || '$j'") + " % 2"
        s"""s$j AS (
           |  SELECT event_type, ($p) AS p, n > 64 AS act, c, m, n
           |  FROM t${j - 1}),
           |t$j AS (
           |  SELECT event_type,
           |    CASE WHEN act AND p = 0 THEN c + m ELSE c END AS c,
           |    CASE WHEN act THEN m * 2 ELSE m END AS m,
           |    CASE WHEN act THEN
           |      CASE WHEN p = 1 THEN (n + 1) // 2 ELSE n // 2 END
           |    ELSE n END AS n
           |  FROM s$j)""".stripMargin
      }.mkString(",\n")
      s"""WITH base AS MATERIALIZED (
         |  SELECT event_type, value, event_id,
         |    row_number() OVER (PARTITION BY event_type
         |      ORDER BY value, event_id) AS rn,
         |    COUNT(*) OVER (PARTITION BY event_type) AS cnt0
         |  FROM events),
         |t0 AS (
         |  SELECT event_type, CAST(1 AS BIGINT) AS c, CAST(1 AS BIGINT) AS m,
         |    MAX(cnt0) AS n
         |  FROM base GROUP BY 1),
         |$rounds
         |,surv AS (
         |  SELECT b.event_type, b.value, b.cnt0, s.n AS ns,
         |    row_number() OVER (PARTITION BY b.event_type
         |      ORDER BY b.value, b.event_id) AS i
         |  FROM base b JOIN t12 s USING (event_type)
         |  WHERE (b.rn - s.c) % s.m = 0)
         |SELECT event_type, MAX(cnt0) AS n_rows, MAX(ns) AS n_sketch,
         |  MIN(CASE WHEN 2 * i >= ns THEN value END) AS est_p50,
         |  MIN(CASE WHEN 20 * i >= 19 * ns THEN value END) AS est_p95
         |FROM surv GROUP BY 1 ORDER BY 1""".stripMargin
    },
    "a_hll_shard_merge" ->
      s"""WITH b AS (SELECT event_type, CAST(ts AS DATE) AS day, user_id FROM events),
         |sregs AS (${hllRegistersSql("b", "event_type", "day")}),
         |regs AS (SELECT event_type, j, MAX(r) AS r FROM sregs GROUP BY 1, 2),
         |nsh AS (
         |  SELECT event_type, COUNT(DISTINCT day) AS n_shards
         |  FROM sregs GROUP BY 1),
         |est AS (${hllEstimateSql("events", "regs", "event_type")})
         |SELECT events.event_type,
         |  COUNT(DISTINCT user_id) AS exact_users,
         |  ANY_VALUE(nsh.n_shards) AS n_shards,
         |  ANY_VALUE(est.hll_est) AS hll_est
         |FROM events
         |JOIN est ON events.event_type = est.event_type
         |JOIN nsh ON events.event_type = nsh.event_type
         |GROUP BY 1 ORDER BY 1""".stripMargin,
    "a_hll_probe" ->
      s"""WITH regs AS (${hllRegistersSql("events", "event_type")}),
         |est AS (${hllEstimateSql("events", "regs", "event_type")})
         |SELECT events.event_type,
         |  COUNT(DISTINCT user_id) AS exact_users,
         |  ANY_VALUE(est.hll_est) AS hll_est
         |FROM events JOIN est ON events.event_type = est.event_type
         |GROUP BY 1 ORDER BY 1""".stripMargin,
    "w_ewma_daily" ->
      """WITH daily AS (
        |  SELECT event_type, CAST(ts AS DATE) AS day, AVG(value) AS x
        |  FROM events GROUP BY 1, 2),
        |b AS (
        |  SELECT event_type, day, x,
        |    date_diff('day', MIN(day) OVER (PARTITION BY event_type), day) AS t
        |  FROM daily),
        |c AS (
        |  SELECT event_type, day, x, t,
        |    t % 64 AS r, (t // 64) % 2 AS pe
        |  FROM b)
        |SELECT event_type, day, ROUND(x, 6) AS x,
        |  ROUND(
        |    (CASE WHEN pe = 0
        |       THEN SUM(CASE WHEN pe = 0 THEN x * pow(2.0, r) ELSE 0.0 END) OVER w
        |          + pow(2.0, -64) * SUM(CASE WHEN pe = 1 THEN x * pow(2.0, r) ELSE 0.0 END) OVER w
        |       ELSE SUM(CASE WHEN pe = 1 THEN x * pow(2.0, r) ELSE 0.0 END) OVER w
        |          + pow(2.0, -64) * SUM(CASE WHEN pe = 0 THEN x * pow(2.0, r) ELSE 0.0 END) OVER w
        |     END) /
        |    (CASE WHEN pe = 0
        |       THEN SUM(CASE WHEN pe = 0 THEN pow(2.0, r) ELSE 0.0 END) OVER w
        |          + pow(2.0, -64) * SUM(CASE WHEN pe = 1 THEN pow(2.0, r) ELSE 0.0 END) OVER w
        |       ELSE SUM(CASE WHEN pe = 1 THEN pow(2.0, r) ELSE 0.0 END) OVER w
        |          + pow(2.0, -64) * SUM(CASE WHEN pe = 0 THEN pow(2.0, r) ELSE 0.0 END) OVER w
        |     END), 6) AS ewma
        |FROM c
        |WINDOW w AS (PARTITION BY event_type ORDER BY t
        |             RANGE BETWEEN 63 PRECEDING AND CURRENT ROW)
        |ORDER BY event_type, day""".stripMargin,
    "w1_top_suppliers_per_nation" ->
      s"""WITH rev AS (
        |  SELECT l_suppkey,
        |    SUM(CAST(l_extendedprice AS DECIMAL(12,2)) *
        |        (CAST(1 AS DECIMAL(12,2)) - CAST(l_discount AS DECIMAL(4,2)))) AS rev
        |  FROM lineitem GROUP BY 1)
        |SELECT n_name, rank, s_suppkey, s_name,
        |  ROUND(CAST(rev AS DOUBLE), 2) AS revenue
        |FROM (${topKSql(
          """(SELECT n_name, s_suppkey, s_name, rev FROM supplier
            |  JOIN nation ON s_nationkey = n_nationkey
            |  LEFT JOIN rev ON s_suppkey = l_suppkey)""".stripMargin,
          Seq("n_name"), Seq("rev DESC", "s_suppkey ASC"), 3, Some("rank"))})
        |ORDER BY n_name, rank""".stripMargin,
    "w_running_daily_purchases" ->
      """SELECT day, n, CAST(SUM(n) OVER (ORDER BY day
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS running_n
        |FROM (SELECT CAST(ts AS DATE) AS day, COUNT(*) AS n FROM events
        |      WHERE event_type = 'purchase' GROUP BY 1)
        |ORDER BY day""".stripMargin,
    "w_day_over_day_delta" ->
      """SELECT day, n, prev_n, n - COALESCE(prev_n, 0) AS delta FROM (
        |  SELECT day, n, lag(n, 1) OVER (ORDER BY day) AS prev_n
        |  FROM (SELECT CAST(ts AS DATE) AS day, COUNT(*) AS n FROM events GROUP BY 1))
        |ORDER BY day""".stripMargin,
    "f19_value_buckets" ->
      """SELECT CASE WHEN value >= 150.0 THEN 'high'
        |            WHEN value <= 50.0 THEN 'low'
        |            ELSE 'mid' END AS bucket,
        |  COUNT(*) AS cnt, ROUND(AVG(value), 6) AS avg_value
        |FROM events GROUP BY 1 ORDER BY 1""".stripMargin,
    "f29_value_histogram" ->
      """SELECT bucket, COALESCE(cnt, 0) AS cnt
        |FROM (SELECT CAST(range AS INT) AS bucket FROM range(0, 20))
        |LEFT JOIN (
        |  SELECT CAST(LEAST(FLOOR(value / 25.0), 19) AS INT) AS b, COUNT(*) AS cnt
        |  FROM events GROUP BY 1) ON bucket = b
        |ORDER BY bucket""".stripMargin,
    "f15_parse_coerce" ->
      """SELECT COUNT(*) AS n, COUNT(parsed) AS n_parsed,
        |  CAST(SUM(CASE WHEN parsed IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_null
        |FROM (SELECT try_strptime(
        |    CASE WHEN event_id % 97 = 0 THEN 'not-a-date'
        |         ELSE strftime(ts, '%Y-%m-%d %H:%M:%S') END,
        |    '%Y-%m-%d %H:%M:%S') AS parsed
        |  FROM events)""".stripMargin,
    "f18_hourly_format" ->
      """SELECT strftime(ts, '%Y-%m-%d %H') AS hour, COUNT(*) AS n
        |FROM events GROUP BY 1 ORDER BY 1""".stripMargin,
    "f22_json_extract" ->
      """SELECT CAST(props->>'$.k' AS INT) AS k, COUNT(*) AS n
        |FROM events GROUP BY 1 ORDER BY 1""".stripMargin,
    "privacy_k_anonymity" ->
      """WITH g AS (
        |  SELECT lang, source, n_chars // 100 AS size_bin,
        |    COUNT(*) AS gsz
        |  FROM documents GROUP BY 1, 2, 3),
        |ks(k) AS (VALUES (CAST(2 AS BIGINT)), (CAST(5 AS BIGINT)),
        |  (CAST(10 AS BIGINT)))
        |SELECT k,
        |  CAST(SUM(gsz) AS BIGINT) AS n_docs,
        |  CAST(COUNT(*) AS BIGINT) AS n_groups,
        |  CAST(SUM(CASE WHEN gsz < k THEN gsz ELSE 0 END) AS BIGINT)
        |    AS n_risky_docs,
        |  CAST(SUM(CASE WHEN gsz < k THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_risky_groups,
        |  ROUND(CAST(SUM(CASE WHEN gsz < k THEN gsz ELSE 0 END) AS BIGINT)
        |    / CAST(SUM(gsz) AS DOUBLE), 6) AS risky_share
        |FROM ks CROSS JOIN g
        |GROUP BY k ORDER BY k""".stripMargin,
    "privacy_l_diversity" ->
      s"""WITH sv AS (
        |  SELECT lang, source, n_chars // 100 AS size_bin,
        |    ${graft.ops.DedupOps.polyHashSql("text")} % 5 AS sens
        |  FROM documents),
        |gs AS (
        |  SELECT lang, source, size_bin, sens, COUNT(*) AS cnt
        |  FROM sv GROUP BY 1, 2, 3, 4),
        |g AS (
        |  SELECT lang, source, size_bin,
        |    CAST(SUM(cnt) AS BIGINT) AS gsz,
        |    CAST(COUNT(*) AS BIGINT) AS ndist
        |  FROM gs GROUP BY 1, 2, 3),
        |fl AS (SELECT CAST(MIN(ndist) AS BIGINT) AS min_l FROM g),
        |ls(l) AS (VALUES (CAST(2 AS BIGINT)), (CAST(3 AS BIGINT)),
        |  (CAST(5 AS BIGINT)))
        |SELECT l,
        |  CAST(SUM(gsz) AS BIGINT) AS n_docs,
        |  CAST(COUNT(*) AS BIGINT) AS n_groups,
        |  CAST(SUM(CASE WHEN ndist < l THEN gsz ELSE 0 END) AS BIGINT)
        |    AS n_risky_docs,
        |  CAST(SUM(CASE WHEN ndist < l THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_risky_groups,
        |  ROUND(CAST(SUM(CASE WHEN ndist < l THEN gsz ELSE 0 END) AS BIGINT)
        |    / CAST(SUM(gsz) AS DOUBLE), 6) AS risky_share,
        |  (SELECT min_l FROM fl) AS min_l
        |FROM ls CROSS JOIN g
        |GROUP BY l ORDER BY l""".stripMargin,
    "privacy_t_closeness" ->
      s"""WITH sv AS MATERIALIZED (
        |  SELECT lang, source, n_chars // 100 AS size_bin,
        |    ${graft.ops.DedupOps.polyHashSql("text")} % 5 AS sens
        |  FROM documents),
        |gs AS (
        |  SELECT lang, source, size_bin, sens, COUNT(*) AS cnt
        |  FROM sv GROUP BY 1, 2, 3, 4),
        |g AS (
        |  SELECT lang, source, size_bin, CAST(SUM(cnt) AS BIGINT) AS gsz
        |  FROM gs GROUP BY 1, 2, 3),
        |gmx AS (SELECT sens, COUNT(*) AS gcnt FROM sv GROUP BY 1),
        |tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS nn FROM sv),
        |dist AS (
        |  SELECT lang, source, size_bin, MAX(gsz) AS gsz,
        |    CAST(SUM(term_micro) AS BIGINT) // 2 AS dist_micro
        |  FROM (
        |    SELECT g.lang, g.source, g.size_bin, g.gsz,
        |      ${qroundLongSql("""ABS(CAST(COALESCE(gs.cnt, 0) AS DOUBLE) / g.gsz
        |        - CAST(gmx.gcnt AS DOUBLE) / tot.nn) * 1e6""")}
        |        AS term_micro
        |    FROM g CROSS JOIN gmx CROSS JOIN tot
        |    LEFT JOIN gs ON g.lang = gs.lang AND g.source = gs.source
        |      AND g.size_bin = gs.size_bin AND gmx.sens = gs.sens)
        |  GROUP BY 1, 2, 3),
        |mx AS (SELECT CAST(MAX(dist_micro) AS BIGINT) AS max_micro
        |  FROM dist),
        |ts(t_micro) AS (VALUES (CAST(200000 AS BIGINT)),
        |  (CAST(350000 AS BIGINT)), (CAST(500000 AS BIGINT)))
        |SELECT ROUND(t_micro / 1e6, 2) AS t,
        |  CAST(SUM(gsz) AS BIGINT) AS n_docs,
        |  CAST(COUNT(*) AS BIGINT) AS n_groups,
        |  CAST(SUM(CASE WHEN dist_micro > t_micro THEN gsz ELSE 0 END)
        |    AS BIGINT) AS n_far_docs,
        |  CAST(SUM(CASE WHEN dist_micro > t_micro THEN 1 ELSE 0 END)
        |    AS BIGINT) AS n_far_groups,
        |  ROUND(CAST(SUM(CASE WHEN dist_micro > t_micro THEN gsz ELSE 0 END)
        |    AS BIGINT) / CAST(SUM(gsz) AS DOUBLE), 6) AS far_share,
        |  ROUND((SELECT max_micro FROM mx) / 1e6, 6) AS max_dist
        |FROM ts CROSS JOIN dist
        |GROUP BY t_micro ORDER BY t_micro""".stripMargin,
    "profile_events" ->
      """SELECT * FROM (
        |  SELECT 'event_id' AS "column", COUNT(*) AS n_rows,
        |    CAST(SUM(CASE WHEN event_id IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_null,
        |    COUNT(DISTINCT event_id) AS n_distinct,
        |    CAST(MIN(event_id) AS VARCHAR) AS min_str,
        |    CAST(MAX(event_id) AS VARCHAR) AS max_str
        |  FROM events
        |  UNION ALL
        |  SELECT 'user_id', COUNT(*),
        |    CAST(SUM(CASE WHEN user_id IS NULL THEN 1 ELSE 0 END) AS BIGINT),
        |    COUNT(DISTINCT user_id),
        |    CAST(MIN(user_id) AS VARCHAR), CAST(MAX(user_id) AS VARCHAR)
        |  FROM events
        |  UNION ALL
        |  SELECT 'event_type', COUNT(*),
        |    CAST(SUM(CASE WHEN event_type IS NULL THEN 1 ELSE 0 END) AS BIGINT),
        |    COUNT(DISTINCT event_type),
        |    CAST(MIN(event_type) AS VARCHAR), CAST(MAX(event_type) AS VARCHAR)
        |  FROM events
        |  UNION ALL
        |  SELECT 'value', COUNT(*),
        |    CAST(SUM(CASE WHEN value IS NULL THEN 1 ELSE 0 END) AS BIGINT),
        |    COUNT(DISTINCT value),
        |    CAST(MIN(value) AS VARCHAR), CAST(MAX(value) AS VARCHAR)
        |  FROM events)
        |ORDER BY "column"""".stripMargin,
    "a_corr_covar" ->
      """SELECT event_type,
        |  ROUND(corr(value, CAST(props->>'$.k' AS DOUBLE)), 6) AS corr_vk,
        |  ROUND(covar_samp(value, CAST(props->>'$.k' AS DOUBLE)), 4) AS covar_vk
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,
    "f29b_equidepth_deciles" ->
      """SELECT decile, COUNT(*) AS n, ROUND(MIN(value), 6) AS lo,
        |  ROUND(MAX(value), 6) AS hi
        |FROM (SELECT value, ntile(10) OVER (ORDER BY value) AS decile
        |      FROM events)
        |GROUP BY decile ORDER BY decile""".stripMargin,
    "a_rollup_daily_type" ->
      """SELECT CAST(ts AS DATE) AS day, event_type, COUNT(*) AS n
        |FROM events GROUP BY ROLLUP(day, event_type)
        |ORDER BY day ASC NULLS FIRST, event_type ASC NULLS FIRST""".stripMargin,
    "a_funnel_signup_purchase" ->
      """WITH firsts AS (
        |  SELECT user_id,
        |    MIN(CASE WHEN event_type = 'signup' THEN ts END) AS first_signup,
        |    MIN(CASE WHEN event_type = 'purchase' THEN ts END) AS first_purchase
        |  FROM events WHERE event_type IN ('signup', 'purchase')
        |  GROUP BY user_id)
        |SELECT CAST(first_signup AS DATE) AS cohort_day, COUNT(*) AS n_users,
        |  CAST(SUM(CASE WHEN first_signup IS NOT NULL AND first_purchase IS NOT NULL
        |            AND first_signup < first_purchase THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_converted
        |FROM firsts GROUP BY 1 ORDER BY cohort_day ASC NULLS FIRST""".stripMargin,
    "a_cohort_retention" ->
      """WITH ev AS (SELECT user_id, CAST(ts AS DATE) AS day FROM events),
        |cohort AS (SELECT user_id, MIN(day) AS cohort_day FROM ev GROUP BY user_id)
        |SELECT cohort_day, CAST(day - cohort_day AS INT) AS day_offset,
        |  COUNT(DISTINCT ev.user_id) AS n_active
        |FROM ev JOIN cohort ON ev.user_id = cohort.user_id
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "asof_join_purchase_click" ->
      """WITH p AS (
        |  SELECT event_id, user_id, ts FROM events WHERE event_type = 'purchase'),
        |c AS (
        |  SELECT user_id, ts AS click_ts FROM events WHERE event_type = 'click')
        |SELECT p.event_id, p.user_id, p.ts, c.click_ts,
        |  CAST(floor(epoch(p.ts)) AS BIGINT)
        |    - CAST(floor(epoch(c.click_ts)) AS BIGINT) AS secs_since_click
        |FROM p ASOF LEFT JOIN c
        |  ON p.user_id = c.user_id AND p.ts >= c.click_ts
        |ORDER BY event_id""".stripMargin,
    "a_mann_whitney" ->
      s"""WITH ev AS (
        |  SELECT event_type, value,
        |    ${qroundLongSql("value * 1e3")} AS vm
        |  FROM events WHERE event_type IN ('click', 'purchase')),
        |r AS (
        |  SELECT *, row_number() OVER (ORDER BY value) AS rn FROM ev),
        |g AS (
        |  SELECT vm, CAST(MIN(rn) AS BIGINT) AS mn,
        |    CAST(COUNT(*) AS BIGINT) AS c,
        |    CAST(SUM(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)
        |      AS BIGINT) AS ca
        |  FROM r GROUP BY 1),
        |s AS (
        |  SELECT CAST(SUM(ca * (2 * mn + c - 1)) AS BIGINT) AS r1_2,
        |    CAST(SUM(ca) AS BIGINT) AS n1,
        |    CAST(SUM(c - ca) AS BIGINT) AS n2
        |  FROM g),
        |u AS (SELECT n1, n2, (r1_2 - n1 * (n1 + 1)) / 2.0 AS u FROM s)
        |SELECT n1, n2, ROUND(u, 6) AS u,
        |  ROUND((u - n1 * n2 / 2.0)
        |    / sqrt(n1 * n2 * (n1 + n2 + 1) / 12.0), 6) AS z
        |FROM u""".stripMargin,
    "a_ks_test" ->
      s"""WITH ev AS (
        |  SELECT event_type, ${qroundLongSql("value * 1e3")} AS vm
        |  FROM events),
        |ty AS (SELECT DISTINCT event_type FROM ev),
        |pairs AS (
        |  SELECT a.event_type AS t1, b.event_type AS t2
        |  FROM ty a CROSS JOIN ty b WHERE a.event_type < b.event_type),
        |per AS (
        |  SELECT p.t1, p.t2, e.vm,
        |    CAST(SUM(CASE WHEN e.event_type = p.t1 THEN 1 ELSE 0 END)
        |      AS BIGINT) AS a,
        |    CAST(SUM(CASE WHEN e.event_type = p.t2 THEN 1 ELSE 0 END)
        |      AS BIGINT) AS b
        |  FROM pairs p JOIN ev e ON e.event_type IN (p.t1, p.t2)
        |  GROUP BY 1, 2, 3),
        |cum AS (
        |  SELECT t1, t2, vm, a, b,
        |    SUM(a) OVER (PARTITION BY t1, t2 ORDER BY vm
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS ca,
        |    SUM(b) OVER (PARTITION BY t1, t2 ORDER BY vm
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cb
        |  FROM per),
        |g AS (
        |  SELECT t1, t2, CAST(SUM(a) AS BIGINT) AS n1,
        |    CAST(SUM(b) AS BIGINT) AS n2
        |  FROM per GROUP BY 1, 2),
        |m AS (
        |  SELECT cum.t1, cum.t2, MAX(n1) AS n1, MAX(n2) AS n2,
        |    CAST(MAX(ABS(ca * n2 - cb * n1)) AS BIGINT) AS d_num
        |  FROM cum JOIN g ON cum.t1 = g.t1 AND cum.t2 = g.t2
        |  GROUP BY 1, 2)
        |SELECT t1, t2, n1, n2, d_num,
        |  ROUND(d_num / CAST(n1 * n2 AS DOUBLE), 6) AS ks_d,
        |  d_num / CAST(n1 * n2 AS DOUBLE) >
        |    1.358 * sqrt(CAST(n1 + n2 AS DOUBLE)
        |      / CAST(n1 * n2 AS DOUBLE)) AS reject_05
        |FROM m ORDER BY t1, t2""".stripMargin,
    // FLOOR before the BIGINT cast: DuckDB rounds decimal→int casts
    // where Spark truncates; ln(x)/ln(10) mirrors Spark's two-arg log.
    "a_benford_digits" ->
      s"""WITH dg AS (
        |  SELECT CAST(substr(CAST(CAST(FLOOR(
        |    CAST(o_totalprice AS DECIMAL(12,2))) AS BIGINT) AS VARCHAR),
        |    1, 1) AS INTEGER) AS digit
        |  FROM orders),
        |dc AS (SELECT digit, CAST(COUNT(*) AS BIGINT) AS n
        |       FROM dg GROUP BY 1),
        |tot AS (SELECT CAST(SUM(n) AS BIGINT) AS nt FROM dc),
        |sc AS (
        |  SELECT digit, n, nt,
        |    ln(1.0 + 1.0 / digit) / ln(10.0) AS bs,
        |    CAST(n AS DOUBLE) / nt AS obs
        |  FROM dc CROSS JOIN tot),
        |chi AS (
        |  SELECT ROUND(SUM(${qroundLongSql("""
        |      (n - nt * bs) * (n - nt * bs) / (nt * bs) * 1e6""")}) / 1e6, 4) AS chi2
        |  FROM sc)
        |SELECT digit, n, ROUND(obs, 6) AS obs_share,
        |  ROUND(bs, 6) AS benford_share, chi2
        |FROM sc CROSS JOIN chi ORDER BY digit""".stripMargin,
    "a_seasonality_dow" ->
      """WITH daily AS (
        |  SELECT CAST(ts AS DATE) AS day, COUNT(*) AS n
        |  FROM events GROUP BY 1),
        |d2 AS (
        |  SELECT day, CAST(n AS BIGINT) AS n,
        |    (date_diff('day', DATE '1970-01-01', day) + 4) % 7 AS dow
        |  FROM daily),
        |tot AS (
        |  SELECT CAST(SUM(n) AS BIGINT) AS tn,
        |    CAST(COUNT(*) AS BIGINT) AS td
        |  FROM d2)
        |SELECT dow, CAST(COUNT(*) AS BIGINT) AS n_days,
        |  CAST(SUM(n) AS BIGINT) AS n_events,
        |  ROUND(CAST(SUM(n) AS BIGINT) / CAST(COUNT(*) AS BIGINT), 6)
        |    AS avg_events,
        |  ROUND((CAST(SUM(n) AS BIGINT) / CAST(COUNT(*) AS BIGINT))
        |    / (tn / td), 6) AS seasonality_idx
        |FROM d2 CROSS JOIN tot
        |GROUP BY dow, tn, td ORDER BY dow""".stripMargin,
    "a_attribution_touch" ->
      s"""WITH pur AS (
        |  SELECT event_id AS p_id, user_id, ts AS p_ts,
        |    ${qroundLongSql("value * 1e6")} AS v_micro
        |  FROM events WHERE event_type = 'purchase'),
        |clk AS (
        |  SELECT user_id, ts AS c_ts, event_id AS c_id,
        |    CAST(props->>'$$.k' AS BIGINT) // 20 AS channel
        |  FROM events WHERE event_type = 'click'),
        |pairs AS (
        |  SELECT p.p_id, p.v_micro, c.channel,
        |    row_number() OVER (PARTITION BY p.p_id
        |      ORDER BY c.c_ts, c.c_id) AS rn,
        |    COUNT(*) OVER (PARTITION BY p.p_id) AS cnt
        |  FROM pur p JOIN clk c ON p.user_id = c.user_id
        |    AND c.c_ts < p.p_ts AND c.c_ts >= p.p_ts - INTERVAL 7 DAY),
        |att AS (
        |  SELECT 'first_touch' AS model, channel, v_micro
        |  FROM pairs WHERE rn = 1
        |  UNION ALL
        |  SELECT 'last_touch', channel, v_micro FROM pairs WHERE rn = cnt
        |  UNION ALL
        |  SELECT 'unattributed', CAST(-1 AS BIGINT), v_micro FROM pur
        |  WHERE p_id NOT IN (SELECT p_id FROM pairs))
        |SELECT model, channel, CAST(COUNT(*) AS BIGINT) AS n_purchases,
        |  ROUND(CAST(SUM(v_micro) AS BIGINT) / 1e6, 6) AS attributed_value
        |FROM att GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "dq_expectations" -> {
      val domain = EventTypes.map(t => s"'$t'").mkString(", ")
      s"""WITH g AS (
         |  SELECT
         |    CAST(SUM(CASE WHEN event_id IS NULL THEN 1 ELSE 0 END)
         |      AS BIGINT) AS v1,
         |    CAST(COUNT(*) - COUNT(DISTINCT event_id) AS BIGINT) AS v2,
         |    CAST(SUM(CASE WHEN value < 0.0 THEN 1 ELSE 0 END) AS BIGINT)
         |      AS v3,
         |    CAST(SUM(CASE WHEN event_type NOT IN ($domain) THEN 1 ELSE 0
         |      END) AS BIGINT) AS v4,
         |    CAST(SUM(CASE WHEN ts < TIMESTAMP '2020-01-01'
         |      OR ts >= TIMESTAMP '2030-01-01' THEN 1 ELSE 0 END)
         |      AS BIGINT) AS v5,
         |    CAST(SUM(CASE WHEN user_id IS NULL THEN 1 ELSE 0 END)
         |      AS BIGINT) AS v6
         |  FROM events)
         |SELECT rule_id, column_name, expectation, n_violations,
         |  n_violations = 0 AS passed
         |FROM (
         |  SELECT 1 AS rule_id, 'event_id' AS column_name,
         |    'not_null' AS expectation, v1 AS n_violations FROM g
         |  UNION ALL SELECT 2, 'event_id', 'unique', v2 FROM g
         |  UNION ALL SELECT 3, 'value', 'non_negative', v3 FROM g
         |  UNION ALL SELECT 4, 'event_type', 'in_domain', v4 FROM g
         |  UNION ALL SELECT 5, 'ts', 'in_range_2020_2030', v5 FROM g
         |  UNION ALL SELECT 6, 'user_id', 'not_null', v6 FROM g)
         |ORDER BY rule_id""".stripMargin
    },
    "a_mutual_info" ->
      s"""WITH xy AS MATERIALIZED (
        |  SELECT event_type,
        |    (datediff('day', DATE '1970-01-01', CAST(ts AS DATE)) + 4) % 7
        |      AS dow,
        |    COUNT(*) AS nxy
        |  FROM events GROUP BY 1, 2),
        |nx AS (SELECT event_type, CAST(SUM(nxy) AS BIGINT) AS nx
        |  FROM xy GROUP BY 1),
        |ny AS (SELECT dow, CAST(SUM(nxy) AS BIGINT) AS ny FROM xy GROUP BY 1),
        |tot AS (SELECT CAST(SUM(nxy) AS BIGINT) AS nn FROM xy),
        |mi AS (
        |  SELECT CAST(SUM(${qroundLongSql("""(CAST(nxy AS DOUBLE) / nn)
        |    * ln(CAST(nn AS DOUBLE) * nxy / (CAST(nx AS DOUBLE) * ny))
        |    * 1e6""")}) AS BIGINT) AS mi_u
        |  FROM xy JOIN nx USING (event_type) JOIN ny USING (dow)
        |  CROSS JOIN tot),
        |hx AS (
        |  SELECT CAST(SUM(${qroundLongSql("""(CAST(nx AS DOUBLE) / nn)
        |    * ln(CAST(nx AS DOUBLE) / nn) * -1e6""")}) AS BIGINT)
        |    AS h_nx
        |  FROM nx CROSS JOIN tot),
        |hy AS (
        |  SELECT CAST(SUM(${qroundLongSql("""(CAST(ny AS DOUBLE) / nn)
        |    * ln(CAST(ny AS DOUBLE) / nn) * -1e6""")}) AS BIGINT)
        |    AS h_ny
        |  FROM ny CROSS JOIN tot)
        |SELECT nn AS n_events,
        |  ROUND(mi_u / 1e6, 6) AS mi,
        |  ROUND(h_nx / 1e6, 6) AS h_type,
        |  ROUND(h_ny / 1e6, 6) AS h_dow,
        |  CASE WHEN LEAST(h_nx, h_ny) = 0 THEN 0.0
        |    ELSE ROUND(CAST(mi_u AS DOUBLE) / LEAST(h_nx, h_ny), 6)
        |  END AS nmi
        |FROM mi CROSS JOIN hx CROSS JOIN hy CROSS JOIN tot""".stripMargin,
    "a_pareto_front" ->
      s"""WITH prof AS (
        |  SELECT user_id,
        |    CAST(SUM(${qroundLongSql("value * 1e6")}) AS BIGINT)
        |      AS tv_micro,
        |    COUNT(*) AS n_events
        |  FROM events GROUP BY 1)
        |SELECT p.user_id, p.n_events, p.tv_micro,
        |  ROUND(CAST(p.tv_micro AS DOUBLE) / 1e6, 6) AS total_value
        |FROM prof p
        |WHERE NOT EXISTS (
        |  SELECT 1 FROM prof q
        |  WHERE q.tv_micro >= p.tv_micro AND q.n_events >= p.n_events
        |    AND (q.tv_micro > p.tv_micro OR q.n_events > p.n_events))
        |ORDER BY p.user_id""".stripMargin,
    "a_markov_transitions" ->
      """WITH seq AS (
        |  SELECT event_type AS from_type,
        |    lead(event_type) OVER (
        |      PARTITION BY user_id ORDER BY ts, event_id) AS to_type
        |  FROM events),
        |t AS (
        |  SELECT from_type, to_type, CAST(COUNT(*) AS BIGINT) AS n
        |  FROM seq WHERE to_type IS NOT NULL GROUP BY 1, 2)
        |SELECT from_type, to_type, n,
        |  ROUND(CAST(n AS DOUBLE)
        |    / CAST(SUM(n) OVER (PARTITION BY from_type) AS DOUBLE), 6) AS p
        |FROM t ORDER BY from_type, to_type""".stripMargin,
    "a_twap_daily" ->
      s"""WITH ev AS (
        |  SELECT CAST(ts AS DATE) AS day,
        |    ${qroundLongSql("value * 1e3")} AS vm,
        |    epoch_us(ts) AS tus, event_id
        |  FROM events),
        |g AS (
        |  SELECT day, vm,
        |    lead(tus) OVER (PARTITION BY day ORDER BY tus, event_id) - tus
        |      AS wus
        |  FROM ev)
        |SELECT day, CAST(COUNT(*) AS BIGINT) AS n_spans,
        |  ROUND(CAST(SUM(vm * wus) AS BIGINT) / 1e3
        |    / CAST(SUM(wus) AS BIGINT), 6) AS twap
        |FROM g WHERE wus IS NOT NULL
        |GROUP BY day ORDER BY day""".stripMargin,
    "w_trend_theilsen" ->
      """WITH daily AS (
        |  SELECT event_type,
        |    CAST(date_diff('day', DATE '1970-01-01', CAST(ts AS DATE))
        |      AS BIGINT) AS x,
        |    CAST(COUNT(*) AS BIGINT) AS y
        |  FROM events GROUP BY 1, 2),
        |pairs AS (
        |  SELECT a.event_type,
        |    CAST(b.y - a.y AS DOUBLE) / CAST(b.x - a.x AS DOUBLE) AS slope
        |  FROM daily a JOIN daily b
        |    ON a.event_type = b.event_type AND a.x < b.x),
        |med AS (
        |  SELECT event_type, np AS n_pairs, slope FROM (
        |    SELECT event_type, slope,
        |      row_number() OVER (PARTITION BY event_type ORDER BY slope) AS rn,
        |      COUNT(*) OVER (PARTITION BY event_type) AS np
        |    FROM pairs) WHERE rn = (np + 1) // 2),
        |mx AS (
        |  SELECT event_type, CAST(x AS DOUBLE) AS mx FROM (
        |    SELECT event_type, x,
        |      row_number() OVER (PARTITION BY event_type ORDER BY x) AS rn,
        |      COUNT(*) OVER (PARTITION BY event_type) AS k
        |    FROM daily) WHERE rn = (k + 1) // 2),
        |my AS (
        |  SELECT event_type, CAST(y AS DOUBLE) AS my FROM (
        |    SELECT event_type, y,
        |      row_number() OVER (PARTITION BY event_type ORDER BY y) AS rn,
        |      COUNT(*) OVER (PARTITION BY event_type) AS k
        |    FROM daily) WHERE rn = (k + 1) // 2)
        |SELECT med.event_type, n_pairs, ROUND(slope, 6) AS ts_slope,
        |  ROUND(my - slope * mx, 6) AS ts_intercept
        |FROM med
        |JOIN mx ON med.event_type = mx.event_type
        |JOIN my ON med.event_type = my.event_type
        |ORDER BY med.event_type""".stripMargin,
    "a_robust_stats" ->
      s"""WITH ev AS (
        |  SELECT event_type, value,
        |    ${qroundLongSql("value * 1e3")} AS vm
        |  FROM events),
        |r AS (
        |  SELECT event_type, vm,
        |    row_number() OVER (PARTITION BY event_type ORDER BY value) AS rn,
        |    COUNT(*) OVER (PARTITION BY event_type) AS n
        |  FROM ev),
        |q AS (
        |  SELECT event_type, CAST(MAX(n) AS BIGINT) AS n,
        |    MAX(CASE WHEN rn = GREATEST((n + 1) // 4, 1) THEN vm END) AS q1m,
        |    MAX(CASE WHEN rn = (n + 1) // 2 THEN vm END) AS medm,
        |    MAX(CASE WHEN rn = (3 * (n + 1)) // 4 THEN vm END) AS q3m
        |  FROM r GROUP BY 1),
        |dr AS (
        |  SELECT d.event_type, d.dm,
        |    row_number() OVER (PARTITION BY d.event_type ORDER BY d.dm) AS rn,
        |    COUNT(*) OVER (PARTITION BY d.event_type) AS k
        |  FROM (SELECT r.event_type, ABS(vm - medm) AS dm
        |        FROM r JOIN q ON r.event_type = q.event_type) d),
        |mad AS (
        |  SELECT event_type,
        |    MAX(CASE WHEN rn = (k + 1) // 2 THEN dm END) AS madm
        |  FROM dr GROUP BY 1),
        |outl AS (
        |  SELECT r.event_type,
        |    CAST(SUM(CASE WHEN vm < q1m - 1.5 * (q3m - q1m)
        |      OR vm > q3m + 1.5 * (q3m - q1m) THEN 1 ELSE 0 END) AS BIGINT)
        |      AS n_outliers
        |  FROM r JOIN q ON r.event_type = q.event_type GROUP BY 1)
        |SELECT q.event_type, n,
        |  ROUND(medm / 1e3, 6) AS median, ROUND(q1m / 1e3, 6) AS q1,
        |  ROUND(q3m / 1e3, 6) AS q3, ROUND((q3m - q1m) / 1e3, 6) AS iqr,
        |  ROUND(madm / 1e3, 6) AS mad, n_outliers
        |FROM q
        |JOIN mad ON q.event_type = mad.event_type
        |JOIN outl ON q.event_type = outl.event_type
        |ORDER BY q.event_type""".stripMargin,
    "a_ttest_welch" ->
      s"""WITH g AS (${milliMomentsSql("events", "event_type")}),
        |st AS (
        |  SELECT event_type, n, sv / 1e3 / n AS m,
        |    (ssv / 1e6 - (sv / 1e3) * (sv / 1e3) / n) / (n - 1) AS v
        |  FROM g),
        |p AS (
        |  SELECT a.event_type AS type_a, b.event_type AS type_b,
        |    a.n AS na, b.n AS nb, a.m AS ma, b.m AS mb,
        |    a.v / a.n + b.v / b.n AS se2,
        |    a.v AS va, b.v AS vb
        |  FROM st a JOIN st b ON a.event_type < b.event_type)
        |SELECT type_a, type_b, na, nb,
        |  ROUND(ma, 6) AS mean_a, ROUND(mb, 6) AS mean_b,
        |  ROUND((ma - mb) / sqrt(se2), 6) AS t,
        |  ROUND(se2 * se2 /
        |    ((va / na) * (va / na) / (na - 1)
        |      + (vb / nb) * (vb / nb) / (nb - 1)), 6) AS df
        |FROM p ORDER BY type_a, type_b""".stripMargin,
    // same welch moment chain; the zcrit ladder is the SAME JVM doubles
    // the Spark side injects (full-precision toString round-trips), and
    // both engines round it 6dp before the one comparison
    "a_bh_fdr" -> {
      val ladder = bhZCrit.mkString("[", ", ", "]")
      s"""WITH g AS (${milliMomentsSql("events", "event_type")}),
         |st AS (
         |  SELECT event_type, n, sv / 1e3 / n AS m,
         |    (ssv / 1e6 - (sv / 1e3) * (sv / 1e3) / n) / (n - 1) AS v
         |  FROM g),
         |p AS (
         |  SELECT a.event_type AS type_a, b.event_type AS type_b,
         |    ABS(ROUND((a.m - b.m) / sqrt(a.v / a.n + b.v / b.n), 6))
         |      AS abs_t
         |  FROM st a JOIN st b ON a.event_type < b.event_type),
         |r AS (
         |  SELECT type_a, type_b, abs_t,
         |    CAST(row_number() OVER (ORDER BY abs_t DESC, type_a, type_b)
         |      AS BIGINT) AS rank
         |  FROM p),
         |z AS (
         |  SELECT *, ROUND(($ladder)[rank], 6) AS zcrit FROM r),
         |k AS (
         |  SELECT *, MAX(CASE WHEN abs_t >= zcrit THEN rank ELSE 0 END)
         |    OVER () AS kstar
         |  FROM z)
         |SELECT type_a, type_b, abs_t, CAST(rank AS INTEGER) AS rank,
         |  zcrit, (rank <= kstar) AS rejected
         |FROM k ORDER BY rank""".stripMargin
    },
    "w_trend_slope" ->
      """WITH daily AS (
        |  SELECT event_type, CAST(ts AS DATE) AS day, COUNT(*) AS y
        |  FROM events GROUP BY 1, 2),
        |d2 AS (
        |  SELECT event_type,
        |    CAST(date_diff('day', DATE '1970-01-01', day) AS BIGINT) AS x,
        |    CAST(y AS BIGINT) AS y
        |  FROM daily),
        |g AS (
        |  SELECT event_type,
        |    CAST(COUNT(*) AS BIGINT) AS k,
        |    CAST(CAST(COUNT(*) AS BIGINT) AS DOUBLE) AS kd,
        |    CAST(CAST(SUM(x) AS BIGINT) AS DOUBLE) AS sxd,
        |    CAST(CAST(SUM(y) AS BIGINT) AS DOUBLE) AS syd,
        |    CAST(CAST(SUM(x * y) AS BIGINT) AS DOUBLE) AS sxyd,
        |    CAST(CAST(SUM(x * x) AS BIGINT) AS DOUBLE) AS sxxd,
        |    CAST(CAST(SUM(y * y) AS BIGINT) AS DOUBLE) AS syyd
        |  FROM d2 GROUP BY 1),
        |c AS (
        |  SELECT event_type, k,
        |    kd * sxxd - sxd * sxd AS den,
        |    kd * sxyd - sxd * syd AS num,
        |    kd, sxd, syd, syyd
        |  FROM g)
        |SELECT event_type, k,
        |  ROUND(num / den, 6) AS slope,
        |  ROUND((syd - (num / den) * sxd) / kd, 6) AS intercept,
        |  ROUND((num * num) / (den * (kd * syyd - syd * syd)), 6) AS r2
        |FROM c ORDER BY event_type""".stripMargin,
    "w_rank_family" ->
      """WITH o AS (
        |  SELECT c_nationkey AS nation, o_orderkey, o_totalprice
        |  FROM orders JOIN customer ON o_custkey = c_custkey),
        |r AS (
        |  SELECT nation,
        |    rank() OVER w AS rnk,
        |    dense_rank() OVER w AS drnk,
        |    ROUND(percent_rank() OVER w, 6) AS prank,
        |    ROUND(cume_dist() OVER w, 6) AS cdist,
        |    o_orderkey, o_totalprice,
        |    nth_value(o_totalprice, 3) OVER (
        |      PARTITION BY nation
        |      ORDER BY o_totalprice DESC, o_orderkey ASC
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |      AS third_price
        |  FROM o
        |  WINDOW w AS (PARTITION BY nation
        |    ORDER BY o_totalprice DESC, o_orderkey ASC))
        |SELECT nation, rnk, drnk, prank, cdist, o_orderkey, o_totalprice,
        |  third_price
        |FROM r WHERE rnk <= 5
        |ORDER BY nation, rnk, o_orderkey""".stripMargin,
    "w_moving_range_3d" ->
      """WITH daily AS (
        |  SELECT CAST(ts AS DATE) AS day, event_type, COUNT(*) AS n
        |  FROM events GROUP BY 1, 2),
        |d2 AS (
        |  SELECT *, date_diff('day', DATE '1970-01-01', day) AS dnum
        |  FROM daily)
        |SELECT day, event_type, n,
        |  CAST(SUM(n) OVER w AS BIGINT) AS n_3d,
        |  COUNT(*) OVER w AS days_in_frame,
        |  ROUND(CAST(SUM(n) OVER w AS BIGINT) * 1.0
        |    / COUNT(*) OVER w, 6) AS avg_3d
        |FROM d2
        |WINDOW w AS (PARTITION BY event_type ORDER BY dnum
        |  RANGE BETWEEN 2 PRECEDING AND CURRENT ROW)
        |ORDER BY day, event_type""".stripMargin,
    "asof_join_next_view" ->
      """WITH p AS (
        |  SELECT event_id, user_id, ts FROM events WHERE event_type = 'purchase'),
        |v AS (
        |  SELECT user_id, ts AS view_ts FROM events WHERE event_type = 'view')
        |SELECT p.event_id, p.user_id, p.ts, v.view_ts,
        |  CAST(floor(epoch(v.view_ts)) AS BIGINT)
        |    - CAST(floor(epoch(p.ts)) AS BIGINT) AS secs_to_view
        |FROM p ASOF LEFT JOIN v
        |  ON p.user_id = v.user_id AND p.ts <= v.view_ts
        |ORDER BY event_id""".stripMargin,
    "a_bayes_ab" ->
      """WITH u AS (
        |  SELECT user_id,
        |    MAX(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS conv
        |  FROM events GROUP BY 1),
        |g AS (
        |  SELECT ((user_id % 2) + 2) % 2 AS arm,
        |    CAST(COUNT(*) AS BIGINT) AS n, CAST(SUM(conv) AS BIGINT) AS c
        |  FROM u GROUP BY 1),
        |p AS (
        |  SELECT arm, n, c,
        |    CAST(c + 1 AS DOUBLE) AS alpha, CAST(n - c + 1 AS DOUBLE) AS beta
        |  FROM g),
        |m AS (
        |  SELECT arm, n, c,
        |    alpha / (alpha + beta) AS pm,
        |    (alpha - 1.0) / (alpha + beta - 2.0) AS mp,
        |    alpha * beta / ((alpha + beta) * (alpha + beta)
        |      * (alpha + beta + 1.0)) AS pv
        |  FROM p)
        |SELECT a0.n AS n0, a0.c AS c0,
        |  ROUND(a0.pm, 6) AS mean_arm0, ROUND(a0.mp, 6) AS map_arm0,
        |  a1.n AS n1, a1.c AS c1,
        |  ROUND(a1.pm, 6) AS mean_arm1, ROUND(a1.mp, 6) AS map_arm1,
        |  ROUND((a1.pm - a0.pm) / sqrt(a0.pv + a1.pv), 6) AS lift_z
        |FROM m a0 CROSS JOIN m a1
        |WHERE a0.arm = 0 AND a1.arm = 1""".stripMargin,
    // unrolled per-decile quantile_cont columns -> long form (a grouped
    // quantile fraction must be a constant in DuckDB), sign-safe arm
    "a_qte_deciles" -> {
      val qCols = (1 to 9).map(i =>
        s"ROUND(quantile_cont(value, 0.$i), 6) AS q$i").mkString(",\n    ")
      val longRows = (1 to 9).map(i =>
        s"SELECT arm, CAST($i AS BIGINT) AS decile, q$i AS q FROM g")
        .mkString("\n  UNION ALL ")
      s"""WITH a AS (
         |  SELECT ((user_id % 2) + 2) % 2 AS arm, value FROM events),
         |g AS (
         |  SELECT arm,
         |    $qCols
         |  FROM a GROUP BY arm),
         |l AS (
         |  $longRows)
         |SELECT l0.decile AS decile, l0.q AS q_arm0, l1.q AS q_arm1,
         |  ROUND(l1.q - l0.q, 6) AS qte
         |FROM l l0 JOIN l l1 ON l0.decile = l1.decile
         |WHERE l0.arm = 0 AND l1.arm = 1
         |ORDER BY l0.decile""".stripMargin
    },
    "a_percentiles" ->
      """SELECT event_type,
        |  ROUND(quantile_cont(value, 0.5), 6) AS p50,
        |  ROUND(quantile_cont(value, 0.95), 6) AS p95,
        |  ROUND(quantile_cont(value, 0.99), 6) AS p99
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,
    "a_stats_summary" ->
      """SELECT event_type, COUNT(*) AS n,
        |  ROUND(MIN(value), 6) AS min_v, ROUND(MAX(value), 6) AS max_v,
        |  ROUND(AVG(value), 6) AS avg_v, ROUND(STDDEV_SAMP(value), 5) AS sd_v
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,
    "a_distinct_users_per_type" ->
      """SELECT event_type, COUNT(DISTINCT user_id) AS n_users, COUNT(*) AS n
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,
    "w_anomaly_zscore" ->
      """WITH daily AS (
        |  SELECT CAST(ts AS DATE) AS day, event_type, COUNT(*) AS n
        |  FROM events GROUP BY 1, 2),
        |spine AS (
        |  SELECT event_type,
        |    CAST(UNNEST(generate_series(CAST(MIN(day) AS TIMESTAMP),
        |      CAST(MAX(day) AS TIMESTAMP), INTERVAL 1 DAY)) AS DATE) AS day
        |  FROM daily GROUP BY event_type),
        |dense AS (
        |  SELECT s.day, s.event_type, CAST(COALESCE(d.n, 0) AS BIGINT) AS n
        |  FROM spine s LEFT JOIN daily d
        |    ON s.day = d.day AND s.event_type = d.event_type),
        |w AS (
        |  SELECT day, event_type, n,
        |    COUNT(n) OVER win AS cnt,
        |    SUM(n) OVER win AS s1,
        |    SUM(n * n) OVER win AS s2
        |  FROM dense
        |  WINDOW win AS (PARTITION BY event_type ORDER BY day
        |    ROWS BETWEEN 7 PRECEDING AND 1 PRECEDING))
        |SELECT day, event_type, n,
        |  CASE WHEN cnt = 7
        |        AND sqrt(GREATEST(s2 / cnt - (s1 / cnt) * (s1 / cnt), 0)) > 0
        |       THEN ROUND((n - s1 / cnt)
        |         / sqrt(GREATEST(s2 / cnt - (s1 / cnt) * (s1 / cnt), 0)), 6)
        |  END AS z
        |FROM w ORDER BY day, event_type""".stripMargin,
    "a_market_basket" ->
      """WITH li AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
        |pf AS (SELECT l_partkey, COUNT(*) AS np FROM li GROUP BY 1),
        |pr AS (
        |  SELECT a.l_partkey AS p1, b.l_partkey AS p2, COUNT(*) AS n_ab
        |  FROM li a JOIN li b
        |    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
        |  GROUP BY 1, 2 HAVING COUNT(*) >= 3),
        |nb AS (SELECT CAST(COUNT(DISTINCT l_orderkey) AS DOUBLE) AS nn FROM li)
        |SELECT p1, p2, n_ab,
        |  ROUND(n_ab / nn, 6) AS support,
        |  ROUND(n_ab * nn / (f1.np * f2.np), 6) AS lift
        |FROM pr
        |JOIN pf f1 ON p1 = f1.l_partkey
        |JOIN pf f2 ON p2 = f2.l_partkey
        |CROSS JOIN nb
        |ORDER BY lift DESC, p1 ASC, p2 ASC LIMIT 20""".stripMargin,
    "agg_incremental_merge" ->
      s"""WITH ev AS (
        |  SELECT event_type, CAST(ts AS DATE) AS day,
        |    ${qroundLongSql("value * 1e6")} AS vm
        |  FROM events),
        |mx AS (SELECT MAX(day) AS mday FROM ev),
        |state AS (
        |  SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
        |    CAST(SUM(vm) AS BIGINT) AS sv, MIN(vm) AS mn, MAX(vm) AS mxv,
        |    0 AS is_new
        |  FROM ev, mx WHERE day < mday GROUP BY 1),
        |delta AS (
        |  SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
        |    CAST(SUM(vm) AS BIGINT) AS sv, MIN(vm) AS mn, MAX(vm) AS mxv,
        |    1 AS is_new
        |  FROM ev, mx WHERE day = mday GROUP BY 1),
        |u AS (SELECT * FROM state UNION ALL SELECT * FROM delta)
        |SELECT event_type,
        |  CAST(SUM(n) AS BIGINT) AS n_total,
        |  CAST(SUM(CASE WHEN is_new = 1 THEN n ELSE 0 END) AS BIGINT)
        |    AS n_new,
        |  ROUND(CAST(SUM(sv) AS BIGINT) / 1e6, 6) AS sum_value,
        |  ROUND(MIN(mn) / 1e6, 6) AS min_value,
        |  ROUND(MAX(mxv) / 1e6, 6) AS max_value,
        |  ROUND(CAST(SUM(sv) AS BIGINT) / 1e6 / SUM(n), 6) AS avg_value
        |FROM u GROUP BY 1 ORDER BY 1""".stripMargin,
    "a_cube_type_day" ->
      s"""WITH ev AS (
        |  SELECT CAST(ts AS DATE) AS day, event_type,
        |    ${qroundLongSql("value * 1e6")} AS vm
        |  FROM events)
        |SELECT day, event_type, COUNT(*) AS n,
        |  ROUND(CAST(SUM(vm) AS BIGINT) / 1e6, 6) AS sum_value,
        |  CAST(GROUPING(day, event_type) AS BIGINT) AS gid
        |FROM ev GROUP BY CUBE(day, event_type)
        |ORDER BY gid, day ASC NULLS FIRST, event_type ASC NULLS FIRST"""
        .stripMargin,
    "a6b_unpivot_long" -> {
      val typeRows = EventTypes.map(t => s"('$t')").mkString(", ")
      s"""WITH days AS (SELECT DISTINCT CAST(ts AS DATE) AS day FROM events),
         |c AS (
         |  SELECT CAST(ts AS DATE) AS day, event_type, COUNT(*) AS n
         |  FROM events GROUP BY 1, 2),
         |types(event_type) AS (VALUES $typeRows)
         |SELECT d.day, t.event_type, COALESCE(c.n, 0) AS n
         |FROM days d
         |CROSS JOIN types t
         |LEFT JOIN c ON c.day = d.day AND c.event_type = t.event_type
         |ORDER BY 1, 2""".stripMargin
    },
    "profile_key_skew" ->
      """WITH counts AS (
        |  SELECT user_id, COUNT(*) AS n FROM events GROUP BY 1),
        |stats AS (
        |  SELECT CAST(COUNT(*) AS BIGINT) AS n_keys,
        |    CAST(SUM(n) AS BIGINT) AS n_rows
        |  FROM counts),
        |top AS (
        |  SELECT user_id, n FROM counts
        |  ORDER BY n DESC, user_id ASC LIMIT 10)
        |SELECT user_id, n,
        |  ROUND(n * 100.0 / n_rows, 6) AS share_pct,
        |  ROUND(n * n_keys / CAST(n_rows AS DOUBLE), 6) AS x_avg,
        |  n_keys,
        |  ROUND(n_rows / n_keys, 6) AS avg_rows
        |FROM top CROSS JOIN stats
        |ORDER BY n DESC, user_id ASC""".stripMargin,
    "a_chi2_daily_mix" ->
      s"""WITH dt AS (
        |  SELECT CAST(ts AS DATE) AS day, event_type, COUNT(*) AS o
        |  FROM events GROUP BY 1, 2),
        |dd AS (SELECT day, CAST(SUM(o) AS BIGINT) AS nd FROM dt GROUP BY 1),
        |tt AS (
        |  SELECT event_type, CAST(SUM(o) AS BIGINT) AS nt
        |  FROM dt GROUP BY 1),
        |n AS (SELECT CAST(SUM(nt) AS BIGINT) AS n FROM tt),
        |cells AS (
        |  SELECT dt.day, dt.o, dd.nd,
        |    CAST(nd AS DOUBLE) * nt / n.n AS e
        |  FROM dt JOIN dd USING (day) JOIN tt USING (event_type)
        |  CROSS JOIN n),
        |terms AS (
        |  SELECT day, nd,
        |    ${qroundLongSql("(o - e) * (o - e) / e * 1e6")} AS chi_e6
        |  FROM cells)
        |SELECT day, MAX(nd) AS n_events, COUNT(*) AS n_cells,
        |  CAST(SUM(chi_e6) AS BIGINT) AS chi2_e6,
        |  ROUND(CAST(SUM(chi_e6) AS BIGINT) / 1e6, 6) AS chi2
        |FROM terms GROUP BY 1 ORDER BY 1""".stripMargin,
    "w_sessionize_gap" ->
      s"""WITH ev AS (
         |  SELECT user_id, ts, event_type, event_id, epoch_us(ts) AS us
         |  FROM events),
         |f AS (
         |  SELECT *,
         |    CASE WHEN lag(us) OVER w IS NULL
         |      OR us - lag(us) OVER w > ${SessionGapUs} THEN 1 ELSE 0 END
         |      AS new_sess
         |  FROM ev
         |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
         |sess AS (
         |  SELECT *,
         |    CAST(SUM(new_sess) OVER (PARTITION BY user_id
         |      ORDER BY ts, event_id) AS BIGINT) AS session_id
         |  FROM f)
         |SELECT user_id, session_id,
         |  MIN(ts) AS session_start, MAX(ts) AS session_end,
         |  COUNT(*) AS n_events,
         |  CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
         |    AS BIGINT) AS n_purchases,
         |  CAST(MAX(us) - MIN(us) AS BIGINT) AS duration_us
         |FROM sess GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "privacy_dp_counts" -> {
      val p = graft.ops.DedupOps.polyHashSql("'dp1#' || event_type")
      val q = graft.ops.DedupOps.polyHashSql("'dp2#' || event_type")
      // alpha is injected as the JVM double's exact decimal rendering —
      // DuckDB's own exp(-1.0) could differ by an ulp and flip a FLOOR
      val a = math.exp(-1.0).toString
      s"""WITH c AS (
         |  SELECT event_type, COUNT(*) AS n_true FROM events GROUP BY 1),
         |qn AS (
         |  SELECT event_type, n_true,
         |    ${qroundLongSql(s"""ln(${uniformSql(p)})
         |      / ln($a) * 1e9""")} AS q1n,
         |    ${qroundLongSql(s"""ln(${uniformSql(q)})
         |      / ln($a) * 1e9""")} AS q2n
         |  FROM c),
         |z AS (
         |  SELECT event_type, n_true,
         |    CAST((q1n // 1000000000) - (q2n // 1000000000) AS BIGINT)
         |      AS noise
         |  FROM qn)
         |SELECT event_type, n_true, noise,
         |  CAST(n_true + noise AS BIGINT) AS n_dp
         |FROM z ORDER BY event_type""".stripMargin
    },
    "privacy_dp_laplace" -> {
      val p = graft.ops.DedupOps.polyHashSql("'dpL#' || event_type")
      s"""WITH c AS (
         |  SELECT event_type, COUNT(*) AS n_true FROM events GROUP BY 1),
         |un AS (
         |  SELECT event_type, n_true,
         |    ${uniformSql(p)} AS u
         |  FROM c),
         |nn AS (
         |  SELECT event_type, n_true,
         |    ${qroundLongSql("""-sign(u - 0.5)
         |      * ln(greatest(1.0 - 2.0 * abs(u - 0.5), 1e-12))
         |      * 1e9""")} AS n_nano
         |  FROM un),
         |r AS (
         |  SELECT event_type, n_true,
         |    ROUND(CAST(n_nano AS DOUBLE) / 1e9, 6) AS noise
         |  FROM nn)
         |SELECT event_type, n_true, noise,
         |  ROUND(n_true + noise, 6) AS n_dp
         |FROM r ORDER BY event_type""".stripMargin
    },
    "privacy_dp_gaussian" -> {
      val p = graft.ops.DedupOps.polyHashSql("'dpg1#' || event_type")
      val q = graft.ops.DedupOps.polyHashSql("'dpg2#' || event_type")
      // 2*pi is the JVM double, injected — DuckDB's 2 * pi() could
      // round differently and shift the cos input by an ulp
      val twoPi = (2.0 * math.Pi).toString
      s"""WITH c AS (
         |  SELECT event_type, COUNT(*) AS n_true FROM events GROUP BY 1),
         |un AS (
         |  SELECT event_type, n_true,
         |    ${uniformSql(p)} AS u1,
         |    ${uniformSql(q)} AS u2
         |  FROM c),
         |nn AS (
         |  SELECT event_type, n_true,
         |    ${qroundLongSql(s"""sqrt(ln(u1) * -2.0)
         |      * cos(u2 * CAST('$twoPi' AS DOUBLE)) * 1e9""")}
         |      AS z_nano
         |  FROM un),
         |r AS (
         |  SELECT event_type, n_true,
         |    ROUND(CAST(z_nano AS DOUBLE) / 1e9, 6) AS noise
         |  FROM nn)
         |SELECT event_type, n_true, noise,
         |  ROUND(n_true + noise, 6) AS n_dp
         |FROM r ORDER BY event_type""".stripMargin
    },
    "privacy_dp_accounting" -> {
      val eps0 = 0.1
      val c1 = math.sqrt(2 * math.log(1e6))
      val em1 = math.expm1(eps0)
      s"""WITH days AS (SELECT DISTINCT CAST(ts AS DATE) AS day FROM events),
         |r AS (
         |  SELECT day,
         |    CAST(row_number() OVER (ORDER BY day) AS INTEGER) AS k
         |  FROM days)
         |SELECT k, day,
         |  ROUND(k * $eps0, 6) AS eps_basic,
         |  ROUND($eps0 * $c1 * sqrt(k) + k * $eps0 * $em1, 6)
         |    AS eps_advanced,
         |  CAST(k * 10 + 1000 AS BIGINT) AS delta_nano,
         |  (ROUND($eps0 * $c1 * sqrt(k) + k * $eps0 * $em1, 6)
         |    < ROUND(k * $eps0, 6)) AS advanced_wins
         |FROM r ORDER BY k""".stripMargin
    },
    "privacy_dp_sweep" -> {
      // eps grid + alphas rendered ONCE in the JVM (exact decimal
      // round-trip strings) — shared verbatim with the Spark literal
      // DataFrame so both engines seed and scale identically
      val grid = Seq(0.25, 0.5, 1.0, 2.0, 4.0).map { e =>
        s"(CAST(${e.toString} AS DOUBLE), '${e.toString}', " +
          s"CAST('${math.exp(-e).toString}' AS DOUBLE))"
      }.mkString(",\n         |    ")
      val p = graft.ops.DedupOps
        .polyHashSql("'dpe' || lbl || '#1#' || event_type")
      val q = graft.ops.DedupOps
        .polyHashSql("'dpe' || lbl || '#2#' || event_type")
      s"""WITH grid(eps, lbl, alpha) AS (VALUES
         |    $grid),
         |c AS (
         |  SELECT event_type, COUNT(*) AS n_true FROM events GROUP BY 1),
         |j AS (SELECT * FROM c CROSS JOIN grid),
         |qn AS (
         |  SELECT eps, event_type, n_true,
         |    ${qroundLongSql(s"""ln(${uniformSql(p)})
         |      / ln(alpha) * 1e9""")} AS q1n,
         |    ${qroundLongSql(s"""ln(${uniformSql(q)})
         |      / ln(alpha) * 1e9""")} AS q2n
         |  FROM j),
         |z AS (
         |  SELECT eps, event_type, n_true,
         |    CAST((q1n // 1000000000) - (q2n // 1000000000) AS BIGINT)
         |      AS noise
         |  FROM qn)
         |SELECT eps, event_type, n_true, noise,
         |  CAST(n_true + noise AS BIGINT) AS n_dp,
         |  CAST(abs(noise) AS BIGINT) AS abs_err
         |FROM z ORDER BY eps, event_type""".stripMargin
    },
    "privacy_dp_expmech" -> {
      val h = graft.ops.DedupOps.polyHashSql("'dpx#' || event_type")
      s"""WITH c AS (
         |  SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_true
         |  FROM events GROUP BY 1),
         |g AS (
         |  SELECT event_type, n_true,
         |    ${qroundLongSql(s"""-ln(GREATEST(
         |      -ln(${uniformSql(h)}), 1e-12))
         |      * 1e9""")} AS gn
         |  FROM c),
         |k AS (
         |  SELECT event_type, n_true,
         |    CAST(n_true * 500000000 + gn AS BIGINT) AS key_nano,
         |    CAST(MAX(n_true) OVER () AS BIGINT) AS nmax
         |  FROM g),
         |w AS (
         |  SELECT event_type, n_true, key_nano,
         |    ${qroundLongSql("exp(CAST(n_true - nmax AS DOUBLE) / 2.0) * 1e9")} AS wn,
         |    CAST(MAX(key_nano) OVER () AS BIGINT) AS kmax
         |  FROM k)
         |SELECT event_type, n_true,
         |  ROUND(CAST(key_nano AS DOUBLE) / 1e9, 6) AS noisy_score,
         |  ROUND(CAST(wn AS DOUBLE) / CAST(SUM(wn) OVER () AS DOUBLE), 6)
         |    AS p_select,
         |  (key_nano = kmax) AS selected
         |FROM w ORDER BY event_type""".stripMargin
    },
    // ((x % 2) + 2) % 2 = Spark's pmod: DuckDB's bare % follows the
    // dividend's sign, so a negative user_id would land in arm -1 in
    // the oracle only. (a_did/a_cuped's bare % predates this; the
    // generator's user_id is non-negative, but new arm-split oracles
    // should use the sign-safe form.)
    "a_srm_check" ->
      """WITH u AS (SELECT DISTINCT user_id FROM events),
        |a AS (
        |  SELECT CAST(COUNT(*) AS BIGINT) AS n_users,
        |    CAST(SUM(CASE WHEN ((user_id % 2) + 2) % 2 = 0
        |      THEN 1 ELSE 0 END) AS BIGINT) AS n_arm0,
        |    CAST(SUM(CASE WHEN ((user_id % 2) + 2) % 2 = 1
        |      THEN 1 ELSE 0 END) AS BIGINT) AS n_arm1
        |  FROM u),
        |c AS (
        |  SELECT *, ROUND(CAST((n_arm0 - n_arm1) * (n_arm0 - n_arm1)
        |    AS DOUBLE) / n_users, 6) AS chi2
        |  FROM a)
        |SELECT n_users, n_arm0, n_arm1, chi2,
        |  chi2 > CAST('3.841458820694124' AS DOUBLE) AS srm_detected
        |FROM c""".stripMargin,
    "privacy_dp_quantile" -> {
      val h = graft.ops.DedupOps.polyHashSql("'dpq#' || CAST(bin AS VARCHAR)")
      s"""WITH ev AS (
         |  SELECT ${qroundLongSql("value * 1e6")} AS v FROM events),
         |st AS (
         |  SELECT MIN(v) AS lo, MAX(v) AS hi,
         |    CAST(COUNT(*) AS BIGINT) AS n
         |  FROM ev),
         |b AS (
         |  SELECT LEAST((v - lo) * 1000 // (hi - lo + 1), 999) AS bin
         |  FROM ev CROSS JOIN st),
         |c AS (SELECT bin, CAST(COUNT(*) AS BIGINT) AS c FROM b GROUP BY 1),
         |dom AS (SELECT unnest(range(1000)) AS bin),
         |j AS (
         |  SELECT dom.bin, COALESCE(c.c, 0) AS c
         |  FROM dom LEFT JOIN c ON dom.bin = c.bin),
         |cum AS (
         |  SELECT bin, CAST(SUM(c) OVER (ORDER BY bin
         |    ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum
         |  FROM j),
         |g AS (
         |  SELECT bin, cum,
         |    ${qroundLongSql(s"""-ln(GREATEST(
         |      -ln(${uniformSql(h)}), 1e-12))
         |      * 1e9""")} AS gn
         |  FROM cum),
         |k AS (
         |  SELECT bin, n, lo, hi,
         |    CAST(-abs(cum * 2 - n) * 250000000 + gn AS BIGINT) AS key_nano
         |  FROM g CROSS JOIN st)
         |SELECT bin, n AS n_total,
         |  ROUND(CAST(lo + ((bin * 2 + 1) * (hi - lo + 1)) / 2000.0
         |    AS DOUBLE) / 1e6, 6) AS released_value,
         |  ROUND(CAST(key_nano AS DOUBLE) / 1e9, 6) AS noisy_score
         |FROM k ORDER BY key_nano DESC, bin ASC LIMIT 1""".stripMargin
    },
    "privacy_k_generalize" ->
      """WITH lv(g) AS (VALUES (CAST(1 AS BIGINT)), (4), (16), (64),
        |    (256), (1024)),
        |ev AS (
        |  SELECT user_id,
        |    datediff('day', DATE '1970-01-01', CAST(ts AS DATE)) // 7 AS wk
        |  FROM events),
        |grp AS (
        |  SELECT g, user_id // g AS qb, wk, COUNT(*) AS c
        |  FROM ev CROSS JOIN lv GROUP BY 1, 2, 3),
        |st AS (
        |  SELECT g, CAST(COUNT(*) AS BIGINT) AS n_groups,
        |    CAST(MIN(c) AS BIGINT) AS min_group_size
        |  FROM grp GROUP BY 1),
        |sat AS (SELECT *, min_group_size >= 5 AS k_satisfied FROM st),
        |ch AS (SELECT MIN(g) AS gc FROM sat WHERE k_satisfied)
        |SELECT g, n_groups, min_group_size, k_satisfied,
        |  COALESCE(g = gc, FALSE) AS chosen
        |FROM sat CROSS JOIN ch ORDER BY g""".stripMargin,
    "privacy_rr_frequency" -> {
      val k = EventTypes.length
      val p = (math.exp(1.0) / (math.exp(1.0) + (k - 1))).toString
      val q = (1.0 / (math.exp(1.0) + (k - 1))).toString
      val dom = EventTypes.sorted.mkString("['", "', '", "']")
      val h = graft.ops.DedupOps
        .polyHashSql("'rr#' || CAST(event_id AS VARCHAR)")
      s"""WITH pq AS (
         |  SELECT CAST('$p' AS DOUBLE) AS p, CAST('$q' AS DOUBLE) AS q),
         |rep AS (
         |  SELECT event_type,
         |    CASE WHEN u < p THEN event_type
         |    ELSE list_extract(
         |      list_filter($dom, t -> t <> event_type),
         |      CAST(LEAST(FLOOR((u - p) / (1.0 - p) * ${k - 1}),
         |        ${k - 2}) AS BIGINT) + 1)
         |    END AS report
         |  FROM (
         |    SELECT event_type,
         |      ${uniformSql(s"($h * 2654435761) % 1000000007")} AS u
         |    FROM events) CROSS JOIN pq),
         |m AS (SELECT COUNT(*) AS m FROM rep),
         |ct AS (SELECT event_type, COUNT(*) AS n_true FROM rep GROUP BY 1),
         |cr AS (
         |  SELECT report AS event_type, COUNT(*) AS n_reported
         |  FROM rep GROUP BY 1)
         |SELECT ct.event_type, ct.n_true,
         |  COALESCE(cr.n_reported, 0) AS n_reported,
         |  ROUND((CAST(COALESCE(cr.n_reported, 0) AS DOUBLE) - m.m * q)
         |    / (p - q), 6) AS n_est
         |FROM ct LEFT JOIN cr ON ct.event_type = cr.event_type
         |CROSS JOIN m CROSS JOIN pq
         |ORDER BY ct.event_type""".stripMargin
    },
    "a_dau_wau_stickiness" ->
      """WITH ud AS (
        |  SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events),
        |dau AS (SELECT day, COUNT(*) AS dau FROM ud GROUP BY 1),
        |cover AS (
        |  SELECT user_id, day + CAST(o AS INTEGER) AS day
        |  FROM ud CROSS JOIN (SELECT unnest(range(7)) AS o)),
        |wau AS (
        |  SELECT day, COUNT(DISTINCT user_id) AS wau FROM cover GROUP BY 1)
        |SELECT d.day, d.dau, w.wau,
        |  ROUND(CAST(d.dau AS DOUBLE) / w.wau, 6) AS stickiness
        |FROM dau d JOIN wau w ON d.day = w.day
        |ORDER BY 1""".stripMargin,
    "a_psi_drift" ->
      s"""WITH ev AS (
        |  SELECT event_type, CAST(ts AS DATE) AS day,
        |    ${qroundLongSql("value * 1e6")} AS v
        |  FROM events),
        |st AS (SELECT MIN(day) AS d0, MIN(v) AS lo, MAX(v) AS hi FROM ev),
        |b AS (
        |  SELECT event_type,
        |    CASE WHEN day < d0 + 15 THEN 'first' ELSE 'second' END AS half,
        |    LEAST((v - lo) * 10 // (hi - lo + 1), 9) AS bin
        |  FROM ev CROSS JOIN st),
        |c AS (
        |  SELECT event_type, bin,
        |    CAST(SUM(CASE WHEN half = 'first' THEN 1 ELSE 0 END) AS BIGINT)
        |      AS c1,
        |    CAST(SUM(CASE WHEN half = 'second' THEN 1 ELSE 0 END) AS BIGINT)
        |      AS c2
        |  FROM b GROUP BY 1, 2),
        |t AS (
        |  SELECT *,
        |    CAST(SUM(c1) OVER (PARTITION BY event_type) AS BIGINT) AS n1,
        |    CAST(SUM(c2) OVER (PARTITION BY event_type) AS BIGINT) AS n2
        |  FROM c),
        |p AS (
        |  SELECT event_type, n1, n2,
        |    GREATEST(CAST(c1 AS DOUBLE) / GREATEST(n1, 1), 1e-6) AS p,
        |    GREATEST(CAST(c2 AS DOUBLE) / GREATEST(n2, 1), 1e-6) AS q
        |  FROM t),
        |terms AS (
        |  SELECT event_type, n1, n2,
        |    ${qroundLongSql("(p - q) * ln(p / q) * 1e9")} AS tn
        |  FROM p)
        |SELECT event_type, MAX(n1) AS n_first, MAX(n2) AS n_second,
        |  ROUND(CAST(SUM(tn) AS DOUBLE) / 1e9, 6) AS psi
        |FROM terms GROUP BY 1 ORDER BY 1""".stripMargin,
    "a_power_analysis" -> {
      val z2 = {
        val z = 1.959963984540054 + 0.8416212335729143
        (2.0 * z * z).toString
      }
      s"""WITH ev AS (
         |  SELECT event_type, CAST(ts AS DATE) AS day,
         |    ${qroundLongSql("value * 1e3")} AS vm
         |  FROM events),
         |g AS (
         |  SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_obs,
         |    CAST(COUNT(DISTINCT day) AS BIGINT) AS n_days,
         |    CAST(SUM(vm) AS BIGINT) AS sv,
         |    CAST(SUM(vm * vm) AS BIGINT) AS svv
         |  FROM ev GROUP BY 1
         |  HAVING COUNT(*) > 1 AND SUM(vm) <> 0),
         |m AS (
         |  SELECT event_type, n_obs, n_days,
         |    CAST(sv AS DOUBLE) / n_obs / 1e3 AS mean,
         |    (CAST(svv AS DOUBLE) - CAST(sv AS DOUBLE) * sv / n_obs)
         |      / (n_obs - 1) / 1e6 AS variance
         |  FROM g),
         |p AS (
         |  SELECT *, mean * 0.05 AS mde,
         |    CAST(CEIL(CAST('$z2' AS DOUBLE) * variance
         |      / ((mean * 0.05) * (mean * 0.05))) AS BIGINT) AS n_required
         |  FROM m)
         |SELECT event_type, n_obs, ROUND(mean, 6) AS mean,
         |  ROUND(variance, 6) AS variance, ROUND(mde, 6) AS mde,
         |  n_required,
         |  CAST(CEIL(CAST(n_required AS DOUBLE)
         |    / (CAST(n_obs AS DOUBLE) / n_days / 2.0)) AS BIGINT)
         |    AS days_needed
         |FROM p ORDER BY event_type""".stripMargin
    },
    "a_neyman_alloc" ->
      s"""WITH ev AS (
        |  SELECT event_type, ${qroundLongSql("value * 1e3")} AS vm
        |  FROM events),
        |g AS (
        |  SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_h,
        |    CAST(SUM(vm) AS BIGINT) AS sv,
        |    CAST(SUM(vm * vm) AS BIGINT) AS svv
        |  FROM ev GROUP BY 1
        |  HAVING COUNT(*) > 1),
        |w AS (
        |  SELECT event_type, n_h,
        |    sqrt((CAST(svv AS DOUBLE) - CAST(sv AS DOUBLE) * sv / n_h)
        |      / (n_h - 1)) / 1e3 AS sd
        |  FROM g),
        |wn AS (
        |  SELECT *, ${qroundLongSql("n_h * sd * 1e9")} AS w_nano,
        |    ${qroundLongSql("n_h * sd * sd * 1e9")} AS wv_nano
        |  FROM w),
        |tot AS (
        |  SELECT CAST(SUM(n_h) AS BIGINT) AS n_total,
        |    CAST(SUM(w_nano) AS BIGINT) AS tw_nano,
        |    CAST(SUM(wv_nano) AS BIGINT) AS twv_nano,
        |    CAST(SUM(n_h) AS BIGINT) // 10 AS budget
        |  FROM wn),
        |f AS (
        |  SELECT event_type, n_h, sd,
        |    ${qroundLongSql("""budget * (CAST(w_nano AS DOUBLE)
        |      / GREATEST(tw_nano, 1))""")} AS neyman_n,
        |    ${qroundLongSql("budget * (CAST(n_h AS DOUBLE) / n_total)")} AS proportional_n,
        |    CAST(tw_nano AS DOUBLE) / 1e9 / n_total AS mwbar,
        |    CAST(GREATEST(twv_nano, 1) AS DOUBLE) / 1e9 / n_total AS mwv
        |  FROM wn CROSS JOIN tot)
        |SELECT event_type, n_h, ROUND(sd, 6) AS sd, neyman_n,
        |  proportional_n, ROUND(mwbar * mwbar / mwv, 6) AS design_effect
        |FROM f ORDER BY event_type""".stripMargin,
    "a_sprt_monitor" -> {
      val c1 = math.log(0.25 / 0.2).toString
      val c2 = math.log(0.75 / 0.8).toString
      val aT = math.log(0.95 / 0.05).toString
      val bT = math.log(0.05 / 0.95).toString
      s"""WITH daily AS (
         |  SELECT CAST(ts AS DATE) AS day, COUNT(*) AS n,
         |    CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
         |      AS BIGINT) AS np
         |  FROM events WHERE ((user_id % 2) + 2) % 2 = 1 GROUP BY 1),
         |cum AS (
         |  SELECT day, CAST(SUM(n) OVER w AS BIGINT) AS cum_n,
         |    CAST(SUM(np) OVER w AS BIGINT) AS cum_purchases
         |  FROM daily
         |  WINDOW w AS (ORDER BY day
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
         |l AS (
         |  SELECT day, cum_n, cum_purchases,
         |    ROUND(cum_purchases * CAST('$c1' AS DOUBLE)
         |      + (cum_n - cum_purchases) * CAST('$c2' AS DOUBLE), 6)
         |      AS llr
         |  FROM cum)
         |SELECT day, cum_n, cum_purchases, llr,
         |  CASE WHEN llr >= CAST('$aT' AS DOUBLE) THEN 'accept_h1'
         |    WHEN llr <= CAST('$bT' AS DOUBLE) THEN 'accept_h0'
         |    ELSE 'continue' END AS decision
         |FROM l ORDER BY day""".stripMargin
    },
    "a_did_estimator" ->
      s"""WITH ev AS (
        |  SELECT user_id, CAST(ts AS DATE) AS day,
        |    ${qroundLongSql("value * 1e6")} AS vm
        |  FROM events),
        |d0 AS (SELECT MIN(day) AS d0 FROM ev),
        |cells AS (
        |  SELECT ((user_id % 2) + 2) % 2 AS arm,
        |    CASE WHEN day < d0 + 15 THEN 'pre' ELSE 'post' END AS period,
        |    CAST(COUNT(*) AS BIGINT) AS n_events,
        |    CAST(SUM(vm) AS BIGINT) AS sv
        |  FROM ev CROSS JOIN d0 GROUP BY 1, 2),
        |eff AS (
        |  SELECT ROUND(
        |    (SUM(CASE WHEN arm = 1 AND period = 'post'
        |        THEN CAST(sv AS DOUBLE) / n_events / 1e6 ELSE 0.0 END)
        |     - SUM(CASE WHEN arm = 1 AND period = 'pre'
        |        THEN CAST(sv AS DOUBLE) / n_events / 1e6 ELSE 0.0 END))
        |    - (SUM(CASE WHEN arm = 0 AND period = 'post'
        |        THEN CAST(sv AS DOUBLE) / n_events / 1e6 ELSE 0.0 END)
        |       - SUM(CASE WHEN arm = 0 AND period = 'pre'
        |        THEN CAST(sv AS DOUBLE) / n_events / 1e6 ELSE 0.0 END)), 6)
        |      AS did_effect
        |  FROM cells)
        |SELECT arm, period, n_events,
        |  ROUND(CAST(sv AS DOUBLE) / n_events / 1e6, 6) AS mean_value,
        |  did_effect
        |FROM cells CROSS JOIN eff
        |ORDER BY arm, period""".stripMargin,
    "a_cuped_adjusted" ->
      s"""WITH ev AS (
        |  SELECT user_id, CAST(ts AS DATE) AS day,
        |    ${qroundLongSql("value * 1e3")} AS vm
        |  FROM events),
        |d0 AS (SELECT MIN(day) AS d0 FROM ev),
        |usr AS (
        |  SELECT user_id,
        |    CAST(SUM(CASE WHEN day < d0 + 15 THEN vm ELSE 0 END) AS BIGINT)
        |      AS x,
        |    CAST(SUM(CASE WHEN day >= d0 + 15 THEN vm ELSE 0 END) AS BIGINT)
        |      AS y,
        |    ((user_id % 2) + 2) % 2 AS arm
        |  FROM ev CROSS JOIN d0 GROUP BY user_id),
        |gm AS (
        |  SELECT COUNT(*) AS n, CAST(SUM(x) AS BIGINT) AS sx,
        |    CAST(SUM(y) AS BIGINT) AS sy, CAST(SUM(x * x) AS BIGINT) AS sxx,
        |    CAST(SUM(x * y) AS BIGINT) AS sxy,
        |    CAST(SUM(y * y) AS BIGINT) AS syy
        |  FROM usr),
        |g2 AS (
        |  SELECT n AS nu, CAST(sx AS DOUBLE) / n AS mx,
        |    (CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * sy / n)
        |      / (CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * sx / n)
        |      AS theta,
        |    (CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * sy / n)
        |      * (CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * sy / n)
        |      / ((CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * sx / n)
        |        * (CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * sy / n))
        |      AS rho2
        |  FROM gm),
        |arms AS (
        |  SELECT arm, COUNT(*) AS n_users, CAST(SUM(x) AS BIGINT) AS ax,
        |    CAST(SUM(y) AS BIGINT) AS ay
        |  FROM usr GROUP BY 1)
        |SELECT arm, n_users,
        |  ROUND(CAST(ay AS DOUBLE) / n_users / 1e3, 6) AS mean_y,
        |  ROUND((CAST(ay AS DOUBLE) / n_users
        |    - theta * (CAST(ax AS DOUBLE) / n_users - mx)) / 1e3, 6)
        |    AS mean_y_cuped,
        |  ROUND(theta, 6) AS theta,
        |  ROUND(rho2 * 100.0, 4) AS var_reduction_pct
        |FROM arms CROSS JOIN g2
        |ORDER BY arm""".stripMargin,
    "a_survival_km" ->
      s"""WITH life AS (
        |  SELECT user_id, MIN(CAST(ts AS DATE)) AS fd,
        |    MAX(CAST(ts AS DATE)) AS ld
        |  FROM events GROUP BY 1),
        |hz AS (SELECT MAX(CAST(ts AS DATE)) AS ed FROM events),
        |durs AS (
        |  SELECT CAST(datediff('day', fd, ld) AS BIGINT) AS dur,
        |    CASE WHEN datediff('day', ld, ed) < 3 THEN 1 ELSE 0 END
        |      AS censored
        |  FROM life CROSS JOIN hz),
        |bd AS (
        |  SELECT dur, CAST(COUNT(*) AS BIGINT) AS n_ending,
        |    CAST(SUM(1 - censored) AS BIGINT) AS n_events,
        |    CAST(SUM(censored) AS BIGINT) AS n_censored
        |  FROM durs GROUP BY 1),
        |tt AS (SELECT CAST(SUM(n_ending) AS BIGINT) AS n_total FROM bd),
        |rk AS (
        |  SELECT bd.*, n_total - COALESCE(CAST(SUM(n_ending) OVER (
        |    ORDER BY dur ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
        |    AS BIGINT), 0) AS n_at_risk
        |  FROM bd CROSS JOIN tt),
        |lnf AS (
        |  SELECT *, ${qroundLongSql("""ln(GREATEST(
        |    CAST(n_at_risk - n_events AS DOUBLE)
        |      / CAST(n_at_risk AS DOUBLE), 1e-300)) * 1e9""")}
        |    AS ln_nano
        |  FROM rk)
        |SELECT dur AS dur_days, n_at_risk, n_events, n_censored,
        |  ROUND(exp(CAST(SUM(ln_nano) OVER (ORDER BY dur
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE)
        |    / 1e9), 6) AS survival
        |FROM lnf ORDER BY dur""".stripMargin,
    "a_gini_concentration" ->
      s"""WITH prof AS (
        |  SELECT user_id,
        |    CAST(SUM(${qroundLongSql("value * 1e6")}) AS BIGINT)
        |      AS tv
        |  FROM events GROUP BY 1),
        |st AS (
        |  SELECT CAST(MIN(tv) AS BIGINT) AS lo, CAST(MAX(tv) AS BIGINT)
        |      AS hi,
        |    CAST(COUNT(*) AS BIGINT) AS n, CAST(SUM(tv) AS BIGINT) AS v
        |  FROM prof),
        |b AS (
        |  SELECT CASE WHEN hi = lo THEN 0
        |    ELSE ((tv - lo) * 1000) // (hi - lo + 1) END AS bkt,
        |    tv, n, v
        |  FROM prof CROSS JOIN st),
        |g AS (
        |  SELECT bkt, CAST(COUNT(*) AS BIGINT) AS nb,
        |    CAST(SUM(tv) AS BIGINT) AS vb, MAX(n) AS n, MAX(v) AS v
        |  FROM b GROUP BY 1),
        |c AS (
        |  SELECT *, CAST(SUM(vb) OVER (ORDER BY bkt
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
        |    AS cv
        |  FROM g),
        |t AS (
        |  SELECT *, CASE WHEN v = 0 THEN CAST(0 AS BIGINT)
        |    ELSE ${qroundLongSql("""(CAST(nb AS DOUBLE) / CAST(n AS DOUBLE))
        |      * (CAST((cv - vb) + cv AS DOUBLE) / CAST(v AS DOUBLE))
        |      * 1e9""")} END AS t_nano
        |  FROM c)
        |SELECT MAX(n) AS n_users,
        |  ROUND(CAST(MAX(v) AS DOUBLE) / 1e6, 6) AS total_value,
        |  CASE WHEN MAX(v) = 0 THEN 0.0
        |    ELSE ROUND(1.0 - CAST(SUM(t_nano) AS DOUBLE) / 1e9, 6) END
        |    AS gini
        |FROM t""".stripMargin,
    "w_funnel_conversion" ->
      """WITH s1 AS (
        |  SELECT user_id, MIN(ts) AS t1 FROM events
        |  WHERE event_type = 'view' GROUP BY 1),
        |s2 AS (
        |  SELECT e.user_id, MIN(e.ts) AS t2 FROM events e
        |  JOIN s1 ON e.user_id = s1.user_id
        |  WHERE e.event_type = 'click' AND e.ts > s1.t1 GROUP BY 1),
        |s3 AS (
        |  SELECT e.user_id, MIN(e.ts) AS t3 FROM events e
        |  JOIN s2 ON e.user_id = s2.user_id
        |  WHERE e.event_type = 'purchase' AND e.ts > s2.t2 GROUP BY 1),
        |n AS (
        |  SELECT CAST((SELECT COUNT(*) FROM s1) AS BIGINT) AS n1,
        |    CAST((SELECT COUNT(*) FROM s2) AS BIGINT) AS n2,
        |    CAST((SELECT COUNT(*) FROM s3) AS BIGINT) AS n3)
        |SELECT * FROM (
        |  SELECT 1 AS stage, 'view' AS step, n1 AS n_users,
        |    CASE WHEN n1 = 0 THEN 0.0
        |      ELSE ROUND(CAST(n1 AS DOUBLE) / n1, 6) END AS conv_from_prev,
        |    CASE WHEN n1 = 0 THEN 0.0
        |      ELSE ROUND(CAST(n1 AS DOUBLE) / n1, 6) END AS conv_from_top
        |  FROM n
        |  UNION ALL
        |  SELECT 2, 'click_after_view', n2,
        |    CASE WHEN n1 = 0 THEN 0.0
        |      ELSE ROUND(CAST(n2 AS DOUBLE) / n1, 6) END,
        |    CASE WHEN n1 = 0 THEN 0.0
        |      ELSE ROUND(CAST(n2 AS DOUBLE) / n1, 6) END
        |  FROM n
        |  UNION ALL
        |  SELECT 3, 'purchase_after_click', n3,
        |    CASE WHEN n2 = 0 THEN 0.0
        |      ELSE ROUND(CAST(n3 AS DOUBLE) / n2, 6) END,
        |    CASE WHEN n1 = 0 THEN 0.0
        |      ELSE ROUND(CAST(n3 AS DOUBLE) / n1, 6) END
        |  FROM n)
        |ORDER BY stage""".stripMargin,

    // half-unit average ranks over the distinct micro-value table —
    // every term an exact long until the final z (IEEE sqrt, portable)
    "a_mann_whitney_arms" ->
      s"""WITH v AS (
        |  SELECT ((user_id % 2) + 2) % 2 AS arm,
        |    ${qroundLongSql("value * 1e3")} AS vm
        |  FROM events),
        |byv AS (
        |  SELECT vm, CAST(COUNT(*) AS BIGINT) AS cnt,
        |    CAST(SUM(arm) AS BIGINT) AS n1v
        |  FROM v GROUP BY 1),
        |r AS (
        |  SELECT cnt, n1v,
        |    CAST(2 * SUM(cnt) OVER (ORDER BY vm ROWS UNBOUNDED PRECEDING)
        |      - cnt + 1 AS BIGINT) AS rank2
        |  FROM byv),
        |agg AS (
        |  SELECT CAST(SUM(cnt) AS BIGINT) AS n,
        |    CAST(SUM(n1v) AS BIGINT) AS n1,
        |    CAST(SUM(n1v * rank2) AS BIGINT) AS r1_x2,
        |    CAST(SUM(cnt * cnt * cnt - cnt) AS BIGINT) AS tie_term
        |  FROM r),
        |fin AS (
        |  SELECT n, n - n1 AS n0, n1,
        |    r1_x2 - n1 * (n1 + 1) AS u1_x2, tie_term
        |  FROM agg)
        |SELECT n, n0, n1, u1_x2, tie_term,
        |  ROUND((CAST(u1_x2 AS DOUBLE) / 2.0
        |      - CAST(n0 AS DOUBLE) * n1 / 2.0)
        |    / sqrt(CAST(n0 AS DOUBLE) * n1 / 12.0
        |      * (CAST(n + 1 AS DOUBLE)
        |        - CAST(tie_term AS DOUBLE)
        |          / (CAST(n AS DOUBLE) * (n - 1)))), 6) AS z
        |FROM fin""".stripMargin,
    // per-group between-terms micro-quantized to BIGINT before the
    // k-element sum; SSB/SSW/F/η² fixed-order doubles over exact longs
    "a_anova_f" ->
      s"""WITH g AS (${milliMomentsSql("events", "event_type")}),
        |b AS (
        |  SELECT n, sv, ssv,
        |    ${qroundLongSql("(sv / 1e3) * (sv / 1e3) / n * 1e6")}
        |      AS bt_micro
        |  FROM g),
        |a AS (
        |  SELECT CAST(COUNT(*) AS BIGINT) AS k,
        |    CAST(SUM(n) AS BIGINT) AS n_total,
        |    CAST(SUM(sv) AS BIGINT) AS s_all,
        |    CAST(SUM(ssv) AS BIGINT) AS ss_all,
        |    CAST(SUM(bt_micro) AS BIGINT) AS bt_all
        |  FROM b),
        |f AS (
        |  SELECT k, n_total,
        |    bt_all / 1e6 - (s_all / 1e3) * (s_all / 1e3) / n_total AS ssb,
        |    ss_all / 1e6 - bt_all / 1e6 AS ssw
        |  FROM a)
        |SELECT k, n_total, ROUND(ssb, 6) AS ssb, ROUND(ssw, 6) AS ssw,
        |  ROUND((ssb / (k - 1)) / (ssw / (n_total - k)), 6) AS f_stat,
        |  ROUND(ssb / (ssb + ssw), 6) AS eta_sq
        |FROM f""".stripMargin,
    // the 6dp-rounded one-sided statistics are what the flag compares
    // to the INJECTED TostZ constant, so boundary behavior is
    // engine-identical; FULL JOIN keeps one-armed types visible as
    // NULL-statistics rows (mirrors the Spark full_outer)
    "a_tost_equivalence" ->
      s"""WITH g AS (${milliMomentsSql("events", "event_type", "((user_id % 2) + 2) % 2 AS arm")}),
        |st AS (
        |  SELECT event_type, arm, n, sv, sv / 1e3 / n AS m,
        |    (ssv / 1e6 - (sv / 1e3) * (sv / 1e3) / n) / (n - 1) AS v
        |  FROM g),
        |p AS (
        |  SELECT event_type, a.n AS na, b.n AS nb,
        |    a.sv AS sva, b.sv AS svb, a.m AS ma, b.m AS mb,
        |    a.v AS va, b.v AS vb
        |  FROM (SELECT * FROM st WHERE arm = 0) a
        |  FULL JOIN (SELECT * FROM st WHERE arm = 1) b
        |    USING (event_type)),
        |f AS (
        |  SELECT event_type, na, nb, ma, mb,
        |    (sva + svb) / 1e3 / (na + nb) * 0.02 AS delta,
        |    ROUND((mb - ma + (sva + svb) / 1e3 / (na + nb) * 0.02)
        |      / sqrt(va / na + vb / nb), 6) AS t_lower,
        |    ROUND((mb - ma - (sva + svb) / 1e3 / (na + nb) * 0.02)
        |      / sqrt(va / na + vb / nb), 6) AS t_upper
        |  FROM p)
        |SELECT event_type, na, nb, ROUND(ma, 6) AS mean_a,
        |  ROUND(mb, 6) AS mean_b, ROUND(mb - ma, 6) AS diff,
        |  ROUND(delta, 6) AS delta, t_lower, t_upper,
        |  CAST(CASE WHEN t_lower >= $TostZ AND t_upper <= -$TostZ
        |    THEN 1 ELSE 0 END AS BIGINT) AS equivalent
        |FROM f ORDER BY event_type""".stripMargin,
    // per-stratum E/V nano-quantized to BIGINT before the <= 7-element
    // sums; one final z division
    "a_cmh_test" ->
      s"""WITH cells AS (
        |  SELECT stratum, CAST(COUNT(*) AS BIGINT) AS n,
        |    CAST(SUM(arm) AS BIGINT) AS r1,
        |    CAST(SUM(hit) AS BIGINT) AS c1,
        |    CAST(SUM(arm * hit) AS BIGINT) AS a
        |  FROM (SELECT
        |          (date_diff('day', DATE '1970-01-01', CAST(ts AS DATE))
        |            + 4) % 7 AS stratum,
        |          ((user_id % 2) + 2) % 2 AS arm,
        |          CASE WHEN ${qroundLongSql("value * 1e3")}
        |            > 50000 THEN 1 ELSE 0 END AS hit
        |        FROM events)
        |  GROUP BY 1),
        |q AS (
        |  SELECT n, r1, c1, a, n - r1 AS r0, n - c1 AS c0 FROM cells),
        |e AS (
        |  SELECT n, a,
        |    ${qroundLongSql("CAST(r1 AS DOUBLE) * c1 / n * 1e9")}
        |      AS e_nano,
        |    ${qroundLongSql("""(CAST(r1 AS DOUBLE) / n) * (CAST(r0 AS DOUBLE) / n)
        |      * c1 * c0 / GREATEST(n - 1, 1) * 1e9""")} AS v_nano
        |  FROM q),
        |agg AS (
        |  SELECT CAST(COUNT(*) AS BIGINT) AS k,
        |    CAST(SUM(n) AS BIGINT) AS n_total,
        |    CAST(SUM(a) AS BIGINT) AS a_total,
        |    CAST(SUM(e_nano) AS BIGINT) AS e_nano,
        |    CAST(SUM(v_nano) AS BIGINT) AS v_nano
        |  FROM e)
        |SELECT k, n_total, a_total,
        |  ROUND(e_nano / 1e9, 6) AS expected,
        |  ROUND(v_nano / 1e9, 6) AS variance,
        |  CASE WHEN v_nano > 0 THEN
        |    ROUND((a_total - e_nano / 1e9) / sqrt(v_nano / 1e9), 6)
        |  ELSE NULL END AS cmh_z
        |FROM agg""".stripMargin,
  )
}
