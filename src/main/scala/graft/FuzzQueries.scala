package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.ops.Ranking.{topK, topKSql}
import graft.ops.QRound.{qroundLong, qroundLongSql}

/** Differential fuzz surface over the relational core.
  *
  * Hand-written oracles pin a fixed set of queries; this module covers
  * the combinatorial space BETWEEN them: a seeded generator draws random
  * (filter × group-key × aggregate × having × window) query shapes over
  * the `events` table, and each shape is rendered TWICE from the SAME
  * AST — once as a DataFrame chain and once as the equivalent DuckDB
  * SQL. Both renderings are registered in `SparkEntry.queries` /
  * `oracleSql`, so the driver's hash-compare (and `tools/check.py`)
  * holds every generated pair equal at every scale factor, CI-style.
  * Any future mismatch is a minimized, named regression: the shape is
  * reconstructible from its index alone (fixed seed, pure generator —
  * no wall-clock, no ambient randomness).
  *
  * Determinism rules follow the engine's established oracle patterns:
  * integer-only aggregate outputs (COUNT / COUNT DISTINCT / SUM-MIN-MAX
  * of micro-quantized value longs — DuckDB's HUGEINT SUM widened back
  * with CAST), the portable (epoch-days + 4) % 7 weekday, non-negative
  * user_id so `%` bucketing agrees across engines, and window ranks
  * with full tie-breaks. Scale posture: every shape is one map-side
  * combinable key aggregate (plus, for window shapes, a second
  * rank-within-group pass partitioned by the outer key) — the same
  * shuffle budget as the hand-written A-family queries.
  */
object FuzzQueries {

  /** Number of generated aggregate / window / star-join shapes. */
  val NumAgg = 100
  val NumWin = 20
  val NumJoin = 30

  /** Round-15 families: token-explode shapes over `documents` and
    * window-FRAME shapes (running sums / moving sums / lag deltas) over
    * per-key daily event series. Generated by SEPARATE seeded Randoms so
    * the original 150 shapes are bit-identical to their round-14
    * definitions (one shared RNG would shift every draw after the first
    * new one and silently redefine the whole committed surface).
    */
  val NumTok = 20
  val NumFrame = 20

  /** Round-16 family: streaming/stateful shapes — generated (tumbling |
    * sliding | session-gap) × key × predicate × watermark configs over
    * `events`. Each shape registers its BATCH twin here (window() /
    * session_window() evaluated in batch mode, DuckDB-oracled via epoch
    * arithmetic and gaps-and-islands), and FuzzSpec replays the SAME
    * aggregation plan through MemoryStream with the shape's watermark
    * and asserts equality across micro-batches — the watermark/state-
    * machine divergence class none of the other fuzz families touch.
    * Own seeded RNG, per the round-15 rule (a shared RNG would shift
    * every committed shape after it).
    */
  val NumStream = 24

  /** Round-16 second streaming family: generated stream-stream INTERVAL
    * JOIN shapes — (left type, anchor type, lookback, watermark) configs
    * whose batch twin joins each anchor event to the same user's
    * left-type events in the preceding window. Inner interval joins are
    * the one stream-stream shape with a deterministic replay (matches
    * are a SET — no within-batch ordering ambiguity, unlike the
    * dedup-state operators), so FuzzSpec replays each through two
    * watermarked MemoryStreams and compares the emitted match set's
    * per-anchor aggregate against the batch twin. Own seeded RNG.
    */
  val NumSJoin = 10

  /** Round-17 third streaming family: LEFT OUTER interval-join shapes —
    * the watermark-driven null-emission semantics the inner family
    * above cannot express (an anchor with no in-window left event must
    * still emit, with a null match, and in streaming that row may only
    * appear once the watermark proves no qualifying left can still
    * arrive). Same (left, anchor, lookback, watermark) config space as
    * NumSJoin but its OWN seeded RNG so the committed inner shapes
    * never shift; FuzzSpec replays each through two watermarked
    * MemoryStreams plus a far-future sentinel pair (the null rows need
    * a final watermark advance to evict) and compares the per-anchor
    * aggregate — count of NON-NULL matches, 0 for unmatched — against
    * the batch left-outer twin.
    */
  val NumSJoinOuter = 10

  /** Round-17 fourth join family: EXISTS / NOT EXISTS (semi/anti join)
    * shapes — the correlated-subquery planner path none of the other
    * families touch (Spark renders them as LeftSemi/LeftAnti joins with
    * an equi key + optional time-range residual; DuckDB evaluates the
    * literal EXISTS). Each shape filters anchor-type events by an
    * optional predicate and keeps/drops them by whether a same-user
    * other-type event exists (in a lookback window, a lookahead window,
    * or at any time), then aggregates count + exact micro-sum, per day
    * or globally. Own seeded RNG per the round-15 rule.
    */
  val NumExists = 15

  /** Round-18 fifth streaming family: FULL OUTER interval-join shapes —
    * the both-side null-emission semantics (VERDICT r17 #1): every
    * anchor emits (null left when none landed in its lookback) AND
    * every left-type event emits (null anchor when no anchor's lookback
    * claimed it). The two null paths have DIFFERENT watermark
    * deadlines — an unmatched anchor evicts once the watermark passes
    * anchor_ts, an unmatched left only once it passes
    * left_ts + lookback — so the streaming rendering is a superset of
    * the left-outer family's, not an inheritance from it. Own seeded
    * RNG per the round-15 rule; FuzzSpec replays each through two
    * watermarked MemoryStreams plus a far-future sentinel pair and
    * compares the per-user reconciliation aggregate against the batch
    * full-outer twin, requiring matches AND both kinds of null row.
    */
  val NumFSJoin = 10

  // ---- AST ----------------------------------------------------------

  private sealed trait Pred
  private case class ValueGt(c: Double) extends Pred
  private case class ValueLe(c: Double) extends Pred
  private case class TypeIn(ts: Seq[String]) extends Pred
  private case class UserMod(m: Long, r: Long) extends Pred
  private case class DowEq(d: Long) extends Pred

  private sealed trait Key { def name: String }
  private case object KType extends Key { val name = "event_type" }
  private case object KDay extends Key { val name = "day" }
  private case object KDow extends Key { val name = "dow" }
  private case class KUserBucket(m: Long) extends Key {
    val name = s"ubkt$m" // modulus in the name: two buckets can coexist
  }
  private case class KValBucket(w: Long) extends Key {
    val name = s"vbkt${w / 1000000L}"
  }

  private sealed trait Agg { def name: String }
  private case object CountAll extends Agg { val name = "n" }
  private case object SumMicro extends Agg { val name = "sum_micro" }
  private case object MinMicro extends Agg { val name = "min_micro" }
  private case object MaxMicro extends Agg { val name = "max_micro" }
  private case object NUsers extends Agg { val name = "n_users" }

  private case class AggShape(preds: Seq[Pred], keys: Seq[Key],
                              aggs: Seq[Agg], havingMinN: Option[Long])

  // ---- star-join family (lineitem ⋈ orders [⋈ customer]) -------------

  private sealed trait JPred
  private case class QtyGt(c: Double) extends JPred
  private case class DiscLe(c: Double) extends JPred
  private case class FlagIn(vs: Seq[String]) extends JPred
  private case class StatusIn(vs: Seq[String]) extends JPred
  private case class SegIn(vs: Seq[String]) extends JPred // needs customer

  private sealed trait JKey { def name: String; def needsCust: Boolean }
  private case object JkFlag extends JKey {
    val name = "l_returnflag"; val needsCust = false
  }
  private case object JkLineStatus extends JKey {
    val name = "l_linestatus"; val needsCust = false
  }
  private case object JkStatus extends JKey {
    val name = "o_orderstatus"; val needsCust = false
  }
  private case object JkPriority extends JKey {
    val name = "o_orderpriority"; val needsCust = false
  }
  private case object JkMonth extends JKey {
    val name = "omonth"; val needsCust = false
  }
  private case object JkSegment extends JKey {
    val name = "c_mktsegment"; val needsCust = true
  }

  private sealed trait JAgg { def name: String }
  private case object JCount extends JAgg { val name = "n" }
  private case object JSumQty extends JAgg { val name = "sum_qty_micro" }
  private case object JRevenue extends JAgg { val name = "revenue_micro" }
  private case object JMaxPrice extends JAgg { val name = "max_price_micro" }
  private case object JNCust extends JAgg { val name = "n_cust" }

  private case class JoinShape(preds: Seq[JPred], keys: Seq[JKey],
                               aggs: Seq[JAgg]) {
    def needsCust: Boolean =
      keys.exists(_.needsCust) || preds.exists(_.isInstanceOf[SegIn])
  }

  /** Per-outer-key top-k by count of an inner key (rank fully
    * tie-broken: count desc, inner key asc).
    */
  private case class WinShape(preds: Seq[Pred], outer: Key, inner: Key,
                              k: Int)

  // ---- token-explode family (documents) -------------------------------

  private sealed trait DPred
  private case class LangEq(l: String) extends DPred
  private case class SourceIn(ss: Seq[String]) extends DPred
  private case class NCharsGt(c: Long) extends DPred

  private sealed trait TPred
  private case class LenGe(n: Int) extends TPred
  private case class LenLe(n: Int) extends TPred
  private case object NotStop extends TPred
  private case class FirstIn(cs: Seq[String]) extends TPred

  /** byLen=false: explode(tokens) → token filters → groupBy word →
    * n (+ n_docs) → optional HAVING → total-order top-`limit` (n desc,
    * word asc — word IS the group key, so the limit is deterministic).
    * byLen=true: groupBy token length → n + distinct-word count, the
    * length-histogram twin (no limit; lengths are bounded).
    */
  private case class TokShape(dpreds: Seq[DPred], tpreds: Seq[TPred],
                              byLen: Boolean, nDocs: Boolean,
                              havingMinN: Option[Long], limit: Int)

  // ---- window-frame family (per-key daily series) ----------------------

  /** Stage 1 collapses filtered events to one row per (part, day) with
    * an integer metric x (COUNT or micro-quantized SUM) — day is then
    * UNIQUE within each partition, so every frame below is totally
    * ordered with no tie-break subtleties. Stage 2 windows over
    * ORDER BY day: a running sum (always), an optional trailing
    * `movW`-row moving sum, and an optional lag-1 delta (NULL on each
    * partition's first row — nullable columns hash-compare fine).
    */
  private case class FrameShape(preds: Seq[Pred], part: Key,
                                sumMetric: Boolean, movW: Option[Int],
                                withDelta: Boolean)

  // ---- streaming family (events) ---------------------------------------

  private sealed trait SKind
  private case class Tumbling(hours: Int) extends SKind
  private case class Sliding(hours: Int, slideH: Int) extends SKind
  private case class SessionGap(minutes: Int) extends SKind

  /** One streaming aggregation shape: optional event filters, a window
    * kind, an optional extra grouping key (event_type / user bucket —
    * never a day-derived key, the window IS the time axis), count plus
    * an optional micro-long sum, and the watermark delay the streaming
    * replay declares. The batch twin ignores the watermark (batch
    * window()/session_window() see all data); the replay honors it.
    */
  private case class StreamShape(preds: Seq[Pred], kind: SKind,
                                 key: Option[Key], sumMetric: Boolean,
                                 wmHours: Int)

  /** One stream-stream interval-join shape: anchor events of type
    * `anchor` joined to the same user's `left`-type events within the
    * preceding `lookbackMin` minutes; `wmHours` is the watermark both
    * stream sides declare in the replay (state bound = lookback + wm).
    */
  private case class SJoinShape(left: String, anchor: String,
                                lookbackMin: Int, wmHours: Int)

  /** One EXISTS-family shape: anchor-type events kept (anti = false) or
    * dropped (anti = true) by the existence of a same-user other-type
    * event; rel 0 = within `windowMin` before the anchor, 1 = within
    * `windowMin` after, 2 = at any time (pure equi semi/anti join).
    */
  private case class ExistsShape(anchor: String, other: String,
                                 anti: Boolean, rel: Int, windowMin: Int,
                                 pred: Option[Pred], byDay: Boolean)

  // ---- deterministic generation --------------------------------------

  private val EventTypes = Seq("click", "error", "purchase", "signup", "view")

  private val Flags = Seq("A", "N", "R")
  private val LineStatuses = Seq("F", "O")
  private val Statuses = Seq("F", "O", "P")
  private val Segments = Seq("AUTOMOBILE", "BUILDING", "FURNITURE",
    "HOUSEHOLD", "MACHINERY")

  // Shared event-predicate/key draws, parameterized on the RNG so the
  // round-15 families can reuse them WITHOUT advancing the round-14
  // generator's sequence. Draw order is verbatim from round 14.
  private def pickWith[T](rnd: scala.util.Random, xs: Seq[T]): T =
    xs(rnd.nextInt(xs.length))

  private def genPredWith(rnd: scala.util.Random): Pred =
    rnd.nextInt(5) match {
      case 0 =>
        ValueGt(pickWith(rnd, Seq(25.0, 50.0, 100.0, 150.0, 200.0, 300.0)))
      case 1 => ValueLe(pickWith(rnd, Seq(75.0, 125.0, 250.0, 350.0, 450.0)))
      case 2 =>
        val n = 1 + rnd.nextInt(3)
        TypeIn(rnd.shuffle(EventTypes).take(n).sorted)
      case 3 =>
        val m = 2L + rnd.nextInt(6)
        UserMod(m, rnd.nextInt(m.toInt).toLong)
      case _ => DowEq(rnd.nextInt(7).toLong)
    }

  private def genKeyWith(rnd: scala.util.Random): Key =
    rnd.nextInt(5) match {
      case 0 => KType
      case 1 => KDay
      case 2 => KDow
      case 3 => KUserBucket(pickWith(rnd, Seq(3L, 5L, 8L)))
      case _ =>
        KValBucket(pickWith(rnd, Seq(50000000L, 100000000L, 200000000L)))
    }

  private def genShapes(): (Seq[AggShape], Seq[WinShape], Seq[JoinShape]) = {
    val rnd = new scala.util.Random(0xF0221405L)
    def pick[T](xs: Seq[T]): T = pickWith(rnd, xs)
    def genPred(): Pred = genPredWith(rnd)
    def genKey(): Key = genKeyWith(rnd)
    def distinctKeys(n: Int): Seq[Key] = {
      val ks = scala.collection.mutable.LinkedHashSet.empty[Key]
      while (ks.size < n) ks += genKey()
      ks.toSeq
    }
    val aggShapes = (0 until NumAgg).map { _ =>
      val preds = Seq.fill(rnd.nextInt(3))(genPred()).distinct
      val keys = distinctKeys(1 + rnd.nextInt(2))
      val extra = rnd.shuffle(Seq[Agg](SumMicro, MinMicro, MaxMicro, NUsers))
        .take(rnd.nextInt(4))
      // CountAll is always present: it anchors the shape (non-degenerate
      // output) and feeds the optional HAVING
      val aggs = CountAll +: extra
      val having = if (rnd.nextInt(3) == 0) Some(2L + rnd.nextInt(4)) else None
      AggShape(preds, keys, aggs, having)
    }
    val winShapes = (0 until NumWin).map { _ =>
      val preds = Seq.fill(rnd.nextInt(2))(genPred()).distinct
      val ks = distinctKeys(2)
      WinShape(preds, ks.head, ks(1), 1 + rnd.nextInt(3))
    }
    def genJPred(): JPred = rnd.nextInt(5) match {
      case 0 => QtyGt(pick(Seq(10.0, 20.0, 30.0, 40.0)))
      case 1 => DiscLe(pick(Seq(0.02, 0.05, 0.08)))
      case 2 => FlagIn(rnd.shuffle(Flags).take(1 + rnd.nextInt(2)).sorted)
      case 3 => StatusIn(rnd.shuffle(Statuses).take(1 + rnd.nextInt(2)).sorted)
      case _ => SegIn(rnd.shuffle(Segments).take(1 + rnd.nextInt(3)).sorted)
    }
    def genJKey(): JKey = rnd.nextInt(6) match {
      case 0 => JkFlag
      case 1 => JkLineStatus
      case 2 => JkStatus
      case 3 => JkPriority
      case 4 => JkMonth
      case _ => JkSegment
    }
    val joinShapes = (0 until NumJoin).map { _ =>
      val preds = Seq.fill(rnd.nextInt(3))(genJPred()).distinct
      val ks = scala.collection.mutable.LinkedHashSet.empty[JKey]
      while (ks.size < 1 + rnd.nextInt(2)) ks += genJKey()
      val extra = rnd.shuffle(Seq[JAgg](JSumQty, JRevenue, JMaxPrice, JNCust))
        .take(rnd.nextInt(4))
      JoinShape(preds, ks.toSeq, JCount +: extra)
    }
    (aggShapes, winShapes, joinShapes)
  }

  private lazy val (aggShapes, winShapes, joinShapes) = genShapes()

  private val Langs = Seq("de", "en", "es", "fr", "zh")
  private val Sources = (0 until 20).map(i => s"src$i")
  private val FirstChars = "abcdefghijklmnopqrstuvw".map(_.toString)

  private def genShapes2(): (Seq[TokShape], Seq[FrameShape]) = {
    val rnd = new scala.util.Random(0xF0221507L)
    def pick[T](xs: Seq[T]): T = pickWith(rnd, xs)
    def genDPred(): DPred = rnd.nextInt(3) match {
      case 0 => LangEq(pick(Langs))
      case 1 => SourceIn(rnd.shuffle(Sources).take(2 + rnd.nextInt(4)).sorted)
      case _ => NCharsGt(pick(Seq(100L, 150L, 200L, 250L)))
    }
    def genTPred(): TPred = rnd.nextInt(4) match {
      case 0 => LenGe(2 + rnd.nextInt(4))
      case 1 => LenLe(5 + rnd.nextInt(6))
      case 2 => NotStop
      case _ => FirstIn(rnd.shuffle(FirstChars).take(3 + rnd.nextInt(5)).sorted)
    }
    val tokShapes = (0 until NumTok).map { _ =>
      val dpreds = Seq.fill(rnd.nextInt(2))(genDPred()).distinct
      val tpreds = Seq.fill(rnd.nextInt(3))(genTPred()).distinct
      val byLen = rnd.nextInt(4) == 0
      val nDocs = rnd.nextInt(2) == 0
      val having =
        if (!byLen && rnd.nextInt(3) == 0) Some(2L + rnd.nextInt(4)) else None
      TokShape(dpreds, tpreds, byLen, nDocs, having,
        pick(Seq(50, 100, 200)))
    }
    val frameShapes = (0 until NumFrame).map { _ =>
      val preds = Seq.fill(rnd.nextInt(2))(genPredWith(rnd)).distinct
      var part = genKeyWith(rnd)
      while (part == KDay) part = genKeyWith(rnd) // day is the frame axis
      val movW = if (rnd.nextInt(2) == 0) Some(pick(Seq(3, 4, 7))) else None
      val delta = movW.isEmpty || rnd.nextInt(2) == 0
      FrameShape(preds, part, rnd.nextInt(2) == 0, movW, delta)
    }
    (tokShapes, frameShapes)
  }

  private lazy val (tokShapes, frameShapes) = genShapes2()

  private def genShapes3(): Seq[StreamShape] = {
    val rnd = new scala.util.Random(0xF0221611L)
    def pick[T](xs: Seq[T]): T = pickWith(rnd, xs)
    (0 until NumStream).map { _ =>
      val preds = Seq.fill(rnd.nextInt(2))(genPredWith(rnd)).distinct
      val kind = rnd.nextInt(3) match {
        case 0 => Tumbling(pick(Seq(6, 12, 24, 48)))
        case 1 =>
          val sl = pick(Seq(3, 6, 12))
          Sliding(sl * pick(Seq(2, 4)), sl)
        case _ => SessionGap(pick(Seq(10, 30, 60, 120)))
      }
      val key0 = rnd.nextInt(3) match {
        case 0 => None
        case 1 => Some(KType)
        case _ => Some(KUserBucket(pick(Seq(3L, 5L, 8L))))
      }
      // Structured Streaming rejects GLOBAL session-window aggregation
      // ("Global aggregation with session window ... is not supported"),
      // so session shapes always carry a key; windowed aggs may be global
      val key = kind match {
        case SessionGap(_) => key0.orElse(Some(KType))
        case _             => key0
      }
      StreamShape(preds, kind, key, rnd.nextInt(2) == 0, pick(Seq(1, 6, 24)))
    }
  }

  private lazy val streamShapes: Seq[StreamShape] = genShapes3()

  private def genShapes4(): Seq[SJoinShape] = {
    val rnd = new scala.util.Random(0xF0221613L)
    def pick[T](xs: Seq[T]): T = pickWith(rnd, xs)
    (0 until NumSJoin).map { _ =>
      val anchor = pick(EventTypes)
      var left = pick(EventTypes)
      while (left == anchor) left = pick(EventTypes)
      SJoinShape(left, anchor, pick(Seq(30, 60, 120, 360)),
        pick(Seq(1, 2, 6)))
    }
  }

  private lazy val sjoinShapes: Seq[SJoinShape] = genShapes4()

  private def genShapes5(): Seq[SJoinShape] = {
    val rnd = new scala.util.Random(0xF0221717L)
    def pick[T](xs: Seq[T]): T = pickWith(rnd, xs)
    (0 until NumSJoinOuter).map { _ =>
      val anchor = pick(EventTypes)
      var left = pick(EventTypes)
      while (left == anchor) left = pick(EventTypes)
      SJoinShape(left, anchor, pick(Seq(30, 60, 120, 360)),
        pick(Seq(1, 2, 6)))
    }
  }

  private lazy val sjoinOuterShapes: Seq[SJoinShape] = genShapes5()

  private def genShapes6(): Seq[ExistsShape] = {
    val rnd = new scala.util.Random(0xF0221719L)
    def pick[T](xs: Seq[T]): T = pickWith(rnd, xs)
    (0 until NumExists).map { _ =>
      val anchor = pick(EventTypes)
      var other = pick(EventTypes)
      while (other == anchor) other = pick(EventTypes)
      // anchor-side predicate draw excludes TypeIn (it would fight the
      // anchor filter and can zero the shape)
      val pred = rnd.nextInt(3) match {
        case 0 => None
        case 1 => Some(ValueGt(pick(Seq(50.0, 100.0, 200.0))))
        case _ => Some(UserMod(pick(Seq(2L, 3L, 5L)), rnd.nextInt(2).toLong))
      }
      ExistsShape(anchor, other, rnd.nextInt(2) == 0, rnd.nextInt(3),
        pick(Seq(30, 60, 120)), pred, rnd.nextInt(2) == 0)
    }
  }

  private lazy val existsShapes: Seq[ExistsShape] = genShapes6()

  private def genShapes7(): Seq[SJoinShape] = {
    val rnd = new scala.util.Random(0xF0221813L)
    def pick[T](xs: Seq[T]): T = pickWith(rnd, xs)
    (0 until NumFSJoin).map { _ =>
      val anchor = pick(EventTypes)
      var left = pick(EventTypes)
      while (left == anchor) left = pick(EventTypes)
      SJoinShape(left, anchor, pick(Seq(30, 60, 120, 360)),
        pick(Seq(1, 2, 6)))
    }
  }

  private lazy val sjoinFullShapes: Seq[SJoinShape] = genShapes7()

  // ---- Spark rendering ------------------------------------------------

  private def sparkPred(p: Pred): Column = p match {
    case ValueGt(c)    => col("value") > lit(c)
    case ValueLe(c)    => col("value") <= lit(c)
    case TypeIn(ts)    => col("event_type").isin(ts: _*)
    case UserMod(m, r) => col("user_id") % lit(m) === lit(r)
    case DowEq(d) =>
      (datediff(to_date(col("ts")), lit("1970-01-01").cast("date")) + 4) % 7 ===
        lit(d)
  }

  private def sparkKey(k: Key): Column = (k match {
    case KType          => col("event_type")
    case KDay           => to_date(col("ts"))
    case KDow           =>
      ((datediff(to_date(col("ts")), lit("1970-01-01").cast("date")) + 4) % 7)
        .cast("long")
    case KUserBucket(m) => col("user_id") % lit(m)
    case KValBucket(w)  =>
      expr(s"${qroundLongSql("value * 1e6")} div $w")
  }).as(k.name)

  /** `value` as an exact micro long, the quantity every micro aggregate
    * sums. */
  private def valueMicro: Column = qroundLong(col("value") * 1e6)

  private def sparkAgg(a: Agg): Column = a match {
    case CountAll => count(lit(1)).as("n")
    case SumMicro =>
      sum(valueMicro).as("sum_micro")
    case MinMicro =>
      min(valueMicro).as("min_micro")
    case MaxMicro =>
      max(valueMicro).as("max_micro")
    case NUsers => countDistinct(col("user_id")).as("n_users")
  }

  private def sparkAggQuery(sh: AggShape)(s: SparkSession,
                                          d: String): DataFrame = {
    var ev = graft.ops.Tables.events(s, d)
    sh.preds.foreach(p => ev = ev.filter(sparkPred(p)))
    var out = ev.groupBy(sh.keys.map(sparkKey): _*)
      .agg(sparkAgg(sh.aggs.head), sh.aggs.tail.map(sparkAgg): _*)
    sh.havingMinN.foreach(h => out = out.filter(col("n") >= lit(h)))
    out.orderBy(sh.keys.map(k => col(k.name)): _*)
  }

  private def sparkWinQuery(sh: WinShape)(s: SparkSession,
                                          d: String): DataFrame = {
    var ev = graft.ops.Tables.events(s, d)
    sh.preds.foreach(p => ev = ev.filter(sparkPred(p)))
    val cnt = ev.groupBy(sparkKey(sh.outer), sparkKey(sh.inner))
      .agg(count(lit(1)).as("n"))
    topK(cnt, Seq(col(sh.outer.name)), Seq(col("n").desc, col(sh.inner.name).asc), sh.k, Some("rk"))
      .orderBy(col(sh.outer.name), col("rk"))
  }

  private def sparkDPred(p: DPred): Column = p match {
    case LangEq(l)    => col("lang") === lit(l)
    case SourceIn(ss) => col("source").isin(ss: _*)
    case NCharsGt(c)  => col("n_chars") > lit(c)
  }

  private def sparkTPred(p: TPred): Column = p match {
    case LenGe(n)    => length(col("word")) >= lit(n)
    case LenLe(n)    => length(col("word")) <= lit(n)
    case NotStop     =>
      !graft.ops.TextOps.isStopword(col("word"))
    case FirstIn(cs) => substring(col("word"), 1, 1).isin(cs: _*)
  }

  private def sparkTokQuery(sh: TokShape)(s: SparkSession,
                                          d: String): DataFrame = {
    var docs = graft.ops.Tables.documents(s, d)
    sh.dpreds.foreach(p => docs = docs.filter(sparkDPred(p)))
    var t = docs.select(col("doc_id"),
      explode(graft.ops.TextOps.tokens(col("text"))).as("word"))
    sh.tpreds.foreach(p => t = t.filter(sparkTPred(p)))
    if (sh.byLen) {
      val aggs = Seq(count(lit(1)).as("n"),
        countDistinct(col("word")).as("n_words"))
      t.groupBy(length(col("word")).cast("long").as("wlen"))
        .agg(aggs.head, aggs.tail: _*)
        .orderBy(col("wlen"))
    } else {
      val aggs = count(lit(1)).as("n") +:
        (if (sh.nDocs) Seq(countDistinct(col("doc_id")).as("n_docs"))
         else Seq.empty)
      var out = t.groupBy(col("word")).agg(aggs.head, aggs.tail: _*)
      sh.havingMinN.foreach(h => out = out.filter(col("n") >= lit(h)))
      out.orderBy(col("n").desc, col("word").asc).limit(sh.limit)
    }
  }

  private def sparkFrameQuery(sh: FrameShape)(s: SparkSession,
                                              d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    var ev = graft.ops.Tables.events(s, d)
    sh.preds.foreach(p => ev = ev.filter(sparkPred(p)))
    val metric =
      if (sh.sumMetric)
        sum(valueMicro).as("x")
      else count(lit(1)).cast("long").as("x")
    val daily = ev.groupBy(sparkKey(sh.part), to_date(col("ts")).as("day"))
      .agg(metric)
    val w = Window.partitionBy(col(sh.part.name)).orderBy(col("day"))
    var out = daily.withColumn("run_x", sum(col("x"))
      .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    sh.movW.foreach { k =>
      out = out.withColumn(s"mov${k}_x",
        sum(col("x")).over(w.rowsBetween(-(k - 1), 0)))
    }
    if (sh.withDelta)
      out = out.withColumn("delta_x", col("x") - lag(col("x"), 1).over(w))
    out.orderBy(col(sh.part.name), col("day"))
  }

  /** The shape's aggregation plan over an arbitrary events frame — the
    * SAME function builds the batch twin (over the parquet table) and
    * the streaming replay (over a MemoryStream frame, after FuzzSpec
    * adds the shape's watermark), so the two sides cannot drift.
    */
  private def streamAggPlan(sh: StreamShape, df: DataFrame): DataFrame = {
    var ev = df
    sh.preds.foreach(p => ev = ev.filter(sparkPred(p)))
    val winCol = (sh.kind match {
      case Tumbling(h)    => window(col("ts"), s"$h hours")
      case Sliding(h, sl) => window(col("ts"), s"$h hours", s"$sl hours")
      case SessionGap(m)  => session_window(col("ts"), s"$m minutes")
    }).as("w")
    val aggs = count(lit(1)).as("n") +:
      (if (sh.sumMetric)
        Seq(sum(valueMicro).as("sum_micro"))
      else Nil)
    val out = ev.groupBy(winCol +: sh.key.map(sparkKey).toSeq: _*)
      .agg(aggs.head, aggs.tail: _*)
    out.select(Seq(col("w.start").as("win_start"),
      col("w.end").as("win_end")) ++
      sh.key.map(k => col(k.name)) ++ Seq(col("n")) ++
      (if (sh.sumMetric) Seq(col("sum_micro")) else Nil): _*)
  }

  private def sparkStreamQuery(sh: StreamShape)(s: SparkSession,
                                                d: String): DataFrame = {
    val sortCols = Seq(col("win_start"), col("win_end")) ++
      sh.key.map(k => col(k.name))
    streamAggPlan(sh, graft.ops.Tables.events(s, d)).orderBy(sortCols: _*)
  }

  // FuzzSpec replay surface: index-based so the shape AST stays private.
  /** Apply stream shape i's aggregation plan to a (streaming) frame. */
  def streamPlan(i: Int)(df: DataFrame): DataFrame =
    streamAggPlan(streamShapes(i), df)
  /** Watermark delay the streaming replay of shape i should declare. */
  def streamWatermarkDelay(i: Int): String =
    s"${streamShapes(i).wmHours} hours"
  /** Session shapes finalize in APPEND mode (complete mode is
    * unsupported for session windows); windowed aggs replay COMPLETE.
    */
  def streamIsSession(i: Int): Boolean =
    streamShapes(i).kind.isInstanceOf[SessionGap]

  /** The interval-join MATCH plan over two events frames (batch: the
    * same table twice; replay: two MemoryStreams) — one function builds
    * both sides so they cannot drift. Emits raw (anchor_id, user_id,
    * anchor_ts, l_ts) matches; the per-anchor aggregate happens OUTSIDE
    * (batch-side in the twin, post-collection in the replay) because a
    * streaming agg downstream of a stream-stream join would need its
    * own output-mode dance the comparison doesn't require.
    */
  private def sjoinMatchPlan(sh: SJoinShape, leftDf: DataFrame,
                             anchorDf: DataFrame): DataFrame = {
    val lefts = leftDf.filter(col("event_type") === sh.left)
      .select(col("user_id").as("l_user"), col("ts").as("l_ts"))
    val anchors = anchorDf.filter(col("event_type") === sh.anchor)
      .select(col("user_id"), col("event_id").as("anchor_id"),
        col("ts").as("anchor_ts"))
    anchors.join(lefts,
      col("user_id") === col("l_user") &&
        col("l_ts") >= col("anchor_ts") -
          expr(s"INTERVAL ${sh.lookbackMin} MINUTES") &&
        col("l_ts") <= col("anchor_ts"))
      .select(col("anchor_id"), col("user_id"), col("anchor_ts"),
        col("l_ts"))
  }

  private def sparkSJoinQuery(sh: SJoinShape)(s: SparkSession,
                                              d: String): DataFrame = {
    val ev = graft.ops.Tables.events(s, d)
    sjoinMatchPlan(sh, ev, ev)
      .groupBy(col("anchor_id"), col("user_id"), col("anchor_ts"))
      .agg(count(lit(1)).as("n_left"), max(col("l_ts")).as("last_left_ts"))
      .orderBy(col("anchor_id"))
  }

  // FuzzSpec replay surface for the interval-join family.
  def sjoinPlan(i: Int)(leftDf: DataFrame, anchorDf: DataFrame): DataFrame =
    sjoinMatchPlan(sjoinShapes(i), leftDf, anchorDf)
  def sjoinWatermarkDelay(i: Int): String = s"${sjoinShapes(i).wmHours} hours"

  /** LEFT OUTER variant of the match plan: anchors are the PRESERVED
    * side, so an anchor with no in-window left event emits once with
    * null (l_ts). In the streaming rendering the unmatched row emits
    * only at state eviction — which is the semantics under test — so
    * the per-anchor aggregate counts NON-NULL l_ts (0 for unmatched).
    */
  private def sjoinOuterMatchPlan(sh: SJoinShape, leftDf: DataFrame,
                                  anchorDf: DataFrame): DataFrame = {
    val lefts = leftDf.filter(col("event_type") === sh.left)
      .select(col("user_id").as("l_user"), col("ts").as("l_ts"))
    val anchors = anchorDf.filter(col("event_type") === sh.anchor)
      .select(col("user_id"), col("event_id").as("anchor_id"),
        col("ts").as("anchor_ts"))
    anchors.join(lefts,
        col("user_id") === col("l_user") &&
          col("l_ts") >= col("anchor_ts") -
            expr(s"INTERVAL ${sh.lookbackMin} MINUTES") &&
          col("l_ts") <= col("anchor_ts"),
        "left_outer")
      .select(col("anchor_id"), col("user_id"), col("anchor_ts"),
        col("l_ts"))
  }

  private def sparkSJoinOuterQuery(sh: SJoinShape)(s: SparkSession,
                                                   d: String): DataFrame = {
    val ev = graft.ops.Tables.events(s, d)
    sjoinOuterMatchPlan(sh, ev, ev)
      .groupBy(col("anchor_id"), col("user_id"), col("anchor_ts"))
      .agg(count(col("l_ts")).as("n_left"), max(col("l_ts")).as("last_left_ts"))
      .orderBy(col("anchor_id"))
  }

  // FuzzSpec replay surface for the OUTER interval-join family.
  def sjoinOuterPlan(i: Int)(leftDf: DataFrame,
                             anchorDf: DataFrame): DataFrame =
    sjoinOuterMatchPlan(sjoinOuterShapes(i), leftDf, anchorDf)
  def sjoinOuterWatermarkDelay(i: Int): String =
    s"${sjoinOuterShapes(i).wmHours} hours"

  /** FULL OUTER variant of the match plan: BOTH sides preserved. An
    * anchor with no in-window left emits (anchor, null l_*); a left
    * event inside NO anchor's lookback emits (null anchor, l_*). In the
    * streaming rendering the two null paths evict at DIFFERENT
    * watermark deadlines (anchor_ts vs l_ts + lookback) — the
    * asymmetry StreamingSpec pins on the hand-written entry; here the
    * 10 generated shapes sweep (type pair, lookback, watermark) through
    * the same plan function batch and replay share.
    */
  private def sjoinFullMatchPlan(sh: SJoinShape, leftDf: DataFrame,
                                 anchorDf: DataFrame): DataFrame = {
    val lefts = leftDf.filter(col("event_type") === sh.left)
      .select(col("user_id").as("l_user"), col("event_id").as("l_id"),
        col("ts").as("l_ts"))
    val anchors = anchorDf.filter(col("event_type") === sh.anchor)
      .select(col("user_id"), col("event_id").as("anchor_id"),
        col("ts").as("anchor_ts"))
    anchors.join(lefts,
        col("user_id") === col("l_user") &&
          col("l_ts") >= col("anchor_ts") -
            expr(s"INTERVAL ${sh.lookbackMin} MINUTES") &&
          col("l_ts") <= col("anchor_ts"),
        "full_outer")
      .select(col("anchor_id"), col("user_id"), col("anchor_ts"),
        col("l_id"), col("l_user"), col("l_ts"))
  }

  /** The per-user reconciliation aggregate both the batch twin and the
    * replay comparison apply on top of the raw full-outer rows — one
    * function so the two reductions cannot drift.
    */
  def sjoinFullAggregate(rows: DataFrame): DataFrame =
    rows.groupBy(coalesce(col("user_id"), col("l_user")).as("uid"))
      .agg(count(col("anchor_id")).as("n_anchor_rows"),
        count(col("l_id")).as("n_left_rows"),
        sum(when(col("anchor_id").isNotNull && col("l_id").isNull, 1L)
          .otherwise(0L)).as("n_unmatched_anchors"),
        sum(when(col("l_id").isNotNull && col("anchor_id").isNull, 1L)
          .otherwise(0L)).as("n_unmatched_lefts"))

  private def sparkSJoinFullQuery(sh: SJoinShape)(s: SparkSession,
                                                  d: String): DataFrame = {
    val ev = graft.ops.Tables.events(s, d)
    sjoinFullAggregate(sjoinFullMatchPlan(sh, ev, ev)).orderBy(col("uid"))
  }

  // FuzzSpec replay surface for the FULL OUTER interval-join family.
  def sjoinFullPlan(i: Int)(leftDf: DataFrame,
                            anchorDf: DataFrame): DataFrame =
    sjoinFullMatchPlan(sjoinFullShapes(i), leftDf, anchorDf)
  def sjoinFullWatermarkDelay(i: Int): String =
    s"${sjoinFullShapes(i).wmHours} hours"

  /** Far-future watermark-advancing sentinel pair for full-outer shape
    * i — same construction as the left-outer family's (one event per
    * side surviving the type filters, on user -1, the left placed
    * lookback+1 min before the anchor so the pair cannot match itself).
    * Unlike the left-outer family the sentinels' OWN null rows could in
    * principle emit (both sides are preserved here), but their eviction
    * deadlines sit at/after afterMs - 1min while the final watermark is
    * afterMs - wmHours (>= 1h earlier), so they never do; the replay
    * still filters uid != -1 defensively.
    */
  def sjoinFullSentinels(i: Int, afterMs: Long)
      : Seq[(Long, java.sql.Timestamp, Long, String, Double)] = {
    val sh = sjoinFullShapes(i)
    Seq(
      (-1L, new java.sql.Timestamp(afterMs - (sh.lookbackMin + 1) * 60000L),
        -1L, sh.left, 0.0),
      (-1L, new java.sql.Timestamp(afterMs), -1L, sh.anchor, 0.0))
  }
  private def sparkExistsQuery(sh: ExistsShape)(s: SparkSession,
                                                d: String): DataFrame = {
    val ev = graft.ops.Tables.events(s, d)
    var anchors = ev.filter(col("event_type") === sh.anchor)
    sh.pred.foreach(p => anchors = anchors.filter(sparkPred(p)))
    val others = ev.filter(col("event_type") === sh.other)
      .select(col("user_id").as("o_user"), col("ts").as("o_ts"))
    val equi = col("user_id") === col("o_user")
    val cond = sh.rel match {
      case 0 => equi &&
        col("o_ts") >= col("ts") - expr(s"INTERVAL ${sh.windowMin} MINUTES") &&
        col("o_ts") <= col("ts")
      case 1 => equi &&
        col("o_ts") >= col("ts") &&
        col("o_ts") <= col("ts") + expr(s"INTERVAL ${sh.windowMin} MINUTES")
      case _ => equi
    }
    val joined = anchors.join(others, cond,
      if (sh.anti) "left_anti" else "left_semi")
    val aggs = Seq(count(lit(1)).as("n"),
      sum(valueMicro).as("sum_micro"))
    if (sh.byDay)
      joined.groupBy(to_date(col("ts")).as("day"))
        .agg(aggs.head, aggs.tail: _*).orderBy("day")
    else joined.agg(aggs.head, aggs.tail: _*)
  }

  private def sqlExistsQuery(sh: ExistsShape): String = {
    val not = if (sh.anti) "NOT " else ""
    val predSql = sh.pred.map(p => s"\n  AND ${sqlPred(p)}").getOrElse("")
    val timeSql = sh.rel match {
      case 0 => s"""
        |      AND p.ts >= e.ts - INTERVAL ${sh.windowMin} MINUTE
        |      AND p.ts <= e.ts""".stripMargin
      case 1 => s"""
        |      AND p.ts >= e.ts
        |      AND p.ts <= e.ts + INTERVAL ${sh.windowMin} MINUTE""".stripMargin
      case _ => ""
    }
    val (keyOut, keyTail) =
      if (sh.byDay) ("CAST(e.ts AS DATE) AS day,\n  ", "\nGROUP BY 1 ORDER BY 1")
      else ("", "")
    s"""SELECT $keyOut${""}COUNT(*) AS n,
       |  CAST(SUM(${qroundLongSql("e.value * 1e6")}) AS BIGINT)
       |    AS sum_micro
       |FROM events e
       |WHERE e.event_type = '${sh.anchor}'$predSql
       |  AND ${not}EXISTS (
       |    SELECT 1 FROM events p
       |    WHERE p.user_id = e.user_id
       |      AND p.event_type = '${sh.other}'$timeSql)$keyTail""".stripMargin
  }

  /** Far-future sentinel PAIR (left-stream event, anchor-stream event)
    * for outer shape i: the unmatched-anchor null rows only evict when
    * the watermark passes, and the watermark only advances on events
    * that SURVIVE the type filter (Catalyst pushes it below the
    * EventTimeWatermark node — same trap streamSentinel documents). The
    * left sentinel sits `lookbackMin` before the anchor sentinel minus
    * one minute, so the pair can never match each other; both carry
    * event_id -1 so the replay filters them from the asserted output.
    */
  def sjoinOuterSentinels(i: Int, afterMs: Long)
      : Seq[(Long, java.sql.Timestamp, Long, String, Double)] = {
    val sh = sjoinOuterShapes(i)
    Seq(
      (-1L, new java.sql.Timestamp(afterMs - (sh.lookbackMin + 1) * 60000L),
        -1L, sh.left, 0.0),
      (-1L, new java.sql.Timestamp(afterMs), -1L, sh.anchor, 0.0))
  }

  /** A far-future event SATISFYING stream shape i's predicate — the
    * FuzzSpec watermark-advancing sentinel. It must pass the filter
    * because Catalyst pushes non-ts predicates BELOW the
    * EventTimeWatermark node: a filtered sentinel never updates the
    * watermark and the corpus-tail session never finalizes (observed
    * live — fuzz_stream_005's last session went missing until this).
    * Shapes draw at most ONE predicate, so each case solves
    * independently; DowEq advances the date to the required weekday.
    * Its own session never closes (nothing arrives after it), so it
    * cannot pollute the asserted output.
    */
  def streamSentinel(i: Int,
                     afterMs: Long): (Long, java.sql.Timestamp, Long,
                                      String, Double) = {
    var tsMs = afterMs
    var user = -1L
    var etype = "view"
    var value = 1e6
    streamShapes(i).preds.foreach {
      case ValueGt(c)    => value = c + 1.0
      case ValueLe(c)    => value = c - 1.0
      case TypeIn(ts)    => etype = ts.head
      case UserMod(m, r) => user = r
      case DowEq(d) =>
        while ((Math.floorDiv(tsMs, 86400000L) + 4) % 7 != d)
          tsMs += 86400000L
    }
    (-1L, new java.sql.Timestamp(tsMs), user, etype, value)
  }

  private def sparkJPred(p: JPred): Column = p match {
    case QtyGt(c)     => col("l_quantity") > lit(c)
    case DiscLe(c)    => col("l_discount") <= lit(c)
    case FlagIn(vs)   => col("l_returnflag").isin(vs: _*)
    case StatusIn(vs) => col("o_orderstatus").isin(vs: _*)
    case SegIn(vs)    => col("c_mktsegment").isin(vs: _*)
  }

  private def sparkJKey(k: JKey): Column = (k match {
    case JkMonth => month(col("o_orderdate"))
    case other   => col(other.name)
  }).as(k.name)

  private def sparkJAgg(a: JAgg): Column = a match {
    case JCount => count(lit(1)).as("n")
    case JSumQty =>
      sum(qroundLong(col("l_quantity") * 1e6))
        .as("sum_qty_micro")
    case JRevenue =>
      sum(qroundLong(
        col("l_extendedprice") * (lit(1.0) - col("l_discount")) * 1e6))
        .as("revenue_micro")
    case JMaxPrice =>
      max(qroundLong(col("o_totalprice") * 1e6))
        .as("max_price_micro")
    case JNCust => countDistinct(col("o_custkey")).as("n_cust")
  }

  private def sparkJoinQuery(sh: JoinShape)(s: SparkSession,
                                            d: String): DataFrame = {
    var f = graft.ops.Tables.lineitem(s, d)
      .join(graft.ops.Tables.orders(s, d),
        col("l_orderkey") === col("o_orderkey"))
    if (sh.needsCust)
      f = f.join(broadcast(graft.ops.Tables.customer(s, d)
        .select(col("c_custkey"), col("c_mktsegment"))),
        col("o_custkey") === col("c_custkey"))
    sh.preds.foreach(p => f = f.filter(sparkJPred(p)))
    f.groupBy(sh.keys.map(sparkJKey): _*)
      .agg(sparkJAgg(sh.aggs.head), sh.aggs.tail.map(sparkJAgg): _*)
      .orderBy(sh.keys.map(k => col(k.name)): _*)
  }

  // ---- DuckDB rendering -----------------------------------------------

  private def sqlPred(p: Pred): String = p match {
    case ValueGt(c)    => s"value > $c"
    case ValueLe(c)    => s"value <= $c"
    case TypeIn(ts)    => ts.mkString("event_type IN ('", "', '", "')")
    case UserMod(m, r) => s"user_id % $m = $r"
    case DowEq(d) =>
      s"(datediff('day', DATE '1970-01-01', CAST(ts AS DATE)) + 4) % 7 = $d"
  }

  private def sqlKeyExpr(k: Key): String = k match {
    case KType          => "event_type"
    case KDay           => "CAST(ts AS DATE)"
    case KDow           =>
      "CAST((datediff('day', DATE '1970-01-01', CAST(ts AS DATE)) + 4) % 7" +
        " AS BIGINT)"
    case KUserBucket(m) => s"user_id % $m"
    case KValBucket(w)  => s"${qroundLongSql("value * 1e6")} // $w"
  }

  private def sqlAgg(a: Agg): String = a match {
    case CountAll => "COUNT(*) AS n"
    case SumMicro =>
      s"CAST(SUM(${qroundLongSql("value * 1e6")}) AS BIGINT)" +
        " AS sum_micro"
    case MinMicro => s"MIN(${qroundLongSql("value * 1e6")}) AS min_micro"
    case MaxMicro => s"MAX(${qroundLongSql("value * 1e6")}) AS max_micro"
    case NUsers   => "COUNT(DISTINCT user_id) AS n_users"
  }

  private def sqlAggQuery(sh: AggShape): String = {
    val where =
      if (sh.preds.isEmpty) ""
      else sh.preds.map(sqlPred).mkString("\nWHERE ", "\n  AND ", "")
    val keys = sh.keys.map(k => s"${sqlKeyExpr(k)} AS ${k.name}")
    val groupRefs = (1 to sh.keys.length).mkString(", ")
    val having = sh.havingMinN.map(h => s"\nHAVING COUNT(*) >= $h").getOrElse("")
    s"""SELECT ${(keys ++ sh.aggs.map(sqlAgg)).mkString(",\n  ")}
       |FROM events$where
       |GROUP BY $groupRefs$having
       |ORDER BY $groupRefs""".stripMargin
  }

  private def sqlWinQuery(sh: WinShape): String = {
    val where =
      if (sh.preds.isEmpty) ""
      else sh.preds.map(sqlPred).mkString("\nWHERE ", "\n  AND ", "")
    s"""WITH cnt AS (
       |  SELECT ${sqlKeyExpr(sh.outer)} AS ${sh.outer.name},
       |    ${sqlKeyExpr(sh.inner)} AS ${sh.inner.name},
       |    COUNT(*) AS n
       |  FROM events$where
       |  GROUP BY 1, 2)
       |SELECT ${sh.outer.name}, ${sh.inner.name}, n, rk
       |FROM (${topKSql("cnt", Seq(sh.outer.name), Seq("n DESC", s"${sh.inner.name} ASC"), sh.k, Some("rk"))})
       |ORDER BY ${sh.outer.name}, rk""".stripMargin
  }

  private def sqlDPred(p: DPred): String = p match {
    case LangEq(l)    => s"lang = '$l'"
    case SourceIn(ss) => ss.mkString("source IN ('", "', '", "')")
    case NCharsGt(c)  => s"n_chars > $c"
  }

  private def sqlTPred(p: TPred): String = p match {
    case LenGe(n)    => s"len(word) >= $n"
    case LenLe(n)    => s"len(word) <= $n"
    case NotStop     => s"NOT ${graft.ops.TextOps.isStopwordSql("word")}"
    case FirstIn(cs) => cs.mkString("substr(word, 1, 1) IN ('", "', '", "')")
  }

  private def sqlTokQuery(sh: TokShape): String = {
    val dwhere =
      if (sh.dpreds.isEmpty) ""
      else sh.dpreds.map(sqlDPred).mkString("\n  WHERE ", " AND ", "")
    val twhere =
      if (sh.tpreds.isEmpty) ""
      else sh.tpreds.map(sqlTPred).mkString("\nWHERE ", "\n  AND ", "")
    val body =
      if (sh.byLen)
        s"""SELECT CAST(len(word) AS BIGINT) AS wlen, COUNT(*) AS n,
           |  COUNT(DISTINCT word) AS n_words
           |FROM t$twhere
           |GROUP BY 1
           |ORDER BY 1""".stripMargin
      else {
        val nd = if (sh.nDocs) ",\n  COUNT(DISTINCT doc_id) AS n_docs" else ""
        val having =
          sh.havingMinN.map(h => s"\nHAVING COUNT(*) >= $h").getOrElse("")
        s"""SELECT word, COUNT(*) AS n$nd
           |FROM t$twhere
           |GROUP BY 1$having
           |ORDER BY n DESC, word ASC LIMIT ${sh.limit}""".stripMargin
      }
    s"""WITH t AS (
       |  SELECT doc_id, unnest(${graft.ops.TextOps.tokensSql("text")}) AS word
       |  FROM documents$dwhere)
       |$body""".stripMargin
  }

  private def sqlFrameQuery(sh: FrameShape): String = {
    val where =
      if (sh.preds.isEmpty) ""
      else sh.preds.map(sqlPred).mkString("\n  WHERE ", "\n    AND ", "")
    val metric =
      if (sh.sumMetric)
        s"CAST(SUM(${qroundLongSql("value * 1e6")}) AS BIGINT)"
      else "COUNT(*)"
    val p = sh.part.name
    val over = s"PARTITION BY $p ORDER BY day"
    val mov = sh.movW.map { k =>
      s",\n  CAST(SUM(x) OVER ($over ROWS BETWEEN ${k - 1} PRECEDING" +
        s" AND CURRENT ROW) AS BIGINT) AS mov${k}_x"
    }.getOrElse("")
    val delta =
      if (sh.withDelta)
        s",\n  x - LAG(x) OVER ($over) AS delta_x"
      else ""
    s"""WITH daily AS (
       |  SELECT ${sqlKeyExpr(sh.part)} AS $p, CAST(ts AS DATE) AS day,
       |    $metric AS x
       |  FROM events$where
       |  GROUP BY 1, 2)
       |SELECT $p, day, x,
       |  CAST(SUM(x) OVER ($over ROWS BETWEEN UNBOUNDED PRECEDING
       |    AND CURRENT ROW) AS BIGINT) AS run_x$mov$delta
       |FROM daily
       |ORDER BY 1, 2""".stripMargin
  }

  /** DuckDB twin of streamAggPlan. Tumbling/sliding buckets use PURE
    * epoch-microsecond arithmetic from TIMESTAMP '1970-01-01' (Spark
    * windows are epoch-aligned in the UTC session; DuckDB's time_bucket
    * aligns to 2000-01-03 — equivalent only for widths dividing 24 h,
    * so this renders the alignment explicitly and any width is safe).
    * Sliding shapes fan each row out to its width/slide covering
    * windows (the stream_sliding_12h device); session shapes are
    * gaps-and-islands with Spark's half-open >= gap boundary and
    * win_end = last event + gap (the stream_session_bounds contract).
    */
  private def sqlStreamQuery(sh: StreamShape): String = {
    val where =
      if (sh.preds.isEmpty) ""
      else sh.preds.map(sqlPred).mkString("\nWHERE ", "\n  AND ", "")
    val keySel =
      sh.key.map(k => s",\n  ${sqlKeyExpr(k)} AS ${k.name}").getOrElse("")
    val sumSel =
      if (sh.sumMetric)
        s",\n  CAST(SUM(${qroundLongSql("value * 1e6")}) AS BIGINT)" +
          " AS sum_micro"
      else ""
    val keyOrd = sh.key.map(k => s", ${k.name}").getOrElse("")
    val refs = if (sh.key.isDefined) "1, 2, 3" else "1, 2"
    sh.kind match {
      case Tumbling(h) =>
        val w = h.toLong * 3600000000L
        s"""SELECT TIMESTAMP '1970-01-01'
           |    + to_microseconds((epoch_us(ts) // $w) * $w) AS win_start,
           |  TIMESTAMP '1970-01-01'
           |    + to_microseconds((epoch_us(ts) // $w) * $w + $w)
           |    AS win_end$keySel,
           |  COUNT(*) AS n$sumSel
           |FROM events$where
           |GROUP BY $refs
           |ORDER BY win_start, win_end$keyOrd""".stripMargin
      case Sliding(h, sl) =>
        val w = h.toLong * 3600000000L
        val s = sl.toLong * 3600000000L
        s"""SELECT TIMESTAMP '1970-01-01'
           |    + to_microseconds((epoch_us(ts) // $s) * $s - k * $s)
           |    AS win_start,
           |  TIMESTAMP '1970-01-01'
           |    + to_microseconds((epoch_us(ts) // $s) * $s - k * $s + $w)
           |    AS win_end$keySel,
           |  COUNT(*) AS n$sumSel
           |FROM events CROSS JOIN (SELECT unnest(range(${h / sl})) AS k)$where
           |GROUP BY $refs
           |ORDER BY win_start, win_end$keyOrd""".stripMargin
      case SessionGap(m) =>
        val part = sh.key.map(k => s"PARTITION BY ${k.name} ").getOrElse("")
        val vmSel =
          if (sh.sumMetric)
            s",\n    ${qroundLongSql("value * 1e6")} AS vm"
          else ""
        val sumAgg =
          if (sh.sumMetric) ",\n  CAST(SUM(vm) AS BIGINT) AS sum_micro"
          else ""
        val keyIn = sh.key
          .map(k => s",\n    ${sqlKeyExpr(k)} AS ${k.name}").getOrElse("")
        val keyOut = sh.key.map(k => s",\n  ${k.name}").getOrElse("")
        val keyGrp = sh.key.map(k => s", ${k.name}").getOrElse("")
        s"""WITH e AS (
           |  SELECT ts, event_id$vmSel$keyIn
           |  FROM events$where),
           |l AS (
           |  SELECT *, lag(ts) OVER (${part}ORDER BY ts, event_id) AS prev_ts
           |  FROM e),
           |f AS (
           |  SELECT *, CASE WHEN prev_ts IS NULL
           |      OR ts >= prev_ts + INTERVAL $m MINUTE
           |    THEN 1 ELSE 0 END AS ns
           |  FROM l),
           |s AS (
           |  SELECT *, SUM(ns) OVER (${part}ORDER BY ts, event_id
           |    ROWS UNBOUNDED PRECEDING) AS sid
           |  FROM f)
           |SELECT MIN(ts) AS win_start,
           |  MAX(ts) + INTERVAL $m MINUTE AS win_end$keyOut,
           |  COUNT(*) AS n$sumAgg
           |FROM s GROUP BY sid$keyGrp
           |ORDER BY win_start, win_end$keyOrd""".stripMargin
    }
  }

  private def sqlSJoinQuery(sh: SJoinShape): String =
    s"""WITH l AS (
       |  SELECT user_id AS l_user, ts AS l_ts FROM events
       |  WHERE event_type = '${sh.left}'),
       |a AS (
       |  SELECT user_id, event_id AS anchor_id, ts AS anchor_ts
       |  FROM events WHERE event_type = '${sh.anchor}')
       |SELECT anchor_id, user_id, anchor_ts,
       |  COUNT(*) AS n_left, MAX(l_ts) AS last_left_ts
       |FROM a JOIN l ON user_id = l_user
       |  AND l_ts >= anchor_ts - INTERVAL ${sh.lookbackMin} MINUTE
       |  AND l_ts <= anchor_ts
       |GROUP BY 1, 2, 3
       |ORDER BY anchor_id""".stripMargin

  private def sqlSJoinOuterQuery(sh: SJoinShape): String =
    s"""WITH l AS (
       |  SELECT user_id AS l_user, ts AS l_ts FROM events
       |  WHERE event_type = '${sh.left}'),
       |a AS (
       |  SELECT user_id, event_id AS anchor_id, ts AS anchor_ts
       |  FROM events WHERE event_type = '${sh.anchor}')
       |SELECT anchor_id, user_id, anchor_ts,
       |  COUNT(l_ts) AS n_left, MAX(l_ts) AS last_left_ts
       |FROM a LEFT JOIN l ON user_id = l_user
       |  AND l_ts >= anchor_ts - INTERVAL ${sh.lookbackMin} MINUTE
       |  AND l_ts <= anchor_ts
       |GROUP BY 1, 2, 3
       |ORDER BY anchor_id""".stripMargin

  private def sqlSJoinFullQuery(sh: SJoinShape): String =
    s"""WITH l AS (
       |  SELECT user_id AS l_user, event_id AS l_id, ts AS l_ts
       |  FROM events WHERE event_type = '${sh.left}'),
       |a AS (
       |  SELECT user_id, event_id AS anchor_id, ts AS anchor_ts
       |  FROM events WHERE event_type = '${sh.anchor}'),
       |j AS (
       |  SELECT a.user_id, a.anchor_id, l.l_user, l.l_id
       |  FROM a FULL JOIN l ON a.user_id = l.l_user
       |    AND l.l_ts >= a.anchor_ts - INTERVAL ${sh.lookbackMin} MINUTE
       |    AND l.l_ts <= a.anchor_ts)
       |SELECT COALESCE(user_id, l_user) AS uid,
       |  COUNT(anchor_id) AS n_anchor_rows,
       |  COUNT(l_id) AS n_left_rows,
       |  CAST(SUM(CASE WHEN anchor_id IS NOT NULL AND l_id IS NULL
       |    THEN 1 ELSE 0 END) AS BIGINT) AS n_unmatched_anchors,
       |  CAST(SUM(CASE WHEN l_id IS NOT NULL AND anchor_id IS NULL
       |    THEN 1 ELSE 0 END) AS BIGINT) AS n_unmatched_lefts
       |FROM j GROUP BY 1 ORDER BY uid""".stripMargin

  private def sqlJPred(p: JPred): String = p match {
    case QtyGt(c)     => s"l_quantity > $c"
    case DiscLe(c)    => s"l_discount <= $c"
    case FlagIn(vs)   => vs.mkString("l_returnflag IN ('", "', '", "')")
    case StatusIn(vs) => vs.mkString("o_orderstatus IN ('", "', '", "')")
    case SegIn(vs)    => vs.mkString("c_mktsegment IN ('", "', '", "')")
  }

  private def sqlJKeyExpr(k: JKey): String = k match {
    case JkMonth => "CAST(month(o_orderdate) AS INTEGER)"
    case other   => other.name
  }

  private def sqlJAgg(a: JAgg): String = a match {
    case JCount => "COUNT(*) AS n"
    case JSumQty =>
      s"CAST(SUM(${qroundLongSql("l_quantity * 1e6")}) AS BIGINT)" +
        " AS sum_qty_micro"
    case JRevenue =>
      s"CAST(SUM(${qroundLongSql("l_extendedprice * (1.0 - l_discount) * 1e6")})" +
        " AS BIGINT) AS revenue_micro"
    case JMaxPrice =>
      s"MAX(${qroundLongSql("o_totalprice * 1e6")}) AS max_price_micro"
    case JNCust => "COUNT(DISTINCT o_custkey) AS n_cust"
  }

  private def sqlJoinQuery(sh: JoinShape): String = {
    val cust =
      if (sh.needsCust) "\n  JOIN customer ON o_custkey = c_custkey" else ""
    val where =
      if (sh.preds.isEmpty) ""
      else sh.preds.map(sqlJPred).mkString("\nWHERE ", "\n  AND ", "")
    val keys = sh.keys.map(k => s"${sqlJKeyExpr(k)} AS ${k.name}")
    val groupRefs = (1 to sh.keys.length).mkString(", ")
    s"""SELECT ${(keys ++ sh.aggs.map(sqlJAgg)).mkString(",\n  ")}
       |FROM lineitem JOIN orders ON l_orderkey = o_orderkey$cust$where
       |GROUP BY $groupRefs
       |ORDER BY $groupRefs""".stripMargin
  }

  // ---- registration ---------------------------------------------------

  private def nm(prefix: String, i: Int): String = f"${prefix}_$i%03d"

  lazy val queries: Map[String, (SparkSession, String) => DataFrame] =
    aggShapes.zipWithIndex.map { case (sh, i) =>
      nm("fuzz_agg", i) -> ((s: SparkSession, d: String) =>
        sparkAggQuery(sh)(s, d))
    }.toMap ++
      winShapes.zipWithIndex.map { case (sh, i) =>
        nm("fuzz_win", i) -> ((s: SparkSession, d: String) =>
          sparkWinQuery(sh)(s, d))
      }.toMap ++
      joinShapes.zipWithIndex.map { case (sh, i) =>
        nm("fuzz_join", i) -> ((s: SparkSession, d: String) =>
          sparkJoinQuery(sh)(s, d))
      }.toMap ++
      tokShapes.zipWithIndex.map { case (sh, i) =>
        nm("fuzz_tok", i) -> ((s: SparkSession, d: String) =>
          sparkTokQuery(sh)(s, d))
      }.toMap ++
      frameShapes.zipWithIndex.map { case (sh, i) =>
        nm("fuzz_frame", i) -> ((s: SparkSession, d: String) =>
          sparkFrameQuery(sh)(s, d))
      }.toMap ++
      streamShapes.zipWithIndex.map { case (sh, i) =>
        nm("fuzz_stream", i) -> ((s: SparkSession, d: String) =>
          sparkStreamQuery(sh)(s, d))
      }.toMap ++
      sjoinShapes.zipWithIndex.map { case (sh, i) =>
        nm("fuzz_sjoin", i) -> ((s: SparkSession, d: String) =>
          sparkSJoinQuery(sh)(s, d))
      }.toMap ++
      sjoinOuterShapes.zipWithIndex.map { case (sh, i) =>
        nm("fuzz_osjoin", i) -> ((s: SparkSession, d: String) =>
          sparkSJoinOuterQuery(sh)(s, d))
      }.toMap ++
      existsShapes.zipWithIndex.map { case (sh, i) =>
        nm("fuzz_exists", i) -> ((s: SparkSession, d: String) =>
          sparkExistsQuery(sh)(s, d))
      }.toMap ++
      sjoinFullShapes.zipWithIndex.map { case (sh, i) =>
        nm("fuzz_fsjoin", i) -> ((s: SparkSession, d: String) =>
          sparkSJoinFullQuery(sh)(s, d))
      }.toMap

  lazy val oracleSql: Map[String, String] =
    aggShapes.zipWithIndex.map { case (sh, i) =>
      nm("fuzz_agg", i) -> sqlAggQuery(sh)
    }.toMap ++
      winShapes.zipWithIndex.map { case (sh, i) =>
        nm("fuzz_win", i) -> sqlWinQuery(sh)
      }.toMap ++
      joinShapes.zipWithIndex.map { case (sh, i) =>
        nm("fuzz_join", i) -> sqlJoinQuery(sh)
      }.toMap ++
      tokShapes.zipWithIndex.map { case (sh, i) =>
        nm("fuzz_tok", i) -> sqlTokQuery(sh)
      }.toMap ++
      frameShapes.zipWithIndex.map { case (sh, i) =>
        nm("fuzz_frame", i) -> sqlFrameQuery(sh)
      }.toMap ++
      streamShapes.zipWithIndex.map { case (sh, i) =>
        nm("fuzz_stream", i) -> sqlStreamQuery(sh)
      }.toMap ++
      sjoinShapes.zipWithIndex.map { case (sh, i) =>
        nm("fuzz_sjoin", i) -> sqlSJoinQuery(sh)
      }.toMap ++
      sjoinOuterShapes.zipWithIndex.map { case (sh, i) =>
        nm("fuzz_osjoin", i) -> sqlSJoinOuterQuery(sh)
      }.toMap ++
      existsShapes.zipWithIndex.map { case (sh, i) =>
        nm("fuzz_exists", i) -> sqlExistsQuery(sh)
      }.toMap ++
      sjoinFullShapes.zipWithIndex.map { case (sh, i) =>
        nm("fuzz_fsjoin", i) -> sqlSJoinFullQuery(sh)
      }.toMap

  /** Human-readable shape descriptions, for failure minimization. */
  lazy val describe: Map[String, String] =
    aggShapes.zipWithIndex.map { case (sh, i) =>
      nm("fuzz_agg", i) -> sh.toString
    }.toMap ++
      winShapes.zipWithIndex.map { case (sh, i) =>
        nm("fuzz_win", i) -> sh.toString
      }.toMap ++
      joinShapes.zipWithIndex.map { case (sh, i) =>
        nm("fuzz_join", i) -> sh.toString
      }.toMap ++
      tokShapes.zipWithIndex.map { case (sh, i) =>
        nm("fuzz_tok", i) -> sh.toString
      }.toMap ++
      frameShapes.zipWithIndex.map { case (sh, i) =>
        nm("fuzz_frame", i) -> sh.toString
      }.toMap ++
      streamShapes.zipWithIndex.map { case (sh, i) =>
        nm("fuzz_stream", i) -> sh.toString
      }.toMap ++
      sjoinShapes.zipWithIndex.map { case (sh, i) =>
        nm("fuzz_sjoin", i) -> sh.toString
      }.toMap ++
      sjoinOuterShapes.zipWithIndex.map { case (sh, i) =>
        nm("fuzz_osjoin", i) -> ("outer " + sh.toString)
      }.toMap ++
      existsShapes.zipWithIndex.map { case (sh, i) =>
        nm("fuzz_exists", i) -> sh.toString
      }.toMap ++
      sjoinFullShapes.zipWithIndex.map { case (sh, i) =>
        nm("fuzz_fsjoin", i) -> ("full outer " + sh.toString)
      }.toMap
}
