package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.ops.Tables
import graft.ops.Ranking.{topK, topKSql}

/** Time-windowed / incremental semantics (SURVEY §2.9, §7.1 M8).
  *
  * The reference is a 30-minute scheduled micro-batch DAG; its incremental
  * semantics (tumbling daily buckets, sliding lookbacks, insert-time key
  * dedup) map to Structured Streaming. Each op here is expressed with the
  * SAME window functions a readStream plan would use, evaluated in batch
  * mode so the DuckDB oracle can check it; StreamingSpec runs the actual
  * readStream/writeStream versions through MemoryStream and asserts they
  * agree with these batch results.
  *
  * Scale notes: all three window shapes aggregate with partial map-side
  * combine; sliding windows multiply rows by windowDuration/slideDuration
  * (2× here) BEFORE the shuffle, which is the documented Spark cost model;
  * session windows shuffle once on the grouping key then merge in-state.
  */
object StreamingOps {
  import Tables._

  type Q = (SparkSession, String) => DataFrame

  val queries: Map[String, Q] = Map(
    // Tumbling 1-day event-time window (W3/A4 streaming form).
    "stream_tumbling_daily" -> ((s, d) => {
      import s.implicits._
      events(s, d)
        .groupBy(window($"ts", "1 day").as("w"), $"event_type")
        .agg(count("*").as("n"), round(sum($"value"), 4).as("sum_value"))
        .select($"w.start".as("win_start"), $"event_type", $"n", $"sum_value")
        .orderBy("win_start", "event_type")
    }),

    // Sliding 12h window, 6h slide (P7's lookback generalized).
    "stream_sliding_12h" -> ((s, d) => {
      import s.implicits._
      events(s, d)
        .groupBy(window($"ts", "12 hours", "6 hours").as("w"))
        .agg(count("*").as("n"))
        .select($"w.start".as("win_start"), $"n")
        .orderBy("win_start")
    }),

    // Streaming key-dedup (S8 streaming form — reference pipelines.py:33-44
    // drops items whose key was already inserted). The readStream version
    // is withWatermark + dropDuplicates(keys); this is its batch
    // equivalent with a DETERMINISTIC survivor (earliest ts, then lowest
    // event_id — streaming keeps the first arrival, which is the same row
    // when the stream is in event-time order). One shuffle on the dedup
    // key; state per key is one row, bounded by the watermark at scale.
    "stream_dedup_keys" -> ((s, d) => {
      import s.implicits._
      topK(events(s, d), Seq($"user_id", $"event_type"), Seq($"ts".asc, $"event_id".asc), 1, None)
        .select($"user_id", $"event_type",
          $"event_id".as("first_event_id"), $"ts".as("first_ts"))
        .orderBy("user_id", "event_type")
    }),

    // Stateful sequence processing (the flatMapGroupsWithState shape):
    // per-user event-type TRANSITION counts — the streaming form keeps
    // one last-event-type state per user and emits a (prev, next) pair
    // per arrival; this is its batch equivalent via a lag window
    // (StreamingSpec runs the actual flatMapGroupsWithState version
    // through MemoryStream and asserts it matches). One shuffle on
    // user_id, then a partial-aggregated count — state per key is one
    // string, bounded regardless of stream length.
    "stream_user_transitions" -> ((s, d) => {
      import s.implicits._
      val w = Window.partitionBy($"user_id").orderBy($"ts".asc, $"event_id".asc)
      events(s, d)
        .withColumn("prev", lag($"event_type", 1).over(w))
        .filter($"prev".isNotNull)
        .groupBy($"prev", $"event_type")
        .agg(count(lit(1)).as("n"))
        .orderBy("prev", "event_type")
    }),

    // Stream-stream interval join (the canonical two-stream enrichment):
    // each purchase joined to the same user's clicks in the preceding
    // hour, aggregated per purchase. The readStream form is a
    // watermarked interval join — inner-join state is bounded by the 1h
    // range + watermark, so it runs indefinitely at any rate;
    // StreamingSpec runs that exact plan through two MemoryStreams and
    // asserts it matches this batch equivalent. The user_id equi-key
    // carries the one shuffle; the range predicate prunes inside each
    // key group, so cost is ∝ matched pairs, never clicks × purchases.
    "stream_interval_join" -> ((s, d) => {
      import s.implicits._
      val ev = events(s, d)
      val clicks = ev.filter($"event_type" === "click")
        .select($"user_id", $"ts".as("click_ts"))
      val purchases = ev.filter($"event_type" === "purchase")
        .select($"user_id", $"event_id".as("purchase_id"),
          $"ts".as("purchase_ts"))
      purchases.as("p").join(clicks.as("c"),
          col("p.user_id") === col("c.user_id") &&
            col("c.click_ts") >= col("p.purchase_ts") - expr("INTERVAL 1 HOUR") &&
            col("c.click_ts") <= col("p.purchase_ts"))
        .groupBy(col("p.purchase_id").as("purchase_id"),
          col("p.user_id").as("user_id"),
          col("p.purchase_ts").as("purchase_ts"))
        .agg(count(lit(1)).as("n_clicks_1h"),
          max(col("c.click_ts")).as("last_click_ts"))
        .orderBy("purchase_id")
    }),

    // Stream-stream LEFT OUTER interval join — the watermark-driven
    // null-emission semantics (the hardest streaming join Spark offers,
    // and the reference's "anchor with no qualifying predecessor"
    // readout: a purchase with NO click in the preceding hour must still
    // appear, with a null match — reference cadence SURVEY §2.9,
    // bbc_news_dag.py:251-258 late-data tolerance). In streaming, the
    // unmatched-anchor row can only emit once the watermark proves no
    // in-range click can still arrive (state eviction), which is why the
    // inner variant above couldn't express it; StreamingSpec replays
    // this exact join through two watermarked MemoryStreams and asserts
    // the null row emits ONLY after the watermark passes. Batch twin:
    // plain left-outer + count of the NON-NULL side (0 for unmatched).
    // Same scale shape as the inner join: one shuffle on user_id, state
    // bounded by lookback + watermark on both sides.
    "stream_interval_join_outer" -> ((s, d) => {
      import s.implicits._
      val ev = events(s, d)
      val clicks = ev.filter($"event_type" === "click")
        .select($"user_id".as("c_user"), $"ts".as("click_ts"))
      val purchases = ev.filter($"event_type" === "purchase")
        .select($"user_id", $"event_id".as("purchase_id"),
          $"ts".as("purchase_ts"))
      intervalJoinOuterPlan(clicks, purchases)
        .groupBy($"purchase_id", $"user_id", $"purchase_ts")
        .agg(count($"click_ts").as("n_clicks_1h"),
          max($"click_ts").as("last_click_ts"))
        .orderBy("purchase_id")
    }),

    // Exactly-once sink semantics, oracle-checked end to end: the corpus
    // is split into four deterministic event-time "micro-batches"
    // (epoch-day mod 4), each written through idempotentBatchSink, and
    // then one batch is REPLAYED — the simulated at-least-once rerun.
    // The re-read per-batch aggregate must equal the straight aggregate
    // over events: if the replay duplicated rows the counts double and
    // the oracle hash catches it. The spec drives the same sink through
    // a real foreachBatch query with a manual replay; this entry makes
    // the idempotence claim part of the every-round correctness gate.
    "sink_exactly_once_batches" -> ((s, d) => {
      import s.implicits._
      val out = Tables.artifactDir("sink_exactly_once", d)
      // clean slate: dynamic overwrite only replaces partitions the
      // current write touches, so a stale directory from an earlier run
      // (e.g. a different batch partitioning) must not leak into the scan
      val hfs = org.apache.hadoop.fs.FileSystem.get(
        java.net.URI.create(out), s.sparkContext.hadoopConfiguration)
      hfs.delete(new org.apache.hadoop.fs.Path(out), true)
      val ev = events(s, d)
        .withColumn("bid", pmod(datediff(to_date($"ts"),
          lit("1970-01-01").cast("date")), lit(4)))
      (0 until 4).foreach { b =>
        idempotentBatchSink(out)(
          ev.filter($"bid" === b).drop("bid"), b.toLong)
      }
      // the at-least-once replay: batch 2 runs again with the same id
      idempotentBatchSink(out)(ev.filter($"bid" === 2).drop("bid"), 2L)
      s.read.parquet(out)
        .groupBy($"batch_id".cast("long").as("batch_id"))
        .agg(count(lit(1)).as("n"),
          sum(round($"value" * 1e6, 0).cast("long")).as("sum_micro"))
        .orderBy("batch_id")
    }),

    // FULL OUTER completion of the interval-join family: every purchase
    // appears (with null click when none landed in its preceding hour)
    // AND every click appears (with null purchase when it matched no
    // purchase's lookback window) — the reconciliation readout that
    // audits both streams at once. Streaming-wise this is the superset
    // semantics of the left-outer entry: null emission on BOTH sides is
    // watermark-driven, with ASYMMETRIC eviction deadlines (a purchase's
    // null row can emit once watermark > purchase_ts; a click's null row
    // only once watermark > click_ts + 1h, the last purchase that could
    // still claim it). Round 18: the streaming rendering no longer
    // inherits the left-outer spec's evidence — StreamingSpec replays
    // THIS plan (intervalJoinFullPlan, the same function as this batch
    // twin) through two MemoryStreams and pins both null paths and
    // their two different deadlines directly.
    // Aggregated per side-tagged key so the output is deterministic.
    "stream_interval_join_full" -> ((s, d) => {
      import s.implicits._
      val ev = events(s, d)
      val clicks = ev.filter($"event_type" === "click")
        .select($"user_id".as("c_user"), $"event_id".as("click_id"),
          $"ts".as("click_ts"))
      val purchases = ev.filter($"event_type" === "purchase")
        .select($"user_id", $"event_id".as("purchase_id"),
          $"ts".as("purchase_ts"))
      intervalJoinFullPlan(clicks, purchases)
        .groupBy(coalesce($"user_id", $"c_user").as("uid"))
        .agg(count($"purchase_id").as("n_purchase_rows"),
          count($"click_id").as("n_click_rows"),
          sum(when($"purchase_id".isNotNull && $"click_id".isNull, 1L)
            .otherwise(0L)).as("n_unmatched_purchases"),
          sum(when($"click_id".isNotNull && $"purchase_id".isNull, 1L)
            .otherwise(0L)).as("n_unmatched_clicks"))
        .orderBy("uid")
    }),

    // Batch twin of the transformWithState TIMER op (AbandonedClicks):
    // clicks the same user never followed with a purchase inside the
    // next hour — a range-residual ANTI join (equi on user_id carries
    // the shuffle, the interval prunes inside each key group). The
    // timer rendering emits each abandoned click exactly when the
    // watermark passes click_ts + 1h; StreamingSpec replays it through
    // MemoryStream + RocksDB and asserts set-equality with this.
    // Completes the interval triptych: inner join (matches), left
    // outer (anchors with/without matches), timers (the complement,
    // decided at deadline).
    "stream_abandoned_clicks" -> ((s, d) => {
      import s.implicits._
      val ev = events(s, d)
      val clicks = ev.filter($"event_type" === "click")
        .select($"user_id", $"event_id".as("click_id"),
          $"ts".as("click_ts"))
      val purchases = ev.filter($"event_type" === "purchase")
        .select($"user_id".as("p_user"), $"ts".as("p_ts"))
      clicks.join(purchases,
          $"user_id" === $"p_user" &&
            $"p_ts" > $"click_ts" &&
            $"p_ts" <= $"click_ts" + expr("INTERVAL 1 HOUR"),
          "left_anti")
        .orderBy("click_id")
    }),

    // Session windows: 30-minute inactivity gap per user.
    "stream_session_windows" -> ((s, d) => {
      import s.implicits._
      events(s, d)
        .groupBy(session_window($"ts", "30 minutes").as("sw"), $"user_id")
        .agg(count("*").as("n"))
        .groupBy($"user_id")
        .agg(count("*").as("n_sessions"), sum($"n").as("n_events"))
        .orderBy("user_id")
    }),

    // Batch twin of `dropDuplicatesWithinWatermark` — the BOUNDED-STATE
    // streaming dedup, and the documented divergence boundary from the
    // reference's unbounded insert-time index (SURVEY §2.9): state for a
    // key holds the SURVIVOR's event time and expires `horizon` after it
    // (duplicates do NOT extend expiry — Spark's
    // DropDuplicatesWithinWatermarkExec contract), so a duplicate
    // arriving ≤ horizon after the last survivor is dropped and one
    // arriving later is re-emitted as a fresh survivor. Batch form: per
    // (user_id, event_type) ordered by (ts, event_id), greedy chain —
    // keep iff ts > prev_survivor_ts + 6h. That chain is inherently
    // sequential per key, so it runs as the literal per-key state machine
    // the streaming operator implements: one shuffle on the dedup key,
    // a sorted linear scan per group, state = one timestamp. The DuckDB
    // oracle replays the chain with a recursive CTE. `stream_dedup_keys`
    // (keep-first-forever) is the unbounded reference semantics; the
    // spec proves the two part ways exactly past the horizon.
    "stream_dedup_within_watermark" -> ((s, d) => {
      import s.implicits._
      val horizonUs = 6L * 3600 * 1000000L
      def micros(t: java.sql.Timestamp): Long =
        Math.floorDiv(t.getTime, 1000L) * 1000000L + t.getNanos / 1000L
      events(s, d)
        .select($"user_id", $"event_type", $"ts", $"event_id")
        .as[(Long, String, java.sql.Timestamp, Long)]
        .groupByKey(r => (r._1, r._2))
        .flatMapGroups { (key: (Long, String), it) =>
          val (u, et) = key
          val rows = it.toArray.sortBy(r => (micros(r._3), r._4))
          var anchor = Long.MinValue
          var nKept = 0L
          var firstK: java.sql.Timestamp = null
          var lastK: java.sql.Timestamp = null
          rows.foreach { r =>
            val m = micros(r._3)
            if (anchor == Long.MinValue || m > anchor + horizonUs) {
              anchor = m; nKept += 1
              if (firstK == null) firstK = r._3
              lastK = r._3
            }
          }
          Iterator((u, et, rows.length.toLong, nKept, firstK, lastK))
        }
        .toDF("user_id", "event_type", "n_events", "n_survivors",
          "first_survivor_ts", "last_survivor_ts")
        .orderBy("user_id", "event_type")
    }),

    // Per-user session BOUNDARIES via session_window (the round-11 depth
    // on stream_session_windows, which only counts sessions): start =
    // first event, end = last event + gap (Spark's half-open contract —
    // an event at exactly prev_ts + gap starts a NEW session). In
    // streaming this is the out-of-order merge operator: sessions grow
    // and MERGE as late in-watermark events bridge gaps; StreamingSpec
    // feeds shuffled micro-batches and asserts the finalized sessions
    // land on this batch result. One shuffle on user_id; state per
    // in-flight session is (start, end, n) — watermark-bounded. Oracle:
    // classic gaps-and-islands with the same >= boundary.
    "stream_session_bounds" -> ((s, d) => {
      import s.implicits._
      events(s, d)
        .groupBy(session_window($"ts", "30 minutes").as("sw"), $"user_id")
        .agg(count(lit(1)).as("n_events"))
        .select($"user_id", $"sw.start".as("session_start"),
          $"sw.end".as("session_end"), $"n_events")
        .orderBy("user_id", "session_start")
    }),

    // Streaming approximate distinct — the sketch×streaming integration:
    // per (1-day tumbling window, event_type), HLL registers (the same
    // relational trailing-zero construction a_hll_probe oracle-checks)
    // with the daily estimate alongside the exact count. The streaming
    // form keeps ONE register aggregation in update mode — register max
    // is idempotent/commutative, so late or replayed events never skew
    // the state, which is exactly why HLL (not countDistinct's full key
    // set) is the unbounded-stream answer; StreamingSpec runs that
    // register aggregation through MemoryStream and asserts it lands on
    // this batch result's registers. State per (window, key) is 16
    // bytes-scale registers — watermark-bounded regardless of rate.
    "stream_hll_daily" -> ((s, d) => {
      import s.implicits._
      val M = 16
      val base = events(s, d).select(
        window($"ts", "1 day").getField("start").as("win_start"),
        $"event_type",
        $"user_id",
        graft.functions.PolyHash.poly_hash($"user_id".cast("string")).as("h"))
        .select($"win_start", $"event_type", $"user_id",
          ($"h" % M).as("j"), expr(s"h div $M").as("w"))
      val regs = base
        .withColumn("rho", when($"w" === 0, lit(27))
          .otherwise(expr("bit_count((w & -w) - 1) + 1")))
        .groupBy($"win_start", $"event_type", $"j").agg(max($"rho").as("r"))
      val dom = base.select($"win_start", $"event_type").distinct()
        .select($"win_start", $"event_type",
          explode(sequence(lit(0), lit(M - 1))).as("j"))
      val est = dom.join(regs, Seq("win_start", "event_type", "j"), "left")
        .na.fill(0, Seq("r"))
        .groupBy($"win_start", $"event_type").agg(
          sum(pow(lit(2.0), -$"r")).as("s"),
          sum(when($"r" === 0, 1).otherwise(0)).as("zeros"))
        .withColumn("raw", lit(0.673) * lit(M.toDouble * M) / $"s")
        .withColumn("hll_est", round(
          when($"raw" <= 2.5 * M && $"zeros" > 0,
            lit(M.toDouble) * log(lit(M.toDouble) / $"zeros"))
            .otherwise($"raw"), 3))
      base.groupBy($"win_start", $"event_type")
        .agg(countDistinct($"user_id").as("exact_users"))
        .join(est.select($"win_start", $"event_type", $"hll_est"),
          Seq("win_start", "event_type"))
        .orderBy("win_start", "event_type")
    }),
  )

  /** The batchId-keyed IDEMPOTENT OVERWRITE sink — the standard
    * exactly-once-over-at-least-once production pattern (the txn shape
    * Delta/Iceberg give a foreachBatch writer; reference anchor: the
    * S8/S9 idempotent upsert semantics, pipelines.py:30-44). foreachBatch
    * is at-least-once: after a failure the last uncommitted batch RERUNS
    * with the SAME batchId, so a sink keyed on batchId that OVERWRITES
    * its own partition turns the replay into a no-op — dynamic partition
    * overwrite replaces exactly the batch_id=<bid> directory and touches
    * nothing else. One function serves the streaming foreachBatch writer
    * (StreamingSpec replays a batch after a simulated failure and proves
    * the sink bit-identical) and the oracle-checked batch twin
    * (`sink_exactly_once_batches` below, which performs a replay
    * in-query and must still match the straight per-batch aggregate).
    * At 100 TB: per-batch data lands partitioned; replacing one
    * partition is a metadata swap + one batch rewrite, never a table
    * rewrite.
    */
  def idempotentBatchSink(outDir: String)(df: DataFrame, batchId: Long): Unit =
    // dynamic overwrite as a WRITER-level option, not a session-conf
    // mutate-and-restore (ADVICE r17: with concurrent queries on one
    // session, another writer could observe 'dynamic' or have its own
    // setting clobbered between set and restore) — Spark gives the
    // per-write option precedence over the session conf, so only this
    // write sees it.
    df.withColumn("batch_id", lit(batchId))
      .write.mode("overwrite")
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy("batch_id").parquet(outDir)

  /** The raw LEFT OUTER interval-join plan over a clicks frame
    * (`c_user`, `click_ts`) and a purchases frame (`user_id`,
    * `purchase_id`, `purchase_ts`) — ONE function builds both the batch
    * twin above and StreamingSpec's two-MemoryStream replay, so the two
    * sides cannot drift. Purchases are the OUTER (preserved) side: every
    * purchase emits, with null click_ts when no click landed in the
    * preceding hour. In the streaming rendering both inputs carry
    * watermarks and the interval condition bounds both event times, so
    * Spark can evict join state and emit the unmatched row at watermark
    * passage — exactly the semantics the spec pins.
    */
  def intervalJoinOuterPlan(clicks: DataFrame,
                            purchases: DataFrame): DataFrame =
    purchases.join(clicks,
        col("user_id") === col("c_user") &&
          col("click_ts") >= col("purchase_ts") - expr("INTERVAL 1 HOUR") &&
          col("click_ts") <= col("purchase_ts"),
        "left_outer")
      .select(col("purchase_id"), col("user_id"), col("purchase_ts"),
        col("click_ts"))

  /** The raw FULL OUTER interval-join plan over a clicks frame
    * (`c_user`, `click_id`, `click_ts`) and a purchases frame
    * (`user_id`, `purchase_id`, `purchase_ts`) — ONE function builds
    * both the oracle-checked batch twin and StreamingSpec's replay, so
    * the two cannot drift (the intervalJoinOuterPlan discipline).
    * BOTH sides are preserved, and the two null paths have DIFFERENT
    * watermark deadlines: an unmatched purchase evicts once the
    * watermark passes purchase_ts (no click in [ts-1h, ts] can still
    * arrive), while an unmatched click evicts only once it passes
    * click_ts + 1h (a purchase anywhere in [click_ts, click_ts+1h]
    * could still claim it). The spec pins that asymmetry with a
    * mid-watermark step where exactly one side's null row has emitted.
    */
  def intervalJoinFullPlan(clicks: DataFrame,
                           purchases: DataFrame): DataFrame =
    purchases.join(clicks,
        col("user_id") === col("c_user") &&
          col("click_ts") >= col("purchase_ts") - expr("INTERVAL 1 HOUR") &&
          col("click_ts") <= col("purchase_ts"),
        "full_outer")
      .select(col("purchase_id"), col("user_id"), col("purchase_ts"),
        col("click_id"), col("c_user"), col("click_ts"))

  val oracles: Map[String, String] = Map(
    // the straight per-batch aggregate: if the in-query replay ever
    // duplicated rows, n/sum_micro double and the hash mismatches.
    // ((x % 4) + 4) % 4 is the sign-safe pmod form (epoch days are
    // positive here, but arm/batch-split oracles follow the convention).
    "sink_exactly_once_batches" ->
      """SELECT ((date_diff('day', DATE '1970-01-01', CAST(ts AS DATE))
        |    % 4) + 4) % 4 AS batch_id,
        |  COUNT(*) AS n,
        |  CAST(SUM(CAST(ROUND(value * 1e6, 0) AS BIGINT)) AS BIGINT)
        |    AS sum_micro
        |FROM events GROUP BY 1 ORDER BY 1""".stripMargin,
    "stream_interval_join_full" ->
      """WITH c AS (
        |  SELECT user_id AS c_user, event_id AS click_id, ts AS click_ts
        |  FROM events WHERE event_type = 'click'),
        |p AS (
        |  SELECT user_id, event_id AS purchase_id, ts AS purchase_ts
        |  FROM events WHERE event_type = 'purchase'),
        |j AS (
        |  SELECT p.user_id, p.purchase_id, c.c_user, c.click_id
        |  FROM p FULL JOIN c ON p.user_id = c.c_user
        |    AND c.click_ts >= p.purchase_ts - INTERVAL 1 HOUR
        |    AND c.click_ts <= p.purchase_ts)
        |SELECT COALESCE(user_id, c_user) AS uid,
        |  COUNT(purchase_id) AS n_purchase_rows,
        |  COUNT(click_id) AS n_click_rows,
        |  CAST(SUM(CASE WHEN purchase_id IS NOT NULL AND click_id IS NULL
        |    THEN 1 ELSE 0 END) AS BIGINT) AS n_unmatched_purchases,
        |  CAST(SUM(CASE WHEN click_id IS NOT NULL AND purchase_id IS NULL
        |    THEN 1 ELSE 0 END) AS BIGINT) AS n_unmatched_clicks
        |FROM j GROUP BY 1 ORDER BY uid""".stripMargin,
    "stream_abandoned_clicks" ->
      """SELECT c.user_id, c.event_id AS click_id, c.ts AS click_ts
        |FROM events c
        |WHERE c.event_type = 'click'
        |  AND NOT EXISTS (
        |    SELECT 1 FROM events p
        |    WHERE p.event_type = 'purchase' AND p.user_id = c.user_id
        |      AND p.ts > c.ts AND p.ts <= c.ts + INTERVAL 1 HOUR)
        |ORDER BY click_id""".stripMargin,
    "stream_interval_join_outer" ->
      """WITH c AS (
        |  SELECT user_id AS c_user, ts AS click_ts FROM events
        |  WHERE event_type = 'click'),
        |p AS (
        |  SELECT user_id, event_id AS purchase_id, ts AS purchase_ts
        |  FROM events WHERE event_type = 'purchase')
        |SELECT p.purchase_id, p.user_id, p.purchase_ts,
        |  COUNT(c.click_ts) AS n_clicks_1h, MAX(c.click_ts) AS last_click_ts
        |FROM p LEFT JOIN c ON p.user_id = c.c_user
        |  AND c.click_ts >= p.purchase_ts - INTERVAL 1 HOUR
        |  AND c.click_ts <= p.purchase_ts
        |GROUP BY 1, 2, 3 ORDER BY purchase_id""".stripMargin,
    // Spark windows align to the 1970 epoch; 6h/12h/1d buckets from
    // epoch-aligned arithmetic match.
    "stream_tumbling_daily" ->
      """SELECT date_trunc('day', ts) AS win_start, event_type,
        |  COUNT(*) AS n, ROUND(SUM(value), 4) AS sum_value
        |FROM events GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "stream_sliding_12h" ->
      """SELECT win_start, COUNT(*) AS n FROM (
        |  SELECT time_bucket(INTERVAL 6 HOUR, ts) - k * INTERVAL 6 HOUR AS win_start
        |  FROM events CROSS JOIN (SELECT unnest([0, 1]) AS k))
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    "stream_hll_daily" ->
      s"""WITH b AS (
         |  SELECT date_trunc('day', ts) AS win_start, event_type, user_id,
         |    ${graft.ops.DedupOps.polyHashSql("CAST(user_id AS VARCHAR)")} % 16 AS j,
         |    ${graft.ops.DedupOps.polyHashSql("CAST(user_id AS VARCHAR)")} // 16 AS w
         |  FROM events),
         |rho AS (
         |  SELECT win_start, event_type, j,
         |    CASE WHEN w = 0 THEN 27
         |         ELSE bit_count((w & -w) - 1) + 1 END AS rho
         |  FROM b),
         |regs AS (
         |  SELECT win_start, event_type, j, MAX(rho) AS r
         |  FROM rho GROUP BY 1, 2, 3),
         |dom AS (
         |  SELECT DISTINCT win_start, event_type, g.j
         |  FROM b CROSS JOIN (SELECT unnest(range(16)) AS j) g),
         |fl AS (
         |  SELECT dom.win_start, dom.event_type, dom.j, COALESCE(regs.r, 0) AS r
         |  FROM dom LEFT JOIN regs ON dom.win_start = regs.win_start
         |    AND dom.event_type = regs.event_type AND dom.j = regs.j),
         |est AS (
         |  SELECT win_start, event_type,
         |    SUM(pow(2.0, -r)) AS s,
         |    SUM(CASE WHEN r = 0 THEN 1 ELSE 0 END) AS zeros
         |  FROM fl GROUP BY 1, 2),
         |e2 AS (
         |  SELECT win_start, event_type, 0.673 * 256.0 / s AS raw, zeros
         |  FROM est)
         |SELECT b.win_start, b.event_type,
         |  COUNT(DISTINCT b.user_id) AS exact_users,
         |  ANY_VALUE(ROUND(CASE WHEN raw <= 40.0 AND zeros > 0
         |       THEN 16.0 * ln(16.0 / zeros) ELSE raw END, 3)) AS hll_est
         |FROM b JOIN e2 ON b.win_start = e2.win_start
         |  AND b.event_type = e2.event_type
         |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    // Recursive-CTE replay of the greedy survivor chain: the walk steps
    // one rn at a time per key (all keys advance in parallel per
    // iteration), carrying the anchor = last survivor's ts; kept iff
    // strictly past anchor + horizon, matching the streaming state
    // machine's non-extending expiry.
    "stream_dedup_within_watermark" ->
      """WITH RECURSIVE ev AS (
        |  SELECT user_id, event_type, ts, event_id,
        |    row_number() OVER (PARTITION BY user_id, event_type
        |                       ORDER BY ts, event_id) AS rn
        |  FROM events),
        |walk AS (
        |  SELECT user_id, event_type, ts, rn, ts AS anchor, TRUE AS kept
        |  FROM ev WHERE rn = 1
        |  UNION ALL
        |  SELECT e.user_id, e.event_type, e.ts, e.rn,
        |    CASE WHEN e.ts > w.anchor + INTERVAL 6 HOUR
        |         THEN e.ts ELSE w.anchor END,
        |    e.ts > w.anchor + INTERVAL 6 HOUR
        |  FROM walk w JOIN ev e
        |    ON e.user_id = w.user_id AND e.event_type = w.event_type
        |    AND e.rn = w.rn + 1)
        |SELECT user_id, event_type,
        |  COUNT(*) AS n_events,
        |  CAST(SUM(CASE WHEN kept THEN 1 ELSE 0 END) AS BIGINT) AS n_survivors,
        |  MIN(CASE WHEN kept THEN ts END) AS first_survivor_ts,
        |  MAX(CASE WHEN kept THEN ts END) AS last_survivor_ts
        |FROM walk GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    // Gaps-and-islands with the half-open boundary (>= gap starts a new
    // session) and end = last event + gap, Spark's session_window
    // contract.
    "stream_session_bounds" ->
      """WITH e AS (
        |  SELECT user_id, ts, event_id,
        |    lag(ts) OVER (PARTITION BY user_id
        |                  ORDER BY ts, event_id) AS prev_ts
        |  FROM events),
        |f AS (
        |  SELECT user_id, ts,
        |    CASE WHEN prev_ts IS NULL
        |           OR ts >= prev_ts + INTERVAL 30 MINUTE
        |         THEN 1 ELSE 0 END AS new_sess, event_id
        |  FROM e),
        |s AS (
        |  SELECT user_id, ts,
        |    SUM(new_sess) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
        |  FROM f)
        |SELECT user_id, MIN(ts) AS session_start,
        |  MAX(ts) + INTERVAL 30 MINUTE AS session_end,
        |  COUNT(*) AS n_events
        |FROM s GROUP BY user_id, sid
        |ORDER BY user_id, session_start""".stripMargin,
    "stream_dedup_keys" ->
      s"""SELECT user_id, event_type, event_id AS first_event_id, ts AS first_ts
         |FROM (${topKSql("events", Seq("user_id", "event_type"), Seq("ts ASC", "event_id ASC"), 1, None)})
         |ORDER BY user_id, event_type""".stripMargin,
    "stream_user_transitions" ->
      """WITH o AS (
        |  SELECT event_type,
        |    lag(event_type) OVER (PARTITION BY user_id
        |      ORDER BY ts ASC, event_id ASC) AS prev
        |  FROM events)
        |SELECT prev, event_type, COUNT(*) AS n FROM o
        |WHERE prev IS NOT NULL
        |GROUP BY prev, event_type ORDER BY prev, event_type""".stripMargin,
    "stream_interval_join" ->
      """WITH c AS (
        |  SELECT user_id, ts AS click_ts FROM events WHERE event_type = 'click'),
        |p AS (
        |  SELECT user_id, event_id AS purchase_id, ts AS purchase_ts
        |  FROM events WHERE event_type = 'purchase')
        |SELECT p.purchase_id, p.user_id, p.purchase_ts,
        |  COUNT(*) AS n_clicks_1h, MAX(c.click_ts) AS last_click_ts
        |FROM p JOIN c ON p.user_id = c.user_id
        |  AND c.click_ts >= p.purchase_ts - INTERVAL 1 HOUR
        |  AND c.click_ts <= p.purchase_ts
        |GROUP BY 1, 2, 3 ORDER BY purchase_id""".stripMargin,
    "stream_session_windows" ->
      """WITH o AS (
        |  SELECT user_id, ts,
        |    lag(ts) OVER (PARTITION BY user_id ORDER BY ts) AS prev
        |  FROM events),
        |f AS (
        |  SELECT user_id, ts,
        |    CASE WHEN prev IS NULL OR ts - prev >= INTERVAL 30 MINUTE
        |         THEN 1 ELSE 0 END AS flag
        |  FROM o),
        |s AS (
        |  SELECT user_id, SUM(flag) OVER (PARTITION BY user_id ORDER BY ts
        |    ROWS UNBOUNDED PRECEDING) AS sid
        |  FROM f)
        |SELECT user_id, COUNT(DISTINCT sid) AS n_sessions, COUNT(*) AS n_events
        |FROM s GROUP BY user_id ORDER BY user_id""".stripMargin,
  )
}
