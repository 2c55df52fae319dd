package graft

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import java.sql.Timestamp

/** Structured Streaming equivalence: the readStream versions of the
  * windowed ops produce the same results as the batch queries the oracle
  * checks (SURVEY §2.9 / M8).
  */
class StreamingSpec extends SparkSpec {
  import spark.implicits._

  private case class Ev(event_id: Long, ts: Timestamp, user_id: Long,
      event_type: String, value: Double)

  private lazy val batchEvents =
    graft.ops.Tables.events(spark, sf)
      .select($"event_id", $"ts", $"user_id", $"event_type", $"value")
      .as[(Long, Timestamp, Long, String, Double)].collect()

  test("streaming tumbling daily agg equals the batch query") {
    implicit val sqlCtx = spark.sqlContext
    val stream = MemoryStream[(Long, Timestamp, Long, String, Double)]
    val agg = stream.toDF()
      .toDF("event_id", "ts", "user_id", "event_type", "value")
      .withWatermark("ts", "1 day")
      .groupBy(window($"ts", "1 day").as("w"), $"event_type")
      .agg(count("*").as("n"), round(sum($"value"), 4).as("sum_value"))
      .select($"w.start".as("win_start"), $"event_type", $"n", $"sum_value")
    val q = agg.writeStream.outputMode("complete")
      .format("memory").queryName("t_tumbling").start()
    try {
      // feed in two micro-batches to exercise state merge
      val (b1, b2) = batchEvents.splitAt(batchEvents.length / 2)
      stream.addData(b1.toSeq)
      q.processAllAvailable()
      stream.addData(b2.toSeq)
      q.processAllAvailable()
      val got = spark.table("t_tumbling")
        .orderBy("win_start", "event_type")
        .collect().map(_.toSeq).toSeq
      val want = SparkEntry.queries("stream_tumbling_daily")(spark, sf)
        .collect().map(_.toSeq).toSeq
      assert(got == want)
    } finally q.stop()
  }

  test("streaming HLL registers equal the batch sketch (idempotent state)") {
    implicit val sqlCtx = spark.sqlContext
    val M = 16
    val stream = MemoryStream[(Long, Timestamp, Long, String, Double)]
    val regs = stream.toDF()
      .toDF("event_id", "ts", "user_id", "event_type", "value")
      .withWatermark("ts", "1 day")
      .select(window($"ts", "1 day").getField("start").as("win_start"),
        $"event_type",
        graft.functions.PolyHash.poly_hash($"user_id".cast("string")).as("h"))
      .select($"win_start", $"event_type",
        pmod($"h", lit(M)).as("j"), expr(s"h div $M").as("w"))
      .withColumn("rho", when($"w" === 0, lit(27))
        .otherwise(expr("bit_count((w & -w) - 1) + 1")))
      .groupBy($"win_start", $"event_type", $"j").agg(max($"rho").as("r"))
    val q = regs.writeStream.outputMode("complete")
      .format("memory").queryName("t_hll_regs").start()
    try {
      // three micro-batches WITH the middle one replayed: register max is
      // idempotent, so duplicate delivery must not move any register —
      // the property that makes HLL the unbounded-stream distinct counter
      val thirds = batchEvents.grouped(
        math.max(1, batchEvents.length / 3)).toSeq
      stream.addData(thirds.head.toSeq)
      q.processAllAvailable()
      stream.addData(thirds(1).toSeq)
      q.processAllAvailable()
      stream.addData(thirds(1).toSeq) // replay
      thirds.drop(2).foreach(t => stream.addData(t.toSeq))
      q.processAllAvailable()
      val got = spark.table("t_hll_regs")
        .orderBy("win_start", "event_type", "j")
        .collect().map(_.toSeq).toSeq
      // batch registers (the non-densified core of stream_hll_daily)
      val want = graft.ops.Tables.events(spark, sf)
        .select(window($"ts", "1 day").getField("start").as("win_start"),
          $"event_type",
          graft.functions.PolyHash.poly_hash($"user_id".cast("string")).as("h"))
        .select($"win_start", $"event_type",
          pmod($"h", lit(M)).as("j"), expr(s"h div $M").as("w"))
        .withColumn("rho", when($"w" === 0, lit(27))
          .otherwise(expr("bit_count((w & -w) - 1) + 1")))
        .groupBy($"win_start", $"event_type", $"j").agg(max($"rho").as("r"))
        .orderBy("win_start", "event_type", "j")
        .collect().map(_.toSeq).toSeq
      assert(got == want && got.nonEmpty)
    } finally q.stop()
  }

  test("foreachBatch overwrite sink (S9 streaming form) lands the data") {
    implicit val sqlCtx = spark.sqlContext
    val stream = MemoryStream[(Long, Timestamp, Long, String, Double)]
    val out = "target/tmp/stream_foreachbatch"
    val q = stream.toDF()
      .toDF("event_id", "ts", "user_id", "event_type", "value")
      .writeStream
      .outputMode("append")
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        batch.groupBy("event_type").count()
          .write.mode("overwrite").parquet(out)
      }
      .start()
    try {
      stream.addData(batchEvents.toSeq)
      q.processAllAvailable()
      val landed = spark.read.parquet(out)
      assert(landed.count() == 5)
      val total = landed.agg(sum($"count")).collect().head.getLong(0)
      assert(total == batchEvents.length)
    } finally q.stop()
  }

  test("mapGroupsWithState custom per-user state equals batch counts") {
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    implicit val sqlCtx = spark.sqlContext
    val stream = MemoryStream[(Long, Timestamp, Long, String, Double)]
    val counted = stream.toDS()
      .groupByKey(_._3) // user_id
      .mapGroupsWithState(GroupStateTimeout.NoTimeout) {
        (user: Long, rows: Iterator[(Long, Timestamp, Long, String, Double)],
         state: GroupState[Long]) =>
          val n = state.getOption.getOrElse(0L) + rows.size
          state.update(n)
          (user, n)
      }
      .toDF("user_id", "n")
    val q = counted.writeStream.outputMode(OutputMode.Update())
      .format("memory").queryName("t_state").start()
    try {
      val (b1, b2) = batchEvents.splitAt(batchEvents.length / 3)
      stream.addData(b1.toSeq)
      q.processAllAvailable()
      stream.addData(b2.toSeq)
      q.processAllAvailable()
      // last update per user = total count
      val got = spark.table("t_state")
        .groupBy($"user_id").agg(max($"n").as("n"))
        .orderBy("user_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
      val want = graft.ops.Tables.events(spark, sf)
        .groupBy($"user_id").count().orderBy("user_id")
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
      assert(got == want)
    } finally q.stop()
  }

  test("flatMapGroupsWithState transitions match the batch lag-window query") {
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    implicit val sqlCtx = spark.sqlContext
    val stream = MemoryStream[(Long, Timestamp, Long, String, Double)]
    // state = last event_type per user; emit one (prev, next) per arrival
    val transitions = stream.toDS()
      .groupByKey(_._3)
      .flatMapGroupsWithState(OutputMode.Append(), GroupStateTimeout.NoTimeout) {
        (_: Long, rows: Iterator[(Long, Timestamp, Long, String, Double)],
         state: GroupState[String]) =>
          // rows within a micro-batch arrive unordered: sort by (ts, event_id)
          // to mirror event-time order (the batch query's window order)
          val sorted = rows.toSeq.sortBy(e => (e._2.getTime, e._2.getNanos, e._1))
          val out = scala.collection.mutable.Buffer.empty[(String, String)]
          var prev = state.getOption
          sorted.foreach { e =>
            prev.foreach(p => out += ((p, e._4)))
            prev = Some(e._4)
          }
          prev.foreach(state.update)
          out.iterator
      }
      .toDF("prev", "event_type")
    val q = transitions.writeStream.outputMode("append")
      .format("memory").queryName("t_transitions").start()
    try {
      // two micro-batches split on event time so state carries across
      val sorted = batchEvents.sortBy(e => (e._2.getTime, e._2.getNanos, e._1))
      val (b1, b2) = sorted.splitAt(sorted.length / 2)
      stream.addData(b1.toSeq)
      q.processAllAvailable()
      stream.addData(b2.toSeq)
      q.processAllAvailable()
      val got = spark.table("t_transitions")
        .groupBy($"prev", $"event_type").agg(count("*").as("n"))
        .orderBy("prev", "event_type")
        .collect().map(_.toSeq).toSeq
      val want = SparkEntry.queries("stream_user_transitions")(spark, sf)
        .collect().map(_.toSeq).toSeq
      assert(got == want)
    } finally q.stop()
  }

  test("transformWithState (Spark 4 arbitrary state) matches batch countDistinct") {
    // The successor API to [flat]mapGroupsWithState: typed MapState per
    // key under the RocksDB state-store provider (which the API
    // requires). Per-user distinct event types accumulate in MapState
    // and the latest update per user must equal the batch countDistinct
    // — the same batch-twin contract the GroupState tests above pin.
    import org.apache.spark.sql.streaming.{OutputMode, TimeMode}
    implicit val sqlCtx = spark.sqlContext
    val provKey = "spark.sql.streaming.stateStore.providerClass"
    val prev = spark.conf.getOption(provKey)
    spark.conf.set(provKey,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val stream = MemoryStream[(Long, Timestamp, Long, String, Double)]
      val out = stream.toDS().groupByKey(_._3)
        .transformWithState(new DistinctTypesProcessor,
          TimeMode.None(), OutputMode.Update())
        .toDF("user_id", "n_types")
      val q = out.writeStream.outputMode("update")
        .format("memory").queryName("t_tws").start()
      try {
        val (b1, b2) = batchEvents.splitAt(batchEvents.length / 3)
        stream.addData(b1.toSeq)
        q.processAllAvailable()
        stream.addData(b2.toSeq)
        q.processAllAvailable()
        val got = spark.table("t_tws").groupBy($"user_id")
          .agg(max($"n_types").as("n")).orderBy("user_id")
          .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
        val want = graft.ops.Tables.events(spark, sf)
          .groupBy($"user_id").agg(countDistinct($"event_type").as("n"))
          .orderBy("user_id")
          .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
        assert(got == want)
      } finally q.stop()
    } finally prev match {
      case Some(v) => spark.conf.set(provKey, v)
      case None => spark.conf.unset(provKey)
    }
  }

  test("streaming dropDuplicates on (user_id, event_type) matches stream_dedup_keys") {
    implicit val sqlCtx = spark.sqlContext
    val stream = MemoryStream[(Long, Timestamp, Long, String, Double)]
    val dedup = stream.toDF()
      .toDF("event_id", "ts", "user_id", "event_type", "value")
      .withWatermark("ts", "2 days")
      .dropDuplicates("user_id", "event_type")
    val q = dedup.writeStream.outputMode("append")
      .format("memory").queryName("t_dedup_keys").start()
    try {
      // feed in event-time order so "first arrival" = earliest (ts, event_id),
      // the batch query's deterministic survivor
      stream.addData(batchEvents
        .sortBy(e => (e._2.getTime, e._2.getNanos, e._1)).toSeq)
      q.processAllAvailable()
      val got = spark.table("t_dedup_keys")
        .select($"user_id", $"event_type", $"event_id")
        .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet
      val want = SparkEntry.queries("stream_dedup_keys")(spark, sf)
        .select($"user_id", $"event_type", $"first_event_id")
        .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet
      assert(got == want)
    } finally q.stop()
  }

  test("watermarked stream-stream interval join matches the batch query") {
    implicit val sqlCtx = spark.sqlContext
    val cStream = MemoryStream[(Long, Timestamp, Long, String, Double)]
    val pStream = MemoryStream[(Long, Timestamp, Long, String, Double)]
    val clicks = cStream.toDF()
      .toDF("event_id", "ts", "user_id", "event_type", "value")
      .filter($"event_type" === "click")
      .select($"user_id".as("c_user"), $"ts".as("click_ts"))
      .withWatermark("click_ts", "2 hours")
    val purchases = pStream.toDF()
      .toDF("event_id", "ts", "user_id", "event_type", "value")
      .filter($"event_type" === "purchase")
      .select($"user_id", $"event_id".as("purchase_id"), $"ts".as("purchase_ts"))
      .withWatermark("purchase_ts", "2 hours")
    // inner interval join: matches emit immediately; watermark + range
    // bound the retained state on both sides
    val joined = purchases.join(clicks,
      $"user_id" === $"c_user" &&
        $"click_ts" >= $"purchase_ts" - expr("INTERVAL 1 HOUR") &&
        $"click_ts" <= $"purchase_ts")
    val q = joined.writeStream.outputMode("append")
      .format("memory").queryName("t_interval_join").start()
    try {
      val ordered = batchEvents.sortBy(e => (e._2.getTime, e._1))
      val (b1, b2) = ordered.splitAt(ordered.length / 2)
      cStream.addData(b1.toSeq); pStream.addData(b1.toSeq)
      q.processAllAvailable()
      cStream.addData(b2.toSeq); pStream.addData(b2.toSeq)
      q.processAllAvailable()
      val got = spark.table("t_interval_join")
        .groupBy($"purchase_id")
        .agg(count(lit(1)).as("n"), max($"click_ts").as("last"))
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getTimestamp(2)))
        .toSet
      val want = SparkEntry.queries("stream_interval_join")(spark, sf)
        .select($"purchase_id", $"n_clicks_1h", $"last_click_ts")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getTimestamp(2)))
        .toSet
      assert(got == want)
      assert(got.nonEmpty) // non-vacuous: sf0.001 must produce matches
    } finally q.stop()
  }

  test("LEFT OUTER interval join: null row emits ONLY after the watermark passes") {
    implicit val sqlCtx = spark.sqlContext
    // the watermark-driven null-emission semantics, pinned on a planted
    // fixture: purchase 100 (user 1) HAS a click 30 min before it — the
    // match emits immediately, inner-style; purchase 200 (user 2) has NO
    // click in its 1h lookback — its null row may only emit once the
    // watermark proves no qualifying click can still arrive (state
    // eviction at watermark > purchase_ts). Both sides run the SAME
    // intervalJoinOuterPlan the oracle-checked batch twin uses.
    val cStream = MemoryStream[(Long, Timestamp, Long, String, Double)]
    val pStream = MemoryStream[(Long, Timestamp, Long, String, Double)]
    def raw(st: MemoryStream[(Long, Timestamp, Long, String, Double)]) =
      st.toDF().toDF("event_id", "ts", "user_id", "event_type", "value")
    def clickSide(df: org.apache.spark.sql.DataFrame) = df
      .filter($"event_type" === "click")
      .select($"user_id".as("c_user"), $"ts".as("click_ts"))
    def purchSide(df: org.apache.spark.sql.DataFrame) = df
      .filter($"event_type" === "purchase")
      .select($"user_id", $"event_id".as("purchase_id"),
        $"ts".as("purchase_ts"))
    val plan = graft.streaming.StreamingOps.intervalJoinOuterPlan(
      clickSide(raw(cStream)).withWatermark("click_ts", "2 hours"),
      purchSide(raw(pStream)).withWatermark("purchase_ts", "2 hours"))
    val q = plan.writeStream.outputMode("append")
      .format("memory").queryName("t_interval_join_outer").start()
    def ts(s: String) = Timestamp.valueOf(s)
    val fixture = Seq(
      (1L, ts("2024-01-01 01:30:00"), 1L, "click", 1.0),
      (100L, ts("2024-01-01 02:00:00"), 1L, "purchase", 1.0),
      (200L, ts("2024-01-01 02:00:00"), 2L, "purchase", 1.0))
    // far-future pair on DIFFERENT users so they cannot match each other
    // (global watermark = min over sources, so BOTH sides must advance)
    val flush = Seq(
      (2L, ts("2024-01-01 12:00:00"), 77L, "click", 1.0),
      (999L, ts("2024-01-01 12:00:00"), 88L, "purchase", 1.0))
    try {
      cStream.addData(fixture); pStream.addData(fixture)
      q.processAllAvailable()
      def rows() = spark.table("t_interval_join_outer")
        .filter($"purchase_id" =!= 999L)
        .collect().map(_.toSeq).toSet
      val before = rows()
      // matched row emits immediately; the unmatched anchor must NOT
      // have emitted yet — watermark is 00:00, a click could still come
      assert(before ==
        Set(Seq(100L, 1L, ts("2024-01-01 02:00:00"), ts("2024-01-01 01:30:00"))),
        s"pre-watermark emissions wrong: $before")
      cStream.addData(flush); pStream.addData(flush)
      q.processAllAvailable()
      val after = rows()
      // watermark now 10:00 > 02:00 → purchase 200's state evicts and
      // the null row appears; the full set equals the batch twin's
      val want = graft.streaming.StreamingOps.intervalJoinOuterPlan(
        clickSide(fixture.toDF("event_id", "ts", "user_id", "event_type", "value")),
        purchSide(fixture.toDF("event_id", "ts", "user_id", "event_type", "value")))
        .collect().map(_.toSeq).toSet
      assert(after == want, s"post-watermark emissions wrong: $after vs $want")
      assert(after.contains(Seq(200L, 2L, ts("2024-01-01 02:00:00"), null)),
        "unmatched anchor's null row missing after watermark passage")
    } finally q.stop()
  }

  test("FULL OUTER interval join: each side's null row waits for ITS deadline") {
    implicit val sqlCtx = spark.sqlContext
    // round-18 item #1: the full-outer entry previously inherited the
    // left-outer spec's eviction evidence; both-side null emission is a
    // SUPERSET semantics with two different deadlines, pinned here
    // directly on a planted fixture through the SAME
    // intervalJoinFullPlan the oracle-checked batch twin uses:
    //  - user 1: click 01:30 + purchase 02:00 → match emits immediately
    //  - user 2: purchase 200 at 02:00, no click → null-click row may
    //    emit once watermark > 02:00 (no in-range click can arrive)
    //  - user 3: click 300 at 02:00, no purchase → null-purchase row may
    //    emit only once watermark > 03:00 (= click_ts + 1h, the last
    //    purchase that could still claim it)
    // The mid step parks the watermark at 02:30 — BETWEEN the two
    // deadlines — so exactly one null row (the purchase's) must have
    // emitted and the click's must not: the asymmetry itself is the
    // assertion, not just the final set.
    val cStream = MemoryStream[(Long, Timestamp, Long, String, Double)]
    val pStream = MemoryStream[(Long, Timestamp, Long, String, Double)]
    def raw(st: MemoryStream[(Long, Timestamp, Long, String, Double)]) =
      st.toDF().toDF("event_id", "ts", "user_id", "event_type", "value")
    def clickSide(df: org.apache.spark.sql.DataFrame) = df
      .filter($"event_type" === "click")
      .select($"user_id".as("c_user"), $"event_id".as("click_id"),
        $"ts".as("click_ts"))
    def purchSide(df: org.apache.spark.sql.DataFrame) = df
      .filter($"event_type" === "purchase")
      .select($"user_id", $"event_id".as("purchase_id"),
        $"ts".as("purchase_ts"))
    val plan = graft.streaming.StreamingOps.intervalJoinFullPlan(
      clickSide(raw(cStream)).withWatermark("click_ts", "2 hours"),
      purchSide(raw(pStream)).withWatermark("purchase_ts", "2 hours"))
    val q = plan.writeStream.outputMode("append")
      .format("memory").queryName("t_interval_join_full").start()
    def ts(s: String) = Timestamp.valueOf(s)
    val fixture = Seq(
      (1L, ts("2024-01-01 01:30:00"), 1L, "click", 1.0),
      (100L, ts("2024-01-01 02:00:00"), 1L, "purchase", 1.0),
      (200L, ts("2024-01-01 02:00:00"), 2L, "purchase", 1.0),
      (300L, ts("2024-01-01 02:00:00"), 3L, "click", 1.0))
    // watermark steppers on users the fixture never references (and on
    // DIFFERENT users per side, so they cannot match each other);
    // global watermark = min over sources, so BOTH sides must advance
    val mid = Seq( // max ts 04:30 - 2h delay → watermark 02:30
      (2L, ts("2024-01-01 04:30:00"), 77L, "click", 1.0),
      (998L, ts("2024-01-01 04:30:00"), 88L, "purchase", 1.0))
    val flush = Seq( // watermark 10:00 > every fixture deadline
      (3L, ts("2024-01-01 12:00:00"), 77L, "click", 1.0),
      (999L, ts("2024-01-01 12:00:00"), 88L, "purchase", 1.0))
    val fixtureUsers = Set(1L, 2L, 3L)
    try {
      def rows() = spark.table("t_interval_join_full")
        .filter(coalesce($"user_id", $"c_user").isin(fixtureUsers.toSeq: _*))
        .collect().map(_.toSeq).toSet
      cStream.addData(fixture); pStream.addData(fixture)
      q.processAllAvailable()
      // watermark 00:00: only the matched row may exist
      val matched = Seq(100L, 1L, ts("2024-01-01 02:00:00"),
        1L, 1L, ts("2024-01-01 01:30:00"))
      assert(rows() == Set(matched), s"pre-watermark emissions wrong: ${rows()}")
      cStream.addData(mid); pStream.addData(mid)
      q.processAllAvailable()
      // watermark 02:30: purchase 200's deadline (02:00) has passed →
      // its null-click row is out; click 300's deadline (03:00) has NOT →
      // its null-purchase row must still be held in state
      val nullClick = Seq(200L, 2L, ts("2024-01-01 02:00:00"), null, null, null)
      assert(rows() == Set(matched, nullClick),
        s"mid-watermark asymmetry wrong: ${rows()}")
      cStream.addData(flush); pStream.addData(flush)
      q.processAllAvailable()
      // watermark 10:00: click 300's null-purchase row evicts; the full
      // fixture set now equals the batch twin's (same plan function)
      val want = graft.streaming.StreamingOps.intervalJoinFullPlan(
        clickSide(fixture.toDF("event_id", "ts", "user_id", "event_type", "value")),
        purchSide(fixture.toDF("event_id", "ts", "user_id", "event_type", "value")))
        .collect().map(_.toSeq).toSet
      assert(rows() == want, s"post-watermark emissions wrong: ${rows()} vs $want")
      assert(rows().contains(Seq(null, null, null, 300L, 3L, ts("2024-01-01 02:00:00"))),
        "unmatched click's null-purchase row missing after its deadline")
    } finally q.stop()
  }

  test("streaming MinHash-signature dedup drops planted duplicate docs") {
    implicit val sqlCtx = spark.sqlContext
    // near-dup dedup in flight: signature = the same codegen'd
    // MinHashSig used by the batch LSH pipeline, dropDuplicates on the
    // full 32-hash signature (identical shingle set → identical sig)
    val stream = MemoryStream[(Long, String)]
    def sigged(df: org.apache.spark.sql.DataFrame) = df
      .select($"doc_id", filter(split(lower($"text"), "\\s+"),
        t => length(t) > 0).as("tk"))
      .select($"doc_id",
        graft.functions.MinHashSig.min_hash_sig(
          graft.functions.ShingleHashes.poly_shingles($"tk")).as("sig"))
      .withColumn("sig_key", concat_ws("_", $"sig"))
    val deduped = sigged(stream.toDF().toDF("doc_id", "text"))
      .dropDuplicates("sig_key")
    val q = deduped.writeStream.outputMode("append")
      .format("memory").queryName("t_sig_dedup").start()
    try {
      val docs = spark.read.parquet(s"$sf/documents.parquet")
        .select($"doc_id", $"text").as[(Long, String)].collect()
      // plant: every 25th doc re-keyed — exact text dup, same signature
      val planted = docs.filter(_._1 % 25 == 0).map { case (id, t) => (id + 500000, t) }
      stream.addData((docs ++ planted).toSeq)
      q.processAllAvailable()
      val got = spark.table("t_sig_dedup").count()
      val want = sigged(spark.read.parquet(s"$sf/documents.parquet")
        .select($"doc_id", $"text")).select("sig_key").distinct().count()
      assert(got == want)
      assert(got < docs.length + planted.length) // the planted dups died
    } finally q.stop()
  }

  test("streaming LSH probe against the static corpus index matches the batch entry") {
    implicit val sqlCtx = spark.sqlContext
    import graft.ops.DedupOps.{NumBands, RowsPerBand}
    // the same signature→band pipeline as the batch entry, usable on
    // either a static frame (the persisted corpus index) or the stream
    def bands(df: org.apache.spark.sql.DataFrame) = {
      val bandKeys = (0 until NumBands).map { b =>
        concat_ws("_", (0 until RowsPerBand).map(r =>
          element_at($"mh", b * RowsPerBand + r + 1).cast("string")): _*)
      }
      df.select($"doc_id",
          filter(split(lower($"text"), "\\s+"), t => length(t) > 0).as("t"))
        .select($"doc_id", graft.functions.ShingleHashes.poly_shingles($"t").as("xs"))
        .filter(size($"xs") >= 1)
        .select($"doc_id", graft.functions.MinHashSig.min_hash_sig($"xs").as("mh"))
        .select($"doc_id", posexplode(array(bandKeys: _*)))
        .toDF("doc_id", "band", "key")
    }
    val docs = spark.read.parquet(s"$sf/documents.parquet")
      .select($"doc_id", $"text")
    val corpus = docs.filter($"doc_id" % 10 =!= 0)
    val index = bands(corpus).select($"doc_id".as("d_old"), $"band", $"key")
      .persist()
    index.count()
    val stream = MemoryStream[(Long, String)]
    // stream-static inner equi-join on the band key: stateless map-side
    // probe; dropDuplicates(doc_id) emits each flagged doc once across
    // micro-batches (in production this state is watermark-bounded)
    val flagged = bands(stream.toDF().toDF("doc_id", "text"))
      .join(index, Seq("band", "key"))
      .select($"doc_id")
      .dropDuplicates("doc_id")
    val q = flagged.writeStream.outputMode("append")
      .format("memory").queryName("t_lsh_probe").start()
    try {
      // the batch entry's incoming set: unseen docs + re-keyed corpus
      // copies (guaranteed band hits), split across two micro-batches
      val fresh = docs.filter($"doc_id" % 10 === 0)
        .as[(Long, String)].collect()
      val planted = corpus.filter($"doc_id" % 25 === 7)
        .select(($"doc_id" + 2000000).as("doc_id"), $"text")
        .as[(Long, String)].collect()
      val (f1, f2) = fresh.splitAt(fresh.length / 2)
      val (p1, p2) = planted.splitAt(planted.length / 2)
      stream.addData((f1 ++ p1).toSeq)
      q.processAllAvailable()
      stream.addData((f2 ++ p2).toSeq)
      q.processAllAvailable()
      val got = spark.table("t_lsh_probe").as[Long].collect().toSet
      val want = SparkEntry.queries("stream_lsh_incremental")(spark, sf)
        .filter($"status" === "flagged")
        .select($"doc_id").as[Long].collect().toSet
      assert(got == want)
      // every planted re-keyed copy was flagged, in whichever micro-batch
      assert(planted.map(_._1).toSet.subsetOf(got))
    } finally { q.stop(); index.unpersist() }
  }

  test("watermarked in-stream signature dedup collapses twins across micro-batches") {
    implicit val sqlCtx = spark.sqlContext
    // the new×new half of incremental dedup: identical in-flight docs
    // collapse on their MinHash signature key within the watermark
    // horizon — bounded state, unlike an unconditional dropDuplicates
    val stream = MemoryStream[(Long, Timestamp, String)]
    val sigged = stream.toDF().toDF("doc_id", "ts", "text")
      .select($"doc_id", $"ts",
        filter(split(lower($"text"), "\\s+"), t => length(t) > 0).as("tk"))
      .select($"doc_id", $"ts",
        concat_ws("_", graft.functions.MinHashSig.min_hash_sig(
          graft.functions.ShingleHashes.poly_shingles($"tk"))).as("sig_key"))
      .withWatermark("ts", "1 hour")
      .dropDuplicatesWithinWatermark("sig_key")
    val q = sigged.writeStream.outputMode("append")
      .format("memory").queryName("t_sig_wm_dedup").start()
    try {
      val docs = spark.read.parquet(s"$sf/documents.parquet")
        .select($"doc_id", $"text").as[(Long, String)].collect()
        .filter(_._1 % 5 == 0)
      val t0 = Timestamp.valueOf("2025-06-01 12:00:00")
      val t1 = Timestamp.valueOf("2025-06-01 12:10:00") // within horizon
      val originals = docs.map { case (id, tx) => (id, t0, tx) }
      val twins = docs.filter(_._1 % 10 == 0)
        .map { case (id, tx) => (id + 900000, t1, tx) }
      stream.addData(originals.toSeq)
      q.processAllAvailable()
      stream.addData(twins.toSeq) // later micro-batch, same signatures
      q.processAllAvailable()
      val got = spark.table("t_sig_wm_dedup")
        .select($"doc_id").as[Long].collect().toSet
      // one survivor per distinct signature (the corpus plants duplicate
      // texts, so originals may collapse among themselves too), every
      // survivor is an original, and no twin survived — its signature
      // was in state from the earlier micro-batch
      val distinctSigs = docs.toSeq.toDF("doc_id", "text")
        .select(concat_ws("_", graft.functions.MinHashSig.min_hash_sig(
          graft.functions.ShingleHashes.poly_shingles(
            filter(split(lower($"text"), "\\s+"), t => length(t) > 0))))
          .as("sig_key"))
        .distinct().count()
      assert(got.size.toLong == distinctSigs)
      assert(got.subsetOf(docs.map(_._1).toSet))
      assert(twins.map(_._1).toSet.intersect(got).isEmpty,
        "a twin survived the watermarked signature dedup")
    } finally q.stop()
  }

  test("stream-static broadcast join enriches the stream like the batch join") {
    implicit val sqlCtx = spark.sqlContext
    val stream = MemoryStream[(Long, Timestamp, Long, String, Double)]
    val dim = Seq(("click", "engagement"), ("view", "engagement"),
      ("purchase", "conversion"), ("signup", "conversion"))
      .toDF("event_type", "category")
    val enriched = stream.toDF()
      .toDF("event_id", "ts", "user_id", "event_type", "value")
      .join(broadcast(dim), Seq("event_type"), "left")
      .select($"event_id", coalesce($"category", lit("other")).as("category"))
    val q = enriched.writeStream.outputMode("append")
      .format("memory").queryName("t_stream_static").start()
    try {
      stream.addData(batchEvents.toSeq)
      q.processAllAvailable()
      val got = spark.table("t_stream_static")
        .groupBy("category").count()
        .collect().map(r => (r.getString(0), r.getLong(1))).toMap
      val want = graft.ops.Tables.events(spark, sf)
        .join(broadcast(dim), Seq("event_type"), "left")
        .select(coalesce($"category", lit("other")).as("category"))
        .groupBy("category").count()
        .collect().map(r => (r.getString(0), r.getLong(1))).toMap
      assert(got == want && got.values.sum == batchEvents.length)
    } finally q.stop()
  }

  test("streaming dropDuplicates by key equals batch distinct count") {
    implicit val sqlCtx = spark.sqlContext
    val stream = MemoryStream[(Long, Timestamp, Long, String, Double)]
    val dedup = stream.toDF()
      .toDF("event_id", "ts", "user_id", "event_type", "value")
      .withWatermark("ts", "2 days")
      .dropDuplicates("user_id")
    val q = dedup.writeStream.outputMode("append")
      .format("memory").queryName("t_dedup").start()
    try {
      stream.addData(batchEvents.toSeq)
      q.processAllAvailable()
      val got = spark.table("t_dedup").count()
      val want = graft.ops.Tables.events(spark, sf)
        .select("user_id").distinct().count()
      assert(got == want)
    } finally q.stop()
  }

  test("watermark drops late data in append mode, keeps in-horizon rows") {
    implicit val sqlCtx = spark.sqlContext
    def ts(day: Int, hour: Int = 0): Timestamp =
      Timestamp.valueOf(f"2024-02-$day%02d $hour%02d:00:00")
    val stream = MemoryStream[(Long, Timestamp, Long, String, Double)]
    val agg = stream.toDF()
      .toDF("event_id", "ts", "user_id", "event_type", "value")
      .withWatermark("ts", "1 day")
      .groupBy(window($"ts", "1 day").as("w"))
      .agg(count("*").as("n"))
      .select($"w.start".cast("date").as("day"), $"n")
    val q = agg.writeStream.outputMode("append")
      .format("memory").queryName("t_late").start()
    try {
      // batch 1: day 1 + day 3 — watermark advances to day-3 minus 1 day
      stream.addData(Seq(
        (1L, ts(1), 1L, "view", 1.0), (2L, ts(1, 6), 1L, "view", 1.0),
        (3L, ts(3, 12), 1L, "view", 1.0)))
      q.processAllAvailable()
      // batch 2: one IN-HORIZON late row (day 2 ≥ watermark day 2 12:00?
      // no — day 2 18:00 ≥ 2024-02-02 12:00 watermark → kept) and one
      // HOPELESSLY late row (day 1 again → silently dropped), plus day 5
      // to push the watermark past days 2-3 and close their windows
      stream.addData(Seq(
        (4L, ts(2, 18), 1L, "view", 1.0), // late but within the horizon
        (5L, ts(1, 1), 1L, "view", 1.0),  // beyond the horizon: dropped
        (6L, ts(5), 1L, "view", 1.0)))
      q.processAllAvailable()
      // batch 3: advance far enough to emit every closed window
      stream.addData(Seq((7L, ts(9), 1L, "view", 1.0)))
      q.processAllAvailable()
      val got = spark.table("t_late")
        .collect().map(r => r.get(0).toString -> r.getLong(1)).toMap
      // day 1 counts ONLY the two on-time rows (the horizon-late third
      // never lands); day 2's in-horizon late row forms its own window
      assert(got("2024-02-01") == 2L, s"day1: $got")
      assert(got("2024-02-02") == 1L, s"day2: $got")
      assert(got("2024-02-03") == 1L, s"day3: $got")
    } finally q.stop()
  }

  test("out-of-order micro-batches session-merge onto the batch result") {
    implicit val sqlCtx = spark.sqlContext
    // Sessions must GROW AND MERGE as late in-watermark events bridge
    // gaps: feed a user subset in hash-shuffled (non-chronological) order
    // across three micro-batches and assert the finalized sessions land
    // exactly on the batch session_window result for the same rows.
    val subset = batchEvents.filter(_._3 % 50 == 0)
    assert(subset.nonEmpty)
    val shuffled = subset.sortBy(r => (r._1 * 1103515245L + 12345L) & 0x7fffffffL)
    // by construction the feed is out of order: some batch-2 row precedes
    // some batch-1 row in event time
    val thirds = shuffled.grouped((shuffled.length + 2) / 3).toSeq
    assert(thirds(1).map(_._2.getTime).min < thirds(0).map(_._2.getTime).max,
      "feed accidentally chronological — shuffle is broken")
    val stream = MemoryStream[(Long, Timestamp, Long, String, Double)]
    val agg = stream.toDF()
      .toDF("event_id", "ts", "user_id", "event_type", "value")
      .withWatermark("ts", "40 days")
      .groupBy(session_window($"ts", "30 minutes").as("sw"), $"user_id")
      .agg(count(lit(1)).as("n_events"))
      .select($"user_id", $"sw.start".as("session_start"),
        $"sw.end".as("session_end"), $"n_events")
    val q = agg.writeStream.outputMode("append")
      .format("memory").queryName("t_sess_merge").start()
    try {
      thirds.foreach { b => stream.addData(b.toSeq); q.processAllAvailable() }
      // far-future sentinel closes every real session past the 40-day
      // watermark; its own session never finalizes and user -1 is dropped
      val closeTs = new Timestamp(
        subset.map(_._2.getTime).max + 86400000L * 45)
      stream.addData(Seq((-1L, closeTs, -1L, "view", 0.0)))
      q.processAllAvailable()
      val got = spark.table("t_sess_merge").filter($"user_id" >= 0)
        .orderBy("user_id", "session_start").collect().map(_.toSeq).toSeq
      val want = subset.toSeq
        .toDF("event_id", "ts", "user_id", "event_type", "value")
        .groupBy(session_window($"ts", "30 minutes").as("sw"), $"user_id")
        .agg(count(lit(1)).as("n_events"))
        .select($"user_id", $"sw.start".as("session_start"),
          $"sw.end".as("session_end"), $"n_events")
        .orderBy("user_id", "session_start").collect().map(_.toSeq).toSeq
      assert(got == want)
      // non-vacuous: at least one session merged more than one event
      assert(want.exists(_.last.asInstanceOf[Long] > 1L))
    } finally q.stop()
  }

  test("dropDuplicatesWithinWatermark re-emits past the horizon (divergence boundary)") {
    implicit val sqlCtx = spark.sqlContext
    // The reference dedups against an UNBOUNDED insert-time index (SURVEY
    // §2.9's documented divergence); the engine's streaming answer bounds
    // state by the watermark. This pins the boundary: a duplicate within
    // the horizon is dropped, the SAME key re-arriving after its state
    // expired is re-emitted — matching the stream_dedup_within_watermark
    // chain twin and diverging from keep-first-forever.
    def t(h: Int, m: Int = 0): Timestamp =
      Timestamp.valueOf(f"2024-03-01 $h%02d:$m%02d:00")
    val stream = MemoryStream[(Long, Timestamp, Long, String, Double)]
    val dedup = stream.toDF()
      .toDF("event_id", "ts", "user_id", "event_type", "value")
      .withWatermark("ts", "1 hour")
      .dropDuplicatesWithinWatermark("user_id", "event_type")
    val q = dedup.writeStream.outputMode("append")
      .format("memory").queryName("t_wm_dedup_boundary").start()
    try {
      // A1 survives; A2 is a within-horizon duplicate (state expires at
      // 13:00 = A1.ts + 1h)
      stream.addData(Seq(
        (1L, t(12), 1L, "view", 1.0), (2L, t(12, 10), 1L, "view", 1.0)))
      q.processAllAvailable()
      // another key advances the watermark to 15:00 > 13:00 → A's state
      // is evicted
      stream.addData(Seq((3L, t(16), 99L, "click", 1.0)))
      q.processAllAvailable()
      // A3: same key, 4h after A1 — beyond the horizon, re-emitted
      stream.addData(Seq((4L, t(16), 1L, "view", 1.0)))
      q.processAllAvailable()
      val gotA = spark.table("t_wm_dedup_boundary").filter($"user_id" === 1)
        .select($"event_id").as[Long].collect().toSet
      assert(gotA == Set(1L, 4L), s"got $gotA")
      // the greedy chain twin predicts exactly these survivors (1h
      // horizon): keep iff ts > prev_survivor + 1h
      val rows = Seq((1L, t(12)), (2L, t(12, 10)), (4L, t(16)))
      var anchor = Long.MinValue
      val chain = rows.filter { case (_, ts) =>
        val keep = anchor == Long.MinValue || ts.getTime > anchor + 3600000L
        if (keep) anchor = ts.getTime
        keep
      }.map(_._1).toSet
      assert(chain == gotA)
      // reference-unbounded semantics keeps only the first — divergence
      val unbounded = rows.map(_._1).take(1).toSet
      assert(unbounded != gotA)
      // and the boundary fires on the real corpus too: the 6h chain twin
      // keeps strictly more rows than keep-first-forever
      val twin = SparkEntry.queries("stream_dedup_within_watermark")(spark, sf)
      val nSurv = twin.agg(sum($"n_survivors")).as[Long].head()
      val nKeys = twin.count()
      assert(nSurv > nKeys, s"chain $nSurv vs keys $nKeys — horizon never fired")
    } finally q.stop()
  }

  test("transformWithState timers: abandoned clicks emit at deadline and match the anti-join twin") {
    // the Spark 4 arbitrary-stateful-processing v2 showcase
    // (AbandonedClicks): per-click EVENT-TIME TIMERS decide "no purchase
    // within the hour" exactly when the watermark passes click_ts + 1h.
    // Requires the RocksDB state store; restore the provider after.
    implicit val sqlCtx = spark.sqlContext
    val provKey = "spark.sql.streaming.stateStore.providerClass"
    val prevProv = spark.conf.getOption(provKey)
    spark.conf.set(provKey,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    val stream = MemoryStream[(Long, Timestamp, Long, String, Double)]
    val typed = stream.toDF()
      .toDF("event_id", "ts", "user_id", "event_type", "value")
      .withWatermark("ts", "1 hour")
      .select($"event_id", $"user_id", $"event_type", $"ts")
      .as[(Long, Long, String, Timestamp)]
    val q = graft.streaming.AbandonedClicks.plan(typed)
      .toDF("user_id", "click_id", "click_ts_ms")
      .writeStream.outputMode("append")
      .format("memory").queryName("t_abandoned").start()
    try {
      val ordered = batchEvents.sortBy(e => (e._2.getTime, e._1))
      val (b1, b2) = ordered.splitAt(ordered.length / 2)
      stream.addData(b1.toSeq); q.processAllAvailable()
      // mid-stream check: nothing whose deadline the watermark has NOT
      // passed may have emitted (the timer contract)
      val wm1 = b1.map(_._2.getTime).max - 3600000L
      val early = spark.table("t_abandoned")
        .select($"click_ts_ms").as[Long].collect()
      assert(early.forall(_ + 3600000L <= wm1),
        "a click emitted before the watermark passed its deadline")
      stream.addData(b2.toSeq); q.processAllAvailable()
      // far-future purchase sentinel (user -1) flushes every timer
      val sentinel = (-1L,
        new Timestamp(ordered.map(_._2.getTime).max + 30L * 86400000L),
        -1L, "purchase", 0.0)
      stream.addData(Seq(sentinel)); q.processAllAvailable()
      val got = spark.table("t_abandoned")
        .select($"user_id", $"click_id", $"click_ts_ms")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      val want = SparkEntry.queries("stream_abandoned_clicks")(spark, sf)
        .select($"user_id", $"click_id", unix_millis($"click_ts"))
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      assert(got == want, s"timer op diverged from the anti-join twin")
      assert(got.nonEmpty, "no abandoned clicks — vacuous corpus")
      // non-vacuous the other way too: some clicks WERE covered
      val allClicks = batchEvents.count(_._4 == "click")
      assert(got.size < allClicks, "every click abandoned — no coverage case")
    } finally {
      q.stop()
      prevProv match {
        case Some(v) => spark.conf.set(provKey, v)
        case None    => spark.conf.unset(provKey)
      }
    }
  }

  test("idempotent batchId-keyed sink: a replayed batch leaves the sink bit-identical") {
    // the exactly-once-over-at-least-once pattern (VERDICT r16 item #6):
    // foreachBatch legally re-runs the last uncommitted batch with the
    // SAME batchId after a failure; a sink that overwrites its own
    // batch_id partition makes that replay a no-op. Drive the REAL
    // foreachBatch writer, then simulate the failure-rerun by invoking
    // the same sink function again with the last (df, batchId) — the
    // sink's contents must not change by a single row.
    implicit val sqlCtx = spark.sqlContext
    withTempDir("graft_eo_sink") { out =>
      withTempDir("graft_eo_ckpt") { ckpt =>
        val stream = MemoryStream[(Long, Timestamp, Long, String, Double)]
        val q = stream.toDF()
          .toDF("event_id", "ts", "user_id", "event_type", "value")
          .writeStream.option("checkpointLocation", ckpt)
          .foreachBatch(graft.streaming.StreamingOps.idempotentBatchSink(out) _)
          .start()
        val (b1, b2) = batchEvents.splitAt(batchEvents.length / 2)
        try {
          stream.addData(b1.toSeq); q.processAllAvailable()
          stream.addData(b2.toSeq); q.processAllAvailable()
        } finally q.stop()
        def snapshot() = spark.read.parquet(out)
          .collect().map(_.toSeq).toSeq.sortBy(_.mkString("|"))
        val before = snapshot()
        // b1 → batch 0, b2 → batch 1 (one batch per addData +
        // processAllAvailable); the failure-rerun delivers batch 1 AGAIN
        val replayDf = b2.toSeq
          .toDF("event_id", "ts", "user_id", "event_type", "value")
        graft.streaming.StreamingOps.idempotentBatchSink(out)(replayDf, 1L)
        assert(snapshot() == before, "replayed batch changed the sink")
        // and the sink holds exactly the fed rows — no duplication, no loss
        assert(before.length == batchEvents.length)
        val gotIds = before.map(_.head).toSet
        assert(gotIds == batchEvents.map(_._1: Any).toSet)
      }
    }
  }

  test("agg state survives a checkpointed restart (exactly-once recovery)") {
    implicit val sqlCtx = spark.sqlContext
    withTempDir("graft_ckpt") { ckpt =>
      val stream = MemoryStream[(Long, Timestamp, Long, String, Double)]
      // (batchId, event_type, running n) rows appended by foreachBatch —
      // runs on the driver, so a plain buffer is safe
      val buf = scala.collection.mutable.ArrayBuffer.empty[(Long, String, Long)]
      def startQuery() = stream.toDF()
        .toDF("event_id", "ts", "user_id", "event_type", "value")
        .groupBy($"event_type").agg(count(lit(1)).as("n"))
        .writeStream.outputMode("update")
        .option("checkpointLocation", ckpt)
        .foreachBatch { (df: org.apache.spark.sql.DataFrame, bid: Long) =>
          df.collect().foreach { r =>
            buf += ((bid, r.getString(0), r.getLong(1)))
          }
          ()
        }.start()
      val (b1, b2) = batchEvents.splitAt(batchEvents.length / 2)
      val q1 = startQuery()
      try { stream.addData(b1.toSeq); q1.processAllAvailable() }
      finally q1.stop()
      val committed = buf.map(_._1).toSet
      assert(committed.nonEmpty)
      stream.addData(b2.toSeq) // arrives while no query is running
      val q2 = startQuery()
      try { q2.processAllAvailable() } finally q2.stop()
      // recovery, not wholesale replay: new batch ids strictly extend the
      // committed ones. (foreachBatch is at-least-once — the LAST pre-stop
      // batch may legally re-run after restart, but it re-runs under an id
      // ≥ max(committed), so the set difference stays strictly above every
      // committed id; the final got==want check below is id-agnostic.)
      val fresh = buf.map(_._1).toSet -- committed
      assert(fresh.nonEmpty && committed.forall(c => fresh.forall(c < _)))
      // recovered state + b2 lands on the full-corpus aggregation: the
      // latest update per type equals the batch groupBy
      val got = buf.groupBy(_._2).map { case (t, rs) => t -> rs.maxBy(_._1)._3 }
      val want = batchEvents.groupBy(_._4)
        .map { case (t, rs) => t -> rs.length.toLong }
      assert(got == want, s"recovered $got vs batch $want")
    }
  }

  test("watermark-dedup survivor state survives a checkpointed restart") {
    // The round-11 divergence-boundary test proves the horizon semantics
    // in one query lifetime; this proves the SURVIVOR STATE itself is
    // durable: a within-horizon duplicate that arrives while the query
    // is DOWN can only be dropped if the restarted query recovered the
    // survivor's timestamp from the checkpoint — a fresh state store
    // would wrongly re-emit it.
    implicit val sqlCtx = spark.sqlContext
    withTempDir("graft_ckpt_wmdd") { ckpt =>
      def t(h: Int, m: Int = 0): Timestamp =
        Timestamp.valueOf(f"2024-03-01 $h%02d:$m%02d:00")
      val stream = MemoryStream[(Long, Timestamp, Long, String, Double)]
      val buf = scala.collection.mutable.ArrayBuffer.empty[(Long, Long)]
      def startQuery() = stream.toDF()
        .toDF("event_id", "ts", "user_id", "event_type", "value")
        .withWatermark("ts", "1 hour")
        .dropDuplicatesWithinWatermark("user_id", "event_type")
        .writeStream.outputMode("append")
        .option("checkpointLocation", ckpt)
        .foreachBatch { (df: org.apache.spark.sql.DataFrame, bid: Long) =>
          df.select("event_id").collect().foreach(r => buf += ((bid, r.getLong(0))))
          ()
        }.start()
      val q1 = startQuery()
      try {
        // A1 survives; A2 is a within-horizon duplicate (expiry 13:00)
        stream.addData(Seq(
          (1L, t(12), 1L, "view", 1.0), (2L, t(12, 10), 1L, "view", 1.0)))
        q1.processAllAvailable()
      } finally q1.stop()
      val preBids = buf.map(_._1).toSet
      assert(buf.map(_._2).toSet == Set(1L))
      // arrives while the query is down — still inside A1's horizon
      stream.addData(Seq((3L, t(12, 30), 1L, "view", 1.0)))
      val q2 = startQuery()
      try {
        q2.processAllAvailable()
        // advance the watermark past 13:00 → A's recovered state expires
        stream.addData(Seq((90L, t(16), 2L, "click", 1.0)))
        q2.processAllAvailable()
        // beyond the horizon: re-emitted as a fresh survivor
        stream.addData(Seq((4L, t(16, 30), 1L, "view", 1.0)))
        q2.processAllAvailable()
      } finally q2.stop()
      // Set-level survivor check — robust to foreachBatch's AT-least-once
      // contract (a replayed batch re-emits the same ids, never new ones).
      val keyA = buf.map(_._2).toSet.intersect(Set(1L, 2L, 3L, 4L))
      assert(keyA == Set(1L, 4L), s"key-A survivors across restart: $keyA")
      // foreachBatch is at-least-once, not exactly-once: if stop() raced
      // the last commit-log write, the restarted query legally re-runs
      // that batch under its ORIGINAL id from the offset log — those
      // re-emissions land in preBids and are tolerated by construction.
      // Batches under NEW ids must never re-emit A1: their offset ranges
      // are disjoint from the committed prefix (processAllAvailable
      // drained all pre-stop input), so a re-appearance means survivor
      // state was rebuilt rather than recovered — including the wholesale
      // re-read-committed-offsets-under-a-fresh-id regression.
      val fresh = buf.filterNot(r => preBids.contains(r._1))
      assert(!fresh.exists(_._2 == 1L), "A1 re-emitted under a new batch id")
      assert(preBids.forall(c => fresh.forall(c < _._1)))
      // the batch greedy-chain twin predicts exactly these survivors
      val rows = Seq((1L, t(12)), (3L, t(12, 30)), (4L, t(16, 30)))
      var anchor = Long.MinValue
      val chain = rows.filter { case (_, ts) =>
        val keep = anchor == Long.MinValue || ts.getTime > anchor + 3600000L
        if (keep) anchor = ts.getTime
        keep
      }.map(_._1).toSet
      assert(chain == keyA)
    }
  }

  test("session-window state survives a checkpointed restart (split session merges)") {
    // Kill-restart sibling for stream_session_bounds: an event landing
    // inside an open session's gap while the query is down must MERGE
    // into that session after restart — two sessions (or a lost prefix)
    // means the session state store did not recover.
    implicit val sqlCtx = spark.sqlContext
    withTempDir("graft_ckpt_sess") { ckpt =>
      def t(h: Int, m: Int = 0): Timestamp =
        Timestamp.valueOf(f"2024-03-01 $h%02d:$m%02d:00")
      val stream = MemoryStream[(Long, Timestamp, Long, String, Double)]
      val buf = scala.collection.mutable.ArrayBuffer
        .empty[(Long, Timestamp, Timestamp, Long)]
      def startQuery() = stream.toDF()
        .toDF("event_id", "ts", "user_id", "event_type", "value")
        .withWatermark("ts", "1 hour")
        .groupBy(session_window($"ts", "30 minutes").as("sw"), $"user_id")
        .agg(count(lit(1)).as("n_events"))
        .select($"user_id", $"sw.start".as("s"), $"sw.end".as("e"), $"n_events")
        .writeStream.outputMode("append")
        .option("checkpointLocation", ckpt)
        .foreachBatch { (df: org.apache.spark.sql.DataFrame, _: Long) =>
          df.collect().foreach { r =>
            buf += ((r.getLong(0), r.getTimestamp(1), r.getTimestamp(2),
              r.getLong(3)))
          }
          ()
        }.start()
      val q1 = startQuery()
      try {
        stream.addData(Seq(
          (1L, t(12), 1L, "view", 1.0), (2L, t(12, 10), 1L, "view", 1.0)))
        q1.processAllAvailable()
      } finally q1.stop()
      // lands inside the open session's 30-min gap while the query is down
      stream.addData(Seq((3L, t(12, 20), 1L, "view", 1.0)))
      val q2 = startQuery()
      try {
        q2.processAllAvailable()
        // close the session: watermark 16:00 − 1h = 15:00 > 12:50
        stream.addData(Seq((9L, t(16), 2L, "click", 1.0)))
        q2.processAllAvailable()
      } finally q2.stop()
      val sessA = buf.filter(_._1 == 1L)
      assert(sessA.length == 1, s"user-1 sessions after restart: $sessA")
      val (_, s0, e0, n0) = sessA.head
      assert(s0 == t(12) && e0 == t(12, 50) && n0 == 3L,
        s"merged session wrong: start $s0 end $e0 n $n0")
    }
  }

  test("foreachBatch incremental DiD state equals the batch estimator") {
    // a_did_estimator in the streaming posture (round-15 VERDICT #5):
    // the four (arm, period) cells are exact micro-long sufficient
    // statistics that merge ADDITIVELY, so a foreachBatch sink keeps
    // them as incrementally-merged state (here a driver map standing in
    // for the upserted state table a deployment would use) and the
    // shared didReadout recomputes the full readout after every batch.
    // The experiment start date is configuration in a real deployment;
    // here it is derived from the fixture, matching the batch query's
    // min-day scan.
    implicit val sqlCtx = spark.sqlContext
    val d0 = batchEvents.map(_._2.toLocalDateTime.toLocalDate).min
    val split = java.sql.Date.valueOf(d0.plusDays(15))
    val stream = MemoryStream[(Long, Timestamp, Long, String, Double)]
    val state = scala.collection.mutable.Map
      .empty[(Long, String), (Long, Long)]
    val q = stream.toDF()
      .toDF("event_id", "ts", "user_id", "event_type", "value")
      .writeStream.outputMode("append")
      .foreachBatch { (df: org.apache.spark.sql.DataFrame, _: Long) =>
        df.select(pmod($"user_id", lit(2L)).as("arm"),
            when(to_date($"ts") < lit(split), lit("pre"))
              .otherwise(lit("post")).as("period"),
            round($"value" * 1e6, 0).cast("long").as("vm"))
          .groupBy($"arm", $"period")
          .agg(count(lit(1)).as("n"), sum($"vm").as("sv"))
          .collect().foreach { r =>
            val k = (r.getLong(0), r.getString(1))
            val (n0, s0) = state.getOrElse(k, (0L, 0L))
            state(k) = (n0 + r.getLong(2), s0 + r.getLong(3))
          }
        ()
      }
      .start()
    try {
      // three uneven micro-batches so pre/post and arm groups all cross
      // batch boundaries
      val (b1, rest) = batchEvents.splitAt(batchEvents.length / 3)
      val (b2, b3) = rest.splitAt(rest.length / 2)
      Seq(b1, b2, b3).foreach { b =>
        stream.addData(b.toSeq); q.processAllAvailable()
      }
      val cells = state.toSeq
        .map { case ((a, p), (n, sv)) => (a, p, n, sv) }
        .toDF("arm", "period", "n_events", "sv")
      val got = graft.ops.Aggregates.didReadout(spark, cells)
        .collect().map(_.toSeq).toSeq
      val want = SparkEntry.queries("a_did_estimator")(spark, sf)
        .collect().map(_.toSeq).toSeq
      assert(got == want, "incremental DiD diverged from the batch readout")
    } finally q.stop()
  }

  test("foreachBatch user-keyed CUPED state equals the batch readout") {
    // a_cuped_adjusted in the streaming posture: per-user milli-long
    // (x, y) totals merge additively, so the foreachBatch sink keeps a
    // user-keyed state table; the quadratic moments (theta, rho^2) are
    // NOT additive in the deltas, so the shared cupedReadout computes
    // them from the final state — exactly the split the factoring
    // encodes. Equivalence is asserted on the full readout after three
    // micro-batches that split users and periods across batches.
    implicit val sqlCtx = spark.sqlContext
    val d0 = batchEvents.map(_._2.toLocalDateTime.toLocalDate).min
    val split = java.sql.Date.valueOf(d0.plusDays(15))
    val stream = MemoryStream[(Long, Timestamp, Long, String, Double)]
    val state = scala.collection.mutable.Map.empty[Long, (Long, Long)]
    val q = stream.toDF()
      .toDF("event_id", "ts", "user_id", "event_type", "value")
      .writeStream.outputMode("append")
      .foreachBatch { (df: org.apache.spark.sql.DataFrame, _: Long) =>
        df.select($"user_id",
            when(to_date($"ts") < lit(split),
              round($"value" * 1e3, 0).cast("long")).otherwise(0L).as("dx"),
            when(to_date($"ts") >= lit(split),
              round($"value" * 1e3, 0).cast("long")).otherwise(0L).as("dy"))
          .groupBy($"user_id")
          .agg(sum($"dx").as("dx"), sum($"dy").as("dy"))
          .collect().foreach { r =>
            val u = r.getLong(0)
            val (x0, y0) = state.getOrElse(u, (0L, 0L))
            state(u) = (x0 + r.getLong(1), y0 + r.getLong(2))
          }
        ()
      }
      .start()
    try {
      val (b1, rest) = batchEvents.splitAt(batchEvents.length / 3)
      val (b2, b3) = rest.splitAt(rest.length / 2)
      Seq(b1, b2, b3).foreach { b =>
        stream.addData(b.toSeq); q.processAllAvailable()
      }
      val usr = state.toSeq
        .map { case (u, (x, y)) => (u, x, y, ((u % 2) + 2) % 2) }
        .toDF("user_id", "x", "y", "arm")
      val got = graft.ops.Aggregates.cupedReadout(spark, usr)
        .collect().map(_.toSeq).toSeq
      val want = SparkEntry.queries("a_cuped_adjusted")(spark, sf)
        .collect().map(_.toSeq).toSeq
      assert(got == want, "incremental CUPED diverged from the batch readout")
    } finally q.stop()
  }

  test("streaming SPRT monitor replays the batch decision path per day") {
    // The a_sprt_monitor experimentation op as an ALWAYS-ON stream: one
    // mapGroupsWithState monitor (single key) accumulates (cum_n,
    // cum_purchases) and emits the closed-form LLR + decision per
    // micro-batch. Fed day-aligned batches, every emitted snapshot must
    // equal the batch query's row for that day — the sequential test's
    // whole point is that the decision path, not just the endpoint, is
    // well-defined under incremental arrival.
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    implicit val sqlCtx = spark.sqlContext
    val (c1, c2) = (math.log(0.25 / 0.2), math.log(0.75 / 0.8))
    val (aT, bT) = (math.log(0.95 / 0.05), math.log(0.05 / 0.95))
    def r6(x: Double) =
      BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    val stream = MemoryStream[(Long, Timestamp, Long, String, Double)]
    val monitored = stream.toDS()
      .filter(e => e._3 % 2 == 1) // treatment arm, as in the batch op
      .groupByKey(_ => 0)
      .mapGroupsWithState(GroupStateTimeout.NoTimeout) {
        (_: Int, rows: Iterator[(Long, Timestamp, Long, String, Double)],
         state: GroupState[(Long, Long)]) =>
          val (n0, p0) = state.getOption.getOrElse((0L, 0L))
          var (dn, dp) = (0L, 0L)
          rows.foreach { e => dn += 1; if (e._4 == "purchase") dp += 1 }
          val (n, p) = (n0 + dn, p0 + dp)
          state.update((n, p))
          val llr = r6(p * c1 + (n - p) * c2)
          val dec = if (llr >= aT) "accept_h1"
            else if (llr <= bT) "accept_h0" else "continue"
          (n, p, llr, dec)
      }
      .toDF("cum_n", "cum_purchases", "llr", "decision")
    val q = monitored.writeStream.outputMode(OutputMode.Update())
      .format("memory").queryName("t_sprt").start()
    try {
      val byDay = batchEvents.groupBy(_._2.toLocalDateTime.toLocalDate)
        .toSeq.sortBy(_._1.toString)
      val snapshots = scala.collection.mutable.ListBuffer
        .empty[(Long, Long, Double, String)]
      byDay.foreach { case (_, evs) =>
        stream.addData(evs.toSeq)
        q.processAllAvailable()
        val r = spark.table("t_sprt").orderBy($"cum_n".desc).limit(1)
          .as[(Long, Long, Double, String)].head()
        snapshots += r
      }
      val batch = SparkEntry.queries("a_sprt_monitor")(spark, sf)
        .as[(java.sql.Date, Long, Long, Double, String)].collect()
        .map(r => (r._2, r._3, r._4, r._5)).toSeq
      assert(snapshots.toSeq == batch,
        s"streaming decision path diverged from the batch monitor")
    } finally q.stop()
  }
}

/** transformWithState processor for the Spark-4 arbitrary-state test:
  * per-user distinct event types in a typed MapState. Top-level class so
  * serialization ships only the processor, never the suite.
  */
class DistinctTypesProcessor
    extends org.apache.spark.sql.streaming.StatefulProcessor[
      Long, (Long, Timestamp, Long, String, Double), (Long, Long)] {
  import org.apache.spark.sql.streaming.{MapState, OutputMode, TimeMode,
    TimerValues, TTLConfig}
  @transient private var seen: MapState[String, Boolean] = _

  override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
    seen = getHandle.getMapState[String, Boolean]("seen",
      org.apache.spark.sql.Encoders.STRING,
      org.apache.spark.sql.Encoders.scalaBoolean, TTLConfig.NONE)

  override def handleInputRows(user: Long,
      rows: Iterator[(Long, Timestamp, Long, String, Double)],
      timers: TimerValues): Iterator[(Long, Long)] = {
    rows.foreach(e => seen.updateValue(e._4, true))
    Iterator.single((user, seen.keys().size.toLong))
  }
}
