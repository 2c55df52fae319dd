package graft
import org.apache.spark.sql.SparkSession
object Bench {
  /** One pass of the fixed calibration probe: a CPU-bound range sum with
    * no IO, no shuffle and a deterministic plan, so its wall time depends
    * only on how much CPU the host is actually giving this JVM. Round-11
    * addition after BENCH_r10's group-2 numbers were inflated ~40%
    * wholesale by neighbor load and a clean engine looked regressed: the
    * probe's ratio against a recorded quiet-host anchor machine-flags a
    * contaminated run instead of leaving it to judge adjudication.
    */
  def calibOnce(spark: SparkSession): Unit = {
    // murmur3 per row then a widened sum — ANSI-safe (4e8 · |int32|max
    // < Long.MaxValue) and enough CPU per row to be a real load probe.
    spark.range(400000000L)
      .selectExpr("sum(cast(hash(id) as bigint)) as s").collect()
  }

  /** Quiet-host anchors for calibOnce (seconds) in BENCH context — i.e.
    * inside a deeply-warmed JVM after the query warm-up passes, which is
    * where the probe actually runs (a fresh JVM reads ~0.23/0.47 via
    * `graft.tools.Probe calib`; the fully-JIT'd Bench JVM reads ~0.13/0.44
    * — anchors use the latter so quiet runs land near 1.0). NOT
    * core-linear (memory-bandwidth-bound before 32 threads); unknown cpu
    * counts snap to the nearest measured config (driver=32, dev=4).
    */
  def calibAnchor(cpus: Int): Double =
    if (cpus >= 16) CALIB_ANCHOR_32 else CALIB_ANCHOR_4
  private val CALIB_ANCHOR_32 = 0.13
  private val CALIB_ANCHOR_4 = 0.44

  /** Per-query quiet anchors (seconds) for the ADAPTIVE re-pass rule —
    * a min-of-2 exceeding 1.5x its anchor triggers up to two extra
    * passes (see timeGroup). Values are the best trustworthy driver
    * reading per query: BENCH_r16 mins (cpus=32, noise 1.158) for the
    * entries it covered, the judge's quiet re-runs where BASELINE.md
    * records one superseding (lda 7.26, prf 4.94, mmr 1.52, hyperball
    * 2.54, kcore 2.23, assortativity 1.56, ml_als_factors 3.31 — the
    * r16 driver reading for als was the burst being exonerated), and
    * the round-17 early quiet run (local[8], noise 0.909) for the
    * group-2 head entries BENCH_r16's truncated tail didn't preserve.
    * These are TRIGGER thresholds, not judging anchors — slightly
    * generous is safe (a missed trigger just means min-of-2, the
    * pre-round-17 behavior), so values are rounded UP a notch.
    * `repassNeeded` tolerates an anchorless query (it stays plain
    * min-of-2), but BenchSpec's meta-check requires every bench-group
    * entry to carry a row here — when adding a bench entry, pin a
    * PROVISIONAL anchor from a quiet `Probe time`/local-bench reading in
    * the same commit (the lda_em_topics_dist pattern) and re-pin after
    * the first driver bench. BASELINE.md "bench methodology" documents
    * the rule; queries at the 0.4 s floor never trigger regardless.
    */
  val ADAPT_TRIGGER = 1.5
  val ADAPT_FLOOR = 0.4
  val MAX_EXTRA_TOTAL = 40

  /** The adaptive re-pass decision, extracted pure so BenchSpec can pin
    * it: re-pass iff every pass so far succeeded AND the current min
    * still exceeds max(1.5 x anchor, the 0.4 s noise floor). Anchorless
    * queries never re-pass (stay min-of-2). The caller bounds re-passes
    * at 2 per query / MAX_EXTRA_TOTAL per run.
    */
  def repassNeeded(ps: Seq[Double], anchor: Option[Double]): Boolean =
    anchor.exists { a =>
      ps.forall(_ >= 0) && ps.min > math.max(a * ADAPT_TRIGGER, ADAPT_FLOOR)
    }

  /** Host-speed scaling for the re-pass trigger (round 18): anchors are
    * absolute seconds pinned on the driver profile, so on a uniformly
    * slower host every anchored query would "breach" and silently burn
    * the whole extra-pass budget with no burst present. The group's own
    * calibration reading measures exactly that host-speed ratio, so the
    * trigger compares against anchor x max(1, calib/calibAnchor). On
    * the quiet driver (ratio ~1.0) behavior is unchanged; a 3x-slower
    * dev laptop scales every threshold 3x and triggers only on bursts
    * relative to ITS OWN speed. Never scales DOWN (a faster host keeps
    * the pinned thresholds — generous triggers are safe, see anchors).
    */
  def anchorScale(calib: Double, calibAnchor: Double): Double =
    math.max(1.0, calib / calibAnchor)

  /** Pure deferred-re-pass scheduler (round 18) — extracted so BenchSpec
    * can pin ordering and min semantics without a SparkSession. Takes
    * the completed standard passes for a whole group, and re-passes
    * still-breaching queries in up to two ROUNDS over the group (each
    * round visits every pending query once, in group order), so a
    * query's own re-passes are separated both by the rest of the group's
    * standard passes AND by its peers' re-passes — the natural-backoff
    * fix for BENCH_r17's emb_pca_power re-passing straight into its own
    * burst. Returns (final pass arrays in original group order,
    * extra passes used, budget-exhausted flag).
    */
  def deferredRepass(
      standard: Seq[(String, Seq[Double])],
      anchorOf: String => Option[Double],
      run: String => Double,
      budgetLeft: Int): (Seq[(String, Seq[Double])], Int, Boolean) = {
    var raw = standard
    var used = 0
    var exhausted = false
    var rounds = 0
    var pending = raw.collect {
      case (n, ps) if repassNeeded(ps, anchorOf(n)) => n
    }.toSet
    while (rounds < 2 && pending.nonEmpty && !exhausted) {
      raw = raw.map { case (n, ps) =>
        if (pending.contains(n)) {
          if (used < budgetLeft) { used += 1; n -> (ps :+ run(n)) }
          else { exhausted = true; n -> ps }
        } else n -> ps
      }
      pending = raw.collect {
        case (n, ps) if pending.contains(n) && repassNeeded(ps, anchorOf(n)) => n
      }.toSet
      rounds += 1
    }
    (raw, used, exhausted)
  }

  val anchors: Map[String, Double] = Map(
    // group 1 (27 headline queries, BENCH_r16 mins)
    "j_star_revenue_by_region" -> 0.80, "j_left_order_line_counts" -> 0.35,
    "w1_top_suppliers_per_nation" -> 0.80, "a4_daily_value_trend" -> 0.20,
    "a5_daily_share_pct" -> 0.22, "a6_daily_pivot" -> 0.20,
    "a_distinct_users_per_type" -> 0.20, "d1_dedup_first_per_user" -> 0.28,
    "s1_latest_events" -> 0.20, "a10_word_freq" -> 0.55,
    "u7_tfidf_top_terms" -> 1.15, "u3_vader_sentiment" -> 0.20,
    "text_quality" -> 0.18, "dedup_exact" -> 0.26,
    "dedup_minhash_lsh" -> 1.00, "dedup_simhash" -> 0.60,
    "ann_cosine_topk" -> 0.46, "ann_lsh_topk" -> 0.33,
    "asof_join_purchase_click" -> 0.16, "a_percentiles" -> 0.36,
    "a_cohort_retention" -> 0.33, "a_rollup_daily_type" -> 0.26,
    "s9b_partitioned_pruning" -> 0.80, "stream_tumbling_daily" -> 0.22,
    "stream_session_windows" -> 0.20, "mm_feature_histogram" -> 0.24,
    "mm_frame_sample" -> 0.21,
    // group 2 (35 entries)
    "graph_pagerank" -> 1.45, "graph_harmonic" -> 2.25,
    "graph_hyperball" -> 2.54, "graph_triangles" -> 1.60,
    "ann_pq_topk" -> 1.90, "ann_ivfpq_topk" -> 2.40,
    "ann_ivf_kmeans_topk" -> 0.65, "ann_sq8_topk" -> 0.66,
    "ann_lsh_multi_topk" -> 0.45, "text_bpe_encode" -> 0.78,
    "text_lm_backoff" -> 0.35, "a_countmin_probe" -> 0.68,
    "a_heavy_hitters" -> 0.82, "a_quantile_sketch" -> 0.82,
    "dedup_substring_exact" -> 2.50, "dedup_cluster_reps_star" -> 2.95,
    "lda_em_topics" -> 7.26, "retrieval_rrf_fusion" -> 1.70,
    "retrieval_mmr_rerank" -> 1.52, "retrieval_prf_expansion" -> 4.94,
    "scd2_status_history" -> 0.40, "dedup_source_overlap" -> 1.42,
    // emb_pca_power re-pinned round 18 (the r17 0.95 anchor sat exactly
    // at the quiet min and its 1.5x trigger fired on ordinary spread;
    // r18 builder bench read min 0.988 at noise 1.13)
    "emb_pca_power" -> 1.05, "a_robust_stats" -> 1.16,
    "w_trend_theilsen" -> 0.45, "join_incremental_merge" -> 0.60,
    "a_ks_test" -> 0.90, "retrieval_maxscore_topk" -> 1.05,
    "ml_calibration_bins" -> 2.00, "graph_kcore" -> 2.30,
    "dedup_lsh_pr_eval" -> 1.90, "ml_logreg_gd" -> 0.65,
    "graph_assortativity" -> 1.60, "ml_als_factors" -> 3.35,
    "dedup_cluster_reps_lsh" -> 1.80,
    // re-pinned round 18 from the builder bench (min 4.44 at noise
    // 1.13; driver r17 read 5.21 under 1.245 noise) — rounded up a
    // notch per the trigger-threshold convention
    "lda_em_topics_dist" -> 4.80,
    // re-pinned round 19 from the first driver bench (BENCH_r18 min
    // 0.545 at noise 1.46, local quiet 0.45-0.58) — rounded up a notch
    // per the trigger-threshold convention
    "text_watermark_greenlist" -> 0.50,
    // re-pinned round 19 (BENCH_r18 min 0.324 at noise 1.46, local
    // quiet 0.32-0.40)
    "dedup_paragraph_exact" -> 0.42,
  )

  /** Group-2 entries whose mins are ALSO published in the headline
    * `queries` map (round 19, VERDICT r18 next-round #2/#8): the driver's
    * round-over-round PERF comparison and its low-core scaling probe read
    * only `queries`, so the heavy group-2 entries — exactly the ones
    * optimization rounds target — were invisible to both (and the r17/r18
    * tail truncation lost them from `queries2`). These names REUSE the
    * group-2 measurement (no extra passes); `value` stays the group-1
    * total, so the headline trendline is untouched — this is the
    * sanctioned additions-only harness change. Membership = group-2
    * entries with a quiet anchor >= 1.0 s (the scheduler-floor entries
    * carry no scaling signal).
    */
  val g2Published: Set[String] =
    anchors.collect { case (n, a) if a >= 1.0 &&
      SparkEntry.benchQueries2.contains(n) => n }.toSet

  /** The `benchQueries2` entries with no anchor: the adaptive re-pass
    * rule skips them and g2Published can never list them, so Bench names
    * each on stderr at startup rather than letting membership drift.
    */
  def unanchored(names: Seq[String]): Seq[String] = names.filterNot(anchors.contains)

  /** Cache hygiene before every timed pass: the warm-up pass leaves the
    * dedup shingle frame (and any other persisted intermediates) in the
    * block manager; timing each query against that residue both pollutes
    * unrelated measurements (round-2: w1 regressed 5.8× with the shingled
    * corpus resident) and flatters the query that built the cache, so
    * each query pays its own full cost against a clean JVM heap. Which
    * cached values survive (trained indexes) and which are dropped (pinned
    * frames and per-pass fits) is `graft.ops.Memo`'s policy, stated there.
    * Round-7 ann_pq_topk retrained per pass and a contention burst during
    * training tripled one pass ([4.12 s, 11.70 s]).
    */
  def clearState(spark: SparkSession): Unit = {
    graft.ops.Memo.clear()
    spark.catalog.clearCache()
  }

  /** One untimed pass per query: primes codegen, classloading and the
    * Memo index entries that survive clearState before anything is
    * timed. A failure is reported on stderr and otherwise ignored (the
    * timed passes record it).
    */
  def warmUp(spark: SparkSession, names: Seq[String], sfDir: String): Unit =
    names.foreach { n =>
      try SparkEntry.queries(n)(spark, sfDir).count()
      catch { case e: Throwable => System.err.println(s"[bench] warm-up $n failed: $e") }
    }

  /** The headline `queries` map: every group-1 min (a crashed query keeps
    * its documented -1) plus the g2Published group-2 mins that succeeded.
    * A crashed group-2 query is listed under `failed2` only; its -1 here
    * would read as a very fast query to a reader checking `failed`.
    */
  def headlineQueries(g1: Seq[(String, Double)],
      g2: Seq[(String, Double)]): Seq[(String, Double)] =
    g1 ++ g2.filter { case (n, v) => v >= 0 && g2Published(n) }

  /** One timed pass of `name` over `sfDir` after clearState, in seconds.
    * A crashed query must not masquerade as a fast one: it reports -1
    * (and its exception on stderr).
    */
  def timeOne(spark: SparkSession, name: String, sfDir: String): Double = {
    clearState(spark)
    val t0 = System.nanoTime()
    val ok = try { SparkEntry.queries(name)(spark, sfDir).count(); true }
    catch { case e: Throwable =>
      System.err.println(s"[bench] $name failed: $e")
      false
    }
    if (ok) (System.nanoTime() - t0) / 1e9 else -1.0
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = GraftSession.cpus
    unanchored(SparkEntry.benchQueries2).foreach(n => System.err.println(s"[bench] no anchor: $n"))
    val spark = GraftSession.local(cpus)
    // Headline queries only (SparkEntry.benchQueries) — the scale-
    // representative shuffles/joins/windows, not every micro-query.
    // One warm-up pass primes the JVM (codegen, classloading) so the
    // timed pass measures query execution, not first-call JIT.
    val names = SparkEntry.benchQueries
    warmUp(spark, names, sfDir)
    // Two timed passes, report the per-query MIN: a transient burst of
    // machine contention (the whole-run 2x swing BENCH_r04 recorded on a
    // shared driver host) then inflates at most one pass, not the
    // reported number. Min-of-2 measures what the query costs, not what
    // the neighbors were doing.
    def pass(name: String): Double = timeOne(spark, name, sfDir)
    // Both raw passes are recorded alongside the min: pass 1 runs against a
    // cold OS page cache / partially-JIT'd JVM, pass 2 is fully warm, and
    // the min is systematically a warm-pass number. Publishing the pair
    // makes that explicit and keeps the headline `queries` map comparable
    // with earlier min-of-2 rounds while still exposing cold-run cost.
    // A crashed query keeps its -1 marker in `queries`/`passes` but is
    // EXCLUDED from the summed total and listed under `failed` — a -1
    // folded into the sum would shrink the headline and mask the
    // regression it represents.
    // ADAPTIVE re-pass (round 17, replacing the round-16 hand-listed
    // min-of-3 set): four consecutive driver benches false-flagged a
    // min-of-2 query because a whole-run contention burst spanned BOTH
    // passes (r13/r15 rrf, r14/r15 assortativity, r16 ml_als_factors at
    // [11.23, 11.76] vs its 3.31 anchor — judge re-run 4.43 s,
    // exonerated), and r16 proved min-of-3 works exactly where it's
    // applied: the two hand-listed names came back in-band for the
    // first time in four rounds while the burst landed on an UNLISTED
    // query. So stop whack-a-moling names: after the two standard
    // passes, any query whose min exceeds ADAPT_TRIGGER x its recorded
    // quiet anchor (anchors table below) takes up to two extra passes,
    // stopping early once a pass drops under the trigger; the reported
    // number is the min of ALL passes. The 0.4 s absolute floor keeps
    // noise-floor entries (scheduler jitter IS their spread) from
    // burning re-passes, and a global cap bounds worst-case runtime on
    // a genuinely loaded host (a real regression still reports high —
    // extra passes only ever LOWER a min, never hide a true slowdown
    // that reproduces across 3-4 passes). `passes` arrays are
    // variable-length (2-4) — consumers must length-dispatch;
    // `extra_passes` in the JSON names each triggered query.
    var extraUsed = 0
    var extraBudgetExhausted = false
    val anchor = calibAnchor(cpus)
    // DEFERRED re-passes (round 18, replacing round 17's back-to-back
    // ones): BENCH_r17's emb_pca_power [1.79, 1.53, 8.78, 5.66] showed
    // extra passes running INTO the burst that triggered them — both
    // re-passes landed in a worsening burst and bought nothing. Now all
    // triggered names are queued and re-passed only AFTER the whole
    // group finishes (seconds-to-minutes of natural backoff), in up to
    // two rounds with every still-breaching query re-passed once per
    // round (so a query's own re-passes are further separated by its
    // peers'). Per-query cap (2) and the global MAX_EXTRA_TOTAL are
    // unchanged; min semantics unchanged (min over all passes).
    def timeGroup(groupNames: Seq[String], calibG: Double) = {
      val scale = anchorScale(calibG, anchor)
      val standard = groupNames.map { name =>
        name -> Seq(pass(name), pass(name))
      }
      // ADVICE r17: an exhausted budget on a mismatched-anchor host must
      // be self-describing, not silent — flagged in the JSON.
      val (raw, used, exhausted) = deferredRepass(
        standard, n => anchors.get(n).map(_ * scale), pass,
        MAX_EXTRA_TOTAL - extraUsed)
      extraUsed += used
      if (exhausted) extraBudgetExhausted = true
      // A query fails only if a STANDARD pass crashed; a crashed adaptive
      // extra pass (running precisely under the contention that triggered
      // it) must not convert two valid measurements into a reported
      // failure — extra passes may only ever LOWER a min, so the min is
      // taken over the passes that succeeded. (repassNeeded's
      // forall(_ >= 0) guard already stops further re-passes after a
      // crash.)
      val results = raw.map { case (name, ps) =>
        name -> (if (ps.take(2).exists(_ < 0)) -1.0
        else ps.filter(_ >= 0).min)
      }
      val qs = results.map { case (k, v) => s"\"" + k + "\":" + v }
        .mkString("{", ",", "}")
      val ps = raw.map { case (k, p) => s"\"" + k + "\":[" + p.mkString(",") + "]" }
        .mkString("{", ",", "}")
      val failed = results.collect { case (k, v) if v < 0 => "\"" + k + "\"" }
        .mkString("[", ",", "]")
      val extras = raw.collect { case (k, p) if p.length > 2 =>
        s"\"" + k + "\":" + (p.length - 2)
      }.mkString("{", ",", "}")
      val total = results.map(_._2).filter(_ >= 0).sum
      (total, qs, ps, failed, results, extras)
    }
    // Host-noise calibration (round 11): min of 3 probe passes right
    // before each group's timed passes (one untimed pass first — the
    // probe has its own codegen to JIT). calibN / anchor ≈ 1.0 on a
    // quiet host; BENCH_r10's contention mode would have shown ~1.4.
    // BASELINE.md documents the judging rule keyed off `noise_factor`.
    def calibrate(): Double = {
      calibOnce(spark)
      (1 to 3).map { _ =>
        val t0 = System.nanoTime()
        calibOnce(spark)
        (System.nanoTime() - t0) / 1e9
      }.min
    }
    // Group 1 is the frozen round-1 headline set — `value`/`queries` keep
    // their meaning across all rounds. Group 2 (round-7 addition) covers
    // the newer families (graph, PQ/IVF ANN, trainers, sketches) under
    // separate keys so their regressions are visible without perturbing
    // the group-1 trendline. Group 2 has its own warm-up pass: these
    // queries were never touched by the group-1 warm-up, and an unwarmed
    // first family would bill one-time JIT/classload to its first query.
    val calib1 = calibrate()
    val (total, qs, ps, failed, res1, extras1) = timeGroup(names, calib1)
    val names2 = SparkEntry.benchQueries2
    warmUp(spark, names2, sfDir)
    val calib2 = calibrate()
    val (total2, qs2, ps2, failed2, res2, extras2) = timeGroup(names2, calib2)
    def r3(x: Double): Double = math.rint(x * 1000) / 1000
    val noise = r3(math.max(calib1, calib2) / anchor)
    // Round 19: the published `queries` map additionally carries the
    // heavy group-2 mins (g2Published — same measurements `queries2`
    // reports, no re-timing) so the driver's PERF machinery can
    // machine-compare exactly the entries optimization rounds target.
    // `value` is UNCHANGED: still the group-1 total only, keeping the
    // headline trendline comparable across all rounds.
    val qsPub = headlineQueries(res1, res2)
      .map { case (k, v) => s"\"" + k + "\":" + v }
      .mkString("{", ",", "}")
    println(s"""{"metric":"total","value":$total,"unit":"sec","timing":"min_of_2_adaptive_deferred","queries":$qsPub,"passes":$ps,"failed":$failed,"extra_passes":$extras1,"total2":$total2,"queries2":$qs2,"passes2":$ps2,"failed2":$failed2,"extra_passes2":$extras2,"extra_budget_exhausted":$extraBudgetExhausted,"calib1":${r3(calib1)},"calib2":${r3(calib2)},"calib_anchor":$anchor,"noise_factor":$noise,"sf":"$sfDir"}""")
    // Truncation-proof tail: the driver captures only the LAST 2000 chars
    // of output, and the full line above is well past that — in round 9
    // the group-1 per-query numbers fell off the front and per-query
    // regressions became undiagnosable from the driver capture. So the
    // LAST lines carry what a regression hunt needs, compact enough
    // (~1 kB together) to always survive the tail cap: group-1 per-query
    // mins at ms precision, then the headline totals. Neither repeats the
    // "metric" key, so a driver grep for the contract line still uniquely
    // hits the full JSON above.
    // Locale-proof rounding (an f"%.3f" interpolator goes through the JVM
    // default locale and a comma-decimal host would emit invalid JSON);
    // values are SECONDS at millisecond precision.
    val qs1s = res1.map { case (k, v) =>
      "\"" + k + "\":" + (if (v < 0) "-1" else (math.rint(v * 1000) / 1000).toString)
    }.mkString("{", ",", "}")
    // Round 19 (VERDICT r18 next-round #2): group-2 per-query mins as
    // their own compact line, BEFORE the g1 line so a tight tail capture
    // cuts it first — and sorted ASCENDING by seconds so a front-cut
    // loses the scheduler-floor entries and keeps the heavies, which are
    // exactly what a regression hunt needs. Existing lines unchanged.
    val qs2s = res2.sortBy(_._2).map { case (k, v) =>
      "\"" + k + "\":" + (if (v < 0) "-1" else (math.rint(v * 1000) / 1000).toString)
    }.mkString("{", ",", "}")
    println(s"""{"g2_queries_s":$qs2s,"g2_failed":$failed2}""")
    println(s"""{"g1_queries_s":$qs1s,"g1_failed":$failed}""")
    println(s"""{"total":$total,"total2":$total2,"failed_count":${failed.count(_ == '"') / 2 + failed2.count(_ == '"') / 2},"extra_pass_count":$extraUsed,"noise_factor":$noise}""")
    spark.stop()
  }
}
