package graft

/** Physical-plan shape assertions (the "is this the plan you'd want at
  * 100 TB" checks): predicate/projection pushdown reaches the parquet
  * scan, dimension joins broadcast, aggregates partial-aggregate, global
  * top-n plans TakeOrderedAndProject rather than a full sort.
  */
class PlanSpec extends SparkSpec {

  private def plan(name: String): String =
    SparkEntry.queries(name)(spark, sf).queryExecution.executedPlan.toString

  test("the plan formatter prints no lambda identity, plan id or checkout path") {
    import spark.implicits._
    // a parquet dir under the working directory, as artifact-writing
    // queries make, and a typed map whose plan names its JVM lambda
    val dir = s"target/tmp/planspec_formatter_${ProcessHandle.current().pid()}"
    try {
      Seq(1L, 2L).toDF("x").write.mode("overwrite").parquet(dir)
      val p = graft.tools.Probe.formattedPlan(
        spark.read.parquet(dir).as[Long].map(_ + 1L).toDF().repartition(2))
      assert(p.contains("$$Lambda") && !p.matches("(?s).*\\$\\$Lambda[^\\s,]*@.*"), p)
      assert(p.contains("[plan_id=N]") && !p.matches("(?s).*plan_id=\\d.*"), p)
      assert(p.contains(s"file:./$dir"), p)
      assert(!p.contains(java.nio.file.Paths.get("").toAbsolutePath.toString), p)
    } finally org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
  }

  test("projection pushdown: s2 scan reads only the selected columns") {
    val p = plan("s2_projected_scan")
    assert(p.contains("ReadSchema: struct<doc_id:bigint,lang:string,n_chars:bigint>"), p)
  }

  test("predicate pushdown: quality-gate filters reach the parquet scan") {
    val p = plan("p_quality_gate")
    // (plan toString elides the tail of long filter lists, so assert on
    // the untruncated prefix)
    assert(p.contains("PushedFilters: [IsNotNull("), p)
    assert(p.contains("Not(EqualTo(text,N/A))"), p)
  }

  test("star join broadcasts every dimension side") {
    val p = plan("j_star_revenue_by_region")
    assert(p.split("BroadcastHashJoin").length - 1 >= 3, p)
    // the single fact-fact join shuffles on the join key
    assert(p.contains("SortMergeJoin") || p.contains("ShuffledHashJoin")
      || p.split("BroadcastHashJoin").length - 1 >= 4, p)
  }

  test("aggregation is partial (map-side combine before the exchange)") {
    val p = plan("a4_daily_value_trend")
    assert(p.split("HashAggregate").length - 1 >= 2, p)
  }

  test("global top-n plans TakeOrderedAndProject, not a full sort") {
    val p = plan("o2_top_docs")
    assert(p.contains("TakeOrderedAndProject"), p)
  }

  test("partitioned layout prunes partitions at the scan") {
    val p = plan("s9b_partitioned_pruning")
    assert(p.contains("PartitionFilters: [") &&
      (p.contains("day#") || p.contains("in(day")), p)
    // 2 of 30 day-partitions selected => the scan lists only 2 directories
    assert(!p.contains("PartitionFilters: []"), p)
  }

  test("anti-join plans as a join, not a subquery re-scan per row") {
    val p = plan("j2_customers_without_orders")
    assert(p.contains("LeftAnti"), p)
  }

  test("broadcast lookup join hints are honored") {
    val p = plan("j1_broadcast_lookup")
    assert(p.contains("BroadcastHashJoin"), p)
  }

  test("retrieval term filters broadcast; the exploded corpus never shuffles on word") {
    // The 100 TB property of every BM25-family pass: the corpus-sized
    // exploded (doc_id, word) frame must meet the tiny query-term set as
    // a BROADCAST hash join (a semi-filter before any aggregation) — if
    // a future edit drops the broadcast() hint, the planner can shuffle
    // the whole exploded corpus on `word`, which is the exact skew
    // disaster a dominant near-dup source triggers (one hot term =
    // one straggler partition carrying most of the corpus).
    // Every BM25 query scores through the one shared scorer,
    // TextOps.bm25Weights, whose df and query-term joins are broadcast.
    // Its tf input is built three ways: the rrf/prf passes filter the
    // exploded corpus with TextOps.termFilteredTf and pin the result
    // (one corpus explode per pass, so their FINAL plans show a Scan
    // ExistingRDD where this join used to be visible: the broadcast
    // property is pinned on that builder itself), maxscore and
    // bm25_eval filter each doc's token array before the explode, and
    // text_bm25_topk filters on a literal term list. The
    // no-word-shuffle assertion runs on every final plan.
    val builderPlan = {
      import org.apache.spark.sql.functions._
      val t = graft.ops.Tables.documents(spark, sf)
        .select(col("doc_id"), graft.ops.TextOps.tokens(col("text")).as("t"))
      // non-constant term column — a literal here lets the optimizer
      // fold the term side and elide the join entirely
      val terms = graft.ops.Tables.documents(spark, sf)
        .select(col("doc_id").as("qdoc"), col("source").as("word")).limit(3)
      graft.ops.TextOps.termFilteredTf(t, terms)
        .queryExecution.executedPlan.toString
    }
    assert("""BroadcastHashJoin \[word#\d+""".r
      .findFirstIn(builderPlan).isDefined,
      s"termFilteredTf: term filter is not a broadcast join\n$builderPlan")
    Seq("retrieval_rrf_fusion", "retrieval_prf_expansion", "text_bm25_topk",
      "text_bm25_eval", "retrieval_maxscore_topk")
      .foreach { n =>
        val p = plan(n)
        assert("""(SortMergeJoin|ShuffledHashJoin) \[word#\d+""".r
          .findFirstIn(p).isEmpty,
          s"$n: an exploded corpus frame shuffles on word\n$p")
      }
    // text_bm25_topk keeps its un-pinned single-plan form — the direct
    // assertion stays for it
    val pTopk = plan("text_bm25_topk")
    assert("""BroadcastHashJoin \[word#\d+""".r.findFirstIn(pTopk).isDefined,
      s"text_bm25_topk: term filter is not a broadcast join\n$pTopk")
  }

  test("MMR greedy unroll is checkpoint-bounded (round-10 lineage fix pinned)") {
    // retrieval_mmr_rerank's greedy rounds each localCheckpoint their
    // picks; the final plan must read ONLY checkpointed RDDs — a parquet
    // scan here means the candidate-generation subtree is re-executing
    // inside the unroll (the 5.8 s → 2.8 s round-10 regression shape).
    val p = plan("retrieval_mmr_rerank")
    assert(p.contains("Scan ExistingRDD"),
      s"per-round localCheckpoint is gone\n$p")
    assert(!p.contains("Scan parquet"),
      s"candidate generation re-executes inside the greedy unroll\n$p")
  }

  /** Queries where a nested-loop/cartesian shape is the INTENDED
    * semantics (pairwise verifiers at tiny N, scalar-aggregate
    * broadcasts, deliberate cross join) — everything else must plan as
    * hash/sort-merge joins.
    */
  private val nonEquiIntended = Set(
    "dedup_simhash_pairs",                           // N² verifier
    "ann_cosine_topk",                               // brute-force baseline
    "x_cross_join_regions",                          // deliberate 5×5
    "p7_lookback_48h", "d2_antijoin_new_keys",       // 1-row agg broadcast
    "a11_vocab_prune", "u7_tfidf_top_terms",         // scalar n_docs join
    "u6_npmi_pairs", "u6_npmi_coherence",            // scalar n_docs join
    "u6_npmi_windowed",                              // scalar n_units join
    "lda_em_coherence",                              // scalar n_docs join (npmiPairs)
    "lda_em_topics",                                 // 1-row per-topic-total broadcast (r18 M-step: replaced the window-over-k exchange chain)
    "text_bm25_topk",                                // scalar corpus-stats join
    "corpus_temperature_resample",                   // 1-row n_min broadcast
    "ann_recall_at_k",                               // embeds the brute-force baseline
    "ann_sq8_topk",                                  // quantized-scan demo (broadcast query side)
    "ann_pq_topk",                                   // ADC scan (broadcast query side, like sq8)
    "ann_matryoshka_recall",                         // truncation eval embeds the brute-force baseline
    "corpus_doremi_weights",                         // 1-row ref-loss broadcast
    "text_nb_classifier",                            // 5-row class-domain broadcast
    "text_bm25_eval",                                // scalar corpus-stats join
    "u6_cv_coherence", "lda_em_cv",                  // scalar n_units join (cvCoherence)
    "lda_em_scan",                                   // scalar n_units join (cvPhi), once per k
    "ann_filtered_topk",                             // brute-force baseline (pre-filtered candidates)
    "retrieval_rrf_fusion",                          // dense side = brute-force baseline + scalar st join
    "retrieval_rbo_agreement",                       // same fusionRankFrames core as retrieval_rrf_fusion
    "retrieval_tau_agreement",                       // same fusionRankFrames core (the pair join itself is equi on qdoc)
    "retrieval_mmr_rerank",                          // brute-force candidate gen (broadcast query side)
    "retrieval_prf_expansion",                       // scalar corpus-stats join (both BM25 passes)
    "ann_ivf_nprobe_sweep",                          // embeds the brute-force baseline + 4-row nprobe cross
    "retrieval_ndcg_eval",                           // brute-force baseline + label-match broadcast
    "agg_incremental_merge",                         // 1-row max-day broadcast
    "text_drift_kl",                                 // 1-row corpus-total broadcast
    "profile_key_skew",                              // 1-row stats broadcast
    "corpus_curriculum_phases",                      // 1-row corpus-count broadcast
    "a_chi2_daily_mix",                              // 1-row total broadcast
    "a_ks_test",                                     // |types|² pair cross + per-pair totals broadcast
    "retrieval_maxscore_topk",                       // scalar st/θ broadcasts (pruning thresholds)
    "text_heaps_law",                                // 1-row max-doc-id + fit broadcasts
    "ml_calibration_bins",                           // nb priors/ece scalar broadcasts (nbScored core)
    "dedup_lsh_pr_eval",                             // 1-row n_cand/gate-hit broadcasts
    "ml_logreg_gd",                                  // 1-row weight-state broadcast per GD step
    "a_benford_digits",                              // 1-row total + chi2 broadcasts over the 9-digit table
    "text_zipf_slope",                               // 1-row OLS-fit broadcast onto the top-10 rank table
    "ml_ridge_probe",                                // 1-row solved-weights broadcast
    "emb_pca_power",                                 // 1-row max-|s| broadcast per round
    "a_ttest_welch",                                 // 5-row stats-table pair self-join
    "a_seasonality_dow",                             // 1-row totals broadcast
    "u_phrase_bigrams",                              // 1-row vocab-size broadcast (round-12 window fix)
    "emb_hard_negatives",                            // brute-force baseline (label-split branches)
    "ml_als_factors",                                // 1-row metric-agg crosses per alternation
    "ml_als_topk",                                   // 10-user factor broadcast × item factors (rec serving)
    "ml_als_save_load",                              // same serving shape from the reloaded factor frames
    "ml_knn_shapley",                                // brute-force candidate gen (broadcast probe side)
    "ml_cartography",                                // 1-row wide weight-snapshot broadcast (gdSteps state)
    "ml_bt_strength",                                // 1-row normalizing-total broadcast per MM round
    "ml_gmm_em",                                     // 1-row parameter-state broadcast per EM round
    "a_mutual_info",                                 // 1-row total broadcast over the |types|x7 contingency table
    "emb_isotropy",                                  // 1-row count broadcast onto the 64-row dim aggregate
    "ml_conformal_split",                            // cum>=k rank probe + 2-row qhat broadcast (nbScored core)
    "a_pareto_front",                                // 1-row min/max grid broadcast + survivor-set dominance verify
    "text_kn_bigram",                                // 1-row bigram-type-count broadcast (KN continuation denominator)
    "sample_coreset_kcenter",                        // r-row chosen-vector broadcast per greedy round + 1-row radius
    "privacy_k_anonymity",                           // 3-row k-level fan-out over the QI-group aggregate
    "privacy_l_diversity",                           // 3-row l-level fan-out + 1-row min_l floor broadcast over the QI rollup
    "privacy_t_closeness",                           // 5-row class-domain cross + 3-row t fan-out + 1-row max broadcast over the QI rollup
    "ml_decision_stump",                             // 1-row min/max stats broadcast onto the corpus pass
    "ml_isotonic_calibration",                       // <=55-row interval self-join on the fixed 10-bin frame (PAV minimax)
    "a_survival_km",                                 // 1-row horizon + total broadcasts onto the duration frame
    "a_gini_concentration",                          // 1-row min/max grid broadcast onto the user aggregate
    "w_funnel_conversion",                           // three 1-row stage-count aggregates crossed into the lazy 3-row report
    "privacy_dp_sweep",                              // 5-row eps-grid broadcast crossed with per-type counts
    "a_psi_drift",                                   // 1-row global min/max/start-grid broadcast (gini device)
    "a_cuped_adjusted",                              // 1-row split-day + 1-row global-moments broadcasts
    "ml_adaboost_stumps",                            // 1-row n / per-round stump / final-accuracy broadcasts
    "ml_gbm_stumps",                                 // 1-row F0 / per-round stump / per-round MSE broadcasts
    "privacy_rr_frequency",                          // 1-row total-report-count broadcast (estimator inversion)
    "privacy_k_generalize",                          // 6-row lattice-level + 1-row chosen-level broadcasts
    "a_did_estimator",                               // 1-row split-day + 1-row effect broadcasts over 4 cells
    "privacy_dp_quantile",                           // 1-row lo/hi/n stats broadcast (psi-drift grid device)
    "corpus_unimax_weights",                         // 1-row capacity-total + 1-row waterfill-threshold broadcasts
    "a_neyman_alloc",                                // 1-row budget/weight-total broadcast over the per-stratum table
    "a_bh_fdr",                                      // 5-row stats-table pair self-join (welch chain)
    "a_bayes_ab",                                    // 1-row per-arm posterior cross (report fan-in)
    "dedup_gate_sweep",                              // 1-row cluster-agg x 1-row pair-count cross per gate
  )

  /** Queries allowed to run a WindowExec with an EMPTY partition spec.
    * An unpartitioned window moves its whole input to one partition, so
    * every entry here must sit on a frame that is provably bounded by
    * construction (a calendar of days, a capped vocab table, a fixed
    * bin/decile/priority domain, a top-k survivor set) — NEVER anything
    * that grows with the corpus. The round-11 zipf miss (full-vocab rank
    * window, fixed in round 12 by capping with TakeOrderedAndProject
    * first) is the class this guard exists to catch.
    */
  private val unpartitionedWindowBounded: Map[String, String] = Map(
    "ml_decision_stump" ->
      "cumulative class-count window over the histogram (<= 1001 grid bins by construction)",
    "ml_isotonic_calibration" ->
      "prefix-sum window over the fixed 10-bin calibration table",
    "a_survival_km" ->
      "risk-set/product windows over the duration frame (bounded by the corpus CALENDAR span, not row count)",
    "a_gini_concentration" ->
      "Lorenz cumulative window over the <= 1001 grid bins",
    "a_mann_whitney" ->
      "binRanked offset window over the per-integer-bin aggregate (cardinality = value range, not row count)",
    "a_mann_whitney_arms" ->
      "half-unit midrank window over the per-MILLI-bin aggregate (cardinality = value range x 1e3, not row count)",
    "f29b_equidepth_deciles" ->
      "binRanked offset window over the per-integer-bin aggregate",
    "corpus_curriculum_phases" ->
      "offset window over the per-quality-bin aggregate (quality in [0,1] x100 => <=101 bins)",
    "corpus_doremi_weights" ->
      "sum/max windows over the per-SOURCE aggregate (fixed source domain)",
    "graph_assortativity" ->
      "undCore mean-weight threshold window over the |V|^2-bounded nation-level edge aggregate",
    "graph_adamic_adar" ->
      "same undCore edge-aggregate window (wedge/anti-join run on the bounded graph)",
    "graph_betweenness" ->
      "same undCore edge-aggregate window (BFS + |V|^3 term join all on the bounded graph)",
    "graph_lpa_communities" ->
      "same undCore edge-aggregate window",
    "graph_triangles" ->
      "same mean-weight threshold window over the |V|^2-bounded edge aggregate",
    "retrieval_maxscore_topk" ->
      "cum-bound window over the <=|query terms| upper-bound table; rank window after .limit(K)",
    "ml_knn_shapley" ->
      "top/bottom rank windows after .limit(ShapTop) (TakeOrderedAndProject caps the frame first)",
    "ml_knn_shapley_lsh" ->
      "same shapleyReport tail: rank windows after .limit(ShapTop)",
    "ml_conformal_split" ->
      "cumulative window over the micro-quantized nonconformity bins (<= 1e6+1 value-range-bounded domain, corpus-independent)",
    "a_pareto_front" ->
      "envelope running-max over the <= 1001 equi-width grid buckets (bounded by construction)",
    "text_heaps_law" ->
      "cumulative windows over the 10-row corpus-decile frame",
    "text_unigram_train" ->
      "rank window over the vocab-capped driver-side model table (LocalRelation)",
    "text_unigram_encode" ->
      "same vocab-capped model table",
    "text_unigram_save_load" ->
      "same vocab-capped model table, reloaded",
    "w_day_over_day_delta" ->
      "lag over the calendar-bounded daily aggregate",
    "w_running_daily_purchases" ->
      "running sum over the calendar-bounded daily aggregate",
    "a_sprt_monitor" ->
      "cumulative LLR window over the calendar-bounded daily aggregate",
    "privacy_dp_expmech" ->
      "max/sum selection windows over the per-event-type aggregate (fixed <= 5-type domain)",
    "privacy_dp_quantile" ->
      "cumulative-rank window over the 1000-bin bounded value grid (corpus-independent domain)",
    "corpus_unimax_weights" ->
      "waterfilling rank/prefix windows over the per-SOURCE aggregate (fixed source domain)",
    "a_bh_fdr" ->
      "rank + kstar windows over the C(5,2) = 10-row pair table (fixed type domain)",
    "privacy_dp_accounting" ->
      "k-ladder row_number over the calendar-bounded distinct-day frame",
    "graph_modularity" ->
      "q_total sum window over the <= |V| per-community aggregate (bounded 25-node graph)",
  )

  test("unpartitioned windows only over provably bounded frames") {
    import org.apache.spark.sql.execution.window.WindowExec
    val offenders = SparkEntry.queries.keys.toSeq.sorted
      .filterNot(unpartitionedWindowBounded.keySet)
      .filter { name =>
        // sparkPlan, not executedPlan: AQE wraps the tree in a leaf
        // AdaptiveSparkPlanExec that TreeNode.collect cannot enter.
        val p = SparkEntry.queries(name)(spark, sf).queryExecution.sparkPlan
        p.collect { case w: WindowExec if w.partitionSpec.isEmpty => w }
          .nonEmpty
      }
    assert(offenders.isEmpty,
      s"unpartitioned WindowExec over a non-whitelisted frame: $offenders" +
        " — cap the frame first (TakeOrderedAndProject / bounded" +
        " aggregate) or add it to unpartitionedWindowBounded with a" +
        " boundedness argument")
  }

  /** Every unpartitioned window written under src/main — a
    * `Window.orderBy` with no `partitionBy`, or a global `topK` with
    * `keys = Nil` — as (file, the trimmed text of its line, the query it
    * serves). Why that query's input is row-bounded is its
    * [[unpartitionedWindowBounded]] entry.
    */
  private val unpartitionedSites: Seq[(String, String, String)] = Seq(
    ("Aggregates.scala",
      """val w = Window.orderBy($"day").rowsBetween(Window.unboundedPreceding, Window.currentRow)""",
      "w_running_daily_purchases"),
    ("Aggregates.scala", """val w = Window.orderBy($"day")""", "w_day_over_day_delta"),
    ("Aggregates.scala", """max($"bmax").over(Window.orderBy(desc("bkt"))""", "a_pareto_front"),
    ("Aggregates.scala", """val wRank = Window.orderBy(desc("abs_t"), asc("type_a"), asc("type_b"))""",
      "a_bh_fdr"),
    ("Aggregates.scala", """val w = Window.orderBy($"day")""", "privacy_dp_accounting"),
    ("Aggregates.scala", """val w = Window.orderBy($"bin")""", "privacy_dp_quantile"),
    ("Aggregates.scala", """val w = Window.orderBy($"day")""", "a_sprt_monitor"),
    ("Aggregates.scala", """val wPrev = Window.orderBy($"dur")""", "a_survival_km"),
    ("Aggregates.scala", """val wCum = Window.orderBy($"dur")""", "a_survival_km"),
    ("Aggregates.scala", """val wCum = Window.orderBy($"bkt")""", "a_gini_concentration"),
    ("Aggregates.scala", """val w = Window.orderBy($"vm")""", "a_mann_whitney_arms"),
    ("MLOps.scala", """val wc = Window.orderBy($"bin")""", "ml_decision_stump"),
    ("SimilarityOps.scala",
      """.withColumn("rank", row_number().over(Window.orderBy(ord: _*)))""", "ml_knn_shapley"),
    ("TextOps.scala",
      """topK(vocab, Nil, Seq(desc("cnt"), asc("piece")), UgTrainTopN, Some("rank"))""",
      "text_unigram_train"),
    ("TextOps.scala", """val wub = Window.orderBy(asc("ub"), asc("word"))""",
      "retrieval_maxscore_topk"),
    ("TextOps.scala", """Window.orderBy(desc("score"), asc("doc_id"))))""",
      "retrieval_maxscore_topk"),
    ("TextOps.scala",
      """topK(segs, Nil, Seq(desc("freq"), asc("word")), UgEncodeTopN, None)""",
      "text_unigram_encode"),
    ("TextOps.scala", """val wc = Window.orderBy($"bin")""", "ml_isotonic_calibration"),
    ("TextOps.scala", """.withColumn("cum", sum($"cb").over(Window.orderBy($"alpha_m")""",
      "ml_conformal_split"),
    ("TextOps.scala", """val wAsc = Window.orderBy($"cap".asc, $"source".asc)""",
      "corpus_unimax_weights"),
    ("TextOps.scala", """val w = Window.orderBy($"b")""", "text_heaps_law"),
    ("TextOps.scala", """val wb = Window.orderBy($"bin").rowsBetween(Window.unboundedPreceding, -1)""",
      "corpus_curriculum_phases"),
  )

  test("every unpartitioned window under src/main is audited") {
    import java.nio.file.{Files, Paths}
    import scala.jdk.CollectionConverters._
    // the second top-level argument of a topK( call starting at `i`
    def keysArg(src: String, i: Int): String = {
      var depth = 0
      val commas = (i until src.length).iterator.map { j =>
        src(j) match {
          case '(' | '[' => depth += 1
          case ')' | ']' => depth -= 1
          case _ =>
        }
        (j, depth == 1 && src(j) == ',')
      }.filter(_._2).map(_._1).take(2).toSeq
      src.substring(commas(0) + 1, commas(1)).trim
    }
    val sites = Files.walk(Paths.get("src/main")).iterator().asScala
      .filter(_.toString.endsWith(".scala")).toSeq.sortBy(_.toString).flatMap { p =>
        val src = Files.readString(p)
        val lines = src.linesIterator.toIndexedSeq
        val lineStarts = lines.scanLeft(0)(_ + _.length + 1)
        def lineAt(i: Int) = lines(lineStarts.lastIndexWhere(_ <= i)).trim
        val windows = lines.map(_.trim)
          .filter(l => l.contains("Window.orderBy(") && !l.startsWith("//") && !l.startsWith("*"))
        val globalTopK = "(?<!\\w)(?<!GroupTopK\\.)topK\\(".r.findAllMatchIn(src).map(_.start)
          .filter(i => keysArg(src, i + 4) == "Nil").map(lineAt)
        (windows ++ globalTopK).map(p.getFileName.toString -> _)
      }
    val audited = unpartitionedSites.groupBy(e => (e._1, e._2)).map { case (k, v) => k -> v.size }
    val found = sites.groupBy(identity).map { case (k, v) => k -> v.size }
    val unaudited = found.filter { case (site, n) => n > audited.getOrElse(site, 0) }
    assert(unaudited.isEmpty,
      s"unpartitioned window or global topK not in unpartitionedSites: $unaudited — give it" +
        " a partition key, or add it with its query and a row-bound argument")
    val stale = audited.filter { case (site, n) => found.getOrElse(site, 0) != n }
    assert(stale.isEmpty, s"unpartitionedSites entries with no matching site: $stale")
    val unbounded = unpartitionedSites.map(_._3).filterNot(unpartitionedWindowBounded.contains)
    assert(unbounded.isEmpty, s"sites whose query has no row-bound argument: $unbounded")
  }

  test("no unintended cartesian or nested-loop joins across the suite") {
    val offenders = SparkEntry.queries.keys.toSeq.sorted
      .filterNot(nonEquiIntended)
      .filter { name =>
        val p = plan(name)
        p.contains("CartesianProduct") || p.contains("BroadcastNestedLoopJoin")
      }
    assert(offenders.isEmpty, s"nested-loop plans: $offenders")
  }
}
