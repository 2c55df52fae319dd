package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * Every operator family lives in its own module under graft.ops; each
  * module exposes `queries` (name -> (SparkSession, sfDir) -> DataFrame) and
  * `oracles` (name -> DuckDB-runnable ANSI SQL over the same parquet
  * tables). SparkEntry is the union surface the driver exercises.
  */
object SparkEntry {
  import graft.ops._

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0.
    * Daily value trend (SURVEY §7.2 — stats_visualization.py:294 shape).
    */
  def entry(spark: SparkSession): DataFrame =
    queries("a4_daily_value_trend")(spark, "/root/testdata/sf0.001")

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    Relational.queries ++ Aggregates.queries ++ TextOps.queries ++
      DedupOps.queries ++ SimilarityOps.queries ++ MLOps.queries ++
      MultimodalOps.queries ++ GraphOps.queries ++
      graft.streaming.StreamingOps.queries ++ FuzzQueries.queries

  /** Query-name selection for Verify and the tools: a name is selected
    * when `nameRegex` matches anywhere in it (an unanchored search, so
    * `dedup_` selects every dedup query; anchor with ^ and $).
    */
  def nameFilter(nameRegex: String): String => Boolean = {
    val r = nameRegex.r
    name => r.findFirstIn(name).isDefined
  }

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omit for non-SQL-expressible ops.
    */
  def oracleSql: Map[String, String] =
    Relational.oracles ++ Aggregates.oracles ++ TextOps.oracles ++
      DedupOps.oracles ++ SimilarityOps.oracles ++ MLOps.oracles ++
      MultimodalOps.oracles ++ GraphOps.oracles ++
      graft.streaming.StreamingOps.oracles ++ FuzzQueries.oracleSql

  /** Headline subset used by graft.Bench — the scale-representative
    * queries (big shuffles, joins, windows, text/similarity paths), not
    * every correctness micro-query.
    */
  def benchQueries: Seq[String] = Seq(
    "j_star_revenue_by_region",
    "j_left_order_line_counts",
    "w1_top_suppliers_per_nation",
    "a4_daily_value_trend",
    "a5_daily_share_pct",
    "a6_daily_pivot",
    "a_distinct_users_per_type",
    "d1_dedup_first_per_user",
    "s1_latest_events",
    "a10_word_freq",
    "u7_tfidf_top_terms",
    "u3_vader_sentiment",
    "text_quality",
    "dedup_exact",
    "dedup_minhash_lsh",
    "dedup_simhash",
    "ann_cosine_topk",
    "ann_lsh_topk",
    "asof_join_purchase_click",
    "a_percentiles",
    "a_cohort_retention",
    "a_rollup_daily_type",
    "s9b_partitioned_pruning",
    "stream_tumbling_daily",
    "stream_session_windows",
    "mm_feature_histogram",
    "mm_frame_sample",
  ).filter(queries.contains)

  /** Second bench group (round 7): the round-2+ families — graph, PQ/IVF
    * ANN, trainers, sketches, and the round-7 ops — that the frozen group
    * above predates. Timed and reported SEPARATELY (`total2`/`queries2`
    * in the Bench JSON) so group 1 stays comparable across every round
    * while regressions in the newer families become visible. Excludes
    * the MLlib LDA family (pipeline_topic_fanout's single-partition fits
    * are a documented ~28 s constant that would drown the signal).
    * Round 12 moved the entries sitting at the ~0.3 s noise floor to
    * `benchRetiredNoiseFloor` (correctness-only), keeping group 2 to the
    * set where a 2x regression is actually measurable; `total2` is
    * comparable across rounds via the kept core's per-query anchors.
    */
  def benchQueries2: Seq[String] = Seq(
    "graph_pagerank",
    "graph_harmonic",
    "graph_hyperball",
    "graph_triangles",
    "ann_pq_topk",
    "ann_ivfpq_topk",
    "ann_ivf_kmeans_topk",
    "ann_sq8_topk",
    "ann_lsh_multi_topk",
    "text_bpe_encode",
    // encode, not train: the trained unigram model is a Memo.index
    // entry and survives clearState, so timing the train query would
    // measure a 300-row rank over the cached model; the encode pass is
    // the real repeated work (a full Viterbi inference pass per timed run)
    "text_lm_backoff",
    "a_countmin_probe",
    "a_heavy_hitters",
    "a_quantile_sketch",
    "dedup_substring_exact",
    "dedup_cluster_reps_star",
    "lda_em_topics",
    "retrieval_rrf_fusion",
    "retrieval_mmr_rerank",
    "retrieval_prf_expansion",
    "scd2_status_history",
    "dedup_source_overlap",
    "emb_pca_power",
    "a_robust_stats",
    "w_trend_theilsen",
    "join_incremental_merge",
    "a_ks_test",
    "retrieval_maxscore_topk",
    "ml_calibration_bins",
    "graph_kcore",
    "dedup_lsh_pr_eval",
    "ml_logreg_gd",
    "graph_assortativity",
    "ml_als_factors", // round 13: full ALS fit per pass (a Memo.perPass entry)
    // round 16: the production dedup composition (banded-LSH candidates →
    // verify → star-CC). Timing it guards the whole LSH-fed cluster path;
    // first Bench-context anchor recorded in BASELINE.md this round.
    "dedup_cluster_reps_lsh",
    // round 17: the distributed treeAggregate LDA fit — full fit per
    // timed pass BY DESIGN (its φ array is a Memo.perPass entry, the
    // ml_als_factors convention), so regressions in the per-round
    // broadcast + tree-reduce shape stay visible.
    "lda_em_topics_dist",
    // round 18: the watermark detector — the one round-18 op with a
    // corpus-scale data term (bigram explode + per-doc lag window +
    // hash-group over every token); provisional anchor pinned in the
    // same commit per the Bench.anchors workflow.
    "text_watermark_greenlist",
    // round 18 wave 2: the CCNet paragraph-dedup pass — chunk explode +
    // corpus-wide hash-partitioned survivor window + doc reassembly,
    // the other new op with a corpus-scale data term.
    "dedup_paragraph_exact",
  ).filter(queries.contains)

  /** Retired from group-2 TIMING at round 12 (they remain in `queries`
    * and the per-round CORRECTNESS gate): each sat at or under the
    * ~0.3 s quiet-host noise floor, where a min-of-2 measures scheduler
    * jitter rather than code — a real 2x regression there is invisible
    * inside normal spread, while 19 such entries cost ~10 s of every
    * bench run and pad `total2` with pure noise. Quiet-host mins at
    * retirement (local[32], sf0.1, noise_factor 0.55, 2026-08-14) are
    * recorded in BASELINE.md; if one of these ops grows real work, move
    * it back into benchQueries2 and re-anchor it.
    */
  def benchRetiredNoiseFloor: Seq[String] = Seq(
    "graph_degree_stats",            // 0.276 s
    "ml_kmeans",                     // 0.234 s
    "text_bpe_merges",               // 0.244 s
    "text_unigram_encode",           // 0.236 s
    "a_hll_probe",                   // 0.275 s
    "a_sketch_merge",                // 0.171 s
    "sample_weighted_ares",          // 0.242 s
    "ann_filtered_topk",             // 0.228 s
    "a_cube_type_day",               // 0.162 s
    "w_sessionize_gap",              // 0.265 s
    "text_oov_rate",                 // 0.256 s
    "ml_ridge_probe",                // 0.207 s
    "a_ttest_welch",                 // 0.149 s
    "stream_dedup_within_watermark", // 0.273 s
    "stream_session_bounds",         // 0.293 s
    "text_heaps_law",                // 0.200 s
    "a_benford_digits",              // 0.227 s
    "text_boilerplate_strip",        // 0.107 s
    "text_zipf_slope",               // 0.260 s (post-TakeOrdered fix)
  )
}
