package graft.tools

import java.nio.file.{Files, Paths}

/** Regenerates PLANS.md: formatted physical plans of the flagship queries
  * with the properties PlanSpec asserts, as reviewable evidence.
  */
object DumpPlans {
  /** Short hash of a whole formatted plan: the sections keep 40 detail
    * lines, so a change past them still shows as a new hash.
    */
  def planHash(plan: String): String =
    java.security.MessageDigest.getInstance("SHA-256")
      .digest(plan.getBytes("UTF-8")).take(6).map(b => f"${b & 0xff}%02x").mkString

  def main(args: Array[String]): Unit = {
    val sfDir = if (args.nonEmpty) args(0) else "/root/testdata/sf0.001"
    val spark = graft.GraftSession.local(4)
    val flagships = Seq(
      "j_star_revenue_by_region" ->
        "Star join: broadcast dims, one shuffled fact join, decimal-exact partial agg",
      "a4_daily_value_trend" ->
        "Flagship daily trend: scan -> partial agg -> exchange -> final agg -> sort",
      "u7_tfidf_top_terms" ->
        "TF-IDF: one token explode pass; df via window; L2 window; TakeOrdered",
      "dedup_minhash_lsh" ->
        "MinHash+LSH: persisted shingle frame, codegen'd hashes, banded self-join, candidates verified on the cached arrays",
      "ann_lsh_topk" ->
        "LSH ANN: map-only bucket sketch, bucket-restricted broadcast join, rank window",
      "asof_join_purchase_click" ->
        "As-of join: union streams, single user_id shuffle, running last_value",
      "s1_latest_events" ->
        "Top-N: TakeOrderedAndProject (per-partition top-n + driver merge)",
      "dedup_contamination" ->
        "Decontamination: broadcast benchmark shingle set, map-only corpus probe, one groupBy",
      "u6_npmi_pairs" ->
        "NPMI coherence: one word-restricted explode+distinct, broadcast topic joins, keyed joint agg",
      "u4_batch_inference" ->
        "Batch inference: map-only mapPartitions scoring, no shuffle before the output sort",
      "stream_interval_join" ->
        "Stream-stream interval join (batch twin): user_id equi-join carries the shuffle, range predicate is a residual filter",
      "pack_sequences" ->
        "Sequence packing: bucket-partitioned running sum, no global sort; one shuffle on the bucket key",
      "sink_training_shards" ->
        "Shard writer: one shuffle on the deterministic shard key, sorted within shard, one file per partition dir",
      "dedup_substring_spans" ->
        "Substring-span dedup: one rolling-hash explode, min/max window over h (no self-join), one doc aggregate",
      "pipeline_pretrain_corpus" ->
        "Composed pretrain pipeline: gate -> md5-window dedup -> hash sample -> shard aggregate, one tokenize pass",
      "j_range_bucketed" ->
        "Range join via bucket blocking: neighbor-bucket explode -> hash equi-join + exact residual, no nested loop",
      "dedup_incremental" ->
        "Incremental dedup: per-side band keys, new x old collision join only, verify candidates on the cached arrays",
      "text_dsir_weights" ->
        "DSIR weights: one bigram explode, both bucket counts from a single window, one doc aggregate",
      "graph_pagerank" ->
        "PageRank: per-iteration rank-edge join + partial agg; edge aggregates dedupe at RUNTIME via AQE stage reuse (one fact scan executed; compile plan shows 4 copies)",
      "ml_kmeans" ->
        "k-means: broadcast-model map-side assignment (fold + array_min), one (cid,pos) partial-aggregated update shuffle",
      "dedup_semantic" ->
        "SemDeDup: label-co-partitioned pair join, broadcast centroids, cluster-bounded quadratic",
      "sink_zorder_layout" ->
        "Z-order sink: integer Morton codes, z-bucket clustered write, per-bucket min/max profile",
      "ann_pq_topk" ->
        "PQ/ADC search: broadcast codebooks + query side, map-side 8-term ADC sum, top-2k rescore",
      "graph_harmonic" ->
        "Harmonic centrality: 4 relational BFS rounds, lineage truncated per round",
      "lda_em_topics" ->
        "Relational EM LDA (final round read): checkpointed E-step feeds vocab-scale phi aggregate; rank window over vocab x K only",
      "a_quantile_sketch" ->
        "Quantile sketch: ONE keyed sort window pass; compaction schedule on the 5-row count table broadcast back; integer rank selection",
      "dedup_prefix_filter" ->
        "Prefix-filtered similarity join: rare-tail prefix index join for candidates, full-set verify on candidates only",
      "dedup_substring_exact" ->
        "Exact substring spans: checkpointed window firehose, df-bounded pair join, gaps-and-islands diagonal runs",
      "sample_weighted_ares" ->
        "Weighted WOR sample: map-side exponential keys, one per-stratum topK",
      "dedup_bloom_contamination" ->
        "Bloom decontamination: <=4096-row broadcast bit table, map-side probe, count-k conjunction, one doc aggregate",
      "ann_ivfpq_topk" ->
        "IVF-ADC: broadcast centroids + residual codebooks, nprobe-bounded cell equi-join, map-side 8-term residual ADC, 50-deep exact rescore",
      "graph_hyperball" ->
        "HyperBall: per-round register-max merge on the |V|x16 register table (lineage truncated); harmonic from one fixed-order delta expression",
      "text_unigram_encode" ->
        "Unigram Viterbi encode: ONE codegen'd HOF fold per word, vocab as broadcast map literal — no join/shuffle before the rank window",
      "corpus_doremi_weights" ->
        "DoReMi weights: doc-scale score join, one source-level aggregate, integer-quantized tilt + normalization",
      "stream_lsh_incremental" ->
        "Streaming LSH probe (batch twin): per-side band keys, new x old candidate equi-join only — no verify stage, no corpus self-join",
      "scd2_status_history" ->
        "SCD2 history: both row_numbers, the run rollup and the version/lead window inside ONE customer-keyed exchange",
      "agg_incremental_merge" ->
        "Incremental rollup refresh: state + max-day-delta partials merged by an algebraic groupBy — refresh cost ∝ delta",
      "w_sessionize_gap" ->
        "Gap sessionization: lag + running flag-sum islands and the session rollup share a single user-keyed shuffle",
      "emb_pca_power" ->
        "Distributed PCA: one-pass d² covariance sums (checkpointed), then per-round d²-row join + partial agg; 1-row max broadcast per round",
      "corpus_curriculum_phases" ->
        "Curriculum quartiles: bounded-bin exact rank — the only unpartitioned window runs over the ≤101-row bin table, never the corpus",
      "dedup_source_overlap" ->
        "Source-overlap matrix: shingle-keyed self-join with catalog-bounded fan-out, broadcast size marginals",
      "retrieval_ndcg_eval" ->
        "nDCG eval: broadcast query side, one corpus top-k pass + one aggregated relevant-pool pass, sequence-exploded ideal gains",
      "retrieval_mmr_rerank" ->
        "MMR rerank: checkpointed candidate/pair frames; each greedy round joins only picks-scale state (post round-10 lineage fix)",
      "retrieval_maxscore_topk" ->
        "MaxScore-pruned BM25: |terms|-row UB/θ decisions, essential-postings semi-join bounds the scored set; exact vs the unpruned oracle",
      "graph_kcore" ->
        "k-core peeling: checkpointed edge aggregate + per-round |V|-row node state; two semi-joins + one degree count per round",
      "ml_logreg_gd" ->
        "GD logistic trainer: per-step corpus pass with 1-row weight broadcast; gradient shuffle carries 4 numbers; checkpointed weight state",
      "emb_hard_negatives" ->
        "Hard-negative mining: broadcast query side over two map-side corpus scans (positive-max partial-aggregates to Q rows); label-exclusion + margin are rank arithmetic on k·Q rows",
      "ml_als_factors" ->
        "Rank-2 ALS trainer: one ratings shuffle per half-step (5 micro-long sums partial-aggregated map-side), side-cardinality 2x2 solves, checkpointed alternation state",
      "ml_knn_shapley" ->
        "KNN-Shapley valuation: broadcast probe side over one corpus scan; rank + lead + suffix sum per probe partition; top/bottom via TakeOrderedAndProject before the bounded rank windows",
      "a_pareto_front" ->
        "Skyline: 1-row min/max grid broadcast, <=1001-bucket envelope window, survivor-only dominance anti-join",
      "mm_phash_dedup" ->
        "Perceptual-hash dedup: map-only batched hash pass, banded equi-join candidates, O(1) Hamming verify — never all-pairs",
      "ml_gmm_em" ->
        "GMM EM trainer: per-round corpus pass with 1-row parameter broadcast; sufficient-statistic shuffle carries 7 quantized longs; checkpointed state",
      "j_scd2_pointintime" ->
        "Point-in-time lookup: pre-filtered probe side, custkey equi-join with the interval predicate as a residual — no nested loop",
      "dedup_cluster_reps_lsh" ->
        "Cluster reps over LSH pairs: star-CC rounds run as a fixed-plan RDD kernel, so the plan is one scan of the persisted labels plus the output sort",
      "lda_em_topics_dist" ->
        "Distributed EM topics: the model-scale phi is ranked on the driver; the plan is one local partition of K x TopWords rows",
    )
    val sb = new StringBuilder
    sb.append("# Flagship physical plans (`explain(\"formatted\")`)\n\n")
    sb.append(s"Generated by `graft.tools.DumpPlans` on `$sfDir`. ")
    sb.append("PlanSpec asserts the load-bearing properties; this file is the human-readable evidence.\n")
    flagships.foreach { case (name, note) =>
      val plan = Probe.formattedPlan(graft.SparkEntry.queries(name)(spark, sfDir))
      sb.append(s"\n## $name\n\n$note\n\nPlan hash: `${planHash(plan)}` (the whole plan)\n\n```\n")
      // keep the tree; drop the verbose per-node detail past 120 lines
      val (tree, detail) = plan.linesIterator.toSeq.span(!_.startsWith("(1) Scan"))
      sb.append((tree ++ detail.take(40)).mkString("\n"))
      sb.append("\n```\n")
    }
    Files.writeString(Paths.get("PLANS.md"), sb.toString)
    println(s"[plans] wrote PLANS.md (${flagships.size} queries)")
    spark.stop()
  }
}
