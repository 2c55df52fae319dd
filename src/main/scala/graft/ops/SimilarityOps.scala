package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import Ranking.{topK, topKSql}
import QRound.{qroundLong, qroundLongSql}

/** Similarity search over the embeddings table (north-star M9, SURVEY §7.4):
  * brute-force cosine top-k as the exact baseline, random-hyperplane LSH
  * bucketing as the approximate scale path, and a label-partitioned (IVF-
  * style coarse cell) probe.
  *
  * Scale notes:
  *  - Brute force is a broadcast nested loop: the QUERY side (20 vectors)
  *    broadcasts; the corpus streams once, each partition emits its local
  *    top-k via the rank window on (query, corpus-partition) — at 1000
  *    executors this is a map-side scan + tiny shuffle of k·Q rows.
  *  - LSH: each vector maps to one 6-bit bucket (map-only sketch);
  *    neighbor search touches only the query's bucket. Bucket skew is
  *    data-dependent; at scale use multi-table LSH (L independent plane
  *    sets) unioned, which keeps recall while bounding bucket size.
  *  - All float math is widened to double BEFORE any arithmetic; both
  *    engines then execute identical IEEE sequences (sequential left folds)
  *    so scores match bit-for-bit pre-rounding.
  */
object SimilarityOps {
  import Tables._

  type Q = (SparkSession, String) => DataFrame

  val Dim = 64
  val NumPlanes = 6
  val TopK = 5
  val NumQueries = 20
  val NumLshTables = 4
  val PlanesPerTable = 4

  /** Retrieval depth graded by the nDCG eval (retrieval_ndcg_eval). */
  val NdcgK = 10

  /** Retrieval-fusion config, shared verbatim by the Spark queries and
    * their DuckDB oracles (a literal drifting on one side would read as
    * a cross-engine miss): RRF constant C and source-list depth
    * (retrieval_rrf_fusion), MMR trade-off λ and pick count
    * (retrieval_mmr_rerank), per-cell quota (sample_cluster_balanced).
    */
  val RrfC = 60
  val FusionDepth = 20
  val MmrLambda = 0.5
  val MmrPicks = 5
  val ClusterQuota = 10

  /** Product-quantization config: M subspaces × SubDim dims, K' codes
    * per subspace, Lloyd rounds (ann_pq_topk + its oracle).
    */
  val PqM = 8
  val PqSubDim = 8
  val PqK = 16
  val PqIters = 2

  /** Coarse cells probed per query by the IVF-ADC index (of KmK=8).
    * nprobe=4 on THIS corpus: the synthetic embeddings are near-isotropic
    * (no planted cluster structure), so coarse cells capture cosine
    * neighborhoods weakly and recall tracks the scanned fraction almost
    * linearly (measured at sf0.001: nprobe=2 → 0.35, nprobe=4 → 0.60).
    * On real clustered embeddings the standard setting is nprobe ≪ K
    * with recall far above the scanned fraction; the INDEX mechanics are
    * identical — only the data's cluster structure differs.
    */
  val Nprobe = 4

  /** KNN-Shapley config (ml_knn_shapley): K of the K-NN utility and the
    * number of top/bottom-valued training points shipped.
    */
  val ShapK = 5
  val ShapTop = 15

  /** Greedy k-center picks (sample_coreset_kcenter). */
  val KcPicks = 5

  /** The KNN-Shapley pipeline downstream of candidate generation —
    * shared by the exact (ml_knn_shapley) and LSH-restricted
    * (ml_knn_shapley_lsh) variants so the recurrence cannot drift:
    * rank per probe, Theorem-1 terms nano-quantized per row, suffix
    * sum, per-point aggregate, top/bottom-ShapTop report. Input:
    * (query_id, qlabel, vec_id, label, cos_exact [, ...]) plus the full
    * training roster (vec_id, label): every training point competes for
    * the report slots — a point no probe ever scored (possible only
    * under the LSH bucket restriction) enters with its estimated value
    * of exactly 0 via the left-join default instead of silently
    * vanishing. For the exact variant the roster join is an identity.
    */
  private def shapleyReport(scored: DataFrame, roster: DataFrame): DataFrame = {
    import scored.sparkSession.implicits._
    val wr = Window.partitionBy($"query_id")
      .orderBy(desc("cos_exact"), asc("vec_id"))
    val ranked = scored
      .withColumn("i", row_number().over(wr))
      .withColumn("m", when($"label" === $"qlabel", 1L).otherwise(0L))
      .withColumn("nn",
        count(lit(1)).over(Window.partitionBy($"query_id")))
      .withColumn("m_next", lead($"m", 1).over(wr))
    val terms = ranked.withColumn("t_e9",
      when($"m_next".isNull,
        qroundLong($"m".cast("double") * 1e9
          / greatest(lit(ShapK.toLong), $"nn").cast("double")))
        .otherwise(qroundLong(($"m" - $"m_next").cast("double")
          * least(lit(ShapK.toDouble), $"i".cast("double")) * 1e9
          / (lit(ShapK.toDouble) * $"i".cast("double")))))
      .withColumn("shap_e9", sum($"t_e9").over(
        Window.partitionBy($"query_id").orderBy($"i")
          .rowsBetween(Window.currentRow, Window.unboundedFollowing)))
    val perTrain = roster.join(
        terms.groupBy($"vec_id", $"label")
          .agg(sum($"shap_e9").as("shap_e9_sum")),
        Seq("vec_id", "label"), "left")
      .na.fill(0L, Seq("shap_e9_sum"))
    def side(tag: String, ord: Seq[Column]): DataFrame =
      perTrain.orderBy(ord: _*).limit(ShapTop)
        .withColumn("rank", row_number().over(Window.orderBy(ord: _*)))
        .withColumn("bucket", lit(tag))
    side("top", Seq(desc("shap_e9_sum"), asc("vec_id")))
      .unionByName(side("bottom", Seq(asc("shap_e9_sum"), asc("vec_id"))))
      .select($"bucket", $"rank", $"vec_id", $"label", $"shap_e9_sum",
        round($"shap_e9_sum" / 1e9 / lit(NumQueries), 6).as("avg_value"))
      .orderBy($"bucket", $"rank")
  }

  /** ADC candidates rescored per query by IVF-ADC (FAISS's refine
    * factor). Deeper than the flat scan's 2k: 16-code subquantizers on
    * isotropic data rank coarsely, so the recall lever is the exact
    * rescore depth, not the probed fraction (measured at sf0.001,
    * nprobe=4: rescore 10 → 0.38 recall@5, rescore 50 → 0.77 / 0.73
    * at sf0.01).
    * 50 exact rescores per query is negligible at any scale.
    */
  val IvfRescoreK = 10 * TopK

  /** ann_pq_topk's corpus codebooks: model-scale (M×K'×SubDim doubles)
    * driver state, a Memo.index entry.
    */
  private def pqTrain(s: SparkSession, d: String): Array[Array[(Int, Seq[Double])]] =
    Memo.index("pq_flat", s, d)(lloyd(vectors(s, d), PqM, PqSubDim, PqK, PqIters))

  // ---- the vector primitives: each written once, beside its SQL twin ----

  /** The corpus every vector op reads, (vec_id, label, e, norm): the
    * embedding widened to double before any arithmetic, and its L2 norm.
    * Callers select what they need; column pruning drops the rest.
    */
  private[ops] def vectors(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    embeddings(s, d)
      .select($"vec_id", $"label", transform($"embedding", x => x.cast("double")).as("e"))
      .withColumn("norm", l2Norm($"e"))
  }

  private[ops] def widenedSql(embedding: String): String =
    s"list_transform($embedding, x -> CAST(x AS DOUBLE))"

  /** Codegen'd MAC loop; same fold order as the oracle's list_reduce. */
  private[ops] def dot(a: Column, b: Column): Column =
    graft.functions.VecDot.vec_dot(a, b)

  /** The dot product's DuckDB twin over the first `n` elements (all Dim
    * by default; a prefix length for truncated search).
    */
  private[ops] def dotSql(a: String, b: String, n: String = s"$Dim"): String =
    s"""list_reduce(list_prepend(0.0,
       |  list_transform(range($n), i -> $a[i+1] * $b[i+1])),
       |  (x, y) -> x + y)""".stripMargin

  private[ops] def l2Norm(e: Column): Column = sqrt(dot(e, e))

  private[ops] def l2NormSql(e: String): String =
    s"""sqrt(list_reduce(list_prepend(0.0, list_transform($e, x -> x * x)),
       |      (a, b) -> a + b))""".stripMargin

  /** Squared L2 distance as a left fold from 0.0 in element order, the
    * same IEEE sequence in both engines.
    */
  private def sqDist(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => (x - y) * (x - y)), lit(0.0), (acc, x) => acc + x)

  /** [[sqDist]]'s DuckDB twin over the elements of `b`, reading `a` from
    * offset `aOff` when `a` is a whole vector and `b` one subspace's
    * codeword.
    */
  private[ops] def sqDistSql(a: String, b: String, aOff: String = ""): String = {
    val ai = if (aOff.isEmpty) s"$a[i+1]" else s"$a[$aOff + i + 1]"
    s"""list_reduce(list_prepend(0.0, list_transform(range(len($b)),
       |      i -> ($ai - $b[i+1]) * ($ai - $b[i+1]))),
       |    (x, y) -> x + y)""".stripMargin
  }

  /** One (d, k) struct per codeword of `cb`, k ascending, with d the
    * squared L2 from `v`: `array_min(...).k` is the nearest code (ties to
    * the lower id), `array_sort` the probe order. ONE transform over the
    * k-ordered codebook literal instead of K unrolled distance trees, so
    * the expression tree stays small (128 unrolled aggregate trees
    * re-optimized every pass were where the ann_pq/ann_ivfpq cost sat).
    * The transform index is read as the code id, which needs the keys to
    * be exactly 0 until K; the require makes a gapped codebook fail
    * instead of mislabelling every code.
    */
  private[graft] def codeDists(cb: Array[(Int, Seq[Double])], v: Column): Column = {
    require(cb.map(_._1).sorted.sameElements(cb.indices),
      s"codebook keys must be 0 until ${cb.length}: ${cb.map(_._1).sorted.mkString(",")}")
    transform(typedLit(cb.sortBy(_._1).map(_._2)), (c, k) =>
      struct(sqDist(v, c).as("d"), k.as("k")))
  }

  /** Lloyd's k-means over `m` subspaces of width `w` at once: plain
    * k-means is m = 1, w = Dim; PQ trains its PqM codebooks together.
    * One corpus pass plus one (m, code, pos) shuffle per round. Init: the
    * k smallest vec_ids' subvectors. Codewords round to 6dp per round, so
    * the trajectory is engine-portable; an empty code keeps its previous
    * codeword. `corpus` exposes (vec_id, e): the raw embeddings for
    * k-means and the flat PQ index, per-cell residuals for IVF-ADC.
    */
  private[ops] def lloyd(corpus: DataFrame, m: Int, w: Int, k: Int, iters: Int)
      : Array[Array[(Int, Seq[Double])]] = {
    import corpus.sparkSession.implicits._
    val c = corpus.select($"vec_id", $"e")
    val init = c.orderBy($"vec_id").limit(k).collect().map(_.getSeq[Double](1))
    var cbs = Array.tabulate(m)(j =>
      init.zipWithIndex.map { case (e, i) => (i, e.slice(j * w, j * w + w)) })
    for (_ <- 1 to iters) {
      val groups = c.select(explode(array((0 until m).map { j =>
          val sub = slice($"e", j * w + 1, w)
          struct(lit(j).as("m"),
            array_min(codeDists(cbs(j), sub)).getField("k").as("code"),
            sub.as("sub"))
        }: _*)).as("g"))
        .select($"g.m", $"g.code", posexplode($"g.sub"))
        .groupBy($"m", $"code", $"pos").agg(round(avg($"col"), 6).as("v"))
        .groupBy($"m", $"code").agg(
          transform(array_sort(collect_list(struct($"pos", $"v"))),
            x => x.getField("v")).as("c"))
        .collect().map(r => (r.getInt(0), r.getInt(1)) -> r.getSeq[Double](2)).toMap
      cbs = Array.tabulate(m)(j => cbs(j).map { case (i, old) =>
        (i, groups.getOrElse((j, i), old))
      })
    }
    cbs
  }

  /** The PqM code columns `code_m` of vector column `v`. */
  private def pqCodes(cbs: Array[Array[(Int, Seq[Double])]], v: Column): Seq[Column] =
    (0 until PqM).map { m =>
      array_min(codeDists(cbs(m), slice(v, m * PqSubDim + 1, PqSubDim)))
        .getField("k").as(s"code_$m")
    }

  /** ADC distance of query vector `q` to a coded row: per subspace the
    * squared L2 to the codeword its `code_m` selects, summed in fixed
    * m-order, so the value is exact in both engines.
    */
  private def adc(cbs: Array[Array[(Int, Seq[Double])]], q: Column): Column =
    (0 until PqM).map { m =>
      sqDist(slice(q, m * PqSubDim + 1, PqSubDim),
        element_at(typedLit(cbs(m).sortBy(_._1).map(_._2)), col(s"code_$m") + 1))
    }.reduce(_ + _)

  /** The IVF residual e − c(cid) of vector `e` to the trained centroid
    * of cell `cid` (element_at over the k-ordered centroid literal, a
    * broadcast lookup): what the residual PQ codes, corpus side and
    * query side.
    */
  private def residual(s: SparkSession, d: String, e: Column, cid: Column): Column =
    zip_with(e,
      element_at(typedLit(MLOps.kmeansCentroids(s, d).sortBy(_._1).map(_._2)), cid + 1),
      (x, c) => x - c)

  /** [[residual]]'s DuckDB twin, `c` the centroid's vector. */
  private def residualSql(e: String, c: String): String =
    s"list_transform(range($Dim), i -> $e[i+1] - $c[i+1])"

  /** Corpus assigned to its trained coarse cell (argmin over the k-means
    * centroids, ties on cid) with the per-cell residual re = e − c(cid) —
    * the vector the PQ stage of IVF-ADC codes. Map-only given the
    * broadcast centroid literals.
    */
  private def ivfAssigned(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val cents = graft.ops.MLOps.kmeansCentroids(s, d)
    vectors(s, d).select($"vec_id", $"e", $"norm")
      .withColumn("cid", array_min(codeDists(cents, $"e")).getField("k"))
      .withColumn("re", residual(s, d, $"e", $"cid"))
  }

  /** Residual PQ codebooks for the IVF-ADC index: same trainer as the
    * flat index, run on the residual corpus (Jégou et al. §IV — coding
    * residuals concentrates the quantizer's budget on within-cell
    * variance). The residual frame is localCheckpoint'ed for the
    * training passes only. A Memo.index entry, like [[pqTrain]].
    */
  private def ivfResidualCbs(s: SparkSession, d: String): Array[Array[(Int, Seq[Double])]] =
    Memo.index("pq_ivf_residual", s, d) {
      import s.implicits._
      lloyd(ivfAssigned(s, d).select($"vec_id", $"re".as("e")).localCheckpoint(),
        PqM, PqSubDim, PqK, PqIters)
    }

  /** Deterministic hyperplanes: java.util.Random(42) Gaussians (the LCG and
    * nextGaussian algorithms are fixed by the Java spec, so these constants
    * are stable across JVMs; the oracle embeds the same literals).
    */
  lazy val planes: Array[Array[Double]] = {
    val rnd = new java.util.Random(42)
    Array.fill(NumPlanes, Dim)(rnd.nextGaussian())
  }

  /** L independent plane sets for multi-table LSH (union of L bucket
    * joins keeps recall high while each table's buckets stay small).
    */
  lazy val multiPlanes: Array[Array[Array[Double]]] = {
    val rnd = new java.util.Random(4242)
    Array.fill(NumLshTables, PlanesPerTable, Dim)(rnd.nextGaussian())
  }

  /** Plane-set generator for arbitrary bucket configs (SimilaritySpec
    * measures recall at two of these). At scale the plane count is a
    * function of corpus size: k = ceil(log2(n / targetBucketSize)) keeps
    * the expected bucket population constant as data grows — 6 fixed
    * planes = 64 buckets would mean ~1.6 TB per bucket at 100 TB.
    */
  def planesFor(k: Int, seed: Long): Array[Array[Double]] = {
    val rnd = new java.util.Random(seed)
    Array.fill(k, Dim)(rnd.nextGaussian())
  }

  /** Sign-bucket of a (double) embedding under an arbitrary plane set. */
  def lshBucketFor(planeSet: Array[Array[Double]])(e: Column): Column =
    planeSet.zipWithIndex.map { case (p, j) =>
      when(dot(e, array(p.toIndexedSeq.map(lit): _*)) > 0,
        lit(1L << j)).otherwise(lit(0L))
    }.reduce(_ + _)

  /** (vec_id, tbl, bucket) rows, one per LSH table: the Spark twin of
    * [[multiBucketSql]].
    */
  private[ops] def multiBuckets(v: DataFrame): DataFrame = {
    import v.sparkSession.implicits._
    v.select($"vec_id", posexplode(array((0 until NumLshTables).map(t =>
        lshBucketFor(multiPlanes(t))($"e")): _*)))
      .toDF("vec_id", "tbl", "bucket")
  }

  private def topkWithin(s: SparkSession, pairs: DataFrame): DataFrame = {
    import s.implicits._
    topK(pairs, Seq($"query_id"), Seq(desc("cos_exact"), asc("vec_id")), TopK, Some("rank"))
      .select($"query_id", $"rank", $"vec_id".as("neighbor_id"),
        round($"cos_exact", 6).as("cosine"))
      .orderBy("query_id", "rank")
  }

  val queries: Map[String, Q] = Map[String, Q](
    // Exact ANN baseline: top-5 cosine neighbors for the first 20 vectors.
    "ann_cosine_topk" -> ((s, d) => {
      import s.implicits._
      val v = vectors(s, d)
      val q = v.filter($"vec_id" < NumQueries)
        .select($"vec_id".as("query_id"), $"e".as("qe"), $"norm".as("qn"))
      val pairs = v.join(broadcast(q), $"vec_id" =!= $"query_id")
        .withColumn("cos_exact", dot($"e", $"qe") / ($"norm" * $"qn"))
      topkWithin(s, pairs)
    }),

    // Filtered vector search (the metadata-predicate ANN every retrieval
    // stack needs — FAISS IDSelector / vector-DB "pre-filter"): top-k
    // cosine among only the candidates whose joined document row passes
    // the predicate (lang = 'en'). PRE-filter strategy: the predicate
    // applies BEFORE any distance computation, so the scan prunes first
    // and cost ∝ selectivity × corpus, never corpus + post-hoc discard —
    // at 100 TB the lang column rides the same scan as the embedding
    // (or a partition key), and a selective predicate turns into
    // partition pruning. Post-filtering an unfiltered top-k is the wrong
    // order: it returns < k rows whenever the predicate is selective.
    // Query vectors are NOT filtered — the query side is a lookup, not a
    // candidate.
    "ann_filtered_topk" -> ((s, d) => {
      import s.implicits._
      val v = vectors(s, d)
      val meta = documents(s, d).select($"doc_id".as("vec_id"), $"lang")
      val q = v.filter($"vec_id" < NumQueries)
        .select($"vec_id".as("query_id"), $"e".as("qe"), $"norm".as("qn"))
      val cand = v.join(meta, "vec_id").filter($"lang" === "en")
      val pairs = cand.join(broadcast(q), $"vec_id" =!= $"query_id")
        .withColumn("cos_exact", dot($"e", $"qe") / ($"norm" * $"qn"))
      topkWithin(s, pairs)
    }),

    // Hard-negative mining for contrastive embedding training (the DPR
    // recipe, Karpukhin et al. 2020 §3.2: the strongest training signal
    // is the top-ranked NON-positive; reference anchor: the labeled
    // embedding corpus its sentiment/topic models consume). Per anchor
    // (the first NumQueries vectors): hard negatives = top-5 cosine
    // neighbors whose label differs from the anchor's; margin =
    // best same-label cosine − negative cosine, so margin ≤ 0 flags the
    // pairs where a negative outranks every positive — exactly the pairs
    // a contrastive batch should contain. Determinism: both cosines are
    // the codegen'd fixed-fold dot (bit-identical to the oracle's
    // list_reduce), MAX over them is order-insensitive, and the margin
    // is one exact subtraction of two such doubles before the only
    // rounding. Scale: two broadcast map-side corpus scans (the scored
    // frame is consumed by the positive-max and the negative-rank
    // branches; the max partial-aggregates to Q rows, so re-scanning
    // beats shuffling the full Q×N pair frame twice) — at 100 TB swap
    // the brute-force candidate generation for any ann_* index and keep
    // the label-exclusion + margin logic, which is rank arithmetic on
    // k·Q rows. Anchors with no same-label peer yield NULL margins
    // (left join) rather than silently dropping the anchor.
    "emb_hard_negatives" -> ((s, d) => {
      import s.implicits._
      val v = vectors(s, d)
      val q = v.filter($"vec_id" < NumQueries)
        .select($"vec_id".as("query_id"), $"label".as("qlabel"),
          $"e".as("qe"), $"norm".as("qn"))
      val scored = v.join(broadcast(q), $"vec_id" =!= $"query_id")
        .withColumn("cos_exact", dot($"e", $"qe") / ($"norm" * $"qn"))
      val bestPos = scored.filter($"label" === $"qlabel")
        .groupBy($"query_id").agg(max($"cos_exact").as("best_pos"))
      topK(scored.filter($"label" =!= $"qlabel"),
          Seq($"query_id"), Seq(desc("cos_exact"), asc("vec_id")), TopK, Some("rank"))
        .join(broadcast(bestPos), Seq("query_id"), "left")
        .select($"query_id", $"rank", $"vec_id".as("negative_id"),
          round($"cos_exact", 6).as("cosine"),
          round($"best_pos" - $"cos_exact", 6).as("margin"))
        .orderBy("query_id", "rank")
    }),

    // Exact KNN-Shapley data valuation (Jia et al., PVLDB 2019,
    // "Efficient Task-Specific Data Valuation for Nearest Neighbor
    // Algorithms", Theorem 1): under a K-NN utility the Shapley value of
    // every training point has a CLOSED FORM over one similarity ranking
    // per test probe —
    //   s_(N) = 1[y_(N)=y_q] / max(K, N)
    //   s_(i) = s_(i+1) + (1[y_(i)=y_q] − 1[y_(i+1)=y_q]) · min(K,i)/(K·i)
    // — so the whole valuation is rank + lead + one suffix sum, with no
    // marginal-contribution sampling. This is the principled form of
    // "which training examples help or hurt" curation: mislabeled or
    // off-distribution points surface with NEGATIVE value. Test split =
    // the NumQueries probe vectors, train split = everything else;
    // per-point values sum over probes and the top/bottom ShapTop points
    // ship. Determinism: cosine ties break on vec_id both engines; each
    // recurrence term quantizes to a nano integer BEFORE the suffix sum
    // (the exact rationals have denominators N and K·i, so the per-term
    // rounding is the only float step and both engines round identical
    // IEEE doubles). Scale: the pair frame is the ann_cosine_topk
    // broadcast shape (Q probes ride along each corpus partition; the
    // shuffle carries the Q-partitioned ranked pairs once); the suffix
    // scan is per-probe O(N log N) — the paper's own LSH variant swaps
    // the exact ranking for ANN candidates, which here means feeding any
    // ann_* index's top-k' list into the same recurrence (rank
    // arithmetic on k'·Q rows). Top/bottom rank windows run AFTER
    // .limit(ShapTop) (TakeOrderedAndProject caps the frame first).
    "ml_knn_shapley" -> ((s, d) => {
      import s.implicits._
      val v = vectors(s, d)
      val q = v.filter($"vec_id" < NumQueries)
        .select($"vec_id".as("query_id"), $"label".as("qlabel"),
          $"e".as("qe"), $"norm".as("qn"))
      val train = v.filter($"vec_id" >= NumQueries)
      val scored = train.crossJoin(broadcast(q))
        .withColumn("cos_exact", dot($"e", $"qe") / ($"norm" * $"qn"))
      shapleyReport(scored, train.select($"vec_id", $"label"))
    }),

    // The paper's own scale path, IMPLEMENTED (Jia et al. 2019 §4's
    // LSH-approximate valuation, in this engine's bucket dialect): the
    // Theorem-1 recurrence runs unchanged, but each probe ranks only
    // the training points in ITS 6-bit hyperplane bucket — candidate
    // generation drops from Q×N to Q×bucket, exactly the ann_lsh_topk
    // restriction. A training point absent from a probe's bucket
    // contributes zero for that probe (the sparse approximation — at
    // 100 TB this is what makes per-point valuation affordable), a
    // probe with an empty candidate bucket simply abstains, and a point
    // absent from EVERY probe's bucket still enters the report with its
    // estimated value of exactly 0 (the shared report's roster
    // left-join) so zero-valued and never-scored points are ranked
    // consistently. Same output
    // contract as the exact op, so the two are directly comparable;
    // SimilaritySpec replays this variant exactly and checks the
    // bucket-restriction semantics.
    "ml_knn_shapley_lsh" -> ((s, d) => {
      import s.implicits._
      val v = vectors(s, d).withColumn("bucket", lshBucketFor(planes)($"e"))
      val q = v.filter($"vec_id" < NumQueries)
        .select($"vec_id".as("query_id"), $"label".as("qlabel"),
          $"e".as("qe"), $"norm".as("qn"), $"bucket".as("qbucket"))
      val train = v.filter($"vec_id" >= NumQueries)
      val scored = train.join(broadcast(q), $"bucket" === $"qbucket")
        .withColumn("cos_exact", dot($"e", $"qe") / ($"norm" * $"qn"))
      shapleyReport(scored, train.select($"vec_id", $"label"))
    }),

    // Hybrid retrieval: BM25 lexical ranking ⊕ dense cosine ranking,
    // fused by reciprocal-rank fusion (Cormack et al. 2009:
    // rrf(d) = Σ_lists 1/(C + rank_d), C = 60) — the standard first-stage
    // retriever of RAG/training-data curation stacks. Per hash-sampled
    // query doc (same sampling rule as text_bm25_eval): lexical list =
    // micro-quantized BM25 over the query's top-3 informative terms,
    // dense list = brute-force cosine of the query's embedding
    // (vec_id ≡ doc_id in the fixtures); both truncated to depth 20,
    // fused over their union (full outer join, absent rank contributes
    // 0), top-5 by fused score. Determinism: both rank columns are
    // integers from oracle-stable orderings (BM25 scores are exact
    // integer micro-sums; cosines match bit-for-bit), and the fused
    // score is a fixed-order sum of two exactly-computed 1/(60+r)
    // doubles, so ordering and the rounded score replay in DuckDB.
    // Scale: lexical side costs one query-term-filtered pass (∝ hits);
    // dense side is the broadcast brute-force baseline — swap in any
    // ann_* index for the candidate generation without touching the
    // fusion, which is rank-arithmetic on k·Q rows.
    "retrieval_rrf_fusion" -> ((s, d) => {
      import s.implicits._
      val fused = fusionRankFrames(s, d)
        .withColumn("rrf",
          coalesce(lit(1.0) / (lit(RrfC) + $"lr"), lit(0.0)) +
            coalesce(lit(1.0) / (lit(RrfC) + $"dr"), lit(0.0)))
      topK(fused, Seq($"qdoc"), Seq(desc("rrf"), asc("doc_id")), TopK, Some("rank"))
        .select($"qdoc".as("query_doc"), $"rank", $"doc_id",
          round($"rrf", 6).as("rrf_score"))
        .orderBy("query_doc", "rank")
    }),

    // Rank-biased overlap (round 18; Webber, Moffat & Zobel 2010) —
    // the list-similarity readout OVER the same two rankings the RRF
    // entry fuses: how much do the lexical and dense retrievers AGREE,
    // per query, under top-weighted geometric discounting? Truncated
    // RBO at depth k rewrites per-ITEM: an item in both top-k lists at
    // ranks (lr, dr) joins every agreement set A_d ∩ B_d from depth
    // m = max(lr, dr) on, so its total contribution is
    // W[m] = (1−p)·Σ_{d=m..k} p^{d−1}/d — a rank-indexed ladder
    // evaluated ONCE driver-side and injected nano-quantized into both
    // renderings (the bhZCrit device), making the sum an exact long in
    // both engines. p = 0.9 (the paper's "top-heavy but not myopic"
    // default; ~10 effective ranks). The retrieval-eval use: a LOW rbo
    // says the two retrievers surface different evidence and fusion
    // (the rrf entry) has something to gain; rbo ≈ 1 says dense adds
    // nothing over BM25 for that query. Scale: rank-arithmetic on
    // k·Q rows on top of the shared ranking frames.
    "retrieval_rbo_agreement" -> ((s, d) => {
      import s.implicits._
      val wn = rboWeightNano.toSeq
      fusionRankFrames(s, d)
        .groupBy($"qdoc".as("query_doc"))
        .agg(
          sum(when($"lr".isNotNull && $"dr".isNotNull, 1L).otherwise(0L))
            .as("n_common"),
          sum(when($"lr".isNotNull && $"dr".isNotNull,
            element_at(typedLit(wn), greatest($"lr", $"dr").cast("int")))
            .otherwise(0L)).as("rbo_nano"))
        .withColumn("rbo", round($"rbo_nano" / 1e9, 6))
        .orderBy("query_doc")
    }),

    // Kendall τ between the BM25 and dense rankings (round 18, wave 3)
    // — the third agreement lens over the SAME shared ranking frames:
    // RBO weights the top (geometric discount), τ weights every shared
    // pair equally, so τ ≪ rbo flags tail-order disagreement the
    // top-weighted readout hides (and vice versa). Restricted to docs
    // in BOTH top-k lists, where ranks are distinct — so no tie terms
    // and every count (concordant/discordant over ≤ C(k,2) = 190 pairs
    // per query) is an exact long; the one division is τ_a =
    // (C − D)/(n(n−1)/2), NULL when fewer than 2 shared docs. Scale:
    // pair fan-out is k²-bounded PER QUERY — rank arithmetic on k·Q
    // rows, independent of corpus size, like the rrf/rbo siblings.
    "retrieval_tau_agreement" -> ((s, d) => {
      import s.implicits._
      val fr = fusionRankFrames(s, d)
      val shared = fr.filter($"lr".isNotNull && $"dr".isNotNull)
        .select($"qdoc", $"doc_id", $"lr", $"dr")
      val p2 = shared.select($"qdoc".as("q2"), $"doc_id".as("d2"),
        $"lr".as("l2"), $"dr".as("r2"))
      val pairs = shared.join(p2, $"qdoc" === $"q2" && $"doc_id" < $"d2")
        .groupBy($"qdoc")
        .agg(count(lit(1)).as("n_pairs"),
          sum(when(($"lr" - $"l2") * ($"dr" - $"r2") > 0, 1L)
            .otherwise(0L)).as("concordant"),
          sum(when(($"lr" - $"l2") * ($"dr" - $"r2") < 0, 1L)
            .otherwise(0L)).as("discordant"))
      fr.groupBy($"qdoc")
        .agg(sum(when($"lr".isNotNull && $"dr".isNotNull, 1L)
          .otherwise(0L)).as("n_common"))
        .join(pairs, Seq("qdoc"), "left")
        .select($"qdoc".as("query_doc"), $"n_common",
          coalesce($"n_pairs", lit(0L)).as("n_pairs"),
          coalesce($"concordant", lit(0L)).as("concordant"),
          coalesce($"discordant", lit(0L)).as("discordant"),
          when($"n_common" >= 2, round(
            (coalesce($"concordant", lit(0L)) -
              coalesce($"discordant", lit(0L))) /
              (($"n_common" * ($"n_common" - 1)) / lit(2.0)), 6))
            .as("kendall_tau"))
        .orderBy("query_doc")
    }),
  ) ++ queriesTail

  /** RBO weight ladder W[1..FusionDepth]: W[m] = (1−p)·Σ_{d=m..k}
    * p^{d−1}/d, nano-quantized — evaluated once driver-side (libm pow
    * here is fine: the SAME literal array is injected into both
    * renderings, so engine portability never enters).
    */
  val RboP = 0.9
  lazy val rboWeightNano: Array[Long] = Array.tabulate(FusionDepth) { i =>
    val m = i + 1
    val w = (1 - RboP) *
      (m to FusionDepth).map(dd => math.pow(RboP, dd - 1) / dd).sum
    math.round(w * 1e9)
  }

  /** The dense candidate list of each query doc in `qdocs` (qdoc): its
    * top-FusionDepth corpus vectors by cosine (ties on vec_id), self
    * excluded, as (qdoc, vec_id, rel, e, norm, rn). The query side
    * broadcasts; the corpus streams once.
    */
  private def denseCandidates(s: SparkSession, d: String, qdocs: DataFrame): DataFrame = {
    import s.implicits._
    val v = vectors(s, d)
    val qv = v.join(broadcast(qdocs), $"vec_id" === $"qdoc")
      .select($"qdoc", $"e".as("qe"), $"norm".as("qn"))
    val scored = v.join(broadcast(qv), $"vec_id" =!= $"qdoc")
      .withColumn("rel", dot($"e", $"qe") / ($"norm" * $"qn"))
    topK(scored, Seq($"qdoc"), Seq(desc("rel"), asc("vec_id")), FusionDepth, Some("rn"))
      .select($"qdoc", $"vec_id", $"rel", $"e", $"norm", $"rn")
  }

  /** [[denseCandidates]]'s DuckDB twin: the `qv` and `cand` CTEs over
    * the [[vectorsSql]] CTE `n` and the query-doc CTE `qd`.
    */
  private lazy val denseCandidatesSql: String =
    s"""qv AS (
       |  SELECT qd.qdoc, n.e AS qe, n.norm AS qn
       |  FROM n JOIN qd ON n.vec_id = qd.qdoc),
       |cand AS (${topKSql(
         s"""(SELECT qv.qdoc, n.vec_id,
            |    ${dotSql("n.e", "qv.qe")} / (n.norm * qv.qn) AS rel, n.e, n.norm
            |  FROM n JOIN qv ON n.vec_id <> qv.qdoc)""".stripMargin,
         Seq("qdoc"), Seq("rel DESC", "vec_id ASC"), FusionDepth, Some("rn"))})""".stripMargin

  /** The (qdoc, doc_id, lr, dr) two-ranking frame — BM25 lexical top-k
    * and dense cosine top-k per hash-sampled query doc, full-outer
    * joined — shared by retrieval_rrf_fusion and retrieval_rbo_agreement
    * so both readouts measure the SAME lists (one builder, the
    * intervalJoinOuterPlan discipline).
    */
  private def fusionRankFrames(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    // Pinned: three consumers (query-term extraction, doc lengths, the
    // term-filtered tf pass) would each re-tokenize the corpus. Lazy —
    // materializes on the first action, so plan-only construction
    // (PlanSpec's sweep) stays metadata-only.
    val t = documents(s, d).select($"doc_id", TextOps.tokens($"text").as("t"))
      .localCheckpoint(false)
    val qdocs = DedupOps.hashSample(documents(s, d), "doc_id")
      .select($"doc_id".as("qdoc"))
    val qterms = TextOps.queryTerms(t.join(broadcast(qdocs), $"doc_id" === $"qdoc")
      .select($"qdoc", explode($"t").as("word")))
    val lex = topK(TextOps.bm25Scores(t, t.select($"doc_id", size($"t").as("dl")),
        qterms.withColumn("wt", lit(1L))),
      Seq($"qdoc"), Seq(desc("score"), asc("doc_id")), FusionDepth, Some("lr"))
      .select($"qdoc", $"doc_id", $"lr")
    val dense = denseCandidates(s, d, qdocs)
      .select($"qdoc", $"vec_id".as("doc_id"), $"rn".as("dr"))
    // round 18: k·Q rows with multiple readers (tau reads it twice in
    // one query; every consumer re-built both retrieval sides
    // otherwise) — pin the shared ranking frame itself
    lex.join(dense, Seq("qdoc", "doc_id"), "full_outer")
      .localCheckpoint(false)
  }

  private lazy val queriesTail: Map[String, Q] = Map(
    // Cluster-balanced subset selection (the DataComp/SemDeDup curation
    // pattern): a uniform per-cluster quota over the trained k-means
    // cells, so the curated sample keeps the corpus's mode diversity
    // instead of letting dominant clusters flood it. Within-cluster
    // order is the polynomial hash of vec_id — a deterministic
    // pseudo-random draw that replays in the oracle (same posture as
    // every sample_* query). Scale: assignment is map-only against the
    // broadcast centroid literals; the per-cluster quota is one topK
    // (k·quota output rows).
    "sample_cluster_balanced" -> ((s, d) => {
      import s.implicits._
      val cents = graft.ops.MLOps.kmeansCentroids(s, d)
      val hashed = vectors(s, d)
        .withColumn("cid", array_min(codeDists(cents, $"e")).getField("k"))
        .withColumn("h", graft.functions.PolyHash.poly_hash(
          $"vec_id".cast("string")))
      topK(hashed, Seq($"cid"), Seq(asc("h"), asc("vec_id")), ClusterQuota, Some("rk"))
        .select($"cid", $"rk", $"vec_id")
        .orderBy("cid", "rk")
    }),

    // MMR diversification rerank (Carbonell & Goldstein 1998): greedy
    // re-ordering of a retrieval list that trades query relevance
    // against redundancy with what's already picked —
    // argmax_d [λ·cos(q,d) − (1−λ)·max_{s∈S} cos(d,s)], λ = 0.5, K = 5
    // picks from a depth-20 dense candidate list per hash-sampled query
    // doc. The greedy loop is sequential by nature, so it UNROLLS: pick 1
    // is plain argmax relevance; each later round is a max-sim aggregate
    // of the pairwise-similarity table against the selected set, an
    // anti-join to drop picks, and one argmax window — every frame after
    // candidate generation is (k·Q)²-bounded, so the unroll costs k tiny
    // self-joins, never a corpus pass. Determinism: cosines are
    // bit-identical doubles in both engines, the score is the same
    // fixed-order expression (0.5·rel − 0.5·ms), ties break on doc_id.
    // Scale: candidate generation is the swappable ANN stage; the MMR
    // stage's cost is independent of corpus size by construction.
    "retrieval_mmr_rerank" -> ((s, d) => {
      import s.implicits._
      val Lambda = MmrLambda
      val Picks = MmrPicks
      val qdocs = DedupOps.hashSample(documents(s, d), "doc_id")
        .select($"doc_id".as("qdoc"))
      val cand = denseCandidates(s, d, qdocs)
        .select($"qdoc", $"vec_id", $"rel", $"e", $"norm")
        .localCheckpoint(false)
      val ca = cand.select($"qdoc", $"vec_id".as("a"), $"e".as("ea"), $"norm".as("na"))
      val cb = cand.select($"qdoc", $"vec_id".as("b"), $"e".as("eb"), $"norm".as("nb"))
      val pairsSim = ca.join(broadcast(cb), Seq("qdoc")).filter($"a" =!= $"b")
        .withColumn("sim", dot($"ea", $"eb") / ($"na" * $"nb"))
        .select($"qdoc", $"a", $"b", $"sim")
        .localCheckpoint(false)
      // Round 19 (VERDICT r18 next-round #4): the greedy rounds stay
      // sequential, but the round state rides ONE iterated frame
      // (qdoc, vec_id, rel, pick, ms) — ms is the incremental
      // max-sim-to-picked (max is exact, so max(ms, sim-to-new-winner)
      // is bit-identical to the old per-round groupBy-max over the full
      // picked set), the winner is rank 1 of an unpicked-first window,
      // and the old per-round ms groupBy + inner join + anti-join +
      // union disappear. Every joined side is picks/pairs-scale, so the
      // joins carry explicit broadcast hints — the checkpointed stream
      // side has no stats and planned 32-partition sort-merge joins for
      // ~200-row frames (the measured cost: per-round scheduling, not
      // compute). Same pick semantics: candidates ⊇ picks+1 (depth 20 >
      // K=5) guarantees rank 1 is an unpicked row; ties and score
      // arithmetic are the exact expressions of the old form.
      val w1 = Window.partitionBy($"qdoc").orderBy(desc("rel"), asc("vec_id"))
      var st = cand.select($"qdoc", $"vec_id", $"rel")
        .withColumn("pick",
          when(row_number().over(w1) === 1, lit(1)).otherwise(lit(0)))
        .withColumn("ms", lit(null).cast("double"))
        .localCheckpoint(false)
      for (r <- 2 to Picks) {
        val winners = st.filter($"pick" === r - 1)
          .select($"qdoc", $"vec_id".as("b"))
        val sw = pairsSim.join(broadcast(winners), Seq("qdoc", "b"))
          .select($"qdoc", $"a".as("vec_id"), $"sim")
        val wr = Window.partitionBy($"qdoc")
          .orderBy(asc("picked"), desc("score"), asc("vec_id"))
        st = st.join(broadcast(sw), Seq("qdoc", "vec_id"), "left")
          .withColumn("ms2", when($"ms".isNull, $"sim")
            .when($"sim".isNull, $"ms")
            .otherwise(greatest($"ms", $"sim")))
          .withColumn("picked", $"pick" =!= 0)
          .withColumn("score", lit(Lambda) * $"rel" - lit(1 - Lambda) * $"ms2")
          .withColumn("pick",
            when(row_number().over(wr) === 1 && $"pick" === 0, lit(r))
              .otherwise($"pick"))
          .select($"qdoc", $"vec_id", $"rel", $"pick", $"ms2".as("ms"))
          .localCheckpoint(false)
      }
      st.filter($"pick" > 0)
        .select($"qdoc".as("query_doc"), $"pick", $"vec_id".as("doc_id"))
        .orderBy("query_doc", "pick")
    }),

    // Greedy k-center coreset / farthest-point sampling (Gonzalez 1985's
    // 2-approximation; Sener & Savarese ICLR 2018 "Active Learning for
    // CNNs: A Core-Set Approach") — the DIVERSITY-maximizing sample
    // selector, complementing sample_cluster_balanced (quota-uniform)
    // and MMR (query-relative): seed = lowest vec_id, then each round
    // picks the point FARTHEST (cosine distance) from everything chosen
    // so far, and the final coverage radius (max over the corpus of
    // min-distance to the picks) is the k-center objective the greedy
    // 2-approximates. Determinism: every pairwise distance quantizes to
    // a nano long BEFORE the per-candidate MIN, so the argmax candidate
    // order (md DESC, vec_id ASC) is exact-integer in both engines.
    // Scale: each round is one corpus pass against an r-row broadcast of
    // chosen vectors (KcPicks * corpus total work — how FPS is actually
    // run over embedding lakes), argmax via TakeOrderedAndProject, and
    // the pick state is localCheckpointed per round (the MMR lineage
    // lesson). No windows, no corpus-keyed shuffles beyond the final
    // per-candidate min aggregate.
    "sample_coreset_kcenter" -> ((s, d) => {
      import s.implicits._
      val v = vectors(s, d).localCheckpoint(false) // KcPicks passes + radius
      def minDistTo(sel: DataFrame): DataFrame = {
        val selv = v.join(sel.select($"vec_id"), "vec_id")
          .select($"e".as("se"), $"norm".as("sn"))
        v.join(sel.select($"vec_id"), Seq("vec_id"), "left_anti")
          .crossJoin(broadcast(selv))
          .withColumn("dn",
            qroundLong((lit(1.0) - dot($"e", $"se") / ($"norm" * $"sn")) * 1e9))
          .groupBy($"vec_id").agg(min($"dn").as("md"))
      }
      var sel = v.orderBy($"vec_id").limit(1)
        .select(lit(1).as("pick"), $"vec_id",
          lit(null).cast("double").as("sel_dist"))
        .localCheckpoint(false)
      for (r <- 2 to KcPicks) {
        val next = minDistTo(sel).orderBy(desc("md"), asc("vec_id")).limit(1)
          .select(lit(r).as("pick"), $"vec_id",
            round($"md".cast("double") / 1e9, 6).as("sel_dist"))
        sel = sel.unionByName(next).localCheckpoint(false)
      }
      val rad = minDistTo(sel).agg(max($"md").as("mr"))
      sel.crossJoin(broadcast(rad))
        .select($"pick", $"vec_id", $"sel_dist",
          round($"mr".cast("double") / 1e9, 6).as("radius"))
        .orderBy("pick")
    }),

    // Embedding-space isotropy audit (Ethayarajh EMNLP 2019 on
    // anisotropic representation cones; Mu & Viswanath ICLR 2018
    // "All-but-the-Top"): the average pairwise cosine across ALL N²
    // vector pairs and the common-direction strength ||mean(v̂)|| — the
    // diagnostic that says whether cosine retrieval/dedup over this
    // space is discriminative or squeezed into a cone. Computed WITHOUT
    // any pair join via the sum-vector identity
    //   Σ_{i≠j} cos(i,j) = ||Σ v̂||² − Σ ||v̂||²  (unit norms → − n),
    // so the whole audit is one map-side normalize pass + a dim-keyed
    // 64-row aggregate. Determinism: each normalized component
    // quantizes to a nano long before the per-dim sum, each per-dim
    // square to a micro long before the 64-row sum — both engines then
    // evaluate fixed double expressions over exact integers. Scale:
    // corpus-size work is the single posexplode pass (64N rows,
    // map-side partial agg to 64 rows); everything after is
    // dim-bounded.
    "emb_isotropy" -> ((s, d) => {
      import s.implicits._
      val v = vectors(s, d)
      val dims = v.select($"norm", posexplode($"e").as(Seq("dim", "x")))
        .select($"dim",
          qroundLong($"x" / $"norm" * 1e9).as("xq"))
        .groupBy($"dim").agg(sum($"xq").as("sd"))
      val ss = dims.select(qroundLong(($"sd".cast("double") / 1e9)
          * ($"sd".cast("double") / 1e9) * 1e6).as("t"))
        .agg(sum($"t").as("ss_u"))
      val nn = v.agg(count(lit(1)).as("n"))
      ss.crossJoin(broadcast(nn)).select(
        $"n".as("n_vectors"),
        round((($"ss_u".cast("double") / 1e6) - $"n")
          / ($"n".cast("double") * ($"n" - 1)), 6).as("avg_pairwise_cos"),
        round(sqrt($"ss_u".cast("double") / 1e6) / $"n", 6)
          .as("mean_vec_norm"))
    }),

    // LSH-bucketed ANN: same queries, neighbors restricted to the query's
    // 16-bit hyperplane bucket (the approximate scale path).
    "ann_lsh_topk" -> ((s, d) => {
      import s.implicits._
      val v = vectors(s, d).withColumn("bucket", lshBucketFor(planes)($"e"))
      val q = v.filter($"vec_id" < NumQueries)
        .select($"vec_id".as("query_id"), $"e".as("qe"), $"norm".as("qn"),
          $"bucket".as("qbucket"))
      val pairs = v.join(broadcast(q),
          $"bucket" === $"qbucket" && $"vec_id" =!= $"query_id")
        .withColumn("cos_exact", dot($"e", $"qe") / ($"norm" * $"qn"))
      topkWithin(s, pairs)
    }),

    // Multi-table LSH ANN: L=4 independent plane sets × 4 sign bits.
    // Candidates = union over tables of same-bucket (query, vector)
    // pairs — narrow-key distinct, then the wide vectors re-join for the
    // exact rescore. Higher recall than the single-table form at similar
    // per-bucket cost; the scale default (bucket count grows with L and
    // per-table k — see planesFor).
    "ann_lsh_multi_topk" -> ((s, d) => {
      import s.implicits._
      val v = vectors(s, d)
      val ids = multiBuckets(v)
      val qIds = ids.filter($"vec_id" < NumQueries)
        .toDF("query_id", "tbl", "bucket")
      val candIds = ids.join(broadcast(qIds), Seq("tbl", "bucket"))
        .filter($"vec_id" =!= $"query_id")
        .select($"query_id", $"vec_id").distinct()
      val qv = v.filter($"vec_id" < NumQueries)
        .select($"vec_id".as("query_id"), $"e".as("qe"), $"norm".as("qn"))
      val pairs = candIds.join(v, "vec_id").join(broadcast(qv), "query_id")
        .withColumn("cos_exact", dot($"e", $"qe") / ($"norm" * $"qn"))
      topkWithin(s, pairs)
    }),

    // IVF-style coarse probe: neighbors restricted to the query's label
    // cell (stands in for a centroid assignment; cells are pre-partitioned
    // so the probe scans 1/n_cells of the corpus).
    "ann_ivf_label_topk" -> ((s, d) => {
      import s.implicits._
      val v = vectors(s, d)
      val q = v.filter($"vec_id" < NumQueries)
        .select($"vec_id".as("query_id"), $"e".as("qe"), $"norm".as("qn"),
          $"label".as("qlabel"))
      val pairs = v.join(broadcast(q),
          $"label" === $"qlabel" && $"vec_id" =!= $"query_id")
        .withColumn("cos_exact", dot($"e", $"qe") / ($"norm" * $"qn"))
      topkWithin(s, pairs)
    }),

    // TRUE IVF index probe: cells come from the trained k-means coarse
    // quantizer (MLOps.kmeansCentroids — the model ann_ivf_label_topk's
    // label column merely stands in for). Index build = map-side argmin
    // assignment under the broadcast centroids; probe = the query's own
    // cell (nprobe=1, a corpus query's nearest cell IS its assigned
    // cell), exact-cosine rescore within the cell. The oracle composes
    // the full 3-round training trajectory (MLOps.kmeansCtesSql) with
    // the same probe — training AND search are differentially tested
    // end to end. Scale story: assignment is embarrassingly parallel,
    // the pair join co-partitions on cid, and cell population is
    // balanced by the trainer rather than by the label prior.
    "ann_ivf_kmeans_topk" -> ((s, d) => {
      import s.implicits._
      val cents = MLOps.kmeansCentroids(s, d)
      val assigned = vectors(s, d)
        .withColumn("a", array_min(codeDists(cents, $"e")))
        .select($"vec_id", $"a.k".as("cid"), $"e", $"norm")
      val q = assigned.filter($"vec_id" < NumQueries)
        .select($"vec_id".as("query_id"), $"cid", $"e".as("qe"), $"norm".as("qn"))
      val pairs = assigned.join(broadcast(q),
          Seq("cid")).filter($"vec_id" =!= $"query_id")
        .withColumn("cos_exact", dot($"e", $"qe") / ($"norm" * $"qn"))
      topkWithin(s, pairs)
    }),

    // IVF nprobe sweep — the recall/cost trade-off curve that picks the
    // serve-time probe count (the matryoshka-sweep posture applied to
    // the coarse quantizer): for nprobe ∈ {1,2,4,8}, each query probes
    // its nprobe NEAREST trained cells (distance-ranked, ties on cid —
    // the FAISS probe order) and recall@5 is measured against the exact
    // top-5. With K=8 cells, nprobe=8 probes everything, so the curve
    // provably ends at recall 1.0 — asserted in SimilaritySpec along
    // with monotonicity. Scale: candidate volume grows linearly in
    // nprobe (the knob this query exists to price); the probe ranking
    // is a K-element array sort per query against the broadcast
    // centroids; the exact baseline is the documented brute-force
    // verifier. All four settings share one assignment pass (pinned).
    "ann_ivf_nprobe_sweep" -> ((s, d) => {
      import s.implicits._
      val cents = MLOps.kmeansCentroids(s, d)
      val probes = Seq(1, 2, 4, 8)
      val assigned = vectors(s, d)
        .withColumn("a", array_min(codeDists(cents, $"e")))
        .select($"vec_id", $"a.k".as("cid"), $"e", $"norm")
        .localCheckpoint(false)
      val q = assigned.filter($"vec_id" < NumQueries)
        .withColumn("po", array_sort(codeDists(cents, $"e")))
        .select($"vec_id".as("query_id"), $"e".as("qe"), $"norm".as("qn"),
          explode(array(probes.map(np => struct(lit(np).as("nprobe"),
            slice($"po", 1, np).getField("k").as("cells"))): _*)).as("p"))
        .select($"query_id", $"qe", $"qn", $"p.nprobe".as("nprobe"),
          explode($"p.cells").as("cid"))
      val byCos = Seq(desc("cos"), asc("vec_id"))
      val approx = topK(assigned.join(broadcast(q), Seq("cid"))
          .filter($"vec_id" =!= $"query_id")
          .withColumn("cos", dot($"e", $"qe") / ($"norm" * $"qn")),
        Seq($"nprobe", $"query_id"), byCos, TopK, None)
        .select($"nprobe", $"query_id", $"vec_id".as("neighbor_id"),
          lit(1L).as("hit"))
      val qx = assigned.filter($"vec_id" < NumQueries)
        .select($"vec_id".as("query_id"), $"e".as("qe"), $"norm".as("qn"))
      val exact = topK(assigned.join(broadcast(qx), $"vec_id" =!= $"query_id")
          .withColumn("cos", dot($"e", $"qe") / ($"norm" * $"qn")),
        Seq($"query_id"), byCos, TopK, None)
        .select($"query_id", $"vec_id".as("neighbor_id"))
      exact.crossJoin(broadcast(probes.toDF("nprobe")))
        .join(approx, Seq("nprobe", "query_id", "neighbor_id"), "left")
        .groupBy($"nprobe")
        .agg(count(lit(1)).as("n_pairs"),
          sum(coalesce($"hit", lit(0L))).as("n_hit"))
        .withColumn("recall", round($"n_hit" / $"n_pairs", 6))
        .orderBy("nprobe")
    }),

    // Per-label embedding centroids (class centroids / IVF cell centers):
    // position-wise mean via posexplode — one shuffle on (label, dim),
    // partial-aggregated; the building block for k-means-style assignment.
    "emb_label_centroids" -> ((s, d) => {
      import s.implicits._
      // slice to the 8 dumped dims BEFORE exploding — 8× fewer exploded
      // rows than posexplode-all-then-filter for the same answer; all 64
      // dims compute the same way
      embeddings(s, d)
        .select($"label", posexplode(slice($"embedding", 1, 8)))
        .groupBy($"label", $"pos")
        .agg(round(avg($"col".cast("double")), 6).as("mean_val"))
        .orderBy("label", "pos")
    }),

    // Scalar (SQ8) quantization error profile — the storage path for an
    // embedding corpus at 100 TB: per-dim min/max over the corpus (a
    // 64-row broadcast), affine quantize to 8 bits, and the per-dim
    // reconstruction RMSE / max-abs error a quantized ANN index would
    // carry. Two corpus passes (range, then error), both posexplode +
    // partial-aggregated groupBy(pos) — nothing corpus-sized broadcasts.
    "emb_quantize_error" -> ((s, d) => {
      import s.implicits._
      val x = embeddings(s, d)
        .select(posexplode($"embedding")).toDF("pos", "v")
        .withColumn("v", $"v".cast("double"))
      val rng = x.groupBy($"pos").agg(min($"v").as("lo"), max($"v").as("hi"))
      x.join(broadcast(rng), "pos")
        .withColumn("q",
          when($"hi" === $"lo", lit(0.0))
            .otherwise(round(($"v" - $"lo") / ($"hi" - $"lo") * 255)))
        .withColumn("err", $"v" - ($"lo" + $"q" / 255.0 * ($"hi" - $"lo")))
        .groupBy($"pos")
        .agg(round(sqrt(avg($"err" * $"err")), 6).as("rmse"),
          round(max(abs($"err")), 6).as("max_abs_err"))
        .orderBy("pos")
    }),

    // SQ8 quantized search — the storage path emb_quantize_error
    // profiles, as an actual index probe: candidates are ranked by the
    // dot product of DEQUANTIZED int8 vectors (what a real SQ index
    // stores — 4× smaller than float32, 8× than float64), the top-2k
    // per query then rescored with exact floats. The per-dim (lo, hi)
    // range table is 64 rows — collected and inlined as literals, the
    // same legitimately-bounded driver collect as the capped vocabulary
    // (at scale it is a parquet-footer min/max, refreshed per index
    // build). Quantization arithmetic is identical to
    // emb_quantize_error, so both engines dequantize bit-for-bit.
    // Product quantization ANN (Jégou et al. 2011, "Product Quantization
    // for Nearest Neighbor Search") — THE embedding-compression scheme at
    // corpus scale: 64 dims → 8 subspace codes of 4 bits (8 bytes/vector,
    // 32× smaller than float32). Training runs all 8 per-subspace k-means
    // (K'=16) SIMULTANEOUSLY — one explode carries (subspace, code,
    // subvector) so each Lloyd round is ONE corpus pass + one
    // (m, code, pos) shuffle, not 8 separate trainers; codewords round to
    // 6dp per round (the ml_kmeans portability trick). Search is ADC:
    // dist(q, v) ≈ Σ_m d²(q_sub_m, codeword_m(v)) with the query side
    // exact — computed as an explicit 8-term sum of per-subspace folds,
    // so the value is bit-identical in both engines and candidate
    // ranking needs no rounding. Top-2k ADC candidates rescore by exact
    // cosine (the sq8 contract). The oracle replays training, encoding,
    // and search — the full index lifecycle is differentially tested.
    "ann_pq_topk" -> ((s, d) => {
      import s.implicits._
      val cbs = pqTrain(s, d)
      val corpus = vectors(s, d)
      val coded = corpus.select(
        ($"vec_id" +: $"e" +: $"norm" +: pqCodes(cbs, $"e")): _*)
      val q = corpus.filter($"vec_id" < NumQueries)
        .select($"vec_id".as("query_id"), $"e".as("qe"), $"norm".as("qn"))
      val cands = topK(coded.join(broadcast(q), $"vec_id" =!= $"query_id")
          .withColumn("adc", adc(cbs, $"qe")),
        Seq($"query_id"), Seq(asc("adc"), asc("vec_id")), 2 * TopK, None)
      val rescored = cands
        .withColumn("cos_exact", dot($"e", $"qe") / ($"norm" * $"qn"))
      topkWithin(s, rescored)
    }),

    // IVF-ADC — the composed billion-vector index (Jégou et al. 2011
    // §IV; FAISS IVFADC): the trained k-means coarse quantizer
    // (ann_ivf_kmeans_topk's model) partitions the corpus into cells,
    // PQ codebooks are trained on the per-cell RESIDUALS e − c(cid), and
    // each vector stores (cid, 8 residual codes) ≈ 9 B. Search: rank the
    // query against the 8 cell centroids, probe the nprobe=2 nearest
    // cells, ADC-scan ONLY those cells with the query's per-cell
    // residual q − c(cell), top-2k candidates rescore by exact cosine.
    // Unlike the flat ADC scan (ann_pq_topk) the corpus-wide candidate
    // row never materializes — the scan touches nprobe/K of the data,
    // which is THE property that makes the index viable at 10⁹ vectors
    // (cells are separate partitions; a probe is a partition-pruned
    // read). Every stage is deterministic (6dp-rounded centroids and
    // codewords, fixed-order folds, ties on cid/code/vec_id), so the
    // full lifecycle — coarse train → residual PQ train → encode →
    // nprobe ADC → rescore — replays bit-for-bit in DuckDB.
    "ann_ivfpq_topk" -> ((s, d) => {
      import s.implicits._
      val cents = MLOps.kmeansCentroids(s, d)
      val rcbs = ivfResidualCbs(s, d)
      val coded = ivfAssigned(s, d).select(
        ($"vec_id" +: $"cid" +: $"e" +: $"norm" +: pqCodes(rcbs, $"re")): _*)
      // query probe: top-nprobe cells by centroid distance (ties cid),
      // with the query's per-cell residual for the ADC
      val qp = vectors(s, d)
        .filter($"vec_id" < NumQueries)
        .select($"vec_id".as("query_id"), $"e".as("qe"), $"norm".as("qn"),
          explode(slice(array_sort(codeDists(cents, $"e")), 1, Nprobe)).as("pr"))
        .select($"query_id", $"qe", $"qn", $"pr.k".as("cid"))
        .withColumn("qre", residual(s, d, $"qe", $"cid"))
      val cands = topK(coded.join(broadcast(qp), Seq("cid"))
          .filter($"vec_id" =!= $"query_id")
          .withColumn("adc", adc(rcbs, $"qre")),
        Seq($"query_id"), Seq(asc("adc"), asc("vec_id")), IvfRescoreK, None)
      topkWithin(s, cands
        .withColumn("cos_exact", dot($"e", $"qe") / ($"norm" * $"qn")))
    }),

    "ann_sq8_topk" -> ((s, d) => {
      import s.implicits._
      val v = vectors(s, d)
      val rngRows = v.select(posexplode($"e")).toDF("pos", "x")
        .groupBy($"pos").agg(min($"x").as("lo"), max($"x").as("hi"))
        .orderBy("pos").collect()
      val lo = array(rngRows.toIndexedSeq.map(r => lit(r.getDouble(1))): _*)
      val hi = array(rngRows.toIndexedSeq.map(r => lit(r.getDouble(2))): _*)
      def dq(e: Column): Column = transform(e, (x, i) => {
        val l = element_at(lo, i + 1)
        val h = element_at(hi, i + 1)
        when(h === l, l)
          .otherwise(l + round((x - l) / (h - l) * 255) / 255.0d * (h - l))
      })
      // dequantized vector materialized in its own Project (HOF re-eval)
      val qv = v.select($"vec_id", $"e", $"norm", dq($"e").as("dqe"))
      val q = qv.filter($"vec_id" < NumQueries)
        .select($"vec_id".as("query_id"), $"e".as("qe"), $"norm".as("qn"),
          $"dqe".as("qdqe"))
      val approx = qv.join(broadcast(q), $"vec_id" =!= $"query_id")
        .withColumn("approx", dot($"dqe", $"qdqe"))
      val cands = topK(approx, Seq($"query_id"), Seq(desc("approx"), asc("vec_id")), 2 * TopK, None)
      val rescored = cands
        .withColumn("cos_exact", dot($"e", $"qe") / ($"norm" * $"qn"))
      topkWithin(s, rescored)
    }),

    // Matryoshka truncation sweep (Kusupati et al. 2022, "Matryoshka
    // Representation Learning" — the modern serve-time trade-off: store
    // full vectors, search a prefix): recall@5 of cosine top-5 computed
    // on the first d dims against the full-dim baseline, for d ∈
    // {8,16,32,64}. One explode carries all four truncations through a
    // single corpus×query pass; truncated norms/dots are folds over
    // sliced arrays, exact in both engines, so per-(d, query) rankings
    // need no rounding. The 100 TB story: prefix search reads d/64 of
    // the bytes — this query IS the eval that picks d.
    "ann_matryoshka_recall" -> ((s, d) => {
      import s.implicits._
      val v = vectors(s, d)
      val q = v.filter($"vec_id" < NumQueries)
        .select($"vec_id".as("query_id"), $"e".as("qe"), $"norm".as("qn"))
      val exact = topK(v.join(broadcast(q), $"vec_id" =!= $"query_id")
          .withColumn("cos_full", dot($"e", $"qe") / ($"norm" * $"qn")),
        Seq($"query_id"), Seq(desc("cos_full"), asc("vec_id")), TopK, None)
        .select($"query_id".as("eq"), $"vec_id".as("ev"))
      val truncDims = Seq(8, 16, 32, 64)
      val trunc = topK(v.join(broadcast(q), $"vec_id" =!= $"query_id")
          .select($"vec_id", $"e", $"query_id", $"qe",
            explode(typedLit(truncDims)).as("dim"))
          .withColumn("cos_t",
            dot(slice($"e", lit(1), $"dim"), slice($"qe", lit(1), $"dim")) /
              (l2Norm(slice($"e", lit(1), $"dim")) * l2Norm(slice($"qe", lit(1), $"dim")))),
        Seq($"dim", $"query_id"), Seq(desc("cos_t"), asc("vec_id")), TopK, None)
      trunc
        .join(exact, $"query_id" === $"eq" && $"vec_id" === $"ev", "left")
        .groupBy($"dim", $"query_id")
        .agg((sum(when($"ev".isNotNull, 1).otherwise(0)).cast("double") / TopK).as("r"))
        .groupBy($"dim").agg(round(avg($"r"), 6).as("recall_at_5"))
        .orderBy("dim")
    }),

    // Recall@k evaluation — the quality harness every approximate index
    // needs: join the LSH top-k against the exact top-k ground truth and
    // report per-query hit counts. At scale this runs on a sampled query
    // set (the 20-query side is already the broadcast side in both
    // inputs), so the evaluation costs two index probes + one tiny join,
    // never a corpus scan of its own.
    "ann_recall_at_k" -> ((s, d) => {
      import s.implicits._
      val exact = queries("ann_cosine_topk")(s, d)
        .select($"query_id", $"neighbor_id")
      val approx = queries("ann_lsh_topk")(s, d)
        .select($"query_id", $"neighbor_id").withColumn("hit", lit(1L))
      exact.join(approx, Seq("query_id", "neighbor_id"), "left")
        .groupBy($"query_id")
        .agg(count(lit(1)).as("k"),
          sum(coalesce($"hit", lit(0L))).as("n_hit"))
        .withColumn("recall", round($"n_hit" / $"k", 6))
        .orderBy("query_id")
    }),

    // Graded retrieval-quality eval — nDCG@10 of the exact dense
    // retriever with the embedding LABEL as binary relevance (the
    // standard ranking metric recall@k can't give you: it credits
    // PUTTING the relevant items early, not just finding them). Per
    // query: DCG = Σ rel_i / log2(i+1) over the top-10, IDCG = the same
    // sum with all min(k, |same-label|) relevant items packed at the
    // top, nDCG = DCG/IDCG. Per-rank gains are micro-integer quantized
    // before summing so both engines add exact integers in any order.
    // Scale shape: the query side broadcasts (sampled query set), the
    // corpus streams once for the top-k and once (aggregated) for the
    // per-label relevant counts — two map-side passes, no corpus² term;
    // the eval rides whatever retriever produced the ranked list.
    "retrieval_ndcg_eval" -> ((s, d) => {
      import s.implicits._
      val v = vectors(s, d)
      val q = v.filter($"vec_id" < NumQueries)
        .select($"vec_id".as("query_id"), $"label".as("qlabel"),
          $"e".as("qe"), $"norm".as("qn"))
      val pairs = v.join(broadcast(q), $"vec_id" =!= $"query_id")
        .withColumn("cos_exact", dot($"e", $"qe") / ($"norm" * $"qn"))
      val hits = topK(pairs, Seq($"query_id"), Seq(desc("cos_exact"), asc("vec_id")), NdcgK,
          Some("rank"))
        .withColumn("gain_e6",
          when($"label" === $"qlabel",
            qroundLong(lit(1e6) / log2($"rank" + 1)))
            .otherwise(0L))
      val dcg = hits.groupBy($"query_id")
        .agg(sum($"gain_e6").as("dcg_e6"),
          sum(when($"label" === $"qlabel", 1L).otherwise(0L)).as("n_rel_at_k"))
      val rel = v.join(broadcast(q.select($"query_id", $"qlabel")),
          $"vec_id" =!= $"query_id" && $"label" === $"qlabel")
        .groupBy($"query_id").agg(count(lit(1)).as("n_rel"))
      val ideal = rel
        .withColumn("i",
          explode(sequence(lit(1L), least($"n_rel", lit(NdcgK.toLong)))))
        .withColumn("g_e6", qroundLong(lit(1e6) / log2($"i" + 1)))
        .groupBy($"query_id")
        .agg(max($"n_rel").as("n_rel"), sum($"g_e6").as("idcg_e6"))
      dcg.join(ideal, Seq("query_id"))
        .withColumn("ndcg", round($"dcg_e6" / $"idcg_e6", 6))
        .select($"query_id", $"n_rel", $"n_rel_at_k", $"dcg_e6",
          $"idcg_e6", $"ndcg")
        .orderBy("query_id")
    }),

    // LSH bucket histogram — the skew diagnostic for the ANN path.
    "ann_lsh_bucket_stats" -> ((s, d) => {
      import s.implicits._
      vectors(s, d)
        .withColumn("bucket", lshBucketFor(planes)($"e"))
        .groupBy($"bucket").agg(count("*").as("n_vectors"))
        .orderBy(desc("n_vectors"), asc("bucket"))
        .limit(100)
    }),
  )

  // ---- oracle SQL ----

  /** The PQ training + encoding CTE chain over an ALREADY-DEFINED
    * relation `pv(vec_id, e)`: cb0 init (K' smallest vec_ids'
    * subvectors) → unrolled Lloyd rounds → paF final assignment →
    * pcodes (vec → 8 codes) and cbl/cba (k-ordered codebook lists the
    * ADC indexes into). Mirrors lloyd exactly (6dp-rounded
    * codewords, ties on code id, empty codes keep their codeword).
    * Shared by the flat-ADC oracle (pv = the raw embeddings) and the
    * IVF-ADC oracle (pv = the per-cell residuals).
    */
  private lazy val pqChainSql: String = {
    val F = PqIters
    val iters = (1 to F).map { t =>
      s"""${pqAssignCtes(t.toString, s"cb${t - 1}")},
         |pm$t AS MATERIALIZED (
         |  SELECT pa.m, pa.code, ii.i,
         |    ROUND(AVG(pv.e[pa.m * $PqSubDim + ii.i]), 6) AS val
         |  FROM pa$t pa JOIN pv ON pa.vec_id = pv.vec_id
         |  CROSS JOIN (SELECT unnest(range(1, ${PqSubDim + 1})) AS i) ii
         |  GROUP BY 1, 2, 3),
         |cb$t AS MATERIALIZED (
         |  SELECT p.m, p.k, COALESCE(nw.c, p.c) AS c
         |  FROM cb${t - 1} p LEFT JOIN (
         |    SELECT m, code AS k, list(val ORDER BY i) AS c
         |    FROM pm$t GROUP BY 1, 2) nw
         |  ON p.m = nw.m AND p.k = nw.k)""".stripMargin
    }.mkString(",\n")
    s"""cb0 AS MATERIALIZED (
       |  SELECT mm.m, iv.k,
       |    iv.e[mm.m * $PqSubDim + 1 : mm.m * $PqSubDim + $PqSubDim] AS c
       |  FROM (SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS INT) AS k, e
       |        FROM (SELECT vec_id, e FROM pv ORDER BY vec_id LIMIT $PqK)) iv
       |  CROSS JOIN (SELECT CAST(unnest(range($PqM)) AS INT) AS m) mm),
       |$iters,
       |${pqAssignCtes("F", s"cb$F")},
       |pcodes AS MATERIALIZED (
       |  SELECT vec_id, list(code ORDER BY m) AS codes FROM paF GROUP BY 1),
       |cbl AS MATERIALIZED (
       |  SELECT m, list(c ORDER BY k) AS cl FROM cb$F GROUP BY m),
       |cba AS MATERIALIZED (SELECT list(cl ORDER BY m) AS cbs FROM cbl)""".stripMargin
  }

  private def pqAssignCtes(t: String, cbRef: String) =
    s"""pd$t AS MATERIALIZED (
       |  SELECT pv.vec_id, cb.m, cb.k,
       |    ${sqDistSql("pv.e", "cb.c", s"cb.m * $PqSubDim")} AS dd
       |  FROM pv CROSS JOIN $cbRef cb),
       |pa$t AS MATERIALIZED (
       |  SELECT vec_id, m, k AS code
       |  FROM (${topKSql(s"pd$t", Seq("vec_id", "m"), Seq("dd ASC", "k ASC"), 1, None)}))""".stripMargin

  /** Fixed-order 8-term ADC sum against `cba`, with the query-side
    * vector expression parameterized (`q.qe` for the flat scan, `q.qre`
    * — the per-cell query residual — for IVF-ADC).
    */
  private def pqAdcTermsSql(qvec: String): String =
    (0 until PqM).map { m =>
      s"(${sqDistSql(qvec, s"cba.cbs[${m + 1}][c.codes[${m + 1}] + 1]", s"${m * PqSubDim}")})"
    }.mkString(" +\n")

  /** The PQ oracle: training (unrolled Lloyd rounds), final encoding,
    * and ADC search — mirrors pqTrain + ann_pq_topk exactly (6dp-rounded
    * codewords, fixed-order 8-term ADC sum, ties on code/vec ids).
    */
  private lazy val pqSql: String =
    s"""WITH pv AS MATERIALIZED (
       |  SELECT vec_id, ${widenedSql("embedding")} AS e
       |  FROM embeddings),
       |$pqChainSql,
       |pn AS MATERIALIZED (
       |  SELECT pv.vec_id, pv.e,
       |    ${l2NormSql("pv.e")} AS norm,
       |    pcodes.codes
       |  FROM pv JOIN pcodes ON pv.vec_id = pcodes.vec_id),
       |adcp AS MATERIALIZED (
       |  SELECT c.vec_id, q.query_id, c.e, c.norm, q.qe, q.qn,
       |    ${pqAdcTermsSql("q.qe")} AS adc
       |  FROM pn c
       |  CROSS JOIN (SELECT vec_id AS query_id, e AS qe, norm AS qn
       |              FROM pn WHERE vec_id < $NumQueries) q
       |  CROSS JOIN cba
       |  WHERE c.vec_id <> q.query_id),
       |${adcRescoreSql(2 * TopK)}""".stripMargin

  /** The ADC scan's tail over `adcp` (vec_id, query_id, e, norm, qe, qn,
    * adc): each query's top-`k` candidates by ADC distance (ties on
    * vec_id), rescored by exact cosine — the shared ann_pq_topk /
    * ann_ivfpq_topk search step.
    */
  private def adcRescoreSql(k: Int): String =
    s"""cands AS MATERIALIZED (
       |  SELECT vec_id, query_id, e, norm, qe, qn
       |  FROM (${topKSql("adcp", Seq("query_id"), Seq("adc ASC", "vec_id ASC"), k, None)}))
       |${topkWithinSql(s"SELECT query_id, vec_id, ${dotSql("e", "qe")} / (norm * qn) AS cos_exact FROM cands")}"""
      .stripMargin

  /** The IVF-ADC oracle: the FULL composed lifecycle — k-means coarse
    * training (kmeansCtesSql, shared with ml_kmeans/ann_ivf_kmeans),
    * per-cell residuals, residual-PQ training (pqChainSql over pv =
    * residuals), encoding, query-side nprobe cell ranking, per-cell
    * query residuals, ADC over the probed cells only, exact rescore.
    * Mirrors ann_ivfpq_topk step for step.
    */
  private lazy val ivfpqSql: String =
    s"""WITH ${MLOps.kmeansCtesSql},
       |rv AS MATERIALIZED (
       |  SELECT f.vec_id, f.cid,
       |    ${residualSql("v.e", "cc.c")} AS re,
       |    v.e,
       |    ${l2NormSql("v.e")} AS norm
       |  FROM fin f
       |  JOIN v ON f.vec_id = v.vec_id
       |  JOIN c${MLOps.KmIters} cc ON f.cid = cc.cid),
       |pv AS MATERIALIZED (SELECT vec_id, re AS e FROM rv),
       |$pqChainSql,
       |pn AS MATERIALIZED (
       |  SELECT rv.vec_id, rv.cid, rv.e, rv.norm, pcodes.codes
       |  FROM rv JOIN pcodes ON rv.vec_id = pcodes.vec_id),
       |qd AS (
       |  SELECT q.vec_id AS query_id, q.e AS qe, q.norm AS qn, cc.cid,
       |    ${sqDistSql("q.e", "cc.c")} AS d
       |  FROM (SELECT vec_id, e, norm FROM rv WHERE vec_id < $NumQueries) q
       |  CROSS JOIN c${MLOps.KmIters} cc),
       |qp AS MATERIALIZED (
       |  SELECT t.query_id, t.qe, t.qn, t.cid,
       |    ${residualSql("t.qe", "cc.c")} AS qre
       |  FROM (
       |    SELECT query_id, qe, qn, cid
       |    FROM (${topKSql("qd", Seq("query_id"), Seq("d ASC", "cid ASC"), Nprobe, None)})) t
       |  JOIN c${MLOps.KmIters} cc ON t.cid = cc.cid),
       |adcp AS MATERIALIZED (
       |  SELECT c.vec_id, q.query_id, c.e, c.norm, q.qe, q.qn,
       |    ${pqAdcTermsSql("q.qre")} AS adc
       |  FROM pn c
       |  JOIN qp q ON c.cid = q.cid
       |  CROSS JOIN cba
       |  WHERE c.vec_id <> q.query_id),
       |${adcRescoreSql(IvfRescoreK)}""".stripMargin

  /** Oracle tail of the KNN-Shapley pipeline (rank -> Theorem-1 terms
    * -> suffix sum -> per-point aggregate -> top/bottom report),
    * appended after variant-specific `sc`/`tr` CTEs — shared by the
    * exact and LSH-restricted oracles. `pt` left-joins the full
    * training roster `tr` so never-scored points rank as exact zeros,
    * mirroring the Spark-side roster join.
    */
  private lazy val shapleyTailSql: String =
    s"""rk AS (
         |  SELECT query_id, vec_id, label,
         |    row_number() OVER w AS i,
         |    CASE WHEN label = qlabel THEN 1 ELSE 0 END AS m,
         |    LEAD(CASE WHEN label = qlabel THEN 1 ELSE 0 END) OVER w AS m_next,
         |    COUNT(*) OVER (PARTITION BY query_id) AS nn
         |  FROM sc
         |  WINDOW w AS (PARTITION BY query_id
         |    ORDER BY cos_exact DESC, vec_id ASC)),
         |te AS (
         |  SELECT query_id, vec_id, label, i,
         |    ${qroundLongSql(s"""CASE WHEN m_next IS NULL
         |      THEN CAST(m AS DOUBLE) * 1e9
         |        / CAST(GREATEST($ShapK, nn) AS DOUBLE)
         |      ELSE CAST(m - m_next AS DOUBLE)
         |        * LEAST($ShapK.0, CAST(i AS DOUBLE)) * 1e9
         |        / ($ShapK.0 * CAST(i AS DOUBLE)) END""")} AS t_e9
         |  FROM rk),
         |sp AS (
         |  SELECT query_id, vec_id, label,
         |    CAST(SUM(t_e9) OVER (PARTITION BY query_id ORDER BY i
         |      ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS BIGINT)
         |      AS shap_e9
         |  FROM te),
         |pts AS (
         |  SELECT vec_id, label, CAST(SUM(shap_e9) AS BIGINT) AS shap_e9_sum
         |  FROM sp GROUP BY 1, 2),
         |pt AS (
         |  SELECT tr.vec_id, tr.label,
         |    CAST(COALESCE(pts.shap_e9_sum, 0) AS BIGINT) AS shap_e9_sum
         |  FROM tr LEFT JOIN pts
         |    ON tr.vec_id = pts.vec_id AND tr.label = pts.label),
         |top AS (
         |  SELECT 'top' AS bucket,
         |    row_number() OVER (ORDER BY shap_e9_sum DESC, vec_id) AS rank,
         |    vec_id, label, shap_e9_sum
         |  FROM pt ORDER BY shap_e9_sum DESC, vec_id LIMIT $ShapTop),
         |bot AS (
         |  SELECT 'bottom' AS bucket,
         |    row_number() OVER (ORDER BY shap_e9_sum ASC, vec_id) AS rank,
         |    vec_id, label, shap_e9_sum
         |  FROM pt ORDER BY shap_e9_sum ASC, vec_id LIMIT $ShapTop)
         |SELECT bucket, rank, vec_id, label, shap_e9_sum,
         |  ROUND(shap_e9_sum / 1e9 / $NumQueries, 6) AS avg_value
         |FROM (SELECT * FROM top UNION ALL SELECT * FROM bot)
         |ORDER BY bucket, rank""".stripMargin

  /** The `v` and `n` CTEs: the SQL twin of [[vectors]], `n` carrying
    * (vec_id, label, e, norm).
    */
  private[ops] val vectorsSql =
    s"""v AS (
      |  SELECT vec_id, label,
      |    ${widenedSql("embedding")} AS e
      |  FROM embeddings),
      |n AS (
      |  SELECT vec_id, label, e,
      |    ${l2NormSql("e")} AS norm
      |  FROM v)""".stripMargin

  /** Bucket expression over a list column, same plane literals as Spark. */
  private[ops] def bucketSqlFor(planeSet: Array[Array[Double]])(e: String): String =
    planeSet.zipWithIndex.map { case (p, j) =>
      val lits = p.mkString("[", ",", "]")
      s"CASE WHEN ${dotSql(e, lits)} > 0 THEN ${1L << j} ELSE 0 END"
    }.mkString("(", " + ", ")")

  /** UNION ALL of per-table (vec_id, tbl, bucket) rows over relation `n`. */
  private[ops] def multiBucketSql(rel: String): String =
    (0 until NumLshTables).map { t =>
      s"SELECT vec_id, $t AS tbl, ${bucketSqlFor(multiPlanes(t))("e")} AS bucket FROM $rel"
    }.mkString("\nUNION ALL\n")

  /** [[topkWithin]]'s DuckDB twin over the (query_id, vec_id, cos_exact)
    * SELECT `pairsFrom`.
    */
  private def topkWithinSql(pairsFrom: String): String =
    s"""SELECT query_id, rank, vec_id AS neighbor_id,
       |  ROUND(cos_exact, 6) AS cosine
       |FROM (${topKSql(s"($pairsFrom)", Seq("query_id"), Seq("cos_exact DESC", "vec_id ASC"), TopK, Some("rank"))})
       |ORDER BY query_id, rank""".stripMargin

  /** Each query's top-TopK (query_id, vec_id) by cos_exact, ties on vec_id,
    * over the (query_id, vec_id, cos_exact) relation `pairs`.
    */
  private def neighborIdsSql(pairs: String): String =
    s"SELECT query_id, vec_id FROM (${topKSql(pairs, Seq("query_id"), Seq("cos_exact DESC", "vec_id ASC"), TopK, None)})"

  val oracles: Map[String, String] = Map(
    "ann_cosine_topk" ->
      s"""WITH $vectorsSql
         |${topkWithinSql(
        s"""SELECT q.vec_id AS query_id, c.vec_id,
           |  ${dotSql("c.e", "q.e")} / (c.norm * q.norm) AS cos_exact
           |FROM n c JOIN n q ON q.vec_id < $NumQueries AND c.vec_id <> q.vec_id""".stripMargin)}""".stripMargin,
    "emb_hard_negatives" ->
      s"""WITH $vectorsSql,
         |q AS (
         |  SELECT vec_id AS query_id, label AS qlabel, e AS qe, norm AS qn
         |  FROM n WHERE vec_id < $NumQueries),
         |sc AS (
         |  SELECT q.query_id, q.qlabel, c.vec_id, c.label,
         |    ${dotSql("c.e", "q.qe")} / (c.norm * q.qn) AS cos_exact
         |  FROM n c JOIN q ON c.vec_id <> q.query_id),
         |bp AS (
         |  SELECT query_id, MAX(cos_exact) AS best_pos
         |  FROM sc WHERE label = qlabel GROUP BY 1),
         |neg AS (${topKSql("(SELECT query_id, vec_id, cos_exact FROM sc WHERE label <> qlabel)",
           Seq("query_id"), Seq("cos_exact DESC", "vec_id ASC"), TopK, Some("rank"))})
         |SELECT neg.query_id, neg.rank, neg.vec_id AS negative_id,
         |  ROUND(neg.cos_exact, 6) AS cosine,
         |  ROUND(bp.best_pos - neg.cos_exact, 6) AS margin
         |FROM neg LEFT JOIN bp ON neg.query_id = bp.query_id
         |ORDER BY neg.query_id, neg.rank""".stripMargin,
    "emb_isotropy" ->
      s"""WITH $vectorsSql,
         |pos AS (
         |  SELECT norm, e, unnest(range(len(e))) AS dim FROM n),
         |comp AS (
         |  SELECT dim,
         |    ${qroundLongSql("e[dim + 1] / norm * 1e9")} AS xq
         |  FROM pos),
         |dims AS (SELECT dim, CAST(SUM(xq) AS BIGINT) AS sd
         |  FROM comp GROUP BY 1),
         |ss AS (
         |  SELECT CAST(SUM(${qroundLongSql("""(CAST(sd AS DOUBLE) / 1e9)
         |    * (CAST(sd AS DOUBLE) / 1e9) * 1e6""")}) AS BIGINT)
         |    AS ss_u
         |  FROM dims),
         |nv AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM n)
         |SELECT n AS n_vectors,
         |  ROUND(((ss_u / 1e6) - n) / (CAST(n AS DOUBLE) * (n - 1)), 6)
         |    AS avg_pairwise_cos,
         |  ROUND(sqrt(ss_u / 1e6) / n, 6) AS mean_vec_norm
         |FROM ss CROSS JOIN nv""".stripMargin,
    "sample_coreset_kcenter" -> {
      def mdSql(selRel: String): String =
        s"""SELECT c.vec_id,
           |  MIN(${qroundLongSql(s"""(1.0 - ${dotSql("c.e", "s.e")}
           |    / (c.norm * s.norm)) * 1e9""")}) AS md
           |FROM n c, $selRel sp, n s
           |WHERE s.vec_id = sp.vec_id
           |  AND c.vec_id NOT IN (SELECT vec_id FROM $selRel)
           |GROUP BY 1""".stripMargin
      val rounds = (2 to KcPicks).map { r =>
        s"""d$r AS (
           |${mdSql(s"s${r - 1}")}),
           |p$r AS (
           |  SELECT $r AS pick, vec_id,
           |    ROUND(CAST(md AS DOUBLE) / 1e9, 6) AS sel_dist
           |  FROM d$r ORDER BY md DESC, vec_id ASC LIMIT 1),
           |s$r AS (SELECT * FROM s${r - 1} UNION ALL SELECT * FROM p$r)"""
          .stripMargin
      }.mkString(",\n")
      s"""WITH $vectorsSql,
         |s1 AS (
         |  SELECT 1 AS pick, vec_id, CAST(NULL AS DOUBLE) AS sel_dist
         |  FROM n WHERE vec_id = (SELECT MIN(vec_id) FROM n)),
         |$rounds,
         |rad AS (SELECT MAX(md) AS mr FROM (
         |${mdSql(s"s$KcPicks")}))
         |SELECT pick, vec_id, sel_dist,
         |  ROUND(CAST(rad.mr AS DOUBLE) / 1e9, 6) AS radius
         |FROM s$KcPicks CROSS JOIN rad
         |ORDER BY pick""".stripMargin
    },
    "ml_knn_shapley" ->
      s"""WITH $vectorsSql,
         |q AS (
         |  SELECT vec_id AS query_id, label AS qlabel, e AS qe, norm AS qn
         |  FROM n WHERE vec_id < $NumQueries),
         |tr AS (
         |  SELECT vec_id, label, e, norm FROM n WHERE vec_id >= $NumQueries),
         |sc AS (
         |  SELECT q.query_id, q.qlabel, tr.vec_id, tr.label,
         |    ${dotSql("tr.e", "q.qe")} / (tr.norm * q.qn) AS cos_exact
         |  FROM tr CROSS JOIN q),
         |$shapleyTailSql""".stripMargin,
    "ml_knn_shapley_lsh" ->
      s"""WITH $vectorsSql,
         |nb AS (SELECT n.*, ${bucketSqlFor(planes)("e")} AS bucket FROM n),
         |q AS (
         |  SELECT vec_id AS query_id, label AS qlabel, e AS qe, norm AS qn,
         |    bucket AS qbucket
         |  FROM nb WHERE vec_id < $NumQueries),
         |tr AS (
         |  SELECT vec_id, label, e, norm, bucket FROM nb
         |  WHERE vec_id >= $NumQueries),
         |sc AS (
         |  SELECT q.query_id, q.qlabel, tr.vec_id, tr.label,
         |    ${dotSql("tr.e", "q.qe")} / (tr.norm * q.qn) AS cos_exact
         |  FROM tr JOIN q ON tr.bucket = q.qbucket),
         |$shapleyTailSql""".stripMargin,
    "ann_filtered_topk" ->
      s"""WITH $vectorsSql,
         |f AS (
         |  SELECT n.* FROM n JOIN documents d ON n.vec_id = d.doc_id
         |  WHERE d.lang = 'en')
         |${topkWithinSql(
        s"""SELECT q.vec_id AS query_id, c.vec_id,
           |  ${dotSql("c.e", "q.e")} / (c.norm * q.norm) AS cos_exact
           |FROM f c JOIN n q ON q.vec_id < $NumQueries AND c.vec_id <> q.vec_id""".stripMargin)}""".stripMargin,
    "retrieval_rrf_fusion" ->
      s"""WITH $fusionRankCtesSql,
         |fused AS (
         |  SELECT COALESCE(l.qdoc, de.qdoc) AS qdoc,
         |    COALESCE(l.doc_id, de.doc_id) AS doc_id,
         |    COALESCE(1.0 / ($RrfC + l.lr), 0.0)
         |      + COALESCE(1.0 / ($RrfC + de.dr), 0.0) AS rrf
         |  FROM lex l FULL OUTER JOIN dense de
         |    ON l.qdoc = de.qdoc AND l.doc_id = de.doc_id)
         |SELECT qdoc AS query_doc, rank, doc_id, ROUND(rrf, 6) AS rrf_score
         |FROM (${topKSql("fused", Seq("qdoc"), Seq("rrf DESC", "doc_id ASC"), TopK, Some("rank"))})
         |ORDER BY query_doc, rank""".stripMargin,

    // same two ranking lists, the injected W[max(lr,dr)] ladder summed
    // as exact nanos per query; zero-overlap queries kept via LEFT JOIN
    "retrieval_rbo_agreement" -> {
      val ladder = rboWeightNano.zipWithIndex
        .map { case (w, i) => s"(${i + 1}, $w)" }.mkString(", ")
      s"""WITH $fusionRankCtesSql,
         |rbow(m, w) AS (VALUES $ladder),
         |common AS (
         |  SELECT l.qdoc, greatest(l.lr, de.dr) AS m
         |  FROM lex l JOIN dense de
         |    ON l.qdoc = de.qdoc AND l.doc_id = de.doc_id),
         |qs AS (
         |  SELECT qdoc FROM lex UNION SELECT qdoc FROM dense)
         |SELECT qs.qdoc AS query_doc,
         |  CAST(COUNT(c.m) AS BIGINT) AS n_common,
         |  CAST(COALESCE(SUM(w.w), 0) AS BIGINT) AS rbo_nano,
         |  ROUND(CAST(COALESCE(SUM(w.w), 0) AS BIGINT) / 1e9, 6) AS rbo
         |-- roster from the OBSERVED ranking frames (not qd): the Spark
         |-- side groups fusionRankFrames rows, so a sampled query doc
         |-- with an empty lex AND dense list must be absent BOTH sides
         |FROM qs LEFT JOIN common c ON c.qdoc = qs.qdoc
         |LEFT JOIN rbow w ON w.m = c.m
         |GROUP BY 1 ORDER BY 1""".stripMargin
    },
    // concordant/discordant pair counts exact over the <= C(k,2)
    // shared-doc pairs; one final division, NULL under 2 shared docs
    "retrieval_tau_agreement" ->
      s"""WITH $fusionRankCtesSql,
         |shared AS (
         |  SELECT l.qdoc, l.doc_id, l.lr, de.dr
         |  FROM lex l JOIN dense de
         |    ON l.qdoc = de.qdoc AND l.doc_id = de.doc_id),
         |pr AS (
         |  SELECT a.qdoc, CAST(COUNT(*) AS BIGINT) AS n_pairs,
         |    CAST(SUM(CASE WHEN (a.lr - b.lr) * (a.dr - b.dr) > 0
         |      THEN 1 ELSE 0 END) AS BIGINT) AS concordant,
         |    CAST(SUM(CASE WHEN (a.lr - b.lr) * (a.dr - b.dr) < 0
         |      THEN 1 ELSE 0 END) AS BIGINT) AS discordant
         |  FROM shared a JOIN shared b
         |    ON a.qdoc = b.qdoc AND a.doc_id < b.doc_id
         |  GROUP BY 1),
         |qs AS (
         |  SELECT qdoc FROM lex UNION SELECT qdoc FROM dense),
         |cm AS (
         |  -- roster from the observed frames, mirroring Spark's groupBy
         |  -- over fusionRankFrames rows (see the rbo oracle note)
         |  SELECT qs.qdoc, CAST(COUNT(s.doc_id) AS BIGINT) AS n_common
         |  FROM qs LEFT JOIN shared s ON s.qdoc = qs.qdoc GROUP BY 1)
         |SELECT cm.qdoc AS query_doc, cm.n_common,
         |  CAST(COALESCE(pr.n_pairs, 0) AS BIGINT) AS n_pairs,
         |  CAST(COALESCE(pr.concordant, 0) AS BIGINT) AS concordant,
         |  CAST(COALESCE(pr.discordant, 0) AS BIGINT) AS discordant,
         |  CASE WHEN cm.n_common >= 2 THEN
         |    ROUND((COALESCE(pr.concordant, 0) - COALESCE(pr.discordant, 0))
         |      / (cm.n_common * (cm.n_common - 1) / 2.0), 6)
         |  ELSE NULL END AS kendall_tau
         |FROM cm LEFT JOIN pr ON pr.qdoc = cm.qdoc
         |ORDER BY 1""".stripMargin,
  ) ++ oraclesTail

  /** The lex/dense top-k ranking CTE chain (ends with `qd`, `lex`,
    * `dense` in scope) — the DuckDB twin of fusionRankFrames, shared by
    * the rrf and rbo oracles.
    */
  private lazy val fusionRankCtesSql: String =
      s"""t AS (SELECT doc_id, ${TextOps.tokensSql("text")} AS toks FROM documents),
         |qd AS (${DedupOps.hashSampleSql("doc_id AS qdoc", "documents", "doc_id")}),
         |${TextOps.queryTermsSql},
         |${TextOps.bm25StatsSql},
         |qw AS (SELECT qdoc, word, 1 AS wt FROM qterms),
         |${TextOps.bm25ScoresSql("sc", "qw")},
         |lex AS (
         |  SELECT qdoc, doc_id, lr
         |  FROM (${topKSql("sc", Seq("qdoc"), Seq("score DESC", "doc_id ASC"), FusionDepth, Some("lr"))})),
         |$vectorsSql,
         |$denseCandidatesSql,
         |dense AS (SELECT qdoc, vec_id AS doc_id, rn AS dr FROM cand)""".stripMargin

  private lazy val oraclesTail: Map[String, String] = Map(
    "sample_cluster_balanced" ->
      s"""WITH ${graft.ops.MLOps.kmeansCtesSql}
         |SELECT cid, rk, vec_id FROM (${topKSql(
           s"(SELECT cid, vec_id, ${graft.ops.DedupOps.polyHashSql("CAST(vec_id AS VARCHAR)")} AS h FROM fin)",
           Seq("cid"), Seq("h ASC", "vec_id ASC"), ClusterQuota, Some("rk"))})
         |ORDER BY cid, rk""".stripMargin,
    // Greedy MMR unrolled: m$r = max-sim of every candidate against the
    // selected set, s$r = the round's argmax pick, selcum$r = running
    // selection. Mirrors the Spark loop round for round.
    "retrieval_mmr_rerank" -> {
      val rounds = (2 to MmrPicks).map { r =>
        s"""m$r AS (
           |  SELECT p.qdoc, p.a AS vec_id, MAX(p.sim) AS ms
           |  FROM p JOIN selcum${r - 1} s ON p.qdoc = s.qdoc AND p.b = s.vec_id
           |  GROUP BY 1, 2),
           |s$r AS (
           |  SELECT qdoc, vec_id, $r AS pick FROM (${topKSql(
             s"""(SELECT c.qdoc, c.vec_id, $MmrLambda * c.rel - ${1 - MmrLambda} * m.ms AS mmr
                |  FROM cand c JOIN m$r m ON c.qdoc = m.qdoc AND c.vec_id = m.vec_id
                |  WHERE NOT EXISTS (SELECT 1 FROM selcum${r - 1} x
                |    WHERE x.qdoc = c.qdoc AND x.vec_id = c.vec_id))""".stripMargin,
             Seq("qdoc"), Seq("mmr DESC", "vec_id ASC"), 1, None)})),
           |selcum$r AS (SELECT * FROM selcum${r - 1} UNION ALL SELECT * FROM s$r)"""
          .stripMargin
      }.mkString(",\n")
      s"""WITH $vectorsSql,
         |qd AS (${DedupOps.hashSampleSql("doc_id AS qdoc", "documents", "doc_id")}),
         |$denseCandidatesSql,
         |p AS (
         |  SELECT a.qdoc, a.vec_id AS a, b.vec_id AS b,
         |    ${dotSql("a.e", "b.e")} / (a.norm * b.norm) AS sim
         |  FROM cand a JOIN cand b ON a.qdoc = b.qdoc AND a.vec_id <> b.vec_id),
         |s1 AS (
         |  SELECT qdoc, vec_id, 1 AS pick
         |  FROM (${topKSql("cand", Seq("qdoc"), Seq("rel DESC", "vec_id ASC"), 1, None)})),
         |selcum1 AS (SELECT * FROM s1),
         |$rounds
         |SELECT qdoc AS query_doc, pick, vec_id AS doc_id
         |FROM selcum$MmrPicks ORDER BY query_doc, pick""".stripMargin
    },
    "ann_lsh_topk" ->
      s"""WITH $vectorsSql,
         |b AS (SELECT vec_id, label, e, norm, ${bucketSqlFor(planes)("e")} AS bucket FROM n)
         |${topkWithinSql(
        s"""SELECT q.vec_id AS query_id, c.vec_id,
           |  ${dotSql("c.e", "q.e")} / (c.norm * q.norm) AS cos_exact
           |FROM b c JOIN b q ON q.vec_id < $NumQueries
           |  AND c.bucket = q.bucket AND c.vec_id <> q.vec_id""".stripMargin)}""".stripMargin,
    "ann_lsh_multi_topk" ->
      s"""WITH $vectorsSql,
         |tb AS (
         |${multiBucketSql("n")}),
         |cand AS (
         |  SELECT DISTINCT q.vec_id AS query_id, c.vec_id
         |  FROM tb c JOIN tb q ON c.tbl = q.tbl AND c.bucket = q.bucket
         |  WHERE q.vec_id < $NumQueries AND c.vec_id <> q.vec_id)
         |${topkWithinSql(
        s"""SELECT cand.query_id, cand.vec_id,
           |  ${dotSql("c.e", "q.e")} / (c.norm * q.norm) AS cos_exact
           |FROM cand
           |JOIN n c ON cand.vec_id = c.vec_id
           |JOIN n q ON cand.query_id = q.vec_id""".stripMargin)}""".stripMargin,
    "ann_ivf_label_topk" ->
      s"""WITH $vectorsSql
         |${topkWithinSql(
        s"""SELECT q.vec_id AS query_id, c.vec_id,
           |  ${dotSql("c.e", "q.e")} / (c.norm * q.norm) AS cos_exact
           |FROM n c JOIN n q ON q.vec_id < $NumQueries
           |  AND c.label = q.label AND c.vec_id <> q.vec_id""".stripMargin)}""".stripMargin,
    "ann_ivf_kmeans_topk" ->
      s"""WITH ${MLOps.kmeansCtesSql},
         |nrm AS MATERIALIZED (
         |  SELECT fin.vec_id, fin.cid, v.e, ${l2NormSql("v.e")} AS norm
         |  FROM fin JOIN v ON fin.vec_id = v.vec_id)
         |${topkWithinSql(
        s"""SELECT q.vec_id AS query_id, c.vec_id,
           |  ${dotSql("c.e", "q.e")} / (c.norm * q.norm) AS cos_exact
           |FROM nrm c JOIN nrm q ON q.vec_id < $NumQueries
           |  AND c.cid = q.cid AND c.vec_id <> q.vec_id""".stripMargin)}""".stripMargin,
    "ann_ivf_nprobe_sweep" ->
      s"""WITH ${MLOps.kmeansCtesSql},
         |nrm AS MATERIALIZED (
         |  SELECT fin.vec_id, fin.cid, v.e, ${l2NormSql("v.e")} AS norm
         |  FROM fin JOIN v ON fin.vec_id = v.vec_id),
         |qp AS (
         |  SELECT v.vec_id AS query_id, c.cid,
         |    row_number() OVER (PARTITION BY v.vec_id
         |      ORDER BY ${sqDistSql("v.e", "c.c")} ASC, c.cid ASC)
         |      AS prn
         |  FROM v CROSS JOIN ${MLOps.kmeansFinalCentsCte} c
         |  WHERE v.vec_id < $NumQueries),
         |np(nprobe) AS (VALUES (1), (2), (4), (8)),
         |pq AS (SELECT np.nprobe, qp.query_id, qp.cid
         |       FROM qp JOIN np ON qp.prn <= np.nprobe),
         |cand AS (
         |  SELECT p.nprobe, p.query_id, c.vec_id,
         |    ${dotSql("c.e", "q.e")} / (c.norm * q.norm) AS cos
         |  FROM pq p
         |  JOIN nrm c ON c.cid = p.cid
         |  JOIN nrm q ON q.vec_id = p.query_id
         |  WHERE c.vec_id <> p.query_id),
         |appr AS (
         |  SELECT nprobe, query_id, vec_id
         |  FROM (${topKSql("cand", Seq("nprobe", "query_id"), Seq("cos DESC", "vec_id ASC"), TopK, None)})),
         |ex AS (${neighborIdsSql(
           s"""(SELECT q.vec_id AS query_id, c.vec_id,
              |    ${dotSql("c.e", "q.e")} / (c.norm * q.norm) AS cos_exact
              |  FROM nrm c JOIN nrm q ON q.vec_id < $NumQueries AND c.vec_id <> q.vec_id)""".stripMargin)})
         |SELECT np.nprobe, COUNT(*) AS n_pairs,
         |  CAST(SUM(CASE WHEN a.vec_id IS NOT NULL THEN 1 ELSE 0 END)
         |    AS BIGINT) AS n_hit,
         |  ROUND(CAST(SUM(CASE WHEN a.vec_id IS NOT NULL THEN 1 ELSE 0 END)
         |      AS DOUBLE) / COUNT(*), 6) AS recall
         |FROM ex CROSS JOIN np
         |LEFT JOIN appr a ON a.nprobe = np.nprobe
         |  AND a.query_id = ex.query_id AND a.vec_id = ex.vec_id
         |GROUP BY 1 ORDER BY 1""".stripMargin,
    "emb_label_centroids" ->
      """SELECT label, CAST(i - 1 AS INT) AS pos,
        |  ROUND(AVG(CAST(x AS DOUBLE)), 6) AS mean_val
        |FROM (
        |  SELECT label, unnest(embedding) AS x,
        |    generate_subscripts(embedding, 1) AS i
        |  FROM embeddings)
        |WHERE i <= 8 GROUP BY label, i ORDER BY label, pos""".stripMargin,
    "emb_quantize_error" ->
      """WITH x AS (
        |  SELECT CAST(i - 1 AS INT) AS pos, CAST(v AS DOUBLE) AS v FROM (
        |    SELECT unnest(embedding) AS v,
        |      generate_subscripts(embedding, 1) AS i
        |    FROM embeddings)),
        |rng AS (SELECT pos, MIN(v) AS lo, MAX(v) AS hi FROM x GROUP BY pos),
        |qz AS (
        |  SELECT x.pos, v, lo, hi,
        |    CASE WHEN hi = lo THEN 0.0
        |         ELSE ROUND((v - lo) / (hi - lo) * 255) END AS q
        |  FROM x JOIN rng ON x.pos = rng.pos),
        |r AS (SELECT pos, v - (lo + q / 255.0 * (hi - lo)) AS err FROM qz)
        |SELECT pos, ROUND(sqrt(AVG(err * err)), 6) AS rmse,
        |  ROUND(MAX(abs(err)), 6) AS max_abs_err
        |FROM r GROUP BY pos ORDER BY pos""".stripMargin,
    "ann_lsh_bucket_stats" ->
      s"""WITH $vectorsSql
         |SELECT ${bucketSqlFor(planes)("e")} AS bucket, COUNT(*) AS n_vectors
         |FROM n GROUP BY 1 ORDER BY n_vectors DESC, bucket ASC LIMIT 100""".stripMargin,
    "ann_pq_topk" -> pqSql,
    "ann_ivfpq_topk" -> ivfpqSql,
    "ann_matryoshka_recall" ->
      s"""WITH $vectorsSql,
         |q AS (SELECT vec_id AS query_id, e AS qe, norm AS qn
         |      FROM n WHERE vec_id < $NumQueries),
         |ex AS (${neighborIdsSql(
           s"""(SELECT q.query_id, c.vec_id, ${dotSql("c.e", "q.qe")} / (c.norm * q.qn) AS cos_exact
              |  FROM n c JOIN q ON c.vec_id <> q.query_id)""".stripMargin)}),
         |tr AS (
         |  SELECT dim, query_id, vec_id FROM (${topKSql(
           s"""(SELECT dd.dim, q.query_id, c.vec_id,
              |    ${dotSql("c.e", "q.qe", "dd.dim")} /
              |    (${l2NormSql("c.e[1:dd.dim]")} * ${l2NormSql("q.qe[1:dd.dim]")}) AS cos_t
              |  FROM n c JOIN q ON c.vec_id <> q.query_id
              |  CROSS JOIN (SELECT unnest([8, 16, 32, 64]) AS dim) dd)""".stripMargin,
           Seq("dim", "query_id"), Seq("cos_t DESC", "vec_id ASC"), TopK, None)}))
         |SELECT dim, ROUND(AVG(r), 6) AS recall_at_5 FROM (
         |  SELECT tr.dim, tr.query_id,
         |    CAST(SUM(CASE WHEN ex.vec_id IS NOT NULL THEN 1 ELSE 0 END) AS DOUBLE)
         |      / $TopK AS r
         |  FROM tr LEFT JOIN ex
         |    ON tr.query_id = ex.query_id AND tr.vec_id = ex.vec_id
         |  GROUP BY 1, 2)
         |GROUP BY 1 ORDER BY 1""".stripMargin,
    "ann_sq8_topk" ->
      s"""WITH $vectorsSql,
         |x AS (
         |  SELECT CAST(i - 1 AS INT) AS pos, CAST(vv AS DOUBLE) AS vv FROM (
         |    SELECT unnest(embedding) AS vv,
         |      generate_subscripts(embedding, 1) AS i
         |    FROM embeddings)),
         |rr AS (SELECT pos, MIN(vv) AS lo, MAX(vv) AS hi FROM x GROUP BY pos),
         |rng AS (
         |  SELECT list(lo ORDER BY pos) AS los, list(hi ORDER BY pos) AS his
         |  FROM rr),
         |dq AS (
         |  SELECT vec_id, e, norm,
         |    list_transform(range($Dim), i ->
         |      CASE WHEN his[i+1] = los[i+1] THEN los[i+1]
         |           ELSE los[i+1]
         |             + ROUND((e[i+1] - los[i+1]) / (his[i+1] - los[i+1]) * 255)
         |               / 255.0 * (his[i+1] - los[i+1]) END) AS dqe
         |  FROM n CROSS JOIN rng),
         |ap AS (
         |  SELECT q.vec_id AS query_id, c.vec_id,
         |    c.e AS ce, c.norm AS cn, q.e AS qe2, q.norm AS qn,
         |    ${dotSql("c.dqe", "q.dqe")} AS approx
         |  FROM dq c JOIN dq q ON q.vec_id < $NumQueries AND c.vec_id <> q.vec_id),
         |cand AS (
         |  SELECT query_id, vec_id, ce, cn, qe2, qn
         |  FROM (${topKSql("ap", Seq("query_id"), Seq("approx DESC", "vec_id ASC"), 2 * TopK, None)}))
         |${topkWithinSql(s"SELECT query_id, vec_id, ${dotSql("ce", "qe2")} / (cn * qn) AS cos_exact FROM cand")}"""
        .stripMargin,
    "ann_recall_at_k" ->
      s"""WITH $vectorsSql,
         |b AS (SELECT vec_id, e, norm, ${bucketSqlFor(planes)("e")} AS bucket FROM n),
         |ex AS (${neighborIdsSql(
           s"""(SELECT q.vec_id AS query_id, c.vec_id,
              |    ${dotSql("c.e", "q.e")} / (c.norm * q.norm) AS cos_exact
              |  FROM n c JOIN n q ON q.vec_id < $NumQueries AND c.vec_id <> q.vec_id)""".stripMargin)}),
         |ap AS (${neighborIdsSql(
           s"""(SELECT q.vec_id AS query_id, c.vec_id,
              |    ${dotSql("c.e", "q.e")} / (c.norm * q.norm) AS cos_exact
              |  FROM b c JOIN b q ON q.vec_id < $NumQueries
              |    AND c.bucket = q.bucket AND c.vec_id <> q.vec_id)""".stripMargin)})
         |SELECT ex.query_id, COUNT(*) AS k,
         |  CAST(SUM(CASE WHEN ap.vec_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
         |    AS n_hit,
         |  ROUND(SUM(CASE WHEN ap.vec_id IS NOT NULL THEN 1 ELSE 0 END) * 1.0
         |    / COUNT(*), 6) AS recall
         |FROM ex LEFT JOIN ap
         |  ON ex.query_id = ap.query_id AND ex.vec_id = ap.vec_id
         |GROUP BY 1 ORDER BY 1""".stripMargin,
    "retrieval_ndcg_eval" ->
      s"""WITH $vectorsSql,
         |q AS (
         |  SELECT vec_id AS query_id, label AS qlabel, e AS qe, norm AS qn
         |  FROM n WHERE vec_id < $NumQueries),
         |ranked AS (${topKSql(
           s"""(SELECT q.query_id, q.qlabel, c.vec_id, c.label,
              |    ${dotSql("c.e", "q.qe")} / (c.norm * q.qn) AS cos_exact
              |  FROM n c JOIN q ON c.vec_id <> q.query_id)""".stripMargin,
           Seq("query_id"), Seq("cos_exact DESC", "vec_id ASC"), NdcgK, Some("rank"))}),
         |hits AS (
         |  SELECT query_id,
         |    CASE WHEN label = qlabel
         |      THEN ${qroundLongSql("1e6 / log2(rank + 1)")}
         |      ELSE 0 END AS gain_e6,
         |    CASE WHEN label = qlabel THEN 1 ELSE 0 END AS r
         |  FROM ranked),
         |dcg AS (
         |  SELECT query_id, CAST(SUM(gain_e6) AS BIGINT) AS dcg_e6,
         |    CAST(SUM(r) AS BIGINT) AS n_rel_at_k
         |  FROM hits GROUP BY 1),
         |rel AS (
         |  SELECT q.query_id, CAST(COUNT(*) AS BIGINT) AS n_rel
         |  FROM n c JOIN q ON c.vec_id <> q.query_id AND c.label = q.qlabel
         |  GROUP BY 1),
         |ideal AS (
         |  SELECT query_id, MAX(n_rel) AS n_rel,
         |    CAST(SUM(${qroundLongSql("1e6 / log2(i + 1)")}) AS BIGINT)
         |      AS idcg_e6
         |  FROM (
         |    SELECT query_id, n_rel,
         |      unnest(range(1, CAST(LEAST(n_rel, $NdcgK) AS BIGINT) + 1)) AS i
         |    FROM rel)
         |  GROUP BY 1)
         |SELECT d.query_id, i.n_rel, d.n_rel_at_k, d.dcg_e6, i.idcg_e6,
         |  ROUND(d.dcg_e6 / i.idcg_e6, 6) AS ndcg
         |FROM dcg d JOIN ideal i ON d.query_id = i.query_id
         |ORDER BY d.query_id""".stripMargin,
  )
}
