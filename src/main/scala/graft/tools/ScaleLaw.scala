package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Empirical scale-law measurement (round-14 VERDICT item #3): convert
  * the 100 TB plan-reading claims into measured scaling exponents.
  *
  * Builds a ~10× corpus from the sf0.1 testdata by STRUCTURE-PRESERVING
  * replication — each replica r gets disjoint keys (id offsets) and, for
  * text, a disjoint vocabulary (per-replica token suffix), so
  * within-replica duplicate/near-dup structure is preserved exactly
  * while cross-replica rows share no shingles, no users, no doc ids.
  * That keeps the dup DENSITY (the quantity LSH candidate counts are
  * quadratic in) constant while the corpus grows 10×, which is the
  * scaling regime the SCALE.md claims are about. Dimension tables
  * (region/nation/customer/supplier/part) are copied unscaled — they are
  * the bounded sides of every star join.
  *
  * Then times the most scale-sensitive query families at 1× and 10×
  * (Bench's protocol: clearState before each query, two passes, min),
  * and prints one JSON line of per-query (t1, t10, ratio). A family
  * whose ratio lands near its predicted exponent (~10 for linear scans /
  * linear candidate work, less where fixed per-query constants dominate
  * at this absolute scale) confirms the documented posture; a ratio far
  * above predicts a super-linear term the plan reading missed.
  *
  * Usage: runMain graft.tools.ScaleLaw [baseDir] [fixtureDir] [factor]
  *
  * Round-15 second point: factor 30 on the lightest families (whose 10×
  * ratios sat closest to the constants floor, so a 30× step actually
  * moves their data term) plus the two most burst-sensitive bench
  * queries the 10× run omitted — retrieval_prf_expansion (two BM25
  * corpus passes) and graph_assortativity (the 4-table undCore edge
  * aggregate feeding a BOUNDED 25-node graph — the aggregate input
  * scales, the graph does not, which is precisely its 100 TB posture).
  */
object ScaleLaw {

  val Factor = 10

  /** Queries timed, with the predicted corpus-scaling behavior recorded
    * in SCALE.md §"Measured scale law".
    */
  val Families: Seq[String] = Seq(
    "dedup_exact",                  // one md5 shuffle: ~linear
    "dedup_minhash_lsh",            // map-only signatures + banded join: ~linear at constant dup density
    "ann_ivfpq_topk",               // encode+probe linear in corpus; codebook train once in warm-up
    "graph_kcore",                  // linear edge-aggregate scan + bounded peel iterations
    "ml_als_factors",               // linear in rating pairs per half-step
    "u7_tfidf_top_terms",           // token-stream pass: ~linear
    "text_quality",                 // pure column expressions: ~linear
    "stream_dedup_within_watermark" // per-key state machine: ~linear
  )

  /** The 30× set: light families where 10× was mostly constants, plus
    * the two burst-sensitive bench queries absent from the 10× run.
    */
  val Families30: Seq[String] = Seq(
    "dedup_exact",                   // 10x ratio 1.06 — constants-dominated; 30x moves the data term
    "text_quality",                  // 10x ratio 1.29 — scan-bound
    "u7_tfidf_top_terms",            // 10x ratio 1.26 — token pass
    "stream_dedup_within_watermark", // 10x ratio 1.21 — keyed state machines
    "retrieval_prf_expansion",       // two BM25 corpus passes: ~linear in tokens
    "graph_assortativity"            // undCore 4-table edge aggregate: linear scan into a bounded graph
  )

  /** The 100× set (round-15 VERDICT item #3): the two families whose DATA
    * term is largest — 100× of sf0.1 is ≈ sf10-equivalent row counts, the
    * closest a 128 GiB sandbox gets to exercising the 100 TB posture —
    * plus the heaviest dedup-family shuffle, never scale-lawed before.
    * Three measured points (1×/10-or-30×/100×) pin each family's exponent
    * far better than two.
    */
  val Families100: Seq[String] = Seq(
    "dedup_minhash_lsh",    // map-only signatures + banded join: candidate count ∝ dup density × N
    "ml_als_factors",       // rating-pair build + 2 alternations: linear in pairs per half-step
    "dedup_substring_spans" // rolling 20-token window hashes: the token-firehose shuffle
  )

  /** The round-17 set (VERDICT r16 item #4): the end-to-end production
    * dedup COMPOSITION — banded-LSH candidates → exact verify → star-CC
    * → survivor pick (+ the per-source report on top). Each stage is
    * individually scale-shaped, but the composition adds star-CC
    * iterations whose round count grows with cluster DIAMETER — the one
    * super-linear risk the per-stage laws can't see. The replica
    * fixture preserves within-replica cluster topology exactly (N×
    * disjoint copies of the same clusters), so diameter is constant and
    * the predicted law is t(N) = c + m·N with the SAME iteration count
    * at every N; a ratio far above the minhash family's would mean the
    * CC stage (or its lineage) compounds with corpus size after all.
    */
  val FamiliesR17: Seq[String] = Seq(
    "dedup_cluster_reps_lsh",
    "pipeline_dedup_corpus")

  /** Named family sets — selected EXPLICITLY by the 4th CLI argument
    * (round-15 advisor: keying the set off `factor == 10` meant the core
    * families could never be re-measured at another factor, and a typo'd
    * factor silently changed which queries ran). Unknown names fail loudly.
    */
  val FamilySets: Map[String, Seq[String]] = Map(
    "core" -> Families,
    "r15" -> Families30,
    "r16" -> Families100,
    "r17" -> FamiliesR17,
    // the round-17 distributed LDA fit: per-doc E-step P-wide +
    // tree-reduced exact-long suff stats — the fallback for the one
    // single-partition compute; the law should read linear-in-corpus
    // like the relational trainer's data term
    "r17lda" -> Seq("lda_em_topics_dist"),
    // ANN at 100×: the index-probe story's biggest data term — IVF-PQ
    // encode+probe (codebooks train once in the untimed warm-up, the
    // Bench convention) and the sign-LSH bucket probe; both predicted
    // linear in corpus vectors with query-side constants
    "r17ann" -> Seq("ann_ivfpq_topk", "ann_lsh_topk"),
    // round 18 (VERDICT r17 #4): the distributed LDA fit at 100× — the
    // 10× point (ratio 1.80) pinned the orchestration constant; this
    // point checks the claim that the V×K exact-long treeAggregate
    // reduce doesn't become the bottleneck when the doc term is 100×
    "r18lda" -> Seq("lda_em_topics_dist"),
    // round-18 operator wave: the watermark detector is the only new op
    // with a corpus-scale data term (bigram explode + per-doc window +
    // hash-group — predicted linear in tokens); rbo rides the already-
    // lawed BM25/dense ranking constants, softdedup the dedup_exact
    // shuffle, mann-whitney the bounded bin table
    "r18ops" -> Seq("text_watermark_greenlist"),
    // round-18 wave 2: the paragraph-dedup pass — chunk explode +
    // corpus-wide hash-partitioned survivor window + reassembly, all
    // predicted linear in tokens (the CCNet shuffle); the other wave-2
    // ops ride already-lawed substrates (adamic_adar the bounded
    // undCore aggregate, anova/tost the 5-key moments pass)
    "r18b" -> Seq("dedup_paragraph_exact"),
    // round 19 (VERDICT r18 #9): u7_tfidf_top_terms at 100× — the 10×
    // point (1.26) was constants-dominated; this pins the token-pass
    // exponent behind the "restructure would pessimize shuffle bytes at
    // 100 TB" claim with a data-term-dominated measurement
    "r19" -> Seq("u7_tfidf_top_terms"))

  def main(args: Array[String]): Unit = {
    val base = if (args.nonEmpty) args(0) else "/root/testdata/sf0.1"
    val factor = if (args.length > 2) args(2).toInt else Factor
    val fx = if (args.length > 1) args(1) else s"target/tmp/scale${factor}x"
    val setName =
      if (args.length > 3) args(3)
      else if (factor == Factor) "core"
      else if (factor == 30) "r15"
      else "r16"
    val families = FamilySets.getOrElse(setName, sys.error(
      s"unknown family set '$setName' (valid: ${FamilySets.keys.mkString(", ")})"))
    val cpus = graft.GraftSession.cpus
    // Width policy (round 18, codifying the SCALE.md 16-wide anomaly):
    // "auto" sizes spark.sql.shuffle.partitions per measured dataset via
    // Scaling.sizeShuffleFor (partitions ∝ input bytes, floor = cpus) —
    // the production posture, where 1× and 100× get DIFFERENT widths
    // from one rule and nobody hand-tunes per scale point. A number
    // pins a fixed width (the pre-round-18 protocol, kept so old rows
    // stay reproducible); default is the fixed cpus width.
    val widthMode = sys.env.getOrElse("SPARK_GRAFT_WIDTH", cpus.toString)
    val spark = graft.GraftSession.local(cpus)
    if (widthMode != "auto")
      spark.conf.set("spark.sql.shuffle.partitions", widthMode)

    generateIfAbsent(spark, base, fx, factor)

    def widthForDir(dir: String): Int =
      if (widthMode == "auto")
        graft.ops.Scaling.sizeShuffleFor(spark, dir, cpus)
      else widthMode.toInt

    // Bench's min-of-2 protocol, applied identically at both sizes so the
    // ratio is warm-pass vs warm-pass. One extra UNTIMED warm-up first:
    // it trains the Memo.index entries that survive clearState (PQ
    // codebooks), exactly as Bench's warm-up pass does.
    def minOf2(name: String, dir: String): Double = {
      graft.Bench.warmUp(spark, Seq(name), dir)
      val (a, b) = (graft.Bench.timeOne(spark, name, dir),
        graft.Bench.timeOne(spark, name, dir))
      if (a < 0 || b < 0) -1.0 else math.min(a, b)
    }

    // In auto mode the width is set PER DATASET, immediately before that
    // dataset's timings — both sizes of one family then run at their own
    // input-proportional width, the way a real cluster job would be
    // configured per input. All base-side timings run first so the
    // session-level width only changes once per dataset, not per query.
    val w1 = widthForDir(base)
    val t1s = families.map(name => name -> minOf2(name, base)).toMap
    val wN = widthForDir(fx)
    val rows = families.map { name =>
      val t1 = t1s(name)
      val t10 = minOf2(name, fx)
      val ratio = if (t1 > 0 && t10 > 0) t10 / t1 else -1.0
      println(f"[scalelaw] $name%-32s t1=$t1%7.2f  tN=$t10%7.2f  ratio=$ratio%6.2f")
      (name, t1, t10, ratio)
    }
    val json = rows.map { case (n, t1, t10, r) =>
      f""""$n":{"t1":$t1%.3f,"tN":$t10%.3f,"ratio":$r%.2f}"""
    }.mkString("{\"metric\":\"scalelaw\",\"factor\":" + factor +
      ",\"width_mode\":\"" + widthMode + "\",\"w1\":" + w1 +
      ",\"wN\":" + wN + ",\"queries\":{", ",", "}}")
    println(json)
    spark.stop()
  }

  /** Replica-mapped 10× fixture. Key layout: every surrogate key k maps
    * to k + r*OFFSET with OFFSET far above the real key range, so
    * replicas are disjoint and joins stay within-replica (orderkeys join
    * lineitem↔orders per replica; custkeys/suppkeys stay UNCHANGED where
    * the joined dimension is unscaled).
    */
  private def generateIfAbsent(spark: SparkSession, base: String,
                               fx: String, factor: Int): Unit = {
    val marker = new java.io.File(s"$fx/_SCALELAW_OK")
    if (marker.exists()) return
    val off = 100000000L // above every sf0.1 key range

    def reps(df: DataFrame)(f: (DataFrame, Long) => DataFrame): DataFrame =
      (0 until factor).map(r => f(df, r.toLong * off)).reduce(_ unionByName _)

    // documents: id offset + per-replica token suffix — within-replica
    // near-dup pairs stay near-dups (same suffix both sides), replicas
    // share zero shingles, so planted dup DENSITY is preserved at 10×
    val docs = spark.read.parquet(s"$base/documents.parquet")
    reps(docs) { (d, o) =>
      val r = o / off
      val txt =
        if (r == 0L) col("text")
        else array_join(transform(split(col("text"), " "),
          t => concat(t, lit(s"x$r"))), " ")
      d.select((col("doc_id") + lit(o)).as("doc_id"), txt.as("text"),
        col("lang"), col("source"), length(txt).as("n_chars"))
    }.repartition(32).write.mode("overwrite")
      .parquet(s"$fx/documents.parquet")

    // embeddings: id offset, vectors/labels unchanged (queries stay the
    // replica-0 vec_id < NumQueries set: Q fixed, corpus 10×)
    val emb = spark.read.parquet(s"$base/embeddings.parquet")
    reps(emb) { (d, o) =>
      d.select((col("vec_id") + lit(o)).as("vec_id"), col("embedding"),
        col("label"))
    }.repartition(32).write.mode("overwrite")
      .parquet(s"$fx/embeddings.parquet")

    // events: event ids and users offset per replica — user-keyed state
    // (stream dedup) sees 10× groups of the same per-group size
    val ev = spark.read.parquet(s"$base/events.parquet")
    reps(ev) { (d, o) =>
      d.select((col("event_id") + lit(o)).as("event_id"), col("ts"),
        (col("user_id") + lit(o)).as("user_id"), col("event_type"),
        col("value"), col("props"))
    }.repartition(32).write.mode("overwrite").parquet(s"$fx/events.parquet")

    // orders/lineitem: orderkeys offset together (joins stay in-replica);
    // custkeys/suppkeys unchanged (dims are copied unscaled below);
    // partkeys offset so ALS's (cust, part) rating-pair count scales 10×
    val ords = spark.read.parquet(s"$base/orders.parquet")
    val ocols = ords.columns
    reps(ords) { (d, o) =>
      d.select(ocols.map {
        case "o_orderkey" => (col("o_orderkey") + lit(o)).as("o_orderkey")
        case c            => col(c)
      }: _*)
    }.repartition(32).write.mode("overwrite").parquet(s"$fx/orders.parquet")

    val li = spark.read.parquet(s"$base/lineitem.parquet")
    val lcols = li.columns
    reps(li) { (d, o) =>
      d.select(lcols.map {
        case "l_orderkey" => (col("l_orderkey") + lit(o)).as("l_orderkey")
        case "l_partkey"  => (col("l_partkey") + lit(o)).as("l_partkey")
        case c            => col(c)
      }: _*)
    }.repartition(32).write.mode("overwrite").parquet(s"$fx/lineitem.parquet")

    // dimensions: copied unscaled — the bounded star-join sides
    Seq("region", "nation", "customer", "supplier", "part").foreach { t =>
      spark.read.parquet(s"$base/$t.parquet").write.mode("overwrite")
        .parquet(s"$fx/$t.parquet")
    }
    marker.getParentFile.mkdirs()
    java.nio.file.Files.writeString(marker.toPath, "ok")
    println(s"[scalelaw] fixture generated at $fx")
  }
}
