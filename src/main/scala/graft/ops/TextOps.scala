package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.functions.Lexicons
import Ranking.{topK, topKSql}
import QRound.{qroundLong, qroundLongSql}

/** Text analytics layer. Covers SURVEY.md §2.8 F1-F12/F28, §2.4 A10-A11,
  * §2.10 U3 (VADER-style scoring) and U7 (TF-IDF), plus the
  * training-data-pipeline text analysis ops (language-ID, quality scoring,
  * token counting, document fingerprinting).
  *
  * Design stance: the whole layer is built from codegen'd built-in
  * expressions (regexp_replace / split / explode / higher-order functions)
  * and relational joins against broadcast lexicon tables — zero UDFs, so
  * every op stays inside whole-stage codegen and is DuckDB-expressible for
  * the oracle (lexica are shared via Lexicons.*SqlValues).
  *
  * Scale notes:
  *  - explode(split(text)) is the token firehose; every downstream agg is
  *    a partial-aggregated groupBy, so the shuffle carries (word, count)
  *    partials, not raw tokens.
  *  - Lexicon joins (VADER, lang-ID, stopwords) broadcast — the lexicon is
  *    KBs; never shuffle the token stream by word for them.
  *  - TF-IDF needs one shuffle by term (df + final column-sum) and one by
  *    doc (L2 norm window); both keys are high-cardinality and unskewed.
  */
object TextOps {
  import Tables._

  type Q = (SparkSession, String) => DataFrame

  // ---- Token rules: each defined once here, with its DuckDB twin ----

  /** Tokens of a text column — the reference's `lower().split()`
    * (data_preparation.py:92,113): lower, split on whitespace, drop
    * empties. The engine's only tokenizer (the one Scala-side split in
    * MultimodalOps runs inside mapPartitions, where no Column can).
    */
  private[graft] def tokens(c: Column): Column =
    filter(split(lower(c), "\\s+"), t => length(t) > 0)

  /** [[tokens]] over the DuckDB column or expression `c`. */
  private[graft] def tokensSql(c: String): String =
    s"list_filter(string_split_regex(lower($c), '\\s+'), t -> len(t) > 0)"

  /** Stopword membership as IN over the literal list: the optimizer
    * rewrites a >10-element literal IN to InSet, one hash-set probe per
    * token, where array_contains over a literal array scans all ~120
    * entries per token — and this probe runs once per token of the
    * corpus. The list holds non-null literals, so the probe is null only
    * for a null token, which filter()/when() treat as false.
    */
  private[graft] def isStopword(t: Column): Column =
    t.isin(Lexicons.stopwordsEn: _*)

  /** [[isStopword]] over the DuckDB token `v`. */
  private[graft] def isStopwordSql(v: String): String =
    s"list_contains(${Lexicons.stopwordsEnSqlList}, $v)"

  /** A content word — the reference's word-cloud and topic-model token
    * filter (stats_visualization.py:121-155, topic_modeling.py:129-133):
    * at least 3 characters and not a stopword.
    */
  private[graft] def isContentWord(t: Column): Column =
    length(t) >= 3 && !isStopword(t)

  /** [[isContentWord]] over the DuckDB token `v`. */
  private[graft] def isContentWordSql(v: String): String =
    s"len($v) >= 3 AND NOT ${isStopwordSql(v)}"

  /** BPE training rounds (text_bpe_merges + its unrolled oracle). */
  val BpeRounds = 8

  /** Hard bound on the word table the BPE trainer collects to the driver:
    * top-N distinct words by corpus frequency. 500k spans any realistic
    * natural-language vocabulary (Heaps' law puts clean web-corpus vocab
    * near 1e6 *including* hapaxes, which are already pruned upstream)
    * while keeping the driver table ≲ 50 MB worst-case.
    */
  val MaxVocabCandidates = 500000

  /** The BPE merge-training loop (see text_bpe_merges scaladoc for the
    * distribution posture): distributed word count, vocab-scale merge
    * iteration driver-side. Returns (round, "a b" pair, weighted count)
    * in training order. Shared by text_bpe_merges and text_bpe_encode.
    */
  private def bpeTrain(s: SparkSession, d: String): Seq[(Int, String, Long)] = {
    import s.implicits._
    import org.apache.spark.sql.functions._
    // min-frequency guard BEFORE the collect: the distinct-"word" table
    // of 100 TB of web text (typos, URLs, hashes) is far above the Heaps'
    // ~1e6 clean-vocab estimate, but hapax strings cannot win a merge
    // round anyway (every real BPE trainer prunes them), so freq >= 2
    // caps the collected table at the true vocabulary scale. On top of
    // that, an EXPLICIT hard cap: take the top MaxVocabCandidates words
    // by frequency (word tie-break for determinism), so the driver
    // collect is bounded by construction even on a corpus whose freq>=2
    // tail is still tens of millions of rows. Merge counts are weighted
    // by word frequency, so the excluded sub-threshold tail contributes
    // a vanishing share of any pair's count and cannot flip a merge
    // round in practice; at the test scales the freq>=2 table is far
    // below the cap, so every word is collected and oracle results are
    // bit-identical with or without the limit. TakeOrderedAndProject
    // keeps this a per-partition top-N + driver merge — no global sort.
    val wf = documents(s, d).select(explode(tokens($"text")).as("w"))
      .groupBy($"w").agg(count(lit(1)).as("freq"))
      .filter($"freq" >= 2)
      .orderBy($"freq".desc, $"w".asc)
      .limit(MaxVocabCandidates)
      .as[(String, Long)].collect()
    // Split per Unicode CODE POINT, not UTF-16 char: the encoder's
    // regexp_replace("(.)") and both DuckDB oracles' string_split(word,'')
    // are code-point-wise, so a surrogate-pair split here would diverge
    // on any non-BMP text (emoji, CJK-B). One character definition for
    // trainer, encoder, and oracle.
    var seqs: Array[(String, Long)] = wf.map { case (w, f) =>
      val cps = w.codePoints().toArray
        .map(cp => new String(Character.toChars(cp)))
      (" " + cps.mkString(" ") + " </w> ", f)
    }
    val merges = Seq.newBuilder[(Int, String, Long)]
    for (r <- 1 to BpeRounds) {
      val counts = scala.collection.mutable.HashMap.empty[String, Long]
      seqs.foreach { case (seq, f) =>
        val toks = seq.split(" ").filter(_.nonEmpty)
        var i = 0
        while (i < toks.length - 1) {
          val p = toks(i) + " " + toks(i + 1)
          counts.update(p, counts.getOrElse(p, 0L) + f)
          i += 1
        }
      }
      val (bestPair, bestCnt) =
        counts.toSeq.minBy { case (p, c) => (-c, p) }
      val pat = " " + bestPair + " "
      val rep = " " + bestPair.replace(" ", "") + " "
      seqs = seqs.map { case (seq, f) => (seq.replace(pat, rep), f) }
      merges += ((r, bestPair, bestCnt))
    }
    merges.result()
  }

  /** F1-F9 cleaning chain (data_preparation.py:61-96), as a composable
    * Column transform — lower/trim, strip URLs, strip HTML tags, keep
    * [0-9a-z ], drop multi-digit tokens, drop scheme words, drop single
    * letters, collapse whitespace.
    */
  def cleanText(c: Column): Column = {
    val lowered = lower(trim(c))
    val noUrl = regexp_replace(lowered, "http\\S+", "")
    val noTag = regexp_replace(noUrl, "<[^>]*>", "")
    val alnum = regexp_replace(noTag, "[^ 0-9a-z]", " ")
    val noNum = regexp_replace(alnum, "\\b\\d\\d+\\b", "")
    val noScheme = regexp_replace(noNum, "\\b(http|https|www)\\b", "")
    val noSingle = regexp_replace(noScheme, "\\b[a-z]\\b", "")
    trim(regexp_replace(noSingle, " +", " "))
  }

  /** Identical chain in DuckDB SQL (RE2, 'g' flag), for the oracle. */
  def cleanTextSql(col: String): String =
    s"""trim(regexp_replace(
       |  regexp_replace(
       |    regexp_replace(
       |      regexp_replace(
       |        regexp_replace(
       |          regexp_replace(
       |            regexp_replace(lower(trim($col)), 'http\\S+', '', 'g'),
       |            '<[^>]*>', '', 'g'),
       |          '[^ 0-9a-z]', ' ', 'g'),
       |        '\\b\\d\\d+\\b', '', 'g'),
       |      '\\b(http|https|www)\\b', '', 'g'),
       |    '\\b[a-z]\\b', '', 'g'),
       |  ' +', ' ', 'g'))""".stripMargin

  /** Noisy text used by the cleaning queries: the corpus text plus a
    * deterministic per-row blob of URL / HTML / digits / single letters, so
    * the chain demonstrably removes something.
    */
  private def noisy(s: SparkSession): Column = {
    import s.implicits._
    concat($"text", lit(" Visit https://ex.com/page?id="), $"doc_id",
      lit(" <b>Bold</b> <i>x</i> 42 1234 a b Z! www"))
  }

  private val noisySql =
    "text || ' Visit https://ex.com/page?id=' || doc_id || " +
      "' <b>Bold</b> <i>x</i> 42 1234 a b Z! www'"

  /** Per-(test doc, candidate class) multinomial-NB log scores — the
    * shared core of text_nb_classifier (argmax → confusion matrix) and
    * ml_calibration_bins (softmax → reliability bins). Laplace-smoothed
    * word log-likelihoods and priors quantize to micro-integers, so each
    * (doc, class) score is an exact, order-free integer sum identical in
    * the DuckDB replay. Columns: doc_id, true_lang, pred_cand, score.
    * 80/20 hash split; the train-vocab size is a model-scale driver
    * scalar (S12 family).
    */
  /** Oracle-side twin of nbScored: the shared WITH-clause body ending in
    * `sc(doc_id, true_lang, pred_cand, score)`.
    */
  private lazy val nbScoredCtes: String =
    s"""dz AS (
       |  SELECT doc_id, lang, ${tokensSql("text")} AS toks,
       |    ${graft.ops.DedupOps.polyHashSql("CAST(doc_id AS VARCHAR)")}
       |      % 10 AS bucket
       |  FROM documents),
       |tr AS (SELECT doc_id, lang, toks FROM dz WHERE bucket < 8),
       |te AS (SELECT doc_id, lang, toks FROM dz WHERE bucket >= 8),
       |tw AS (SELECT lang, unnest(toks) AS word FROM tr),
       |cc AS (SELECT lang, word, COUNT(*) AS cwc FROM tw GROUP BY 1, 2),
       |ct AS (SELECT lang, COUNT(*) AS nc FROM tw GROUP BY 1),
       |vz AS (SELECT COUNT(DISTINCT word) AS v FROM tw),
       |pri AS (
       |  SELECT lang, ${qroundLongSql("ln(CAST(ndc AS DOUBLE) / nd) * 1000000.0")} AS prior_micro
       |  FROM (SELECT lang, COUNT(*) AS ndc FROM tr GROUP BY 1)
       |  CROSS JOIN (SELECT COUNT(*) AS nd FROM tr)),
       |vocab AS (SELECT DISTINCT word FROM tw),
       |wl AS (
       |  SELECT vocab.word, ct.lang,
       |    ${qroundLongSql("""ln(CAST(COALESCE(cc.cwc, 0) + 1 AS DOUBLE)
       |      / (ct.nc + (SELECT v FROM vz))) * 1000000.0""")}
       |      AS lp_micro
       |  FROM vocab CROSS JOIN ct
       |  LEFT JOIN cc ON cc.word = vocab.word AND cc.lang = ct.lang),
       |dc AS (
       |  SELECT tt.doc_id, wl.lang AS pred_cand,
       |    CAST(SUM(wl.lp_micro) AS BIGINT) AS ssum
       |  FROM (SELECT doc_id, unnest(toks) AS word FROM te) tt
       |  JOIN wl ON tt.word = wl.word
       |  GROUP BY 1, 2),
       |sc AS (
       |  SELECT dom.doc_id, dom.true_lang, dom.pred_cand,
       |    COALESCE(dc.ssum, 0) + dom.prior_micro AS score
       |  FROM (
       |    SELECT te.doc_id, te.lang AS true_lang,
       |      pri.lang AS pred_cand, pri.prior_micro
       |    FROM te CROSS JOIN pri) dom
       |  LEFT JOIN dc ON dom.doc_id = dc.doc_id
       |    AND dom.pred_cand = dc.pred_cand)""".stripMargin

  /** [[calibBins]]' oracle prelude up to the argmax: [[nbScoredCtes]],
    * then `soft` (the max-shift nano softmax terms), `den` (their per-doc
    * sum) and `pr` (each doc's top prediction).
    */
  private lazy val calibPredSql: String =
    s"""$nbScoredCtes,
       |mx AS (SELECT doc_id, MAX(score) AS smax FROM sc GROUP BY 1),
       |soft AS (
       |  SELECT sc.doc_id, sc.true_lang, sc.pred_cand, sc.score,
       |    ${qroundLongSql("""exp(CAST(sc.score - mx.smax AS DOUBLE) / 1e6)
       |      * 1e9""")} AS nano
       |  FROM sc JOIN mx ON sc.doc_id = mx.doc_id),
       |den AS (
       |  SELECT doc_id, CAST(SUM(nano) AS BIGINT) AS dn
       |  FROM soft GROUP BY 1),
       |pr AS (${topKSql("soft", Seq("doc_id"), Seq("score DESC", "pred_cand ASC"), 1, None)})"""
      .stripMargin

  /** The 10-bin confidence/accuracy table behind ml_calibration_bins
    * and ml_isotonic_calibration: softmax the NB scores per doc (the
    * max-shift nano-integer device), take the top prediction's
    * confidence, bucket into 10 equal-width bins, and aggregate
    * (bin, n_docs, sconf, n_correct). Factored so the two consumers
    * cannot drift (the round-13 gdSteps/scd2Hist pattern).
    */
  private def calibBins(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val sc = nbScored(s, d)
    val mx = sc.groupBy($"doc_id").agg(max($"score").as("smax"))
    val soft = sc.join(mx, "doc_id")
      .withColumn("nano",
        qroundLong(exp(($"score" - $"smax").cast("double") / 1e6) * 1e9))
      // round 18: den and the argmax row both read it — pin once
      .localCheckpoint(false)
    val den = soft.groupBy($"doc_id").agg(sum($"nano").as("dn"))
    val pred = topK(soft, Seq($"doc_id"), Seq(desc("score"), asc("pred_cand")), 1, None)
      .join(den, "doc_id")
      .withColumn("conf", lit(1e9) / $"dn")
      .select(
        when($"true_lang" === $"pred_cand", 1L).otherwise(0L).as("ok"),
        least(floor($"conf" * 10).cast("long") + 1L, lit(10L)).as("bin"),
        qroundLong($"conf" * 1e6).as("confm"))
    pred.groupBy($"bin").agg(
      count(lit(1)).as("n_docs"),
      sum($"confm").as("sconf"),
      sum($"ok").as("n_correct"))
  }

  private def nbScored(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val bucket = pmod(graft.functions.PolyHash.poly_hash(
      $"doc_id".cast("string")), lit(10L))
    val docs = documents(s, d)
      .select($"doc_id", $"lang", tokens($"text").as("t"),
        bucket.as("bucket"))
    val train = docs.filter($"bucket" < 8)
    val test = docs.filter($"bucket" >= 8)
    val tw = train.select($"lang", explode($"t").as("word"))
    // Round 18: ONE train-side tokenize+explode — classTotals, the
    // vocab-size scalar and wl's word domain all derive from this
    // pinned vocab-scale pair table (each previously re-ran the corpus
    // explode: 4 tokenize passes for one model build). classTotals as
    // Σ cwc and vocab as DISTINCT word over the aggregate are the same
    // exact longs/sets the per-pass forms produced.
    val classCounts = tw.groupBy($"lang", $"word").agg(count(lit(1)).as("cwc"))
      .localCheckpoint(false)
    val classTotals = classCounts.groupBy($"lang").agg(sum($"cwc").as("nc"))
    val vocabSize = classCounts.select($"word").distinct().count()
    val priors = train.groupBy($"lang").agg(count(lit(1)).as("ndc"))
      .crossJoin(broadcast(train.agg(count(lit(1)).as("nd"))))
      .select($"lang",
        qroundLong(log($"ndc".cast("double") / $"nd") * 1e6).as("prior_micro"))
    val wl = classCounts.select($"word").distinct()
      .crossJoin(broadcast(classTotals))
      .join(classCounts, Seq("lang", "word"), "left")
      .na.fill(0L, Seq("cwc"))
      .select($"word", $"lang",
        qroundLong(log(($"cwc" + 1).cast("double") / ($"nc" + vocabSize)) * 1e6).as("lp_micro"))
    val docClass = test
      .select($"doc_id", explode($"t").as("word"))
      .join(wl, "word")
      .groupBy($"doc_id", $"lang").agg(sum($"lp_micro").as("ssum"))
      .withColumnRenamed("lang", "pred_cand")
    val dom = test.select($"doc_id", $"lang".as("true_lang"))
      .crossJoin(broadcast(priors
        .select($"lang".as("pred_cand"), $"prior_micro")))
    dom.join(docClass, Seq("doc_id", "pred_cand"), "left")
      .na.fill(0L, Seq("ssum"))
      .withColumn("score", $"ssum" + $"prior_micro")
      .select($"doc_id", $"true_lang", $"pred_cand", $"score")
      // round 18: every consumer (softmax max-shift + denominator +
      // argmax in calibBins/conformal, the confusion matrix in
      // text_nb_classifier) reads the score table 2-4 times — pin the
      // |test docs| × |classes| frame so the test-side scoring pass
      // runs once
      .localCheckpoint(false)
  }

  // ---- Retrieval rules: each defined once here, with its DuckDB twin ----

  /** The BM25-family building block (round 18 — factored out when the
    * per-query copies got pinned behind localCheckpoints): the corpus
    * token stream term-filtered to the query-term set and aggregated to
    * (doc_id, word, tf). The 100 TB property lives HERE and PlanSpec
    * pins it on this builder: the tiny term set must meet the exploded
    * corpus as a BROADCAST hash join — without the hint the planner can
    * shuffle the whole exploded corpus on `word`, the exact skew
    * disaster a hot term triggers. Callers pin the (hits-scale) result
    * with localCheckpoint(false) when more than one consumer reads it,
    * which is also why the final query plans now show a Scan
    * ExistingRDD where this join used to be visible.
    */
  private[graft] def termFilteredTf(t: DataFrame, terms: DataFrame): DataFrame =
    t.select(col("doc_id"), explode(col("t")).as("word"))
      .join(broadcast(terms.select("word").distinct()), "word")
      .groupBy(col("doc_id"), col("word"))
      .agg(count(lit(1)).as("tf"))

  /** A query term: at least 4 characters and not a stopword (stricter
    * than [[isContentWord]], so a query keeps its informative words).
    */
  private[graft] def isQueryTerm(t: Column): Column =
    length(t) >= 4 && !isStopword(t)

  /** [[isQueryTerm]] over the DuckDB token `v`. */
  private[graft] def isQueryTermSql(v: String): String =
    s"len($v) >= 4 AND NOT ${isStopwordSql(v)}"

  /** Each query doc's query: its top-3 query terms by in-doc count
    * (ties on word), from the (qdoc, word) token stream of the query
    * docs. ≤ 3·|queries| rows read by several plans, so pinned.
    */
  private[graft] def queryTerms(qtok: DataFrame): DataFrame =
    topK(qtok.filter(isQueryTerm(col("word")))
        .groupBy(col("qdoc"), col("word")).agg(count(lit(1)).as("qtf")),
      Seq(col("qdoc")), Seq(desc("qtf"), asc("word")), 3, None)
      .select(col("qdoc"), col("word"))
      .localCheckpoint(false)

  /** [[queryTerms]]'s DuckDB twin: the `qterms` (qdoc, word) CTE over the
    * token CTE `t` and the query-doc CTE `qd`.
    */
  private[graft] val queryTermsSql: String =
    s"""qterms AS (
       |  SELECT qdoc, word FROM (${topKSql(
         s"""(SELECT qdoc, word, COUNT(*) AS qtf FROM (
            |    SELECT qd.qdoc, unnest(t.toks) AS word
            |    FROM t JOIN qd ON t.doc_id = qd.qdoc)
            |  WHERE ${isQueryTermSql("word")} GROUP BY 1, 2)""".stripMargin,
         Seq("qdoc"), Seq("qtf DESC", "word ASC"), 3, None)}))""".stripMargin

  /** BM25 (Robertson/Lucene form, k1 = 1.2, b = 0.75) for every row of a
    * (doc_id, word, tf, …) frame: df counts `tf`'s rows per word, the
    * corpus stats (n_docs, avgdl) come from the (doc_id, dl) frame, and
    * the result is `tf`'s columns plus the weight `w` and its
    * micro-integer `wm` (exact in both engines: the inputs are counts
    * and an exact avgdl, so per-doc scores are order-free integer sums).
    * w per (doc, word) does not depend on the query, so callers with a
    * (qdoc, word) term table join it after this frame.
    * The tf >= 1 filter is always true (tf is a count) but keeps the df
    * side consuming the tf value, so its exchange stays the tf side's
    * and ReuseExchange shares it (see u7_tfidf_top_terms): an un-pinned
    * tf is built by one corpus pass, not two.
    */
  private[graft] def bm25Weights(tf: DataFrame, dl: DataFrame): DataFrame = {
    val df_ = tf.filter(col("tf") >= 1)
      .groupBy(col("word")).agg(count(lit(1)).as("df"))
    val st = dl.agg(count(lit(1)).as("n_docs"), avg(col("dl")).as("avgdl"))
    val scored = tf.join(broadcast(df_), "word")
      .join(dl, "doc_id")
      .crossJoin(broadcast(st))
      .withColumn("dlr", col("dl").cast("double") / col("avgdl"))
      .withColumn("idf",
        log((col("n_docs") - col("df") + lit(0.5)) / (col("df") + lit(0.5)) + lit(1.0)))
      .withColumn("w",
        col("idf") * col("tf") * lit(2.2) /
          (col("tf") + lit(1.2) * (lit(0.25) + lit(0.75) * col("dlr"))))
    scored.select((tf.columns.map(col) :+ col("w") :+
      qroundLong(col("w") * 1e6).as("wm")): _*)
  }

  /** Each query's BM25 score of every doc but itself, for a (qdoc, word,
    * wt) term table: Σ wm·wt per (qdoc, doc_id) over the corpus tokens
    * `t` (doc_id, t) term-filtered to the table's words. The tf table is
    * hits-scale but read twice (the df aggregate and the scored join),
    * so it is pinned: one corpus explode per pass.
    */
  private[graft] def bm25Scores(t: DataFrame, dl: DataFrame, terms: DataFrame): DataFrame =
    bm25Weights(termFilteredTf(t, terms).localCheckpoint(false), dl)
      .join(broadcast(terms), "word")
      .groupBy(col("qdoc"), col("doc_id")).agg(sum(col("wm") * col("wt")).as("score"))
      .filter(col("doc_id") =!= col("qdoc"))

  /** [[bm25Weights]]'s corpus stats in DuckDB: the `dl` (doc_id, dl) and
    * `st` (n_docs, avgdl) CTEs over the token CTE `t`.
    */
  private[graft] val bm25StatsSql: String =
    """dl AS (SELECT doc_id, len(toks) AS dl FROM t),
      |st AS (SELECT COUNT(*) AS n_docs, AVG(dl) AS avgdl FROM dl)""".stripMargin

  /** [[bm25Weights]]'s DuckDB twin: a SELECT of the tf CTE `tf`'s columns
    * plus `w` and `wm`, reading the [[bm25StatsSql]] CTEs.
    */
  private[graft] def bm25WeightsSql(tf: String): String =
    s"""SELECT *, ${qroundLongSql("w * 1e6")} AS wm FROM (
       |  SELECT $tf.*,
       |    ln((st.n_docs - dfx.df + 0.5) / (dfx.df + 0.5) + 1.0)
       |      * $tf.tf * 2.2 /
       |      ($tf.tf + 1.2 * (0.25 + 0.75 * (CAST(dl.dl AS DOUBLE) / st.avgdl))) AS w
       |  FROM $tf
       |  JOIN (SELECT word, COUNT(*) AS df FROM $tf GROUP BY word) dfx
       |    ON $tf.word = dfx.word
       |  JOIN dl ON $tf.doc_id = dl.doc_id
       |  CROSS JOIN st)""".stripMargin

  /** [[bm25Scores]]'s DuckDB twin: the CTEs `<out>_tf`, the token CTE
    * `t` term-filtered to the words of the (qdoc, word, wt) CTE `terms`,
    * and `out` (qdoc, doc_id, score).
    */
  private[graft] def bm25ScoresSql(out: String, terms: String): String =
    s"""${out}_tf AS (
       |  SELECT doc_id, word, COUNT(*) AS tf FROM (
       |    SELECT doc_id, unnest(toks) AS word FROM t)
       |  WHERE word IN (SELECT word FROM $terms) GROUP BY 1, 2),
       |$out AS (
       |  SELECT q.qdoc, w.doc_id, CAST(SUM(w.wm * q.wt) AS BIGINT) AS score
       |  FROM (${bm25WeightsSql(s"${out}_tf")}) w JOIN $terms q ON w.word = q.word
       |  WHERE w.doc_id <> q.qdoc GROUP BY 1, 2)""".stripMargin

  /** U2 lemmatizer-lite (data_preparation.py:100-119 is WordNet-backed;
    * exact parity is out of scope per SURVEY §7.4 — this is the documented
    * rule-based approximation): English suffix stripping, same CASE chain
    * in the oracle.
    */
  def lemmaLite(t: Column): Column = {
    def drop(n: Int): Column = t.substr(lit(1), length(t) - n)
    when(t.endsWith("sses"), drop(2))
      .when(t.endsWith("ies") && length(t) > 4, concat(drop(3), lit("y")))
      .when(t.endsWith("ss"), t)
      .when(t.endsWith("s") && length(t) > 3, drop(1))
      .when(t.endsWith("ing") && length(t) > 5, drop(3))
      .when(t.endsWith("ed") && length(t) > 4, drop(2))
      .otherwise(t)
  }

  /** The same rules over a DuckDB lambda variable `t`. */
  val lemmaLiteSql: String =
    """CASE WHEN t LIKE '%sses' THEN substr(t, 1, len(t) - 2)
      |     WHEN t LIKE '%ies' AND len(t) > 4 THEN substr(t, 1, len(t) - 3) || 'y'
      |     WHEN t LIKE '%ss' THEN t
      |     WHEN t LIKE '%s' AND len(t) > 3 THEN substr(t, 1, len(t) - 1)
      |     WHEN t LIKE '%ing' AND len(t) > 5 THEN substr(t, 1, len(t) - 3)
      |     WHEN t LIKE '%ed' AND len(t) > 4 THEN substr(t, 1, len(t) - 2)
      |     ELSE t END""".stripMargin

  // ---- Unigram-LM (SentencePiece-style) tokenizer trainer ----

  /** Unigram trainer config: words up to 12 chars, pieces up to 4 chars,
    * 200 seed multi-char pieces (+ every observed single char, never
    * pruned — guarantees full segmentation coverage), 2 hard-EM rounds.
    */
  val UgMaxWordLen = 12
  val UgMaxPieceLen = 4
  val UgSeedMulti = 200
  val UgEmRounds = 2
  val UgTrainTopN = 100
  val UgEncodeMinLen = 6
  val UgEncodeTopN = 30

  /** The word-frequency table the unigram trainer runs on: same token
    * stream and freq>=2 hapax guard as the BPE trainer, plus the
    * UgMaxWordLen cap that bounds the Viterbi DP unroll (the oracle
    * unrolls one CTE per position). Long-tail words beyond the cap fall
    * back to the char/BPE path in a real pipeline — documented scope.
    */
  private def ugWords(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    documents(s, d).select(explode(tokens($"text")).as("word"))
      .groupBy($"word").agg(count(lit(1)).as("freq"))
      .filter($"freq" >= 2 && length($"word") <= UgMaxWordLen)
  }

  /** Viterbi segmentation under a fixed piece-probability model, as ONE
    * codegen'd higher-order-function fold — no join, no shuffle, no
    * iteration: the vocab broadcasts as a map literal (model-scale, the
    * BPE-merge-table posture) and each word folds over its positions,
    * keeping best(pos) = max_j best(pos-j)·p(piece(pos-j+1..pos)).
    * State is an array of (ns, seg) structs where ns = NEGATED score, so
    * array_sort's (ns asc, seg asc) struct order IS the (score desc,
    * seg asc) tie-break the oracle's topKSql uses; negation commutes
    * exactly with positive multiplication, so magnitudes stay
    * bit-identical to the oracle's un-negated products. Returns the
    * final (ns, seg) struct; seg carries a leading space.
    */
  private def ugViterbi(word: Column, vocab: Seq[(String, Double)]): Column = {
    val pm = map_from_arrays(
      typedLit(vocab.map(_._1)), typedLit(vocab.map(_._2)))
    val init = array(struct(lit(-1.0).as("ns"), lit("").as("seg")))
    aggregate(
      sequence(lit(1), length(word)),
      init,
      (state, pos) => {
        val cands = (1 to UgMaxPieceLen).map { j =>
          val piece = word.substr(pos - (j - 1), lit(j))
          val p = try_element_at(pm, piece)
          val prev = try_element_at(state, pos - (j - 1))
          when(pos >= j && p.isNotNull,
            struct((prev.getField("ns") * p).as("ns"),
              concat(prev.getField("seg"), lit(" "), piece).as("seg")))
            .otherwise(lit(null))
        }
        concat(state, array(element_at(
          array_sort(filter(array(cands: _*), c => c.isNotNull)), 1)))
      },
      state => element_at(state, length(word) + 1))
  }

  /** The model table of a trained unigram vocab (piece, cnt) with its
    * total count: the top UgTrainTopN pieces as (rank, piece, piece_len,
    * cnt, prob). The vocab is model-scale driver state, so the global
    * rank runs over a row-bounded frame.
    */
  private def ugModelTable(vocab: DataFrame, total: Long): DataFrame = {
    import vocab.sparkSession.implicits._
    topK(vocab, Nil, Seq(desc("cnt"), asc("piece")), UgTrainTopN, Some("rank"))
      .select($"rank", $"piece", length($"piece").as("piece_len"), $"cnt",
        round($"cnt".cast("double") / lit(total).cast("double"), 6).as("prob"))
      .orderBy("rank")
  }

  /** Fixed-iteration hard-EM unigram training (Kudo 2018's trainer with
    * Viterbi E-steps — the standard "EM" SentencePiece actually runs is
    * likelihood-EM over the lattice; the Viterbi (hard) variant keeps
    * every statistic an exact INTEGER count, which is what makes the
    * whole loop DuckDB-replayable with zero quantization machinery):
    *   seed: piece counts = freq-weighted occurrence counts of all
    *     substrings (len<=4); vocab = all single chars + top-200 multis
    *     (total order: count desc, piece asc);
    *   round: Viterbi-segment every word under p = c/Σc (probabilities
    *     are ratios of exact integers — identical doubles both engines),
    *     re-count piece usage weighted by word freq, prune unused multis
    *     (single chars floor at count 1 — coverage invariant).
    * Per round: one map-side HOF pass over the word table + one
    * vocab-scale groupBy; the only driver state is the vocab itself
    * (model-scale, the BPE/k-means/PQ posture), a Memo.index entry.
    * Returns (vocab counts, total) after UgEmRounds.
    */
  def unigramModel(s: SparkSession, d: String): (Seq[(String, Long)], Long) =
    Memo.index("unigram", s, d) {
      import s.implicits._
      val w = ugWords(s, d).localCheckpoint()
      val subs = w.select($"word", $"freq",
        explode(flatten(transform(sequence(lit(1), length($"word")), i =>
          transform(sequence(lit(0), least(lit(UgMaxPieceLen - 1), length($"word") - i)),
            j0 => word_substr($"word", i, j0))))).as("piece"))
      val seedCounts = subs.groupBy($"piece").agg(sum($"freq").as("c"))
      val singles = seedCounts.filter(length($"piece") === 1)
      val multis = seedCounts.filter(length($"piece") > 1)
        .orderBy(desc("c"), asc("piece")).limit(UgSeedMulti)
      var vocab: Seq[(String, Long)] = singles.union(multis)
        .as[(String, Long)].collect().toSeq.sortBy(_._1)
      for (_ <- 1 to UgEmRounds) {
        val total = vocab.map(_._2).sum
        val probs = vocab.map { case (pc, c) => (pc, c.toDouble / total) }
        val uses = w.withColumn("st", ugViterbi($"word", probs))
          .select($"freq",
            explode(split(ltrim($"st".getField("seg")), " ")).as("piece"))
          .groupBy($"piece").agg(sum($"freq").as("c"))
          .as[(String, Long)].collect().toMap
        vocab = vocab.flatMap { case (pc, _) =>
          val c = uses.getOrElse(pc, 0L)
          if (pc.codePointCount(0, pc.length) == 1) Some((pc, math.max(c, 1L)))
          else if (c > 0) Some((pc, c)) else None
        }
      }
      (vocab, vocab.map(_._2).sum)
    }

  /** word.substr for HOF lambdas (i: 1-based start Column, j0: len-1). */
  private def word_substr(word: Column, i: Column, j0: Column): Column =
    word.substr(i, j0 + 1)

  /** The unigram-trainer CTE chain: ugw (word table) → ugsub/ugvb0/ugp0
    * (seed counts, vocab, probs) → per round r: a 12-step unrolled
    * Viterbi DP (ug{r}p0..ug{r}p12, best prefix state per position,
    * ties (score DESC, seg ASC) — the exact struct order the Spark HOF's
    * negated-score array_sort implements) landing in ugfin{r}, then
    * uguse/ugvb/ugt/ugp re-estimation (exact integer counts; single
    * chars floored at 1, unused multis pruned). `dpRounds` >
    * UgEmRounds appends the ENCODE pass: one more DP under the final
    * probs with no re-estimation. MATERIALIZED is load-bearing on every
    * DP step: step t references steps t-1..t-4, so inlined CTEs expand
    * ~4^12.
    */
  private def ugCtesSql(dpRounds: Int): String = {
    val WL = UgMaxWordLen
    val PL = UgMaxPieceLen
    def dpRound(r: Int): String = {
      val probRel = s"ugp${r - 1}"
      val steps = (1 to WL).map { t =>
        val branches = (1 to math.min(PL, t)).map { j =>
          s"""    SELECT s.word, s.freq, s.score * p.p AS score,
             |      s.seg || ' ' || p.piece AS seg
             |    FROM ug${r}p${t - j} s JOIN $probRel p
             |      ON p.piece = substr(s.word, ${t - j + 1}, $j)
             |    WHERE len(s.word) >= $t""".stripMargin
        }.mkString("\n    UNION ALL\n")
        s"""ug${r}p$t AS MATERIALIZED (
           |  SELECT word, freq, score, seg FROM (${topKSql(s"(\n$branches)",
             Seq("word"), Seq("score DESC", "seg ASC"), 1, None)}))""".stripMargin
      }.mkString(",\n")
      val fins = (1 to WL).map(t =>
        s"  SELECT word, freq, seg FROM ug${r}p$t WHERE len(word) = $t")
        .mkString("\n  UNION ALL\n")
      s"""ug${r}p0 AS (
         |  SELECT word, freq, CAST(1.0 AS DOUBLE) AS score, '' AS seg
         |  FROM ugw),
         |$steps,
         |ugfin$r AS MATERIALIZED (
         |$fins)""".stripMargin
    }
    def reestimate(r: Int): String =
      s"""uguse$r AS (
         |  SELECT piece, CAST(SUM(freq) AS BIGINT) AS c FROM (
         |    SELECT freq, unnest(string_split(trim(seg), ' ')) AS piece
         |    FROM ugfin$r)
         |  GROUP BY 1),
         |ugvb$r AS MATERIALIZED (
         |  SELECT vb.piece,
         |    CASE WHEN len(vb.piece) = 1 THEN GREATEST(COALESCE(u.c, 0), 1)
         |         ELSE COALESCE(u.c, 0) END AS c
         |  FROM ugvb${r - 1} vb LEFT JOIN uguse$r u ON vb.piece = u.piece
         |  WHERE len(vb.piece) = 1 OR COALESCE(u.c, 0) > 0),
         |ugt$r AS (SELECT CAST(SUM(c) AS BIGINT) AS t FROM ugvb$r),
         |ugp$r AS MATERIALIZED (
         |  SELECT piece, CAST(c AS DOUBLE) / (SELECT t FROM ugt$r) AS p
         |  FROM ugvb$r)""".stripMargin
    val roundsSql = (1 to dpRounds).map { r =>
      if (r <= UgEmRounds) dpRound(r) + ",\n" + reestimate(r)
      else dpRound(r)
    }.mkString(",\n")
    s"""ugw AS MATERIALIZED (
       |  SELECT word, CAST(COUNT(*) AS BIGINT) AS freq FROM (
       |    SELECT unnest(${tokensSql("text")}) AS word FROM documents)
       |  GROUP BY 1 HAVING COUNT(*) >= 2 AND len(word) <= $WL),
       |ugsub AS (
       |  SELECT substr(w.word, ii.i, jj.j) AS piece,
       |    CAST(SUM(w.freq) AS BIGINT) AS c
       |  FROM ugw w
       |  CROSS JOIN (SELECT CAST(unnest(range(1, ${WL + 1})) AS INT) AS i) ii
       |  CROSS JOIN (SELECT CAST(unnest(range(1, ${PL + 1})) AS INT) AS j) jj
       |  WHERE ii.i + jj.j - 1 <= len(w.word)
       |  GROUP BY 1),
       |ugvb0 AS MATERIALIZED (
       |  SELECT piece, c FROM ugsub WHERE len(piece) = 1
       |  UNION ALL
       |  SELECT piece, c FROM (
       |    SELECT piece, c FROM ugsub WHERE len(piece) > 1
       |    ORDER BY c DESC, piece ASC LIMIT $UgSeedMulti)),
       |ugt0 AS (SELECT CAST(SUM(c) AS BIGINT) AS t FROM ugvb0),
       |ugp0 AS MATERIALIZED (
       |  SELECT piece, CAST(c AS DOUBLE) / (SELECT t FROM ugt0) AS p
       |  FROM ugvb0),
       |$roundsSql""".stripMargin
  }

  private lazy val ugTrainSql: String =
    s"""WITH ${ugCtesSql(UgEmRounds)}
       |SELECT rank, piece, len(piece) AS piece_len, c AS cnt,
       |  ROUND(CAST(c AS DOUBLE) / (SELECT t FROM ugt$UgEmRounds), 6) AS prob
       |FROM (${topKSql(s"ugvb$UgEmRounds", Nil, Seq("c DESC", "piece ASC"), UgTrainTopN, Some("rank"))})
       |ORDER BY rank""".stripMargin

  /** The BPE training CTE chain (w, s0, per-round p/b/s) — shared by the
    * text_bpe_merges and text_bpe_encode oracles. MATERIALIZED is
    * load-bearing: s_i references s_{i-1} through both the pair count and
    * the merge, so inlined CTEs expand 2^rounds.
    */
  private lazy val bpeCtesSql: String = {
    val rounds = (1 to BpeRounds).map { i =>
      s"""p$i AS MATERIALIZED (
         |  SELECT pair, CAST(SUM(freq) AS BIGINT) AS cnt FROM (
         |    SELECT freq, unnest(list_transform(range(len(toks) - 1),
         |      k -> toks[k+1] || ' ' || toks[k+2])) AS pair
         |    FROM (SELECT freq, list_filter(string_split(seq, ' '),
         |          t -> len(t) > 0) AS toks FROM s${i - 1}))
         |  GROUP BY 1),
         |b$i AS MATERIALIZED (SELECT $i AS round, pair, cnt FROM p$i
         |        ORDER BY cnt DESC, pair ASC LIMIT 1),
         |s$i AS MATERIALIZED (SELECT word, freq,
         |  replace(seq, ' ' || (SELECT pair FROM b$i) || ' ',
         |    ' ' || replace((SELECT pair FROM b$i), ' ', '') || ' ') AS seq
         |  FROM s${i - 1})""".stripMargin
    }.mkString(",\n")
    s"""w AS MATERIALIZED (
       |  SELECT word, COUNT(*) AS freq FROM (
       |    SELECT unnest(${tokensSql("text")}) AS word FROM documents)
       |  GROUP BY 1 HAVING COUNT(*) >= 2),
       |s0 AS MATERIALIZED (
       |  SELECT word, freq,
       |    ' ' || array_to_string(string_split(word, ''), ' ') || ' </w> ' AS seq
       |  FROM w),
       |$rounds""".stripMargin
  }

  /** Shared LM-score pipeline (doc_id, lang, n_bigrams, avg_logprob):
    * per-doc average bigram log-probability under corpus counts — the
    * CCNet-style quality signal. Bigram count is a window over the bigram
    * firehose (materializes once, one exchange on bg; the groupBy+self-
    * join form recomputed the tokenize+explode for the probe side);
    * unigram counts join back on the bigram's first word. Consumed by
    * text_lm_score and text_ccnet_buckets.
    */
  private def lmScores(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val t = documents(s, d).select($"doc_id", $"lang", tokens($"text").as("t"))
    val db = t.select($"doc_id", $"lang",
        explode(when(size($"t") >= 2,
          transform(sequence(lit(0), size($"t") - 2),
            i => concat_ws(" ", element_at($"t", i + 1), element_at($"t", i + 2))))
          .otherwise(array().cast("array<string>"))).as("bg"))
    val uni = t.select(explode($"t").as("w"))
      .groupBy($"w").agg(count(lit(1)).as("cu"))
    db.withColumn("cb", count(lit(1)).over(Window.partitionBy($"bg")))
      .join(uni, substring_index($"bg", " ", 1) === $"w")
      .withColumn("logp", log($"cb" / $"cu"))
      .groupBy($"doc_id", $"lang")
      .agg(count(lit(1)).as("n_bigrams"),
        round(avg($"logp"), 6).as("avg_logprob"))
  }

  val queries: Map[String, Q] = Map(
    // F1-F9 (data_preparation.py:61-96): the regex cleaning chain over a
    // deliberately dirtied column.
    "f_text_clean" -> ((s, d) => {
      import s.implicits._
      documents(s, d)
        .withColumn("article_clean", cleanText(noisy(s)))
        .select("doc_id", "article_clean")
        .orderBy("doc_id")
    }),

    // F10/F28 + P4 (data_preparation.py:138-140): tokenize, word counts,
    // min-length gate (reference: n_words > 50 → here > 40 for signal).
    "f_word_counts" -> ((s, d) => {
      import s.implicits._
      documents(s, d)
        .withColumn("n_words", size(tokens($"text")))
        .withColumn("n_words_clean", size(filter(tokens($"text"),
          t => !isStopword(t))))
        .filter($"n_words" > 40)
        .select("doc_id", "n_words", "n_words_clean")
        .orderBy("doc_id")
    }),

    // A10 (stats_visualization.py:121-155): stopword-filtered word
    // frequencies — the word-cloud aggregation. min length 3, top 100.
    "a10_word_freq" -> ((s, d) => {
      import s.implicits._
      documents(s, d)
        .select(explode(tokens($"text")).as("word"))
        .filter(isContentWord($"word"))
        .groupBy($"word").agg(count("*").as("cnt"))
        .orderBy(desc("cnt"), asc("word"))
        .limit(100)
    }),

    // A11 (topic_modeling.py:136-138): vocabulary pruning by document-
    // frequency bounds — df >= 5 AND df <= 0.5*N, vocab cap.
    "a11_vocab_prune" -> ((s, d) => {
      import s.implicits._
      val docs = documents(s, d)
      val n = docs.agg(count("*").as("n_docs"))
      docs.select($"doc_id", explode(array_distinct(tokens($"text"))).as("word"))
        .groupBy($"word").agg(count("*").as("df"))
        .join(broadcast(n))
        .filter($"df" >= 5 && $"df" <= $"n_docs" * 0.5)
        .select("word", "df")
        .orderBy(desc("df"), asc("word"))
        .limit(50000)
    }),

    // U7 (stats_visualization.py:228-235): TF-IDF with sklearn semantics
    // (smooth idf = ln((1+N)/(1+df)) + 1, per-doc L2 normalization),
    // column-summed per term, top-15 keywords.
    "u7_tfidf_top_terms" -> ((s, d) => {
      import s.implicits._
      val docs = documents(s, d)
      val n = docs.agg(count("*").as("n_docs"))
      val tf = docs
        .select($"doc_id", explode(tokens($"text")).as("word"))
        .filter(isContentWord($"word"))
        .groupBy($"doc_id", $"word").agg(count("*").as("tf"))
      // df from the SAME tf table — one tokenize+aggregate pass total (at
      // 100 TB the token firehose is the dominant cost; never produce it
      // twice). The df aggregate is VOCABULARY-sized (distinct words, not
      // token occurrences), so it partial-aggregates to a small frame and
      // broadcasts back — one full tf shuffle cheaper than the window-
      // over-word form this replaces (measured 1.37 s → ~1.1 s at sf0.1;
      // the bigger win is structural: no full-width shuffle keyed on the
      // skew-prone word column).
      // The tf >= 1 filter is always true (tf is a count) but the
      // optimizer cannot prove it, so this side keeps consuming the tf
      // VALUE. Without it, counting rows per word gets rewritten to a
      // distinct-(doc_id,word) aggregate whose partial stage drops the
      // count column — the two exchange subtrees then differ and
      // ReuseExchange cannot share them, and the corpus gets tokenized
      // TWICE (the exact double-firehose the comment above rules out).
      // With it, .explain shows one Scan+Generate and a ReusedExchange.
      val df_ = tf.filter($"tf" >= 1)
        .groupBy($"word").agg(count(lit(1)).as("df"))
      val wNorm = Window.partitionBy($"doc_id")
      tf.join(broadcast(df_), "word")
        .join(broadcast(n))
        .withColumn("w", $"tf" * (log(($"n_docs" + 1.0) / ($"df" + 1.0)) + 1.0))
        .withColumn("wn", $"w" / sqrt(sum($"w" * $"w").over(wNorm)))
        .groupBy($"word").agg(round(sum($"wn"), 6).as("score"))
        .orderBy(desc("score"), asc("word"))
        .limit(15)
    }),

    // U3+F19 (sentiment_analysis.py:42-53): VADER-style compound scoring —
    // sum of lexicon valences normalized by sqrt(s²+15), thresholds ±0.05.
    // Relational form: broadcast lexicon join, no UDF. The scored frame
    // is a persisted Memo.perPass entry, read by u3_sentiment_distribution.
    "u3_vader_sentiment" -> ((s, d) => {
      import s.implicits._
      Memo.perPass("vader", s, d) {
        val docs = documents(s, d)
        val lex = s.createDataFrame(Lexicons.vaderLexicon).toDF("word", "valence")
        val sums = docs
          .select($"doc_id", explode(tokens($"text")).as("word"))
          .join(broadcast(lex), "word")
          .groupBy($"doc_id").agg(sum($"valence").as("sv"))
        docs.join(sums, Seq("doc_id"), "left")
          .withColumn("sv", coalesce($"sv", lit(0.0)))
          .withColumn("sentiment_score", round($"sv" / sqrt($"sv" * $"sv" + 15.0), 6))
          .withColumn("sentiment_label",
            when($"sentiment_score" >= 0.05, "positive")
              .when($"sentiment_score" <= -0.05, "negative")
              .otherwise("neutral"))
          .select("doc_id", "sentiment_score", "sentiment_label")
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      }.orderBy("doc_id")
    }),

    // F19 distribution (stats.py:16): sentiment label value_counts over
    // u3_vader_sentiment's cached scores (the report stage reads what the
    // sentiment stage wrote; run alone it scores first).
    "u3_sentiment_distribution" -> ((s, d) => {
      import s.implicits._
      val scored = queries("u3_vader_sentiment")(s, d)
      scored.groupBy($"sentiment_label").agg(count("*").as("cnt"))
        .orderBy(desc("cnt"), asc("sentiment_label"))
    }),

    // Language-ID (training-data pipeline op): function-word-set hit rate
    // per language, argmax with deterministic tie-break; docs with zero
    // hits → 'und'.
    "text_langid" -> ((s, d) => {
      import s.implicits._
      val docs = documents(s, d)
      val lw = s.createDataFrame(
        Lexicons.langFunctionWords.toSeq.sortBy(_._1)
          .flatMap { case (l, ws) => ws.map(w => (l, w)) })
        .toDF("cand_lang", "word")
      // n_tok rides along through the explode — no second token branch.
      val tok = docs
        .select($"doc_id", tokens($"text").as("t"))
        .select($"doc_id", size($"t").as("n_tok"), explode($"t").as("word"))
      val hits = tok.join(broadcast(lw), "word")
        .groupBy($"doc_id", $"cand_lang")
        .agg(count("*").as("hits"), max($"n_tok").as("n_tok"))
      val best = topK(hits, Seq($"doc_id"), Seq(desc("hits"), asc("cand_lang")), 1, None)
      docs.select($"doc_id")
        .join(best, Seq("doc_id"), "left")
        .withColumn("pred_lang", coalesce($"cand_lang", lit("und")))
        .withColumn("confidence",
          round(coalesce($"hits" / $"n_tok", lit(0.0)), 6))
        .select("doc_id", "pred_lang", "confidence")
        .orderBy("doc_id")
    }),

    // Quality scoring (training-data pipeline op): length, mean token
    // length, stopword ratio, type-token ratio → composite score.
    "text_quality" -> ((s, d) => {
      import s.implicits._
      documents(s, d)
        .withColumn("toks", tokens($"text"))
        .withColumn("n_tok", size($"toks"))
        .withColumn("avg_len",
          aggregate($"toks", lit(0L), (acc, t) => acc + length(t)).cast("double") / $"n_tok")
        .withColumn("stop_ratio",
          size(filter($"toks", t => isStopword(t))).cast("double") / $"n_tok")
        .withColumn("ttr", size(array_distinct($"toks")).cast("double") / $"n_tok")
        .withColumn("quality", round(
          lit(0.4) * least($"n_tok" / 100.0, lit(1.0)) +
            lit(0.3) * (lit(1.0) - $"stop_ratio") +
            lit(0.3) * $"ttr", 6))
        .select($"doc_id", $"n_tok", round($"avg_len", 6).as("avg_len"),
          round($"stop_ratio", 6).as("stop_ratio"),
          round($"ttr", 6).as("ttr"), $"quality")
        .orderBy("doc_id")
    }),

    // The Gopher quality-rule set (Rae et al. 2021 §A1.1 — the
    // doc-level filter battery MassiveText popularized and most
    // open-data pipelines reuse): word-count bounds, mean-word-length
    // band, symbol-to-word ratio (# and ellipsis), alphabetic-word
    // share, and the required-stopword floor (≥ 2 of the canonical
    // 8-word list), with one `passes` verdict. Complements
    // text_quality's continuous score with the named rule battery a
    // user can cite. Determinism: every ratio rounds to 6dp BEFORE the
    // threshold comparisons, so the verdict is computed on identical
    // doubles in both engines; symbol counts are exact length
    // differences. Pure per-doc column algebra — map-only at any scale.
    "text_gopher_rules" -> ((s, d) => {
      import s.implicits._
      val req = array(Seq("the", "be", "to", "of", "and", "that", "have",
        "with").map(lit): _*)
      documents(s, d).select($"doc_id", $"text", tokens($"text").as("t"))
        .filter(size($"t") >= 1)
        .withColumn("n_words", size($"t").cast("long"))
        .withColumn("mean_word_len",
          round(aggregate($"t", lit(0L), (a, x) => a + length(x))
            .cast("double") / $"n_words", 6))
        .withColumn("alpha_ratio",
          round(size(filter($"t", x => x.rlike("[a-z]"))).cast("double")
            / $"n_words", 6))
        .withColumn("n_symbols",
          (length($"text") - length(replace($"text", lit("#"), lit(""))))
            .cast("long")
            + ((length($"text")
              - length(replace($"text", lit("..."), lit("")))) / 3)
              .cast("long"))
        .withColumn("symbol_ratio",
          round($"n_symbols".cast("double") / $"n_words", 6))
        .withColumn("n_req_stops",
          size(filter(req, w => array_contains($"t", w))).cast("long"))
        .withColumn("passes",
          $"n_words" >= 50L && $"n_words" <= 100000L &&
            $"mean_word_len" >= 3.0 && $"mean_word_len" <= 10.0 &&
            $"symbol_ratio" <= 0.1 && $"alpha_ratio" >= 0.8 &&
            $"n_req_stops" >= 2L)
        .select($"doc_id", $"n_words", $"mean_word_len", $"alpha_ratio",
          $"symbol_ratio", $"n_req_stops", $"passes")
        .orderBy("doc_id")
    }),

    // Token counting (training-data pipeline op): whitespace tokens vs a
    // BPE-ish regex segmentation (\d / word pieces / punctuation).
    "text_token_count" -> ((s, d) => {
      import s.implicits._
      documents(s, d)
        .withColumn("ws_tokens", size(tokens($"text")))
        .withColumn("bpe_tokens",
          size(regexp_extract_all($"text", lit("[a-zA-Z]+|\\d|[^\\sa-zA-Z\\d]"), lit(0))))
        .select("doc_id", "ws_tokens", "bpe_tokens")
        .orderBy("doc_id")
    }),

    // Repetition-based quality signals (Gopher/C4-style filters for
    // LLM training data): per-doc duplicate-token fraction and the share
    // of the most frequent bigram — high values flag boilerplate or
    // degenerate repetition. Tokens materialize in their own Project
    // (interpreted-HOF re-eval trap); bigram counting is one explode +
    // two keyed aggregations, all partial-aggregated — scale-safe.
    "text_repetition" -> ((s, d) => {
      import s.implicits._
      val t = documents(s, d).select($"doc_id", tokens($"text").as("t"))
      val base = t.select($"doc_id",
        size($"t").as("n_tok"),
        size(array_distinct($"t")).as("n_distinct"),
        // guard: Spark's sequence DESCENDS when the stop is negative
        when(size($"t") >= 2,
          transform(sequence(lit(0), size($"t") - 2),
            i => concat_ws(" ", element_at($"t", i + 1), element_at($"t", i + 2))))
          .otherwise(array().cast("array<string>")).as("bgs"))
      // carry the per-doc scalars THROUGH the explode (explode_outer keeps
      // bigram-less docs) so the corpus is tokenized once — the previous
      // base-join-topBg form re-ran the tokenize for each branch
      base.filter($"n_tok" >= 1)
        .select($"doc_id", $"n_tok", $"n_distinct",
          explode_outer($"bgs").as("bg"))
        .groupBy($"doc_id", $"n_tok", $"n_distinct", $"bg")
        .agg(count(lit(1)).as("c"))
        .groupBy($"doc_id", $"n_tok", $"n_distinct")
        .agg(max(when($"bg".isNotNull, $"c").otherwise(lit(0L)))
          .as("top_bigram_cnt"))
        .withColumn("dup_token_ratio",
          round(lit(1.0) - $"n_distinct" / $"n_tok", 6))
        .withColumn("top_bigram_ratio",
          when($"n_tok" >= 2, round($"top_bigram_cnt" / ($"n_tok" - 1), 6))
            .otherwise(lit(0.0)))
        .select("doc_id", "n_tok", "dup_token_ratio", "top_bigram_ratio")
        .orderBy("doc_id")
    }),

    // BM25 top-k retrieval (Robertson/Lucene form with k1=1.2, b=0.75) —
    // the search primitive of retrieval/RAG data pipelines, as pure
    // relational algebra: tf restricted to the (tiny, broadcast-safe)
    // query-term set BEFORE aggregating, df and corpus stats as
    // vocabulary/scalar-sized aggregates, score = one groupBy(doc_id) +
    // TakeOrdered. At 100 TB the only corpus-wide pass is the tokenize;
    // everything keyed after the query-term filter is ∝ hits, not corpus.
    "text_bm25_topk" -> ((s, d) => {
      import s.implicits._
      val qTerms = Seq("spark", "table", "merge")
      val t = documents(s, d).select($"doc_id", tokens($"text").as("t"))
      val dl = t.select($"doc_id", size($"t").as("dl"))
      val tf = t.select($"doc_id", explode($"t").as("word"))
        .filter($"word".isin(qTerms: _*))
        .groupBy($"doc_id", $"word").agg(count(lit(1)).as("tf"))
      bm25Weights(tf, dl)
        .groupBy($"doc_id").agg(round(sum($"w"), 6).as("bm25"))
        .orderBy(desc("bm25"), asc("doc_id"))
        .limit(15)
    }),

    // MaxScore-pruned BM25 top-k (Turtle & Flood 1995; the
    // upper-bound-pruning family behind every production inverted
    // index: MaxScore / WAND / block-max). EXACT top-k — provably equal
    // to the exhaustive scorer, which is precisely what the oracle
    // checks (the oracle replays the UNPRUNED computation, so the hash
    // compare certifies the pruning lossless). Shape:
    //   1. per-(doc, term) micro-integer BM25 weights (term-filtered
    //      posting table, as everywhere in the BM25 family);
    //   2. per-term upper bound UB(t) = max posting weight (|terms|
    //      rows);
    //   3. champion pass: full scores of docs containing the single
    //      top-UB term; θ = their k-th best score (a LOWER bound on the
    //      true k-th score, since champions ⊆ corpus) — or 0 with
    //      fewer than k champions, which disables pruning but never
    //      breaks exactness;
    //   4. a term is NON-ESSENTIAL if the cumulative UB of it and all
    //      weaker terms is < θ (strict, so pruned docs score strictly
    //      below the final k-th score and cannot displace a tie);
    //      docs touching no essential term are skipped, the rest score
    //      fully.
    // Scale: the pruning decisions run on |terms|-row aggregates; the
    // candidate set is the union of the ESSENTIAL terms' postings — the
    // classic MaxScore skip of the long low-impact tails. Spec asserts
    // both equality with the exhaustive scorer and that pruning
    // actually fires on the corpus.
    "retrieval_maxscore_topk" -> ((s, d) => {
      import s.implicits._
      val qTerms = Seq("spark", "table", "merge", "model", "stream")
      val K = 15
      // round 19 (VERDICT r18 what's-wrong #2): the r18 pin materialized
      // the FULL tokenized corpus to save rescans; the pinned frame is
      // now (doc_id, dl, qt) — one int plus the query-term hits per doc,
      // built in the SAME single tokenize pass (the token array is
      // filtered by the literal term set BEFORE the explode — identical
      // hit multiset, so tf is unchanged). Storage drops from
      // corpus-token-scale to hits+doc-count scale; still one tokenize.
      val base = documents(s, d)
        .select($"doc_id", tokens($"text").as("t"))
        .select($"doc_id", size($"t").as("dl"),
          filter($"t", w => w.isin(qTerms: _*)).as("qt"))
        .localCheckpoint(false)
      val tf = base.select($"doc_id", explode($"qt").as("word"))
        .groupBy($"doc_id", $"word").agg(count(lit(1)).as("tf"))
      val wtab = bm25Weights(tf, base.select($"doc_id", $"dl"))
        .select($"doc_id", $"word", $"wm")
        .localCheckpoint(false) // three consumers below share one build
      val ub = wtab.groupBy($"word").agg(max($"wm").as("ub"))
      val champTerm = ub.orderBy(desc("ub"), asc("word")).limit(1)
        .select($"word".as("cw"))
      val champDocs = wtab.join(broadcast(champTerm), $"word" === $"cw")
        .select($"doc_id").distinct()
      val theta = wtab.join(broadcast(champDocs), "doc_id")
        .groupBy($"doc_id").agg(sum($"wm").as("sc"))
        .orderBy(desc("sc")).limit(K)
        .agg(min($"sc").as("kth"), count(lit(1)).as("nch"))
        .select(when($"nch" >= K, $"kth").otherwise(lit(0L)).as("theta"))
      val wub = Window.orderBy(asc("ub"), asc("word"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val essential = ub.withColumn("cum", sum($"ub").over(wub))
        .crossJoin(broadcast(theta))
        .filter($"cum" >= $"theta")
        .select($"word")
      val cand = wtab.join(broadcast(essential), "word")
        .select($"doc_id").distinct()
      wtab.join(cand, Seq("doc_id"), "left_semi")
        .groupBy($"doc_id").agg(sum($"wm").as("score"))
        .orderBy(desc("score"), asc("doc_id")).limit(K)
        .withColumn("rank", row_number().over(
          Window.orderBy(desc("score"), asc("doc_id"))))
        .select($"rank", $"doc_id", $"score")
        .orderBy("rank")
    }),

    // Retrieval-quality harness (the eval loop a RAG corpus needs):
    // self-retrieval MRR — for 10 hash-sampled query docs, the query is
    // the doc's own top-3 informative terms (tf desc, len>=4,
    // non-stopword) and the relevant answer is the doc itself; report
    // each query's self-rank under BM25 and its reciprocal rank. A doc
    // that can't retrieve itself flags tokenization/scoring drift, and
    // planted exact duplicates legitimately outrank on doc_id ties.
    // Determinism: per-(term,doc) BM25 weights quantize to
    // micro-integers (identical doubles both engines — inputs are exact
    // counts and the exact integer-sum avgdl), so per-(query,doc)
    // scores are order-free integer sums and ranking ties on doc_id.
    // Scale: the tf table is restricted to the ~30 query terms BEFORE
    // any aggregation (broadcast semi-join on the token stream), so the
    // eval costs one term-filtered pass, never a corpus×corpus score.
    "text_bm25_eval" -> ((s, d) => {
      import s.implicits._
      // round 19 (VERDICT r18 what's-wrong #2): the r18 form pinned the
      // FULL tokenized corpus. Now (a) the query docs tokenize via their
      // own 10-row pruned pass (broadcast-join BEFORE tokenize), and
      // (b) ONE corpus tokenize pass pins the NARROW (doc_id, dl, qt)
      // frame — per-doc length + the tokens hitting the ≤30-word query
      // vocabulary (1-row collect_set broadcast; filter-before-explode
      // keeps the identical hit multiset termFilteredTf produced).
      val qdocs = DedupOps.hashSample(documents(s, d), "doc_id")
        .select($"doc_id".as("qdoc"))
      val qterms = queryTerms(documents(s, d)
        .join(broadcast(qdocs), $"doc_id" === $"qdoc")
        .select($"qdoc", explode(tokens($"text")).as("word")))
      val qwords = qterms.select(collect_set($"word").as("qw"))
      val base = documents(s, d).select($"doc_id", tokens($"text").as("t"))
        .crossJoin(broadcast(qwords))
        .select($"doc_id", size($"t").as("dl"),
          filter($"t", w => array_contains($"qw", w)).as("qt"))
        .localCheckpoint(false)
      val tf = base.select($"doc_id", explode($"qt").as("word"))
        .groupBy($"doc_id", $"word").agg(count(lit(1)).as("tf"))
        .localCheckpoint(false)
      val scored = bm25Weights(tf, base.select($"doc_id", $"dl"))
        .join(broadcast(qterms), "word")
        .groupBy($"qdoc", $"doc_id").agg(sum($"wm").as("score"))
      val wr = Window.partitionBy($"qdoc").orderBy(desc("score"), asc("doc_id"))
      scored.withColumn("rank", row_number().over(wr))
        .filter($"doc_id" === $"qdoc")
        .select($"qdoc".as("query_doc"), $"rank".as("self_rank"),
          round(lit(1.0) / $"rank", 6).as("reciprocal_rank"))
        .orderBy("query_doc")
    }),

    // Pseudo-relevance-feedback query expansion (RM3-lite — Lavrenko &
    // Croft relevance models, the Anserini/Pyserini RM3 default shape):
    // retrieve with the original query, mine expansion terms from the
    // top feedback documents, re-retrieve with the expanded query. Same
    // 10 hash-sampled query docs and top-3 informative query terms as
    // text_bm25_eval; pass 1 = micro-integer BM25 (self excluded),
    // feedback set = its top-10 docs; expansion terms = the 2 highest
    // total-tf informative terms of the feedback set not already in the
    // query; pass 2 re-scores the union with integer weights
    // 2·original + 1·expansion — the β=0.5 RM3 interpolation scaled by
    // 2 so every score stays an exact integer sum. Output: final top-5
    // per query plus the expansion terms that produced it.
    // Determinism: both passes are order-free sums of micro-quantized
    // per-(term,doc) weights; every ranking ties on doc_id/word; the
    // expansion-term report is sorted before joining. Scale: the corpus
    // pays ONE tokenize (shared, pinned) and two term-filtered passes —
    // the tf stream is semi-joined to the ≤30/≤50-term set BEFORE any
    // aggregation, so both retrieval passes cost ∝ hits; feedback
    // mining is window-bounded at 10 docs × query count. Nothing
    // downstream of the term filters is corpus-sized.
    "retrieval_prf_expansion" -> ((s, d) => {
      import s.implicits._
      val t = documents(s, d).select($"doc_id", tokens($"text").as("t"))
        .localCheckpoint(false)
      val qdocs = DedupOps.hashSample(documents(s, d), "doc_id")
        .select($"doc_id".as("qdoc"))
      // five consumers: both passes' term sets + broadcasts + the
      // expansion anti-join (queryTerms pins it)
      val qterms = queryTerms(t.join(broadcast(qdocs), $"doc_id" === $"qdoc")
        .select($"qdoc", explode($"t").as("word")))
      val dl = t.select($"doc_id", size($"t").as("dl"))
      val s1 = bm25Scores(t, dl, qterms.withColumn("wt", lit(1L)))
      val byScore = Seq(desc("score"), asc("doc_id"))
      val fb = topK(s1, Seq($"qdoc"), byScore, 10, None).select($"qdoc", $"doc_id")
      val feedback = t.join(broadcast(fb), "doc_id")
        .select($"qdoc", explode($"t").as("word"))
        .filter(isQueryTerm($"word"))
        .groupBy($"qdoc", $"word").agg(count(lit(1)).as("ftf"))
        .join(qterms, Seq("qdoc", "word"), "left_anti")
      val expTerms = topK(feedback, Seq($"qdoc"), Seq(desc("ftf"), asc("word")), 2, None)
        .select($"qdoc", $"word")
        // round 18: ≤2·|queries| rows consumed by THREE plans (the
        // pass-2 term set, its broadcast distinct, and the report
        // string) — pin once instead of re-mining the feedback docs
        .localCheckpoint(false)
      val allTerms = qterms.withColumn("wt", lit(2L))
        .union(expTerms.withColumn("wt", lit(1L)))
      val s2 = bm25Scores(t, dl, allTerms)
      val expStr = expTerms.groupBy($"qdoc")
        .agg(array_join(array_sort(collect_list($"word")), " ")
          .as("expansion_terms"))
      topK(s2, Seq($"qdoc"), byScore, 5, Some("rank"))
        .join(broadcast(expStr), Seq("qdoc"), "left")
        .select($"qdoc".as("query_doc"), $"rank", $"doc_id", $"score",
          coalesce($"expansion_terms", lit("")).as("expansion_terms"))
        .orderBy("query_doc", "rank")
    }),

    // Corpus LM quality score (the CCNet/RedPajama perplexity filter,
    // here with the corpus itself as the LM): per-doc average bigram
    // log-probability ln P(w2|w1) = ln(c(w1 w2) / c(w1)) under corpus
    // counts — low scores flag out-of-distribution/garbled text. Shape:
    // the "LM" is two aggregations (unigram + bigram counts); scoring is
    // two equi-joins of the doc bigram stream against them and one
    // groupBy(doc_id) — all partial-aggregated, no broadcast of anything
    // corpus-sized.
    "text_lm_score" -> ((s, d) =>
      lmScores(s, d).drop("lang").orderBy("doc_id")),

    // Gensim-Phrases collocation scoring (models/phrases.py original_scorer;
    // the reference pipeline's NLP stack is Gensim): score(a,b) =
    // (count(ab) - min_count) * |V| / (count(a) * count(b)), top 20 by
    // score. All inputs are exact integers; the single double division is
    // correctly rounded identically in both engines, so ordering and the
    // rounded score are oracle-stable. One tokenize pass feeds both the
    // unigram and bigram counts; |V| rides along as an unpartitioned
    // window over the vocabulary-sized unigram aggregate (vocab-bounded,
    // never corpus-bounded — the same posture as the TF-IDF df table).
    "u_phrase_bigrams" -> ((s, d) => {
      import s.implicits._
      val MinCount = 5
      val t = documents(s, d).select($"doc_id", tokens($"text").as("t"))
      val bg = t.select(explode(when(size($"t") >= 2,
          transform(sequence(lit(0), size($"t") - 2),
            i => concat_ws(" ", element_at($"t", i + 1), element_at($"t", i + 2))))
          .otherwise(array().cast("array<string>"))).as("bg"))
        .groupBy($"bg").agg(count(lit(1)).as("cab"))
        .filter($"cab" > MinCount)
      // Vocab size joins on as a 1-row aggregate broadcast — attaching
      // it via count().over(Window.partitionBy()) would drag the whole
      // unigram vocab (corpus-growing, hapax-heavy at scale) onto one
      // partition, the exact shape the PlanSpec unpartitioned-window
      // guard bans.
      val uniRaw = t.select(explode($"t").as("w"))
        .groupBy($"w").agg(count(lit(1)).as("c"))
      val uni = uniRaw
        .crossJoin(broadcast(uniRaw.agg(count(lit(1)).as("v"))))
      val c1 = uni.select($"w".as("w1"), $"c".as("c1"), $"v")
      val c2 = uni.select($"w".as("w2"), $"c".as("c2"))
      bg.withColumn("w1", substring_index($"bg", " ", 1))
        .withColumn("w2", substring_index($"bg", " ", -1))
        .join(c1, "w1").join(c2, "w2")
        .select($"w1", $"w2", $"cab",
          round((($"cab" - MinCount) * $"v").cast("double") /
            ($"c1" * $"c2").cast("double"), 6).as("score"))
        .orderBy(desc("score"), asc("w1"), asc("w2"))
        .limit(20)
    }),

    // CCNet-style perplexity bucketing: within each language, rank docs by
    // LM score and cut into head/middle/tail thirds (CCNet keeps "head" as
    // the cleanest pretraining slice). Composes the text_lm_score pipeline;
    // the tertile is ARITHMETIC on (rank, group size) — no ntile() over a
    // global sort, so the only per-lang state is the rank window the score
    // already needs. Ties broken by doc_id: bucket membership is
    // deterministic and oracle-reproducible.
    "text_ccnet_buckets" -> ((s, d) => {
      import s.implicits._
      val byLang = Window.partitionBy($"lang")
      val scored = lmScores(s, d)
        .withColumn("rn", row_number().over(
          byLang.orderBy($"avg_logprob".desc, $"doc_id".asc)))
        .withColumn("n", count(lit(1)).over(byLang))
        .withColumn("bucket",
          element_at(typedLit(Seq("head", "middle", "tail")),
            (floor(($"rn" - 1) * 3 / $"n") + 1).cast("int")))
      scored.groupBy($"lang", $"bucket")
        .agg(count(lit(1)).as("n_docs"),
          round(min($"avg_logprob"), 6).as("min_logprob"),
          round(max($"avg_logprob"), 6).as("max_logprob"))
        .orderBy("lang", "bucket")
    }),

    // DSIR-style importance weights (Xie et al.): per-doc average
    // log-likelihood ratio of hashed-bigram features under the TARGET
    // distribution (lang = 'en' here) vs the raw corpus. Weights are
    // reported up to the additive constant ln(Nraw/Ntarget) — irrelevant
    // for the ranking/resampling the weights feed, and dropping it keeps
    // the whole op ONE exchange on the 8192-bucket key (both bucket
    // counts come from a single window over the bigram firehose; the
    // normalizing totals would need a second global pass). Laplace +1
    // smoothing so unseen-in-target buckets stay finite.
    "text_dsir_weights" -> ((s, d) => {
      import s.implicits._
      val t = documents(s, d).select($"doc_id", $"lang", tokens($"text").as("t"))
      val db = t.select($"doc_id", $"lang",
          explode(when(size($"t") >= 2,
            transform(sequence(lit(0), size($"t") - 2),
              i => concat_ws(" ", element_at($"t", i + 1), element_at($"t", i + 2))))
            .otherwise(array().cast("array<string>"))).as("bg"))
        .withColumn("b",
          pmod(graft.functions.PolyHash.poly_hash($"bg"), lit(8192L)))
      val byBucket = Window.partitionBy($"b")
      // both counts in ONE select so they land in a single Window node
      // (withColumn chains insert Projects that block CollapseWindow)
      db.select($"doc_id", $"bg",
          count(lit(1)).over(byBucket).as("cr"),
          sum(when($"lang" === "en", 1L).otherwise(0L)).over(byBucket).as("ct"))
        .withColumn("term", log(($"ct" + 1.0d) / ($"cr" + 1.0d)))
        .groupBy($"doc_id")
        .agg(count(lit(1)).as("n_bigrams"),
          round(avg($"term"), 6).as("dsir_weight"))
        .orderBy("doc_id")
    }),

    // Deterministic train/val/test split (training-pipeline staple):
    // assignment is a pure function of the stable document key — split
    // membership survives reruns, repartitions, and engine changes, unlike
    // randomSplit. 80/10/10 via poly_hash(doc_id) mod 10 (DedupOps.splitOf).
    "split_train_test" -> ((s, d) => {
      import s.implicits._
      documents(s, d)
        .withColumn("split", DedupOps.splitOf($"doc_id"))
        .groupBy($"split")
        .agg(count(lit(1)).as("n_docs"), round(avg($"n_chars"), 6).as("avg_chars"))
        .orderBy("split")
    }),

    // Hash-stratified sample: keep ~20% per language stratum, again keyed
    // on the stable id (deterministic, joinable across runs).
    "stratified_sample" -> ((s, d) => {
      import s.implicits._
      val bucket = pmod(graft.functions.PolyHash.poly_hash($"doc_id".cast("string")), lit(10L))
      documents(s, d)
        .filter(bucket < 2)
        .groupBy($"lang")
        .agg(count(lit(1)).as("n_sampled"))
        .orderBy("lang")
    }),

    // Heavy hitters ("which tokens exceed 0.5% of the stream?") as the
    // bounded-state two-pass: pass 1 runs the mergeable Misra-Gries
    // sketch (m=256 entries per partial buffer — see MisraGries scaladoc)
    // and collects the ≤256 candidates to the driver (bounded by
    // construction, the same legitimate-collect class as the capped
    // vocabulary); pass 2 exact-counts ONLY the candidates (map-side
    // isin filter) and applies the threshold. MG guarantees every item
    // above N/257 survives pass 1, so with threshold N/200 the final
    // output equals the exact answer even though the sketch itself is
    // partition-order dependent — a full groupBy over billions of
    // distinct tokens never happens. Oracle = the direct HAVING query.
    "a_heavy_hitters" -> ((s, d) => {
      import s.implicits._
      val tokStream = documents(s, d).select(explode(tokens($"text")).as("tok"))
      val mg = new graft.functions.MisraGries(256).toColumn
      val cands: Seq[String] =
        tokStream.as[String].select(mg).head().map(_._1)
      val n = documents(s, d)
        .select(sum(size(tokens($"text")))).as[Long].head()
      tokStream.filter($"tok".isin(cands: _*))
        .groupBy($"tok").agg(count(lit(1)).as("cnt"))
        .filter($"cnt" > lit(n) / 200.0d)
        .orderBy(desc("cnt"), asc("tok"))
    }),

    // Stupid-backoff trigram LM scoring (Brants et al. 2007, "Large
    // Language Models in Machine Translation" — the count-table LM built
    // FOR distributed engines: no normalization pass, just sharded n-gram
    // counts and a fixed 0.4 backoff multiplier). Counts come from the
    // hash-split train buckets (0-7); the held-out test bucket (9) is
    // scored, so backoff genuinely fires (~44% of test trigrams are
    // unseen here). S(w3|w1 w2) = c123/c12, else 0.4·c23/c2, else
    // 0.4²·c3/N (unseen unigram → count 1). All ratios are exact-integer
    // divisions; per-doc avg log10 rounds to 6dp. Scale story: the count
    // tables shard by n-gram key (the paper's design); scoring is three
    // equi-joins of the test trigram stream against them, all partial-
    // aggregated — nothing corpus-scale ever sits on one node.
    "text_lm_backoff" -> ((s, d) => {
      import s.implicits._
      val bucketed = documents(s, d).select($"doc_id", tokens($"text").as("t"),
        (graft.functions.PolyHash.poly_hash($"doc_id".cast("string")) % 10).as("bucket"))
      val train = bucketed.filter($"bucket" < 8)
      val uni = train.select(explode($"t").as("w"))
        .groupBy($"w").agg(count(lit(1)).as("cu"))
      // corpus token total: an S12-family scalar (one aggregate of the
      // train split), embedded as a literal like a_heavy_hitters' N
      val nTokens = train.select(sum(size($"t"))).as[Long].head()
      val bi = train.select(explode(when(size($"t") >= 2,
          transform(sequence(lit(0), size($"t") - 2),
            i => concat_ws(" ", element_at($"t", i + 1), element_at($"t", i + 2))))
          .otherwise(array().cast("array<string>"))).as("bg"))
        .groupBy($"bg").agg(count(lit(1)).as("cb"))
      val tri = train.select(explode(when(size($"t") >= 3,
          transform(sequence(lit(0), size($"t") - 3),
            i => concat_ws(" ", element_at($"t", i + 1), element_at($"t", i + 2),
              element_at($"t", i + 3))))
          .otherwise(array().cast("array<string>"))).as("tg"))
        .groupBy($"tg").agg(count(lit(1)).as("ct"))
      val test = bucketed.filter($"bucket" === 9)
        .select($"doc_id", explode(when(size($"t") >= 3,
          transform(sequence(lit(0), size($"t") - 3),
            i => struct(element_at($"t", i + 1).as("w1"),
              element_at($"t", i + 2).as("w2"),
              element_at($"t", i + 3).as("w3"))))
          .otherwise(array().cast("array<struct<w1:string,w2:string,w3:string>>"))).as("g"))
        .select($"doc_id", $"g.w1", $"g.w2", $"g.w3")
      test
        .join(tri, concat_ws(" ", $"w1", $"w2", $"w3") === tri("tg"), "left")
        .join(bi.toDF("bg12", "c12"), concat_ws(" ", $"w1", $"w2") === $"bg12", "left")
        .join(bi.toDF("bg23", "c23"), concat_ws(" ", $"w2", $"w3") === $"bg23", "left")
        .join(uni.select($"w".as("wu2"), $"cu".as("c2")), $"w2" === $"wu2", "left")
        .join(broadcast(uni.select($"w".as("wu3"), $"cu".as("c3"))),
          $"w3" === $"wu3", "left")
        .withColumn("sc",
          when($"ct".isNotNull, $"ct".cast("double") / $"c12")
            .when($"c23".isNotNull, lit(0.4) * $"c23" / $"c2")
            .otherwise(lit(0.4) * lit(0.4) * coalesce($"c3", lit(1L)) / lit(nTokens.toDouble)))
        .groupBy($"doc_id")
        .agg(count(lit(1)).as("n_trigrams"),
          round(avg(log10($"sc")), 6).as("avg_logscore"))
        .orderBy("doc_id")
    }),

    // Interpolated Kneser-Ney bigram LM (Kneser & Ney 1995; Chen &
    // Goodman 1999's interpolated form with one absolute discount
    // D = 0.75) — the KenLM-grade perplexity scorer CCNet-style quality
    // filtering actually uses, completing the LM-quality family (raw
    // bigram text_lm_score, stupid-backoff text_lm_backoff, KN here):
    //   P(w2|w1) = max(c(w1 w2) − D, 0)/c(w1·)
    //            + [D · N1+(w1·)/c(w1·)] · Pcont(w2)
    // where Pcont is the CONTINUATION distribution (how many distinct
    // histories precede w2 — the "San Francisco" fix: 'francisco' is
    // frequent but predictable, so its unigram weight collapses), here
    // add-one smoothed over the train vocab so unseen words keep a
    // positive floor; an unseen history backs off to Pcont alone.
    // Scoring: held-out (bucket 9) docs' per-bigram NLL quantizes to a
    // micro long BEFORE the per-doc sum (order-free), so avg NLL and
    // e-based perplexity are fixed expressions over exact integers —
    // fully DuckDB-replayed. Scale: counts are corpus-keyed aggregates
    // built once (the model IS three count tables, join-distributed at
    // serve time — no driver state beyond the vocab-size scalar); the
    // scoring pass is test-bigram-keyed joins against them.
    "text_kn_bigram" -> ((s, d) => {
      import s.implicits._
      val D = 0.75
      val bucketed = documents(s, d).select($"doc_id", tokens($"text").as("t"),
        (graft.functions.PolyHash.poly_hash($"doc_id".cast("string")) % 10)
          .as("bucket"))
      val train = bucketed.filter($"bucket" < 8)
      def bigrams(df: DataFrame, cols: Column*): DataFrame =
        df.select(cols :+ explode(when(size($"t") >= 2,
          transform(sequence(lit(0), size($"t") - 2),
            i => struct(element_at($"t", i + 1).as("w1"),
              element_at($"t", i + 2).as("w2"))))
          .otherwise(array().cast("array<struct<w1:string,w2:string>>")))
          .as("g"): _*)
      val bi = bigrams(train)
        .select($"g.w1", $"g.w2")
        .groupBy($"w1", $"w2").agg(count(lit(1)).as("cb"))
        .localCheckpoint(false) // feeds hist/cont/type-count + the probe
      val hist = bi.groupBy($"w1")
        .agg(sum($"cb").as("ch"), count(lit(1)).as("n1f"))
      val cont = bi.groupBy($"w2").agg(count(lit(1)).as("n1b"))
      val stats = bi.agg(count(lit(1)).as("nbt"))
      // train vocab size: an S12-family model scalar (the lm_backoff
      // nTokens posture)
      val v = train.select(explode($"t").as("w")).distinct().count()
      val scored = bigrams(bucketed.filter($"bucket" === 9), $"doc_id")
        .select($"doc_id", $"g.w1", $"g.w2")
        .join(bi, Seq("w1", "w2"), "left")
        .join(hist, Seq("w1"), "left")
        .join(cont, Seq("w2"), "left")
        .crossJoin(broadcast(stats))
        .withColumn("pcont", (coalesce($"n1b", lit(0L)) + 1).cast("double")
          / ($"nbt" + lit(v)).cast("double"))
        .withColumn("p", when($"ch".isNotNull,
          greatest(coalesce($"cb", lit(0L)).cast("double") - lit(D), lit(0.0))
            / $"ch"
            + (lit(D) * $"n1f".cast("double") / $"ch") * $"pcont")
          .otherwise($"pcont"))
        .withColumn("nllm", qroundLong(-log($"p") * 1e6))
      scored.groupBy($"doc_id")
        .agg(count(lit(1)).as("n_bigrams"), sum($"nllm").as("snll"))
        .select($"doc_id", $"n_bigrams",
          round($"snll" / 1e6 / $"n_bigrams", 6).as("kn_nll"),
          round(exp($"snll" / 1e6 / $"n_bigrams"), 6).as("kn_ppl"))
        .orderBy("doc_id")
    }),

    // BPE merge training (Sennrich et al. 2016), 8 rounds over the word-
    // frequency table: start from characters + a </w> end marker, each
    // round count adjacent symbol pairs (positional, freq-weighted), merge
    // the top pair (ties: lexicographic) via literal left-to-right
    // non-overlapping replace. Output = the merge table, which IS the
    // trained tokenizer. Distribution posture (how every real BPE trainer
    // works, incl. HF tokenizers/SentencePiece): the corpus-scale pass is
    // the distributed word count; the merge iteration runs on the VOCAB-
    // scale aggregate, which is driver-local by design — vocabulary size
    // is corpus-independent (Heaps' law: ~1e6 entries at 100 TB), so this
    // is an S12-family scalar path, not a data-scale collect. The oracle
    // replays the identical algorithm as 8 unrolled SQL rounds in DuckDB —
    // a genuine differential test of the training loop.
    "text_bpe_merges" -> ((s, d) => {
      import s.implicits._
      bpeTrain(s, d).toDF("round", "pair", "cnt").orderBy("round")
    }),

    // BPE ENCODING — applying the trained merge table (tokenizer
    // inference, the other half of text_bpe_merges): each distinct word
    // char-splits and replays the 8 merges in training order as literal
    // map-side replaces (the merge table is broadcast model state, the
    // per-word work is embarrassingly parallel — exactly how a tokenizer
    // runs over a 100 TB corpus); docs then join their words to the
    // per-word subword counts. Output: per-doc BPE token count and the
    // chars-per-token compression ratio the tokenizer buys.
    "text_bpe_encode" -> ((s, d) => {
      import s.implicits._
      val merges = bpeTrain(s, d).map(_._2)
      val words = documents(s, d)
        .select($"source", explode(tokens($"text")).as("w"))
      val start: Column =
        concat(lit(" "), regexp_replace($"w", "(.)", "$1 "), lit("</w> "))
      val encoded = merges.foldLeft(start) { (c, m) =>
        replace(c, lit(" " + m + " "), lit(" " + m.replace(" ", "") + " "))
      }
      val perWord = words.select($"w").distinct()
        .withColumn("n_sub",
          size(filter(split(trim(encoded), " "), t => length(t) > 0)))
      words.join(broadcast(perWord), "w")
        .groupBy($"source").agg(count(lit(1)).as("n_words"),
          sum($"n_sub").as("n_bpe_tokens"),
          round(sum(length($"w")).cast("double") / sum($"n_sub"), 6)
            .as("chars_per_token"))
        .orderBy("source")
    }),

    // UNIGRAM-LM TOKENIZER TRAINING (the other tokenizer family real
    // pipelines train — see unigramModel for the algorithm and the
    // exactness argument). Output: the trained model's top pieces with
    // counts and probabilities. The full train loop (seed substring
    // counts → 2 Viterbi-EM rounds → prune) replays as unrolled SQL.
    "text_unigram_train" -> ((s, d) => {
      import s.implicits._
      val (vocab, total) = unigramModel(s, d)
      ugModelTable(vocab.toDF("piece", "cnt"), total)
    }),

    // S11-family artifact round-trip for the unigram model: the trained
    // vocab IS the model (piece, cnt — probabilities are derived), so
    // the artifact is a plain queryable parquet table; save → reload →
    // re-derive the ranked model table, which must equal
    // text_unigram_train exactly (they share that oracle). Same posture
    // as lda_em_save_load: model state as an engine-agnostic table.
    "text_unigram_save_load" -> ((s, d) => {
      import s.implicits._
      val (vocab, total) = unigramModel(s, d)
      val path = Tables.artifactDir("unigram_model", d)
      vocab.toDF("piece", "cnt").write.mode("overwrite").parquet(path)
      ugModelTable(s.read.parquet(path), total)
    }),

    // UNIGRAM-LM ENCODING: Viterbi-segment the word table under the
    // trained model — tokenizer inference as one map-side HOF pass with
    // the vocab broadcast as a map literal (no join, no shuffle; the
    // 100 TB shape, same posture as text_bpe_encode). Output: the 30
    // highest-frequency words of length >= 6 with their optimal
    // segmentation — TrainersSpec proves each seg is Viterbi-optimal by
    // exhaustive enumeration.
    "text_unigram_encode" -> ((s, d) => {
      import s.implicits._
      val (vocab, total) = unigramModel(s, d)
      val probs = vocab.map { case (pc, c) => (pc, c.toDouble / total) }
      val segs = ugWords(s, d)
        .withColumn("st", ugViterbi($"word", probs))
        .select($"word", $"freq", ltrim($"st".getField("seg")).as("seg"))
        .filter(length($"word") >= UgEncodeMinLen)
      topK(segs, Nil, Seq(desc("freq"), asc("word")), UgEncodeTopN, None)
        .select($"word", $"freq", size(split($"seg", " ")).as("n_pieces"), $"seg")
        .orderBy("word")
    }),

    // TOKENIZER FERTILITY COMPARISON — the eval that picks between the
    // two trained tokenizer families: per source, tokens/word and
    // chars/token under the BPE merges vs the unigram model, over the
    // words both cover (the unigram trainer's freq>=2, len<=12 table).
    // Both token counts are exact integers from deterministic encoders
    // (merge replay / Viterbi), so the whole comparison is a pure
    // integer aggregate. Note: BPE counts include the </w> end-of-word
    // carrier (possibly merged into a subword — the text_bpe_encode
    // convention), so absolute BPE fertility reads ~1 higher; the
    // per-source RELATIVE ordering is the signal. Scale: two broadcast
    // model tables against one doc-token pass.
    "text_tokenizer_compare" -> ((s, d) => {
      import s.implicits._
      val merges = bpeTrain(s, d).map(_._2)
      val (vocab, total) = unigramModel(s, d)
      val probs = vocab.map { case (pc, c) => (pc, c.toDouble / total) }
      val perWord = ugWords(s, d)
        .withColumn("st", ugViterbi($"word", probs))
        .select($"word",
          size(split(ltrim($"st".getField("seg")), " ")).as("n_ug"))
      val start: Column =
        concat(lit(" "), regexp_replace($"word", "(.)", "$1 "), lit("</w> "))
      val encoded = merges.foldLeft(start) { (c, m) =>
        replace(c, lit(" " + m + " "), lit(" " + m.replace(" ", "") + " "))
      }
      val both = perWord.withColumn("n_bpe",
        size(filter(split(trim(encoded), " "), t => length(t) > 0)))
      documents(s, d).select($"source", explode(tokens($"text")).as("word"))
        .join(broadcast(both), "word")
        .groupBy($"source").agg(
          count(lit(1)).as("n_words"),
          sum($"n_bpe").as("bpe_tokens"),
          sum($"n_ug").as("unigram_tokens"),
          round(sum(length($"word")).cast("double") / sum($"n_bpe"), 6)
            .as("bpe_chars_per_token"),
          round(sum(length($"word")).cast("double") / sum($"n_ug"), 6)
            .as("ug_chars_per_token"))
        .orderBy("source")
    }),

    // Count-Min sketch (Cormode & Muthukrishnan 2005) built relationally
    // and probed for the top-30 bigrams: cell(r, c) = Σ counts of keys
    // with h_r(key) = c; est(key) = min_r cell(r, h_r(key)). The bigram
    // domain (~1k keys) into a 4×64 sketch forces genuine collisions, so
    // est ≥ true with visible overestimates — the one-sided CM guarantee
    // (asserted for every probe in MGSpec). Hashes are affine maps of the
    // portable PolyHash, so the oracle rebuilds the identical sketch.
    // Scale story: the sketch build is one groupBy over (r, col) — 256
    // cells regardless of corpus size; the d×w table is the mergeable
    // shard artifact (same posture as a_sketch_merge's HLLs), and the
    // token firehose never shuffles by raw key.
    "a_countmin_probe" -> ((s, d) => {
      import s.implicits._
      val W = 64L
      val P = 1000000007L
      val rcs = Seq((0, 131L, 17L), (1, 137L, 1009L),
        (2, 139L, 65537L), (3, 149L, 999983L))
      val t = documents(s, d).select(tokens($"text").as("t"))
      val bg = t.select(explode(when(size($"t") >= 2,
          transform(sequence(lit(0), size($"t") - 2),
            i => concat_ws(" ", element_at($"t", i + 1), element_at($"t", i + 2))))
          .otherwise(array().cast("array<string>"))).as("bg"))
        .groupBy($"bg").agg(count(lit(1)).as("cnt"))
      // all d hash rows in ONE explode (a d-way union would recompute the
      // bigram aggregate per branch — 8 scans; this shape keeps it to the
      // two consumers, which exchange-reuse collapses further)
      val hcols = array(rcs.map { case (r, a, b) =>
        struct(lit(r).as("r"),
          ((graft.functions.PolyHash.poly_hash($"bg") * a + b) % P % W).as("col"))
      }: _*)
      val cells = bg.select(explode(hcols).as("rc"), $"cnt")
        .groupBy($"rc.r".as("r"), $"rc.col".as("col"))
        .agg(sum($"cnt").as("cell"))
      bg.orderBy(desc("cnt"), asc("bg")).limit(30)
        .select($"bg", $"cnt", explode(hcols).as("rc"))
        .select($"bg", $"cnt", $"rc.r".as("r"), $"rc.col".as("col"))
        .join(cells, Seq("r", "col"))
        .groupBy($"bg", $"cnt").agg(min($"cell").as("est_cnt"))
        .select($"bg", $"cnt".as("true_cnt"), $"est_cnt")
        .orderBy(desc("true_cnt"), asc("bg"))
    }),

    // Deterministic per-group k-sample: "5 uniform-random docs per source,
    // reproducibly". Ranking by a content-independent hash of the stable
    // id IS a uniform draw (the hash is equidistributed over ids), but
    // unlike reservoir sampling with rand() it survives reruns,
    // repartitions, and engine swaps — the oracle proves it by re-deriving
    // the identical sample in DuckDB. Selection is one per-source topK.
    "sample_group_hash_topk" -> ((s, d) => {
      import s.implicits._
      val h = pmod(graft.functions.PolyHash.poly_hash($"doc_id".cast("string")),
        lit(1000000L))
      topK(documents(s, d).select($"source", $"doc_id", h.as("h")),
          Seq($"source"), Seq($"h".asc, $"doc_id".asc), 5, Some("rank"))
        .select($"source", $"rank", $"doc_id")
        .orderBy("source", "rank")
    }),

    // U1: POS-filter approximation (data_preparation.py:85-94 keeps
    // NN*/JJ*/RB* via nltk.pos_tag; exact tagger parity is a documented
    // non-goal — SURVEY §2.10). Heuristic suffix classifier; the filter
    // keeps the noun/adjective/adverb classes like the reference.
    "u1_pos_filter" -> ((s, d) => {
      import s.implicits._
      val posClass =
        when($"word".endsWith("ly"), "adverb")
          .when($"word".endsWith("ous") || $"word".endsWith("ful") ||
            $"word".endsWith("ive") || $"word".endsWith("al"), "adjective")
          .when(isStopword($"word"), "function")
          .otherwise("noun")
      documents(s, d)
        .select(explode(tokens($"text")).as("word"))
        .withColumn("pos_class", posClass)
        .filter($"pos_class".isin("noun", "adjective", "adverb"))
        .groupBy($"pos_class").agg(count(lit(1)).as("n_tokens"),
          countDistinct($"word").as("n_distinct"))
        .orderBy("pos_class")
    }),

    // U2: lemmatizer-lite over the token stream — token, lemma pairs where
    // they differ, with frequencies.
    "u2_lemma_pairs" -> ((s, d) => {
      import s.implicits._
      // The synthetic vocabulary has no inflected forms, so the stream is
      // augmented with deterministic 's'/'ing' variants — the lemmatizer
      // then demonstrably folds them back onto their stems.
      documents(s, d)
        .select($"doc_id", tokens($"text").as("t"))
        .select(explode(flatten(array($"t",
          transform($"t", x => concat(x, lit("s"))),
          transform($"t", x => concat(x, lit("ing")))))).as("word"))
        .withColumn("lemma", lemmaLite($"word"))
        .filter($"lemma" =!= $"word")
        .groupBy($"word", $"lemma").agg(count("*").as("cnt"))
        .orderBy(desc("cnt"), asc("word"))
        .limit(50)
    }),

    // §3.2 composed entry point: the data_preparation.process() chain —
    // dirty text → clean (F1-F9) → tokenize (F10) → lemmatize (U2) →
    // word counts (F28) → length gate (P4) → pruned projection (P1).
    "pipeline_prep_docs" -> ((s, d) => {
      import s.implicits._
      documents(s, d)
        .withColumn("article_clean_raw", cleanText(noisy(s)))
        .select($"doc_id", $"lang",
          tokens($"article_clean_raw").as("toks"))
        .select($"doc_id", $"lang",
          size($"toks").as("n_words"),
          array_join(transform($"toks", t => lemmaLite(t)), " ").as("article_clean"))
        .filter($"n_words" > 40)
        .orderBy("doc_id")
    }),

    // Document fingerprinting (training-data pipeline op): order-sensitive
    // rolling hash over per-token polynomial hashes, mod 1e9+7. (A weaker
    // token value like ascii(t)+len(t) collides trivially — "alpha" and
    // "beta" both map to 102 — so token identity comes from PolyHash.)
    "text_fingerprint" -> ((s, d) => {
      import s.implicits._
      val p1 = 1000000007L
      val p2 = 1000000009L
      val fp1 = aggregate(
        transform(tokens($"text"), t => graft.functions.PolyHash.poly_hash(t)),
        lit(0L), (acc, x) => pmod(acc * 31L + x, lit(p1)))
      val fp2 = aggregate(
        transform(tokens($"text"), t => graft.functions.PolyHash2.poly_hash2(t)),
        lit(0L), (acc, x) => pmod(acc * 37L + x, lit(p2)))
      documents(s, d)
        .withColumn("fp",
          fp1 * lit(graft.ops.DedupOps.HashPack) + fp2)
        .select("doc_id", "fp")
        .orderBy("doc_id")
    }),

    // PII redaction (training-data pipeline op): scrub emails, phone
    // numbers and IPv4 addresses before a corpus ships to training.
    // The synthetic corpus contains no PII, so deterministic PII is
    // planted per-doc (emails on even ids, phones on ids % 3 == 0, an IP
    // always) — the redaction counts then provably vary and the op is
    // non-vacuous. Pure regexp_replace/regexp_count chain: map-only,
    // codegen'd, no shuffle at any scale. Regexes avoid lookaround so
    // Java regex (Spark) and RE2 (DuckDB oracle) agree.
    "text_pii_redact" -> ((s, d) => {
      import s.implicits._
      val email = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
      val phone = "\\+1-555-\\d{4}"
      val ip = "\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b"
      val dec = documents(s, d).select($"doc_id",
        concat(
          substring($"text", 1, 40),
          when($"doc_id" % 2 === 0,
            concat(lit(" contact user"), $"doc_id".cast("string"),
              lit("@mail.example.com"))).otherwise(lit("")),
          when($"doc_id" % 3 === 0,
            concat(lit(" call +1-555-"),
              lpad(($"doc_id" % 10000).cast("string"), 4, "0")))
            .otherwise(lit("")),
          lit(" from 10."), ($"doc_id" % 256).cast("string"), lit(".0.7")
        ).as("txt"))
      dec.select($"doc_id",
          regexp_count($"txt", lit(email)).as("n_email"),
          regexp_count($"txt", lit(phone)).as("n_phone"),
          regexp_count(
            regexp_replace($"txt", phone, "<PHONE>"), lit(ip)).as("n_ip"),
          regexp_replace(
            regexp_replace(
              regexp_replace($"txt", email, "<EMAIL>"),
              phone, "<PHONE>"),
            ip, "<IP>").as("redacted"))
        .orderBy("doc_id")
    }),

    // Sequence packing (training-data pipeline op): assign documents to
    // fixed token-budget training sequences (concat-and-chunk packing, à
    // la GPT pretraining shards). Docs are bucketed by a deterministic
    // key hash (doc_id % NB — NB scales with the cluster), then a
    // running token sum WITHIN each bucket assigns each doc to the
    // sequence its first token lands in. The only shuffle is the bucket
    // repartition; the window is partitioned by bucket, so no global
    // sort and per-partition state is one running counter — at 100 TB
    // raise NB so each bucket stays executor-sized.
    "pack_sequences" -> ((s, d) => {
      import s.implicits._
      val budget = 512
      val nb = 8
      val t = documents(s, d)
        .select($"doc_id", size(tokens($"text")).as("tok"),
          ($"doc_id" % nb).as("bucket"))
      val w = Window.partitionBy($"bucket").orderBy($"doc_id")
      t.withColumn("cum", sum($"tok").over(w))
        .withColumn("seq", expr(s"(cum - tok) div $budget"))
        .groupBy($"bucket", $"seq")
        .agg(count(lit(1)).as("n_docs"),
          sum($"tok").as("tokens"),
          min($"doc_id").as("first_doc"),
          max($"doc_id").as("last_doc"))
        .orderBy("bucket", "seq")
    }),

    // Overlapping-window chunking (RAG / long-context prep): split each
    // doc into 64-token chunks with stride 48 (16-token overlap), the
    // standard retrieval-chunking shape. Pure sequence-explode over the
    // materialized token array — map-only, no shuffle until the output
    // sort; chunk content is proven by a packed wide-hash fingerprint
    // (a chunk fp is an identity key in a RAG store — 30 bits would
    // collide at corpus chunk counts) so the oracle checks bytes, not
    // just offsets.
    "chunk_documents" -> ((s, d) => {
      import s.implicits._
      val W = 64
      val S = 48
      val tokd = documents(s, d).select($"doc_id", tokens($"text").as("tk"))
      tokd
        .withColumn("n", size($"tk"))
        .filter($"n" >= 1)
        .select($"doc_id", $"tk", $"n",
          explode(sequence(lit(0), floor(($"n" - 1) / S).cast("long"))).as("chunk_id"))
        .withColumn("start_tok", $"chunk_id" * S + 1)
        .withColumn("n_tok",
          least(lit(W), $"n" - $"chunk_id" * S).cast("long"))
        .withColumn("fp", graft.ops.DedupOps.wideHash(
          concat_ws(" ", slice($"tk", $"start_tok".cast("int"), $"n_tok".cast("int")))))
        .select("doc_id", "chunk_id", "start_tok", "n_tok", "fp")
        .orderBy("doc_id", "chunk_id")
    }),

    // Deterministic mixture sampling (domain reweighting): keep each doc
    // with a per-source rate, decided by a portable content-independent
    // hash of its id — rerun-stable, repartition-stable, and reproducible
    // in the oracle (unlike rand()-based sampling). The pretraining
    // "sample src_k at rate r_k" op; one map-side filter, one tiny
    // groupBy on source.
    "corpus_mixture_sample" -> ((s, d) => {
      import s.implicits._
      // rate per mille, derived from the numeric source suffix; try_cast +
      // coalesce so a digitless source gets the base rate instead of an
      // ANSI cast error (and the oracle's TRY_CAST fails the same way:
      // not at all)
      val srcNum = coalesce(
        regexp_extract($"source", "(\\d+)", 1).try_cast("long"), lit(0L))
      val rate = lit(100) + (srcNum % 10) * 50
      val h = pmod(graft.functions.PolyHash.poly_hash($"doc_id".cast("string")), lit(1000))
      documents(s, d)
        .select($"source", $"doc_id",
          rate.as("rate_permille"),
          when(h < rate, 1L).otherwise(0L).as("kept"))
        .groupBy($"source", $"rate_permille")
        .agg(count(lit(1)).as("n_docs"), sum($"kept").as("n_kept"))
        .withColumn("kept_ratio", round($"n_kept" / $"n_docs", 6))
        .orderBy("source")
    }),

    // Temperature-scaled mixture resampling (the GPT-3/PaLM "flatten the
    // source distribution" op, α = 0.5): per-source Bernoulli keep rate
    // (n_min/n_s)^(1-α), so sampled proportions track n_s^α and the
    // smallest source keeps everything. Rates come from one tiny
    // source-count aggregate broadcast back to the corpus; the keep
    // decision is the same portable id-hash as corpus_mixture_sample —
    // map-side, rerun/repartition-stable, oracle-reproducible. Rate is
    // quantized to integer per-mille (floor) so both engines threshold
    // on identical integers.
    "corpus_temperature_resample" -> ((s, d) => {
      import s.implicits._
      val counts = documents(s, d).groupBy($"source")
        .agg(count(lit(1)).as("n_docs"))
      val rates = counts
        .crossJoin(broadcast(counts.agg(min($"n_docs").as("n_min"))))
        .withColumn("rate_permille",
          floor(sqrt($"n_min".cast("double") / $"n_docs") * 1000).cast("long"))
      val h = pmod(graft.functions.PolyHash.poly_hash($"doc_id".cast("string")),
        lit(1000L))
      documents(s, d).select($"source", $"doc_id")
        .join(broadcast(rates), "source")
        .withColumn("kept", when(h < $"rate_permille", 1L).otherwise(0L))
        .groupBy($"source", $"n_docs", $"rate_permille")
        .agg(sum($"kept").as("n_kept"))
        .orderBy("source")
    }),

    // Multinomial Naive Bayes lang classifier, trained AND evaluated
    // in-engine (the fastText-style linear-classifier slot every
    // curation pipeline fills for quality/language/domain gating —
    // U4's inference contract covers serving a pretrained model; this
    // is the trainable member). Train on the hash-split train buckets
    // (0-7, the text_ngram_novelty split): per-(lang, word) counts with
    // Laplace α=1 smoothing; score test docs by argmax_c [ln prior_c +
    // Σ_tokens ln p(w|c)] over train-vocab tokens; output the confusion
    // matrix. Determinism: every count is an exact integer, each
    // log-prob quantizes to micro-integer per (word, class) — identical
    // doubles both engines — so per-doc scores are INTEGER sums
    // (order-free) and the argmax ties on class name. Scale: training
    // is one explode+groupBy (vocab×5 model table, word-sharded);
    // scoring is one word-keyed equi-join of the test token stream +
    // per-doc integer aggregate — no corpus-sized broadcast.
    "text_nb_classifier" -> ((s, d) => {
      import s.implicits._
      topK(nbScored(s, d), Seq($"doc_id"), Seq(desc("score"), asc("pred_cand")), 1, None)
        .groupBy($"true_lang", $"pred_cand")
        .agg(count(lit(1)).as("n_docs"))
        .select($"true_lang", $"pred_cand".as("pred_lang"), $"n_docs")
        .orderBy("true_lang", "pred_lang")
    }),

    // Confidence calibration of the NB classifier (reliability bins +
    // ECE, Guo et al. 2017's recipe) — the eval a quality-classifier
    // pipeline runs before trusting thresholded scores at 100 TB: a
    // model can be accurate yet mis-calibrated, and a filtering cutoff
    // on mis-calibrated confidence silently shifts the kept-data mix.
    // Confidence = softmax over the per-class log scores, made exact by
    // the max-shift trick: each class term exp((s_c − s_max)/1e6)
    // quantizes to nano-integers (the predicted class is exactly 1e9),
    // so the denominator is an exact integer sum and p = 1e9/denominator
    // is the same double in both engines. Bin b = ⌊10p⌋+1 capped at 10;
    // per-bin confidence re-quantizes to micro before summing, so
    // avg_conf, accuracy, and ECE = Σ|1e6·correct_b − Σconf_b|/(1e6·N)
    // are ratios of exact integers. Scale: everything after nbScored's
    // test-doc scoring is |bins|-row arithmetic.
    "ml_calibration_bins" -> ((s, d) => {
      import s.implicits._
      // round 18: the 10-row bin table has two consumers (the ece
      // aggregate and the report rows) — un-pinned, the whole NB
      // scoring corpus pass behind calibBins ran twice
      val bins = calibBins(s, d).localCheckpoint(false)
      val ece = bins.agg(
          (sum(abs($"n_correct" * lit(1000000L) - $"sconf")) /
            (lit(1e6) * sum($"n_docs"))).as("e"))
        .select(round($"e", 6).as("ece"))
      bins
        .withColumn("avg_conf",
          round($"sconf".cast("double") / ($"n_docs" * lit(1000000L)), 6))
        .withColumn("accuracy",
          round($"n_correct".cast("double") / $"n_docs", 6))
        .select($"bin", $"n_docs", $"avg_conf", $"accuracy", $"n_correct")
        .crossJoin(broadcast(ece))
        .orderBy("bin")
    }),

    // Isotonic calibration (Zadrozny & Elkan, KDD 2002, "Transforming
    // classifier scores into accurate multiclass probability
    // estimates") over the SAME 10-bin confidence table as
    // ml_calibration_bins — the standard post-hoc recalibration map:
    // the monotone step function closest (weighted L2) to the per-bin
    // accuracies. Instead of the sequential pool-adjacent-violators
    // scan, this uses PAV's MINIMAX characterization — iso(i) =
    // max_{j<=i} min_{k>=i} weightedMean(correct, j..k) — which is pure
    // bounded relational algebra: prefix sums over the <= 10 bins, a
    // <= 55-row (j, k) interval frame from a self-join, two bounded
    // group-bys. RelationalSpec proves it equal to the classic stack
    // PAV and pins monotonicity + PAV's mass-preservation invariant.
    // Determinism: every interval mean is an exact-long ratio evaluated
    // as one double division — identical in DuckDB; min/max over
    // identical doubles. Scale: everything after calibBins' one corpus
    // pass lives on the fixed 10-bin frame.
    "ml_isotonic_calibration" -> ((s, d) => {
      import s.implicits._
      val bins = calibBins(s, d).localCheckpoint(false) // 3 bounded probes
      val wc = Window.orderBy($"bin")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val pre = bins
        .withColumn("cn", sum($"n_docs").over(wc))
        .withColumn("cc", sum($"n_correct").over(wc))
      val right = pre.select($"bin".as("k"), $"cn".as("cnk"), $"cc".as("cck"))
      val left = pre.select($"bin".as("j"),
        ($"cn" - $"n_docs").as("cnj0"), ($"cc" - $"n_correct").as("ccj0"))
      val iv = left.join(right, $"j" <= $"k")
        .select($"j", $"k", (($"cck" - $"ccj0").cast("double")
          / ($"cnk" - $"cnj0").cast("double")).as("m"))
      bins.select($"bin".as("i"), $"n_docs", $"n_correct")
        .join(iv, $"j" <= $"i" && $"k" >= $"i")
        .groupBy($"i", $"n_docs", $"n_correct", $"j")
        .agg(min($"m").as("mn"))
        .groupBy($"i", $"n_docs", $"n_correct")
        .agg(max($"mn").as("iso"))
        .select($"i".as("bin"), $"n_docs",
          round($"n_correct".cast("double") / $"n_docs", 6).as("acc_raw"),
          round($"iso", 6).as("iso_prob"))
        .orderBy("bin")
    }),

    // Split conformal prediction over the NB classifier (Vovk's
    // conformal framework; Angelopoulos & Bates 2022, "A Gentle
    // Introduction to Conformal Prediction and Distribution-Free
    // Uncertainty Quantification"): the coverage wrapper an eval stack
    // puts around ANY classifier — prediction SETS with the
    // finite-sample marginal guarantee P(true class in set) >= 1-alpha,
    // no model assumptions. The held-out buckets split again: bucket 8
    // calibrates (nonconformity s = 1 - softmax P(true class)), bucket
    // 9 evaluates. qhat = the ceil((n+1)(1-alpha))-th smallest
    // calibration score; a class enters a doc's set iff its score <=
    // qhat. Reported per alpha in {0.1, 0.2}: qhat, empirical coverage,
    // average set size (the efficiency metric). Determinism: the
    // softmax is ml_calibration_bins' max-shift nano device, the
    // nonconformity re-quantizes to micro ints, rank k is pure integer
    // arithmetic (ceil via (x + den - 1) div den), and qhat is a MIN
    // over an integer cumulative — every threshold comparison is
    // integer-exact in both engines. Scale: calibration scores collapse
    // to <= 1e6+1 micro-value bins (value-range-bounded,
    // corpus-independent) before the rank scan; the eval pass is a
    // 2-row qhat broadcast over the (doc, class) score frame.
    "ml_conformal_split" -> ((s, d) => {
      import s.implicits._
      val sc = nbScored(s, d)
      val mx = sc.groupBy($"doc_id").agg(max($"score").as("smax"))
      val soft = sc.join(mx, "doc_id")
        .withColumn("nano",
          qroundLong(exp(($"score" - $"smax").cast("double") / 1e6) * 1e9))
      val den = soft.groupBy($"doc_id").agg(sum($"nano").as("dn"))
      val scored = soft.join(den, "doc_id")
        .withColumn("alpha_m",
          qroundLong((lit(1.0) - $"nano".cast("double") / $"dn") * 1e6))
        .withColumn("split", pmod(graft.functions.PolyHash.poly_hash(
          $"doc_id".cast("string")), lit(10L)))
      val cal = scored.filter($"split" === 8 && $"pred_cand" === $"true_lang")
      val calCum = cal.groupBy($"alpha_m").agg(count(lit(1)).as("cb"))
        .withColumn("cum", sum($"cb").over(Window.orderBy($"alpha_m")
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      val nCal = cal.agg(count(lit(1)).as("n_cal"))
      val lv = Seq((0.1, 9L, 10L), (0.2, 4L, 5L))
        .toDF("alpha", "knum", "kden")
      val kq = lv.crossJoin(broadcast(nCal))
        .withColumn("k", expr("((n_cal + 1) * knum + kden - 1) div kden"))
      val qh = kq.join(calCum, $"cum" >= $"k", "left")
        .groupBy($"alpha", $"n_cal", $"k")
        .agg(coalesce(min($"alpha_m"), lit(1000000L)).as("qhat_m"))
      val ev = scored.filter($"split" === 9)
        .select($"doc_id", $"true_lang", $"pred_cand", $"alpha_m")
      val perDoc = ev.crossJoin(broadcast(qh))
        .withColumn("inset", when($"alpha_m" <= $"qhat_m", 1L).otherwise(0L))
        .groupBy($"alpha", $"n_cal", $"k", $"qhat_m", $"doc_id")
        .agg(sum($"inset").as("set_size"),
          max(when($"pred_cand" === $"true_lang", $"inset").otherwise(0L))
            .as("covered"))
      perDoc.groupBy($"alpha", $"n_cal", $"k", $"qhat_m")
        .agg(count(lit(1)).as("n_eval"), sum($"set_size").as("tss"),
          sum($"covered").as("ncov"))
        .select($"alpha", $"n_cal", $"k",
          round($"qhat_m".cast("double") / 1e6, 6).as("qhat"),
          $"n_eval",
          round($"tss".cast("double") / $"n_eval", 6).as("avg_set_size"),
          round($"ncov".cast("double") / $"n_eval", 6).as("coverage"))
        .orderBy("alpha")
    }),

    // DoReMi-lite domain reweighting (Xie et al. 2023 "DoReMi", the
    // closed-form single-pass variant): the mixture family's FEEDBACK
    // member — temperature resampling flattens by size alone, DSIR
    // matches a target distribution, this one upweights the domains the
    // corpus LM finds HARD. Per-source excess loss over the corpus-wide
    // reference loss (both from text_lm_score's per-doc bigram NLL)
    // tilts the natural sampling share: w_s ∝ (n_s/N) · exp(η·excess_s),
    // η=1 — one exponentiated-gradient step of DoReMi's group-DRO update
    // with the corpus LM standing in for the proxy/reference pair.
    // Determinism posture (the EM/quantile-sketch pattern): the per-doc
    // 6dp-rounded avg_logprob quantizes to micro-integer NLL per ROW, so
    // every per-source and corpus-wide mean is a ratio of exact integer
    // sums (order-insensitive); excess/exp run on identical doubles, the
    // tilted weights re-quantize to micro-ints, and the normalization
    // divides exact integers. Scale: doc-scale score join + one tiny
    // source-level aggregate — the weights table is what a sampler
    // (corpus_mixture_sample's machinery) consumes as rate_permille.
    "corpus_doremi_weights" -> ((s, d) => {
      import s.implicits._
      val Eta = 1.0
      val perDoc = lmScores(s, d)
        .join(documents(s, d).select($"doc_id", $"source"), "doc_id")
        .select($"source",
          qroundLong($"avg_logprob" * -1e6).as("nllm"))
      val bySrc = perDoc.groupBy($"source")
        .agg(count(lit(1)).as("n_docs"), sum($"nllm").as("snll"))
      val ref = bySrc.agg(sum($"snll").as("tsnll"), sum($"n_docs").as("tn"))
      val w = bySrc.crossJoin(broadcast(ref))
        .withColumn("mean_nll", $"snll".cast("double") / $"n_docs" / 1e6)
        .withColumn("ref_nll", $"tsnll".cast("double") / $"tn" / 1e6)
        .withColumn("excess", greatest(lit(0.0), $"mean_nll" - $"ref_nll"))
        .withColumn("wraw",
          ($"n_docs".cast("double") / $"tn") * exp(lit(Eta) * $"excess"))
        .withColumn("wm", qroundLong($"wraw" * 1e6))
      w.withColumn("tw", sum($"wm").over(Window.partitionBy()))
        .withColumn("mw", max($"wm").over(Window.partitionBy()))
        .select($"source", $"n_docs",
          round($"mean_nll", 6).as("mean_nll"),
          round($"excess", 6).as("excess"),
          round($"wm".cast("double") / $"tw", 6).as("doremi_weight"),
          expr("(wm * 1000) div mw").as("rate_permille"))
        .orderBy("source")
    }),

    // UniMax sampling weights (Chung et al. 2023, "UniMax: Fairer and
    // More Effective Language Sampling") — the budget allocator beside
    // temperature/DoReMi: distribute a total sampling budget as
    // UNIFORMLY as possible across sources subject to a per-source
    // epoch cap C (here 4; budget = half the total capacity so the
    // threshold bites). The sequential greedy (ascending capacity,
    // alloc = min(cap, remaining/remaining_sources)) collapses to
    // closed-form waterfilling because capacities are sorted: a source
    // is CAP-BOUND iff cap·(k − rn + 1) ≤ budget − cum_before — an
    // EXACT long inequality (no float touches the decision) — and every
    // non-cap-bound source gets the identical share
    // (budget − Σ capbound caps)/(k − p). Budget = tcap div 2 < tcap
    // guarantees k − p ≥ 1. All windows live on the ≤ |sources| frame.
    "corpus_unimax_weights" -> ((s, d) => {
      import s.implicits._
      val C = 4L
      val bySrc = documents(s, d).groupBy($"source")
        .agg(count(lit(1)).as("n_docs"))
        .withColumn("cap", $"n_docs" * C)
      val tot = bySrc.agg(sum($"cap").as("tcap"),
        count(lit(1)).as("k"))
      val wAsc = Window.orderBy($"cap".asc, $"source".asc)
      val r = bySrc.crossJoin(broadcast(tot))
        .withColumn("budget", expr("tcap div 2"))
        .withColumn("rn", row_number().over(wAsc))
        .withColumn("cum_before", coalesce(sum($"cap").over(
          wAsc.rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
        .withColumn("capbound",
          $"cap" * ($"k" - $"rn" + 1L) <= $"budget" - $"cum_before")
      val pStats = r.filter($"capbound")
        .agg(count(lit(1)).as("p"),
          coalesce(sum($"cap"), lit(0L)).as("cumcap"))
      r.crossJoin(broadcast(pStats))
        .withColumn("alloc", round(when($"capbound", $"cap".cast("double"))
          .otherwise(($"budget" - $"cumcap").cast("double")
            / ($"k" - $"p")), 6))
        .withColumn("epochs", round($"alloc" / $"n_docs", 6))
        .select($"source", $"n_docs", $"cap", $"capbound", $"alloc",
          $"epochs")
        .orderBy("source")
    }),

    // N-gram novelty (the Gopher/PaLM-family memorization metric): what
    // fraction of a held-out doc's 8-grams never occurs in the training
    // split? Low novelty = the eval doc is effectively memorized train
    // data — the doc-level signal benchmark decontamination acts on.
    // Split = the standard portable id-hash split (train buckets 0-7).
    // Shape: one rolling-hash pass (same machinery as the substring
    // ops), train grams DISTINCT, then a left join probe + per-doc
    // aggregate. At 100 TB the distinct train-gram table is the big
    // artifact — it shards by gram hash and the probe co-partitions, or
    // degrades gracefully to the Bloom-filter probe
    // (dedup_bloom_contamination's machinery) when approximate novelty
    // suffices.
    "text_ngram_novelty" -> ((s, d) => {
      import s.implicits._
      val N = 8
      val grams = documents(s, d)
        .select($"doc_id", tokens($"text").as("tk"))
        .withColumn("n", size($"tk"))
        .filter($"n" >= N)
        .select($"doc_id", explode(
          transform(sequence(lit(0), $"n" - N),
            i => graft.ops.DedupOps.wideHash(
              concat_ws(" ", slice($"tk", i + 1, lit(N)))))).as("g"))
        .withColumn("bucket", pmod(graft.functions.PolyHash.poly_hash(
          $"doc_id".cast("string")), lit(10L)))
      val trainGrams = grams.filter($"bucket" < 8).select($"g").distinct()
      grams.filter($"bucket" >= 8)
        .join(trainGrams.withColumn("seen", lit(1)), Seq("g"), "left")
        .groupBy($"doc_id")
        .agg(count(lit(1)).as("n_grams"),
          sum(when($"seen".isNull, 1L).otherwise(0L)).as("n_novel"))
        .withColumn("novelty", round($"n_novel" / $"n_grams", 6))
        .orderBy("doc_id")
    }),

    // Weighted sampling WITHOUT replacement per stratum (Efraimidis &
    // Spirakis 2006; A-ExpJ is the streaming exponential-jump variant of
    // the same distribution — a batch engine materializes every key, the
    // jump trick only saves RNG draws on a sequential stream). The data-
    // mixing op the rate-based samplers above can't express: "exactly m
    // docs per source, longer docs proportionally likelier, never twice."
    // Key: e_i = −ln(u_i)/w_i ~ Exp(w_i); the m SMALLEST e_i per stratum
    // are the sample (the u^(1/w) top-k form, taken in log space so the
    // only float ops are one ln and one divide). u_i comes from the
    // portable id hash mapped into (0, 1], so the draw is rerun- and
    // repartition-stable and the oracle replays it; keys are rounded to
    // 9dp before ranking (ties → doc_id) so a cross-engine ln() ulp
    // can't flip the selection boundary. Weight = token count. Scale:
    // key assignment is map-side; selection is one per-stratum topK.
    "sample_weighted_ares" -> ((s, d) => {
      import s.implicits._
      val M = 10
      val base = documents(s, d)
        .select($"source", $"doc_id", size(tokens($"text")).as("w_tok"))
        .filter($"w_tok" >= 1)
      val u = DedupOps.uniform(DedupOps.polyHash($"doc_id".cast("string")))
      topK(base.withColumn("ekey", round(-log(u) / $"w_tok", 9)),
          Seq($"source"), Seq($"ekey".asc, $"doc_id".asc), M, Some("pick"))
        .select($"source", $"pick", $"doc_id", $"w_tok", $"ekey")
        .orderBy("source", "pick")
    }),

    // §3-style composed entry point for the PRETRAINING-DATA path: the
    // end-to-end corpus build a training-data user actually runs —
    // length gate (quality) → exact dedup keep-first (provable: the
    // input is unioned with re-keyed copies of every 100th doc) →
    // deterministic 80% mixture sample (portable id hash) → shard
    // assignment → per-shard datasheet. One tokenize pass, one window
    // on the md5 key, one final shard aggregate; every stage is the
    // oracle-checked operator it composes.
    "pipeline_pretrain_corpus" -> ((s, d) => {
      import s.implicits._
      val gated = DedupOps.plantedDups(s, d)
        .select($"doc_id", $"text", size(tokens($"text")).as("n_tok"))
        .filter($"n_tok" >= 30)
      val deduped = topK(gated, Seq(md5($"text")), Seq($"doc_id".asc), 1, None)
      val sampled = deduped.filter(
        pmod(graft.functions.PolyHash.poly_hash($"doc_id".cast("string")),
          lit(1000)) < 800)
      sampled
        .groupBy(($"doc_id" % 8).as("shard"))
        .agg(count(lit(1)).as("n_docs"),
          sum($"n_tok").as("tokens"),
          min($"doc_id").as("first_doc"),
          max($"doc_id").as("last_doc"))
        .orderBy("shard")
    }),

    // Corpus stats card (training-data pipeline op): the per-(source,
    // lang) datasheet a data card reports — doc/unique counts, token and
    // char volume, exact-dup ratio. One partial-aggregated groupBy on a
    // low-cardinality key; countDistinct(md5) is the only expansion and
    // rides the same shuffle. Scale-safe at any corpus size.
    // Cross-doc boilerplate stripping (the CLEANING-transform half of
    // Lee et al.'s duplicated-substring removal — dedup_substring_spans
    // is the detector, this is the strip readout a pretrain pipeline
    // applies): any 8-token window appearing in ≥ 2 distinct docs is
    // boilerplate; a doc's stripped region is the INTERVAL UNION of its
    // flagged windows, computed exactly with gaps-and-islands over
    // window start positions (new island when p − prev_p > W; island
    // coverage = max(p) − min(p) + W — all integer algebra). Reports
    // per doc: token count, boilerplate-covered tokens, kept tokens,
    // ratio. Scale: ONE rolling-hash window explode (the spans
    // pattern), an h-partitioned shared-flag window whose partitions
    // are dup-multiplicity-sized, and one doc-keyed island window —
    // never a pair join. The window key is a PAIR of independent
    // polynomial hashes (forward + reversed gram, ~60 bits joint):
    // this op consumes hash-bucket sharing DIRECTLY (no verifier
    // follows, unlike the banded dedup ops), and a single mod-1e9+7
    // hash saturates by birthday at corpus window counts — the
    // round-12 heavy-tail fixture measured ~180 collisions at just
    // 600k windows, i.e. false strips of unique text. At p² ≈ 2^60
    // the expected false-strip fraction stays negligible at any
    // realistic corpus (1e12 windows → ~4e5 colliding pairs, a 4e-7
    // fraction, vs certain saturation at 2^30).
    "text_boilerplate_strip" -> ((s, d) => {
      import s.implicits._
      val W = 8
      val t = documents(s, d).select($"doc_id", tokens($"text").as("tk"))
        .withColumn("n", size($"tk").cast("long"))
      val grams = t.filter($"n" >= W)
        .select($"doc_id", $"n", posexplode(
          transform(sequence(lit(0), ($"n" - W).cast("int")),
            i => graft.ops.DedupOps.wideHash(
              concat_ws(" ", slice($"tk", i + 1, lit(W)))))))
        .toDF("doc_id", "n", "p", "h")
      val wh = Window.partitionBy($"h")
      val flagged = grams
        .withColumn("shared",
          min($"doc_id").over(wh) =!= max($"doc_id").over(wh))
        .filter($"shared")
      val wd = Window.partitionBy($"doc_id").orderBy($"p")
      val isl = flagged
        .withColumn("prev", lag($"p", 1).over(wd))
        .withColumn("brk",
          when($"prev".isNull || $"p" - $"prev" > W, 1L).otherwise(0L))
        .withColumn("isl", sum($"brk").over(
          wd.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      val cov = isl.groupBy($"doc_id", $"isl")
        .agg((max($"p") - min($"p") + W).cast("long").as("covered"))
        .groupBy($"doc_id").agg(sum($"covered").as("boiler_tokens"))
      t.select($"doc_id", $"n")
        .join(cov, Seq("doc_id"), "left")
        .na.fill(0L, Seq("boiler_tokens"))
        .select($"doc_id", $"n".as("n_tokens"), $"boiler_tokens",
          ($"n" - $"boiler_tokens").as("kept_tokens"),
          round($"boiler_tokens" / $"n".cast("double"), 6)
            .as("boiler_ratio"))
        .orderBy("doc_id")
    }),

    // Zipf's-law rank-frequency fit (Heaps' sibling on the corpus
    // card): slope of ln(freq) vs ln(rank) over the top-10k vocabulary
    // — natural text sits near −1; a slope near 0 is the flat synthetic
    // verdict this corpus correctly earns. Same micro-integer OLS
    // machinery as text_heaps_law (quantize each log before summing ⇒
    // exact, order-free); the 10k-rank cap keeps Σxq² under 2^63 at any
    // vocab size AND is the standard fit range (the unreliable
    // hapax tail is excluded). Scale posture: the 10k cap is applied
    // as orderBy(...).limit(10000) — Spark plans that as
    // TakeOrderedAndProject (per-partition top-k heaps merged on the
    // driver, O(10k) state) — BEFORE any window runs, so the
    // row_number window only ever sees the ≤10k survivors. Ranking
    // the full vocab through an unpartitioned window first would drag
    // a hapax-heavy 10⁸-row natural vocabulary onto one partition.
    // Output: top-10 rank table + the shared (slope, C) fit,
    // C = exp(intercept) = the fitted rank-1 frequency.
    "text_zipf_slope" -> ((s, d) => {
      import s.implicits._
      val freq = documents(s, d)
        .select(explode(tokens($"text")).as("word"))
        .groupBy($"word").agg(count(lit(1)).as("freq"))
      val top = freq.orderBy(desc("freq"), asc("word")).limit(10000)
      // Explicit constant partition key: the frame is provably ≤10k
      // rows (the limit above), so one hash partition is the intended
      // shape. The key must be column-derived — a bare lit(0) is
      // constant-folded out of the partition spec, which re-triggers
      // WindowExec's "no partition defined" warning even though the
      // frame is bounded. pmod(length(word), 1) is 0 for every row
      // but survives folding, so the plan records deliberate
      // single-partition placement rather than an accident.
      val wr = Window.partitionBy(pmod(length($"word"), lit(1)))
        .orderBy(desc("freq"), asc("word"))
      val ranked = top
        .withColumn("rank", row_number().over(wr).cast("long"))
        .withColumn("xq",
          qroundLong(log($"rank".cast("double")) * 1e6))
        .withColumn("yq",
          qroundLong(log($"freq".cast("double")) * 1e6))
      // The five sums are exact integer algebra (safe at ANY corpus:
      // the 10k rank cap bounds them under 2^63), but the OLS
      // combination n·sxy − sx·sy can reach ~1e22 at a full 10k-point
      // fit — compute it in double, with each factor cast FIRST. Both
      // engines make the identical long→double conversions and IEEE
      // multiplies, so the fit still replays bit-for-bit pre-rounding
      // (the round-12 heavy-tail fixture is what surfaced the
      // overflow: the synthetic 31-word vocab never exercised n>31).
      val fit = ranked.agg(
          count(lit(1)).as("n"), sum($"xq").as("sx"), sum($"yq").as("sy"),
          sum($"xq" * $"yq").as("sxy"), sum($"xq" * $"xq").as("sxx"))
        .withColumn("nd", $"n".cast("double"))
        .withColumn("sxd", $"sx".cast("double"))
        .withColumn("syd", $"sy".cast("double"))
        .withColumn("slope_raw",
          ($"nd" * $"sxy".cast("double") - $"sxd" * $"syd") /
            ($"nd" * $"sxx".cast("double") - $"sxd" * $"sxd"))
        .withColumn("zipf_slope", round($"slope_raw", 6))
        .withColumn("zipf_c", round(exp(
          ($"syd" / $"nd" - $"slope_raw" * ($"sxd" / $"nd")) / 1e6), 4))
        .select($"zipf_slope", $"zipf_c")
      ranked.filter($"rank" <= 10).select($"rank", $"word", $"freq")
        .crossJoin(broadcast(fit))
        .orderBy("rank")
    }),

    // Heaps'-law vocabulary growth V(N) ≈ K·N^β — the corpus-card
    // diagnostic that says how fast the vocabulary (and so tokenizer
    // coverage, embedding-table pressure, dedup shingle cardinality)
    // grows with corpus size; β drifting from ~0.5 flags a corpus
    // turning boilerplate-heavy (low β) or noise-heavy (high β).
    // Construction is one token pass: each word reduces to its FIRST
    // doc (min doc_id), each doc to its token count; both bucket into
    // 10 corpus-prefix deciles by exact ceil-division on doc_id, so the
    // growth curve is 10 cumulative (tokens, vocab) checkpoints from a
    // 10-row frame. The log-log OLS fit quantizes ln values to
    // micro-integers first, making the 10-point regression sums exact
    // integer algebra — β and K replay bit-for-bit. Scale: the shuffles
    // are groupBy(word) and a 10-row aggregate; nothing windows over
    // corpus-sized frames. On the synthetic testdata the diagnostic
    // correctly fires its boilerplate verdict: the generator draws from
    // a ~31-word bank, so the vocabulary saturates in decile 1 and
    // β = 0 — exactly what this op should report for a template corpus.
    "text_heaps_law" -> ((s, d) => {
      import s.implicits._
      val t = documents(s, d).select($"doc_id", tokens($"text").as("t"))
      val mx = t.agg(max($"doc_id").as("mx"))
      val vNew = t.select($"doc_id", explode($"t").as("word"))
        .groupBy($"word").agg(min($"doc_id").as("first_doc"))
        .crossJoin(broadcast(mx))
        .withColumn("b", least(greatest(
          expr("(first_doc * 10 + mx - 1) div mx"), lit(1L)), lit(10L)))
        .groupBy($"b").agg(count(lit(1)).as("v_new"))
      val nTok = t.select($"doc_id", size($"t").cast("long").as("ntok"))
        .crossJoin(broadcast(mx))
        .withColumn("b", least(greatest(
          expr("(doc_id * 10 + mx - 1) div mx"), lit(1L)), lit(10L)))
        .groupBy($"b").agg(sum($"ntok").as("n_tok"))
      val dom = documents(s, d).limit(1)
        .select(explode(sequence(lit(1L), lit(10L))).as("b"))
      val w = Window.orderBy($"b")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val curve = dom
        .join(vNew, Seq("b"), "left").na.fill(0, Seq("v_new"))
        .join(nTok, Seq("b"), "left").na.fill(0, Seq("n_tok"))
        .withColumn("cum_vocab", sum($"v_new").over(w))
        .withColumn("cum_tokens", sum($"n_tok").over(w))
        .select($"b".as("decile"), $"cum_tokens", $"cum_vocab")
        .withColumn("xq", qroundLong(log($"cum_tokens") * 1e6))
        .withColumn("yq", qroundLong(log($"cum_vocab") * 1e6))
      val fit = curve.agg(
          count(lit(1)).as("n"), sum($"xq").as("sx"), sum($"yq").as("sy"),
          sum($"xq" * $"yq").as("sxy"), sum($"xq" * $"xq").as("sxx"))
        .withColumn("beta", round(
          ($"n" * $"sxy" - $"sx" * $"sy").cast("double") /
            ($"n" * $"sxx" - $"sx" * $"sx").cast("double"), 6))
        .withColumn("heaps_k", round(exp(
          ($"sy".cast("double") / $"n" -
            (($"n" * $"sxy" - $"sx" * $"sy").cast("double") /
              ($"n" * $"sxx" - $"sx" * $"sx").cast("double")) *
              ($"sx".cast("double") / $"n")) / 1e6), 6))
        .select($"beta", $"heaps_k")
      curve.select($"decile", $"cum_tokens", $"cum_vocab")
        .crossJoin(broadcast(fit))
        .orderBy("decile")
    }),

    "corpus_stats_card" -> ((s, d) => {
      import s.implicits._
      documents(s, d)
        .select($"source", $"lang", $"text", size(tokens($"text")).as("tok"))
        .groupBy($"source", $"lang")
        .agg(count(lit(1)).as("n_docs"),
          countDistinct(md5($"text")).as("n_unique"),
          sum($"tok").as("tokens"),
          sum(length($"text")).as("chars"),
          round(avg(length($"text")), 6).as("avg_chars"))
        .withColumn("dup_ratio",
          round(lit(1.0) - $"n_unique".cast("double") / $"n_docs", 6))
        .orderBy("source", "lang")
    }),

    // Out-of-vocabulary rate per source under the min-DF vocabulary —
    // the tokenizer-coverage eval run before committing a vocab: a
    // source with high OOV is either noise or a domain the vocab
    // underserves. Coverage uses only the min-DF floor (A11's no_above
    // cap exists to drop stopword-ish terms from TOPIC models; for
    // coverage those are exactly the terms that must stay in-vocab).
    // The vocab is bounded (≤ 50k terms) so it broadcasts at any corpus
    // scale; the token stream is scanned once with a map-side probe.
    "text_oov_rate" -> ((s, d) => {
      import s.implicits._
      val docs = documents(s, d)
      val vocab = docs
        .select($"doc_id", explode(array_distinct(tokens($"text"))).as("word"))
        .groupBy($"word").agg(count("*").as("df"))
        .filter($"df" >= 5)
        .orderBy(desc("df"), asc("word")).limit(50000)
        .select($"word", lit(1L).as("in_v"))
      docs.select($"source", explode(tokens($"text")).as("word"))
        .join(broadcast(vocab), Seq("word"), "left")
        .groupBy($"source")
        .agg(count(lit(1)).as("n_tokens"),
          sum(when($"in_v".isNull, 1L).otherwise(0L)).as("n_oov"))
        .withColumn("oov_rate", round($"n_oov" / $"n_tokens", 6))
        .orderBy("source")
    }),

    // Per-doc character entropy (the Shannon-entropy quality heuristic
    // CCNet/Gopher-style filters use to catch mojibake, binary spill,
    // and repeated-character spam). Computed ENTIRELY map-side as a HOF
    // fold over the bounded per-doc alphabet — O(|alphabet|·len) per doc
    // with NO explode shuffle (a char-level explode would be a
    // len(text)× row blowup at 100 TB; the fold keeps the char
    // histogram inside the row). Per-char terms micro-quantize so the
    // per-doc sum is engine-exact.
    "text_char_entropy" -> ((s, d) => {
      import s.implicits._
      documents(s, d)
        .withColumn("chars",
          filter(split(lower($"text"), ""), c => c =!= ""))
        .withColumn("n", size($"chars"))
        .withColumn("ent_e9",
          aggregate(array_distinct($"chars"), lit(0L), (acc, c) => {
            val cnt = size(filter($"chars", x => x === c))
            val p = cnt / $"n"
            acc + qroundLong(-p * log(p) * lit(1e9))
          }))
        .select($"doc_id", $"n".cast("long").as("n_chars"),
          size(array_distinct($"chars")).cast("long").as("n_alphabet"),
          $"ent_e9", round($"ent_e9" / 1e9, 6).as("entropy"))
        .orderBy("doc_id")
    }),

    // Curriculum phases (curriculum learning for LLM pretraining): order
    // the corpus by the quality score and cut it into 4 equal-depth
    // phases (lowest-quality first — the "easy-to-hard" schedule is a
    // config choice; the MACHINERY is the exact global quantile). The
    // global rank uses the bounded-bin device (quality quantizes into
    // ≤ 101 centi-bins, so the only unpartitioned window runs over the
    // ≤ 101-row bin table; ranks within a bin tie-break on doc_id) — no
    // corpus-sized single-partition sort at any scale.
    "corpus_curriculum_phases" -> ((s, d) => {
      import s.implicits._
      val q = queries("text_quality")(s, d).select($"doc_id", $"n_tok", $"quality")
      val binned = q.withColumn("bin", floor($"quality" * 100).cast("long"))
      val bc = binned.groupBy($"bin").agg(count(lit(1)).as("c"))
      val wb = Window.orderBy($"bin").rowsBetween(Window.unboundedPreceding, -1)
      val off = bc
        .withColumn("off", coalesce(sum($"c").over(wb), lit(0L)))
        .crossJoin(broadcast(bc.agg(sum($"c").as("n"))))
        .select($"bin", $"off", $"n")
      val wIn = Window.partitionBy($"bin").orderBy($"quality", $"doc_id")
      val ranked = binned.join(broadcast(off), "bin")
        .withColumn("rn", $"off" + row_number().over(wIn))
      val sz = floor($"n" / 4)
      val r = $"n" % 4
      val phase = when($"rn" <= r * (sz + 1),
          floor(($"rn" - 1) / (sz + 1)) + 1)
        .otherwise(r + floor(($"rn" - r * (sz + 1) - 1) /
          greatest(sz, lit(1L))) + 1)
      ranked.withColumn("phase", phase.cast("int"))
        .groupBy($"phase")
        .agg(count(lit(1)).as("n_docs"), sum($"n_tok").as("tokens"),
          round(min($"quality"), 6).as("q_lo"),
          round(max($"quality"), 6).as("q_hi"))
        .orderBy("phase")
    }),

    // Broadcast multi-keyword tagging (the FlashText/Aho-Corasick shape
    // at catalog scale): a pinned taxonomy broadcasts to every executor;
    // each doc reports which taxonomy terms it contains and how often —
    // map-only, no shuffle until the per-tag rollup. The report is the
    // per-tag document reach + hit volume a labeling pass emits.
    "text_keyword_tag" -> ((s, d) => {
      import s.implicits._
      val taxCol = array(KeywordTaxonomy.map(lit): _*)
      documents(s, d)
        .withColumn("toks", tokens($"text"))
        .select($"doc_id", explode(array_intersect($"toks", taxCol)).as("tag"),
          $"toks")
        .withColumn("hits", size(filter($"toks", t => t === $"tag")))
        .groupBy($"tag")
        .agg(count(lit(1)).as("n_docs"), sum($"hits").as("n_hits"))
        .orderBy("tag")
    }),

    // Token-distribution drift monitor — KL(source ‖ corpus) per source,
    // the data-quality alarm a continuously-ingesting pipeline needs (a
    // source whose unigram distribution drifts from the corpus signals
    // scraper breakage, spam floods, or domain shift; cf. CCNet's
    // per-shard LM perplexity monitoring). One token explode → one
    // (source, word) partial-aggregated shuffle; the vocab-sized word
    // marginal broadcasts back (vocab ≪ corpus at any scale) and the
    // per-term KL contributions are micro-integer quantized so the
    // per-source sum is exact in any partition order.
    "text_drift_kl" -> ((s, d) => {
      import s.implicits._
      val sw = documents(s, d)
        .select($"source", explode(tokens($"text")).as("word"))
        .groupBy($"source", $"word").agg(count(lit(1)).as("c_sw"))
      val srcTot = sw.groupBy($"source").agg(sum($"c_sw").as("n_s"))
      val wTot = sw.groupBy($"word").agg(sum($"c_sw").as("c_w"))
      val tot = wTot.agg(sum($"c_w").as("n_all"))
      sw.join(broadcast(srcTot), "source")
        .join(broadcast(wTot), "word")
        .crossJoin(broadcast(tot))
        .withColumn("term",
          ($"c_sw" / $"n_s") * log(($"c_sw" / $"n_s") / ($"c_w" / $"n_all")))
        .withColumn("term_e9", qroundLong($"term" * 1e9))
        .groupBy($"source")
        .agg(max($"n_s").as("n_tokens"), count(lit(1)).as("n_types"),
          sum($"term_e9").as("kl_e9"))
        .withColumn("kl", round($"kl_e9" / 1e9, 6))
        .orderBy("source")
    }),

    // Watermark detection (round 18) — the Kirchenbauer et al. 2023
    // green-list test, the training-data-curation filter for
    // MODEL-GENERATED text (a watermarking LLM biases each token toward
    // a "green" half of the vocabulary seeded by the previous token;
    // the detector needs no model, only the seeding rule). Per token
    // bigram (prev, tok): green iff hash(prev ‖ '#' ‖ tok) is even —
    // the γ = 0.5 partition, the same parity-of-polynomial-hash device
    // a_quantile_sketch's oracle replays. Per doc over T scored pairs
    // with g green: z = (g − γT)/√(Tγ(1−γ)) = (2g − T)/√T; the paper
    // flags z ≥ 4 (one-in-3e5 false-positive rate). Human text scores
    // |z| ~ N(0,1) — the fixture corpus is all-human, so the readout is
    // the z distribution and the flag column's all-false; TextOpsSpec
    // plants a greedily-constructed watermarked doc and asserts it
    // (and only it) trips the flag. Exactness: g and T are exact longs,
    // z is one IEEE-sqrt division rounded 6dp. Scale: tokenize is
    // map-only; the bigram lag is a per-doc window (shuffle on doc_id,
    // state = one token); the rest is a hash-group — linear, no
    // cross-doc anything.
    "text_watermark_greenlist" -> ((s, d) => {
      import s.implicits._
      val tk = documents(s, d).select($"doc_id",
        posexplode(tokens($"text")).as(Seq("pos", "tok")))
      val w = Window.partitionBy($"doc_id").orderBy($"pos")
      tk.withColumn("prev", lag($"tok", 1).over(w))
        .filter($"prev".isNotNull)
        .withColumn("green",
          (graft.functions.PolyHash.poly_hash(
            concat($"prev", lit("#"), $"tok")) % 2L === 0L).cast("long"))
        .groupBy($"doc_id")
        .agg(count(lit(1)).as("n_scored"), sum($"green").as("n_green"))
        .withColumn("z", round(
          (lit(2.0) * $"n_green" - $"n_scored") /
            sqrt($"n_scored".cast("double")), 6))
        .withColumn("watermarked", $"z" >= 4.0)
        .orderBy("doc_id")
    }),
  )

  private val lexVals = Lexicons.vaderSqlValues
  private val langVals = Lexicons.langSqlValues

  /** Pinned tag taxonomy for text_keyword_tag — shared with its oracle. */
  val KeywordTaxonomy: Seq[String] =
    Seq("data", "filter", "join", "query", "sort", "spark", "stream", "window")

  /** Per-doc quality-score CTE chain (text_quality's exact arithmetic),
    * shared by the text_quality oracle and every oracle that consumes the
    * score downstream (curriculum phases) — one definition, zero drift.
    * Exposes `qq(doc_id, n_tok, avg_len, stop_ratio, ttr, quality)`.
    */
  private lazy val qualityCteSql =
    s"""t AS (SELECT doc_id, ${tokensSql("text")} AS toks FROM documents),
       |q AS (
       |  SELECT doc_id, len(toks) AS n_tok,
       |    CAST(list_reduce(list_prepend(0, list_transform(toks, x -> len(x))),
       |      (a, b) -> a + b) AS DOUBLE) / len(toks) AS avg_len,
       |    CAST(len(list_filter(toks, x -> ${isStopwordSql("x")})) AS DOUBLE)
       |      / len(toks) AS stop_ratio,
       |    CAST(len(list_distinct(toks)) AS DOUBLE) / len(toks) AS ttr
       |  FROM t),
       |qq AS (
       |  SELECT doc_id, n_tok, avg_len, stop_ratio, ttr,
       |    ROUND(0.4 * LEAST(n_tok / 100.0, 1.0) + 0.3 * (1.0 - stop_ratio)
       |      + 0.3 * ttr, 6) AS quality
       |  FROM q)""".stripMargin

  val oracles: Map[String, String] = Map(
    "f_text_clean" ->
      s"""SELECT doc_id, ${cleanTextSql(noisySql)} AS article_clean
         |FROM documents ORDER BY doc_id""".stripMargin,
    "f_word_counts" ->
      s"""WITH t AS (SELECT doc_id, ${tokensSql("text")} AS toks FROM documents)
         |SELECT doc_id, len(toks) AS n_words,
         |  len(list_filter(toks, x -> NOT ${isStopwordSql("x")})) AS n_words_clean
         |FROM t WHERE len(toks) > 40 ORDER BY doc_id""".stripMargin,
    "a10_word_freq" ->
      s"""SELECT word, COUNT(*) AS cnt FROM (
         |  SELECT unnest(${tokensSql("text")}) AS word FROM documents)
         |WHERE ${isContentWordSql("word")}
         |GROUP BY word ORDER BY cnt DESC, word ASC LIMIT 100""".stripMargin,
    "a11_vocab_prune" ->
      s"""WITH n AS (SELECT COUNT(*) AS n_docs FROM documents)
         |SELECT word, COUNT(*) AS df FROM (
         |  SELECT DISTINCT doc_id, unnest(${tokensSql("text")}) AS word FROM documents)
         |GROUP BY word
         |HAVING COUNT(*) >= 5 AND COUNT(*) <= (SELECT n_docs FROM n) * 0.5
         |ORDER BY df DESC, word ASC LIMIT 50000""".stripMargin,
    "u7_tfidf_top_terms" ->
      s"""WITH n AS (SELECT COUNT(*) AS n_docs FROM documents),
         |tf AS (
         |  SELECT doc_id, word, COUNT(*) AS tf FROM (
         |    SELECT doc_id, unnest(${tokensSql("text")}) AS word FROM documents)
         |  WHERE ${isContentWordSql("word")}
         |  GROUP BY doc_id, word),
         |df AS (SELECT word, COUNT(*) AS df FROM tf GROUP BY word),
         |w AS (
         |  SELECT doc_id, tf.word,
         |    tf * (ln(((SELECT n_docs FROM n) + 1.0) / (df + 1.0)) + 1.0) AS w
         |  FROM tf JOIN df ON tf.word = df.word),
         |wn AS (
         |  SELECT word, w / sqrt(SUM(w * w) OVER (PARTITION BY doc_id)) AS wn
         |  FROM w)
         |SELECT word, ROUND(SUM(wn), 6) AS score FROM wn
         |GROUP BY word ORDER BY score DESC, word ASC LIMIT 15""".stripMargin,
    "u3_vader_sentiment" ->
      s"""WITH lex(word, valence) AS (VALUES $lexVals),
         |tok AS (SELECT doc_id, unnest(${tokensSql("text")}) AS word FROM documents),
         |sums AS (
         |  SELECT doc_id, SUM(valence) AS sv FROM tok JOIN lex USING (word)
         |  GROUP BY doc_id)
         |SELECT d.doc_id,
         |  ROUND(COALESCE(sv, 0) / sqrt(COALESCE(sv, 0) * COALESCE(sv, 0) + 15.0), 6)
         |    AS sentiment_score,
         |  CASE WHEN COALESCE(sv, 0) / sqrt(COALESCE(sv, 0) * COALESCE(sv, 0) + 15.0) >= 0.05
         |         THEN 'positive'
         |       WHEN COALESCE(sv, 0) / sqrt(COALESCE(sv, 0) * COALESCE(sv, 0) + 15.0) <= -0.05
         |         THEN 'negative'
         |       ELSE 'neutral' END AS sentiment_label
         |FROM documents d LEFT JOIN sums s ON d.doc_id = s.doc_id
         |ORDER BY d.doc_id""".stripMargin,
    "u3_sentiment_distribution" ->
      s"""WITH lex(word, valence) AS (VALUES $lexVals),
         |tok AS (SELECT doc_id, unnest(${tokensSql("text")}) AS word FROM documents),
         |sums AS (
         |  SELECT doc_id, SUM(valence) AS sv FROM tok JOIN lex USING (word)
         |  GROUP BY doc_id),
         |scored AS (
         |  SELECT CASE
         |    WHEN COALESCE(sv, 0) / sqrt(COALESCE(sv, 0) * COALESCE(sv, 0) + 15.0) >= 0.05
         |      THEN 'positive'
         |    WHEN COALESCE(sv, 0) / sqrt(COALESCE(sv, 0) * COALESCE(sv, 0) + 15.0) <= -0.05
         |      THEN 'negative'
         |    ELSE 'neutral' END AS sentiment_label
         |  FROM documents d LEFT JOIN sums s ON d.doc_id = s.doc_id)
         |SELECT sentiment_label, COUNT(*) AS cnt FROM scored
         |GROUP BY 1 ORDER BY cnt DESC, sentiment_label ASC""".stripMargin,
    "text_langid" ->
      s"""WITH lw(cand_lang, word) AS (VALUES $langVals),
         |tok AS (SELECT doc_id, unnest(${tokensSql("text")}) AS word FROM documents),
         |ntok AS (SELECT doc_id, COUNT(*) AS n_tok FROM tok GROUP BY doc_id),
         |hits AS (
         |  SELECT doc_id, cand_lang, COUNT(*) AS hits
         |  FROM tok JOIN lw USING (word) GROUP BY doc_id, cand_lang),
         |best AS (${topKSql("hits", Seq("doc_id"), Seq("hits DESC", "cand_lang ASC"), 1, None)})
         |SELECT d.doc_id, COALESCE(cand_lang, 'und') AS pred_lang,
         |  ROUND(COALESCE(CAST(hits AS DOUBLE) / n_tok, 0), 6) AS confidence
         |FROM documents d
         |LEFT JOIN best b ON d.doc_id = b.doc_id
         |LEFT JOIN ntok n ON d.doc_id = n.doc_id
         |ORDER BY d.doc_id""".stripMargin,
    "text_quality" ->
      s"""WITH $qualityCteSql
         |SELECT doc_id, n_tok, ROUND(avg_len, 6) AS avg_len,
         |  ROUND(stop_ratio, 6) AS stop_ratio, ROUND(ttr, 6) AS ttr, quality
         |FROM qq ORDER BY doc_id""".stripMargin,
    "text_gopher_rules" ->
      s"""WITH t AS (
         |  SELECT doc_id, text, ${tokensSql("text")} AS toks FROM documents),
         |b AS (
         |  SELECT doc_id,
         |    CAST(len(toks) AS BIGINT) AS n_words,
         |    ROUND(CAST(list_sum(list_transform(toks, x -> len(x)))
         |      AS DOUBLE) / len(toks), 6) AS mean_word_len,
         |    ROUND(CAST(len(list_filter(toks,
         |      x -> regexp_matches(x, '[a-z]'))) AS DOUBLE) / len(toks), 6)
         |      AS alpha_ratio,
         |    CAST(len(text) - len(replace(text, '#', '')) AS BIGINT)
         |      + CAST((len(text) - len(replace(text, '...', ''))) / 3
         |        AS BIGINT) AS n_symbols,
         |    CAST(len(list_filter(['the', 'be', 'to', 'of', 'and', 'that',
         |      'have', 'with'], w -> list_contains(toks, w))) AS BIGINT)
         |      AS n_req_stops
         |  FROM t WHERE len(toks) >= 1),
         |c AS (
         |  SELECT *, ROUND(CAST(n_symbols AS DOUBLE) / n_words, 6)
         |    AS symbol_ratio
         |  FROM b)
         |SELECT doc_id, n_words, mean_word_len, alpha_ratio, symbol_ratio,
         |  n_req_stops,
         |  (n_words >= 50 AND n_words <= 100000
         |    AND mean_word_len >= 3.0 AND mean_word_len <= 10.0
         |    AND symbol_ratio <= 0.1 AND alpha_ratio >= 0.8
         |    AND n_req_stops >= 2) AS passes
         |FROM c ORDER BY doc_id""".stripMargin,
    "corpus_unimax_weights" ->
      """WITH s AS (
        |  SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
        |    CAST(COUNT(*) * 4 AS BIGINT) AS cap
        |  FROM documents GROUP BY 1),
        |tot AS (
        |  SELECT CAST(SUM(cap) AS BIGINT) AS tcap,
        |    CAST(COUNT(*) AS BIGINT) AS k
        |  FROM s),
        |r AS (
        |  SELECT s.source, s.n_docs, s.cap, k, tcap // 2 AS budget,
        |    CAST(row_number() OVER (ORDER BY cap ASC, source ASC)
        |      AS BIGINT) AS rn,
        |    CAST(COALESCE(SUM(cap) OVER (ORDER BY cap ASC, source ASC
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |      AS BIGINT) AS cum_before
        |  FROM s CROSS JOIN tot),
        |c AS (
        |  SELECT *,
        |    cap * (k - rn + 1) <= budget - cum_before AS capbound
        |  FROM r),
        |p AS (
        |  SELECT CAST(COUNT(*) AS BIGINT) AS p,
        |    CAST(COALESCE(SUM(cap), 0) AS BIGINT) AS cumcap
        |  FROM c WHERE capbound),
        |a AS (
        |  SELECT source, n_docs, cap, capbound,
        |    ROUND(CASE WHEN capbound THEN CAST(cap AS DOUBLE)
        |      ELSE CAST(budget - cumcap AS DOUBLE) / (k - p) END, 6)
        |      AS alloc
        |  FROM c CROSS JOIN p)
        |SELECT source, n_docs, cap, capbound, alloc,
        |  ROUND(alloc / n_docs, 6) AS epochs
        |FROM a ORDER BY source""".stripMargin,
    "text_token_count" ->
      s"""SELECT doc_id, len(${tokensSql("text")}) AS ws_tokens,
         |  len(regexp_extract_all(text, '[a-zA-Z]+|\\d|[^\\sa-zA-Z\\d]')) AS bpe_tokens
         |FROM documents ORDER BY doc_id""".stripMargin,
    "text_repetition" ->
      s"""WITH t AS (SELECT doc_id, ${tokensSql("text")} AS toks FROM documents),
         |b AS (
         |  SELECT doc_id, len(toks) AS n_tok, len(list_distinct(toks)) AS n_distinct,
         |    list_transform(range(len(toks) - 1), i -> toks[i+1] || ' ' || toks[i+2]) AS bgs
         |  FROM t),
         |bgc AS (
         |  SELECT doc_id, MAX(c) AS top_bigram_cnt FROM (
         |    SELECT doc_id, bg, COUNT(*) AS c
         |    FROM (SELECT doc_id, unnest(bgs) AS bg FROM b)
         |    GROUP BY doc_id, bg)
         |  GROUP BY doc_id)
         |SELECT b.doc_id, n_tok,
         |  ROUND(1.0 - CAST(n_distinct AS DOUBLE) / n_tok, 6) AS dup_token_ratio,
         |  CASE WHEN n_tok >= 2
         |       THEN ROUND(CAST(top_bigram_cnt AS DOUBLE) / (n_tok - 1), 6)
         |       ELSE 0.0 END AS top_bigram_ratio
         |FROM b LEFT JOIN bgc ON b.doc_id = bgc.doc_id
         |WHERE n_tok >= 1
         |ORDER BY b.doc_id""".stripMargin,
    "text_bm25_topk" ->
      s"""WITH t AS (SELECT doc_id, ${tokensSql("text")} AS toks FROM documents),
         |$bm25StatsSql,
         |tf AS (
         |  SELECT doc_id, word, COUNT(*) AS tf FROM (
         |    SELECT doc_id, unnest(toks) AS word FROM t)
         |  WHERE word IN ('spark', 'table', 'merge')
         |  GROUP BY doc_id, word)
         |SELECT doc_id, ROUND(SUM(w), 6) AS bm25 FROM (${bm25WeightsSql("tf")})
         |GROUP BY doc_id ORDER BY bm25 DESC, doc_id ASC LIMIT 15""".stripMargin,
    // Deliberately UNPRUNED: scoring every matching doc exhaustively is
    // the ground truth that certifies the engine's MaxScore pruning
    // lossless (micro-integer weights make the equality exact).
    "retrieval_maxscore_topk" ->
      s"""WITH t AS (SELECT doc_id, ${tokensSql("text")} AS toks FROM documents),
         |$bm25StatsSql,
         |tf AS (
         |  SELECT doc_id, word, COUNT(*) AS tf FROM (
         |    SELECT doc_id, unnest(toks) AS word FROM t)
         |  WHERE word IN ('spark', 'table', 'merge', 'model', 'stream')
         |  GROUP BY doc_id, word),
         |s AS (
         |  SELECT doc_id, CAST(SUM(wm) AS BIGINT) AS score
         |  FROM (${bm25WeightsSql("tf")})
         |  GROUP BY doc_id ORDER BY score DESC, doc_id ASC LIMIT 15)
         |SELECT row_number() OVER (ORDER BY score DESC, doc_id ASC) AS rank,
         |  doc_id, score
         |FROM s ORDER BY rank""".stripMargin,
    "text_lm_score" ->
      s"""WITH t AS (SELECT doc_id, ${tokensSql("text")} AS toks FROM documents),
         |db AS (
         |  SELECT doc_id,
         |    unnest(list_transform(range(len(toks) - 1),
         |      i -> toks[i+1] || ' ' || toks[i+2])) AS bg
         |  FROM t),
         |uni AS (SELECT w, COUNT(*) AS cu FROM (
         |  SELECT unnest(toks) AS w FROM t) GROUP BY w),
         |bgc AS (SELECT bg, COUNT(*) AS cb FROM db GROUP BY bg)
         |SELECT doc_id, COUNT(*) AS n_bigrams,
         |  ROUND(AVG(ln(CAST(cb AS DOUBLE) / cu)), 6) AS avg_logprob
         |FROM db JOIN bgc USING (bg)
         |JOIN uni ON split_part(bg, ' ', 1) = uni.w
         |GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    "text_bm25_eval" ->
      s"""WITH t AS (SELECT doc_id, ${tokensSql("text")} AS toks FROM documents),
         |qd AS (${DedupOps.hashSampleSql("doc_id AS qdoc", "documents", "doc_id")}),
         |$queryTermsSql,
         |$bm25StatsSql,
         |tf AS (
         |  SELECT doc_id, word, COUNT(*) AS tf FROM (
         |    SELECT doc_id, unnest(toks) AS word FROM t)
         |  WHERE word IN (SELECT word FROM qterms) GROUP BY 1, 2),
         |sc AS (
         |  SELECT q.qdoc, w.doc_id, CAST(SUM(w.wm) AS BIGINT) AS score
         |  FROM (${bm25WeightsSql("tf")}) w JOIN qterms q ON w.word = q.word
         |  GROUP BY 1, 2)
         |SELECT query_doc, self_rank,
         |  ROUND(1.0 / self_rank, 6) AS reciprocal_rank
         |FROM (
         |  SELECT qdoc AS query_doc, doc_id,
         |    row_number() OVER (PARTITION BY qdoc
         |      ORDER BY score DESC, doc_id ASC) AS self_rank
         |  FROM sc)
         |WHERE doc_id = query_doc ORDER BY query_doc""".stripMargin,
    // Two full weighted-BM25 passes: s1 scores the original 3-term
    // queries, fb is each query's top-10 feedback set, ec/exq mine the
    // 2 expansion terms, s2 re-scores the 5-term expanded query at
    // integer weights 2·orig + 1·exp.
    "retrieval_prf_expansion" ->
      s"""WITH t AS (SELECT doc_id, ${tokensSql("text")} AS toks FROM documents),
         |qd AS (${DedupOps.hashSampleSql("doc_id AS qdoc", "documents", "doc_id")}),
         |$queryTermsSql,
         |$bm25StatsSql,
         |qw AS (SELECT qdoc, word, 1 AS wt FROM qterms),
         |${bm25ScoresSql("s1", "qw")},
         |fb AS (
         |  SELECT qdoc, doc_id
         |  FROM (${topKSql("s1", Seq("qdoc"), Seq("score DESC", "doc_id ASC"), 10, None)})),
         |tok AS (SELECT doc_id, unnest(toks) AS word FROM t),
         |ec AS (
         |  SELECT fb.qdoc, tok.word, COUNT(*) AS ftf
         |  FROM tok JOIN fb ON tok.doc_id = fb.doc_id
         |  WHERE ${isQueryTermSql("tok.word")}
         |    AND NOT EXISTS (SELECT 1 FROM qterms q
         |      WHERE q.qdoc = fb.qdoc AND q.word = tok.word)
         |  GROUP BY 1, 2),
         |exq AS (
         |  SELECT qdoc, word
         |  FROM (${topKSql("ec", Seq("qdoc"), Seq("ftf DESC", "word ASC"), 2, None)})),
         |allt AS (
         |  SELECT qdoc, word, 2 AS wt FROM qterms
         |  UNION ALL SELECT qdoc, word, 1 AS wt FROM exq),
         |${bm25ScoresSql("s2", "allt")},
         |es AS (
         |  SELECT qdoc, string_agg(word, ' ' ORDER BY word)
         |    AS expansion_terms
         |  FROM exq GROUP BY qdoc)
         |SELECT r.qdoc AS query_doc, r.rank, r.doc_id, r.score,
         |  COALESCE(es.expansion_terms, '') AS expansion_terms
         |FROM (${topKSql("s2", Seq("qdoc"), Seq("score DESC", "doc_id ASC"), 5, Some("rank"))}) r
         |LEFT JOIN es ON r.qdoc = es.qdoc
         |ORDER BY query_doc, rank""".stripMargin,
    "text_nb_classifier" ->
      s"""WITH $nbScoredCtes
         |SELECT true_lang, pred_cand AS pred_lang, COUNT(*) AS n_docs
         |FROM (${topKSql("sc", Seq("doc_id"), Seq("score DESC", "pred_cand ASC"), 1, None)})
         |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    // The softmax replay mirrors the engine's max-shift nano-integer
    // quantization exactly.
    "ml_calibration_bins" ->
      s"""WITH $calibPredSql,
         |pz AS (
         |  SELECT CASE WHEN pr.true_lang = pr.pred_cand THEN 1 ELSE 0 END
         |      AS ok,
         |    LEAST(CAST(FLOOR((1e9 / dn) * 10) AS BIGINT) + 1, 10) AS bin,
         |    ${qroundLongSql("(1e9 / dn) * 1e6")} AS confm
         |  FROM pr JOIN den ON pr.doc_id = den.doc_id),
         |bins AS (
         |  SELECT bin, CAST(COUNT(*) AS BIGINT) AS n_docs,
         |    CAST(SUM(confm) AS BIGINT) AS sconf,
         |    CAST(SUM(ok) AS BIGINT) AS n_correct
         |  FROM pz GROUP BY 1),
         |ec AS (
         |  SELECT ROUND(SUM(ABS(n_correct * 1000000 - sconf))
         |    / (1e6 * SUM(n_docs)), 6) AS ece
         |  FROM bins)
         |SELECT bin, n_docs,
         |  ROUND(CAST(sconf AS DOUBLE) / (n_docs * 1000000), 6) AS avg_conf,
         |  ROUND(CAST(n_correct AS DOUBLE) / n_docs, 6) AS accuracy,
         |  n_correct, ece
         |FROM bins CROSS JOIN ec ORDER BY bin""".stripMargin,
    // Same bins CTEs as ml_calibration_bins; the minimax PAV tail runs
    // on the fixed 10-bin frame.
    "ml_isotonic_calibration" ->
      s"""WITH $calibPredSql,
         |pz AS (
         |  SELECT CASE WHEN pr.true_lang = pr.pred_cand THEN 1 ELSE 0 END
         |      AS ok,
         |    LEAST(CAST(FLOOR((1e9 / dn) * 10) AS BIGINT) + 1, 10) AS bin
         |  FROM pr JOIN den ON pr.doc_id = den.doc_id),
         |bins AS (
         |  SELECT bin, CAST(COUNT(*) AS BIGINT) AS n_docs,
         |    CAST(SUM(ok) AS BIGINT) AS n_correct
         |  FROM pz GROUP BY 1),
         |pre AS (
         |  SELECT *,
         |    CAST(SUM(n_docs) OVER w AS BIGINT) AS cn,
         |    CAST(SUM(n_correct) OVER w AS BIGINT) AS cc
         |  FROM bins
         |  WINDOW w AS (ORDER BY bin
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
         |iv AS (
         |  SELECT l.bin AS j, r.bin AS k,
         |    CAST(r.cc - (l.cc - l.n_correct) AS DOUBLE)
         |      / CAST(r.cn - (l.cn - l.n_docs) AS DOUBLE) AS m
         |  FROM pre l JOIN pre r ON l.bin <= r.bin),
         |mn AS (
         |  SELECT b.bin AS i, b.n_docs, b.n_correct, iv.j,
         |    MIN(iv.m) AS mn
         |  FROM bins b JOIN iv ON iv.j <= b.bin AND iv.k >= b.bin
         |  GROUP BY 1, 2, 3, 4)
         |SELECT i AS bin, n_docs,
         |  ROUND(CAST(n_correct AS DOUBLE) / n_docs, 6) AS acc_raw,
         |  ROUND(MAX(mn), 6) AS iso_prob
         |FROM mn GROUP BY i, n_docs, n_correct
         |ORDER BY bin""".stripMargin,
    "ml_conformal_split" ->
      s"""WITH $nbScoredCtes,
         |mx AS (SELECT doc_id, MAX(score) AS smax FROM sc GROUP BY 1),
         |soft AS (
         |  SELECT sc.doc_id, sc.true_lang, sc.pred_cand,
         |    ${qroundLongSql("""exp(CAST(sc.score - mx.smax AS DOUBLE) / 1e6)
         |      * 1e9""")} AS nano
         |  FROM sc JOIN mx ON sc.doc_id = mx.doc_id),
         |den AS (
         |  SELECT doc_id, CAST(SUM(nano) AS BIGINT) AS dn
         |  FROM soft GROUP BY 1),
         |sco AS (
         |  SELECT soft.doc_id, soft.true_lang, soft.pred_cand,
         |    ${qroundLongSql("(1.0 - CAST(nano AS DOUBLE) / dn) * 1e6")} AS alpha_m,
         |    ${graft.ops.DedupOps.polyHashSql("CAST(soft.doc_id AS VARCHAR)")}
         |      % 10 AS split
         |  FROM soft JOIN den ON soft.doc_id = den.doc_id),
         |cal AS (SELECT alpha_m FROM sco
         |  WHERE split = 8 AND pred_cand = true_lang),
         |cbins AS (SELECT alpha_m, COUNT(*) AS cb FROM cal GROUP BY 1),
         |ccum AS (SELECT alpha_m, SUM(cb) OVER (ORDER BY alpha_m
         |  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
         |  FROM cbins),
         |ncal AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_cal FROM cal),
         |lv(alpha, knum, kden) AS (VALUES
         |  (CAST(0.1 AS DOUBLE), 9, 10), (CAST(0.2 AS DOUBLE), 4, 5)),
         |kq AS (SELECT alpha, n_cal,
         |    ((n_cal + 1) * knum + kden - 1) // kden AS k
         |  FROM lv CROSS JOIN ncal),
         |qh AS (SELECT kq.alpha, kq.n_cal, kq.k,
         |    COALESCE(MIN(ccum.alpha_m), 1000000) AS qhat_m
         |  FROM kq LEFT JOIN ccum ON ccum.cum >= kq.k GROUP BY 1, 2, 3),
         |ev AS (SELECT doc_id, true_lang, pred_cand, alpha_m
         |  FROM sco WHERE split = 9),
         |pd AS (
         |  SELECT qh.alpha, qh.n_cal, qh.k, qh.qhat_m, ev.doc_id,
         |    CAST(SUM(CASE WHEN ev.alpha_m <= qh.qhat_m THEN 1 ELSE 0 END)
         |      AS BIGINT) AS set_size,
         |    MAX(CASE WHEN ev.pred_cand = ev.true_lang
         |      AND ev.alpha_m <= qh.qhat_m THEN 1 ELSE 0 END) AS covered
         |  FROM ev CROSS JOIN qh GROUP BY 1, 2, 3, 4, 5)
         |SELECT alpha, n_cal, k,
         |  ROUND(CAST(qhat_m AS DOUBLE) / 1e6, 6) AS qhat,
         |  CAST(COUNT(*) AS BIGINT) AS n_eval,
         |  ROUND(CAST(SUM(set_size) AS BIGINT)
         |    / CAST(COUNT(*) AS DOUBLE), 6) AS avg_set_size,
         |  ROUND(CAST(SUM(covered) AS BIGINT)
         |    / CAST(COUNT(*) AS DOUBLE), 6) AS coverage
         |FROM pd GROUP BY alpha, n_cal, k, qhat_m
         |ORDER BY alpha""".stripMargin,
    "corpus_doremi_weights" ->
      s"""WITH t AS (SELECT doc_id, ${tokensSql("text")} AS toks FROM documents),
         |db AS (
         |  SELECT doc_id,
         |    unnest(list_transform(range(len(toks) - 1),
         |      i -> toks[i+1] || ' ' || toks[i+2])) AS bg
         |  FROM t),
         |uni AS (SELECT w, COUNT(*) AS cu FROM (
         |  SELECT unnest(toks) AS w FROM t) GROUP BY w),
         |bgc AS (SELECT bg, COUNT(*) AS cb FROM db GROUP BY bg),
         |pd AS (
         |  SELECT doc_id,
         |    ROUND(AVG(ln(CAST(cb AS DOUBLE) / cu)), 6) AS avg_logprob
         |  FROM db JOIN bgc USING (bg)
         |  JOIN uni ON split_part(bg, ' ', 1) = uni.w
         |  GROUP BY doc_id),
         |pm AS (
         |  SELECT d.source,
         |    ${qroundLongSql("pd.avg_logprob * -1000000.0")} AS nllm
         |  FROM pd JOIN documents d ON pd.doc_id = d.doc_id),
         |bs AS (
         |  SELECT source, COUNT(*) AS n_docs, CAST(SUM(nllm) AS BIGINT) AS snll
         |  FROM pm GROUP BY 1),
         |ref AS (
         |  SELECT CAST(SUM(snll) AS BIGINT) AS tsnll,
         |    CAST(SUM(n_docs) AS BIGINT) AS tn
         |  FROM bs),
         |w AS (
         |  SELECT source, n_docs, tn,
         |    CAST(snll AS DOUBLE) / n_docs / 1000000.0 AS mean_nll,
         |    GREATEST(0.0, CAST(snll AS DOUBLE) / n_docs / 1000000.0
         |      - CAST(tsnll AS DOUBLE) / tn / 1000000.0) AS excess
         |  FROM bs CROSS JOIN ref),
         |w2 AS (
         |  SELECT source, n_docs, mean_nll, excess,
         |    ${qroundLongSql("""(CAST(n_docs AS DOUBLE) / tn) * exp(1.0 * excess)
         |      * 1000000.0""")} AS wm
         |  FROM w)
         |SELECT source, n_docs,
         |  ROUND(mean_nll, 6) AS mean_nll,
         |  ROUND(excess, 6) AS excess,
         |  ROUND(CAST(wm AS DOUBLE) / CAST((SELECT SUM(wm) FROM w2) AS DOUBLE), 6)
         |    AS doremi_weight,
         |  (wm * 1000) // (SELECT MAX(wm) FROM w2) AS rate_permille
         |FROM w2 ORDER BY source""".stripMargin,
    "u_phrase_bigrams" ->
      s"""WITH t AS (SELECT doc_id, ${tokensSql("text")} AS toks FROM documents),
         |db AS (
         |  SELECT unnest(list_transform(range(len(toks) - 1),
         |    i -> toks[i+1] || ' ' || toks[i+2])) AS bg
         |  FROM t),
         |bgc AS (SELECT bg, COUNT(*) AS cab FROM db GROUP BY bg HAVING COUNT(*) > 5),
         |uni AS (SELECT w, COUNT(*) AS c FROM (
         |  SELECT unnest(toks) AS w FROM t) GROUP BY w),
         |v AS (SELECT COUNT(*) AS v FROM uni)
         |SELECT split_part(bg, ' ', 1) AS w1, split_part(bg, ' ', -1) AS w2, cab,
         |  ROUND(CAST((cab - 5) * v.v AS DOUBLE) /
         |        CAST(c1.c * c2.c AS DOUBLE), 6) AS score
         |FROM bgc CROSS JOIN v
         |JOIN uni c1 ON split_part(bg, ' ', 1) = c1.w
         |JOIN uni c2 ON split_part(bg, ' ', -1) = c2.w
         |ORDER BY score DESC, w1 ASC, w2 ASC LIMIT 20""".stripMargin,
    "split_train_test" ->
      s"""SELECT ${DedupOps.splitSql("doc_id")} AS split,
         |  COUNT(*) AS n_docs, ROUND(AVG(n_chars), 6) AS avg_chars
         |FROM documents GROUP BY 1 ORDER BY split""".stripMargin,
    "stratified_sample" ->
      s"""SELECT lang, COUNT(*) AS n_sampled FROM documents
         |WHERE ${graft.ops.DedupOps.polyHashSql("CAST(doc_id AS VARCHAR)")} % 10 < 2
         |GROUP BY lang ORDER BY lang""".stripMargin,
    "text_kn_bigram" ->
      s"""WITH dzk AS MATERIALIZED (
         |  SELECT doc_id, ${tokensSql("text")} AS t,
         |    ${graft.ops.DedupOps.polyHashSql("CAST(doc_id AS VARCHAR)")}
         |      % 10 AS bucket
         |  FROM documents),
         |trk AS (SELECT t FROM dzk WHERE bucket < 8),
         |bik AS (
         |  SELECT split_part(bg, ' ', 1) AS w1, split_part(bg, ' ', 2) AS w2,
         |    COUNT(*) AS cb
         |  FROM (SELECT unnest(list_transform(range(len(t) - 1),
         |    i -> t[i+1] || ' ' || t[i+2])) AS bg FROM trk)
         |  GROUP BY 1, 2),
         |histk AS (
         |  SELECT w1, CAST(SUM(cb) AS BIGINT) AS ch, COUNT(*) AS n1f
         |  FROM bik GROUP BY 1),
         |contk AS (SELECT w2, COUNT(*) AS n1b FROM bik GROUP BY 1),
         |stk AS (SELECT COUNT(*) AS nbt FROM bik),
         |vzk AS (SELECT COUNT(DISTINCT w) AS v FROM (
         |  SELECT unnest(t) AS w FROM trk)),
         |tek AS (
         |  SELECT doc_id, split_part(bg, ' ', 1) AS w1,
         |    split_part(bg, ' ', 2) AS w2
         |  FROM (SELECT doc_id, unnest(list_transform(range(len(t) - 1),
         |    i -> t[i+1] || ' ' || t[i+2])) AS bg
         |    FROM dzk WHERE bucket = 9)),
         |sck AS (
         |  SELECT tek.doc_id,
         |    ${qroundLongSql("""-ln(
         |      CASE WHEN histk.ch IS NOT NULL THEN
         |        GREATEST(CAST(COALESCE(bik.cb, 0) AS DOUBLE) - 0.75, 0.0)
         |          / histk.ch
         |        + (0.75 * CAST(histk.n1f AS DOUBLE) / histk.ch)
         |          * (CAST(COALESCE(contk.n1b, 0) + 1 AS DOUBLE)
         |             / CAST(stk.nbt + vzk.v AS DOUBLE))
         |      ELSE CAST(COALESCE(contk.n1b, 0) + 1 AS DOUBLE)
         |        / CAST(stk.nbt + vzk.v AS DOUBLE) END) * 1e6""")} AS nllm
         |  FROM tek
         |  LEFT JOIN bik ON tek.w1 = bik.w1 AND tek.w2 = bik.w2
         |  LEFT JOIN histk ON tek.w1 = histk.w1
         |  LEFT JOIN contk ON tek.w2 = contk.w2
         |  CROSS JOIN stk CROSS JOIN vzk)
         |SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_bigrams,
         |  ROUND(CAST(SUM(nllm) AS BIGINT) / 1e6 / COUNT(*), 6) AS kn_nll,
         |  ROUND(exp(CAST(SUM(nllm) AS BIGINT) / 1e6 / COUNT(*)), 6)
         |    AS kn_ppl
         |FROM sck GROUP BY 1 ORDER BY 1""".stripMargin,
    "text_lm_backoff" ->
      s"""WITH d AS MATERIALIZED (
         |  SELECT doc_id, ${tokensSql("text")} AS toks,
         |    ${graft.ops.DedupOps.polyHashSql("CAST(doc_id AS VARCHAR)")} % 10 AS bucket
         |  FROM documents),
         |uni AS (SELECT w, COUNT(*) AS cu FROM (
         |  SELECT unnest(toks) AS w FROM d WHERE bucket < 8) GROUP BY 1),
         |n AS (SELECT SUM(len(toks)) AS n FROM d WHERE bucket < 8),
         |bi AS (SELECT bg, COUNT(*) AS cb FROM (
         |  SELECT unnest(list_transform(range(len(toks) - 1),
         |    i -> toks[i+1] || ' ' || toks[i+2])) AS bg
         |  FROM d WHERE bucket < 8) GROUP BY 1),
         |tri AS (SELECT tg, COUNT(*) AS ct FROM (
         |  SELECT unnest(list_transform(range(len(toks) - 2),
         |    i -> toks[i+1] || ' ' || toks[i+2] || ' ' || toks[i+3])) AS tg
         |  FROM d WHERE bucket < 8) GROUP BY 1),
         |test AS (
         |  SELECT doc_id, g.w1, g.w2, g.w3 FROM (
         |    SELECT doc_id, unnest(list_transform(range(len(toks) - 2),
         |      i -> {'w1': toks[i+1], 'w2': toks[i+2], 'w3': toks[i+3]})) AS g
         |    FROM d WHERE bucket = 9)),
         |sc AS (
         |  SELECT doc_id,
         |    CASE WHEN ct IS NOT NULL THEN CAST(ct AS DOUBLE) / c12
         |         WHEN c23 IS NOT NULL THEN CAST(0.4 AS DOUBLE) * c23 / c2
         |         ELSE CAST(0.4 AS DOUBLE) * CAST(0.4 AS DOUBLE) *
         |              COALESCE(c3, 1) / (SELECT CAST(n AS DOUBLE) FROM n)
         |    END AS sc
         |  FROM test
         |  LEFT JOIN tri ON w1 || ' ' || w2 || ' ' || w3 = tri.tg
         |  LEFT JOIN (SELECT bg, cb AS c12 FROM bi) b12 ON w1 || ' ' || w2 = b12.bg
         |  LEFT JOIN (SELECT bg, cb AS c23 FROM bi) b23 ON w2 || ' ' || w3 = b23.bg
         |  LEFT JOIN (SELECT w, cu AS c2 FROM uni) u2 ON w2 = u2.w
         |  LEFT JOIN (SELECT w, cu AS c3 FROM uni) u3 ON w3 = u3.w)
         |SELECT doc_id, COUNT(*) AS n_trigrams,
         |  ROUND(AVG(log10(sc)), 6) AS avg_logscore
         |FROM sc GROUP BY 1 ORDER BY 1""".stripMargin,
    "text_bpe_merges" -> {
      val union = (1 to BpeRounds)
        .map(i => s"SELECT round, pair, cnt FROM b$i").mkString(" UNION ALL ")
      s"""WITH $bpeCtesSql
         |$union ORDER BY round""".stripMargin
    },
    "text_unigram_train" -> ugTrainSql,
    // the artifact round-trip must reproduce the model table exactly —
    // one oracle serves both (the lda_em_save_load pattern)
    "text_unigram_save_load" -> ugTrainSql,
    "text_unigram_encode" ->
      s"""WITH ${ugCtesSql(UgEmRounds + 1)}
         |SELECT word, freq, n_pieces, seg FROM (${topKSql(
           s"""(SELECT word, freq, len(string_split(trim(seg), ' ')) AS n_pieces,
              |    trim(seg) AS seg
              |  FROM ugfin${UgEmRounds + 1} WHERE len(word) >= $UgEncodeMinLen)""".stripMargin,
           Nil, Seq("freq DESC", "word ASC"), UgEncodeTopN, None)})
         |ORDER BY word""".stripMargin,
    "text_bpe_encode" -> {
      // the encoder covers EVERY distinct word (the freq>=2 guard prunes
      // the TRAINING table only), so the merges replay here as nested
      // literal replaces over an all-words table — the same fold the
      // Spark encoder runs
      val encSeq = (1 to BpeRounds).foldLeft(
        "' ' || array_to_string(string_split(word, ''), ' ') || ' </w> '") {
        (acc, i) =>
          s"""replace($acc,
             |  ' ' || (SELECT pair FROM b$i) || ' ',
             |  ' ' || replace((SELECT pair FROM b$i), ' ', '') || ' ')""".stripMargin
      }
      s"""WITH $bpeCtesSql,
         |aw AS (SELECT DISTINCT unnest(${tokensSql("text")}) AS word FROM documents),
         |enc AS (
         |  SELECT word, len(list_filter(string_split($encSeq, ' '),
         |    t -> len(t) > 0)) AS n_sub
         |  FROM aw),
         |tok AS (SELECT source, unnest(${tokensSql("text")}) AS w FROM documents)
         |SELECT source, COUNT(*) AS n_words,
         |  CAST(SUM(n_sub) AS BIGINT) AS n_bpe_tokens,
         |  ROUND(CAST(SUM(len(w)) AS DOUBLE) / SUM(n_sub), 6) AS chars_per_token
         |FROM tok JOIN enc ON tok.w = enc.word
         |GROUP BY 1 ORDER BY 1""".stripMargin
    },
    "text_tokenizer_compare" -> {
      val encSeq = (1 to BpeRounds).foldLeft(
        "' ' || array_to_string(string_split(word, ''), ' ') || ' </w> '") {
        (acc, i) =>
          s"""replace($acc,
             |  ' ' || (SELECT pair FROM b$i) || ' ',
             |  ' ' || replace((SELECT pair FROM b$i), ' ', '') || ' ')""".stripMargin
      }
      s"""WITH ${ugCtesSql(UgEmRounds + 1)},
         |ugseg AS (
         |  SELECT word, len(string_split(trim(seg), ' ')) AS n_ug
         |  FROM ugfin${UgEmRounds + 1}),
         |$bpeCtesSql,
         |enc AS (
         |  SELECT word, len(list_filter(string_split($encSeq, ' '),
         |    t -> len(t) > 0)) AS n_bpe
         |  FROM (SELECT word FROM ugw)),
         |tok AS (SELECT source, unnest(${tokensSql("text")}) AS word FROM documents)
         |SELECT source, COUNT(*) AS n_words,
         |  CAST(SUM(enc.n_bpe) AS BIGINT) AS bpe_tokens,
         |  CAST(SUM(ugseg.n_ug) AS BIGINT) AS unigram_tokens,
         |  ROUND(CAST(SUM(len(tok.word)) AS DOUBLE) / SUM(enc.n_bpe), 6)
         |    AS bpe_chars_per_token,
         |  ROUND(CAST(SUM(len(tok.word)) AS DOUBLE) / SUM(ugseg.n_ug), 6)
         |    AS ug_chars_per_token
         |FROM tok JOIN ugseg ON tok.word = ugseg.word
         |JOIN enc ON tok.word = enc.word
         |GROUP BY 1 ORDER BY 1""".stripMargin
    },
    "a_countmin_probe" ->
      s"""WITH t AS (SELECT doc_id, ${tokensSql("text")} AS toks FROM documents),
         |db AS (
         |  SELECT unnest(list_transform(range(len(toks) - 1),
         |    i -> toks[i+1] || ' ' || toks[i+2])) AS bg
         |  FROM t),
         |bgc AS (SELECT bg, COUNT(*) AS cnt FROM db GROUP BY bg),
         |hs AS (SELECT bg, cnt, ${graft.ops.DedupOps.polyHashSql("bg")} AS h FROM bgc),
         |params(r, a, b) AS (VALUES (0, 131, 17), (1, 137, 1009),
         |                          (2, 139, 65537), (3, 149, 999983)),
         |cells AS (
         |  SELECT r, ((h * a + b) % 1000000007) % 64 AS col,
         |    CAST(SUM(cnt) AS BIGINT) AS cell
         |  FROM hs CROSS JOIN params GROUP BY 1, 2),
         |probes AS (SELECT bg, cnt, h FROM hs ORDER BY cnt DESC, bg ASC LIMIT 30)
         |SELECT probes.bg, probes.cnt AS true_cnt, MIN(cell) AS est_cnt
         |FROM probes CROSS JOIN params
         |JOIN cells ON cells.r = params.r
         |  AND cells.col = ((probes.h * params.a + params.b) % 1000000007) % 64
         |GROUP BY 1, 2 ORDER BY true_cnt DESC, bg ASC""".stripMargin,
    "a_heavy_hitters" ->
      s"""WITH tok AS (SELECT unnest(${tokensSql("text")}) AS tok FROM documents)
         |SELECT tok, COUNT(*) AS cnt FROM tok
         |GROUP BY tok
         |HAVING COUNT(*) > (SELECT COUNT(*) FROM tok) / 200.0
         |ORDER BY cnt DESC, tok ASC""".stripMargin,
    "sample_group_hash_topk" ->
      s"""SELECT source, rank, doc_id FROM (${topKSql(
           s"""(SELECT source, doc_id,
              |    ${graft.ops.DedupOps.polyHashSql("CAST(doc_id AS VARCHAR)")} % 1000000 AS h
              |  FROM documents)""".stripMargin,
           Seq("source"), Seq("h ASC", "doc_id ASC"), 5, Some("rank"))})
         |ORDER BY source, rank""".stripMargin,
    "text_ccnet_buckets" ->
      s"""WITH t AS (SELECT doc_id, lang, ${tokensSql("text")} AS toks FROM documents),
         |db AS (
         |  SELECT doc_id, lang,
         |    unnest(list_transform(range(len(toks) - 1),
         |      i -> toks[i+1] || ' ' || toks[i+2])) AS bg
         |  FROM t),
         |uni AS (SELECT w, COUNT(*) AS cu FROM (
         |  SELECT unnest(toks) AS w FROM t) GROUP BY w),
         |bgc AS (SELECT bg, COUNT(*) AS cb FROM db GROUP BY bg),
         |sc AS (
         |  SELECT doc_id, lang, ROUND(AVG(ln(CAST(cb AS DOUBLE) / cu)), 6) AS avg_logprob
         |  FROM db JOIN bgc USING (bg)
         |  JOIN uni ON split_part(bg, ' ', 1) = uni.w
         |  GROUP BY doc_id, lang),
         |r AS (
         |  SELECT lang, avg_logprob,
         |    CASE CAST(FLOOR((row_number() OVER (PARTITION BY lang
         |        ORDER BY avg_logprob DESC, doc_id ASC) - 1) * 3
         |      / (COUNT(*) OVER (PARTITION BY lang))) AS INT)
         |      WHEN 0 THEN 'head' WHEN 1 THEN 'middle' ELSE 'tail' END AS bucket
         |  FROM sc)
         |SELECT lang, bucket, COUNT(*) AS n_docs,
         |  ROUND(MIN(avg_logprob), 6) AS min_logprob,
         |  ROUND(MAX(avg_logprob), 6) AS max_logprob
         |FROM r GROUP BY lang, bucket ORDER BY lang, bucket""".stripMargin,
    "text_dsir_weights" ->
      s"""WITH t AS (SELECT doc_id, lang, ${tokensSql("text")} AS toks FROM documents),
         |db AS (
         |  SELECT doc_id, lang,
         |    unnest(list_transform(range(len(toks) - 1),
         |      i -> toks[i+1] || ' ' || toks[i+2])) AS bg
         |  FROM t),
         |hb AS (SELECT doc_id, lang, ${graft.ops.DedupOps.polyHashSql("bg")} % 8192 AS b
         |  FROM db),
         |cnt AS (
         |  SELECT b, COUNT(*) AS cr,
         |    SUM(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS ct
         |  FROM hb GROUP BY b)
         |SELECT doc_id, COUNT(*) AS n_bigrams,
         |  ROUND(AVG(ln((ct + 1.0) / (cr + 1.0))), 6) AS dsir_weight
         |FROM hb JOIN cnt USING (b)
         |GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    "u1_pos_filter" ->
      s"""WITH t AS (SELECT unnest(${tokensSql("text")}) AS word FROM documents),
         |c AS (
         |  SELECT word,
         |    CASE WHEN word LIKE '%ly' THEN 'adverb'
         |         WHEN word LIKE '%ous' OR word LIKE '%ful'
         |           OR word LIKE '%ive' OR word LIKE '%al' THEN 'adjective'
         |         WHEN ${isStopwordSql("word")} THEN 'function'
         |         ELSE 'noun' END AS pos_class
         |  FROM t)
         |SELECT pos_class, COUNT(*) AS n_tokens,
         |  COUNT(DISTINCT word) AS n_distinct
         |FROM c WHERE pos_class IN ('noun', 'adjective', 'adverb')
         |GROUP BY pos_class ORDER BY pos_class""".stripMargin,
    "u2_lemma_pairs" ->
      s"""SELECT t AS word, $lemmaLiteSql AS lemma, COUNT(*) AS cnt FROM (
         |  SELECT unnest(flatten([tk,
         |    list_transform(tk, x -> x || 's'),
         |    list_transform(tk, x -> x || 'ing')])) AS t
         |  FROM (SELECT ${tokensSql("text")} AS tk FROM documents))
         |WHERE ($lemmaLiteSql) <> t
         |GROUP BY 1, 2 ORDER BY cnt DESC, word ASC LIMIT 50""".stripMargin,
    "pipeline_prep_docs" ->
      s"""WITH cleaned AS (
         |  SELECT doc_id, lang, ${cleanTextSql(noisySql)} AS ac FROM documents),
         |tokd AS (
         |  SELECT doc_id, lang,
         |    ${tokensSql("ac")} AS toks
         |  FROM cleaned)
         |SELECT doc_id, lang, len(toks) AS n_words,
         |  array_to_string(list_transform(toks, t -> $lemmaLiteSql), ' ')
         |    AS article_clean
         |FROM tokd WHERE len(toks) > 40 ORDER BY doc_id""".stripMargin,
    "text_fingerprint" ->
      s"""SELECT doc_id,
         |  list_reduce(
         |    list_prepend(CAST(0 AS BIGINT),
         |      list_transform(${tokensSql("text")}, t -> ${graft.ops.DedupOps.polyHashSql("t")})),
         |    (acc, x) -> (acc * 31 + x) % 1000000007) * 2147483648
         |  + list_reduce(
         |    list_prepend(CAST(0 AS BIGINT),
         |      list_transform(${tokensSql("text")}, t -> ${graft.ops.DedupOps.polyHashSql2("t")})),
         |    (acc, x) -> (acc * 37 + x) % 1000000009) AS fp
         |FROM documents ORDER BY doc_id""".stripMargin,
    "chunk_documents" ->
      s"""WITH t AS (SELECT doc_id, ${tokensSql("text")} AS tk FROM documents),
         |c AS (
         |  SELECT doc_id, tk, len(tk) AS n,
         |    unnest(generate_series(0, (len(tk) - 1) // 48)) AS chunk_id
         |  FROM t WHERE len(tk) >= 1)
         |SELECT doc_id, chunk_id, chunk_id * 48 + 1 AS start_tok,
         |  LEAST(64, n - chunk_id * 48) AS n_tok,
         |  ${graft.ops.DedupOps.wideHashSql(
        "array_to_string(tk[(chunk_id*48+1):(chunk_id*48 + LEAST(64, n - chunk_id*48))], ' ')")}
         |    AS fp
         |FROM c ORDER BY doc_id, chunk_id""".stripMargin,
    "text_ngram_novelty" ->
      s"""WITH t AS (SELECT doc_id, ${tokensSql("text")} AS tk FROM documents),
         |g AS (
         |  SELECT doc_id,
         |    ${graft.ops.DedupOps.wideHashSql(
               "array_to_string(tk[(i+1):(i+8)], ' ')")} AS g,
         |    ${graft.ops.DedupOps.polyHashSql(
               "CAST(doc_id AS VARCHAR)")} % 10 AS bucket
         |  FROM (SELECT doc_id, tk, unnest(range(len(tk) - 7)) AS i
         |        FROM t WHERE len(tk) >= 8)),
         |tg AS (SELECT DISTINCT g AS tgram FROM g WHERE bucket < 8)
         |SELECT doc_id, COUNT(*) AS n_grams,
         |  CAST(SUM(CASE WHEN tgram IS NULL THEN 1 ELSE 0 END) AS BIGINT)
         |    AS n_novel,
         |  ROUND(SUM(CASE WHEN tgram IS NULL THEN 1 ELSE 0 END) * 1.0
         |        / COUNT(*), 6) AS novelty
         |FROM g LEFT JOIN tg ON g.g = tg.tgram
         |WHERE bucket >= 8
         |GROUP BY 1 ORDER BY 1""".stripMargin,
    "sample_weighted_ares" ->
      s"""WITH base AS (
         |  SELECT source, doc_id, len(${tokensSql("text")}) AS w_tok FROM documents),
         |k AS (
         |  SELECT source, doc_id, w_tok,
         |    ROUND(-ln(${DedupOps.uniformSql(DedupOps.polyHashSql("CAST(doc_id AS VARCHAR)"))})
         |      / w_tok, 9) AS ekey
         |  FROM base WHERE w_tok >= 1),
         |r AS (${topKSql("k", Seq("source"), Seq("ekey ASC", "doc_id ASC"), 10, Some("pick"))})
         |SELECT source, pick, doc_id, w_tok, ekey
         |FROM r ORDER BY source, pick""".stripMargin,
    "corpus_mixture_sample" ->
      s"""WITH t AS (
         |  SELECT source, doc_id,
         |    100 + (COALESCE(TRY_CAST(regexp_extract(source, '(\\d+)', 1) AS BIGINT), 0) % 10) * 50
         |      AS rate_permille,
         |    CASE WHEN ${graft.ops.DedupOps.polyHashSql("CAST(doc_id AS VARCHAR)")} % 1000 <
         |      100 + (COALESCE(TRY_CAST(regexp_extract(source, '(\\d+)', 1) AS BIGINT), 0) % 10) * 50
         |      THEN 1 ELSE 0 END AS kept
         |  FROM documents)
         |SELECT source, rate_permille, COUNT(*) AS n_docs,
         |  CAST(SUM(kept) AS BIGINT) AS n_kept,
         |  ROUND(SUM(kept) * 1.0 / COUNT(*), 6) AS kept_ratio
         |FROM t GROUP BY 1, 2 ORDER BY source""".stripMargin,
    "corpus_temperature_resample" ->
      s"""WITH c AS (SELECT source, COUNT(*) AS n_docs FROM documents GROUP BY source),
         |r AS (
         |  SELECT source, n_docs,
         |    CAST(FLOOR(sqrt(CAST((SELECT MIN(n_docs) FROM c) AS DOUBLE) / n_docs)
         |      * 1000) AS BIGINT) AS rate_permille
         |  FROM c)
         |SELECT d.source, r.n_docs, r.rate_permille,
         |  CAST(SUM(CASE WHEN
         |    ${graft.ops.DedupOps.polyHashSql("CAST(doc_id AS VARCHAR)")} % 1000
         |      < rate_permille THEN 1 ELSE 0 END) AS BIGINT) AS n_kept
         |FROM documents d JOIN r ON d.source = r.source
         |GROUP BY 1, 2, 3 ORDER BY d.source""".stripMargin,
    "text_pii_redact" ->
      s"""WITH dec AS (
         |  SELECT doc_id,
         |    substr(text, 1, 40)
         |    || CASE WHEN doc_id % 2 = 0
         |         THEN ' contact user' || doc_id || '@mail.example.com'
         |         ELSE '' END
         |    || CASE WHEN doc_id % 3 = 0
         |         THEN ' call +1-555-' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
         |         ELSE '' END
         |    || ' from 10.' || (doc_id % 256) || '.0.7' AS txt
         |  FROM documents)
         |SELECT doc_id,
         |  len(regexp_extract_all(txt,
         |    '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}')) AS n_email,
         |  len(regexp_extract_all(txt, '\\+1-555-\\d{4}')) AS n_phone,
         |  len(regexp_extract_all(
         |    regexp_replace(txt, '\\+1-555-\\d{4}', '<PHONE>', 'g'),
         |    '\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b')) AS n_ip,
         |  regexp_replace(
         |    regexp_replace(
         |      regexp_replace(txt,
         |        '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
         |      '\\+1-555-\\d{4}', '<PHONE>', 'g'),
         |    '\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b', '<IP>', 'g') AS redacted
         |FROM dec ORDER BY doc_id""".stripMargin,
    "pack_sequences" ->
      s"""WITH t AS (
         |  SELECT doc_id, len(${tokensSql("text")}) AS tok, doc_id % 8 AS bucket
         |  FROM documents),
         |c AS (
         |  SELECT doc_id, tok, bucket,
         |    SUM(tok) OVER (PARTITION BY bucket ORDER BY doc_id) AS cum
         |  FROM t)
         |SELECT bucket, CAST((cum - tok) // 512 AS BIGINT) AS seq,
         |  COUNT(*) AS n_docs,
         |  CAST(SUM(tok) AS BIGINT) AS tokens,
         |  MIN(doc_id) AS first_doc,
         |  MAX(doc_id) AS last_doc
         |FROM c GROUP BY 1, 2 ORDER BY bucket, seq""".stripMargin,
    "pipeline_pretrain_corpus" ->
      s"""WITH ${DedupOps.plantedDupsSql},
         |gated AS (
         |  SELECT doc_id, text, len(${tokensSql("text")}) AS n_tok FROM all_docs
         |  WHERE len(${tokensSql("text")}) >= 30),
         |deduped AS (${topKSql("gated", Seq("md5(text)"), Seq("doc_id ASC"), 1, None)}),
         |sampled AS (
         |  SELECT doc_id, n_tok FROM deduped
         |  WHERE ${graft.ops.DedupOps.polyHashSql("CAST(doc_id AS VARCHAR)")} % 1000 < 800)
         |SELECT doc_id % 8 AS shard, COUNT(*) AS n_docs,
         |  CAST(SUM(n_tok) AS BIGINT) AS tokens,
         |  MIN(doc_id) AS first_doc, MAX(doc_id) AS last_doc
         |FROM sampled GROUP BY 1 ORDER BY shard""".stripMargin,
    "text_zipf_slope" ->
      s"""WITH f AS (
         |  SELECT word, CAST(COUNT(*) AS BIGINT) AS freq FROM (
         |    SELECT unnest(${tokensSql("text")}) AS word FROM documents)
         |  GROUP BY word),
         |rk AS (${topKSql("f", Nil, Seq("freq DESC", "word ASC"), 10000, Some("rank"))}),
         |q AS (
         |  SELECT rank, word, freq,
         |    ${qroundLongSql("ln(CAST(rank AS DOUBLE)) * 1e6")} AS xq,
         |    ${qroundLongSql("ln(CAST(freq AS DOUBLE)) * 1e6")} AS yq
         |  FROM rk),
         |g AS (
         |  SELECT CAST(COUNT(*) AS BIGINT) AS n,
         |    CAST(SUM(xq) AS BIGINT) AS sx, CAST(SUM(yq) AS BIGINT) AS sy,
         |    CAST(SUM(xq * yq) AS BIGINT) AS sxy,
         |    CAST(SUM(xq * xq) AS BIGINT) AS sxx
         |  FROM q),
         |-- mirror Spark: every factor goes long->double BEFORE the
         |-- multiply (the BIGINT product overflows at a 10k-point fit)
         |fit AS (
         |  SELECT
         |    ROUND(slope_raw, 6) AS zipf_slope,
         |    ROUND(exp((CAST(sy AS DOUBLE) / CAST(n AS DOUBLE)
         |      - slope_raw * (CAST(sx AS DOUBLE) / CAST(n AS DOUBLE)))
         |      / 1e6), 4) AS zipf_c
         |  FROM (SELECT n, sx, sy,
         |      (CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
         |        - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
         |      / (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
         |        - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)) AS slope_raw
         |    FROM g))
         |SELECT rank, word, freq, zipf_slope, zipf_c
         |FROM q CROSS JOIN fit WHERE rank <= 10
         |ORDER BY rank""".stripMargin,
    "text_boilerplate_strip" ->
      s"""WITH t AS (SELECT doc_id, ${tokensSql("text")} AS tk FROM documents),
         |tz AS (SELECT doc_id, tk, len(tk) AS n FROM t),
         |g AS (
         |  SELECT doc_id, n, i AS p,
         |    ${graft.ops.DedupOps.wideHashSql(
        "array_to_string(tk[(i+1):(i+8)], ' ')")} AS h
         |  FROM (SELECT doc_id, n, tk, unnest(range(n - 7)) AS i
         |        FROM tz WHERE n >= 8)),
         |fl AS (
         |  SELECT doc_id, n, p FROM (
         |    SELECT doc_id, n, p,
         |      MIN(doc_id) OVER (PARTITION BY h) AS mn,
         |      MAX(doc_id) OVER (PARTITION BY h) AS mx
         |    FROM g)
         |  WHERE mn <> mx),
         |il AS (
         |  SELECT doc_id, p,
         |    CASE WHEN lag(p) OVER w IS NULL OR p - lag(p) OVER w > 8
         |         THEN 1 ELSE 0 END AS brk
         |  FROM fl WINDOW w AS (PARTITION BY doc_id ORDER BY p)),
         |i2 AS (
         |  SELECT doc_id, p,
         |    SUM(brk) OVER (PARTITION BY doc_id ORDER BY p
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS isl
         |  FROM il),
         |cov AS (
         |  SELECT doc_id, CAST(SUM(c) AS BIGINT) AS boiler FROM (
         |    SELECT doc_id, isl, MAX(p) - MIN(p) + 8 AS c
         |    FROM i2 GROUP BY 1, 2)
         |  GROUP BY 1)
         |SELECT tz.doc_id AS doc_id, CAST(tz.n AS BIGINT) AS n_tokens,
         |  COALESCE(cov.boiler, 0) AS boiler_tokens,
         |  CAST(tz.n AS BIGINT) - COALESCE(cov.boiler, 0) AS kept_tokens,
         |  ROUND(COALESCE(cov.boiler, 0) * 1.0 / tz.n, 6) AS boiler_ratio
         |FROM tz LEFT JOIN cov ON tz.doc_id = cov.doc_id
         |ORDER BY tz.doc_id""".stripMargin,
    "text_heaps_law" ->
      s"""WITH t AS (SELECT doc_id, ${tokensSql("text")} AS toks FROM documents),
         |mx AS (SELECT MAX(doc_id) AS mx FROM t),
         |fw AS (
         |  SELECT word, MIN(doc_id) AS first_doc FROM (
         |    SELECT doc_id, unnest(toks) AS word FROM t)
         |  GROUP BY word),
         |vn AS (
         |  SELECT LEAST(GREATEST((first_doc * 10 + mx - 1) // mx, 1), 10)
         |      AS b,
         |    CAST(COUNT(*) AS BIGINT) AS v_new
         |  FROM fw CROSS JOIN mx GROUP BY 1),
         |nt AS (
         |  SELECT LEAST(GREATEST((doc_id * 10 + mx - 1) // mx, 1), 10) AS b,
         |    CAST(SUM(len(toks)) AS BIGINT) AS n_tok
         |  FROM t CROSS JOIN mx GROUP BY 1),
         |dom AS (SELECT unnest(range(1, 11)) AS b),
         |curve AS (
         |  SELECT dom.b AS decile,
         |    SUM(COALESCE(nt.n_tok, 0)) OVER (ORDER BY dom.b
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
         |      AS cum_tokens,
         |    SUM(COALESCE(vn.v_new, 0)) OVER (ORDER BY dom.b
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
         |      AS cum_vocab
         |  FROM dom LEFT JOIN vn ON dom.b = vn.b
         |  LEFT JOIN nt ON dom.b = nt.b),
         |q AS (
         |  SELECT decile, cum_tokens, cum_vocab,
         |    ${qroundLongSql("ln(cum_tokens) * 1e6")} AS xq,
         |    ${qroundLongSql("ln(cum_vocab) * 1e6")} AS yq
         |  FROM curve),
         |fit AS (
         |  SELECT CAST(COUNT(*) AS BIGINT) AS n,
         |    CAST(SUM(xq) AS BIGINT) AS sx, CAST(SUM(yq) AS BIGINT) AS sy,
         |    CAST(SUM(xq * yq) AS BIGINT) AS sxy,
         |    CAST(SUM(xq * xq) AS BIGINT) AS sxx
         |  FROM q),
         |f2 AS (
         |  SELECT
         |    ROUND(CAST(n * sxy - sx * sy AS DOUBLE)
         |      / CAST(n * sxx - sx * sx AS DOUBLE), 6) AS beta,
         |    ROUND(exp((CAST(sy AS DOUBLE) / n
         |      - (CAST(n * sxy - sx * sy AS DOUBLE)
         |         / CAST(n * sxx - sx * sx AS DOUBLE))
         |        * (CAST(sx AS DOUBLE) / n)) / 1e6), 6) AS heaps_k
         |  FROM fit)
         |SELECT decile, CAST(cum_tokens AS BIGINT) AS cum_tokens,
         |  CAST(cum_vocab AS BIGINT) AS cum_vocab, beta, heaps_k
         |FROM q CROSS JOIN f2 ORDER BY decile""".stripMargin,
    "corpus_stats_card" ->
      s"""WITH t AS (
         |  SELECT source, lang, text, len(${tokensSql("text")}) AS tok FROM documents)
         |SELECT source, lang,
         |  COUNT(*) AS n_docs,
         |  COUNT(DISTINCT md5(text)) AS n_unique,
         |  CAST(SUM(tok) AS BIGINT) AS tokens,
         |  CAST(SUM(len(text)) AS BIGINT) AS chars,
         |  ROUND(AVG(len(text)), 6) AS avg_chars,
         |  ROUND(1.0 - CAST(COUNT(DISTINCT md5(text)) AS DOUBLE) / COUNT(*), 6)
         |    AS dup_ratio
         |FROM t GROUP BY 1, 2 ORDER BY source, lang""".stripMargin,
    "text_oov_rate" ->
      s"""WITH v AS (
         |  SELECT word FROM (
         |    SELECT word, COUNT(*) AS df FROM (
         |      SELECT DISTINCT doc_id, unnest(${tokensSql("text")}) AS word
         |      FROM documents)
         |    GROUP BY word
         |    HAVING COUNT(*) >= 5
         |    ORDER BY df DESC, word ASC LIMIT 50000)),
         |tok AS (SELECT source, unnest(${tokensSql("text")}) AS word FROM documents)
         |SELECT source, n_tokens, n_oov,
         |  ROUND(n_oov / n_tokens, 6) AS oov_rate
         |FROM (
         |  SELECT tok.source, COUNT(*) AS n_tokens,
         |    CAST(SUM(CASE WHEN v.word IS NULL THEN 1 ELSE 0 END) AS BIGINT)
         |      AS n_oov
         |  FROM tok LEFT JOIN v ON tok.word = v.word
         |  GROUP BY 1)
         |ORDER BY source""".stripMargin,
    "text_char_entropy" ->
      s"""WITH t AS (
        |  SELECT doc_id,
        |    list_filter(string_split(lower(text), ''), c -> c <> '') AS chars
        |  FROM documents),
        |e AS (
        |  SELECT doc_id, len(chars) AS n,
        |    len(list_distinct(chars)) AS n_alphabet,
        |    CAST(list_reduce(list_prepend(CAST(0 AS BIGINT),
        |      list_transform(list_distinct(chars), c ->
        |        ${qroundLongSql("""-(len(list_filter(chars, x -> x = c)) / len(chars))
        |          * ln(len(list_filter(chars, x -> x = c)) / len(chars))
        |          * 1e9""")})),
        |      (a, b) -> a + b) AS BIGINT) AS ent_e9
        |  FROM t)
        |SELECT doc_id, CAST(n AS BIGINT) AS n_chars,
        |  CAST(n_alphabet AS BIGINT) AS n_alphabet, ent_e9,
        |  ROUND(ent_e9 / 1e9, 6) AS entropy
        |FROM e ORDER BY doc_id""".stripMargin,
    "corpus_curriculum_phases" ->
      s"""WITH $qualityCteSql,
         |r AS (
         |  SELECT doc_id, n_tok, quality,
         |    row_number() OVER (ORDER BY quality, doc_id) AS rn,
         |    COUNT(*) OVER () AS n
         |  FROM qq),
         |p AS (
         |  SELECT *, CAST(CASE WHEN rn <= (n % 4) * (n // 4 + 1)
         |    THEN (rn - 1) // (n // 4 + 1) + 1
         |    ELSE (n % 4) + (rn - (n % 4) * (n // 4 + 1) - 1)
         |         // GREATEST(n // 4, 1) + 1 END AS INT) AS phase
         |  FROM r)
         |SELECT phase, COUNT(*) AS n_docs, CAST(SUM(n_tok) AS BIGINT) AS tokens,
         |  ROUND(MIN(quality), 6) AS q_lo, ROUND(MAX(quality), 6) AS q_hi
         |FROM p GROUP BY 1 ORDER BY 1""".stripMargin,
    "text_keyword_tag" -> {
      val taxList = KeywordTaxonomy.map(t => s"'$t'").mkString("[", ", ", "]")
      s"""WITH t AS (SELECT doc_id, ${tokensSql("text")} AS toks FROM documents),
         |e AS (
         |  SELECT doc_id, tag,
         |    len(list_filter(toks, x -> x = tag)) AS hits
         |  FROM (
         |    SELECT doc_id, toks,
         |      unnest(list_distinct(list_intersect(toks, $taxList))) AS tag
         |    FROM t))
         |SELECT tag, COUNT(*) AS n_docs, CAST(SUM(hits) AS BIGINT) AS n_hits
         |FROM e GROUP BY 1 ORDER BY 1""".stripMargin
    },
    "text_drift_kl" ->
      s"""WITH tok AS (
         |  SELECT source, unnest(${tokensSql("text")}) AS word FROM documents),
         |sw AS (SELECT source, word, COUNT(*) AS c_sw FROM tok GROUP BY 1, 2),
         |st AS (
         |  SELECT source, CAST(SUM(c_sw) AS BIGINT) AS n_s
         |  FROM sw GROUP BY 1),
         |wt AS (
         |  SELECT word, CAST(SUM(c_sw) AS BIGINT) AS c_w FROM sw GROUP BY 1),
         |tt AS (SELECT CAST(SUM(c_w) AS BIGINT) AS n_all FROM wt),
         |terms AS (
         |  SELECT sw.source, st.n_s,
         |    ${qroundLongSql("""((c_sw / n_s) * ln((c_sw / n_s) / (c_w / n_all)))
         |      * 1e9""")} AS term_e9
         |  FROM sw
         |  JOIN st ON sw.source = st.source
         |  JOIN wt ON sw.word = wt.word
         |  CROSS JOIN tt)
         |SELECT source, MAX(n_s) AS n_tokens,
         |  CAST(COUNT(*) AS BIGINT) AS n_types,
         |  CAST(SUM(term_e9) AS BIGINT) AS kl_e9,
         |  ROUND(CAST(SUM(term_e9) AS BIGINT) / 1e9, 6) AS kl
         |FROM terms GROUP BY 1 ORDER BY 1""".stripMargin,

    // parity of the polynomial bigram hash, lag over positional unnest
    "text_watermark_greenlist" ->
      s"""WITH t AS (SELECT doc_id, ${tokensSql("text")} AS toks FROM documents),
         |p AS (
         |  SELECT doc_id, unnest(toks) AS tok,
         |    generate_subscripts(toks, 1) AS pos
         |  FROM t),
         |pr AS (
         |  SELECT doc_id, tok,
         |    lag(tok) OVER (PARTITION BY doc_id ORDER BY pos) AS prev
         |  FROM p),
         |g AS (
         |  SELECT doc_id,
         |    CASE WHEN ${graft.ops.DedupOps.polyHashSql(
               "prev || '#' || tok")} % 2 = 0
         |      THEN 1 ELSE 0 END AS green
         |  FROM pr WHERE prev IS NOT NULL),
         |agg AS (
         |  SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_scored,
         |    CAST(SUM(green) AS BIGINT) AS n_green
         |  FROM g GROUP BY 1)
         |SELECT doc_id, n_scored, n_green,
         |  ROUND((2.0 * n_green - n_scored) / sqrt(CAST(n_scored AS DOUBLE)),
         |    6) AS z,
         |  ROUND((2.0 * n_green - n_scored) / sqrt(CAST(n_scored AS DOUBLE)),
         |    6) >= 4.0 AS watermarked
         |FROM agg ORDER BY doc_id""".stripMargin,
  )
}
