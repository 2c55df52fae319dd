package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.ops.Ranking.{topK, topKSql}

/** The per-group top-k rule and its two alternate forms: `Ranking.topK`
  * (the window form every query uses) equals the row_number window and
  * the GroupTopK whole-operator plan on every input, the SQL twin writes
  * Spark's null order, the GroupTopK plan keeps its partial/final shape
  * with the exchange between, the partial exec bounds its per-partition
  * output (the property that makes the shuffle volume ∝ answer size), and
  * no second top-k copy appears under src/main.
  */
class GroupTopKSpec extends SparkSpec {
  import spark.implicits._

  private def docs =
    graft.ops.Tables.documents(spark, sf)
      .select($"source", $"lang", $"doc_id", $"n_chars")

  /** The three forms of one top-k, as sets of printed rows (GroupTopK has
    * no rank; printing keeps a NaN equal to itself).
    */
  private def threeForms(df: DataFrame, keys: Seq[String],
      order: Seq[(String, Boolean)], k: Int): (Set[String], Set[String], Set[String]) = {
    val cols = order.map { case (c, isDesc) => if (isDesc) desc(c) else asc(c) }
    def rows(f: DataFrame) = f.collect().map(_.toString).toSet
    val viaTopK = rows(topK(df, keys.map(col), cols, k, None))
    val viaExec = rows(graft.plans.GroupTopK.topK(df, keys, order, k))
    val w = Window.partitionBy(keys.map(col): _*).orderBy(cols: _*)
    val viaWindow = rows(df.withColumn("rn", row_number().over(w))
      .filter($"rn" <= k).drop("rn"))
    (viaTopK, viaExec, viaWindow)
  }

  test("topK and GroupTopK equal the row_number window form") {
    val (t, e, w) = threeForms(docs, Seq("source", "lang"),
      Seq(("n_chars", true), ("doc_id", false)), 3)
    assert(t == w && e == w && w.nonEmpty)
  }

  test("topK and GroupTopK agree on ties, oversized k, empty, null-key and null/NaN-order inputs") {
    withTempDir("topk-edges") { dir =>
      // g: group key (null is a group of its own); x: order key with
      // ties, nulls and NaN; id: the unique tie-break
      val rows = Seq[(String, java.lang.Double, Long)](
        ("a", 3.0, 1L), ("a", 3.0, 2L), ("a", 3.0, 3L), ("a", 1.0, 4L),
        ("b", null, 5L), ("b", Double.NaN, 6L), ("b", 2.0, 7L), ("b", null, 8L),
        (null, 5.0, 9L), (null, null, 10L), (null, Double.NaN, 11L),
        ("c", 0.0, 12L))
      rows.toDF("g", "x", "id").write.parquet(s"$dir/t.parquet")
      val t = spark.read.parquet(s"$dir/t.parquet")
      val empty = t.filter($"id" < 0)
      for {
        (df, nonEmpty) <- Seq(t -> true, empty -> false)
        xDesc <- Seq(true, false)
        k <- Seq(1, 2, 10)
      } {
        val (viaTopK, viaExec, viaWindow) =
          threeForms(df, Seq("g"), Seq(("x", xDesc), ("id", false)), k)
        val tag = s"x ${if (xDesc) "desc" else "asc"}, k = $k, nonEmpty = $nonEmpty"
        assert(viaTopK == viaWindow, tag)
        assert(viaExec == viaWindow, tag)
        assert(viaTopK.nonEmpty == nonEmpty, tag)
      }
      // ties on x break on id, a null key is one group, k past every
      // group keeps each whole
      val top2 = topK(t, Seq($"g"), Seq(desc("x"), asc("id")), 2, Some("r"))
        .select($"g", $"id", $"r").as[(String, Long, Int)].collect().toSet
      assert(top2 == Set(("a", 1L, 1), ("a", 2L, 2), ("b", 6L, 1), ("b", 7L, 2),
        (null, 11L, 1), (null, 9L, 2), ("c", 12L, 1)))
      assert(topK(t, Seq($"g"), Seq(asc("x"), asc("id")), 10, None).count() == rows.size)
    }
  }

  test("topKSql writes Spark's null order for both directions") {
    val sql = topKSql("t", Seq("g"), Seq("x DESC", "y ASC", "id"), 2, None)
    assert(sql.contains("x DESC NULLS LAST"), sql)
    assert(sql.contains("y ASC NULLS FIRST"), sql)
    assert(sql.contains("id ASC NULLS FIRST"), sql)
    assert(sql.contains("PARTITION BY g ORDER BY"), sql)
    assert(topKSql("t", Nil, Seq("x DESC"), 3, Some("r"))
      .contains("row_number() OVER (ORDER BY x DESC NULLS LAST) AS r"))
  }

  test("plan is partial GroupTopK -> exchange -> final GroupTopK, no sort") {
    val df = graft.plans.GroupTopK
      .topK(docs, Seq("source"), Seq(("n_chars", true), ("doc_id", false)), 2)
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("GroupTopK(partial)"), p)
    assert(p.contains("GroupTopK(final)"), p)
    val between = p.substring(p.indexOf("GroupTopK(final)"),
      p.indexOf("GroupTopK(partial)"))
    assert(between.contains("Exchange hashpartitioning(source"), p)
    assert(!p.contains("Sort "), p)
  }

  test("final output has exactly min(k, group size) rows per group") {
    val k = 2
    val res = graft.plans.GroupTopK
      .topK(docs, Seq("source"), Seq(("n_chars", true), ("doc_id", false)), k)
      .groupBy($"source").agg(count(lit(1)).as("n"))
    val sizes = docs.groupBy($"source").agg(count(lit(1)).as("total"))
    val rows = res.join(sizes, "source").collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getLong(1) == math.min(k.toLong, r.getLong(2)), r.toString)
    }
  }

  test("ties beyond k are broken exactly like row_number (total order)") {
    // duplicate n_chars values exist across docs; k=1 must pick the
    // unique (n_chars desc, doc_id asc) minimum per group both runs
    val a = graft.plans.GroupTopK
      .topK(docs, Seq("source"), Seq(("n_chars", true), ("doc_id", false)), 1)
      .collect().map(_.toSeq).toSet
    val b = graft.plans.GroupTopK
      .topK(docs.repartition(7), Seq("source"), Seq(("n_chars", true), ("doc_id", false)), 1)
      .collect().map(_.toSeq).toSet
    assert(a == b && a.nonEmpty)
  }

  /** Every row_number under src/main that is not a top-k filter, as (file,
    * the trimmed text of its line, what the rank is for). Each line's
    * count of entries is its count of row_number sites.
    */
  private val rankWithoutFilter: Seq[(String, String, String)] = Seq(
    ("Aggregates.scala", """.withColumn("rn", $"off" + row_number().over(wInBin))""",
      "binRanked: per-bin offset plus in-bin rank, every row kept"),
    ("Aggregates.scala", """.withColumn("rn", row_number().over(""",
      "a_attribution_touch: first touch (rn = 1) and last touch (rn = cnt)"),
    ("Aggregates.scala", """.withColumn("rn", row_number().over(wS))""",
      "w_trend_theilsen: the median slope (rn = (np + 1) div 2)"),
    ("Aggregates.scala", """daily.withColumn("rn", row_number().over(wV))""",
      "w_trend_theilsen: the median x and y"),
    ("Aggregates.scala", """.withColumn("t", row_number().over(w).cast("long"))""",
      "a_cusum_changepoint: the day index t of the cumulative deviation"),
    ("Aggregates.scala", """.withColumn("rank", row_number().over(wRank))""",
      "a_bh_fdr: the step-up ladder rank"),
    ("Aggregates.scala", """val ci = meansB.withColumn("rn", row_number().over(byType))""",
      "a_bootstrap_ci: two order statistics of the resample means"),
    ("Aggregates.scala", """.withColumn("rn", row_number().over(wKey.orderBy($"value", $"eid")))""",
      "a_quantile_sketch: the compaction schedule's rank"),
    ("Aggregates.scala", """.withColumn("i", row_number().over(wKey.orderBy($"value", $"eid")))""",
      "a_quantile_sketch: the survivors' rank"),
    ("Aggregates.scala", """.withColumn("k", row_number().over(w))""",
      "privacy_dp_accounting: the composition count k"),
    ("Aggregates.scala", "|    row_number() OVER (PARTITION BY event_type ORDER BY m, b) AS rn",
      "a_bootstrap_ci oracle"),
    ("Aggregates.scala", "|    row_number() OVER (ORDER BY CAST(ts AS DATE)) AS rn",
      "a_holt_linear oracle: the recursion's day index"),
    ("Aggregates.scala", "|    row_number() OVER (PARTITION BY event_type ORDER BY day) AS t,",
      "a_cusum_changepoint oracle"),
    ("Aggregates.scala", "|    row_number() OVER (PARTITION BY event_type",
      "a_quantile_sketch oracle: the base rank"),
    ("Aggregates.scala", "|    row_number() OVER (PARTITION BY b.event_type",
      "a_quantile_sketch oracle: the survivors' rank"),
    ("Aggregates.scala", "|  SELECT *, row_number() OVER (ORDER BY value) AS rn FROM ev),",
      "a_mann_whitney oracle: rank sums"),
    ("Aggregates.scala", "|    row_number() OVER (PARTITION BY p.p_id",
      "a_attribution_touch oracle: first and last touch"),
    ("Aggregates.scala", "|      row_number() OVER (PARTITION BY event_type ORDER BY slope) AS rn,",
      "w_trend_theilsen oracle: the median slope"),
    ("Aggregates.scala", "|      row_number() OVER (PARTITION BY event_type ORDER BY x) AS rn,",
      "w_trend_theilsen oracle: the median x"),
    ("Aggregates.scala", "|      row_number() OVER (PARTITION BY event_type ORDER BY y) AS rn,",
      "w_trend_theilsen oracle: the median y"),
    ("Aggregates.scala", "|    row_number() OVER (PARTITION BY event_type ORDER BY value) AS rn,",
      "a_robust_stats oracle: quartile ranks"),
    ("Aggregates.scala", "|    row_number() OVER (PARTITION BY d.event_type ORDER BY d.dm) AS rn,",
      "a_robust_stats oracle: the MAD rank"),
    ("Aggregates.scala", "|    CAST(row_number() OVER (ORDER BY abs_t DESC, type_a, type_b)",
      "a_bh_fdr oracle"),
    ("Aggregates.scala", "|    CAST(row_number() OVER (ORDER BY day) AS INTEGER) AS k",
      "privacy_dp_accounting oracle"),
    ("DedupOps.scala", """paras.withColumn("rn", row_number().over(w))""",
      "dedup_paragraph_exact: every paragraph kept, rn = 1 marks the first copy"),
    ("DedupOps.scala", """.withColumn("isl", $"p1" - row_number().over(wRun))""",
      "dedup_substring_exact: gaps-and-islands run key"),
    ("DedupOps.scala", "|  SELECT doc_id, pid, ptxt, row_number() OVER (",
      "dedup_paragraph_exact oracle"),
    ("DedupOps.scala", "|  FROM (SELECT *, p1 - row_number() OVER (",
      "dedup_substring_exact oracle: the island key"),
    ("MLOps.scala", "|  SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS INT) AS cid, e AS c",
      "k-means oracle: seed centroid ids"),
    ("MLOps.scala", "|    row_number() OVER (PARTITION BY vec_id",
      "ml_kmeans_silhouette oracle: nearest and second-nearest centroid"),
    ("MLOps.scala", "|  CAST(row_number() OVER (ORDER BY tf DESC, word ASC) - 1 AS INT)",
      "u8_bow_vocabulary oracle: vocabulary index after LIMIT"),
    ("Relational.scala", """.withColumn("position", row_number().over(w))""",
      "sink_epoch_shuffle: every doc's position"),
    ("Relational.scala", """.withColumn("rn", row_number().over(wAll))""",
      "scd2Hist: order index"),
    ("Relational.scala", """.withColumn("grp", row_number().over(wAll) - row_number().over(wSt))""",
      "scd2Hist: gaps-and-islands run key"),
    ("Relational.scala", """.withColumn("version", row_number().over(wVer))""",
      "scd2Hist: version number"),
    ("Relational.scala", "|    row_number() OVER (PARTITION BY g.epoch ORDER BY hk, doc_id)",
      "sink_epoch_shuffle oracle"),
    ("Relational.scala", "|    row_number() OVER (PARTITION BY o_custkey",
      "scd2Hist oracle: order index"),
    ("Relational.scala", "|    row_number() OVER (PARTITION BY o_custkey",
      "scd2Hist oracle: order index minus the status run's"),
    ("Relational.scala", "|      - row_number() OVER (PARTITION BY o_custkey, o_orderstatus",
      "scd2Hist oracle: the status run's index"),
    ("Relational.scala", "|    row_number() OVER w AS version,",
      "scd2Hist oracle: version number"),
    ("SimilarityOps.scala", """.withColumn("i", row_number().over(wr))""",
      "KNN-Shapley: every rank enters the recursion"),
    ("SimilarityOps.scala", """.withColumn("rank", row_number().over(Window.orderBy(ord: _*)))""",
      "KNN-Shapley report: numbering after .limit(ShapTop)"),
    ("SimilarityOps.scala", """when(row_number().over(w1) === 1, lit(1)).otherwise(lit(0)))""",
      "MMR: first-pick flag, every candidate kept"),
    ("SimilarityOps.scala", """when(row_number().over(wr) === 1 && $"pick" === 0, lit(r))""",
      "MMR: the round's pick flag"),
    ("SimilarityOps.scala",
      "|  FROM (SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS INT) AS k, e",
      "PQ oracle: seed codeword ids"),
    ("SimilarityOps.scala", "|    row_number() OVER w AS i,", "KNN-Shapley oracle"),
    ("SimilarityOps.scala", "|    row_number() OVER (ORDER BY shap_e9_sum DESC, vec_id) AS rank,",
      "KNN-Shapley oracle: numbering after LIMIT"),
    ("SimilarityOps.scala", "|    row_number() OVER (ORDER BY shap_e9_sum ASC, vec_id) AS rank,",
      "KNN-Shapley oracle: numbering after LIMIT"),
    ("SimilarityOps.scala", "|    row_number() OVER (PARTITION BY v.vec_id",
      "ann_ivf_nprobe_sweep oracle: probe rank joined against each nprobe"),
    ("StreamingOps.scala", "|    row_number() OVER (PARTITION BY user_id, event_type",
      "stream_dedup_within_watermark oracle: the recursive walk's step index"),
    ("TextOps.scala", """.withColumn("rank", row_number().over(""",
      "retrieval_maxscore_topk: numbering after .limit(K)"),
    ("TextOps.scala", """scored.withColumn("rank", row_number().over(wr))""",
      "text_bm25_eval: the query doc's own rank"),
    ("TextOps.scala", """.withColumn("rn", row_number().over(""",
      "text_ccnet_buckets: rank terciles"),
    ("TextOps.scala", """.withColumn("rn", row_number().over(wAsc))""",
      "corpus_unimax_weights: waterfilling order"),
    ("TextOps.scala", """.withColumn("rank", row_number().over(wr).cast("long"))""",
      "text_zipf_slope: numbering after .limit(10000)"),
    ("TextOps.scala", """.withColumn("rn", $"off" + row_number().over(wIn))""",
      "corpus_curriculum_phases: offset rank"),
    ("TextOps.scala", "|    CAST(row_number() OVER (ORDER BY cap ASC, source ASC)",
      "corpus_unimax_weights oracle"),
    ("TextOps.scala", "|SELECT row_number() OVER (ORDER BY score DESC, doc_id ASC) AS rank,",
      "retrieval_maxscore_topk oracle: numbering after LIMIT"),
    ("TextOps.scala", "|    row_number() OVER (PARTITION BY qdoc",
      "text_bm25_eval oracle"),
    ("TextOps.scala", "|    CASE CAST(FLOOR((row_number() OVER (PARTITION BY lang",
      "text_ccnet_buckets oracle"),
    ("TextOps.scala", "|    row_number() OVER (ORDER BY quality, doc_id) AS rn,",
      "corpus_curriculum_phases oracle"),
  )

  test("each per-group top-k is written once under src/main") {
    import java.nio.file.{Files, Paths}
    import scala.jdk.CollectionConverters._
    // (file, trimmed line) of every row_number outside the ranking
    // module, comments skipped
    val sites = Files.walk(Paths.get("src/main")).iterator().asScala
      .filter(p => p.toString.endsWith(".scala") && p.getFileName.toString != "Ranking.scala")
      .toSeq.sortBy(_.toString).flatMap { p =>
        Files.readAllLines(p).asScala.map(_.trim)
          .filterNot(l => l.startsWith("//") || l.startsWith("*"))
          .filter(_.toLowerCase.contains("row_number()"))
          .map(p.getFileName.toString -> _)
      }
    val allowed = rankWithoutFilter.groupBy(e => (e._1, e._2)).map { case (k, v) => k -> v.size }
    val found = sites.groupBy(identity).map { case (k, v) => k -> v.size }
    val extra = found.filter { case (site, n) => n > allowed.getOrElse(site, 0) }
    assert(extra.isEmpty,
      s"row_number outside Ranking: $extra — route a top-k (rank <= k or = 1) through" +
        " Ranking.topK / topKSql, or list a rank that is not a top-k filter in rankWithoutFilter")
    val stale = allowed.filter { case (site, n) => found.getOrElse(site, 0) != n }
    assert(stale.isEmpty, s"rankWithoutFilter entries with no matching site: $stale")
  }
}
