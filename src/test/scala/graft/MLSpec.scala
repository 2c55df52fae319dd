package graft

/** ML-layer shape + seeded-determinism checks (no SQL oracle exists for
  * these — SURVEY §5 strategy #4).
  */
class MLSpec extends SparkSpec {
  import spark.implicits._

  test("LDA topics table has k topics × 10 ranked words, seeded-stable") {
    val a = SparkEntry.queries("u5_lda_topics")(spark, sf).collect()
    assert(a.length == graft.ops.MLOps.K * graft.ops.MLOps.TopWords)
    val ranks = a.map(r => (r.getInt(0), r.getInt(1)))
    assert(ranks.distinct.length == a.length)
    val b = SparkEntry.queries("u5_lda_topics")(spark, sf).collect()
    assert(a.map(_.toSeq).toSeq == b.map(_.toSeq).toSeq)
  }

  test("distributed LDA fit equals the relational EM and is partition-count-invariant") {
    // the round-17 fallback (SCALE.md "single-partition LDA fit input"):
    // treeAggregate sufficient-statistics fit == relational EM trainer,
    // row for row on the ranked topic table (which transitively gives
    // it lda_em_topics' DuckDB oracle)...
    val dist = SparkEntry.queries("lda_em_topics_dist")(spark, sf)
      .collect().map(_.toSeq).toSeq
    val rel = SparkEntry.queries("lda_em_topics")(spark, sf)
      .collect().map(_.toSeq).toSeq
    assert(dist == rel && dist.nonEmpty)
    // ...and the φ model itself is bit-identical whether the corpus
    // arrives in ONE partition or SEVEN: exact-long suff stats under a
    // commutative tree-reduce make the merge order invisible, which is
    // the property that lets the fit run P-wide instead of pinning to a
    // single task
    val p1 = graft.ops.MLOps.ldaEmPhiDist(spark, sf, graft.ops.MLOps.EmK, 1)
    val p7 = graft.ops.MLOps.ldaEmPhiDist(spark, sf, graft.ops.MLOps.EmK, 7)
    assert(p1.length == p7.length)
    p1.zip(p7).foreach { case ((w1, a1), (w7, a7)) =>
      assert(w1 == w7 && a1.sameElements(a7),
        s"phi diverged at word $w1 across partition counts")
    }
  }

  test("distributed EM fit runs one job per round plus a fixed setup") {
    // a fresh Memo key (3 partitions) so the fit is built here. c = 4:
    // the documents footer read, the exchange of the pinned token
    // counts, and the vocabulary collect (its exchange and its result);
    // the per-doc arrays are shuffled inside round 1's job.
    import graft.ops.MLOps.{EmIters, EmK, ldaEmPhiDist}
    val (phi, jobs) = countJobs(ldaEmPhiDist(spark, sf, EmK, 3))
    assert(phi.nonEmpty)
    assert(jobs == EmIters + 4, s"$jobs jobs for $EmIters rounds")
  }

  test("QRound's scalar, Column and SQL forms all equal BigDecimal HALF_UP") {
    import graft.ops.QRound
    import org.apache.spark.sql.functions.{expr, round}
    // exact half-integers, values inside and just outside the 1e-5 guard
    // band, the 1e9 cutoff and beyond, both signs, and zero
    val base = Seq(0.0, -0.0, 0.5, 1.5, 2.5, 0.49999999999999994, 2.4999999,
      2.5000001, 2.49999, 2.50001, 2.4999899, 2.5000101, 123456.5,
      123456.4999999, 999999999.5, 999999999.4999, 1e9 - 0.5, 1e9, 1e9 + 0.5,
      1e9 + 0.4999, 4503599627370495.5, 1.5e12 + 0.5, 7.0, 7.3, 7.7)
    val ys = (base ++ base.map(-_)).distinct
    def exact(y: Double) = BigDecimal.valueOf(y)
      .setScale(0, BigDecimal.RoundingMode.HALF_UP).toLong
    ys.foreach(y => assert(QRound.qroundLong(y) == exact(y), s"scalar at $y"))
    // the Column form, the SQL twin parsed by Spark, and the built-in
    // round-to-long the rule replaces, side by side on every value
    val all = ys.toDF("y").select($"y", QRound.qroundLong($"y").as("q"),
        expr(QRound.qroundLongSql("y")).as("qs"),
        round($"y", 0).cast("long").as("qb"))
      .as[(Double, Long, Long, Long)].collect()
    assert(all.length == ys.length)
    all.foreach { case (y, q, qs, qb) =>
      assert(q == QRound.qroundLong(y), s"Column at $y")
      assert(qs == q, s"SQL twin at $y")
      assert(qb == q, s"built-in round at $y")
    }
  }

  /** Round-to-long sites under src/main that keep their own spelling, as
    * (file, the trimmed text of the line the `round(` is on, why). Each
    * line's count of entries is its count of sites. None today.
    */
  private val ownRoundToLong: Seq[(String, String, String)] = Nil

  test("each round-to-long is written once under src/main") {
    import java.nio.file.{Files, Paths}
    import scala.jdk.CollectionConverters._
    val roundCall = """(?i)(?<!\w)round\s*\(""".r
    val sparkCast = """\s*\.cast\(\s*("long"|"bigint"|LongType)\s*\)""".r
    val sqlCast = """(?i)\s*AS\s+(BIGINT|LONG)\b""".r
    val sqlOpen = """(?is).*CAST\s*\(\s*""".r
    def closing(t: String, open: Int): Int = {
      var depth = 0
      var i = open
      while (i < t.length) {
        if (t(i) == '(') depth += 1
        else if (t(i) == ')') { depth -= 1; if (depth == 0) return i }
        i += 1
      }
      t.length - 1
    }
    // (file, trimmed line) of every round(…) outside QRound whose result
    // is cast to a long: Spark's `.cast("long")` or SQL's
    // `CAST(ROUND(…) AS BIGINT)`. Comment lines and doc blocks are
    // blanked (a code line may start with `*`) and stripMargin bars
    // dropped, so a site may span lines.
    val sites = Files.walk(Paths.get("src/main")).iterator().asScala
      .filter(p => p.toString.endsWith(".scala") && p.getFileName.toString != "QRound.scala")
      .toSeq.sortBy(_.toString).flatMap { p =>
        var inDoc = false
        val lines = Files.readAllLines(p).asScala.toIndexedSeq.map { l =>
          val t = l.trim
          if (inDoc || t.startsWith("/*")) { inDoc = !t.contains("*/"); "" }
          else if (t.startsWith("//")) ""
          else l.replaceFirst("""^\s*\|""", "")
        }
        val text = lines.mkString("\n")
        roundCall.findAllMatchIn(text).filter { m =>
          val end = closing(text, m.end - 1) + 1
          val after = text.substring(end, math.min(text.length, end + 40))
          sparkCast.findPrefixOf(after).isDefined ||
            (sqlCast.findPrefixOf(after).isDefined &&
              sqlOpen.matches(text.substring(math.max(0, m.start - 20), m.start)))
        }.map(m => p.getFileName.toString -> lines(text.substring(0, m.start).count(_ == '\n')).trim)
      }
    val allowed = ownRoundToLong.groupBy(e => (e._1, e._2)).map { case (k, v) => k -> v.size }
    val found = sites.groupBy(identity).map { case (k, v) => k -> v.size }
    val extra = found.filter { case (site, n) => n > allowed.getOrElse(site, 0) }
    assert(extra.isEmpty,
      s"round-to-long outside QRound: $extra — write it as qroundLong(y) or qroundLongSql(y)," +
        " or list it with its reason in ownRoundToLong")
    val stale = allowed.filter { case (site, n) => found.getOrElse(site, 0) != n }
    assert(stale.isEmpty, s"ownRoundToLong entries with no matching site: $stale")
  }

  test("LDA doc-topic histogram covers all docs") {
    val total = spark.read.parquet(s"$sf/documents.parquet").count()
    val sum = SparkEntry.queries("u5_lda_doc_topics")(spark, sf)
      .agg(org.apache.spark.sql.functions.sum($"n_docs")).as[Long].collect().head
    assert(sum == total)
  }

  test("fit-on-sample: sample-fit assignments track a full-corpus fit (sf0.01)") {
    import org.apache.spark.ml.clustering.LDA
    import org.apache.spark.sql.functions._
    import graft.ops.MLOps.{K, Seed, FitSampleMod}
    val d = "/root/testdata/sf0.01"
    val (_, vec) = graft.ops.MLOps.preparedInput(spark, d)
    // the query path's model: fit on the hash-sampled stratum (~1/2)
    val sampleFit = graft.ops.MLOps.fittedLda(spark, d, K)
    // reference: same seeded config fit on the FULL prepared corpus
    val fullFit = new LDA().setK(K).setSeed(Seed).setMaxIter(20)
      .setFeaturesCol("tf").fit(vec.coalesce(1))
    def assign(m: org.apache.spark.ml.clustering.LDAModel): Map[Long, Long] =
      m.transform(vec)
        .withColumn("arr",
          org.apache.spark.ml.functions.vector_to_array($"topicDistribution"))
        .select($"doc_id",
          (array_position($"arr", array_max($"arr")) - 1).as("t"))
        .as[(Long, Long)].collect().toMap
    val a = assign(sampleFit)
    val b = assign(fullFit)
    // both models score the SAME full corpus — coverage identical
    assert(a.keySet == b.keySet && a.nonEmpty)
    // topic labels are not comparable across fits (label switching), so
    // the agreement metric is the permutation-invariant Rand index: the
    // fraction of doc PAIRS both partitions treat the same way
    // (co-assigned in both, or separated in both)
    def rand(x: Map[Long, Long], y: Map[Long, Long]): Double = {
      val ids = x.keys.toArray.sorted
      var agree = 0L
      var total = 0L
      var i = 0
      while (i < ids.length) {
        var j = i + 1
        while (j < ids.length) {
          if ((x(ids(i)) == x(ids(j))) == (y(ids(i)) == y(ids(j)))) agree += 1
          total += 1
          j += 1
        }
        i += 1
      }
      agree.toDouble / total
    }
    // This synthetic corpus has weak topic structure (31-word shared
    // vocab), so even two FULL fits disagree substantially under a seed
    // change — that intrinsic instability, not an absolute constant, is
    // the correct yardstick. The sample fit must agree with the full fit
    // about as well as the full fit agrees with itself across seeds
    // (measured: sample-vs-full 0.54, full-vs-full(seed+1) in the same
    // band), and far above a vacuous all-one-topic partition.
    val altFit = new LDA().setK(K).setSeed(Seed + 1).setMaxIter(20)
      .setFeaturesCol("tf").fit(vec.coalesce(1))
    val intrinsic = rand(b, assign(altFit))
    val got = rand(a, b)
    assert(got >= intrinsic - 0.1,
      s"sample-fit Rand $got far below the intrinsic seed band $intrinsic")
    // assignment DISTRIBUTION agreement: sorted topic-share vectors of
    // the two fits are close in total variation
    def shares(x: Map[Long, Long]): Seq[Double] =
      x.values.groupBy(identity).map(_._2.size.toDouble / x.size)
        .toSeq.sorted.reverse.padTo(K, 0.0)
    val tv = shares(a).zip(shares(b)).map { case (p, q) =>
      math.abs(p - q) }.sum / 2
    assert(tv <= 0.3, s"topic-share total variation $tv")
    // and the sample really is a proper stratum of the corpus
    val nSample = graft.ops.Tables.documents(spark, d)
      .filter(pmod(graft.functions.PolyHash.poly_hash(
        $"doc_id".cast("string")), lit(FitSampleMod)) === 0).count()
    val nAll = graft.ops.Tables.documents(spark, d).count()
    assert(nSample < nAll && nSample > nAll / 4, s"stratum $nSample of $nAll")
  }

  test("relational EM-LDA retrains to identical topics (seeded, no cache)") {
    val q = SparkEntry.queries("lda_em_topics")
    val a = q(spark, sf).collect().map(_.toSeq).toSeq
    graft.ops.Memo.clear() // drop the cached (phi, theta) — force a full retrain
    val b = q(spark, sf).collect().map(_.toSeq).toSeq
    assert(a == b && a.nonEmpty)
    assert(a.length == graft.ops.MLOps.EmK * graft.ops.MLOps.TopWords)
    val ranks = a.map(r => (r(0), r(1)))
    assert(ranks.distinct.length == a.length)
  }

  test("relational EM-LDA coherence is normalized and covers every topic") {
    val rows = SparkEntry.queries("lda_em_coherence")(spark, sf)
      .as[(String, Double, Long)].collect()
    assert(rows.map(_._1).toSet == (0 until graft.ops.MLOps.EmK)
      .map(_.toString).toSet)
    rows.foreach { case (_, coh, nPairs) =>
      assert(coh >= -1.0 && coh <= 1.0)
      // 10 top words → C(10,2) pairs per topic
      assert(nPairs == 45L)
    }
  }

  test("relational EM-LDA theta rows are normalized distributions") {
    import org.apache.spark.sql.functions._
    val (_, theta) = graft.ops.MLOps.ldaEmState(spark, sf)
    val bad = theta
      .select(aggregate($"th", lit(0.0), (a, x) => a + x).as("tot"),
        array_min($"th").as("mn"))
      .filter(abs($"tot" - 1.0) > 1e-4 || $"mn" < 0.0)
      .count()
    assert(bad == 0)
  }

  test("relational EM-LDA doc-topic histogram covers every modeled doc") {
    import org.apache.spark.sql.functions._
    val (_, theta) = graft.ops.MLOps.ldaEmState(spark, sf)
    val modeled = theta.count()
    val histSum = SparkEntry.queries("lda_em_doc_topics")(spark, sf)
      .agg(sum($"n_docs")).as[Long].collect().head
    assert(histSum == modeled && modeled > 0)
  }

  test("vocabulary respects minDF bound") {
    import org.apache.spark.sql.functions._
    val vocab = SparkEntry.queries("u8_bow_vocabulary")(spark, sf)
      .select("word").as[String].collect().toSet
    // every vocab word must appear in >= 5 documents
    val df = graft.ops.Tables.documents(spark, sf)
      .select($"doc_id", explode(array_distinct(
        filter(split(lower($"text"), "\\s+"), t => length(t) >= 3))).as("w"))
      .groupBy($"w").count()
      .filter($"w".isin(vocab.toSeq: _*))
      .filter($"count" < 5).count()
    assert(df == 0)
  }

  test("model sink: LDA save/load round-trip preserves topics (S11)") {
    import org.apache.spark.ml.clustering.{LDA, LocalLDAModel}
    import org.apache.spark.sql.functions._
    val toks = graft.ops.Tables.documents(spark, sf)
      .select($"doc_id", filter(split(lower($"text"), "\\s+"),
        t => length(t) >= 3).as("toks"))
    val cv = new org.apache.spark.ml.feature.CountVectorizerModel(
      Array("spark", "data", "query", "table", "join", "merge", "batch"))
      .setInputCol("toks").setOutputCol("tf")
    val vec = cv.transform(toks).select("doc_id", "tf").coalesce(1)
    val model = new LDA().setK(2).setSeed(42L).setMaxIter(3)
      .setFeaturesCol("tf").fit(vec)
    val path = "target/tmp/lda_model_roundtrip"
    model.write.overwrite().save(path)
    val loaded = LocalLDAModel.load(path)
    assert(loaded.describeTopics(3).collect().map(_.toSeq).toSeq ==
      model.describeTopics(3).collect().map(_.toSeq).toSeq)
  }

  test("model scan returns one row per candidate k") {
    val rows = SparkEntry.queries("u6_lda_model_scan")(spark, sf)
      .as[(Int, Double)].collect()
    assert(rows.map(_._1).toSeq == Seq(2, 4, 6))
  }

  test("u5_lda_save_load round-trips through the artifact sink exactly") {
    val a = SparkEntry.queries("u5_lda_topics")(spark, sf)
      .collect().map(_.toSeq).toSeq
    val b = SparkEntry.queries("u5_lda_save_load")(spark, sf)
      .collect().map(_.toSeq).toSeq
    assert(a == b)
  }

  test("topic fan-out: three configs off one cached prepared input (§3.1)") {
    val out = SparkEntry.queries("pipeline_topic_fanout")(spark, sf)
      .as[(String, Int, Long, Long)].collect()
    assert(out.map(_._1).toSeq == Seq("auto", "fixed_large", "fixed_small"))
    val total = spark.read.parquet(s"$sf/documents.parquet").count()
    assert(out.forall(_._4 == total))
    // the shared fit input is materialized once: cached + persisted
    val (_, vec) = graft.ops.MLOps.preparedInput(spark, sf)
    assert(vec.storageLevel.useMemory || vec.storageLevel.useDisk)
  }

  test("NPMI values are normalized (within [-1, 1]) and pairs are complete") {
    import org.apache.spark.sql.functions._
    val pairs = SparkEntry.queries("u6_npmi_pairs")(spark, sf).collect()
    // 20 sources × C(10,2) pairs
    assert(pairs.length == 20 * 45, pairs.length)
    val vals = pairs.map(_.getDouble(4))
    assert(vals.forall(v => v >= -1.0 - 1e-9 && v <= 1.0 + 1e-9))
    val coh = SparkEntry.queries("u6_npmi_coherence")(spark, sf).collect()
    assert(coh.length == 20 && coh.forall(_.getLong(2) == 45))
  }

  test("c_v separates co-occurring from disjoint word sets on a planted corpus") {
    import org.apache.spark.sql.functions._
    // 40 docs of 30 tokens: "aa bb" open every doc in the first half
    // (always inside a shared window); "xx" appears only there and "yy"
    // only in the second half (never co-occur). Filler words are unique
    // per doc so they never enter a topic.
    val docs = (0 until 40).map { i =>
      val filler = (0 until 26).map(j => s"fill${i}_$j")
      val head = if (i < 20) Seq("aa", "bb", "xx", s"pad$i")
                 else Seq("cc", "dd", "yy", s"pad$i")
      (s"d$i", (head ++ filler).toArray)
    }.toDF("doc_id", "toks")
    val topics = Seq(("good", "aa"), ("good", "bb"),
      ("bad", "xx"), ("bad", "yy")).toDF("topic", "word")
    val rows = graft.ops.MLOps.cvCoherence(spark, topics, docs)
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(rows.keySet == Set("good", "bad"))
    // perfectly co-occurring pair ⇒ identical context vectors ⇒ cv ≈ 1
    assert(rows("good") > 0.99, s"good=${rows("good")}")
    assert(rows("good") > rows("bad") + 0.1,
      s"good=${rows("good")} bad=${rows("bad")}")
    rows.values.foreach(v => assert(v >= -1.0 - 1e-9 && v <= 1.0 + 1e-9))
  }

  test("c_v of the source topics covers every source with full word sets") {
    val rows = SparkEntry.queries("u6_cv_coherence")(spark, sf).collect()
    assert(rows.length == 20 && rows.forall(_.getLong(2) == 10))
    val emRows = SparkEntry.queries("lda_em_cv")(spark, sf).collect()
    assert(emRows.length == graft.ops.MLOps.EmK
      && emRows.forall(_.getLong(2) == 10))
  }

  test("PCA power iteration matches a local quantized replay") {
    val rows = SparkEntry.queries("emb_pca_power")(spark, sf)
      .as[(Int, Double, Double)].collect().sortBy(_._1)
    assert(rows.map(_._1).toSeq == (0 until graft.ops.MLOps.PcaDim))
    val lam = rows.head._3
    assert(lam > 0 && rows.forall(_._3 == lam))
    assert(math.abs(rows.map(r => math.abs(r._2)).max - 1.0) < 1e-9)
    // local replay with the same per-term quantization
    def q(x: Double, s: Double): Long =
      BigDecimal(x * s).setScale(0, BigDecimal.RoundingMode.HALF_UP).toLongExact
    val xs = graft.ops.Tables.embeddings(spark, sf).select($"embedding")
      .collect().map(_.getSeq[Float](0).take(graft.ops.MLOps.PcaDim)
        .map(_.toDouble).toArray)
    val dDim = graft.ops.MLOps.PcaDim
    val n = xs.length
    val mu = (0 until dDim).map(i =>
      xs.map(x => q(x(i), 1e6)).sum / 1e6 / n).toArray
    val c = Array.tabulate(dDim, dDim)((i, j) =>
      xs.map(x => q((x(i) - mu(i)) * (x(j) - mu(j)), 1e12)).sum)
    var v = Array.fill(dDim)(1.0)
    var m = 0L
    for (_ <- 1 to graft.ops.MLOps.PcaIters) {
      val sArr = (0 until dDim).map(i =>
        (0 until dDim).map(j => q(c(i)(j) * v(j) / 1e3, 1.0)).sum).toArray
      m = sArr.map(math.abs).max
      v = sArr.map(_.toDouble / m)
    }
    rows.foreach { case (i, loading, _) =>
      assert(math.abs(loading - v(i)) < 1e-5, s"dim $i: $loading vs ${v(i)}")
    }
    assert(math.abs(lam - m / 1e9) < 1e-5)
  }

  test("ridge probe solves the same normal equations as a local replay") {
    val row = SparkEntry.queries("ml_ridge_probe")(spark, sf).collect().head
    val (n, w1x, w2x, w0, mse) = (row.getLong(0), row.getDouble(1),
      row.getDouble(2), row.getDouble(3), row.getDouble(4))
    assert(mse >= 0.0)
    // local replay: same micro-quantized features, same Cramer solve
    val zs = graft.ops.Tables.embeddings(spark, sf)
      .select($"embedding", $"label").collect().map { r =>
        val e = r.getSeq[Float](0)
        def q(x: Double): Long =
          BigDecimal(x * 1e6).setScale(0, BigDecimal.RoundingMode.HALF_UP)
            .toLongExact
        (q(e(0).toDouble), q(e(1).toDouble), r.getInt(1).toLong)
      }
    assert(zs.length.toLong == n)
    val lam = graft.ops.MLOps.RidgeLambda
    val (s1, s2) = (zs.map(_._1).sum, zs.map(_._2).sum)
    val (s11, s12, s22) = (zs.map(z => z._1 * z._1).sum,
      zs.map(z => z._1 * z._2).sum, zs.map(z => z._2 * z._2).sum)
    val (sy, sy1, sy2) = (zs.map(_._3).sum,
      zs.map(z => z._1 * z._3).sum, zs.map(z => z._2 * z._3).sum)
    def det(a: Array[Double]): Double =
      a(0) * (a(4) * a(8) - a(5) * a(7)) -
        a(1) * (a(3) * a(8) - a(5) * a(6)) +
        a(2) * (a(3) * a(7) - a(4) * a(6))
    val A = Array[Double]((s11 + lam).toDouble, s12.toDouble, s1.toDouble,
      s12.toDouble, (s22 + lam).toDouble, s2.toDouble,
      s1.toDouble, s2.toDouble, n.toDouble)
    val b = Array[Double](sy1.toDouble, sy2.toDouble, sy.toDouble)
    val d0 = det(A)
    val lw1 = det(Array(b(0), A(1), A(2), b(1), A(4), A(5), b(2), A(7), A(8))) / d0
    val lw2 = det(Array(A(0), b(0), A(2), A(3), b(1), A(5), A(6), b(2), A(8))) / d0
    val lw0 = det(Array(A(0), A(1), b(0), A(3), A(4), b(1), A(6), A(7), b(2))) / d0
    assert(math.abs(w1x - lw1 * 1e6) < 1e-5, s"w1 $w1x vs ${lw1 * 1e6}")
    assert(math.abs(w2x - lw2 * 1e6) < 1e-5, s"w2 $w2x vs ${lw2 * 1e6}")
    assert(math.abs(w0 - lw0) < 1e-5, s"w0 $w0 vs $lw0")
  }

  test("ALS 2x2 ridge solve matches analytic solutions (formula orientation)") {
    // Guards against a symmetric formula swap the corpus replay can't
    // see (a bug mirrored into the local replay and the oracle would
    // agree with itself): hand-picked micro-long sums whose solutions
    // are exact by construction, λe6 = 100000 on the DIAGONAL only.
    //   diag:  A = [[2.1, 0], [0, 2.1]], b = (4.2, 2.1)  → x = (2, 1)
    //   dense: A = [[1.0, .5], [.5, 2.0]], b = (2, 1)    → x = (2, 0)
    val agg = Seq(
      (1L, 2000000L, 0L, 2000000L, 4200000L, 2100000L),
      (2L, 900000L, 500000L, 1900000L, 2000000L, 1000000L))
      .toDF("cust", "a11", "a12", "a22", "b1", "b2")
    val got = graft.ops.MLOps.solve2(agg, "cust", "u1", "u2")
      .as[(Long, Double, Double)].collect().sortBy(_._1)
    assert(got(0) == ((1L, 2.0, 1.0)), s"diagonal case: ${got(0)}")
    assert(got(1) == ((2L, 2.0, 0.0)), s"dense case: ${got(1)}")
  }

  test("rank-2 ALS matches a local quantized replay; top-k serves only unseen items") {
    import graft.ops.MLOps.{AlsIters, AlsLambdaE6}
    def q(x: Double): Long =
      BigDecimal(x * 1e6).setScale(0, BigDecimal.RoundingMode.HALF_UP)
        .toLongExact
    // the training table, independently rebuilt (same shape as alsRatings)
    val ratings = graft.ops.Tables.lineitem(spark, sf)
      .select($"l_orderkey", $"l_partkey")
      .join(graft.ops.Tables.orders(spark, sf)
        .select($"o_orderkey", $"o_custkey"), $"l_orderkey" === $"o_orderkey")
      .groupBy($"o_custkey", $"l_partkey").count()
      .select($"o_custkey".cast("long"), $"l_partkey".cast("long"),
        $"count".cast("long"))
      .as[(Long, Long, Long)].collect()
    assert(ratings.nonEmpty)
    // local replay of init + AlsIters alternations with the same
    // per-row quantization and the same fixed-order double solve
    def solve(sums: Map[Long, (Long, Long, Long, Long, Long)])
        : Map[Long, (Double, Double)] =
      sums.map { case (k, (a11, a12, a22, b1, b2)) =>
        val da11 = (a11 + AlsLambdaE6).toDouble / 1e6
        val da12 = a12.toDouble / 1e6
        val da22 = (a22 + AlsLambdaE6).toDouble / 1e6
        val db1 = b1.toDouble / 1e6
        val db2 = b2.toDouble / 1e6
        val det = da11 * da22 - da12 * da12
        k -> ((da22 * db1 - da12 * db2) / det,
          (da11 * db2 - da12 * db1) / det)
      }
    def accum(rows: Seq[(Long, Long, Long, Double, Double)])
        : Map[Long, (Long, Long, Long, Long, Long)] =
      rows.groupBy(_._1).map { case (k, rs) =>
        k -> ((rs.map(r => q(r._4 * r._4)).sum, rs.map(r => q(r._4 * r._5)).sum,
          rs.map(r => q(r._5 * r._5)).sum, rs.map(r => q(r._3 * r._4)).sum,
          rs.map(r => q(r._3 * r._5)).sum))
      }
    var items: Map[Long, (Double, Double)] = ratings.map(_._2).distinct.map { p =>
      val ph = graft.functions.PolyHash.hashString(p.toString)
      p -> ((((ph * 31 + 7919) % 997) - 498).toDouble / 997.0,
        (((ph * 31 + 15838) % 997) - 498).toDouble / 997.0)
    }.toMap
    var users: Map[Long, (Double, Double)] = Map.empty
    val local = (1 to AlsIters).map { _ =>
      users = solve(accum(ratings.toSeq.map { case (c, p, r) =>
        (c, p, r, items(p)._1, items(p)._2) }))
      items = solve(accum(ratings.toSeq.map { case (c, p, r) =>
        (p, c, r, users(c)._1, users(c)._2) }))
      val se = ratings.map { case (c, p, r) =>
        val e = r - (users(c)._1 * items(p)._1 + users(c)._2 * items(p)._2)
        q(e * e)
      }.sum
      val rmse = math.sqrt((se.toDouble / 1e6) / ratings.length.toDouble)
      val uSum = users.valuesIterator
        .map { case (a, b) => q(math.abs(a) + math.abs(b)) }.sum / 1e6
      val vSum = items.valuesIterator
        .map { case (a, b) => q(math.abs(a) + math.abs(b)) }.sum / 1e6
      (rmse, uSum, vSum)
    }
    val got = SparkEntry.queries("ml_als_factors")(spark, sf)
      .as[(Int, Long, Double, Double, Double)].collect().sortBy(_._1)
    assert(got.map(_._1).toSeq == (1 to AlsIters))
    got.zip(local).foreach { case ((step, n, rmse, us, vs), (lr, lu, lv)) =>
      assert(n == ratings.length.toLong, s"step $step n_pairs")
      assert(math.abs(rmse - lr) < 1e-5, s"step $step rmse $rmse vs $lr")
      assert(math.abs(us - lu) < 1e-5, s"step $step u_abs_sum $us vs $lu")
      assert(math.abs(vs - lv) < 1e-5, s"step $step v_abs_sum $vs vs $lv")
    }
    // top-k: exact local replay of sampling, anti-join, and ranking
    val seen = ratings.map(r => (r._1, r._2)).toSet
    val sampled = users.keys.toSeq
      .filter(c => graft.functions.PolyHash.hashString(c.toString) % 50 == 0)
      .sorted.take(10)
    val want = sampled.flatMap { c =>
      items.toSeq.filterNot { case (p, _) => seen((c, p)) }
        .map { case (p, (v1, v2)) =>
          (c, p, q(users(c)._1 * v1 + users(c)._2 * v2)) }
        .sortBy { case (_, p, pe) => (-pe, p) }.take(3).zipWithIndex
        .map { case ((_, p, pe), i) => (c, i + 1, p, pe) }
    }.toSet
    val topk = SparkEntry.queries("ml_als_topk")(spark, sf)
      .as[(Long, Int, Long, Long)].collect()
    assert(topk.map(r => (r._1, r._2)).distinct.length == topk.length)
    assert(topk.forall { case (c, _, p, _) => !seen((c, p)) },
      "top-k recommended an already-purchased part")
    assert(topk.toSet == want, "top-k diverges from the local replay")
    // fold-in: one more u-half-step from the FINAL item factors for the
    // sampled users — replay it and the L1 drift vs the trained factors
    val byCust = ratings.groupBy(_._1)
    val wantFold = sampled.map { c =>
      val sums = accum(byCust(c).toSeq.map { case (_, p, r) =>
        (c, p, r, items(p)._1, items(p)._2) })
      val (f1, f2) = solve(sums)(c)
      def r6(x: Double): Double =
        BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
      (c, r6(f1), r6(f2),
        r6(math.abs(f1 - users(c)._1) + math.abs(f2 - users(c)._2)))
    }.toSet
    val fold = SparkEntry.queries("ml_als_fold_in")(spark, sf)
      .as[(Long, Double, Double, Double)].collect().toSet
    assert(fold == wantFold, s"fold-in diverges: $fold vs $wantFold")
    // save/load: serving from the reloaded parquet factors must equal
    // the in-memory rank-1 rows exactly (parquet doubles are lossless)
    val sl = SparkEntry.queries("ml_als_save_load")(spark, sf)
      .as[(Long, Long, Long)].collect().toSet
    val wantSl = want.filter(_._2 == 1).map { case (c, _, p, pe) => (c, p, pe) }
    assert(sl == wantSl, s"save/load serving diverges: $sl vs $wantSl")
  }
}
