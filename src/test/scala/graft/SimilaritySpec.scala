package graft

import org.apache.spark.sql.functions._

/** ANN semantics: exactness of the brute-force baseline, approximation
  * properties of the LSH/IVF variants.
  */
class SimilaritySpec extends SparkSpec {
  import spark.implicits._

  private lazy val exact =
    SparkEntry.queries("ann_cosine_topk")(spark, sf)
      .as[(Long, Int, Long, Double)].collect()

  test("cosine scores are within [-1, 1] and ranks are dense 1..5") {
    assert(exact.forall { case (_, _, _, c) => c >= -1.000001 && c <= 1.000001 })
    exact.groupBy(_._1).foreach { case (_, rows) =>
      assert(rows.map(_._2).sorted.toSeq == (1 to rows.length))
    }
  }

  test("exact top-1 dominates LSH top-1 (bucket restriction can only lose)") {
    val lsh = SparkEntry.queries("ann_lsh_topk")(spark, sf)
      .filter($"rank" === 1).as[(Long, Int, Long, Double)].collect()
      .map(r => r._1 -> r._4).toMap
    val ex1 = exact.filter(_._2 == 1).map(r => r._1 -> r._4).toMap
    lsh.foreach { case (q, c) => assert(c <= ex1(q) + 1e-9) }
  }

  test("LSH bucket histogram accounts for every vector") {
    val total = spark.read.parquet(s"$sf/embeddings.parquet").count()
    val sum = SparkEntry.queries("ann_lsh_bucket_stats")(spark, sf)
      .agg(org.apache.spark.sql.functions.sum($"n_vectors")).as[Long].collect().head
    assert(sum == total) // 6-bit bucket => max 64 buckets, limit 50 covers all? guard:
  }

  test("SQ8 quantization error is bounded by half a quantization step") {
    import org.apache.spark.sql.functions._
    val rows = SparkEntry.queries("emb_quantize_error")(spark, sf).collect()
    assert(rows.length == graft.ops.SimilarityOps.Dim)
    // per-dim range <= ~2 for unit-norm data; half-step = range/255/2,
    // so max abs error must sit under ~(hi-lo)/255 with rounding slack
    rows.foreach { r =>
      val (rmse, maxErr) = (r.getDouble(1), r.getDouble(2))
      assert(rmse >= 0.0 && maxErr >= rmse)
      assert(maxErr <= 2.0 / 255.0, s"dim ${r.getInt(0)}: $maxErr")
    }
  }

  test("IVF probe returns only same-label neighbors") {
    val labels = spark.read.parquet(s"$sf/embeddings.parquet")
      .select($"vec_id", $"label").as[(Long, Int)].collect().toMap
    val ivf = SparkEntry.queries("ann_ivf_label_topk")(spark, sf)
      .as[(Long, Int, Long, Double)].collect()
    ivf.foreach { case (q, _, n, _) => assert(labels(q) == labels(n)) }
  }

  test("IVF-ADC index recalls most exact neighbors and rescores exactly") {
    val ivfpq = SparkEntry.queries("ann_ivfpq_topk")(spark, sf)
      .as[(Long, Int, Long, Double)].collect()
    // every query answered, ranks dense from 1
    val byQ = ivfpq.groupBy(_._1)
    assert(byQ.keySet == exact.map(_._1).toSet)
    byQ.foreach { case (_, rows) =>
      assert(rows.map(_._2).sorted.toSeq == (1 to rows.length))
    }
    // recall@5 vs the brute-force ground truth: nprobe=4 of 8 cells +
    // 50-deep exact rescore on these near-isotropic synthetic embeddings
    // (measured 0.77 at sf0.001, 0.73 at sf0.01; floor leaves slack)
    val truth = exact.map(r => (r._1, r._3)).toSet
    val hits = ivfpq.count(r => truth.contains((r._1, r._3)))
    val recall = hits.toDouble / exact.length
    assert(recall >= 0.5, s"recall@5 = $recall")
    // the rescore stage is exact: any surfaced pair that also sits in the
    // exact top-k carries the identical cosine
    val exactCos = exact.map(r => (r._1, r._3) -> r._4).toMap
    ivfpq.foreach { case (q, _, n, c) =>
      exactCos.get((q, n)).foreach(ec => assert(c == ec, s"($q,$n)")) }
  }

  test("the argmin helper rejects a gapped codebook instead of mislabelling codes") {
    // codeDists reads the transform index as the code/centroid id, so
    // keys {0, 2} would silently report code 1 for codeword 2
    val gapped = Array(0 -> Seq(0.0, 0.0), 2 -> Seq(1.0, 1.0))
    intercept[IllegalArgumentException](
      graft.ops.SimilarityOps.codeDists(gapped, col("e")))
    // the contiguous form, in any order, is accepted
    val ok = Array(1 -> Seq(1.0, 1.0), 0 -> Seq(0.0, 0.0))
    graft.ops.SimilarityOps.codeDists(ok, col("e"))
  }

  test("nearest-code assignment is the brute-force argmin, ties to the lower id") {
    // small integer coordinates make every distance exact, so ties are
    // frequent; codewords 5 and 12 are identical (a planted exact tie),
    // and the codebook arrives in shuffled key order
    val rnd = new scala.util.Random(7)
    val words = Array.fill(16)(Seq.fill(4)(rnd.nextInt(3).toDouble))
    words(12) = words(5)
    val cb = rnd.shuffle(words.indices.toList).map(k => k -> words(k)).toArray
    val vecs = (0 until 200).map(i => i -> Seq.fill(4)(rnd.nextInt(4).toDouble)) :+
      (200 -> words(12))
    def d2(a: Seq[Double], b: Seq[Double]): Double =
      a.zip(b).foldLeft(0.0) { case (acc, (x, y)) => acc + (x - y) * (x - y) }
    val want = vecs.map { case (i, v) =>
      i -> words.indices.minBy(k => (d2(v, words(k)), k)) }.toMap
    val got = vecs.toDF("id", "e")
      .select($"id", array_min(graft.ops.SimilarityOps.codeDists(cb, $"e"))
        .getField("k"))
      .as[(Int, Int)].collect().toMap
    assert(got == want)
    // vector 200 sits on codeword 12, whose first copy wins
    assert(got(200) == words.indexOf(words(12)) && got(200) <= 5)
    // the brute force sees ties, so the tie rule is exercised
    val tied = vecs.count { case (_, v) =>
      words.map(d2(v, _)).count(_ == words.map(d2(v, _)).min) > 1 }
    assert(tied > 10, s"only $tied tied vectors")
  }

  test("each vector rule is written once under src/main, in SimilarityOps") {
    import java.nio.file.{Files, Paths}
    import scala.jdk.CollectionConverters._
    val sources = Files.walk(Paths.get("src/main")).iterator().asScala
      .filter(_.toString.endsWith(".scala"))
      .map(p => p.getFileName.toString -> Files.readString(p)).toSeq
    def sites(pattern: String): Map[String, Int] = sources
      .map { case (f, src) => f -> pattern.r.findAllMatchIn(src).size }
      .filter(_._2 > 0).toMap
    val once = Map("SimilarityOps.scala" -> 1)
    // the embedding widened to double, Column and SQL
    assert(sites("""transform\([^\n]*x\.cast\("double"\)""") == once)
    assert(sites("""list_transform\([^\n]*-> CAST\(\w+ AS DOUBLE\)\)""") == once)
    // the L2 norm: sqrt of the codegen'd self dot, and its SQL fold
    assert(sites("""sqrt\([\w.]*dot\(""") == once)
    assert(sites("""x -> x \* x""") == once)
    // the squared-L2 fold: a zip_with lambda and its SQL list_transform
    assert(sites("""=> \((\w) - (\w)\) \* \(\1 - \2\)""") == once)
    assert(sites("""i -> \(""") == once)
    // the dot product: the codegen'd Column and its SQL fold
    assert(sites("""VecDot\.vec_dot\(""") == once)
    assert(sites("""i -> [\w.$]+\[i\+1\] \* """) == once)
    // the IVF residual e - c(cid): a zip_with lambda and its SQL twin
    assert(sites("""\((\w), (\w)\) => \1 - \2\b""") == once)
    assert(sites("""i -> [\w.$]+\[i\+1\] - """) == once)
  }

  test("SQ8 probe rescores its candidates with the exact cosines") {
    // any (query, neighbor) pair the quantized probe surfaces that also
    // sits in the exact top-k must carry the identical rescored cosine —
    // the rescore stage is exact, only candidate GENERATION is quantized
    val exact = SparkEntry.queries("ann_cosine_topk")(spark, sf)
      .select($"query_id", $"neighbor_id", $"cosine")
      .as[(Long, Long, Double)].collect()
      .map { case (q, n, c) => (q, n) -> c }.toMap
    val sq = SparkEntry.queries("ann_sq8_topk")(spark, sf)
      .select($"query_id", $"neighbor_id", $"cosine")
      .as[(Long, Long, Double)].collect()
    assert(sq.nonEmpty)
    val overlapping = sq.flatMap { case (q, n, c) =>
      exact.get((q, n)).map(ec => (q, n, c, ec)) }
    assert(overlapping.nonEmpty)
    overlapping.foreach { case (q, n, c, ec) =>
      assert(c == ec, s"($q,$n): sq8 rescore $c != exact $ec") }
  }

  test("filtered search returns only predicate-passing neighbors, full ranks") {
    val langOf = graft.ops.Tables.documents(spark, sf)
      .select($"doc_id", $"lang").as[(Long, String)].collect().toMap
    val rows = SparkEntry.queries("ann_filtered_topk")(spark, sf)
      .as[(Long, Int, Long, Double)].collect()
    assert(rows.nonEmpty)
    // every returned neighbor satisfies the predicate...
    rows.foreach { case (q, _, n, _) =>
      assert(langOf(n) == "en", s"query $q returned non-en neighbor $n") }
    // ...and the pre-filter fills all k slots (post-filtering would not)
    rows.groupBy(_._1).foreach { case (q, rs) =>
      assert(rs.map(_._2).sorted.toSeq == (1 to 5), s"query $q ranks") }
    // a query's filtered top-1 can differ from the unfiltered top-1 only
    // when the unfiltered one fails the predicate
    val unf = exact.filter(_._2 == 1).map(r => r._1 -> r._3).toMap
    rows.filter(_._2 == 1).foreach { case (q, _, n, _) =>
      if (n != unf(q)) assert(langOf(unf(q)) != "en", s"query $q") }
  }

  test("retrieval ops stay k-bounded and deterministic on a skewed near-dup fixture") {
    // Adversarial shape (round-11 advice): 90% of the corpus is ONE
    // dominant source of near-duplicate texts sharing the same hot
    // terms, with tight near-identical embeddings. The hot terms make
    // the term-filtered tf frame as large as the corpus for those terms
    // (the skew case the broadcast-term plan must absorb), and the
    // near-dup embeddings stress MMR's redundancy penalty. The ops must
    // return the same k-bounded, fully-ranked, repeatable output.
    withTempDir("graft_skew_fx") { dir =>
      val fill = Array("alpha", "bravo", "charlie", "delta", "echo",
        "foxtrot", "golf", "hotel", "india", "juliet", "kilo", "lima")
      val docs = (0L until 600L).map { id =>
        val (src, text) =
          if (id < 540) ("dominant",
            s"breaking market update economy shares ${fill((id % 12).toInt)} " +
              s"report segment${id % 7} item$id")
          else (s"minor${id % 4}",
            s"${fill((id % 12).toInt)} ${fill(((id * 5 + 3) % 12).toInt)} " +
              s"science culture weather article token$id unique${id * 7}")
        (id, text, "en", src, text.length.toLong)
      }
      docs.toDF("doc_id", "text", "lang", "source", "n_chars")
        .coalesce(1).write.mode("overwrite").parquet(s"$dir/documents.parquet")
      val embs = (0L until 600L).map { id =>
        val base =
          if (id < 540) Array.fill(8)(0.9)
          else Array.tabulate(8)(j => ((id + j) % 5).toDouble / 5.0)
        val e = base.zipWithIndex.map { case (v, j) =>
          (v + ((id * 31 + j * 7) % 13).toDouble / 1000.0).toFloat }
        (id, e.toSeq, (id % 3).toInt)
      }
      embs.toDF("vec_id", "embedding", "label")
        .coalesce(1).write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
      Seq("retrieval_rrf_fusion", "retrieval_prf_expansion",
        "retrieval_mmr_rerank").foreach { n =>
        val q = SparkEntry.queries(n)
        val a = q(spark, dir).collect().map(_.toSeq).toSeq
        val b = q(spark, dir).collect().map(_.toSeq).toSeq
        assert(a.nonEmpty, s"$n returned nothing on the skewed fixture")
        assert(a == b, s"$n nondeterministic on the skewed fixture")
        // k-bounded per query (never corpus-scale), ranks dense from 1
        a.groupBy(_.head).foreach { case (qd, rs) =>
          assert(rs.length <= 10, s"$n query $qd: ${rs.length} rows")
          val ranks = rs.map(_(1).asInstanceOf[Int]).sorted
          assert(ranks == (1 to rs.length), s"$n query $qd ranks $ranks")
        }
      }
    }
  }

  test("RRF fusion only surfaces docs from the two source lists, scores sane") {
    val rows = SparkEntry.queries("retrieval_rrf_fusion")(spark, sf)
      .as[(Long, Int, Long, Double)].collect()
    assert(rows.nonEmpty)
    // max possible fused score = 1/61 + 1/61; min > 0
    rows.foreach { case (q, _, d, s) =>
      assert(s > 0.0 && s <= 2.0 / 61 + 1e-9, s"($q,$d) rrf score $s") }
    // ranks dense 1..5 per query, no repeated doc within a query
    rows.groupBy(_._1).foreach { case (q, rs) =>
      assert(rs.map(_._2).sorted.toSeq == (1 to 5), s"query $q ranks")
      assert(rs.map(_._3).distinct.length == rs.length, s"query $q dups") }
  }

  test("MMR rerank diversifies: lower avg pairwise sim than top-5 relevance") {
    val v = graft.ops.Tables.embeddings(spark, sf)
      .withColumn("e", transform($"embedding", x => x.cast("double")))
      .select($"vec_id", $"e").as[(Long, Seq[Double])].collect().toMap
    def cos(a: Seq[Double], b: Seq[Double]): Double = {
      val dot = a.zip(b).map { case (x, y) => x * y }.sum
      val na = math.sqrt(a.map(x => x * x).sum)
      val nb = math.sqrt(b.map(x => x * x).sum)
      dot / (na * nb)
    }
    def avgPairSim(ids: Seq[Long]): Double = {
      val ps = for (i <- ids.indices; j <- ids.indices if i < j)
        yield cos(v(ids(i)), v(ids(j)))
      ps.sum / ps.length
    }
    val mmr = SparkEntry.queries("retrieval_mmr_rerank")(spark, sf)
      .as[(Long, Int, Long)].collect().groupBy(_._1)
      .map { case (q, rs) => q -> rs.sortBy(_._2).map(_._3).toSeq }
    assert(mmr.nonEmpty)
    // dense top-5 by pure relevance for the same query docs: MMR picks
    // from the same depth-20 list, so pick 1 must equal the dense top-1,
    // and across queries the MEAN pairwise similarity of the MMR set
    // must not exceed the relevance set's (equality possible only if
    // every greedy pick coincided, which the diversity term prevents
    // somewhere in 10 queries)
    val rel = mmr.map { case (q, _) =>
      val sims = v.filterNot(_._1 == q).toSeq
        .map { case (id, e) => (cos(v(q), e), id) }
        .sortBy { case (c, id) => (-c, id) }.take(5).map(_._2)
      q -> sims
    }
    mmr.foreach { case (q, picks) =>
      assert(picks.head == rel(q).head, s"query $q: MMR pick 1 != argmax rel") }
    val mmrAvg = mmr.map { case (_, p) => avgPairSim(p) }.sum / mmr.size
    val relAvg = rel.map { case (_, p) => avgPairSim(p) }.sum / rel.size
    assert(mmrAvg <= relAvg + 1e-12,
      s"MMR avg pairwise sim $mmrAvg > relevance-only $relAvg")
  }

  test("IVF nprobe sweep: recall is monotone and reaches 1.0 at full probe") {
    val rows = SparkEntry.queries("ann_ivf_nprobe_sweep")(spark, sf)
      .as[(Int, Long, Long, Double)].collect().sortBy(_._1)
    assert(rows.map(_._1).toSeq == Seq(1, 2, 4, 8))
    // every query contributes its exact top-5 to every setting
    assert(rows.forall(_._2 == rows.head._2))
    // more cells probed can only add candidates -> recall is monotone
    rows.sliding(2).foreach { p =>
      assert(p(0)._4 <= p(1)._4 + 1e-12,
        s"recall not monotone: nprobe ${p(0)._1}=${p(0)._4} > ${p(1)._1}=${p(1)._4}")
    }
    // nprobe = K probes every cell == the brute-force baseline
    assert(rows.last._4 == 1.0, s"full-probe recall ${rows.last._4} != 1.0")
    // and the coarse quantizer is doing real work at nprobe=1
    assert(rows.head._4 > 0.2 && rows.head._4 < 1.0,
      s"nprobe=1 recall ${rows.head._4} suspicious")
  }

  test("hard negatives: cross-label only, margin consistent with best positive") {
    val labels = graft.ops.Tables.embeddings(spark, sf)
      .select($"vec_id", $"label").as[(Long, Int)].collect().toMap
    val rows = SparkEntry.queries("emb_hard_negatives")(spark, sf)
      .as[(Long, Int, Long, Double, Double)].collect()
    assert(rows.nonEmpty)
    // every mined negative really is cross-label, ranks dense 1..5
    rows.foreach { case (q, _, n, _, _) =>
      assert(labels(q) != labels(n), s"anchor $q mined same-label $n") }
    rows.groupBy(_._1).foreach { case (q, rs) =>
      assert(rs.map(_._2).sorted.toSeq == (1 to 5), s"anchor $q ranks") }
    // margin replays: best same-label cosine (from the exact baseline's
    // scoring rule, recomputed densely here) minus the negative's cosine
    val v = graft.ops.Tables.embeddings(spark, sf)
      .withColumn("e", transform($"embedding", x => x.cast("double")))
      .select($"vec_id", $"e").as[(Long, Seq[Double])].collect().toMap
    def cos(a: Seq[Double], b: Seq[Double]): Double = {
      val dot = a.zip(b).map { case (x, y) => x * y }.sum
      dot / (math.sqrt(a.map(x => x * x).sum) * math.sqrt(b.map(x => x * x).sum))
    }
    rows.groupBy(_._1).foreach { case (q, rs) =>
      // ~uniform labels ⇒ every anchor has same-label peers (a peerless
      // anchor would have decoded a NULL margin and failed .as above)
      val best = v.keys.filter(id => id != q && labels(id) == labels(q))
        .map(id => cos(v(q), v(id))).max
      rs.foreach { case (_, _, _, c, m) =>
        assert(math.abs(m - (best - c)) < 1e-4,
          s"anchor $q margin $m != $best - $c") }
    }
    // the mined set is the label-excluded top-5: no unfiltered exact
    // neighbor with a DIFFERENT label may beat a mined one it displaced
    val ex1 = exact.filter(_._2 == 1).map(r => r._1 -> (r._3, r._4)).toMap
    rows.filter(_._2 == 1).foreach { case (q, _, n, c, _) =>
      val (en, ec) = ex1(q)
      if (labels(en) != labels(q))
        assert(n == en && math.abs(c - ec) < 1e-9,
          s"anchor $q: top negative $n != unfiltered cross-label top-1 $en")
      else assert(c <= ec + 1e-9)
    }
  }

  test("hard negatives: a peerless-label anchor gets NULL margins, not dropped") {
    // The driver testdata's ~uniform labels guarantee every anchor a
    // same-label positive, so the left-join NULL path never fires there.
    // Planted fixture: anchor 0 carries a label nobody else has — its 5
    // hard negatives must still surface, with NULL margins (the honest
    // answer when no positive exists; an inner join would silently drop
    // the anchor from the training set).
    withTempDir("graft_hn_fx") { dir =>
      val embs = (0L until 300L).map { id =>
        val e = Array.tabulate(8)(j =>
          (((id * 31 + j * 7) % 13).toDouble / 13.0 + 0.1).toFloat)
        (id, e.toSeq, if (id == 0L) 99 else (id % 3).toInt)
      }
      embs.toDF("vec_id", "embedding", "label")
        .coalesce(1).write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
      val rows = SparkEntry.queries("emb_hard_negatives")(spark, dir).collect()
      val byAnchor = rows.groupBy(_.getLong(0))
      assert(byAnchor.keySet == (0L until 20L).toSet, "every anchor answered")
      byAnchor.foreach { case (q, rs) =>
        assert(rs.map(_.getInt(1)).sorted.toSeq == (1 to 5), s"anchor $q ranks")
        val nullMargins = rs.count(_.isNullAt(4))
        if (q == 0L) assert(nullMargins == 5, s"peerless anchor margins: $rs")
        else assert(nullMargins == 0, s"anchor $q unexpectedly NULL-margined")
      }
    }
  }

  test("nDCG eval: per-query nDCG in [0,1], DCG bounded by IDCG") {
    val rows = SparkEntry.queries("retrieval_ndcg_eval")(spark, sf)
      .as[(Long, Long, Long, Long, Long, Double)].collect()
    assert(rows.length == graft.ops.SimilarityOps.NumQueries)
    rows.foreach { case (q, nRel, nRelAtK, dcg, idcg, ndcg) =>
      assert(nRelAtK >= 0 && nRelAtK <= graft.ops.SimilarityOps.NdcgK)
      assert(nRelAtK <= nRel, s"query $q: $nRelAtK relevant at k > $nRel total")
      assert(dcg >= 0 && dcg <= idcg, s"query $q: dcg $dcg vs idcg $idcg")
      assert(ndcg >= 0.0 && ndcg <= 1.0)
      assert(math.abs(ndcg - dcg.toDouble / idcg) < 1e-5)
      // labels are ~uniform over 10 classes, so ideal pools always fill k
      assert(idcg == rows.head._5, "IDCG should be the full-k constant here")
    }
  }

  test("isotropy audit matches the brute-force all-pairs average cosine") {
    val rows = spark.read.parquet(s"$sf/embeddings.parquet")
      .select($"embedding").collect()
      .map(_.getSeq[Float](0).map(_.toDouble).toArray)
    def dotf(a: Array[Double], b: Array[Double]): Double =
      a.indices.foldLeft(0.0)((acc, i) => acc + a(i) * b(i))
    val unit = rows.map { e =>
      val nrm = math.sqrt(dotf(e, e)); e.map(_ / nrm) }
    val n = unit.length
    var sum = 0.0
    for (i <- unit.indices; j <- unit.indices if i != j)
      sum += dotf(unit(i), unit(j))
    val brute = sum / (n.toDouble * (n - 1))
    val Array((gotN, avgCos, meanNorm)) =
      SparkEntry.queries("emb_isotropy")(spark, sf)
        .as[(Long, Double, Double)].collect()
    assert(gotN == n.toLong)
    // the sum-vector identity vs the O(N^2) definition (1e-6 per-element
    // quantization leaves ~1e-5 slack on the aggregate)
    assert(math.abs(avgCos - brute) < 1e-4, s"$avgCos vs brute $brute")
    assert(meanNorm >= 0.0 && meanNorm <= 1.0 + 1e-9)
    // ||mean||^2 = (avg_cos * (n-1) + 1) / n, the same identity rearranged
    val lhs = meanNorm * meanNorm
    val rhs = (avgCos * (n - 1) + 1.0) / n
    assert(math.abs(lhs - rhs) < 1e-4, s"identity: $lhs vs $rhs")
  }

  test("LSH-restricted KNN-Shapley replays with bucket-confined candidates") {
    import graft.ops.SimilarityOps.{NumQueries, ShapK, ShapTop}
    def rnd(x: Double): Long =
      (if (x >= 0) math.floor(x + 0.5) else math.ceil(x - 0.5)).toLong
    val raw = spark.read.parquet(s"$sf/embeddings.parquet")
      .select($"vec_id", $"label", $"embedding").collect()
      .map(r => (r.getLong(0), r.getInt(1),
        r.getSeq[Float](2).map(_.toDouble).toArray))
    val buckets = spark.read.parquet(s"$sf/embeddings.parquet")
      .select($"vec_id", graft.ops.SimilarityOps.lshBucketFor(
        graft.ops.SimilarityOps.planes)(
        transform($"embedding", x => x.cast("double"))).as("b"))
      .as[(Long, Long)].collect().toMap
    def dotf(a: Array[Double], b: Array[Double]): Double =
      a.indices.foldLeft(0.0)((acc, i) => acc + a(i) * b(i))
    val norms = raw.map(r => r._1 -> math.sqrt(dotf(r._3, r._3))).toMap
    val probes = raw.filter(_._1 < NumQueries)
    val train = raw.filter(_._1 >= NumQueries)
    val acc = scala.collection.mutable.Map
      .empty[Long, Long].withDefaultValue(0L)
    // seed the full roster: never-bucketed training points carry an
    // estimated value of exactly 0 and still compete for report slots,
    // matching the op's roster left-join
    train.foreach(t => acc(t._1) = 0L)
    var abstained = 0
    probes.foreach { case (qid, qlab, qe) =>
      val cands = train.filter(t => buckets(t._1) == buckets(qid))
      if (cands.isEmpty) abstained += 1
      else {
        val ranked = cands.map { case (id, lab, e) =>
          (id, lab, dotf(e, qe) / (norms(id) * norms(qid)))
        }.sortBy { case (id, _, c) => (-c, id) }
        val m = ranked.map { case (_, lab, _) => if (lab == qlab) 1L else 0L }
        val nn = ranked.length
        val t = Array.tabulate(nn) { j =>
          if (j == nn - 1)
            rnd(m(j).toDouble * 1e9 /
              math.max(ShapK.toLong, nn.toLong).toDouble)
          else rnd((m(j) - m(j + 1)).toDouble
            * math.min(ShapK.toDouble, (j + 1).toDouble) * 1e9
            / (ShapK.toDouble * (j + 1).toDouble))
        }
        val suffix = t.scanRight(0L)(_ + _).dropRight(1)
        ranked.indices.foreach(j => acc(ranked(j)._1) += suffix(j))
      }
    }
    // ensure the restriction is real on this corpus: buckets are narrower
    // than the corpus, so per-probe candidate sets must be proper subsets
    assert(probes.exists(q =>
      train.count(t => buckets(t._1) == buckets(q._1)) < train.length))
    val got = SparkEntry.queries("ml_knn_shapley_lsh")(spark, sf)
      .as[(String, Int, Long, Int, Long, Double)].collect()
    val expTop = acc.toSeq.sortBy { case (id, v) => (-v, id) }.take(ShapTop)
    val expBot = acc.toSeq.sortBy { case (id, v) => (v, id) }.take(ShapTop)
    def sideOf(tag: String) =
      got.filter(_._1 == tag).sortBy(_._2).map(r => (r._3, r._5)).toSeq
    assert(sideOf("top") == expTop, "LSH-variant top points replay")
    assert(sideOf("bottom") == expBot, "LSH-variant bottom points replay")
  }

  test("k-center coreset: local FPS replay, monotone gaps, radius bound") {
    import graft.ops.SimilarityOps.KcPicks
    def rnd(x: Double): Long =
      (if (x >= 0) math.floor(x + 0.5) else math.ceil(x - 0.5)).toLong
    val rows = spark.read.parquet(s"$sf/embeddings.parquet")
      .select($"vec_id", $"embedding").collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).map(_.toDouble).toArray))
    def dotf(a: Array[Double], b: Array[Double]): Double =
      a.indices.foldLeft(0.0)((acc, i) => acc + a(i) * b(i))
    val norms = rows.map(r => r._1 -> math.sqrt(dotf(r._2, r._2))).toMap
    val vecs = rows.toMap
    def dn(a: Long, b: Long): Long =
      rnd((1.0 - dotf(vecs(a), vecs(b)) / (norms(a) * norms(b))) * 1e9)
    var chosen = Vector(rows.map(_._1).min)
    val expPicks = (2 to KcPicks).map { _ =>
      val cands = rows.map(_._1).filterNot(chosen.contains)
      val scored = cands.map(c => (c, chosen.map(s => dn(c, s)).min))
      val best = scored.minBy { case (id, md) => (-md, id) }
      chosen :+= best._1
      best
    }
    val got = SparkEntry.queries("sample_coreset_kcenter")(spark, sf)
      .as[(Int, Long, Option[Double], Double)].collect().sortBy(_._1)
    assert(got.map(_._2).toSeq == chosen, "greedy FPS pick sequence")
    // selection gaps are non-increasing (min-dist to a growing set) and
    // the final coverage radius is bounded by the last gap
    val gaps = got.flatMap(_._3)
    assert(gaps.length == KcPicks - 1)
    gaps.sliding(2).foreach { case Array(a, b) =>
      assert(b <= a + 1e-9, s"gap rose: $a -> $b") }
    val radius = got.head._4
    assert(got.map(_._4).distinct.length == 1, "radius constant per row")
    assert(radius <= gaps.last + 1e-9, s"radius $radius > last gap ${gaps.last}")
    expPicks.zip(gaps).foreach { case ((_, md), g) =>
      assert(math.abs(g - md / 1e9) < 1e-6, "gap replay") }
  }

  test("KNN-Shapley: full local replay of Theorem 1 + efficiency axiom") {
    import graft.ops.SimilarityOps.{NumQueries, ShapK, ShapTop}
    val rows = spark.read.parquet(s"$sf/embeddings.parquet")
      .select($"vec_id", $"label", $"embedding").collect()
      .map(r => (r.getLong(0), r.getInt(1),
        r.getSeq[Float](2).map(_.toDouble).toArray))
    def dotf(a: Array[Double], b: Array[Double]): Double =
      a.indices.foldLeft(0.0)((acc, i) => acc + a(i) * b(i)) // VecDot fold order
    def rnd(x: Double): Long =
      (if (x >= 0) math.floor(x + 0.5) else math.ceil(x - 0.5)).toLong
    val norms = rows.map(r => r._1 -> math.sqrt(dotf(r._3, r._3))).toMap
    val probes = rows.filter(_._1 < NumQueries)
    val train = rows.filter(_._1 >= NumQueries)
    val nn = train.length
    val acc = scala.collection.mutable.Map
      .empty[Long, Long].withDefaultValue(0L)
    probes.foreach { case (qid, qlab, qe) =>
      val ranked = train.map { case (id, lab, e) =>
        (id, lab, dotf(e, qe) / (norms(id) * norms(qid)))
      }.sortBy { case (id, _, c) => (-c, id) }
      val m = ranked.map { case (_, lab, _) => if (lab == qlab) 1L else 0L }
      val t = Array.tabulate(nn) { j => // j is 0-based; rank i = j + 1
        if (j == nn - 1)
          rnd(m(j).toDouble * 1e9 / math.max(ShapK.toLong, nn.toLong).toDouble)
        else rnd((m(j) - m(j + 1)).toDouble
          * math.min(ShapK.toDouble, (j + 1).toDouble) * 1e9
          / (ShapK.toDouble * (j + 1).toDouble))
      }
      val suffix = t.scanRight(0L)(_ + _).dropRight(1) // s_(j+1) in nano units
      ranked.indices.foreach(j => acc(ranked(j)._1) += suffix(j))
      // Efficiency axiom: sum of all Shapley values = v(full train set)
      // = hits@K / K. Per-term nano rounding gives each suffix sum <= nn/2
      // nano error, so the grand sum deviates at most nn^2/2 nano units.
      val hitsAtK = m.take(ShapK).sum
      assert(math.abs(suffix.sum - hitsAtK * (1e9.toLong / ShapK)) <=
        nn.toLong * nn / 2, s"probe $qid efficiency axiom")
    }
    val got = SparkEntry.queries("ml_knn_shapley")(spark, sf)
      .as[(String, Int, Long, Int, Long, Double)].collect()
    val expTop = acc.toSeq.sortBy { case (id, v) => (-v, id) }.take(ShapTop)
    val expBot = acc.toSeq.sortBy { case (id, v) => (v, id) }.take(ShapTop)
    def sideOf(tag: String) =
      got.filter(_._1 == tag).sortBy(_._2).map(r => (r._3, r._5)).toSeq
    assert(sideOf("top") == expTop, "top-valued points replay")
    assert(sideOf("bottom") == expBot, "bottom-valued points replay")
    // mislabel detector sanity: some training point must carry negative
    // value on this corpus (labels are ~uniform -> plenty of bad neighbors)
    assert(expBot.head._2 < 0L, "most harmful point should have negative value")
  }

  test("LSH shapley: a planted never-bucketed point enters the report at 0") {
    // Guard-pinning fixture (round-14 ADVICE #3 / round-15 VERDICT #2):
    // all query vectors share one direction, every trained point but
    // one sits in that same sign-bucket, and the last one is the exact
    // NEGATION — every hyperplane dot flips sign, so it shares no
    // probe's bucket and is never scored. The roster left-join must
    // still surface it with value exactly 0; reverting the roster join
    // to the scored-only aggregate drops it and fails here.
    import graft.ops.SimilarityOps.{NumQueries, Dim}
    val dir = "target/tmp/shapley_unbucketed_fixture"
    // base direction; positive scalings keep EVERY hyperplane dot's
    // sign, so scaled copies provably share the query bucket, while the
    // negation flips every nonzero dot and provably does not
    def vec(scale: Float): Seq[Float] =
      (0 until Dim).map(i => (0.3f + 0.01f * ((i * 7) % 11)) * scale)
    val outcastId = NumQueries + 8L
    val rows = (0L until NumQueries.toLong).map(i => (i, vec(1.0f), 1)) ++
      (0 until 8).map(j =>
        (NumQueries + j.toLong, vec(1.0f + 0.05f * (j + 1)), (j % 2))) :+
      ((outcastId, vec(-1.0f), 0))
    rows.toDF("vec_id", "embedding", "label")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    val got = SparkEntry.queries("ml_knn_shapley_lsh")(spark, dir)
      .as[(String, Int, Long, Int, Long, Double)].collect()
    // sanity: the bucket restriction actually scored the in-bucket points
    assert(got.exists(r => r._5 != 0L),
      "fixture vacuous: no in-bucket point got a nonzero value")
    val outcast = got.filter(_._3 == outcastId)
    assert(outcast.nonEmpty,
      s"never-bucketed point $outcastId missing from the report")
    outcast.foreach { r =>
      assert(r._5 == 0L && r._6 == 0.0,
        s"never-bucketed point must carry exactly 0, got $r")
    }
  }
}
