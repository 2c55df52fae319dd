package graft

/** Invariants for the round-6 trainer/estimator family — properties the
  * value-level oracles can't express: k-means actually descends, the IVF
  * index actually retrieves, the bootstrap CI actually covers, BPE
  * merges actually merge.
  */
class TrainersSpec extends SparkSpec {
  import spark.implicits._
  import org.apache.spark.sql.functions._

  test("ml_kmeans: full coverage and inertia below the init partition") {
    val rows = SparkEntry.queries("ml_kmeans")(spark, sf).collect()
    val total = rows.map(_.getLong(1)).sum
    val corpus = graft.ops.Tables.embeddings(spark, sf).collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).map(_.toDouble).toArray)
    assert(total == corpus.length, s"assigned $total of ${corpus.length}")
    val finalInertia = rows.map(_.getDouble(2)).sum
    // inertia under the INIT centroids (first 8 by vec_id), computed
    // driver-side: 3 Lloyd rounds must not end above where they started
    val init = corpus.sortBy(_._1).take(8).map(_._2)
    def d2(a: Array[Double], b: Array[Double]): Double = {
      var acc = 0.0
      for (i <- a.indices) { val t = a(i) - b(i); acc += t * t }
      acc
    }
    val initInertia = corpus.map { case (_, e) => init.map(c => d2(e, c)).min }.sum
    assert(finalInertia < initInertia,
      s"kmeans did not descend: $finalInertia >= $initInertia")
  }

  test("ann_ivf_kmeans_topk: meaningful recall against the exact baseline") {
    val exact = SparkEntry.queries("ann_cosine_topk")(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(2))).toSet
    val ivf = SparkEntry.queries("ann_ivf_kmeans_topk")(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(2))).toSet
    val recall = (exact & ivf).size.toDouble / exact.size
    // nprobe=1 over K=8 cells on a scattered synthetic corpus: measured
    // 0.54 — pin a floor that catches an index gone vacuous, not noise
    assert(recall >= 0.35, s"IVF recall@5 collapsed to $recall")
    assert(ivf.nonEmpty)
  }

  test("ann_pq_topk: ADC candidates carry meaningful recall") {
    val exact = SparkEntry.queries("ann_cosine_topk")(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(2))).toSet
    val pq = SparkEntry.queries("ann_pq_topk")(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(2))).toSet
    val recall = (exact & pq).size.toDouble / exact.size
    assert(recall >= 0.2, s"PQ recall@5 collapsed to $recall")
  }

  test("a_bootstrap_ci: interval brackets the full-sample mean, lo <= hi") {
    val rows = SparkEntry.queries("a_bootstrap_ci")(spark, sf).collect()
    assert(rows.length == 5)
    rows.foreach { r =>
      val (m, lo, hi) = (r.getDouble(1), r.getDouble(2), r.getDouble(3))
      assert(lo <= hi, s"${r.getString(0)}: lo $lo > hi $hi")
      assert(lo <= m && m <= hi, s"${r.getString(0)}: mean $m outside [$lo, $hi]")
    }
  }

  test("text_bpe_encode: merges strictly reduce the char-level token count") {
    val rows = SparkEntry.queries("text_bpe_encode")(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (nTokens, ratio) = (r.getLong(2), r.getDouble(3))
      assert(nTokens > 0)
      assert(ratio > 0.9 && ratio < 10.0, s"ratio $ratio out of range")
    }
    // corpus-level: the encoded stream is strictly shorter than the
    // unmerged char-level tokenization (chars + one </w> per word)
    val chars = graft.ops.Tables.documents(spark, sf)
      .select(explode(split(lower($"text"), "\\s+")).as("w"))
      .filter(length($"w") > 0)
      .agg(sum(length($"w")), count(lit(1)))
      .as[(Long, Long)].head()
    val totalTokens = rows.map(_.getLong(2)).sum
    assert(totalTokens < chars._1 + chars._2,
      s"no compression: $totalTokens >= ${chars._1 + chars._2}")
  }

  test("text_lm_backoff: held-out scores are finite negative log-probs") {
    val rows = SparkEntry.queries("text_lm_backoff")(spark, sf).collect()
    assert(rows.length > 10)
    rows.foreach { r =>
      val s = r.getDouble(2)
      assert(!s.isNaN && !s.isInfinite && s < 0.0,
        s"doc ${r.getLong(0)}: bad score $s")
    }
  }

  test("text_unigram_encode: segmentations are Viterbi-optimal (exhaustive)") {
    import spark.implicits._
    val (vocab, total) = graft.ops.TextOps.unigramModel(spark, sf)
    val probs = vocab.map { case (p, c) => p -> c.toDouble / total }.toMap
    val rows = SparkEntry.queries("text_unigram_encode")(spark, sf)
      .as[(String, Long, Int, String)].collect()
    assert(rows.nonEmpty)
    // exhaustive max over every segmentation into vocab pieces (words
    // are <= 12 chars, pieces <= 4 — ~1.7k segmentations worst case)
    def best(s: String): Double =
      if (s.isEmpty) 1.0
      else (1 to math.min(graft.ops.TextOps.UgMaxPieceLen, s.length))
        .flatMap(j => probs.get(s.take(j)).map(_ * best(s.drop(j))))
        .max
    rows.foreach { case (word, _, n, seg) =>
      val pieces = seg.split(" ").toSeq
      assert(pieces.mkString == word, s"$word: pieces don't cover the word")
      assert(pieces.length == n)
      assert(pieces.forall(probs.contains), s"$word: piece outside vocab")
      val segScore = pieces.map(probs).product
      val b = best(word)
      // scores may multiply in a different order locally — ulp tolerance
      assert(segScore >= b * (1 - 1e-12) && segScore <= b * (1 + 1e-12),
        s"$word: seg score $segScore vs exhaustive best $b")
    }
  }

  test("ml_logreg_gd: loss strictly decreases and trajectory replays locally") {
    val rows = SparkEntry.queries("ml_logreg_gd")(spark, sf)
      .as[(Int, Long, Double, Double, Double, Double)].collect().sortBy(_._1)
    assert(rows.map(_._1).toSeq == (1 to graft.ops.MLOps.GdSteps))
    // GD on a convex loss with a sane step size descends every step
    rows.sliding(2).foreach { case Array(a, b) =>
      assert(b._6 < a._6, s"loss rose at step ${b._1}: ${a._6} -> ${b._6}") }
    assert(math.abs(rows.head._6 - math.log(2.0)) < 1e-5, "step-1 loss != ln 2")
    // exact local replay of the quantized trajectory
    val z = graft.ops.Tables.embeddings(spark, sf)
      .select($"embedding", $"label").as[(Seq[Float], Int)].collect()
      .map { case (e, l) =>
        (math.rint(e(0).toDouble * 1e6) / 1e6,
          math.rint(e(1).toDouble * 1e6) / 1e6, if (l == 1) 1.0 else 0.0) }
    val n = z.length.toDouble
    var (w0, w1, w2) = (0.0, 0.0, 0.0)
    rows.foreach { case (k, nq, qw0, qw1, qw2, loss) =>
      assert(nq == z.length.toLong)
      var (g0, g1, g2, le6) = (0L, 0L, 0L, 0L)
      z.foreach { case (x1, x2, y) =>
        val p = 1.0 / (1.0 + math.exp(-(w0 + w1 * x1 + w2 * x2)))
        val pc = math.max(math.min(p, 1.0 - 1e-12), 1e-12)
        val r = p - y
        def q(v: Double, s: Double): Long =
          BigDecimal(v * s).setScale(0, BigDecimal.RoundingMode.HALF_UP)
            .toLongExact
        g0 += q(r, 1e9); g1 += q(r * x1, 1e9); g2 += q(r * x2, 1e9)
        le6 += q(-(y * math.log(pc) + (1.0 - y) * math.log(1.0 - pc)), 1e6)
      }
      w0 = w0 - 1.0 * (g0 / 1e9) / n
      w1 = w1 - 1.0 * (g1 / 1e9) / n
      w2 = w2 - 1.0 * (g2 / 1e9) / n
      assert(math.abs(qw0 - w0) < 1e-6 && math.abs(qw1 - w1) < 1e-6 &&
        math.abs(qw2 - w2) < 1e-6, s"step $k weights diverged")
      assert(math.abs(loss - le6 / 1e6 / n) < 1e-6, s"step $k loss")
    }
  }

  test("ml_gmm_em: local EM replay, monotone likelihood, proper weights") {
    import graft.ops.MLOps.{GmmSteps, GmmVarFloor}
    def q(v: Double, s: Double): Long =
      BigDecimal(v * s).setScale(0, BigDecimal.RoundingMode.HALF_UP)
        .toLongExact
    val xs = graft.ops.Tables.events(spark, sf).select($"value")
      .as[Double].collect().map(v => math.rint(v * 1e6) / 1e6)
    val n = xs.length.toLong
    val xmin = xs.map(x => q(x, 1e6)).min / 1e6
    val xmax = xs.map(x => q(x, 1e6)).max / 1e6
    val sx = xs.map(x => q(x, 1e6)).sum
    val sxx = xs.map(x => q(x * x, 1e6)).sum
    val v0 = math.max(sxx / 1e6 / n - (sx / 1e6 / n) * (sx / 1e6 / n),
      GmmVarFloor)
    var (w1, m1, v1) = (0.5, xmin + (xmax - xmin) / 4, v0)
    var (w2, m2, v2) = (0.5, xmin + (xmax - xmin) / 4 * 3, v0)
    val got = SparkEntry.queries("ml_gmm_em")(spark, sf)
      .as[(Int, Double, Double, Double, Double, Double, Double, Double)]
      .collect().sortBy(_._1)
    assert(got.map(_._1).toSeq == (1 to GmmSteps))
    got.foreach { case (k, qw1, qm1, qv1, qw2, qm2, qv2, ll) =>
      var (a1, b1, c1, a2, b2, c2, lls) = (0L, 0L, 0L, 0L, 0L, 0L, 0L)
      xs.foreach { x =>
        val l1 = w1 * math.exp(-((x - m1) * (x - m1)) / (2.0 * v1)) /
          math.sqrt(v1)
        val l2 = w2 * math.exp(-((x - m2) * (x - m2)) / (2.0 * v2)) /
          math.sqrt(v2)
        val den = math.max(l1 + l2, 1e-300)
        val r1 = l1 / den
        a1 += q(r1, 1e9); b1 += q(r1 * x, 1e6); c1 += q(r1 * x * x, 1e6)
        a2 += q(1.0 - r1, 1e9); b2 += q((1.0 - r1) * x, 1e6)
        c2 += q((1.0 - r1) * x * x, 1e6)
        lls += q(math.log(den), 1e6)
      }
      def upd(a: Long, b: Long, c: Long) = {
        val r = a / 1e9; val m = (b / 1e6) / r
        (r / n, m, math.max((c / 1e6) / r - m * m, GmmVarFloor))
      }
      val u1 = upd(a1, b1, c1); val u2 = upd(a2, b2, c2)
      w1 = u1._1; m1 = u1._2; v1 = u1._3
      w2 = u2._1; m2 = u2._2; v2 = u2._3
      assert(math.abs(qw1 - w1) < 1e-6 && math.abs(qm1 - m1) < 1e-6 &&
        math.abs(qv1 - v1) < 1e-5, s"step $k comp1")
      assert(math.abs(qw2 - w2) < 1e-6 && math.abs(qm2 - m2) < 1e-6 &&
        math.abs(qv2 - v2) < 1e-5, s"step $k comp2")
      assert(math.abs(ll - lls / 1e6 / n) < 1e-6, s"step $k avg_ll")
      assert(math.abs(qw1 + qw2 - 1.0) < 1e-5, s"step $k weights")
      assert(qv1 >= GmmVarFloor && qv2 >= GmmVarFloor)
    }
    // EM's defining guarantee: the (pre-update-measured) likelihood
    // never decreases across steps (nano-quantization slack only)
    got.map(_._8).sliding(2).foreach { case Array(a, b) =>
      assert(b >= a - 1e-4, s"likelihood fell: $a -> $b") }
  }

  test("ml_bt_strength: normalized trajectory replays the MM rounds locally") {
    import graft.ops.MLOps.BtRounds
    def q(v: Double): Long =
      BigDecimal(v).setScale(0, BigDecimal.RoundingMode.HALF_UP).toLongExact
    val rows = SparkEntry.queries("ml_bt_strength")(spark, sf)
      .as[(Int, String, Long, Double)].collect()
    val byStep = rows.groupBy(_._1)
    assert(byStep.keySet == (1 to BtRounds).toSet)
    // mean-1 normalization: per step, sum of strengths ~= |types| (each
    // s_e9 rounds once, so the total is off by at most |types|/2 nanos)
    byStep.foreach { case (k, rs) =>
      assert(math.abs(rs.map(_._3).sum - rs.length * 1000000000L) <=
        rs.length, s"step $k not mean-normalized")
      rs.foreach(r => assert(r._3 > 0L, s"non-positive strength at $r"))
    }
    // full local replay of the comparison build + BtRounds MM rounds
    val cnt = graft.ops.Tables.events(spark, sf)
      .groupBy($"user_id", $"event_type").count()
      .as[(Long, String, Long)].collect()
      .groupBy(_._1).view.mapValues(_.map(r => r._2 -> r._3).toMap).toMap
    val wins = scala.collection.mutable.Map
      .empty[(String, String), Long].withDefaultValue(0L)
    cnt.values.foreach { m =>
      for ((a, ca) <- m; (b, cb) <- m if a != b && ca > cb)
        wins((a, b)) += 1L
    }
    val types = wins.keys.flatMap(p => Seq(p._1, p._2)).toSeq.distinct.sorted
    val nij = types.flatMap(i => types.filter(_ != i).map(j =>
      (i, j) -> (wins((i, j)) + wins((j, i))))).filter(_._2 > 0L).toMap
    val wi = types.map(i => i -> types.filter(_ != i)
      .map(j => wins((i, j))).sum).toMap
    var st = types.map(_ -> 1000000000L).toMap
    (1 to BtRounds).foreach { k =>
      val den = types.map { i =>
        i -> types.filter(j => j != i && nij.contains((i, j))).map { j =>
          q(1e9 * nij((i, j)).toDouble
            / (st(i).toDouble / 1e9 + st(j).toDouble / 1e9))
        }.sum
      }.toMap
      // +0.5 pseudo-win floor, same as the op (keeps an always-losing
      // type's strength strictly positive)
      val raw = types.map(i =>
        i -> q((wi(i).toDouble + 0.5) / (den(i).toDouble / 1e9) * 1e9)).toMap
      val sumE9 = types.map(raw).sum
      st = types.map(i => i -> q(raw(i).toDouble * types.length.toDouble
        * 1e9 / sumE9.toDouble)).toMap
      val got = byStep(k).map(r => r._2 -> r._3).toMap
      assert(got == st, s"step $k strengths diverged from the local replay")
    }
  }

  test("ml_cartography: exact local replay of the training-dynamics map") {
    import graft.ops.MLOps.{GdSteps, CartConfHi, CartConfLo, CartVarLo}
    def q(v: Double, s: Double): Long =
      BigDecimal(v * s).setScale(0, BigDecimal.RoundingMode.HALF_UP)
        .toLongExact
    // replay the gd trajectory (same loop the logreg test pins)
    val z = graft.ops.Tables.embeddings(spark, sf)
      .select($"vec_id", $"embedding", $"label")
      .as[(Long, Seq[Float], Int)].collect()
      .map { case (id, e, l) =>
        (id, math.rint(e(0).toDouble * 1e6) / 1e6,
          math.rint(e(1).toDouble * 1e6) / 1e6, if (l == 1) 1.0 else 0.0) }
    val n = z.length.toDouble
    var (w0, w1, w2) = (0.0, 0.0, 0.0)
    val traj = (1 to GdSteps).map { _ =>
      var (g0, g1, g2) = (0L, 0L, 0L)
      z.foreach { case (_, x1, x2, y) =>
        val p = 1.0 / (1.0 + math.exp(-(w0 + w1 * x1 + w2 * x2)))
        val r = p - y
        g0 += q(r, 1e9); g1 += q(r * x1, 1e9); g2 += q(r * x2, 1e9)
      }
      w0 = w0 - 1.0 * (g0 / 1e9) / n
      w1 = w1 - 1.0 * (g1 / 1e9) / n
      w2 = w2 - 1.0 * (g2 / 1e9) / n
      (w0, w1, w2)
    }
    val exp = z.map { case (id, x1, x2, y) =>
      val pts = traj.map { case (a0, a1, a2) =>
        val p = 1.0 / (1.0 + math.exp(-(a0 + a1 * x1 + a2 * x2)))
        q(if (y == 1.0) p else 1.0 - p, 1e9)
      }
      val sp = pts.sum
      val spp = pts.map(v => v * v).sum
      val nc = pts.count(_ > 500000000L).toLong
      val conf = sp.toDouble / GdSteps / 1e9
      val vrb = math.sqrt(math.max(0.0,
        spp.toDouble / GdSteps / 1e18 - conf * conf))
      val region =
        if (conf >= CartConfHi && vrb < CartVarLo) "easy"
        else if (conf <= CartConfLo && vrb < CartVarLo) "hard"
        else "ambiguous"
      id -> (y, nc, conf, vrb, region)
    }.toMap
    val got = SparkEntry.queries("ml_cartography")(spark, sf)
      .as[(Long, Double, Long, Double, Double, String)].collect()
    assert(got.length == z.length, "one row per example")
    got.foreach { case (id, y, nc, conf, vrb, region) =>
      val (ey, enc, econf, evrb, eregion) = exp(id)
      assert(y == ey && nc == enc && region == eregion, s"example $id")
      assert(math.abs(conf - econf) < 1e-6 && math.abs(vrb - evrb) < 1e-6,
        s"example $id stats")
    }
    // the map is non-degenerate on this corpus: more than one region fires
    assert(got.map(_._6).distinct.length > 1, "cartography map degenerate")
  }

  test("ml_kmeans_silhouette: full coverage, scores in [0, 1]") {
    val rows = SparkEntry.queries("ml_kmeans_silhouette")(spark, sf).collect()
    val total = spark.read.parquet(s"$sf/embeddings.parquet").count()
    assert(rows.map(_.getLong(1)).sum == total)
    rows.foreach { r =>
      val sil = r.getDouble(2)
      // b is the SECOND-nearest centroid distance, so b >= a and the
      // simplified silhouette is non-negative by construction
      assert(sil >= 0.0 && sil <= 1.0, s"cid ${r.getInt(0)}: $sil")
    }
  }

  test("text_tokenizer_compare: both tokenizers segment every covered word") {
    val rows = SparkEntry.queries("text_tokenizer_compare")(spark, sf)
      .collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (n, bpe, ug) = (r.getLong(1), r.getLong(2), r.getLong(3))
      assert(n > 0)
      // every word yields >= 1 token under either tokenizer; BPE counts
      // carry the </w> marker so bpe >= n as well
      assert(bpe >= n && ug >= n, s"${r.getString(0)}: $n words, bpe $bpe, ug $ug")
      val (bcpt, ucpt) = (r.getDouble(4), r.getDouble(5))
      assert(bcpt > 0 && ucpt > 0 && ucpt <= 12.0 + 1e-9)
    }
  }

  test("text_unigram_train: normalized model, dense ranks, coverage floor") {
    val (vocab, total) = graft.ops.TextOps.unigramModel(spark, sf)
    assert(vocab.map(_._2).sum == total)
    // single chars are never pruned and never hit zero count
    val singles = vocab.filter(p => p._1.codePointCount(0, p._1.length) == 1)
    assert(singles.nonEmpty && singles.forall(_._2 >= 1))
    val rows = SparkEntry.queries("text_unigram_train")(spark, sf).collect()
    assert(rows.map(_.getInt(0)).toSeq == (1 to rows.length))
    val byRank = rows.map(r => (r.getLong(3), r.getString(1)))
    assert(byRank.sliding(2).forall {
      case Array((c1, p1), (c2, p2)) => c1 > c2 || (c1 == c2 && p1 < p2)
      case _ => true
    }, "train output not in (cnt desc, piece asc) order")
  }

  test("concurrent fit warm-up is value-identical to sequential fits") {
    // The round-12 parallel-fit determinism claim, pinned: lda_em_scan's
    // warm-up fits ScanKs on sibling threads; re-fitting the same k's
    // sequentially on this thread must reproduce the scan output
    // exactly (EM sums quantize per row to exact longs before
    // aggregation, so execution interleaving can't reach the values).
    // Likewise for the MLlib side via pipeline_topic_fanout, whose fits
    // are single-partition seeded jobs.
    import graft.ops.{Memo, MLOps}
    Memo.clear()
    val scanConc = SparkEntry.queries("lda_em_scan")(spark, sf)
      .collect().map(_.toSeq).toSeq
    Memo.clear()
    MLOps.ScanKs.foreach(k => MLOps.ldaEmState(spark, sf, k))
    val scanSeq = SparkEntry.queries("lda_em_scan")(spark, sf)
      .collect().map(_.toSeq).toSeq
    assert(scanConc == scanSeq, "EM scan diverged under concurrent warm-up")

    Memo.clear()
    val fanConc = SparkEntry.queries("pipeline_topic_fanout")(spark, sf)
      .collect().map(_.toSeq).toSeq
    Memo.clear()
    // sequential MLlib leg: pre-warm every (k, maxIter) the query needs
    // on THIS thread — scan fits first (so coherenceByK's concurrent
    // warm-up finds them cached and no-ops), then the three final
    // configs (autoK is deterministic, read from the cached scan) — so
    // every fitConcurrently inside the query sees an empty todo list.
    MLOps.ScanKs.foreach(k => MLOps.fittedLda(spark, sf, k, maxIter = 5))
    val autoK = MLOps.coherenceByK(spark, sf)
      .maxBy { case (k, c) => (c, -k) }._1
    Seq(MLOps.K, 8, autoK).distinct
      .foreach(k => MLOps.fittedLda(spark, sf, k, maxIter = 20))
    val fanSeq = SparkEntry.queries("pipeline_topic_fanout")(spark, sf)
      .collect().map(_.toSeq).toSeq
    assert(fanConc == fanSeq, "MLlib fan-out diverged under concurrent warm-up")
  }

  test("gmm M-step: zero-mass component degrades finitely (collapse guard)") {
    // The collapse branch is unreachable from static corpus fixtures
    // (the min/max data points always back their nearer component), so
    // the guard is pinned at the factored M-step directly: a component
    // whose responsibilities ALL rounded to zero (a = b = c = 0) must
    // come back as a finite near-zero weight with variance at the
    // floor — not NaN. Reverting greatest(a, 1) to raw a fails this.
    import graft.ops.MLOps
    val Seq(w, m, v) = MLOps.gmmMStep(lit(0L), lit(0L), lit(0L))
    val row = spark.range(1)
      .select(w.as("w"), m.as("m"), v.as("v"))
      .as[(Double, Double, Double)].head()
    assert(!row._1.isNaN && !row._2.isNaN && !row._3.isNaN,
      s"zero-mass M-step produced NaN: $row")
    assert(row._1 == 1e-9, s"collapsed weight mass ${row._1}")
    assert(row._2 == 0.0, s"collapsed mean ${row._2}")
    assert(row._3 == MLOps.GmmVarFloor, s"collapsed variance ${row._3}")
    // and a healthy component is untouched by the guard
    val Seq(w2, m2, v2) =
      MLOps.gmmMStep(lit(2000000000L), lit(6000000L), lit(20000000L))
    val ok = spark.range(1).select(w2.as("w"), m2.as("m"), v2.as("v"))
      .as[(Double, Double, Double)].head()
    assert(ok == ((2.0, 3.0, 1.0)), s"healthy M-step drifted: $ok")
  }

  test("ml_bt_strength: an always-losing type keeps strictly positive strength") {
    // Planted fixture forcing the +0.5 pseudo-win branch: every user
    // has view > click > purchase counts, so "purchase" never wins a
    // decisive comparison (wi = 0). Without the pseudo-win floor its
    // strength pins at exactly 0 from round 1 — the guard keeps it
    // strictly positive and the trajectory ordered view > click >
    // purchase at every step.
    val dir = "target/tmp/bt_loser_fixture"
    val base = java.sql.Timestamp.valueOf("2024-03-01 00:00:00")
    val rows = for {
      u <- 1L to 4L
      (t, n) <- Seq(("view", 3), ("click", 2), ("purchase", 1))
      i <- 1 to n
    } yield (u * 100 + i, new java.sql.Timestamp(
      base.getTime + u * 3600000L + i * 60000L), u, t, 1.0, "{}")
    rows.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/events.parquet")
    val got = SparkEntry.queries("ml_bt_strength")(spark, dir)
      .as[(Int, String, Long, Double)].collect()
    import graft.ops.MLOps.BtRounds
    assert(got.map(_._1).distinct.sorted.toSeq == (1 to BtRounds).toSeq)
    got.groupBy(_._1).foreach { case (k, rs) =>
      val byType = rs.map(r => r._2 -> r._3).toMap
      assert(byType.keySet == Set("view", "click", "purchase"),
        s"step $k lost a type: ${byType.keySet}")
      assert(byType("purchase") > 0L,
        s"step $k: always-losing type pinned at ${byType("purchase")}")
      assert(byType("view") > byType("click") &&
        byType("click") > byType("purchase"),
        s"step $k strength order broken: $byType")
    }
  }

  test("ml_gbm_stumps: exact residual-trajectory replay; MSE monotone") {
    val base = graft.ops.Tables.embeddings(spark, sf)
      .select($"vec_id",
        round(element_at($"embedding", 1).cast("double") * 1e6, 0)
          .cast("long"),
        round(element_at($"embedding", 2).cast("double") * 1e6, 0)
          .cast("long"),
        round(element_at($"embedding", 3).cast("double") * 1e6, 0)
          .cast("long"),
        round(element_at($"embedding", 4).cast("double") * 1e6, 0)
          .cast("long"))
      .as[(Long, Long, Long, Long, Long)].collect()
    val feats: Map[Long, Array[(Long, Long)]] = Map(
      1L -> base.map(r => r._1 -> r._2), 2L -> base.map(r => r._1 -> r._3),
      3L -> base.map(r => r._1 -> r._4))
    val bins: Map[Long, Map[Long, Long]] = feats.flatMap { case (j, xs) =>
      val (lo, hi) = (xs.map(_._2).min, xs.map(_._2).max)
      if (hi == lo) None
      else Some(j -> xs.map { case (id, v) =>
        id -> (v - lo) * 1000 / (hi - lo + 1) }.toMap)
    }
    def rnd(x: Double): Long =
      (if (x >= 0) math.floor(x + 0.5) else math.ceil(x - 0.5)).toLong
    val n = base.length.toLong
    val f0 = rnd(base.iterator.map(_._5).sum.toDouble / n)
    var res: Map[Long, Long] = base.map(r => r._1 -> (r._5 - f0)).toMap
    def r6(x: Double) =
      BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    val rounds = (1 to 3).map { _ =>
      val cands = bins.keys.toSeq.sorted.flatMap { j =>
        val bj = bins(j)
        val hist = bj.groupBy(_._2).view.mapValues(_.keys.toSeq).toMap
        val st = bj.keys.iterator.map(res).sum
        val nt = bj.size.toLong
        var (sl, nl) = (0L, 0L)
        hist.keys.toSeq.sorted.flatMap { b =>
          sl += hist(b).map(res).sum
          nl += hist(b).size
          if (nl < nt) {
            val (sr, nr) = (st - sl, nt - nl)
            Seq((j, b, sl, nl, sr, nr,
              sl.toDouble * sl / nl + sr.toDouble * sr / nr))
          } else Seq.empty
        }
      }
      // argmax gain with (gain desc, j, bin) tie-break
      val (j, b, sl, nl, sr, nr, _) =
        cands.minBy(c => (-c._7, c._1, c._2))
      val cl = rnd(sl.toDouble / nl * 0.5)
      val cr = rnd(sr.toDouble / nr * 0.5)
      res = res.map { case (id, r) =>
        val c = bins(j).get(id)
          .map(bb => if (bb <= b) cl else cr).getOrElse(0L)
        id -> (r - c)
      }
      val mse = r6(res.values.iterator.map(r => r * r).sum.toDouble
        / n / 1e12)
      (j, b, r6(cl.toDouble / 1e6), r6(cr.toDouble / 1e6), mse)
    }
    val got = SparkEntry.queries("ml_gbm_stumps")(spark, sf)
      .as[(Long, Long, Long, Double, Double, Double)].collect().sortBy(_._1)
    assert(got.length == 3)
    got.zip(rounds).foreach { case ((t, j, b, ll, lr, mse), rp) =>
      assert((j, b) == ((rp._1, rp._2)), s"round $t stump")
      assert(ll == rp._3 && lr == rp._4, s"round $t leaves")
      assert(mse == rp._5, s"round $t mse $mse vs ${rp._5}")
    }
    // squared-loss boosting with per-leaf shrinkage can't increase MSE
    // beyond rounding dust
    got.map(_._6).sliding(2).foreach { case Array(a, b2) =>
      assert(b2 <= a + 1e-9, s"train MSE rose: $a -> $b2") }
  }

  test("ml_adaboost_stumps: exact 3-round integer-trajectory replay") {
    // Mirror of the relational recurrence: nano-long weights, weighted
    // 1000-bin histograms on the fixed per-feature grid, (eps, j, bin,
    // pol) argmin, eps clamp at sw/1000, micro-quantized exp factors,
    // truncating integer weight update. Any divergence between this
    // replay and the query is a changed trajectory, not noise.
    val base = graft.ops.Tables.embeddings(spark, sf)
      .select($"vec_id",
        round(element_at($"embedding", 1).cast("double") * 1e6, 0)
          .cast("long"),
        round(element_at($"embedding", 2).cast("double") * 1e6, 0)
          .cast("long"),
        round(element_at($"embedding", 3).cast("double") * 1e6, 0)
          .cast("long"),
        when($"label" === 1, 1L).otherwise(-1L))
      .as[(Long, Long, Long, Long, Long)].collect()
    val feats: Map[Long, Array[(Long, Long)]] = Map(
      1L -> base.map(r => r._1 -> r._2), 2L -> base.map(r => r._1 -> r._3),
      3L -> base.map(r => r._1 -> r._4))
    val y = base.map(r => r._1 -> r._5).toMap
    val n = base.length.toLong
    // fixed grid + bins, constant features dropped
    val bins: Map[Long, Map[Long, Long]] = feats.flatMap { case (j, xs) =>
      val (lo, hi) = (xs.map(_._2).min, xs.map(_._2).max)
      if (hi == lo) None
      else Some(j -> xs.map { case (id, v) =>
        id -> (v - lo) * 1000 / (hi - lo + 1) }.toMap)
    }
    var w: Map[Long, Long] = base.map(r => r._1 -> 1000000000L / n).toMap
    def rnd(x: Double): Long =
      (if (x >= 0) math.floor(x + 0.5) else math.ceil(x - 0.5)).toLong
    case class Pick(j: Long, bin: Long, pol: Long, eps: Long, sw: Long,
                    alpha: Double, alphaNano: Long, fup: Long, fdn: Long)
    val picks = (1 to 3).map { _ =>
      val cands = bins.keys.toSeq.sorted.flatMap { j =>
        val bj = bins(j)
        val hist = bj.groupBy(_._2).view.mapValues(_.keys.toSeq).toMap
        val sortedBins = hist.keys.toSeq.sorted
        // NB: bj.keys is a Set — map through w BEFORE summing would
        // dedup equal weights; iterate instead
        val (tpos, tneg) = (
          bj.keys.iterator.filter(y(_) == 1L).map(w).sum,
          bj.keys.iterator.filter(y(_) == -1L).map(w).sum)
        var (cpos, cneg, cn) = (0L, 0L, 0L)
        sortedBins.flatMap { b =>
          val ids = hist(b)
          cpos += ids.filter(y(_) == 1L).map(w).sum
          cneg += ids.filter(y(_) == -1L).map(w).sum
          cn += ids.size
          if (cn < bj.size)
            Seq((j, b, 1L, cneg + (tpos - cpos), tpos + tneg),
              (j, b, -1L, cpos + (tneg - cneg), tpos + tneg))
          else Seq.empty
        }
      }
      val (j, b, pol, eps, sw) =
        cands.minBy(c => (c._4, c._1, c._2, c._3))
      val epsc = math.max(eps, sw / 1000)
      val alpha = math.log((sw - epsc).toDouble / epsc) * 0.5
      val pk = Pick(j, b, pol, eps, sw, alpha, rnd(alpha * 1e9),
        rnd(math.exp(alpha) * 1e6), rnd(math.exp(-alpha) * 1e6))
      w = w.map { case (id, wi) =>
        val h = bins(pk.j).get(id)
          .map(bb => if (bb <= pk.bin) pk.pol else -pk.pol).getOrElse(0L)
        id -> (if (h == y(id)) wi * pk.fdn / 1000000L
               else wi * pk.fup / 1000000L)
      }
      pk
    }
    def r6(x: Double) =
      BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    val got = SparkEntry.queries("ml_adaboost_stumps")(spark, sf)
      .as[(Long, Long, Long, Long, Double, Double, Double)].collect()
      .sortBy(_._1)
    assert(got.length == 3)
    got.zip(picks).zipWithIndex.foreach { case (((t, j, b, pol, er, al, _),
        pk), i) =>
      assert(t == i + 1)
      assert((j, b, pol) == ((pk.j, pk.bin, pk.pol)),
        s"round $t stump ($j,$b,$pol) vs replay (${pk.j},${pk.bin},${pk.pol})")
      assert(er == r6(pk.eps.toDouble / pk.sw), s"round $t eps_rate")
      assert(al == r6(pk.alpha), s"round $t alpha")
      assert(al >= 0.0 && er <= 0.5 + 1e-9,
        s"round $t polarity argmin violated: eps_rate $er alpha $al")
    }
    // ensemble accuracy replay (sign with s = 0 -> +1)
    val score = base.map { r =>
      val s0 = picks.map { pk =>
        bins(pk.j).get(r._1)
          .map(bb => if (bb <= pk.bin) pk.pol else -pk.pol).getOrElse(0L)
          .*(pk.alphaNano)
      }.sum
      (if (s0 >= 0L) 1L else -1L) == r._5
    }
    val exp = r6(score.count(identity).toDouble / n)
    assert(got.head._7 == exp, s"ens_train_acc ${got.head._7} vs $exp")
    // AdaBoost invariant: the unnormalized weight total never grows
    assert(w.values.sum <= 1000000000L,
      s"weight mass grew: ${w.values.sum}")
  }

}
