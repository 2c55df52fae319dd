package graft

import org.apache.spark.sql.functions._
import graft.functions.{MinHashSig, PolyHash, ShingleHashes}
import graft.ops.DedupOps

/** Dedup-suite semantics: hash determinism, LSH recall vs the exact
  * verifier, guards.
  */
class DedupSpec extends SparkSpec {
  import spark.implicits._

  private def refHash(s: String): Long = {
    var acc = 0L
    s.codePoints().toArray.foreach(cp => acc = (acc * 131 + cp) % 1000000007L)
    acc
  }

  private def refHash2(s: String): Long = {
    var acc = 0L
    s.codePoints().toArray.foreach(cp => acc = (acc * 137 + cp) % 1000000009L)
    acc
  }

  /** Packed ~60-bit pair — the round-12 wide-hash contract. */
  private def refWide(s: String): Long = refHash(s) * 2147483648L + refHash2(s)

  test("PolyHash matches the reference recurrence and the HOF form") {
    val inputs = Seq("", "a", "spark", "hello world", "ünïcode")
    val got = inputs.toDF("s")
      .select(PolyHash.poly_hash($"s").as("h")).as[Long].collect()
    assert(got.toSeq == inputs.map(refHash))
    // HOF equivalence (the interpreted form the oracle mirrors)
    val hof = inputs.toDF("s").select(
      aggregate(split($"s", ""), lit(0L),
        (acc, ch) => (acc * 131L + ascii(ch).cast("long")) % 1000000007L).as("h"))
      .as[Long].collect()
    assert(hof.toSeq == got.toSeq)
  }

  test("ShingleHashes equals packed-pair hashing of the 3-gram shingle strings") {
    val text = "the quick brown fox jumps over the lazy dog"
    val toksArr = text.split(" ").toSeq
    val expected = toksArr.sliding(3).map(w => refWide(w.mkString(" "))).toSeq.distinct
    val got = Seq(toksArr).toDF("t")
      .select(ShingleHashes.poly_shingles($"t").as("xs"))
      .as[Seq[Long]].collect().head
    assert(got.sorted == expected.sorted)
  }

  test("ShingleHashes of short token arrays is empty (no descending-sequence garbage)") {
    val got = Seq(Seq("a", "b")).toDF("t")
      .select(ShingleHashes.poly_shingles($"t").as("xs"))
      .as[Seq[Long]].collect().head
    assert(got.isEmpty)
    val viaColumn = Seq("a b").toDF("text")
      .select(DedupOps.shingles($"text").as("s"))
      .as[Seq[String]].collect().head
    assert(viaColumn.isEmpty)
  }

  test("MinHashSig equals the relational per-permutation min aggregation") {
    import graft.functions.MinHashSig
    val xs = Seq(Seq(5L, 99L, 123456789L, 7L), Seq(42L))
    val viaExpr = xs.toDF("xs")
      .select(MinHashSig.min_hash_sig($"xs").as("mh"))
      .as[Seq[Long]].collect().toSeq
    val want = xs.map { set =>
      MinHashSig.seeds.map { case (a, b) =>
        set.map(x => (a * (x % MinHashSig.P) + b) % MinHashSig.P).min
      }.toSeq
    }
    assert(viaExpr == want)
  }

  test("MinHashSig matches reference arithmetic on random arrays (seeded, 50 samples)") {
    import graft.functions.MinHashSig
    val rnd = new scala.util.Random(7)
    // domain = the packed 61-bit wide-hash range, so the mod-P input
    // reduction is actually exercised (not just values already < P)
    val samples = Seq.fill(50)(
      Seq.fill(rnd.nextInt(40) + 1)(rnd.nextLong().abs % (1L << 61)))
    val got = samples.toDF("xs")
      .select(MinHashSig.min_hash_sig($"xs").as("mh"))
      .as[Seq[Long]].collect().toSeq
    val want = samples.map { set =>
      MinHashSig.seeds.map { case (a, b) =>
        set.map(x => (a * (x % MinHashSig.P) + b) % MinHashSig.P).min
      }.toSeq
    }
    assert(got == want)
  }

  test("exact dedup removes the constructed duplicates") {
    val docs = spark.read.parquet(s"$sf/documents.parquet").count()
    val out = SparkEntry.queries("dedup_exact")(spark, sf)
    // survivors = original corpus size (every injected copy is a dup)
    assert(out.count() == docs)
    assert(out.filter($"doc_id" >= 1000000).count() == 0)
  }

  test("MinHash-LSH finds exactly the exact-Jaccard pairs on this corpus") {
    val exact = SparkEntry.queries("dedup_ngram_jaccard")(spark, sf)
      .as[(Long, Long, Double)].collect().toSet
    val lsh = SparkEntry.queries("dedup_minhash_lsh")(spark, sf)
      .as[(Long, Long, Double)].collect().toSet
    assert(lsh.subsetOf(exact)) // LSH candidates are verified => no false positives
    assert(lsh == exact)        // at s>=0.8 with 8x4 bands, recall is ~1 here
  }

  test("MinHash-LSH verified on the cached arrays equals the exploded-join verifier") {
    // The verifier dedup_minhash_lsh used before it read the cached
    // shingle arrays: the same signatures and band candidates, then
    // explode → join on (pair, hash) → count per pair → join both sizes.
    def exploded(dir: String) = {
      val sh = graft.ops.Tables.documents(spark, dir)
        .select($"doc_id", filter(split(lower($"text"), "\\s+"), t => length(t) > 0).as("t"))
        .select($"doc_id", ShingleHashes.poly_shingles($"t").as("xs"))
        .filter(size($"xs") >= 1)
      val bands = sh.select($"doc_id", MinHashSig.min_hash_sig($"xs").as("mh"))
        .select($"doc_id", posexplode(array((0 until DedupOps.NumBands).map { b =>
          concat_ws("_", (0 until DedupOps.RowsPerBand).map(r =>
            element_at($"mh", b * DedupOps.RowsPerBand + r + 1).cast("string")): _*)
        }: _*))).toDF("doc_id", "band", "key")
      val cands = bands.toDF("d1", "band", "key")
        .join(bands.toDF("d2", "band", "key"), Seq("band", "key"))
        .filter($"d1" < $"d2").select("d1", "d2").distinct()
      val e = sh.select($"doc_id", explode($"xs").as("sh"))
      val sizes = sh.select($"doc_id", size($"xs").as("sz"))
      cands.join(e.toDF("d1", "sh"), "d1").join(e.toDF("d2", "sh"), Seq("d2", "sh"))
        .groupBy($"d1", $"d2").agg(count(lit(1)).as("inter"))
        .join(sizes.toDF("d1", "s1"), "d1").join(sizes.toDF("d2", "s2"), "d2")
        .withColumn("jaccard", round($"inter" / ($"s1" + $"s2" - $"inter"), 6))
        .filter($"jaccard" >= 0.8).select("d1", "d2", "jaccard").orderBy("d1", "d2")
        .collect().map(_.toSeq).toSeq
    }
    // sf0.001 plants only exact dups (jaccard 1); the second fixture adds
    // partial overlaps on both sides of the gate: docs of 38 shared + u
    // own tokens, j = 36/(36 + 2u) for u = 8, 4, 2 (0.69, 0.82, 0.9)
    withTempDir("graft_lsh_verify") { dir =>
      Seq(8, 4, 2).flatMap { u =>
        (0 until 10).flatMap { p =>
          val common = (0 until 38).map(k => s"c${u}p${p}x$k")
          Seq("l", "r").map(side => (common ++ (0 until u).map(k => s"$side${u}p${p}x$k")).mkString(" "))
        }
      }.zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")
        .withColumn("lang", lit("en")).withColumn("source", lit("fx"))
        .withColumn("n_chars", length($"text"))
        .coalesce(1).write.parquet(s"$dir/documents.parquet")
      try {
        for (d <- Seq(sf, dir)) {
          val q = SparkEntry.queries("dedup_minhash_lsh")(spark, d)
          val got = q.collect().map(_.toSeq).toSeq
          assert(got.nonEmpty && got == exploded(d), d)
          // verification reads the arrays: no shingle-hash explode left
          assert(q.queryExecution.optimizedPlan.collect {
            case g: org.apache.spark.sql.catalyst.plans.logical.Generate
              if g.generator.isInstanceOf[org.apache.spark.sql.catalyst.expressions.Explode] => g
          }.isEmpty, d)
        }
        assert(exploded(dir).map(_(2)).toSet.size > 1) // partial Jaccards verified
      } finally graft.ops.Memo.clear()
    }
  }

  test("LSH PR eval reproduces the banding S-curve on planted partial overlaps") {
    // The testdata corpus only plants EXACT duplicates (one jaccard
    // bucket), so the S-curve is exercised on a constructed fixture:
    // 30 doc pairs per target jaccard j ∈ {0.5, 0.6, 0.69, 0.82, 0.9},
    // built from a shared token prefix (c+u-token docs share exactly
    // c−2 of their c+u−2 shingles → j = (c−2)/(c−2+2u), exact by
    // construction with per-pair vocabularies). Measured per-bucket
    // recall must track the 8-band × 4-row theory p(j) = 1−(1−j⁴)⁸
    // within sampling noise, and the two tails must pin: high-j pairs
    // nearly always caught, j=0.5 pairs missed often.
    withTempDir("graft_lsh_pr") { dir =>
      val us = Seq(18, 12, 8, 4, 2) // u → j = 36/(36+2u)
      val docs = scala.collection.mutable.ArrayBuffer.empty[(Long, String)]
      var id = 0L
      for ((u, bi) <- us.zipWithIndex; p <- 0 until 30) {
        val tag = s"b${bi}p$p"
        val common = (0 until 38).map(k => s"c${tag}x$k")
        val u1 = (0 until u).map(k => s"l${tag}x$k")
        val u2 = (0 until u).map(k => s"r${tag}x$k")
        docs += ((id, (common ++ u1).mkString(" "))); id += 1
        docs += ((id, (common ++ u2).mkString(" "))); id += 1
      }
      docs.toSeq.toDF("doc_id", "text")
        .withColumn("lang", lit("en")).withColumn("source", lit("fx"))
        .withColumn("n_chars", length($"text"))
        .coalesce(1).write.mode("overwrite").parquet(s"$dir/documents.parquet")
      try {
        val rows = SparkEntry.queries("dedup_lsh_pr_eval")(spark, dir)
          .as[(Long, Long, Long, Double, Long, Double)].collect()
          .map(r => r._1 -> r).toMap
        def theory(j: Double): Double = 1.0 - math.pow(1.0 - math.pow(j, 4), 8)
        us.foreach { u =>
          val j = 36.0 / (36 + 2 * u)
          val bucket = math.min((j * 10).floor.toLong, 9L)
          val r = rows(bucket)
          assert(r._2 >= 30, s"bucket $bucket lost true pairs: ${r._2}")
          assert(math.abs(r._4 - theory(j)) <= 0.35,
            s"bucket $bucket recall ${r._4} vs theory ${theory(j)} (j=$j)")
        }
        assert(rows(9)._4 >= 0.9, s"high-j tail: ${rows(9)._4}")
        assert(rows(5)._4 <= 0.85, s"low-j tail: ${rows(5)._4}")
      } finally graft.ops.Memo.clear()
    }
  }

  test("embedding LSH is non-vacuous and recalls the brute-force >=0.9 pairs") {
    val corpus = DedupOps.plantedEmbeddingCorpus(spark, sf)
      .select($"vec_id", $"e", $"norm")
    // brute-force verifier over the same planted corpus: every pair at
    // cosine >= 0.9 (tiny N — spec-only; the query under test is the
    // sub-quadratic path)
    val a = corpus.toDF("v1", "e1", "n1")
    val b = corpus.toDF("v2", "e2", "n2")
    val brute = a.crossJoin(b).filter($"v1" < $"v2")
      .withColumn("cosine",
        graft.functions.VecDot.vec_dot($"e1", $"e2") / ($"n1" * $"n2"))
      .filter($"cosine" >= 0.9)
      .select($"v1", $"v2").as[(Long, Long)].collect().toSet
    val lsh = SparkEntry.queries("dedup_embedding_lsh")(spark, sf)
      .select($"v1", $"v2").as[(Long, Long)].collect().toSet
    // planting must actually produce near-dups (the round-2 +2.0 bump
    // made this query vacuously empty — cosine landed at ~0.45)
    assert(brute.nonEmpty, "planted corpus has no pairs >= 0.9: planting is broken")
    assert(lsh.subsetOf(brute)) // exact rescore => no false positives
    val recall = brute.count(lsh.contains).toDouble / brute.size
    assert(recall >= 0.9, s"embedding-LSH recall $recall (${lsh.size}/${brute.size})")
  }

  test("embedding-cosine block join covers pairs in BOTH block orientations") {
    val out = SparkEntry.queries("dedup_embedding_cosine")(spark, sf)
      .select($"v1", $"v2").as[(Long, Long)].collect()
    // round-2 bug: only blk(v1) <= blk(v2) pairs were reachable; assert
    // both orientations occur (blk = vec_id % 8)
    assert(out.exists { case (v1, v2) => v1 % 8 > v2 % 8 },
      s"no pair with blk(v1) > blk(v2) — triangle enumeration regression: ${out.toSeq}")
    assert(out.forall { case (v1, v2) => v1 < v2 })
    assert(out.distinct.length == out.length)
  }

  test("prefix-filtered join is lossless and its index is strictly smaller") {
    // losslessness: PPJoin-style candidates produce EXACTLY the
    // full-inverted-index result at the same threshold
    val full = SparkEntry.queries("dedup_ngram_jaccard")(spark, sf)
      .collect().map(_.toSeq).toSeq
    val pref = SparkEntry.queries("dedup_prefix_filter")(spark, sf)
      .collect().map(_.toSeq).toSeq
    assert(pref == full && pref.nonEmpty)
    // and the prefix guarantee is doing real work: the prefix index is
    // a strict subset of the full shingle index
    import org.apache.spark.sql.functions._
    val docs = graft.ops.Tables.documents(spark, sf)
      .select($"doc_id", graft.ops.TextOps.tokens($"text").as("t"))
      .select($"doc_id",
        graft.functions.ShingleHashes.poly_shingles($"t").as("xs"))
      .filter(size($"xs") >= 1)
    val fullIdx = docs.select(explode($"xs")).count()
    val prefIdx = docs
      .select((size($"xs") - ceil(lit(0.8) * size($"xs")) + 1).as("p"))
      .agg(sum($"p")).as[Long].collect().head
    assert(prefIdx < fullIdx)
  }

  test("large-star/small-star CC resolves adversarial chains to their minima") {
    // the high-diameter path is exactly where the star algorithm earns
    // its keep: edge rewriting halves the diameter every other round
    val chain = (0L until 200L).sliding(2).map(w => (w(0), w(1))).toSeq
    val got = DedupOps.ccStars(spark, chain.toDF("d1", "d2"))
      .as[(Long, Long)].collect().toSet
    assert(got == (0L until 200L).map(n => (n, 0L)).toSet)
    // a second chain (plus a chord inside the first) resolves to its own minimum
    val two = chain ++ Seq((1000L, 1001L), (1001L, 1002L), (7L, 3L))
    val got2 = DedupOps.ccStars(spark, two.toDF("d1", "d2"))
      .as[(Long, Long)].collect().toSet
    assert(got2 == ((0L until 200L).map(n => (n, 0L)) ++
      Seq((1000L, 1000L), (1001L, 1000L), (1002L, 1000L))).toSet)
  }

  test("star-CC submits one job per round on the 200-node chain") {
    // the rounds are a fixed-plan RDD kernel: one count per round (the
    // convergence test), plus c = 2 — the star test of the input edge
    // set and the collect of the labels. The local input plans no
    // exchange, so turning it into the edge RDD submits nothing.
    val chain = (0L until 200L).sliding(2).map(w => (w(0), w(1))).toSeq.toDF("d1", "d2")
    val ((labels, rounds), jobs) = countJobs {
      val (cc, r) = DedupOps.ccStarRounds(spark, chain)
      (cc.as[(Long, Long)].collect().toSet, r)
    }
    assert(labels == (0L until 200L).map(n => (n, 0L)).toSet)
    assert(rounds > 1, "a 200-node chain is no star forest")
    assert(jobs == rounds + 2, s"$jobs jobs for $rounds rounds")
  }

  test("star-CC labels and schema do not depend on the input's partitioning") {
    val rnd = new scala.util.Random(7)
    val edges = (0L until 200L).sliding(2).map(w => (w(0), w(1))).toSeq ++
      Seq.fill(150)((rnd.nextInt(400).toLong, rnd.nextInt(400).toLong))
    val df = edges.toDF("d1", "d2")
    val Seq(one, seven) = Seq(1, 7).map(n =>
      DedupOps.ccStars(spark, df.repartition(n)).as[(Long, Long)].collect().toSet)
    assert(one == seven && one.nonEmpty)
    // names, types and nullability follow the input ids
    import org.apache.spark.sql.types._
    def schema(nullable: Boolean) = StructType(Seq(
      StructField("node", LongType, nullable), StructField("lbl", LongType, nullable)))
    assert(DedupOps.ccStars(spark, df).schema == schema(false))
    val opt = Seq((Option(1L), Option(2L)), (None, Option(3L))).toDF("d1", "d2")
    assert(DedupOps.ccStars(spark, opt).schema == schema(true))
  }

  test("star-CC resolves a clique and a high-degree hub") {
    // the skewed shapes: every node of a 60-clique is everyone's
    // neighbor, and a hub above 3000 leaves has every leaf as a parent
    // until small-star re-attaches them all to the least leaf
    val clique = for (a <- 0L until 60L; b <- (a + 1) until 60L) yield (b, a)
    val hub = (10000L until 13000L).map(x => (20000L, x))
    val got = DedupOps.ccStars(spark, (clique ++ hub).toDF("d1", "d2"))
      .as[(Long, Long)].collect().toSet
    assert(got == ((0L until 60L).map(n => (n, 0L)) ++
      (10000L until 13000L).map(n => (n, 10000L)) :+ ((20000L, 10000L))).toSet)
  }

  test("large-star/small-star CC matches union-find on seeded random graphs") {
    // property sweep: sparse, dense, and multi-component regimes; the
    // distributed kernel must agree with a local union-find on every
    // instance
    val rnd = new scala.util.Random(42)
    Seq((40, 25), (40, 80), (200, 60)).foreach { case (n, m) =>
      val edges = Seq.fill(m)((rnd.nextInt(n).toLong, rnd.nextInt(n).toLong))
        .filter(e => e._1 != e._2)
      val parent = scala.collection.mutable.Map.empty[Long, Long]
      def find(x: Long): Long = {
        val p = parent.getOrElse(x, x)
        if (p == x) x else { val r = find(p); parent(x) = r; r }
      }
      edges.foreach { case (a, b) =>
        val (ra, rb) = (find(a), find(b))
        if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
      }
      val nodes = edges.flatMap(e => Seq(e._1, e._2)).distinct
      val want = nodes.map(v => (v, find(v))).toSet
      val df = edges.toDF("d1", "d2")
      val star = DedupOps.ccStars(spark, df).as[(Long, Long)].collect().toSet
      assert(star == want, s"ccStars wrong on n=$n m=$m")
    }
  }

  test("cluster reps equal a union-find over the same near-dup pairs") {
    val pairs = SparkEntry.queries("dedup_ngram_jaccard")(spark, sf)
      .select($"d1", $"d2").as[(Long, Long)].collect()
    // local union-find ground truth
    val parent = scala.collection.mutable.Map.empty[Long, Long]
    def find(x: Long): Long = {
      val p = parent.getOrElse(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    pairs.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    val nodes = pairs.flatMap(p => Seq(p._1, p._2)).distinct
    val want = nodes.map(n => (n, find(n))).sortBy(_._1).toSeq
    assert(want.nonEmpty)
    // both registered names, each checked against the union-find
    for (q <- Seq("dedup_cluster_reps", "dedup_cluster_reps_star")) {
      val got = SparkEntry.queries(q)(spark, sf)
        .select($"doc_id", $"cluster_rep").as[(Long, Long)].collect().toSeq
      assert(got == want, q)
      // survivors are exactly the per-cluster minima
      val survivors = SparkEntry.queries(q)(spark, sf)
        .filter($"is_survivor").select($"doc_id").as[Long].collect().toSet
      assert(survivors == want.map(_._2).toSet, q)
    }
  }

  test("LSH-fed cluster reps equal the exact-pair clustering at the 0.8 gate") {
    // the round-16 composition closure: the production dedup query
    // (banded-LSH candidates → exact verify → star-CC → survivor) must
    // agree bit-for-bit with the exact-verifier-fed clustering on this
    // corpus, where every planted near-dup is exact (j = 1 collides in
    // every band, so LSH recall is exactly 1 at the 0.8 gate)
    val viaLsh = SparkEntry.queries("dedup_cluster_reps_lsh")(spark, sf)
      .collect().map(_.toSeq).toSeq
    val viaExact = SparkEntry.queries("dedup_cluster_reps")(spark, sf)
      .collect().map(_.toSeq).toSeq
    assert(viaLsh == viaExact && viaLsh.nonEmpty)
    // and the pair sources themselves agree here (the premise above):
    // if the corpus ever gains organic partial-overlap pairs below the
    // always-caught j=1 region, this assert localizes the divergence to
    // the pair source rather than the clustering
    val lshPairs = SparkEntry.queries("dedup_minhash_lsh")(spark, sf)
      .select($"d1", $"d2").as[(Long, Long)].collect().toSet
    val exactPairs = SparkEntry.queries("dedup_ngram_jaccard")(spark, sf)
      .select($"d1", $"d2").as[(Long, Long)].collect().toSet
    assert(lshPairs == exactPairs)
  }

  test("LSH-fed leakage audit equals the exact-pair audit at the 0.8 gate") {
    // round-17 composition closure (the audit analogue of the cluster
    // test above): the production split_leakage_audit_lsh consumes the
    // banded-LSH verified pairs; on this corpus every planted near-dup
    // is exact (j = 1 collides in every band → LSH recall = 1 at the
    // 0.8 gate), so the two audits must agree bit-for-bit. On a corpus
    // with organic partial-overlap pairs the divergence is priced by
    // dedup_lsh_pr_eval's S-curve, not a bug.
    val viaLsh = SparkEntry.queries("split_leakage_audit_lsh")(spark, sf)
      .collect().map(_.toSeq).toSeq
    val viaExact = SparkEntry.queries("split_leakage_audit")(spark, sf)
      .collect().map(_.toSeq).toSeq
    assert(viaLsh == viaExact && viaLsh.nonEmpty)
    // non-vacuous: at least one cross-split (leaking) cell must exist —
    // the planted duplicates get re-keyed ids, which hash to arbitrary
    // splits, so some pair must straddle a boundary
    assert(viaLsh.exists(r => r(3) == true), "no leaking cell — audit vacuous")
  }

  test("contamination report excludes benchmark docs and bounds ratios") {
    val rows = SparkEntry.queries("dedup_contamination")(spark, sf)
      .as[(Long, Long, Int, Double)].collect()
    assert(rows.nonEmpty, "no corpus doc shares any shingle with the benchmark subset")
    assert(rows.forall { case (id, shared, total, ratio) =>
      id % 97 != 0 && shared >= 1 && shared <= total &&
        ratio > 0.0 && ratio <= 1.0
    })
  }

  test("substring spans: every planted half-doc is fully flagged") {
    val rows = SparkEntry.queries("dedup_substring_spans")(spark, sf)
      .as[(Long, Long, Long, Double)].collect()
    val byId = rows.map(r => r._1 -> r).toMap
    val planted = rows.filter(_._1 >= 2000000)
    assert(planted.nonEmpty)
    planted.foreach { case (id, nw, ns, ratio) =>
      // every window of a half-doc copy exists in its source doc
      assert(ns == nw && ratio == 1.0, s"half-doc $id not fully flagged")
      // and the source doc itself is flagged too
      assert(byId.contains(id - 2000000), s"source of $id missing")
    }
    assert(rows.forall { case (_, nw, ns, r) =>
      ns >= 1 && ns <= nw && r > 0.0 && r <= 1.0
    })
  }

  test("exact substring dedup: spans are truly exact and halves fully recovered") {
    val rows = SparkEntry.queries("dedup_substring_exact")(spark, sf)
      .as[(Long, Long, Long, Int, Int)].collect()
    assert(rows.nonEmpty)
    // rebuild the exact token corpus (originals + planted halves)
    val toks = graft.ops.Tables.documents(spark, sf)
      .select($"doc_id", filter(split(lower($"text"), "\\s+"),
        t => length(t) > 0).as("tk"))
      .as[(Long, Seq[String])].collect().toMap
    def tk(id: Long): Seq[String] =
      if (id >= 2000000) { val t = toks(id - 2000000); t.take(t.length / 2) }
      else toks(id)
    // every reported span is an exact token-for-token duplicate — the
    // paper's verify-exactly pass, run as the test oracle
    rows.foreach { case (d1, d2, span, s1, s2) =>
      assert(span >= 25)
      val a = tk(d1).slice(s1, s1 + span.toInt)
      val b = tk(d2).slice(s2, s2 + span.toInt)
      assert(a.length == span && a == b, s"span ($d1,$d2) not an exact dup")
    }
    // every planted half long enough to clear the 25-token report floor
    // is recovered at FULL half length, anchored at offset 0 of both
    val pairs = rows.map(r => (r._1, r._2) -> r).toMap
    toks.keys.filter(id => id % 50 == 0 && toks(id).length / 2 >= 25)
      .foreach { id =>
        val half = toks(id).length / 2
        val hit = pairs.get((id, id + 2000000))
        assert(hit.nonEmpty, s"planted pair for doc $id missing")
        val (_, _, span, s1, s2) = hit.get
        assert(span == half && s1 == 0 && s2 == 0,
          s"doc $id: expected full-half span $half, got $span@($s1,$s2)")
      }
  }

  test("simhash near-dup candidates cover most true near-dup pairs") {
    val truePairs = SparkEntry.queries("dedup_ngram_jaccard")(spark, sf)
      .select("d1", "d2").as[(Long, Long)].collect().toSet
    val simPairs = SparkEntry.queries("dedup_simhash_pairs")(spark, sf)
      .select("d1", "d2").as[(Long, Long)].collect().toSet
    if (truePairs.nonEmpty) {
      val recall = truePairs.count(simPairs.contains).toDouble / truePairs.size
      assert(recall >= 0.7, s"simhash recall $recall")
    }
  }

  test("URL canonicalizer collapses every synthesized variant cleanly") {
    val rows = SparkEntry.queries("dedup_url_canonical")(spark, sf)
      .as[(String, Long, Long, Long)].collect()
    assert(rows.nonEmpty)
    rows.foreach { case (canon, nDocs, nRaw, firstDoc) =>
      // every distinct raw form landed in the group (nothing split off),
      // and the 4 variants of a full page are all string-distinct
      assert(nDocs == nRaw, s"$canon: $nDocs docs but $nRaw raw forms")
      assert(nDocs == 4, s"$canon: expected the full 4-variant group")
      assert(firstDoc % 4 == 0, s"$canon: first_doc $firstDoc not a page head")
      // no normalization artifact survives in the canonical key
      assert(canon.startsWith("https://"), s"non-https canonical: $canon")
      assert(!canon.contains("www.") && !canon.contains("utm_") &&
        !canon.contains("#") && !canon.endsWith("/"),
        s"unnormalized canonical: $canon")
    }
    // group count == page count (doc count divides evenly in the fixtures)
    val docs = spark.read.parquet(s"$sf/documents.parquet").count()
    assert(rows.length == (docs / 4).toInt)
  }

  test("containment dominates Jaccard and flags the asymmetric near-dups") {
    val rows = SparkEntry.queries("dedup_containment")(spark, sf)
      .as[(Long, Long, Long, Int, Int, Double, Double)].collect()
    assert(rows.nonEmpty)
    rows.foreach { case (d1, d2, inter, s1, s2, cont, jac) =>
      assert(d1 != d2)
      assert(inter <= math.min(s1, s2), s"($d1,$d2)")
      assert(cont >= 0.9 && cont <= 1.0 + 1e-9)
      assert(jac <= cont + 1e-9, s"($d1,$d2): jaccard $jac > containment $cont")
    }
    // the coefficient is genuinely directional on this corpus: some pair
    // strictly beats its jaccard (s1 < s2 somewhere), and at least one
    // flagged direction has an unflagged reverse (containment(B→A) < 0.9)
    assert(rows.exists(r => r._6 > r._7 + 1e-9), "containment == jaccard everywhere")
    val mutual = rows.count(r => rows.exists(o => o._1 == r._2 && o._2 == r._1))
    assert(mutual < rows.length, "no one-directional containment pair found")
  }

  test("source-overlap matrix is a valid Jaccard over unordered pairs") {
    val rows = SparkEntry.queries("dedup_source_overlap")(spark, sf)
      .as[(String, String, Long, Double)].collect()
    assert(rows.nonEmpty)
    rows.foreach { case (a, b, nShared, j) =>
      assert(a < b, s"pair ($a,$b) not canonically ordered")
      assert(nShared > 0)
      assert(j > 0.0 && j <= 1.0, s"($a,$b) jaccard $j")
    }
    // no pair appears twice in either orientation
    val keys = rows.map(r => (r._1, r._2))
    assert(keys.distinct.length == keys.length)
    // recompute one pair exactly from the per-source shingle sets
    val (a0, b0, n0, _) = rows.head
    val bySrc = graft.ops.Tables.documents(spark, sf)
      .select($"source", $"text").as[(String, String)].collect()
      .groupBy(_._1).view.mapValues { ds =>
        ds.flatMap { case (_, t) =>
          val toks = t.toLowerCase.split("\\s+").filter(_.nonEmpty)
          toks.sliding(3).filter(_.length == 3).map(_.mkString(" "))
        }.toSet
      }.toMap
    assert((bySrc(a0) & bySrc(b0)).size == n0,
      s"($a0,$b0): local ${(bySrc(a0) & bySrc(b0)).size} vs engine $n0")
  }

  test("oracle shingle hashing is uniformly wide (hash-width meta-guard)") {
    // The round-12 incident this automates: two oracles carried their
    // own inline copies of the shingle prelude (side-aware old/new
    // framing) and kept hashing shingle strings with the single narrow
    // polynomial after the Spark-side shingle machinery moved to the
    // packed 60-bit pair. Invisible at small SF — identical shingle
    // sets collide under ANY hash family, so planted dups still match —
    // it surfaced only as one partial-overlap band coincidence at
    // sf0.1. Guard: in every oracle, each narrow hash of the shingle
    // alias must occur only as the h1 component of the packed wide
    // form (wideHashSql embeds polyHashSql exactly once), never bare.
    val narrow = DedupOps.polyHashSql("sh")
    val wide = DedupOps.wideHashSql("sh")
    assert(wide.sliding(narrow.length).count(_ == narrow) == 1) // premise
    def occurrences(hay: String, needle: String): Int =
      hay.sliding(needle.length).count(_ == needle)
    val withShingles = SparkEntry.oracleSql.filter(_._2.contains(narrow))
    assert(withShingles.nonEmpty, "shingle-prelude oracles disappeared?")
    for ((name, sql) <- withShingles) {
      assert(occurrences(sql, narrow) == occurrences(sql, wide),
        s"$name hashes shingle strings with the bare narrow polynomial " +
          "while Spark-side shingles are packed wide pairs — the " +
          "small-SF-invisible divergence class; use wideHashSql")
    }
  }

  test("each near-dup rule is written once under src/main") {
    import java.nio.file.{Files, Paths}
    import scala.jdk.CollectionConverters._
    val sources = Files.walk(Paths.get("src/main")).iterator().asScala
      .filter(_.toString.endsWith(".scala"))
      .map(p => p.getFileName.toString -> Files.readString(p)).toSeq
    def sites(pattern: String): Map[String, Int] = sources
      .map { case (f, src) => f -> pattern.r.findAllMatchIn(src).size }
      .filter(_._2 > 0).toMap
    val once = Map("DedupOps.scala" -> 1)
    // SQL: the shingle-hash chain, the MinHash band chain, the d1 < d2
    // band self-join and the new x old probe, the exact shared-shingle
    // pair table, the candidate verify, the recursive closure (with or
    // without a name suffix), the corpus/incoming split, the fixtures,
    // the hash split and the edit-distance prefix
    assert(sites("unnest\\(shs\\)") == once)
    assert(sites("""seeds\(i, a, b\)""") == once)
    assert(sites("""a\.key = b\.key AND a\.doc_id < b\.doc_id""") == once)
    assert(sites("""n\.side = 'new' AND o\.side = 'old'""") == once)
    assert(sites("""a\.sh = b\.sh AND a\.doc_id <""") == once)
    assert(sites("""e1\.sh = e2\.sh""") == once)
    assert(sites("""reach(\$\w+)?\(a, b\)""") == once)
    assert(sites("""doc_id % 25 = 7""") == once)
    assert(sites("""\+ 1000000 AS doc_id""") == once)
    assert(sites("""tk\[1:len\(tk\)//2\]""") == once)
    assert(sites("""% 10 < 8 THEN 'train'""") == once)
    assert(sites("""substr\(text, 1, 60\)""") == once)
    // one Jaccard ratio per engine, and every gate compares it rounded
    assert(sites("""ROUND\(\$?inter \* 1\.0 / """) == once)
    assert(sites("""(?<!ROUND\(\$?)\$?inter \* 1\.0 / """).isEmpty)
    assert(sites("""(\$"s1"|(?<![\w$."])s1) \+ (\$"s2"|s2) - """) == once)
    // Spark: the shingle-hash frame build, the band self-join, the
    // fixtures, the hash split and the prefix frame
    assert(sites("""ShingleHashes\.poly_shingles\(""") == once)
    assert(sites("""\.toDF\("d1", "band", "key"\)""") == once)
    assert(sites(""""doc_id" \+ 1000000""") == once)
    assert(sites("""floor\(size\(\$"tk"\) / 2\)""") == once)
    assert(sites("""when\(bucket < 8, "train"\)""") == once)
    assert(sites("""substring\(\$"text", 1, 60\)""") == once)
  }

  test("degenerate inputs pass through the shared near-dup rules") {
    // shingle-less docs (empty, whitespace, 1 and 2 tokens: below the
    // 3-token shingle floor), three byte-identical docs and two ordinary
    // ones; then a single-row table
    val same = "the quick brown fox jumps over the lazy dog by the river"
    val docs = Seq(1L -> "", 2L -> "   \t ", 3L -> "alpha", 4L -> "alpha beta",
      12L -> same, 7L -> same, 9L -> same,
      5L -> "markets rallied on friday as oil prices fell sharply again",
      6L -> "the council approved a new budget for local schools today")
    val shingleLess = Set(1L, 2L, 3L, 4L)
    val dups = Set(7L, 9L, 12L)
    val pairQueries = Seq("dedup_ngram_jaccard", "dedup_minhash_lsh", "dedup_prefix_filter")
    def write(dir: String, rows: Seq[(Long, String)]): Unit =
      rows.toDF("doc_id", "text")
        .withColumn("lang", lit("en"))
        .withColumn("source", when($"doc_id" % 2 === 0, "a").otherwise("b"))
        .withColumn("n_chars", length($"text").cast("long"))
        .coalesce(1).write.parquet(s"$dir/documents.parquet")
    def run(dir: String): Map[String, Seq[org.apache.spark.sql.Row]] =
      (pairQueries ++ Seq("dedup_containment", "dedup_cluster_reps_lsh",
        "pipeline_dedup_corpus"))
        .map(q => q -> SparkEntry.queries(q)(spark, dir).collect().toSeq).toMap
    try {
      withTempDir("graft_dedup_degenerate") { dir =>
        write(dir, docs)
        val out = run(dir)
        for (q <- pairQueries)
          assert(out(q).map(r => (r.getLong(0), r.getLong(1))).toSet ==
            Set((7L, 9L), (7L, 12L), (9L, 12L)), q)
        val contained = out("dedup_containment").map(r => (r.getLong(0), r.getLong(1)))
        assert(contained.toSet == (for (a <- dups; b <- dups if a != b) yield (a, b)))
        assert(contained.flatMap(p => Seq(p._1, p._2)).toSet.intersect(shingleLess).isEmpty)
        val reps = out("dedup_cluster_reps_lsh")
          .map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2)))
        assert(reps.toSet == dups.map(d => (d, 7L, d == 7L)))
        // every doc is reported, shingle-less ones kept: only 9 and 12 go
        val report = out("pipeline_dedup_corpus")
        assert(report.map(_.getAs[Long]("n_docs")).sum == docs.size)
        assert(report.map(_.getAs[Long]("n_removed")).sum == 2L)
        assert(report.map(_.getAs[Long]("n_kept")).sum == docs.size - 2L)
      }
      withTempDir("graft_dedup_single") { dir =>
        write(dir, Seq(42L -> same))
        val out = run(dir)
        for (q <- pairQueries ++ Seq("dedup_containment", "dedup_cluster_reps_lsh"))
          assert(out(q).isEmpty, q)
        val report = out("pipeline_dedup_corpus")
        assert(report.map(r => (r.getAs[Long]("n_docs"), r.getAs[Long]("n_kept"),
          r.getAs[Long]("n_removed"))) == Seq((1L, 1L, 0L)))
      }
    } finally graft.ops.Memo.clear()
  }

  test("paragraph dedup: dup copies drain, originals keep every chunk once") {
    val rows = SparkEntry.queries("dedup_paragraph_exact")(spark, sf)
      .as[(Long, Long, Long, String)].collect()
    val byId = rows.map(r => r._1 -> r).toMap
    // chunk accounting: n_paras = ceil(tokens/10), kept_text re-splits
    // to exactly 10·(n_kept−1) < tokens' ≤ 10·n_kept
    rows.foreach { case (id, nParas, nKept, kept) =>
      assert(nKept >= 0 && nKept <= nParas, s"doc $id: $nKept/$nParas")
      val keptToks =
        if (kept.isEmpty) 0 else kept.split(" ").count(_.nonEmpty)
      assert(keptToks <= nKept * 10 &&
        (nKept == 0 || keptToks > (nKept - 1) * 10),
        s"doc $id: $keptToks tokens for $nKept kept chunks")
    }
    // every planted dup copy (re-keyed +1e6) repeats its original
    // doc_id-ordered-first chunks verbatim, so it drains to empty
    val drained = rows.filter(_._1 >= 1000000L)
    assert(drained.nonEmpty, "planted-dup fixture missing")
    drained.foreach { case (id, nParas, nKept, kept) =>
      assert(nKept == 0 && kept.isEmpty, s"dup copy $id kept $nKept")
      assert(byId(id - 1000000L)._2 == nParas, s"dup copy $id chunk count")
    }
    // exact local recompute of the whole pass (500 docs at this SF):
    // same segmentation, same global (doc_id, pid) first-occurrence
    // rule — output must match doc-for-doc, byte-for-byte. (Short LAST
    // chunks collide across docs at this vocab — ~10% of originals
    // legitimately lose their tail — so a ratio bar is the wrong spec;
    // the recompute is the spec.)
    val corpus = graft.ops.Tables.documents(spark, sf)
      .select($"doc_id", $"text").as[(Long, String)].collect()
    val allDocs = (corpus ++ corpus.filter(_._1 % 100 == 0)
      .map { case (id, t) => (id + 1000000L, t) }).sortBy(_._1)
    val chunks = allDocs.flatMap { case (id, t) =>
      t.toLowerCase.split("\\s+").filter(_.nonEmpty)
        .grouped(10).zipWithIndex
        .map { case (c, pid) => (id, pid.toLong, c.mkString(" ")) }
    }
    val firstOf = chunks.groupBy(_._3).view
      .mapValues(cs => cs.map(c => (c._1, c._2)).min).toMap
    val exp = chunks.groupBy(_._1).view.mapValues { cs =>
      val kept = cs.filter(c => firstOf(c._3) == ((c._1, c._2)))
        .sortBy(_._2)
      (cs.length.toLong, kept.length.toLong,
        kept.map(_._3).mkString(" "))
    }.toMap
    assert(rows.length == exp.size)
    rows.foreach { case (id, nParas, nKept, kept) =>
      assert(exp(id) == ((nParas, nKept, kept)),
        s"doc $id: got ($nParas, $nKept, '$kept') vs ${exp(id)}")
    }
  }
}
