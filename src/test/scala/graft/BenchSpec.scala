package graft

import org.scalatest.funsuite.AnyFunSuite

/** Pins the adaptive re-pass rule (round 17): the decision that
  * replaced the hand-listed min-of-3 set after four consecutive driver
  * benches false-flagged a min-of-2 query via whole-run contention
  * bursts. These are the exact scenarios from the VERDICT record.
  */
class BenchSpec extends AnyFunSuite {

  test("burst spanning both passes of an anchored query triggers a re-pass") {
    // the r16 ml_als_factors false flag: [11.23, 11.76] vs 3.31 anchor
    assert(Bench.repassNeeded(Seq(11.23, 11.76), Some(3.31)))
  }

  test("in-band min does not trigger") {
    // r17 quiet readings sit near or under their anchors
    assert(!Bench.repassNeeded(Seq(4.21, 3.20), Some(3.35)))
    assert(!Bench.repassNeeded(Seq(2.06, 1.86), Some(1.70)))
  }

  test("a re-pass that lands in-band stops the loop") {
    // third pass recovered the quiet min -> no fourth pass
    assert(!Bench.repassNeeded(Seq(11.23, 11.76, 4.43), Some(3.31)))
    // third pass still high -> one more (the caller caps at 2 extras)
    assert(Bench.repassNeeded(Seq(11.23, 11.76, 10.9), Some(3.31)))
  }

  test("noise-floor entries never trigger regardless of ratio") {
    // 0.15 s anchor, 0.39 s min = 2.6x but under the 0.4 s floor:
    // scheduler jitter, not signal
    assert(!Bench.repassNeeded(Seq(0.39, 0.39), Some(0.15)))
    assert(Bench.repassNeeded(Seq(0.41, 0.45), Some(0.15)))
  }

  test("anchorless and crashed queries never re-pass") {
    assert(!Bench.repassNeeded(Seq(99.0, 99.0), None))
    assert(!Bench.repassNeeded(Seq(-1.0, 11.76), Some(3.31)))
  }

  test("deferred re-passes run AFTER the whole group, in group order") {
    // the r17 emb_pca_power lesson: re-passes must not run back-to-back
    // into the burst that triggered them. Two queries breach; the
    // scheduler must visit slow_a then slow_b (round 1), then again
    // (round 2) — never slow_a twice in a row before slow_b's first.
    val standard = Seq(
      "fast" -> Seq(0.5, 0.5),
      "slow_a" -> Seq(9.0, 9.0),
      "slow_b" -> Seq(8.0, 8.0))
    val anchorOf = Map("fast" -> 1.0, "slow_a" -> 1.0, "slow_b" -> 1.0)
    var order = Vector.empty[String]
    val (raw, used, exhausted) = Bench.deferredRepass(
      standard, anchorOf.get, n => { order :+= n; 9.9 }, 40)
    assert(order == Vector("slow_a", "slow_b", "slow_a", "slow_b"))
    assert(used == 4 && !exhausted)
    // group order and pass arrays preserved; fast never re-passed
    assert(raw.map(_._1) == Seq("fast", "slow_a", "slow_b"))
    assert(raw.toMap.apply("fast") == Seq(0.5, 0.5))
    assert(raw.toMap.apply("slow_a") == Seq(9.0, 9.0, 9.9, 9.9))
  }

  test("deferred re-pass min semantics unchanged: a recovered pass ends it") {
    val standard = Seq("q" -> Seq(9.0, 9.0))
    var calls = 0
    val (raw, used, _) = Bench.deferredRepass(
      standard, _ => Some(1.0), _ => { calls += 1; 0.9 }, 40)
    // first re-pass recovers the quiet min -> no second round for q
    assert(calls == 1 && used == 1)
    assert(raw.head._2 == Seq(9.0, 9.0, 0.9))
    assert(raw.head._2.min == 0.9)
  }

  test("exhausted extra budget is flagged, not silent") {
    val standard = Seq("a" -> Seq(9.0, 9.0), "b" -> Seq(9.0, 9.0))
    val (_, used, exhausted) = Bench.deferredRepass(
      standard, _ => Some(1.0), _ => 9.9, 1)
    assert(used == 1 && exhausted)
  }

  test("anchor scale compensates a slower host but never a faster one") {
    // 3x-slower host: calib 0.39 vs 0.13 anchor -> thresholds scale 3x
    assert(math.abs(Bench.anchorScale(0.39, 0.13) - 3.0) < 1e-9)
    // quiet driver (~1.0) and faster-than-anchor hosts: unscaled
    assert(Bench.anchorScale(0.13, 0.13) == 1.0)
    assert(Bench.anchorScale(0.07, 0.13) == 1.0)
    // the ADVICE scenario: every query 3x over its pinned anchor on the
    // slow host is IN BAND once scaled — no silent budget burn
    val scaled = Some(3.31 * Bench.anchorScale(0.39, 0.13))
    assert(!Bench.repassNeeded(Seq(9.9, 9.6), scaled))
  }

  test("headline queries keep group-1 crash markers but no group-2 ones") {
    // ADVICE r19: a crashed group-2 query is listed under failed2, not
    // failed, so its -1 in `queries` read as a very fast query
    val g1 = Seq("j_star_revenue_by_region" -> 0.7, "dedup_exact" -> -1.0)
    val g2 = Seq("lda_em_topics" -> -1.0, "ml_als_factors" -> 3.1,
      "a_ks_test" -> 0.8)
    assert(Bench.g2Published("lda_em_topics") && Bench.g2Published("ml_als_factors"))
    assert(!Bench.g2Published("a_ks_test"))
    assert(Bench.headlineQueries(g1, g2) == g1 :+ ("ml_als_factors" -> 3.1))
  }

  test("every bench-group query has an anchor") {
    // the adaptive rule only protects anchored entries, so a bench
    // entry must land WITH a (possibly provisional) anchor in the same
    // commit — pin it from a quiet `Probe time`/local-bench reading and
    // re-pin after the first driver bench (the lda_em_topics_dist
    // pattern; Bench.anchors' scaladoc states the workflow)
    val missing = (SparkEntry.benchQueries ++ SparkEntry.benchQueries2)
      .filterNot(Bench.anchors.contains)
    assert(missing.isEmpty, s"bench entries without anchors: $missing")
  }

  test("unanchored names exactly the entries missing from the anchors, in order") {
    // Bench prints `[bench] no anchor: <name>` at startup for each
    assert(Bench.unanchored(Seq("zz_new_query", "graph_pagerank", "aa_new_query")) ==
      Seq("zz_new_query", "aa_new_query"))
    assert(Bench.unanchored(SparkEntry.benchQueries2).isEmpty)
  }
}
