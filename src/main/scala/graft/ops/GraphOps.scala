package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import Ranking.{topK, topKSql}
import QRound.{qroundLong, qroundLongSql}

/** Graph analytics over the customer→supplier trade network — the
  * iterative-join family a training-data pipeline needs for link-graph
  * curation (PageRank-weighted domain sampling, community/triangle
  * structure signals; cf. Common Crawl's harmonic-centrality host
  * ranking). The reference pipeline has no graph stage, so these derive
  * the graph from the TPC-H-ish tables: an edge (src, dst, w) is "a
  * customer in nation src bought w revenue from suppliers in nation dst".
  *
  * Scale notes (100 TB design stance):
  *  - The edge list is built by ONE pass over lineitem (join orders +
  *    dims, groupBy (src,dst)) — the raw fact table never re-shuffles
  *    across PageRank iterations; iterations operate on the aggregated
  *    edge table, which is |V|²-bounded (nations here; domains/hosts at
  *    web scale — millions of rows, not the 100 TB corpus).
  *  - Each PageRank iteration is one broadcast-or-shuffle equi-join
  *    (ranks ⋈ edges on src) + one partial-aggregated groupBy(dst): the
  *    classic Pregel-as-relational-algebra form. Rank state is |V| rows;
  *    at web scale both sides co-partition on the node key so every
  *    iteration after the first is exchange-free.
  *  - The four identical edge-aggregate subtrees below dedupe AT RUNTIME
  *    via AQE stage reuse (one lineitem scan feeds all iterations) —
  *    executed-plan property asserted in GraphSpec. Round 19 verified the
  *    compiled plan does NOT reuse (4 full copies; the out-strength
  *    window breaks subtree identity) and that pinning the transition
  *    table instead measures ~40% slower locally — see graph_pagerank.
  *  - Triangle counting joins the undirected edge list on itself twice
  *    with `a < b < c` ordering — candidate work is Σ deg(v)², bounded
  *    here by thresholding edges to the above-average-weight core (and
  *    at web scale by the standard degree-ordered orientation, which
  *    this ordering IS: each wedge is generated exactly once).
  */
object GraphOps {
  import Tables._

  type Q = (SparkSession, String) => DataFrame

  /** PageRank damping factor (Brin & Page 1998 default). */
  val Damping = 0.85
  val Iterations = 4

  /** Weighted directed nation→nation trade edges: customer nation →
    * supplier nation, weight = exact decimal revenue (the w1 revenue
    * expression — both engines sum decimals exactly, so edge weights
    * and out-strengths match bit-for-bit before the double division).
    */
  private def tradeEdges(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    broadcast(customer(s, d).select($"c_custkey", $"c_nationkey".as("src")))
      .join(orders(s, d).select($"o_orderkey", $"o_custkey"),
        $"o_custkey" === $"c_custkey")
      .join(lineitem(s, d).select($"l_orderkey", $"l_suppkey",
        ($"l_extendedprice".cast("decimal(12,2)") *
          (lit(1).cast("decimal(12,2)") - $"l_discount".cast("decimal(4,2)"))).as("r")),
        $"l_orderkey" === $"o_orderkey")
      .join(broadcast(supplier(s, d).select($"s_suppkey", $"s_nationkey".as("dst"))),
        $"s_suppkey" === $"l_suppkey")
      .groupBy($"src", $"dst").agg(sum($"r").as("w"))
  }

  /** Row-normalized transition probabilities: p(src→dst) = w / Σ_dst w.
    * The window sum stays in exact decimal; only the final ratio is a
    * double, so both engines divide the same two exact values.
    */
  private def transitions(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    tradeEdges(s, d)
      .withColumn("outw", sum($"w").over(Window.partitionBy($"src")))
      .select($"src", $"dst",
        ($"w".cast("double") / $"outw".cast("double")).as("p"))
  }

  /** The above-average-weight undirected core, symmetrized — the shared
    * traversal substrate of graph_harmonic (exact multi-source BFS) and
    * graph_hyperball (HLL neighborhood counters). Threshold membership
    * is 6dp-rounded on both sides so a cross-engine ulp in the mean
    * can't flip an edge sitting on it.
    */
  private def undCore(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val core = tradeEdges(s, d).filter($"src" =!= $"dst")
      .select(least($"src", $"dst").as("a"), greatest($"src", $"dst").as("b"), $"w")
      .groupBy($"a", $"b").agg(sum($"w").cast("double").as("uw"))
      .withColumn("mw", avg($"uw").over(Window.partitionBy()))
      .filter(round($"uw", 6) > round($"mw", 6))
      .select($"a", $"b")
    core.union(core.select($"b".as("a"), $"a".as("b")))
  }

  val queries: Map[String, Q] = Map(
    // Weighted PageRank over the nation trade graph, 4 power iterations
    // unrolled: pr' = (1-d)/N + d * Σ_src pr(src) * p(src→dst). The node
    // domain comes from the nation dim (left join keeps sink-only nodes);
    // N is a dim-table count — a driver-side scalar of the S12 family,
    // metadata-scale, never data-scale.
    "graph_pagerank" -> ((s, d) => {
      import s.implicits._
      val nodes = nation(s, d).select($"n_nationkey".as("node"), $"n_name")
      val nNodes = nodes.count().toDouble
      // round 19 (VERDICT r18 next-round #5, verified): the COMPILED plan
      // carries four full copies of the edge aggregate (plans/r19/
      // graph_pagerank_before.txt: 44 parquet scans, zero ReusedExchange
      // nodes), but at RUNTIME AQE's stage reuse dedupes them — the
      // executed plan shows >=3 ReusedQueryStage/ReusedExchange and one
      // fact scan (GraphSpec pins exactly that). A localCheckpoint pin of
      // the transition table was tried and MEASURED SLOWER (1.54 -> 2.18 s
      // same-window A/B): the materialization barrier + stat-less
      // ExistingRDD joins cost more than the duplicated planning, and the
      // runtime work is one aggregate either way. Kept un-pinned.
      val p = transitions(s, d)
      var pr = nodes.select($"node", (lit(1.0) / lit(nNodes)).as("pr"))
      for (_ <- 1 to Iterations) {
        val contrib = p.join(pr, $"src" === $"node")
          .select($"dst", ($"pr" * $"p").as("c"))
          .groupBy($"dst").agg(sum($"c").as("m"))
        // 0.15 as a source literal, not 1.0 - 0.85: the subtraction is one
        // ulp off the decimal literal the oracle parses, and that ulp
        // survives the rounding at iteration 4.
        pr = nodes.join(contrib, $"node" === $"dst", "left")
          .select($"node",
            (lit(0.15 / nNodes) +
              lit(Damping) * coalesce($"m", lit(0.0))).as("pr"))
      }
      nodes.join(pr, "node")
        .select($"n_name", round($"pr", 6).as("pagerank"))
        .orderBy(desc("pagerank"), asc("n_name"))
    }),

    // Synchronous label-propagation communities (Raghavan et al. 2007)
    // over the undirected core — the cheap community detector used for
    // site/host clustering in corpus curation. Each of the 4 unrolled
    // rounds is one adjacency⋈labels equi-join + a (node, label) count +
    // an argmax window: the Pregel-as-relational-algebra form again, so
    // label state is |V| rows and iterations co-partition on the node
    // key at scale. Fully deterministic: argmax ties break on the
    // smallest label (sync LPA's usual random tie-break is replaced by
    // a total order), isolated nodes keep their own label.
    "graph_lpa_communities" -> ((s, d) => {
      import s.implicits._
      // round 19: pin — the 4 unrolled rounds embed und once per
      // iteration (the corpus-scale edge aggregate; bounded |V|² rows)
      val und = undCore(s, d).localCheckpoint(false)
      val nodes = nation(s, d).select($"n_nationkey".as("node"), $"n_name")
      var lab = nodes.select($"node", $"node".as("label"))
      for (_ <- 1 to Iterations) {
        val neigh = und.join(lab, $"b" === $"node")
          .groupBy($"a", $"label").agg(count(lit(1)).as("c"))
        val newLab = topK(neigh, Seq($"a"), Seq(desc("c"), asc("label")), 1, None)
          .select($"a".as("node2"), $"label".as("newl"))
        lab = lab.join(newLab, $"node" === $"node2", "left")
          .select($"node", coalesce($"newl", $"label").as("label"))
      }
      nodes.join(lab, "node")
        .select($"n_name", $"label".as("community"))
        .orderBy($"community", $"n_name")
    }),

    // Newman MODULARITY of the LPA partition (Newman & Girvan 2004,
    // eq. Q = Σ_c [I_c/T − (D_c/T)²] over the both-orientation edge
    // table: T = total rows = 2m, I_c = intra-community rows, D_c =
    // community degree sum) — the quality readout that turns
    // graph_lpa_communities from "a labeling" into "a measured
    // clustering" (Q > 0 ⟺ denser-than-random inside communities; the
    // number every curation pipeline checks before trusting host
    // clusters). All counts are exact longs off ONE pass over the
    // bounded undirected core joined to the converged labels; q terms
    // go micro-long before the cross-community sum so q_total is
    // order-exact (the EM/DoReMi discipline). Corpus-scale cost is the
    // edge aggregate feeding undCore; everything after runs on the
    // 25-node graph.
    "graph_modularity" -> ((s, d) => {
      import s.implicits._
      val und = undCore(s, d)
      // re-derive (node, community) from the converged labeling via the
      // nation dim (the LPA query returns names; modularity needs keys).
      // localCheckpoint: the |V|-row label frame is referenced THREE
      // times below (both join sides + the node counts) and its lineage
      // is the whole LPA iteration chain — uncheckpointed, each
      // reference re-ran the corpus-scale undCore aggregate and all
      // LPA rounds (measured ~18 s cold vs ~2 s warm at sf0.1).
      val nodeLab = queries("graph_lpa_communities")(s, d)
        .join(nation(s, d).select($"n_nationkey".as("node"), $"n_name"),
          "n_name")
        .select($"node", $"community")
        .localCheckpoint(false)
      val perC = und
        .join(nodeLab.toDF("a", "ca"), "a")
        .join(nodeLab.toDF("b", "cb"), "b")
        .groupBy($"ca".as("community"))
        .agg(count(lit(1)).as("deg_sum"),
          sum(when($"ca" === $"cb", 1L).otherwise(0L)).as("intra_rows"))
      val nNodes = nodeLab.groupBy($"community")
        .agg(count(lit(1)).as("n_nodes"))
      // T = 2m = Σ_c deg_sum (every both-orientation edge row lands in
      // exactly one ca) — derived in-plan over the bounded per-community
      // aggregate instead of a second full evaluation for a scalar
      val wAll = Window.rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing)
      perC.join(nNodes, "community")
        .withColumn("t", sum($"deg_sum").over(wAll))
        .withColumn("qm", qroundLong(($"intra_rows".cast("double") / $"t"
          - ($"deg_sum".cast("double") / $"t")
            * ($"deg_sum".cast("double") / $"t")) * 1e6))
        .withColumn("q_total",
          round(sum($"qm").over(wAll).cast("double") / 1e6, 6))
        .select($"community", $"n_nodes", $"intra_rows", $"deg_sum",
          round($"qm".cast("double") / 1e6, 6).as("q_term"), $"q_total")
        .orderBy("community")
    }),

    // Degree/strength profile per nation: in/out degree and exact decimal
    // in/out strength over the trade graph — the graph-shape datasheet
    // (degree skew is what decides salting/orientation strategy at scale).
    "graph_degree_stats" -> ((s, d) => {
      import s.implicits._
      val e = tradeEdges(s, d)
      val out = e.groupBy($"src".as("node"))
        .agg(count(lit(1)).as("out_deg"),
          sum($"w").cast("double").as("out_w"))
      val in = e.groupBy($"dst".as("node"))
        .agg(count(lit(1)).as("in_deg"),
          sum($"w").cast("double").as("in_w"))
      nation(s, d).select($"n_nationkey".as("node"), $"n_name")
        .join(out, Seq("node"), "left").join(in, Seq("node"), "left")
        .select($"n_name",
          coalesce($"out_deg", lit(0L)).as("out_deg"),
          coalesce($"in_deg", lit(0L)).as("in_deg"),
          round(coalesce($"out_w", lit(0.0)), 2).as("out_w"),
          round(coalesce($"in_w", lit(0.0)), 2).as("in_w"))
        .orderBy("n_name")
    }),

    // Truncated harmonic centrality (the Common Crawl host-ranking
    // measure; truncation at radius 4 is the standard web-graph practice
    // — HyperBall computes exactly this with HLL counters): H(v) =
    // Σ_{u≠v, d(u,v)≤4} 1/d(u,v) over the undirected above-average-
    // weight core. Distances come from 4 rounds of relational multi-
    // source BFS — frontier ⋈ edges, min-distance groupBy per round,
    // localCheckpoint truncating the lineage (the |V|²-bounded distance
    // table is the only state; at web scale this is exactly HyperBall's
    // shape with the exact per-source set replaced by an HLL register —
    // a_hll_probe's machinery).
    "graph_harmonic" -> ((s, d) => {
      import s.implicits._
      // round 18: LAZY checkpoints — each eager round checkpoint was a
      // separate AQE job round-trip on a |V|2-bounded frame; lazy keeps
      // the lineage truncation (each round still materializes exactly
      // once, at first use) but lets the scheduler run the cascade
      // without per-round driver barriers
      val und = undCore(s, d).localCheckpoint(false)
      var dist = nation(s, d)
        .select($"n_nationkey".as("s"), $"n_nationkey".as("v"), lit(0).as("dd"))
        .localCheckpoint(false)
      for (r <- 1 to 4) {
        dist = dist.join(und, $"v" === $"a")
          .select($"s", $"b".as("v"), ($"dd" + 1).as("dd"))
          .union(dist)
          .groupBy($"s", $"v").agg(min($"dd").as("dd"))
          .localCheckpoint(false)
      }
      val h = dist.filter($"dd" > 0)
        .groupBy($"s").agg(
          round(sum(lit(1.0) / $"dd"), 6).as("harmonic"),
          count(lit(1)).as("n_reached"))
      nation(s, d).select($"n_nationkey".as("s"), $"n_name")
        .join(h, Seq("s"), "left")
        .select($"n_name",
          coalesce($"harmonic", lit(0.0)).as("harmonic"),
          coalesce($"n_reached", lit(0L)).as("n_reached"))
        .orderBy(desc("harmonic"), asc("n_name"))
    }),

    // Betweenness centrality — the missing classic beside
    // pagerank/harmonic/k-core: how much shortest-path traffic routes
    // THROUGH each nation. Computed by the pair-dependency identity
    // rather than Brandes' backward accumulation (which needs a
    // per-depth reverse sweep — an awkward shape relationally):
    // bc(v) = Σ_{s≠t≠v} σ_sv·σ_vt/σ_st over pairs with
    // dist(s,v)+dist(v,t) = dist(s,t), halved for the undirected double
    // count. The BFS computes dist AND path counts together (σ of a
    // fresh node = Σ σ of its distance-(r−1) neighbors — exact longs),
    // 4 rounds unrolled like graph_harmonic (the documented family
    // convention; the thresholded trade core's diameter is well under
    // it, and GraphSpec replays the same cap locally). The |V|³ term
    // join runs on the BOUNDED nation-level table — the same posture as
    // every op in this family: the corpus-scale work is the edge
    // aggregate, the graph math is constant-size. Per-(s,t) terms
    // nano-quantize BEFORE the per-v sum (order-safe).
    "graph_betweenness" -> ((s, d) => {
      import s.implicits._
      val und = undCore(s, d).localCheckpoint(false)
      var st = nation(s, d)
        .select($"n_nationkey".as("s"), $"n_nationkey".as("v"),
          lit(0).as("dd"), lit(1L).as("sig"))
        .localCheckpoint(false)
      for (r <- 1 to 4) {
        val cand = st.filter($"dd" === r - 1).join(und, $"v" === $"a")
          .groupBy($"s", $"b").agg(sum($"sig").as("nsig"))
          .select($"s", $"b".as("v"), $"nsig")
        val fresh = cand.join(st.select($"s", $"v"), Seq("s", "v"),
            "left_anti")
          .select($"s", $"v", lit(r).as("dd"), $"nsig".as("sig"))
        st = st.union(fresh).localCheckpoint(false)
      }
      val sv = st.toDF("s", "v", "dsv", "sigsv")
      val vt = st.toDF("v", "t", "dvt", "sigvt")
      val stt = st.toDF("s", "t", "dst", "sigst")
      val bc = sv.join(vt, "v").join(stt, Seq("s", "t"))
        .filter($"s" =!= $"t" && $"v" =!= $"s" && $"v" =!= $"t" &&
          $"dsv" + $"dvt" === $"dst")
        .withColumn("term_nano",
          qroundLong($"sigsv" * $"sigvt" * lit(1e9) / $"sigst"))
        .groupBy($"v").agg(sum($"term_nano").as("tn"))
      nation(s, d).select($"n_nationkey".as("v"), $"n_name")
        .join(bc, Seq("v"), "left")
        .select($"n_name",
          round(coalesce($"tn", lit(0L)).cast("double") / 2e9, 6)
            .as("betweenness"))
        .orderBy(desc("betweenness"), asc("n_name"))
    }),

    // HyperBall harmonic centrality (Boldi & Vigna 2013, "In-Core
    // Computation of Geometric Centralities with HyperBall") — the
    // web-scale swap for graph_harmonic's exact BFS: the per-(source,
    // node) distance table is O(V²) state, while HyperBall keeps ONE
    // fixed-size HLL counter per node (16 registers here — the
    // a_hll_probe machinery) approximating |B(v,t)|, and each BFS round
    // is a register-max merge over neighbors: c_t(v) = max(c_{t-1}(v),
    // max_u~v c_{t-1}(u)) — associative, idempotent, one groupBy(v,j)
    // per round on a |V|×16-row table regardless of graph size.
    // Harmonic mass accumulates from counter DIFFERENCES:
    // H(v) ≈ Σ_{t=1..4} (est_t − est_{t−1})/t. The delta chain is a
    // single fixed-order expression over the five per-round estimates
    // (NOT a groupBy sum — float summation order stays deterministic).
    // Registers are integer-exact (portable hash, trailing-zero rho),
    // and the estimator is a_hll_probe's bias-corrected harmonic mean
    // with linear counting — identical doubles in both engines, so the
    // whole 4-round trajectory replays in DuckDB. With n ≤ 25 ≪ M·lnM
    // the estimator sits in the linear-counting regime, where accuracy
    // is much better than the 1.04/√M ≈ 26% HLL rse; GraphSpec bounds
    // the estimate against graph_harmonic's exact values.
    "graph_hyperball" -> ((s, d) => {
      import s.implicits._
      val M = 16
      // round 18: lazy checkpoints, same rationale as graph_harmonic
      val und = undCore(s, d).localCheckpoint(false)
      val h = graft.functions.PolyHash.poly_hash($"v".cast("string"))
      // dense init: all 16 registers per node, the node's own hash slot
      // carrying its rho — densifying up front keeps every later round a
      // pure union+max with no absent-register bookkeeping
      var regs = nation(s, d).select($"n_nationkey".as("v"))
        .withColumn("hh", h)
        .withColumn("jv", $"hh" % M)
        .withColumn("wv", expr(s"hh div $M"))
        .withColumn("rhov",
          when($"wv" === 0, lit(27))
            .otherwise(expr("bit_count((wv & -wv) - 1) + 1")))
        .select($"v", explode(sequence(lit(0), lit(M - 1))).as("j"),
          $"jv", $"rhov")
        .withColumn("r", when($"j" === $"jv", $"rhov").otherwise(lit(0)))
        .select($"v", $"j", $"r")
        .localCheckpoint(false)
      def estOf(rt: DataFrame, t: Int): DataFrame =
        rt.groupBy($"v").agg(
          sum(pow(lit(2.0), -$"r")).as("s"),
          sum(when($"r" === 0, 1).otherwise(0)).as("zeros"))
          .withColumn("raw", lit(0.673) * lit(M.toDouble * M) / $"s")
          .select($"v",
            when($"raw" <= 2.5 * M && $"zeros" > 0,
              lit(M.toDouble) * log(lit(M.toDouble) / $"zeros"))
              .otherwise($"raw").as(s"est$t"))
      var ests = Seq(estOf(regs, 0))
      for (t <- 1 to 4) {
        regs = regs.join(und, $"v" === $"a")
          .select($"b".as("v"), $"j", $"r")
          .union(regs)
          .groupBy($"v", $"j").agg(max($"r").as("r"))
          .localCheckpoint(false)
        ests = ests :+ estOf(regs, t)
      }
      val joined = ests.reduce((x, y) => x.join(y, "v"))
        .select($"v",
          round(($"est1" - $"est0") / 1.0 + ($"est2" - $"est1") / 2.0 +
            ($"est3" - $"est2") / 3.0 + ($"est4" - $"est3") / 4.0, 6)
            .as("hb_harmonic"),
          round($"est4", 3).as("hb_ball_est"))
      nation(s, d).select($"n_nationkey".as("v"), $"n_name")
        .join(joined, "v")
        .select($"n_name", $"hb_harmonic", $"hb_ball_est")
        .orderBy(desc("hb_harmonic"), asc("n_name"))
    }),

    // Per-node triangle participation in the above-average-weight core:
    // symmetrize, keep undirected pairs whose combined weight exceeds the
    // global mean (self-loops dropped), orient a<b, and count each
    // triangle once via the two-join wedge closure. Output: nodes ranked
    // by triangle count — the clustering-structure signal.
    "graph_triangles" -> ((s, d) => {
      import s.implicits._
      val e = tradeEdges(s, d).filter($"src" =!= $"dst")
        .select(least($"src", $"dst").as("a"), greatest($"src", $"dst").as("b"), $"w")
        .groupBy($"a", $"b").agg(sum($"w").cast("double").as("uw"))
      val core = e
        // same 6dp-rounded threshold as graph_harmonic — see that op.
        .withColumn("mw", avg($"uw").over(Window.partitionBy()))
        .filter(round($"uw", 6) > round($"mw", 6))
        .select($"a", $"b")
        // round 18: three consumers (both wedge sides + the closure
        // join) each embedded the full corpus edge-aggregate subtree —
        // Catalyst optimized it 3x (Probe jobs: 1.3 s of planning gap for
        // a |V|-bounded query); one lazy pin keeps the plan linear
        .localCheckpoint(false)
      val e1 = core.select($"a".as("x"), $"b".as("y"))
      val e2 = core.select($"a".as("y2"), $"b".as("z"))
      val wedges = e1.join(e2, $"y" === $"y2").select($"x", $"y", $"z")
      val tri = wedges.join(core, $"x" === $"a" && $"z" === $"b")
        .select($"x", $"y", $"z")
      val perNode = tri.select(explode(array($"x", $"y", $"z")).as("node"))
        .groupBy($"node").agg(count(lit(1)).as("n_triangles"))
      nation(s, d).select($"n_nationkey".as("node"), $"n_name")
        .join(perNode, Seq("node"), "left")
        .select($"n_name", coalesce($"n_triangles", lit(0L)).as("n_triangles"))
        .orderBy(desc("n_triangles"), asc("n_name"))
    }),

    // Degree assortativity (Newman 2002): the Pearson correlation of
    // endpoint degrees over the directed symmetrized edge list — the
    // one-number structural summary that separates hub-to-hub link
    // farms (r > 0) from hub-and-spoke organic webs (r < 0), a standard
    // web-graph curation signal next to PageRank/k-core. Every sum is
    // exact integer algebra over the |V|²-bounded edge aggregate; only
    // the final correlation is a fixed double expression. Scale: one
    // degree aggregate + two broadcast-scale joins back onto the edge
    // table — no iteration, no corpus pass.
    "graph_assortativity" -> ((s, d) => {
      import s.implicits._
      // round 18: und feeds the degree aggregate AND both sides of the
      // pair join — un-pinned, the corpus edge-aggregate subtree was
      // planned and (modulo ReuseExchange) run three times
      val und = undCore(s, d).localCheckpoint(false)
      val deg = und.groupBy($"a").agg(count(lit(1)).as("deg"))
      val pairs = und
        .join(deg.toDF("a", "dx"), "a")
        .join(deg.toDF("b", "dy"), "b")
      pairs.agg(
          count(lit(1)).as("m"),
          sum($"dx").as("sx"), sum($"dy").as("sy"),
          sum($"dx" * $"dy").as("sxy"),
          sum($"dx" * $"dx").as("sxx"), sum($"dy" * $"dy").as("syy"))
        .withColumn("r", round(
          ($"m" * $"sxy" - $"sx" * $"sy").cast("double") /
            sqrt(($"m" * $"sxx" - $"sx" * $"sx").cast("double") *
              ($"m" * $"syy" - $"sy" * $"sy").cast("double")), 6))
        .select($"m".as("m_directed_edges"), $"r".as("assortativity"))
    }),

    // k-core decomposition by iterative peeling (Seidman 1983) — the
    // graph-curation filter that separates densely-linked hubs from
    // peripheral tendrils (web-graph pipelines drop low-core hosts as
    // spam/link-farm periphery). Each peel round recomputes degrees on
    // the SURVIVING subgraph and drops nodes with deg < k; membership
    // after PeelRounds rounds is the k-core (fixpoint well before that
    // on this graph — GraphSpec replays the peeling to convergence
    // locally and asserts both membership AND that the round budget
    // suffices). Scale: every round is two node-list semi-joins + one
    // partial-aggregated degree count on the |V|²-bounded edge
    // aggregate; node state is |V| rows. The round budget is the only
    // driver-side loop — same posture as the PageRank unroll.
    "graph_kcore" -> ((s, d) => {
      import s.implicits._
      // Pin the |V|²-bounded edge aggregate: 12 peel rounds reference it
      // twice each, and an un-checkpointed lineage would re-embed the
      // full lineitem-join subtree ~25× in one plan tree (minutes of
      // driver-side optimization before a single task runs — the same
      // failure mode retrieval_mmr_rerank hit in round 10). Lazy, so
      // plan-only construction stays metadata-only.
      val und = undCore(s, d).localCheckpoint(false)
      // Round 18: BOTH peels (k=2, k=3) ride one iterated frame keyed by
      // a `k` column — the two k's never interact (every join/group
      // carries k), so membership per k is identical to two separate
      // peels, while the round count the driver must PLAN halves from
      // 24 to 12 (Probe jobs: this query was ~50% Catalyst planning gap,
      // one plan per sequential lazy checkpoint). The deg >= k
      // threshold reads the k column directly.
      val peeled = {
        var nodes = und.select($"a".as("node")).distinct()
          .select($"node", explode(array(lit(2), lit(3))).as("kk"))
        for (_ <- 1 to PeelRounds) {
          // each round reads the previous node list TWICE — checkpoint
          // the state so lineage stays linear, not 2^rounds
          nodes = und
            .join(nodes.select($"kk", $"node".as("a")), Seq("a"))
            .join(nodes.select($"kk", $"node".as("b")), Seq("kk", "b"))
            .groupBy($"kk", $"a").agg(count(lit(1)).as("deg"))
            .filter($"deg" >= $"kk")
            .select($"kk", $"a".as("node"))
            .localCheckpoint(false)
        }
        nodes
      }
      val deg = und.groupBy($"a").agg(count(lit(1)).as("deg"))
        .select($"a".as("node"), $"deg")
      val c2 = peeled.filter($"kk" === 2).select($"node")
        .withColumn("in2", lit(true))
      val c3 = peeled.filter($"kk" === 3).select($"node")
        .withColumn("in3", lit(true))
      nation(s, d).select($"n_nationkey".as("node"), $"n_name")
        .join(deg, Seq("node"), "left")
        .join(c2, Seq("node"), "left")
        .join(c3, Seq("node"), "left")
        .select($"n_name", coalesce($"deg", lit(0L)).as("deg"),
          coalesce($"in2", lit(false)).as("in_2core"),
          coalesce($"in3", lit(false)).as("in_3core"))
        .orderBy("n_name")
    }),

    // Strongly connected components of the DIRECTED trade graph — the
    // cyclic-dependency readout the undirected ops can't see (an SCC =
    // a set of nations whose trade flows form cycles; link-graph
    // curation uses the same decomposition to separate the web's core
    // from drain-only tendrils, cf. Broder et al. 2000's bow-tie).
    // Algorithm: transitive closure by SccRounds rounds of relational
    // SQUARING (reach' = reach ∪ reach∘reach, distinct) seeded with the
    // reflexive pairs, so round k covers all paths up to length 2^k —
    // 2^SccRounds exceeds |V|; then u's component is the min node that
    // reaches u and is reached by u, and sizes come from counting the
    // mutual set. Every frame is |V|²-bounded (the PageRank posture:
    // corpus-scale work is the one edge-aggregate pass; iteration lives
    // on the closure table, localCheckpointed per round so the
    // distinct-union lineage stays linear). At web scale the closure
    // table is NOT materializable — the known swap is label-propagation
    // SCC (forward-backward coloring); the output contract is identical.
    "graph_scc" -> ((s, d) => {
      import s.implicits._
      val nodes = nation(s, d).select($"n_nationkey".as("node"), $"n_name")
      val e = tradeEdges(s, d).filter($"src" =!= $"dst")
        .select($"src", $"dst").distinct()
      var reach = e
        .unionByName(nodes.select($"node".as("src"), $"node".as("dst")))
        .distinct().localCheckpoint(false)
      for (_ <- 1 to SccRounds) {
        reach = reach.unionByName(
            reach.select($"src", $"dst".as("mid"))
              .join(reach.select($"src".as("mid"), $"dst"), "mid")
              .select($"src", $"dst"))
          .distinct().localCheckpoint(false)
      }
      val mutual = reach.as("f").join(reach.as("b"),
          $"f.src" === $"b.dst" && $"f.dst" === $"b.src")
        .select($"f.src".as("u"), $"f.dst".as("v"))
      val scc = mutual.groupBy($"u")
        .agg(min($"v").as("scc_id"), count(lit(1)).as("scc_size"))
      nodes.join(scc, $"node" === $"u")
        .select($"scc_id", $"node", $"n_name", $"scc_size")
        .orderBy("scc_id", "node")
    }),

    // Link prediction over the undirected core (Liben-Nowell &
    // Kleinberg 2003): for every non-adjacent pair with ≥ 1 common
    // neighbor, the three classic scores — common-neighbor count,
    // neighborhood Jaccard |Γa∩Γb|/|Γa∪Γb|, and Adamic-Adar
    // Σ_z 1/ln(deg z) (common neighbors discounted by their
    // promiscuity; a common neighbor has deg ≥ 2 by construction, so
    // ln never hits 0). Corpus-curation use: ranking likely-missing
    // host-graph links prioritizes crawl frontiers. Exactness device:
    // each 1/ln(deg z) term is nano-quantized to a long BEFORE the
    // per-pair sum (long addition is order-free across partitionings —
    // the a_neyman_alloc pattern), so only the display division is a
    // double. Scale: wedge candidates are Σ_z deg(z)² over the
    // |V|²-bounded edge aggregate — the graph_triangles bound; at web
    // scale the standard cap is per-node neighbor lists truncated to
    // top-k by weight before the wedge self-join, and the anti-join
    // against the adjacency co-partitions on the pair key.
    "graph_adamic_adar" -> ((s, d) => {
      import s.implicits._
      // round 19: pin — deg + both wedge sides + the adjacency anti-join
      // each embedded the corpus-scale edge aggregate (bounded |V|² rows)
      val und = undCore(s, d).localCheckpoint(false) // symmetrized (a, b)
      val deg = und.groupBy($"a".as("node")).agg(count(lit(1)).as("deg"))
      val wedges = und.select($"a".as("z"), $"b".as("x"))
        .join(und.select($"a".as("z2"), $"b".as("y")),
          $"z" === $"z2" && $"x" < $"y")
        .select($"x", $"y", $"z")
      val cand = wedges.join(und.select($"a".as("x"), $"b".as("y")),
        Seq("x", "y"), "left_anti")
      val aa = cand
        .join(broadcast(deg.select($"node".as("z"), $"deg".as("degz"))), "z")
        .withColumn("aa_nano",
          qroundLong(lit(1e9) / log($"degz".cast("double"))))
        .groupBy($"x", $"y")
        .agg(count(lit(1)).as("common"), sum($"aa_nano").as("aa_nano"))
      aa.join(broadcast(deg.select($"node".as("x"), $"deg".as("deg_x"))), "x")
        .join(broadcast(deg.select($"node".as("y"), $"deg".as("deg_y"))), "y")
        .select($"x", $"y", $"common", $"deg_x", $"deg_y",
          round($"common" / ($"deg_x" + $"deg_y" - $"common"), 6)
            .as("jaccard"),
          round($"aa_nano" / 1e9, 6).as("adamic_adar"))
        .orderBy("x", "y")
    }),
  )

  /** Closure-squaring rounds for graph_scc: paths up to 2^SccRounds,
    * past any simple path on the nation graph.
    */
  val SccRounds = 5

  /** Peel-round budget for graph_kcore — comfortably past the fixpoint
    * on the nation graph (GraphSpec asserts convergence within it).
    */
  val PeelRounds = 6

  private val edgesSql =
    """SELECT c_nationkey AS src, s_nationkey AS dst,
      |    SUM(CAST(l_extendedprice AS DECIMAL(12,2)) *
      |        (CAST(1 AS DECIMAL(12,2)) - CAST(l_discount AS DECIMAL(4,2)))) AS w
      |  FROM customer
      |  JOIN orders ON o_custkey = c_custkey
      |  JOIN lineitem ON l_orderkey = o_orderkey
      |  JOIN supplier ON s_suppkey = l_suppkey
      |  GROUP BY 1, 2""".stripMargin

  /** Shared oracle prefix: trade edges → above-average undirected core →
    * symmetrized adjacency `und(a, b)` (the Spark `undCore` twin), used
    * by the harmonic / hyperball / LPA oracles.
    */
  private val undCoreCteSql =
    s"""e AS (
       |  $edgesSql),
       |u0 AS MATERIALIZED (
       |  SELECT LEAST(src, dst) AS a, GREATEST(src, dst) AS b,
       |    CAST(SUM(w) AS DOUBLE) AS uw
       |  FROM e WHERE src <> dst GROUP BY 1, 2),
       |core AS MATERIALIZED (
       |  SELECT a, b FROM (
       |    SELECT a, b, uw, AVG(uw) OVER () AS mw FROM u0)
       |  WHERE ROUND(uw, 6) > ROUND(mw, 6)),
       |und AS MATERIALIZED (
       |  SELECT a, b FROM core UNION ALL SELECT b AS a, a AS b FROM core)"""
      .stripMargin

  /** The LPA rounds `l1` … `l$Iterations` over `und` from `l0`: each node
    * takes its neighbors' most frequent label, ties to the smallest (the
    * graph_lpa_communities loop), shared by the LPA and modularity oracles.
    */
  private val lpaRoundsSql = (1 to Iterations).map { i =>
    val counts = s"""(SELECT und.a, prev.label, COUNT(*) AS c
                    |    FROM und JOIN l${i - 1} prev ON und.b = prev.node GROUP BY 1, 2)""".stripMargin
    s"""l$i AS MATERIALIZED (
       |  SELECT l.node, COALESCE(nl.newl, l.label) AS label
       |  FROM l${i - 1} l LEFT JOIN (
       |    SELECT a AS node, label AS newl
       |    FROM (${topKSql(counts, Seq("a"), Seq("c DESC", "label ASC"), 1, None)})
       |  ) nl ON l.node = nl.node)""".stripMargin
  }.mkString(",\n")

  private val pagerankSql: String = {
    val iters = (1 to Iterations).map { i =>
      s"""pr$i AS (
         |  SELECT n.n_nationkey AS node,
         |    (CAST(0.15 AS DOUBLE) / nn.cnt) + CAST(0.85 AS DOUBLE) *
         |      COALESCE(m.m, CAST(0 AS DOUBLE)) AS pr
         |  FROM nation n
         |  CROSS JOIN nn
         |  LEFT JOIN (
         |    SELECT p.dst, SUM(pr${i - 1}.pr * p.p) AS m
         |    FROM p JOIN pr${i - 1} ON p.src = pr${i - 1}.node
         |    GROUP BY 1) m ON n.n_nationkey = m.dst)""".stripMargin
    }.mkString(",\n")
    s"""WITH e AS (
       |  $edgesSql),
       |p AS (
       |  SELECT src, dst, CAST(w AS DOUBLE) /
       |    CAST(SUM(w) OVER (PARTITION BY src) AS DOUBLE) AS p
       |  FROM e),
       |nn AS (SELECT CAST(COUNT(*) AS DOUBLE) AS cnt FROM nation),
       |pr0 AS (
       |  SELECT n_nationkey AS node, CAST(1 AS DOUBLE) / nn.cnt AS pr
       |  FROM nation CROSS JOIN nn),
       |$iters
       |SELECT n_name, ROUND(pr$Iterations.pr, 6) AS pagerank
       |FROM nation JOIN pr$Iterations ON n_nationkey = pr$Iterations.node
       |ORDER BY pagerank DESC, n_name ASC""".stripMargin
  }

  /** Unrolled peeling replay: p{k}_{r} = nodes surviving round r of the
    * k-peel (degree within the surviving subgraph ≥ k).
    */
  private def kcoreSql: String = {
    def rounds(k: Int): String = (1 to PeelRounds).map { r =>
      val prev = if (r == 1) "n0" else s"p${k}_${r - 1}"
      s"""p${k}_$r AS MATERIALIZED (
         |  SELECT und.a AS node FROM und
         |  JOIN $prev x ON und.a = x.node
         |  JOIN $prev y ON und.b = y.node
         |  GROUP BY und.a HAVING COUNT(*) >= $k)""".stripMargin
    }.mkString(",\n")
    s"""WITH $undCoreCteSql,
       |n0 AS MATERIALIZED (SELECT DISTINCT a AS node FROM und),
       |${rounds(2)},
       |${rounds(3)},
       |deg AS (SELECT a AS node, COUNT(*) AS deg FROM und GROUP BY 1)
       |SELECT n_name, COALESCE(deg.deg, 0) AS deg,
       |  c2.node IS NOT NULL AS in_2core,
       |  c3.node IS NOT NULL AS in_3core
       |FROM nation
       |LEFT JOIN deg ON n_nationkey = deg.node
       |LEFT JOIN p2_$PeelRounds c2 ON n_nationkey = c2.node
       |LEFT JOIN p3_$PeelRounds c3 ON n_nationkey = c3.node
       |ORDER BY n_name""".stripMargin
  }

  val oracles: Map[String, String] = Map(
    "graph_scc" -> {
      val rounds = (1 to SccRounds).map { k =>
        val prev = s"r${k - 1}"
        s"""r$k AS MATERIALIZED (
           |  SELECT DISTINCT src, dst FROM (
           |    SELECT src, dst FROM $prev
           |    UNION ALL
           |    SELECT a.src, b.dst FROM $prev a JOIN $prev b
           |      ON a.dst = b.src))""".stripMargin
      }.mkString(",\n")
      s"""WITH e AS (
         |  $edgesSql),
         |r0 AS MATERIALIZED (
         |  SELECT DISTINCT src, dst FROM (
         |    SELECT src, dst FROM e WHERE src <> dst
         |    UNION ALL
         |    SELECT n_nationkey AS src, n_nationkey AS dst FROM nation)),
         |$rounds,
         |mu AS (
         |  SELECT f.src AS u, f.dst AS v
         |  FROM r$SccRounds f JOIN r$SccRounds b
         |    ON f.src = b.dst AND f.dst = b.src),
         |scc AS (
         |  SELECT u, MIN(v) AS scc_id, CAST(COUNT(*) AS BIGINT) AS scc_size
         |  FROM mu GROUP BY 1)
         |SELECT scc_id, n_nationkey AS node, n_name, scc_size
         |FROM nation JOIN scc ON n_nationkey = scc.u
         |ORDER BY scc_id, node""".stripMargin
    },
    "graph_assortativity" ->
      s"""WITH $undCoreCteSql,
         |dz AS (SELECT a, CAST(COUNT(*) AS BIGINT) AS deg
         |       FROM und GROUP BY 1),
         |p AS (
         |  SELECT x.deg AS dx, y.deg AS dy
         |  FROM und JOIN dz x ON und.a = x.a JOIN dz y ON und.b = y.a),
         |g AS (
         |  SELECT CAST(COUNT(*) AS BIGINT) AS m,
         |    CAST(SUM(dx) AS BIGINT) AS sx, CAST(SUM(dy) AS BIGINT) AS sy,
         |    CAST(SUM(dx * dy) AS BIGINT) AS sxy,
         |    CAST(SUM(dx * dx) AS BIGINT) AS sxx,
         |    CAST(SUM(dy * dy) AS BIGINT) AS syy
         |  FROM p)
         |SELECT m AS m_directed_edges,
         |  ROUND(CAST(m * sxy - sx * sy AS DOUBLE)
         |    / sqrt(CAST(m * sxx - sx * sx AS DOUBLE)
         |         * CAST(m * syy - sy * sy AS DOUBLE)), 6) AS assortativity
         |FROM g""".stripMargin,
    "graph_kcore" -> kcoreSql,
    "graph_pagerank" -> pagerankSql,
    "graph_betweenness" -> {
      // BFS rounds carrying (dist, sigma): fresh nodes at round r sum
      // the sigma of their distance-(r-1) neighbors; the anti-join
      // (LEFT JOIN ... IS NULL) keeps first-discovery rows only.
      val rounds = (1 to 4).map { r =>
        s"""b$r AS MATERIALIZED (
           |  SELECT s, v, dd, sig FROM b${r - 1}
           |  UNION ALL
           |  SELECT c.s, c.v, ${r} AS dd, c.nsig AS sig FROM (
           |    SELECT p.s, und.b AS v, CAST(SUM(p.sig) AS BIGINT) AS nsig
           |    FROM b${r - 1} p JOIN und ON p.v = und.a
           |    WHERE p.dd = ${r - 1} GROUP BY 1, 2) c
           |  LEFT JOIN (SELECT DISTINCT s, v FROM b${r - 1}) seen
           |    ON c.s = seen.s AND c.v = seen.v
           |  WHERE seen.s IS NULL)""".stripMargin
      }.mkString(",\n")
      s"""WITH $undCoreCteSql,
         |b0 AS MATERIALIZED (
         |  SELECT n_nationkey AS s, n_nationkey AS v, 0 AS dd,
         |    CAST(1 AS BIGINT) AS sig
         |  FROM nation),
         |$rounds,
         |terms AS (
         |  SELECT sv.v AS v,
         |    ${qroundLongSql("sv.sig * vt.sig * 1e9 / stt.sig")}
         |      AS term_nano
         |  FROM b4 sv
         |  JOIN b4 vt ON sv.v = vt.s
         |  JOIN b4 stt ON sv.s = stt.s AND vt.v = stt.v
         |  WHERE sv.s <> vt.v AND sv.v <> sv.s AND sv.v <> vt.v
         |    AND sv.dd + vt.dd = stt.dd),
         |bc AS (
         |  SELECT v, CAST(SUM(term_nano) AS BIGINT) AS tn
         |  FROM terms GROUP BY 1)
         |SELECT n_name,
         |  ROUND(CAST(COALESCE(bc.tn, 0) AS DOUBLE) / 2e9, 6)
         |    AS betweenness
         |FROM nation LEFT JOIN bc ON n_nationkey = bc.v
         |ORDER BY betweenness DESC, n_name ASC""".stripMargin
    },
    "graph_harmonic" -> {
      val rounds = (1 to 4).map { r =>
        s"""d$r AS MATERIALIZED (
           |  SELECT s, v, MIN(dd) AS dd FROM (
           |    SELECT d${r - 1}.s, und.b AS v, d${r - 1}.dd + 1 AS dd
           |    FROM d${r - 1} JOIN und ON d${r - 1}.v = und.a
           |    UNION ALL SELECT s, v, dd FROM d${r - 1})
           |  GROUP BY 1, 2)""".stripMargin
      }.mkString(",\n")
      s"""WITH $undCoreCteSql,
         |d0 AS MATERIALIZED (
         |  SELECT n_nationkey AS s, n_nationkey AS v, 0 AS dd FROM nation),
         |$rounds,
         |h AS (
         |  SELECT s, ROUND(SUM(CAST(1 AS DOUBLE) / dd), 6) AS harmonic,
         |    COUNT(*) AS n_reached
         |  FROM d4 WHERE dd > 0 GROUP BY 1)
         |SELECT n_name,
         |  COALESCE(h.harmonic, CAST(0 AS DOUBLE)) AS harmonic,
         |  COALESCE(h.n_reached, 0) AS n_reached
         |FROM nation LEFT JOIN h ON n_nationkey = h.s
         |ORDER BY harmonic DESC, n_name ASC""".stripMargin
    },
    "graph_hyperball" -> {
      val M = 16
      val rounds = (1 to 4).map { t =>
        s"""r$t AS MATERIALIZED (
           |  SELECT v, j, MAX(r) AS r FROM (
           |    SELECT und.b AS v, p.j, p.r
           |    FROM r${t - 1} p JOIN und ON p.v = und.a
           |    UNION ALL SELECT v, j, r FROM r${t - 1})
           |  GROUP BY 1, 2)""".stripMargin
      }.mkString(",\n")
      val ests = (0 to 4).map { t =>
        s"""e$t AS (
           |  SELECT v, CASE WHEN raw <= 40.0 AND zeros > 0
           |      THEN 16.0 * ln(16.0 / zeros) ELSE raw END AS est$t
           |  FROM (
           |    SELECT v, 0.673 * 256.0 / SUM(pow(2.0, -r)) AS raw,
           |      SUM(CASE WHEN r = 0 THEN 1 ELSE 0 END) AS zeros
           |    FROM r$t GROUP BY v))""".stripMargin
      }.mkString(",\n")
      s"""WITH $undCoreCteSql,
         |sd AS (
         |  SELECT n_nationkey AS v,
         |    ${graft.ops.DedupOps.polyHashSql("CAST(n_nationkey AS VARCHAR)")}
         |      % $M AS jv,
         |    ${graft.ops.DedupOps.polyHashSql("CAST(n_nationkey AS VARCHAR)")}
         |      // $M AS wv
         |  FROM nation),
         |r0 AS MATERIALIZED (
         |  SELECT sd.v, g.j,
         |    CASE WHEN g.j = sd.jv THEN
         |      CASE WHEN sd.wv = 0 THEN 27
         |           ELSE bit_count((sd.wv & -sd.wv) - 1) + 1 END
         |    ELSE 0 END AS r
         |  FROM sd CROSS JOIN (SELECT unnest(range($M)) AS j) g),
         |$rounds,
         |$ests
         |SELECT n_name,
         |  ROUND((e1.est1 - e0.est0) / 1.0 + (e2.est2 - e1.est1) / 2.0 +
         |        (e3.est3 - e2.est2) / 3.0 + (e4.est4 - e3.est3) / 4.0, 6)
         |    AS hb_harmonic,
         |  ROUND(e4.est4, 3) AS hb_ball_est
         |FROM nation
         |JOIN e0 ON n_nationkey = e0.v JOIN e1 ON n_nationkey = e1.v
         |JOIN e2 ON n_nationkey = e2.v JOIN e3 ON n_nationkey = e3.v
         |JOIN e4 ON n_nationkey = e4.v
         |ORDER BY hb_harmonic DESC, n_name ASC""".stripMargin
    },
    "graph_lpa_communities" -> {
      s"""WITH $undCoreCteSql,
         |l0 AS (SELECT n_nationkey AS node, n_nationkey AS label FROM nation),
         |$lpaRoundsSql
         |SELECT n_name, l$Iterations.label AS community
         |FROM nation JOIN l$Iterations ON n_nationkey = l$Iterations.node
         |ORDER BY community, n_name""".stripMargin
    },
    // same und + LPA round CTEs as the communities oracle, then the
    // exact-long modularity arithmetic (q terms micro-quantized before
    // the cross-community sum, mirroring the engine)
    "graph_modularity" -> {
      s"""WITH $undCoreCteSql,
         |l0 AS (SELECT n_nationkey AS node, n_nationkey AS label FROM nation),
         |$lpaRoundsSql,
         |nl AS (SELECT node, label AS community FROM l$Iterations),
         |wc AS (
         |  SELECT und.a, und.b, la.community AS ca, lb.community AS cb
         |  FROM und JOIN nl la ON und.a = la.node
         |           JOIN nl lb ON und.b = lb.node),
         |tt AS (SELECT CAST(COUNT(*) AS BIGINT) AS t FROM wc),
         |pc AS (
         |  SELECT ca AS community, CAST(COUNT(*) AS BIGINT) AS deg_sum,
         |    CAST(SUM(CASE WHEN ca = cb THEN 1 ELSE 0 END) AS BIGINT)
         |      AS intra_rows
         |  FROM wc GROUP BY 1),
         |nn AS (
         |  SELECT community, CAST(COUNT(*) AS BIGINT) AS n_nodes
         |  FROM nl GROUP BY 1),
         |qq AS (
         |  SELECT pc.community, nn.n_nodes, pc.intra_rows, pc.deg_sum,
         |    ${qroundLongSql("""(CAST(intra_rows AS DOUBLE) / t
         |      - (CAST(deg_sum AS DOUBLE) / t)
         |        * (CAST(deg_sum AS DOUBLE) / t)) * 1e6""")}
         |      AS qm
         |  FROM pc JOIN nn ON pc.community = nn.community
         |  CROSS JOIN tt)
         |SELECT community, n_nodes, intra_rows, deg_sum,
         |  ROUND(CAST(qm AS DOUBLE) / 1e6, 6) AS q_term,
         |  ROUND(CAST(SUM(qm) OVER () AS DOUBLE) / 1e6, 6) AS q_total
         |FROM qq ORDER BY community""".stripMargin
    },
    "graph_degree_stats" ->
      s"""WITH e AS (
         |  $edgesSql)
         |SELECT n_name,
         |  COALESCE(o.out_deg, 0) AS out_deg,
         |  COALESCE(i.in_deg, 0) AS in_deg,
         |  ROUND(COALESCE(o.out_w, 0), 2) AS out_w,
         |  ROUND(COALESCE(i.in_w, 0), 2) AS in_w
         |FROM nation
         |LEFT JOIN (SELECT src, COUNT(*) AS out_deg, CAST(SUM(w) AS DOUBLE) AS out_w
         |           FROM e GROUP BY 1) o ON n_nationkey = o.src
         |LEFT JOIN (SELECT dst, COUNT(*) AS in_deg, CAST(SUM(w) AS DOUBLE) AS in_w
         |           FROM e GROUP BY 1) i ON n_nationkey = i.dst
         |ORDER BY n_name""".stripMargin,
    "graph_triangles" ->
      s"""WITH e0 AS (
         |  $edgesSql),
         |u AS (
         |  SELECT LEAST(src, dst) AS a, GREATEST(src, dst) AS b,
         |    CAST(SUM(w) AS DOUBLE) AS uw
         |  FROM e0 WHERE src <> dst GROUP BY 1, 2),
         |core AS (
         |  SELECT a, b FROM (
         |    SELECT a, b, uw, AVG(uw) OVER () AS mw FROM u)
         |  WHERE ROUND(uw, 6) > ROUND(mw, 6)),
         |tri AS (
         |  SELECT e1.a AS x, e1.b AS y, e2.b AS z
         |  FROM core e1
         |  JOIN core e2 ON e1.b = e2.a
         |  JOIN core e3 ON e3.a = e1.a AND e3.b = e2.b)
         |SELECT n_name, COALESCE(t.n_triangles, 0) AS n_triangles
         |FROM nation
         |LEFT JOIN (
         |  SELECT node, COUNT(*) AS n_triangles FROM (
         |    SELECT unnest([x, y, z]) AS node FROM tri)
         |  GROUP BY 1) t ON n_nationkey = t.node
         |ORDER BY n_triangles DESC, n_name ASC""".stripMargin,
    // per-z 1/ln(deg) terms nano-quantized to BIGINT before the
    // per-pair sum — order-free addition, one display division
    "graph_adamic_adar" ->
      s"""WITH $undCoreCteSql,
         |deg AS (
         |  SELECT a AS node, CAST(COUNT(*) AS BIGINT) AS deg
         |  FROM und GROUP BY 1),
         |w AS (
         |  SELECT e1.b AS x, e2.b AS y, e1.a AS z
         |  FROM und e1 JOIN und e2 ON e1.a = e2.a AND e1.b < e2.b),
         |cand AS (
         |  SELECT x, y, z FROM w
         |  WHERE NOT EXISTS (
         |    SELECT 1 FROM und u WHERE u.a = w.x AND u.b = w.y)),
         |aa AS (
         |  SELECT x, y, CAST(COUNT(*) AS BIGINT) AS common,
         |    CAST(SUM(${qroundLongSql("1e9 / ln(CAST(dz.deg AS DOUBLE))")}) AS BIGINT) AS aa_nano
         |  FROM cand JOIN deg dz ON cand.z = dz.node
         |  GROUP BY 1, 2)
         |SELECT x, y, common, dx.deg AS deg_x, dy.deg AS deg_y,
         |  ROUND(common / (dx.deg + dy.deg - common), 6) AS jaccard,
         |  ROUND(aa_nano / 1e9, 6) AS adamic_adar
         |FROM aa
         |JOIN deg dx ON aa.x = dx.node
         |JOIN deg dy ON aa.y = dy.node
         |ORDER BY x, y""".stripMargin,
  )
}
