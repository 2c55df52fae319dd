package graft.ops

import org.apache.spark.{HashPartitioner, Partitioner}
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import Ranking.{topK, topKSql}
import org.apache.spark.sql.types.{LongType, StructField, StructType}

/** Deduplication suite for the training-data pipeline (north-star M9,
  * SURVEY.md §7.1/§7.4): exact hash-dedup, n-gram Jaccard, MinHash+LSH,
  * SimHash, embedding-cosine near-dup.
  *
  * Portability: every hash is pure integer arithmetic over code points
  * (polynomial mod 1e9+7; permutations (a_i·x+b_i) mod 2^31−1 with
  * formula-derived constants), so the DuckDB oracle reproduces signatures
  * bit-for-bit — the whole LSH pipeline is differentially tested, not just
  * row-counted.
  *
  * Scale notes (the 100 TB story):
  *  - Exact dedup: one shuffle on md5(text) — the canonical hash-groupBy.
  *  - N-gram Jaccard generates candidates from shared shingles; that is
  *    quadratic in per-shingle document frequency and exists as the
  *    *verifier*. The scale path is MinHash+LSH: signatures are computed
  *    per-document (map-only, no explosion), banded into 8 keys/doc, and
  *    only band-collisions shuffle — candidate count tracks true near-dup
  *    density, not corpus size².
  *  - SimHash: per-doc 32-bit sketch (map-only) + banded collision join on
  *    16-bit halves (Hamming ≤ … pairs must collide in one half by
  *    pigeonhole when radius < bands).
  *  - Embedding near-dup: brute-force pair filter here (N² at tiny N); the
  *    ANN/LSH bucketed form lives in SimilarityOps.
  */
object DedupOps {
  import Tables._

  type Q = (SparkSession, String) => DataFrame

  // Hash constants are ALIASES of the codegen'd expressions' own values —
  // the SQL-literal side (these, baked into oracle strings) and the
  // Spark-expression side (PolyHash/PolyHash2/ShingleHashes) must stay
  // equal for the wide-hash contract DedupSpec's meta-guard protects, so
  // a future edit to either cannot desynchronize them.
  private val P_POLY = graft.functions.PolyHash.Mod // polynomial-hash modulus (1e9+7)
  private val P_POLY2 = graft.functions.PolyHash2.Mod // second modulus (base 137, 1e9+9)
  val HashPack = graft.functions.ShingleHashes.Pack // 2^31 — packs (h1, h2) into one BIGINT
  private val P_PERM = 2147483647L // 2^31-1, permutation-hash modulus
  val NumHashes = 32
  val NumBands = 8
  val RowsPerBand = 4

  /** Independent MinHash permutation seeds h_i(x) = (a_i·x + b_i) mod P —
    * canonically owned by the codegen'd signature expression (see its
    * scaladoc for the independence rationale); aliased here for the
    * oracle-SQL literals.
    */
  lazy val permSeeds: IndexedSeq[(Long, Long)] = graft.functions.MinHashSig.seeds

  /** Order-sensitive polynomial hash of a string's code points,
    * acc = (acc*131 + code) mod 1e9+7 — identical in DuckDB via
    * list_reduce over string_split(s, ''). Backed by the codegen'd
    * graft.functions.PolyHash Catalyst expression (the equivalent
    * aggregate/split HOF form is interpreted and ~30× slower).
    */
  def polyHash(c: Column): Column = graft.functions.PolyHash.poly_hash(c)

  def polyHashSql(e: String): String =
    s"""list_reduce(
       |  list_prepend(CAST(0 AS BIGINT),
       |    list_transform(string_split($e, ''), c -> CAST(ascii(c) AS BIGINT))),
       |  (acc, c) -> (acc * 131 + c) % $P_POLY)""".stripMargin

  /** The hash-sampled query set of the retrieval evals and the ALS
    * serving queries: the 10 smallest `key`s of `frame` whose polyHash
    * of the key's string form is 0 mod 50. Deterministic and replayable
    * in DuckDB, and one set per key column, so every query over the
    * same keys samples the same queries.
    */
  def hashSample(frame: DataFrame, key: String): DataFrame =
    frame.filter(pmod(polyHash(col(key).cast("string")), lit(50L)) === 0)
      .orderBy(col(key)).limit(10)

  /** [[hashSample]]'s DuckDB twin: a SELECT of `cols` from `from`. */
  def hashSampleSql(cols: String, from: String, key: String): String =
    s"""SELECT $cols FROM $from
       |  WHERE ${polyHashSql(s"CAST($key AS VARCHAR)")} % 50 = 0
       |  ORDER BY $key LIMIT 10""".stripMargin

  /** Second independent polynomial (base 137, mod 1e9+9) — the DuckDB
    * twin of graft.functions.PolyHash2.
    */
  def polyHashSql2(e: String): String =
    s"""list_reduce(
       |  list_prepend(CAST(0 AS BIGINT),
       |    list_transform(string_split($e, ''), c -> CAST(ascii(c) AS BIGINT))),
       |  (acc, c) -> (acc * 137 + c) % $P_POLY2)""".stripMargin

  /** Packed ~60-bit hash pair `h1·2^31 + h2` (< 2^61, plain BIGINT) —
    * the DuckDB twin of the widened ShingleHashes / wideHash column
    * form. For operators that consume hash equality as string IDENTITY
    * with no exact verifier downstream; see PolyHash2's scaladoc for
    * the collision math.
    */
  def wideHashSql(e: String): String =
    s"(${polyHashSql(e)} * $HashPack + ${polyHashSql2(e)})"

  /** Column form of the packed hash pair. */
  def wideHash(c: Column): Column =
    graft.functions.PolyHash.poly_hash(c) * lit(HashPack) +
      graft.functions.PolyHash2.poly_hash2(c)

  /** Distinct 3-gram word shingles from a MATERIALIZED token-array column.
    *
    * `t` must be a real attribute, not an expression: interpreted HOFs
    * re-evaluate their argument per element, so passing `TextOps.tokens(text)` here
    * directly would re-run the full regex tokenization for every
    * element_at (~900 splits per doc — measured 30+ s at sf0.1 vs <1 s
    * with a materialized array). Keeping tokenization in its own Project
    * is safe because CollapseProject declines to inline non-cheap
    * expressions that are referenced more than once.
    *
    * Guarded: Spark's sequence(0, n-3) DESCENDS when n < 3 (it would index
    * from the array end), so short docs get an explicitly empty set.
    */
  def shinglesFromToks(t: Column): Column =
    when(size(t) >= 3,
      array_distinct(transform(sequence(lit(0), size(t) - 3),
        i => concat_ws(" ", element_at(t, i + 1), element_at(t, i + 2), element_at(t, i + 3)))))
      .otherwise(array().cast("array<string>"))

  /** Tokenize-then-shingle as one Column (convenience for tests). */
  def shingles(c: Column): Column = shinglesFromToks(TextOps.tokens(c))

  /** The shingle-hash chain of every shingle oracle, over the docs of
    * relation `from` (doc_id, text, then the `carry` columns, e.g.
    * ", side"): t (tokens) → sh (distinct 3-gram strings, docs with ≥ 3
    * tokens) → e0 (exploded) → e (doc_id, carry..., sh: the distinct
    * PACKED hash pairs, as ShingleHashes emits them — identity, set sizes
    * and any residual ~2^-60 collisions are the engine's) → sz (per-doc
    * set size). [[shingleCte]] is the whole-corpus chain.
    */
  private def shingleSql(from: String, carry: String = ""): String =
    s"""t AS (SELECT doc_id$carry, ${TextOps.tokensSql("text")} AS toks FROM $from),
       |sh AS (SELECT doc_id$carry, list_distinct(list_transform(range(len(toks) - 2),
       |  i -> toks[i+1] || ' ' || toks[i+2] || ' ' || toks[i+3])) AS shs
       |  FROM t WHERE len(toks) >= 3),
       |e0 AS (SELECT doc_id$carry, unnest(shs) AS sh FROM sh),
       |e AS (SELECT DISTINCT doc_id$carry, ${wideHashSql("sh")} AS sh FROM e0),
       |sz AS (SELECT doc_id, COUNT(*) AS sz FROM e GROUP BY doc_id)""".stripMargin

  private val shingleCte = shingleSql("documents")

  /** The near-duplicate gate of both engines: a pair is a near-dup when
    * its Jaccard ROUNDED to 6 dp reaches the gate. The rounded and the
    * exact ratio select the same pairs on every input this engine sees:
    * for integer |A∩B| and |A∪B| below a gate p/q the gap is at least
    * 1/(q·|A∪B|), so rounding can lift a pair over the gate only once the
    * union reaches 200,000 shingles (400,000 at 0.8). One rule, stated
    * once, keeps the pair sets and the oracles identical anyway.
    */
  val JaccardGate = 0.8

  /** The rounded Jaccard |A∩B| / |A∪B| from the intersection and both
    * set sizes (see [[JaccardGate]]).
    */
  def jaccard(inter: Column, s1: Column, s2: Column): Column =
    round(inter / (s1 + s2 - inter), 6)

  /** [[jaccard]]'s DuckDB twin over columns `inter`, `s1`, `s2`. */
  private def jaccardSql(inter: String = "inter", s1: String = "s1",
      s2: String = "s2"): String =
    s"ROUND($inter * 1.0 / ($s1 + $s2 - $inter), 6)"

  /** (d1 < d2, inter, s1, s2) for every doc pair sharing ≥ 1 shingle:
    * the exploded self-join on the hash, the per-pair count and both set
    * sizes. The enumerating form (no candidate list given); the pair
    * generators verify given candidates through [[verifyCandidates]].
    */
  private def sharedShinglePairs(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val (e, sizes) = explodedShingles(s, d)
    e.toDF("d1", "sh").join(e.toDF("d2", "sh"), "sh").filter($"d1" < $"d2")
      .groupBy($"d1", $"d2").agg(count("*").as("inter"))
      .join(sizes.toDF("d1", "s1"), "d1")
      .join(sizes.toDF("d2", "s2"), "d2")
  }

  /** (d1, d2, jaccard) pairs with jaccard ≥ `gate` from a (d1, d2,
    * inter, s1, s2) frame, ordered by pair.
    */
  private def gated(pairs: DataFrame, gate: Double): DataFrame =
    pairs
      .withColumn("jaccard", jaccard(col("inter"), col("s1"), col("s2")))
      .filter(col("jaccard") >= gate)
      .select("d1", "d2", "jaccard")
      .orderBy("d1", "d2")

  /** [[sharedShinglePairs]]' DuckDB twin (needs [[shingleSql]]'s `e` and
    * `sz`): the CTE `pairs(d1, d2, inter, s1, s2)`.
    */
  private val pairsSql =
    """pairs AS (
      |  SELECT d1, d2, inter, sa.sz AS s1, sb.sz AS s2 FROM (
      |    SELECT a.doc_id AS d1, b.doc_id AS d2, COUNT(*) AS inter
      |    FROM e a JOIN e b ON a.sh = b.sh AND a.doc_id < b.doc_id
      |    GROUP BY 1, 2) p
      |  JOIN sz sa ON d1 = sa.doc_id
      |  JOIN sz sb ON d2 = sb.doc_id)""".stripMargin

  /** [[gated]]'s DuckDB twin: [[pairsSql]], then `name(d1, d2, jaccard)`
    * holding the pairs at or above `gate`.
    */
  private def jaccardPairsSql(name: String, gate: Double): String =
    s"""$pairsSql,
       |$name AS (
       |  SELECT d1, d2, ${jaccardSql()} AS jaccard FROM pairs
       |  WHERE ${jaccardSql()} >= $gate)""".stripMargin

  /** Embedding corpus with planted near-duplicates: every 50th vector
    * re-keyed +100000 with dim 0 bumped by +0.1. On a unit-norm corpus the
    * bump yields cosine(base, planted) ≈ 0.995 — a genuine near-dup above
    * the 0.9 search threshold. Shared by dedup_embedding_lsh and the
    * DedupSpec recall test (which compares LSH output to the brute-force
    * verifier over this same corpus).
    */
  def plantedEmbeddingCorpus(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val base = SimilarityOps.vectors(s, d).select($"vec_id", $"e")
    val planted = base.filter($"vec_id" % 50 === 0)
      .select(($"vec_id" + 100000).as("vec_id"),
        concat(array(element_at($"e", 1) + lit(0.1)),
          slice($"e", 2, SimilarityOps.Dim - 1)).as("e"))
    base.union(planted).withColumn("norm", SimilarityOps.l2Norm($"e"))
  }

  /** The persisted (doc_id, carry..., xs: array<long>) shingle-hash
    * frame of the docs in `docs` (doc_id, text, carry...): repartitioned
    * to the session width (single-file corpus: fan out before the CPU
    * work), tokenized in its own Project (a materialized attribute), then
    * the codegen'd ShingleHashes expression emits the distinct hashes in
    * one pass — shingle strings never materialize. Docs without a shingle
    * (fewer than 3 tokens) are dropped. Persisted: it feeds 3-6 plan
    * branches (candidate sides, sizes, signatures), and without a
    * materialization boundary Spark re-reads and re-shingles per branch.
    */
  private def shingleHashes(docs: DataFrame, carry: String*): DataFrame = {
    val keys = ("doc_id" +: carry).map(col)
    docs.repartition(docs.sparkSession.sparkContext.defaultParallelism)
      .select(keys :+ TextOps.tokens(col("text")).as("t"): _*)
      .select(keys :+
        graft.functions.ShingleHashes.poly_shingles(col("t")).as("xs"): _*)
      .filter(size(col("xs")) >= 1)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
  }

  /** The corpus's [[shingleHashes]] frame: one Memo.perPass entry per
    * sfDir, shared by every shingle op of a pass.
    */
  private def shingleFrame(s: SparkSession, d: String): DataFrame =
    Memo.perPass("shingles", s, d)(shingleHashes(documents(s, d)))

  /** The corpus/incoming split of dedup_incremental and
    * stream_lsh_incremental: every 10th doc arrives in the incoming batch,
    * with re-keyed exact copies of some corpus docs (guaranteed dups).
    * Returns (incoming docs, the (doc_id, side, xs) shingle-hash frame —
    * a Memo.perPass entry with 3 consumers: signatures and both verify
    * sides — and the distinct (d_new, d_old) pairs sharing an LSH band).
    */
  private def incrementalCandidates(s: SparkSession, d: String)
      : (DataFrame, DataFrame, DataFrame) = {
    import s.implicits._
    val base = documents(s, d).select($"doc_id", $"text")
    val corpus = base.filter($"doc_id" % 10 =!= 0)
    val incoming = base.filter($"doc_id" % 10 === 0)
      .union(corpus.filter($"doc_id" % 25 === 7)
        .select(($"doc_id" + 2000000).as("doc_id"), $"text"))
    val sh = Memo.perPass("shingles_incremental", s, d) {
      shingleHashes(corpus.withColumn("side", lit("old"))
        .union(incoming.withColumn("side", lit("new"))), "side")
    }
    val bands = lshBands(sh, "doc_id", "side")
    val cands = bands.filter($"side" === "new")
      .select($"doc_id".as("d_new"), $"band", $"key")
      .join(bands.filter($"side" === "old")
        .select($"doc_id".as("d_old"), $"band", $"key"), Seq("band", "key"))
      .select("d_new", "d_old").distinct()
    (incoming, sh, cands)
  }

  /** [[incrementalCandidates]]' split in DuckDB: `corpus`, `incoming`
    * and `all_docs(doc_id, text, side)`.
    */
  private val incrementalSplitSql =
    """corpus AS (SELECT doc_id, text FROM documents WHERE doc_id % 10 <> 0),
      |incoming AS (
      |  SELECT doc_id, text FROM documents WHERE doc_id % 10 = 0
      |  UNION ALL
      |  SELECT doc_id + 2000000 AS doc_id, text FROM corpus WHERE doc_id % 25 = 7),
      |all_docs AS (
      |  SELECT doc_id, text, 'old' AS side FROM corpus
      |  UNION ALL
      |  SELECT doc_id, text, 'new' AS side FROM incoming)""".stripMargin

  /** [[incrementalCandidates]] in DuckDB: the split, its side-aware
    * shingle and band chains, and `cands(d_new, d_old)`, the distinct new
    * × old pairs sharing a band (the probe, not the d1 < d2 self-join).
    */
  private lazy val incrementalCandidatesSql =
    s"""$incrementalSplitSql,
       |${shingleSql("all_docs", ", side")},
       |${lshBandsSql(", side")},
       |cands AS (
       |  SELECT DISTINCT n.doc_id AS d_new, o.doc_id AS d_old
       |  FROM bands n JOIN bands o
       |    ON n.band = o.band AND n.key = o.key
       |    AND n.side = 'new' AND o.side = 'old')""".stripMargin

  /** (keys..., band, key): the NumBands MinHash band keys of each row's
    * `xs` shingle hashes, RowsPerBand signature values joined per band.
    */
  private def lshBands(sh: DataFrame, keys: String*): DataFrame = {
    val bandKeys = (0 until NumBands).map { b =>
      concat_ws("_", (0 until RowsPerBand).map(r =>
        element_at(col("mh"), b * RowsPerBand + r + 1).cast("string")): _*)
    }
    sh.select(keys.map(col) :+
        graft.functions.MinHashSig.min_hash_sig(col("xs")).as("mh"): _*)
      .select(keys.map(col) :+ posexplode(array(bandKeys: _*)): _*)
      .withColumnRenamed("pos", "band").withColumnRenamed("col", "key")
  }

  /** [[lshBands]]' DuckDB twin over [[shingleSql]]'s `e` (with the same
    * `carry` columns): xs → seeds (the permutation constants) → sig (the
    * 32 permutation minima) → bands(doc_id, carry..., band, key).
    */
  private def lshBandsSql(carry: String = ""): String =
    s"""xs AS (SELECT doc_id$carry, sh AS x FROM e),
       |seeds(i, a, b) AS (VALUES ${permSeeds.zipWithIndex
      .map { case ((a, b), i) => s"($i,$a,$b)" }.mkString(",")}),
       |sig AS (
       |  SELECT doc_id$carry, i, MIN((a * (x % $P_PERM) + b) % $P_PERM) AS h
       |  FROM xs CROSS JOIN seeds
       |  GROUP BY doc_id$carry, i),
       |bands AS (
       |  SELECT doc_id$carry, i // $RowsPerBand AS band,
       |    string_agg(CAST(h AS VARCHAR), '_' ORDER BY i) AS key
       |  FROM sig GROUP BY doc_id$carry, i // $RowsPerBand)""".stripMargin

  /** The distinct (d1 < d2) doc pairs of a shingle-hash frame sharing at
    * least one LSH band. The distinct is REQUIRED, not an optimization: a
    * pair colliding in k bands appears k times and would be verified and
    * emitted k×.
    */
  private def bandPairs(sh: DataFrame): DataFrame = {
    val sig = lshBands(sh, "doc_id")
    sig.toDF("d1", "band", "key")
      .join(sig.toDF("d2", "band", "key"), Seq("band", "key"))
      .filter(col("d1") < col("d2"))
      .select("d1", "d2").distinct()
  }

  /** [[bandPairs]]' DuckDB twin over [[lshBandsSql]]'s `bands`. */
  private val bandPairsSql =
    s"""cands AS (
       |  SELECT DISTINCT a.doc_id AS d1, b.doc_id AS d2
       |  FROM bands a JOIN bands b
       |    ON a.band = b.band AND a.key = b.key AND a.doc_id < b.doc_id)""".stripMargin

  /** (doc_id, sh: long hash) exploded shingle hashes + per-doc set sizes:
    * the form of the ops that ENUMERATE shared-shingle pairs or probe
    * single hashes ([[sharedShinglePairs]]: ngram_jaccard, containment,
    * the pr_eval/gate_sweep ground truth; prefix_filter, the contamination
    * probes). Verifying an already-generated candidate list reads the
    * cached arrays instead ([[verifyCandidates]]).
    */
  private def explodedShingles(s: SparkSession, d: String): (DataFrame, DataFrame) = {
    import s.implicits._
    val sh = shingleFrame(s, d)
    (sh.select($"doc_id", explode($"xs").as("sh")),
      sh.select($"doc_id", size($"xs").as("sz")))
  }

  /** (a, b, inter, s1, s2) for every candidate pair (a, b) of the
    * two-column frame `cands`: |A∩B| and both shingle-set sizes, read off
    * a cached (doc_id, xs) shingle-hash frame joined once per side. `xs`
    * holds DISTINCT hashes (ShingleHashes), so size(array_intersect) is
    * the row count the exploded shingle join (explode → join → groupBy →
    * two size joins, about five shuffles) produced. Callers apply their
    * own Jaccard gate; `cands` must be distinct, one row per pair.
    */
  private def verifyCandidates(cands: DataFrame, sh: DataFrame): DataFrame = {
    val Array(a, b) = cands.columns
    def side(c: String, xs: String) = sh.select(col("doc_id").as(c), col("xs").as(xs))
    cands.join(side(a, "x1"), a).join(side(b, "x2"), b)
      .select(col(a), col(b),
        size(array_intersect(col("x1"), col("x2"))).as("inter"),
        size(col("x1")).as("s1"), size(col("x2")).as("s2"))
  }

  /** [[verifyCandidates]]' DuckDB twin, gated: over a `cands(a, b)` CTE
    * and [[shingleSql]]'s `e`/`sz`, `inter` counts |A∩B| per pair and
    * `lshverified(a, b, jaccard)` keeps the pairs at the gate.
    */
  private def verifiedSql(a: String, b: String): String =
    s"""inter AS (
       |  SELECT $a, $b, COUNT(*) AS inter
       |  FROM cands JOIN e e1 ON e1.doc_id = $a
       |             JOIN e e2 ON e2.doc_id = $b AND e1.sh = e2.sh
       |  GROUP BY $a, $b),
       |lshverified AS (
       |  SELECT $a, $b, ${jaccardSql("inter", "sa.sz", "sb.sz")} AS jaccard
       |  FROM inter
       |  JOIN sz sa ON $a = sa.doc_id
       |  JOIN sz sb ON $b = sb.doc_id
       |  WHERE ${jaccardSql("inter", "sa.sz", "sb.sz")} >= $JaccardGate)""".stripMargin

  /** Connected components over an undirected pair list (d1, d2): returns
    * (node, lbl) with lbl the component minimum, for every node in a
    * non-self pair: long ids, nullable when an input column is. The
    * engine's one CC kernel: alternating LARGE-STAR / SMALL-STAR rounds
    * (Kiveris et al. 2014, "Connected Components in MapReduce and
    * Beyond"), which rewrite the EDGE set itself and provably converge
    * in O(log² n) rounds on ANY topology, skewed components included
    * (min-label propagation needs O(diameter) rounds and a full |V|
    * label table per round). Edges are stored oriented, u > v:
    *   large-star: every node attaches its strictly-larger neighbors to
    *     the minimum of its closed neighborhood;
    *   small-star: every node attaches its smaller neighbors and itself
    *     to the minimum of those neighbors.
    * The edge set is a star forest — each component one star centred on
    * its minimum, so labels read off without a closure pass — exactly
    * when no node is both a child and a parent and no child has two
    * parents. That test is exact and runs on the per-node summaries the
    * next large-star reads anyway.
    *
    * The rounds are a fixed-plan RDD kernel: the oriented edge list
    * leaves Catalyst once, every shuffle runs under one
    * HashPartitioner(defaultParallelism), and the labels become a
    * DataFrame once, at the end. The state is the adjacency: every
    * distinct edge stored once under each endpoint, partitioned by that
    * endpoint. A round is two shuffles (the small-star input keyed by
    * its child, then the deduplicating adjacency shuffle) and ONE job:
    * the count of nodes still outside a star, which is also the
    * convergence test and materializes the round's local checkpoint. So
    * the loop costs rounds + 1 jobs (the +1 tests the input edge set)
    * and builds no Catalyst plan: a DataFrame round re-analyzed and
    * re-optimized its join chain on the driver, and AQE submitted one
    * job per exchange. No per-node neighbor list is ever built, so a
    * component's centre costs what any node costs: each partition
    * streams its edges past a map of O(1) per-node summaries (smallest
    * and largest parent, has-a-child), and the map-side-combined dedup
    * spills like any aggregation. The checkpoint cuts each round's
    * lineage, so earlier rounds' shuffle files can be cleaned; one count
    * per round reaches the driver.
    */
  def ccStars(s: SparkSession, pairs: DataFrame): DataFrame = ccStarRounds(s, pairs)._1

  /** [[ccStars]] and the number of large/small-star rounds it ran. */
  private[graft] def ccStarRounds(s: SparkSession, pairs: DataFrame): (DataFrame, Int) = {
    import s.implicits._
    val p = pairs.toDF("d1", "d2")
    val oriented = p.filter($"d1" =!= $"d2")
      .select(greatest($"d1", $"d2").as("u"), least($"d1", $"d2").as("v"))
    val nullable = p.schema.exists(_.nullable)
    val part = new HashPartitioner(s.sparkContext.defaultParallelism)
    var adj = adjacency(oriented.as[(Long, Long)].rdd, part)
    var open = openNodes(adj)
    var rounds = 0
    while (open > 0 && rounds < 50) {
      val next = adjacency(smallStar(largeStar(adj), part), part)
      open = openNodes(next)
      // `next` is checkpointed now, so nothing reads this round's input
      adj.unpersist(blocking = false)
      adj = next
      rounds += 1
    }
    // O(log² n) convergence means the cap can only be hit by a broken
    // invariant (orientation, min-propagation); returning a non-star
    // edge set would silently emit duplicate (node,label) rows, so make
    // it a loud failure rather than a fallback.
    if (open > 0) {
      adj.unpersist(blocking = false)
      throw new IllegalStateException(
        s"ccStars failed to converge after $rounds rounds ($open nodes outside a star)")
    }
    // the labels read the last round's checkpoint, which lives as long
    // as the frame's lineage does
    val labels = adj.mapPartitions(it =>
      starsOf(it).iterator.map { case (x, st) => Row(x, math.min(x, st.minP)) })
    (s.createDataFrame(labels, StructType(Seq(
      StructField("node", LongType, nullable), StructField("lbl", LongType, nullable)))),
      rounds)
  }

  /** One node's summary in the oriented edge set: its smallest and
    * largest parent (smaller neighbor; Long.MaxValue / MinValue when it
    * has none) and whether it has a child (larger neighbor).
    */
  private final class Star(var minP: Long, var maxP: Long, var hasKid: Boolean) {
    /** Not yet a leaf or a centre of a star: a parent plus a second
      * parent or a child. */
    def open: Boolean = minP != Long.MaxValue && (minP != maxP || hasKid)
  }

  /** Places an (x, y) adjacency entry by its node x. */
  private final class ByNode(part: Partitioner) extends Partitioner {
    def numPartitions: Int = part.numPartitions
    def getPartition(key: Any): Int = part.getPartition(key.asInstanceOf[(Long, Long)]._1)
  }

  /** The adjacency of oriented edges (u > v, duplicates allowed): each
    * distinct edge as (u, v) and (v, u), partitioned by its first node
    * under `part` — one map-side-combined shuffle — and locally
    * checkpointed, so the next action materializes it and cuts the
    * lineage behind it.
    */
  private def adjacency(edges: RDD[(Long, Long)], part: Partitioner): RDD[(Long, Long)] =
    edges.flatMap { case (u, v) => Iterator(((u, v), ()), ((v, u), ())) }
      .reduceByKey(new ByNode(part), (a, _) => a)
      .map(_._1)
      .localCheckpoint()

  /** The summaries of the nodes of one adjacency partition. */
  private def starsOf(adj: Iterator[(Long, Long)]): scala.collection.mutable.LongMap[Star] = {
    val stars = scala.collection.mutable.LongMap.empty[Star]
    adj.foreach { case (x, y) =>
      val st = stars.getOrElseUpdate(x, new Star(Long.MaxValue, Long.MinValue, false))
      if (y < x) { st.minP = math.min(st.minP, y); st.maxP = math.max(st.maxP, y) }
      else st.hasKid = true
    }
    stars
  }

  /** The star-forest test: how many nodes are outside a star. */
  private def openNodes(adj: RDD[(Long, Long)]): Long =
    adj.mapPartitions(it => starsOf(it).valuesIterator.filter(_.open)).count()

  /** Large-star: each child y of x re-attaches to min(x, x's parents) —
    * y > x >= that minimum, so the u > v orientation holds for free.
    * Each partition streams its child entries past its summary map. */
  private def largeStar(adj: RDD[(Long, Long)]): RDD[(Long, Long)] =
    adj.zipPartitions(adj.mapPartitions(it => Iterator.single(starsOf(it)))) { (es, sts) =>
      val stars = sts.next()
      es.collect { case (x, y) if y > x => (y, math.min(x, stars(x).minP)) }
    }

  /** Small-star: each node u and its smaller neighbors re-attach to the
    * least of those neighbors m — edge (u, m) stays, every other (u, v)
    * becomes (v, m): one shuffle by u, whose partitions are read twice,
    * for the per-node minima and for the edge stream. */
  private def smallStar(large: RDD[(Long, Long)], part: Partitioner): RDD[(Long, Long)] = {
    val byChild = large.partitionBy(part)
    val mins = byChild.mapPartitions { it =>
      val m = scala.collection.mutable.LongMap.empty[Long]
      it.foreach { case (u, v) => if (m.getOrElse(u, Long.MaxValue) > v) m(u) = v }
      Iterator.single(m)
    }
    byChild.zipPartitions(mins) { (es, ms) =>
      val m = ms.next()
      es.map { case (u, v) => val mu = m(u); if (v == mu) (u, mu) else (v, mu) }
    }
  }

  /** [[ccStars]]' DuckDB twin: the recursive transitive closure over the
    * (d1, d2) pairs of CTE `pairs`, ending in `cc<suffix>(doc_id,
    * cluster_rep)` (component-min labels of every node in a pair). Its
    * caller opens the WITH RECURSIVE.
    */
  private def closureSql(pairs: String, suffix: String = ""): String =
    s"""ed$suffix AS (SELECT d1 AS a, d2 AS b FROM $pairs
       |  UNION SELECT d2, d1 FROM $pairs),
       |reach$suffix(a, b) AS (
       |  SELECT a, b FROM ed$suffix UNION SELECT a, a FROM ed$suffix
       |  UNION
       |  SELECT r.a, e2.b FROM reach$suffix r JOIN ed$suffix e2 ON r.b = e2.a),
       |cc$suffix AS (
       |  SELECT a AS doc_id, MIN(b) AS cluster_rep FROM reach$suffix GROUP BY a)""".stripMargin

  /** The split-leakage report over an arbitrary near-dup pair list
    * (d1, d2): recompute each member's train/val/test assignment from
    * the stable id (split_train_test's hash rule — no join against a
    * split table) and count pairs per (split, split) cell with a leak
    * flag. ONE function serves both the exact-verifier-fed audit and
    * the production LSH-fed audit so the report logic cannot drift.
    */
  private def leakageAudit(s: SparkSession, pairs: DataFrame): DataFrame = {
    import s.implicits._
    pairs
      .withColumn("s1", splitOf($"d1"))
      .withColumn("s2", splitOf($"d2"))
      .groupBy($"s1", $"s2").agg(count(lit(1)).as("n_pairs"))
      .withColumn("leaks", $"s1" =!= $"s2")
      .orderBy("s1", "s2")
  }

  /** The deterministic train/val/test split of a stable id: 80/10/10 by
    * polyHash(id) mod 10 — split_train_test's assignment, recomputed by
    * the leakage audits.
    */
  def splitOf(c: Column): Column = {
    val bucket = pmod(polyHash(c.cast("string")), lit(10L))
    when(bucket < 8, "train").when(bucket === 8, "val").otherwise("test")
  }

  /** [[splitOf]]'s DuckDB twin. */
  def splitSql(c: String): String =
    s"""CASE WHEN ${polyHashSql(s"CAST($c AS VARCHAR)")} % 10 < 8 THEN 'train'
       |     WHEN ${polyHashSql(s"CAST($c AS VARCHAR)")} % 10 = 8 THEN 'val'
       |     ELSE 'test' END""".stripMargin

  /** The planted exact-dup fixture: the corpus's (doc_id, text) plus a
    * copy of every 100th doc re-keyed +1000000, so an exact dedup
    * provably removes rows. Real doc_ids stay under 1e6 (through the
    * 100× scale corpus); a larger corpus bumps the offset here.
    */
  def plantedDups(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val docs = documents(s, d).select($"doc_id", $"text")
    docs.union(docs.filter($"doc_id" % 100 === 0)
      .select(($"doc_id" + 1000000).as("doc_id"), $"text"))
  }

  /** [[plantedDups]]' DuckDB twin: the CTE `all_docs(doc_id, text)`. */
  lazy val plantedDupsSql =
    """all_docs AS (
      |  SELECT doc_id, text FROM documents
      |  UNION ALL
      |  SELECT doc_id + 1000000 AS doc_id, text FROM documents
      |  WHERE doc_id % 100 = 0)""".stripMargin

  /** The planted half-doc fixture of the substring ops: every doc's
    * (doc_id, tk) tokens plus, for every 50th doc, its first half re-keyed
    * +2000000 (all of its windows exist in the source doc).
    */
  private def halfDocs(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val tokd = documents(s, d).select($"doc_id", TextOps.tokens($"text").as("tk"))
    tokd.union(tokd.filter($"doc_id" % 50 === 0)
      .select(($"doc_id" + 2000000).as("doc_id"),
        slice($"tk", lit(1), floor(size($"tk") / 2).cast("int")).as("tk")))
  }

  /** [[halfDocs]]' DuckDB twin: `t`, `h0` and `a(doc_id, tk)`. */
  private val halfDocsSql =
    s"""t AS (SELECT doc_id, ${TextOps.tokensSql("text")} AS tk FROM documents),
       |h0 AS (
       |  SELECT doc_id + 2000000 AS doc_id, tk[1:len(tk)//2] AS tk
       |  FROM t WHERE doc_id % 50 = 0),
       |a AS (SELECT * FROM t UNION ALL SELECT * FROM h0)""".stripMargin

  /** The exact verifier's near-dup pairs with the 60-char text prefix of
    * each side (d1, d2, p1, p2): the candidate set of the edit-distance
    * layers, never pairwise over the corpus.
    */
  private def prefixPairs(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val pairs = queries("dedup_ngram_jaccard")(s, d).select($"d1", $"d2")
    val prefixes = documents(s, d)
      .select($"doc_id", substring($"text", 1, 60).as("prefix"))
    pairs
      .join(prefixes.toDF("d1", "p1"), "d1")
      .join(prefixes.toDF("d2", "p2"), "d2")
  }

  /** [[prefixPairs]]' DuckDB twin: ends in `pp(d1, d2, p1, p2)`. */
  private lazy val prefixPairsSql =
    s"""$shingleCte,
       |${jaccardPairsSql("jac", JaccardGate)},
       |pre AS (SELECT doc_id, substr(text, 1, 60) AS prefix FROM documents),
       |pp AS (
       |  SELECT d1, d2, a.prefix AS p1, b.prefix AS p2
       |  FROM jac JOIN pre a ON d1 = a.doc_id JOIN pre b ON d2 = b.doc_id)""".stripMargin

  /** Cluster labels over the exact verifier's >= 0.8 pairs. */
  private val exactPairClusterReps: Q = (s, d) => {
    import s.implicits._
    val pairs = queries("dedup_ngram_jaccard")(s, d).select($"d1", $"d2")
    ccStars(s, pairs)
      .toDF("doc_id", "cluster_rep")
      .withColumn("is_survivor", $"doc_id" === $"cluster_rep")
      .orderBy("doc_id")
  }

  val queries: Map[String, Q] = Map(
    // Exact dedup: hash-groupBy on md5(text), keep lowest doc_id. Input is
    // the corpus unioned with re-keyed copies of every 100th doc, so the
    // dedup provably removes rows.
    "dedup_exact" -> ((s, d) => {
      import s.implicits._
      topK(plantedDups(s, d).withColumn("h", md5($"text")),
          Seq($"h"), Seq($"doc_id".asc), 1, None)
        .select($"doc_id", $"h")
        .orderBy("doc_id")
    }),

    // SoftDeDup (round 18; He et al. 2024, "SoftDedup"): REWEIGHT
    // duplicates instead of removing them — each doc's sampling weight
    // is 1/|its exact-dup cluster|, so a cluster's total training mass
    // equals one copy's and the pretraining loss stops over-counting
    // duplicated text while keeping every byte available. The soft
    // complement of dedup_exact's keep-first (same planted-dup fixture,
    // so cluster sizes are non-trivial at every SF); micro-quantized
    // floor weights keep the oracle exact (both engines floor:
    // Spark `div`, DuckDB `//`). Scale: one md5 hash-group — the
    // dedup_exact shuffle with a count fan-back instead of a survivor
    // pick; nothing pairwise.
    "corpus_softdedup_weights" -> ((s, d) => {
      import s.implicits._
      val wc = Window.partitionBy($"h")
      plantedDups(s, d)
        .withColumn("h", md5($"text"))
        .withColumn("n_dups", count(lit(1)).over(wc))
        .select($"doc_id", $"n_dups",
          expr("1000000L div n_dups").as("weight_micro"))
        .orderBy("doc_id")
    }),

    // PARAGRAPH-level exact dedup (the CCNet/RefinedWeb line-dedup pass,
    // Wenzek et al. 2020 §3.1): duplicated paragraphs — boilerplate,
    // syndicated blocks, repeated headers — are removed from every doc
    // but their FIRST occurrence (global (doc_id, pid) order), and each
    // doc is reassembled from its surviving paragraphs. Sub-document
    // granularity is what doc-level dedup_exact structurally misses:
    // two distinct articles sharing one syndicated block keep their
    // prose and lose the block. Paragraph proxy: non-overlapping
    // 10-token chunks (the corpus has no newlines; same fixed
    // segmentation family as chunk_documents). Same planted-dup fixture
    // as dedup_exact, so cross-doc duplicate paragraphs exist at every
    // SF and the dup copies drain to empty. Scale: explode is map-only
    // (×n_tokens/10); the survivor pick is ONE shuffle of the chunk
    // table on its hash (the CCNet shuffle — linear in corpus tokens),
    // reassembly is one groupBy(doc_id); nothing pairwise. The window
    // partitions by the chunk hash, so it is corpus-wide-key-parallel,
    // never a single-partition global sort.
    "dedup_paragraph_exact" -> ((s, d) => {
      import s.implicits._
      val P = 10
      val paras = plantedDups(s, d)
        .select($"doc_id", TextOps.tokens($"text").as("tk"))
        .withColumn("n", size($"tk"))
        .filter($"n" >= 1)
        .select($"doc_id", $"tk", $"n",
          explode(sequence(lit(0),
            floor(($"n" - 1) / P).cast("long"))).as("pid"))
        .withColumn("ptxt", concat_ws(" ",
          slice($"tk", ($"pid" * P + 1).cast("int"),
            least(lit(P), $"n" - $"pid" * P).cast("int"))))
        .select($"doc_id", $"pid", $"ptxt")
      val w = Window.partitionBy(md5($"ptxt")).orderBy($"doc_id", $"pid")
      paras.withColumn("rn", row_number().over(w))
        .groupBy($"doc_id")
        .agg(count(lit(1)).as("n_paras"),
          sum(when($"rn" === 1, 1L).otherwise(0L)).as("n_kept"),
          concat_ws(" ", transform(
            array_sort(collect_list(
              when($"rn" === 1, struct($"pid", $"ptxt")))),
            x => x("ptxt"))).as("kept_text"))
        .orderBy("doc_id")
    }),

    // N-gram (3-shingle) Jaccard near-dup — exact verifier: candidates from
    // shared shingles, then inter/union ≥ 0.8.
    "dedup_ngram_jaccard" -> ((s, d) => gated(sharedShinglePairs(s, d), JaccardGate)),

    // DIRECTIONAL containment (Broder's containment coefficient
    // |A∩B|/|A|): catches quote-expansion / syndication near-dups where
    // a short doc is swallowed by a longer one — pairs symmetric Jaccard
    // structurally misses (|A∩B|/|A∪B| shrinks as B grows; |A∩B|/|A|
    // does not). Shares the exact-verifier posture of ngram_jaccard:
    // candidates come from shared shingles, so it's the recall oracle
    // for the LSH paths, not a corpus-wide pass. Both directions of an
    // asymmetric pair emit independently (the d1 < d2 enumeration and
    // its mirror); jaccard rides along to show the gap.
    "dedup_containment" -> ((s, d) => {
      import s.implicits._
      val pairs = sharedShinglePairs(s, d)
      pairs.unionByName(pairs.select($"d2".as("d1"), $"d1".as("d2"), $"inter",
          $"s2".as("s1"), $"s1".as("s2")))
        .withColumn("containment", round($"inter" / $"s1", 6))
        .withColumn("jaccard", jaccard($"inter", $"s1", $"s2"))
        .filter($"containment" >= 0.9)
        .select($"d1", $"d2", $"inter", $"s1", $"s2",
          $"containment", $"jaccard")
        .orderBy("d1", "d2")
    }),

    // PPJoin-family prefix-filtered EXACT similarity join (Chaudhuri et
    // al. SSJoin / Bayardo et al. All-Pairs / Xiao et al. PPJoin): same
    // result as dedup_ngram_jaccard — it shares that oracle — but the
    // candidate generator joins only each doc's PREFIX: the
    // |S|−⌈t·|S|⌉+1 globally-rarest shingles under the (df, sh) total
    // order. Two sets with Jaccard ≥ t MUST intersect within these
    // prefixes, so the filter is lossless; what it buys at scale is that
    // the inverted index shrinks to each doc's rare tail — corpus-wide
    // boilerplate shingles (the df² blowup of a full-index join) never
    // generate a candidate, the same discipline LSH gets probabilistically
    // but here with an exact-threshold guarantee. Verification reads the
    // cached shingle arrays of the bounded candidate list only.
    // DedupSpec asserts output equality with the full-index join and
    // that the prefix index is strictly smaller.
    "dedup_prefix_filter" -> ((s, d) => {
      import s.implicits._
      val T = JaccardGate
      val (e, sizes) = explodedShingles(s, d)
      val dfs = e.groupBy($"sh").agg(count(lit(1)).as("df"))
      val pref = topK(e.join(dfs, "sh").join(sizes.toDF("doc_id", "sz"), "doc_id"),
          Seq($"doc_id"), Seq($"df".asc, $"sh".asc), $"sz" - ceil(lit(T) * $"sz") + 1, None)
        .select($"doc_id", $"sh")
      val cands = pref.toDF("d1", "sh").join(pref.toDF("d2", "sh"), "sh")
        .filter($"d1" < $"d2").select($"d1", $"d2").distinct()
      gated(verifyCandidates(cands, shingleFrame(s, d)), T)
    }),

    // MinHash + banded LSH: 32 permutation-hash minima per doc, 8 bands ×
    // 4 rows, band-collision join for candidates, exact-Jaccard
    // verification ≥ 0.8 on the cached shingle arrays (verifyCandidates).
    //
    // The signature is MAP-ONLY: the per-doc shingle-hash array is
    // already materialized (cached frame), so the codegen'd MinHashSig
    // expression emits all 32 minima in one pass — no shuffle of the
    // exploded shingle table just to re-group rows that started grouped
    // (the earlier relational groupBy(doc_id)+32×min form paid exactly
    // that exchange). History note: the array-HOF form with polyHash
    // inside transform() was catastrophically slower still — interpreted
    // char-level hashing ran 32× per doc (measured 670 s vs <2 s at
    // sf0.1). mh sits in its own Project: CollapseProject would otherwise
    // consider inlining it into the 32 band-key element_ats, and it only
    // declines because custom expressions are non-cheap.
    "dedup_minhash_lsh" -> ((s, d) => {
      val sh = shingleFrame(s, d)
      gated(verifyCandidates(bandPairs(sh), sh), JaccardGate)
    }),

    // LSH tuning eval — the empirical S-curve check run before trusting
    // a (bands, rows) configuration at 100 TB: per exact-Jaccard bucket
    // (0.5 up, below and above the 0.8 dedup gate), what fraction of
    // TRUE near-dup pairs does the band-collision candidate set catch
    // (recall), and what fraction of candidates verify at the gate
    // (precision)? With 8 bands × 4 rows the theoretical catch rate is
    // 1−(1−j⁴)⁸ ≈ 0.40 at j=0.5 and ≈ 0.9999 at j=0.9 — DedupSpec
    // rebuilds the eval on a planted partial-overlap fixture (the
    // testdata corpus only plants EXACT dups, so its own curve is the
    // single top bucket) and asserts the measured recall tracks that
    // theory per bucket with both tails pinned. Ground truth
    // is the shared shingle-join exact verifier at the LOWERED 0.5
    // threshold (so the eval sees both sides of the S-curve) — at
    // 100 TB this eval runs on a sampled stratum, same posture as every
    // recall oracle here; the production path stays banded.
    "dedup_lsh_pr_eval" -> ((s, d) => {
      import s.implicits._
      val truth = gated(sharedShinglePairs(s, d), 0.5)
      val cands = bandPairs(shingleFrame(s, d))
      // round 18: `cands` (band-collision join) and `marked` (the whole
      // exact-verifier chain) each had TWO consumers — the recall
      // buckets and the precision row — so the corpus-scale truth and
      // candidate pipelines ran twice per query (Probe jobs: jobSum 6.2 s
      // for a 3.3 s wall). Pin both pair lists (∝ dup density).
      val candsP = cands.localCheckpoint(false)
      val marked = truth
        .join(candsP.withColumn("hit", lit(1L)), Seq("d1", "d2"), "left")
        .na.fill(0L, Seq("hit"))
        .withColumn("bucket", least(floor($"jaccard" * 10), lit(9L)))
        .localCheckpoint(false)
      val buckets = marked.groupBy($"bucket").agg(
          count(lit(1)).as("n_true"), sum($"hit").as("n_caught"))
        .withColumn("recall",
          round($"n_caught" / $"n_true".cast("double"), 6))
      val overall = candsP.agg(count(lit(1)).as("n_cand"))
        .crossJoin(marked.filter($"jaccard" >= JaccardGate)
          .agg(sum($"hit").as("n_gate_hits")))
        .withColumn("precision_at_gate",
          round($"n_gate_hits" / $"n_cand".cast("double"), 6))
      buckets.crossJoin(broadcast(overall))
        .select($"bucket", $"n_true", $"n_caught", $"recall",
          $"n_cand", $"precision_at_gate")
        .orderBy("bucket")
    }),

    // INCREMENTAL dedup — the production shape: an incoming batch is
    // checked against the EXISTING corpus index, never against itself
    // corpus-wide. Band keys are computed per side and only new×old
    // band collisions shuffle, so daily ingest cost tracks batch size ×
    // dup density, not corpus size (at 100 TB the old side's band table
    // is a persisted index you append to, not something recomputed —
    // the signature stage here stands in for reading it). Incoming docs
    // with a verified Jaccard ≥ 0.8 match against the corpus are 'dup',
    // the rest 'novel'; every incoming doc reports its match count and
    // lowest matching corpus id. Non-vacuous by construction: the batch
    // includes re-keyed exact copies of corpus docs (guaranteed dups)
    // alongside genuinely unseen docs.
    "dedup_incremental" -> ((s, d) => {
      import s.implicits._
      val (incoming, sh, cands) = incrementalCandidates(s, d)
      val matches = verifyCandidates(cands, sh)
        .filter(jaccard($"inter", $"s1", $"s2") >= JaccardGate)
        .groupBy($"d_new")
        .agg(count(lit(1)).as("n_matches"), min($"d_old").as("first_match"))
      incoming.select($"doc_id")
        .join(matches.withColumnRenamed("d_new", "doc_id"), Seq("doc_id"), "left")
        .select($"doc_id",
          when($"n_matches".isNull, "novel").otherwise("dup").as("status"),
          coalesce($"n_matches", lit(0L)).as("n_matches"),
          $"first_match")
        .orderBy("doc_id")
    }),

    // STREAMING LSH index probe, batch-equivalent form (§2.9 closure of
    // the dedup family): what the in-flight filter computes when a
    // stream of new docs runs against the PERSISTED corpus band index —
    // per incoming doc, the distinct corpus docs sharing ≥1 LSH band
    // (candidate-level; the full shingle-Jaccard verify needs corpus
    // shingle access and stays in the batch/async path, which is
    // dedup_incremental). In streaming this is literally: map-side
    // signature+bands on the stream, stream-static equi-join against
    // the static index (stateless), dropDuplicates(doc_id) to emit each
    // flagged doc once — StreamingSpec runs exactly that through
    // MemoryStream across micro-batches and must land on this result.
    // Shares dedup_incremental's corpus/incoming split, shingle frame and
    // band candidates, so the planted re-keyed copies are guaranteed band
    // hits.
    "stream_lsh_incremental" -> ((s, d) => {
      import s.implicits._
      val (incoming, _, cands) = incrementalCandidates(s, d)
      val hits = cands
        .groupBy($"d_new")
        .agg(count(lit(1)).as("n_hit_docs"), min($"d_old").as("first_hit"))
      incoming.select($"doc_id")
        .join(hits.withColumnRenamed("d_new", "doc_id"), Seq("doc_id"), "left")
        .select($"doc_id",
          when($"n_hit_docs".isNull, "clean").otherwise("flagged").as("status"),
          coalesce($"n_hit_docs", lit(0L)).as("n_hit_docs"),
          $"first_hit")
        .orderBy("doc_id")
    }),

    // Edit-distance verification layer: Levenshtein over a fixed prefix of
    // the candidate pairs the Jaccard stage surfaced (never pairwise over
    // the corpus — distance ops only run on the candidate set).
    "dedup_levenshtein_verify" -> ((s, d) => {
      import s.implicits._
      prefixPairs(s, d)
        .select($"d1", $"d2", levenshtein($"p1", $"p2").as("edit_distance"))
        .orderBy("d1", "d2")
    }),

    // Edit-distance GATE: same candidate set as dedup_levenshtein_verify
    // but filtering `levenshtein(prefix) <= 15` instead of reporting the
    // distance. Under GraftExtensions the LevenshteinThresholdRewrite
    // turns the predicate into Spark's banded three-arg form — per-pair
    // cost ∝ k·len instead of len² (ExtensionsSpec proves rewrite +
    // equivalence; the query stays correct without the rule, just
    // slower).
    "dedup_levenshtein_gate" -> ((s, d) => {
      import s.implicits._
      prefixPairs(s, d)
        .filter(levenshtein($"p1", $"p2") <= 15)
        .select($"d1", $"d2")
        .orderBy("d1", "d2")
    }),

    // SimHash: 30-bit sketch (bits j ∈ 0..29) — per-token polynomial hash,
    // bit-weighted by term frequency, sign-aggregated per bit position.
    "dedup_simhash" -> ((s, d) => {
      import s.implicits._
      val tf = documents(s, d)
        .select($"doc_id", explode(TextOps.tokens($"text")).as("tok"))
        .groupBy($"doc_id", $"tok").agg(count("*").as("cnt"))
        .withColumn("x", polyHash($"tok"))
      tf.select($"doc_id", $"cnt", $"x",
          explode(sequence(lit(0), lit(29))).as("j"))
        .withColumn("bit", floor($"x" / pow(lit(2.0), $"j")).cast("long") % 2)
        .withColumn("wt", $"cnt" * ($"bit" * 2 - 1))
        .groupBy($"doc_id", $"j").agg(sum($"wt").as("sw"))
        .withColumn("b", when($"sw" > 0, 1L).otherwise(0L))
        .groupBy($"doc_id")
        .agg(sum($"b" * pow(lit(2.0), $"j").cast("long")).as("simhash"))
        .orderBy("doc_id")
    }),

    // SimHash near-dup: pairs within Hamming distance ≤ 2 of the 30-bit
    // sketch, via pigeonhole banding: split the sketch into 3 bands of
    // 10 bits — any pair differing in ≤ 2 bits must agree EXACTLY on at
    // least one band (3 bands, 2 flipped bits → one band untouched). So
    // an equi-join on (band, band_value) is a complete candidate
    // generator, and the Hamming filter only runs on collisions. This is
    // a shuffle-hash/sort-merge equi-join that scales linearly with
    // collisions; the N² BroadcastNestedLoop form survives only in
    // DedupSpec as the equivalence verifier.
    "dedup_simhash_pairs" -> ((s, d) => {
      import s.implicits._
      val sh = queries("dedup_simhash")(s, d)
      val banded = sh.select($"doc_id", $"simhash",
          posexplode(array((0 until 3).map(i =>
            shiftright($"simhash", i * 10).bitwiseAND(lit(1023L))): _*)))
        .toDF("doc_id", "simhash", "band", "key")
      banded.toDF("d1", "h1", "band", "key")
        .join(banded.toDF("d2", "h2", "band", "key"), Seq("band", "key"))
        .filter($"d1" < $"d2")
        // a pair may collide on 2-3 bands → dedup before emitting
        .select($"d1", $"d2", $"h1", $"h2").distinct()
        .withColumn("hamming", bit_count($"h1".bitwiseXOR($"h2")))
        .filter($"hamming" <= 2)
        .select("d1", "d2", "hamming")
        .orderBy("d1", "d2")
    }),

    // Duplicate-CLUSTER resolution — the step after pair generation in a
    // real dedup pipeline: near-dup pairs form a graph; keep ONE survivor
    // per connected component (min doc_id), not one per pair, via the
    // star-CC kernel (see ccStars) over the candidate graph. The graph is
    // the CANDIDATE set (∝ duplicate density, not corpus size). Oracle:
    // DuckDB recursive-CTE transitive closure over the same pairs.
    // NOTE: this exact-pair-fed variant is the DIFFERENTIAL TWIN;
    // `dedup_cluster_reps_lsh` (banded-LSH candidate source) is the
    // PRODUCTION entry at corpus scale — the exact verifier enumerates
    // all shared-shingle candidates and exists here as the recall oracle.
    "dedup_cluster_reps" -> exactPairClusterReps,

    // The star-CC resolution under its own name: the same query as
    // dedup_cluster_reps, checked by the same oracle.
    "dedup_cluster_reps_star" -> exactPairClusterReps,

    // The PRODUCTION end-to-end corpus-dedup composition (round-15
    // VERDICT #1): star-CC + survivor pick consuming the BANDED-LSH
    // verified pairs (dedup_minhash_lsh) instead of the exact shared-
    // shingle verifier's. dedup_cluster_reps above proves the CC kernel
    // on the exact pairs; THIS entry is the query a real 100 TB dedup runs —
    // candidates from band collisions (∝ dup density, never all-pairs),
    // exact-Jaccard verification on candidates only, components over the
    // verified pairs, keep the min-id survivor. Oracle: the DuckDB
    // MinHash/band CTE chain (shared with the dedup_minhash_lsh oracle)
    // feeding the recursive-CTE transitive closure. On this corpus the
    // planted near-dups are exact (j = 1 collides in every band, recall
    // exactly 1), so DedupSpec additionally asserts bit-equality with the
    // exact-pair clustering — at lower gates the LSH S-curve makes the
    // pair sets differ by design (dedup_lsh_pr_eval prices that).
    // The labels frame is a persisted Memo.perPass entry: the report
    // stage (pipeline_dedup_corpus) reads the labels this stage wrote
    // instead of re-running LSH and the star-CC loop on the same input.
    "dedup_cluster_reps_lsh" -> ((s, d) => {
      import s.implicits._
      Memo.perPass("lsh_clusters", s, d) {
        val pairs = queries("dedup_minhash_lsh")(s, d).select($"d1", $"d2")
        ccStars(s, pairs)
          .toDF("doc_id", "cluster_rep")
          .withColumn("is_survivor", $"doc_id" === $"cluster_rep")
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      }.orderBy("doc_id")
    }),

    // The END-TO-END production dedup REPORT — what "dedup this corpus"
    // actually returns to a user: per source, how many docs survive the
    // full banded-LSH pipeline (signatures → band-collision candidates →
    // exact verify → star-CC → min-id survivor) and how many are removed
    // as non-survivor cluster members. Docs in no verified pair are kept
    // by definition (LEFT join against the cluster labels). Composes the
    // round-16 dedup_cluster_reps_lsh path, so every stage is the scale
    // path — candidates ∝ dup density, never all-pairs. It reads that
    // query's cached labels frame, so after the dedup stage on the same
    // input it costs one doc-keyed join + a |sources|-row aggregate; run
    // alone it builds the labels first. Oracle: the shared MinHash CTE
    // chain + recursive closure + the same left join, per source.
    "pipeline_dedup_corpus" -> ((s, d) => {
      import s.implicits._
      val cc = queries("dedup_cluster_reps_lsh")(s, d)
        .select($"doc_id", $"is_survivor")
      documents(s, d).select($"doc_id", $"source")
        .join(cc, Seq("doc_id"), "left")
        .withColumn("kept", coalesce($"is_survivor", lit(true)))
        .groupBy($"source")
        .agg(count(lit(1)).as("n_docs"),
          sum(when($"kept", 1L).otherwise(0L)).as("n_kept"),
          sum(when(!$"kept", 1L).otherwise(0L)).as("n_removed"))
        .withColumn("pct_removed",
          round($"n_removed".cast("double") / $"n_docs" * 100.0, 4))
        .orderBy("source")
    }),

    // Train/val/test LEAKAGE audit: near-duplicate pairs whose members
    // land in different splits under the deterministic hash split
    // (split_train_test's assignment) leak training data into eval.
    // Output = pair counts per (split, split) cell with a leak flag —
    // the audit every training pipeline should run after splitting.
    // Costs one map over the (already tiny) near-dup pair list; the split
    // is recomputed from the stable id, so no join against a split table.
    // This exact-verifier-fed variant is the DIFFERENTIAL TWIN (its pair
    // source enumerates all shared-shingle candidates); the _lsh variant
    // below is the production entry at corpus scale — same composition
    // rule as dedup_cluster_reps vs dedup_cluster_reps_lsh.
    "split_leakage_audit" -> ((s, d) => {
      import s.implicits._
      leakageAudit(s, queries("dedup_ngram_jaccard")(s, d).select($"d1", $"d2"))
    }),

    // The PRODUCTION leakage audit: same per-(split, split) pair report,
    // fed by the banded-LSH verified pairs (signatures → band-collision
    // candidates → exact verify) instead of the exact all-shared-shingle
    // verifier — candidates ∝ dup density, never all-pairs, so the audit
    // runs at the same 100 TB shape as the dedup itself. At the 0.8 gate
    // the planted dups are exact (j = 1 collides in every band, LSH
    // recall = 1) so DedupSpec asserts bit-equality with the exact-pair
    // audit; at lower gates the LSH S-curve prices the difference
    // (dedup_lsh_pr_eval). Closes the round-16 composition gap VERDICT
    // flagged: the cluster path was rewired to LSH candidates but the
    // audit still consumed exact pairs.
    "split_leakage_audit_lsh" -> ((s, d) => {
      import s.implicits._
      leakageAudit(s, queries("dedup_minhash_lsh")(s, d).select($"d1", $"d2"))
    }),

    // Dedup GATE SWEEP — the knob-design readout run before committing a
    // Jaccard threshold corpus-wide: for τ ∈ {0.7, 0.8, 0.9}, how many
    // near-dup pairs qualify, how many docs fall into clusters, and how
    // many rows a min-id survivor pick would remove. One exact-verifier
    // pass at the lowered 0.5 base (the pr_eval posture — at 100 TB this
    // runs on a sampled stratum; the production path stays banded), then
    // per-gate filters + CC on the (tiny, ∝ dup density) pair lists. The
    // oracle replays three recursive-CTE closures, one per gate.
    "dedup_gate_sweep" -> ((s, d) => {
      import s.implicits._
      val base = gated(sharedShinglePairs(s, d), 0.5).localCheckpoint(false)
      Seq(0.7, 0.8, 0.9).map { g =>
        val pairs = base.filter($"jaccard" >= g).select($"d1", $"d2")
        val cc = ccStars(s, pairs).toDF("doc_id", "rep")
        cc.agg(count(lit(1)).as("n_docs_in_clusters"),
            sum(when($"doc_id" =!= $"rep", 1L).otherwise(0L))
              .as("n_removed"))
          .crossJoin(broadcast(pairs.agg(count(lit(1)).as("n_pairs"))))
          .select(lit(g).as("gate"), $"n_pairs",
            $"n_docs_in_clusters", $"n_removed")
      }.reduce(_ unionByName _).orderBy("gate")
    }),

    // Benchmark decontamination (the training-data op behind GPT-3/Pile
    // style "remove eval-set overlap"): a small benchmark suite (here the
    // deterministic doc_id % 97 == 0 subset) is reduced to its distinct
    // shingle-hash set and BROADCAST; the corpus side is a map-only probe
    // + one groupBy(doc_id). Report = per-doc shared-shingle count and
    // contamination ratio |S_doc ∩ S_bench| / |S_doc| for every doc that
    // overlaps at all. The 100 TB story: benchmark sets are tiny (MBs of
    // shingles) regardless of corpus size, so decontaminating 100 TB is
    // one broadcast hash join — no shuffle of the corpus.
    // Substring-span dedup (Lee et al., "Deduplicating Training Data
    // Makes Language Models Better"): flag 20-token windows that appear
    // in more than one document — the exact-substring signal that
    // MinHash/doc-level Jaccard misses (a unique doc quoting a long span
    // of another). Rolling packed wide hash per window (round 12 — bucket sharing IS the output here, no verifier follows, so ~30 bits would birthday-saturate; see PolyHash2); the window hash table
    // partial-aggregates, so the shuffle carries (hash, partial-count),
    // token-firehose sized but never pairwise. Planted half-doc copies
    // of every 50th doc make the op provably non-vacuous (their windows
    // all exist in the source doc).
    "dedup_substring_spans" -> ((s, d) => {
      import s.implicits._
      val W = 20
      // tk is an attribute in its own Project before the HOF consumes it
      // (interpreted-HOF re-eval trap)
      val wins = halfDocs(s, d)
        .withColumn("n", size($"tk"))
        .filter($"n" >= W)
        .select($"doc_id", explode(
          transform(sequence(lit(0), $"n" - W),
            i => wideHash(
              concat_ws(" ", slice($"tk", i + 1, lit(W)))))).as("h"))
      // "hash appears in >= 2 DISTINCT docs" ⟺ min(doc_id) != max(doc_id)
      // over the hash partition — a window over h instead of a
      // groupBy+self-join, so the window explode runs ONCE (the
      // join+aggregate form recomputed the token firehose per consumer)
      // and the plan is two exchanges total (h, then doc_id). Hash
      // partitions are tiny (≈ dup multiplicity), so the window sort is
      // trivial at any scale.
      val wh = Window.partitionBy($"h")
      wins
        .withColumn("shared",
          (min($"doc_id").over(wh) =!= max($"doc_id").over(wh)).cast("long"))
        .groupBy($"doc_id")
        .agg(count(lit(1)).as("n_windows"), sum($"shared").as("n_shared"))
        .filter($"n_shared" >= 1)
        .withColumn("shared_ratio", round($"n_shared" / $"n_windows", 6))
        .orderBy("doc_id")
    }),

    // EXACT substring dedup (Lee et al.'s ExactSubstr variant): the
    // windowed op above flags that a doc shares 20-token windows; this
    // one recovers the LONGEST exactly-duplicated token span per doc
    // pair, with its start offsets — the suffix-array result expressed
    // as sorted-k-gram extension. Two matched windows at positions
    // (p1, p2) and (p1+1, p2+1) extend the same span, so every maximal
    // duplicated span of length L is a maximal run of L−W+1 consecutive
    // matches on one DIAGONAL p1−p2; runs fall out of the classic
    // gaps-and-islands trick (island = p1 − row_number ordered by p1),
    // no iteration, no per-token comparison. Scale shape: the pair join
    // is DF-BOUNDED (windows held by 2..10 docs, winnowing's discipline
    // — corpus-wide boilerplate can't go quadratic), runs group on
    // (pair, diagonal) — dup-multiplicity-sized partitions; this is the
    // relational stand-in for distributed suffix-array construction,
    // with the k-gram index playing the LCP-bucket role. Packed
    // wide-hash windows (round 12): the df<=10 bound that keeps the
    // pair join linear is also why a ~30-bit hash is fatal here — at
    // corpus window counts every bucket absorbs ~N/2^30 random
    // colliders, pushing TRUE duplicate buckets past the df cap
    // (silent false negatives). At ~60 bits a false single-window
    // match is ~1e-18 and a false extended run is negligible; the
    // verify-exactly pass of the paper is a per-span substring
    // compare, candidate-bounded, omitted here and in the oracle
    // alike. Same planted half-doc copies as
    // dedup_substring_spans; spans shorter than 25 tokens are noise-
    // suppressed from the report.
    "dedup_substring_exact" -> ((s, d) => {
      import s.implicits._
      val W = 20
      // checkpoint the window firehose: the df-bound aggregate and both
      // sides of the pair join consume it — lazy, the tokenize+hash pass
      // would run three times
      val wins = halfDocs(s, d)
        .withColumn("n", size($"tk"))
        .filter($"n" >= W)
        .select($"doc_id", posexplode(
          transform(sequence(lit(0), $"n" - W),
            i => wideHash(concat_ws(" ", slice($"tk", i + 1, lit(W)))))))
        .toDF("doc_id", "p", "h")
        .localCheckpoint(false)
      // round 18: pin — both pair-join sides consume it, and un-pinned
      // each side re-ran the df aggregate (a countDistinct Expand over
      // the cached window firehose) plus the bounding join
      val bounded = wins.join(
        wins.groupBy($"h").agg(countDistinct($"doc_id").as("df"))
          .filter($"df" >= 2 && $"df" <= 10).select($"h"), "h")
        .localCheckpoint(false)
      val m = bounded.toDF("h", "d1", "p1")
        .join(bounded.toDF("h", "d2", "p2"), "h")
        .filter($"d1" < $"d2")
        .select($"d1", $"d2", $"p1", $"p2", ($"p1" - $"p2").as("diag"))
      val wRun = Window.partitionBy($"d1", $"d2", $"diag").orderBy($"p1")
      val runs = m
        .withColumn("isl", $"p1" - row_number().over(wRun))
        .groupBy($"d1", $"d2", $"diag", $"isl")
        .agg(count(lit(1)).as("nwin"), min($"p1").as("s1"), min($"p2").as("s2"))
        .withColumn("span_tokens", $"nwin" + (W - 1))
      topK(runs, Seq($"d1", $"d2"), Seq(desc("span_tokens"), asc("s1"), asc("s2")), 1, None)
        .filter($"span_tokens" >= W + 5)
        .select($"d1", $"d2", $"span_tokens",
          $"s1".as("d1_start"), $"s2".as("d2_start"))
        .orderBy("d1", "d2")
    }),

    // Winnowing fingerprints (Schleimer et al., the MOSS algorithm): per
    // doc, 5-gram rolling hashes, then the MINIMUM hash of each window
    // of 4 consecutive grams is selected — guaranteeing any shared run
    // of ≥ 8 tokens yields a shared fingerprint while storing only
    // ~2/(w+1) of the gram hashes. Pairs sharing ≥ 3 fingerprints are
    // reported. Scale shape: gram hashing and window-min are per-doc
    // (one exchange on doc_id), the pair join is DF-BOUNDED — only
    // fingerprints held by 2..10 docs pair up, so a boilerplate phrase
    // selected corpus-wide can never drive a quadratic join (the same
    // prefix-filter discipline the shingle pipeline uses).
    "dedup_winnow_pairs" -> ((s, d) => {
      import s.implicits._
      val tokd = documents(s, d).select($"doc_id", TextOps.tokens($"text").as("tk"))
      val grams = tokd
        .withColumn("ng", size($"tk") - 4)
        .filter($"ng" >= 1)
        .select($"doc_id", $"ng", posexplode(
          transform(sequence(lit(0), $"ng" - 1),
            i => wideHash(concat_ws(" ", slice($"tk", i + 1, lit(5)))))))
        .toDF("doc_id", "ng", "p", "h")
      val win = Window.partitionBy($"doc_id").orderBy($"p").rowsBetween(0, 3)
      val sel = grams
        .withColumn("wmin", min($"h").over(win))
        .filter($"p" <= $"ng" - 4)
        .select($"doc_id", $"wmin".as("h")).distinct()
      val rare = sel.groupBy($"h").agg(count(lit(1)).as("df"))
        .filter($"df" >= 2 && $"df" <= 10)
        .select($"h")
      val fp = sel.join(rare, "h")
      fp.toDF("h", "d1").join(fp.toDF("h", "d2"), "h")
        .filter($"d1" < $"d2")
        .groupBy($"d1", $"d2").agg(count(lit(1)).as("n_shared"))
        .filter($"n_shared" >= 3)
        .orderBy("d1", "d2")
    }),

    "dedup_contamination" -> ((s, d) => {
      import s.implicits._
      val (e, sizes) = explodedShingles(s, d)
      val bench = e.filter($"doc_id" % 97 === 0).select($"sh").distinct()
      e.filter($"doc_id" % 97 =!= 0)
        .join(broadcast(bench), "sh")
        .groupBy($"doc_id").agg(count(lit(1)).as("n_shared"))
        .join(sizes.toDF("doc_id", "n_shingles"), "doc_id")
        .withColumn("ratio", round($"n_shared" / $"n_shingles", 6))
        .select("doc_id", "n_shared", "n_shingles", "ratio")
        .orderBy("doc_id")
    }),

    // Embedding-cosine near-dup, EXACT all-pairs at threshold 0.45. The
    // testdata has no high-cosine planted pairs (every qualifying pair
    // sits in 0.45-0.6 with background reaching 0.4497), so no bucketing
    // scheme can reproduce this output approximately — exact all-pairs is
    // inherently O(n²) compute. What CAN be fixed is the plan shape: a
    // broadcast-nested-loop self-join needs one whole side in memory and
    // parallelizes poorly. Instead, block the corpus into B groups and
    // enumerate the B(B+1)/2 block pairs as a tiny local relation; two
    // EQUI-joins then distribute the quadratic work evenly with bounded
    // task memory (the 1-bucket theta-join layout; at scale pick
    // B ≈ sqrt(2 × target tasks)). The sub-quadratic scale path is
    // dedup_embedding_lsh below.
    "dedup_embedding_cosine" -> ((s, d) => {
      import s.implicits._
      val B = 8L
      val v = SimilarityOps.vectors(s, d)
        .select($"vec_id", $"e", $"norm", pmod($"vec_id", lit(B)).as("blk"))
      // ALL B² ordered block pairs, not just i <= j: a pair with v1 < v2
      // but blk(v1) > blk(v2) is only reachable in the (blk(v1), blk(v2))
      // orientation, and the v1 < v2 filter below keeps each qualifying
      // pair in exactly one of its two orientations. (The i <= j triangle
      // enumeration silently dropped ~half the pairs — round-2 red row.)
      val blockPairs = (0L until B)
        .flatMap(i => (0L until B).map(j => (i, j)))
        .toDF("b1", "b2")
      val a = v.toDF("v1", "e1", "n1", "b1")
      val b = v.toDF("v2", "e2", "n2", "b2")
      a.join(broadcast(blockPairs), "b1")
        .join(b, "b2")
        .filter($"v1" < $"v2")
        .withColumn("dot", SimilarityOps.dot($"e1", $"e2"))
        .withColumn("cosine", round($"dot" / ($"n1" * $"n2"), 6))
        .filter($"cosine" >= 0.45)
        .select("v1", "v2", "cosine")
        .orderBy("v1", "v2")
    }),

    // SemDeDup (Abbas et al. 2023, arXiv:2303.09540): semantic dedup =
    // cluster the embedding space coarsely, then within each cluster drop
    // all but one of every ε-similar group, keeping the member with the
    // LOWEST cosine similarity to the cluster centroid (the most
    // "prototypical" examples are the redundant ones). The label column
    // is the coarse quantizer stand-in (k-means assignment at scale —
    // same shape as ann_ivf_label_topk). Pairwise work is CLUSTER-
    // bounded, not corpus-bounded — exactly the paper's trick: with
    // k ∝ √N clusters the quadratic term stays linear overall.
    // Centroids are one (label, pos) shuffle; pair + keep-rule joins
    // co-partition on label. Pair cosines are fold-exact both engines
    // (VecDot vs list_reduce, same sequence); centroid COMPONENTS are
    // rounded to 6dp at the avg() (the k-means/PQ trainer posture) and
    // centroid similarities again BEFORE the keep-rule comparison, so
    // cross-engine avg() summation-order ulps can't reach the cosine and
    // flip the survivor choice even when a cs lands on a rounding edge.
    "dedup_semantic" -> ((s, d) => {
      import s.implicits._
      val Tau = 0.3
      val base = SimilarityOps.vectors(s, d)
      val cent = base.select($"label", posexplode($"e"))
        .groupBy($"label", $"pos").agg(round(avg($"col"), 6).as("m"))
        .groupBy($"label").agg(
          transform(array_sort(collect_list(struct($"pos", $"m"))),
            x => x.getField("m")).as("c"))
        .withColumn("cnorm", SimilarityOps.l2Norm($"c"))
      val cs = base.join(broadcast(cent), "label")
        .withColumn("cs", round(
          SimilarityOps.dot($"e", $"c") / ($"norm" * $"cnorm"), 6))
        .select($"vec_id", $"label", $"e", $"norm", $"cs")
      val a = cs.toDF("v1", "label", "e1", "n1", "cs1")
      val b = cs.toDF("v2", "label", "e2", "n2", "cs2")
      val losers = a.join(b, "label")
        .filter($"v1" < $"v2")
        .filter(round(SimilarityOps.dot($"e1", $"e2") /
          ($"n1" * $"n2"), 6) >= Tau)
        // keep the lower-centroid-similarity member; on a cs tie keep the
        // lower vec_id (v1 < v2 here, so ties drop v2)
        .select(when($"cs1" > $"cs2", $"v1").otherwise($"v2").as("vec_id"))
        .distinct()
      losers.join(cs.select($"vec_id", $"label", $"cs"), "vec_id")
        .select($"vec_id", $"label", $"cs")
        .orderBy("label", "vec_id")
    }),

    // Bloom-filter decontamination — the broadcast-membership sketch
    // (Bloom 1970) the exact version above pays a distinct-set join for:
    // the benchmark's shingle set compresses to a 4096-bit filter (k=3
    // affine maps of the portable shingle hash), so the corpus side
    // probes a constant-size broadcast bitset — at 100 TB the filter is
    // KILOBYTES where the exact shingle set is GBs, and the probe stays
    // map-side + one groupBy(doc). Relational form: set-bit positions
    // are a ≤4096-row broadcast table; "all k bits set" is a count-k
    // conjunction per probe shingle. Output reports the sketch's
    // n_maybe beside the exact n_exact (same definition as
    // dedup_contamination), so the one-sided guarantee (no false
    // negatives, measurable false-positive overshoot) is an oracle-
    // checked observable, asserted per doc in MGSpec.
    "dedup_bloom_contamination" -> ((s, d) => {
      import s.implicits._
      val MBits = 4096L
      val hs = Seq((131L, 17L), (137L, 1009L), (139L, 65537L))
      val (e, sizes) = explodedShingles(s, d)
      // reduce the 61-bit packed shingle hash mod P first — sh*a would
      // overflow a long (ANSI throws); both engines reduce identically
      val posArr = array(hs.map { case (a, b) =>
        (pmod($"sh", lit(P_POLY)) * a + b) % P_POLY % MBits
      }: _*)
      val bench = e.filter($"doc_id" % 97 === 0)
      val bits = bench.select(explode(posArr).as("bit")).distinct()
      val maybe = e.filter($"doc_id" % 97 =!= 0)
        .select($"doc_id", $"sh", explode(posArr).as("bit"))
        .join(broadcast(bits), "bit")
        .groupBy($"doc_id", $"sh").agg(count(lit(1)).as("hits"))
        .filter($"hits" === hs.length)
        .groupBy($"doc_id").agg(count(lit(1)).as("n_maybe"))
      val exact = e.filter($"doc_id" % 97 =!= 0)
        .join(broadcast(bench.select($"sh").distinct()), "sh")
        .groupBy($"doc_id").agg(count(lit(1)).as("n_exact"))
      maybe.join(sizes.toDF("doc_id", "n_shingles"), "doc_id")
        .join(exact, Seq("doc_id"), "left").na.fill(0L, Seq("n_exact"))
        .select($"doc_id", $"n_shingles", $"n_maybe", $"n_exact")
        .orderBy("doc_id")
    }),

    // Embedding near-dup via multi-table sign-LSH — the sub-quadratic
    // scale path. Near-duplicates are PLANTED (every 50th vector is
    // re-keyed +100000 with dim 0 bumped by +0.1 → cosine ≈ 0.995 on the
    // unit-norm corpus; an earlier +2.0 bump landed at cosine ≈ 0.45,
    // below threshold, making the query vacuously empty), so the
    // threshold 0.9 search space is the realistic near-dup regime
    // where LSH has high recall. Candidate generation: L=4 independent
    // plane sets × k=4 sign bits = 16 buckets per table; within-bucket
    // equi-join per table, unioned, distinct, then exact-cosine verify.
    // The oracle runs the SAME deterministic algorithm (plane literals
    // embedded in the SQL), so the compare is exact; recall vs the
    // brute-force verifier is measured in DedupSpec.
    "dedup_embedding_lsh" -> ((s, d) => {
      import s.implicits._
      val corpus = plantedEmbeddingCorpus(s, d)
      val banded = SimilarityOps.multiBuckets(corpus)
      // distinct over the NARROW (v1, v2) key pairs — the wide vector
      // columns re-join afterwards so the dedup shuffle stays small.
      val cands = banded.toDF("v1", "tbl", "bucket")
        .join(banded.toDF("v2", "tbl", "bucket"), Seq("tbl", "bucket"))
        .filter($"v1" < $"v2")
        .select($"v1", $"v2").distinct()
      cands
        .join(corpus.toDF("v1", "e1", "n1"), "v1")
        .join(corpus.toDF("v2", "e2", "n2"), "v2")
        .withColumn("dot", SimilarityOps.dot($"e1", $"e2"))
        .withColumn("cosine", round($"dot" / ($"n1" * $"n2"), 6))
        .filter($"cosine" >= 0.9)
        .select("v1", "v2", "cosine")
        .orderBy("v1", "v2")
    }),

    // URL canonicalization dedup — step 0 of web-crawl curation (CCNet /
    // C4 dedup by canonical URL before any text hashing): the same
    // logical page arrives under scheme / host-case / www / trailing-
    // slash / tracking-param / fragment variants, and exact string dedup
    // misses every one of them. Raw URLs are synthesized
    // deterministically (4 messy variants per logical page, the same
    // arithmetic-domain device as url_domain_filter) and the operator
    // under test is the CANONICALIZER: strip the fragment, normalize the
    // scheme to https, lowercase the host via parse_url, strip a leading
    // "www.", drop tracking query params (utm_*/fbclid/gclid/ref) while
    // keeping any others, strip the trailing slash — then one
    // hash-groupBy on the canonical form (the dedup_exact shuffle
    // shape). The oracle derives each page's canonical form
    // ARITHMETICALLY from doc_id, never running the canonicalizer, so
    // the compare proves it end-to-end: any mishandled variant splits
    // its group and fails the group-size/hash check. Scale: map-only
    // column expressions + one shuffle on the canonical key — the same
    // profile as dedup_exact, and the canonical key is what a 100 TB
    // crawl partitions its fetch frontier by.
    "dedup_url_canonical" -> ((s, d) => {
      import s.implicits._
      val hosts = Seq("news.example.com", "blog.example.org",
        "wiki.example.net", "forum.example.io", "docs.example.dev")
      val raw = documents(s, d)
        .select($"doc_id", expr("doc_id div 4").as("page"))
        .withColumn("host",
          element_at(array(hosts.map(lit): _*), ($"page" % 5 + 1).cast("int")))
        .withColumn("path", concat(lit("/article/"), $"page".cast("string")))
        .withColumn("url",
          when($"doc_id" % 4 === 0,
            concat(lit("https://"), $"host", $"path"))
          .when($"doc_id" % 4 === 1,
            concat(lit("http://WWW."), upper($"host"), $"path", lit("/")))
          .when($"doc_id" % 4 === 2,
            concat(lit("https://"), $"host", $"path",
              lit("?utm_source=feed&utm_campaign=rss")))
          .otherwise(
            concat(lit("https://www."), $"host", $"path", lit("#section-2"))))
      val canon = raw
        .withColumn("u2", regexp_replace(
          regexp_replace($"url", "#.*$", ""), "^(?i)http://", "https://"))
        .withColumn("chost",
          regexp_replace(lower(parse_url($"u2", lit("HOST"))), "^www\\.", ""))
        .withColumn("cpath", regexp_replace(
          coalesce(parse_url($"u2", lit("PATH")), lit("")), "/$", ""))
        .withColumn("keep",
          filter(split(coalesce(parse_url($"u2", lit("QUERY")), lit("")), "&"),
            p => length(p) > 0 &&
              !p.rlike("^(utm_[a-z]+|fbclid|gclid|ref)=")))
        .withColumn("canonical_url",
          concat(lit("https://"), $"chost", $"cpath",
            when(size($"keep") > 0,
              concat(lit("?"), array_join($"keep", "&"))).otherwise(lit(""))))
      canon.groupBy($"canonical_url")
        .agg(count(lit(1)).as("n_docs"),
          countDistinct($"url").as("n_raw_forms"),
          min($"doc_id").as("first_doc"))
        .orderBy("canonical_url")
    }),

    // Cross-source contamination matrix — which sources copy from which:
    // pairwise 3-gram-shingle overlap + Jaccard between every source
    // pair, over per-source DISTINCT shingle sets. The self-join key is
    // the shingle hash, so fan-out per shingle is bounded by the SOURCE
    // CATALOG size (≤ #sources² pairs per shingle), never corpus² — the
    // same reason the doc-level LSH band join scales. Feeds the "which
    // feeds overlap with our eval set / each other" audit every corpus
    // assembly needs.
    "dedup_source_overlap" -> ((s, d) => {
      import s.implicits._
      val src = documents(s, d).select($"doc_id", $"source")
      // round 18: the distinct per-source shingle set feeds the size
      // marginals AND both self-join sides — un-pinned, the corpus-wide
      // explode+distinct ran three times (ReuseExchange only dedupes
      // the two identical join sides)
      val e = shingleFrame(s, d).join(src, "doc_id")
        .select($"source", explode($"xs").as("sh"))
        .distinct()
        .localCheckpoint(false)
      val sizes = e.groupBy($"source").agg(count(lit(1)).as("sz"))
      e.toDF("src_a", "sh").join(e.toDF("src_b", "sh"), "sh")
        .filter($"src_a" < $"src_b")
        .groupBy($"src_a", $"src_b").agg(count(lit(1)).as("n_shared"))
        .join(broadcast(sizes.toDF("src_a", "s1")), "src_a")
        .join(broadcast(sizes.toDF("src_b", "s2")), "src_b")
        .withColumn("jaccard", jaccard($"n_shared", $"s1", $"s2"))
        .select($"src_a", $"src_b", $"n_shared", $"jaccard")
        .orderBy("src_a", "src_b")
    }),
  )

  /** The exact verifier's >= 0.8 pairs, ordered: the oracle of
    * dedup_ngram_jaccard and of the lossless prefix-filtered join.
    */
  private lazy val ngramJaccardSql =
    s"""WITH $shingleCte,
       |${jaccardPairsSql("jp", JaccardGate)}
       |SELECT d1, d2, jaccard FROM jp ORDER BY d1, d2""".stripMargin

  /** Transitive closure over the >=0.8-Jaccard pairs with min-label
    * components — the oracle of dedup_cluster_reps and its _star name.
    */
  private lazy val clusterRepsSql =
    s"""WITH RECURSIVE $shingleCte,
       |${jaccardPairsSql("jp", JaccardGate)},
       |${closureSql("jp")}
       |SELECT doc_id, cluster_rep, (doc_id = cluster_rep) AS is_survivor
       |FROM cc ORDER BY doc_id""".stripMargin

  /** The banded-LSH verified pairs in DuckDB, ending in `lshverified(d1,
    * d2, jaccard)`: the shingle chain, the band chain, the d1 < d2 band
    * collisions and the gated verify.
    */
  private lazy val minhashPairCtes =
    s"""$shingleCte,
       |${lshBandsSql()},
       |$bandPairsSql,
       |${verifiedSql("d1", "d2")}""".stripMargin

  val oracles: Map[String, String] = Map(
    "dedup_exact" ->
      s"""WITH $plantedDupsSql
        |SELECT doc_id, h FROM (${topKSql("(SELECT doc_id, md5(text) AS h FROM all_docs)",
          Seq("h"), Seq("doc_id ASC"), 1, None)})
        |ORDER BY doc_id""".stripMargin,
    "corpus_softdedup_weights" ->
      s"""WITH $plantedDupsSql,
        |h AS (SELECT doc_id, md5(text) AS h FROM all_docs),
        |c AS (SELECT h, CAST(COUNT(*) AS BIGINT) AS n_dups
        |  FROM h GROUP BY 1)
        |SELECT doc_id, n_dups,
        |  CAST(1000000 // n_dups AS BIGINT) AS weight_micro
        |FROM h JOIN c USING (h) ORDER BY doc_id""".stripMargin,
    // COALESCE on the kept-text aggregate: a fully-drained doc keeps ''
    // (Spark's concat_ws over an empty array), not NULL
    "dedup_paragraph_exact" ->
      s"""WITH $plantedDupsSql,
         |t AS (SELECT doc_id, ${TextOps.tokensSql("text")} AS tk FROM all_docs),
         |c AS (
         |  SELECT doc_id, tk, len(tk) AS n,
         |    unnest(generate_series(0, (len(tk) - 1) // 10)) AS pid
         |  FROM t WHERE len(tk) >= 1),
         |p AS (
         |  SELECT doc_id, pid,
         |    array_to_string(
         |      tk[(pid*10+1):(pid*10 + LEAST(10, n - pid*10))], ' ') AS ptxt
         |  FROM c),
         |r AS (
         |  SELECT doc_id, pid, ptxt, row_number() OVER (
         |    PARTITION BY md5(ptxt) ORDER BY doc_id, pid) AS rn
         |  FROM p)
         |SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_paras,
         |  CAST(SUM(CASE WHEN rn = 1 THEN 1 ELSE 0 END) AS BIGINT)
         |    AS n_kept,
         |  COALESCE(string_agg(ptxt, ' ' ORDER BY pid)
         |    FILTER (WHERE rn = 1), '') AS kept_text
         |FROM r GROUP BY 1 ORDER BY 1""".stripMargin,
    "dedup_ngram_jaccard" -> ngramJaccardSql,
    // every d1 < d2 pair and its mirror
    "dedup_containment" ->
      s"""WITH $shingleCte,
         |$pairsSql,
         |pr AS (
         |  SELECT d1, d2, inter, s1, s2 FROM pairs
         |  UNION ALL SELECT d2, d1, inter, s2, s1 FROM pairs),
         |jc AS (
         |  SELECT d1, d2, inter, s1, s2,
         |    ROUND(inter / s1, 6) AS containment, ${jaccardSql()} AS jaccard
         |  FROM pr)
         |SELECT d1, d2, inter, s1, s2, containment, jaccard
         |FROM jc WHERE containment >= 0.9 ORDER BY d1, d2""".stripMargin,
    // prefix filtering is lossless at the declared threshold, so the
    // full-index twin is the oracle for the PPJoin-style path too
    "dedup_prefix_filter" -> ngramJaccardSql,
    "dedup_levenshtein_verify" ->
      s"""WITH $prefixPairsSql
         |SELECT d1, d2, levenshtein(p1, p2) AS edit_distance
         |FROM pp ORDER BY d1, d2""".stripMargin,
    "dedup_minhash_lsh" ->
      s"""WITH $minhashPairCtes
         |SELECT d1, d2, jaccard FROM lshverified ORDER BY d1, d2""".stripMargin,
    // Per-source survivor report over the same LSH-fed clustering: the
    // cluster CTEs below + a left join from documents + a per-source
    // rollup. 4-dp percentage mirrors the engine's round(x, 4).
    "pipeline_dedup_corpus" ->
      s"""WITH RECURSIVE $minhashPairCtes,
         |${closureSql("lshverified")},
         |k AS (
         |  SELECT d.source,
         |    COALESCE(cc.doc_id = cc.cluster_rep, TRUE) AS kept
         |  FROM documents d LEFT JOIN cc ON d.doc_id = cc.doc_id)
         |SELECT source, COUNT(*) AS n_docs,
         |  CAST(SUM(CASE WHEN kept THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
         |  CAST(SUM(CASE WHEN kept THEN 0 ELSE 1 END) AS BIGINT)
         |    AS n_removed,
         |  ROUND(CAST(SUM(CASE WHEN kept THEN 0 ELSE 1 END) AS DOUBLE)
         |    / COUNT(*) * 100.0, 4) AS pct_removed
         |FROM k GROUP BY source ORDER BY source""".stripMargin,
    // Star-CC over the banded-LSH verified pairs: the same recursive
    // transitive closure as clusterRepsSql, but seeded from the MinHash
    // CTE chain above instead of the exact shared-shingle verifier.
    "dedup_cluster_reps_lsh" ->
      s"""WITH RECURSIVE $minhashPairCtes,
         |${closureSql("lshverified")}
         |SELECT doc_id, cluster_rep, (doc_id = cluster_rep) AS is_survivor
         |FROM cc ORDER BY doc_id""".stripMargin,
    // Same signature/band CTEs as the minhash oracle; truth at the
    // lowered 0.5 threshold.
    "dedup_lsh_pr_eval" ->
      s"""WITH $shingleCte,
         |${jaccardPairsSql("truth", 0.5)},
         |${lshBandsSql()},
         |$bandPairsSql,
         |mk AS (
         |  SELECT truth.d1, truth.d2, truth.jaccard,
         |    CASE WHEN cands.d1 IS NOT NULL THEN 1 ELSE 0 END AS hit
         |  FROM truth LEFT JOIN cands
         |    ON truth.d1 = cands.d1 AND truth.d2 = cands.d2),
         |bu AS (
         |  SELECT LEAST(CAST(FLOOR(jaccard * 10) AS BIGINT), 9) AS bucket,
         |    CAST(COUNT(*) AS BIGINT) AS n_true,
         |    CAST(SUM(hit) AS BIGINT) AS n_caught
         |  FROM mk GROUP BY 1),
         |ov AS (
         |  SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM cands) AS n_cand,
         |    (SELECT CAST(SUM(hit) AS BIGINT) FROM mk WHERE jaccard >= $JaccardGate)
         |      AS n_gate_hits)
         |SELECT bucket, n_true, n_caught,
         |  ROUND(n_caught * 1.0 / n_true, 6) AS recall, n_cand,
         |  ROUND(n_gate_hits * 1.0 / n_cand, 6) AS precision_at_gate
         |FROM bu CROSS JOIN ov ORDER BY bucket""".stripMargin,
    "dedup_winnow_pairs" ->
      s"""WITH t AS (SELECT doc_id, ${TextOps.tokensSql("text")} AS toks FROM documents),
         |g AS (
         |  SELECT doc_id, len(toks) - 4 AS ng, i AS p,
         |    ${wideHashSql("array_to_string(toks[(i+1):(i+5)], ' ')")} AS h
         |  FROM (SELECT doc_id, toks, unnest(range(len(toks) - 4)) AS i
         |        FROM t WHERE len(toks) >= 5)),
         |wm AS (
         |  SELECT doc_id, ng, p,
         |    MIN(h) OVER (PARTITION BY doc_id ORDER BY p
         |      ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS wmin
         |  FROM g),
         |sel AS (SELECT DISTINCT doc_id, wmin AS h FROM wm WHERE p <= ng - 4),
         |rare AS (
         |  SELECT h FROM (SELECT h, COUNT(*) AS df FROM sel GROUP BY h)
         |  WHERE df BETWEEN 2 AND 10),
         |fp AS (SELECT doc_id, h FROM sel JOIN rare USING (h))
         |SELECT a.doc_id AS d1, b.doc_id AS d2, COUNT(*) AS n_shared
         |FROM fp a JOIN fp b ON a.h = b.h AND a.doc_id < b.doc_id
         |GROUP BY 1, 2 HAVING COUNT(*) >= 3
         |ORDER BY d1, d2""".stripMargin,
    "dedup_levenshtein_gate" ->
      s"""WITH $prefixPairsSql
         |SELECT d1, d2 FROM pp WHERE levenshtein(p1, p2) <= 15
         |ORDER BY d1, d2""".stripMargin,
    "dedup_incremental" ->
      s"""WITH $incrementalCandidatesSql,
         |${verifiedSql("d_new", "d_old")},
         |m AS (
         |  SELECT d_new, COUNT(*) AS n_matches, MIN(d_old) AS first_match
         |  FROM lshverified GROUP BY d_new)
         |SELECT i.doc_id,
         |  CASE WHEN m.d_new IS NULL THEN 'novel' ELSE 'dup' END AS status,
         |  COALESCE(n_matches, 0) AS n_matches, first_match
         |FROM incoming i LEFT JOIN m ON i.doc_id = m.d_new
         |ORDER BY i.doc_id""".stripMargin,
    "stream_lsh_incremental" ->
      s"""WITH $incrementalCandidatesSql,
         |m AS (
         |  SELECT d_new, COUNT(*) AS n_hit_docs, MIN(d_old) AS first_hit
         |  FROM cands GROUP BY d_new)
         |SELECT i.doc_id,
         |  CASE WHEN m.d_new IS NULL THEN 'clean' ELSE 'flagged' END AS status,
         |  COALESCE(n_hit_docs, 0) AS n_hit_docs, first_hit
         |FROM incoming i LEFT JOIN m ON i.doc_id = m.d_new
         |ORDER BY i.doc_id""".stripMargin,
    "dedup_simhash" ->
      s"""WITH tf AS (
         |  SELECT doc_id, tok, COUNT(*) AS cnt FROM (
         |    SELECT doc_id, unnest(${TextOps.tokensSql("text")}) AS tok FROM documents)
         |  GROUP BY doc_id, tok),
         |hx AS (SELECT doc_id, cnt, ${polyHashSql("tok")} AS x FROM tf),
         |bits AS (
         |  SELECT doc_id, j,
         |    SUM(cnt * ((CAST(FLOOR(x / POWER(2.0, j)) AS BIGINT) % 2) * 2 - 1)) AS sw
         |  FROM hx CROSS JOIN (SELECT unnest(range(30)) AS j)
         |  GROUP BY doc_id, j)
         |SELECT doc_id,
         |  CAST(SUM(CASE WHEN sw > 0 THEN CAST(POWER(2.0, j) AS BIGINT) ELSE 0 END)
         |    AS BIGINT) AS simhash
         |FROM bits GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    "dedup_simhash_pairs" ->
      s"""WITH tf AS (
         |  SELECT doc_id, tok, COUNT(*) AS cnt FROM (
         |    SELECT doc_id, unnest(${TextOps.tokensSql("text")}) AS tok FROM documents)
         |  GROUP BY doc_id, tok),
         |hx AS (SELECT doc_id, cnt, ${polyHashSql("tok")} AS x FROM tf),
         |bits AS (
         |  SELECT doc_id, j,
         |    SUM(cnt * ((CAST(FLOOR(x / POWER(2.0, j)) AS BIGINT) % 2) * 2 - 1)) AS sw
         |  FROM hx CROSS JOIN (SELECT unnest(range(30)) AS j)
         |  GROUP BY doc_id, j),
         |sh AS (
         |  SELECT doc_id,
         |    SUM(CASE WHEN sw > 0 THEN CAST(POWER(2.0, j) AS BIGINT) ELSE 0 END) AS h
         |  FROM bits GROUP BY doc_id)
         |SELECT a.doc_id AS d1, b.doc_id AS d2,
         |  bit_count(xor(a.h, b.h)) AS hamming
         |FROM sh a JOIN sh b ON a.doc_id < b.doc_id
         |WHERE bit_count(xor(a.h, b.h)) <= 2
         |ORDER BY d1, d2""".stripMargin,
    "split_leakage_audit" ->
      s"""WITH $shingleCte,
         |${jaccardPairsSql("jp", JaccardGate)},
         |sp AS (
         |  SELECT ${splitSql("d1")} AS s1, ${splitSql("d2")} AS s2 FROM jp)
         |SELECT s1, s2, COUNT(*) AS n_pairs, (s1 <> s2) AS leaks
         |FROM sp GROUP BY s1, s2 ORDER BY s1, s2""".stripMargin,
    // Same report CTEs over the banded-LSH verified pair list (the
    // MinHash signature/band/verify chain the minhash oracle uses).
    "split_leakage_audit_lsh" ->
      s"""WITH $minhashPairCtes,
         |sp AS (
         |  SELECT ${splitSql("d1")} AS s1, ${splitSql("d2")} AS s2
         |  FROM lshverified)
         |SELECT s1, s2, COUNT(*) AS n_pairs, (s1 <> s2) AS leaks
         |FROM sp GROUP BY s1, s2 ORDER BY s1, s2""".stripMargin,
    "dedup_gate_sweep" -> {
      val gateBlocks = Seq("0.7", "0.8", "0.9").map { g =>
        val t = g.replace(".", "")
        s"""jp$t AS (
           |  SELECT d1, d2 FROM jall WHERE jaccard >= $g),
           |${closureSql(s"jp$t", t)},
           |row$t AS (
           |  SELECT CAST($g AS DOUBLE) AS gate,
           |    (SELECT CAST(COUNT(*) AS BIGINT) FROM jp$t) AS n_pairs,
           |    CAST(COUNT(*) AS BIGINT) AS n_docs_in_clusters,
           |    CAST(SUM(CASE WHEN doc_id <> cluster_rep THEN 1 ELSE 0 END)
           |      AS BIGINT) AS n_removed
           |  FROM cc$t)""".stripMargin
      }.mkString(",\n")
      s"""WITH RECURSIVE $shingleCte,
         |${jaccardPairsSql("jall", 0.5)},
         |$gateBlocks
         |SELECT * FROM row07 UNION ALL SELECT * FROM row08
         |UNION ALL SELECT * FROM row09
         |ORDER BY gate""".stripMargin
    },
    "dedup_cluster_reps" -> clusterRepsSql,
    "dedup_cluster_reps_star" -> clusterRepsSql,
    "dedup_substring_spans" ->
      s"""WITH $halfDocsSql,
         |w AS (
         |  SELECT doc_id,
         |    unnest(list_transform(generate_series(1, len(tk) - 19),
         |      i -> ${wideHashSql("array_to_string(tk[i:i+19], ' ')")})) AS h
         |  FROM a WHERE len(tk) >= 20),
         |c AS (SELECT h FROM w GROUP BY h HAVING COUNT(DISTINCT doc_id) >= 2),
         |pd AS (SELECT doc_id, COUNT(*) AS n_windows FROM w GROUP BY doc_id),
         |fd AS (
         |  SELECT doc_id, COUNT(*) AS n_shared
         |  FROM w JOIN c USING (h) GROUP BY doc_id)
         |SELECT doc_id, n_windows, n_shared,
         |  ROUND(n_shared * 1.0 / n_windows, 6) AS shared_ratio
         |FROM pd JOIN fd USING (doc_id) ORDER BY doc_id""".stripMargin,
    "dedup_substring_exact" ->
      s"""WITH $halfDocsSql,
         |w AS MATERIALIZED (
         |  SELECT doc_id, i AS p,
         |    ${wideHashSql("array_to_string(tk[(i+1):(i+20)], ' ')")} AS h
         |  FROM (SELECT doc_id, tk, unnest(range(len(tk) - 19)) AS i
         |        FROM a WHERE len(tk) >= 20)),
         |bnd AS (
         |  SELECT h FROM w GROUP BY h
         |  HAVING COUNT(DISTINCT doc_id) BETWEEN 2 AND 10),
         |b AS MATERIALIZED (SELECT doc_id, p, h FROM w JOIN bnd USING (h)),
         |m AS (
         |  SELECT x.doc_id AS d1, y.doc_id AS d2, x.p AS p1, y.p AS p2,
         |    x.p - y.p AS diag
         |  FROM b x JOIN b y ON x.h = y.h AND x.doc_id < y.doc_id),
         |runs AS (
         |  SELECT d1, d2, diag, isl, COUNT(*) + 19 AS span_tokens,
         |    MIN(p1) AS s1, MIN(p2) AS s2
         |  FROM (SELECT *, p1 - row_number() OVER (
         |          PARTITION BY d1, d2, diag ORDER BY p1) AS isl FROM m)
         |  GROUP BY 1, 2, 3, 4)
         |SELECT d1, d2, span_tokens, s1 AS d1_start, s2 AS d2_start
         |FROM (${topKSql("runs", Seq("d1", "d2"), Seq("span_tokens DESC", "s1 ASC", "s2 ASC"), 1, None)})
         |WHERE span_tokens >= 25
         |ORDER BY d1, d2""".stripMargin,
    "dedup_contamination" ->
      s"""WITH $shingleCte,
         |bench AS (SELECT DISTINCT sh FROM e WHERE doc_id % 97 = 0),
         |hits AS (
         |  SELECT e.doc_id, COUNT(*) AS n_shared
         |  FROM e JOIN bench USING (sh)
         |  WHERE e.doc_id % 97 <> 0
         |  GROUP BY e.doc_id)
         |SELECT h.doc_id, n_shared, sz.sz AS n_shingles,
         |  ROUND(CAST(n_shared AS DOUBLE) / sz.sz, 6) AS ratio
         |FROM hits h JOIN sz ON h.doc_id = sz.doc_id
         |ORDER BY h.doc_id""".stripMargin,
    "dedup_bloom_contamination" ->
      s"""WITH $shingleCte,
         |hx AS (
         |  SELECT doc_id, sh, unnest([
         |    ((sh % $P_POLY) * 131 + 17) % $P_POLY % 4096,
         |    ((sh % $P_POLY) * 137 + 1009) % $P_POLY % 4096,
         |    ((sh % $P_POLY) * 139 + 65537) % $P_POLY % 4096]) AS bit
         |  FROM e),
         |bits AS (SELECT DISTINCT bit FROM hx WHERE doc_id % 97 = 0),
         |mb AS (
         |  SELECT doc_id, sh FROM hx JOIN bits USING (bit)
         |  WHERE doc_id % 97 <> 0
         |  GROUP BY doc_id, sh HAVING COUNT(*) = 3),
         |nm AS (SELECT doc_id, COUNT(*) AS n_maybe FROM mb GROUP BY 1),
         |bsh AS (SELECT DISTINCT sh FROM e WHERE doc_id % 97 = 0),
         |ne AS (
         |  SELECT e.doc_id, COUNT(*) AS n_exact
         |  FROM e JOIN bsh USING (sh)
         |  WHERE e.doc_id % 97 <> 0 GROUP BY 1)
         |SELECT nm.doc_id, sz.sz AS n_shingles, nm.n_maybe,
         |  COALESCE(ne.n_exact, 0) AS n_exact
         |FROM nm JOIN sz ON nm.doc_id = sz.doc_id
         |LEFT JOIN ne ON nm.doc_id = ne.doc_id
         |ORDER BY nm.doc_id""".stripMargin,
    "dedup_embedding_cosine" ->
      s"""WITH ${SimilarityOps.vectorsSql}
        |SELECT a.vec_id AS v1, b.vec_id AS v2,
        |  ROUND(${SimilarityOps.dotSql("a.e", "b.e")} / (a.norm * b.norm), 6) AS cosine
        |FROM n a JOIN n b ON a.vec_id < b.vec_id
        |WHERE ${SimilarityOps.dotSql("a.e", "b.e")} / (a.norm * b.norm) >= 0.45
        |ORDER BY v1, v2""".stripMargin,
    "dedup_semantic" ->
      s"""WITH ${SimilarityOps.vectorsSql},
        |cm AS (
        |  SELECT label, i, ROUND(AVG(x), 6) AS m FROM (
        |    SELECT label, unnest(e) AS x, generate_subscripts(e, 1) AS i
        |    FROM n)
        |  GROUP BY 1, 2),
        |cent AS (
        |  SELECT label, list(m ORDER BY i) AS c FROM cm GROUP BY label),
        |centn AS (
        |  SELECT label, c, ${SimilarityOps.l2NormSql("c")} AS cnorm
        |  FROM cent),
        |cs AS (
        |  SELECT vec_id, n.label, e, norm,
        |    ROUND(${SimilarityOps.dotSql("e", "c")} / (norm * cnorm), 6) AS cs
        |  FROM n JOIN centn ON n.label = centn.label),
        |losers AS (
        |  SELECT DISTINCT CASE WHEN a.cs > b.cs THEN a.vec_id ELSE b.vec_id END AS vec_id
        |  FROM cs a JOIN cs b ON a.label = b.label AND a.vec_id < b.vec_id
        |  WHERE ROUND(${SimilarityOps.dotSql("a.e", "b.e")} / (a.norm * b.norm), 6) >= 0.3)
        |SELECT l.vec_id AS vec_id, cs.label, cs.cs
        |FROM losers l JOIN cs ON l.vec_id = cs.vec_id
        |ORDER BY cs.label, l.vec_id""".stripMargin,
    "dedup_embedding_lsh" ->
      s"""WITH base AS (
         |  SELECT vec_id, ${SimilarityOps.widenedSql("embedding")} AS e
         |  FROM embeddings),
         |corpus AS (
         |  SELECT vec_id, e FROM base
         |  UNION ALL
         |  SELECT vec_id + 100000, list_concat([e[1] + 0.1], e[2:])
         |  FROM base WHERE vec_id % 50 = 0),
         |n AS (
         |  SELECT vec_id, e, ${SimilarityOps.l2NormSql("e")} AS norm
         |  FROM corpus),
         |tb AS (
         |${SimilarityOps.multiBucketSql("n")}),
         |cand AS (
         |  SELECT DISTINCT a.vec_id AS v1, b.vec_id AS v2
         |  FROM tb a JOIN tb b ON a.tbl = b.tbl AND a.bucket = b.bucket
         |    AND a.vec_id < b.vec_id),
         |scored AS (
         |  SELECT v1, v2,
         |    ROUND(${SimilarityOps.dotSql("a.e", "b.e")} / (a.norm * b.norm), 6)
         |      AS cosine
         |  FROM cand JOIN n a ON v1 = a.vec_id JOIN n b ON v2 = b.vec_id)
         |SELECT v1, v2, cosine FROM scored
         |WHERE cosine >= 0.9 ORDER BY v1, v2""".stripMargin,
    // The oracle never runs the canonicalizer: it derives each page's
    // canonical URL arithmetically from doc_id, so the engine-side
    // fragment/scheme/case/www/param/slash normalization is proven by
    // the group sizes and keys matching.
    "dedup_url_canonical" ->
      """WITH u AS (
        |  SELECT doc_id, doc_id // 4 AS page, doc_id % 4 AS variant
        |  FROM documents),
        |g AS (
        |  SELECT page, COUNT(*) AS n_docs,
        |    COUNT(DISTINCT variant) AS n_raw_forms,
        |    MIN(doc_id) AS first_doc
        |  FROM u GROUP BY page)
        |SELECT 'https://' ||
        |  ['news.example.com','blog.example.org','wiki.example.net',
        |   'forum.example.io','docs.example.dev'][CAST(page % 5 + 1 AS INT)]
        |  || '/article/' || page AS canonical_url,
        |  n_docs, n_raw_forms, first_doc
        |FROM g ORDER BY canonical_url""".stripMargin,
    "dedup_source_overlap" ->
      s"""WITH $shingleCte,
         |es AS (
         |  SELECT DISTINCT d.source, e.sh
         |  FROM e JOIN documents d USING (doc_id)),
         |szs AS (SELECT source, COUNT(*) AS sz FROM es GROUP BY 1)
         |SELECT a.source AS src_a, b.source AS src_b,
         |  COUNT(*) AS n_shared,
         |  ROUND(COUNT(*) / (s1.sz + s2.sz - COUNT(*)), 6) AS jaccard
         |FROM es a
         |JOIN es b ON a.sh = b.sh AND a.source < b.source
         |JOIN szs s1 ON s1.source = a.source
         |JOIN szs s2 ON s2.source = b.source
         |GROUP BY a.source, b.source, s1.sz, s2.sz
         |ORDER BY src_a, src_b""".stripMargin,
  )
}
