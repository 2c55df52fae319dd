package perfbench

import graft.ops._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.rules.RuleExecutor
import org.json4s.{DefaultFormats, Extraction}
import org.json4s.jackson.JsonMethods

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}
import scala.collection.mutable

/** Closed-loop benchmark runner: one workload, one client, one JVM.
  *
  * Usage: Main --workload <name> --input <dir> --out <dir> --seconds <n>
  *             [--trace 0|1] [--inject fail:<query>|wrong:<query>]
  *        Main --sinkcheck <inputDir> --out <dir>
  *
  * Writes `result.json`, the per-op records, into --out. The Python
  * wrapper (perfbench/run.py) generates the inputs, checks the outputs
  * against the DuckDB oracle and turns the records into metrics.
  */
object Main {
  val OpProperty = "perfbench.op"

  /** An op is one or more engine queries run back to back on one input;
    * each query's whole output is written to its parquet stage table.
    * `warmQueries` are called once during setup (call only, nothing
    * materialized) to train the indexes they cache. A run makes at least
    * `minRounds` rounds, however short --seconds is.
    */
  final case class Workload(name: String, ops: Seq[Seq[String]],
                            tables: Seq[String], dailySnapshots: Boolean,
                            warmQueries: Seq[String] = Nil, minRounds: Int = 1)

  val DagStages: Seq[String] = Seq(
    "pipeline_prep_docs",        // prep
    "dedup_cluster_reps_lsh",    // dedup
    "lda_em_topics_dist",        // topics
    "u3_vader_sentiment",        // sentiment
    "pipeline_dedup_corpus",     // report
    "u3_sentiment_distribution") // report

  val AnalystQueries: Seq[String] = Seq(
    "j_star_revenue_by_region", "j_left_order_line_counts",
    "w1_top_suppliers_per_nation", "a4_daily_value_trend",
    "a5_daily_share_pct", "a_distinct_users_per_type",
    "d1_dedup_first_per_user", "s1_latest_events",
    "asof_join_purchase_click", "a_percentiles", "a_cohort_retention",
    "a_rollup_daily_type")

  val RetrievalQueries: Seq[String] = Seq(
    "ann_cosine_topk", "ann_lsh_topk", "ann_pq_topk", "ann_ivfpq_topk",
    "retrieval_maxscore_topk", "retrieval_rrf_fusion")

  /** The retrieval ops whose calls train and cache codebooks/centroids. */
  val IndexTraining: Seq[String] = Seq("ann_pq_topk", "ann_ivfpq_topk")

  val AnalystTables: Seq[String] = Seq("region", "nation", "customer",
    "supplier", "part", "orders", "lineitem", "events")

  /** The gated serving mix: the analyst queries with three ANN ops
    * interleaved. IVF-PQ stands for the trained indexes (coarse centroids
    * plus residual codebooks); flat PQ and the lexical retrieval ops run
    * in retrieval_serve only, to keep a run near a minute (README).
    */
  val ServeAnn: Seq[String] = Seq("ann_cosine_topk", "ann_lsh_topk", "ann_ivfpq_topk")
  val ServeMix: Seq[String] =
    AnalystQueries.zipAll(ServeAnn, "", "").flatMap { case (a, r) => Seq(a, r) }
      .filter(_.nonEmpty)

  val Workloads: Map[String, Workload] = Seq(
    // a cold DAG run, then a warm one on the next day's snapshot
    Workload("dag_daily", Seq(DagStages), Seq("documents"),
      dailySnapshots = true, minRounds = 2),
    Workload("serve_mix", ServeMix.map(Seq(_)), AnalystTables :+ "embeddings",
      dailySnapshots = false, Seq("ann_ivfpq_topk")),
    Workload("analyst_mix", AnalystQueries.map(Seq(_)), AnalystTables,
      dailySnapshots = false),
    Workload("retrieval_serve", RetrievalQueries.map(Seq(_)),
      Seq("documents", "embeddings"), dailySnapshots = false, IndexTraining),
  ).map(w => w.name -> w).toMap

  /** The engine modules whose public op functions the benchmark calls. */
  val Modules: Seq[(String, Map[String, (SparkSession, String) => DataFrame])] =
    Seq("TextOps" -> TextOps.queries, "DedupOps" -> DedupOps.queries,
      "MLOps" -> MLOps.queries, "SimilarityOps" -> SimilarityOps.queries,
      "Relational" -> Relational.queries, "Aggregates" -> Aggregates.queries)

  def moduleOf(query: String): (String, (SparkSession, String) => DataFrame) =
    Modules.collectFirst { case (m, qs) if qs.contains(query) => m -> qs(query) }
      .getOrElse(sys.error(s"no engine module defines $query"))

  // The records written to result.json, keyed by their field names in
  // snake_case; a None field is left out. Instants are epoch seconds.
  final case class StageRec(query: String, module: String, input: String,
                            out: String, callStartS: Double, callS: Double,
                            execS: Double)
  final case class OpRec(id: String, round: Int, traced: Boolean,
                         startS: Double, endS: Double, wallS: Double,
                         stages: Seq[StageRec], error: Option[String],
                         cacheStorageBytes: Long, counters: Option[OpCounters])
  final case class RunRec(workload: String, cpus: Int, setupS: Double,
                          calibBeforeS: Double, calibAfterS: Double,
                          peakRssKb: Long, oracleSql: Map[String, String],
                          ops: Seq[OpRec])

  def toJson(rec: Any): String =
    JsonMethods.compact(Extraction.decompose(rec)(DefaultFormats).snakizeKeys)

  def session(cpus: Int, work: String): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .withExtensions(new graft.plans.GraftExtensions)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  /** Bytes the block manager still holds (memory + disk, all RDDs). */
  def storageBytes(spark: SparkSession): Long =
    spark.sparkContext.getRDDStorageInfo.map(r => r.memSize + r.diskSize).sum

  /** Peak resident set of this JVM (VmHWM from /proc/self/status), in kB. */
  def peakRssKb(): Long = {
    import scala.jdk.CollectionConverters._
    Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .collectFirst { case l if l.startsWith("VmHWM:") => l.split("\\s+")(1).toLong }
      .getOrElse(sys.error("no VmHWM in /proc/self/status"))
  }

  def timeS(f: => Unit): Double = {
    val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e9
  }

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) => k -> v }.toMap
    if (opts.contains("--sinkcheck")) sinkCheck(opts("--sinkcheck"), opts("--out"))
    else run(opts)
  }

  def run(opts: Map[String, String]): Unit = {
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
    val wl = Workloads(opts("--workload"))
    val input = opts("--input")
    val out = opts("--out")
    val seconds = opts("--seconds").toDouble
    val trace = opts.getOrElse("--trace", "0") == "1"
    val cpus = Runtime.getRuntime.availableProcessors
    val inject = opts.get("--inject").map(_.split(":", 2)).map(a => a(0) -> a(1))
    val clock = new Clock

    // ---- setup: session, extensions, input registration, warm-up ----
    val mainNs = System.nanoTime()
    val spark = session(cpus, out)
    val fns = wl.ops.flatten.distinct.map(q => q -> moduleOf(q)).toMap
    val sessionNs = System.nanoTime()
    def inputOf(i: Int): String =
      if (wl.dailySnapshots) f"$input/day_$i%03d" else s"$input/base"
    wl.tables.foreach(t => spark.read.parquet(s"${inputOf(0)}/$t.parquet").schema)
    val regNs = System.nanoTime()
    val warmNs = wl.warmQueries.map { q =>
      val t = System.nanoTime(); fns(q)._2(spark, inputOf(0)); q -> (System.nanoTime() - t)
    }
    println(warmNs.map { case (q, n) => f"$q ${n / 1e9}%.2f s" }.mkString("[perfbench] warm-up: ", ", ", ""))
    val setupEndNs = System.nanoTime()
    def dt(a: Long, b: Long): String = f"${(b - a) / 1e9}%.2f s"
    println(s"[perfbench] setup phases: jvm start ${dt(jvmStartMs * 1000000L, clock.epochNs(mainNs))}," +
      s" session ${dt(mainNs, sessionNs)}, input registration ${dt(sessionNs, regNs)}," +
      s" warm-up ${dt(regNs, setupEndNs)}")
    val calibBefore = timeS(graft.Bench.calibOnce(spark))

    // ---- timed closed loop ----
    val tracer = if (trace) Some(new Tracer(spark)) else None
    val sc = spark.sparkContext
    val ops = mutable.ArrayBuffer.empty[OpRec]
    val loopStartNs = System.nanoTime()
    val deadlineNs = loopStartNs + (seconds * 1e9).toLong
    val nKinds = wl.ops.size
    // Traced runs alternate untraced and traced rounds after a cold
    // untraced round 0, so trace overhead compares like with like.
    def tracedRound(r: Int): Boolean = trace && r % 2 == 1
    val minRounds = if (trace) wl.minRounds max 3 else wl.minRounds
    var i = 0
    var more = true
    while (more) {
      val round = i / nKinds
      val in = inputOf(i)
      if (wl.dailySnapshots && !Files.exists(Paths.get(in))) more = false
      else {
        val traced = tracedRound(round)
        if (i % nKinds == 0 && trace) {
          if (traced) tracer.foreach(_.attach())
          else if (round > 0) tracer.foreach(_.detach())
        }
        val id = f"op-$i%04d"
        val opOut = if (wl.dailySnapshots) s"$out/ops/$id" else s"$out/ops/last"
        val counters = if (traced) tracer.map(_.begin()) else None
        val rules0 = RuleExecutor.getCurrentMetrics().time
        sc.setLocalProperty(OpProperty, id)
        val stages = mutable.ArrayBuffer.empty[StageRec]
        var error: Option[String] = None
        val t0 = System.nanoTime()
        val it = wl.ops(i % nKinds).iterator
        while (error.isEmpty && it.hasNext) {
          val q = it.next()
          val (module, fn) = fns(q)
          val path = s"$opOut/$q"
          try {
            val c0 = System.nanoTime()
            if (inject.contains("fail" -> q)) throw new IllegalStateException(s"injected failure in $q")
            val raw = fn(spark, in)
            val df = if (inject.contains("wrong" -> q)) raw.union(raw) else raw
            val c1 = System.nanoTime()
            df.write.mode("overwrite").parquet(path)
            val c2 = System.nanoTime()
            stages += StageRec(q, module, in, path, clock.epochNs(c0) / 1e9,
              (c1 - c0) / 1e9, (c2 - c1) / 1e9)
          } catch {
            case t: Throwable =>
              error = Some(s"$q: ${t.getClass.getSimpleName}: ${t.getMessage}")
              println(s"[perfbench] FAIL $id $q: ${t.getClass.getSimpleName}: " +
                String.valueOf(t.getMessage).linesIterator.take(3).mkString(" | "))
          }
        }
        val t1 = System.nanoTime()
        counters.foreach(_.planRulesNs = RuleExecutor.getCurrentMetrics().time - rules0)
        sc.setLocalProperty(OpProperty, null)
        tracer.filter(_ => traced).foreach(_.end())
        ops += OpRec(id, round, traced, clock.epochNs(t0) / 1e9,
          clock.epochNs(t1) / 1e9, (t1 - t0) / 1e9, stages.toSeq, error,
          storageBytes(spark), counters)
        i += 1
        more = !(i % nKinds == 0 && System.nanoTime() >= deadlineNs &&
          i / nKinds >= minRounds)
      }
    }
    tracer.foreach(t => if (tracedRound((i - 1) / nKinds)) t.detach())
    val calibAfter = timeS(graft.Bench.calibOnce(spark))
    val rssKb = peakRssKb()

    val rec = RunRec(wl.name, cpus, (clock.epochNs(setupEndNs) / 1e6 - jvmStartMs) / 1e3,
      calibBefore, calibAfter, rssKb,
      graft.SparkEntry.oracleSql.filter(kv => fns.contains(kv._1)), ops.toSeq)
    Files.writeString(Paths.get(s"$out/result.json"), toJson(rec))
    spark.stop()
  }

  /** Executor CPU of materializing a query's whole output into parquet
    * versus `count()` on the same frame, for the queries named in
    * `SinkCheckQueries`; prints one JSON object.
    */
  val SinkCheckQueries: Seq[String] = Seq("u3_vader_sentiment", "pipeline_prep_docs")

  def sinkCheck(input: String, out: String): Unit = {
    val spark = session(Runtime.getRuntime.availableProcessors, out)
    val tracer = new Tracer(spark)
    tracer.attach()
    def cpuS(f: => Unit): Double = {
      val c = tracer.begin(); f; tracer.end(); c.execCpuNs / 1e9
    }
    val cpu = SinkCheckQueries.map { q =>
      val fn = moduleOf(q)._2
      def sink(): Unit = fn(spark, input).write.mode("overwrite").parquet(s"$out/$q")
      fn(spark, input).count(); sink() // warm both paths
      val counts = (1 to 3).map(_ => cpuS(fn(spark, input).count())).sorted
      val sinks = (1 to 3).map(_ => cpuS(sink())).sorted
      q -> Map("count_cpu_s" -> counts(1), "sink_cpu_s" -> sinks(1))
    }.toMap
    tracer.detach()
    println(toJson(cpu))
    spark.stop()
  }
}

/** Maps System.nanoTime readings onto the epoch clock. */
final class Clock {
  val jvmEpochNs: Long = System.currentTimeMillis() * 1000000L
  private val nano0 = System.nanoTime()
  def epochNs(nano: Long): Long = jvmEpochNs + (nano - nano0)
}
