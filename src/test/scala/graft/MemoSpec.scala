package graft

import graft.ops.{MLOps, Memo, TextOps}
import org.apache.commons.io.FileUtils
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.columnar.InMemoryRelation
import org.apache.spark.storage.StorageLevel

import java.io.File
import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._

/** graft.ops.Memo: entries are keyed on the files they were built from,
  * so a rewritten input rebuilds instead of serving a stale model, a
  * session holds one input's entries at a time, and `Memo.clear()` drops
  * exactly the per-pass entries.
  */
class MemoSpec extends SparkSpec {
  import spark.implicits._

  /** Writes `documents` and `embeddings` derived from sf into `dir`:
    * every other embedding (by parity), the documents outside one fifth
    * (doc_id % 5 == parity) re-keyed by `idShift`.
    */
  private def fixture(dir: String, parity: Int, idShift: Long): Unit = {
    graft.ops.Tables.documents(spark, sf).filter($"doc_id" % 5 =!= parity)
      .withColumn("doc_id", $"doc_id" + idShift)
      .coalesce(1).write.parquet(s"$dir/documents.parquet")
    graft.ops.Tables.embeddings(spark, sf).filter($"vec_id" % 2 === parity)
      .coalesce(1).write.parquet(s"$dir/embeddings.parquet")
  }

  private def rows(q: String, dir: String): Seq[Seq[Any]] =
    SparkEntry.queries(q)(spark, dir).collect().map(_.toSeq).toSeq

  test("a rewritten input rebuilds both index and per-pass entries") {
    withTempDir("graft_memo") { a =>
      withTempDir("graft_memo") { b =>
        fixture(a, 0, 0L)
        fixture(b, 1, 100000L)
        try {
          // ml_kmeans reads the k-means centroids (an index entry),
          // dedup_minhash_lsh the persisted shingle frame, the two report
          // stages the cluster labels and VADER scores (per-pass entries)
          val qs = Seq("ml_kmeans", "dedup_minhash_lsh", "pipeline_dedup_corpus",
            "u3_sentiment_distribution")
          val onA = qs.map(rows(_, a))
          val onB = qs.map(rows(_, b))
          qs.indices.foreach { i =>
            assert(onA(i).nonEmpty && onA(i) != onB(i), qs(i))
          }
          for (t <- Seq("documents", "embeddings")) {
            FileUtils.deleteDirectory(new File(s"$a/$t.parquet"))
            FileUtils.copyDirectory(new File(s"$b/$t.parquet"), new File(s"$a/$t.parquet"))
          }
          assert(qs.map(rows(_, a)) == onB)
        } finally Memo.clear()
      }
    }
  }

  test("a miss on a new snapshot dir drops the older dirs' entries") {
    withTempDir("graft_memo_day") { d1 =>
      withTempDir("graft_memo_day") { d2 =>
        withTempDir("graft_memo_day") { d3 =>
          val days = Seq(d1, d2, d3)
          days.foreach(fixture(_, 0, 0L))
          // the daily DAG's dedup, sentiment and topics stages; ml_kmeans
          // adds an index entry
          val stages = Seq("dedup_cluster_reps_lsh", "u3_vader_sentiment",
            "lda_em_topics_dist", "ml_kmeans")
          val frameKinds = Seq("shingles", "lsh_clusters", "vader")
          val kinds: Seq[(String, Seq[Any])] = frameKinds.map(_ -> Nil) ++
            Seq("lda_em_dist" -> Seq(MLOps.EmK, 0), "kmeans" -> Nil)
          def held(dir: String): Seq[String] = kinds.collect {
            case (k, ps) if Memo.contains(k, spark, dir, ps: _*) => k }
          try {
            val frames = days.map { day =>
              stages.foreach(rows(_, day))
              assert(held(day) == kinds.map(_._1), day)
              frameKinds.map(k =>
                Memo.perPass[DataFrame](k, spark, day)(fail(s"$k missed on $day")))
            }
            assert(held(d1).isEmpty && held(d2).isEmpty)
            assert(held(d3) == kinds.map(_._1))
            frames.take(2).flatten.foreach(f => assert(f.storageLevel == StorageLevel.NONE))
            frames(2).foreach(f => assert(f.storageLevel != StorageLevel.NONE))
          } finally Memo.clear()
        }
      }
    }
  }

  test("the report stages read the upstream stages' cached frames") {
    // (upstream stage, report stage, a column only the upstream frame has)
    val stages = Seq(
      ("dedup_cluster_reps_lsh", "pipeline_dedup_corpus", "is_survivor"),
      ("u3_vader_sentiment", "u3_sentiment_distribution", "sentiment_score"))
    Memo.clear()
    stages.foreach { case (up, _, _) => rows(up, sf) }
    val cached = stages.map { case (_, report, c) =>
      val df = SparkEntry.queries(report)(spark, sf)
      val reads = df.queryExecution.withCachedData.collect {
        case r: InMemoryRelation => r.output.map(_.name)
      }
      assert(reads.exists(_.contains(c)), s"$report reads no cached $c: $reads")
      df.collect().map(_.toSeq).toSeq
    }
    Memo.clear()
    assert(!Memo.contains("lsh_clusters", spark, sf) && !Memo.contains("vader", spark, sf))
    assert(stages.map { case (_, report, _) => rows(report, sf) } == cached)
  }

  test("a second lookup on an unchanged dir returns the same object") {
    val input = MLOps.preparedInput(spark, sf)
    assert(MLOps.preparedInput(spark, sf) eq input)
    assert(Memo.contains("lda_input", spark, sf))
    val model = TextOps.unigramModel(spark, sf)
    assert(TextOps.unigramModel(spark, sf) eq model)
  }

  test("clear keeps index values and rebuilds per-pass values unpersisted") {
    val model = TextOps.unigramModel(spark, sf)
    val (_, vec) = MLOps.preparedInput(spark, sf)
    assert(vec.storageLevel != StorageLevel.NONE)
    Memo.clear()
    assert(vec.storageLevel == StorageLevel.NONE)
    assert(!Memo.contains("lda_input", spark, sf))
    assert(TextOps.unigramModel(spark, sf) eq model)
    val (_, vec2) = MLOps.preparedInput(spark, sf)
    assert(!(vec2 eq vec))
    assert(vec2.storageLevel != StorageLevel.NONE)
  }

  test("Memo is the only TrieMap under src/main/scala/graft/ops") {
    val hits = Files.walk(Paths.get("src/main/scala/graft/ops")).iterator().asScala
      .filter(p => p.toString.endsWith(".scala") &&
        Files.readString(p).contains("TrieMap"))
      .map(_.getFileName.toString).toSeq
    assert(hits == Seq("Memo.scala"), hits)
  }
}
