package graft.ops

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Dataset, SparkSession}

/** The engine's one cache of trained models and pinned frames, keyed on
  * (kind, session, input fingerprint, params). The fingerprint is the
  * input dir plus (relative path, length, mtime) of every file under it,
  * listed on every lookup, so a dir rewritten in place misses and
  * rebuilds. Every miss also drops each entry of the same session whose
  * input (dir and file list) differs from the new key's, index and
  * per-pass alike, and unpersists its frames. So a session holds the
  * entries of one input at a time: a rewritten dir cannot be served the
  * old bytes by Spark's cache manager, which matches plans by path, and
  * a session that moves to a new snapshot dir each day does not keep
  * every earlier day's frames pinned.
  *
  * Two lifecycles, a policy about what Bench re-times after `clearState`:
  *   - [[index]] survives [[clear]]: trained indexes and the model-selection
  *     scan (k-means centroids, PQ codebooks, unigram vocabulary, LDA
  *     coherence scan). Small driver state a serving system trains once;
  *     timed passes measure probing, and deterministic training means
  *     reuse cannot change a result.
  *   - [[perPass]] is dropped by [[clear]], which unpersists every `Dataset`
  *     in the value: pinned frames and the fits a timed query exists to
  *     measure (shingle frames, LDA inputs and models, EM states, ALS).
  *     The distributed EM fit's φ is a plain driver array and still lives
  *     here, so `lda_em_topics_dist` re-pays its fit on every timed pass.
  *     Two stage results live here too: the LSH star-CC cluster labels
  *     (`lsh_clusters`, built by `dedup_cluster_reps_lsh`, read by
  *     `pipeline_dedup_corpus`) and the VADER scores (`vader`, built by
  *     `u3_vader_sentiment`, read by `u3_sentiment_distribution`). They
  *     are per-pass so that every timed query still pays its upstream
  *     stage after `clearState`; reuse happens only inside one composed
  *     run (the daily DAG's report stage) on an unchanged input.
  *
  * Builds nest (sampled fit input → prepared input, coherence scan →
  * fitted models, IVF residual codebooks → k-means centroids):
  * `TrieMap.getOrElseUpdate` runs the build outside any lock, so nesting
  * cannot deadlock, and concurrent builders of one key keep the first
  * value inserted.
  */
object Memo {
  private final case class Key(kind: String, session: SparkSession,
      dir: String, files: Seq[(String, Long, Long)], params: List[Any])

  private final case class Entry(value: Any, perPass: Boolean)

  private val entries = scala.collection.concurrent.TrieMap.empty[Key, Entry]

  /** A value that survives [[clear]]. */
  def index[T](kind: String, s: SparkSession, d: String, params: Any*)(build: => T): T =
    lookup(key(kind, s, d, params), perPass = false, build)

  /** A value that [[clear]] drops, unpersisting its frames. */
  def perPass[T](kind: String, s: SparkSession, d: String, params: Any*)(build: => T): T =
    lookup(key(kind, s, d, params), perPass = true, build)

  /** Whether a lookup with these arguments would hit. */
  def contains(kind: String, s: SparkSession, d: String, params: Any*): Boolean =
    entries.contains(key(kind, s, d, params))

  /** Drop every [[perPass]] entry and unpersist its frames. */
  def clear(): Unit = entries.foreach { case (k, e) =>
    if (e.perPass && entries.remove(k, e)) unpersist(e.value)
  }

  private def lookup[T](k: Key, perPass: Boolean, build: => T): T =
    entries.getOrElseUpdate(k, {
      entries.foreach { case (o, e) =>
        if ((o.session eq k.session) && (o.dir != k.dir || o.files != k.files) &&
          entries.remove(o, e)) unpersist(e.value)
      }
      Entry(build, perPass)
    }).value.asInstanceOf[T]

  /** `listStatus`, walked by hand: `listFiles` builds a LocatedFileStatus
    * per file, which on the local file system forks a shell to read each
    * file's owner and permissions (42 ms against 0.3 ms per lookup of a
    * 10-file local dir, measured on a 4-core host).
    */
  private def key(kind: String, s: SparkSession, d: String, params: Seq[Any]): Key = {
    val root = new Path(d)
    val fs = root.getFileSystem(s.sparkContext.hadoopConfiguration)
    val prefix = fs.makeQualified(root).toString
    def files(p: Path): Seq[(String, Long, Long)] = fs.listStatus(p).toSeq.flatMap { f =>
      if (f.isDirectory) files(f.getPath)
      else Seq((f.getPath.toString.stripPrefix(prefix), f.getLen, f.getModificationTime))
    }
    Key(kind, s, d, files(root).sorted, params.toList)
  }

  /** Every `Dataset` in a value: a bare frame, a tuple, a `Seq` of tuples. */
  private def unpersist(v: Any): Unit = v match {
    case ds: Dataset[_] => ds.unpersist(blocking = true)
    case xs: Iterable[_] => xs.foreach(unpersist)
    case p: Product => p.productIterator.foreach(unpersist)
    case _ => ()
  }
}
