package graft.ops

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Multimodal-column plumbing (north-star requirement): media payloads as
  * opaque BINARY columns with typed metadata, batch "decode"/featurize/
  * frame-sample over mapPartitions.
  *
  * The container has no image/audio codecs, so the decode step is a
  * DETERMINISTIC STAND-IN (documents.text bytes play the payload role; the
  * "decoder" is a byte-histogram featurizer and a fixed-stride frame
  * chunker). Everything Spark-side — binary schema, per-partition
  * batching, typed Row output schema, downstream relational shape — is
  * real, and the stand-ins are exact integer arithmetic so the DuckDB
  * oracle checks the full path.
  *
  * Scale notes: mapPartitions processes payloads in per-partition batches
  * (the shape a real ONNX/codec runtime wants — amortized model/codec
  * init per partition, not per row); output is long-form (doc_id, bin/
  * frame, value) so downstream aggregation is plain partial-agg groupBy.
  */
object MultimodalOps {
  import Tables._

  type Q = (SparkSession, String) => DataFrame

  val NumBins = 16
  val FrameBytes = 32
  val FrameStride = 4 // sample every 4th frame

  /** mm_phash_dedup config: band count x bits (4x16 covers the 64-bit
    * hash) and the Hamming radius a candidate pair must pass.
    */
  val PhashBands = 4
  val PhashBandBits = 16
  val PhashHamMax = 12

  /** L1 histogram-distance threshold above which two consecutive frames
    * are a scene cut (mm_scene_cuts). Max possible distance between two
    * full 32-byte frames' 16-bin histograms is 64; 20 separates genuine
    * content shifts from word-boundary jitter on the text-as-payload
    * fixtures.
    */
  val SceneCutThresh = 20L

  val InferClasses = Seq("negative", "neutral", "positive")
  val InferBatch = 64
  val ClassSalt = 2654435761L // Knuth multiplicative constant, decorrelates classes
  val ScoreMod = 1000003L

  /** Deterministic per-(token, class) weight in [-1000, 1000] — the
    * stand-in "model" for u4_batch_inference. Pure integer arithmetic so
    * the DuckDB oracle reproduces logits bit-for-bit.
    */
  def tokenWeight(h: Long, c: Int): Long =
    ((h + c * ClassSalt) % ScoreMod) % 2001L - 1000L

  /** documents with payload BINARY + typed metadata (format from a
    * deterministic doc_id rule; byte length; md5 checksum).
    *
    * ORACLE INVARIANT: the fixture corpus is pure ASCII (FIXTURES.md), so
    * DuckDB's character-indexed substr/ascii/strlen over `text` equals
    * byte-indexed access to this UTF-8 payload. Any non-ASCII fixture
    * text would silently diverge the mm_* oracles — keep the corpus
    * ASCII or rewrite those oracles octet-based.
    */
  private def withPayload(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    documents(s, d)
      .repartition(s.sparkContext.defaultParallelism)
      .select($"doc_id",
        encode($"text", "UTF-8").as("payload"),
        element_at(typedLit(Seq("png", "jpeg", "wav")), ($"doc_id" % 3 + 1).cast("int"))
          .as("media_format"),
        octet_length(encode($"text", "UTF-8")).as("n_bytes"),
        md5(encode($"text", "UTF-8")).as("checksum"))
  }

  val queries: Map[String, Q] = Map(
    // Binary + metadata columns, aggregated per format (the catalog view a
    // media corpus needs).
    "mm_payload_stats" -> ((s, d) => {
      import s.implicits._
      withPayload(s, d)
        .groupBy($"media_format")
        .agg(count("*").as("n_items"),
          sum($"n_bytes").as("total_bytes"),
          min($"n_bytes").as("min_bytes"),
          max($"n_bytes").as("max_bytes"),
          countDistinct($"checksum").as("n_distinct"))
        .orderBy("media_format")
    }),

    // Raw-file ingest through Spark's binaryFile source — the layout a
    // real media corpus lands in (one object per item in a store/dir),
    // vs the parquet-packed BINARY columns every other mm_* op reads.
    // Phase 1 exports each payload as an individual <doc_id>.bin from
    // the EXECUTORS (foreachPartition + java.nio — the distributed
    // media-export shape: each task writes its own partition's items;
    // no driver collect, no whole-corpus state). Phase 2 reads the
    // directory back with format("binaryFile") (pathGlobFilter keeps
    // stray files out of the listing), rebuilds identity from the
    // `path` file-status column, and proves per-doc byte fidelity:
    // md5(content) must equal the source text's md5 (ASCII corpus
    // invariant, see withPayload) and n_bytes comes from the source's
    // `length` column — the file LISTING, not the bytes. Scale:
    // binaryFile is one row per file, guarded by
    // spark.sql.sources.binaryFile.maxLength — right for item-sized
    // media objects; shard-packed archives (sink_training_shards) are
    // the complement once items are small enough to pack.
    // Both export phases go through the Hadoop FileSystem API, so the
    // export lands wherever the cluster's (or the URI's) filesystem
    // points — the local disk here, HDFS/S3A on a real deployment —
    // and the driver-side binaryFile read resolves the SAME store;
    // no shared-mount assumption. The dir is cleared of *.bin before
    // each export — per-file overwrite alone would silently re-ingest
    // orphans left by a prior run over since-removed docs.
    "mm_binaryfile_source" -> ((s, d) => {
      import s.implicits._
      import org.apache.hadoop.fs.{FileSystem, Path => HPath}
      val out = new java.io.File(
        Tables.artifactDir("mm_binaryfile_source", d)).getAbsolutePath
      val conf = s.sparkContext.hadoopConfiguration
      val fs = FileSystem.get(java.net.URI.create(out), conf)
      fs.mkdirs(new HPath(out))
      fs.globStatus(new HPath(out, "*.bin"))
        .foreach(st => fs.delete(st.getPath, false))
      withPayload(s, d).select($"doc_id", $"payload")
        .foreachPartition { rows: Iterator[Row] =>
          // fresh Configuration on the executor: defaults + any cluster
          // conf dir resolve the same scheme the driver wrote `out` with
          val efs = FileSystem.get(java.net.URI.create(out),
            new org.apache.hadoop.conf.Configuration())
          rows.foreach { r =>
            val os = efs.create(
              new HPath(out, s"${r.getLong(0)}.bin"), true)
            try os.write(r.getAs[Array[Byte]](1))
            finally os.close()
          }
        }
      s.read.format("binaryFile")
        .option("pathGlobFilter", "*.bin")
        .load(out)
        .select(
          regexp_extract($"path", "([0-9]+)\\.bin$", 1).cast("long").as("doc_id"),
          $"length".as("n_bytes"),
          md5($"content").as("checksum"))
        .orderBy("doc_id")
    }),

    // Batched "decode"+featurize over mapPartitions: byte histogram into
    // 16 bins (code/16, codes < 256), long-form output.
    "mm_feature_histogram" -> ((s, d) => {
      import s.implicits._
      val schema = StructType(Seq(
        StructField("doc_id", LongType, nullable = false),
        StructField("bin", IntegerType, nullable = false),
        StructField("cnt", LongType, nullable = false)))
      val enc = org.apache.spark.sql.Encoders.row(schema)
      withPayload(s, d).select($"doc_id", $"payload")
        .mapPartitions { it =>
          // batch shape: decode per partition, one codec init per task
          it.flatMap { r =>
            val docId = r.getLong(0)
            val bytes = r.getAs[Array[Byte]](1)
            val hist = new Array[Long](NumBins)
            bytes.foreach { b => hist((b & 0xff) / NumBins) += 1 }
            hist.zipWithIndex.collect {
              case (c, bin) if c > 0 => Row(docId, bin, c)
            }
          }
        }(enc)
        .orderBy("doc_id", "bin")
    }),

    // U4 batch inference (reference sentiment_analysis.py:76-112 runs a
    // DistilBERT pipeline over all texts and emits per-doc (label, score)
    // — sentiment_analysis.py:96-103). The container has no ONNX runtime,
    // so the MODEL is a deterministic stand-in (integer token weights +
    // softmax over 3 classes), but the output contract (doc_id, top-1
    // label, top-1 probability) and the execution shape — model "init"
    // once per partition, rows scored in fixed-size batches via
    // mapPartitions, exactly what a real inference runtime wants — are
    // the real thing, and the whole path is oracle-checked as pure
    // arithmetic. Scale: map-only; no shuffle until the output sort.
    "u4_batch_inference" -> ((s, d) => {
      import s.implicits._
      val schema = StructType(Seq(
        StructField("doc_id", LongType, nullable = false),
        StructField("label", StringType, nullable = false),
        StructField("score", DoubleType, nullable = false)))
      val enc = org.apache.spark.sql.Encoders.row(schema)
      val classes = InferClasses.toArray
      documents(s, d)
        .repartition(s.sparkContext.defaultParallelism)
        .select($"doc_id", $"text")
        .mapPartitions { it =>
          // per-partition "model load" happens here (the weights closure);
          // grouped(...) mirrors the fixed batch size of a GPU runtime
          it.grouped(InferBatch).flatMap { batch =>
            batch.iterator.map { r =>
              val docId = r.getLong(0)
              val toks = r.getString(1).toLowerCase(java.util.Locale.ROOT)
                .split("\\s+").filter(_.nonEmpty)
              val sums = new Array[Long](3)
              toks.foreach { t =>
                val h = graft.functions.PolyHash.hashString(t)
                var c = 0
                while (c < 3) { sums(c) += tokenWeight(h, c); c += 1 }
              }
              val n = toks.length
              // integer sums stay exact, so one double division per class
              // gives bit-identical logits in both engines regardless of
              // token order
              val logits = sums.map(sv => if (n == 0) 0.0 else sv / (n * 1000.0))
              val exps = logits.map(math.exp)
              val denom = exps(0) + exps(1) + exps(2)
              var best = 0
              var c = 1
              while (c < 3) { if (exps(c) > exps(best)) best = c; c += 1 }
              Row(docId, classes(best), exps(best) / denom)
            }
          }
        }(enc)
        .withColumn("score", round($"score", 6))
        .orderBy("doc_id")
    }),

    // Resize / downsample: treat the first 256 payload bytes as a 16×16
    // grayscale grid (zero-padded) and average-pool 4×4 blocks down to
    // 4×4 — the image-resize step of a multimodal ingest, in the same
    // batched mapPartitions shape as the decode/featurize ops (a real
    // codec would replace the byte-grid reader; the partitioning, batch
    // loop, and long-form output schema are the production plumbing).
    // Block sums are integers and /16 is a power of two, so avg_val is
    // exact in both engines — no rounding needed. Map-only until the
    // output sort.
    "mm_resize_pool" -> ((s, d) => {
      import s.implicits._
      val schema = StructType(Seq(
        StructField("doc_id", LongType, nullable = false),
        StructField("by", LongType, nullable = false),
        StructField("bx", LongType, nullable = false),
        StructField("avg_val", DoubleType, nullable = false)))
      val enc = org.apache.spark.sql.Encoders.row(schema)
      withPayload(s, d).select($"doc_id", $"payload")
        .mapPartitions { it =>
          it.grouped(64).flatMap { batch => // codec-style fixed batches
            batch.iterator.flatMap { r =>
              val docId = r.getLong(0)
              val bytes = r.getAs[Array[Byte]](1)
              (0L until 4L).iterator.flatMap { by =>
                (0L until 4L).iterator.map { bx =>
                  var sum = 0L
                  var k = 0
                  while (k < 16) {
                    val idx = ((by * 4 + k / 4) * 16 + (bx * 4 + k % 4)).toInt
                    if (idx < bytes.length) sum += (bytes(idx) & 0xff)
                    k += 1
                  }
                  Row(docId, by, bx, sum / 16.0)
                }
              }
            }
          }
        }(enc)
        .orderBy("doc_id", "by", "bx")
    }),

    // Frame sampling: fixed 32-byte frames, keep every 4th, fingerprint
    // each sampled frame with the shared polynomial hash.
    "mm_frame_sample" -> ((s, d) => {
      import s.implicits._
      val schema = StructType(Seq(
        StructField("doc_id", LongType, nullable = false),
        StructField("frame_idx", IntegerType, nullable = false),
        StructField("frame_len", IntegerType, nullable = false),
        StructField("frame_hash", LongType, nullable = false)))
      val enc = org.apache.spark.sql.Encoders.row(schema)
      withPayload(s, d).select($"doc_id", $"payload")
        .mapPartitions { it =>
          it.flatMap { r =>
            val docId = r.getLong(0)
            val bytes = r.getAs[Array[Byte]](1)
            val nFrames = (bytes.length + FrameBytes - 1) / FrameBytes
            (0 until nFrames by FrameStride).iterator.map { f =>
              val from = f * FrameBytes
              val until = math.min(from + FrameBytes, bytes.length)
              var h = 0L
              var i = from
              while (i < until) { h = (h * 131L + (bytes(i) & 0xff)) % 1000000007L; i += 1 }
              Row(docId, f, until - from, h)
            }
          }
        }(enc)
        .orderBy("doc_id", "frame_idx")
    }),

    // Scene-cut (shot-boundary) detection over the frame stream — the
    // video-curation segmentation primitive (caption/dedup units are
    // SCENES, not frames; cf. the frame-difference detectors every
    // PySceneDetect-style stack ships): per payload, every consecutive
    // 32-byte frame pair is compared by the L1 distance between their
    // 16-bin byte histograms; a distance above SceneCutThresh is a cut.
    // All counts/distances are exact integers, so the per-doc summary
    // (frames, cuts, scenes = cuts+1, max distance) replays in DuckDB.
    // Zero-byte payloads are EXCLUDED (a 0-frame stream has no scenes;
    // the oracle's unnest(range(strlen)) drops such docs naturally and
    // the Spark side filters n_frames > 0 to match — round-14 ADVICE).
    // Like mm_phash_dedup, the oracle relies on the ASCII-corpus
    // invariant (withPayload): DuckDB indexes CODEPOINTS over `text`
    // while Spark walks UTF-8 BYTES, identical only for ASCII.
    // Scale: ONE map-only pass — each payload's frames, histograms, and
    // consecutive-pair distances are computed locally inside the batched
    // mapPartitions decode shape (frames of one video never cross a
    // partition boundary because the payload is one row), so there is
    // no per-frame shuffle at any corpus size; output is one row per
    // document.
    "mm_scene_cuts" -> ((s, d) => {
      import s.implicits._
      val schema = StructType(Seq(
        StructField("doc_id", LongType, nullable = false),
        StructField("n_frames", IntegerType, nullable = false),
        StructField("n_cuts", IntegerType, nullable = false),
        StructField("n_scenes", IntegerType, nullable = false),
        StructField("max_dist", LongType, nullable = false)))
      val enc = org.apache.spark.sql.Encoders.row(schema)
      withPayload(s, d).select($"doc_id", $"payload")
        .mapPartitions { it =>
          it.grouped(InferBatch).flatMap { batch =>
            batch.iterator.map { r =>
              val id = r.getLong(0)
              val bytes = r.getAs[Array[Byte]](1)
              val nFrames = (bytes.length + FrameBytes - 1) / FrameBytes
              var prev: Array[Long] = null
              var cuts = 0
              var maxD = 0L
              var f = 0
              while (f < nFrames) {
                val hist = new Array[Long](16)
                var i = f * FrameBytes
                val until = math.min(i + FrameBytes, bytes.length)
                while (i < until) {
                  hist((bytes(i) & 0xff) / 16) += 1
                  i += 1
                }
                if (prev != null) {
                  var dist = 0L
                  var b = 0
                  while (b < 16) {
                    dist += math.abs(hist(b) - prev(b))
                    b += 1
                  }
                  if (dist > SceneCutThresh) cuts += 1
                  if (dist > maxD) maxD = dist
                }
                prev = hist
                f += 1
              }
              Row(id, nFrames, cuts, cuts + 1, maxD)
            }
          }
        }(enc)
        .filter($"n_frames" > 0)
        .orderBy("doc_id")
    }),

    // Perceptual-hash near-dup detection over the BINARY payloads — the
    // image-dedup member of the dedup family (every media lake runs
    // aHash/pHash before training): a 64-bit average-hash per payload
    // (64 equal byte segments stand in for the 8x8 grayscale grid; bit s
    // = segment-mean > payload-mean, compared CROSS-MULTIPLIED so the
    // bit is exact integer arithmetic, no division), then SimHash-style
    // banding (4 x 16-bit bands) generates candidates WITHOUT any
    // all-pairs work, and a Hamming verify (bit_count(xor) <=
    // PhashHamMax) keeps real near-dups. Exact payload dups collide in
    // all 4 bands at Hamming 0 and byte-level corruptions survive the
    // radius — both pinned on a planted fixture in RelationalSpec (the
    // driver corpus has no raw-byte dups; its one template near-pair is
    // what the sf0.01 run surfaces). Scale: the hash is one map-only
    // pass in the batched
    // mapPartitions decoder shape; candidates are band-bucket equi-joins
    // (cost tracks bucket collisions, the dedup_simhash posture);
    // verify is per-candidate O(1).
    "mm_phash_dedup" -> ((s, d) => {
      import s.implicits._
      val schema = StructType(Seq(
        StructField("doc_id", LongType, nullable = false),
        StructField("phash", LongType, nullable = false)))
      val enc = org.apache.spark.sql.Encoders.row(schema)
      val ph = withPayload(s, d).select($"doc_id", $"payload")
        .mapPartitions { it =>
          it.grouped(InferBatch).flatMap { batch =>
            batch.iterator.map { r =>
              val id = r.getLong(0)
              val bytes = r.getAs[Array[Byte]](1)
              val n = bytes.length
              val segSum = new Array[Long](64)
              val segCnt = new Array[Long](64)
              var tsum = 0L
              var i = 0
              while (i < n) {
                val sIdx = (i.toLong * 64L / n).toInt
                val v = (bytes(i) & 0xff).toLong
                segSum(sIdx) += v; segCnt(sIdx) += 1; tsum += v
                i += 1
              }
              var h = 0L
              var b = 0
              while (b < 64) {
                // seg mean > payload mean, cross-multiplied (exact ints)
                if (segSum(b) * n > tsum * segCnt(b)) h |= (1L << b)
                b += 1
              }
              Row(id, h)
            }
          }
        }(enc)
        .localCheckpoint(false) // one decode pass; banded + verified below
      val bands = (0 until PhashBands).map { t =>
        ph.select($"doc_id", $"phash", lit(t).as("t"),
          shiftright($"phash", PhashBandBits * t)
            .bitwiseAND(lit(65535L)).as("bv"))
      }.reduce(_.unionByName(_))
      val a = bands.select($"doc_id".as("doc_a"), $"phash".as("ha"),
        $"t", $"bv")
      val b = bands.select($"doc_id".as("doc_b"), $"phash".as("hb"),
        $"t", $"bv")
      a.join(b, Seq("t", "bv")).filter($"doc_a" < $"doc_b")
        .groupBy($"doc_a", $"doc_b")
        .agg(count(lit(1)).as("n_bands"),
          min($"ha").as("ha"), min($"hb").as("hb"))
        .withColumn("hamming", bit_count($"ha".bitwiseXOR($"hb")))
        .filter($"hamming" <= PhashHamMax)
        .select($"doc_a", $"doc_b", $"n_bands", $"hamming")
        .orderBy("doc_a", "doc_b")
    }),

    // Audio-style framing: payload bytes as unsigned 8-bit PCM centered
    // at 128, non-overlapping 64-sample windows, per-window RMS energy —
    // the frame-level feature extraction (VAD / loudness gating) of an
    // audio ingest, in the same batched mapPartitions shape as the other
    // decoders. Sum-of-squares is integer (exact), one double division +
    // sqrt per window, so both engines agree bit-for-bit pre-rounding.
    // Map-only until the output sort.
    "mm_audio_rms" -> ((s, d) => {
      import s.implicits._
      val schema = StructType(Seq(
        StructField("doc_id", LongType, nullable = false),
        StructField("window_idx", IntegerType, nullable = false),
        StructField("n_samples", IntegerType, nullable = false),
        StructField("rms", DoubleType, nullable = false)))
      val enc = org.apache.spark.sql.Encoders.row(schema)
      withPayload(s, d).select($"doc_id", $"payload")
        .mapPartitions { it =>
          it.grouped(64).flatMap { batch => // codec-style fixed batches
            batch.iterator.flatMap { r =>
              val docId = r.getLong(0)
              val bytes = r.getAs[Array[Byte]](1)
              val nWin = (bytes.length + 63) / 64
              (0 until nWin).iterator.map { w =>
                val from = w * 64
                val until = math.min(from + 64, bytes.length)
                var ss = 0L
                var i = from
                while (i < until) {
                  val v = (bytes(i) & 0xff) - 128
                  ss += v.toLong * v
                  i += 1
                }
                val n = until - from
                Row(docId, w, n, math.sqrt(ss.toDouble / n))
              }
            }
          }
        }(enc)
        .withColumn("rms", round($"rms", 6))
        .orderBy("doc_id", "window_idx")
    }),

    // Interleaved multimodal sequence packing (the LLaVA/Flamingo-style
    // pretraining corpus layout): each doc contributes its text tokens
    // PLUS the patch/frame-token budget of its media payload — vision
    // docs (png/jpeg) cost up to 64 patch tokens (1 per 256 payload
    // bytes, the ViT-patch arithmetic), audio docs up to 32 frame
    // tokens (1 per 512 bytes), plus one modality-boundary token — and
    // docs pack greedily into 1024-token training sequences. Packing
    // reuses pack_sequences' relational device: a deterministic bucket
    // (doc_id % 8), a running cost sum per bucket, and seq =
    // (cum − cost) div budget, so the only shuffle is the bucket window
    // and per-bucket state is one running counter; media tokens cannot
    // split across sequences because a doc is assigned wholly to the
    // sequence its first token lands in. All costs are exact integer
    // arithmetic off the payload metadata (n_bytes under the ASCII
    // invariant), so the DuckDB oracle replays the packing exactly. At
    // 100 TB raise the bucket count so each bucket stays executor-sized
    // — same story as pack_sequences, with the media-token budget
    // riding the same scan.
    "mm_interleaved_pack" -> ((s, d) => {
      import s.implicits._
      val budget = 1024
      val nb = 8
      val t = documents(s, d).select($"doc_id",
          size(TextOps.tokens($"text")).cast("long").as("text_tok"),
          element_at(typedLit(Seq("png", "jpeg", "wav")),
            ($"doc_id" % 3 + 1).cast("int")).as("media_format"),
          octet_length(encode($"text", "UTF-8")).as("n_bytes"))
        .withColumn("media_tok",
          when($"media_format" === "wav",
            least(lit(32L), expr("(n_bytes + 511) div 512")))
          .otherwise(least(lit(64L), expr("(n_bytes + 255) div 256"))))
        .withColumn("cost", $"text_tok" + $"media_tok" + lit(1L))
        .withColumn("bucket", $"doc_id" % nb)
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy($"bucket").orderBy($"doc_id")
      t.withColumn("cum", sum($"cost").over(w))
        .withColumn("seq", expr(s"(cum - cost) div $budget"))
        .groupBy($"bucket", $"seq")
        .agg(count(lit(1)).as("n_docs"),
          sum($"text_tok").as("text_tokens"),
          sum($"media_tok").as("media_tokens"),
          sum($"cost").as("total_tokens"),
          min($"doc_id").as("first_doc"),
          max($"doc_id").as("last_doc"))
        .orderBy("bucket", "seq")
    }),
  )

  val oracles: Map[String, String] = Map(
    "mm_payload_stats" ->
      """SELECT CASE doc_id % 3 WHEN 0 THEN 'png' WHEN 1 THEN 'jpeg'
        |            ELSE 'wav' END AS media_format,
        |  COUNT(*) AS n_items,
        |  CAST(SUM(strlen(text)) AS BIGINT) AS total_bytes,
        |  MIN(strlen(text)) AS min_bytes,
        |  MAX(strlen(text)) AS max_bytes,
        |  COUNT(DISTINCT md5(text)) AS n_distinct
        |FROM documents GROUP BY 1 ORDER BY 1""".stripMargin,
    "mm_binaryfile_source" ->
      """SELECT doc_id, CAST(strlen(text) AS BIGINT) AS n_bytes,
        |  md5(text) AS checksum
        |FROM documents ORDER BY doc_id""".stripMargin,
    "mm_feature_histogram" ->
      """SELECT doc_id, bin, COUNT(*)::BIGINT AS cnt FROM (
        |  SELECT doc_id, ascii(c) // 16 AS bin
        |  FROM (SELECT doc_id, unnest(string_split(text, '')) AS c
        |        FROM documents))
        |GROUP BY doc_id, bin ORDER BY doc_id, bin""".stripMargin,
    "u4_batch_inference" -> {
      val sumExpr = (c: Int) =>
        s"""list_reduce(list_prepend(CAST(0 AS BIGINT),
           |      list_transform(hs, x -> (x + $c * $ClassSalt) % $ScoreMod % 2001 - 1000)),
           |      (a, b) -> a + b) AS s$c""".stripMargin
      val logitExpr = (c: Int) =>
        s"exp(CASE WHEN n = 0 THEN 0.0 ELSE CAST(s$c AS DOUBLE) / (n * 1000) END) AS e$c"
      s"""WITH tok AS (
         |  SELECT doc_id,
         |    ${TextOps.tokensSql("text")} AS toks
         |  FROM documents),
         |h AS (
         |  SELECT doc_id, len(toks) AS n,
         |    list_transform(toks, t -> ${DedupOps.polyHashSql("t")}) AS hs
         |  FROM tok),
         |lg AS (
         |  SELECT doc_id, n,
         |    ${sumExpr(0)},
         |    ${sumExpr(1)},
         |    ${sumExpr(2)}
         |  FROM h),
         |p AS (
         |  SELECT doc_id, ${logitExpr(0)}, ${logitExpr(1)}, ${logitExpr(2)} FROM lg)
         |SELECT doc_id,
         |  CASE WHEN e0 >= e1 AND e0 >= e2 THEN 'negative'
         |       WHEN e1 >= e2 THEN 'neutral'
         |       ELSE 'positive' END AS label,
         |  ROUND(CASE WHEN e0 >= e1 AND e0 >= e2 THEN e0
         |             WHEN e1 >= e2 THEN e1
         |             ELSE e2 END / (e0 + e1 + e2), 6) AS score
         |FROM p ORDER BY doc_id""".stripMargin
    },
    "mm_resize_pool" ->
      """WITH b AS (SELECT unnest(generate_series(0, 3)) AS v)
        |SELECT d.doc_id, byy.v AS by, bxx.v AS bx,
        |  list_aggregate(list_transform(generate_series(0, 15), k ->
        |    CASE WHEN (byy.v * 4 + k // 4) * 16 + (bxx.v * 4 + k % 4) + 1
        |           <= strlen(text)
        |         THEN ascii(substr(text,
        |           CAST((byy.v * 4 + k // 4) * 16 + (bxx.v * 4 + k % 4) + 1 AS INT), 1))
        |         ELSE 0 END), 'sum') / 16.0 AS avg_val
        |FROM documents d CROSS JOIN b byy CROSS JOIN b bxx
        |ORDER BY doc_id, by, bx""".stripMargin,
    "mm_audio_rms" ->
      """WITH w AS (
        |  SELECT doc_id, text, strlen(text) AS n,
        |    unnest(range(0, CAST(ceil(strlen(text) / 64.0) AS BIGINT))) AS window_idx
        |  FROM documents)
        |SELECT doc_id, CAST(window_idx AS INT) AS window_idx,
        |  CAST(LEAST(64, n - window_idx * 64) AS INT) AS n_samples,
        |  ROUND(sqrt(
        |    list_reduce(list_prepend(CAST(0 AS BIGINT),
        |      list_transform(
        |        string_split(substr(text, CAST(window_idx * 64 + 1 AS INT), 64), ''),
        |        c -> CAST((ascii(c) - 128) * (ascii(c) - 128) AS BIGINT))),
        |      (a, b) -> a + b)
        |    * 1.0 / LEAST(64, n - window_idx * 64)), 6) AS rms
        |FROM w ORDER BY doc_id, window_idx""".stripMargin,
    "mm_frame_sample" ->
      """WITH f AS (
        |  SELECT doc_id, text, strlen(text) AS n,
        |    unnest(range(0, CAST(ceil(strlen(text) / 32.0) AS BIGINT), 4)) AS frame_idx
        |  FROM documents)
        |SELECT doc_id, CAST(frame_idx AS INT) AS frame_idx,
        |  CAST(LEAST(32, n - frame_idx * 32) AS INT) AS frame_len,
        |  list_reduce(
        |    list_prepend(CAST(0 AS BIGINT),
        |      list_transform(string_split(substr(text, frame_idx * 32 + 1, 32), ''),
        |        c -> CAST(ascii(c) AS BIGINT))),
        |    (acc, c) -> (acc * 131 + c) % 1000000007) AS frame_hash
        |FROM f ORDER BY doc_id, frame_idx""".stripMargin,
    "mm_scene_cuts" ->
      s"""WITH ch AS (
         |  SELECT doc_id, i // 32 AS f,
         |    ascii(substr(text, CAST(i + 1 AS BIGINT), 1)) // 16 AS b
         |  FROM (SELECT doc_id, text, unnest(range(strlen(text))) AS i
         |        FROM documents)),
         |hist AS (
         |  SELECT doc_id, f, b, CAST(COUNT(*) AS BIGINT) AS c
         |  FROM ch GROUP BY 1, 2, 3),
         |frames AS (SELECT DISTINCT doc_id, f FROM ch),
         |grid AS (
         |  SELECT frames.doc_id, frames.f, bb.b
         |  FROM frames CROSS JOIN (SELECT unnest(range(16)) AS b) bb),
         |hfull AS (
         |  SELECT g.doc_id, g.f, g.b, COALESCE(h.c, 0) AS c
         |  FROM grid g LEFT JOIN hist h
         |    ON g.doc_id = h.doc_id AND g.f = h.f AND g.b = h.b),
         |dd AS (
         |  SELECT doc_id, f, CAST(SUM(ABS(c - prev)) AS BIGINT) AS dist
         |  FROM (
         |    SELECT doc_id, b, f, c,
         |      lag(c) OVER (PARTITION BY doc_id, b ORDER BY f) AS prev
         |    FROM hfull)
         |  WHERE prev IS NOT NULL GROUP BY 1, 2),
         |fc AS (
         |  SELECT doc_id, CAST(COUNT(*) AS INT) AS n_frames
         |  FROM frames GROUP BY 1),
         |agg AS (
         |  SELECT doc_id,
         |    CAST(SUM(CASE WHEN dist > $SceneCutThresh THEN 1 ELSE 0 END)
         |      AS INT) AS n_cuts,
         |    CAST(MAX(dist) AS BIGINT) AS max_dist
         |  FROM dd GROUP BY 1)
         |SELECT fc.doc_id, fc.n_frames,
         |  COALESCE(agg.n_cuts, 0) AS n_cuts,
         |  CAST(COALESCE(agg.n_cuts, 0) + 1 AS INT) AS n_scenes,
         |  COALESCE(agg.max_dist, 0) AS max_dist
         |FROM fc LEFT JOIN agg ON fc.doc_id = agg.doc_id
         |ORDER BY fc.doc_id""".stripMargin,
    "mm_phash_dedup" ->
      s"""WITH ch AS (
         |  SELECT doc_id, (i * 64) // n AS s,
         |    CAST(ascii(substr(text, CAST(i + 1 AS BIGINT), 1)) AS BIGINT)
         |      AS v, n
         |  FROM (SELECT doc_id, text, strlen(text) AS n,
         |          unnest(range(strlen(text))) AS i
         |        FROM documents)),
         |tot AS (SELECT doc_id, CAST(SUM(v) AS BIGINT) AS tsum,
         |    CAST(COUNT(*) AS BIGINT) AS n
         |  FROM ch GROUP BY 1),
         |seg AS (SELECT doc_id, s, CAST(SUM(v) AS BIGINT) AS ssum,
         |    CAST(COUNT(*) AS BIGINT) AS scnt
         |  FROM ch GROUP BY 1, 2),
         |phx AS (
         |  SELECT seg.doc_id,
         |    CAST(SUM(CASE
         |      WHEN seg.ssum * tot.n <= tot.tsum * seg.scnt THEN 0
         |      -- DuckDB rejects the signed-overflow shift 1 << 63; the
         |      -- sign bit's two's-complement value is spelled out instead
         |      WHEN seg.s = 63 THEN CAST(-9223372036854775807 AS BIGINT) - 1
         |      ELSE (CAST(1 AS BIGINT) << seg.s) END) AS BIGINT)
         |      AS phash
         |  FROM seg JOIN tot ON seg.doc_id = tot.doc_id
         |  GROUP BY 1),
         |ph AS (
         |  SELECT d.doc_id, COALESCE(phx.phash, 0) AS phash
         |  FROM documents d LEFT JOIN phx ON d.doc_id = phx.doc_id),
         |bands AS (
         |  SELECT doc_id, phash, t,
         |    (phash >> (t * $PhashBandBits)) & 65535 AS bv
         |  FROM ph, (VALUES (0), (1), (2), (3)) bt(t))
         |SELECT doc_a, doc_b, n_bands,
         |  bit_count(xor(ha, hb)) AS hamming
         |FROM (
         |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
         |    CAST(COUNT(*) AS BIGINT) AS n_bands,
         |    MIN(a.phash) AS ha, MIN(b.phash) AS hb
         |  FROM bands a JOIN bands b
         |    ON a.t = b.t AND a.bv = b.bv AND a.doc_id < b.doc_id
         |  GROUP BY 1, 2)
         |WHERE bit_count(xor(ha, hb)) <= $PhashHamMax
         |ORDER BY doc_a, doc_b""".stripMargin,
    "mm_interleaved_pack" ->
      s"""WITH t AS (
         |  SELECT doc_id, len(${TextOps.tokensSql("text")}) AS text_tok,
         |    CASE doc_id % 3 WHEN 0 THEN 'png' WHEN 1 THEN 'jpeg'
         |         ELSE 'wav' END AS media_format,
         |    strlen(text) AS n_bytes
         |  FROM documents),
         |c AS (
         |  SELECT doc_id, text_tok,
         |    CASE WHEN media_format = 'wav'
         |      THEN LEAST(32, (n_bytes + 511) // 512)
         |      ELSE LEAST(64, (n_bytes + 255) // 256) END AS media_tok,
         |    doc_id % 8 AS bucket
         |  FROM t),
         |x AS (
         |  SELECT doc_id, text_tok, media_tok, bucket,
         |    text_tok + media_tok + 1 AS cost
         |  FROM c),
         |y AS (
         |  SELECT *, SUM(cost) OVER (PARTITION BY bucket ORDER BY doc_id)
         |    AS cum
         |  FROM x)
         |SELECT bucket, CAST((cum - cost) // 1024 AS BIGINT) AS seq,
         |  COUNT(*) AS n_docs,
         |  CAST(SUM(text_tok) AS BIGINT) AS text_tokens,
         |  CAST(SUM(media_tok) AS BIGINT) AS media_tokens,
         |  CAST(SUM(cost) AS BIGINT) AS total_tokens,
         |  MIN(doc_id) AS first_doc, MAX(doc_id) AS last_doc
         |FROM y GROUP BY 1, 2 ORDER BY bucket, seq""".stripMargin,
  )
}
