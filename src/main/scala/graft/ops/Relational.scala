package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import Ranking.{topK, topKSql}

/** Relational core: scans, predicates, projections, sorts/limits, dedup,
  * set ops, joins. Covers SURVEY.md §2.1 S1-S4/S7, §2.2 P1-P10, §2.3 J1-J4,
  * §2.6 O1-O5, §2.7 D1-D5.
  *
  * Scale notes (100 TB design stance):
  *  - Every filter/projection here is a Catalyst-pushable expression — at
  *    scale these become parquet row-group skips + column pruning for free.
  *  - `orderBy(...).limit(n)` plans as TakeOrderedAndProject: per-partition
  *    top-n then a single driver merge of n*numPartitions rows — no global
  *    sort, no full shuffle.
  *  - Dimension-side joins (region/nation/supplier/part) are broadcast
  *    explicitly; only fact-fact joins (lineitem⋈orders) shuffle, on their
  *    join key, which AQE can further coalesce/skew-split.
  *  - Keyed dedup is expressed as a deterministic window (keep first by
  *    sort key) rather than `dropDuplicates`, whose survivor is
  *    partition-order dependent — same shuffle cost, reproducible output.
  */
object Relational {
  import Tables._

  type Q = (SparkSession, String) => DataFrame

  val queries: Map[String, Q] = Map(
    // S1 (data_preparation.py:35-41): newest-N scan — sort desc + limit.
    // TakeOrderedAndProject; event_id desc as deterministic tie-break.
    "s1_latest_events" -> ((s, d) => {
      events(s, d)
        .select("event_id", "ts", "user_id", "event_type", "value")
        .orderBy(desc("ts"), desc("event_id"))
        .limit(1000)
    }),

    // S2 (topic_modeling.py:122): projection-pruned scan.
    "s2_projected_scan" -> ((s, d) => {
      documents(s, d).select("doc_id", "lang", "n_chars").orderBy("doc_id")
    }),

    // S3/P6 (ArticlesSpider.py:26-34): regex-filtered scan + sort + limit.
    "s3_regex_scan" -> ((s, d) => {
      import s.implicits._
      documents(s, d)
        .filter($"text".rlike("\\bspark\\b") && $"lang".rlike("^(en|de)$"))
        .select("doc_id", "lang", "n_chars")
        .orderBy(desc("n_chars"), desc("doc_id"))
        .limit(200)
    }),

    // S7/S10: CSV sink + source round-trip (stats_visualization.py:157-162,
    // topic_modeling.py:243-248). Writes under target/ then reads back.
    // URL/domain blocklist filtering (crawl-pipeline op): a deterministic
    // URL is synthesized per doc (the corpus stores none), the host is
    // parsed out with parse_url — the real operator under test — and
    // blocklisted domains are dropped with a broadcast anti-join (the
    // blocklist is KBs even in production; never shuffle the corpus for
    // it). The oracle derives the domain arithmetically, so the check
    // verifies parse_url's extraction end-to-end.
    "url_domain_filter" -> ((s, d) => {
      import s.implicits._
      val domains = Seq("news.example.com", "blog.example.org",
        "wiki.example.net", "spam.junk.net", "forum.example.io",
        "ads.tracker.io", "docs.example.dev")
      val block = Seq("spam.junk.net", "ads.tracker.io").toDF("domain")
      val urls = documents(s, d).select($"doc_id",
        concat(lit("https://"),
          element_at(array(domains.map(lit): _*), ($"doc_id" % 7 + 1).cast("int")),
          lit("/a/"), $"doc_id".cast("string")).as("url"))
      urls.withColumn("domain", parse_url($"url", lit("HOST")))
        .join(broadcast(block), Seq("domain"), "left_anti")
        .groupBy($"domain").agg(count(lit(1)).as("n_docs"))
        .orderBy("domain")
    }),

    // JSONL roundtrip — the interchange format of LLM data pipelines
    // (one JSON object per line). Write the corpus as JSONL, read it back
    // with an explicit schema (never infer on a 100 TB read: schema
    // inference is a full extra pass), and prove text fidelity through
    // JSON escaping with md5(text). Line-delimited JSON splits by
    // newline, so reads parallelize like CSV.
    "s_jsonl_roundtrip" -> ((s, d) => {
      import s.implicits._
      val out = artifactDir("s_jsonl_roundtrip", d)
      documents(s, d).select($"doc_id", $"text", $"lang", $"source")
        .write.mode("overwrite").json(out)
      s.read.schema("doc_id LONG, text STRING, lang STRING, source STRING")
        .json(out)
        .select($"doc_id", md5($"text").as("text_md5"), $"lang", $"source")
        .orderBy($"doc_id")
    }),

    // ORC source/sink roundtrip — the other columnar format a lakehouse
    // speaks (Spark's built-in orc datasource: same pushdown/pruning
    // machinery as parquet, ZLIB stripes). Content fidelity checked the
    // s_jsonl way: md5 of the text column survives the format hop.
    "s_orc_roundtrip" -> ((s, d) => {
      import s.implicits._
      val out = artifactDir("s_orc_roundtrip", d)
      documents(s, d).select($"doc_id", $"text", $"lang", $"source", $"n_chars")
        .write.mode("overwrite").orc(out)
      s.read.orc(out)
        .filter($"n_chars" > 200)
        .select($"doc_id", md5($"text").as("text_md5"), $"lang", $"source")
        .orderBy($"doc_id")
    }),

    // Training-shard writer: the sink shape of a pretraining-data dump —
    // deterministic shard assignment (doc_id % 16, stable across reruns,
    // unlike a range partitioner's sampled boundaries). repartition(16,
    // shard) gives the hash partitioner enough buckets that distinct
    // shards don't share a task (the default task count can be < 16);
    // sorting by (shard, doc_id) satisfies the dynamic-partition
    // writer's required ordering, so it adds no sort of its own and the
    // within-shard doc_id order survives to the file. One file per
    // shard directory (the small-files control s9b documents);
    // RelationalSpec asserts the layout. Hash collisions can still
    // co-locate two shards in one task — the partitionBy split and the
    // (shard, doc_id) sort keep the per-directory layout correct even
    // then.
    "sink_training_shards" -> ((s, d) => {
      import s.implicits._
      val out = artifactDir("training_shards", d)
      documents(s, d)
        .withColumn("shard", pmod($"doc_id", lit(16)))
        .repartition(16, $"shard")
        .sortWithinPartitions($"shard", $"doc_id")
        .write.mode("overwrite").partitionBy("shard").parquet(out)
      s.read.parquet(out)
        // partition-dir values read back as INT; normalize to the
        // written LONG so the schema survives the roundtrip
        .groupBy($"shard".cast("long").as("shard"))
        .agg(count(lit(1)).as("n_docs"),
          min($"doc_id").as("first_doc"), max($"doc_id").as("last_doc"),
          sum($"n_chars").as("chars"))
        .orderBy($"shard")
    }),

    // Deterministic per-epoch training-order reshuffle: LLM training
    // wants a DIFFERENT document order each epoch that is nonetheless
    // reproducible across reruns and resumable mid-epoch — rand() gives
    // neither. Order = rank of the portable hash of (epoch, doc_id)
    // within the epoch, so epoch 0 and epoch 1 are two fixed,
    // uncorrelated permutations (spec checks they differ and that each
    // is a true permutation). The raw polynomial hash of short
    // sequential id strings never wraps the modulus, so it is MONOTONE
    // in the id (measured: the "shuffle" was the identity) — a Fibonacci
    // multiplicative mix (Knuth's 2654435761) after the poly hash
    // restores equidistribution, in exact integer algebra both engines
    // share. At 100 TB the global row_number is not materialized: the
    // mixed key doubles as the shard assignment (hk mod S →
    // sink_training_shards' writer) and readers sort within shard —
    // same keys, no global exchange; the full permutation here is the
    // oracle-checkable small-scale witness of those keys.
    "sink_epoch_shuffle" -> ((s, d) => {
      import s.implicits._
      val Epochs = 2
      val w = Window.partitionBy($"epoch").orderBy($"hk", $"doc_id")
      documents(s, d).select($"doc_id")
        .select($"doc_id",
          explode(sequence(lit(0), lit(Epochs - 1))).as("epoch"))
        .withColumn("hk", (graft.functions.PolyHash.poly_hash(
          concat($"epoch", lit("#"), $"doc_id")) * 2654435761L) % 1000000007L)
        .withColumn("position", row_number().over(w))
        .select($"epoch", $"position", $"doc_id")
        .orderBy("epoch", "position")
    }),

    "s7_csv_roundtrip" -> ((s, d) => {
      import s.implicits._
      val out = artifactDir("s7_csv_roundtrip", d)
      region(s, d).write.mode("overwrite").option("header", "true").csv(out)
      s.read.option("header", "true")
        .schema("r_regionkey INT, r_name STRING")
        .csv(out)
        .orderBy($"r_regionkey")
    }),

    // P3+P4+P5+P10 (pipelines.py:5-16, data_preparation.py:138-140): the
    // data-quality gate — null/sentinel/min-length filters + substring
    // predicate, all pushable.
    "p_quality_gate" -> ((s, d) => {
      import s.implicits._
      documents(s, d)
        .filter($"text".isNotNull && $"lang".isNotNull &&
          $"text" =!= "N/A" && $"n_chars" > 100 &&
          $"text".contains("spark"))
        .select("doc_id", "lang", "source", "n_chars")
        .orderBy("doc_id")
    }),

    // P7 (stats_visualization.py:221-222): sliding 48h lookback anchored at
    // max(ts) — no wall clock (harness determinism). The 1-row aggregate is
    // broadcast; at scale this is a parquet-footer-only min/max job.
    "p7_lookback_48h" -> ((s, d) => {
      import s.implicits._
      val ev = events(s, d)
      val mx = ev.agg(max($"ts").as("max_ts"))
      ev.join(broadcast(mx))
        .filter($"ts" >= $"max_ts" - expr("INTERVAL 48 HOURS"))
        .groupBy($"event_type")
        .agg(count("*").as("n"), round(sum($"value"), 4).as("sum_value"))
        .orderBy($"event_type")
    }),

    // O2 (stats_visualization.py:246-247): global top-k by score.
    "o2_top_docs" -> ((s, d) => {
      documents(s, d)
        .select("doc_id", "source", "n_chars")
        .orderBy(desc("n_chars"), asc("doc_id"))
        .limit(15)
    }),

    // O3/D4 (stats_visualization.py:422): distinct + sort asc.
    "d4_distinct_langs" -> ((s, d) => {
      documents(s, d).select("lang").distinct().orderBy("lang")
    }),

    // D1 (bbc_news_dag.py:26-48): keyed dedup keeping FIRST row per key by
    // an explicit order — deterministic version of dropDuplicates("url").
    // One shuffle on the key; survivor choice is reproducible.
    "d1_dedup_first_per_user" -> ((s, d) => {
      import s.implicits._
      topK(events(s, d).select($"user_id", $"event_id", $"ts", $"event_type"),
          Seq($"user_id"), Seq($"ts".asc, $"event_id".asc), 1, None)
        .orderBy("user_id")
    }),

    // D2/J4 (pipelines.py:33-44): insert-time dedup = left_anti against the
    // sink's existing keys. Modeled: "new batch" = last day of events,
    // "existing" = users seen before that day.
    "d2_antijoin_new_keys" -> ((s, d) => {
      import s.implicits._
      val ev = events(s, d)
      val mx = ev.agg(date_trunc("DAY", max($"ts")).as("cut"))
      val withCut = ev.join(broadcast(mx))
      val keyed = withCut.withColumn("k", get_json_object($"props", "$.k").cast("int"))
      val batch = keyed.filter($"ts" >= $"cut")
      val existing = keyed.filter($"ts" < $"cut")
        .select($"user_id", $"k").distinct()
      batch.join(existing, Seq("user_id", "k"), "left_anti")
        .select("event_id", "user_id", "k")
        .orderBy("event_id")
    }),

    // Set ops (SURVEY §2.7): INTERSECT / EXCEPT / UNION on key sets.
    "set_intersect_users" -> ((s, d) => {
      import s.implicits._
      val ev = events(s, d)
      val clickers = ev.filter($"event_type" === "click").select($"user_id")
      val buyers = ev.filter($"event_type" === "purchase").select($"user_id")
      clickers.intersect(buyers).orderBy("user_id")
    }),
    "set_except_users" -> ((s, d) => {
      import s.implicits._
      val ev = events(s, d)
      val viewers = ev.filter($"event_type" === "view")
        .groupBy($"user_id").agg(count("*").as("c")).filter($"c" >= 15)
        .select($"user_id")
      val buyers = ev.filter($"event_type" === "purchase")
        .groupBy($"user_id").agg(count("*").as("c")).filter($"c" >= 15)
        .select($"user_id")
      viewers.except(buyers).orderBy("user_id")
    }),
    "set_union_sources" -> ((s, d) => {
      import s.implicits._
      val docs = documents(s, d)
      val a = docs.filter($"lang" === "en").select($"source")
      val b = docs.filter($"lang" === "zh").select($"source")
      a.union(b).distinct().orderBy("source")
    }),

    // J1 (topic_modeling.py:260-267): broadcast lookup join articles→dim;
    // here fact lineitem → part dim, left outer + default fill.
    "j1_broadcast_lookup" -> ((s, d) => {
      import s.implicits._
      lineitem(s, d)
        .join(broadcast(part(s, d)), $"l_partkey" === $"p_partkey", "left")
        .groupBy($"p_brand")
        .agg(count("*").as("n"), round(sum($"l_quantity"), 2).as("qty"))
        .na.fill("(none)", Seq("p_brand"))
        .orderBy("p_brand")
    }),

    // J2/D3 (middlewares.py:16-20): anti-membership — customers never seen
    // in orders.
    "j2_customers_without_orders" -> ((s, d) => {
      import s.implicits._
      val recent = orders(s, d).filter($"o_orderdate" >= lit("2000-01-01").cast("timestamp"))
      customer(s, d)
        .join(recent, $"c_custkey" === $"o_custkey", "left_anti")
        .select("c_custkey", "c_name", "c_mktsegment")
        .orderBy("c_custkey")
    }),

    // left_semi: orders that contain at least one big-quantity line.
    "j_semi_big_orders" -> ((s, d) => {
      import s.implicits._
      val bigLines = lineitem(s, d).filter($"l_quantity" >= 49.0)
      orders(s, d)
        .join(bigLines, $"o_orderkey" === $"l_orderkey", "left_semi")
        .select("o_orderkey", "o_orderstatus", "o_totalprice")
        .orderBy("o_orderkey")
    }),

    // J3 (stats_visualization.py:378-381): densify counts against the full
    // key domain — dim LEFT JOIN counts, fill 0 (right-outer shape).
    "j3_densified_nation_counts" -> ((s, d) => {
      import s.implicits._
      val counts = customer(s, d).groupBy($"c_nationkey").agg(count("*").as("n_customers"))
      nation(s, d)
        .join(counts, $"n_nationkey" === $"c_nationkey", "left")
        .na.fill(0, Seq("n_customers"))
        .select("n_nationkey", "n_name", "n_customers")
        .orderBy("n_nationkey")
    }),

    // Star join (SURVEY §2.3 note): lineitem⋈orders shuffles on orderkey;
    // customer/nation/region dims broadcast. Decimal math keeps the sum
    // exact so the DuckDB hash-compare is reproducible (SURVEY §7.4).
    "j_star_revenue_by_region" -> ((s, d) => {
      import s.implicits._
      val li = lineitem(s, d).select(
        $"l_orderkey",
        ($"l_extendedprice".cast("decimal(12,2)") *
          (lit(1).cast("decimal(12,2)") - $"l_discount".cast("decimal(4,2)")))
          .as("rev"))
      val ord = orders(s, d).select("o_orderkey", "o_custkey")
      val cust = customer(s, d).select("c_custkey", "c_nationkey")
      val nat = nation(s, d).select("n_nationkey", "n_name", "n_regionkey")
      val reg = region(s, d).select("r_regionkey", "r_name")
      li.join(ord, $"l_orderkey" === $"o_orderkey")
        .join(broadcast(cust), $"o_custkey" === $"c_custkey")
        .join(broadcast(nat), $"c_nationkey" === $"n_nationkey")
        .join(broadcast(reg), $"n_regionkey" === $"r_regionkey")
        .groupBy($"r_name")
        .agg(round(sum($"rev").cast("double"), 2).as("revenue"),
          count("*").as("n_lines"))
        .orderBy("r_name")
    }),

    // S5 (bbc_news_dag.py:51-111): XML feed source shape — parse
    // <url><loc/><lastmod/></url> records into rows, filter, bucket.
    // (The real feed is HTTP; the harness synthesizes the XML column from
    // events, then the PARSING is the operator under test.)
    "s5_xml_source" -> ((s, d) => {
      import s.implicits._
      events(s, d)
        .withColumn("xml", concat(
          lit("<url><loc>https://ex.com/a/"), $"event_id",
          lit("</loc><lastmod>"), date_format($"ts", "yyyy-MM-dd"),
          lit("</lastmod></url>")))
        .select(
          regexp_extract($"xml", "<loc>([^<]+)</loc>", 1).as("loc"),
          regexp_extract($"xml", "<lastmod>([^<]+)</lastmod>", 1).as("lastmod"))
        .filter($"loc".contains("/a/"))
        .groupBy($"lastmod").agg(count("*").as("n_urls"))
        .orderBy("lastmod")
    }),

    // P9 (stats_visualization.py:282,293,312): column-existence guard —
    // schema-dependent plan choice (static in this engine: the branch is
    // resolved at plan time from df.columns).
    "p9_schema_guard" -> ((s, d) => {
      import s.implicits._
      val df = documents(s, d)
      val labelCol =
        if (df.columns.contains("sentiment_label")) col("sentiment_label")
        else lit("unscored")
      df.groupBy(labelCol.as("label")).agg(count("*").as("n")).orderBy("label")
    }),

    // F26 (ArticlesSpider.py:77-105, stats_visualization.py:426-428):
    // array ops on token lists — slice, negative element_at, size,
    // membership.
    "f26_array_ops" -> ((s, d) => {
      import s.implicits._
      documents(s, d)
        .select($"doc_id", TextOps.tokens($"text").as("toks"))
        .select($"doc_id",
          size($"toks").as("n_toks"),
          array_join(slice($"toks", 1, 5), " ").as("first5"),
          element_at($"toks", -1).as("last_tok"),
          array_contains($"toks", "spark").as("has_spark"))
        .orderBy("doc_id")
    }),

    // Partitioned-layout sink + partition-pruned scan: the 100 TB table
    // layout — write day-partitioned, read back with a day predicate that
    // prunes to 2 of 30 partitions (PlanSpec asserts PartitionFilters).
    "s9b_partitioned_pruning" -> ((s, d) => {
      import s.implicits._
      val out = artifactDir("s9b_partitioned", d)
      // Cluster by the partition column before the partitioned write:
      // without this, every shuffle partition writes a file into every
      // day directory (32 × 30 ≈ 960 tiny files — the classic small-files
      // explosion; at 100 TB it would be thousands per day). With it,
      // each day's rows land in one task → one file per partition dir.
      events(s, d)
        .withColumn("day", to_date($"ts"))
        .repartition($"day")
        .write.mode("overwrite").partitionBy("day").parquet(out)
      s.read.parquet(out)
        .filter($"day".isin("2024-01-05", "2024-01-06"))
        .groupBy($"day", $"event_type").agg(count(lit(1)).as("n"))
        .orderBy("day", "event_type")
    }),

    // Small-file compaction (the OPTIMIZE / rewriteDataFiles maintenance
    // pass every partitioned lake table needs): stage 1 deliberately
    // fragments the table (round-robin tasks each write into every day
    // directory — the streaming-ingest fragmentation pattern); stage 2
    // re-clusters by the partition column so each day lands in exactly
    // ONE file. The report joins the re-read row counts with a
    // filesystem listing of the compacted layout (driver-side metadata,
    // S12 family — at 100 TB this is the table-format manifest, not an
    // fs walk). n_files is provably 1 per day by the s9b clustering
    // rule; the before>after fragmentation drop is asserted in the spec.
    "sink_compaction" -> ((s, d) => {
      import s.implicits._
      val smallDir = artifactDir("compact_small", d)
      val bigDir = artifactDir("compact_big", d)
      val ev = events(s, d).withColumn("day", to_date($"ts"))
      ev.repartition(8)
        .write.mode("overwrite").partitionBy("day").parquet(smallDir)
      s.read.parquet(smallDir).repartition($"day")
        .write.mode("overwrite").partitionBy("day").parquet(bigDir)
      val counts = s.read.parquet(bigDir)
        .groupBy($"day").agg(count(lit(1)).as("n_rows"))
      // Hadoop FS listing, not java.io: resolves the same store the
      // writers targeted (local disk here, HDFS/S3A under cluster conf)
      val hfs = org.apache.hadoop.fs.FileSystem.get(
        java.net.URI.create(bigDir), s.sparkContext.hadoopConfiguration)
      val fileCounts = hfs
        .listStatus(new org.apache.hadoop.fs.Path(bigDir)).toSeq
        .filter(st => st.isDirectory && st.getPath.getName.startsWith("day="))
        .map { st =>
          (st.getPath.getName.stripPrefix("day="),
            hfs.listStatus(st.getPath)
              .count(_.getPath.getName.endsWith(".parquet")).toLong)
        }
      counts.join(
          fileCounts.toDF("day_str", "n_files")
            .select(to_date($"day_str").as("day"), $"n_files"),
          "day")
        .orderBy("day")
    }),

    // Z-order clustered layout (the multi-dimensional locality sink —
    // Delta OPTIMIZE ZORDER / Iceberg sort-order territory): interleave
    // the bits of two fixed-domain dims (l_quantity 1..50 → 6 bits,
    // l_discount 0..0.10 → 4 bits of cents), bucket the Morton code,
    // cluster the write by bucket (one file per bucket dir, s9b rule),
    // and profile each bucket's min/max per dim from the re-read. The
    // point the profile proves: a z-bucket bounds BOTH dims at once, so
    // a predicate on either dim prunes most buckets — where a single-
    // column sort would bound one dim and scatter the other. Pure integer
    // bit algebra end to end; the oracle replays it exactly.
    "sink_zorder_layout" -> ((s, d) => {
      import s.implicits._
      val out = artifactDir("zorder_layout", d)
      val x = $"l_quantity".cast("int")                    // 1..50, 6 bits
      val y = round($"l_discount" * 100, 0).cast("int")    // 0..10, 4 bits
      val zbits =
        (0 until 6).map(k => (shiftright($"x", k) % 2) * lit(1 << (2 * k))) ++
          (0 until 4).map(k => (shiftright($"y", k) % 2) * lit(1 << (2 * k + 1)))
      lineitem(s, d)
        .select($"l_orderkey", $"l_linenumber", x.as("x"), y.as("y"))
        .withColumn("z", zbits.reduce(_ + _))
        .withColumn("zbucket", expr("z div 64"))
        .repartition($"zbucket")
        .write.mode("overwrite").partitionBy("zbucket").parquet(out)
      s.read.parquet(out)
        .groupBy($"zbucket")
        .agg(count(lit(1)).as("n"),
          min($"x").as("min_q"), max($"x").as("max_q"),
          min($"y").as("min_d"), max($"y").as("max_d"))
        .orderBy("zbucket")
    }),

    // S9 (data_preparation.py:53-55): overwrite-refresh sink + re-scan —
    // the delete_many+insert_many full-refresh shape as parquet overwrite.
    "s9_parquet_roundtrip" -> ((s, d) => {
      import s.implicits._
      val out = artifactDir("s9_parquet_roundtrip", d)
      nation(s, d).write.mode("overwrite").parquet(out)
      s.read.parquet(out).orderBy("n_nationkey")
    }),

    // D5 (data_preparation.py:80-83, stats_visualization.py:14-21): union
    // of stopword sources — per-source and union hit counts over the
    // corpus token stream.
    "d5_stopword_union" -> ((s, d) => {
      import s.implicits._
      val custom = Seq("spark", "data", "query") // the "domain list" source
      val cCol = array(custom.map(lit): _*)
      documents(s, d)
        .select(explode(TextOps.tokens($"text")).as("w"))
        .agg(count("*").as("n_tokens"),
          sum(when(TextOps.isStopword($"w"), 1).otherwise(0)).as("n_base"),
          sum(when(array_contains(cCol, $"w"), 1).otherwise(0)).as("n_custom"),
          sum(when(TextOps.isStopword($"w") || array_contains(cCol, $"w"), 1)
            .otherwise(0)).as("n_union"))
    }),

    // J4 (pipelines.py:30-44 / Delta MERGE shape): upsert via full outer
    // join — "existing" per-user profile (first 20 days) merged with a
    // "batch" of updates (remaining days): matched rows update counters,
    // unmatched insert.
    "j4_merge_upsert" -> ((s, d) => {
      import s.implicits._
      val ev = events(s, d)
      val cut = lit("2024-01-21 00:00:00").cast("timestamp")
      val existing = ev.filter($"ts" < cut)
        .groupBy($"user_id").agg(count("*").as("n"), round(sum($"value"), 4).as("v"))
      val batch = ev.filter($"ts" >= cut)
        .groupBy($"user_id").agg(count("*").as("n"), round(sum($"value"), 4).as("v"))
      existing.toDF("user_id", "n_old", "v_old")
        .join(batch.toDF("user_id", "n_new", "v_new"), Seq("user_id"), "full_outer")
        .select($"user_id",
          (coalesce($"n_old", lit(0L)) + coalesce($"n_new", lit(0L))).as("n_total"),
          round(coalesce($"v_old", lit(0.0)) + coalesce($"v_new", lit(0.0)), 4).as("v_total"),
          when($"n_old".isNull, "inserted")
            .when($"n_new".isNull, "unchanged")
            .otherwise("updated").as("merge_action"))
        .orderBy("user_id")
    }),

    // Incremental JOIN-view maintenance — the delta-join identity behind
    // every materialized join at 100 TB: for V = O ⋈ L, the refresh is
    // ΔV = ΔO⋈L_old ∪ O_old⋈ΔL ∪ ΔO⋈ΔL, so a batch refresh joins each
    // delta against the OTHER side's standing state and the deltas
    // against each other. The `state` leg below RECOMPUTES old×old so the
    // self-contained query can be oracle-checked against the full join —
    // in a real incremental system that leg is the STORED view's
    // partials, read not recomputed, and only the three delta legs run
    // (each broadcast or shuffle bounded by |Δ| ⇒ refresh cost ∝ batch).
    // The batch here is realistic and makes all three delta legs fire:
    // new orders arrive (o_orderkey % 10 = 7) AND late lineitems arrive
    // for existing orders (l_linenumber ≥ 5). Per-leg revenue partials
    // are exact DECIMAL sums merged per priority, provably equal to the
    // full-recompute oracle (the spec also asserts it against the direct
    // join).
    "join_incremental_merge" -> ((s, d) => {
      import s.implicits._
      val o = orders(s, d).select($"o_orderkey", $"o_orderpriority",
        ($"o_orderkey" % 10 === 7).as("o_new"))
      val l = lineitem(s, d).select($"l_orderkey",
        ($"l_extendedprice".cast("decimal(12,2)") *
          (lit(1).cast("decimal(12,2)") - $"l_discount".cast("decimal(4,2)")))
          .as("rev"),
        ($"l_linenumber" >= 5).as("l_new"))
      def leg(of: org.apache.spark.sql.Column, lf: org.apache.spark.sql.Column,
          name: String): DataFrame =
        o.filter(of).join(l.filter(lf), $"o_orderkey" === $"l_orderkey")
          .groupBy($"o_orderpriority")
          .agg(count(lit(1)).as("n"), sum($"rev").as("rev"))
          .withColumn("leg", lit(name))
      val state    = leg(!$"o_new", !$"l_new", "state")
      val dOxOldL  = leg($"o_new", !$"l_new", "new_orders")
      val oldOxDL  = leg(!$"o_new", $"l_new", "late_lines")
      val dOxDL    = leg($"o_new", $"l_new", "new_both")
      state.unionByName(dOxOldL).unionByName(oldOxDL).unionByName(dOxDL)
        .groupBy($"o_orderpriority")
        .agg(sum($"n").as("n_lines"),
          sum(when($"leg" =!= "state", $"n").otherwise(0L)).as("n_delta"),
          round(sum($"rev").cast("double"), 2).as("revenue"))
        .orderBy("o_orderpriority")
    }),

    // Cross join (tiny×tiny only — completes the join-type surface).
    "x_cross_join_regions" -> ((s, d) => {
      import s.implicits._
      val r1 = region(s, d).select($"r_name".as("a"))
      val r2 = region(s, d).select($"r_name".as("b"))
      r1.crossJoin(r2)
        .select(concat($"a", lit("-"), $"b").as("pair"))
        .orderBy("pair")
    }),

    // Schema evolution: unionByName with allowMissingColumns — an old
    // 3-column extract unioned with the current 4-column shape; missing
    // columns null-fill (the pipeline-upgrade scenario).
    "schema_evolution_union" -> ((s, d) => {
      import s.implicits._
      val ev = events(s, d)
      val old = ev.filter($"event_id" % 2 === 0)
        .select($"event_id", $"user_id", $"event_type")
      val neu = ev.filter($"event_id" % 2 === 1)
        .select($"event_id", $"user_id", $"event_type", $"value")
      old.unionByName(neu, allowMissingColumns = true)
        .groupBy($"event_type")
        .agg(count(lit(1)).as("n"),
          count($"value").as("n_with_value"),
          round(sum($"value"), 4).as("sum_value"))
        .orderBy("event_type")
    }),

    // F21 (ArticlesSpider.py:47-83): first-non-null fallback chain —
    // coalesce over candidate extractions (missing json field -> k -> -1).
    "f21_coalesce_fallback" -> ((s, d) => {
      import s.implicits._
      events(s, d)
        .withColumn("v", coalesce(
          get_json_object($"props", "$.missing").cast("long"),
          get_json_object($"props", "$.k").cast("long"),
          lit(-1L)))
        .groupBy($"v").agg(count("*").as("n"))
        .orderBy("v")
    }),

    // F23 (topic_modeling.py:262): dict/map-literal lookup with default —
    // element_at(map, key) + fallback.
    "f23_map_lookup" -> ((s, d) => {
      import s.implicits._
      val m = typedLit(Map(
        "click" -> "engagement", "view" -> "engagement",
        "purchase" -> "conversion", "signup" -> "conversion"))
      events(s, d)
        .withColumn("category", coalesce(element_at(m, $"event_type"), lit("other")))
        .groupBy($"category").agg(count("*").as("n"))
        .orderBy("category")
    }),

    // Custom typed Aggregator: bounded-state top-k (k·P rows cross the
    // shuffle; composable mid-pipeline, unlike terminal orderBy+limit).
    "o2_topk_aggregator" -> ((s, d) => {
      import s.implicits._
      val topk = new graft.functions.TopK(15).toColumn
      documents(s, d)
        .select($"doc_id", $"n_chars")
        .as[(Long, Long)]
        .select(topk)
        .toDF("tk")
        .select(posexplode($"tk"))
        .select(($"pos" + 1).as("rank"),
          $"col._1".as("doc_id"), $"col._2".as("n_chars"))
        .orderBy("rank")
    }),

    // Per-GROUP bounded-state top-k (O4's scale path): the window form
    // (row_number over partitionBy + filter rank<=k) sorts every group in
    // full — per-group sort state ∝ group size, which spills on skewed
    // groups at 100 TB. The TopK Aggregator instead keeps at most ~4k
    // rows per partial buffer, partial-aggregates map-side, and ships
    // k-row buffers across the shuffle. Same (score desc, key asc) order
    // as the window form, so the oracle is the ordinary window SQL.
    "o4_topk_aggregator_per_group" -> ((s, d) => {
      import s.implicits._
      val topk = new graft.functions.TopK(3).toColumn
      documents(s, d)
        .select($"source", $"doc_id", $"n_chars")
        .as[(String, Long, Long)]
        .groupByKey(_._1)
        .mapValues(v => (v._2, v._3))
        .agg(topk)
        .toDF("source", "tk")
        .select($"source", posexplode($"tk"))
        .select($"source", ($"pos" + 1).as("rank"),
          $"col._1".as("doc_id"), $"col._2".as("n_chars"))
        .orderBy("source", "rank")
    }),

    // O4 as a WHOLE-OPERATOR physical plan (graft.plans.GroupTopK): the
    // custom LogicalPlan → SparkStrategy → partial/final SparkPlan pair.
    // Unlike the window form there is no per-group sort and no rank
    // column: each task keeps one k-row heap per group, the partial exec
    // prunes BEFORE the exchange (shuffle volume ∝ answer, not input),
    // and the final exec demands ClusteredDistribution(source, lang) so
    // EnsureRequirements/AQE place and size the one shuffle. Ordering
    // (n_chars desc, doc_id asc) is total per group → deterministic and
    // oracle-checkable against the ordinary row_number SQL.
    "o4_group_topk_exec" -> ((s, d) => {
      import s.implicits._
      val docs = documents(s, d).select($"source", $"lang", $"doc_id", $"n_chars")
      graft.plans.GroupTopK
        .topK(docs, Seq("source", "lang"), Seq(("n_chars", true), ("doc_id", false)), 2)
        .orderBy("source", "lang", "doc_id")
    }),

    // Left outer join + per-key aggregate: order line counts incl. empty.
    "j_left_order_line_counts" -> ((s, d) => {
      import s.implicits._
      orders(s, d)
        .join(lineitem(s, d), $"o_orderkey" === $"l_orderkey", "left")
        .groupBy($"o_orderkey")
        .agg(count($"l_linenumber").as("n_lines"))
        .orderBy("o_orderkey")
    }),

    // Numeric band join via BUCKET BLOCKING — the non-equi → equi
    // rewrite. "pairs of same-brand parts within ±2.0 retail price" is a
    // range predicate; Spark's native plan for it is BroadcastNestedLoop
    // (O(N·M), the classic range-join scale killer). Instead: quantize
    // price into band-width buckets, explode the probe side to its own
    // bucket ±1 (any pair within ±2.0 differs by at most one bucket),
    // hash-join on (brand, bucket), and apply the exact |Δ| ≤ 2.0 filter
    // on the collisions only. Cost is one 3×-inflated shuffle join —
    // linear in rows per bucket, not quadratic in the table; the same
    // blocking the as-of join and the LSH dedups use. Each qualifying
    // pair survives exactly once: the probe-side explode contains the
    // build side's single bucket at most once, and k1 < k2 keeps one
    // orientation.
    "j_range_bucketed" -> ((s, d) => {
      import s.implicits._
      val p = part(s, d).select($"p_partkey", $"p_brand", $"p_retailprice",
        floor($"p_retailprice" / 2.0d).cast("long").as("bkt"))
      val probe = p.select($"p_brand", $"p_partkey".as("k1"),
          $"p_retailprice".as("v1"),
          explode(array($"bkt" - 1, $"bkt", $"bkt" + 1)).as("bkt"))
      val build = p.select($"p_brand", $"p_partkey".as("k2"),
        $"p_retailprice".as("v2"), $"bkt")
      probe.join(build, Seq("p_brand", "bkt"))
        .filter($"k1" < $"k2" && abs($"v1" - $"v2") <= 2.0d)
        .groupBy($"p_brand")
        .agg(count(lit(1)).as("n_pairs"),
          round(min(abs($"v1" - $"v2")), 6).as("min_gap"),
          round(max(abs($"v1" - $"v2")), 6).as("max_gap"))
        .orderBy("p_brand")
    }),

    // Salted skew join as a first-class query: event_type has 5 values —
    // a plain join on it lands each key's millions of rows on ONE reducer
    // at scale. Skew.saltedJoin scatters each hot key across 8 salts and
    // replicates the (tiny) dim side per salt; the result set is
    // provably identical (oracle = the plain join), only the shuffle
    // layout changes. AQE's skew split covers sort-merge joins
    // adaptively; explicit salting stays the tool for aggregate-heavy
    // shapes and pre-AQE plans — SkewAndBucketingSpec holds the
    // equivalence property, this entry keeps the op differentially
    // tested end to end.
    "j_salted_skew_join" -> ((s, d) => {
      import s.implicits._
      val dim = Seq(
        ("click", "engagement"), ("view", "engagement"),
        ("purchase", "conversion"), ("signup", "conversion"),
        ("error", "ops")).toDF("event_type", "category")
      Skew.saltedJoin(events(s, d).select($"event_id", $"event_type"),
          dim, "event_type", 8)
        .groupBy($"category").agg(count(lit(1)).as("n"))
        .orderBy("category")
    }),

    // Snapshot diff (change-data-capture between corpus versions): v1 =
    // yesterday's corpus (some docs absent, some rows stale), v2 = today's.
    // One full-outer join on the stable key + md5 content compare →
    // added / removed / changed / unchanged. At 100 TB this is the
    // incremental-refresh primitive: both sides shuffle once on doc_id
    // (or co-partitioned by the table layout → zero shuffle), and the
    // md5 compare is map-side. Versions are carved deterministically
    // from the fixture corpus so the op is provably non-vacuous: every
    // status bucket is populated.
    "snapshot_diff" -> ((s, d) => {
      import s.implicits._
      val docs = documents(s, d).select($"doc_id", $"text", $"source")
      val v1 = docs.filter($"doc_id" % 7 =!= 3)            // %7==3 → added in v2
        .select($"doc_id",
          when($"doc_id" % 5 === 0, upper(substring($"text", 1, 40)))
            .otherwise($"text").as("text"))                // %5==0 → stale in v1
      val v2 = docs.filter($"doc_id" % 9 =!= 4)            // %9==4 → removed in v2
        .select($"doc_id", $"text")
      v1.select($"doc_id".as("k1"), md5($"text").as("h1"))
        .join(v2.select($"doc_id".as("k2"), md5($"text").as("h2")),
          $"k1" === $"k2", "full_outer")
        .withColumn("status",
          when($"k1".isNull, "added")
            .when($"k2".isNull, "removed")
            .when($"h1" =!= $"h2", "changed")
            .otherwise("unchanged"))
        .groupBy($"status").agg(count(lit(1)).as("n_docs"))
        .orderBy("status")
    }),

    // SCD type-2 history build (Kimball): collapse each customer's
    // order-status sequence into versioned validity ranges — the islands
    // pattern (rn_all − rn_per_status marks each consecutive same-status
    // run) plus lead() for the closing edge; the open row carries the
    // 9999-12-31 sentinel and is_current=1. Everything runs inside ONE
    // customer-keyed shuffle: both row_numbers, the run rollup, and the
    // version/lead window share the partitioning, so at 100 TB the
    // history build is a single exchange regardless of history depth.
    "scd2_status_history" -> ((s, d) => {
      import s.implicits._
      scd2Hist(s, d).orderBy("o_custkey", "version")
    }),

    // Point-in-time (PIT) dimension lookup against the SCD2 history —
    // the feature-store join that keeps training data leakage-free
    // (Kimball's type-2 lookup; every feature platform's "as-of the
    // label timestamp" retrieval): each probed order joins the ONE
    // history version whose half-open [valid_from, valid_to) interval
    // contains its order date, never a later version (which would leak
    // the future into the feature row). The intervals tile each
    // customer's timeline, so exactly one version matches per probe.
    // is_match exposes the daily-grain artifact (a same-day status flip
    // collapses to the day's last run — deterministic both engines).
    // Scale: the probe side pre-filters BEFORE the join (cost ∝
    // selectivity); custkey is the equi key so Catalyst plans a hash/
    // sort-merge join with the interval predicate as a residual — no
    // nested loop, and at 100 TB both sides co-partition on the
    // customer key.
    "j_scd2_pointintime" -> ((s, d) => {
      import s.implicits._
      val hist = scd2Hist(s, d)
      val probes = orders(s, d)
        .filter(pmod(graft.functions.PolyHash.poly_hash(
          $"o_orderkey".cast("string")), lit(100L)) === 0)
        .select($"o_orderkey", $"o_custkey", $"o_orderdate",
          $"o_orderstatus")
      probes.join(hist,
          probes("o_custkey") === hist("o_custkey") &&
            $"valid_from" <= $"o_orderdate" &&
            $"o_orderdate" < $"valid_to")
        .select(probes("o_orderkey"), probes("o_custkey"), $"o_orderdate",
          $"o_orderstatus".as("actual_status"),
          $"status".as("pit_status"), $"version".as("pit_version"),
          when($"o_orderstatus" === $"status", 1L).otherwise(0L)
            .as("is_match"))
        .orderBy("o_orderkey")
    }),
  )

  /** The SCD2 status-history build (gaps-and-islands runs → versioned
    * [valid_from, valid_to) rows, 9999-12-31 open sentinel) — shared by
    * scd2_status_history and the point-in-time lookup so the dimension
    * cannot drift between them.
    */
  private def scd2Hist(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val o = orders(s, d)
      .select($"o_custkey", $"o_orderstatus", $"o_orderdate", $"o_orderkey")
    val wAll = Window.partitionBy($"o_custkey")
      .orderBy($"o_orderdate", $"o_orderkey")
    val wSt = Window.partitionBy($"o_custkey", $"o_orderstatus")
      .orderBy($"o_orderdate", $"o_orderkey")
    val runs = o
      .withColumn("rn", row_number().over(wAll))
      .withColumn("grp", row_number().over(wAll) - row_number().over(wSt))
    val hist = runs.groupBy($"o_custkey", $"o_orderstatus", $"grp")
      .agg(min($"o_orderdate").as("valid_from"),
        min($"rn").as("first_rn"), count(lit(1)).as("n_orders"))
    val wVer = Window.partitionBy($"o_custkey").orderBy($"first_rn")
    hist
      .withColumn("version", row_number().over(wVer))
      .withColumn("valid_to",
        coalesce(lead($"valid_from", 1).over(wVer), lit("9999-12-31").cast("date")))
      .withColumn("is_current",
        when(lead($"valid_from", 1).over(wVer).isNull, 1L).otherwise(0L))
      .select($"o_custkey", $"o_orderstatus".as("status"), $"version",
        $"valid_from", $"valid_to", $"n_orders", $"is_current")
  }

  val oracles: Map[String, String] = Map(
    "s1_latest_events" ->
      """SELECT event_id, ts, user_id, event_type, value FROM events
        |ORDER BY ts DESC, event_id DESC LIMIT 1000""".stripMargin,
    "s2_projected_scan" ->
      "SELECT doc_id, lang, n_chars FROM documents ORDER BY doc_id",
    "s3_regex_scan" ->
      """SELECT doc_id, lang, n_chars FROM documents
        |WHERE regexp_matches(text, '\b(spark)\b') AND regexp_matches(lang, '^(en|de)$')
        |ORDER BY n_chars DESC, doc_id DESC LIMIT 200""".stripMargin,
    "s7_csv_roundtrip" ->
      "SELECT r_regionkey, r_name FROM region ORDER BY r_regionkey",
    "s_jsonl_roundtrip" ->
      """SELECT doc_id, md5(text) AS text_md5, lang, source
        |FROM documents ORDER BY doc_id""".stripMargin,
    "s_orc_roundtrip" ->
      """SELECT doc_id, md5(text) AS text_md5, lang, source
        |FROM documents WHERE n_chars > 200 ORDER BY doc_id""".stripMargin,
    "url_domain_filter" ->
      """WITH u AS (
        |  SELECT doc_id,
        |    ['news.example.com','blog.example.org','wiki.example.net',
        |     'spam.junk.net','forum.example.io','ads.tracker.io',
        |     'docs.example.dev'][CAST(doc_id % 7 + 1 AS INT)] AS domain
        |  FROM documents)
        |SELECT domain, COUNT(*) AS n_docs FROM u
        |WHERE domain NOT IN ('spam.junk.net', 'ads.tracker.io')
        |GROUP BY domain ORDER BY domain""".stripMargin,
    "sink_training_shards" ->
      """SELECT doc_id % 16 AS shard, COUNT(*) AS n_docs,
        |  MIN(doc_id) AS first_doc, MAX(doc_id) AS last_doc,
        |  CAST(SUM(n_chars) AS BIGINT) AS chars
        |FROM documents GROUP BY 1 ORDER BY shard""".stripMargin,
    "sink_epoch_shuffle" ->
      s"""SELECT epoch, position, doc_id FROM (
         |  SELECT g.epoch, doc_id,
         |    row_number() OVER (PARTITION BY g.epoch ORDER BY hk, doc_id)
         |      AS position
         |  FROM (
         |    SELECT doc_id, g.epoch,
         |      (${graft.ops.DedupOps.polyHashSql(
               "CAST(g.epoch AS VARCHAR) || '#' || CAST(doc_id AS VARCHAR)")}
         |       * 2654435761) % 1000000007 AS hk
         |    FROM documents
         |    CROSS JOIN (SELECT unnest(range(2)) AS epoch) g) g)
         |ORDER BY epoch, position""".stripMargin,
    "p_quality_gate" ->
      """SELECT doc_id, lang, source, n_chars FROM documents
        |WHERE text IS NOT NULL AND lang IS NOT NULL AND text <> 'N/A'
        |  AND n_chars > 100 AND contains(text, 'spark')
        |ORDER BY doc_id""".stripMargin,
    "p7_lookback_48h" ->
      """SELECT event_type, COUNT(*) AS n, ROUND(SUM(value), 4) AS sum_value
        |FROM events
        |WHERE ts >= (SELECT MAX(ts) FROM events) - INTERVAL 48 HOUR
        |GROUP BY event_type ORDER BY event_type""".stripMargin,
    "o2_top_docs" ->
      """SELECT doc_id, source, n_chars FROM documents
        |ORDER BY n_chars DESC, doc_id ASC LIMIT 15""".stripMargin,
    "d4_distinct_langs" ->
      "SELECT DISTINCT lang FROM documents ORDER BY lang",
    "d1_dedup_first_per_user" ->
      s"""SELECT user_id, event_id, ts, event_type
         |FROM (${topKSql("events", Seq("user_id"), Seq("ts ASC", "event_id ASC"), 1, None)})
         |ORDER BY user_id""".stripMargin,
    "d2_antijoin_new_keys" ->
      """WITH cut AS (SELECT date_trunc('day', MAX(ts)) AS c FROM events),
        |  keyed AS (SELECT event_id, user_id, ts,
        |              CAST(props->>'$.k' AS INT) AS k FROM events)
        |SELECT event_id, user_id, k FROM keyed, cut
        |WHERE ts >= c AND (user_id, k) NOT IN (
        |  SELECT (user_id, k) FROM keyed, cut WHERE ts < c)
        |ORDER BY event_id""".stripMargin,
    "set_intersect_users" ->
      """SELECT user_id FROM events WHERE event_type = 'click'
        |INTERSECT
        |SELECT user_id FROM events WHERE event_type = 'purchase'
        |ORDER BY user_id""".stripMargin,
    "set_except_users" ->
      """SELECT user_id FROM events WHERE event_type = 'view'
        |  GROUP BY user_id HAVING COUNT(*) >= 15
        |EXCEPT
        |SELECT user_id FROM events WHERE event_type = 'purchase'
        |  GROUP BY user_id HAVING COUNT(*) >= 15
        |ORDER BY user_id""".stripMargin,
    "set_union_sources" ->
      """SELECT DISTINCT source FROM (
        |  SELECT source FROM documents WHERE lang = 'en'
        |  UNION ALL
        |  SELECT source FROM documents WHERE lang = 'zh')
        |ORDER BY source""".stripMargin,
    "j1_broadcast_lookup" ->
      """SELECT COALESCE(p_brand, '(none)') AS p_brand, COUNT(*) AS n,
        |  ROUND(SUM(l_quantity), 2) AS qty
        |FROM lineitem LEFT JOIN part ON l_partkey = p_partkey
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    "j2_customers_without_orders" ->
      """SELECT c_custkey, c_name, c_mktsegment FROM customer
        |WHERE c_custkey NOT IN (
        |  SELECT o_custkey FROM orders WHERE o_orderdate >= TIMESTAMP '2000-01-01')
        |ORDER BY c_custkey""".stripMargin,
    "j_semi_big_orders" ->
      """SELECT o_orderkey, o_orderstatus, o_totalprice FROM orders
        |WHERE EXISTS (SELECT 1 FROM lineitem
        |              WHERE l_orderkey = o_orderkey AND l_quantity >= 49.0)
        |ORDER BY o_orderkey""".stripMargin,
    "j3_densified_nation_counts" ->
      """SELECT n_nationkey, n_name, COALESCE(n_customers, 0) AS n_customers
        |FROM nation LEFT JOIN (
        |  SELECT c_nationkey, COUNT(*) AS n_customers FROM customer GROUP BY 1
        |) ON n_nationkey = c_nationkey
        |ORDER BY n_nationkey""".stripMargin,
    "j_star_revenue_by_region" ->
      """SELECT r_name,
        |  ROUND(CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2)) *
        |    (CAST(1 AS DECIMAL(12,2)) - CAST(l_discount AS DECIMAL(4,2)))) AS DOUBLE), 2)
        |    AS revenue,
        |  COUNT(*) AS n_lines
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation ON c_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |GROUP BY r_name ORDER BY r_name""".stripMargin,
    // full recompute — the invariant the delta-merge must land on
    "join_incremental_merge" ->
      """SELECT o_orderpriority,
        |  CAST(COUNT(*) AS BIGINT) AS n_lines,
        |  CAST(SUM(CASE WHEN o_orderkey % 10 = 7 OR l_linenumber >= 5
        |    THEN 1 ELSE 0 END) AS BIGINT) AS n_delta,
        |  ROUND(CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2)) *
        |    (CAST(1 AS DECIMAL(12,2)) - CAST(l_discount AS DECIMAL(4,2))))
        |    AS DOUBLE), 2) AS revenue
        |FROM orders JOIN lineitem ON o_orderkey = l_orderkey
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    "s5_xml_source" ->
      """WITH x AS (
        |  SELECT '<url><loc>https://ex.com/a/' || event_id || '</loc><lastmod>'
        |    || strftime(ts, '%Y-%m-%d') || '</lastmod></url>' AS xml
        |  FROM events),
        |p AS (
        |  SELECT regexp_extract(xml, '<loc>([^<]+)</loc>', 1) AS loc,
        |    regexp_extract(xml, '<lastmod>([^<]+)</lastmod>', 1) AS lastmod
        |  FROM x)
        |SELECT lastmod, COUNT(*) AS n_urls FROM p
        |WHERE contains(loc, '/a/') GROUP BY lastmod ORDER BY lastmod""".stripMargin,
    "p9_schema_guard" ->
      "SELECT 'unscored' AS label, COUNT(*) AS n FROM documents",
    "f26_array_ops" ->
      s"""WITH t AS (SELECT doc_id, ${TextOps.tokensSql("text")} AS toks FROM documents)
        |SELECT doc_id, len(toks) AS n_toks,
        |  array_to_string(toks[1:5], ' ') AS first5,
        |  toks[-1] AS last_tok,
        |  list_contains(toks, 'spark') AS has_spark
        |FROM t ORDER BY doc_id""".stripMargin,
    // (the filter goes through a subselect: DuckDB 1.0 returns 0 rows for
    // CAST(ts_ns AS DATE) IN (...) applied directly in WHERE)
    "sink_compaction" ->
      """SELECT CAST(ts AS DATE) AS day, COUNT(*) AS n_rows,
        |  CAST(1 AS BIGINT) AS n_files
        |FROM events GROUP BY 1 ORDER BY 1""".stripMargin,
    "s9b_partitioned_pruning" ->
      """SELECT day, event_type, COUNT(*) AS n
        |FROM (SELECT CAST(ts AS DATE) AS day, event_type FROM events)
        |WHERE day IN (DATE '2024-01-05', DATE '2024-01-06')
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "s9_parquet_roundtrip" ->
      "SELECT * FROM nation ORDER BY n_nationkey",
    "sink_zorder_layout" -> {
      val zExpr = ((0 until 6).map(k => s"((x >> $k) % 2) * ${1 << (2 * k)}") ++
        (0 until 4).map(k => s"((y >> $k) % 2) * ${1 << (2 * k + 1)}"))
        .mkString(" + ")
      s"""WITH b AS (
         |  SELECT CAST(l_quantity AS INT) AS x,
         |    CAST(ROUND(l_discount * 100, 0) AS INT) AS y
         |  FROM lineitem),
         |z AS (SELECT x, y, $zExpr AS z FROM b)
         |SELECT z // 64 AS zbucket, COUNT(*) AS n,
         |  MIN(x) AS min_q, MAX(x) AS max_q,
         |  MIN(y) AS min_d, MAX(y) AS max_d
         |FROM z GROUP BY 1 ORDER BY 1""".stripMargin
    },
    "d5_stopword_union" ->
      s"""WITH tok AS (
         |  SELECT unnest(${TextOps.tokensSql("text")}) AS w FROM documents)
         |SELECT COUNT(*) AS n_tokens,
         |  CAST(SUM(CASE WHEN ${TextOps.isStopwordSql("w")}
         |      THEN 1 ELSE 0 END) AS BIGINT) AS n_base,
         |  CAST(SUM(CASE WHEN w IN ('spark','data','query') THEN 1 ELSE 0 END) AS BIGINT)
         |    AS n_custom,
         |  CAST(SUM(CASE WHEN ${TextOps.isStopwordSql("w")}
         |        OR w IN ('spark','data','query')
         |      THEN 1 ELSE 0 END) AS BIGINT) AS n_union
         |FROM tok""".stripMargin,
    "j4_merge_upsert" ->
      """WITH existing AS (
        |  SELECT user_id, COUNT(*) AS n, ROUND(SUM(value), 4) AS v FROM events
        |  WHERE ts < TIMESTAMP '2024-01-21' GROUP BY user_id),
        |batch AS (
        |  SELECT user_id, COUNT(*) AS n, ROUND(SUM(value), 4) AS v FROM events
        |  WHERE ts >= TIMESTAMP '2024-01-21' GROUP BY user_id)
        |SELECT COALESCE(e.user_id, b.user_id) AS user_id,
        |  COALESCE(e.n, 0) + COALESCE(b.n, 0) AS n_total,
        |  ROUND(COALESCE(e.v, 0) + COALESCE(b.v, 0), 4) AS v_total,
        |  CASE WHEN e.user_id IS NULL THEN 'inserted'
        |       WHEN b.user_id IS NULL THEN 'unchanged'
        |       ELSE 'updated' END AS merge_action
        |FROM existing e FULL OUTER JOIN batch b ON e.user_id = b.user_id
        |ORDER BY user_id""".stripMargin,
    "x_cross_join_regions" ->
      """SELECT a.r_name || '-' || b.r_name AS pair
        |FROM region a CROSS JOIN region b ORDER BY pair""".stripMargin,
    "schema_evolution_union" ->
      """WITH u AS (
        |  SELECT event_id, user_id, event_type, NULL::DOUBLE AS value
        |  FROM events WHERE event_id % 2 = 0
        |  UNION ALL
        |  SELECT event_id, user_id, event_type, value
        |  FROM events WHERE event_id % 2 = 1)
        |SELECT event_type, COUNT(*) AS n, COUNT(value) AS n_with_value,
        |  ROUND(SUM(value), 4) AS sum_value
        |FROM u GROUP BY event_type ORDER BY event_type""".stripMargin,
    "f21_coalesce_fallback" ->
      """SELECT COALESCE(CAST(props->>'$.missing' AS BIGINT),
        |                CAST(props->>'$.k' AS BIGINT), -1) AS v,
        |  COUNT(*) AS n
        |FROM events GROUP BY 1 ORDER BY 1""".stripMargin,
    "f23_map_lookup" ->
      """SELECT CASE event_type
        |    WHEN 'click' THEN 'engagement' WHEN 'view' THEN 'engagement'
        |    WHEN 'purchase' THEN 'conversion' WHEN 'signup' THEN 'conversion'
        |    ELSE 'other' END AS category,
        |  COUNT(*) AS n
        |FROM events GROUP BY 1 ORDER BY 1""".stripMargin,
    "o2_topk_aggregator" ->
      s"""SELECT rank, doc_id, n_chars
         |FROM (${topKSql("documents", Nil, Seq("n_chars DESC", "doc_id ASC"), 15, Some("rank"))})
         |ORDER BY rank""".stripMargin,
    "o4_topk_aggregator_per_group" ->
      s"""SELECT source, rank, doc_id, n_chars
         |FROM (${topKSql("documents", Seq("source"), Seq("n_chars DESC", "doc_id ASC"), 3, Some("rank"))})
         |ORDER BY source, rank""".stripMargin,
    "o4_group_topk_exec" ->
      s"""SELECT source, lang, doc_id, n_chars
         |FROM (${topKSql("documents", Seq("source", "lang"), Seq("n_chars DESC", "doc_id ASC"), 2, None)})
         |ORDER BY source, lang, doc_id""".stripMargin,
    "j_left_order_line_counts" ->
      """SELECT o_orderkey, COUNT(l_linenumber) AS n_lines
        |FROM orders LEFT JOIN lineitem ON o_orderkey = l_orderkey
        |GROUP BY o_orderkey ORDER BY o_orderkey""".stripMargin,
    // Oracle states the band join as the direct non-equi predicate — an
    // independent formulation of the semantics the bucketed rewrite must
    // reproduce.
    "j_range_bucketed" ->
      """SELECT a.p_brand,
        |  COUNT(*) AS n_pairs,
        |  ROUND(MIN(ABS(a.p_retailprice - b.p_retailprice)), 6) AS min_gap,
        |  ROUND(MAX(ABS(a.p_retailprice - b.p_retailprice)), 6) AS max_gap
        |FROM part a JOIN part b
        |  ON a.p_brand = b.p_brand AND a.p_partkey < b.p_partkey
        |  AND ABS(a.p_retailprice - b.p_retailprice) <= 2.0
        |GROUP BY a.p_brand ORDER BY a.p_brand""".stripMargin,
    "j_salted_skew_join" ->
      """WITH dim(event_type, category) AS (VALUES
        |  ('click', 'engagement'), ('view', 'engagement'),
        |  ('purchase', 'conversion'), ('signup', 'conversion'),
        |  ('error', 'ops'))
        |SELECT category, COUNT(*) AS n
        |FROM events JOIN dim USING (event_type)
        |GROUP BY category ORDER BY category""".stripMargin,
    "snapshot_diff" ->
      """WITH v1 AS (
        |  SELECT doc_id,
        |    md5(CASE WHEN doc_id % 5 = 0 THEN upper(substr(text, 1, 40))
        |             ELSE text END) AS h1
        |  FROM documents WHERE doc_id % 7 <> 3),
        |v2 AS (
        |  SELECT doc_id, md5(text) AS h2
        |  FROM documents WHERE doc_id % 9 <> 4)
        |SELECT CASE WHEN v1.doc_id IS NULL THEN 'added'
        |            WHEN v2.doc_id IS NULL THEN 'removed'
        |            WHEN h1 <> h2 THEN 'changed'
        |            ELSE 'unchanged' END AS status,
        |  COUNT(*) AS n_docs
        |FROM v1 FULL JOIN v2 ON v1.doc_id = v2.doc_id
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    "scd2_status_history" ->
      s"""WITH $scd2HistCtes
        |SELECT * FROM h2
        |ORDER BY o_custkey, version""".stripMargin,
    "j_scd2_pointintime" ->
      s"""WITH $scd2HistCtes,
        |pr AS (
        |  SELECT o_orderkey, o_custkey, o_orderdate, o_orderstatus
        |  FROM orders
        |  WHERE ${graft.ops.DedupOps.polyHashSql("CAST(o_orderkey AS VARCHAR)")}
        |    % 100 = 0)
        |SELECT pr.o_orderkey, pr.o_custkey, pr.o_orderdate,
        |  pr.o_orderstatus AS actual_status,
        |  h2.status AS pit_status, h2.version AS pit_version,
        |  CAST(CASE WHEN pr.o_orderstatus = h2.status THEN 1 ELSE 0 END
        |    AS BIGINT) AS is_match
        |FROM pr JOIN h2 ON pr.o_custkey = h2.o_custkey
        |  AND h2.valid_from <= pr.o_orderdate
        |  AND pr.o_orderdate < h2.valid_to
        |ORDER BY o_orderkey""".stripMargin,
  )

  /** Oracle twin of scd2Hist, ending in `h2(o_custkey, status, version,
    * valid_from, valid_to, n_orders, is_current)`.
    */
  private lazy val scd2HistCtes: String =
    """o AS (
      |  SELECT o_custkey, o_orderstatus, o_orderdate, o_orderkey,
      |    row_number() OVER (PARTITION BY o_custkey
      |      ORDER BY o_orderdate, o_orderkey) AS rn,
      |    row_number() OVER (PARTITION BY o_custkey
      |      ORDER BY o_orderdate, o_orderkey)
      |      - row_number() OVER (PARTITION BY o_custkey, o_orderstatus
      |          ORDER BY o_orderdate, o_orderkey) AS grp
      |  FROM orders),
      |hist AS (
      |  SELECT o_custkey, o_orderstatus, grp,
      |    MIN(o_orderdate) AS valid_from, MIN(rn) AS first_rn,
      |    COUNT(*) AS n_orders
      |  FROM o GROUP BY 1, 2, 3),
      |h2 AS (
      |  SELECT o_custkey, o_orderstatus AS status,
      |    row_number() OVER w AS version,
      |    valid_from,
      |    COALESCE(lead(valid_from) OVER w, DATE '9999-12-31') AS valid_to,
      |    n_orders,
      |    CAST(CASE WHEN lead(valid_from) OVER w IS NULL THEN 1 ELSE 0 END
      |      AS BIGINT) AS is_current
      |  FROM hist
      |  WINDOW w AS (PARTITION BY o_custkey ORDER BY first_rn))""".stripMargin
}
