package graft.tools

import org.apache.spark.sql.functions._

/** State-size scale law for the event-time-timer operator (round 18,
  * VERDICT r17 item #5): AbandonedClicks claims its per-key state and
  * timer count are WINDOW-bounded regardless of stream length — this
  * measures it instead of asserting it.
  *
  * Protocol: the fixture's events are re-chunked into one parquet file
  * per event-time day, written to a watched directory in chronological
  * order, and streamed through `AbandonedClicks.plan` via the FILE
  * source (`maxFilesPerTrigger = 1`, so each micro-batch is ~one day of
  * events and the watermark advances day by day — the arrival pattern a
  * production tail-reader sees) on the RocksDB state store. Per
  * micro-batch, `StreamingQueryProgress.stateOperators` reports
  * `numRowsTotal` (pending clicks + in-horizon purchase rows across all
  * keys) and `memoryUsedBytes`; the law holds
  * iff the state-row series PLATEAUS after the first window-plus-
  * watermark worth of stream while cumulative input keeps growing
  * linearly — i.e. peak state ∝ in-window arrival density (10× at the
  * 10× fixture), but NOT ∝ how long the stream has been running.
  *
  * Output: one JSON line per dataset with cumulative input rows, the
  * per-batch state-rows series, its peak, the final value, and
  * peak/input — the number that must FALL as the stream lengthens at
  * fixed density (and stay ~flat across 1×/10×/100× density scaling,
  * since both numerator and denominator scale with density).
  *
  * Usage: runMain graft.tools.StateLaw <eventsDirs...>
  *   e.g. /root/testdata/sf0.1 target/tmp/scale10x target/tmp/scale100x
  */
object StateLaw {

  def main(args: Array[String]): Unit = {
    val dirs = if (args.nonEmpty) args.toSeq
    else Seq("/root/testdata/sf0.1", "target/tmp/scale10x")
    val spark = graft.GraftSession.local()
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    import spark.implicits._

    dirs.foreach { d =>
      val tag = d.replaceAll(".*/", "").replaceAll("[^A-Za-z0-9_]", "_")
      val watch = s"target/tmp/statelaw_$tag/in"
      val ckpt = s"target/tmp/statelaw_$tag/ckpt"
      val hfs = org.apache.hadoop.fs.FileSystem.get(
        spark.sparkContext.hadoopConfiguration)
      hfs.delete(new org.apache.hadoop.fs.Path(s"target/tmp/statelaw_$tag"), true)

      // one file per event-time day, written (hence mtime-ordered) in
      // day order — the file source replays them chronologically. Read
      // through Tables.events (normalizes the NTZ/micros layout drift to
      // TimestampType — event-time watermarks reject TIMESTAMP_NTZ).
      val ev = graft.ops.Tables.events(spark, d)
        .filter($"event_type".isin("click", "purchase"))
        .select($"event_id", $"ts", $"user_id", $"event_type")
      val days = ev.select(to_date($"ts").as("day")).distinct()
        .orderBy("day").as[java.sql.Date].collect()
      val stage = s"target/tmp/statelaw_$tag/stage"
      days.zipWithIndex.foreach { case (day, i) =>
        ev.filter(to_date($"ts") === lit(day)).coalesce(1)
          .write.mode("overwrite").parquet(stage)
        val part = hfs.globStatus(
          new org.apache.hadoop.fs.Path(s"$stage/part-*.parquet")).head.getPath
        hfs.mkdirs(new org.apache.hadoop.fs.Path(watch))
        hfs.rename(part,
          new org.apache.hadoop.fs.Path(f"$watch/day_$i%03d.parquet"))
      }
      val inputRows = ev.count()

      val typed = spark.readStream
        .schema(ev.schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(watch)
        .withWatermark("ts", "1 hour")
        .select($"event_id", $"user_id", $"event_type", $"ts")
        .as[graft.streaming.AbandonedClicks.Ev]
      val q = graft.streaming.AbandonedClicks.plan(typed)
        .toDF("user_id", "click_id", "click_ts_ms")
        .writeStream.outputMode("append")
        .option("checkpointLocation", ckpt)
        .format("memory").queryName(s"statelaw_$tag").start()
      q.processAllAvailable()
      // recentProgress keeps the last 100 entries — enough for the
      // ~30-day chunking; batches with no stateOperators row (empty
      // triggers) are skipped
      val series = q.recentProgress.toSeq
        .flatMap(p => p.stateOperators.headOption.map(so =>
          (p.batchId, so.numRowsTotal, so.memoryUsedBytes)))
        .sortBy(_._1)
      q.stop()
      val emitted = spark.table(s"statelaw_$tag").count()
      val peak = if (series.nonEmpty) series.map(_._2).max else -1L
      val fin = if (series.nonEmpty) series.last._2 else -1L
      val peakMem = if (series.nonEmpty) series.map(_._3).max else -1L
      val rows = series.map { case (b, n, _) => s"[$b,$n]" }
        .mkString("[", ",", "]")
      println(s"""{"metric":"statelaw","dataset":"$tag","input_rows":$inputRows,"emitted":$emitted,"state_rows_peak":$peak,"state_rows_final":$fin,"state_mem_peak_bytes":$peakMem,"peak_over_input":${if (inputRows > 0) f"${peak.toDouble / inputRows}%.4f" else "-1"},"series":$rows}""")
    }
    spark.stop()
  }
}
