package graft

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.streaming.EventStreams

/** Streaming rate/latency characterization (VERDICT r4 item 8): the
  * st-family is correctness-gated through its batch twins, but a
  * stream's operative numbers are rows/second and per-micro-batch
  * latency, which a batch `count()` never measures.
  *
  * Method: the sf events fixture is sliced into `SPARK_GRAFT_CHUNKS`
  * (default 20) time-ordered parquet files — the "files landing in a
  * directory" arrival shape the production file source consumes — and
  * each streaming op runs over them with `maxFilesPerTrigger=1`, so
  * the run is N genuine micro-batches with advancing watermarks, not
  * one bulk batch. Sinks are `noop` (sink cost excluded; this measures
  * the operator, not a writer). Metrics come from the engine's own
  * `StreamingQueryProgress`: per-batch `triggerExecution` latency and
  * input row counts.
  *
  * Reported per op: total input rows, micro-batch count, median and
  * max batch latency, end-to-end rows/s (rows ÷ Σ triggerExecution).
  * The first batch carries one-off stream initialization + codegen, so
  * the median is the steady-state number; max shows the cold start.
  *
  * Prints one JSON line (same contract as [[Bench]]) so runs are
  * diffable round-over-round.
  */
object StreamBench {

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val chunks = sys.env.getOrElse("SPARK_GRAFT_CHUNKS", "20").toInt
    // same scratch policy as the batch fixtures (LocalScratch.scratchDir
    // scaladoc): the staged arrival files and the stream checkpoints
    // both live here, and the sandbox device's intermittent
    // write-throttle would otherwise poison the per-batch latencies
    // that checkpoint commits sit inside
    val stage = sys.env.getOrElse("SPARK_GRAFT_STREAM_STAGE",
      LocalScratch.scratchDir + "/graft-streambench")

    val spark = GraftSession.local(sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt)
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    // recentProgress retains only numRecentProgressUpdates entries
    // (default 100): with more chunks than that the rows/batch/latency
    // tallies below would silently undercount. Retain them all (and
    // assert per-op that we actually saw every batch).
    spark.conf.set("spark.sql.streaming.numRecentProgressUpdates",
      math.max(chunks * 2, 200).toString)

    // ---- stage the arrival directory: `chunks` time-ordered files
    val root = new java.io.File(stage)
    def rmrf(f: java.io.File): Unit = {
      if (f.isDirectory) f.listFiles().foreach(rmrf)
      f.delete()
    }
    if (root.exists()) rmrf(root)
    val inDir = new java.io.File(root, "input"); inDir.mkdirs()

    // raw read (ts stays the fixture's physical shape) so the staged
    // chunk files are byte-compatible with the stream's declared schema
    val raw = spark.read.parquet(s"$sfDir/events.parquet")
    val totalRows = raw.count()
    import org.apache.spark.sql.expressions.Window
    val sliced = raw.withColumn("chunk",
      ntile(chunks).over(Window.orderBy(col("ts"), col("event_id"))))
    for (i <- 1 to chunks) {
      val d = new java.io.File(root, s"c$i")
      sliced.filter(col("chunk") === i).drop("chunk")
        .coalesce(1).write.parquet(d.getPath)
      val part = d.listFiles().filter(_.getName.endsWith(".parquet")).head
      val dest = new java.io.File(inDir, f"chunk-$i%02d.parquet")
      java.nio.file.Files.move(part.toPath, dest.toPath)
      dest.setLastModified(1000000L + i * 1000L) // deterministic file order
    }

    // The staged chunks are written from `raw`, so their schema IS
    // raw.schema — whatever physical ts shape this fixture generation
    // has (epoch-nanos long or native micros); normalize maps both.
    def stream(): DataFrame = EventStreams.normalize(
      spark.readStream.schema(raw.schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(inDir.getPath))

    // Each op as (name, plan); all run in append mode against noop.
    val ops: Seq[(String, () => DataFrame)] = Seq(
      "stb_tumbling" -> (() => EventStreams.tumblingCountsStreaming(stream())),
      "stb_sliding" -> (() =>
        EventStreams.slidingCounts(stream().withWatermark("ts", "2 hours"))),
      "stb_session" -> (() => EventStreams.sessionStatsStreaming(stream())),
      "stb_dedup" -> (() => EventStreams.dedupedStream(stream())),
      "stb_window_hll" -> (() => EventStreams.windowUserSketchStreaming(stream())),
      "stb_stream_join" -> (() => EventStreams.purchaseErrorJoinBatch(stream())),
      "stb_stateful" -> (() => EventStreams.userTotalsStreaming(stream()).toDF()))

    val results = ops.map { case (name, mk) =>
      val q = mk().writeStream
        .outputMode("append")
        .format("noop")
        .option("checkpointLocation", s"$stage/ck/$name")
        .start()
      val t0 = System.nanoTime()
      q.processAllAvailable()
      val wall = (System.nanoTime() - t0) / 1e9
      val progress = q.recentProgress.toSeq
        .filter(_.numInputRows > 0)
      q.stop()
      // maxFilesPerTrigger=1 ⇒ exactly one data-carrying batch per
      // staged chunk; anything less means progress entries were
      // evicted (or a trigger coalesced files) and every number below
      // would be silently wrong — fail loudly instead.
      require(progress.size == chunks,
        s"$name: expected $chunks data batches, saw ${progress.size} progress entries")
      val lats = progress.map(_.durationMs.get("triggerExecution").toLong).sorted
      val rows = progress.map(_.numInputRows).sum
      val sumMs = lats.sum.toDouble
      val med = if (lats.isEmpty) 0L else lats(lats.size / 2)
      val mx = if (lats.isEmpty) 0L else lats.last
      val rps = if (sumMs > 0) rows / (sumMs / 1000.0) else 0.0
      System.err.println(f"[streambench] $name%-18s rows=$rows%7d " +
        f"batches=${lats.size}%3d med=${med}%5d ms max=${mx}%5d ms " +
        f"rows/s=$rps%9.0f wall=$wall%6.1f s")
      name -> (rows, lats.size, med, mx, rps)
    }

    // ---- lake-path legs (u04 / u10 / u11): unlike the window ops
    // above, the SINK is the operator — each trigger commits to the
    // snapshot-logged target — so per-batch latency is the end-to-end
    // cost a CDC pipeline budgets per trigger. One shared
    // feeder/drain; the latency CONTRAST between the three is the
    // result: the CoW apply pays touched-file rewrites per trigger,
    // the MOR update commits O(batch rows) and defers rewrites to
    // compaction, and the partial-column patch additionally ships
    // only (key + changed columns).
    def lakeLeg(name: String, feed: DataFrame, chunkOf: Column,
        mtimeBase: Long,
        wire: (String, DataFrame, String) =>
          org.apache.spark.sql.streaming.DataStreamWriter[
            org.apache.spark.sql.Row]): String = {
      val kChunks = math.min(chunks, 10)
      val in = new java.io.File(root, s"${name}_input"); in.mkdirs()
      for (i <- 0 until kChunks) {
        val d = new java.io.File(root, s"$name$i")
        feed.filter(chunkOf === i).coalesce(1).write.parquet(d.getPath)
        val part = d.listFiles().filter(_.getName.endsWith(".parquet")).head
        val dest = new java.io.File(in, f"$name-$i%02d.parquet")
        java.nio.file.Files.move(part.toPath, dest.toPath)
        dest.setLastModified(mtimeBase + i * 1000L)
      }
      val table = s"$stage/${name}_table"
      graft.streaming.CdcStream.seedTarget(spark, table,
        Tables.orders(spark, sfDir))
      val stream = spark.readStream.schema(feed.schema)
        .option("maxFilesPerTrigger", "1").parquet(in.getPath)
      val q = wire(table, stream, s"$stage/ck/$name").start()
      q.processAllAvailable()
      val progress = q.recentProgress.toSeq.filter(_.numInputRows > 0)
      q.stop()
      require(progress.size == kChunks,
        s"$name: expected $kChunks data batches, saw ${progress.size}")
      val lats = progress.map(_.durationMs.get("triggerExecution").toLong).sorted
      val rows = progress.map(_.numInputRows).sum
      val med = lats(lats.size / 2); val mx = lats.last
      val rps = if (lats.sum > 0) rows / (lats.sum / 1000.0) else 0.0
      System.err.println(f"[streambench] $name%-17s rows=$rows%7d " +
        f"batches=${lats.size}%3d med=${med}%5d ms max=${mx}%5d ms " +
        f"rows/s=$rps%9.0f")
      s""""$name":{"rows":$rows,"batches":${lats.size},"med_ms":$med,"max_ms":$mx,"rows_per_s":${rps.round}}"""
    }

    val kC = math.min(chunks, 10)
    val cdcResult = lakeLeg("stb_cdc_apply",
      graft.operators.Upsert.cdcOpsLog(spark, sfDir),
      pmod(col("o_orderkey"), lit(kC)), 2000000L,
      (t, st, ck) => graft.streaming.CdcStream.applyStream(
        spark, t, st, "o_orderkey", ck))
    // chunk on key/5: the %5 filter pins o_orderkey % 10 to {0,5}, so
    // chunking on the raw key would leave 8 of 10 chunks empty
    val morResult = lakeLeg("stb_mor_update",
      Tables.orders(spark, sfDir).filter(col("o_orderkey") % 5 === 0)
        .withColumn("o_orderpriority", lit("S-MOR")),
      pmod((col("o_orderkey") / lit(5)).cast("long"), lit(kC)), 3000000L,
      (t, st, ck) => graft.streaming.CdcStream.updateStream(
        spark, t, st, "o_orderkey", ck))
    val patchResult = lakeLeg("stb_patch",
      Tables.orders(spark, sfDir).filter(col("o_orderkey") % 5 === 0)
        .select(col("o_orderkey"), lit("S-PATCH").as("o_orderpriority")),
      pmod((col("o_orderkey") / lit(5)).cast("long"), lit(kC)), 4000000L,
      (t, st, ck) => graft.streaming.CdcStream.patchStream(
        spark, t, st, "o_orderkey", ck))

    val qs = (results.map { case (n, (rows, nb, med, mx, rps)) =>
      s""""$n":{"rows":$rows,"batches":$nb,"med_ms":$med,"max_ms":$mx,"rows_per_s":${rps.round}}"""
    } :+ cdcResult :+ morResult :+ patchResult).mkString("{", ",", "}")
    println(s"""{"metric":"stream","chunks":$chunks,"total_rows":$totalRows,"ops":$qs,"sf":"$sfDir"}""")
    spark.stop()
  }
}
