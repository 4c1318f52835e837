package graft.streaming

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}


/** Event-time operators over the events table. The reference is batch-only
  * (SURVEY.md §2.10) — these are the generalized-engine extension. Every
  * transform here runs identically on a static DataFrame (so the DuckDB
  * oracle applies) and on a stream (readStream + watermark), because
  * `window`/`session_window` are engine-agnostic Catalyst constructs.
  */
object EventOps {

  /** Sentinel no-op observer for [[streamSessionizeFromBatch]]'s
    * `onPhase`: reference-compared so the production path can skip the
    * evidence-collection work (commit-log scan + sink count job)
    * entirely when nobody is listening.
    */
  val noPhase: (String, Long) => Unit = (_, _) => ()

  /** Tumbling event-time window aggregation. Emits epoch-second window
    * starts (integer — timestamp-encoding-proof for the oracle compare).
    */
  def tumblingCounts(events: DataFrame, width: String = "10 minutes"): DataFrame =
    events
      .groupBy(window(col("ts"), width).as("w"), col("event_type"))
      .agg(count(lit(1)).as("n"), round(sum(col("value")), 4).as("sum_value"))
      .select(
        col("w.start").cast("long").as("window_start_sec"),
        col("event_type"), col("n"), col("sum_value"))
      .orderBy(col("window_start_sec"), col("event_type"))

  /** Per-user sessionization with a gap timeout. Spark's session_window
    * closes a session when the next event is >= gap after the previous
    * one; session end = last event + gap.
    */
  def sessionize(events: DataFrame, gap: String = "30 minutes"): DataFrame =
    events
      .groupBy(session_window(col("ts"), gap).as("w"), col("user_id"))
      .agg(count(lit(1)).as("n_events"), round(sum(col("value")), 4).as("sum_value"))
      .select(
        col("user_id"),
        col("w.start").cast("long").as("session_start_sec"),
        col("w.end").cast("long").as("session_end_sec"),
        col("n_events"), col("sum_value"))
      .orderBy(col("user_id"), col("session_start_sec"))

  /** Stateful-dedup semantics in batch form: first event per
    * (user_id, event_type), earliest ts with event_id tie-break — the
    * batch twin of dropDuplicatesWithinWatermark.
    */
  def firstEventPerUserType(events: DataFrame): DataFrame =
    events
      .groupBy(col("user_id"), col("event_type"))
      .agg(min(struct(col("ts"), col("event_id"))).as("first"))
      .select(
        col("user_id"), col("event_type"),
        col("first.event_id").as("first_event_id"),
        col("first.ts").cast("long").as("first_ts_sec"))
      .orderBy(col("user_id"), col("event_type"))

  /** JSON property extraction (the `props` column, e.g. {"k": 69}) +
    * aggregation by the extracted value's bucket.
    */
  def propsKStats(events: DataFrame): DataFrame =
    events
      .withColumn("k", get_json_object(col("props"), "$.k").cast("long"))
      .filter(col("k").isNotNull)
      .groupBy((col("k") % 10).as("k_mod10"))
      .agg(count(lit(1)).as("n"),
        round(sum(col("value").cast("decimal(18,2)")).cast("double") / count(lit(1)), 4).as("avg_value"))
      .orderBy(col("k_mod10"))

  /** Sliding event-time windows: each event contributes to width/slide
    * overlapping windows (Spark expands them internally — no explode
    * needed; the aggregation stays a single shuffle).
    */
  def slidingCounts(events: DataFrame, width: String = "30 minutes", slide: String = "10 minutes"): DataFrame =
    events
      .groupBy(window(col("ts"), width, slide).as("w"), col("event_type"))
      .agg(count(lit(1)).as("n"))
      .select(
        col("w.start").cast("long").as("window_start_sec"),
        col("event_type"), col("n"))
      .orderBy(col("window_start_sec"), col("event_type"))

  /** Streaming twin of [[tumblingCounts]]: parquet dir → watermarked
    * windowed agg → memory sink. Returns the started query; callers use
    * processAllAvailable() + the `queryName` memory table.
    *
    * The file source needs a *directory*; the fixture dir mixes tables, so
    * a glob filter selects the events file. Timestamp-encoding handling
    * (nanos-as-long / NTZ / plain) lives in [[graft.model.Tables.eventStream]].
    */
  private def eventStream(spark: SparkSession, parquetDir: String, glob: String): DataFrame =
    graft.model.Tables.eventStream(spark, parquetDir, glob)

  def streamTumblingCounts(
      spark: SparkSession,
      parquetDir: String,
      queryName: String,
      width: String = "10 minutes",
      watermark: String = "1 hour",
      glob: String = "events.parquet"): StreamingQuery = {
    eventStream(spark, parquetDir, glob)
      .withWatermark("ts", watermark)
      .groupBy(window(col("ts"), width).as("w"), col("event_type"))
      .agg(count(lit(1)).as("n"))
      .select(col("w.start").cast("long").as("window_start_sec"), col("event_type"), col("n"))
      .writeStream
      .outputMode("complete")
      .format("memory")
      .queryName(queryName)
      .trigger(Trigger.AvailableNow())
      .start()
  }

  /** Streaming pivot. Structured Streaming rejects RelationalGroupedDataset
    * .pivot (the output column set must be static before execution), but a
    * pivot whose value list is KNOWN is just conditional aggregation — one
    * streaming agg, one state-store row per group, exactly the shape the
    * batch events_pivot query lowers to (count FILTER per value). Parity
    * with the batch .pivot() is pinned in EventOpsSpec.
    */
  def streamPivotCounts(
      spark: SparkSession,
      parquetDir: String,
      queryName: String,
      types: Seq[String] = Seq("click", "error", "purchase", "signup", "view"),
      width: String = "1 hour",
      watermark: String = "1 hour",
      glob: String = "events.parquet"): StreamingQuery = {
    val counts = types.map(t =>
      sum(when(col("event_type") === t, 1L).otherwise(0L)).as(t))
    eventStream(spark, parquetDir, glob)
      .withWatermark("ts", watermark)
      .groupBy(window(col("ts"), width).as("w"))
      .agg(counts.head, counts.tail: _*)
      .select(col("w.start").cast("long").as("window_start_sec") +:
        types.map(col): _*)
      .writeStream
      .outputMode("complete")
      .format("memory")
      .queryName(queryName)
      .trigger(Trigger.AvailableNow())
      .start()
  }

  /** Streaming SESSIONIZATION — the stateful twin of [[sessionize]],
    * and the one windowing shape where streaming state is genuinely
    * hard: a session window is OPEN-ENDED, so a later micro-batch can
    * extend it. Spark's session_window state store handles the
    * extension/merge natively; this twin exists to pin that
    * stream == batch regardless of how events were split into
    * micro-batches — with the SCALE-CORRECT sink shape (r18 verdict
    * #5): APPEND mode under a watermark into a parquet FILE sink, so a
    * closed session is emitted exactly once, its state is dropped, and
    * nothing is ever re-materialized on the driver (the r18 twin used
    * complete mode + a memory sink — O(history) per trigger).
    *
    * Harness: shatter the batch table into `nFiles` parquet files BY
    * TIME RANGE (the shape a real stream arrives in — event time
    * roughly monotone with arrival) with strictly increasing
    * modification times, so the file source replays them in order and
    * the watermark (= max event time − gap) never drops a real event:
    * every event in file k+1 is newer than every event in file k, so
    * it is never late, and no emitted session can be extended by a
    * later file (its end is ≥ gap under the next file's earliest
    * event). Closed sessions land in the file sink incrementally as
    * the watermark passes them.
    *
    * The FINAL-BATCH FLUSH: sessions still open when the source drains
    * live in the state store and would never emit (append mode only
    * emits below the watermark). Two sentinel events for a reserved
    * user (user_id = −1, outside the fixture domain) with timestamps
    * past every possible session end ride as the LAST two source files
    * of the same run: the first advances the watermark past every real
    * session, the second's batch evicts-and-emits them (independent of
    * no-data-batch semantics). The sentinel's own session stays open
    * (never emitted) and is filtered anyway.
    *
    * The measure sums `value` as DECIMAL(18,2): session state merges
    * re-associate additions in batch-arrival order, and an IEEE double
    * sum would make the result depend on the file split — the same
    * determinism discipline as events_json_stats.
    *
    * At 100 TB this is the production clickstream shape: state is one
    * row per OPEN session, closed sessions age out the moment the
    * watermark passes them, and per-batch work is O(batch + touched
    * sessions), never a history re-scan or a driver collect.
    *
    * @param onPhase observability hook for specs, derived from the file
    *   sink's own `_spark_metadata` commit log after the run:
    *   ("emit_batches", k) = number of micro-batches that committed ≥1
    *   data file — k ≥ 2 pins that closed sessions were emitted
    *   INCREMENTALLY as the watermark passed them, not re-materialized
    *   at the end — and ("flushed_total", n) = total emitted rows.
    */
  def streamSessionizeFromBatch(
      spark: SparkSession,
      events: DataFrame,
      gap: String = "30 minutes",
      nFiles: Int = 4,
      onPhase: (String, Long) => Unit = EventOps.noPhase): DataFrame = {
    val base = java.nio.file.Files.createTempDirectory("graft_sess_stream")
    val srcDir = base.resolve("src")
    val outDir = base.resolve("out").toString
    val ckptDir = base.resolve("ckpt").toString
    java.nio.file.Files.createDirectories(srcDir)
    try {
      // Time-range shatter: cut points from EXACT ts quantiles (the 1.0
      // quantile doubles as max ts for the sentinels — one job); every
      // event of a range lands in ONE file, files written (and
      // mod-timed) in ascending time order so the source replays a
      // monotone stream.
      val qs = events.select(col("ts").cast("long").as("t"))
        .stat.approxQuantile("t",
          (1 until nFiles).map(_.toDouble / nFiles).toArray :+ 1.0, 0.0)
      val maxTs = qs.last.toLong
      val bounds = qs.init.distinct.sorted
      val tsLong = col("ts").cast("long")
      val ranges: Seq[org.apache.spark.sql.Column] = {
        val lows = Double.NegativeInfinity +: bounds
        val highs = bounds :+ Double.PositiveInfinity
        lows.zip(highs).map { case (lo, hi) =>
          (if (lo.isNegInfinity) lit(true) else tsLong > lit(lo.toLong)) &&
            (if (hi.isPosInfinity) lit(true) else tsLong <= lit(hi.toLong))
        }.toSeq
      }
      val t0 = java.nio.file.Files.getLastModifiedTime(srcDir).toMillis
      val schema = events.schema
      // Sentinels LAST in modification-time order (the source replays
      // oldest-first): watermark-advance then evict-and-emit.
      val gapIv = org.apache.spark.sql.catalyst.util.IntervalUtils
        .stringToInterval(org.apache.spark.unsafe.types.UTF8String.fromString(gap))
      val gapSeconds = gapIv.days * 86400L + gapIv.microseconds / 1000000L
      val sentinelRows = Seq(0, 1).map { i =>
        val sentinelTs = maxTs + 3 * gapSeconds + 3600L * (i + 1)
        // Sentinel rows are built FROM events.schema (r19 ADVICE: the
        // old hard-coded 6-tuple broke any caller whose events frame
        // deviated from the fixture layout): only user_id (the reserved
        // -1, whose session is filtered) and ts (the watermark driver)
        // carry semantics; every other field gets a type-appropriate
        // default, so any frame with (user_id, ts) columns works.
        org.apache.spark.sql.Row.fromSeq(schema.fields.toSeq.map { fld =>
          fld.name match {
            case "user_id" => fld.dataType match {
              case org.apache.spark.sql.types.IntegerType => -1
              case _ => -1L
            }
            case "ts" => java.sql.Timestamp.from(
              java.time.Instant.ofEpochSecond(sentinelTs))
            case _ if fld.nullable => null
            case _ => fld.dataType match {
              case org.apache.spark.sql.types.StringType => "sentinel"
              case org.apache.spark.sql.types.DoubleType => 0.0
              case org.apache.spark.sql.types.FloatType => 0.0f
              case org.apache.spark.sql.types.IntegerType => 0
              case org.apache.spark.sql.types.BooleanType => false
              case org.apache.spark.sql.types.LongType => 0L
              case org.apache.spark.sql.types.ShortType => 0.toShort
              case org.apache.spark.sql.types.ByteType => 0.toByte
              // fail fast with the field name (r20 ADVICE): a 0L default
              // for a non-nullable Decimal/Date/Timestamp/Array/Struct
              // field would throw an opaque error at createDataFrame time
              case dt => throw new IllegalArgumentException(
                s"streamSessionizeFromBatch: cannot synthesize a sentinel for " +
                  s"non-nullable field '${fld.name}' of type ${dt.simpleString}; " +
                  "only primitive non-nullable layouts (or nullable fields) are supported")
            }
          }
        })
      }
      // ONE partitioned write shatters ranges AND sentinels together
      // (r21, guide §1/§2: the old loop ran one filter+coalesce(1) write
      // per range plus one per sentinel — 6 jobs, 5 full event scans;
      // this is 1 job, 1 scan). The bucket index counts bounds strictly
      // below ts (identical to the (lo, hi] range predicates); hash-
      // repartition on the bucket puts each bucket entirely in one task,
      // so every partition dir holds exactly one part file, renamed into
      // the source layout with the same strictly-increasing mtimes.
      val bucketExpr = bounds.foldLeft(lit(0))((acc, b) =>
        acc + when(tsLong > lit(b.toLong), 1).otherwise(0))
      val nRanges = ranges.length
      val sentinels = spark.createDataFrame(
        scala.jdk.CollectionConverters.SeqHasAsJava(sentinelRows).asJava, schema)
        .withColumn("__graft_bucket",
          when(col("ts").cast("long") === lit(maxTs + 3 * gapSeconds + 3600L),
            lit(nRanges)).otherwise(lit(nRanges + 1)))
      val stage = base.resolve("src__stage").toString
      events.withColumn("__graft_bucket", bucketExpr)
        .unionByName(sentinels)
        .repartition(nRanges + 2, col("__graft_bucket"))
        .write.partitionBy("__graft_bucket").mode("overwrite").parquet(stage)
      val fsConf = spark.sparkContext.hadoopConfiguration
      val stagePath = new org.apache.hadoop.fs.Path(stage)
      val fs = stagePath.getFileSystem(fsConf)
      (0 until nRanges + 2).foreach { i =>
        val bucketDir = new org.apache.hadoop.fs.Path(stage, s"__graft_bucket=$i")
        if (fs.exists(bucketDir)) {
          val part = fs.listStatus(bucketDir)
            .map(_.getPath).find(_.getName.startsWith("part-"))
            .getOrElse(throw new IllegalStateException(s"no part file under $bucketDir"))
          val (name, mtime) =
            if (i < nRanges) (f"batch_$i%04d.parquet", t0 + i * 1000L)
            else (s"sentinel_${i - nRanges}.parquet", t0 + (nFiles + (i - nRanges)) * 1000L)
          val dest = srcDir.resolve(name)
          fs.rename(part, new org.apache.hadoop.fs.Path(dest.toString))
          java.nio.file.Files.setLastModifiedTime(dest,
            java.nio.file.attribute.FileTime.fromMillis(mtime))
        }
      }
      fs.delete(stagePath, true)
      // The stream runs on a CLONED session with few shuffle partitions:
      // the session_window state store commits one delta per partition
      // per micro-batch, and at the fixture's ~10² open sessions the
      // default 32 partitions are pure commit overhead (6 batches × 32
      // state files). At 100 TB the same knob goes the other way —
      // state partitioning is sized to the OPEN-session count, fixed at
      // the first checkpoint, which is exactly why it must not leak
      // from a query-engine default. Parameterized (conf, then env,
      // then the 8 default) so production sizes it to open sessions
      // without a code edit — r21 A/B at sf0.1 measures the local
      // sweet spot; results are partitioning-invariant either way
      // (sessions merge per user key regardless of partition count).
      val stateParts = spark.conf.getOption("spark.graft.stream.statePartitions")
        .orElse(sys.env.get("SPARK_GRAFT_STREAM_STATE_PARTITIONS"))
        // local default 4 (r22 A/B at sf0.1: 4.4-4.9s vs 5.0-5.6s at the
        // r21 default 8; 2 measured the same as 4 — fewer state-store
        // commits per micro-batch now beats the extra parallelism)
        .flatMap(_.toIntOption).getOrElse(4)
      val s2 = spark.newSession()
      s2.conf.set("spark.sql.shuffle.partitions", stateParts.toString)
      // No trailing no-data micro-batch (r22): with data available the
      // engine never idles mid-drain, so the only no-data batch is the
      // one AFTER the last sentinel — and the design emits every real
      // session in the second sentinel's DATA batch by construction
      // ("independent of no-data-batch semantics" above); the trailing
      // batch could only emit the sentinel's own session, which is
      // filtered. One state-commit round saved per run, rows identical.
      s2.conf.set("spark.sql.streaming.noDataMicroBatches.enabled", "false")
      val q = s2.readStream
        .schema(schema)
        .option("pathGlobFilter", "*.parquet")
        .option("maxFilesPerTrigger", 1)
        .option("latestFirst", "false")
        .parquet(srcDir.toString)
        .withWatermark("ts", gap)
        .groupBy(session_window(col("ts"), gap).as("w"), col("user_id"))
        .agg(count(lit(1)).as("n_events"),
          sum(col("value").cast("decimal(18,2)")).as("sum_value_dec"))
        .writeStream
        .outputMode("append")
        .format("parquet")
        .option("path", outDir)
        .option("checkpointLocation", ckptDir)
        .trigger(Trigger.AvailableNow())
        .start()
      try q.processAllAvailable() finally q.stop()
      // Incremental-emission evidence from the sink's own commit log:
      // each _spark_metadata/<batchId> file lists the data files that
      // batch committed (empty batches commit none). Evidence collection
      // (commit-log scan + the flushed_total count JOB) runs only when a
      // spec attached a real observer — the production path skips both
      // (r21, guide §1: the count was a full extra read of the sink in
      // every timed run, observability billed to the query).
      if (onPhase ne EventOps.noPhase) {
        val metaDir = java.nio.file.Paths.get(outDir, "_spark_metadata")
        val emitBatches =
          if (!java.nio.file.Files.isDirectory(metaDir)) 0L
          else {
            val it = java.nio.file.Files.list(metaDir)
            try it.iterator().asScala.count { f =>
              new String(java.nio.file.Files.readAllBytes(f), "UTF-8")
                .contains("\"path\"")
            }.toLong
            finally it.close()
          }
        onPhase("emit_batches", emitBatches)
        onPhase("flushed_total", spark.read.parquet(outDir).count())
      }
      spark.read.parquet(outDir)
        .filter(col("user_id") =!= -1L)
        .select(
          col("user_id"),
          col("w.start").cast("long").as("session_start_sec"),
          col("w.end").cast("long").as("session_end_sec"),
          col("n_events"),
          round(col("sum_value_dec").cast("double"), 4).as("sum_value"))
        .orderBy(col("user_id"), col("session_start_sec"))
        .transform(graft.operators.Materialize.apply)
    } finally {
      val p = new org.apache.hadoop.fs.Path(base.toString)
      p.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(p, true)
    }
  }

  /** Streaming parquet sink: events stream → append-mode parquet files
    * with exactly-once file commits via the checkpoint (the S9/S10 sink
    * contract on a stream instead of a batch write). At scale this is
    * the standard bronze-layer landing pattern: small files per
    * micro-batch, compacted downstream.
    */
  def streamEventsToParquet(
      spark: SparkSession,
      parquetDir: String,
      outDir: String,
      checkpointDir: String,
      glob: String = "events.parquet"): StreamingQuery =
    eventStream(spark, parquetDir, glob)
      .writeStream
      .format("parquet")
      .option("path", outDir)
      .option("checkpointLocation", checkpointDir)
      .outputMode("append")
      .trigger(Trigger.AvailableNow())
      .start()

  /** Keyed streaming upsert into parquet via foreachBatch — the
    * bronze→silver merge pattern without a table format: each
    * micro-batch is reduced to one row per key (latest by event time,
    * event_id tie-break), then merged with the existing table by
    * key anti-join + union and swapped in. Without Delta/Iceberg the
    * swap is directory-level, with VectorStore's crash-safe sequence:
    * live → `.bak`, stage → live, drop `.bak`; a batch that finds the
    * live dir missing first restores a `.bak` stranded by a crash
    * between the two renames. The batch-side logic is exactly what
    * MERGE INTO compiles to.
    *
    * Keyed on user_id: the silver table holds each user's latest event.
    */
  def streamUpsertLatestByUser(
      spark: SparkSession,
      parquetDir: String,
      outDir: String,
      checkpointDir: String,
      glob: String = "events.parquet"): StreamingQuery = {
    val stream = graft.model.Tables.eventStream(spark, parquetDir, glob,
      options = Map("maxFilesPerTrigger" -> "1"))
    stream.writeStream
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], batchId: Long) =>
        val spark2 = batch.sparkSession
        val latest = batch
          .groupBy(col("user_id"))
          .agg(max(struct(col("ts"), col("event_id"), col("event_type"), col("value"))).as("m"))
          .select(col("user_id"), col("m.ts").as("ts"), col("m.event_id").as("event_id"),
            col("m.event_type").as("event_type"), col("m.value").as("value"))
        val target = new org.apache.hadoop.fs.Path(outDir)
        val bak = new org.apache.hadoop.fs.Path(outDir + ".bak")
        val fs = target.getFileSystem(spark2.sparkContext.hadoopConfiguration)
        if (fs.exists(bak) && !fs.exists(target)) fs.rename(bak, target)
        val merged =
          if (!fs.exists(target)) latest
          else {
            val existing = spark2.read.parquet(outDir)
            // keep existing rows only when the batch has no newer row,
            // and batch rows only when they beat the existing row
            val e = existing.select(col("user_id"), struct(col("ts"), col("event_id"),
              col("event_type"), col("value")).as("row"))
            val b = latest.select(col("user_id"), struct(col("ts"), col("event_id"),
              col("event_type"), col("value")).as("row"))
            e.unionByName(b)
              .groupBy(col("user_id")).agg(max(col("row")).as("m"))
              .select(col("user_id"), col("m.ts").as("ts"), col("m.event_id").as("event_id"),
                col("m.event_type").as("event_type"), col("m.value").as("value"))
          }
        val tmp = outDir + s"__stage_$batchId"
        merged.write.mode("overwrite").parquet(tmp)
        fs.delete(bak, true)
        if (fs.exists(target)) fs.rename(target, bak)
        fs.rename(new org.apache.hadoop.fs.Path(tmp), target)
        fs.delete(bak, true)
        ()
      }
      .option("checkpointLocation", checkpointDir)
      .trigger(Trigger.AvailableNow())
      .start()
  }

  /** Streaming twin of [[sessionize]]: watermarked `session_window`
    * aggregation in Append mode. A session row is emitted exactly once —
    * when the watermark passes its end (last event + gap), i.e. when no
    * late event could extend or merge it — and its state is dropped;
    * bounded state by construction.
    */
  def streamSessionize(
      spark: SparkSession,
      parquetDir: String,
      queryName: String,
      gap: String = "30 minutes",
      watermark: String = "30 minutes",
      glob: String = "events.parquet"): StreamingQuery =
    eventStream(spark, parquetDir, glob)
      .withWatermark("ts", watermark)
      .groupBy(session_window(col("ts"), gap).as("w"), col("user_id"))
      .agg(count(lit(1)).as("n_events"), round(sum(col("value")), 4).as("sum_value"))
      .select(
        col("user_id"),
        col("w.start").cast("long").as("session_start_sec"),
        col("w.end").cast("long").as("session_end_sec"),
        col("n_events"), col("sum_value"))
      .writeStream
      .outputMode("append")
      .format("memory")
      .queryName(queryName)
      .trigger(Trigger.AvailableNow())
      .start()
}
