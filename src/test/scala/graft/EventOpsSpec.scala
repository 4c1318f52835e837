package graft

import org.apache.spark.sql.functions._

import graft.model.Tables
import graft.streaming.EventOps

class EventOpsSpec extends GraftSpec {
  import spark.implicits._

  private lazy val events = Tables.events(spark, sfDir).cache()

  test("sessions per user are disjoint and ordered, gap respected") {
    val sessions = EventOps.sessionize(events, "30 minutes").collect()
    sessions.groupBy(_.getLong(0)).foreach { case (_, rows) =>
      val sorted = rows.sortBy(_.getLong(1))
      sorted.sliding(2).foreach {
        case Array(a, b) =>
          // next session starts at/after previous end (gap >= 30min)
          assert(b.getLong(1) >= a.getLong(2))
        case _ =>
      }
    }
    assert(sessions.map(_.getLong(3)).sum === events.count())
  }

  test("tumbling window counts cover all events") {
    val w = EventOps.tumblingCounts(events, "10 minutes")
    assert(w.agg(sum($"n")).head().getLong(0) === events.count())
    // window starts are aligned to 600s
    assert(w.filter($"window_start_sec" % 600 =!= 0).count() === 0)
  }

  test("streaming twin of tumbling counts equals the batch result") {
    val q = EventOps.streamTumblingCounts(spark, sfDir, "stream_out")
    q.processAllAvailable()
    q.stop()
    val stream = spark.table("stream_out")
      .select($"window_start_sec", $"event_type", $"n")
    val batch = EventOps.tumblingCounts(events, "10 minutes")
      .select($"window_start_sec", $"event_type", $"n")
    assert(stream.except(batch).count() === 0 && batch.except(stream).count() === 0)
  }

  test("streaming sessionize equals batch regardless of the micro-batch split") {
    // the decimal-sum shape of the batch computation, for value parity
    def batchSessions = events
      .groupBy(session_window($"ts", "30 minutes").as("w"), $"user_id")
      .agg(count(lit(1)).as("n_events"),
        sum($"value".cast("decimal(18,2)")).as("sum_value_dec"))
      .select($"user_id", $"w.start".cast("long").as("session_start_sec"),
        $"w.end".cast("long").as("session_end_sec"), $"n_events",
        round($"sum_value_dec".cast("double"), 4).as("sum_value"))
    // two different shatters: session state must extend identically
    for (n <- Seq(2, 5)) {
      val phases = scala.collection.mutable.Map.empty[String, Long]
      val stream = EventOps.streamSessionizeFromBatch(spark, events, nFiles = n,
        onPhase = (k, v) => phases.put(k, v))
      val total = stream.count()
      assert(total > 0)
      assert(stream.except(batchSessions).count() === 0 &&
        batchSessions.except(stream).count() === 0,
        s"stream != batch with a $n-file split")
      // the scale-correct sink shape (r18 verdict #5): closed sessions
      // are emitted INCREMENTALLY under the watermark (append mode to a
      // file sink, ≥2 distinct micro-batches committing data — not one
      // big re-materialization at the end), and nothing is lost
      assert(phases("emit_batches") >= 2,
        s"append-mode sink must emit across multiple micro-batches (n=$n)")
      assert(phases("flushed_total") >= total,
        "the flush emits every remaining real session (+ nothing lost)")
    }
  }

  test("streaming sessionize accepts a NON-fixture schema (sentinels derive from it)") {
    // r19 ADVICE: the watermark-flush sentinels were a hard-coded
    // 6-tuple mirroring the events fixture, so any caller with a
    // different layout failed at runtime despite the generic signature.
    // They now derive from events.schema — the REQUIRED columns are
    // (user_id, ts, value); the fixture's event_id/event_type/props are
    // not. Pin with a frame that drops those three, adds a column the
    // fixture lacks, and types value as LONG (the old sentinel
    // hard-coded a 0.0 double at value's position — the exact failure
    // the ADVICE named).
    val custom = events
      .select($"user_id", $"ts",
        ceil($"value").cast("long").as("value"), // non-double measure
        lit("x").as("extra"))                    // column the fixture lacks
    val out = EventOps.streamSessionizeFromBatch(spark, custom, nFiles = 3)
    val batch = custom
      .groupBy(session_window($"ts", "30 minutes").as("w"), $"user_id")
      .agg(count(lit(1)).as("n_events"),
        sum($"value".cast("decimal(18,2)")).as("sum_value_dec"))
      .select($"user_id", $"w.start".cast("long").as("session_start_sec"),
        $"w.end".cast("long").as("session_end_sec"), $"n_events",
        round($"sum_value_dec".cast("double"), 4).as("sum_value"))
    assert(out.count() > 0)
    assert(out.select("user_id", "session_start_sec", "session_end_sec", "n_events")
      .except(batch.select("user_id", "session_start_sec", "session_end_sec", "n_events"))
      .count() === 0, "session boundaries must match the batch sessionize")
  }

  test("streaming pivot (conditional agg) equals the batch .pivot()") {
    val types = Seq("click", "error", "purchase", "signup", "view")
    val q = EventOps.streamPivotCounts(spark, sfDir, "pivot_stream", types, "1 hour")
    q.processAllAvailable()
    q.stop()
    val stream = spark.table("pivot_stream")
    val batch = events
      .groupBy(window($"ts", "1 hour").as("w"))
      .pivot("event_type", types)
      .agg(count(lit(1)))
      .na.fill(0L)
      .select($"w.start".cast("long").as("window_start_sec") +: types.map(col): _*)
    assert(stream.count() > 0)
    assert(stream.except(batch).count() === 0 && batch.except(stream).count() === 0)
  }

  test("rollup derived from the fine-grain stream equals the batch rollup") {
    // Streaming allows ONE aggregation per query, so multi-level
    // grouping sets stream as their finest grain; coarser levels are
    // exact re-aggregations of that result (counts are re-summable) —
    // the standard at-scale pattern for streaming OLAP cubes. Parity:
    // (window, event_type) stream rolled up == batch events.rollup.
    val q = EventOps.streamTumblingCounts(spark, sfDir, "rollup_stream", "1 hour")
    q.processAllAvailable()
    q.stop()
    val fine = spark.table("rollup_stream") // window_start_sec, event_type, n
    val derived = fine
      .rollup($"window_start_sec", $"event_type")
      .agg(sum($"n").as("n"))
    val batch = events
      .rollup(window($"ts", "1 hour")("start").cast("long").as("window_start_sec"),
        $"event_type")
      .agg(count(lit(1)).as("n"))
    assert(derived.except(batch).count() === 0 && batch.except(derived).count() === 0)
  }

  test("first event per (user, type) is minimal by (ts, event_id)") {
    val firsts = EventOps.firstEventPerUserType(events)
    val viaWindow = events
      .withColumn("rk", row_number().over(
        org.apache.spark.sql.expressions.Window
          .partitionBy($"user_id", $"event_type").orderBy($"ts", $"event_id")))
      .filter($"rk" === 1)
      .select($"user_id", $"event_type", $"event_id".as("first_event_id"))
    assert(firsts.select("user_id", "event_type", "first_event_id")
      .except(viaWindow).count() === 0)
  }

  test("streaming session_window emits exactly the watermark-closed sessions") {
    val q = EventOps.streamSessionize(spark, sfDir, "sessions_sw")
    q.processAllAvailable()
    q.stop()
    val emitted = spark.table("sessions_sw")
      .select($"user_id", $"session_start_sec", $"session_end_sec", $"n_events")
    // Exact micros-level oracle (cf. StatefulOpsSpec): append-mode
    // session_window emits a session once the watermark (max event ms -
    // 30 min delay) passes its end (last event + gap); later sessions
    // stay open in state.
    val gapUs = 30L * 60 * 1000000
    val gapSec = 30L * 60
    val ev = events.select($"user_id", unix_micros($"ts").as("ts_us"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy($"user_id").orderBy($"ts_us")
    val sess = ev
      .withColumn("prev", lag($"ts_us", 1).over(w))
      .withColumn("new_sess", when($"prev".isNull || $"ts_us" - $"prev" >= gapUs, 1).otherwise(0))
      .withColumn("sid", sum($"new_sess").over(w))
      .groupBy($"user_id", $"sid")
      .agg(min($"ts_us").as("start_us"), max($"ts_us").as("last_us"), count(lit(1)).as("n_events"))
    val wmMs = ev.agg(max($"ts_us")).head().getLong(0) / 1000L - 30L * 60 * 1000
    val expected = sess
      .filter(expr("(last_us + 1800000000) div 1000") < wmMs)
      .select($"user_id",
        expr("start_us div 1000000").as("session_start_sec"),
        (expr("last_us div 1000000") + gapSec).as("session_end_sec"),
        $"n_events")
    assert(emitted.count() === expected.count())
    assert(emitted.except(expected).count() === 0 && expected.except(emitted).count() === 0)
  }

  private def drainUpsert(srcDir: String, out: String, ckpt: String): Unit = {
    val q = EventOps.streamUpsertLatestByUser(spark, srcDir, out, ckpt,
      glob = "*.parquet")
    q.processAllAvailable()
    q.stop()
  }

  private def assertLatestPerUser(out: String): Unit = {
    val silver = spark.read.parquet(out)
    val expected = events
      .groupBy($"user_id")
      .agg(max(struct($"ts", $"event_id", $"event_type", $"value")).as("m"))
      .select($"user_id", $"m.ts".as("ts"), $"m.event_id".as("event_id"),
        $"m.event_type".as("event_type"), $"m.value".as("value"))
    assert(silver.count() === expected.count())
    assert(silver.except(expected).count() === 0 && expected.except(silver).count() === 0)
  }

  test("foreachBatch upsert converges to latest-per-user across micro-batches") {
    val base = GraftSpec.tempDir("graft_upsert")
    // shatter the fixture into several files -> maxFilesPerTrigger=1
    // forces multiple micro-batches, so the merge path actually runs
    val srcDir = base.resolve("src").toString
    events.repartition(3).write.parquet(srcDir)
    val out = base.resolve("silver").toString
    drainUpsert(srcDir, out, base.resolve("ckpt").toString)
    assertLatestPerUser(out)
  }

  test("foreachBatch upsert restores a silver table stranded in .bak by a crashed swap") {
    // A crash between the swap's two renames leaves the live dir gone
    // and the previous table in `.bak`. The next batch must restore it
    // before merging, or the silver table would hold only that batch.
    val base = GraftSpec.tempDir("graft_upsert_bak")
    val srcDir = base.resolve("src").toString
    val late = $"event_id" % 5 === 0
    events.filter(!late).repartition(2).write.parquet(srcDir)
    val out = base.resolve("silver").toString
    val ckpt = base.resolve("ckpt").toString
    drainUpsert(srcDir, out, ckpt)
    java.nio.file.Files.move(java.nio.file.Paths.get(out),
      java.nio.file.Paths.get(out + ".bak"))
    events.filter(late).coalesce(1).write.mode("append").parquet(srcDir)
    drainUpsert(srcDir, out, ckpt)
    assert(!java.nio.file.Files.exists(java.nio.file.Paths.get(out + ".bak")))
    assertLatestPerUser(out)
  }

  test("streaming parquet sink lands exactly the batch rows") {
    val base = GraftSpec.tempDir("graft_sink")
    val out = base.resolve("out").toString
    val ckpt = base.resolve("ckpt").toString
    val q = EventOps.streamEventsToParquet(spark, sfDir, out, ckpt)
    q.processAllAvailable()
    q.stop()
    val landed = spark.read.parquet(out)
    assert(landed.count() === events.count())
    val a = landed.select($"event_id", $"user_id", $"event_type")
    val b = events.select($"event_id", $"user_id", $"event_type")
    assert(a.except(b).count() === 0 && b.except(a).count() === 0)
  }
}
