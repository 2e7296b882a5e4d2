package graft

import java.nio.file.Files
import java.sql.Timestamp
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.streaming.Ingest

/** Streaming ingestion semantics (SURVEY ST1-ST7) driven through real
  * Structured Streaming file sources with AvailableNow triggers — the
  * same downstream graph a Kafka source would feed. */
class IngestSpec extends AnyFunSuite with SparkSuite {
  import spark.implicits._

  private def ts(s: String) = Timestamp.valueOf(s)
  private def tmp(prefix: String) =
    Files.createTempDirectory(prefix).toString

  test("upsertBatch: last-write-wins per key, in-batch dedup by version (ST3/ST7)") {
    val store = tmp("graft-store") + "/feature_table"
    Ingest.upsertBatch(
      Seq((1L, "a", 1L), (2L, "b", 1L)).toDF("k", "v", "version"),
      store, Seq("k"), "version")
    // second batch: duplicate key inside the batch resolves to highest
    // version BEFORE merging; existing key 2 overwritten; key 3 inserted
    Ingest.upsertBatch(
      Seq((1L, "a2", 2L), (1L, "a3", 3L), (2L, "b2", 2L), (3L, "c", 1L))
        .toDF("k", "v", "version"),
      store, Seq("k"), "version")
    val out = spark.read.parquet(store).as[(Long, String, Long)]
      .collect().sortBy(_._1)
    assert(out === Array((1L, "a3", 3L), (2L, "b2", 2L), (3L, "c", 1L)))
  }

  test("file stream -> upsertSink applies every micro-batch exactly once (ST1)") {
    val src = tmp("graft-src")
    val store = tmp("graft-sink") + "/feature_table"
    val ckpt = tmp("graft-ckpt")
    Seq((1L, "x", 1L), (2L, "y", 1L)).toDF("k", "v", "version")
      .write.mode("append").parquet(src)
    val schema = spark.read.parquet(src).schema
    val q = Ingest.upsertSink(
      Ingest.fileSource(spark, src, schema), store, Seq("k"), "version", ckpt)
      .start()
    q.awaitTermination()
    // late-arriving file: restart from the checkpoint picks up ONLY the new file
    Seq((2L, "y2", 2L)).toDF("k", "v", "version")
      .write.mode("append").parquet(src)
    val q2 = Ingest.upsertSink(
      Ingest.fileSource(spark, src, schema), store, Seq("k"), "version", ckpt)
      .start()
    q2.awaitTermination()
    val out = spark.read.parquet(store).as[(Long, String, Long)]
      .collect().sortBy(_._1)
    assert(out === Array((1L, "x", 1L), (2L, "y2", 2L)))
  }

  test("incrementalAggSink: streamed state merge equals full recompute") {
    val src = tmp("graft-inc-src")
    val store = tmp("graft-inc-store") + "/agg_state"
    val ckpt = tmp("graft-inc-ckpt")
    Seq(("a", 1.5), ("a", 2.5), ("b", 10.0)).toDF("k", "value")
      .write.mode("append").parquet(src)
    val schema = spark.read.parquet(src).schema
    Ingest.incrementalAggSink(Ingest.fileSource(spark, src, schema),
      store, Seq("k"), "value", ckpt).start().awaitTermination()
    // second batch arrives later; only IT is scanned, state is merged
    Seq(("a", -1.0), ("c", 7.0)).toDF("k", "value")
      .write.mode("append").parquet(src)
    Ingest.incrementalAggSink(Ingest.fileSource(spark, src, schema),
      store, Seq("k"), "value", ckpt).start().awaitTermination()
    val got = graft.operators.Incremental
      .finish(spark.read.parquet(store), Seq("k"))
      .collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getDouble(2)))).toMap
    assert(got === Map("a" -> ((3L, 3.0)), "b" -> ((1L, 10.0)),
      "c" -> ((1L, 7.0))))
  }

  test("incrementalAgg replay marker is scoped: a fresh checkpoint's " +
      "batch 0 must apply, a same-scope replay must not") {
    val store = tmp("graft-inc-scope") + "/state"
    val df = Seq(("a", 1.0)).toDF("k", "value")
    Ingest.incrementalAggBatch(df, store, Seq("k"), "value",
      batchId = 5L, scopeId = "ckpt-A")
    // same scope, same id → replay → skipped
    Ingest.incrementalAggBatch(df, store, Seq("k"), "value",
      batchId = 5L, scopeId = "ckpt-A")
    // DIFFERENT scope (stream restarted on a fresh checkpoint dir —
    // ids restart at 0): must apply, NOT be mistaken for a replay
    Ingest.incrementalAggBatch(df, store, Seq("k"), "value",
      batchId = 0L, scopeId = "ckpt-B")
    val cnt = spark.read.parquet(store)
      .filter($"k" === "a").select($"cnt").as[Long].head()
    assert(cnt === 2L) // A:5 applied once + B:0 applied; A-replay skipped
  }

  test("batch-mode incrementalAgg rewrite preserves the stream's marker") {
    val store = tmp("graft-inc-keep") + "/state"
    val df = Seq(("a", 1.0)).toDF("k", "value")
    Ingest.incrementalAggBatch(df, store, Seq("k"), "value",
      batchId = 3L, scopeId = "ckpt-A")
    // batch-mode call (no batchId): applies, and must carry the marker
    Ingest.incrementalAggBatch(df, store, Seq("k"), "value")
    // the stream replays batch 3 → still recognized → skipped
    Ingest.incrementalAggBatch(df, store, Seq("k"), "value",
      batchId = 3L, scopeId = "ckpt-A")
    val cnt = spark.read.parquet(store)
      .filter($"k" === "a").select($"cnt").as[Long].head()
    assert(cnt === 2L)
  }

  test("corrupt replay marker: batch applies instead of failing") {
    val store = tmp("graft-inc-corrupt") + "/state"
    val df = Seq(("a", 1.0)).toDF("k", "value")
    Ingest.incrementalAggBatch(df, store, Seq("k"), "value",
      batchId = 1L, scopeId = "ckpt-A")
    // truncate the marker to garbage
    java.nio.file.Files.write(
      java.nio.file.Paths.get(store, "_graft_last_batch_id"),
      "not-a-number".getBytes("UTF-8"))
    Ingest.incrementalAggBatch(df, store, Seq("k"), "value",
      batchId = 1L, scopeId = "ckpt-A") // would be a replay, but the
      // marker is unreadable → safe default is to apply
    val cnt = spark.read.parquet(store)
      .filter($"k" === "a").select($"cnt").as[Long].head()
    assert(cnt === 2L)
  }

  test("jsonEvents decodes typed columns; malformed rows null out (F14/ST8)") {
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(
      StructField("user_id", LongType), StructField("catalog_id", StringType),
      StructField("clicked_at", TimestampType)))
    val raw = Seq(
      ("""{"user_id": 7, "catalog_id": "c1", "clicked_at": "2024-01-01 10:00:00"}""", 0L),
      ("""not json""", 1L)).toDF("value", "offset")
    val out = Ingest.jsonEvents(raw, "value", schema)
    assert(out.columns.toSeq === Seq("offset", "user_id", "catalog_id", "clicked_at"))
    val good = out.filter($"user_id".isNotNull)
      .select($"user_id", $"catalog_id").as[(Long, String)].collect()
    assert(good === Array((7L, "c1")))
    assert(out.filter($"user_id".isNull).count() === 1)
    // keyString builds the reference's "|"-joined composite cache key (F9)
    val ks = out.filter($"user_id".isNotNull)
      .select(graft.operators.FeatureStore.keyString(Seq("user_id", "catalog_id")))
      .as[String].head()
    assert(ks === "7|c1")
    // dead-letter routing: malformed rows land in the DLQ, valid flow on
    val dlq = tmp("graft-dlq") + "/bad"
    val valid = Ingest.withDeadLetter(out, "user_id", dlq)
    assert(valid.count() === 1)
    assert(spark.read.parquet(dlq).count() === 1)
  }

  test("weeklyCounts groups by event-time week under a watermark (ST5/ST6)") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Long, Timestamp)]
    val counts = Ingest.weeklyCounts(
      mem.toDF.toDF("user_id", "ts"), horizon = "14 days")
    val q = counts.writeStream.format("memory").queryName("weekly")
      .outputMode("update").start()
    mem.addData((1L, ts("2024-01-01 10:00:00")), (1L, ts("2024-01-02 10:00:00")),
      (1L, ts("2024-01-09 10:00:00")), (2L, ts("2024-01-01 12:00:00")))
    q.processAllAvailable()
    q.stop()
    val rows = spark.table("weekly")
      .select($"user_id", date_format($"week.start", "yyyy-MM-dd").as("w"), $"n_events")
      .as[(Long, String, Long)].collect().toSet
    // 7-day tumbling windows are epoch-aligned (Thursdays), not ISO weeks
    assert(rows.map { case (u, _, n) => (u, n) } ===
      Set((1L, 2L), (1L, 1L), (2L, 1L)))
  }

  test("streamIntervalJoin: clicks meet purchases inside the horizon only") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    val clicks = MemoryStream[(Long, Long, Timestamp)]
    val purchases = MemoryStream[(Long, Long, Timestamp)]
    val joined = Ingest.streamIntervalJoin(
      clicks.toDF.toDF("user_id", "click_id", "cts"),
      purchases.toDF.toDF("user_id", "purchase_id", "pts"),
      keys = Seq("user_id"), horizon = "1 hour",
      leftTs = "cts", rightTs = "pts")
    val q = joined.select("click_id", "purchase_id")
      .writeStream.format("memory").queryName("attrib")
      .outputMode("append").start()
    clicks.addData(
      (1L, 10L, ts("2024-01-01 10:00:00")),
      (2L, 20L, ts("2024-01-01 10:00:00")))
    purchases.addData(
      (1L, 100L, ts("2024-01-01 10:30:00")), // inside horizon → match
      (1L, 101L, ts("2024-01-01 12:00:00")), // outside → no match
      (2L, 200L, ts("2024-01-01 09:00:00"))) // before click → no match
    q.processAllAvailable()
    q.stop()
    val rows = spark.table("attrib").as[(Long, Long)].collect().toSet
    assert(rows === Set((10L, 100L)))
  }

  test("statefulMergeCapRows: generic schema, same bounded-bucket semantics") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    val base = 1704067200000L
    val mem = MemoryStream[(Long, Long, Long, String)]
    val merged = Ingest.statefulMergeCapRows(
      mem.toDF.toDF("user_id", "event_id", "ts", "payload"),
      keyCols = Seq("user_id"), tsCol = "ts", tieCol = "event_id", cap = 2)
    val q = merged.writeStream.format("memory").queryName("merged_rows")
      .outputMode("update").start()
    mem.addData((1L, 10L, base + 1000, "a"), (1L, 11L, base + 2000, "b"),
      (1L, 12L, base + 3000, "c"))
    q.processAllAvailable()
    mem.addData((1L, 13L, base + 4000, "d"))
    q.processAllAvailable()
    q.stop()
    val out = spark.table("merged_rows")
      .as[(Long, Long, Long, String, Long)].collect()
    val maxRev = out.map(_._5).max
    val latest = out.filter(_._5 == maxRev).map(r => (r._2, r._4)).toSet
    assert(latest === Set((13L, "d"), (12L, "c"))) // newest 2, payload intact
  }

  test("statefulMergeCap keeps the newest `cap` per (user, week) across batches (ST7)") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import graft.streaming.{MergedEvent, StreamEvent}
    implicit val sqlCtx = spark.sqlContext
    val week0 = 1704067200000L // 2024-01-01, all within one epoch week bucket? no — fixed base
    val mem = MemoryStream[StreamEvent]
    val merged = Ingest.statefulMergeCap(mem.toDS(), cap = 3)
    val q = merged.writeStream.format("memory").queryName("merged")
      .outputMode("update").start()
    // batch 1: four events in one (user, week) bucket → capped to 3 newest
    mem.addData(
      StreamEvent(1L, 10L, week0 + 1000), StreamEvent(1L, 11L, week0 + 2000),
      StreamEvent(1L, 12L, week0 + 3000), StreamEvent(1L, 13L, week0 + 4000))
    q.processAllAvailable()
    // batch 2: a newer event displaces the oldest survivor; another user
    mem.addData(StreamEvent(1L, 14L, week0 + 5000), StreamEvent(2L, 20L, week0 + 1000))
    q.processAllAvailable()
    q.stop()
    val out = spark.table("merged").as[MergedEvent].collect()
    val latest = out.groupBy(e => (e.user_id, e.week_idx)).map { case (_, es) =>
      val maxRev = es.map(_.rev).max
      es.filter(_.rev == maxRev).map(e => (e.user_id, e.event_id)).toSet
    }.toSet
    assert(latest === Set(
      Set((1L, 14L), (1L, 13L), (1L, 12L)), // newest 3 after both batches
      Set((2L, 20L))))
  }

  test("sessionWindows: gap-based sessions close when the watermark passes") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Long, Timestamp)]
    val sessions = Ingest.sessionWindows(
      mem.toDF.toDF("user_id", "ts"), gap = "10 minutes",
      watermarkDelay = "1 minute")
    val q = sessions.writeStream.format("memory").queryName("sessions")
      .outputMode("append").start()
    mem.addData(
      (1L, ts("2024-01-01 10:00:00")), (1L, ts("2024-01-01 10:05:00")),
      (1L, ts("2024-01-01 10:12:00")), // within gap → same session
      (1L, ts("2024-01-01 11:00:00")), // > 10 min later → new session
      (2L, ts("2024-01-01 10:00:00")))
    q.processAllAvailable()
    // push the watermark far past every session's close
    mem.addData((9L, ts("2024-01-02 00:00:00")))
    q.processAllAvailable()
    q.stop()
    val rows = spark.table("sessions")
      .select($"user_id", $"n_events").as[(Long, Long)].collect()
      .groupBy(_._1).view.mapValues(_.map(_._2).sorted.toSeq).toMap
    assert(rows(1L) === Seq(1L, 3L)) // [10:00-10:12+gap]=3 events, [11:00]=1
    assert(rows(2L) === Seq(1L))
  }

  test("streamingSessionize: cross-batch continuation, data-path and " +
      "timeout closes, batch-equal indexes") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Long, Long, Long)] // (user, event_id, ts ms)
    def ms(s: String): Long = ts(s).getTime
    val sessions = Ingest.streamingSessionize(
      mem.toDF.toDF("user_id", "event_id", "ts"),
      gapMs = 600000L, watermarkDelay = "1 minute")
    val q = sessions.toDF.writeStream.format("memory")
      .queryName("tsessions").outputMode("append").start()
    // batch 1: user 1 has an open session; user 2 too
    mem.addData(
      (1L, 1L, ms("2024-01-01 10:00:00")),
      (1L, 2L, ms("2024-01-01 10:05:00")),
      (2L, 3L, ms("2024-01-01 10:01:00")))
    q.processAllAvailable()
    // batch 2: user 1's session CONTINUES across the batch boundary
    // (10:08 within gap of 10:05), then a far event closes it on the
    // data path; user 2 gets nothing — their session must close via
    // EventTimeTimeout once the watermark passes 10:01 + gap
    mem.addData(
      (1L, 4L, ms("2024-01-01 10:08:00")),
      (1L, 5L, ms("2024-01-01 11:00:00")))
    q.processAllAvailable()
    // batch 3: a probe advances the watermark to ~12:29 so user 2's
    // session times out (and user 1's second, via the no-data batch);
    // kept within the 64-gap index retention and below user 2's
    // return time so the return is neither late nor forgotten
    mem.addData((9L, 99L, ms("2024-01-01 12:30:00")))
    q.processAllAvailable()
    // batch 4: user 2 RETURNS after their timeout-close — the index
    // marker must continue the numbering at 2, not restart at 1
    mem.addData((2L, 6L, ms("2024-01-01 13:00:00")))
    q.processAllAvailable()
    // batch 5: close user 2's second session via the data path
    mem.addData((2L, 7L, ms("2024-01-01 15:00:00")))
    q.processAllAvailable()
    q.stop()
    val got = spark.table("tsessions")
      .select($"user_id", $"session_idx", $"start_ts", $"end_ts",
        $"n_events")
      .as[(Long, Long, Long, Long, Long)].collect().toSet
    // user 1 session 1: 10:00–10:08 (3 events, continued across
    // batches), session 2: the 11:00 single (closed by timeout);
    // user 2 session 1: the 10:01 single (closed by timeout), then
    // session 2 (post-timeout return — index continued) closed by the
    // 12:00 data-path event
    assert(got.contains((1L, 1L, ms("2024-01-01 10:00:00"),
      ms("2024-01-01 10:08:00"), 3L)))
    assert(got.contains((1L, 2L, ms("2024-01-01 11:00:00"),
      ms("2024-01-01 11:00:00"), 1L)))
    assert(got.contains((2L, 1L, ms("2024-01-01 10:01:00"),
      ms("2024-01-01 10:01:00"), 1L)))
    assert(got.contains((2L, 2L, ms("2024-01-01 13:00:00"),
      ms("2024-01-01 13:00:00"), 1L)))
    // the probe user's session also times out once batch 4/5 advance
    // the watermark past 12:40; only user 2's trailing 15:00 session
    // stays open — nothing else leaked
    assert(got.contains((9L, 1L, ms("2024-01-01 12:30:00"),
      ms("2024-01-01 12:30:00"), 1L)))
    assert(got.map(_._1) === Set(1L, 2L, 9L))
    assert(got.size === 5)
    // matches the batch twin on the closed set (batch numbering
    // includes the post-timeout continuation)
    val batch = graft.operators.InteractionStore.sessionize(
        Seq((1L, 1L, ms("2024-01-01 10:00:00")),
          (1L, 2L, ms("2024-01-01 10:05:00")),
          (2L, 3L, ms("2024-01-01 10:01:00")),
          (1L, 4L, ms("2024-01-01 10:08:00")),
          (1L, 5L, ms("2024-01-01 11:00:00")),
          (2L, 6L, ms("2024-01-01 13:00:00")),
          (9L, 99L, ms("2024-01-01 12:30:00")))
          .toDF("user_id", "event_id", "__ms")
          .withColumn("ts", timestamp_millis(col("__ms"))),
        gap = "10 minutes")
      .groupBy($"user_id", $"session_idx")
      .agg(min($"__ms").as("s"), max($"__ms").as("e"),
        count(lit(1)).as("n"))
      .as[(Long, Long, Long, Long, Long)].collect().toSet
    assert(got === batch)
  }

  test("streamingSessionize: an all-late slice leaves the n=0 index " +
      "marker's retention timeout untouched (no renumbering)") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Long, Long, Long)]
    def ms(s: String): Long = ts(s).getTime
    val sessions = Ingest.streamingSessionize(
      mem.toDF.toDF("user_id", "event_id", "ts"),
      gapMs = 600000L, watermarkDelay = "1 minute")
    val q = sessions.toDF.writeStream.format("memory")
      .queryName("tlate_marker").outputMode("append").start()
    // batch 1: user 10 opens a session
    mem.addData((10L, 1L, ms("2024-01-01 10:00:00")))
    q.processAllAvailable()
    // batch 2: probe advances the watermark to 10:59 — past
    // 10:00 + gap, so user 10 timeout-closes and leaves an n=0
    // marker whose timeout is 10:00 + 64·gap (≈ 20:40)
    mem.addData((9L, 2L, ms("2024-01-01 11:00:00")))
    q.processAllAvailable()
    // batch 3: ONLY a sub-watermark straggler for user 10 (10:30 <
    // wm 10:59) — the slice is fully late-filtered (by Spark's own
    // FMGWS pre-filter today; by the handler's eviction-watermark
    // re-filter in a chained-stateful pipeline). Either way the
    // marker — and crucially its 64·gap retention timeout — must
    // survive untouched: re-arming the timeout to wm+1 here would
    // expire the marker on the next watermark advance
    mem.addData((10L, 3L, ms("2024-01-01 10:30:00")))
    q.processAllAvailable()
    // batch 4: advance the watermark again (11:59) — would fire the
    // clobbered wm+1 timeout and remove the marker
    mem.addData((9L, 4L, ms("2024-01-01 12:00:00")))
    q.processAllAvailable()
    // batch 5: user 10 returns within the retention window — the
    // numbering must CONTINUE at 2, not restart at 1
    mem.addData((10L, 5L, ms("2024-01-01 13:00:00")))
    q.processAllAvailable()
    // batch 6: close user 10's second session on the data path
    mem.addData((10L, 6L, ms("2024-01-01 15:00:00")))
    q.processAllAvailable()
    q.stop()
    val got = spark.table("tlate_marker")
      .select($"user_id", $"session_idx", $"start_ts", $"n_events")
      .as[(Long, Long, Long, Long)].collect().toSet
    assert(got.contains((10L, 1L, ms("2024-01-01 10:00:00"), 1L)))
    assert(got.contains((10L, 2L, ms("2024-01-01 13:00:00"), 1L)))
    assert(!got.exists(r => r._1 == 10L && r._2 == 1L &&
      r._3 == ms("2024-01-01 13:00:00"))) // the renumbering bug's shape
  }

  test("streamingSessionize: pre-1970 (negative ts) events are dropped " +
      "by SPARK's stateful watermark pre-filter — pinned ts >= 0 floor") {
    // Fact-check canary, not a wish: FlatMapGroupsWithStateExec with
    // EventTimeTimeout drops rows below the late-events watermark
    // BEFORE the handler, and the watermark starts at (and never goes
    // below) 0 — so negative-ts events are unreachable by the handler
    // from the very first batch, whatever the handler does. The batch
    // twin has no such floor; the operator scaladoc documents the
    // divergence and this test pins it so a Spark behavior change
    // surfaces loudly.
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Long, Long, Long)]
    val sessions = Ingest.streamingSessionize(
      mem.toDF.toDF("user_id", "event_id", "ts"),
      gapMs = 600000L, watermarkDelay = "1 minute")
    val q = sessions.toDF.writeStream.format("memory")
      .queryName("tneg_ts").outputMode("append").start()
    mem.addData((20L, 1L, -1000000L), (20L, 2L, -400000L))
    q.processAllAvailable()
    // a positive-ts event for the same user: opens session 1 (the
    // negative rows never reached the handler, so there is nothing to
    // close); a later far event closes it on the data path
    mem.addData((20L, 3L, 10000000L))
    q.processAllAvailable()
    mem.addData((20L, 4L, 20000000L))
    q.processAllAvailable()
    q.stop()
    val got = spark.table("tneg_ts")
      .select($"user_id", $"session_idx", $"start_ts", $"end_ts",
        $"n_events")
      .as[(Long, Long, Long, Long, Long)].collect().toSet
    assert(got === Set((20L, 1L, 10000000L, 10000000L, 1L)))
  }

  test("streamDedup drops redelivered keys within the watermark (ST8 replays)") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Long, Timestamp, String)]
    val deduped = Ingest.streamDedup(
      mem.toDF.toDF("event_id", "ts", "payload"),
      keyCols = Seq("event_id"), watermarkDelay = "1 hour")
    val q = deduped.writeStream.format("memory").queryName("deduped")
      .outputMode("append").start()
    mem.addData(
      (10L, ts("2024-01-01 10:00:00"), "a"),
      (10L, ts("2024-01-01 10:00:30"), "a-dup"), // same key, same batch
      (11L, ts("2024-01-01 10:01:00"), "b"))
    q.processAllAvailable()
    // a later batch redelivers key 10 within the watermark delay
    mem.addData((10L, ts("2024-01-01 10:20:00"), "a-redelivery"))
    q.processAllAvailable()
    q.stop()
    val out = spark.table("deduped").select($"event_id")
      .as[Long].collect().sorted
    assert(out === Array(10L, 11L)) // each key exactly once
  }

  test("streaming count-min state equals the batch sketch and " +
      "survives a no-new-data restart unchanged") {
    import graft.operators.{Incremental, Sketches}
    val base = java.nio.file.Files
      .createTempDirectory("graft-cms-stream").toString
    val in = s"$base/in"
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(in))
    val data = (0 until 300).map(i => Tuple1(s"k${i % 23}")).toDF("v")
    data.coalesce(1).write.parquet(s"$in/batch1")
    val schema = data.schema
    def runOnce(): Unit =
      Ingest.incrementalAggSink(
          Sketches.countMinRows(
            Ingest.fileSource(spark, s"$in/batch1", schema),
            "v", width = 8, depth = 3),
          s"$base/state", Seq("d", "bucket"), "one", s"$base/ckpt")
        .start().awaitTermination()
    runOnce()
    runOnce() // restart on the same checkpoint: state must not change
    val streamed = Incremental.finish(
        spark.read.parquet(s"$base/state"), Seq("d", "bucket"))
      .select($"d", $"bucket", $"cnt")
      .as[(Int, Long, Long)].collect().sorted.toSeq
    val batch = Sketches.countMinTable(data, "v", width = 8, depth = 3)
      .as[(Int, Long, Long)].collect().sorted.toSeq
    assert(streamed === batch)
    assert(streamed.map(_._3).sum === 900L) // 300 values x 3 rows
  }

  test("touch state: sharded batches merge to the full-history answer") {
    val store = Files.createTempDirectory("touch-state").toString + "/st"
    val rows = (1 to 300).map(i =>
      (i % 7L, new Timestamp(1700000000000L + i * 60000L)))
    val df = rows.toDF("k", "ts")
    // apply in three arbitrary shards
    Ingest.incrementalTouchBatch(df.filter(col("k") <= 2), store,
      Seq("k"), "ts", batchId = 0, scopeId = "s")
    Ingest.incrementalTouchBatch(df.filter(col("k") > 2), store,
      Seq("k"), "ts", batchId = 1, scopeId = "s")
    // a REPLAY of batch 1 must be skipped, not double-counted
    Ingest.incrementalTouchBatch(df.filter(col("k") > 2), store,
      Seq("k"), "ts", batchId = 1, scopeId = "s")
    val got = graft.operators.Incremental.finishTouch(
        spark.read.parquet(store), Seq("k"))
      .as[(Long, Long, Long, Long, Long)].collect().sorted.toSeq
    val expect = rows.groupBy(_._1).map { case (k, xs) =>
      val ms = xs.map(_._2.getTime)
      (k, ms.min, ms.max, xs.size.toLong, ms.max - ms.min)
    }.toSeq.sorted
    assert(got === expect)
  }

  test("moment state: sharded merge equals whole-history mean/variance") {
    val store = Files.createTempDirectory("mom-state").toString + "/st"
    val rnd = new scala.util.Random(67)
    val rows = (1 to 400).map(i => (i % 5L, rnd.nextInt(1000) / 10.0))
    val df = rows.toDF("k", "v")
    Ingest.incrementalMomentsBatch(df.filter(col("k") < 2), store,
      Seq("k"), "v", batchId = 0, scopeId = "m")
    Ingest.incrementalMomentsBatch(df.filter(col("k") >= 2), store,
      Seq("k"), "v", batchId = 1, scopeId = "m")
    // replay skipped
    Ingest.incrementalMomentsBatch(df.filter(col("k") >= 2), store,
      Seq("k"), "v", batchId = 1, scopeId = "m")
    val got = graft.operators.Incremental.finishMoments(
        spark.read.parquet(store), Seq("k"))
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getDouble(2), r.getDouble(3)))).toMap
    rows.groupBy(_._1).foreach { case (k, xs) =>
      val vs = xs.map(_._2)
      val mean = vs.sum / vs.size
      val varr = vs.map(v => v * v).sum / vs.size - mean * mean
      val (n, m, s2) = got(k)
      assert(n === vs.size.toLong)
      assert(math.abs(m - mean) < 1e-9)
      assert(math.abs(s2 - varr) < 1e-6, s"k=$k $s2 vs $varr")
    }
  }

  test("blockedBestMatch links within blocks only, naive-checked") {
    import graft.operators.EntityResolution
    val clean = Seq((1L, "alpha", 0L), (2L, "alphq", 0L),
      (3L, "alpha", 1L), (4L, "beta", 0L)).toDF("ckey", "cname", "block")
    val dirty = Seq((10L, "alpha", 0L), (11L, "betta", 0L),
      (12L, "alpha", 2L)).toDF("dkey", "dname", "block")
    val got = EntityResolution.blockedBestMatch(clean, dirty, maxDist = 2)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getInt(2), r.getLong(3)))).toMap
    // 10: block 0 candidates alpha(d0), alphq(d1), beta(d>2 excluded)
    assert(got(10L) === ((1L, 0, 2L)))
    // 11: betta->beta d1; alpha/alphq d>=4 out
    assert(got(11L) === ((4L, 1, 1L)))
    // 12: block 2 has no clean rows -> unmatched, absent
    assert(!got.contains(12L))
  }

  test("sessionConcurrencyCounts (sweep-line) equals the pair join " +
      "and a naive reimplementation") {
    import graft.operators.RangeJoin
    val rnd = new scala.util.Random(41)
    // 200 sessions over 40 users in a tight window (dense overlap),
    // including exact-boundary ties (start == another's end)
    val spans = (1L to 200L).map { i =>
      val u = i % 40
      val st = rnd.nextInt(5000).toLong * 100
      (u, i, st, st + 100 + rnd.nextInt(3000))
    }.toDF("user_id", "session_idx", "start_ms", "end_ms")
    // per-user disjointness precondition: rebuild per user as ordered
    // disjoint intervals
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("user_id")).orderBy(col("session_idx"))
    val disjoint = spans
      .withColumn("__k", row_number().over(w))
      .select(col("user_id"), col("session_idx"),
        (col("__k") * 10000L + col("start_ms") % 5000).as("start_ms"),
        (col("__k") * 10000L + col("start_ms") % 5000 + 100 +
          col("end_ms") % 3000).as("end_ms"))
    val pairwise = RangeJoin.sessionConcurrency(disjoint, binMs = 1000L)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val sweep = RangeJoin.sessionConcurrencyCounts(disjoint)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(sweep === pairwise)
    // independent naive check
    val rows = disjoint.collect()
      .map(r => (r.getLong(0), r.getLong(2), r.getLong(3)))
    val naive = rows.map { case (u, st, en) =>
      rows.count { case (u2, st2, en2) =>
        u2 != u && st2 <= en && st <= en2 }.toLong
    }.groupBy(identity).map { case (k, v) => k -> v.size.toLong }
    assert(sweep === naive)
  }

  test("blockedBestMatch maxBlock sub-split is identical on a " +
      "degenerate block") {
    import graft.operators.EntityResolution
    // one hot block: 120 of 140 clean rows share block 7 (the
    // half-the-table-one-key hazard); 20 cold rows spread over 20
    // blocks. Dirty rows are 2-edit corruptions of a sample of clean.
    val rnd = new scala.util.Random(53)
    def name(i: Long) = s"record-${i}-${"abcdefgh".drop((i % 7).toInt)}"
    val clean = ((1L to 120L).map(i => (i, name(i), 7L)) ++
      (121L to 140L).map(i => (i, name(i), i % 20 + 100L)))
      .toDF("ckey", "cname", "block")
    val dirty = (1L to 140L by 3).map { i =>
      val base = name(i)
      val cut = 1 + rnd.nextInt(base.length - 2)
      (i + 1000L, base.take(cut - 1) + base.drop(cut),
        if (i <= 120) 7L else i % 20 + 100L)
    }.toDF("dkey", "dname", "block")
    val plain = EntityResolution
      .blockedBestMatch(clean, dirty, maxDist = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2),
        r.getLong(3), r.getBoolean(4))).toSet
    assert(plain.nonEmpty)
    // maxBlock 16 forces ceil(120/16) = 8 sub-blocks on the hot block
    // and leaves cold blocks un-replicated; output must be
    // row-identical (same matches, same candidate counts)
    val capped = EntityResolution
      .blockedBestMatch(clean, dirty, maxDist = 2, maxBlock = 16)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2),
        r.getLong(3), r.getBoolean(4))).toSet
    assert(capped === plain)
  }
}
