package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{DataStreamWriter, GroupState, GroupStateTimeout, OutputMode, Trigger}
import org.apache.spark.sql.types.StructType
import graft.operators.FeatureStore
import graft.sources.Layout

/** One interaction event for the typed stateful merge (ST7). `ts` is
  * event-time epoch millis (the wire form of `clicked_at`). */
final case class StreamEvent(user_id: Long, event_id: Long, ts: Long)

/** Per-(user, week) state: the bounded newest-first event list, plus a
  * revision counter so consumers can pick each key's latest emission. */
final case class WeekBucketState(events: Array[StreamEvent], rev: Long)

/** Emitted row: the merged bucket content at revision `rev`. */
final case class MergedEvent(
    user_id: Long, event_id: Long, ts: Long, week_idx: Long, rev: Long)

/** One CLOSED session emitted by [[Ingest.streamingSessionize]] —
  * shape matches the batch twin
  * ([[graft.operators.InteractionStore.sessionize]] + span aggregate)
  * so the two results compare directly. `start_ts`/`end_ts` are in
  * the caller's `ts` unit (millis or micros). */
final case class SessionRow(user_id: Long, session_idx: Long,
    start_ts: Long, end_ts: Long, n_events: Long)

/** Per-user open-session state for [[Ingest.streamingSessionize]]:
  * O(1) per key — span bounds, event count, and the 1-based session
  * index carried across batches. */
final case class OpenSession(startMs: Long, lastMs: Long, n: Long,
    idx: Long)

/** [[StreamEvent]] plus the derived watermark column — the event-time
  * attribute must SURVIVE into the grouped dataset or Spark rejects
  * the event-time timeout ("watermark must be specified"). */
final case class TimedEvent(user_id: Long, event_id: Long, ts: Long,
    event_time: java.sql.Timestamp)

/** Streaming ingestion with upsert semantics (SURVEY §2.9, §3.2).
  *
  * The reference consumes Kafka in polled batches with manual commits
  * (at-least-once, `kafka.go:133-286`), hash-routes messages per entity
  * for per-key ordering (`getWorkerId`, kafka.go:308+), and overwrites
  * the whole feature group per key (last-write-wins,
  * `persist.go:73-105`). Structured Streaming's `foreachBatch` with an
  * idempotent merge is strictly stronger (effective exactly-once), and
  * `withWatermark` + weekly event-time windows reproduce the
  * interaction store's 24-week ring retention (ST5/ST6).
  *
  * The container has no Kafka broker, so sources here are
  * file/rate/memory streams; on a cluster the source swaps to
  * `readStream.format("kafka")` with the SAME downstream graph —
  * that's the whole point of declaring the pipeline over a DataFrame.
  */
object Ingest {

  /** Declarative source config — the ONE seam between the deployment's
    * transport and the processing graph. The container has no broker,
    * so every fixture runs a [[FileTopic]]; a broker-backed deployment
    * swaps in a [[KafkaTopic]] and every operator downstream of the
    * returned DataFrame — routing, dedup, stateful merge, upsert sink,
    * DLQ — runs unchanged, because the graph is declared over the
    * DataFrame, not the transport. */
  sealed trait SourceConf
  /** Staged-directory stream (the Kafka-topic stand-in). */
  final case class FileTopic(dir: String, schema: StructType,
      format: String = "parquet") extends SourceConf
  /** Broker-backed stream: value bytes decode through the same
    * [[jsonEvents]] path the consumers use (`kafka.go:133-226`'s
    * poll + unmarshal collapses into one declarative read). */
  final case class KafkaTopic(bootstrapServers: String, topic: String,
      payloadSchema: StructType, startingOffsets: String = "earliest")
    extends SourceConf

  /** Open a streaming source from its config. */
  def source(spark: SparkSession, conf: SourceConf): DataFrame = conf match {
    case FileTopic(dir, schema, fmt) =>
      spark.readStream.format(fmt).schema(schema).load(dir)
    case KafkaTopic(servers, topic, payload, offsets) =>
      jsonEvents(
        spark.readStream.format("kafka")
          .option("kafka.bootstrap.servers", servers)
          .option("subscribe", topic)
          .option("startingOffsets", offsets)
          .load()
          .select(col("value").cast("string").as("__payload")),
        "__payload", payload)
  }

  /** File-based streaming source ([[FileTopic]] shorthand). */
  def fileSource(spark: SparkSession, dir: String, schema: StructType,
      format: String = "parquet"): DataFrame =
    source(spark, FileTopic(dir, schema, format))

  /** Decode JSON event payloads into typed columns (SURVEY F14: the
    * Kafka click/order consumers' `json.Unmarshal`,
    * interaction-store/internal/data/model/click_event.go). Malformed
    * records yield null structs — filter or dead-letter them per ST8. */
  def jsonEvents(raw: DataFrame, jsonCol: String, schema: StructType): DataFrame =
    raw.withColumn("__ev", from_json(col(jsonCol), schema))
      .select(col("*"), col("__ev.*")).drop("__ev", jsonCol)

  /** ST2: hash-route rows so each entity key lands in one partition —
    * the consumer's per-key worker ordering (`getWorkerId`,
    * kafka.go:308+). With an idempotent MERGE sink this is a locality
    * optimization, not a correctness requirement. */
  def routeByKey(df: DataFrame, keyCols: Seq[String], partitions: Int): DataFrame =
    df.repartition(partitions, keyCols.map(col): _*)

  /** ST8 dead-letter routing: inside a foreachBatch, append rows that
    * failed decode (null `requiredCol`, the [[jsonEvents]] malformed
    * marker) to a DLQ path and return the valid remainder — the skye
    * realtime consumer's re-produce-on-error, minus the retry loop
    * (`skye/internal/consumers/listener/delta_realtime/realtime.go:48-82`). */
  def withDeadLetter(batch: DataFrame, requiredCol: String,
      dlqPath: String): DataFrame = {
    val bad = batch.filter(col(requiredCol).isNull)
    if (!bad.isEmpty) bad.write.mode("append").parquet(dlqPath)
    batch.filter(col(requiredCol).isNotNull)
  }

  /** foreachBatch upsert into a parquet table at `path` (ST1/ST3):
    * read-merge-overwrite with last-write-wins per key. On Delta/Iceberg
    * this becomes a storage-level MERGE INTO; parquet emulation keeps
    * identical semantics for the tests. Writes go through a staging
    * directory + atomic-ish swap so a crash never leaves a half table.
    */
  def upsertSink(
      stream: DataFrame,
      path: String,
      pk: Seq[String],
      versionCol: String,
      checkpoint: String): DataStreamWriter[org.apache.spark.sql.Row] =
    stream.writeStream
      .option("checkpointLocation", checkpoint)
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (batch: DataFrame, _: Long) =>
        upsertBatch(batch, path, pk, versionCol)
      }

  /** One micro-batch merge (also the batch-mode persist path, S2). */
  def upsertBatch(batch: DataFrame, path: String, pk: Seq[String],
      versionCol: String): Unit = {
    val spark = batch.sparkSession
    val latest = FeatureStore.latestPerKey(batch, pk, versionCol).cache()
    val target = new org.apache.hadoop.fs.Path(path)
    val fs = target.getFileSystem(spark.sparkContext.hadoopConfiguration)
    Layout.recoverSwap(fs, target)
    val merged =
      if (fs.exists(target))
        FeatureStore.mergeLatest(spark.read.parquet(path), latest, pk)
      else latest
    val staging = new org.apache.hadoop.fs.Path(path + "__staging")
    merged.write.mode("overwrite").parquet(staging.toString)
    Layout.swapInto(fs, staging, target)
    latest.unpersist()
  }

  /** Streaming incremental-aggregate maintenance: each micro-batch is
    * reduced to its per-key (count, decimal-sum) state and MERGED into
    * the persisted state table ([[graft.operators.Incremental]]) — the
    * streaming twin of delta-based materialized-view refresh. Only the
    * batch and the (key-cardinality-sized) state are touched per
    * trigger; raw history is never rescanned, and the merge is exact
    * regardless of how events were batched (decimal sums are
    * order-independent).
    *
    * Unlike last-write-wins MERGE ([[upsertSink]]), a count/sum merge
    * is NOT naturally idempotent, so the foreachBatch `batchId` is
    * recorded with the state and replayed batches (at-least-once
    * delivery after a crash between the state swap and the checkpoint
    * commit) are skipped instead of double-counted.
    */
  def incrementalAggSink(
      stream: DataFrame,
      path: String,
      keys: Seq[String],
      valueCol: String,
      checkpoint: String): DataStreamWriter[org.apache.spark.sql.Row] =
    stream.writeStream
      .option("checkpointLocation", checkpoint)
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        // the checkpoint path scopes the replay marker: batch ids only
        // mean "already applied" within ONE query lineage
        incrementalAggBatch(batch, path, keys, valueCol, batchId,
          scopeId = checkpoint)
      }

  /** Marker file recording the last applied foreachBatch id plus the
    * query scope (checkpoint path) it belongs to. It lives INSIDE the
    * state directory (underscore-prefixed — parquet readers ignore it),
    * so the [[graft.sources.Layout.swapInto]] sequence commits data +
    * marker together.
    *
    * The scope line exists because bare batch ids are only monotonic
    * within one checkpoint lineage: a stream restarted against a FRESH
    * checkpoint restarts ids at 0, and without the scope every new
    * batch would compare <= the recorded marker and be silently
    * dropped (same if two different queries ever wrote one path) —
    * the same scoping rule as Delta's idempotent `txnAppId`/`txnVersion`
    * writes. A marker from a different scope, or an unreadable one, is
    * ignored (the batch applies and overwrites it).
    */
  private val LastBatchMarker = "_graft_last_batch_id"

  /** Parse the marker → (lastBatchId, scopeId). Missing, truncated or
    * corrupt markers read as None: applying a batch is the safe default
    * (the merge-then-skip protection exists for replays; a garbled
    * marker must not fail the query or silently drop data forever). */
  private def readMarker(fs: org.apache.hadoop.fs.FileSystem,
      dir: org.apache.hadoop.fs.Path): Option[(Long, String)] = {
    val marker = new org.apache.hadoop.fs.Path(dir, LastBatchMarker)
    if (!fs.exists(marker)) None
    else scala.util.Try {
      // Try covers the READ too: a torn write/checksum error is the
      // same "marker unusable" case as garbled content
      val in = fs.open(marker)
      try scala.io.Source.fromInputStream(in).mkString
      finally in.close()
    }.toOption.flatMap { text =>
      val lines = text.split("\n", 2)
      scala.util.Try(lines(0).trim.toLong).toOption
        .map(id => (id, if (lines.length > 1) lines(1).trim else ""))
    }
  }

  private def writeMarker(fs: org.apache.hadoop.fs.FileSystem,
      dir: org.apache.hadoop.fs.Path, batchId: Long, scopeId: String): Unit = {
    val out = fs.create(new org.apache.hadoop.fs.Path(dir, LastBatchMarker), true)
    try out.write(s"$batchId\n$scopeId".getBytes("UTF-8"))
    finally out.close()
  }

  /** One micro-batch state merge (staging + swap like [[upsertBatch]]).
    * `batchId >= 0` makes the merge idempotent WITHIN `scopeId`: a
    * batch whose id is <= the state's recorded last-applied id for the
    * same scope is a replay and is skipped; markers from other scopes
    * (fresh checkpoint, different query) never suppress a batch.
    * Batch-mode callers may omit `batchId` (every call applies); the
    * existing marker is carried forward so a later streaming replay is
    * still recognized. */
  def incrementalAggBatch(batch: DataFrame, path: String, keys: Seq[String],
      valueCol: String, batchId: Long = Long.MinValue,
      scopeId: String = ""): Unit = {
    import graft.operators.Incremental
    val delta = Incremental.aggState(batch, keys, valueCol)
    incrementalStateBatch(delta, path,
      prior => Incremental.mergeStates(Seq(prior, delta), keys),
      batchId, scopeId)
  }

  /** The [[incrementalAggBatch]] kernel with a pluggable merge: any
    * per-key state whose columns form commutative monoids (sums,
    * min/max, counts) maintains itself through the same
    * staging-swap-marker machinery. `delta` is the batch already
    * reduced to state rows; `merge(prior, delta)` folds it into the
    * persisted table. */
  private def incrementalStateBatch(delta: DataFrame, path: String,
      merge: DataFrame => DataFrame, batchId: Long,
      scopeId: String): Unit = {
    val spark = delta.sparkSession
    val target = new org.apache.hadoop.fs.Path(path)
    val fs = target.getFileSystem(spark.sparkContext.hadoopConfiguration)
    Layout.recoverSwap(fs, target)
    val existing =
      if (fs.exists(target)) readMarker(fs, target) else None
    if (batchId != Long.MinValue &&
        existing.exists { case (id, sc) => sc == scopeId && batchId <= id })
      return
    val merged =
      if (fs.exists(target)) merge(spark.read.parquet(path))
      else delta
    val staging = new org.apache.hadoop.fs.Path(path + "__staging")
    merged.write.mode("overwrite").parquet(staging.toString)
    if (batchId != Long.MinValue)
      writeMarker(fs, staging, batchId, scopeId)
    else existing.foreach { case (id, sc) =>
      // batch-mode rewrite keeps the stream's replay protection intact
      writeMarker(fs, staging, id, sc)
    }
    Layout.swapInto(fs, staging, target)
  }

  /** First/last-touch state maintenance for one micro-batch —
    * [[graft.operators.Incremental.touchState]] through the same
    * idempotent staging/swap/marker kernel as the count/sum state. */
  def incrementalTouchBatch(batch: DataFrame, path: String,
      keys: Seq[String], tsCol: String, batchId: Long = Long.MinValue,
      scopeId: String = ""): Unit = {
    import graft.operators.Incremental
    val delta = Incremental.touchState(batch, keys, tsCol)
    incrementalStateBatch(delta, path,
      prior => Incremental.mergeTouchStates(Seq(prior, delta), keys),
      batchId, scopeId)
  }

  /** Second-moment state maintenance for one micro-batch — per-key
    * count/sum/sum-of-squares through the idempotent kernel, so an
    * anomaly baseline (mean ± k·σ per key) refreshes from deltas
    * without rescanning history. */
  def incrementalMomentsBatch(batch: DataFrame, path: String,
      keys: Seq[String], valueCol: String, batchId: Long = Long.MinValue,
      scopeId: String = ""): Unit = {
    import graft.operators.Incremental
    val delta = Incremental.momentState(batch, keys, valueCol)
    incrementalStateBatch(delta, path,
      prior => Incremental.mergeMomentStates(Seq(prior, delta), keys),
      batchId, scopeId)
  }

  /** Streaming second-moment maintenance: per-key mean/variance
    * baselines kept fresh from the stream through the same
    * replay-protected kernel — the third member of the mergeable
    * state family (count/sum, first/last touch, moments). */
  def incrementalMomentsSink(
      stream: DataFrame,
      path: String,
      keys: Seq[String],
      valueCol: String,
      checkpoint: String): DataStreamWriter[org.apache.spark.sql.Row] =
    stream.writeStream
      .option("checkpointLocation", checkpoint)
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        incrementalMomentsBatch(batch, path, keys, valueCol, batchId,
          scopeId = checkpoint)
      }

  /** Streaming first/last-touch maintenance: the user-profile columns
    * ("first seen", "last active", touch count) kept fresh from the
    * event stream without ever rescanning history. Min/max/count merge
    * exactly under any batching; replays are skipped via the same
    * scoped batch marker as [[incrementalAggSink]]. */
  def incrementalTouchSink(
      stream: DataFrame,
      path: String,
      keys: Seq[String],
      tsCol: String,
      checkpoint: String): DataStreamWriter[org.apache.spark.sql.Row] =
    stream.writeStream
      .option("checkpointLocation", checkpoint)
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        incrementalTouchBatch(batch, path, keys, tsCol, batchId,
          scopeId = checkpoint)
      }

  /** ST7 as a TYPED stateful operator: the reference's per-(user, week)
    * read-modify-write (`persistToBucket`, click.go:61-91 — read stored
    * list, merge, sort desc, cap, write back) expressed with
    * `flatMapGroupsWithState`. State is the bounded bucket itself
    * (≤ cap events, so state size is hard-bounded per key — the 500-cap
    * is exactly what makes this state-safe at 100 TB of events); each
    * trigger emits the merged bucket tagged with a revision, consumers
    * keep each key's max revision. The `foreachBatch` MERGE
    * ([[upsertSink]]) remains the recommended shape; this one exists
    * because the reference's semantics are genuinely stateful-streaming
    * and the typed form proves state boundedness.
    */
  def statefulMergeCap(
      events: Dataset[StreamEvent],
      cap: Int): Dataset[MergedEvent] = {
    import events.sparkSession.implicits._
    val weekMs = 604800000L
    events
      .groupByKey(e => (e.user_id, e.ts / weekMs))
      .flatMapGroupsWithState(
        OutputMode.Update, GroupStateTimeout.NoTimeout()) {
        (key: (Long, Long), rows: Iterator[StreamEvent],
         state: GroupState[WeekBucketState]) =>
          val prev = if (state.exists) state.get else WeekBucketState(Array.empty, 0L)
          // newest first, event_id tiebreak — the A1/mergeCap ordering
          val merged = (prev.events ++ rows)
            .distinct
            .sortWith((a, b) => a.ts > b.ts || (a.ts == b.ts && a.event_id < b.event_id))
            .take(cap)
          val rev = prev.rev + 1
          state.update(WeekBucketState(merged, rev))
          merged.iterator.map(e =>
            MergedEvent(e.user_id, e.event_id, e.ts, key._2, rev))
      }
  }

  /** Streaming session windows with TYPED state (the
    * flatMapGroupsWithState counterpart of [[sessionWindows]], as
    * [[statefulMergeCap]] is to [[upsertSink]]): unlike the native
    * `session_window` aggregation this carries the batch twin's
    * 1-BASED SESSION INDEX across batches and applies the gap rule as
    * integer arithmetic on the raw `ts` longs, so the emitted rows are
    * bit-equal to [[graft.operators.InteractionStore.sessionize]] +
    * span aggregate (q283 proves it against the batch DuckDB oracle).
    * A user's session CLOSES when the next event arrives more than
    * `gapMs` after the last one (data path), or when the event-time
    * watermark passes `last + gapMs` with no successor
    * (EventTimeTimeout path). Late data is bounded by the watermark
    * TWICE: Spark's FlatMapGroupsWithStateExec itself drops rows below
    * the batch's late-events watermark before the handler when
    * EventTimeTimeout is on (verified empirically on 4.1.2 — a
    * sub-watermark straggler produces a timeout-only invocation with
    * zero rows, never a data invocation), and the handler re-filters
    * against the EVICTION watermark as defense-in-depth. The two
    * watermarks coincide in a single-stateful-operator pipeline; in
    * chained-stateful pipelines the late-events one lags a batch, and
    * the handler filter keeps the session cut deterministic there.
    * CONSEQUENCE of Spark's own filter: `ts` must be ≥ 0 in the scaled
    * space — the watermark starts at 0, so pre-1970 (negative-ts)
    * events are dropped by Spark BEFORE the handler from the very
    * first batch and can never sessionize (the batch twin has no such
    * floor; IngestSpec pins this divergence).
    *
    * == Equality contract (precise) ==
    * Bit-equal to the batch twin when events arrive in event-time
    * order ACROSS batches (intra-batch disorder is absorbed by a
    * per-slice sort). A watermark-compliant out-of-order event widens
    * the OPEN session (both ends) but can never reopen an
    * already-emitted one — closed sessions are final, so under such
    * disorder the split points may differ from a batch re-run, as
    * with any incremental sessionizer. "Watermark-compliant" here
    * means above the EVICTION watermark, not Spark's late-events
    * admission filter: in a chained-stateful pipeline (where the
    * admission watermark lags the eviction one by a batch) rows Spark
    * admits into the gap `[lateEventsWM, evictionWM)` are still
    * dropped by the handler's re-filter — a deliberately STRICTER cut
    * than admission, chosen so the session boundaries depend only on
    * the eviction clock that also drives timeout-closes (one clock,
    * one deterministic answer), at the cost of not widening an open
    * session with a row the admission filter would have let through. After a timeout-close the
    * user's index survives as an n=0 marker for `64·gap` of event
    * time (then the numbering restarts), so indexes stay batch-equal
    * across any quiet period shorter than that retention.
    *
    * State per user is O(1) (an [[OpenSession]]: span bounds, count,
    * 1-based index) — unbounded key cardinality costs 4 longs each,
    * the hard-bounded-state property ST7 demands. Per trigger the
    * handler sorts the user's batch slice by (ts, event_id) before
    * folding, so intra-batch arrival order never matters; emitted
    * rows are append-only closed sessions (one per session, exactly
    * once under checkpointed replay).
    *
    * `events` columns: `user_id`, `event_id`, `ts` — an event-time
    * epoch LONG in any unit (millis or micros), with `gapMs` in the
    * SAME unit; gap comparisons are integer arithmetic on that unit,
    * so a micros caller gets the batch twin's exact µs gap rule. The
    * internal watermark column scales the unit as millis (only
    * relative order and the delay window matter to the timeout
    * machinery, not wall-clock meaning — note `watermarkDelay`
    * therefore reads in the SCALED unit for a micros caller). */
  def streamingSessionize(
      events: DataFrame,
      gapMs: Long,
      watermarkDelay: String = "1 minute"): Dataset[SessionRow] = {
    val spark = events.sparkSession
    import spark.implicits._
    events
      .select(col("user_id").cast("long").as("user_id"),
        col("event_id").cast("long").as("event_id"),
        col("ts").cast("long").as("ts"))
      .withColumn("event_time", timestamp_millis(col("ts")))
      .withWatermark("event_time", watermarkDelay)
      .as[TimedEvent]
      .groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Append,
        GroupStateTimeout.EventTimeTimeout) {
        (user: Long, rows: Iterator[TimedEvent],
         state: GroupState[OpenSession]) =>
          if (state.hasTimedOut) {
            val s = state.get
            if (s.n > 0L) {
              // watermark passed last + gap with no successor: close,
              // but KEEP the index as an n=0 marker — a user returning
              // after a timeout-close must continue at idx+1 (the
              // batch numbering), not restart at 1. The marker's own
              // timeout (idxRetention gaps later) bounds its lifetime.
              state.update(OpenSession(s.lastMs, s.lastMs, 0L, s.idx))
              state.setTimeoutTimestamp(math.max(
                s.lastMs + gapMs * IdxRetentionGaps,
                state.getCurrentWatermarkMs() + 1L))
              Iterator.single(
                SessionRow(user, s.idx, s.startMs, s.lastMs, s.n))
            } else {
              // the index marker itself expired: forget the user
              state.remove()
              Iterator.empty
            }
          } else {
            // Spark already dropped rows below the LATE-EVENTS
            // watermark before this handler (FlatMapGroupsWithStateExec
            // does so whenever EventTimeTimeout is on); re-filter
            // against the EVICTION watermark so a chained-stateful
            // pipeline — where the late-events watermark lags a batch —
            // gets the same deterministic cut. A straggler below the
            // eviction watermark arriving after a timeout-close would
            // otherwise take the n=0 marker path and start session
            // idx+1 where the batch twin merges it. (`ts` and the
            // watermark share one numeric space: event_time is
            // timestamp_millis(ts) whatever the caller's unit. The
            // wm > 0 guard is inert today — Spark's own filter already
            // ate sub-zero rows — but keeps this filter from ever
            // being the one that invents a floor.)
            val wm = state.getCurrentWatermarkMs()
            val sorted = (if (wm > 0L) rows.filter(_.ts >= wm) else rows)
              .toArray.sortBy(e => (e.ts, e.event_id))
            val out = scala.collection.mutable.ArrayBuffer.empty[SessionRow]
            if (sorted.nonEmpty) {
              var open = state.getOption
              sorted.foreach { e =>
                open match {
                  case Some(s) if s.n == 0L =>
                    // index marker (no open session): start the NEXT one
                    open = Some(OpenSession(e.ts, e.ts, 1L, s.idx + 1))
                  case Some(s) if e.ts > s.lastMs + gapMs =>
                    out += SessionRow(user, s.idx, s.startMs, s.lastMs, s.n)
                    open = Some(OpenSession(e.ts, e.ts, 1L, s.idx + 1))
                  case Some(s) =>
                    // an out-of-order (but watermark-compliant) event can
                    // precede the open session's start — widen BOTH ends
                    open = Some(s.copy(
                      startMs = math.min(s.startMs, e.ts),
                      lastMs = math.max(s.lastMs, e.ts), n = s.n + 1))
                  case None =>
                    open = Some(OpenSession(e.ts, e.ts, 1L, 1L))
                }
              }
              open.foreach { s =>
                state.update(s)
                // a timeout in the past would throw — late data can put
                // last + gap behind the watermark; fire next watermark
                state.setTimeoutTimestamp(math.max(s.lastMs + gapMs,
                  state.getCurrentWatermarkMs() + 1L))
              }
            }
            // else: a slice whose rows were ALL dropped by the late
            // filter must leave state AND its timeout untouched —
            // re-arming the timeout here would reset an n=0 marker's
            // 64·gap retention down to wm+1 and expire it on the next
            // watermark advance, renumbering the user's next session
            // where the batch twin continues at idx+1.
            out.iterator
          }
      }
  }

  /** How many gap-widths an idle user's session INDEX survives after a
    * timeout-close before the n=0 marker itself expires and the
    * numbering restarts at 1 — bounds marker-state lifetime while
    * keeping indexes batch-equal across any quiet period shorter than
    * `IdxRetentionGaps · gap`. */
  private val IdxRetentionGaps = 64L

  /** Stream-stream attribution join: left events matched to same-key
    * right events within `[leftTs, leftTs + horizon]`, both sides
    * watermarked so join state is bounded and cleaned up — the
    * streaming twin of `InteractionStore.intervalJoin` (which banding
    * optimizes for batch; streaming needs the raw time condition so
    * Spark can derive state-eviction bounds from the watermark).
    */
  def streamIntervalJoin(
      left: DataFrame,
      right: DataFrame,
      keys: Seq[String],
      horizon: String,
      leftTs: String,
      rightTs: String,
      watermarkDelay: String = "1 minute"): DataFrame = {
    val l = left.withWatermark(leftTs, watermarkDelay)
    val r = right.withWatermark(rightTs, watermarkDelay)
    val cond = keys.map(c => l(c) === r(c)).reduce(_ && _) &&
      r(rightTs) >= l(leftTs) &&
      r(rightTs) <= l(leftTs) + expr(s"INTERVAL $horizon")
    keys.foldLeft(l.join(r, cond))((df, c) => df.drop(r(c)))
  }

  /** Schema-generic twin of [[statefulMergeCap]]: the same per-(keys,
    * week) bounded read-modify-write for ANY row schema. State is the
    * kryo-encoded bucket (≤ cap rows — still hard-bounded per key);
    * output rows carry a `rev` column, consumers keep each key's max.
    * `tsCol` must be event-time epoch millis, `tieCol` a long.
    */
  def statefulMergeCapRows(
      events: DataFrame,
      keyCols: Seq[String],
      tsCol: String,
      tieCol: String,
      cap: Int): DataFrame = {
    import org.apache.spark.sql.{Encoders, Row}
    import org.apache.spark.sql.catalyst.encoders.RowEncoder
    val weekMs = 604800000L
    val schema = events.schema
    val tsIdx = schema.fieldIndex(tsCol)
    val tieIdx = schema.fieldIndex(tieCol)
    val keyIdx = keyCols.map(schema.fieldIndex)
    implicit val keyEnc = Encoders.STRING
    implicit val stateEnc = Encoders.kryo[(Array[Row], Long)]
    implicit val outEnc = RowEncoder.encoderFor(
      schema.add("rev", org.apache.spark.sql.types.LongType))
    events.groupByKey { r =>
      keyIdx.map(i => String.valueOf(r.get(i))).mkString("|") +
        "|" + (r.getLong(tsIdx) / weekMs)
    }.flatMapGroupsWithState(
      OutputMode.Update, GroupStateTimeout.NoTimeout()) {
      (_: String, rows: Iterator[Row], state: GroupState[(Array[Row], Long)]) =>
        val (prev, prevRev) =
          if (state.exists) state.get else (Array.empty[Row], 0L)
        val merged = (prev ++ rows).distinct
          .sortWith { (a, b) =>
            a.getLong(tsIdx) > b.getLong(tsIdx) ||
              (a.getLong(tsIdx) == b.getLong(tsIdx) &&
                a.getLong(tieIdx) < b.getLong(tieIdx))
          }
          .take(cap)
        val rev = prevRev + 1
        state.update((merged, rev))
        merged.iterator.map(r => Row.fromSeq(r.toSeq :+ rev))
    }
  }

  /** Weekly event-time aggregation with watermark-driven late-data
    * drop (ST5/ST6): events later than `horizon` behind the max seen
    * event time are dropped, mirroring the reference's 24-week ring
    * (`mergeAndTrimEvents`, click.go:165-172). */
  def weeklyCounts(
      events: DataFrame,
      tsCol: String = "ts",
      userCol: String = "user_id",
      horizon: String = "168 days"): DataFrame =
    events.withWatermark(tsCol, horizon)
      .groupBy(col(userCol), window(col(tsCol), "7 days").as("week"))
      .agg(count(lit(1)).as("n_events"))

  /** Event-time session windows over a stream: gap-based sessions per
    * user via the native `session_window` aggregation — the streaming
    * twin of [[graft.operators.InteractionStore.sessionize]] (whose
    * lag/cumsum construction is batch-only). The watermark bounds
    * session state: a session closes and emits once the watermark
    * passes its last event + gap, so state per key is one open session,
    * never unbounded history. */
  def sessionWindows(
      events: DataFrame,
      tsCol: String = "ts",
      userCol: String = "user_id",
      gap: String = "3 days",
      watermarkDelay: String = "1 hour"): DataFrame =
    events.withWatermark(tsCol, watermarkDelay)
      .groupBy(col(userCol), session_window(col(tsCol), gap))
      .agg(count(lit(1)).as("n_events"))
      .select(col(userCol),
        col("session_window.start").as("session_start"),
        col("session_window.end").as("session_end"),
        col("n_events"))

  /** Streaming exact dedup with hard-bounded state:
    * `dropDuplicatesWithinWatermark` holds a key only until the
    * watermark passes its event time, for at-least-once sources (Kafka
    * redeliveries, consumer seek-back replays like the reference's
    * panic-seek in kafka.go:136-147). Duplicates arriving within the
    * delay window are dropped; state is evicted after it. */
  def streamDedup(
      events: DataFrame,
      keyCols: Seq[String],
      tsCol: String = "ts",
      watermarkDelay: String = "1 hour"): DataFrame =
    events.withWatermark(tsCol, watermarkDelay)
      .dropDuplicatesWithinWatermark(keyCols)

  /** A9: group rows into bounded batches per partition key — the py
    * client's intra_batch_size protobuf batching (client.py:247-266).
    * Batch index is deterministic: rank within key ÷ batchSize. */
  def groupBatches(df: DataFrame, keyCol: String, orderCol: String,
      batchSize: Int): DataFrame = {
    val w = Window.partitionBy(col(keyCol)).orderBy(col(orderCol).asc)
    df.withColumn("batch_idx",
      ((row_number().over(w) - 1) / batchSize).cast("long"))
  }
}
