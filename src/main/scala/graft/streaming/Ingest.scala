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

/** One timeline entry for [[Ingest.streamingEpisodes]] — `key` is the
  * per-stream identity (one agent's memory timeline; the whole point
  * of keying is that DIFFERENT agents' chains never interleave).
  * `embedding` None = the reference's missing-embedding suppression. */
final case class TimelineEntry(key: Long, entry_id: Long, ts: Long,
    state: String, embedding: Option[Seq[Double]], content: String,
    event_time: java.sql.Timestamp)

/** A buffered not-yet-sealed entry ([[Ingest.streamingEpisodes]]). */
final case class PendingEntry(entryId: Long, ts: Long, state: String,
    emb: Option[Seq[Double]], content: String)

/** The open (unclosed) episode of one key's chain: the running
  * aggregate of [[graft.operators.EpisodeGraph.detectEpisodes]]'s
  * per-episode row plus the LAST entry's state/embedding (the operand
  * of the next boundary score). */
final case class OpenEpisode(idx: Long, startTs: Long, endTs: Long,
    entryStart: Long, entryEnd: Long, n: Long, state: String,
    firstContent: String, prevState: String,
    prevEmb: Option[Seq[Double]])

/** Per-key state for [[Ingest.streamingEpisodes]]: the reorder buffer
  * of entries the watermark has not sealed yet, the open episode, the
  * next episode index, and the high-water mark the fold has already
  * sealed past (`sealedWm` — the key's own eviction clock; see the
  * chained-stateful note on the operator). */
final case class EpisodeBuffer(pending: Seq[PendingEntry],
    open: Option[OpenEpisode], nextIdx: Long, sealedWm: Long)

/** One CLOSED episode emitted by [[Ingest.streamingEpisodes]] — field
  * shape matches the batch twin
  * ([[graft.operators.EpisodeGraph.detectEpisodes]]) plus `key`. */
final case class EpisodeRow(key: Long, episode_idx: Long,
    start_ts: Long, end_ts: Long, entry_start: Long, entry_end: Long,
    n_entries: Long, state: String, summary: String)

/** Per-key state for [[Ingest.streamingContinuations]]: the highest-
  * indexed closed episode seen so far — the chronological predecessor
  * the next arrival links against. */
final case class LastEpisode(idx: Long, endTs: Long, state: String)

/** One CONTINUATION edge emitted by [[Ingest.streamingContinuations]]
  * — field shape matches the batch twin
  * ([[graft.operators.EpisodeGraph.autoLink]]) plus `key`. */
final case class EpisodeLinkRow(key: Long, src: Long, dst: Long,
    link_type: String, strength: Double)

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

  /** Streaming episode-boundary detection — the incremental front end
    * of the episodic chain, emitting the SAME rows as the batch
    * [[graft.operators.EpisodeGraph.detectEpisodes]] as the watermark
    * seals them (q292 proves it against the q286 batch oracle).
    *
    * The boundary chain is strictly SEQUENTIAL (each score conditions
    * on the immediately preceding entry), so unlike
    * [[streamingSessionize]] — whose span-widen absorbs in-window
    * disorder — this operator cannot process an entry until no
    * earlier entry can still arrive. Each key therefore keeps a
    * REORDER BUFFER: incoming entries wait in `pending`, and only the
    * prefix the watermark has sealed (`ts < watermark` — a
    * same-or-earlier `(ts, id)` straggler at `ts >= watermark` could
    * still arrive, one below it is dropped by Spark's own late filter
    * before the handler) is sorted by `(ts, entry_id)` and folded
    * through the scoring chain. Entries above the watermark stay
    * buffered across batches; an event-time timeout armed at the
    * earliest pending entry re-drives the fold when the watermark
    * advances without new data for the key.
    *
    * A boundary (`stateWeight·flip + semanticWeight·shift >=
    * threshold`, the exact batch arithmetic — flip only when both
    * states non-empty, shift only when both embeddings present,
    * zero-norm cosine reads 0) CLOSES the open episode and emits it.
    * There is NO timeout-close: the final, still-open episode is not
    * emitted until an observed boundary proves it closed — every
    * emitted row is final under any continuation of the stream, which
    * is the only append-mode contract that can never contradict the
    * batch twin. A finite fixture flushes it by appending one
    * boundary-forcing sentinel entry past the corpus (plus one
    * further watermark-pusher the sentinel's own open episode waits
    * on, never emitted) — the q283 sentinel pattern, one step
    * stronger.
    *
    * `maxPending` bounds per-key state LOUDLY (pending is rate ×
    * watermark-delay in steady state; a single-key fixture buffers
    * the whole corpus through the first batch, so gates size it to
    * the fixture). Input columns: `(key, entry_id, ts, state,
    * embedding, content)`, `ts` epoch millis.
    *
    * == Chained-stateful guard ==
    * In a single-stateful-operator pipeline Spark's late filter and
    * the handler's `getCurrentWatermarkMs` share one clock; CHAINED
    * stateful operators make the late filter lag a batch, so an entry
    * can be admitted BELOW a cut this fold already sealed past —
    * folding it would corrupt the chain order silently. The state
    * therefore pins its own `sealedWm` (max cut ever folded); an
    * incoming entry below it is dropped — the same
    * eviction-watermark-is-the-one-clock contract
    * [[streamingSessionize]] documents for its re-filter.
    *
    * == State retention ==
    * Per-key steady state is O(1) + one embedding (the open
    * episode's scoring operand) plus the unsealed buffer. Idle keys
    * persist BY DESIGN — an agent may resume its timeline after any
    * pause, and the open episode must be there to continue (there is
    * no timeout-close to leak-proof it away). Deployments retiring
    * agents evict upstream (stop sending the key) and accept the one
    * resident OpenEpisode per retired key, or run a periodic batch
    * compaction with [[graft.operators.EpisodeGraph.detectEpisodes]].
    */
  def streamingEpisodes(
      entries: DataFrame,
      threshold: Double = 0.5,
      stateWeight: Double = 0.6,
      semanticWeight: Double = 0.4,
      watermarkDelay: String = "1 minute",
      maxPending: Int = 8192): Dataset[EpisodeRow] = {
    val spark = entries.sparkSession
    import spark.implicits._

    // the batch twin's per-pair arithmetic, executor-side: ascending-
    // index fold for dot and the squared norms (graft.expr.DotProduct's
    // eval order), sqrt·sqrt denominator — IEEE-identical, so the
    // decision boundary reproduces bit-for-bit against detectEpisodes
    def dot(a: Seq[Double], b: Seq[Double]): Double = {
      var s = 0.0; var i = 0
      while (i < a.length) { s += a(i) * b(i); i += 1 }
      s
    }
    def score(pState: String, pEmb: Option[Seq[Double]],
        state: String, emb: Option[Seq[Double]]): Double = {
      val flip = if (pState != state && pState.nonEmpty &&
        state.nonEmpty) 1.0 else 0.0
      val shift = (pEmb, emb) match {
        case (Some(a), Some(b)) =>
          val den = math.sqrt(dot(a, a)) * math.sqrt(dot(b, b))
          val cos = if (den == 0.0) 0.0 else dot(a, b) / den
          1.0 - math.max(cos, 0.0)
        case _ => 0.0
      }
      stateWeight * flip + semanticWeight * shift
    }
    def close(key: Long, o: OpenEpisode): EpisodeRow =
      EpisodeRow(key, o.idx, o.startTs, o.endTs, o.entryStart,
        o.entryEnd, o.n,
        o.state, s"${o.n} entries: ${o.firstContent.take(80)}…")

    entries
      .select(col("key").cast("long").as("key"),
        col("entry_id").cast("long").as("entry_id"),
        col("ts").cast("long").as("ts"),
        coalesce(col("state"), lit("")).as("state"),
        col("embedding").cast("array<double>").as("embedding"),
        col("content").cast("string").as("content"))
      .withColumn("event_time", timestamp_millis(col("ts")))
      .withWatermark("event_time", watermarkDelay)
      .as[TimelineEntry]
      .groupByKey(_.key)
      .flatMapGroupsWithState(OutputMode.Append,
        GroupStateTimeout.EventTimeTimeout) {
        (key: Long, rows: Iterator[TimelineEntry],
         state: GroupState[EpisodeBuffer]) =>
          val st = state.getOption
            .getOrElse(EpisodeBuffer(Nil, None, 0L, 0L))
          // the key's sealing clock only ever advances (chained-
          // stateful guard — scaladoc): entries below a cut already
          // folded past are dropped like any late row
          val cut = math.max(state.getCurrentWatermarkMs(), st.sealedWm)
          val incoming = rows.map(e => PendingEntry(e.entry_id, e.ts,
            e.state, e.embedding, e.content)).filter(_.ts >= cut).toSeq
          val all = st.pending ++ incoming
          require(all.size <= maxPending,
            s"streamingEpisodes: key $key buffers ${all.size} " +
              s"unsealed entries > maxPending=$maxPending — widen the " +
              s"cap deliberately or shorten the watermark delay")
          // sealed prefix: fold it through the chain in (ts, id) order
          val (ripe, rest) = all.partition(_.ts < cut)
          val out = scala.collection.mutable.ArrayBuffer.empty[EpisodeRow]
          var open = st.open
          var nextIdx = st.nextIdx
          ripe.sortBy(e => (e.ts, e.entryId)).foreach { e =>
            open match {
              case Some(o)
                  if score(o.prevState, o.prevEmb, e.state, e.emb) >=
                    threshold =>
                out += close(key, o)
                open = Some(OpenEpisode(nextIdx, e.ts, e.ts, e.entryId,
                  e.entryId, 1L, e.state, e.content, e.state, e.emb))
                nextIdx += 1
              case Some(o) =>
                open = Some(o.copy(endTs = e.ts, entryEnd = e.entryId,
                  n = o.n + 1L, prevState = e.state, prevEmb = e.emb))
              case None =>
                open = Some(OpenEpisode(nextIdx, e.ts, e.ts, e.entryId,
                  e.entryId, 1L, e.state, e.content, e.state, e.emb))
                nextIdx += 1
            }
          }
          state.update(EpisodeBuffer(rest, open, nextIdx, cut))
          // re-drive the fold as soon as the watermark can seal the
          // EARLIEST buffered entry (must exceed the current watermark
          // or Spark throws); no pending -> nothing a timeout could
          // seal, leave whatever timeout exists — a spurious fire is a
          // no-op fold
          if (rest.nonEmpty)
            state.setTimeoutTimestamp(math.max(rest.map(_.ts).min + 1L,
              state.getCurrentWatermarkMs() + 1L))
          out.iterator
      }
  }

  /** Streaming CONTINUATION-edge inference — the front half of the
    * episode graph's `auto_link`
    * (`experiments/episodic-memory-prototype/memory/graph.py:44-104`)
    * composed onto the episodes STREAM: consumes closed episodes (the
    * [[streamingEpisodes]] output, or any append stream with its
    * shape) and emits `prev → curr` edges between chronologically
    * adjacent episodes of the same key whose states are equal and
    * non-empty and whose gap `curr.start − prev.end` is at most
    * `maxGap` (negative gaps — overlap — link too; only the upper
    * bound is checked, the batch [[graft.operators.EpisodeGraph
    * .autoLink]] rule exactly). RETRY_OF stays batch-only by design —
    * it needs all-history similarity pairs, not adjacency.
    *
    * == Why streaming adjacency is exact ==
    * [[streamingEpisodes]] closes each key's episodes in strictly
    * increasing `episode_idx` = chronological order, and an episode is
    * emitted only when PROVABLY final — so "the previously closed
    * episode" at arrival time IS the chronological predecessor under
    * any continuation of the stream, and every emitted edge is final
    * (Append-mode safe). The one-key-one-timeline determinism
    * deviation: adjacency is per KEY (the reference's per-memory
    * graph), where the batch twin over a single-key table computes
    * the same global order.
    *
    * == State & replay ==
    * Per-key state is O(1): the last closed episode (idx, end, state).
    * Arrivals are folded in `episode_idx` order within a batch, and an
    * episode at or below the state's index is ignored — an
    * at-least-once redelivery (restart replaying a sink-uncommitted
    * batch) can re-emit an edge but never emits a WRONG one, the same
    * sink contract as every append gate here. NoTimeout: edges derive
    * from data alone, nothing to time out.
    */
  def streamingContinuations(
      episodes: Dataset[EpisodeRow],
      maxGap: Long = 3600L): Dataset[EpisodeLinkRow] = {
    val spark = episodes.sparkSession
    import spark.implicits._
    episodes
      .groupByKey(_.key)
      .flatMapGroupsWithState(OutputMode.Append,
        GroupStateTimeout.NoTimeout) {
        (key: Long, rows: Iterator[EpisodeRow],
         state: GroupState[LastEpisode]) =>
          val out = scala.collection.mutable.ArrayBuffer
            .empty[EpisodeLinkRow]
          var prev = state.getOption
          rows.toSeq.sortBy(_.episode_idx).foreach { e =>
            val fresh = prev.forall(_.idx < e.episode_idx)
            if (fresh) {
              prev.foreach { p =>
                if (p.state == e.state && p.state.nonEmpty &&
                    e.start_ts - p.endTs <= maxGap)
                  out += EpisodeLinkRow(key, p.idx, e.episode_idx,
                    "continuation", 1.0)
              }
              prev = Some(LastEpisode(e.episode_idx, e.end_ts, e.state))
            }
          }
          prev.foreach(state.update)
          out.iterator
      }
  }

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
