package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.core.FeatureGroupDef

/** Point-lookup feature retrieval and upsert persistence.
  *
  * Spark-first re-expression of the reference's hot path
  * (`FeatureService.RetrieveFeatures`,
  * `online-feature-store/internal/handler/feature/retrieve.go:88-266`):
  * the tier cascade and the `fillMatrix` assembler goroutine become a
  * lookup tier plus a single declarative join + projection; defaults
  * (P3), TTL expiry (P4) and negative caching (P5) all collapse into
  * left-join null handling.
  *
  * == Scale design: a two-tier cascade ==
  * 1. Lookup tier ([[LookupTier]]). A point retrieve whose key set is
  *    local data (its optimized plan is a `LocalRelation`, e.g. a
  *    request's ids via `toDF`), with `broadcastKeys = true`, against a
  *    projected table that is deterministic over file scans or local
  *    data and estimated at most `spark.sql.autoBroadcastJoinThreshold`,
  *    with key columns of one integral, string, date or timestamp type
  *    on both sides, is answered on the driver from a hash index of that
  *    table. The index is built once per table snapshot — keyed by the
  *    table's canonicalized optimized plan plus its input-file set, so a
  *    rewrite (an `Ingest.upsertBatch` swap, a refreshed file index)
  *    gives a new key and a stale snapshot is never served — and the
  *    last [[LookupTier.MaxSnapshots]] snapshots stay cached. The answer
  *    is a `LocalRelation`: the feature projection folds into it and
  *    collecting it runs no Spark job. [[stitch]] over parts that are
  *    all local data joins them on the driver the same way.
  *
  * 2. Broadcast-key scan. Everything else — non-local or scoring-sized
  *    key sets, big or non-file tables, other key types — plans joins.
  *    A feature table at 100 TB must never be shuffled for a
  *    point-lookup of a few thousand keys, so `retrieve` broadcasts the
  *    KEY SET, not the table:
  *
  *   hits   = fgTable ⋈_inner broadcast(keys)   // table streamed once,
  *                                              // no shuffle, scan prunes
  *   result = keys ⋈_left broadcast(hits)       // both sides tiny;
  *                                              // nulls → defaults
  *
  *    A plain `keys.join(fgTable, pk, "left")` cannot broadcast the
  *    small side (Spark only broadcasts the non-preserved side of an
  *    outer join), so it would sort-merge-shuffle the full table. The
  *    two-stage shape scans the table exactly once and keeps every
  *    exchange proportional to the key count.
  *
  * Both tiers compute the same joins (dedup, fan-out to duplicate
  * keys, null keys reading null features) and apply one shared
  * default/TTL/schema-version/quantize projection, so their answers
  * agree row for row, schema and nullability included
  * (LookupTierSpec).
  */
object FeatureStore {

  /** Retrieve `features` of one feature group for a set of entity keys.
    *
    * @param keys      DataFrame holding exactly the entity key columns
    *                  (duplicates allowed — reference dedups requests and
    *                  fans results back out, retrieve.go:608-693; the
    *                  join reproduces that fan-out for free)
    * @param fgTable   materialized feature-group table (pk + feature
    *                  columns [+ writtenAt])
    * @param pk        entity key column names (ordered composite key)
    * @param fg        registry definition — supplies per-feature defaults
    *                  and the group TTL
    * @param features  requested feature names (SURVEY P1 projection);
    *                  may carry `@DataTypeX` quantization suffixes
    *                  (SURVEY P2) resolved by [[Projections.parse]]
    * @param asOf      evaluation time for TTL expiry (P4); pass a fixed
    *                  literal for deterministic tests
    * @param writtenAt name of the write-timestamp column in fgTable
    * @param broadcastKeys point-lookup shape (default): the lookup tier
    *                  when eligible, else broadcast key-set joins. Pass
    *                  `false` for scoring-sized key sets — shuffled
    *                  joins, never the lookup tier.
    * @param schemaVersionCol name of the per-row written-schema-version
    *                  column in fgTable. When present, each row resolves
    *                  a requested feature against the schema version it
    *                  was WRITTEN under: a feature added after that
    *                  version (`FeatureDef.sinceVersion > row version`)
    *                  did not exist when the row was stored, so the read
    *                  falls back to the active version's default —
    *                  `retrieve.go:833-858` (seq == -1 in the written
    *                  version → active-version default, negative-cache
    *                  semantics). Absent column ⇒ all rows are current.
    */
  def retrieve(
      keys: DataFrame,
      fgTable: DataFrame,
      pk: Seq[String],
      fg: FeatureGroupDef,
      features: Seq[String],
      asOf: Option[Column] = None,
      writtenAt: String = "written_at",
      broadcastKeys: Boolean = true,
      schemaVersionCol: String = "schema_version"): DataFrame = {

    // point-lookup path broadcasts the key set; for scoring-sized key
    // sets (millions of keys, too big to broadcast) pass
    // broadcastKeys=false → shuffled equi-joins, which degenerate to
    // zero-shuffle per-bucket zips when fgTable is bucketed on pk
    // (sources/Layout.writeBucketedFeatureTable)
    def maybeBroadcast(df: DataFrame): DataFrame =
      if (broadcastKeys) broadcast(df) else df

    val projections = features.map(Projections.parse(fg, _))
    val neededCols = projections.map(_.source).distinct

    val ttl = fg.ttlSeconds > 0 && fgTable.columns.contains(writtenAt)
    val expired: Column =
      if (ttl)
        col(writtenAt) + expr(s"INTERVAL ${fg.ttlSeconds} SECONDS") <=
          asOf.getOrElse(current_timestamp())
      else lit(false)

    val hasVersion = fgTable.columns.contains(schemaVersionCol)
    val extraCols =
      (if (ttl) Seq(writtenAt) else Nil) ++
      (if (hasVersion) Seq(schemaVersionCol) else Nil)
    val table = fgTable.select((pk ++ neededCols ++ extraCols).distinct.map(col): _*)

    // The per-key projection both tiers apply to the
    // `dedup(keys) ⋈left hits` rows: a missing or expired row falls
    // through the same coalesce to the per-feature default (P3/P4/P5 in
    // one projection). Per-row schema versioning rides the same
    // projection: a feature that did not yet exist in the version the
    // row was written under reads as the active default, never as
    // whatever bytes sit in the column.
    val resultCols = pk.map(col) ++ projections.map { p =>
      val notInWrittenVersion: Column =
        if (hasVersion && p.sinceVersion > 1)
          col(schemaVersionCol) < p.sinceVersion
        else lit(false)
      val raw = when(expired || notInWrittenVersion, p.default)
        .otherwise(col(p.source))
      p.quantize(coalesce(raw, p.default)).as(p.outName)
    }
    val resolve = (perKey: DataFrame) => perKey.select(resultCols: _*)
    val outCols = (pk ++ projections.map(_.outName)).map(col)

    // tier 1: a local key set against a small table is answered from
    // the driver-resident index, with no job
    val local =
      if (broadcastKeys) LookupTier.retrieve(keys, table, pk, resolve) else None
    local.map(_.select(outCols: _*)).getOrElse {
      // tier 2 — ONE streamed pass over the table: inner join against
      // the broadcast key set. (A direct outer join can't broadcast its
      // preserved small side, and hits/anti/union shapes scan the table
      // twice — this scans once and every later join is key-set-sized.)
      val dedupKeys = keys.dropDuplicates(pk)
      val hits = table.join(maybeBroadcast(dedupKeys), pk, "inner")

      // key-set-sized left join re-attaches hits to every requested key
      val perKey = resolve(dedupKeys.join(maybeBroadcast(hits), pk, "left"))

      // fan results back out to the original (possibly duplicated) keys
      keys.join(maybeBroadcast(perKey), pk, "left").select(outCols: _*)
    }
  }

  /** Composite key string: ordered key columns joined with `"|"`
    * (SURVEY F9 — `getKeyString`, retrieve.go:79-81; also the skye
    * cache-key shape, similar_candidate/cache_adapter.go:19-60). */
  def keyString(pk: Seq[String]): Column =
    concat_ws("|", pk.map(c => col(c).cast("string")): _*)

  /** Stitch several per-FG retrievals into one row matrix (SURVEY J2).
    * Every `retrieve` output carries the full key set, so the parts are
    * key-aligned and a left join is exact — and unlike full outer it
    * supports broadcasting the (≤ |keys|-sized) right side. Parts that
    * are all local data (lookup-tier answers) are joined on the driver,
    * with the same output, and no job. */
  def stitch(pk: Seq[String], parts: Seq[DataFrame]): DataFrame =
    LookupTier.stitch(pk, parts).getOrElse(
      parts.reduce((a, b) => a.join(broadcast(b), pk, "left")))

  /** Last-write-wins upsert of `updates` into `current` (SURVEY S2/ST3:
    * each persist is a full FG overwrite for its keys). Duplicate keys
    * inside `updates` resolve by highest `versionCol` then arbitrary-but-
    * deterministic tie-break on the remaining columns' hash — mirrors
    * the reference's per-key serial consumer, which applies the latest
    * Kafka offset last (`internal/consumer/listeners/kafka.go:308+`).
    *
    * Scale note: this shuffles both sides by pk once (window + join).
    * On a real deployment `current` would be a bucketed/Delta table and
    * this becomes a storage-level MERGE; semantics here are identical.
    */
  def upsert(
      current: DataFrame,
      updates: DataFrame,
      pk: Seq[String],
      versionCol: String): DataFrame = {
    val w = Window.partitionBy(pk.map(col): _*)
      .orderBy(col(versionCol).desc,
        xxhash64(updates.columns.filterNot(pk.contains).map(col): _*))
    val latest = updates
      .withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1).drop("__rn")
    current.join(latest.select(pk.map(col): _*), pk, "left_anti")
      .unionByName(latest.select(current.columns.map(col): _*))
  }

  /** Entity-level RESET ingestion (SURVEY ST9, "reset" leg): a full
    * sync replaces an entity's stored rows WHOLESALE — every current
    * row for an entity present in `replacement` is dropped, then the
    * replacement rows come in. This is the skye embedding full-sync
    * listener's semantics (a new model/variant version supersedes the
    * entity's whole vector set,
    * `skye/internal/consumers/listener/embedding/embedding.go:216-263`),
    * vs [[applyChangeEvents]] which applies per-row deltas.
    *
    * Scale note: one shuffle of `current` on the entity key (the
    * anti-join); `replacement` is typically a small refresh batch —
    * Spark broadcasts it when below the threshold, and on a bucketed
    * table the anti-join is shuffle-free on the `current` side.
    */
  def reset(
      current: DataFrame,
      replacement: DataFrame,
      entityCols: Seq[String]): DataFrame =
    current
      .join(replacement.select(entityCols.map(col): _*).distinct(),
        entityCols, "left_anti")
      .unionByName(replacement.select(current.columns.map(col): _*))

  /** Delta change-log application (SURVEY ST9, "delta" leg): the skye
    * realtime delta stream carries typed events — `UPSERT` replaces a
    * row, `DELETE` tombstones it
    * (`skye/internal/consumers/handler/indexer/models.go:6-8`, applied
    * in `embedding.go:216-279`). Duplicate keys inside one change
    * batch resolve to the highest `versionCol` (the per-key serial
    * consumer applies the latest offset last), then the winning event
    * either replaces or removes the current row.
    *
    * `events` = `current`'s columns + `versionCol` + `opCol`.
    * Same one-shuffle shape as [[upsert]]; DELETE rides the same
    * anti-join (a tombstone just contributes no replacement row).
    */
  def applyChangeEvents(
      current: DataFrame,
      events: DataFrame,
      pk: Seq[String],
      versionCol: String,
      opCol: String): DataFrame = {
    val w = Window.partitionBy(pk.map(col): _*)
      .orderBy(col(versionCol).desc,
        xxhash64(events.columns.filterNot(pk.contains).map(col): _*))
    val latest = events
      .withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1).drop("__rn")
    current.join(latest.select(pk.map(col): _*), pk, "left_anti")
      .unionByName(latest.filter(col(opCol) =!= "DELETE")
        .select(current.columns.map(col): _*))
  }
}
