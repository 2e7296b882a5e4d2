package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.functions.Similarity

/** Approximate nearest-neighbor search — the scale path for the skye
  * surface (SURVEY S11/J6): where brute force streams the whole corpus
  * per query batch, these bound the candidate set first.
  *
  * Two public-textbook index families, both expressed as plain
  * DataFrame transforms so Catalyst handles pruning/broadcasts:
  *
  *  - [[lshCandidates]]: sign-random-projection LSH (Charikar's SimHash
  *    family) — H seeded hyperplanes → H sign bits → `bands` bucket
  *    keys; vectors sharing any band bucket become candidates. Tunable
  *    recall via (H, bands).
  *  - [[IvfIndex]]: inverted-file index — corpus assigned to its
  *    nearest of K centroids (one shuffle at build), queries probe the
  *    `nProbe` nearest cells only.
  *
  * Determinism: hyperplanes/centroid choice are seed-derived, so plans
  * reproduce bit-identically run to run.
  */
object AnnIndex {

  /** Deterministic unit-free hyperplanes: dim doubles in [-1, 1).
    * Component (i, j) = hash32("seed:i:j") / 2^32 * 2 - 1 — the same
    * engine-portable md5 construction as the text hashes, so any SQL
    * engine reproduces the planes (and hence the whole index) exactly;
    * every step of the mapping is exact in binary64. */
  private[operators] def hyperplanes(n: Int, dim: Int, seed: Long): Seq[Seq[Double]] =
    Seq.tabulate(n) { i =>
      Seq.tabulate(dim) { j =>
        val h = graft.functions.Hashing.hash32(
          org.apache.spark.unsafe.types.UTF8String.fromString(s"$i:$j"), seed.toInt)
        h / 4294967296.0 * 2 - 1
      }
    }

  /** Signature bits: sign(emb · plane_i) for each plane. */
  private def signature(emb: Column, planes: Seq[Seq[Double]]): Column =
    array(planes.map { p =>
      val planeCol = array(p.map(lit): _*)
      when(Similarity.dot(emb, planeCol) >= 0, 1).otherwise(0)
    }: _*)

  /** Attach `bands` LSH bucket keys per row: the signature is split
    * into equal bands; each band hashes to one bucket key column. The
    * result explodes to one row per (row, band) keyed by
    * (band_idx, bucket) — join/groupBy on those to find collisions.
    */
  def withBuckets(
      df: DataFrame,
      embCol: String,
      numPlanes: Int = 16,
      bands: Int = 4,
      seed: Long = 42L): DataFrame = {
    require(numPlanes % bands == 0, "numPlanes must divide into bands")
    val rows = numPlanes / bands
    val planes = hyperplanes(numPlanes, dimOf(df, embCol), seed)
    // Stage the signature as its own projection so the H hyperplane
    // dots run once per row; the exploded band keys then slice a plain
    // attribute instead of re-evaluating the dots per band.
    val bandKeys = (0 until bands).map { b =>
      struct(lit(b).as("band_idx"),
        concat_ws(",", slice(col("__sig"), b * rows + 1, rows)).as("bucket"))
    }
    df.withColumn("__sig",
        signature(col(embCol).cast("array<double>"), planes))
      .withColumn("__bands", explode(array(bandKeys: _*)))
      .withColumn("band_idx", col("__bands.band_idx"))
      .withColumn("bucket", col("__bands.bucket"))
      .drop("__sig", "__bands")
  }

  private def dimOf(df: DataFrame, embCol: String): Int = {
    import df.sparkSession.implicits._
    df.select(size(col(embCol))).as[Int].head()
  }

  /** Johnson-Lindenstrauss-style random projection to `outDim`
    * dimensions using the same md5-derived hyperplanes as the LSH
    * family: out[j] = emb · plane_j. The input cast is staged once per
    * row (not once per output dim); every dot is the ascending-index
    * fold, so a SQL oracle rebuilds the projected vectors
    * bit-identically. The cheap dimensionality-reduction front half of
    * an embedding pipeline (coarse filtering, visualization, LSH
    * pre-hash) — pure per-row arithmetic, no shuffle. */
  def randomProject(
      df: DataFrame,
      embCol: String,
      outDim: Int,
      seed: Long = 42L,
      out: String = "projected"): DataFrame = {
    val planes = hyperplanes(outDim, dimOf(df, embCol), seed)
    df.withColumn("__e", col(embCol).cast("array<double>"))
      .withColumn(out, array(planes.map { p =>
        Similarity.dot(col("__e"), array(p.map(lit): _*))
      }: _*))
      .drop("__e")
  }

  /** Candidate pairs for near-dup detection: ids sharing any band
    * bucket, deduplicated. Pair with an exact re-rank (cosine) after.
    */
  def lshCandidates(
      df: DataFrame,
      idCol: String = "vec_id",
      embCol: String = "embedding",
      numPlanes: Int = 16,
      bands: Int = 4,
      seed: Long = 42L): DataFrame = {
    // r18: pinned, like every self-join input — the hyperplane
    // bucket kernel fed both self-join sides and only the SMJ regime's
    // ReuseExchange deduplicated them. (id, band, bucket) rows only —
    // the embeddings stay out of the pin.
    val b = withBuckets(df.select(col(idCol), col(embCol)), embCol,
      numPlanes, bands, seed)
      .select(col(idCol), col("band_idx"), col("bucket"))
      .transform(Pins.heavy)
    b.as("l").join(b.as("r"),
        col("l.band_idx") === col("r.band_idx") &&
        col("l.bucket") === col("r.bucket") &&
        col(s"l.$idCol") < col(s"r.$idCol"))
      .select(col(s"l.$idCol").as("id_a"), col(s"r.$idCol").as("id_b"))
      .distinct()
  }

  /** ANN top-K via LSH buckets: score only bucket-colliding candidates,
    * exact re-rank inside the candidate set. Recall < 1 by construction;
    * tune (numPlanes, bands) for the recall/cost point. */
  def topK(
      corpus: DataFrame,
      queries: DataFrame,
      k: Int,
      numPlanes: Int = 16,
      bands: Int = 4,
      seed: Long = 42L,
      idCol: String = "vec_id",
      embCol: String = "embedding",
      queryIdCol: String = "query_id",
      queryEmbCol: String = "query_embedding"): DataFrame = {
    // double-cast + L2 norms staged per vector (not per candidate pair)
    val cb = withBuckets(corpus.select(col(idCol),
        col(embCol).cast("array<double>").as(embCol),
        Similarity.l2(col(embCol)).as("__n")), embCol,
      numPlanes, bands, seed)
    val qb = withBuckets(queries.select(col(queryIdCol),
        col(queryEmbCol).cast("array<double>").as(queryEmbCol),
        Similarity.l2(col(queryEmbCol)).as("__qn")),
      queryEmbCol, numPlanes, bands, seed)
    val cands = cb.join(broadcast(qb), Seq("band_idx", "bucket"))
      .select(col(queryIdCol), col(idCol), col(embCol), col(queryEmbCol),
        col("__n"), col("__qn"))
      .dropDuplicates(queryIdCol, idCol)
    SimilaritySearch.rankTopK(cands.select(col(queryIdCol), col(idCol),
      SimilaritySearch.Cosine.stagedScore(col(embCol), col("__n"),
        col(queryEmbCol), col("__qn")).as("score")), k, queryIdCol, idCol)
  }
}

/** Inverted-file (IVF) ANN index: assign every vector to its nearest
  * centroid once, then restrict each query to the `nProbe` closest
  * cells. Centroids here are a deterministic id-sample of the corpus
  * (k-means would drop in transparently — the search path only needs a
  * (centroid_id, centroid) table).
  */
final case class IvfIndex(
    assigned: DataFrame,     // corpus + cell_id
    centroids: DataFrame) {  // cell_id, centroid

  def search(
      queries: DataFrame,
      k: Int,
      nProbe: Int = 2,
      idCol: String = "vec_id",
      embCol: String = "embedding",
      queryIdCol: String = "query_id",
      queryEmbCol: String = "query_embedding"): DataFrame = {
    // double-cast + L2 norms staged per vector (not per candidate pair)
    val qCells = probe(queries
      .select(col(queryIdCol),
        col(queryEmbCol).cast("array<double>").as(queryEmbCol),
        Similarity.l2(col(queryEmbCol)).as("__qn")),
      nProbe, queryIdCol, queryEmbCol)
    val corp = assigned.select(col(idCol), col("cell_id"),
      col(embCol).cast("array<double>").as(embCol),
      Similarity.l2(col(embCol)).as("__n"))
    val cands = corp.join(qCells, "cell_id") // cell-pruned candidate set
    SimilaritySearch.rankTopK(cands.select(col(queryIdCol), col(idCol),
      SimilaritySearch.Cosine.stagedScore(col(embCol), col("__n"),
        col(queryEmbCol), col("__qn")).as("score")), k, queryIdCol, idCol)
  }

  /** Each staged query row joined to its `nProbe` nearest cells. The
    * probe key's type is aligned with the corpus side so any type
    * coercion casts THIS (tiny) side — a cast over the corpus scan's
    * partition column would defeat dynamic partition pruning on
    * cell-partitioned layouts (sources/Layout.writeIvf). The one cell
    * probe of every IVF search, [[PqIndex.searchDotIvf]] included. */
  private[operators] def probe(
      staged: DataFrame,
      nProbe: Int,
      queryIdCol: String,
      queryEmbCol: String): DataFrame =
    IvfIndex.nearestCells(staged, centroids, queryIdCol, queryEmbCol, nProbe)
      .select(staged.columns.map(col) :+
        col("cell_id").cast(assigned.schema("cell_id").dataType).as("cell_id"): _*)

  /** Materialize int8 codes + scales as stored columns of the assigned
    * table (column names [[IvfIndex.Int8CodeCol]]/[[IvfIndex.Int8ScaleCol]]).
    * [[searchInt8]] then reads the codes instead of re-quantizing the
    * float embeddings on every query run — at 100 TB the 4×-smaller
    * code payload IS the point of int8 (the reference persists indexed
    * vectors in its vector store,
    * `skye/internal/repositories/embedding/embedding_store.go:114-180`).
    * [[graft.sources.Layout.writeIvf]] calls this before persisting, so
    * a loaded index scans (id, cell_id, scale, code) and prunes the
    * embedding column away entirely. The arithmetic is identical to the
    * derive-on-read path, so results are bit-equal either way. */
  def materializeInt8(embCol: String = "embedding"): IvfIndex =
    copy(assigned = assigned
      .withColumn(IvfIndex.Int8ScaleCol, Similarity.int8Scale(col(embCol)))
      .withColumn(IvfIndex.Int8CodeCol,
        Similarity.int8Codes(col(embCol).cast("array<double>"),
          col(IvfIndex.Int8ScaleCol))))

  /** Assign `newVectors` to the EXISTING centroids, producing rows in
    * the `assigned` schema (int8 codes included when the stored table
    * carries them) — the delta leg of incremental index maintenance,
    * shared by [[append]] and [[graft.sources.Layout.appendIvf]]. */
  def assignNew(
      newVectors: DataFrame,
      idCol: String = "vec_id",
      embCol: String = "embedding"): DataFrame = {
    val fresh = IvfIndex.assign(newVectors, centroids, idCol, embCol)
    val coded =
      if (assigned.columns.contains(IvfIndex.Int8CodeCol))
        IvfIndex(fresh, centroids).materializeInt8(embCol).assigned
      else fresh
    coded.select(assigned.columns.map(col): _*)
  }

  /** Incremental index maintenance: absorb an ingest batch WITHOUT a
    * rebuild. New vectors go to their nearest existing centroid; stored
    * vectors' assignments never change, and the centroid table is
    * untouched — so a daily delta costs one broadcast-join pass over
    * the delta alone, never over the corpus. (Recall drifts as the data
    * distribution moves away from the centroids; rebuild cadence is the
    * operator's knob, exactly as with any IVF deployment.) Mirrors the
    * reference's delta ingestion into a live vector collection
    * (`skye/internal/consumers/listener/delta_realtime.go:15-37` —
    * upserts land in the serving index without re-training it). */
  def append(
      newVectors: DataFrame,
      idCol: String = "vec_id",
      embCol: String = "embedding"): IvfIndex =
    copy(assigned = assigned.unionByName(assignNew(newVectors, idCol, embCol)))

  /** Cell-pruned search with int8-quantized scoring: the probe runs on
    * float centroids, the re-rank on int8 codes with the integer dot
    * kernel — the composition a 100 TB corpus wants (directory-pruned
    * scan × 4×-smaller vector payload). Deterministic end to end, so
    * it carries a full SQL oracle (q48). Uses codes materialized by
    * [[materializeInt8]] when the assigned table carries them (the
    * stored-index fast path); otherwise derives them inline.
    *
    * == Driver tier ==
    * A top-k over local queries against a small stored index is
    * answered on the driver by [[IvfTier]], from one snapshot of the
    * centroids and per-cell (id, scale, code) rows held in a
    * [[SnapshotCache]] (built by the first such call, reused until the
    * index files change): no Spark job, and the same rows, scores
    * (bit for bit), ranks and output attributes as the scan path.
    * Eligibility (anything else takes the scan path):
    *  - the queries' optimized plan is a non-streaming `LocalRelation`
    *    whose ids are non-null, distinct and integral, string, date or
    *    timestamp, and whose embeddings are non-null;
    *  - `assigned` carries the stored [[IvfIndex.Int8CodeCol]] /
    *    [[IvfIndex.Int8ScaleCol]] columns;
    *  - the projected corpus (id, `cell_id`, scale, code) and the
    *    centroids are deterministic, subquery-free file or local scans,
    *    each estimated at most `spark.sql.autoBroadcastJoinThreshold`.
    */
  def searchInt8(
      queries: DataFrame,
      k: Int,
      nProbe: Int = 2,
      idCol: String = "vec_id",
      embCol: String = "embedding",
      queryIdCol: String = "query_id",
      queryEmbCol: String = "query_embedding"): DataFrame = {
    val staged = queries
      .select(col(queryIdCol),
        col(queryEmbCol).cast("array<double>").as(queryEmbCol),
        Similarity.int8Scale(col(queryEmbCol)).as("__qs"))
      .select(col(queryIdCol), col(queryEmbCol), col("__qs"),
        Similarity.int8Codes(col(queryEmbCol), col("__qs")).as("__qc"))
    val stored = assigned.columns.contains(IvfIndex.Int8CodeCol) &&
      assigned.columns.contains(IvfIndex.Int8ScaleCol)
    val corp =
      if (stored)
        // stored codes: the scan never touches the embedding column
        assigned.select(col(idCol), col("cell_id"),
          col(IvfIndex.Int8ScaleCol).as("__s"),
          col(IvfIndex.Int8CodeCol).as("__c"))
      else assigned
        .select(col(idCol), col("cell_id"),
          Similarity.int8Scale(col(embCol)).as("__s"),
          col(embCol).cast("array<double>").as(embCol))
        .select(col(idCol), col("cell_id"), col("__s"),
          Similarity.int8Codes(col(embCol), col("__s")).as("__c"))
    (if (stored) IvfTier.searchInt8(staged, corp, centroids, k, nProbe) else None)
      .getOrElse {
        val qCells = probe(staged, nProbe, queryIdCol, queryEmbCol)
        SimilaritySearch.rankTopK(corp.join(qCells, "cell_id")
          .select(col(queryIdCol), col(idCol),
            (Similarity.dotInt8(col("__c"), col("__qc")) * col("__s") * col("__qs"))
              .as("score")), k, queryIdCol, idCol)
      }
  }
}

object IvfIndex {

  /** Stored-code column names written by [[IvfIndex.materializeInt8]]. */
  val Int8CodeCol  = "int8_code"
  val Int8ScaleCol = "int8_scale"

  /** Hard cap on centroid-table rows (a broadcast-sized probe table is
    * the IVF contract; beyond this, shard the index). THE plan-audit
    * explicit-bound threshold, so every centroid cross-join carries a
    * PROVABLE O(1) build side instead of a hand-reviewed allowance. */
  val MaxCells: Int = graft.PlanAudit.BoundedBuildRows

  /** The centroid table with its row bound made explicit on the plan
    * spine (`orderBy(cell_id).limit(MaxCells)` — a no-op for any legal
    * index, visible to [[graft.PlanAudit]]). Applied at every use
    * rather than construction because `localCheckpoint` (the k-means
    * loop) erases upstream plan nodes, and loaded indexes come off a
    * bare parquet scan. */
  private[operators] def boundedCentroids(centroids: DataFrame): DataFrame =
    centroids.orderBy(col("cell_id")).limit(MaxCells)

  /** The `n` nearest cells of every row: rows × broadcast(bounded
    * centroids), Euclidean distance from `embCol`, ranked per `keyCol`
    * (ties → lowest cell_id). Output: the row's columns + `cell_id`,
    * `centroid`, `__d` and `__r` (the 1-based rank). One broadcast join,
    * no shuffle of `rows`. */
  private def nearestCells(
      rows: DataFrame,
      centroids: DataFrame,
      keyCol: String,
      embCol: String,
      n: Int): DataFrame =
    rows.crossJoin(broadcast(boundedCentroids(centroids)))
      .withColumn("__d", Similarity.euclidean(col(embCol), col("centroid")))
      .withColumn("__r", row_number().over(
        Window.partitionBy(col(keyCol)).orderBy(col("__d").asc, col("cell_id").asc)))
      .filter(col("__r") <= n)

  /** Nearest-centroid assignment: the closest cell per vector — the
    * only full-corpus pass per build iteration. */
  private def assign(
      corpus: DataFrame,
      centroids: DataFrame,
      idCol: String,
      embCol: String): DataFrame =
    nearestCells(corpus, centroids, idCol, embCol, 1)
      .drop("__d", "__r", "centroid")

  /** Deterministic id-sampled seed centroids (also the k-means init).
    * `knownCount ≥ 0` supplies an already-computed corpus count so
    * callers that counted for other reasons (auto-scaled cell
    * derivation) don't trigger a second full-corpus action. */
  private def seedCentroids(
      corpus: DataFrame,
      cells: Int,
      idCol: String,
      embCol: String,
      knownCount: Long = -1L): DataFrame = {
    val n = if (knownCount >= 0L) knownCount else corpus.count()
    val stride = math.max(n / cells, 1L)
    val seeds = corpus
      .filter(col(idCol) % stride === 0 && col(idCol) < stride * cells)
      .select((col(idCol) / stride).cast("long").as("cell_id"),
        col(embCol).cast("array<double>").as("centroid"))
    // id-stride seeding presumes ids dense from 0 (every pinned
    // fixture's shape); on offset/sparse ids it can select NOTHING,
    // and an empty centroid table silently empties every downstream
    // assignment — the worst failure mode (near-dup pairs read as
    // "no duplicates"). Fail loudly instead; fewer-than-cells seeds
    // (mildly sparse ids) stay legal — Lloyd just runs fewer cells.
    if (n > 0L)
      require(!seeds.isEmpty,
        s"seedCentroids: id-stride seeding (stride=$stride, " +
          s"cells=$cells, n=$n) selected no rows — $idCol is not " +
          s"dense from 0; renumber ids densely upstream")
    seeds
  }

  /** Build with centroids = vectors whose id ≡ 0 (mod |corpus|/cells) —
    * deterministic; [[buildKMeans]] refines the same seed. */
  def build(
      corpus: DataFrame,
      cells: Int,
      idCol: String = "vec_id",
      embCol: String = "embedding"): IvfIndex = {
    require(cells <= MaxCells, s"cells ($cells) exceeds MaxCells ($MaxCells)")
    val centroids = seedCentroids(corpus, cells, idCol, embCol)
    IvfIndex(assign(corpus, centroids, idCol, embCol), centroids)
  }

  /** Lloyd's k-means refinement of the id-sampled seed. Per iteration:
    * one broadcast-join assignment over the corpus, then EXACT cell
    * means via [[LinAlg.meanPool]]'s fixed-point aggregate (2·d longs
    * per cell across one shuffle — no per-row collect, no dim-pos row
    * inflation, and no float-sum order dependence, so the learned
    * centroids are identical on any partitioning and reproduce in SQL;
    * q182 oracles two full rounds). Cells that lose all members keep
    * their previous centroid so the index always has `cells` probe
    * targets. Centroids are `localCheckpoint`ed per round: the plan
    * stays O(1) in `iters`.
    */
  /** Per-group Lloyd's k-means — the level-2 kernel of the two-level
    * coarse quantizer ([[SimilaritySearch.semanticNearDupPairs]]'s
    * beyond-cap path). Within every `groupCol` value independently:
    * sub-cell count `k2 = clamp(ceil(n_g / targetCellSize), 1,
    * maxCells)` and seed stride `max(n_g div k2, 1)` from the group's
    * own census (exact integer arithmetic — SQL-reproducible), seeds
    * at every stride-th row of the group's `idCol` order, then `iters`
    * Lloyd rounds with [[LinAlg.meanPool]]'s fixed-point means (empty
    * sub-cells keep their previous centroid, the [[buildKMeans]]
    * convention).
    *
    * == Scale design ==
    * Unlike [[buildKMeans]], the centroid table is NEVER broadcast and
    * carries no global row bound — it doesn't need one: assignment is
    * an equi-join on `groupCol`, so each corpus row meets only its own
    * group's ≤ `maxCells` centroids (bounded fan-out per row, keyed
    * shuffle, no cross join). Total sub-cells scale with the corpus —
    * exactly what lets the composition hold mean leaf size constant
    * past the single-level [[MaxCells]] cap. The within-group rank
    * window sorts one group per partition slice; group sizes are
    * already bounded by the level-1 split above it.
    *
    * Output: the corpus rows + `sub_cell_id` (0-based within group).
    */
  def buildGroupedKMeans(
      corpus: DataFrame,
      groupCol: String,
      targetCellSize: Long,
      maxCells: Int = MaxCells,
      iters: Int = 5,
      idCol: String = "vec_id",
      embCol: String = "embedding"): DataFrame = {
    require(targetCellSize >= 1, s"targetCellSize must be >= 1, got $targetCellSize")
    require(maxCells >= 1, s"maxCells must be >= 1, got $maxCells")
    // one materialization feeds the census, the seed rank, and every
    // assignment round (RangeJoin convention)
    val base = corpus.select(col(groupCol), col(idCol),
      col(embCol).cast("array<double>").as(embCol)).localCheckpoint()
    val census = base.groupBy(col(groupCol)).agg(count(lit(1)).as("__gn"))
      .withColumn("__k2", expr(
        s"least(greatest((__gn + ${targetCellSize - 1L}) div $targetCellSize, 1L), ${maxCells}L)"))
      .withColumn("__stride", expr("greatest(__gn div __k2, 1L)"))
      .select(col(groupCol), col("__k2"), col("__stride"))
    val ranked = base.withColumn("__r",
      row_number().over(Window.partitionBy(col(groupCol))
        .orderBy(col(idCol).asc)).cast("long") - 1L)
    def assignGrouped(cents: DataFrame): DataFrame =
      base.join(cents, Seq(groupCol))
        .withColumn("__d", graft.functions.Similarity.euclidean(col(embCol), col("centroid")))
        .withColumn("__rn", row_number().over(
          Window.partitionBy(col(idCol))
            .orderBy(col("__d").asc, col("sub_cell_id").asc)))
        .filter(col("__rn") === 1)
        .drop("__d", "__rn", "centroid")
    var cents = ranked.join(census, Seq(groupCol))
      .filter(col("__r") % col("__stride") === 0 &&
        col("__r") < col("__stride") * col("__k2"))
      .select(col(groupCol), expr("__r div __stride").as("sub_cell_id"),
        col(embCol).as("centroid"))
      .localCheckpoint()
    var i = 0
    while (i < iters) {
      val means = LinAlg.meanPool(
        assignGrouped(cents).select(col(groupCol), col("sub_cell_id"), col(embCol)),
        Seq(groupCol, "sub_cell_id"), embCol, outCol = "centroid")
      cents = cents.select(col(groupCol), col("sub_cell_id"),
          col("centroid").as("__prev"))
        .join(means, Seq(groupCol, "sub_cell_id"), "left")
        .select(col(groupCol), col("sub_cell_id"),
          coalesce(col("centroid"), col("__prev")).as("centroid"))
        .localCheckpoint()
      i += 1
    }
    assignGrouped(cents)
  }

  def buildKMeans(
      corpus: DataFrame,
      cells: Int,
      iters: Int = 5,
      idCol: String = "vec_id",
      embCol: String = "embedding",
      knownCount: Long = -1L): IvfIndex = {
    require(cells <= MaxCells, s"cells ($cells) exceeds MaxCells ($MaxCells)")
    var centroids = seedCentroids(corpus, cells, idCol, embCol, knownCount)
      .localCheckpoint()
    var i = 0
    while (i < iters) {
      val means = LinAlg.meanPool(
        assign(corpus, centroids, idCol, embCol)
          .select(col("cell_id"), col(embCol)),
        Seq("cell_id"), embCol, outCol = "centroid")
      centroids = centroids.select(col("cell_id"), col("centroid").as("__prev"))
        .join(means, Seq("cell_id"), "left")
        .select(col("cell_id"),
          coalesce(col("centroid"), col("__prev")).as("centroid"))
        .localCheckpoint()
      i += 1
    }
    IvfIndex(assign(corpus, centroids, idCol, embCol), centroids)
  }
}
