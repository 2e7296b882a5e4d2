package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.functions.Similarity

/** Filtered top-K similarity search over an embedding corpus — the skye
  * surface (SURVEY J4/J6/A8/P7): `GetSimilarCandidates` with payload
  * filters and DOT/Cosine/Euclidean metrics
  * (`skye/internal/serving/handlers/similar_candidate/v1.go:110-187`,
  * filter builders `skye/internal/repositories/vector/filters.go:54-157`).
  *
  * == Scale design ==
  * Brute force: the corpus is streamed once; the (small) query set is
  * broadcast into a cross join, scores are projected down to
  * (query_id, candidate_id, score) BEFORE the ranking shuffle, so the
  * exchange carries 3 narrow columns, not embeddings. The LSH variant
  * in [[AnnIndex]] bounds the candidate set per query for corpora where
  * even one streamed pass per query batch is too much.
  */
object SimilaritySearch {

  sealed trait Metric {
    def score(a: Column, b: Column): Column
    /** true = larger is better */
    def descending: Boolean
    /** does [[stagedScore]] consume pre-computed per-vector norms? */
    def needsNorm: Boolean = false
    /** score from pre-staged double arrays and norms: `an`/`bn` are the
      * vectors' L2 norms computed ONCE per vector before the pair join,
      * not once per pair — same expression tree, so bit-identical. */
    def stagedScore(a: Column, an: Column, b: Column, bn: Column): Column =
      score(a, b)
  }
  case object Dot extends Metric {
    def score(a: Column, b: Column): Column = Similarity.dot(a, b)
    def descending = true
  }
  case object Cosine extends Metric {
    def score(a: Column, b: Column): Column = Similarity.cosine(a, b)
    def descending = true
    override def needsNorm = true
    override def stagedScore(a: Column, an: Column, b: Column, bn: Column): Column =
      Similarity.dot(a, b) / (an * bn)
  }
  case object Euclidean extends Metric {
    def score(a: Column, b: Column): Column = Similarity.euclidean(a, b)
    def descending = false
  }

  /** The top `k` of `scored` (`queryIdCol`, `idCol`, `score`) rows per
    * query — score descending (ascending when `descending` is false,
    * the [[Euclidean]] order), ties to the lowest id — with the 1-based
    * `rank`. The one ranking window of every vector search: [[topK]],
    * [[knnLabelConsistency]], [[AnnIndex.topK]], [[IvfIndex]] and
    * [[PqIndex]]. */
  private[operators] def rankTopK(
      scored: DataFrame,
      k: Int,
      queryIdCol: String,
      idCol: String,
      descending: Boolean = true): DataFrame = {
    val ord = if (descending) col("score").desc else col("score").asc
    val w = Window.partitionBy(col(queryIdCol)).orderBy(ord, col(idCol).asc)
    scored.withColumn("rank", row_number().over(w)).filter(col("rank") <= k)
  }

  /** Brute-force exact top-K per query.
    *
    * @param corpus   candidate table: `idCol`, `embCol`, payload columns
    * @param queries  query table: `queryIdCol`, `queryEmbCol` — small,
    *                 broadcast. The "small" is ENFORCED: the query leg
    *                 is trimmed to `maxQueries` rows (lowest
    *                 `queryIdCol` first, deterministic) on the plan
    *                 spine, so the corpus×queries product carries a
    *                 bound the plan audit can prove instead of a
    *                 reviewed allowance. The trim is LOUD by default: a
    *                 [[Bounds.guardCap]] census fails the job when the
    *                 batch exceeds the cap — chunk large batches, pass
    *                 `allowTruncate = true` to accept losing the
    *                 highest query ids, or pass `maxQueries = 0` to
    *                 disable the trim (the audit then needs a reviewed
    *                 allowance for the unproven broadcast leg).
    *                 Gate/knob scale table: [[graft.ScaleProfile]].
    * @param filters  payload predicate (SURVEY P7), applied before
    *                 scoring so it pushes into the corpus scan
    */
  def topK(
      corpus: DataFrame,
      queries: DataFrame,
      k: Int,
      metric: Metric = Cosine,
      filters: Column = lit(true),
      idCol: String = "vec_id",
      embCol: String = "embedding",
      queryIdCol: String = "query_id",
      queryEmbCol: String = "query_embedding",
      excludeSelf: Boolean = false,
      maxQueries: Int = graft.PlanAudit.BoundedBuildRows,
      allowTruncate: Boolean = false): DataFrame = {
    // Stage the double-cast (and for cosine the L2 norm) per VECTOR
    // before the pair join — O(corpus + queries) array work instead of
    // O(corpus × queries); the staged score is the same expression
    // tree, so results are bit-identical.
    def norms(emb: String): Seq[Column] =
      if (metric.needsNorm) Seq(Similarity.l2(col(emb)).as(s"__n_$emb")) else Nil
    val c = corpus.filter(filters).select(
      Seq(col(idCol), col(embCol).cast("array<double>").as(embCol)) ++ norms(embCol): _*)
    val q0 = queries.select(
      Seq(col(queryIdCol), col(queryEmbCol).cast("array<double>").as(queryEmbCol)) ++
        norms(queryEmbCol): _*)
    val q =
      if (maxQueries > 0) q0.orderBy(col(queryIdCol).asc).limit(maxQueries)
      else q0
    val scored = c.crossJoin(broadcast(q))
      .filter(if (excludeSelf) col(idCol) =!= col(queryIdCol) else lit(true))
      .select(col(queryIdCol), col(idCol),
        metric.stagedScore(col(embCol), col(s"__n_$embCol"),
          col(queryEmbCol), col(s"__n_$queryEmbCol")).as("score"))
    val ranked = rankTopK(scored, k, queryIdCol, idCol, metric.descending)
    if (maxQueries > 0 && !allowTruncate)
      Bounds.guardCap(ranked, Bounds.census(q0), maxQueries,
        "SimilaritySearch.topK query batch")
    else ranked
  }

  /** Resolve candidate ids to their stored embeddings (SURVEY J4) —
    * the "query by candidate id" entry point. */
  def resolveEmbeddings(
      candidateIds: DataFrame,
      corpus: DataFrame,
      idCol: String = "vec_id",
      embCol: String = "embedding",
      queryIdCol: String = "query_id",
      queryEmbCol: String = "query_embedding"): DataFrame =
    corpus.join(broadcast(candidateIds), candidateIds(queryIdCol) === corpus(idCol))
      .select(col(queryIdCol), col(embCol).as(queryEmbCol))

  /** Near-duplicate pairs by cosine threshold within blocking keys
    * (embedding-cosine near-dup for training-data pipelines). The block
    * column bounds the pair explosion; at scale use [[AnnIndex]] LSH
    * buckets as blocks instead of a payload attribute. */
  /** SemDeDup-style semantic near-duplicate pairs (Abbas et al. 2023,
    * arXiv:2303.09540): cluster the corpus with exact-fixed-point
    * k-means ([[IvfIndex.buildKMeans]]), then compare pairs only
    * WITHIN a cell — the all-pairs product shrinks from corpus² to
    * Σ cellᵢ². The learned blocking is deterministic
    * (partition-invariant centroids), so the whole composition carries
    * a SQL oracle (q184 pinned cells, q285 auto-scaled). Same output
    * contract as [[nearDupPairs]].
    *
    * == Cell-count scaling ==
    * At FIXED `cells`, mean cell size grows linearly with the corpus
    * and within-cell pair mass ~quadratically — a fixed-k config
    * tuned at one sf is NOT the config a 100× deployment should run.
    * Pass `targetCellSize > 0` to derive the count from the corpus
    * the way Abbas et al. scale clusters with corpus size:
    * `cells = min(MaxCells, max(cells, ceil(n / targetCellSize)))`
    * ([[autoCells]] — one cheap `count()`, integer arithmetic, fully
    * deterministic). That holds mean cell size ≈ targetCellSize, so
    * pair mass stays ~n·targetCellSize (linear). When the derived
    * count exceeds `maxCellsPerLevel` (n > targetCellSize·cap) the
    * operator switches to TWO-LEVEL coarse quantization — level-1
    * k-means into `ceil(k/cap)` parents, then
    * [[IvfIndex.buildGroupedKMeans]] inside each parent — extending
    * the linear regime to cap² leaf cells. Gate/knob scale table:
    * [[graft.ScaleProfile]]. */
  def semanticNearDupPairs(
      corpus: DataFrame,
      cells: Int,
      iters: Int,
      threshold: Double,
      idCol: String = "vec_id",
      embCol: String = "embedding",
      targetCellSize: Long = 0L,
      maxCellsPerLevel: Int = IvfIndex.MaxCells): DataFrame = {
    require(maxCellsPerLevel >= 1 && maxCellsPerLevel <= IvfIndex.MaxCells,
      s"maxCellsPerLevel must be in [1, ${IvfIndex.MaxCells}], got $maxCellsPerLevel")
    // count the corpus at most ONCE: the same n feeds both the cell
    // derivation and buildKMeans's seed stride (which would otherwise
    // re-count — two full-corpus actions per auto-scaled call)
    val n = if (targetCellSize > 0L) corpus.count() else -1L
    // UNCAPPED derived cell count: the single-level/two-level decision
    val kRaw: Long = if (targetCellSize <= 0L) cells.toLong
      else math.max(cells.toLong, (n + targetCellSize - 1L) / targetCellSize)
    // Two-level is an AUTO-SCALED regime only: the grouped level-2
    // kernel derives per-parent sub-cell counts from targetCellSize,
    // so a pinned-k call (targetCellSize <= 0) with cells above the
    // cap must NOT route there (it would crash deep in
    // buildGroupedKMeans with "targetCellSize must be >= 1") — it
    // stays single-level and fails, clearly, on buildKMeans's own
    // cells-vs-MaxCells require.
    if (kRaw <= maxCellsPerLevel || targetCellSize <= 0L) {
      // single level — identical to the pre-two-level path (the cap
      // clamp is a no-op here, so autoCellsFor-gated oracles hold)
      val idx = IvfIndex.buildKMeans(corpus, kRaw.toInt, iters, idCol,
        embCol, knownCount = n)
      nearDupPairs(
        idx.assigned.select(col("cell_id"), col(idCol), col(embCol)),
        "cell_id", threshold, idCol, embCol)
    } else {
      // == Beyond-cap path: two-level coarse quantization ==
      // A single level cannot hold mean cell size at targetCellSize
      // past MaxCells cells (n > targetCellSize·MaxCells) — the
      // within-cell pair mass would turn quadratic again. Split the
      // corpus with a level-1 k-means into k1 parents, then run the
      // grouped Lloyd kernel ([[IvfIndex.buildGroupedKMeans]]) inside
      // each parent. Leaf capacity cap² cells (~33M rows at the
      // defaults, 1000x the single-level boundary); level-1 stays an
      // audit-provable broadcast, level-2 assignment is an equi-join
      // on the parent (bounded fan per row, never broadcast). Leaf
      // blocking key = parent·cap + sub (exact, collision-free).
      //
      // k1 BALANCES the levels at ~ceil(sqrt(kRaw)) instead of the
      // minimal ceil(kRaw/cap): the r12 sf3 sweep measured the
      // minimal choice at 237 s / exponent 3.4 (q285: kRaw = 1875
      // just past cap = 1024 gave k1 = 2, so the level-2 equi-join
      // fanned ~cap centroids per row AND every grouped shuffle
      // hashed on 2 parent keys — parallelism collapsed exactly where
      // the operator's linear-regime claim began). sqrt keeps both
      // levels ~sqrt(kRaw) wide: bounded fan per row, k1-way
      // parallelism, same cap² capacity. Clamped below by
      // ceil(kRaw/cap) (so k1·cap >= kRaw leaves stay reachable) and
      // above by the cap (the broadcast bound; min wins when the two
      // conflict past cap² — the documented regime limit).
      // ceil(sqrt(·)) is IEEE-exact in any engine (sqrt is correctly
      // rounded), so the q287 oracle derives the SAME k1 from
      // count(*). Gate/knob scale table: [[graft.ScaleProfile]].
      val k1 = math.min(maxCellsPerLevel.toLong,
        math.max(math.ceil(math.sqrt(kRaw.toDouble)).toLong,
          (kRaw + maxCellsPerLevel - 1L) / maxCellsPerLevel)).toInt
      val idx1 = IvfIndex.buildKMeans(corpus, k1, iters, idCol, embCol,
        knownCount = n)
      val leafed = IvfIndex.buildGroupedKMeans(
        idx1.assigned.select(col("cell_id"), col(idCol), col(embCol)),
        "cell_id", targetCellSize, maxCellsPerLevel, iters, idCol, embCol)
        .select((col("cell_id") * maxCellsPerLevel + col("sub_cell_id"))
          .as("__leaf"), col(idCol), col(embCol))
      nearDupPairs(leafed, "__leaf", threshold, idCol, embCol)
    }
  }

  /** The deterministic cell count [[semanticNearDupPairs]] uses:
    * `minCells` when `targetCellSize ≤ 0` (pinned-k mode), else
    * `min(MaxCells, max(minCells, ceil(n / targetCellSize)))` with
    * ceil as exact integer arithmetic — the same expression a SQL
    * oracle computes from `count(*)`, so the learned blocking stays
    * engine-reproducible at any corpus size. */
  def autoCells(corpus: DataFrame, minCells: Int,
      targetCellSize: Long): Int =
    if (targetCellSize <= 0L) minCells
    else autoCellsFor(corpus.count(), minCells, targetCellSize)

  /** [[autoCells]] on an already-known corpus count. */
  def autoCellsFor(n: Long, minCells: Int, targetCellSize: Long): Int =
    math.min(IvfIndex.MaxCells.toLong,
      math.max(minCells.toLong,
        (n + targetCellSize - 1L) / targetCellSize)).toInt

  def nearDupPairs(
      corpus: DataFrame,
      blockCol: String,
      threshold: Double,
      idCol: String = "vec_id",
      embCol: String = "embedding"): DataFrame = {
    // r18: pinned, like every self-join input — "identical join
    // sides → ReuseExchange" only held in the SMJ regime; under AQE's
    // broadcast rewrite each side re-executed the upstream (for the
    // IVF callers that is the whole k-means assignment join; q18's
    // final plan read 4 parquet scans, 0 ReusedExchange). Staging the
    // double-cast + per-vector L2 norm in the pin also keeps each
    // norm computed once, as before.
    val side = Pins.heavy(corpus.select(col(blockCol), col(idCol),
      col(embCol).cast("array<double>").as(embCol),
      Similarity.l2(col(embCol)).as("__n")))
    side.as("a").join(side.as("b"),
        col(s"a.$blockCol") === col(s"b.$blockCol") &&
        col(s"a.$idCol") < col(s"b.$idCol"))
      .select(col(s"a.$idCol").as("id_a"), col(s"b.$idCol").as("id_b"),
        // zero-norm pairs read as similarity 0 (the reference's
        // cosine guard) — also keeps the division out of ANSI mode's
        // divide-by-zero error path
        when(col("a.__n") * col("b.__n") === 0.0, lit(0.0))
          .otherwise(Similarity.dot(col(s"a.$embCol"), col(s"b.$embCol")) /
            (col("a.__n") * col("b.__n"))).as("cosine"))
      .filter(col("cosine") > threshold)
  }

  /** kNN label-consistency probe: for each vector, do its k nearest
    * same-cell neighbors (cosine) vote its own label? — the standard
    * embedding-quality audit before training a classifier on the
    * space (low consistency = the space doesn't separate the labels;
    * per-label rows expose WHICH classes bleed). Neighbors come from
    * [[semanticNearDupPairs]]'s learned k-means cells, so the
    * candidate set is Σ|cell|² not |corpus|²; vectors alone in their
    * cell abstain (no neighbors, excluded from the denominator).
    * Votes tie-break by (count desc, label asc); neighbor ranks by
    * (cosine desc, id asc) — fully deterministic.
    *
    * == Scale ==
    * One k-means build (bounded iterations over fixed-point
    * aggregates), one cell-blocked self-join, two per-vector-keyed
    * windows over ≤|cell| rows each. Output:
    * `(label, n, n_correct, accuracy)`. */
  def knnLabelConsistency(
      corpus: DataFrame,
      cells: Int,
      iters: Int,
      k: Int,
      idCol: String = "vec_id",
      embCol: String = "embedding",
      labelCol: String = "label"): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    val idx = IvfIndex.buildKMeans(corpus, cells, iters, idCol, embCol)
    val side = idx.assigned.select(col("cell_id"), col(idCol),
      col(labelCol),
      col(embCol).cast("array<double>").as(embCol),
      Similarity.l2(col(embCol)).as("__n"))
    val nb = rankTopK(side.as("a").join(side.as("b"),
        col("a.cell_id") === col("b.cell_id") &&
        col(s"a.$idCol") =!= col(s"b.$idCol"))
      .select(col(s"a.$idCol").as("__vid"),
        col(s"a.$labelCol").as("__own"),
        col(s"b.$idCol").as("__nid"), col(s"b.$labelCol").as("__nbl"),
        Cosine.stagedScore(col(s"a.$embCol"), col("a.__n"),
          col(s"b.$embCol"), col("b.__n")).as("score")), k, "__vid", "__nid")
    val pred = nb
      .groupBy(col("__vid"), col("__own"), col("__nbl"))
      .agg(count(lit(1)).as("__c"))
      .withColumn("__r", row_number().over(
        Window.partitionBy(col("__vid"))
          .orderBy(col("__c").desc, col("__nbl").asc)))
      .filter(col("__r") === 1)
    pred.groupBy(col("__own").as("label"))
      .agg(count(lit(1)).as("n"),
        sum((col("__nbl") === col("__own")).cast("long")).as("n_correct"))
      .withColumn("accuracy",
        col("n_correct").cast("double") / col("n").cast("double"))
  }

  /** Per-query overlap between an approximate retrieval result and
    * the exact one — the recall audit every ANN deployment runs before
    * trusting an index (probe depth / cell count / code budget are
    * tuned against exactly this number). Both inputs are
    * `(queryCol, itemCol)` result sets (one row per returned item).
    *
    * == Scale ==
    * One full-outer equi-join on `(query, item)` — k rows per query
    * on each side, never a corpus product — then a per-query count
    * reduce. `recall` is the exact rational `n_common / n_exact`
    * divided once. */
  def retrievalOverlap(
      approx: DataFrame,
      exact: DataFrame,
      queryCol: String = "query_id",
      itemCol: String = "vec_id"): DataFrame = {
    val a = approx.select(col(queryCol), col(itemCol))
      .withColumn("__a", lit(1L))
    val e = exact.select(col(queryCol), col(itemCol))
      .withColumn("__e", lit(1L))
    a.join(e, Seq(queryCol, itemCol), "full")
      .groupBy(col(queryCol))
      .agg(
        sum(coalesce(col("__a"), lit(0L))).as("n_approx"),
        sum(coalesce(col("__e"), lit(0L))).as("n_exact"),
        sum(when(col("__a").isNotNull && col("__e").isNotNull, 1L)
          .otherwise(0L)).as("n_common"))
      .withColumn("recall",
        when(col("n_exact") > 0,
          col("n_common").cast("double") / col("n_exact").cast("double")))
  }
}

/** Skye payload filter operators (SURVEY P7) — the reference's filter
  * enum (`go-sdk/pkg/clients/skye/client/proto/skye.proto:31-44`:
  * IN, NIN, EX, SEARCH, LT(E), GT(E), BTW(E), LAST_X_DAYS, WTHN) as
  * Column predicate builders. These are plain Catalyst predicates, so
  * they push down to the corpus scan.
  */
object Filters {
  def in(c: Column, vs: Any*): Column = c.isin(vs: _*)
  def nin(c: Column, vs: Any*): Column = !c.isin(vs: _*) || c.isNull
  def ex(c: Column): Column = c.isNotNull
  def search(c: Column, needle: String): Column = c.contains(needle)
  def lt(c: Column, v: Any): Column = c < lit(v)
  def lte(c: Column, v: Any): Column = c <= lit(v)
  def gt(c: Column, v: Any): Column = c > lit(v)
  def gte(c: Column, v: Any): Column = c >= lit(v)
  def btw(c: Column, lo: Any, hi: Any): Column = c > lit(lo) && c < lit(hi)
  def btwe(c: Column, lo: Any, hi: Any): Column = c.between(lit(lo), lit(hi))
  /** ts within the last `x` days of `asOf` (fixed asOf ⇒ deterministic). */
  def lastXDays(c: Column, x: Int, asOf: Column): Column =
    c >= (asOf - expr(s"INTERVAL $x DAYS")) && c <= asOf
  /** within-radius on a similarity metric (WTHN). */
  def within(emb: Column, center: Column, radius: Double): Column =
    graft.functions.Similarity.euclidean(emb, center) <= radius
}
