package graft

/** The knob table: every operator cap whose GATE value is not the
  * value a 100× deployment should run, in one place.
  *
  * The oracle gates (sf0.01, DuckDB hash-compare) pin small constants
  * for reproducibility; several of those constants are scale-coupled —
  * cargo-culting them onto a 1000-executor cluster either recreates
  * the quadratic the operator exists to avoid or leaves parallelism on
  * the table. Each knob below names its operator, the value the gate
  * runs, and the rule for choosing the production value. Operators
  * cite this object from their scaladoc; keep the two in sync when
  * adding a knob.
  *
  * == Hard caps (provable plan bounds — do NOT raise casually) ==
  *
  *  - `PlanAudit.BoundedBuildRows` = 1024. The single constant the
  *    plan audit accepts as an explicit nested-loop build-side bound
  *    (`orderBy().limit(n ≤ 1024)`); every cap below that defaults to
  *    it references it by name. Raising it weakens the audit for every
  *    operator at once — shard or chunk instead.
  *  - `IvfIndex.MaxCells` = BoundedBuildRows. Centroid tables must
  *    stay broadcast-sized; beyond ~1024 cells, two-level
  *    coarse-quantize (implemented: `semanticNearDupPairs`'s
  *    beyond-cap path via `IvfIndex.buildGroupedKMeans`, whose
  *    level-2 centroids are equi-joined, never broadcast) or shard
  *    the index rather than widening the broadcast.
  *
  * == Batch-size caps (loud by default — [[graft.operators.Bounds]]) ==
  *
  *  - `SimilaritySearch.topK(maxQueries)` — gate: default 1024.
  *    100×: unchanged; CHUNK bigger query batches (each chunk is one
  *    broadcast pass over the corpus), or move to the IVF/LSH path.
  *  - `LinAlg.centroidSimilarity(maxLabels)` — gate: default 1024.
  *    100×: unchanged; a label set past ~10³ makes the pairwise table
  *    itself the product to rethink, not the cap.
  *  - `Sketches.audienceOverlap(maxSegments)` — gate: default 1024.
  *    100×: unchanged; segment-pair output is quadratic in segments.
  *
  * == Blocking-granularity knobs (the scale-coupled ones) ==
  *
  * The two sub-split caps (`maxBlock`, `maxBin`) both run
  * [[graft.operators.Skew.cappedFanJoin]] — one shared
  * census-adaptive kernel, so a fix or tuning change lands in both
  * operators at once.
  *
  *  - `SimilaritySearch.semanticNearDupPairs(cells, targetCellSize,
  *    maxCellsPerLevel)` — gate: q184 pins `cells = 8`
  *    (SQL-reproducible k-means), q285 runs the auto-scale
  *    `targetCellSize = 32`, q287 pins `maxCellsPerLevel = 32` so the
  *    beyond-cap path runs at gate scale. 100×: ALWAYS set
  *    `targetCellSize` to the per-cell pair budget (mean cell size ≈
  *    target, pair mass ≈ n·target/2 — linear); `cells` derives as
  *    ceil(n/target). Past `maxCellsPerLevel` cells (n >
  *    target·1024 at the production cap) the operator itself switches
  *    to two-level coarse quantization (level-1 k-means into
  *    k1 = max(ceil(sqrt(k)), ceil(k/cap)) parents — BALANCED, not
  *    minimal: the r12 sf3 sweep measured ceil(k/cap) at 30x the
  *    balanced time just past the cap, where 2 parents serialized
  *    every grouped shuffle — grouped Lloyd per parent via
  *    `IvfIndex.buildGroupedKMeans`), holding the linear regime to
  *    cap² ≈ 10⁶ leaf cells ≈ 3·10⁷ vectors at target 32; beyond
  *    THAT, shard the corpus per index.
  *  - `EntityResolution.blockedBestMatch(maxBlock)` — gate: q247 runs
  *    32 (exercises the sub-split on ~60-row blocks). 100×: the
  *    largest clean-row count one task should compare against, ~10³–
  *    10⁴; it re-parallelizes hot blocks, never changes output.
  *  - `RangeJoin.sessionConcurrency(binMs, maxBin)` — gate: binMs =
  *    1 h (≈ typical session span), maxBin = 0 because the synthetic
  *    timeline is skew-free (bin census avg ≈ max — splitting every
  *    bin is pure replication). 100×: keep binMs near the median
  *    interval length (explode fan-out = span/binMs); set maxBin to
  *    the per-task row budget (~10⁴) the moment real timelines have
  *    hot hours. Count-only callers: use `sessionConcurrencyCounts`
  *    (sweep-line, zero pair mass) instead — the r14 sf10 probe made
  *    the gap concrete: total pair mass grows ~sf² when sessions
  *    scale over a fixed time window (measured 57× task CPU for 10×
  *    data, 845.7 s vs the sweep-line's 16.6 s at the same sf), so
  *    at 100× the pair join is only for pair-list OUTPUT, never for
  *    counts.
  *
  * == Bounded-work knobs (bigger = more work, not more risk) ==
  *
  *  - `PrefixSum` range partitions — derived from the session's
  *    `spark.sql.shuffle.partitions` (gate: 32, = local cores). 100×:
  *    O(total cores); the offset table materializes that many
  *    rows on one partition, so 10⁴ is still trivially safe.
  */
object ScaleProfile
