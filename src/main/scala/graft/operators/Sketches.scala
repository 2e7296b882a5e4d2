package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.ColumnBridge
import graft.expr.{KmvSketch, MisraGries}
import graft.functions.Hashing

/** Mergeable distinct-count sketches (KMV) as first-class aggregation
  * columns. The reference has no sketch surface (SURVEY §2.4 notes "no
  * HLL"); at the 100 TB training-pipeline scale this engine targets,
  * exact `count(distinct)` over high-cardinality keys shuffles every
  * distinct value — the sketch ships O(k) longs per group instead and
  * stays mergeable across rollup levels.
  */
object Sketches {

  /** KMV sketch aggregate: sorted k smallest distinct values of a long
    * hash column (ascending `array<long>`, size ≤ k). Bounded O(k)
    * state, map-side partial aggregation. */
  def kmvMinima(hash: Column, k: Int): Column =
    ColumnBridge.column(
      KmvSketch(ColumnBridge.expression(hash), k).toAggregateExpression())

  /** Distinct-count estimate from a [[kmvMinima]] array over hashes
    * uniform in [0, 2^hashBits): exact size when the sketch is not
    * full, else `(k-1) * 2^hashBits / kth_min`. */
  def kmvEstimate(minima: Column, k: Int, hashBits: Int = 32): Column =
    when(size(minima) < k, size(minima).cast("double"))
      .otherwise(lit((k - 1).toDouble) * lit(math.pow(2.0, hashBits)) /
        element_at(minima, k).cast("double"))

  /** Merge two KMV minima arrays (set-union of sketches): the k
    * smallest distinct values across both — lets rollups combine
    * finer-grained sketches without touching raw data. */
  def kmvUnion(a: Column, b: Column, k: Int): Column =
    slice(array_sort(array_distinct(concat(a, b))), 1, k)

  /** Set-INTERSECTION cardinality estimate from two KMV minima arrays
    * (the theta-sketch intersection rule, Beyer et al. SIGMOD'07):
    * below θ = min of the two sketches' thresholds, BOTH sketches
    * retain every distinct hash they saw, so
    * `|{v ∈ A∩B : v < θ}| · 2^bits / θ` is the same density estimator
    * [[kmvEstimate]] uses. A not-full sketch's θ is 2^bits (it kept
    * everything), so two not-full sketches give the exact
    * intersection size. */
  def kmvIntersectEstimate(
      a: Column, b: Column, k: Int, hashBits: Int = 32): Column = {
    val full = math.pow(2.0, hashBits)
    def theta(x: Column) =
      when(size(x) < k, lit(full)).otherwise(element_at(x, k).cast("double"))
    val t = least(theta(a), theta(b))
    val common = filter(array_intersect(a, b), v => v.cast("double") < t)
    size(common).cast("double") * lit(full) / t
  }

  /** Distinct-audience overlap between every pair of segments: the
    * per-segment KMV sketches pair up (tiny table, broadcast
    * self-join) and [[kmvIntersectEstimate]] reads the shared-user
    * estimate off the sketches alone, next to the exact overlap for
    * the audit. At 100 TB the exact leg is the expensive one (distinct
    * (segment,user) self-join); production keeps only the sketch leg —
    * O(k) longs per segment — and rollups reuse the same sketches via
    * [[kmvUnion]]. Output: `(seg_a, seg_b, exact_overlap,
    * kmv_overlap)`. */
  def audienceOverlap(
      df: DataFrame,
      segmentCol: String,
      userCol: String,
      k: Int,
      seed: Int = 7,
      maxSegments: Int = graft.PlanAudit.BoundedBuildRows,
      allowTruncate: Boolean = false): DataFrame = {
    // segment-pair sketch compare is quadratic in the segment set —
    // the bound is enforced (orderBy+limit on the one-row-per-segment
    // sketch table, provable to PlanAudit), not assumed, and LOUD by
    // default ([[Bounds.guardCap]]): a segment set beyond the cap
    // fails the job unless `allowTruncate = true` accepts losing the
    // highest segments — maxSegments = 0 disables the trim (audit then
    // needs a reviewed allowance). Scale table: graft.ScaleProfile.
    val sk0 = df
      .select(col(segmentCol),
        Hashing.md5Hash32(col(userCol).cast("string"), seed).as("__h"))
      .groupBy(col(segmentCol))
      .agg(kmvMinima(col("__h"), k).as("__mins"))
    val sk =
      if (maxSegments > 0) sk0.orderBy(col(segmentCol)).limit(maxSegments)
      else sk0
    val pairs = sk.select(col(segmentCol).as("seg_a"), col("__mins").as("__ma"))
      .join(broadcast(
        sk.select(col(segmentCol).as("seg_b"), col("__mins").as("__mb"))),
        col("seg_a") < col("seg_b"))
    val du = df.select(col(segmentCol), col(userCol)).distinct()
    val exact = du.select(col(segmentCol).as("seg_a"), col(userCol))
      .join(du.select(col(segmentCol).as("seg_b"), col(userCol)), Seq(userCol))
      .filter(col("seg_a") < col("seg_b"))
      .groupBy(col("seg_a"), col("seg_b"))
      .agg(count(lit(1)).as("exact_overlap"))
    val out = pairs
      .join(exact, Seq("seg_a", "seg_b"), "left")
      .select(col("seg_a"), col("seg_b"),
        coalesce(col("exact_overlap"), lit(0L)).as("exact_overlap"),
        kmvIntersectEstimate(col("__ma"), col("__mb"), k).as("kmv_overlap"))
    if (maxSegments > 0 && !allowTruncate)
      Bounds.guardCap(out, Bounds.census(sk0), maxSegments,
        "Sketches.audienceOverlap segment set")
    else out
  }

  /** Per-group approximate distinct count of `valueCol` next to the
    * exact count: one aggregation pass, the engine-portable md5 hash
    * (swap for `xxhash64` + hashBits=64 in production). */
  def distinctByGroup(
      df: DataFrame,
      groupCol: String,
      valueCol: String,
      k: Int,
      seed: Int = 7): DataFrame = {
    val hashed = df.select(col(groupCol),
      col(valueCol),
      Hashing.md5Hash32(col(valueCol).cast("string"), seed).as("__h"))
    hashed.groupBy(col(groupCol))
      .agg(
        countDistinct(col(valueCol)).as("exact_distinct"),
        kmvEstimate(kmvMinima(col("__h"), k), k).as("kmv_distinct"))
  }

  /** Quantiles from a deterministic bottom-k-by-hash sample: the k
    * rows with the smallest `md5Hash32(id)` are a uniform sample of
    * the data that every engine and every partitioning selects
    * IDENTICALLY (the KMV trick applied to row sampling), and exact
    * rank statistics over that bounded sample estimate the quantiles.
    * Unlike `percentile_approx` (whose sketch is
    * implementation-defined and engine-specific), this estimator is
    * reproducible to the bit and mergeable: the union of two bottom-k
    * samples re-limited to k IS the bottom-k sample of the union.
    *
    * Each requested probability p reports the sample value at rank
    * `1 + floor(p·(m-1))` (lower-value rank, no interpolation — both
    * engines compute the same index), ties ordered by (value, hash).
    *
    * == Scale ==
    * The scan reduces through Spark's sort+limit (per-partition top-k,
    * TakeOrderedAndProject — never a global sort); every later stage
    * touches only the ≤k-row sample, the same bounded-driver-data
    * class as the PAV bin table or a centroid set. */
  def hashSampleQuantiles(
      df: DataFrame,
      valueCol: String,
      idCol: String,
      k: Int,
      probs: Seq[Double],
      seed: Int = 7): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    require(probs.nonEmpty && probs.forall(p => p >= 0.0 && p <= 1.0),
      "probs must be within [0, 1]")
    val spark = df.sparkSession
    import spark.implicits._
    import org.apache.spark.sql.expressions.Window
    val sample = df
      .select(col(valueCol).cast("double").as("__v"),
        Hashing.md5Hash32(col(idCol).cast("string"), seed).as("__h"))
      .orderBy(col("__h").asc, col("__v").asc)
      .limit(k)
    // single-partition windows are fine HERE: the sample is ≤ k rows
    val ranked = sample
      .withColumn("__rn", row_number().over(
        Window.orderBy(col("__v").asc, col("__h").asc)))
      .withColumn("__m", count(lit(1)).over(
        Window.partitionBy().rowsBetween(
          Window.unboundedPreceding, Window.unboundedFollowing)))
    val pDf = probs.toDF("p")
    ranked.crossJoin(broadcast(pDf))
      .filter(col("__rn") ===
        (lit(1) + floor(col("p") * (col("__m") - 1))).cast("int"))
      .select(col("p"), col("__v").as("value"))
  }

  /** Misra–Gries frequent-items summary of a string column: at most
    * `k` counters, emitted as `map<string,long>` of item → lower-bound
    * count. Every item with share > 1/(k+1) is guaranteed present. */
  def misraGries(value: Column, k: Int): Column =
    ColumnBridge.column(
      MisraGries(ColumnBridge.expression(value), k).toAggregateExpression())

  /** EXACT heavy hitters at sketch cost: items of `valueCol` whose
    * count exceeds `minShare` of the (non-null) total.
    *
    * Pass 1 scans once, producing a ≤`sketchSize` Misra–Gries candidate
    * map + the exact total; because the summary guarantees every item
    * with share > 1/(sketchSize+1) survives, requiring
    * `minShare > 1/(sketchSize+1)` makes the candidates a SUPERSET of
    * the answer. Pass 2 exact-counts only candidate-matched rows
    * (broadcast semi-join) and keeps those above the threshold — so the
    * output is exact, never approximate.
    *
    * == Scale ==
    * The naive exact plan (`groupBy value HAVING cnt > share·n`)
    * shuffles EVERY distinct value — at a 100 TB corpus with a
    * billion-entry vocabulary, that exchange is the job. Here pass 1
    * ships one bounded map per map task (partial → final aggregation of
    * mergeable summaries), and pass 2's shuffle carries only rows
    * matching ≤sketchSize candidates. Total: two scans, O(sketchSize)
    * exchanged per task.
    */
  def heavyHitters(
      df: DataFrame,
      valueCol: String,
      sketchSize: Int,
      minShare: Double): DataFrame = {
    require(minShare > 1.0 / (sketchSize + 1),
      s"minShare=$minShare below the Misra-Gries guarantee " +
        s"1/(sketchSize+1)=${1.0 / (sketchSize + 1)}: candidates could " +
        "miss true heavy hitters; raise sketchSize or minShare")
    val summary = df.agg(
      misraGries(col(valueCol), sketchSize).as("__mg"),
      count(col(valueCol)).as("total"))
    val cands = summary.select(
      explode(map_keys(col("__mg"))).as(valueCol), col("total"))
    df.join(broadcast(cands), Seq(valueCol), "inner")
      .groupBy(col(valueCol))
      .agg(count(lit(1)).as("cnt"), first(col("total")).as("total"))
      .filter(col("cnt") > lit(minShare) * col("total"))
  }

  /** Count-min bucket for `v` (a string column) in row `d` of the
    * sketch: the engine-portable md5 hash of `"d:v"` mod `width` —
    * each depth row is an independent hash function. */
  private def cmBucket(d: Column, v: Column, width: Int): Column =
    Hashing.md5Hash32(concat_ws(":", d, v), 0) % width

  /** Count-min sketch table (Cormode & Muthukrishnan, J. Algorithms
    * 2005): `depth` independent hash rows of `width` counters; each
    * value increments one counter per row; a point estimate is the MIN
    * over its `depth` counters — always an overcount, never under.
    *
    * == Scale ==
    * ONE scan: the depth-way fan-out is a row-local explode of a
    * `depth`-element literal array (no self-union, no rescan), and the
    * only shuffle carries the `depth·width`-row counter table — the
    * sketch is a fixed-size aggregate of an unbounded stream, which is
    * the point. Output: `(d, bucket, c)`. */
  def countMinTable(
      df: DataFrame, valueCol: String, width: Int, depth: Int): DataFrame = {
    require(width >= 2 && depth >= 1,
      s"need width >= 2 and depth >= 1, got $width x $depth")
    df.filter(col(valueCol).isNotNull)
      .select(col(valueCol).cast("string").as("__v"))
      .select(col("__v"),
        explode(array((0 until depth).map(i => lit(i)): _*)).as("d"))
      .withColumn("bucket", cmBucket(col("d"), col("__v"), width))
      .groupBy(col("d"), col("bucket"))
      .agg(count(lit(1)).as("c"))
  }

  /** Row-local staging for a STREAMING count-min build: each value
    * becomes its `depth` (row, bucket) increments with a unit weight,
    * ready for [[graft.streaming.Ingest.incrementalAggSink]] keyed on
    * (d, bucket) — the sketch merges across micro-batches by plain
    * addition, which is exactly what the incremental-agg state does.
    * Works unchanged on a streaming DataFrame (no aggregation here).
    * Output: `(d, bucket, one)`. */
  def countMinRows(
      df: DataFrame, valueCol: String, width: Int, depth: Int): DataFrame = {
    require(width >= 2 && depth >= 1,
      s"need width >= 2 and depth >= 1, got $width x $depth")
    df.filter(col(valueCol).isNotNull)
      .select(col(valueCol).cast("string").as("__v"))
      .select(col("__v"),
        explode(array((0 until depth).map(i => lit(i)): _*)).as("d"))
      .withColumn("bucket", cmBucket(col("d"), col("__v"), width))
      .select(col("d"), col("bucket"), lit(1.0).as("one"))
  }

  /** Count-min point estimates for every distinct value of `valueCol`,
    * next to the exact count — the collision-overcount audit run
    * before trusting a sketch configuration (`est − exact` is the
    * collision mass at this width/depth; the CM guarantee bounds it by
    * `e·n/width` with probability `1 − e^−depth`).
    *
    * == Scale ==
    * The counter table (`depth·width` rows) broadcasts to the probe
    * join — the per-item lookup never shuffles the sketch. Exact
    * counts ride the same single scan shape as the table build.
    * Output: `(item, exact, est, overcount)`. */
  def countMinEstimates(
      df: DataFrame, valueCol: String, width: Int, depth: Int): DataFrame = {
    val table = countMinTable(df, valueCol, width, depth)
    val exact = df.filter(col(valueCol).isNotNull)
      .groupBy(col(valueCol).cast("string").as("item"))
      .agg(count(lit(1)).as("exact"))
    exact
      .select(col("item"), col("exact"),
        explode(array((0 until depth).map(i => lit(i)): _*)).as("d"))
      .withColumn("bucket", cmBucket(col("d"), col("item"), width))
      .join(broadcast(table), Seq("d", "bucket"))
      .groupBy(col("item"), col("exact"))
      .agg(min(col("c")).as("est"))
      .withColumn("overcount", col("est") - col("exact"))
  }
}
