package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.functions.Hashing

/** Deterministic sampling for training-data pipelines.
  *
  * Random `df.sample` is non-reproducible across runs/partitionings;
  * these operators decide membership from a hash of the row's KEY, so
  * a sample is stable under re-execution, repartitioning and engine
  * changes (the md5-derived hash is the same one the DuckDB oracles
  * compute) — the property a 100 TB pipeline needs to re-derive the
  * exact same training set twice.
  */
object Sampling {

  private final val Bucket = 1000000L

  /** Hash bucket in [0, 1e6) for a key column — membership tests are
    * `bucket < rate * 1e6`. */
  def hashBucket(key: Column, seed: Int = 7): Column =
    Hashing.md5Hash32(key.cast("string"), seed) % Bucket

  /** Deterministic weight-proportional systematic sampling: rows are
    * laid on the cumulative-weight axis in `keyCol` order and one row
    * is taken wherever the axis crosses a multiple of total/n.
    * Weights become micro-unit integers, so every comparison is exact —
    * the same sample on any engine and any partitioning (no RNG, no
    * float rounding). The cumulative axis and its total come from
    * [[PrefixSum]] — no global single-partition window.
    *
    * Requires unique `keyCol` values and `total_micro_weight * n <
    * 2^63`. A row whose weight spans several boundaries is taken once,
    * so the sample size can fall slightly below `n` on heavy-tailed
    * weights.
    */
  def systematicByWeight(
      df: DataFrame,
      keyCol: String,
      weightCol: String,
      n: Int): DataFrame =
    PrefixSum.inclusiveWithTotal(
        df.withColumn("__wi", round(col(weightCol) * 1e6).cast("long")),
        Seq(col(keyCol)), Seq("__wi" -> "__cum"), "__t")
      .filter(expr(s"(__cum * $n) div __t > ((__cum - __wi) * $n) div __t"))
      .drop("__wi", "__cum", "__t")

  /** Deterministic train/val/test assignment: the key's hash bucket
    * falls into one of the `splits` fractions (must sum to 1). Stable
    * under re-execution, repartitioning and engine changes — the same
    * document lands in the same split on every run, the property that
    * keeps a held-out set held out across pipeline versions. The bucket
    * is staged as an attribute so the md5 runs once per row, not once
    * per when-branch. */
  def split(
      df: DataFrame,
      keyCol: String,
      splits: Seq[(String, Double)],
      seed: Int = 7,
      out: String = "split"): DataFrame = {
    require(splits.nonEmpty && math.abs(splits.map(_._2).sum - 1.0) < 1e-9,
      "split fractions must sum to 1")
    val cuts = splits.map(_._2).scanLeft(0.0)(_ + _).tail
      .map(f => math.round(f * Bucket))
    val chain = splits.map(_._1).zip(cuts).init
      .foldRight(lit(splits.last._1): Column) {
        case ((name, cut), acc) => when(col("__b") < cut, lit(name)).otherwise(acc)
      }
    df.withColumn("__b", hashBucket(col(keyCol), seed))
      .withColumn(out, chain)
      .drop("__b")
  }

  /** Exact per-class quota: the `n` rows of each class whose key hashes
    * lowest (ties by key) — deterministic class-balancing downsampling.
    * One shuffle on the class key; the rank window is per-class, never
    * global. */
  def quotaPerClass(
      df: DataFrame,
      keyCol: String,
      classCol: String,
      n: Int,
      seed: Int = 7): DataFrame =
    df.withColumn("__b", hashBucket(col(keyCol), seed))
      .withColumn("__r", row_number().over(
        Window.partitionBy(col(classCol))
          .orderBy(col("__b").asc, col(keyCol).asc)))
      .filter(col("__r") <= n)
      .drop("__b", "__r")

  /** Per-stratum rates: `rates(stratumValue) -> rate`, keys absent from
    * the map fall back to `defaultRate`. */
  def stratified(
      df: DataFrame,
      keyCol: String,
      strataCol: String,
      rates: Map[String, Double],
      defaultRate: Double = 0.0,
      seed: Int = 7): DataFrame = {
    val rateCol = rates.foldLeft(lit((defaultRate * Bucket).toLong)) {
      case (acc, (value, rate)) =>
        when(col(strataCol) === value, lit((rate * Bucket).toLong)).otherwise(acc)
    }
    df.filter(hashBucket(col(keyCol), seed) < rateCol)
  }

  /** Deterministic bottom-k-by-hash sample per group — the mergeable
    * per-group "reservoir": a row survives iff its key's md5 ranks in
    * the group's k smallest, so the union of two samples re-limited to
    * k IS the union's sample (the KMV property per group; cf.
    * [[Sketches.hashSampleQuantiles]] for the global variant). No RNG,
    * no seed state — any engine, any partitioning, any merge order
    * reproduces the identical sample.
    *
    * One shuffle on the group key; the window's `row_number` reduces
    * per-partition before ranking (`WindowGroupLimit` pushes the k
    * cut map-side in Spark ≥ 3.5), so a billion-row group moves only
    * its candidate tail, not its whole extent. */
  def bottomKPerGroup(
      df: DataFrame,
      groupCol: String,
      keyCol: String,
      k: Int,
      seed: Int = 7): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    import org.apache.spark.sql.expressions.Window
    df
      .withColumn("__h", Hashing.md5Hash32(col(keyCol).cast("string"), seed))
      .withColumn("sample_rank", row_number().over(
        Window.partitionBy(col(groupCol))
          .orderBy(col("__h").asc, col(keyCol).asc)))
      .filter(col("sample_rank") <= k)
      .drop("__h")
  }

}
