package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.functions.{Hashing, TextFunctions}

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

  /** Keep each row iff its key hashes under `rate`. */
  def byHash(df: DataFrame, keyCol: String, rate: Double, seed: Int = 7): DataFrame =
    df.filter(hashBucket(col(keyCol), seed) < (rate * Bucket).toLong)

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

  /** Temperature-based multi-source mixture sampling: source `s` gets a
    * quota ∝ n_s^alpha of the `total` sample (alpha < 1 flattens the
    * source distribution — the standard multi-corpus pretraining mix),
    * quotas resolved by exact waterfilling (a quota never exceeds the
    * source's row count; surplus re-allocates by the largest-remainder
    * method) and filled with the deterministic lowest-hash rows of each
    * source.
    *
    * Every allocation step is integer arithmetic (micro-unit weights,
    * integer div/mod remainders), so the quota vector — and therefore
    * the sample — is bit-stable across engines and partitionings.
    *
    * == Scale ==
    * One aggregation for source counts (|sources| rows — window ops on
    * it are driver-trivial), quotas broadcast back, then ONE shuffle of
    * the corpus by source for the per-source rank. A source's quota
    * rank is a bounded-heap shape; skewed source sizes stay one
    * partition each only in the rank window — salt via
    * [[Skew.saltedJoin]] patterns if a single source dominates at
    * extreme scale.
    */
  def temperatureMix(
      df: DataFrame,
      keyCol: String,
      sourceCol: String,
      alpha: Double,
      total: Int,
      seed: Int = 7): DataFrame = {
    require(alpha > 0 && total > 0, "temperatureMix needs alpha > 0, total > 0")
    val counts = df.groupBy(col(sourceCol)).agg(count(lit(1)).as("__n"))
    val alloc = waterfillQuota(counts, sourceCol, alpha, total.toLong)
    df.join(broadcast(alloc), sourceCol)
      .withColumn("__b", hashBucket(col(keyCol), seed))
      .withColumn("__r", row_number().over(
        Window.partitionBy(col(sourceCol))
          .orderBy(col("__b").asc, col(keyCol).asc)))
      .filter(col("__r") <= col("quota"))
      .drop("__b", "__r", "quota")
  }

  /** Exact waterfill quota allocation shared by [[temperatureMix]] and
    * [[tokenBudgetMix]]: `counts` is the |sources|-row table
    * `(sourceCol, __n)`; source `s` receives a quota ∝ `__n^alpha` of
    * `total`, quotas never exceed `__n` (saturation + largest-
    * remainder redistribution, all integer micro-unit arithmetic).
    * Returns `(sourceCol, quota)`. Every window rides the
    * |sources|-row table — driver-trivial at any corpus size. */
  private def waterfillQuota(
      counts: DataFrame,
      sourceCol: String,
      alpha: Double,
      total: Long): DataFrame = {
    // micro-unit weight n^alpha (floor — unambiguous in every engine)
    val w = counts.withColumn("__wm",
      floor(pow(col("__n").cast("double"), lit(alpha)) * 1e6).cast("long"))
    // Exact waterfill: a source whose proportional share exceeds its row
    // count SATURATES (quota = its size) and its surplus re-allocates to
    // the others — a quota must never exceed the rows that exist. The
    // saturated set is a prefix of the sources ordered by fill rate
    // n/w ascending (i saturates iff n_i/w_i <= final rate t), so one
    // ordered scan with prefix sums finds it: source i saturates iff
    //   w_i * (total - satN_before) >= n_i * (W - satW_before)
    // guarded by a prefix-AND so nothing after the first miss counts.
    // The remaining budget then splits among unsaturated sources by the
    // same largest-remainder rule as before (integer micro-unit math —
    // bit-stable in every engine; all windows ride the |sources|-row
    // table). If total exceeds the corpus, every source saturates and
    // the sample is the full corpus — the remaining shortfall is
    // unavoidable without replacement (documented, as systematicByWeight
    // does).
    val ordRate = Seq((col("__n").cast("double") / col("__wm")).asc,
      col(sourceCol).asc)
    val wAll = Window.rowsBetween(Window.unboundedPreceding,
      Window.unboundedFollowing)
    val wPre = Window.orderBy(ordRate: _*)
      .rowsBetween(Window.unboundedPreceding, -1)
    val wPreIncl = Window.orderBy(ordRate: _*)
      .rowsBetween(Window.unboundedPreceding, 0)
    val staged = w
      .withColumn("__W", sum(col("__wm")).over(wAll))
      .withColumn("__cumNp", coalesce(sum(col("__n")).over(wPre), lit(0L)))
      .withColumn("__cumWp", coalesce(sum(col("__wm")).over(wPre), lit(0L)))
      .withColumn("__sat", min(
        when(col("__wm") * (lit(total) - col("__cumNp")) >=
             col("__n") * (col("__W") - col("__cumWp")), 1).otherwise(0))
        .over(wPreIncl) === 1)
    val alloc = staged
      .withColumn("__R", lit(total) -
        coalesce(sum(when(col("__sat"), col("__n"))).over(wAll), lit(0L)))
      .withColumn("__U",
        coalesce(sum(when(!col("__sat"), col("__wm"))).over(wAll), lit(0L)))
      .withColumn("__base", when(col("__sat") || col("__U") === 0, lit(0L))
        .otherwise(expr("(__wm * __R) div __U")))
      .withColumn("__rem", when(col("__sat") || col("__U") === 0, lit(-1L))
        .otherwise(expr("(__wm * __R) % __U")))
      .withColumn("__left",
        col("__R") - coalesce(sum(col("__base")).over(wAll), lit(0L)))
      .withColumn("__rk", row_number().over(
        Window.orderBy(col("__rem").desc, col(sourceCol).asc)))
      .withColumn("quota",
        when(col("__sat"), col("__n"))
          .otherwise(least(
            col("__base") +
              when(col("__rk") <= col("__left"), 1).otherwise(0),
            col("__n")))
          .cast("long"))
      .select(col(sourceCol), col("quota"))
    alloc
  }

  /** Token-budget mixture sampling — [[temperatureMix]] with the
    * budget denominated in TOKENS, the unit pretraining mixes are
    * actually specified in: source `s` gets a token quota
    * ∝ `(Σ tokens_s)^alpha` of `totalTokens` (same exact waterfill —
    * a quota never exceeds the tokens the source has; surplus
    * re-allocates by largest remainder), then the source's
    * lowest-hash documents fill the quota in hash order, including
    * the document that first crosses it (so every source with a
    * positive quota emits at least one document; the overshoot is
    * bounded by one document).
    *
    * Same integer-exact determinism and the same scale posture as
    * [[temperatureMix]]: quota math on the |sources|-row table, one
    * shuffle of the corpus by source for the per-source cumulative
    * token sum. */
  def tokenBudgetMix(
      df: DataFrame,
      keyCol: String,
      sourceCol: String,
      tokensCol: String,
      alpha: Double,
      totalTokens: Long,
      seed: Int = 7): DataFrame = {
    require(alpha > 0 && totalTokens > 0,
      "tokenBudgetMix needs alpha > 0, totalTokens > 0")
    val counts = df.groupBy(col(sourceCol))
      .agg(sum(col(tokensCol)).cast("long").as("__n"))
    val alloc = waterfillQuota(counts, sourceCol, alpha, totalTokens)
    val wCum = Window.partitionBy(col(sourceCol))
      .orderBy(col("__b").asc, col(keyCol).asc)
      .rowsBetween(Window.unboundedPreceding, -1)
    df.join(broadcast(alloc), sourceCol)
      .withColumn("__b", hashBucket(col(keyCol), seed))
      .withColumn("__cumPre",
        coalesce(sum(col(tokensCol)).over(wCum), lit(0L)))
      .filter(col("__cumPre") < col("quota"))
      .drop("__b", "__cumPre", "quota")
  }

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

  /** Temperature-scaled source mixing weights — the pretraining-mix
    * policy (sampling source s with probability ∝ tokens(s)^α,
    * 0 < α < 1 upweights small high-quality sources; α = 1 is raw
    * proportion; the T5/XLM-R multilingual-mixing rule). Token counts
    * are exact longs; each source's `tokens^α` rounds to micro-units
    * BEFORE the normalizing sum, so weights are order-free and
    * engine-exact; `expected_tokens` = weight · total corpus tokens.
    *
    * == Scale ==
    * ONE scan (per-doc token count is row-local) + one shuffle on the
    * source domain; the one-row total broadcasts back over the
    * |sources|-row table. Output:
    * `(srcCol, n_docs, n_tokens, weight, expected_tokens)`. */
  def sourceMixingWeights(
      docs: DataFrame,
      srcCol: String,
      textCol: String,
      alpha: Double): DataFrame = {
    require(alpha > 0.0 && alpha <= 1.0,
      s"alpha must be in (0, 1], got $alpha")
    val perSrc = docs
      .select(col(srcCol),
        TextFunctions.tokenCount(col(textCol)).cast("long").as("__tk"))
      .groupBy(col(srcCol))
      .agg(count(lit(1)).as("n_docs"), sum(col("__tk")).as("n_tokens"))
      .withColumn("__wm",
        round(pow(col("n_tokens").cast("double"), lit(alpha)) * 1e6)
          .cast("long"))
    val tot = perSrc.agg(sum(col("__wm")).as("__wt"),
      sum(col("n_tokens")).as("__tt"))
    perSrc.crossJoin(broadcast(tot))
      .withColumn("weight",
        col("__wm").cast("double") / col("__wt").cast("double"))
      .withColumn("expected_tokens",
        col("weight") * col("__tt").cast("double"))
      .drop("__wm", "__wt", "__tt")
  }
}
