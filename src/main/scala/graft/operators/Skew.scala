package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Explicit skew tooling for pathological join keys.
  *
  * AQE's skew-join splitting handles moderate runtime skew; when one
  * key carries an outsized share of a 100 TB table (the celebrity-user
  * problem), salting bounds the largest task deterministically:
  * replicate the SMALL side `salt` ways, scatter the big side into
  * `salt` sub-keys by a deterministic row hash, and join on
  * (key, salt-bucket). Result is row-identical to the plain join.
  */
object Skew {

  /** Salted inner equi-join of a skewed `big` side against a `small`
    * side on `keys`. `saltSource` must be a deterministic per-row
    * expression on `big` (an id column, not `rand()` — reruns must
    * produce the same partitioning).
    */
  def saltedJoin(
      big: DataFrame,
      small: DataFrame,
      keys: Seq[String],
      saltSource: Column,
      salt: Int): DataFrame = {
    require(salt > 0)
    val b = big.withColumn("__salt", pmod(xxhash64(saltSource), lit(salt.toLong)))
    val s = small.withColumn("__salt",
      explode(sequence(lit(0L), lit(salt.toLong - 1))))
    b.join(s, keys :+ "__salt").drop("__salt")
  }

  /** Salted two-stage count/sum aggregation for skewed group keys:
    * rows scatter into `salt` sub-groups per key by a deterministic
    * hash, partial-aggregate on (key, salt), final-aggregate on key.
    * Map-side partials already cap combiner state, but when ONE key
    * dominates whole partitions (celebrity keys), the salt bounds the
    * largest REDUCE task at ~1/salt of the key's volume. The value sum
    * rides the exact decimal carrier ([[graft.OracleMath]]), so the
    * two-stage result is bit-identical to a direct groupBy. */
  def saltedCountSum(
      df: DataFrame,
      keys: Seq[String],
      valueCol: String,
      saltSource: Column,
      salt: Int,
      scale: Int = 6): DataFrame = {
    require(salt > 0)
    val dec = org.apache.spark.sql.types.DecimalType(38, scale)
    val partial = df
      .withColumn("__salt", pmod(xxhash64(saltSource), lit(salt.toLong)))
      .groupBy(keys.map(col) :+ col("__salt"): _*)
      .agg(count(lit(1)).as("__c"),
        sum(round(col(valueCol), scale).cast(dec)).as("__s"))
    partial.groupBy(keys.map(col): _*)
      .agg(sum(col("__c")).as("n"),
        sum(col("__s")).cast("double").as("value_sum"))
  }

  /** Census-adaptive hot-key sub-split for a pairwise equi-join — the
    * one kernel behind `EntityResolution.blockedBestMatch(maxBlock)`
    * and `RangeJoin.sessionConcurrency(maxBin)`.
    *
    * Unlike [[saltedJoin]]'s fixed global width, the fan width here is
    * PER KEY: a census of `splitSide` sets `fan(k) =
    * ceil(census(k) / maxPerTask)`, so cold keys keep fan 1 and pay
    * zero replication while a degenerate key (half the table one
    * value) is cut into tasks of ≤ `maxPerTask` split-side rows. Each
    * `splitSide` row lands in exactly one sub-key (deterministic hash
    * of `splitHash`); each `fanSide` row replicates across that key's
    * sub-keys — every in-key pair meets exactly once, so the result is
    * row-identical to the plain `fanSide.join(splitSide, keys)` (the
    * three call-site specs each prove this on a one-hot-key fixture).
    * The census join stays a plain equi-join: key cardinality is
    * unbounded, AQE broadcasts the census when small. */
  def cappedFanJoin(
      fanSide: DataFrame,
      splitSide: DataFrame,
      keys: Seq[String],
      splitHash: Seq[Column],
      maxPerTask: Int): DataFrame = {
    require(maxPerTask > 0, "maxPerTask must be positive (0 disables " +
      "the cap at the call site, not here)")
    val fan = splitSide.groupBy(keys.map(col): _*)
      .agg(ceil(count(lit(1)).cast("double") / maxPerTask)
        .cast("long").as("__fan"))
    val s = splitSide.join(fan, keys)
      .withColumn("__sub", pmod(xxhash64(splitHash: _*), col("__fan")))
      .drop("__fan")
    val f = fanSide.join(fan, keys)
      .withColumn("__sub", explode(sequence(lit(0L), col("__fan") - 1)))
      .drop("__fan")
    f.join(s, keys :+ "__sub").drop("__sub")
  }
}
