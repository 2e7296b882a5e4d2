package graft.sources

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Consistent-hash shard routing and its defining guarantee, measured:
  * when the shard count changes, only ~1/(new count) of the keys move.
  *
  * The reference routes feature keys across its peer cache tier with
  * exactly this scheme (SURVEY S5, consistent-hash peer cache —
  * online-feature-store/internal/data/repositories/caches/p2p.go); in
  * a Spark-native engine the same ring decides stable file/bucket
  * ownership for incremental state tables, so a cluster resize
  * invalidates a bounded slice of a 100 TB layout instead of
  * rewriting it (modulo hashing moves (S-1)/S of all keys; the ring
  * moves 1/S).
  *
  * The ring is bounded metadata (shards × vnodes points) embedded in
  * the plan as literal arrays — ownership is a row-local expression in
  * the scan stage, no join (the same plan shape as
  * [[graft.operators.BloomPrune]]). Hashes are the engine-portable
  * md5-prefix family, so a SQL oracle rebuilds ring and routing
  * bit-for-bit.
  */
object ShardRing {

  /** First 8 hex chars of md5(s) as a long — the JVM twin of the
    * `conv(substring(md5(s), 1, 8), 16, 10)` expression convention
    * ([[graft.functions.Hashing.md5Hash32]] without the seed
    * prefix; the ring seed lives in the hashed string itself). */
  private[graft] def md5Prefix32(s: String): Long = {
    val d = java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8"))
    java.lang.Long.parseLong(d.take(4).map("%02x".format(_)).mkString, 16)
  }

  /** The ring: `shards × vnodes` (point, owner) pairs sorted by point
    * (ties broken by owner id, deterministically). */
  private[graft] def ring(shards: Int, vnodes: Int): Seq[(Long, Int)] =
    (for (s <- 0 until shards; v <- 0 until vnodes)
      yield (md5Prefix32(s"ring:$s:$v"), s)).sorted

  /** Append the owning shard for `keyCol` under a ring of `shards`:
    * clockwise successor lookup — the first ring point with
    * point-hash ≥ key-hash, wrapping to the smallest point. Row-local
    * over literal arrays. */
  def withShard(df: DataFrame, keyCol: String, shards: Int,
      vnodes: Int, out: String): DataFrame = {
    val r = ring(shards, vnodes)
    val points = typedlit(r.map(_._1))
    val owners = typedlit(r.map(_._2.toLong))
    val h = expr(s"conv(substring(md5(concat('key:', " +
      s"cast($keyCol as string))), 1, 8), 16, 10)").cast("long")
    df.withColumn("__krh", h)
      .withColumn("__ring_pts", points)
      .withColumn("__ring_own", owners)
      // index of the first point >= h == (#points < h) + 1; wrap to 1
      .withColumn("__idx",
        size(filter(col("__ring_pts"), p => p < col("__krh"))) + 1)
      .withColumn(out, element_at(col("__ring_own"),
        when(col("__idx") > r.size, 1).otherwise(col("__idx"))))
      .drop("__krh", "__ring_pts", "__ring_own", "__idx")
  }

  /** Resize audit: route every key under `fromShards` and `toShards`
    * rings and report how many moved plus the load spread of the new
    * ring. Consistent hashing's contract is
    * `moved_frac ≈ 1/toShards` (vs `(S-1)/S` for modulo hashing) —
    * this makes the contract a measured number on real keys. */
  def rebalanceAudit(df: DataFrame, keyCol: String, fromShards: Int,
      toShards: Int, vnodes: Int): DataFrame = {
    val keys = df.select(col(keyCol)).distinct()
    val routed = withShard(
      withShard(keys, keyCol, fromShards, vnodes, "shard_from"),
      keyCol, toShards, vnodes, "shard_to")
    val perShard = routed.groupBy(col("shard_to"))
      .agg(count(lit(1)).as("__load"))
      .agg(min(col("__load")).as("min_load"),
        max(col("__load")).as("max_load"))
    routed
      .agg(count(lit(1)).as("n_keys"),
        sum((col("shard_from") =!= col("shard_to")).cast("long"))
          .as("n_moved"))
      .crossJoin(broadcast(perShard))
      .select(col("n_keys"), col("n_moved"),
        round(col("n_moved").cast("double") / col("n_keys").cast("double"),
          6).as("moved_frac"),
        round(lit(1.0) / toShards, 6).as("ideal_frac"),
        col("min_load"), col("max_load"))
  }
}
