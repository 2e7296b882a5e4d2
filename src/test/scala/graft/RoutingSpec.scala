package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.sources.ShardRing

/** Consistent-hash routing. */
class RoutingSpec extends AnyFunSuite with SparkSuite {
  import spark.implicits._

  test("consistent hashing: keys only ever move TO the new shard") {
    val keys = (1L to 2000L).toDF("k")
    val routed = ShardRing.withShard(
      ShardRing.withShard(keys, "k", 8, 40, "s8"), "k", 9, 40, "s9")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val moved = routed.filter(r => r._2 != r._3)
    assert(moved.nonEmpty)
    // the defining property: a key's owner changes ONLY because the
    // new shard's ring points landed between the key and its old
    // successor — so every moved key now routes to the NEW shard (8)
    assert(moved.forall(_._3 == 8L),
      s"moved to old shards: ${moved.filter(_._3 != 8L).take(5).toSeq}")
    // and the moved fraction is near 1/9, far from modulo's 8/9
    val frac = moved.length.toDouble / routed.length
    assert(frac > 0.03 && frac < 0.25, s"moved_frac $frac")
  }

  test("withShard is deterministic and total") {
    val keys = (1L to 500L).toDF("k")
    val a = ShardRing.withShard(keys, "k", 16, 50, "s")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val b = ShardRing.withShard(keys.repartition(7), "k", 16, 50, "s")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(a === b)
    assert(a.values.forall(s => s >= 0 && s < 16))
    // all 16 shards own something at 500 keys x 50 vnodes
    assert(a.values.toSet.size === 16)
  }
}
