package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.operators.Training

class RecsysSpec extends AnyFunSuite with SparkSuite {
  import spark.implicits._

  test("calibrationBins: near-equal bins, exact positive rates") {
    // 100 distinct scores; label 1 iff score >= 80 -> top bins all
    // positive, bottom bins all negative
    val df = (0 until 100).map(i => (i.toDouble, if (i >= 80) 1L else 0L))
      .toDF("score", "label")
    val got = graft.operators.Normalize
      .calibrationBins(df, "score", "label", nBins = 10)
      .select($"bin", $"n", $"score_min", $"pos_rate")
      .as[(Int, Long, Double, Double)].collect().sortBy(_._1)
    assert(got.map(_._1).toSeq === (0 until 10))
    assert(got.forall(_._2 === 10L))
    assert(got.take(8).forall(_._4 === 0.0))
    assert(got.drop(8).forall(_._4 === 1.0))
    assert(got(8)._3 === 80.0)
  }

  test("shard: permutation into fixed-size shards, partition-invariant") {
    val df = spark.range(0, 500).toDF("doc_id")
    val got = Training.shard(df, "doc_id", 64L)
      .select($"doc_id", $"shard_id", $"shard_offset")
      .as[(Long, Int, Int)].collect()
    assert(got.length === 500)
    val byShard = got.groupBy(_._2).view.mapValues(_.map(_._3).sorted).toMap
    assert(byShard.keys.toSeq.sorted === (0 to 7))
    for (s <- 0 to 6) assert(byShard(s).toSeq === (0 until 64))
    assert(byShard(7).toSeq === (0 until 500 - 7 * 64))
    // same assignment under different input partitioning
    val again = Training.shard(df.repartition(13), "doc_id", 64L)
      .select($"doc_id", $"shard_id", $"shard_offset")
      .as[(Long, Int, Int)].collect().toSet
    assert(again === got.toSet)
  }
}
