package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.operators.{AnnIndex, PrefixSum, Profile, Sampling}

/** Round-3 training-data operators: prefix sums, histogram and
  * profile statistics, split/quota sampling, random projection. */
class CorpusPackingSpec extends AnyFunSuite with SparkSuite {
  import spark.implicits._

  /** PrefixSum takes its range-partition count from the session's
    * shuffle-partition setting; run `body` at `n` partitions. */
  private def withShufflePartitions[T](n: Int)(body: => T): T = {
    val prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", n.toString)
    try body finally spark.conf.set("spark.sql.shuffle.partitions", prev)
  }

  test("PrefixSum.inclusive equals the sequential cumsum on random data") {
    withShufflePartitions(8) {
      val rnd = new scala.util.Random(3)
      // non-contiguous, shuffled keys across many partitions
      val rows = rnd.shuffle((1 to 500).map(i => (i * 7L + 3, rnd.nextInt(100).toLong)))
      val df = spark.createDataFrame(rows).toDF("k", "v").repartition(13)
      val got = PrefixSum.inclusive(df, "k", "v", "cum")
        .select("k", "cum").as[(Long, Long)].collect().toMap
      var acc = 0L
      rows.sortBy(_._1).foreach { case (k, v) =>
        acc += v
        assert(got(k) === acc, s"key $k")
      }
    }
  }

  test("PrefixSum grand total equals the sum of the values") {
    withShufflePartitions(8) {
      val rnd = new scala.util.Random(4)
      val rows = rnd.shuffle((1 to 300).map(i => (i * 3L, rnd.nextInt(1000).toLong)))
      val df = spark.createDataFrame(rows).toDF("k", "v").repartition(9)
      val got = PrefixSum.inclusiveWithTotal(df, Seq(col("k")), Seq("v" -> "cum"), "tot")
        .select("tot").as[Long].collect()
      assert(got.length === rows.size)
      assert(got.toSet === Set(rows.map(_._2).sum))
    }
  }

  test("PrefixSum.inclusiveMultiBy: each fused axis equals its own inclusiveBy") {
    withShufflePartitions(8) {
      val rnd = new scala.util.Random(7)
      val rows = rnd.shuffle((1 to 400).map(i =>
        (i * 5L + 1, rnd.nextInt(50).toLong, rnd.nextInt(9).toLong)))
      val df = spark.createDataFrame(rows).toDF("k", "v", "w").repartition(11)
      val fused = PrefixSum.inclusiveMultiBy(df, Seq(col("k")),
          Seq("v" -> "cv", "w" -> "cw"))
        .select("k", "cv", "cw").as[(Long, Long, Long)].collect()
        .map(r => r._1 -> (r._2, r._3)).toMap
      val cv = PrefixSum.inclusiveBy(df, Seq(col("k")), "v", "cv")
        .select("k", "cv").as[(Long, Long)].collect().toMap
      val cw = PrefixSum.inclusiveBy(df, Seq(col("k")), "w", "cw")
        .select("k", "cw").as[(Long, Long)].collect().toMap
      rows.foreach { case (k, _, _) =>
        assert(fused(k) === ((cv(k), cw(k))), s"key $k")
      }
    }
  }

  test("Profile.histogram: counts cover all rows, values land in their bin") {
    val df = Tables.orders(spark, sf).select(col("o_totalprice"))
    val h = Profile.histogram(df, "o_totalprice", 20)
      .as[(Long, Long, Double, Double)].collect()
    assert(h.map(_._2).sum === df.count())
    assert(h.map(_._1).forall(b => b >= 0 && b < 20))
    val (mn, mx) = df.agg(min("o_totalprice"), max("o_totalprice"))
      .as[(Double, Double)].head()
    h.foreach { case (b, _, lo, hi) =>
      assert(math.abs(lo - (mn + b * (mx - mn) / 20)) < 1e-9)
      assert(math.abs(hi - (mn + (b + 1) * (mx - mn) / 20)) < 1e-9)
    }
  }

  test("Hashing.hash32 equals the md5Hash32 column form") {
    import graft.functions.Hashing
    val strs = Seq("", "a", "3:7", "the quick brown fox", "été 日本")
    for (seed <- Seq(0, 7, 42)) {
      val cols = strs.toDF("s").select(Hashing.md5Hash32($"s", seed))
        .as[Long].collect().toSeq
      val drv = strs.map(s => Hashing.hash32(
        org.apache.spark.unsafe.types.UTF8String.fromString(s), seed))
      assert(cols === drv, s"seed $seed")
    }
  }

  test("Sampling.split: total partition, deterministic, near the fractions") {
    val df = (1L to 2000L).toDF("id")
    val out = Sampling.split(df, "id",
      Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1))
    val counts = out.groupBy("split").count().as[(String, Long)].collect().toMap
    assert(counts.values.sum === 2000L)
    assert(counts("train") > 1500 && counts("train") < 1700)
    assert(counts("val") > 150 && counts("val") < 260)
    // same assignment regardless of partitioning
    val again = Sampling.split(df.repartition(17), "id",
        Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1))
      .as[(Long, String)].collect().toMap
    out.as[(Long, String)].collect().foreach { case (id, sp) =>
      assert(again(id) === sp)
    }
  }

  test("Sampling.quotaPerClass: exact quota, short classes kept whole") {
    val df = ((1 to 100).map(i => (i.toLong, "big")) ++
      (101 to 105).map(i => (i.toLong, "small")))
      .toDF("id", "cls")
    val out = Sampling.quotaPerClass(df, "id", "cls", n = 10)
      .groupBy("cls").count().as[(String, Long)].collect().toMap
    assert(out === Map("big" -> 10L, "small" -> 5L))
    // deterministic under repartitioning
    val a = Sampling.quotaPerClass(df, "id", "cls", 10)
      .as[(Long, String)].collect().toSet
    val b = Sampling.quotaPerClass(df.repartition(9), "id", "cls", 10)
      .as[(Long, String)].collect().toSet
    assert(a === b)
  }

  test("randomProject: out dims + exact dot against the plane constants") {
    val emb = Tables.embeddings(spark, sf).limit(20)
    val out = AnnIndex.randomProject(emb, "embedding", outDim = 4)
    val rows = out.select(col("vec_id"), col("embedding").cast("array<double>"),
        col("projected"))
      .as[(Long, Seq[Double], Seq[Double])].collect()
    // recompute the same md5-derived planes and fold order
    def plane(i: Int, dim: Int): Seq[Double] = Seq.tabulate(dim) { j =>
      graft.functions.Hashing.hash32(
        org.apache.spark.unsafe.types.UTF8String.fromString(s"$i:$j"), 42) /
        4294967296.0 * 2 - 1
    }
    rows.foreach { case (id, e, p) =>
      assert(p.length === 4)
      (0 until 4).foreach { i =>
        val want = e.zip(plane(i, e.length)).foldLeft(0.0) {
          case (acc, (a, b)) => acc + a * b
        }
        assert(p(i) === want, s"vec $id dim $i") // bit-exact, same fold order
      }
    }
  }

  test("numericProfile matches direct per-column aggregates in one pass") {
    val df = Seq[(java.lang.Long, java.lang.Double, java.lang.Double)](
      (1L, 2.5, null), (2L, 2.5, 7.0), (3L, -1.0, 7.0),
      (4L, null, 7.0), (5L, 4.0, null))
      .toDF("id", "a", "b")
    val got = Profile.numericProfile(df, Seq("a", "b"))
      .select("col_name", "n", "n_null", "n_distinct", "min_v", "max_v")
      .as[(String, Long, Long, Long, Double, Double)]
      .collect().sortBy(_._1).toSeq
    assert(got === Seq(
      ("a", 5L, 1L, 3L, -1.0, 4.0),
      ("b", 5L, 2L, 1L, 7.0, 7.0)))
    // one scan: the plan reads the source exactly once (the Expand for
    // the distinct aggregates multiplies rows, not scans)
    val plan = Profile.numericProfile(df, Seq("a", "b"))
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Union"), s"profile plan re-scans per column:\n$plan")
  }
}
