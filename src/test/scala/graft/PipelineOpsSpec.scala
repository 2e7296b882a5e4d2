package graft

import java.sql.Timestamp
import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.operators.{Funnel, Incremental, LinAlg, Sampling, Training}

/** Round-3 pipeline operators: Gram matrix, incremental aggregate
  * maintenance, funnel, rolling-frame features. */
class PipelineOpsSpec extends AnyFunSuite with SparkSuite {
  import spark.implicits._

  private def ts(s: String) = Timestamp.valueOf(s)

  test("gramMatrix agg equals the naive per-pair sum, across partitions") {
    val vecs = Seq(
      Array(1.0, -2.0, 3.0),
      Array(0.5, 0.25, -1.0),
      Array(-3.0, 0.0, 2.0),
      Array(2.0, 2.0, 2.0))
    val df = vecs.toDF("v").repartition(3) // force partial/merge path
      .select(LinAlg.microVec(col("v"), 6).as("m"))
    val got = LinAlg.gramUpper(df, col("m"))
      .collect().map(r => ((r.getInt(0), r.getInt(1)), r.getLong(2))).toMap
    val micro = vecs.map(_.map(x => math.floor(x * 1e6).toLong))
    for (i <- 0 until 3; j <- i until 3) {
      val expect = micro.map(v => v(i) * v(j)).sum
      assert(got((i + 1, j + 1)) === expect, s"($i,$j)")
    }
    assert(got.size === 6) // upper triangle of d=3
  }

  test("meanPool: exact label centroids, invariant to partitioning, " +
      "AVG null-skip per position") {
    val rows: Seq[(String, Seq[Option[Double]])] = Seq(
      ("a", Seq(Some(1.0), Some(2.0), None)),
      ("a", Seq(Some(3.0), None, None)),
      ("b", Seq(Some(-1.5), Some(0.25), Some(4.0))))
    def run(parts: Int) = LinAlg.meanPool(
        rows.toDF("label", "embedding").repartition(parts),
        Seq("label"), "embedding")
      .orderBy("label")
      .collect().map(r => (r.getString(0), r.getSeq[Any](1).toSeq)).toSeq
    val got = run(3)
    assert(got === run(1)) // bit-equal under any partitioning
    // label a: pos1 avg(1,3)=2.0, pos2 avg(2)=2.0, pos3 no data -> null
    assert(got(0) === ("a", Seq(2.0, 2.0, null)))
    assert(got(1) === ("b", Seq(-1.5, 0.25, 4.0)))
  }

  test("centroidOutliers ranks least-centroid-similar members first") {
    // group g: three vectors near +x, one near -x (the outlier)
    val rows = Seq(
      (1L, "g", Seq(1.0, 0.1)), (2L, "g", Seq(1.0, -0.1)),
      (3L, "g", Seq(0.9, 0.0)), (4L, "g", Seq(-1.0, 0.0)),
      (5L, "h", Seq(0.0, 1.0)), (6L, "h", Seq(0.0, 2.0)))
      .toDF("vec_id", "label", "embedding")
    val got = LinAlg.centroidOutliers(rows, Seq("label"), "embedding",
        "vec_id", k = 2)
      .select("label", "rank", "vec_id", "cos_centroid")
      .collect().map(r => (r.getString(0), r.getInt(1),
        r.getLong(2), r.getDouble(3)))
    val g = got.filter(_._1 == "g").sortBy(_._2)
    assert(g.head._3 === 4L)         // the -x vector is rank 1 (worst)
    assert(g.head._4 < 0.0)          // opposes the centroid
    assert(g(1)._4 > g.head._4)      // ranks ascend in similarity
    // colinear group: both members cosine 1.0, ties broken by id
    val h = got.filter(_._1 == "h").sortBy(_._2).map(_._3)
    assert(h.toSeq === Seq(5L, 6L))
  }

  test("constrainedRerank caps per-category then takes global top-k") {
    // user 1: cat A scores 9,8,7; cat B scores 6,5 -> cap 2 drops the
    // 7; k=3 keeps 9,8,6
    val df = Seq(
      (1L, 10L, 9.0, "A"), (1L, 11L, 8.0, "A"), (1L, 12L, 7.0, "A"),
      (1L, 13L, 6.0, "B"), (1L, 14L, 5.0, "B"),
      (2L, 20L, 1.0, "A"))
      .toDF("u", "id", "score", "cat")
    val got = graft.operators.Pipeline.constrainedRerank(df, Seq("u"),
        "score", "cat", "id", maxPerCat = 2, k = 3)
      .select($"u", $"id", $"rank").as[(Long, Long, Int)]
      .collect().toSet
    assert(got === Set((1L, 10L, 1), (1L, 11L, 2), (1L, 13L, 3),
      (2L, 20L, 1)))
  }

  test("transitionCounts builds the per-source stochastic matrix") {
    def ts(m: Int) = java.sql.Timestamp.valueOf(f"2024-01-01 00:$m%02d:00")
    val df = Seq(
      (1L, 1L, "view", ts(1)), (1L, 2L, "click", ts(2)),
      (1L, 3L, "view", ts(3)),
      (2L, 4L, "view", ts(1)), (2L, 5L, "click", ts(2)),
      (2L, 6L, "purchase", ts(3)))
      .toDF("user_id", "event_id", "event_type", "ts")
    val got = graft.operators.Funnel.transitionCounts(df)
      .select($"from_type", $"to_type", $"n", $"p")
      .as[(String, String, Long, Double)].collect()
      .map(r => (r._1, r._2) -> ((r._3, r._4))).toMap
    assert(got(("view", "click")) === ((2L, 1.0)))
    assert(got(("click", "view")) === ((1L, 0.5)))
    assert(got(("click", "purchase")) === ((1L, 0.5)))
    assert(got.size === 3)
  }

  test("gramMatrix null elements follow SQL SUM-skip (oracle parity)") {
    // a null element nullifies only the products it participates in —
    // the row's other cells still accumulate, exactly like the q75
    // oracle's SUM(v[i]*v[j]) over exploded pairs
    val rows: Seq[Seq[Option[Long]]] = Seq(
      Seq(Some(2L), None, Some(3L)),
      Seq(Some(1L), Some(4L), Some(-2L)),
      Seq(None, Some(5L), Some(7L)))
    val df = rows.toDF("m").repartition(2)
    val got = LinAlg.gramUpper(df, col("m"))
      .collect().map(r => ((r.getInt(0), r.getInt(1)), r.getLong(2))).toMap
    for (i <- 0 until 3; j <- i until 3) {
      val expect = rows.flatMap { v =>
        for (a <- v(i); b <- v(j)) yield a * b // None product skipped
      }.sum
      assert(got((i + 1, j + 1)) === expect, s"($i,$j)")
    }
  }

  test("incremental: merged shard states equal the full recompute") {
    val full = Seq(
      ("a", 1.25), ("a", 2.5), ("a", -0.75), ("b", 10.0), ("b", 0.125),
      ("c", 3.0)).toDF("k", "value")
    val shards = Seq(
      full.filter(col("value") > 1), full.filter(col("value") <= 1))
    val merged = Incremental.finish(
      Incremental.mergeStates(shards.map(s =>
        Incremental.aggState(s, Seq("k"), "value")), Seq("k")), Seq("k"))
      .collect().map(r => (r.getString(0), (r.getLong(1), r.getDouble(2), r.getDouble(3)))).toMap
    val direct = Incremental.finish(
      Incremental.aggState(full, Seq("k"), "value"), Seq("k"))
      .collect().map(r => (r.getString(0), (r.getLong(1), r.getDouble(2), r.getDouble(3)))).toMap
    assert(merged === direct)
    assert(merged("a") === ((3L, 3.0, 1.0)))
  }

  test("funnel: stages count only in order") {
    val events = Seq(
      // u1: full ordered funnel
      (1L, ts("2024-01-01 00:00:00"), "view"),
      (1L, ts("2024-01-02 00:00:00"), "click"),
      (1L, ts("2024-01-03 00:00:00"), "purchase"),
      // u2: purchase BEFORE click → depth 2, purchase not counted
      (2L, ts("2024-01-01 00:00:00"), "view"),
      (2L, ts("2024-01-02 00:00:00"), "purchase"),
      (2L, ts("2024-01-03 00:00:00"), "click"),
      // u3: click with no view → depth 0
      (3L, ts("2024-01-01 00:00:00"), "click")
    ).toDF("user_id", "ts", "event_type")
    val got = Funnel.reach(events, "user_id", "ts", "event_type",
        Seq("view", "click", "purchase"))
      .collect().map(r => r.getLong(0) -> r.getInt(4)).toMap
    assert(got === Map(1L -> 3, 2L -> 2, 3L -> 0))
  }

  test("plan shape: gram matrix partial-aggregates") {
    val gram = LinAlg.gramUpper(
      Tables.embeddings(spark, sf)
        .select(LinAlg.microVec(col("embedding")).as("m")), col("m"))
    val gplan = gram.queryExecution.executedPlan.toString
    // TypedImperativeAggregate runs as ObjectHashAggregate with a
    // partial stage: triangle buffers cross the shuffle, not rows
    assert(gplan.contains("ObjectHashAggregate"), gplan.take(2000))
    assert(gplan.contains("partial_graft_gram_matrix") ||
      gplan.contains("graft_gram_matrix"), gplan.take(2000))
  }

  test("rollingFeatures: frame math and next-event label") {
    val events = Seq(
      (1L, ts("2024-01-01 00:00:00"), 1L, 2.0),
      (1L, ts("2024-01-02 00:00:00"), 2L, 4.0),
      (1L, ts("2024-01-03 00:00:00"), 3L, 6.0),
      (2L, ts("2024-01-01 00:00:00"), 4L, 10.0)
    ).toDF("user_id", "ts", "event_id", "value")
    val got = Training.rollingFeatures(events, Seq("user_id"), "ts",
        "event_id", "value", frameRows = 2)
      .orderBy("user_id", "ts")
      .collect().map(r => (r.getLong(0), r.getLong(2), r.getLong(4),
        r.getDouble(5), r.getDouble(6), Option(r.get(7)).map(_.asInstanceOf[Double])))
    assert(got.toSeq === Seq(
      (1L, 1L, 1L, 2.0, 2.0, Some(4.0)),
      (1L, 2L, 2L, 6.0, 3.0, Some(6.0)),
      (1L, 3L, 2L, 10.0, 5.0, None),   // frame = rows 2..3
      (2L, 4L, 1L, 10.0, 10.0, None)))
  }

  test("bottomKPerGroup: deterministic under partitioning; merge of " +
      "samples re-limited IS the union's sample (KMV property)") {
    val df = (1 to 500).map(i => (if (i % 3 == 0) "a" else "b", i.toLong))
      .toDF("grp", "id")
    val full = Sampling.bottomKPerGroup(df, "grp", "id", k = 10)
      .select("grp", "id", "sample_rank")
      .as[(String, Long, Int)].collect().sorted.toSeq
    assert(full.count(_._1 == "a") === 10 && full.count(_._1 == "b") === 10)
    val reparted = Sampling.bottomKPerGroup(df.repartition(9), "grp", "id", 10)
      .select("grp", "id", "sample_rank")
      .as[(String, Long, Int)].collect().sorted.toSeq
    assert(full === reparted)
    // mergeability: sample each half, union, re-limit → same sample
    val (h1, h2) = (df.filter($"id" <= 250), df.filter($"id" > 250))
    val merged = Sampling.bottomKPerGroup(
        Sampling.bottomKPerGroup(h1, "grp", "id", 10)
          .unionByName(Sampling.bottomKPerGroup(h2, "grp", "id", 10))
          .drop("sample_rank"),
        "grp", "id", k = 10)
      .select("grp", "id", "sample_rank")
      .as[(String, Long, Int)].collect().sorted.toSeq
    assert(merged === full)
  }

  test("targetEncodeLoo: own label never leaks, singletons get the " +
      "pure prior, matches the naive per-key computation") {
    import graft.operators.Encode
    val rows = Seq(
      (1L, "a", 1L), (2L, "a", 0L), (3L, "a", 1L),
      (4L, "b", 1L), (5L, "b", 1L),
      (6L, "c", 0L)) // singleton
    val df = rows.toDF("id", "k", "y")
    val gm = 4.0 / 6.0
    val got = Encode.targetEncodeLoo(df, "k", "y", alpha = 2.0)
      .select("id", "loo_mean", "smoothed_mean")
      .as[(Long, Option[Double], Double)].collect().sortBy(_._1).toSeq
    def loo(sum: Long, y: Long, n: Long) =
      (sum - y).toDouble / (n - 1).toDouble
    def smooth(sum: Long, y: Long, n: Long) =
      ((sum - y).toDouble + 2.0 * gm) / ((n - 1).toDouble + 2.0)
    val expect = rows.map { case (id, k, y) =>
      val grp = rows.filter(_._2 == k)
      val (s, n) = (grp.map(_._3).sum, grp.size.toLong)
      (id, if (n > 1) Some(loo(s, y, n)) else None, smooth(s, y, n))
    }
    assert(got === expect)
    // leakage check: row 1 (y=1) and row 2 (y=0) in the same key get
    // DIFFERENT loo means — the own label is excluded
    assert(got(0)._2 !== got(1)._2)
    val again = Encode.targetEncodeLoo(df.repartition(5), "k", "y",
        alpha = 2.0)
      .select("id", "loo_mean", "smoothed_mean")
      .as[(Long, Option[Double], Double)].collect().sortBy(_._1).toSeq
    assert(again === expect)
  }

  test("frequencyEncode collapses the rare tail into one pooled bucket") {
    import graft.operators.Encode
    val df = (Seq.fill(30)("big") ++ Seq.fill(10)("mid") ++
      Seq("r1", "r1", "r2")).zipWithIndex
      .map { case (k, i) => (i.toLong, k) }.toDF("id", "k")
    val got = Encode.frequencyEncode(df, "k", minCount = 10)
      .select("k", "encoded_cat", "cat_count", "cat_freq")
      .as[(String, String, Long, Double)].collect().toSet
    assert(got === Set(
      ("big", "big", 30L, 30.0 / 43.0),
      ("mid", "mid", 10L, 10.0 / 43.0),
      ("r1", "__rare__", 3L, 3.0 / 43.0),
      ("r2", "__rare__", 3L, 3.0 / 43.0)))
    // row count preserved (encoding never drops or duplicates rows)
    assert(Encode.frequencyEncode(df.repartition(7), "k", 10).count() === 43L)
  }
}
