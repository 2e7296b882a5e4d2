package graft

import java.sql.Timestamp
import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.operators.{Decontaminate, Funnel, Incremental, LinAlg, Sampling, Training}

/** Round-3 pipeline operators: Gram matrix, decontamination,
  * incremental aggregate maintenance, funnel, temperature mixing,
  * rolling-frame features. */
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

  test("decontaminate: overlapReport finds shared n-grams, clean drops them") {
    val corpus = Seq(
      (1L, "the quick brown fox jumps"),     // shares "quick brown fox"
      (2L, "totally unrelated text here"),
      (3L, "quick brown fox again appears")  // shares too
    ).toDF("doc_id", "text")
    val bench = Seq((100L, "a quick brown fox ran")).toDF("doc_id", "text")
    val report = Decontaminate.overlapReport(corpus, bench, "doc_id", "text", 3)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(report === Map(1L -> 1L, 3L -> 1L))
    val clean = Decontaminate.clean(corpus, bench, "doc_id", "text", 3)
      .select("doc_id").as[Long].collect().sorted
    assert(clean.toSeq === Seq(2L))
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

  test("temperatureMix: quotas sum to total, stable under repartition") {
    val df = (1 to 300).map { i =>
      val src = if (i <= 200) "big" else if (i <= 280) "mid" else "small"
      (i.toLong, src)
    }.toDF("id", "src")
    val a = Sampling.temperatureMix(df, "id", "src", alpha = 0.5, total = 50)
      .select("id").as[Long].collect().sorted.toSeq
    assert(a.size === 50)
    val b = Sampling.temperatureMix(df.repartition(7), "id", "src",
      alpha = 0.5, total = 50).select("id").as[Long].collect().sorted.toSeq
    assert(a === b)
    // alpha=0.5 flattens: small source gets MORE than its proportional
    // share (proportional would be 50*20/300 ≈ 3)
    val bySrc = Sampling.temperatureMix(df, "id", "src", alpha = 0.5, total = 50)
      .groupBy("src").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(bySrc("small") >= 5)
    assert(bySrc.values.sum === 50L)
  }

  test("temperatureMix: a source smaller than its quota saturates, " +
      "surplus re-allocates, total still met") {
    // alpha=0.1 flattens hard: "tiny" (3 rows) would be allocated ~1/3
    // of total=60 — far more rows than it has. Waterfill caps it at 3
    // and re-allocates the surplus, so the sample still has 60 rows.
    val df = ((1L to 3L).map(i => (i, "tiny")) ++
      (100L to 299L).map(i => (i, "mid")) ++
      (1000L to 1999L).map(i => (i, "big"))).toDF("id", "src")
    val got = Sampling.temperatureMix(df, "id", "src", alpha = 0.1, total = 60)
      .groupBy("src").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(got("tiny") === 3L)                 // capped at source size
    assert(got.values.sum === 60L)             // surplus redistributed
    assert(got("mid") > 0L && got("big") > 0L)
    // degenerate: total larger than the corpus → the whole corpus,
    // shortfall documented (sampling without replacement)
    val small = (1L to 5L).map(i => (i, if (i < 3) "a" else "b")).toDF("id", "src")
    assert(Sampling.temperatureMix(small, "id", "src", alpha = 0.5,
      total = 50).count() === 5L)
  }

  test("plan shapes: decontaminate broadcasts, gram matrix partial-aggregates") {
    val docs = Tables.documents(spark, sf)
    val decon = Decontaminate.overlapReport(
      docs.filter(col("doc_id") % 41 =!= 0),
      docs.filter(col("doc_id") % 41 === 0), "doc_id", "text", 3)
    val dplan = decon.queryExecution.executedPlan.toString
    // the corpus side must probe a broadcast gram set, never sort-merge
    assert(dplan.contains("BroadcastHashJoin"), dplan.take(2000))
    assert(!dplan.contains("SortMergeJoin"), dplan.take(2000))
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

  test("tokenBudgetMix: per-source token spend stays within quota + one " +
      "doc; saturated sources ship whole; deterministic") {
    val rnd = new scala.util.Random(43)
    val df = (1 to 300).map { i =>
      val src = if (i <= 200) "big" else if (i <= 280) "mid" else "tiny"
      (i.toLong, src, 50 + rnd.nextInt(150))
    }.toDF("id", "src", "tok")
    val budget = 8000L
    val got = Sampling.tokenBudgetMix(df, "id", "src", "tok",
        alpha = 0.5, totalTokens = budget)
      .select("id", "src", "tok").as[(Long, String, Int)].collect()
    val spend = got.groupBy(_._2).view.mapValues(_.map(_._3.toLong).sum).toMap
    val maxTok = got.map(_._3).max.toLong
    // every source spends, and the total overshoot is bounded by one
    // doc per source
    assert(spend.keySet === Set("big", "mid", "tiny"))
    assert(spend.values.sum <= budget + 3 * maxTok)
    // alpha=0.5 flattens: tiny source exceeds its proportional share
    val tinyTotal = df.filter($"src" === "tiny")
      .agg(sum($"tok")).as[Long].head()
    assert(spend("tiny") > budget * tinyTotal /
      df.agg(sum($"tok")).as[Long].head())
    val again = Sampling.tokenBudgetMix(df.repartition(11), "id", "src",
        "tok", alpha = 0.5, totalTokens = budget)
      .select("id", "src", "tok").as[(Long, String, Int)].collect()
    assert(got.sortBy(_._1).toSeq === again.sortBy(_._1).toSeq)
    // a budget above the corpus total saturates every source: the full
    // corpus ships, exactly once
    val all = Sampling.tokenBudgetMix(df, "id", "src", "tok",
      alpha = 0.5, totalTokens = 10000000L)
    assert(all.count() === 300)
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

  test("mmrRerank matches an independent naive greedy MMR and is " +
      "partition-invariant") {
    import graft.operators.Pipeline
    val rnd = new scala.util.Random(7)
    val dim = 6
    val rows = for (g <- 1 to 5; i <- 1 to 30) yield
      (g.toLong, (g * 100 + i).toLong, rnd.nextDouble(),
        Array.fill(dim)(rnd.nextGaussian()))
    val df = rows.toDF("grp", "item", "score", "emb")

    // independent driver-side reimplementation, straight from the
    // reference pseudocode (sorted pool, strict-> argmax, max_sim >= 0)
    def naive(cands: Seq[(Long, Double, Array[Double])], k: Int,
        p: Double): Seq[(Int, Long, Double)] = {
      def cos(a: Array[Double], b: Array[Double]) = {
        val d = a.zip(b).map { case (x, y) => x * y }.sum
        d / (math.sqrt(a.map(x => x * x).sum) * math.sqrt(b.map(x => x * x).sum))
      }
      // (score desc, item desc) pool order, the operator's tie rule
      var rem = cands.sortBy { case (i, s, _) => (-s, -i) }.toVector
      var sel = Vector.empty[(Long, Double, Array[Double])]
      var out = Vector.empty[(Int, Long, Double)]
      for (r <- 1 to k if rem.nonEmpty) {
        val scoredRem = rem.map { c =>
          val ms = if (sel.isEmpty) 0.0
            else math.max(0.0, sel.map(s => cos(c._3, s._3)).max)
          (c, c._2 * (1 - p * ms))
        }
        val bestMmr = scoredRem.map(_._2).max
        val chosen = scoredRem.find(_._2 == bestMmr).get._1
        rem = rem.filterNot(_._1 == chosen._1)
        sel :+= chosen
        out :+= ((r, chosen._1, chosen._2))
      }
      out
    }
    val expect = rows.groupBy(_._1).toSeq.flatMap { case (g, rs) =>
      naive(rs.map(r => (r._2, r._3, r._4)), k = 4, p = 0.3)
        .map { case (r, i, s) => (g, r, i, s) }
    }.sortBy(t => (t._1, t._2))

    def run(d: org.apache.spark.sql.DataFrame) =
      Pipeline.mmrRerank(d, Seq("grp"), "item", "score", "emb",
          k = 4, penalty = 0.3)
        .select("grp", "rank", "item", "score")
        .as[(Long, Int, Long, Double)].collect().toSeq
        .sortBy(t => (t._1, t._2))

    val got = run(df)
    assert(got === expect)
    assert(run(df.repartition(1)) === expect)
    assert(run(df.repartition(17, $"item")) === expect)
    // poolSize pre-trim: selecting from the top-4 pool with k=4 is the
    // plain score order (every slot's pool is fully selected)
    val trimmed = Pipeline.mmrRerank(df, Seq("grp"), "item", "score",
        "emb", k = 4, penalty = 0.3, poolSize = 4)
      .select("grp", "rank", "item").as[(Long, Int, Long)].collect().toSeq
      .sortBy(t => (t._1, t._2))
    val topByScore = rows.groupBy(_._1).toSeq.flatMap { case (g, rs) =>
      rs.sortBy(r => (-r._3, r._2)).take(4).zipWithIndex
        .map { case (r, i) => (g, i + 1, r._2) }
    }.sortBy(t => (t._1, t._2))
    // same MEMBERSHIP as the score-order top-4 (MMR may reorder slots
    // 2..4 within the pool)
    assert(trimmed.groupBy(_._1).view.mapValues(_.map(_._3).toSet).toMap ===
      topByScore.groupBy(_._1).view.mapValues(_.map(_._3).toSet).toMap)
  }

  test("sourceMixingWeights: weights normalize to 1, alpha=1 recovers " +
      "raw token proportions, alpha<1 upweights small sources") {
    import spark.implicits._
    // source A: 10 docs x 8 tokens; source B: 2 docs x 4 tokens
    val docs = ((0 until 10).map(i => ("A", "w " * 7 + "w")) ++
      (0 until 2).map(i => ("B", "w w w w"))).toDF("source", "text")
    def run(alpha: Double): Map[String, (Long, Long, Double, Double)] =
      graft.operators.Sampling.sourceMixingWeights(
          docs, "source", "text", alpha)
        .as[(String, Long, Long, Double, Double)].collect()
        .map(t => t._1 -> ((t._2, t._3, t._4, t._5))).toMap
    val raw = run(1.0)
    assert(raw("A")._1 === 10L && raw("A")._2 === 80L)
    assert(raw("B")._1 === 2L && raw("B")._2 === 8L)
    assert(math.abs(raw("A")._3 - 80.0 / 88.0) < 1e-6)
    assert(math.abs(raw("A")._3 + raw("B")._3 - 1.0) < 1e-9)
    // expected_tokens redistributes the 88-token budget by weight
    assert(math.abs(raw("A")._4 + raw("B")._4 - 88.0) < 1e-6)
    val cooled = run(0.5)
    assert(cooled("B")._3 > raw("B")._3) // small source upweighted
    assert(math.abs(cooled("A")._3 + cooled("B")._3 - 1.0) < 1e-9)
    // naive: micro-rounded pow(x, 0.5) weights (pow, not sqrt — the
    // operator uses pow and the two can differ in the last ulp)
    val wa = math.round(math.pow(80.0, 0.5) * 1e6)
    val wb = math.round(math.pow(8.0, 0.5) * 1e6)
    assert(cooled("A")._3 === wa.toDouble / (wa + wb))
  }

  test("expandViaGraph: neighbors of top-seedK join the pool damped, " +
      "members excluded, partition-invariant") {
    import graft.operators.Pipeline
    def cos(a: Seq[Double], b: Seq[Double]): Double = {
      def dot(x: Seq[Double], y: Seq[Double]) =
        x.indices.foldLeft(0.0)((acc, i) => acc + x(i) * y(i))
      dot(a, b) / (math.sqrt(dot(a, a)) * math.sqrt(dot(b, b)))
    }
    val embs = (1L to 12L).map(i =>
      (i, Seq(math.sin(i.toDouble), math.cos(i.toDouble), 0.5)))
    val emb = embs.toDF("item", "e")
    val queries = Seq(
      (100L, Seq(1.0, 0.0, 0.0)), (200L, Seq(0.0, 1.0, 0.5)))
      .toDF("qid", "qe")
    // pool: per query, items 1..4 with fixed scores (3 seeds = 4,3,2)
    val cand = Seq(
      (100L, 1L, 0.9), (100L, 2L, 0.8), (100L, 3L, 0.7), (100L, 4L, 0.1),
      (200L, 5L, 0.9), (200L, 6L, 0.8), (200L, 7L, 0.7), (200L, 8L, 0.1))
      .toDF("qid", "item", "score")
    // edges: 1->2 (member: excluded), 2->9, 3->10, 4->11 (seed rank 4:
    // not a seed), 5->9, 7->12
    val edges = Seq((1L, 2L), (2L, 9L), (3L, 10L), (4L, 11L),
      (5L, 9L), (7L, 12L)).toDF("src", "dst")
    def run(parts: Int) = Pipeline.expandViaGraph(
        cand.repartition(parts), edges.repartition(parts), queries,
        emb, Seq("qid"), "item", "score", "src", "dst", "qe", "e",
        seedK = 3, dampen = 0.8)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1)) ->
        ((r.getDouble(2), r.getBoolean(3)))).toMap
    val got = run(1)
    assert(got === run(7)) // partition invariance
    // originals pass through unchanged
    assert(got((100L, 1L)) === ((0.9, false)))
    assert(got((200L, 8L)) === ((0.1, false)))
    // q100 seeds {1,2,3}: 1->2 already pooled; 2->9, 3->10 join damped
    val e9 = embs.toMap.apply(9L)
    assert(got((100L, 9L)) === ((0.8 * cos(Seq(1.0, 0.0, 0.0), e9), true)))
    assert(got.contains((100L, 10L)) && !got.contains((100L, 11L)))
    // q200 seeds {5,6,7}: 5->9, 7->12 join; 9 scored vs q200's OWN query
    val got2009 = got((200L, 9L))
    assert(got2009 === ((0.8 * cos(Seq(0.0, 1.0, 0.5), e9), true)))
    assert(got.contains((200L, 12L)))
    assert(got.size === 8 + 2 + 2)
  }

  test("expandViaGraph depth: 2-hop BFS pulls chain tails, visited set " +
      "survives cycles, pool members are traversed through") {
    import graft.operators.Pipeline
    val emb = (1L to 20L).map(i =>
      (i, Seq(math.sin(i.toDouble), math.cos(i.toDouble), 0.5)))
      .toDF("item", "e")
    val queries = Seq((100L, Seq(1.0, 0.0, 0.0))).toDF("qid", "qe")
    val cand = Seq(
      (100L, 1L, 0.9), (100L, 2L, 0.8), (100L, 3L, 0.7), (100L, 4L, 0.1))
      .toDF("qid", "item", "score")
    // 1 -> 9 -> 10 (chain), 2 -> 4 (pool member) -> 11 (through-pool),
    // 3 -> 1 (cycle back to a seed), 10 -> 12 (depth-3: out of reach)
    val edges = Seq((1L, 9L), (9L, 10L), (2L, 4L), (4L, 11L),
      (3L, 1L), (10L, 12L)).toDF("src", "dst")
    def run(depth: Int) = Pipeline.expandViaGraph(
        cand, edges, queries, emb, Seq("qid"), "item", "score",
        "src", "dst", "qe", "e", seedK = 3, dampen = 0.8, depth = depth)
      .collect().map(r => r.getLong(1) -> r.getBoolean(3)).toMap
    val d1 = run(1)
    // depth 1: only direct neighbors 9 (4 is pooled, 1 is a seed)
    assert(d1.filter(_._2).keySet === Set(9L))
    val d2 = run(2)
    // depth 2: + chain tail 10 and the through-pool node 11; the
    // 3 -> 1 cycle adds nothing (1 visited), 12 needs depth 3
    assert(d2.filter(_._2).keySet === Set(9L, 10L, 11L))
    assert(run(3).filter(_._2).keySet === Set(9L, 10L, 11L, 12L))
    // pool rows pass through unchanged at any depth
    assert(d2(1L) === false && d2(4L) === false)
  }

  test("autoLink equals a naive reimplementation of graph.py auto_link " +
      "(adjacency breaks, negative gaps, skip rules), partition-" +
      "invariant; maxStateBlock output-identical on a one-hot-state set") {
    import graft.operators.EpisodeGraph
    def cos(a: Seq[Double], b: Seq[Double]): Double = {
      def dot(x: Seq[Double], y: Seq[Double]) =
        x.indices.foldLeft(0.0)((acc, i) => acc + x(i) * y(i))
      dot(a, b) / (math.sqrt(dot(a, a)) * math.sqrt(dot(b, b)))
    }
    // id, state (empty = stateless), start, end, outcome, emb (None =
    // missing). Crafted: same-state adjacency, adjacency BROKEN by an
    // interleaved other-state episode, negative gap (overlap), over-gap
    // pair, a start-time TIE resolved by id, failures with/without
    // embeddings
    val eps: Seq[(Long, String, Long, Long, String, Option[Seq[Double]])] =
      Seq(
        (1L, "a", 0L, 5L, "failure", Some(Seq(1.0, 0.0))),
        (2L, "a", 8L, 12L, "success", Some(Seq(0.9, 0.1))), // gap 3: cont 1->2
        (3L, "b", 13L, 14L, "failure", Some(Seq(0.0, 1.0))),
        (4L, "a", 15L, 20L, "success", Some(Seq(1.0, 0.1))), // 3 breaks 2->4
        (5L, "a", 18L, 25L, "failure", None), // overlap: gap -2, cont 4->5
        (6L, "", 26L, 27L, "failure", Some(Seq(0.5, 0.5))), // stateless
        (7L, "a", 28L, 29L, "success", Some(Seq(0.98, 0.05))), // 6 breaks 5->7
        (8L, "b", 40L, 41L, "success", Some(Seq(0.1, 0.99))),  // gap 26 > max
        (9L, "b", 40L, 42L, "failure", Some(Seq(0.0, 0.98)))) // tie: id 8 first
    val maxGap = 6L
    val thr = 0.55
    val byTime = eps.sortBy(e => (e._3, e._1))
    val contN = byTime.sliding(2).collect {
      case Seq(p, c) if p._2.nonEmpty && c._2.nonEmpty && p._2 == c._2 &&
          (c._3 - p._4) <= maxGap =>
        (p._1, c._1, "continuation", 1.0)
    }.toSet
    val retryN = (for {
      i <- byTime.indices
      c = byTime(i)
      if c._6.isDefined && c._2.nonEmpty
      j <- 0 until i
      f = byTime(j)
      if f._5 == "failure" && f._2 == c._2 && f._6.isDefined
      sim = cos(c._6.get, f._6.get)
      if sim >= thr
    } yield (c._1, f._1, "retry_of", sim)).toSet
    val df = eps.toDF("episode_id", "state", "start_ts", "end_ts",
      "outcome", "embedding")
    def run(d: org.apache.spark.sql.DataFrame) =
      EpisodeGraph.autoLink(d, simThreshold = thr, maxGap = maxGap)
        .collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getString(2),
          r.getDouble(3))).toSet
    val got = run(df)
    assert(got === contN ++ retryN)
    assert(contN.exists(_._1 == 4L) && contN.size >= 2) // negative gap linked
    assert(retryN.nonEmpty) // the sim leg is live
    assert(!got.exists(e => e._1 == 5L && e._3 == "retry_of")) // no-emb skip
    assert(run(df.repartition(7)) === got) // partition invariance
    // hot-state sub-split: one state holding every episode, output
    // row-identical to the unsalted run
    val hot = (1L to 40L).map(i =>
      (i, "s", i * 2L, i * 2L + 1L,
        if (i % 2 == 0) "failure" else "success",
        Some(Seq(math.sin(i * 0.1), math.cos(i * 0.1)))))
      .toDF("episode_id", "state", "start_ts", "end_ts", "outcome",
        "embedding")
    def runHot(mb: Int) = EpisodeGraph.autoLink(hot, simThreshold = 0.8,
        maxGap = 2L, maxStateBlock = mb)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2),
        r.getDouble(3))).toSet
    val unsalted = runHot(0)
    assert(runHot(5) === unsalted)
    assert(unsalted.count(_._3 == "retry_of") > 0)
  }

  test("detectEpisodes equals a naive reimplementation of episodes.py " +
      "boundary scoring (state flips, empty states, missing embeddings, " +
      "threshold boundary), partition-invariant, fallback summary") {
    import graft.operators.EpisodeGraph
    def cos(a: Seq[Double], b: Seq[Double]): Double = {
      def dot(x: Seq[Double], y: Seq[Double]) =
        x.indices.foldLeft(0.0)((acc, i) => acc + x(i) * y(i))
      val den = math.sqrt(dot(a, a)) * math.sqrt(dot(b, b))
      if (den == 0) 0.0 else dot(a, b) / den
    }
    // id, ts, state, emb, content. Crafted: same-state high-cos run
    // (merges), state flip (splits at 0.6 alone), empty-state pair
    // (flip suppressed -> semantic term decides), missing embedding
    // (shift 0 -> only a flip can split), a ts tie broken by id, a
    // zero vector (reference cosine guard -> sim 0 -> shift 1), and a
    // pair sitting exactly AT the threshold (>= keeps it a boundary)
    val ents: Seq[(Long, Long, String, Option[Seq[Double]], String)] = Seq(
      (1L, 10L, "a", Some(Seq(1.0, 0.0)), "alpha one"),
      (2L, 20L, "a", Some(Seq(0.9, 0.1)), "alpha two"),    // high cos: merge
      (3L, 30L, "b", Some(Seq(0.9, 0.1)), "beta"),         // flip: 0.6 splits
      (4L, 40L, "", Some(Seq(-0.1, 0.9)), "stateless"),    // empty: flip off; orthogonal -> score exactly 0.4
      (5L, 50L, "", Some(Seq(0.0, 1.0)), "same again"),    // cos ~0.99: merge
      (6L, 60L, "c", None, "no embedding"),                // ''-to-c: flip off, no emb -> score 0
      (7L, 70L, "c", None, "still c"),                     // no flip, no emb: merge
      (8L, 70L, "c", Some(Seq(0.0, 0.0)), "zero vec"),     // ts tie -> id order; one emb missing -> shift 0
      (9L, 80L, "c", Some(Seq(1.0, 1.0)), "after zero"))   // zero-norm pair: sim 0 -> shift 1 -> 0.4
    val thr = 0.5
    def naive(threshold: Double): Seq[(Long, Long, Long, Long, Long, Long, String, String)] = {
      val byTime = ents.sortBy(e => (e._2, e._1))
      val flags = byTime.indices.map { i =>
        if (i == 0) 0L
        else {
          val p = byTime(i - 1); val c = byTime(i)
          val flip = if (p._3 != c._3 && p._3.nonEmpty && c._3.nonEmpty) 1.0 else 0.0
          val shift = (p._4, c._4) match {
            case (Some(x), Some(y)) => 1.0 - math.max(cos(x, y), 0.0)
            case _ => 0.0
          }
          if (0.6 * flip + 0.4 * shift >= threshold) 1L else 0L
        }
      }
      val segIdx = flags.scanLeft(0L)(_ + _).tail
      byTime.zip(segIdx).groupBy(_._2).toSeq.map { case (idx, seg) =>
        val es = seg.map(_._1)
        (idx, es.map(_._2).min, es.map(_._2).max, es.head._1, es.last._1,
          es.size.toLong, es.head._3,
          s"${es.size} entries: ${es.head._5.take(80)}…")
      }
    }
    def run(parts: Int, threshold: Double) = {
      val df = ents.toDF("entry_id", "ts", "state", "embedding", "content")
        .repartition(parts)
      EpisodeGraph.detectEpisodes(df, threshold = threshold,
        contentCol = "content")
        .collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
          r.getLong(4), r.getLong(5), r.getString(6), r.getString(7)))
        .toSet
    }
    val got = run(1, thr)
    assert(got === naive(thr).toSet)
    assert(run(5, thr) === got) // partition invariance
    // structure asserts: the merge/split cases actually exercised.
    // At 0.5 only the a->b flip splits: {1,2} and {3..9} (empty-state
    // suppression, missing-embedding suppression, and the zero-norm
    // guard all merge their pairs)
    val byStart = got.map(e => e._4 -> e).toMap
    assert(got.size === 2)
    assert(byStart(1L)._6 === 2L)
    assert(byStart(3L)._6 === 7L && byStart(3L)._5 === 9L)
    assert(byStart(1L)._8 === "2 entries: alpha one…") // fallback summary
    // threshold edge: pair 3->4 scores exactly 0.4·(1 − 0) = 0.4
    // (orthogonal embeddings, flip suppressed by the empty state) and
    // pair 8->9 exactly 0.4 via the zero-norm guard — at threshold 0.4
    // the >= comparison splits BOTH: {1,2},{3},{4..8},{9}
    val tight = run(1, 0.4)
    assert(naive(0.4).toSet === tight)
    assert(tight.exists(e => e._4 == 4L && e._5 == 8L))
    assert(tight.exists(e => e._4 == 9L && e._6 == 1L))
  }

  test("episodeBoostScore: boost order and guards match retriever.py " +
      "_episode_score") {
    import graft.operators.Pipeline
    val rows = Seq(
      // sim, outcome, state, current
      (0.4, "failure", "a", "a"),  // both boosts: 0.4·1.25·1.5 = 0.75
      (0.4, "failure", "a", "b"),  // failure only: 0.5
      (0.4, "success", "a", "a"),  // state only: 0.6000000000000001
      (0.4, "success", "a", ""),   // empty current: no state boost
      (-0.4, "failure", "a", "a"), // negative sims boost too (reference)
      (0.0, "failure", "a", "a"))  // the missing-embedding 0 stays 0
      .toDF("sim", "outcome", "state", "cur")
    val got = rows.select(Pipeline.episodeBoostScore($"sim", $"outcome",
      $"state", $"cur").as("s")).as[Double].collect().toSeq
    assert(got === Seq(0.4 * 1.25 * 1.5, 0.4 * 1.25, 0.4 * 1.5, 0.4,
      -0.4 * 1.25 * 1.5, 0.0))
  }

  test("buildNarrative: rank order, id fallback, tag suppression, " +
      "partition invariance (retriever.py _build_narrative)") {
    import graft.operators.Pipeline
    val slate = Seq(
      (1L, 2, 20L, "second ep", "a", "failure"),
      (1L, 1, 10L, "first ep", "", "success"),   // no state tag
      (1L, 3, 30L, "", "b", ""),                 // id fallback, no outcome tag
      (2L, 1, 40L, "x" * 70, "c", "success"))    // summary truncates to 60
      .toDF("q", "rank", "id", "summary", "state", "outcome")
    def run(parts: Int) = Pipeline.buildNarrative(slate.repartition(parts),
        Seq("q"), "id", "rank", "summary", "state", "outcome")
      .as[(Long, String)].collect().toMap
    val got = run(1)
    assert(got(1L) ===
      "first ep, outcome=success → second ep [a], outcome=failure → 30 [b]")
    assert(got(2L) === "x" * 60 + " [c], outcome=success")
    assert(run(7) === got)
  }

  test("preferStateApplicable: matched top-k, universal facts, " +
      "fallback, empty-state skip, 2k pool bound (retriever.py " +
      "_fetch_facts)") {
    import graft.operators.Pipeline
    // group A (state s1): facts 1 (universal, null), 2 (s1), 3 (s2),
    //   4 (s1 but OUTSIDE the top-2k pool at k=1) — expect top-1 of
    //   matched = fact 1 (highest-scored applicable in pool)
    // group B (state zz): no applicable fact in pool -> fallback top-1
    // group C (state ''): preference skipped -> top-1, matched=false
    val rows = Seq(
      ("A", 1L, 0.9, null.asInstanceOf[Seq[String]], "s1"),
      ("A", 2L, 0.8, Seq("s1"), "s1"),
      ("A", 3L, 0.7, Seq("s2"), "s1"),
      ("A", 4L, 0.6, Seq("s1"), "s1"), // pr=4 > 2k=2: never eligible
      ("B", 5L, 0.9, Seq("s9"), "zz"),
      ("B", 6L, 0.8, Seq("s8"), "zz"),
      ("C", 7L, 0.9, Seq("s1"), ""),
      ("C", 8L, 0.8, Seq("s1"), ""))
      .toDF("q", "fact_id", "score", "app", "cur")
    val got = Pipeline.preferStateApplicable(rows, Seq("q"), "fact_id",
        "score", "app", "cur", k = 1)
      .select($"q", $"fact_id", $"matched")
      .as[(String, Long, Boolean)].collect().toSet
    assert(got === Set(("A", 1L, true), ("B", 5L, false), ("C", 7L, false)))
    // k=2 on group A: pool = {1, 2, 3, 4}, matched within pool = {1, 2}
    val gotA = Pipeline.preferStateApplicable(rows.filter($"q" === "A"),
        Seq("q"), "fact_id", "score", "app", "cur", k = 2)
      .select($"fact_id").as[Long].collect().toSet
    assert(gotA === Set(1L, 2L))
  }

  test("mergeFacts equals the naive facts.py greedy fold (first-match-" +
      "wins, merged facts never lead, zero-norm guard, null skip, " +
      "exact-threshold boundary, loud cap)") {
    import graft.operators.EpisodeGraph
    def vec(deg: Double) =
      Seq(math.cos(math.toRadians(deg)), math.sin(math.toRadians(deg)))
    // threshold 0.9 (~25.8° cone). Crafted:
    //  1 at 0°, 2 at 90° — two leaders
    //  3 at 20°  — cos vs 1 ≈ 0.94: merges into 1
    //  4 at 40°  — matches NO leader (0.766 / 0.643) but matches the
    //              MERGED fact 3 (0.94): must still become a NEW
    //              leader (the fact list holds survivors only)
    //  5 at 42°  — matches only leader 4 (cos 2°): merges into 4
    //  6 at 25°  — matches BOTH 1 (0.906) and 4 (0.966): first match
    //              in list order wins -> leader 1
    //  7, 8 zero vectors — reference guard maps sim to 0: both lead
    //  9 null embedding — skipped entirely
    val facts: Seq[(Long, Option[Seq[Double]])] = Seq(
      1L -> Some(vec(0)), 2L -> Some(vec(90)), 3L -> Some(vec(20)),
      4L -> Some(vec(40)), 5L -> Some(vec(42)), 6L -> Some(vec(25)),
      7L -> Some(Seq(0.0, 0.0)), 8L -> Some(Seq(0.0, 0.0)),
      9L -> None)
    def naive(fs: Seq[(Long, Option[Seq[Double]])], th: Double) = {
      def cos(a: Seq[Double], b: Seq[Double]): Double = {
        def dot(x: Seq[Double], y: Seq[Double]) =
          x.indices.foldLeft(0.0)((acc, i) => acc + x(i) * y(i))
        val den = math.sqrt(dot(a, a)) * math.sqrt(dot(b, b))
        if (den == 0) 0.0 else dot(a, b) / den
      }
      val leaders = scala.collection.mutable.ArrayBuffer.empty[(Long, Seq[Double])]
      fs.filter(_._2.isDefined).sortBy(_._1).map { case (id, Some(e)) =>
        leaders.find { case (_, le) => cos(e, le) >= th } match {
          case Some((lid, _)) => (id, lid, false)
          case None => leaders += ((id, e)); (id, id, true)
        }
      }.toSet
    }
    def run(fs: Seq[(Long, Option[Seq[Double]])], th: Double,
        parts: Int = 3, cap: Int = 4096) =
      EpisodeGraph.mergeFacts(
        fs.toDF("fact_id", "embedding").repartition(parts),
        mergeThreshold = th, maxFacts = cap)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2)))
        .toSet
    val got = run(facts, 0.9)
    assert(got === naive(facts, 0.9))
    assert(run(facts, 0.9, parts = 7) === got) // partition invariance
    val m = got.map(e => e._1 -> e._2).toMap
    assert(m(3L) === 1L)
    assert(m(4L) === 4L)               // merged fact 3 never leads
    assert(m(5L) === 4L)
    assert(m(6L) === 1L)               // first-match-wins over fact 4
    assert(m(7L) === 7L && m(8L) === 8L) // zero-norm guard
    assert(!m.contains(9L))            // null embedding skipped
    // exact-threshold boundary: cos((3,4),(5,0)) = 15/(5·5) = 0.6
    // exactly in binary64 — >= merges at 0.6, not above it
    val edge = Seq(10L -> Some(Seq(3.0, 4.0)), 11L -> Some(Seq(5.0, 0.0)))
    assert(run(edge, 0.6).map(e => (e._1, e._2)).toMap.apply(11L) === 10L)
    assert(run(edge, 0.6000000000000001)
      .map(e => (e._1, e._2)).toMap.apply(11L) === 11L)
    // naive-equality on a wider pseudo-random corpus (decision chains
    // several leaders deep)
    val wide = (0L until 60L).map(i =>
      i -> Some(vec((i * 37 % 360).toDouble)))
    assert(run(wide, 0.93) === naive(wide, 0.93))
    // loud cap: more rows than maxFacts fails rather than truncating
    val err = intercept[Exception] { run(facts, 0.9, cap = 5) }
    assert(err.getMessage.contains("maxFacts"))
    // duplicate ids refused
    val dup = Seq(1L -> Some(vec(0)), 1L -> Some(vec(5)))
    val err2 = intercept[Exception] { run(dup, 0.9) }
    assert(err2.getMessage.contains("unique"))
  }

  test("mergeFactsClustered with the exact edge set equals mergeFacts " +
      "row for row; cells separating by threshold preserve equality; " +
      "loud component cap") {
    import graft.operators.EpisodeGraph
    def vec(deg: Double) =
      Seq(math.cos(math.toRadians(deg)), math.sin(math.toRadians(deg)))
    def global(fs: Seq[(Long, Option[Seq[Double]])], th: Double) =
      EpisodeGraph.mergeFacts(
        fs.toDF("fact_id", "embedding"), mergeThreshold = th)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2)))
        .toSet
    def clustered(fs: Seq[(Long, Option[Seq[Double]])], th: Double,
        cells: Int, iters: Int = 2, parts: Int = 3, cap: Int = 4096) =
      EpisodeGraph.mergeFactsClustered(
        fs.toDF("fact_id", "embedding").repartition(parts),
        mergeThreshold = th, cells = cells, iters = iters,
        maxComponent = cap)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2)))
        .toSet
    // the mergeFacts spec corpus: merge-into-merged traps, zero-norm
    // pairs, a null embedding, first-match-wins ties
    val facts: Seq[(Long, Option[Seq[Double]])] = Seq(
      1L -> Some(vec(0)), 2L -> Some(vec(90)), 3L -> Some(vec(20)),
      4L -> Some(vec(40)), 5L -> Some(vec(42)), 6L -> Some(vec(25)),
      7L -> Some(Seq(0.0, 0.0)), 8L -> Some(Seq(0.0, 0.0)),
      9L -> None)
    assert(clustered(facts, 0.9, cells = 1) === global(facts, 0.9))
    // partition invariance
    assert(clustered(facts, 0.9, cells = 1, parts = 7) ===
      global(facts, 0.9))
    // wider corpus with decision chains several leaders deep
    val wide = (0L until 60L).map(i =>
      i -> Option(vec((i * 37 % 360).toDouble)))
    assert(clustered(wide, 0.93, cells = 1) === global(wide, 0.93))
    // exact-threshold boundary survives the strict-> / >= bridge
    // (nextDown): cos((3,4),(5,0)) = 0.6 exactly in binary64
    val edge = Seq(10L -> Option(Seq(3.0, 4.0)),
      11L -> Option(Seq(5.0, 0.0)))
    assert(clustered(edge, 0.6, cells = 1)
      .map(e => (e._1, e._2)).toMap.apply(11L) === 10L)
    assert(clustered(edge, 0.6000000000000001, cells = 1)
      .map(e => (e._1, e._2)).toMap.apply(11L) === 11L)
    // multi-cell: three tight clusters separated FAR below threshold
    // (within-cluster pairs ~cos 1, cross-cluster ~cos(-0.5)); ids
    // ordered by cluster so the deterministic rank-stride seeding
    // lands one seed per cluster and Lloyd isolates them — no
    // threshold edge crosses a cell, so per-cluster equals global
    val sep = (0 until 3).flatMap { c =>
      (0 until 6).map(j =>
        (c * 10L + j) -> Option(vec(c * 120.0 + j * 1.5)))
    }
    val gotSep = clustered(sep, 0.98, cells = 3)
    assert(gotSep === global(sep, 0.98))
    assert(gotSep.count(_._3) === 3) // one leader per cluster
    // loud cap: an over-cap component fails rather than truncating
    val blob = (0L until 5L).map(i => i -> Option(vec(i * 0.5)))
    val err = intercept[Exception] {
      clustered(blob, 0.9, cells = 1, cap = 3)
    }
    def messages(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(e =>
        Option(e.getMessage).toSeq ++ messages(e.getCause))
    assert(messages(err).exists(_.contains("maxComponent")))
    // duplicate ids refused like mergeFacts (they would fold as two
    // facts and emit two rows per id — silent corruption otherwise);
    // duplicates always share a component, so the executor-side
    // adjacency check is exhaustive
    val dup = Seq(1L -> Option(vec(0)), 1L -> Option(vec(5)),
      2L -> Option(vec(90)))
    val errDup = intercept[Exception] {
      clustered(dup, 0.9, cells = 1)
    }
    assert(messages(errDup).exists(_.contains("unique")))
  }

  test("mergeFactsClustered under LOSSY blocking can only " +
      "over-segment: every emitted merge is threshold-valid and every " +
      "deviation from global is a missing merge, never a wrong one") {
    import graft.operators.EpisodeGraph
    def vec(deg: Double) =
      Seq(math.cos(math.toRadians(deg)), math.sin(math.toRadians(deg)))
    def cos(a: Seq[Double], b: Seq[Double]): Double = {
      def dot(x: Seq[Double], y: Seq[Double]) =
        x.indices.foldLeft(0.0)((acc, i) => acc + x(i) * y(i))
      val den = math.sqrt(dot(a, a)) * math.sqrt(dot(b, b))
      if (den == 0) 0.0 else dot(a, b) / den
    }
    // one smeared arc of near-duplicates: tight k-means cells WILL cut
    // threshold edges somewhere along it (cells = 6 over a connected
    // chain), which is exactly the lossy regime the contract covers
    val arc = (0L until 48L).map(i => i -> vec(i * 1.2))
    val th = 0.995 // ~5.7° cone; adjacent arc steps are 1.2° apart
    val byId = arc.toMap
    val got = EpisodeGraph.mergeFactsClustered(
        arc.map { case (i, e) => (i, e) }.toDF("fact_id", "embedding"),
        mergeThreshold = th, cells = 6, iters = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2)))
    val gotMap = got.map(e => e._1 -> e._2).toMap
    val global = EpisodeGraph.mergeFacts(
        arc.toDF("fact_id", "embedding"), mergeThreshold = th)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // every row accounted for, leaders self-mapped
    assert(gotMap.keySet === arc.map(_._1).toSet)
    got.foreach { case (id, leader, isNew) =>
      assert(isNew === (id == leader))
      // SOUNDNESS: an emitted merge always satisfies the reference
      // rule — blocking may hide a merge, never invent one
      if (id != leader) {
        assert(leader < id)
        assert(cos(byId(id), byId(leader)) >= th,
          s"$id merged into $leader below threshold")
        assert(gotMap(leader) === leader, "merged into a non-leader")
      }
    }
    // NOTE deliberately NOT asserted: "deviation is one-sided / only
    // over-segmentation". False in general — a cut edge can remove a
    // would-be leader's own merge and thereby ENABLE a merge global
    // never made (chain a—b—c with only adjacent edges: global merges
    // b→a and leads c; a cell cut {a}|{b,c} leads b and merges c→b).
    // The unconditional contract is SOUNDNESS above + exact equality
    // when no threshold edge is cut (the previous test). Demonstrate
    // the lossy regime was actually exercised:
    assert(gotMap.exists { case (id, l) => global(id) != l },
      "lossy blocking produced no deviation — tighten the test data")
    // and the run still merges most of the arc (blocking degraded
    // recall, it did not collapse the operator to singletons)
    assert(got.count(_._3) < arc.size / 2)
  }

  test("ensureCounterExample: appends best unselected counter row only " +
      "where the slate lacks one and the pool has one") {
    import graft.operators.Pipeline
    val pool = Seq(
      // group A: slate all-failure, pool has successes 20 (0.5) / 21 (0.6)
      ("A", 10L, 0.9, "failure"), ("A", 11L, 0.8, "failure"),
      ("A", 21L, 0.6, "success"), ("A", 20L, 0.5, "success"),
      // group B: slate already has a success
      ("B", 12L, 0.9, "success"), ("B", 13L, 0.8, "failure"),
      // group C: no success anywhere
      ("C", 14L, 0.9, "failure"), ("C", 15L, 0.2, "failure"))
      .toDF("g", "item", "score", "outcome")
    val byG = org.apache.spark.sql.expressions.Window
      .partitionBy(col("g")).orderBy(col("score").desc, col("item").asc)
    val slate = pool.withColumn("rank", row_number().over(byG))
      .filter(col("rank") <= 2)
    val got = Pipeline.ensureCounterExample(slate, pool, Seq("g"),
      "item", "score", "rank", "outcome", "success")
      .collect()
      .map(r => (r.getString(0), r.getLong(1)) ->
        ((r.getDouble(2), r.getString(3), r.getInt(4)))).toMap
    // A: slate {10, 11} + appended 21 (best success, 0.6 > 0.5) rank 3
    assert(got(("A", 21L)) === ((0.6, "success", 3)))
    assert(!got.contains(("A", 20L)))
    // B unchanged (2 rows), C unchanged (2 rows)
    assert(got.size === 2 + 1 + 2 + 2)
    assert(got(("B", 12L))._3 === 1 && got(("C", 15L))._3 === 2)
  }

  test("reinforcementScores equals the sequential reference recurrence " +
      "and truncates at the horizon") {
    import graft.operators.Pipeline
    val rnd = new scala.util.Random(97)
    // 3 episodes x 25 events (> horizon 16), unique event ids
    val rows = for (ep <- 1L to 3L; t <- 1L to 25L) yield
      (ep, t, ep * 100 + t, rnd.nextInt(5) + 1,
        rnd.nextInt(3) - 1) // v in {-1,0,1}
    val df = rows.toDF("ep", "t", "eid", "rank", "v").repartition(5)
    val got = Pipeline.reinforcementScores(df, "ep", "t", "eid",
        "rank", "v", horizon = 16)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getDouble(2)))).toMap
    // independent naive replay of reinforcer.py's recurrence:
    // s <- s*0.7 + 0.3 * v * 0.9^(rank-1), events in time order
    rows.groupBy(_._1).foreach { case (ep, evs) =>
      var s = 0.0
      evs.sortBy(_._2).foreach { e =>
        s = s * 0.7 + 0.3 * e._5 * math.pow(0.9, e._4 - 1)
      }
      val (n, score) = got(ep)
      assert(n === 16L) // horizon-truncated
      // micro-rounded weights + dropped tail (carry^16 ~ 0.003):
      // agree within the documented resolution
      assert(math.abs(score - s) < 5e-3, s"ep=$ep $score vs $s")
    }
    // exact check against the unrolled micro-weight sum (the op's
    // stated semantics)
    val wt = Pipeline.weightTableMicro(0.3, 0.7, 0.9, 16, 32)
    // pin lock (r14 kill-test): q281's oracle plants Q281Weights as
    // literal longs instead of echoing weightTableMicro (the echoed
    // shape was tautological — a formula mutation survived the driver
    // gate). A conscious formula change must regenerate the pin.
    assert(wt === graft.Q281Weights.microTable,
      "weightTableMicro drifted off the Q281Weights pin — " +
        "regenerate the pin if the formula change is intentional")
    rows.groupBy(_._1).foreach { case (ep, evs) =>
      val recent = evs.sortBy(e => (-e._2, -e._3)).take(16)
      val micro = recent.zipWithIndex.map { case (e, later) =>
        e._5 * wt(later * 32 + math.min(e._4 - 1, 31))
      }.sum
      assert(got(ep)._2 === micro.toDouble / 1e6, s"ep=$ep")
    }
  }
}
