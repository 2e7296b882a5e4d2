package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

class EvaluationSpec extends AnyFunSuite with SparkSuite {
  import spark.implicits._

  test("Validate.report counts violations per rule in one pass") {
    val df = Seq((1L, 5.0, "click"), (2L, -1.0, "view"),
      (3L, 2.0, "weird"), (4L, -3.0, "weird"))
      .toDF("id", "v", "t")
    val got = graft.operators.Validate.report(df, Seq(
        "v_negative" -> ($"v" < 0),
        "t_unknown" -> !$"t".isin("click", "view")))
      .select($"rule", $"violations", $"n_rows", $"rate")
      .as[(String, Long, Long, Double)].collect()
      .map { case (r, v, n, rt) => r -> ((v, n, rt)) }.toMap
    assert(got("v_negative") === ((2L, 4L, 0.5)))
    assert(got("t_unknown") === ((2L, 4L, 0.5)))
  }

  test("zscore standardizes to mean 0, unit variance; invariant to " +
      "partitioning") {
    val vals = (1 to 100).map(_.toDouble)
    def run(parts: Int) = graft.operators.Normalize.zscore(
        vals.toDF("v").repartition(parts), "v", "z")
      .select($"v", $"z").as[(Double, Double)].collect().sortBy(_._1)
    val got = run(1)
    assert(got === run(7))
    val zs = got.map(_._2)
    assert(math.abs(zs.sum) < 1e-9)
    assert(math.abs(zs.map(z => z * z).sum / 100 - 1.0) < 1e-9)
    // monotone in v
    assert(zs.sliding(2).forall(p => p(0) < p(1)))
  }

  test("pavCalibrate pools adjacent violators with weights") {
    val bins = Seq((0, 0.1, 1L), (1, 0.3, 1L), (2, 0.2, 1L), (3, 0.4, 1L))
      .toDF("bin", "pos_rate", "n")
    val got = graft.operators.Normalize
      .pavCalibrate(bins, "bin", "pos_rate", "n")
      .as[(Int, Double)].collect().sortBy(_._1).map(_._2)
    assert(got.toSeq === Seq(0.1, 0.25, 0.25, 0.4))
    // weighted merge: (0.5*1 + 0.1*3) / 4 = 0.2
    val wbins = Seq((0, 0.5, 1L), (1, 0.1, 3L)).toDF("bin", "pos_rate", "n")
    val wgot = graft.operators.Normalize
      .pavCalibrate(wbins, "bin", "pos_rate", "n")
      .as[(Int, Double)].collect().sortBy(_._1).map(_._2)
    assert(wgot.toSeq === Seq(0.2, 0.2))
    // composes with calibrationBins: output is monotone non-decreasing
    val rows = (0 until 200).map(i => (i / 200.0, (i % 3 == 0, i).hashCode
      .abs % 2L))
    val rel = graft.operators.Normalize.calibrationBins(
      rows.toDF("score", "label"), "score", "label", nBins = 8)
    val cal = graft.operators.Normalize
      .pavCalibrate(rel, "bin", "pos_rate", "n")
      .as[(Int, Double)].collect().sortBy(_._1).map(_._2)
    assert(cal.sliding(2).forall(p => p.length < 2 || p(0) <= p(1)))
  }

  test("saltedCountSum equals direct groupBy on a skewed key") {
    val df = (0 until 1000).map { i =>
      (if (i % 10 < 8) 0L else i.toLong % 37, i.toLong, i * 0.25) }
      .toDF("k", "id", "v")
    val salted = graft.operators.Skew
      .saltedCountSum(df, Seq("k"), "v", $"id", salt = 8)
      .select($"k", $"n", $"value_sum")
      .as[(Long, Long, Double)].collect().toSet
    val direct = df.groupBy($"k")
      .agg(count(lit(1)).as("n"), graft.OracleMath.xsum($"v").as("s"))
      .as[(Long, Long, Double)].collect().toSet
    assert(salted === direct)
  }

  test("skewReport counts per-feature null-safe mismatches") {
    val logged = Seq((1L, "a", 1.0), (2L, "b", 2.5), (3L, null, 3.0))
      .toDF("k", "f1", "f2")
    val recomputed = Seq((1L, "a", 1.0), (2L, "B", 2.5), (3L, null, 3.5))
      .toDF("k", "f1", "f2")
    val got = graft.operators.Validate
      .skewReport(logged, recomputed, Seq("k"), Seq("f1", "f2"))
      .select($"feature", $"n_mismatch", $"n_joined")
      .as[(String, Long, Long)].collect()
      .map { case (f, m, n) => f -> ((m, n)) }.toMap
    assert(got("f1") === ((1L, 3L)))  // "b" vs "B"; null==null is a match
    assert(got("f2") === ((1L, 3L)))  // 3.0 vs 3.5
  }

  test("refIntegrity and profile report table health in one pass each") {
    val child = Seq(1L, 2L, 2L, 9L).toDF("k")
    val parent = Seq(1L, 2L, 3L).toDF("pk")
    val ri = graft.operators.Validate
      .refIntegrity(child, parent, "k", "pk")
      .select($"n_child", $"n_orphans", $"n_distinct_orphan_keys",
        $"orphan_rate")
      .as[(Long, Long, Long, Double)].head()
    assert(ri === ((4L, 1L, 1L, 0.25)))
    val prof = graft.operators.Validate
      .profile(Seq((1L, Some("a")), (2L, Some("a")), (3L, None))
        .toDF("id", "s"), Seq("id", "s"))
      .select($"column", $"n_rows", $"n_null", $"n_distinct")
      .as[(String, Long, Long, Long)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    assert(prof("id") === ((3L, 0L, 3L)))
    assert(prof("s") === ((3L, 1L, 1L)))
  }

  test("pavCalibrateCountsBy fits each group exactly like the global " +
      "fit applied per group") {
    val bins = Seq(
      ("s0", 0, 1L, 10L), ("s0", 1, 5L, 10L), ("s0", 2, 3L, 10L),
      ("s0", 3, 9L, 10L),
      ("s1", 0, 8L, 10L), ("s1", 1, 2L, 10L), ("s1", 2, 1L, 10L))
      .toDF("seg", "bin", "pos", "n")
    val grouped = graft.operators.Normalize
      .pavCalibrateCountsBy(bins, "seg", "bin", "pos", "n")
      .as[(String, Int, Double)].collect().sorted.toSeq
    val perGroup = Seq("s0", "s1").flatMap { g =>
      graft.operators.Normalize
        .pavCalibrateCounts(bins.filter($"seg" === g), "bin", "pos", "n")
        .as[(Int, Double)].collect().map { case (b, v) => (g, b, v) }
    }.sorted
    assert(grouped === perGroup)
    // s1 is fully decreasing → one pooled block at (8+2+1)/30
    assert(grouped.filter(_._1 == "s1").map(_._3).distinct ===
      Seq(11.0 / 30.0))
  }

  test("medianBy picks the exact lower median per group, any partitioning") {
    val rnd = new scala.util.Random(47)
    val rows = (1 to 2000).map(_ =>
      (s"g${rnd.nextInt(5)}", rnd.nextInt(200).toLong - 100L))
    val naive = rows.groupBy(_._1).map { case (g, vs) =>
      val sorted = vs.map(_._2).sorted
      (g, sorted.length.toLong, sorted((sorted.length + 1) / 2 - 1))
    }.toSeq.sorted
    for (parts <- Seq(1, 9)) {
      val got = graft.operators.Normalize
        .medianBy(rows.toDF("g", "v").repartition(parts), "g", "v")
        .as[(String, Long, Long)].collect().sorted.toSeq
      assert(got === naive, s"parts=$parts")
    }
    // single-row and two-row groups: lower median = first element
    val tiny = Seq(("a", 7L), ("b", 1L), ("b", 9L)).toDF("g", "v")
    assert(graft.operators.Normalize.medianBy(tiny, "g", "v")
      .as[(String, Long, Long)].collect().sorted.toSeq ===
      Seq(("a", 1L, 7L), ("b", 2L, 1L)))
  }

  test("robustStatsBy: median/MAD/outliers match the naive computation") {
    val rnd = new scala.util.Random(53)
    val rows = (1 to 1500).map { _ =>
      val heavy = if (rnd.nextInt(50) == 0) 1000.0 else 0.0
      (s"g${rnd.nextInt(3)}", rnd.nextDouble() * 10 + heavy)
    }
    val naive = rows.groupBy(_._1).map { case (g, vs) =>
      val vm = vs.map(v => math.floor(v._2 * 1e6).toLong).sorted
      def lowerMedian(xs: Seq[Long]) = xs.sorted.apply((xs.length + 1) / 2 - 1)
      val med = lowerMedian(vm)
      val dev = vm.map(x => math.abs(x - med))
      val mad = lowerMedian(dev)
      (g, vm.length.toLong, med, mad, dev.count(_ > 3 * mad).toLong)
    }.toSeq.sorted
    val got = graft.operators.Normalize
      .robustStatsBy(rows.toDF("g", "v"), "g", "v")
      .as[(String, Long, Long, Long, Long)].collect().sorted.toSeq
    assert(got === naive)
  }

  test("robustStatsBy: duplicate-heavy values (weighted counts path) " +
      "match the naive computation") {
    // r17: the MAD leg runs on the distinct-value counts table; equal
    // deviations from DIFFERENT source values (med+d and med−d) must
    // merge their counts exactly like the raw-row expansion did. Small
    // integer values force heavy duplication on both sides.
    val rnd = new scala.util.Random(17)
    val rows = (1 to 2000).map { _ =>
      (s"g${rnd.nextInt(2)}", rnd.nextInt(7).toDouble)
    }
    val naive = rows.groupBy(_._1).map { case (g, vs) =>
      val vm = vs.map(v => math.floor(v._2 * 1e6).toLong).sorted
      def lowerMedian(xs: Seq[Long]) = xs.sorted.apply((xs.length + 1) / 2 - 1)
      val med = lowerMedian(vm)
      val dev = vm.map(x => math.abs(x - med))
      val mad = lowerMedian(dev)
      (g, vm.length.toLong, med, mad, dev.count(_ > 3 * mad).toLong)
    }.toSeq.sorted
    val got = graft.operators.Normalize
      .robustStatsBy(rows.toDF("g", "v"), "g", "v")
      .as[(String, Long, Long, Long, Long)].collect().sorted.toSeq
    assert(got === naive)
  }

  test("trimmedMeanBy matches the naive sorted-drop computation, any " +
      "partitioning, ties straddling the trim boundary included") {
    val rnd = new scala.util.Random(61)
    // few distinct values → boundary values often have copies on both
    // sides of the cut, exercising the rank-interval intersection
    val rows = (1 to 1200).map(_ =>
      (s"g${rnd.nextInt(4)}", rnd.nextInt(12).toLong))
    val alpha = 0.15
    val naive = rows.groupBy(_._1).map { case (g, vs) =>
      val sorted = vs.map(_._2).sorted
      val t = math.floor(alpha * sorted.length).toInt
      val kept = sorted.slice(t, sorted.length - t)
      (g, sorted.length.toLong, kept.length.toLong,
        kept.sum.toDouble / kept.length)
    }.toSeq.sorted
    for (parts <- Seq(1, 7, 32)) {
      val got = graft.operators.Normalize
        .trimmedMeanBy(rows.toDF("g", "v").repartition(parts), "g", "v",
          alpha)
        .as[(String, Long, Long, Double)].collect().sorted.toSeq
      assert(got === naive, s"parts=$parts")
    }
    // alpha = 0 reduces to the plain mean
    val all = graft.operators.Normalize
      .trimmedMeanBy(rows.toDF("g", "v"), "g", "v", 0.0)
      .as[(String, Long, Long, Double)].collect().sorted.toSeq
    val plain = rows.groupBy(_._1).map { case (g, vs) =>
      (g, vs.length.toLong, vs.length.toLong,
        vs.map(_._2).sum.toDouble / vs.length) }.toSeq.sorted
    assert(all === plain)
  }

  test("winsorizedMeanBy matches the naive clamp computation, any " +
      "partitioning; alpha = 0 reduces to the mean") {
    val rnd = new scala.util.Random(67)
    val rows = (1 to 1000).map(_ =>
      (s"g${rnd.nextInt(4)}", rnd.nextInt(15).toLong))
    val alpha = 0.12
    val naive = rows.groupBy(_._1).map { case (g, vs) =>
      val sorted = vs.map(_._2).sorted
      val n = sorted.length
      val t = math.floor(alpha * n).toInt
      val clamped = sorted.zipWithIndex.map { case (v, i) =>
        if (i < t) sorted(t) else if (i >= n - t) sorted(n - t - 1) else v
      }
      (g, n.toLong, clamped.sum.toDouble / n)
    }.toSeq.sorted
    for (parts <- Seq(1, 7, 32)) {
      val got = graft.operators.Normalize
        .winsorizedMeanBy(rows.toDF("g", "v").repartition(parts), "g", "v",
          alpha)
        .as[(String, Long, Double)].collect().sorted.toSeq
      assert(got === naive, s"parts=$parts")
    }
    val plain = rows.groupBy(_._1).map { case (g, vs) =>
      (g, vs.length.toLong, vs.map(_._2).sum.toDouble / vs.length)
    }.toSeq.sorted
    assert(graft.operators.Normalize
      .winsorizedMeanBy(rows.toDF("g", "v"), "g", "v", 0.0)
      .as[(String, Long, Double)].collect().sorted.toSeq === plain)
  }

  test("psiBins: identical distributions score 0, shifted ones don't; " +
      "equal-frequency bins on the reference; partitioning-invariant") {
    val rnd = new scala.util.Random(71)
    val ref = (1 to 2000).map(_ => rnd.nextDouble() * 100).toDF("value")
    // identical current → every non-empty bin term is exactly 0
    val same = graft.operators.Normalize.psiBins(ref, ref, "value", 10)
      .as[(Int, Long, Long, Option[Double])].collect().sortBy(_._1)
    assert(same.length === 10)
    assert(same.map(_._2).sum === 2000L)
    // equal-frequency: every reference bin holds ~n/nBins rows
    assert(same.forall(r => r._2 >= 190 && r._2 <= 210),
      same.map(_._2).mkString(","))
    assert(same.forall(_._4.contains(0.0)))
    // a location-shifted current distribution shows real drift
    val cur = (1 to 2000).map(_ => rnd.nextDouble() * 100 + 30).toDF("value")
    val drift = graft.operators.Normalize.psiBins(ref, cur, "value", 10)
      .as[(Int, Long, Long, Option[Double])].collect()
    val psi = drift.flatMap(_._4).sum
    assert(psi > 0.25, s"expected strong drift, psi=$psi")
    // invariance under input repartitioning
    val a = graft.operators.Normalize
      .psiBins(ref.repartition(1), cur.repartition(1), "value", 10)
      .as[(Int, Long, Long, Option[Double])].collect().sortBy(_._1).toSeq
    val b = graft.operators.Normalize
      .psiBins(ref.repartition(32), cur.repartition(7), "value", 10)
      .as[(Int, Long, Long, Option[Double])].collect().sortBy(_._1).toSeq
    assert(a === b)
  }

  test("robustStatsBy: high-cardinality groupCol shuffle-joins — no forced " +
      "broadcast of the per-group tables") {
    // With broadcast thresholds disabled, any BroadcastExchange left in
    // the plan comes from an explicit hint. The per-group median/MAD
    // tables are |groups|-sized (caller-controlled, unbounded at
    // 100 TB), so they must NOT carry one; the only hinted broadcasts
    // allowed are PrefixSum's per-partition offset tables, bounded by
    // the partition count by construction (2 medianBy calls → 2).
    val saved = Seq("spark.sql.autoBroadcastJoinThreshold",
      "spark.sql.adaptive.autoBroadcastJoinThreshold")
      .map(k => k -> spark.conf.getOption(k))
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      spark.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
      val df = spark.range(100000).selectExpr(
        "concat('g', id % 50000) as g", "cast(id % 997 as double) as v")
      val out = graft.operators.Normalize.robustStatsBy(df, "g", "v")
      out.queryExecution.toRdd.count() // finalize the adaptive plan
      val plan = out.queryExecution.executedPlan.toString
      // the only broadcast joins allowed are PrefixSum's hinted offset
      // joins on __pid (bounded by the partition count); any broadcast
      // join on the group key means a forced per-group-table broadcast
      // leaked back in. (The same logical __pid join prints multiple
      // times — DAG reuse and the Initial Plan section — so assert on
      // the join key, not a node count.)
      val badBroadcastJoins = plan.linesIterator
        .filter(l => l.contains("BroadcastHashJoin") ||
          l.contains("BroadcastNestedLoopJoin"))
        .filterNot(_.contains("__pid")).toSeq
      assert(badBroadcastJoins.isEmpty,
        s"forced broadcast of a per-group table leaked into the plan:\n" +
          s"${badBroadcastJoins.mkString("\n")}\n$plan")
      assert(plan.contains("SortMergeJoin") ||
        plan.contains("ShuffledHashJoin"),
        s"expected a shuffle join for the 50k-group tables:\n$plan")
      assert(out.count() === 50000L)
    } finally saved.foreach { case (k, v) =>
      v.fold(spark.conf.unset(k))(spark.conf.set(k, _)) }
  }

  test("retrievalOverlap counts set intersections exactly") {
    val approx = Seq(
      (1L, 10L), (1L, 11L), (1L, 12L),          // 2 of 3 right
      (2L, 20L), (2L, 21L),                     // disjoint from exact
      (4L, 40L))                                // query absent in exact
    val exact = Seq(
      (1L, 10L), (1L, 11L), (1L, 13L),
      (2L, 25L), (2L, 26L),
      (3L, 30L))                                // query absent in approx
    val got = graft.operators.SimilaritySearch.retrievalOverlap(
        approx.toDF("query_id", "vec_id"), exact.toDF("query_id", "vec_id"))
      .select("query_id", "n_approx", "n_exact", "n_common", "recall")
      .as[(Long, Long, Long, Long, Option[Double])].collect()
      .sortBy(_._1).toSeq
    assert(got === Seq(
      (1L, 3L, 3L, 2L, Some(2.0 / 3.0)),
      (2L, 2L, 2L, 0L, Some(0.0)),
      (3L, 0L, 1L, 0L, Some(0.0)),
      (4L, 1L, 0L, 0L, None)))
    // partition invariance
    val again = graft.operators.SimilaritySearch.retrievalOverlap(
        approx.toDF("query_id", "vec_id").repartition(7),
        exact.toDF("query_id", "vec_id").repartition(3))
      .select("query_id", "n_approx", "n_exact", "n_common", "recall")
      .as[(Long, Long, Long, Long, Option[Double])].collect()
      .sortBy(_._1).toSeq
    assert(again === got)
  }

  test("retrievalOverlap: probe-all IVF achieves recall 1 vs brute force") {
    val emb = Tables.embeddings(spark, sf)
    val queries = emb.filter($"vec_id" < 3)
      .select($"vec_id".as("query_id"), $"embedding".as("query_embedding"))
    val brute = graft.operators.SimilaritySearch.topK(emb, queries, k = 5)
      .select("query_id", "vec_id")
    val ivfAll = graft.operators.IvfIndex.build(emb, cells = 4)
      .search(queries, k = 5, nProbe = 4)
      .select("query_id", "vec_id")
    val rec = graft.operators.SimilaritySearch.retrievalOverlap(ivfAll, brute)
      .select("recall").as[Double].collect()
    assert(rec.length === 3 && rec.forall(_ === 1.0))
  }

  test("rollingZscore: matches a naive sliding-window replay; " +
      "cold-start rows abstain; constant windows give null z") {
    import spark.implicits._
    val rnd = new scala.util.Random(17)
    val rows = (0 until 3).flatMap { u =>
      (0 until 30).map { i =>
        (u.toLong, i.toLong, java.sql.Timestamp.valueOf(
          f"2024-01-01 00:${i / 60}%02d:${i % 60}%02d"),
          if (u == 2) 5.0 else rnd.nextDouble() * 10) }
    }
    val df = rows.toDF("user_id", "event_id", "ts", "v")
    val win = 6
    val got = graft.operators.Normalize.rollingZscore(
        df.repartition(5), "user_id", "ts", "event_id", "v", win)
      .select("user_id", "event_id", "z")
      .collect()
      .map(r => (r.getLong(0), r.getLong(1)) ->
        Option(r.get(2)).map(_.asInstanceOf[Double])).toMap
    rows.groupBy(_._1).foreach { case (u, g) =>
      val sorted = g.sortBy(_._2)
      sorted.zipWithIndex.foreach { case ((_, id, _, v), i) =>
        val expect: Option[Double] = if (i < win - 1) None else {
          val w = sorted.slice(i - win + 1, i + 1).map(_._4)
          val s = w.map(x => BigDecimal(x).setScale(6,
            BigDecimal.RoundingMode.HALF_UP)).sum.toDouble
          val ss = w.map(x => BigDecimal(x * x).setScale(6,
            BigDecimal.RoundingMode.HALF_UP)).sum.toDouble
          val n = win.toDouble
          val variance = (n * ss - s * s) / (n * n)
          if (variance > 0) Some((v - s / n) / math.sqrt(variance)) else None
        }
        assert(got((u, id)) === expect, s"user $u row $id")
      }
    }
    // user 2 is constant: every full window has zero variance -> null
    assert((win - 1 until 30).forall(i => got((2L, i.toLong))  === None))
  }

  test("benfordDigits: digits extracted exactly, probabilities sum to " +
      "1, a Benford-distributed sample scores a small chi2") {
    import spark.implicits._
    assert(math.abs(graft.operators.Validate.BenfordP.sum - 1.0) < 1e-12)
    // exact digit extraction incl. sub-1 values (micro staging)
    val df = Seq(123.45, 0.0071, 9000.0, 0.0, 2.5, -310.0).toDF("v")
    val got = graft.operators.Validate.benfordDigits(df, "v")
      .select("digit", "n").as[(Int, Long)].collect().toMap
    assert(got === Map(1 -> 1L, 7 -> 1L, 9 -> 1L, 2 -> 1L, 3 -> 1L))
    // a geometric ramp follows Benford closely -> chi2 far below the
    // 5% critical value for 8 dof (15.5)
    val ramp = (0 until 2000).map(i => math.pow(10.0, i * 7.0 / 2000.0))
    val chi2 = graft.operators.Validate.benfordDigits(
        ramp.toDF("v"), "v")
      .agg(sum(col("chi2_term"))).as[Double].head()
    assert(chi2 < 15.5, s"chi2 $chi2")
  }

  test("quantilesBy: exact type-1 quantiles per group vs a naive sorted " +
      "lookup, any partitioning; p=1 is the max") {
    import spark.implicits._
    val rnd = new scala.util.Random(23)
    val rows = (0 until 2).flatMap { g =>
      (0 until 157).map(_ => (s"g$g", rnd.nextInt(100) / 7.0)) }
    val probs = Seq(0.25, 0.5, 0.9, 1.0)
    for (parts <- Seq(1, 9)) {
      val got = graft.operators.Normalize.quantilesBy(
          rows.toDF("g", "v").repartition(parts), "g", "v", probs)
        .select("g", "prob", "quantile")
        .as[(String, Double, Double)].collect()
        .map(t => (t._1, t._2) -> t._3).toMap
      assert(got.size === 8, s"parts=$parts")
      rows.groupBy(_._1).foreach { case (g, rs) =>
        val sorted = rs.map(r => math.round(r._2 * 1e6)).sorted
        probs.foreach { p =>
          val k = math.max(1L,
            (math.round(p * 1e6) * sorted.size + 999999L) / 1000000L)
          assert(got((g, p)) === sorted(k.toInt - 1).toDouble / 1e6,
            s"$g p=$p parts=$parts")
        }
      }
    }
  }

  test("filterWaterfall: cumulative is monotone non-increasing and " +
      "ANDs rules in order; null predicates count as fail") {
    import spark.implicits._
    val df = Seq(
      (10L, Some("en")), (300L, Some("en")), (250L, None),
      (500L, Some("zh")), (220L, Some("en"))
    ).toDF("len", "lang")
    val out = graft.operators.Validate.filterWaterfall(df, Seq(
        "long" -> (col("len") >= 200L),
        "en" -> (col("lang") === "en")))
      .as[(Int, String, Long, Long, Double)].collect().sortBy(_._1)
    // long: 4 alone; en: 3 alone; cumulative: 4 then (long AND en) = 2
    assert(out(0) === ((1, "long", 4L, 4L, 0.8)))
    assert(out(1) === ((2, "en", 3L, 2L, 0.4)))
    assert(out(0)._4 >= out(1)._4) // waterfall only narrows
  }

  test("quantileMatch: a location-shifted copy maps back onto the " +
      "reference exactly; identical inputs map to identity") {
    import spark.implicits._
    val rnd = new scala.util.Random(43)
    val refVals = (0 until 500).map(_ => rnd.nextInt(200).toDouble / 4)
    val srcVals = refVals.map(_ + 10.0) // same shape, +10 shift
    for (parts <- Seq(1, 6)) {
      val got = graft.operators.Normalize.quantileMatch(
          refVals.toDF("value").repartition(parts),
          srcVals.toDF("value").repartition(parts), "value")
        .as[(Double, Long, Double, Double)].collect()
      // same counts at every rank -> each shifted value maps to its
      // pre-shift self
      got.foreach { case (v, _, _, m) =>
        assert(math.abs((v - 10.0) - m) < 1e-9, s"$v -> $m parts=$parts") }
      val idty = graft.operators.Normalize.quantileMatch(
          refVals.toDF("value"), refVals.toDF("value"), "value")
        .as[(Double, Long, Double, Double)].collect()
      idty.foreach { case (v, _, _, m) => assert(v === m) }
      // ECDF column is the exact rational cum/n
      val n = srcVals.size.toDouble
      got.foreach { case (v, _, e, _) =>
        assert(e === srcVals.count(_ <= v + 1e-12) / n, s"ecdf($v)") }
    }
  }

  test("coldStartReport: unseen users/items counted against the " +
      "temporal split exactly") {
    import spark.implicits._
    def t(d: Int) = java.sql.Timestamp.valueOf(f"2024-01-$d%02d 12:00:00")
    val ev = Seq(
      (1L, 100L, t(1)), (2L, 101L, t(2)), (1L, 102L, t(3)), // train
      (1L, 100L, t(10)),  // seen user, seen item
      (3L, 101L, t(11)),  // NEW user, seen item
      (4L, 999L, t(12)),  // NEW user, NEW item
      (2L, 998L, t(13))   // seen user, NEW item
    ).toDF("user_id", "item_id", "ts")
    val got = graft.operators.Validate.coldStartReport(
        ev, cutoff = "2024-01-05 00:00:00")
      .as[(Long, Long, Long, Double, Long, Long, Double)].head()
    assert(got === ((4L, 4L, 2L, 0.5, 4L, 2L, 0.5)))
  }

  test("weightOfEvidence: WOE/IV from hand-counted equal-depth bins; " +
      "single-class bins yield null WOE") {
    import spark.implicits._
    // 100 rows, 4 bins of 25; label rate rises with the feature
    val rows = (0 until 100).map { i =>
      (i.toLong, i.toDouble, if (i < 25) 0L else if (i < 75) (i % 2)
        else 1L)
    }
    val got = graft.operators.Training.weightOfEvidence(
        rows.toDF("id", "x", "y"), "x", "y", "id", nBins = 4)
      .select("bin", "n", "n_pos", "n_neg", "woe", "iv_term")
      .as[(Long, Long, Long, Long, Option[Double], Option[Double])]
      .collect().map(t => t._1 -> t).toMap
    assert(got.keySet === Set(0L, 1L, 2L, 3L))
    assert(got.values.forall(_._2 === 25L))
    // bin 0 has zero positives -> null WOE and null IV
    assert(got(0L)._3 === 0L && got(0L)._5 === None && got(0L)._6 === None)
    // bin 3 (75..99) is all-positive -> null as well
    assert(got(3L)._3 === 25L && got(3L)._5 === None)
    // middle bins: recompute WOE from exact counts
    val (tp, tn) = (got.values.map(_._3).sum, got.values.map(_._4).sum)
    Seq(1L, 2L).foreach { b =>
      val (p, ng) = (got(b)._3, got(b)._4)
      val woe = math.round(math.log((p.toDouble / tp) /
        (ng.toDouble / tn)) * 1e6).toDouble / 1e6
      assert(got(b)._5 === Some(woe), s"bin $b")
      assert(math.abs(got(b)._6.get -
        ((p.toDouble / tp) - (ng.toDouble / tn)) * woe) < 1e-12)
    }
  }
}
