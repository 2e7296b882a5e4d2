package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.operators.Evaluation

class EvaluationSpec extends AnyFunSuite with SparkSuite {
  import spark.implicits._

  /** groupAuc on (group, score, label) rows vs brute-force pair
    * counting per group, ties at 1/2; returns the groups seen. */
  private def assertGroupAucBrute(rows: Seq[(String, Double, Long)]): Set[Option[String]] = {
    val got = Evaluation.groupAuc(rows.toDF("g", "score", "label"),
        Seq("g"), "score", "label")
      .select($"g", $"auc").as[(Option[String], Double)].collect().toMap
    for (g <- got.keySet) {
      val in = rows.filter(r => Option(r._1) == g)
      val pos = in.filter(_._3 == 1L).map(_._2)
      val neg = in.filter(_._3 == 0L).map(_._2)
      val pairs = for (p <- pos; n <- neg)
        yield if (p > n) 1.0 else if (p == n) 0.5 else 0.0
      val brute = pairs.sum / (pos.size.toDouble * neg.size.toDouble)
      assert(math.abs(got(g) - brute) < 1e-12, g)
    }
    got.keySet
  }

  test("groupAuc matches brute-force pair counting, ties at 1/2") {
    val rnd = new scala.util.Random(3)
    val rows = (1 to 200).map { i =>
      ("g" + (i % 2), (rnd.nextInt(20) / 2.0), rnd.nextInt(2).toLong) }
    assert(assertGroupAucBrute(rows) === Set(Some("g0"), Some("g1")))
  }

  test("groupAuc keeps a null group, matching brute-force pair counting") {
    val rnd = new scala.util.Random(5)
    val rows = (1 to 120).map { i =>
      (if (i % 3 == 0) null else "g" + (i % 3), rnd.nextInt(10) / 2.0,
        rnd.nextInt(2).toLong) }
    assert(assertGroupAucBrute(rows) === Set(None, Some("g1"), Some("g2")))
  }

  test("groupAuc: degenerate groups yield null; perfect ranking 1.0") {
    val df = Seq(
      ("all_pos", 1.0, 1L), ("all_pos", 2.0, 1L),
      ("perfect", 1.0, 0L), ("perfect", 2.0, 0L), ("perfect", 3.0, 1L),
      ("inverted", 1.0, 1L), ("inverted", 2.0, 0L))
      .toDF("g", "score", "label")
    val got = Evaluation.groupAuc(df, Seq("g"), "score", "label")
      .select($"g", $"auc").collect()
      .map(r => r.getString(0) -> (if (r.isNullAt(1)) None
        else Some(r.getDouble(1)))).toMap
    assert(got("all_pos") === None)
    assert(got("perfect") === Some(1.0))
    assert(got("inverted") === Some(0.0))
  }

  test("ndcgAtK: perfect ranking = 1.0, inverted < 1, zero-rel null") {
    val df = Seq(
      // perfect: score order == relevance order
      ("p", 1L, 3.0, 2L), ("p", 2L, 2.0, 1L), ("p", 3L, 1.0, 0L),
      // inverted: best item ranked last
      ("i", 4L, 3.0, 0L), ("i", 5L, 2.0, 1L), ("i", 6L, 1.0, 2L),
      // no relevance anywhere
      ("z", 7L, 1.0, 0L), ("z", 8L, 2.0, 0L))
      .toDF("g", "id", "score", "rel")
    val got = Evaluation.ndcgAtK(df, Seq("g"), "score", "rel", "id", k = 3)
      .collect().map(r => r.getString(0) ->
        (if (r.isNullAt(1)) None else Some(r.getDouble(1)))).toMap
    assert(got("p") === Some(1.0))
    assert(got("z") === None)
    val inv = got("i").get
    assert(inv > 0.0 && inv < 1.0)
    // hand-check with the micro discount table
    val d = Evaluation.dcgDiscountsMicro(3)
    val expect = (1L * d(1) + 2L * d(2)).toDouble /
      (2L * d(0) + 1L * d(1)).toDouble
    assert(got("i").get === expect)
  }

  test("reciprocalRank finds the first positive; no-positive -> rr 0") {
    val df = Seq(
      ("a", 1L, 5.0, 0L), ("a", 2L, 4.0, 1L), ("a", 3L, 3.0, 1L),
      ("b", 4L, 9.0, 0L))
      .toDF("g", "id", "score", "label")
    val got = Evaluation.reciprocalRank(df, Seq("g"), "score", "label", "id")
      .select($"g", $"rr").as[(String, Double)].collect().toMap
    assert(got("a") === 0.5)
    assert(got("b") === 0.0)
  }

  test("chiSquareCells: independent columns give ~zero contribs, " +
      "margins consistent") {
    // perfectly independent 2x2: o = 25 each, expected = 25
    val rows = for (a <- Seq("x", "y"); b <- Seq(0, 1); _ <- 1 to 25)
      yield (a, b)
    val got = Evaluation.chiSquareCells(rows.toDF("a", "b"), "a", "b")
      .select($"o", $"expected", $"contrib")
      .as[(Long, Double, Double)].collect()
    assert(got.length === 4)
    got.foreach { case (o, e, c) =>
      assert(o === 25L && e === 25.0 && c === 0.0) }
  }

  test("exposureGini: uniform counts -> 0, concentrated -> near 1") {
    val uniform = (1 to 50).flatMap(i => Seq.fill(4)(i.toLong)).toDF("item")
    val g0 = Evaluation.exposureGini(uniform, "item")
      .select($"gini").as[Double].head()
    assert(math.abs(g0) < 1e-12)
    // one item takes 9600 of 9698 interactions
    val skewed = ((1 to 98).map(_.toLong) ++ Seq.fill(9600)(999L)).toDF("item")
    val g1 = Evaluation.exposureGini(skewed, "item")
      .select($"gini").as[Double].head()
    assert(g1 > 0.9)
  }

  test("reliabilityBins: perfectly calibrated scores have ~zero gap") {
    // score = true positive probability, realized deterministically:
    // for score s=k/10, exactly k of 10 rows per block are positive
    val rows = for (k <- 0 to 9; i <- 0 until 10)
      yield (k / 10.0 + 1e-9 * i, if (i < k) 1L else 0L)
    val got = Evaluation.reliabilityBins(rows.toDF("score", "label"),
        "score", "label", nBins = 10)
      .select($"bin", $"n", $"gap").as[(Int, Long, Double)].collect()
    assert(got.length === 10)
    assert(got.map(_._2).sum === 100L)
    // each decile's mean score ~= its positive rate
    got.foreach { case (b, _, gap) => assert(gap < 0.02, s"bin $b") }
  }

  test("abTest: no-difference split gives z ~ 0, strong lift large z") {
    // identical 30% conversion both variants -> z = 0 exactly
    val flat = (0 until 200).map { i =>
      ("g", i % 2, if ((i / 2) % 10 < 3) 1L else 0L) }
    val z0 = Evaluation.abTest(flat.toDF("g", "variant", "label"),
        Seq("g"), "variant", "label")
      .select($"z").as[Double].head()
    assert(z0 === 0.0)
    // variant 1 converts 60% vs 10%
    val lift = (0 until 400).map { i =>
      val v = i % 2
      ("g", v, if (v == 1 && i % 10 < 6 || v == 0 && i % 20 == 0) 1L else 0L) }
    val got = Evaluation.abTest(lift.toDF("g", "variant", "label"),
        Seq("g"), "variant", "label")
      .select($"p_a", $"p_b", $"z").as[(Double, Double, Double)].head()
    assert(got._2 > got._1 && got._3 < -5.0)
  }

  test("cohortRetention counts distinct users per (cohort, offset)") {
    def ts(day: Int) = java.sql.Timestamp.valueOf(
      java.time.LocalDate.of(2024, 1, 1).plusDays(day).atStartOfDay())
    // 2024-01-01 is a Monday. u1 active weeks 0 and 2; u2 weeks 0, 1;
    // u3 joins week 1 only
    val df = Seq((1L, ts(0)), (1L, ts(2)), (1L, ts(15)),
      (2L, ts(3)), (2L, ts(8)), (3L, ts(9)))
      .toDF("user_id", "ts")
    val got = Evaluation.cohortRetention(df)
      .select($"cohort".cast("string"), $"week_offset", $"n_users")
      .as[(String, Int, Long)].collect().toSet
    assert(got === Set(
      ("2024-01-01", 0, 2L), ("2024-01-01", 1, 1L), ("2024-01-01", 2, 1L),
      ("2024-01-08", 0, 1L)))
  }

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
    // composes with reliabilityBins: output is monotone non-decreasing
    val rows = (0 until 200).map(i => (i / 200.0, (i % 3 == 0, i).hashCode
      .abs % 2L))
    val rel = Evaluation.reliabilityBins(rows.toDF("score", "label"),
      "score", "label", nBins = 8)
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

  test("associationRules: confidence and lift from exact supports") {
    def ev(id: Long, user: Long, item: Long) =
      (id, user, "view", 1.0, s"""{"k": $item}""",
        java.sql.Timestamp.valueOf(f"2024-01-01 00:${id % 60}%02d:00"))
    // items 1,2 co-occur for users 1,2,3; item 3 only with user 1
    val rows = Seq(
      ev(1, 1, 1), ev(2, 1, 2), ev(3, 1, 3),
      ev(4, 2, 1), ev(5, 2, 2),
      ev(6, 3, 1), ev(7, 3, 2))
    val df = rows.toDF("event_id", "user_id", "event_type", "value",
      "props", "ts")
    val got = graft.operators.Recsys.associationRules(df, minUsers = 2)
      .select($"antecedent", $"consequent", $"supp_ab", $"confidence",
        $"lift")
      .as[(Long, Long, Long, Double, Double)].collect()
      .map(r => (r._1, r._2) -> ((r._3, r._4, r._5))).toMap
    // supp(1)=3, supp(2)=3, supp(12)=3, N=3 users
    assert(got((1L, 2L)) === ((3L, 1.0, 1.0)))
    assert(got((2L, 1L)) === ((3L, 1.0, 1.0)))
    assert(!got.contains((1L, 3L))) // below minUsers
  }

  test("precisionAtK takes top-k by score with deterministic ties") {
    val df = Seq(
      ("g", 1L, 9.0, 1L), ("g", 2L, 9.0, 0L), ("g", 3L, 8.0, 1L),
      ("g", 4L, 7.0, 0L), ("g", 5L, 6.0, 1L))
      .toDF("g", "id", "score", "label")
    val got = Evaluation.precisionAtK(df, Seq("g"), "score", "label",
        "id", k = 3)
      .select($"n_at_k", $"precision").as[(Long, Double)].head()
    // top-3: ids 1 (9.0), 2 (9.0 tie -> id asc), 3 (8.0) -> 2 positives
    assert(got === ((3L, 2.0 / 3.0)))
  }

  test("cohenKappa matches the hand computation; edge cases guarded") {
    // cells: (a,a)x2 (a,b)x1 (b,b)x3 → n=6 agree=5 po=5/6
    // marginals: row a=3 b=3; col a=2 b=4 → pe=(3·2+3·4)/36=1/2 → κ=2/3
    val df = Seq(("a", "a"), ("a", "a"), ("a", "b"),
      ("b", "b"), ("b", "b"), ("b", "b")).toDF("r1", "r2")
    val got = Evaluation.cohenKappa(df, "r1", "r2")
      .as[(Long, Long, Double, Double, Double)].head()
    assert(got === ((6L, 5L, 5.0 / 6.0, 0.5, (5.0 / 6.0 - 0.5) / 0.5)))
    // disjoint label sets: agreement 0, pe 0 → kappa = po = 0
    val disj = Seq(("x", "y"), ("x", "y")).toDF("r1", "r2")
    val d = Evaluation.cohenKappa(disj, "r1", "r2")
      .as[(Long, Long, Double, Double, Double)].head()
    assert(d === ((2L, 0L, 0.0, 0.0, 0.0)))
    // constant identical labels: pe = 1 → guarded κ = 1
    val const = Seq(("x", "x"), ("x", "x")).toDF("r1", "r2")
    val c = Evaluation.cohenKappa(const, "r1", "r2")
      .as[(Long, Long, Double, Double, Double)].head()
    assert(c === ((2L, 2L, 1.0, 1.0, 1.0)))
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

  test("ipsItemClicks reweights clicks by 1/propensity(position)") {
    // pos 1: 4 imps, 2 clicks (ctr 0.5, propensity 1)
    // pos 2: 4 imps, 1 click  (ctr 0.25, propensity 0.5 → click counts 2)
    val rows = Seq(
      ("A", 1, 1L), ("B", 1, 1L), ("A", 1, 0L), ("B", 1, 0L),
      ("A", 2, 1L), ("B", 2, 0L), ("A", 2, 0L), ("B", 2, 0L))
      .toDF("item", "pos", "click")
    val got = Evaluation.ipsItemClicks(rows, "item", "pos", "click")
      .as[(String, Long, Long)].collect().sortBy(_._1).toSeq
    // A: 1 click at pos1 (×1) + 1 click at pos2 (×2) = 3.0 → 3e6 micro
    // B: 1 click at pos1 (×1) = 1.0 → 1e6 micro
    assert(got === Seq(("A", 2L, 3000000L), ("B", 1L, 1000000L)))
    // a zero-click position contributes nothing and causes no 0/0
    val deadPos = rows.unionByName(
      Seq(("A", 3, 0L), ("B", 3, 0L)).toDF("item", "pos", "click"))
    val got2 = Evaluation.ipsItemClicks(deadPos, "item", "pos", "click")
      .as[(String, Long, Long)].collect().sortBy(_._1).toSeq
    assert(got2 === got)
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

  test("intraListDiversity matches the naive pairwise computation") {
    val emb = Seq(
      (1L, Seq(1.0f, 0.0f)), (2L, Seq(0.0f, 1.0f)),
      (3L, Seq(1.0f, 1.0f)), (4L, Seq(1.0f, 0.0f))
    ).toDF("vec_id", "embedding")
    val slate = Seq((10L, 1L), (10L, 2L), (10L, 3L), (20L, 1L), (20L, 4L))
      .toDF("query_id", "vec_id")
    val got = graft.operators.Evaluation
      .intraListDiversity(slate, emb)
      .as[(Long, Long, Long, Double)].collect().sortBy(_._1).toSeq
    def cos(a: Seq[Double], b: Seq[Double]): Double = {
      val dot = a.zip(b).map { case (x, y) => x * y }.sum
      dot / (math.sqrt(a.map(x => x * x).sum) * math.sqrt(b.map(x => x * x).sum))
    }
    def d(a: Seq[Double], b: Seq[Double]): Long =
      math.max(math.floor((1.0 - cos(a, b)) * 1e6).toLong, 0L)
    val e = Map(1L -> Seq(1.0, 0.0), 2L -> Seq(0.0, 1.0),
      3L -> Seq(1.0, 1.0), 4L -> Seq(1.0, 0.0))
    // q10: pairs (1,2), (1,3), (2,3); q20: pair (1,4) identical → 0
    val s10 = d(e(1L), e(2L)) + d(e(1L), e(3L)) + d(e(2L), e(3L))
    assert(got === Seq(
      (10L, 3L, s10, s10.toDouble / 3),
      (20L, 1L, 0L, 0.0)))
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

  test("positionCtrWilson: matches the closed form, bounds bracket the " +
      "rate, degenerate all-click/no-click positions stay in [0, 1]") {
    val rows = Seq.tabulate(400) { i =>
      val pos = i % 4 + 1
      // pos 1: ~half click; pos 2: none; pos 3: all; pos 4: sparse
      val click = pos match {
        case 1 => i % 2
        case 2 => 0
        case 3 => 1
        case _ => if (i % 10 == 0) 1 else 0
      }
      (pos, click.toLong)
    }
    val got = graft.operators.Evaluation
      .positionCtrWilson(rows.toDF("position", "click"), "position", "click")
      .as[(Int, Long, Long, Double, Double, Double)].collect()
      .sortBy(_._1)
    val z = 1.96
    val zz = z * z
    for ((pos, n, clicks, ctr, lo, hi) <- got) {
      val nn = n.toDouble
      val p = clicks.toDouble / nn
      assert(ctr === p, s"pos $pos")
      val a = p + zz / (2.0 * nn)
      val rad = p * (1.0 - p) / nn + zz / (4.0 * nn * nn)
      val den = 1.0 + zz / nn
      assert(lo === (a - z * math.sqrt(rad)) / den, s"pos $pos lo")
      assert(hi === (a + z * math.sqrt(rad)) / den, s"pos $pos hi")
      // FP-tolerant ordering: at p = 1.0 the hi bound rounds to
      // 1 − 1 ulp (sqrt(z²) ≠ z exactly), so bracket within 1e-12
      val eps = 1e-12
      assert(lo >= -eps && lo <= p + eps && p <= hi + eps && hi <= 1.0 + eps,
        s"pos $pos order")
    }
    assert(got.length === 4)
  }

  test("prCurve matches naive threshold counts; degenerate thresholds " +
      "yield null precision/recall rather than 0/0") {
    val rnd = new scala.util.Random(73)
    val rows = (1 to 800).map { _ =>
      val s = rnd.nextDouble() * 100
      (s, if (s + rnd.nextGaussian() * 30 > 60) 1L else 0L)
    }
    val thresholds = Seq(0.0, 25.0, 50.0, 75.0, 100.0, 200.0)
    val naive = thresholds.map { t =>
      val tp = rows.count { case (s, y) => s >= t && y == 1L }.toLong
      val fp = rows.count { case (s, y) => s >= t && y == 0L }.toLong
      val fn = rows.count { case (s, y) => s < t && y == 1L }.toLong
      (t, tp, fp, fn,
        if (tp + fp > 0) Some(tp.toDouble / (tp + fp)) else None,
        if (tp + fn > 0) Some(tp.toDouble / (tp + fn)) else None)
    }
    for (parts <- Seq(1, 16)) {
      val got = graft.operators.Evaluation
        .prCurve(rows.toDF("score", "y").repartition(parts), "score", "y",
          thresholds)
        .as[(Double, Long, Long, Long, Option[Double], Option[Double])]
        .collect().sortBy(_._1).toSeq
      assert(got === naive, s"parts=$parts")
    }
    // t=200 predicts nothing → precision null; recall 0 (tp=0, fn>0)
    val top = naive.last
    assert(top._5.isEmpty && top._6.contains(0.0))
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
    val got = Evaluation.retrievalOverlap(
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
    val again = Evaluation.retrievalOverlap(
        approx.toDF("query_id", "vec_id").repartition(7),
        exact.toDF("query_id", "vec_id").repartition(3))
      .select("query_id", "n_approx", "n_exact", "n_common", "recall")
      .as[(Long, Long, Long, Long, Option[Double])].collect()
      .sortBy(_._1).toSeq
    assert(again === got)
  }

  test("reciprocalRankFusion matches the naive per-item 1/(k0+rank) sum " +
      "with absent entries as zero") {
    val r1 = Seq((1L, 10L, 1), (1L, 11L, 2), (1L, 12L, 3),
      (2L, 20L, 1), (2L, 21L, 2)).toDF("query_id", "vec_id", "rank")
    val r2 = Seq((1L, 11L, 1), (1L, 13L, 2),
      (2L, 21L, 1), (2L, 22L, 2)).toDF("query_id", "vec_id", "rank")
    val got = Evaluation.reciprocalRankFusion(Seq(r1, r2), k = 3)
      .select("query_id", "vec_id", "rrf_score", "fused_rank")
      .as[(Long, Long, Double, Int)].collect()
      .sortBy(t => (t._1, t._4)).toSeq
    def s(ranks: Int*) = ranks.map(r => 1.0 / (60.0 + r)).sum
    // q1: 11 (rank 2 in r1, rank 1 in r2) wins; 10 (rank 1 in r1)
    // beats 13 (rank 2 in r2) beats 12 — ties impossible here
    assert(got.filter(_._1 == 1L).map(t => (t._2, t._3)) === Seq(
      (11L, s(2) + s(1)), (10L, s(1)), (13L, s(2))))
    assert(got.filter(_._1 == 2L).map(_._2) === Seq(21L, 20L, 22L))
    // fused_rank is dense 1..k per query
    assert(got.filter(_._1 == 1L).map(_._4) === Seq(1, 2, 3))
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
    val rec = Evaluation.retrievalOverlap(ivfAll, brute)
      .select("recall").as[Double].collect()
    assert(rec.length === 3 && rec.forall(_ === 1.0))
  }

  test("meanAveragePrecisionAtK matches a naive reimplementation; " +
      "no-positive groups yield null; partition-invariant") {
    val rnd = new scala.util.Random(7)
    val rows = (0 until 3).flatMap { g =>
      (0 until 40).map { i =>
        (s"g$g", i.toLong, rnd.nextDouble(),
          if (g == 2) 0L else if (rnd.nextInt(4) == 0) 1L else 0L)
      }
    }
    val df = rows.toDF("grp", "id", "score", "y")
    val k = 10
    def naive(g: String): Option[Double] = {
      val ranked = rows.filter(_._1 == g)
        .sortBy(r => (-r._3, r._2)).map(_._4)
      val nPos = ranked.count(_ == 1L).min(k)
      if (nPos == 0) None
      else {
        var cum = 0L
        var s = 0L
        ranked.take(k).zipWithIndex.foreach { case (y, i) =>
          cum += y
          if (y == 1L) s += math.round(cum.toDouble / (i + 1) * 1e6)
        }
        Some(s.toDouble / 1e6 / nPos)
      }
    }
    for (parts <- Seq(1, 7)) {
      val got = Evaluation.meanAveragePrecisionAtK(
          df.repartition(parts), Seq("grp"), "score", "y", "id", k)
        .select("grp", "ap").collect()
        .map(r => r.getString(0) -> Option(r.get(1)).map(_.asInstanceOf[Double]))
        .toMap
      assert(got("g2") === None)
      assert(got("g0") === naive("g0"))
      assert(got("g1") === naive("g1"))
    }
  }

  test("poissonBootstrapMeans: matches a naive hash replay, replicate " +
      "means bracket the truth, partition-invariant") {
    import spark.implicits._
    val rows = (0 until 400).map(i => (i.toLong, 10.0 + (i % 7).toDouble))
    val df = rows.toDF("id", "v")
    val reps = 8
    def weight(b: Int, id: Long): Long = {
      val md = java.security.MessageDigest.getInstance("MD5")
        .digest(s"$b:$id".getBytes("UTF-8"))
      val u = java.lang.Long.parseLong(
        md.take(4).map(x => f"$x%02x").mkString, 16) / 4294967296.0
      Evaluation.PoissonCdf.count(c => u >= c).toLong
    }
    val naive = (0 until reps).map { b =>
      val ws = rows.map { case (id, v) =>
        (weight(b, id), math.round(v * 1e6)) }
      val (sw, w) = (ws.map(t => t._1 * t._2).sum, ws.map(_._1).sum)
      (b, w, sw.toDouble / 1e6 / w)
    }
    for (parts <- Seq(1, 5)) {
      val got = Evaluation.poissonBootstrapMeans(
          df.repartition(parts), "v", "id", reps)
        .as[(Int, Long, Double)].collect().sortBy(_._1).toSeq
      assert(got === naive, s"parts=$parts")
    }
    // replicate means scatter around the truth (weights average 1)
    val truth = rows.map(_._2).sum / rows.size
    val means = naive.map(_._3)
    assert(means.min < truth && truth < means.max)
    assert(means.forall(m => math.abs(m - truth) < 1.0))
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

  test("coverageNovelty + popularityComplementRecs: recs exclude " +
      "history, metrics match the naive computation") {
    import spark.implicits._
    // users 0..5 have seen items u and u+1; a heavy user 99 supplies
    // a popularity ramp over items 1..9
    val inter = ((0 until 6).flatMap { u =>
      Seq((u.toLong, u.toLong), (u.toLong, (u + 1).toLong))
    } ++ (0 until 10).flatMap(i =>
      Seq.fill(i)((99L, i.toLong)))).toDF("user_id", "item_id")
    val ev = inter.select(col("user_id"),
      concat(lit("{\"k\":"), col("item_id"), lit("}")).as("props"))
      .withColumn("ts", lit(java.sql.Timestamp.valueOf("2024-01-01 00:00:00")))
    val recs = graft.operators.Recsys.popularityComplementRecs(
      ev, topM = 10, perUser = 3)
    val gotRecs = recs.as[(Long, Long, Int)].collect()
    val hist = inter.as[(Long, Long)].collect().toSet
    gotRecs.foreach { case (u, i, _) =>
      assert(!hist.contains((u, i)), s"recommended seen item $i to $u") }
    val perUser = gotRecs.groupBy(_._1)
    (0 until 6).foreach(u => assert(perUser(u.toLong).length === 3))
    assert(perUser(99L).length === 1) // only item 0 is unseen for 99
    val metrics = Evaluation.coverageNovelty(
        recs, inter, "item_id", "user_id")
      .as[(Long, Long, Long, Double, Double)].head()
    val pop = inter.as[(Long, Long)].collect().groupBy(_._2)
      .map { case (i, g) => i -> g.size.toLong }
    val t = pop.values.sum.toDouble
    val naiveNov = gotRecs.map { case (_, i, _) =>
      math.round(-(math.log(pop(i) / t) / math.log(2.0)) * 1e6) }.sum
    assert(metrics._1 === gotRecs.length.toLong)
    assert(metrics._2 === gotRecs.map(_._2).distinct.length.toLong)
    assert(metrics._3 === pop.size.toLong)
    assert(metrics._4 === metrics._2.toDouble / metrics._3.toDouble)
    assert(math.abs(metrics._5 - naiveNov.toDouble / 1e6 / metrics._1) <
      1e-9)
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

  test("kFoldAuc: folds group by entity (no entity straddles folds), " +
      "per-fold AUC equals groupAuc on the same assignment") {
    import spark.implicits._
    val rnd = new scala.util.Random(29)
    val rows = (0 until 80).flatMap { e =>
      (0 until 5).map(_ => (e.toLong, rnd.nextDouble(),
        if (rnd.nextInt(3) == 0) 1L else 0L)) }
    val df = rows.toDF("ent", "score", "y")
    val k = 4
    val got = Evaluation.kFoldAuc(df, "ent", "score", "y", k)
      .select("fold").as[Long].collect()
    assert(got.toSet.subsetOf((0L until k.toLong).toSet))
    // reproduce the assignment and check entity-atomicity
    def fold(e: Long): Long = {
      val md = java.security.MessageDigest.getInstance("MD5")
        .digest(s"21:$e".getBytes("UTF-8"))
      java.lang.Long.parseLong(
        md.take(4).map(x => f"$x%02x").mkString, 16) % k
    }
    val withFold = df.withColumn("fold",
      graft.functions.Hashing.md5Hash32(col("ent").cast("string"), 21)
        % k)
    val pairs = withFold.select("ent", "fold").distinct()
      .as[(Long, Long)].collect()
    assert(pairs.groupBy(_._1).values.forall(_.length === 1))
    pairs.foreach { case (e, f) => assert(f === fold(e)) }
    val viaGroup = Evaluation.groupAuc(withFold, Seq("fold"), "score", "y")
      .select("fold", "auc").as[(Long, Option[Double])].collect().toMap
    val direct = Evaluation.kFoldAuc(df, "ent", "score", "y", k)
      .select("fold", "auc").as[(Long, Option[Double])].collect().toMap
    assert(direct === viaGroup)
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

  test("kaplanMeier matches the textbook product-limit computation; " +
      "censored subjects leave the risk set without an event; " +
      "a full-death time pins survival to zero") {
    import spark.implicits._
    // durations: events at 1 (2 of 5), censored at 2 (1), event at 3
    // (1), censored at 4 (1):
    //   S(1) = 1 - 2/5 = 0.6 ; S(3) = 0.6 * (1 - 1/2) = 0.3
    val subj = Seq((1L, 1L), (1L, 1L), (2L, 0L), (3L, 1L), (4L, 0L))
    for (parts <- Seq(1, 3)) {
      val got = Evaluation.kaplanMeier(
          subj.toDF("dur", "ev").repartition(parts), "dur", "ev")
        .as[(Long, Long, Long, Long, Double)].collect()
        .sortBy(_._1).toSeq
      def s(terms: Seq[(Long, Long)]): Double = BigDecimal(math.exp(
        terms.map { case (d, n) =>
          math.round(math.log(1.0 - d.toDouble / n) * 1e6) }.sum / 1e6))
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
      assert(got === Seq(
        (1L, 5L, 2L, 0L, s(Seq((2L, 5L)))),
        (2L, 3L, 0L, 1L, s(Seq((2L, 5L)))),
        (3L, 2L, 1L, 0L, s(Seq((2L, 5L), (1L, 2L)))),
        (4L, 1L, 0L, 1L, s(Seq((2L, 5L), (1L, 2L))))), s"parts=$parts")
      assert(math.abs(got.head._5 - 0.6) < 1e-5)
      assert(math.abs(got(2)._5 - 0.3) < 1e-5)
    }
    // everyone dies at t=2 -> survival exactly 0 from there on
    val wipe = Seq((1L, 1L), (2L, 1L), (2L, 1L))
    val got2 = Evaluation.kaplanMeier(wipe.toDF("dur", "ev"), "dur", "ev")
      .as[(Long, Long, Long, Long, Double)].collect().sortBy(_._1)
    assert(got2(1)._5 === 0.0)
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

  test("learningCurveAuc: subsets nest (counts monotone), the full " +
      "fraction equals plain AUC, per-cut values match direct filters") {
    import spark.implicits._
    val rnd = new scala.util.Random(47)
    val rows = (0 until 400).map(i =>
      (i.toLong, rnd.nextDouble(), (rnd.nextInt(3) == 0).compareTo(false).toLong))
    val df = rows.toDF("id", "score", "y")
    val fr = Seq(0.25, 0.5, 1.0)
    val got = Evaluation.learningCurveAuc(df, "id", "score", "y", fr)
      .select("fraction", "n_pos", "n_neg", "auc")
      .as[(Double, Long, Long, Option[Double])].collect()
      .map(t => t._1 -> t).toMap
    val sizes = fr.map(f => got(f)._2 + got(f)._3)
    assert(sizes === sizes.sorted) // nesting -> monotone counts
    assert(sizes.last === 400L)    // fraction 1.0 = everything
    // each cut equals groupAuc on the directly filtered subset
    def u(id: Long): Double = {
      val md = java.security.MessageDigest.getInstance("MD5")
        .digest(s"33:$id".getBytes("UTF-8"))
      java.lang.Long.parseLong(
        md.take(4).map(x => f"$x%02x").mkString, 16) / 4294967296.0
    }
    fr.foreach { f =>
      val sub = rows.filter(r => u(r._1) < f)
      val direct = Evaluation.groupAuc(
          sub.toDF("id", "score", "y").withColumn("g", lit(1)),
          Seq("g"), "score", "y")
        .select("n_pos", "n_neg", "auc")
        .as[(Long, Long, Option[Double])].head()
      assert((got(f)._2, got(f)._3, got(f)._4) === direct, s"f=$f")
    }
  }

  test("sampleRatioMismatch: buckets partition the units, expectation " +
      "is uniform, chi2 terms match the formula; a forced skew shows") {
    import spark.implicits._
    val units = (0 until 800).map(i => Tuple1(i.toLong)).toDF("id")
    val got = Evaluation.sampleRatioMismatch(units, "id", buckets = 4)
      .as[(Long, Long, Double, Double)].collect()
    assert(got.length === 4)
    assert(got.map(_._2).sum === 800L)
    got.foreach { case (_, n, e, chi) =>
      assert(e === 200.0)
      assert(math.abs(chi - (n - e) * (n - e) / e) < 1e-12)
    }
    // hash bucketing of sequential ids should be roughly uniform
    assert(got.map(_._4).sum < 20.0)
    // pile 400 duplicate rows onto ONE unit: they all land in that
    // unit's bucket -> unmistakable ratio mismatch
    val skewed = units.union(
      (0 until 400).map(_ => Tuple1(0L)).toDF("id"))
    val chi2 = Evaluation.sampleRatioMismatch(skewed, "id", buckets = 4)
      .agg(sum(col("chi2_term"))).as[Double].head()
    assert(chi2 > 100.0, s"chi2 $chi2")
  }

  test("cohortLtv: cumulative per-user value by cohort and offset " +
      "matches hand accounting") {
    import spark.implicits._
    val wk = 604800000L
    def t(w: Int) = new java.sql.Timestamp(w * wk + 1000L)
    // cohort 0: users 1,2 — week 0 spends 10+20, week 1 user 1 spends 6
    // cohort 1: user 3 — week 1 spends 8
    val ev = Seq(
      (1L, t(0), 10.0), (2L, t(0), 20.0), (1L, t(1), 6.0),
      (3L, t(1), 8.0)).toDF("user_id", "ts", "value")
    val got = Evaluation.cohortLtv(ev)
      .as[(Long, Long, Long, Double, Double)].collect()
      .map(r => (r._1, r._2) -> r).toMap
    assert(got((0L, 0L)) === ((0L, 0L, 2L, 30.0, 15.0)))
    assert(got((0L, 1L)) === ((0L, 1L, 2L, 6.0, 18.0)))
    assert(got((1L, 0L)) === ((1L, 0L, 1L, 8.0, 8.0)))
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

  test("kendall tau-b: perfect, inverted, and tie-corrected cases") {
    val agree = (1L to 10L).map(i => (i, i, i * 3)).toDF("id", "x", "y")
    val a = Evaluation.kendallTauB(agree, "id", "x", "y").collect().head
    assert(a.getAs[Long]("n0") === 45L)
    assert(a.getAs[Double]("tau_b") === 1.0)
    val invert = (1L to 10L).map(i => (i, i, 100 - i)).toDF("id", "x", "y")
    assert(Evaluation.kendallTauB(invert, "id", "x", "y")
      .collect().head.getAs[Double]("tau_b") === -1.0)
    // ties: x constant -> denominator zero -> null
    val flat = (1L to 5L).map(i => (i, 7L, i)).toDF("id", "x", "y")
    assert(Evaluation.kendallTauB(flat, "id", "x", "y")
      .collect().head.isNullAt(5))
    // naive check with ties on random data
    val rnd = new scala.util.Random(79)
    val rows = (1L to 40L).map(i =>
      (i, rnd.nextInt(6).toLong, rnd.nextInt(6).toLong))
    val got = Evaluation.kendallTauB(rows.toDF("id", "x", "y"),
      "id", "x", "y").collect().head.getAs[Double]("tau_b")
    var (c, d, tx, ty, n0) = (0L, 0L, 0L, 0L, 0L)
    for (i <- rows.indices; j <- rows.indices if i < j) {
      n0 += 1
      val (dx, dy) = (rows(i)._2 - rows(j)._2, rows(i)._3 - rows(j)._3)
      if (dx == 0) tx += 1
      if (dy == 0) ty += 1
      if (dx * dy > 0) c += 1 else if (dx * dy < 0) d += 1
    }
    val naive = (c - d).toDouble /
      math.sqrt((n0 - tx).toDouble * (n0 - ty).toDouble)
    assert(math.abs(got - naive) < 1e-5)
  }

  test("kendall tau-b: topN trims the pairwise input; doubles keep 6dp") {
    // 30 entities; topN=10 by x must bound the pair count to 10*9/2,
    // regardless of the input size — the enforced pre-trim, not an
    // assumed one.
    val rnd = new scala.util.Random(31)
    val rows = (1L to 30L).map(i =>
      (i, 1000L - i * 7, rnd.nextInt(1000).toLong))
    val trimmed = Evaluation.kendallTauB(rows.toDF("id", "x", "y"),
      "id", "x", "y", topN = 10).collect().head
    assert(trimmed.getAs[Long]("n0") === 45L)
    // equals tau over the hand-selected top-10-by-x subset
    val top = rows.sortBy(r => (-r._2, r._1)).take(10)
    var (c, d, tx, ty) = (0L, 0L, 0L, 0L)
    for (i <- top.indices; j <- top.indices if i < j) {
      val (dx, dy) = (top(i)._2 - top(j)._2, top(i)._3 - top(j)._3)
      if (dx == 0) tx += 1
      if (dy == 0) ty += 1
      if (dx * dy > 0) c += 1 else if (dx * dy < 0) d += 1
    }
    val naive = (c - d).toDouble /
      math.sqrt((45L - tx).toDouble * (45L - ty).toDouble)
    assert(math.abs(trimmed.getAs[Double]("tau_b") - naive) < 1e-5)
    // fractional columns stage to micro-longs: a long cast would
    // flatten these to all-ties (null tau); 6dp staging ranks them
    val frac = (1L to 8L).map(i => (i, 0.1 + i * 0.001, i.toDouble))
      .toDF("id", "x", "y")
    assert(Evaluation.kendallTauB(frac, "id", "x", "y")
      .collect().head.getAs[Double]("tau_b") === 1.0)
  }

  test("brier decomposition: perfect and constant forecasters") {
    // perfect: score == label -> brier 0, reliability ~0, resolution
    // ~uncertainty
    val perfect = (1 to 200).map(i =>
      (if (i % 4 == 0) 1.0 else 0.0, if (i % 4 == 0) 1L else 0L))
    val p = Evaluation.brierDecomposition(
      perfect.toDF("score", "y"), "score", "y", nBins = 4)
      .collect().head
    assert(p.getAs[Double]("brier") === 0.0)
    assert(p.getAs[Double]("reliability") < 1e-5)
    assert(math.abs(p.getAs[Double]("resolution") -
      p.getAs[Double]("uncertainty")) < 1e-3)
    // constant base-rate forecaster: brier == uncertainty, zero
    // reliability and resolution
    val const = (1 to 200).map(i => (0.25, if (i % 4 == 0) 1L else 0L))
    val c = Evaluation.brierDecomposition(
      const.toDF("score", "y"), "score", "y", nBins = 4)
      .collect().head
    assert(math.abs(c.getAs[Double]("brier") -
      c.getAs[Double]("uncertainty")) < 1e-5)
    assert(c.getAs[Double]("reliability") < 1e-5)
    assert(c.getAs[Double]("resolution") < 1e-5)
  }

  test("operating point: F1 argmax and cost argmin on a known curve") {
    // scores 1..10, positives are 6..10
    val rows = (1 to 10).map(i => (i.toDouble, if (i > 5) 1L else 0L))
    val out = Evaluation.operatingPoint(
      rows.toDF("score", "y"), "score", "y",
      thresholds = Seq(3.0, 6.0, 9.0), fpCost = 1L, fnCost = 1L)
      .collect().map(r => r.getAs[Double]("threshold") -> r).toMap
    // t=6: tp=5 fp=0 fn=0 -> perfect
    assert(out(6.0).getAs[Double]("f1") === 1.0)
    assert(out(6.0).getAs[Long]("cost") === 0L)
    assert(out(6.0).getAs[Boolean]("is_best_f1"))
    assert(out(6.0).getAs[Boolean]("is_min_cost"))
    // t=3: tp=5 fp=3 fn=0; t=9: tp=2 fp=0 fn=3
    assert(!out(3.0).getAs[Boolean]("is_best_f1"))
    assert(out(3.0).getAs[Long]("cost") === 3L)
    assert(out(9.0).getAs[Long]("cost") === 3L)
    assert(out.values.count(_.getAs[Boolean]("is_best_f1")) === 1)
    assert(out.values.count(_.getAs[Boolean]("is_min_cost")) === 1)
  }
}
