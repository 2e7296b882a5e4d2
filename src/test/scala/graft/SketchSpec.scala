package graft

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.functions.Hashing
import graft.operators.Sketches

/** KMV distinct-count sketch: exactness below capacity, estimation
  * accuracy above it, merge/union laws, partition invariance, SQL
  * registration. */
class SketchSpec extends AnyFunSuite with SparkSuite {
  import spark.implicits._

  private def hashed(n: Int, parts: Int = 8) =
    (1 to n).map(i => s"v$i").toDF("v")
      .repartition(parts)
      .select(Hashing.md5Hash32(col("v"), 7).as("h"))

  test("exact below capacity: sketch of n < k distinct values IS the distinct hash set") {
    val df = hashed(40).union(hashed(40)) // duplicates must not count
    val minima = df.agg(Sketches.kmvMinima(col("h"), 64).as("m"))
      .select(col("m")).as[Seq[Long]].head()
    val expected = hashed(40).distinct().as[Long].collect().sorted.toSeq
    assert(minima === expected)
    val est = df.agg(
      Sketches.kmvEstimate(Sketches.kmvMinima(col("h"), 64), 64).as("e"))
      .as[Double].head()
    assert(est === 40.0)
  }

  test("estimate above capacity: within 25% of truth at k=64, n=5000") {
    val est = hashed(5000).agg(
      Sketches.kmvEstimate(Sketches.kmvMinima(col("h"), 64), 64).as("e"))
      .as[Double].head()
    assert(math.abs(est - 5000.0) / 5000.0 < 0.25, s"estimate $est")
  }

  test("partition invariance: same sketch at 1 and 32 partitions") {
    def minima(parts: Int) =
      hashed(500, parts).agg(Sketches.kmvMinima(col("h"), 16).as("m"))
        .select(col("m")).as[Seq[Long]].head()
    assert(minima(1) === minima(32))
  }

  test("union law: kmvUnion of two group sketches == sketch of the union") {
    val a = hashed(300)
    val b = (200 to 450).map(i => s"v$i").toDF("v") // overlaps a
      .select(Hashing.md5Hash32(col("v"), 7).as("h"))
    val k = 32
    val sa = a.agg(Sketches.kmvMinima(col("h"), k).as("m")).select("m")
    val sb = b.agg(Sketches.kmvMinima(col("h"), k).as("m")).select("m")
    val merged = sa.crossJoin(sb.withColumnRenamed("m", "m2"))
      .select(Sketches.kmvUnion(col("m"), col("m2"), k).as("u"))
      .as[Seq[Long]].head()
    val direct = a.union(b).agg(Sketches.kmvMinima(col("h"), k).as("m"))
      .select(col("m")).as[Seq[Long]].head()
    assert(merged === direct)
  }

  test("null hashes are skipped; empty input yields an empty sketch") {
    val df = Seq(Some(5L), None, Some(3L), Some(5L)).toDF("h")
    val m = df.agg(Sketches.kmvMinima(col("h"), 4).as("m"))
      .as[Seq[Long]].head()
    assert(m === Seq(3L, 5L))
    val empty = df.filter(col("h").isNull)
      .agg(Sketches.kmvMinima(col("h"), 4).as("m")).as[Seq[Long]].head()
    assert(empty === Seq.empty)
  }

  test("SQL surface: graft_kmv registered and grouping-aware") {
    org.apache.spark.sql.graftbridge.GraftInstaller.install(spark)
    hashed(100).createOrReplaceTempView("kmv_in")
    val viaSql = spark.sql(
      "SELECT graft_kmv(h, 8) AS m FROM kmv_in").as[Seq[Long]].head()
    val viaApi = hashed(100).agg(Sketches.kmvMinima(col("h"), 8).as("m"))
      .as[Seq[Long]].head()
    assert(viaSql === viaApi)
  }

  test("distinctByGroup: exact and sketch columns agree with groupBy countDistinct") {
    val df = Seq(("a", 1L), ("a", 2L), ("a", 2L), ("b", 9L)).toDF("g", "u")
    val out = Sketches.distinctByGroup(df, "g", "u", k = 64)
      .orderBy("g").collect()
    assert(out.map(r => (r.getString(0), r.getLong(1), r.getDouble(2))).toSeq
      === Seq(("a", 2L, 2.0), ("b", 1L, 1.0)))
  }

  // ---- Misra-Gries frequent items ----

  /** Zipf-ish skew over a large domain: item i repeated max(1, n/i)
    * times — far more distinct values than sketch counters, so the
    * decrement (update) and cut (merge) paths both fire. */
  private def skewed(parts: Int) = {
    val rows = (1 to 400).flatMap(i => Seq.fill(math.max(1, 2000 / i))(s"item$i"))
    rows.toDF("v").repartition(parts)
  }

  test("hashSampleQuantiles: deterministic, partition-invariant, merge law") {
    val rnd = new scala.util.Random(11)
    val rows = (1L to 5000L).map(i => (i, rnd.nextDouble() * 100))
    val df = rows.toDF("id", "v")
    val probs = Seq(0.1, 0.5, 0.9)
    def run(d: org.apache.spark.sql.DataFrame): Seq[(Double, Double)] =
      Sketches.hashSampleQuantiles(d, "v", "id", k = 100, probs)
        .as[(Double, Double)].collect().sortBy(_._1).toSeq
    val base = run(df)
    assert(base.map(_._1) === probs.sorted)
    assert(run(df.repartition(32, $"id")) === base)
    assert(run(df.repartition(1)) === base)
    // merge law: bottom-k of the union == bottom-k over re-limited
    // halves unioned (the sample, not just the estimate, merges)
    val bottom = (half: org.apache.spark.sql.DataFrame) =>
      half.select($"id", $"v",
          graft.functions.Hashing.md5Hash32($"id".cast("string"), 7)
            .as("h"))
        .orderBy($"h".asc, $"v".asc).limit(100)
    val merged = bottom(df.filter($"id" % 2 === 0))
      .unionByName(bottom(df.filter($"id" % 2 =!= 0)))
      .orderBy($"h".asc, $"v".asc).limit(100)
      .select($"h").as[Long].collect().toSeq
    val direct = bottom(df).select($"h").as[Long].collect().toSeq
    assert(merged === direct)
    // sanity: median of a uniform[0,100) sample sits mid-range
    val med = base.find(_._1 == 0.5).get._2
    assert(med > 20 && med < 80)
  }

  test("misra-gries guarantee: every item with share > 1/(k+1) survives " +
      "the sketch, under heavy decrement pressure and any partitioning") {
    for (parts <- Seq(1, 7, 32)) {
      val df = skewed(parts)
      val n = df.count()
      val k = 9
      val mg = df.agg(Sketches.misraGries(col("v"), k).as("m"))
        .select(map_keys(col("m"))).as[Seq[String]].head().toSet
      assert(mg.size <= k)
      val truth = df.groupBy("v").count()
        .filter(col("count") > n.toDouble / (k + 1))
        .select("v").as[String].collect().toSet
      assert(truth.subsetOf(mg),
        s"parts=$parts: lost heavy hitters ${truth -- mg}")
    }
  }

  test("misra-gries counts are lower bounds within n/(k+1) of truth") {
    val df = skewed(13)
    val n = df.count()
    val k = 9
    val mg = df.agg(Sketches.misraGries(col("v"), k).as("m"))
      .select(explode(col("m"))).as[(String, Long)].collect().toMap
    val truth = df.groupBy("v").count().as[(String, Long)].collect().toMap
    mg.foreach { case (item, c) =>
      assert(c <= truth(item), s"$item overcounted: $c > ${truth(item)}")
      assert(c >= truth(item) - n / (k + 1),
        s"$item undercounted beyond the bound: $c vs ${truth(item)}")
    }
  }

  test("heavyHitters is EXACT vs the brute-force HAVING plan") {
    val df = skewed(11)
    val n = df.count()
    val out = Sketches.heavyHitters(df, "v", sketchSize = 9, minShare = 0.12)
      .as[(String, Long, Long)].collect().sorted.toSeq
    val brute = df.groupBy("v").agg(count(lit(1)).as("cnt"))
      .filter(col("cnt") > 0.12 * n)
      .withColumn("total", lit(n))
      .as[(String, Long, Long)].collect().sorted.toSeq
    assert(out === brute)
    assert(out.nonEmpty) // the threshold must actually select something
  }

  test("heavyHitters rejects thresholds below the sketch guarantee") {
    val df = Seq("a", "b").toDF("v")
    intercept[IllegalArgumentException] {
      Sketches.heavyHitters(df, "v", sketchSize = 9, minShare = 0.05)
    }
  }

  test("audienceOverlap: under-capacity sketches give the EXACT overlap; " +
      "full sketches estimate within the KMV error band") {
    import spark.implicits._
    // segments A/B share users 1..50; A also has 51..120, B 121..200
    val rows = (1 to 120).map(u => ("A", u.toLong)) ++
      (1 to 50).map(u => ("B", u.toLong)) ++
      (121 to 200).map(u => ("B", u.toLong)) ++
      (1 to 10).map(u => ("A", u.toLong)) // dupes must not matter
    val df = rows.toDF("seg", "user")
    // k=512 > both audiences: theta = 2^32 on both sides, exact path
    val exactish = Sketches.audienceOverlap(df, "seg", "user", k = 512)
      .select("seg_a", "seg_b", "exact_overlap", "kmv_overlap")
      .as[(String, String, Long, Double)].head()
    assert(exactish === (("A", "B", 50L, 50.0)))
    // k=32 << audiences: a real estimate; KMV relative error ~1/sqrt(k)
    // (seeded hash => deterministic, this is a fixed value not a flake)
    val est = Sketches.audienceOverlap(df, "seg", "user", k = 32)
      .select("exact_overlap", "kmv_overlap")
      .as[(Long, Double)].head()
    assert(est._1 === 50L)
    assert(est._2 > 10.0 && est._2 < 150.0,
      s"KMV overlap estimate wildly off: ${est._2}")
    // partition invariance
    val again = Sketches.audienceOverlap(df.repartition(9), "seg", "user",
        k = 32).select("kmv_overlap").as[Double].head()
    assert(again === est._2)
  }

  test("categoricalEntropy: uniform = ln(k), constant = 0, matches the " +
      "naive histogram entropy") {
    import spark.implicits._
    val df = (0 until 240).map { i =>
      (s"v${i % 4}", "const", if (i < 200) "heavy" else s"tail$i")
    }.toDF("uniform4", "konst", "skewed")
    val got = graft.operators.Profile.categoricalEntropy(
        df, Seq("uniform4", "konst", "skewed"))
      .select("col_name", "n", "n_distinct", "entropy_micro")
      .as[(String, Long, Long, Long)].collect()
      .map(t => t._1 -> t).toMap
    assert(got("uniform4")._3 === 4L)
    // 4 * round((1/4)*ln(4)*1e6)
    assert(got("uniform4")._4 ===
      4L * math.round(0.25 * math.log(4.0) * 1e6))
    assert(got("konst") === (("konst", 240L, 1L, 0L)))
    val naive = {
      val vals = (0 until 240).map(i => if (i < 200) "heavy" else s"tail$i")
      vals.groupBy(identity).values.map { g =>
        val p = g.size.toDouble / 240.0
        math.round(p * -math.log(p) * 1e6)
      }.sum
    }
    assert(got("skewed")._4 === naive)
    assert(got("skewed")._2 === 240L && got("skewed")._3 === 41L)
  }

  test("mutualInformation: identical columns = column entropy; exactly " +
      "balanced independent columns = 0") {
    import spark.implicits._
    val df = (0 until 400)
      .map(i => (s"v${i % 4}", s"v${i % 4}", s"w${(i / 4) % 5}"))
      .toDF("a", "a2", "b")
    val same = graft.operators.Profile.mutualInformation(df, "a", "a2")
      .select("n", "n_cells", "card_a", "card_b", "mi_micro")
      .as[(Long, Long, Long, Long, Long)].head()
    // diagonal cells only: MI == H(uniform-4) under the same rounding
    assert(same === ((400L, 4L, 4L, 4L,
      4L * math.round(0.25 * math.log(4.0) * 1e6))))
    // every (a,b) cell holds exactly 400/20 rows -> ln(1) terms, MI = 0
    val indep = graft.operators.Profile.mutualInformation(df, "a", "b")
      .select("n_cells", "mi_micro").as[(Long, Long)].head()
    assert(indep === ((20L, 0L)))
  }

  test("imputationStats: mean/median/mode per column from one pass; " +
      "mode ties break to the smallest value; nulls excluded") {
    import spark.implicits._
    val df = Seq(
      (Some(1.0), Some(10.0)), (Some(2.0), Some(20.0)),
      (Some(2.0), Some(20.0)), (Some(9.0), Some(10.0)),
      (None, Some(30.0))
    ).toDF("a", "b")
    val got = graft.operators.Profile.imputationStats(df, Seq("a", "b"))
      .as[(String, Long, Double, Double, Double)].collect()
      .map(t => t._1 -> t).toMap
    // a: n=4, mean 3.5, sorted [1,2,2,9] lower median 2, mode 2
    assert(got("a") === (("a", 4L, 3.5, 2.0, 2.0)))
    // b: n=5, mean 18, sorted [10,10,20,20,30] median 20; mode tie
    // between 10(x2) and 20(x2) -> smallest = 10
    assert(got("b") === (("b", 5L, 18.0, 20.0, 10.0)))
  }

  test("correlationMatrix: exact ±1 on linear columns, 0 on balanced " +
      "orthogonal ones, null on constants; matches naive Pearson") {
    import spark.implicits._
    val rnd = new scala.util.Random(11)
    val base = (0 until 300).map(_ => rnd.nextInt(1000).toDouble)
    val noise = (0 until 300).map(_ => rnd.nextInt(1000).toDouble)
    val df = base.zip(noise).map { case (x, e) =>
      (x, 3.0 * x + 7.0, -2.0 * x, 5.0, e)
    }.toDF("x", "lin_up", "lin_dn", "konst", "e")
    val got = graft.operators.Profile.correlationMatrix(
        df, Seq("x", "lin_up", "lin_dn", "konst", "e"))
      .collect()
      .map(r => (r.getString(0), r.getString(1)) ->
        Option(r.get(3)).map(_.asInstanceOf[Double]))
      .toMap
    assert(math.abs(got(("x", "lin_up")).get - 1.0) < 1e-9)
    assert(math.abs(got(("x", "lin_dn")).get + 1.0) < 1e-9)
    assert(got(("x", "konst")) === None) // zero variance -> null
    // naive two-pass Pearson on the raw doubles
    val naive = {
      val n = base.size.toDouble
      val (mx, me) = (base.sum / n, noise.sum / n)
      val cov = base.zip(noise).map { case (x, e) => (x - mx) * (e - me) }.sum
      val vx = base.map(x => (x - mx) * (x - mx)).sum
      val ve = noise.map(e => (e - me) * (e - me)).sum
      cov / math.sqrt(vx * ve)
    }
    assert(math.abs(got(("x", "e")).get - naive) < 1e-6)
  }

  test("ksStatistic: identical samples -> 0, disjoint ranges -> 1, " +
      "shifted uniform matches the naive CDF-gap computation") {
    import spark.implicits._
    def ks(rows: Seq[(Double, String)]): (Long, Long, Long, Double) =
      graft.operators.Profile.ksStatistic(
          rows.toDF("v", "g"), "v", "g", "a", "b")
        .as[(Long, Long, Long, Double)].head()
    val same = (0 until 100).flatMap(i =>
      Seq((i.toDouble, "a"), (i.toDouble, "b")))
    assert(ks(same) === ((100L, 100L, 0L, 0.0)))
    val disjoint = (0 until 50).map(i => (i.toDouble, "a")) ++
      (0 until 80).map(i => (100.0 + i, "b"))
    assert(ks(disjoint) === ((50L, 80L, 50L * 80L, 1.0)))
    val rnd = new scala.util.Random(3)
    val aa = (0 until 200).map(_ => rnd.nextDouble())
    val bb = (0 until 150).map(_ => rnd.nextDouble() + 0.25)
    val got = ks(aa.map((_, "a")) ++ bb.map((_, "b")))
    val naive = {
      val vals = (aa ++ bb).distinct.sorted
      vals.map { v =>
        math.abs(aa.count(_ <= v).toLong * bb.size -
          bb.count(_ <= v).toLong * aa.size)
      }.max
    }
    assert(got._3 === naive)
    assert(got._4 === naive.toDouble / (200.0 * 150.0))
  }

  test("jsDivergence: identical mixes -> 0, disjoint categories -> " +
      "ln 2, asymmetric shift matches the naive term sum") {
    import spark.implicits._
    def jsd(rows: Seq[(String, String)]): (Long, Long, Long, Long) =
      graft.operators.Profile.jsDivergence(
          rows.toDF("cat", "g"), "cat", "g", "a", "b")
        .select("n_a", "n_b", "n_cats", "jsd_micro")
        .as[(Long, Long, Long, Long)].head()
    val same = (0 until 120).flatMap(i =>
      Seq((s"c${i % 4}", "a"), (s"c${i % 4}", "b")))
    assert(jsd(same) === ((120L, 120L, 4L, 0L)))
    // disjoint supports: every term is (1/2)p·ln2 or (1/2)q·ln2
    val disjoint = (0 until 60).map(i => (s"x${i % 3}", "a")) ++
      (0 until 90).map(i => (s"y${i % 2}", "b"))
    val (_, _, nc, micro) = jsd(disjoint)
    assert(nc === 5L)
    val ln2 = math.log(2.0)
    val expect =
      3L * math.round(0.5 * (1.0 / 3.0) * ln2 * 1e6) +
      2L * math.round(0.5 * (1.0 / 2.0) * ln2 * 1e6)
    assert(micro === expect)
    // naive per-category recomputation on a skewed mix
    val mixed = (0 until 100).map(i => (s"m${i % 5}", "a")) ++
      (0 until 100).map(i => (s"m${(i % 10) / 2}", "b"))
    val (na, nb, _, got) = jsd(mixed)
    val naive = {
      val ca = (0 until 100).map(i => s"m${i % 5}").groupBy(identity)
        .map { case (k, v) => k -> v.size }
      val cb = (0 until 100).map(i => s"m${(i % 10) / 2}").groupBy(identity)
        .map { case (k, v) => k -> v.size }
      (ca.keySet ++ cb.keySet).toSeq.map { k =>
        val p = ca.getOrElse(k, 0).toDouble / na
        val q = cb.getOrElse(k, 0).toDouble / nb
        val m = (p + q) / 2.0
        val ta = if (p > 0) 0.5 * p * math.log(p / m) else 0.0
        val tb = if (q > 0) 0.5 * q * math.log(q / m) else 0.0
        math.round((ta + tb) * 1e6)
      }.sum
    }
    assert(got === naive)
  }

  test("countMin: never undercounts, table mass is conserved per depth " +
      "row, estimates match a naive sketch replay, partition-invariant") {
    import spark.implicits._
    val rnd = new scala.util.Random(13)
    val vals = (0 until 1000).map(_ => s"k${rnd.nextInt(40)}")
    val (width, depth) = (16, 4)
    val df = vals.toDF("v")
    val table = Sketches.countMinTable(df, "v", width, depth)
      .as[(Int, Long, Long)].collect()
    // every depth row holds the full stream mass
    table.groupBy(_._1).foreach { case (d, rows) =>
      assert(rows.map(_._3).sum === 1000L, s"depth $d mass") }
    // naive replay with the same portable hash
    def bucket(d: Int, v: String): Long = {
      val md = java.security.MessageDigest.getInstance("MD5")
        .digest(s"0:$d:$v".getBytes("UTF-8"))
      java.lang.Long.parseLong(
        md.take(4).map(b => f"$b%02x").mkString, 16) % width
    }
    val naiveTable = (for { v <- vals; d <- 0 until depth }
      yield (d, bucket(d, v))).groupBy(identity)
      .map { case (k, g) => k -> g.size.toLong }
    assert(table.map(t => (t._1, t._2) -> t._3).toMap === naiveTable)
    for (parts <- Seq(1, 7)) {
      val est = Sketches.countMinEstimates(
          df.repartition(parts), "v", width, depth)
        .as[(String, Long, Long, Long)].collect()
      assert(est.length === vals.distinct.size)
      est.foreach { case (item, exact, e, over) =>
        assert(exact === vals.count(_ == item).toLong)
        assert(e >= exact, s"$item undercounted") // the CM guarantee
        assert(over === e - exact)
        val naiveEst = (0 until depth)
          .map(d => naiveTable((d, bucket(d, item)))).min
        assert(e === naiveEst, s"$item estimate")
      }
    }
  }
}
