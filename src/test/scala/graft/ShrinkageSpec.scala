package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.operators.Normalize

/** ACF and empirical-Bayes shrinkage: independent naive
  * reimplementations on randomized fixtures + the statistical
  * invariants (shrinkage direction, periodicity). */
class ShrinkageSpec extends AnyFunSuite with SparkSuite {
  import spark.implicits._

  test("acfByKey matches a naive driver-side ACF") {
    val rnd = new scala.util.Random(3)
    val series = (0 until 50).map(t => ("a", t.toLong,
      (10 + rnd.nextInt(20)).toLong)) ++
      (0 until 30).map(t => ("b", t.toLong, (t % 5 + 1).toLong))
    val df = series.toDF("k", "t", "x")
    val got = Normalize.acfByKey(df, "k", "t", "x", maxLag = 3)
      .collect()
      .map(r => (r.getString(0), r.getInt(1)) ->
        (r.getLong(2), r.getDouble(3))).toMap
    for (key <- Seq("a", "b"); lag <- 1 to 3) {
      val xs = series.filter(_._1 == key).sortBy(_._2).map(_._3.toDouble)
      val mu = xs.sum / xs.length
      val den = xs.map(v => (v - mu) * (v - mu)).sum
      val num = xs.dropRight(lag).zip(xs.drop(lag))
        .map { case (a, b) => (a - mu) * (b - mu) }.sum
      val (nPairs, acf) = got((key, lag))
      assert(nPairs === (xs.length - lag).toLong)
      assert(math.abs(acf - num / den) < 1e-9,
        s"$key lag $lag: $acf vs ${num / den}")
    }
  }

  test("acf of a strictly periodic series peaks at its period") {
    val df = (0 until 60).map(t => ("p", t.toLong, (t % 4).toLong + 1))
      .toDF("k", "t", "x")
    val acf = Normalize.acfByKey(df, "k", "t", "x", maxLag = 4)
      .collect().map(r => r.getInt(1) -> r.getDouble(3)).toMap
    assert(acf(4) > 0.9, s"period-4 series must autocorrelate at lag 4: $acf")
    assert(acf(4) > acf(1) && acf(4) > acf(3))
  }

  test("empirical-Bayes rates shrink toward the population mean") {
    val rnd = new scala.util.Random(5)
    val counts = (1 to 200).map { i =>
      val n = 1 + rnd.nextInt(50)
      val c = rnd.nextInt(n + 1)
      (i.toLong, c.toLong, (n - c).toLong)
    }
    val out = Normalize.empiricalBayesRate(
      counts.toDF("k", "s", "f"), "k", "s", "f").collect()
    val alpha = out.head.getAs[Double]("prior_alpha")
    val beta = out.head.getAs[Double]("prior_beta")
    assert(alpha > 0 && beta > 0)
    val m = alpha / (alpha + beta)
    out.foreach { r =>
      val raw = r.getAs[Long]("raw_rate_micro").toDouble / 1e6
      val sm = r.getAs[Double]("smoothed_rate")
      val n = r.getAs[Long]("n_succ") + r.getAs[Long]("n_fail")
      // posterior mean lies strictly between raw rate and prior mean
      // (within rounding) and the shrinkage weight matches n/(n+α+β)
      val expect = (r.getAs[Long]("n_succ") + alpha) / (n + alpha + beta)
      assert(math.abs(sm - expect) < 1e-5)
      assert(sm >= math.min(raw, m) - 1e-5 && sm <= math.max(raw, m) + 1e-5)
    }
  }
}
