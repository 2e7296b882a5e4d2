package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.operators.{Normalize, Recsys}

/** ACF, empirical-Bayes shrinkage, SNIPS, RFM segments: independent
  * naive reimplementations on randomized fixtures + the statistical
  * invariants (shrinkage direction, self-normalization bounds, bucket
  * ranges). */
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

  test("snips matches naive and is scale-invariant in the weights") {
    val rnd = new scala.util.Random(9)
    val imps = (0 until 3000).map { i =>
      val pos = 1 + rnd.nextInt(5)
      val item = rnd.nextInt(20).toLong
      // clicks decay with position so every position has clicks
      val click = if (rnd.nextInt(pos + 1) == 0) 1L else 0L
      (item, pos, click)
    }
    val df = imps.toDF("item", "pos", "click")
    val got = Recsys.snipsItemCtr(df, "item", "pos", "click")
      .collect().map(r => r.getLong(0) -> r.getAs[Double]("snips_ctr")).toMap
    // naive: same micro-floor staging, driver-side
    val posAgg = imps.groupBy(_._2).map { case (p, xs) =>
      p -> (xs.size.toLong, xs.map(_._3).sum) }
    val (imps1, clicks1) = posAgg(1)
    val naive = imps.groupBy(_._1).flatMap { case (item, xs) =>
      val terms = xs.groupBy(_._2).toSeq.flatMap { case (p, ys) =>
        val (impsP, clicksP) = posAgg(p)
        if (clicksP > 0 && clicks1 > 0) {
          val w = (clicks1.toDouble * impsP.toDouble) /
            (imps1.toDouble * clicksP.toDouble)
          Some((math.floor(ys.map(_._3).sum.toDouble * w * 1e6).toLong,
            math.floor(ys.size.toDouble * w * 1e6).toLong))
        } else None
      }
      val num = terms.map(_._1).sum
      val den = terms.map(_._2).sum
      if (den > 0)
        Some(item ->
          BigDecimal(num.toDouble / den.toDouble)
            .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)
      else None
    }
    assert(got === naive)
    // snips of an item shown only at position 1 equals its raw CTR
    val solo = Seq((99L, 1, 1L), (99L, 1, 0L), (99L, 1, 0L), (99L, 1, 1L))
    val soloOut = Recsys.snipsItemCtr(
      (imps ++ solo).toDF("item", "pos", "click"), "item", "pos", "click")
      .filter(col("item") === 99L).collect().head.getAs[Double]("snips_ctr")
    assert(math.abs(soloOut - 0.5) < 1e-6)
  }

  test("rfm segments: census covers all users, buckets in range") {
    val ev = Tables.events(spark, sf)
    val out = graft.operators.Recsys.rfmSegments(ev).collect()
    val users = ev.select("user_id").distinct().count()
    assert(out.map(_.getAs[Long]("n_users")).sum === users)
    out.foreach { r =>
      Seq("r_bucket", "f_bucket", "m_bucket").foreach { b =>
        val v = r.getAs[Int](b)
        assert(v >= 0 && v <= 4, s"$b=$v")
      }
    }
    // monetary buckets are ordered: higher m_bucket, higher avg value
    val byM = out.groupBy(_.getAs[Int]("m_bucket")).map { case (b, rs) =>
      b -> rs.map(r => r.getAs[Double]("avg_monetary") *
        r.getAs[Long]("n_users")).sum / rs.map(_.getAs[Long]("n_users")).sum
    }.toSeq.sortBy(_._1)
    assert(byM.sliding(2).forall(w =>
      w.length < 2 || w(0)._2 <= w(1)._2), s"m ordering: $byM")
  }

  test("snips is partition-invariant") {
    val ev = Tables.events(spark, sf)
    import org.apache.spark.sql.expressions.Window
    val sess = Window.partitionBy(col("user_id"), col("__day"))
      .orderBy(col("ts").asc, col("event_id").asc)
    def imp(rep: Int) = {
      val base = Tables.events(spark, sf)
        .select(col("user_id"), col("ts"), col("event_id"),
          to_date(col("ts")).as("__day"),
          graft.operators.Recsys.itemOf(col("props")).as("item_id"),
          (col("event_type") === "click").cast("long").as("__click"))
        .filter(col("item_id").isNotNull)
        .withColumn("position", row_number().over(sess))
        .filter(col("position") <= 20)
      if (rep > 0) base.repartition(rep) else base
    }
    val a = Recsys.snipsItemCtr(imp(0), "item_id", "position", "__click")
      .collect().map(r => r.getLong(0) -> r.getAs[Double]("snips_ctr"))
      .sortBy(_._1)
    val b = Recsys.snipsItemCtr(imp(7), "item_id", "position", "__click")
      .collect().map(r => r.getLong(0) -> r.getAs[Double]("snips_ctr"))
      .sortBy(_._1)
    assert(a.sameElements(b))
  }
}
