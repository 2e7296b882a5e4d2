package graft

import java.sql.Timestamp
import org.apache.spark.sql.Row
import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.operators.Training

/** Training-data assembly: point-in-time correctness (no feature
  * leakage) and trailing-window feature materialization. */
class TrainingSpec extends AnyFunSuite with SparkSuite {
  import spark.implicits._

  private def ts(s: String) = Timestamp.valueOf(s)

  test("pointInTime: latest value at-or-before label ts, never after (leakage)") {
    val history = Seq(
      (1L, ts("2024-01-01 00:00:00"), 10.0),
      (1L, ts("2024-01-05 00:00:00"), 50.0),
      (1L, ts("2024-01-09 00:00:00"), 90.0), // after the label: must NOT leak
      (2L, ts("2024-01-04 00:00:00"), 40.0)
    ).toDF("user_id", "ts", "value")
    val labels = Seq(
      (1L, ts("2024-01-07 00:00:00"), 100L), // between writes → sees 50
      (1L, ts("2024-01-05 00:00:00"), 101L), // exactly at a write → sees it
      (2L, ts("2024-01-01 00:00:00"), 102L), // before any write → null
      (3L, ts("2024-01-05 00:00:00"), 103L)  // unknown entity → null
    ).toDF("user_id", "ts", "label_id")
    val out = Training.pointInTime(labels, history,
        Seq("user_id"), "ts", "value")
      .orderBy("label_id").collect()
    assert(out === Array(
      Row(1L, ts("2024-01-07 00:00:00"), 100L, 50.0),
      Row(1L, ts("2024-01-05 00:00:00"), 101L, 50.0),
      Row(2L, ts("2024-01-01 00:00:00"), 102L, null),
      Row(3L, ts("2024-01-05 00:00:00"), 103L, null)))
  }

  test("pointInTime equals the naive as-of join on random data") {
    val rnd = new scala.util.Random(11)
    def t(d: Int, h: Int) = ts(f"2024-01-${1 + d}%02d $h%02d:00:00")
    val history = (1 to 300).map(_ =>
      (rnd.nextInt(8).toLong, t(rnd.nextInt(28), rnd.nextInt(24)), rnd.nextDouble()))
      .distinct.groupBy(r => (r._1, r._2)).map(_._2.head).toSeq // unique (key, ts)
      .toDF("user_id", "ts", "value")
    val labels = (1 to 100).map(i =>
      (rnd.nextInt(10).toLong, t(rnd.nextInt(28), rnd.nextInt(24)), i.toLong))
      .toDF("user_id", "ts", "label_id")
    val got = Training.pointInTime(labels, history, Seq("user_id"), "ts", "value")
      .select("label_id", "value").as[(Long, Option[Double])].collect().toMap
    // naive: per label, value at the max history ts <= label ts
    val h = history.as[(Long, Timestamp, Double)].collect()
    labels.as[(Long, Timestamp, Long)].collect().foreach { case (u, lts, lid) =>
      val prior = h.filter(e => e._1 == u && !e._2.after(lts))
      val want = if (prior.isEmpty) None else Some(prior.maxBy(_._2.getTime)._3)
      assert(got(lid) === want, s"label $lid")
    }
  }

  test("scd2 intervals reconstruct the snapshot series exactly") {
    val rnd = new scala.util.Random(5)
    val snaps = (0 until 6).flatMap(u => (0 until 20).map(i =>
      (u.toLong, ts(f"2024-01-${1 + i}%02d 00:00:00"), rnd.nextInt(3).toLong)))
      .toDF("user_id", "ts", "tier")
    val hist = graft.operators.ChangeCapture.scd2(
      snaps, Seq("user_id"), "ts", Seq("tier"))
      .as[(Long, Timestamp, Long, Option[Timestamp])].collect()
    // every snapshot's tier must equal the covering interval's tier
    snaps.as[(Long, Timestamp, Long)].collect().foreach { case (u, t0, tier) =>
      val cover = hist.filter(h => h._1 == u && !h._2.after(t0) &&
        h._4.forall(vt => t0.before(vt)))
      assert(cover.length === 1 && cover.head._3 === tier, s"($u, $t0)")
    }
    // intervals per user are disjoint and contiguous
    hist.groupBy(_._1).foreach { case (_, es) =>
      val sorted = es.sortBy(_._2.getTime)
      sorted.sliding(2).foreach {
        case Array(a, b) => assert(a._4.contains(b._2))
        case _ =>
      }
      assert(sorted.last._4.isEmpty)
    }
  }

  test("aggregateFeatures: trailing windows are (asOf - d, asOf]") {
    val events = Seq(
      (1L, ts("2024-01-31 12:00:00"), 1.0), // inside 7d and 30d
      (1L, ts("2024-01-10 00:00:00"), 2.0), // inside 30d only
      (1L, ts("2023-12-01 00:00:00"), 4.0), // outside both
      (1L, ts("2024-02-01 00:00:00"), 8.0), // boundary: inclusive end
      (1L, ts("2024-02-02 00:00:00"), 16.0) // after asOf: excluded
    ).toDF("user_id", "ts", "value")
    val out = Training.aggregateFeatures(events, Seq("user_id"), "ts",
        "value", lit("2024-02-01 00:00:00").cast("timestamp"), Seq(7, 30))
      .collect()
    assert(out === Array(Row(1L, 2L, 9.0, 3L, 11.0)))
  }

  test("pointInTimeFresh nulls features staler than maxAge at label time") {
    val history = Seq(
      (1L, ts("2024-01-05 00:00:00"), 50.0),
      (2L, ts("2024-01-01 00:00:00"), 10.0)
    ).toDF("user_id", "ts", "value")
    val labels = Seq(
      (1L, ts("2024-01-06 12:00:00"), 100L), // 1.5 days old → fresh
      (1L, ts("2024-01-07 00:00:00"), 101L), // exactly 2 days → fresh
      (1L, ts("2024-01-08 00:00:01"), 102L), // beyond horizon → null
      (2L, ts("2024-01-10 00:00:00"), 103L)  // 9 days old → null
    ).toDF("user_id", "ts", "label_id")
    val got = Training.pointInTimeFresh(labels, history,
        Seq("user_id"), "ts", "value", maxAge = "2 days")
      .select("label_id", "value").as[(Long, Option[Double])]
      .collect().toMap
    assert(got === Map(100L -> Some(50.0), 101L -> Some(50.0),
      102L -> None, 103L -> None))
    // a generous horizon reduces to plain pointInTime
    val plain = Training.pointInTime(labels, history,
        Seq("user_id"), "ts", "value")
      .select("label_id", "value").as[(Long, Option[Double])]
      .collect().toMap
    val wide = Training.pointInTimeFresh(labels, history,
        Seq("user_id"), "ts", "value", maxAge = "365 days")
      .select("label_id", "value").as[(Long, Option[Double])]
      .collect().toMap
    assert(wide === plain)
  }

  test("pointInTimeFresh: a newer NULL-valued history row does not refresh " +
      "the staleness clock of an older real write") {
    // user 1: real write at Jan 1, then a null-valued row at Jan 5.
    // last(ignoreNulls) skips the null row, so the carried value is the
    // Jan 1 one — and its AGE must be measured from Jan 1, not Jan 5.
    val history = Seq(
      (1L, ts("2024-01-01 00:00:00"), Some(50.0)),
      (1L, ts("2024-01-05 00:00:00"), None: Option[Double])
    ).toDF("user_id", "ts", "value")
    val labels = Seq(
      (1L, ts("2024-01-02 00:00:00"), 200L), // Jan 1 write is 1d old → fresh
      (1L, ts("2024-01-06 00:00:00"), 201L)  // 5d old → stale, even though
                                             // the null row is only 1d old
    ).toDF("user_id", "ts", "label_id")
    val got = Training.pointInTimeFresh(labels, history,
        Seq("user_id"), "ts", "value", maxAge = "2 days")
      .select("label_id", "value").as[(Long, Option[Double])]
      .collect().toMap
    assert(got === Map(200L -> Some(50.0), 201L -> None))
  }

  test("featureHistogram: bins tile the range, max closes into the top " +
      "bin, constant features collapse to bin 0, stats match naive") {
    import spark.implicits._
    val rnd = new scala.util.Random(5)
    val rows = (0 until 500).map(_ =>
      (rnd.nextDouble() * 40.0 - 10.0, rnd.nextInt(2).toLong))
    val nBins = 8
    val got = Training.featureHistogram(
        rows.toDF("x", "y").repartition(7), "x", "y", nBins)
      .collect()
      .map(r => r.getLong(0) -> ((r.getDouble(1), r.getDouble(2),
        r.getLong(3), r.getLong(4)))).toMap
    val (mn, mx) = (rows.map(_._1).min, rows.map(_._1).max)
    val w = (mx - mn) / nBins
    val naive = rows
      .groupBy { case (x, _) =>
        math.min(math.floor((x - mn) / w).toLong, (nBins - 1).toLong) }
      .map { case (b, g) => b -> ((g.size.toLong, g.map(_._2).sum)) }
    assert(got.keySet === naive.keySet)
    naive.foreach { case (b, (n, pos)) =>
      assert(got(b)._3 === n, s"bin $b count")
      assert(got(b)._4 === pos, s"bin $b label sum")
    }
    // the max value must land in the top bin (closed upper edge)
    assert(got.keySet.max === (nBins - 1).toLong ||
      !naive.contains((nBins - 1).toLong))
    assert(got.values.map(_._3).sum === 500L) // bins partition the data
    // adjacent bins tile: hi(b) == lo(b+1) exactly
    got.keys.toSeq.sorted.sliding(2).foreach {
      case Seq(a, b) if b == a + 1 => assert(got(a)._2 === got(b)._1)
      case _ => ()
    }
    val konst = Training.featureHistogram(
      rows.map { case (_, y) => (3.25, y) }.toDF("x", "y"), "x", "y", nBins)
      .collect()
    assert(konst.length === 1 && konst.head.getLong(0) === 0L)
  }

  test("equiDepthHistogram: bins differ by at most one row, tile the " +
      "rank axis in order, stats match naive; partition-invariant") {
    import spark.implicits._
    val rnd = new scala.util.Random(31)
    // heavy skew: equal-width would collapse; equi-depth must not
    val rows = (0 until 501).map(i =>
      (i.toLong, math.pow(10.0, rnd.nextDouble() * 4), rnd.nextInt(2).toLong))
    val nBins = 8
    for (parts <- Seq(1, 7)) {
      val got = Training.equiDepthHistogram(
          rows.toDF("id", "x", "y").repartition(parts),
          "x", "y", "id", nBins)
        .collect()
        .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2),
          r.getDouble(3), r.getDouble(4)))).toMap
      assert(got.keySet === (0 until nBins).map(_.toLong).toSet)
      val sizes = got.values.map(_._1)
      assert(sizes.max - sizes.min <= 1L, s"parts=$parts sizes $sizes")
      assert(sizes.sum === 501L)
      // naive: sort by (micro value, id), walk the same integer buckets
      val sorted = rows.map { case (id, x, y) =>
        (math.round(x * 1e6), id, y) }.sorted
      val naive = sorted.zipWithIndex
        .groupBy { case (_, i) => i.toLong * nBins / sorted.size }
        .map { case (b, g) => b -> ((g.size.toLong, g.map(_._1._3).sum,
          g.map(_._1._1).min.toDouble / 1e6,
          g.map(_._1._1).max.toDouble / 1e6)) }
      assert(got === naive, s"parts=$parts")
      // bins are ordered on the value axis: hi(b) <= lo(b+1) up to ties
      (0 until nBins - 1).foreach(b =>
        assert(got(b.toLong)._4 <= got((b + 1).toLong)._3 + 1e-12))
    }
  }
}
