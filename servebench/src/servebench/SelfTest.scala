package servebench

import graft.GraftSession

/** The benchmark's own tests: input determinism, that the checker
  * rejects wrong answers, and the tail-percentile sample rule.
  * Run with `python3 servebench/test.py`; exits non-zero on failure. */
object SelfTest {

  private var failures = 0

  private def check(name: String)(cond: => Boolean): Unit = {
    val ok = try cond catch { case e: Throwable => System.err.println(e); false }
    println(s"${if (ok) "ok  " else "FAIL"} $name")
    if (!ok) failures += 1
  }

  def main(args: Array[String]): Unit = {
    generator()
    checker()
    tails()
    if (failures > 0) { println(s"$failures failed"); sys.exit(1) }
    println("all passed")
  }

  def generator(): Unit = {
    def inputs(seed: Long) = (
      (0L until 50L).map(Gen.profile(seed, _)),
      (0L until 50L).map(Gen.activity(seed, _)),
      (0 until 20).map(Gen.event(seed, 7L, _)),
      (0L until 5L).map(Gen.vector(seed, _).toSeq),
      Gen.ingestBatch(seed, 3),
      Serve.requests(seed, 30))
    check("same seed, same generated inputs")(inputs(11) == inputs(11))
    val (a, b) = (inputs(11), inputs(12))
    check("another seed changes every input kind")(
      a._1 != b._1 && a._2 != b._2 && a._3 != b._3 && a._4 != b._4 && a._5 != b._5 && a._6 != b._6)

    val spark = GraftSession.builder("servebench-test", "2")
      .config("spark.sql.warehouse.dir", "target/selftest-warehouse").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    try {
      def table(seed: Long) = Gen.profileDf(spark, seed, 2000).collect().toSeq.map(_.toString).sorted
      check("same seed, same Spark table")(table(5) == table(5))
      check("another seed, another Spark table")(table(5) != table(6))
      val rows = Gen.profileDf(spark, 5, 2000).collect()
        .map(r => Gen.ProfileRow(r.getLong(0), r.getFloat(1), r.getDouble(2), r.getInt(3), r.getFloat(4)))
      check("Spark table rows equal the pure per-id functions")(
        rows.forall(r => r == Gen.profile(5, r.user_id)))
    } finally spark.stop()
  }

  def checker(): Unit = {
    val seed = 3L
    val keys = Seq(1L, 2L, 3L, Gen.Entities + 9)
    val good = keys.map(k => Check.expectedRetrieved(seed, k))
    check("retrieve: correct answer passes")(Check.retrieve(seed, keys, good).isEmpty)
    val badDefault = good.map(r => if (r.userId >= Gen.Entities) r.copy(score = 0.0) else r)
    check("retrieve: a mutated default is flagged")(Check.retrieve(seed, keys, badDefault).nonEmpty)
    check("retrieve: a dropped row is flagged")(Check.retrieve(seed, keys, good.tail).nonEmpty)
    val offFp16 = good.map(r => r.copy(ctrFp16 = r.ctrFp16 + 0.01))
    check("retrieve: an FP16 value beyond half precision is flagged")(
      Check.retrieve(seed, keys, offFp16).nonEmpty)

    val users = Seq(5L, 9L)
    val (start, end) = (Gen.T0Ms, Gen.T0Ms + 8 * Gen.WeekMs)
    val range = Check.expectedRange(seed, users, start, end, Gen.RangeLimit)
    check("range: correct answer passes")(
      range.nonEmpty && Check.range(seed, users, start, end, Gen.RangeLimit, range).isEmpty)
    check("range: a dropped row is flagged")(
      Check.range(seed, users, start, end, Gen.RangeLimit, range.init).nonEmpty)
    val swapped = range.take(2).reverse.zip(range.take(2)).map { case (a, b) => a.copy(rank = b.rank) } ++ range.drop(2)
    check("range: newest-first order is enforced")(
      Check.range(seed, users, start, end, Gen.RangeLimit, swapped).nonEmpty)

    val q = Map(1L -> Gen.queryNear(seed, 4, 1))
    val corpus = Common.corpus(seed, 2000)
    val ids = Check.bruteForce(q(1L), corpus, Gen.TopK)
    val hits = ids.toSeq.zipWithIndex.map { case (v, i) =>
      Check.Hit(1L, v.toLong, Check.int8Score(q(1L), corpus(v)), i + 1) }.sortBy(-_.score)
      .zipWithIndex.map { case (h, i) => h.copy(rank = i + 1) }
    check("top-k: consistent answer passes")(Check.topk(q, v => corpus(v.toInt), Gen.TopK, hits).isEmpty)
    check("top-k: a wrong score is flagged")(Check.topk(q, v => corpus(v.toInt), Gen.TopK,
      hits.updated(3, hits(3).copy(score = hits(3).score + 1))).nonEmpty)
    check("top-k: a dropped row is flagged")(
      Check.topk(q, v => corpus(v.toInt), Gen.TopK, hits.init).nonEmpty)
    check("recall: exact answer scores 1, half of it 0.5")(
      Check.recall(ids.map(_.toLong).toSeq, ids.map(_.toLong).toSeq) == 1.0 &&
        Check.recall(ids.take(5).map(_.toLong).toSeq, ids.map(_.toLong).toSeq) == 0.5)

    val want = Check.expectedTop(3000, k => {
      val p = Gen.profile(seed, k); Check.Stored(k, p.ctr, p.score, p.segment, p.recency)
    }, k => Gen.activity(seed, k).clicks_7d.toDouble, 4)
    check("batch: correct answer passes")(Check.batch(want, want).isEmpty)
    check("batch: a perturbed score fails the checksum")(
      Check.batch(want, want.updated(0, want(0).copy(score = want(0).score + 1e-3))).nonEmpty)
    check("batch: a dropped row is flagged")(Check.batch(want, want.tail).nonEmpty)

    val stored = Map(1L -> Check.Stored(1L, 0.5f, 1.0, 2, 3.0f), 2L -> Check.Stored(2L, 0.25f, 2.0, 1, 4.0f))
    check("ingest: latest versions pass")(Check.ingest(stored.get, Seq(1L, 2L), stored.values.toSeq).isEmpty)
    check("ingest: a stale version is flagged")(Check.ingest(stored.get, Seq(1L, 2L),
      Seq(stored(1L), stored(2L).copy(score = 1.5))).nonEmpty)
    val batch = Gen.ingestBatch(seed, 2)
    check("ingest batch: repeated keys carry distinct versions")(
      batch.groupBy(_.user_id).exists(_._2.size > 1) &&
        batch.groupBy(_.user_id).forall { case (_, rs) => rs.map(_.version).distinct.size == rs.size })
  }

  def tails(): Unit = {
    val xs = (1 to 99).map(_.toDouble)
    check("p90 of 99 samples is withheld (9 beyond it)")(Stats.tail(xs, 0.9).isEmpty)
    check("p90 of 100 samples is emitted (10 beyond it)")(
      Stats.tail((1 to 100).map(_.toDouble), 0.9).contains(90.0))
    check("p99 needs 1000 samples")(
      Stats.tail((1 to 999).map(_.toDouble), 0.99).isEmpty &&
        Stats.tail((1 to 1000).map(_.toDouble), 0.99).isDefined)
    check("median of an even sample averages the middle pair")(Stats.median(Seq(1.0, 2.0, 3.0, 4.0)) == 2.5)
  }
}
