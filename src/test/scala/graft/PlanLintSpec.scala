package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Automated scale-guards over the whole query surface: every declared
  * query must plan and execute at sf0.001, and no plan may fall back
  * to a non-broadcast cartesian product (the unbounded-shuffle shape
  * that dies at 100 TB; intentional small-side cross joins compile to
  * BroadcastNestedLoopJoin instead). */
class PlanLintSpec extends AnyFunSuite with SparkSuite {

  test("all queries execute at sf0.001 with no cartesian product and " +
      "no unreviewed unbounded nested-loop join in the FINAL plan") {
    val dir = "/root/testdata/sf0.001"
    // same reviewed `!bnlj` allowances the sf0.1 audit uses
    val baseline = PlanAudit.readBaseline(
      java.nio.file.Paths.get(PlanAudit.BaselineFile))
    // The 294 queries are independent jobs on a shared session: run
    // them from a small thread pool (guide §2.6 — actions are only
    // sequential because the driver calls them sequentially) so the
    // next query's tiny sf0.001 jobs back-fill the executor threads
    // the previous query's tail leaves idle. Sequential, this single
    // test was ~4.6 min of the whole suite's wall — the r17 driver
    // could not witness `sbt test` green inside its window.
    val failures = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val pool = java.util.concurrent.Executors.newFixedThreadPool(8)
    try {
      SparkEntry.queries.toSeq.map { case (name, fn) =>
        pool.submit(new Runnable {
          def run(): Unit =
            try {
              PlanAudit.hazard(name, PlanAudit.finalShape(fn(spark, dir)), baseline)
                .foreach(h => failures.add(s"$name: $h"))
            } catch {
              case e: Throwable => failures.add(s"$name: ${e.getMessage}")
            }
        })
      }.foreach(_.get())
    } finally pool.shutdown()
    // lead with the count: when testdata drift breaks a batch of
    // queries at once, the headline number is the signal
    import scala.jdk.CollectionConverters._
    assert(failures.isEmpty,
      s"${failures.size}/${SparkEntry.queries.size} queries failed lint:\n" +
        failures.asScala.mkString("\n"))
  }

  test("audit: full-outer 1x1 BNLJ is NOT bounded; explicit top-N is") {
    import spark.implicits._
    val n = (1L to 100L).toDF("v")
    // inner 1x1 (the stacked global-stat shape): bounded, as before
    val a = n.agg(sum($"v").as("s"))
    val innerShape = PlanAudit.finalShape(a.crossJoin(
      broadcast(n.agg(count(lit(1)).as("c")))))
    assert(innerShape.unboundedBnlj === 0)
    // FULL OUTER 1x1 with a non-matching condition emits TWO rows, so
    // the one-row proof must refuse it when that result is used as a
    // build side further up (ADVICE r8 soundness fix). The outer join
    // itself still audits ok — its own build side IS one row.
    val fo = a.join(broadcast(n.agg(max($"v").as("m"))),
      $"s" < $"m", "full_outer")
    assert(fo.count() === 2L) // proof the 2-row case is real
    val foAsBuild = n.crossJoin(broadcast(
      a.join(broadcast(n.agg(max($"v").as("m"))), $"s" < $"m",
        "full_outer")))
    // previously atMostOneRow claimed the outer 1x1 build side was one
    // row; now only inner/cross qualify, so this counts as unbounded
    assert(PlanAudit.finalShape(foAsBuild).unboundedBnlj >= 1)
    // an orderBy().limit(N) build side is explicitly bounded: the
    // pairwise-join-over-TakeOrdered convention needs no allowance
    val top = n.orderBy($"v".desc).limit(10)
    val pairs = top.as("a").join(
      top.select($"v".as("v2")).as("b"), $"v" < $"v2")
    assert(PlanAudit.finalShape(pairs).unboundedBnlj === 0)
    assert(pairs.count() === 45L)
  }

  test("every oracle key names a query; every query has an oracle") {
    val qs = SparkEntry.queries.keySet
    val os = SparkEntry.oracleSql.keySet
    assert((os -- qs).isEmpty,
      s"oracles without queries: ${(os -- qs).mkString(", ")}")
    // round 7 closed the last two gaps (q139 via the materialized
    // learned rotation, q150 via pinned CPython-zlib deflate sizes)
    assert((qs -- os).isEmpty,
      s"queries without oracles: ${(qs -- os).mkString(", ")}")
  }

  test("oracleSqlFor: pinned dirs get their per-sf oracle, unpinned " +
      "dirs OMIT q139/q150 (skip, never a false mismatch)") {
    val pinned = Set("q139_ann_opq_rotated", "q150_compression_ratio")
    for (d <- Seq("/root/testdata/sf0.001", "/root/testdata/sf0.01",
        "/root/testdata/sf0.1", "/root/testdata/sf0.1/")) {
      val m = SparkEntry.oracleSqlFor(d)
      assert(pinned.subsetOf(m.keySet), s"pins missing for $d")
    }
    // per-sf pins differ (the whole point of forDir)
    assert(SparkEntry.oracleSqlFor("/root/testdata/sf0.01")("q139_ann_opq_rotated")
      !== SparkEntry.oracleSqlFor("/root/testdata/sf0.1")("q139_ann_opq_rotated"))
    // unpinned: exact-basename match means sf1, renamed copies, and
    // substring traps like sf0.10 all read as "no pin here"
    for (d <- Seq("benchdata/sf1", "/data/sf0.10", "/copy/of/sf0.01x")) {
      val m = SparkEntry.oracleSqlFor(d)
      assert((pinned & m.keySet).isEmpty, s"false pin for $d")
      // everything else is untouched
      assert(m.keySet === SparkEntry.oracleSql.keySet -- pinned)
    }
  }

  test("systematicByWeight is invariant to input partitioning") {
    import spark.implicits._
    val df = Tables.orders(spark, sf)
      .select($"o_orderkey", $"o_totalprice")
    val a = graft.operators.Sampling
      .systematicByWeight(df, "o_orderkey", "o_totalprice", n = 20)
      .select("o_orderkey").as[Long].collect().toSet
    val b = graft.operators.Sampling
      .systematicByWeight(df.repartition(7, $"o_totalprice"),
        "o_orderkey", "o_totalprice", n = 20)
      .select("o_orderkey").as[Long].collect().toSet
    assert(a === b)
    assert(a.size >= 18 && a.size <= 20)
  }
}
