package graft

import java.nio.file.Files
import java.sql.Timestamp
import java.util.concurrent.{CountDownLatch, Executors, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.{InteractionStore, RangeTier}
import graft.sources.Layout

/** The interaction store's driver-side range tier: every time-range
  * read it answers equals the scan path's answer over the same rows
  * behind `.localCheckpoint()` (rows, schema, nullability), it falls
  * back where documented, and it caches one snapshot per events table.
  * Events are local data and week-partitioned `Layout` files. */
class RangeTierSpec extends AnyFunSuite with SparkSuite {

  private val Base = Timestamp.valueOf("2024-01-01 00:00:00").getTime
  private val HalfDay = 12 * 3600 * 1000L

  /** The `i`-th 12-hour mark after 2024-01-01. */
  private def mark(i: Int): Timestamp = new Timestamp(Base + i * HalfDay)

  private val schema = StructType(Seq(
    StructField("user_id", LongType), StructField("event_id", LongType),
    StructField("ts", TimestampType), StructField("event_type", StringType),
    StructField("value", DoubleType, nullable = false)))

  /** Users 1-14 and a null user over 70 12-hour marks (five weeks), so
    * timestamps tie often; about one `ts` and one `event_id` in 25 is
    * null. User 1 holds over 2,000 events with a `ts`, more than
    * `MaxRetrieveLimit`. (user, ts, event_id) is unique: on a full tie
    * the scan path's own order is unspecified. */
  private def rows(seed: Int): Seq[Row] = {
    val rnd = new scala.util.Random(seed)
    val users = (1L to 14L).map(java.lang.Long.valueOf) :+ null
    users.flatMap { u =>
      val n = if (u == 1L) 2400 else 3 + rnd.nextInt(30)
      (0 until n).map { i =>
        Row(u, if (rnd.nextInt(25) == 0) null else rnd.nextInt(100000).toLong,
          if (rnd.nextInt(25) == 0) null else mark(rnd.nextInt(70)),
          Seq("click", "order", "view")(rnd.nextInt(3)), i.toDouble)
      }
    }.distinctBy(r => (r.get(0), r.get(2), r.get(1)))
  }

  private def local(seed: Int): DataFrame = spark.createDataFrame(rows(seed).asJava, schema)

  private def weekFiles(seed: Int, path: String): DataFrame = {
    Layout.writeWeekPartitionedEvents(local(seed), path)
    Layout.readEvents(spark, path)
  }

  private def tempPath(): String = Files.createTempDirectory("graft-range-tier").toString + "/ev"

  private lazy val localEvents = local(1)
  private lazy val fileEvents = weekFiles(1, tempPath())

  private def users(ids: Any*): Column = col("user_id").isin(ids: _*)

  private def isLocal(df: DataFrame): Boolean =
    df.queryExecution.optimizedPlan.isInstanceOf[LocalRelation]

  private def rowsOf(df: DataFrame): Seq[String] = df.collect().map(_.toString).sorted.toSeq

  private def range(start: Timestamp, end: Timestamp, limit: Int, types: Seq[String] = Nil)(
      events: DataFrame): DataFrame =
    InteractionStore.retrieveRange(events, lit(start), lit(end), limit, types)

  /** `run(events)` and `run` over the same rows behind a checkpoint: the
    * first must take the tier, the second the scan path, and both must
    * agree on schema (nullability included) and rows. Returns the tier's
    * answer. */
  private def assertSamePaths(events: DataFrame)(run: DataFrame => DataFrame): DataFrame = {
    val viaTier = run(events)
    val viaScan = run(events.localCheckpoint())
    assert(isLocal(viaTier), s"tier not taken:\n${viaTier.queryExecution.optimizedPlan}")
    assert(!isLocal(viaScan))
    assert(viaTier.schema === viaScan.schema)
    assert(rowsOf(viaTier) === rowsOf(viaScan))
    viaTier
  }

  private def bothSources(check: DataFrame => Unit): Unit = {
    check(localEvents)
    check(fileEvents)
  }

  test("ties, null ts and event_id, and bounds equal to an event's ts agree across paths") {
    bothSources { ev =>
      for (limit <- Seq(1, 3, 40)) {
        val got = assertSamePaths(ev.filter(users(1L, 2L, 3L, 4L)))(range(mark(10), mark(50), limit))
        assert(got.count() > 0)
      }
      // both bounds are inclusive: user 1 has events at every mark
      val all = range(mark(10), mark(50), 5000)(ev.filter(users(1L)))
      val seen = all.select("ts").collect().map(_.getTimestamp(0)).toSet
      assert(seen(mark(10)) && seen(mark(50)) && !seen(mark(51)) && !seen(mark(9)))
    }
  }

  test("a limit above a user's count and above MaxRetrieveLimit agree across paths") {
    bothSources { ev =>
      val got = assertSamePaths(ev.filter(users(1L, 5L)))(range(mark(0), mark(69), 100000))
      val perUser = got.groupBy("user_id").count().collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(perUser(1L) === InteractionStore.MaxRetrieveLimit)
      assert(perUser(5L) > 0 && perUser(5L) < 40)
    }
  }

  test("types and extra caller conjuncts agree across paths") {
    bothSources { ev =>
      assertSamePaths(ev.filter(users(1L, 2L, 6L)))(range(mark(5), mark(60), 25, Seq("click", "view")))
      assertSamePaths(ev.filter(users(1L, 2L, 6L) && col("event_type") =!= "order" &&
        col("value") > 3.0))(range(mark(5), mark(60), 25))
    }
    // a predicate on the week partition column of the files
    assertSamePaths(fileEvents.filter(users(1L, 3L)).filter(col("week") >= lit("2024-01-15").cast("date")))(
      range(mark(0), mark(69), 30))
  }

  test("another tie-break column over the same table gets its own snapshot") {
    // `value` is unique per user, so the (user, ts, value) order is total
    bothSources { ev =>
      val byValue = (e: DataFrame) =>
        InteractionStore.retrieveRange(e, lit(mark(0)), lit(mark(69)), 6, tieBreak = "value")
      assertSamePaths(ev.filter(users(1L, 2L)))(range(mark(0), mark(69), 6))
      assertSamePaths(ev.filter(users(1L, 2L)))(byValue)
    }
  }

  test("more than 10 users, null and absent users, and one user agree across paths") {
    bothSources { ev =>
      val many = assertSamePaths(ev.filter(users((1L to 12L) ++ Seq(null, 99L): _*)))(
        range(mark(0), mark(69), 7))
      assert(many.select("user_id").distinct().count() === 12)
      assertSamePaths(ev.filter(col("user_id") === 7L))(range(mark(0), mark(69), 10))
      assertSamePaths(ev.filter(lit(7L) === col("user_id")))(range(mark(0), mark(69), 10))
      assert(range(mark(0), mark(69), 10)(ev.filter(users(99L))).count() === 0)
    }
  }

  test("a warm range read launches no Spark job") {
    def request(): Seq[String] =
      rowsOf(range(mark(10), mark(40), 20)(fileEvents.filter(users(1L, 2L, 3L)))
        .select("user_id", "event_id", "rank"))
    val group = "range-tier-zero-jobs"
    val barrierGroup = "range-tier-barrier"
    val jobs = new AtomicInteger
    val barrier = new CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).map(_.getProperty("spark.jobGroup.id")) match {
          case Some(`group`) => jobs.incrementAndGet()
          case Some(`barrierGroup`) => barrier.countDown()
          case _ => ()
        }
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      val cold = request()
      spark.sparkContext.setJobGroup(group, "warm range")
      val warm = request()
      // a listener sees events in posting order: once this later job's
      // start arrives, every job start of the warm request has too
      spark.sparkContext.setJobGroup(barrierGroup, "listener barrier")
      spark.sparkContext.parallelize(Seq(1), 1).count()
      assert(barrier.await(60, TimeUnit.SECONDS))
      assert(jobs.get() === 0)
      assert(warm === cold && warm.nonEmpty)
    } finally {
      spark.sparkContext.clearJobGroup()
      spark.sparkContext.removeSparkListener(listener)
    }
  }

  test("concurrent callers with different user sets build one snapshot per table") {
    val ev = weekFiles(3, tempPath())
    val sets = Seq(Seq(1L, 2L), Seq(3L), Seq(4L, 5L, 6L), Seq(2L, 9L))
    val expected = sets.map(s => rowsOf(range(mark(0), mark(69), 15)(ev.filter(users(s: _*)).localCheckpoint())))
    val (b0, h0) = (RangeTier.cache.builds, RangeTier.cache.hits)
    val pool = Executors.newFixedThreadPool(4)
    val start = new CountDownLatch(1)
    try {
      val results = sets.map { s =>
        pool.submit(() => {
          start.await()
          rowsOf(range(mark(0), mark(69), 15)(ev.filter(users(s: _*))))
        })
      }
      start.countDown()
      results.zip(expected).foreach { case (f, want) => assert(f.get(60, TimeUnit.SECONDS) === want) }
    } finally pool.shutdown()
    assert(RangeTier.cache.builds === b0 + 1)
    assert(RangeTier.cache.hits === h0 + 3)
  }

  test("a rewritten events directory yields a fresh answer") {
    val path = tempPath()
    val read = range(mark(0), mark(69), 50) _
    val first = rowsOf(read(weekFiles(1, path).filter(users(2L, 3L))))
    val b0 = RangeTier.cache.builds
    val second = assertSamePaths(weekFiles(2, path).filter(users(2L, 3L)))(read)
    assert(RangeTier.cache.builds === b0 + 1)
    assert(rowsOf(second) !== first)
  }

  test("no user filter, non-foldable bounds, a large table and a nondeterministic filter take the scan path") {
    def scan(events: DataFrame, run: DataFrame => DataFrame): Unit = {
      val got = run(events)
      assert(!isLocal(got), s"tier taken:\n${got.queryExecution.optimizedPlan}")
      assert(rowsOf(got) === rowsOf(run(events.localCheckpoint())))
    }
    bothSources { ev =>
      scan(ev, range(mark(10), mark(20), 5))
      scan(ev.filter(users(1L, 2L)), e =>
        InteractionStore.retrieveRange(e, col("ts") - expr("INTERVAL 1 DAY"), lit(mark(30)), 5))
      scan(ev.filter(users(1L, 2L) && rand() >= 0.0), range(mark(10), mark(40), 5))
      val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
      try {
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "100")
        scan(ev.filter(users(1L, 2L)), range(mark(10), mark(40), 5))
      } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
    }
  }
}
