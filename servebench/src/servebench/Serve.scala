package servebench

import java.sql.Timestamp
import java.util.SplittableRandom
import java.util.concurrent.{ConcurrentLinkedQueue, Executors}
import java.util.concurrent.atomic.AtomicInteger

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.{col, lit}

import graft.operators.{FeatureStore, InteractionStore, IvfIndex}
import graft.sources.Layout

/** `serve`: nproc closed-loop clients issue small online requests, equal
  * thirds of a 2-group stitched feature retrieve, an interaction-store
  * range read and an IVF int8 top-k. Each request touches little data,
  * so planning, job scheduling and the per-lookup scans set latency.
  */
object Serve {

  val WarmupRequests = 100
  // more than any run completes; the request list is drawn up front
  val MaxRequests = 5000
  val QueryPool = 256
  val QueriesPerRequest = 4
  val KeysPerRequest = 100
  val AbsentPerRequest = 10
  val UsersPerRange = 5

  sealed trait Req { def kind: String }
  final case class Retrieve(keys: Seq[Long]) extends Req { def kind = "retrieve" }
  final case class Range(users: Seq[Long], startMs: Long, endMs: Long) extends Req { def kind = "range" }
  final case class TopK(pool: Seq[Int]) extends Req { def kind = "topk" }
  val Kinds = Seq("retrieve", "range", "topk")

  final class Data(val profile: DataFrame, val activity: DataFrame,
      val events: DataFrame, val eventFiles: Long, val ivf: IvfIndex,
      val pool: IndexedSeq[Array[Float]], val exact: IndexedSeq[Seq[Long]])

  def setup(ctx: Ctx): (Data, Seq[Double]) = {
    val evDir = ctx.path("events")
    val ((profile, activity, ivf), secs) = Common.repeatedSetup(ctx) {
      val (p, a) = Common.featureTables(ctx)
      ctx.tr.span("sources.Layout.writeWeekPartitionedEvents")(
        Layout.writeWeekPartitionedEvents(Gen.eventsDf(ctx.spark, ctx.seed), evDir))
      (p, a, Common.ivf(ctx))
    }
    ctx.log("set-up done")
    val events = Layout.readEvents(ctx.spark, evDir)
    val files = events.inputFiles.length.toLong
    val rnd = new SplittableRandom(ctx.seed * 31 + 5)
    val pool = (0 until QueryPool).map(i =>
      Gen.queryNear(ctx.seed, rnd.nextLong(Gen.Vectors), i.toLong))
    val exact = Common.exactTopK(pool, Common.corpus(ctx.seed)).toIndexedSeq
    (new Data(profile, activity, events, files, ivf, pool, exact), secs)
  }

  /** `n` requests in a seeded order with equal thirds of each kind. */
  def requests(seed: Long, n: Int): IndexedSeq[Req] = {
    val rnd = new SplittableRandom(seed)
    val kinds = shuffle(rnd, (0 until n).map(_ % 3))
    kinds.map {
      case 0 =>
        val present = distinct(rnd, KeysPerRequest - AbsentPerRequest, Gen.Entities)
        val absent = distinct(rnd, AbsentPerRequest, Gen.Entities).map(_ + Gen.Entities)
        Retrieve(shuffle(rnd, present ++ absent))
      case 1 =>
        val users = Iterator.continually(Gen.zipf(Gen.Users, rnd.nextDouble()))
          .distinct.take(UsersPerRange).toSeq
        val start = Gen.T0Ms + (rnd.nextDouble() * (Gen.SpanWeeks - Gen.RangeWeeks) * Gen.WeekMs).toLong
        Range(users, start, start + Gen.RangeWeeks * Gen.WeekMs - 1)
      case _ =>
        TopK(distinct(rnd, QueriesPerRequest, QueryPool).map(_.toInt))
    }
  }

  private def distinct(rnd: SplittableRandom, k: Int, n: Long): Seq[Long] =
    Iterator.continually(rnd.nextLong(n)).distinct.take(k).toSeq

  private def shuffle[T](rnd: SplittableRandom, xs: Seq[T]): IndexedSeq[T] = {
    val a = xs.toArray[Any]
    for (i <- a.length - 1 to 1 by -1) {
      val j = rnd.nextInt(i + 1); val t = a(i); a(i) = a(j); a(j) = t
    }
    a.toIndexedSeq.asInstanceOf[IndexedSeq[T]]
  }

  /** Per-request answer facts the layer metrics need. */
  final case class Answer(problems: Seq[String], found: Long = 0, rows: Long = 0,
      queries: Long = 0, recall: Seq[Double] = Nil, filesRead: Long = 0, pairs: Long = 0)

  def exec(ctx: Ctx, d: Data, r: Req): Answer = r match {
    case Retrieve(keys) =>
      val spark = ctx.spark
      import spark.implicits._
      val keysDf = keys.toDF("user_id")
      val rows = ctx.tr.span("operators.FeatureStore.retrieve") {
        val p = FeatureStore.retrieve(keysDf, d.profile, Gen.Pk, Gen.Profile,
          Seq("ctr@DataTypeFP16", "score", "segment"))
        val a = FeatureStore.retrieve(keysDf, d.activity, Gen.Pk, Gen.Activity,
          Seq("clicks_7d", "orders_30d"))
        val s = ctx.tr.span("operators.FeatureStore.stitch")(FeatureStore.stitch(Gen.Pk, Seq(p, a)))
        ctx.collect(s.select("user_id", "ctr__fp16", "score", "segment", "clicks_7d", "orders_30d"))
      }
      val got = rows.map(x => Check.Retrieved(x.getLong(0),
        x.get(1).asInstanceOf[Number].doubleValue, x.getDouble(2), x.getInt(3),
        x.getLong(4), x.getInt(5))).toSeq
      val found = keys.count(_ < Gen.Entities) +
        keys.count(k => k < Gen.Entities && Gen.hasActivity(ctx.seed, k))
      Answer(Check.retrieve(ctx.seed, keys, got), found = found)

    case Range(users, start, end) =>
      var files = 0L
      val rows = ctx.tr.span("operators.InteractionStore.retrieveRange") {
        val df = InteractionStore.retrieveRange(
          d.events.filter(col("user_id").isin(users: _*)),
          lit(new Timestamp(start)), lit(new Timestamp(end)), Gen.RangeLimit)
          .select("user_id", "event_id", "rank")
        val out = ctx.collect(df)
        if (ctx.tr.enabled) files = ctx.filesRead(df)
        out
      }
      val got = rows.map(x => Check.Ranged(x.getLong(0), x.getLong(1), x.getInt(2))).toSeq
      Answer(Check.range(ctx.seed, users, start, end, Gen.RangeLimit, got),
        rows = got.size, filesRead = files)

    case TopK(pool) =>
      val qs = pool.map(i => (i.toLong, d.pool(i)))
      val (got, pairs) = Common.search(ctx, d.ivf, qs)
      val probs = Check.topk(qs.toMap, Gen.vector(ctx.seed, _), Gen.TopK, got)
      val byQ = got.groupBy(_.queryId)
      val recall = pool.map(i => Check.recall(byQ.getOrElse(i.toLong, Nil).map(_.vecId), d.exact(i)))
      Answer(probs, queries = pool.size, recall = recall, pairs = pairs)
  }

  final case class Done(req: Req, start: Long, end: Long,
      answer: Option[Answer], error: Option[Throwable])

  private def runOne(ctx: Ctx, d: Data, id: Long, r: Req): Done = {
    val start = System.nanoTime()
    val res =
      try Right(ctx.tr.request(id, s"serve.${r.kind}")(exec(ctx, d, r)))
      catch { case e: Throwable => Left(e) }
    Done(r, start, System.nanoTime(), res.toOption, res.left.toOption)
  }

  /** `cores` clients take requests from `reqs` in order, back to back,
    * until `reqs` runs out or `untilNs` passes; returns what completed. */
  private def closedLoop(ctx: Ctx, d: Data, reqs: IndexedSeq[Req], firstId: Long,
      untilNs: Long): Seq[Done] = {
    val next = new AtomicInteger
    val done = new ConcurrentLinkedQueue[Done]
    val pool = Executors.newFixedThreadPool(ctx.cores)
    val client: Runnable = () => {
      var i = next.getAndIncrement()
      while (i < reqs.size && System.nanoTime() < untilNs) {
        done.add(runOne(ctx, d, firstId + i, reqs(i)))
        i = next.getAndIncrement()
      }
    }
    (0 until ctx.cores).map(_ => pool.submit(client)).foreach(_.get())
    pool.shutdown()
    done.asScala.toSeq
  }

  def run(ctx: Ctx, seconds: Int): Outcome = {
    val (d, setupS) = setup(ctx)
    ctx.log("reference done")

    // warm-up (untimed): a fixed number of requests, so every run starts
    // measuring at the same JIT progress
    closedLoop(ctx, d, requests(ctx.seed ^ 0x7e57L, WarmupRequests), -1000000L, Long.MaxValue)
    ctx.log("warm-up done")
    Common.settle()

    val t0 = System.nanoTime()
    val done = closedLoop(ctx, d, requests(ctx.seed, MaxRequests), 1L, t0 + seconds * 1000000000L)
    val elapsedS = (done.map(_.end).max - t0) / 1e9
    ctx.log("measured")

    val failed = done.count(x => !x.answer.exists(_.problems.isEmpty))
    done.flatMap(x => x.error.map(e => s"${x.req.kind}: $e") ++
      x.answer.toSeq.flatMap(_.problems.take(3).map(p => s"${x.req.kind}: $p")))
      .take(10).foreach(p => System.err.println(s"[servebench] wrong answer: $p"))

    val lat = Kinds.map(k => k -> done.filter(_.req.kind == k).map(x => Common.ms(x.start, x.end))).toMap
    val p50 = Kinds.map(k => Stats.median(lat(k))).sum / Kinds.size
    val recalls = done.flatMap(_.answer.toSeq.flatMap(_.recall))
    val recall = if (recalls.isEmpty) 0.0 else recalls.sum / recalls.size

    val detail = Kinds.flatMap { k =>
      Seq((s"serve.${k}_p50_ms", Stats.median(lat(k)), s"ms n=${lat(k).size}")) ++
        Stats.tail(lat(k), 0.9).map(v => (s"serve.${k}_p90_ms", v, s"ms n=${lat(k).size}")).toSeq
    } ++ Seq(
      ("serve.topk_recall", recall, s"ratio queries=${recalls.size}"),
      ("serve.error_rate", failed.toDouble / done.size, s"ratio n=${done.size}"),
      ("serve.requests_per_s", done.size / elapsedS, s"1/s clients=${ctx.cores}"))

    def sum(f: Answer => Long, kind: String): Double =
      done.filter(_.req.kind == kind).flatMap(_.answer).map(f).sum.toDouble
    Outcome(done.size, failed, setupS, p50, done.size / elapsedS, recall, detail,
      layer = Map(
        "found_keys" -> sum(_.found, "retrieve"),
        "range_rows" -> sum(_.rows, "range"),
        "range_files_read" -> sum(_.filesRead, "range"),
        "range_files_total" -> d.eventFiles.toDouble * done.count(_.req.kind == "range"),
        "search_queries" -> sum(_.queries, "topk"),
        "search_pairs" -> sum(_.pairs, "topk")))
  }
}
