package servebench

import java.util.SplittableRandom

import scala.collection.mutable

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions.{col, row_number}

import graft.expr.Rpn
import graft.operators.{FeatureStore, Normalize}
import graft.sources.Layout
import graft.streaming.Ingest

/** `ingest_score`: one closed-loop client refreshes features and rescores
  * every entity. Each iteration upserts a batch into the profile table
  * (60% updates, 30% new keys, 10% in-batch repeats of a key), reads 100
  * of its keys back, then runs the scoring DAG over every stored entity —
  * bulk retrieve of both groups, stitch, min-max, an RPN score with
  * `norm_min_max` and `percentile_rank`, top-K per segment, and one
  * batched int8 IVF search seeded by the winners. The table rewrite,
  * executor CPU, shuffle and the expression kernels dominate; planning
  * is a small share, so per-request fixes should not move it.
  */
object IngestScore {

  val Expr = "ctr norm_min_max clicks_7d percentile_rank + recency_mm - score +"
  val RawKeys = 100
  val Features = Seq("ctr", "score", "segment", "recency")
  // payload of one batch row: user_id, version, score (8 B each),
  // ctr, segment, recency (4 B each)
  val RowBytes = 36L
  private val QuerySalt = 0xba7cL

  final case class Iteration(problems: Seq[String], ms: Double, upsertMs: Double,
      rawMs: Double, scoreMs: Double, entities: Long, recall: Double, pairs: Long,
      found: Long)

  def run(ctx: Ctx, seconds: Int): Outcome = {
    val spark = ctx.spark
    import spark.implicits._
    val table = ctx.path("profile")

    val ((activity, ivf), setupS) = Common.repeatedSetup(ctx) {
      Common.rmrf(table)
      ctx.tr.span("streaming.Ingest.upsertBatch")(
        Ingest.upsertBatch(Gen.ingestInitialDf(spark, ctx.seed), table, Gen.Pk, "version"))
      ctx.tr.span("sources.Layout.writeBucketedFeatureTable")(
        Layout.writeBucketedFeatureTable(Gen.activityDf(spark, ctx.seed), "fg_activity", Gen.Pk))
      (spark.table("fg_activity"), Common.ivf(ctx))
    }

    ctx.log("set-up done")
    // reference state: the latest row per key written so far
    val state = mutable.HashMap.empty[Long, Check.Stored]
    def stored(k: Long): Option[Check.Stored] = state.get(k).orElse(
      if (k < Gen.Entities) {
        val p = Gen.profile(ctx.seed, k); Some(Check.Stored(k, p.ctr, p.score, p.segment, p.recency))
      } else None)
    def clicks(k: Long): Double =
      if (k < Gen.Entities && Gen.hasActivity(ctx.seed, k)) Gen.activity(ctx.seed, k).clicks_7d.toDouble
      else 0.0
    val activityRows = (0L until Gen.Entities).count(Gen.hasActivity(ctx.seed, _))
    val corpus = Common.corpus(ctx.seed)
    val rnd = new SplittableRandom(ctx.seed * 17 + 3)
    def query(user: Long): Array[Float] = Gen.queryNear(ctx.seed, user % Gen.Vectors, QuerySalt)

    def iteration(b: Int, req: Long): Iteration = {
      val batch = Gen.ingestBatch(ctx.seed, b)
      val batchDf = batch.toDF()
      batch.groupBy(_.user_id).foreach { case (k, rs) =>
        val r = rs.maxBy(_.version)
        state(k) = Check.Stored(k, r.ctr, r.score, r.segment, r.recency)
      }
      val distinctKeys = batch.map(_.user_id).distinct
      val keys = Iterator.continually(distinctKeys(rnd.nextInt(distinctKeys.size)))
        .distinct.take(RawKeys).toSeq
      val n = (Gen.Entities + b.toLong * Gen.IngestNew).toInt
      val want = Check.expectedTop(n, stored(_).get, clicks, Gen.PerSegment)
      val exact = want.map(_.userId).zip(Common.exactTopK(want.map(w => query(w.userId)), corpus)).toMap

      ctx.tr.request(req, "ingest_score.iteration") {
        val t0 = System.nanoTime()
        ctx.tr.span("streaming.Ingest.upsertBatch")(
          Ingest.upsertBatch(batchDf, table, Gen.Pk, "version"))
        val t1 = System.nanoTime()
        val raw = ctx.tr.span("operators.FeatureStore.retrieve")(ctx.collect(
          FeatureStore.retrieve(keys.toDF("user_id"), spark.read.parquet(table), Gen.Pk,
            Gen.Profile, Features).select("user_id", "ctr", "score", "segment", "recency")))
          .map(x => Check.Stored(x.getLong(0), x.getFloat(1), x.getDouble(2), x.getInt(3),
            x.getFloat(4))).toSeq
        val t2 = System.nanoTime()

        val profile = spark.read.parquet(table)
        val all = profile.select("user_id")
        val p = ctx.stage("operators.FeatureStore.retrieve")(FeatureStore.retrieve(all, profile,
          Gen.Pk, Gen.Profile, Features, broadcastKeys = false))
        val a = ctx.stage("operators.FeatureStore.retrieve")(FeatureStore.retrieve(all, activity,
          Gen.Pk, Gen.Activity, Seq("clicks_7d"), broadcastKeys = false))
        val s = ctx.stage("operators.FeatureStore.stitch")(FeatureStore.stitch(Gen.Pk, Seq(p, a)))
        val nm = ctx.stage("operators.Normalize")(Normalize.minMax(s, "recency", "recency_mm"))
        val r = ctx.stage("expr.Rpn")(Rpn(nm, Expr, "rank_score"))
        val w = Window.partitionBy(col("segment")).orderBy(col("rank_score").desc, col("user_id").asc)
        val top = ctx.tr.span("ingest_score.top_per_segment")(ctx.collect(
          r.withColumn("__r", row_number().over(w)).filter(col("__r") <= Gen.PerSegment)
            .select("user_id", "segment", "rank_score")))
          .map(x => Check.Scored(x.getLong(0), x.getInt(1), x.getDouble(2))).toSeq
        val qs = top.map(t => t.userId -> query(t.userId))
        val (hits, pairs) = Common.search(ctx, ivf, qs)
        val t3 = System.nanoTime()

        val byQ = hits.groupBy(_.queryId)
        val recalls = qs.flatMap { case (q, _) =>
          exact.get(q).map(e => Check.recall(byQ.getOrElse(q, Nil).map(_.vecId), e)) }
        Iteration(
          Check.ingest(stored, keys, raw) ++ Check.batch(want, top) ++
            Check.topk(qs.toMap, Gen.vector(ctx.seed, _), Gen.TopK, hits),
          Common.ms(t0, t3), Common.ms(t0, t1), Common.ms(t1, t2), Common.ms(t2, t3), n,
          if (recalls.isEmpty) 0.0 else recalls.sum / recalls.size, pairs,
          found = RawKeys + n + activityRows)
      }
    }

    iteration(1, -1L) // warm-up, untimed (its batch stays applied)
    ctx.log("warm-up done")
    Common.settle()
    val t0 = System.nanoTime()
    val done = mutable.ArrayBuffer.empty[Either[Throwable, Iteration]]
    while (done.isEmpty || System.nanoTime() - t0 < seconds * 1000000000L) {
      val b = done.size + 2
      done += (try Right(iteration(b, b.toLong)) catch { case e: Throwable => Left(e) })
    }
    ctx.log("measured")

    val ok = done.flatMap(_.toOption).toSeq
    val failed = done.count(_.fold(_ => true, _.problems.nonEmpty))
    done.flatMap(_.fold(e => Seq(e.toString), _.problems.take(3))).take(10)
      .foreach(p => System.err.println(s"[servebench] wrong answer: ingest_score: $p"))
    val ms = ok.map(_.ms)
    // program time only: the reference work between iterations is excluded
    val entitiesPerS = ok.map(_.entities).sum / (ms.sum / 1e3)
    val rowsPerS = ok.size * Gen.IngestBatch / (ok.map(_.upsertMs).sum / 1e3)
    val scorePerS = ok.map(_.entities).sum / (ok.map(_.scoreMs).sum / 1e3)
    Outcome(done.size, failed, setupS, Stats.median(ms), entitiesPerS,
      ok.map(_.recall).sum / math.max(1, ok.size),
      detail = Seq(
        ("ingest_score.iteration_p50_ms", Stats.median(ms), s"ms n=${ms.size}"),
        ("ingest.rows_per_s", rowsPerS, s"1/s batches=${ok.size} rows/batch=${Gen.IngestBatch}"),
        ("ingest.write_p50_ms", Stats.median(ok.map(_.upsertMs)), s"ms n=${ok.size}"),
        ("ingest.read_after_write_p50_ms", Stats.median(ok.map(_.rawMs)), s"ms n=${ok.size}"),
        ("batch_score.rows_per_s", scorePerS, s"1/s entities/pass=${ok.lastOption.map(_.entities).getOrElse(0L)}"),
        ("batch_score.pass_p50_ms", Stats.median(ok.map(_.scoreMs)), s"ms n=${ok.size}"),
        ("ingest_score.topk_recall", ok.map(_.recall).sum / math.max(1, ok.size), "ratio"),
        ("ingest_score.error_rate", failed.toDouble / done.size, s"ratio n=${done.size}")),
      layer = Map(
        "found_keys" -> ok.map(_.found).sum.toDouble,
        "search_queries" -> ok.size.toDouble * Gen.Segments * Gen.PerSegment,
        "search_pairs" -> ok.map(_.pairs).sum.toDouble,
        "batch_bytes" -> ok.size.toDouble * Gen.IngestBatch * RowBytes))
  }
}
