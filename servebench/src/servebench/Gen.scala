package servebench

import java.sql.Timestamp

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.core.{FeatureDef, FeatureGroupDef, FeatureType}

/** Seeded input generator. Every value is a pure function of
  * (seed, salt, id) — the hash-per-row style of `graft.tools.GenSf` —
  * so the Spark tables and the reference checker ([[Check]]) derive
  * the same rows independently, in any order, at any parallelism.
  */
object Gen {

  // ---- sizes (fixed; chosen so one run, set-ups included, takes about a minute) ----
  val Entities     = 50000L    // feature-group rows
  val Users        = 3000L     // interaction-store users (10–90 events each)
  val Vectors      = 10000L    // IVF corpus rows
  val Dim          = 64
  val Cells        = 16
  val NProbe       = 6
  val TopK         = 10
  val Segments     = 8
  val PerSegment   = 32        // batch top-K per segment → 256 search queries
  val RangeLimit   = 20
  val RangeWeeks   = 4
  val SpanWeeks    = 24
  val WeekMs       = 7L * 86400000L
  val T0Ms         = 1767571200000L // 2026-01-05 00:00 UTC, a Monday

  // salts
  private val SCtr = 1; private val SScore = 2; private val SSeg = 3
  private val SRec = 4; private val SClicks = 5; private val SOrders = 6
  private val SAct = 7; private val SNEv = 8; private val STs = 9
  private val SType = 10; private val SCenter = 11; private val SNoise = 12

  /** SplitMix64 finalizer. */
  def mix(z0: Long): Long = {
    var z = z0 + 0x9E3779B97F4A7C15L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }

  /** Uniform in [0, 1) from (seed, salt, id). */
  def u(seed: Long, salt: Int, id: Long): Double =
    (mix(mix(seed * 1000003L + salt) ^ id) >>> 11) * (1.0 / (1L << 53))

  // ---- registry ----
  val Pk = Seq("user_id")
  val Profile = FeatureGroupDef("profile", 1, Seq(
    FeatureDef("ctr", FeatureType.FP32, 0.0f),
    FeatureDef("score", FeatureType.FP64, -1.0),
    FeatureDef("segment", FeatureType.Int32, -1),
    FeatureDef("recency", FeatureType.FP32, 999.0f)))
  val Activity = FeatureGroupDef("activity", 2, Seq(
    FeatureDef("clicks_7d", FeatureType.Int64, 0L),
    FeatureDef("orders_30d", FeatureType.Int32, 0)))

  // ---- feature rows ----
  final case class ProfileRow(user_id: Long, ctr: Float, score: Double,
      segment: Int, recency: Float)
  final case class ActivityRow(user_id: Long, clicks_7d: Long, orders_30d: Int)
  final case class IngestRow(user_id: Long, version: Long, ctr: Float,
      score: Double, segment: Int, recency: Float)

  def profile(seed: Long, id: Long): ProfileRow = ProfileRow(id,
    u(seed, SCtr, id).toFloat,
    u(seed, SScore, id) * 10.0 - 5.0,
    (u(seed, SSeg, id) * Segments).toInt,
    (u(seed, SRec, id) * 100.0).toFloat)

  /** ~80% of entities have an activity row; the rest read defaults. */
  def hasActivity(seed: Long, id: Long): Boolean = u(seed, SAct, id) < 0.8

  def activity(seed: Long, id: Long): ActivityRow = {
    val c = u(seed, SClicks, id)
    ActivityRow(id, (c * c * 500.0).toLong, (u(seed, SOrders, id) * 20.0).toInt)
  }

  def profileDf(spark: SparkSession, seed: Long, n: Long = Entities): DataFrame = {
    import spark.implicits._
    spark.range(n).map(id => profile(seed, id)).toDF()
  }

  def activityDf(spark: SparkSession, seed: Long, n: Long = Entities): DataFrame = {
    import spark.implicits._
    spark.range(n).filter(id => hasActivity(seed, id))
      .map(id => activity(seed, id)).toDF()
  }

  // ---- interaction events ----
  final case class Event(user_id: Long, event_id: Long, ts: Timestamp,
      event_type: String)
  val EventTypes = Array("click", "order", "view")

  def eventsOf(seed: Long, user: Long): Int = 10 + (u(seed, SNEv, user) * 80).toInt
  def eventId(user: Long, j: Int): Long = user * 100L + j
  def eventTsMs(seed: Long, eid: Long): Long =
    T0Ms + (u(seed, STs, eid) * SpanWeeks * WeekMs).toLong
  def event(seed: Long, user: Long, j: Int): Event = {
    val eid = eventId(user, j)
    Event(user, eid, new Timestamp(eventTsMs(seed, eid)),
      EventTypes((u(seed, SType, eid) * EventTypes.length).toInt))
  }

  def eventsDf(spark: SparkSession, seed: Long, users: Long = Users): DataFrame = {
    import spark.implicits._
    spark.range(users).flatMap(uid =>
      (0 until eventsOf(seed, uid)).iterator.map(j => event(seed, uid, j))).toDF()
  }

  // ---- embeddings: Cells equal-sized clusters plus per-row noise. The
  // cluster is id mod Cells and the stride IvfIndex.build seeds its
  // centroids with (Vectors / Cells = 625 ≡ 1 mod Cells) meets every
  // cluster once, so cell sizes and recall do not swing with the seed.
  def vector(seed: Long, id: Long): Array[Float] = {
    val c = Math.floorMod(id, Cells.toLong)
    Array.tabulate(Dim) { d =>
      ((u(seed, SCenter, c * Dim + d) * 2 - 1) +
        (u(seed, SNoise, id * Dim + d) * 2 - 1) * 0.6).toFloat
    }
  }

  final case class VecRow(vec_id: Long, embedding: Array[Float])
  final case class QueryRow(query_id: Long, query_embedding: Array[Float])

  def vectorsDf(spark: SparkSession, seed: Long, from: Long, until: Long): DataFrame = {
    import spark.implicits._
    spark.range(from, until).map(id => VecRow(id, vector(seed, id))).toDF()
  }

  def queriesDf(spark: SparkSession, qs: Seq[(Long, Array[Float])]): DataFrame = {
    import spark.implicits._
    qs.map { case (id, v) => QueryRow(id, v) }.toDF()
  }

  /** A query near corpus vector `target`: the vector plus small noise. */
  def queryNear(seed: Long, target: Long, salt: Long): Array[Float] = {
    val v = vector(seed, target)
    Array.tabulate(Dim)(d => v(d) + ((u(seed ^ salt, SNoise, target * Dim + d) * 2 - 1) * 0.2).toFloat)
  }

  // ---- ingest batches: 60% updates, 30% new keys, 10% in-batch repeats ----
  val IngestBatch = 2500
  val IngestNew = 750
  val IngestUpd = 1500
  private val SKey = 30; private val SDup = 31

  def ingestInitialDf(spark: SparkSession, seed: Long): DataFrame = {
    import spark.implicits._
    spark.range(Entities).map { id =>
      val p = profile(seed, id)
      IngestRow(id, 0L, p.ctr, p.score, p.segment, p.recency)
    }.toDF()
  }

  /** Batch `b` (b ≥ 1). Versions are distinct within a batch and grow
    * with `b`, so "latest version per key" has exactly one answer. */
  def ingestBatch(seed: Long, b: Int): IndexedSeq[IngestRow] = {
    val keys = new Array[Long](IngestBatch)
    val live = Entities + (b - 1).toLong * IngestNew
    for (r <- 0 until IngestBatch) {
      val h = b.toLong * IngestBatch + r
      keys(r) =
        if (r < IngestNew) live + r
        else if (r < IngestNew + IngestUpd) (u(seed, SKey, h) * live).toLong
        else keys((u(seed, SDup, h) * r).toInt)
    }
    keys.indices.map { r =>
      val h = b.toLong * IngestBatch + r + (1L << 40)
      val p = profile(seed, h)
      IngestRow(keys(r), b * 100000000L + (r * 7919L + b) % IngestBatch,
        p.ctr, p.score, p.segment, p.recency)
    }
  }

  /** Keys batch `b` creates (its first `IngestNew` rows). */
  def ingestNewKeys(b: Int): Seq[Long] = {
    val live = Entities + (b - 1).toLong * IngestNew
    live until live + IngestNew
  }

  /** Vector id of the embedding that arrives with new key `key`. */
  def ingestVecId(key: Long): Long = Vectors + (key - Entities)

  /** Bounded Zipf rank in [0, n) (alpha 1.1) from a uniform draw — the
    * inverse CDF `GenSf.zipf` uses, so hot users repeat across requests. */
  def zipf(n: Long, uniform: Double, alpha: Double = 1.1): Long = {
    val oneMinusA = 1.0 - alpha
    val span = math.pow(n + 1.0, oneMinusA) - 1.0
    val x = math.pow(1.0 + uniform * span, 1.0 / oneMinusA)
    math.min(math.floor(x).toLong - 1, n - 1)
  }
}
