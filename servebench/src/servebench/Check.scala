package servebench

/** Independent reference for every answer the benchmark receives. It
  * derives expected results from [[Gen]]'s pure per-id functions — never
  * from the engine — and returns the list of problems (empty = correct).
  */
object Check {

  // ---- FeatureStore.retrieve (stitched profile + activity) ----

  /** One stitched answer row: `ctr` comes back through an FP16 projection. */
  final case class Retrieved(userId: Long, ctrFp16: Double, score: Double,
      segment: Int, clicks7d: Long, orders30d: Int)

  /** |got − want| within half-precision rounding of `want`. */
  def fp16Close(got: Double, want: Double): Boolean =
    math.abs(got - want) <= math.max(math.abs(want) * math.pow(2, -11), math.pow(2, -25)) + 1e-12

  def expectedRetrieved(seed: Long, id: Long): Retrieved = {
    val (ctr, score, segment) =
      if (id >= 0 && id < Gen.Entities) { val p = Gen.profile(seed, id); (p.ctr.toDouble, p.score, p.segment) }
      else (0.0, -1.0, -1)
    val (clicks, orders) =
      if (id >= 0 && id < Gen.Entities && Gen.hasActivity(seed, id)) {
        val a = Gen.activity(seed, id); (a.clicks_7d, a.orders_30d)
      } else (0L, 0)
    Retrieved(id, ctr, score, segment, clicks, orders)
  }

  def retrieve(seed: Long, keys: Seq[Long], got: Seq[Retrieved]): Seq[String] = {
    val byKey = got.groupBy(_.userId)
    val missing = keys.filterNot(byKey.contains).map(k => s"key $k missing")
    val extra = byKey.keys.filterNot(keys.toSet).map(k => s"unrequested key $k").toSeq
    val dup = byKey.collect { case (k, rs) if rs.size > 1 => s"key $k returned ${rs.size} times" }
    val wrong = got.flatMap { r =>
      val w = expectedRetrieved(seed, r.userId)
      if (fp16Close(r.ctrFp16, w.ctrFp16) && r.copy(ctrFp16 = w.ctrFp16) == w) None
      else Some(s"key ${r.userId}: got $r want $w")
    }
    missing ++ extra ++ dup ++ wrong
  }

  // ---- InteractionStore.retrieveRange ----

  final case class Ranged(userId: Long, eventId: Long, rank: Int)

  def expectedRange(seed: Long, users: Seq[Long], startMs: Long, endMs: Long,
      limit: Int): Seq[Ranged] =
    users.flatMap { uid =>
      (0 until Gen.eventsOf(seed, uid))
        .map(j => Gen.eventId(uid, j))
        .map(eid => (eid, Gen.eventTsMs(seed, eid)))
        .filter { case (_, ts) => ts >= startMs && ts <= endMs }
        .sortBy { case (eid, ts) => (-ts, eid) }
        .take(limit)
        .zipWithIndex.map { case ((eid, _), i) => Ranged(uid, eid, i + 1) }
    }

  def range(seed: Long, users: Seq[Long], startMs: Long, endMs: Long, limit: Int,
      got: Seq[Ranged]): Seq[String] = {
    val want = expectedRange(seed, users, startMs, endMs, limit)
    if (got.size != want.size) Seq(s"range returned ${got.size} rows, want ${want.size}")
    else {
      val g = got.sortBy(r => (r.userId, r.rank)); val w = want.sortBy(r => (r.userId, r.rank))
      g.zip(w).collect { case (a, b) if a != b => s"range row $a, want $b" }
    }
  }

  // ---- IvfIndex.searchInt8 ----

  final case class Hit(queryId: Long, vecId: Long, score: Double, rank: Int)

  def int8Scale(v: Array[Float]): Double = {
    val mx = v.foldLeft(0.0)((m, x) => math.max(m, math.abs(x.toDouble)))
    if (mx == 0.0) 1.0 else mx / 127.0
  }

  def int8Codes(v: Array[Float], scale: Double): Array[Int] =
    v.map(x => math.max(math.min(math.rint(x.toDouble / scale), 127.0), -127.0).toInt)

  /** The int8 score searchInt8 assigns to (query, corpus vector). */
  def int8Score(q: Array[Float], v: Array[Float]): Double = {
    val sq = int8Scale(q); val sv = int8Scale(v)
    val cq = int8Codes(q, sq); val cv = int8Codes(v, sv)
    var dot = 0L; var i = 0
    while (i < cq.length) { dot += cq(i).toLong * cv(i); i += 1 }
    dot.toDouble * sv * sq
  }

  def dot(a: Array[Float], b: Array[Float]): Double = {
    var s = 0.0; var i = 0
    while (i < a.length) { s += a(i).toDouble * b(i).toDouble; i += 1 }
    s
  }

  /** Exact top-k vector ids by float dot product over `corpus`. */
  def bruteForce(q: Array[Float], corpus: Array[Array[Float]], k: Int): Array[Int] = {
    val heap = new java.util.PriorityQueue[(Double, Int)](k + 1,
      (a: (Double, Int), b: (Double, Int)) => java.lang.Double.compare(a._1, b._1))
    var i = 0
    while (i < corpus.length) {
      val d = dot(q, corpus(i))
      if (heap.size < k) heap.add((d, i))
      else if (d > heap.peek()._1) { heap.poll(); heap.add((d, i)) }
      i += 1
    }
    heap.toArray(Array.empty[(Double, Int)]).sortBy(-_._1).map(_._2)
  }

  /** Top-k answers are well formed: k rows per query, ranks 1..k, no
    * repeated id, scores non-increasing and equal to the reference int8
    * score of (query, vector). */
  def topk(queries: Map[Long, Array[Float]], vector: Long => Array[Float], k: Int,
      got: Seq[Hit]): Seq[String] = {
    val byQ = got.groupBy(_.queryId)
    val missing = queries.keys.filterNot(byQ.contains).map(q => s"query $q has no hits").toSeq
    val bad = byQ.toSeq.flatMap { case (q, hs0) =>
      val hs = hs0.sortBy(_.rank)
      queries.get(q) match {
        case None => Seq(s"unknown query id $q")
        case Some(qv) =>
          val shape =
            if (hs.map(_.rank) != (1 to k)) Seq(s"query $q ranks ${hs.map(_.rank)}")
            else if (hs.map(_.vecId).distinct.size != k) Seq(s"query $q repeats an id")
            else if (hs.sliding(2).exists(p => p.size == 2 && p(0).score < p(1).score))
              Seq(s"query $q scores not descending")
            else Nil
          shape ++ hs.flatMap { h =>
            val want = int8Score(qv, vector(h.vecId))
            if (math.abs(h.score - want) <= 1e-9 * math.max(1.0, math.abs(want))) None
            else Some(s"query $q vec ${h.vecId}: score ${h.score} want $want")
          }
      }
    }
    missing ++ bad
  }

  /** Share of the exact top-k ids found in the answer. */
  def recall(got: Seq[Long], exact: Seq[Long]): Double =
    got.toSet.intersect(exact.toSet).size.toDouble / exact.size

  // ---- batch scoring DAG ----

  final case class Scored(userId: Long, segment: Int, score: Double)

  /** Reference for the scoring DAG over entities `0 until n`:
    * rank_score = ((minmax(ctr) + percent_rank(clicks_7d)) − minmax(recency)) + score,
    * then the top `perSegment` per segment by (score desc, user_id asc). */
  def expectedTop(n: Int, profile: Long => Stored, clicks7d: Long => Double,
      perSegment: Int): Seq[Scored] = {
    val prof = Array.tabulate(n)(i => profile(i.toLong))
    val clicks = Array.tabulate(n)(i => clicks7d(i.toLong))
    // percent_rank: (# strictly smaller) / (n − 1)
    val sorted = clicks.sorted
    def smaller(v: Double): Int = {
      var lo = 0; var hi = sorted.length
      while (lo < hi) { val m = (lo + hi) >>> 1; if (sorted(m) < v) lo = m + 1 else hi = m }
      lo
    }
    val ctrN = {
      val c = prof.map(_.ctr.toDouble); val mn = c.min; val mx = c.max
      c.map(x => (x - mn) / (mx - mn))
    }
    // recency is FP32 and min-maxed as stored: the subtractions happen in
    // float, the division in double (Spark's binary-operator typing)
    val recN = {
      val r = prof.map(_.recency); val mn = r.min; val mx = r.max
      r.map(x => (x - mn).toDouble / (mx - mn).toDouble)
    }
    val scored = (0 until n).map { i =>
      val pr = smaller(clicks(i)).toDouble / (n - 1).toDouble
      Scored(i.toLong, prof(i).segment, ((ctrN(i) + pr) - recN(i)) + prof(i).score)
    }
    scored.groupBy(_.segment).toSeq.sortBy(_._1).flatMap { case (_, rows) =>
      rows.sortBy(r => (-r.score, r.userId)).take(perSegment)
    }
  }

  def batch(want: Seq[Scored], got: Seq[Scored]): Seq[String] = {
    val g = got.sortBy(r => (r.segment, -r.score, r.userId))
    val ids = if (g.map(r => (r.segment, r.userId)) == want.map(r => (r.segment, r.userId))) Nil
      else Seq(s"top-K per segment differs: ${g.size} rows, want ${want.size}")
    val cg = got.map(_.score).sum; val cw = want.map(_.score).sum
    val sum = if (math.abs(cg - cw) <= 1e-9 * math.max(1.0, math.abs(cw))) Nil
      else Seq(s"score checksum $cg, want $cw")
    ids ++ sum
  }

  // ---- ingest: latest version per key ----

  final case class Stored(userId: Long, ctr: Float, score: Double, segment: Int,
      recency: Float)

  def ingest(state: Long => Option[Stored], keys: Seq[Long], got: Seq[Stored]): Seq[String] = {
    val byKey = got.groupBy(_.userId)
    keys.flatMap { k =>
      (byKey.getOrElse(k, Nil), state(k)) match {
        case (Seq(r), Some(w)) if r == w => None
        case (rs, w) => Some(s"key $k: got $rs want $w")
      }
    } ++ byKey.keys.filterNot(keys.toSet).map(k => s"unrequested key $k")
  }
}
