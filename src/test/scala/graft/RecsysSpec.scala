package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.operators.{Recsys, Training}

class RecsysSpec extends AnyFunSuite with SparkSuite {
  import spark.implicits._

  private def ev(id: Long, user: Long, typ: String, value: Double,
      item: Long, ts: String) =
    (id, user, typ, value, s"""{"k": $item}""", ts)

  private def eventsDf(rows: Seq[(Long, Long, String, Double, String, String)]) =
    rows.toDF("event_id", "user_id", "event_type", "value", "props", "__ts")
      .withColumn("ts", to_timestamp($"__ts")).drop("__ts")

  test("covisitation counts within-user pairs, caps by recency") {
    val df = eventsDf(Seq(
      ev(1, 1, "click", 1.0, 10, "2024-01-01 10:00:00"),
      ev(2, 1, "view", 1.0, 20, "2024-01-01 11:00:00"),
      ev(3, 1, "view", 1.0, 30, "2024-01-01 12:00:00"),
      ev(4, 2, "click", 1.0, 10, "2024-01-02 10:00:00"),
      ev(5, 2, "view", 1.0, 20, "2024-01-02 11:00:00"),
      ev(6, 3, "view", 1.0, 10, "2024-01-03 10:00:00"),
      ev(7, 3, "view", 1.0, 20, "2024-01-03 11:00:00")))
    // (10,20) seen by users 1,2,3; (10,30)/(20,30) only by user 1
    val got = Recsys.covisitation(df, recentPerUser = 30, minUsers = 2)
      .as[(Long, Long, Long)].collect().toSet
    assert(got === Set((10L, 20L, 3L)))
    // recency cap 1 keeps only each user's newest item -> no pairs
    assert(Recsys.covisitation(df, recentPerUser = 1, minUsers = 1)
      .count() === 0)
  }

  test("negativeSample never collides with positives, caps per user") {
    val df = eventsDf((0 until 40).map(i =>
      ev(i, i % 3, "click", 1.0, i % 7, f"2024-01-01 10:00:${i % 60}%02d")))
    val neg = Recsys.negativeSample(df, posType = "click", nItems = 10,
      perUser = 3, oversample = 8)
    val pos = df.select($"user_id",
        get_json_object($"props", "$.k").cast("long").as("item_id"))
      .distinct().as[(Long, Long)].collect().toSet
    val got = neg.select($"user_id", $"item_id").as[(Long, Long)]
      .collect()
    assert(got.nonEmpty)
    assert(got.forall(p => !pos.contains(p)), "negative hit a positive")
    val perUser = got.groupBy(_._1).view.mapValues(_.length)
    assert(perUser.values.forall(_ <= 3))
    // deterministic under repartitioning
    val again = Recsys.negativeSample(df.repartition(7), posType = "click",
        nItems = 10, perUser = 3, oversample = 8)
      .select($"user_id", $"item_id", $"rank")
      .as[(Long, Long, Int)].collect().toSet
    val first = neg.select($"user_id", $"item_id", $"rank")
      .as[(Long, Long, Int)].collect().toSet
    assert(again === first)
  }

  test("targetEncodeLoo excludes own label, shrinks to prior") {
    // cat a: values 1,2,3 (sum 6); cat b: single value 10
    val df = eventsDf(Seq(
      ev(1, 1, "a", 1.0, 0, "2024-01-01 00:00:00"),
      ev(2, 1, "a", 2.0, 0, "2024-01-01 00:00:01"),
      ev(3, 1, "a", 3.0, 0, "2024-01-01 00:00:02"),
      ev(4, 1, "b", 10.0, 0, "2024-01-01 00:00:03")))
    val te = Recsys.targetEncodeLoo(df, "event_type", "value",
        Seq("event_id"), alpha = 2.0)
      .select($"event_id", $"te").as[(Long, Double)].collect().toMap
    val prior = 16.0e6 / 4.0 // micro-units
    // row 1 (cat a, x=1): ((6-1)e6 + 2*prior) / (3-1+2) / 1e6
    assert(math.abs(te(1L) - ((5e6 + 2.0 * prior) / 4.0 / 1e6)) < 1e-12)
    // row 4 (cat b, singleton): denominator is alpha alone, no leakage
    assert(math.abs(te(4L) - ((0.0 + 2.0 * prior) / 2.0 / 1e6)) < 1e-12)
  }

  test("decayedEngagement weights value by 1/(1+age_days); " +
      "recency_micro is the half-life weight of the latest event") {
    val df = eventsDf(Seq(
      ev(1, 1, "view", 4.0, 0, "2024-01-03 08:00:00"), // age 0 -> 4.0
      ev(2, 1, "view", 4.0, 0, "2024-01-01 23:00:00"), // age 2 -> 4/3
      ev(3, 2, "view", 1.5, 0, "2024-01-02 00:00:00"))) // age 1 -> 0.75
    val got = Recsys.decayedEngagement(df)
      .as[(Long, Double, Long, Long)].collect()
      .map { case (u, d, n, r) => (u, (d, n, r)) }.toMap
    // user 1's latest IS the anchor: decay exp(0) = 1 -> 1e6 micro
    assert(got(1L)._3 === 1000000L)
    assert(got(1L)._1 ===
      (4000000L + math.floor(4000000.0 / 3.0).toLong) / 1e6)
    assert(got(1L)._2 === 2L)
    // user 2's latest sits 32 h before the anchor: exp(-ln2/24 · 32)
    val lam = Recsys.timeDecayLambda(24.0)
    assert(got(2L) ===
      ((0.75, 1L, math.round(StrictMath.exp(-lam * 32.0) * 1e6))))
  }

  test("timeDecay: 1 at the reference, 0.5 at one half-life, clamps " +
      "future timestamps to 1 (encoder.py:88-103)") {
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    val rows = Seq(
      (1L, ts("2024-01-02 00:00:00")), // at ref
      (2L, ts("2024-01-01 00:00:00")), // one half-life (24 h) back
      (3L, ts("2024-01-03 00:00:00")), // FUTURE: Δ clamps to 0
      (4L, ts("2024-01-01 12:00:00"))) // half a half-life
      .toDF("id", "t")
    val got = rows.select($"id", Recsys.timeDecay($"t",
        lit(ts("2024-01-02 00:00:00")), halfLifeHours = 24.0).as("w"))
      .as[(Long, Double)].collect().toMap
    assert(got(1L) === 1.0)
    // Spark's Exp evaluates via StrictMath (1 ulp off Math.exp for
    // some arguments) — one more reason gated outputs micro-round
    assert(got(2L) === StrictMath.exp(-Recsys.timeDecayLambda(24.0) * 24.0))
    assert(math.abs(got(2L) - 0.5) < 1e-15)
    assert(got(3L) === 1.0) // the reference's max(Δ, 0) floor
    assert(got(4L) === StrictMath.exp(-Recsys.timeDecayLambda(24.0) * 12.0))
  }

  test("nextItemExamples builds trailing contexts, drops first events") {
    val df = eventsDf(Seq(
      ev(1, 1, "view", 1.0, 10, "2024-01-01 10:00:00"),
      ev(2, 1, "view", 1.0, 20, "2024-01-01 11:00:00"),
      ev(3, 1, "view", 1.0, 30, "2024-01-01 12:00:00"),
      ev(4, 1, "view", 1.0, 40, "2024-01-01 13:00:00"),
      ev(5, 2, "view", 1.0, 50, "2024-01-01 10:00:00")))
    val got = Recsys.nextItemExamples(df, contextLen = 2)
      .select($"event_id", $"context", $"label")
      .as[(Long, Seq[Long], Long)].collect().sortBy(_._1)
    // user 2's single event and user 1's first event yield no example
    assert(got.map(_._1).toSeq === Seq(2L, 3L, 4L))
    assert(got.map(_._2).toSeq ===
      Seq(Seq(10L), Seq(10L, 20L), Seq(20L, 30L)))
    assert(got.map(_._3).toSeq === Seq(20L, 30L, 40L))
  }

  test("hashedCross separates boundary-ambiguous crosses") {
    val df = Seq(("a", "bc"), ("ab", "c"), ("a", "bc"))
      .toDF("x", "y")
      .select(Recsys.hashedCross(Seq($"x", $"y"), buckets = 1 << 20).as("b"))
    val got = df.as[Long].collect()
    assert(got(0) === got(2))          // same inputs -> same bucket
    assert(got(0) !== got(1))          // ("a","bc") vs ("ab","c") differ
    assert(got.forall(b => b >= 0 && b < (1 << 20)))
  }

  test("calibrationBins: near-equal bins, exact positive rates") {
    // 100 distinct scores; label 1 iff score >= 80 -> top bins all
    // positive, bottom bins all negative
    val df = (0 until 100).map(i => (i.toDouble, if (i >= 80) 1L else 0L))
      .toDF("score", "label")
    val got = graft.operators.Normalize
      .calibrationBins(df, "score", "label", nBins = 10)
      .select($"bin", $"n", $"score_min", $"pos_rate")
      .as[(Int, Long, Double, Double)].collect().sortBy(_._1)
    assert(got.map(_._1).toSeq === (0 until 10))
    assert(got.forall(_._2 === 10L))
    assert(got.take(8).forall(_._4 === 0.0))
    assert(got.drop(8).forall(_._4 === 1.0))
    assert(got(8)._3 === 80.0)
  }

  test("randomWalks: valid edges, deterministic, one walk per node") {
    val edges = Seq((1L, 2L), (2L, 3L), (1L, 3L), (4L, 1L))
      .toDF("item_a", "item_b")
    val adj = Set((1L, 2L), (2L, 1L), (2L, 3L), (3L, 2L), (1L, 3L),
      (3L, 1L), (4L, 1L), (1L, 4L))
    val got = Recsys.randomWalks(edges, walkLen = 3)
      .select($"start", $"path").as[(Long, Seq[Long])].collect()
    assert(got.length === 4)
    got.foreach { case (start, path) =>
      assert(path.length === 4 && path.head === start)
      path.sliding(2).foreach { s =>
        assert(adj.contains((s(0), s(1))), s"bad edge in $path") }
    }
    val again = Recsys.randomWalks(edges.repartition(3), walkLen = 3)
      .select($"start", $"path").as[(Long, Seq[Long])].collect().toSet
    assert(again === got.toSet)
  }

  test("weightedRandomWalks favors heavy edges but stays valid") {
    // node 1 has neighbors 2 (weight 1000) and 3 (weight 1): the
    // hash/weight key makes 2 the practically-certain first hop
    val edges = Seq((1L, 2L, 1000L), (1L, 3L, 1L), (2L, 3L, 5L))
      .toDF("item_a", "item_b", "n_users")
    val got = Recsys.weightedRandomWalks(edges, walkLen = 2)
      .select($"start", $"path").as[(Long, Seq[Long])].collect()
      .map(r => r._1 -> r._2).toMap
    assert(got.size === 3)
    assert(got(1L)(1) === 2L) // heavy edge wins the first hop
    val adj = Set((1L, 2L), (2L, 1L), (1L, 3L), (3L, 1L), (2L, 3L),
      (3L, 2L))
    got.values.foreach(p =>
      p.sliding(2).foreach(s => assert(adj.contains((s(0), s(1))))))
  }

  test("walk plan depth stays bounded via periodic checkpoints") {
    val edges = Seq((1L, 2L), (2L, 3L), (1L, 3L), (4L, 1L))
      .toDF("item_a", "item_b")
    def planNodes(walkLen: Int): Int =
      Recsys.randomWalks(edges, walkLen)
        .queryExecution.analyzed.collect { case p => p }.length
    // walkLen 4 runs without a checkpoint; walkLen 12 checkpoints at
    // rounds 4 and 8, so only the last 4 rounds sit in the final plan —
    // the analyzed tree must NOT grow linearly with walk length
    val short = planNodes(4)
    val long = planNodes(12)
    assert(long <= short + 8,
      s"plan grew with walk length: $short nodes @4 vs $long @12")
    val got = Recsys.randomWalks(edges, walkLen = 12)
      .select($"start", $"path").as[(Long, Seq[Long])].collect()
    assert(got.length === 4 && got.forall(_._2.length === 13))
  }

  test("pageRank matches an independent integer reference on random graphs") {
    val r = new scala.util.Random(7)
    val scale = 1000000000000L
    (1 to 3).foreach { trial =>
      val n = 3 + r.nextInt(7)
      val edges = ((0L, 1L) +: (for {
        a <- 0 until n; b <- 0 until n
        if a < b && r.nextInt(3) == 0
      } yield (a.toLong, b.toLong))).distinct
      val got = Recsys.pageRank(edges.toDF("item_a", "item_b"),
          iterations = 3)
        .select($"node", $"rank_micro").as[(Long, Long)].collect().toMap
      // driver-side reference: the same integral iteration, computed
      // with plain Scala longs (truncating / = div on positives)
      val adj = (edges ++ edges.map(_.swap)).distinct
        .groupBy(_._1).view.mapValues(_.map(_._2)).toMap
      val nodes = adj.keys.toSeq.sorted
      var rank = nodes.map(v => v -> scale / nodes.size).toMap
      (1 to 3).foreach { _ =>
        val in = scala.collection.mutable.Map[Long, Long]()
          .withDefaultValue(0L)
        for ((u, nbrs) <- adj; v <- nbrs)
          in(v) += rank(u) * 85L / (100L * nbrs.size)
        rank = nodes.map(v =>
          v -> (scale * 15L / (100L * nodes.size) + in(v))).toMap
      }
      assert(got.keySet === rank.keySet, s"trial $trial")
      nodes.foreach(v => assert(got(v) === rank(v), s"trial $trial node $v"))
    }
  }

  test("skipGramPairs emits ordered pairs within the window") {
    val walks = Seq((1L, Seq(10L, 20L, 30L, 40L)))
      .toDF("start", "path")
    val got = Recsys.skipGramPairs(walks, window = 2)
      .select($"center", $"context", $"n").as[(Long, Long, Long)]
      .collect().map(r => (r._1, r._2) -> r._3).toMap
    // distance 3 pair absent; distance <=2 pairs present, symmetric
    assert(!got.contains((10L, 40L)))
    assert(got((10L, 20L)) === 1L && got((20L, 10L)) === 1L)
    assert(got((10L, 30L)) === 1L && got((20L, 40L)) === 1L)
    assert(got.size === 10) // 3 adjacent pairs + 2 distance-2, both dirs
  }

  test("churnLabels: strict temporal split, churn = silent label window") {
    def e(id: Long, u: Long, day: Int, typ: String = "view") =
      (id, u, typ, 2.5, """{"k": 1}""",
        java.sql.Timestamp.valueOf(f"2024-01-${day}%02d 10:00:00"))
    // anchor = Jan 20, cutoff = Jan 13. u1 active both windows (not
    // churned); u2 only before cutoff (churned); u3 only in the label
    // window (no feature row)
    val df = Seq(e(1, 1, 2, "click"), e(2, 1, 15), e(3, 2, 5), e(4, 2, 10),
      e(5, 3, 14), e(6, 1, 20))
      .toDF("event_id", "user_id", "event_type", "value", "props", "ts")
    val got = Recsys.churnLabels(df, labelDays = 7)
      .select($"user_id", $"n_events", $"n_clicks", $"recency_days",
        $"churned")
      .as[(Long, Long, Long, Int, Boolean)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4, r._5))).toMap
    assert(got(1L) === ((1L, 1L, 11, false)))
    assert(got(2L) === ((2L, 0L, 3, true)))
    assert(!got.contains(3L))
  }

  test("shard: permutation into fixed-size shards, partition-invariant") {
    val df = spark.range(0, 500).toDF("doc_id")
    val got = Training.shard(df, "doc_id", 64L)
      .select($"doc_id", $"shard_id", $"shard_offset")
      .as[(Long, Int, Int)].collect()
    assert(got.length === 500)
    val byShard = got.groupBy(_._2).view.mapValues(_.map(_._3).sorted).toMap
    assert(byShard.keys.toSeq.sorted === (0 to 7))
    for (s <- 0 to 6) assert(byShard(s).toSeq === (0 until 64))
    assert(byShard(7).toSeq === (0 until 500 - 7 * 64))
    // same assignment under different input partitioning
    val again = Training.shard(df.repartition(13), "doc_id", 64L)
      .select($"doc_id", $"shard_id", $"shard_offset")
      .as[(Long, Int, Int)].collect().toSet
    assert(again === got.toSet)
  }

  test("candidateRecallAtK counts next-item hits against top-k neighbors") {
    // cov pairs ≥2 users: (10,20) n=2 (u1,u2), (10,30) n=2 (u1,u3);
    // (20,30) and (10,99) drop at minUsers=2 → nbrs(10)={20,30},
    // nbrs(20)={10}, nbrs(30)={10}
    val df = eventsDf(Seq(
      ev(1, 1, "view", 1.0, 10, "2024-01-01 10:00:00"),
      ev(2, 1, "view", 1.0, 20, "2024-01-01 11:00:00"),
      ev(3, 1, "view", 1.0, 30, "2024-01-01 12:00:00"),
      ev(4, 2, "view", 1.0, 10, "2024-01-02 10:00:00"),
      ev(5, 2, "view", 1.0, 20, "2024-01-02 11:00:00"),
      ev(6, 3, "view", 1.0, 10, "2024-01-03 10:00:00"),
      ev(7, 3, "view", 1.0, 30, "2024-01-03 11:00:00"),
      // user 4's second item 99 is nobody's neighbor → the only miss
      ev(8, 4, "view", 1.0, 10, "2024-01-04 10:00:00"),
      ev(9, 4, "view", 1.0, 99, "2024-01-04 11:00:00")))
    // transitions: u1 10→20 hit, 20→30 miss (nbrs(20)={10});
    // u2 10→20 hit; u3 10→30 hit; u4 10→99 miss
    val got = Recsys.candidateRecallAtK(df, k = 5, minUsers = 2)
      .as[(Long, Long, Double)].head()
    assert(got === ((5L, 3L, 0.6)))
    // k = 1 keeps only the strongest neighbor: top-1(10) = 20 (n=3),
    // top-1(20) = 10; 20→30 and 10→30 become misses
    val got1 = Recsys.candidateRecallAtK(df, k = 1, minUsers = 2)
      .as[(Long, Long, Double)].head()
    assert(got1 === ((5L, 2L, 0.4)))
  }

  test("covisitationBySession pairs within the intent window only") {
    val df = eventsDf(Seq(
      // user 1, one session: 10-20 pair
      ev(1, 1, "view", 1.0, 10, "2024-01-01 10:00:00"),
      ev(2, 1, "view", 1.0, 20, "2024-01-01 11:00:00"),
      // user 1, a NEW session 5 days later: 30 pairs with nothing
      ev(3, 1, "view", 1.0, 30, "2024-01-06 10:00:00"),
      // user 2, one session: 10-20 again
      ev(4, 2, "view", 1.0, 10, "2024-01-02 10:00:00"),
      ev(5, 2, "view", 1.0, 20, "2024-01-02 11:00:00")))
    val got = Recsys.covisitationBySession(df, gap = "1 day",
        recentPerSession = 30, minSessions = 2)
      .as[(Long, Long, Long)].collect().toSet
    assert(got === Set((10L, 20L, 2L)))
    // per-user covisitation WOULD pair 30 with 10/20 for user 1
    assert(Recsys.covisitation(df, recentPerUser = 30, minUsers = 1)
      .count() === 3)
  }

  test("covisitationBySession matches a naive per-session computation " +
      "on random data, any partitioning") {
    val rnd = new scala.util.Random(41)
    val rows = (1 to 400).map { i =>
      val t = new java.sql.Timestamp(1704067200000L +
        rnd.nextInt(20) * 86400000L + rnd.nextInt(86400) * 1000L)
      (i.toLong, rnd.nextInt(6).toLong, "view", 1.0,
        s"""{"k": ${rnd.nextInt(15)}}""", t)
    }
    val df = rows.toDF("event_id", "user_id", "event_type", "value",
      "props", "ts")
    val gapMs = 86400000L
    // naive: sessionize per user by the same lag-gap rule, then count
    // distinct sessions per unordered item pair
    val naive = rows.groupBy(_._2).toSeq.flatMap { case (_, es) =>
      val sorted = es.sortBy(e => (e._6.getTime, e._1))
      var sid = 0
      var last = Long.MinValue
      val tagged = sorted.map { e =>
        if (last == Long.MinValue || e._6.getTime > last + gapMs) sid += 1
        last = e._6.getTime
        val item = e._5.replaceAll("[^0-9]", "").toLong
        (sid, item)
      }
      tagged.groupBy(_._1).values.flatMap { s =>
        val items = s.map(_._2).distinct.sorted
        for (a <- items; b <- items if a < b) yield (a, b)
      }
    }.groupBy(identity).view.mapValues(_.size.toLong).toMap
      .filter(_._2 >= 2)
    for (parts <- Seq(1, 8)) {
      val got = Recsys.covisitationBySession(df.repartition(parts),
          gap = "1 day", recentPerSession = 30, minSessions = 2)
        .as[(Long, Long, Long)].collect()
        .map(r => (r._1, r._2) -> r._3).toMap
      assert(got === naive, s"parts=$parts")
    }
  }

  test("triangleStats: K4 has 4 triangles and clustering 1; a path " +
      "has none; duplicates, reversals, and self-loops are tolerated") {
    import spark.implicits._
    // K4 on nodes 1..4, with noise: duplicate edge, reversed edge,
    // self-loop
    val k4 = (for { a <- 1 to 4; b <- (a + 1) to 4 }
      yield (a.toLong, b.toLong)) ++
      Seq((2L, 1L), (1L, 2L), (3L, 3L))
    val got = Recsys.triangleStats(k4.toDF("src", "dst"))
      .as[(Long, Long, Long, Long, Double)].head()
    // K4: 4 nodes, 6 edges, every node degree 3 -> 4 * C(3,2) = 12
    // wedges, 4 triangles, clustering = 3*4/12 = 1
    assert(got === ((4L, 6L, 12L, 4L, 1.0)))
    val path = Seq((1L, 2L), (2L, 3L), (3L, 4L)).toDF("src", "dst")
    val none = Recsys.triangleStats(path)
      .as[(Long, Long, Long, Long, Double)].head()
    assert(none._4 === 0L && none._3 === 2L && none._5 === 0.0)
    // one triangle hanging off a tail: 3*1/5 wedges
    val tail = Seq((1L, 2L), (2L, 3L), (1L, 3L), (3L, 4L))
      .toDF("src", "dst")
    val t = Recsys.triangleStats(tail)
      .as[(Long, Long, Long, Long, Double)].head()
    assert(t._4 === 1L)
    assert(t._5 === 3.0 * 1.0 / t._3)
  }

  test("userOverlapJaccard: exact overlap through shared items, " +
      "super-popular items excluded from pair generation") {
    import spark.implicits._
    // items: 10 shared by users 1,2,3; 11 by 1,2; 12 by 2,3;
    // 99 shared by EVERYONE (the super-node, pop 5 > cut 4)
    val rows = Seq(
      (1L, 10L), (2L, 10L), (3L, 10L),
      (1L, 11L), (2L, 11L),
      (2L, 12L), (3L, 12L),
      (1L, 99L), (2L, 99L), (3L, 99L), (4L, 99L), (5L, 99L))
    val ev = rows.map { case (u, i) =>
      (u, s"""{"k":$i}""") }.toDF("user_id", "props")
    val got = Recsys.userOverlapJaccard(ev, maxItemPop = 4, minCommon = 2)
      .as[(Long, Long, Long, Double)].collect()
      .map(t => (t._1, t._2) -> ((t._3, t._4))).toMap
    // pairs through non-super items with >= 2 common:
    // (1,2): items 10,11 -> common 2; degrees 3(+99)=3? user1 has
    // {10,11,99} deg 3; user2 {10,11,12,99} deg 4 -> union 3+4-2=5
    assert(got.keySet === Set((1L, 2L), (2L, 3L)))
    assert(got((1L, 2L)) === ((2L, 2.0 / 5.0)))
    // (2,3): common {10,12}=2, degrees 4 and 3 -> 2/(4+3-2)=0.4
    assert(got((2L, 3L)) === ((2L, 2.0 / 5.0)))
  }

  test("kCore peels to the known core of a clique plus pendant chain") {
    // 5-clique (every node degree 4) with a pendant path 5-6-7: one
    // round of k=3 peeling removes 6,7 then 5 keeps degree 4 within
    // the clique... pendant nodes never survive, clique always does
    val clique = for {
      a <- 0L to 4L; b <- 0L to 4L if a < b
    } yield (a, b)
    val edges = (clique ++ Seq((4L, 5L), (5L, 6L), (6L, 7L)))
      .toDF("item_a", "item_b")
    val core = Recsys.kCore(edges, k = 3L, rounds = 3)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(core.keySet === Set(0L, 1L, 2L, 3L, 4L))
    assert(core(0L) === 4L)
    // node 4 had the pendant edge stripped: degree settles to 4
    assert(core(4L) === 4L)
    // a higher k empties the graph
    assert(Recsys.kCore(edges, k = 5L, rounds = 2).count() === 0L)
  }

  test("kCore fixed rounds match iterate-to-fixpoint on real data") {
    val g = Recsys.covisitation(Tables.events(spark, sf),
      recentPerUser = 30, minUsers = 3)
    def run(r: Int) = Recsys.kCore(g, k = 4L, rounds = r)
      .collect().map(x => x.getLong(0) -> x.getLong(1)).toMap
    // converged: one extra round changes nothing
    val r4 = run(4)
    assert(r4 === run(5))
  }

  test("assortativity: star graph is maximally disassortative-ish, " +
    "clique pairs are neutral") {
    // star: center degree 5, leaves degree 1 -> strong negative r
    val star = (1L to 5L).map(l => (0L, l)).toDF("item_a", "item_b")
    val rStar = Recsys.degreeAssortativity(star).collect().head
    assert(rStar.getAs[Long]("n_ends") === 10L)
    assert(rStar.getAs[Double]("assortativity") < -0.9)
    // regular graph (6-cycle): all degrees equal -> zero variance ->
    // null by the guarded formula
    val cycle = (0L to 5L).map(i => (i, (i + 1) % 6))
      .map { case (a, b) => (math.min(a, b), math.max(a, b)) }
      .toDF("item_a", "item_b")
    assert(Recsys.degreeAssortativity(cycle).collect().head.isNullAt(1))
  }

  test("assortativity matches a naive pearson over edge-end degrees") {
    val rnd = new scala.util.Random(71)
    val edges = (0 until 60).map(_ =>
      (rnd.nextInt(12).toLong, rnd.nextInt(12).toLong))
      .filter(e => e._1 < e._2).distinct
    val got = Recsys.degreeAssortativity(edges.toDF("item_a", "item_b"))
      .collect().head.getAs[Double]("assortativity")
    val sym = edges ++ edges.map(e => (e._2, e._1))
    val deg = sym.groupBy(_._1).map { case (n, es) => n -> es.size }
    val xs = sym.map(e => deg(e._1).toDouble)
    val ys = sym.map(e => deg(e._2).toDouble)
    val n = xs.size
    val (sx, sy) = (xs.sum, ys.sum)
    val sxx = xs.map(v => v * v).sum
    val syy = ys.map(v => v * v).sum
    val sxy = xs.zip(ys).map { case (a, b) => a * b }.sum
    val naive = (n * sxy - sx * sy) /
      math.sqrt((n * sxx - sx * sx) * (n * syy - sy * sy))
    assert(math.abs(got - naive) < 1e-5, s"$got vs $naive")
  }

  test("rich club: clique core plus pendants") {
    // 4-clique (degrees 3+) with a pendant on node 0
    val clique = for { a <- 0L to 3L; b <- 0L to 3L if a < b } yield (a, b)
    val edges = (clique :+ (0L, 9L)).toDF("item_a", "item_b")
    val got = Recsys.richClub(edges, Seq(1L, 3L)).collect()
      .map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3),
          r.getAs[Double]("phi")))).toMap
    // k=1: club = degree>1 = the 4 clique nodes; all 6 edges inside
    assert(got(1L) === ((4L, 6L, 6L, 1.0)))
    // k=3: only node 0 has degree 4 -> club size 1 -> filtered out
    assert(!got.contains(3L))
  }

  test("hits matches a naive driver-side power iteration") {
    val rnd = new scala.util.Random(21)
    val edges = (0 until 60).map(_ => (rnd.nextInt(8).toLong,
      rnd.nextInt(8).toLong, 1L + rnd.nextInt(4)))
      .filter(e => e._1 != e._2)
      .groupBy(e => (e._1, e._2)).map { case ((s, d), xs) =>
        (s, d, xs.map(_._3).sum) }.toSeq
    val df = edges.toDF("src", "dst", "w")
    val got = Recsys.hits(df, rounds = 2).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    // naive: h0=1, a_r = sum_in w*h, h_r = sum_out w*a
    val nodes = edges.flatMap(e => Seq(e._1, e._2)).distinct
    var h = nodes.map(_ -> 1L).toMap
    var a = Map.empty[Long, Long]
    for (_ <- 1 to 2) {
      a = edges.groupBy(_._2).map { case (d, es) =>
        d -> es.map(e => e._3 * h.getOrElse(e._1, 1L)).sum }
      h = edges.groupBy(_._1).map { case (s, es) =>
        s -> es.map(e => e._3 * a.getOrElse(e._2, 0L)).sum }
    }
    nodes.foreach { n =>
      assert(got(n) === ((h.getOrElse(n, 0L), a.getOrElse(n, 0L))),
        s"node $n")
    }
  }
}
