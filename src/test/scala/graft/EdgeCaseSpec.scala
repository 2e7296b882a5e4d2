package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.core.{FeatureDef, FeatureGroupDef, FeatureType}
import graft.functions.{Similarity, TextFunctions}
import graft.operators.{FeatureStore, InteractionStore, SimilaritySearch, Training}

/** Degenerate-input hardening: every operator must behave on empty
  * inputs, empty strings and zero vectors — the shapes a 100 TB
  * pipeline inevitably feeds it. */
class EdgeCaseSpec extends AnyFunSuite with SparkSuite {
  import spark.implicits._

  private val fg = FeatureGroupDef("f", 1, Seq(
    FeatureDef("v", FeatureType.FP64, default = -1.0)))

  test("retrieve with an empty key set returns no rows") {
    val table = Seq((1L, 10.0)).toDF("k", "v")
    val keys = Seq.empty[Long].toDF("k")
    assert(FeatureStore.retrieve(keys, table, Seq("k"), fg, Seq("v")).count() === 0)
  }

  test("retrieve against an empty table yields all defaults") {
    val table = Seq.empty[(Long, Double)].toDF("k", "v")
    val out = FeatureStore.retrieve(Seq(1L, 2L).toDF("k"), table,
      Seq("k"), fg, Seq("v")).orderBy("k").as[(Long, Double)].collect()
    assert(out === Array((1L, -1.0), (2L, -1.0)))
  }

  test("mergeCap and retention on an empty event set") {
    val empty = Seq.empty[(Long, java.sql.Timestamp, Long)]
      .toDF("user_id", "ts", "event_id")
    assert(InteractionStore.mergeCap(empty, cap = 5).count() === 0)
    assert(InteractionStore.retention(empty, horizonWeeks = 2).count() === 0)
  }

  test("similarity on zero vectors: cosine null-safe via int8 scale guard") {
    val zero = Seq((1L, Seq(0.0f, 0.0f))).toDF("vec_id", "embedding")
    // int8 scale of the zero vector is 1.0 (codes all zero), not 0/NaN
    val (s, c) = zero.select(Similarity.int8Scale($"embedding").as("s"),
        Similarity.int8Codes($"embedding", Similarity.int8Scale($"embedding")).as("c"))
      .as[(Double, Seq[Byte])].head()
    assert(s === 1.0 && c === Seq(0.toByte, 0.toByte))
    // dot with itself is 0; cosine divides by zero norm → NaN stays NaN
    val d = zero.select(Similarity.dot($"embedding", $"embedding")).as[Double].head()
    assert(d === 0.0)
  }

  test("words/tokenCount normalize whitespace") {
    val df = Seq("  The quick,  brown fox! x2 ").toDF("text")
    assert(df.select(TextFunctions.tokenCount($"text")).as[Int].head() === 5)
    assert(df.select(TextFunctions.words($"text")).as[Seq[String]].head()
      === Seq("the", "quick,", "brown", "fox!", "x2"))
  }

  test("text functions on empty and whitespace-only strings") {
    val df = Seq("", "   ", "\t\n").toDF("text")
    val rows = df.select(TextFunctions.tokenCount($"text").as("n"))
      .as[Int].collect()
    rows.foreach { n =>
      assert(n <= 1)        // split of "" yields [""]
    }
  }

  test("topK with k larger than the corpus returns the whole corpus ranked") {
    val corpus = Seq((1L, Seq(1.0, 0.0)), (2L, Seq(0.0, 1.0)))
      .toDF("vec_id", "embedding")
    val queries = Seq((9L, Seq(1.0, 1.0))).toDF("query_id", "query_embedding")
    assert(SimilaritySearch.topK(corpus, queries, k = 100).count() === 2)
  }

  test("saltedJoin equals the plain join, spreads the hot key") {
    import graft.operators.Skew
    val big = (1L to 2000L).map(i => (if (i % 10 == 0) 1L else i, i))
      .toDF("k", "payload") // key 1 is hot (~10% of rows)
    val small = Seq((1L, "hot"), (2L, "a"), (500L, "b")).toDF("k", "tag")
    val salted = Skew.saltedJoin(big, small, Seq("k"), col("payload"), salt = 8)
    val plain = big.join(small, "k")
    assert(salted.exceptAll(plain).isEmpty && plain.exceptAll(salted).isEmpty)
    assert(salted.count() === plain.count())
  }

  test("cappedFanJoin equals the plain join — multiset-exact, hot and " +
      "cold keys, duplicate rows (the shared sub-split kernel)") {
    import graft.operators.Skew
    // split side: key 1 hot (600 rows), keys 2/3 cold (under the cap);
    // a duplicated row checks multiset semantics survive the salting
    val split = ((1L to 600L).map(i => (1L, i)) ++
      (1L to 20L).map(i => (2L, 1000L + i)) ++
      Seq((3L, 7L), (3L, 7L))).toDF("k", "sid")
    val fan = Seq((1L, "a"), (1L, "b"), (2L, "c"), (3L, "d"), (9L, "e"))
      .toDF("k", "tag") // key 9 has no split rows: must vanish
    val capped = Skew.cappedFanJoin(fan, split, Seq("k"),
      Seq(col("sid")), maxPerTask = 64)
    val plain = fan.join(split, Seq("k"))
    assert(capped.exceptAll(plain).isEmpty && plain.exceptAll(capped).isEmpty)
    assert(capped.count() === plain.count())
    // cold keys keep fan width 1 (ceil(20/64)=ceil(2/64)=1) — the
    // kernel's census rule, asserted on the rule itself
    assert(Seq(20L, 2L, 600L).map(n => (n + 63L) / 64L) === Seq(1L, 1L, 10L))
  }

  test("intervalJoin equals the naive range join (banding is exact)") {
    val rnd = new scala.util.Random(7)
    def t(off: Long) = new java.sql.Timestamp(1704067200000L + off)
    val left = (1 to 200).map(i =>
      (i.toLong % 5, i.toLong, t(rnd.nextInt(30) * 86400000L + rnd.nextInt(1000) * 1000L)))
      .toDF("k", "lid", "lts")
    val right = (1 to 200).map(i =>
      (i.toLong % 5, 1000L + i, t(rnd.nextInt(30) * 86400000L + rnd.nextInt(1000) * 1000L)))
      .toDF("k", "rid", "rts")
    val banded = InteractionStore.intervalJoin(left, right, Seq("k"),
        horizon = "3 days", leftTs = "lts", rightTs = "rts")
      .select("lid", "rid")
    val naive = left.join(right, "k")
      .filter($"rts".between($"lts", $"lts" + expr("INTERVAL 3 DAYS")))
      .select("lid", "rid")
    assert(banded.exceptAll(naive).isEmpty && naive.exceptAll(banded).isEmpty)
    assert(banded.count() === naive.count())
  }

  test("sessionize equals a naive per-user scan on random data") {
    val rnd = new scala.util.Random(13)
    val events = (1 to 400).map(i => (rnd.nextInt(6).toLong, i.toLong,
        new java.sql.Timestamp(1704067200000L + rnd.nextInt(30) * 86400000L +
          rnd.nextInt(86400) * 1000L)))
      .toDF("user_id", "event_id", "ts")
    val gapMs = 3L * 86400000L
    val got = InteractionStore.sessionize(events, gap = "3 days")
      .select("event_id", "session_idx").as[(Long, Long)].collect().toMap
    events.as[(Long, Long, java.sql.Timestamp)].collect()
      .groupBy(_._1).foreach { case (_, es) =>
        var last = Long.MinValue
        var idx = 0L
        es.sortBy(e => (e._3.getTime, e._2)).foreach { case (_, eid, t) =>
          if (last == Long.MinValue || t.getTime > last + gapMs) idx += 1
          last = t.getTime
          assert(got(eid) === idx, s"event $eid")
        }
      }
  }

  test("pointInTime with empty history: all labels null-valued") {
    val history = Seq.empty[(Long, java.sql.Timestamp, Double)]
      .toDF("user_id", "ts", "value")
    val labels = Seq((1L, java.sql.Timestamp.valueOf("2024-01-01 00:00:00"), 5L))
      .toDF("user_id", "ts", "label_id")
    val out = Training.pointInTime(labels, history, Seq("user_id"), "ts", "value")
      .collect()
    assert(out.length === 1 && out(0).isNullAt(3))
  }

  test("two-level semanticNearDupPairs on tiny corpora (n smaller than " +
      "targetCellSize, single vector)") {
    // n = 1: no pair possible at any blocking
    val one = Seq((0L, Seq(1.0, 0.0))).toDF("vec_id", "embedding")
    assert(SimilaritySearch.semanticNearDupPairs(one, cells = 2,
      iters = 1, threshold = 0.0, targetCellSize = 8L,
      maxCellsPerLevel = 1).count() === 0L)
    // n < targetCellSize with a 1-cell cap: kRaw = max(cells, 1) = 4
    // > cap -> two-level engages with k1 = 1 and k2 = 1 per parent;
    // one leaf holding everything = all ordered pairs over threshold
    val few = (0L until 4L).map(i =>
        (i, Seq(math.cos(i * 0.1), math.sin(i * 0.1))))
      .toDF("vec_id", "embedding")
    val pairs = SimilaritySearch.semanticNearDupPairs(few, cells = 4,
        iters = 1, threshold = 0.5, targetCellSize = 8L,
        maxCellsPerLevel = 1)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(pairs === (for (a <- 0L until 4L; b <- a + 1 until 4L)
      yield (a, b)).toSet) // all cosines here are >= cos(0.3) > 0.5
  }

  test("pinned-k over maxCellsPerLevel stays single-level (two-level " +
      "is auto-scaled only)") {
    val few = (0L until 6L).map(i =>
        (i, Seq(math.cos(i * 0.1), math.sin(i * 0.1))))
      .toDF("vec_id", "embedding")
    // targetCellSize <= 0 with cells > cap: must NOT route into the
    // grouped level-2 kernel (which requires targetCellSize >= 1) —
    // a legal single-level build, identical to the uncapped call
    val capped = SimilaritySearch.semanticNearDupPairs(few, cells = 4,
        iters = 1, threshold = 0.5, maxCellsPerLevel = 2)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    val uncapped = SimilaritySearch.semanticNearDupPairs(few, cells = 4,
        iters = 1, threshold = 0.5)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(capped === uncapped)
  }

  test("shard on an empty key set") {
    assert(Training.shard(Seq.empty[Long].toDF("doc_id"), "doc_id", 64L)
      .count() === 0)
  }

  test("resampleHourlyFill equals a naive per-user grid walk on random data") {
    val rnd = new scala.util.Random(31)
    val events = (1 to 300).map(i => (rnd.nextInt(5).toLong, i.toLong,
        new java.sql.Timestamp(1704067200000L + rnd.nextInt(72) * 3600000L +
          rnd.nextInt(3600) * 1000L),
        rnd.nextInt(10000) / 100.0))
      .toDF("user_id", "event_id", "ts", "value")
    val got = InteractionStore.resampleHourlyFill(events)
      .as[(Long, Long, Long, Long)].collect()
      .map(r => (r._1, r._2) -> ((r._3, r._4))).toMap
    val raw = events.as[(Long, Long, java.sql.Timestamp, Double)].collect()
    raw.groupBy(_._1).foreach { case (u, es) =>
      val hourly = es.groupBy(e => e._3.getTime / 3600000L)
        .map { case (h, rows) =>
          h -> ((rows.size.toLong,
            rows.map(e => math.floor(e._4 * 1e6).toLong).sum)) }
      var lastVm = 0L
      val (mn, mx) = (hourly.keys.min, hourly.keys.max)
      (mn to mx).foreach { h =>
        val (n, vm) = hourly.getOrElse(h, (0L, -1L))
        if (vm != -1L) lastVm = vm
        assert(got((u, h)) === ((n, lastVm)), s"user=$u hour=$h")
      }
      // grid stays within the observed bounds
      assert(!got.contains((u, mn - 1)) && !got.contains((u, mx + 1)))
    }
    assert(got.size === raw.groupBy(_._1).map { case (_, es) =>
      val hs = es.map(_._3.getTime / 3600000L)
      hs.max - hs.min + 1
    }.sum)
  }
}
