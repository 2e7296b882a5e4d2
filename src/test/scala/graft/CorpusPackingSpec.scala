package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.operators.{AnnIndex, Corpus, PrefixSum, Sampling, Training}

/** Round-3 training-data operators: prefix sums, sequence packing,
  * corpus statistics, split/quota sampling, random projection. */
class CorpusPackingSpec extends AnyFunSuite with SparkSuite {
  import spark.implicits._

  /** PrefixSum takes its range-partition count from the session's
    * shuffle-partition setting; run `body` at `n` partitions. */
  private def withShufflePartitions[T](n: Int)(body: => T): T = {
    val prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", n.toString)
    try body finally spark.conf.set("spark.sql.shuffle.partitions", prev)
  }

  test("PrefixSum.inclusive equals the sequential cumsum on random data") {
    withShufflePartitions(8) {
      val rnd = new scala.util.Random(3)
      // non-contiguous, shuffled keys across many partitions
      val rows = rnd.shuffle((1 to 500).map(i => (i * 7L + 3, rnd.nextInt(100).toLong)))
      val df = spark.createDataFrame(rows).toDF("k", "v").repartition(13)
      val got = PrefixSum.inclusive(df, "k", "v", "cum")
        .select("k", "cum").as[(Long, Long)].collect().toMap
      var acc = 0L
      rows.sortBy(_._1).foreach { case (k, v) =>
        acc += v
        assert(got(k) === acc, s"key $k")
      }
    }
  }

  test("PrefixSum grand total equals the sum of the values") {
    withShufflePartitions(8) {
      val rnd = new scala.util.Random(4)
      val rows = rnd.shuffle((1 to 300).map(i => (i * 3L, rnd.nextInt(1000).toLong)))
      val df = spark.createDataFrame(rows).toDF("k", "v").repartition(9)
      val got = PrefixSum.inclusiveWithTotal(df, Seq(col("k")), Seq("v" -> "cum"), "tot")
        .select("tot").as[Long].collect()
      assert(got.length === rows.size)
      assert(got.toSet === Set(rows.map(_._2).sum))
    }
  }

  test("PrefixSum.inclusiveMultiBy: each fused axis equals its own inclusiveBy") {
    withShufflePartitions(8) {
      val rnd = new scala.util.Random(7)
      val rows = rnd.shuffle((1 to 400).map(i =>
        (i * 5L + 1, rnd.nextInt(50).toLong, rnd.nextInt(9).toLong)))
      val df = spark.createDataFrame(rows).toDF("k", "v", "w").repartition(11)
      val fused = PrefixSum.inclusiveMultiBy(df, Seq(col("k")),
          Seq("v" -> "cv", "w" -> "cw"))
        .select("k", "cv", "cw").as[(Long, Long, Long)].collect()
        .map(r => r._1 -> (r._2, r._3)).toMap
      val cv = PrefixSum.inclusiveBy(df, Seq(col("k")), "v", "cv")
        .select("k", "cv").as[(Long, Long)].collect().toMap
      val cw = PrefixSum.inclusiveBy(df, Seq(col("k")), "w", "cw")
        .select("k", "cw").as[(Long, Long)].collect().toMap
      rows.foreach { case (k, _, _) =>
        assert(fused(k) === ((cv(k), cw(k))), s"key $k")
      }
    }
  }

  test("packSequences: blocks tile the token axis exactly") {
    val rnd = new scala.util.Random(5)
    val docs = (1 to 200).map(i => (i.toLong, rnd.nextInt(600) + 1))
      .toDF("doc_id", "n_tok")
    val cap = 128
    val out = Training.packSequences(docs, "doc_id", col("n_tok"), cap)
      .as[(Long, Long, Long)].collect()
    val totalTok = docs.agg(sum("n_tok")).as[Long].head()
    // per-doc contributions reassemble each document
    val perDoc = out.groupBy(_._1).map { case (d, rs) => d -> rs.map(_._3).sum }
    docs.as[(Long, Int)].collect().foreach { case (d, n) =>
      assert(perDoc(d) === n.toLong, s"doc $d")
    }
    // every block except the last holds exactly `cap` tokens
    val perBlock = out.groupBy(_._2).map { case (b, rs) => b -> rs.map(_._3).sum }
    val lastBlock = (totalTok - 1) / cap
    perBlock.foreach { case (b, t) =>
      if (b < lastBlock) assert(t === cap.toLong, s"block $b")
      else assert(t === totalTok - lastBlock * cap)
    }
    assert(perBlock.keys.max === lastBlock)
    // matches the naive sequential packer
    var cum = 0L
    docs.as[(Long, Int)].collect().sortBy(_._1).foreach { case (d, n) =>
      val (st, en) = (cum, cum + n)
      val want = (st / cap to (en - 1) / cap).map { b =>
        (d, b, math.min(en, (b + 1) * cap) - math.max(st, b * cap))
      }.toSet
      assert(out.filter(_._1 == d).toSet === want, s"doc $d spans")
      cum = en
    }
  }

  test("packSequences drops zero-token docs and survives repartitioning") {
    val docs = Seq((1L, 5), (2L, 0), (3L, 7)).toDF("doc_id", "n_tok")
    val out = Training.packSequences(docs.repartition(7), "doc_id",
        col("n_tok"), 8)
      .as[(Long, Long, Long)].collect().toSet
    assert(out === Set((1L, 0L, 5L), (3L, 0L, 3L), (3L, 1L, 4L)))
  }

  test("Corpus.vocab ranks by count desc then token asc") {
    val docs = Seq(
      (1L, "b b b a a c"),
      (2L, "a c d"),
      (3L, "a b")).toDF("doc_id", "text")
    val got = Corpus.vocab(docs, "text", 3)
      .as[(String, Long, Int)].collect().sortBy(_._3)
    // counts: a=4, b=4, c=2, d=1 → a(1), b(2), c(3)
    assert(got === Array(("a", 4L, 1), ("b", 4L, 2), ("c", 2L, 3)))
  }

  test("Corpus.tfIdfTopTerms matches the hand-computed scores") {
    val docs = Seq(
      (1L, "x x y"),
      (2L, "x z")).toDF("doc_id", "text")
    val got = Corpus.tfIdfTopTerms(docs, "doc_id", "text", topPerDoc = 2)
      .as[(Long, String, Double, Int)].collect().toSet
    def s(tf: Double, df: Int) =
      BigDecimal(tf * math.log(2.0 / df))
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    // doc1: x tf=2/3 df=2 → 0; y tf=1/3 df=1 → ln2/3. Ties (x=0 only
    // competitor) → rank by score desc, token asc
    assert(got === Set(
      (1L, "y", s(1.0 / 3, 1), 1), (1L, "x", s(2.0 / 3, 2), 2),
      (2L, "z", s(1.0 / 2, 1), 1), (2L, "x", s(1.0 / 2, 2), 2)))
  }

  test("Corpus.histogram: counts cover all rows, values land in their bin") {
    val df = Tables.orders(spark, sf).select(col("o_totalprice"))
    val h = Corpus.histogram(df, "o_totalprice", 20)
      .as[(Long, Long, Double, Double)].collect()
    assert(h.map(_._2).sum === df.count())
    assert(h.map(_._1).forall(b => b >= 0 && b < 20))
    val (mn, mx) = df.agg(min("o_totalprice"), max("o_totalprice"))
      .as[(Double, Double)].head()
    h.foreach { case (b, _, lo, hi) =>
      assert(math.abs(lo - (mn + b * (mx - mn) / 20)) < 1e-9)
      assert(math.abs(hi - (mn + (b + 1) * (mx - mn) / 20)) < 1e-9)
    }
  }

  test("Sampling.split: total partition, deterministic, near the fractions") {
    val df = (1L to 2000L).toDF("id")
    val out = Sampling.split(df, "id",
      Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1))
    val counts = out.groupBy("split").count().as[(String, Long)].collect().toMap
    assert(counts.values.sum === 2000L)
    assert(counts("train") > 1500 && counts("train") < 1700)
    assert(counts("val") > 150 && counts("val") < 260)
    // same assignment regardless of partitioning
    val again = Sampling.split(df.repartition(17), "id",
        Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1))
      .as[(Long, String)].collect().toMap
    out.as[(Long, String)].collect().foreach { case (id, sp) =>
      assert(again(id) === sp)
    }
  }

  test("Sampling.quotaPerClass: exact quota, short classes kept whole") {
    val df = ((1 to 100).map(i => (i.toLong, "big")) ++
      (101 to 105).map(i => (i.toLong, "small")))
      .toDF("id", "cls")
    val out = Sampling.quotaPerClass(df, "id", "cls", n = 10)
      .groupBy("cls").count().as[(String, Long)].collect().toMap
    assert(out === Map("big" -> 10L, "small" -> 5L))
    // deterministic under repartitioning
    val a = Sampling.quotaPerClass(df, "id", "cls", 10)
      .as[(Long, String)].collect().toSet
    val b = Sampling.quotaPerClass(df.repartition(9), "id", "cls", 10)
      .as[(Long, String)].collect().toSet
    assert(a === b)
  }

  test("randomProject: out dims + exact dot against the plane constants") {
    val emb = Tables.embeddings(spark, sf).limit(20)
    val out = AnnIndex.randomProject(emb, "embedding", outDim = 4)
    val rows = out.select(col("vec_id"), col("embedding").cast("array<double>"),
        col("projected"))
      .as[(Long, Seq[Double], Seq[Double])].collect()
    // recompute the same md5-derived planes and fold order
    def plane(i: Int, dim: Int): Seq[Double] = Seq.tabulate(dim) { j =>
      graft.functions.TextHashKernels.hash32(
        org.apache.spark.unsafe.types.UTF8String.fromString(s"$i:$j"), 42) /
        4294967296.0 * 2 - 1
    }
    rows.foreach { case (id, e, p) =>
      assert(p.length === 4)
      (0 until 4).foreach { i =>
        val want = e.zip(plane(i, e.length)).foldLeft(0.0) {
          case (acc, (a, b)) => acc + a * b
        }
        assert(p(i) === want, s"vec $id dim $i") // bit-exact, same fold order
      }
    }
  }

  test("bigramConditional: P(w2|w1) matches naive adjacent-pair counts; " +
      "single-word docs emit nothing") {
    val docs = Seq(
      (1L, "a b a b c"),   // pairs: (a,b) x2... (a,b),(b,a),(a,b),(b,c)
      (2L, "b a"),
      (3L, "x"),           // no pairs
      (4L, "a b")
    ).toDF("doc_id", "text")
    val got = graft.operators.Corpus.bigramConditional(docs, "text", minCount = 1)
      .as[(String, String, Long, Long, Double)].collect()
      .sortBy(r => (r._1, r._2)).toSeq
    // prefix a: (a,b) x3 -> n_prefix 3; prefix b: (b,a) x2, (b,c) x1
    assert(got === Seq(
      ("a", "b", 3L, 3L, 1.0),
      ("b", "a", 2L, 3L, 2.0 / 3.0),
      ("b", "c", 1L, 3L, 1.0 / 3.0)))
    // minCount prunes prefixes below the threshold
    assert(graft.operators.Corpus.bigramConditional(docs, "text", minCount = 4)
      .count() === 0L)
  }

  test("tokenizerFertility: per-language ratios match hand counts") {
    val docs = Seq(
      (1L, "ab cd", "en"),   // 2 words, 2 subtokens, 5 chars
      (2L, "a1b c", "en"),   // 2 words, 4 subtokens (a,1,b,c), 5 chars
      (3L, "x y z", "de")    // 3 words, 3 subtokens, 5 chars
    ).toDF("doc_id", "text", "lang")
    val got = graft.operators.Corpus.tokenizerFertility(docs, "text", "lang")
      .as[(String, Long, Long, Long, Long, Double, Double)].collect()
      .sortBy(_._1).toSeq
    assert(got === Seq(
      ("de", 1L, 3L, 3L, 5L, 1.0, 5.0 / 3.0),
      ("en", 2L, 4L, 6L, 10L, 1.5, 2.5)))
  }

  test("coverageCurve matches the naive frequency-ranked mass, k beyond " +
      "the vocabulary reports full coverage") {
    val rnd = new scala.util.Random(31)
    val vocabulary = Vector("aa", "bb", "cc", "dd", "ee", "ff", "gg")
    val docs = (1 to 80).map { i =>
      (i.toLong, Seq.fill(5 + rnd.nextInt(10))(
        vocabulary(rnd.nextInt(vocabulary.length))).mkString(" "))
    }
    val counts = docs.flatMap(_._2.split(" ")).groupBy(identity).view
      .mapValues(_.size.toLong).toSeq
      .sortBy { case (t, c) => (-c, t) }
    val total = counts.map(_._2).sum
    val ks = Seq(1, 3, 5, 100) // 100 > |vocab| = 7
    val naive = ks.map { k =>
      val covered = counts.take(k).map(_._2).sum
      (k, covered, total, covered.toDouble / total)
    }.toSet
    for (parts <- Seq(1, 8)) {
      val got = graft.operators.Corpus.coverageCurve(
          docs.toDF("doc_id", "text").repartition(parts), "text", ks)
        .as[(Int, Long, Long, Double)].collect().toSet
      assert(got === naive, s"parts=$parts")
    }
  }

  test("bigramNll matches the naive per-doc sum of rounded ln(p) " +
      "micro-nats; unseen pairs counted but unscored") {
    val docs = Seq(
      (1L, "the cat sat on the mat"),
      (2L, "the cat ran"),
      (3L, "the dog sat on the cat"),
      (4L, "zz qq")).toDF("doc_id", "text")
    // LM WITHOUT min-count so every pair of docs 1-3 is scored; doc 4's
    // pair (zz,qq) is in the LM too (minCount=1)
    val lm = Corpus.bigramConditional(docs, "text", minCount = 1)
    val lmMap = lm.select("w1", "w2", "p").as[(String, String, Double)]
      .collect().map { case (a, b, p) => (a, b) -> p }.toMap
    def naiveDoc(text: String): (Long, Long, Long) = {
      val ws = text.split(" ").toSeq
      val prs = ws.zip(ws.tail)
      val scored = prs.flatMap(lmMap.get)
      val nll = -scored.map(p => math.round(math.log(p) * 1e6)).sum
      (prs.size.toLong, scored.size.toLong, nll)
    }
    val expect = Seq(1L, 2L, 3L, 4L).map { id =>
      val t = Seq("the cat sat on the mat", "the cat ran",
        "the dog sat on the cat", "zz qq")(id.toInt - 1)
      val (nb, ns, nll) = naiveDoc(t)
      (id, nb, ns, nll)
    }
    for (parts <- Seq(1, 5)) {
      val got = Corpus.bigramNll(docs.repartition(parts), lm, "doc_id", "text")
        .select("doc_id", "n_bigrams", "n_scored", "nll_micro")
        .as[(Long, Long, Long, Long)].collect().sortBy(_._1).toSeq
      assert(got === expect, s"parts=$parts")
    }
    // a filtered LM leaves rare pairs unscored but still counted
    val lm5 = Corpus.bigramConditional(docs, "text", minCount = 3)
    val sparse = Corpus.bigramNll(docs, lm5, "doc_id", "text")
      .select("doc_id", "n_bigrams", "n_scored")
      .as[(Long, Long, Long)].collect().sortBy(_._1)
    assert(sparse.forall { case (_, nb, ns) => ns <= nb })
    assert(sparse.exists { case (_, nb, ns) => ns < nb })
  }

  test("importanceLogRatio = targetNll-sourceNll difference where both " +
      "score, and target-domain docs rank above off-domain ones") {
    val target = Seq(
      (1L, "good clean prose flows well"),
      (2L, "clean prose flows very well"),
      (3L, "good clean prose reads well"))
    // shares the prefix word 'prose' with the target (so source-LM
    // conditionals for prose-* dilute and the ratio goes positive)
    // but no complete bigram
    val offDomain = Seq(
      (4L, "prose spam prose click"),
      (5L, "click prose spam click here"))
    val docs = (target ++ offDomain).toDF("doc_id", "text")
    val tLm = Corpus.bigramConditional(
      docs.filter($"doc_id" <= 3L), "text", minCount = 1)
    val sLm = Corpus.bigramConditional(docs, "text", minCount = 1)
    val got = Corpus.importanceLogRatio(docs, tLm, sLm, "doc_id", "text")
      .select("doc_id", "n_bigrams", "n_scored", "log_ratio_micro")
      .as[(Long, Long, Long, Option[Long])].collect().sortBy(_._1).toSeq
    // cross-check against the two NLL runs restricted to pairs both
    // LMs score: with minCount=1 every target-doc pair is in both LMs,
    // so for docs 1-3 ratio == sourceNll - targetNll
    val tN = Corpus.bigramNll(docs.filter($"doc_id" <= 3L), tLm, "doc_id", "text")
      .select("doc_id", "nll_micro").as[(Long, Long)].collect().toMap
    val sN = Corpus.bigramNll(docs.filter($"doc_id" <= 3L), sLm, "doc_id", "text")
      .select("doc_id", "nll_micro").as[(Long, Long)].collect().toMap
    for (id <- Seq(1L, 2L, 3L))
      assert(got(id.toInt - 1)._4 === Some(sN(id) - tN(id)),
        s"doc $id ratio != sourceNll - targetNll")
    // off-domain docs share no bigram with the target LM: unscored
    assert(got.filter(_._1 >= 4L).forall(_._3 == 0L))
    // every scored target doc ranks strictly positive (more target-like)
    assert(got.filter(_._1 <= 3L).forall(_._4.exists(_ > 0L)))
    // partition invariance
    val again = Corpus.importanceLogRatio(
        docs.repartition(7), tLm, sLm, "doc_id", "text")
      .select("doc_id", "n_bigrams", "n_scored", "log_ratio_micro")
      .as[(Long, Long, Long, Option[Long])].collect().sortBy(_._1).toSeq
    assert(again === got)
  }

  test("numericProfile matches direct per-column aggregates in one pass") {
    val df = Seq[(java.lang.Long, java.lang.Double, java.lang.Double)](
      (1L, 2.5, null), (2L, 2.5, 7.0), (3L, -1.0, 7.0),
      (4L, null, 7.0), (5L, 4.0, null))
      .toDF("id", "a", "b")
    val got = graft.operators.Profile.numericProfile(df, Seq("a", "b"))
      .select("col_name", "n", "n_null", "n_distinct", "min_v", "max_v")
      .as[(String, Long, Long, Long, Double, Double)]
      .collect().sortBy(_._1).toSeq
    assert(got === Seq(
      ("a", 5L, 1L, 3L, -1.0, 4.0),
      ("b", 5L, 2L, 1L, 7.0, 7.0)))
    // one scan: the plan reads the source exactly once (the Expand for
    // the distinct aggregates multiplies rows, not scans)
    val plan = graft.operators.Profile.numericProfile(df, Seq("a", "b"))
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Union"), s"profile plan re-scans per column:\n$plan")
  }

  test("zipfSlope: an exact power-law corpus fits slope -s; matches the " +
      "naive OLS on the ranked counts; partition-invariant") {
    import spark.implicits._
    // freq(rank) = 2^(20-rank): ln f = 20·ln2 − rank·ln2 — but the fit
    // is on ln rank, so use f(r) = K/r (true Zipf, slope exactly −1):
    // token "tNNN" repeated 840/r times for r = 1..8 (840 = lcm-ish,
    // every division exact)
    val words = (1 to 8).flatMap(r => Seq.fill(840 / r)(f"t$r%03d"))
    val docs = words.grouped(50).map(_.mkString(" ")).toSeq.toDF("text")
    for (parts <- Seq(1, 4)) {
      val row = Corpus.zipfSlope(docs.repartition(parts), "text", topN = 8)
        .as[(Long, Double, Double)].head()
      assert(row._1 === 8L)
      // micro-rounded OLS on exact counts: recompute naively
      val naive = {
        val cnts = (1 to 8).map(r => 840L / r).sorted.reverse
        val pts = cnts.zipWithIndex.map { case (c, i) =>
          (math.round(math.log((i + 1).toDouble) * 1e6),
            math.round(math.log(c.toDouble) * 1e6),
            math.round(math.log((i + 1).toDouble) *
              math.log((i + 1).toDouble) * 1e6),
            math.round(math.log((i + 1).toDouble) *
              math.log(c.toDouble) * 1e6))
        }
        val n = pts.size.toDouble
        val (sx, sy, sxx, sxy) = (pts.map(_._1).sum / 1e6,
          pts.map(_._2).sum / 1e6, pts.map(_._3).sum / 1e6,
          pts.map(_._4).sum / 1e6)
        (n * sxy - sx * sy) / (n * sxx - sx * sx)
      }
      assert(row._2 === naive, s"parts=$parts")
      // a true 1/r law fits slope ≈ −1 (micro-rounding noise only)
      assert(math.abs(row._2 + 1.0) < 0.01, s"slope ${row._2}")
    }
  }

  test("lexicalDiversity: exact type/hapax accounting per source") {
    import spark.implicits._
    val docs = Seq(
      ("a", "x x x y z"),        // tokens 5, types 3, hapax y z -> 2
      ("a", "x q"),              // q joins: a has 7 tokens, 4 types
      ("b", "u u u u")           // 4 tokens, 1 type, 0 hapax
    ).toDF("source", "text")
    val got = Corpus.lexicalDiversity(docs, "source", "text")
      .as[(String, Long, Long, Long, Double, Double)].collect()
      .map(t => t._1 -> t).toMap
    assert(got("a") === (("a", 7L, 4L, 3L, 4.0 / 7.0, 3.0 / 4.0)))
    assert(got("b") === (("b", 4L, 1L, 0L, 0.25, 0.0)))
  }

  test("bpePairStats: pair counts match hand enumeration, overlapping " +
      "pairs inside a token all count") {
    import spark.implicits._
    val docs = Seq("aaab ab", "ab cd").toDF("text")
    // aaab -> aa, aa, ab ; ab -> ab ; ab -> ab ; cd -> cd
    val got = Corpus.bpePairStats(docs, "text", topN = 10)
      .as[(String, Long, Int)].collect().toSeq
    assert(got === Seq(("ab", 3L, 1), ("aa", 2L, 2), ("cd", 1L, 3)))
  }

  test("sentenceStats: segments on punctuation runs, drops empties, " +
      "counts words per sentence exactly") {
    import spark.implicits._
    val docs = Seq(
      (1L, "one two three. four five! six?"),
      (2L, "no terminal punctuation here"),
      (3L, "!!!"),           // punctuation only -> zero sentences
      (4L, "a b c d... e f")) // ellipsis = one split point
      .toDF("doc_id", "text")
    val got = Corpus.sentenceStats(docs, "doc_id", "text")
      .as[(Long, Long, Option[Double], Option[Long])].collect()
      .map(r => r._1 -> r).toMap
    assert(got(1L) === ((1L, 3L, Some(2.0), Some(3L))))
    assert(got(2L) === ((2L, 1L, Some(4.0), Some(4L))))
    assert(got(3L) === ((3L, 0L, None, None)))
    assert(got(4L) === ((4L, 2L, Some(3.0), Some(4L))))
  }
}
