package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.functions.TextFunctions._
import graft.functions.Hashing.{md5Hash32, md5Hash60}
import graft.operators.Dedup

class TextDedupSpec extends AnyFunSuite with SparkSuite {
  import spark.implicits._

  test("words/tokenCount/subTokenCount normalize whitespace") {
    val df = Seq("  The quick,  brown fox! x2 ").toDF("text")
    assert(df.select(tokenCount($"text")).as[Int].head() === 5)
    // the + quick + , + brown + fox + ! + x + 2 = 8
    assert(df.select(subTokenCount($"text")).as[Int].head() === 8)
    assert(df.select(words($"text")).as[Seq[String]].head()
      === Seq("the", "quick,", "brown", "fox!", "x2"))
  }

  test("shingles produce n-grams; short texts degrade gracefully") {
    val df = Seq("a b c d").toDF("text")
    assert(df.select(shingles($"text", 3)).as[Seq[String]].head()
      === Seq("a b c", "b c d"))
    assert(Seq("a b").toDF("text").select(shingles($"text", 3))
      .as[Seq[String]].head() === Seq("a b"))
  }

  test("fingerprint is whitespace/case-insensitive (exact-dedup key)") {
    val df = Seq(("A  b C", "a b c"), ("x", "y")).toDF("t1", "t2")
    val eq = df.select((fingerprint($"t1") === fingerprint($"t2")).as("e"))
      .as[Boolean].collect()
    assert(eq === Array(true, false))
  }

  test("exact dedup keeps smallest doc_id per fingerprint") {
    val docs = Seq((10L, "a b c"), (3L, "A B  c"), (5L, "other text"))
      .toDF("doc_id", "text")
    val kept = Dedup.exact(docs).select("doc_id").as[Long].collect().sorted
    assert(kept === Array(3L, 5L))
  }

  test("minhash LSH finds near-identical docs and verifies jaccard") {
    val docs = Seq(
      (1L, "the cat sat on the mat and looked at the dog outside"),
      (2L, "the cat sat on the mat and looked at the dog inside"),
      (3L, "completely different words appear here nothing shared at all today")
    ).toDF("doc_id", "text")
    val pairs = Dedup.minhashLshPairs(docs, n = 3, k = 8, bands = 4,
      threshold = 0.4)
    val got = pairs.select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(got === Set((1L, 2L)))
    val j = pairs.select("jaccard").as[Double].head()
    assert(j > 0.4 && j < 1.0)
  }

  test("minhashLshLink: cross-corpus roles preserved, identity excluded") {
    val corpus = Seq(
      (1L, "the cat sat on the mat and looked at the dog outside"),
      (2L, "the cat sat on the mat and looked at the dog inside"),
      (3L, "completely different words appear here nothing shared at all today")
    ).toDF("doc_id", "text")
    val queries = Seq(
      (10L, "the cat sat on the mat and looked at the dog outside"), // = doc 1
      (3L, "completely different words appear here nothing shared at all today")
    ).toDF("doc_id", "text")
    val got = Dedup.minhashLshLink(corpus, queries, n = 3, k = 8, bands = 4,
        threshold = 0.4)
      .select("left_id", "right_id").as[(Long, Long)].collect().toSet
    // query 10 links to corpus 1 (identical) and 2 (near-dup); the
    // query with the SAME id as corpus doc 3 is identity-excluded
    assert(got === Set((1L, 10L), (2L, 10L)))
  }

  test("simhash: identical → distance 0; near-identical → small distance") {
    val df = Seq(
      ("the cat sat on the mat", "the cat sat on the mat"),
      ("the cat sat on the mat", "a totally different phrase here")
    ).toDF("a", "b")
    val d = df.select(hamming(simhash($"a"), simhash($"b"))).as[Int].collect()
    assert(d(0) === 0)
    assert(d(1) > 0)
  }

  test("simhashPairs candidate generation is exact for hamming <= blocks-1") {
    // pigeonhole: with 4 blocks, any pair at distance <= 3 must collide
    val docs = Tables.documents(spark, sf).limit(100)
    val all = Dedup.simhashPairs(docs, maxDist = 3)
    val brute = {
      val h = docs.select($"doc_id", simhash($"text").as("sh"))
      val l = h.select($"doc_id".as("id_a"), $"sh".as("sa"))
      val r = h.select($"doc_id".as("id_b"), $"sh".as("sb"))
      l.crossJoin(r).filter($"id_a" < $"id_b")
        .filter(bit_count($"sa".bitwiseXOR($"sb")) <= 3)
    }
    assert(all.count() === brute.count())
  }

  test("langId picks the dominant stopword language") {
    val df = Seq(
      "the cat is on the mat and the dog",
      "el gato y la casa de un amigo que vive en madrid",
      "der hund und die katze ist von berlin mit freude",
      "zz qq xx").toDF("text")
    assert(df.select(langId($"text")).as[String].collect()
      === Array("en", "es", "de", "und"))
  }

  test("qualityFeatures ratios are sane") {
    val r = Seq("the cat, the dog!").toDF("text")
      .select(qualityFeatures($"text").as("q")).select("q.*").head()
    assert(r.getAs[Double]("n_tokens") === 4.0)
    assert(r.getAs[Double]("punct_ratio") > 0 && r.getAs[Double]("punct_ratio") < 0.2)
    // stopwordHits counts distinct stopword TYPES present ("the" once)
    assert(r.getAs[Double]("stopword_ratio") === 0.25)
  }

  test("codegen hash kernels match the column-HOF forms bit for bit") {
    val df = Seq("the quick brown fox jumps over the lazy dog",
      "pack my box with five dozen liquor jugs", "a b", "").toDF("text")
    val w = df.select(words($"text").as("w"))
    val simKernel = w.select(simhashOfWords($"w").as("s")).as[Long].collect()
    val simHof = w.select(simhashFromHashes(
      transform($"w", x => md5Hash32(x, 0)), 32).as("s")).as[Long].collect()
    assert(simKernel.toSeq === simHof.toSeq)
    val sh = df.select(shingles($"text", 3).as("sh"))
    val sigKernel = sh.select(minhashOfShingles($"sh", 8).as("g"))
      .as[Seq[Long]].collect()
    val sigHof = sh.select(minhashFromHashes(
      transform($"sh", x => md5Hash32(x, 0)), 8).as("g")).as[Seq[Long]].collect()
    assert(sigKernel.toSeq === sigHof.toSeq)
  }

  test("duplicateSpans marks every duplicated window and merges overlaps") {
    // docs 1 and 2 share the 6-token run "one two three four five six"
    // -> two overlapping l=5 windows merge into one span of 6 tokens;
    // doc 3 repeats a 5-token run WITHIN itself -> both occurrences
    // marked; doc 4 shares nothing -> no rows.
    val docs = Seq(
      (1L, "one two three four five six alpha beta gamma delta"),
      (2L, "prefix words here one two three four five six suffix"),
      (3L, "p q r s t filler filler2 filler3 p q r s t"),
      (4L, "nothing shared with anything else at all in here")
    ).toDF("doc_id", "text")
    val spans = Dedup.duplicateSpans(docs, l = 5)
      .select($"doc_id", $"span_start", $"span_end", $"n_windows")
      .as[(Long, Int, Int, Long)].collect().toSet
    assert(spans === Set(
      (1L, 0, 5, 2L),   // windows at 0 and 1 merge
      (2L, 3, 8, 2L),
      (3L, 0, 4, 1L),   // within-doc repeat: both occurrences
      (3L, 8, 12, 1L)))
  }

  test("duplicateSpans ignores docs shorter than the window") {
    val docs = Seq((1L, "a b c"), (2L, "a b c")).toDF("doc_id", "text")
    assert(Dedup.duplicateSpans(docs, l = 5).count() === 0)
    // but an identical 5-token doc pair is fully marked
    val docs2 = Seq((1L, "a b c d e"), (2L, "a b c d e")).toDF("doc_id", "text")
    val spans = Dedup.duplicateSpans(docs2, l = 5)
      .select($"doc_id", $"span_start", $"span_end").as[(Long, Int, Int)]
      .collect().toSet
    assert(spans === Set((1L, 0, 4), (2L, 0, 4)))
  }

  test("maskPii masks emails, IPv4s and phones; counts match") {
    val df = Seq(
      "mail a.b+c@test.org and 192.168.0.1 then call 9876543210 twice 9876543210",
      "no pii here at all",
      "ip 1.2.3.4 next to email x@y.io").toDF("text")
    val got = df.select(
      piiCount($"text", EmailRe).as("e"), piiCount($"text", Ipv4Re).as("i"),
      piiCount($"text", PhoneRe).as("p"), maskPii($"text").as("m"))
      .as[(Int, Int, Int, String)].collect()
    assert(got(0) === ((1, 1, 2,
      "mail <EMAIL> and <IP> then call <PHONE> twice <PHONE>")))
    assert(got(1) === ((0, 0, 0, "no pii here at all")))
    assert(got(2) === ((1, 1, 0, "ip <IP> next to email <EMAIL>")))
  }

  test("dedupeParagraphs keeps first corpus-wide occurrence, reassembles") {
    // 2-token blocks; doc 1 = [a b][c d], doc 2 = [c d][e f] (block
    // "c d" repeats -> doc 2 loses it), doc 3 duplicates doc 1 fully
    // and disappears
    val docs = Seq(
      (1L, "a b c d"), (2L, "c d e f"), (3L, "a b c d")).toDF("doc_id", "text")
    val got = Dedup.dedupeParagraphs(docs, paraTokens = 2)
      .select($"doc_id", $"n_paras", $"text_dedup", $"n_kept", $"n_dropped")
      .as[(Long, Int, String, Long, Long)].collect().toSet
    assert(got === Set(
      (1L, 2, "a b c d", 2L, 0L),
      (2L, 2, "e f", 1L, 1L)))
    // partial tail block participates too
    val docs2 = Seq((1L, "x y z"), (2L, "z q")).toDF("doc_id", "text")
    val got2 = Dedup.dedupeParagraphs(docs2, paraTokens = 2)
      .select($"doc_id", $"text_dedup").as[(Long, String)].collect().toSet
    assert(got2 === Set((1L, "x y z"), (2L, "z q")))
  }

  test("duplicateSpans matches an independent reimplementation on a " +
      "random dup-heavy corpus, any partitioning") {
    val rnd = new scala.util.Random(42)
    val vocabW = Vector("red", "blue", "ox", "sky", "run", "jump")
    val docs = (1L to 30L).map { id =>
      val n = rnd.nextInt(21)
      (id, Seq.fill(n)(vocabW(rnd.nextInt(vocabW.size))).mkString(" "))
    }
    val l = 3
    // independent model: window strings -> corpus counts -> marked
    // positions -> merged islands
    val toks = docs.map { case (id, t) =>
      id -> t.toLowerCase.trim.split("\\s+").toSeq }.toMap
    val winOf = (ts: Seq[String]) =>
      if (ts.length < l) Seq.empty
      else (0 to ts.length - l).map(i => ts.slice(i, i + l).mkString(" "))
    val counts = toks.values.flatMap(winOf).groupBy(identity)
      .view.mapValues(_.size).toMap
    val expect = toks.toSeq.flatMap { case (id, ts) =>
      val marked = winOf(ts).zipWithIndex.collect {
        case (w, i) if counts(w) > 1 => i }
      // windows [p, p+l-1] merge while the next start p <= end + 1
      val spans = marked.foldLeft(List.empty[(Int, Int, Long)]) {
        case ((s, e, n) :: rest, p) if p <= e + 1 =>
          (s, p + l - 1, n + 1) :: rest
        case (acc, p) => (p, p + l - 1, 1L) :: acc
      }.reverse
      spans.map { case (s, e, n) => (id, s, e, n) }
    }.toSet
    for (parts <- Seq(1, 7)) {
      val got = Dedup.duplicateSpans(
          docs.toDF("doc_id", "text").repartition(parts), l = l)
        .select($"doc_id", $"span_start", $"span_end", $"n_windows")
        .as[(Long, Int, Int, Long)].collect().toSet
      assert(got === expect, s"parts=$parts")
    }
  }

  test("dedupeParagraphs matches an independent reimplementation") {
    val rnd = new scala.util.Random(7)
    val blocks = Vector("a b", "c d", "e f", "g h")
    val docs = (1L to 20L).map { id =>
      (id, Seq.fill(1 + rnd.nextInt(4))(blocks(rnd.nextInt(blocks.size)))
        .mkString(" "))
    }
    val p = 2
    val paras = docs.flatMap { case (id, t) =>
      t.split(" ").grouped(p).zipWithIndex
        .map { case (b, i) => (id, i, b.mkString(" ")) } }
    val firstOf = paras.groupBy(_._3).view
      .mapValues(_.minBy(r => (r._1, r._2))).toMap
    val expect = paras.filter(r => firstOf(r._3) == r)
      .groupBy(_._1).map { case (id, kept) =>
        val total = paras.count(_._1 == id)
        (id, total, kept.sortBy(_._2).map(_._3).mkString(" "),
          kept.size.toLong, (total - kept.size).toLong) }.toSet
    val got = Dedup.dedupeParagraphs(
        docs.toDF("doc_id", "text").repartition(5), paraTokens = p)
      .select($"doc_id", $"n_paras", $"text_dedup", $"n_kept", $"n_dropped")
      .as[(Long, Int, String, Long, Long)].collect()
      .map(r => (r._1, r._2, r._3, r._4, r._5)).toSet
    assert(got === expect)
  }

  test("wordWindowHash60 kernel matches the column-HOF form bit for bit") {
    val df = Seq("the quick brown fox jumps over the lazy dog",
      "  Mixed   CASE  and\tmulti  space ", "three token doc", "ab", "",
      "unicode é tokens naïve café test six").toDF("text")
      .union(Tables.documents(spark, sf).select($"text").limit(20))
    for (l <- Seq(2, 3, 5)) {
      val kernel = df.select(wordWindowHashes($"text", l).as("h"))
        .as[Seq[Long]].collect()
      val hof = df.select(words($"text").as("w"))
        .select(wordWindowHashesHof($"w", l).as("h")).as[Seq[Long]].collect()
      assert(kernel.toSeq === hof.toSeq, s"l=$l")
    }
  }

  test("winnow kernel matches the column-HOF form bit for bit") {
    val df = Seq("the quick brown fox jumps over the lazy dog",
      "the  QUICK\tbrown fox", "short", "ab", "").toDF("text")
      .union(Tables.documents(spark, sf).select($"text").limit(20))
    for ((k, w) <- Seq((8, 4), (5, 5), (3, 1))) {
      val kernel = df.select(winnowFingerprint($"text", k, w).as("f"))
        .as[Seq[Long]].collect()
      val hof = df.select(normalized($"text").as("nt"))
        .select(winnowFingerprintHof($"nt", k, w).as("f"))
        .as[Seq[Long]].collect()
      assert(kernel.toSeq === hof.toSeq, s"k=$k w=$w")
    }
  }

  test("fingerprintContainment flags an embedded quote, not unrelated text") {
    val rnd = new scala.util.Random(23)
    def randText(n: Int) =
      (1 to n).map(_ => ('a' + rnd.nextInt(26)).toChar).grouped(6)
        .map(_.mkString).mkString(" ")
    val big = randText(600)
    val quote = big.substring(120, 320) // doc 2 ⊂ doc 1
    val other = randText(600)
    val docs = Seq((1L, big), (2L, quote), (3L, other))
      .toDF("doc_id", "text")
    val got = Dedup.fingerprintContainment(docs, threshold = 0.5)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(got.contains((1L, 2L)))
    assert(!got.exists(p => p._1 == 3L || p._2 == 3L))
  }

  test("fingerprintContainment matches a naive set computation, any partitioning") {
    val rnd = new scala.util.Random(29)
    def randText(n: Int) =
      (1 to n).map(_ => ('a' + rnd.nextInt(8)).toChar).grouped(5)
        .map(_.mkString).mkString(" ")
    val base = (1 to 12).map(i => (i.toLong, randText(80 + rnd.nextInt(120))))
    // splice shared spans to force partial overlaps
    val docs = base ++ Seq(
      (21L, base(0)._2.take(60) + " " + randText(100)),
      (22L, base(1)._2 + " " + base(2)._2))
    val (k, w, maxDf) = (8, 4, 50)
    val fpSets = docs.map { case (id, t) =>
      id -> docs.toDF("doc_id", "text").filter($"doc_id" === id)
        .select(explode(winnowFingerprint($"text", k, w)).as("f"))
        .as[Long].collect().toSet
    }.toMap
    val df = fpSets.values.flatten.groupBy(identity).map { case (f, o) => f -> o.size }
    val kept = fpSets.map { case (id, s) => id -> s.filter(f => df(f) <= maxDf) }
    val naive = (for {
      (a, fa) <- kept; (b, fb) <- kept if a < b
      shared = (fa & fb).size if shared > 0
      cont = shared.toDouble / math.min(fa.size, fb.size) if cont >= 0.3
    } yield (a, b, shared.toLong, cont)).toSet
    for (parts <- Seq(1, 5)) {
      val got = Dedup.fingerprintContainment(
          docs.toDF("doc_id", "text").repartition(parts),
          k = k, w = w, threshold = 0.3, maxDocFreq = maxDf)
        .as[(Long, Long, Long, Double)].collect().toSet
      assert(got === naive, s"parts=$parts")
    }
  }

  test("crossSourceShingleOverlap equals the naive distinct-shingle " +
      "set intersections, any partitioning") {
    val rnd = new scala.util.Random(29)
    val vocabulary = Vector("alpha", "beta", "gamma", "delta", "eps",
      "zeta", "eta", "theta")
    val docs = (1 to 120).map { i =>
      val words = Seq.fill(6 + rnd.nextInt(6))(
        vocabulary(rnd.nextInt(vocabulary.length)))
      (i.toLong, words.mkString(" "), s"src${rnd.nextInt(4)}")
    }
    def shingles(text: String): Set[String] = {
      val w = text.split(" ").toSeq
      if (w.length < 3) Set(w.mkString(" "))
      else w.sliding(3).map(_.mkString(" ")).toSet
    }
    val bySource = docs.groupBy(_._3).view
      .mapValues(_.flatMap(d => shingles(d._2)).toSet).toMap
    val naive = (for {
      a <- bySource.keys; b <- bySource.keys if a < b
      n = (bySource(a) & bySource(b)).size if n > 0
    } yield (a, b, n.toLong)).toSet
    for (parts <- Seq(1, 8)) {
      val got = Dedup.crossSourceShingleOverlap(
          docs.toDF("doc_id", "text", "source").repartition(parts))
        .as[(String, String, Long)].collect().toSet
      assert(got === naive, s"parts=$parts")
    }
  }

  test("cdcCutPositions kernel == column-HOF twin (ASCII, multi-byte, " +
      "shorter-than-w, empty)") {
    // r17: cdcChunks' cut scan moved to the codegen'd CdcCuts kernel;
    // this pins it to the engine-portable HOF form it replaced, across
    // the byte-path regimes (ASCII fast path, UTF-8 fallback where
    // char i != byte i, len < w, empty string).
    val rnd = new scala.util.Random(29)
    val alpha = "abcdef é世"
    val docs = ((1 to 40).map { i =>
      (i.toLong, (1 to (i * 7)).map(_ =>
        alpha(rnd.nextInt(if (i % 2 == 0) 7 else alpha.length))).mkString)
    } ++ Seq((97L, ""), (98L, "short"), (99L, "exactly16chars!!"))).toDF("doc_id", "text")
    for ((w, div, seed) <- Seq((16, 64, 7), (8, 32, 0), (5, 4, 123))) {
      val got = docs.select($"doc_id",
          graft.functions.TextFunctions.cdcCutPositions($"text", w, div, seed).as("k"),
          graft.functions.TextFunctions.cdcCutsHof($"text", w, div, seed).as("h"))
        .as[(Long, Seq[Int], Seq[Int])].collect()
      for ((id, k, h) <- got)
        assert(k === h, s"doc $id w=$w div=$div seed=$seed")
    }
  }

  test("cdcChunks tiles each document exactly and boundaries survive a " +
      "prefix edit (content-defined, not offset-defined)") {
    val rnd = new scala.util.Random(11)
    val alpha = "abcdefgh "
    def randText(n: Int) =
      (1 to n).map(_ => alpha(rnd.nextInt(alpha.length))).mkString
    val base = (1L to 20L).map(i => (i, randText(300 + rnd.nextInt(400))))
    val docs = base.toDF("doc_id", "text")
    val chunks = Dedup.cdcChunks(docs, w = 8, divisor = 32)
      .select("doc_id", "chunk_idx", "start", "len", "chunk_h")
      .as[(Long, Int, Int, Int, Long)].collect()
      .groupBy(_._1).view.mapValues(_.sortBy(_._2).toSeq).toMap
    val texts = base.toMap
    for ((id, cs) <- chunks) {
      // chunks tile [0, n): starts chain, lens sum to n, idx dense
      assert(cs.head._3 === 0)
      assert(cs.map(_._2) === cs.indices.map(identity))
      cs.sliding(2).foreach {
        case Seq((_, _, s1, l1, _), (_, _, s2, _, _)) => assert(s1 + l1 === s2)
        case _ =>
      }
      assert(cs.map(_._4).sum === texts(id).length)
      // hashes are content hashes of the slices
      for ((_, _, s, l, h) <- cs.take(3)) {
        val slice = texts(id).substring(s, s + l)
        val viaDf = Seq(slice).toDF("t")
          .select(md5Hash60($"t")).as[Long].head()
        assert(h === viaDf)
      }
    }
    // locality: prepend 40 chars to one doc; chunk hashes from the
    // first post-edit boundary onward are IDENTICAL (fixed-size
    // blocking would shift every block)
    val victim = texts(5L)
    val edited = (Seq((5L, randText(40) + victim)) ++
      base.filter(_._1 != 5L)).toDF("doc_id", "text")
    val after = Dedup.cdcChunks(edited, w = 8, divisor = 32)
      .filter($"doc_id" === 5L)
      .select("chunk_h").as[Long].collect().toSet
    val before = chunks(5L).map(_._5).toSet
    val common = before & after
    // everything beyond the edit neighborhood re-appears: at least all
    // but the first two original chunks survive by content
    assert(common.size >= before.size - 2,
      s"CDC locality broken: only ${common.size}/${before.size} chunk " +
        "hashes survived a prefix edit")
  }

  test("removeDuplicateSpans excises exactly the reported spans and " +
      "leaves span-free docs byte-identical (normalized space)") {
    val repeat = "alpha beta gamma delta epsilon zeta"
    val docs = Seq(
      (1L, s"unique one two three $repeat tail words here"),
      (2L, s"$repeat other completely different closing stretch"),
      (3L, "totally fresh content nothing shared at all whatsoever"))
      .toDF("doc_id", "text")
    val spans = Dedup.duplicateSpans(docs, l = 5)
      .select("doc_id", "span_start", "span_end")
      .as[(Long, Int, Int)].collect()
      .groupBy(_._1).view.mapValues(_.map(t => (t._2, t._3)).toSeq).toMap
    val got = Dedup.removeDuplicateSpans(docs, l = 5)
      .select("doc_id", "n_tokens", "n_removed", "cleaned_text")
      .as[(Long, Int, Int, String)].collect().sortBy(_._1)
    // doc 3 shares nothing: untouched, cleaned == normalized original
    val norm3 = "totally fresh content nothing shared at all whatsoever"
    assert(got(2) === ((3L, 8, 0, norm3)))
    // docs 1,2 lose exactly their reported span widths
    for ((id, n) <- Seq(1L -> 0, 2L -> 1)) {
      val width = spans(id).map { case (s, e) => e - s + 1 }.sum
      val (_, nt, nr, cleaned) = got(n)
      assert(nr === width, s"doc $id removed $nr != span width $width")
      assert(cleaned.split(" ").count(_.nonEmpty) === nt - nr)
      // no token of the repeated run survives
      assert(!cleaned.contains("gamma"))
    }
    // deterministic across partitioning
    val again = Dedup.removeDuplicateSpans(docs.repartition(5), l = 5)
      .select("doc_id", "cleaned_text").as[(Long, String)]
      .collect().sortBy(_._1).map(_._2).toSeq
    assert(again === got.map(_._4).toSeq)
  }

  test("cdcDedupStats: exact accounting on a corpus with a repeated " +
      "document") {
    val rnd = new scala.util.Random(19)
    val alpha = "abcdefgh "
    def randText(n: Int) =
      (1 to n).map(_ => alpha(rnd.nextInt(alpha.length))).mkString
    val shared = randText(500)
    val docs = Seq((1L, shared), (2L, shared), (3L, randText(500)))
      .toDF("doc_id", "text")
    val chunks = Dedup.cdcChunks(docs, w = 8, divisor = 32)
    val stats = Dedup.cdcDedupStats(chunks)
      .select("n_chunks", "n_distinct", "total_chars", "distinct_chars",
        "dedup_ratio")
      .as[(Long, Long, Long, Long, Double)].head()
    val rows = chunks.select("len", "chunk_h").as[(Int, Long)].collect()
    val naiveDistinct = rows.groupBy(_._2).map(_._2.head._1.toLong).sum
    assert(stats._1 === rows.length.toLong)
    assert(stats._2 === rows.map(_._2).distinct.length.toLong)
    assert(stats._3 === rows.map(_._1.toLong).sum)
    assert(stats._4 === naiveDistinct)
    // the duplicated doc's chars dedupe away: ratio well under 1
    assert(stats._5 < 0.75)
    assert(stats._5 === stats._4.toDouble / stats._3.toDouble)
  }

  test("prefixDuplicates clusters docs by their first-n-token head; " +
      "tails do not matter, short docs key on their whole text") {
    import spark.implicits._
    val docs = Seq(
      (1L, "terms of service apply to all users of this site today"),
      (2L, "terms of service apply to all users of another thing here"),
      (3L, "terms of service apply to all users of yet more words"),
      (4L, "completely different document body with no shared head"),
      (5L, "short doc"), (6L, "short doc"), // whole-text key, cluster
      (7L, "short doc but longer than the other two short ones")
    ).toDF("doc_id", "text")
    val got = graft.operators.Dedup.prefixDuplicates(docs, nTokens = 8)
      .select("n_docs", "min_doc_id")
      .as[(Long, Long)].collect().sortBy(_._2).toSeq
    // cluster 1: docs 1-3 share the 8-token head; cluster 2: docs 5,6
    assert(got === Seq((3L, 1L), (2L, 5L)))
    // with a longer prefix the 1-3 cluster splits (9th token differs)
    val strict = graft.operators.Dedup.prefixDuplicates(docs, nTokens = 9)
      .select("min_doc_id").as[Long].collect().toSeq
    assert(strict === Seq(5L))
  }

  test("minhashEstimateAudit: identical docs audit at est=jaccard=1; " +
      "estimates live on the k-grid and err is their gap") {
    import spark.implicits._
    val base = "the quick brown fox jumps over the lazy dog again " +
      "and then runs far away home tonight"
    val docs = Seq(
      (1L, base), (2L, base),                       // identical pair
      (3L, base + " with a different tail entirely"),
      (4L, "completely unrelated text about databases and queries")
    ).toDF("doc_id", "text")
    val got = graft.operators.Dedup.minhashEstimateAudit(docs)
      .as[(Long, Long, Double, Double, Double)].collect()
      .map(t => (t._1, t._2) -> ((t._3, t._4, t._5))).toMap
    assert(got.contains((1L, 2L)))
    assert(got((1L, 2L)) === ((1.0, 1.0, 0.0)))
    got.values.foreach { case (est, jac, err) =>
      assert(est >= 0.0 && est <= 1.0 && (est * 8).isWhole)
      assert(jac >= 0.0 && jac <= 1.0)
      assert(math.abs(err - math.abs(est - jac)) < 1e-15)
    }
  }

  test("noveltyScore: fully-seen docs score 0, fully-novel score 1, " +
      "mixed docs count exact distinct-gram overlap") {
    import spark.implicits._
    val train = Seq((100L, "alpha beta gamma delta epsilon zeta"))
      .toDF("doc_id", "text")
    val test = Seq(
      (1L, "alpha beta gamma delta"),     // all 2 grams seen
      (2L, "one two three four five"),    // all novel
      (3L, "alpha beta gamma nine ten eleven")) // 1 seen of 4
      .toDF("doc_id", "text")
    val got = graft.operators.Decontaminate.noveltyScore(
        train, test, "doc_id", "text", n = 3)
      .as[(Long, Long, Long, Double)].collect()
      .map(t => t._1 -> t).toMap
    assert(got(1L) === ((1L, 2L, 2L, 0.0)))
    assert(got(2L) === ((2L, 3L, 0L, 1.0)))
    assert(got(3L) === ((3L, 4L, 1L, 1.0 - 1.0 / 4.0)))
  }

  test("dedupAgainstIndex: index hits drop, in-batch dupes keep the " +
      "smallest id, normalization matches the exact-dedup fingerprint") {
    import spark.implicits._
    val index = Seq("known document text").toDF("t")
      .select(graft.functions.TextFunctions.fingerprint(col("t"))
        .as("fingerprint"))
    val batch = Seq(
      (10L, "KNOWN   document TEXT"),  // normalizes to the index hit
      (11L, "fresh content one"),
      (12L, "fresh content one"),      // in-batch dupe of 11
      (13L, "fresh content two")
    ).toDF("doc_id", "text")
    val got = graft.operators.Dedup.dedupAgainstIndex(batch, index)
      .select("doc_id").as[Long].collect().sorted.toSeq
    assert(got === Seq(11L, 13L))
  }

  test("pruneByQuality keeps each cluster's highest-score member " +
      "(id tiebreak), passes unclustered docs through") {
    import spark.implicits._
    val docs = Seq(
      (1L, 10L), (2L, 50L), (3L, 50L), // cluster A: 2 and 3 tie -> 2
      (4L, 99L),                        // cluster B alone with 5
      (5L, 7L),
      (9L, 1L)                          // unclustered
    ).toDF("doc_id", "score")
    val comps = Seq((1L, 1L), (2L, 1L), (3L, 1L), (4L, 4L), (5L, 4L))
      .toDF("doc_id", "component")
    val got = graft.operators.Dedup.pruneByQuality(
        docs, comps, "score")
      .select("doc_id").as[Long].collect().sorted.toSeq
    assert(got === Seq(2L, 4L, 9L))
  }
}
