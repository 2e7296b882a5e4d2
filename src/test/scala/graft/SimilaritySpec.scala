package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.functions.Similarity
import graft.operators.{AnnIndex, Filters, IvfIndex, SimilaritySearch}

class SimilaritySpec extends AnyFunSuite with SparkSuite {
  import spark.implicits._

  test("dot/cosine/euclidean on known vectors (A6)") {
    val df = Seq((Seq(1.0, 2.0), Seq(3.0, 4.0))).toDF("a", "b")
    val r = df.select(
      Similarity.dot($"a", $"b"), Similarity.cosine($"a", $"b"),
      Similarity.euclidean($"a", $"b")).head()
    assert(r.getDouble(0) === 11.0)
    assert(math.abs(r.getDouble(1) - 11.0 / (math.sqrt(5) * 5)) < 1e-12)
    assert(math.abs(r.getDouble(2) - math.sqrt(8.0)) < 1e-12)
  }

  test("fitDim pads and truncates (F13)") {
    val df = Seq(Tuple1(Seq(1.0, 2.0, 3.0))).toDF("a")
    assert(df.select(Similarity.fitDim($"a", 5)).as[Seq[Double]].head()
      === Seq(1.0, 2.0, 3.0, 0.0, 0.0))
    assert(df.select(Similarity.fitDim($"a", 2)).as[Seq[Double]].head()
      === Seq(1.0, 2.0))
  }

  test("brute-force topK: exact, deterministic ties, filters push (J6/A8/P7)") {
    val corpus = Seq(
      (1L, Seq(1.0, 0.0), "x"), (2L, Seq(0.9, 0.1), "x"),
      (3L, Seq(0.0, 1.0), "y"), (4L, Seq(1.0, 0.0), "y")
    ).toDF("vec_id", "embedding", "tag")
    val queries = Seq((100L, Seq(1.0, 0.0))).toDF("query_id", "query_embedding")
    val top = SimilaritySearch.topK(corpus, queries, k = 2)
      .select("vec_id").as[Long].collect()
    assert(top.toSet === Set(1L, 4L)) // both cosine=1, ids 1 and 4 beat 2
    val filtered = SimilaritySearch.topK(corpus, queries, k = 2,
      filters = Filters.in($"tag", "y"))
      .select("vec_id").as[Long].collect()
    assert(filtered.toSet === Set(4L, 3L))
  }

  test("topK cap guard: over-cap query batch fails loudly; allowTruncate " +
      "opts into the trim; within-cap passes untouched") {
    val corpus = (0L until 6L).map(i => (i, Seq(i.toDouble, 1.0)))
      .toDF("vec_id", "embedding")
    val queries = (100L until 104L).map(i => (i, Seq(1.0, 0.0)))
      .toDF("query_id", "query_embedding")
    // 4 queries > cap 2 and no opt-in: the census guard must raise
    val e = intercept[Exception] {
      SimilaritySearch.topK(corpus, queries, k = 1, maxQueries = 2).count()
    }
    assert(e.getMessage.contains("over the cap") ||
      Option(e.getCause).exists(_.getMessage.contains("over the cap")))
    // opted-in truncation: lowest 2 query ids survive, silently
    val trimmed = SimilaritySearch.topK(corpus, queries, k = 1,
      maxQueries = 2, allowTruncate = true)
      .select("query_id").as[Long].collect().toSet
    assert(trimmed === Set(100L, 101L))
    // within the cap the guard is inert and results are complete
    val ok = SimilaritySearch.topK(corpus, queries, k = 1, maxQueries = 4)
      .select("query_id").as[Long].collect().toSet
    assert(ok === Set(100L, 101L, 102L, 103L))
    // EMPTY-OUTPUT over-cap: a filter rejecting the whole corpus leaves
    // zero output rows, where the per-row assertion alone is blind —
    // the sentinel leg must still raise
    val e2 = intercept[Exception] {
      SimilaritySearch.topK(corpus, queries, k = 1, maxQueries = 2,
        filters = lit(false)).count()
    }
    assert(e2.getMessage.contains("over the cap") ||
      Option(e2.getCause).exists(_.getMessage.contains("over the cap")))
    // and an empty output WITHIN the cap stays a clean empty result
    assert(SimilaritySearch.topK(corpus, queries, k = 1, maxQueries = 4,
      filters = lit(false)).count() === 0L)
  }

  test("LSH candidates: recall of identical vectors is 1, pairs deduped") {
    val corpus = (0L until 50L).map { i =>
      val base = if (i % 2 == 0) Seq(1.0, 2.0, 3.0, 4.0) else Seq(-4.0, 3.0, -2.0, 1.0)
      (i, base.map(_ + (i / 1000.0)))
    }.toDF("vec_id", "embedding")
    val cands = AnnIndex.lshCandidates(corpus, numPlanes = 8, bands = 4)
    val pairs = cands.as[(Long, Long)].collect().toSet
    // near-identical evens collide; near-identical odds collide
    assert(pairs.contains((0L, 2L)) && pairs.contains((1L, 3L)))
    assert(cands.count() === cands.distinct().count())
  }

  test("LSH topK achieves high recall vs brute force on real embeddings") {
    val emb = Tables.embeddings(spark, sf)
    val queries = emb.filter($"vec_id" < 3)
      .select($"vec_id".as("query_id"), $"embedding".as("query_embedding"))
    val exact = SimilaritySearch.topK(emb, queries, 5, excludeSelf = true)
      .select("query_id", "vec_id").as[(Long, Long)].collect().toSet
    val approx = AnnIndex.topK(emb, queries, 5, numPlanes = 12, bands = 6)
      .select("query_id", "vec_id").as[(Long, Long)].collect().toSet
    val recall = (exact & approx).size.toDouble / exact.size
    assert(recall >= 0.5, s"LSH recall $recall too low") // random-ish data, wide bands
  }

  test("IVF index: cells partition the corpus; probe-all equals brute force") {
    val emb = Tables.embeddings(spark, sf)
    val idx = IvfIndex.build(emb, cells = 4)
    assert(idx.assigned.count() === emb.count())
    assert(idx.centroids.count() === 4)
    val queries = emb.filter($"vec_id" === 7)
      .select($"vec_id".as("query_id"), $"embedding".as("query_embedding"))
    val ivfAll = idx.search(queries, k = 5, nProbe = 4)
      .select("vec_id").as[Long].collect().toSet
    val exact = SimilaritySearch.topK(emb, queries, 5)
      .select("vec_id").as[Long].collect().toSet
    assert(ivfAll === exact) // probing every cell recovers exact search
  }

  test("k-means IVF: inertia improves on the seed; probe-all stays exact") {
    val emb = Tables.embeddings(spark, sf)
    def inertia(idx: IvfIndex): Double =
      idx.assigned.join(idx.centroids, "cell_id")
        .select(sum(pow(Similarity.euclidean($"embedding", $"centroid"), 2)))
        .as[Double].head()
    val seed = IvfIndex.build(emb, cells = 4)
    val refined = IvfIndex.buildKMeans(emb, cells = 4, iters = 3)
    assert(refined.centroids.count() === 4)
    assert(inertia(refined) <= inertia(seed) + 1e-9)
    val queries = emb.filter($"vec_id" === 7)
      .select($"vec_id".as("query_id"), $"embedding".as("query_embedding"))
    val all = refined.search(queries, k = 5, nProbe = 4)
      .select("vec_id").as[Long].collect().toSet
    val exact = SimilaritySearch.topK(emb, queries, 5)
      .select("vec_id").as[Long].collect().toSet
    assert(all === exact)
  }

  test("semanticNearDupPairs: every pair is above threshold, within one " +
      "learned cell, and a subset of the brute-force pair set") {
    val emb = Tables.embeddings(spark, sf)
    val got = SimilaritySearch.semanticNearDupPairs(
        emb, cells = 4, iters = 2, threshold = 0.3)
      .select("id_a", "id_b", "cosine")
      .as[(Long, Long, Double)].collect().toSeq
    assert(got.nonEmpty)
    assert(got.forall { case (a, b, c) => a < b && c > 0.3 })
    // subset of the unblocked all-pairs result (SemDeDup trades the
    // cross-cell pairs for the corpus²→Σcell² cost drop)
    val brute = SimilaritySearch.nearDupPairs(
        emb.withColumn("__one", lit(1)), "__one", threshold = 0.3)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(got.map(p => (p._1, p._2)).toSet.subsetOf(brute))
    // deterministic: same pairs from a different input partitioning
    val again = SimilaritySearch.semanticNearDupPairs(
        emb.repartition(13), cells = 4, iters = 2, threshold = 0.3)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(again === got.map(p => (p._1, p._2)).toSet)
  }

  test("autoCells: deterministic integer-ceil rule with floor and cap; " +
      "auto-scaled semanticNearDupPairs equals the explicit-cells run") {
    val emb = Tables.embeddings(spark, sf) // 500 rows at sf0.001
    val n = emb.count()
    // pinned mode: targetCellSize <= 0 returns minCells untouched
    assert(SimilaritySearch.autoCells(emb, 8, 0L) === 8)
    // the formula, exactly: ceil(n/32) with floor 8 and cap MaxCells
    val expected = math.min(graft.operators.IvfIndex.MaxCells.toLong,
      math.max(8L, (n + 31L) / 32L)).toInt
    assert(SimilaritySearch.autoCells(emb, 8, 32L) === expected)
    assert(expected === 16) // 500 rows -> above the floor: formula live
    // deterministic: same inputs, same count, twice
    assert(SimilaritySearch.autoCells(emb, 8, 32L)
      === SimilaritySearch.autoCells(emb, 8, 32L))
    // floor and cap both bind
    assert(SimilaritySearch.autoCells(emb, 1024, 32L) === 1024)
    assert(SimilaritySearch.autoCells(emb, 8, 1L)
      === math.min(graft.operators.IvfIndex.MaxCells.toLong, n).toInt)
    // the auto-scaled run IS the explicit-cells run at the derived k
    val auto = SimilaritySearch.semanticNearDupPairs(emb,
        cells = 8, iters = 2, threshold = 0.3, targetCellSize = 32L)
      .collect().map(_.toSeq).toSet
    val pinned = SimilaritySearch.semanticNearDupPairs(emb,
        cells = expected, iters = 2, threshold = 0.3)
      .collect().map(_.toSeq).toSet
    assert(auto === pinned)
    assert(auto.nonEmpty)
  }

  test("buildGroupedKMeans with one group equals global buildKMeans on " +
      "contiguous ids (the grouped Lloyd kernel IS Lloyd)") {
    val emb = Tables.embeddings(spark, sf) // 500 rows, ids 0..499
    val n = emb.count()
    val k = 4
    // pick targetCellSize so the grouped census derives exactly k
    // sub-cells: ceil(n/t) = 4 -> t = 125; then the rank stride over
    // contiguous ids equals the id stride, so seeds — and every Lloyd
    // round after them — coincide with the global kernel's
    val t = (n + k - 1) / k
    val grouped = IvfIndex.buildGroupedKMeans(
        emb.withColumn("__g", lit(0L)).select($"__g", $"vec_id", $"embedding"),
        "__g", targetCellSize = t, maxCells = 32, iters = 2)
      .select($"vec_id".cast("long"), $"sub_cell_id".cast("long"))
      .as[(Long, Long)].collect().toMap
    val global = IvfIndex.buildKMeans(emb, cells = k, iters = 2)
      .assigned.select($"vec_id".cast("long"), $"cell_id".cast("long"))
      .as[(Long, Long)].collect().toMap
    assert(grouped === global)
    assert(grouped.values.toSet.size === k)
  }

  test("two-level semanticNearDupPairs: below-cap configs untouched; " +
      "beyond-cap path partition-invariant, pairs within-leaf and a " +
      "subset of brute force") {
    val emb = Tables.embeddings(spark, sf) // 500 rows -> k = ceil(500/8) = 63
    // below the cap the new param is inert: byte-identical pair set to
    // the pre-two-level composition (buildKMeans at the derived k)
    val single = SimilaritySearch.semanticNearDupPairs(emb,
        cells = 8, iters = 2, threshold = 0.3, targetCellSize = 32L)
      .collect().map(_.toSeq).toSet
    val capped = SimilaritySearch.semanticNearDupPairs(emb,
        cells = 8, iters = 2, threshold = 0.3, targetCellSize = 32L,
        maxCellsPerLevel = 64) // ceil(500/32) = 16 <= 64: single level
      .collect().map(_.toSeq).toSet
    assert(capped === single)
    // beyond the cap: two-level engages (k = 63 > 32)
    val two = SimilaritySearch.semanticNearDupPairs(emb,
        cells = 8, iters = 2, threshold = 0.3, targetCellSize = 8L,
        maxCellsPerLevel = 32)
      .select("id_a", "id_b", "cosine")
      .as[(Long, Long, Double)].collect().toSeq
    assert(two.nonEmpty)
    assert(two.forall { case (a, b, c) => a < b && c > 0.3 })
    val brute = SimilaritySearch.nearDupPairs(
        emb.withColumn("__one", lit(1)), "__one", threshold = 0.3)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(two.map(p => (p._1, p._2)).toSet.subsetOf(brute))
    val again = SimilaritySearch.semanticNearDupPairs(emb.repartition(13),
        cells = 8, iters = 2, threshold = 0.3, targetCellSize = 8L,
        maxCellsPerLevel = 32)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(again === two.map(p => (p._1, p._2)).toSet)
  }

  test("k-means centroids are bit-identical across input partitioning " +
      "(fixed-point means)") {
    val emb = Tables.embeddings(spark, sf)
    def centroidsOf(parts: Int): Seq[(Long, Seq[Double])] =
      IvfIndex.buildKMeans(emb.repartition(parts), cells = 4, iters = 2)
        .centroids.select($"cell_id".cast("long"), $"centroid")
        .as[(Long, Seq[Double])].collect().sortBy(_._1).toSeq
    assert(centroidsOf(1) === centroidsOf(13))
  }

  test("int8 quantization: bounded error, high top-K agreement with fp32") {
    val emb = Tables.embeddings(spark, sf)
    val staged = emb
      .select($"vec_id", $"embedding", Similarity.int8Scale($"embedding").as("s"))
      .select($"vec_id", $"embedding", $"s",
        Similarity.int8Codes($"embedding", $"s").as("c"))
    // reconstruction error per element <= scale/2
    val maxErr = staged.select(max(array_max(zip_with(
        $"embedding".cast("array<double>"),
        transform($"c", x => x.cast("double") * $"s"),
        (x, r) => abs(x - r) - $"s" / 2)))).as[Double].head()
    assert(maxErr <= 1e-12, s"reconstruction error must be <= scale/2 (got excess $maxErr)")
    // int8 top-10 overlaps fp32 top-10 heavily on real embeddings
    val queries = emb.filter($"vec_id" < 3)
      .select($"vec_id".as("query_id"), $"embedding".as("query_embedding"))
    val exact = SimilaritySearch.topK(emb, queries, 10,
        metric = SimilaritySearch.Dot, excludeSelf = true)
      .select("query_id", "vec_id").as[(Long, Long)].collect().toSet
    val approx = SparkEntry.queries("q45_ann_int8_topk")(spark, sf)
      .filter($"vec_id" =!= $"query_id").filter($"query_id" < 3)
      .select("query_id", "vec_id").as[(Long, Long)].collect().toSet
    val recall = (exact & approx).size.toDouble / exact.size
    assert(recall >= 0.7, s"int8 top-K recall $recall too low")
  }

  test("IVF int8 search: probe-all equals brute-force int8 ranking") {
    val emb = Tables.embeddings(spark, sf)
    val idx = IvfIndex.build(emb, cells = 4)
    val queries = emb.filter($"vec_id" === 7)
      .select($"vec_id".as("query_id"), $"embedding".as("query_embedding"))
    val probeAll = idx.searchInt8(queries, k = 5, nProbe = 4)
      .select("vec_id").as[Long].collect().toSet
    // brute-force int8: same quantized scoring over the whole corpus
    val staged = emb
      .select($"vec_id", Similarity.int8Scale($"embedding").as("s"),
        $"embedding")
      .select($"vec_id", $"s", Similarity.int8Codes($"embedding", $"s").as("c"))
    val q = staged.filter($"vec_id" === 7)
      .select($"s".as("qs"), $"c".as("qc"))
    val brute = staged.crossJoin(broadcast(q))
      .select($"vec_id",
        (Similarity.dotInt8($"c", $"qc") * $"s" * $"qs").as("score"))
      .orderBy($"score".desc, $"vec_id".asc).limit(5)
      .select("vec_id").as[Long].collect().toSet
    assert(probeAll === brute)
  }

  test("int8 dot: generated code, interpreted eval and the kernel agree") {
    import org.apache.spark.sql.catalyst.InternalRow
    import org.apache.spark.sql.catalyst.expressions.{BoundReference, UnsafeArrayData}
    import org.apache.spark.sql.catalyst.expressions.codegen.GenerateMutableProjection
    import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
    import org.apache.spark.sql.types.{ArrayType, ByteType}
    val t = ArrayType(ByteType, containsNull = true)
    val dot = graft.expr.DotProductInt8(BoundReference(0, t, nullable = true),
      BoundReference(1, t, nullable = true))
    val generated = GenerateMutableProjection.generate(Seq(dot))
    def evalBoth(a: ArrayData, b: ArrayData): (Any, Any) = {
      val row = InternalRow(a, b)
      val g = generated(row)
      (dot.eval(row), if (g.isNullAt(0)) null else g.getLong(0))
    }
    val rnd = new scala.util.Random(7)
    val extremes = Seq(Array.fill(64)(127.toByte) -> Array.fill(64)(127.toByte),
      Array.fill(64)(-127.toByte) -> Array.fill(64)(127.toByte),
      Array.fill(64)(-127.toByte) -> Array.fill(64)(-127.toByte))
    val random = Seq(0, 1, 7, 64, 513).map { n =>
      def codes = Array.fill(n)((rnd.nextInt(255) - 127).toByte)
      codes -> codes
    }
    for ((a, b) <- extremes ++ random) {
      val expected = a.zip(b).map { case (x, y) => x.toLong * y }.sum
      val (ua, ub) = (UnsafeArrayData.fromPrimitiveArray(a), UnsafeArrayData.fromPrimitiveArray(b))
      assert(graft.functions.VectorKernels.dotInt8(ua, ub) === expected)
      assert(evalBoth(ua, ub) === ((expected, expected)))
      assert(evalBoth(new GenericArrayData(a), new GenericArrayData(b)) === ((expected, expected)))
    }
    // a dimension mismatch and a null element are null on both paths
    val two = UnsafeArrayData.fromPrimitiveArray(Array[Byte](1, 2))
    assert(evalBoth(two, UnsafeArrayData.fromPrimitiveArray(Array[Byte](1, 2, 3))) === ((null, null)))
    assert(evalBoth(two, new GenericArrayData(Array[Any](3.toByte, null))) === ((null, null)))
  }

  test("PQ: m codes per vector, ADC top-K overlaps exact dot top-K") {
    import graft.operators.PqIndex
    val emb = Tables.embeddings(spark, sf)
    val idx = PqIndex.build(emb, m = 8, k = 16)
    assert(idx.codes.count() === emb.count() * 8)
    assert(idx.codebook.count() === 8 * 16)
    val queries = emb.filter($"vec_id" < 3)
      .select($"vec_id".as("query_id"), $"embedding".as("query_embedding"))
    val exact = SimilaritySearch.topK(emb, queries, 10,
        metric = SimilaritySearch.Dot)
      .select("query_id", "vec_id").as[(Long, Long)].collect().toSet
    def recallOf(i: PqIndex): Double = {
      val approx = i.searchDot(queries, 10)
        .select("query_id", "vec_id").as[(Long, Long)].collect().toSet
      (exact & approx).size.toDouble / exact.size
    }
    val seedRecall = recallOf(idx)
    assert(seedRecall >= 0.15, s"seed PQ recall $seedRecall") // 32x compression
    val refined = recallOf(PqIndex.buildKMeans(emb, m = 8, k = 16, iters = 3))
    assert(refined >= seedRecall,
      s"k-means codebooks must not lose recall ($refined < $seedRecall)")
  }

  test("filters builder semantics (P7)") {
    val df = Seq((1, "abc", 5.0), (2, null, 15.0), (3, "xbcz", 25.0))
      .toDF("id", "s", "v")
    assert(df.filter(Filters.ex($"s")).count() === 2)
    assert(df.filter(Filters.search($"s", "bc")).count() === 2)
    assert(df.filter(Filters.nin($"s", "abc")).select("id").as[Int].collect().toSet
      === Set(2, 3)) // NIN keeps nulls (reference keyword-filter semantics)
    assert(df.filter(Filters.btw($"v", 5.0, 25.0)).count() === 1)
    assert(df.filter(Filters.btwe($"v", 5.0, 25.0)).count() === 3)
  }

  test("centroidSimilarity: aligned classes at cosine 1, orthogonal " +
      "at 0, opposed at -1; centroids partition-invariant") {
    import spark.implicits._
    // label 0 along +x (two points averaging to (2,0)), label 1 along
    // +x too, label 2 along +y, label 3 along -x
    val rows = Seq(
      (0, Array(1.0f, 0.0f)), (0, Array(3.0f, 0.0f)),
      (1, Array(5.0f, 0.0f)),
      (2, Array(0.0f, 2.0f)),
      (3, Array(-4.0f, 0.0f)))
    for (parts <- Seq(1, 3)) {
      val got = graft.operators.LinAlg.centroidSimilarity(
          rows.toDF("label", "embedding").repartition(parts),
          "label", "embedding")
        .select("label_a", "label_b", "n_a", "n_b", "cosine")
        .as[(Int, Int, Long, Long, Double)].collect()
        .map(t => (t._1, t._2) -> ((t._3, t._4, t._5))).toMap
      assert(got.size === 6, s"parts=$parts")
      assert(got((0, 1)) === ((2L, 1L, 1.0)))
      assert(got((0, 2))._3 === 0.0)
      assert(got((0, 3))._3 === -1.0)
      assert(got((2, 3))._3 === 0.0)
    }
  }

  test("knnLabelConsistency: matches a brute-force kNN vote when " +
      "blocking is trivial (cells=1); clean clusters score 1.0") {
    import spark.implicits._
    val rnd = new scala.util.Random(41)
    // two tight clusters + a handful of strays with the wrong label
    val rows = (0 until 30).map { i =>
      val lbl = i % 2
      val base = if (lbl == 0) Array(10.0f, 0.0f) else Array(0.0f, 10.0f)
      (i.toLong, lbl,
        Array(base(0) + rnd.nextFloat() * 0.1f,
          base(1) + rnd.nextFloat() * 0.1f))
    } ++ Seq((100L, 0, Array(0.0f, 9.0f)), (101L, 1, Array(9.0f, 0.0f)))
    val df = rows.toDF("vec_id", "label", "embedding")
    val k = 5
    val got = SimilaritySearch.knnLabelConsistency(
        df, cells = 1, iters = 1, k = k)
      .as[(Int, Long, Long, Double)].collect()
      .map(t => t._1 -> t).toMap
    // naive brute force over all pairs
    def cos(a: Array[Float], b: Array[Float]): Double = {
      val (x, y) = (a.map(_.toDouble), b.map(_.toDouble))
      val dot = x.zip(y).map { case (p, q) => p * q }.sum
      dot / (math.sqrt(x.map(v => v * v).sum) *
        math.sqrt(y.map(v => v * v).sum))
    }
    val naive = rows.map { case (id, own, emb) =>
      val nbs = rows.filter(_._1 != id)
        .map { case (nid, nl, ne) => (cos(emb, ne), nid, nl) }
        .sortBy(t => (-t._1, t._2)).take(k)
      val votes = nbs.groupBy(_._3).map { case (l, g) => (l, g.size) }
      val pred = votes.toSeq.sortBy(t => (-t._2, t._1)).head._1
      (own, pred)
    }
    val expect = naive.groupBy(_._1).map { case (l, g) =>
      l -> ((l, g.size.toLong, g.count(t => t._2 == t._1).toLong,
        g.count(t => t._2 == t._1).toDouble / g.size)) }
    assert(got === expect)
    // the strays sit inside the other cluster -> both labels < 1.0
    assert(got(0)._4 < 1.0 && got(1)._4 < 1.0)
    // and the clean majority still dominates
    assert(got(0)._4 > 0.8 && got(1)._4 > 0.8)
  }
}
