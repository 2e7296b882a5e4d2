package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.ColumnBridge
import graft.functions.Similarity

/** Product quantization (Jégou et al., "Product Quantization for
  * Nearest Neighbor Search", PAMI'11): vectors split into `m`
  * subvectors, each encoded as the id of its nearest codeword from a
  * per-subspace codebook of `k` entries → `m` small codes per vector
  * (dim·4 bytes → m bytes: 32× compression at dim 64, m 8).
  *
  * Scoring is asymmetric (ADC): the query builds an (m × k)
  * lookup table of subvector dot products, and a candidate's score is
  * the sum of `m` table lookups — no decompression.
  *
  * Codebooks here are a deterministic id-sample of the corpus (the
  * same convention as [[IvfIndex.build]] — k-means refinement drops in
  * per subspace), so encode + score reproduce bit-identically in the
  * SQL oracle. Everything is joins on the tiny codebook: one broadcast
  * join to encode, one to build the query LUT, one equi-join on
  * (subspace, code) to score.
  */
final case class PqIndex(
    codebook: DataFrame,  // j, cid, centroid (array<double> of subDim)
    codes: DataFrame,     // vec_id, j, code
    m: Int,
    k: Int,
    subDim: Int) {

  /** Top-`kResults` by ADC dot-product score per query, optionally
    * restricted to an IVF probe's candidates: the full composition —
    * directory-prunable cell filter × 32×-compressed payload — scores
    * only `nProbe` cells' vectors through the m-lookup table. */
  def searchDotIvf(
      ivf: IvfIndex,
      queries: DataFrame,
      kResults: Int,
      nProbe: Int = 2,
      idCol: String = "vec_id",
      queryIdCol: String = "query_id",
      queryEmbCol: String = "query_embedding"): DataFrame = {
    val qCells = ivf.probe(queries.select(col(queryIdCol),
        col(queryEmbCol).cast("array<double>").as(queryEmbCol)),
      nProbe, queryIdCol, queryEmbCol)
      .select(col(queryIdCol), col("cell_id"))
    val cand = ivf.assigned.select(col(idCol), col("cell_id"))
      .join(qCells, "cell_id")
      .select(col(queryIdCol), col(idCol))
    searchDot(queries, kResults, queryIdCol, queryEmbCol,
      candidates = Some(cand))
  }

  /** Top-`kResults` by ADC dot-product score per query. */
  def searchDot(
      queries: DataFrame,
      kResults: Int,
      queryIdCol: String = "query_id",
      queryEmbCol: String = "query_embedding",
      candidates: Option[DataFrame] = None): DataFrame = {
    val qsv = PqIndex.explodeSubspaces(
      queries.select(col(queryIdCol),
        col(queryEmbCol).cast("array<double>").as(queryEmbCol)),
      queryEmbCol, m, subDim, "__qsub")
    val lut = qsv.join(broadcast(codebook), "j")
      .select(col(queryIdCol).as("__lq"), col("j").as("__lj"), col("cid"),
        Similarity.dot(col("__qsub"), col("centroid")).as("__v"))
    // sum the m lookups in fixed subspace order (deterministic fp sum)
    val parts = (0 until m).map(j =>
      max(when(col("j") === j, col("__v"))).as(s"__v$j"))
    val scoredCodes = candidates match {
      case Some(cand) => codes.join(cand, "vec_id") // + queryIdCol column
      case None       => codes
    }
    val joinCond = col("j") === col("__lj") && col("code") === col("cid") &&
      (if (candidates.isDefined) col(queryIdCol) === col("__lq") else lit(true))
    val scored = scoredCodes.join(broadcast(lut), joinCond)
      .groupBy(col("__lq"), col("vec_id"))
      .agg(parts.head, parts.tail: _*)
      .select(col("__lq").as(queryIdCol), col("vec_id"),
        (0 until m).map(j => col(s"__v$j")).reduce(_ + _).as("score"))
    SimilaritySearch.rankTopK(scored, kResults, queryIdCol, "vec_id")
  }

  /** Per-vector quantization distortion audit: the squared L2 distance
    * between each original embedding and its code reconstruction
    * (concatenated nearest codewords) — the number OPQ's rotation and
    * k-means refinement exist to shrink. Reported in micro-units
    * (`floor(err·1e6)`) so the figure is engine-exact: each subspace
    * distance is the fixed-order [[graft.expr.SquaredDistance]] fold,
    * and the m terms sum in subspace order ([[searchDot]]'s pivot
    * trick), so the ONE floor sees the identical double everywhere.
    *
    * Scale: one pass over the corpus (subspace explode is a row-local
    * ×m fan-out of subDim-sized slices), one broadcast of the
    * m·k-row codebook, one equi-join with the stored codes on
    * (id, subspace) — no shuffle wider than the codes table.
    * Output: `(idCol, recon_err_micro)`. */
  def reconstructionError(
      corpus: DataFrame,
      idCol: String = "vec_id",
      embCol: String = "embedding"): DataFrame = {
    val sv = PqIndex.explodeSubspaces(
      corpus.select(col(idCol), col(embCol).cast("array<double>").as(embCol)),
      embCol, m, subDim, "__sub")
    val cb = codebook.select(col("j").as("__cj"), col("cid").as("__cc"),
      col("centroid"))
    val per = sv.join(codes, Seq(idCol, "j"))
      .join(broadcast(cb), col("j") === col("__cj") && col("code") === col("__cc"))
      .select(col(idCol), col("j").as("__j"),
        PqIndex.sqDist(col("__sub"), col("centroid")).as("__e"))
    val parts = (0 until m).map(j =>
      max(when(col("__j") === j, col("__e"))).as(s"__e$j"))
    per.groupBy(col(idCol))
      .agg(parts.head, parts.tail: _*)
      .select(col(idCol),
        floor((0 until m).map(j => col(s"__e$j")).reduce(_ + _) * 1e6)
          .cast("long").as("recon_err_micro"))
  }
}

object PqIndex {

  private[operators] def explodeSubspaces(
      df: DataFrame, embCol: String, m: Int, subDim: Int,
      subName: String): DataFrame =
    df.withColumn("j", explode(sequence(lit(0), lit(m - 1))))
      .withColumn(subName,
        slice(col(embCol), col("j") * subDim + 1, lit(subDim)))
      .drop(embCol)

  private def sqDist(a: Column, b: Column): Column =
    ColumnBridge.column(graft.expr.SquaredDistance(
      ColumnBridge.expression(a), ColumnBridge.expression(b)))

  /** Nearest-codeword assignment per (vector, subspace). */
  private def assign(sv: DataFrame, codebook: DataFrame, idCol: String): DataFrame =
    sv.join(broadcast(codebook), "j")
      .withColumn("__d", sqDist(col("__sub"), col("centroid")))
      .withColumn("__r", row_number().over(
        Window.partitionBy(col(idCol), col("j"))
          .orderBy(col("__d").asc, col("cid").asc)))
      .filter(col("__r") === 1)
      .select(col(idCol), col("j"), col("cid").as("code"))

  private def prepared(corpus: DataFrame, m: Int, k: Int,
      idCol: String, embCol: String): (DataFrame, DataFrame, Int) = {
    import corpus.sparkSession.implicits._
    val dim = corpus.select(size(col(embCol))).as[Int].head()
    require(dim % m == 0, s"dim $dim must divide into $m subspaces")
    val subDim = dim / m
    val n = corpus.count()
    val stride = math.max(n / k, 1L)
    val base = corpus.select(col(idCol),
      col(embCol).cast("array<double>").as(embCol))
    val seed = explodeSubspaces(
        base.filter(col(idCol) % stride === 0 && col(idCol) < stride * k)
          .select((col(idCol) / stride).cast("long").as("cid"), col(embCol)),
        embCol, m, subDim, "centroid")
      .select(col("j"), col("cid"), col("centroid"))
    (explodeSubspaces(base, embCol, m, subDim, "__sub"), seed, subDim)
  }

  /** Build with per-subspace codebooks sampled at ids ≡ 0 (mod n/k). */
  def build(
      corpus: DataFrame,
      m: Int,
      k: Int,
      idCol: String = "vec_id",
      embCol: String = "embedding"): PqIndex = {
    val (sv, codebook, subDim) = prepared(corpus, m, k, idCol, embCol)
    PqIndex(codebook, assign(sv, codebook, idCol), m, k, subDim)
  }

  /** Variance-balanced dimension permutation (OPQ-lite): the
    * parametric/allocation end of Ge et al., "Optimized Product
    * Quantization" (CVPR'13) without the learned rotation — dimensions
    * are ranked by variance and dealt to subspaces in snake order, so
    * every subspace carries a comparable variance budget. Plain PQ on
    * naturally-ordered data can put all high-variance dimensions in one
    * subspace whose k codewords then carry most of the distortion;
    * balancing the allocation spreads that budget, which is where most
    * of OPQ's recall gain at fixed code size comes from.
    *
    * Per-dimension moments use the decimal-exact [[graft.OracleMath]]
    * sums, so the ranking (and thus the permutation) is identical on
    * any engine and any partitioning. Returns `perm` where
    * `perm(newPos) = oldPos` (0-based); the permutation is dim-sized
    * metadata — collect it once, apply it as a row-local projection.
    */
  def varianceBalancedPerm(
      corpus: DataFrame,
      m: Int,
      embCol: String = "embedding"): Seq[Int] = {
    import corpus.sparkSession.implicits._
    import graft.OracleMath.xsum
    val ranked = corpus
      .select(posexplode(col(embCol).cast("array<double>")).as(Seq("pos", "x")))
      .groupBy(col("pos"))
      .agg(xsum(col("x"), 6).as("s1"), xsum(col("x") * col("x"), 9).as("s2"),
        count(lit(1)).as("n"))
      .select(col("pos"),
        (col("s2") / col("n") - (col("s1") / col("n")) * (col("s1") / col("n")))
          .as("v"))
      .orderBy(col("v").desc, col("pos").asc)
      .select("pos").as[Int].collect()
    val dim = ranked.length
    require(dim % m == 0, s"dim $dim must divide into $m subspaces")
    val subDim = dim / m
    val perm = new Array[Int](dim)
    ranked.indices.foreach { r =>
      val slot = r / m
      val j = if (slot % 2 == 0) r % m else m - 1 - (r % m)
      perm(j * subDim + slot) = ranked(r)
    }
    perm.toSeq
  }

  /** Apply a [[varianceBalancedPerm]] permutation as a row-local
    * projection (no shuffle, no join — the permutation is a literal). */
  def permuted(emb: Column, perm: Seq[Int]): Column =
    transform(lit(perm.map(_ + 1).toArray), i => element_at(emb, i))

  /** Lloyd's refinement of every subspace codebook in one joint loop:
    * assignment is a broadcast join, means via [[LinAlg.meanPool]]'s
    * exact fixed-point aggregate keyed (j, cid) — partition-invariant
    * codebooks, 2·subDim longs per codeword across the shuffle. Empty
    * codewords keep their previous centroid. */
  def buildKMeans(
      corpus: DataFrame,
      m: Int,
      k: Int,
      iters: Int = 5,
      idCol: String = "vec_id",
      embCol: String = "embedding"): PqIndex = {
    val (sv0, seed, subDim) = prepared(corpus, m, k, idCol, embCol)
    val sv = sv0.localCheckpoint()
    var codebook = seed.localCheckpoint()
    var i = 0
    while (i < iters) {
      val means = LinAlg.meanPool(
        assign(sv, codebook, idCol)
          .join(sv, Seq(idCol, "j"))
          .select(col("j"), col("code").as("cid"), col("__sub")),
        Seq("j", "cid"), "__sub", outCol = "centroid")
      codebook = codebook.select(col("j"), col("cid"), col("centroid").as("__prev"))
        .join(means, Seq("j", "cid"), "left")
        .select(col("j"), col("cid"),
          coalesce(col("centroid"), col("__prev")).as("centroid"))
        .localCheckpoint()
      i += 1
    }
    PqIndex(codebook, assign(sv, codebook, idCol), m, k, subDim)
  }
}
