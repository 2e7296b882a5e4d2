package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.ColumnBridge
import graft.expr.{GramMatrix, VectorSumCount}

/** Dataset-level linear algebra over embedding columns: the exact
  * fixed-point Gram matrix Xᵀ·X (and the covariance that derives from
  * it) — the statistics PCA/whitening/OPQ rotations are fit from.
  *
  * == Scale design ==
  * One aggregation pass: each map task folds its rows into a
  * d(d+1)/2-long triangle buffer ([[graft.expr.GramMatrix]]), the
  * shuffle carries one buffer per task, the final merge adds
  * triangles. No explode, no d²-row inflation, no float
  * non-determinism (micro-unit integer math is exact and
  * order-independent — see the quantization bound in the kernel doc).
  */
object LinAlg {

  /** Fixed-point quantization of a float/double vector to micro-unit
    * longs: `floor(x * 10^scale)` per element. `floor` (not round) —
    * its semantics are identical in every engine. */
  def microVec(vec: Column, scale: Int = 6): Column =
    transform(vec, x => floor(x.cast("double") * math.pow(10, scale).toLong)
      .cast("long"))

  /** Upper-triangle Gram matrix of a micro-quantized vector column as
    * (i, j, g) rows, 1-based indices, j ≥ i; `g` is the exact integer
    * Σ xᵢ·xⱼ in micro²-units. One aggregate pass + a single-row
    * posexplode of the d² result. */
  def gramUpper(df: DataFrame, microCol: Column): DataFrame = {
    val g = df.agg(ColumnBridge.column(
      GramMatrix(ColumnBridge.expression(microCol)).toAggregateExpression())
      .as("__g"))
    val d = sqrt(size(col("__g")).cast("double")).cast("int")
    g.select(col("__g"), d.as("__d"))
      .select(posexplode(col("__g")).as(Seq("__pos", "g")), col("__d"))
      .select((col("__pos") / col("__d")).cast("int").as("i"),
        (col("__pos") % col("__d")).cast("int").as("j"), col("g"))
      .filter(col("j") >= col("i"))
      .select((col("i") + 1).as("i"), (col("j") + 1).as("j"), col("g"))
  }

  /** Exact vector (sums, counts) aggregate over a micro-quantized
    * column — see [[graft.expr.VectorSumCount]]. */
  def vectorSumCount(microCol: Column): Column =
    ColumnBridge.column(
      VectorSumCount(ColumnBridge.expression(microCol)).toAggregateExpression())

  /** Group mean-pooling of an embedding column (user profile = mean of
    * item vectors, doc vector = mean of chunk vectors): per-group
    * elementwise average, reproducible to the bit.
    *
    * Floats quantize to micro-unit longs first ([[microVec]]), the
    * aggregate sums exactly (order-independent), and ONE double
    * division per element at the end recovers the mean — so the result
    * never depends on partitioning or merge order, unlike a naive
    * float `sum`. Null elements follow SQL AVG (skip, per position);
    * a position with no non-null contributions yields null.
    *
    * == Scale ==
    * One aggregation pass, 2·d longs per group across the shuffle.
    */
  def meanPool(
      df: DataFrame,
      groupCols: Seq[String],
      embCol: String,
      scale: Int = 6,
      outCol: String = "mean_embedding"): DataFrame = {
    val factor = math.pow(10, scale)
    df.select(groupCols.map(col) :+ microVec(col(embCol), scale).as("__m"): _*)
      .groupBy(groupCols.map(col): _*)
      .agg(vectorSumCount(col("__m")).as("__sc"))
      .select(groupCols.map(col) :+
        zip_with(col("__sc.sums"), col("__sc.counts"),
          (s, c) => when(c === 0L, lit(null))
            .otherwise(s.cast("double") / (c.cast("double") * lit(factor))))
          .as(outCol): _*)
  }

  /** Embedding→group-centroid cosine, ranked ascending (SemDeDup-style
    * curation signal): the group centroid is the exact fixed-point
    * mean ([[meanPool]], bit-reproducible), broadcast back to members;
    * each member scores cosine(vec, centroid). The k lowest-similarity
    * members per group are the outliers a quality pipeline drops or
    * audits; the same score descending finds redundant near-centroid
    * duplicates.
    *
    * == Scale ==
    * One aggregation pass for centroids (2·d longs per group over the
    * shuffle), then a broadcast join (centroid table is #groups rows —
    * never shuffle the corpus to meet it), a codegen'd cosine, and a
    * per-group top-k window. */
  def centroidOutliers(
      df: DataFrame,
      groupCols: Seq[String],
      embCol: String,
      idCol: String,
      k: Int,
      scale: Int = 6): DataFrame = {
    import graft.functions.Similarity
    import org.apache.spark.sql.expressions.Window
    val cent = meanPool(df, groupCols, embCol, scale)
    val w = Window.partitionBy(groupCols.map(col): _*)
      .orderBy(col("cos_centroid").asc, col(idCol).asc)
    df.select((idCol +: groupCols).map(col) :+ col(embCol): _*)
      .join(broadcast(cent), groupCols)
      .withColumn("cos_centroid",
        Similarity.cosine(col(embCol), col("mean_embedding")))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select((idCol +: groupCols).map(col) :+
        col("cos_centroid") :+ col("rank"): _*)
  }

  /** Pairwise cosine between class centroids — the class-separability
    * audit run before training a classifier on an embedding space
    * (two labels whose centroids sit at cosine ≈ 1 are
    * indistinguishable to a linear probe; a confusable-pair list IS
    * this table sorted descending). Centroids are [[meanPool]]'s
    * exact fixed-point means, so the cosine of two centroids is one
    * fixed IEEE chain over engine-exact inputs.
    *
    * == Scale ==
    * One fixed-point centroid aggregate over the data; the pair join
    * runs on the |labels|-row centroid table only (broadcast self-join
    * a < b) — never a data-sized pair fan-out. Output:
    * `(label_a, label_b, n_a, n_b, cosine)`. */
  def centroidSimilarity(
      df: DataFrame,
      labelCol: String,
      embCol: String,
      maxLabels: Int = graft.PlanAudit.BoundedBuildRows,
      allowTruncate: Boolean = false): DataFrame = {
    import graft.functions.Similarity
    // the pairwise product is quadratic in the LABEL set — enforce the
    // bound on the plan spine (orderBy+limit, provable to PlanAudit)
    // rather than assuming class counts stay small. The trim is LOUD
    // by default ([[Bounds.guardCap]]): a label set beyond the cap
    // fails the job unless `allowTruncate = true` accepts losing the
    // highest labels — maxLabels = 0 disables the trim entirely (audit
    // then needs a reviewed allowance). Scale table: graft.ScaleProfile.
    val cent0 = meanPool(df, Seq(labelCol), embCol)
      .join(df.groupBy(col(labelCol)).agg(count(lit(1)).as("__n")),
        Seq(labelCol))
    val cent =
      if (maxLabels > 0) cent0.orderBy(col(labelCol)).limit(maxLabels)
      else cent0
    val pairs = cent.as("a").join(broadcast(cent.as("b")),
        col(s"a.$labelCol") < col(s"b.$labelCol"))
      .select(col(s"a.$labelCol").as("label_a"),
        col(s"b.$labelCol").as("label_b"),
        col("a.__n").as("n_a"), col("b.__n").as("n_b"),
        Similarity.cosine(col("a.mean_embedding"),
          col("b.mean_embedding")).as("cosine"))
    if (maxLabels > 0 && !allowTruncate)
      Bounds.guardCap(pairs, Bounds.census(cent0), maxLabels,
        "LinAlg.centroidSimilarity label set")
    else pairs
  }

  /** Matryoshka-truncation audit: how much of each vector's squared
    * norm the first k dimensions capture, averaged (and worst-cased)
    * over the corpus, for a ladder of prefix lengths. The
    * go/no-go measurement before serving truncated (MRL-style)
    * embeddings: a prefix that holds ~99% of the energy keeps cosine
    * rankings nearly intact at a fraction of the ANN index cost.
    *
    * Per-vector fractions floor to micro-units (exact integer
    * averaging, any engine); energies use the shared ascending-index
    * dot fold. Plan: `prefixes.length` cheap projections over one
    * scan (explode of a tiny literal ladder), one aggregate — no
    * d²-anything, no shuffle beyond the final k-row aggregate. */
  def matryoshkaAudit(embeddings: DataFrame, vecCol: String,
      prefixes: Seq[Int]): DataFrame = {
    import graft.functions.Similarity
    val v = col(vecCol).cast("array<double>")
    val total = Similarity.dot(v, v)
    val perK = explode(array(prefixes.map(lit): _*)).as("k")
    embeddings
      .select(col("*"), perK)
      .withColumn("__pref",
        Similarity.dot(slice(v, lit(1), col("k")),
          slice(v, lit(1), col("k"))))
      .withColumn("__frac_micro",
        floor(col("__pref") / total * 1e6).cast("long"))
      .groupBy(col("k"))
      .agg(count(lit(1)).as("n_vecs"),
        round(sum(col("__frac_micro")).cast("double") /
          (count(lit(1)).cast("double") * 1e6), 6).as("avg_energy_frac"),
        (min(col("__frac_micro")).cast("double") / 1e6)
          .as("min_energy_frac"))
  }
}
