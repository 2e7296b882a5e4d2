package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Ascending, AttributeReference, BindReferences,
  BoundReference, Descending, Expression, GenericInternalRow, InterpretedOrdering, SortDirection,
  SortOrder}
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.graftbridge.PlanBridge
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, IntegerType}

import graft.functions.{Similarity, VectorKernels}

/** Driver-side tier of [[IvfIndex.searchInt8]]: answers a top-k whose
  * query set is local data from one snapshot of a stored int8 index
  * held on the driver — the reference's in-process vector backends
  * (skye's in-memory NGT/Eigenix collections, SURVEY §0/§3.5).
  *
  * A snapshot holds the centroids and, per cell, the (id, scale, code)
  * rows, in a [[SnapshotCache]]. A call probes each query's `nProbe`
  * nearest cells (distance asc, `cell_id` asc), scores their rows as
  * `(dotInt8(code, queryCode) * scale) * queryScale` with the shared
  * [[VectorKernels.dotInt8]] kernel, and keeps the k best by the
  * ordering of [[SimilaritySearch.rankTopK]]'s window (score desc,
  * id asc, 1-based `rank`). The query staging (`int8Scale`,
  * `int8Codes`) is the scan path's own projection, folded by Catalyst;
  * the centroid distance is the scan path's `euclidean` expression and
  * both rankings use Catalyst's interpreted ordering for the scan
  * path's `SortOrder`s, so NaN and null sort as Spark sorts them and
  * every score is bit-identical. The answer is a `LocalRelation` with
  * the scan path's output attributes; collecting it launches no job.
  */
private[graft] object IvfTier {

  private[graft] val cache = new SnapshotCache[Snapshot](SnapshotCache.MaxEntries)

  /** A corpus row; `code` is null when every score with it is null
    * (null scale or code, or a null code element). */
  private[operators] final class Vec(val id: Any, val scale: Double, val code: ArrayData)

  private[operators] final class Snapshot(
      val centroids: Array[InternalRow], // (cell_id, probe key, centroid), cell order
      val cells: Map[Any, Array[Vec]],   // probe key → the cell's rows
      val distance: Expression,          // euclidean over (query embedding, centroid)
      val probeOrder: Ordering[InternalRow],
      val rankOrder: Ordering[InternalRow])

  /** The top-k of the `staged` queries (query id, `array<double>`
    * embedding, `__qs`, `__qc`) over `corpus` (id, `cell_id`, `__s`,
    * `__c`) probing the index's `centroids` (`cell_id`, `centroid`),
    * or `None` when the call is not eligible: the staged queries are
    * not local data, a query id is null, repeated or of a type whose
    * value equality is not Spark's, a query embedding is null, or the
    * corpus or centroids are not [[SnapshotCache.fitsDriver]]. */
  def searchInt8(staged: DataFrame, corpus: DataFrame, centroids: DataFrame,
      k: Int, nProbe: Int): Option[DataFrame] = for {
    q <- SnapshotCache.localRelation(staged)
    qIdType = q.output.head.dataType
    // (cell_id, probe key, centroid): the key is cell_id cast to the
    // corpus type, as IvfIndex.probe casts it for the scan path's join
    cents = IvfIndex.boundedCentroids(centroids).select(col("cell_id"),
      col("cell_id").cast(corpus.schema(1).dataType), col("centroid"))
    if LookupTier.keyType(qIdType) &&
      q.data.forall(r => !r.isNullAt(0) && !r.isNullAt(1)) &&
      q.data.map(_.get(0, qIdType)).distinct.size == q.data.size &&
      SnapshotCache.fitsDriver(corpus) && SnapshotCache.fitsDriver(cents)
  } yield {
    val corpusPlan = corpus.queryExecution.optimizedPlan
    val snap = cache.get(SnapshotCache.key(corpus, cents),
        corpusPlan.stats.sizeInBytes + cents.queryExecution.optimizedPlan.stats.sizeInBytes) {
      build(corpus, cents)
    }
    val out = Seq(q.output.head, corpusPlan.output.head,
      AttributeReference("score", DoubleType, nullable = true)(),
      AttributeReference("rank", IntegerType, nullable = false)())
    PlanBridge.dataFrame(staged.sparkSession,
      LocalRelation(out, q.data.flatMap(topK(snap, _, qIdType, k, nProbe))))
  }

  private def build(corpus: DataFrame, centroids: DataFrame): Snapshot = {
    val (idType, cellType) = (corpus.schema(0).dataType, corpus.schema(1).dataType)
    val centroidTypes = centroids.schema.map(_.dataType)
    val cells = PlanBridge.collectInternal(corpus)
      .groupBy(r => if (r.isNullAt(1)) null else r.get(1, cellType)) - null
    val q = AttributeReference("q", ArrayType(DoubleType))()
    val c = AttributeReference("c", centroidTypes(2))()
    val distance = PlanBridge.dataFrame(corpus.sparkSession, LocalRelation(q, c))
      .select(Similarity.euclidean(col("q"), col("c"))).queryExecution.analyzed.expressions.head
    new Snapshot(
      PlanBridge.collectInternal(centroids).map(r => new GenericInternalRow(
        Array.tabulate[Any](3)(i => if (r.isNullAt(i)) null else r.get(i, centroidTypes(i))))),
      cells.map { case (cell, rows) => cell -> rows.map(vec(_, idType)) },
      BindReferences.bindReference(distance, Seq(q, c)),
      ordering(Seq(DoubleType -> Ascending, centroidTypes.head -> Ascending)),
      ordering(Seq(DoubleType -> Descending, idType -> Ascending)))
  }

  private def vec(r: InternalRow, idType: DataType): Vec = {
    val usable = !r.isNullAt(2) && !r.isNullAt(3) && !hasNull(r.getArray(3))
    new Vec(if (r.isNullAt(0)) null else r.get(0, idType),
      if (usable) r.getDouble(2) else 0.0, if (usable) r.getArray(3) else null)
  }

  private def hasNull(a: ArrayData): Boolean = (0 until a.numElements()).exists(a.isNullAt)

  /** Catalyst's interpreted ordering over rows of the given column
    * types, each sorted in the given direction with its default null
    * ordering (`asc` nulls first, `desc` nulls last). */
  private def ordering(cols: Seq[(DataType, SortDirection)]): Ordering[InternalRow] =
    new InterpretedOrdering(cols.zipWithIndex.map { case ((t, dir), i) =>
      SortOrder(BoundReference(i, t, nullable = true), dir)
    })

  /** One staged query's output rows: (query id, id, score, rank). */
  private def topK(snap: Snapshot, query: InternalRow, qIdType: DataType,
      k: Int, nProbe: Int): Seq[InternalRow] = {
    val emb = query.getArray(1)
    // null when every score of this query is null, like a corpus Vec
    val qc = if (query.isNullAt(2) || query.isNullAt(3) || hasNull(query.getArray(3))) null
      else query.getArray(3)
    val qs = if (qc == null) 0.0 else query.getDouble(2)
    val probed = snap.centroids.map { c =>
      val d = snap.distance.eval(new GenericInternalRow(Array[Any](emb, c.getArray(2))))
      new GenericInternalRow(Array[Any](d, c.get(0, null), c.get(1, null)))
    }.sorted(snap.probeOrder).take(math.max(nProbe, 0))
    // the k best by rankOrder; the heap's head is the worst kept
    val heap = new java.util.PriorityQueue[InternalRow](snap.rankOrder.reverse)
    if (k > 0) for (cell <- probed if !cell.isNullAt(2);
        v <- snap.cells.getOrElse(cell.get(2, null), Array.empty[Vec])) {
      val score =
        if (qc == null || v.code == null || v.code.numElements() != qc.numElements()) null
        else (VectorKernels.dotInt8(v.code, qc).toDouble * v.scale) * qs
      val row = new GenericInternalRow(Array[Any](score, v.id))
      if (heap.size < k) heap.add(row)
      else if (snap.rankOrder.lt(row, heap.peek())) { heap.poll(); heap.add(row) }
    }
    val qid = query.get(0, qIdType)
    Array.fill(heap.size)(heap.poll()).reverse.toSeq.zipWithIndex.map { case (r, i) =>
      new GenericInternalRow(Array[Any](qid, r.get(1, null), r.get(0, null), i + 1))
    }
  }
}
