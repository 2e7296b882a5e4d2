package graft.operators

import scala.collection.immutable.ArraySeq
import scala.collection.mutable

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Attribute, GenericInternalRow}
import org.apache.spark.sql.catalyst.plans.logical.{LocalRelation, LogicalPlan}
import org.apache.spark.sql.graftbridge.PlanBridge
import org.apache.spark.sql.types._

/** Driver-side lookup tier of [[FeatureStore]]: answers a point
  * retrieve whose key set is local data from a hash index of the
  * (small, file- or local-backed) feature table held on the driver,
  * and joins retrieve results that are all local data on the driver —
  * the reference's in-memory tier in front of the store
  * (`online-feature-store/internal/handler/feature/retrieve.go:111-276`).
  *
  * Every answer is a `LocalRelation`, so the caller's projections fold
  * into it at optimization and collecting it launches no Spark job.
  * Semantics are those of the scan path's joins, row for row: the
  * result is built as `keys ⋈left (dedup(keys) ⋈left index)`, the same
  * two left joins [[FeatureStore.retrieve]] plans, with the same
  * output attributes and nullability.
  *
  * Eligibility (anything else returns `None` and takes the scan path):
  *  - the key set's optimized plan is a non-streaming `LocalRelation`;
  *  - every key column has the same type on both sides and is integral,
  *    string (binary collation), date or timestamp — types whose
  *    Catalyst value equality is Spark's join equality (floating point
  *    and binary keys are not: joins normalize NaN/-0.0 and compare
  *    bytes);
  *  - the projected table's optimized plan is deterministic, free of
  *    subqueries, reads only file relations or local data, and its
  *    estimated size is at most `spark.sql.autoBroadcastJoinThreshold`
  *    — the bound Spark already trusts to hold a table in memory.
  *
  * The index of one table snapshot lives in a [[SnapshotCache]] (keyed
  * by the canonicalized optimized plan plus its input-file set, so a
  * rewrite — an `Ingest.upsertBatch` swap, a re-saved bucketed table —
  * is never served stale, and by the key columns it is grouped by, so
  * two retrieves that project the same table under different pks
  * never share an index). At most [[SnapshotCache.MaxEntries]] indexes
  * are held, least recently used evicted first; concurrent callers of
  * one snapshot wait for a single build.
  */
private[graft] object LookupTier {

  /** One snapshot's index: non-null key → its table rows. */
  private[graft] val cache =
    new SnapshotCache[Map[Any, Seq[InternalRow]]](SnapshotCache.MaxEntries)

  /** `keys ⋈left features-of(dedup(keys))`, projected by `resolve`, for
    * a local key set against an eligible `table` (pk + feature columns);
    * `None` when the call is not eligible. `resolve` maps the per-key
    * rows (key columns + nullable table columns) to key + feature
    * columns, exactly as on the scan path. */
  def retrieve(keys: DataFrame, table: DataFrame, pk: Seq[String],
      resolve: DataFrame => DataFrame): Option[DataFrame] = {
    val spark = keys.sparkSession
    for {
      kr <- SnapshotCache.localRelation(keys)
      tablePlan = table.queryExecution.optimizedPlan
      keyAttrs <- attrs(kr.output, pk)
      tableKeyAttrs <- attrs(tablePlan.output, pk)
      if keyAttrs.map(_.dataType) == tableKeyAttrs.map(_.dataType) &&
        keyAttrs.forall(a => keyType(a.dataType)) &&
        SnapshotCache.fitsDriver(table)
    } yield {
      val index = snapshotIndex(table, tablePlan, tableKeyAttrs)
      // dedup(keys): a null key matches nothing in the final join, so it
      // needs no per-key row
      val keyOf = keyFn(kr.output, keyAttrs)
      val seen = mutable.HashSet.empty[Any]
      val dedupKeys = kr.copy(data = kr.data.filter { k =>
        val key = keyOf(k)
        key != null && seen.add(key)
      })
      val perKey = leftJoin(dedupKeys, tablePlan.output, pk, index.getOrElse(_, Nil))
      val resolved = toLocal(resolve(PlanBridge.dataFrame(spark, perKey)))
      PlanBridge.dataFrame(spark, leftJoin(kr, resolved, pk))
    }
  }

  /** `parts` joined left-to-right on `pk` as `FeatureStore.stitch` does,
    * when every part is local data with matching eligible key types. */
  def stitch(pk: Seq[String], parts: Seq[DataFrame]): Option[DataFrame] = {
    val locals = parts.flatMap(SnapshotCache.localRelation)
    val keyTypes = locals.map(r => attrs(r.output, pk).map(_.map(_.dataType)))
    Option.when(parts.nonEmpty && locals.size == parts.size &&
        keyTypes.forall(_ == keyTypes.head) && keyTypes.head.exists(_.forall(keyType))) {
      PlanBridge.dataFrame(parts.head.sparkSession, locals.reduce(leftJoin(_, _, pk)))
    }
  }

  private def leftJoin(left: LocalRelation, right: LocalRelation, pk: Seq[String]): LocalRelation = {
    val byKey = right.data.groupBy(keyFn(right.output, attrs(right.output, pk).get))
    leftJoin(left, right.output, pk, byKey.getOrElse(_, Nil))
  }

  /** `left ⋈left right USING (pk)` on the driver, where `rightRows`
    * gives the right rows of a non-null key, with the output attributes
    * the analyzer gives that join: left key columns, the rest of left,
    * then the rest of right made nullable. A null key component
    * matches nothing. */
  private def leftJoin(left: LocalRelation, rightOutput: Seq[Attribute], pk: Seq[String],
      rightRows: Any => Seq[InternalRow]): LocalRelation = {
    val lk = attrs(left.output, pk).get
    val rk = attrs(rightOutput, pk).get
    val lCols = lk ++ left.output.filterNot(lk.contains)
    val rRest = rightOutput.filterNot(rk.contains)
    val lOrds = lCols.map(left.output.indexOf)
    val rOrds = rRest.map(rightOutput.indexOf)
    val leftKey = keyFn(left.output, lk)
    val rows = left.data.flatMap { l =>
      val key = leftKey(l)
      val rs = if (key == null) Nil else rightRows(key)
      (if (rs.isEmpty) Seq(null) else rs).map(r => joined(l, lOrds, lCols, r, rOrds, rRest))
    }
    LocalRelation(lCols ++ rRest.map(_.withNullability(true)), rows)
  }

  /** The `lOrds` columns of `l` followed by the `rOrds` columns of `r`
    * (all null when `r` is null, as an unmatched outer-join row). */
  private def joined(l: InternalRow, lOrds: Seq[Int], lCols: Seq[Attribute],
      r: InternalRow, rOrds: Seq[Int], rCols: Seq[Attribute]): InternalRow = {
    val out = new Array[Any](lOrds.size + rOrds.size)
    for (i <- lOrds.indices) out(i) = l.get(lOrds(i), lCols(i).dataType)
    if (r != null)
      for (i <- rOrds.indices) out(lOrds.size + i) = r.get(rOrds(i), rCols(i).dataType)
    new GenericInternalRow(out)
  }

  /** `df` as local data: its folded plan when Catalyst folded it (every
    * expression evaluable), else its collected rows. */
  private def toLocal(df: DataFrame): LocalRelation =
    SnapshotCache.localRelation(df).getOrElse(
      LocalRelation(df.queryExecution.analyzed.output, PlanBridge.collectInternal(df).toSeq))

  /** The attributes `names` resolve to in `output` (session resolver);
    * `None` when one is missing or ambiguous, left to the scan path's
    * analyzer to report. */
  private[operators] def attrs(output: Seq[Attribute], names: Seq[String]): Option[Seq[Attribute]] = {
    val resolver = org.apache.spark.sql.internal.SQLConf.get.resolver
    val found = names.map(n => output.filter(a => resolver(a.name, n)))
    Option.when(found.forall(_.size == 1))(found.map(_.head))
  }

  /** Types whose Catalyst value equality is Spark's join and grouping
    * equality. */
  private[operators] def keyType(t: DataType): Boolean = t match {
    case ByteType | ShortType | IntegerType | LongType | DateType | TimestampType |
        TimestampNTZType => true
    case s: StringType => s == StringType
    case _ => false
  }

  /** Key of a row: the value (single column) or the value sequence
    * (composite); `null` when any component is null. */
  private def keyFn(output: Seq[Attribute], key: Seq[Attribute]): InternalRow => Any = {
    val ords = key.map(output.indexOf).toArray
    val types = key.map(_.dataType).toArray
    if (ords.length == 1) {
      val (o, t) = (ords(0), types(0))
      r => if (r.isNullAt(o)) null else r.get(o, t)
    } else r =>
      if (ords.exists(r.isNullAt)) null
      else ArraySeq.unsafeWrapArray(Array.tabulate[Any](ords.length)(i => r.get(ords(i), types(i))))
  }

  private def snapshotIndex(table: DataFrame, plan: LogicalPlan,
      key: Seq[Attribute]): Map[Any, Seq[InternalRow]] =
    cache.get(SnapshotCache.key(table).copy(by = key.map(_.name)), plan.stats.sizeInBytes) {
      val keyOf = keyFn(plan.output, key)
      PlanBridge.collectInternal(table).toSeq.groupBy(keyOf) - null
    }
}
