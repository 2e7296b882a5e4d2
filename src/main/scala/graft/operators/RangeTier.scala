package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{And, Ascending, Attribute, AttributeReference,
  BindReferences, Cast, Descending, EqualTo, Expression, GenericInternalRow, GreaterThanOrEqual, In,
  InterpretedOrdering, LessThanOrEqual, PredicateHelper, RuntimeReplaceable, SortOrder,
  SubqueryExpression, Unevaluable}
import org.apache.spark.sql.catalyst.plans.logical.{Filter, LocalRelation, LogicalPlan}
import org.apache.spark.sql.graftbridge.PlanBridge
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types.IntegerType

/** Driver-side tier of [[InteractionStore.retrieveRange]]: answers a
  * time-range read for a pinned set of users from a per-user index of
  * the (small, file- or local-backed) event table held on the driver —
  * the reference's per-user read of pre-sorted weekly buckets merged
  * with an early limit (`interaction-store/internal/handler/retrieve/
  * click.go:63-93,239-263`).
  *
  * A snapshot holds each non-null user's rows sorted as the scan
  * path's window sorts them (`ts` desc nulls last, then `tieBreak` asc
  * nulls first, by Catalyst's interpreted ordering), in a
  * [[SnapshotCache]] keyed on the event table itself, not on the
  * filtered frame, so every user set shares one build per table
  * version. A call walks each distinct pinned user's rows from the
  * first with `ts <= end`, stops at the first with `ts < start` or at
  * `limit` kept rows, and keeps a row when every filter above the table
  * holds — the caller's own conditions, the range, the `types` filter
  * and the week bound, evaluated on the driver exactly as analyzed.
  * Kept rows are numbered by a 1-based `rank`. The answer is a
  * `LocalRelation` with the scan path's output attributes; collecting
  * it launches no job.
  *
  * Eligibility (anything else returns `None` and takes the scan path):
  *  - the filtered frame's analyzed plan is filters over a table whose
  *    optimized plan is one file relation or local data, with the same
  *    output, and [[SnapshotCache.fitsDriver]] accepts that table;
  *  - a conjunct pins the user column to constants (`In` or
  *    `EqualTo`), and the user column is a [[LookupTier.keyType]];
  *  - the range conjuncts compare the uncast `ts` column with foldable
  *    bounds;
  *  - every filter is deterministic, subquery-free and evaluable, and
  *    the table has no `rank` column.
  *
  * The analyzed plan is read rather than the optimized one because
  * Catalyst folds a filter over local data into the data, and because
  * reading it costs a call no optimizer run over the filters. It holds
  * an `isin` as `In` whatever the number of users; the optimizer's
  * `InSet` form never reaches the tier.
  */
private[graft] object RangeTier extends PredicateHelper {

  /** One snapshot: non-null user → the user's rows in scan-path order. */
  private[graft] val cache =
    new SnapshotCache[Map[Any, Array[InternalRow]]](SnapshotCache.MaxEntries)

  /** `filtered` — the scan path's filtered frame, before its rank
    * window — ranked per user and cut at `limit` rows, or `None` when
    * the call is not eligible. */
  def retrieve(filtered: DataFrame, limit: Int, userCol: String, tsCol: String,
      tieBreak: String): Option[DataFrame] = {
    val (conds, table) = filters(filtered.queryExecution.analyzed)
    val conjuncts = conds.flatMap(splitConjunctivePredicates)
      .map(_.transformUp { case r: RuntimeReplaceable => r.replacement })
    val out = table.output
    for {
      Seq(user, ts, tie) <- LookupTier.attrs(out, Seq(userCol, tsCol, tieBreak))
      if LookupTier.keyType(user.dataType) && conjuncts.forall(evaluable) &&
        !out.exists(a => SQLConf.get.resolver(a.name, "rank"))
      users <- conjuncts.collectFirst(pinned(user))
      upper <- conjuncts.collectFirst {
        case c @ LessThanOrEqual(a, e) if is(a, ts) && e.foldable => c }
      lower <- conjuncts.collectFirst {
        case c @ GreaterThanOrEqual(a, e) if is(a, ts) && e.foldable => c }
      leaf = PlanBridge.dataFrame(filtered.sparkSession, table)
      leafPlan = leaf.queryExecution.optimizedPlan
      if leafPlan.children.isEmpty && leafPlan.output.map(_.exprId) == out.map(_.exprId) &&
        SnapshotCache.fitsDriver(leaf)
    } yield {
      val key = SnapshotCache.key(leaf).copy(by = Seq(user, ts, tie).map(_.name))
      val byUser = cache.get(key, leafPlan.stats.sizeInBytes)(build(leaf, out, user, ts, tie))
      val keep = BindReferences.bindReference(conjuncts.reduce(And), out)
      val upTo = BindReferences.bindReference(upper, out)
      val from = BindReferences.bindReference(lower, out)
      val types = out.map(_.dataType)
      val rows = users.filter(_ != null).distinct.flatMap { u =>
        val events = byUser.getOrElse(u, Array.empty[InternalRow])
        // the rows with ts > end come first: skip them by bisection
        var (lo, hi) = (0, events.length)
        while (lo < hi) {
          val mid = (lo + hi) >>> 1
          if (upTo.eval(events(mid)) == false) lo = mid + 1 else hi = mid
        }
        events.iterator.drop(lo).takeWhile(from.eval(_) == true)
          .filter(keep.eval(_) == true).take(limit).zipWithIndex
          .map { case (r, i) =>
            new GenericInternalRow(Array.tabulate[Any](types.size + 1)(c =>
              if (c < types.size) r.get(c, types(c)) else i + 1)): InternalRow
          }
      }
      PlanBridge.dataFrame(filtered.sparkSession, LocalRelation(
        out :+ AttributeReference("rank", IntegerType, nullable = false)(), rows))
    }
  }

  /** Whether the driver may evaluate `e` row by row as the scan path
    * would: deterministic, subquery-free, and evaluable. */
  private def evaluable(e: Expression): Boolean =
    e.deterministic && !SubqueryExpression.hasSubquery(e) &&
      !e.exists(x => x.isInstanceOf[Unevaluable] && !x.isInstanceOf[Attribute] ||
        x.isInstanceOf[RuntimeReplaceable])

  /** The conditions of the filters at the top of `plan`, and the plan
    * under them. */
  private def filters(plan: LogicalPlan): (Seq[Expression], LogicalPlan) = plan match {
    case Filter(cond, child) =>
      val (conds, table) = filters(child)
      (cond +: conds, table)
    case other => (Nil, other)
  }

  /** Whether `e` is column `a`, bare or under a cast to its own type
    * (the analyzer casts the column of an `isin` holding a null). */
  private def is(e: Expression, a: Attribute): Boolean = e match {
    case x: Attribute => x.exprId == a.exprId
    case c: Cast => c.dataType == c.child.dataType && is(c.child, a)
    case _ => false
  }

  /** The constants a conjunct pins `user` to. */
  private def pinned(user: Attribute): PartialFunction[Expression, Seq[Any]] = {
    case In(a, list) if is(a, user) && list.forall(_.foldable) => list.map(_.eval())
    case EqualTo(a, e) if is(a, user) && e.foldable => Seq(e.eval())
    case EqualTo(e, a) if is(a, user) && e.foldable => Seq(e.eval())
  }

  private def build(leaf: DataFrame, out: Seq[Attribute], user: Attribute, ts: Attribute,
      tie: Attribute): Map[Any, Array[InternalRow]] = {
    val order = new InterpretedOrdering(
      Seq(SortOrder(ts, Descending), SortOrder(tie, Ascending)), out)
    val u = out.indexOf(user)
    PlanBridge.collectInternal(leaf).filterNot(_.isNullAt(u))
      .groupBy(_.get(u, user.dataType)).map { case (k, rows) => k -> rows.sorted(order) }
  }
}
