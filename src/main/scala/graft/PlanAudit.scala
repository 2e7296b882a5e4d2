package graft

import org.apache.spark.sql.catalyst.expressions.{And, AttributeReference, EqualTo, Expression, Literal}
import org.apache.spark.sql.execution.{FilterExec, InputAdapter, LocalTableScanExec, ProjectExec, SortExec, SparkPlan, WholeStageCodegenExec}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, AQEShuffleReadExec, QueryStageExec}
import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
import org.apache.spark.sql.execution.exchange.{Exchange, ReusedExchangeExec, ShuffleExchangeExec}
import org.apache.spark.sql.execution.joins.{BroadcastNestedLoopJoinExec, CartesianProductExec}
import org.apache.spark.sql.execution.{GlobalLimitExec, LocalLimitExec, TakeOrderedAndProjectExec}
import org.apache.spark.sql.catalyst.plans.{Cross, Inner}
import org.apache.spark.sql.DataFrame
import java.nio.file.{Files, Path, Paths}

/** Final-plan shape audit of the query corpus.
  *
  * Works on the plan TREE, not its string: the adaptive root and query
  * stages are leaf nodes to `collect`, and the one shape that matters
  * most — a `crossJoin(broadcast(one-row aggregate))`, this repo's
  * standard way to attach a global statistic — prints as the same
  * `BroadcastNestedLoopJoin` text as the unbounded-join hazard it must
  * be distinguished from. A BNLJ whose build side is provably bounded
  * (a global aggregate; a grouped aggregate filtered to pinned group
  * keys; a literal local relation; a limit ≤ 1) carries O(1) rows at
  * any corpus size; every other BNLJ counts as unbounded and is
  * checked against the reviewed per-query expectation in the baseline
  * file (brute-force ANN baselines, for example, are all-pairs BY
  * DESIGN against a ≤5-row query set the plan can't prove small).
  *
  * As a main it audits every query at one data dir:
  * `runMain graft.PlanAudit <sfDir> [--write-baseline] [query ...]`.
  * AQE may broadcast at sf0.001 (PlanLintSpec's scale) what it must
  * shuffle at sf0.1, so the hazard check reruns here on each query's
  * FINAL adaptive plan, and each query's shuffle count is compared
  * with its entry in [[BaselineFile]] so an AQE-masked extra shuffle
  * cannot creep in silently. Prints one `PLANAUDIT <query> <verdict>`
  * line per query plus `PLANAUDIT_SUMMARY`; exits nonzero on any flag
  * or error. `--write-baseline` rewrites the baseline from the
  * observed shapes (see [[mergeBaseline]]).
  */
object PlanAudit {

  final case class Shape(shuffles: Int, cartesian: Int, unboundedBnlj: Int)

  /** Walk the finalized plan, descending through adaptive roots and
    * query-stage wrappers; reused exchanges are NOT re-descended (the
    * exchange executes once — re-counting it would double-charge the
    * plan and make the baseline depend on reuse order). */
  private def walk(p: SparkPlan)(f: SparkPlan => Unit): Unit = {
    f(p)
    val kids = p match {
      case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
      case q: QueryStageExec => Seq(q.plan)
      case _: ReusedExchangeExec => Nil
      case other => other.children
    }
    kids.foreach(walk(_)(f))
  }

  private def conjuncts(e: Expression): Seq[Expression] = e match {
    case And(l, r) => conjuncts(l) ++ conjuncts(r)
    case other => Seq(other)
  }

  /** The aggregate feeding `p` through row-order/row-shape-preserving
    * wrappers (no Project: renames could detach the grouping attrs the
    * caller is about to match by exprId). */
  private def underlyingAgg(p: SparkPlan): Option[BaseAggregateExec] = p match {
    case a: BaseAggregateExec => Some(a)
    case q: QueryStageExec => underlyingAgg(q.plan)
    case r: ReusedExchangeExec => underlyingAgg(r.child)
    case w: WholeStageCodegenExec => underlyingAgg(w.child)
    case i: InputAdapter => underlyingAgg(i.child)
    case c: AQEShuffleReadExec => underlyingAgg(c.child)
    case e: Exchange => underlyingAgg(e.child)
    case s: SortExec => underlyingAgg(s.child)
    case _ => None
  }

  /** A filter equality-pinning EVERY grouping key of the aggregate
    * below it yields at most one row (the `posAgg.filter(pos = 1)`
    * propensity-base shape). */
  private def pinnedGroupFilter(fl: FilterExec): Boolean =
    underlyingAgg(fl.child).exists { agg =>
      val keys = agg.groupingExpressions.map(_.toAttribute.exprId).toSet
      keys.nonEmpty && {
        val pinned = conjuncts(fl.condition).collect {
          case EqualTo(a: AttributeReference, _: Literal) => a.exprId
          case EqualTo(_: Literal, a: AttributeReference) => a.exprId
        }.toSet
        keys.subsetOf(pinned)
      }
    }

  /** ExprIds pinned to a literal by any filter in the subtree — a
    * pinned attribute holds ONE value, so a grouped aggregate whose
    * every grouping key is pinned below produces at most one row
    * (Catalyst pushes `agg.filter(groupKey = lit)` through the
    * aggregate, so the filter sits under it in the physical plan). */
  private def pinnedBelow(p: SparkPlan): Set[Long] = {
    var pinned = Set.empty[Long]
    walk(p) {
      case fl: FilterExec =>
        pinned ++= conjuncts(fl.condition).collect {
          case EqualTo(a: AttributeReference, _: Literal) => a.exprId.id
          case EqualTo(_: Literal, a: AttributeReference) => a.exprId.id
        }
      // a Project alias bound to a literal (`withColumn("g", lit(1))`)
      // pins its attribute just as hard as an equality filter — the
      // constant-group-aggregate shape
      case pr: ProjectExec =>
        pinned ++= pr.projectList.collect {
          case al: org.apache.spark.sql.catalyst.expressions.Alias
              if al.child.isInstanceOf[Literal] => al.exprId.id
        }
      case _ => ()
    }
    pinned
  }

  private def groupsPinned(a: BaseAggregateExec): Boolean = {
    val pinned = pinnedBelow(a.child)
    // EVERY attribute a grouping expression reads must be pinned: a
    // composite key like concat(a, b) with only `a = 'x'` below still
    // has one row per distinct b. Attribute-free grouping exprs
    // (literals) are constants — vacuously pinned.
    a.groupingExpressions.nonEmpty && a.groupingExpressions.forall { ne =>
      ne.collect { case ar: AttributeReference => ar.exprId.id }
        .forall(pinned.contains)
    }
  }

  /** True if `p` provably produces O(1) rows at ANY data size. */
  private def atMostOneRow(p: SparkPlan): Boolean = p match {
    case a: BaseAggregateExec =>
      a.groupingExpressions.isEmpty || groupsPinned(a) || atMostOneRow(a.child)
    case _: LocalTableScanExec => true // driver literals, data-independent
    case q: QueryStageExec => atMostOneRow(q.plan)
    case r: ReusedExchangeExec => atMostOneRow(r.child)
    case w: WholeStageCodegenExec => atMostOneRow(w.child)
    case i: InputAdapter => atMostOneRow(i.child)
    case c: AQEShuffleReadExec => atMostOneRow(c.child)
    case e: Exchange => atMostOneRow(e.child)
    case pr: ProjectExec => atMostOneRow(pr.child)
    case s: SortExec => atMostOneRow(s.child)
    // a LocalLimit bounds rows PER PARTITION, not globally — only its
    // child's proof counts (same principle as explicitlyBounded below)
    case l: LocalLimitExec => atMostOneRow(l.child)
    case g: GlobalLimitExec => g.limit <= 1 || atMostOneRow(g.child)
    case fl: FilterExec => pinnedGroupFilter(fl) || atMostOneRow(fl.child)
    // an inner/cross join of two provably-one-row sides yields at most
    // one row (1x1) — the stacked crossJoin(broadcast(one-row-agg))
    // shape builds exactly this. Outer variants are EXCLUDED: a full
    // outer 1x1 whose condition does not match preserves one row from
    // EACH side (2 rows), so the one-row claim would be unsound there.
    case j: BroadcastNestedLoopJoinExec =>
      (j.joinType match {
        case Inner | Cross => true
        case _ => false
      }) && atMostOneRow(j.left) && atMostOneRow(j.right)
    case _ => false
  }

  /** Max explicit top-N accepted as a provably-bounded BNLJ build side:
    * an `.orderBy(...).limit(n)` (TakeOrdered) with n ≤ this cap
    * carries exactly n rows at ANY corpus size — the pre-trim
    * convention bounded pairwise operators use (q252's estimator top-m,
    * q278's rank-agreement top-N). Kept small: a bounded build side
    * must stay broadcast-sized even when every row is wide. PUBLIC
    * because the operators that plant such bounds (IvfIndex.MaxCells,
    * topK.maxQueries, centroidSimilarity.maxLabels, audienceOverlap
    * maxSegments) reference it as their default cap — one constant,
    * no drift between what operators plant and what the audit
    * proves. Gate/knob scale table: [[graft.ScaleProfile]]. */
  val BoundedBuildRows = 1024

  /** True if `p` carries an explicit data-independent row bound — a
    * global limit / top-N of ≤ [[BoundedBuildRows]] rows somewhere on
    * its spine. Unlike [[atMostOneRow]] this follows only
    * shape-preserving wrappers; a LocalLimit alone does NOT qualify
    * (it bounds per partition, not globally). */
  private def explicitlyBounded(p: SparkPlan): Boolean = p match {
    case t: TakeOrderedAndProjectExec => t.limit <= BoundedBuildRows
    case g: GlobalLimitExec =>
      g.limit <= BoundedBuildRows || explicitlyBounded(g.child)
    case q: QueryStageExec => explicitlyBounded(q.plan)
    case r: ReusedExchangeExec => explicitlyBounded(r.child)
    case w: WholeStageCodegenExec => explicitlyBounded(w.child)
    case i: InputAdapter => explicitlyBounded(i.child)
    case c: AQEShuffleReadExec => explicitlyBounded(c.child)
    case e: Exchange => explicitlyBounded(e.child)
    case pr: ProjectExec => explicitlyBounded(pr.child)
    case s: SortExec => explicitlyBounded(s.child)
    case fl: FilterExec => explicitlyBounded(fl.child)
    case _ => false
  }

  /** Shape of `df`'s FINAL plan: executes through `df`'s own
    * QueryExecution so AQE finalizes the adaptive plan being audited
    * (`df.count()` would plan a separate aggregate and leave `df`'s
    * plan at its initial static shape). */
  def finalShape(df: DataFrame): Shape = {
    df.queryExecution.toRdd.count()
    audit(df.queryExecution.executedPlan)
  }

  def audit(plan: SparkPlan): Shape = {
    var shuffles, cartesian, bnlj = 0
    walk(plan) {
      case _: ShuffleExchangeExec => shuffles += 1
      case _: CartesianProductExec => cartesian += 1
      case j: BroadcastNestedLoopJoinExec =>
        val build = j.buildSide match {
          case org.apache.spark.sql.catalyst.optimizer.BuildLeft => j.left
          case org.apache.spark.sql.catalyst.optimizer.BuildRight => j.right
        }
        if (!atMostOneRow(build) && !explicitlyBounded(build)) bnlj += 1
      case _ => ()
    }
    Shape(shuffles, cartesian, bnlj)
  }

  /** Per-query expectations, relative to the working directory: the
    * shuffle count per query name, plus `<name>!bnlj` entries — the
    * hand-reviewed allowances for by-design unbounded nested-loop
    * joins. */
  val BaselineFile = "bench_exchange_baseline.json"

  def readBaseline(path: Path): Map[String, Int] =
    if (Files.exists(path))
      "\"([^\"]+)\"\\s*:\\s*(\\d+)".r.findAllMatchIn(Files.readString(path))
        .map(m => m.group(1) -> m.group(2).toInt).toMap
    else Map.empty

  /** The hazard verdict, independent of shuffle counts: a cartesian
    * product, or more unbounded nested-loop joins than the query's
    * reviewed `!bnlj` allowance. None when the plan has neither. */
  def hazard(name: String, shape: Shape,
      baseline: Map[String, Int]): Option[String] = {
    val okBnlj = baseline.getOrElse(s"$name!bnlj", 0)
    if (shape.cartesian > 0) Some("CartesianProduct")
    else if (shape.unboundedBnlj > okBnlj)
      Some(s"BroadcastNestedLoopJoin:${shape.unboundedBnlj}>$okBnlj")
    else None
  }

  /** Full verdict: the hazard, then the shuffle count against the
    * baseline. MORE shuffles than recorded is a flag; FEWER is noted as
    * an improvement (AQE variance or a real win) but not flagged, so
    * flags stay a monotone signal. Verdicts starting with "ok" pass. */
  def verdict(name: String, shape: Shape,
      baseline: Map[String, Int]): String =
    hazard(name, shape, baseline).getOrElse(baseline.get(name) match {
      case Some(exp) if shape.shuffles > exp => s"exchanges:${shape.shuffles}!=$exp"
      case Some(exp) if shape.shuffles < exp => s"ok(improved:${shape.shuffles}<$exp)"
      case Some(_) => "ok"
      case None => s"ok(no-baseline:${shape.shuffles},bnlj:${shape.unboundedBnlj})"
    })

  /** The baseline rewritten from observed shapes. Flagged queries
    * still get their counts recorded (bootstrapping from an empty file
    * works). A `!bnlj` allowance is NEVER minted — a query that
    * regressed into an unbounded BNLJ must stay flagged rather than
    * self-approve — and an existing one ratchets down to the observed
    * count, disappearing with the shape. Entries of `live` queries not
    * audited this run carry over unchanged; entries (and `!bnlj`
    * allowances) of queries no longer in `live` are dropped. */
  def mergeBaseline(baseline: Map[String, Int],
      shapes: Map[String, Shape], live: Set[String]): Map[String, Int] = {
    val fresh = shapes.toSeq.flatMap { case (n, s) =>
      Seq(n -> s.shuffles) ++ (baseline.get(s"$n!bnlj") match {
        case Some(prior) if s.unboundedBnlj > 0 =>
          Seq(s"$n!bnlj" -> math.min(s.unboundedBnlj, prior))
        case _ => Nil
      })
    }
    baseline.filter { case (k, _) =>
      val q = k.stripSuffix("!bnlj")
      live(q) && !shapes.contains(q)
    } ++ fresh
  }

  def main(args: Array[String]): Unit = {
    val usage = "usage: PlanAudit <sfDir> [--write-baseline] [query ...]"
    val (opts, rest) = args.partition(_.startsWith("--"))
    require(rest.nonEmpty && opts.forall(_ == "--write-baseline"), usage)
    val sfDir = rest.head
    val only = rest.tail.toSet
    val unknown = only -- SparkEntry.queries.keySet
    require(unknown.isEmpty, s"unknown queries: ${unknown.mkString(", ")}")
    val spark = GraftSession.builder("graft-plan-audit",
      sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    GraftSession.quietNoisyLoggers()
    val baselinePath = Paths.get(BaselineFile)
    val baseline = readBaseline(baselinePath)
    var shapes = Map.empty[String, Shape]
    val verdicts = SparkEntry.queries.toSeq
      .filter { case (name, _) => only.isEmpty || only(name) }
      .map { case (name, fn) =>
        val v =
          try {
            val shape = finalShape(fn(spark, sfDir))
            shapes += name -> shape
            verdict(name, shape, baseline)
          } catch { case e: Throwable => s"error:${e.getClass.getSimpleName}" }
        println(s"PLANAUDIT $name $v")
        name -> v
      }
    if (opts.nonEmpty)
      Files.writeString(baselinePath, mergeBaseline(baseline, shapes,
        SparkEntry.queries.keySet).toSeq.sorted
        .map { case (n, c) => s"""  "$n": $c""" }.mkString("{\n", ",\n", "\n}\n"))
    val errors = verdicts.count(_._2.startsWith("error"))
    val flags = verdicts.count(!_._2.startsWith("ok")) - errors
    println(s"""PLANAUDIT_SUMMARY {"dir":"$sfDir","audited":${verdicts.size},""" +
      s""""flags":$flags,"errors":$errors}""")
    spark.stop()
    if (flags + errors > 0) sys.exit(1)
  }
}
