package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Inferflow-style dataflow composition (SURVEY U4, J7/J8, §3.3).
  *
  * The reference executes a component DAG with Kahn's algorithm and a
  * shared mutable row matrix
  * (`inferflow/dag-topology-executor/handlers/dag/executor.go:36-98`);
  * here components are `DataFrame => DataFrame` stages composed by
  * ordinary function composition — Spark's lazy plan IS the DAG, and
  * Catalyst recovers the parallelism between independent column
  * subtrees without a scheduler.
  */
object Pipeline {

  type Stage = DataFrame => DataFrame

  /** Sequential composition of stages (the inferflow topology). */
  def apply(stages: Stage*): Stage = stages.reduce(_ andThen _)

  /** Context ⊗ targets expansion (J7): project request-level context
    * features onto every target row
    * (`FeatureInitComponent.Run`, feature_init_component.go:31-48).
    * `context` must be a single row — enforced semantically by the
    * caller (an aggregate or a literal frame); it broadcasts. */
  def withContext(context: DataFrame): Stage =
    targets => targets.crossJoin(broadcast(context))

  /** Pairwise target composition (J8): pair rows reference two target
    * indexes; both sides join against the target matrix
    * (`predict.proto:84-121`). Targets are expected small per request —
    * broadcast both legs; for bulk scoring swap to shuffle joins by
    * leaving `hint = false`. */
  def pairwise(
      targets: DataFrame,
      pairs: DataFrame,
      targetIdx: String,
      leftIdx: String,
      rightIdx: String,
      hint: Boolean = true): DataFrame = {
    def leg(alias: String) = {
      val t = targets.columns.foldLeft(targets)((d, c) =>
        d.withColumnRenamed(c, s"${alias}_$c"))
      if (hint) broadcast(t) else t
    }
    pairs
      .join(leg("a"), col(leftIdx) === col(s"a_$targetIdx"))
      .join(leg("b"), col(rightIdx) === col(s"b_$targetIdx"))
  }

  /** Slate composition (J8): slate rows carry an array of member
    * target indexes; explode + join expands each slate to its member
    * rows (`parseSlateTargetRows`, predator_component.go:175-192). */
  def slatewise(
      targets: DataFrame,
      slates: DataFrame,
      slateMembers: String,
      targetIdx: String): DataFrame =
    slates.withColumn("__member", explode(col(slateMembers)))
      .drop(slateMembers)
      .join(targets, col("__member") === col(targetIdx))
      .drop("__member")

  /** Category-capped slate rerank (the diversity constraint a slate
    * composer applies before serving): per group, keep each
    * candidate's within-category rank ≤ `maxPerCat`, then the best `k`
    * survivors overall. Two window specs over the SAME group
    * partitioning — one shuffle; ties break by `tieCol` ascending so
    * the slate is reproducible. */
  def constrainedRerank(
      df: DataFrame,
      groupCols: Seq[String],
      scoreCol: String,
      catCol: String,
      tieCol: String,
      maxPerCat: Int,
      k: Int): DataFrame = {
    require(maxPerCat >= 1 && k >= 1, "maxPerCat and k must be >= 1")
    import org.apache.spark.sql.expressions.Window
    val g = groupCols.map(col)
    val byCat = Window.partitionBy(g :+ col(catCol): _*)
      .orderBy(col(scoreCol).desc, col(tieCol).asc)
    val byGroup = Window.partitionBy(g: _*)
      .orderBy(col(scoreCol).desc, col(tieCol).asc)
    df.withColumn("__cr", row_number().over(byCat))
      .filter(col("__cr") <= maxPerCat)
      .withColumn("rank", row_number().over(byGroup))
      .filter(col("rank") <= k)
      .drop("__cr")
  }
}

/** Changed-row detection (SURVEY A7) — the skye Scylla aggregator's
  * delta path (`scylla_aggregator.go:47-93`): compare an incoming
  * snapshot against the stored one and emit only rows whose compared
  * columns changed (or are new), so downstream indexing touches the
  * minimum set.
  */
object ChangeCapture {
  /** Rows of `next` that are new or differ from `current` on any of
    * `compareCols` (null-safe comparison). One shuffle on pk. */
  def changedRows(
      current: DataFrame,
      next: DataFrame,
      pk: Seq[String],
      compareCols: Seq[String]): DataFrame = {
    val cur = compareCols.foldLeft(current.select((pk ++ compareCols).map(col): _*))(
      (d, c) => d.withColumnRenamed(c, s"__old_$c"))
    val joined = next.join(cur, pk, "left")
    val changed = compareCols.map(c => !(col(c) <=> col(s"__old_$c")))
      .reduce(_ || _)
    joined.filter(changed).drop(compareCols.map(c => s"__old_$c"): _*)
  }

  /** Collapse a per-key snapshot/event series into SCD2 validity
    * intervals: keep only rows where any of `valueCols` changed
    * (null-safe) vs the key's previous snapshot, stamp `valid_from` =
    * the snapshot time and `valid_to` = the next change's time (null
    * while current). The output is the feature HISTORY table
    * [[Training.pointInTime]] consumes — snapshots → history → PIT
    * join closes the training-data loop. One window shuffle on the
    * key; input must be unique per (keys, tsCol). */
  def scd2(
      snapshots: DataFrame,
      keys: Seq[String],
      tsCol: String,
      valueCols: Seq[String]): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(keys.map(col): _*).orderBy(col(tsCol).asc)
    val changed = valueCols.map(c => !(col(c) <=> lag(col(c), 1).over(w)))
      .reduce(_ || _) || lag(col(tsCol), 1).over(w).isNull
    val wc = org.apache.spark.sql.expressions.Window
      .partitionBy(keys.map(col): _*).orderBy(col("valid_from").asc)
    snapshots
      .withColumn("__chg", changed)
      .filter(col("__chg"))
      .withColumnRenamed(tsCol, "valid_from")
      .withColumn("valid_to", lead(col("valid_from"), 1).over(wc))
      .drop("__chg")
  }
}
