package org.apache.spark.sql.graftbridge

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils

/** Column ↔ catalyst Expression bridge.
  *
  * Spark 4 moved these conversions behind `private[sql]`
  * (`org.apache.spark.sql.classic.ExpressionUtils`); a package-scoped
  * bridge is the standard pattern for libraries that define native
  * Catalyst expressions.
  */
object ColumnBridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)
}

/** Runtime installer for the graft SQL functions + optimizer rule on an
  * ALREADY-RUNNING session (the `spark.sql.extensions` config only
  * applies at session construction). Lives in the sql package to reach
  * the private[sql] sessionState.
  */
object GraftInstaller {
  def install(spark: org.apache.spark.sql.SparkSession): Unit = {
    graft.expr.GraftExtensions.functions.foreach { case (id, inf, builder) =>
      spark.sessionState.functionRegistry.registerFunction(id, inf, builder)
    }
    val cs = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
    if (!cs.experimental.extraOptimizations.contains(graft.expr.FoldQuantize))
      cs.experimental.extraOptimizations =
        cs.experimental.extraOptimizations :+ graft.expr.FoldQuantize
  }
}

/** Logical-plan entry points the DataFrame API keeps `private[sql]`:
  * wrapping a hand-built plan (a driver-side `LocalRelation`) as a
  * DataFrame, the session's SQL conf, and collecting a DataFrame as
  * Catalyst rows without the external-`Row` round trip. Used by the
  * feature store's lookup tier (`graft.operators.LookupTier`).
  */
object PlanBridge {
  import org.apache.spark.sql.{DataFrame, SparkSession}
  import org.apache.spark.sql.catalyst.InternalRow
  import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
  import org.apache.spark.sql.execution.SQLExecution
  import org.apache.spark.sql.internal.SQLConf

  def dataFrame(spark: SparkSession, plan: LogicalPlan): DataFrame =
    org.apache.spark.sql.classic.Dataset.ofRows(classic(spark), plan)

  def conf(spark: SparkSession): SQLConf = classic(spark).sessionState.conf

  /** `df.collect()` as Catalyst rows: one tracked SQL execution, like
    * any action, but no conversion to external `Row`s. */
  def collectInternal(df: DataFrame): Array[InternalRow] = {
    val qe = df.queryExecution
    SQLExecution.withNewExecutionId(qe, Some("collect"))(qe.executedPlan.executeCollect())
  }

  private def classic(spark: SparkSession) =
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
}
