package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Range-partitioned global prefix sum — the scalable replacement for a
  * single-partition `Window.orderBy` cumulative sum, and the one such
  * kernel in the operator layer:
  *
  *   1. `repartitionByRange` on the order key, then `localCheckpoint`:
  *      a re-executed range exchange re-SAMPLES its bounds (fresh
  *      sampling seed per physical execution), so two consumers of the
  *      same subplan could see inconsistent partition ids — the
  *      checkpoint pins one layout (round-2 correctness bug class);
  *   2. cumulative sum WITHIN each range partition via a window keyed
  *      on `spark_partition_id()` — partition-parallel;
  *   3. per-partition totals (one row per partition) → prefix offsets
  *      and the grand total via a tiny one-row-per-partition window;
  *   4. global inclusive cumsum = local cumsum + broadcast offset.
  *
  * The range-partition count is the session's
  * `spark.sql.shuffle.partitions`, so nothing materializes more than
  * that many rows on a single partition. Gate/knob scale table:
  * [[graft.ScaleProfile]].
  */
object PrefixSum {

  /** `df` plus `out` = inclusive prefix sum of `valueCol` in `orderCol`
    * order. `orderCol` must be a total order (unique values). */
  def inclusive(
      df: DataFrame,
      orderCol: String,
      valueCol: String,
      out: String): DataFrame =
    inclusiveBy(df, Seq(col(orderCol)), valueCol, out)

  /** [[inclusive]] over a composite sort key (e.g. `cnt DESC, token
    * ASC` for frequency-ranked vocabularies). The key columns together
    * must form a total order. */
  def inclusiveBy(
      df: DataFrame,
      orderBy: Seq[Column],
      valueCol: String,
      out: String): DataFrame =
    inclusiveMultiBy(df, orderBy, Seq(valueCol -> out))

  /** Several inclusive prefix sums over the SAME total order in ONE
    * range-partitioned pass: each `(valueCol, outCol)` pair rides the
    * shared range exchange, the shared per-partition window, and one
    * broadcast offsets table. Two independent cumulative axes over one
    * table (occurrence mass + frequency rank, log-survival + death
    * flag) otherwise pay the range exchange, its bound-sampling scan,
    * and the pinning checkpoint TWICE — at any scale that is a full
    * extra pass over the table for each extra axis. */
  def inclusiveMultiBy(
      df: DataFrame,
      orderBy: Seq[Column],
      sums: Seq[(String, String)]): DataFrame =
    inclusiveWithTotal(df, orderBy, sums, "__ps_total").drop("__ps_total")

  /** [[inclusiveMultiBy]] plus `totalOut` = the grand total of the first
    * value column on every row, read off the broadcast offsets table
    * (one more frame over the per-partition totals): no second
    * aggregate and no extra Spark job. */
  private[graft] def inclusiveWithTotal(
      df: DataFrame,
      orderBy: Seq[Column],
      sums: Seq[(String, String)],
      totalOut: String): DataFrame = {
    require(sums.nonEmpty, "sums must list at least one (value, out) pair")
    require(sums.map(_._2).distinct.size == sums.size,
      s"duplicate out columns in $sums")
    val rangePartitions =
      df.sparkSession.conf.get("spark.sql.shuffle.partitions").toInt
    val ranged = df.repartitionByRange(rangePartitions, orderBy: _*)
      .withColumn("__pid", spark_partition_id())
      .localCheckpoint()
    val wIn = Window.partitionBy(col("__pid")).orderBy(orderBy: _*)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val local = sums.foldLeft(ranged) { case (d, (v, out)) =>
      d.withColumn(s"__cl_$out", sum(col(v)).over(wIn))
    }
    val partTotals = ranged.groupBy(col("__pid"))
      .agg(sum(col(sums.head._1)).as(s"__pt_${sums.head._2}"),
        sums.tail.map { case (v, out) => sum(col(v)).as(s"__pt_$out") }: _*)
    val wOff = Window.orderBy(col("__pid"))
      .rowsBetween(Window.unboundedPreceding, -1) // one row per partition
    val offsets = sums.foldLeft(partTotals) { case (d, (_, out)) =>
      d.withColumn(s"__off_$out",
        coalesce(sum(col(s"__pt_$out")).over(wOff), lit(0L)))
    }
    val wAll = Window.orderBy(col("__pid"))
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    val offCols = (col("__pid") +: sums.map(s => col(s"__off_${s._2}"))) :+
      sum(col(s"__pt_${sums.head._2}")).over(wAll).as(totalOut)
    val joined = local.join(broadcast(offsets.select(offCols: _*)), "__pid")
    val summed = sums.foldLeft(joined) { case (d, (_, out)) =>
      d.withColumn(out, col(s"__cl_$out") + col(s"__off_$out"))
    }
    summed.drop("__pid" +:
      sums.flatMap(s => Seq(s"__cl_${s._2}", s"__off_${s._2}")): _*)
  }
}
