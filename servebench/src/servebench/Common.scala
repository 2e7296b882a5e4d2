package servebench

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.joins.BaseJoinExec

import graft.operators.IvfIndex
import graft.sources.Layout

/** What one workload run hands back to [[Main]]. */
final case class Outcome(
    attempted: Long,
    failed: Long,
    setupS: Seq[Double],
    p50Ms: Double,
    itemsPerS: Double,
    recall: Double,
    detail: Seq[(String, Double, String)],
    // per-layer inputs only a workload knows (found keys, result rows, …)
    layer: Map[String, Double])

final class Ctx(val spark: SparkSession, val seed: Long, val tr: Tracer,
    val work: String, val cores: Int) {

  /** Run `df` to the driver. Traced, physical planning is forced first
    * in its own span so plan time separates from execution. */
  def collect(df: DataFrame): Array[Row] = {
    if (tr.enabled) tr.span("spark.plan")(df.queryExecution.executedPlan)
    df.collect()
  }

  /** Traced runs materialize each DAG stage at its boundary so the
    * stage's cost lands in its own span; untraced, the DAG stays one
    * plan, as a caller would run it. */
  def stage(name: String)(df: => DataFrame): DataFrame = tr.span(name) {
    val d = df
    if (!tr.enabled) d
    else {
      tr.span("spark.plan")(d.queryExecution.executedPlan)
      d.localCheckpoint(eager = true)
    }
  }

  /** Rows produced by the joins of an executed plan (for a vector search:
    * the (query, candidate) pairs it scored, plus the small probe join). */
  def joinRows(df: DataFrame): Long =
    Common.Plans.collect(df.queryExecution.executedPlan) {
      case j: BaseJoinExec => j.metrics.get("numOutputRows").map(_.value).getOrElse(0L)
    }.sum

  /** Files read by the file scans of an executed plan. */
  def filesRead(df: DataFrame): Long =
    Common.Plans.collect(df.queryExecution.executedPlan) {
      case s: FileSourceScanExec => s.metrics.get("numFiles").map(_.value).getOrElse(0L)
    }.sum

  def path(name: String): String = s"$work/$name"

  /** Progress line on stderr, stamped with seconds since JVM start. */
  def log(msg: String): Unit =
    System.err.println(f"[servebench] ${java.lang.management.ManagementFactory.getRuntimeMXBean.getUptime / 1e3}%.1fs $msg")
}

object Common {
  object Plans extends AdaptiveSparkPlanHelper

  val SetupReps = 3

  /** Set up `SetupReps` times (the last one is kept), each rep a traced
    * request of its own; returns the kept state and every rep's seconds. */
  def repeatedSetup[T](ctx: Ctx)(body: => T): (T, Seq[Double]) = {
    var last: Option[T] = None
    val secs = (0 until SetupReps).map { r =>
      val t0 = System.nanoTime()
      last = Some(ctx.tr.request(Tracer.SetupBase + r, "setup")(body))
      (System.nanoTime() - t0) / 1e9
    }
    (last.get, secs)
  }

  /** The two feature groups as bucketed catalog tables. */
  def featureTables(ctx: Ctx): (DataFrame, DataFrame) = {
    val spark = ctx.spark
    ctx.tr.span("sources.Layout.writeBucketedFeatureTable") {
      Layout.writeBucketedFeatureTable(Gen.profileDf(spark, ctx.seed), "fg_profile", Gen.Pk)
      Layout.writeBucketedFeatureTable(Gen.activityDf(spark, ctx.seed), "fg_activity", Gen.Pk)
    }
    (spark.table("fg_profile"), spark.table("fg_activity"))
  }

  /** Build, persist and reopen the IVF index over the first `Gen.Vectors` vectors. */
  def ivf(ctx: Ctx): IvfIndex = {
    val dir = ctx.path("ivf")
    val idx = ctx.tr.span("operators.IvfIndex.build")(
      IvfIndex.build(Gen.vectorsDf(ctx.spark, ctx.seed, 0, Gen.Vectors), Gen.Cells))
    ctx.tr.span("sources.Layout.writeIvf")(Layout.writeIvf(idx, dir))
    ctx.tr.span("sources.Layout.loadIvf")(Layout.loadIvf(ctx.spark, dir))
  }

  /** Collect set-up and warm-up garbage before measuring, then give
    * Spark's ContextCleaner time to drop the shuffles and broadcasts that
    * collection released, so that work does not land in the measurement. */
  def settle(): Unit = {
    System.gc()
    Thread.sleep(1000)
  }

  def corpus(seed: Long, n: Long = Gen.Vectors): Array[Array[Float]] =
    Array.tabulate(n.toInt)(i => Gen.vector(seed, i.toLong))

  /** Exact top-k ids for each query, computed on all cores. */
  def exactTopK(queries: Seq[Array[Float]], corpus: Array[Array[Float]]): Seq[Seq[Long]] = {
    val out = new Array[Seq[Long]](queries.size)
    java.util.stream.IntStream.range(0, queries.size).parallel().forEach { i =>
      out(i) = Check.bruteForce(queries(i), corpus, Gen.TopK).map(_.toLong).toSeq
    }
    out.toSeq
  }

  /** Run an int8 top-k search; traced, also count the pairs it scored. */
  def search(ctx: Ctx, ivf: IvfIndex, qs: Seq[(Long, Array[Float])]): (Seq[Check.Hit], Long) =
    ctx.tr.span("operators.IvfIndex.searchInt8") {
      val df = ivf.searchInt8(Gen.queriesDf(ctx.spark, qs), Gen.TopK, Gen.NProbe)
        .select("query_id", "vec_id", "score", "rank")
      val rows = ctx.collect(df)
      (hits(rows), if (ctx.tr.enabled) ctx.joinRows(df) else 0L)
    }

  def hits(rows: Array[Row]): Seq[Check.Hit] =
    rows.map(r => Check.Hit(r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3))).toSeq

  def ms(fromNs: Long, toNs: Long): Double = (toNs - fromNs) / 1e6

  /** Delete a directory tree (set-up reps and ingest tables start empty). */
  def rmrf(path: String): Unit = {
    val p = java.nio.file.Paths.get(path)
    if (java.nio.file.Files.exists(p))
      java.nio.file.Files.walk(p).sorted(java.util.Comparator.reverseOrder())
        .forEach(f => java.nio.file.Files.delete(f))
  }
}
