package graft

import java.nio.file.Files
import java.util.concurrent.{CountDownLatch, Executors, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.{IvfIndex, IvfTier, SnapshotCache}
import graft.sources.Layout

/** The int8 IVF driver tier: every top-k it answers equals the scan
  * path's answer (schema with nullability, rows, score bits), it falls
  * back where documented, and it caches one snapshot per index files.
  * Indexes are written with `Layout.writeIvf` and reopened with
  * `loadIvf`, so the stored-code path the tier serves is exercised. */
class IvfTierSpec extends AnyFunSuite with SparkSuite {

  private val Dim = 8

  private val vecType = ArrayType(FloatType, containsNull = true)

  /** 160 vectors in 4 clusters of 40 consecutive ids, so the id-stride
    * seeds (0, 40, 80, 120) land one per cluster. Ids 1, 5, 9 and 13
    * hold one long vector (score ties at the top of its top-k); 150
    * has a null element and 151 no embedding (both score null). */
  private def corpus(seed: Int): DataFrame = {
    val rnd = new scala.util.Random(seed)
    val centers = Array.fill(4, Dim)(rnd.nextFloat() * 2 - 1)
    val base = (0 until 160).map(i => centers(i / 40).map(c => c + (rnd.nextFloat() - 0.5f) * 0.6f))
    val rows = (0 until 160).map { i =>
      val v: Seq[Any] =
        if (Set(1, 5, 9, 13)(i)) base(1).toSeq.map(_ * 3)
        else if (i == 150) base(i).toSeq.updated(3, null)
        else base(i).toSeq
      Row(i.toLong, if (i == 151) null else v)
    }
    spark.createDataFrame(rows.asJava, StructType(Seq(
      StructField("vec_id", LongType, nullable = false),
      StructField("embedding", vecType))))
  }

  private def writeIndex(seed: Int, path: String): IvfIndex = {
    Layout.writeIvf(IvfIndex.build(corpus(seed), cells = 4), path)
    Layout.loadIvf(spark, path)
  }

  private def stored(seed: Int): IvfIndex =
    writeIndex(seed, Files.createTempDirectory("graft-ivf-tier").toString + "/idx")

  private lazy val index = stored(1)

  private def queries(qs: (java.lang.Long, Seq[Any])*): DataFrame =
    spark.createDataFrame(qs.map { case (id, v) => Row(id, v) }.asJava, StructType(Seq(
      StructField("query_id", LongType), StructField("query_embedding", vecType))))

  /** Vector `id` of corpus seed 1 plus a small offset. */
  private def near(id: Int, by: Float = 0.05f): Seq[Any] =
    corpus(1).collect()(id).getSeq[Float](1).map(_ + by)

  private lazy val mixed = queries(
    (1000L, near(1, 0f)), // exactly vector 1: ids 1, 5, 9 and 13 tie
    (1001L, near(42)), (1002L, near(120, -0.1f)),
    (1003L, Seq.tabulate(Dim)(d => (d % 3 - 1).toFloat)))

  private def isLocal(df: DataFrame): Boolean =
    df.queryExecution.optimizedPlan.isInstanceOf[LocalRelation]

  /** Rows in a canonical order with exact score bits. */
  private def rowsOf(df: DataFrame): Seq[String] =
    df.collect().map { r =>
      val score = if (r.isNullAt(2)) "null" else java.lang.Double.doubleToRawLongBits(r.getDouble(2))
      s"${r.get(0)},${r.get(1)},$score,${r.get(3)}"
    }.sorted.toSeq

  /** `run(qs)` on the local query set and on the same queries behind a
    * non-local plan: the first must take the tier, the second the scan
    * path, and both must agree on schema (nullability included) and
    * rows. Returns the tier's answer. */
  private def assertSamePaths(qs: DataFrame)(run: DataFrame => DataFrame): DataFrame = {
    val viaTier = run(qs)
    val viaScan = run(qs.localCheckpoint())
    assert(isLocal(viaTier), s"tier not taken:\n${viaTier.queryExecution.optimizedPlan}")
    assert(!isLocal(viaScan))
    assert(viaTier.schema === viaScan.schema)
    assert(rowsOf(viaTier) === rowsOf(viaScan))
    viaTier
  }

  test("ties from duplicate vectors rank the lowest id first, on both paths") {
    val got = assertSamePaths(mixed)(index.searchInt8(_, k = 6, nProbe = 2))
    val top = got.filter("query_id = 1000 and rank <= 4").orderBy("rank")
      .select("vec_id").collect().map(_.getLong(0)).toSeq
    assert(top === Seq(1L, 5L, 9L, 13L))
  }

  test("k larger than the candidate set returns every probed row, null scores last") {
    val got = assertSamePaths(mixed)(index.searchInt8(_, k = 10000, nProbe = 1))
    val perQuery = got.groupBy("query_id").count().collect().map(_.getLong(1))
    assert(perQuery.length === 4 && perQuery.forall(n => n > 0 && n < 160))
    // the null-element and null-embedding rows sit in the first cell
    assert(got.filter("score is null").count() > 0)
  }

  test("nProbe = 0, 1, the cell count and beyond agree across paths") {
    for (n <- Seq(0, 1, 4, 9)) assertSamePaths(mixed)(index.searchInt8(_, k = 7, nProbe = n))
    assert(index.searchInt8(mixed, k = 7, nProbe = 0).count() === 0)
  }

  test("a query whose dimension differs from the corpus agrees across paths") {
    val qs = queries((1L, near(3)), (2L, Seq.fill(Dim - 3)(0.5f)))
    val got = assertSamePaths(qs)(index.searchInt8(_, k = 5, nProbe = 2))
    assert(got.filter("query_id = 2").collect().forall(_.isNullAt(2)))
  }

  test("a string cell_id (partition types not inferred) agrees across paths") {
    // the probe key is the centroids' long cell_id cast to the corpus
    // type, here string; uncast long keys would match no cell
    val path = Files.createTempDirectory("graft-ivf-str").toString + "/idx"
    Layout.writeIvf(IvfIndex.build(corpus(1), cells = 4), path)
    val infer = "spark.sql.sources.partitionColumnTypeInference.enabled"
    val prev = spark.conf.get(infer)
    try {
      spark.conf.set(infer, "false")
      val idx = Layout.loadIvf(spark, path)
      assert(idx.assigned.schema("cell_id").dataType === StringType)
      val got = assertSamePaths(mixed)(idx.searchInt8(_, k = 5, nProbe = 2))
      assert(got.count() === 20)
    } finally spark.conf.set(infer, prev)
  }

  test("null or duplicate query ids, null embeddings, uncoded and large indexes take the scan path") {
    val scan = (qs: DataFrame) => assert(!isLocal(index.searchInt8(qs, k = 3)))
    scan(queries((null, near(1)), (2L, near(2))))
    scan(queries((1L, near(1)), (1L, near(2))))
    scan(queries((1L, null), (2L, near(2))))
    val uncoded = IvfIndex.build(corpus(1), cells = 4)
    val viaUncoded = uncoded.searchInt8(mixed, k = 4)
    assert(!isLocal(viaUncoded))
    val expected = rowsOf(index.searchInt8(mixed, k = 4))
    assert(rowsOf(viaUncoded) === expected)
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "100")
      val big = index.searchInt8(mixed, k = 4)
      assert(!isLocal(big))
      assert(rowsOf(big) === expected)
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("a warm top-k over local queries launches no Spark job") {
    def request(): Seq[String] = rowsOf(index.searchInt8(mixed, k = 10, nProbe = 2)
      .select("query_id", "vec_id", "score", "rank"))
    val group = "ivf-tier-zero-jobs"
    val barrierGroup = "ivf-tier-barrier"
    val jobs = new AtomicInteger
    val barrier = new CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).map(_.getProperty("spark.jobGroup.id")) match {
          case Some(`group`) => jobs.incrementAndGet()
          case Some(`barrierGroup`) => barrier.countDown()
          case _ => ()
        }
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      val cold = request()
      spark.sparkContext.setJobGroup(group, "warm top-k")
      val warm = request()
      // a listener sees events in posting order: once this later job's
      // start arrives, every job start of the warm request has too
      spark.sparkContext.setJobGroup(barrierGroup, "listener barrier")
      spark.sparkContext.parallelize(Seq(1), 1).count()
      assert(barrier.await(60, TimeUnit.SECONDS))
      assert(jobs.get() === 0)
      assert(warm === cold && warm.size === 40)
    } finally {
      spark.sparkContext.clearJobGroup()
      spark.sparkContext.removeSparkListener(listener)
    }
  }

  test("an index re-written at the same path yields a fresh answer") {
    val path = Files.createTempDirectory("graft-ivf-rewrite").toString + "/idx"
    val first = rowsOf(writeIndex(1, path).searchInt8(mixed, k = 5))
    val b0 = IvfTier.cache.builds
    val rewritten = writeIndex(2, path)
    val second = assertSamePaths(mixed)(rewritten.searchInt8(_, k = 5))
    assert(IvfTier.cache.builds === b0 + 1)
    assert(rowsOf(second) !== first)
  }

  test("concurrent callers build one snapshot per index") {
    val idx = stored(3)
    val expected = rowsOf(idx.searchInt8(mixed.localCheckpoint(), k = 5))
    val (b0, h0) = (IvfTier.cache.builds, IvfTier.cache.hits)
    val pool = Executors.newFixedThreadPool(4)
    val start = new CountDownLatch(1)
    try {
      val results = (0 until 4).map { _ =>
        pool.submit(() => {
          start.await()
          rowsOf(idx.searchInt8(mixed, k = 5))
        })
      }
      start.countDown()
      results.foreach(f => assert(f.get(60, TimeUnit.SECONDS) === expected))
    } finally pool.shutdown()
    assert(IvfTier.cache.builds === b0 + 1)
    assert(IvfTier.cache.hits === h0 + 3)
    assert(IvfTier.cache.entryBytes.forall(_ > 0))
  }

  test("SnapshotCache counts builds, hits and evictions and keeps entry bytes") {
    val cache = new SnapshotCache[String](2)
    def key(f: String) = SnapshotCache.Key(Nil, Seq(Set(f)))
    assert(cache.get(key("a"), 10)("A") === "A")
    assert(cache.get(key("b"), 20)("B") === "B")
    assert(cache.get(key("a"), 10)(fail("a is held")) === "A")
    assert((cache.builds, cache.hits, cache.evictions) === ((2L, 1L, 0L)))
    assert(cache.get(key("c"), 30)("C") === "C") // evicts b, the least recently used
    assert((cache.builds, cache.evictions, cache.size) === ((3L, 1L, 2)))
    assert(cache.entryBytes === Seq(10L, 30L))
    assert(cache.get(key("b"), 20)("B2") === "B2")
    assert(cache.builds === 4L)
  }
}
