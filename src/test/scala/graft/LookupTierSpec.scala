package graft

import java.nio.file.Files
import java.sql.Timestamp
import java.util.concurrent.{CountDownLatch, Executors, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.core.{FeatureDef, FeatureGroupDef, FeatureType}
import graft.operators.{FeatureStore, LookupTier, SnapshotCache}
import graft.streaming.Ingest

/** The feature store's driver-side lookup tier: every retrieve and
  * stitch answered from the index equals the scan path's answer (rows,
  * schema, nullability), and the tier engages, invalidates and bounds
  * itself as documented. Tables are parquet files, so the tier's
  * file-backed path is the one exercised. */
class LookupTierSpec extends AnyFunSuite with SparkSuite {
  import spark.implicits._

  private def writeParquet(df: DataFrame): String = {
    val dir = Files.createTempDirectory("graft-tier").toString + "/t"
    df.write.parquet(dir)
    dir
  }

  private def parquet(df: DataFrame): DataFrame = spark.read.parquet(writeParquet(df))

  private def isLocal(df: DataFrame): Boolean =
    df.queryExecution.optimizedPlan.isInstanceOf[LocalRelation]

  /** `run(keys)` on the local key set and on the same keys behind a
    * non-local plan: the first must take the tier, the second the scan
    * path, and both must agree on schema and rows. */
  private def assertSamePaths(keys: DataFrame)(run: DataFrame => DataFrame): Unit = {
    val viaTier = run(keys)
    val viaScan = run(keys.localCheckpoint())
    assert(isLocal(viaTier), s"tier not taken:\n${viaTier.queryExecution.optimizedPlan}")
    assert(!isLocal(viaScan))
    assert(viaTier.schema === viaScan.schema)
    assert(viaTier.collect().sortBy(_.toString).toSeq ===
      viaScan.collect().sortBy(_.toString).toSeq)
  }

  private val fg = FeatureGroupDef("f", 1, Seq(
    FeatureDef("v", FeatureType.FP64, default = -1.0),
    FeatureDef("s", FeatureType.Str, default = "D"),
    FeatureDef("n", FeatureType.Int32, default = 7)))

  // k = 3 is stored twice (a table with duplicate pk rows fans out);
  // k = 2 stores nulls (defaults); k = 99 is absent
  private lazy val table = parquet(Seq(
    (1L, Some(0.1), Some("a"), 1), (2L, None, None, 2), (3L, Some(3.5), Some("c"), 3),
    (3L, Some(3.75), Some("c2"), 4), (4L, Some(1e-3), Some("d"), 5))
    .toDF("k", "v", "s", "n"))

  private lazy val keys = Seq(Some(1L), Some(1L), Some(2L), Some(3L), None, None,
    Some(99L), Some(4L)).toDF("k")

  test("retrieve: absent, duplicate and null keys, duplicate pk rows agree across paths") {
    assertSamePaths(keys)(FeatureStore.retrieve(_, table, Seq("k"), fg, Seq("v", "s", "n")))
    // null keys get null features, like the scan path's final left join
    val nulls = FeatureStore.retrieve(keys, table, Seq("k"), fg, Seq("v"))
      .filter($"k".isNull).collect()
    assert(nulls.length === 2 && nulls.forall(_.isNullAt(1)))
  }

  test("retrieve: empty key set agrees across paths") {
    assertSamePaths(Seq.empty[Long].toDF("k"))(
      FeatureStore.retrieve(_, table, Seq("k"), fg, Seq("v", "s")))
  }

  test("retrieve: composite pk with a null component agrees across paths") {
    val t = parquet(Seq((1L, "x", 5.0), (1L, "y", 6.0), (2L, "x", 7.0), (2L, "x", 8.0))
      .toDF("k1", "k2", "v"))
    val ks = Seq((Some(1L), Some("x")), (Some(1L), Some("z")), (Some(2L), Some("x")),
      (None, Some("x")), (Some(1L), None), (Some(1L), Some("x"))).toDF("k1", "k2")
    assertSamePaths(ks)(FeatureStore.retrieve(_, t, Seq("k1", "k2"),
      fg.copy(features = Seq(FeatureDef("v", FeatureType.FP64, default = -1.0))), Seq("v")))
  }

  test("retrieve: two pks over one projected table each get their own index") {
    // pk a with features (b, v), then pk (a, b) with feature v: both
    // project the table to (a, b, v), so only the key the index is
    // grouped by tells the two apart
    val t = parquet(Seq((1L, "x", 5.0), (1L, "y", 6.0), (2L, "x", 7.0)).toDF("a", "b", "v"))
    val vDef = FeatureDef("v", FeatureType.FP64, default = -1.0)
    assertSamePaths(Seq(1L, 2L, 3L).toDF("a"))(FeatureStore.retrieve(_, t, Seq("a"),
      fg.copy(features = Seq(FeatureDef("b", FeatureType.Str, default = "D"), vDef)),
      Seq("b", "v")))
    assertSamePaths(Seq((1L, "y"), (2L, "x"), (2L, "y")).toDF("a", "b"))(
      FeatureStore.retrieve(_, t, Seq("a", "b"), fg.copy(features = Seq(vDef)), Seq("v")))
  }

  test("retrieve: TTL with a fixed asOf agrees across paths") {
    val t = parquet(Seq(
      (1L, 10.0, "a", Timestamp.valueOf("2024-01-01 00:00:00")),
      (2L, 20.0, "b", Timestamp.valueOf("2024-01-01 12:00:00")),
      (3L, 30.0, "c", null.asInstanceOf[Timestamp]))
      .toDF("k", "v", "s", "written_at"))
    assertSamePaths(Seq(1L, 2L, 3L, 4L).toDF("k"))(FeatureStore.retrieve(_, t, Seq("k"),
      fg.copy(ttlSeconds = 3600), Seq("v", "s"),
      asOf = Some(lit("2024-01-01 02:00:00").cast("timestamp"))))
  }

  test("retrieve: per-row schema version agrees across paths") {
    val vFg = FeatureGroupDef("f", 1, Seq(
      FeatureDef("v", FeatureType.FP64, default = -1.0),
      FeatureDef("s", FeatureType.Str, default = "D", sinceVersion = 2)),
      activeVersion = 2)
    val t = parquet(Seq((1L, 10.0, "stale", 1), (2L, 20.0, "real", 2))
      .toDF("k", "v", "s", "schema_version"))
    assertSamePaths(Seq(1L, 2L, 3L).toDF("k"))(
      FeatureStore.retrieve(_, t, Seq("k"), vFg, Seq("v", "s")))
  }

  test("retrieve: FP16 / FP8 quantized projections agree across paths") {
    assertSamePaths(keys)(FeatureStore.retrieve(_, table, Seq("k"), fg,
      Seq("v", "v@DataTypeFP16", "v@DataTypeFP8E4M3", "v@DataTypeFP8E5M2", "n@DataTypeInt64")))
  }

  test("stitch of local retrieves agrees with the scan-path stitch") {
    val other = parquet(Seq((1L, 11L), (4L, 44L), (4L, 45L)).toDF("k", "c"))
    val ofg = FeatureGroupDef("o", 2, Seq(FeatureDef("c", FeatureType.Int64, default = 0L)))
    assertSamePaths(keys) { ks =>
      FeatureStore.stitch(Seq("k"), Seq(
        FeatureStore.retrieve(ks, table, Seq("k"), fg, Seq("v@DataTypeFP16", "s")),
        FeatureStore.retrieve(ks, other, Seq("k"), ofg, Seq("c"))))
    }
  }

  test("a warm local-key retrieve + stitch launches no Spark job") {
    val other = parquet(Seq((1L, 11L), (3L, 33L)).toDF("k", "c"))
    val ofg = FeatureGroupDef("o", 2, Seq(FeatureDef("c", FeatureType.Int64, default = 0L)))
    def request(): Array[org.apache.spark.sql.Row] = FeatureStore.stitch(Seq("k"), Seq(
        FeatureStore.retrieve(keys, table, Seq("k"), fg, Seq("v", "s")),
        FeatureStore.retrieve(keys, other, Seq("k"), ofg, Seq("c"))))
      .select("k", "v", "c").collect()
    val group = "lookup-tier-zero-jobs"
    val barrierGroup = "lookup-tier-barrier"
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
      spark.sparkContext.setJobGroup(group, "warm lookup")
      val warm = request()
      // a listener sees events in posting order: once this later job's
      // start arrives, every job start of the warm request has too
      spark.sparkContext.setJobGroup(barrierGroup, "listener barrier")
      spark.sparkContext.parallelize(Seq(1), 1).count()
      assert(barrier.await(60, TimeUnit.SECONDS))
      assert(jobs.get() === 0)
      assert(warm.sortBy(_.toString).toSeq === cold.sortBy(_.toString).toSeq)
      // 8 keys; k = 3 is stored twice and the twice-requested k = 1
      // pairs with itself across the two parts, as on the scan path
      assert(warm.length === 11)
    } finally {
      spark.sparkContext.clearJobGroup()
      spark.sparkContext.removeSparkListener(listener)
    }
  }

  test("a fresh read after Ingest.upsertBatch sees the new version") {
    val path = Files.createTempDirectory("graft-tier-ingest").toString + "/t"
    val pfg = FeatureGroupDef("p", 1, Seq(FeatureDef("v", FeatureType.FP64, default = -1.0)))
    def read(): Map[Long, Double] = {
      val out = FeatureStore.retrieve(Seq(1L, 2L, 3L).toDF("k"), spark.read.parquet(path),
        Seq("k"), pfg, Seq("v"))
      assert(isLocal(out))
      out.as[(Long, Double)].collect().toMap
    }
    Ingest.upsertBatch(Seq((1L, 1L, 10.0), (2L, 1L, 20.0)).toDF("k", "ver", "v"),
      path, Seq("k"), "ver")
    assert(read() === Map(1L -> 10.0, 2L -> 20.0, 3L -> -1.0))
    val before = LookupTier.cache.builds
    assert(read() === Map(1L -> 10.0, 2L -> 20.0, 3L -> -1.0))
    assert(LookupTier.cache.builds === before, "a second read of one snapshot reuses its index")
    Ingest.upsertBatch(Seq((2L, 2L, 21.0), (3L, 2L, 30.0)).toDF("k", "ver", "v"),
      path, Seq("k"), "ver")
    assert(read() === Map(1L -> 10.0, 2L -> 21.0, 3L -> 30.0))
    assert(LookupTier.cache.builds === before + 1)
  }

  test("a table above autoBroadcastJoinThreshold and mismatched key types take the scan path") {
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    val expected = FeatureStore.retrieve(keys, table, Seq("k"), fg, Seq("v", "s"))
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "100")
      val big = FeatureStore.retrieve(keys, table, Seq("k"), fg, Seq("v", "s"))
      assert(!isLocal(big))
      assert(big.collect().sortBy(_.toString).toSeq === expected.collect().sortBy(_.toString).toSeq)
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
    val intKeys = Seq(1, 3, 99).toDF("k")
    val mismatched = FeatureStore.retrieve(intKeys, table, Seq("k"), fg, Seq("v"))
    assert(!isLocal(mismatched))
    assert(mismatched.orderBy("k", "v").as[(Int, Double)].collect().toSeq ===
      Seq((1, 0.1), (3, 3.5), (3, 3.75), (99, -1.0)))
    // floating-point keys are never indexed (join equality normalizes -0.0 / NaN)
    val dKeys = Seq(1.0).toDF("k")
    val dTable = parquet(Seq((1.0, 2.0)).toDF("k", "v"))
    assert(!isLocal(FeatureStore.retrieve(dKeys, dTable, Seq("k"), fg, Seq("v"))))
  }

  test("the index cache stays bounded and evicts the least recently used snapshot") {
    val tables = (0 until SnapshotCache.MaxEntries + 2).map(i =>
      parquet(Seq((1L, i.toDouble)).toDF("k", "v")))
    def get(i: Int): Double =
      FeatureStore.retrieve(Seq(1L).toDF("k"), tables(i), Seq("k"), fg, Seq("v"))
        .as[(Long, Double)].head()._2
    tables.indices.foreach(i => assert(get(i) === i.toDouble))
    assert(LookupTier.cache.size <= SnapshotCache.MaxEntries)
    val b0 = LookupTier.cache.builds
    assert(get(tables.size - 1) === tables.size - 1.0)
    assert(LookupTier.cache.builds === b0, "the most recent snapshot is still cached")
    assert(get(0) === 0.0)
    assert(LookupTier.cache.builds === b0 + 1, "the oldest snapshot was evicted")
    assert(LookupTier.cache.size <= SnapshotCache.MaxEntries)
  }

  test("concurrent callers build one index per snapshot") {
    val dir = writeParquet((1L to 200L).map(k => (k, k * 0.5)).toDF("k", "v"))
    val before = LookupTier.cache.builds
    val pool = Executors.newFixedThreadPool(4)
    val start = new CountDownLatch(1)
    try {
      val results = (0 until 4).map { c =>
        pool.submit(() => {
          start.await()
          FeatureStore.retrieve(Seq(1L + c, 300L).toDF("k"), spark.read.parquet(dir),
            Seq("k"), fg, Seq("v")).as[(Long, Double)].collect().toMap
        })
      }
      start.countDown()
      results.zipWithIndex.foreach { case (f, c) =>
        assert(f.get(60, TimeUnit.SECONDS) === Map(1L + c -> (1L + c) * 0.5, 300L -> -1.0))
      }
    } finally pool.shutdown()
    assert(LookupTier.cache.builds === before + 1)
  }
}
