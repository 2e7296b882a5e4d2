package graft

import java.nio.file.Files
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.sources.Layout

/** Physical layout behaviors that carry the 100 TB design: bucketed
  * joins without exchanges, week-partition pruning. */
class LayoutSpec extends AnyFunSuite with SparkSuite {
  import spark.implicits._

  test("bucketed feature tables join with zero exchanges") {
    val features = (1L to 1000L).map(k => (k, s"name$k", k * 1.5))
      .toDF("k", "name", "score")
    val stats = (1L to 1000L).map(k => (k, k % 7))
      .toDF("k", "cnt")
    Layout.writeBucketedFeatureTable(features, "fg_profile", Seq("k"), 8)
    Layout.writeBucketedFeatureTable(stats, "fg_stats", Seq("k"), 8)
    // force the shuffle-join path a 100 TB table would take (broadcast
    // would hide the bucketing benefit on this tiny fixture)
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val joined = spark.table("fg_profile").join(spark.table("fg_stats"), "k")
      val plan = joined.queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange"),
        s"bucketed join must not shuffle either side:\n$plan")
      assert(plan.contains("Bucketed: true"), s"scan must use buckets:\n$plan")
      assert(joined.count() === 1000L)
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("bulk-keys retrieve keeps the bucketed table side exchange-free " +
      "at any session parallelism (derived bucket count)") {
    import graft.operators.FeatureStore
    val features = (1L to 1000L).map(k => (k, s"name$k", k * 1.5, "SEG"))
      .toDF("c_custkey", "c_name", "c_acctbal", "c_mktsegment")
    // scoring-sized key set with duplicates and misses
    val keys = (1L to 3000L).map(k => k % 1500 + 1).toDF("c_custkey")
    val prevBc = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    val prevAqe = spark.conf.get("spark.sql.adaptive.enabled")
    val prevPar = spark.conf.get("spark.sql.shuffle.partitions")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      // AQE wraps the plan in AdaptiveSparkPlanExec (a leaf — tree
      // traversal can't see inside); bucketed-join planning is a
      // static property, so assert it on the non-adaptive plan
      spark.conf.set("spark.sql.adaptive.enabled", "false")
      // two parallelisms: the bucket count is DERIVED from the session
      // (Layout default), so the exchange-free property must hold at
      // both — a hardcoded count only survives its birth parallelism
      for (parallelism <- Seq(8, 32)) {
        spark.conf.set("spark.sql.shuffle.partitions", parallelism.toString)
        val tbl = s"fg_bulk_p$parallelism"
        Layout.writeBucketedFeatureTable(features, tbl, Seq("c_custkey"))
        val out = FeatureStore.retrieve(keys, spark.table(tbl),
          Seq("c_custkey"), Fixtures.customerProfile,
          Seq("c_name", "c_acctbal", "c_mktsegment"), broadcastKeys = false)
        assert(out.count() === 3000L, s"parallelism=$parallelism")
        // the 100 TB invariant behind q151: the feature table is joined
        // on its bucket key, so no Exchange may sit between its scan and
        // the join — only the key-set side shuffles
        import org.apache.spark.sql.execution.FileSourceScanExec
        import org.apache.spark.sql.execution.exchange.Exchange
        val plan = out.queryExecution.executedPlan
        val allScans = plan.collect { case s: FileSourceScanExec => s }
        assert(allScans.nonEmpty,
          s"expected a file scan (parallelism=$parallelism) in:\n$plan")
        val shuffledScans = plan.collect {
          case e: Exchange => e.collect { case s: FileSourceScanExec => s }
        }.flatten
        assert(shuffledScans.isEmpty,
          s"bucketed table reached a join through an Exchange at " +
            s"parallelism=$parallelism:\n$plan")
      }
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevBc)
      spark.conf.set("spark.sql.adaptive.enabled", prevAqe)
      spark.conf.set("spark.sql.shuffle.partitions", prevPar)
    }
  }

  test("week-partitioned events prune partitions on time-range scans") {
    val dir = Files.createTempDirectory("graft-events").toString + "/events"
    val ev = (0 until 200).map { i =>
      (i.toLong, java.sql.Timestamp.valueOf(s"2024-01-${1 + i % 28} 10:00:00"), i.toLong % 10)
    }.toDF("event_id", "ts", "user_id")
    Layout.writeWeekPartitionedEvents(ev, dir)
    val scan = Layout.readEvents(spark, dir)
      .filter($"week" === lit("2024-01-08").cast("date"))
    val pruned = scan.queryExecution.executedPlan.toString
    // the week predicate must land in PartitionFilters (directory
    // pruning), not a post-scan data Filter
    assert("PartitionFilters: \\[[^\\]]*week".r.findFirstIn(pruned).isDefined,
      s"week predicate must be a partition filter:\n$pruned")
    assert(scan.count() > 0)
    // pruned scan reads strictly fewer rows than the full table
    assert(scan.count() < Layout.readEvents(spark, dir).count())
  }

  test("retrieveRange prunes week directories and matches the unpruned " +
      "result when the reader's time zone differs from the writer's") {
    import graft.operators.InteractionStore
    import org.apache.spark.sql.execution.FileSourceScanExec
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
    object Plans extends AdaptiveSparkPlanHelper
    val dir = Files.createTempDirectory("graft-events-tz").toString + "/events"
    val t0 = java.time.Instant.parse("2024-01-01T00:00:00Z").toEpochMilli // a Monday
    // one event every 2 h for 10 weeks, cycling over 3 users
    val ev = (0 until 840).map { i =>
      (i.toLong, new java.sql.Timestamp(t0 + i * 7200000L), i.toLong % 3, "click")
    }.toDF("event_id", "ts", "user_id", "event_type")
    val prevTz = spark.conf.get("spark.sql.session.timeZone")
    try {
      spark.conf.set("spark.sql.session.timeZone", "UTC")
      Layout.writeWeekPartitionedEvents(ev, dir)
      // start is a Sunday afternoon in UTC (week 2024-01-15 on disk) but
      // already Monday in Kiritimati (UTC+14, week 2024-01-22 there);
      // end is a Monday morning in UTC (week 2024-02-05 on disk) but
      // still Sunday in Los Angeles (week 2024-01-29 there)
      val start = lit(java.sql.Timestamp.from(java.time.Instant.parse("2024-01-21T15:00:00Z")))
      val end = lit(java.sql.Timestamp.from(java.time.Instant.parse("2024-02-05T04:00:00Z")))
      for (tz <- Seq("UTC", "Pacific/Kiritimati", "America/Los_Angeles")) {
        spark.conf.set("spark.sql.session.timeZone", tz)
        val events = Layout.readEvents(spark, dir)
        val pruned = InteractionStore.retrieveRange(events, start, end, limit = 2000)
        // the same rows behind a plan that is not a partitioned file scan
        val unpruned = InteractionStore.retrieveRange(events.localCheckpoint(), start, end,
          limit = 2000)
        val got = pruned.collect().sortBy(_.toString).toSeq
        assert(got === unpruned.collect().sortBy(_.toString).toSeq, s"tz=$tz")
        // events 248..422 (2024-01-21T16:00Z .. 2024-02-05T04:00Z)
        assert(got.size === 175, s"tz=$tz")
        val filesRead = Plans.collect(pruned.queryExecution.executedPlan) {
          case s: FileSourceScanExec => s.metrics("numFiles").value
        }.sum
        assert(filesRead > 0 && filesRead < events.inputFiles.length,
          s"tz=$tz read $filesRead of ${events.inputFiles.length} files")
      }
    } finally spark.conf.set("spark.sql.session.timeZone", prevTz)
  }

  test("compact rewrites a many-file table into the target file count") {
    val dir = Files.createTempDirectory("graft-compact").toString + "/t"
    (1L to 1000L).toDF("v").repartition(40).write.parquet(dir)
    def nFiles = new java.io.File(dir).listFiles()
      .count(f => f.getName.endsWith(".parquet"))
    assert(nFiles >= 30)
    Layout.compact(spark, dir, targetRowsPerFile = 500)
    assert(nFiles <= 3)
    assert(spark.read.parquet(dir).count() === 1000L)
  }

  test("Z-order clustering keeps both dimensions narrow per file") {
    val rnd = new scala.util.Random(3)
    val dir = Files.createTempDirectory("graft-zorder").toString + "/t"
    val df = (1 to 20000).map(_ =>
      (rnd.nextInt(65536).toLong, rnd.nextInt(65536).toLong))
      .toDF("x", "y")
    Layout.writeZOrdered(df, dir, "x", "y", files = 16)
    val spans = spark.read.parquet(dir)
      .groupBy(input_file_name())
      .agg((max($"x") - min($"x")).as("xs"), (max($"y") - min($"y")).as("ys"))
      .agg(avg($"xs"), avg($"ys")).as[(Double, Double)].head()
    // random assignment would give ~full span (~65k) per file on both
    // axes; Z-order must keep each well under half of it
    assert(spans._1 < 32768 && spans._2 < 32768,
      s"per-file spans too wide: $spans")
  }

  test("cell-partitioned IVF search dynamic-prunes to the probed cells") {
    import graft.operators.IvfIndex
    val emb = Tables.embeddings(spark, sf)
    val idx = IvfIndex.build(emb, cells = 8)
    val dir = Files.createTempDirectory("graft-ivf").toString + "/ivf"
    Layout.writeIvf(idx, dir)
    val loaded = Layout.loadIvf(spark, dir)
    val queries = emb.filter($"vec_id" === 7)
      .select($"vec_id".as("query_id"), $"embedding".as("query_embedding"))
    val res = loaded.search(queries, k = 5, nProbe = 2)
    val plan = res.queryExecution.executedPlan.toString
    assert(plan.contains("dynamicpruning"),
      s"cell_id probe join must dynamic-prune partitions:\n$plan")
    // layout-backed search returns exactly the in-memory index's result
    val fromDisk = res.select("query_id", "vec_id", "rank")
      .as[(Long, Long, Int)].collect().toSet
    val fromMem = idx.search(queries, k = 5, nProbe = 2)
      .select("query_id", "vec_id", "rank")
      .as[(Long, Long, Int)].collect().toSet
    assert(fromDisk === fromMem)
  }

  test("stored int8 codes: searchInt8 over a written index scans the " +
      "code columns and prunes the embeddings away") {
    import graft.operators.IvfIndex
    val emb = Tables.embeddings(spark, sf)
    val idx = IvfIndex.build(emb, cells = 8)
    val dir = Files.createTempDirectory("graft-ivf8").toString + "/ivf"
    Layout.writeIvf(idx, dir) // materializes int8_code/int8_scale
    val loaded = Layout.loadIvf(spark, dir)
    assert(loaded.assigned.columns.contains(IvfIndex.Int8CodeCol))
    val queries = emb.filter($"vec_id" < 3)
      .select($"vec_id".as("query_id"), $"embedding".as("query_embedding"))
    val res = loaded.searchInt8(queries, k = 5, nProbe = 2)
    // the corpus-side parquet scan must read codes, not float vectors —
    // the 4x-smaller payload is the reason the codes are stored
    val plan = res.queryExecution.executedPlan.toString
    val readSchemas =
      "ReadSchema: struct<[^>]*>".r.findAllIn(plan).toSeq
    val corpusScan = readSchemas.find(_.contains("int8_code"))
    assert(corpusScan.isDefined,
      s"corpus scan must read the stored codes:\n$plan")
    assert(!corpusScan.get.contains("embedding"),
      s"embedding must be column-pruned from the code scan: ${corpusScan.get}")
    // bit-equal to the derive-on-read path
    val fromDisk = res.select("query_id", "vec_id", "rank", "score")
      .as[(Long, Long, Int, Double)].collect().toSet
    val fromMem = idx.searchInt8(queries, k = 5, nProbe = 2)
      .select("query_id", "vec_id", "rank", "score")
      .as[(Long, Long, Int, Double)].collect().toSet
    assert(fromDisk === fromMem)
  }

  test("stored PQ codes round-trip and score without any embedding read") {
    import graft.operators.PqIndex
    val emb = Tables.embeddings(spark, sf)
    val idx = PqIndex.build(emb, m = 8, k = 16)
    val dir = Files.createTempDirectory("graft-pq").toString + "/pq"
    Layout.writePq(idx, dir)
    val loaded = Layout.loadPq(spark, dir)
    assert((loaded.m, loaded.k, loaded.subDim) === (idx.m, idx.k, idx.subDim))
    val queries = emb.filter($"vec_id" < 3)
      .select($"vec_id".as("query_id"), $"embedding".as("query_embedding"))
    val res = loaded.searchDot(queries, kResults = 5)
    val fromDisk = res.select("query_id", "vec_id", "rank")
      .as[(Long, Long, Int)].collect().toSet
    val fromMem = idx.searchDot(queries, kResults = 5)
      .select("query_id", "vec_id", "rank")
      .as[(Long, Long, Int)].collect().toSet
    assert(fromDisk === fromMem)
  }

  test("appendIvf absorbs a delta without rewriting stored files and " +
      "matches the in-memory appended index") {
    import graft.operators.IvfIndex
    val emb = Tables.embeddings(spark, sf)
    val base = emb.filter($"vec_id" % 5 =!= 4)
    val delta = emb.filter($"vec_id" % 5 === 4)
    val idx = IvfIndex.build(base, cells = 8)
    val dir = Files.createTempDirectory("graft-ivfapp").toString + "/ivf"
    Layout.writeIvf(idx, dir)
    def dataFiles() = {
      val fs = java.nio.file.Paths.get(dir, "assigned")
      import scala.jdk.CollectionConverters._
      java.nio.file.Files.walk(fs).iterator().asScala
        .filter(p => p.toString.endsWith(".parquet"))
        .map(p => p.toString ->
          java.nio.file.Files.getLastModifiedTime(p).toMillis)
        .toMap
    }
    val before = dataFiles()
    Layout.appendIvf(spark, dir, delta)
    val after = dataFiles()
    // every pre-existing file survives untouched; the delta only ADDS
    before.foreach { case (f, mtime) =>
      assert(after.contains(f), s"append rewrote/removed $f")
      assert(after(f) === mtime, s"append modified $f")
    }
    assert(after.size > before.size, "append added no files")
    // the reloaded layout answers exactly like the in-memory append,
    // with codes materialized for the delta rows too
    val loaded = Layout.loadIvf(spark, dir)
    assert(loaded.assigned.count() === emb.count())
    assert(loaded.assigned.filter(col(IvfIndex.Int8CodeCol).isNull).count() === 0)
    val queries = emb.filter($"vec_id" < 3)
      .select($"vec_id".as("query_id"), $"embedding".as("query_embedding"))
    val fromDisk = loaded.search(queries, k = 5, nProbe = 2)
      .select("query_id", "vec_id", "rank")
      .as[(Long, Long, Int)].collect().toSet
    val fromMem = idx.append(delta).search(queries, k = 5, nProbe = 2)
      .select("query_id", "vec_id", "rank")
      .as[(Long, Long, Int)].collect().toSet
    assert(fromDisk === fromMem)
  }
}
