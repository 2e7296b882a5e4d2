package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Physical table layout for the 100 TB target (SURVEY §4 physical
  * notes): feature tables bucketed by entity key, event tables
  * partitioned by event-time week.
  *
  * == Why ==
  *  - A feature table bucketed on its pk joins against another table
  *    bucketed the same way (or is upserted into) WITHOUT a shuffle of
  *    the big side — the join becomes a per-bucket zip. At 1000
  *    executors that is the difference between a full-table exchange
  *    per batch and none.
  *  - An event table partitioned by week turns every time-range
  *    predicate into partition pruning: only the ≤24 touched weekly
  *    directories are listed and scanned.
  *    [[graft.operators.InteractionStore.retrieveRange]] adds the week
  *    bound itself when it reads this layout.
  */
object Layout {

  /** Write a feature-group table bucketed+sorted by its entity key.
    * Bucketed tables require the session catalog (`saveAsTable`).
    * Replaces any previous incarnation: the in-memory catalog starts
    * empty each session while the warehouse directory survives on
    * disk, so a stale location is cleared before the write (otherwise
    * saveAsTable fails with LOCATION_ALREADY_EXISTS).
    *
    * SIZE `buckets` ≥ the join parallelism you plan to run
    * (`spark.sql.shuffle.partitions`): when a bucketed table joins a
    * non-bucketed side, the planner keeps the table side shuffle-free
    * only if the bucket count can serve as the join's partition count —
    * with fewer buckets it disables the bucketed scan and re-shuffles
    * the BIG side to the shuffle-partition count (observed: 8 buckets
    * vs 32 shuffle partitions shuffles the table; 32 buckets do not —
    * LayoutSpec "bulk-keys retrieve" pins this at two parallelisms).
    * `buckets ≤ 0` (the default) derives the count from the session's
    * `spark.sql.shuffle.partitions`, so the table is born matching the
    * parallelism it will be joined at — a hardcoded count silently
    * re-shuffles under any other session setting. At 100 TB you want
    * thousands of buckets anyway (file-size bound), which naturally
    * clears any sane parallelism. */
  def writeBucketedFeatureTable(
      df: DataFrame,
      table: String,
      pk: Seq[String],
      buckets: Int = 0): Unit = {
    val spark = df.sparkSession
    val nBuckets =
      if (buckets > 0) buckets
      else spark.conf.get("spark.sql.shuffle.partitions").toInt
    spark.sql(s"DROP TABLE IF EXISTS $table")
    // the in-memory catalog starts empty each session while the
    // warehouse dir survives on disk, so DROP may not clear a stale
    // location. Spark lower-cases table identifiers, and the warehouse
    // may be any Hadoop URI — resolve both via the Hadoop FS API
    // rather than assuming a local file path with the verbatim name.
    val dir = new org.apache.hadoop.fs.Path(
      spark.conf.get("spark.sql.warehouse.dir"),
      table.toLowerCase(java.util.Locale.ROOT))
    val fs = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(dir)) fs.delete(dir, true)
    df.write.mode("overwrite")
      .bucketBy(nBuckets, pk.head, pk.tail: _*)
      .sortBy(pk.head, pk.tail: _*)
      .format("parquet")
      .saveAsTable(table)
  }

  /** Write an event table partitioned by event-time week. */
  def writeWeekPartitionedEvents(
      df: DataFrame,
      path: String,
      tsCol: String = "ts"): Unit =
    df.withColumn("week", graft.operators.InteractionStore.week(col(tsCol)))
      .write.mode("overwrite")
      .partitionBy("week")
      .parquet(path)

  def readEvents(spark: SparkSession, path: String): DataFrame =
    spark.read.parquet(path)

  /** Persist an IVF index with the corpus partitioned by `cell_id`.
    * Probing then prunes at the DIRECTORY level: the `cell_id` join in
    * [[graft.operators.IvfIndex.search]] triggers dynamic partition
    * pruning, so a search over a 100 TB corpus lists and reads only the
    * `nProbe` probed cells' files — the IVF promise carried all the way
    * into the scan.
    *
    * The int8 codes + scales are stored as columns too, so
    * [[graft.operators.IvfIndex.searchInt8]] over the loaded index scans
    * the 4×-smaller code payload and column-prunes the float embeddings
    * entirely — quantize once at build, never per query (the reference
    * persists indexed vectors the same way,
    * `skye/internal/repositories/embedding/embedding_store.go:114-180`). */
  def writeIvf(idx: graft.operators.IvfIndex, path: String,
      embCol: String = "embedding"): Unit = {
    idx.materializeInt8(embCol).assigned.write.mode("overwrite")
      .partitionBy("cell_id").parquet(s"$path/assigned")
    idx.centroids.write.mode("overwrite").parquet(s"$path/centroids")
  }

  def loadIvf(spark: SparkSession, path: String): graft.operators.IvfIndex = {
    val centroids = spark.read.parquet(s"$path/centroids")
    // fail LOUDLY on an oversized centroid table: the search paths
    // bound every centroid cross-join at IvfIndex.MaxCells, so a
    // larger persisted table (external tooling, pre-cap build) would
    // otherwise be silently truncated into wrong assignments. The
    // count is one job over a cells-sized parquet — negligible.
    val n = centroids.count()
    require(n <= graft.operators.IvfIndex.MaxCells,
      s"persisted centroid table at $path has $n rows > " +
        s"IvfIndex.MaxCells (${graft.operators.IvfIndex.MaxCells}); " +
        "shard the index instead")
    graft.operators.IvfIndex(
      spark.read.parquet(s"$path/assigned"), centroids)
  }

  /** Append an ingest batch into a PERSISTED IVF layout without a
    * rebuild: assign against the stored centroids, code the new rows if
    * the stored table carries int8 columns, and append files into the
    * touched `cell_id` partition directories — existing files are
    * never rewritten, so the append costs one pass over the DELTA, not
    * the corpus. Pair with [[compact]] per partition when small ingest
    * files accumulate. */
  def appendIvf(spark: SparkSession, path: String, newVectors: DataFrame,
      embCol: String = "embedding"): Unit =
    loadIvf(spark, path)
      .assignNew(newVectors, embCol = embCol)
      .write.mode("append").partitionBy("cell_id")
      .parquet(s"$path/assigned")

  /** Persist a PQ index: the m-byte codes ARE the stored corpus payload
    * (32× smaller than the float vectors at dim 64, m 8) plus the tiny
    * (m·k)-row codebook and one metadata row. Queries over the loaded
    * index never read an embedding column — ADC scoring is a join of
    * the code table against the broadcast query lookup table. */
  def writePq(idx: graft.operators.PqIndex, path: String): Unit = {
    idx.codes.write.mode("overwrite").parquet(s"$path/codes")
    idx.codebook.write.mode("overwrite").parquet(s"$path/codebook")
    val spark = idx.codebook.sparkSession
    spark.createDataFrame(Seq((idx.m, idx.k, idx.subDim)))
      .toDF("m", "k", "subDim")
      .coalesce(1).write.mode("overwrite").parquet(s"$path/meta")
  }

  def loadPq(spark: SparkSession, path: String): graft.operators.PqIndex = {
    val meta = spark.read.parquet(s"$path/meta").head()
    graft.operators.PqIndex(
      spark.read.parquet(s"$path/codebook"),
      spark.read.parquet(s"$path/codes"),
      m = meta.getAs[Int]("m"), k = meta.getAs[Int]("k"),
      subDim = meta.getAs[Int]("subDim"))
  }

  /** Compact a parquet directory to ~`targetRowsPerFile` rows per file
    * (streaming upserts and partitioned writes accumulate small files;
    * at 1000 executors, file-open overhead dominates a scan of a
    * million 1 MB files). Rewrites via a staging dir + [[swapInto]],
    * first healing a swap a crash interrupted ([[recoverSwap]]).
    */
  def compact(spark: SparkSession, path: String, targetRowsPerFile: Long): Unit = {
    val target = new org.apache.hadoop.fs.Path(path)
    // resolve the FILESYSTEM OF THE PATH (FileSystem.get would return
    // the default FS and break s3a:// etc.)
    val fs = target.getFileSystem(spark.sparkContext.hadoopConfiguration)
    recoverSwap(fs, target)
    val df = spark.read.parquet(path)
    val files = math.max(1, math.ceil(df.count().toDouble / targetRowsPerFile).toInt)
    val staging = new org.apache.hadoop.fs.Path(path + "__compacting")
    df.repartition(files).write.mode("overwrite").parquet(staging.toString)
    swapInto(fs, staging, target)
  }

  /** Crash-safe directory replacement: the old table is renamed ASIDE
    * (`target__old`) before the staging dir takes its place, so no
    * crash window ever leaves NO table — at worst the previous state
    * survives under `__old` and [[recoverSwap]] restores it on the next
    * call. (A delete-then-rename swap has a window where the entire
    * state table and its replay marker are gone; a replayed batch would
    * then silently re-initialize state from itself alone.) Shared by
    * [[compact]] and [[graft.streaming.Ingest]]'s state writers. */
  private[graft] def swapInto(fs: org.apache.hadoop.fs.FileSystem,
      staging: org.apache.hadoop.fs.Path,
      target: org.apache.hadoop.fs.Path): Unit = {
    val old = new org.apache.hadoop.fs.Path(target.toString + "__old")
    if (fs.exists(old)) fs.delete(old, true)
    if (fs.exists(target)) fs.rename(target, old)
    fs.rename(staging, target)
    if (fs.exists(old)) fs.delete(old, true)
  }

  /** Heal an interrupted [[swapInto]]: a crash between the two renames
    * leaves `target` missing and `target__old` holding the last good
    * state — put it back before reading. */
  private[graft] def recoverSwap(fs: org.apache.hadoop.fs.FileSystem,
      target: org.apache.hadoop.fs.Path): Unit = {
    val old = new org.apache.hadoop.fs.Path(target.toString + "__old")
    if (!fs.exists(target) && fs.exists(old)) fs.rename(old, target)
  }

  /** Morton (Z-order) code of two non-negative int columns: the low
    * `bits` bits of each, interleaved. Clustering a table by this code
    * keeps both dimensions' value ranges narrow inside every file, so
    * parquet min/max stats prune scans on EITHER predicate — the
    * standard multi-dimensional layout trick (Delta/Iceberg Z-ORDER),
    * here as a plain expression + range repartition. */
  def mortonCode(x: org.apache.spark.sql.Column, y: org.apache.spark.sql.Column,
      bits: Int = 16): org.apache.spark.sql.Column =
    (0 until bits).map { b =>
      (shiftleft(shiftright(x, b).bitwiseAND(lit(1L)), 2 * b) +
        shiftleft(shiftright(y, b).bitwiseAND(lit(1L)), 2 * b + 1)).cast("long")
    }.reduce(_ + _) // bit-disjoint terms: + == bitwise OR

  /** Write `df` Z-ordered on (xCol, yCol) into `files` files. */
  def writeZOrdered(df: DataFrame, path: String, xCol: String, yCol: String,
      files: Int, bits: Int = 16): Unit =
    df.withColumn("__z", mortonCode(col(xCol), col(yCol), bits))
      .repartitionByRange(files, col("__z"))
      .sortWithinPartitions(col("__z"))
      .drop("__z")
      .write.mode("overwrite").parquet(path)

  /** Measure what Z-ordering buys: bucket `df` by the Morton code of
    * two integer dimensions (each first equi-width-binned to 2^bits
    * cells over its observed min..max) and report, per bucket, the
    * row count and BOTH dimensions' min/max — the file-footer stats a
    * parquet reader consults — plus whether the bucket is prunable for
    * a fixed mid-range band predicate on each dimension alone.
    *
    * At 100 TB each "bucket" is a file (or row group): narrow per-file
    * ranges on *either* column mean a selective predicate on either
    * one skips most files before a byte is read. A single-column sort
    * gives that pruning on one dimension only; the interleaved code
    * trades a little of it on each axis for coverage of both — this
    * audit makes the trade measurable (count the `skip_x`/`skip_y`
    * buckets). All arithmetic is integer (binning via `div`, the
    * predicate bounds as integer percentiles of the value range), so
    * the audit is engine-exact.
    *
    * Plan shape: one aggregate for the global min/max (broadcast
    * one-row table), one shuffle for the per-bucket aggregate. The
    * groupBy key space is 4^bits but only `buckets` coarse buckets
    * materialize. */
  /** Copy-on-write amplification by layout: given rows tagged with
    * their (layout, file) assignment and an update flag, report how
    * many files an update batch touches and how many rows a
    * copy-on-write rewrite would carry, per layout. The write-side
    * twin of [[zorderPruningAudit]]: clustering by the UPDATE key
    * confines each update batch to few files (amplification →
    * rows-per-file), while an orthogonal clustering forces a rewrite
    * of nearly every file. Two aggregates: per (layout, file), then
    * per layout. */
  def cowAmplification(df: DataFrame, layoutCol: String, fileCol: String,
      updateCol: String): DataFrame = {
    val perFile = df.groupBy(col(layoutCol), col(fileCol))
      .agg(count(lit(1)).as("__rows"),
        sum(col(updateCol).cast("long")).as("__upd"))
    perFile.groupBy(col(layoutCol))
      .agg(count(lit(1)).as("n_files"),
        sum((col("__upd") > 0L).cast("long")).as("files_touched"),
        sum(col("__upd")).as("n_updated_rows"),
        sum(when(col("__upd") > 0L, col("__rows")).otherwise(0L))
          .as("rows_rewritten"))
      .withColumn("write_amp",
        round(col("rows_rewritten").cast("double") /
          col("n_updated_rows").cast("double"), 6))
  }

  def zorderPruningAudit(df: DataFrame, xCol: String, yCol: String,
      bits: Int = 8, buckets: Int = 64): DataFrame = {
    val side = 1 << bits                // cells per dimension
    val zSpace = 1L << (2 * bits)       // morton code space
    val mm = df.agg(
      min(col(xCol)).as("minx"), max(col(xCol)).as("maxx"),
      min(col(yCol)).as("miny"), max(col(yCol)).as("maxy"))
    val binned = df.select(col(xCol).as("x"), col(yCol).as("y"))
      .crossJoin(broadcast(mm))
      .withColumn("bx", expr(s"(x - minx) * $side div (maxx - minx + 1)"))
      .withColumn("by", expr(s"(y - miny) * $side div (maxy - miny + 1)"))
      .withColumn("z", mortonCode(col("bx"), col("by"), bits))
      .withColumn("bucket", expr(s"z * $buckets div ${zSpace}L"))
    val perBucket = binned.groupBy(col("bucket"))
      .agg(count(lit(1)).as("cnt"),
        min("x").as("min_x"), max("x").as("max_x"),
        min("y").as("min_y"), max("y").as("max_y"))
    // fixed band predicates: the middle [40%, 60%] of each dimension's
    // range, bounds derived with the same integer arithmetic on both
    // engines
    perBucket.crossJoin(broadcast(mm))
      .withColumn("skip_x", expr(
        "max_x < minx + (maxx - minx + 1) * 40 div 100 OR " +
          "min_x > minx + (maxx - minx + 1) * 60 div 100"))
      .withColumn("skip_y", expr(
        "max_y < miny + (maxy - miny + 1) * 40 div 100 OR " +
          "min_y > miny + (maxy - miny + 1) * 60 div 100"))
      .select("bucket", "cnt", "min_x", "max_x", "min_y", "max_y",
        "skip_x", "skip_y")
  }
}
