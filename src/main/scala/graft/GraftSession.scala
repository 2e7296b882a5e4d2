package graft

import org.apache.spark.sql.SparkSession

/** Session factory for the graft engine.
  *
  * Local-mode defaults tuned for the test harness (local[32], 128 GiB);
  * on a real cluster the same settings apply except master/memory come
  * from spark-submit. AQE is on so skewed shuffles re-plan at runtime
  * (skew-join splitting, dynamic coalescing) — at 100 TB that, plus
  * explicit broadcast hints in the operators, is the main shuffle knob.
  */
object GraftSession {
  def builder(appName: String = "graft", cores: String = "32"): SparkSession.Builder =
    SparkSession.builder()
      .master(s"local[$cores]")
      .appName(appName)
      .config("spark.sql.shuffle.partitions", "32")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      // InferFiltersFromGenerate duplicates the generator input into a
      // pre-Generate filter; for expensive array expressions (regex
      // shingling, md5 minhash) that re-evaluates the whole interpreted
      // HOF chain per row for a filter that never rejects anything
      // (measured 10x on the dedup inverted-index explode).
      .config("spark.sql.optimizer.excludedRules",
        "org.apache.spark.sql.catalyst.optimizer.InferFiltersFromGenerate")
      // test events table carries TIMESTAMP(NANOS); see Tables.events
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")

  def get(appName: String = "graft"): SparkSession = {
    val s = builder(appName).getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    quietNoisyLoggers()
    s
  }

  /** Drop known false-alarm warning loggers to ERROR so a truncated
    * driver log tail carries signal instead of spam (r15: the killed
    * bench's surviving tail was 100% `WindowExec: No Partition
    * Defined` lines). Each entry is a reviewed, per-query-expected
    * warning with no information content in THIS suite:
    *  - `execution.window` — every unpartitioned window in the repo
    *    is the documented bounded two-phase pattern (a window over at
    *    most `spark.sql.shuffle.partitions` per-partition-total rows —
    *    PrefixSum scaladoc), so the single-partition warning is a
    *    false alarm by construction;
    *  - `streaming.runtime` (MicroBatchExecution,
    *    ResolveWriteToStream live here in Spark 4.1) — the fixed
    *    "AQE is not supported in stateful workloads" notices, emitted
    *    once per streaming gate query per pass (hundreds per bench);
    *  - `sql.Column` — "trivially true equals predicate" from the
    *    self-join identity checks, intentional there;
    *  - `scheduler.DAGScheduler` — "Broadcasting large task binary"
    *    (the suite's wide plans serialize ~1 MB of task closures,
    *    expected at this query complexity, fired per job). The r17
    *    kill-drill caught one of these as the LAST line of a killed
    *    run's captured tail, after the final metric line — exactly
    *    the pollution a strict last-line driver parse cannot survive.
    * Real failures still surface as exceptions and artifact error
    * entries, never only as WARNs (DAGScheduler reports stage/job
    * failures at ERROR). Per-logger config survives `setLogLevel`
    * (which only touches the root LoggerConfig); call this AFTER
    * setLogLevel anyway. */
  def quietNoisyLoggers(): Unit =
    Seq("org.apache.spark.sql.execution.window",
      "org.apache.spark.sql.execution.streaming.runtime",
      "org.apache.spark.scheduler.DAGScheduler",
      "org.apache.spark.sql.Column").foreach { name =>
      org.apache.logging.log4j.core.config.Configurator.setLevel(
        name, org.apache.logging.log4j.Level.ERROR)
    }
}
