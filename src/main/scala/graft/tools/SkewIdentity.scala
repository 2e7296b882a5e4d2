package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Row-identity gate for the skew machinery on Zipf-skewed data: every
  * salted / census-capped path ([[graft.operators.Skew]]'s salted
  * agg/join, the `cappedFanJoin` behind `maxBin`/`maxBlock`) compared
  * against its direct twin by multiset signature over all columns. The
  * call-site specs prove these on one-hot fixtures; this runs them on
  * generated Zipf α=1.1 keys ([[GenSf]] `--skew`). `Skew.saltedJoin`
  * is exercised by no q-number, so this is its only end-to-end gate
  * — the oracle kill-test (`tools/killtest.py`) uses it to prove a
  * saltedJoin defect reads RED.
  *
  * Usage: `runMain graft.tools.SkewIdentity <dir> [sf]` — `dir` is a
  * GenSf-generated SKEW directory; if incomplete it is (re)generated
  * at `sf` (default 0.01) with `skew = true`. Completeness probes the
  * LAST-written table's `_SUCCESS` marker (`embeddings.parquet/_SUCCESS`):
  * a generation killed mid-run must look ABSENT, not half-present, or
  * every later run errors on the partial tables and the gate reads RED
  * regardless of the code under test. GenSf overwrites per-table, so
  * regenerating over a partial dir is safe.
  * Prints one `SKEWID <check> <verdict>` line per check plus
  * `SKEWID_SUMMARY`; exits nonzero on any mismatch. Dev/evidence
  * tooling — the library never depends on it.
  */
object SkewIdentity {

  /** Order-insensitive multiset signature of a DataFrame: row count,
    * sum of per-row hashes, and a second moment, with every column
    * cast to string through Spark's own formatter (both sides of a
    * compare are Spark, so formatting cancels). Hashes are reduced
    * mod ~1e9 before summing so the sums cannot overflow under ANSI
    * arithmetic at any sf. */
  def msetSig(df: DataFrame): (Long, Long, Long) = {
    val h0 = xxhash64(df.columns.sorted.map(c => col(c).cast("string")): _*)
    val r = df
      .select(pmod(h0, lit(1000000007L)).as("h"))
      .agg(count(lit(1)).as("n"), sum(col("h")).as("s1"),
        sum(pmod(col("h") * col("h"), lit(999999937L))).as("s2"))
      .head()
    (r.getLong(0),
      if (r.isNullAt(1)) 0L else r.getLong(1),
      if (r.isNullAt(2)) 0L else r.getLong(2))
  }

  private def compare(label: String, a: => DataFrame,
      b: => DataFrame): (String, String) =
    try {
      val (sa, sb) = (msetSig(a), msetSig(b))
      if (sa == sb) label -> s"ok(${sa._1})"
      else label -> s"MISMATCH:$sa!=$sb"
    } catch {
      case e: Throwable => label -> s"error:${e.getClass.getSimpleName}"
    }

  /** The row-identity checks, run on a SKEWED dir: every salted or
    * census-capped path must be row-identical to its direct twin on
    * the same Zipf data. Returns (check, verdict) pairs; any verdict
    * not starting with "ok" is a hard failure. */
  def identityChecks(s: SparkSession, dir: String): Seq[(String, String)] = {
    import graft.Tables
    import graft.operators.{EntityResolution, RangeJoin, Skew}
    val ev = Tables.events(s, dir)
    val dec = DecimalType(38, 6)

    val saltedSum = compare("salted_sum",
      Skew.saltedCountSum(ev, Seq("user_id"), "value",
        col("event_id"), salt = 16),
      ev.groupBy(col("user_id"))
        .agg(count(lit(1)).as("n"),
          sum(round(col("value"), 6).cast(dec)).cast("double")
            .as("value_sum")))

    // small side: per-user first-seen week — a genuine dim the plain
    // join would broadcast; identity is over the enriched event rows
    val userDim = ev.groupBy(col("user_id"))
      .agg(min(col("ts")).as("first_ts"))
    val saltedJoin = compare("salted_join",
      Skew.saltedJoin(ev.select("event_id", "user_id"), userDim,
        Seq("user_id"), col("event_id"), salt = 16),
      ev.select("event_id", "user_id").join(userDim, Seq("user_id")))

    // q247's linkage shape on the skewed customer table (hot nation
    // block): capped vs uncapped best-match
    val cust = Tables.customer(s, dir)
    val clean = cust.select(col("c_custkey").as("ckey"),
      col("c_name").as("cname"), col("c_nationkey").as("block"))
    val dirty = cust.filter(col("c_custkey") % 10 === 0)
      .select(col("c_custkey").as("dkey"),
        expr("concat(substr(c_name, 1, cast(9 + c_custkey % 9 as int))," +
          " substr(c_name, cast(11 + c_custkey % 9 as int), 100))")
          .as("dname"),
        col("c_nationkey").as("block"))
    val blockCap = compare("blocked_match_cap",
      EntityResolution.blockedBestMatch(clean, dirty,
        maxDist = 2, maxBlock = 32),
      EntityResolution.blockedBestMatch(clean, dirty,
        maxDist = 2, maxBlock = 0))

    // q241's concurrency histogram (hot hours): capped vs uncapped
    val spans = RangeJoin.sessionSpans(ev, gap = "6 hours")
    val binCap = compare("session_bins_cap",
      RangeJoin.sessionConcurrency(spans, binMs = 3600000L,
        maxBin = 4096),
      RangeJoin.sessionConcurrency(spans, binMs = 3600000L))

    Seq(saltedSum, saltedJoin, blockCap, binCap)
  }

  def main(args: Array[String]): Unit = {
    require(args.nonEmpty, "usage: SkewIdentity <dir> [sf]")
    val dir = args(0)
    val sf = args.lift(1).map(_.toDouble).getOrElse(0.01)
    val spark = graft.GraftSession.builder("skew-identity", "32")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    def complete = new java.io.File(
      dir, "embeddings.parquet/_SUCCESS").exists()
    if (!complete) {
      println(s"[skewid] (re)generating skew sf=$sf at $dir")
      GenSf.generate(spark, dir, sf, skew = true)
    }
    require(complete, s"skew generation incomplete at $dir")
    val checks = identityChecks(spark, dir)
    checks.foreach { case (k, v) => println(s"SKEWID $k $v") }
    val ok = checks.forall(_._2.startsWith("ok"))
    println(s"""SKEWID_SUMMARY {"dir":"$dir","ok":$ok}""")
    spark.stop()
    if (!ok) sys.exit(1)
  }
}
