package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Generator for EXTRA scale factors of the synthetic star schema
  * (`TESTDATA.md`): same tables, same schemas, same per-decade scaling
  * rules (every table's rows grow 10× per decade above sf0.01;
  * region/nation stay fixed), similar value distributions. Used for
  * runs past the shipped scale factors and, with `--skew`, for the
  * Zipf-skewed dirs the [[SkewIdentity]] gate checks.
  *
  * Not the oracle data: the DuckDB compare stays on the shipped
  * sf0.01. Generated dirs only need the same schema and the same
  * SHAPE of distributions.
  *
  * Determinism: every column is a pure hash of (table salt, row id) —
  * `u(id, salt) ∈ [0,1)` from xxhash64 — so regeneration is
  * bit-stable and parallelism-independent (no sequential RNG state).
  *
  * Usage: `runMain graft.tools.GenSf <outDir> <sf> [--skew]`
  */
object GenSf {

  private def u(salt: Int): org.apache.spark.sql.Column =
    (pmod(xxhash64(col("id"), lit(salt)), lit(1000000007L)).cast("double")
      / lit(1000000007.0))

  /** Deterministic bounded-Zipf rank in [0, n): inverse CDF of the
    * continuous power law with density ∝ x^(-alpha) on [1, n+1),
    * driven by the same per-row hash uniform as every other column.
    * alpha = 1.1 (the `--skew` default) puts ~10% of rows on the top
    * rank and ~1/3 on the top ten at n = 15000 — the celebrity-key
    * regime the skew machinery exists for. Pure column arithmetic, so
    * regeneration stays bit-stable and parallelism-independent. */
  private def zipf(n: Long, salt: Int,
      alpha: Double = 1.1): org.apache.spark.sql.Column = {
    val oneMinusA = 1.0 - alpha
    val span = math.pow(n + 1.0, oneMinusA) - 1.0
    val x = pow(lit(1.0) + u(salt) * span, 1.0 / oneMinusA)
    least(floor(x).cast("long") - 1, lit(n - 1))
  }

  private def pick(salt: Int, vs: Seq[String]): org.apache.spark.sql.Column =
    element_at(typedlit(vs),
      (pmod(xxhash64(col("id"), lit(salt)), lit(vs.size.toLong)) + 1)
        .cast("int"))

  def main(args: Array[String]): Unit = {
    val out = args(0)
    val sf = args(1).toDouble
    val skew = args.contains("--skew")
    val spark = graft.GraftSession.builder("gen-sf", "32").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    generate(spark, out, sf, skew)
    spark.stop()
  }

  /** `skew = true` generates the SKEW TIER variant: identical schema
    * and row counts, but the join/agg keys the skew machinery guards
    * are Zipf(α=1.1)-distributed instead of uniform —
    *  - `events.user_id` (celebrity users: top user ~10% of events),
    *  - `events.ts` hour-of-range (hot hours: top hour ~14% of
    *    events — the q241/q282 concurrency-bin stress),
    *  - `events.props` item key over an n(10000)-item catalog
    *    (hot items for the co-visitation queries; the uniform tier's
    *    100-item catalog can't express item skew at all),
    *  - `customer.c_nationkey` (a hot blocking key for the
    *    blocked-match linkage).
    * Everything else is byte-identical to the uniform generator, so
    * the key distribution is the only variable. */
  def generate(spark: SparkSession, out: String, sf: Double,
      skew: Boolean = false): Unit = {
    def n(base: Long): Long = math.max(1L, (base * sf).toLong)
    def write(name: String, df: DataFrame): Unit = {
      df.write.mode("overwrite").parquet(s"$out/$name.parquet")
      println(s"[gensf] $name written")
    }

    val nCust = n(150000)
    val nSupp = n(10000)
    val nPart = n(200000)
    val nOrd = n(1500000)
    val nLine = n(6000000)
    val nEv = n(1000000)
    val nUsers = n(15000)
    val nDoc = n(50000)
    val nVec = n(20000)

    write("region", spark.range(5).select(col("id").as("r_regionkey"),
      element_at(typedlit(Seq("AFRICA", "AMERICA", "ASIA", "EUROPE",
        "MIDDLE EAST")), (col("id") + 1).cast("int")).as("r_name")))

    write("nation", spark.range(25).select(col("id").as("n_nationkey"),
      concat(lit("NATION_"), col("id")).as("n_name"),
      (col("id") % 5).cast("int").as("n_regionkey")))

    write("customer", spark.range(nCust).select(
      col("id").as("c_custkey"),
      format_string("Customer#%09d", col("id")).as("c_name"),
      (if (skew) zipf(25, 11)
       else pmod(xxhash64(col("id"), lit(11)), lit(25L))).cast("int")
        .as("c_nationkey"),
      round(u(12) * 10000, 2).as("c_acctbal"),
      pick(13, Seq("AUTOMOBILE", "BUILDING", "FURNITURE", "MACHINERY",
        "HOUSEHOLD")).as("c_mktsegment")))

    write("supplier", spark.range(nSupp).select(
      col("id").as("s_suppkey"),
      format_string("Supplier#%09d", col("id")).as("s_name"),
      pmod(xxhash64(col("id"), lit(21)), lit(25L)).cast("int")
        .as("s_nationkey"),
      round(u(22) * 10000, 2).as("s_acctbal")))

    val adjectives = Seq("large", "hot", "small", "cold", "round",
      "flat", "long", "short", "blue", "red")
    val nouns = Seq("ring", "bolt", "gear", "pin", "cap", "rod", "nut",
      "plate", "wheel", "axle")
    write("part", spark.range(nPart).select(
      col("id").as("p_partkey"),
      concat_ws(" ", pick(31, adjectives), pick(32, nouns)).as("p_name"),
      concat(lit("Brand#"),
        pmod(xxhash64(col("id"), lit(33)), lit(25L))).as("p_brand"),
      pick(34, Seq("LARGE", "ECONOMY", "STANDARD", "SMALL", "MEDIUM",
        "PROMO ANODIZED", "BRUSHED")).as("p_type"),
      (pmod(xxhash64(col("id"), lit(35)), lit(50L)) + 1).cast("int")
        .as("p_size"),
      round(lit(900.0) + (col("id") % 1000) * 0.1, 2)
        .as("p_retailprice")))

    val day = 86400L
    val ordEpoch0 = 788918400L // 1995-01-01 UTC
    write("orders", spark.range(nOrd).select(
      col("id").as("o_orderkey"),
      pmod(xxhash64(col("id"), lit(41)), lit(nCust)).as("o_custkey"),
      pick(42, Seq("O", "F", "P")).as("o_orderstatus"),
      round(u(43) * 400000, 2).as("o_totalprice"),
      timestamp_seconds(lit(ordEpoch0) +
        (pmod(xxhash64(col("id"), lit(44)), lit(2500L)) * day))
        .as("o_orderdate"),
      pick(45, Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED",
        "5-LOW")).as("o_orderpriority")))

    write("lineitem", spark.range(nLine).select(
      pmod(xxhash64(col("id"), lit(51)), lit(nOrd)).as("l_orderkey"),
      pmod(xxhash64(col("id"), lit(52)), lit(nPart)).as("l_partkey"),
      pmod(xxhash64(col("id"), lit(53)), lit(nSupp)).as("l_suppkey"),
      (pmod(xxhash64(col("id"), lit(54)), lit(7L)) + 1).cast("int")
        .as("l_linenumber"),
      (pmod(xxhash64(col("id"), lit(55)), lit(50L)) + 1).cast("double")
        .as("l_quantity"),
      round(u(56) * 100000, 2).as("l_extendedprice"),
      (pmod(xxhash64(col("id"), lit(57)), lit(11L)).cast("double") / 100)
        .as("l_discount"),
      (pmod(xxhash64(col("id"), lit(58)), lit(9L)).cast("double") / 100)
        .as("l_tax"),
      pick(59, Seq("A", "N", "R")).as("l_returnflag"),
      pick(60, Seq("O", "F")).as("l_linestatus"),
      timestamp_seconds(lit(ordEpoch0) +
        (pmod(xxhash64(col("id"), lit(61)), lit(2500L)) * day))
        .as("l_shipdate")))

    val evEpoch0 = 1704067200L // 2024-01-01 UTC
    // skew-tier events: Zipf hour-of-range (uniform offset inside the
    // hour), Zipf user, Zipf item over a catalog that scales with sf
    // (the uniform tier's fixed 100-item catalog has no room for a
    // hot-item head)
    val hourUs = 3600L * 1000000L
    val tsCol =
      if (skew)
        timestamp_micros(lit(evEpoch0 * 1000000L) +
          zipf(30L * 24L, 71) * hourUs +
          floor(u(76) * hourUs.toDouble).cast("long"))
      else
        timestamp_micros(lit(evEpoch0 * 1000000L) +
          pmod(xxhash64(col("id"), lit(71)), lit(30L * day * 1000000L)))
    val userCol =
      if (skew) zipf(nUsers, 72)
      else pmod(xxhash64(col("id"), lit(72)), lit(nUsers))
    val nItems = n(10000)
    val itemCol =
      if (skew) zipf(nItems, 75)
      else pmod(xxhash64(col("id"), lit(75)), lit(100L))
    write("events", spark.range(nEv).select(
      col("id").as("event_id"),
      tsCol.as("ts"),
      userCol.as("user_id"),
      pick(73, Seq("click", "view", "purchase", "signup", "error"))
        .as("event_type"),
      round(u(74) * 500, 2).as("value"),
      format_string("{\"k\": %d}", itemCol).as("props")))
    if (skew) {
      // head-mass census, printed so the artifact reader can see the
      // generated skew is real without re-deriving the inverse CDF
      val ev = spark.read.parquet(s"$out/events.parquet")
      val tot = ev.count().toDouble
      def topShare(c: org.apache.spark.sql.Column, k: Int): Double =
        ev.groupBy(c.as("k")).count().orderBy(col("count").desc)
          .limit(k).agg(sum("count")).head.getLong(0) / tot
      println(f"[gensf] skew census: top-1 user ${topShare(col("user_id"), 1)}%.3f, " +
        f"top-10 users ${topShare(col("user_id"), 10)}%.3f, " +
        f"top-1 hour ${topShare(date_trunc("hour", col("ts")), 1)}%.3f, " +
        f"top-1 item ${topShare(get_json_object(col("props"), "$.k"), 1)}%.3f")
    }

    val vocab = Seq("spark", "batch", "line", "column", "order", "small",
      "sort", "fast", "value", "scan", "hash", "slow", "group", "agg",
      "filter", "query", "big", "key", "window", "row", "part", "table",
      "stream", "merge", "data", "a", "join", "shuffle", "cache", "plan",
      "read", "write", "block", "page", "index", "node", "task", "stage",
      "byte", "file")
    val nWords = (pmod(xxhash64(col("id"), lit(81)), lit(50L)) + 20)
      .cast("int")
    val text = concat_ws(" ", transform(
      sequence(lit(1), nWords),
      j => element_at(typedlit(vocab),
        (pmod(xxhash64(col("id"), j, lit(82)), lit(vocab.size.toLong)) + 1)
          .cast("int"))))
    write("documents", spark.range(nDoc)
      .select(col("id").as("doc_id"), text.as("text"),
        pick(83, Seq("en", "en", "en", "en", "de", "zh", "fr", "es",
          "es", "de")).as("lang"),
        concat(lit("src"), pmod(xxhash64(col("id"), lit(84)), lit(20L)))
          .as("source"))
      .withColumn("n_chars", length(col("text"))))

    // label-clustered embeddings: center[label][j] = sin(7·label + j),
    // plus per-element uniform noise — k-means/ANN queries keep finding
    // real cluster structure at every sf
    val label = pmod(xxhash64(col("id"), lit(91)), lit(10L)).cast("int")
    val emb = transform(sequence(lit(0), lit(63)), j =>
      (sin(label.cast("double") * 7 + j.cast("double")) +
        (pmod(xxhash64(col("id"), j, lit(92)), lit(1000000007L))
          .cast("double") / 1000000007.0 - 0.5) * 0.8).cast("float"))
    write("embeddings", spark.range(nVec).select(
      col("id").as("vec_id"), emb.as("embedding"), label.as("label")))
  }
}
