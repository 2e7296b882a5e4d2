package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.functions.Hashing

/** Bloom-filter semi-join pruning: filter a huge probe table by a
  * predicate on a small build table WITHOUT shuffling the probe side.
  *
  * The 100 TB shape this encodes: `probe ⋈ build` where the build side
  * is key-filtered (a dimension predicate) and the probe side is the
  * fact table. A plain semi-join ships build keys into a shuffle or a
  * broadcast hash relation; the bloom variant compresses the key set
  * into `mBits` bits (a few KB regardless of key count), embeds it in
  * the plan as a LITERAL array, and membership becomes a row-local
  * expression evaluated inside the probe's scan stage — zero shuffle,
  * zero join, parquet-pushdown-friendly. False positives (never
  * negatives) are dropped by the real join afterwards, which now sees
  * orders of magnitude fewer rows. This is Spark's own
  * `spark.sql.optimizer.runtime.bloomFilter` / DPP mechanism made
  * explicit, with a measurable false-positive audit
  * (reference counterpart: the caching tiers' negative-lookup
  * avoidance, online-feature-store/internal/caching — SURVEY §2.1).
  *
  * Determinism: positions come from the engine-portable md5 hash
  * ([[Hashing.md5Hash32]]), so a DuckDB oracle rebuilds the
  * identical filter relationally and the audit counts match exactly.
  */
object BloomPrune {

  /** 32 bits per packed word (not 64): DuckDB range-checks signed
    * shifts, so `1::BIGINT << 63` errors — capping the in-word shift
    * at 31 keeps the oracle expressible with identical arithmetic. */
  private val WordBits = 32

  /** Bit position of hash function `i` for a key, in [0, mBits). */
  private def hashPos(key: Column, i: Int, mBits: Int): Column =
    Hashing.md5Hash32(key.cast("string"), i) % mBits

  /** Build the filter: `mBits/32` bit-packed words (each stored in a
    * long, low 32 bits used — see [[WordBits]]) over the DISTINCT
    * build keys. The aggregate output is bounded metadata (≤ mBits/32
    * rows) — collecting it to the driver is the same bounded-collect
    * class as the PAV bin tables, and is exactly how Spark plants its
    * own runtime bloom filters into plans (as literals). */
  def buildWords(build: DataFrame, keyCol: String,
      mBits: Int, k: Int): Array[Long] = {
    require(mBits % WordBits == 0, "mBits must pack whole 32-bit words")
    val keys = build.select(col(keyCol)).distinct()
    val positions = keys.select(
      explode(array((0 until k).map(i =>
        hashPos(col(keyCol), i, mBits)): _*)).as("pos"))
    val words = positions
      .select(expr(s"pos div $WordBits").as("w"),
        expr(s"shiftleft(cast(1 as bigint), cast(pos % $WordBits as int))")
          .as("mask"))
      .groupBy("w").agg(expr("bit_or(mask)").as("word"))
      .collect().map(r => r.getLong(0).toInt -> r.getLong(1)).toMap
    Array.tabulate(mBits / WordBits)(w => words.getOrElse(w, 0L))
  }

  /** Append a boolean membership column: true iff every hash bit is
    * set. Pure row-local expression over a literal word array — no
    * join, no shuffle; survives inside the probe scan's codegen stage.
    */
  def withMembership(probe: DataFrame, keyCol: String, words: Array[Long],
      k: Int, out: String): DataFrame = {
    val mBits = words.length * WordBits
    val staged = (0 until k).foldLeft(
      probe.withColumn("__bloom_words", typedlit(words.toSeq))) {
      case (d, i) => d.withColumn(s"__bp$i", hashPos(col(keyCol), i, mBits))
    }
    val tests = (0 until k).map { i =>
      s"(element_at(__bloom_words, cast(__bp$i div $WordBits as int) + 1)" +
        s" & shiftleft(cast(1 as bigint), cast(__bp$i % $WordBits as int))) != 0"
    }
    staged.withColumn(out, expr(tests.mkString(" AND ")))
      .drop("__bloom_words" +: (0 until k).map(i => s"__bp$i"): _*)
  }

  /** End-to-end audit of the pruning filter: build over `build`'s
    * keys, probe every `probe` row, and compare the bloom verdict with
    * ground truth (an exact semi-join — the step production runs only
    * on the pre-filtered survivors). One row out:
    * probe/candidate/true/false-positive counts, the always-zero
    * false-negative proof, and the realized FP rate among true
    * negatives. */
  def semiJoinAudit(probe: DataFrame, probeKey: String,
      build: DataFrame, buildKey: String,
      mBits: Int = 4096, k: Int = 3): DataFrame = {
    val words = buildWords(build, buildKey, mBits, k)
    val flagged = withMembership(
      probe.select(col(probeKey)), probeKey, words, k, "__bloom")
    val truth = build.select(col(buildKey).as(probeKey)).distinct()
      .withColumn("__true", lit(true))
    flagged.join(broadcast(truth), Seq(probeKey), "left")
      .agg(
        count(lit(1)).as("n_probe"),
        sum(col("__bloom").cast("long")).as("n_candidates"),
        sum(col("__true").isNotNull.cast("long")).as("n_true"),
        sum((col("__bloom") && col("__true").isNull).cast("long"))
          .as("n_false_pos"),
        sum((!col("__bloom") && col("__true").isNotNull).cast("long"))
          .as("n_false_neg"))
      .withColumn("fp_rate",
        col("n_false_pos").cast("double") / (col("n_probe") - col("n_true")))
  }
}
