package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Data-contract validation (the expectations gate an ingest pipeline
  * runs before publishing a table): each rule is a violation predicate;
  * the report is one row per rule with its violation count and rate.
  *
  * == Scale ==
  * ONE scan regardless of rule count — every rule is a conditional sum
  * in a single aggregate; the per-rule rows come from exploding the
  * one aggregated row. */
object Validate {

  /** Training/serving skew report: join feature rows LOGGED at serving
    * time against the same features RECOMPUTED offline and report, per
    * feature, how many keys disagree (null-safe compare). The check
    * that catches drifting transformations, stale snapshots, and
    * lossy serving encodings before they silently poison training.
    *
    * One equi-join on the keys + one aggregate; per-feature rows
    * explode from the single aggregated row ([[report]]'s shape). */
  def skewReport(
      logged: DataFrame,
      recomputed: DataFrame,
      keys: Seq[String],
      featureCols: Seq[String]): DataFrame = {
    require(featureCols.nonEmpty, "need at least one feature")
    val l = logged.select((keys ++ featureCols).map(col): _*)
    val r = recomputed.select(
      keys.map(col) ++ featureCols.map(c => col(c).as(s"__r_$c")): _*)
    val joined = l.join(r, keys)
    val aggs = count(lit(1)).as("__n") +: featureCols.map { c =>
      sum(when(!(col(c) <=> col(s"__r_$c")), 1L).otherwise(0L))
        .as(s"__m_$c") }
    val one = joined.agg(aggs.head, aggs.tail: _*)
    one.select(col("__n"), explode(array(featureCols.map { c =>
        struct(lit(c).as("feature"), col(s"__m_$c").as("n_mismatch"))
      }: _*)).as("__f"))
      .select(col("__f.feature").as("feature"),
        col("__f.n_mismatch").as("n_mismatch"),
        col("__n").as("n_joined"),
        (col("__f.n_mismatch").cast("double") / col("__n").cast("double"))
          .as("mismatch_rate"))
  }

  /** Referential-integrity check: child keys with no parent row.
    * One left-anti-shaped aggregate (left join + null test) — returns
    * a single row `(n_child, n_orphans, orphan_rate,
    * n_distinct_orphan_keys)`. */
  def refIntegrity(
      child: DataFrame,
      parent: DataFrame,
      childKey: String,
      parentKey: String): DataFrame = {
    val p = parent.select(col(parentKey).as("__pk")).distinct()
      .withColumn("__present", lit(1))
    child.select(col(childKey).as("__ck"))
      .join(p, col("__ck") === col("__pk"), "left")
      .agg(count(lit(1)).as("n_child"),
        sum(when(col("__present").isNull, 1L).otherwise(0L)).as("n_orphans"),
        count_distinct(when(col("__present").isNull, col("__ck")))
          .as("n_distinct_orphan_keys"))
      .withColumn("orphan_rate",
        col("n_orphans").cast("double") / col("n_child").cast("double"))
  }

  /** Column profile (the `ANALYZE TABLE` artifact a pipeline publishes
    * with each snapshot): per column, row count, null count, distinct
    * count. ONE aggregate pass over the table. */
  def profile(df: DataFrame, cols: Seq[String]): DataFrame = {
    require(cols.nonEmpty, "need at least one column")
    val aggs = count(lit(1)).as("__n") +: cols.flatMap { c =>
      Seq(sum(when(col(c).isNull, 1L).otherwise(0L)).as(s"__null_$c"),
        count_distinct(col(c)).as(s"__dist_$c")) }
    val one = df.agg(aggs.head, aggs.tail: _*)
    one.select(col("__n"), explode(array(cols.map { c =>
        struct(lit(c).as("column"), col(s"__null_$c").as("n_null"),
          col(s"__dist_$c").as("n_distinct"))
      }: _*)).as("__c"))
      .select(col("__c.column").as("column"), col("__n").as("n_rows"),
        col("__c.n_null").as("n_null"),
        col("__c.n_distinct").as("n_distinct"))
  }

  def report(df: DataFrame, rules: Seq[(String, Column)]): DataFrame = {
    require(rules.nonEmpty, "need at least one rule")
    val aggs = count(lit(1)).as("__n") +:
      rules.map { case (name, cond) =>
        sum(when(cond, 1L).otherwise(0L)).as(s"__v_$name") }
    val one = df.agg(aggs.head, aggs.tail: _*)
    one.select(col("__n"), explode(array(rules.map { case (name, _) =>
        struct(lit(name).as("rule"), col(s"__v_$name").as("violations"))
      }: _*)).as("__r"))
      .select(col("__r.rule").as("rule"),
        col("__r.violations").as("violations"),
        col("__n").as("n_rows"),
        (col("__r.violations").cast("double") / col("__n").cast("double"))
          .as("rate"))
  }

  /** Cold-start audit of a temporal train/test split: how much of the
    * test period's traffic involves users/items the training period
    * never saw — the number that decides whether an ID-embedding
    * model can ship or needs a content-feature fallback. The split is
    * `ts < cutoff` (train) vs `ts >= cutoff` (test).
    *
    * == Scale ==
    * Distinct-entity sets reduce per side; the unseen counts are two
    * left-anti joins on the entity keys — no row-level pairing.
    * Output (one row): `(n_test_events, n_test_users, n_unseen_users,
    * user_cold_rate, n_test_items, n_unseen_items, item_cold_rate)`. */
  def coldStartReport(
      events: DataFrame,
      cutoff: String,
      userCol: String = "user_id",
      itemCol: String = "item_id",
      tsCol: String = "ts"): DataFrame = {
    val train = events.filter(col(tsCol) < lit(cutoff).cast("timestamp"))
    val test = events.filter(col(tsCol) >= lit(cutoff).cast("timestamp"))
    def unseen(c: String) = test.select(col(c)).filter(col(c).isNotNull)
      .distinct()
      .join(train.select(col(c)).filter(col(c).isNotNull).distinct(),
        Seq(c), "left_anti")
      .agg(count(lit(1)).as(s"n_unseen_$c"))
    val base = test.agg(count(lit(1)).as("n_test_events"),
      countDistinct(col(userCol)).as("n_test_users"),
      countDistinct(col(itemCol)).as("n_test_items"))
    base.crossJoin(broadcast(unseen(userCol)))
      .crossJoin(broadcast(unseen(itemCol)))
      .select(col("n_test_events"), col("n_test_users"),
        col(s"n_unseen_$userCol").as("n_unseen_users"),
        (col(s"n_unseen_$userCol").cast("double") /
          col("n_test_users").cast("double")).as("user_cold_rate"),
        col("n_test_items"),
        col(s"n_unseen_$itemCol").as("n_unseen_items"),
        (col(s"n_unseen_$itemCol").cast("double") /
          col("n_test_items").cast("double")).as("item_cold_rate"))
  }

  /** Ordered filter waterfall: for each curation rule, how many rows
    * pass it ALONE and how many survive the cumulative AND of every
    * rule so far — the yield report a filtering pipeline publishes
    * with each data release (the cumulative column is the actual
    * pipeline; the standalone column shows which rule does the
    * killing). ONE scan: 2·|rules| conditional counters ride a single
    * aggregate ([[report]]'s shape), unpivoted row-locally.
    * Output, one row per rule in order:
    * `(step, rule, n_pass_alone, n_pass_cumulative, cumulative_yield)`. */
  def filterWaterfall(
      df: DataFrame, rules: Seq[(String, Column)]): DataFrame = {
    require(rules.nonEmpty, "need at least one rule")
    val cums = rules.scanLeft(lit(true))(_ && _._2).tail
    val aggs = Seq(count(lit(1)).as("__n")) ++
      rules.zipWithIndex.flatMap { case ((_, c), i) => Seq(
        coalesce(sum(c.cast("long")), lit(0L)).as(s"__a$i"),
        coalesce(sum(cums(i).cast("long")), lit(0L)).as(s"__c$i")) }
    df.agg(aggs.head, aggs.tail: _*)
      .select(explode(array(rules.zipWithIndex.map { case ((name, _), i) =>
        struct(lit(i + 1).as("step"), lit(name).as("rule"),
          col(s"__a$i").as("n_pass_alone"),
          col(s"__c$i").as("n_pass_cumulative"),
          (col(s"__c$i").cast("double") / col("__n").cast("double"))
            .as("cumulative_yield"))
      }: _*)).as("__r"))
      .select(col("__r.*"))
  }

  /** Benford first-digit probabilities P(d) = log₁₀(1 + 1/d),
    * d = 1..9 — shared literals between the Spark and oracle sides
    * of [[benfordDigits]]. */
  val BenfordP: Seq[Double] =
    (1 to 9).map(d => math.log10(1.0 + 1.0 / d))

  /** Benford's-law first-digit audit of a positive numeric column —
    * the fabricated-data / unit-mixup alarm for financial-style
    * measures (organic multi-magnitude data follows
    * P(d) = log₁₀(1+1/d); uniform or hand-entered data doesn't).
    * Values stage to micro-unit integers and the first significant
    * digit is the first character of the integer's decimal string —
    * exact and engine-portable, with none of `log10`'s
    * boundary-ulp hazards. Zeros and nulls are excluded.
    *
    * == Scale ==
    * One scan + one ≤9-row shuffle; the one-row total broadcasts.
    * Output: `(digit, n, expected_p, observed_p, chi2_term)` — Σ of
    * `chi2_term` against χ²(8) is the test. */
  def benfordDigits(df: DataFrame, valueCol: String): DataFrame = {
    val m = abs(round(col(valueCol).cast("double") * 1e6)).cast("long")
    val counts = df.filter(col(valueCol).isNotNull)
      .select(m.as("__m")).filter(col("__m") > 0L)
      .select(substring(col("__m").cast("string"), 1, 1).cast("int")
        .as("digit"))
      .groupBy(col("digit")).agg(count(lit(1)).as("n"))
    val tot = counts.agg(sum(col("n")).as("__t"))
    val pArr = array(BenfordP.map(lit): _*)
    counts.crossJoin(broadcast(tot))
      .withColumn("expected_p", element_at(pArr, col("digit")))
      .withColumn("observed_p",
        col("n").cast("double") / col("__t").cast("double"))
      .withColumn("chi2_term",
        (col("n").cast("double") -
          col("expected_p") * col("__t").cast("double")) *
        (col("n").cast("double") -
          col("expected_p") * col("__t").cast("double")) /
        (col("expected_p") * col("__t").cast("double")))
      .drop("__t")
  }

  /** Right-to-be-forgotten sweep audit: apply a deletion key-set to
    * every derived dataset (raw + downstream aggregates) and prove
    * the cascade: per dataset, rows before/after, rows deleted, and
    * the RESIDUAL — rows still carrying a deleted key after the
    * sweep, which must be zero. The sweep is a broadcast anti-join
    * per dataset (the delete list is always tiny relative to the
    * data); the audit recounts with the same key-set so a missed
    * propagation path shows up as a non-zero residual, not a silent
    * compliance gap. */
  def deletionSweep(datasets: Seq[(String, DataFrame, String)],
      deleteKeys: DataFrame, deleteKeyCol: String): DataFrame = {
    val del = broadcast(deleteKeys.select(col(deleteKeyCol)).distinct())
    datasets.map { case (name, df, keyCol) =>
      // ONE pass per dataset: the sweep flag and the independent
      // residual re-check join both attach before a single conditional
      // aggregate (the previous two-aggregate crossJoin executed each
      // dataset's lineage twice). The residual probe still runs
      // against the same key-set — a survivor (`__del` null) counted
      // residual iff the RE-JOIN matches it, exactly the original
      // post-filter recount (both joins are on the distinct key, so
      // neither fans rows out).
      val flagged = df.join(
        del.withColumnRenamed(deleteKeyCol, keyCol)
          .withColumn("__del", lit(true)),
        Seq(keyCol), "left")
      val reChecked = flagged.join(
        del.withColumnRenamed(deleteKeyCol, keyCol)
          .withColumn("__res", lit(true)),
        Seq(keyCol), "left")
      reChecked.agg(lit(name).as("dataset"),
        count(lit(1)).as("rows_before"),
        sum(col("__del").isNull.cast("long")).as("rows_after"),
        sum(col("__del").isNotNull.cast("long")).as("rows_deleted"),
        coalesce(sum((col("__del").isNull && col("__res").isNotNull)
          .cast("long")), lit(0L)).as("residual"))
        .select(col("dataset"), col("rows_before"), col("rows_after"),
          col("rows_deleted"), col("residual"))
    }.reduce(_ unionByName _)
  }

  /** k-anonymity audit over a quasi-identifier tuple: how many rows
    * sit in an equivalence class smaller than k, for a ladder of k
    * thresholds — the re-identification risk census a training-data
    * pipeline runs before shipping user-derived rows. One groupBy on
    * the quasi-identifier (the only shuffle; class counts are
    * group-sized), then a tiny per-k conditional aggregate over the
    * class-size table. Suppressing the flagged classes (or coarsening
    * a quasi column and re-auditing) is the remediation loop this
    * feeds. */
  def kAnonymityAudit(df: DataFrame, quasiCols: Seq[String],
      ks: Seq[Int]): DataFrame = {
    val classes = df.groupBy(quasiCols.map(col): _*)
      .agg(count(lit(1)).as("__sz"))
    classes
      .select(col("__sz"),
        explode(array(ks.map(k => lit(k)): _*)).as("k"))
      .groupBy(col("k"))
      .agg(sum(col("__sz")).as("n_rows"),
        count(lit(1)).as("n_classes"),
        sum(when(col("__sz") < col("k"), col("__sz")).otherwise(0L))
          .as("n_at_risk"),
        sum(when(col("__sz") < col("k"), 1L).otherwise(0L))
          .as("n_small_classes"))
      .withColumn("risk_frac",
        round(col("n_at_risk").cast("double") /
          col("n_rows").cast("double"), 6))
  }

  /** Order-invariant table fingerprint: equality-check two relations
    * (a migrated pipeline vs its predecessor, a backfill vs the
    * original) WITHOUT sorting either — at 100 TB a sort-and-diff is
    * a full global shuffle; this is one scan and a 1-row aggregate.
    *
    * Each row hashes to a 60-bit md5 value over its canonical
    * rendering (`|`-joined string casts, nulls as NUL (U+0000)); the
    * table digest combines row hashes with commutative reducers
    * (count + sum + xor), so ANY row order and ANY partitioning
    * produce the identical fingerprint, and any single-row difference
    * changes it (up to the usual 2^-60-per-pair hash risk; xor+sum
    * together also survive the classic duplicate-pair xor blindness).
    * The multiset is what's fingerprinted — duplicates count. */
  /** Keyed snapshot diff: classify every key across two table
    * versions as added / removed / changed / unchanged — the
    * version-to-version CDC a backfill review or an incremental-sync
    * validator runs. Content equality compares a 60-bit md5 over the
    * canonical value rendering (so wide rows diff on one hash, not
    * column-by-column); the join is a plain keyed full-outer —
    * one shuffle each side, no sort.
    *
    * Output: one row per class with its key count (classes with zero
    * keys are absent — the caller unions a zero frame if it needs a
    * fixed shape). */
  def snapshotDiff(v1: DataFrame, v2: DataFrame, keyCols: Seq[String],
      valueCols: Seq[String]): DataFrame = {
    def hashed(df: DataFrame, tag: String): DataFrame =
      df.select(keyCols.map(col) :+
        graft.functions.Hashing.md5Hash60(concat_ws("|",
          valueCols.map(c => coalesce(col(c).cast("string"), lit(" "))): _*))
          .as(s"__h$tag"): _*)
    hashed(v1, "1").join(hashed(v2, "2"), keyCols, "full_outer")
      .withColumn("change", when(col("__h1").isNull, "added")
        .when(col("__h2").isNull, "removed")
        .when(col("__h1") =!= col("__h2"), "changed")
        .otherwise("unchanged"))
      .groupBy(col("change")).agg(count(lit(1)).as("n_keys"))
  }

  def tableFingerprint(df: DataFrame, cols: Seq[String]): DataFrame = {
    val rendered = concat_ws("|",
      cols.map(c => coalesce(col(c).cast("string"), lit("\u0000"))): _*)
    df.select(graft.functions.Hashing.md5Hash60(rendered).as("__h"))
      .agg(count(lit(1)).as("n_rows"),
        // decimal carrier: a plain long sum of 60-bit values overflows
        // after a handful of rows; the exact decimal sum reduced mod
        // 2^60 keeps the digest a long without ever overflowing
        expr("cast(sum(cast(__h as decimal(38,0))) % " +
          "1152921504606846976L as bigint)").as("sum_hash"),
        expr("bit_xor(__h)").as("xor_hash"))
  }
}
