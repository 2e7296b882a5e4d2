package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.OracleMath.xsum

/** Dataset profiling — the per-column statistics pass a pipeline runs
  * on every new data drop before trusting it (null spikes, cardinality
  * collapse, and range drift are the three classic ingestion bugs;
  * the reference's config registry keeps per-feature metadata the
  * same audit would populate,
  * `online-feature-store/internal/config/manager.go`).
  *
  * == Scale design ==
  * ONE scan computes every column's statistics: the per-column
  * aggregates all ride a single `agg(...)` (Catalyst plans the exact
  * distinct counts via one Expand — |cols|+1 projections of the scan,
  * partial-aggregated map-side), and the single result row unpivots
  * row-locally into one row per column ([[Evaluation.prCurve]]'s
  * inline-array convention — never a per-column pass over the data).
  * All outputs are exact (counts, min/max) — no sampled or
  * approximate figures, so the audit is engine-reproducible.
  */
object Profile {

  /** Profile `cols` (numeric or castable-to-double) of `df`: total
    * rows, null count, exact distinct count (nulls excluded), min and
    * max as double. Output: one row per column,
    * `(col_name, n, n_null, n_distinct, min_v, max_v)`. */
  def numericProfile(df: DataFrame, cols: Seq[String]): DataFrame = {
    require(cols.nonEmpty, "need at least one column to profile")
    val aggs = Seq(count(lit(1)).as("__n")) ++ cols.flatMap { c =>
      Seq(
        count(col(c)).as(s"__nn_$c"),
        countDistinct(col(c)).as(s"__nd_$c"),
        min(col(c).cast("double")).as(s"__mn_$c"),
        max(col(c).cast("double")).as(s"__mx_$c"))
    }
    val one = df.agg(aggs.head, aggs.tail: _*)
    val rows = array(cols.map { c =>
      struct(
        lit(c).as("col_name"),
        col("__n").as("n"),
        (col("__n") - col(s"__nn_$c")).as("n_null"),
        col(s"__nd_$c").as("n_distinct"),
        col(s"__mn_$c").as("min_v"),
        col(s"__mx_$c").as("max_v"))
    }: _*)
    one.select(explode(rows).as("__r")).select(col("__r.*"))
  }

  /** Equal-width histogram of a numeric column: `buckets` bins spanning
    * [min, max], the max value clamped into the last bin. Bin edges ride
    * along so the result is self-describing. One aggregate for the
    * bounds (broadcast back) + one groupBy — no sort, no window.
    * Output: `(bucket, n, lo, hi)`. */
  def histogram(df: DataFrame, c: String, buckets: Int): DataFrame = {
    val bounds = df.agg(min(col(c)).as("__mn"), max(col(c)).as("__mx"))
    df.crossJoin(broadcast(bounds))
      .select(least(
        floor((col(c) - col("__mn")) / (col("__mx") - col("__mn")) * buckets),
        lit(buckets - 1L)).cast("long").as("bucket"),
        col("__mn"), col("__mx"))
      .groupBy(col("bucket"))
      .agg(count(lit(1)).as("n"),
        // per-group constants: edges derive from the global bounds
        (first(col("__mn")) + col("bucket") *
          (first(col("__mx")) - first(col("__mn"))) / buckets).as("lo"),
        (first(col("__mn")) + (col("bucket") + 1) *
          (first(col("__mx")) - first(col("__mn"))) / buckets).as("hi"))
  }

  /** Shannon entropy (nats) of each categorical column's value
    * distribution — the cardinality-collapse / constant-column alarm a
    * profiling pass raises (entropy ≈ 0 = the column stopped carrying
    * information; a sudden drop = an upstream join started fanning one
    * value out). Nulls are excluded (they're [[numericProfile]]'s
    * `n_null` signal).
    *
    * One scan explodes each row into |cols| `(col, value)` pairs and
    * one shuffle counts them; per-VALUE terms `−p·ln(p)` round to
    * micro-nats BEFORE the per-column sum (the
    * [[graft.operators.Normalize.psiBins]] rounded-ln convention), so
    * `entropy_micro` is an order-free integer and engine-exact.
    * Output: `(col_name, n, n_distinct, entropy_micro, entropy)`. */
  def categoricalEntropy(df: DataFrame, cols: Seq[String]): DataFrame = {
    require(cols.nonEmpty, "need at least one column to profile")
    val pairs = df
      .select(explode(array(cols.map { c =>
        struct(lit(c).as("col_name"), col(c).cast("string").as("__v"))
      }: _*)).as("__e"))
      .select(col("__e.col_name").as("col_name"), col("__e.__v").as("__v"))
      .filter(col("__v").isNotNull)
    val counts = pairs.groupBy(col("col_name"), col("__v"))
      .agg(count(lit(1)).as("__c"))
    val totals = counts.groupBy(col("col_name"))
      .agg(sum(col("__c")).as("__t"))
    counts.join(totals, "col_name")
      .select(col("col_name"), col("__c"), col("__t"),
        round((col("__c").cast("double") / col("__t").cast("double")) *
          -log(col("__c").cast("double") / col("__t").cast("double")) * 1e6)
          .cast("long").as("__term"))
      .groupBy(col("col_name"))
      .agg(
        max(col("__t")).as("n"),
        count(lit(1)).as("n_distinct"),
        sum(col("__term")).as("entropy_micro"))
      .withColumn("entropy", col("entropy_micro").cast("double") / 1e6)
  }

  /** Mutual information (nats) between two categorical columns — the
    * independence audit for a mixing decision (is language balance
    * uniform across sources? does a label leak through a metadata
    * field?). `MI = Σ_cells p(a,b)·ln(p(a,b)/(p(a)·p(b)))`, per-cell
    * terms rounded to micro-nats before the sum ([[categoricalEntropy]]'s
    * order-free integer convention). Null rows in either column are
    * excluded.
    *
    * == Scale ==
    * One (a,b) count shuffle; marginals derive from the CELL table
    * (|A|·|B| rows, never the data again), and the total joins back as
    * a broadcast one-row aggregate. Output (one row):
    * `(n, n_cells, card_a, card_b, mi_micro, mi)`. */
  def mutualInformation(
      df: DataFrame, colA: String, colB: String): DataFrame = {
    val cells = df
      .filter(col(colA).isNotNull && col(colB).isNotNull)
      .groupBy(col(colA).cast("string").as("__a"),
        col(colB).cast("string").as("__b"))
      .agg(count(lit(1)).as("__c"))
    val ma = cells.groupBy(col("__a")).agg(sum(col("__c")).as("__ca"))
    val mb = cells.groupBy(col("__b")).agg(sum(col("__c")).as("__cb"))
    val tot = cells.agg(sum(col("__c")).as("__t"))
    def p(c: Column) = c.cast("double") / col("__t").cast("double")
    cells.join(ma, "__a").join(mb, "__b").crossJoin(broadcast(tot))
      .select(col("__a"), col("__b"), col("__t"),
        round(p(col("__c")) *
          log(p(col("__c")) / (p(col("__ca")) * p(col("__cb")))) * 1e6)
          .cast("long").as("__term"))
      .agg(
        max(col("__t")).as("n"),
        count(lit(1)).as("n_cells"),
        countDistinct(col("__a")).as("card_a"),
        countDistinct(col("__b")).as("card_b"),
        sum(col("__term")).as("mi_micro"))
      .withColumn("mi", col("mi_micro").cast("double") / 1e6)
  }

  /** Pearson correlation for every pair of `cols` — the redundancy /
    * leakage audit run before feature selection (|r| ≈ 1 between a
    * feature and the label = leak; between two features = drop one).
    * Rows with a null in ANY profiled column are excluded (listwise,
    * so every pair sees the same n and the matrix is consistent).
    *
    * Determinism: the five moment sums (Σx, Σx², Σxy per pair) ride
    * [[graft.OracleMath.xsum]]'s rounded-decimal staging (exact,
    * order-free), and `r = (nΣxy−ΣxΣy)/√((nΣx²−(Σx)²)(nΣy²−(Σy)²))`
    * is one fixed shape of IEEE ops over those exact figures. Null
    * when either variance is 0.
    *
    * == Scale ==
    * ONE scan: all `2·|cols| + C(|cols|,2) + 1` moment aggregates ride
    * a single `agg(...)` (partial-aggregated map-side), and the
    * one-row result unpivots row-locally into one row per pair —
    * never a per-pair pass over the data. Output:
    * `(col_a, col_b, n, corr)`. */
  def correlationMatrix(
      df: DataFrame, cols: Seq[String], scale: Int = 6): DataFrame = {
    require(cols.size >= 2, "need at least two columns to correlate")
    val clean = df
      .select(cols.map(c => col(c).cast("double").as(c)): _*)
      .na.drop("any", cols)
    val pairs = for {
      i <- cols.indices; j <- (i + 1) until cols.size
    } yield (cols(i), cols(j))
    val aggs = Seq(count(lit(1)).as("__n")) ++
      cols.flatMap { c => Seq(
        xsum(col(c), scale).as(s"__s_$c"),
        xsum(col(c) * col(c), scale).as(s"__ss_$c")) } ++
      pairs.map { case (a, b) =>
        xsum(col(a) * col(b), scale).as(s"__sp_${a}__$b") }
    val oneRow = clean.agg(aggs.head, aggs.tail: _*)
    val n = col("__n").cast("double")
    val rows = array(pairs.map { case (a, b) =>
      val cov = n * col(s"__sp_${a}__$b") - col(s"__s_$a") * col(s"__s_$b")
      val va = n * col(s"__ss_$a") - col(s"__s_$a") * col(s"__s_$a")
      val vb = n * col(s"__ss_$b") - col(s"__s_$b") * col(s"__s_$b")
      struct(lit(a).as("col_a"), lit(b).as("col_b"), col("__n").as("n"),
        when(va > 0.0 && vb > 0.0, cov / sqrt(va * vb)).as("corr"))
    }: _*)
    oneRow.select(explode(rows).as("__r")).select(col("__r.*"))
  }

  /** Imputation fill-value table: mean, (lower) median, and mode per
    * numeric column — the three standard fill policies, computed once
    * so the imputing job is a broadcast-map, not three passes.
    * Values stage to micro-unit longs; mean is an exact integer sum
    * with one final division, median rides [[Normalize.medianBy]]'s
    * rank arithmetic (no single-partition window), and mode
    * tie-breaks by smallest value. Nulls are excluded per column
    * (they're what the table will fill).
    *
    * == Scale ==
    * ONE unpivot scan feeds a (column, value) count table; everything
    * downstream — mean sums, mode ranking, the median prefix sum —
    * works on that table, never the data again. Output:
    * `(col_name, n, mean, median, mode)`. */
  def imputationStats(df: DataFrame, cols: Seq[String]): DataFrame = {
    require(cols.nonEmpty, "need at least one column")
    val pts = df
      .select(explode(array(cols.map { c =>
        struct(lit(c).as("col_name"),
          round(col(c).cast("double") * 1e6).cast("long").as("__vm"))
      }: _*)).as("__e"))
      .select(col("__e.col_name").as("col_name"), col("__e.__vm").as("__vm"))
      .filter(col("__vm").isNotNull)
    // r18 optimization (guide §2.3/§2.4 — the robustStatsBy pattern):
    // the raw-point unpivot previously fed BOTH this counts aggregate
    // AND Normalize.medianBy(pts, …), which re-aggregated the raw rows
    // from scratch — the 3x corpus explode executed twice (q216 was
    // the slowest query of the only complete r17 driver run, 32.7 s at
    // 8 cores). The median now rides medianOnCounts over the SAME
    // counts table (rankStagedBy builds exactly this table internally,
    // so the rank rule — lower median, k = (n+1) div 2 — is
    // unchanged), and the table is pinned for its two consumers.
    // Bounded by the distinct (column, micro-value) count.
    val counts = pts.groupBy(col("col_name"), col("__vm"))
      .agg(count(lit(1)).as("__c"))
      .localCheckpoint()
    // mode = argmax (count, then SMALLEST value) as ONE max aggregate
    // over (count, -value) pairs — no per-column sort at any size
    val means = counts.groupBy(col("col_name"))
      .agg(sum(col("__c")).as("n"),
        sum(col("__vm") * col("__c")).as("__s"),
        max(struct(col("__c"), (-col("__vm")).as("__nv"))).as("__mx"))
    val med = Normalize.medianOnCounts(
        counts.select(col("col_name"), col("__vm").as("__v"),
          col("__c").as("__cnt")),
        "col_name")
      .select(col("col_name"), col("median").as("__med"))
    means.join(med, Seq("col_name"))
      .select(col("col_name"), col("n"),
        (col("__s").cast("double") / col("n").cast("double") / 1e6)
          .as("mean"),
        (col("__med").cast("double") / 1e6).as("median"),
        ((-col("__mx.__nv")).cast("double") / 1e6).as("mode"))
  }

  /** Two-sample Kolmogorov–Smirnov statistic between `valueCol`'s
    * distributions in groups `a` and `b` of `groupCol` — the numeric
    * drift test (PSI needs binning; KS is bin-free and exact). The
    * statistic is the max CDF gap; it is computed as the exact
    * integer `max |C_a(v)·n_b − C_b(v)·n_a|` over observed values,
    * divided once at the end — no floating-point CDFs, so the result
    * is engine-exact.
    *
    * == Scale ==
    * One count shuffle on the (bounded-cardinality) value domain,
    * then the cumulative gap rides [[PrefixSum.inclusive]]'s
    * range-partitioned scan — never a single-partition window over
    * the value domain. Output (one row):
    * `(n_a, n_b, ks_num, ks)` with `ks = ks_num/(n_a·n_b)`. */
  def ksStatistic(
      df: DataFrame, valueCol: String, groupCol: String,
      a: String, b: String): DataFrame = {
    val pts = df
      .filter(col(groupCol).isin(a, b) && col(valueCol).isNotNull)
      .select(col(valueCol).cast("double").as("__v"),
        when(col(groupCol) === a, 1L).otherwise(0L).as("__ia"))
    val counts = pts.groupBy(col("__v"))
      .agg(sum(col("__ia")).as("__ca"),
        sum(lit(1L) - col("__ia")).as("__cb"))
    val tot = counts.agg(sum(col("__ca")).as("__na"),
      sum(col("__cb")).as("__nb"))
    val d = counts.crossJoin(broadcast(tot))
      .withColumn("__d",
        col("__ca") * col("__nb") - col("__cb") * col("__na"))
    PrefixSum.inclusive(d, "__v", "__d", "__cd")
      .agg(max(col("__na")).as("n_a"), max(col("__nb")).as("n_b"),
        max(abs(col("__cd"))).as("ks_num"))
      .withColumn("ks", col("ks_num").cast("double") /
        (col("n_a") * col("n_b")).cast("double"))
  }

  /** Jensen–Shannon divergence (nats) between `catCol`'s distributions
    * in groups `a` and `b` — the symmetric, bounded (≤ ln 2)
    * distribution-shift measure for categorical columns (KL blows up
    * on a category one side lacks; JS never does). Per-category terms
    * `½p·ln(p/m) + ½q·ln(q/m)` (m = (p+q)/2, 0·ln0 = 0) round to
    * micro-nats before the sum, so `jsd_micro` is an order-free
    * integer and the figure engine-exact.
    *
    * == Scale ==
    * One count shuffle on the category domain; totals join back as a
    * broadcast one-row aggregate. Output (one row):
    * `(n_a, n_b, n_cats, jsd_micro, jsd)`. */
  def jsDivergence(
      df: DataFrame, catCol: String, groupCol: String,
      a: String, b: String): DataFrame = {
    val pts = df
      .filter(col(groupCol).isin(a, b) && col(catCol).isNotNull)
      .select(col(catCol).cast("string").as("__cat"),
        when(col(groupCol) === a, 1L).otherwise(0L).as("__ia"))
    val counts = pts.groupBy(col("__cat"))
      .agg(sum(col("__ia")).as("__ca"),
        sum(lit(1L) - col("__ia")).as("__cb"))
    val tot = counts.agg(sum(col("__ca")).as("__na"),
      sum(col("__cb")).as("__nb"))
    val p = col("__ca").cast("double") / col("__na").cast("double")
    val q = col("__cb").cast("double") / col("__nb").cast("double")
    val m = (p + q) / lit(2.0)
    counts.crossJoin(broadcast(tot))
      .select(col("__na"), col("__nb"),
        round((when(col("__ca") > 0L, lit(0.5) * p * log(p / m))
          .otherwise(lit(0.0)) +
          when(col("__cb") > 0L, lit(0.5) * q * log(q / m))
            .otherwise(lit(0.0))) * 1e6).cast("long").as("__term"))
      .agg(max(col("__na")).as("n_a"), max(col("__nb")).as("n_b"),
        count(lit(1)).as("n_cats"), sum(col("__term")).as("jsd_micro"))
      .withColumn("jsd", col("jsd_micro").cast("double") / 1e6)
  }

  /** Join-cardinality estimation audit: predict `|A ⋈ B|` from
    * per-side statistics WITHOUT executing the join, then compare with
    * the exact answer — the optimizer-statistics quality check that
    * decides whether stats-based planning (broadcast thresholds, join
    * reordering) can be trusted on a new dataset.
    *
    * Two estimators, both computed from key-count sketches that are
    * distinct-key-sized (never row-sized):
    *  - `selinger_est` — the classic uniform assumption
    *    `nA·nB / max(dA, dB)`;
    *  - `mcv_est` — top-`mcv` most-common values matched EXACTLY
    *    (count-product over the MCV intersection) + the uniform
    *    formula on both remainders. This is the Postgres-style MCV
    *    refinement; skewed keys live in the MCV lists, so the uniform
    *    error is confined to the light tail.
    * `actual` is the exact `Σ_k cA(k)·cB(k)` over the per-key count
    * join — distinct-key-sized work, cheap at any scale. Everything is
    * integer until the closing divisions. */
  /** Leave-one-group-out impact: each group's effect on the global
    * mean of `valueCol`, computed ALGEBRAICALLY from one aggregate
    * pass (`mean_loo = (S − S_g) / (n − n_g)`) — never by re-scanning
    * the data once per group. The data-valuation primitive for "which
    * source is dragging corpus quality down": a negative `delta`
    * (global − LOO) means removing the group would RAISE the mean.
    * Integer sums carry the exactness; the closing divisions are the
    * only float ops. */
  def leaveOneOutImpact(df: DataFrame, groupCol: String,
      valueCol: String): DataFrame = {
    val perGroup = df.groupBy(col(groupCol))
      .agg(count(col(valueCol)).as("n_g"),
        sum(col(valueCol).cast("long")).as("__s_g"))
    val total = perGroup.agg(sum(col("n_g")).as("__n"),
      sum(col("__s_g")).as("__s"))
    perGroup.crossJoin(broadcast(total))
      .select(col(groupCol), col("n_g"),
        round(col("__s").cast("double") / col("__n").cast("double"), 6)
          .as("mean_global"),
        round((col("__s") - col("__s_g")).cast("double") /
          (col("__n") - col("n_g")).cast("double"), 6).as("mean_loo"))
      .withColumn("delta", round(col("mean_global") - col("mean_loo"), 6))
  }

  def joinCardinalityEstimate(a: DataFrame, keyA: String,
      b: DataFrame, keyB: String, mcv: Int): DataFrame = {
    def counts(df: DataFrame, key: String, tag: String): DataFrame =
      df.groupBy(col(key).as("k")).agg(count(lit(1)).as(s"c$tag"))
    // top-m per side via orderBy+limit (TakeOrderedAndProject — a
    // distributed per-partition top-m then a merge of m-sized heads,
    // never a global window over the distinct-key set)
    def topM(cnt: DataFrame, tag: String): DataFrame =
      cnt.orderBy(col(s"c$tag").desc, col("k").asc).limit(mcv)
    val ca = counts(a, keyA, "a")
    val cb = counts(b, keyB, "b")
    val mcvA = topM(ca, "a")
    val mcvB = topM(cb, "b")
    def stats(cnt: DataFrame, m: DataFrame, tag: String): DataFrame = {
      val tot = cnt.agg(sum(col(s"c$tag")).as(s"n$tag"),
        count(lit(1)).as(s"d$tag"))
      val mc = m.agg(coalesce(sum(col(s"c$tag")), lit(0L))
          .as(s"n${tag}_mcv"),
        count(lit(1)).as(s"d${tag}_mcv"))
      tot.crossJoin(mc)
    }
    val statsA = stats(ca, mcvA, "a")
    val statsB = stats(cb, mcvB, "b")
    val actual = ca.join(cb, Seq("k"))
      .agg(coalesce(sum(col("ca") * col("cb")), lit(0L)).as("actual"))
    val mcvMatch = mcvA.join(mcvB, Seq("k"))
      .agg(coalesce(sum(col("ca") * col("cb")), lit(0L)).as("mcv_match"))
    actual.crossJoin(broadcast(mcvMatch))
      .crossJoin(broadcast(statsA)).crossJoin(broadcast(statsB))
      .withColumn("selinger_est",
        round(col("na").cast("double") * col("nb").cast("double") /
          greatest(col("da"), col("db")).cast("double"), 6))
      .withColumn("mcv_est",
        round(col("mcv_match").cast("double") +
          (col("na") - col("na_mcv")).cast("double") *
            (col("nb") - col("nb_mcv")).cast("double") /
            greatest(col("da") - col("da_mcv"),
              col("db") - col("db_mcv"), lit(1L)).cast("double"), 6))
      .select(col("actual"), col("mcv_match"), col("selinger_est"),
        col("mcv_est"),
        round(abs(col("selinger_est") - col("actual").cast("double")) /
          col("actual").cast("double"), 6).as("selinger_rel_err"),
        round(abs(col("mcv_est") - col("actual").cast("double")) /
          col("actual").cast("double"), 6).as("mcv_rel_err"))
  }
}
