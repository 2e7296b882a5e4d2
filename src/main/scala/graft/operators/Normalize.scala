package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Column normalizations (SURVEY A3-A5) — the numerix aggregate ops
  * (`numerix/src/pkg/rust_matrix_frame/ops/fp32_ops.rs:239-348`:
  * norm_min_max, norm_percentile_p_q, percentile_rank) re-expressed as
  * global aggregates + projections.
  *
  * == Scale design ==
  * None of these use a global `Window.orderBy` over the data (which
  * would single-partition 100 TB). Min/max/percentiles reduce to one
  * small aggregate row cross-joined (broadcast) back; percent_rank
  * builds a distinct-value cumulative-count table with [[PrefixSum]]
  * — every stage is partition-parallel.
  */
object Normalize {

  /** (x - min) / (max - min), computed via one aggregate + broadcast
    * join rather than a global window (A3). */
  def minMax(df: DataFrame, c: String, out: String): DataFrame = {
    val agg = df.agg(min(col(c)).as("__mn"), max(col(c)).as("__mx"))
    df.crossJoin(broadcast(agg))
      .withColumn(out, (col(c) - col("__mn")) / (col("__mx") - col("__mn")))
      .drop("__mn", "__mx")
  }

  /** Clamp to [p, q] percentiles then min-max over the clamped range
    * (A4): (clamp(x) - v_p) / (v_q - v_p). Exact percentiles for oracle
    * parity; swap `percentile` → `percentile_approx` for the
    * single-pass sketch at very high cardinality. */
  def percentileClamp(df: DataFrame, c: String, p: Double, q: Double,
      out: String): DataFrame = {
    val agg = df.agg(
      expr(s"percentile($c, $p)").as("__vp"),
      expr(s"percentile($c, $q)").as("__vq"))
    df.crossJoin(broadcast(agg))
      .withColumn(out,
        (least(greatest(col(c), col("__vp")), col("__vq")) - col("__vp")) /
          (col("__vq") - col("__vp")))
      .drop("__vp", "__vq")
  }

  /** Exact percent_rank of `c` among all values (A5/W2):
    * (# strictly smaller) / (n - 1), the standard definition. A null
    * value counts toward `n` and sorts first (smaller than every
    * value); null rows themselves get a null rank.
    *
    * Scalable construction — no global single-partition window:
    * distinct-value counts (shuffle by value), then a [[PrefixSum]]
    * over the (much smaller) distinct table, whose grand total is the
    * `n`; the rank table joins back to the data by value.
    */
  def percentRank(df: DataFrame, c: String, out: String): DataFrame = {
    val counts = df.groupBy(col(c).as("__v")).agg(count(lit(1)).as("__cnt"))
    val rankTable = PrefixSum.inclusiveWithTotal(counts, Seq(col("__v")),
        Seq("__cnt" -> "__cum"), "__total")
      .select(col("__v"),
        ((col("__cum") - col("__cnt")) /
          (col("__total") - lit(1L)).cast("double")).as(out))
    // no broadcast hint: the distinct-value table can be large for
    // continuous columns — AQE converts to broadcast when it is small
    df.join(rankTable, df(c) === rankTable("__v"), "left")
      .drop("__v")
  }

  /** Z-score standardization against the column's population mean and
    * stddev (the A3 family's third member beside min-max and
    * percentile clamp). Moments ride [[graft.OracleMath.xsum]]'s exact
    * decimal carrier (order-independent); mean/variance/σ then use
    * only division, subtraction, multiplication and IEEE `sqrt`, so
    * every z-score reproduces bit-for-bit in any engine. A
    * zero-variance column yields NaN (0/0) in every engine alike. */
  def zscore(df: DataFrame, c: String, out: String): DataFrame = {
    import graft.OracleMath.xsum
    val stats = df.agg(xsum(col(c)).as("__sx"),
      xsum(col(c) * col(c)).as("__sxx"), count(col(c)).as("__cnt"))
    val mean = col("__sx") / col("__cnt")
    val variance = col("__sxx") / col("__cnt") - mean * mean
    df.crossJoin(broadcast(stats))
      .withColumn(out, (col(c) - mean) / sqrt(variance))
      .drop("__sx", "__sxx", "__cnt")
  }

  /** Isotonic calibration via pool-adjacent-violators, fit on a
    * reliability table (e.g. [[Evaluation.reliabilityBins]]'s output):
    * bins ordered by `orderCol` get the maximal non-decreasing fit to
    * their positive rates under bin weights. The ONLY driver-side data
    * is the bin table itself — bounded by `nBins` at construction,
    * exactly like a k-means centroid set — so this composes with any
    * corpus size. Returns `(orderCol, calibrated)` to broadcast-join
    * back onto scored rows. */
  def pavCalibrate(
      bins: DataFrame,
      orderCol: String,
      rateCol: String,
      weightCol: String): DataFrame = {
    val spark = bins.sparkSession
    import spark.implicits._
    val rows = bins
      .select(col(orderCol).cast("int"), col(rateCol).cast("double"),
        col(weightCol).cast("long"))
      .collect().map(r => (r.getInt(0), r.getDouble(1), r.getLong(2)))
      .sortBy(_._1)
    // each block: (weighted rate sum, weight, member bins); merge while
    // the tail violates monotonicity
    var blocks = List.empty[(Double, Long, List[Int])]
    for ((b, r, w) <- rows) {
      var cur = (r * w, w, List(b))
      while (blocks.nonEmpty &&
          blocks.head._1 / blocks.head._2 >= cur._1 / cur._2) {
        val h = blocks.head
        blocks = blocks.tail
        cur = (h._1 + cur._1, h._2 + cur._2, h._3 ::: cur._3)
      }
      blocks = cur :: blocks
    }
    blocks.reverse.flatMap { case (s, w, bs) =>
      bs.map(b => (b, s / w)) }
      .toDF(orderCol, "calibrated")
  }

  /** [[pavCalibrate]] with exact integer block arithmetic: bins carry
    * a positive-COUNT numerator (`posCol`) and weight (`weightCol`) as
    * longs, blocks merge by long sums, and the monotonicity test is the
    * cross-multiplication `s₁·w₂ ≥ s₂·w₁` — no float accumulates
    * anywhere, so the fit is bit-reproducible and each output value is
    * ONE correctly-rounded division of exact integers. That makes the
    * fit oracle-able: the minimax characterization
    * `f(i) = max_{j≤i} min_{k≥i} (Σpos_{j..k} / Σw_{j..k})` attains the
    * same exact rational at the same blocks, and IEEE division of equal
    * rationals yields the identical double in any engine.
    *
    * Same scale posture as [[pavCalibrate]]: the ONLY driver-side data
    * is the bin table, bounded by construction (like a centroid set). */
  def pavCalibrateCounts(
      bins: DataFrame,
      orderCol: String,
      posCol: String,
      weightCol: String): DataFrame = {
    val spark = bins.sparkSession
    import spark.implicits._
    val rows = bins
      .select(col(orderCol).cast("int"), col(posCol).cast("long"),
        col(weightCol).cast("long"))
      .collect().map(r => (r.getInt(0), r.getLong(1), r.getLong(2)))
    pavFitCounts(rows.toSeq).toDF(orderCol, "calibrated")
  }

  /** The exact-integer PAV kernel shared by [[pavCalibrateCounts]]
    * (driver-side, one global bin table) and [[pavCalibrateCountsBy]]
    * (executor-side, one bounded bin list per group). Each block:
    * (Σpos, Σweight, member bins); merge while the tail violates
    * monotonicity (head mean ≥ incoming mean, exactly). BigInt
    * cross-products: at 100 TB a bin's weight can pass 2^31.5, where
    * the long product would wrap — the loop runs over ≤nBins entries,
    * so exactness is free. */
  private[operators] def pavFitCounts(
      rows: Seq[(Int, Long, Long)]): Seq[(Int, Double)] = {
    var blocks = List.empty[(Long, Long, List[Int])]
    for ((b, p, w) <- rows.sortBy(_._1)) {
      var cur = (p, w, List(b))
      while (blocks.nonEmpty &&
          BigInt(blocks.head._1) * cur._2 >= BigInt(cur._1) * blocks.head._2) {
        val h = blocks.head
        blocks = blocks.tail
        cur = (h._1 + cur._1, h._2 + cur._2, h._3 ::: cur._3)
      }
      blocks = cur :: blocks
    }
    blocks.reverse.flatMap { case (s, w, bs) =>
      bs.map(b => (b, s.toDouble / w.toDouble)) }
  }

  /** Per-group [[pavCalibrateCounts]]: an independent isotonic fit per
    * `groupCol` value (per-segment / per-surface calibration — one
    * global map under-corrects any segment whose score distribution
    * shifts). Same exact-integer block merges, same oracle-ability,
    * per group — but fully DISTRIBUTED: one shuffle gathers each
    * group's ≤nBins bin structs with `collect_list`, and the PAV
    * kernel runs executor-side per group. Nothing driver-side scales
    * with |groups| (a per-user calibration over 10⁹ users is just a
    * 10⁹-row shuffle), while per-group state stays bounded by nBins —
    * the same invariant the driver-side variants rely on. Output:
    * `(groupCol, orderCol, calibrated)`. */
  def pavCalibrateCountsBy(
      bins: DataFrame,
      groupCol: String,
      orderCol: String,
      posCol: String,
      weightCol: String): DataFrame = {
    val spark = bins.sparkSession
    import spark.implicits._
    bins
      .select(col(groupCol).cast("string").as("__g"),
        struct(col(orderCol).cast("int"), col(posCol).cast("long"),
          col(weightCol).cast("long")).as("__bin"))
      .groupBy(col("__g"))
      .agg(collect_list(col("__bin")).as("__bins"))
      .as[(String, Seq[(Int, Long, Long)])]
      .flatMap { case (g, grows) =>
        pavFitCounts(grows).map { case (b, v) => (g, b, v) } }
      .toDF(groupCol, orderCol, "calibrated")
  }

  /** Equal-frequency score-calibration table: rows bin by
    * `floor(percent_rank(score) · nBins)` (clamped to the last bin),
    * each bin reporting its score range, row count, and positive rate.
    * The model-calibration artifact (reliability diagram / isotonic
    * input) for a ranking model's score column.
    *
    * Rides [[percentRank]]'s range-partitioned construction — no
    * single-partition window at any size. The positive rate is an
    * exact integer ratio (labels are 0/1 longs) divided once. */
  def calibrationBins(
      df: DataFrame,
      scoreCol: String,
      labelCol: String,
      nBins: Int): DataFrame = {
    require(nBins >= 1, s"nBins must be >= 1, got $nBins")
    val binned = percentRank(
        df.select(col(scoreCol), col(labelCol).cast("long").as("__y")),
        scoreCol, "__pr")
      .withColumn("bin", least(floor(col("__pr") * nBins), lit(nBins - 1))
        .cast("int"))
    binned.groupBy(col("bin"))
      .agg(count(lit(1)).as("n"),
        min(col(scoreCol)).as("score_min"),
        max(col(scoreCol)).as("score_max"),
        (sum(col("__y")).cast("double") / count(lit(1)).cast("double"))
          .as("pos_rate"))
  }

  /** Shared staging for the rank-arithmetic family ([[medianBy]] /
    * [[trimmedMeanBy]] / [[winsorizedMeanBy]]): distinct-value counts
    * (one shuffle, map-side combine), global inclusive prefix sum in
    * `(group, value)` order, and each group's rank offset + total.
    * Returns one row per (group, distinct value) with columns
    * `(groupCol, __v, __cnt, __cum, __off, n)`; a value's within-group
    * inclusive rank interval is `(__cum−__off−__cnt, __cum−__off]`.
    *
    * No broadcast hint on the per-group join: |groups| is
    * caller-controlled (a user_id groupCol at 100 TB has billions of
    * groups) — a forced broadcast would OOM the driver where a shuffle
    * join is fine. AQE converts to broadcast whenever the group table
    * is actually small (the percentRank convention above). */
  private def rankStagedBy(
      df: DataFrame, groupCol: String, valueCol: String): DataFrame =
    rankStagedOnCounts(df
      .groupBy(col(groupCol), col(valueCol).cast("long").as("__v"))
      .agg(count(lit(1)).as("__cnt")), groupCol)

  /** [[rankStagedBy]] from an ALREADY-aggregated `(groupCol, __v,
    * __cnt)` table — the weighted form. Lets a caller that derives a
    * second value from the counts themselves ([[robustStatsBy]]'s
    * absolute deviations) rank the derived multiset without
    * re-expanding to raw rows: summing `__cnt` over the derived value
    * is exactly the multiset the raw-row groupBy would have built. */
  private def rankStagedOnCounts(
      counts: DataFrame, groupCol: String): DataFrame = {
    val cum = PrefixSum.inclusiveBy(counts,
      Seq(col(groupCol).asc, col("__v").asc), "__cnt", "__cum")
    val groups = cum.groupBy(col(groupCol))
      .agg(min(col("__cum") - col("__cnt")).as("__off"),
        sum(col("__cnt")).as("n"))
    cum.join(groups, Seq(groupCol))
  }

  /** [[medianBy]] over a pre-aggregated `(groupCol, __v, __cnt)`
    * counts table — identical rank rule (lower median, `k = (n+1) div
    * 2`). Package-visible: [[Profile.imputationStats]] derives its
    * median from the same counts table that feeds its mean/mode
    * aggregate, so the corpus unpivot runs once, not twice. */
  private[operators] def medianOnCounts(
      counts: DataFrame, groupCol: String): DataFrame =
    rankStagedOnCounts(counts, groupCol)
      .withColumn("__k", expr("(n + 1) div 2"))
      .filter(col("__cum") - col("__off") - col("__cnt") < col("__k") &&
        col("__k") <= col("__cum") - col("__off"))
      .select(col(groupCol), col("n"), col("__v").as("median"))

  /** [[rankStagedBy]] plus the α-trim bookkeeping shared by
    * [[trimmedMeanBy]] and [[winsorizedMeanBy]]: `__t` = floor(α·n),
    * the value's rank interval (`__lo`, `__hi`], and `__kept` = how
    * many of its copies fall inside the kept middle `(t, n−t]`. */
  private def trimStagedBy(df: DataFrame, groupCol: String,
      valueCol: String, alpha: Double): DataFrame =
    rankStagedBy(df, groupCol, valueCol)
      .withColumn("__t", floor(lit(alpha) * col("n")).cast("long"))
      .withColumn("__lo", col("__cum") - col("__off") - col("__cnt"))
      .withColumn("__hi", col("__cum") - col("__off"))
      .withColumn("__kept",
        greatest(lit(0L),
          least(col("__hi"), col("n") - col("__t")) -
            greatest(col("__lo"), col("__t"))))

  /** EXACT per-group lower median of a long column, with no
    * single-partition window: the group's `(n+1) div 2`-th order
    * statistic located on [[rankStagedBy]]'s table — the median row is
    * the one whose within-group rank interval covers that rank.
    * Output: `(groupCol, n, median)`. Exact integer arithmetic
    * end-to-end — the same value on any engine and partitioning. */
  def medianBy(df: DataFrame, groupCol: String, valueCol: String): DataFrame = {
    rankStagedBy(df, groupCol, valueCol)
      .withColumn("__k", expr("(n + 1) div 2"))
      .filter(col("__cum") - col("__off") - col("__cnt") < col("__k") &&
        col("__k") <= col("__cum") - col("__off"))
      .select(col(groupCol), col("n"), col("__v").as("median"))
  }

  /** EXACT per-group α-trimmed mean of a long column: drop the lowest
    * and highest `floor(α·n)` values of each group, average the rest.
    * The robust-location estimator between the mean (α=0) and the
    * median (α→0.5) — the standard way to report a latency or spend
    * metric that one bot user would otherwise drag.
    *
    * Same rank-arithmetic machinery as [[medianBy]] — distinct-value
    * counts, one global prefix sum, per-group offsets — so no
    * single-partition window at any size. A value straddling the trim
    * boundary contributes only its in-range copies (exact interval
    * intersection on the rank axis, in integers). The kept-value sum
    * stays in longs; the ONE float op is the final division, so the
    * result is bit-identical on any engine and partitioning.
    * Output: `(groupCol, n, n_kept, trimmed_mean)`. */
  def trimmedMeanBy(
      df: DataFrame,
      groupCol: String,
      valueCol: String,
      alpha: Double): DataFrame = {
    require(alpha >= 0.0 && alpha < 0.5, s"alpha must be in [0, 0.5), got $alpha")
    trimStagedBy(df, groupCol, valueCol, alpha)
      .filter(col("__kept") > 0)
      .groupBy(col(groupCol), col("n"))
      .agg(sum(col("__kept")).as("n_kept"),
        sum(col("__kept") * col("__v")).as("__s"))
      .select(col(groupCol), col("n"), col("n_kept"),
        (col("__s").cast("double") / col("n_kept").cast("double"))
          .as("trimmed_mean"))
  }

  /** EXACT per-group α-winsorized mean: the lowest and highest
    * `floor(α·n)` values are CLAMPED to the (t+1)-th and (n−t)-th
    * order statistics instead of dropped ([[trimmedMeanBy]]'s
    * sibling — winsorizing keeps n constant, which some downstream
    * consumers require). Same rank-arithmetic construction; the
    * clamped sum is `middle + t·v_(t+1) + t·v_(n−t)` in exact longs,
    * the ONE float op is the final division by n.
    * Output: `(groupCol, n, winsorized_mean)`. */
  def winsorizedMeanBy(
      df: DataFrame,
      groupCol: String,
      valueCol: String,
      alpha: Double): DataFrame = {
    require(alpha >= 0.0 && alpha < 0.5, s"alpha must be in [0, 0.5), got $alpha")
    trimStagedBy(df, groupCol, valueCol, alpha)
      .groupBy(col(groupCol), col("n"), col("__t"))
      .agg(sum(col("__kept") * col("__v")).as("__mid"),
        // the boundary order statistics: the value whose within-group
        // rank interval (lo, hi] covers rank t+1 / rank n−t
        max(when(col("__lo") < col("__t") + 1 &&
          col("__t") + 1 <= col("__hi"), col("__v"))).as("__vlo"),
        max(when(col("__lo") < col("n") - col("__t") &&
          col("n") - col("__t") <= col("__hi"), col("__v"))).as("__vhi"))
      .select(col(groupCol), col("n"),
        ((col("__mid") + col("__t") * coalesce(col("__vlo"), lit(0L)) +
          col("__t") * coalesce(col("__vhi"), lit(0L))).cast("double") /
          col("n").cast("double")).as("winsorized_mean"))
  }

  /** Robust per-group location/scale summary on exact micro-unit
    * integers: lower median, MAD (median absolute deviation — both via
    * [[medianBy]]'s rank arithmetic), and the count of |x−med| >
    * 3·MAD outliers. The outlier screen that survives the heavy tails
    * which wreck mean/σ z-scores on interaction data. Output:
    * `(groupCol, n, median_micro, mad_micro, n_outliers)`. */
  def robustStatsBy(
      df: DataFrame,
      groupCol: String,
      valueCol: String): DataFrame = {
    // r17 optimization (guide §2.3/§2.4): the whole pipeline runs on
    // the distinct-value counts table after ONE corpus aggregate. The
    // previous shape re-expanded to raw rows for the deviation leg —
    // the corpus was scanned for vm's counts, again for the dev join,
    // and again for mad's counts (4 scans in the plan); deviations are
    // a per-(group, value) function of the counts themselves, so
    // summing __cnt over |v − median| is the identical multiset
    // (EvaluationSpec pins robustStatsBy against the naive raw-row
    // computation, including a duplicate-heavy fixture).
    // pinned: the counts table feeds three lineages (median rank pass,
    // the deviation join, the closing aggregate) — without the pin the
    // corpus scan + groupBy re-executes once per consumer. Bounded by
    // the distinct (group, value) count, the same table the rank
    // machinery already materializes once per PrefixSum pass.
    val counts = df
      .groupBy(col(groupCol),
        floor(col(valueCol) * 1e6).cast("long").as("__v"))
      .agg(count(lit(1)).as("__cnt"))
      .localCheckpoint()
    val med = medianOnCounts(counts, groupCol)
      .select(col(groupCol), col("median").as("median_micro"))
    // unhinted joins against the one-row-per-group tables: AQE
    // broadcasts them when small; a high-cardinality groupCol gets a
    // plain shuffle join instead of an unbounded forced broadcast
    // NO merge aggregate on the deviations: duplicate (group, __v)
    // rows (med+d and med−d collide) are fine for the rank machinery —
    // each row's inclusive-rank interval is a sub-interval of the
    // value's, the k-containing row still carries the correct value,
    // and the closing aggregate re-sums __cnt — so the merge shuffle
    // would be pure cost.
    val devCounts = counts.join(med, Seq(groupCol))
      .select(col(groupCol), col("median_micro"),
        abs(col("__v") - col("median_micro")).as("__v"), col("__cnt"))
    val mad = medianOnCounts(
        devCounts.select(col(groupCol), col("__v"), col("__cnt")),
        groupCol)
      .select(col(groupCol), col("median").as("mad_micro"))
    devCounts.join(mad, Seq(groupCol))
      .groupBy(col(groupCol), col("median_micro"), col("mad_micro"))
      .agg(sum(col("__cnt")).as("n"),
        sum(when(col("__v") > lit(3L) * col("mad_micro"), col("__cnt"))
          .otherwise(0L)).as("n_outliers"))
      .select(col(groupCol), col("n"), col("median_micro"),
        col("mad_micro"), col("n_outliers"))
  }

  /** Population Stability Index between a REFERENCE and a CURRENT
    * distribution of a numeric column — the standard feature-drift
    * gate between a training snapshot and serving traffic (PSI < 0.1
    * stable, > 0.25 retrain). Bins are equal-frequency on the
    * reference (exact percentile edges, the q12 convention); each
    * dataset assigns bins row-locally against the broadcast edge row;
    * per-bin terms are `(p−q)·ln(p/q)` rounded to `scale` dp (ln
    * differs in the last ulps across libm implementations), null when
    * either side's bin is empty (callers sum non-null terms). Output:
    * one row per bin, `(bin, ref_n, cur_n, psi_term)`.
    *
    * == Scale ==
    * One percentile aggregate over the reference (broadcast back as a
    * single row), one scan + groupBy per side over nBins keys, and a
    * literal nBins-row spine for empty bins — no joins wider than the
    * bin table, works unchanged on a 100 TB reference. */
  def psiBins(
      ref: DataFrame,
      cur: DataFrame,
      valueCol: String,
      nBins: Int,
      scale: Int = 6): DataFrame = {
    require(nBins >= 2, s"nBins must be >= 2, got $nBins")
    val spark = ref.sparkSession
    import spark.implicits._
    val edgeCols = (1 until nBins).map { i =>
      expr(s"percentile($valueCol, ${i.toDouble / nBins})").as(s"__e${i - 1}")
    }
    val edges = ref.agg(edgeCols.head, edgeCols.tail: _*)
    def binned(df: DataFrame, out: String): DataFrame =
      df.crossJoin(broadcast(edges))
        .select((0 until nBins - 1)
          .map(i => (col(valueCol) > col(s"__e$i")).cast("int"))
          .reduce(_ + _).as("bin"))
        .groupBy(col("bin")).agg(count(lit(1)).as(out))
    val spine = (0 until nBins).toDF("bin")
    val allW = Window.rowsBetween(Window.unboundedPreceding,
      Window.unboundedFollowing)
    spine
      .join(binned(ref, "ref_n"), Seq("bin"), "left")
      .join(binned(cur, "cur_n"), Seq("bin"), "left")
      .select(col("bin"),
        coalesce(col("ref_n"), lit(0L)).as("ref_n"),
        coalesce(col("cur_n"), lit(0L)).as("cur_n"))
      .withColumn("__rt", sum(col("ref_n")).over(allW))
      .withColumn("__ct", sum(col("cur_n")).over(allW))
      .select(col("bin"), col("ref_n"), col("cur_n"),
        when(col("ref_n") > 0 && col("cur_n") > 0,
          round((col("ref_n").cast("double") / col("__rt").cast("double") -
            col("cur_n").cast("double") / col("__ct").cast("double")) *
            log((col("ref_n").cast("double") / col("__rt").cast("double")) /
              (col("cur_n").cast("double") / col("__ct").cast("double"))),
            scale)).as("psi_term"))
  }

  /** Per-key rolling z-score over a trailing count window — the
    * streaming-friendly anomaly detector for metric series (a point
    * is judged against ITS OWN key's recent history, so a spiky user
    * doesn't poison a quiet one). Rows whose window isn't yet full
    * get null (no verdict on a cold start); `is_anomaly` is
    * `|z| > threshold` as 0/1, null alongside z.
    *
    * Determinism: window sums ride [[graft.OracleMath]]'s
    * rounded-decimal staging (exact, order-free), and
    * `z = (x − s/n)/√((n·ss − s²)/n²)` is one fixed IEEE chain over
    * those exact figures (population variance; null when 0).
    *
    * == Scale ==
    * One shuffle on the key; both window sums and the count share a
    * single window spec (one sort per partition, no self-join
    * per-window recompute). Output: input columns +
    * `(roll_mean, z, is_anomaly)`. */
  def rollingZscore(
      df: DataFrame,
      keyCol: String,
      tsCol: String,
      tieCol: String,
      valueCol: String,
      window: Int,
      threshold: Double = 3.0): DataFrame = {
    require(window >= 2, s"window must be >= 2, got $window")
    val v = col(valueCol).cast("double")
    val w = Window.partitionBy(col(keyCol))
      .orderBy(col(tsCol).asc, col(tieCol).asc)
      .rowsBetween(-(window - 1), 0)
    val dec = round(v, 6).cast(org.apache.spark.sql.types.DecimalType(38, 6))
    val dec2 = round(v * v, 6)
      .cast(org.apache.spark.sql.types.DecimalType(38, 6))
    val n = lit(window.toDouble)
    val s = col("__s")
    val ss = col("__ss")
    val variance = (n * ss - s * s) / (n * n)
    df
      .withColumn("__cnt", count(lit(1)).over(w))
      .withColumn("__s", sum(dec).over(w).cast("double"))
      .withColumn("__ss", sum(dec2).over(w).cast("double"))
      .withColumn("roll_mean",
        when(col("__cnt") === window.toLong, s / n))
      .withColumn("z",
        when(col("__cnt") === window.toLong && variance > 0.0,
          (v - s / n) / sqrt(variance)))
      .withColumn("is_anomaly",
        when(col("z").isNotNull,
          (abs(col("z")) > lit(threshold)).cast("int")))
      .drop("__cnt", "__s", "__ss")
  }

  /** EXACT per-group type-1 quantiles (the SLA report: p50/p95/p99 of
    * a latency-like measure per segment) — [[medianBy]]'s
    * rank-arithmetic generalized to an arbitrary probability list.
    * Values stage to micro-unit longs; the target rank is
    * `⌈p·n⌉` computed IN INTEGERS (`(pm·n + 999999) div 1e6` with
    * `pm = round(p·1e6)`), so bucket edges never depend on a
    * float-ceil boundary. Each prob fans out row-locally over the
    * distinct-value rank table — never over the data.
    *
    * == Scale ==
    * One distinct-value count shuffle + one range-partitioned prefix
    * sum ([[PrefixSum.inclusiveBy]]); no single-partition window.
    * Output: `(groupCol, prob, n, quantile)`. */
  def quantilesBy(
      df: DataFrame,
      groupCol: String,
      valueCol: String,
      probs: Seq[Double]): DataFrame = {
    require(probs.nonEmpty && probs.forall(p => p > 0.0 && p <= 1.0),
      s"probs must be in (0, 1], got $probs")
    val staged = df.filter(col(valueCol).isNotNull)
      .select(col(groupCol),
        round(col(valueCol).cast("double") * 1e6).cast("long").as("__vm"))
    val counts = staged
      .groupBy(col(groupCol), col("__vm"))
      .agg(count(lit(1)).as("__cnt"))
    val cum = PrefixSum.inclusiveBy(counts,
      Seq(col(groupCol).asc, col("__vm").asc), "__cnt", "__cum")
    val groups = cum.groupBy(col(groupCol))
      .agg(min(col("__cum") - col("__cnt")).as("__off"),
        sum(col("__cnt")).as("n"))
    cum.join(groups, Seq(groupCol))
      .select(col(groupCol), col("__vm"), col("n"),
        (col("__cum") - col("__off") - col("__cnt")).as("__lo"),
        (col("__cum") - col("__off")).as("__hi"),
        explode(array(probs.map { p =>
          struct(lit(p).as("prob"),
            lit(math.round(p * 1e6)).as("__pm"))
        }: _*)).as("__p"))
      // internal rank alias deliberately obscure: a caller whose
      // group column is literally "__k" must not capture it (bug
      // class: mannKendall's "__k" group col resolved to this rank)
      .withColumn("__q_target_rank",
        greatest(lit(1L), expr("(__p.__pm * n + 999999) div 1000000")))
      .filter(col("__lo") < col("__q_target_rank") &&
        col("__q_target_rank") <= col("__hi"))
      .select(col(groupCol), col("__p.prob").as("prob"), col("n"),
        (col("__vm").cast("double") / 1e6).as("quantile"))
  }

  /** ECDF quantile matching: map each distinct value of `src` onto the
    * value at the SAME quantile of `ref` — the distribution-alignment
    * transform (batch-effect correction, covariate-shift repair,
    * "make segment B's feature comparable to segment A's"). For a src
    * value with ECDF rank `c/n_src`, the mapped value is ref's type-1
    * quantile at `k = ⌈c·n_ref/n_src⌉` — all integer arithmetic.
    *
    * == Scale ==
    * NO single-partition window and NO interval join: both sides
    * stage distinct-value rank tables via [[PrefixSum]]; the probe
    * "find ref's interval covering rank k" resolves by counting ref
    * boundaries below k with ONE more prefix sum over the tagged
    * union of boundaries and probes, then an equi-join on the ref
    * row index. Output:
    * `(value, n_src, ecdf_src, mapped_value)`. */
  def quantileMatch(
      ref: DataFrame,
      src: DataFrame,
      valueCol: String): DataFrame = {
    // one range-partitioned pass per side carries BOTH cumulative axes
    // (occurrence mass __cum + dense distinct-value index __idx) —
    // fused via inclusiveMultiBy so the ref side does not pay a second
    // full prefix-sum pass just for its row index
    def staged(df: DataFrame): DataFrame = {
      val counts = df.filter(col(valueCol).isNotNull)
        .select(round(col(valueCol).cast("double") * 1e6).cast("long")
          .as("__vm"))
        .groupBy(col("__vm")).agg(count(lit(1)).as("__c"))
        .withColumn("__one", lit(1L))
      PrefixSum.inclusiveMultiBy(counts, Seq(col("__vm")),
          Seq("__c" -> "__cum", "__one" -> "__idx"))
        .drop("__one")
        .localCheckpoint() // consumed by 2-3 downstream legs
    }
    val refStaged = staged(ref)
    val srcStaged = staged(src)
    // ref side: value rank intervals plus a dense row index 1..|ref|
    val refRanked = refStaged.select(col("__vm").as("__rv"), col("__idx"))
    val refTot = refStaged.agg(max(col("__cum")).as("__nr"))
    val srcTot = srcStaged.agg(max(col("__cum")).as("__ns"))
    // probe rank in ref: k = ceil(cum_src * n_ref / n_src), exact
    val probes = srcStaged
      .crossJoin(broadcast(refTot)).crossJoin(broadcast(srcTot))
      .withColumn("__k",
        expr("(__cum * __nr + __ns - 1) div __ns"))
    // merge axis: ref boundaries at (hi, tag 1), probes at (k, tag 0)
    // — at equal rank the probe sorts first, so its prefix count is
    // exactly |ref boundaries with hi < k|, and idx = that + 1
    val refAxis = refStaged
      .select(col("__cum").as("__rank"), lit(1L).as("__tag"),
        lit(1L).as("__isref"), col("__vm").as("__rv"),
        lit(null).cast("long").as("__sv"), lit(null).cast("long").as("__sc"),
        lit(null).cast("long").as("__scum"))
    val probeAxis = probes
      .select(col("__k").as("__rank"), lit(0L).as("__tag"),
        lit(0L).as("__isref"), lit(null).cast("long").as("__rv"),
        col("__vm").as("__sv"), col("__c").as("__sc"),
        col("__cum").as("__scum"))
    val merged = PrefixSum.inclusiveBy(
      refAxis.unionByName(probeAxis),
      Seq(col("__rank").asc, col("__tag").asc), "__isref", "__below")
    val resolved = merged.filter(col("__tag") === 0L)
      .withColumn("__refidx", col("__below") + lit(1L))
      .join(refRanked.select(col("__idx").as("__refidx"),
        col("__rv").as("__mapped")), Seq("__refidx"))
    resolved.crossJoin(broadcast(srcTot))
      .select((col("__sv").cast("double") / 1e6).as("value"),
        col("__sc").as("n_src"),
        (col("__scum").cast("double") / col("__ns").cast("double"))
          .as("ecdf_src"),
        (col("__mapped").cast("double") / 1e6).as("mapped_value"))
  }

  /** Per-series lag-k autocorrelation (ACF), lags 1..`maxLag`, for an
    * integer-valued series indexed by an integer time axis (daily
    * counts, hourly volumes). The seasonality/burstiness primitive a
    * monitoring pipeline runs over every metric series.
    *
    * Exactness: with μ = S/n, both the lag covariance and the variance
    * are scaled by n² so every accumulated term is the INTEGER
    * `(n·x_t − S)(n·x_{t+k} − S)` — the single double division happens
    * last, so any engine reproduces the ratio bit-for-bit.
    *
    * Plan: one aggregate for (n, S) per series, one equi-join of the
    * series against itself on `(key, t+k)` after a bounded
    * `explode(1..maxLag)` fan-out, one aggregate per (key, lag). All
    * shuffles key on the series id — at 100 TB the work distributes by
    * series and no global window appears. */
  def acfByKey(df: DataFrame, keyCol: String, timeCol: String,
      valCol: String, maxLag: Int): DataFrame = {
    val base = df.select(col(keyCol).as("__k"),
      col(timeCol).cast("long").as("__t"),
      col(valCol).cast("long").as("__x"))
    val stats = base.groupBy(col("__k"))
      .agg(count(lit(1)).as("__n"), sum(col("__x")).as("__s"))
    // denominator: n²·Σ(x−μ)² = Σ(n·x − S)²
    val den = base.join(stats, Seq("__k"))
      .groupBy(col("__k"))
      .agg(sum((col("__n") * col("__x") - col("__s")) *
        (col("__n") * col("__x") - col("__s"))).as("__den"))
    val lagged = base
      .withColumn("__lag", explode(expr(s"sequence(1, $maxLag)")))
      .withColumn("__t2", col("__t") + col("__lag"))
    val pairs = lagged.as("a")
      .join(base.select(col("__k"), col("__t").as("__t2"),
        col("__x").as("__x2")), Seq("__k", "__t2"))
      .join(stats, Seq("__k"))
      .groupBy(col("__k"), col("__lag"))
      .agg(count(lit(1)).as("n_pairs"),
        sum((col("__n") * col("__x") - col("__s")) *
          (col("__n") * col("__x2") - col("__s"))).as("__num"))
    pairs.join(den, Seq("__k"))
      .select(col("__k").as(keyCol), col("__lag").cast("int").as("lag"),
        col("n_pairs"),
        when(col("__den") > 0L,
          col("__num").cast("double") / col("__den").cast("double"))
          .as("acf"))
  }

  /** Empirical-Bayes rate shrinkage (beta-binomial, method of
    * moments): fit a Beta(α, β) prior to the population of per-key
    * raw rates, then report each key's posterior-mean rate
    * `(succ + α) / (succ + fail + α + β)`. Small-sample keys shrink
    * toward the population mean; high-volume keys keep their observed
    * rate — the standard CTR/conversion smoothing for ranking
    * features.
    *
    * Raw rates are staged to micro-units before the population
    * moments (the repo's exact-sum convention), so the fitted prior is
    * deterministic on any engine; the remaining math is elementwise.
    * Plan: one per-key aggregate, one 1-row population aggregate
    * (broadcast), one elementwise projection — two shuffles total,
    * nothing global. */
  def empiricalBayesRate(counts: DataFrame, keyCol: String,
      succCol: String, failCol: String): DataFrame = {
    val staged = counts.select(col(keyCol),
      col(succCol).cast("long").as("__c"),
      col(failCol).cast("long").as("__f"))
      .filter(col("__c") + col("__f") > 0L)
      .withColumn("__pm", floor(col("__c").cast("double") /
        (col("__c") + col("__f")).cast("double") * 1e6).cast("long"))
    val pop = staged.agg(count(lit(1)).as("__n"),
      sum(col("__pm")).as("__sp"),
      sum(col("__pm") * col("__pm")).as("__sp2"))
    staged.crossJoin(broadcast(pop))
      .withColumn("__m", col("__sp").cast("double") /
        (col("__n").cast("double") * 1e6))
      .withColumn("__v", col("__sp2").cast("double") /
        (col("__n").cast("double") * 1e12) - col("__m") * col("__m"))
      .withColumn("__common",
        when(col("__v") > 0.0,
          col("__m") * (lit(1.0) - col("__m")) / col("__v") - 1.0))
      .withColumn("__alpha",
        when(col("__common") > 0.0, col("__m") * col("__common"))
          .otherwise(1.0))
      .withColumn("__beta",
        when(col("__common") > 0.0,
          (lit(1.0) - col("__m")) * col("__common")).otherwise(1.0))
      .select(col(keyCol), col("__c").as("n_succ"),
        col("__f").as("n_fail"), col("__pm").as("raw_rate_micro"),
        round(col("__alpha"), 6).as("prior_alpha"),
        round(col("__beta"), 6).as("prior_beta"),
        round((col("__c").cast("double") + col("__alpha")) /
          (col("__c").cast("double") + col("__f").cast("double") +
            col("__alpha") + col("__beta")), 6).as("smoothed_rate"))
  }
}
