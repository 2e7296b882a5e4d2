package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Offline ranking-model evaluation over scored interaction logs — the
  * metrics pass an ML platform runs after batch scoring.
  *
  * == Scale design ==
  * One shuffle on the group key: rank and tie-count ride two window
  * specs over the same partitioning, and the metric reduces per group.
  * All rank arithmetic stays in exact integers (tie-averaged ranks are
  * carried in 2× units); the single double division happens per group
  * at the end, so results are independent of partitioning and row
  * order.
  */
object Evaluation {

  /** Tie-aware ROC AUC per group (the Mann-Whitney U form):
    * `AUC = (Σ_pos avgRank − nPos(nPos+1)/2) / (nPos·nNeg)`, with
    * tied scores contributing their average rank. Groups with no
    * positives or no negatives yield null.
    *
    * `labelCol` must be 0/1 (cast to long). Avg ranks are exact:
    * `2·avgRank = 2·(rank−1) + cntEq + 1` is an integer, summed as
    * longs, so the AUC is bit-reproducible in any engine. */
  def groupAuc(
      df: DataFrame,
      groupCols: Seq[String],
      scoreCol: String,
      labelCol: String): DataFrame = {
    // r18 (guide §2.2/§2.4 — the rank-arithmetic convention): every
    // consumer keys this on a HANDFUL of groups (event_type, fold,
    // fraction), so the previous per-row `Window.partitionBy(group)`
    // ranked the whole corpus inside ≤|groups| partitions — the
    // single-partition-window shape the rest of the repo exists to
    // avoid. Ranks now derive from the distinct (group, score) counts
    // table: a tied block occupying within-group rank interval
    // (lo, lo+cnt] has competition rank lo+1 and tie count cnt, so
    // each of its positives contributes 2·avgRank = 2·lo + cnt + 1 —
    // the identical exact integer the per-row form summed. Heavy
    // machinery is bounded by the distinct-cell count; the prefix sum
    // is range-partitioned ([[PrefixSum]]), never single-partition.
    val g = groupCols.map(col)
    // pinned: the range exchange's bound-sampling pass and the offsets
    // aggregate would otherwise re-run the corpus aggregation (bounded
    // by the distinct cell count — the robustStatsBy counts-pin class)
    val counts = df
      .select(g :+ col(scoreCol).as("__v") :+
        col(labelCol).cast("long").as("__y"): _*)
      .groupBy(g :+ col("__v"): _*)
      .agg(count(lit(1)).as("__cnt"), sum(col("__y")).as("__pos"),
        sum(lit(1L) - col("__y")).as("__neg"))
      .localCheckpoint()
    val cum = PrefixSum.inclusiveBy(counts,
      g.map(_.asc) :+ col("__v").asc, "__cnt", "__cum")
    // per-group rank offset: group blocks are contiguous in the
    // (group, score) total order, so the group's first cell carries it
    val offs = cum.groupBy(g: _*)
      .agg(min(col("__cum") - col("__cnt")).as("__goff"))
      .select(groupCols.map(c => col(c).as(s"__o_$c")) :+ col("__goff"): _*)
    val lo = col("__cum") - col("__goff") - col("__cnt")
    // null-safe: a null group key is a group of its own, not a miss
    cum.join(offs,
        groupCols.map(c => col(c) <=> col(s"__o_$c")).foldLeft(lit(true))(_ && _))
      .groupBy(g: _*)
      .agg(sum(col("__pos")).as("n_pos"),
        sum(col("__neg")).as("n_neg"),
        sum(col("__pos") * (lit(2L) * lo + col("__cnt") + 1L)).as("__s2"))
      .withColumn("auc",
        when(col("n_pos") === 0 || col("n_neg") === 0, lit(null))
          .otherwise(
            (col("__s2") - col("n_pos") * (col("n_pos") + 1)).cast("double") /
              (lit(2.0) * (col("n_pos") * col("n_neg")).cast("double"))))
      .drop("__s2")
  }

  /** Micro-unit DCG discount table: `round(10^12 / log2(r+1))` for
    * ranks 1..k, materialized as exact integer literals so any engine
    * reproduces the sum without touching libm (whose last-ulp rounding
    * differs across platforms). */
  def dcgDiscountsMicro(k: Int): Seq[Long] =
    (1 to k).map(r => math.round(1e12 * math.log(2) / math.log(r + 1)))

  /** NDCG@k per group with graded relevance: DCG and ideal DCG
    * accumulate `rel · discountMicro(rank)` as exact longs (order-free
    * sums); one double division at the end. Groups with zero total
    * relevance in the top-k ideal yield null. Ties in score break by
    * `tieCol` ascending; the ideal ranking orders by relevance
    * descending with the same tie-break. */
  def ndcgAtK(
      df: DataFrame,
      groupCols: Seq[String],
      scoreCol: String,
      relCol: String,
      tieCol: String,
      k: Int): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    val g = groupCols.map(col)
    val disc = dcgDiscountsMicro(k)
    val discOf = (r: Column) => element_at(
      array(disc.map(lit): _*), r.cast("int"))
    val byScore = Window.partitionBy(g: _*)
      .orderBy(col(scoreCol).desc, col(tieCol).asc)
    val byRel = Window.partitionBy(g: _*)
      .orderBy(col("__rel").desc, col(tieCol).asc)
    val staged = df.select(g :+ col(scoreCol) :+ col(tieCol) :+
        col(relCol).cast("long").as("__rel"): _*)
      .withColumn("__r", row_number().over(byScore))
      .withColumn("__ri", row_number().over(byRel))
    val dcg = sum(when(col("__r") <= k, col("__rel") * discOf(col("__r")))
      .otherwise(0L))
    val idcg = sum(when(col("__ri") <= k, col("__rel") * discOf(col("__ri")))
      .otherwise(0L))
    staged.groupBy(g: _*)
      .agg(dcg.as("__dcg"), idcg.as("__idcg"))
      .withColumn("ndcg", when(col("__idcg") === 0, lit(null))
        .otherwise(col("__dcg").cast("double") / col("__idcg").cast("double")))
      .drop("__dcg", "__idcg")
  }

  /** Reciprocal rank of the first positive per group (score
    * descending, `tieCol` ascending): the MRR building block. Groups
    * with no positive yield rank null / rr 0.0. */
  def reciprocalRank(
      df: DataFrame,
      groupCols: Seq[String],
      scoreCol: String,
      labelCol: String,
      tieCol: String): DataFrame = {
    val g = groupCols.map(col)
    val w = Window.partitionBy(g: _*)
      .orderBy(col(scoreCol).desc, col(tieCol).asc)
    df.select(g :+ col(scoreCol) :+ col(tieCol) :+
        col(labelCol).cast("long").as("__y"): _*)
      .withColumn("__r", row_number().over(w))
      .groupBy(g: _*)
      .agg(min(when(col("__y") === 1, col("__r"))).as("first_pos_rank"))
      .withColumn("rr", when(col("first_pos_rank").isNull, lit(0.0))
        .otherwise(lit(1.0) / col("first_pos_rank").cast("double")))
  }

  /** Per-cell chi-square contingency table of two categorical columns
    * (feature-selection signal): observed counts, expected
    * `rowTotal·colTotal/N`, and the cell's `(o−e)²/e` contribution.
    * All inputs to the double arithmetic are exact integers and the
    * expression tree is fixed, so every cell reproduces exactly; the
    * statistic is the (per-cell-emitted, order-free) sum. One shuffle
    * for the cell counts; margins ride tiny broadcast joins. */
  def chiSquareCells(df: DataFrame, aCol: String, bCol: String): DataFrame = {
    val cells = df.groupBy(col(aCol), col(bCol)).agg(count(lit(1)).as("o"))
    val aTot = cells.groupBy(col(aCol)).agg(sum(col("o")).as("__ra"))
    val bTot = cells.groupBy(col(bCol)).agg(sum(col("o")).as("__rb"))
    val n = cells.agg(sum(col("o")).as("__n"))
    val e = (col("__ra") * col("__rb")).cast("double") /
      col("__n").cast("double")
    cells
      .join(broadcast(aTot), aCol)
      .join(broadcast(bTot), bCol)
      .crossJoin(broadcast(n))
      .withColumn("expected", e)
      .withColumn("contrib",
        (col("o").cast("double") - col("expected")) *
          (col("o").cast("double") - col("expected")) / col("expected"))
      .select(col(aCol), col(bCol), col("o"), col("expected"), col("contrib"))
  }

  /** Inverse-propensity-scored (IPS) item click totals — the
    * position-debiased popularity estimate: each click at display
    * position `p` counts `1/propensity(p)`, with `propensity(p) =
    * ctr(p)/ctr(1)` estimated from the same log (the q145 curve).
    * Corrects the "rank-1 items look better because rank 1 gets seen"
    * feedback loop before the counts feed training.
    *
    * Determinism: per-(item, position) click counts, per-position
    * impression/click counts and the position-1 base are all exact
    * longs; each (item, position) term is ONE fixed-order double
    * expression `((c_ip·imps_p)·clicks_1) / (clicks_p·imps_1)` floored
    * to micro-units, so the final per-item sum is a long — identical
    * on any engine and partitioning. Positions (or items) with zero
    * clicks contribute nothing and are filtered before the division
    * (no 0/0). Output: `(itemCol, n_clicks, ips_clicks_micro)`.
    *
    * Scale: two aggregations (by position — bounded; by (item,
    * position) — the data's natural key) and a broadcast of the
    * ≤maxPosition-row propensity table. */
  def ipsItemClicks(
      impressions: DataFrame,
      itemCol: String,
      posCol: String,
      clickCol: String): DataFrame = {
    val posAgg = impressions.groupBy(col(posCol))
      .agg(count(lit(1)).as("__imps"),
        sum(col(clickCol).cast("long")).as("__clicks"))
    val base = posAgg.filter(col(posCol) === 1)
      .select(col("__imps").as("__imps1"), col("__clicks").as("__clicks1"))
    val itemPos = impressions
      .groupBy(col(itemCol), col(posCol))
      .agg(sum(col(clickCol).cast("long")).as("__cip"))
      .filter(col("__cip") > 0)
    itemPos
      .join(broadcast(posAgg), posCol)
      .crossJoin(broadcast(base))
      .filter(col("__clicks") > 0 && col("__clicks1") > 0)
      .withColumn("__term_micro",
        floor(((col("__cip").cast("double") * col("__imps").cast("double")) *
          col("__clicks1").cast("double")) /
          (col("__clicks").cast("double") * col("__imps1").cast("double")) *
          1e6).cast("long"))
      .groupBy(col(itemCol))
      .agg(sum(col("__cip")).as("n_clicks"),
        sum(col("__term_micro")).as("ips_clicks_micro"))
  }

  /** Exposure Gini coefficient over item interaction counts (the
    * popularity-concentration diagnostic for a recommender's catalog):
    * with counts `c` ranked ascending (ties by item id),
    * `G = (2·Σ r·c_r − (n+1)·Σc) / (n·Σc)`. Everything up to the one
    * final division is exact integer arithmetic; the rank comes from
    * the range-partitioned prefix sum ([[PrefixSum.inclusiveBy]]), so
    * a billion-item catalog ranks without a single-partition window.
    * Output: one row `(n_items, total, gini)`. */
  def exposureGini(df: DataFrame, itemCol: String): DataFrame = {
    val counts = df.groupBy(col(itemCol)).agg(count(lit(1)).as("__c"))
      .withColumn("__one", lit(1L))
    PrefixSum.inclusiveBy(counts,
        Seq(col("__c").asc, col(itemCol).asc), "__one", "__r")
      .agg(count(lit(1)).as("n_items"), sum(col("__c")).as("total"),
        sum(col("__r") * col("__c")).as("__s"))
      .withColumn("gini",
        (lit(2) * col("__s") - (col("n_items") + 1) * col("total"))
          .cast("double") /
          (col("n_items") * col("total")).cast("double"))
      .drop("__s")
  }

  /** Reliability table with confidence (the per-bin components of
    * expected calibration error): [[Normalize.calibrationBins]]'s
    * equal-frequency bins, each reporting its mean score (`conf`,
    * exact micro-unit staging), positive rate, and `|rate − conf|`
    * gap. ECE = Σ (n/N)·gap over the emitted rows — an order-free
    * reduction the caller runs on bin-count-sized data. */
  def reliabilityBins(
      df: DataFrame,
      scoreCol: String,
      labelCol: String,
      nBins: Int): DataFrame = {
    require(nBins >= 1, s"nBins must be >= 1, got $nBins")
    val binned = Normalize.percentRank(
        df.select(col(scoreCol),
          floor(col(scoreCol).cast("double") * 1e6).cast("long").as("__sm"),
          col(labelCol).cast("long").as("__y")),
        scoreCol, "__pr")
      .withColumn("bin", least(floor(col("__pr") * nBins), lit(nBins - 1))
        .cast("int"))
    binned.groupBy(col("bin"))
      .agg(count(lit(1)).as("n"),
        (sum(col("__sm")).cast("double") /
          (count(lit(1)).cast("double") * lit(1e6))).as("conf"),
        (sum(col("__y")).cast("double") / count(lit(1)).cast("double"))
          .as("pos_rate"))
      .withColumn("gap", abs(col("pos_rate") - col("conf")))
  }

  /** Kendall τ-b rank agreement between two numeric columns over the
    * same entities — "do views track revenue", "did the model refresh
    * reorder the catalog". Concordant/discordant/tied pair counts are
    * exact integers from one self-join; τ-b's tie-corrected
    * denominator takes the only sqrt.
    *
    * The pair count is quadratic in the entity set, so the bound is
    * ENFORCED, not assumed: `topN > 0` trims to the top-N entities by
    * `rankBy` (default `xCol`; ties broken by `idCol`) through a
    * TakeOrdered before the pairwise join — the q252 pre-trim
    * convention. `topN = 0` skips the trim for callers that already
    * pass a bounded set (a segment, thresholded-graph nodes).
    *
    * Value staging is type-aware: integral columns compare as-is;
    * fractional columns stage to micro-longs (`floor(v·1e6)`, the repo
    * convention) so doubles keep 6dp of rank resolution instead of
    * being silently truncated to whole numbers (which would
    * manufacture spurious ties). Both stagings are strictly monotone,
    * so τ-b is unchanged where the old long cast was exact. */
  def kendallTauB(df: DataFrame, idCol: String, xCol: String,
      yCol: String, topN: Int = 0, rankBy: String = ""): DataFrame = {
    def stage(c: String): Column = df.schema(c).dataType match {
      case org.apache.spark.sql.types.ByteType |
           org.apache.spark.sql.types.ShortType |
           org.apache.spark.sql.types.IntegerType |
           org.apache.spark.sql.types.LongType => col(c).cast("long")
      case _ => floor(col(c).cast("double") * 1e6).cast("long")
    }
    val bounded =
      if (topN > 0) {
        val oc = if (rankBy.nonEmpty) rankBy else xCol
        df.orderBy(col(oc).desc, col(idCol).asc).limit(topN)
      } else df
    val base = bounded.select(col(idCol).as("__id"),
      stage(xCol).as("__x"), stage(yCol).as("__y"))
    val pairs = base.as("a")
      .join(base.select(col("__id").as("__id2"), col("__x").as("__x2"),
        col("__y").as("__y2")), col("__id") < col("__id2"))
    pairs.agg(count(lit(1)).as("n0"),
        sum(when((col("__x") < col("__x2") && col("__y") < col("__y2")) ||
          (col("__x") > col("__x2") && col("__y") > col("__y2")), 1L)
          .otherwise(0L)).as("concordant"),
        sum(when((col("__x") < col("__x2") && col("__y") > col("__y2")) ||
          (col("__x") > col("__x2") && col("__y") < col("__y2")), 1L)
          .otherwise(0L)).as("discordant"),
        sum(when(col("__x") === col("__x2"), 1L).otherwise(0L))
          .as("ties_x"),
        sum(when(col("__y") === col("__y2"), 1L).otherwise(0L))
          .as("ties_y"))
      .withColumn("tau_b", round(when(
        (col("n0") - col("ties_x")) > 0L && (col("n0") - col("ties_y")) > 0L,
        (col("concordant") - col("discordant")).cast("double") /
          sqrt((col("n0") - col("ties_x")).cast("double") *
            (col("n0") - col("ties_y")).cast("double"))), 6))
  }

  /** Murphy decomposition of the Brier score over equal-count score
    * bins: reliability (calibration error mass), resolution (how much
    * the bins separate outcomes), uncertainty (outcome variance), and
    * the exact Brier for reference plus the decomposition gap (the
    * within-bin forecast-variance term the binned identity absorbs).
    * The one-table answer to "is my score bad because it's
    * miscalibrated or because it can't discriminate".
    *
    * Exactness: Brier's Σ(f−y)² accumulates as integer micro-squares
    * through a decimal sum; the per-bin reliability/resolution terms
    * micro-round before the (≤nBins-element) sum — the PSI
    * convention. Binning is the same percent-rank lineage as
    * [[reliabilityBins]] (range-partitioned, no global window). */
  def brierDecomposition(df: DataFrame, scoreCol: String,
      labelCol: String, nBins: Int): DataFrame = {
    val binned = Normalize.percentRank(
        df.select(col(scoreCol),
          floor(col(scoreCol).cast("double") * 1e6).cast("long").as("__fm"),
          col(labelCol).cast("long").as("__y")),
        scoreCol, "__pr")
      .withColumn("__bin",
        least(floor(col("__pr") * nBins), lit(nBins - 1)).cast("int"))
    val perBin = binned.groupBy(col("__bin"))
      .agg(count(lit(1)).as("__nb"), sum(col("__fm")).as("__sf"),
        sum(col("__y")).as("__sy"),
        sum(((col("__fm") - col("__y") * 1000000L) *
          (col("__fm") - col("__y") * 1000000L)).cast("decimal(38,0)"))
          .as("__sq"))
    val global = perBin.agg(sum(col("__nb")).as("__n"),
      sum(col("__sy")).as("__gy"), sum(col("__sq")).as("__gsq"))
    val terms = perBin.crossJoin(broadcast(global))
      .withColumn("__fb", col("__sf").cast("double") /
        (col("__nb").cast("double") * 1e6))
      .withColumn("__ob",
        col("__sy").cast("double") / col("__nb").cast("double"))
      .withColumn("__obar",
        col("__gy").cast("double") / col("__n").cast("double"))
      .withColumn("__rel_micro", round(col("__nb").cast("double") *
        (col("__fb") - col("__ob")) * (col("__fb") - col("__ob")) * 1e6)
        .cast("long"))
      .withColumn("__res_micro", round(col("__nb").cast("double") *
        (col("__ob") - col("__obar")) * (col("__ob") - col("__obar")) * 1e6)
        .cast("long"))
    terms.groupBy(col("__n"), col("__gy"), col("__gsq"))
      .agg(sum(col("__rel_micro")).as("__relm"),
        sum(col("__res_micro")).as("__resm"))
      .select(col("__n").as("n"),
        round(col("__gsq").cast("double") /
          (col("__n").cast("double") * 1e12), 6).as("brier"),
        round(col("__relm").cast("double") /
          (col("__n").cast("double") * 1e6), 6).as("reliability"),
        round(col("__resm").cast("double") /
          (col("__n").cast("double") * 1e6), 6).as("resolution"),
        round((col("__gy").cast("double") / col("__n").cast("double")) *
          (lit(1.0) - col("__gy").cast("double") /
            col("__n").cast("double")), 6).as("uncertainty"))
      .withColumn("decomp_gap", round(col("brier") -
        (col("reliability") - col("resolution") + col("uncertainty")), 6))
  }

  /** Two-proportion z-test per group (experiment readout): variant 0
    * vs variant 1 conversion rates, pooled-variance z-score. Counts
    * are exact longs; the z expression uses only division and `sqrt`
    * — both correctly-rounded IEEE 754 operations — so the score
    * reproduces bit-for-bit in any engine (unlike exp/log/pow, whose
    * libm rounding varies). Groups missing a variant yield null z. */
  def abTest(
      df: DataFrame,
      groupCols: Seq[String],
      variantCol: String,
      labelCol: String): DataFrame = {
    val g = groupCols.map(col)
    val v = col(variantCol).cast("long")
    val y = col(labelCol).cast("long")
    val d = (c: Column) => c.cast("double")
    val agged = df.select(g :+ v.as("__v") :+ y.as("__y"): _*)
      .groupBy(g: _*)
      .agg(sum(when(col("__v") === 0, 1L).otherwise(0L)).as("n_a"),
        sum(when(col("__v") === 1, 1L).otherwise(0L)).as("n_b"),
        sum(when(col("__v") === 0, col("__y")).otherwise(0L)).as("pos_a"),
        sum(when(col("__v") === 1, col("__y")).otherwise(0L)).as("pos_b"))
    val pA = d(col("pos_a")) / d(col("n_a"))
    val pB = d(col("pos_b")) / d(col("n_b"))
    val pool = d(col("pos_a") + col("pos_b")) / d(col("n_a") + col("n_b"))
    agged
      .withColumn("p_a", pA).withColumn("p_b", pB)
      .withColumn("z",
        when(col("n_a") === 0 || col("n_b") === 0, lit(null))
          .otherwise((col("p_a") - col("p_b")) /
            sqrt(pool * (lit(1.0) - pool) *
              (lit(1.0) / d(col("n_a")) + lit(1.0) / d(col("n_b"))))))
  }

  /** Cohort retention: users cohorted by their first active week;
    * each (cohort, week-offset) cell counts the distinct users active
    * that many weeks later. Two shuffles (per-user first week, then
    * the cell distinct-count); weeks are ISO date_trunc weeks and the
    * offset is exact integer day arithmetic. */
  def cohortRetention(events: DataFrame, userCol: String = "user_id",
      tsCol: String = "ts"): DataFrame = {
    val week = date_trunc("week", col(tsCol)).cast("date")
    val uw = events.select(col(userCol), week.as("week")).distinct()
    val cohorts = uw.groupBy(col(userCol)).agg(min(col("week")).as("cohort"))
    uw.join(cohorts, userCol)
      .withColumn("week_offset",
        expr("datediff(week, cohort) div 7").cast("int"))
      .groupBy(col("cohort"), col("week_offset"))
      .agg(count_distinct(col(userCol)).as("n_users"))
  }

  /** Precision@k per group: of each group's top-`k` rows by score
    * (ties broken by `tieCol` ascending for determinism), the fraction
    * with a positive label. */
  def precisionAtK(
      df: DataFrame,
      groupCols: Seq[String],
      scoreCol: String,
      labelCol: String,
      tieCol: String,
      k: Int): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    val g = groupCols.map(col)
    val w = Window.partitionBy(g: _*)
      .orderBy(col(scoreCol).desc, col(tieCol).asc)
    df.select(g :+ col(scoreCol) :+ col(tieCol) :+
        col(labelCol).cast("long").as("__y"): _*)
      .withColumn("__rn", row_number().over(w))
      .filter(col("__rn") <= k)
      .groupBy(g: _*)
      .agg(count(lit(1)).as("n_at_k"),
        (sum(col("__y")).cast("double") / count(lit(1)).cast("double"))
          .as("precision"))
  }

  /** Precision/recall sweep over score thresholds — the
    * operating-point table a deployment threshold is chosen from
    * (AUC summarizes the ranking; shipping needs ONE cutoff and its
    * tradeoff). Counts are exact longs; precision/recall are one
    * division each, null when undefined (no predicted / no actual
    * positives at that threshold).
    *
    * == Scale ==
    * ONE scan: per-threshold tp/fp/fn ride a single conditional
    * aggregation (3·|thresholds| partial counters, map-side
    * combined), then the one-row result unpivots row-locally to one
    * row per threshold. Never a thresholds × data fan-out. Output:
    * `(threshold, tp, fp, fn, precision, recall)`. */
  def prCurve(
      df: DataFrame,
      scoreCol: String,
      labelCol: String,
      thresholds: Seq[Double]): DataFrame = {
    require(thresholds.nonEmpty, "thresholds must be non-empty")
    val y = col(labelCol).cast("long")
    // coalesce: a global sum over an EMPTY input is null, and the
    // counts contract is exact longs (0, not null, when nothing
    // matches)
    val aggCols = thresholds.zipWithIndex.flatMap { case (t, i) => Seq(
      coalesce(sum(when(col(scoreCol) >= t, y).otherwise(0L)), lit(0L))
        .as(s"__tp$i"),
      coalesce(sum(when(col(scoreCol) >= t, lit(1L) - y).otherwise(0L)),
        lit(0L)).as(s"__fp$i"),
      coalesce(sum(when(col(scoreCol) < t, y).otherwise(0L)), lit(0L))
        .as(s"__fn$i")) }
    df.agg(aggCols.head, aggCols.tail: _*)
      .select(explode(array(thresholds.zipWithIndex.map { case (t, i) =>
        struct(lit(t).as("threshold"), col(s"__tp$i").as("tp"),
          col(s"__fp$i").as("fp"), col(s"__fn$i").as("fn")) }: _*)).as("__r"))
      .select(col("__r.threshold"), col("__r.tp"), col("__r.fp"),
        col("__r.fn"),
        when(col("__r.tp") + col("__r.fp") > 0,
          col("__r.tp").cast("double") /
            (col("__r.tp") + col("__r.fp")).cast("double")).as("precision"),
        when(col("__r.tp") + col("__r.fn") > 0,
          col("__r.tp").cast("double") /
            (col("__r.tp") + col("__r.fn")).cast("double")).as("recall"))
  }

  /** Position-CTR curve with Wilson score intervals: per position,
    * impressions, clicks, the raw rate, and the 95% Wilson bounds —
    * the position-bias curve (q145/IPS's input) with the uncertainty
    * that separates "position 18 converts worse" from "position 18
    * has 40 impressions". Wilson is the standard small-n-safe
    * interval (Brown et al., Statist. Sci. 16(2), 2001).
    *
    * Determinism: counts are exact longs; the interval is ONE fixed
    * shape of IEEE ops (divisions, multiplies, one sqrt — all
    * correctly rounded by IEEE 754) evaluated in identical order by
    * any engine, with z and z² passed as the same double literals.
    * Output: `(posCol, n, clicks, ctr, wilson_lo, wilson_hi)`. */
  def positionCtrWilson(
      impressions: DataFrame,
      posCol: String,
      clickCol: String,
      z: Double = 1.96): DataFrame = {
    val zz = z * z
    val base = impressions.groupBy(col(posCol))
      .agg(count(lit(1)).as("n"), sum(col(clickCol).cast("long")).as("clicks"))
    val nD = col("n").cast("double")
    val p = col("clicks").cast("double") / nD
    val a = p + lit(zz) / (lit(2.0) * nD)
    val rad = p * (lit(1.0) - p) / nD + lit(zz) / (lit(4.0) * nD * nD)
    val den = lit(1.0) + lit(zz) / nD
    base.select(col(posCol), col("n"), col("clicks"),
      p.as("ctr"),
      ((a - lit(z) * sqrt(rad)) / den).as("wilson_lo"),
      ((a + lit(z) * sqrt(rad)) / den).as("wilson_hi"))
  }

  /** Intra-list diversity of recommendation slates: per query, the
    * pairwise cosine DISTANCE (1 − cos) statistics over the slate
    * items' embeddings. Accuracy metrics can't see a slate of ten
    * near-identical items; this is the standard companion number
    * (Ziegler et al., WWW'05 topic diversification).
    *
    * Each pair's distance is floored to micro-units BEFORE summing —
    * integer sums are order-free, so the per-query totals are
    * engine- and partitioning-exact (the repo's micro-unit
    * convention); the mean is one long/long division.
    *
    * == Scale ==
    * The embedding join touches k rows per query (slates are bounded:
    * k ≤ 100 always); the pair fan-out is the within-slate self-join
    * on the query key — k(k−1)/2 ≤ 5000 rows per query, a row-local
    * constant factor, never a corpus×corpus product. Output:
    * `(queryCol, n_pairs, ild_sum_micro, ild_mean_micro)`. */
  def intraListDiversity(
      slate: DataFrame,
      embeddings: DataFrame,
      queryCol: String = "query_id",
      itemCol: String = "vec_id",
      embCol: String = "embedding"): DataFrame = {
    val withEmb = slate.select(col(queryCol), col(itemCol))
      .join(embeddings.select(col(itemCol),
        col(embCol).cast("array<double>").as("__e")), itemCol)
    val a = withEmb.select(col(queryCol), col(itemCol).as("__ia"),
      col("__e").as("__ea"))
    val b = withEmb.select(col(queryCol), col(itemCol).as("__ib"),
      col("__e").as("__eb"))
    a.join(b, Seq(queryCol))
      .filter(col("__ia") < col("__ib"))
      .select(col(queryCol),
        // clamp at 0: FP cosine of near-identical vectors can exceed
        // 1.0 by an ulp (sqrt(x)² ≠ x), and floor would turn that
        // into a −1 micro-distance — nonsense for a metric callers
        // treat as ≥ 0. The SQL oracle clamps identically.
        greatest(floor((lit(1.0) -
          graft.functions.Similarity.cosine(col("__ea"), col("__eb"))) * 1e6)
          .cast("long"), lit(0L)).as("__d"))
      .groupBy(col(queryCol))
      .agg(count(lit(1)).as("n_pairs"),
        sum(col("__d")).as("ild_sum_micro"))
      .withColumn("ild_mean_micro",
        (col("ild_sum_micro").cast("double") / col("n_pairs").cast("double")))
  }

  /** Per-query overlap between an approximate retrieval result and
    * the exact one — the recall audit every ANN deployment runs before
    * trusting an index (probe depth / cell count / code budget are
    * tuned against exactly this number). Both inputs are
    * `(queryCol, itemCol)` result sets (one row per returned item).
    *
    * == Scale ==
    * One full-outer equi-join on `(query, item)` — k rows per query
    * on each side, never a corpus product — then a per-query count
    * reduce. `recall` is the exact rational `n_common / n_exact`
    * divided once. */
  def retrievalOverlap(
      approx: DataFrame,
      exact: DataFrame,
      queryCol: String = "query_id",
      itemCol: String = "vec_id"): DataFrame = {
    val a = approx.select(col(queryCol), col(itemCol))
      .withColumn("__a", lit(1L))
    val e = exact.select(col(queryCol), col(itemCol))
      .withColumn("__e", lit(1L))
    a.join(e, Seq(queryCol, itemCol), "full")
      .groupBy(col(queryCol))
      .agg(
        sum(coalesce(col("__a"), lit(0L))).as("n_approx"),
        sum(coalesce(col("__e"), lit(0L))).as("n_exact"),
        sum(when(col("__a").isNotNull && col("__e").isNotNull, 1L)
          .otherwise(0L)).as("n_common"))
      .withColumn("recall",
        when(col("n_exact") > 0,
          col("n_common").cast("double") / col("n_exact").cast("double")))
  }

  /** Reciprocal-rank fusion (Cormack et al., SIGIR'09) of N ranked
    * retrieval lists: `rrf = Σᵢ 1/(k0 + rankᵢ)`, summed in list order
    * with absent entries contributing 0 — the standard score-free way
    * to merge retrievers with incomparable score scales (dense +
    * sparse, cosine + dot). Output: the fused top-`k` per query,
    * `(queryCol, itemCol, rrf_score, fused_rank)`, ties broken by
    * item ascending.
    *
    * == Scale ==
    * N−1 equi-joins on (query, item) over k-row-per-query lists —
    * bounded by k·|queries|, never corpus-sized; one window per query
    * for the fused rank. The left-to-right add order is fixed, so the
    * double scores replay identically in SQL. */
  def reciprocalRankFusion(
      rankings: Seq[DataFrame],
      queryCol: String = "query_id",
      itemCol: String = "vec_id",
      rankCol: String = "rank",
      k0: Int = 60,
      k: Int = 10): DataFrame = {
    require(rankings.nonEmpty, "need at least one ranking")
    require(k0 >= 1 && k >= 1, s"k0 and k must be >= 1, got $k0, $k")
    val legs = rankings.zipWithIndex.map { case (r, i) =>
      r.select(col(queryCol), col(itemCol),
        col(rankCol).cast("long").as(s"__r$i"))
    }
    val joined = legs.reduce((a, b) => a.join(b, Seq(queryCol, itemCol), "full"))
    val score = legs.indices.map { i =>
      coalesce(lit(1.0) /
        (lit(k0).cast("double") + col(s"__r$i").cast("double")), lit(0.0))
    }.reduce(_ + _)
    joined.withColumn("rrf_score", score)
      .withColumn("fused_rank", row_number().over(
        Window.partitionBy(col(queryCol))
          .orderBy(col("rrf_score").desc, col(itemCol).asc)))
      .filter(col("fused_rank") <= k)
      .select(col(queryCol), col(itemCol), col("rrf_score"), col("fused_rank"))
  }

  /** Mean average precision at k, per group: `AP@k = Σ_{i≤k, rel_i}
    * P@i / min(R, k)` with `R` = the group's total relevant count —
    * the order-sensitive companion to [[precisionAtK]] (P@k says how
    * many hits landed in the window; AP@k also rewards putting them
    * early). Groups with no relevant items yield null.
    *
    * Per-rank precision terms `cumPos/i` round to micro-units before
    * the per-group sum (the [[graft.operators.Profile.categoricalEntropy]]
    * order-free integer convention), so the sum is exact and the final
    * two divisions replay identically in any engine.
    *
    * == Scale ==
    * One shuffle on the group key; rank and cumulative-positive ride
    * the same window partitioning, and the metric reduces per group —
    * no cross-group state. Output:
    * `(groupCols*, n_pos, n_pos_at_k, ap)`. */
  def meanAveragePrecisionAtK(
      df: DataFrame,
      groupCols: Seq[String],
      scoreCol: String,
      labelCol: String,
      tieCol: String,
      k: Int): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    val g = groupCols.map(col)
    val w = Window.partitionBy(g: _*)
      .orderBy(col(scoreCol).desc, col(tieCol).asc)
    val wCum = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val ranked = df
      .select(g :+ col(scoreCol) :+ col(tieCol) :+
        col(labelCol).cast("long").as("__y"): _*)
      .withColumn("__rn", row_number().over(w))
      .withColumn("__cum", sum(col("__y")).over(wCum))
    val kL = lit(k.toLong)
    ranked.groupBy(g: _*)
      .agg(
        sum(col("__y")).as("n_pos"),
        sum(when(col("__rn") <= k, col("__y")).otherwise(0L))
          .as("n_pos_at_k"),
        sum(when(col("__rn") <= k && col("__y") === 1L,
          round(col("__cum").cast("double") / col("__rn").cast("double")
            * 1e6).cast("long")).otherwise(0L)).as("__ap_micro"))
      .withColumn("ap",
        when(least(col("n_pos"), kL) > 0L,
          col("__ap_micro").cast("double") / 1e6 /
            least(col("n_pos"), kL).cast("double")))
      .drop("__ap_micro")
  }

  /** Poisson(1) CDF values C_0..C_12 as doubles — the resampling
    * thresholds shared by the Spark and oracle sides of
    * [[poissonBootstrapMeans]] (a weight is `#{k : u ≥ C_k}`, so
    * P(w = k) = C_k − C_{k−1}; C_12 ≈ 1 − 1e-13 covers any 32-bit u). */
  val PoissonCdf: Seq[Double] = {
    var p = math.exp(-1.0); var c = 0.0
    (0 to 12).map { k => c += p; p = p / (k + 1); c }
  }

  /** Poisson-bootstrap replicate means of `valueCol` — the
    * at-scale bootstrap (Chamandy et al., Google tech report 2012;
    * Kleiner et al.'s BLB is the refinement): instead of resampling
    * n rows B times, each row gets an independent Poisson(1) weight
    * per replicate, so ONE scan yields all B replicate means whose
    * spread is the sampling distribution of the mean. Weights derive
    * from the engine-portable md5 of `(replicate, id)` — fully
    * deterministic, partition-independent.
    *
    * == Scale ==
    * ONE scan, 2·B counter aggregates (map-side combined), B-row
    * result unpivoted row-locally ([[prCurve]]'s convention) — never
    * a B× data fan-out. Value terms ride micro-unit longs, so each
    * replicate mean is exact before its one division. Output:
    * `(rep, n_eff, mean_boot)`. */
  def poissonBootstrapMeans(
      df: DataFrame,
      valueCol: String,
      idCol: String,
      reps: Int,
      seedBase: Int = 0): DataFrame = {
    require(reps >= 1 && reps <= 64, s"reps must be in [1,64], got $reps")
    val base = df.filter(col(valueCol).isNotNull)
      .select(col(idCol).cast("string").as("__id"),
        round(col(valueCol).cast("double") * 1e6).cast("long").as("__xm"))
    val aggs = (0 until reps).flatMap { b =>
      val u = graft.functions.Hashing
        .md5Hash32(col("__id"), seedBase + b)
        .cast("double") / lit(4294967296.0)
      val w = PoissonCdf.map(c => when(u >= lit(c), 1L).otherwise(0L))
        .reduce(_ + _)
      Seq(coalesce(sum(w * col("__xm")), lit(0L)).as(s"__sw$b"),
        coalesce(sum(w), lit(0L)).as(s"__w$b"))
    }
    base.agg(aggs.head, aggs.tail: _*)
      .select(explode(array((0 until reps).map { b =>
        struct(lit(b).as("rep"), col(s"__w$b").as("n_eff"),
          when(col(s"__w$b") > 0L,
            col(s"__sw$b").cast("double") / 1e6 /
              col(s"__w$b").cast("double")).as("mean_boot"))
      }: _*)).as("__r"))
      .select(col("__r.*"))
  }

  /** Catalog coverage and novelty of a recommendation list (Castells
    * & Vargas's beyond-accuracy metrics): coverage = share of the
    * interaction catalog the recommender ever surfaces (a
    * popularity-only policy scores ~k/|catalog|); novelty = mean
    * self-information `−log₂ p(item)` under the interaction
    * popularity distribution (recommending only head items scores
    * low). Per-rec novelty terms round to micro-bits before the sum
    * (order-free integer convention).
    *
    * `recs`: `(userCol, itemCol)` rows; `interactions`: one row per
    * logged interaction with `itemCol`. Output (one row):
    * `(n_recs, n_rec_items, n_catalog, coverage, novelty)`.
    *
    * == Scale ==
    * One count shuffle over the item domain; the popularity table
    * joins the recs on item (shuffle or broadcast as AQE decides) and
    * the one-row totals broadcast. */
  def coverageNovelty(
      recs: DataFrame,
      interactions: DataFrame,
      itemCol: String,
      userCol: String): DataFrame = {
    val pop = interactions.groupBy(col(itemCol))
      .agg(count(lit(1)).as("__pop"))
    val tot = pop.agg(sum(col("__pop")).as("__t"),
      count(lit(1)).as("__catalog"))
    recs.select(col(userCol), col(itemCol))
      .join(pop, Seq(itemCol), "left")
      .crossJoin(broadcast(tot))
      .withColumn("__term",
        round(-log2(col("__pop").cast("double") / col("__t").cast("double"))
          * 1e6).cast("long"))
      .agg(count(lit(1)).as("n_recs"),
        countDistinct(col(itemCol)).as("n_rec_items"),
        max(col("__catalog")).as("n_catalog"),
        sum(col("__term")).as("__nov"))
      .withColumn("coverage",
        col("n_rec_items").cast("double") / col("n_catalog").cast("double"))
      .withColumn("novelty",
        col("__nov").cast("double") / 1e6 / col("n_recs").cast("double"))
      .drop("__nov")
  }

  /** Entity-grouped k-fold AUC — the metric-variance audit behind a
    * single headline AUC (one number hides whether the model is 0.75
    * everywhere or 0.9/0.6 across folds). Folds assign by the
    * engine-portable md5 of the ENTITY id, so all of an entity's rows
    * land in one fold — the grouped-CV rule that keeps per-entity
    * leakage out of the variance estimate. Rides [[groupAuc]]'s exact
    * tie-aware rank arithmetic per fold.
    *
    * == Scale ==
    * One hash projection + [[groupAuc]]'s single fold-keyed shuffle.
    * Output: `(fold, n_pos, n_neg, auc)` — k rows. */
  def kFoldAuc(
      df: DataFrame,
      entityCol: String,
      scoreCol: String,
      labelCol: String,
      k: Int,
      seed: Int = 21): DataFrame = {
    require(k >= 2, s"k must be >= 2, got $k")
    val folded = df.withColumn("fold",
      graft.functions.Hashing
        .md5Hash32(col(entityCol).cast("string"), seed) % k)
    groupAuc(folded, Seq("fold"), scoreCol, labelCol)
  }

  /** Cohort LTV curve: cumulative per-user value by signup cohort and
    * weeks-since-signup — the revenue view of [[cohortRetention]]
    * (retention says who came back; LTV says what they were worth by
    * week k, the payback-period number an acquisition budget hangs
    * on). Values stage as micro-unit longs; the cumulative axis is an
    * exact integer prefix sum per cohort.
    *
    * == Scale ==
    * One user-keyed window for the signup anchor, one (cohort,
    * offset) aggregate; the cumulative sum runs per cohort over
    * ≤horizon offsets (bounded window). Output:
    * `(cohort_week, offset_weeks, n_cohort_users, week_value,
    * cum_value_per_user)`. */
  def cohortLtv(
      events: DataFrame,
      userCol: String = "user_id",
      tsCol: String = "ts",
      valueCol: String = "value"): DataFrame = {
    val w = Window.partitionBy(col(userCol))
    val staged = events
      .withColumn("__week", expr(s"unix_millis($tsCol) div 604800000"))
      .withColumn("__cohort", min(col("__week")).over(w))
      .withColumn("__vm",
        round(col(valueCol).cast("double") * 1e6).cast("long"))
    val cohortSizes = staged
      .select(col(userCol), col("__cohort")).distinct()
      .groupBy(col("__cohort")).agg(count(lit(1)).as("n_cohort_users"))
    val weekly = staged
      .groupBy(col("__cohort"), (col("__week") - col("__cohort"))
        .as("offset_weeks"))
      .agg(coalesce(sum(col("__vm")), lit(0L)).as("__wv"))
    val cum = Window.partitionBy(col("__cohort"))
      .orderBy(col("offset_weeks").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    weekly
      .withColumn("__cv", sum(col("__wv")).over(cum))
      .join(cohortSizes, Seq("__cohort"))
      .select(col("__cohort").as("cohort_week"), col("offset_weeks"),
        col("n_cohort_users"),
        (col("__wv").cast("double") / 1e6).as("week_value"),
        (col("__cv").cast("double") / 1e6 /
          col("n_cohort_users").cast("double")).as("cum_value_per_user"))
  }

  /** Sample-ratio-mismatch (SRM) check for an experiment bucketing:
    * per-bucket observed counts vs the uniform expectation, with the
    * χ² contribution — THE health check run before reading any A/B
    * metric (a biased splitter invalidates everything downstream;
    * χ²(buckets−1) exceeding its critical value = investigate the
    * assignment, not the metric). Buckets assign by the
    * engine-portable md5 of the unit id — deterministic, and itself
    * a correct uniform splitter.
    *
    * == Scale ==
    * One hash projection + one ≤buckets-row count shuffle; the
    * one-row total broadcasts. Output:
    * `(bucket, n_obs, n_expected, chi2_term)`. */
  def sampleRatioMismatch(
      df: DataFrame,
      idCol: String,
      buckets: Int,
      seed: Int = 51): DataFrame = {
    require(buckets >= 2, s"buckets must be >= 2, got $buckets")
    val counts = df
      .select((graft.functions.Hashing
        .md5Hash32(col(idCol).cast("string"), seed) % buckets)
        .as("bucket"))
      .groupBy(col("bucket")).agg(count(lit(1)).as("n_obs"))
    val tot = counts.agg(sum(col("n_obs")).as("__t"))
    counts.crossJoin(broadcast(tot))
      .withColumn("n_expected",
        col("__t").cast("double") / lit(buckets.toDouble))
      .withColumn("chi2_term",
        (col("n_obs").cast("double") - col("n_expected")) *
        (col("n_obs").cast("double") - col("n_expected")) /
        col("n_expected"))
      .drop("__t")
  }

  /** Learning-curve AUC: the metric at nested deterministic data
    * fractions (10% ⊂ 25% ⊂ 50% ⊂ 100% by hash bucket) — the "is more
    * data still buying accuracy?" diagnostic. Subsets NEST (a row in
    * the 10% cut is in every larger cut) because membership is
    * `hash(id)/2³² < fraction`, so the curve is monotone in data, not
    * in sampling noise.
    *
    * == Scale ==
    * ONE scan: each row explodes only into the fractions that contain
    * it (≤|fractions| row-local fan-out), then [[groupAuc]] ranks per
    * fraction — no per-fraction pass over the data. Output:
    * `(fraction, n_pos, n_neg, auc)`. */
  def learningCurveAuc(
      df: DataFrame,
      idCol: String,
      scoreCol: String,
      labelCol: String,
      fractions: Seq[Double],
      seed: Int = 33): DataFrame = {
    require(fractions.nonEmpty &&
      fractions.forall(f => f > 0.0 && f <= 1.0),
      s"fractions must be in (0, 1], got $fractions")
    val u = graft.functions.Hashing
      .md5Hash32(col(idCol).cast("string"), seed)
      .cast("double") / lit(4294967296.0)
    val fanned = df
      .withColumn("__u", u)
      .select(col(scoreCol), col(labelCol),
        explode(array(fractions.map(lit): _*)).as("fraction"),
        col("__u"))
      .filter(col("__u") < col("fraction"))
    groupAuc(fanned, Seq("fraction"), scoreCol, labelCol)
  }

  /** Kaplan–Meier survival curve over right-censored durations — THE
    * retention/churn curve when observation windows truncate some
    * subjects (a user still active at data close is censored, not
    * churned; dropping them biases retention down). `S(t) =
    * Π_{u≤t} (1 − d_u/n_u)` with `d_u` events and `n_u` at-risk at
    * duration `u`.
    *
    * Determinism: at-risk counts derive from one exact prefix sum;
    * each factor's `ln(1 − d/n)` rounds to micro-nats before the
    * cumulative sum (order-free integers), and the final
    * `round(exp(·), 6)` is the only libm step. A duration where the
    * whole risk set dies (`d = n`) pins survival to exactly 0 from
    * there on (no −∞ in the log domain).
    *
    * == Scale ==
    * One (duration) count shuffle, then everything rides
    * [[PrefixSum.inclusive]]'s range-partitioned scans over the
    * DISTINCT duration axis — no single-partition window. Output:
    * `(duration, n_risk, d_events, n_censored, survival)`. */
  def kaplanMeier(
      subjects: DataFrame,
      durationCol: String,
      eventCol: String): DataFrame = {
    val counts = subjects
      .filter(col(durationCol).isNotNull)
      .select(col(durationCol).cast("long").as("__t"),
        col(eventCol).cast("long").as("__e"))
      .groupBy(col("__t"))
      .agg(sum(col("__e")).as("__d"),
        sum(lit(1L) - col("__e")).as("__cns"))
    val tot = counts.agg(sum(col("__d") + col("__cns")).as("__n"))
    val cum = PrefixSum.inclusive(
      counts.withColumn("__all", col("__d") + col("__cns")),
      "__t", "__all", "__cum")
    val risked = cum.crossJoin(broadcast(tot))
      .withColumn("__nr", col("__n") - col("__cum") + col("__all"))
      .withColumn("__term",
        when(col("__d") > 0L && col("__d") < col("__nr"),
          round(log(lit(1.0) -
            col("__d").cast("double") / col("__nr").cast("double")) * 1e6)
            .cast("long")).otherwise(0L))
      .withColumn("__dead",
        (col("__d") === col("__nr")).cast("long"))
    // log-survival terms and the dead-risk-set flag are independent
    // cumulative axes over the same duration order — one fused
    // range-partitioned pass instead of two back-to-back prefix sums
    val folded = PrefixSum.inclusiveMultiBy(risked, Seq(col("__t")),
      Seq("__term" -> "__ct", "__dead" -> "__dc"))
    folded.select(col("__t").as("duration"), col("__nr").as("n_risk"),
      col("__d").as("d_events"), col("__cns").as("n_censored"),
      when(col("__dc") > 0L, lit(0.0))
        .otherwise(round(exp(col("__ct").cast("double") / 1e6), 6))
        .as("survival"))
  }

  /** Self-normalized inverse-propensity (SNIPS) per-item CTR: the
    * [[ipsItemClicks]] estimator's ratio form
    * `Σ_p w_p·clicks_ip / Σ_p w_p·imps_ip`, with the same
    * position-examination weights `w_p = (clicks_1·imps_p) /
    * (imps_1·clicks_p)`. Normalizing by the weighted impression mass
    * cancels the propensity model's global miscalibration — the
    * variance-reduced estimator an off-policy evaluation actually
    * reports (at the cost of a small bias). Each weighted term is
    * floor-staged to micro-units, so numerator and denominator are
    * exact integer sums; the ratio is one double division.
    *
    * Plan: identical shape to IPS — per-position aggregate (broadcast;
    * positions are a bounded set), per-(item, position) aggregate, one
    * final per-item aggregate. Everything shuffles on the item key. */
  def snipsItemCtr(
      impressions: DataFrame,
      itemCol: String,
      posCol: String,
      clickCol: String): DataFrame = {
    val posAgg = impressions.groupBy(col(posCol))
      .agg(count(lit(1)).as("__imps"),
        sum(col(clickCol).cast("long")).as("__clicks"))
    val base = posAgg.filter(col(posCol) === 1)
      .select(col("__imps").as("__imps1"), col("__clicks").as("__clicks1"))
    val itemPos = impressions
      .groupBy(col(itemCol), col(posCol))
      .agg(count(lit(1)).as("__iip"),
        sum(col(clickCol).cast("long")).as("__cip"))
    val w = (col("__clicks1").cast("double") * col("__imps").cast("double")) /
      (col("__imps1").cast("double") * col("__clicks").cast("double"))
    itemPos
      .join(broadcast(posAgg), posCol)
      .crossJoin(broadcast(base))
      .filter(col("__clicks") > 0 && col("__clicks1") > 0)
      .withColumn("__num_micro",
        floor(col("__cip").cast("double") * w * 1e6).cast("long"))
      .withColumn("__den_micro",
        floor(col("__iip").cast("double") * w * 1e6).cast("long"))
      .groupBy(col(itemCol))
      .agg(sum(col("__cip")).as("n_clicks"),
        sum(col("__iip")).as("n_imps"),
        sum(col("__num_micro")).as("num_micro"),
        sum(col("__den_micro")).as("den_micro"))
      .filter(col("den_micro") > 0L)
      .withColumn("snips_ctr",
        round(col("num_micro").cast("double") /
          col("den_micro").cast("double"), 6))
  }

  /** Operating-point selection on top of [[prCurve]]: per threshold,
    * F1 and the expected misclassification cost
    * `fp·fpCost + fn·fnCost` (integer costs → integer totals), with
    * deterministic best-F1 / min-cost flags (ties break toward the
    * smaller threshold). The "which cut do we ship" table an alerting
    * or moderation pipeline derives from its score distribution —
    * still ONE conditional-aggregate scan of the data; the selection
    * layer only touches the |thresholds|-row curve. */
  def operatingPoint(df: DataFrame, scoreCol: String, labelCol: String,
      thresholds: Seq[Double], fpCost: Long, fnCost: Long): DataFrame = {
    val curve = prCurve(df, scoreCol, labelCol, thresholds)
      .withColumn("f1", when(lit(2L) * col("tp") + col("fp") + col("fn") > 0,
        lit(2L) * col("tp").cast("double") /
          (lit(2L) * col("tp") + col("fp") + col("fn")).cast("double"))
        .otherwise(0.0))
      .withColumn("cost", col("fp") * fpCost + col("fn") * fnCost)
    val bestF1 = curve.agg(max(col("f1")).as("__mf"))
    val bestF1T = curve.crossJoin(broadcast(bestF1))
      .filter(col("f1") === col("__mf"))
      .agg(min(col("threshold")).as("__bft"))
    val minCost = curve.agg(min(col("cost")).as("__mc"))
    val minCostT = curve.crossJoin(broadcast(minCost))
      .filter(col("cost") === col("__mc"))
      .agg(min(col("threshold")).as("__mct"))
    curve.crossJoin(broadcast(bestF1T)).crossJoin(broadcast(minCostT))
      .select(col("threshold"), col("tp"), col("fp"), col("fn"),
        col("precision"), col("recall"), round(col("f1"), 6).as("f1"),
        col("cost"),
        (col("threshold") === col("__bft")).as("is_best_f1"),
        (col("threshold") === col("__mct")).as("is_min_cost"))
  }

  /** Replay-based offline policy evaluation (the Li et al. unbiased
    * replay method for a DETERMINISTIC policy): take the policy's
    * per-user recommendation, keep only logged impressions where the
    * logged item equals the recommended one, and read the CTR off
    * those matches — no model of the logging policy needed when the
    * logging distribution is (approximately) uniform over candidates.
    * Here the policy is frequency-argmax from a training window
    * (tiebreak: smaller item id). One per-user aggregate + window
    * argmax for the policy, one broadcast-sized join against the
    * replay log, one global aggregate. */
  def replayPolicyEval(train: DataFrame, replay: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val byCount = Window.partitionBy(col("user_id"))
      .orderBy(col("__cnt").desc, col("item_id").asc)
    val policy = train.groupBy(col("user_id"), col("item_id"))
      .agg(count(lit(1)).as("__cnt"))
      .withColumn("__rn", row_number().over(byCount))
      .filter(col("__rn") === 1)
      .select(col("user_id"), col("item_id").as("__rec"))
    replay.join(policy, Seq("user_id"), "left")
      .agg(count(lit(1)).as("n_logged"),
        sum((col("item_id") === col("__rec")).cast("long")).as("n_matched"),
        sum(col("click")).as("n_clicks"),
        sum(when(col("item_id") === col("__rec"), col("click"))
          .otherwise(0L)).as("n_matched_clicks"))
      .select(col("n_logged"), col("n_matched"),
        round(col("n_matched").cast("double") /
          col("n_logged").cast("double"), 6).as("match_rate"),
        round(col("n_matched_clicks").cast("double") /
          col("n_matched").cast("double"), 6).as("replay_ctr"),
        round(col("n_clicks").cast("double") /
          col("n_logged").cast("double"), 6).as("logged_ctr"))
  }

  /** CUPED variance reduction for A/B readouts: adjust the
    * post-period metric by the pre-period covariate
    * (`adj = y − θ(x − μx)`, θ the pooled OLS slope) and report the
    * per-variant adjusted means plus the variance-reduction factor
    * ρ² (the identity `Var(adj) = Var(y)(1−ρ²)` holds at the optimal
    * θ, so no second pass is needed).
    *
    * Everything derives ALGEBRAICALLY from exact integer moments:
    * per-unit pre/post values stage to micro longs, products ride
    * decimal(38) (a long×long product of micro sums overflows), and
    * the adjusted mean per variant is `μy_v − θ(μx_v − μx)` — pure
    * arithmetic on the sums, no per-row adjusted column, no second
    * scan. Two aggregates + a 2-row variant table; the divisions are
    * the only float ops, in one fixed order. */
  def cupedAdjustedMeans(units: DataFrame, variantCol: String,
      preCol: String, postCol: String): DataFrame = {
    val dec = "decimal(38,0)"
    val staged = units.select(col(variantCol).as("__v"),
      floor(col(preCol) * 1e6).cast("long").as("__x"),
      floor(col(postCol) * 1e6).cast("long").as("__y"))
    val mom = staged.agg(count(lit(1)).as("__n"),
      sum(col("__x").cast(dec)).as("__sx"),
      sum(col("__y").cast(dec)).as("__sy"),
      sum((col("__x").cast(dec) * col("__x").cast(dec))).as("__sxx"),
      sum((col("__x").cast(dec) * col("__y").cast(dec))).as("__sxy"),
      sum((col("__y").cast(dec) * col("__y").cast(dec))).as("__syy"))
    val perVariant = staged.groupBy(col("__v"))
      .agg(count(lit(1)).as("n_units"),
        sum(col("__x").cast(dec)).as("__vx"),
        sum(col("__y").cast(dec)).as("__vy"))
    perVariant.crossJoin(broadcast(mom))
      .withColumn("__covn", (col("__n") * col("__sxy") -
        col("__sx") * col("__sy")).cast("double"))
      .withColumn("__varxn", (col("__n") * col("__sxx") -
        col("__sx") * col("__sx")).cast("double"))
      .withColumn("__varyn", (col("__n") * col("__syy") -
        col("__sy") * col("__sy")).cast("double"))
      .withColumn("theta",
        when(col("__varxn") > 0.0, col("__covn") / col("__varxn"))
          .otherwise(0.0))
      .withColumn("rho2",
        when(col("__varxn") > 0.0 && col("__varyn") > 0.0,
          col("__covn") * col("__covn") /
            (col("__varxn") * col("__varyn"))).otherwise(0.0))
      .select(col("__v").as(variantCol), col("n_units"),
        round(col("__vy").cast("double") /
          (col("n_units").cast("double") * 1e6), 6).as("mean_post"),
        round((col("__vy").cast("double") /
          (col("n_units").cast("double") * 1e6)) -
          col("theta") * ((col("__vx").cast("double") /
            (col("n_units").cast("double") * 1e6)) -
            (col("__sx").cast("double") /
              (col("__n").cast("double") * 1e6))), 6)
          .as("mean_adjusted"),
        round(col("theta"), 6).as("theta"),
        round(col("rho2"), 6).as("var_reduction"))
  }

  /** Split-conformal interval audit: per-segment [lo, hi] prediction
    * bands from exact train-split quantiles, coverage measured on the
    * held-out split. The distribution-free uncertainty wrapper a
    * scoring pipeline ships with its point predictions — if the
    * realized coverage drifts from the nominal `hiProb − loProb`, the
    * intervals (or the segmentation) are stale.
    *
    * Deterministic end to end: the split is the md5-hash membership
    * convention (stable under re-execution and repartitioning),
    * bounds come from [[Normalize.quantilesBy]]'s integer rank
    * arithmetic, and membership tests compare micro-unit longs.
    * Plan: one scan staged into the two splits, the per-segment
    * quantile lineage (prefix-sum, no global window), one
    * segment-keyed join of the test split against the tiny bounds
    * table — AQE broadcasts it on its own. */
  def conformalCoverage(df: DataFrame, keyCol: String, valueCol: String,
      idCol: String, seed: Int = 13, trainPct: Int = 80,
      loProb: Double = 0.05, hiProb: Double = 0.95): DataFrame = {
    import graft.functions.Hashing
    val staged = df.select(col(keyCol), col(valueCol),
      (Hashing.md5Hash32(col(idCol).cast("string"), seed) % 100)
        .as("__h"))
    val bounds = Normalize.quantilesBy(
        staged.filter(col("__h") < trainPct), keyCol, valueCol,
        Seq(loProb, hiProb))
      .groupBy(col(keyCol))
      .agg(max(when(col("prob") === loProb, col("quantile"))).as("lo"),
        max(when(col("prob") === hiProb, col("quantile"))).as("hi"),
        max(col("n")).as("n_train"))
    staged.filter(col("__h") >= trainPct)
      .select(col(keyCol),
        round(col(valueCol).cast("double") * 1e6).cast("long").as("__vm"))
      .join(bounds, Seq(keyCol))
      .withColumn("__cov",
        (col("__vm") >= round(col("lo") * 1e6).cast("long") &&
          col("__vm") <= round(col("hi") * 1e6).cast("long")).cast("long"))
      .groupBy(col(keyCol))
      .agg(max(col("n_train")).as("n_train"), max(col("lo")).as("lo"),
        max(col("hi")).as("hi"), count(lit(1)).as("n_test"),
        sum(col("__cov")).as("n_covered"))
      .withColumn("coverage",
        round(col("n_covered").cast("double") /
          col("n_test").cast("double"), 6))
  }
}
