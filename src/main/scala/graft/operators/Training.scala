package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Training-data assembly over the feature/event stores — the offline
  * half of a feature platform (the reference serves online lookups;
  * producing leakage-free training sets from the same data is the
  * batch-engine counterpart every user of the stack runs on Spark).
  *
  * == Scale design ==
  * [[pointInTime]] is the classic as-of feature join done as ONE
  * shuffle: label rows and feature-history rows are unioned and
  * windowed per entity in event-time order, so each label picks up the
  * latest feature value at-or-before its timestamp via
  * `last(ignoreNulls)` — no per-label history explosion, no range
  * join. [[aggregateFeatures]] materializes trailing-window aggregates
  * in a single pass with conditional aggregation (one shuffle on the
  * entity key, map-side partial aggregation for free).
  */
object Training {

  /** Point-in-time-correct feature join: for each label row, the
    * latest `valueCol` from `history` with `history.tsCol <=
    * label.tsCol`, per entity key. Labels with no prior history get
    * null (coalesce defaults downstream like any retrieve miss).
    *
    * `history` must be unique per (keys, ts) — pre-aggregate if not
    * (duplicate timestamps would make "the latest value" ambiguous).
    */
  def pointInTime(
      labels: DataFrame,
      history: DataFrame,
      keys: Seq[String],
      tsCol: String,
      valueCol: String): DataFrame = {
    val labelCols = labels.columns
    // tag and union: history rows sort before label rows at equal ts,
    // so a feature written exactly at label time is visible (<=)
    val h = history.select(
      keys.map(col) ++ Seq(col(tsCol), lit(0).as("__is_label"),
        col(valueCol).as("__v")) ++
        labelCols.filterNot(c => keys.contains(c) || c == tsCol)
          .map(c => lit(null).cast(labels.schema(c).dataType).as(c)): _*)
    val l = labels.select(
      keys.map(col) ++ Seq(col(tsCol), lit(1).as("__is_label"),
        lit(null).cast(history.schema(valueCol).dataType).as("__v")) ++
        labelCols.filterNot(c => keys.contains(c) || c == tsCol).map(col): _*)
    val w = Window.partitionBy(keys.map(col): _*)
      .orderBy(col(tsCol).asc, col("__is_label").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    h.unionByName(l)
      .withColumn(valueCol, last(col("__v"), ignoreNulls = true).over(w))
      .filter(col("__is_label") === 1)
      .select(labelCols.map(col) :+ col(valueCol): _*)
  }

  /** [[pointInTime]] with a staleness horizon — the offline twin of
    * the store's TTL-on-read (P4): a feature older than `maxAge` at
    * label time reads as null, exactly like an expired online lookup.
    * Training sets built with this match what the serving path would
    * actually have returned, TTL included.
    *
    * Same ONE-shuffle union-window shape as [[pointInTime]]; the
    * window additionally carries the matched feature's timestamp so
    * the staleness test is a pure projection afterward. */
  def pointInTimeFresh(
      labels: DataFrame,
      history: DataFrame,
      keys: Seq[String],
      tsCol: String,
      valueCol: String,
      maxAge: String): DataFrame = {
    val labelCols = labels.columns
    // the carried timestamp must travel WITH the value: `last(__v,
    // ignoreNulls)` skips null-valued history rows, so a null-valued
    // row newer than a real write must not advance __vts either —
    // otherwise the staleness gate checks the null row's timestamp
    // while __vLast still carries the older value
    val h = history.select(
      keys.map(col) ++ Seq(col(tsCol), lit(0).as("__is_label"),
        col(valueCol).as("__v"),
        when(col(valueCol).isNotNull, col(tsCol)).as("__vts")) ++
        labelCols.filterNot(c => keys.contains(c) || c == tsCol)
          .map(c => lit(null).cast(labels.schema(c).dataType).as(c)): _*)
    val l = labels.select(
      keys.map(col) ++ Seq(col(tsCol), lit(1).as("__is_label"),
        lit(null).cast(history.schema(valueCol).dataType).as("__v"),
        lit(null).cast(history.schema(tsCol).dataType).as("__vts")) ++
        labelCols.filterNot(c => keys.contains(c) || c == tsCol).map(col): _*)
    val w = Window.partitionBy(keys.map(col): _*)
      .orderBy(col(tsCol).asc, col("__is_label").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    h.unionByName(l)
      .withColumn("__vLast", last(col("__v"), ignoreNulls = true).over(w))
      .withColumn("__vtsLast", last(col("__vts"), ignoreNulls = true).over(w))
      .filter(col("__is_label") === 1)
      .withColumn(valueCol,
        when(col("__vtsLast") >= col(tsCol) - expr(s"INTERVAL $maxAge"),
          col("__vLast")))
      .select(labelCols.map(col) :+ col(valueCol): _*)
  }

  /** Materialize trailing-window aggregate features per entity as of a
    * fixed instant: for each window of `windowsDays`, the count and sum
    * of `valueCol` over `(asOf - window, asOf]`. One conditional-
    * aggregation pass; emits one row per entity with
    * `cnt_{d}d` / `sum_{d}d` columns (the FG shape
    * [[FeatureStore.upsert]] persists).
    */
  def aggregateFeatures(
      events: DataFrame,
      keys: Seq[String],
      tsCol: String,
      valueCol: String,
      asOf: Column,
      windowsDays: Seq[Int]): DataFrame = {
    val aggs = windowsDays.flatMap { d =>
      val in = col(tsCol) > asOf - expr(s"INTERVAL $d DAYS") &&
        col(tsCol) <= asOf
      Seq(
        count(when(in, lit(1))).as(s"cnt_${d}d"),
        graft.OracleMath.xsum(when(in, col(valueCol))).as(s"sum_${d}d"))
    }
    events.groupBy(keys.map(col): _*).agg(aggs.head, aggs.tail: _*)
  }

  /** Concat-and-chunk sequence packing — the pretraining data layout
    * that concatenates documents on one token axis and cuts the axis
    * into fixed `blockTokens` training sequences. A document spans every
    * block its token interval `[start, start+len)` touches; emits one
    * row per (document, block) with the tokens that document
    * contributes to that block (`block_id`, `tok_in_block`).
    *
    * == Scale ==
    * The only global coordination is the prefix sum of token counts in
    * `orderCol` order — [[PrefixSum.inclusive]], one range shuffle, no
    * single-partition window, no sequential scan. Block assignment is
    * then pure per-row arithmetic + an explode whose fan-out is
    * `ceil(len / blockTokens) + 1` (documents rarely straddle more than
    * two blocks). Works unchanged at any corpus size.
    */
  def packSequences(
      docs: DataFrame,
      orderCol: String,
      tokens: Column,
      blockTokens: Int): DataFrame = {
    require(blockTokens > 0, "blockTokens must be positive")
    val staged = docs.select(col(orderCol), tokens.cast("long").as("__tok"))
      .filter(col("__tok") > 0)
    val cum = PrefixSum.inclusive(staged, orderCol, "__tok", "__end")
      .withColumn("__start", col("__end") - col("__tok"))
    // `div` keeps the block math in exact integer arithmetic (a double
    // division would round above 2^53 total tokens)
    cum.select(col(orderCol), col("__tok"), col("__start"), col("__end"),
        explode(sequence(expr(s"__start div $blockTokens"),
          expr(s"(__end - 1) div $blockTokens"))).as("block_id"))
      .select(col(orderCol), col("block_id"),
        (least(col("__end"), (col("block_id") + 1) * blockTokens) -
          greatest(col("__start"), col("block_id") * blockTokens))
          .as("tok_in_block"))
  }

  /** Rolling-frame sequence features per entity: for each event, the
    * trailing `frameRows`-event count/sum/mean of `valueCol` (frame
    * `ROWS BETWEEN frameRows-1 PRECEDING AND CURRENT ROW` in
    * (tsCol, tieCol) order) plus the next event's value as the
    * supervised label (`lead`). The feature shape sequence models
    * train on — and the frame-spec window surface the reference lacks
    * (SURVEY §2.5 "no frame-spec windows").
    *
    * Frame sums ride the [[graft.OracleMath]] decimal carrier, so a
    * frame's sum is the same on any engine despite float
    * order-sensitivity. ONE shuffle on the entity key; count, sum and
    * lead all share the same window partitioning.
    */
  def rollingFeatures(
      events: DataFrame,
      keys: Seq[String],
      tsCol: String,
      tieCol: String,
      valueCol: String,
      frameRows: Int,
      scale: Int = 6): DataFrame = {
    require(frameRows > 0, "frameRows must be positive")
    val ord = Window.partitionBy(keys.map(col): _*)
      .orderBy(col(tsCol).asc, col(tieCol).asc)
    val frame = ord.rowsBetween(-(frameRows - 1), Window.currentRow)
    val decSum = sum(round(col(valueCol), scale)
      .cast(org.apache.spark.sql.types.DecimalType(38, scale))).over(frame)
    events.select(keys.map(col) ++ Seq(col(tsCol), col(tieCol),
      col(valueCol)): _*)
      .withColumn("frame_n", count(col(valueCol)).over(frame))
      .withColumn("frame_sum", decSum.cast("double"))
      .withColumn("frame_avg", decSum.cast("double") / col("frame_n"))
      .withColumn("next_value", lead(col(valueCol), 1).over(ord))
  }

  /** Deterministic global shuffle + shard assignment (the export step
    * before training: rows land in pseudo-random order across
    * fixed-size shards, reproducibly). Order key = (31-bit md5 hash of
    * the id, id) as a COMPOSITE sort key — the id tie-break survives
    * hash collisions and, unlike packing both into one long
    * (hash·2^32 + id overflows once id ≥ 2^32), stays a total order
    * for every id domain; the global rank comes from the range-
    * partitioned prefix sum ([[PrefixSum.inclusiveBy]]) — NO single-
    * partition window anywhere, so the construction survives any
    * corpus size. */
  def shard(df: DataFrame, idCol: String, rowsPerShard: Long): DataFrame = {
    require(rowsPerShard > 0, "rowsPerShard must be positive")
    val h = pmod(graft.functions.Hashing
      .md5Hash32(col(idCol).cast("string"), 0), lit(2147483648L))
    val rn = col("__rank") - 1
    PrefixSum.inclusiveBy(
        df.withColumn("__h", h).withColumn("__one", lit(1L)),
        Seq(col("__h"), col(idCol)), "__one", "__rank")
      .withColumn("shard_id", floor(rn / rowsPerShard).cast("int"))
      .withColumn("shard_offset", (rn % rowsPerShard).cast("int"))
      .drop("__h", "__one", "__rank")
  }

  /** Next-token training pairs from encoded id sequences (the
    * `(input_id, label_id)` supervision a causal-LM data pipeline
    * emits from vocab-id sequences): position `p`
    * pairs `ids[p]` with `ids[p+1]`; the final token has no label and
    * emits nothing. Output: `(idCol, pos, input_id, label_id)` with
    * `pos` 0-based.
    *
    * Array-side zip of the sequence with its own 1-shift — a pure
    * per-row projection, NO window and NO shuffle (the lead() trick
    * would re-shuffle the corpus on `idCol` for values that are
    * already adjacent in the array). */
  def nextTokenPairs(
      encoded: DataFrame,
      idCol: String = "doc_id",
      idsCol: String = "ids"): DataFrame = {
    val n1 = greatest(size(col(idsCol)) - 1, lit(0))
    encoded
      .select(col(idCol),
        posexplode(zip_with(
          slice(col(idsCol), lit(1), n1),
          slice(col(idsCol), lit(2), n1),
          (a, b) => struct(a.as("input_id"), b.as("label_id"))))
          .as(Seq("pos", "__p")))
      .select(col(idCol), col("pos"),
        col("__p.input_id").as("input_id"),
        col("__p.label_id").as("label_id"))
  }

  /** Equal-width feature histogram with per-bin label statistics — the
    * split-finding summary a gradient-boosting trainer consumes
    * (LightGBM's histogram algorithm, Ke et al. NeurIPS'17): bin
    * counts + label sums are sufficient statistics for every candidate
    * split of the feature. Also the monotonicity / signal-shape audit
    * for a feature before training. Nulls are excluded; the top bin is
    * closed (`x = max` lands in bin `nBins−1`); a constant feature
    * collapses to bin 0.
    *
    * Determinism: the bin index is one fixed IEEE expression
    * (`min(⌊(x−min)/w⌋, nBins−1)`) over exact min/max; counts and 0/1
    * label sums are exact longs; `pos_rate` is one division.
    *
    * == Scale ==
    * Two scans (min/max, then binning — the classic two-pass
    * histogram); the one-row range broadcasts, and the only shuffle
    * carries ≤nBins rows. Output:
    * `(bin, lo, hi, n, n_pos, pos_rate)`. */
  def featureHistogram(
      df: DataFrame,
      featureCol: String,
      labelCol: String,
      nBins: Int): DataFrame = {
    require(nBins >= 1, s"nBins must be >= 1, got $nBins")
    val pts = df.filter(col(featureCol).isNotNull)
      .select(col(featureCol).cast("double").as("__x"),
        col(labelCol).cast("long").as("__y"))
    val range = pts.agg(min(col("__x")).as("__mn"), max(col("__x")).as("__mx"))
    val w = (col("__mx") - col("__mn")) / lit(nBins.toDouble)
    pts.crossJoin(broadcast(range))
      .withColumn("bin",
        when(col("__mx") === col("__mn"), 0L)
          .otherwise(least(floor((col("__x") - col("__mn")) / w),
            lit((nBins - 1).toLong))))
      .groupBy(col("bin"))
      .agg(max(col("__mn")).as("__mn"), max(col("__mx")).as("__mx"),
        count(lit(1)).as("n"), sum(col("__y")).as("n_pos"))
      .select(col("bin"),
        (col("__mn") + col("bin").cast("double") *
          ((col("__mx") - col("__mn")) / lit(nBins.toDouble))).as("lo"),
        (col("__mn") + (col("bin") + lit(1L)).cast("double") *
          ((col("__mx") - col("__mn")) / lit(nBins.toDouble))).as("hi"),
        col("n"), col("n_pos"),
        (col("n_pos").cast("double") / col("n").cast("double"))
          .as("pos_rate"))
  }

  /** Equal-COUNT (equi-depth) feature histogram — [[featureHistogram]]'s
    * companion for skewed features, where equal-width bins dump
    * everything into one bucket: bin `b` holds rows whose global rank
    * `r` (by value, id tiebreak) satisfies `(r−1)·nBins div n = b`, so
    * bins differ in population by at most one row. All bucketing is
    * exact integer arithmetic on micro-staged values — no float
    * boundary, engine- and partition-independent.
    *
    * == Scale ==
    * The global rank rides [[PrefixSum.inclusiveBy]]'s
    * range-partitioned scan (never a single-partition ROW_NUMBER);
    * one ≤nBins-row shuffle aggregates the stats. Output:
    * `(bin, n, n_pos, lo, hi, pos_rate)` with lo/hi the bin's actual
    * value range. */
  def equiDepthHistogram(
      df: DataFrame,
      featureCol: String,
      labelCol: String,
      idCol: String,
      nBins: Int): DataFrame = {
    require(nBins >= 1, s"nBins must be >= 1, got $nBins")
    val staged = df.filter(col(featureCol).isNotNull)
      .select(
        round(col(featureCol).cast("double") * 1e6).cast("long").as("__xm"),
        col(idCol).as("__id"), col(labelCol).cast("long").as("__y"))
      .withColumn("__one", lit(1L))
    val ranked = PrefixSum.inclusiveBy(staged,
      Seq(col("__xm").asc, col("__id").asc), "__one", "__r")
    val tot = ranked.agg(max(col("__r")).as("__n"))
    ranked.crossJoin(broadcast(tot))
      .withColumn("bin", expr(s"((__r - 1) * $nBins) div __n"))
      .groupBy(col("bin"))
      .agg(count(lit(1)).as("n"), sum(col("__y")).as("n_pos"),
        min(col("__xm")).as("__lo"), max(col("__xm")).as("__hi"))
      .select(col("bin"), col("n"), col("n_pos"),
        (col("__lo").cast("double") / 1e6).as("lo"),
        (col("__hi").cast("double") / 1e6).as("hi"),
        (col("n_pos").cast("double") / col("n").cast("double"))
          .as("pos_rate"))
  }

  /** Weight-of-evidence / information-value table over
    * [[equiDepthHistogram]]'s equal-count bins — the credit-scoring
    * predictiveness audit (Siddiqi's rule of thumb: total IV < 0.02
    * useless, > 0.5 suspicious/leaky). `WOE = ln((pos_b/T⁺)/(neg_b/
    * T⁻))` per bin, micro-nat rounded; `iv_term = (pos_b/T⁺ −
    * neg_b/T⁻)·WOE`, so Σ iv_term = IV. Bins with a zero side get
    * null WOE (no smoothing hidden in the numbers).
    *
    * == Scale ==
    * [[equiDepthHistogram]]'s prefix-sum build + a one-row total
    * broadcast over the ≤nBins rows. Output:
    * `(bin, n, n_pos, n_neg, lo, hi, woe, iv_term)`. */
  def weightOfEvidence(
      df: DataFrame,
      featureCol: String,
      labelCol: String,
      idCol: String,
      nBins: Int): DataFrame = {
    val bins = equiDepthHistogram(df, featureCol, labelCol, idCol, nBins)
      .withColumn("n_neg", col("n") - col("n_pos"))
    val tot = bins.agg(sum(col("n_pos")).as("__tp"),
      sum(col("n_neg")).as("__tn"))
    val dp = col("n_pos").cast("double") / col("__tp").cast("double")
    val dn = col("n_neg").cast("double") / col("__tn").cast("double")
    bins.crossJoin(broadcast(tot))
      .withColumn("woe",
        when(col("n_pos") > 0L && col("n_neg") > 0L,
          round(log(dp / dn) * 1e6).cast("long").cast("double") / 1e6))
      .withColumn("iv_term", (dp - dn) * col("woe"))
      .select(col("bin"), col("n"), col("n_pos"), col("n_neg"),
        col("lo"), col("hi"), col("woe"), col("iv_term"))
  }

  /** Padding-waste audit for fixed-size training batches: compare
    * arrival-order batching against length-sorted batching on the
    * SAME documents — per strategy, total real tokens vs padded
    * tokens (`batch_size · batch_max`, ragged tail at actual count)
    * and the waste fraction. The measured version of "length
    * bucketing buys you X% step throughput".
    *
    * Ranks come from [[PrefixSum.inclusiveBy]] over ones (the
    * range-partitioned global rank — no single-partition window), so
    * batch assignment `rank div batchSize` scales; everything after
    * is a per-batch aggregate. */
  def paddingWasteAudit(docs: DataFrame, idCol: String, textCol: String,
      batchSize: Int): DataFrame = {
    import graft.functions.TextFunctions
    val lens = docs.select(col(idCol).as("__id"),
      TextFunctions.tokenCount(col(textCol)).cast("long").as("__len"))
      .withColumn("__one", lit(1L))
      .localCheckpoint() // feeds both strategy lineages
    def strategy(name: String, order: Seq[org.apache.spark.sql.Column])
        : DataFrame =
      PrefixSum.inclusiveBy(lens, order, "__one", "__rank")
        .withColumn("__batch", expr(s"(__rank - 1) div $batchSize"))
        .groupBy(col("__batch"))
        .agg(count(lit(1)).as("__nb"), max(col("__len")).as("__mx"),
          sum(col("__len")).as("__tok"))
        .agg(count(lit(1)).as("n_batches"),
          sum(col("__tok")).as("total_tokens"),
          sum(col("__nb") * col("__mx")).as("padded_tokens"))
        .select(lit(name).as("strategy"), col("n_batches"),
          col("total_tokens"), col("padded_tokens"),
          (col("padded_tokens") - col("total_tokens")).as("waste_tokens"),
          round((col("padded_tokens") - col("total_tokens")).cast("double")
            / col("padded_tokens").cast("double"), 6).as("waste_frac"))
    strategy("arrival", Seq(col("__id").asc))
      .unionByName(strategy("length_sorted",
        Seq(col("__len").asc, col("__id").asc)))
  }
}
