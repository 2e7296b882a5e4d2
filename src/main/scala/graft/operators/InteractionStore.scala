package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DateType

/** Time-series interaction store: weekly event-time bucketing, bounded
  * per-bucket retention, descending time-range retrieval.
  *
  * Re-expresses the reference's interaction-store semantics
  * (`interaction-store/internal/handler/persist/click.go:127-183` merge/
  * sort/cap, `retrieve/click.go:63-93,239-263` newest-first merge with
  * early limit, `retrieve/retrieve.go:22-43` range validation) on true
  * event-time partitions instead of the 24-slot ring buffer: the ring's
  * mod-24 reuse and stale-slot clearing are storage artifacts; the API
  * surface they implement — "events retrievable for the last 24 weeks,
  * ≤500 kept per (user, week), newest first, ≤2000 returned" — maps to
  * window ranking + retention predicates.
  *
  * == Scale design ==
  * Retention and retrieval shuffle once on (user, week) / user — the
  * store's natural key. Event tables at 100 TB should be written
  * partitioned by week (`partitionBy(weekCol)`), which turns the time-
  * range predicate into partition pruning; the per-user rank never sees
  * more than `cap × weeks` rows per user after pushdown. Skewed hot
  * users re-split via AQE skew-join/partition handling.
  */
object InteractionStore {

  val MaxRetrieveLimit = 2000     // constants.go:20
  val MaxEventsPerWeek = 500      // constants.go:22-25
  val MaxRangeWeeks    = 24       // 24 weekly buckets, README.md:7

  /** Monday-start event-time week bucket (F10/ST5). */
  def week(ts: Column): Column = date_trunc("week", ts).cast("date")

  /** Absolute epoch week index (ms / week-ms). */
  def weekIndex(ts: Column): Column =
    floor(unix_millis(ts) / lit(604800000L)).cast("long")

  /** The reference's mod-24 ring slot for a timestamp
    * (`utils.WeekFromTimestampMs`, interaction-store/internal/utils/
    * utils.go; F10). The ring is a storage artifact — we expose it as a
    * derivable column, while real retention uses [[retention]]. */
  def ringWeek(ts: Column, slots: Int = MaxRangeWeeks): Column =
    weekIndex(ts) % slots

  /** ST6 horizon retention: drop events `horizonWeeks` or more weeks
    * older than the same user's newest event — the declarative twin of
    * the ring buffer's stale-slot clearing (`mergeAndTrimEvents`,
    * persist/click.go:165-172: an incoming event ≥24 weeks newer than a
    * stored week wipes that slot). One shuffle on the user key; at
    * scale this runs as a partition-pruned anti-age filter during
    * compaction rather than a standing query. */
  def retention(
      events: DataFrame,
      horizonWeeks: Int = MaxRangeWeeks,
      userCol: String = "user_id",
      tsCol: String = "ts"): DataFrame = {
    val w = Window.partitionBy(col(userCol))
    events
      .withColumn("__maxw", max(weekIndex(col(tsCol))).over(w))
      .filter(col("__maxw") - weekIndex(col(tsCol)) < horizonWeeks)
      .drop("__maxw")
  }

  /** Per-(user, week) bounded retention: keep the newest `cap` events,
    * ties broken by `tieBreak` ascending for determinism (A1/O1/O2).
    *
    * `salt > 1` adds a pre-aggregation pass for skewed keys: a hot
    * (user, week) holding millions of events first takes a per-salt
    * top-`cap` across `salt` parallel tasks, so the final rank sees at
    * most `salt × cap` rows per key instead of the raw count. The
    * two-phase result is exactly the unsalted result (the global
    * top-cap is contained in the union of per-salt top-caps) —
    * property-tested in PropertySpec. AQE skew handling covers joins;
    * this covers the window rank, which AQE cannot split.
    */
  def mergeCap(
      events: DataFrame,
      userCol: String = "user_id",
      tsCol: String = "ts",
      tieBreak: String = "event_id",
      cap: Int = MaxEventsPerWeek,
      salt: Int = 1): DataFrame = {
    val pre =
      if (salt <= 1) events
      else {
        val wS = Window
          .partitionBy(col(userCol), week(col(tsCol)),
            pmod(xxhash64(col(tieBreak)), lit(salt)))
          .orderBy(col(tsCol).desc, col(tieBreak).asc)
        events.withColumn("__srn", row_number().over(wS))
          .filter(col("__srn") <= cap).drop("__srn")
      }
    val w = Window.partitionBy(col(userCol), week(col(tsCol)))
      .orderBy(col(tsCol).desc, col(tieBreak).asc)
    pre.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") <= cap)
      .drop("__rn")
  }

  /** Events per (user, week) — the metadata table twin (A2). */
  def weekCounts(
      events: DataFrame,
      userCol: String = "user_id",
      tsCol: String = "ts"): DataFrame =
    events.groupBy(col(userCol), week(col(tsCol)).as("week"))
      .agg(count(lit(1)).as("n_events"))

  /** Validate a retrieval range (P6: start ≤ end, span ≤ 24 weeks,
    * positive limit; limit capped at 2000, O3). */
  def validateRange(startMs: Long, endMs: Long, limit: Int): Int = {
    require(limit > 0, "limit must be positive")
    require(startMs <= endMs, "start must be <= end")
    require(endMs - startMs <= MaxRangeWeeks * 7L * 86400000L,
      s"range exceeds $MaxRangeWeeks weeks")
    math.min(limit, MaxRetrieveLimit)
  }

  /** Time-range retrieval: filter to [start, end], newest-first per
    * user, at most `limit` events each (W1/O1/O3/P6). `types` narrows
    * event types (click/order twin services, J5).
    *
    * When `events` scans a file relation partitioned by a date-typed
    * `week` column (the [[graft.sources.Layout.writeWeekPartitionedEvents]]
    * layout), the range also bounds `week`, so only the touched week
    * directories are listed and read. The bound is widened by one week
    * on each side: week buckets are cut in the WRITER's session time
    * zone and `start`/`end` are truncated in the reader's, and two time
    * zones place an instant at most one week boundary apart.
    */
  def retrieveRange(
      events: DataFrame,
      start: Column,
      end: Column,
      limit: Int,
      types: Seq[String] = Nil,
      userCol: String = "user_id",
      tsCol: String = "ts",
      tieBreak: String = "event_id"): DataFrame = {
    val capped = math.min(limit, MaxRetrieveLimit)
    val pruned = weekPartition(events).fold(events)(w => events.filter(
      w.between(date_sub(week(start), 7), date_add(week(end), 7))))
    val ranged = pruned.filter(col(tsCol).between(start, end))
    val typed = if (types.isEmpty) ranged
                else ranged.filter(col("event_type").isin(types: _*))
    val w = Window.partitionBy(col(userCol))
      .orderBy(col(tsCol).desc, col(tieBreak).asc)
    typed.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= capped)
  }

  /** `events`' `week` column when it is a date-typed partition column
    * of a file relation `events` reads, passed through unchanged. */
  private def weekPartition(events: DataFrame): Option[Column] = {
    val plan = events.queryExecution.analyzed
    plan.output.find(a => a.name == "week" && a.dataType == DateType).filter { w =>
      plan.exists {
        case r: LogicalRelation => r.relation match {
          case fs: HadoopFsRelation =>
            fs.partitionSchema.fieldNames.contains(w.name) && r.output.exists(_.exprId == w.exprId)
          case _ => false
        }
        case _ => false
      }
    }.map(w => col(w.name))
  }

  /** Click ∪ order side-by-side retrieval (J5/SO2): both event classes
    * fetched and union-tagged; parallelism is free in Spark. */
  def unionTyped(
      events: DataFrame,
      classes: Map[String, Seq[String]]): DataFrame =
    classes.map { case (tag, types) =>
      events.filter(col("event_type").isin(types: _*))
        .withColumn("event_class", lit(tag))
    }.reduce(_.unionByName(_))

  /** Banded interval join: pairs each left event with the same key's
    * right events whose timestamp falls in `[left.ts, left.ts +
    * horizon]` (click→conversion attribution, exposure windows).
    *
    * A naive range join is a per-key cross product; Spark would plan a
    * broadcast-nested-loop at scale. Banding makes it an EQUI join:
    * both sides bucket by `horizon`-sized time bands, each left event
    * additionally probes the next band (an interval of length h spans
    * at most two h-sized bands), and the exact interval predicate
    * filters inside the join — fan-out is a hard 2×, the shape that
    * survives a 100× scale-up.
    */
  def intervalJoin(
      left: DataFrame,
      right: DataFrame,
      keys: Seq[String],
      horizon: String,
      leftTs: String = "ts",
      rightTs: String = "ts"): DataFrame = {
    val horizonMs = expr(s"INTERVAL $horizon")
    val bandMs = {
      // band length = horizon in millis, computed plan-side
      val iv = org.apache.spark.sql.catalyst.util.IntervalUtils
        .stringToInterval(org.apache.spark.unsafe.types.UTF8String.fromString(horizon))
      require(iv.months == 0, "horizon must be a fixed-length interval")
      iv.days * 86400000L + iv.microseconds / 1000L
    }
    require(bandMs > 0, "horizon must be positive")
    val l = left
      .withColumn("__off", explode(array(lit(0L), lit(1L))))
      .withColumn("__band",
        col("__off") + (unix_millis(col(leftTs)) / bandMs).cast("long"))
      .drop("__off")
    val r = right.withColumn("__band",
      (unix_millis(col(rightTs)) / bandMs).cast("long"))
    l.join(r, keys :+ "__band")
      .filter(r(rightTs).between(l(leftTs), l(leftTs) + horizonMs))
      .drop("__band")
  }

  /** Gap-based sessionization: a new session starts when the gap to
    * the user's previous event exceeds `gap` (e.g. "3 days"). One
    * window pass per user in event-time order (tiebreak on
    * `orderTiebreak` for determinism); `session_idx` is the running
    * count of session starts — the standard lag-gap/cumulative-sum
    * shape, one shuffle on the user key. */
  def sessionize(
      events: DataFrame,
      gap: String,
      userCol: String = "user_id",
      tsCol: String = "ts",
      orderTiebreak: String = "event_id"): DataFrame = {
    val w = Window.partitionBy(col(userCol))
      .orderBy(col(tsCol).asc, col(orderTiebreak).asc)
    val prev = lag(col(tsCol), 1).over(w)
    val newSession = when(
      prev.isNull || col(tsCol) > prev + expr(s"INTERVAL $gap"), 1L)
      .otherwise(0L)
    events.withColumn("session_idx",
      sum(newSession).over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
  }

  /** Hourly resample with forward fill: one row per user per hour from
    * the user's first to last event, carrying `n_events` (0 on gap
    * hours) and the running last observed hourly value. The regular
    * time grid a feature-freshness monitor or a downstream
    * equal-spaced model (forecasting, uplift) needs from the raggedly
    * sampled event stream.
    *
    * Hours are epoch-hour longs and values stage as micro-unit longs
    * (the repo's exact-compare convention) — the fill is a pure
    * integer carry, bit-identical on any engine. Everything — the
    * hourly pre-aggregate, the per-user bounds, the grid explode, the
    * fill window — partitions on the user key alone: ONE shuffle
    * lineage, no global window. Grid width is bounded by the store's
    * retention horizon (24 weeks ≈ 4k hours/user), so the explode
    * fan-out is a constant factor, not a scale risk. */
  def resampleHourlyFill(
      events: DataFrame,
      userCol: String = "user_id",
      tsCol: String = "ts",
      valueCol: String = "value"): DataFrame = {
    val hourly = events
      .groupBy(col(userCol),
        floor(unix_millis(col(tsCol)) / lit(3600000L)).as("hour_epoch"))
      .agg(count(lit(1)).as("n_events"),
        sum(floor(col(valueCol) * 1e6).cast("long")).as("__vm"))
    val grid = hourly
      .groupBy(col(userCol))
      .agg(min(col("hour_epoch")).as("__mn"), max(col("hour_epoch")).as("__mx"))
      .select(col(userCol),
        explode(sequence(col("__mn"), col("__mx"))).as("hour_epoch"))
    val w = Window.partitionBy(col(userCol))
      .orderBy(col("hour_epoch").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    grid.join(hourly, Seq(userCol, "hour_epoch"), "left")
      .select(col(userCol), col("hour_epoch"),
        coalesce(col("n_events"), lit(0L)).as("n_events"),
        last(col("__vm"), ignoreNulls = true).over(w).as("value_micro_filled"))
  }

  /** Engagement summary over [[sessionize]]'s sessions: bounce rate
    * (1-event sessions), mean session depth, and mean duration — the
    * product-health numbers a session table exists to answer.
    * Durations are exact epoch-milli differences; the three means are
    * one division each over exact longs, so the single summary row is
    * engine- and partition-exact.
    *
    * == Scale ==
    * [[sessionize]]'s one user-key window shuffle, then a (user,
    * session) aggregate on the SAME key prefix (no second exchange
    * lineage), then a one-row global reduce. Output:
    * `(n_sessions, n_events, n_bounce, bounce_rate, mean_depth,
    * mean_duration_sec)`. */
  def sessionStats(
      events: DataFrame,
      gap: String,
      userCol: String = "user_id",
      tsCol: String = "ts",
      orderTiebreak: String = "event_id"): DataFrame = {
    val sess = sessionize(events, gap, userCol, tsCol, orderTiebreak)
    val perSession = sess
      .groupBy(col(userCol), col("session_idx"))
      .agg(count(lit(1)).as("__n"),
        (unix_millis(max(col(tsCol))) - unix_millis(min(col(tsCol))))
          .as("__dur_ms"))
    perSession.agg(
        count(lit(1)).as("n_sessions"),
        sum(col("__n")).as("n_events"),
        sum((col("__n") === 1L).cast("long")).as("n_bounce"),
        sum(col("__dur_ms")).as("__dur_total"))
      .select(col("n_sessions"), col("n_events"), col("n_bounce"),
        (col("n_bounce").cast("double") / col("n_sessions").cast("double"))
          .as("bounce_rate"),
        (col("n_events").cast("double") / col("n_sessions").cast("double"))
          .as("mean_depth"),
        (col("__dur_total").cast("double") /
          col("n_sessions").cast("double") / 1000.0)
          .as("mean_duration_sec"))
  }

  /** Hourly OHLC resample of a per-key value stream: open/high/low/
    * close + count per (key, hour) — the candlestick compaction that
    * turns a raggedly-sampled metric stream into a fixed-rate series
    * a monitor or forecaster can consume, losing extremes to no
    * bucket. Open/close pick by (event-time, tiebreak) — exact
    * argmin/argmax via ONE min/max over (ts, tie, value) structs, no
    * per-bucket sort.
    *
    * == Scale ==
    * One shuffle on (key, hour); every statistic is a partial-merge
    * aggregate (map-side combined). Values stage as micro-unit longs.
    * Output: `(userCol, hour_epoch, n, open, high, low, close)`. */
  def ohlcResample(
      events: DataFrame,
      userCol: String = "user_id",
      tsCol: String = "ts",
      tieCol: String = "event_id",
      valueCol: String = "value"): DataFrame = {
    val vm = round(col(valueCol).cast("double") * 1e6).cast("long")
    val tsm = unix_millis(col(tsCol))
    val staged = events.filter(col(valueCol).isNotNull)
      .select(col(userCol),
        expr(s"unix_millis($tsCol) div 3600000").as("hour_epoch"),
        struct(tsm.as("t"), col(tieCol).cast("long").as("k"),
          vm.as("v")).as("__s"),
        vm.as("__vm"))
    staged.groupBy(col(userCol), col("hour_epoch"))
      .agg(count(lit(1)).as("n"),
        min(col("__s")).as("__first"), max(col("__s")).as("__last"),
        max(col("__vm")).as("__hi"), min(col("__vm")).as("__lo"))
      .select(col(userCol), col("hour_epoch"), col("n"),
        (col("__first.v").cast("double") / 1e6).as("open"),
        (col("__hi").cast("double") / 1e6).as("high"),
        (col("__lo").cast("double") / 1e6).as("low"),
        (col("__last.v").cast("double") / 1e6).as("close"))
  }

  /** Per-user inter-arrival statistics with the burstiness
    * coefficient `B = (cv − 1)/(cv + 1)` (Goh & Barabási, EPL 2008):
    * B → −1 periodic, 0 Poisson, → +1 bursty — the bot/human
    * behavioral separator (humans are bursty; schedulers are
    * periodic; simple bots are Poisson-ish). Gaps are exact epoch-ms
    * integers; mean/std come from integer sums with one fixed IEEE
    * chain (population std), null when fewer than 2 gaps or zero
    * variance denominator.
    *
    * == Scale ==
    * One user-keyed window (the lag), one per-user aggregate — the
    * [[sessionize]] shuffle lineage. Output:
    * `(userCol, n_gaps, mean_gap_sec, std_gap_sec, burstiness)`. */
  def interArrivalStats(
      events: DataFrame,
      userCol: String = "user_id",
      tsCol: String = "ts",
      orderTiebreak: String = "event_id"): DataFrame = {
    val w = Window.partitionBy(col(userCol))
      .orderBy(col(tsCol).asc, col(orderTiebreak).asc)
    // gaps in whole seconds; squares ride decimals (a month-long gap
    // squared in ms would sit at the long-overflow edge)
    val dec = org.apache.spark.sql.types.DecimalType(38, 0)
    val gaps = events
      .withColumn("__gapms",
        unix_millis(col(tsCol)) -
          unix_millis(lag(col(tsCol), 1).over(w)))
      .withColumn("__gap", expr("__gapms div 1000"))
      .filter(col("__gap").isNotNull)
    val n = col("n_gaps").cast("double")
    val s1 = col("__s").cast("double")
    val s2 = col("__ss")
    val mean = s1 / n
    val variance = (n * s2 - s1 * s1) / (n * n)
    gaps.groupBy(col(userCol))
      .agg(count(lit(1)).as("n_gaps"),
        sum(col("__gap")).as("__s"),
        sum(col("__gap").cast(dec) * col("__gap").cast(dec))
          .cast("double").as("__ss"))
      .withColumn("mean_gap_sec", when(col("n_gaps") >= 2L, mean))
      .withColumn("std_gap_sec",
        when(col("n_gaps") >= 2L && variance > 0.0, sqrt(variance)))
      .withColumn("burstiness",
        when(col("std_gap_sec").isNotNull && col("mean_gap_sec") > 0.0,
          (sqrt(variance) - mean) / (sqrt(variance) + mean)))
      .drop("__s", "__ss")
  }

  /** DAU / trailing-WAU curve with the stickiness ratio — the
    * product-engagement headline (DAU/WAU ≈ how many of the week's
    * users show up on a given day). Rolling DISTINCT counts don't
    * window-sum (the same user on two days is one weekly active), so
    * each (user, active-day) presence fans out row-locally to the
    * `windowDays` calendar days it keeps the user active for, and one
    * distinct count per day does the rest — exact, no sketch, and the
    * fan-out is a constant factor, never a cross-day shuffle chain.
    * Days before the data's first full window are reported as-is
    * (their WAU window is truncated by data start, as in any real
    * dashboard).
    *
    * == Scale ==
    * One (user, day) distinct shuffle, a ×windowDays row-local
    * explode, one per-day distinct aggregate. Output:
    * `(day_epoch, dau, wau, stickiness)` for days with DAU > 0. */
  def activeUserCurve(
      events: DataFrame,
      windowDays: Int = 7,
      userCol: String = "user_id",
      tsCol: String = "ts"): DataFrame = {
    require(windowDays >= 1, s"windowDays must be >= 1, got $windowDays")
    val presence = events
      .select(col(userCol),
        expr(s"unix_millis($tsCol) div 86400000").as("__day"))
      .distinct()
    val dau = presence.groupBy(col("__day"))
      .agg(count(lit(1)).as("dau"))
    val wau = presence
      .select(col(userCol),
        explode(sequence(col("__day"),
          col("__day") + lit((windowDays - 1).toLong))).as("__day"))
      .distinct()
      .groupBy(col("__day")).agg(count(lit(1)).as("wau"))
    dau.join(wau, Seq("__day"))
      .select(col("__day").as("day_epoch"), col("dau"), col("wau"),
        (col("dau").cast("double") / col("wau").cast("double"))
          .as("stickiness"))
  }

  /** Point-in-time sliding-window features at event granularity: for
    * every `targetType` event, the count and (micro-exact) value sum
    * of the entity's `featureType` events in the trailing `windowMs`
    * window, current instant excluded — "views in the last 24 h as of
    * each purchase", the leakage-free trailing aggregate a training
    * pipeline attaches to labels.
    *
    * ONE event-time range window over the per-entity union of targets
    * and features does all of it: a single shuffle on the entity key,
    * no interval join, no per-target re-scan. The RANGE frame is
    * anchored on integer epoch-millis, so frame membership is exact
    * tie-inclusive arithmetic in any engine. Window length bounds
    * per-row state, not partition size — skew-safe as long as one
    * entity's history fits a partition (same bound every per-user
    * window op in this store carries). */
  def eventWindowFeatures(events: DataFrame, entityCol: String,
      tsCol: String, targetType: String, featureType: String,
      windowMs: Long): DataFrame = {
    val w = Window.partitionBy(col(entityCol))
      .orderBy(col("__ms").asc)
      .rangeBetween(-windowMs, -1)
    events
      .filter(col("event_type").isin(targetType, featureType))
      .select(col(entityCol), col("event_id"),
        unix_millis(col(tsCol)).as("__ms"), col("event_type"),
        floor(col("value") * 1e6).cast("long").as("__vm"))
      .withColumn("feat_cnt", coalesce(sum(
        when(col("event_type") === featureType, 1L).otherwise(0L)).over(w),
        lit(0L)))
      .withColumn("__feat_vm", coalesce(sum(
        when(col("event_type") === featureType, col("__vm"))
          .otherwise(0L)).over(w), lit(0L)))
      .filter(col("event_type") === targetType)
      .select(col(entityCol), col("event_id"), col("__ms").as("ts_ms"),
        col("feat_cnt"),
        (col("__feat_vm").cast("double") / 1e6).as("feat_val_sum"))
  }
}
