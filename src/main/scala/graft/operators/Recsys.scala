package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.functions.Hashing.md5Hash32

/** Recommender-training data preparation over the interaction log —
  * the feature/label assembly a BharatML-style stack feeds its ranking
  * models from: co-visitation candidate generation, deterministic
  * negative sampling, leave-one-out target encoding, and time-decayed
  * engagement profiles.
  *
  * == Scale design ==
  * Everything is bounded before anything fans out: co-visitation caps
  * items per user BEFORE the per-user pair explosion (quadratic in the
  * cap, never in raw activity), negative sampling explodes a fixed
  * slot budget per user, and both encodings are single aggregation
  * passes whose join-back sides are category- or single-row-sized
  * (broadcast). Label sums ride exact micro-unit longs — the standard
  * fixed-point staging ([[LinAlg.microVec]]) that keeps double results
  * independent of partitioning and merge order.
  */
object Recsys {

  /** Item surrogate carried in the event props JSON (`$.k`). */
  def itemOf(props: Column): Column =
    get_json_object(props, "$.k").cast("long")

  /** Item-item co-visitation counts (classic candidate generation):
    * users' `recentPerUser` most recent distinct items, all within-user
    * pairs `a < b`, counted across users; pairs below `minUsers` drop.
    * The recency cap is what keeps the per-user pair fan-out at
    * `cap²/2` regardless of how active a user is. */
  def covisitation(
      events: DataFrame,
      recentPerUser: Int = 30,
      minUsers: Long = 2): DataFrame =
    covisitationOnItems(
      events
        .select(col("user_id"), itemOf(col("props")).as("item_id"), col("ts"))
        .filter(col("item_id").isNotNull),
      recentPerUser, minUsers)

  /** [[covisitation]] on an already-parsed `(user_id, item_id, ts)`
    * projection — lets callers that need the event stream for other
    * legs too ([[candidateRecallAtK]]) scan and JSON-parse it once. */
  private[operators] def covisitationOnItems(
      items: DataFrame,
      recentPerUser: Int = 30,
      minUsers: Long = 2): DataFrame = {
    val byRecency = Window.partitionBy(col("user_id"))
      .orderBy(col("__last").desc, col("item_id").asc)
    val capped = items
      .groupBy(col("user_id"), col("item_id")).agg(max(col("ts")).as("__last"))
      .withColumn("__rn", row_number().over(byRecency))
      .filter(col("__rn") <= recentPerUser)
      .select(col("user_id"), col("item_id"))
    capped.as("a").join(capped.as("b"),
        col("a.user_id") === col("b.user_id") &&
        col("a.item_id") < col("b.item_id"))
      .select(col("a.item_id").as("item_a"), col("b.item_id").as("item_b"))
      .groupBy(col("item_a"), col("item_b"))
      .agg(count(lit(1)).as("n_users"))
      .filter(col("n_users") >= minUsers)
  }

  /** Session-scoped co-visitation: pairs count per `(user, session)`
    * instead of per user — the intent-window variant (two items seen
    * months apart by the same user are NOT a browsing signal; two
    * items in one session are). Sessions come from
    * [[InteractionStore.sessionize]]'s lag-gap scan; the recency cap
    * applies per session, so the fan-out bound tightens to
    * `cap²/2 · sessions-per-user`, each term tiny. Output:
    * `(item_a, item_b, n_sessions)`. */
  def covisitationBySession(
      events: DataFrame,
      gap: String = "1 day",
      recentPerSession: Int = 30,
      minSessions: Long = 2): DataFrame = {
    val sess = InteractionStore.sessionize(
        events.filter(itemOf(col("props")).isNotNull), gap)
      .select(col("user_id"), col("session_idx"),
        itemOf(col("props")).as("item_id"), col("ts"))
    val byRecency = Window
      .partitionBy(col("user_id"), col("session_idx"))
      .orderBy(col("__last").desc, col("item_id").asc)
    val capped = sess
      .groupBy(col("user_id"), col("session_idx"), col("item_id"))
      .agg(max(col("ts")).as("__last"))
      .withColumn("__rn", row_number().over(byRecency))
      .filter(col("__rn") <= recentPerSession)
      .select(col("user_id"), col("session_idx"), col("item_id"))
    capped.as("a").join(capped.as("b"),
        col("a.user_id") === col("b.user_id") &&
        col("a.session_idx") === col("b.session_idx") &&
        col("a.item_id") < col("b.item_id"))
      .select(col("a.item_id").as("item_a"), col("b.item_id").as("item_b"))
      .groupBy(col("item_a"), col("item_b"))
      .agg(count(lit(1)).as("n_sessions"))
      .filter(col("n_sessions") >= minSessions)
  }

  /** Offline recall@k of the co-visitation candidate generator
    * against observed next-item transitions — the candidate-quality
    * gate a recommender team runs before shipping a new candidate
    * source: of all consecutive item transitions `a → b` (per user,
    * event-time order, `a ≠ b`), what fraction has `b` among `a`'s
    * top-`k` co-visitation neighbors (ranked by co-count desc, id
    * asc)? Output: one row `(n_transitions, n_hits, recall)`.
    *
    * One window pass for the transition list (shuffle on user), the
    * bounded [[covisitation]] fan-out, a per-node top-k rank
    * (`WindowGroupLimit` pushes the cut map-side), and an equi-join of
    * transitions against the k-bounded candidate edges. The single
    * final division is the only float op. */
  def candidateRecallAtK(
      events: DataFrame,
      k: Int = 5,
      recentPerUser: Int = 30,
      minUsers: Long = 2): DataFrame = {
    // ONE parsed projection feeds both legs: the event stream is
    // scanned (and JSON-parsed — the expensive per-row step) once,
    // not once per leg
    val parsed = events
      .select(col("user_id"), col("ts"), col("event_id"),
        itemOf(col("props")).as("__item"))
      .filter(col("__item").isNotNull)
      .localCheckpoint()
    val cov = covisitationOnItems(
      parsed.select(col("user_id"), col("__item").as("item_id"), col("ts")),
      recentPerUser, minUsers)
    val adj = cov
      .select(col("item_a").as("__node"), col("item_b").as("__nbr"),
        col("n_users"))
      .unionByName(cov.select(col("item_b").as("__node"),
        col("item_a").as("__nbr"), col("n_users")))
    val topk = adj
      .withColumn("__rn", row_number().over(
        Window.partitionBy(col("__node"))
          .orderBy(col("n_users").desc, col("__nbr").asc)))
      .filter(col("__rn") <= k)
      .select(col("__node"), col("__nbr"))
    val byTime = Window.partitionBy(col("user_id"))
      .orderBy(col("ts").asc, col("event_id").asc)
    // pre-aggregate transitions to (prev, item, count) BEFORE the
    // candidate join: the join input shrinks from every event to at
    // most |items|² rows, and the final aggregation sums counts
    // instead of streaming event rows — same totals, bit-identical
    // recall
    val transAgg = parsed
      .withColumn("__prev", lag(col("__item"), 1).over(byTime))
      .filter(col("__prev").isNotNull && col("__prev") =!= col("__item"))
      .groupBy(col("__prev"), col("__item"))
      .agg(count(lit(1)).as("__tn"))
    transAgg
      .join(topk, transAgg("__prev") === topk("__node") &&
        transAgg("__item") === topk("__nbr"), "left")
      .agg(coalesce(sum(col("__tn")), lit(0L)).as("n_transitions"),
        coalesce(sum(when(col("__node").isNotNull, col("__tn"))
          .otherwise(0L)), lit(0L)).as("n_hits"))
      .withColumn("recall",
        col("n_hits").cast("double") / col("n_transitions").cast("double"))
  }

  /** Deterministic negative sampling: per user with ≥1 positive
    * (`posType` events), draw `oversample·perUser` pseudo-random item
    * slots (`md5(seed:user:slot) mod nItems` — reproducible in any
    * engine), drop candidates the user actually interacted with
    * (anti-join on the positive set), dedup repeated draws keeping the
    * earliest slot, and keep the first `perUser` survivors in slot
    * order. Output: `(user_id, item_id, rank)`. */
  def negativeSample(
      events: DataFrame,
      posType: String = "click",
      nItems: Int = 100,
      perUser: Int = 4,
      oversample: Int = 8,
      seed: Int = 7): DataFrame = {
    val pos = events.filter(col("event_type") === posType)
      .select(col("user_id"), itemOf(col("props")).as("item_id"))
      .filter(col("item_id").isNotNull)
      .distinct()
    val slots = sequence(lit(0), lit(oversample * perUser - 1))
    val draws = pos.select(col("user_id")).distinct()
      .select(col("user_id"), posexplode(transform(slots, i =>
        pmod(md5Hash32(concat(col("user_id"), lit(":"), i), seed),
          lit(nItems.toLong)))).as(Seq("slot", "item_id")))
    val bySlot = Window.partitionBy(col("user_id")).orderBy(col("slot").asc)
    draws
      .join(pos, Seq("user_id", "item_id"), "left_anti")
      .groupBy(col("user_id"), col("item_id"))
      .agg(min(col("slot")).as("__slot"))
      .withColumn("rank", row_number().over(
        Window.partitionBy(col("user_id")).orderBy(col("__slot").asc)))
      .filter(col("rank") <= perUser)
      .select(col("user_id"), col("item_id"), col("rank"))
  }

  /** Leave-one-out target encoding with additive smoothing: each row's
    * category mean EXCLUDES its own label (no target leakage), shrunk
    * toward the global prior by `alpha` virtual rows:
    * `te = ((Σcat − x) + α·prior) / (cnt − 1 + α)`.
    * Sums are exact micro-unit longs; the one double expression at the
    * end is written identically in the SQL oracle, so the encoding is
    * bit-reproducible. */
  def targetEncodeLoo(
      df: DataFrame,
      catCol: String,
      labelCol: String,
      idCols: Seq[String],
      alpha: Double = 10.0): DataFrame = {
    val micro = floor(col(labelCol).cast("double") * 1e6).cast("long")
    val staged = df.select(
      (idCols :+ catCol).map(col) :+ micro.as("__xm"): _*)
    val catStats = staged.groupBy(col(catCol))
      .agg(sum(col("__xm")).as("__s"), count(lit(1)).as("__c"))
    val global = staged
      .agg(sum(col("__xm")).as("__gs"), count(lit(1)).as("__gc"))
    val prior = col("__gs").cast("double") / col("__gc").cast("double")
    staged
      .join(broadcast(catStats), catCol)
      .crossJoin(broadcast(global))
      .withColumn("te",
        ((col("__s") - col("__xm")).cast("double") + lit(alpha) * prior) /
          ((col("__c") - 1).cast("double") + lit(alpha)) / lit(1e6))
      .select((idCols :+ catCol).map(col) :+ col("te"): _*)
  }

  /** Hashed feature cross (wide-and-deep style): the cross of
    * `cols`' string forms, md5-hashed into `buckets` buckets. Columns
    * join on U+0001 (a byte that can't appear in normal values) so
    * `("a","bc")` and `("ab","c")` cross to different buckets. Pure
    * column expression — codegen'd, engine-portable, no vocabulary to
    * maintain. */
  def hashedCross(cols: Seq[Column], buckets: Int, seed: Int = 0): Column =
    pmod(md5Hash32(concat_ws("\u0001", cols.map(_.cast("string")): _*), seed),
      lit(buckets.toLong))

  /** Next-item-prediction training examples (GRU4Rec/SASRec-style
    * assembly): per user in event-time order, each event with ≥1
    * predecessor becomes `(context = up to contextLen preceding items,
    * label = this item)`. The context is a trailing window frame — one
    * shuffle on user_id, no self-join, output bounded by
    * `contextLen + 1` items per example. Users' first events produce
    * no example (their context frame is empty). */
  def nextItemExamples(events: DataFrame, contextLen: Int = 5): DataFrame = {
    require(contextLen >= 1, s"contextLen must be >= 1, got $contextLen")
    val ord = Window.partitionBy(col("user_id"))
      .orderBy(col("ts").asc, col("event_id").asc)
    events
      .select(col("event_id"), col("user_id"), col("ts"),
        itemOf(col("props")).as("__item"))
      .filter(col("__item").isNotNull)
      .withColumn("context", collect_list(col("__item"))
        .over(ord.rowsBetween(-contextLen, -1)))
      .filter(size(col("context")) >= 1)
      .select(col("user_id"), col("event_id"), col("context"),
        col("__item").as("label"))
  }

  /** Association rules over the co-visitation pairs: support,
    * directed confidence, and lift. `pairs` is [[covisitation]]'s
    * output (undirected, `item_a < item_b`); supports come from the
    * same recency-capped per-user item sets, so the probabilities
    * compose exactly. Emits BOTH directions of each pair with
    * `conf = supp(ab)/supp(a)` and
    * `lift = supp(ab)·N / (supp(a)·supp(b))` where N = #users with
    * ≥1 capped item. All counts exact; two divisions at the end. */
  def associationRules(
      events: DataFrame,
      recentPerUser: Int = 30,
      minUsers: Long = 2): DataFrame = {
    val byRecency = Window.partitionBy(col("user_id"))
      .orderBy(col("__last").desc, col("item_id").asc)
    // pinned: four consumers (both pair-join sides, the unigram
    // support aggregate, the user census) otherwise re-execute the
    // events scan + json extract + recency window once each; the
    // table is recency-capped to ≤recentPerUser rows per user
    val capped = events
      .select(col("user_id"), itemOf(col("props")).as("item_id"), col("ts"))
      .filter(col("item_id").isNotNull)
      .groupBy(col("user_id"), col("item_id")).agg(max(col("ts")).as("__last"))
      .withColumn("__rn", row_number().over(byRecency))
      .filter(col("__rn") <= recentPerUser)
      .select(col("user_id"), col("item_id"))
      .transform(Pins.heavy)
    // pinned: both `directed` orientations derive from the one
    // materialized pair table (the connectedComponents convention) —
    // support-filtered, so it is the small end of the pipeline
    val pairs = capped.as("a").join(capped.as("b"),
        col("a.user_id") === col("b.user_id") &&
        col("a.item_id") < col("b.item_id"))
      .select(col("a.item_id").as("item_a"), col("b.item_id").as("item_b"))
      .groupBy(col("item_a"), col("item_b"))
      .agg(count(lit(1)).as("supp_ab"))
      .filter(col("supp_ab") >= minUsers)
      .transform(Pins.heavy)
    val supp = capped.groupBy(col("item_id")).agg(count(lit(1)).as("supp"))
    val nUsers = capped.agg(
      count_distinct(col("user_id")).as("__n_users"))
    val directed = pairs
      .select(col("item_a").as("antecedent"),
        col("item_b").as("consequent"), col("supp_ab"))
      .unionByName(pairs.select(col("item_b").as("antecedent"),
        col("item_a").as("consequent"), col("supp_ab")))
    directed
      .join(supp.select(col("item_id").as("antecedent"),
        col("supp").as("__sa")), "antecedent")
      .join(supp.select(col("item_id").as("consequent"),
        col("supp").as("__sc")), "consequent")
      .crossJoin(broadcast(nUsers))
      .withColumn("confidence",
        col("supp_ab").cast("double") / col("__sa").cast("double"))
      .withColumn("lift",
        (col("supp_ab") * col("__n_users")).cast("double") /
          (col("__sa") * col("__sc")).cast("double"))
      .select(col("antecedent"), col("consequent"), col("supp_ab"),
        col("confidence"), col("lift"))
  }

  /** Deterministic random walks over an item graph (DeepWalk-style
    * graph-embedding training corpus): one walk per node, `walkLen`
    * steps; at step `t` the walker from `start` moves to the neighbor
    * minimizing `md5(seed:start:t:neighbor)` — a reproducible stand-in
    * for a uniform draw (each (start, step) keys an independent hash
    * ordering). Dead-end nodes' walks end early (inner join drops
    * them); on an undirected graph every visited node has a neighbor.
    *
    * == Scale ==
    * `walkLen` rounds of (frontier ⋈ adjacency on current node +
    * per-start argmin window) — frontier stays one row per start node,
    * the join fan-out is bounded by node degree, and each round is one
    * shuffle. Walk count scales with nodes, never edges². */
  def randomWalks(edges: DataFrame, walkLen: Int, seed: Int = 11): DataFrame = {
    require(walkLen >= 1, s"walkLen must be >= 1, got $walkLen")
    val adj = edges
      .select(col("item_a").as("node"), col("item_b").as("nbr"))
      .union(edges.select(col("item_b"), col("item_a")))
      .distinct()
    walkFrontier(adj, walkLen, t =>
      md5Hash32(concat(col("start"), lit(":"), lit(t), lit(":"),
        col("nbr")), seed))
  }

  /** Shared frontier loop for the walk operators: `walkLen` rounds of
    * (frontier ⋈ adjacency + per-start argmin window on `stepKey(t)`).
    * Each round appends one join+window to the logical plan, so every
    * 4th round the frontier `localCheckpoint`s (the
    * [[Dedup.connectedComponents]] convention) — analysis and
    * optimization cost stays bounded at ANY walk length instead of
    * growing linearly with it, and the materialized frontier is only
    * one row per start node. */
  /** Edge count under which the pinned adjacency gets an explicit
    * broadcast hint in the per-step frontier join ([[walkFrontier]]):
    * a checkpointed LogicalRDD loses its size stats, so without the
    * hint the planner falls back to sort-merge even on an item-graph
    * the old lineage-stat path happily broadcast. 2M edges ≈ tens of
    * MB framed; past the cap the join degrades to the plain shuffle
    * join a web-scale graph needs anyway. */
  private[operators] val BroadcastAdjCap = 2000000L

  private def walkFrontier(adj: DataFrame, walkLen: Int,
      stepKey: Int => Column): DataFrame = {
    // Pin the adjacency once: each of the `walkLen` rounds joins it,
    // so an expensive upstream edge build (covisitation: full-log
    // window + pair explode) re-executed once per step — 16 parquet
    // scans in q113/q142/q143's plans, 0 after. A bare pin was tried
    // and reverted in early r17 (the checkpointed LogicalRDD loses
    // size stats, the per-step join stopped broadcasting, q113 1.6 s
    // -> 2.1 s); the census below restores the broadcast decision off
    // the ALREADY-materialized checkpoint (a distributed count, no
    // extra build) and keeps the shuffle-join degrade for graphs past
    // [[BroadcastAdjCap]].
    val adjP = Pins.heavy(adj)
    val adjJ = if (adjP.count() <= BroadcastAdjCap) broadcast(adjP) else adjP
    var frontier = adjP.select(col("node").as("start")).distinct()
      .withColumn("cur", col("start"))
      .withColumn("path", array(col("start")))
    for (t <- 1 to walkLen) {
      val w = Window.partitionBy(col("start"))
        .orderBy(stepKey(t).asc, col("nbr").asc)
      frontier = frontier
        .join(adjJ, frontier("cur") === adjJ("node"))
        .withColumn("__rn", row_number().over(w))
        .filter(col("__rn") === 1)
        .select(col("start"), col("nbr").as("cur"),
          concat(col("path"), array(col("nbr"))).as("path"))
      if (t % 4 == 0 && t < walkLen) frontier = frontier.localCheckpoint()
    }
    frontier.select(col("start"), col("path"))
  }

  /** [[randomWalks]] with edge-weight-sensitive neighbor choice:
    * at each step the walker minimizes `hash/weight` — heavier
    * co-visitation edges win more hash draws, steering walks along
    * popular transitions while staying fully deterministic (the
    * division is one IEEE double op, portable everywhere; exact E-S
    * weighted sampling would need `u^(1/w)`, and `pow`'s libm rounding
    * is not). `edges` must carry a positive `weightCol`. */
  def weightedRandomWalks(edges: DataFrame, walkLen: Int,
      weightCol: String = "n_users", seed: Int = 11): DataFrame = {
    require(walkLen >= 1, s"walkLen must be >= 1, got $walkLen")
    val adj = edges
      .select(col("item_a").as("node"), col("item_b").as("nbr"),
        col(weightCol).as("__wt"))
      .union(edges.select(col("item_b"), col("item_a"),
        col(weightCol)))
      .distinct()
    walkFrontier(adj, walkLen, t =>
      md5Hash32(concat(col("start"), lit(":"), lit(t), lit(":"),
          col("nbr")), seed)
        .cast("double") / col("__wt").cast("double"))
  }

  /** Deterministic PageRank over the undirected item graph (the
    * popularity prior a candidate generator blends with similarity
    * scores; DeepWalk's companion signal on the same co-visitation
    * edges). Ranks are staged as exact 1e-12-unit longs: every
    * iteration distributes `r·85 div (100·deg)` along each edge and
    * adds the floored teleport share `10^12·15 div (100·N)` — all
    * integral arithmetic, so the iteration reproduces bit-for-bit
    * under any partitioning and in any engine (the oracle unrolls the
    * same divisions). Positive operands make `div` (truncation) equal
    * to floor everywhere. An undirected graph has no dangling nodes,
    * so no dangling redistribution term is needed.
    *
    * == Scale ==
    * Each of the fixed `iterations` rounds is ONE shuffle: ranks join
    * the adjacency on the source node and re-aggregate by destination;
    * rank/degree tables stay one row per node, the edge fan-out is the
    * graph itself. The frontier localCheckpoints every 4th round (the
    * [[walkFrontier]] convention) so plan depth stays bounded. */
  def pageRank(edges: DataFrame, iterations: Int = 3): DataFrame = {
    require(iterations >= 1, s"iterations must be >= 1, got $iterations")
    val scale = 1000000000000L
    // pin the adjacency once ([[kCore]] convention): every iteration's
    // contrib join reads it, and without the pin each of the
    // `iterations` consumers re-executes the upstream edge build
    // (covisitation in q152 — measured 133 parquet scans in the plan,
    // 2 after). Edge-sized; deg/n are node-sized and feed every
    // iteration's rank rebuild.
    val adj = edges
      .select(col("item_a").as("node"), col("item_b").as("nbr"))
      .union(edges.select(col("item_b"), col("item_a")))
      .distinct()
      .transform(Pins.heavy)
    val deg = adj.groupBy(col("node")).agg(count(lit(1)).as("__deg"))
      .localCheckpoint()
    val n = deg.agg(count(lit(1)).as("__n"))
    var ranks = deg.crossJoin(broadcast(n))
      .withColumn("__r", expr(s"${scale}L div __n"))
    for (t <- 1 to iterations) {
      val contrib = ranks.join(adj, "node")
        .select(col("nbr").as("node"),
          expr("__r * 85L div (100L * __deg)").as("__c"))
        .groupBy(col("node")).agg(sum(col("__c")).as("__in"))
      ranks = deg.crossJoin(broadcast(n))
        .join(contrib, Seq("node"), "left")
        .withColumn("__r",
          expr(s"${scale}L * 15L div (100L * __n)") +
            coalesce(col("__in"), lit(0L)))
        .select(col("node"), col("__deg"), col("__n"), col("__r"))
      if (t % 4 == 0 && t < iterations) ranks = ranks.localCheckpoint()
    }
    ranks.select(col("node"), col("__r").as("rank_micro"),
      (col("__r").cast("double") / lit(1.0e12)).as("pagerank"))
  }

  /** Skip-gram training pairs from walk paths (the word2vec-style
    * (center, context) assembly DeepWalk feeds its embedding model):
    * every ordered position pair within `window` hops, counted across
    * walks. Row-local pair generation — the only shuffle is the final
    * count. */
  def skipGramPairs(walks: DataFrame, window: Int = 2): DataFrame = {
    require(window >= 1, s"window must be >= 1, got $window")
    walks
      .select(col("path"), posexplode(col("path")).as(Seq("i", "center")))
      .select(col("i"), col("center"),
        posexplode(col("path")).as(Seq("j", "context")))
      .filter(col("i") =!= col("j") &&
        abs(col("i") - col("j")) <= window)
      .groupBy(col("center"), col("context"))
      .agg(count(lit(1)).as("n"))
  }

  /** Churn-label training set: the supervised assembly for a retention
    * model. Users active before the cutoff (= corpus max date −
    * `labelDays`) get feature-window aggregates (counts, exact
    * micro-unit value sum, recency) and a churn label = "no activity
    * in the final `labelDays`-day window". A strict temporal split —
    * features never see the label window. */
  def churnLabels(events: DataFrame, labelDays: Int = 7): DataFrame = {
    val anchor = events.agg(max(to_date(col("ts"))).as("__anchor"))
    val staged = events
      .select(col("user_id"), to_date(col("ts")).as("__d"),
        col("event_type"), col("value"))
      .crossJoin(broadcast(anchor))
      .withColumn("__cutoff", date_sub(col("__anchor"), labelDays))
    val features = staged.filter(col("__d") < col("__cutoff"))
      .groupBy(col("user_id"))
      .agg(count(lit(1)).as("n_events"),
        sum(when(col("event_type") === "click", 1L).otherwise(0L))
          .as("n_clicks"),
        (sum(floor(col("value").cast("double") * 1e6).cast("long"))
          .cast("double") / lit(1e6)).as("value_sum"),
        max(col("__d")).as("__last"), max(col("__cutoff")).as("__co"))
      .withColumn("recency_days", datediff(col("__co"), col("__last")))
    val active = staged.filter(col("__d") >= col("__cutoff"))
      .select(col("user_id")).distinct().withColumn("__active", lit(1))
    features.join(active, Seq("user_id"), "left")
      .withColumn("churned", col("__active").isNull)
      .select(col("user_id"), col("n_events"), col("n_clicks"),
        col("value_sum"), col("recency_days"), col("churned"))
  }

  /** The reference encoder's half-life recency weight
    * (`experiments/episodic-memory-prototype/memory/encoder.py:88-103`):
    * `exp(−λ·Δhours)` with `λ = ln 2 / max(halfLife, 1e-9)` and
    * `Δhours = max((reference − ts) in hours, 0)` — 1.0 at the
    * reference instant, 0.5 one half-life back, → 0 with age. Pure
    * per-row arithmetic (codegen'd, no shuffle). Δhours derives from
    * exact epoch-millisecond longs, so the exp ARGUMENT is
    * bit-reproducible in any engine; `exp` itself is not (Spark
    * evaluates StrictMath.exp, which differs from Math.exp and
    * DuckDB's libm in the last ulp for some arguments) — oracle-gated
    * outputs must micro-round the weight (q107's `recency_micro`
    * does), which absorbs a last-ulp difference except within ~2⁻⁴²
    * of a rounding boundary. */
  def timeDecay(
      ts: Column,
      reference: Column,
      halfLifeHours: Double = 24.0): Column =
    exp(lit(-timeDecayLambda(halfLifeHours)) * greatest(
      (unix_millis(reference) - unix_millis(ts)).cast("double")
        / lit(3600000.0),
      lit(0.0)))

  /** `λ = ln 2 / max(halfLife, 1e-9)` (`encoder.py:40`) — public so an
    * oracle can embed the IDENTICAL double as a literal (the
    * shared-literal contract: `Double.toString` round-trips, so both
    * engines evaluate exp at the same argument). */
  def timeDecayLambda(halfLifeHours: Double): Double =
    math.log(2) / math.max(halfLifeHours, 1e-9)

  /** Time-decayed engagement profile per user: each event contributes
    * `value / (1 + age_days)` (hyperbolic decay — exact in binary64,
    * unlike exp/pow whose libm rounding differs across engines), age
    * measured against the corpus max date. Contributions quantize to
    * micro-unit longs so the per-user sum is order-independent.
    * `recency_micro` is the [[timeDecay]] half-life weight of the
    * user's LATEST event against the corpus max timestamp,
    * micro-rounded (a long — exact to compare, and the max over a
    * user's events since decay is monotone in ts). */
  def decayedEngagement(
      events: DataFrame,
      halfLifeHours: Double = 24.0): DataFrame = {
    val anchor = events.agg(max(to_date(col("ts"))).as("__anchor"),
      max(col("ts")).as("__anchor_ts"))
    val contrib = floor(
      floor(col("value").cast("double") * 1e6).cast("long").cast("double") /
        (lit(1) + datediff(col("__anchor"), to_date(col("ts"))))
          .cast("double")).cast("long")
    val decayMicro = round(
      timeDecay(col("ts"), col("__anchor_ts"), halfLifeHours) * lit(1e6))
      .cast("long")
    events.select(col("user_id"), col("ts"), col("value"))
      .crossJoin(broadcast(anchor))
      .select(col("user_id"), contrib.as("__cm"), decayMicro.as("__dm"))
      .groupBy(col("user_id"))
      .agg((sum(col("__cm")).cast("double") / lit(1e6)).as("decayed"),
        count(lit(1)).as("n_events"),
        max(col("__dm")).as("recency_micro"))
  }

  /** Triangle count + global clustering coefficient of an undirected
    * graph — the cohesion audit for an interaction graph (a
    * co-visitation graph whose clustering collapses after a catalog
    * change lost its neighborhood structure). Uses the
    * degree-orientation algorithm (Schank & Wagner, WEA'05): orient
    * every edge from its (degree, id)-smaller endpoint to the larger,
    * then close wedges — each triangle is found exactly once and the
    * wedge fan-out is bounded by arboricity, not by max degree (the
    * celebrity-node blowup the naive wedge join hits).
    *
    * == Scale ==
    * One degree aggregate, two equi-joins on oriented edges, one
    * global reduce. `edges`: rows `(src, dst)`, duplicates and
    * self-loops tolerated. Output (one row):
    * `(n_nodes, n_edges, n_wedges, n_triangles, clustering_coeff)`
    * with `clustering = 3·triangles / wedges` (null when no wedge). */
  def triangleStats(
      edges: DataFrame,
      srcCol: String = "src",
      dstCol: String = "dst"): DataFrame = {
    // materialize the canonical edge set once ([[kCore]] convention):
    // it feeds the degree aggregate, the orientation join and (through
    // `oriented`) three legs of the wedge join — without the pin each
    // consumer re-executes the upstream build (covisitation's window +
    // pair explode; measured: 100+ parquet scans in q226's plan, 2
    // after). Edge-set-sized, orders of magnitude below the event log.
    val undirected = edges
      .select(least(col(srcCol), col(dstCol)).as("a"),
        greatest(col(srcCol), col(dstCol)).as("b"))
      .filter(col("a") =!= col("b") &&
        col("a").isNotNull && col("b").isNotNull)
      .distinct()
      .transform(Pins.heavy)
    // node-sized; read by two orientation joins plus the global base
    // aggregate
    val deg = undirected.select(col("a").as("v"))
      .union(undirected.select(col("b").as("v")))
      .groupBy(col("v")).agg(count(lit(1)).as("d"))
      .localCheckpoint()
    // orient: keep (u -> w) when (deg, id) of u < of w
    val oriented = undirected
      .join(deg.select(col("v").as("a"), col("d").as("__da")), "a")
      .join(deg.select(col("v").as("b"), col("d").as("__db")), "b")
      .select(
        when(col("__da") < col("__db") ||
          (col("__da") === col("__db") && col("a") < col("b")),
          struct(col("a").as("u"), col("b").as("w")))
          .otherwise(struct(col("b").as("u"), col("a").as("w")))
          .as("__e"))
      .select(col("__e.u").as("u"), col("__e.w").as("w"))
      // three wedge-join legs read this; edge-sized
      .transform(Pins.heavy)
    // wedges at u: (u->w1, u->w2), close with oriented edge w1->w2
    val tri = oriented.as("e1").join(oriented.as("e2"),
        col("e1.u") === col("e2.u") && col("e1.w") < col("e2.w"))
      .select(col("e1.w").as("u"), col("e2.w").as("w"))
      .join(oriented
        .select(least(col("u"), col("w")).as("u"),
          greatest(col("u"), col("w")).as("w")), Seq("u", "w"))
      .agg(count(lit(1)).as("n_triangles"))
    val base = deg.agg(count(lit(1)).as("n_nodes"),
      expr("sum(d) div 2").as("n_edges"),
      expr("sum((d * (d - 1)) div 2)").as("n_wedges"))
    base.crossJoin(broadcast(tri))
      .withColumn("clustering_coeff",
        when(col("n_wedges") > 0L,
          lit(3.0) * col("n_triangles").cast("double") /
            col("n_wedges").cast("double")))
  }

  /** User–user overlap (common-neighbor Jaccard on the bipartite
    * interaction graph): the audience-similarity signal behind
    * user-based CF and lookalike targeting. Pairs generate ONLY
    * through shared items, and items above `maxItemPop` distinct
    * users are dropped from pair generation (the standard
    * super-node cut: a viral item connects everyone and says
    * nothing) — without it the fan-out is Σ pop², with it ≤
    * maxItemPop · |interactions|. Jaccard still uses FULL user
    * degrees (the cut only limits candidate generation).
    *
    * == Scale ==
    * One distinct (user, item) shuffle, one item-blocked self-join
    * with the popularity cut, one pair-count aggregate joined to
    * broadcast degree tables. Output:
    * `(user_a, user_b, n_common, jaccard)` for pairs with
    * `n_common ≥ minCommon`. Gate/knob scale table:
    * [[graft.ScaleProfile]]. */
  def userOverlapJaccard(
      events: DataFrame,
      maxItemPop: Int,
      minCommon: Long = 2L): DataFrame = {
    val ui = events
      .select(col("user_id"), itemOf(col("props")).as("item_id"))
      .filter(col("item_id").isNotNull).distinct()
    val degrees = ui.groupBy(col("user_id"))
      .agg(count(lit(1)).as("__deg"))
    val pop = ui.groupBy(col("item_id")).agg(count(lit(1)).as("__pop"))
    val blocked = ui.join(pop.filter(col("__pop") <= maxItemPop), "item_id")
    val pairs = blocked.as("x").join(blocked.as("y"),
        col("x.item_id") === col("y.item_id") &&
        col("x.user_id") < col("y.user_id"))
      .groupBy(col("x.user_id").as("user_a"),
        col("y.user_id").as("user_b"))
      .agg(count(lit(1)).as("n_common"))
      .filter(col("n_common") >= minCommon)
    pairs
      .join(degrees.select(col("user_id").as("user_a"),
        col("__deg").as("__dega")), "user_a")
      .join(degrees.select(col("user_id").as("user_b"),
        col("__deg").as("__degb")), "user_b")
      .select(col("user_a"), col("user_b"), col("n_common"),
        (col("n_common").cast("double") /
          (col("__dega") + col("__degb") - col("n_common")).cast("double"))
          .as("jaccard"))
  }

  /** Popularity-complement baseline recommender: each user gets the
    * `perUser` most popular items (by interaction count, item-id
    * tiebreak) they have NOT interacted with — the classic
    * most-popular baseline every beyond-accuracy metric
    * ([[Evaluation.coverageNovelty]]) is calibrated against.
    *
    * == Scale ==
    * The candidate pool is the global top-`topM` (TakeOrdered — the
    * full item domain is never sorted), broadcast into a users ×
    * topM fan-out (constant per user); the only data-sized shuffle is
    * the history anti-join on (user, item). Output:
    * `(user_id, item_id, rank)`. */
  def popularityComplementRecs(
      events: DataFrame, topM: Int, perUser: Int): DataFrame = {
    require(topM >= perUser && perUser >= 1,
      s"need topM >= perUser >= 1, got $topM, $perUser")
    val inter = events
      .select(col("user_id"), itemOf(col("props")).as("item_id"))
      .filter(col("item_id").isNotNull)
    val top = inter.groupBy(col("item_id"))
      .agg(count(lit(1)).as("__pop"))
      .orderBy(col("__pop").desc, col("item_id").asc)
      .limit(topM)
    val users = inter.select(col("user_id")).distinct()
    users.crossJoin(broadcast(top))
      .join(inter.distinct(), Seq("user_id", "item_id"), "left_anti")
      .withColumn("rank", row_number().over(
        Window.partitionBy(col("user_id"))
          .orderBy(col("__pop").desc, col("item_id").asc)))
      .filter(col("rank") <= perUser)
      .select(col("user_id"), col("item_id"), col("rank"))
  }

  /** RFM segmentation: quintile-bucket every user on Recency (days
    * since last event), Frequency (event count) and Monetary (exact
    * micro-unit value sum), and report the segment census. Buckets
    * come from exact global quantile BOUNDARIES
    * ([[Normalize.quantilesBy]] over a constant group) broadcast back
    * as a 1-row table — assignment is `Σ [v > b_i]`, a row-local
    * comparison ladder, so no global rank window ever materializes
    * (the classic ntile formulation is a single-partition sort at
    * scale; boundary comparison is the 100 TB shape, at the cost of
    * tie rows sharing a bucket — the defensible semantics anyway). */
  def rfmSegments(events: DataFrame): DataFrame = {
    val perUser = events.groupBy(col("user_id"))
      .agg(max(expr("unix_millis(ts) div 86400000")).as("__last_day"),
        count(lit(1)).as("__f"),
        sum(floor(col("value") * 1e6).cast("long")).as("__m"))
    val maxDay = perUser.agg(max(col("__last_day")).as("__gmax"))
    val rfm = perUser.crossJoin(broadcast(maxDay))
      .select(col("user_id"),
        (col("__gmax") - col("__last_day")).as("__r"),
        col("__f"), col("__m"))
      .localCheckpoint() // feeds three quantile lineages + assignment
    val probs = Seq(0.2, 0.4, 0.6, 0.8)
    // ONE quantile lineage for all three metrics: unpivot to
    // (metric, value) and group the exact-rank machinery by metric,
    // then pivot the 12 boundaries into a single global-aggregate row
    // (empty grouping — provably one row, one broadcast)
    val unpivoted = rfm.select(explode(array(
        struct(lit("r").as("metric"), col("__r").cast("double").as("v")),
        struct(lit("f").as("metric"), col("__f").cast("double").as("v")),
        struct(lit("m").as("metric"), col("__m").cast("double").as("v"))))
        .as("u"))
      .select(col("u.metric").as("__metric"), col("u.v").as("__value"))
    val quants = Normalize.quantilesBy(unpivoted, "__metric", "__value",
      probs)
    val pivots = for {
      m <- Seq("r", "f", "m"); (p, i) <- probs.zipWithIndex
    } yield max(when(col("__metric") === m && col("prob") === p,
      col("quantile"))).as(s"${m}_b$i")
    val bounds = quants.groupBy().agg(pivots.head, pivots.tail: _*)
    def bucket(metric: String): org.apache.spark.sql.Column =
      probs.indices.map(i =>
        (col(metric).cast("double") >
          col(s"${metric.stripPrefix("__")}_b$i")).cast("int"))
        .reduce(_ + _)
    val assigned = rfm.crossJoin(broadcast(bounds))
      .select(col("user_id"), col("__m"),
        bucket("__r").as("r_bucket"), bucket("__f").as("f_bucket"),
        bucket("__m").as("m_bucket"))
    assigned.groupBy(col("r_bucket"), col("f_bucket"), col("m_bucket"))
      .agg(count(lit(1)).as("n_users"),
        round(sum(col("__m")).cast("double") /
          (count(lit(1)).cast("double") * 1e6), 6).as("avg_monetary"))
  }

  /** Bounded k-core peeling: `rounds` iterations of "drop every node
    * whose degree in the surviving subgraph is < k", over an
    * undirected edge list (`item_a < item_b` convention, e.g.
    * [[covisitation]] output). The cohesive-subgraph extractor a
    * recommender uses to find the stable catalog core (vs long-tail
    * items attached by a few co-views).
    *
    * A fixed round count makes the operator deterministic and
    * oracle-expressible; peeling converges geometrically in practice,
    * and the full k-core is the fixpoint (run more rounds, or iterate
    * until the survivor count stops changing — same kernel). Each
    * round is one degree aggregate + two semi-joins, all keyed on the
    * node id — one shuffle lineage per round, no global structure.
    * Output: surviving `(node, degree)` in the final subgraph. */
  def kCore(edges: DataFrame, k: Long, rounds: Int): DataFrame = {
    require(rounds >= 1, s"rounds must be >= 1, got $rounds")
    // materialize the edge list once: every round reads it twice
    // (degree aggregate + semi-join filters) and later rounds stack on
    // top, so an expensive upstream build (covisitation's pair
    // explode) would otherwise re-execute once per consumer
    var e = edges.select(col("item_a").as("a"), col("item_b").as("b"))
      .transform(Pins.heavy)
    var deg: DataFrame = null
    for (r <- 1 to rounds) {
      val sym = e.select(col("a").as("n")).unionAll(e.select(col("b").as("n")))
      deg = sym.groupBy(col("n")).agg(count(lit(1)).as("degree"))
      if (r < rounds) {
        // r18 (guide §2.4): pin the survivor set. Unpinned, round
        // r+1's degree aggregate AND both semi-joins each re-derive
        // `keep` — whose lineage contains the whole prior round —
        // so the peel stack's subtrees replicated ~2x per round
        // (q245 final plan: 53 reads of the pinned edge RDD, 81
        // exchanges for 3 rounds). The pin is node-sized (bounded by
        // surviving |V|), far below the edge pins the convention
        // already allows, and makes the plan linear in rounds.
        val keep = deg.filter(col("degree") >= k).select(col("n"))
          .localCheckpoint()
        e = e.join(keep.withColumnRenamed("n", "a"), Seq("a"), "left_semi")
          .join(keep.withColumnRenamed("n", "b"), Seq("b"), "left_semi")
        if (r % 4 == 0) e = Pins.heavy(e)
      }
    }
    deg.filter(col("degree") >= k)
      .select(col("n").as("node"), col("degree"))
  }

  /** Degree assortativity of an undirected edge list (`item_a <
    * item_b`): the Pearson correlation between the degrees at the two
    * ends of every edge, over both orientations. Positive = hubs link
    * hubs (resilient core), negative = hub-and-spoke (celebrity
    * items) — which of the two a co-visitation graph is decides how
    * hard degree-based cuts (super-node removal) bite.
    *
    * Integer-exact: degrees are counts; the correlation assembles
    * from five integer moment sums scaled by n (products ride
    * decimal(38) against overflow); one closing sqrt+division. One
    * degree aggregate, one edge-degree join per endpoint, one global
    * moment aggregate. */
  def degreeAssortativity(edges: DataFrame): DataFrame = {
    val dec = "decimal(38,0)"
    // pinned once ([[kCore]] convention): the degree aggregate and the
    // two-sided degree join both read the symmetrized list — without
    // the pin the upstream edge build (covisitation in q273) replays
    // per consumer. 2·|edges|-sized.
    val sym = edges.select(col("item_a").as("s"), col("item_b").as("d"))
      .unionAll(edges.select(col("item_b").as("s"), col("item_a").as("d")))
      .transform(Pins.heavy)
    val deg = sym.groupBy(col("s").as("n")).agg(count(lit(1)).as("dg"))
    val pairs = sym
      .join(deg.select(col("n").as("s"), col("dg").as("x")), Seq("s"))
      .join(deg.select(col("n").as("d"), col("dg").as("y")), Seq("d"))
    pairs.agg(count(lit(1)).as("n_ends"),
        sum(col("x").cast(dec)).as("__sx"),
        sum(col("y").cast(dec)).as("__sy"),
        sum((col("x").cast(dec) * col("x").cast(dec))).as("__sxx"),
        sum((col("x").cast(dec) * col("y").cast(dec))).as("__sxy"),
        sum((col("y").cast(dec) * col("y").cast(dec))).as("__syy"))
      .select(col("n_ends"),
        round(when(
          (col("n_ends") * col("__sxx") - col("__sx") * col("__sx"))
            .cast("double") > 0.0 &&
          (col("n_ends") * col("__syy") - col("__sy") * col("__sy"))
            .cast("double") > 0.0,
          (col("n_ends") * col("__sxy") - col("__sx") * col("__sy"))
            .cast("double") /
            sqrt((col("n_ends") * col("__sxx") -
              col("__sx") * col("__sx")).cast("double") *
              (col("n_ends") * col("__syy") -
                col("__sy") * col("__sy")).cast("double"))), 6)
          .as("assortativity"))
  }

  /** Rich-club curve: among nodes with degree > k, the realized
    * fraction of the possible edges, for a ladder of k values — do
    * the best-connected items form their own dense club? φ(k) near 1
    * at high k is the signature of a collusive head; a flat curve
    * means popularity does not imply interconnection. Integer counts
    * per rung (nodes, actual club edges, possible pairs); one double
    * division each. */
  def richClub(edges: DataFrame, ks: Seq[Long]): DataFrame = {
    val spark = edges.sparkSession
    import spark.implicits._
    val e = edges.select(col("item_a").as("a"), col("item_b").as("b"))
      .transform(Pins.heavy)
    val deg = e.select(col("a").as("n")).unionAll(e.select(col("b")))
      .groupBy(col("n")).agg(count(lit(1)).as("dg"))
    val kdf = ks.toDF("k")
    val clubNodes = deg.crossJoin(broadcast(kdf))
      .filter(col("dg") > col("k"))
    val nodesPerK = clubNodes.groupBy(col("k"))
      .agg(count(lit(1)).as("n_club"))
    val clubEdges = e.crossJoin(broadcast(kdf))
      .join(deg.select(col("n").as("a"), col("dg").as("__da")), Seq("a"))
      .join(deg.select(col("n").as("b"), col("dg").as("__db")), Seq("b"))
      .filter(col("__da") > col("k") && col("__db") > col("k"))
      .groupBy(col("k")).agg(count(lit(1)).as("e_club"))
    nodesPerK.join(clubEdges, Seq("k"), "left")
      .select(col("k"), col("n_club"),
        coalesce(col("e_club"), lit(0L)).as("e_club"),
        expr("n_club * (n_club - 1) div 2").as("possible"),
        round(coalesce(col("e_club"), lit(0L)).cast("double") /
          expr("n_club * (n_club - 1) div 2").cast("double"), 6)
          .as("phi"))
      .filter(col("n_club") > 1)
  }

  /** HITS hubs/authorities, `rounds` synchronous iterations over a
    * weighted directed edge list `(src, dst, w)` — here typically the
    * observed next-item transition graph (which items funnel traffic
    * vs which items receive it).
    *
    * Exactness trick: scores stay UNNORMALIZED integers (h₀ = 1;
    * aᵣ(j) = Σ_in w·hᵣ₋₁, hᵣ(i) = Σ_out w·aᵣ) — normalization is
    * scale-only, so ranking is unchanged and every engine reproduces
    * the integer scores bit-for-bit; the single closing division
    * (score / max-score) re-expresses them in [0,1]. Keep `rounds`
    * small (2–3): magnitudes grow by ~(total weight)² per round and
    * the ranking stabilizes almost immediately on power-law graphs.
    * One aggregate + one equi-join per half-step, all keyed on node
    * ids. */
  def hits(edges: DataFrame, rounds: Int): DataFrame = {
    require(rounds >= 1, s"rounds must be >= 1, got $rounds")
    // pinned once ([[kCore]] convention): 2·rounds half-step joins plus
    // the node union read this; the upstream transition-graph build
    // (a full-log window scan in q246) must not replay per consumer
    val e = edges.select(col("src"), col("dst"), col("w").cast("long"))
      .transform(Pins.heavy)
    // round 1 folds h0 = 1 into a plain weighted in-degree
    var auth = e.groupBy(col("dst")).agg(sum(col("w")).as("a"))
    var hub = e.join(auth, Seq("dst"))
      .groupBy(col("src")).agg(sum(col("w") * col("a")).as("h"))
    for (_ <- 2 to rounds) {
      auth = e.join(hub, Seq("src"))
        .groupBy(col("dst")).agg(sum(col("w") * col("h")).as("a"))
      hub = e.join(auth, Seq("dst"))
        .groupBy(col("src")).agg(sum(col("w") * col("a")).as("h"))
    }
    val nodes = e.select(col("src").as("node"))
      .unionAll(e.select(col("dst").as("node"))).distinct()
    val scored = nodes
      .join(hub.withColumnRenamed("src", "node"), Seq("node"), "left")
      .join(auth.withColumnRenamed("dst", "node"), Seq("node"), "left")
      .select(col("node"), coalesce(col("h"), lit(0L)).as("hub"),
        coalesce(col("a"), lit(0L)).as("auth"))
    val mx = scored.agg(max(col("hub")).as("__mh"),
      max(col("auth")).as("__ma"))
    scored.crossJoin(broadcast(mx))
      .select(col("node"), col("hub"), col("auth"),
        round(col("hub").cast("double") / col("__mh").cast("double"), 6)
          .as("hub_norm"),
        round(col("auth").cast("double") / col("__ma").cast("double"), 6)
          .as("auth_norm"))
  }
}
