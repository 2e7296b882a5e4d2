package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Inferflow-style dataflow composition (SURVEY U4, J7/J8, §3.3).
  *
  * The reference executes a component DAG with Kahn's algorithm and a
  * shared mutable row matrix
  * (`inferflow/dag-topology-executor/handlers/dag/executor.go:36-98`);
  * here components are `DataFrame => DataFrame` stages composed by
  * ordinary function composition — Spark's lazy plan IS the DAG, and
  * Catalyst recovers the parallelism between independent column
  * subtrees without a scheduler.
  */
object Pipeline {

  type Stage = DataFrame => DataFrame

  /** Sequential composition of stages (the inferflow topology). */
  def apply(stages: Stage*): Stage = stages.reduce(_ andThen _)

  /** Context ⊗ targets expansion (J7): project request-level context
    * features onto every target row
    * (`FeatureInitComponent.Run`, feature_init_component.go:31-48).
    * `context` must be a single row — enforced semantically by the
    * caller (an aggregate or a literal frame); it broadcasts. */
  def withContext(context: DataFrame): Stage =
    targets => targets.crossJoin(broadcast(context))

  /** Pairwise target composition (J8): pair rows reference two target
    * indexes; both sides join against the target matrix
    * (`predict.proto:84-121`). Targets are expected small per request —
    * broadcast both legs; for bulk scoring swap to shuffle joins by
    * leaving `hint = false`. */
  def pairwise(
      targets: DataFrame,
      pairs: DataFrame,
      targetIdx: String,
      leftIdx: String,
      rightIdx: String,
      hint: Boolean = true): DataFrame = {
    def leg(alias: String) = {
      val t = targets.columns.foldLeft(targets)((d, c) =>
        d.withColumnRenamed(c, s"${alias}_$c"))
      if (hint) broadcast(t) else t
    }
    pairs
      .join(leg("a"), col(leftIdx) === col(s"a_$targetIdx"))
      .join(leg("b"), col(rightIdx) === col(s"b_$targetIdx"))
  }

  /** Slate composition (J8): slate rows carry an array of member
    * target indexes; explode + join expands each slate to its member
    * rows (`parseSlateTargetRows`, predator_component.go:175-192). */
  def slatewise(
      targets: DataFrame,
      slates: DataFrame,
      slateMembers: String,
      targetIdx: String): DataFrame =
    slates.withColumn("__member", explode(col(slateMembers)))
      .drop(slateMembers)
      .join(targets, col("__member") === col(targetIdx))
      .drop("__member")

  /** Category-capped slate rerank (the diversity constraint a slate
    * composer applies before serving): per group, keep each
    * candidate's within-category rank ≤ `maxPerCat`, then the best `k`
    * survivors overall. Two window specs over the SAME group
    * partitioning — one shuffle; ties break by `tieCol` ascending so
    * the slate is reproducible. */
  def constrainedRerank(
      df: DataFrame,
      groupCols: Seq[String],
      scoreCol: String,
      catCol: String,
      tieCol: String,
      maxPerCat: Int,
      k: Int): DataFrame = {
    require(maxPerCat >= 1 && k >= 1, "maxPerCat and k must be >= 1")
    import org.apache.spark.sql.expressions.Window
    val g = groupCols.map(col)
    val byCat = Window.partitionBy(g :+ col(catCol): _*)
      .orderBy(col(scoreCol).desc, col(tieCol).asc)
    val byGroup = Window.partitionBy(g: _*)
      .orderBy(col(scoreCol).desc, col(tieCol).asc)
    df.withColumn("__cr", row_number().over(byCat))
      .filter(col("__cr") <= maxPerCat)
      .withColumn("rank", row_number().over(byGroup))
      .filter(col("rank") <= k)
      .drop("__cr")
  }

  /** MMR (maximal-marginal-relevance) diversified top-K per group —
    * the greedy slate selector
    * (`experiments/episodic-memory-prototype/memory/retriever.py:131-177`
    * `_select_with_mmr`): slot 1 takes the best raw score; each later
    * slot re-scores every remaining candidate as
    * `score · (1 − penalty · max(0, max_cos_sim_to_selected))` and
    * takes the argmax. Selected rows keep their ORIGINAL score (the
    * reference appends `(score, ep)`, not the penalized value).
    *
    * == Determinism ==
    * Candidates are gathered with `sort_array(..., asc=false)` over
    * `(score, item, emb)` structs — descending (score, item) order —
    * and argmax ties resolve to the first candidate in that order, so
    * the selection is a pure function of the input set: SQL-equivalent
    * to `ROW_NUMBER() OVER (ORDER BY mmr DESC, score DESC, item DESC)`
    * per slot. Cosines are the same ascending-index double fold as
    * [[graft.expr.DotProduct]], so a SQL oracle replays bit-identical.
    *
    * == Scale ==
    * One shuffle gathers each group's candidates (caller bounds the
    * pool: `poolSize` keeps the per-group state ≤ poolSize·dim
    * doubles); the O(k·pool·k·dim) greedy kernel runs executor-side
    * per group — nothing driver-side scales with |groups|, the
    * [[graft.operators.Normalize.pavCalibrateCountsBy]] invariant.
    *
    * Embeddings must be non-null (build the pool with an inner join
    * against the embedding table). Output:
    * `(groupCols…, rank, itemCol, scoreCol)`, rank 1-based.
    * Gate/knob scale table: [[graft.ScaleProfile]].
    */
  def mmrRerank(
      candidates: DataFrame,
      groupCols: Seq[String],
      itemCol: String,
      scoreCol: String,
      embCol: String,
      k: Int,
      penalty: Double = 0.5,
      poolSize: Int = 500): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    require(penalty >= 0.0 && penalty <= 1.0,
      s"penalty must be in [0,1], got $penalty")
    require(poolSize >= k, s"poolSize ($poolSize) must be >= k ($k)")
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.types._
    import org.apache.spark.sql.{Encoders, Row}
    val g = groupCols.map(col)
    val byGroup = Window.partitionBy(g: _*)
      .orderBy(col(scoreCol).desc, col(itemCol).asc)
    val pooled = candidates
      .withColumn("__pr", row_number().over(byGroup))
      .filter(col("__pr") <= poolSize)
    val gathered = pooled
      .groupBy(g: _*)
      .agg(sort_array(collect_list(struct(
        col(scoreCol).cast("double").as("s"),
        col(itemCol).as("i"),
        col(embCol).cast("array<double>").as("e"))), asc = false).as("__cs"))
    val inSchema = gathered.schema
    val itemField = inSchema("__cs").dataType
      .asInstanceOf[ArrayType].elementType
      .asInstanceOf[StructType]("i")
    val outSchema = StructType(
      groupCols.map(c => inSchema(c)) ++ Seq(
        StructField("rank", IntegerType, nullable = false),
        StructField(itemCol, itemField.dataType, itemField.nullable),
        StructField(scoreCol, DoubleType, nullable = true)))
    val nGroup = groupCols.length
    gathered.flatMap { row =>
      val cands = row.getSeq[Row](nGroup)
      // same ascending-index left fold as graft.expr.DotProduct
      def dot(a: Seq[Double], b: Seq[Double]): Double = {
        var acc = 0.0; var j = 0
        while (j < a.length) { acc += a(j) * b(j); j += 1 }
        acc
      }
      def cos(a: Seq[Double], b: Seq[Double]): Double =
        dot(a, b) / (math.sqrt(dot(a, a)) * math.sqrt(dot(b, b)))
      val remaining = scala.collection.mutable.ArrayBuffer(cands: _*)
      val selected = scala.collection.mutable.ArrayBuffer.empty[Seq[Double]]
      val out = scala.collection.mutable.ArrayBuffer.empty[Row]
      var rank = 1
      while (rank <= k && remaining.nonEmpty) {
        val bestIdx =
          if (selected.isEmpty) 0 // head of (score desc, item desc) order
          else {
            var bi = 0
            var bm = Double.NegativeInfinity
            var idx = 0
            while (idx < remaining.length) {
              val c = remaining(idx)
              val e = c.getSeq[Double](2)
              var ms = 0.0
              selected.foreach { se => val sim = cos(e, se); if (sim > ms) ms = sim }
              val mmr = c.getDouble(0) * (1 - penalty * ms)
              // strict >: ties keep the earliest candidate in
              // (score desc, item desc) order
              if (mmr > bm) { bm = mmr; bi = idx }
              idx += 1
            }
            bi
          }
        val chosen = remaining.remove(bestIdx)
        selected += chosen.getSeq[Double](2)
        out += Row.fromSeq(
          (0 until nGroup).map(row.get) ++
            Seq(rank, chosen.get(1), chosen.getDouble(0)))
        rank += 1
      }
      out
    }(Encoders.row(outSchema))
  }

  /** Graph-expanded candidate retrieval
    * (`experiments/episodic-memory-prototype/memory/retriever.py:105-130`
    * `_expand_via_graph` over `memory/graph.py:110-139` `traverse`):
    * before reranking, pull the graph neighbors of each group's
    * top-`seedK` candidates — up to `depth` hops, BFS with visited-set
    * semantics (the reference passes `depth=self.graph_depth` to
    * `traverse`) — into the pool. Neighbors not already present score
    * at `dampen · cos(query_embedding, neighbor_embedding)` (the
    * reference's 0.8 damping of the neighbor's own query similarity,
    * applied once whatever the hop count); existing pool rows pass
    * through unchanged with `expanded=false`. Pool members reached
    * mid-walk are traversed THROUGH (they gate nothing; they are just
    * never re-added), exactly as `traverse` walks through `seen` ids.
    * The reference's `link_types` traversal filter
    * (`graph.py:113,128-129`) maps to pre-filtering the `edges` input
    * (`edges.filter(col("link_type") === ...)`) — [[
    * graft.operators.EpisodeGraph.autoLink]]'s output carries the
    * `link_type` column for exactly this.
    *
    * == Scale ==
    * Every step is an equi-join: seeds are a window top-`seedK` per
    * group (bounded), each hop joins the current frontier on the edge
    * source key and anti-joins the visited set (so a `depth`-walk is
    * `depth` bounded hops, never an all-pairs closure — the frontier
    * is localCheckpointed per hop to keep the plan O(1) in depth),
    * membership is a left-anti join on (group, item), and scoring
    * joins the bounded newcomer set against the embedding table. The
    * per-group fan-out is seedK · out-degree^depth — the caller's
    * edge table and small `depth` bound it. Cosine is the
    * ascending-index fold ([[graft.expr.DotProduct]]), SQL-replayable.
    * Gate/knob scale table: [[graft.ScaleProfile]].
    */
  def expandViaGraph(
      candidates: DataFrame,
      edges: DataFrame,
      queries: DataFrame,
      embeddings: DataFrame,
      groupCols: Seq[String],
      itemCol: String,
      scoreCol: String,
      srcCol: String,
      dstCol: String,
      queryEmbCol: String,
      embCol: String,
      seedK: Int,
      dampen: Double = 0.8,
      depth: Int = 1): DataFrame = {
    require(seedK >= 1, s"seedK must be >= 1, got $seedK")
    require(depth >= 1 && depth <= 16,
      s"depth must be in [1,16], got $depth — each hop is a join pass")
    import org.apache.spark.sql.expressions.Window
    val g = groupCols.map(col)
    // the candidate pool feeds three consumers (seed top-K, the
    // membership anti-join, the final union); materialize the bounded
    // pool once so an expensive upstream scoring lineage doesn't
    // execute three times (the RangeJoin.sessionConcurrency convention)
    val cand = candidates.localCheckpoint()
    val byGroup = Window.partitionBy(g: _*)
      .orderBy(col(scoreCol).desc, col(itemCol).asc)
    val seeds = cand
      .withColumn("__sr", row_number().over(byGroup))
      .filter(col("__sr") <= seedK)
      .select(g :+ col(itemCol): _*)
    // depth > 1 consumes the edge list once PER HOP — pin it so an
    // expensive upstream edge build (q284's autoLink: a PrefixSum
    // continuation leg plus a state-blocked cosine pair join) executes
    // once, not `depth` times (the kCore convention; the edge table is
    // link-sized, bounded by the upstream operator's own output cap).
    // depth == 1 reads it exactly once: skip the materialization job.
    val ed0 = edges.select(col(srcCol), col(dstCol))
    val ed = if (depth > 1) Pins.heavy(ed0) else ed0
    // BFS from the seed set: visited starts as the seeds, each hop's
    // frontier is the newly-reached (group, node) set. The union of
    // the hop frontiers IS reachable≤depth minus the seeds (a seed
    // reached from another seed contributes nothing new: its
    // neighbors were already pulled when it sat in the hop-0 frontier)
    // visited is only ever read by the NEXT hop's anti-join, so a
    // depth-1 walk needs no checkpointed visited at all (the seed plan
    // is one cheap window over the checkpointed pool), and the union
    // after the FINAL hop would be a pure waste of one eager
    // materialization job — guard both. Hop frontiers stay pinned for
    // the session (the result plan reads them).
    val seedSet = seeds.select(g :+ col(itemCol).as("__n"): _*)
    var visited = if (depth > 1) seedSet.localCheckpoint() else seedSet
    var frontier = visited
    val hops = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
    var d = 0
    while (d < depth) {
      val next = frontier
        .join(ed, col("__n") === col(srcCol))
        .select(g :+ col(dstCol).as("__n"): _*)
        .distinct()
        .join(visited, groupCols :+ "__n", "left_anti")
        .localCheckpoint()
      hops += next
      if (d < depth - 1)
        visited = visited.unionByName(next).localCheckpoint()
      frontier = next
      d += 1
    }
    val neighbors = hops.reduce(_ unionByName _)
    val fresh = neighbors.join(
      cand.select(g :+ col(itemCol).as("__n"): _*),
      groupCols :+ "__n", "left_anti")
    val scoredNew = fresh
      .join(queries.select(g :+ col(queryEmbCol): _*), groupCols)
      .join(embeddings.select(col(itemCol).as("__n"),
        col(embCol).as("__ne")), Seq("__n"))
      .select((g :+ col("__n").as(itemCol) :+
        (lit(dampen) * graft.functions.Similarity.cosine(
          col(queryEmbCol), col("__ne"))).as(scoreCol) :+
        lit(true).as("expanded")): _*)
    cand.select(g :+ col(itemCol) :+ col(scoreCol): _*)
      .withColumn("expanded", lit(false))
      .unionByName(scoredNew)
  }

  /** Counter-example guarantee
    * (`experiments/episodic-memory-prototype/memory/retriever.py:179-213`
    * `_ensure_counter_example`): a retrieval slate biased toward one
    * outcome class (the reference boosts failures ×1.25) must still
    * show at least one `counterOutcome` row when the pool has any.
    * Per group: if no selected row carries the counter outcome,
    * append the best-scored unselected pool row that does, at rank
    * `max(rank)+1` (the reference appends after the MMR picks, keeping
    * the original score). Slates that already have one — or whose
    * pool has none — pass through unchanged.
    *
    * One aggregate over the slates (census), one anti-join for
    * membership, one window top-1 over the counter-outcome slice of
    * the pool — all keyed on the group; nothing pairwise. */
  def ensureCounterExample(
      selected: DataFrame,
      pool: DataFrame,
      groupCols: Seq[String],
      itemCol: String,
      scoreCol: String,
      rankCol: String,
      outcomeCol: String,
      counterOutcome: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val g = groupCols.map(col)
    // the slate feeds three consumers (census, membership anti-join,
    // final union) — materialize the bounded slate table once
    val sel = selected.localCheckpoint()
    val census = sel.groupBy(g: _*).agg(
      max(when(col(outcomeCol) === counterOutcome, 1).otherwise(0))
        .as("__has"),
      max(col(rankCol)).as("__mr"))
    val byBest = Window.partitionBy(g: _*)
      .orderBy(col(scoreCol).desc, col(itemCol).asc)
    val appended = pool
      .filter(col(outcomeCol) === counterOutcome)
      .join(sel.select(g :+ col(itemCol): _*),
        groupCols :+ itemCol, "left_anti")
      .withColumn("__rn", row_number().over(byBest))
      .filter(col("__rn") === 1)
      .drop("__rn")
      .join(census.filter(col("__has") === 0), groupCols)
      .withColumn(rankCol, (col("__mr") + 1).cast("int"))
      .drop("__has", "__mr")
    sel.unionByName(appended.select(sel.columns.map(col): _*))
  }

  /** Retrieval-time episode boost scoring
    * (`experiments/episodic-memory-prototype/memory/retriever.py:91-101`
    * `_episode_score`): the raw query-episode similarity is multiplied
    * by `failureBoost` when the episode FAILED (failures teach more)
    * and then by `stateMatchBoost` when the episode's state equals the
    * retrieval's current state (and the current state is non-empty) —
    * multiplication in exactly that order, so the expression
    * reproduces bit-for-bit in SQL. Callers mirror the reference's
    * missing-embedding rule (`retriever.py:94-95` → score 0.0) by
    * coalescing the similarity input to 0. Pure column expression —
    * codegen'd, no shuffle. */
  def episodeBoostScore(
      sim: Column,
      outcome: Column,
      state: Column,
      currentState: Column,
      failureBoost: Double = 1.25,
      stateMatchBoost: Double = 1.5,
      failureValue: String = "failure"): Column = {
    val f = when(outcome === failureValue, sim * lit(failureBoost))
      .otherwise(sim)
    when(currentState =!= "" && state === currentState,
      f * lit(stateMatchBoost)).otherwise(f)
  }

  /** Causal-narrative assembly
    * (`retriever.py:227-237` `_build_narrative`): one row per group —
    * the slate's episodes in rank order rendered as
    * `"<summary[:60]>[ [state]][, outcome=<outcome>]"` joined with
    * `" → "`; an episode with an empty summary falls back to its id.
    * One hash aggregation; the in-group order is imposed by sorting
    * the collected (rank, label) structs, not by the aggregation
    * order, so the result is partition-invariant. */
  def buildNarrative(
      slate: DataFrame,
      groupCols: Seq[String],
      idCol: String,
      rankCol: String,
      summaryCol: String,
      stateCol: String,
      outcomeCol: String,
      out: String = "narrative"): DataFrame = {
    val label = concat(
      when(col(summaryCol).isNotNull && col(summaryCol) =!= "",
        substring(col(summaryCol), 1, 60))
        .otherwise(col(idCol).cast("string")),
      when(col(stateCol).isNotNull && col(stateCol) =!= "",
        concat(lit(" ["), col(stateCol), lit("]"))).otherwise(lit("")),
      when(col(outcomeCol).isNotNull && col(outcomeCol) =!= "",
        concat(lit(", outcome="), col(outcomeCol))).otherwise(lit("")))
    slate.groupBy(groupCols.map(col): _*)
      .agg(array_join(
        transform(
          array_sort(collect_list(struct(col(rankCol).as("r"),
            label.as("l")))),
          x => x.getField("l")),
        " → ").as(out))
  }

  /** State-preferred fact fetch
    * (`retriever.py:214-223` `_fetch_facts`): from each group's top
    * `2k` facts by score, keep the `k` best that are APPLICABLE to the
    * current state (an empty/null `applicableCol` array means
    * universally applicable — the offline extractor never populates
    * it, so this filter only bites on curated fact tables); a group
    * with NO applicable fact falls back to its `k` best overall, and a
    * group whose current state is empty skips the preference entirely
    * (the reference's `if not state` early return). Output: the
    * selected fact rows + `matched` (did the state preference pick
    * this row).
    *
    * == Scale ==
    * Two rank windows and one per-group max — all keyed on the group;
    * the 2k pool bound is the reference's own, so per-group work is
    * O(k log k). */
  def preferStateApplicable(
      facts: DataFrame,
      groupCols: Seq[String],
      idCol: String,
      scoreCol: String,
      applicableCol: String,
      stateCol: String,
      k: Int): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    import org.apache.spark.sql.expressions.Window
    val g = groupCols.map(col)
    val byScore = Window.partitionBy(g: _*)
      .orderBy(col(scoreCol).desc, col(idCol).asc)
    val pool = facts
      .withColumn("__pr", row_number().over(byScore))
      .filter(col("__pr") <= 2 * k)
    val flagged = pool.withColumn("__m",
      col(stateCol) =!= "" &&
        (col(applicableCol).isNull || size(col(applicableCol)) === 0 ||
          array_contains(col(applicableCol), col(stateCol))))
    val withHas = flagged.withColumn("__has",
      max(when(col("__m"), 1).otherwise(0))
        .over(Window.partitionBy(g: _*)))
    val mRank = Window.partitionBy(g :+ col("__m"): _*)
      .orderBy(col("__pr").asc)
    withHas
      .withColumn("__mr", row_number().over(mRank))
      .filter(
        (col(stateCol) =!= "" && col("__has") === 1 && col("__m") &&
          col("__mr") <= k) ||
        ((col(stateCol) === "" || col("__has") === 0) && col("__pr") <= k))
      .withColumn("matched", col(stateCol) =!= "" && col("__m"))
      .drop("__pr", "__m", "__has", "__mr")
  }

  /** Reinforcement-decayed episode scoring
    * (`experiments/episodic-memory-prototype/memory/reinforcer.py`
    * `_update_episode_scores` over `retriever.py:91-104` outcomes):
    * each retrieval event feeds back
    * `blend · outcome · rankDecay^(rank−1)` into the episode's score,
    * and the running score decays by `carry` per subsequent event —
    * the recurrence `s ← s·carry + blend·v·rankDecay^(rank−1)`
    * (reference constants 0.7 / 0.3 / 0.9). Unrolled, the final score
    * is `Σ_t blend·v_t·rankDecay^(r_t−1)·carry^(later_t)`, which this
    * computes in ONE scan: no sequential state, no per-episode loop.
    *
    * `horizon` truncates to each episode's most recent `horizon`
    * events (`carry^16 ≈ 0.003` — older contributions are below
    * reporting resolution), which also bounds the weight table.
    *
    * == Exactness ==
    * Every (later, rank) weight is PRECOMPUTED in Scala as a rounded
    * micro-unit long and planted as a literal lookup table on both
    * the Spark and oracle sides, so the engines never evaluate a
    * data-dependent `pow()` (libm last-ulp hazard); the row term is an
    * integer product `v · w_micro` and the episode score an order-free
    * long sum. Event order is (orderCol, tieCol) descending — pass a
    * unique tiebreak (an event id) for a total order. Gate/knob scale
    * table: [[graft.ScaleProfile]]. */
  def reinforcementScores(
      log: DataFrame,
      episodeCol: String,
      orderCol: String,
      tieCol: String,
      rankCol: String,
      outcomeValCol: String,
      blend: Double = 0.3,
      carry: Double = 0.7,
      rankDecay: Double = 0.9,
      horizon: Int = 16,
      maxRank: Int = 32): DataFrame = {
    require(horizon >= 1 && maxRank >= 1, "horizon and maxRank must be >= 1")
    import org.apache.spark.sql.expressions.Window
    val weights = weightTableMicro(blend, carry, rankDecay, horizon, maxRank)
    val byRecency = Window.partitionBy(col(episodeCol))
      .orderBy(col(orderCol).desc, col(tieCol).desc)
    log
      .withColumn("__later", row_number().over(byRecency) - 1)
      .filter(col("__later") < horizon)
      // clamp from BOTH sides: ranks are 1-based by contract, but a
      // 0-based caller must not reach element_at index 0 (error) or a
      // negative index (silently reads from the array's end)
      .withColumn("__ri", greatest(
        least(col(rankCol).cast("int") - 1, lit(maxRank - 1)), lit(0)))
      .withColumn("__wm", element_at(typedlit(weights),
        (col("__later") * maxRank + col("__ri") + 1).cast("int")))
      .groupBy(col(episodeCol))
      .agg(count(lit(1)).as("n_events_used"),
        (sum(col(outcomeValCol).cast("long") * col("__wm"))
          .cast("double") / lit(1e6)).as("outcome_score"))
  }

  /** The flat `horizon × maxRank` micro-weight table
    * `round(blend · rankDecay^r · carry^l · 1e6)` indexed
    * `l·maxRank + r` — shared with oracle-SQL generation so both
    * engines read the identical literal longs. */
  def weightTableMicro(blend: Double, carry: Double, rankDecay: Double,
      horizon: Int, maxRank: Int): Seq[Long] = {
    val carryPows = Iterator.iterate(1.0)(_ * carry).take(horizon).toArray
    val rankPows = Iterator.iterate(1.0)(_ * rankDecay).take(maxRank).toArray
    for (l <- 0 until horizon; r <- 0 until maxRank)
      yield Math.round(blend * rankPows(r) * carryPows(l) * 1e6)
  }
}

/** Changed-row detection (SURVEY A7) — the skye Scylla aggregator's
  * delta path (`scylla_aggregator.go:47-93`): compare an incoming
  * snapshot against the stored one and emit only rows whose compared
  * columns changed (or are new), so downstream indexing touches the
  * minimum set.
  */
object ChangeCapture {
  /** Rows of `next` that are new or differ from `current` on any of
    * `compareCols` (null-safe comparison). One shuffle on pk. */
  def changedRows(
      current: DataFrame,
      next: DataFrame,
      pk: Seq[String],
      compareCols: Seq[String]): DataFrame = {
    val cur = compareCols.foldLeft(current.select((pk ++ compareCols).map(col): _*))(
      (d, c) => d.withColumnRenamed(c, s"__old_$c"))
    val joined = next.join(cur, pk, "left")
    val changed = compareCols.map(c => !(col(c) <=> col(s"__old_$c")))
      .reduce(_ || _)
    joined.filter(changed).drop(compareCols.map(c => s"__old_$c"): _*)
  }

  /** Collapse a per-key snapshot/event series into SCD2 validity
    * intervals: keep only rows where any of `valueCols` changed
    * (null-safe) vs the key's previous snapshot, stamp `valid_from` =
    * the snapshot time and `valid_to` = the next change's time (null
    * while current). The output is the feature HISTORY table
    * [[Training.pointInTime]] consumes — snapshots → history → PIT
    * join closes the training-data loop. One window shuffle on the
    * key; input must be unique per (keys, tsCol). */
  def scd2(
      snapshots: DataFrame,
      keys: Seq[String],
      tsCol: String,
      valueCols: Seq[String]): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(keys.map(col): _*).orderBy(col(tsCol).asc)
    val changed = valueCols.map(c => !(col(c) <=> lag(col(c), 1).over(w)))
      .reduce(_ || _) || lag(col(tsCol), 1).over(w).isNull
    val wc = org.apache.spark.sql.expressions.Window
      .partitionBy(keys.map(col): _*).orderBy(col("valid_from").asc)
    snapshots
      .withColumn("__chg", changed)
      .filter(col("__chg"))
      .withColumnRenamed(tsCol, "valid_from")
      .withColumn("valid_to", lead(col("valid_from"), 1).over(wc))
      .drop("__chg")
  }
}
