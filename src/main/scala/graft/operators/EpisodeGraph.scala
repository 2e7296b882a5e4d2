package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.functions.Similarity

/** Episode-graph link inference — the reference's `auto_link`
  * (`experiments/episodic-memory-prototype/memory/graph.py:44-104`)
  * re-expressed as DataFrame algebra. Two inferred relationship types:
  *
  *  - CONTINUATION: chronologically ADJACENT episodes (consecutive in
  *    the global start-time order — an episode of another state
  *    BETWEEN two same-state episodes breaks their adjacency, exactly
  *    as the reference's `zip(by_time[:-1], by_time[1:])` does), both
  *    states non-empty and equal, and the gap `curr.start − prev.end`
  *    at most `maxGap` (negative gaps — overlap — link too; only the
  *    upper bound is checked). Edge prev → curr, strength 1.0 (the
  *    reference's `EpisodeLink` default).
  *  - RETRY_OF: a later episode whose embedding sits within
  *    `simThreshold` cosine of an EARLIER FAILED episode of the same
  *    (non-empty) state; both embeddings must be present. Edge
  *    candidate → failed, strength = the cosine.
  *
  * Determinism deviation from the reference: Python's stable sort
  * leaves equal start times in input order, which a distributed table
  * does not have — both legs use the total order `(start, id)`
  * instead, so "adjacent" and "earlier" are pure functions of the data.
  *
  * == Scale design ==
  * Adjacency needs a GLOBAL rank — computed with [[PrefixSum]]'s
  * range-partitioned lineage (nothing materializes more than
  * `spark.sql.shuffle.partitions` rows on one partition), then
  * consecutive ranks meet in a plain equi-join on the rank value. The
  * RETRY_OF pair generator is blocked by the state key (an equi-join, never
  * all-pairs — the [[SimilaritySearch.nearDupPairs]] posture); its
  * within-state pair mass is the data's own retry structure, and a
  * degenerate hot state is kept off a single executor by
  * `maxStateBlock` ([[Skew.cappedFanJoin]], the shared census-adaptive
  * kernel: hot states sub-split into hash-salted
  * sub-blocks, every in-state pair still meets exactly once, output
  * row-identical — cold states pay zero replication). Scale table:
  * graft.ScaleProfile.
  */
object EpisodeGraph {

  /** Infer CONTINUATION + RETRY_OF links from an episode table.
    * Output: `(src, dst, link_type, strength)`.
    *
    * @param episodes   one row per episode: `idCol` (unique),
    *                   `stateCol` (nullable string; null/"" = no
    *                   state), `startCol`/`endCol` (numeric event
    *                   time, same unit as `maxGap`), `outcomeCol`,
    *                   `embCol` (nullable array)
    * @param maxGap     largest `curr.start − prev.end` that still
    *                   CONTINUATIONs (reference default 3600 s)
    * @param simThreshold cosine floor for RETRY_OF (reference 0.55)
    * @param maxStateBlock `> 0` sub-splits hot states so one join
    *                   task sees at most ~this many failed rows
    */
  def autoLink(
      episodes: DataFrame,
      simThreshold: Double = 0.55,
      maxGap: Long = 3600L,
      idCol: String = "episode_id",
      stateCol: String = "state",
      startCol: String = "start_ts",
      endCol: String = "end_ts",
      outcomeCol: String = "outcome",
      embCol: String = "embedding",
      failureValue: String = "failure",
      maxStateBlock: Int = 0): DataFrame = {
    // the episode table feeds three lineages (rank, candidate leg,
    // failed leg) — materialize once (RangeJoin convention)
    val base = episodes.select(col(idCol), col(stateCol),
        col(startCol), col(endCol), col(outcomeCol), col(embCol))
      .transform(Pins.heavy)

    // -- CONTINUATION: global (start, id) rank, consecutive ranks join
    val ranked = PrefixSum.inclusiveBy(
      base.withColumn("__w", lit(1L)),
      Seq(col(startCol).asc, col(idCol).asc), "__w", "__rk")
    val prev = ranked.select(col(idCol).as("__pid"),
      col(stateCol).as("__pstate"), col(endCol).as("__pen"),
      (col("__rk") + 1L).as("__rk"))
    val cont = ranked.join(prev, "__rk")
      .filter(col("__pstate") =!= "" && col(stateCol) =!= "" &&
        col("__pstate") === col(stateCol) &&
        (col(startCol) - col("__pen")) <= maxGap)
      .select(col("__pid").as("src"), col(idCol).as("dst"),
        lit("continuation").as("link_type"), lit(1.0).as("strength"))

    // -- RETRY_OF: state-blocked ordered pairs, cosine-thresholded.
    // Norms staged per VECTOR before the pair join (nearDupPairs
    // convention); the same ascending-index fold as the SQL oracle.
    val cand = base
      .filter(col(stateCol) =!= "" && col(embCol).isNotNull)
      .select(col(stateCol).as("__st"), col(idCol).as("__cid"),
        col(startCol).as("__cst"),
        col(embCol).cast("array<double>").as("__ce"))
      .withColumn("__cn", Similarity.l2(col("__ce")))
    val fail = base
      .filter(col(outcomeCol) === failureValue && col(embCol).isNotNull)
      .select(col(stateCol).as("__st"), col(idCol).as("__fid"),
        col(startCol).as("__fst"),
        col(embCol).cast("array<double>").as("__fe"))
      .withColumn("__fn", Similarity.l2(col("__fe")))
    val paired =
      if (maxStateBlock <= 0) cand.join(fail, Seq("__st"))
      else Skew.cappedFanJoin(cand, fail, Seq("__st"),
        Seq(col("__fid")), maxStateBlock)
    val retry = paired
      .filter(col("__fst") < col("__cst") ||
        (col("__fst") === col("__cst") && col("__fid") < col("__cid")))
      .select(col("__cid").as("src"), col("__fid").as("dst"),
        (Similarity.dot(col("__ce"), col("__fe")) /
          (col("__cn") * col("__fn"))).as("strength"))
      .filter(col("strength") >= simThreshold)
      .select(col("src"), col("dst"), lit("retry_of").as("link_type"),
        col("strength"))

    cont.unionByName(retry)
  }

  /** Episode boundary detection + segmentation — the reference's
    * `EpisodeBoundaryDetector` (`experiments/episodic-memory-prototype/
    * memory/episodes.py:49-103`) as DataFrame algebra, the FRONT of
    * the episodic chain ([[detectEpisodes]] → [[autoLink]] →
    * traversal/MMR).
    *
    * Per consecutive timeline-entry pair in global `(ts, id)` order
    * (the same total-order determinism deviation as [[autoLink]] —
    * Python's stable sort has an input order a distributed table does
    * not), the boundary score is
    * `stateWeight·flip + semanticWeight·shift` where `flip` = 1 iff
    * the state labels differ AND both are non-empty
    * (`episodes.py:78-82`), and `shift` = `1 − max(cos, 0)` when both
    * embeddings are present else 0 (`episodes.py:84-88`; the
    * reference's `cosine_similarity` returns 0 on a zero-norm pair —
    * mirrored here). A new episode starts where `score ≥ threshold`
    * (`episodes.py:70-71`); episode ids are the running count of
    * boundary flags; segments aggregate to one row per episode with
    * the reference's `Episode` fields (`episodes.py:111-124`): start/
    * end timestamps, first/last sequence id, entry count, the FIRST
    * entry's state, and (when `contentCol` is given) the offline
    * fallback summary `"<n> entries: <first 80 chars>…"`
    * (`episodes.py:158-161` — the Claude-API summary path is an
    * external model call, not portable semantics).
    *
    * == Scale design ==
    * Global adjacency and segment numbering both ride
    * [[PrefixSum]]'s range-partitioned lineage (never a
    * single-partition window): one ranked pass for the
    * consecutive-pair join, one prefix sum over the boundary flags,
    * one hash aggregation per episode. Nothing materializes more than
    * `spark.sql.shuffle.partitions` rows on one partition.
    *
    * Output: `(episode_idx, start_ts, end_ts, entry_start, entry_end,
    * n_entries, state[, summary])`.
    */
  def detectEpisodes(
      entries: DataFrame,
      threshold: Double = 0.5,
      stateWeight: Double = 0.6,
      semanticWeight: Double = 0.4,
      idCol: String = "entry_id",
      tsCol: String = "ts",
      stateCol: String = "state",
      embCol: String = "embedding",
      contentCol: String = ""): DataFrame = {
    val hasContent = contentCol.nonEmpty
    val base = entries.select(
      Seq(col(idCol), col(tsCol),
        coalesce(col(stateCol), lit("")).as(stateCol),
        col(embCol).cast("array<double>").as(embCol),
        Similarity.l2(col(embCol)).as("__n")) ++
        (if (hasContent) Seq(col(contentCol)) else Nil): _*)
    val ranked = PrefixSum.inclusiveBy(
      base.withColumn("__w", lit(1L)),
      Seq(col(tsCol).asc, col(idCol).asc), "__w", "__rk").drop("__w")
    val prev = ranked.select(col(stateCol).as("__pstate"),
      col(embCol).as("__pemb"), col("__n").as("__pn"),
      (col("__rk") + 1L).as("__rk"))
    // left join: rank 1 has no predecessor -> score 0 (never a boundary)
    val flip = when(col("__pstate") =!= col(stateCol) &&
        col("__pstate") =!= "" && col(stateCol) =!= "", lit(1.0))
      .otherwise(lit(0.0))
    val denom = col("__pn") * col("__n")
    val cos = when(denom === 0.0, lit(0.0))
      .otherwise(Similarity.dot(col("__pemb"), col(embCol)) / denom)
    val shift = when(col("__pemb").isNotNull && col(embCol).isNotNull,
      lit(1.0) - greatest(cos, lit(0.0))).otherwise(lit(0.0))
    val scored = ranked.join(prev, Seq("__rk"), "left")
      .withColumn("__flag",
        when(col("__pstate").isNotNull &&
          lit(stateWeight) * flip + lit(semanticWeight) * shift >=
            threshold, lit(1L)).otherwise(lit(0L)))
    val seg = PrefixSum.inclusiveBy(scored, Seq(col("__rk").asc),
      "__flag", "episode_idx")
    val aggs = Seq(
      min(col(tsCol)).as("start_ts"), max(col(tsCol)).as("end_ts"),
      min_by(col(idCol), col("__rk")).as("entry_start"),
      max_by(col(idCol), col("__rk")).as("entry_end"),
      count(lit(1)).as("n_entries"),
      min_by(col(stateCol), col("__rk")).as("state")) ++
      (if (hasContent)
        Seq(concat(count(lit(1)).cast("string"), lit(" entries: "),
          substring(min_by(col(contentCol), col("__rk")), 1, 80),
          lit("…")).as("summary"))
      else Nil)
    seg.groupBy(col("episode_idx")).agg(aggs.head, aggs.tail: _*)
  }

  /** Greedy fact-corpus embedding merge — the reference's no-API
    * fallback `FactExtractor._merge_or_add` / `_merge_or_add_basic`
    * (`experiments/episodic-memory-prototype/memory/facts.py:124-147`):
    * facts are folded IN ORDER; each one merges into the FIRST
    * existing fact whose embedding sits within `mergeThreshold` cosine
    * (the merged fact keeps the existing embedding — the reference
    * bumps `support_count` without re-embedding), else it appends as a
    * new fact. "First in list order" = the earliest-appended survivor,
    * which under the `idCol`-ascending processing order (the same
    * total-order determinism deviation as [[autoLink]]) is the
    * matching survivor with the SMALLEST id. The reference's
    * `cosine_similarity` returns 0 on a zero-norm pair
    * (`models.py:29-34`) — mirrored, so zero vectors never merge.
    *
    * == Scale posture ==
    * The fold is sequentially dependent (each decision conditions on
    * every prior survivor), so this is a BOUNDED DRIVER-SIDE kernel —
    * the [[PcaRotate]] house precedent — with a LOUD cap: more than
    * `maxFacts` input rows fails the job rather than silently
    * truncating (a generalized-fact corpus is small by construction;
    * past the cap, use [[mergeFactsClustered]] — the distributed
    * per-component composition, identical output under exact
    * blocking). Null-embedding rows are skipped, matching the
    * reference's summary-less-episode skip (`facts.py:126-127`).
    *
    * Output: one row per fact — `(fact_id, leader_id, is_new)`;
    * `leader_id = fact_id` iff the fact survived as its own leader.
    * Per-leader `support_count` is `count(*) GROUP BY leader_id`.
    */
  def mergeFacts(
      facts: DataFrame,
      mergeThreshold: Double = 0.80,
      idCol: String = "fact_id",
      embCol: String = "embedding",
      maxFacts: Int = 4096): DataFrame = {
    require(mergeThreshold > 0.0,
      s"mergeThreshold must be > 0 (the zero-norm guard maps degenerate " +
        s"pairs to similarity 0), got $mergeThreshold")
    val spark = facts.sparkSession
    import spark.implicits._
    val rows = facts
      .filter(col(embCol).isNotNull)
      .select(col(idCol).cast("long"), col(embCol).cast("array<double>"))
      .orderBy(col(idCol).asc)
      .limit(maxFacts + 1)
      .as[(Long, Seq[Double])].collect()
    require(rows.length <= maxFacts,
      s"mergeFacts is a bounded driver-side fold: input exceeds " +
        s"maxFacts=$maxFacts; shard the fact corpus or raise the cap " +
        s"deliberately (ScaleProfile)")
    rows.iterator.sliding(2).withPartial(false).foreach { w =>
      require(w(0)._1 != w(1)._1,
        s"mergeFacts needs unique $idCol values; duplicate id ${w(0)._1}")
    }
    greedyFold(rows.iterator.map { case (id, e) => (id, e.toArray) }
        .toIndexedSeq, mergeThreshold)
      .toDF(idCol, "leader_id", "is_new")
  }

  /** The greedy merge kernel shared by [[mergeFacts]] (driver-side,
    * whole corpus) and [[mergeFactsClustered]] (executor-side, one
    * component at a time): fold `rows` in the GIVEN order, each fact
    * merging into the first surviving leader within `threshold`
    * cosine, else appending as its own leader. Callers pass rows
    * already sorted by id ascending (the reference's list order under
    * the id-ascending determinism deviation).
    *
    * The exact per-pair arithmetic of the SQL oracle: ascending-index
    * double fold for the dot and the squared norms, sqrt·sqrt
    * denominator — IEEE-identical on recomputation, so the decision
    * boundary reproduces bit-for-bit in any engine. Zero-norm pairs
    * read as similarity 0 (`models.py:29-34`), so zero vectors never
    * merge. */
  private[graft] def greedyFold(
      rows: IndexedSeq[(Long, Array[Double])],
      threshold: Double): IndexedSeq[(Long, Long, Boolean)] = {
    def dot(a: Array[Double], b: Array[Double]): Double = {
      var s = 0.0; var i = 0
      while (i < a.length) { s += a(i) * b(i); i += 1 }
      s
    }
    val emb = rows.map(_._2)
    val norms = emb.map(v => math.sqrt(dot(v, v)))
    val leaders = scala.collection.mutable.ArrayBuffer.empty[Int]
    rows.indices.map { i =>
      val hit = leaders.find { j =>
        val den = norms(i) * norms(j)
        den != 0.0 && dot(emb(i), emb(j)) / den >= threshold
      }
      hit match {
        case Some(j) => (rows(i)._1, rows(j)._1, false)
        case None => leaders += i; (rows(i)._1, rows(i)._1, true)
      }
    }
  }

  /** [[mergeFacts]] past the driver-side cap — the composition
    * [[graft.ScaleProfile]] prescribes for over-cap fact corpora,
    * now code instead of advice: pre-cluster the corpus with the
    * blocked near-dup pair generator, take connected components over
    * the thresholded pairs, and run the SAME greedy kernel per
    * component on the executors.
    *
    * == Why per-component equals global ==
    * In the global fold, fact `i` can only merge into a surviving
    * leader `j < i` with `cos(i,j) >= mergeThreshold` — that pair IS
    * a threshold edge, so `i` and `j` sit in the same component; and
    * whether `j` survived depends, inductively, only on facts
    * threshold-connected to `j`. The global fold therefore decomposes
    * exactly into independent folds per threshold-component. With the
    * EXACT edge set (`cells = 1`, every pair examined — the q291 gate
    * configuration) the output is IDENTICAL to [[mergeFacts]], row
    * for row. With blocked edges (`cells > 1` or `targetCellSize >
    * 0`) a >= threshold pair whose endpoints land in different
    * k-means cells is unseen, and the fold runs greedy over the
    * OBSERVED edge subgraph: every emitted merge still satisfies the
    * threshold (soundness is unconditional — spec-pinned), but the
    * leader structure can differ from global in EITHER direction (a
    * cut edge can strand a fact as its own leader, and by removing a
    * would-be leader's own merge it can also enable a merge global
    * never made). Equality holds exactly when no threshold edge
    * crosses cells — the same recall trade the SemDeDup gates
    * (q184/q285/q287) document for the pair generator itself; use
    * exact blocking when global-equality matters.
    *
    * == Scale posture ==
    * No driver-side collect anywhere: pairs are the blocked SemDeDup
    * join (one shuffle on the cell, pair mass ~n·targetCellSize),
    * components are min-label propagation (one shuffle per round,
    * rounds ~ component diameter), and the fold runs inside
    * `flatMapGroups` with per-COMPONENT memory bounded by
    * `maxComponent` (loud failure, never truncation — a component
    * bigger than the cap means the threshold is so low the corpus is
    * one merge-blob, which is a modeling problem, not a capacity
    * one). 100×: raise `targetCellSize`-driven cell counts, not the
    * component cap.
    *
    * Output contract identical to [[mergeFacts]]:
    * `(fact_id, leader_id, is_new)`. Null-embedding rows are skipped
    * (the reference's summary-less-episode skip, `facts.py:126-127`).
    */
  def mergeFactsClustered(
      facts: DataFrame,
      mergeThreshold: Double,
      cells: Int,
      iters: Int,
      idCol: String = "fact_id",
      embCol: String = "embedding",
      targetCellSize: Long = 0L,
      maxComponent: Int = 4096): DataFrame = {
    require(mergeThreshold > 0.0,
      s"mergeThreshold must be > 0 (the zero-norm guard maps degenerate " +
        s"pairs to similarity 0), got $mergeThreshold")
    val spark = facts.sparkSession
    import spark.implicits._
    // one scan feeds both the pair generator and the component join
    val f = facts
      .filter(col(embCol).isNotNull)
      .select(col(idCol).cast("long").as("__fid"),
        col(embCol).cast("array<double>").as("__femb"))
      .transform(Pins.heavy)
    // the pair generator keeps cosine STRICTLY > its threshold while
    // the merge kernel folds at >= mergeThreshold; nextDown makes the
    // edge set exactly {cos >= mergeThreshold} (no double exists
    // strictly between nextDown(t) and t), so a pair sitting exactly
    // ON the boundary — q288's spec-pinned case — still edges
    val edgeThreshold = math.nextDown(mergeThreshold)
    val pairs =
      if (cells == 1 && targetCellSize <= 0L)
        // exact mode (the gate configuration): one block holds the
        // whole corpus, so the k-means is pure overhead — and its
        // id-stride seeding would (loudly) demand dense-from-0 ids
        // that arbitrary fact ids need not satisfy
        SimilaritySearch.nearDupPairs(
          f.withColumn("__cell", lit(0)), "__cell", edgeThreshold,
          "__fid", "__femb")
      else
        SimilaritySearch.semanticNearDupPairs(f,
          cells = cells, iters = iters, threshold = edgeThreshold,
          idCol = "__fid", embCol = "__femb",
          targetCellSize = targetCellSize)
    // components = min reachable id over the threshold edges. Facts
    // with no edge are their own singleton component (left join,
    // coalesce to own id).
    val comps = connectedComponents(pairs,
      aCol = "id_a", bCol = "id_b", outId = "__fid")
    val thr = mergeThreshold
    val maxC = maxComponent
    val idColName = idCol
    f.join(comps, Seq("__fid"), "left")
      .select(coalesce(col("component"), col("__fid")).as("__comp"),
        col("__fid"), col("__femb"))
      .as[(Long, Long, Seq[Double])]
      .groupByKey(_._1)
      .flatMapGroups { (comp, it) =>
        val rows = it.map(r => (r._2, r._3.toArray)).toIndexedSeq
        require(rows.size <= maxC,
          s"mergeFactsClustered: component $comp holds ${rows.size} " +
            s"facts > maxComponent=$maxC — the threshold merges the " +
            s"corpus into one blob; raise the threshold or the cap " +
            s"deliberately (ScaleProfile)")
        val sorted = rows.sortBy(_._1)
        // duplicate ids would fold as two facts and emit two rows per
        // id — the silent corruption mergeFacts refuses loudly; refuse
        // here too. Adjacency after the sort catches every duplicate:
        // copies of one id always land in the SAME component (the
        // component join keys on the id, and unpaired ids coalesce to
        // their own id), so cross-component duplicates cannot exist.
        var i = 1
        while (i < sorted.size) {
          require(sorted(i - 1)._1 != sorted(i)._1,
            s"mergeFactsClustered needs unique $idColName values; " +
              s"duplicate id ${sorted(i)._1}")
          i += 1
        }
        greedyFold(sorted, thr).iterator
      }
      .toDF(idCol, "leader_id", "is_new")
  }

  /** First round that adds the pointer-jump shortcut to
    * [[connectedComponents]]'s label propagation: the first rounds
    * stay single-shuffle because near-clique graphs converge in 2–3
    * and must not pay the jump join. */
  private[operators] val JumpFrom = 3

  /** Connected components over an undirected pair list →
    * `(outId, component)` with component = minimum reachable id (the
    * canonical representative: [[mergeFactsClustered]] folds each
    * component of its similarity edges on its own).
    *
    * Iterative min-label propagation (the star-contraction family,
    * cf. Kiveris et al., "Connected Components in MapReduce"): each
    * round every node adopts the minimum label over its closed
    * neighborhood — one shuffle per round, rounds bounded by component
    * diameter (similarity clusters are near-cliques, so 2–3 in practice).
    * `localCheckpoint` truncates lineage between rounds so the plan
    * stays O(1) regardless of iteration count — the shape that holds on
    * a billion-edge pair list.
    *
    * == Deep components: pointer jumping ==
    * Edge propagation alone moves a label ONE hop per round, so a
    * chain-shaped component (smeared arcs of near-duplicates) needs
    * diameter rounds. From round [[JumpFrom]] on, each round
    * also SHORTCUTS through the label table itself — `L(v) ←
    * min(L(v), L(L(v)))`, the classic pointer-jumping step (labels
    * are node ids, and a label's own label is a strictly-better bound
    * in the same component) — which doubles the covered distance per
    * round: total rounds O(JumpFrom + log₂ diameter), so the default
    * budget of 25 covers components millions of hops deep. The first
    * [[JumpFrom]] rounds stay single-shuffle because near-clique
    * graphs (the overwhelmingly common case) converge there and
    * should not pay the jump join's second shuffle. Exhausting
    * `maxIters` without the fixpoint still fails loudly — unconverged
    * labels split phantom components and under-merge silently.
    */
  def connectedComponents(
      pairs: DataFrame,
      maxIters: Int = 25,
      aCol: String = "id_a",
      bCol: String = "id_b",
      outId: String = "doc_id"): DataFrame = {
    // no distinct: min-label propagation is idempotent under duplicate
    // edges, so the distinct shuffle would be pure cost.
    // (Tried and reverted, r12: pre-partitioning edges by dst before
    // the checkpoint to spare the per-round join exchange — the
    // LogicalRDD that localCheckpoint plans does NOT surface the
    // partitioning to the join (both sides still Exchange+Sort in the
    // explain), and the sweep measured zero change. The per-round
    // edge shuffle is the price of the loop on this engine.)
    // pin the DIRECTED pair list once and derive both orientations
    // from the pinned table: a union-then-checkpoint runs the whole
    // upstream pair pipeline once per union leg wherever exchange
    // reuse doesn't cover it (AQE's broadcast rewrites defeat
    // ReuseExchange at small scale), and materializes 2|E| rows where
    // |E| suffice
    val directed = pairs.select(col(aCol).as("src"), col(bCol).as("dst"))
      .transform(Pins.heavy)
    val edges = directed.unionByName(
      directed.select(col("dst").as("src"), col("src").as("dst")))
    // round 0 fused into initialization: every node starts at the min
    // of its closed neighborhood (one aggregation, no convergence probe)
    var labels = edges
      .groupBy(col("src").as(outId))
      .agg(least(col(outId), min(col("dst"))).as("component"))
      .localCheckpoint()
    var iter = 0
    var converged = false
    while (iter < maxIters && !converged) {
      val viaEdges = edges
        .join(labels.withColumnRenamed(outId, "dst"), "dst")
        .select(col("src").as(outId), col("component"),
          lit(null).cast(labels.schema("component").dataType).as("__old"))
      // carry the previous label through the same aggregation so the
      // convergence test is a scan of the checkpointed result — no
      // extra join-with-previous job per round
      val next = labels
        .select(col(outId), col("component"), col("component").as("__old"))
        .unionByName(viaEdges)
        .groupBy(outId)
        .agg(min("component").as("component"), min("__old").as("__old"))
        .localCheckpoint()
      // pointer jumping from round JumpFrom on (scaladoc): every label
      // is itself a node id of the same component, so shortcutting
      // through the label's OWN label halves the remaining distance
      // per round. `__old` still holds the PREVIOUS round's label, so
      // a jump-only improvement correctly reads as progress below.
      val stepped =
        if (iter < JumpFrom) next
        else {
          val parent = next.select(col(outId).as("__pid"),
            col("component").as("__pcomp"))
          next.join(parent, col("component") === col("__pid"), "left")
            .select(col(outId),
              least(col("component"),
                coalesce(col("__pcomp"), col("component")))
                .as("component"),
              col("__old"))
            .localCheckpoint()
        }
      // labels only ever decrease; fixpoint when no strict decrease
      converged = stepped.filter(col("component") < col("__old")).isEmpty
      labels = stepped.select(col(outId), col("component"))
      iter += 1
    }
    // Unconverged labels are SILENTLY WRONG downstream (a chain-shaped
    // component whose min id sits > maxIters hops from the far end
    // splits into phantom components — mergeFactsClustered's
    // global-equality claim breaks) — so exhaustion fails the job
    // instead of returning them. Components
    // that deep mean maxIters is undersized for the graph's diameter:
    // raise it deliberately (rounds are one shuffle each; the typical
    // similarity cluster is dense and converges in a handful).
    require(converged,
      s"connectedComponents did not converge in maxIters=$maxIters " +
        s"rounds — a component's min-id node is deeper than that; " +
        s"raise maxIters (cost: one shuffle per round)")
    labels
  }
}
