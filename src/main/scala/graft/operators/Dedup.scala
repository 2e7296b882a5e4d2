package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.functions.TextFunctions._
import graft.functions.Hashing.md5Hash60

/** Document deduplication for training-data pipelines: exact,
  * MinHash+LSH, SimHash, n-gram Jaccard (embedding-cosine near-dup
  * lives in [[SimilaritySearch.nearDupPairs]]).
  *
  * == Scale design ==
  * Exact dedup is one shuffle on the fingerprint. The near-dup ops
  * never do an unblocked self-join: MinHash pairs meet through band
  * buckets (shuffle on bucket key; bucket sizes bounded by signature
  * similarity, skew re-split by AQE), SimHash pairs through byte-block
  * keys — the classic "hamming ≤ t via block permutation" trick. Only
  * candidate pairs are re-verified exactly.
  */
object Dedup {

  /** Exact dedup on normalized-text fingerprint: keep the smallest id
    * per group (deterministic canonical representative). */
  def exact(docs: DataFrame, textCol: String = "text",
      idCol: String = "doc_id"): DataFrame = {
    val w = Window.partitionBy(col("__fp")).orderBy(col(idCol).asc)
    docs.withColumn("__fp", fingerprint(col(textCol)))
      .withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1)
      .drop("__fp", "__rn")
  }

  /** MinHash+LSH near-dup pairs: shingle → k-minima signature → band
    * buckets → bucket-join candidates → exact shingle-set Jaccard
    * verification at `threshold`.
    *
    * Staged so every expensive array (word split, shingles, md5 base
    * hashes) is computed once per row; the k signature entries are
    * cheap affine transforms of the one hash array. The bucket join and
    * the candidate `distinct` carry only (band, bucket, id) — shingle
    * arrays re-enter by id join only for the surviving candidate pairs. */
  def minhashLshPairs(
      docs: DataFrame,
      n: Int = 3,
      k: Int = 8,
      bands: Int = 4,
      threshold: Double = 0.5,
      textCol: String = "text",
      idCol: String = "doc_id"): DataFrame = {
    // r18 (guide §2.4, r17 verdict item 6): pin the staged
    // (id, distinct shingles, signature) table. `base` feeds FOUR
    // lineages — both sides of the banded self-join and both jaccard
    // re-entry joins — and only the SMJ regime's ReuseExchange
    // deduplicated the first two; under AQE's broadcast rewrite (and
    // always for the jaccard joins, whose projections differ) the
    // shingle/md5 kernel re-executed per consumer. One pin = one
    // kernel execution under every join regime.
    val base = docs
      .select(col(idCol), words(col(textCol)).as("__w"))
      .select(col(idCol), shinglesFromWords(col("__w"), n).as("__sg"))
      .select(col(idCol), array_distinct(col("__sg")).as("__shd"),
        minhashOfShingles(col("__sg"), k).as("__sig"))
      .transform(Pins.heavy)
    val banded = base
      .select(col(idCol), explode(bandKeys(col("__sig"), k, bands)).as("__band"))
      .select(col(idCol), col("__band.band_idx").as("band_idx"),
        col("__band.bucket").as("bucket"))
    val cand = banded.as("l").join(banded.as("r"),
        col("l.band_idx") === col("r.band_idx") &&
        col("l.bucket") === col("r.bucket") &&
        col(s"l.$idCol") < col(s"r.$idCol"))
      .select(col(s"l.$idCol").as("id_a"), col(s"r.$idCol").as("id_b"))
      .distinct()  // a pair may collide in several bands
    val sh = base.select(col(idCol), col("__shd"))
    cand
      .join(sh.select(col(idCol).as("id_a"), col("__shd").as("__sha")), "id_a")
      .join(sh.select(col(idCol).as("id_b"), col("__shd").as("__shb")), "id_b")
      .withColumn("jaccard",
        size(array_intersect(col("__sha"), col("__shb"))).cast("double") /
          size(array_union(col("__sha"), col("__shb"))).cast("double"))
      .filter(col("jaccard") >= threshold)
      .select(col("id_a"), col("id_b"), col("jaccard"))
  }

  /** Incremental exact dedup: drop arriving documents whose content
    * fingerprint already exists in the accumulated index, dedupe the
    * batch internally (first doc id wins), and emit the index rows
    * the survivors add — the daily-crawl shape, where re-hashing the
    * whole historical corpus per batch is the scaling anti-pattern
    * this operator exists to avoid. Fingerprints are [[exact]]'s
    * md5 of the whitespace-normalized text, so an index accumulated
    * by either operator interoperates with the other.
    *
    * == Scale ==
    * The batch hashes row-locally; ONE anti-join against the index
    * (batch-sized build side broadcast or shuffled as AQE sizes it)
    * plus one in-batch first-wins aggregate. The historical corpus is
    * touched only through its fingerprint column. Output: surviving
    * batch rows + their `fingerprint` (the index delta is
    * `.select(idCol, "fingerprint")`). */
  def dedupAgainstIndex(
      batch: DataFrame,
      index: DataFrame,
      idCol: String = "doc_id",
      textCol: String = "text",
      fpCol: String = "fingerprint"): DataFrame = {
    val hashed = batch.withColumn("fingerprint",
      fingerprint(col(textCol)))
    val fresh = hashed.join(
      index.select(col(fpCol).as("fingerprint")).distinct(),
      Seq("fingerprint"), "left_anti")
    val winners = fresh.groupBy(col("fingerprint"))
      .agg(min(col(idCol)).as(idCol))
    fresh.join(winners, Seq("fingerprint", idCol))
  }

  /** Signature-vs-truth audit for the MinHash pipeline: for every LSH
    * candidate pair, the sketch's Jaccard estimate (matching
    * signature components / k) next to the EXACT shingle Jaccard —
    * the calibration table that justifies a chosen (k, bands)
    * configuration before trusting it on a corpus (E[est] = J, and
    * this table shows the realized spread). Same shingling,
    * signatures, and banding as [[minhashLshPairs]].
    *
    * == Scale ==
    * The banded self-join bounds candidates exactly as the dedup path
    * does; the audit adds only the k-component match count per
    * candidate (row-local zip). Output:
    * `(id_a, id_b, est_jaccard, jaccard, abs_err)`. */
  def minhashEstimateAudit(
      docs: DataFrame,
      n: Int = 3,
      k: Int = 8,
      bands: Int = 4,
      textCol: String = "text",
      idCol: String = "doc_id"): DataFrame = {
    // one pin, one shingle/md5 kernel execution under every join
    // regime — the [[minhashLshPairs]] r18 convention (four consumers:
    // both banded sides, both audit re-entry joins)
    val base = docs
      .select(col(idCol), words(col(textCol)).as("__w"))
      .select(col(idCol), shinglesFromWords(col("__w"), n).as("__sg"))
      .select(col(idCol), array_distinct(col("__sg")).as("__shd"),
        minhashOfShingles(col("__sg"), k).as("__sig"))
      .transform(Pins.heavy)
    val banded = base
      .select(col(idCol), explode(bandKeys(col("__sig"), k, bands)).as("__band"))
      .select(col(idCol), col("__band.band_idx").as("band_idx"),
        col("__band.bucket").as("bucket"))
    val cand = banded.as("l").join(banded.as("r"),
        col("l.band_idx") === col("r.band_idx") &&
        col("l.bucket") === col("r.bucket") &&
        col(s"l.$idCol") < col(s"r.$idCol"))
      .select(col(s"l.$idCol").as("id_a"), col(s"r.$idCol").as("id_b"))
      .distinct()
    val side = base.select(col(idCol), col("__shd"), col("__sig"))
    cand
      .join(side.select(col(idCol).as("id_a"), col("__shd").as("__sha"),
        col("__sig").as("__siga")), "id_a")
      .join(side.select(col(idCol).as("id_b"), col("__shd").as("__shb"),
        col("__sig").as("__sigb")), "id_b")
      .withColumn("est_jaccard",
        size(filter(zip_with(col("__siga"), col("__sigb"),
          (a, b) => a === b), x => x)).cast("double") / lit(k.toDouble))
      .withColumn("jaccard",
        size(array_intersect(col("__sha"), col("__shb"))).cast("double") /
          size(array_union(col("__sha"), col("__shb"))).cast("double"))
      .withColumn("abs_err", abs(col("est_jaccard") - col("jaccard")))
      .select(col("id_a"), col("id_b"), col("est_jaccard"),
        col("jaccard"), col("abs_err"))
  }

  /** SimHash near-dup pairs: hamming(simhash_a, simhash_b) ≤ maxDist.
    * Candidates generated by splitting the `bits`-bit hash into
    * `blocks` equal bit-blocks — any pair within hamming ≤ blocks-1
    * shares at least one identical block (pigeonhole). */
  def simhashPairs(
      docs: DataFrame,
      maxDist: Int = 3,
      bits: Int = 32,
      blocks: Int = 4,
      textCol: String = "text",
      idCol: String = "doc_id"): DataFrame = {
    require(bits % blocks == 0)
    val bw = bits / blocks
    val mask = (1L << bw) - 1
    val hashed = docs
      .select(col(idCol), words(col(textCol)).as("__w"))
      .select(col(idCol), simhashOfWords(col("__w"), bits).as("__sh"))
    val blocked = hashed.select(col(idCol), col("__sh"),
        explode(array((0 until blocks).map { b =>
          struct(lit(b).as("block_idx"),
            shiftright(col("__sh"), b * bw).bitwiseAND(lit(mask)).as("block"))
        }: _*)).as("__b"))
      .select(col(idCol), col("__sh"),
        col("__b.block_idx").as("block_idx"), col("__b.block").as("block"))
    // Self-join with STRUCTURALLY IDENTICAL sides (aliases, renames only
    // above the join) so ReuseExchange/ReuseSubquery evaluates the
    // simhash chain and its shuffle once instead of once per side.
    // hamming is a codegen'd bit_count on two longs — filtering BEFORE
    // the dedup shuffle drops the (dominant) random block collisions
    // that fail the distance test, so distinct() only sees survivors.
    blocked.as("l").join(blocked.as("r"),
        col("l.block_idx") === col("r.block_idx") &&
        col("l.block") === col("r.block") &&
        col(s"l.$idCol") < col(s"r.$idCol") &&
        hamming(col("l.__sh"), col("r.__sh")) <= maxDist)
      .select(col(s"l.$idCol").as("id_a"), col(s"r.$idCol").as("id_b"),
        hamming(col("l.__sh"), col("r.__sh")).as("hamming_dist"))
      .distinct()
  }

  /** Connected components over an undirected near-dup pair list →
    * `(doc_id, component)` with component = minimum reachable id (the
    * canonical representative for cluster-level dedup, turning pairwise
    * near-dup hits into keep/drop decisions).
    *
    * Iterative min-label propagation (the star-contraction family,
    * cf. Kiveris et al., "Connected Components in MapReduce"): each
    * round every node adopts the minimum label over its closed
    * neighborhood — one shuffle per round, rounds bounded by component
    * diameter (near-dup clusters are near-cliques, so 2–3 in practice).
    * `localCheckpoint` truncates lineage between rounds so the plan
    * stays O(1) regardless of iteration count — the shape that holds on
    * a billion-edge pair list.
    *
    * == Deep components: pointer jumping ==
    * Edge propagation alone moves a label ONE hop per round, so a
    * chain-shaped component (CDC-chunk dedup chains, smeared arcs)
    * needs diameter rounds. From round [[JumpFrom]] on, each round
    * also SHORTCUTS through the label table itself — `L(v) ←
    * min(L(v), L(L(v)))`, the classic pointer-jumping step (labels
    * are node ids, and a label's own label is a strictly-better bound
    * in the same component) — which doubles the covered distance per
    * round: total rounds O(JumpFrom + log₂ diameter), so the default
    * budget of 25 covers components millions of hops deep. The first
    * [[JumpFrom]] rounds stay single-shuffle because near-clique dup
    * graphs (the overwhelmingly common case) converge there and
    * should not pay the jump join's second shuffle. Exhausting
    * `maxIters` without the fixpoint still fails loudly — unconverged
    * labels split phantom components and under-merge silently.
    */
  /** First round that adds the pointer-jump shortcut to
    * [[connectedComponents]]'s label propagation: the first rounds
    * stay single-shuffle because near-clique dup graphs converge in
    * 2–3 and must not pay the jump join. */
  private[operators] val JumpFrom = 3

  def connectedComponents(
      pairs: DataFrame,
      maxIters: Int = 25,
      aCol: String = "id_a",
      bCol: String = "id_b",
      outId: String = "doc_id"): DataFrame = {
    // no distinct: min-label propagation is idempotent under duplicate
    // edges, so the dedup shuffle would be pure cost.
    // (Tried and reverted, r12: pre-partitioning edges by dst before
    // the checkpoint to spare the per-round join exchange — the
    // LogicalRDD that localCheckpoint plans does NOT surface the
    // partitioning to the join (both sides still Exchange+Sort in the
    // explain), and the sweep measured zero change. The per-round
    // edge shuffle is the price of the loop on this engine.)
    // pin the DIRECTED pair list once and derive both orientations
    // from the pinned table: the previous union-then-checkpoint ran
    // the whole upstream pair pipeline (LSH banding + jaccard
    // verification) once per union leg wherever exchange reuse didn't
    // cover it (AQE's broadcast rewrites defeat ReuseExchange at small
    // scale), and materialized 2|E| rows where |E| suffice
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
    // splits into phantom components — dedup under-merges,
    // mergeFactsClustered's global-equality claim breaks) — so
    // exhaustion fails the job instead of returning them. Components
    // that deep mean maxIters is undersized for the graph's diameter:
    // raise it deliberately (rounds are one shuffle each; the typical
    // near-dup cluster is dense and converges in a handful).
    require(converged,
      s"connectedComponents did not converge in maxIters=$maxIters " +
        s"rounds — a component's min-id node is deeper than that; " +
        s"raise maxIters (cost: one shuffle per round)")
    labels
  }

  /** Prune a corpus to cluster canonicals: drop every row whose id
    * belongs to a near-dup component but is not its minimum-id
    * representative ([[connectedComponents]] output). Rows never seen
    * in any pair are untouched — the final "deduped corpus" step of
    * pairs → components → prune. */
  /** Quality-aware canonical selection over near-dup components: keep
    * each cluster's HIGHEST-quality member (score desc, id-asc
    * tiebreak), not its smallest id — the difference between "dedup
    * keeps a random copy" and "dedup keeps the clean copy" when
    * near-dups differ in OCR noise, truncation, or boilerplate.
    * Documents in no component survive untouched.
    *
    * == Scale ==
    * One join of the component table to scores, one per-component
    * max-struct aggregate (no window sort), one semi-join back.
    * Output: the surviving `docs` rows. */
  def pruneByQuality(
      docs: DataFrame,
      components: DataFrame,
      scoreCol: String,
      idCol: String = "doc_id"): DataFrame = {
    val winners = components
      .join(docs.select(col(idCol), col(scoreCol)), Seq(idCol))
      .groupBy(col("component"))
      .agg(max(struct(col(scoreCol).as("s"),
        (-col(idCol)).as("negid"))).as("__mx"))
      .select((-col("__mx.negid")).as(idCol))
    val clustered = components.select(col(idCol))
    docs.join(clustered, Seq(idCol), "left_anti")
      .unionByName(docs.join(winners, Seq(idCol), "left_semi"))
  }

  def pruneByComponents(
      docs: DataFrame,
      components: DataFrame,
      idCol: String = "doc_id"): DataFrame = {
    val drop = components
      .filter(col(idCol) =!= col("component"))
      .select(col(idCol))
    docs.join(drop, Seq(idCol), "left_anti")
  }

  /** Blocked pairwise n-gram Jaccard: within `blockCol` groups, all
    * pairs with shingle-set Jaccard ≥ threshold (> 0). Use when a cheap
    * blocking attribute exists; otherwise prefer [[minhashLshPairs]].
    *
    * Computed as an inverted-index set-similarity join (PPJoin family):
    * explode distinct shingles, equi-join on (block, shingle), count
    * matches per pair → `jaccard = c / (|A| + |B| - c)`. That replaces
    * the quadratic all-pairs array-intersect inside each block with a
    * shuffle keyed on (block, shingle) whose fan-out is bounded by
    * shingle frequency — the shape that survives a 100× scale-up (the
    * next lever at that scale is prefix filtering on rare shingles). */
  /** Cross-corpus MinHash-LSH linkage JOIN: for every document in
    * `right`, its near-duplicates in `left` (Jaccard ≥ threshold over
    * word n-gram shingle sets) — the record-linkage / entity-resolution
    * counterpart of [[minhashLshPairs]], between two different
    * relations instead of within one. Identity pairs (same id) are
    * excluded; output is (left_id, right_id, jaccard) with the roles
    * preserved.
    *
    * == Scale ==
    * Each side is shingled + banded once, the candidate set is the
    * equi-join of band buckets (shuffle on (band, bucket) — never a
    * cross join), and only colliding candidates pay the exact-Jaccard
    * re-rank. A small `right` (a query set against a 100 TB corpus)
    * makes the band join broadcastable — the same plan degrades to a
    * map-side probe.
    */
  def minhashLshLink(
      left: DataFrame,
      right: DataFrame,
      n: Int = 3,
      k: Int = 8,
      bands: Int = 4,
      threshold: Double = 0.5,
      textCol: String = "text",
      idCol: String = "doc_id"): DataFrame = {
    // staged base per side: shingle set + signature computed once
    def base(df: DataFrame) = df
      .select(col(idCol), words(col(textCol)).as("__w"))
      .select(col(idCol), shinglesFromWords(col("__w"), n).as("__sg"))
      .select(col(idCol), array_distinct(col("__sg")).as("__shd"),
        minhashOfShingles(col("__sg"), k).as("__sig"))
    val lBase = base(left)
    val rBase = base(right)
    // the band join and the candidate distinct carry ONLY
    // (band, bucket, id) — shingle arrays re-enter by id join for the
    // surviving candidate pairs (mirrors minhashLshPairs): the shuffle
    // payload stays proportional to the candidate count, not the corpus
    // text, and the distinct is keyed on two scalars instead of two
    // full arrays
    def banded(b: DataFrame) = b
      .select(col(idCol), explode(bandKeys(col("__sig"), k, bands)).as("__band"))
      .select(col(idCol), col("__band.band_idx").as("band_idx"),
        col("__band.bucket").as("bucket"))
    val cand = banded(lBase).as("l").join(banded(rBase).as("r"),
        col("l.band_idx") === col("r.band_idx") &&
        col("l.bucket") === col("r.bucket") &&
        col(s"l.$idCol") =!= col(s"r.$idCol"))
      .select(col(s"l.$idCol").as("left_id"), col(s"r.$idCol").as("right_id"))
      .distinct() // a pair may collide in several bands
    cand
      .join(lBase.select(col(idCol).as("left_id"), col("__shd").as("__sha")),
        "left_id")
      .join(rBase.select(col(idCol).as("right_id"), col("__shd").as("__shb")),
        "right_id")
      .withColumn("jaccard",
        size(array_intersect(col("__sha"), col("__shb"))).cast("double") /
          size(array_union(col("__sha"), col("__shb"))).cast("double"))
      .filter(col("jaccard") >= threshold)
      .select(col("left_id"), col("right_id"), col("jaccard"))
  }

  /** Exact substring-duplicate spans (Lee et al. 2022, "Deduplicating
    * Training Data Makes Language Models Better"): every token window
    * of length `l` that occurs ≥2 times anywhere in the corpus marks a
    * duplicated region; overlapping/adjacent marked windows merge into
    * maximal spans per document. Output: one row per merged span —
    * `(doc_id, span_start, span_end, n_windows)`, token positions
    * 0-based inclusive. A pretraining pipeline cuts or down-weights
    * these spans before tokenization.
    *
    * == Scale design ==
    * Windows travel as a 60-bit md5-derived hash, never as text — the
    * corpus-wide duplicate detection is one shuffle on an 8-byte key
    * (`groupBy(h)`), and the join back to `(doc, pos)` reuses the same
    * partitioning (ReuseExchange: the exploded window frame is shuffled
    * once). The span merge is a per-document window function — shuffle
    * keyed on doc_id, state O(1) per row (classic gaps-and-islands).
    * Nothing is quadratic; hot windows (boilerplate that appears
    * millions of times) stay one aggregation row each.
    */
  def duplicateSpans(docs: DataFrame, l: Int = 5,
      textCol: String = "text", idCol: String = "doc_id"): DataFrame = {
    require(l >= 2, s"window length must be >= 2, got $l")
    // codegen'd kernel: one digest per window over zero-copy byte
    // slices of the normalized text (docs under l tokens yield an
    // empty array and vanish in the explode)
    val wins = docs
      .select(col(idCol),
        posexplode(wordWindowHashes(col(textCol), l)).as(Seq("pos", "__h")))
    // windows duplicated anywhere in the corpus (within- or cross-doc)
    val dup = wins.groupBy(col("__h")).agg(count(lit(1)).as("__c"))
      .filter(col("__c") > 1).select(col("__h"))
    val marked = wins.join(dup, "__h").select(col(idCol), col("pos"))
    // merge overlapping/adjacent windows [pos, pos+l-1] into spans
    val byDoc = Window.partitionBy(col(idCol)).orderBy(col("pos"))
    val prevEnd = max(col("pos") + (l - 1))
      .over(byDoc.rowsBetween(Window.unboundedPreceding, -1))
    marked
      .withColumn("__new", when(prevEnd.isNull ||
        col("pos") > prevEnd + 1, 1).otherwise(0))
      .withColumn("__island", sum(col("__new"))
        .over(byDoc.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy(col(idCol), col("__island"))
      .agg(min(col("pos")).as("span_start"),
        (max(col("pos")) + (l - 1)).as("span_end"),
        count(lit(1)).as("n_windows"))
      .drop("__island")
  }

  /** Paragraph-level exact dedup, keep-first (the Dolma/CCNet pass
    * that strips boilerplate paragraphs repeated across a crawl):
    * documents split into fixed-`paraTokens` token blocks (a stand-in
    * splitter — a real crawl splits on blank lines, the dedup logic is
    * identical), every block after the FIRST corpus-wide occurrence
    * (ordered by doc id, then position) is dropped, and surviving
    * blocks reassemble in order. Output per surviving doc:
    * `(doc_id, n_paras, text_dedup, n_kept, n_dropped)`.
    *
    * == Scale design ==
    * Two shuffles, each carrying the corpus text once: (1) keyed on
    * the 60-bit block hash — the keep-first decision is a per-hash
    * `row_number`, hot boilerplate blocks land in one partition but
    * cost O(occurrences) there; (2) keyed on doc id to reassemble.
    * No join: the winner decision and the block text travel together.
    */
  def dedupeParagraphs(docs: DataFrame, paraTokens: Int = 8,
      textCol: String = "text", idCol: String = "doc_id"): DataFrame = {
    require(paraTokens >= 1, s"paraTokens must be >= 1, got $paraTokens")
    val w = col("__w")
    val paras = transform(
      sequence(lit(1), greatest(size(w), lit(1)), lit(paraTokens)),
      i => concat_ws(" ", slice(w, i, lit(paraTokens))))
    val byHash = Window.partitionBy(col("__h"))
      .orderBy(col(idCol).asc, col("pos").asc)
    docs
      .select(col(idCol), words(col(textCol)).as("__w"))
      .select(col(idCol), paras.as("__ps"))
      .select(col(idCol), size(col("__ps")).as("n_paras"),
        posexplode(col("__ps")).as(Seq("pos", "para")))
      .withColumn("__h", md5Hash60(col("para")))
      .withColumn("__rn", row_number().over(byHash))
      .filter(col("__rn") === 1)
      .groupBy(col(idCol), col("n_paras"))
      .agg(
        array_join(transform(
          array_sort(collect_list(struct(col("pos").as("p"),
            col("para").as("t")))), s => s.getField("t")), " ")
          .as("text_dedup"),
        count(lit(1)).as("n_kept"))
      .withColumn("n_dropped", col("n_paras") - col("n_kept"))
  }

  /** LSH parameter planner: given the observed pairwise-similarity
    * histogram of a corpus SAMPLE, score each (bands, rows) split of
    * the minhash signature by its expected false-positive +
    * false-negative candidate mass at a target threshold, using the
    * banding S-curve `P(candidate | s) = 1 − (1 − s^r)^b`. This turns
    * "pick b and r" from folklore into a measured decision BEFORE
    * running dedup on 100 TB — the sample histogram is tiny and the
    * curve math is closed-form.
    *
    * Exactness: powers expand to literal multiplication chains (r and
    * b are grid constants), NOT `pow()` — libm power implementations
    * differ in the last ulp across engines, multiplication chains
    * don't. Per-bin probabilities round to micro before weighting.
    * Pairs with zero overlap never become candidates (P(0) = 0), so a
    * shared-shingle inverted-index pair list ([[ngramJaccardPairs]]
    * at threshold 0) is exactly the right input. */
  def lshParameterPlan(pairs: DataFrame, simThreshold: Double,
      grid: Seq[(Int, Int)], bins: Int = 20): DataFrame = {
    def chainPow(base: Column, e: Int): Column =
      Seq.fill(e)(base).reduce(_ * _)
    // Clamp exact-duplicate pairs (jaccard == 1.0) into the top bin:
    // floor(1.0 * bins) would land in bin == bins, whose midpoint
    // (bins + 0.5)/bins > 1 drives (1 - s^r) negative in the S-curve.
    // pinned: the ≤`bins`-row histogram is consumed once per grid
    // config — without the pin the whole upstream pair pipeline (the
    // inverted-index jaccard join) re-executes |grid| times (q268:
    // 16 parquet scans before, 0 after)
    val hist = pairs
      .select(least(floor(col("jaccard") * bins), lit(bins - 1))
        .cast("int").as("bin"))
      .groupBy(col("bin")).agg(count(lit(1)).as("cnt"))
      .localCheckpoint()
    val scored = grid.map { case (b, r) =>
      val sMid = (col("bin").cast("double") + 0.5) / bins
      val p = lit(1.0) - chainPow(lit(1.0) - chainPow(sMid, r), b)
      val pm = round(p * 1e6).cast("long")
      hist.select(lit(b).as("bands"), lit(r).as("rows_per_band"),
        col("cnt"),
        when(sMid < simThreshold, col("cnt") * pm).otherwise(0L)
          .as("__fp"),
        when(sMid >= simThreshold, col("cnt") * (lit(1000000L) - pm))
          .otherwise(0L).as("__fn"))
    }.reduce(_ unionByName _)
      .groupBy(col("bands"), col("rows_per_band"))
      .agg(sum(col("cnt")).as("n_pairs"), sum(col("__fp")).as("fp_micro"),
        sum(col("__fn")).as("fn_micro"))
      .withColumn("cost_micro", col("fp_micro") + col("fn_micro"))
    val best = scored.agg(min(col("cost_micro")).as("__best"))
    scored.crossJoin(broadcast(best))
      .withColumn("is_best", col("cost_micro") === col("__best"))
      .drop("__best")
  }

  def ngramJaccardPairs(
      docs: DataFrame,
      blockCol: String,
      n: Int = 3,
      threshold: Double = 0.3,
      textCol: String = "text",
      idCol: String = "doc_id"): DataFrame = {
    // r18: pinned (the minhashLshPairs convention). "Identical join
    // sides → ReuseExchange" only holds in the SMJ regime; AQE's
    // broadcast rewrite re-planned the sides independently and the
    // shingle kernel executed once per side (q25 final plan: 4 parquet
    // scans, 0 ReusedExchange). One pin = one kernel execution under
    // every join regime.
    val withSh = docs
      .select(col(blockCol).as("__blk"), col(idCol), words(col(textCol)).as("__w"))
      .select(col("__blk"), col(idCol),
        array_distinct(shinglesFromWords(col("__w"), n)).as("__sh"))
      .select(col("__blk"), col(idCol), col("__sh"), size(col("__sh")).as("__sz"))
      .transform(Pins.heavy)
    val inv = withSh.select(col("__blk"), col(idCol), col("__sz"),
      explode(col("__sh")).as("__s"))
    inv.as("l").join(inv.as("r"),
        col("l.__blk") === col("r.__blk") && col("l.__s") === col("r.__s") &&
        col(s"l.$idCol") < col(s"r.$idCol"))
      .select(col(s"l.$idCol").as("id_a"), col(s"r.$idCol").as("id_b"),
        col("l.__sz").as("__sza"), col("r.__sz").as("__szb"))
      .groupBy(col("id_a"), col("id_b"), col("__sza"), col("__szb"))
      .agg(count(lit(1)).as("__c"))
      .withColumn("jaccard", col("__c").cast("double") /
        (col("__sza") + col("__szb") - col("__c")).cast("double"))
      .filter(col("jaccard") >= threshold)
      .select(col("id_a"), col("id_b"), col("jaccard"))
  }

  /** Partial-overlap (containment) detection via winnowing
    * fingerprints: doc pairs whose shared-fingerprint count, divided
    * by the SMALLER doc's fingerprint count, clears `threshold` —
    * the asymmetric signal that catches a document quoted inside a
    * larger one, which symmetric Jaccard dilutes away. Output:
    * `(id_a, id_b, shared, containment)`.
    *
    * Scale shape: pairs meet through an inverted fingerprint index
    * (one shuffle on the 8-byte fingerprint, identical sides →
    * ReuseExchange), never an all-pairs join. Fingerprints present in
    * more than `maxDocFreq` documents are boilerplate (license
    * headers, navigation chrome) and are dropped BEFORE pairing —
    * the df cutoff every inverted-index join needs at corpus scale,
    * or the hottest posting list alone is quadratic. Containment
    * denominators count the KEPT fingerprints, so the ratio stays
    * consistent with the pairing universe. */
  def fingerprintContainment(
      docs: DataFrame,
      k: Int = 8,
      w: Int = 4,
      threshold: Double = 0.5,
      maxDocFreq: Int = 50,
      textCol: String = "text",
      idCol: String = "doc_id"): DataFrame = {
    val fps = docs.select(col(idCol),
      explode(graft.functions.TextFunctions
        .winnowFingerprint(col(textCol), k, w)).as("__fp"))
    // df cutoff: drop boilerplate fingerprints before any pairing
    // r18: pinned (the minhashLshPairs convention) — `kept` feeds the
    // sizes aggregate AND both self-join sides, so unpinned the winnow
    // kernel + df window executed up to 5x (q156 final plan: 5 parquet
    // scans). One pin = one kernel execution under every join regime.
    val kept = fps
      .withColumn("__df", count(lit(1)).over(
        org.apache.spark.sql.expressions.Window.partitionBy(col("__fp"))))
      .filter(col("__df") <= maxDocFreq)
      .drop("__df")
      .transform(Pins.heavy)
    val sizes = kept.groupBy(col(idCol)).agg(count(lit(1)).as("__sz"))
    val inv = kept.join(sizes, Seq(idCol))
    inv.as("l").join(inv.as("r"),
        col("l.__fp") === col("r.__fp") &&
        col(s"l.$idCol") < col(s"r.$idCol"))
      .select(col(s"l.$idCol").as("id_a"), col(s"r.$idCol").as("id_b"),
        col("l.__sz").as("__sza"), col("r.__sz").as("__szb"))
      .groupBy(col("id_a"), col("id_b"), col("__sza"), col("__szb"))
      .agg(count(lit(1)).as("shared"))
      .withColumn("containment", col("shared").cast("double") /
        least(col("__sza"), col("__szb")).cast("double"))
      .filter(col("containment") >= threshold)
      .select(col("id_a"), col("id_b"), col("shared"), col("containment"))
  }

  /** Cross-source contamination matrix: for every pair of corpus
    * sources, the number of distinct word n-shingles appearing in
    * BOTH — the provenance audit run before mixing training sources
    * (a "held-out" source sharing most of its n-grams with a training
    * source isn't held out; the same audit catches a crawl source
    * re-scraping another). Output: `(source_a, source_b, n_shared)`.
    *
    * == Scale ==
    * ONE corpus-scale shuffle: shingles aggregate straight to their
    * per-shingle SOURCE SET (`collect_set`, map-side combined, each
    * set bounded by the source count — dozens), and the ≤S(S−1)/2
    * source pairs expand ROW-LOCALLY from the sorted set before the
    * final pair-count aggregation (bounded table; 2 exchanges total —
    * the count `bench_exchange_baseline.json` pins). No
    * inverted-index self-join (two shuffled sides + a fan-out join),
    * no all-pairs corpus join, and a boilerplate shingle present
    * everywhere still costs only one bounded row. */
  def crossSourceShingleOverlap(
      docs: DataFrame,
      n: Int = 3,
      textCol: String = "text",
      sourceCol: String = "source"): DataFrame =
    docs
      // stage the word split as a COLUMN before shingling: the
      // shingle lambda references its input per element, so passing
      // the raw regexp-split expression would re-run the regexp once
      // per shingle per row (measured 10× on the sf0.1 corpus)
      .select(col(sourceCol),
        graft.functions.TextFunctions.words(col(textCol)).as("__w"))
      .select(col(sourceCol),
        explode(graft.functions.TextFunctions.shinglesFromWords(
          col("__w"), n)).as("__sh"))
      .groupBy(col("__sh"))
      .agg(sort_array(collect_set(col(sourceCol))).as("__ss"))
      .filter(size(col("__ss")) >= 2)
      .select(explode(flatten(transform(col("__ss"), (x, i) =>
        transform(slice(col("__ss"), i + lit(2), size(col("__ss"))),
          y => struct(x.as("source_a"), y.as("source_b")))))).as("__p"))
      .groupBy(col("__p.source_a").as("source_a"),
        col("__p.source_b").as("source_b"))
      .agg(count(lit(1)).as("n_shared"))

  /** The REMOVAL half of [[duplicateSpans]] (Lee et al. 2022 delete
    * the repeated substring, not the document): every token inside a
    * corpus-duplicated span is excised and the survivors rejoin into
    * `cleaned_text` (normalized-token space — the same space the span
    * indexes live in; training pipelines re-tokenize downstream
    * anyway). Docs under the window length pass through untouched.
    *
    * == Scale ==
    * One extra shuffle over [[duplicateSpans]] (span collect per doc
    * — span count bounded by len/l) plus a row-local index filter
    * (O(tokens·spans) per doc). Output:
    * `(idCol, n_tokens, n_removed, cleaned_text)`. */
  def removeDuplicateSpans(
      docs: DataFrame,
      l: Int = 5,
      textCol: String = "text",
      idCol: String = "doc_id"): DataFrame = {
    val spans = duplicateSpans(docs, l, textCol, idCol)
      .groupBy(col(idCol))
      .agg(collect_list(struct(col("span_start"), col("span_end")))
        .as("__sp"))
    val inSpan = (i: Column) => coalesce(
      exists(col("__sp"), s =>
        i >= s.getField("span_start") && i <= s.getField("span_end")),
      lit(false))
    docs
      .select(col(idCol), words(col(textCol)).as("__w"))
      .join(spans, Seq(idCol), "left")
      .withColumn("__kept",
        filter(sequence(lit(0), size(col("__w")) - 1), i => !inSpan(i)))
      .select(col(idCol),
        size(col("__w")).as("n_tokens"),
        (size(col("__w")) - size(col("__kept"))).as("n_removed"),
        array_join(transform(col("__kept"),
          i => element_at(col("__w"), i + 1)), " ").as("cleaned_text"))
  }

  /** Content-defined chunking (the Rabin-window form of CDC — Muthitacharoen
    * et al. SOSP'01 LBFS; FastCDC's gear hash is a speed variant of the
    * same rule): cut after position `i` exactly when the 32-bit hash of
    * the trailing `w`-char window ≡ 0 (mod `divisor`), so chunk
    * boundaries move WITH content — an insertion re-chunks only its
    * neighborhood, where fixed-size blocks would shift every boundary
    * after it. Expected chunk length ≈ `divisor` chars. The storage
    * dedup pass for blob/media payloads; here over a text column (the
    * container ships no binary corpora — byte semantics identical).
    *
    * Boundaries depend only on their own w-char window
    * ([[graft.functions.Hashing.md5Hash60]] convention: engine-
    * portable md5 arithmetic), so the cut set is a pure per-row
    * function — no sequential state, fully SQL-replayable, and the
    * whole pass is ONE row-local projection (HOF over char positions,
    * no shuffle; the only shuffle in [[cdcDedupStats]] is the final
    * hash groupBy). Output: one row per chunk,
    * `(idCol, chunk_idx, start, len, chunk_h)` — `start` 0-based,
    * `chunk_h` the 60-bit content hash.
    */
  def cdcChunks(
      docs: DataFrame,
      idCol: String = "doc_id",
      textCol: String = "text",
      w: Int = 16,
      divisor: Int = 64,
      seed: Int = 7): DataFrame = {
    require(w >= 1 && divisor >= 1, s"w and divisor must be >= 1")
    val n = length(col(textCol))
    // codegen'd cut kernel (r17, guide §4): the column-HOF form ran an
    // interpreted conv∘substring∘md5∘concat chain once per CHARACTER
    // (fresh MessageDigest + hex round-trip per call); the kernel runs
    // one ThreadLocal digest over a zero-copy byte slice per window.
    // Value-identical — DedupSpec pins kernel == HOF twin
    // ([[graft.functions.TextFunctions.cdcCutsHof]]) including
    // multi-byte and shorter-than-w documents.
    val cuts = graft.functions.TextFunctions
      .cdcCutPositions(col(textCol), w, divisor, seed)
    val bounds = array_distinct(concat(array(lit(0)), cuts, array(n)))
    val chunks = zip_with(
      slice(bounds, lit(1), greatest(size(bounds) - 1, lit(0))),
      slice(bounds, lit(2), greatest(size(bounds) - 1, lit(0))),
      (s, e) => struct(s.as("start"), (e - s).as("len")))
    docs
      .select(col(idCol), col(textCol), posexplode(chunks).as(Seq("chunk_idx", "__c")))
      .select(col(idCol), col("chunk_idx"),
        col("__c.start").as("start"), col("__c.len").as("len"),
        md5Hash60(col(textCol).substr(col("__c.start") + 1, col("__c.len")))
          .as("chunk_h"))
  }

  /** Whole-corpus CDC dedup accounting over [[cdcChunks]] output: total
    * vs distinct chunk counts and chars — the storage-savings figure a
    * blob store gets from content-addressed chunks. One hash-grouped
    * pass (map-side combine); `dedup_ratio` = distinct/total chars. */
  def cdcDedupStats(chunks: DataFrame): DataFrame =
    chunks
      .groupBy(col("chunk_h"))
      .agg(count(lit(1)).as("__n"), max(col("len")).as("__len"))
      .agg(
        sum(col("__n")).as("n_chunks"),
        count(lit(1)).as("n_distinct"),
        sum(col("__n") * col("__len")).as("total_chars"),
        sum(col("__len")).as("distinct_chars"))
      .withColumn("dedup_ratio",
        col("distinct_chars").cast("double") / col("total_chars").cast("double"))

  /** Shared-prefix duplicate clusters: documents whose first
    * `nTokens` tokens agree exactly — the templated-intro detector
    * (license headers, scraped page chrome, boilerplate greetings)
    * that full-document exact dedup misses because the TAILS differ.
    * The prefix keys on the 60-bit portable hash of the joined token
    * head; documents shorter than `nTokens` key on their whole text.
    *
    * == Scale ==
    * One scan computes the row-local prefix hash; one count shuffle
    * on the hash; only clusters (size ≥ 2) survive. Output:
    * `(prefix_hash, n_docs, min_doc_id)`. */
  def prefixDuplicates(
      docs: DataFrame,
      nTokens: Int,
      idCol: String = "doc_id",
      textCol: String = "text"): DataFrame = {
    require(nTokens >= 1, s"nTokens must be >= 1, got $nTokens")
    docs
      .select(col(idCol),
        md5Hash60(array_join(
          slice(words(col(textCol)), 1, nTokens), " ")).as("prefix_hash"))
      .groupBy(col("prefix_hash"))
      .agg(count(lit(1)).as("n_docs"), min(col(idCol)).as("min_doc_id"))
      .filter(col("n_docs") >= 2L)
  }
}
