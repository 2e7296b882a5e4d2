package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.OracleMath._
import graft.expr.Rpn
import graft.functions.{Decode, Similarity, TextFunctions}
import graft.operators.{ChangeCapture, Dedup, FeatureStore, Filters, InteractionStore, Normalize, Pipeline, SimilaritySearch, Sketches}

/** Driver contract — one `queries` entry per implemented operator from
  * SURVEY.md §2, each with a DuckDB-equivalent SQL oracle where the
  * semantics are ANSI-SQL-expressible.
  */
object SparkEntry {

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    queries("q1_pricing_agg")(spark, "/root/testdata/sf0.001")

  /** Scratch path for persisted index layouts (q48/q58 exercise the
    * stored-code read path), keyed by index kind + source sf dir. */
  private def indexPath(kind: String, sfDir: String): String =
    s"${System.getProperty("java.io.tmpdir")}/graft-idx-$kind-" +
      sfDir.replaceAll("[^A-Za-z0-9.]", "_")

  /** Stage the events table into a fresh temp dir and open it as a
    * file stream (the Kafka-topic stand-in, `streaming/Ingest.scala`
    * header note) so streaming operators run driver-oracled end to
    * end. `ts` gets the same encoding normalization as
    * [[Tables.events]]. Returns (stream, tempBase). */
  private def streamedEvents(s: SparkSession, dir: String, tag: String)
      : (DataFrame, String) = {
    val base = java.nio.file.Files.createTempDirectory(s"graft-$tag").toString
    val in = s"$base/in"
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(in))
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(s"$dir/events.parquet"),
      java.nio.file.Paths.get(s"$in/events.parquet"))
    val schema = Tables.load(s, dir, "events").schema
    val raw = graft.streaming.Ingest.fileSource(streamSession(s), in, schema)
    (Tables.normalizeEventTs(raw), base)
  }

  /** Session clone for stream fixtures. Stateful streaming parallelism
    * is pinned at the first checkpoint; size it to the fixture's volume
    * (state-store open/commit dominates these micro-batches at 32
    * partitions — a real deployment sizes this to stream volume the
    * same way). A `newSession()` clone (same SparkContext, own
    * SessionState) scopes the override to streams built on it: the
    * shared session's conf is never mutated, so any concurrently
    * planned batch query keeps the session default. */
  private val streamSessions =
    // weak keys: a dropped parent releases its clone (a clone shares
    // only the SparkContext, never the parent, so it cannot pin its key)
    java.util.Collections.synchronizedMap(
      new java.util.WeakHashMap[SparkSession, SparkSession]())

  private[graft] def streamSession(s: SparkSession): SparkSession =
    // ONE clone per parent session, cached (r18, verdict item 8):
    // every clone that starts a stream lazily attaches a
    // StreamingQueryListenerBus to the shared SparkContext
    // LiveListenerBus and is never detached (the bus holds the strong
    // ref), so a fresh clone per query invocation accumulated
    // listeners for the JVM's life — each new one re-processing every
    // "streams"-queue event. Over a full bench (8 stream fixtures ×
    // warmup + 3 timed passes) that read as streaming queries running
    // ~2-3x slower IN-SUITE than warm-isolated (q292: 6.3 s in-suite
    // vs 1.9 s isolated at 32c) while batch queries were unaffected.
    // The clone carries no per-query state — only the stream-scoped
    // shuffle-partitions conf — so sharing it is pure harness hygiene:
    // every stream still stages, plans, and computes from scratch.
    streamSessions.computeIfAbsent(s, parent => {
      val ss = parent.newSession()
      ss.conf.set("spark.sql.shuffle.partitions", "4")
      ss
    })

  /** Drain a streaming DataFrame to parquet with AvailableNow (one
    * shot over everything staged) and return the materialized result.
    * `df` must be built on a [[streamSession]] clone (streamedEvents
    * does this), which carries the stream-scoped shuffle setting. */
  private def runStreamTo(df: DataFrame, base: String,
      outputMode: String = "append"): DataFrame = {
    val out = s"$base/out"
    val writeMode = if (outputMode == "complete") "overwrite" else "append"
    df.writeStream
      .outputMode(outputMode)
      .option("checkpointLocation", s"$base/ckpt")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .foreachBatch { (b: DataFrame, _: Long) =>
        b.write.mode(writeMode).parquet(out)
      }
      .start().awaitTermination()
    df.sparkSession.read.parquet(out)
  }

  /** The q286-derived streaming timeline fixture shared by the q292/
    * q294 gates: the embeddings-derived entries (+1 ts offset — the
    * derived timeline starts at ts 0, which the initial watermark's
    * late filter would eat; sqlEpisodeBoundaries doc) plus the two
    * flush sentinels, staged to parquet and opened as a file-source
    * stream on a [[streamSession]] clone.
    *
    * Sentinels: s1 (boundary-forcing — state differing from any real
    * state AND the negated last embedding, so whichever score term
    * the last real entry supports fires) closes the final real
    * episode ON THE DATA PATH; s2 only pushes the watermark past s1
    * so s1 gets sealed and folded. s1's own episode stays open in
    * state (never emitted); s2 stays buffered (never sealed). The
    * last real entry by the fold's (ts, id) order is what s1 scores
    * against: its state is '' only when label = 0 (embedding present
    * -> the negated-embedding term gives shift 1, score 0.4 >= 0.38)
    * and its embedding null only when label = 9 (state non-empty ->
    * the flip term gives 0.6) — either way s1 is a boundary. */
  private def stagedTimelineFixture(s: SparkSession, dir: String,
      tag: String): (DataFrame, String) = {
    val emb = Tables.embeddings(s, dir)
    val arrT = emb.schema("embedding").dataType
    val entries = emb.select(
      col("vec_id").as("entry_id"),
      ((col("vec_id") % 64) * 1000 + col("vec_id") + 1).as("ts"),
      when(col("label") === 0, "")
        .otherwise(concat(lit("s"), (col("label") % 5).cast("string")))
        .as("state"),
      when(col("label") === 9, lit(null).cast(arrT))
        .otherwise(col("embedding")).as("embedding"),
      concat(lit("doc "), col("vec_id").cast("string")).as("content"))
    val dayMs = 86400000L
    val lastE = entries.orderBy(col("ts").desc, col("entry_id").desc)
      .limit(1)
    val s1 = lastE.select(lit(-1L).as("entry_id"),
      (col("ts") + 10L * dayMs).as("ts"),
      lit("zzflush").as("state"),
      transform(col("embedding"), x => -x).as("embedding"),
      lit("sentinel").as("content"))
    val s2 = lastE.select(lit(-2L).as("entry_id"),
      (col("ts") + 11L * dayMs).as("ts"), lit("").as("state"),
      lit(null).cast(arrT).as("embedding"),
      lit("sentinel").as("content"))
    val staged = entries.unionByName(s1).unionByName(s2)
      .withColumn("key", lit(0L))
    val base = java.nio.file.Files
      .createTempDirectory(s"graft-$tag").toString
    val in = s"$base/in"
    staged.coalesce(1).write.parquet(in)
    (graft.streaming.Ingest.fileSource(streamSession(s), in,
      staged.schema), base)
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // ---- headline aggregation (TPC-H q1 shape; A2-style groupBy) ----
    "q1_pricing_agg" -> ((s, dir) => {
      Tables.lineitem(s, dir)
        .filter(col("l_shipdate") <= lit("1998-09-02").cast("timestamp"))
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(
          xsum(col("l_quantity")).as("sum_qty"),
          xsum(col("l_extendedprice")).as("sum_base_price"),
          xsum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))).as("sum_disc_price"),
          xavg(col("l_quantity")).as("avg_qty"),
          count(lit(1)).as("count_order"))
    }),

    // ---- feature retrieve: key set → defaults for misses (J1/J3/P1/P3) ----
    "q2_feature_retrieve" -> ((s, dir) => {
      val orders = Tables.orders(s, dir)
      val present = orders.filter(col("o_orderkey") % 13 === 1)
        .select(col("o_custkey").as("c_custkey"))
      val absent = present.select((col("c_custkey") + 1000000L).as("c_custkey"))
      val keys = present.unionByName(absent).distinct()
      FeatureStore.retrieve(keys, Tables.customer(s, dir), Seq("c_custkey"),
        Fixtures.customerProfile, Seq("c_name", "c_acctbal", "c_mktsegment"))
    }),

    // ---- multi-FG stitch: profile + derived order stats (J2) ----
    "q3_multi_fg_stitch" -> ((s, dir) => {
      val customer = Tables.customer(s, dir)
      // pinned: every stitched feature group's retrieve re-derives the
      // key set — one materialization instead of one base-table scan
      // per FG (r17, guide §2.4; key-set-sized)
      val keys = customer.filter(col("c_custkey") % 10 === 3)
        .select(col("c_custkey"))
        .unionByName(customer.filter(col("c_custkey") % 10 === 3)
          .select((col("c_custkey") + 1000000L).as("c_custkey")))
        .distinct()
        .localCheckpoint()
      val stats = Tables.orders(s, dir).groupBy(col("o_custkey").as("c_custkey"))
        .agg(count(lit(1)).as("order_cnt"), xsum(col("o_totalprice")).as("total_spend"))
      val profile = FeatureStore.retrieve(keys, customer, Seq("c_custkey"),
        Fixtures.customerProfile, Seq("c_name", "c_acctbal"))
      val orderStats = FeatureStore.retrieve(keys, stats, Seq("c_custkey"),
        Fixtures.customerOrderStats, Seq("order_cnt", "total_spend"))
      FeatureStore.stitch(Seq("c_custkey"), Seq(profile, orderStats))
    }),

    // ---- TTL expiry → defaults (P4), fixed asOf for determinism ----
    "q4_ttl_expiry" -> ((s, dir) => {
      val orders = Tables.orders(s, dir)
      val keys = orders.filter(col("o_orderkey") % 7 === 0)
        .select(col("o_orderkey"))
        .unionByName(orders.filter(col("o_orderkey") % 7 === 0)
          .select((col("o_orderkey") + 1000000000L).as("o_orderkey")))
        .distinct()
      FeatureStore.retrieve(keys, orders, Seq("o_orderkey"),
        Fixtures.orderFacts, Seq("o_totalprice", "o_orderpriority"),
        asOf = Some(lit("1998-08-01").cast("timestamp")),
        writtenAt = "o_orderdate")
    }),

    // ---- quantized projection feature@DataTypeFP16 (P2/F7) ----
    // Oracle mirrors Minifloat.roundTo in SQL: round-to-nearest-even on
    // the minifloat grid via round_even + exact power-of-two steps
    // (every step/midpoint is exact in binary64 in both engines).
    "q5_quantized_projection" -> ((s, dir) => {
      val keys = Tables.customer(s, dir).select(col("c_custkey"))
      FeatureStore.retrieve(keys, Tables.customer(s, dir), Seq("c_custkey"),
        Fixtures.customerProfile,
        Seq("c_acctbal", "c_acctbal@DataTypeFP16", "c_acctbal@DataTypeFP8E4M3",
          "c_acctbal@DataTypeFP8E5M2"))
    }),

    // ---- time-range retrieval, newest first, per-user limit (W1/O3/P6) ----
    "q6_interaction_timerange" -> ((s, dir) => {
      InteractionStore.retrieveRange(
        Tables.events(s, dir),
        start = lit("2024-01-08 00:00:00").cast("timestamp"),
        end = lit("2024-01-22 00:00:00").cast("timestamp"),
        limit = 20)
        .select(col("user_id"), col("event_id"), col("ts"), col("event_type"),
          col("rank"))
    }),

    // ---- per-(user, week) bounded retention, newest kept (A1/O1/O2/ST5) ----
    "q7_interaction_merge_cap" -> ((s, dir) => {
      InteractionStore.mergeCap(Tables.events(s, dir), cap = 5)
        .select(col("user_id"),
          InteractionStore.week(col("ts")).as("week"),
          col("event_id"), col("ts"))
    }),

    // ---- week-count metadata table (A2/F10) ----
    "q8_week_counts" -> ((s, dir) => {
      InteractionStore.weekCounts(Tables.events(s, dir))
    }),

    // ---- click ∪ order tagged union (J5/SO2) ----
    "q9_click_order_union" -> ((s, dir) => {
      val tagged = InteractionStore.unionTyped(Tables.events(s, dir),
        Map("click" -> Seq("click", "view"), "order" -> Seq("purchase")))
      tagged.groupBy(col("user_id"), col("event_class"))
        .agg(count(lit(1)).as("n"), OracleMath.xsum(col("value")).as("total_value"))
    }),

    // ---- RPN expression compiler: plan-time stack → Column tree (U1/F1) ----
    "q10_rpn_score" -> ((s, dir) => {
      Rpn(Tables.lineitem(s, dir),
          "l_extendedprice 1 l_discount - * 1 l_tax + * l_quantity 30 > 1.1 1 min * *",
          "score")
        .select(col("l_orderkey"), col("l_linenumber"), col("score"))
    }),

    // ---- RPN with min-max normalization (U1 + A3) ----
    "q11_rpn_norm_minmax" -> ((s, dir) => {
      Rpn(Tables.lineitem(s, dir), "l_quantity l_extendedprice * norm_min_max",
          "norm")
        .select(col("l_orderkey"), col("l_linenumber"), col("norm"))
    }),

    // ---- RPN in f32 compute mode: numerix picks f32 vs f64 kernels
    // per request (handler.rs:120-174, fp32_ops.rs); every op here
    // rounds to 24-bit, so scores match a real f32 deployment bit for
    // bit (ops restricted to + - * min, whose f32 results are exact
    // under double-then-round — the oracle casts each step to REAL) ----
    "q87_rpn_fp32" -> ((s, dir) => {
      Rpn(Tables.lineitem(s, dir),
          "l_extendedprice 1 l_discount - * l_quantity 10 min * l_tax 100 * +",
          "score_f32", fp32 = true)
        .select(col("l_orderkey"), col("l_linenumber"), col("score_f32"))
    }),

    // ---- percentile clamp normalization (A4) ----
    "q12_percentile_clamp" -> ((s, dir) => {
      Normalize.percentileClamp(Tables.lineitem(s, dir),
          "l_extendedprice", 0.05, 0.95, "clamped")
        .select(col("l_orderkey"), col("l_linenumber"), col("clamped"))
    }),

    // ---- exact percent_rank, range-partitioned prefix sums (A5/W2) ----
    "q13_percentile_rank" -> ((s, dir) => {
      Normalize.percentRank(Tables.lineitem(s, dir), "l_quantity", "pr")
        .select(col("l_orderkey"), col("l_linenumber"), col("pr"))
    }),

    // ---- dot-product scoring against a query embedding (A6) ----
    "q14_dot_product" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      val query = emb.filter(col("vec_id") === 0)
        .select(col("vec_id").as("query_id"), col("embedding").as("query_embedding"))
        .orderBy(col("query_id")).limit(1) // audit-provable bound
      emb.crossJoin(broadcast(query))
        .select(col("vec_id"), Similarity.dot(col("embedding"), col("query_embedding")).as("score"))
    }),

    // ---- brute-force top-K cosine per query (J6/A8) ----
    "q15_topk_cosine" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      val queries = emb.filter(col("vec_id") < 5)
        .select(col("vec_id").as("query_id"), col("embedding").as("query_embedding"))
      SimilaritySearch.topK(emb, queries, k = 10,
        metric = SimilaritySearch.Cosine, excludeSelf = true)
        .select(col("query_id"), col("vec_id"), col("score"), col("rank"))
    }),

    // ---- skye payload filter set (P7) ----
    "q16_skye_filters" -> ((s, dir) => {
      val part = Tables.part(s, dir)
      val orders = Tables.orders(s, dir)
      val filteredParts = part.filter(
        Filters.nin(col("p_brand"), "Brand#1", "Brand#2", "Brand#3") &&
        Filters.btwe(col("p_size"), 10, 40) &&
        Filters.search(col("p_type"), "AND") &&
        Filters.gt(col("p_retailprice"), 920.0) &&
        Filters.ex(col("p_name")))
        .select(col("p_partkey"), col("p_brand"), col("p_size"), col("p_type"))
      val recentOrders = orders.filter(
        Filters.lastXDays(col("o_orderdate"), 90,
          lit("1998-08-01").cast("timestamp")) &&
        Filters.in(col("o_orderstatus"), "O", "F"))
        .select(col("o_orderkey"), col("o_custkey"), col("o_orderdate"))
      filteredParts.crossJoin(broadcast(recentOrders.agg(
        count(lit(1)).as("n_recent_orders"))))
    }),

    // ---- candidate-id → embedding resolution, then top-K (J4) ----
    "q17_candidate_topk" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      val candidateIds = emb.filter(col("vec_id") % 100 === 7)
        .select(col("vec_id").as("query_id"))
      val queries = SimilaritySearch.resolveEmbeddings(candidateIds, emb)
      SimilaritySearch.topK(emb, queries, k = 5,
        metric = SimilaritySearch.Dot, excludeSelf = true)
        .select(col("query_id"), col("vec_id"), col("score"), col("rank"))
    }),

    // ---- embedding-cosine near-dup pairs, label-blocked (dedup op).
    // The input unions a zero-norm PROBE block (label 99, absent from
    // the data): the r14 kill-test proved the raw testdata carries no
    // zero-norm vectors, so a dropped cosine guard was driver-invisible.
    // With the probe, guard removal reads RED loudly: 0/0 raises ANSI
    // DIVIDE_BY_ZERO (observed in the r14 kill-test); with ANSI off it
    // would read NaN, and Spark's NaN > threshold is TRUE (NaN sorts
    // above every double), phantom pairs either way. With the guard,
    // probe pairs score 0 and filter out — visible result unchanged. ----
    "q18_embedding_neardup" -> ((s, dir) => {
      import s.implicits._
      val zero = Seq.fill(64)(0.0f)
      val probe = Seq(
        (9000000001L, zero, 99),
        (9000000002L, zero, 99),
        (9000000003L, 1.0f +: Seq.fill(63)(0.0f), 99))
        .toDF("vec_id", "embedding", "label")
      SimilaritySearch.nearDupPairs(
        Tables.embeddings(s, dir).unionByName(probe),
        blockCol = "label", threshold = 0.3)
    }),

    // ---- ANN top-K via seeded sign-random-projection LSH (S11 scale
    // path). Hyperplanes are md5-hash-derived, so the oracle rebuilds
    // the identical index in SQL; recall-vs-brute-force is additionally
    // asserted in SimilaritySpec. ----
    "q19_ann_lsh_topk" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      val queries = emb.filter(col("vec_id") < 5)
        .select(col("vec_id").as("query_id"), col("embedding").as("query_embedding"))
      graft.operators.AnnIndex.topK(emb, queries, k = 10,
        numPlanes = 12, bands = 6)
    }),

    // ---- exact dedup by normalized-text fingerprint ----
    // The input unions a DUPLICATE-PAIR probe (ids 9000000001/9000000002, one
    // shared text): the r14 kill-test found the testdata has no exact
    // duplicates at sf0.01, so the keep-FIRST tie-break was
    // driver-invisible (keep-last read identical). The probe pins
    // which survivor wins — flipping the tie-break reads RED.
    "q20_dedup_exact" -> ((s, dir) => {
      import s.implicits._
      val probe = Seq(
        (9000000001L, "the quick brown fox", "probe", 19L),
        (9000000002L, "the quick brown fox", "probe", 19L))
        .toDF("doc_id", "text", "source", "n_chars")
      Dedup.exact(Tables.documents(s, dir)
          .select(col("doc_id"), col("text"), col("source"), col("n_chars"))
          .unionByName(probe))
        .select(col("doc_id"), col("source"), col("n_chars"))
    }),

    // ---- token counting: whitespace + BPE-ish sub-tokens ----
    "q21_token_stats" -> ((s, dir) => {
      Tables.documents(s, dir).select(col("doc_id"),
        TextFunctions.tokenCount(col("text")).as("n_tokens"),
        TextFunctions.subTokenCount(col("text")).as("n_subtokens"),
        length(col("text")).as("n_chars_actual"))
    }),

    // ---- quality scoring + heuristic language ID (word split and
    // per-language hits staged once per row) ----
    "q22_quality_langid" -> ((s, dir) => {
      val h = Tables.documents(s, dir)
        .select(col("doc_id"), col("text"),
          TextFunctions.words(col("text")).as("__w"))
        .select(col("doc_id"), col("text"), col("__w"),
          TextFunctions.stopwordHitsFromWords(col("__w"), "de").as("__hde"),
          TextFunctions.stopwordHitsFromWords(col("__w"), "en").as("__hen"),
          TextFunctions.stopwordHitsFromWords(col("__w"), "es").as("__hes"),
          TextFunctions.stopwordHitsFromWords(col("__w"), "fr").as("__hfr"))
      h.select(col("doc_id"),
        size(col("__w")).cast("double").as("n_tokens"),
        (length(concat_ws("", col("__w"))).cast("double") /
          size(col("__w")).cast("double")).as("mean_word_len"),
        (size(regexp_extract_all(col("text"), lit("[^A-Za-z0-9\\s]"), lit(0)))
          .cast("double") / length(col("text")).cast("double")).as("punct_ratio"),
        (col("__hen").cast("double") / size(col("__w")).cast("double"))
          .as("stopword_ratio"),
        TextFunctions.langIdFromHits(col("__hde"), col("__hen"),
          col("__hes"), col("__hfr")).as("lang_pred"))
    }),

    // ---- MinHash + LSH near-dup pairs, jaccard-verified ----
    // The input unions a BAND-STRUCTURE probe pair (ids 9000000011/12):
    // jaccard 0.25 but their signatures agree at entries 2 and 5 ONLY
    // (never both entries of an aligned 2-entry band), so correct
    // banding excludes the pair on both sides while ANY single-entry
    // banding — either parity — co-buckets it and reads RED. The r14
    // kill-test proved the raw corpus can't see band width: 1-entry
    // bands produced the identical verified pair set at sf0.01
    // (every real jaccard>=0.2 pair already co-buckets under 2-entry
    // bands, and the looser candidates all fail the verify filter).
    "q23_minhash_pairs" -> ((s, dir) => {
      import s.implicits._
      Dedup.minhashLshPairs(
        Tables.documents(s, dir).select(col("doc_id"), col("text"))
          .unionByName(bandProbeDocs.toDF("doc_id", "text")),
        n = 3, k = 8, bands = 4, threshold = 0.2)
    }),

    // ---- SimHash near-dup pairs (hamming ≤ 6 of 32 bits) ----
    "q24_simhash_pairs" -> ((s, dir) => {
      Dedup.simhashPairs(Tables.documents(s, dir),
        maxDist = 3, bits = 32, blocks = 4)
    }),

    // ---- blocked pairwise n-gram Jaccard ----
    "q25_ngram_jaccard" -> ((s, dir) => {
      Dedup.ngramJaccardPairs(Tables.documents(s, dir),
        blockCol = "source", n = 3, threshold = 0.08)
    }),

    // ---- context ⊗ targets expansion (J7, inferflow FeatureInit) ----
    "q26_context_targets" -> ((s, dir) => {
      val context = Tables.customer(s, dir)
        .agg(xavg(col("c_acctbal")).as("avg_acctbal"),
          count(lit(1)).as("n_customers"))
      val targets = Tables.orders(s, dir)
        .filter(col("o_orderkey") % 17 === 0)
        .select(col("o_orderkey"), col("o_totalprice"))
      Pipeline.withContext(context)(targets)
        .withColumn("price_ratio", col("o_totalprice") / col("avg_acctbal"))
    }),

    // ---- pairwise target composition (J8) ----
    "q27_pairwise" -> ((s, dir) => {
      val targets = Tables.lineitem(s, dir)
        .filter(col("l_orderkey") % 101 === 0)
        .select((col("l_orderkey") * 8 + col("l_linenumber")).as("idx"),
          col("l_orderkey"), col("l_linenumber"), col("l_quantity"))
      val pairs = targets.select(col("idx").as("left_idx"),
        (col("idx") + 1).as("right_idx"))
      Pipeline.pairwise(targets, pairs, "idx", "left_idx", "right_idx")
        .select(col("a_l_orderkey").as("orderkey"),
          col("a_l_linenumber").as("ln_a"), col("b_l_linenumber").as("ln_b"),
          (col("b_l_quantity") - col("a_l_quantity")).as("qty_delta"))
    }),

    // ---- slate expansion: explode members + join targets (J8) ----
    "q28_slatewise" -> ((s, dir) => {
      val targets = Tables.lineitem(s, dir)
        .filter(col("l_orderkey") % 31 === 0)
        .select((col("l_orderkey") * 8 + col("l_linenumber")).as("idx"),
          col("l_orderkey"), col("l_linenumber"), col("l_extendedprice"))
      val slates = targets.groupBy(col("l_orderkey").as("slate_id"))
        .agg(sort_array(collect_list(col("idx"))).as("members"))
      Pipeline.slatewise(targets.drop("l_orderkey"), slates, "members", "idx")
        .select(col("slate_id"), col("l_linenumber"), col("l_extendedprice"))
    }),

    // ---- changed-row detection between snapshots (A7) ----
    "q29_delta_detect" -> ((s, dir) => {
      val current = Tables.customer(s, dir)
      val next = current.select(col("c_custkey"),
          when(col("c_mktsegment") === "BUILDING", col("c_acctbal") * 1.1)
            .otherwise(col("c_acctbal")).as("c_acctbal"))
        .unionByName(current.filter(col("c_custkey") % 100 === 0)
          .select((col("c_custkey") + 1000000L).as("c_custkey"),
            col("c_acctbal")))
      ChangeCapture.changedRows(current, next, Seq("c_custkey"), Seq("c_acctbal"))
    }),

    // ---- bounded per-key batch grouping (A9, py client batching) ----
    "q30_batch_groups" -> ((s, dir) => {
      graft.streaming.Ingest.groupBatches(
        Tables.events(s, dir).select(col("user_id"), col("event_id"), col("ts")),
        keyCol = "user_id", orderCol = "event_id", batchSize = 10)
    }),

    // ---- mod-24 ring week slot + absolute week index (F10) ----
    "q32_ring_week" -> ((s, dir) => {
      val e = Tables.events(s, dir)
      e.select(col("user_id"), col("event_id"), col("ts"),
        InteractionStore.weekIndex(col("ts")).as("week_idx"),
        InteractionStore.ringWeek(col("ts")).as("ring_week"))
    }),

    // ---- ST6 horizon retention: drop events >= N weeks older than the
    // per-user newest event (ring stale-slot clearing, declaratively) ----
    "q33_retention_horizon" -> ((s, dir) => {
      InteractionStore.retention(Tables.events(s, dir), horizonWeeks = 2)
        .select(col("user_id"), col("event_id"), col("ts"))
    }),

    // ---- last-write-wins upsert merge (S2/ST3) ----
    "q34_upsert" -> ((s, dir) => {
      val current = Tables.orders(s, dir)
        .select(col("o_orderkey"), col("o_totalprice"), lit(0L).as("version"))
      val base = Tables.orders(s, dir).filter(col("o_orderkey") % 5 === 0)
      val updates = base
        .select(col("o_orderkey"), (col("o_totalprice") * 1.1).as("o_totalprice"),
          lit(1L).as("version"))
        .unionByName(base.select(col("o_orderkey"),
          (col("o_totalprice") * 1.2).as("o_totalprice"), lit(2L).as("version")))
        .unionByName(base.select((col("o_orderkey") + 1000000000L).as("o_orderkey"),
          col("o_totalprice"), lit(1L).as("version")))
      FeatureStore.upsert(current, updates, Seq("o_orderkey"), "version")
    }),

    // ---- decoded retrieve: per-type display strings (F8) ----
    "q35_decoded_retrieve" -> ((s, dir) => {
      import graft.core.FeatureType._
      Tables.orders(s, dir).select(col("o_orderkey"),
        Decode.display(col("o_orderkey"), Int64).as("key_str"),
        Decode.display(col("o_totalprice"), FP64).as("price_str"),
        Decode.display(col("o_orderstatus"), Str).as("status_str"),
        Decode.display(col("o_orderdate"), Str).as("date_str"),
        Decode.display(col("o_orderkey") % 2 === 0, Bool).as("even_str"))
    }),

    // ---- embedding pad/truncate to fixed dim (F13/P8) + vector decode ----
    "q36_fit_dim" -> ((s, dir) => {
      val e = Tables.embeddings(s, dir)
      val f16 = Similarity.fitDim(col("embedding"), 16)
      val f80 = Similarity.fitDim(col("embedding"), 80)
      e.select(col("vec_id"),
        size(f16).as("n16"), size(f80).as("n80"),
        element_at(f16, 16).as("last16"),
        element_at(f80, 80).as("pad80"),
        Similarity.dot(f16, f16).as("l2sq_16"),
        Decode.displayVector(slice(col("embedding").cast("array<double>"), 1, 3),
          graft.core.FeatureType.FP64).as("vec_prefix"))
    }),

    // ---- inferflow pointwise DAG: feature fetch -> context -> RPN
    // score -> per-order top-K (U4, SURVEY 3.3 lifecycle) ----
    "q37_inferflow_pointwise" -> ((s, dir) => {
      val part = Tables.part(s, dir)
      val targets = Tables.lineitem(s, dir)
        .filter(col("l_orderkey") % 50 === 0)
        .select(col("l_orderkey"), col("l_linenumber"), col("l_partkey"),
          col("l_extendedprice"), col("l_discount"))
      val enrich: Pipeline.Stage = df =>
        df.join(broadcast(FeatureStore.retrieve(
            df.select(col("l_partkey").as("p_partkey")).distinct(),
            part, Seq("p_partkey"), Fixtures.partFacts, Seq("p_retailprice"))),
          col("l_partkey") === col("p_partkey"), "left").drop("p_partkey")
      val ctx: Pipeline.Stage = Pipeline.withContext(
        part.agg(xavg(col("p_retailprice")).as("avg_price")))
      val score: Pipeline.Stage = df =>
        Rpn(df, "l_extendedprice 1 l_discount - * p_retailprice avg_price / *",
          "score")
      val rank: Pipeline.Stage = df => {
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy(col("l_orderkey"))
          .orderBy(col("score").desc, col("l_linenumber").asc)
        df.withColumn("rank", row_number().over(w)).filter(col("rank") <= 3)
      }
      Pipeline(enrich, ctx, score, rank)(targets)
        .select(col("l_orderkey"), col("l_linenumber"), col("score"), col("rank"))
    }),

    // ---- IVF ANN: nearest-cells probe then exact re-rank (S11 scale
    // path #2). Centroids are a deterministic id-sample, so build +
    // probe + re-rank reproduce in SQL; probe-all == brute-force is
    // additionally asserted in SimilaritySpec. ----
    "q38_ann_ivf_topk" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      val queries = emb.filter(col("vec_id") < 5)
        .select(col("vec_id").as("query_id"), col("embedding").as("query_embedding"))
      graft.operators.IvfIndex.build(emb, cells = 8)
        .search(queries, k = 10, nProbe = 2)
    }),

    // ---- skye GetSimilarCandidates lifecycle (SURVEY 3.5): candidate
    // ids -> stored embeddings -> payload-filtered corpus -> top-K ----
    "q39_skye_search" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      val candidateIds = emb.filter(col("vec_id") % 250 === 3)
        .select(col("vec_id").as("query_id"))
      val queries = SimilaritySearch.resolveEmbeddings(candidateIds, emb)
      SimilaritySearch.topK(emb, queries, k = 8,
        metric = SimilaritySearch.Dot,
        filters = Filters.in(col("label"), 0, 1, 2) &&
          Filters.btwe(col("vec_id"), 10, 4000),
        excludeSelf = true)
        .select(col("query_id"), col("vec_id"), col("score"), col("rank"))
    }),

    // ---- vector feature retrieve: fixed-length FP32Vector with
    // zero-vector default fill (P1/P3 over vector features) ----
    "q40_vector_retrieve" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      val present = emb.filter(col("vec_id") % 9 === 2).select(col("vec_id"))
      val keys = present.unionByName(
        present.select((col("vec_id") + 1000000L).as("vec_id")))
      FeatureStore.retrieve(keys, emb, Seq("vec_id"),
          Fixtures.embeddingFg, Seq("embedding"))
        .select(col("vec_id"),
          size(col("embedding")).as("dim"),
          element_at(col("embedding"), 1).cast("double").as("e1"),
          Similarity.dot(col("embedding"), col("embedding")).as("l2sq"))
    }),

    // ---- winnowing document fingerprints (SWA SIGMOD'03): char-gram
    // hashes -> sliding-window minima -> distinct local fingerprints ----
    "q41_fingerprint_winnow" -> ((s, dir) => {
      Tables.documents(s, dir).select(col("doc_id"),
        explode(TextFunctions.winnowFingerprint(col("text"), k = 8, w = 4))
          .as("fp"))
    }),

    // ---- near-dup clusters: minhash pairs -> connected components ->
    // canonical representative per cluster (cluster-level dedup) ----
    // The input unions the 6-doc CHAIN probe (ccChainProbe, ids
    // 9000000021..26): its pair graph is a 5-edge path, so the CC loop
    // must propagate labels across 5 hops — the raw corpus's
    // near-clique components converge in ONE round (r14 kill-test:
    // a premature-fixpoint mutation survived GREEN pre-probe), so the
    // chain is what pins multi-round convergence driver-side.
    "q42_dedup_components" -> ((s, dir) => {
      import s.implicits._
      val pairs = Dedup.minhashLshPairs(
        Tables.documents(s, dir).select(col("doc_id"), col("text"))
          .unionByName(ccChainProbe.toDF("doc_id", "text")),
        n = 3, k = 8, bands = 4, threshold = 0.2)
      Dedup.connectedComponents(pairs)
        .withColumn("is_canonical", col("doc_id") === col("component"))
    }),

    // ---- uint64 full-range aggregation: DecimalType(20,0) carries the
    // unsigned 64-bit range exactly (Types.scala mapping). Aggregates
    // stay exact decimal; the OUTPUT is the canonical digit string so
    // the compare is loader-invariant (decimal precision differs
    // between engines; digits don't). ----
    "q44_uint64_agg" -> ((s, dir) => {
      val u64max = lit("18446744073709551615").cast("decimal(20,0)")
      Tables.orders(s, dir)
        .select(col("o_orderpriority"), (u64max - col("o_orderkey")).as("u"))
        .groupBy(col("o_orderpriority"))
        .agg(sum(col("u")).cast("string").as("u_sum"),
          min(col("u")).cast("string").as("u_min"),
          max(col("u")).cast("string").as("u_max"), count(lit(1)).as("n"))
    }),

    // ---- int8-quantized embedding top-K (storage scale path: 4x less
    // IO, integer dot kernel; deterministic quantization -> SQL oracle
    // rebuilds codes and scores bit-identically) ----
    "q45_ann_int8_topk" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      val staged = emb
        .select(col("vec_id"), col("embedding"),
          Similarity.int8Scale(col("embedding")).as("scale"))
        .select(col("vec_id"), col("scale"),
          Similarity.int8Codes(col("embedding"), col("scale")).as("codes"))
      val queries = staged.filter(col("vec_id") < 5)
        .select(col("vec_id").as("query_id"), col("scale").as("qscale"),
          col("codes").as("qcodes"))
        .orderBy(col("query_id")).limit(5) // audit-provable bound
      val scored = staged.crossJoin(broadcast(queries))
        .select(col("query_id"), col("vec_id"),
          Similarity.dotInt8Scored(col("codes"), col("scale"),
            col("qcodes"), col("qscale")).as("score"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("query_id"))
        .orderBy(col("score").desc, col("vec_id").asc)
      scored.withColumn("rank", row_number().over(w)).filter(col("rank") <= 10)
    }),

    // ---- trailing-window aggregate feature materialization (the
    // offline feature-engineering pass that feeds persist/upsert) ----
    "q46_feature_materialize" -> ((s, dir) => {
      graft.operators.Training.aggregateFeatures(
        Tables.events(s, dir), keys = Seq("user_id"), tsCol = "ts",
        valueCol = "value", asOf = lit("2024-02-01 00:00:00").cast("timestamp"),
        windowsDays = Seq(7, 30))
    }),

    // ---- point-in-time-correct feature join (leakage-free training
    // data assembly): latest feature value at-or-before each label ts,
    // one windowed pass, no per-label history explosion ----
    "q47_point_in_time" -> ((s, dir) => {
      val events = Tables.events(s, dir)
      val history = events.groupBy(col("user_id"), col("ts"))
        .agg(max(col("value")).as("value"))
      val labels = events.filter(col("event_id") % 97 === 0)
        .select(col("user_id"), col("ts"), col("event_id").as("label_id"))
      graft.operators.Training.pointInTime(labels, history,
        keys = Seq("user_id"), tsCol = "ts", valueCol = "value")
    }),

    // ---- IVF x int8 composition: cell-pruned probe + integer-dot
    // re-rank (directory pruning x 4x-smaller payload at scale). Runs
    // against the PERSISTED layout: codes+scales are materialized at
    // build (Layout.writeIvf) and the query scans only the code
    // columns — the embedding floats are column-pruned away ----
    "q48_ann_ivf_int8" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      val queries = emb.filter(col("vec_id") < 5)
        .select(col("vec_id").as("query_id"), col("embedding").as("query_embedding"))
      val path = indexPath("ivf-int8", dir)
      graft.sources.Layout.writeIvf(
        graft.operators.IvfIndex.build(emb, cells = 8), path)
      graft.sources.Layout.loadIvf(s, path)
        .searchInt8(queries, k = 10, nProbe = 2)
    }),

    // ---- language-ID evaluation against the corpus ground truth
    // (confusion counts; 'zh' has no stopword list -> 'und') ----
    "q49_langid_eval" -> ((s, dir) => {
      Tables.documents(s, dir)
        .select(col("lang"), TextFunctions.words(col("text")).as("__w"))
        .select(col("lang"),
          TextFunctions.langIdFromHits(
            TextFunctions.stopwordHitsFromWords(col("__w"), "de"),
            TextFunctions.stopwordHitsFromWords(col("__w"), "en"),
            TextFunctions.stopwordHitsFromWords(col("__w"), "es"),
            TextFunctions.stopwordHitsFromWords(col("__w"), "fr")).as("lang_pred"))
        .groupBy(col("lang"), col("lang_pred"))
        .agg(count(lit(1)).as("n"))
    }),

    // ---- JSON payload decode on the real events stream (F14) ----
    "q50_props_decode" -> ((s, dir) => {
      import org.apache.spark.sql.types._
      val props = StructType(Seq(StructField("k", LongType)))
      val decoded = graft.streaming.Ingest.jsonEvents(
        Tables.events(s, dir).select(col("event_type"), col("props")),
        "props", props)
      decoded.groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"), sum(col("k")).as("k_sum"),
          min(col("k")).as("k_min"), max(col("k")).as("k_max"))
    }),

    // ---- gap-based sessionization (lag-gap / cumulative-sum) ----
    "q51_sessionize" -> ((s, dir) => {
      InteractionStore.sessionize(
        Tables.events(s, dir).select(col("user_id"), col("event_id"), col("ts")),
        gap = "3 days")
    }),

    // ---- deterministic stratified sampling: membership from a key
    // hash, stable under re-execution and repartitioning ----
    "q52_stratified_sample" -> ((s, dir) => {
      graft.operators.Sampling.stratified(
        Tables.orders(s, dir)
          .select(col("o_orderkey"), col("o_orderpriority"), col("o_totalprice")),
        keyCol = "o_orderkey", strataCol = "o_orderpriority",
        rates = Map("1-URGENT" -> 0.2, "2-HIGH" -> 0.1),
        defaultRate = 0.05)
    }),

    // ---- sliding event-time windows (14d length / 7d slide): each
    // event lands in two overlapping windows ----
    "q53_sliding_window" -> ((s, dir) => {
      Tables.events(s, dir)
        .groupBy(col("user_id"), window(col("ts"), "14 days", "7 days"))
        .agg(count(lit(1)).as("n"), xsum(col("value")).as("value_sum"))
        .select(col("user_id"), col("window.start").as("w_start"),
          col("window.end").as("w_end"), col("n"), col("value_sum"))
    }),

    // ---- training-data curation pipeline: quality gate -> language
    // filter -> exact dedup -> deterministic sample (the north-star
    // ops composed end to end) ----
    "q54_curation_pipeline" -> ((s, dir) => {
      val staged = Tables.documents(s, dir)
        .select(col("doc_id"), col("source"), col("text"),
          TextFunctions.words(col("text")).as("__w"))
        .select(col("doc_id"), col("source"), col("text"), col("__w"),
          size(col("__w")).cast("double").as("n_tokens"),
          (size(regexp_extract_all(col("text"), lit("[^A-Za-z0-9\\s]"), lit(0)))
            .cast("double") / length(col("text")).cast("double")).as("punct_ratio"),
          TextFunctions.langIdFromHits(
            TextFunctions.stopwordHitsFromWords(col("__w"), "de"),
            TextFunctions.stopwordHitsFromWords(col("__w"), "en"),
            TextFunctions.stopwordHitsFromWords(col("__w"), "es"),
            TextFunctions.stopwordHitsFromWords(col("__w"), "fr")).as("lang_pred"))
      val gated = staged.filter(col("lang_pred") === "en" &&
        col("n_tokens") >= 5 && col("punct_ratio") < 0.2)
      val deduped = Dedup.exact(gated)
      graft.operators.Sampling.byHash(deduped, "doc_id", rate = 0.5)
        .select(col("doc_id"), col("source"), col("n_tokens"))
    }),

    // ---- rollup + distinct aggregation (beyond the reference's
    // surface; table stakes for the analytics side) ----
    "q55_rollup_distinct" -> ((s, dir) => {
      Tables.events(s, dir)
        .rollup(col("event_type"), InteractionStore.week(col("ts")).as("week"))
        .agg(count(lit(1)).as("n"),
          countDistinct(col("user_id")).as("n_users"),
          xsum(col("value")).as("value_sum"))
    }),

    // ---- SCD2 history from a snapshot series: change-only rows with
    // validity intervals (feeds the q47 point-in-time join) ----
    "q56_scd2_history" -> ((s, dir) => {
      val snaps = Tables.events(s, dir)
        .groupBy(col("user_id"), col("ts"))
        .agg(floor(max(col("value")) / 10).as("tier"))
      ChangeCapture.scd2(snaps, keys = Seq("user_id"), tsCol = "ts",
        valueCols = Seq("tier"))
    }),

    // ---- banded interval join: click -> purchase attribution within
    // a 3-day horizon (equi-join on time bands, hard 2x fan-out) ----
    "q57_attribution_join" -> ((s, dir) => {
      val events = Tables.events(s, dir)
      val clicks = events.filter(col("event_type").isin("click", "view"))
        .select(col("user_id"), col("event_id").as("click_id"),
          col("ts").as("click_ts"))
      val purchases = events.filter(col("event_type") === "purchase")
        .select(col("user_id"), col("event_id").as("purchase_id"),
          col("ts").as("purchase_ts"))
      InteractionStore.intervalJoin(clicks, purchases, Seq("user_id"),
          horizon = "3 days", leftTs = "click_ts", rightTs = "purchase_ts")
        .select(col("user_id"), col("click_id"), col("purchase_id"),
          (unix_millis(col("purchase_ts")) - unix_millis(col("click_ts")))
            .as("gap_ms"))
    }),

    // ---- product quantization ANN (Jegou et al. PAMI'11): m=8
    // subspace codebooks, ADC lookup-table scoring — 32x smaller
    // vector payload; deterministic -> full SQL oracle ----
    "q58_ann_pq_topk" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      val queries = emb.filter(col("vec_id") < 5)
        .select(col("vec_id").as("query_id"), col("embedding").as("query_embedding"))
      // persisted layout: the m-byte codes are the stored corpus payload;
      // the ADC query scans codes + codebook only, never the embeddings
      val path = indexPath("pq", dir)
      graft.sources.Layout.writePq(
        graft.operators.PqIndex.build(emb, m = 8, k = 16), path)
      graft.sources.Layout.loadPq(s, path).searchDot(queries, kResults = 10)
    }),

    // ---- OPQ-lite: variance-balanced subspace allocation before PQ
    // (Ge et al. CVPR'13 allocation step) — same m-byte code budget,
    // better-conditioned codebooks; the permutation is dim-sized
    // metadata applied as a row-local literal projection ----
    "q74_ann_opq_topk" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      val perm = graft.operators.PqIndex.varianceBalancedPerm(emb, m = 8)
      val pcorpus = emb.select(col("vec_id"),
        graft.operators.PqIndex.permuted(
          col("embedding").cast("array<double>"), perm).as("embedding"))
      val queries = pcorpus.filter(col("vec_id") < 5)
        .select(col("vec_id").as("query_id"),
          col("embedding").as("query_embedding"))
      graft.operators.PqIndex.build(pcorpus, m = 8, k = 16)
        .searchDot(queries, kResults = 10)
    }),

    // ---- IVF x PQ: cell-pruned probe, ADC-scored candidates — the
    // full corpus-scale composition (directory pruning x 32x payload
    // compression), deterministic end to end ----
    "q59_ann_ivf_pq" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      val queries = emb.filter(col("vec_id") < 5)
        .select(col("vec_id").as("query_id"), col("embedding").as("query_embedding"))
      val ivf = graft.operators.IvfIndex.build(emb, cells = 8)
      graft.operators.PqIndex.build(emb, m = 8, k = 16)
        .searchDotIvf(ivf, queries, kResults = 10, nProbe = 2)
    }),

    // ---- weight-proportional systematic sampling (exact micro-unit
    // arithmetic: same sample on any engine / partitioning) ----
    "q60_weighted_sample" -> ((s, dir) => {
      graft.operators.Sampling.systematicByWeight(
        Tables.orders(s, dir).select(col("o_orderkey"), col("o_totalprice")),
        keyCol = "o_orderkey", weightCol = "o_totalprice", n = 50)
    }),

    // ---- deduped corpus: near-dup pairs -> components -> keep only
    // canonical representatives (the final dedup pipeline step) ----
    "q61_dedup_prune" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      val pairs = Dedup.minhashLshPairs(docs, n = 3, k = 8, bands = 4,
        threshold = 0.2)
      Dedup.pruneByComponents(docs, Dedup.connectedComponents(pairs))
        .select(col("doc_id"), col("source"), col("n_chars"))
    }),

    // ---- deterministic train/val/test split: hash-bucket assignment,
    // stable across runs/partitionings/engines ----
    "q62_hash_split" -> ((s, dir) => {
      graft.operators.Sampling.split(
        Tables.documents(s, dir).select(col("doc_id"), col("lang")),
        keyCol = "doc_id",
        splits = Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1))
    }),

    // ---- concat-and-chunk sequence packing: documents onto one token
    // axis, cut into 256-token training blocks (prefix sum + explode,
    // no sequential scan) ----
    "q63_pack_sequences" -> ((s, dir) => {
      graft.operators.Training.packSequences(
        Tables.documents(s, dir), orderCol = "doc_id",
        tokens = TextFunctions.tokenCount(col("text")), blockTokens = 256)
    }),

    // ---- JL random projection to 8 dims via md5-derived hyperplanes
    // (deterministic -> SQL oracle rebuilds every component) ----
    "q64_random_projection" -> ((s, dir) => {
      graft.operators.AnnIndex.randomProject(
        Tables.embeddings(s, dir).select(col("vec_id"), col("embedding")),
        embCol = "embedding", outDim = 8)
        .select(col("vec_id"),
          posexplode(col("projected")).as(Seq("dim", "value")))
    }),

    // ---- exact per-class quota downsampling (class balancing) ----
    "q67_class_quota" -> ((s, dir) => {
      graft.operators.Sampling.quotaPerClass(
        Tables.embeddings(s, dir).select(col("vec_id"), col("label")),
        keyCol = "vec_id", classCol = "label", n = 20)
    }),

    // ---- equal-width histogram: one bounds aggregate broadcast back,
    // one groupBy — no sort, no window ----
    "q68_histogram" -> ((s, dir) => {
      graft.operators.Profile.histogram(
        Tables.orders(s, dir).select(col("o_totalprice")),
        "o_totalprice", buckets = 20)
    }),

    // ---- cube aggregation: all grouping-set combinations in one
    // pass (table-stakes analytics beyond the reference's surface) ----
    "q69_cube_agg" -> ((s, dir) => {
      Tables.events(s, dir)
        .cube(col("event_type"), InteractionStore.week(col("ts")).as("week"))
        .agg(count(lit(1)).as("n"), xsum(col("value")).as("value_sum"))
    }),

    // ---- pivot: per-user event-type counts as columns (fixed pivot
    // value list -> single-pass conditional aggregation; absent combos
    // coalesced to 0 to match FILTER-count semantics) ----
    "q70_pivot_counts" -> ((s, dir) => {
      val types = Seq("click", "view", "purchase", "signup", "error")
      val p = Tables.events(s, dir)
        .groupBy(col("user_id"))
        .pivot("event_type", types)
        .agg(count(lit(1)))
      p.select(col("user_id") +: types.map(t =>
        coalesce(col(t), lit(0L)).as(t)): _*)
    }),

    // ---- exact interpolated percentiles per group (rounded: the
    // interpolation arithmetic differs in the last ulps per engine) ----
    "q71_group_percentiles" -> ((s, dir) => {
      Tables.orders(s, dir).groupBy(col("o_orderpriority"))
        .agg(round(expr("percentile(o_totalprice, 0.5)"), 6).as("p50"),
          round(expr("percentile(o_totalprice, 0.9)"), 6).as("p90"),
          count(lit(1)).as("n"))
    }),

    // ---- KMV distinct sketch: O(k)-state mergeable distinct counts
    // (custom TypedImperativeAggregate; bounded buffers cross the
    // shuffle instead of every distinct value) ----
    "q72_kmv_distinct" -> ((s, dir) =>
      Sketches.distinctByGroup(Tables.events(s, dir),
        "event_type", "user_id", k = 64)),

    // ---- Gopher-family repetition quality: duplicate-word fraction
    // and top-bigram character coverage, keep flag on the rounded
    // metrics; all signals row-local (no shuffle) over staged
    // word/bigram/top attributes ----
    "q73_repetition_quality" -> ((s, dir) => {
      val base = Tables.documents(s, dir)
        .select(col("doc_id"), TextFunctions.words(col("text")).as("__w"))
      val bg = base.select(col("doc_id"), col("__w"),
        TextFunctions.shinglesFromWords(col("__w"), 2).as("__bg"))
      val top = bg.select(col("doc_id"), col("__w"),
        TextFunctions.topGram(col("__bg")).as("__top"))
      top
        .select(col("doc_id"),
          TextFunctions.repetitionFeatures(col("__w"), col("__top")).as("__r"))
        .select(col("doc_id"), col("__r.*"))
        .withColumn("keep",
          col("dup_word_frac") <= 0.4 && col("top_bigram_char_frac") <= 0.2)
    }),

    // ---- exact fixed-point Gram matrix X^T.X over the embedding
    // corpus (custom TypedImperativeAggregate: d(d+1)/2-long triangle
    // state per task, one buffer across the shuffle — no d^2 row
    // inflation; integer micro-unit math = order-independent) ----
    "q75_gram_matrix" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
        .select(graft.operators.LinAlg.microVec(col("embedding")).as("__m"))
      graft.operators.LinAlg.gramUpper(emb, col("__m"))
    }),

    // ---- benchmark decontamination: corpus docs sharing any word
    // 3-gram with the (broadcast) benchmark set — the pretraining
    // hygiene sweep (real suites use 8-13-grams; 3 fits the short
    // synthetic docs); map-side semi-join, the corpus never
    // shuffles ----
    "q76_decontaminate" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      val bench = docs.filter(col("doc_id") % 41 === 0)
      val corpus = docs.filter(col("doc_id") % 41 =!= 0)
      graft.operators.Decontaminate.overlapReport(
        corpus, bench, "doc_id", "text", n = 3)
    }),

    // ---- incremental aggregate maintenance: history state + delta
    // state merged == full recompute, without rescanning history ----
    "q77_incremental_agg" -> ((s, dir) => {
      import graft.operators.Incremental
      val ev = Tables.events(s, dir)
      val cut = lit("2024-01-20").cast("timestamp")
      val keys = Seq("user_id", "event_type")
      val hist = Incremental.aggState(ev.filter(col("ts") < cut), keys, "value")
      val delta = Incremental.aggState(ev.filter(col("ts") >= cut), keys, "value")
      Incremental.finish(Incremental.mergeStates(Seq(hist, delta), keys), keys)
    }),

    // ---- ordered funnel (view -> click -> purchase): all stage
    // timestamps are chained windows over ONE user partitioning —
    // single exchange, no self-joins ----
    "q78_funnel_reach" -> ((s, dir) => {
      graft.operators.Funnel.reach(Tables.events(s, dir),
        "user_id", "ts", "event_type", Seq("view", "click", "purchase"))
    }),

    // ---- temperature-based multi-source mixture sampling (quota ∝
    // n^0.5, largest-remainder, integer micro-unit allocation) ----
    "q80_temperature_mix" -> ((s, dir) => {
      val corpus = Tables.documents(s, dir)
        .filter(col("n_chars") % 7 < 5)
        .select(col("doc_id"), col("source"), col("lang"))
      graft.operators.Sampling.temperatureMix(corpus,
        keyCol = "doc_id", sourceCol = "source", alpha = 0.5, total = 100)
    }),

    // ---- rolling-frame sequence features + next-event label (the
    // frame-spec window surface the reference lacks; decimal-carried
    // frame sums are engine-portable) ----
    "q81_rolling_features" -> ((s, dir) => {
      graft.operators.Training.rollingFeatures(
        Tables.events(s, dir)
          .select(col("user_id"), col("ts"), col("event_id"), col("value")),
        keys = Seq("user_id"), tsCol = "ts", tieCol = "event_id",
        valueCol = "value", frameRows = 6)
    }),

    // ---- cross-corpus LSH linkage join: near-dups of a query set
    // inside the corpus (record linkage / entity resolution) — band
    // buckets equi-joined, never a cross join ----
    "q84_lsh_linkage" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      val queries = docs.filter(col("doc_id") % 5 === 0)
      Dedup.minhashLshLink(docs, queries, n = 3, k = 8, bands = 4,
        threshold = 0.2)
    }),

    // ---- the streaming incremental-aggregate sink driven end-to-end:
    // events stream in via the file source (Kafka stand-in), the
    // foreachBatch merge maintains the per-key (cnt, decimal-sum)
    // state table through the crash-safe swap, and a SECOND run
    // against the same checkpoint must be a no-op (replay marker) —
    // the state the driver checks is the real sink output ----
    "q86_streaming_agg_state" -> ((s, dir) => {
      import graft.streaming.Ingest
      val keys = Seq("user_id", "event_type")
      val base = java.nio.file.Files.createTempDirectory("graft-q86").toString
      val in = s"$base/in"
      val statePath = s"$base/state"
      val ckpt = s"$base/ckpt"
      java.nio.file.Files.createDirectories(java.nio.file.Paths.get(in))
      java.nio.file.Files.copy(
        java.nio.file.Paths.get(s"$dir/events.parquet"),
        java.nio.file.Paths.get(s"$in/events.parquet"))
      val schema = Tables.load(s, dir, "events").schema
      Ingest.incrementalAggSink(
          Ingest.fileSource(s, in, schema), statePath, keys, "value", ckpt)
        .start().awaitTermination()
      // restart on the same checkpoint: no new files + the scoped
      // replay marker ⇒ state unchanged
      Ingest.incrementalAggSink(
          Ingest.fileSource(s, in, schema), statePath, keys, "value", ckpt)
        .start().awaitTermination()
      graft.operators.Incremental.finish(s.read.parquet(statePath), keys)
    }),

    // ---- wire codecs driven through the driver oracle as encode→
    // decode roundtrips: the 40-bit expiry timestamp (F11, PSDB
    // header) and the LSB-first bool bit-pack (F12, serializeBoolV2)
    // must reproduce the source values exactly — the oracle is the
    // plain SQL of the pre-encode expressions. 10 flags span two
    // packed bytes, exercising the partial-final-byte path ----
    "q88_wire_roundtrip" -> ((s, dir) => {
      import graft.functions.WireCodecs
      val ev = Tables.events(s, dir)
      val secs = floor(unix_millis(col("ts")) / lit(1000L)).cast("long")
      // flags coalesce to false on BOTH sides (r14 ADVICE): the
      // events table carries no NULLs today, but a NULL value/
      // event_type would send the oracle's Σ bit·2^i arithmetic to
      // NULL while the engine's packed bytes need not match —
      // coalescing pins the NULL→false semantics instead of relying
      // on an undeclared NOT NULL contract
      val flags = array(Seq(
        col("value") > 50.0, col("value") < 10.0,
        col("user_id") % 2 === 0, col("user_id") % 3 === 0,
        col("event_type") === "click", col("event_type") === "view",
        col("value") >= 25.0, col("user_id") % 5 === 0,
        col("value") >= 75.0, col("event_type") =!= "purchase")
        .map(f => coalesce(f, lit(false))): _*)
      // flags render as a 10-char '0'/'1' string: every unpacked bit is
      // hash-compared, and the output stays scalar so the driver's
      // row-sorting comparator can handle it
      // wire_hex pins the WIRE LAYOUT (5 bytes, big-endian) in the
      // driver gate, not just the roundtrip: the r14 kill-test proved
      // a widened 6-byte encoding still roundtrips green — the oracle
      // derives the 10 hex digits independently from epoch seconds
      // flags_hex pins the PACKED layout the same way (LSB-first bits,
      // 2 bytes for 10 flags): unpack∘pack alone passes for any
      // self-consistent bit order — the oracle recomputes the two
      // bytes independently as Σ bit_i·2^i
      ev.select(col("event_id"),
        WireCodecs.decodeExpiry40(WireCodecs.encodeExpiry40(secs))
          .as("expiry_s"),
        hex(WireCodecs.encodeExpiry40(secs)).as("wire_hex"),
        concat_ws("", transform(
          WireCodecs.unpackBools(WireCodecs.packBools(flags), lit(10)),
          f => f.cast("int").cast("string"))).as("flag_bits"),
        hex(WireCodecs.packBools(flags)).as("flags_hex"))
    }),

    // ---- proto3 persist-event wire format (F15) + composite key
    // string (F9): encode each embedding row to public proto3 bytes
    // (varint / length-delimited / packed LE floats), decode it back,
    // and the decoded struct must equal the source columns — PLUS a
    // probe row whose ENCODED HEX the oracle pins as a literal
    // independently derived with CPython (struct + hand varint). The
    // pin exists because decode∘encode passes for ANY self-consistent
    // layout — and proto varint decoders accept NON-CANONICAL
    // encodings, so even asymmetric padding bugs survive a pure
    // roundtrip (the q88 lesson: when the bytes are the
    // contract, pin the encoded form) ----
    "q89_proto_roundtrip" -> ((s, dir) => {
      import s.implicits._
      import graft.functions.ProtoWire
      val probe = Seq((9000000001L, Array(1.5f, -2.0f), 99))
        .toDF("vec_id", "embedding", "label")
      val src = Tables.embeddings(s, dir)
        .select(col("vec_id"), col("embedding"), col("label"))
        .unionByName(probe)
      val enc = ProtoWire.protoEncode(
        lit("embedding"),
        FeatureStore.keyString(Seq("vec_id", "label")),
        col("vec_id"), col("embedding"))
      src.select(col("vec_id"),
          ProtoWire.protoDecode(enc).as("p"),
          when(col("vec_id") === 9000000001L, hex(enc))
            .otherwise(lit("")).as("wire_hex"))
        .select(col("vec_id"), col("p.entity").as("entity"),
          col("p.key").as("pkey"), col("p.version").as("version"),
          col("wire_hex"),
          posexplode(col("p.values")).as(Seq("idx", "__v")))
        // one row per decoded element (scalar output for the driver's
        // comparator); float→double widening is exact
        .select(col("vec_id"), col("entity"), col("pkey"), col("version"),
          col("idx"), col("__v").cast("double").as("val"), col("wire_hex"))
    }),

    // ---- per-row schema-version resolution on read: each stored row
    // resolves requested features against the version it was WRITTEN
    // under; features added later read as the active default
    // (retrieve.go:819-858). Synthetic written-version column keeps the
    // oracle deterministic ----
    "q85_schema_version_read" -> ((s, dir) => {
      val cust = Tables.customer(s, dir)
        .withColumn("schema_version", (col("c_custkey") % 3 + 1).cast("int"))
      val keys = cust.select(col("c_custkey"))
      FeatureStore.retrieve(keys, cust, Seq("c_custkey"),
        Fixtures.customerProfileVersioned,
        Seq("c_name", "c_acctbal", "c_mktsegment"))
    }),

    // ---- stream-stream attribution join: click → purchase within 3
    // days per user, both sides watermarked so join state is bounded
    // (the streaming twin of InteractionStore.intervalJoin) ----
    "q90_stream_interval_join" -> ((s, dir) => {
      import graft.streaming.Ingest
      val (ev, base) = streamedEvents(s, dir, "q90")
      val clicks = ev.filter(col("event_type") === "click")
        .select(col("user_id"), col("event_id").as("click_id"),
          col("ts").as("click_ts"))
      val purchases = ev.filter(col("event_type") === "purchase")
        .select(col("user_id"), col("event_id").as("purchase_id"),
          col("ts").as("purchase_ts"))
      val joined = Ingest.streamIntervalJoin(clicks, purchases,
        Seq("user_id"), "3 days", "click_ts", "purchase_ts")
      runStreamTo(
        joined.select(col("user_id"), col("click_id"), col("purchase_id")),
        base)
    }),

    // ---- ST2 per-key routing: after hash-routing on the entity key,
    // every key's rows sit in exactly ONE partition — the consumer's
    // per-key worker ordering invariant, asserted as data ----
    "q91_route_by_key" -> ((s, dir) => {
      val routed = graft.streaming.Ingest.routeByKey(
        Tables.events(s, dir), Seq("user_id"), partitions = 32)
      routed.withColumn("__pid", spark_partition_id())
        .groupBy(col("user_id"))
        .agg(count_distinct(col("__pid")).as("n_parts"),
          count(lit(1)).as("n_rows"))
    }),

    // ---- streaming exact dedup with watermark-bounded state: the
    // at-least-once consumer's redelivery suppression; output keyed
    // columns only, so first-seen nondeterminism can't leak ----
    "q92_stream_dedup" -> ((s, dir) => {
      import graft.streaming.Ingest
      val (ev, base) = streamedEvents(s, dir, "q92")
      val dd = Ingest.streamDedup(ev, Seq("user_id", "event_type"))
      runStreamTo(dd.select(col("user_id"), col("event_type")), base)
    }),

    // ---- ST9 delta vs reset ingestion: a typed change log (UPSERT /
    // DELETE per key, latest version wins — indexer/models.go:6-8)
    // applies first; then a full sync wholesale-replaces two entities'
    // row sets (embedding.go:216-263) ----
    "q93_reset_vs_delta" -> ((s, dir) => {
      val base = Tables.events(s, dir)
        .select(col("user_id"), col("event_id"), col("event_type"), col("value"))
      val deltas = base.filter(col("event_id") % 7 === 0)
        .select(col("user_id"), col("event_id"), col("event_type"),
          (col("value") * 2).as("value"), lit(1L).as("version"),
          when(col("event_id") % 21 === 0, "DELETE")
            .otherwise("UPSERT").as("op"))
      val afterDelta = FeatureStore.applyChangeEvents(
        base, deltas, Seq("user_id", "event_id"), "version", "op")
      val replacement = base
        .filter(col("user_id") % 10 === 3 && col("event_type") === "click")
        .select(col("user_id"), col("event_id"), col("event_type"),
          lit(0.0).as("value"))
      FeatureStore.reset(afterDelta, replacement, Seq("user_id"))
    }),

    // ---- ST8 dead-letter routing: malformed JSON payloads decode to
    // null and divert to a DLQ inside the micro-batch; valid rows land
    // in the good table, and the DLQ count rides along as a column ----
    "q94_dead_letter" -> ((s, dir) => {
      import graft.streaming.Ingest
      import org.apache.spark.sql.types._
      val b = java.nio.file.Files.createTempDirectory("graft-q94").toString
      val (in, out, dlq) = (s"$b/in", s"$b/out", s"$b/dlq")
      val evSchema = new StructType()
        .add("event_id", LongType).add("user_id", LongType)
        .add("event_type", StringType).add("value", DoubleType)
      val payload = to_json(struct(col("event_id"), col("user_id"),
        col("event_type"), col("value")))
      // rows with value < 10 arrive garbled on the wire
      Tables.events(s, dir)
        .select(when(col("value") < 10, concat(lit("garbled:"), payload))
          .otherwise(payload).as("js"))
        .write.parquet(in)
      val wire = Ingest.fileSource(streamSession(s), in,
        new StructType().add("js", StringType))
      val decoded = Ingest.jsonEvents(wire, "js", evSchema)
      decoded.writeStream
        .option("checkpointLocation", s"$b/ckpt")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .foreachBatch { (batch: DataFrame, _: Long) =>
          Ingest.withDeadLetter(batch, "event_id", dlq)
            .write.mode("append").parquet(out)
        }
        .start().awaitTermination()
      s.read.parquet(out).crossJoin(
        broadcast(s.read.parquet(dlq).agg(count(lit(1)).as("n_dlq"))))
    }),

    // ---- streaming event-time session windows (native session_window
    // aggregation, the streaming twin of q51's batch sessionize) ----
    "q95_stream_sessions" -> ((s, dir) => {
      import graft.streaming.Ingest
      val (ev, base) = streamedEvents(s, dir, "q95")
      runStreamTo(Ingest.sessionWindows(ev, gap = "3 days"), base,
        outputMode = "complete")
    }),

    // ---- EXACT heavy hitters at sketch cost: Misra-Gries candidate
    // pass (bounded map per task, never shuffles the vocabulary) +
    // exact confirm over candidates only ----
    "q96_heavy_hitters" -> ((s, dir) => {
      val tok = Tables.documents(s, dir)
        .select(explode(TextFunctions.words(col("text"))).as("token"))
        .filter(col("token") =!= "")
      Sketches.heavyHitters(tok, "token", sketchSize = 63, minShare = 0.034)
    }),

    // ---- incremental IVF maintenance: the index builds on 80% of the
    // corpus, the remaining 20% appends against the EXISTING centroids
    // (no rebuild, one pass over the delta), and search covers both ----
    "q97_ivf_append" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      val base = emb.filter(col("vec_id") % 5 =!= 4)
      val delta = emb.filter(col("vec_id") % 5 === 4)
      val queries = emb.filter(col("vec_id") < 5)
        .select(col("vec_id").as("query_id"),
          col("embedding").as("query_embedding"))
      graft.operators.IvfIndex.build(base, cells = 8)
        .append(delta)
        .search(queries, k = 10, nProbe = 2)
    }),

    // ---- group mean-pooling of embeddings (label centroid): exact
    // fixed-point sums, one double division per element at the end —
    // bit-reproducible under any partitioning ----
    "q98_mean_pool" -> ((s, dir) => {
      graft.operators.LinAlg.meanPool(
          Tables.embeddings(s, dir), Seq("label"), "embedding")
        // (label, idx, value) rows — scalar output for the driver's
        // comparator; the pooled vector is checked element by element
        .select(col("label"),
          posexplode(col("mean_embedding")).as(Seq("idx", "mean_val")))
    }),

    // ---- exact substring-duplicate spans (Lee et al. 2022): token
    // windows of length 5 occurring >=2x corpus-wide, merged into
    // maximal per-doc spans. The dedup pass a pretraining pipeline
    // runs BEFORE tokenization ----
    "q99_duplicate_spans" -> ((s, dir) =>
      Dedup.duplicateSpans(Tables.documents(s, dir), l = 5)),

    // ---- embedding-centroid outlier ranking (SemDeDup-style quality
    // signal): exact fixed-point label centroid, broadcast back,
    // 20 least-similar members per label ----
    "q100_centroid_outliers" -> ((s, dir) =>
      graft.operators.LinAlg.centroidOutliers(Tables.embeddings(s, dir),
        Seq("label"), "embedding", "vec_id", k = 20)),

    // ---- PII scrubbing: the corpus has no real PII, so each doc is
    // salted with a deterministic email/IP/phone derived from doc_id
    // (identically in the oracle), then counted and masked ----
    "q101_pii_mask" -> ((s, dir) => {
      val salted = Tables.documents(s, dir).select(col("doc_id"),
        concat(col("text"), lit(" contact user"), col("doc_id"),
          lit("@example.com or 10.0."), col("doc_id") % 256, lit("."),
          col("doc_id") % 40, lit(" phone "),
          lit(1000000000L) + col("doc_id") * 7).as("__t"))
      salted.select(col("doc_id"),
        TextFunctions.piiCount(col("__t"), TextFunctions.EmailRe).as("n_emails"),
        TextFunctions.piiCount(col("__t"), TextFunctions.Ipv4Re).as("n_ipv4"),
        TextFunctions.piiCount(col("__t"), TextFunctions.PhoneRe).as("n_phones"),
        TextFunctions.maskPii(col("__t")).as("masked"))
    }),

    // ---- paragraph-level exact dedup, keep-first corpus-wide
    // (8-token blocks stand in for crawl paragraphs) ----
    "q102_para_dedup" -> ((s, dir) =>
      Dedup.dedupeParagraphs(Tables.documents(s, dir), paraTokens = 8)),

    // ---- deterministic global shuffle + fixed-size training shards
    // (range-partitioned prefix-sum rank — no single-partition window) ----
    "q103_shard_assign" -> ((s, dir) =>
      graft.operators.Training.shard(
          Tables.documents(s, dir).select(col("doc_id")), "doc_id", 64L)
        .select(col("doc_id"), col("shard_id"), col("shard_offset"))),

    // ---- item co-visitation candidate generation: recency-capped
    // per-user item sets -> within-user pairs -> cross-user counts ----
    "q104_covisitation" -> ((s, dir) =>
      graft.operators.Recsys.covisitation(Tables.events(s, dir),
        recentPerUser = 30, minUsers = 2)),

    // ---- deterministic negative sampling against the click set ----
    "q105_negative_sample" -> ((s, dir) =>
      graft.operators.Recsys.negativeSample(Tables.events(s, dir),
        posType = "click", nItems = 100, perUser = 4, oversample = 8)),

    // ---- leave-one-out target encoding of event_type on value ----
    "q106_target_encode" -> ((s, dir) =>
      graft.operators.Recsys.targetEncodeLoo(Tables.events(s, dir),
        "event_type", "value", Seq("event_id"), alpha = 10.0)),

    // ---- time-decayed engagement profile per user ----
    "q107_decayed_engagement" -> ((s, dir) =>
      graft.operators.Recsys.decayedEngagement(Tables.events(s, dir))),

    // ---- next-item-prediction example assembly (session-based
    // recsys training): trailing item-context window per user ----
    "q108_next_item" -> ((s, dir) =>
      graft.operators.Recsys.nextItemExamples(Tables.events(s, dir),
          contextLen = 5)
        // csv-render the context window (ids are digits, ',' can't
        // collide) so the driver's comparator gets scalar rows
        .select(col("user_id"), col("event_id"),
          concat_ws(",", transform(col("context"), x => x.cast("string")))
            .as("context_ids"),
          col("label"))),

    // ---- hashed feature cross of (user_id, event_type) into 256
    // buckets, histogrammed ----
    "q109_hashed_cross" -> ((s, dir) =>
      Tables.events(s, dir)
        .withColumn("bucket", graft.operators.Recsys.hashedCross(
          Seq(col("user_id"), col("event_type")), buckets = 256))
        .groupBy(col("bucket")).agg(count(lit(1)).as("n"))),

    // ---- equal-frequency calibration table of value -> click rate ----
    "q110_calibration_bins" -> ((s, dir) =>
      graft.operators.Normalize.calibrationBins(
        Tables.events(s, dir).select(col("value"),
          (col("event_type") === "click").cast("long").as("label")),
        "value", "label", nBins = 10)),

    // ---- deterministic random walks over the co-visitation graph
    // (DeepWalk-style graph-embedding corpus) ----
    "q113_random_walks" -> ((s, dir) =>
      graft.operators.Recsys.randomWalks(
          graft.operators.Recsys.covisitation(Tables.events(s, dir),
            recentPerUser = 30, minUsers = 2),
          walkLen = 3)
        // csv-render the walk path (scalar output for the driver's
        // comparator); every hop is still hash-compared in order
        .select(col("start"),
          concat_ws(",", transform(col("path"), x => x.cast("string")))
            .as("path_csv"))),

    // ---- offline eval: tie-aware ROC AUC of `value` against a
    // deterministic pseudo-label, per event_type; plus precision@20 ----
    "q115_group_auc" -> ((s, dir) => {
      val scored = Tables.events(s, dir).select(col("event_type"),
        col("value"), (col("user_id") % 5 === 0).cast("long").as("label"))
      graft.operators.Evaluation.groupAuc(
        scored, Seq("event_type"), "value", "label")
    }),
    "q116_precision_at_k" -> ((s, dir) => {
      val scored = Tables.events(s, dir).select(col("event_type"),
        col("event_id"), col("value"),
        (col("user_id") % 5 === 0).cast("long").as("label"))
      graft.operators.Evaluation.precisionAtK(scored, Seq("event_type"),
        "value", "label", "event_id", k = 20)
    }),

    // ---- NDCG@20 with graded relevance (micro-unit literal discount
    // table — no libm in the compare path) ----
    "q117_ndcg" -> ((s, dir) => {
      val scored = Tables.events(s, dir).select(col("event_type"),
        col("event_id"), col("value"), (col("user_id") % 3).as("rel"))
      graft.operators.Evaluation.ndcgAtK(scored, Seq("event_type"),
        "value", "rel", "event_id", k = 20)
    }),

    // ---- reciprocal rank of the first positive per group ----
    "q118_reciprocal_rank" -> ((s, dir) => {
      val scored = Tables.events(s, dir).select(col("event_type"),
        col("event_id"), col("value"),
        (col("user_id") % 5 === 0).cast("long").as("label"))
      graft.operators.Evaluation.reciprocalRank(scored, Seq("event_type"),
        "value", "label", "event_id")
    }),

    // ---- chi-square contingency cells: event_type x user bucket ----
    "q119_chi_square" -> ((s, dir) =>
      graft.operators.Evaluation.chiSquareCells(
        Tables.events(s, dir).withColumn("ub", col("user_id") % 4),
        "event_type", "ub")),

    // ---- exposure Gini of item interaction counts ----
    "q120_exposure_gini" -> ((s, dir) =>
      graft.operators.Evaluation.exposureGini(
        Tables.events(s, dir)
          .select(graft.operators.Recsys.itemOf(col("props")).as("item_id"))
          .filter(col("item_id").isNotNull),
        "item_id")),

    // ---- reliability bins: score confidence vs positive rate ----
    "q121_reliability_bins" -> ((s, dir) =>
      graft.operators.Evaluation.reliabilityBins(
        Tables.events(s, dir).select((col("value") / lit(20.0)).as("score"),
          (col("user_id") % 5 === 0).cast("long").as("label")),
        "score", "label", nBins = 10)),

    // ---- two-proportion z-test: user_id parity as the variant split,
    // click as conversion, per event-week segment ----
    "q122_ab_test" -> ((s, dir) =>
      graft.operators.Evaluation.abTest(
        Tables.events(s, dir).select(
          date_trunc("week", col("ts")).cast("date").as("week"),
          (col("user_id") % 2).as("variant"),
          (col("event_type") === "click").cast("long").as("converted")),
        Seq("week"), "variant", "converted")),

    // ---- weekly cohort retention over the event log ----
    "q123_cohort_retention" -> ((s, dir) =>
      graft.operators.Evaluation.cohortRetention(Tables.events(s, dir))),

    // ---- data-contract validation report: one scan, one row per rule ----
    "q124_data_quality" -> ((s, dir) =>
      graft.operators.Validate.report(Tables.events(s, dir), Seq(
        "value_null" -> col("value").isNull,
        "value_out_of_range" -> (col("value") < 0 || col("value") > 1000),
        "event_type_unknown" -> !col("event_type").isin(
          "click", "view", "purchase", "error"),
        "props_k_missing" ->
          get_json_object(col("props"), "$.k").isNull,
        "user_id_null" -> col("user_id").isNull,
        "ts_before_2020" ->
          (col("ts") < lit("2020-01-01").cast("timestamp"))))),

    // ---- z-score standardization of event values ----
    "q125_zscore" -> ((s, dir) =>
      graft.operators.Normalize.zscore(
        Tables.events(s, dir).select(col("event_id"), col("value")),
        "value", "z")),

    // ---- salted two-stage aggregation under a manufactured celebrity
    // key (80% of rows share key 0): result identical to a direct
    // groupBy, largest reduce task bounded at ~1/16 ----
    "q126_skew_salted_agg" -> ((s, dir) =>
      graft.operators.Skew.saltedCountSum(
        Tables.events(s, dir).withColumn("skey",
          when(col("event_id") % 10 < 8, lit(0L)).otherwise(col("user_id"))),
        Seq("skey"), "value", col("event_id"), salt = 16)),

    // ---- training/serving skew: features "logged at serving" (acctbal
    // through a lossy fp32 serving encoding) vs recomputed exact.
    // float<->double casts are IEEE-exact in every engine, so the
    // mismatch set is deterministic ----
    "q129_feature_skew" -> ((s, dir) => {
      val cust = Tables.customer(s, dir)
      val logged = cust.select(col("c_custkey"), col("c_name"),
        col("c_acctbal").cast("float").cast("double").as("c_acctbal"),
        col("c_mktsegment"))
      graft.operators.Validate.skewReport(logged, cust,
        Seq("c_custkey"), Seq("c_name", "c_acctbal", "c_mktsegment"))
    }),

    // ---- stream-static enrichment: the event stream joins the static
    // customer feature table (broadcast per micro-batch) ----
    "q130_stream_enrich" -> ((s, dir) => {
      val (ev, base) = streamedEvents(s, dir, "q130")
      val cust = Tables.customer(s, dir).select(
        col("c_custkey").as("user_id"), col("c_mktsegment"))
      val enriched = ev.filter(col("event_type") === "click")
        .select(col("event_id"), col("user_id"), col("value"))
        .join(cust, Seq("user_id"), "left")
      runStreamTo(enriched.select(col("event_id"), col("user_id"),
        col("value"), col("c_mktsegment")), base)
    }),

    // ---- category-capped slate rerank: per user, top-10 events by
    // value with at most 2 per item-category bucket ----
    "q131_constrained_rerank" -> ((s, dir) =>
      graft.operators.Pipeline.constrainedRerank(
        Tables.events(s, dir).select(col("user_id"), col("event_id"),
          col("value"),
          (graft.operators.Recsys.itemOf(col("props")) % 8).as("cat"))
          .filter(col("cat").isNotNull),
        Seq("user_id"), "value", "cat", "event_id",
        maxPerCat = 2, k = 10)),

    // ---- first-order behavior transition matrix over event streams ----
    "q132_transitions" -> ((s, dir) =>
      graft.operators.Funnel.transitionCounts(Tables.events(s, dir))),

    // ---- embedding version-migration QA: v2 zeroes dimension 1
    // (simulating a dropped feature); per-vector cosine drift report ----
    "q133_embedding_drift" -> ((s, dir) => {
      val e = Tables.embeddings(s, dir)
      val v1 = col("embedding").cast("array<double>")
      val v2 = zip_with(v1,
        sequence(lit(1), size(col("embedding"))),
        (x, i) => when(i === 1, lit(0.0)).otherwise(x))
      e.select(col("vec_id"),
          graft.functions.Similarity.cosine(v1, v2).as("cos_v1v2"))
        .withColumn("is_drifted", col("cos_v1v2") < 0.99)
    }),

    // ---- hard-negative mining: per query, top-10 most similar
    // vectors with a DIFFERENT label (metric-learning training prep) ----
    "q134_hard_negatives" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val e = Tables.embeddings(s, dir)
      val q = e.filter(col("vec_id") < 5).select(
          col("vec_id").as("query_id"), col("label").as("query_label"),
          col("embedding").cast("array<double>").as("qe"))
        .orderBy(col("query_id")).limit(5) // audit-provable bound
      val w = Window.partitionBy(col("query_id"))
        .orderBy(col("score").desc, col("vec_id").asc)
      e.select(col("vec_id"), col("label"),
          col("embedding").cast("array<double>").as("ce"))
        .crossJoin(broadcast(q))
        .filter(col("label") =!= col("query_label"))
        .select(col("query_id"), col("vec_id"),
          graft.functions.Similarity.cosine(col("ce"), col("qe"))
            .as("score"))
        .withColumn("rank", row_number().over(w).cast("int"))
        .filter(col("rank") <= 10)
    }),

    // ---- length-bucketed batching stats: pad-to-16 buckets with
    // exact padding-waste accounting (inference batching prep) ----
    "q135_length_buckets" -> ((s, dir) =>
      Tables.documents(s, dir)
        .select(TextFunctions.tokenCount(col("text")).as("nt"))
        .withColumn("bucket",
          (ceil(col("nt").cast("double") / 16.0) * 16).cast("int"))
        .groupBy(col("bucket"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("nt").cast("long")).as("total_tokens"))
        .withColumn("padded", col("bucket").cast("long") * col("n_docs"))
        .withColumn("waste_rate",
          (col("padded") - col("total_tokens")).cast("double") /
            col("padded").cast("double"))),

    // ---- referential integrity: event users vs the customer table ----
    "q136_ref_integrity" -> ((s, dir) =>
      graft.operators.Validate.refIntegrity(
        Tables.events(s, dir), Tables.customer(s, dir),
        "user_id", "c_custkey")),

    // ---- snapshot column profile of the events table ----
    "q137_profile" -> ((s, dir) =>
      graft.operators.Validate.profile(Tables.events(s, dir),
        Seq("user_id", "event_type", "value", "props"))),

    // ---- association rules (support / confidence / lift) over the
    // recency-capped co-visitation sets ----
    "q138_association_rules" -> ((s, dir) =>
      graft.operators.Recsys.associationRules(Tables.events(s, dir),
        recentPerUser = 30, minUsers = 2)),

    // ---- OPQ with the LEARNED PCA rotation, end to end. Oracled
    // since round 7: no SQL engine eigendecomposes, but the fit is
    // deterministic, so the rotation is materialized as literals
    // (Q139Rotation) and the oracle applies it as an unrolled mat-vec
    // — see the oracleSql entry; exact semantics also spec-gated in
    // OpqSpec ----
    "q139_ann_opq_rotated" -> ((s, dir) => {
      val e = Tables.embeddings(s, dir)
      val rot = graft.operators.PcaRotate.fit(e, "embedding")
      val rotated = e.select(col("vec_id"), col("label"),
        graft.operators.PcaRotate.rotate(col("embedding"), rot)
          .as("embedding"))
      val q = rotated.filter(col("vec_id") < 5).select(
        col("vec_id").as("query_id"),
        col("embedding").as("query_embedding"))
      graft.operators.PqIndex.build(rotated, m = 8, k = 16)
        .searchDot(q, kResults = 10)
    }),

    // ---- language-agnostic stopword induction: tokens present in
    // most documents are function words ----
    "q140_stopword_induction" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      val n = docs.agg(count_distinct(col("doc_id")).as("__nd"))
      docs.select(col("doc_id"),
          explode(array_distinct(TextFunctions.words(col("text"))))
            .as("token"))
        .filter(col("token") =!= "")
        .groupBy(col("token")).agg(count(lit(1)).as("doc_freq"))
        .crossJoin(broadcast(n))
        .withColumn("df_ratio",
          col("doc_freq").cast("double") / col("__nd").cast("double"))
        .withColumn("is_stopword", col("df_ratio") > 0.6)
        .select(col("token"), col("doc_freq"), col("df_ratio"),
          col("is_stopword"))
    }),

    // ---- mixed-language detection: langid per 8-token block, per-doc
    // majority language + consistency ratio ----
    "q141_lang_consistency" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val w = col("__w")
      val chunks = transform(
        sequence(lit(1), greatest(size(w), lit(1)), lit(8)),
        i => slice(w, i, lit(8)))
      val clang = TextFunctions.langIdFromHits(
        TextFunctions.stopwordHitsFromWords(col("cw"), "de"),
        TextFunctions.stopwordHitsFromWords(col("cw"), "en"),
        TextFunctions.stopwordHitsFromWords(col("cw"), "es"),
        TextFunctions.stopwordHitsFromWords(col("cw"), "fr"))
      val byDoc = Window.partitionBy(col("doc_id"))
      Tables.documents(s, dir)
        .select(col("doc_id"), TextFunctions.words(col("text")).as("__w"))
        .select(col("doc_id"), explode(chunks).as("cw"))
        .select(col("doc_id"), clang.as("clang"))
        .groupBy(col("doc_id"), col("clang")).agg(count(lit(1)).as("n"))
        .withColumn("n_chunks", sum(col("n")).over(byDoc))
        .withColumn("__rn", row_number().over(
          byDoc.orderBy(col("n").desc, col("clang").asc)))
        .filter(col("__rn") === 1)
        .select(col("doc_id"), col("clang").as("major_lang"),
          col("n_chunks"), col("n").as("n_major"),
          (col("n").cast("double") / col("n_chunks").cast("double"))
            .as("consistency"))
    }),

    // ---- weight-sensitive random walks over co-visitation edges ----
    "q142_weighted_walks" -> ((s, dir) =>
      graft.operators.Recsys.weightedRandomWalks(
          graft.operators.Recsys.covisitation(Tables.events(s, dir),
            recentPerUser = 30, minUsers = 2),
          walkLen = 3)
        // csv path rendering, as in q113
        .select(col("start"),
          concat_ws(",", transform(col("path"), x => x.cast("string")))
            .as("path_csv"))),

    // ---- skip-gram (center, context) pairs from the walk corpus ----
    "q143_skipgram_pairs" -> ((s, dir) =>
      graft.operators.Recsys.skipGramPairs(
        graft.operators.Recsys.randomWalks(
          graft.operators.Recsys.covisitation(Tables.events(s, dir),
            recentPerUser = 30, minUsers = 2),
          walkLen = 3),
        window = 2)),

    // ---- churn-label training set with a strict temporal split ----
    "q144_churn_labels" -> ((s, dir) =>
      graft.operators.Recsys.churnLabels(Tables.events(s, dir),
        labelDays = 7)),

    // ---- dedup cluster-size histogram: the reporting artifact a
    // dedup run publishes (how much of the corpus collapses, and into
    // how big clusters) ----
    "q146_cluster_sizes" -> ((s, dir) => {
      val pairs = Dedup.minhashLshPairs(Tables.documents(s, dir),
        n = 3, k = 8, bands = 4, threshold = 0.2)
      Dedup.connectedComponents(pairs)
        .groupBy(col("component")).agg(count(lit(1)).as("__sz"))
        .groupBy(col("__sz").as("cluster_size"))
        .agg(count(lit(1)).as("n_clusters"))
    }),

    // ---- Pearson correlation matrix of lineitem's numeric features.
    // The columns carry <=2dp, so cents-integer staging keeps every
    // moment exact with LONG per-row math (a decimal conversion only
    // at the sum — ~5x cheaper than per-row decimal rounding);
    // r per pair is division + IEEE sqrt over the exact moments ----
    "q147_feature_corr" -> ((s, dir) => {
      val cols2 = Seq("l_quantity", "l_extendedprice", "l_discount", "l_tax")
      val li = Tables.lineitem(s, dir).select(cols2.map(c =>
        rint(col(c) * 100).cast("long").as(s"c_$c")): _*)
      // product moments exceed 2^53, and decimal→double conversion of
      // such values rounds differently across engines (caught by the
      // sf0.1 sweep). Sum exact hi/lo LONG halves instead (each stays
      // under 2^53, i.e. exact in double) and reconstruct with one
      // fixed double expression — identical rounding everywhere.
      // Bound: holds to ~10^11 rows per aggregate.
      val half = 67108864L // 2^26
      def hiLo(e: org.apache.spark.sql.Column, name: String) = {
        // per-row values < 2^47, so the (e - e%2^26)/2^26 double path
        // is exact — no SQL-string round-trip needed for integer div
        val hi = ((e - e % half).cast("double") / half).cast("long")
        Seq(sum(hi).as(s"${name}_hi"), sum(e % half).as(s"${name}_lo"))
      }
      def rebuilt(name: String) =
        col(s"${name}_hi").cast("double") * half.toDouble +
          col(s"${name}_lo").cast("double")
      val stats0 = li.agg(count(lit(1)).as("n"),
        cols2.flatMap(c => Seq(sum(col(s"c_$c")).as(s"s_$c")) ++
          hiLo(col(s"c_$c") * col(s"c_$c"), s"q_$c")) ++
        (for (a <- cols2; b <- cols2 if a < b)
          yield hiLo(col(s"c_$a") * col(s"c_$b"), s"p_${a}_$b")).flatten: _*)
      val stats = stats0.select(col("n") +:
        (cols2.map(c => col(s"s_$c")) ++
          cols2.map(c => rebuilt(s"q_$c").as(s"q_$c")) ++
          (for (a <- cols2; b <- cols2 if a < b)
            yield rebuilt(s"p_${a}_$b").as(s"p_${a}_$b"))): _*)
      val pairs = (for (a <- cols2; b <- cols2 if a < b) yield
        struct(lit(a).as("col_a"), lit(b).as("col_b"),
          ((col("n").cast("double") * col(s"p_${a}_$b") -
            col(s"s_$a").cast("double") * col(s"s_$b").cast("double")) /
          sqrt((col("n").cast("double") * col(s"q_$a") -
            col(s"s_$a").cast("double") * col(s"s_$a").cast("double")) *
            (col("n").cast("double") * col(s"q_$b") -
              col(s"s_$b").cast("double") * col(s"s_$b").cast("double"))))
            .as("r")))
      stats.select(explode(array(pairs: _*)).as("__p"))
        .select(col("__p.col_a"), col("__p.col_b"), col("__p.r"))
    }),

    // ---- seasonality profile: engagement by day-of-week and hour ----
    "q148_seasonality" -> ((s, dir) =>
      Tables.events(s, dir)
        .groupBy(dayofweek(col("ts")).as("dow"), hour(col("ts")).as("hr"))
        .agg(count(lit(1)).as("n"), xsum(col("value")).as("value_sum"))),

    // ---- position-bias curve: CTR by within-session display position
    // (session = user-day, position = time order) — the examination
    // curve an unbiased-LTR pipeline estimates before IPS weighting ----
    "q145_position_bias" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val sess = Window.partitionBy(col("user_id"), col("__day"))
        .orderBy(col("ts").asc, col("event_id").asc)
      Tables.events(s, dir)
        .select(col("user_id"), col("ts"), col("event_id"),
          to_date(col("ts")).as("__day"),
          (col("event_type") === "click").cast("long").as("__click"))
        .withColumn("position", row_number().over(sess))
        .filter(col("position") <= 20)
        .groupBy(col("position"))
        .agg(count(lit(1)).as("n_impressions"),
          sum(col("__click")).as("n_clicks"))
        .withColumn("ctr", col("n_clicks").cast("double") /
          col("n_impressions").cast("double"))
    }),

    // ---- deterministic PageRank popularity prior over the
    // co-visitation item graph: exact 1e-12-unit integer iteration,
    // bit-reproducible under any partitioning (the graph-global
    // popularity signal next to q113's walk corpus) ----
    "q152_pagerank" -> ((s, dir) =>
      graft.operators.Recsys.pageRank(
        graft.operators.Recsys.covisitation(Tables.events(s, dir),
          recentPerUser = 30, minUsers = 2),
        iterations = 3)),

    // ---- engine-portable quantile sketch: bottom-200-by-hash sample
    // (deterministic, mergeable — the KMV trick applied to rows) with
    // exact rank statistics over the bounded sample; the reproducible
    // stand-in for percentile_approx at 100 TB ----
    "q153_sample_quantiles" -> ((s, dir) =>
      Sketches.hashSampleQuantiles(Tables.events(s, dir),
        "value", "event_id", k = 200, probs = Seq(0.1, 0.5, 0.9, 0.99))),

    // ---- source/sink format breadth: the same relation written and
    // re-read as JSON lines AND headered CSV must aggregate exactly
    // like the parquet original (doubles round-trip losslessly through
    // both text formats — asserted by the micro-unit sum) ----
    "q154_format_roundtrip" -> ((s, dir) => {
      val base =
        java.nio.file.Files.createTempDirectory("graft-q154").toString
      val ev = Tables.events(s, dir).select(col("event_id"),
        col("user_id"), col("event_type"), col("value"))
      ev.write.mode("overwrite").json(s"$base/json")
      ev.write.mode("overwrite").option("header", "true").csv(s"$base/csv")
      val j = s.read.schema(ev.schema).json(s"$base/json")
      val c = s.read.schema(ev.schema).option("header", "true")
        .csv(s"$base/csv")
      j.unionByName(c).groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"),
          sum(floor(col("value") * 1e6).cast("long")).as("value_micro"))
    }),

    // ---- isotonic (PAV) score calibration fit over q110's reliability
    // bins: exact long (pos, n) per bin, integer block merges, one
    // division per output — the monotone calibration map a ranking
    // pipeline broadcast-joins onto scored rows ----
    "q149_isotonic_fit" -> ((s, dir) => {
      val ev = Tables.events(s, dir).select(col("value"),
        (col("event_type") === "click").cast("long").as("__y"))
      val bins = graft.operators.Normalize.percentRank(ev, "value", "__pr")
        .withColumn("bin",
          least(floor(col("__pr") * 10), lit(9)).cast("int"))
        .groupBy(col("bin"))
        .agg(sum(col("__y")).as("pos"), count(lit(1)).as("n"))
      graft.operators.Normalize.pavCalibrateCounts(bins, "bin", "pos", "n")
    }),

    // ---- bulk-keys retrieve (the scoring path): the key set is the
    // full orders key domain with duplicates — too big to broadcast at
    // scale — so broadcastKeys=false routes the shuffled equi-join
    // path, which degenerates to a per-bucket zip with NO exchange on
    // the table side when the FG table is bucketed on its pk
    // (Layout.writeBucketedFeatureTable; plan asserted in LayoutSpec) ----
    "q151_retrieve_bulk_keys" -> ((s, dir) => {
      val tbl = "graft_q151_cust_" + dir.replaceAll("[^A-Za-z0-9]", "_")
      // bucket count is derived from the session's shuffle parallelism
      // (Layout default) — a hardcoded count silently re-shuffles the
      // TABLE side whenever the session runs at another parallelism
      if (!s.catalog.tableExists(tbl))
        graft.sources.Layout.writeBucketedFeatureTable(
          Tables.customer(s, dir), tbl, Seq("c_custkey"))
      val keys = Tables.orders(s, dir)
        .select(col("o_custkey").as("c_custkey"))
      FeatureStore.retrieve(keys, s.table(tbl), Seq("c_custkey"),
        Fixtures.customerProfile, Seq("c_name", "c_acctbal", "c_mktsegment"),
        broadcastKeys = false)
    }),

    // ---- partial-overlap (containment) detection over winnowing
    // fingerprints (q41's scheme): catches a document quoted inside a
    // larger one, which symmetric Jaccard dilutes. Inverted-index
    // pairing with a document-frequency cutoff on boilerplate
    // fingerprints ----
    "q156_fp_containment" -> ((s, dir) =>
      Dedup.fingerprintContainment(Tables.documents(s, dir),
        k = 8, w = 4, threshold = 0.5, maxDocFreq = 50)),

    // ---- deterministic per-group bottom-k-by-hash sample (the
    // mergeable per-class "reservoir"; KMV property per group) ----
    "q157_group_sample" -> ((s, dir) =>
      graft.operators.Sampling.bottomKPerGroup(Tables.events(s, dir),
          "event_type", "event_id", k = 20)
        .select(col("event_type"), col("event_id"), col("user_id"),
          col("sample_rank"))),

    // ---- hourly resample + forward fill over the event stream: the
    // regular time grid (gap hours at 0 events, value carried) a
    // freshness monitor or equal-spaced model reads. Exact integer
    // carry via micro-unit staging ----
    "q158_resample_fill" -> ((s, dir) =>
      graft.operators.InteractionStore.resampleHourlyFill(
        Tables.events(s, dir).filter(col("user_id") % 5 === 0))),

    // ---- Cohen's kappa between the stored language label and the
    // stopword-hit language ID (q49's predictor): annotator-agreement
    // analytics in one exact-count pass ----
    "q159_cohen_kappa" -> ((s, dir) => {
      val pred = Tables.documents(s, dir)
        .select(col("lang"), TextFunctions.words(col("text")).as("__w"))
        .select(col("lang"),
          TextFunctions.langIdFromHits(
            TextFunctions.stopwordHitsFromWords(col("__w"), "de"),
            TextFunctions.stopwordHitsFromWords(col("__w"), "en"),
            TextFunctions.stopwordHitsFromWords(col("__w"), "es"),
            TextFunctions.stopwordHitsFromWords(col("__w"), "fr"))
            .as("lang_pred"))
      graft.operators.Evaluation.cohenKappa(pred, "lang", "lang_pred")
    }),

    // ---- per-segment isotonic calibration (q149 grouped): an
    // independent exact-integer PAV fit per user segment — one global
    // map under-corrects any segment whose score distribution shifts ----
    "q160_isotonic_by_segment" -> ((s, dir) => {
      val ev = Tables.events(s, dir).select(
        (col("user_id") % 3).cast("string").as("seg"), col("value"),
        (col("event_type") === "click").cast("long").as("__y"))
      val bins = graft.operators.Normalize.percentRank(ev, "value", "__pr")
        .withColumn("bin",
          least(floor(col("__pr") * 10), lit(9)).cast("int"))
        .groupBy(col("seg"), col("bin"))
        .agg(sum(col("__y")).as("pos"), count(lit(1)).as("n"))
      graft.operators.Normalize.pavCalibrateCountsBy(
        bins, "seg", "bin", "pos", "n")
    }),

    // ---- token-budget mixture (q80's waterfill with the budget in
    // TOKENS — the unit pretraining mixes are specified in): source
    // token quotas ∝ (Σtokens)^0.5, lowest-hash docs fill each quota
    // in hash order, first-crossing doc included ----
    "q161_token_budget_mix" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
        .select(col("doc_id"), col("source"), col("lang"),
          TextFunctions.tokenCount(col("text")).as("n_tokens"))
      graft.operators.Sampling.tokenBudgetMix(docs, "doc_id", "source",
        "n_tokens", alpha = 0.5, totalTokens = 20000L)
    }),

    // ---- robust per-group location/scale: EXACT lower median + MAD
    // via rank arithmetic on the distinct-value prefix-sum table (no
    // single-partition window), plus the 3·MAD outlier count — the
    // heavy-tail-proof twin of q125's z-score screen ----
    "q162_robust_stats" -> ((s, dir) =>
      graft.operators.Normalize.robustStatsBy(
        Tables.events(s, dir), "event_type", "value")),

    // ---- session-scoped co-visitation: item pairs count per (user,
    // session) intent window instead of per user (q104's variant with
    // the browsing-signal semantics); sessions from q51's lag-gap
    // scan ----
    "q163_session_covisitation" -> ((s, dir) =>
      graft.operators.Recsys.covisitationBySession(Tables.events(s, dir),
        gap = "1 day", recentPerSession = 30, minSessions = 2)),

    // ---- position-debiased item popularity: every click weighted by
    // 1/propensity(position) with the propensity curve estimated from
    // the same log (q145). Exact fixed-order double per (item, pos)
    // term, floored to micro-units — deterministic IPS totals ----
    "q164_ips_item_clicks" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val sess = Window.partitionBy(col("user_id"), col("__day"))
        .orderBy(col("ts").asc, col("event_id").asc)
      val imp = Tables.events(s, dir)
        .select(col("user_id"), col("ts"), col("event_id"),
          to_date(col("ts")).as("__day"),
          graft.operators.Recsys.itemOf(col("props")).as("item_id"),
          (col("event_type") === "click").cast("long").as("__click"))
        .filter(col("item_id").isNotNull)
        .withColumn("position", row_number().over(sess))
        .filter(col("position") <= 20)
      graft.operators.Evaluation.ipsItemClicks(imp,
        "item_id", "position", "__click")
    }),

    // ---- candidate-quality gate: recall@5 of the co-visitation
    // generator against observed next-item transitions ----
    "q165_candidate_recall" -> ((s, dir) =>
      graft.operators.Recsys.candidateRecallAtK(Tables.events(s, dir),
        k = 5)),

    // ---- point-in-time join with a staleness horizon — the offline
    // twin of TTL-on-read (P4): features older than 2 days at label
    // time read as null, matching what serving would have returned ----
    "q166_pit_fresh" -> ((s, dir) => {
      val events = Tables.events(s, dir)
      val history = events.groupBy(col("user_id"), col("ts"))
        .agg(max(col("value")).as("value"))
      val labels = events.filter(col("event_id") % 97 === 0)
        .select(col("user_id"), col("ts"), col("event_id").as("label_id"))
      graft.operators.Training.pointInTimeFresh(labels, history,
        keys = Seq("user_id"), tsCol = "ts", valueCol = "value",
        maxAge = "2 days")
    }),

    // ---- per-group α-trimmed mean on exact micro-units: the robust
    // location estimator between mean and median (the spend/latency
    // summary one bot user can't drag). medianBy's rank arithmetic,
    // boundary values kept by exact rank-interval intersection ----
    "q167_trimmed_mean" -> ((s, dir) =>
      graft.operators.Normalize.trimmedMeanBy(
        Tables.events(s, dir).select(col("event_type"),
          floor(col("value") * 1e6).cast("long").as("vm")),
        "event_type", "vm", alpha = 0.1)),

    // ---- slate diversity companion to the accuracy metrics: per
    // query, pairwise (1 − cosine) stats over the top-10 slate's
    // embeddings — micro-floored per pair so the sums are integer
    // order-free (Ziegler et al. WWW'05) ----
    "q168_intra_list_diversity" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      val queries = emb.filter(col("vec_id") < 20)
        .select(col("vec_id").as("query_id"),
          col("embedding").as("query_embedding"))
      val slate = SimilaritySearch.topK(emb, queries, k = 10,
        metric = SimilaritySearch.Cosine, excludeSelf = true)
        .select(col("query_id"), col("vec_id"))
      graft.operators.Evaluation.intraListDiversity(slate, emb)
    }),

    // ---- PQ quantization distortion audit: per-vector squared error
    // between the original embedding and its codeword reconstruction —
    // the figure OPQ's rotation exists to shrink, reported next to the
    // ANN queries it explains ----
    "q169_pq_recon_error" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      graft.operators.PqIndex.build(emb, m = 8, k = 16)
        .reconstructionError(emb)
    }),

    // ---- cross-source n-gram contamination matrix: distinct shared
    // 3-shingles per source pair — the provenance audit run before
    // mixing training sources or trusting a held-out split ----
    "q170_cross_source_overlap" -> ((s, dir) =>
      graft.operators.Dedup.crossSourceShingleOverlap(
        Tables.documents(s, dir))),

    // ---- winsorized sibling of q167: the tails are CLAMPED to the
    // boundary order statistics instead of dropped (n stays constant);
    // clamped sum exact in longs, one division ----
    "q172_winsorized_mean" -> ((s, dir) =>
      graft.operators.Normalize.winsorizedMeanBy(
        Tables.events(s, dir).select(col("event_type"),
          floor(col("value") * 1e6).cast("long").as("vm")),
        "event_type", "vm", alpha = 0.1)),

    // ---- q145's position construction -> per-position CTR with
    // Wilson 95% intervals (small-n-safe uncertainty on the
    // position-bias curve) ----
    "q175_position_ctr_wilson" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy(col("user_id"), to_date(col("ts")))
        .orderBy(col("ts").asc, col("event_id").asc)
      val imp = Tables.events(s, dir)
        .withColumn("position", row_number().over(w))
        .filter(col("position") <= 20)
        .withColumn("click", (col("event_type") === "click").cast("long"))
      graft.operators.Evaluation.positionCtrWilson(imp, "position", "click")
    }),

    // ---- PSI feature-drift gate: reference = view events, current =
    // click events; equal-frequency bins on the reference (q12's
    // exact-percentile convention), per-bin (p−q)·ln(p/q) rounded to
    // 6 dp (ln differs in the last ulps across libm implementations) ----
    "q176_psi_drift" -> ((s, dir) => {
      val ev = Tables.events(s, dir)
      graft.operators.Normalize.psiBins(
        ev.filter(col("event_type") === "view").select(col("value")),
        ev.filter(col("event_type") === "click").select(col("value")),
        "value", nBins = 10)
    }),

    // ---- operating-point selection: precision/recall at each score
    // threshold in ONE conditional-aggregation scan (value as the
    // score, click as the label) ----
    "q177_pr_curve" -> ((s, dir) =>
      graft.operators.Evaluation.prCurve(
        Tables.events(s, dir)
          .select(col("value").as("score"),
            (col("event_type") === "click").cast("long").as("y")),
        "score", "y", thresholds = Seq(10.0, 50.0, 100.0, 250.0, 500.0))),

    // ---- MMR diversified top-K: greedy slate selection over the
    // top-20 cosine pool, re-scoring each slot by
    // score·(1 − λ·max_sim_to_selected) — the reference's
    // episodic-memory retriever selection ----
    "q178_mmr_rerank" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      val queries = emb.filter(col("vec_id") < 8)
        .select(col("vec_id").as("query_id"),
          col("embedding").as("query_embedding"))
      val pool = SimilaritySearch.topK(emb, queries, k = 20,
        metric = SimilaritySearch.Cosine, excludeSelf = true)
        .select(col("query_id"), col("vec_id"), col("score"))
      val cand = pool.join(
        emb.select(col("vec_id"), col("embedding")), "vec_id")
      Pipeline.mmrRerank(cand, Seq("query_id"), "vec_id", "score",
        "embedding", k = 5, penalty = 0.5)
    }),

    // ---- ANN recall audit: q38's IVF probe result vs the exact
    // brute-force top-10, per-query overlap — the number probe depth
    // and cell count are tuned against ----
    "q180_ann_recall" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      val queries = emb.filter(col("vec_id") < 5)
        .select(col("vec_id").as("query_id"),
          col("embedding").as("query_embedding"))
      val approx = graft.operators.IvfIndex.build(emb, cells = 8)
        .search(queries, k = 10, nProbe = 2)
        .select(col("query_id"), col("vec_id"))
      val exact = SimilaritySearch.topK(emb, queries, k = 10,
        metric = SimilaritySearch.Cosine)
        .select(col("query_id"), col("vec_id"))
      graft.operators.Evaluation.retrievalOverlap(approx, exact)
    }),

    // ---- ingestion audit: every column's null/cardinality/range
    // stats in ONE scan (exact counts — engine-reproducible) ----
    "q181_column_profile" -> ((s, dir) =>
      graft.operators.Profile.numericProfile(
        Tables.lineitem(s, dir),
        Seq("l_quantity", "l_extendedprice", "l_discount", "l_tax"))),

    // ---- Lloyd's k-means refinement of the IVF seed, two exact
    // rounds: fixed-point centroid means are partition-invariant, so
    // the LEARNED centroids themselves reproduce in SQL ----
    "q182_kmeans_refine" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      graft.operators.IvfIndex.buildKMeans(emb, cells = 8, iters = 2)
        .centroids
        .select(col("cell_id"),
          posexplode(col("centroid")).as(Seq("idx", "c_val")))
    }),

    // ---- SemDeDup: pairs compared only within learned k-means cells
    // (corpus² -> sum of cell²); exact centroids make the blocking
    // itself SQL-reproducible ----
    "q184_semantic_neardup" -> ((s, dir) =>
      SimilaritySearch.semanticNearDupPairs(
        Tables.embeddings(s, dir), cells = 8, iters = 2, threshold = 0.3)),

    // ---- q184 in the configuration a 100x deployment should run:
    // cell count derived from the corpus (ceil(n/32), floor 8, cap
    // MaxCells) so mean cell size — and with it the within-cell pair
    // mass per row — stays constant as the corpus grows. At sf0.01's
    // 500 vectors this resolves to 16 cells (above the floor, so the
    // gate exercises the formula); the sweep measures the sf1 curve ----
    "q285_semantic_neardup_auto" -> ((s, dir) =>
      SimilaritySearch.semanticNearDupPairs(
        Tables.embeddings(s, dir), cells = 8, iters = 2, threshold = 0.3,
        targetCellSize = 32L)),

    // ---- q285 past the per-level cell cap: maxCellsPerLevel pinned
    // to 32 (not the production 1024) so the derived count
    // ceil(n/8) = 63..2500 exceeds the cap at EVERY sf and the gate
    // exercises the two-level path itself — level-1 k-means into
    // ceil(k/32) parents, grouped Lloyd inside each parent, pairs
    // within leaf cells. At the production cap the same code engages
    // at n > 32·1024 ≈ 33k vectors, extending the linear pair-mass
    // regime to cap² ≈ 1M leaves ----
    "q287_semantic_neardup_twolevel" -> ((s, dir) =>
      SimilaritySearch.semanticNearDupPairs(
        Tables.embeddings(s, dir), cells = 8, iters = 2, threshold = 0.3,
        targetCellSize = 8L, maxCellsPerLevel = 32)),

    // ---- reciprocal-rank fusion of the cosine and dot retrievers:
    // score-free merge of incomparable scales, fused top-10 ----
    "q185_rrf_fusion" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      val queries = emb.filter(col("vec_id") < 8)
        .select(col("vec_id").as("query_id"),
          col("embedding").as("query_embedding"))
      val cos = SimilaritySearch.topK(emb, queries, k = 10,
        metric = SimilaritySearch.Cosine, excludeSelf = true)
      val dot = SimilaritySearch.topK(emb, queries, k = 10,
        metric = SimilaritySearch.Dot, excludeSelf = true)
      graft.operators.Evaluation.reciprocalRankFusion(Seq(cos, dot))
    }),

    // ---- content-defined chunking (LBFS/FastCDC rule): cut where the
    // trailing 16-char window hash ≡ 0 mod 64 — boundaries move with
    // content; one row-local pass, no sequential state ----
    "q186_cdc_chunks" -> ((s, dir) =>
      Dedup.cdcChunks(
        Tables.documents(s, dir).filter(col("doc_id") % 10 === 0))),

    // ---- CDC storage accounting: distinct/total chunk chars — the
    // blob-store savings from content-addressed chunks ----
    "q187_cdc_dedup" -> ((s, dir) =>
      Dedup.cdcDedupStats(Dedup.cdcChunks(
        Tables.documents(s, dir).filter(col("doc_id") % 10 === 0)))),

    // ---- distinct-audience overlap per segment pair: KMV theta-
    // intersection read off the q72 sketches alone, next to the exact
    // figure ----
    "q188_audience_overlap" -> ((s, dir) =>
      Sketches.audienceOverlap(Tables.events(s, dir),
        "event_type", "user_id", k = 64)),

    // ---- categorical entropy audit: cardinality-collapse alarm per
    // column, micro-nat integer terms (one scan + one shuffle) ----
    "q189_categorical_entropy" -> ((s, dir) =>
      graft.operators.Profile.categoricalEntropy(
        Tables.lineitem(s, dir),
        Seq("l_returnflag", "l_linestatus", "l_linenumber"))),

    // ---- lang x source independence audit: mutual information in
    // micro-nats — the mixing-balance check before weighting sources ----
    "q190_mutual_info" -> ((s, dir) =>
      graft.operators.Profile.mutualInformation(
        Tables.documents(s, dir), "lang", "source"))
    ,

    // ---- the REMOVAL half of q99: excise every corpus-duplicated
    // span and rejoin the survivors (Lee et al. 2022 delete the
    // repeat, not the document) ----
    "q191_span_removal" -> ((s, dir) =>
      Dedup.removeDuplicateSpans(Tables.documents(s, dir), l = 5)),

    // ---- leakage-safe target encoding: each event's user-level click
    // mean excludes its own label; smoothed variant shrinks rare users
    // toward the global rate ----
    "q192_target_encode" -> ((s, dir) =>
      graft.operators.Encode.targetEncodeLoo(
        Tables.events(s, dir)
          .select(col("event_id"), col("user_id"),
            (col("event_type") === "click").cast("long").as("y")),
        "user_id", "y")),

    // ---- frequency encoding with rare-category collapse: sources
    // under 25 docs fold into one bucket — the cardinality-control
    // step before one-hot/embedding ----
    "q193_frequency_encode" -> ((s, dir) =>
      graft.operators.Encode.frequencyEncode(
          Tables.documents(s, dir).select(col("doc_id"), col("source")),
          "source", minCount = 25L)
        .select(col("doc_id"), col("source"), col("encoded_cat"),
          col("cat_count"), col("cat_freq"))),

    // ---- MAP@20: the order-sensitive companion to q116 — rewards
    // putting the hits early, not just inside the window ----
    "q194_map_at_k" -> ((s, dir) => {
      val scored = Tables.events(s, dir).select(col("event_type"),
        col("event_id"), col("value"),
        (col("user_id") % 5 === 0).cast("long").as("label"))
      graft.operators.Evaluation.meanAveragePrecisionAtK(scored,
        Seq("event_type"), "value", "label", "event_id", k = 20)
    }),

    // ---- feature-pair redundancy/leakage audit: Pearson r for all 6
    // pairs of 4 lineitem measures in ONE scan ----
    "q195_corr_matrix" -> ((s, dir) =>
      graft.operators.Profile.correlationMatrix(
        Tables.lineitem(s, dir),
        Seq("l_quantity", "l_extendedprice", "l_discount", "l_tax"))),

    // ---- bin-free numeric drift: exact two-sample KS between click
    // and view payload-value distributions ----
    "q196_ks_drift" -> ((s, dir) =>
      graft.operators.Profile.ksStatistic(
        Tables.events(s, dir), "value", "event_type", "click", "view")),

    // ---- symmetric categorical shift: JS divergence of the
    // event-type mix between even and odd user cohorts ----
    "q197_js_divergence" -> ((s, dir) =>
      graft.operators.Profile.jsDivergence(
        Tables.events(s, dir).withColumn("__parity",
          when(col("user_id") % 2 === 0, "a").otherwise("b")),
        "event_type", "__parity", "a", "b")),

    // ---- GBDT-style split-finding summary: 16 equal-width bins of
    // the payload value with purchase-rate per bin ----
    "q198_feature_histogram" -> ((s, dir) =>
      graft.operators.Training.featureHistogram(
        Tables.events(s, dir).select(col("value"),
          (col("event_type") === "purchase").cast("long").as("label")),
        "value", "label", nBins = 16)),

    // ---- count-min collision audit: 16x4 sketch estimates vs exact
    // brand counts (25 keys > 16 counters forces collisions) ----
    "q200_count_min" -> ((s, dir) =>
      Sketches.countMinEstimates(
        Tables.part(s, dir), "p_brand", width = 16, depth = 4)),

    // ---- the at-scale bootstrap: 32 Poisson(1)-weighted replicate
    // means of the payload value in ONE scan ----
    "q201_poisson_bootstrap" -> ((s, dir) =>
      graft.operators.Evaluation.poissonBootstrapMeans(
        Tables.events(s, dir), "value", "event_id", reps = 32)),

    // ---- per-user trailing-8 rolling z-score: the metric-series
    // anomaly detector (cold-start rows abstain) ----
    "q202_rolling_zscore" -> ((s, dir) =>
      Normalize.rollingZscore(
          Tables.events(s, dir)
            .select(col("user_id"), col("event_id"), col("ts"),
              col("value")),
          "user_id", "ts", "event_id", "value", window = 8)
        .select(col("user_id"), col("event_id"), col("value"),
          col("roll_mean"), col("z"), col("is_anomaly"))),

    // ---- Benford first-digit audit of extended price: the
    // fabricated-data / unit-mixup alarm ----
    "q203_benford" -> ((s, dir) =>
      graft.operators.Validate.benfordDigits(
        Tables.lineitem(s, dir), "l_extendedprice")),

    // ---- beyond-accuracy recsys metrics: catalog coverage + novelty
    // of the most-popular-complement baseline ----
    "q204_coverage_novelty" -> ((s, dir) => {
      val ev = Tables.events(s, dir)
      val inter = ev.select(col("user_id"),
          graft.operators.Recsys.itemOf(col("props")).as("item_id"))
        .filter(col("item_id").isNotNull)
      val recs = graft.operators.Recsys.popularityComplementRecs(
        ev, topM = 20, perUser = 3)
      graft.operators.Evaluation.coverageNovelty(
        recs, inter, "item_id", "user_id")
    }),

    // ---- exact p50/p95/p99 per segment via rank arithmetic — the
    // SLA table, no single-partition window, no approx ----
    "q205_group_quantiles" -> ((s, dir) =>
      Normalize.quantilesBy(Tables.events(s, dir), "event_type", "value",
        Seq(0.5, 0.95, 0.99))),

    // ---- equi-depth histogram: 16 equal-count value buckets with
    // purchase rate — the skew-proof companion to q198 ----
    "q206_equidepth_histogram" -> ((s, dir) =>
      graft.operators.Training.equiDepthHistogram(
        Tables.events(s, dir).select(col("value"), col("event_id"),
          (col("event_type") === "purchase").cast("long").as("label")),
        "value", "label", "event_id", nBins = 16)),

    // ---- temperature-scaled pretraining mix: source weights
    // proportional to tokens^0.5 ----
    "q207_source_mixing" -> ((s, dir) =>
      graft.operators.Sampling.sourceMixingWeights(
        Tables.documents(s, dir), "source", "text", alpha = 0.5)),

    // ---- user-grouped 5-fold AUC: the variance behind q115's
    // headline number, leakage-safe fold assignment ----
    "q208_kfold_auc" -> ((s, dir) =>
      graft.operators.Evaluation.kFoldAuc(
        Tables.events(s, dir).select(col("user_id"), col("value"),
          (col("user_id") % 5 === 0).cast("long").as("label")),
        "user_id", "value", "label", k = 5)),

    // ---- linear multi-touch attribution: each purchase splits one
    // credit unit equally over the clicks/views since the previous
    // purchase ----
    "q209_linear_attribution" -> ((s, dir) =>
      graft.operators.Funnel.linearAttribution(
        Tables.events(s, dir), "user_id", "ts", "event_id", "event_type",
        convType = "purchase", touchTypes = Seq("click", "view"))),

    // ---- session engagement summary: bounce rate, depth, duration
    // over 1-hour-gap sessions ----
    "q210_session_stats" -> ((s, dir) =>
      InteractionStore.sessionStats(
        Tables.events(s, dir).select(col("user_id"), col("event_id"),
          col("ts")),
        gap = "1 hour")),

    // ---- class-separability audit: pairwise cosine between exact
    // label centroids in the embedding space ----
    "q211_centroid_similarity" -> ((s, dir) =>
      graft.operators.LinAlg.centroidSimilarity(
        Tables.embeddings(s, dir), "label", "embedding")),

    // ---- embedding-quality probe: do 5 cell-blocked cosine
    // neighbors vote each vector's own label? ----
    "q212_knn_consistency" -> ((s, dir) =>
      SimilaritySearch.knnLabelConsistency(
        Tables.embeddings(s, dir), cells = 8, iters = 2, k = 5)),

    // ---- curation yield report: per-rule standalone and cumulative
    // survivors in one scan ----
    "q214_filter_waterfall" -> ((s, dir) =>
      graft.operators.Validate.filterWaterfall(
        Tables.documents(s, dir), Seq(
          "min_length" -> (col("n_chars") >= 200L),
          "known_lang" -> col("lang").isin("en", "zh", "es"),
          "min_tokens" ->
            (size(graft.functions.TextFunctions.words(col("text"))) >= 30)))),

    // ---- imputation fill-value table: mean/median/mode per measure
    // in one unpivot pass ----
    "q216_imputation_stats" -> ((s, dir) =>
      graft.operators.Profile.imputationStats(
        Tables.lineitem(s, dir),
        Seq("l_quantity", "l_discount", "l_tax"))),

    // ---- templated-intro detector: docs sharing their first 8
    // tokens exactly ----
    "q217_prefix_duplicates" -> ((s, dir) =>
      Dedup.prefixDuplicates(Tables.documents(s, dir), nTokens = 8)),

    // ---- right-censoring-aware retention: Kaplan-Meier survival of
    // user lifetimes (active-at-close users censored) ----
    "q218_kaplan_meier" -> ((s, dir) => {
      val ev = Tables.events(s, dir)
      val u = ev.groupBy(col("user_id"))
        .agg(min(to_date(col("ts"))).as("__f"),
          max(to_date(col("ts"))).as("__l"))
      val anchor = ev.agg(max(to_date(col("ts"))).as("__mx"))
      val subj = u.crossJoin(broadcast(anchor))
        .select(datediff(col("__l"), col("__f")).as("duration"),
          (col("__l") < date_sub(col("__mx"), 7)).cast("long").as("event"))
      graft.operators.Evaluation.kaplanMeier(subj, "duration", "event")
    }),

    // ---- covariate-shift repair: map view payload values onto the
    // click distribution by exact ECDF matching ----
    "q219_quantile_match" -> ((s, dir) => {
      val ev = Tables.events(s, dir)
      Normalize.quantileMatch(
        ev.filter(col("event_type") === "click").select(col("value")),
        ev.filter(col("event_type") === "view").select(col("value")),
        "value")
    }),

    // ---- temporal-split cold-start audit: unseen user/item share in
    // the last week of traffic ----
    "q220_cold_start" -> ((s, dir) =>
      graft.operators.Validate.coldStartReport(
        Tables.events(s, dir).withColumn("item_id",
          graft.operators.Recsys.itemOf(col("props"))),
        cutoff = "2024-01-24 00:00:00")),

    // ---- learning curve: AUC at nested 10/25/50/100% hash subsets
    // in one scan ----
    "q221_learning_curve" -> ((s, dir) =>
      graft.operators.Evaluation.learningCurveAuc(
        Tables.events(s, dir).select(col("event_id"), col("value"),
          (col("user_id") % 5 === 0).cast("long").as("label")),
        "event_id", "value", "label", Seq(0.1, 0.25, 0.5, 1.0))),

    // ---- sketch calibration: minhash Jaccard estimate vs exact,
    // per LSH candidate pair ----
    "q222_minhash_audit" -> ((s, dir) =>
      Dedup.minhashEstimateAudit(Tables.documents(s, dir))),

    // ---- memorization risk: per-test-doc share of 3-gram shingles
    // never seen in the train split ----
    "q223_novelty_score" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      graft.operators.Decontaminate.noveltyScore(
        docs.filter(col("doc_id") % 10 =!= 0),
        docs.filter(col("doc_id") % 10 === 0),
        "doc_id", "text", n = 3)
    }),

    // ---- experiment health: sample-ratio-mismatch chi2 over an
    // 8-way user hash bucketing ----
    "q224_srm_check" -> ((s, dir) =>
      graft.operators.Evaluation.sampleRatioMismatch(
        Tables.events(s, dir).select(col("user_id")).distinct(),
        "user_id", buckets = 8)),

    // ---- feature predictiveness: WOE / IV over 10 equal-count
    // value bins vs the purchase label ----
    "q225_weight_of_evidence" -> ((s, dir) =>
      graft.operators.Training.weightOfEvidence(
        Tables.events(s, dir).select(col("value"), col("event_id"),
          (col("event_type") === "purchase").cast("long").as("label")),
        "value", "label", "event_id", nBins = 10)),

    // ---- graph cohesion: degree-oriented triangle count + global
    // clustering over the co-visitation graph ----
    "q226_triangle_stats" -> ((s, dir) =>
      graft.operators.Recsys.triangleStats(
        graft.operators.Recsys.covisitation(Tables.events(s, dir),
            recentPerUser = 30, minUsers = 2)
          .select(col("item_a").as("src"), col("item_b").as("dst")))),

    // ---- candlestick compaction: hourly OHLC of the payload value
    // per user ----
    "q227_ohlc_resample" -> ((s, dir) =>
      InteractionStore.ohlcResample(Tables.events(s, dir))),

    // ---- funnel latency: view -> purchase conversion-time p50/p90 ----
    "q228_time_to_convert" -> ((s, dir) =>
      graft.operators.Funnel.timeToConvert(
        Tables.events(s, dir), "user_id", "ts", "event_type",
        fromStage = "view", toStage = "purchase", probs = Seq(0.5, 0.9))),

    // ---- lookalike audiences: user-user Jaccard through shared
    // items, super-node items cut at 50 users ----
    "q229_user_overlap" -> ((s, dir) =>
      graft.operators.Recsys.userOverlapJaccard(
        Tables.events(s, dir), maxItemPop = 80, minCommon = 2L)),

    // ---- engagement headline: DAU / trailing-7-day WAU with
    // stickiness, exact distinct fan-out ----
    "q230_active_users" -> ((s, dir) =>
      InteractionStore.activeUserCurve(Tables.events(s, dir),
        windowDays = 7)),

    // ---- revenue view of retention: cumulative per-user value by
    // signup cohort week ----
    "q231_cohort_ltv" -> ((s, dir) =>
      graft.operators.Evaluation.cohortLtv(Tables.events(s, dir))),

    // ---- daily SLA bands: p50/p95 of the payload value per day via
    // the rank-arithmetic quantiles ----
    "q232_daily_quantiles" -> ((s, dir) =>
      Normalize.quantilesBy(
        Tables.events(s, dir).withColumn("day_epoch",
          expr("unix_millis(ts) div 86400000")),
        "day_epoch", "value", Seq(0.5, 0.95))),

    // ---- sketch-in-stream: count-min counters accumulated through
    // the restart-safe incremental-agg state, equal to the batch
    // sketch ----
    "q234_stream_count_min" -> ((s, dir) => {
      import graft.streaming.Ingest
      val base = java.nio.file.Files.createTempDirectory("graft-q234")
        .toString
      val in = s"$base/in"
      java.nio.file.Files.createDirectories(java.nio.file.Paths.get(in))
      java.nio.file.Files.copy(
        java.nio.file.Paths.get(s"$dir/events.parquet"),
        java.nio.file.Paths.get(s"$in/events.parquet"))
      val schema = Tables.load(s, dir, "events").schema
      val rows = Sketches.countMinRows(
        Ingest.fileSource(s, in, schema), "event_type",
        width = 16, depth = 4)
      Ingest.incrementalAggSink(rows, s"$base/state",
          Seq("d", "bucket"), "one", s"$base/ckpt")
        .start().awaitTermination()
      graft.operators.Incremental.finish(
        s.read.parquet(s"$base/state"), Seq("d", "bucket"))
    }),

    // ---- dedup keeps the BEST copy: near-dup clusters resolved by
    // quality (longest doc), not smallest id ----
    "q235_prune_by_quality" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      val comps = Dedup.connectedComponents(
        Dedup.minhashLshPairs(docs, n = 3, k = 8, bands = 4,
          threshold = 0.2))
      Dedup.pruneByQuality(docs.select(col("doc_id"), col("n_chars")),
        comps, "n_chars")
    }),

    // ---- bot/human separator: inter-arrival burstiness per user
    // (Goh-Barabasi coefficient) ----
    "q236_burstiness" -> ((s, dir) =>
      InteractionStore.interArrivalStats(Tables.events(s, dir))),

    // ---- trending detection: each event type's daily volume scored
    // against ITS OWN trailing week (q202's kernel over q-aggregates) ----
    "q238_trending_zscore" -> ((s, dir) => {
      val daily = Tables.events(s, dir)
        .groupBy(col("event_type"),
          expr("unix_millis(ts) div 86400000").as("day_epoch"))
        .agg(count(lit(1)).cast("double").as("cnt"))
      Normalize.rollingZscore(daily, "event_type", "day_epoch",
          "day_epoch", "cnt", window = 7)
        .select(col("event_type"), col("day_epoch"), col("cnt"),
          col("roll_mean"), col("z"), col("is_anomaly"))
    }),

    // ---- daily-crawl dedup: new docs against the accumulated
    // fingerprint index, batch-internal first-wins ----
    "q233_incremental_dedup" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      val index = docs.filter(col("doc_id") < 100)
        .select(graft.functions.TextFunctions.fingerprint(col("text"))
          .as("fingerprint"))
      Dedup.dedupAgainstIndex(
        docs.filter(col("doc_id") >= 100)
          .select(col("doc_id"), col("n_chars"), col("text")),
        index)
        .select(col("fingerprint"), col("doc_id"), col("n_chars"))
    }),

    // ---- shuffle-free fact pruning: bloom filter over the predicate
    // keys embedded as a plan literal; FP rate measured, FN proven
    // zero ----
    "q239_bloom_prune" -> ((s, dir) =>
      graft.operators.BloomPrune.semiJoinAudit(
        Tables.orders(s, dir), "o_custkey",
        Tables.customer(s, dir)
          .filter(col("c_mktsegment") === "BUILDING"),
        "c_custkey", mBits = 4096, k = 3)),

    // ---- multi-dimensional layout: per-bucket min/max footprint of a
    // Z-ordered clustering, with prunability flags for a band
    // predicate on EACH dimension ----
    "q240_zorder_pruning" -> ((s, dir) =>
      graft.sources.Layout.zorderPruningAudit(
        Tables.events(s, dir).select(col("user_id"),
          expr("CAST(round(value * 1000000.0) AS BIGINT)")
            .as("value_micro")),
        "user_id", "value_micro", bits = 8, buckets = 64)),

    // ---- interval-overlap join via time-bin equi-join (no nested
    // loop): cross-user session concurrency histogram. The gate runs
    // maxBin = 0: the synthetic timeline is skew-FREE (bin census avg
    // ~= max at every sf), so sub-splitting every bin would be pure
    // replication overhead — the hot-bin path is instead spec-proven
    // output-identical on a genuinely skewed one-hot-bin fixture
    // (PruneJoinSpec), which is what the knob exists for ----
    "q241_session_concurrency" -> ((s, dir) =>
      graft.operators.RangeJoin.sessionConcurrency(
        graft.operators.RangeJoin.sessionSpans(
          Tables.events(s, dir), gap = "6 hours"),
        binMs = 3600000L)),

    // ---- the same concurrency histogram WITHOUT the pair join:
    // sweep-line rank arithmetic (count semantics only) — measured in
    // the scaling sweep against q241's intrinsic pair mass ----
    "q282_concurrency_sweepline" -> ((s, dir) =>
      graft.operators.RangeJoin.sessionConcurrencyCounts(
        graft.operators.RangeJoin.sessionSpans(
          Tables.events(s, dir), gap = "6 hours"))),

    // ---- seasonality fingerprint: lag-1..7 autocorrelation of each
    // event type's daily volume, integer-exact ratio ----
    "q242_acf_daily" -> ((s, dir) =>
      Normalize.acfByKey(
        Tables.events(s, dir)
          .groupBy(col("event_type"),
            expr("unix_millis(ts) div 86400000").as("day_epoch"))
          .agg(count(lit(1)).as("cnt")),
        "event_type", "day_epoch", "cnt", maxLag = 7)),

    // ---- CTR shrinkage: beta-binomial empirical-Bayes posterior
    // mean per user (method-of-moments prior over raw rates) ----
    "q243_smoothed_ctr" -> ((s, dir) =>
      Normalize.empiricalBayesRate(
        Tables.events(s, dir).groupBy(col("user_id"))
          .agg(sum((col("event_type") === "purchase").cast("long"))
            .as("n_succ"),
            sum((col("event_type") === "view").cast("long"))
              .as("n_fail")),
        "user_id", "n_succ", "n_fail")),

    // ---- off-policy eval, variance-reduced: self-normalized IPS
    // per-item CTR under the q164 position-examination model ----
    "q244_snips_item_ctr" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val sess = Window.partitionBy(col("user_id"), col("__day"))
        .orderBy(col("ts").asc, col("event_id").asc)
      val imp = Tables.events(s, dir)
        .select(col("user_id"), col("ts"), col("event_id"),
          to_date(col("ts")).as("__day"),
          graft.operators.Recsys.itemOf(col("props")).as("item_id"),
          (col("event_type") === "click").cast("long").as("__click"))
        .filter(col("item_id").isNotNull)
        .withColumn("position", row_number().over(sess))
        .filter(col("position") <= 20)
      graft.operators.Evaluation.snipsItemCtr(imp,
        "item_id", "position", "__click")
    }),

    // ---- cohesive catalog core: 3 peeling rounds of the 35-core
    // over the strongly-co-visited item graph ----
    "q245_kcore" -> ((s, dir) =>
      graft.operators.Recsys.kCore(
        graft.operators.Recsys.covisitation(Tables.events(s, dir),
          recentPerUser = 30, minUsers = 14),
        k = 35L, rounds = 3)),

    // ---- traffic funnels vs sinks: 2-round integer HITS over the
    // observed next-item transition graph ----
    "q246_hits" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val ord = Window.partitionBy(col("user_id"))
        .orderBy(col("ts").asc, col("event_id").asc)
      val trans = Tables.events(s, dir)
        .select(col("user_id"), col("ts"), col("event_id"),
          graft.operators.Recsys.itemOf(col("props")).as("item"))
        .filter(col("item").isNotNull)
        .withColumn("next", lead(col("item"), 1).over(ord))
        .filter(col("next").isNotNull && col("next") =!= col("item"))
        .select(col("item").as("src"), col("next").as("dst"))
        .groupBy("src", "dst").agg(count(lit(1)).as("w"))
      graft.operators.Recsys.hits(trans, rounds = 2)
    }),

    // ---- entity resolution: dirty records (one digit deleted from
    // the name) resolved to the canonical table by blocked edit
    // distance; correctness measurable because truth is known ----
    "q247_fuzzy_linkage" -> ((s, dir) => {
      val cust = Tables.customer(s, dir)
      val clean = cust.select(col("c_custkey").as("ckey"),
        col("c_name").as("cname"), col("c_nationkey").as("block"))
      // the daily dirty increment (1/10th of keys) against the FULL
      // canonical table — the production linkage shape
      val dirty = cust.filter(col("c_custkey") % 10 === 0)
        .select(col("c_custkey").as("dkey"),
        expr("concat(substr(c_name, 1, cast(9 + c_custkey % 9 as int))," +
          " substr(c_name, cast(11 + c_custkey % 9 as int), 100))")
          .as("dname"),
        col("c_nationkey").as("block"))
      // maxBlock = 32 sub-splits every nation block (~60 clean rows
      // at sf0.01) so the hot-block path runs in the gate itself —
      // output is row-identical to uncapped, so the oracle is shared
      graft.operators.EntityResolution.blockedBestMatch(clean, dirty,
        maxDist = 2, maxBlock = 32)
    }),

    // ---- profile freshness columns from the stream: first/last
    // touch + count per user through the restart-safe min/max
    // incremental state ----
    "q249_stream_first_touch" -> ((s, dir) => {
      import graft.streaming.Ingest
      val base = java.nio.file.Files.createTempDirectory("graft-q249")
        .toString
      val in = s"$base/in"
      java.nio.file.Files.createDirectories(java.nio.file.Paths.get(in))
      java.nio.file.Files.copy(
        java.nio.file.Paths.get(s"$dir/events.parquet"),
        java.nio.file.Paths.get(s"$in/events.parquet"))
      val schema = Tables.load(s, dir, "events").schema
      val src = Tables.normalizeEventTs(Ingest.fileSource(s, in, schema))
      Ingest.incrementalTouchSink(src, s"$base/state", Seq("user_id"),
          "ts", s"$base/ckpt")
        .start().awaitTermination()
      graft.operators.Incremental.finishTouch(
        s.read.parquet(s"$base/state"), Seq("user_id"))
    }),

    // ---- leakage-free trailing features: views count/value-sum in
    // the 24 h before each purchase, one range window ----
    "q250_event_window_features" -> ((s, dir) =>
      InteractionStore.eventWindowFeatures(Tables.events(s, dir),
        "user_id", "ts", targetType = "purchase", featureType = "view",
        windowMs = 86400000L)),

    // ---- MRL-style truncation audit: prefix-energy ladder over the
    // embedding corpus ----
    "q251_matryoshka_audit" -> ((s, dir) =>
      graft.operators.LinAlg.matryoshkaAudit(Tables.embeddings(s, dir),
        "embedding", Seq(4, 8, 16, 32, 64))),

    // ---- optimizer-statistics audit: Selinger vs MCV-refined join
    // cardinality estimates against the exact count ----
    "q252_join_cardinality" -> ((s, dir) =>
      graft.operators.Profile.joinCardinalityEstimate(
        Tables.events(s, dir), "user_id",
        Tables.orders(s, dir), "o_custkey", mcv = 20)),

    // ---- distribution-free uncertainty: split-conformal [p05, p95]
    // bands per event type, held-out coverage audited ----
    "q254_conformal_coverage" -> ((s, dir) =>
      graft.operators.Evaluation.conformalCoverage(
        Tables.events(s, dir), "event_type", "value", "event_id")),

    // ---- consistent-hash routing: 16 -> 17 shard resize moves
    // ~1/17th of keys (measured), ring as plan-literal metadata ----
    "q255_shard_rebalance" -> ((s, dir) =>
      graft.sources.ShardRing.rebalanceAudit(
        Tables.events(s, dir), "user_id",
        fromShards = 16, toShards = 17, vnodes = 50)),

    // ---- nonparametric trend gate: Mann-Kendall z + Theil-Sen
    // slope per event type's daily volume ----
    "q256_trend_test" -> ((s, dir) =>
      graft.operators.Trend.mannKendall(
        Tables.events(s, dir)
          .groupBy(col("event_type"),
            expr("unix_millis(ts) div 86400000").as("day_epoch"))
          .agg(count(lit(1)).as("cnt")),
        "event_type", "day_epoch", "cnt")),

    // ---- sequence mining lite: top-20 adjacent event-type trigram
    // paths across user timelines ----
    "q257_path_trigrams" -> ((s, dir) =>
      graft.operators.Funnel.pathTrigrams(Tables.events(s, dir), k = 20)),

    // ---- where did the level shift happen: integer CUSUM peak per
    // event type's daily series ----
    "q258_cusum_changepoint" -> ((s, dir) =>
      graft.operators.Trend.cusumChangepoint(
        Tables.events(s, dir)
          .groupBy(col("event_type"),
            expr("unix_millis(ts) div 86400000").as("day_epoch"))
          .agg(count(lit(1)).as("cnt")),
        "event_type", "day_epoch", "cnt")),

    // ---- sort-free table equality: commutative multiset fingerprint,
    // invariance demonstrated against a reshuffled re-read ----
    "q259_table_fingerprint" -> ((s, dir) => {
      val cols = Seq("o_orderkey", "o_custkey", "o_orderstatus",
        "o_orderpriority")
      val fp1 = graft.operators.Validate.tableFingerprint(
        Tables.orders(s, dir), cols)
      val fp2 = graft.operators.Validate.tableFingerprint(
          Tables.orders(s, dir).repartition(13)
            .sortWithinPartitions(col("o_orderkey").desc), cols)
        .select(col("n_rows").as("n2"), col("sum_hash").as("s2"),
          col("xor_hash").as("x2"))
      fp1.crossJoin(broadcast(fp2))
        .select(col("n_rows"), col("sum_hash"), col("xor_hash"),
          (col("n_rows") === col("n2") && col("sum_hash") === col("s2") &&
            col("xor_hash") === col("x2")).as("reorder_match"))
    }),

    // ---- programmatic labeling: three noisy rules -> majority ->
    // log-odds-weighted re-vote (one-step label model) ----
    "q260_weak_labels" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
        .withColumn("r_long", (col("n_chars") > 150).cast("long"))
        .withColumn("r_tokens",
          (graft.functions.TextFunctions.tokenCount(col("text")) > 25)
            .cast("long"))
        .withColumn("r_lang", (col("lang") === "en").cast("long"))
      graft.operators.Labeling.weakLabelModel(docs, "doc_id",
        Seq("r_long", "r_tokens", "r_lang"))
    }),

    // ---- version-to-version CDC: keyed added/removed/changed/
    // unchanged census between two snapshots ----
    "q261_snapshot_diff" -> ((s, dir) => {
      val v1 = Tables.orders(s, dir)
      val v2 = v1.filter(col("o_orderkey") % 101 =!= 0)
        .withColumn("o_totalprice",
          when(col("o_orderkey") % 7 === 0, col("o_totalprice") + 1.0)
            .otherwise(col("o_totalprice")))
        .unionByName(v1.filter(col("o_orderkey") % 503 === 0)
          .withColumn("o_orderkey", col("o_orderkey") + 10000000L))
      graft.operators.Validate.snapshotDiff(v1, v2, Seq("o_orderkey"),
        Seq("o_custkey", "o_totalprice", "o_orderstatus"))
    }),

    // ---- re-identification risk census: rows in quasi-identifier
    // classes smaller than k, for k in {2, 5, 10} ----
    "q262_k_anonymity" -> ((s, dir) =>
      graft.operators.Validate.kAnonymityAudit(
        Tables.customer(s, dir).withColumn("acct_band",
          expr("cast(floor(c_acctbal / 1000.0) as bigint) * 1000")),
        Seq("c_nationkey", "c_mktsegment", "acct_band"),
        ks = Seq(2, 5, 10))),

    // ---- data valuation: each source's leave-one-out effect on the
    // corpus mean length, algebraic (one aggregate pass) ----
    "q263_source_loo" -> ((s, dir) =>
      graft.operators.Profile.leaveOneOutImpact(
        Tables.documents(s, dir), "source", "n_chars"))

    ,

    // ---- A/B variance reduction: CUPED-adjusted means from exact
    // integer moments (pre-period = thru Jan 15, post after; variant
    // = user parity) ----
    "q264_cuped" -> ((s, dir) => {
      val units = Tables.events(s, dir)
        .select(col("user_id"),
          expr("unix_millis(ts) div 86400000").as("__d"),
          col("value"))
        .groupBy(col("user_id"))
        .agg(
          (sum(when(col("__d") < 19738,
            floor(col("value") * 1e6).cast("long")).otherwise(0L))
            .cast("double") / 1e6).as("pre"),
          (sum(when(col("__d") >= 19738,
            floor(col("value") * 1e6).cast("long")).otherwise(0L))
            .cast("double") / 1e6).as("post"))
        .withColumn("variant", (col("user_id") % 2).cast("int"))
      graft.operators.Evaluation.cupedAdjustedMeans(units,
        "variant", "pre", "post")
    }),

    // ---- lifecycle segmentation: R/F/M quintiles from exact global
    // boundaries (no ntile window), segment census ----
    "q265_rfm_segments" -> ((s, dir) =>
      graft.operators.Recsys.rfmSegments(Tables.events(s, dir))),

    // ---- continuous reconciliation: the sharded incremental touch
    // state fingerprints equal to a from-scratch batch recompute ----
    "q266_state_reconciliation" -> ((s, dir) => {
      import graft.streaming.Ingest
      val base = java.nio.file.Files.createTempDirectory("graft-q266")
        .toString
      val ev = Tables.events(s, dir)
      Ingest.incrementalTouchBatch(ev.filter(col("user_id") % 2 === 0),
        s"$base/st", Seq("user_id"), "ts", batchId = 0, scopeId = "recon")
      Ingest.incrementalTouchBatch(ev.filter(col("user_id") % 2 =!= 0),
        s"$base/st", Seq("user_id"), "ts", batchId = 1, scopeId = "recon")
      val cols = Seq("user_id", "first_ms", "last_ms", "cnt", "span_ms")
      val f1 = graft.operators.Validate.tableFingerprint(
        graft.operators.Incremental.finishTouch(
          s.read.parquet(s"$base/st"), Seq("user_id")), cols)
      val f2 = graft.operators.Validate.tableFingerprint(
          graft.operators.Incremental.finishTouch(
            graft.operators.Incremental.touchState(ev, Seq("user_id"),
              "ts"), Seq("user_id")), cols)
        .select(col("n_rows").as("n2"), col("sum_hash").as("s2"),
          col("xor_hash").as("x2"))
      f1.crossJoin(broadcast(f2))
        .select(col("n_rows"), col("sum_hash"), col("xor_hash"),
          (col("n_rows") === col("n2") && col("sum_hash") === col("s2") &&
            col("xor_hash") === col("x2")).as("state_matches"))
    }),

    // ---- anomaly baseline from incremental moments: today's batch
    // mean vs the delta-maintained per-key mean/variance state ----
    "q267_incremental_anomaly" -> ((s, dir) => {
      import graft.streaming.Ingest
      val base = java.nio.file.Files.createTempDirectory("graft-q267")
        .toString
      val ev = Tables.events(s, dir)
        .withColumn("__d", expr("unix_millis(ts) div 86400000"))
      Ingest.incrementalMomentsBatch(ev.filter(col("__d") < 19738),
        s"$base/st", Seq("event_type"), "value", batchId = 0,
        scopeId = "anom")
      Ingest.incrementalMomentsBatch(
        ev.filter(col("__d") >= 19738 && col("__d") < 19748),
        s"$base/st", Seq("event_type"), "value", batchId = 1,
        scopeId = "anom")
      val state = graft.operators.Incremental.finishMoments(
        s.read.parquet(s"$base/st"), Seq("event_type"))
      val batch = ev.filter(col("__d") >= 19748)
        .groupBy(col("event_type"))
        .agg(count(col("value")).as("n_batch"),
          graft.OracleMath.xavg(col("value")).as("__bm"))
      state.join(batch, Seq("event_type"))
        .withColumn("__z", when(col("variance") > 0.0,
          (col("__bm") - col("mean")) /
            sqrt(col("variance") / col("n_batch").cast("double"))))
        .select(col("event_type"), col("cnt").as("n_hist"),
          round(col("mean"), 6).as("state_mean"),
          round(col("variance"), 6).as("state_var"),
          col("n_batch"), round(col("__bm"), 6).as("batch_mean"),
          round(col("__z"), 6).as("z"),
          when(col("__z").isNotNull, (abs(col("__z")) > 3.0).cast("int"))
            .as("is_anomaly"))
    }),

    // ---- self-tuning dedup: score (bands, rows) splits of a 16-hash
    // minhash signature against the sampled similarity histogram ----
    "q268_lsh_plan" -> ((s, dir) => {
      val sample = Tables.documents(s, dir)
        .filter(col("doc_id") % 10 === 0).withColumn("__one", lit(1))
      val pairs = Dedup.ngramJaccardPairs(sample, "__one", n = 3,
        threshold = 0.0)
      Dedup.lshParameterPlan(pairs, simThreshold = 0.5,
        grid = Seq((2, 8), (4, 4), (8, 2), (16, 1)))
    }),

    // ---- offline policy check without a new experiment: replay
    // matches of the frequency-argmax recommender ----
    "q269_replay_eval" -> ((s, dir) => {
      val ev = Tables.events(s, dir)
        .withColumn("__d", expr("unix_millis(ts) div 86400000"))
        .withColumn("item_id",
          graft.operators.Recsys.itemOf(col("props")))
        .filter(col("item_id").isNotNull)
      val train = ev.filter(col("__d") < 19738)
        .select(col("user_id"), col("item_id"))
      val replay = ev.filter(col("__d") >= 19738)
        .select(col("user_id"), col("item_id"),
          (col("event_type") === "click").cast("long").as("click"))
      graft.operators.Evaluation.replayPolicyEval(train, replay)
    }),

    // ---- right-to-be-forgotten cascade: sweep a deletion key-set
    // through raw + derived datasets, residual proven zero ----
    "q270_deletion_sweep" -> ((s, dir) => {
      val ev = Tables.events(s, dir)
      val deletes = ev.select(col("user_id")).distinct()
        .filter(col("user_id") % 7 === 0)
      val profile = ev.groupBy(col("user_id"))
        .agg(count(lit(1)).as("n_events"),
          max(unix_millis(col("ts"))).as("last_ms"))
      val daily = ev.groupBy(col("user_id"),
          expr("unix_millis(ts) div 86400000").as("d"))
        .agg(count(lit(1)).as("n"))
      graft.operators.Validate.deletionSweep(Seq(
        ("events", ev.select(col("user_id"), col("event_id")), "user_id"),
        ("user_profile", profile, "user_id"),
        ("daily_activity", daily, "user_id")), deletes, "user_id")
    }),

    // ---- update-cost of a layout: copy-on-write file touch counts
    // under user-clustered vs time-clustered files ----
    "q271_cow_amplification" -> ((s, dir) => {
      val base = Tables.events(s, dir)
        .select(col("user_id"), unix_millis(col("ts")).as("ms"),
          (col("user_id") % 11 === 0).cast("int").as("is_upd"))
      val mm = base.agg(max(col("user_id")).as("mxu"),
        min(col("ms")).as("mnm"), max(col("ms")).as("mxm"))
      val tagged = base.crossJoin(broadcast(mm))
      val byUser = tagged.select(lit("by_user").as("layout"),
        expr("user_id * 32 div (mxu + 1)").as("file_id"), col("is_upd"))
      val byTime = tagged.select(lit("by_time").as("layout"),
        expr("(ms - mnm) * 32 div (mxm - mnm + 1)").as("file_id"),
        col("is_upd"))
      graft.sources.Layout.cowAmplification(
        byUser.unionByName(byTime), "layout", "file_id", "is_upd")
    }),

    // ---- which cut ships: F1 and cost-weighted operating points over
    // the one-scan PR sweep ----
    "q272_operating_point" -> ((s, dir) =>
      graft.operators.Evaluation.operatingPoint(
        Tables.events(s, dir)
          .select(col("value").as("score"),
            (col("event_type") === "click").cast("long").as("y")),
        "score", "y",
        thresholds = Seq(10.0, 50.0, 100.0, 250.0, 500.0),
        fpCost = 1L, fnCost = 5L)),

    // ---- graph topology health: do popular items link popular items
    // (degree assortativity over the thresholded co-visit graph) ----
    "q273_assortativity" -> ((s, dir) =>
      graft.operators.Recsys.degreeAssortativity(
        graft.operators.Recsys.covisitation(Tables.events(s, dir),
          recentPerUser = 30, minUsers = 14))),

    // ---- rich-club curve: density among nodes above each degree
    // rung ----
    "q274_rich_club" -> ((s, dir) =>
      graft.operators.Recsys.richClub(
        graft.operators.Recsys.covisitation(Tables.events(s, dir),
          recentPerUser = 30, minUsers = 12),
        ks = Seq(20L, 40L, 60L, 80L))),

    // ---- is the score miscalibrated or undiscriminating: Murphy
    // decomposition of the Brier score over rank bins ----
    "q275_brier_decomposition" -> ((s, dir) =>
      graft.operators.Evaluation.brierDecomposition(
        Tables.events(s, dir)
          .select((col("value") / lit(500.0)).as("score"),
            (col("user_id") % 5 === 0).cast("long").as("label")),
        "score", "label", nBins = 10)),

    // ---- what length-bucketing buys: padded-token waste of arrival
    // vs length-sorted batching ----
    "q276_padding_waste" -> ((s, dir) =>
      graft.operators.Training.paddingWasteAudit(
        Tables.documents(s, dir), "doc_id", "text", batchSize = 8)),

    // ---- per-key mean/variance straight off the STREAM: moments
    // state through the restart-safe sink, finished to baselines ----
    "q277_stream_moments" -> ((s, dir) => {
      import graft.streaming.Ingest
      val base = java.nio.file.Files.createTempDirectory("graft-q277")
        .toString
      val in = s"$base/in"
      java.nio.file.Files.createDirectories(java.nio.file.Paths.get(in))
      java.nio.file.Files.copy(
        java.nio.file.Paths.get(s"$dir/events.parquet"),
        java.nio.file.Paths.get(s"$in/events.parquet"))
      val schema = Tables.load(s, dir, "events").schema
      val src = Ingest.fileSource(s, in, schema)
      Ingest.incrementalMomentsSink(src, s"$base/state",
          Seq("event_type"), "value", s"$base/ckpt")
        .start().awaitTermination()
      graft.operators.Incremental.finishMoments(
          s.read.parquet(s"$base/state"), Seq("event_type"))
        .select(col("event_type"), col("cnt"),
          round(col("mean"), 6).as("mean"),
          round(col("variance"), 6).as("variance"))
    }),

    // ---- does popularity track revenue: Kendall tau-b between
    // per-item view counts and value sums, over the top-50 items by
    // event count (explicit TakeOrdered bound BEFORE the pairwise
    // join — at a million-item catalog this stays 50·49/2 pairs) ----
    "q278_rank_agreement" -> ((s, dir) =>
      graft.operators.Evaluation.kendallTauB(
        Tables.events(s, dir)
          .withColumn("item_id",
            graft.operators.Recsys.itemOf(col("props")))
          .filter(col("item_id").isNotNull)
          .groupBy(col("item_id"))
          .agg(count(lit(1)).as("n_events"),
            sum(floor(col("value") * 1e6).cast("long"))
              .as("value_micro")),
        "item_id", "n_events", "value_micro",
        topN = 50, rankBy = "n_events")),

    // ---- episodic-memory retrieval: 1-hop graph expansion of the
    // candidate pool through temporal-adjacency links before rerank;
    // newcomers score at 0.8 x their own query cosine ----
    "q279_graph_expand" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      // .limit(8) is a no-op on the 8-row filter but plants an
      // explicit bound the plan audit can PROVE on the broadcast leg
      val queries = emb.filter(col("vec_id") < 8)
        .select(col("vec_id").as("query_id"),
          col("embedding").as("query_embedding"))
        .orderBy(col("query_id")).limit(8)
      val pool = SimilaritySearch.topK(emb, queries, k = 10,
        metric = SimilaritySearch.Cosine, excludeSelf = true)
        .select(col("query_id"), col("vec_id"), col("score"))
      // next-episode links (i -> i+1), kept only where both ends exist
      val edges = emb.select(col("vec_id").as("src"),
          (col("vec_id") + 1).as("dst"))
        .join(emb.select(col("vec_id").as("dst")), Seq("dst"))
      Pipeline.expandViaGraph(pool, edges, queries, emb,
        Seq("query_id"), "vec_id", "score", "src", "dst",
        "query_embedding", "embedding", seedK = 3, dampen = 0.8)
    }),

    // ---- episodic-memory retrieval: slate counter-example guarantee
    // (>=1 'success' row per slate whenever the pool has one) ----
    "q280_counter_example" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      val queries = emb.filter(col("vec_id") < 8)
        .select(col("vec_id").as("query_id"),
          col("embedding").as("query_embedding"))
        .orderBy(col("query_id")).limit(8) // audit-provable bound on the broadcast leg
      val pool = SimilaritySearch.topK(emb, queries, k = 20,
          metric = SimilaritySearch.Cosine, excludeSelf = true)
        .select(col("query_id"), col("vec_id"), col("score"))
        .join(emb.select(col("vec_id"),
          when(col("label") % 7 === 0, "success").otherwise("failure")
            .as("outcome")), "vec_id")
      val byGroup = org.apache.spark.sql.expressions.Window
        .partitionBy(col("query_id"))
        .orderBy(col("score").desc, col("vec_id").asc)
      val slate = pool.withColumn("rank", row_number().over(byGroup))
        .filter(col("rank") <= 5)
      Pipeline.ensureCounterExample(slate, pool, Seq("query_id"),
        "vec_id", "score", "rank", "outcome", "success")
    }),

    // ---- streaming session windows: flatMapGroupsWithState with
    // EventTimeTimeout, O(1) state per user; a single far-future
    // sentinel event per user (shared global timestamp, 3x the gap
    // past the corpus max) closes every real session on the data path
    // so the one-shot run emits the complete batch-equal session set;
    // the sentinels' own sessions stay in state (their timeout is
    // beyond the final watermark) and are never emitted ----
    "q283_stream_sessionize" -> ((s, dir) => {
      import graft.streaming.Ingest
      // streamedEvents stages $base/in lazily (the file listing
      // happens at stream start), so the sentinel file can be added
      // to the same dir before runStreamTo
      val (ev0, base) = streamedEvents(s, dir, "q283")
      val raw = Tables.load(s, dir, "events")
      // sentinel ts delta in the RAW encoding (nanos-long legacy vs
      // timestamp), so the staged file always matches the raw schema
      val gmaxPlus = raw.schema("ts").dataType match {
        case org.apache.spark.sql.types.LongType =>
          col("__gmax") + lit(18L * 3600L * 1000000000L)
        case _ => col("__gmax") + expr("INTERVAL 18 HOURS")
      }
      val sentinels = raw.select(col("user_id")).distinct()
        .crossJoin(broadcast(raw.agg(max(col("ts")).as("__gmax"))))
        .select(lit(-1L).as("event_id"), gmaxPlus.as("ts"),
          col("user_id"), lit("sentinel").as("event_type"),
          lit(0.0).as("value"), lit(null).cast("string").as("props"))
      val tmp = s"$base/senttmp"
      sentinels.coalesce(1).write.parquet(tmp)
      val listing = java.nio.file.Files.list(java.nio.file.Paths.get(tmp))
      try {
        val part = listing
          .filter(p => p.toString.endsWith(".parquet"))
          .findFirst().get()
        java.nio.file.Files.copy(part,
          java.nio.file.Paths.get(s"$base/in/zz_sentinel.parquet"))
      } finally listing.close()
      val ev = ev0.select(col("user_id"), col("event_id"),
        unix_micros(col("ts")).as("ts"))
      // micros + a micros gap: the batch twin's exact µs gap rule
      runStreamTo(
        Ingest.streamingSessionize(ev, gapMs = 21600000000L).toDF(),
        base)
    }),

    // ---- episodic-memory graph: auto-inferred CONTINUATION +
    // RETRY_OF links (graph.py auto_link) feeding a DEPTH-2 BFS pool
    // expansion (graph.py traverse via retriever) — the edges come
    // from the operator, not synthesized in the gate. The episode
    // framing derives deterministically from the embeddings table:
    // label-keyed states (label 0 = stateless, breaking adjacency),
    // vec_id-keyed times with a mixed-sign gap pattern, label-9 rows
    // embedding-less (exercising every auto_link skip rule) ----
    "q284_graph_autolink" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      val arrT = emb.schema("embedding").dataType
      val episodes = emb.select(
        col("vec_id").as("episode_id"),
        when(col("label") === 0, "")
          .otherwise(concat(lit("s"), (col("label") % 5).cast("string")))
          .as("state"),
        (col("vec_id") * 10).as("start_ts"),
        (col("vec_id") * 10 + (col("vec_id") % 7) * 2).as("end_ts"),
        when(col("label") % 3 === 0, "success").otherwise("failure")
          .as("outcome"),
        when(col("label") === 9, lit(null).cast(arrT))
          .otherwise(col("embedding")).as("embedding"))
      // 0.3 (not the reference's 0.55 default) because the synthetic
      // embedding space tops out at within-state cosine 0.47 — at 0.3
      // the gate carries 61 continuation + 101 retry edges, and depth
      // 2 reaches 6 nodes depth 1 cannot (non-vacuous on every leg)
      val edges = graft.operators.EpisodeGraph.autoLink(
        episodes, simThreshold = 0.3, maxGap = 6L)
      val queries = emb.filter(col("vec_id") < 8)
        .select(col("vec_id").as("query_id"),
          col("embedding").as("query_embedding"))
        .orderBy(col("query_id")).limit(8) // audit-provable broadcast bound
      val pool = SimilaritySearch.topK(emb, queries, k = 10,
        metric = SimilaritySearch.Cosine, excludeSelf = true)
        .select(col("query_id"), col("vec_id"), col("score"))
      Pipeline.expandViaGraph(pool,
        edges.select(col("src"), col("dst")), queries, emb,
        Seq("query_id"), "vec_id", "score", "src", "dst",
        "query_embedding", "embedding", seedK = 3, dampen = 0.8,
        depth = 2)
    }),

    // ---- episode boundary detection (episodes.py:49-103): boundary
    // score 0.6·state-flip + 0.4·(1 − max(cos, 0)) over consecutive
    // (ts, id)-ordered entries; boundary-flag prefix sums segment the
    // timeline into Episode rows. The ts mapping (vec_id % 64 leading)
    // deliberately REORDERS entries away from id order so the (ts, id)
    // total order is genuinely exercised. Threshold 0.38 (not the
    // reference's 0.5 default) because with the reference weights the
    // synthetic space's ~0 cosines cap the semantic term at 0.4 — at
    // 0.38 BOTH terms decide (flip pairs always split; same-state
    // pairs split iff cos <= 0.05), so neither leg is vacuous ----
    "q286_episode_boundaries" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      val arrT = emb.schema("embedding").dataType
      val entries = emb.select(
        col("vec_id").as("entry_id"),
        ((col("vec_id") % 64) * 1000 + col("vec_id")).as("ts"),
        when(col("label") === 0, "")
          .otherwise(concat(lit("s"), (col("label") % 5).cast("string")))
          .as("state"),
        when(col("label") === 9, lit(null).cast(arrT))
          .otherwise(col("embedding")).as("embedding"),
        concat(lit("doc "), col("vec_id").cast("string")).as("content"))
      graft.operators.EpisodeGraph.detectEpisodes(entries,
        threshold = 0.38, contentCol = "content")
    }),

    // ---- the STREAMING episode detector over the same q286-derived
    // timeline, through a real file-source graph (the q283 pattern):
    // the reorder-buffer FMGWS operator must reproduce the batch
    // detector's rows exactly. Two appended sentinels flush the
    // finite fixture: s1 (boundary-forcing — state differing from any
    // real state AND the negated last embedding, so whichever score
    // term the last real entry supports fires) closes the final real
    // episode ON THE DATA PATH; s2 only pushes the watermark past s1
    // so s1 gets sealed and folded. s1's own episode stays open in
    // state (never emitted); s2 stays buffered (never sealed) ----
    "q292_stream_episodes" -> ((s, dir) => {
      val (raw, base) = stagedTimelineFixture(s, dir, "q292")
      // maxPending sized to the fixture: a SINGLE-key fixture buffers
      // the whole corpus through the first micro-batch (watermark 0);
      // a real deployment keys per agent and sizes this to
      // rate x watermark-delay
      runStreamTo(graft.streaming.Ingest.streamingEpisodes(raw,
          threshold = 0.38, maxPending = 1 << 16).toDF(), base)
        .select(col("episode_idx"), col("start_ts"), col("end_ts"),
          col("entry_start"), col("entry_end"), col("n_entries"),
          col("state"), col("summary"))
    }),

    // ---- the episodic chain's streaming FRONT completed: episodes
    // stream -> CONTINUATION-edges stream, two chained stateful
    // operators in ONE append query (both FMGWS in Append mode — the
    // combination Spark's unsupported-operations checker allows), over
    // the same staged q286-derived timeline. Oracle: the batch
    // detector's episode rows joined to their chronological successor
    // under the autoLink gap/state rule — maxGap 500 accepts 51 edges
    // and REJECTS the 10 same-state pairs whose gap is 553/617 at
    // sf0.01, so both legs of the predicate gate. RETRY_OF stays
    // batch-only (needs all-history pairs, not adjacency) ----
    "q294_stream_episode_links" -> ((s, dir) => {
      import graft.streaming.Ingest
      val (raw, base) = stagedTimelineFixture(s, dir, "q294")
      // Spark's chained-stateful checker guards ONE risk: an upstream
      // stateful op emitting rows below the global watermark that a
      // DOWNSTREAM late filter then silently discards. It cannot
      // happen in this chain — streamingContinuations carries no
      // event-time column, no watermark, no timeout, so no late
      // filter exists to discard anything; every episode row is
      // final-on-emission by streamingEpisodes' contract. Set on the
      // stream session clone (streamSession) for this gate's run only,
      // then restored, so the other stream gates keep the check.
      val check = "spark.sql.streaming.statefulOperator.checkCorrectness.enabled"
      val conf = raw.sparkSession.conf
      val prev = conf.getAll.get(check) // explicitly set values only
      conf.set(check, "false")
      try {
        val eps = Ingest.streamingEpisodes(raw, threshold = 0.38,
          maxPending = 1 << 16)
        runStreamTo(Ingest.streamingContinuations(eps, maxGap = 500L)
            .toDF(), base)
          .select(col("key"), col("src"), col("dst"), col("link_type"),
            col("strength"))
      } finally prev.fold(conf.unset(check))(conf.set(check, _))
    }),

    // ---- retrieval boost scoring + causal narrative
    // (retriever.py:91-101 _episode_score, 227-237 _build_narrative):
    // cosine boosted ×1.25 for failures then ×1.5 on state match,
    // top-5 slate per query, and the slate rendered as the " → "
    // narrative (summary[:60] with id fallback, state/outcome tags) ----
    "q289_retrieval_narrative" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val emb = Tables.embeddings(s, dir)
      val arrT = emb.schema("embedding").dataType
      val queries = emb.filter(col("vec_id") < 8)
        .select(col("vec_id").as("query_id"),
          col("embedding").cast("array<double>").as("__qe"),
          concat(lit("s"), (col("label") % 5).cast("string")).as("__cur"))
        .orderBy(col("query_id")).limit(8)
      val eps = emb.select(col("vec_id"),
        when(col("label") === 9, lit(null).cast(arrT))
          .otherwise(col("embedding")).as("__e"),
        when(col("label") === 0, "")
          .otherwise(concat(lit("s"), (col("label") % 5).cast("string")))
          .as("state"),
        when(col("label") % 3 === 0, "success").otherwise("failure")
          .as("outcome"),
        when(col("vec_id") % 11 === 0, "")
          .otherwise(concat(lit("episode "), col("vec_id").cast("string")))
          .as("summary"))
      val base = coalesce(graft.functions.Similarity.cosine(
        col("__e").cast("array<double>"), col("__qe")), lit(0.0))
      val scored = eps.crossJoin(broadcast(queries))
        .filter(col("vec_id") =!= col("query_id"))
        .select(col("query_id"), col("vec_id"), col("state"),
          col("outcome"), col("summary"),
          Pipeline.episodeBoostScore(base, col("outcome"), col("state"),
            col("__cur")).as("score"))
      val slate = scored.withColumn("rank", row_number().over(
          Window.partitionBy(col("query_id"))
            .orderBy(col("score").desc, col("vec_id").asc)))
        .filter(col("rank") <= 5)
      val narr = Pipeline.buildNarrative(slate, Seq("query_id"),
        "vec_id", "rank", "summary", "state", "outcome")
      slate.select(col("query_id"), col("rank"), col("vec_id"),
          col("score"))
        .join(broadcast(narr), "query_id")
    }),

    // ---- state-preferred fact fetch (retriever.py:214-223): per
    // query, top-3 of the state-applicable facts inside the top-6
    // pool, falling back to the overall top-3 when nothing matches;
    // query 3 has the empty state (preference skipped), queries ≡ 2
    // (mod 3) carry a state no fact names — those groups fall back
    // wherever their top-6 lacks a universal fact ----
    "q290_state_facts" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      val queries = emb.filter(col("vec_id") < 8)
        .select(col("vec_id").as("query_id"),
          col("embedding").cast("array<double>").as("__qe"),
          when(col("vec_id") === 3, "")
            .when(col("vec_id") % 3 === 2, "zz")
            .otherwise(concat(lit("s"), (col("label") % 5).cast("string")))
            .as("__cur"))
        .orderBy(col("query_id")).limit(8)
      val facts = emb.select(col("vec_id"),
        col("embedding").cast("array<double>").as("__fe"),
        when(col("vec_id") % 7 === 3, array().cast("array<string>"))
          .otherwise(array(concat(lit("s"),
            (col("label") % 5).cast("string")))).as("applicable"))
      val scored = facts.crossJoin(broadcast(queries))
        .filter(col("vec_id") =!= col("query_id"))
        .select(col("query_id"), col("vec_id"), col("applicable"),
          col("__cur").as("cur_state"),
          graft.functions.Similarity.cosine(col("__fe"), col("__qe"))
            .as("score"))
      Pipeline.preferStateApplicable(scored, Seq("query_id"), "vec_id",
          "score", "applicable", "cur_state", k = 3)
        .select(col("query_id"), col("vec_id"), col("score"),
          col("matched"))
    }),

    // ---- fact-corpus embedding merge (facts.py:124-147): greedy
    // fold in fact-id order, each fact merging into the earliest
    // surviving fact within the cosine threshold, else appending.
    // Threshold 0.25 (not the reference's 0.80 default) because the
    // synthetic embedding space tops out near cosine 0.47 — at 0.25
    // the gate carries real merge structure (111 leaders / 389 merges
    // at sf0.01) ----
    "q288_fact_merge" -> ((s, dir) =>
      graft.operators.EpisodeGraph.mergeFacts(
        Tables.embeddings(s, dir)
          .select(col("vec_id").as("fact_id"), col("embedding")),
        mergeThreshold = 0.25)),

    // ---- the same merge PAST the driver-side cap: pre-cluster into
    // threshold components, greedy-fold per component on the
    // executors. Gate runs cells = 1 (exact edge set) so the output
    // is PROVABLY identical to the global fold — the q288 recursion
    // is the oracle for both. Production runs cells/targetCellSize
    // like any SemDeDup caller (ScaleProfile) ----
    "q291_fact_merge_clustered" -> ((s, dir) =>
      graft.operators.EpisodeGraph.mergeFactsClustered(
        Tables.embeddings(s, dir)
          .select(col("vec_id").as("fact_id"), col("embedding")),
        mergeThreshold = 0.25, cells = 1, iters = 1)),

    // ---- the LOSSY-blocking mode of the clustered merge, driver-
    // oracled: cells = 3 over a corpus DERIVED from the embeddings
    // ids whose three clusters PROVABLY separate at the threshold, so
    // the blocked path (k-means cells -> within-cell pairs -> CC ->
    // per-component fold) must reproduce the global fold exactly and
    // the q288 recursion gates it. Geometry (rational arithmetic only,
    // engine-exact): cluster c = min(vec_id div stride, 2) with
    // stride = max(n/3, 1) — the SAME integer the k-means seeder
    // derives from count(*), so the rank-stride seeds land one per
    // cluster and Lloyd provably isolates them (anchors 4·e_c in
    // disjoint axis planes; cross-cluster cosine <= 0.648, within-cell
    // structure: two sub-cones at tangent 0 and 3 whose cross pairs
    // top out at cosine 0.856 < 0.9 <= all within-cone pairs >= 0.995
    // — six components, none crossing a cell). Any mis-clustering
    // that cuts a threshold edge deviates from the global recursion
    // and reads RED — the gate is strict, not decorative ----
    "q293_fact_merge_blocked" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      val n = emb.count()
      val st = math.max(n / 3L, 1L)
      def dim(d: Int) =
        when(col("__cl") === d, lit(4.0))
          .when((col("__cl") + 1) % 3 === d, col("__tg"))
          .otherwise(lit(0.0))
      val facts = emb
        .select(col("vec_id"), expr(s"least(vec_id DIV $st, 2)").as("__cl"))
        .withColumn("__j", col("vec_id") - col("__cl") * st)
        .withColumn("__tg",
          (col("__j") % 2).cast("double") * lit(3.0) +
            (col("__j") % 5).cast("double") * lit(0.1))
        .select(col("vec_id").as("fact_id"),
          array(dim(0), dim(1), dim(2)).as("embedding"))
      graft.operators.EpisodeGraph.mergeFactsClustered(
        facts, mergeThreshold = 0.9, cells = 3, iters = 2)
    }),

    // ---- episodic-memory feedback: reinforcement/recency-decayed
    // outcome scores replayed over the event log in one scan ----
    "q281_reinforce_decay" -> ((s, dir) => {
      val ev = Tables.events(s, dir)
        .withColumn("item_id",
          graft.operators.Recsys.itemOf(col("props")))
        .filter(col("item_id").isNotNull)
        .withColumn("slate_rank", (col("event_id") % 5 + 1).cast("int"))
        .withColumn("v", when(col("event_type") === "purchase", 1)
          .when(col("event_type") === "error", -1).otherwise(0))
      Pipeline.reinforcementScores(ev, "item_id", "ts", "event_id",
        "slate_rank", "v")
    })
  )

  def oracleSql: Map[String, String] = Map(
    "q1_pricing_agg" ->
      s"""SELECT l_returnflag, l_linestatus,
         |  ${sqlSum("l_quantity")} AS sum_qty,
         |  ${sqlSum("l_extendedprice")} AS sum_base_price,
         |  ${sqlSum("l_extendedprice * (1.0 - l_discount)")} AS sum_disc_price,
         |  ${sqlAvg("l_quantity")} AS avg_qty,
         |  COUNT(*) AS count_order
         |FROM lineitem
         |WHERE l_shipdate <= TIMESTAMP '1998-09-02'
         |GROUP BY l_returnflag, l_linestatus""".stripMargin,

    "q2_feature_retrieve" ->
      """WITH keys AS (
        |  SELECT DISTINCT o_custkey AS c_custkey FROM orders WHERE o_orderkey % 13 = 1
        |  UNION
        |  SELECT DISTINCT o_custkey + 1000000 FROM orders WHERE o_orderkey % 13 = 1)
        |SELECT k.c_custkey,
        |  COALESCE(c.c_name, 'N/A') AS c_name,
        |  COALESCE(c.c_acctbal, 0.0) AS c_acctbal,
        |  COALESCE(c.c_mktsegment, 'NONE') AS c_mktsegment
        |FROM keys k LEFT JOIN customer c USING (c_custkey)""".stripMargin,

    "q3_multi_fg_stitch" ->
      s"""WITH keys AS (
         |  SELECT c_custkey FROM customer WHERE c_custkey % 10 = 3
         |  UNION
         |  SELECT c_custkey + 1000000 FROM customer WHERE c_custkey % 10 = 3),
         |stats AS (
         |  SELECT o_custkey AS c_custkey, COUNT(*) AS order_cnt,
         |    ${sqlSum("o_totalprice")} AS total_spend
         |  FROM orders GROUP BY 1)
         |SELECT k.c_custkey,
         |  COALESCE(c.c_name, 'N/A') AS c_name,
         |  COALESCE(c.c_acctbal, 0.0) AS c_acctbal,
         |  COALESCE(s.order_cnt, 0) AS order_cnt,
         |  COALESCE(s.total_spend, 0.0) AS total_spend
         |FROM keys k
         |LEFT JOIN customer c USING (c_custkey)
         |LEFT JOIN stats s USING (c_custkey)""".stripMargin,

    "q4_ttl_expiry" ->
      """WITH keys AS (
        |  SELECT o_orderkey FROM orders WHERE o_orderkey % 7 = 0
        |  UNION
        |  SELECT o_orderkey + 1000000000 FROM orders WHERE o_orderkey % 7 = 0)
        |SELECT k.o_orderkey,
        |  CASE WHEN o.o_orderdate + INTERVAL 34560000 SECOND > TIMESTAMP '1998-08-01'
        |       THEN COALESCE(o.o_totalprice, 0.0) ELSE 0.0 END AS o_totalprice,
        |  CASE WHEN o.o_orderdate + INTERVAL 34560000 SECOND > TIMESTAMP '1998-08-01'
        |       THEN COALESCE(o.o_orderpriority, 'NONE') ELSE 'NONE' END AS o_orderpriority
        |FROM keys k LEFT JOIN orders o USING (o_orderkey)""".stripMargin,

    // Minifloat.roundTo in SQL: shared adjusted exponent `ea`, then per
    // format round-to-nearest-even on the 2^(e-manBits) grid with one
    // binade-carry recompute and max-finite saturation.
    "q5_quantized_projection" ->
      s"""WITH x AS (SELECT c_custkey,
         |             CAST(c_acctbal AS DOUBLE) AS xv,
         |             abs(CAST(c_acctbal AS DOUBLE)) AS a
         |           FROM customer),
         |e0t AS (SELECT *, CAST(floor(log2(CASE WHEN a = 0 THEN 1.0 ELSE a END))
         |                       AS INT) AS e0 FROM x),
         |et AS (SELECT *, CASE WHEN power(2.0, e0) > a THEN e0 - 1
         |                      WHEN power(2.0, e0 + 1) <= a THEN e0 + 1
         |                      ELSE e0 END AS ea FROM e0t)
         |SELECT c_custkey, xv AS c_acctbal,
         |  ${sqlMinifloat(10, -14, "65504.0")} AS c_acctbal__fp16,
         |  ${sqlMinifloat(3, -6, "448.0", infOnOverflow = false)} AS c_acctbal__fp8e4m3,
         |  ${sqlMinifloat(2, -14, "57344.0")} AS c_acctbal__fp8e5m2
         |FROM et""".stripMargin,

    "q6_interaction_timerange" ->
      """SELECT user_id, event_id, ts, event_type, rank FROM (
        |  SELECT user_id, event_id, ts, event_type,
        |    ROW_NUMBER() OVER (PARTITION BY user_id
        |                       ORDER BY ts DESC, event_id ASC) AS rank
        |  FROM events
        |  WHERE ts BETWEEN TIMESTAMP '2024-01-08 00:00:00'
        |               AND TIMESTAMP '2024-01-22 00:00:00')
        |WHERE rank <= 20""".stripMargin,

    "q7_interaction_merge_cap" ->
      """SELECT user_id, CAST(date_trunc('week', ts) AS DATE) AS week,
        |       event_id, ts FROM (
        |  SELECT *, ROW_NUMBER() OVER (
        |    PARTITION BY user_id, date_trunc('week', ts)
        |    ORDER BY ts DESC, event_id ASC) AS rn
        |  FROM events)
        |WHERE rn <= 5""".stripMargin,

    "q8_week_counts" ->
      """SELECT user_id, CAST(date_trunc('week', ts) AS DATE) AS week,
        |       COUNT(*) AS n_events
        |FROM events GROUP BY 1, 2""".stripMargin,

    "q9_click_order_union" ->
      s"""WITH tagged AS (
         |  SELECT user_id, value, 'click' AS event_class FROM events
         |  WHERE event_type IN ('click', 'view')
         |  UNION ALL
         |  SELECT user_id, value, 'order' AS event_class FROM events
         |  WHERE event_type = 'purchase')
         |SELECT user_id, event_class, COUNT(*) AS n,
         |  ${sqlSum("value")} AS total_value
         |FROM tagged GROUP BY 1, 2""".stripMargin,

    // score = extprice*(1-disc)*(1+tax) * (qty>30 ? min(1.1,1) : ... )
    // elementwise double ops only → bit-exact across engines
    "q10_rpn_score" ->
      """SELECT l_orderkey, l_linenumber,
        |  ((l_extendedprice * (1.0 - l_discount)) * (1.0 + l_tax)) *
        |  (CASE WHEN l_quantity > 30.0 THEN 1.0 ELSE 0.0 END * LEAST(1.1, 1.0))
        |  AS score
        |FROM lineitem""".stripMargin,

    "q11_rpn_norm_minmax" ->
      """WITH t AS (SELECT l_orderkey, l_linenumber,
        |             l_quantity * l_extendedprice AS v FROM lineitem),
        |agg AS (SELECT MIN(v) AS mn, MAX(v) AS mx FROM t)
        |SELECT l_orderkey, l_linenumber, (v - mn) / (mx - mn) AS norm
        |FROM t, agg""".stripMargin,

    // f32 compute mode: each intermediate is cast to REAL so the
    // oracle rounds to 24-bit at every step exactly like the f32
    // kernel chain (+,-,*,min are exact in double, so
    // double-op-then-cast ≡ native f32 op)
    "q87_rpn_fp32" ->
      """SELECT l_orderkey, l_linenumber,
        |  CAST(
        |    CAST(CAST(CAST(l_extendedprice AS REAL) *
        |      CAST(CAST(1.0 AS REAL) - CAST(l_discount AS REAL) AS REAL)
        |      AS REAL) *
        |      LEAST(CAST(l_quantity AS REAL), CAST(10.0 AS REAL)) AS REAL) +
        |    CAST(CAST(l_tax AS REAL) * CAST(100.0 AS REAL) AS REAL)
        |  AS REAL) AS score_f32
        |FROM lineitem""".stripMargin,

    "q12_percentile_clamp" ->
      """WITH agg AS (
        |  SELECT CAST(quantile_cont(l_extendedprice, 0.05) AS DOUBLE) AS vp,
        |         CAST(quantile_cont(l_extendedprice, 0.95) AS DOUBLE) AS vq
        |  FROM lineitem)
        |SELECT l_orderkey, l_linenumber,
        |  (LEAST(GREATEST(l_extendedprice, vp), vq) - vp) / (vq - vp) AS clamped
        |FROM lineitem, agg""".stripMargin,

    "q13_percentile_rank" ->
      """SELECT l_orderkey, l_linenumber,
        |  PERCENT_RANK() OVER (ORDER BY l_quantity) AS pr
        |FROM lineitem""".stripMargin,

    // left-fold list_reduce mirrors Spark's aggregate() fold bit-exactly
    "q14_dot_product" ->
      """WITH q AS (SELECT CAST(embedding AS DOUBLE[]) AS qe
        |           FROM embeddings WHERE vec_id = 0)
        |SELECT e.vec_id,
        |  list_reduce(list_transform(
        |    list_zip(CAST(e.embedding AS DOUBLE[]), q.qe), x -> x[1]*x[2]),
        |    (a,b) -> a+b) AS score
        |FROM embeddings e, q""".stripMargin,

    "q15_topk_cosine" ->
      """WITH q AS (SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qe
        |           FROM embeddings WHERE vec_id < 5),
        |scored AS (
        |  SELECT q.query_id, e.vec_id,
        |    list_reduce(list_transform(
        |      list_zip(CAST(e.embedding AS DOUBLE[]), q.qe), x -> x[1]*x[2]),
        |      (a,b) -> a+b)
        |    / (sqrt(list_reduce(list_transform(CAST(e.embedding AS DOUBLE[]),
        |         x -> x*x), (a,b) -> a+b))
        |     * sqrt(list_reduce(list_transform(q.qe, x -> x*x), (a,b) -> a+b)))
        |    AS score
        |  FROM embeddings e, q WHERE e.vec_id <> q.query_id)
        |SELECT query_id, vec_id, score, rank FROM (
        |  SELECT *, CAST(ROW_NUMBER() OVER (
        |    PARTITION BY query_id ORDER BY score DESC, vec_id ASC) AS INT) AS rank
        |  FROM scored)
        |WHERE rank <= 10""".stripMargin,

    "q16_skye_filters" ->
      """WITH fp AS (
        |  SELECT p_partkey, p_brand, p_size, p_type FROM part
        |  WHERE (p_brand NOT IN ('Brand#1','Brand#2','Brand#3') OR p_brand IS NULL)
        |    AND p_size BETWEEN 10 AND 40
        |    AND contains(p_type, 'AND')
        |    AND p_retailprice > 920.0
        |    AND p_name IS NOT NULL),
        |ro AS (
        |  SELECT COUNT(*) AS n_recent_orders FROM orders
        |  WHERE o_orderdate >= TIMESTAMP '1998-08-01' - INTERVAL 90 DAY
        |    AND o_orderdate <= TIMESTAMP '1998-08-01'
        |    AND o_orderstatus IN ('O','F'))
        |SELECT * FROM fp, ro""".stripMargin,

    "q17_candidate_topk" ->
      """WITH q AS (SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qe
        |           FROM embeddings WHERE vec_id % 100 = 7),
        |scored AS (
        |  SELECT q.query_id, e.vec_id,
        |    list_reduce(list_transform(
        |      list_zip(CAST(e.embedding AS DOUBLE[]), q.qe), x -> x[1]*x[2]),
        |      (a,b) -> a+b) AS score
        |  FROM embeddings e, q WHERE e.vec_id <> q.query_id)
        |SELECT query_id, vec_id, score, rank FROM (
        |  SELECT *, CAST(ROW_NUMBER() OVER (
        |    PARTITION BY query_id ORDER BY score DESC, vec_id ASC) AS INT) AS rank
        |  FROM scored)
        |WHERE rank <= 5""".stripMargin,

    // zero-norm probe block (label 99) mirrors the engine side; the
    // CASE guard is the oracle twin of the engine's cosine guard —
    // probe pairs read 0 and filter out, so removing the ENGINE guard
    // (NaN pairs, Spark NaN > 0.3 is true) reads RED (r14 kill-test)
    "q18_embedding_neardup" ->
      """WITH emb2(vec_id, emb, label) AS (
        |  SELECT vec_id, CAST(embedding AS DOUBLE[]), label FROM embeddings
        |  UNION ALL
        |  SELECT 9000000001, list_transform(range(64), x -> 0.0), 99
        |  UNION ALL
        |  SELECT 9000000002, list_transform(range(64), x -> 0.0), 99
        |  UNION ALL
        |  SELECT 9000000003, list_prepend(1.0, list_transform(range(63), x -> 0.0)), 99),
        |n AS (SELECT vec_id, emb, label,
        |    sqrt(list_reduce(list_transform(emb, x -> x*x), (p,q) -> p+q)) AS nrm
        |  FROM emb2)
        |SELECT id_a, id_b, cosine FROM (
        |  SELECT a.vec_id AS id_a, b.vec_id AS id_b,
        |    CASE WHEN a.nrm * b.nrm = 0 THEN 0.0
        |      ELSE list_reduce(list_transform(list_zip(a.emb, b.emb),
        |        x -> x[1]*x[2]), (p,q) -> p+q) / (a.nrm * b.nrm) END AS cosine
        |  FROM n a JOIN n b ON a.label = b.label AND a.vec_id < b.vec_id)
        |WHERE cosine > 0.3""".stripMargin,

    // Rebuilds the LSH index in SQL: md5-derived hyperplanes (exact in
    // binary64), sign-bit signatures, banded buckets, candidate join,
    // exact cosine re-rank — bit-identical to AnnIndex.topK.
    "q19_ann_lsh_topk" ->
      s"""WITH planes AS (
         |  SELECT i, list(c ORDER BY j) AS p FROM (
         |    SELECT t.i AS i, u.j AS j,
         |      CAST(('0x'||substr(md5('42:'||CAST(t.i AS VARCHAR)||':'||
         |        CAST(u.j AS VARCHAR)), 1, 8)) AS BIGINT)
         |        / 4294967296.0 * 2 - 1 AS c
         |    FROM generate_series(0, 11) t(i), generate_series(0, 63) u(j))
         |  GROUP BY i),
         |sigs AS (
         |  SELECT e.vec_id,
         |    list(CASE WHEN ${sqlDotOf("CAST(e.embedding AS DOUBLE[])", "pl.p")} >= 0
         |         THEN 1 ELSE 0 END ORDER BY pl.i) AS sig
         |  FROM embeddings e, planes pl GROUP BY e.vec_id),
         |cb AS (
         |  SELECT vec_id, b.b AS band_idx,
         |    array_to_string(list_slice(sig, b.b*2+1, b.b*2+2), ',') AS bucket
         |  FROM sigs, generate_series(0, 5) b(b)),
         |qb AS (SELECT vec_id AS query_id, band_idx, bucket FROM cb WHERE vec_id < 5),
         |cand AS (
         |  SELECT DISTINCT qb.query_id, cb.vec_id
         |  FROM cb JOIN qb ON cb.band_idx = qb.band_idx AND cb.bucket = qb.bucket),
         |scored AS (
         |  SELECT c.query_id, c.vec_id,
         |    ${sqlCosOf("CAST(e.embedding AS DOUBLE[])", "CAST(q.embedding AS DOUBLE[])")} AS score
         |  FROM cand c
         |  JOIN embeddings e ON c.vec_id = e.vec_id
         |  JOIN embeddings q ON c.query_id = q.vec_id)
         |SELECT query_id, vec_id, score, rank FROM (
         |  SELECT *, CAST(ROW_NUMBER() OVER (PARTITION BY query_id
         |    ORDER BY score DESC, vec_id ASC) AS INT) AS rank FROM scored)
         |WHERE rank <= 10""".stripMargin,

    // duplicate-pair probe rows mirror the engine side (r14 kill-test:
    // no exact duplicates exist in the raw testdata, so the keep-first
    // tie-break needed a pinned-survivor probe to be driver-visible)
    "q20_dedup_exact" ->
      s"""SELECT doc_id, source, n_chars FROM (
         |  SELECT doc_id, source, n_chars, ROW_NUMBER() OVER (
         |    PARTITION BY md5(array_to_string($sqlWords, ' '))
         |    ORDER BY doc_id) AS rn
         |  FROM (SELECT doc_id, text, source, n_chars FROM documents
         |    UNION ALL SELECT 9000000001, 'the quick brown fox', 'probe', 19
         |    UNION ALL SELECT 9000000002, 'the quick brown fox', 'probe', 19))
         |WHERE rn = 1""".stripMargin,

    "q21_token_stats" ->
      s"""SELECT doc_id,
         |  len($sqlWords) AS n_tokens,
         |  len(regexp_extract_all(lower(text), '[a-z]+|[0-9]+|[^a-z0-9\\s]'))
         |    AS n_subtokens,
         |  length(text) AS n_chars_actual
         |FROM documents""".stripMargin,

    "q22_quality_langid" ->
      s"""WITH t AS (SELECT doc_id, text, $sqlWords AS w FROM documents),
         |h AS (SELECT doc_id, text, w,
         |  CAST(len(w) AS DOUBLE) AS n_tokens,
         |  ${sqlHits("de")} AS h_de, ${sqlHits("en")} AS h_en,
         |  ${sqlHits("es")} AS h_es, ${sqlHits("fr")} AS h_fr
         |  FROM t)
         |SELECT doc_id, n_tokens,
         |  CAST(length(array_to_string(w, '')) AS DOUBLE) / n_tokens
         |    AS mean_word_len,
         |  CAST(len(regexp_extract_all(text, '[^A-Za-z0-9\\s]')) AS DOUBLE)
         |    / CAST(length(text) AS DOUBLE) AS punct_ratio,
         |  CAST(h_en AS DOUBLE) / n_tokens AS stopword_ratio,
         |  CASE WHEN greatest(h_de, h_en, h_es, h_fr) = 0 THEN 'und'
         |       WHEN h_de >= h_en AND h_de >= h_es AND h_de >= h_fr THEN 'de'
         |       WHEN h_en >= h_es AND h_en >= h_fr THEN 'en'
         |       WHEN h_es >= h_fr THEN 'es' ELSE 'fr' END AS lang_pred
         |FROM h""".stripMargin,

    "q23_minhash_pairs" ->
      s"""WITH $sqlMinhashPairCtes
         |SELECT id_a, id_b, jaccard FROM mh_pairs""".stripMargin,

    "q24_simhash_pairs" ->
      s"""WITH h AS (
         |  SELECT doc_id,
         |    list_sum(list_transform(generate_series(0, 31), b ->
         |      CASE WHEN list_sum(list_transform(
         |        list_transform($sqlWords, x -> ${sqlHash32(0, "x")}),
         |        hv -> ((hv >> b) & 1)*2 - 1)) >= 0
         |      THEN (1::BIGINT << b) ELSE 0 END)) AS sh
         |  FROM documents),
         |blocked AS (
         |  SELECT doc_id, sh, b.block_idx,
         |    (sh >> (b.block_idx * 8)) & 255 AS block
         |  FROM h, (SELECT unnest([0,1,2,3]) AS block_idx) b),
         |cand AS (
         |  SELECT DISTINCT l.doc_id AS id_a, r.doc_id AS id_b,
         |         l.sh AS sa, r.sh AS sb
         |  FROM blocked l JOIN blocked r
         |    ON l.block_idx = r.block_idx AND l.block = r.block
         |   AND l.doc_id < r.doc_id)
         |SELECT id_a, id_b, bit_count(xor(sa, sb)) AS hamming_dist
         |FROM cand WHERE bit_count(xor(sa, sb)) <= 3""".stripMargin,

    "q25_ngram_jaccard" ->
      s"""WITH sh AS (SELECT doc_id, source, list_distinct($sqlShingles) AS sh
         |            FROM (SELECT doc_id, source, $sqlWords AS w FROM documents)),
         |pairs AS (
         |  SELECT l.doc_id AS id_a, r.doc_id AS id_b,
         |    CAST(len(list_intersect(l.sh, r.sh)) AS DOUBLE)
         |    / CAST(len(list_distinct(list_concat(l.sh, r.sh))) AS DOUBLE)
         |      AS jaccard
         |  FROM sh l JOIN sh r ON l.source = r.source AND l.doc_id < r.doc_id)
         |SELECT id_a, id_b, jaccard FROM pairs WHERE jaccard >= 0.08""".stripMargin,

    "q26_context_targets" ->
      s"""WITH ctx AS (SELECT ${sqlAvg("c_acctbal")} AS avg_acctbal,
         |                    COUNT(*) AS n_customers FROM customer)
         |SELECT o.o_orderkey, o.o_totalprice, ctx.avg_acctbal, ctx.n_customers,
         |       o.o_totalprice / ctx.avg_acctbal AS price_ratio
         |FROM orders o, ctx WHERE o.o_orderkey % 17 = 0""".stripMargin,

    "q27_pairwise" ->
      """WITH t AS (
        |  SELECT l_orderkey*8 + l_linenumber AS idx, l_orderkey,
        |         l_linenumber, l_quantity
        |  FROM lineitem WHERE l_orderkey % 101 = 0)
        |SELECT a.l_orderkey AS orderkey, a.l_linenumber AS ln_a,
        |       b.l_linenumber AS ln_b, b.l_quantity - a.l_quantity AS qty_delta
        |FROM t p JOIN t a ON p.idx = a.idx JOIN t b ON p.idx + 1 = b.idx""".stripMargin,

    "q28_slatewise" ->
      """WITH t AS (
        |  SELECT l_orderkey*8 + l_linenumber AS idx, l_orderkey,
        |         l_linenumber, l_extendedprice
        |  FROM lineitem WHERE l_orderkey % 31 = 0)
        |SELECT s.slate_id, t.l_linenumber, t.l_extendedprice
        |FROM (SELECT l_orderkey AS slate_id, unnest(list_sort(list(idx))) AS member
        |      FROM t GROUP BY l_orderkey) s
        |JOIN t ON s.member = t.idx""".stripMargin,

    "q29_delta_detect" ->
      """WITH next AS (
        |  SELECT c_custkey,
        |    CASE WHEN c_mktsegment = 'BUILDING' THEN c_acctbal * 1.1
        |         ELSE c_acctbal END AS c_acctbal
        |  FROM customer
        |  UNION ALL
        |  SELECT c_custkey + 1000000, c_acctbal FROM customer
        |  WHERE c_custkey % 100 = 0)
        |SELECT n.c_custkey, n.c_acctbal
        |FROM next n LEFT JOIN customer c USING (c_custkey)
        |WHERE c.c_custkey IS NULL OR n.c_acctbal IS DISTINCT FROM c.c_acctbal""".stripMargin,

    "q30_batch_groups" ->
      """SELECT user_id, event_id, ts,
        |  CAST((ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY event_id ASC)
        |        - 1) // 10 AS BIGINT) AS batch_idx
        |FROM events""".stripMargin,

    "q32_ring_week" ->
      """SELECT user_id, event_id, ts,
        |  epoch_ms(ts) // 604800000 AS week_idx,
        |  (epoch_ms(ts) // 604800000) % 24 AS ring_week
        |FROM events""".stripMargin,

    "q33_retention_horizon" ->
      """WITH wk AS (SELECT user_id, event_id, ts,
        |              epoch_ms(ts) // 604800000 AS w FROM events),
        |mx AS (SELECT user_id, max(w) AS mw FROM wk GROUP BY 1)
        |SELECT wk.user_id, event_id, ts
        |FROM wk JOIN mx USING (user_id) WHERE mw - w < 2""".stripMargin,

    "q34_upsert" ->
      """WITH curr AS (SELECT o_orderkey, o_totalprice,
        |                CAST(0 AS BIGINT) AS version FROM orders),
        |base AS (SELECT * FROM orders WHERE o_orderkey % 5 = 0),
        |updates AS (
        |  SELECT o_orderkey, o_totalprice * 1.1 AS o_totalprice,
        |    CAST(1 AS BIGINT) AS version FROM base
        |  UNION ALL SELECT o_orderkey, o_totalprice * 1.2,
        |    CAST(2 AS BIGINT) FROM base
        |  UNION ALL SELECT o_orderkey + 1000000000, o_totalprice,
        |    CAST(1 AS BIGINT) FROM base),
        |latest AS (SELECT o_orderkey, o_totalprice, version FROM (
        |  SELECT *, ROW_NUMBER() OVER (PARTITION BY o_orderkey
        |    ORDER BY version DESC) AS rn FROM updates) WHERE rn = 1)
        |SELECT c.* FROM curr c LEFT JOIN latest l USING (o_orderkey)
        |WHERE l.o_orderkey IS NULL
        |UNION ALL SELECT * FROM latest""".stripMargin,

    "q35_decoded_retrieve" ->
      """SELECT o_orderkey,
        |  CAST(o_orderkey AS VARCHAR) AS key_str,
        |  CAST(CAST(o_totalprice AS DECIMAL(30,6)) AS VARCHAR) AS price_str,
        |  o_orderstatus AS status_str,
        |  CAST(o_orderdate AS VARCHAR) AS date_str,
        |  CAST(o_orderkey % 2 = 0 AS VARCHAR) AS even_str
        |FROM orders""".stripMargin,

    "q36_fit_dim" ->
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb
        |           FROM embeddings)
        |SELECT vec_id,
        |  CAST(len(list_slice(emb, 1, 16)) AS INT) AS n16,
        |  CAST(len(list_slice(list_concat(emb,
        |    list_transform(generate_series(1, 80), x -> 0.0)), 1, 80)) AS INT)
        |    AS n80,
        |  emb[16] AS last16,
        |  COALESCE(emb[80], 0.0) AS pad80,
        |  list_reduce(list_transform(list_slice(emb, 1, 16), x -> x*x),
        |    (a,b) -> a+b) AS l2sq_16,
        |  array_to_string(list_transform(list_slice(emb, 1, 3),
        |    x -> CAST(CAST(x AS DECIMAL(30,6)) AS VARCHAR)), ',') AS vec_prefix
        |FROM e""".stripMargin,

    "q37_inferflow_pointwise" ->
      s"""WITH t AS (SELECT l_orderkey, l_linenumber, l_partkey,
         |             l_extendedprice, l_discount
         |           FROM lineitem WHERE l_orderkey % 50 = 0),
         |ctx AS (SELECT ${sqlAvg("p_retailprice")} AS avg_price FROM part),
         |scored AS (
         |  SELECT t.l_orderkey, t.l_linenumber,
         |    (t.l_extendedprice * (1.0 - t.l_discount)) *
         |    (p.p_retailprice / ctx.avg_price) AS score
         |  FROM t JOIN part p ON t.l_partkey = p.p_partkey, ctx)
         |SELECT l_orderkey, l_linenumber, score, rank FROM (
         |  SELECT *, CAST(ROW_NUMBER() OVER (PARTITION BY l_orderkey
         |    ORDER BY score DESC, l_linenumber ASC) AS INT) AS rank
         |  FROM scored)
         |WHERE rank <= 3""".stripMargin,

    // Rebuilds the IVF index in SQL: deterministic id-sampled centroids
    // (stride = n // cells), nearest-centroid assignment, 2-cell probe,
    // exact cosine re-rank — bit-identical to IvfIndex.build().search().
    "q38_ann_ivf_topk" ->
      s"""WITH p AS (SELECT greatest(count(*) // 8, 1) AS stride FROM embeddings),
         |cent AS (SELECT e.vec_id // p.stride AS cell_id,
         |                CAST(e.embedding AS DOUBLE[]) AS centroid
         |         FROM embeddings e, p
         |         WHERE e.vec_id % p.stride = 0 AND e.vec_id < p.stride * 8),
         |asg AS (SELECT vec_id, cell_id FROM (
         |  SELECT e.vec_id, c.cell_id,
         |    ROW_NUMBER() OVER (PARTITION BY e.vec_id
         |      ORDER BY ${sqlEuclidOf("CAST(e.embedding AS DOUBLE[])", "c.centroid")} ASC,
         |               c.cell_id ASC) AS rn
         |  FROM embeddings e, cent c) WHERE rn = 1),
         |q AS (SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qe
         |      FROM embeddings WHERE vec_id < 5),
         |qc AS (SELECT query_id, cell_id FROM (
         |  SELECT q.query_id, c.cell_id,
         |    ROW_NUMBER() OVER (PARTITION BY q.query_id
         |      ORDER BY ${sqlEuclidOf("q.qe", "c.centroid")} ASC, c.cell_id ASC) AS rn
         |  FROM q, cent c) WHERE rn <= 2),
         |scored AS (
         |  SELECT qc.query_id, a.vec_id,
         |    ${sqlCosOf("CAST(e.embedding AS DOUBLE[])", "q2.qe")} AS score
         |  FROM asg a JOIN qc ON a.cell_id = qc.cell_id
         |  JOIN embeddings e ON a.vec_id = e.vec_id
         |  JOIN q q2 ON qc.query_id = q2.query_id)
         |SELECT query_id, vec_id, score, rank FROM (
         |  SELECT *, CAST(ROW_NUMBER() OVER (PARTITION BY query_id
         |    ORDER BY score DESC, vec_id ASC) AS INT) AS rank FROM scored)
         |WHERE rank <= 10""".stripMargin,

    // q38's probe x q45's scoring: same CTE shapes, composed
    "q48_ann_ivf_int8" ->
      s"""WITH p AS (SELECT greatest(count(*) // 8, 1) AS stride FROM embeddings),
         |cent AS (SELECT e.vec_id // p.stride AS cell_id,
         |                CAST(e.embedding AS DOUBLE[]) AS centroid
         |         FROM embeddings e, p
         |         WHERE e.vec_id % p.stride = 0 AND e.vec_id < p.stride * 8),
         |e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings),
         |s AS (SELECT vec_id, emb,
         |        CASE WHEN mx = 0 THEN 1.0 ELSE mx / 127.0 END AS scale
         |      FROM (SELECT vec_id, emb,
         |              list_max(list_transform(emb, x -> abs(x))) AS mx FROM e)),
         |c AS (SELECT vec_id, scale,
         |        list_transform(emb, x -> CAST(greatest(least(
         |          round_even(x / scale, 0), 127.0), -127.0) AS BIGINT)) AS codes
         |      FROM s),
         |asg AS (SELECT vec_id, cell_id FROM (
         |  SELECT e.vec_id, cc.cell_id,
         |    ROW_NUMBER() OVER (PARTITION BY e.vec_id
         |      ORDER BY ${sqlEuclidOf("e.emb", "cc.centroid")} ASC,
         |               cc.cell_id ASC) AS rn
         |  FROM e, cent cc) WHERE rn = 1),
         |q AS (SELECT vec_id AS query_id, emb AS qe FROM e WHERE vec_id < 5),
         |qq AS (SELECT q.query_id, q.qe, cq.scale AS qscale, cq.codes AS qcodes
         |       FROM q JOIN c cq ON q.query_id = cq.vec_id),
         |qc AS (SELECT query_id, qscale, qcodes, cell_id FROM (
         |  SELECT qq.query_id, qq.qscale, qq.qcodes, cc.cell_id,
         |    ROW_NUMBER() OVER (PARTITION BY qq.query_id
         |      ORDER BY ${sqlEuclidOf("qq.qe", "cc.centroid")} ASC, cc.cell_id ASC) AS rn
         |  FROM qq, cent cc) WHERE rn <= 2),
         |scored AS (
         |  SELECT qc.query_id, a.vec_id,
         |    list_reduce(list_transform(list_zip(cv.codes, qc.qcodes),
         |      x -> x[1]*x[2]), (pp,w) -> pp+w) * cv.scale * qc.qscale AS score
         |  FROM asg a JOIN qc ON a.cell_id = qc.cell_id
         |  JOIN c cv ON a.vec_id = cv.vec_id)
         |SELECT query_id, vec_id, score, rank FROM (
         |  SELECT *, CAST(ROW_NUMBER() OVER (PARTITION BY query_id
         |    ORDER BY score DESC, vec_id ASC) AS INT) AS rank FROM scored)
         |WHERE rank <= 10""".stripMargin,

    "q39_skye_search" ->
      """WITH q AS (SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qe
        |           FROM embeddings WHERE vec_id % 250 = 3),
        |corpus AS (SELECT vec_id, embedding FROM embeddings
        |           WHERE label IN (0, 1, 2) AND vec_id BETWEEN 10 AND 4000),
        |scored AS (
        |  SELECT q.query_id, e.vec_id,
        |    list_reduce(list_transform(
        |      list_zip(CAST(e.embedding AS DOUBLE[]), q.qe), x -> x[1]*x[2]),
        |      (a,b) -> a+b) AS score
        |  FROM corpus e, q WHERE e.vec_id <> q.query_id)
        |SELECT query_id, vec_id, score, rank FROM (
        |  SELECT *, CAST(ROW_NUMBER() OVER (
        |    PARTITION BY query_id ORDER BY score DESC, vec_id ASC) AS INT) AS rank
        |  FROM scored)
        |WHERE rank <= 8""".stripMargin,

    "q40_vector_retrieve" ->
      """WITH keys AS (
        |  SELECT vec_id FROM embeddings WHERE vec_id % 9 = 2
        |  UNION
        |  SELECT vec_id + 1000000 FROM embeddings WHERE vec_id % 9 = 2),
        |z AS (SELECT list_transform(generate_series(1, 64),
        |        x -> CAST(0.0 AS FLOAT)) AS zz),
        |j AS (SELECT k.vec_id, COALESCE(e.embedding, z.zz) AS emb
        |      FROM keys k LEFT JOIN embeddings e USING (vec_id), z)
        |SELECT vec_id, CAST(len(emb) AS INT) AS dim,
        |  CAST(emb[1] AS DOUBLE) AS e1,
        |  list_reduce(list_transform(CAST(emb AS DOUBLE[]), x -> x*x),
        |    (a,b) -> a+b) AS l2sq
        |FROM j""".stripMargin,

    // int8 codes: round_even == Spark rint; integer dot exact in
    // BIGINT; score = dot * scale_a * scale_b left-assoc in double
    "q45_ann_int8_topk" ->
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb
        |           FROM embeddings),
        |s AS (SELECT vec_id, emb,
        |        CASE WHEN mx = 0 THEN 1.0 ELSE mx / 127.0 END AS scale
        |      FROM (SELECT vec_id, emb,
        |              list_max(list_transform(emb, x -> abs(x))) AS mx
        |            FROM e)),
        |c AS (SELECT vec_id, scale,
        |        list_transform(emb, x -> CAST(greatest(least(
        |          round_even(x / scale, 0), 127.0), -127.0) AS BIGINT)) AS codes
        |      FROM s),
        |q AS (SELECT vec_id AS query_id, scale AS qscale, codes AS qcodes
        |      FROM c WHERE vec_id < 5),
        |scored AS (
        |  SELECT q.query_id, c.vec_id,
        |    list_reduce(list_transform(list_zip(c.codes, q.qcodes),
        |      x -> x[1]*x[2]), (p,w) -> p+w) * c.scale * q.qscale AS score
        |  FROM c, q)
        |SELECT query_id, vec_id, score, rank FROM (
        |  SELECT *, CAST(ROW_NUMBER() OVER (PARTITION BY query_id
        |    ORDER BY score DESC, vec_id ASC) AS INT) AS rank FROM scored)
        |WHERE rank <= 10""".stripMargin,

    "q41_fingerprint_winnow" ->
      """WITH t AS (
        |  SELECT doc_id,
        |    trim(regexp_replace(lower(text), '\s+', ' ', 'g')) AS nt
        |  FROM documents),
        |g AS (
        |  SELECT doc_id,
        |    list_transform(generate_series(1, greatest(length(nt) - 7, 1)),
        |      i -> CAST(('0x'||substr(md5('0:'||substr(nt, i, 8)), 1, 8))
        |             AS BIGINT)) AS hs
        |  FROM t),
        |wm AS (
        |  SELECT doc_id,
        |    list_sort(list_distinct(
        |      list_transform(generate_series(1, greatest(len(hs) - 3, 1)),
        |        j -> list_min(list_slice(hs, j, j + 3))))) AS fps
        |  FROM g)
        |SELECT doc_id, unnest(fps) AS fp FROM wm""".stripMargin,

    // transitive closure by recursive min-label reachability — the
    // declarative twin of the iterative label propagation
    // docs42 = documents + the chain probe (same fixture rows the
    // engine unions in); banding/verify/closure all recomputed by SQL
    "q42_dedup_components" -> {
      // single quotes escaped on the way into the VALUES literal —
      // today's probe texts are [a-z0-9 ] words (ProbeFixturesSpec
      // locks that), but a re-derived fixture with punctuation must
      // not silently corrupt the oracle SQL (r14 ADVICE)
      val vals = ccChainProbe
        .map { case (i, t) => s"($i, '${t.replace("'", "''")}')" }
        .mkString(", ")
      s"""WITH RECURSIVE docs42(doc_id, text) AS (
         |  SELECT doc_id, text FROM documents
         |  UNION ALL SELECT * FROM (VALUES $vals) v(doc_id, text)),
         |${sqlMinhashPairCtesOver("docs42")},
         |edges AS (
         |  SELECT id_a AS src, id_b AS dst FROM mh_pairs
         |  UNION SELECT id_b, id_a FROM mh_pairs),
         |reach(id, lbl) AS (
         |  SELECT src, src FROM edges
         |  UNION
         |  SELECT e.src, r.lbl FROM edges e JOIN reach r ON e.dst = r.id)
         |SELECT id AS doc_id, min(lbl) AS component,
         |       min(lbl) = id AS is_canonical
         |FROM reach GROUP BY id""".stripMargin
    },

    "q46_feature_materialize" ->
      s"""SELECT user_id,
         |  COUNT(CASE WHEN ts > TIMESTAMP '2024-02-01' - INTERVAL 7 DAY
         |             AND ts <= TIMESTAMP '2024-02-01' THEN 1 END) AS cnt_7d,
         |  ${sqlSum("CASE WHEN ts > TIMESTAMP '2024-02-01' - INTERVAL 7 DAY AND ts <= TIMESTAMP '2024-02-01' THEN value END")} AS sum_7d,
         |  COUNT(CASE WHEN ts > TIMESTAMP '2024-02-01' - INTERVAL 30 DAY
         |             AND ts <= TIMESTAMP '2024-02-01' THEN 1 END) AS cnt_30d,
         |  ${sqlSum("CASE WHEN ts > TIMESTAMP '2024-02-01' - INTERVAL 30 DAY AND ts <= TIMESTAMP '2024-02-01' THEN value END")} AS sum_30d
         |FROM events GROUP BY user_id""".stripMargin,

    // DuckDB's native ASOF join is the declarative twin of the
    // union+window single-shuffle shape
    "q47_point_in_time" ->
      """WITH hist AS (SELECT user_id, ts, max(value) AS value
        |              FROM events GROUP BY 1, 2),
        |lab AS (SELECT user_id, ts, event_id AS label_id FROM events
        |        WHERE event_id % 97 = 0)
        |SELECT l.user_id, l.ts, l.label_id, h.value
        |FROM lab l ASOF LEFT JOIN hist h
        |  ON l.user_id = h.user_id AND h.ts <= l.ts""".stripMargin,

    "q44_uint64_agg" ->
      """SELECT o_orderpriority,
        |  CAST(SUM(CAST('18446744073709551615' AS DECIMAL(38,0)) - o_orderkey) AS VARCHAR) AS u_sum,
        |  CAST(MIN(CAST('18446744073709551615' AS DECIMAL(38,0)) - o_orderkey) AS VARCHAR) AS u_min,
        |  CAST(MAX(CAST('18446744073709551615' AS DECIMAL(38,0)) - o_orderkey) AS VARCHAR) AS u_max,
        |  COUNT(*) AS n
        |FROM orders GROUP BY o_orderpriority""".stripMargin,

    "q49_langid_eval" ->
      s"""WITH lt AS (SELECT doc_id, lang, $sqlWords AS w FROM documents),
         |lh AS (SELECT doc_id, lang,
         |  ${sqlHits("de")} AS h_de, ${sqlHits("en")} AS h_en,
         |  ${sqlHits("es")} AS h_es, ${sqlHits("fr")} AS h_fr FROM lt),
         |lp AS (SELECT doc_id, lang,
         |  CASE WHEN greatest(h_de, h_en, h_es, h_fr) = 0 THEN 'und'
         |       WHEN h_de >= h_en AND h_de >= h_es AND h_de >= h_fr THEN 'de'
         |       WHEN h_en >= h_es AND h_en >= h_fr THEN 'en'
         |       WHEN h_es >= h_fr THEN 'es' ELSE 'fr' END AS lang_pred
         |  FROM lh)
         |SELECT lang, lang_pred, COUNT(*) AS n FROM lp GROUP BY 1, 2""".stripMargin,

    "q50_props_decode" ->
      """SELECT event_type, COUNT(*) AS n,
        |  CAST(SUM(CAST(json_extract(props, '$.k') AS BIGINT)) AS BIGINT) AS k_sum,
        |  MIN(CAST(json_extract(props, '$.k') AS BIGINT)) AS k_min,
        |  MAX(CAST(json_extract(props, '$.k') AS BIGINT)) AS k_max
        |FROM events GROUP BY event_type""".stripMargin,

    "q69_cube_agg" ->
      s"""SELECT event_type, CAST(date_trunc('week', ts) AS DATE) AS week,
         |  COUNT(*) AS n, ${sqlSum("value")} AS value_sum
         |FROM events
         |GROUP BY CUBE (event_type, CAST(date_trunc('week', ts) AS DATE))""".stripMargin,

    "q70_pivot_counts" ->
      """SELECT user_id,
        |  COUNT(*) FILTER (event_type = 'click') AS click,
        |  COUNT(*) FILTER (event_type = 'view') AS view,
        |  COUNT(*) FILTER (event_type = 'purchase') AS purchase,
        |  COUNT(*) FILTER (event_type = 'signup') AS signup,
        |  COUNT(*) FILTER (event_type = 'error') AS error
        |FROM events GROUP BY user_id""".stripMargin,

    "q71_group_percentiles" ->
      """SELECT o_orderpriority,
        |  ROUND(quantile_cont(o_totalprice, 0.5), 6) AS p50,
        |  ROUND(quantile_cont(o_totalprice, 0.9), 6) AS p90,
        |  COUNT(*) AS n
        |FROM orders GROUP BY o_orderpriority""".stripMargin,

    // KMV = order statistics of the portable md5 hash, so the sketch
    // estimate itself is exactly reproducible in SQL
    "q72_kmv_distinct" ->
      s"""WITH h AS (
         |  SELECT DISTINCT event_type,
         |    ${sqlHash32(7, "CAST(user_id AS VARCHAR)")} AS h
         |  FROM events),
         |r AS (
         |  SELECT event_type, h,
         |    row_number() OVER (PARTITION BY event_type ORDER BY h) AS rn
         |  FROM h),
         |est AS (
         |  SELECT event_type,
         |    CASE WHEN count(*) < 64 THEN CAST(count(*) AS DOUBLE)
         |         ELSE 63.0 * 4294967296.0 /
         |           CAST(max(CASE WHEN rn <= 64 THEN h END) AS DOUBLE)
         |    END AS kmv_distinct
         |  FROM r GROUP BY event_type),
         |ex AS (
         |  SELECT event_type, count(DISTINCT user_id) AS exact_distinct
         |  FROM events GROUP BY event_type)
         |SELECT ex.event_type, ex.exact_distinct, est.kmv_distinct
         |FROM ex JOIN est USING (event_type)""".stripMargin,

    "q73_repetition_quality" ->
      s"""WITH w0 AS (SELECT doc_id, $sqlWords AS w FROM documents),
         |bg AS (SELECT doc_id, w,
         |    list_transform(generate_series(1, greatest(len(w)-1, 1)),
         |      i -> array_to_string(list_slice(w, i, i+1), ' ')) AS bg
         |  FROM w0),
         |cnt AS (SELECT doc_id, g, count(*) AS c
         |  FROM (SELECT doc_id, unnest(bg) AS g FROM bg) GROUP BY doc_id, g),
         |top AS (SELECT doc_id, g, c FROM (
         |    SELECT doc_id, g, c, row_number() OVER
         |      (PARTITION BY doc_id ORDER BY c DESC, g DESC) AS rn FROM cnt)
         |  WHERE rn = 1),
         |m AS (SELECT b.doc_id,
         |    CAST(len(b.w) AS BIGINT) AS n_words,
         |    ROUND(1.0 - CAST(len(list_distinct(b.w)) AS DOUBLE) /
         |      CAST(len(b.w) AS DOUBLE), 6) AS dup_word_frac,
         |    t.g AS top_bigram,
         |    CAST(t.c AS BIGINT) AS top_bigram_cnt,
         |    ROUND(CAST(t.c * len(t.g) AS DOUBLE) /
         |      CAST(len(array_to_string(b.w, '')) AS DOUBLE), 6)
         |      AS top_bigram_char_frac
         |  FROM bg b JOIN top t USING (doc_id))
         |SELECT *, (dup_word_frac <= 0.4 AND top_bigram_char_frac <= 0.2)
         |  AS keep
         |FROM m""".stripMargin,

    "q62_hash_split" ->
      s"""SELECT doc_id, lang,
         |  CASE WHEN h < 800000 THEN 'train'
         |       WHEN h < 900000 THEN 'val' ELSE 'test' END AS split
         |FROM (SELECT doc_id, lang,
         |  ${sqlHash32(7, "CAST(doc_id AS VARCHAR)")} % 1000000 AS h
         |  FROM documents)""".stripMargin,

    "q63_pack_sequences" ->
      s"""WITH toks AS (SELECT doc_id, len($sqlWords) AS tok FROM documents),
         |cum AS (SELECT doc_id, tok,
         |    CAST(SUM(tok) OVER (ORDER BY doc_id ROWS UNBOUNDED PRECEDING)
         |      AS BIGINT) AS e
         |  FROM toks WHERE tok > 0),
         |blocks AS (SELECT doc_id, e - tok AS st, e,
         |    unnest(generate_series((e - tok) // 256, (e - 1) // 256)) AS block_id
         |  FROM cum)
         |SELECT doc_id, block_id,
         |  LEAST(e, (block_id + 1) * 256) - GREATEST(st, block_id * 256)
         |    AS tok_in_block
         |FROM blocks""".stripMargin,

    "q64_random_projection" ->
      s"""WITH planes AS (
         |  SELECT i, list(c ORDER BY j) AS p FROM (
         |    SELECT t.i AS i, u.j AS j,
         |      CAST(('0x'||substr(md5('42:'||CAST(t.i AS VARCHAR)||':'||
         |        CAST(u.j AS VARCHAR)), 1, 8)) AS BIGINT)
         |        / 4294967296.0 * 2 - 1 AS c
         |    FROM generate_series(0, 7) t(i), generate_series(0, 63) u(j))
         |  GROUP BY i)
         |SELECT e.vec_id, CAST(pl.i AS INT) AS dim,
         |  ${sqlDotOf("CAST(e.embedding AS DOUBLE[])", "pl.p")} AS value
         |FROM embeddings e, planes pl""".stripMargin,

    "q67_class_quota" ->
      s"""SELECT vec_id, label FROM (
         |  SELECT vec_id, label, ROW_NUMBER() OVER (PARTITION BY label
         |    ORDER BY ${sqlHash32(7, "CAST(vec_id AS VARCHAR)")} % 1000000 ASC,
         |      vec_id ASC) AS rn
         |  FROM embeddings) WHERE rn <= 20""".stripMargin,

    "q68_histogram" ->
      """WITH b AS (SELECT min(o_totalprice) AS mn, max(o_totalprice) AS mx
        |           FROM orders),
        |assigned AS (SELECT
        |    LEAST(CAST(FLOOR((o_totalprice - mn) / (mx - mn) * 20) AS BIGINT),
        |      19) AS bucket, mn, mx
        |  FROM orders, b)
        |SELECT bucket, COUNT(*) AS n,
        |  MIN(mn) + bucket * (MIN(mx) - MIN(mn)) / 20 AS lo,
        |  MIN(mn) + (bucket + 1) * (MIN(mx) - MIN(mn)) / 20 AS hi
        |FROM assigned GROUP BY bucket""".stripMargin,

    "q51_sessionize" ->
      """WITH x AS (SELECT user_id, event_id, ts,
        |  lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev
        |  FROM events)
        |SELECT user_id, event_id, ts,
        |  CAST(SUM(CASE WHEN prev IS NULL OR ts > prev + INTERVAL 3 DAY
        |                THEN 1 ELSE 0 END)
        |    OVER (PARTITION BY user_id ORDER BY ts, event_id
        |          ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_idx
        |FROM x""".stripMargin,

    "q52_stratified_sample" ->
      s"""SELECT o_orderkey, o_orderpriority, o_totalprice FROM orders
         |WHERE ${sqlHash32(7, "CAST(o_orderkey AS VARCHAR)")} % 1000000 <
         |  CASE WHEN o_orderpriority = '1-URGENT' THEN 200000
         |       WHEN o_orderpriority = '2-HIGH' THEN 100000
         |       ELSE 50000 END""".stripMargin,

    // Spark's sliding windows are epoch-aligned: for slide 7d each
    // event belongs to windows starting at week-index e and e-1
    "q53_sliding_window" ->
      s"""WITH x AS (
         |  SELECT user_id, value, epoch_ms(ts) // 604800000 AS e, t.off
         |  FROM events, (SELECT unnest([0, 1]) AS off) t)
         |SELECT user_id,
         |  epoch_ms((e - off) * 604800000) AS w_start,
         |  epoch_ms((e - off) * 604800000 + 1209600000) AS w_end,
         |  COUNT(*) AS n, ${sqlSum("value")} AS value_sum
         |FROM x GROUP BY 1, 2, 3""".stripMargin,

    "q54_curation_pipeline" ->
      s"""WITH t AS (SELECT doc_id, source, text, $sqlWords AS w FROM documents),
         |h AS (SELECT doc_id, source, text, w,
         |  CAST(len(w) AS DOUBLE) AS n_tokens,
         |  CAST(len(regexp_extract_all(text, '[^A-Za-z0-9\\s]')) AS DOUBLE)
         |    / CAST(length(text) AS DOUBLE) AS punct_ratio,
         |  ${sqlHits("de")} AS h_de, ${sqlHits("en")} AS h_en,
         |  ${sqlHits("es")} AS h_es, ${sqlHits("fr")} AS h_fr
         |  FROM t),
         |gated AS (
         |  SELECT doc_id, source, n_tokens, w FROM h
         |  WHERE h_en > 0 AND h_en >= h_de AND h_en >= h_es AND h_en >= h_fr
         |    AND NOT (h_de >= h_en AND h_de >= h_es AND h_de >= h_fr)
         |    AND n_tokens >= 5 AND punct_ratio < 0.2),
         |deduped AS (
         |  SELECT doc_id, source, n_tokens FROM (
         |    SELECT doc_id, source, n_tokens, ROW_NUMBER() OVER (
         |      PARTITION BY md5(array_to_string(w, ' '))
         |      ORDER BY doc_id) AS rn
         |    FROM gated) WHERE rn = 1)
         |SELECT doc_id, source, n_tokens FROM deduped
         |WHERE ${sqlHash32(7, "CAST(doc_id AS VARCHAR)")} % 1000000 < 500000""".stripMargin,

    "q55_rollup_distinct" ->
      s"""SELECT event_type, CAST(date_trunc('week', ts) AS DATE) AS week,
         |  COUNT(*) AS n, COUNT(DISTINCT user_id) AS n_users,
         |  ${sqlSum("value")} AS value_sum
         |FROM events
         |GROUP BY ROLLUP (event_type, CAST(date_trunc('week', ts) AS DATE))""".stripMargin,

    "q56_scd2_history" ->
      """WITH snaps AS (
        |  SELECT user_id, ts, CAST(floor(max(value) / 10) AS BIGINT) AS tier
        |  FROM events GROUP BY 1, 2),
        |chg AS (
        |  SELECT user_id, ts, tier,
        |    (tier IS DISTINCT FROM lag(tier) OVER w
        |     OR lag(ts) OVER w IS NULL) AS is_chg
        |  FROM snaps WINDOW w AS (PARTITION BY user_id ORDER BY ts))
        |SELECT user_id, tier, valid_from,
        |  lead(valid_from) OVER (PARTITION BY user_id ORDER BY valid_from)
        |    AS valid_to
        |FROM (SELECT user_id, ts AS valid_from, tier FROM chg WHERE is_chg)""".stripMargin,

    "q57_attribution_join" ->
      """WITH c AS (SELECT user_id, event_id AS click_id, ts AS click_ts
        |           FROM events WHERE event_type IN ('click', 'view')),
        |p AS (SELECT user_id, event_id AS purchase_id, ts AS purchase_ts
        |      FROM events WHERE event_type = 'purchase')
        |SELECT c.user_id, c.click_id, p.purchase_id,
        |  epoch_ms(p.purchase_ts) - epoch_ms(c.click_ts) AS gap_ms
        |FROM c JOIN p ON c.user_id = p.user_id
        | AND p.purchase_ts >= c.click_ts
        | AND p.purchase_ts <= c.click_ts + INTERVAL 3 DAY""".stripMargin,

    "q58_ann_pq_topk" -> {
      val vParts = (0 until 8).map(j =>
        s"MAX(CASE WHEN c.j = $j THEN l.v END) AS v$j").mkString(",\n|         ")
      val vSum = (0 until 8).map(j => s"v$j").mkString(" + ")
      s"""WITH p AS (SELECT greatest(count(*) // 16, 1) AS stride FROM embeddings),
         |e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings),
         |cb AS (SELECT (s.vec_id // p.stride) AS cid, j.j AS j,
         |         list_slice(s.emb, j.j*8 + 1, j.j*8 + 8) AS centroid
         |       FROM e s, p, generate_series(0, 7) j(j)
         |       WHERE s.vec_id % p.stride = 0 AND s.vec_id < p.stride * 16),
         |sv AS (SELECT e.vec_id, j.j AS j,
         |         list_slice(e.emb, j.j*8 + 1, j.j*8 + 8) AS sub
         |       FROM e, generate_series(0, 7) j(j)),
         |codes AS (SELECT vec_id, j, cid AS code FROM (
         |  SELECT sv.vec_id, sv.j, cb.cid,
         |    ROW_NUMBER() OVER (PARTITION BY sv.vec_id, sv.j
         |      ORDER BY ${sqlSqDistOf("sv.sub", "cb.centroid")} ASC,
         |               cb.cid ASC) AS rn
         |  FROM sv JOIN cb ON sv.j = cb.j) WHERE rn = 1),
         |q AS (SELECT vec_id AS query_id, emb FROM e WHERE vec_id < 5),
         |qsv AS (SELECT query_id, j.j AS j,
         |          list_slice(emb, j.j*8 + 1, j.j*8 + 8) AS qsub
         |        FROM q, generate_series(0, 7) j(j)),
         |lut AS (SELECT qsv.query_id, qsv.j, cb.cid,
         |          ${sqlDotOf("qsv.qsub", "cb.centroid")} AS v
         |        FROM qsv JOIN cb ON qsv.j = cb.j),
         |sc AS (SELECT l.query_id, c.vec_id,
         |         $vParts
         |       FROM codes c JOIN lut l ON c.j = l.j AND c.code = l.cid
         |       GROUP BY 1, 2)
         |SELECT query_id, vec_id, score, rank FROM (
         |  SELECT query_id, vec_id, $vSum AS score,
         |    CAST(ROW_NUMBER() OVER (PARTITION BY query_id
         |      ORDER BY $vSum DESC, vec_id ASC) AS INT) AS rank
         |  FROM sc)
         |WHERE rank <= 10""".stripMargin
    },

    // q58's PQ CTEs over a variance-permuted corpus: per-dim moments
    // via decimal-exact sums -> rank -> snake allocation -> list()
    // reassembly ordered by new position
    "q74_ann_opq_topk" -> {
      val vParts = (0 until 8).map(j =>
        s"MAX(CASE WHEN c.j = $j THEN l.v END) AS v$j").mkString(",\n|         ")
      val vSum = (0 until 8).map(j => s"v$j").mkString(" + ")
      s"""WITH p AS (SELECT greatest(count(*) // 16, 1) AS stride FROM embeddings),
         |e0 AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings),
         |dx AS (SELECT i AS pos, e0.emb[i] AS x
         |       FROM e0, generate_series(1, 64) t(i)),
         |mv AS (SELECT pos,
         |         CAST(SUM(CAST(ROUND(x, 6) AS DECIMAL(38,6))) AS DOUBLE) AS s1,
         |         CAST(SUM(CAST(ROUND(x*x, 9) AS DECIMAL(38,9))) AS DOUBLE) AS s2,
         |         COUNT(*) AS n
         |       FROM dx GROUP BY pos),
         |rk AS (SELECT pos, ROW_NUMBER() OVER
         |         (ORDER BY (s2/n - (s1/n)*(s1/n)) DESC, pos ASC) - 1 AS r
         |       FROM mv),
         |perm AS (SELECT pos,
         |    (CASE WHEN (r // 8) % 2 = 0 THEN r % 8
         |          ELSE 7 - (r % 8) END) * 8 + (r // 8) AS newpos
         |  FROM rk),
         |e AS (SELECT t.vec_id, list(t.x ORDER BY t.newpos) AS emb FROM (
         |    SELECT e0.vec_id, pm.newpos, e0.emb[pm.pos] AS x
         |    FROM e0, perm pm) t
         |  GROUP BY t.vec_id),
         |cb AS (SELECT (s.vec_id // p.stride) AS cid, j.j AS j,
         |         list_slice(s.emb, j.j*8 + 1, j.j*8 + 8) AS centroid
         |       FROM e s, p, generate_series(0, 7) j(j)
         |       WHERE s.vec_id % p.stride = 0 AND s.vec_id < p.stride * 16),
         |sv AS (SELECT e.vec_id, j.j AS j,
         |         list_slice(e.emb, j.j*8 + 1, j.j*8 + 8) AS sub
         |       FROM e, generate_series(0, 7) j(j)),
         |codes AS (SELECT vec_id, j, cid AS code FROM (
         |  SELECT sv.vec_id, sv.j, cb.cid,
         |    ROW_NUMBER() OVER (PARTITION BY sv.vec_id, sv.j
         |      ORDER BY ${sqlSqDistOf("sv.sub", "cb.centroid")} ASC,
         |               cb.cid ASC) AS rn
         |  FROM sv JOIN cb ON sv.j = cb.j) WHERE rn = 1),
         |q AS (SELECT vec_id AS query_id, emb FROM e WHERE vec_id < 5),
         |qsv AS (SELECT query_id, j.j AS j,
         |          list_slice(emb, j.j*8 + 1, j.j*8 + 8) AS qsub
         |        FROM q, generate_series(0, 7) j(j)),
         |lut AS (SELECT qsv.query_id, qsv.j, cb.cid,
         |          ${sqlDotOf("qsv.qsub", "cb.centroid")} AS v
         |        FROM qsv JOIN cb ON qsv.j = cb.j),
         |sc AS (SELECT l.query_id, c.vec_id,
         |         $vParts
         |       FROM codes c JOIN lut l ON c.j = l.j AND c.code = l.cid
         |       GROUP BY 1, 2)
         |SELECT query_id, vec_id, score, rank FROM (
         |  SELECT query_id, vec_id, $vSum AS score,
         |    CAST(ROW_NUMBER() OVER (PARTITION BY query_id
         |      ORDER BY $vSum DESC, vec_id ASC) AS INT) AS rank
         |  FROM sc)
         |WHERE rank <= 10""".stripMargin
    },

    // q38's probe CTEs x q58's PQ CTEs, candidates = probed cells only
    "q59_ann_ivf_pq" -> {
      val vParts = (0 until 8).map(j =>
        s"MAX(CASE WHEN c.j = $j THEN l.v END) AS v$j").mkString(",\n|         ")
      val vSum = (0 until 8).map(j => s"v$j").mkString(" + ")
      s"""WITH pi AS (SELECT greatest(count(*) // 8, 1) AS stride FROM embeddings),
         |pp AS (SELECT greatest(count(*) // 16, 1) AS stride FROM embeddings),
         |e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings),
         |ci AS (SELECT e.vec_id // pi.stride AS cell_id, e.emb AS centroid
         |       FROM e, pi
         |       WHERE e.vec_id % pi.stride = 0 AND e.vec_id < pi.stride * 8),
         |asg AS (SELECT vec_id, cell_id FROM (
         |  SELECT e.vec_id, ci.cell_id,
         |    ROW_NUMBER() OVER (PARTITION BY e.vec_id
         |      ORDER BY ${sqlEuclidOf("e.emb", "ci.centroid")} ASC,
         |               ci.cell_id ASC) AS rn
         |  FROM e, ci) WHERE rn = 1),
         |q AS (SELECT vec_id AS query_id, emb FROM e WHERE vec_id < 5),
         |qc AS (SELECT query_id, cell_id FROM (
         |  SELECT q.query_id, ci.cell_id,
         |    ROW_NUMBER() OVER (PARTITION BY q.query_id
         |      ORDER BY ${sqlEuclidOf("q.emb", "ci.centroid")} ASC,
         |               ci.cell_id ASC) AS rn
         |  FROM q, ci) WHERE rn <= 2),
         |cand AS (SELECT qc.query_id, a.vec_id
         |         FROM asg a JOIN qc ON a.cell_id = qc.cell_id),
         |cb AS (SELECT (s.vec_id // pp.stride) AS cid, j.j AS j,
         |         list_slice(s.emb, j.j*8 + 1, j.j*8 + 8) AS centroid
         |       FROM e s, pp, generate_series(0, 7) j(j)
         |       WHERE s.vec_id % pp.stride = 0 AND s.vec_id < pp.stride * 16),
         |sv AS (SELECT e.vec_id, j.j AS j,
         |         list_slice(e.emb, j.j*8 + 1, j.j*8 + 8) AS sub
         |       FROM e, generate_series(0, 7) j(j)),
         |codes AS (SELECT vec_id, j, cid AS code FROM (
         |  SELECT sv.vec_id, sv.j, cb.cid,
         |    ROW_NUMBER() OVER (PARTITION BY sv.vec_id, sv.j
         |      ORDER BY ${sqlSqDistOf("sv.sub", "cb.centroid")} ASC,
         |               cb.cid ASC) AS rn
         |  FROM sv JOIN cb ON sv.j = cb.j) WHERE rn = 1),
         |qsv AS (SELECT query_id, j.j AS j,
         |          list_slice(emb, j.j*8 + 1, j.j*8 + 8) AS qsub
         |        FROM q, generate_series(0, 7) j(j)),
         |lut AS (SELECT qsv.query_id, qsv.j, cb.cid,
         |          ${sqlDotOf("qsv.qsub", "cb.centroid")} AS v
         |        FROM qsv JOIN cb ON qsv.j = cb.j),
         |sc AS (SELECT l.query_id, c.vec_id,
         |         $vParts
         |       FROM codes c
         |       JOIN cand ON c.vec_id = cand.vec_id
         |       JOIN lut l ON c.j = l.j AND c.code = l.cid
         |                 AND l.query_id = cand.query_id
         |       GROUP BY 1, 2)
         |SELECT query_id, vec_id, score, rank FROM (
         |  SELECT query_id, vec_id, $vSum AS score,
         |    CAST(ROW_NUMBER() OVER (PARTITION BY query_id
         |      ORDER BY $vSum DESC, vec_id ASC) AS INT) AS rank
         |  FROM sc)
         |WHERE rank <= 10""".stripMargin
    },

    "q60_weighted_sample" ->
      """WITH w AS (SELECT o_orderkey, o_totalprice,
        |             CAST(round(o_totalprice * 1000000.0, 0) AS BIGINT) AS wi
        |           FROM orders),
        |c AS (SELECT *,
        |        SUM(wi) OVER (ORDER BY o_orderkey
        |                      ROWS UNBOUNDED PRECEDING) AS cum,
        |        SUM(wi) OVER () AS total
        |      FROM w)
        |SELECT o_orderkey, o_totalprice FROM c
        |WHERE (cum * 50) // total > ((cum - wi) * 50) // total""".stripMargin,

    "q61_dedup_prune" ->
      s"""WITH RECURSIVE $sqlMinhashPairCtes,
         |edges AS (
         |  SELECT id_a AS src, id_b AS dst FROM mh_pairs
         |  UNION SELECT id_b, id_a FROM mh_pairs),
         |reach(id, lbl) AS (
         |  SELECT src, src FROM edges
         |  UNION
         |  SELECT e.src, r.lbl FROM edges e JOIN reach r ON e.dst = r.id),
         |comp AS (SELECT id, min(lbl) AS lbl FROM reach GROUP BY id)
         |SELECT doc_id, source, n_chars FROM documents
         |WHERE doc_id NOT IN (SELECT id FROM comp WHERE lbl <> id)""".stripMargin,

    "q75_gram_matrix" ->
      """WITH e AS (SELECT list_transform(embedding,
        |    x -> CAST(floor(CAST(x AS DOUBLE) * 1000000) AS BIGINT)) AS v
        |  FROM embeddings)
        |SELECT CAST(s1.i AS INT) AS i, CAST(s2.j AS INT) AS j,
        |       CAST(SUM(v[s1.i] * v[s2.j]) AS BIGINT) AS g
        |FROM e, generate_series(1, 64) AS s1(i), generate_series(1, 64) AS s2(j)
        |WHERE s2.j >= s1.i
        |GROUP BY s1.i, s2.j""".stripMargin,

    "q76_decontaminate" ->
      s"""WITH t AS (SELECT doc_id, $sqlWords AS w FROM documents),
         |g AS (SELECT doc_id, unnest(list_distinct($sqlShingles)) AS gram
         |      FROM t),
         |b AS (SELECT DISTINCT gram FROM g WHERE doc_id % 41 = 0)
         |SELECT c.doc_id, COUNT(*) AS n_hit_grams
         |FROM (SELECT * FROM g WHERE doc_id % 41 <> 0) c
         |JOIN b USING (gram)
         |GROUP BY c.doc_id""".stripMargin,

    "q77_incremental_agg" ->
      s"""SELECT user_id, event_type, COUNT(value) AS cnt,
         |  ${sqlSum("value")} AS val_sum,
         |  ${sqlAvg("value")} AS val_avg
         |FROM events GROUP BY user_id, event_type""".stripMargin,

    "q78_funnel_reach" ->
      """WITH a AS (SELECT user_id, ts, event_type,
        |  MIN(CASE WHEN event_type = 'view' THEN ts END)
        |    OVER (PARTITION BY user_id) AS ts_view FROM events),
        |b AS (SELECT *, MIN(CASE WHEN event_type = 'click'
        |    AND ts_view IS NOT NULL AND ts >= ts_view THEN ts END)
        |    OVER (PARTITION BY user_id) AS ts_click FROM a),
        |c AS (SELECT *, MIN(CASE WHEN event_type = 'purchase'
        |    AND ts_click IS NOT NULL AND ts >= ts_click THEN ts END)
        |    OVER (PARTITION BY user_id) AS ts_purchase FROM b)
        |SELECT DISTINCT user_id, ts_view, ts_click, ts_purchase,
        |  (CASE WHEN ts_view IS NOT NULL THEN 1 ELSE 0 END
        |   + CASE WHEN ts_click IS NOT NULL THEN 1 ELSE 0 END
        |   + CASE WHEN ts_purchase IS NOT NULL THEN 1 ELSE 0 END) AS depth
        |FROM c""".stripMargin,

    "q80_temperature_mix" ->
      s"""WITH corpus AS (SELECT doc_id, source, lang FROM documents
         |                WHERE n_chars % 7 < 5),
         |cnt AS (SELECT source, COUNT(*) AS n FROM corpus GROUP BY source),
         |w AS (SELECT source,
         |        CAST(floor(pow(CAST(n AS DOUBLE), 0.5) * 1000000) AS BIGINT)
         |          AS wm FROM cnt),
         |a AS (SELECT cnt.source, n, wm, SUM(wm) OVER () AS tw,
         |        COALESCE(SUM(n) OVER pre, 0) AS cumnp,
         |        COALESCE(SUM(wm) OVER pre, 0) AS cumwp
         |      FROM w JOIN cnt USING (source)
         |      WINDOW pre AS (ORDER BY CAST(n AS DOUBLE) / wm ASC, source ASC
         |                     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)),
         |s AS (SELECT *, MIN(CASE WHEN wm * (100 - cumnp) >= n * (tw - cumwp)
         |                         THEN 1 ELSE 0 END)
         |        OVER (ORDER BY CAST(n AS DOUBLE) / wm ASC, source ASC
         |              ROWS UNBOUNDED PRECEDING) = 1 AS sat FROM a),
         |u AS (SELECT *,
         |        100 - COALESCE(SUM(CASE WHEN sat THEN n END) OVER (), 0) AS rr,
         |        COALESCE(SUM(CASE WHEN NOT sat THEN wm END) OVER (), 0) AS uw
         |      FROM s),
         |b AS (SELECT *,
         |        CASE WHEN sat OR uw = 0 THEN 0 ELSE (wm * rr) // uw END AS base,
         |        CASE WHEN sat OR uw = 0 THEN -1 ELSE (wm * rr) % uw END AS rem
         |      FROM u),
         |c AS (SELECT *, rr - SUM(base) OVER () AS leftover,
         |        ROW_NUMBER() OVER (ORDER BY rem DESC, source ASC) AS rk
         |      FROM b),
         |q AS (SELECT source,
         |        CAST(CASE WHEN sat THEN n ELSE least(
         |          base + CASE WHEN rk <= leftover THEN 1 ELSE 0 END, n) END
         |          AS BIGINT) AS quota FROM c),
         |r AS (SELECT corpus.*,
         |        ROW_NUMBER() OVER (PARTITION BY source
         |          ORDER BY ${sqlHash32(7, "CAST(doc_id AS VARCHAR)")} % 1000000
         |            ASC, doc_id ASC) AS rr
         |      FROM corpus)
         |SELECT doc_id, source, lang
         |FROM r JOIN q USING (source) WHERE rr <= quota""".stripMargin,

    "q81_rolling_features" ->
      """SELECT user_id, ts, event_id, value,
        |  COUNT(value) OVER f AS frame_n,
        |  CAST(SUM(CAST(ROUND(value, 6) AS DECIMAL(38,6))) OVER f
        |    AS DOUBLE) AS frame_sum,
        |  CAST(SUM(CAST(ROUND(value, 6) AS DECIMAL(38,6))) OVER f AS DOUBLE)
        |    / COUNT(value) OVER f AS frame_avg,
        |  LEAD(value, 1) OVER (PARTITION BY user_id ORDER BY ts, event_id)
        |    AS next_value
        |FROM events
        |WINDOW f AS (PARTITION BY user_id ORDER BY ts, event_id
        |             ROWS BETWEEN 5 PRECEDING AND CURRENT ROW)""".stripMargin,

    "q84_lsh_linkage" ->
      s"""WITH $sqlMinhashBandCtes,
         |lcand AS (
         |  SELECT DISTINCT l.doc_id AS left_id, r.doc_id AS right_id,
         |         l.sh AS sha, r.sh AS shb
         |  FROM banded l JOIN banded r
         |    ON l.band_idx = r.band_idx AND l.bucket = r.bucket
         |   AND r.doc_id % 5 = 0 AND l.doc_id <> r.doc_id)
         |SELECT left_id, right_id, jaccard FROM (
         |  SELECT left_id, right_id,
         |    CAST(len(list_intersect(list_distinct(sha), list_distinct(shb)))
         |      AS DOUBLE)
         |    / CAST(len(list_distinct(list_concat(list_distinct(sha),
         |        list_distinct(shb)))) AS DOUBLE) AS jaccard
         |  FROM lcand)
         |WHERE jaccard >= 0.2""".stripMargin,

    // the streamed state table must equal the one-shot aggregate over
    // all events — merge exactness + replay protection in one check
    "q86_streaming_agg_state" ->
      s"""SELECT user_id, event_type, COUNT(value) AS cnt,
         |  ${sqlSum("value")} AS val_sum,
         |  ${sqlAvg("value")} AS val_avg
         |FROM events GROUP BY user_id, event_type""".stripMargin,

    // the codec roundtrips must be identities, so the oracle is the
    // plain pre-encode SQL (epoch seconds fit 40 bits until year 36812)
    // wire_hex derived independently (to_hex over epoch seconds): pins
    // the 5-byte big-endian layout, so an encoding-width drift reads
    // RED even though decode(encode(x)) would still roundtrip
    // flags_hex: the packed bytes recomputed independently as
    // Σ bit_i·2^i (LSB-first within each byte, byte0 = bits 0..7,
    // byte1 = bits 8..9) — pins the pack LAYOUT, not just the
    // unpack∘pack identity
    "q88_wire_roundtrip" ->
      """WITH b AS (SELECT event_id, ts,
        |  list_transform(
        |    [value > 50.0, value < 10.0, user_id % 2 = 0, user_id % 3 = 0,
        |     event_type = 'click', event_type = 'view', value >= 25.0,
        |     user_id % 5 = 0, value >= 75.0, event_type <> 'purchase'],
        |    f -> CAST(COALESCE(f, false) AS INT)) AS bits
        |  FROM events)
        |SELECT event_id, epoch_ms(ts) // 1000 AS expiry_s,
        |  upper(lpad(to_hex(epoch_ms(ts) // 1000), 10, '0')) AS wire_hex,
        |  array_to_string(list_transform(bits,
        |    f -> CAST(f AS VARCHAR)), '') AS flag_bits,
        |  upper(lpad(to_hex(bits[1] + bits[2]*2 + bits[3]*4 + bits[4]*8 +
        |      bits[5]*16 + bits[6]*32 + bits[7]*64 + bits[8]*128), 2, '0')
        |    || lpad(to_hex(bits[9] + bits[10]*2), 2, '0')) AS flags_hex
        |FROM b""".stripMargin,

    // probe wire_hex pin: CPython-derived proto3 bytes for
    // (entity='embedding', key='9000000001|99', version=9000000001,
    // values=[1.5f,-2.0f]) — 0A/12 len-delim strings, 18 varint
    // 81B4C4C321, 22 08 + LE floats 0000C03F/000000C0. An independent
    // derivation: the engine's encoder must match it byte for byte
    "q89_proto_roundtrip" ->
      """SELECT vec_id, 'embedding' AS entity,
        |  concat_ws('|', CAST(vec_id AS VARCHAR), CAST(label AS VARCHAR))
        |    AS pkey,
        |  vec_id AS version,
        |  CAST(generate_subscripts(embedding, 1) - 1 AS INT) AS idx,
        |  CAST(unnest(embedding) AS DOUBLE) AS val,
        |  '' AS wire_hex
        |FROM embeddings
        |UNION ALL
        |SELECT vec_id, 'embedding', '9000000001|99', vec_id, idx, val,
        |  '0A09656D62656464696E67120D393030303030303030317C3939' ||
        |  '1881B4C4C32122080000C03F000000C0'
        |FROM (VALUES (CAST(9000000001 AS BIGINT), CAST(0 AS INT), 1.5E0),
        |             (CAST(9000000001 AS BIGINT), CAST(1 AS INT), -2.0E0))
        |  AS probe(vec_id, idx, val)""".stripMargin,

    // the fallback rule as CASE over the row's written version:
    // c_acctbal exists since v2, c_mktsegment since v3 (active = 3)
    "q85_schema_version_read" ->
      """SELECT c_custkey,
        |  COALESCE(c_name, 'N/A') AS c_name,
        |  CASE WHEN (c_custkey % 3 + 1) >= 2
        |       THEN COALESCE(c_acctbal, 0.0) ELSE 0.0 END AS c_acctbal,
        |  CASE WHEN (c_custkey % 3 + 1) >= 3
        |       THEN COALESCE(c_mktsegment, 'NONE') ELSE 'NONE' END
        |    AS c_mktsegment
        |FROM customer""".stripMargin,

    "q90_stream_interval_join" ->
      """SELECT l.user_id, l.event_id AS click_id, r.event_id AS purchase_id
        |FROM events l JOIN events r
        |  ON l.user_id = r.user_id
        | AND l.event_type = 'click' AND r.event_type = 'purchase'
        | AND r.ts >= l.ts AND r.ts <= l.ts + INTERVAL 3 DAY""".stripMargin,

    // the routing invariant IS the oracle: one partition per key
    "q91_route_by_key" ->
      """SELECT user_id, CAST(1 AS BIGINT) AS n_parts,
        |  COUNT(*) AS n_rows
        |FROM events GROUP BY user_id""".stripMargin,

    "q92_stream_dedup" ->
      "SELECT DISTINCT user_id, event_type FROM events",

    "q93_reset_vs_delta" ->
      """WITH base AS (
        |  SELECT user_id, event_id, event_type, value FROM events),
        |deltas AS (
        |  SELECT user_id, event_id, event_type, value * 2 AS value,
        |    CASE WHEN event_id % 21 = 0 THEN 'DELETE' ELSE 'UPSERT' END AS op
        |  FROM base WHERE event_id % 7 = 0),
        |after_delta AS (
        |  SELECT * FROM base b WHERE NOT EXISTS
        |    (SELECT 1 FROM deltas d
        |     WHERE d.user_id = b.user_id AND d.event_id = b.event_id)
        |  UNION ALL
        |  SELECT user_id, event_id, event_type, value FROM deltas
        |  WHERE op = 'UPSERT'),
        |repl AS (
        |  SELECT user_id, event_id, event_type, 0.0 AS value FROM base
        |  WHERE user_id % 10 = 3 AND event_type = 'click')
        |SELECT * FROM after_delta
        |WHERE user_id NOT IN (SELECT user_id FROM repl)
        |UNION ALL SELECT * FROM repl""".stripMargin,

    "q94_dead_letter" ->
      """SELECT event_id, user_id, event_type, value,
        |  (SELECT COUNT(*) FROM events WHERE value < 10) AS n_dlq
        |FROM events WHERE NOT (value < 10)""".stripMargin,

    // lag-gap sessionization with Spark's strict-overlap merge rule
    // (same session iff ts < prev + gap); session_end = last ts + gap
    "q95_stream_sessions" ->
      """WITH x AS (
        |  SELECT user_id, ts,
        |    lag(ts) OVER (PARTITION BY user_id ORDER BY ts) AS prev
        |  FROM events),
        |s AS (
        |  SELECT user_id, ts,
        |    SUM(CASE WHEN prev IS NULL OR ts >= prev + INTERVAL 3 DAY
        |             THEN 1 ELSE 0 END)
        |      OVER (PARTITION BY user_id ORDER BY ts
        |            ROWS UNBOUNDED PRECEDING) AS sid
        |  FROM x)
        |SELECT user_id, MIN(ts) AS session_start,
        |  MAX(ts) + INTERVAL 3 DAY AS session_end,
        |  CAST(COUNT(*) AS BIGINT) AS n_events
        |FROM s GROUP BY user_id, sid""".stripMargin,

    // the sketch pass is exact above its guarantee threshold, so the
    // oracle is the plain HAVING-share query
    "q96_heavy_hitters" ->
      s"""WITH tok AS (SELECT unnest($sqlWords) AS token FROM documents),
         |t AS (SELECT token FROM tok WHERE token <> ''),
         |n AS (SELECT COUNT(*) AS total FROM t),
         |c AS (SELECT token, COUNT(*) AS cnt FROM t GROUP BY token)
         |SELECT c.token, c.cnt, n.total FROM c, n
         |WHERE c.cnt > 0.034 * n.total""".stripMargin,

    // q38's IVF oracle with centroids seeded from the BASE corpus only
    // (the build set); assignment and scoring run over the full corpus
    // because the delta appends into the same cells
    "q97_ivf_append" ->
      s"""WITH base AS (SELECT * FROM embeddings WHERE vec_id % 5 <> 4),
         |p AS (SELECT greatest(count(*) // 8, 1) AS stride FROM base),
         |cent AS (SELECT e.vec_id // p.stride AS cell_id,
         |                CAST(e.embedding AS DOUBLE[]) AS centroid
         |         FROM base e, p
         |         WHERE e.vec_id % p.stride = 0 AND e.vec_id < p.stride * 8),
         |asg AS (SELECT vec_id, cell_id FROM (
         |  SELECT e.vec_id, c.cell_id,
         |    ROW_NUMBER() OVER (PARTITION BY e.vec_id
         |      ORDER BY ${sqlEuclidOf("CAST(e.embedding AS DOUBLE[])", "c.centroid")} ASC,
         |               c.cell_id ASC) AS rn
         |  FROM embeddings e, cent c) WHERE rn = 1),
         |q AS (SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qe
         |      FROM embeddings WHERE vec_id < 5),
         |qc AS (SELECT query_id, cell_id FROM (
         |  SELECT q.query_id, c.cell_id,
         |    ROW_NUMBER() OVER (PARTITION BY q.query_id
         |      ORDER BY ${sqlEuclidOf("q.qe", "c.centroid")} ASC, c.cell_id ASC) AS rn
         |  FROM q, cent c) WHERE rn <= 2),
         |scored AS (
         |  SELECT qc.query_id, a.vec_id,
         |    ${sqlCosOf("CAST(e.embedding AS DOUBLE[])", "q2.qe")} AS score
         |  FROM asg a JOIN qc ON a.cell_id = qc.cell_id
         |  JOIN embeddings e ON a.vec_id = e.vec_id
         |  JOIN q q2 ON qc.query_id = q2.query_id)
         |SELECT query_id, vec_id, score, rank FROM (
         |  SELECT *, CAST(ROW_NUMBER() OVER (PARTITION BY query_id
         |    ORDER BY score DESC, vec_id ASC) AS INT) AS rank FROM scored)
         |WHERE rank <= 10""".stripMargin,

    // same micro-unit staging as q75: integer sums are exact in both
    // engines, and the single final division is bit-identical double math
    "q98_mean_pool" ->
      """WITH e AS (SELECT label, list_transform(embedding,
        |    x -> CAST(floor(CAST(x AS DOUBLE) * 1000000) AS BIGINT)) AS v
        |  FROM embeddings),
        |u AS (SELECT label, generate_subscripts(v, 1) AS p, unnest(v) AS x
        |      FROM e),
        |a AS (SELECT label, p, CAST(SUM(x) AS BIGINT) AS s,
        |             CAST(COUNT(x) AS BIGINT) AS c
        |      FROM u GROUP BY label, p)
        |SELECT label, CAST(p - 1 AS INT) AS idx,
        |  CAST(s AS DOUBLE) / (CAST(c AS DOUBLE) * 1000000.0) AS mean_val
        |FROM a""".stripMargin,

    // token windows hashed exactly as the Spark side (15-hex-char md5
    // prefix = 60-bit), duplicates corpus-wide, gaps-and-islands merge
    "q99_duplicate_spans" ->
      s"""WITH $sqlDupSpanZCtes
         |SELECT doc_id, CAST(MIN(pos) AS INT) AS span_start,
         |  CAST(MAX(pos) + 4 AS INT) AS span_end, COUNT(*) AS n_windows
         |FROM z GROUP BY doc_id, isl""".stripMargin,

    // centroid = q98's exact micro-unit mean; cosine is the same
    // ascending-index double fold both engines use everywhere else
    "q100_centroid_outliers" ->
      s"""WITH e AS (SELECT label, list_transform(embedding,
         |    x -> CAST(floor(CAST(x AS DOUBLE) * 1000000) AS BIGINT)) AS v
         |  FROM embeddings),
         |u AS (SELECT label, generate_subscripts(v, 1) AS p, unnest(v) AS x
         |      FROM e),
         |a AS (SELECT label, p, CAST(SUM(x) AS BIGINT) AS s,
         |             CAST(COUNT(x) AS BIGINT) AS c
         |      FROM u GROUP BY label, p),
         |cent AS (SELECT label,
         |    array_agg(CAST(s AS DOUBLE) / (CAST(c AS DOUBLE) * 1000000.0)
         |              ORDER BY p) AS ce
         |  FROM a GROUP BY label),
         |scored AS (SELECT em.vec_id, em.label,
         |    ${sqlCosOf("CAST(em.embedding AS DOUBLE[])", "c.ce")} AS cos_centroid
         |  FROM embeddings em JOIN cent c ON em.label = c.label)
         |SELECT vec_id, label, cos_centroid, rank FROM (
         |  SELECT *, CAST(ROW_NUMBER() OVER (PARTITION BY label
         |    ORDER BY cos_centroid ASC, vec_id ASC) AS INT) AS rank
         |  FROM scored)
         |WHERE rank <= 20""".stripMargin,

    // same salting expression; patterns are in the Java-regex ∩ RE2
    // common subset so they apply verbatim ('g' = replace-all, Spark's
    // default)
    "q101_pii_mask" -> {
      val email = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
      val ipv4 = "\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b"
      val phone = "\\b\\d{10}\\b"
      s"""WITH t AS (SELECT doc_id,
         |    text || ' contact user' || CAST(doc_id AS VARCHAR)
         |      || '@example.com or 10.0.' || CAST(doc_id % 256 AS VARCHAR)
         |      || '.' || CAST(doc_id % 40 AS VARCHAR)
         |      || ' phone ' || CAST(1000000000 + doc_id * 7 AS VARCHAR) AS tt
         |  FROM documents)
         |SELECT doc_id,
         |  CAST(len(regexp_extract_all(tt, '$email')) AS INT) AS n_emails,
         |  CAST(len(regexp_extract_all(tt, '$ipv4')) AS INT) AS n_ipv4,
         |  CAST(len(regexp_extract_all(tt, '$phone')) AS INT) AS n_phones,
         |  regexp_replace(regexp_replace(regexp_replace(tt,
         |    '$email', '<EMAIL>', 'g'), '$ipv4', '<IP>', 'g'),
         |    '$phone', '<PHONE>', 'g') AS masked
         |FROM t""".stripMargin
    },

    // 8-token blocks, 60-bit hash, keep-first by (doc_id, pos)
    "q102_para_dedup" ->
      s"""WITH t AS (SELECT doc_id, $sqlWords AS w FROM documents),
         |p0 AS (SELECT doc_id, list_transform(
         |         generate_series(1, greatest(len(w), 1), 8),
         |         i -> array_to_string(list_slice(w, i, i + 7), ' ')) AS ps
         |       FROM t),
         |p AS (SELECT doc_id, len(ps) AS n_paras,
         |        generate_subscripts(ps, 1) - 1 AS pos, unnest(ps) AS para
         |      FROM p0),
         |h AS (SELECT *, CAST(('0x'||substr(md5(para), 1, 15)) AS BIGINT)
         |        AS hh FROM p),
         |k AS (SELECT * FROM (SELECT *, ROW_NUMBER() OVER (
         |        PARTITION BY hh ORDER BY doc_id, pos) AS rn FROM h)
         |      WHERE rn = 1)
         |SELECT doc_id, CAST(n_paras AS INT) AS n_paras,
         |  string_agg(para, ' ' ORDER BY pos) AS text_dedup,
         |  COUNT(*) AS n_kept,
         |  CAST(n_paras - COUNT(*) AS BIGINT) AS n_dropped
         |FROM k GROUP BY doc_id, n_paras""".stripMargin,

    // order key = (md5_32(doc_id) mod 2^31)·2^32 + doc_id, exactly as
    // Training.shard builds it
    // composite (hash, id) ORDER BY — the same unpacked pair
    // Training.shard sorts by (the packed hash*2^32+id form overflows
    // for id >= 2^32, which is exactly why shard abandoned it)
    "q103_shard_assign" ->
      """WITH t AS (SELECT doc_id,
        |    CAST(('0x'||substr(md5('0:'||CAST(doc_id AS VARCHAR)), 1, 8))
        |      AS BIGINT) % 2147483648 AS h
        |  FROM documents),
        |r AS (SELECT doc_id,
        |        ROW_NUMBER() OVER (ORDER BY h, doc_id) - 1 AS rn FROM t)
        |SELECT doc_id, CAST(rn // 64 AS INT) AS shard_id,
        |  CAST(rn % 64 AS INT) AS shard_offset FROM r""".stripMargin,

    "q104_covisitation" ->
      """WITH ui AS (
        |  SELECT user_id, CAST(json_extract(props, '$.k') AS BIGINT) AS item_id,
        |    MAX(ts) AS last_ts
        |  FROM events
        |  WHERE json_extract(props, '$.k') IS NOT NULL
        |  GROUP BY 1, 2),
        |capped AS (SELECT user_id, item_id FROM (
        |    SELECT *, ROW_NUMBER() OVER (PARTITION BY user_id
        |      ORDER BY last_ts DESC, item_id ASC) AS rn FROM ui)
        |  WHERE rn <= 30)
        |SELECT a.item_id AS item_a, b.item_id AS item_b,
        |  COUNT(*) AS n_users
        |FROM capped a JOIN capped b
        |  ON a.user_id = b.user_id AND a.item_id < b.item_id
        |GROUP BY 1, 2 HAVING COUNT(*) >= 2""".stripMargin,

    // draws = md5(seed:user:slot) mod 100, exactly as the Spark side
    "q105_negative_sample" ->
      """WITH pos AS (SELECT DISTINCT user_id,
        |    CAST(json_extract(props, '$.k') AS BIGINT) AS item_id
        |  FROM events WHERE event_type = 'click'
        |    AND json_extract(props, '$.k') IS NOT NULL),
        |u AS (SELECT DISTINCT user_id FROM pos),
        |d0 AS (SELECT user_id, list_transform(generate_series(0, 31),
        |         i -> CAST(('0x'||substr(md5('7:'||CAST(user_id AS VARCHAR)
        |           ||':'||CAST(i AS VARCHAR)), 1, 8)) AS BIGINT) % 100) AS ds
        |       FROM u),
        |d AS (SELECT user_id, generate_subscripts(ds, 1) - 1 AS slot,
        |        unnest(ds) AS item_id FROM d0),
        |neg AS (SELECT d.user_id, d.item_id, MIN(d.slot) AS slot
        |  FROM d LEFT JOIN pos p
        |    ON d.user_id = p.user_id AND d.item_id = p.item_id
        |  WHERE p.user_id IS NULL
        |  GROUP BY d.user_id, d.item_id)
        |SELECT user_id, item_id, rank FROM (
        |  SELECT user_id, item_id, CAST(ROW_NUMBER() OVER (
        |    PARTITION BY user_id ORDER BY slot ASC) AS INT) AS rank
        |  FROM neg)
        |WHERE rank <= 4""".stripMargin,

    // identical double expression tree over exact micro-unit longs
    "q106_target_encode" ->
      """WITH m AS (SELECT event_id, event_type,
        |    CAST(floor(value * 1000000) AS BIGINT) AS xm FROM events),
        |cs AS (SELECT event_type, CAST(SUM(xm) AS BIGINT) AS s,
        |         COUNT(*) AS c FROM m GROUP BY event_type),
        |g AS (SELECT CAST(SUM(xm) AS BIGINT) AS gs, COUNT(*) AS gc FROM m)
        |SELECT m.event_id, m.event_type,
        |  (CAST(cs.s - m.xm AS DOUBLE)
        |     + 10.0 * (CAST(g.gs AS DOUBLE) / CAST(g.gc AS DOUBLE)))
        |    / (CAST(cs.c - 1 AS DOUBLE) + 10.0) / 1000000.0 AS te
        |FROM m JOIN cs USING (event_type) CROSS JOIN g""".stripMargin,

    // hyperbolic decay: floor(micro / (1 + age_days)) is exact binary64
    // in both engines; the per-user sum is an exact long
    // recency_micro: encoder.py's half-life weight exp(-λ·Δh) at the
    // user's latest event; λ is the PINNED double (OraclePins —
    // planting a live timeDecayLambda call here would make a
    // decay-formula mutation invisible, the q281 tautology), Δhours
    // from exact epoch-ms longs, and the weight micro-rounds before
    // compare so libm exp's last ulp can't flip the hash
    "q107_decayed_engagement" -> {
      val lam = OraclePins.q107Lambda24
      s"""WITH a AS (SELECT MAX(CAST(ts AS DATE)) AS anchor,
         |    MAX(ts) AS anchor_ts FROM events),
         |c AS (SELECT user_id,
         |    CAST(floor(CAST(CAST(floor(value * 1000000) AS BIGINT) AS DOUBLE)
         |      / CAST(1 + date_diff('day', CAST(ts AS DATE), a.anchor)
         |             AS DOUBLE)) AS BIGINT) AS cm,
         |    CAST(round(exp(-$lam * greatest(
         |        CAST(epoch_ms(a.anchor_ts) - epoch_ms(ts) AS DOUBLE)
         |          / 3600000.0E0, 0.0E0)) * 1000000.0E0) AS BIGINT) AS dm
         |  FROM events CROSS JOIN a)
         |SELECT user_id, CAST(SUM(cm) AS DOUBLE) / 1000000.0 AS decayed,
         |  COUNT(*) AS n_events, MAX(dm) AS recency_micro
         |FROM c GROUP BY user_id""".stripMargin
    },

    // DuckDB's empty list() frame is NULL where Spark's collect_list
    // is []; both sides drop context-less first events, so the
    // surviving rows agree
    "q108_next_item" ->
      """WITH e AS (SELECT event_id, user_id, ts,
        |    CAST(json_extract(props, '$.k') AS BIGINT) AS item
        |  FROM events WHERE json_extract(props, '$.k') IS NOT NULL),
        |w AS (SELECT user_id, event_id, item AS label,
        |    list(item) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |      ROWS BETWEEN 5 PRECEDING AND 1 PRECEDING) AS context
        |  FROM e)
        |SELECT user_id, event_id,
        |  array_to_string(context, ',') AS context_ids, label FROM w
        |WHERE context IS NOT NULL AND len(context) >= 1""".stripMargin,

    // same 32-bit md5 over the chr(1)-joined string forms
    "q109_hashed_cross" ->
      """SELECT CAST(('0x'||substr(md5('0:'||CAST(user_id AS VARCHAR)
        |    ||chr(1)||event_type), 1, 8)) AS BIGINT) % 256 AS bucket,
        |  COUNT(*) AS n
        |FROM events GROUP BY 1""".stripMargin,

    // PERCENT_RANK ties collapse to one value per distinct score in
    // both engines; the bin floor/clamp is the identical double expr
    "q110_calibration_bins" ->
      """WITH s AS (SELECT value,
        |    CAST(event_type = 'click' AS BIGINT) AS y,
        |    PERCENT_RANK() OVER (ORDER BY value) AS pr
        |  FROM events),
        |b AS (SELECT value, y,
        |    CAST(least(floor(pr * 10), 9) AS INT) AS bin FROM s)
        |SELECT bin, COUNT(*) AS n, MIN(value) AS score_min,
        |  MAX(value) AS score_max,
        |  CAST(SUM(y) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS pos_rate
        |FROM b GROUP BY bin""".stripMargin,

    // q104's co-visitation CTE -> undirected adjacency -> three argmin-
    // hash steps, exactly the Spark iteration
    "q113_random_walks" -> {
      // single-line body: nesting stripMargin templates would strip
      // the inner margins twice
      def step(t: Int, prev: String, prevCols: String, curCol: String) =
        s"s$t AS (SELECT start, $prevCols nbr AS $curCol FROM (" +
          s"SELECT $prev.*, adj.nbr, ROW_NUMBER() OVER (" +
          s"PARTITION BY $prev.start ORDER BY " +
          s"CAST(('0x'||substr(md5('11:'||CAST($prev.start AS VARCHAR)" +
          s"||':$t:'||CAST(adj.nbr AS VARCHAR)), 1, 8)) AS BIGINT), " +
          s"adj.nbr) AS rn FROM $prev JOIN adj ON " +
          s"$prev.${if (t == 1) "start" else s"c${t - 1}"} = adj.node) " +
          "WHERE rn = 1)"
      s"""WITH ui AS (SELECT user_id,
         |    CAST(json_extract(props, '$$.k') AS BIGINT) AS item_id,
         |    MAX(ts) AS last_ts
         |  FROM events WHERE json_extract(props, '$$.k') IS NOT NULL
         |  GROUP BY 1, 2),
         |capped AS (SELECT user_id, item_id FROM (
         |    SELECT *, ROW_NUMBER() OVER (PARTITION BY user_id
         |      ORDER BY last_ts DESC, item_id ASC) AS rn FROM ui)
         |  WHERE rn <= 30),
         |cov AS (SELECT a.item_id AS item_a, b.item_id AS item_b
         |  FROM capped a JOIN capped b
         |    ON a.user_id = b.user_id AND a.item_id < b.item_id
         |  GROUP BY 1, 2 HAVING COUNT(*) >= 2),
         |adj AS (SELECT item_a AS node, item_b AS nbr FROM cov
         |        UNION SELECT item_b, item_a FROM cov),
         |s0 AS (SELECT DISTINCT node AS start FROM adj),
         |${step(1, "s0", "", "c1")},
         |${step(2, "s1", "c1,", "c2")},
         |${step(3, "s2", "c1, c2,", "c3")}
         |SELECT start, array_to_string([start, c1, c2, c3], ',')
         |  AS path_csv FROM s3""".stripMargin
    },

    // Mann-Whitney U with tie-averaged ranks in exact 2x-unit integers
    "q115_group_auc" ->
      """WITH s AS (SELECT event_type, value,
        |    CAST(user_id % 5 = 0 AS BIGINT) AS y,
        |    RANK() OVER (PARTITION BY event_type ORDER BY value ASC) AS r,
        |    COUNT(*) OVER (PARTITION BY event_type, value) AS eq
        |  FROM events),
        |a AS (SELECT event_type, CAST(SUM(y) AS BIGINT) AS n_pos,
        |    CAST(SUM(1 - y) AS BIGINT) AS n_neg,
        |    CAST(SUM(y * (2 * (r - 1) + eq + 1)) AS BIGINT) AS s2
        |  FROM s GROUP BY event_type)
        |SELECT event_type, n_pos, n_neg,
        |  CASE WHEN n_pos = 0 OR n_neg = 0 THEN NULL
        |    ELSE CAST(s2 - n_pos * (n_pos + 1) AS DOUBLE)
        |      / (2.0 * CAST(n_pos * n_neg AS DOUBLE)) END AS auc
        |FROM a""".stripMargin,

    "q116_precision_at_k" ->
      """WITH s AS (SELECT event_type, event_id, value,
        |    CAST(user_id % 5 = 0 AS BIGINT) AS y,
        |    ROW_NUMBER() OVER (PARTITION BY event_type
        |      ORDER BY value DESC, event_id ASC) AS rn
        |  FROM events)
        |SELECT event_type, COUNT(*) AS n_at_k,
        |  CAST(SUM(y) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS precision
        |FROM s WHERE rn <= 20 GROUP BY event_type""".stripMargin,

    // PINNED micro-unit discount literals (OraclePins): the engine's
    // ndcgAtK derives them live from 1/log2(r+1), so a discount-formula
    // mutation drifts the engine off this pin and reads RED (planting a
    // live dcgDiscountsMicro call here was the q281 tautology shape)
    "q117_ndcg" -> {
      val disc = OraclePins.q117DiscountsMicro
        .mkString("[", ", ", "]")
      s"""WITH s AS (SELECT event_type,
         |    CAST(user_id % 3 AS BIGINT) AS rel,
         |    ROW_NUMBER() OVER (PARTITION BY event_type
         |      ORDER BY value DESC, event_id ASC) AS r,
         |    ROW_NUMBER() OVER (PARTITION BY event_type
         |      ORDER BY CAST(user_id % 3 AS BIGINT) DESC, event_id ASC)
         |      AS ri
         |  FROM events),
         |a AS (SELECT event_type,
         |    CAST(SUM(CASE WHEN r <= 20 THEN rel * ($disc)[r]
         |      ELSE 0 END) AS BIGINT) AS dcg,
         |    CAST(SUM(CASE WHEN ri <= 20 THEN rel * ($disc)[ri]
         |      ELSE 0 END) AS BIGINT) AS idcg
         |  FROM s GROUP BY event_type)
         |SELECT event_type, CASE WHEN idcg = 0 THEN NULL
         |  ELSE CAST(dcg AS DOUBLE) / CAST(idcg AS DOUBLE) END AS ndcg
         |FROM a""".stripMargin
    },

    "q118_reciprocal_rank" ->
      """WITH s AS (SELECT event_type,
        |    CAST(user_id % 5 = 0 AS BIGINT) AS y,
        |    ROW_NUMBER() OVER (PARTITION BY event_type
        |      ORDER BY value DESC, event_id ASC) AS r
        |  FROM events)
        |SELECT event_type,
        |  CAST(MIN(CASE WHEN y = 1 THEN r END) AS INT) AS first_pos_rank,
        |  COALESCE(1.0 / CAST(MIN(CASE WHEN y = 1 THEN r END) AS DOUBLE),
        |    0.0) AS rr
        |FROM s GROUP BY event_type""".stripMargin,

    // identical fixed double expression tree over exact integer counts
    "q119_chi_square" ->
      """WITH c AS (SELECT event_type, CAST(user_id % 4 AS BIGINT) AS ub,
        |    COUNT(*) AS o FROM events GROUP BY 1, 2),
        |ra AS (SELECT event_type, CAST(SUM(o) AS BIGINT) AS ta
        |       FROM c GROUP BY 1),
        |rb AS (SELECT ub, CAST(SUM(o) AS BIGINT) AS tb FROM c GROUP BY 1),
        |n AS (SELECT CAST(SUM(o) AS BIGINT) AS nn FROM c)
        |SELECT c.event_type, c.ub, c.o,
        |  CAST(ra.ta * rb.tb AS DOUBLE) / CAST(n.nn AS DOUBLE) AS expected,
        |  (CAST(c.o AS DOUBLE)
        |     - CAST(ra.ta * rb.tb AS DOUBLE) / CAST(n.nn AS DOUBLE))
        |  * (CAST(c.o AS DOUBLE)
        |     - CAST(ra.ta * rb.tb AS DOUBLE) / CAST(n.nn AS DOUBLE))
        |  / (CAST(ra.ta * rb.tb AS DOUBLE) / CAST(n.nn AS DOUBLE))
        |    AS contrib
        |FROM c JOIN ra USING (event_type) JOIN rb USING (ub)
        |CROSS JOIN n""".stripMargin,

    "q120_exposure_gini" ->
      """WITH c AS (SELECT CAST(json_extract(props, '$.k') AS BIGINT)
        |    AS item_id, COUNT(*) AS cnt
        |  FROM events WHERE json_extract(props, '$.k') IS NOT NULL
        |  GROUP BY 1),
        |r AS (SELECT cnt, ROW_NUMBER() OVER (
        |        ORDER BY cnt ASC, item_id ASC) AS rk FROM c)
        |SELECT COUNT(*) AS n_items, CAST(SUM(cnt) AS BIGINT) AS total,
        |  CAST(2 * SUM(rk * cnt) - (COUNT(*) + 1) * SUM(cnt) AS DOUBLE)
        |    / CAST(COUNT(*) * SUM(cnt) AS DOUBLE) AS gini
        |FROM r""".stripMargin,

    // conf rides exact micro-unit sums; the double expression trees
    // for conf/pos_rate/gap mirror the Spark side
    "q121_reliability_bins" ->
      """WITH s0 AS (SELECT value / 20.0 AS score,
        |    CAST(user_id % 5 = 0 AS BIGINT) AS y FROM events),
        |s AS (SELECT score,
        |    CAST(floor(score * 1000000) AS BIGINT) AS sm, y,
        |    PERCENT_RANK() OVER (ORDER BY score) AS pr FROM s0),
        |b AS (SELECT sm, y,
        |    CAST(least(floor(pr * 10), 9) AS INT) AS bin FROM s)
        |SELECT bin, COUNT(*) AS n,
        |  CAST(SUM(sm) AS DOUBLE) / (CAST(COUNT(*) AS DOUBLE) * 1000000.0)
        |    AS conf,
        |  CAST(SUM(y) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS pos_rate,
        |  abs(CAST(SUM(y) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE)
        |    - CAST(SUM(sm) AS DOUBLE)
        |      / (CAST(COUNT(*) AS DOUBLE) * 1000000.0)) AS gap
        |FROM b GROUP BY bin""".stripMargin,

    // division + sqrt only (both correctly-rounded IEEE ops)
    "q122_ab_test" ->
      """WITH s AS (SELECT CAST(date_trunc('week', ts) AS DATE) AS week,
        |    user_id % 2 AS v,
        |    CAST(event_type = 'click' AS BIGINT) AS y FROM events),
        |a AS (SELECT week,
        |    CAST(SUM(CASE WHEN v = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
        |    CAST(SUM(CASE WHEN v = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_b,
        |    CAST(SUM(CASE WHEN v = 0 THEN y ELSE 0 END) AS BIGINT) AS pos_a,
        |    CAST(SUM(CASE WHEN v = 1 THEN y ELSE 0 END) AS BIGINT) AS pos_b
        |  FROM s GROUP BY week)
        |SELECT week, n_a, n_b, pos_a, pos_b,
        |  CAST(pos_a AS DOUBLE) / CAST(n_a AS DOUBLE) AS p_a,
        |  CAST(pos_b AS DOUBLE) / CAST(n_b AS DOUBLE) AS p_b,
        |  CASE WHEN n_a = 0 OR n_b = 0 THEN NULL ELSE
        |    (CAST(pos_a AS DOUBLE) / CAST(n_a AS DOUBLE)
        |     - CAST(pos_b AS DOUBLE) / CAST(n_b AS DOUBLE))
        |    / sqrt((CAST(pos_a + pos_b AS DOUBLE)
        |            / CAST(n_a + n_b AS DOUBLE))
        |      * (1.0 - CAST(pos_a + pos_b AS DOUBLE)
        |            / CAST(n_a + n_b AS DOUBLE))
        |      * (1.0 / CAST(n_a AS DOUBLE) + 1.0 / CAST(n_b AS DOUBLE)))
        |  END AS z
        |FROM a""".stripMargin,

    "q123_cohort_retention" ->
      """WITH uw AS (SELECT DISTINCT user_id,
        |    CAST(date_trunc('week', ts) AS DATE) AS week FROM events),
        |c AS (SELECT user_id, MIN(week) AS cohort FROM uw GROUP BY 1)
        |SELECT c.cohort,
        |  CAST(date_diff('day', c.cohort, uw.week) // 7 AS INT)
        |    AS week_offset,
        |  COUNT(DISTINCT uw.user_id) AS n_users
        |FROM uw JOIN c USING (user_id)
        |GROUP BY 1, 2""".stripMargin,

    "q124_data_quality" ->
      """WITH a AS (SELECT COUNT(*) AS n,
        |  CAST(SUM(CASE WHEN value IS NULL THEN 1 ELSE 0 END) AS BIGINT)
        |    AS v1,
        |  CAST(SUM(CASE WHEN value < 0 OR value > 1000 THEN 1 ELSE 0 END)
        |    AS BIGINT) AS v2,
        |  CAST(SUM(CASE WHEN event_type NOT IN
        |    ('click', 'view', 'purchase', 'error') THEN 1 ELSE 0 END)
        |    AS BIGINT) AS v3,
        |  CAST(SUM(CASE WHEN json_extract(props, '$.k') IS NULL
        |    THEN 1 ELSE 0 END) AS BIGINT) AS v4,
        |  CAST(SUM(CASE WHEN user_id IS NULL THEN 1 ELSE 0 END) AS BIGINT)
        |    AS v5,
        |  CAST(SUM(CASE WHEN ts < TIMESTAMP '2020-01-01' THEN 1 ELSE 0 END)
        |    AS BIGINT) AS v6
        |  FROM events)
        |SELECT r.rule, r.violations, a.n AS n_rows,
        |  CAST(r.violations AS DOUBLE) / CAST(a.n AS DOUBLE) AS rate
        |FROM a, LATERAL (VALUES
        |  ('value_null', v1), ('value_out_of_range', v2),
        |  ('event_type_unknown', v3), ('props_k_missing', v4),
        |  ('user_id_null', v5), ('ts_before_2020', v6))
        |  AS r(rule, violations)""".stripMargin,

    // moments on the xsum decimal carrier; mean/var/z mirror the
    // Spark expression tree (division, multiply, subtract, IEEE sqrt)
    "q125_zscore" ->
      s"""WITH a AS (SELECT ${sqlSum("value")} AS sx,
         |    ${sqlSum("value * value")} AS sxx,
         |    COUNT(value) AS cnt FROM events)
         |SELECT event_id, value,
         |  (value - sx / cnt) / sqrt(sxx / cnt - (sx / cnt) * (sx / cnt))
         |    AS z
         |FROM events CROSS JOIN a""".stripMargin,

    // the salt is physical-plan-only: the oracle is the DIRECT groupBy
    "q126_skew_salted_agg" ->
      s"""SELECT CASE WHEN event_id % 10 < 8 THEN 0 ELSE user_id END
         |    AS skey,
         |  COUNT(*) AS n, ${sqlSum("value")} AS value_sum
         |FROM events GROUP BY 1""".stripMargin,

    // fp32 round-trip mirrored; mismatch = IS DISTINCT FROM
    "q129_feature_skew" ->
      """WITH j AS (SELECT
        |    CAST(CAST(l.c_acctbal AS REAL) AS DOUBLE)
        |      IS DISTINCT FROM r.c_acctbal AS m_bal,
        |    l.c_name IS DISTINCT FROM r.c_name AS m_name,
        |    l.c_mktsegment IS DISTINCT FROM r.c_mktsegment AS m_seg
        |  FROM customer l JOIN customer r USING (c_custkey)),
        |a AS (SELECT COUNT(*) AS n,
        |    CAST(SUM(CASE WHEN m_name THEN 1 ELSE 0 END) AS BIGINT) AS v1,
        |    CAST(SUM(CASE WHEN m_bal THEN 1 ELSE 0 END) AS BIGINT) AS v2,
        |    CAST(SUM(CASE WHEN m_seg THEN 1 ELSE 0 END) AS BIGINT) AS v3
        |  FROM j)
        |SELECT f.feature, f.n_mismatch, a.n AS n_joined,
        |  CAST(f.n_mismatch AS DOUBLE) / CAST(a.n AS DOUBLE)
        |    AS mismatch_rate
        |FROM a, LATERAL (VALUES ('c_name', v1), ('c_acctbal', v2),
        |  ('c_mktsegment', v3)) AS f(feature, n_mismatch)""".stripMargin,

    "q130_stream_enrich" ->
      """SELECT e.event_id, e.user_id, e.value, c.c_mktsegment
        |FROM events e LEFT JOIN customer c ON e.user_id = c.c_custkey
        |WHERE e.event_type = 'click'""".stripMargin,

    "q131_constrained_rerank" ->
      """WITH s AS (SELECT user_id, event_id, value,
        |    CAST(json_extract(props, '$.k') AS BIGINT) % 8 AS cat
        |  FROM events WHERE json_extract(props, '$.k') IS NOT NULL),
        |c AS (SELECT * FROM (SELECT *, ROW_NUMBER() OVER (
        |    PARTITION BY user_id, cat
        |    ORDER BY value DESC, event_id ASC) AS cr FROM s)
        |  WHERE cr <= 2)
        |SELECT user_id, event_id, value, cat, rank FROM (
        |  SELECT user_id, event_id, value, cat,
        |    CAST(ROW_NUMBER() OVER (PARTITION BY user_id
        |      ORDER BY value DESC, event_id ASC) AS INT) AS rank
        |  FROM c)
        |WHERE rank <= 10""".stripMargin,

    "q132_transitions" ->
      """WITH s AS (SELECT event_type AS from_type,
        |    LEAD(event_type) OVER (PARTITION BY user_id
        |      ORDER BY ts ASC, event_id ASC) AS to_type
        |  FROM events),
        |c AS (SELECT from_type, to_type, COUNT(*) AS n FROM s
        |  WHERE to_type IS NOT NULL GROUP BY 1, 2)
        |SELECT from_type, to_type, n,
        |  CAST(n AS DOUBLE) / CAST(SUM(n) OVER (PARTITION BY from_type)
        |    AS DOUBLE) AS p
        |FROM c""".stripMargin,

    "q133_embedding_drift" ->
      s"""WITH t AS (SELECT vec_id,
         |    CAST(embedding AS DOUBLE[]) AS v1,
         |    list_transform(list_zip(CAST(embedding AS DOUBLE[]),
         |      generate_series(1, len(embedding))),
         |      z -> CASE WHEN z[2] = 1 THEN 0.0 ELSE z[1] END) AS v2
         |  FROM embeddings)
         |SELECT vec_id, ${sqlCosOf("v1", "v2")} AS cos_v1v2,
         |  ${sqlCosOf("v1", "v2")} < 0.99 AS is_drifted
         |FROM t""".stripMargin,

    "q134_hard_negatives" ->
      s"""WITH q AS (SELECT vec_id AS query_id, label AS query_label,
         |    CAST(embedding AS DOUBLE[]) AS qe
         |  FROM embeddings WHERE vec_id < 5),
         |scored AS (SELECT q.query_id, e.vec_id,
         |    ${sqlCosOf("CAST(e.embedding AS DOUBLE[])", "q.qe")} AS score
         |  FROM embeddings e CROSS JOIN q
         |  WHERE e.label <> q.query_label)
         |SELECT query_id, vec_id, score, rank FROM (
         |  SELECT *, CAST(ROW_NUMBER() OVER (PARTITION BY query_id
         |    ORDER BY score DESC, vec_id ASC) AS INT) AS rank FROM scored)
         |WHERE rank <= 10""".stripMargin,

    "q135_length_buckets" ->
      s"""WITH t AS (SELECT len($sqlWords) AS nt FROM documents),
         |b AS (SELECT CAST(ceil(CAST(nt AS DOUBLE) / 16.0) * 16 AS INT)
         |        AS bucket,
         |      COUNT(*) AS n_docs, CAST(SUM(nt) AS BIGINT) AS total_tokens
         |  FROM t GROUP BY 1)
         |SELECT bucket, n_docs, total_tokens,
         |  CAST(bucket AS BIGINT) * n_docs AS padded,
         |  CAST(CAST(bucket AS BIGINT) * n_docs - total_tokens AS DOUBLE)
         |    / CAST(CAST(bucket AS BIGINT) * n_docs AS DOUBLE)
         |    AS waste_rate
         |FROM b""".stripMargin,

    "q136_ref_integrity" ->
      """WITH p AS (SELECT DISTINCT c_custkey FROM customer),
        |j AS (SELECT e.user_id, p.c_custkey FROM events e
        |      LEFT JOIN p ON e.user_id = p.c_custkey)
        |SELECT COUNT(*) AS n_child,
        |  CAST(SUM(CASE WHEN c_custkey IS NULL THEN 1 ELSE 0 END)
        |    AS BIGINT) AS n_orphans,
        |  COUNT(DISTINCT CASE WHEN c_custkey IS NULL THEN user_id END)
        |    AS n_distinct_orphan_keys,
        |  CAST(SUM(CASE WHEN c_custkey IS NULL THEN 1 ELSE 0 END)
        |      AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS orphan_rate
        |FROM j""".stripMargin,

    "q137_profile" ->
      """WITH a AS (SELECT COUNT(*) AS n,
        |  CAST(SUM(CASE WHEN user_id IS NULL THEN 1 ELSE 0 END) AS BIGINT)
        |    AS nu, COUNT(DISTINCT user_id) AS du,
        |  CAST(SUM(CASE WHEN event_type IS NULL THEN 1 ELSE 0 END)
        |    AS BIGINT) AS ne, COUNT(DISTINCT event_type) AS de,
        |  CAST(SUM(CASE WHEN value IS NULL THEN 1 ELSE 0 END) AS BIGINT)
        |    AS nv, COUNT(DISTINCT value) AS dv,
        |  CAST(SUM(CASE WHEN props IS NULL THEN 1 ELSE 0 END) AS BIGINT)
        |    AS np, COUNT(DISTINCT props) AS dp
        |  FROM events)
        |SELECT c."column", a.n AS n_rows, c.n_null, c.n_distinct
        |FROM a, LATERAL (VALUES
        |  ('user_id', nu, du), ('event_type', ne, de),
        |  ('value', nv, dv), ('props', np, dp))
        |  AS c("column", n_null, n_distinct)""".stripMargin,

    // q58's PQ CTEs over the LEARNED-rotation corpus: the d×d rotation
    // is a deterministic artifact of the engine's exact-covariance +
    // fixed-sweep Jacobi fit (PcaRotate), materialized as literals for
    // the sf0.01 gate (provenance: graft.tools.GenQ139Rotation); the
    // mat-vec is an unrolled left-associated chain matching
    // VectorKernels.matVec's accumulation order term for term, so the
    // rotated coordinates are bit-identical before the (independently
    // SQL-expressed) PQ assign/score side.
    "q139_ann_opq_rotated" -> sqlQ139For(Q139Rotation.sf001),

    "q140_stopword_induction" ->
      s"""WITH n AS (SELECT COUNT(DISTINCT doc_id) AS nd FROM documents),
         |tk AS (SELECT doc_id, unnest(list_distinct($sqlWords)) AS token
         |       FROM documents),
         |c AS (SELECT token, COUNT(*) AS doc_freq FROM tk
         |      WHERE token <> '' GROUP BY token)
         |SELECT c.token, c.doc_freq,
         |  CAST(c.doc_freq AS DOUBLE) / CAST(n.nd AS DOUBLE) AS df_ratio,
         |  CAST(c.doc_freq AS DOUBLE) / CAST(n.nd AS DOUBLE) > 0.6
         |    AS is_stopword
         |FROM c CROSS JOIN n""".stripMargin,

    "q141_lang_consistency" ->
      s"""WITH t AS (SELECT doc_id, $sqlWords AS w0 FROM documents),
         |c0 AS (SELECT doc_id, list_transform(
         |         generate_series(1, greatest(len(w0), 1), 8),
         |         i -> list_slice(w0, i, i + 7)) AS cs FROM t),
         |c AS (SELECT doc_id, unnest(cs) AS w FROM c0),
         |lh AS (SELECT doc_id,
         |  ${sqlHits("de")} AS h_de, ${sqlHits("en")} AS h_en,
         |  ${sqlHits("es")} AS h_es, ${sqlHits("fr")} AS h_fr FROM c),
         |lp AS (SELECT doc_id,
         |  CASE WHEN greatest(h_de, h_en, h_es, h_fr) = 0 THEN 'und'
         |       WHEN h_de >= h_en AND h_de >= h_es AND h_de >= h_fr THEN 'de'
         |       WHEN h_en >= h_es AND h_en >= h_fr THEN 'en'
         |       WHEN h_es >= h_fr THEN 'es' ELSE 'fr' END AS clang
         |  FROM lh),
         |g AS (SELECT doc_id, clang, COUNT(*) AS n FROM lp GROUP BY 1, 2),
         |m AS (SELECT * FROM (SELECT *,
         |    ROW_NUMBER() OVER (PARTITION BY doc_id
         |      ORDER BY n DESC, clang ASC) AS rn,
         |    SUM(n) OVER (PARTITION BY doc_id) AS tot FROM g)
         |  WHERE rn = 1)
         |SELECT doc_id, clang AS major_lang, CAST(tot AS BIGINT)
         |    AS n_chunks, n AS n_major,
         |  CAST(n AS DOUBLE) / CAST(tot AS DOUBLE) AS consistency
         |FROM m""".stripMargin,

    // q113's walk chain with hash/weight keys on the weighted adjacency
    "q142_weighted_walks" -> {
      def step(t: Int, prev: String, prevCols: String, curCol: String) =
        s"s$t AS (SELECT start, $prevCols nbr AS $curCol FROM (" +
          s"SELECT $prev.*, adj.nbr, ROW_NUMBER() OVER (" +
          s"PARTITION BY $prev.start ORDER BY " +
          s"CAST(CAST(('0x'||substr(md5('11:'||CAST($prev.start AS VARCHAR)" +
          s"||':$t:'||CAST(adj.nbr AS VARCHAR)), 1, 8)) AS BIGINT) AS DOUBLE)" +
          s" / CAST(adj.wt AS DOUBLE), " +
          s"adj.nbr) AS rn FROM $prev JOIN adj ON " +
          s"$prev.${if (t == 1) "start" else s"c${t - 1}"} = adj.node) " +
          "WHERE rn = 1)"
      s"""WITH ui AS (SELECT user_id,
         |    CAST(json_extract(props, '$$.k') AS BIGINT) AS item_id,
         |    MAX(ts) AS last_ts
         |  FROM events WHERE json_extract(props, '$$.k') IS NOT NULL
         |  GROUP BY 1, 2),
         |capped AS (SELECT user_id, item_id FROM (
         |    SELECT *, ROW_NUMBER() OVER (PARTITION BY user_id
         |      ORDER BY last_ts DESC, item_id ASC) AS rn FROM ui)
         |  WHERE rn <= 30),
         |cov AS (SELECT a.item_id AS item_a, b.item_id AS item_b,
         |    COUNT(*) AS n_users
         |  FROM capped a JOIN capped b
         |    ON a.user_id = b.user_id AND a.item_id < b.item_id
         |  GROUP BY 1, 2 HAVING COUNT(*) >= 2),
         |adj AS (SELECT item_a AS node, item_b AS nbr, n_users AS wt
         |        FROM cov
         |        UNION SELECT item_b, item_a, n_users FROM cov),
         |s0 AS (SELECT DISTINCT node AS start FROM adj),
         |${step(1, "s0", "", "c1")},
         |${step(2, "s1", "c1,", "c2")},
         |${step(3, "s2", "c1, c2,", "c3")}
         |SELECT start, array_to_string([start, c1, c2, c3], ',')
         |  AS path_csv FROM s3""".stripMargin
    },

    // q113's walks, then every ordered position pair within 2 hops
    "q143_skipgram_pairs" -> {
      def step(t: Int, prev: String, prevCols: String, curCol: String) =
        s"s$t AS (SELECT start, $prevCols nbr AS $curCol FROM (" +
          s"SELECT $prev.*, adj.nbr, ROW_NUMBER() OVER (" +
          s"PARTITION BY $prev.start ORDER BY " +
          s"CAST(('0x'||substr(md5('11:'||CAST($prev.start AS VARCHAR)" +
          s"||':$t:'||CAST(adj.nbr AS VARCHAR)), 1, 8)) AS BIGINT), " +
          s"adj.nbr) AS rn FROM $prev JOIN adj ON " +
          s"$prev.${if (t == 1) "start" else s"c${t - 1}"} = adj.node) " +
          "WHERE rn = 1)"
      s"""WITH ui AS (SELECT user_id,
         |    CAST(json_extract(props, '$$.k') AS BIGINT) AS item_id,
         |    MAX(ts) AS last_ts
         |  FROM events WHERE json_extract(props, '$$.k') IS NOT NULL
         |  GROUP BY 1, 2),
         |capped AS (SELECT user_id, item_id FROM (
         |    SELECT *, ROW_NUMBER() OVER (PARTITION BY user_id
         |      ORDER BY last_ts DESC, item_id ASC) AS rn FROM ui)
         |  WHERE rn <= 30),
         |cov AS (SELECT a.item_id AS item_a, b.item_id AS item_b
         |  FROM capped a JOIN capped b
         |    ON a.user_id = b.user_id AND a.item_id < b.item_id
         |  GROUP BY 1, 2 HAVING COUNT(*) >= 2),
         |adj AS (SELECT item_a AS node, item_b AS nbr FROM cov
         |        UNION SELECT item_b, item_a FROM cov),
         |s0 AS (SELECT DISTINCT node AS start FROM adj),
         |${step(1, "s0", "", "c1")},
         |${step(2, "s1", "c1,", "c2")},
         |${step(3, "s2", "c1, c2,", "c3")},
         |p AS (SELECT [start, c1, c2, c3] AS path FROM s3),
         |e1 AS (SELECT path, generate_subscripts(path, 1) - 1 AS i,
         |         unnest(path) AS center FROM p),
         |e2 AS (SELECT i, center, generate_subscripts(path, 1) - 1 AS j,
         |         unnest(path) AS context FROM e1)
         |SELECT center, context, COUNT(*) AS n FROM e2
         |WHERE i <> j AND abs(i - j) <= 2 GROUP BY 1, 2""".stripMargin
    },

    "q146_cluster_sizes" ->
      s"""WITH RECURSIVE $sqlMinhashPairCtes,
         |edges AS (
         |  SELECT id_a AS src, id_b AS dst FROM mh_pairs
         |  UNION SELECT id_b, id_a FROM mh_pairs),
         |reach(id, lbl) AS (
         |  SELECT src, src FROM edges
         |  UNION
         |  SELECT e.src, r.lbl FROM edges e JOIN reach r ON e.dst = r.id),
         |comp AS (SELECT id, min(lbl) AS component FROM reach GROUP BY id),
         |sz AS (SELECT component, COUNT(*) AS csz FROM comp GROUP BY 1)
         |SELECT csz AS cluster_size, COUNT(*) AS n_clusters
         |FROM sz GROUP BY 1""".stripMargin,

    "q147_feature_corr" -> {
      val cols2 = Seq("l_quantity", "l_extendedprice", "l_discount", "l_tax")
      def cc(c: String) = s"CAST(round_even($c * 100, 0) AS BIGINT)"
      // hi/lo split mirrors the Spark side exactly: both halves sum as
      // exact BIGINTs (< 2^53), and the rebuild expression
      // hi*2^26 + lo runs in double with identical rounding
      def hiLo(prod: String, name: String) = Seq(
        s"CAST(SUM(($prod) // 67108864) AS BIGINT) AS ${name}_hi",
        s"CAST(SUM(($prod) % 67108864) AS BIGINT) AS ${name}_lo")
      def rebuilt(name: String) =
        s"(CAST(${name}_hi AS DOUBLE) * 67108864.0" +
          s" + CAST(${name}_lo AS DOUBLE))"
      val moments = cols2.flatMap(c => Seq(
        s"CAST(SUM(${cc(c)}) AS BIGINT) AS s_$c") ++
        hiLo(s"${cc(c)} * ${cc(c)}", s"q_$c")) ++
        (for (a <- cols2; b <- cols2 if a < b)
          yield hiLo(s"${cc(a)} * ${cc(b)}", s"p_${a}_$b")).flatten
      val rows = (for (a <- cols2; b <- cols2 if a < b) yield
        s"('$a', '$b', (CAST(n AS DOUBLE) * ${rebuilt(s"p_${a}_$b")}" +
          s" - CAST(s_$a AS DOUBLE) * CAST(s_$b AS DOUBLE))" +
          s" / sqrt((CAST(n AS DOUBLE) * ${rebuilt(s"q_$a")}" +
          s" - CAST(s_$a AS DOUBLE) * CAST(s_$a AS DOUBLE))" +
          s" * (CAST(n AS DOUBLE) * ${rebuilt(s"q_$b")}" +
          s" - CAST(s_$b AS DOUBLE) * CAST(s_$b AS DOUBLE))))")
        .mkString(",\n  ")
      s"""WITH m AS (SELECT COUNT(*) AS n, ${moments.mkString(", ")}
         |  FROM lineitem)
         |SELECT p.col_a, p.col_b, p.r
         |FROM m, LATERAL (VALUES
         |  $rows) AS p(col_a, col_b, r)""".stripMargin
    },

    "q148_seasonality" ->
      s"""SELECT CAST(dayofweek(ts) + 1 AS INT) AS dow,
         |  CAST(hour(ts) AS INT) AS hr,
         |  COUNT(*) AS n, ${sqlSum("value")} AS value_sum
         |FROM events GROUP BY 1, 2""".stripMargin,

    "q145_position_bias" ->
      """WITH s AS (SELECT
        |    ROW_NUMBER() OVER (PARTITION BY user_id, CAST(ts AS DATE)
        |      ORDER BY ts ASC, event_id ASC) AS position,
        |    CAST(event_type = 'click' AS BIGINT) AS y
        |  FROM events)
        |SELECT CAST(position AS INT) AS position,
        |  COUNT(*) AS n_impressions,
        |  CAST(SUM(y) AS BIGINT) AS n_clicks,
        |  CAST(SUM(y) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS ctr
        |FROM s WHERE position <= 20 GROUP BY position""".stripMargin,

    "q144_churn_labels" ->
      """WITH a AS (SELECT MAX(CAST(ts AS DATE)) AS anchor FROM events),
        |s AS (SELECT user_id, CAST(ts AS DATE) AS d, event_type, value,
        |        a.anchor - 7 AS cutoff FROM events CROSS JOIN a),
        |f AS (SELECT user_id, COUNT(*) AS n_events,
        |    CAST(SUM(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)
        |      AS BIGINT) AS n_clicks,
        |    CAST(SUM(CAST(floor(value * 1000000) AS BIGINT)) AS DOUBLE)
        |      / 1000000.0 AS value_sum,
        |    MAX(d) AS last_d, MAX(cutoff) AS co
        |  FROM s WHERE d < cutoff GROUP BY user_id),
        |act AS (SELECT DISTINCT user_id FROM s WHERE d >= cutoff)
        |SELECT f.user_id, f.n_events, f.n_clicks, f.value_sum,
        |  CAST(date_diff('day', f.last_d, f.co) AS INT) AS recency_days,
        |  act.user_id IS NULL AS churned
        |FROM f LEFT JOIN act ON f.user_id = act.user_id""".stripMargin,

    "q138_association_rules" ->
      """WITH ui AS (SELECT user_id,
        |    CAST(json_extract(props, '$.k') AS BIGINT) AS item_id,
        |    MAX(ts) AS last_ts
        |  FROM events WHERE json_extract(props, '$.k') IS NOT NULL
        |  GROUP BY 1, 2),
        |capped AS (SELECT user_id, item_id FROM (
        |    SELECT *, ROW_NUMBER() OVER (PARTITION BY user_id
        |      ORDER BY last_ts DESC, item_id ASC) AS rn FROM ui)
        |  WHERE rn <= 30),
        |pairs AS (SELECT a.item_id AS item_a, b.item_id AS item_b,
        |    COUNT(*) AS supp_ab
        |  FROM capped a JOIN capped b
        |    ON a.user_id = b.user_id AND a.item_id < b.item_id
        |  GROUP BY 1, 2 HAVING COUNT(*) >= 2),
        |supp AS (SELECT item_id, COUNT(*) AS s FROM capped GROUP BY 1),
        |nu AS (SELECT COUNT(DISTINCT user_id) AS n FROM capped),
        |d AS (SELECT item_a AS antecedent, item_b AS consequent, supp_ab
        |        FROM pairs
        |      UNION ALL
        |      SELECT item_b, item_a, supp_ab FROM pairs)
        |SELECT d.antecedent, d.consequent, d.supp_ab,
        |  CAST(d.supp_ab AS DOUBLE) / CAST(sa.s AS DOUBLE) AS confidence,
        |  CAST(d.supp_ab * nu.n AS DOUBLE)
        |    / CAST(sa.s * sc.s AS DOUBLE) AS lift
        |FROM d JOIN supp sa ON d.antecedent = sa.item_id
        |JOIN supp sc ON d.consequent = sc.item_id CROSS JOIN nu""".stripMargin,

    // q113's co-visitation adjacency, then three unrolled iterations of
    // the SAME integral divisions the Spark side performs (// on
    // positive BIGINTs = div = floor); sums of longs are exact, so the
    // ranks agree to the last unit
    "q152_pagerank" ->
      s"""WITH ui AS (SELECT user_id,
         |    CAST(json_extract(props, '$$.k') AS BIGINT) AS item_id,
         |    MAX(ts) AS last_ts
         |  FROM events WHERE json_extract(props, '$$.k') IS NOT NULL
         |  GROUP BY 1, 2),
         |capped AS (SELECT user_id, item_id FROM (
         |    SELECT *, ROW_NUMBER() OVER (PARTITION BY user_id
         |      ORDER BY last_ts DESC, item_id ASC) AS rn FROM ui)
         |  WHERE rn <= 30),
         |cov AS (SELECT a.item_id AS item_a, b.item_id AS item_b
         |  FROM capped a JOIN capped b
         |    ON a.user_id = b.user_id AND a.item_id < b.item_id
         |  GROUP BY 1, 2 HAVING COUNT(*) >= 2),
         |adj AS (SELECT item_a AS node, item_b AS nbr FROM cov
         |        UNION SELECT item_b, item_a FROM cov),
         |deg AS (SELECT node, COUNT(*) AS d FROM adj GROUP BY 1),
         |n AS (SELECT COUNT(*) AS nn FROM deg),
         |r0 AS (SELECT deg.node, deg.d, 1000000000000 // n.nn AS r
         |       FROM deg CROSS JOIN n),
         |c1 AS (SELECT adj.nbr AS node,
         |    CAST(SUM((r0.r * 85) // (100 * r0.d)) AS BIGINT) AS infl
         |  FROM r0 JOIN adj ON r0.node = adj.node GROUP BY 1),
         |r1 AS (SELECT deg.node, deg.d,
         |    ((1000000000000 * 15) // (100 * n.nn))
         |      + COALESCE(c1.infl, 0) AS r
         |  FROM deg CROSS JOIN n LEFT JOIN c1 ON deg.node = c1.node),
         |c2 AS (SELECT adj.nbr AS node,
         |    CAST(SUM((r1.r * 85) // (100 * r1.d)) AS BIGINT) AS infl
         |  FROM r1 JOIN adj ON r1.node = adj.node GROUP BY 1),
         |r2 AS (SELECT deg.node, deg.d,
         |    ((1000000000000 * 15) // (100 * n.nn))
         |      + COALESCE(c2.infl, 0) AS r
         |  FROM deg CROSS JOIN n LEFT JOIN c2 ON deg.node = c2.node),
         |c3 AS (SELECT adj.nbr AS node,
         |    CAST(SUM((r2.r * 85) // (100 * r2.d)) AS BIGINT) AS infl
         |  FROM r2 JOIN adj ON r2.node = adj.node GROUP BY 1),
         |r3 AS (SELECT deg.node, deg.d,
         |    ((1000000000000 * 15) // (100 * n.nn))
         |      + COALESCE(c3.infl, 0) AS r
         |  FROM deg CROSS JOIN n LEFT JOIN c3 ON deg.node = c3.node)
         |SELECT node, r AS rank_micro,
         |  CAST(r AS DOUBLE) / 1000000000000.0 AS pagerank
         |FROM r3""".stripMargin,

    // the identical bottom-k-by-hash sample, ranked the same way; the
    // rank index 1 + floor(p·(m-1)) is the same double expression on
    // exact integers in both engines
    "q153_sample_quantiles" ->
      """WITH h AS (SELECT value,
        |    CAST(('0x'||substr(md5('7:'||CAST(event_id AS VARCHAR)), 1, 8))
        |      AS BIGINT) AS hh
        |  FROM events),
        |s AS (SELECT * FROM h ORDER BY hh ASC, value ASC LIMIT 200),
        |r AS (SELECT value,
        |    ROW_NUMBER() OVER (ORDER BY value ASC, hh ASC) AS rn,
        |    COUNT(*) OVER () AS m FROM s),
        |p AS (SELECT unnest([0.1, 0.5, 0.9, 0.99]) AS p)
        |SELECT p.p, r.value FROM p JOIN r
        |  ON r.rn = 1 + CAST(floor(p.p * (r.m - 1)) AS BIGINT)""".stripMargin,

    // both text formats re-read to the identical doubles, so the
    // doubled aggregate equals 2x the parquet original
    "q154_format_roundtrip" ->
      """SELECT event_type, 2 * COUNT(*) AS n,
        |  2 * CAST(SUM(CAST(floor(value * 1000000.0) AS BIGINT))
        |    AS BIGINT) AS value_micro
        |FROM events GROUP BY 1""".stripMargin,

    // isotonic regression via its minimax characterization
    // f(i) = max_{j<=i} min_{k>=i} avg(j..k) — block-exact, so each
    // value is the same single division of exact integers the Spark
    // PAV merge performs (identical correctly-rounded double)
    "q149_isotonic_fit" ->
      """WITH s AS (SELECT value,
        |    CAST(event_type = 'click' AS BIGINT) AS y,
        |    PERCENT_RANK() OVER (ORDER BY value) AS pr FROM events),
        |b AS (SELECT CAST(least(floor(pr * 10), 9) AS INT) AS bin,
        |    CAST(SUM(y) AS BIGINT) AS pos, COUNT(*) AS n
        |  FROM s GROUP BY 1),
        |seg AS (SELECT j.bin AS j, k.bin AS k,
        |    CAST(SUM(m.pos) AS DOUBLE) / CAST(SUM(m.n) AS DOUBLE) AS avgr
        |  FROM b j JOIN b k ON j.bin <= k.bin
        |  JOIN b m ON m.bin BETWEEN j.bin AND k.bin
        |  GROUP BY 1, 2),
        |mn AS (SELECT seg.j, i.bin AS bin, MIN(seg.avgr) AS m
        |  FROM seg JOIN b i ON seg.j <= i.bin AND seg.k >= i.bin
        |  GROUP BY 1, 2)
        |SELECT bin, MAX(m) AS calibrated FROM mn GROUP BY bin""".stripMargin,

    // q2's retrieve oracle over the bulk key set (orders fan-out keys,
    // duplicates preserved)
    "q151_retrieve_bulk_keys" ->
      """SELECT o.o_custkey AS c_custkey,
        |  COALESCE(c.c_name, 'N/A') AS c_name,
        |  COALESCE(c.c_acctbal, 0.0) AS c_acctbal,
        |  COALESCE(c.c_mktsegment, 'NONE') AS c_mktsegment
        |FROM orders o LEFT JOIN customer c
        |  ON o.o_custkey = c.c_custkey""".stripMargin,

    // q41's winnow CTEs -> df cutoff -> inverted-index pairing ->
    // containment over the smaller doc's kept-fingerprint count
    "q156_fp_containment" ->
      """WITH t AS (
        |  SELECT doc_id,
        |    trim(regexp_replace(lower(text), '\s+', ' ', 'g')) AS nt
        |  FROM documents),
        |g AS (
        |  SELECT doc_id,
        |    list_transform(generate_series(1, greatest(length(nt) - 7, 1)),
        |      i -> CAST(('0x'||substr(md5('0:'||substr(nt, i, 8)), 1, 8))
        |             AS BIGINT)) AS hs
        |  FROM t),
        |wm AS (
        |  SELECT doc_id,
        |    list_sort(list_distinct(
        |      list_transform(generate_series(1, greatest(len(hs) - 3, 1)),
        |        j -> list_min(list_slice(hs, j, j + 3))))) AS fps
        |  FROM g),
        |fp AS (SELECT doc_id, unnest(fps) AS fp FROM wm),
        |keep AS (SELECT fp FROM fp GROUP BY fp HAVING COUNT(*) <= 50),
        |kf AS (SELECT fp.doc_id, fp.fp FROM fp JOIN keep USING (fp)),
        |sz AS (SELECT doc_id, COUNT(*) AS sz FROM kf GROUP BY doc_id),
        |pairs AS (
        |  SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS shared
        |  FROM kf a JOIN kf b ON a.fp = b.fp AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2)
        |SELECT p.id_a, p.id_b, CAST(p.shared AS BIGINT) AS shared,
        |  CAST(p.shared AS DOUBLE) / least(sa.sz, sb.sz) AS containment
        |FROM pairs p JOIN sz sa ON p.id_a = sa.doc_id
        |  JOIN sz sb ON p.id_b = sb.doc_id
        |WHERE CAST(p.shared AS DOUBLE) / least(sa.sz, sb.sz) >= 0.5""".stripMargin,

    "q157_group_sample" ->
      s"""SELECT event_type, event_id, user_id, CAST(rn AS INT) AS sample_rank
         |FROM (SELECT event_type, event_id, user_id, ROW_NUMBER() OVER (
         |    PARTITION BY event_type
         |    ORDER BY ${sqlHash32(7, "CAST(event_id AS VARCHAR)")}, event_id)
         |    AS rn
         |  FROM events)
         |WHERE rn <= 20""".stripMargin,

    "q158_resample_fill" ->
      """WITH f AS (SELECT * FROM events WHERE user_id % 5 = 0),
        |hourly AS (SELECT user_id,
        |    CAST(floor(epoch_ms(ts) / 3600000) AS BIGINT) AS h,
        |    COUNT(*) AS n,
        |    CAST(SUM(CAST(floor(value * 1e6) AS BIGINT)) AS BIGINT) AS vm
        |  FROM f GROUP BY 1, 2),
        |b AS (SELECT user_id, min(h) AS mn, max(h) AS mx
        |  FROM hourly GROUP BY 1),
        |grid AS (SELECT user_id, unnest(generate_series(mn, mx)) AS h
        |  FROM b),
        |j AS (SELECT g.user_id, g.h, hourly.n, hourly.vm
        |  FROM grid g LEFT JOIN hourly
        |    ON g.user_id = hourly.user_id AND g.h = hourly.h)
        |SELECT user_id, h AS hour_epoch, COALESCE(n, 0) AS n_events,
        |  last_value(vm IGNORE NULLS) OVER (PARTITION BY user_id
        |    ORDER BY h ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |    AS value_micro_filled
        |FROM j""".stripMargin,

    // q49's predictor CTEs -> contingency counts -> kappa from exact
    // marginal products (integer-valued doubles; sums < 2^53 => every
    // division sees identical operands in both engines)
    "q159_cohen_kappa" ->
      s"""WITH lt AS (SELECT doc_id, lang, $sqlWords AS w FROM documents),
         |lh AS (SELECT doc_id, lang,
         |  ${sqlHits("de")} AS h_de, ${sqlHits("en")} AS h_en,
         |  ${sqlHits("es")} AS h_es, ${sqlHits("fr")} AS h_fr FROM lt),
         |lp AS (SELECT doc_id, lang,
         |  CASE WHEN greatest(h_de, h_en, h_es, h_fr) = 0 THEN 'und'
         |       WHEN h_de >= h_en AND h_de >= h_es AND h_de >= h_fr THEN 'de'
         |       WHEN h_en >= h_es AND h_en >= h_fr THEN 'en'
         |       WHEN h_es >= h_fr THEN 'es' ELSE 'fr' END AS lang_pred
         |  FROM lh),
         |cells AS (SELECT lang AS a, lang_pred AS b, COUNT(*) AS o
         |  FROM lp GROUP BY 1, 2),
         |tot AS (SELECT CAST(SUM(o) AS BIGINT) AS n,
         |    CAST(COALESCE(SUM(CASE WHEN a = b THEN o END), 0) AS BIGINT)
         |      AS agree
         |  FROM cells),
         |ra AS (SELECT a, SUM(o) AS ra FROM cells GROUP BY 1),
         |rb AS (SELECT b, SUM(o) AS rb FROM cells GROUP BY 1),
         |pe AS (SELECT COALESCE(SUM(CAST(ra.ra AS DOUBLE)
         |    * CAST(rb.rb AS DOUBLE)), 0.0) AS pen
         |  FROM ra JOIN rb ON ra.a = rb.b)
         |SELECT n, agree, po, pe,
         |  CASE WHEN pe = 1.0 THEN 1.0 ELSE (po - pe) / (1.0 - pe) END
         |    AS kappa
         |FROM (SELECT tot.n, tot.agree,
         |    CAST(tot.agree AS DOUBLE) / CAST(tot.n AS DOUBLE) AS po,
         |    pe.pen / (CAST(tot.n AS DOUBLE) * CAST(tot.n AS DOUBLE)) AS pe
         |  FROM tot, pe)""".stripMargin,

    // q149's minimax characterization, grouped: every join carries the
    // segment key, so each segment fits independently
    "q160_isotonic_by_segment" ->
      """WITH s AS (SELECT CAST(user_id % 3 AS VARCHAR) AS seg, value,
        |    CAST(event_type = 'click' AS BIGINT) AS y,
        |    PERCENT_RANK() OVER (ORDER BY value) AS pr FROM events),
        |b AS (SELECT seg, CAST(least(floor(pr * 10), 9) AS INT) AS bin,
        |    CAST(SUM(y) AS BIGINT) AS pos, COUNT(*) AS n
        |  FROM s GROUP BY 1, 2),
        |sg AS (SELECT j.seg, j.bin AS j, k.bin AS k,
        |    CAST(SUM(m.pos) AS DOUBLE) / CAST(SUM(m.n) AS DOUBLE) AS avgr
        |  FROM b j JOIN b k ON j.seg = k.seg AND j.bin <= k.bin
        |  JOIN b m ON m.seg = j.seg AND m.bin BETWEEN j.bin AND k.bin
        |  GROUP BY 1, 2, 3),
        |mn AS (SELECT sg.seg, sg.j, i.bin AS bin, MIN(sg.avgr) AS m
        |  FROM sg JOIN b i ON i.seg = sg.seg
        |    AND sg.j <= i.bin AND sg.k >= i.bin
        |  GROUP BY 1, 2, 3)
        |SELECT seg, bin, MAX(m) AS calibrated FROM mn GROUP BY seg, bin""".stripMargin,

    // q80's waterfill CTEs with token sums; selection keeps a doc iff
    // its source's cumulative tokens BEFORE it are inside the quota
    "q161_token_budget_mix" ->
      s"""WITH corpus AS (SELECT doc_id, source, lang,
         |                  CAST(len($sqlWords) AS INT) AS n_tokens
         |                FROM documents),
         |cnt AS (SELECT source, CAST(SUM(n_tokens) AS BIGINT) AS n
         |        FROM corpus GROUP BY source),
         |w AS (SELECT source,
         |        CAST(floor(pow(CAST(n AS DOUBLE), 0.5) * 1000000) AS BIGINT)
         |          AS wm FROM cnt),
         |a AS (SELECT cnt.source, n, wm, SUM(wm) OVER () AS tw,
         |        COALESCE(SUM(n) OVER pre, 0) AS cumnp,
         |        COALESCE(SUM(wm) OVER pre, 0) AS cumwp
         |      FROM w JOIN cnt USING (source)
         |      WINDOW pre AS (ORDER BY CAST(n AS DOUBLE) / wm ASC, source ASC
         |                     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)),
         |s AS (SELECT *, MIN(CASE WHEN wm * (20000 - cumnp) >= n * (tw - cumwp)
         |                         THEN 1 ELSE 0 END)
         |        OVER (ORDER BY CAST(n AS DOUBLE) / wm ASC, source ASC
         |              ROWS UNBOUNDED PRECEDING) = 1 AS sat FROM a),
         |u AS (SELECT *,
         |        20000 - COALESCE(SUM(CASE WHEN sat THEN n END) OVER (), 0) AS rr,
         |        COALESCE(SUM(CASE WHEN NOT sat THEN wm END) OVER (), 0) AS uw
         |      FROM s),
         |b AS (SELECT *,
         |        CASE WHEN sat OR uw = 0 THEN 0 ELSE (wm * rr) // uw END AS base,
         |        CASE WHEN sat OR uw = 0 THEN -1 ELSE (wm * rr) % uw END AS rem
         |      FROM u),
         |c AS (SELECT *, rr - SUM(base) OVER () AS leftover,
         |        ROW_NUMBER() OVER (ORDER BY rem DESC, source ASC) AS rk
         |      FROM b),
         |q AS (SELECT source,
         |        CAST(CASE WHEN sat THEN n ELSE least(
         |          base + CASE WHEN rk <= leftover THEN 1 ELSE 0 END, n) END
         |          AS BIGINT) AS quota FROM c),
         |r AS (SELECT corpus.*,
         |        COALESCE(SUM(n_tokens) OVER (PARTITION BY source
         |          ORDER BY ${sqlHash32(7, "CAST(doc_id AS VARCHAR)")} % 1000000
         |            ASC, doc_id ASC
         |          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
         |          AS cumpre
         |      FROM corpus)
         |SELECT doc_id, source, lang, n_tokens
         |FROM r JOIN q USING (source) WHERE cumpre < quota""".stripMargin,

    // exact lower-median / MAD by rank pick — ROW_NUMBER is unique, so
    // rn = (n+1)//2 selects exactly one row per group
    "q162_robust_stats" ->
      """WITH v AS (SELECT event_type,
        |    CAST(floor(value * 1e6) AS BIGINT) AS vm FROM events),
        |t AS (SELECT event_type, COUNT(*) AS n FROM v GROUP BY 1),
        |r AS (SELECT event_type, vm, ROW_NUMBER() OVER (
        |    PARTITION BY event_type ORDER BY vm) AS rn FROM v),
        |med AS (SELECT r.event_type, r.vm AS med FROM r
        |  JOIN t USING (event_type) WHERE r.rn = (t.n + 1) // 2),
        |d AS (SELECT v.event_type, v.vm, med.med,
        |    abs(v.vm - med.med) AS dev
        |  FROM v JOIN med USING (event_type)),
        |r2 AS (SELECT event_type, dev, ROW_NUMBER() OVER (
        |    PARTITION BY event_type ORDER BY dev) AS rn FROM d),
        |mad AS (SELECT r2.event_type, r2.dev AS mad FROM r2
        |  JOIN t USING (event_type) WHERE r2.rn = (t.n + 1) // 2)
        |SELECT d.event_type, CAST(t.n AS BIGINT) AS n,
        |  med.med AS median_micro, mad.mad AS mad_micro,
        |  CAST(SUM(CASE WHEN d.dev > 3 * mad.mad THEN 1 ELSE 0 END)
        |    AS BIGINT) AS n_outliers
        |FROM d JOIN t USING (event_type) JOIN med USING (event_type)
        |  JOIN mad USING (event_type)
        |GROUP BY 1, 2, 3, 4""".stripMargin,

    // q51's lag-gap session CTE (filtered to item events) -> q104's
    // pair chain, keyed by (user, session)
    "q163_session_covisitation" ->
      """WITH x AS (SELECT user_id, event_id, ts,
        |    CAST(json_extract(props, '$.k') AS BIGINT) AS item_id,
        |    lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
        |      AS prev
        |  FROM events WHERE json_extract(props, '$.k') IS NOT NULL),
        |sx AS (SELECT user_id, item_id, ts,
        |    SUM(CASE WHEN prev IS NULL OR ts > prev + INTERVAL 1 DAY
        |             THEN 1 ELSE 0 END)
        |      OVER (PARTITION BY user_id ORDER BY ts, event_id
        |            ROWS UNBOUNDED PRECEDING) AS sid
        |  FROM x),
        |ui AS (SELECT user_id, sid, item_id, MAX(ts) AS last_ts
        |  FROM sx GROUP BY 1, 2, 3),
        |capped AS (SELECT user_id, sid, item_id FROM (
        |    SELECT *, ROW_NUMBER() OVER (PARTITION BY user_id, sid
        |      ORDER BY last_ts DESC, item_id ASC) AS rn FROM ui)
        |  WHERE rn <= 30)
        |SELECT a.item_id AS item_a, b.item_id AS item_b,
        |  COUNT(*) AS n_sessions
        |FROM capped a JOIN capped b
        |  ON a.user_id = b.user_id AND a.sid = b.sid
        |    AND a.item_id < b.item_id
        |GROUP BY 1, 2 HAVING COUNT(*) >= 2""".stripMargin,

    // q145's position construction (item events only) -> per-position
    // propensities -> fixed-order IPS term, floored to micro-units
    "q164_ips_item_clicks" ->
      """WITH imp AS (SELECT user_id, ts, event_id,
        |    CAST(json_extract(props, '$.k') AS BIGINT) AS item_id,
        |    CAST(event_type = 'click' AS BIGINT) AS click,
        |    ROW_NUMBER() OVER (PARTITION BY user_id, CAST(ts AS DATE)
        |      ORDER BY ts, event_id) AS position
        |  FROM events WHERE json_extract(props, '$.k') IS NOT NULL),
        |i2 AS (SELECT * FROM imp WHERE position <= 20),
        |pa AS (SELECT position, COUNT(*) AS imps,
        |    CAST(SUM(click) AS BIGINT) AS clicks FROM i2 GROUP BY 1),
        |base AS (SELECT imps AS imps1, clicks AS clicks1 FROM pa
        |         WHERE position = 1),
        |ip AS (SELECT item_id, position, CAST(SUM(click) AS BIGINT) AS cip
        |       FROM i2 GROUP BY 1, 2 HAVING SUM(click) > 0)
        |SELECT item_id, CAST(SUM(cip) AS BIGINT) AS n_clicks,
        |  CAST(SUM(CAST(floor((((CAST(cip AS DOUBLE) * CAST(imps AS DOUBLE))
        |      * CAST(clicks1 AS DOUBLE))
        |    / (CAST(clicks AS DOUBLE) * CAST(imps1 AS DOUBLE))) * 1e6)
        |    AS BIGINT)) AS BIGINT) AS ips_clicks_micro
        |FROM ip JOIN pa USING (position), base
        |WHERE clicks > 0 AND clicks1 > 0
        |GROUP BY 1""".stripMargin,

    // q104's co-visitation CTEs -> symmetric top-5 neighbor rank ->
    // lag-pair transitions -> hit counting
    "q165_candidate_recall" ->
      """WITH ui AS (SELECT user_id,
        |    CAST(json_extract(props, '$.k') AS BIGINT) AS item_id,
        |    MAX(ts) AS last_ts
        |  FROM events WHERE json_extract(props, '$.k') IS NOT NULL
        |  GROUP BY 1, 2),
        |capped AS (SELECT user_id, item_id FROM (
        |    SELECT *, ROW_NUMBER() OVER (PARTITION BY user_id
        |      ORDER BY last_ts DESC, item_id ASC) AS rn FROM ui)
        |  WHERE rn <= 30),
        |cov AS (SELECT a.item_id AS item_a, b.item_id AS item_b,
        |    COUNT(*) AS n_users
        |  FROM capped a JOIN capped b
        |    ON a.user_id = b.user_id AND a.item_id < b.item_id
        |  GROUP BY 1, 2 HAVING COUNT(*) >= 2),
        |adjn AS (SELECT item_a AS node, item_b AS nbr, n_users FROM cov
        |  UNION ALL SELECT item_b, item_a, n_users FROM cov),
        |topk AS (SELECT node, nbr FROM (
        |    SELECT *, ROW_NUMBER() OVER (PARTITION BY node
        |      ORDER BY n_users DESC, nbr ASC) AS rn FROM adjn)
        |  WHERE rn <= 5),
        |tr AS (SELECT user_id, ts, event_id, item_id,
        |    lag(item_id) OVER (PARTITION BY user_id
        |      ORDER BY ts, event_id) AS prev
        |  FROM (SELECT user_id, ts, event_id,
        |      CAST(json_extract(props, '$.k') AS BIGINT) AS item_id
        |    FROM events WHERE json_extract(props, '$.k') IS NOT NULL)),
        |t2 AS (SELECT * FROM tr
        |  WHERE prev IS NOT NULL AND prev <> item_id)
        |SELECT COUNT(*) AS n_transitions,
        |  CAST(COALESCE(SUM(CASE WHEN topk.node IS NOT NULL
        |    THEN 1 ELSE 0 END), 0) AS BIGINT) AS n_hits,
        |  CAST(COALESCE(SUM(CASE WHEN topk.node IS NOT NULL
        |      THEN 1 ELSE 0 END), 0) AS DOUBLE)
        |    / CAST(COUNT(*) AS DOUBLE) AS recall
        |FROM t2 LEFT JOIN topk
        |  ON t2.prev = topk.node AND t2.item_id = topk.nbr""".stripMargin,

    // q47's ASOF oracle + the staleness null-out
    "q166_pit_fresh" ->
      """WITH hist AS (SELECT user_id, ts, max(value) AS value
        |              FROM events GROUP BY 1, 2),
        |lab AS (SELECT user_id, ts, event_id AS label_id FROM events
        |        WHERE event_id % 97 = 0)
        |SELECT l.user_id, l.ts, l.label_id,
        |  CASE WHEN h.ts >= l.ts - INTERVAL 2 DAY THEN h.value END AS value
        |FROM lab l ASOF LEFT JOIN hist h
        |  ON l.user_id = h.user_id AND h.ts <= l.ts""".stripMargin,

    // q162's micro-unit staging -> per-group rank interval
    // (floor(αn), n − floor(αn)]; both engines compute floor(0.1·n)
    // in double and divide the exact kept-sum long once
    "q167_trimmed_mean" ->
      """WITH v AS (SELECT event_type,
        |    CAST(floor(value * 1e6) AS BIGINT) AS vm FROM events),
        |t AS (SELECT event_type, COUNT(*) AS n FROM v GROUP BY 1),
        |r AS (SELECT event_type, vm, ROW_NUMBER() OVER (
        |    PARTITION BY event_type ORDER BY vm) AS rn FROM v),
        |k AS (SELECT r.event_type, r.vm FROM r JOIN t USING (event_type)
        |  WHERE r.rn > CAST(floor(0.1 * t.n) AS BIGINT)
        |    AND r.rn <= t.n - CAST(floor(0.1 * t.n) AS BIGINT))
        |SELECT k.event_type, t.n, COUNT(*) AS n_kept,
        |  CAST(SUM(k.vm) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE)
        |    AS trimmed_mean
        |FROM k JOIN t USING (event_type) GROUP BY 1, 2""".stripMargin,

    // q15's top-10 cosine slates -> within-slate pair join -> per-pair
    // micro-floored (1 - cos) so the per-query sums are integer
    // order-free on both engines
    "q168_intra_list_diversity" ->
      s"""WITH q AS (SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qe
         |           FROM embeddings WHERE vec_id < 20),
         |scored AS (
         |  SELECT q.query_id, e.vec_id,
         |    ${sqlCosOf("CAST(e.embedding AS DOUBLE[])", "q.qe")} AS score
         |  FROM embeddings e, q WHERE e.vec_id <> q.query_id),
         |slate AS (SELECT query_id, vec_id FROM (
         |  SELECT *, ROW_NUMBER() OVER (
         |    PARTITION BY query_id ORDER BY score DESC, vec_id ASC) AS rank
         |  FROM scored) WHERE rank <= 10),
         |se AS (SELECT s.query_id, s.vec_id,
         |         CAST(e.embedding AS DOUBLE[]) AS emb
         |       FROM slate s JOIN embeddings e USING (vec_id)),
         |p AS (SELECT a.query_id,
         |    greatest(CAST(floor((1e0 - ${sqlCosOf("a.emb", "b.emb")}) * 1e6)
         |      AS BIGINT), 0) AS d
         |  FROM se a JOIN se b
         |    ON a.query_id = b.query_id AND a.vec_id < b.vec_id)
         |SELECT query_id, COUNT(*) AS n_pairs,
         |  CAST(SUM(d) AS BIGINT) AS ild_sum_micro,
         |  CAST(SUM(d) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS ild_mean_micro
         |FROM p GROUP BY 1""".stripMargin,

    // q58's codebook/assign CTEs -> per-subspace squared distance to
    // the assigned codeword, summed in fixed subspace order, one floor
    "q169_pq_recon_error" -> {
      val eParts = (0 until 8).map(j =>
        s"MAX(CASE WHEN er.j = $j THEN er.e END) AS e$j").mkString(",\n|         ")
      val eSum = (0 until 8).map(j => s"e$j").mkString(" + ")
      s"""WITH p AS (SELECT greatest(count(*) // 16, 1) AS stride FROM embeddings),
         |e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings),
         |cb AS (SELECT (s.vec_id // p.stride) AS cid, j.j AS j,
         |         list_slice(s.emb, j.j*8 + 1, j.j*8 + 8) AS centroid
         |       FROM e s, p, generate_series(0, 7) j(j)
         |       WHERE s.vec_id % p.stride = 0 AND s.vec_id < p.stride * 16),
         |sv AS (SELECT e.vec_id, j.j AS j,
         |         list_slice(e.emb, j.j*8 + 1, j.j*8 + 8) AS sub
         |       FROM e, generate_series(0, 7) j(j)),
         |codes AS (SELECT vec_id, j, cid AS code FROM (
         |  SELECT sv.vec_id, sv.j, cb.cid,
         |    ROW_NUMBER() OVER (PARTITION BY sv.vec_id, sv.j
         |      ORDER BY ${sqlSqDistOf("sv.sub", "cb.centroid")} ASC,
         |               cb.cid ASC) AS rn
         |  FROM sv JOIN cb ON sv.j = cb.j) WHERE rn = 1),
         |er AS (SELECT sv.vec_id, sv.j,
         |         ${sqlSqDistOf("sv.sub", "cb.centroid")} AS e
         |       FROM sv JOIN codes c ON sv.vec_id = c.vec_id AND sv.j = c.j
         |       JOIN cb ON cb.j = c.j AND cb.cid = c.code),
         |pv AS (SELECT er.vec_id,
         |         $eParts
         |       FROM er GROUP BY 1)
         |SELECT vec_id,
         |  CAST(floor(($eSum) * 1e6) AS BIGINT) AS recon_err_micro
         |FROM pv""".stripMargin
    },

    // distinct (source, shingle) -> inverted-index pair join, the q23
    // shingle fragment shared verbatim
    "q170_cross_source_overlap" ->
      s"""WITH sh0 AS (SELECT source, unnest($sqlShingles) AS sh
         |            FROM (SELECT source, $sqlWords AS w FROM documents)),
         |sh AS (SELECT DISTINCT source, sh FROM sh0)
         |SELECT a.source AS source_a, b.source AS source_b,
         |  COUNT(*) AS n_shared
         |FROM sh a JOIN sh b ON a.sh = b.sh AND a.source < b.source
         |GROUP BY 1, 2""".stripMargin,

    // q167's rank CTEs; clamped sum = middle + t*v_(t+1) + t*v_(n-t)
    // in exact BIGINTs, one division by n
    "q172_winsorized_mean" ->
      """WITH v AS (SELECT event_type,
        |    CAST(floor(value * 1e6) AS BIGINT) AS vm FROM events),
        |t AS (SELECT event_type, COUNT(*) AS n,
        |    CAST(floor(0.1 * COUNT(*)) AS BIGINT) AS tt
        |  FROM v GROUP BY 1),
        |r AS (SELECT event_type, vm, ROW_NUMBER() OVER (
        |    PARTITION BY event_type ORDER BY vm) AS rn FROM v),
        |mid AS (SELECT r.event_type, CAST(SUM(r.vm) AS BIGINT) AS s
        |  FROM r JOIN t USING (event_type)
        |  WHERE r.rn > t.tt AND r.rn <= t.n - t.tt GROUP BY 1),
        |lo AS (SELECT r.event_type, r.vm AS v FROM r JOIN t USING (event_type)
        |  WHERE r.rn = t.tt + 1),
        |hi AS (SELECT r.event_type, r.vm AS v FROM r JOIN t USING (event_type)
        |  WHERE r.rn = t.n - t.tt)
        |SELECT t.event_type, t.n,
        |  CAST(mid.s + t.tt * lo.v + t.tt * hi.v AS DOUBLE)
        |    / CAST(t.n AS DOUBLE) AS winsorized_mean
        |FROM t JOIN mid USING (event_type) JOIN lo USING (event_type)
        |  JOIN hi USING (event_type)""".stripMargin,

    // q145's position CTE -> Wilson 95% interval, identical IEEE op
    // order and the same z / z^2 double literals on both sides
    "q175_position_ctr_wilson" ->
      """WITH imp AS (SELECT
        |    CAST(event_type = 'click' AS BIGINT) AS click,
        |    ROW_NUMBER() OVER (PARTITION BY user_id, CAST(ts AS DATE)
        |      ORDER BY ts, event_id) AS position
        |  FROM events),
        |b AS (SELECT position, COUNT(*) AS n,
        |    CAST(SUM(click) AS BIGINT) AS clicks
        |  FROM imp WHERE position <= 20 GROUP BY 1)
        |SELECT position, n, clicks,
        |  CAST(clicks AS DOUBLE) / CAST(n AS DOUBLE) AS ctr,
        |  ((CAST(clicks AS DOUBLE) / CAST(n AS DOUBLE)
        |      + 3.8415999999999997E0 / (2E0 * CAST(n AS DOUBLE)))
        |    - 1.96E0 * sqrt(
        |        CAST(clicks AS DOUBLE) / CAST(n AS DOUBLE)
        |          * (1E0 - CAST(clicks AS DOUBLE) / CAST(n AS DOUBLE))
        |          / CAST(n AS DOUBLE)
        |        + 3.8415999999999997E0
        |          / (4E0 * CAST(n AS DOUBLE) * CAST(n AS DOUBLE))))
        |  / (1E0 + 3.8415999999999997E0 / CAST(n AS DOUBLE)) AS wilson_lo,
        |  ((CAST(clicks AS DOUBLE) / CAST(n AS DOUBLE)
        |      + 3.8415999999999997E0 / (2E0 * CAST(n AS DOUBLE)))
        |    + 1.96E0 * sqrt(
        |        CAST(clicks AS DOUBLE) / CAST(n AS DOUBLE)
        |          * (1E0 - CAST(clicks AS DOUBLE) / CAST(n AS DOUBLE))
        |          / CAST(n AS DOUBLE)
        |        + 3.8415999999999997E0
        |          / (4E0 * CAST(n AS DOUBLE) * CAST(n AS DOUBLE))))
        |  / (1E0 + 3.8415999999999997E0 / CAST(n AS DOUBLE)) AS wilson_hi
        |FROM b""".stripMargin,

    // q12's quantile_cont edges on the reference side; strict-> bin
    // assignment; round(ln, 6) for the terms (libm-ulp-safe)
    "q176_psi_drift" -> {
      val edges = (1 until 10).map(i =>
        s"CAST(quantile_cont(value, ${i.toDouble / 10}) AS DOUBLE) AS e${i - 1}")
        .mkString(", ")
      val binExpr = (0 until 9).map(i =>
        s"CAST(value > e.e$i AS INTEGER)").mkString(" + ")
      s"""WITH refv AS (SELECT value FROM events WHERE event_type = 'view'),
         |curv AS (SELECT value FROM events WHERE event_type = 'click'),
         |e AS (SELECT $edges FROM refv),
         |rb AS (SELECT $binExpr AS bin, COUNT(*) AS ref_n
         |       FROM refv, e GROUP BY 1),
         |cb AS (SELECT $binExpr AS bin, COUNT(*) AS cur_n
         |       FROM curv, e GROUP BY 1),
         |spine AS (SELECT CAST(unnest(generate_series(0, 9)) AS INTEGER) AS bin),
         |j AS (SELECT s.bin,
         |    CAST(COALESCE(rb.ref_n, 0) AS BIGINT) AS ref_n,
         |    CAST(COALESCE(cb.cur_n, 0) AS BIGINT) AS cur_n
         |  FROM spine s LEFT JOIN rb USING (bin) LEFT JOIN cb USING (bin)),
         |t AS (SELECT bin, ref_n, cur_n,
         |    CAST(SUM(ref_n) OVER () AS DOUBLE) AS rt,
         |    CAST(SUM(cur_n) OVER () AS DOUBLE) AS ct FROM j)
         |SELECT bin, ref_n, cur_n,
         |  CASE WHEN ref_n > 0 AND cur_n > 0 THEN
         |    round((CAST(ref_n AS DOUBLE) / rt - CAST(cur_n AS DOUBLE) / ct)
         |      * ln((CAST(ref_n AS DOUBLE) / rt)
         |          / (CAST(cur_n AS DOUBLE) / ct)), 6)
         |  END AS psi_term
         |FROM t""".stripMargin
    },

    // one grouped pass per threshold via the thresholds spine; exact
    // counts, guarded divisions
    "q177_pr_curve" ->
      """WITH s AS (SELECT value AS score,
        |    CAST(event_type = 'click' AS BIGINT) AS y FROM events),
        |t AS (SELECT unnest([10.0E0, 50.0E0, 100.0E0, 250.0E0, 500.0E0])
        |        AS threshold),
        |c AS (SELECT t.threshold,
        |    CAST(SUM(CASE WHEN s.score >= t.threshold THEN s.y
        |             ELSE 0 END) AS BIGINT) AS tp,
        |    CAST(SUM(CASE WHEN s.score >= t.threshold THEN 1 - s.y
        |             ELSE 0 END) AS BIGINT) AS fp,
        |    CAST(SUM(CASE WHEN s.score < t.threshold THEN s.y
        |             ELSE 0 END) AS BIGINT) AS fn
        |  FROM t, s GROUP BY 1)
        |SELECT threshold, tp, fp, fn,
        |  CASE WHEN tp + fp > 0 THEN
        |    CAST(tp AS DOUBLE) / CAST(tp + fp AS DOUBLE) END AS precision,
        |  CASE WHEN tp + fn > 0 THEN
        |    CAST(tp AS DOUBLE) / CAST(tp + fn AS DOUBLE) END AS recall
        |FROM c""".stripMargin,

    // greedy MMR unrolled for k=5: s1 = raw argmax; each later slot is
    // a per-query argmax of score*(1E0 - 0.5E0*greatest(0, cos to each
    // selected)) over the pool minus the selected set. Tie order (mmr
    // DESC, score DESC, vec_id DESC) matches the kernel's
    // first-in-(score,item)-descending-order rule; cosines are the
    // same staged dot/(na*nb) fold, so the argmax compares identical
    // doubles. All literals carry exponents (DuckDB DECIMAL gotcha).
    "q178_mmr_rerank" -> {
      val steps = (2 to 5).map { n =>
        val prev = (1 until n)
        val sims = prev.map(j => sqlCosOf("p.emb", s"s$j.emb")).mkString(", ")
        val joins = prev.map(j =>
          s"JOIN s$j ON p.query_id = s$j.query_id").mkString(" ")
        val excl = prev.map(j => s"p.vec_id <> s$j.vec_id").mkString(" AND ")
        s"""c$n AS (SELECT p.query_id, p.vec_id, p.score, p.emb,
           |    p.score * (1E0 - 0.5E0 * greatest(0E0, $sims)) AS mmr
           |  FROM pool p $joins WHERE $excl),
           |s$n AS (SELECT query_id, vec_id, score, emb FROM (
           |    SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
           |      ORDER BY mmr DESC, score DESC, vec_id DESC) AS rn
           |    FROM c$n) WHERE rn = 1),""".stripMargin
      }.mkString("\n")
      val union = (1 to 5).map(n =>
        s"SELECT query_id, $n AS rank, vec_id, score FROM s$n")
        .mkString("\nUNION ALL ")
      s"""WITH q AS (SELECT vec_id AS query_id,
         |            CAST(embedding AS DOUBLE[]) AS qe
         |          FROM embeddings WHERE vec_id < 8),
         |scored AS (
         |  SELECT q.query_id, e.vec_id,
         |    ${sqlCosOf("CAST(e.embedding AS DOUBLE[])", "q.qe")} AS score,
         |    CAST(e.embedding AS DOUBLE[]) AS emb
         |  FROM embeddings e, q WHERE e.vec_id <> q.query_id),
         |pool AS (SELECT query_id, vec_id, score, emb FROM (
         |    SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
         |      ORDER BY score DESC, vec_id ASC) AS rn
         |    FROM scored) WHERE rn <= 20),
         |s1 AS (SELECT query_id, vec_id, score, emb FROM (
         |    SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
         |      ORDER BY score DESC, vec_id DESC) AS rn
         |    FROM pool) WHERE rn = 1),
         |$steps
         |sel AS ($union)
         |SELECT query_id, rank, vec_id, score FROM sel""".stripMargin
    },

    // q38's IVF CTE chain (appx) vs the brute top-10 (brute); per-query
    // full-outer overlap counts, recall = n_common / n_exact exact
    "q180_ann_recall" ->
      s"""WITH p AS (SELECT greatest(count(*) // 8, 1) AS stride FROM embeddings),
         |cent AS (SELECT e.vec_id // p.stride AS cell_id,
         |                CAST(e.embedding AS DOUBLE[]) AS centroid
         |         FROM embeddings e, p
         |         WHERE e.vec_id % p.stride = 0 AND e.vec_id < p.stride * 8),
         |asg AS (SELECT vec_id, cell_id FROM (
         |  SELECT e.vec_id, c.cell_id,
         |    ROW_NUMBER() OVER (PARTITION BY e.vec_id
         |      ORDER BY ${sqlEuclidOf("CAST(e.embedding AS DOUBLE[])", "c.centroid")} ASC,
         |               c.cell_id ASC) AS rn
         |  FROM embeddings e, cent c) WHERE rn = 1),
         |q AS (SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qe
         |      FROM embeddings WHERE vec_id < 5),
         |qc AS (SELECT query_id, cell_id FROM (
         |  SELECT q.query_id, c.cell_id,
         |    ROW_NUMBER() OVER (PARTITION BY q.query_id
         |      ORDER BY ${sqlEuclidOf("q.qe", "c.centroid")} ASC, c.cell_id ASC) AS rn
         |  FROM q, cent c) WHERE rn <= 2),
         |appx AS (SELECT query_id, vec_id FROM (
         |  SELECT s.query_id, s.vec_id, ROW_NUMBER() OVER (
         |    PARTITION BY s.query_id ORDER BY s.score DESC, s.vec_id ASC) AS rank
         |  FROM (SELECT qc.query_id, a.vec_id,
         |      ${sqlCosOf("CAST(e.embedding AS DOUBLE[])", "q2.qe")} AS score
         |    FROM asg a JOIN qc ON a.cell_id = qc.cell_id
         |    JOIN embeddings e ON a.vec_id = e.vec_id
         |    JOIN q q2 ON qc.query_id = q2.query_id) s) WHERE rank <= 10),
         |brute AS (SELECT query_id, vec_id FROM (
         |  SELECT q.query_id, e.vec_id, ROW_NUMBER() OVER (
         |    PARTITION BY q.query_id ORDER BY
         |      ${sqlCosOf("CAST(e.embedding AS DOUBLE[])", "q.qe")} DESC,
         |      e.vec_id ASC) AS rank
         |  FROM embeddings e, q) WHERE rank <= 10),
         |j AS (SELECT coalesce(a.query_id, b.query_id) AS query_id,
         |        a.vec_id AS av, b.vec_id AS bv
         |      FROM appx a FULL JOIN brute b
         |        ON a.query_id = b.query_id AND a.vec_id = b.vec_id)
         |SELECT query_id,
         |  CAST(COUNT(av) AS BIGINT) AS n_approx,
         |  CAST(COUNT(bv) AS BIGINT) AS n_exact,
         |  CAST(SUM(CASE WHEN av IS NOT NULL AND bv IS NOT NULL
         |       THEN 1 ELSE 0 END) AS BIGINT) AS n_common,
         |  CASE WHEN COUNT(bv) > 0 THEN
         |    CAST(SUM(CASE WHEN av IS NOT NULL AND bv IS NOT NULL
         |         THEN 1 ELSE 0 END) AS DOUBLE) / CAST(COUNT(bv) AS DOUBLE)
         |  END AS recall
         |FROM j GROUP BY 1""".stripMargin,

    // one aggregate pass per column, unioned — exact counts and
    // double min/max, no approximation
    "q181_column_profile" -> {
      val cols = Seq("l_quantity", "l_extendedprice", "l_discount", "l_tax")
      cols.map { c =>
        s"""SELECT '$c' AS col_name, COUNT(*) AS n,
           |  COUNT(*) - COUNT($c) AS n_null,
           |  COUNT(DISTINCT $c) AS n_distinct,
           |  CAST(MIN($c) AS DOUBLE) AS min_v,
           |  CAST(MAX($c) AS DOUBLE) AS max_v
           |FROM lineitem""".stripMargin
      }.mkString("\nUNION ALL\n")
    },

    // two unrolled Lloyd rounds on the q38 seed: per-round argmin
    // assignment (same euclid fold) then q98's fixed-point mean per
    // (cell, dim); empty cells carry the previous centroid forward
    "q182_kmeans_refine" ->
      s"""WITH $sqlKmeansC2Ctes
         |fin AS (SELECT cell_id, generate_subscripts(centroid, 1) AS pp,
         |          unnest(centroid) AS c_val FROM c2)
         |SELECT cell_id, CAST(pp - 1 AS INT) AS idx, c_val FROM fin""".stripMargin,

    // q182's learned cells (a3 = final assignment on c2), then q18's
    // within-block staged-cosine pair scan blocked by cell
    "q184_semantic_neardup" ->
      s"""WITH $sqlKmeansC2Ctes
         |a3 AS (SELECT vec_id, cell_id FROM (
         |  SELECT e.vec_id, c.cell_id, ROW_NUMBER() OVER (
         |    PARTITION BY e.vec_id
         |    ORDER BY ${sqlEuclidOf("e.emb", "c.centroid")} ASC,
         |             c.cell_id ASC) AS rn
         |  FROM e, c2 c) WHERE rn = 1),
         |s AS (SELECT a3.cell_id, e.vec_id, e.emb FROM a3
         |      JOIN e ON a3.vec_id = e.vec_id)
         |SELECT id_a, id_b, cosine FROM (
         |  SELECT a.vec_id AS id_a, b.vec_id AS id_b,
         |    ${sqlDotOf("a.emb", "b.emb")}
         |      / (${sqlL2Of("a.emb")} * ${sqlL2Of("b.emb")}) AS cosine
         |  FROM s a JOIN s b
         |    ON a.cell_id = b.cell_id AND a.vec_id < b.vec_id)
         |WHERE cosine > 0.3E0""".stripMargin,

    // the q184 chain with the cell count computed FROM THE DATA by the
    // same integer-ceil rule as SimilaritySearch.autoCells — the
    // auto-scaled config's blocking is engine-reproducible at any sf
    "q285_semantic_neardup_auto" ->
      s"""WITH ${sqlKmeansC2CtesFor(
             "LEAST(1024, GREATEST(8, (n + 31) // 32))")}
         |a3 AS (SELECT vec_id, cell_id FROM (
         |  SELECT e.vec_id, c.cell_id, ROW_NUMBER() OVER (
         |    PARTITION BY e.vec_id
         |    ORDER BY ${sqlEuclidOf("e.emb", "c.centroid")} ASC,
         |             c.cell_id ASC) AS rn
         |  FROM e, c2 c) WHERE rn = 1),
         |s AS (SELECT a3.cell_id, e.vec_id, e.emb FROM a3
         |      JOIN e ON a3.vec_id = e.vec_id)
         |SELECT id_a, id_b, cosine FROM (
         |  SELECT a.vec_id AS id_a, b.vec_id AS id_b,
         |    ${sqlDotOf("a.emb", "b.emb")}
         |      / (${sqlL2Of("a.emb")} * ${sqlL2Of("b.emb")}) AS cosine
         |  FROM s a JOIN s b
         |    ON a.cell_id = b.cell_id AND a.vec_id < b.vec_id)
         |WHERE cosine > 0.3E0""".stripMargin,

    // the q285 chain with the level-1 cell count = the BALANCED k1
    // (max(ceil(sqrt(k)), ceil(k/32)) capped at 32 — ceil(sqrt()) is
    // IEEE-exact in both engines, so SQL derives the same integer),
    // then the grouped level-2 Lloyd rounds partitioned by parent
    // cell (per-parent census -> k2/stride by the same integer rules
    // as IvfIndex.buildGroupedKMeans, rank-stride seeds, two
    // fixed-point mean rounds), pairs within leaf = parent*32 + sub
    "q287_semantic_neardup_twolevel" -> {
      def subRound(i: Int, prev: String) =
        s"""b$i AS (SELECT pc, vec_id, sc FROM (
           |  SELECT g.pc, g.vec_id, c.sc, ROW_NUMBER() OVER (
           |    PARTITION BY g.vec_id
           |    ORDER BY ${sqlEuclidOf("g.emb", "c.centroid")} ASC,
           |             c.sc ASC) AS rn
           |  FROM g JOIN $prev c USING (pc)) WHERE rn = 1),
           |n$i AS (SELECT pc, sc, list(mv ORDER BY pp) AS centroid FROM (
           |    SELECT b.pc, b.sc, u.pp,
           |      CAST(SUM(u.x) AS DOUBLE)
           |        / (CAST(COUNT(u.x) AS DOUBLE) * 1000000.0E0) AS mv
           |    FROM b$i b JOIN u USING (vec_id) GROUP BY 1, 2, 3)
           |  GROUP BY pc, sc),
           |s$i AS (SELECT p.pc, p.sc, coalesce(n$i.centroid, p.centroid)
           |          AS centroid
           |        FROM $prev p LEFT JOIN n$i
           |          ON n$i.pc = p.pc AND n$i.sc = p.sc),""".stripMargin
      s"""WITH ${sqlKmeansC2CtesFor(
             "LEAST(32, GREATEST(" +
               "CAST(CEIL(SQRT(CAST(GREATEST(8, (n + 7) // 8) AS DOUBLE)))" +
               " AS BIGINT), (GREATEST(8, (n + 7) // 8) + 31) // 32))")}
         |a3 AS (SELECT vec_id, cell_id FROM (
         |  SELECT e.vec_id, c.cell_id, ROW_NUMBER() OVER (
         |    PARTITION BY e.vec_id
         |    ORDER BY ${sqlEuclidOf("e.emb", "c.centroid")} ASC,
         |             c.cell_id ASC) AS rn
         |  FROM e, c2 c) WHERE rn = 1),
         |g AS (SELECT a3.cell_id AS pc, e.vec_id, e.emb FROM a3
         |      JOIN e ON a3.vec_id = e.vec_id),
         |gk AS (SELECT pc,
         |    LEAST(GREATEST((count(*) + 7) // 8, 1), 32) AS k2,
         |    GREATEST(count(*)
         |      // LEAST(GREATEST((count(*) + 7) // 8, 1), 32), 1) AS stride
         |  FROM g GROUP BY 1),
         |gr AS (SELECT pc, vec_id, emb,
         |    ROW_NUMBER() OVER (PARTITION BY pc ORDER BY vec_id) - 1 AS r
         |  FROM g),
         |s0 AS (SELECT gr.pc, gr.r // gk.stride AS sc, gr.emb AS centroid
         |       FROM gr JOIN gk USING (pc)
         |       WHERE gr.r % gk.stride = 0 AND gr.r < gk.stride * gk.k2),
         |${subRound(1, "s0")}
         |${subRound(2, "s1")}
         |bf AS (SELECT pc, vec_id, sc FROM (
         |  SELECT g.pc, g.vec_id, c.sc, ROW_NUMBER() OVER (
         |    PARTITION BY g.vec_id
         |    ORDER BY ${sqlEuclidOf("g.emb", "c.centroid")} ASC,
         |             c.sc ASC) AS rn
         |  FROM g JOIN s2 c USING (pc)) WHERE rn = 1),
         |lf AS (SELECT b.pc * 32 + b.sc AS leaf, e.vec_id, e.emb
         |       FROM bf b JOIN e ON b.vec_id = e.vec_id)
         |SELECT id_a, id_b, cosine FROM (
         |  SELECT a.vec_id AS id_a, b.vec_id AS id_b,
         |    ${sqlDotOf("a.emb", "b.emb")}
         |      / (${sqlL2Of("a.emb")} * ${sqlL2Of("b.emb")}) AS cosine
         |  FROM lf a JOIN lf b
         |    ON a.leaf = b.leaf AND a.vec_id < b.vec_id)
         |WHERE cosine > 0.3E0""".stripMargin
    },

    // both retriever rank lists in SQL (same tie orders as topK), FULL
    // JOIN on (query, item), rrf summed left-to-right with absent
    // entries as 0 — identical IEEE order to reciprocalRankFusion
    "q185_rrf_fusion" ->
      s"""WITH q AS (SELECT vec_id AS query_id,
         |            CAST(embedding AS DOUBLE[]) AS qe
         |          FROM embeddings WHERE vec_id < 8),
         |e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb
         |      FROM embeddings),
         |cosr AS (SELECT query_id, vec_id, rank FROM (
         |  SELECT q.query_id, e.vec_id, ROW_NUMBER() OVER (
         |    PARTITION BY q.query_id ORDER BY
         |      ${sqlCosOf("e.emb", "q.qe")} DESC, e.vec_id ASC) AS rank
         |  FROM e, q WHERE e.vec_id <> q.query_id) WHERE rank <= 10),
         |dotr AS (SELECT query_id, vec_id, rank FROM (
         |  SELECT q.query_id, e.vec_id, ROW_NUMBER() OVER (
         |    PARTITION BY q.query_id ORDER BY
         |      ${sqlDotOf("e.emb", "q.qe")} DESC, e.vec_id ASC) AS rank
         |  FROM e, q WHERE e.vec_id <> q.query_id) WHERE rank <= 10),
         |f AS (SELECT coalesce(a.query_id, b.query_id) AS query_id,
         |        coalesce(a.vec_id, b.vec_id) AS vec_id,
         |        coalesce(1.0E0 / (60.0E0 + CAST(a.rank AS DOUBLE)), 0.0E0)
         |          + coalesce(1.0E0 / (60.0E0 + CAST(b.rank AS DOUBLE)), 0.0E0)
         |          AS rrf_score
         |      FROM cosr a FULL JOIN dotr b
         |        ON a.query_id = b.query_id AND a.vec_id = b.vec_id)
         |SELECT query_id, vec_id, rrf_score,
         |  CAST(fused_rank AS INT) AS fused_rank FROM (
         |  SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
         |    ORDER BY rrf_score DESC, vec_id ASC) AS fused_rank FROM f)
         |WHERE fused_rank <= 10""".stripMargin,

    // every position's trailing-window hash tested independently (the
    // same md5-arithmetic as Spark), cut list folded into aligned
    // (start, end) slices per doc
    "q186_cdc_chunks" -> (sqlCdcChunkCtes +
      """
        |SELECT doc_id, CAST(chunk_idx AS INT) AS chunk_idx,
        |  CAST(st AS BIGINT) AS start, CAST(en - st AS BIGINT) AS len,
        |  CAST(('0x'||substr(md5(substr(text, CAST(st + 1 AS INT),
        |    CAST(en - st AS INT))), 1, 15)) AS BIGINT) AS chunk_h
        |FROM z""".stripMargin),

    // q186's chunk table grouped by content hash; exact char accounting
    "q187_cdc_dedup" -> (sqlCdcChunkCtes + "," +
      """
        |ch2 AS (SELECT CAST(('0x'||substr(md5(substr(text,
        |    CAST(st + 1 AS INT), CAST(en - st AS INT))), 1, 15)) AS BIGINT)
        |    AS chunk_h, en - st AS len FROM z),
        |g AS (SELECT chunk_h, COUNT(*) AS n, MAX(len) AS l
        |      FROM ch2 GROUP BY 1)
        |SELECT CAST(SUM(n) AS BIGINT) AS n_chunks,
        |  CAST(COUNT(*) AS BIGINT) AS n_distinct,
        |  CAST(SUM(n * l) AS BIGINT) AS total_chars,
        |  CAST(SUM(l) AS BIGINT) AS distinct_chars,
        |  CAST(SUM(l) AS DOUBLE) / CAST(SUM(n * l) AS DOUBLE) AS dedup_ratio
        |FROM g""".stripMargin),

    // q72's sketch CTEs paired; theta-intersection arithmetic matches
    // kmvIntersectEstimate term for term; exact leg from the distinct
    // (segment, user) self-join
    "q188_audience_overlap" ->
      s"""WITH h AS (
         |  SELECT DISTINCT event_type,
         |    ${sqlHash32(7, "CAST(user_id AS VARCHAR)")} AS h
         |  FROM events),
         |r AS (
         |  SELECT event_type, h,
         |    row_number() OVER (PARTITION BY event_type ORDER BY h) AS rn
         |  FROM h),
         |mins AS (
         |  SELECT event_type, list(h ORDER BY h) AS mins,
         |    CASE WHEN COUNT(*) < 64 THEN 4294967296.0E0
         |         ELSE CAST(MAX(h) AS DOUBLE) END AS theta
         |  FROM r WHERE rn <= 64 GROUP BY event_type),
         |p AS (
         |  SELECT a.event_type AS seg_a, b.event_type AS seg_b,
         |    a.mins AS ma, b.mins AS mb,
         |    least(a.theta, b.theta) AS t
         |  FROM mins a JOIN mins b ON a.event_type < b.event_type),
         |est AS (
         |  SELECT seg_a, seg_b,
         |    CAST(len(list_filter(list_intersect(ma, mb),
         |      v -> CAST(v AS DOUBLE) < t)) AS DOUBLE) * 4294967296.0E0 / t
         |      AS kmv_overlap
         |  FROM p),
         |du AS (SELECT DISTINCT event_type, user_id FROM events),
         |ex AS (
         |  SELECT a.event_type AS seg_a, b.event_type AS seg_b,
         |    COUNT(*) AS exact_overlap
         |  FROM du a JOIN du b
         |    ON a.user_id = b.user_id AND a.event_type < b.event_type
         |  GROUP BY 1, 2)
         |SELECT est.seg_a, est.seg_b,
         |  CAST(coalesce(ex.exact_overlap, 0) AS BIGINT) AS exact_overlap,
         |  est.kmv_overlap
         |FROM est LEFT JOIN ex USING (seg_a, seg_b)""".stripMargin,

    // per-column value histogram -> per-value micro-nat -p*ln(p) terms
    // (rounded before the sum, order-free), unioned column stack
    "q189_categorical_entropy" -> {
      val cols = Seq("l_returnflag", "l_linestatus", "l_linenumber")
      val stack = cols.map(c =>
        s"SELECT '$c' AS col_name, CAST($c AS VARCHAR) AS v FROM lineitem")
        .mkString("\n  UNION ALL ")
      s"""WITH p AS (
         |  $stack),
         |c AS (SELECT col_name, v, COUNT(*) AS c FROM p
         |      WHERE v IS NOT NULL GROUP BY 1, 2),
         |t AS (SELECT col_name, CAST(SUM(c) AS BIGINT) AS t
         |      FROM c GROUP BY 1),
         |m AS (SELECT c.col_name, t.t,
         |    CAST(round((CAST(c.c AS DOUBLE) / CAST(t.t AS DOUBLE))
         |      * -ln(CAST(c.c AS DOUBLE) / CAST(t.t AS DOUBLE))
         |      * 1.0E6) AS BIGINT) AS term
         |  FROM c JOIN t USING (col_name))
         |SELECT col_name, MAX(t) AS n, COUNT(*) AS n_distinct,
         |  CAST(SUM(term) AS BIGINT) AS entropy_micro,
         |  CAST(SUM(term) AS DOUBLE) / 1.0E6 AS entropy
         |FROM m GROUP BY 1""".stripMargin
    },

    // cell counts once; marginals from the cell table; per-cell
    // micro-nat p*ln(p/(pa*pb)) terms rounded before the sum
    "q190_mutual_info" ->
      """WITH c AS (SELECT CAST(lang AS VARCHAR) AS a,
        |    CAST(source AS VARCHAR) AS b, COUNT(*) AS c
        |  FROM documents WHERE lang IS NOT NULL AND source IS NOT NULL
        |  GROUP BY 1, 2),
        |ma AS (SELECT a, CAST(SUM(c) AS BIGINT) AS ca FROM c GROUP BY 1),
        |mb AS (SELECT b, CAST(SUM(c) AS BIGINT) AS cb FROM c GROUP BY 1),
        |t AS (SELECT CAST(SUM(c) AS BIGINT) AS t FROM c),
        |m AS (SELECT c.a, c.b, t.t,
        |    CAST(round((CAST(c.c AS DOUBLE) / CAST(t.t AS DOUBLE))
        |      * ln((CAST(c.c AS DOUBLE) / CAST(t.t AS DOUBLE))
        |        / ((CAST(ma.ca AS DOUBLE) / CAST(t.t AS DOUBLE))
        |          * (CAST(mb.cb AS DOUBLE) / CAST(t.t AS DOUBLE))))
        |      * 1.0E6) AS BIGINT) AS term
        |  FROM c JOIN ma USING (a) JOIN mb USING (b), t)
        |SELECT MAX(t) AS n, COUNT(*) AS n_cells,
        |  COUNT(DISTINCT a) AS card_a, COUNT(DISTINCT b) AS card_b,
        |  CAST(SUM(term) AS BIGINT) AS mi_micro,
        |  CAST(SUM(term) AS DOUBLE) / 1.0E6 AS mi
        |FROM m""".stripMargin,

    // q99's span CTEs -> per-doc span list -> row-local index filter
    // (nested-lambda capture) -> rejoin survivors
    "q191_span_removal" ->
      s"""WITH $sqlDupSpanZCtes,
         |spans AS (SELECT doc_id, MIN(pos) AS s, MAX(pos) + 4 AS e
         |          FROM z GROUP BY doc_id, isl),
         |sp AS (SELECT doc_id, list([s, e]) AS sps FROM spans GROUP BY 1),
         |c AS (SELECT t.doc_id, t.tk, coalesce(sp.sps, []) AS sps
         |      FROM t LEFT JOIN sp USING (doc_id)),
         |k AS (SELECT doc_id, tk,
         |        list_filter(generate_series(1, len(tk)),
         |          i -> len(list_filter(sps,
         |            s -> i - 1 >= s[1] AND i - 1 <= s[2])) = 0) AS kept
         |      FROM c)
         |SELECT doc_id, CAST(len(tk) AS INT) AS n_tokens,
         |  CAST(len(tk) - len(kept) AS INT) AS n_removed,
         |  coalesce(array_to_string(list_transform(kept, i -> tk[i]), ' '),
         |    '') AS cleaned_text
         |FROM k""".stripMargin,

    // per-user window sums; LOO = (sum - own)/(n-1); smoothing prior
    // = alpha * exact global mean, identical IEEE order
    "q192_target_encode" ->
      """WITH e AS (SELECT event_id, user_id,
        |    CAST(event_type = 'click' AS BIGINT) AS y FROM events),
        |g AS (SELECT CAST(SUM(y) AS BIGINT) AS gsum, COUNT(*) AS gn FROM e),
        |w AS (SELECT event_id, user_id, y,
        |    CAST(SUM(y) OVER (PARTITION BY user_id) AS BIGINT) AS s,
        |    CAST(COUNT(*) OVER (PARTITION BY user_id) AS BIGINT) AS c
        |  FROM e)
        |SELECT event_id, user_id, y,
        |  CASE WHEN c > 1 THEN
        |    CAST(s - y AS DOUBLE) / CAST(c - 1 AS DOUBLE) END AS loo_mean,
        |  (CAST(s - y AS DOUBLE)
        |      + 20.0E0 * (CAST(gsum AS DOUBLE) / CAST(gn AS DOUBLE)))
        |    / (CAST(c - 1 AS DOUBLE) + 20.0E0) AS smoothed_mean
        |FROM w, g""".stripMargin,

    // category counts once; rare pool + corpus total as a one-row
    // aggregate; mapping joined back per row
    "q193_frequency_encode" ->
      """WITH c AS (SELECT CAST(source AS VARCHAR) AS k, COUNT(*) AS c0
        |           FROM documents GROUP BY 1),
        |t AS (SELECT CAST(SUM(c0) AS BIGINT) AS t,
        |        CAST(coalesce(SUM(CASE WHEN c0 < 25 THEN c0 END), 0)
        |          AS BIGINT) AS rare
        |      FROM c),
        |m AS (SELECT k,
        |        CASE WHEN c0 >= 25 THEN k ELSE '__rare__' END AS encoded_cat,
        |        CASE WHEN c0 >= 25 THEN c0 ELSE t.rare END AS cat_count,
        |        t.t FROM c, t)
        |SELECT d.doc_id, d.source, m.encoded_cat,
        |  CAST(m.cat_count AS BIGINT) AS cat_count,
        |  CAST(m.cat_count AS DOUBLE) / CAST(m.t AS DOUBLE) AS cat_freq
        |FROM documents d JOIN m ON CAST(d.source AS VARCHAR) = m.k""".stripMargin,

    // per-rank precision terms micro-rounded before the group sum;
    // AP = micro-sum / 1e6 / min(R, k) — identical IEEE order
    "q194_map_at_k" ->
      """WITH s AS (SELECT event_type,
        |    CAST(user_id % 5 = 0 AS BIGINT) AS y,
        |    ROW_NUMBER() OVER (PARTITION BY event_type
        |      ORDER BY value DESC, event_id ASC) AS r,
        |    SUM(CAST(user_id % 5 = 0 AS BIGINT)) OVER (
        |      PARTITION BY event_type
        |      ORDER BY value DESC, event_id ASC
        |      ROWS UNBOUNDED PRECEDING) AS cum
        |  FROM events)
        |SELECT event_type,
        |  CAST(SUM(y) AS BIGINT) AS n_pos,
        |  CAST(SUM(CASE WHEN r <= 20 THEN y ELSE 0 END) AS BIGINT)
        |    AS n_pos_at_k,
        |  CASE WHEN LEAST(SUM(y), 20) > 0 THEN
        |    CAST(SUM(CASE WHEN r <= 20 AND y = 1 THEN
        |      CAST(ROUND(CAST(cum AS DOUBLE) / CAST(r AS DOUBLE) * 1e6)
        |        AS BIGINT) ELSE 0 END) AS DOUBLE) / 1e6
        |      / CAST(LEAST(SUM(y), 20) AS DOUBLE)
        |  END AS ap
        |FROM s GROUP BY event_type""".stripMargin,

    // one moment scan (xsum staging), pairs unpivot from the one-row
    // aggregate; r recomputed with the identical IEEE expression tree
    "q195_corr_matrix" -> {
      val cs = Seq("l_quantity", "l_extendedprice", "l_discount", "l_tax")
      val ps = for { i <- cs.indices; j <- (i + 1) until cs.size }
        yield (cs(i), cs(j))
      val moments = Seq("CAST(COUNT(*) AS BIGINT) AS n") ++
        cs.flatMap { c => Seq(
          s"${sqlSum(s"__$c")} AS s_$c",
          s"${sqlSum(s"__$c * __$c")} AS ss_$c") } ++
        ps.map { case (a, b) => s"${sqlSum(s"__$a * __$b")} AS sp_${a}__$b" }
      val selects = ps.map { case (a, b) =>
        val (va, vb) = (s"(CAST(n AS DOUBLE) * ss_$a - s_$a * s_$a)",
          s"(CAST(n AS DOUBLE) * ss_$b - s_$b * s_$b)")
        s"""SELECT '$a' AS col_a, '$b' AS col_b, n,
           |  CASE WHEN $va > 0 AND $vb > 0 THEN
           |    (CAST(n AS DOUBLE) * sp_${a}__$b - s_$a * s_$b)
           |      / SQRT($va * $vb)
           |  END AS corr FROM m""".stripMargin }
      s"""WITH c AS (SELECT
         |    ${cs.map(c => s"CAST($c AS DOUBLE) AS __$c").mkString(", ")}
         |  FROM lineitem
         |  WHERE ${cs.map(c => s"$c IS NOT NULL").mkString(" AND ")}),
         |m AS (SELECT ${moments.mkString(", ")} FROM c)
         |${selects.mkString("\n", "\nUNION ALL\n", "")}""".stripMargin
    },

    // exact integer CDF gap: max |Ca(v)*nb - Cb(v)*na|, one division
    "q196_ks_drift" ->
      """WITH p AS (SELECT value AS v,
        |    CAST(event_type = 'click' AS BIGINT) AS ia
        |  FROM events WHERE event_type IN ('click', 'view')
        |    AND value IS NOT NULL),
        |c AS (SELECT v, CAST(SUM(ia) AS BIGINT) AS ca,
        |    CAST(SUM(1 - ia) AS BIGINT) AS cb FROM p GROUP BY v),
        |t AS (SELECT CAST(SUM(ca) AS BIGINT) AS na,
        |    CAST(SUM(cb) AS BIGINT) AS nb FROM c),
        |cum AS (SELECT t.na, t.nb,
        |    SUM(ca * t.nb - cb * t.na) OVER (
        |      ORDER BY v ROWS UNBOUNDED PRECEDING) AS cd
        |  FROM c, t)
        |SELECT MAX(na) AS n_a, MAX(nb) AS n_b,
        |  CAST(MAX(ABS(cd)) AS BIGINT) AS ks_num,
        |  CAST(MAX(ABS(cd)) AS DOUBLE)
        |    / CAST(MAX(na) * MAX(nb) AS DOUBLE) AS ks
        |FROM cum""".stripMargin,

    // per-category micro-nat terms, order-free integer sum
    "q197_js_divergence" ->
      """WITH p AS (SELECT event_type AS cat,
        |    CAST(user_id % 2 = 0 AS BIGINT) AS ia
        |  FROM events WHERE event_type IS NOT NULL),
        |c AS (SELECT cat, CAST(SUM(ia) AS BIGINT) AS ca,
        |    CAST(SUM(1 - ia) AS BIGINT) AS cb FROM p GROUP BY cat),
        |t AS (SELECT CAST(SUM(ca) AS BIGINT) AS na,
        |    CAST(SUM(cb) AS BIGINT) AS nb FROM c),
        |x AS (SELECT t.na, t.nb,
        |    CAST(ROUND((CASE WHEN ca > 0 THEN
        |        0.5 * (CAST(ca AS DOUBLE) / CAST(t.na AS DOUBLE))
        |        * LN((CAST(ca AS DOUBLE) / CAST(t.na AS DOUBLE))
        |          / ((CAST(ca AS DOUBLE) / CAST(t.na AS DOUBLE)
        |            + CAST(cb AS DOUBLE) / CAST(t.nb AS DOUBLE)) / 2.0))
        |      ELSE 0.0 END
        |      + CASE WHEN cb > 0 THEN
        |        0.5 * (CAST(cb AS DOUBLE) / CAST(t.nb AS DOUBLE))
        |        * LN((CAST(cb AS DOUBLE) / CAST(t.nb AS DOUBLE))
        |          / ((CAST(ca AS DOUBLE) / CAST(t.na AS DOUBLE)
        |            + CAST(cb AS DOUBLE) / CAST(t.nb AS DOUBLE)) / 2.0))
        |      ELSE 0.0 END) * 1e6) AS BIGINT) AS term
        |  FROM c, t)
        |SELECT MAX(na) AS n_a, MAX(nb) AS n_b,
        |  CAST(COUNT(*) AS BIGINT) AS n_cats,
        |  CAST(SUM(term) AS BIGINT) AS jsd_micro,
        |  CAST(SUM(term) AS DOUBLE) / 1e6 AS jsd
        |FROM x""".stripMargin,

    // two-pass equal-width histogram: one-row range, bin arithmetic
    // as the identical IEEE expression tree
    "q198_feature_histogram" ->
      """WITH p AS (SELECT CAST(value AS DOUBLE) AS x,
        |    CAST(event_type = 'purchase' AS BIGINT) AS y
        |  FROM events WHERE value IS NOT NULL),
        |r AS (SELECT MIN(x) AS mn, MAX(x) AS mx FROM p),
        |b AS (SELECT CAST(CASE WHEN r.mx = r.mn THEN 0
        |      ELSE LEAST(FLOOR((x - r.mn) / ((r.mx - r.mn) / 16.0)), 15)
        |    END AS BIGINT) AS bin, y, r.mn, r.mx FROM p, r),
        |g AS (SELECT bin, MAX(mn) AS mn, MAX(mx) AS mx, COUNT(*) AS n,
        |    CAST(SUM(y) AS BIGINT) AS n_pos FROM b GROUP BY bin)
        |SELECT bin,
        |  mn + CAST(bin AS DOUBLE) * ((mx - mn) / 16.0) AS lo,
        |  mn + CAST(bin + 1 AS DOUBLE) * ((mx - mn) / 16.0) AS hi,
        |  n, n_pos,
        |  CAST(n_pos AS DOUBLE) / CAST(n AS DOUBLE) AS pos_rate
        |FROM g""".stripMargin,

    // sketch rebuilt in SQL: same "0:d:item" md5 bucket per depth row,
    // estimate = MIN over the 4 probed counters
    "q200_count_min" ->
      """WITH v AS (SELECT CAST(p_brand AS VARCHAR) AS item FROM part
        |           WHERE p_brand IS NOT NULL),
        |e AS (SELECT item, COUNT(*) AS exact FROM v GROUP BY item),
        |dd AS (SELECT unnest([0, 1, 2, 3]) AS d),
        |tab AS (SELECT d,
        |    CAST(('0x'||substr(md5('0:'||CAST(d AS VARCHAR)||':'||item),
        |      1, 8)) AS BIGINT) % 16 AS bucket, COUNT(*) AS c
        |  FROM v, dd GROUP BY 1, 2),
        |probes AS (SELECT e.item, e.exact, dd.d,
        |    CAST(('0x'||substr(md5('0:'||CAST(dd.d AS VARCHAR)||':'
        |      ||e.item), 1, 8)) AS BIGINT) % 16 AS bucket
        |  FROM e, dd)
        |SELECT p.item, CAST(p.exact AS BIGINT) AS exact,
        |  CAST(MIN(t.c) AS BIGINT) AS est,
        |  CAST(MIN(t.c) - p.exact AS BIGINT) AS overcount
        |FROM probes p JOIN tab t ON p.d = t.d AND p.bucket = t.bucket
        |GROUP BY p.item, p.exact""".stripMargin,

    // per-(replicate, row) Poisson weight from the same "b:id" md5;
    // PINNED CDF threshold literals (OraclePins) — the engine derives
    // its thresholds live from the e^-1 series, so a CDF-generation
    // mutation drifts it off this pin (live-call = q281 tautology)
    "q201_poisson_bootstrap" -> {
      // E0 suffix: parse as DOUBLE, not DECIMAL (decimal->double
      // conversion can land 1 ulp off the text->double parse)
      val wExpr = OraclePins.q201PoissonCdf
        .map(c => s"(CASE WHEN u >= ${c}E0 THEN 1 ELSE 0 END)")
        .mkString(" + ")
      s"""WITH bs AS (SELECT unnest(generate_series(0, 31)) AS b),
         |p AS (SELECT CAST(event_id AS VARCHAR) AS id,
         |    CAST(ROUND(CAST(value AS DOUBLE) * 1e6) AS BIGINT) AS xm
         |  FROM events WHERE value IS NOT NULL),
         |u AS (SELECT b, xm,
         |    CAST(('0x'||substr(md5(CAST(b AS VARCHAR)||':'||id), 1, 8))
         |      AS BIGINT) / 4294967296.0 AS u FROM p, bs),
         |w AS (SELECT b, xm, ($wExpr) AS w FROM u)
         |SELECT CAST(b AS INT) AS rep, CAST(SUM(w) AS BIGINT) AS n_eff,
         |  CASE WHEN SUM(w) > 0 THEN
         |    CAST(SUM(w * xm) AS DOUBLE) / 1e6 / CAST(SUM(w) AS DOUBLE)
         |  END AS mean_boot
         |FROM w GROUP BY b""".stripMargin
    },

    // decimal-staged window sums; z recomputed with the identical
    // IEEE chain; is_anomaly from the z CTE column
    "q202_rolling_zscore" ->
      """WITH e AS (SELECT user_id, event_id, ts,
        |    CAST(value AS DOUBLE) AS v FROM events),
        |w AS (SELECT user_id, event_id, v,
        |    COUNT(*) OVER win AS cnt,
        |    CAST(SUM(CAST(ROUND(v, 6) AS DECIMAL(38,6))) OVER win
        |      AS DOUBLE) AS s,
        |    CAST(SUM(CAST(ROUND(v * v, 6) AS DECIMAL(38,6))) OVER win
        |      AS DOUBLE) AS ss
        |  FROM e WINDOW win AS (PARTITION BY user_id
        |    ORDER BY ts ASC, event_id ASC
        |    ROWS BETWEEN 7 PRECEDING AND CURRENT ROW)),
        |z AS (SELECT user_id, event_id, v,
        |    CASE WHEN cnt = 8 THEN s / 8.0 END AS roll_mean,
        |    CASE WHEN cnt = 8 AND (8.0 * ss - s * s) / (8.0 * 8.0) > 0
        |      THEN (v - s / 8.0)
        |        / SQRT((8.0 * ss - s * s) / (8.0 * 8.0)) END AS z
        |  FROM w)
        |SELECT user_id, event_id, v AS value, roll_mean, z,
        |  CASE WHEN z IS NOT NULL THEN CAST(ABS(z) > 3.0 AS INT) END
        |    AS is_anomaly
        |FROM z""".stripMargin,

    // micro-unit integer staging makes the first significant digit a
    // string head — no log10 boundary hazards
    "q203_benford" -> {
      // E0 suffix: DOUBLE literals, not DECIMAL (see q201 note).
      // PINNED P(d) literals (OraclePins) — the engine computes
      // log10(1+1/d) live, so a formula mutation reads RED here
      val pList = OraclePins.q203BenfordP
        .map(p => s"${p}E0").mkString("[", ", ", "]")
      s"""WITH m AS (SELECT CAST(ABS(ROUND(CAST(l_extendedprice AS DOUBLE)
         |      * 1e6)) AS BIGINT) AS m
         |  FROM lineitem WHERE l_extendedprice IS NOT NULL),
         |c AS (SELECT CAST(substr(CAST(m AS VARCHAR), 1, 1) AS INT)
         |      AS digit, COUNT(*) AS n
         |  FROM m WHERE m > 0 GROUP BY 1),
         |t AS (SELECT CAST(SUM(n) AS BIGINT) AS tt FROM c),
         |x AS (SELECT digit, n, ($pList)[digit] AS expected_p,
         |    CAST(t.tt AS DOUBLE) AS td FROM c, t)
         |SELECT digit, n, expected_p,
         |  CAST(n AS DOUBLE) / td AS observed_p,
         |  (CAST(n AS DOUBLE) - expected_p * td)
         |    * (CAST(n AS DOUBLE) - expected_p * td)
         |    / (expected_p * td) AS chi2_term
         |FROM x""".stripMargin
    },

    // most-popular-complement recs -> self-information novelty terms
    // in micro-bits; coverage over the interaction catalog
    "q204_coverage_novelty" ->
      """WITH inter AS (SELECT user_id,
        |    CAST(json_extract(props, '$.k') AS BIGINT) AS item_id
        |  FROM events
        |  WHERE CAST(json_extract(props, '$.k') AS BIGINT) IS NOT NULL),
        |pop AS (SELECT item_id, COUNT(*) AS pop FROM inter GROUP BY 1),
        |topm AS (SELECT item_id, pop FROM pop
        |         ORDER BY pop DESC, item_id ASC LIMIT 20),
        |users AS (SELECT DISTINCT user_id FROM inter),
        |hist AS (SELECT DISTINCT user_id, item_id FROM inter),
        |recs AS (SELECT user_id, item_id FROM (
        |    SELECT u.user_id, t.item_id,
        |      ROW_NUMBER() OVER (PARTITION BY u.user_id
        |        ORDER BY t.pop DESC, t.item_id ASC) AS rnk
        |    FROM users u CROSS JOIN topm t
        |    WHERE NOT EXISTS (SELECT 1 FROM hist h
        |      WHERE h.user_id = u.user_id AND h.item_id = t.item_id))
        |  WHERE rnk <= 3),
        |tot AS (SELECT CAST(SUM(pop) AS BIGINT) AS t,
        |    COUNT(*) AS catalog FROM pop),
        |terms AS (SELECT r.item_id,
        |    CAST(ROUND(-LOG2(CAST(p.pop AS DOUBLE) / CAST(tt.t AS DOUBLE))
        |      * 1e6) AS BIGINT) AS term, tt.catalog
        |  FROM recs r JOIN pop p USING (item_id), tot tt)
        |SELECT CAST(COUNT(*) AS BIGINT) AS n_recs,
        |  CAST(COUNT(DISTINCT item_id) AS BIGINT) AS n_rec_items,
        |  CAST(MAX(catalog) AS BIGINT) AS n_catalog,
        |  CAST(COUNT(DISTINCT item_id) AS DOUBLE)
        |    / CAST(MAX(catalog) AS DOUBLE) AS coverage,
        |  CAST(SUM(term) AS DOUBLE) / 1e6 / CAST(COUNT(*) AS DOUBLE)
        |    AS novelty
        |FROM terms""".stripMargin,

    // distinct-value cumulative counts; the target rank in pure
    // integer arithmetic ((pm*n + 999999) // 1e6)
    "q205_group_quantiles" -> {
      val probs = Seq(0.5, 0.95, 0.99)
      val pL = probs.map(p => s"${p}E0").mkString("[", ", ", "]")
      val pmL = probs.map(p => math.round(p * 1e6)).mkString("[", ", ", "]")
      s"""WITH s AS (SELECT event_type,
         |    CAST(ROUND(CAST(value AS DOUBLE) * 1e6) AS BIGINT) AS vm
         |  FROM events WHERE value IS NOT NULL),
         |c AS (SELECT event_type, vm, COUNT(*) AS cnt
         |      FROM s GROUP BY 1, 2),
         |w AS (SELECT event_type, vm, cnt,
         |    SUM(cnt) OVER (PARTITION BY event_type ORDER BY vm
         |      ROWS UNBOUNDED PRECEDING) AS hi FROM c),
         |n AS (SELECT event_type, CAST(SUM(cnt) AS BIGINT) AS n
         |      FROM c GROUP BY 1),
         |p AS (SELECT unnest($pL) AS prob, unnest($pmL) AS pm),
         |k AS (SELECT n.event_type, n.n, p.prob,
         |    GREATEST(1, (p.pm * n.n + 999999) // 1000000) AS kk
         |  FROM n, p)
         |SELECT k.event_type, k.prob, k.n,
         |  CAST(w.vm AS DOUBLE) / 1e6 AS quantile
         |FROM k JOIN w ON w.event_type = k.event_type
         |  AND w.hi - w.cnt < k.kk AND k.kk <= w.hi""".stripMargin
    },

    // global rank -> integer bucket ((rn-1)*16 // n): equal-count bins
    "q206_equidepth_histogram" ->
      """WITH s AS (SELECT
        |    CAST(ROUND(CAST(value AS DOUBLE) * 1e6) AS BIGINT) AS xm,
        |    event_id AS id,
        |    CAST(event_type = 'purchase' AS BIGINT) AS y
        |  FROM events WHERE value IS NOT NULL),
        |r AS (SELECT xm, y,
        |    ROW_NUMBER() OVER (ORDER BY xm ASC, id ASC) AS rn FROM s),
        |t AS (SELECT CAST(COUNT(*) AS BIGINT) AS nn FROM s)
        |SELECT ((rn - 1) * 16) // t.nn AS bin, COUNT(*) AS n,
        |  CAST(SUM(y) AS BIGINT) AS n_pos,
        |  CAST(MIN(xm) AS DOUBLE) / 1e6 AS lo,
        |  CAST(MAX(xm) AS DOUBLE) / 1e6 AS hi,
        |  CAST(SUM(y) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS pos_rate
        |FROM r, t GROUP BY 1""".stripMargin,

    // per-source token mass -> micro-rounded tokens^alpha -> exact
    // normalization
    "q207_source_mixing" ->
      s"""WITH d AS (SELECT source, len($sqlWords) AS tk FROM documents),
         |g AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
         |    CAST(SUM(tk) AS BIGINT) AS n_tokens FROM d GROUP BY 1),
         |w AS (SELECT source, n_docs, n_tokens,
         |    CAST(ROUND(POWER(CAST(n_tokens AS DOUBLE), 0.5E0) * 1e6)
         |      AS BIGINT) AS wm FROM g),
         |t AS (SELECT CAST(SUM(wm) AS BIGINT) AS wt,
         |    CAST(SUM(n_tokens) AS BIGINT) AS tt FROM w)
         |SELECT source, n_docs, n_tokens,
         |  CAST(wm AS DOUBLE) / CAST(t.wt AS DOUBLE) AS weight,
         |  CAST(wm AS DOUBLE) / CAST(t.wt AS DOUBLE)
         |    * CAST(t.tt AS DOUBLE) AS expected_tokens
         |FROM w, t""".stripMargin,

    // q115's tie-aware rank AUC per md5-assigned user fold
    "q208_kfold_auc" ->
      """WITH s AS (SELECT
        |    CAST(('0x'||substr(md5('21:'||CAST(user_id AS VARCHAR)),
        |      1, 8)) AS BIGINT) % 5 AS fold, value,
        |    CAST(user_id % 5 = 0 AS BIGINT) AS y FROM events),
        |r AS (SELECT fold, y,
        |    RANK() OVER (PARTITION BY fold ORDER BY value ASC) AS r,
        |    COUNT(*) OVER (PARTITION BY fold, value) AS eq FROM s),
        |a AS (SELECT fold, CAST(SUM(y) AS BIGINT) AS n_pos,
        |    CAST(SUM(1 - y) AS BIGINT) AS n_neg,
        |    CAST(SUM(y * (2 * (r - 1) + eq + 1)) AS BIGINT) AS s2
        |  FROM r GROUP BY fold)
        |SELECT fold, n_pos, n_neg,
        |  CASE WHEN n_pos = 0 OR n_neg = 0 THEN NULL
        |    ELSE CAST(s2 - n_pos * (n_pos + 1) AS DOUBLE)
        |      / (2.0 * CAST(n_pos * n_neg AS DOUBLE)) END AS auc
        |FROM a""".stripMargin,

    // epoch = #prior conversions (window cumsum); per-epoch per-type
    // credit micro-rounded before the cross-epoch integer sum
    "q209_linear_attribution" ->
      """WITH t AS (SELECT user_id, ts, event_id, event_type,
        |    CAST(event_type = 'purchase' AS BIGINT) AS conv
        |  FROM events WHERE event_type IN ('purchase', 'click', 'view')),
        |e AS (SELECT *, COALESCE(SUM(conv) OVER (PARTITION BY user_id
        |    ORDER BY ts ASC, event_id ASC
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |    AS epoch FROM t),
        |g AS (SELECT user_id, epoch, event_type AS touch_type,
        |    COUNT(*) AS c, CAST(MAX(conv) AS BIGINT) AS anyconv
        |  FROM e GROUP BY 1, 2, 3),
        |et AS (SELECT user_id, epoch,
        |    CAST(SUM(CASE WHEN touch_type <> 'purchase' THEN c
        |      ELSE 0 END) AS BIGINT) AS nt,
        |    MAX(anyconv) AS closed FROM g GROUP BY 1, 2)
        |SELECT g.touch_type, CAST(SUM(g.c) AS BIGINT) AS n_touches,
        |  COUNT(*) AS n_epochs,
        |  CAST(SUM(CAST(ROUND(CAST(g.c AS DOUBLE) / CAST(et.nt AS DOUBLE)
        |    * 1e6) AS BIGINT)) AS DOUBLE) / 1e6 AS credit
        |FROM g JOIN et USING (user_id, epoch)
        |WHERE g.touch_type <> 'purchase' AND et.closed = 1 AND et.nt > 0
        |GROUP BY g.touch_type""".stripMargin,

    // q51's lag-gap sessions -> per-session depth/duration -> one
    // exact summary row
    "q210_session_stats" ->
      """WITH x AS (SELECT user_id, event_id, ts,
        |    lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
        |      AS prev FROM events),
        |s AS (SELECT user_id, ts,
        |    CAST(SUM(CASE WHEN prev IS NULL OR ts > prev + INTERVAL 1 HOUR
        |      THEN 1 ELSE 0 END)
        |      OVER (PARTITION BY user_id ORDER BY ts, event_id
        |        ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_idx
        |  FROM x),
        |p AS (SELECT user_id, session_idx, COUNT(*) AS n,
        |    CAST(epoch_ms(MAX(ts)) - epoch_ms(MIN(ts)) AS BIGINT)
        |      AS dur_ms
        |  FROM s GROUP BY 1, 2)
        |SELECT CAST(COUNT(*) AS BIGINT) AS n_sessions,
        |  CAST(SUM(n) AS BIGINT) AS n_events,
        |  CAST(SUM(CASE WHEN n = 1 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_bounce,
        |  CAST(SUM(CASE WHEN n = 1 THEN 1 ELSE 0 END) AS DOUBLE)
        |    / CAST(COUNT(*) AS DOUBLE) AS bounce_rate,
        |  CAST(SUM(n) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS mean_depth,
        |  CAST(SUM(dur_ms) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) / 1000.0
        |    AS mean_duration_sec
        |FROM p""".stripMargin,

    // q98's fixed-point centroids -> q15's left-fold cosine on the
    // |labels|-row table
    "q211_centroid_similarity" ->
      """WITH e AS (SELECT label, list_transform(embedding,
        |    x -> CAST(floor(CAST(x AS DOUBLE) * 1000000) AS BIGINT)) AS v
        |  FROM embeddings),
        |u AS (SELECT label, generate_subscripts(v, 1) AS p, unnest(v) AS x
        |      FROM e),
        |a AS (SELECT label, p, CAST(SUM(x) AS BIGINT) AS s,
        |             CAST(COUNT(x) AS BIGINT) AS c
        |      FROM u GROUP BY label, p),
        |cent AS (SELECT label,
        |    list(CAST(s AS DOUBLE) / (CAST(c AS DOUBLE) * 1000000.0)
        |      ORDER BY p) AS m
        |  FROM a GROUP BY label),
        |n AS (SELECT label, CAST(COUNT(*) AS BIGINT) AS n
        |      FROM embeddings GROUP BY label)
        |SELECT ca.label AS label_a, cb.label AS label_b,
        |  na.n AS n_a, nb.n AS n_b,
        |  list_reduce(list_transform(list_zip(ca.m, cb.m),
        |    x -> x[1] * x[2]), (a, b) -> a + b)
        |  / (sqrt(list_reduce(list_transform(ca.m, x -> x * x),
        |       (a, b) -> a + b))
        |   * sqrt(list_reduce(list_transform(cb.m, x -> x * x),
        |       (a, b) -> a + b))) AS cosine
        |FROM cent ca JOIN cent cb ON ca.label < cb.label
        |JOIN n na ON na.label = ca.label
        |JOIN n nb ON nb.label = cb.label""".stripMargin,

    // q184's learned cells -> per-vector top-5 cosine neighbors ->
    // majority vote vs own label
    "q212_knn_consistency" ->
      s"""WITH $sqlKmeansC2Ctes
         |a3 AS (SELECT vec_id, cell_id FROM (
         |  SELECT e.vec_id, c.cell_id, ROW_NUMBER() OVER (
         |    PARTITION BY e.vec_id
         |    ORDER BY ${sqlEuclidOf("e.emb", "c.centroid")} ASC,
         |             c.cell_id ASC) AS rn
         |  FROM e, c2 c) WHERE rn = 1),
         |s AS (SELECT a3.cell_id, e.vec_id, e.emb, l.label
         |      FROM a3 JOIN e ON a3.vec_id = e.vec_id
         |      JOIN embeddings l ON l.vec_id = e.vec_id),
         |nb AS (SELECT a.vec_id, a.label AS own, b.label AS nbl,
         |    ROW_NUMBER() OVER (PARTITION BY a.vec_id
         |      ORDER BY ${sqlCosOf("a.emb", "b.emb")} DESC,
         |               b.vec_id ASC) AS rn
         |  FROM s a JOIN s b
         |    ON a.cell_id = b.cell_id AND a.vec_id <> b.vec_id),
         |vt AS (SELECT vec_id, own, nbl, COUNT(*) AS c FROM nb
         |      WHERE rn <= 5 GROUP BY 1, 2, 3),
         |pred AS (SELECT own, nbl FROM (SELECT *, ROW_NUMBER() OVER (
         |    PARTITION BY vec_id ORDER BY c DESC, nbl ASC) AS r FROM vt)
         |  WHERE r = 1)
         |SELECT own AS label, COUNT(*) AS n,
         |  CAST(SUM(CASE WHEN nbl = own THEN 1 ELSE 0 END) AS BIGINT)
         |    AS n_correct,
         |  CAST(SUM(CASE WHEN nbl = own THEN 1 ELSE 0 END) AS DOUBLE)
         |    / CAST(COUNT(*) AS DOUBLE) AS accuracy
         |FROM pred GROUP BY own""".stripMargin,

    // standalone + cumulative pass counters in one aggregate
    "q214_filter_waterfall" -> {
      val r0 = "n_chars >= 200"
      val r1 = "lang IN ('en', 'zh', 'es')"
      val r2 = s"len($sqlWords) >= 30"
      def cnt(c: String) =
        s"CAST(SUM(CASE WHEN $c THEN 1 ELSE 0 END) AS BIGINT)"
      s"""WITH a AS (SELECT CAST(COUNT(*) AS BIGINT) AS n,
         |    ${cnt(r0)} AS a0, ${cnt(r1)} AS a1, ${cnt(r2)} AS a2,
         |    ${cnt(r0)} AS c0, ${cnt(s"$r0 AND $r1")} AS c1,
         |    ${cnt(s"$r0 AND $r1 AND $r2")} AS c2
         |  FROM documents)
         |SELECT 1 AS step, 'min_length' AS rule, a0 AS n_pass_alone,
         |  c0 AS n_pass_cumulative,
         |  CAST(c0 AS DOUBLE) / CAST(n AS DOUBLE) AS cumulative_yield
         |FROM a
         |UNION ALL
         |SELECT 2, 'known_lang', a1, c1,
         |  CAST(c1 AS DOUBLE) / CAST(n AS DOUBLE) FROM a
         |UNION ALL
         |SELECT 3, 'min_tokens', a2, c2,
         |  CAST(c2 AS DOUBLE) / CAST(n AS DOUBLE) FROM a""".stripMargin
    },

    // one unpivoted (column, micro-value) count table carries mean
    // (exact sum), mode (count-desc/value-asc argmax), lower median
    "q216_imputation_stats" -> {
      val legs = Seq("l_quantity", "l_discount", "l_tax").map { c =>
        s"""SELECT '$c' AS col_name,
           |  CAST(ROUND(CAST($c AS DOUBLE) * 1e6) AS BIGINT) AS vm
           |FROM lineitem WHERE $c IS NOT NULL""".stripMargin }
      s"""WITH p AS (${legs.mkString("\n", "\nUNION ALL\n", "")}),
         |c AS (SELECT col_name, vm, COUNT(*) AS c FROM p GROUP BY 1, 2),
         |m AS (SELECT col_name, CAST(SUM(c) AS BIGINT) AS n,
         |      CAST(SUM(vm * c) AS BIGINT) AS s FROM c GROUP BY 1),
         |mo AS (SELECT col_name, vm AS mode_vm FROM (SELECT *,
         |    ROW_NUMBER() OVER (PARTITION BY col_name
         |      ORDER BY c DESC, vm ASC) AS rn FROM c) WHERE rn = 1),
         |w AS (SELECT col_name, vm, c,
         |    CAST(SUM(c) OVER (PARTITION BY col_name ORDER BY vm
         |      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum FROM c),
         |md AS (SELECT w.col_name, w.vm AS med_vm
         |  FROM w JOIN m USING (col_name)
         |  WHERE w.cum - w.c < (m.n + 1) // 2
         |    AND (m.n + 1) // 2 <= w.cum)
         |SELECT m.col_name, m.n,
         |  CAST(m.s AS DOUBLE) / CAST(m.n AS DOUBLE) / 1e6 AS mean,
         |  CAST(md.med_vm AS DOUBLE) / 1e6 AS median,
         |  CAST(mo.mode_vm AS DOUBLE) / 1e6 AS mode
         |FROM m JOIN mo USING (col_name) JOIN md USING (col_name)"""
        .stripMargin
    },

    // 60-bit portable hash of the 8-token head; clusters only
    "q217_prefix_duplicates" ->
      s"""WITH h AS (SELECT doc_id,
         |    CAST(('0x'||substr(md5(array_to_string(
         |      list_slice($sqlWords, 1, 8), ' ')), 1, 15)) AS BIGINT)
         |      AS prefix_hash
         |  FROM documents)
         |SELECT prefix_hash, COUNT(*) AS n_docs,
         |  CAST(MIN(doc_id) AS BIGINT) AS min_doc_id
         |FROM h GROUP BY 1 HAVING COUNT(*) >= 2""".stripMargin,

    // at-risk from one prefix sum; micro-nat log factors cumsum; a
    // full-death time pins survival to 0 from there on
    "q218_kaplan_meier" ->
      """WITH u AS (SELECT user_id, MIN(CAST(ts AS DATE)) AS f,
        |    MAX(CAST(ts AS DATE)) AS l FROM events GROUP BY 1),
        |a AS (SELECT MAX(CAST(ts AS DATE)) AS mx FROM events),
        |s AS (SELECT CAST(datediff('day', f, l) AS BIGINT) AS t,
        |    CAST(l < mx - INTERVAL 7 DAY AS BIGINT) AS ev FROM u, a),
        |c AS (SELECT t, CAST(SUM(ev) AS BIGINT) AS d,
        |    CAST(SUM(1 - ev) AS BIGINT) AS cns FROM s GROUP BY t),
        |tot AS (SELECT CAST(SUM(d + cns) AS BIGINT) AS n FROM c),
        |w AS (SELECT *, CAST(SUM(d + cns) OVER (ORDER BY t
        |    ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum FROM c),
        |r AS (SELECT t, d, cns, tot.n - cum + d + cns AS nr
        |      FROM w, tot),
        |lt AS (SELECT *, CASE WHEN d > 0 AND d < nr THEN
        |      CAST(ROUND(LN(1.0 - CAST(d AS DOUBLE) / CAST(nr AS DOUBLE))
        |        * 1e6) AS BIGINT) ELSE 0 END AS term,
        |    CASE WHEN d = nr THEN 1 ELSE 0 END AS dead FROM r),
        |z AS (SELECT t, nr, d, cns,
        |    CAST(SUM(term) OVER (ORDER BY t ROWS UNBOUNDED PRECEDING)
        |      AS BIGINT) AS ct,
        |    CAST(SUM(dead) OVER (ORDER BY t ROWS UNBOUNDED PRECEDING)
        |      AS BIGINT) AS dc FROM lt)
        |SELECT t AS duration, nr AS n_risk, d AS d_events,
        |  cns AS n_censored,
        |  CASE WHEN dc > 0 THEN 0.0
        |    ELSE ROUND(EXP(CAST(ct AS DOUBLE) / 1e6), 6) END AS survival
        |FROM z""".stripMargin,

    // both ECDFs as distinct-value rank tables; probe rank k =
    // ceil(cum_src * n_ref / n_src) in integers; interval lookup
    "q219_quantile_match" ->
      """WITH r AS (SELECT CAST(ROUND(CAST(value AS DOUBLE) * 1e6)
        |      AS BIGINT) AS vm FROM events
        |    WHERE event_type = 'click' AND value IS NOT NULL),
        |s AS (SELECT CAST(ROUND(CAST(value AS DOUBLE) * 1e6)
        |      AS BIGINT) AS vm FROM events
        |    WHERE event_type = 'view' AND value IS NOT NULL),
        |rc AS (SELECT vm, COUNT(*) AS c FROM r GROUP BY vm),
        |rw AS (SELECT vm, c, CAST(SUM(c) OVER (ORDER BY vm
        |    ROWS UNBOUNDED PRECEDING) AS BIGINT) AS hi FROM rc),
        |rt AS (SELECT CAST(SUM(c) AS BIGINT) AS nr FROM rc),
        |sc AS (SELECT vm, COUNT(*) AS c FROM s GROUP BY vm),
        |sw AS (SELECT vm, c, CAST(SUM(c) OVER (ORDER BY vm
        |    ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum FROM sc),
        |st AS (SELECT CAST(SUM(c) AS BIGINT) AS ns FROM sc),
        |pk AS (SELECT sw.vm, sw.c, sw.cum, st.ns,
        |    (sw.cum * rt.nr + st.ns - 1) // st.ns AS k
        |  FROM sw, rt, st)
        |SELECT CAST(pk.vm AS DOUBLE) / 1e6 AS value, pk.c AS n_src,
        |  CAST(pk.cum AS DOUBLE) / CAST(pk.ns AS DOUBLE) AS ecdf_src,
        |  CAST(rw.vm AS DOUBLE) / 1e6 AS mapped_value
        |FROM pk JOIN rw ON rw.hi - rw.c < pk.k AND pk.k <= rw.hi"""
      .stripMargin,

    // distinct-entity anti-joins across the temporal split
    "q220_cold_start" ->
      """WITH e AS (SELECT user_id,
        |    CAST(json_extract(props, '$.k') AS BIGINT) AS item_id, ts
        |  FROM events),
        |tr AS (SELECT * FROM e
        |       WHERE ts < TIMESTAMP '2024-01-24 00:00:00'),
        |te AS (SELECT * FROM e
        |       WHERE ts >= TIMESTAMP '2024-01-24 00:00:00'),
        |uu AS (SELECT CAST(COUNT(*) AS BIGINT) AS nuu FROM (
        |    SELECT DISTINCT user_id FROM te WHERE user_id IS NOT NULL) t
        |  WHERE NOT EXISTS (SELECT 1 FROM (
        |    SELECT DISTINCT user_id FROM tr WHERE user_id IS NOT NULL) x
        |    WHERE x.user_id = t.user_id)),
        |ui AS (SELECT CAST(COUNT(*) AS BIGINT) AS nui FROM (
        |    SELECT DISTINCT item_id FROM te WHERE item_id IS NOT NULL) t
        |  WHERE NOT EXISTS (SELECT 1 FROM (
        |    SELECT DISTINCT item_id FROM tr WHERE item_id IS NOT NULL) x
        |    WHERE x.item_id = t.item_id)),
        |b AS (SELECT CAST(COUNT(*) AS BIGINT) AS nte,
        |    CAST(COUNT(DISTINCT user_id) AS BIGINT) AS ntu,
        |    CAST(COUNT(DISTINCT item_id) AS BIGINT) AS nti FROM te)
        |SELECT b.nte AS n_test_events, b.ntu AS n_test_users,
        |  uu.nuu AS n_unseen_users,
        |  CAST(uu.nuu AS DOUBLE) / CAST(b.ntu AS DOUBLE)
        |    AS user_cold_rate,
        |  b.nti AS n_test_items, ui.nui AS n_unseen_items,
        |  CAST(ui.nui AS DOUBLE) / CAST(b.nti AS DOUBLE)
        |    AS item_cold_rate
        |FROM b, uu, ui""".stripMargin,

    // nested hash subsets (u < fraction) -> q115's rank AUC per cut
    "q221_learning_curve" ->
      """WITH f AS (SELECT unnest([0.1E0, 0.25E0, 0.5E0, 1.0E0])
        |           AS fraction),
        |s AS (SELECT f.fraction, e.value,
        |    CAST(e.user_id % 5 = 0 AS BIGINT) AS y
        |  FROM events e, f
        |  WHERE CAST(('0x'||substr(md5('33:'||CAST(e.event_id
        |      AS VARCHAR)), 1, 8)) AS BIGINT) / 4294967296.0
        |    < f.fraction),
        |r AS (SELECT fraction, y,
        |    RANK() OVER (PARTITION BY fraction ORDER BY value ASC) AS r,
        |    COUNT(*) OVER (PARTITION BY fraction, value) AS eq FROM s),
        |a AS (SELECT fraction, CAST(SUM(y) AS BIGINT) AS n_pos,
        |    CAST(SUM(1 - y) AS BIGINT) AS n_neg,
        |    CAST(SUM(y * (2 * (r - 1) + eq + 1)) AS BIGINT) AS s2
        |  FROM r GROUP BY fraction)
        |SELECT fraction, n_pos, n_neg,
        |  CASE WHEN n_pos = 0 OR n_neg = 0 THEN NULL
        |    ELSE CAST(s2 - n_pos * (n_pos + 1) AS DOUBLE)
        |      / (2.0 * CAST(n_pos * n_neg AS DOUBLE)) END AS auc
        |FROM a""".stripMargin,

    // q23's band CTEs; estimate = matching signature components / k
    "q222_minhash_audit" -> {
      val est = "CAST(len(list_filter(list_zip(sa, sb), " +
        "p -> p[1] = p[2])) AS DOUBLE) / 8.0E0"
      val exact = "CAST(len(list_intersect(sha, shb)) AS DOUBLE) / " +
        "CAST(len(list_distinct(list_concat(sha, shb))) AS DOUBLE)"
      s"""WITH $sqlMinhashBandCtes,
         |cand AS (SELECT DISTINCT l.doc_id AS id_a, r.doc_id AS id_b
         |  FROM banded l JOIN banded r ON l.band_idx = r.band_idx
         |    AND l.bucket = r.bucket AND l.doc_id < r.doc_id),
         |x AS (SELECT c.id_a, c.id_b, a.sig AS sa, b.sig AS sb,
         |    list_distinct(a.sh) AS sha, list_distinct(b.sh) AS shb
         |  FROM cand c JOIN sig a ON a.doc_id = c.id_a
         |  JOIN sig b ON b.doc_id = c.id_b)
         |SELECT id_a, id_b, $est AS est_jaccard, $exact AS jaccard,
         |  ABS($est - ($exact)) AS abs_err
         |FROM x""".stripMargin
    },

    // distinct train grams once; per-test-doc distinct-gram join
    "q223_novelty_score" ->
      s"""WITH tr AS (SELECT $sqlWords AS w FROM documents
         |            WHERE doc_id % 10 <> 0),
         |te AS (SELECT doc_id, $sqlWords AS w FROM documents
         |       WHERE doc_id % 10 = 0),
         |tg AS (SELECT DISTINCT unnest($sqlShingles) AS gram FROM tr),
         |tgf AS (SELECT gram FROM tg WHERE gram <> ''),
         |teg AS (SELECT doc_id, unnest(list_distinct($sqlShingles))
         |          AS gram FROM te),
         |j AS (SELECT t.doc_id,
         |    CASE WHEN g.gram IS NOT NULL THEN 1 ELSE 0 END AS seen
         |  FROM (SELECT doc_id, gram FROM teg WHERE gram <> '') t
         |  LEFT JOIN tgf g ON g.gram = t.gram)
         |SELECT doc_id, COUNT(*) AS n_grams,
         |  CAST(SUM(seen) AS BIGINT) AS n_seen,
         |  1.0E0 - CAST(SUM(seen) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE)
         |    AS novelty
         |FROM j GROUP BY doc_id""".stripMargin,

    // uniform expectation over the distinct-user md5 bucketing
    "q224_srm_check" ->
      """WITH u AS (SELECT DISTINCT user_id FROM events),
        |c AS (SELECT CAST(('0x'||substr(md5('51:'||CAST(user_id
        |      AS VARCHAR)), 1, 8)) AS BIGINT) % 8 AS bucket,
        |    COUNT(*) AS n_obs FROM u GROUP BY 1),
        |t AS (SELECT CAST(SUM(n_obs) AS BIGINT) AS t FROM c)
        |SELECT bucket, CAST(n_obs AS BIGINT) AS n_obs,
        |  CAST(t.t AS DOUBLE) / 8.0E0 AS n_expected,
        |  (CAST(n_obs AS DOUBLE) - CAST(t.t AS DOUBLE) / 8.0E0)
        |    * (CAST(n_obs AS DOUBLE) - CAST(t.t AS DOUBLE) / 8.0E0)
        |    / (CAST(t.t AS DOUBLE) / 8.0E0) AS chi2_term
        |FROM c, t""".stripMargin,

    // q206's equal-count bins at 10 -> WOE (micro-nat) and IV terms
    "q225_weight_of_evidence" ->
      """WITH s AS (SELECT
        |    CAST(ROUND(CAST(value AS DOUBLE) * 1e6) AS BIGINT) AS xm,
        |    event_id AS id,
        |    CAST(event_type = 'purchase' AS BIGINT) AS y
        |  FROM events WHERE value IS NOT NULL),
        |r AS (SELECT xm, y,
        |    ROW_NUMBER() OVER (ORDER BY xm ASC, id ASC) AS rn FROM s),
        |t AS (SELECT CAST(COUNT(*) AS BIGINT) AS nn FROM s),
        |g AS (SELECT ((rn - 1) * 10) // t.nn AS bin, COUNT(*) AS n,
        |    CAST(SUM(y) AS BIGINT) AS n_pos,
        |    CAST(MIN(xm) AS DOUBLE) / 1e6 AS lo,
        |    CAST(MAX(xm) AS DOUBLE) / 1e6 AS hi
        |  FROM r, t GROUP BY 1),
        |gg AS (SELECT bin, n, n_pos,
        |    CAST(n - n_pos AS BIGINT) AS n_neg, lo, hi FROM g),
        |tt AS (SELECT CAST(SUM(n_pos) AS BIGINT) AS tp,
        |    CAST(SUM(n_neg) AS BIGINT) AS tn FROM gg)
        |SELECT bin, n, n_pos, n_neg, lo, hi,
        |  CASE WHEN n_pos > 0 AND n_neg > 0 THEN
        |    CAST(CAST(ROUND(LN((CAST(n_pos AS DOUBLE)
        |        / CAST(tt.tp AS DOUBLE))
        |      / (CAST(n_neg AS DOUBLE) / CAST(tt.tn AS DOUBLE))) * 1e6)
        |      AS BIGINT) AS DOUBLE) / 1e6
        |  END AS woe,
        |  ((CAST(n_pos AS DOUBLE) / CAST(tt.tp AS DOUBLE))
        |    - (CAST(n_neg AS DOUBLE) / CAST(tt.tn AS DOUBLE))) * woe
        |    AS iv_term
        |FROM gg, tt""".stripMargin,

    // q104's covisit edges -> degree orientation -> closed wedges
    "q226_triangle_stats" ->
      """WITH ui AS (SELECT user_id,
        |    CAST(json_extract(props, '$.k') AS BIGINT) AS item_id,
        |    MAX(ts) AS last_ts FROM events
        |  WHERE json_extract(props, '$.k') IS NOT NULL GROUP BY 1, 2),
        |capped AS (SELECT user_id, item_id FROM (
        |    SELECT *, ROW_NUMBER() OVER (PARTITION BY user_id
        |      ORDER BY last_ts DESC, item_id ASC) AS rn FROM ui)
        |  WHERE rn <= 30),
        |cov AS (SELECT a.item_id AS src, b.item_id AS dst
        |  FROM capped a JOIN capped b ON a.user_id = b.user_id
        |    AND a.item_id < b.item_id
        |  GROUP BY 1, 2 HAVING COUNT(*) >= 2),
        |und AS (SELECT DISTINCT LEAST(src, dst) AS a,
        |    GREATEST(src, dst) AS b FROM cov
        |  WHERE src <> dst AND src IS NOT NULL AND dst IS NOT NULL),
        |deg AS (SELECT v, COUNT(*) AS d FROM (
        |    SELECT a AS v FROM und UNION ALL SELECT b FROM und)
        |  GROUP BY v),
        |ori AS (SELECT CASE WHEN da.d < db.d
        |      OR (da.d = db.d AND u.a < u.b) THEN u.a ELSE u.b END AS u,
        |    CASE WHEN da.d < db.d
        |      OR (da.d = db.d AND u.a < u.b) THEN u.b ELSE u.a END AS w
        |  FROM und u JOIN deg da ON da.v = u.a
        |  JOIN deg db ON db.v = u.b),
        |tri AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_triangles FROM (
        |    SELECT e1.w AS x, e2.w AS y FROM ori e1 JOIN ori e2
        |      ON e1.u = e2.u AND e1.w < e2.w) p
        |  JOIN (SELECT LEAST(u, w) AS x, GREATEST(u, w) AS y FROM ori) o
        |    ON o.x = p.x AND o.y = p.y),
        |base AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_nodes,
        |    CAST(SUM(d) // 2 AS BIGINT) AS n_edges,
        |    CAST(SUM((d * (d - 1)) // 2) AS BIGINT) AS n_wedges
        |  FROM deg)
        |SELECT base.n_nodes, base.n_edges, base.n_wedges,
        |  tri.n_triangles,
        |  CASE WHEN base.n_wedges > 0 THEN
        |    3.0E0 * CAST(tri.n_triangles AS DOUBLE)
        |      / CAST(base.n_wedges AS DOUBLE) END AS clustering_coeff
        |FROM base, tri""".stripMargin,

    // first/last by (ts, event_id) replicated with two row_numbers
    "q227_ohlc_resample" ->
      """WITH s AS (SELECT user_id,
        |    epoch_ms(ts) // 3600000 AS hour_epoch,
        |    epoch_ms(ts) AS tsm, event_id,
        |    CAST(ROUND(CAST(value AS DOUBLE) * 1e6) AS BIGINT) AS vm
        |  FROM events WHERE value IS NOT NULL),
        |r AS (SELECT *,
        |    ROW_NUMBER() OVER (PARTITION BY user_id, hour_epoch
        |      ORDER BY tsm ASC, event_id ASC) AS ra,
        |    ROW_NUMBER() OVER (PARTITION BY user_id, hour_epoch
        |      ORDER BY tsm DESC, event_id DESC) AS rd FROM s)
        |SELECT user_id, hour_epoch, COUNT(*) AS n,
        |  CAST(MIN(CASE WHEN ra = 1 THEN vm END) AS DOUBLE) / 1e6
        |    AS open,
        |  CAST(MAX(vm) AS DOUBLE) / 1e6 AS high,
        |  CAST(MIN(vm) AS DOUBLE) / 1e6 AS low,
        |  CAST(MIN(CASE WHEN rd = 1 THEN vm END) AS DOUBLE) / 1e6
        |    AS close
        |FROM r GROUP BY 1, 2""".stripMargin,

    // anchor timestamps per user, then q205's rank-quantile machinery
    // over the conversion-lag seconds
    "q228_time_to_convert" ->
      """WITH w AS (SELECT user_id,
        |    MIN(CASE WHEN event_type = 'view' THEN ts END) AS tf
        |  FROM events GROUP BY 1),
        |t2 AS (SELECT e.user_id, w.tf,
        |    MIN(CASE WHEN e.event_type = 'purchase' AND e.ts >= w.tf
        |      THEN e.ts END) AS tt
        |  FROM events e JOIN w ON w.user_id = e.user_id GROUP BY 1, 2),
        |u AS (SELECT * FROM t2 WHERE tf IS NOT NULL),
        |d AS (SELECT (epoch_ms(tt) - epoch_ms(tf)) // 1000 AS dur
        |      FROM u WHERE tt IS NOT NULL),
        |c AS (SELECT CAST(dur * 1000000 AS BIGINT) AS vm,
        |    COUNT(*) AS cnt FROM d GROUP BY 1),
        |wq AS (SELECT vm, cnt, CAST(SUM(cnt) OVER (ORDER BY vm
        |    ROWS UNBOUNDED PRECEDING) AS BIGINT) AS hi FROM c),
        |nq AS (SELECT CAST(SUM(cnt) AS BIGINT) AS n FROM c),
        |p AS (SELECT unnest([0.5E0, 0.9E0]) AS prob,
        |      unnest([500000, 900000]) AS pm),
        |k AS (SELECT nq.n, p.prob,
        |    GREATEST(1, (p.pm * nq.n + 999999) // 1000000) AS kk
        |  FROM nq, p),
        |smry AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_started,
        |    CAST(COUNT(tt) AS BIGINT) AS n_converted FROM u)
        |SELECT k.prob, smry.n_started, smry.n_converted,
        |  CAST(wq.vm AS DOUBLE) / 1e6 AS quantile_sec
        |FROM k JOIN wq ON wq.hi - wq.cnt < k.kk AND k.kk <= wq.hi,
        |  smry""".stripMargin,

    // shared-item pair generation with the super-node cut; Jaccard
    // from full degrees
    "q229_user_overlap" ->
      """WITH ui AS (SELECT DISTINCT user_id,
        |    CAST(json_extract(props, '$.k') AS BIGINT) AS item_id
        |  FROM events
        |  WHERE CAST(json_extract(props, '$.k') AS BIGINT) IS NOT NULL),
        |deg AS (SELECT user_id, COUNT(*) AS d FROM ui GROUP BY 1),
        |pop AS (SELECT item_id, COUNT(*) AS p FROM ui GROUP BY 1),
        |bl AS (SELECT ui.user_id, ui.item_id FROM ui
        |  JOIN pop ON pop.item_id = ui.item_id AND pop.p <= 80),
        |pr AS (SELECT x.user_id AS user_a, y.user_id AS user_b,
        |    COUNT(*) AS n_common
        |  FROM bl x JOIN bl y ON x.item_id = y.item_id
        |    AND x.user_id < y.user_id
        |  GROUP BY 1, 2 HAVING COUNT(*) >= 2)
        |SELECT pr.user_a, pr.user_b, pr.n_common,
        |  CAST(pr.n_common AS DOUBLE)
        |    / CAST(da.d + db.d - pr.n_common AS DOUBLE) AS jaccard
        |FROM pr JOIN deg da ON da.user_id = pr.user_a
        |JOIN deg db ON db.user_id = pr.user_b""".stripMargin,

    // presence fan-out over the trailing window -> one distinct count
    // per day
    "q230_active_users" ->
      """WITH pres AS (SELECT DISTINCT user_id,
        |    epoch_ms(ts) // 86400000 AS day FROM events),
        |dau AS (SELECT day, COUNT(*) AS dau FROM pres GROUP BY day),
        |wau AS (SELECT d, COUNT(*) AS wau FROM (
        |    SELECT DISTINCT user_id,
        |      unnest(generate_series(day, day + 6)) AS d FROM pres)
        |  GROUP BY d)
        |SELECT dau.day AS day_epoch, CAST(dau.dau AS BIGINT) AS dau,
        |  CAST(wau.wau AS BIGINT) AS wau,
        |  CAST(dau.dau AS DOUBLE) / CAST(wau.wau AS DOUBLE)
        |    AS stickiness
        |FROM dau JOIN wau ON wau.d = dau.day""".stripMargin,

    // per-user cohort anchor; micro-unit weekly sums; per-cohort
    // cumulative prefix
    "q231_cohort_ltv" ->
      """WITH s AS (SELECT user_id,
        |    epoch_ms(ts) // 604800000 AS wk,
        |    CAST(ROUND(CAST(value AS DOUBLE) * 1e6) AS BIGINT) AS vm
        |  FROM events),
        |c AS (SELECT user_id,
        |    MIN(wk) OVER (PARTITION BY user_id) AS cohort, wk, vm
        |  FROM s),
        |sizes AS (SELECT cohort, COUNT(*) AS nu FROM (
        |    SELECT DISTINCT user_id, cohort FROM c) GROUP BY cohort),
        |weekly AS (SELECT cohort, wk - cohort AS off,
        |    CAST(SUM(vm) AS BIGINT) AS wv FROM c GROUP BY 1, 2),
        |cum AS (SELECT cohort, off, wv,
        |    CAST(SUM(wv) OVER (PARTITION BY cohort ORDER BY off
        |      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cv FROM weekly)
        |SELECT cohort AS cohort_week, off AS offset_weeks,
        |  CAST(sizes.nu AS BIGINT) AS n_cohort_users,
        |  CAST(wv AS DOUBLE) / 1e6 AS week_value,
        |  CAST(cv AS DOUBLE) / 1e6 / CAST(sizes.nu AS DOUBLE)
        |    AS cum_value_per_user
        |FROM cum JOIN sizes USING (cohort)""".stripMargin,

    // q205's rank-quantile machinery grouped by calendar day
    "q232_daily_quantiles" -> {
      val probs = Seq(0.5, 0.95)
      val pL = probs.map(p => s"${p}E0").mkString("[", ", ", "]")
      val pmL = probs.map(p => math.round(p * 1e6)).mkString("[", ", ", "]")
      s"""WITH s AS (SELECT epoch_ms(ts) // 86400000 AS day_epoch,
         |    CAST(ROUND(CAST(value AS DOUBLE) * 1e6) AS BIGINT) AS vm
         |  FROM events WHERE value IS NOT NULL),
         |c AS (SELECT day_epoch, vm, COUNT(*) AS cnt
         |      FROM s GROUP BY 1, 2),
         |w AS (SELECT day_epoch, vm, cnt,
         |    CAST(SUM(cnt) OVER (PARTITION BY day_epoch ORDER BY vm
         |      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS hi FROM c),
         |n AS (SELECT day_epoch, CAST(SUM(cnt) AS BIGINT) AS n
         |      FROM c GROUP BY 1),
         |p AS (SELECT unnest($pL) AS prob, unnest($pmL) AS pm),
         |k AS (SELECT n.day_epoch, n.n, p.prob,
         |    GREATEST(1, (p.pm * n.n + 999999) // 1000000) AS kk
         |  FROM n, p)
         |SELECT k.day_epoch, k.prob, k.n,
         |  CAST(w.vm AS DOUBLE) / 1e6 AS quantile
         |FROM k JOIN w ON w.day_epoch = k.day_epoch
         |  AND w.hi - w.cnt < k.kk AND k.kk <= w.hi""".stripMargin
    },

    // index anti-join + batch-internal first-wins
    "q233_incremental_dedup" ->
      s"""WITH idx AS (SELECT DISTINCT
         |    md5(array_to_string($sqlWords, ' ')) AS fp
         |  FROM documents WHERE doc_id < 100),
         |b AS (SELECT doc_id, n_chars,
         |    md5(array_to_string($sqlWords, ' ')) AS fingerprint
         |  FROM documents WHERE doc_id >= 100),
         |fresh AS (SELECT * FROM b WHERE NOT EXISTS (
         |    SELECT 1 FROM idx WHERE idx.fp = b.fingerprint)),
         |w AS (SELECT fingerprint, MIN(doc_id) AS doc_id
         |      FROM fresh GROUP BY 1)
         |SELECT f.fingerprint, f.doc_id, f.n_chars FROM fresh f
         |JOIN w ON w.fingerprint = f.fingerprint
         |  AND w.doc_id = f.doc_id""".stripMargin,

    // the streamed state must equal the batch sketch: q200's counter
    // table with the incremental-agg finish columns (unit weights ->
    // val_sum = cnt, val_avg = 1)
    "q234_stream_count_min" ->
      """WITH v AS (SELECT CAST(event_type AS VARCHAR) AS item
        |           FROM events WHERE event_type IS NOT NULL),
        |dd AS (SELECT unnest([0, 1, 2, 3]) AS d)
        |SELECT d,
        |  CAST(('0x'||substr(md5('0:'||CAST(d AS VARCHAR)||':'||item),
        |    1, 8)) AS BIGINT) % 16 AS bucket,
        |  COUNT(*) AS cnt,
        |  CAST(COUNT(*) AS DOUBLE) AS val_sum,
        |  CAST(COUNT(*) AS DOUBLE) / COUNT(*) AS val_avg
        |FROM v, dd GROUP BY 1, 2""".stripMargin,

    // q42's recursive components; per-cluster winner by (n_chars
    // desc, id asc); unclustered docs pass through
    "q235_prune_by_quality" ->
      s"""WITH RECURSIVE $sqlMinhashPairCtes,
         |edges AS (
         |  SELECT id_a AS src, id_b AS dst FROM mh_pairs
         |  UNION SELECT id_b, id_a FROM mh_pairs),
         |reach(id, lbl) AS (
         |  SELECT src, src FROM edges
         |  UNION
         |  SELECT e.src, r.lbl FROM edges e JOIN reach r ON e.dst = r.id),
         |comp AS (SELECT id AS doc_id, min(lbl) AS component
         |         FROM reach GROUP BY id),
         |wins AS (SELECT doc_id FROM (
         |    SELECT c.component, c.doc_id, ROW_NUMBER() OVER (
         |      PARTITION BY c.component
         |      ORDER BY d.n_chars DESC, c.doc_id ASC) AS rn
         |    FROM comp c JOIN documents d USING (doc_id)) WHERE rn = 1)
         |SELECT d.doc_id, d.n_chars FROM documents d
         |WHERE NOT EXISTS (SELECT 1 FROM comp WHERE comp.doc_id = d.doc_id)
         |UNION ALL
         |SELECT d.doc_id, d.n_chars FROM documents d
         |JOIN wins ON wins.doc_id = d.doc_id""".stripMargin,

    // integer-second gaps; decimal-staged squares; one IEEE chain
    "q236_burstiness" -> {
      val mean = "CAST(s AS DOUBLE) / CAST(n_gaps AS DOUBLE)"
      val vr = "(CAST(n_gaps AS DOUBLE) * ss " +
        "- CAST(s AS DOUBLE) * CAST(s AS DOUBLE)) " +
        "/ (CAST(n_gaps AS DOUBLE) * CAST(n_gaps AS DOUBLE))"
      s"""WITH g AS (SELECT user_id,
         |    (epoch_ms(ts) - epoch_ms(lag(ts) OVER (PARTITION BY user_id
         |      ORDER BY ts, event_id))) // 1000 AS gap FROM events),
         |f AS (SELECT user_id, gap FROM g WHERE gap IS NOT NULL),
         |a AS (SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n_gaps,
         |    CAST(SUM(gap) AS BIGINT) AS s,
         |    CAST(SUM(CAST(gap AS DECIMAL(38,0))
         |      * CAST(gap AS DECIMAL(38,0))) AS DOUBLE) AS ss
         |  FROM f GROUP BY 1)
         |SELECT user_id, n_gaps,
         |  CASE WHEN n_gaps >= 2 THEN $mean END AS mean_gap_sec,
         |  CASE WHEN n_gaps >= 2 AND $vr > 0 THEN SQRT($vr) END
         |    AS std_gap_sec,
         |  CASE WHEN (n_gaps >= 2 AND $vr > 0) AND $mean > 0 THEN
         |    (SQRT($vr) - $mean) / (SQRT($vr) + $mean) END AS burstiness
         |FROM a""".stripMargin
    },

    // daily volumes -> q202's decimal-staged rolling z per type
    "q238_trending_zscore" ->
      """WITH dly AS (SELECT event_type,
        |    epoch_ms(ts) // 86400000 AS day_epoch,
        |    CAST(COUNT(*) AS DOUBLE) AS cnt FROM events GROUP BY 1, 2),
        |w AS (SELECT event_type, day_epoch, cnt,
        |    COUNT(*) OVER win AS c2,
        |    CAST(SUM(CAST(ROUND(cnt, 6) AS DECIMAL(38,6))) OVER win
        |      AS DOUBLE) AS s,
        |    CAST(SUM(CAST(ROUND(cnt * cnt, 6) AS DECIMAL(38,6))) OVER win
        |      AS DOUBLE) AS ss
        |  FROM dly WINDOW win AS (PARTITION BY event_type
        |    ORDER BY day_epoch ASC, day_epoch ASC
        |    ROWS BETWEEN 6 PRECEDING AND CURRENT ROW)),
        |z AS (SELECT event_type, day_epoch, cnt,
        |    CASE WHEN c2 = 7 THEN s / 7.0 END AS roll_mean,
        |    CASE WHEN c2 = 7 AND (7.0 * ss - s * s) / (7.0 * 7.0) > 0
        |      THEN (cnt - s / 7.0)
        |        / SQRT((7.0 * ss - s * s) / (7.0 * 7.0)) END AS z
        |  FROM w)
        |SELECT event_type, day_epoch, cnt, roll_mean, z,
        |  CASE WHEN z IS NOT NULL THEN CAST(ABS(z) > 3.0 AS INT) END
        |    AS is_anomaly
        |FROM z""".stripMargin,

    "q239_bloom_prune" -> {
      def pos(i: Int, key: String) =
        s"${sqlHash32(i, s"CAST($key AS VARCHAR)")} % 4096"
      s"""WITH bk AS (SELECT DISTINCT c_custkey AS key FROM customer
         |            WHERE c_mktsegment = 'BUILDING'),
         |bp AS (SELECT key, unnest([${(0 until 3).map(pos(_, "key"))
        .mkString(", ")}]) AS pos FROM bk),
         |words AS (SELECT pos // 32 AS w,
         |            bit_or(1::BIGINT << CAST(pos % 32 AS INT)) AS word
         |          FROM bp GROUP BY 1),
         |pp AS (SELECT o_orderkey, o_custkey, unnest([${(0 until 3)
        .map(pos(_, "o_custkey")).mkString(", ")}]) AS pos FROM orders),
         |ht AS (SELECT o_orderkey, o_custkey,
         |         (COALESCE(wd.word, 0) &
         |           (1::BIGINT << CAST(pos % 32 AS INT))) <> 0 AS h
         |       FROM pp LEFT JOIN words wd ON wd.w = pos // 32),
         |mem AS (SELECT o_orderkey, any_value(o_custkey) AS ck,
         |          bool_and(h) AS bloom FROM ht GROUP BY 1),
         |j AS (SELECT m.bloom, (b.key IS NOT NULL) AS t
         |      FROM mem m LEFT JOIN bk b ON b.key = m.ck)
         |SELECT CAST(COUNT(*) AS BIGINT) AS n_probe,
         |  CAST(SUM(CASE WHEN bloom THEN 1 ELSE 0 END) AS BIGINT)
         |    AS n_candidates,
         |  CAST(SUM(CASE WHEN t THEN 1 ELSE 0 END) AS BIGINT) AS n_true,
         |  CAST(SUM(CASE WHEN bloom AND NOT t THEN 1 ELSE 0 END) AS BIGINT)
         |    AS n_false_pos,
         |  CAST(SUM(CASE WHEN NOT bloom AND t THEN 1 ELSE 0 END) AS BIGINT)
         |    AS n_false_neg,
         |  CAST(SUM(CASE WHEN bloom AND NOT t THEN 1 ELSE 0 END) AS DOUBLE)
         |    / (COUNT(*) - SUM(CASE WHEN t THEN 1 ELSE 0 END)) AS fp_rate
         |FROM j""".stripMargin
    },

    "q240_zorder_pruning" -> {
      val morton = (0 until 8).map(b =>
        s"(((bx >> $b) & 1) << ${2 * b}) + (((by >> $b) & 1) << ${2 * b + 1})")
        .mkString(" + ")
      s"""WITH src AS (SELECT user_id AS x,
         |    CAST(round(value * 1000000.0) AS BIGINT) AS y FROM events),
         |mm AS (SELECT min(x) AS minx, max(x) AS maxx,
         |         min(y) AS miny, max(y) AS maxy FROM src),
         |bb AS (SELECT (x - minx) * 256 // (maxx - minx + 1) AS bx,
         |         (y - miny) * 256 // (maxy - miny + 1) AS by, x, y
         |       FROM src, mm),
         |zz AS (SELECT x, y, ($morton) AS z FROM bb),
         |bk AS (SELECT z * 64 // 65536 AS bucket, x, y FROM zz),
         |pb AS (SELECT bucket, CAST(COUNT(*) AS BIGINT) AS cnt,
         |         min(x) AS min_x, max(x) AS max_x,
         |         min(y) AS min_y, max(y) AS max_y FROM bk GROUP BY 1)
         |SELECT bucket, cnt, min_x, max_x, min_y, max_y,
         |  (max_x < minx + (maxx - minx + 1) * 40 // 100
         |    OR min_x > minx + (maxx - minx + 1) * 60 // 100) AS skip_x,
         |  (max_y < miny + (maxy - miny + 1) * 40 // 100
         |    OR min_y > miny + (maxy - miny + 1) * 60 // 100) AS skip_y
         |FROM pb, mm""".stripMargin
    },

    "q241_session_concurrency" -> sqlSessionConcurrency,

    // identical semantics to q241 computed by sweep-line rank
    // arithmetic — the SAME oracle gates both paths
    "q282_concurrency_sweepline" -> sqlSessionConcurrency,

    // streaming sessionize must equal the BATCH gap rule exactly
    // (micros precision), so the oracle is the plain batch sessionize
    "q283_stream_sessionize" ->
      """WITH x AS (SELECT user_id, event_id, ts,
        |    lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
        |      AS prev FROM events),
        |s AS (SELECT user_id, ts,
        |    SUM(CASE WHEN prev IS NULL OR ts > prev + INTERVAL 6 HOUR
        |             THEN 1 ELSE 0 END)
        |      OVER (PARTITION BY user_id ORDER BY ts, event_id
        |            ROWS UNBOUNDED PRECEDING) AS session_idx
        |  FROM x)
        |SELECT user_id, CAST(session_idx AS BIGINT) AS session_idx,
        |  min(epoch_us(ts)) AS start_ts, max(epoch_us(ts)) AS end_ts,
        |  CAST(COUNT(*) AS BIGINT) AS n_events
        |FROM s GROUP BY 1, 2""".stripMargin,

    "q242_acf_daily" ->
      """WITH dly AS (SELECT event_type, epoch_ms(ts) // 86400000 AS t,
        |    CAST(COUNT(*) AS BIGINT) AS x FROM events GROUP BY 1, 2),
        |st AS (SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
        |    CAST(SUM(x) AS BIGINT) AS s FROM dly GROUP BY 1),
        |den AS (SELECT d.event_type,
        |    CAST(SUM((n * x - s) * (n * x - s)) AS BIGINT) AS den
        |  FROM dly d JOIN st USING (event_type) GROUP BY 1),
        |pr AS (SELECT a.event_type, lg.lag,
        |    CAST(COUNT(*) AS BIGINT) AS n_pairs,
        |    CAST(SUM((n * a.x - s) * (n * b.x - s)) AS BIGINT) AS num
        |  FROM dly a
        |  CROSS JOIN generate_series(1, 7) AS lg(lag)
        |  JOIN dly b ON b.event_type = a.event_type AND b.t = a.t + lg.lag
        |  JOIN st ON st.event_type = a.event_type
        |  GROUP BY 1, 2)
        |SELECT p.event_type, CAST(p.lag AS INT) AS lag, n_pairs,
        |  CASE WHEN den > 0 THEN CAST(num AS DOUBLE) / CAST(den AS DOUBLE)
        |  END AS acf
        |FROM pr p JOIN den ON den.event_type = p.event_type""".stripMargin,

    "q243_smoothed_ctr" ->
      """WITH c AS (SELECT user_id,
        |    CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
        |      AS BIGINT) AS c,
        |    CAST(SUM(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END)
        |      AS BIGINT) AS f
        |  FROM events GROUP BY 1),
        |s AS (SELECT user_id, c, f,
        |    CAST(floor(CAST(c AS DOUBLE) / CAST(c + f AS DOUBLE) * 1.0E6)
        |      AS BIGINT) AS pm
        |  FROM c WHERE c + f > 0),
        |pop AS (SELECT CAST(COUNT(*) AS BIGINT) AS n,
        |    CAST(SUM(pm) AS BIGINT) AS sp,
        |    CAST(SUM(pm * pm) AS BIGINT) AS sp2 FROM s),
        |m AS (SELECT s.*,
        |    CAST(sp AS DOUBLE) / (CAST(n AS DOUBLE) * 1.0E6) AS mm,
        |    CAST(sp2 AS DOUBLE) / (CAST(n AS DOUBLE) * 1.0E12)
        |      - (CAST(sp AS DOUBLE) / (CAST(n AS DOUBLE) * 1.0E6))
        |        * (CAST(sp AS DOUBLE) / (CAST(n AS DOUBLE) * 1.0E6)) AS vv
        |  FROM s, pop),
        |ab AS (SELECT *, CASE WHEN vv > 0.0E0
        |    THEN mm * (1.0E0 - mm) / vv - 1.0E0 END AS com FROM m),
        |fin AS (SELECT user_id, c, f, pm,
        |    CASE WHEN com > 0.0E0 THEN mm * com ELSE 1.0E0 END AS alpha,
        |    CASE WHEN com > 0.0E0 THEN (1.0E0 - mm) * com
        |         ELSE 1.0E0 END AS beta
        |  FROM ab)
        |SELECT user_id, c AS n_succ, f AS n_fail, pm AS raw_rate_micro,
        |  ROUND(alpha, 6) AS prior_alpha, ROUND(beta, 6) AS prior_beta,
        |  ROUND((CAST(c AS DOUBLE) + alpha)
        |    / (CAST(c AS DOUBLE) + CAST(f AS DOUBLE) + alpha + beta), 6)
        |    AS smoothed_rate
        |FROM fin""".stripMargin,

    "q244_snips_item_ctr" ->
      """WITH imp AS (SELECT user_id, ts, event_id,
        |    CAST(json_extract(props, '$.k') AS BIGINT) AS item_id,
        |    CAST(event_type = 'click' AS BIGINT) AS click,
        |    ROW_NUMBER() OVER (PARTITION BY user_id, CAST(ts AS DATE)
        |      ORDER BY ts, event_id) AS position
        |  FROM events WHERE json_extract(props, '$.k') IS NOT NULL),
        |i2 AS (SELECT * FROM imp WHERE position <= 20),
        |pa AS (SELECT position, CAST(COUNT(*) AS BIGINT) AS imps,
        |    CAST(SUM(click) AS BIGINT) AS clicks FROM i2 GROUP BY 1),
        |base AS (SELECT imps AS imps1, clicks AS clicks1 FROM pa
        |         WHERE position = 1),
        |ip AS (SELECT item_id, position, CAST(COUNT(*) AS BIGINT) AS iip,
        |    CAST(SUM(click) AS BIGINT) AS cip FROM i2 GROUP BY 1, 2),
        |t AS (SELECT item_id, iip, cip,
        |    (CAST(clicks1 AS DOUBLE) * CAST(imps AS DOUBLE))
        |      / (CAST(imps1 AS DOUBLE) * CAST(clicks AS DOUBLE)) AS w
        |  FROM ip JOIN pa USING (position), base
        |  WHERE clicks > 0 AND clicks1 > 0),
        |agg AS (SELECT item_id, CAST(SUM(cip) AS BIGINT) AS n_clicks,
        |    CAST(SUM(iip) AS BIGINT) AS n_imps,
        |    CAST(SUM(CAST(floor(CAST(cip AS DOUBLE) * w * 1.0E6) AS BIGINT))
        |      AS BIGINT) AS num_micro,
        |    CAST(SUM(CAST(floor(CAST(iip AS DOUBLE) * w * 1.0E6) AS BIGINT))
        |      AS BIGINT) AS den_micro
        |  FROM t GROUP BY 1)
        |SELECT item_id, n_clicks, n_imps, num_micro, den_micro,
        |  ROUND(CAST(num_micro AS DOUBLE) / CAST(den_micro AS DOUBLE), 6)
        |    AS snips_ctr
        |FROM agg WHERE den_micro > 0""".stripMargin,

    "q245_kcore" -> {
      // unrolled peeling rounds: deg_r over e_r, keep_r, e_{r+1}
      val rounds = (1 to 3).map { r =>
        val semi = if (r < 3)
          s""",
             |e${r + 1} AS (SELECT ia, ib FROM e$r
             |  WHERE ia IN (SELECT n FROM k$r)
             |    AND ib IN (SELECT n FROM k$r))""".stripMargin
        else ""
        s"""d$r AS (SELECT n, CAST(COUNT(*) AS BIGINT) AS deg FROM
           |    (SELECT ia AS n FROM e$r UNION ALL SELECT ib FROM e$r) t
           |  GROUP BY 1),
           |k$r AS (SELECT n FROM d$r WHERE deg >= 35)$semi""".stripMargin
      }.mkString(",\n")
      s"""WITH ui AS (
         |  SELECT user_id, CAST(json_extract(props, '$$.k') AS BIGINT)
         |      AS item_id,
         |    MAX(ts) AS last_ts
         |  FROM events
         |  WHERE json_extract(props, '$$.k') IS NOT NULL
         |  GROUP BY 1, 2),
         |capped AS (SELECT user_id, item_id FROM (
         |    SELECT *, ROW_NUMBER() OVER (PARTITION BY user_id
         |      ORDER BY last_ts DESC, item_id ASC) AS rn FROM ui)
         |  WHERE rn <= 30),
         |e1 AS (SELECT a.item_id AS ia, b.item_id AS ib
         |  FROM capped a JOIN capped b
         |    ON a.user_id = b.user_id AND a.item_id < b.item_id
         |  GROUP BY 1, 2 HAVING COUNT(*) >= 14),
         |$rounds
         |SELECT n AS node, deg AS degree FROM d3 WHERE deg >= 35""".stripMargin
    },

    "q246_hits" ->
      """WITH it AS (SELECT user_id, ts, event_id,
        |    CAST(json_extract(props, '$.k') AS BIGINT) AS item
        |  FROM events WHERE json_extract(props, '$.k') IS NOT NULL),
        |nx AS (SELECT item, lead(item) OVER (PARTITION BY user_id
        |    ORDER BY ts, event_id) AS nxt FROM it),
        |e AS (SELECT item AS src, nxt AS dst, CAST(COUNT(*) AS BIGINT) AS w
        |      FROM nx WHERE nxt IS NOT NULL AND nxt <> item GROUP BY 1, 2),
        |a1 AS (SELECT dst, CAST(SUM(w) AS BIGINT) AS a FROM e GROUP BY 1),
        |h1 AS (SELECT src, CAST(SUM(e.w * a1.a) AS BIGINT) AS h
        |       FROM e JOIN a1 USING (dst) GROUP BY 1),
        |a2 AS (SELECT dst, CAST(SUM(e.w * h1.h) AS BIGINT) AS a
        |       FROM e JOIN h1 USING (src) GROUP BY 1),
        |h2 AS (SELECT src, CAST(SUM(e.w * a2.a) AS BIGINT) AS h
        |       FROM e JOIN a2 USING (dst) GROUP BY 1),
        |n AS (SELECT src AS node FROM e UNION SELECT dst FROM e),
        |sc AS (SELECT node, COALESCE(h2.h, 0) AS hub,
        |         COALESCE(a2.a, 0) AS auth
        |       FROM n LEFT JOIN h2 ON h2.src = n.node
        |            LEFT JOIN a2 ON a2.dst = n.node),
        |mx AS (SELECT max(hub) AS mh, max(auth) AS ma FROM sc)
        |SELECT node, hub, auth,
        |  ROUND(CAST(hub AS DOUBLE) / CAST(mh AS DOUBLE), 6) AS hub_norm,
        |  ROUND(CAST(auth AS DOUBLE) / CAST(ma AS DOUBLE), 6) AS auth_norm
        |FROM sc, mx""".stripMargin,

    "q247_fuzzy_linkage" ->
      """WITH cl AS (SELECT c_custkey AS ckey, c_name AS cname,
        |    c_nationkey AS blk FROM customer),
        |dt AS (SELECT c_custkey AS dkey,
        |    -- daily dirty increment
        |    concat(substr(c_name, 1, CAST(9 + c_custkey % 9 AS INT)),
        |      substr(c_name, CAST(11 + c_custkey % 9 AS INT), 100))
        |      AS dname,
        |    c_nationkey AS blk FROM customer WHERE c_custkey % 10 = 0),
        |cand AS (SELECT dkey, ckey,
        |    CAST(levenshtein(dname, cname) AS INT) AS dist
        |  FROM dt JOIN cl USING (blk)
        |  WHERE levenshtein(dname, cname) <= 2),
        |rk AS (SELECT dkey, ckey, dist,
        |    ROW_NUMBER() OVER (PARTITION BY dkey ORDER BY dist, ckey)
        |      AS rn,
        |    CAST(COUNT(*) OVER (PARTITION BY dkey) AS BIGINT) AS cand_cnt
        |  FROM cand)
        |SELECT dkey, ckey AS matched_key, dist, cand_cnt,
        |  (dkey = ckey) AS is_correct
        |FROM rk WHERE rn = 1""".stripMargin,

    "q249_stream_first_touch" ->
      """SELECT user_id, min(epoch_ms(ts)) AS first_ms,
        |  max(epoch_ms(ts)) AS last_ms,
        |  CAST(COUNT(*) AS BIGINT) AS cnt,
        |  max(epoch_ms(ts)) - min(epoch_ms(ts)) AS span_ms
        |FROM events GROUP BY 1""".stripMargin,

    "q250_event_window_features" ->
      """WITH e AS (SELECT user_id, event_id, epoch_ms(ts) AS ms,
        |    event_type, CAST(floor(value * 1.0E6) AS BIGINT) AS vm
        |  FROM events WHERE event_type IN ('purchase', 'view')),
        |w AS (SELECT user_id, event_id, ms, event_type,
        |    COALESCE(SUM(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END)
        |      OVER win, 0) AS fc,
        |    COALESCE(SUM(CASE WHEN event_type = 'view' THEN vm ELSE 0 END)
        |      OVER win, 0) AS fvm
        |  FROM e WINDOW win AS (PARTITION BY user_id ORDER BY ms
        |    RANGE BETWEEN 86400000 PRECEDING AND 1 PRECEDING))
        |SELECT user_id, event_id, ms AS ts_ms,
        |  CAST(fc AS BIGINT) AS feat_cnt,
        |  CAST(fvm AS DOUBLE) / 1.0E6 AS feat_val_sum
        |FROM w WHERE event_type = 'purchase'""".stripMargin,

    "q251_matryoshka_audit" -> {
      val pref = sqlDotOf("list_slice(v, 1, kk.k)", "list_slice(v, 1, kk.k)")
      val tot = sqlDotOf("v", "v")
      s"""WITH e AS (SELECT vec_id,
         |    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
         |  FROM embeddings),
         |kk AS (SELECT unnest([4, 8, 16, 32, 64]) AS k),
         |f AS (SELECT vec_id, kk.k,
         |    CAST(floor($pref / $tot * 1.0E6) AS BIGINT) AS fm
         |  FROM e, kk)
         |SELECT k, CAST(COUNT(*) AS BIGINT) AS n_vecs,
         |  ROUND(CAST(SUM(fm) AS DOUBLE)
         |    / (CAST(COUNT(*) AS DOUBLE) * 1.0E6), 6) AS avg_energy_frac,
         |  CAST(MIN(fm) AS DOUBLE) / 1.0E6 AS min_energy_frac
         |FROM f GROUP BY 1""".stripMargin
    },

    "q252_join_cardinality" ->
      """WITH ca AS (SELECT user_id AS k, CAST(COUNT(*) AS BIGINT) AS ca
        |  FROM events GROUP BY 1),
        |cb AS (SELECT o_custkey AS k, CAST(COUNT(*) AS BIGINT) AS cb
        |  FROM orders GROUP BY 1),
        |ma AS (SELECT k, ca FROM ca ORDER BY ca DESC, k ASC LIMIT 20),
        |mb AS (SELECT k, cb FROM cb ORDER BY cb DESC, k ASC LIMIT 20),
        |sa AS (SELECT CAST(SUM(ca) AS BIGINT) AS na,
        |    CAST(COUNT(*) AS BIGINT) AS da FROM ca),
        |sam AS (SELECT CAST(COALESCE(SUM(ca), 0) AS BIGINT) AS na_mcv,
        |    CAST(COUNT(*) AS BIGINT) AS da_mcv FROM ma),
        |sb AS (SELECT CAST(SUM(cb) AS BIGINT) AS nb,
        |    CAST(COUNT(*) AS BIGINT) AS db FROM cb),
        |sbm AS (SELECT CAST(COALESCE(SUM(cb), 0) AS BIGINT) AS nb_mcv,
        |    CAST(COUNT(*) AS BIGINT) AS db_mcv FROM mb),
        |act AS (SELECT CAST(COALESCE(SUM(ca * cb), 0) AS BIGINT) AS actual
        |  FROM ca JOIN cb USING (k)),
        |mm AS (SELECT CAST(COALESCE(SUM(ma.ca * mb.cb), 0) AS BIGINT)
        |    AS mcv_match FROM ma JOIN mb USING (k)),
        |x AS (SELECT actual, mcv_match,
        |    ROUND(CAST(na AS DOUBLE) * CAST(nb AS DOUBLE)
        |      / CAST(greatest(da, db) AS DOUBLE), 6) AS selinger_est,
        |    ROUND(CAST(mcv_match AS DOUBLE)
        |      + CAST(na - na_mcv AS DOUBLE) * CAST(nb - nb_mcv AS DOUBLE)
        |        / CAST(greatest(da - da_mcv, db - db_mcv, 1) AS DOUBLE), 6)
        |      AS mcv_est
        |  FROM act, mm, sa, sam, sb, sbm)
        |SELECT actual, mcv_match, selinger_est, mcv_est,
        |  ROUND(abs(selinger_est - CAST(actual AS DOUBLE))
        |    / CAST(actual AS DOUBLE), 6) AS selinger_rel_err,
        |  ROUND(abs(mcv_est - CAST(actual AS DOUBLE))
        |    / CAST(actual AS DOUBLE), 6) AS mcv_rel_err
        |FROM x""".stripMargin,

    "q254_conformal_coverage" -> {
      val probs = Seq(0.05, 0.95)
      val pL = probs.map(p => s"${p}E0").mkString("[", ", ", "]")
      val pmL = probs.map(p => math.round(p * 1e6)).mkString("[", ", ", "]")
      s"""WITH st AS (SELECT event_type, value,
         |    ${sqlHash32(13, "CAST(event_id AS VARCHAR)")} % 100 AS h
         |  FROM events),
         |s AS (SELECT event_type,
         |    CAST(ROUND(CAST(value AS DOUBLE) * 1e6) AS BIGINT) AS vm
         |  FROM st WHERE h < 80 AND value IS NOT NULL),
         |c AS (SELECT event_type, vm, COUNT(*) AS cnt FROM s GROUP BY 1, 2),
         |w AS (SELECT event_type, vm, cnt,
         |    CAST(SUM(cnt) OVER (PARTITION BY event_type ORDER BY vm
         |      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS hi FROM c),
         |n AS (SELECT event_type, CAST(SUM(cnt) AS BIGINT) AS n
         |      FROM c GROUP BY 1),
         |p AS (SELECT unnest($pL) AS prob, unnest($pmL) AS pm),
         |k AS (SELECT n.event_type, n.n, p.prob,
         |    GREATEST(1, (p.pm * n.n + 999999) // 1000000) AS kk
         |  FROM n, p),
         |q AS (SELECT k.event_type, k.prob, k.n,
         |    CAST(w.vm AS DOUBLE) / 1e6 AS quantile
         |  FROM k JOIN w ON w.event_type = k.event_type
         |    AND w.hi - w.cnt < k.kk AND k.kk <= w.hi),
         |b AS (SELECT event_type,
         |    MAX(CASE WHEN prob = 0.05E0 THEN quantile END) AS lo,
         |    MAX(CASE WHEN prob = 0.95E0 THEN quantile END) AS hi,
         |    CAST(MAX(n) AS BIGINT) AS n_train FROM q GROUP BY 1),
         |te AS (SELECT event_type,
         |    CAST(ROUND(CAST(value AS DOUBLE) * 1e6) AS BIGINT) AS vm
         |  FROM st WHERE h >= 80),
         |j AS (SELECT te.event_type, n_train, lo, hi,
         |    CASE WHEN vm >= CAST(ROUND(lo * 1.0E6) AS BIGINT)
         |         AND vm <= CAST(ROUND(hi * 1.0E6) AS BIGINT)
         |      THEN 1 ELSE 0 END AS cov
         |  FROM te JOIN b USING (event_type))
         |SELECT event_type, MAX(n_train) AS n_train, MAX(lo) AS lo,
         |  MAX(hi) AS hi, CAST(COUNT(*) AS BIGINT) AS n_test,
         |  CAST(SUM(cov) AS BIGINT) AS n_covered,
         |  ROUND(CAST(SUM(cov) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE), 6)
         |    AS coverage
         |FROM j GROUP BY 1""".stripMargin
    },

    "q255_shard_rebalance" ->
      """WITH ring17 AS (SELECT
        |    CAST(('0x'||substr(md5('ring:'||CAST(t1.s AS VARCHAR)||':'
        |      ||CAST(t2.v AS VARCHAR)), 1, 8)) AS BIGINT) AS pt, t1.s
        |  FROM generate_series(0, 16) AS t1(s),
        |       generate_series(0, 49) AS t2(v)),
        |ring16 AS (SELECT pt, s FROM ring17 WHERE s < 16),
        |keys AS (SELECT DISTINCT user_id AS k FROM events),
        |kh AS (SELECT k, CAST(('0x'||substr(md5('key:'
        |    ||CAST(k AS VARCHAR)), 1, 8)) AS BIGINT) AS h FROM keys),
        |s16 AS (SELECT kh.k, min(r.pt) AS spt FROM kh
        |        JOIN ring16 r ON r.pt >= kh.h GROUP BY 1),
        |w16 AS (SELECT min(pt) AS wpt FROM ring16),
        |o16 AS (SELECT kh.k, COALESCE(s16.spt, w16.wpt) AS opt
        |        FROM kh LEFT JOIN s16 ON s16.k = kh.k, w16),
        |own16 AS (SELECT o16.k, CAST(min(r.s) AS BIGINT) AS shard_from
        |          FROM o16 JOIN ring16 r ON r.pt = o16.opt GROUP BY 1),
        |s17 AS (SELECT kh.k, min(r.pt) AS spt FROM kh
        |        JOIN ring17 r ON r.pt >= kh.h GROUP BY 1),
        |w17 AS (SELECT min(pt) AS wpt FROM ring17),
        |o17 AS (SELECT kh.k, COALESCE(s17.spt, w17.wpt) AS opt
        |        FROM kh LEFT JOIN s17 ON s17.k = kh.k, w17),
        |own17 AS (SELECT o17.k, CAST(min(r.s) AS BIGINT) AS shard_to
        |          FROM o17 JOIN ring17 r ON r.pt = o17.opt GROUP BY 1),
        |r AS (SELECT own16.k, shard_from, shard_to
        |      FROM own16 JOIN own17 ON own16.k = own17.k),
        |ld AS (SELECT CAST(min(c) AS BIGINT) AS min_load,
        |    CAST(max(c) AS BIGINT) AS max_load FROM
        |    (SELECT shard_to, COUNT(*) AS c FROM r GROUP BY 1) t)
        |SELECT CAST(COUNT(*) AS BIGINT) AS n_keys,
        |  CAST(SUM(CASE WHEN shard_from <> shard_to THEN 1 ELSE 0 END)
        |    AS BIGINT) AS n_moved,
        |  ROUND(CAST(SUM(CASE WHEN shard_from <> shard_to THEN 1 ELSE 0
        |    END) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE), 6) AS moved_frac,
        |  ROUND(1.0E0 / 17, 6) AS ideal_frac,
        |  (SELECT min_load FROM ld) AS min_load,
        |  (SELECT max_load FROM ld) AS max_load
        |FROM r""".stripMargin,

    "q256_trend_test" ->
      """WITH dly AS (SELECT event_type AS k, epoch_ms(ts) // 86400000
        |    AS t, CAST(COUNT(*) AS BIGINT) AS x FROM events GROUP BY 1, 2),
        |pairs AS (SELECT a.k, a.x AS x1, b.x AS x2, b.t - a.t AS dt
        |  FROM dly a JOIN dly b ON b.k = a.k AND b.t > a.t),
        |sa AS (SELECT k, CAST(SUM(CASE WHEN x2 > x1 THEN 1
        |    WHEN x2 < x1 THEN -1 ELSE 0 END) AS BIGINT) AS s_stat
        |  FROM pairs GROUP BY 1),
        |np AS (SELECT k, CAST(COUNT(*) AS BIGINT) AS n_points
        |  FROM dly GROUP BY 1),
        |tg AS (SELECT k, x, CAST(COUNT(*) AS BIGINT) AS t
        |  FROM dly GROUP BY 1, 2),
        |tc AS (SELECT k, CAST(SUM(t * (t - 1) * (2 * t + 5)) AS BIGINT)
        |    AS tiec FROM tg GROUP BY 1),
        |sl AS (SELECT k, CAST(floor(CAST(x2 - x1 AS DOUBLE) * 1.0E6
        |    / CAST(dt AS DOUBLE)) AS BIGINT) AS vm FROM pairs),
        |c AS (SELECT k, vm, COUNT(*) AS cnt FROM sl GROUP BY 1, 2),
        |w AS (SELECT k, vm, cnt, CAST(SUM(cnt) OVER (PARTITION BY k
        |    ORDER BY vm ROWS UNBOUNDED PRECEDING) AS BIGINT) AS hi
        |  FROM c),
        |nn AS (SELECT k, CAST(SUM(cnt) AS BIGINT) AS n FROM c GROUP BY 1),
        |kk AS (SELECT k, n, GREATEST(1, (500000 * n + 999999) // 1000000)
        |    AS kv FROM nn),
        |q AS (SELECT kk.k, CAST(w.vm AS DOUBLE) / 1e6 AS theil_sen
        |  FROM kk JOIN w ON w.k = kk.k
        |    AND w.hi - w.cnt < kk.kv AND kk.kv <= w.hi),
        |fin AS (SELECT sa.k, n_points, s_stat, theil_sen,
        |    n_points * (n_points - 1) * (2 * n_points + 5) - tiec AS v18
        |  FROM sa JOIN np ON np.k = sa.k JOIN tc ON tc.k = sa.k
        |    JOIN q ON q.k = sa.k),
        |z AS (SELECT *, CASE WHEN v18 <= 0 THEN 0.0E0 ELSE
        |    (CASE WHEN s_stat > 0 THEN CAST(s_stat - 1 AS DOUBLE)
        |          WHEN s_stat < 0 THEN CAST(s_stat + 1 AS DOUBLE)
        |          ELSE 0.0E0 END)
        |      / sqrt(CAST(v18 AS DOUBLE) / 18.0E0) END AS zr FROM fin)
        |SELECT k AS event_type, n_points, s_stat, ROUND(zr, 6) AS z,
        |  CASE WHEN zr > 1.96E0 THEN 'up' WHEN zr < -1.96E0 THEN 'down'
        |       ELSE 'none' END AS trend,
        |  theil_sen
        |FROM z""".stripMargin,

    "q257_path_trigrams" ->
      """WITH w AS (SELECT event_type AS t1,
        |    lead(event_type, 1) OVER win AS t2,
        |    lead(event_type, 2) OVER win AS t3
        |  FROM events WINDOW win AS (PARTITION BY user_id
        |    ORDER BY ts, event_id)),
        |p AS (SELECT t1 || '>' || t2 || '>' || t3 AS path,
        |    CAST(COUNT(*) AS BIGINT) AS n
        |  FROM w WHERE t2 IS NOT NULL AND t3 IS NOT NULL GROUP BY 1)
        |SELECT path, n FROM p ORDER BY n DESC, path ASC LIMIT 20""".stripMargin,

    "q258_cusum_changepoint" ->
      """WITH dly AS (SELECT event_type AS k, epoch_ms(ts) // 86400000
        |    AS t, CAST(COUNT(*) AS BIGINT) AS x FROM events GROUP BY 1, 2),
        |st AS (SELECT k, CAST(COUNT(*) AS BIGINT) AS n,
        |    CAST(SUM(x) AS BIGINT) AS s FROM dly GROUP BY 1),
        |cs AS (SELECT d.k, d.t, st.n,
        |    CAST(SUM(st.n * d.x - st.s) OVER (PARTITION BY d.k
        |      ORDER BY d.t ROWS UNBOUNDED PRECEDING) AS BIGINT) AS c
        |  FROM dly d JOIN st ON st.k = d.k),
        |rk AS (SELECT k, n, t, abs(c) AS ac,
        |    ROW_NUMBER() OVER (PARTITION BY k ORDER BY abs(c) DESC, t ASC)
        |      AS rn FROM cs)
        |SELECT k AS event_type, n AS n_points, t AS cp_time,
        |  ac AS max_abs_cusum,
        |  ROUND(CAST(ac AS DOUBLE) / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE)),
        |    6) AS cusum_scaled
        |FROM rk WHERE rn = 1""".stripMargin,

    "q259_table_fingerprint" ->
      """WITH h AS (SELECT CAST(('0x'||substr(md5(
        |    CAST(o_orderkey AS VARCHAR)||'|'||CAST(o_custkey AS VARCHAR)
        |    ||'|'||o_orderstatus||'|'||o_orderpriority), 1, 15))
        |    AS BIGINT) AS h
        |  FROM orders)
        |SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
        |  CAST(SUM(h) % 1152921504606846976 AS BIGINT) AS sum_hash,
        |  CAST(bit_xor(h) AS BIGINT) AS xor_hash,
        |  true AS reorder_match
        |FROM h""".stripMargin,

    "q260_weak_labels" -> {
      def wOf(a: String) =
        s"""CAST(round(ln(
           |    greatest(least(CAST($a AS DOUBLE) / CAST(n AS DOUBLE),
           |      0.99E0), 0.01E0)
           |    / (1.0E0 - greatest(least(CAST($a AS DOUBLE)
           |        / CAST(n AS DOUBLE), 0.99E0), 0.01E0))) * 1.0E6)
           |  AS BIGINT)""".stripMargin
      s"""WITH d AS (SELECT doc_id,
         |    CASE WHEN n_chars > 150 THEN 1 ELSE 0 END AS r_long,
         |    CASE WHEN len($sqlWords) > 25 THEN 1 ELSE 0 END AS r_tokens,
         |    CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS r_lang
         |  FROM documents),
         |v AS (SELECT *, CASE WHEN (r_long + r_tokens + r_lang) * 2 > 3
         |    THEN 1 ELSE 0 END AS majority FROM d),
         |ag AS (SELECT CAST(COUNT(*) AS BIGINT) AS n,
         |    CAST(SUM(CASE WHEN r_long = majority THEN 1 ELSE 0 END)
         |      AS BIGINT) AS a1,
         |    CAST(SUM(CASE WHEN r_tokens = majority THEN 1 ELSE 0 END)
         |      AS BIGINT) AS a2,
         |    CAST(SUM(CASE WHEN r_lang = majority THEN 1 ELSE 0 END)
         |      AS BIGINT) AS a3
         |  FROM v),
         |w AS (SELECT ${wOf("a1")} AS w1, ${wOf("a2")} AS w2,
         |    ${wOf("a3")} AS w3 FROM ag)
         |SELECT doc_id, majority, r_long, r_tokens, r_lang,
         |  w1 * (r_long * 2 - 1) + w2 * (r_tokens * 2 - 1)
         |    + w3 * (r_lang * 2 - 1) AS score_micro,
         |  CASE WHEN w1 * (r_long * 2 - 1) + w2 * (r_tokens * 2 - 1)
         |    + w3 * (r_lang * 2 - 1) > 0 THEN 1 ELSE 0 END AS weak_label
         |FROM v, w""".stripMargin
    },

    "q261_snapshot_diff" ->
      """WITH v1 AS (SELECT o_orderkey, o_custkey, o_totalprice,
        |    o_orderstatus FROM orders),
        |v2 AS (SELECT o_orderkey, o_custkey,
        |    CASE WHEN o_orderkey % 7 = 0 THEN o_totalprice + 1.0
        |         ELSE o_totalprice END AS o_totalprice,
        |    o_orderstatus FROM orders WHERE o_orderkey % 101 <> 0
        |  UNION ALL
        |  SELECT o_orderkey + 10000000, o_custkey, o_totalprice,
        |    o_orderstatus FROM orders WHERE o_orderkey % 503 = 0),
        |j AS (SELECT
        |    CASE WHEN a.o_orderkey IS NULL THEN 'added'
        |         WHEN b.o_orderkey IS NULL THEN 'removed'
        |         WHEN a.o_custkey <> b.o_custkey
        |           OR a.o_totalprice <> b.o_totalprice
        |           OR a.o_orderstatus <> b.o_orderstatus THEN 'changed'
        |         ELSE 'unchanged' END AS change
        |  FROM v1 a FULL OUTER JOIN v2 b ON a.o_orderkey = b.o_orderkey)
        |SELECT change, CAST(COUNT(*) AS BIGINT) AS n_keys
        |FROM j GROUP BY 1""".stripMargin,

    "q262_k_anonymity" ->
      """WITH cls AS (SELECT c_nationkey, c_mktsegment,
        |    CAST(floor(c_acctbal / 1000.0) AS BIGINT) * 1000 AS acct_band,
        |    CAST(COUNT(*) AS BIGINT) AS sz
        |  FROM customer GROUP BY 1, 2, 3),
        |x AS (SELECT sz, unnest([2, 5, 10]) AS k FROM cls)
        |SELECT k, CAST(SUM(sz) AS BIGINT) AS n_rows,
        |  CAST(COUNT(*) AS BIGINT) AS n_classes,
        |  CAST(SUM(CASE WHEN sz < k THEN sz ELSE 0 END) AS BIGINT)
        |    AS n_at_risk,
        |  CAST(SUM(CASE WHEN sz < k THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_small_classes,
        |  ROUND(CAST(SUM(CASE WHEN sz < k THEN sz ELSE 0 END) AS DOUBLE)
        |    / CAST(SUM(sz) AS DOUBLE), 6) AS risk_frac
        |FROM x GROUP BY 1""".stripMargin,

    "q263_source_loo" ->
      """WITH g AS (SELECT source, CAST(COUNT(n_chars) AS BIGINT) AS n_g,
        |    CAST(SUM(n_chars) AS BIGINT) AS s_g
        |  FROM documents GROUP BY 1),
        |t AS (SELECT CAST(SUM(n_g) AS BIGINT) AS n,
        |    CAST(SUM(s_g) AS BIGINT) AS s FROM g)
        |SELECT source, n_g,
        |  ROUND(CAST(s AS DOUBLE) / CAST(n AS DOUBLE), 6) AS mean_global,
        |  ROUND(CAST(s - s_g AS DOUBLE) / CAST(n - n_g AS DOUBLE), 6)
        |    AS mean_loo,
        |  ROUND(ROUND(CAST(s AS DOUBLE) / CAST(n AS DOUBLE), 6)
        |    - ROUND(CAST(s - s_g AS DOUBLE) / CAST(n - n_g AS DOUBLE), 6),
        |    6) AS delta
        |FROM g, t""".stripMargin,

    "q264_cuped" ->
      """WITH u AS (SELECT user_id,
        |    CAST(SUM(CASE WHEN epoch_ms(ts) // 86400000 < 19738
        |      THEN CAST(floor(value * 1.0E6) AS BIGINT) ELSE 0 END)
        |      AS DOUBLE) / 1.0E6 AS pre,
        |    CAST(SUM(CASE WHEN epoch_ms(ts) // 86400000 >= 19738
        |      THEN CAST(floor(value * 1.0E6) AS BIGINT) ELSE 0 END)
        |      AS DOUBLE) / 1.0E6 AS post,
        |    CAST(user_id % 2 AS INT) AS variant
        |  FROM events GROUP BY 1),
        |st AS (SELECT variant, CAST(floor(pre * 1.0E6) AS BIGINT) AS x,
        |    CAST(floor(post * 1.0E6) AS BIGINT) AS y FROM u),
        |mom AS (SELECT CAST(COUNT(*) AS BIGINT) AS n,
        |    SUM(CAST(x AS HUGEINT)) AS sx, SUM(CAST(y AS HUGEINT)) AS sy,
        |    SUM(CAST(x AS HUGEINT) * CAST(x AS HUGEINT)) AS sxx,
        |    SUM(CAST(x AS HUGEINT) * CAST(y AS HUGEINT)) AS sxy,
        |    SUM(CAST(y AS HUGEINT) * CAST(y AS HUGEINT)) AS syy FROM st),
        |pv AS (SELECT variant, CAST(COUNT(*) AS BIGINT) AS n_units,
        |    SUM(CAST(x AS HUGEINT)) AS vx, SUM(CAST(y AS HUGEINT)) AS vy
        |  FROM st GROUP BY 1),
        |c AS (SELECT pv.variant, pv.n_units, pv.vx, pv.vy, mom.n, mom.sx,
        |    CAST(n * sxy - sx * sy AS DOUBLE) AS covn,
        |    CAST(n * sxx - sx * sx AS DOUBLE) AS varxn,
        |    CAST(n * syy - sy * sy AS DOUBLE) AS varyn
        |  FROM pv, mom),
        |t AS (SELECT *,
        |    CASE WHEN varxn > 0.0E0 THEN covn / varxn
        |         ELSE 0.0E0 END AS theta,
        |    CASE WHEN varxn > 0.0E0 AND varyn > 0.0E0
        |         THEN covn * covn / (varxn * varyn)
        |         ELSE 0.0E0 END AS rho2 FROM c)
        |SELECT variant, n_units,
        |  ROUND(CAST(vy AS DOUBLE) / (CAST(n_units AS DOUBLE) * 1.0E6), 6)
        |    AS mean_post,
        |  ROUND((CAST(vy AS DOUBLE) / (CAST(n_units AS DOUBLE) * 1.0E6))
        |    - theta * ((CAST(vx AS DOUBLE)
        |        / (CAST(n_units AS DOUBLE) * 1.0E6))
        |      - (CAST(sx AS DOUBLE) / (CAST(n AS DOUBLE) * 1.0E6))), 6)
        |    AS mean_adjusted,
        |  ROUND(theta, 6) AS theta, ROUND(rho2, 6) AS var_reduction
        |FROM t""".stripMargin,

    "q265_rfm_segments" -> {
      val pp = "pp AS (SELECT unnest([0.2E0, 0.4E0, 0.6E0, 0.8E0])" +
        " AS prob, unnest([200000, 400000, 600000, 800000]) AS pm)"
      def chain(x: String) =
        s"""${x}c AS (SELECT CAST(ROUND(CAST($x AS DOUBLE) * 1e6)
           |    AS BIGINT) AS vm FROM rfm),
           |${x}g AS (SELECT vm, COUNT(*) AS cnt FROM ${x}c GROUP BY 1),
           |${x}w AS (SELECT vm, cnt, CAST(SUM(cnt) OVER (ORDER BY vm
           |    ROWS UNBOUNDED PRECEDING) AS BIGINT) AS hi FROM ${x}g),
           |${x}n AS (SELECT CAST(SUM(cnt) AS BIGINT) AS n FROM ${x}g),
           |${x}k AS (SELECT prob,
           |    GREATEST(1, (pm * n + 999999) // 1000000) AS kk
           |  FROM ${x}n, pp),
           |${x}q AS (SELECT prob, CAST(vm AS DOUBLE) / 1e6 AS qv
           |  FROM ${x}k JOIN ${x}w
           |    ON ${x}w.hi - ${x}w.cnt < ${x}k.kk AND ${x}k.kk <= ${x}w.hi),
           |${x}b AS (SELECT
           |    MAX(CASE WHEN prob = 0.2E0 THEN qv END) AS ${x}0,
           |    MAX(CASE WHEN prob = 0.4E0 THEN qv END) AS ${x}1,
           |    MAX(CASE WHEN prob = 0.6E0 THEN qv END) AS ${x}2,
           |    MAX(CASE WHEN prob = 0.8E0 THEN qv END) AS ${x}3
           |  FROM ${x}q)""".stripMargin
      def bucket(x: String) = (0 to 3).map(i =>
        s"(CASE WHEN CAST($x AS DOUBLE) > $x$i THEN 1 ELSE 0 END)")
        .mkString(" + ")
      s"""WITH per AS (SELECT user_id,
         |    max(epoch_ms(ts) // 86400000) AS last_day,
         |    CAST(COUNT(*) AS BIGINT) AS f,
         |    CAST(SUM(CAST(floor(value * 1.0E6) AS BIGINT)) AS BIGINT)
         |      AS m
         |  FROM events GROUP BY 1),
         |gm AS (SELECT max(last_day) AS gmax FROM per),
         |rfm AS (SELECT user_id, gmax - last_day AS r, f, m FROM per, gm),
         |$pp,
         |${chain("r")},
         |${chain("f")},
         |${chain("m")},
         |asg AS (SELECT user_id, m,
         |    ${bucket("r")} AS r_bucket,
         |    ${bucket("f")} AS f_bucket,
         |    ${bucket("m")} AS m_bucket
         |  FROM rfm, rb, fb, mb)
         |SELECT r_bucket, f_bucket, m_bucket,
         |  CAST(COUNT(*) AS BIGINT) AS n_users,
         |  ROUND(CAST(SUM(m) AS DOUBLE)
         |    / (CAST(COUNT(*) AS DOUBLE) * 1.0E6), 6) AS avg_monetary
         |FROM asg GROUP BY 1, 2, 3""".stripMargin
    },

    "q266_state_reconciliation" ->
      """WITH b AS (SELECT user_id, min(epoch_ms(ts)) AS first_ms,
        |    max(epoch_ms(ts)) AS last_ms, CAST(COUNT(*) AS BIGINT) AS cnt,
        |    max(epoch_ms(ts)) - min(epoch_ms(ts)) AS span_ms
        |  FROM events GROUP BY 1),
        |h AS (SELECT CAST(('0x'||substr(md5(
        |    CAST(user_id AS VARCHAR)||'|'||CAST(first_ms AS VARCHAR)
        |    ||'|'||CAST(last_ms AS VARCHAR)||'|'||CAST(cnt AS VARCHAR)
        |    ||'|'||CAST(span_ms AS VARCHAR)), 1, 15)) AS BIGINT) AS h
        |  FROM b)
        |SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
        |  CAST(SUM(h) % 1152921504606846976 AS BIGINT) AS sum_hash,
        |  CAST(bit_xor(h) AS BIGINT) AS xor_hash,
        |  true AS state_matches
        |FROM h""".stripMargin,

    "q267_incremental_anomaly" ->
      """WITH st AS (SELECT event_type,
        |    CAST(COUNT(value) AS BIGINT) AS n_hist,
        |    CAST(SUM(CAST(ROUND(value, 6) AS DECIMAL(38,6))) AS DOUBLE)
        |      AS s,
        |    CAST(SUM(CAST(ROUND(value, 6) AS DECIMAL(38,6))
        |      * CAST(ROUND(value, 6) AS DECIMAL(38,6))) AS DOUBLE) AS ss
        |  FROM events WHERE epoch_ms(ts) // 86400000 < 19748
        |  GROUP BY 1),
        |m AS (SELECT event_type, n_hist,
        |    s / CAST(n_hist AS DOUBLE) AS mean_raw,
        |    ss / CAST(n_hist AS DOUBLE)
        |      - (s / CAST(n_hist AS DOUBLE)) * (s / CAST(n_hist AS DOUBLE))
        |      AS var_raw
        |  FROM st),
        |b AS (SELECT event_type, CAST(COUNT(value) AS BIGINT) AS n_batch,
        |    CAST(SUM(CAST(ROUND(value, 6) AS DECIMAL(38,6))) AS DOUBLE)
        |      / COUNT(value) AS bm
        |  FROM events WHERE epoch_ms(ts) // 86400000 >= 19748
        |  GROUP BY 1),
        |z AS (SELECT m.event_type, n_hist, mean_raw, var_raw, n_batch, bm,
        |    CASE WHEN var_raw > 0.0E0 THEN (bm - mean_raw)
        |      / sqrt(var_raw / CAST(n_batch AS DOUBLE)) END AS zr
        |  FROM m JOIN b ON b.event_type = m.event_type)
        |SELECT event_type, n_hist, ROUND(mean_raw, 6) AS state_mean,
        |  ROUND(var_raw, 6) AS state_var, n_batch,
        |  ROUND(bm, 6) AS batch_mean, ROUND(zr, 6) AS z,
        |  CASE WHEN zr IS NOT NULL
        |       THEN CAST(ABS(zr) > 3.0E0 AS INT) END AS is_anomaly
        |FROM z""".stripMargin,

    "q268_lsh_plan" -> {
      def chain(x: String, e: Int) = Seq.fill(e)(x).mkString("(", " * ", ")")
      val grid = Seq((2, 8), (4, 4), (8, 2), (16, 1))
      val arms = grid.map { case (b, r) =>
        val p = s"1.0E0 - ${chain(s"(1.0E0 - ${chain("mid", r)})", b)}"
        s"""  SELECT $b AS bands, $r AS rows_per_band, cnt, mid,
           |    ($p) AS pv FROM hm""".stripMargin
      }.mkString("\nUNION ALL\n")
      s"""WITH sh AS (SELECT doc_id, list_distinct($sqlShingles) AS sh
         |    FROM (SELECT doc_id, $sqlWords AS w FROM documents
         |          WHERE doc_id % 10 = 0)),
         |p AS (SELECT CAST(len(list_intersect(l.sh, r.sh)) AS DOUBLE)
         |      / CAST(len(list_distinct(list_concat(l.sh, r.sh)))
         |          AS DOUBLE) AS j
         |  FROM sh l JOIN sh r ON l.doc_id < r.doc_id
         |  WHERE len(list_intersect(l.sh, r.sh)) > 0),
         |h AS (SELECT LEAST(CAST(floor(j * 20) AS INT), 19) AS bin,
         |    CAST(COUNT(*) AS BIGINT) AS cnt FROM p GROUP BY 1),
         |hm AS (SELECT bin, cnt,
         |    (CAST(bin AS DOUBLE) + 0.5E0) / 20 AS mid FROM h),
         |u AS (
         |$arms),
         |g AS (SELECT bands, rows_per_band, cnt, mid,
         |    CAST(round(pv * 1.0E6) AS BIGINT) AS pm FROM u),
         |t AS (SELECT bands, rows_per_band,
         |    CAST(SUM(cnt) AS BIGINT) AS n_pairs,
         |    CAST(SUM(CASE WHEN mid < 0.5E0 THEN cnt * pm ELSE 0 END)
         |      AS BIGINT) AS fp_micro,
         |    CAST(SUM(CASE WHEN mid >= 0.5E0 THEN cnt * (1000000 - pm)
         |      ELSE 0 END) AS BIGINT) AS fn_micro
         |  FROM g GROUP BY 1, 2),
         |tc AS (SELECT *, fp_micro + fn_micro AS cost_micro FROM t),
         |mn AS (SELECT min(cost_micro) AS best FROM tc)
         |SELECT bands, rows_per_band, n_pairs, fp_micro, fn_micro,
         |  cost_micro, (cost_micro = best) AS is_best
         |FROM tc, mn""".stripMargin
    },

    "q269_replay_eval" ->
      """WITH it AS (SELECT user_id,
        |    CAST(json_extract(props, '$.k') AS BIGINT) AS item_id,
        |    event_type, epoch_ms(ts) // 86400000 AS d
        |  FROM events WHERE json_extract(props, '$.k') IS NOT NULL),
        |tr AS (SELECT user_id, item_id, COUNT(*) AS c FROM it
        |       WHERE d < 19738 GROUP BY 1, 2),
        |pol AS (SELECT user_id, item_id AS rec FROM (
        |    SELECT *, ROW_NUMBER() OVER (PARTITION BY user_id
        |      ORDER BY c DESC, item_id ASC) AS rn FROM tr) WHERE rn = 1),
        |rp AS (SELECT i.user_id, i.item_id,
        |    CAST(i.event_type = 'click' AS BIGINT) AS click, p.rec
        |  FROM it i LEFT JOIN pol p ON p.user_id = i.user_id
        |  WHERE i.d >= 19738)
        |SELECT CAST(COUNT(*) AS BIGINT) AS n_logged,
        |  CAST(SUM(CASE WHEN item_id = rec THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_matched,
        |  ROUND(CAST(SUM(CASE WHEN item_id = rec THEN 1 ELSE 0 END)
        |    AS DOUBLE) / CAST(COUNT(*) AS DOUBLE), 6) AS match_rate,
        |  ROUND(CAST(SUM(CASE WHEN item_id = rec THEN click ELSE 0 END)
        |    AS DOUBLE) / CAST(SUM(CASE WHEN item_id = rec THEN 1 ELSE 0
        |    END) AS DOUBLE), 6) AS replay_ctr,
        |  ROUND(CAST(SUM(click) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE), 6)
        |    AS logged_ctr
        |FROM rp""".stripMargin,

    "q270_deletion_sweep" ->
      """WITH e AS (SELECT CAST(COUNT(*) AS BIGINT) AS b,
        |    CAST(SUM(CASE WHEN user_id % 7 = 0 THEN 1 ELSE 0 END)
        |      AS BIGINT) AS d FROM events),
        |pu AS (SELECT user_id FROM events GROUP BY user_id),
        |p AS (SELECT CAST(COUNT(*) AS BIGINT) AS b,
        |    CAST(SUM(CASE WHEN user_id % 7 = 0 THEN 1 ELSE 0 END)
        |      AS BIGINT) AS d FROM pu),
        |du AS (SELECT user_id, epoch_ms(ts) // 86400000 AS dd
        |       FROM events GROUP BY 1, 2),
        |dl AS (SELECT CAST(COUNT(*) AS BIGINT) AS b,
        |    CAST(SUM(CASE WHEN user_id % 7 = 0 THEN 1 ELSE 0 END)
        |      AS BIGINT) AS d FROM du)
        |SELECT 'events' AS dataset, b AS rows_before, b - d AS rows_after,
        |  d AS rows_deleted, 0 AS residual FROM e
        |UNION ALL
        |SELECT 'user_profile', b, b - d, d, 0 FROM p
        |UNION ALL
        |SELECT 'daily_activity', b, b - d, d, 0 FROM dl""".stripMargin,

    "q271_cow_amplification" ->
      """WITH e AS (SELECT user_id, epoch_ms(ts) AS ms,
        |    CASE WHEN user_id % 11 = 0 THEN 1 ELSE 0 END AS u
        |  FROM events),
        |mm AS (SELECT max(user_id) AS mxu, min(ms) AS mnm,
        |    max(ms) AS mxm FROM e),
        |t AS (SELECT 'by_user' AS layout, user_id * 32 // (mxu + 1) AS f,
        |    u FROM e, mm
        |  UNION ALL
        |  SELECT 'by_time', (ms - mnm) * 32 // (mxm - mnm + 1), u
        |  FROM e, mm),
        |pf AS (SELECT layout, f, CAST(COUNT(*) AS BIGINT) AS rows_,
        |    CAST(SUM(u) AS BIGINT) AS upd FROM t GROUP BY 1, 2)
        |SELECT layout, CAST(COUNT(*) AS BIGINT) AS n_files,
        |  CAST(SUM(CASE WHEN upd > 0 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS files_touched,
        |  CAST(SUM(upd) AS BIGINT) AS n_updated_rows,
        |  CAST(SUM(CASE WHEN upd > 0 THEN rows_ ELSE 0 END) AS BIGINT)
        |    AS rows_rewritten,
        |  ROUND(CAST(SUM(CASE WHEN upd > 0 THEN rows_ ELSE 0 END)
        |    AS DOUBLE) / CAST(SUM(upd) AS DOUBLE), 6) AS write_amp
        |FROM pf GROUP BY 1""".stripMargin,

    "q272_operating_point" ->
      """WITH s AS (SELECT value AS score,
        |    CAST(event_type = 'click' AS BIGINT) AS y FROM events),
        |t AS (SELECT unnest([10.0E0, 50.0E0, 100.0E0, 250.0E0, 500.0E0])
        |        AS threshold),
        |c AS (SELECT t.threshold,
        |    CAST(SUM(CASE WHEN s.score >= t.threshold THEN s.y
        |             ELSE 0 END) AS BIGINT) AS tp,
        |    CAST(SUM(CASE WHEN s.score >= t.threshold THEN 1 - s.y
        |             ELSE 0 END) AS BIGINT) AS fp,
        |    CAST(SUM(CASE WHEN s.score < t.threshold THEN s.y
        |             ELSE 0 END) AS BIGINT) AS fn
        |  FROM t, s GROUP BY 1),
        |f AS (SELECT *,
        |    CASE WHEN 2 * tp + fp + fn > 0 THEN
        |      2 * CAST(tp AS DOUBLE) / CAST(2 * tp + fp + fn AS DOUBLE)
        |      ELSE 0.0E0 END AS f1r,
        |    fp * 1 + fn * 5 AS cost FROM c),
        |bf AS (SELECT min(threshold) AS bft FROM f
        |       WHERE f1r = (SELECT max(f1r) FROM f)),
        |mc AS (SELECT min(threshold) AS mct FROM f
        |       WHERE cost = (SELECT min(cost) FROM f))
        |SELECT threshold, tp, fp, fn,
        |  CASE WHEN tp + fp > 0 THEN
        |    CAST(tp AS DOUBLE) / CAST(tp + fp AS DOUBLE) END AS precision,
        |  CASE WHEN tp + fn > 0 THEN
        |    CAST(tp AS DOUBLE) / CAST(tp + fn AS DOUBLE) END AS recall,
        |  ROUND(f1r, 6) AS f1, CAST(cost AS BIGINT) AS cost,
        |  (threshold = bft) AS is_best_f1,
        |  (threshold = mct) AS is_min_cost
        |FROM f, bf, mc""".stripMargin,

    "q273_assortativity" ->
      """WITH ui AS (
        |  SELECT user_id, CAST(json_extract(props, '$.k') AS BIGINT)
        |      AS item_id,
        |    MAX(ts) AS last_ts
        |  FROM events WHERE json_extract(props, '$.k') IS NOT NULL
        |  GROUP BY 1, 2),
        |capped AS (SELECT user_id, item_id FROM (
        |    SELECT *, ROW_NUMBER() OVER (PARTITION BY user_id
        |      ORDER BY last_ts DESC, item_id ASC) AS rn FROM ui)
        |  WHERE rn <= 30),
        |cov AS (SELECT a.item_id AS ia, b.item_id AS ib
        |  FROM capped a JOIN capped b
        |    ON a.user_id = b.user_id AND a.item_id < b.item_id
        |  GROUP BY 1, 2 HAVING COUNT(*) >= 14),
        |sym AS (SELECT ia AS s2, ib AS d2 FROM cov
        |        UNION ALL SELECT ib, ia FROM cov),
        |deg AS (SELECT s2 AS n, CAST(COUNT(*) AS BIGINT) AS dg
        |        FROM sym GROUP BY 1),
        |pr AS (SELECT dx.dg AS x, dy.dg AS y FROM sym
        |       JOIN deg dx ON dx.n = sym.s2
        |       JOIN deg dy ON dy.n = sym.d2),
        |mom AS (SELECT CAST(COUNT(*) AS BIGINT) AS ne,
        |    SUM(CAST(x AS HUGEINT)) AS sx, SUM(CAST(y AS HUGEINT)) AS sy,
        |    SUM(CAST(x AS HUGEINT) * CAST(x AS HUGEINT)) AS sxx,
        |    SUM(CAST(x AS HUGEINT) * CAST(y AS HUGEINT)) AS sxy,
        |    SUM(CAST(y AS HUGEINT) * CAST(y AS HUGEINT)) AS syy FROM pr)
        |SELECT ne AS n_ends,
        |  ROUND(CASE WHEN CAST(ne * sxx - sx * sx AS DOUBLE) > 0.0E0
        |          AND CAST(ne * syy - sy * sy AS DOUBLE) > 0.0E0
        |    THEN CAST(ne * sxy - sx * sy AS DOUBLE)
        |      / sqrt(CAST(ne * sxx - sx * sx AS DOUBLE)
        |          * CAST(ne * syy - sy * sy AS DOUBLE)) END, 6)
        |    AS assortativity
        |FROM mom""".stripMargin,

    "q274_rich_club" ->
      """WITH ui AS (
        |  SELECT user_id, CAST(json_extract(props, '$.k') AS BIGINT)
        |      AS item_id,
        |    MAX(ts) AS last_ts
        |  FROM events WHERE json_extract(props, '$.k') IS NOT NULL
        |  GROUP BY 1, 2),
        |capped AS (SELECT user_id, item_id FROM (
        |    SELECT *, ROW_NUMBER() OVER (PARTITION BY user_id
        |      ORDER BY last_ts DESC, item_id ASC) AS rn FROM ui)
        |  WHERE rn <= 30),
        |cov AS (SELECT a.item_id AS ia, b.item_id AS ib
        |  FROM capped a JOIN capped b
        |    ON a.user_id = b.user_id AND a.item_id < b.item_id
        |  GROUP BY 1, 2 HAVING COUNT(*) >= 12),
        |sym AS (SELECT ia AS s2, ib AS d2 FROM cov
        |        UNION ALL SELECT ib, ia FROM cov),
        |deg AS (SELECT s2 AS n, CAST(COUNT(*) AS BIGINT) AS dg
        |        FROM sym GROUP BY 1),
        |kk AS (SELECT unnest([20, 40, 60, 80]) AS k),
        |nc AS (SELECT k, CAST(COUNT(*) AS BIGINT) AS n_club
        |       FROM deg, kk WHERE dg > k GROUP BY 1),
        |ec AS (SELECT k, CAST(COUNT(*) AS BIGINT) AS e_club
        |       FROM cov e JOIN deg da ON da.n = e.ia
        |            JOIN deg db ON db.n = e.ib, kk
        |       WHERE da.dg > k AND db.dg > k GROUP BY 1)
        |SELECT CAST(nc.k AS BIGINT) AS k, n_club,
        |  COALESCE(e_club, 0) AS e_club,
        |  n_club * (n_club - 1) // 2 AS possible,
        |  ROUND(CAST(COALESCE(e_club, 0) AS DOUBLE)
        |    / CAST(n_club * (n_club - 1) // 2 AS DOUBLE), 6) AS phi
        |FROM nc LEFT JOIN ec ON ec.k = nc.k
        |WHERE n_club > 1""".stripMargin,

    "q275_brier_decomposition" ->
      """WITH s0 AS (SELECT value / 500.0 AS score,
        |    CAST(user_id % 5 = 0 AS BIGINT) AS y FROM events),
        |s AS (SELECT CAST(floor(score * 1000000) AS BIGINT) AS fm, y,
        |    PERCENT_RANK() OVER (ORDER BY score) AS pr FROM s0),
        |b AS (SELECT fm, y,
        |    CAST(least(floor(pr * 10), 9) AS INT) AS bin FROM s),
        |pb AS (SELECT bin, CAST(COUNT(*) AS BIGINT) AS nb,
        |    CAST(SUM(fm) AS BIGINT) AS sf, CAST(SUM(y) AS BIGINT) AS sy,
        |    SUM(CAST((fm - y * 1000000) * (fm - y * 1000000) AS HUGEINT))
        |      AS sq
        |  FROM b GROUP BY 1),
        |g AS (SELECT CAST(SUM(nb) AS BIGINT) AS n,
        |    CAST(SUM(sy) AS BIGINT) AS gy, SUM(sq) AS gsq FROM pb),
        |t AS (SELECT nb,
        |    CAST(sf AS DOUBLE) / (CAST(nb AS DOUBLE) * 1.0E6) AS fb,
        |    CAST(sy AS DOUBLE) / CAST(nb AS DOUBLE) AS ob,
        |    CAST(gy AS DOUBLE) / CAST(n AS DOUBLE) AS obar,
        |    n, gy, gsq FROM pb, g),
        |m AS (SELECT n, gy, gsq,
        |    CAST(SUM(CAST(round(CAST(nb AS DOUBLE) * (fb - ob) * (fb - ob)
        |      * 1.0E6) AS BIGINT)) AS BIGINT) AS relm,
        |    CAST(SUM(CAST(round(CAST(nb AS DOUBLE) * (ob - obar)
        |      * (ob - obar) * 1.0E6) AS BIGINT)) AS BIGINT) AS resm
        |  FROM t GROUP BY 1, 2, 3),
        |r AS (SELECT n,
        |    ROUND(CAST(gsq AS DOUBLE) / (CAST(n AS DOUBLE) * 1.0E12), 6)
        |      AS brier,
        |    ROUND(CAST(relm AS DOUBLE) / (CAST(n AS DOUBLE) * 1.0E6), 6)
        |      AS reliability,
        |    ROUND(CAST(resm AS DOUBLE) / (CAST(n AS DOUBLE) * 1.0E6), 6)
        |      AS resolution,
        |    ROUND((CAST(gy AS DOUBLE) / CAST(n AS DOUBLE))
        |      * (1.0E0 - CAST(gy AS DOUBLE) / CAST(n AS DOUBLE)), 6)
        |      AS uncertainty
        |  FROM m)
        |SELECT n, brier, reliability, resolution, uncertainty,
        |  ROUND(brier - (reliability - resolution + uncertainty), 6)
        |    AS decomp_gap
        |FROM r""".stripMargin,

    "q276_padding_waste" -> {
      def arm(name: String, order: String) =
        s"""(SELECT '$name' AS strategy,
           |    CAST(COUNT(*) AS BIGINT) AS n_batches,
           |    CAST(SUM(tok) AS BIGINT) AS total_tokens,
           |    CAST(SUM(nb * mx) AS BIGINT) AS padded_tokens
           |  FROM (SELECT b, COUNT(*) AS nb, max(ln) AS mx,
           |      SUM(ln) AS tok
           |    FROM (SELECT ln, (ROW_NUMBER() OVER (ORDER BY $order) - 1)
           |        // 8 AS b FROM l) t
           |    GROUP BY 1) bb)""".stripMargin
      s"""WITH l AS (SELECT doc_id, CAST(len($sqlWords) AS BIGINT) AS ln
         |  FROM documents)
         |SELECT strategy, n_batches, total_tokens, padded_tokens,
         |  padded_tokens - total_tokens AS waste_tokens,
         |  ROUND(CAST(padded_tokens - total_tokens AS DOUBLE)
         |    / CAST(padded_tokens AS DOUBLE), 6) AS waste_frac
         |FROM (${arm("arrival", "doc_id")}
         |      UNION ALL ${arm("length_sorted", "ln, doc_id")}) u""".stripMargin
    },

    "q277_stream_moments" ->
      """SELECT event_type, CAST(COUNT(value) AS BIGINT) AS cnt,
        |  ROUND(CAST(SUM(CAST(ROUND(value, 6) AS DECIMAL(38,6)))
        |      AS DOUBLE) / CAST(COUNT(value) AS DOUBLE), 6) AS mean,
        |  ROUND(CAST(SUM(CAST(ROUND(value, 6) AS DECIMAL(38,6))
        |        * CAST(ROUND(value, 6) AS DECIMAL(38,6))) AS DOUBLE)
        |      / CAST(COUNT(value) AS DOUBLE)
        |    - (CAST(SUM(CAST(ROUND(value, 6) AS DECIMAL(38,6)))
        |        AS DOUBLE) / CAST(COUNT(value) AS DOUBLE))
        |      * (CAST(SUM(CAST(ROUND(value, 6) AS DECIMAL(38,6)))
        |        AS DOUBLE) / CAST(COUNT(value) AS DOUBLE)), 6)
        |    AS variance
        |FROM events GROUP BY 1""".stripMargin,

    "q278_rank_agreement" ->
      """WITH it AS (SELECT CAST(json_extract(props, '$.k') AS BIGINT)
        |      AS item_id,
        |    CAST(floor(value * 1.0E6) AS BIGINT) AS vm
        |  FROM events WHERE json_extract(props, '$.k') IS NOT NULL),
        |g0 AS (SELECT item_id, CAST(COUNT(*) AS BIGINT) AS x,
        |    CAST(SUM(vm) AS BIGINT) AS y FROM it GROUP BY 1),
        |g AS (SELECT * FROM g0 ORDER BY x DESC, item_id ASC LIMIT 50),
        |p AS (SELECT a.x AS xa, a.y AS ya, b.x AS xb, b.y AS yb
        |  FROM g a JOIN g b ON a.item_id < b.item_id),
        |c AS (SELECT CAST(COUNT(*) AS BIGINT) AS n0,
        |    CAST(SUM(CASE WHEN (xa < xb AND ya < yb)
        |      OR (xa > xb AND ya > yb) THEN 1 ELSE 0 END) AS BIGINT)
        |      AS concordant,
        |    CAST(SUM(CASE WHEN (xa < xb AND ya > yb)
        |      OR (xa > xb AND ya < yb) THEN 1 ELSE 0 END) AS BIGINT)
        |      AS discordant,
        |    CAST(SUM(CASE WHEN xa = xb THEN 1 ELSE 0 END) AS BIGINT)
        |      AS ties_x,
        |    CAST(SUM(CASE WHEN ya = yb THEN 1 ELSE 0 END) AS BIGINT)
        |      AS ties_y
        |  FROM p)
        |SELECT n0, concordant, discordant, ties_x, ties_y,
        |  ROUND(CASE WHEN (n0 - ties_x) > 0 AND (n0 - ties_y) > 0
        |    THEN CAST(concordant - discordant AS DOUBLE)
        |      / sqrt(CAST(n0 - ties_x AS DOUBLE)
        |          * CAST(n0 - ties_y AS DOUBLE)) END, 6) AS tau_b
        |FROM c""".stripMargin,

    "q279_graph_expand" ->
      s"""WITH q AS (SELECT vec_id AS query_id,
         |    CAST(embedding AS DOUBLE[]) AS qe
         |  FROM embeddings WHERE vec_id < 8),
         |sc AS (SELECT q.query_id, e.vec_id,
         |    ${sqlCosOf("q.qe", "CAST(e.embedding AS DOUBLE[])")} AS score
         |  FROM embeddings e, q WHERE e.vec_id <> q.query_id),
         |pool AS (SELECT query_id, vec_id, score FROM (
         |    SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
         |      ORDER BY score DESC, vec_id ASC) AS rnk FROM sc)
         |  WHERE rnk <= 10),
         |seeds AS (SELECT query_id, vec_id FROM (
         |    SELECT query_id, vec_id, ROW_NUMBER() OVER (
         |      PARTITION BY query_id
         |      ORDER BY score DESC, vec_id ASC) AS rnk FROM pool)
         |  WHERE rnk <= 3),
         |ed AS (SELECT a.vec_id AS src, a.vec_id + 1 AS dst
         |  FROM embeddings a
         |  JOIN embeddings b ON b.vec_id = a.vec_id + 1),
         |nbr AS (SELECT DISTINCT s.query_id, e2.dst AS vec_id
         |  FROM seeds s JOIN ed e2 ON s.vec_id = e2.src),
         |fresh AS (SELECT n.query_id, n.vec_id FROM nbr n
         |  LEFT JOIN pool p
         |    ON p.query_id = n.query_id AND p.vec_id = n.vec_id
         |  WHERE p.vec_id IS NULL),
         |nw AS (SELECT f.query_id, f.vec_id,
         |    0.8E0 * (${sqlCosOf("q.qe", "CAST(e.embedding AS DOUBLE[])")})
         |      AS score,
         |    TRUE AS expanded
         |  FROM fresh f JOIN q ON q.query_id = f.query_id
         |  JOIN embeddings e ON e.vec_id = f.vec_id)
         |SELECT query_id, vec_id, score, FALSE AS expanded FROM pool
         |UNION ALL
         |SELECT query_id, vec_id, score, expanded FROM nw""".stripMargin,

    // auto_link edges (adjacency-rank CONTINUATION + state-blocked
    // cosine RETRY_OF) then a 2-hop BFS: reached = h1 UNION h2 — the
    // set equals the frontier-BFS because a seed reached from another
    // seed only re-offers neighbors h1 already holds, and the
    // pool-minus step subsumes the seed-minus (seeds are pool rows)
    "q284_graph_autolink" ->
      s"""WITH q AS (SELECT vec_id AS query_id,
         |    CAST(embedding AS DOUBLE[]) AS qe
         |  FROM embeddings WHERE vec_id < 8),
         |sc AS (SELECT q.query_id, e.vec_id,
         |    ${sqlCosOf("q.qe", "CAST(e.embedding AS DOUBLE[])")} AS score
         |  FROM embeddings e, q WHERE e.vec_id <> q.query_id),
         |pool AS (SELECT query_id, vec_id, score FROM (
         |    SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
         |      ORDER BY score DESC, vec_id ASC) AS rnk FROM sc)
         |  WHERE rnk <= 10),
         |seeds AS (SELECT query_id, vec_id FROM (
         |    SELECT query_id, vec_id, ROW_NUMBER() OVER (
         |      PARTITION BY query_id
         |      ORDER BY score DESC, vec_id ASC) AS rnk FROM pool)
         |  WHERE rnk <= 3),
         |ep AS (SELECT vec_id AS id,
         |    CASE WHEN label = 0 THEN ''
         |      ELSE 's' || CAST(label % 5 AS VARCHAR) END AS state,
         |    vec_id * 10 AS st,
         |    vec_id * 10 + (vec_id % 7) * 2 AS en,
         |    CASE WHEN label % 3 = 0 THEN 'success'
         |      ELSE 'failure' END AS outcome,
         |    CASE WHEN label = 9 THEN NULL
         |      ELSE CAST(embedding AS DOUBLE[]) END AS emb
         |  FROM embeddings),
         |rk AS (SELECT *, ROW_NUMBER() OVER (ORDER BY st, id) AS rk
         |  FROM ep),
         |cont AS (SELECT p.id AS src, c.id AS dst
         |  FROM rk p JOIN rk c ON c.rk = p.rk + 1
         |  WHERE p.state <> '' AND c.state <> '' AND p.state = c.state
         |    AND c.st - p.en <= 6),
         |retry AS (SELECT c.id AS src, f.id AS dst
         |  FROM ep c JOIN ep f ON f.state = c.state
         |  WHERE c.state <> '' AND f.outcome = 'failure'
         |    AND c.emb IS NOT NULL AND f.emb IS NOT NULL
         |    AND (f.st < c.st OR (f.st = c.st AND f.id < c.id))
         |    AND ${sqlCosOf("c.emb", "f.emb")} >= 0.3E0),
         |ed AS (SELECT src, dst FROM cont
         |  UNION ALL SELECT src, dst FROM retry),
         |h1 AS (SELECT DISTINCT s.query_id, e2.dst AS vec_id
         |  FROM seeds s JOIN ed e2 ON s.vec_id = e2.src),
         |h2 AS (SELECT DISTINCT h.query_id, e2.dst AS vec_id
         |  FROM h1 h JOIN ed e2 ON h.vec_id = e2.src),
         |reached AS (SELECT query_id, vec_id FROM h1
         |  UNION SELECT query_id, vec_id FROM h2),
         |fresh AS (SELECT n.query_id, n.vec_id FROM reached n
         |  LEFT JOIN pool p
         |    ON p.query_id = n.query_id AND p.vec_id = n.vec_id
         |  WHERE p.vec_id IS NULL),
         |nw AS (SELECT f.query_id, f.vec_id,
         |    0.8E0 * (${sqlCosOf("q.qe", "CAST(e.embedding AS DOUBLE[])")})
         |      AS score,
         |    TRUE AS expanded
         |  FROM fresh f JOIN q ON q.query_id = f.query_id
         |  JOIN embeddings e ON e.vec_id = f.vec_id)
         |SELECT query_id, vec_id, score, FALSE AS expanded FROM pool
         |UNION ALL
         |SELECT query_id, vec_id, score, expanded FROM nw""".stripMargin,

    // boost chain written structurally identically to
    // Pipeline.episodeBoostScore (coalesced base, ×1.25E0 on failure,
    // then ×1.5E0 on state match); narrative via ordered string_agg
    "q289_retrieval_narrative" -> {
      val cosQE = sqlCosOf("e.emb", "q.qe")
      s"""WITH q AS (SELECT vec_id AS query_id,
         |    CAST(embedding AS DOUBLE[]) AS qe,
         |    's' || CAST(label % 5 AS VARCHAR) AS cur
         |  FROM embeddings WHERE vec_id < 8),
         |ep AS (SELECT vec_id,
         |    CASE WHEN label = 9 THEN NULL
         |      ELSE CAST(embedding AS DOUBLE[]) END AS emb,
         |    CASE WHEN label = 0 THEN ''
         |      ELSE 's' || CAST(label % 5 AS VARCHAR) END AS state,
         |    CASE WHEN label % 3 = 0 THEN 'success'
         |      ELSE 'failure' END AS outcome,
         |    CASE WHEN vec_id % 11 = 0 THEN ''
         |      ELSE 'episode ' || CAST(vec_id AS VARCHAR) END AS summary
         |  FROM embeddings),
         |sc AS (SELECT q.query_id, e.vec_id, e.state, e.outcome,
         |    e.summary,
         |    (CASE WHEN q.cur <> '' AND e.state = q.cur
         |       THEN (CASE WHEN e.outcome = 'failure'
         |               THEN coalesce($cosQE, 0E0) * 1.25E0
         |               ELSE coalesce($cosQE, 0E0) END) * 1.5E0
         |       ELSE (CASE WHEN e.outcome = 'failure'
         |               THEN coalesce($cosQE, 0E0) * 1.25E0
         |               ELSE coalesce($cosQE, 0E0) END) END) AS score
         |  FROM ep e, q WHERE e.vec_id <> q.query_id),
         |slate AS (SELECT query_id, vec_id, state, outcome, summary,
         |    score, CAST(rnk AS INT) AS rank FROM (
         |    SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
         |      ORDER BY score DESC, vec_id ASC) AS rnk FROM sc)
         |  WHERE rnk <= 5),
         |lb AS (SELECT query_id, vec_id, score, rank,
         |    (CASE WHEN summary <> '' THEN substr(summary, 1, 60)
         |       ELSE CAST(vec_id AS VARCHAR) END)
         |    || (CASE WHEN state <> '' THEN ' [' || state || ']'
         |          ELSE '' END)
         |    || (CASE WHEN outcome <> '' THEN ', outcome=' || outcome
         |          ELSE '' END) AS label
         |  FROM slate),
         |narr AS (SELECT query_id,
         |    string_agg(label, ' → ' ORDER BY rank) AS narrative
         |  FROM lb GROUP BY 1)
         |SELECT s.query_id, s.rank, s.vec_id, s.score, n.narrative
         |FROM slate s JOIN narr n ON n.query_id = s.query_id"""
        .stripMargin
    },

    // the same pool/flag/rank windows as preferStateApplicable; empty
    // list means universally applicable, query 3 skips the preference
    "q290_state_facts" ->
      s"""WITH q AS (SELECT vec_id AS query_id,
         |    CAST(embedding AS DOUBLE[]) AS qe,
         |    CASE WHEN vec_id = 3 THEN ''
         |      WHEN vec_id % 3 = 2 THEN 'zz'
         |      ELSE 's' || CAST(label % 5 AS VARCHAR) END AS cur
         |  FROM embeddings WHERE vec_id < 8),
         |f AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb,
         |    CASE WHEN vec_id % 7 = 3 THEN CAST([] AS VARCHAR[])
         |      ELSE ['s' || CAST(label % 5 AS VARCHAR)] END AS app
         |  FROM embeddings),
         |sc AS (SELECT q.query_id, f.vec_id, f.app, q.cur,
         |    ${sqlCosOf("f.emb", "q.qe")} AS score
         |  FROM f, q WHERE f.vec_id <> q.query_id),
         |pool AS (SELECT * FROM (
         |    SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
         |      ORDER BY score DESC, vec_id ASC) AS pr FROM sc)
         |  WHERE pr <= 6),
         |fl AS (SELECT *, cur <> '' AND (len(app) = 0
         |    OR list_contains(app, cur)) AS m FROM pool),
         |wh AS (SELECT *, MAX(CASE WHEN m THEN 1 ELSE 0 END)
         |    OVER (PARTITION BY query_id) AS has FROM fl),
         |mr AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id, m
         |    ORDER BY pr) AS mrk FROM wh)
         |SELECT query_id, vec_id, score,
         |  (cur <> '' AND m) AS matched
         |FROM mr
         |WHERE (cur <> '' AND has = 1 AND m AND mrk <= 3)
         |   OR ((cur = '' OR has = 0) AND pr <= 3)""".stripMargin,

    // the global greedy fold — shape and gotchas documented on
    // [[sqlFactMergeGreedy]]
    "q288_fact_merge" -> sqlFactMergeGreedy,

    // the SAME global-greedy recursion gates q291: with the exact
    // edge set (cells = 1, every pair examined), the per-component
    // fold provably equals the global fold (EpisodeGraph
    // .mergeFactsClustered scaladoc), so the distributed composition
    // is held to the sequential reference semantics, not to a looser
    // "same leaders somewhere" contract
    "q291_fact_merge_clustered" -> sqlFactMergeGreedy,

    // q293 runs the clustered merge's BLOCKED path (cells = 3); the
    // oracle is the GLOBAL greedy recursion over the same derived
    // corpus — equal exactly because the construction guarantees no
    // threshold edge crosses the k-means cells (see the query's
    // comment). The oracle derives the same stride from count(*) (the
    // q287 k1-derivation precedent), so the fixture geometry — and
    // with it the separation proof — reproduces at any sf.
    "q293_fact_merge_blocked" -> sqlFactMergeGreedyOver(
      """SELECT vec_id AS id,
        |  [CASE WHEN cl = 0 THEN 4E0
        |        WHEN (cl+1)%3 = 0 THEN tg ELSE 0E0 END,
        |   CASE WHEN cl = 1 THEN 4E0
        |        WHEN (cl+1)%3 = 1 THEN tg ELSE 0E0 END,
        |   CASE WHEN cl = 2 THEN 4E0
        |        WHEN (cl+1)%3 = 2 THEN tg ELSE 0E0 END] AS emb
        |FROM (SELECT vec_id, cl,
        |    CAST((vec_id - cl*st) % 2 AS DOUBLE) * 3E0
        |      + CAST((vec_id - cl*st) % 5 AS DOUBLE) * 0.1E0 AS tg
        |  FROM (SELECT vec_id, LEAST(vec_id // st, 2) AS cl, st
        |    FROM embeddings,
        |      (SELECT GREATEST(COUNT(*) // 3, 1) AS st
        |       FROM embeddings)))""".stripMargin, "0.9E0"),

    "q286_episode_boundaries" -> sqlEpisodeBoundaries(),

    // the STREAMING twin is held to the same batch rule: every real
    // episode (including the final one, which the gate's boundary
    // sentinel closes on the data path) must equal the batch
    // detector's row exactly — sentinels themselves never emit. The
    // +1 ts offset dodges the initial-watermark epoch-0 drop (see
    // sqlEpisodeBoundaries scaladoc).
    "q292_stream_episodes" -> sqlEpisodeBoundaries(tsOff = 1L),

    // q294: the batch episode rows (q292's oracle as a subquery)
    // joined to their chronological successor under the autoLink
    // CONTINUATION rule — equal states, both non-empty, gap <= 500.
    // The streaming side derives the same edges from its per-key
    // last-closed-episode state; single-key fixture, so per-key
    // adjacency IS the batch global order.
    // (concatenated, not interpolated into a stripMargin block: the
    // embedded oracle text contains `||` at line starts, whose first
    // pipe stripMargin would eat)
    "q294_stream_episode_links" ->
      ("WITH ep AS (" + sqlEpisodeBoundaries(tsOff = 1L) + "),\n" +
        """r AS (SELECT *, ROW_NUMBER() OVER
          |    (ORDER BY start_ts, episode_idx) AS rk FROM ep)
          |SELECT CAST(0 AS BIGINT) AS key, a.episode_idx AS src,
          |  b.episode_idx AS dst, 'continuation' AS link_type,
          |  1E0 AS strength
          |FROM r a JOIN r b ON b.rk = a.rk + 1
          |WHERE a.state = b.state AND a.state <> ''
          |  AND b.start_ts - a.end_ts <= 500""".stripMargin),
    "q280_counter_example" ->
      s"""WITH q AS (SELECT vec_id AS query_id,
         |    CAST(embedding AS DOUBLE[]) AS qe
         |  FROM embeddings WHERE vec_id < 8),
         |sc AS (SELECT q.query_id, e.vec_id,
         |    ${sqlCosOf("q.qe", "CAST(e.embedding AS DOUBLE[])")} AS score,
         |    CASE WHEN e.label % 7 = 0 THEN 'success' ELSE 'failure' END
         |      AS outcome
         |  FROM embeddings e, q WHERE e.vec_id <> q.query_id),
         |pool AS (SELECT query_id, vec_id, score, outcome FROM (
         |    SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
         |      ORDER BY score DESC, vec_id ASC) AS rnk FROM sc)
         |  WHERE rnk <= 20),
         |slate AS (SELECT query_id, vec_id, score, outcome,
         |    CAST(rnk AS INT) AS rank FROM (
         |    SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
         |      ORDER BY score DESC, vec_id ASC) AS rnk FROM pool)
         |  WHERE rnk <= 5),
         |census AS (SELECT query_id,
         |    MAX(CASE WHEN outcome = 'success' THEN 1 ELSE 0 END) AS has,
         |    MAX(rank) AS mr
         |  FROM slate GROUP BY 1),
         |appended AS (SELECT p.query_id, p.vec_id, p.score, p.outcome,
         |    CAST(c.mr + 1 AS INT) AS rank FROM (
         |    SELECT pl.query_id, pl.vec_id, pl.score, pl.outcome,
         |      ROW_NUMBER() OVER (PARTITION BY pl.query_id
         |        ORDER BY pl.score DESC, pl.vec_id ASC) AS brn
         |    FROM pool pl LEFT JOIN slate sl
         |      ON sl.query_id = pl.query_id AND sl.vec_id = pl.vec_id
         |    WHERE pl.outcome = 'success' AND sl.vec_id IS NULL) p
         |  JOIN census c ON c.query_id = p.query_id
         |  WHERE p.brn = 1 AND c.has = 0)
         |SELECT query_id, vec_id, score, outcome, rank FROM slate
         |UNION ALL
         |SELECT query_id, vec_id, score, outcome, rank FROM appended"""
        .stripMargin,

    "q281_reinforce_decay" -> {
      // PINNED table (Q281Weights), not a live weightTableMicro call:
      // the r14 kill-test proved the echoed-function shape tautological
      // (a generation-formula mutation survived the driver gate).
      // PipelineOpsSpec locks the pin to the engine function.
      val wtab = Q281Weights.microTable.mkString("[", ", ", "]")
      s"""WITH ev AS (SELECT
         |    CAST(json_extract(props, '$$.k') AS BIGINT) AS item_id,
         |    ts, event_id,
         |    CAST(event_id % 5 + 1 AS INT) AS r,
         |    CASE WHEN event_type = 'purchase' THEN 1
         |      WHEN event_type = 'error' THEN -1 ELSE 0 END AS v
         |  FROM events WHERE json_extract(props, '$$.k') IS NOT NULL),
         |o AS (SELECT item_id, v, r,
         |    ROW_NUMBER() OVER (PARTITION BY item_id
         |      ORDER BY ts DESC, event_id DESC) - 1 AS later
         |  FROM ev),
         |w AS (SELECT item_id, v,
         |    list_extract($wtab,
         |      CAST(later * 32 + GREATEST(LEAST(r - 1, 31), 0) + 1 AS INT)) AS wm
         |  FROM o WHERE later < 16)
         |SELECT item_id, CAST(COUNT(*) AS BIGINT) AS n_events_used,
         |  CAST(CAST(SUM(v * wm) AS BIGINT) AS DOUBLE) / 1.0E6
         |    AS outcome_score
         |FROM w GROUP BY 1""".stripMargin
    }
  )

  /** MinHash+LSH candidate-pair CTE chain shared by q23 (pairs) and
    * q42 (connected components over the pairs). Ends with `mh_pairs`
    * (id_a, id_b, jaccard ≥ 0.2). */
  /** MinHash banding CTE prefix (shingles → signatures → band
    * buckets), shared by the within-corpus pair chain and the q84
    * cross-corpus linkage oracle. Ends with `banded`. */
  /** q42's CHAIN probe: six 12-word docs sliding (stride 4) over one
    * 32-salt-word sequence, so adjacent docs share 8 words (jaccard
    * 6/14 ≈ 0.43) and skip-one docs share 4 (jaccard 2/18 ≈ 0.11 <
    * the 0.2 verify threshold). The salt seed is pinned to 7 — one of
    * the seeds (7/20/54 found) where every adjacent pair ALSO
    * co-buckets under the engine's 2-entry minhash bands, so the pair
    * graph is exactly a 5-edge PATH: a diameter-5 component. The raw
    * corpus's dup components are near-cliques that converge in one
    * propagation round (proven by the r14 kill-test: cc_converge_early
    * survived GREEN pre-probe), so only this chain makes multi-round
    * label propagation driver-visible — under a premature fixpoint,
    * nodes ≥ 3 hops from the min id keep phantom labels and read RED.
    * Input fixture shared verbatim with the oracle's `docs42` VALUES
    * (input sharing, not formula sharing — the oracle still bands,
    * verifies, and closes the chain with its own SQL). */
  private[graft] val ccChainProbe: Seq[(Long, String)] = (0 until 6).map { i =>
    (9000000021L + i, (0 until 12).map(j => s"p7w${4 * i + j}").mkString(" "))
  }

  /** q23's BAND-STRUCTURE probe pair (ids 9000000011/12): jaccard
    * 0.25 (≥ the 0.2 verify cut) but minhash signatures that agree at
    * entries 2 and 5 ONLY — never both entries of an aligned 2-entry
    * band — so correct 2-entry banding excludes the pair while ANY
    * single-entry banding co-buckets it and reads RED (kill-test
    * lsh_band_rows). Like [[ccChainProbe]], the kill-power lives in a
    * structure property of the CURRENT minhash params —
    * ProbeFixturesSpec locks both properties so a k/bands/hash change
    * cannot silently disarm the gates. */
  private[graft] val bandProbeDocs: Seq[(Long, String)] = Seq(
    (9000000011L,
      "alpha bravo charlie delta echo foxtrot golf hotel india " +
        "juliet kilo lima"),
    (9000000012L,
      "quebec985 bravo charlie delta echo foxtrot golf victor651 " +
        "india romeo717 mike21 lima"))

  private def sqlMinhashBandCtes: String = sqlMinhashBandCtesOver("documents")

  /** [[sqlMinhashBandCtes]] over an arbitrary docs relation — q42's
    * oracle threads a probe-extended `docs42` CTE through the same
    * banding SQL (the chain fixture must be banded on BOTH sides). */
  private def sqlMinhashBandCtesOver(rel: String): String =
    s"""sh AS (SELECT doc_id, $sqlShingles AS sh
       |            FROM (SELECT doc_id, $sqlWords AS w FROM $rel)),
       |hs AS (SELECT doc_id, sh,
       |         list_transform(sh, s -> ${sqlHash32(0, "s")}) AS hs FROM sh),
       |sig AS (SELECT doc_id, sh, [${(0 until 8).map(i =>
                  s"list_min(list_transform(hs, h -> (h*${TextFunctions.MinhashA(i)} + ${TextFunctions.MinhashB(i)}) % 4294967296))")
                  .mkString(", ")}] AS sig FROM hs),
       |banded AS (
       |  SELECT doc_id, sh, b.band_idx,
       |    array_to_string(list_slice(sig, b.band_idx*2+1, b.band_idx*2+2), ',')
       |      AS bucket
       |  FROM sig, (SELECT unnest([0,1,2,3]) AS band_idx) b)""".stripMargin

  private def sqlMinhashPairCtes: String = sqlMinhashPairCtesOver("documents")

  private def sqlMinhashPairCtesOver(rel: String): String =
    s"""${sqlMinhashBandCtesOver(rel)},
       |cand AS (
       |  SELECT DISTINCT l.doc_id AS id_a, r.doc_id AS id_b,
       |         l.sh AS sha, r.sh AS shb
       |  FROM banded l JOIN banded r
       |    ON l.band_idx = r.band_idx AND l.bucket = r.bucket
       |   AND l.doc_id < r.doc_id),
       |mh_pairs AS (
       |  SELECT id_a, id_b, jaccard FROM (
       |    SELECT id_a, id_b,
       |      CAST(len(list_intersect(list_distinct(sha), list_distinct(shb))) AS DOUBLE)
       |      / CAST(len(list_distinct(list_concat(list_distinct(sha),
       |          list_distinct(shb)))) AS DOUBLE) AS jaccard
       |    FROM cand)
       |  WHERE jaccard >= 0.2)""".stripMargin

  /** q139's oracle for a given pinned rotation matrix (the engine
    * LEARNS the same matrix deterministically from the sf's data —
    * [[graft.Q139Rotation]] holds one pin per testdata sf so
    * [[oracleSqlFor]] can emit the matching compare at any of them).
    * The d×d rotation is materialized as an unrolled left-associated
    * mat-vec chain matching VectorKernels.matVec's accumulation order
    * term for term, so the rotated coordinates are bit-identical
    * before the (independently SQL-expressed) PQ assign/score side. */
  private def sqlQ139For(rot: Array[Array[Double]]): String = {
    val d = rot.length
    val vParts = (0 until 8).map(j =>
      s"MAX(CASE WHEN c.j = $j THEN l.v END) AS v$j").mkString(",\n|         ")
    val vSum = (0 until 8).map(j => s"v$j").mkString(" + ")
    // bare decimal literals parse as DECIMAL in DuckDB (decimal×double
    // arithmetic then drifts ulps); an exponent forces DOUBLE parsing
    def dlit(x: Double): String = {
      val s = x.toString
      if (s.contains("E") || s.contains("e")) s else s + "E0"
    }
    val rotated = (0 until d).map { i =>
      (0 until d).map(j => s"(${dlit(rot(i)(j))})*emb[${j + 1}]")
        .mkString(" + ")
    }.mkString("list_value(\n|        ", ",\n|        ", ")")
    s"""WITH p AS (SELECT greatest(count(*) // 16, 1) AS stride FROM embeddings),
       |e0 AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings),
       |e AS (SELECT vec_id, $rotated AS emb FROM e0),
       |cb AS (SELECT (s.vec_id // p.stride) AS cid, j.j AS j,
       |         list_slice(s.emb, j.j*8 + 1, j.j*8 + 8) AS centroid
       |       FROM e s, p, generate_series(0, 7) j(j)
       |       WHERE s.vec_id % p.stride = 0 AND s.vec_id < p.stride * 16),
       |sv AS (SELECT e.vec_id, j.j AS j,
       |         list_slice(e.emb, j.j*8 + 1, j.j*8 + 8) AS sub
       |       FROM e, generate_series(0, 7) j(j)),
       |codes AS (SELECT vec_id, j, cid AS code FROM (
       |  SELECT sv.vec_id, sv.j, cb.cid,
       |    ROW_NUMBER() OVER (PARTITION BY sv.vec_id, sv.j
       |      ORDER BY ${sqlSqDistOf("sv.sub", "cb.centroid")} ASC,
       |               cb.cid ASC) AS rn
       |  FROM sv JOIN cb ON sv.j = cb.j) WHERE rn = 1),
       |q AS (SELECT vec_id AS query_id, emb FROM e WHERE vec_id < 5),
       |qsv AS (SELECT query_id, j.j AS j,
       |          list_slice(emb, j.j*8 + 1, j.j*8 + 8) AS qsub
       |        FROM q, generate_series(0, 7) j(j)),
       |lut AS (SELECT qsv.query_id, qsv.j, cb.cid,
       |          ${sqlDotOf("qsv.qsub", "cb.centroid")} AS v
       |        FROM qsv JOIN cb ON qsv.j = cb.j),
       |sc AS (SELECT l.query_id, c.vec_id,
       |         $vParts
       |       FROM codes c JOIN lut l ON c.j = l.j AND c.code = l.cid
       |       GROUP BY 1, 2)
       |SELECT query_id, vec_id, score, rank FROM (
       |  SELECT query_id, vec_id, $vSum AS score,
       |    CAST(ROW_NUMBER() OVER (PARTITION BY query_id
       |      ORDER BY $vSum DESC, vec_id ASC) AS INT) AS rank
       |  FROM sc)
       |WHERE rank <= 10""".stripMargin
  }

  /** [[oracleSql]] with the one DATA-PINNED oracle (q139's learned
    * rotation literals) swapped for the pin matching `dir` — so the
    * cross-sf harness gets a live compare at sf0.001/sf0.01/sf0.1
    * instead of a known-mismatch. For a dir with NO pin (exact
    * sf-basename match — sf1, renamed copies) the entry is OMITTED
    * entirely: the harness records a skip, never a false mismatch
    * against another sf's pin. [[Verify]] dumps this for whatever dir
    * it runs; at sf0.01 it is exactly the classic [[oracleSql]]
    * content. */
  def oracleSqlFor(dir: String): Map[String, String] =
    Q139Rotation.forDir(dir) match {
      case Some(p) => oracleSql + ("q139_ann_opq_rotated" -> sqlQ139For(p))
      case None => oracleSql - "q139_ann_opq_rotated"
    }

  /** Two exact Lloyd rounds on the q38 stride seed (cells = 8): CTEs
    * `e` (double embeddings), `c0` (seed), per-round `a{i}` (argmin
    * assignment), `m{i}` (q98 fixed-point mean per cell,dim), `c{i}`
    * (coalesce empty cells) — ends after `c2 AS (...),`. Shared by the
    * q182 centroid oracle and the q184 SemDeDup blocking oracle. */
  private def sqlKmeansC2Ctes: String = sqlKmeansC2CtesFor("8")

  /** [[sqlKmeansC2Ctes]] with the cell count an arbitrary SQL
    * expression over `n` (the corpus row count) — `"8"` reproduces the
    * pinned-k oracle byte-for-byte in spirit; q285 passes the
    * integer-ceil auto-scale rule `SimilaritySearch.autoCells`
    * evaluates Scala-side, so the learned blocking stays
    * engine-reproducible at EVERY sf, not just the gate's. */
  private def sqlKmeansC2CtesFor(cellsSqlOfN: String): String = {
    def round(i: Int, prev: String) =
      s"""a$i AS (SELECT vec_id, cell_id FROM (
         |  SELECT e.vec_id, c.cell_id, ROW_NUMBER() OVER (
         |    PARTITION BY e.vec_id
         |    ORDER BY ${sqlEuclidOf("e.emb", "c.centroid")} ASC,
         |             c.cell_id ASC) AS rn
         |  FROM e, $prev c) WHERE rn = 1),
         |m$i AS (SELECT cell_id, list(mv ORDER BY pp) AS centroid FROM (
         |    SELECT a.cell_id, u.pp,
         |      CAST(SUM(u.x) AS DOUBLE)
         |        / (CAST(COUNT(u.x) AS DOUBLE) * 1000000.0E0) AS mv
         |    FROM a$i a JOIN u USING (vec_id) GROUP BY 1, 2)
         |  GROUP BY cell_id),
         |c$i AS (SELECT p.cell_id, coalesce(m$i.centroid, p.centroid)
         |          AS centroid
         |        FROM $prev p LEFT JOIN m$i USING (cell_id)),""".stripMargin
    s"""kk AS (SELECT $cellsSqlOfN AS cells
       |       FROM (SELECT count(*) AS n FROM embeddings)),
       |p AS (SELECT greatest((SELECT count(*) FROM embeddings)
       |        // kk.cells, 1) AS stride, kk.cells AS cells FROM kk),
       |e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb
       |      FROM embeddings),
       |c0 AS (SELECT e.vec_id // p.stride AS cell_id, e.emb AS centroid
       |       FROM e, p
       |       WHERE e.vec_id % p.stride = 0
       |         AND e.vec_id < p.stride * p.cells),
       |mi AS (SELECT vec_id, list_transform(emb,
       |         x -> CAST(floor(x * 1000000) AS BIGINT)) AS v FROM e),
       |u AS (SELECT vec_id, generate_subscripts(v, 1) AS pp, unnest(v) AS x
       |      FROM mi),
       |${round(1, "c0")}
       |${round(2, "c1")}""".stripMargin
  }

  // --- shared DuckDB SQL fragments for the vector oracles ---
  // Same ascending-index left fold as graft.expr.{DotProduct,
  // SquaredDistance}; bit-exact across engines.
  /** Session-concurrency histogram oracle, shared by q241 (binned
    * pair join) and q282 (sweep-line ranks) — one spec of the answer,
    * two engine plans. */
  private def sqlSessionConcurrency: String =
    """WITH x AS (SELECT user_id, event_id, ts,
      |    lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
      |      AS prev FROM events),
      |s AS (SELECT user_id, ts,
      |    SUM(CASE WHEN prev IS NULL OR ts > prev + INTERVAL 6 HOUR
      |             THEN 1 ELSE 0 END)
      |      OVER (PARTITION BY user_id ORDER BY ts, event_id
      |            ROWS UNBOUNDED PRECEDING) AS session_idx
      |  FROM x),
      |sp AS (SELECT user_id, session_idx,
      |         min(epoch_ms(ts)) AS st, max(epoch_ms(ts)) AS en
      |       FROM s GROUP BY 1, 2),
      |ov AS (SELECT a.user_id, a.session_idx,
      |         CAST(COUNT(*) AS BIGINT) AS n
      |       FROM sp a JOIN sp b
      |         ON a.user_id <> b.user_id
      |           AND a.st <= b.en AND b.st <= a.en
      |       GROUP BY 1, 2),
      |pc AS (SELECT COALESCE(o.n, 0) AS n_concurrent
      |       FROM sp LEFT JOIN ov o USING (user_id, session_idx))
      |SELECT n_concurrent, CAST(COUNT(*) AS BIGINT) AS n_sessions
      |FROM pc GROUP BY 1""".stripMargin

  /** The q288/q291 oracle: the greedy fact merge as a recursive CTE
    * whose ANCHOR row carries the whole thresholded candidate table
    * (per-item sorted earlier-id lists): the recursive term references
    * nothing but the working row, so the expensive pair join evaluates
    * exactly once. (DuckDB 1.0 re-inlines multiply-referenced CTEs
    * into each recursion step — and its MATERIALIZED hint is
    * unreliable inside recursion — so carrying the state IS the only
    * single-statement shape that runs in O(pairs).) Survivor set =
    * greedy leader clustering; the final mapping needs no recursion
    * once the survivors are known: leader(i) = min matching survivor
    * id < i. f's IS NOT NULL mirrors mergeFacts' embCol.isNotNull
    * skip (facts.py's summary-less-episode skip) — the fixtures carry
    * no nulls today, but both sides must implement the same drop or a
    * null-bearing fixture would read as a false mismatch. */
  private def sqlFactMergeGreedy: String =
    sqlFactMergeGreedyOver(
      """SELECT vec_id AS id, CAST(embedding AS DOUBLE[]) AS emb
        |      FROM embeddings
        |      WHERE embedding IS NOT NULL""".stripMargin, "0.25E0")

  /** [[sqlFactMergeGreedy]] parameterized over the fact corpus and
    * threshold: `factsBody` is a SELECT yielding `(id, emb)`; the
    * global greedy recursion is unchanged. q293 points it at the
    * derived separated-cluster corpus (its blocked Spark twin equals
    * the global fold exactly because no threshold edge crosses the
    * construction's clusters). */
  private def sqlFactMergeGreedyOver(
      factsBody: String, threshold: String): String = {
    val cosPr = s"CASE WHEN ${sqlL2Of("a.emb")} * ${sqlL2Of("b.emb")} = 0E0 " +
      s"THEN 0E0 ELSE ${sqlDotOf("a.emb", "b.emb")} " +
      s"/ (${sqlL2Of("a.emb")} * ${sqlL2Of("b.emb")}) END"
    s"""WITH RECURSIVE
       |f AS ($factsBody),
       |it AS (SELECT id, emb, ROW_NUMBER() OVER (ORDER BY id) AS r
       |       FROM f),
       |pr AS (SELECT a.id AS ia, b.id AS ib
       |       FROM it a JOIN it b ON b.id < a.id
       |       WHERE $cosPr >= $threshold),
       |itc AS (SELECT it.id, it.r, coalesce(pc.cands, []) AS cands
       |        FROM it LEFT JOIN (SELECT ia, list(ib ORDER BY ib)
       |            AS cands FROM pr GROUP BY ia) pc ON pc.ia = it.id),
       |st AS (
       |  SELECT CAST(1 AS BIGINT) AS r,
       |    [(SELECT id FROM itc WHERE r = 1)] AS s,
       |    (SELECT list(struct_pack(id := id, cands := cands)
       |       ORDER BY r) FROM itc) AS ac
       |  UNION ALL
       |  SELECT st.r + 1,
       |    CASE WHEN list_has_any(st.s, struct_extract(
       |        list_extract(st.ac, CAST(st.r + 1 AS INT)), 'cands'))
       |      THEN st.s
       |      ELSE list_append(st.s, struct_extract(
       |        list_extract(st.ac, CAST(st.r + 1 AS INT)), 'id')) END,
       |    st.ac
       |  FROM st WHERE st.r < len(st.ac)),
       |sv AS (SELECT s FROM st ORDER BY r DESC LIMIT 1),
       |ld AS (SELECT itc.id, min(c) AS cand
       |       FROM itc, unnest(itc.cands) AS t(c), sv
       |       WHERE list_contains(sv.s, c) GROUP BY itc.id)
       |SELECT itc.id AS fact_id, coalesce(ld.cand, itc.id) AS leader_id,
       |       ld.cand IS NULL AS is_new
       |FROM itc LEFT JOIN ld ON ld.id = itc.id""".stripMargin
  }

  /** The q286/q292 oracle: the reference boundary rule over the
    * embeddings-derived timeline — per consecutive (ts, id)-ordered
    * pair, flag when 0.6·flip + 0.4·(1 − max(cos, 0)) >= 0.38 (flip
    * needs both states non-empty, the semantic term both embeddings;
    * zero-norm cosine reads 0), episode ids = running flag sum, one
    * aggregated row per episode. q292 runs the STREAMING detector
    * over the same derivation and must reproduce every row — with a
    * +1 ts offset on BOTH sides: entry 0's derived ts is 0, and
    * Spark's stateful-operator late filter at the INITIAL watermark 0
    * eats event-time-0 rows before the handler (the q292 gate found
    * this live; epoch-0 timestamps only exist in synthetic fixtures,
    * but the offset keeps the gate honest instead of silently
    * one-short). */
  private def sqlEpisodeBoundaries(tsOff: Long = 0L): String = {
    val l2p = sqlL2Of("p.pemb")
    val l2e = sqlL2Of("p.emb")
    val cosCase = s"CASE WHEN $l2p * $l2e = 0E0 THEN 0E0 " +
      s"ELSE ${sqlDotOf("p.pemb", "p.emb")} / ($l2p * $l2e) END"
    s"""WITH en AS (SELECT vec_id AS id,
       |    (vec_id % 64) * 1000 + vec_id + $tsOff AS ts,
       |    CASE WHEN label = 0 THEN ''
       |      ELSE 's' || CAST(label % 5 AS VARCHAR) END AS state,
       |    CASE WHEN label = 9 THEN NULL
       |      ELSE CAST(embedding AS DOUBLE[]) END AS emb,
       |    'doc ' || CAST(vec_id AS VARCHAR) AS content
       |  FROM embeddings),
       |rk AS (SELECT *, ROW_NUMBER() OVER (ORDER BY ts, id) AS rk
       |  FROM en),
       |p AS (SELECT c.id, c.ts, c.state, c.emb, c.content, c.rk,
       |    pr.state AS pstate, pr.emb AS pemb
       |  FROM rk c LEFT JOIN rk pr ON pr.rk = c.rk - 1),
       |f AS (SELECT id, ts, state, content, rk,
       |    CASE WHEN pstate IS NOT NULL AND
       |        0.6E0 * (CASE WHEN pstate <> state AND pstate <> ''
       |                   AND state <> '' THEN 1E0 ELSE 0E0 END)
       |      + 0.4E0 * (CASE WHEN pemb IS NOT NULL AND emb IS NOT NULL
       |                   THEN 1E0 - greatest($cosCase, 0E0)
       |                   ELSE 0E0 END)
       |      >= 0.38E0 THEN 1 ELSE 0 END AS flag
       |  FROM p),
       |s AS (SELECT *, CAST(SUM(flag) OVER (ORDER BY rk
       |    ROWS UNBOUNDED PRECEDING) AS BIGINT) AS episode_idx FROM f)
       |SELECT episode_idx, MIN(ts) AS start_ts, MAX(ts) AS end_ts,
       |  arg_min(id, rk) AS entry_start, arg_max(id, rk) AS entry_end,
       |  CAST(COUNT(*) AS BIGINT) AS n_entries,
       |  arg_min(state, rk) AS state,
       |  CAST(COUNT(*) AS VARCHAR) || ' entries: '
       |    || substr(arg_min(content, rk), 1, 80) || '…' AS summary
       |FROM s GROUP BY 1""".stripMargin
  }

  private def sqlDotOf(a: String, b: String): String =
    s"list_reduce(list_transform(list_zip($a, $b), x -> x[1]*x[2]), (p,q) -> p+q)"
  private def sqlL2Of(a: String): String =
    s"sqrt(list_reduce(list_transform($a, x -> x*x), (p,q) -> p+q))"
  private def sqlCosOf(a: String, b: String): String =
    s"${sqlDotOf(a, b)} / (${sqlL2Of(a)} * ${sqlL2Of(b)})"
  private def sqlEuclidOf(a: String, b: String): String =
    s"sqrt(${sqlSqDistOf(a, b)})"
  private def sqlSqDistOf(a: String, b: String): String =
    s"list_reduce(list_transform(list_zip($a, $b), " +
      s"x -> (x[1]-x[2])*(x[1]-x[2])), (p,q) -> p+q)"

  /** SQL twin of [[graft.functions.Minifloat.roundTo]], reading columns
    * `xv` (signed value), `a` (abs) and `ea` (adjusted binade exponent)
    * from the enclosing query. round_even == Math.rint; every step and
    * comparison is exact in binary64. Overflow pins the reference byte
    * conversions: formats with an Inf encoding (fp16/e5m2) round
    * overflow to ±Inf; e4m3 (no Inf) lands on the NaN byte.
    */
  private def sqlMinifloat(manBits: Int, minExp: Int, maxFinite: String,
      infOnOverflow: Boolean = true): String = {
    val e = s"GREATEST(ea, $minExp)"
    def rAt(exp: String): String =
      s"round_even(a / power(2.0, $exp - $manBits), 0) * power(2.0, $exp - $manBits)"
    val r1 = rAt(e)
    val r2 = rAt(s"$e + 1")
    val r = s"CASE WHEN $r1 >= power(2.0, $e + 1) THEN $r2 ELSE $r1 END"
    val overflow =
      if (infOnOverflow) s"(CASE WHEN xv < 0 THEN -1.0 ELSE 1.0 END) * CAST('Infinity' AS DOUBLE)"
      else "CAST('NaN' AS DOUBLE)"
    s"""CAST(CASE WHEN a = 0 THEN xv
       |    WHEN $r > $maxFinite THEN $overflow
       |    ELSE (CASE WHEN xv < 0 THEN -1.0 ELSE 1.0 END) * ($r)
       |  END AS FLOAT)""".stripMargin
  }

  /** Duplicate-span detection CTE chain (l=5 token windows duplicated
    * corpus-wide, merged into per-doc islands) shared by the q99 span
    * report and the q191 span-removal oracle. Ends with
    * `z (doc_id, pos, isl)` plus `t (doc_id, tk)`; no trailing
    * comma. */
  private def sqlDupSpanZCtes: String =
    s"""t AS (SELECT doc_id, $sqlWords AS tk FROM documents),
       |w0 AS (SELECT doc_id, list_transform(generate_series(1, len(tk) - 4),
       |         i -> CAST(('0x'||substr(md5(
       |           array_to_string(list_slice(tk, i, i + 4), ' ')), 1, 15))
       |           AS BIGINT)) AS hs
       |       FROM t WHERE len(tk) >= 5),
       |w AS (SELECT doc_id, generate_subscripts(hs, 1) - 1 AS pos,
       |        unnest(hs) AS h FROM w0),
       |d AS (SELECT h FROM w GROUP BY h HAVING count(*) > 1),
       |m AS (SELECT w.doc_id, w.pos FROM w JOIN d USING (h)),
       |x AS (SELECT doc_id, pos,
       |        max(pos + 4) OVER (PARTITION BY doc_id ORDER BY pos
       |          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prev_end
       |      FROM m),
       |y AS (SELECT doc_id, pos, CASE WHEN prev_end IS NULL
       |        OR pos > prev_end + 1 THEN 1 ELSE 0 END AS f FROM x),
       |z AS (SELECT doc_id, pos,
       |        SUM(f) OVER (PARTITION BY doc_id ORDER BY pos) AS isl FROM y)""".stripMargin

  /** CDC chunk CTE chain for q186/q187 (w=16, divisor=64, seed=7,
    * doc_id % 10 slice — [[graft.operators.Dedup.cdcChunks]]'s
    * defaults): ends with `z` = one row per chunk carrying
    * `(doc_id, text, chunk_idx 0-based, st, en)`. No trailing comma. */
  private def sqlCdcChunkCtes: String =
    """WITH d AS (SELECT doc_id, text FROM documents WHERE doc_id % 10 = 0),
      |pos AS (SELECT doc_id, text,
      |          unnest(generate_series(16, length(text))) AS i
      |        FROM d WHERE length(text) >= 16),
      |cuts AS (SELECT doc_id, i FROM pos
      |  WHERE CAST(('0x'||substr(md5('7:'||substr(text,
      |      CAST(i - 15 AS INT), 16)), 1, 8)) AS BIGINT) % 64 = 0),
      |cs AS (SELECT doc_id, list(i ORDER BY i) AS cs FROM cuts GROUP BY 1),
      |cl AS (SELECT d.doc_id, d.text, length(d.text) AS n,
      |         coalesce(cs.cs, []) AS cs
      |       FROM d LEFT JOIN cs USING (doc_id)),
      |bs AS (SELECT doc_id, text,
      |         list_sort(list_distinct(list_concat(list_concat([0], cs), [n]))) AS bs
      |       FROM cl),
      |ch AS (SELECT doc_id, text,
      |         list_slice(bs, 1, len(bs) - 1) AS ss,
      |         list_slice(bs, 2, len(bs)) AS es FROM bs),
      |z AS (SELECT doc_id, text, generate_subscripts(ss, 1) - 1 AS chunk_idx,
      |        unnest(ss) AS st, unnest(es) AS en FROM ch)""".stripMargin

  // --- shared DuckDB SQL fragments for the text oracles ---
  private val sqlWords =
    "string_split(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' ')"
  private val sqlShingles =
    "list_transform(generate_series(1, greatest(len(w)-2, 1)), " +
      "i -> array_to_string(list_slice(w, i, i+2), ' '))"
  private def sqlHash32(seed: Int, v: String): String =
    s"CAST(('0x'||substr(md5('$seed:'||$v), 1, 8)) AS BIGINT)"
  private def sqlHits(lang: String): String = {
    val list = TextFunctions.stopwords(lang).map(w => s"'$w'").mkString(", ")
    s"len(list_intersect(w, [$list]))"
  }
}
