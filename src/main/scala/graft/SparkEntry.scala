package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.OracleMath._
import graft.expr.Rpn
import graft.functions.{Decode, Similarity, TextFunctions}
import graft.operators.{ChangeCapture, FeatureStore, Filters, InteractionStore, Normalize, Pipeline, SimilaritySearch, Sketches}

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

  private def streamSession(s: SparkSession): SparkSession =
    // ONE clone per parent session, cached (r18, verdict item 8):
    // every clone that starts a stream lazily attaches a
    // StreamingQueryListenerBus to the shared SparkContext
    // LiveListenerBus and is never detached (the bus holds the strong
    // ref), so a fresh clone per query invocation accumulated
    // listeners for the JVM's life — each new one re-processing every
    // "streams"-queue event. Over a full bench (8 stream fixtures ×
    // warmup + 3 timed passes) that read as streaming queries running
    // ~2-3x slower IN-SUITE than warm-isolated (one stream gate:
    // 6.3 s in-suite vs 1.9 s isolated at 32c) while batch queries
    // were unaffected.
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

    // ---- deterministic train/val/test split: hash-bucket assignment,
    // stable across runs/partitionings/engines ----
    "q62_hash_split" -> ((s, dir) => {
      graft.operators.Sampling.split(
        Tables.documents(s, dir).select(col("doc_id"), col("lang")),
        keyCol = "doc_id",
        splits = Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1))
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

    // ---- exact fixed-point Gram matrix X^T.X over the embedding
    // corpus (custom TypedImperativeAggregate: d(d+1)/2-long triangle
    // state per task, one buffer across the shuffle — no d^2 row
    // inflation; integer micro-unit math = order-independent) ----
    "q75_gram_matrix" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
        .select(graft.operators.LinAlg.microVec(col("embedding")).as("__m"))
      graft.operators.LinAlg.gramUpper(emb, col("__m"))
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

    // ---- embedding-centroid outlier ranking (SemDeDup-style quality
    // signal): exact fixed-point label centroid, broadcast back,
    // 20 least-similar members per label ----
    "q100_centroid_outliers" -> ((s, dir) =>
      graft.operators.LinAlg.centroidOutliers(Tables.embeddings(s, dir),
        Seq("label"), "embedding", "vec_id", k = 20)),

    // ---- deterministic global shuffle + fixed-size training shards
    // (range-partitioned prefix-sum rank — no single-partition window) ----
    "q103_shard_assign" -> ((s, dir) =>
      graft.operators.Training.shard(
          Tables.documents(s, dir).select(col("doc_id")), "doc_id", 64L)
        .select(col("doc_id"), col("shard_id"), col("shard_offset"))),

    // ---- equal-frequency calibration table of value -> click rate ----
    "q110_calibration_bins" -> ((s, dir) =>
      graft.operators.Normalize.calibrationBins(
        Tables.events(s, dir).select(col("value"),
          (col("event_type") === "click").cast("long").as("label")),
        "value", "label", nBins = 10)),

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
          (InteractionStore.itemOf(col("props")) % 8).as("cat"))
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

    // ---- referential integrity: event users vs the customer table ----
    "q136_ref_integrity" -> ((s, dir) =>
      graft.operators.Validate.refIntegrity(
        Tables.events(s, dir), Tables.customer(s, dir),
        "user_id", "c_custkey")),

    // ---- snapshot column profile of the events table ----
    "q137_profile" -> ((s, dir) =>
      graft.operators.Validate.profile(Tables.events(s, dir),
        Seq("user_id", "event_type", "value", "props"))),

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

    // ---- robust per-group location/scale: EXACT lower median + MAD
    // via rank arithmetic on the distinct-value prefix-sum table (no
    // single-partition window), plus the 3·MAD outlier count — the
    // heavy-tail-proof twin of q125's z-score screen ----
    "q162_robust_stats" -> ((s, dir) =>
      graft.operators.Normalize.robustStatsBy(
        Tables.events(s, dir), "event_type", "value")),

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

    // ---- PQ quantization distortion audit: per-vector squared error
    // between the original embedding and its codeword reconstruction —
    // the figure OPQ's rotation exists to shrink, reported next to the
    // ANN queries it explains ----
    "q169_pq_recon_error" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      graft.operators.PqIndex.build(emb, m = 8, k = 16)
        .reconstructionError(emb)
    }),

    // ---- winsorized sibling of q167: the tails are CLAMPED to the
    // boundary order statistics instead of dropped (n stays constant);
    // clamped sum exact in longs, one division ----
    "q172_winsorized_mean" -> ((s, dir) =>
      graft.operators.Normalize.winsorizedMeanBy(
        Tables.events(s, dir).select(col("event_type"),
          floor(col("value") * 1e6).cast("long").as("vm")),
        "event_type", "vm", alpha = 0.1)),

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
      SimilaritySearch.retrievalOverlap(approx, exact)
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
          InteractionStore.itemOf(col("props"))),
        cutoff = "2024-01-24 00:00:00")),

    // ---- feature predictiveness: WOE / IV over 10 equal-count
    // value bins vs the purchase label ----
    "q225_weight_of_evidence" -> ((s, dir) =>
      graft.operators.Training.weightOfEvidence(
        Tables.events(s, dir).select(col("value"), col("event_id"),
          (col("event_type") === "purchase").cast("long").as("label")),
        "value", "label", "event_id", nBins = 10)),

    // ---- candlestick compaction: hourly OHLC of the payload value
    // per user ----
    "q227_ohlc_resample" -> ((s, dir) =>
      InteractionStore.ohlcResample(Tables.events(s, dir))),

    // ---- funnel latency: view -> purchase conversion-time p50/p90 ----
    "q228_time_to_convert" -> ((s, dir) =>
      graft.operators.Funnel.timeToConvert(
        Tables.events(s, dir), "user_id", "ts", "event_type",
        fromStage = "view", toStage = "purchase", probs = Seq(0.5, 0.9))),

    // ---- engagement headline: DAU / trailing-7-day WAU with
    // stickiness, exact distinct fan-out ----
    "q230_active_users" -> ((s, dir) =>
      InteractionStore.activeUserCurve(Tables.events(s, dir),
        windowDays = 7)),

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

    "q62_hash_split" ->
      s"""SELECT doc_id, lang,
         |  CASE WHEN h < 800000 THEN 'train'
         |       WHEN h < 900000 THEN 'val' ELSE 'test' END AS split
         |FROM (SELECT doc_id, lang,
         |  ${sqlHash32(7, "CAST(doc_id AS VARCHAR)")} % 1000000 AS h
         |  FROM documents)""".stripMargin,

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

    "q75_gram_matrix" ->
      """WITH e AS (SELECT list_transform(embedding,
        |    x -> CAST(floor(CAST(x AS DOUBLE) * 1000000) AS BIGINT)) AS v
        |  FROM embeddings)
        |SELECT CAST(s1.i AS INT) AS i, CAST(s2.j AS INT) AS j,
        |       CAST(SUM(v[s1.i] * v[s2.j]) AS BIGINT) AS g
        |FROM e, generate_series(1, 64) AS s1(i), generate_series(1, 64) AS s2(j)
        |WHERE s2.j >= s1.i
        |GROUP BY s1.i, s2.j""".stripMargin,

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
      // E0 suffix: parse as DOUBLE, not DECIMAL (decimal->double
      // conversion can land 1 ulp off the text->double parse).
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
        |FROM events GROUP BY 1""".stripMargin
  )

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

  // --- shared DuckDB SQL fragments for the text oracles ---
  private val sqlWords =
    "string_split(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' ')"
  private def sqlHash32(seed: Int, v: String): String =
    s"CAST(('0x'||substr(md5('$seed:'||$v), 1, 8)) AS BIGINT)"
}
