#!/usr/bin/env python3
"""Oracle kill-test: prove every gate class can go RED.

With an all-green query corpus the residual correctness risk is a gate
that CANNOT fail (a tautological oracle). This harness applies deliberate
single-point mutations to the ENGINE source, recompiles, reruns the
driver-style compare (graft.Verify -> tools/check_oracle.py) on the
mutated tree, and asserts the gate reads RED. A mutation that survives
GREEN is a gate bug: the finding is recorded and the GATE gets fixed
(never the harness weakened).

Usage: python3 tools/killtest.py [--round R] [mutation-name ...]
       python3 tools/killtest.py --sample N --round R

`--sample N` runs a deterministic ROTATION of N mutations chosen by
round number R, which it requires (window start = R*N mod
len(MUTATIONS), so consecutive rounds sweep the whole corpus with no
repeats until wraparound) — the cheap per-round cadence that keeps the
full corpus from rotting between full runs.

Writes history/KILLTEST_r{R}.json, or history/KILLTEST.json without
`--round` (override: $KILLTEST_ART; one entry per mutation:
expectation, observed gate color, per-query detail). Filtered and
sampled runs MERGE into the artifact — seeded from the newest
history/KILLTEST_r*.json when the artifact doesn't exist yet — so a
partial run never shrinks the recorded corpus. Dev tooling only —
the Scala library never depends on this. Refuses to start unless every
MUTATIONS entry, selected or not, is sound (its file exists, its `old`
string occurs exactly once, its query gates are SparkEntry queries and
its spec gate is a test class) and every mutation target file matches
git HEAD; restores every mutated file afterwards, and checks with
`git diff` that they match HEAD again, so a mutation can never ride
into a commit.
"""
import glob
import json
import os
import re
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SF = "/root/testdata/sf0.01"

# Each mutation: a single-point engine change (exact-string replace,
# must occur exactly once), the gate queries the driver compare runs,
# and the expected color. `expect: red` is the kill-test claim; a
# documented `expect: green` entry records a SHARED-CONSTRUCTION
# tautology found by this harness before its gate fix landed.
MUTATIONS = [
    {
        # (a) off-by-one in a bounded cap: mergeCap's final rank filter
        # keeps one extra event per (user, week)
        "name": "cap_offby1",
        "file": "src/main/scala/graft/operators/InteractionStore.scala",
        "old": '    pre.withColumn("__rn", row_number().over(w))\n      .filter(col("__rn") <= cap)',
        "new": '    pre.withColumn("__rn", row_number().over(w))\n      .filter(col("__rn") <= cap + 1)',
        "queries": ["q7_interaction_merge_cap"],
        "expect": "red",
        "mechanism": "cap=5 gate keeps 6 rows per (user,week) -> row-count mismatch",
    },
    {
        # (b) flipped comparison in the near-dup threshold operator
        "name": "threshold_flip",
        "file": "src/main/scala/graft/operators/SimilaritySearch.scala",
        "old": '      .filter(col("cosine") > threshold)',
        "new": '      .filter(col("cosine") < threshold)',
        "queries": ["q18_embedding_neardup", "q184_semantic_neardup"],
        "expect": "red",
        "mechanism": "emits the complement pair set -> row-count/hash mismatch",
    },
    {
        # (c) dropped zero-norm guard in nearDupPairs: raw cosine
        # division. Requires zero-norm rows in the gate's input to be
        # observable — the harness's first run proved the raw testdata
        # has none (mutation survived GREEN); q18 now unions a
        # zero-norm fixture block so the guard is driver-gated.
        "name": "zeronorm_guard_drop",
        "file": "src/main/scala/graft/operators/SimilaritySearch.scala",
        "old": '        when(col("a.__n") * col("b.__n") === 0.0, lit(0.0))\n          .otherwise(Similarity.dot(col(s"a.$embCol"), col(s"b.$embCol")) /\n            (col("a.__n") * col("b.__n"))).as("cosine"))',
        "new": '        (Similarity.dot(col(s"a.$embCol"), col(s"b.$embCol")) /\n            (col("a.__n") * col("b.__n"))).as("cosine"))',
        "queries": ["q18_embedding_neardup"],
        "expect": "red",
        "mechanism": "zero-norm probe pair divides 0/0 -> ANSI DIVIDE_BY_ZERO error "
                     "(observed; with ANSI off it would read NaN, and Spark's "
                     "NaN > threshold is true -> phantom pairs either way)",
    },
    {
        # (c2) ANN recall audit: retrievalOverlap counts every
        # approximate hit as common (the exact-side condition dropped),
        # so recall reads 1.0 whatever the index misses
        "name": "recall_overlap_approx_only",
        "file": "src/main/scala/graft/operators/SimilaritySearch.scala",
        "old": '        sum(when(col("__a").isNotNull && col("__e").isNotNull, 1L)',
        "new": '        sum(when(col("__a").isNotNull, 1L)',
        "queries": ["q180_ann_recall"],
        "expect": "red",
        "mechanism": "n_common = n_approx -> recall reads 1.0 on queries the "
                     "2-of-8-cell probe misses -> n_common/recall hash mismatch",
    },
    {
        # (d1) data-pinned oracle q139: the engine LEARNS the rotation;
        # the oracle applies pinned literals. A single-point covariance
        # bug must drift the learned rotation off the pin.
        "name": "q139_cov_mut",
        "file": "src/main/scala/graft/operators/PcaRotate.scala",
        "old": "      val c = g.toDouble / (n * unit * unit) - mu(i) * mu(j)",
        "new": "      val c = g.toDouble / (n * unit * unit) - mu(j) * mu(j)",
        "queries": ["q139_ann_opq_rotated"],
        "expect": "red",
        "mechanism": "asymmetric mean correction -> wrong covariance -> rotation off the pin",
    },
    {
        # (h) temporal boundary: TTL expiry <= flipped to < — a row
        # written EXACTLY ttl seconds before asOf flips from expired to
        # alive. The sf0.01 key set holds exactly one such row
        # (o_orderdate 1997-06-27 + 400 days == asOf midnight), so the
        # flip is driver-visible without a fixture.
        "name": "ttl_boundary_flip",
        "file": "src/main/scala/graft/operators/FeatureStore.scala",
        "old": '        col(writtenAt) + expr(s"INTERVAL ${fg.ttlSeconds} SECONDS") <=\n          asOf.getOrElse(current_timestamp())',
        "new": '        col(writtenAt) + expr(s"INTERVAL ${fg.ttlSeconds} SECONDS") <\n          asOf.getOrElse(current_timestamp())',
        "queries": ["q4_ttl_expiry"],
        "expect": "red",
        "mechanism": "the exact-boundary row flips expired->alive -> its real "
                     "o_totalprice leaks where the oracle reads the default",
    },
    {
        # (n) PLAN-AUDIT gate class (not the DuckDB compare): dropping
        # the retrieve path's broadcast hint changes the query's
        # exchange count away from its pinned bench_exchange_baseline
        # entry — the plan audit, the gate that guards plan
        # shape, must flag it. Values stay identical (a shuffled join
        # computes the same rows), so the DuckDB compare CANNOT catch
        # this class; the audit is the only gate with eyes on it.
        "name": "broadcast_hint_drop",
        "file": "src/main/scala/graft/operators/FeatureStore.scala",
        "old": "    def maybeBroadcast(df: DataFrame): DataFrame =\n      if (broadcastKeys) broadcast(df) else df",
        "new": "    def maybeBroadcast(df: DataFrame): DataFrame =\n      df",
        "queries": ["graft.FeatureStoreSpec"],
        "gate": "spec",
        "spec_filter": "broadcasts the key set",
        "expect": "red",
        "mechanism": "SortMergeJoin replaces the hinted broadcast once the spec "
                     "disables auto-broadcast. First run SURVIVED BOTH the "
                     "driver compare and the sf0.1 plan audit (gate=bench_audit): "
                     "at gate scale Spark's 10MB threshold broadcasts the small "
                     "keys side on its own, so the unhinted plan was IDENTICAL — "
                     "the hint is load-bearing only at 100TB key volumes. The "
                     "plan-shape spec now pins the hint with both broadcast "
                     "thresholds at -1, the one scale-independent gate for it",
    },
    {
        # (k) codegen-kernel class: the DotProduct Catalyst expression's
        # generated term x*y -> x*x (mutates the CODEGEN path the gate
        # executes; the interpreted twin stays correct, so a green here
        # would mean the gate silently fell back to interpreted eval).
        "name": "dot_codegen_term",
        "file": "src/main/scala/graft/expr/VectorExpressions.scala",
        "old": '  override protected def termJava(x: String, y: String): String = s"$x * $y"',
        "new": '  override protected def termJava(x: String, y: String): String = s"$x * $x"',
        "queries": ["q14_dot_product"],
        "expect": "red",
        "mechanism": "codegen'd dot becomes |a|^2 -> value mismatch",
    },
    {
        # (l) quantization-kernel class: fp16/fp8 round-to-nearest-even
        # becomes floor — every non-representable value drops a step.
        "name": "quantize_round_floor",
        "file": "src/main/scala/graft/functions/Minifloat.scala",
        "old": "    var r = Math.rint(a / step) * step",
        "new": "    var r = Math.floor(a / step) * step",
        "queries": ["q5_quantized_projection"],
        "expect": "red",
        "mechanism": "floor-rounded fp16/fp8 projections differ from the oracle's exact RNE",
    },
    {
        # (m) wire-codec class: the 40-bit expiry encoding widens to 6
        # bytes — the binary payload no longer matches the oracle's
        # 5-byte layout.
        "name": "expiry40_width",
        "file": "src/main/scala/graft/functions/WireCodecs.scala",
        "old": '    unhex(lpad(hex(seconds.cast("long").bitwiseAND(lit(Max40))), 10, "0"))',
        "new": '    unhex(lpad(hex(seconds.cast("long").bitwiseAND(lit(Max40))), 12, "0"))',
        "queries": ["q88_wire_roundtrip"],
        "expect": "red",
        "mechanism": "6-byte encoding -> wire_hex mismatch vs the oracle's "
                     "independent 10-hex-digit derivation. First run SURVIVED: "
                     "q88 was a pure roundtrip (decode(encode(x)) passes for any "
                     "self-consistent width, only WireCodecSpec pinned 5 bytes); "
                     "the gate now emits the encoded hex so the layout is "
                     "driver-visible",
    },
    {
        # (o) wire-LAYOUT class, proto3: non-canonical varint padding —
        # the final varint byte keeps its continuation bit and a 0x00
        # byte follows. Proto varint DECODERS accept non-canonical
        # encodings (the while-loop reads until the continuation bit
        # clears), so decode∘encode stays identity and a pure roundtrip
        # gate CANNOT see this; only the pinned probe wire_hex
        # (CPython-derived) reads RED. This is the q88 expiry-width
        # lesson applied to q89 — the mutation that motivated its pin.
        "name": "proto_varint_noncanonical",
        "file": "src/main/scala/graft/functions/ProtoWire.scala",
        "old": "    out.write(v.toInt)",
        "new": "    out.write((v | 0x80).toInt); out.write(0)",
        "queries": ["q89_proto_roundtrip"],
        "expect": "red",
        "mechanism": "every varint gains a redundant continuation byte; decode "
                     "still roundtrips (proto decoders accept non-canonical "
                     "varints) but the probe row's wire_hex is off the "
                     "CPython-derived pin",
    },
    {
        # props item surrogate: itemOf reads a JSON path the events do
        # not carry, so every item id parses to null
        "name": "item_of_wrong_path",
        "file": "src/main/scala/graft/operators/InteractionStore.scala",
        "old": 'get_json_object(props, "$.k").cast("long")',
        "new": 'get_json_object(props, "$.item").cast("long")',
        "queries": ["q131_constrained_rerank", "q220_cold_start"],
        "expect": "red",
        "mechanism": "null item ids: q131's category filter drops every "
                     "row (0 vs 1500) and q220's item cold rate divides "
                     "by zero test items (no output), while both oracles "
                     "read $.k",
    },
    {
        # (p4) shared-construction pin q203: Benford P(d) formula.
        "name": "benford_p_formula",
        "file": "src/main/scala/graft/operators/Validate.scala",
        "old": "math.log10(1.0 + 1.0 / d)",
        "new": "math.log10(1.0 + 1.0 / (d + 1))",
        "queries": ["q203_benford"],
        "expect": "red",
        "mechanism": "engine expected_p / chi2_term drift off the pinned "
                     "log10(1+1/d) literals",
    },
    {
        # (q) RPN expression-engine class: binary '-' operand order.
        # The q10 program computes `1 l_discount -` = 1 - l_discount;
        # the oracle is independent hand-written SQL.
        "name": "rpn_sub_swap",
        "file": "src/main/scala/graft/expr/Rpn.scala",
        "old": 'case "-" => a - b',
        "new": 'case "-" => b - a',
        "queries": ["q10_rpn_score"],
        "expect": "red",
        "mechanism": "(1 - l_discount) becomes (l_discount - 1) -> negated "
                     "factor, scores flip sign",
    },
    {
        # (r) temporal-ring class: the mod-24 ring slot shifts by one
        # week. The oracle derives ring_week with its own % 24.
        "name": "ring_slot_shift",
        "file": "src/main/scala/graft/operators/InteractionStore.scala",
        "old": "weekIndex(ts) % slots",
        "new": "(weekIndex(ts) + 1) % slots",
        "queries": ["q32_ring_week"],
        "expect": "red",
        "mechanism": "every ring_week off by one slot vs the oracle's "
                     "epoch_ms // week % 24",
    },
    {
        # (s) clamp-boundary class: the lower percentile clamp leg
        # drops — values below the 5th percentile scale negative
        # instead of clamping to 0.
        "name": "clamp_lower_drop",
        "file": "src/main/scala/graft/operators/Normalize.scala",
        "old": 'least(greatest(col(c), col("__vp")), col("__vq"))',
        "new": 'least(col(c), col("__vq"))',
        "queries": ["q12_percentile_clamp"],
        "expect": "red",
        "mechanism": "sub-p05 rows emit negative clamped values vs the "
                     "oracle's LEAST(GREATEST(...)) twin",
    },
    {
        # (v) retention-boundary class: the horizon filter keeps one
        # extra week (`<` -> `<=`); the oracle's own `mw - w < 2`
        # drops it.
        "name": "retention_boundary_flip",
        "file": "src/main/scala/graft/operators/InteractionStore.scala",
        "old": '.filter(col("__maxw") - weekIndex(col(tsCol)) < horizonWeeks)',
        "new": '.filter(col("__maxw") - weekIndex(col(tsCol)) <= horizonWeeks)',
        "queries": ["q33_retention_horizon"],
        "expect": "red",
        "mechanism": "events exactly horizonWeeks older than the user's "
                     "newest survive -> extra rows vs the oracle",
    },
    {
        # (w) streaming-watermark class (SPEC gate, like the broadcast
        # hint): freeze the sessionize watermark at a year — event-time
        # timeouts never fire, sessions never close. The driver's
        # single-file AvailableNow fixtures cannot see watermark
        # timing (one batch, no late arrivals), so the multi-batch
        # MemoryStream specs are the one gate with eyes on it.
        "name": "sessionize_watermark_freeze",
        "file": "src/main/scala/graft/streaming/Ingest.scala",
        "old": '        col("event_id").cast("long").as("event_id"),\n'
               '        col("ts").cast("long").as("ts"))\n'
               '      .withColumn("event_time", timestamp_millis(col("ts")))\n'
               '      .withWatermark("event_time", watermarkDelay)',
        "new": '        col("event_id").cast("long").as("event_id"),\n'
               '        col("ts").cast("long").as("ts"))\n'
               '      .withColumn("event_time", timestamp_millis(col("ts")))\n'
               '      .withWatermark("event_time", "365 days")',
        "queries": ["graft.IngestSpec"],
        "gate": "spec",
        "spec_filter": "streamingSessionize",
        "expect": "red",
        "mechanism": "a 365-day watermark delay keeps every event-time "
                     "timeout from firing -> sessions never close in the "
                     "multi-batch MemoryStream specs",
    },
    # ---- batch 3: one mutation per so-far-unprobed gate family ----
    {
        # (x) point-in-time class: the equal-ts visibility boundary.
        # History rows tag __is_label=0 so they sort BEFORE label rows
        # at the same ts (a feature written exactly at label time is
        # visible — the `<=` as-of contract). Tagging them 2 flips the
        # sort: equal-ts features become invisible, the classic as-of
        # off-by-one. q47's labels ARE events, so every label has a
        # history row at exactly its own ts — guaranteed boundary
        # coverage at any sf.
        "name": "pit_equal_ts_leak",
        "file": "src/main/scala/graft/operators/Training.scala",
        "old": '    val h = history.select(\n'
               '      keys.map(col) ++ Seq(col(tsCol), lit(0).as("__is_label"),\n'
               '        col(valueCol).as("__v")) ++',
        "new": '    val h = history.select(\n'
               '      keys.map(col) ++ Seq(col(tsCol), lit(2).as("__is_label"),\n'
               '        col(valueCol).as("__v")) ++',
        "queries": ["q47_point_in_time"],
        "expect": "red",
        "mechanism": "equal-ts history sorts after the label -> each label "
                     "reads the PREVIOUS feature value instead of the one "
                     "written at its own ts",
    },
    {
        # (aa) normalization class: min-max loses its min anchor
        # (x/max instead of (x-min)/(max-min)) — correct only when
        # min == 0.
        "name": "minmax_zero_anchor",
        "file": "src/main/scala/graft/operators/Normalize.scala",
        "old": '      .withColumn(out, (col(c) - col("__mn")) / (col("__mx") - col("__mn")))',
        "new": '      .withColumn(out, col(c) / col("__mx"))',
        "queries": ["q11_rpn_norm_minmax"],
        "expect": "red",
        "mechanism": "normalized values keep the min offset -> off the "
                     "oracle's (x-min)/(max-min) at every row with min != 0",
    },
    # ---- batch 4: the families NOTES listed as sharing kernels ----
    {
        # (ae) ANN probe-config class: the shared search probe (search,
        # searchInt8 and PqIndex.searchDotIvf) consumes one cell fewer
        # than configured (nProbe-1). The oracle's SQL mirrors the
        # 2-cell probe structurally, so candidates from the
        # second-closest cell vanish from the engine's top-k only.
        "name": "ivf_nprobe_consume",
        "file": "src/main/scala/graft/operators/AnnIndex.scala",
        "old": '    IvfIndex.nearestCells(staged, centroids, queryIdCol, queryEmbCol, nProbe)\n',
        "new": '    IvfIndex.nearestCells(staged, centroids, queryIdCol, queryEmbCol, nProbe - 1)\n',
        "queries": ["q48_ann_ivf_int8", "q59_ann_ivf_pq"],
        "expect": "red",
        "mechanism": "second-cell candidates drop out of the engine's "
                     "re-rank -> top-10 rows differ wherever the oracle's "
                     "2-cell probe wins",
    },
    {
        # (af) ordered-funnel class: stage k loses its in-order
        # constraint (reached-after-previous-stage) — ts_click becomes
        # the user's global earliest click even before any view.
        "name": "funnel_order_drop",
        "file": "src/main/scala/graft/operators/Funnel.scala",
        "old": '          else col(typeCol) === stage &&\n'
               '            col(s"ts_${stages(i - 1)}").isNotNull &&\n'
               '            col(tsCol) >= col(s"ts_${stages(i - 1)}")',
        "new": '          else col(typeCol) === stage',
        "queries": ["q78_funnel_reach"],
        "expect": "red",
        "mechanism": "any user whose click/purchase precedes their first "
                     "view reads an earlier (or spurious) stage timestamp "
                     "and a deeper funnel depth",
    },
    {
        # (ag) quota class: per-class cap off-by-one (`<= n` -> `< n`)
        # keeps n-1 rows per class.
        "name": "quota_offby1",
        "file": "src/main/scala/graft/operators/Sampling.scala",
        "old": '      .filter(col("__r") <= n)\n'
               '      .drop("__b", "__r")',
        "new": '      .filter(col("__r") < n)\n'
               '      .drop("__b", "__r")',
        "queries": ["q67_class_quota"],
        "expect": "red",
        "mechanism": "19 rows per class instead of 20 -> row-count mismatch",
    },
    {
        # (ah) histogram-edge class: the last-bucket clamp drops — the
        # column maximum computes bucket index == buckets and lands in
        # a phantom 21st bucket.
        "name": "histogram_edge_clamp",
        "file": "src/main/scala/graft/operators/Profile.scala",
        "old": '      .select(least(\n'
               '        floor((col(c) - col("__mn")) / (col("__mx") - col("__mn")) * buckets),\n'
               '        lit(buckets - 1L)).cast("long").as("bucket"),',
        "new": '      .select(\n'
               '        floor((col(c) - col("__mn")) / (col("__mx") - col("__mn")) * buckets)\n'
               '          .cast("long").as("bucket"),',
        "queries": ["q68_histogram"],
        "expect": "red",
        "mechanism": "max rows emit bucket == buckets -> an extra group row "
                     "and a short last bucket vs the oracle's clamped twin",
    },
    {
        # (ai) incremental-merge class: merged counts take the larger
        # state's count instead of summing — every key present in both
        # the history and delta states undercounts.
        "name": "incremental_merge_latest",
        "file": "src/main/scala/graft/operators/Incremental.scala",
        "old": '      .agg(sum(col("cnt")).cast("long").as("cnt"),\n'
               '        sum(col("sum_dec")).as("sum_dec"))',
        "new": '      .agg(max(col("cnt")).cast("long").as("cnt"),\n'
               '        sum(col("sum_dec")).as("sum_dec"))',
        "queries": ["q77_incremental_agg"],
        "expect": "red",
        "mechanism": "cnt = max(hist, delta) instead of the sum -> cnt and "
                     "val_avg drift for every key seen in both batches",
    },
    # ---- batch 5: remaining distinct kernels ----
    {
        # (aj) isotonic-regression class: the PAV monotonicity test
        # inverts — blocks merge when already in order and violations
        # survive, destroying the isotonic property of the fit.
        "name": "pav_violation_invert",
        "file": "src/main/scala/graft/operators/Normalize.scala",
        "old": "          BigInt(blocks.head._1) * cur._2 >= BigInt(cur._1) * blocks.head._2) {",
        "new": "          BigInt(blocks.head._1) * cur._2 <= BigInt(cur._1) * blocks.head._2) {",
        "queries": ["q149_isotonic_fit"],
        "expect": "red",
        "mechanism": "the fit merges non-violating blocks and keeps "
                     "violations -> calibrated values off the oracle's "
                     "minimax characterization",
    },
    {
        # (ak) deterministic-derivation class: JL hyperplane entries
        # lose the [-1,1] range mapping (stay in [0,1)) — every
        # projected coordinate drifts off the oracle's own md5-derived
        # planes.
        "name": "jl_plane_range",
        "file": "src/main/scala/graft/operators/AnnIndex.scala",
        "old": "        h / 4294967296.0 * 2 - 1",
        "new": "        h / 4294967296.0",
        "queries": ["q64_random_projection"],
        "expect": "red",
        "mechanism": "plane entries in [0,1) instead of [-1,1) -> all "
                     "projected values differ from the oracle's unrolled "
                     "mat-vec",
    },
    {
        # (am) distributed-prefix-sum class: the cross-partition offset
        # window includes the CURRENT partition's total (-1 -> 0) —
        # every row's cumulative sum double-counts its own partition.
        # PrefixSum is the one prefix-sum kernel, so ksStatistic (the
        # plain `inclusive` form) and percentRank (`inclusiveWithTotal`)
        # both go red.
        "name": "prefix_sum_offset",
        "file": "src/main/scala/graft/operators/PrefixSum.scala",
        "old": "      .rowsBetween(Window.unboundedPreceding, -1) // one row per partition",
        "new": "      .rowsBetween(Window.unboundedPreceding, 0) // one row per partition",
        "queries": ["q196_ks_drift", "q13_percentile_rank"],
        "expect": "red",
        "mechanism": "offsets include the own-partition total -> the "
                     "KS cumulative CDF gap shifts by a partition's "
                     "worth, so its max (ks_num, ks) moves; percent "
                     "ranks past the first range partition inflate",
    },
    # ---- batch 6: the r15 gate machinery (skew tier + state soak) ----
    {
        # (an) salted-agg class: the two-stage final merge takes the
        # max partial count instead of the sum — every key spread over
        # >1 salt bucket undercounts.
        "name": "salted_sum_merge_max",
        "file": "src/main/scala/graft/operators/Skew.scala",
        "old": '    partial.groupBy(keys.map(col): _*)\n'
               '      .agg(sum(col("__c")).as("n"),',
        "new": '    partial.groupBy(keys.map(col): _*)\n'
               '      .agg(max(col("__c")).as("n"),',
        "queries": ["q126_skew_salted_agg"],
        "expect": "red",
        "mechanism": "q126's celebrity key (80% of rows, 16 salt "
                     "buckets) reports n = its largest bucket instead "
                     "of the sum -> value mismatch",
    },
    {
        # (ao) census-capped fan-join class: split rows hash into
        # fan+1 sub-keys while the fan side replicates only 0..fan-1 —
        # split rows landing in the phantom sub-key never meet any
        # fan row, silently losing in-key pairs. The shared kernel
        # behind blockedBestMatch(maxBlock) and sessionConcurrency
        # (maxBin).
        "name": "capped_fan_sub_range",
        "file": "src/main/scala/graft/operators/Skew.scala",
        "old": '      .withColumn("__sub", pmod(xxhash64(splitHash: _*), col("__fan")))',
        "new": '      .withColumn("__sub", pmod(xxhash64(splitHash: _*), col("__fan") + lit(1L)))',
        "queries": ["q247_fuzzy_linkage"],
        "expect": "red",
        "mechanism": "q247 runs maxBlock=32 at gate scale (fan=2 per "
                     "nation block) -> ~1/3 of clean candidates land "
                     "in sub-key 2 the dirty side never covers -> "
                     "best matches change",
    },
    {
        # (ap) salted-join class: the small side's salt replication
        # loses bucket 0 — big rows hashing to salt 0 (~1/16) lose
        # their join partner. saltedJoin is exercised by NO q-number;
        # the skew tier's row-identity gate is its only driver gate,
        # so this mutation proves THAT machinery reads RED.
        "name": "salted_join_bucket_drop",
        "file": "src/main/scala/graft/operators/Skew.scala",
        "old": '    val s = small.withColumn("__salt",\n'
               '      explode(sequence(lit(0L), lit(salt.toLong - 1))))',
        "new": '    val s = small.withColumn("__salt",\n'
               '      explode(sequence(lit(1L), lit(salt.toLong - 1))))',
        "queries": ["skew_identity:salted_join"],
        "gate": "skew_identity",
        "expect": "red",
        "mechanism": "~1/16 of event rows (salt bucket 0) drop from "
                     "the salted join -> multiset signature mismatch "
                     "vs the plain join on the Zipf dir",
    },
    {
        # (aq) bounded-stream-state class: statefulMergeCap stops
        # capping its per-(user,week) bucket — state memory grows
        # linearly with batches instead of plateauing at cap events.
        # Gated by the state soak (r14 verdict item 4's machinery):
        # the mem-flatness detector must read the growth.
        "name": "mergecap_state_uncapped",
        "file": "src/main/scala/graft/streaming/Ingest.scala",
        "old": '            .sortWith((a, b) => a.ts > b.ts || (a.ts == b.ts && a.event_id < b.event_id))\n'
               '            .take(cap)',
        "new": '            .sortWith((a, b) => a.ts > b.ts || (a.ts == b.ts && a.event_id < b.event_id))',
        "queries": ["state_soak:statefulMergeCap"],
        "gate": "soak",
        "expect": "red",
        "mechanism": "uncapped buckets gain one event every 4 batches "
                     "forever -> memoryUsedBytes second-half mean "
                     "grows far past the 10% flatness tolerance",
    },
    {
        # (ar) driver-tier ordering class: the range tier's per-user
        # snapshot sorts ts ties by event_id DESCENDING instead of the
        # scan path's ascending tie-break, so a limit that cuts through
        # a tie keeps other events and ranks them differently. Only the
        # tier-vs-scan equivalence spec sees it: no query pins users.
        "name": "range_tier_tiebreak_flip",
        "file": "src/main/scala/graft/operators/RangeTier.scala",
        "old": "SortOrder(tie, Ascending)",
        "new": "SortOrder(tie, Descending)",
        "queries": ["graft.RangeTierSpec"],
        "gate": "spec",
        "expect": "red",
        "mechanism": "tied timestamps rank event_id desc on the tier and "
                     "asc on the scan path -> row and rank mismatches",
    },
]


def run(cmd, **kw):
    return subprocess.run(cmd, cwd=REPO, capture_output=True, text=True, **kw)


def differs_from_head(files):
    """True if any of `files` differs from git HEAD (staged or not)."""
    return run(["git", "diff", "--quiet", "HEAD", "--"] + sorted(files)).returncode != 0


def preflight():
    """One line per unsound MUTATIONS entry: a target file that does not
    exist, an `old` string that does not occur exactly once, a query
    gate that is not a `"<name>" ->` key in SparkEntry.scala, or a spec
    gate that names no test class. Checks every entry, so a change that
    deletes a mutation's target or gate fails the next run of any
    mutation instead of crashing only the run that selects it."""
    entry = open(os.path.join(
        REPO, "src/main/scala/graft/SparkEntry.scala")).read()
    test_classes = set()
    for path in glob.glob(os.path.join(REPO, "src/test/scala/**/*.scala"),
                          recursive=True):
        src = open(path).read()
        pkg = re.search(r"^package ([\w.]+)", src, re.M)
        prefix = pkg.group(1) + "." if pkg else ""
        test_classes |= {prefix + c for c in
                         re.findall(r"^class (\w+)", src, re.M)}
    problems = []
    for m in MUTATIONS:
        name, path = m["name"], os.path.join(REPO, m["file"])
        if not os.path.isfile(path):
            problems.append(f"{name}: {m['file']} does not exist")
            continue
        n = open(path).read().count(m["old"])
        if n != 1:
            problems.append(f"{name}: old string occurs {n} times in {m['file']}")
        gate = m.get("gate")
        if gate is None:
            problems += [f"{name}: query gate {q} is not a SparkEntry query"
                         for q in m["queries"] if f'"{q}" ->' not in entry]
        elif gate == "spec" and m["queries"][0] not in test_classes:
            problems.append(f"{name}: spec gate {m['queries'][0]} "
                            "is not a test class")
    return problems


def spec_color(m):
    """Run a ScalaTest suite (optionally filtered) as the gate;
    RED = the suite fails — for plan-shape contracts no driver-scale
    data can exercise (e.g. broadcast hints Spark's own thresholds
    mask at gate scale). ERROR = the run passed without running a
    test: sbt exits 0 on "No tests to run" when the suite name matches
    no class, and ScalaTest on "No tests were executed" when the filter
    matches no test, so a misnamed gate would otherwise read GREEN."""
    suite = m["queries"][0]
    filt = m.get("spec_filter")
    cmd = f"testOnly {suite}" + (f' -- -z "{filt}"' if filt else "")
    r = subprocess.run(["sbt", "-batch", cmd],
                       cwd=REPO, capture_output=True, text=True)
    failed = r.returncode != 0 or "*** FAILED ***" in r.stdout
    ran = sum(int(n) for n in re.findall(r"Total number of tests run: (\d+)", r.stdout))
    tail = [l for l in r.stdout.splitlines()
            if "FAILED" in l or "Tests:" in l or "No tests" in l][-4:]
    color = "red" if failed else "green" if ran else "error"
    return color, {"spec": cmd, "tests_run": ran, "tail": tail}


def skew_identity_color(tag):
    """Run the skew row-identity gate (graft.tools.SkewIdentity) on a
    Zipf sf0.01 dir; RED = any
    salted/capped path's multiset signature mismatches its direct
    twin. The only gate that sees kernels no q-number exercises
    (Skew.saltedJoin). The data dir is generated once and reused —
    GenSf is never a mutation target, so a mutated tree cannot bake a
    mutation into the fixture."""
    d = "/tmp/kt_skew_sf0.01"
    r = run(["sbt", "-batch", f"runMain graft.tools.SkewIdentity {d} 0.01"])
    lines = [l for l in r.stdout.splitlines() if "SKEWID" in l]
    color = "red" if r.returncode != 0 or not any(
        '"ok":true' in l for l in lines) else "green"
    return color, {"skewid": lines[-8:]}


def soak_color(tag):
    """Run the streaming state soak (graft.tools.StateSoak, the r14
    verdict item 4 machinery) at the documented 200x400 scale; RED =
    any operator's post-warmup state rows leave the population bound
    or state memory grows past the flatness tolerance (nonzero
    exit)."""
    r = run(["sbt", "-batch", "runMain graft.tools.StateSoak 200 400"])
    lines = [l for l in r.stdout.splitlines() if "STATESOAK" in l]
    color = "red" if r.returncode != 0 or not any(
        '"ok":true' in l and "SUMMARY" in l for l in lines) else "green"
    return color, {"soak": lines[-4:]}


def gate_color(queries, tag):
    """Run Verify + check_oracle on `queries`; return (color, detail).
    RED = any query fails the driver-style compare (hash/rows/schema
    mismatch, oracle error, or the engine query crashing)."""
    out = f"/tmp/kt_{tag}"
    run(["rm", "-rf", out])
    v = run(["sbt", "-batch",
             f"runMain graft.Verify {SF} {out} " + " ".join(queries)])
    verify_errs = [l for l in v.stderr.splitlines() + v.stdout.splitlines()
                   if "[verify]" in l]
    c = run(["python3", "tools/check_oracle.py", SF, out] + queries)
    lines = [l for l in c.stdout.splitlines()
             if l.startswith(("PASS", "FAIL"))]
    fails = [l for l in lines if l.startswith("FAIL")]
    passes = [l for l in lines if l.startswith("PASS")]
    color = "red" if fails or verify_errs else (
        "green" if len(passes) == len(queries) else "red")
    return color, {"compare": lines, "verify_errors": verify_errs}


HISTORY = os.path.join(REPO, "history")


def artifact_path(rnd):
    """$KILLTEST_ART, else the round's artifact under history/."""
    name = f"KILLTEST_r{rnd}.json" if rnd is not None else "KILLTEST.json"
    return os.environ.get("KILLTEST_ART", os.path.join(HISTORY, name))


def seed_artifact(art_path):
    """The artifact to merge a partial run into: `art_path` if it
    exists, else the newest round's under history/ (carries the full
    corpus forward across rounds)."""
    if os.path.exists(art_path):
        return art_path
    import glob
    prior = sorted(glob.glob(os.path.join(HISTORY, "KILLTEST_r*.json")),
                   key=lambda p: int("".join(filter(str.isdigit,
                                                    os.path.basename(p)))))
    return prior[-1] if prior else None


def main():
    args = sys.argv[1:]
    sample = None
    rnd = None
    rest = []
    it = iter(args)
    for a in it:
        if a == "--sample":
            sample = int(next(it))
        elif a == "--round":
            rnd = int(next(it))
        else:
            rest.append(a)
    only = set(rest)
    if sample and rnd is None:
        sys.exit("--sample needs --round R (the rotation window's round)")
    art_path = artifact_path(rnd)
    if sample:
        # deterministic rotation: round R takes the window starting at
        # R*N mod |MUTATIONS|, so consecutive rounds sweep the corpus
        n = len(MUTATIONS)
        start = (rnd * sample) % n
        picked = [MUTATIONS[(start + i) % n]["name"]
                  for i in range(min(sample, n))]
        only = set(picked)
        print(f"== sample rotation: round {rnd}, window [{start}..) "
              f"-> {picked}")
    problems = preflight()
    if problems:
        sys.exit("refusing to start: unsound mutation entries\n  " +
                 "\n  ".join(problems))
    targets = {m["file"] for m in MUTATIONS}
    if differs_from_head(targets):
        sys.exit("refusing to start: mutation target files differ from git "
                 "HEAD; commit or stash them first")
    results = []
    originals = {}
    try:
        for m in MUTATIONS:
            if only and m["name"] not in only:
                continue
            path = os.path.join(REPO, m["file"])
            src = open(path).read()
            originals.setdefault(path, src)
            print(f"== {m['name']}: mutating {m['file']}")
            open(path, "w").write(src.replace(m["old"], m["new"]))
            comp = run(["sbt", "-batch", "compile"])
            if comp.returncode != 0:
                results.append({"mutation": m["name"], "result": "COMPILE-ERROR",
                                "detail": comp.stdout[-2000:]})
            else:
                gate = m.get("gate")
                if gate == "spec":
                    color, detail = spec_color(m)
                elif gate == "skew_identity":
                    color, detail = skew_identity_color(m["name"])
                elif gate == "soak":
                    color, detail = soak_color(m["name"])
                else:
                    color, detail = gate_color(m["queries"], m["name"])
                verdict = {"red": "KILLED", "green": "SURVIVED"}.get(color, "HARNESS-ERROR")
                print(f"   gate={color} ({verdict}; expected {m['expect']})")
                results.append({
                    "mutation": m["name"], "file": m["file"],
                    "gates": m["queries"], "mechanism": m["mechanism"],
                    "expected": m["expect"], "observed": color,
                    "result": verdict,
                    "ok": color == m["expect"], "detail": detail})
            open(path, "w").write(originals[path])
    finally:
        for path, src in originals.items():
            open(path, "w").write(src)
    # every mutated file must be back at HEAD
    assert not differs_from_head(originals), "restore failed: " + \
        run(["git", "diff", "--stat", "HEAD", "--"] + sorted(originals)).stdout
    seed = seed_artifact(art_path)
    if only and seed:
        # filtered/sampled run: MERGE into the existing artifact
        # (replace re-run mutations by name, keep the rest; seeded
        # from the newest prior round when this round's file doesn't
        # exist yet) so a targeted re-check never silently shrinks
        # the recorded corpus; a prior result whose mutation is no
        # longer in MUTATIONS is dropped, never carried forward
        prev = json.load(open(seed)).get("mutations", [])
        order = {m["name"]: i for i, m in enumerate(MUTATIONS)}
        names = {r["mutation"] for r in results}
        merged = [r for r in prev
                  if r["mutation"] in order and r["mutation"] not in names]
        results = sorted(merged + results,
                         key=lambda r: order[r["mutation"]])
    ok = all(r.get("ok") for r in results)
    art = {"sf": SF, "all_expected": ok, "mutations": results}
    with open(art_path, "w") as f:
        json.dump(art, f, indent=1)
    print(f"== {'ALL EXPECTED' if ok else 'UNEXPECTED RESULTS'} "
          f"-> {os.path.basename(art_path)}")
    sys.exit(0 if ok else 1)


if __name__ == "__main__":
    main()
