"""Plan-regression harness for every bench.py headline query (VERDICT
r4 #7): one parameterized test snapshotting physical-plan fingerprints.

A fingerprint counts the plan features that decide 100 TB behavior:

* ``shuffle_exchanges`` — every non-broadcast Exchange is a full
  shuffle of its input; an extra one is a silent 2× cost regression;
* ``broadcast_hash_joins`` vs ``sort_merge_joins`` — a dimension that
  stops broadcasting turns a map-side join into a corpus shuffle;
* ``cartesian_products`` — never acceptable in this suite;
* ``python_stages`` — Arrow/pandas eval stages; a Catalyst expression
  silently degrading to Python is a 10-100× hot-path regression.

The expected values are exact snapshots at the sf0.001 test fixture
(plan shapes are size-dependent only through broadcast thresholds,
which these inputs sit far below). A legitimate plan change (e.g. a new
operator stage) should update the snapshot in the same commit that
changes the plan — the point is that it cannot happen unnoticed.
"""

from __future__ import annotations

import re

import pytest

import __spark_entry__ as entrymod
from oracle_vector_search_spark.plans.inspect import python_operators

# ---- expected fingerprints, generated from the executed initial plans
# (AdaptiveSparkPlan isFinalPlan=false) at sf0.001 ----
# fmt: off
EXPECTED: dict[str, dict[str, int]] = {
    "q1_pricing_summary":              {"shuffle_exchanges": 1, "broadcast_hash_joins": 0, "sort_merge_joins": 0, "cartesian_products": 0, "python_stages": 0},
    "revenue_by_nation":               {"shuffle_exchanges": 1, "broadcast_hash_joins": 4, "sort_merge_joins": 0, "cartesian_products": 0, "python_stages": 0},
    "top3_orders_per_customer":        {"shuffle_exchanges": 1, "broadcast_hash_joins": 0, "sort_merge_joins": 0, "cartesian_products": 0, "python_stages": 0},
    "top_orders_global":               {"shuffle_exchanges": 0, "broadcast_hash_joins": 0, "sort_merge_joins": 0, "cartesian_products": 0, "python_stages": 0},
    "orders_with_big_lines":           {"shuffle_exchanges": 1, "broadcast_hash_joins": 1, "sort_merge_joins": 0, "cartesian_products": 0, "python_stages": 0},
    "hourly_event_windows":            {"shuffle_exchanges": 1, "broadcast_hash_joins": 0, "sort_merge_joins": 0, "cartesian_products": 0, "python_stages": 0},
    "user_sessions":                   {"shuffle_exchanges": 1, "broadcast_hash_joins": 0, "sort_merge_joins": 0, "cartesian_products": 0, "python_stages": 0},
    "purchase_asof_order":             {"shuffle_exchanges": 1, "broadcast_hash_joins": 0, "sort_merge_joins": 0, "cartesian_products": 0, "python_stages": 0},
    # r13 (VERDICT r12 #5): the profile-dispatched twin. The query pins
    # its threshold to the heaviest profiled timeline so BOTH slices
    # run at every fixture scale: plain window on the cold slice (1
    # exchange) + the time-bucketed salted tier on the hot slice (2:
    # bucket-agg + per-key window) + the union's output partitioning.
    # The broadcast is the salted tier's bucket-boundary join. The
    # ≤20-row profile consult runs at DISPATCH time (collected once,
    # driver-side) and is deliberately absent from this final plan.
    "purchase_asof_order_auto":        {"shuffle_exchanges": 4, "broadcast_hash_joins": 1, "sort_merge_joins": 0, "cartesian_products": 0, "python_stages": 0},
    "events_json_agg":                 {"shuffle_exchanges": 1, "broadcast_hash_joins": 0, "sort_merge_joins": 0, "cartesian_products": 0, "python_stages": 0},
    "exact_dedup_groups":              {"shuffle_exchanges": 1, "broadcast_hash_joins": 0, "sort_merge_joins": 0, "cartesian_products": 0, "python_stages": 0},
    "minhash_near_dup_pairs":          {"shuffle_exchanges": 0, "broadcast_hash_joins": 0, "sort_merge_joins": 0, "cartesian_products": 0, "python_stages": 0},
    "doc_token_stats":                 {"shuffle_exchanges": 0, "broadcast_hash_joins": 0, "sort_merge_joins": 0, "cartesian_products": 0, "python_stages": 0},
    "knn_exact_cosine_top5":           {"shuffle_exchanges": 1, "broadcast_hash_joins": 0, "sort_merge_joins": 0, "cartesian_products": 0, "python_stages": 0},
    "knn_exact_cosine_top5_gemm":      {"shuffle_exchanges": 1, "broadcast_hash_joins": 0, "sort_merge_joins": 0, "cartesian_products": 0, "python_stages": 1},
    "lsh_ann_topk":                    {"shuffle_exchanges": 0, "broadcast_hash_joins": 0, "sort_merge_joins": 0, "cartesian_products": 0, "python_stages": 0},
    "pipeline_index_build":            {"shuffle_exchanges": 0, "broadcast_hash_joins": 0, "sort_merge_joins": 0, "cartesian_products": 0, "python_stages": 0},
    "packed_context_bins":             {"shuffle_exchanges": 3, "broadcast_hash_joins": 0, "sort_merge_joins": 0, "cartesian_products": 0, "python_stages": 0},
    "pipeline_query_topk":             {"shuffle_exchanges": 1, "broadcast_hash_joins": 0, "sort_merge_joins": 0, "cartesian_products": 0, "python_stages": 0},
    "bucketed_colocated_join_revenue": {"shuffle_exchanges": 2, "broadcast_hash_joins": 0, "sort_merge_joins": 1, "cartesian_products": 0, "python_stages": 0},
    "bm25_retrieval_top10":            {"shuffle_exchanges": 2, "broadcast_hash_joins": 1, "sort_merge_joins": 0, "cartesian_products": 0, "python_stages": 0},
    "repeated_span_doc_stats":         {"shuffle_exchanges": 3, "broadcast_hash_joins": 2, "sort_merge_joins": 0, "cartesian_products": 0, "python_stages": 0},
    "profile_guided_skew_join_spend":  {"shuffle_exchanges": 2, "broadcast_hash_joins": 1, "sort_merge_joins": 0, "cartesian_products": 0, "python_stages": 0},
    "hamming_knn_top5":                {"shuffle_exchanges": 2, "broadcast_hash_joins": 0, "sort_merge_joins": 0, "cartesian_products": 0, "python_stages": 0},
    "hybrid_rrf_retrieval_top10":      {"shuffle_exchanges": 2, "broadcast_hash_joins": 1, "sort_merge_joins": 0, "cartesian_products": 0, "python_stages": 0},
    "maxsim_late_interaction_top5":    {"shuffle_exchanges": 2, "broadcast_hash_joins": 0, "sort_merge_joins": 0, "cartesian_products": 0, "python_stages": 0},
    # int8 refine broadcasts the CANDIDATE set (not the index, which
    # the fixture-size auto-broadcast used to pick — wrong at 100 TB);
    # the second Exchange is the metadata-sized Q×k merge window
    "knn_exact_gemm_int8":             {"shuffle_exchanges": 2, "broadcast_hash_joins": 2, "sort_merge_joins": 0, "cartesian_products": 0, "python_stages": 1},
    "quality_classifier_keep":         {"shuffle_exchanges": 0, "broadcast_hash_joins": 0, "sort_merge_joins": 0, "cartesian_products": 0, "python_stages": 0},
    "incremental_corpus_admission":    {"shuffle_exchanges": 3, "broadcast_hash_joins": 3, "sort_merge_joins": 1, "cartesian_products": 0, "python_stages": 0},
    # q21 (window rewrite): one (orderkey,suppkey) pair aggregation,
    # per-order counts as windows riding the same orderkey
    # partitioning, final tiny supplier rollup. At this fixture size
    # the lineitem⋈orders join auto-broadcasts; at scale it becomes
    # the one SMJ fact-fact join
    "q21_waiting_suppliers":           {"shuffle_exchanges": 3, "broadcast_hash_joins": 2, "sort_merge_joins": 0, "cartesian_products": 0, "python_stages": 0},
    "revenue_rollup_nation_year":      {"shuffle_exchanges": 1, "broadcast_hash_joins": 2, "sort_merge_joins": 0, "cartesian_products": 0, "python_stages": 0},
    "customer_spend_window_suite":     {"shuffle_exchanges": 2, "broadcast_hash_joins": 1, "sort_merge_joins": 0, "cartesian_products": 0, "python_stages": 0},
    # pagerank: the plan unrolls 3 iterations over the tiny at-rest
    # node/edge parquet tables (extracted once per session — the
    # build-once at-rest story); the exchange count reflects the
    # unrolled iteration plan over graph-sized inputs, NOT repeated
    # scans of the events table
    "pagerank_event_transitions":      {"shuffle_exchanges": 12, "broadcast_hash_joins": 7, "sort_merge_joins": 2, "cartesian_products": 0, "python_stages": 0},
    # tfidf: dots agg on the bucket-pruned postings + the doc_id join
    # against the at-rest norms table; query terms/qnorm broadcast
    "tfidf_cosine_top5":               {"shuffle_exchanges": 2, "broadcast_hash_joins": 2, "sort_merge_joins": 0, "cartesian_products": 0, "python_stages": 0},
    # ivfpq: probes (broadcast seeds + Q×seeds window) + the
    # cluster-partition-pruned scan of the at-rest codes table
    "ivfpq_ann_topk":                  {"shuffle_exchanges": 2, "broadcast_hash_joins": 2, "sort_merge_joins": 0, "cartesian_products": 0, "python_stages": 0},
    # bpe: two vocabulary-sized shuffles (word counts, pair counts)
    "bpe_merge_pairs_top20":           {"shuffle_exchanges": 2, "broadcast_hash_joins": 0, "sort_merge_joins": 0, "cartesian_products": 0, "python_stages": 0},
    # bigram LM: ONE corpus-sized shuffle (bigram counts); prefix counts
    # roll up from the count table (vocab-sized exchange), then count
    # joins + per-doc agg. 4 exchanges but only one moves corpus rows —
    # measured 1.75x faster than the 3-exchange two-corpus-pass shape
    # r16: c1 folded into c2's lineage as a w1 window (one consumer, no
    # keyed pin, no pin job) — the former pin HID its count exchange in
    # the pin job's plan, so the visible plan gains the train-agg +
    # window exchanges (2 → 3) while dropping the c1 join (2 → 1 BHJ)
    "bigram_lm_fluency":               {"shuffle_exchanges": 3, "broadcast_hash_joins": 1, "sort_merge_joins": 0, "cartesian_products": 0, "python_stages": 0},
    # seasonal baseline: one bounded-key partial agg, broadcast back
    "seasonal_hour_anomalies":         {"shuffle_exchanges": 1, "broadcast_hash_joins": 1, "sort_merge_joins": 0, "cartesian_products": 0, "python_stages": 0},
    # closure audit: 2 assignment windows + exact-top window + distinct
    # + final agg; probes/candidates broadcast — no SMJ anywhere
    "ivf_closure_recall_audit":        {"shuffle_exchanges": 4, "broadcast_hash_joins": 2, "sort_merge_joins": 0, "cartesian_products": 0, "python_stages": 0},
    # --- round 6 additions ---
    # hll: register groupBy + register rollup + exact count-distinct
    # (partial/final) — every exchange is register- or scalar-sized
    "hll_distinct_users_audit":        {"shuffle_exchanges": 4, "broadcast_hash_joins": 0, "sort_merge_joins": 0, "cartesian_products": 0, "python_stages": 0},
    # ks: value-grid groupBy + the single ordered prefix-sum window
    # over the DISTINCT support (grid-sized by design) + final max;
    # r10: the bounded_global_order anchor spec adds one grid-sized
    # hash exchange on the constant anchor (3 -> 4) in exchange for a
    # lint-visible boundedness declaration
    "value_ks_drift_audit":            {"shuffle_exchanges": 4, "broadcast_hash_joins": 0, "sort_merge_joins": 0, "cartesian_products": 0, "python_stages": 0},
    # benford: 9-key digit groupBy + total count + final projection
    "value_benford_audit":             {"shuffle_exchanges": 3, "broadcast_hash_joins": 0, "sort_merge_joins": 0, "cartesian_products": 0, "python_stages": 0},
    # bootstrap: one (b)-keyed map-side-combined agg over the B-fold
    # explode + B-row order-stat collect + full-sample agg
    # bootstrap: the tiny keyed repartition of the filtered base lets
    # the B-fold explode run at full width (4.4 s -> 1.6 s warm at
    # sf0.1); it appears twice (Exchange + ReusedExchange — the base
    # feeds both the resample and the full-mean branches)
    "bootstrap_mean_ci_deterministic": {"shuffle_exchanges": 4, "broadcast_hash_joins": 0, "sort_merge_joins": 0, "cartesian_products": 0, "python_stages": 0},
    # fuzzy: vocab distinct + variant self-join (auto-broadcast at
    # fixture size; the variant-keyed SMJ at scale) + pair distinct
    "fuzzy_token_pairs_edit1":         {"shuffle_exchanges": 2, "broadcast_hash_joins": 1, "sort_merge_joins": 0, "cartesian_products": 0, "python_stages": 0},
    # --- late round 6 ---
    # psi: the per-(type,half,cents) count table is localCheckpoint-
    # pinned (events read exactly twice, in the checkpoint job — hence
    # 0 parquet scans here); r15-opt folded the four per-half
    # aggregations into two conditional ones (6 exchanges -> 3: stats,
    # (type,bin) counts, final psi fold), all count-sized
    "psi_value_drift":                 {"shuffle_exchanges": 3, "broadcast_hash_joins": 2, "sort_merge_joins": 0, "cartesian_products": 0, "python_stages": 0},
    # novelty: gram explode → (hash,doc) df shuffle → per-doc rollup;
    # the df join auto-broadcasts at fixture size
    # novelty (r9 restructure): the pinned gram table feeds TWO aggs
    # (per-doc counts + per-hash df with the singleton owner) and the
    # final join is doc-sized broadcast — one more exchange than the
    # old shape but the gram-keyed join and the second shingle/md5
    # pass are gone (1.9 -> ~1.1 s warm at sf0.1)
    "doc_ngram_novelty":               {"shuffle_exchanges": 4, "broadcast_hash_joins": 1, "sort_merge_joins": 0, "cartesian_products": 0, "python_stages": 0},
    # fim: pure scan-stage projection — no exchange at all
    "fim_split_transform":             {"shuffle_exchanges": 0, "broadcast_hash_joins": 0, "sort_merge_joins": 0, "cartesian_products": 0, "python_stages": 0},
    # r7 multimodal: python stages are the codec UDFs (generate/decode
    # Arrow batches); feature math stays in Catalyst. One shuffle each
    # for the per-clip/group agg (+ one for the final orderBy/window).
    "audio_wav_feature_parity":        {"shuffle_exchanges": 1, "broadcast_hash_joins": 0, "sort_merge_joins": 0, "cartesian_products": 0, "python_stages": 2},
    "video_mjpeg_frame_parity":        {"shuffle_exchanges": 1, "broadcast_hash_joins": 0, "sort_merge_joins": 0, "cartesian_products": 0, "python_stages": 2},
    "image_dhash_dup_groups":          {"shuffle_exchanges": 2, "broadcast_hash_joins": 0, "sort_merge_joins": 0, "cartesian_products": 0, "python_stages": 3},
    # r7 tokenizer apply: the 16 greedy rounds run on pinned RDDs, so
    # the FINAL plan is just the usage aggregate + top-30 window — no
    # python, no joins surviving into the last stage
    "wordpiece_greedy_tokenize_top30": {"shuffle_exchanges": 2, "broadcast_hash_joins": 0, "sort_merge_joins": 0, "cartesian_products": 0, "python_stages": 0},
    # --- round 8 additions ---
    # video→vector: decode/sample/embed Arrow passes run at BUILD time
    # (the GEMM tier collects the 57×64 query matrix for broadcast),
    # so the FINAL plan is the one GEMM mapInPandas scan over the
    # index + the top-k window exchange (r9: expr→GEMM tier, ~2×)
    "video_keyframe_knn":              {"shuffle_exchanges": 2, "broadcast_hash_joins": 0, "sort_merge_joins": 0, "cartesian_products": 0, "python_stages": 1},
    # BT fit: the matches self-join is corpus-shaped (auto-broadcast at
    # fixture size, the one honest SMJ at scale); r15-opt collapsed the
    # match stream to ONE per-pair sufficient-statistics aggregation
    # (pinned, sources²-bounded) so the corpus is consumed once instead
    # of three times (was 8 exchanges / 14 BHJs / 20 scans); every
    # post-aggregate join broadcasts EXPLICITLY (sources-sized sides)
    "bradley_terry_mm_step":           {"shuffle_exchanges": 2, "broadcast_hash_joins": 3, "sort_merge_joins": 0, "cartesian_products": 0, "python_stages": 0},
    # unigram Viterbi: word histogram + piece-count shuffles; the DP
    # itself is ONE Catalyst expression over a broadcast map column —
    # no python, no join, no per-round exchanges
    "unigram_viterbi_tokenize_top30":  {"shuffle_exchanges": 3, "broadcast_hash_joins": 0, "sort_merge_joins": 0, "cartesian_products": 0, "python_stages": 0},
    # BPE apply (r9): word histogram + merge-table rank window + final
    # usage aggregate; the WHOLE merge loop is one Catalyst expression
    # over a broadcast map (types/merges ride pinned RDDs), so the
    # final plan has NO python stages and NO joins
    "bpe_apply_ranked_merges_top30":   {"shuffle_exchanges": 3, "broadcast_hash_joins": 0, "sort_merge_joins": 0, "cartesian_products": 0, "python_stages": 0},
    # sft lint: source window shuffle + final role-level agg + output
    # ordering; join-free by the run-length algebra (operators/sft.py)
    "sft_turn_alternation_audit":      {"shuffle_exchanges": 3, "broadcast_hash_joins": 0, "sort_merge_joins": 0, "cartesian_products": 0, "python_stages": 0},
    # grpo: one task_id window shuffle + output ordering; moments ride
    # the window partitioning, advantage is a scalar projection
    "grpo_group_advantage":            {"shuffle_exchanges": 2, "broadcast_hash_joins": 0, "sort_merge_joins": 0, "cartesian_products": 0, "python_stages": 0},
    # --- round 11 addition (fingerprint landed r12 — the f39669e-era
    # bench entry shipped without one, VERDICT r11 #1a) ---
    # detect query path: render→detect→crop fused in ONE Arrow
    # mapInPandas stage (pixels never shuffle), pinned via
    # localCheckpoint; search is the GEMM tier (its python stage runs
    # at collect time, before this final plan); the two broadcasts are
    # the crop-side query join and the metadata join; the one exchange
    # is the top-k merge window
    "query_path_detect_search":        {"shuffle_exchanges": 1, "broadcast_hash_joins": 2, "sort_merge_joins": 0, "cartesian_products": 0, "python_stages": 1},
    # r12: epoch explode + hash key are scan-stage; one group-by shuffle
    "epoch_shuffle_shards":            {"shuffle_exchanges": 1, "broadcast_hash_joins": 0, "sort_merge_joins": 0, "cartesian_products": 0, "python_stages": 0},
    # r14: the m-bounded bit set and the train fingerprint set BOTH
    # broadcast (5 BHJ: bits semi, exact semi, the two left decorates,
    # plus the planted-union's semi); the exchanges are the bounded
    # DISTINCTs + the per-doc hit count + the per-source agg — all
    # metadata- or eval-sized, never corpus-sized
    "bloom_dedup_fpr_audit":           {"shuffle_exchanges": 6, "broadcast_hash_joins": 5, "sort_merge_joins": 0, "cartesian_products": 0, "python_stages": 0},
    # r14: degree-ordered triangles. Node-keyed SMJs by design: deg /
    # oriented / wedge / closing joins all carry (node, node[, deg])
    # tuples, and the pair list is checkpoint-pinned so the quadratic
    # similarity join runs ONCE — the exchange count is the price of
    # node-sized joins that must scale past broadcast at 100 TB
    "triangle_count_graph":            {"shuffle_exchanges": 22, "broadcast_hash_joins": 0, "sort_merge_joins": 10, "cartesian_products": 0, "python_stages": 0},
    # --- round 15 additions ---
    # A-ES reservoir: scan-stage hash + weight-tier CASE of IEEE
    # products, ONE per-stratum top-k window (WindowGroupLimit)
    "weighted_reservoir_sample_aes":   {"shuffle_exchanges": 1, "broadcast_hash_joins": 0, "sort_merge_joins": 0, "cartesian_products": 0, "python_stages": 0},
    # fusion rerank: two broadcast candidate tiers (qprobe onto the
    # at-rest IVF assignment; query buckets onto the at-rest LSH
    # table — the one SMJ is the bucket-bucket candidate join, honest
    # at scale) + the union dedup agg + ONE exact rerank window + the
    # broadcast exact-top-5 decoration
    "ann_fusion_rerank_topk":          {"shuffle_exchanges": 7, "broadcast_hash_joins": 4, "sort_merge_joins": 1, "cartesian_products": 0, "python_stages": 0},
    # rebuild manifest: rows_old/rows_new pinned (localCheckpoint) so
    # five consumers read 24 B/row triples once; SMJs are the summary
    # full-outer diff + the two key-sized anti-joins (must scale past
    # broadcast); the cluster-sized entering/leaving aggregates
    # broadcast onto the flagged manifest
    "snapshot_index_rebuild_plan":     {"shuffle_exchanges": 4, "broadcast_hash_joins": 1, "sort_merge_joins": 0, "cartesian_products": 0, "python_stages": 0},
    # Merkle descent: leaf tables pinned (one count-only agg per
    # replica), |leaves|/8-sized super rollups into the full-outer
    # flag join, flagged supers BROADCAST into the two leaf semi-
    # joins, and the final leaf full-outer compare (an SMJ of
    # flagged-super-bounded summary rows)
    "merkle_range_sync_plan":          {"shuffle_exchanges": 4, "broadcast_hash_joins": 2, "sort_merge_joins": 0, "cartesian_products": 0, "python_stages": 0},
}
# fmt: on

def fingerprint(df) -> dict[str, int]:
    plan = df._jdf.queryExecution().executedPlan().toString()
    return {
        # "BroadcastExchange" is excluded by the fixed-width lookbehind:
        # broadcasts replicate a SMALL side by design and are counted
        # via broadcast_hash_joins instead
        "shuffle_exchanges": len(re.findall(r"(?<!Broadcast)Exchange", plan)),
        "broadcast_hash_joins": plan.count("BroadcastHashJoin"),
        "sort_merge_joins": plan.count("SortMergeJoin"),
        "cartesian_products": plan.count("CartesianProduct"),
        "python_stages": len(python_operators(plan)),
    }


@pytest.fixture(scope="module")
def qs():
    return entrymod.queries()


@pytest.mark.parametrize("name", sorted(EXPECTED))
def test_bench_query_plan_fingerprint(spark, sf_dir, qs, name):
    df = qs[name](spark, sf_dir)
    got = fingerprint(df)
    assert got == EXPECTED[name], (
        f"plan fingerprint drift for {name}: expected {EXPECTED[name]}, "
        f"got {got}. If the new plan is intentional (and still the plan "
        f"you'd want at 100 TB), update EXPECTED in this file in the "
        f"same commit."
    )


def test_bench_queries_all_fingerprinted():
    """Every bench.py headline query has a fingerprint snapshot."""
    import bench

    assert set(bench.HEADLINE) == set(EXPECTED)
