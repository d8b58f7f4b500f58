#!/usr/bin/env python
"""Benchmark harness (SURVEY.md §7 M8).

Runs the engine's headline queries at $SPARK_GRAFT_SF_DIR (default
/root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and prints exactly ONE
JSON line:

    {"metric": "...", "value": <total_sec>, "unit": "sec",
     "queries": {"q1": sec, ...}, "one_time_writes": {...},
     "cold_first_run": {...}, "runs_per_query": 4, "sf": 0.1}

Noise discipline (VERDICT r2 #3, r6 #3): single-shot timings on a
shared host swing ±50%, so every query runs RUNS times — and queries
whose warm median lands under 1 s get EXTRA_FAST_RUNS more warm runs
(sub-second timings are the noisiest in relative terms). ``queries``
reports the per-query MEDIAN of the warm runs and ``value`` is the sum
of those medians. The first run is reported separately in
``cold_first_run`` — for the at-rest-table queries (index, LSH buckets,
minhash signatures, bucketed tables, BM25 postings) it includes the
one-time table write, split out in ``one_time_writes`` as
first_run - warm_median. Compare BENCH rounds on the medians; the
one-time writes are the deployment's nightly build cost, not the query
path (PERF.md §5).

The final line also carries the measured noise so a round-over-round
reader can separate code deltas from host contention WITHOUT git
archaeology (VERDICT r6 #2: the driver's r6 capture read 1.6× slower
than the builder's same-tree batteries purely from contention):

* ``noise_band`` — max_warm_total / min_warm_total across warm runs:
  the multiplicative spread THIS capture saw. Two rounds whose medians
  differ by less than either round's noise_band are NOT distinguishable.
* ``min_warm_total`` — the contention-immune capability floor; compare
  THIS across rounds for the real trend.

Headline set = one representative per operator family (scan-agg, joins,
window, top-k, temporal, JSON, sessionize, as-of, dedup exact/minhash,
text stats, vector exact kNN both tiers, LSH ANN, build pipeline).
"""

from __future__ import annotations

import json
import os
import statistics
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

_MEMBW_BUF = None  # 1 GiB, allocated once per process


def read_loadavg() -> list | None:
    """The 1-, 5- and 15-minute load averages, or None off Linux."""
    try:
        with open("/proc/loadavg") as fh:
            return [float(x) for x in fh.read().split()[:3]]
    except (OSError, ValueError):
        return None


def ambient_probe() -> dict:
    """Fixed-work probes + load average, so a capture carries its own
    contention evidence (VERDICT r12 #1: the driver's BENCH_r12 read
    90 s vs the committed same-HEAD idle capture's 30.5 s and the
    artifact could not prove which to believe). TWO probes because
    contention has two axes (measured r13: a memory-hungry neighbor
    inflated every Spark query ~2.5× uniformly while the cache-resident
    GEMM still read its floor):

    * ``gemm_1024_median_sec`` — compute axis: 1024² float64 matmul,
      mostly cache-resident, moves with CPU steal/frequency but is
      nearly blind to DRAM pressure;
    * ``membw_1g_median_sec`` — memory axis: a 1 GiB streaming sum,
      DRAM-bandwidth-bound, moves with exactly the neighbor workloads
      that slow shuffle/scan-bound Spark.

    Both are constant work on constant data; /proc/loadavg records
    what else was runnable (hypervisor steal is invisible to it)."""
    import numpy as np

    rng = np.random.default_rng(7)
    a = rng.standard_normal((1024, 1024)).astype(np.float64)
    b = rng.standard_normal((1024, 1024)).astype(np.float64)
    # warm untimed for >=0.25 s AND >=8 matmuls: one matmul is not
    # enough to ramp an idle CPU out of its low-power frequency state,
    # and on a slow-ramping host the first matmuls run ~4x their floor,
    # so a time-only warm-up finishes after two of them and the first
    # probe in a process reads cold, false-flagging `contended`
    t0 = time.time()
    n = 0
    while n < 8 or time.time() - t0 < 0.25:
        a @ b
        n += 1
    reps = []
    for _ in range(5):
        t0 = time.time()
        a @ b
        reps.append(time.time() - t0)
    global _MEMBW_BUF
    if _MEMBW_BUF is None:
        _MEMBW_BUF = np.ones(134_217_728, dtype=np.float64)  # 1 GiB
    float(_MEMBW_BUF.sum())  # touch every page once, untimed
    mreps = []
    for _ in range(3):
        t0 = time.time()
        float(_MEMBW_BUF.sum())
        mreps.append(time.time() - t0)
    return {
        "gemm_1024_median_sec": round(statistics.median(reps), 4),
        "membw_1g_median_sec": round(statistics.median(mreps), 4),
        "loadavg": read_loadavg(),
    }


RUNS = 4  # 1 cold + 3 warm; medians are over the warm runs
# sub-second queries get this many EXTRA warm runs (VERDICT r6 #3:
# ≥7 total runs for queries under 1 s) — relative noise is largest
# exactly where the absolute numbers are smallest
EXTRA_FAST_RUNS = 4
FAST_QUERY_SECONDS = 1.0

HEADLINE = [
    "q1_pricing_summary",
    "revenue_by_nation",
    "top3_orders_per_customer",
    "top_orders_global",
    "orders_with_big_lines",
    "hourly_event_windows",
    "user_sessions",
    "purchase_asof_order",
    # r13: the profile-dispatched twin — tracks the dispatch premium
    # (at-rest key-profile consult + plan choice) against the plain
    # tier it sits beside (VERDICT r12 #5)
    "purchase_asof_order_auto",
    "events_json_agg",
    "exact_dedup_groups",
    "minhash_near_dup_pairs",
    "doc_token_stats",
    "knn_exact_cosine_top5",
    "knn_exact_cosine_top5_gemm",
    "lsh_ann_topk",
    "pipeline_index_build",
    # r2 additions — the two r1 weak spots, kept under watch
    "packed_context_bins",
    "pipeline_query_topk",
    # r2 scale-tier joins + retrieval (one-time table writes split out
    # into one_time_writes; the warm path is the deployment story)
    "bucketed_colocated_join_revenue",
    "bm25_retrieval_top10",
    # r4 additions — span-level dedup + profiler-fed skew join
    "repeated_span_doc_stats",
    "profile_guided_skew_join_spend",
    # r5 additions — newest operator families under the headline number:
    # binary-fingerprint kNN, hybrid lexical∪vector fusion, MaxSim late
    # interaction, and the int8-codes exact-search fast path
    "hamming_knn_top5",
    "hybrid_rrf_retrieval_top10",
    "maxsim_late_interaction_top5",
    "knn_exact_gemm_int8",
    # r5 curation family: scan-stage classifier + batch-vs-standing
    # admission (reads the at-rest signature table)
    "quality_classifier_keep",
    "incremental_corpus_admission",
    # late-r5 additions: heaviest new relational analogue (Q21 rewrite),
    # ROLLUP super-aggregates, the ranked-window suite, and iterative
    # PageRank (edge extraction dominates; iterations run on the tiny
    # localCheckpoint-pinned graph)
    "q21_waiting_suppliers",
    "revenue_rollup_nation_year",
    "customer_spend_window_suite",
    "pagerank_event_transitions",
    # late-r5: sparse-vector retrieval over at-rest idf/norm tables and
    # the IVF-PQ residual index (cluster-partition-pruned codes table)
    "tfidf_cosine_top5",
    "ivfpq_ann_topk",
    # late-r5: tokenizer-training statistic (vocabulary-sized BPE pair
    # mining), corpus-trained bigram-LM fluency scoring, seasonal
    # dow-x-hour anomaly gate, and the SPANN closure-assignment audit
    "bpe_merge_pairs_top20",
    "bigram_lm_fluency",
    "seasonal_hour_anomalies",
    "ivf_closure_recall_audit",
    # r6 additions: mergeable-HLL sketch, exact KS drift, Benford
    # audit, deterministic Poisson bootstrap, FastSS edit-1 fuzzy join
    "hll_distinct_users_audit",
    "value_ks_drift_audit",
    "value_benford_audit",
    "bootstrap_mean_ci_deterministic",
    "fuzzy_token_pairs_edit1",
    # late-r6: PSI drift monitor (integer bins, one double formula),
    # corpus n-gram novelty (gram-keyed shuffles over the inverted-index
    # stat), and the scan-stage FIM pretraining transform
    "psi_value_drift",
    "doc_ngram_novelty",
    "fim_split_transform",
    # r7 additions: the multimodal surface under the headline number —
    # real WAV decode + Catalyst feature math, real AVI/MJPEG frame
    # sampling, perceptual-hash image dedup, and the WordPiece greedy
    # tokenizer apply (16 pinned rounds over active word types)
    "audio_wav_feature_parity",
    "video_mjpeg_frame_parity",
    "image_dhash_dup_groups",
    "wordpiece_greedy_tokenize_top30",
    # r8 additions: video reaching the vector surface (keyframe sample
    # → CNN tensor → 64-d embed → exact kNN) and the preference-data
    # family's Bradley-Terry fit (adjacent-doc matches → two MM steps)
    "video_keyframe_knn",
    "bradley_terry_mm_step",
    # unigram-LM Viterbi apply: the whole DP as one Catalyst
    # expression over a broadcast vocab-cost map (scan-stage shape)
    "unigram_viterbi_tokenize_top30",
    "bpe_apply_ranked_merges_top30",
    # late-r8: the SFT/eval family — single-shuffle transcript lint
    # over sessionized events, and GRPO group-relative advantage
    # (windowed exact moments, one shuffle, no joins)
    "sft_turn_alternation_audit",
    "grpo_group_advantage",
    # r11: the reference's ONLINE entry point end-to-end — render →
    # numpy detect → argmax box → crop → embed → GEMM top-5 (T9
    # closure; shares the materialized index with pipeline_* above)
    "query_path_detect_search",
    # r12: per-epoch deterministic corpus reshuffle — scan-born hash
    # keys, scan-stage epoch Generate, one group-by shuffle
    "epoch_shuffle_shards",
    # r14: membership-sketch audit (m-bounded broadcast bit set) and
    # degree-ordered triangle counting (arboricity-bounded wedge join)
    # — one headline entry each for the two new families
    "bloom_dedup_fpr_audit",
    "triangle_count_graph",
    # r15: A-ES weighted reservoir (scan + per-stratum top-k), the
    # two-tier candidate-gen -> exact-rerank serving plan, and the
    # cross-snapshot per-cluster rebuild manifest
    "weighted_reservoir_sample_aes",
    "ann_fusion_rerank_topk",
    "snapshot_index_rebuild_plan",
    # r15: two-level Merkle descent — leaf comparison bounded by
    # 8·|flagged supers|; super level certifies clean ranges unread
    "merkle_range_sync_plan",
]

# queries whose FIRST run materializes an at-rest table (built once per
# session through oracle_vector_search_spark.io.at_rest: the index, LSH
# buckets, MinHash signatures, bucketed tables, postings, ...) — their
# cold-vs-warm delta is the one-time write cost
AT_REST_WRITERS = {
    "minhash_near_dup_pairs",
    "lsh_ann_topk",
    "pipeline_index_build",
    "pipeline_query_topk",
    "bucketed_colocated_join_revenue",
    "bm25_retrieval_top10",
    "profile_guided_skew_join_spend",
    "knn_exact_gemm_int8",
    "hamming_knn_top5",
    "incremental_corpus_admission",
    "pagerank_event_transitions",
    "tfidf_cosine_top5",
    "ivfpq_ann_topk",
    "ivf_closure_recall_audit",
    # r9: the synthetic clip corpus is written once per session
    # (curation_queries._clip_corpus); whichever video query runs
    # first pays the encode+write, the warm path is decode-onward
    "video_mjpeg_frame_parity",
    "video_keyframe_knn",
    # r11: first run may pay the shared index-table write if the
    # pipeline_* queries have not touched it yet in this session
    "query_path_detect_search",
    # r13: the dispatcher's key_profile rows are session-cached (the
    # at-rest telemetry story) — the first run pays the profile
    # computation, warm runs are profile-read + plan choice
    "purchase_asof_order_auto",
    # r15: first run may pay the IVF-assignment and LSH-bucket table
    # writes if no other ANN query has built them this session
    "ann_fusion_rerank_topk",
}


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = sf_dir.rstrip("/").rsplit("sf", 1)[-1]
    try:
        sf_val = float(sf)
    except ValueError:
        sf_val = sf

    ambient_start = ambient_probe()

    from oracle_vector_search_spark.session import get_spark
    import __spark_entry__ as entry

    spark = get_spark("bench")
    qs = entry.queries()

    # warm the JVM + parquet footers with one trivial action
    spark.read.parquet(os.path.join(sf_dir, "region.parquet")).count()

    medians: dict[str, float] = {}
    mins: dict[str, float] = {}
    cold: dict[str, float] = {}
    one_time: dict[str, float] = {}
    maxs: dict[str, float] = {}
    for name in HEADLINE:
        fn = qs[name]
        runs: list[float] = []
        for _ in range(RUNS):
            t0 = time.time()
            fn(spark, sf_dir).count()
            runs.append(time.time() - t0)
        if statistics.median(runs[1:]) < FAST_QUERY_SECONDS:
            # sub-second query: widen the warm sample (≥7 runs total)
            for _ in range(EXTRA_FAST_RUNS):
                t0 = time.time()
                fn(spark, sf_dir).count()
                runs.append(time.time() - t0)
        warm = round(statistics.median(runs[1:]), 3)
        medians[name] = warm
        # best/worst warm runs: the capability floor and the noise
        # ceiling. The headline stays the median (methodology
        # continuity across rounds); a large max/min band flags host
        # contention, not code.
        mins[name] = round(min(runs[1:]), 3)
        maxs[name] = round(max(runs[1:]), 3)
        cold[name] = round(runs[0], 3)
        if name in AT_REST_WRITERS:
            one_time[name] = round(max(runs[0] - warm, 0.0), 3)

    ambient_end = ambient_probe()

    total = round(sum(medians.values()), 3)
    min_total = round(sum(mins.values()), 3)
    max_total = round(sum(maxs.values()), 3)
    noise_band = round(max_total / min_total, 3) if min_total else None
    # contention verdict carried BY the artifact: the GEMM is constant
    # work, so probe drift or a 1-minute load already above the suite's
    # own worker count at start means another workload shared the host
    g0 = ambient_start["gemm_1024_median_sec"]
    g1 = ambient_end["gemm_1024_median_sec"]
    m0 = ambient_start["membw_1g_median_sec"]
    m1 = ambient_end["membw_1g_median_sec"]
    probe_drift = round(max(g0, g1) / min(g0, g1), 3) if min(g0, g1) else None
    membw_drift = round(max(m0, m1) / min(m0, m1), 3) if min(m0, m1) else None
    # only the START load is a contention signal — the END 1-minute
    # average legitimately carries the suite's own just-finished work
    start_load1 = (ambient_start["loadavg"] or [0.0])[0]
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    contended = bool(
        (probe_drift is not None and probe_drift > 1.5)
        or (membw_drift is not None and membw_drift > 1.5)
        or (noise_band is not None and noise_band > 2.5)
        or start_load1 > 0.5 * cpus
    )
    # Output discipline (VERDICT r5 #2): the driver captures the TAIL of
    # stdout and parses the final JSON line. At 38 queries the old
    # everything-in-one-line emission outgrew that capture and r5 lost
    # its external perf record (BENCH_r05 `parsed: null`). So: the bulky
    # per-run detail (min-warm, cold, one-time writes) goes to a
    # committed file and an EARLIER stdout line; the LAST line is the
    # compact driver contract (metric/value/unit/queries/sf) only.
    detail = {
        "metric": "headline_suite_warm_median_total_seconds",
        "value": total,
        "unit": "sec",
        "queries": medians,
        "queries_min_warm": mins,
        "queries_max_warm": maxs,
        "min_warm_total": min_total,
        "max_warm_total": max_total,
        "noise_band": noise_band,
        "one_time_writes": one_time,
        "cold_first_run": cold,
        "runs_per_query": RUNS,
        "extra_runs_below_1s": EXTRA_FAST_RUNS,
        "sf": sf_val,
        "ambient_start": ambient_start,
        "ambient_end": ambient_end,
        "cpu_probe_drift": probe_drift,
        "membw_probe_drift": membw_drift,
        "contended": contended,
    }
    try:
        local_path = os.path.join(
            os.path.dirname(os.path.abspath(__file__)), "BENCH_LOCAL.json"
        )
        with open(local_path, "w") as fh:
            json.dump(detail, fh, indent=1)
            fh.write("\n")
    except OSError:
        pass  # read-only checkout: the stdout detail line still has it
    print(json.dumps(detail))
    sys.stdout.flush()
    # FINAL-line size discipline (VERDICT r15 #1: BENCH_r14's record was
    # LOST because the 62-query final line outgrew the driver's
    # stdout-tail capture, the exact failure bench.py's r5 note warns
    # about). Two size cuts, zero methodology change — the timing loop
    # and the detail line/BENCH_LOCAL.json keep full 3-decimal medians:
    #   * per-query values on the final line round to 2 decimals (the
    #     noise_band is an order of magnitude larger than the 0.005 s
    #     quantization, so no round-over-round signal is lost);
    #   * compact JSON separators (no space after ',' / ':').
    # At 65 queries this shrinks the line ~3.3 kB -> ~2.6 kB.
    print(
        json.dumps(
            {
                "metric": "headline_suite_warm_median_total_seconds",
                "value": total,
                "unit": "sec",
                "queries": {n: round(s, 2) for n, s in medians.items()},
                "min_warm_total": min_total,
                "noise_band": noise_band,
                "runs_per_query": RUNS,
                "sf": sf_val,
                # ambient evidence rides the DRIVER-RECORDED line so a
                # contaminated capture indicts itself (VERDICT r12 #1)
                "gemm_probe_sec": [g0, g1],
                "membw_probe_sec": [m0, m1],
                "load1_start": start_load1,
                "cpu_probe_drift": probe_drift,
                "membw_probe_drift": membw_drift,
                "contended": contended,
            },
            separators=(",", ":"),
        )
    )


if __name__ == "__main__":
    main()
