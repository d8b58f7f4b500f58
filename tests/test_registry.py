"""Registry ordering guard.

The driver's hard correctness gate compares only a 50-entry prefix of
``queries()`` against the DuckDB oracle, so the prefix ROTATES per round
(history in COVERAGE.md, "Driver window"): sentinels are always present, this
round's declared re-checks claim their slots, every never-driver-checked
name claims one, and the remaining slots go to the names with the
OLDEST latest driver check. The rotation rule itself is asserted
(derived from the committed CORRECTNESS artifacts of rounds before
``ROTATION_AUTHORED_FOR``), so the test survives future rotations and
new registrations. It also pins the documented registry size so
README/COVERAGE counts can't drift from ``len(queries())`` again
(VERDICT r5 #3).
"""

from oracle_vector_search_spark import queries as registry

# The single authoritative surface size. README.md and COVERAGE.md must
# state this number; bump it here in the same commit that registers a
# new query.
DOCUMENTED_QUERY_COUNT = 356

SENTINELS = {
    "pipeline_label_parse",
    "pipeline_bbox_denorm",
    "pipeline_index_build",
    "pipeline_query_topk",
    "knn_exact_cosine_top5",
    "knn_exact_cosine_top5_gemm",
    "exact_dedup_groups",
    "streaming_upsert_snapshot",
}

# The round this rotation was authored FOR. The rotation rule is
# computed from the CORRECTNESS artifacts that existed when the window
# was authored — rounds STRICTLY BELOW this one. Without the cutoff the
# test self-invalidates the moment the driver writes the current
# round's artifact (the window's own names get latest=current and the
# oldest-first assertion inverts — VERDICT r11 #1b). Bump this constant
# in the SAME commit that rotates _PRIORITY.
ROTATION_AUTHORED_FOR = 16

# This round's DELIBERATE re-check slots: queries whose code changed
# after their latest driver row. r16 executes VERDICT r15 #1: the 18
# queries the r15 OPTIMIZATION round rewrote that were NOT in the r15
# window (their rows predate the rewrite), plus the 5 queries THIS
# round restructured (bleu2 single-pass, prf/kmeans/pca pins,
# semantic_dedup's at-rest assignment swap). merkle_range_sync_plan
# and the audit/psi comment-level edits spend no slot beyond psi's
# (psi was rewritten in r15 AND touched in r16). Update this set in
# the SAME commit that rotates _PRIORITY; everything else about the
# window is DERIVED from the rotation rule below.
RECHECK_CURRENT = {
    # r15 rewrites with stale driver rows (VERDICT r15 #1 list)
    "bradley_terry_mm_step",
    "psi_value_drift",
    "ivf_closure_recall_audit",
    "multiprobe_recall_audit",
    "mmr_rerank_top3",
    "mutual_information_features",
    "dsir_importance_select",
    "sq8_recall_refine_audit",
    "bootstrap_mean_ci_deterministic",
    "bigram_lm_fluency",
    "fuzzy_token_pairs_edit1",
    "dedup_canonical_ids",
    "dedup_keep_best",
    "dedup_cleaned_corpus_checksum",
    "dedup_cascade_scaling_probe",
    "dedup_soft_sample_weights",
    "curated_corpus_checksum",
    "nightly_corpus_build_manifest",
    # r16 rewrites (this optimization round)
    "bleu2_pair_eval",
    "prf_rocchio_requery",
    "kmeans_refine_clusters",
    "semantic_dedup_keep",
    "pca_top_eigenvector",
    "copurchase_bfs_hops",
    # r6-latest names rolled from the r15 window (displaced there by
    # the 4th/5th new registrations; oldest cohort in the union)
    "shard_export_manifest",
    "streaming_corpus_admission",
}


def _latest_driver_check():
    """name -> latest round with a driver CORRECTNESS row, from the
    committed CORRECTNESS_r*.json artifacts of rounds STRICTLY BELOW
    ``ROTATION_AUTHORED_FOR`` (the rotation's ground truth at authoring
    time; later artifacts are products of this very window). Names
    absent from every such artifact are never-checked."""
    import glob
    import json
    import os

    here = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    latest = {}
    for f in sorted(glob.glob(os.path.join(here, "CORRECTNESS_r*.json"))):
        rnd = int(os.path.basename(f).split("_r")[1].split(".")[0])
        if rnd >= ROTATION_AUTHORED_FOR:
            continue
        for name in json.load(open(f)):
            latest[name] = rnd
    return latest


def test_priority_is_exactly_50():
    assert len(registry._PRIORITY) == 50
    assert len(set(registry._PRIORITY)) == 50


def test_first_50_matches_priority():
    names = list(registry.queries())
    assert names[:50] == list(registry._PRIORITY)


def test_rotation_follows_the_rotation_rule():
    """The window is DERIVED, not pinned (VERDICT r10 #1b): sentinels
    always present; every registered-but-never-driver-checked name
    claims a slot; this round's declared re-checks claim theirs; and
    every REMAINING slot goes to the names with the OLDEST latest
    driver check, ties broken by registration order. Computed from the
    committed CORRECTNESS_r*.json artifacts, so the test survives
    every future rotation and new registration (a new query is
    never-checked, so it must displace the youngest freshness name)."""
    names = list(registry.queries())
    prefix, prefix_set = names[:50], set(names[:50])
    latest = _latest_driver_check()

    assert SENTINELS <= prefix_set, sorted(SENTINELS - prefix_set)
    assert RECHECK_CURRENT <= prefix_set, sorted(
        RECHECK_CURRENT - prefix_set
    )

    never_checked = {n for n in names if n not in latest}
    assert never_checked <= prefix_set, sorted(never_checked - prefix_set)

    claimed = SENTINELS | RECHECK_CURRENT | never_checked
    capacity = 50 - len(claimed & prefix_set)
    candidates = sorted(
        (n for n in names if n not in claimed),
        key=lambda n: (latest[n], names.index(n)),
    )
    # ties at the cut boundary: any name whose latest check strictly
    # precedes the boundary round MUST be in the window; boundary-round
    # names may be either side (registration order resolves them, but
    # don't over-pin the order itself)
    expected_fill = candidates[:capacity]
    actual_fill = [n for n in prefix if n not in claimed]
    assert len(actual_fill) == capacity
    boundary = latest[expected_fill[-1]] if expected_fill else 0
    must_fill = {n for n in expected_fill if latest[n] < boundary}
    assert must_fill <= set(actual_fill), sorted(
        must_fill - set(actual_fill)
    )
    for n in actual_fill:
        assert latest[n] <= boundary, (
            f"{n} (latest r{latest[n]}) fills a freshness slot while an "
            f"older name (boundary r{boundary}) is left out"
        )


def test_registry_size_matches_documented_count():
    qs = registry.queries()
    assert len(qs) == DOCUMENTED_QUERY_COUNT, (
        f"registry has {len(qs)} queries but docs/test say "
        f"{DOCUMENTED_QUERY_COUNT} — update DOCUMENTED_QUERY_COUNT, "
        "README.md and COVERAGE.md together"
    )
    # every registered query carries oracle SQL (zero rows-only entries
    # since r5 — keep it that way)
    assert len(registry.oracle_sql()) == DOCUMENTED_QUERY_COUNT
