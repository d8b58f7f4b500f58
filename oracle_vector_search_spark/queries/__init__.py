"""Named query registry — the engine's declared, oracle-checked surface.

Every operator from SURVEY.md §2 lands here as a named entry:
``name -> (spark_fn, oracle_sql | None)`` where ``spark_fn(spark, sf_dir)``
returns a DataFrame and ``oracle_sql`` is equivalent ANSI SQL runnable by
DuckDB over the same parquet tables. ``None`` marks genuinely
non-SQL-expressible ops (streaming/stateful) — the driver then records a
rows-only check.

Column-name / type discipline (the driver hash-compares): alias every
computed column identically on both sides; cast away DuckDB's HUGEINT
(``sum(int)``) and BIGINT ``row_number()``; round all float scores to 6
decimals and tie-break orderings by id.
"""

from __future__ import annotations

import functools
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

from oracle_vector_search_spark.plans.ckpt import owned_by

SparkQuery = Callable[[SparkSession, str], DataFrame]

# name -> (fn, oracle_sql or None)
REGISTRY: dict[str, tuple[SparkQuery, str | None]] = {}


def register(name: str, sql: str | None):
    """Decorator: add a query to the registry. The query runs under
    ``owned_by((name, sf_dir))`` (plans/ckpt.py): invoking it again
    releases the pins its previous invocation took."""

    def deco(fn: SparkQuery) -> SparkQuery:
        if name in REGISTRY:
            raise ValueError(f"duplicate query name: {name}")

        @functools.wraps(fn)
        def owned(spark: SparkSession, sf_dir: str) -> DataFrame:
            with owned_by((name, sf_dir)):
                return fn(spark, sf_dir)

        REGISTRY[name] = (owned, sql)
        return owned

    return deco


def load_all_modules() -> None:
    """Import every query module so registration side effects run.

    Import errors are fatal: a module that fails to import would silently
    drop its registered queries from the verified surface, so we re-raise
    rather than shrink the registry without a trace.
    """
    from oracle_vector_search_spark.queries import (  # noqa: F401
        vector_queries,
    )
    for mod in (
        "ann_queries",
        "relational_queries",
        "relational2_queries",
        "temporal_queries",
        "text_queries",
        "dedup_queries",
        "grouped_map_queries",
        "sketch_queries",
        "feature_queries",
        "training_queries",
        "scale_queries",
        "audit_queries",
        "pq_queries",
        "tpch_queries",
        "tpch2_queries",
        "analytics_queries",
        "graph_queries",
        "linalg_queries",
        "pipeline_queries",
        "streaming_queries",
        "format_queries",
        "curation_queries",
        "lm_queries",
        "preference_queries",
        "sft_queries",
    ):
        __import__(f"oracle_vector_search_spark.queries.{mod}")


# Registry order exposed to the driver; its gate checks this 50-name
# prefix, rotated each round (history: COVERAGE.md, "Driver window").
_PRIORITY: tuple[str, ...] = (
    # --- sentinels: always driver-checked in every round ---
    "pipeline_label_parse",
    "pipeline_bbox_denorm",
    "pipeline_index_build",
    "pipeline_query_topk",
    "knn_exact_cosine_top5",
    "knn_exact_cosine_top5_gemm",
    "exact_dedup_groups",
    "streaming_upsert_snapshot",
    # --- re-check: rewritten by the r15 optimization round AFTER
    # their latest driver row (VERDICT r15 #1, item 1 verbatim) ---
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
    # --- re-check: rewritten by THIS round (r16 optimization) ---
    "bleu2_pair_eval",
    "prf_rocchio_requery",
    "kmeans_refine_clusters",
    "semantic_dedup_keep",
    "pca_top_eigenvector",
    "copurchase_bfs_hops",
    # --- the 2 r6-latest names the r15 window rolled ---
    "shard_export_manifest",
    "streaming_corpus_admission",
    # --- freshness: 17 of the 38 r7-latest names (registration
    # order; bigram_lm_fluency / ivf_closure_recall_audit /
    # fuzzy_token_pairs_edit1 are already re-check slots above);
    # the other 18 roll to r17 — list in COVERAGE.md, "Driver
    # window" ---
    "retrieval_ndcg_audit",
    "funnel_view_click_purchase",
    "events_trailing_hour_range_sum",
    "rolling_distinct_users_range",
    "scd2_user_type_intervals",
    "user_resurrection_stats",
    "source_lang_chisq_divergence",
    "doc_char_entropy_quality",
    "hll_distinct_users_audit",
    "golden_record_survivorship",
    "user_event_diversity_simpson",
    "value_benford_audit",
    "doc_top_keywords",
    "fim_split_transform",
    "dpp_pruned_event_revenue",
    "cdc_merge_with_deletes",
)


def _ordered() -> dict[str, tuple[SparkQuery, str | None]]:
    load_all_modules()
    missing = [n for n in _PRIORITY if n not in REGISTRY]
    if missing:
        raise RuntimeError(f"_PRIORITY names not registered: {missing}")
    out = {name: REGISTRY[name] for name in _PRIORITY}
    out.update((n, v) for n, v in REGISTRY.items() if n not in out)
    return out


def queries() -> dict[str, SparkQuery]:
    return {name: fn for name, (fn, _) in _ordered().items()}


def oracle_sql() -> dict[str, str]:
    return {
        name: sql for name, (_, sql) in _ordered().items() if sql is not None
    }
