"""Plan-quality regression tests: the scale properties of the flagship
queries asserted against the actual Catalyst physical plans."""

from __future__ import annotations

import pytest

import __spark_entry__ as entrymod
from oracle_vector_search_spark.plans.inspect import (
    assert_plan_contains,
    assert_plan_lacks,
    formatted_plan,
    python_operators,
)


@pytest.fixture(scope="module")
def qs():
    return entrymod.queries()


def test_q1_pushdown_and_partial_agg(spark, sf_dir, qs):
    df = qs["q1_pricing_summary"](spark, sf_dir)
    assert_plan_contains(
        df,
        "PushedFilters",
        "LessThanOrEqual(l_shipdate",
        "HashAggregate",
    )


def test_global_topk_is_take_ordered(spark, sf_dir, qs):
    df = qs["top_orders_global"](spark, sf_dir)
    assert_plan_contains(df, "TakeOrderedAndProject")
    assert_plan_lacks(df, "SortMergeJoin")


def test_python_operator_census_counts_cogroups(spark, sf_dir, qs):
    """tools/plan_census.py counts Python operators with
    ``python_operators``; a cogrouped applyInPandas is one of them."""
    head = formatted_plan(
        qs["cogroup_user_reconcile"](spark, sf_dir)
    ).split("\n\n")[0]
    assert python_operators(head) == ["FlatMapCoGroupsInPandas"], head
    assert python_operators(
        "FlatMapGroupsInArrow FlatMapCoGroupsInArrow ArrowEvalPython"
    ) == ["FlatMapGroupsInArrow", "FlatMapCoGroupsInArrow", "ArrowEvalPython"]


def test_group_topk_has_window_group_limit(spark, sf_dir, qs):
    df = qs["top3_orders_per_customer"](spark, sf_dir)
    assert_plan_contains(df, "WindowGroupLimit")


def test_star_join_broadcasts_dims(spark, sf_dir, qs):
    df = qs["revenue_by_nation"](spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert plan.count("BroadcastHashJoin") >= 3, plan


def test_knn_broadcasts_queries_not_index(spark, sf_dir, qs):
    df = qs["knn_exact_cosine_top5"](spark, sf_dir)
    # the (small) query side broadcasts; the index must never shuffle
    assert_plan_contains(df, "BroadcastNestedLoopJoin", "WindowGroupLimit")
    assert_plan_lacks(df, "SortMergeJoin")


def test_scan_prunes_columns(spark, sf_dir, qs):
    df = qs["top_orders_global"](spark, sf_dir)
    from oracle_vector_search_spark.plans.inspect import formatted_plan

    plan = formatted_plan(df)
    # 4 selected columns; o_orderdate must NOT be read
    assert "o_orderdate" not in plan.split("ReadSchema")[1].split("\n")[0]


def test_bm25_reads_pruned_postings(spark, sf_dir, qs):
    """BM25 must hit the at-rest posting table with a partition filter
    on the query terms' buckets — not re-tokenize the corpus."""
    df = qs["bm25_retrieval_top10"](spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan and "tb#" in plan, plan
    # no explode of the documents table in the query-time plan
    assert "Generate explode" not in plan, plan


def test_bloom_prefilter_stays_in_scan_stage(spark, sf_dir, qs):
    """The Bloom probe must be a Filter directly over the lineitem
    scan (before any join/exchange), not post-join."""
    df = qs["bloom_prefiltered_urgent_revenue"](spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    # the probe's hash appears in a Filter node; the join that follows
    # is broadcast (fact side never shuffles before the probe)
    assert "xxhash64" in plan, plan
    assert "BroadcastHashJoin" in plan, plan
    i_filter = plan.find("xxhash64")
    i_join = plan.find("BroadcastHashJoin")
    assert i_join < i_filter, (
        "probe filter should sit below the join in the plan tree"
    )


def test_upsert_merge_single_shuffle(spark, sf_dir, qs):
    """CDC merge = union + one hash exchange on the key + rank-1."""
    df = qs["events_upsert_snapshot"](spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "WindowGroupLimit" in plan or "Window" in plan, plan
    assert plan.count("Union") >= 1, plan


def test_correlation_is_map_side_partial_agg(spark, sf_dir, qs):
    """The moment sums must partial-aggregate before the single-row
    final aggregate — one scan, no wide shuffle."""
    df = qs["feature_correlation_exact"](spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Scan parquet") == 1, plan
    assert "HashAggregate" in plan, plan


def test_decontamination_broadcasts_eval_side(spark, sf_dir, qs):
    df = qs["benchmark_decontamination"](spark, sf_dir)
    # eval shingles broadcast; the corpus shingle set is never
    # shuffle-joined against itself
    assert_plan_contains(df, "BroadcastHashJoin")
    assert_plan_lacks(df, "SortMergeJoin")


def test_skew_profile_single_count_shuffle(spark, sf_dir, qs):
    df = qs["key_skew_profile"](spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    # per-key counts aggregate partially map-side, and the 2-value
    # total joins by broadcast, not shuffle
    assert "HashAggregate" in plan
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_training_shuffle_has_no_single_partition_stage(spark, sf_dir, qs):
    df = qs["training_order_shuffle"](spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "SinglePartition" not in plan


def test_signature_upsert_batch_ids_broadcast(spark, sf_dir, qs):
    df = qs["signature_upsert_merge"](spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    # the anti-join that drops stale signature rows must broadcast the
    # batch ids, never shuffle the standing corpus
    assert "BroadcastHashJoin" in plan and "LeftAnti" in plan, plan


def test_sql_udf_knn_stays_jvm_side(spark, sf_dir, qs):
    """The SQL scalar UDF (cos_sim) must inline into the plan as
    expressions — never a Python-worker evaluation stage."""
    df = qs["sql_udf_knn_top3"](spark, sf_dir)
    assert_plan_lacks(df, "BatchEvalPython", "ArrowEvalPython", "PythonUDF")
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "aggregate(zip_with" in plan or "WindowGroupLimit" in plan


def test_repeated_span_shuffles_grams_not_text(spark, sf_dir, qs):
    """Span dedup must project grams in the scan stage; the document
    text column must not survive past the first projection."""
    df = qs["repeated_span_doc_stats"](spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "posexplode" in plan or "Generate" in plan, plan
    # the shuffled aggregations carry gram/doc_id only — text never
    # appears as an exchange output attribute
    exchanges = [
        seg.split("\n")[0]
        for seg in plan.split("Exchange")[1:]
    ]
    assert all("text#" not in seg for seg in exchanges), exchanges


def test_maxsim_broadcasts_query_vectors(spark, sf_dir, qs):
    """Late-interaction scoring must broadcast the multi-vector query
    side, never sort-merge the chunk table against it."""
    df = qs["maxsim_late_interaction_top5"](spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_rrf_no_cartesian_beyond_broadcast_query(spark, sf_dir, qs):
    """RRF fusion joins two rank lists on doc_id — the only cross join
    allowed is the 1-row query-vector broadcast."""
    df = qs["hybrid_rrf_retrieval_top10"](spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan, plan


def test_profile_guided_join_unions_hot_and_cold(spark, sf_dir, qs):
    """With the threshold forced low enough to detect hot keys, the
    plan must be the hot-salted ∪ cold-plain union; the registered
    query at smoke scale may legitimately take the no-hot-keys fast
    path (plain join, no Union)."""
    from pyspark.sql import functions as F

    from oracle_vector_search_spark.io import load_table
    from oracle_vector_search_spark.operators.skew import (
        profile_guided_salted_join,
    )

    ev = load_table(spark, sf_dir, "events").select("event_id", "user_id")
    orders = load_table(spark, sf_dir, "orders").select(
        F.col("o_custkey").alias("user_id"), "o_orderkey"
    )
    df = profile_guided_salted_join(
        ev, orders, "user_id", top_n=5, skew_mult=0.5, salt_on="event_id"
    )
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "Union" in plan, plan


def test_dpp_fact_scan_carries_dynamic_pruning(spark, sf_dir, qs):
    """The partitioned fact scan must carry a DynamicPruning subquery
    (runtime partition pruning fed by the filtered dimension) — the
    point of the at-rest partitionBy(event_type) layout."""
    df = qs["dpp_pruned_event_revenue"](spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "dynamicpruning" in plan.lower(), plan
