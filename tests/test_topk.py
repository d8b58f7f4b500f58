"""Contract of ``operators.topk.top_k_per_group``, the engine's one
per-group top-k."""

from __future__ import annotations

from pyspark.sql import functions as F
from pyspark.sql import types as T

from oracle_vector_search_spark.operators.topk import top_k_per_group
from oracle_vector_search_spark.plans.inspect import physical_plan


def _rows(df, *cols):
    return sorted(tuple(r) for r in df.select(*cols).collect())


def test_score_ties_break_on_the_id_in_the_order(spark):
    # four rows tie at the k-th score; the lowest ids win, whatever the
    # partitioning of the input
    scored = spark.createDataFrame(
        [(1, i, 0.5) for i in (9, 3, 7, 5)] + [(1, 1, 0.9)],
        "q long, id long, score double",
    ).repartition(3)
    out = top_k_per_group(scored, ["q"], 3, F.desc("score"), F.asc("id"))
    assert _rows(out, "q", "id", "rank") == [(1, 1, 1), (1, 3, 2), (1, 5, 3)]


def test_k_larger_than_a_group_keeps_the_whole_group(spark):
    df = spark.createDataFrame(
        [(0, 1), (0, 2), (1, 5)], "g long, id long"
    )
    out = top_k_per_group(df, ["g"], 10, F.asc("id"))
    assert _rows(out, "g", "id", "rank") == [(0, 1, 1), (0, 2, 2), (1, 5, 1)]


def test_two_group_columns_rank_each_pair(spark):
    df = spark.createDataFrame(
        [("a", 0, 1), ("a", 0, 2), ("a", 1, 3), ("b", 0, 4), ("b", 0, 5)],
        "u string, h int, id long",
    )
    out = top_k_per_group(df, ["u", "h"], 1, F.desc("id"))
    assert _rows(out, "u", "h", "id") == [("a", 0, 2), ("a", 1, 3), ("b", 0, 5)]


def test_rank_col_names_the_int_rank_column(spark):
    df = spark.createDataFrame([(0, 1), (0, 2)], "g long, id long")
    out = top_k_per_group(df, ["g"], 2, F.asc("id"), rank_col="rn")
    assert out.columns == ["g", "id", "rn"]
    assert out.schema["rn"].dataType == T.IntegerType()
    assert _rows(out, "id", "rn") == [(1, 1), (2, 2)]


def test_empty_input_keeps_its_typed_schema(spark):
    ddl = "q long, id long, score double, tag string"
    empty = spark.createDataFrame([], ddl)
    out = top_k_per_group(empty, ["q"], 5, F.desc("score"), F.asc("id"))
    expected = T.StructType.fromDDL(ddl).add(
        "rank", T.IntegerType(), nullable=False
    )
    assert out.schema == expected
    assert out.collect() == []


def test_executed_plan_limits_each_group_before_the_shuffle(spark):
    df = spark.range(200).select(
        (F.col("id") % 7).alias("g"), F.col("id")
    )
    out = top_k_per_group(df, ["g"], 2, F.desc("id"))
    assert len(out.collect()) == 14
    assert "WindowGroupLimit" in physical_plan(out)
