"""Contract of ``operators.rowmap.map_rows``, the one Arrow batch loop
for per-row kernels."""

from __future__ import annotations

from pyspark.sql import types as T

from oracle_vector_search_spark.operators.rowmap import map_rows


def test_a_row_maps_to_zero_one_or_many_rows(spark):
    src = spark.createDataFrame([(0,), (1,), (3,)], "n long")
    out = map_rows(
        src, lambda n: [(n, i) for i in range(n)], "n long, i int"
    )
    assert sorted(tuple(r) for r in out.collect()) == [
        (1, 0), (3, 0), (3, 1), (3, 2),
    ]


def test_null_reaches_the_kernel_as_none(spark):
    src = spark.createDataFrame(
        [(1, "a", 0.5), (None, None, None)], "k int, s string, x double"
    ).repartition(1)
    out = map_rows(
        src,
        lambda k, s, x: [(k is None, s is None, x is None)],
        "k_null boolean, s_null boolean, x_null boolean",
    )
    assert sorted(tuple(r) for r in out.collect()) == [
        (False, False, False), (True, True, True),
    ]


def test_empty_input_and_empty_partitions_keep_the_typed_schema(spark):
    ddl = "id long, tag string, v array<double>, b binary"
    expected = T.StructType.fromDDL(ddl)
    # one output row per input row: the 4 empty partitions give no
    # batch, the one-row partition a batch the kernel empties
    some = spark.range(1).repartition(5)
    drop_all = map_rows(some, lambda i: [], ddl)
    none = map_rows(spark.range(0), lambda i: [(i, "", [], b"")], ddl)
    for out in (drop_all, none):
        assert out.schema == expected
        assert out.collect() == []
        assert out.toPandas().columns.tolist() == expected.names


def test_output_columns_follow_the_schema(spark):
    src = spark.createDataFrame([(2, "x")], "n long, s string")
    out = map_rows(
        src, lambda n, s: [(s * n, n + 1, [float(n)])],
        "rep string, inc long, vec array<double>",
    )
    assert out.columns == ["rep", "inc", "vec"]
    assert [tuple(r) for r in out.collect()] == [("xx", 3, [2.0])]


def test_cols_select_and_order_the_inputs(spark):
    src = spark.createDataFrame([(1, 2, 3)], "a long, b long, c long")
    out = map_rows(
        src, lambda c, a: [(c, a)], "first long, second long", ["c", "a"]
    )
    assert [tuple(r) for r in out.collect()] == [(3, 1)]
