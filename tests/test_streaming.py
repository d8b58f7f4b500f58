"""Streaming operator tests — including TRUE multi-batch execution
(maxFilesPerTrigger over a multi-file source) to exercise the
per-batch top-k merge, which single-file sources never do — and the
contract of ``drain_file_stream``, the micro-batch driver of the
file-fed streams."""

from __future__ import annotations

import os
import tempfile
import uuid

import pytest
from pyspark.errors import StreamingQueryException
from pyspark.sql import functions as F
from pyspark.sql import types as T

from oracle_vector_search_spark.functions.vector import (
    as_double_array,
    cosine_similarity,
)
from oracle_vector_search_spark.io import load_table
from oracle_vector_search_spark.operators.knn import knn_exact
from oracle_vector_search_spark.streaming import ops


def test_streaming_knn_multibatch_merge(spark, sf_dir):
    """Split the query set across 4 parquet files, stream with
    maxFilesPerTrigger=1 (4 separate micro-batches), and check the
    accumulated per-batch top-k merge equals the batch-exact answer."""
    from pyspark.sql import Window

    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 12)
    expected = {
        (r["query_id"], r["neighbor_id"], r["score"])
        for r in knn_exact(emb, queries, k=5).collect()
    }

    with tempfile.TemporaryDirectory() as d:
        # 4 files → 4 micro-batches
        queries.repartition(4).write.mode("overwrite").parquet(f"{d}/q")
        schema = T.StructType(
            [
                T.StructField("vec_id", T.LongType()),
                T.StructField("embedding", T.ArrayType(T.FloatType())),
                T.StructField("label", T.IntegerType()),
            ]
        )
        qstream = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", "1")
            .parquet(f"{d}/q")
        )
        index_df = emb.select(
            F.col("vec_id").alias("neighbor_id"),
            as_double_array("embedding").alias("v_vec"),
        )
        candidates: list[tuple] = []
        batch_count = [0]

        def score(batch_df, epoch_id):
            if batch_df.isEmpty():
                return
            batch_count[0] += 1
            q = batch_df.select(
                F.col("vec_id").alias("query_id"),
                as_double_array("embedding").alias("q_vec"),
            )
            w = Window.partitionBy("query_id").orderBy(
                F.desc("score"), F.asc("neighbor_id")
            )
            topk = (
                index_df.join(F.broadcast(q))
                .select(
                    "query_id",
                    "neighbor_id",
                    F.round(
                        cosine_similarity("q_vec", "v_vec"), 6
                    ).alias("score"),
                )
                .withColumn("r", F.row_number().over(w))
                .filter(F.col("r") <= 5)
                .select("query_id", "neighbor_id", "score")
            )
            candidates.extend(map(tuple, topk.collect()))

        q = qstream.writeStream.foreachBatch(score).start()
        try:
            q.processAllAvailable()
        finally:
            q.stop()

    assert batch_count[0] >= 2, "expected multiple micro-batches"
    got = set(candidates)
    assert got == expected  # disjoint query batches → no cross-batch merge
    assert len(got) == 12 * 5


def test_watermark_drops_late_data(spark):
    """Watermark semantics: a record older than watermark-delay behind
    the max seen event time is dropped from append-mode aggregation."""
    import pandas as pd

    with tempfile.TemporaryDirectory() as d:
        early = pd.DataFrame(
            {
                "ts": pd.to_datetime(
                    ["2024-01-01 00:05:00", "2024-01-01 03:00:00"]
                ),
                "v": [1.0, 1.0],
            }
        )
        late = pd.DataFrame(
            {
                # arrives AFTER max event time 03:00; watermark = 02:00
                # with 1h delay → a 00:10 record is too late
                "ts": pd.to_datetime(
                    ["2024-01-01 00:10:00", "2024-01-01 03:10:00"]
                ),
                "v": [100.0, 1.0],
            }
        )
        # two explicit passes: batch 2's file only appears after batch 1
        # completed and advanced the watermark to 02:00
        spark.createDataFrame(early).coalesce(1).write.mode(
            "append"
        ).parquet(f"{d}/s")

        schema = "ts timestamp, v double"
        stream = spark.readStream.schema(schema).parquet(f"{d}/s")
        agg = (
            stream.withWatermark("ts", "1 hour")
            .groupBy(F.window("ts", "1 hour"))
            .agg(F.sum("v").alias("total"))
        )
        name = f"wm_{uuid.uuid4().hex[:8]}"
        q = (
            agg.writeStream.outputMode("append")
            .format("memory")
            .queryName(name)
            .start()
        )
        try:
            q.processAllAvailable()  # batch 1: watermark → 02:00
            spark.createDataFrame(late).coalesce(1).write.mode(
                "append"
            ).parquet(f"{d}/s")
            q.processAllAvailable()  # batch 2: 00:10 record is late
        finally:
            q.stop()
        finalized = {
            (r["window"].start.isoformat(), r["total"])
            for r in spark.table(name).collect()
        }
    # the 00:00 window finalized after batch 1 with total=1.0;
    # the late v=100 record must NOT appear anywhere
    assert not any(t >= 100 for _, t in finalized), finalized


def _ids(df) -> list[int]:
    return sorted(r["id"] for r in df.collect())


def test_drain_folds_in_arrival_order(spark):
    """``step`` sees ``prev=None`` first, then exactly the previous
    epoch's output: a running union ends as the whole source."""
    calls = []

    def step(batch, prev):
        calls.append((_ids(batch), None if prev is None else _ids(prev)))
        return batch if prev is None else prev.unionByName(batch)

    out = ops.drain_file_stream(spark.range(40), "id long", step)
    assert len(calls) >= 2
    assert calls[0][1] is None
    seen: list[int] = []
    for batch_ids, prev_ids in calls:
        if seen:
            assert prev_ids == sorted(seen)
        seen += batch_ids
    assert _ids(out) == sorted(seen) == list(range(40))


def _listing(path: str) -> dict[str, tuple[int, int]]:
    return {
        f: (st.st_size, st.st_mtime_ns)
        for f in os.listdir(path)
        for st in [os.stat(os.path.join(path, f))]
    }


def test_drain_versions_are_write_once(spark, monkeypatch):
    """Each epoch writes a fresh directory, and no later epoch touches
    an earlier version."""
    written = []
    write = ops.write_artifact

    def recording_write(df, path, partition_by=None):
        write(df, path, partition_by)
        written.append((path, _listing(path), _ids(spark.read.parquet(path))))

    monkeypatch.setattr(ops, "write_artifact", recording_write)
    ops.drain_file_stream(
        spark.range(40),
        "id long",
        lambda batch, prev: batch if prev is None else prev.union(batch),
    )
    paths = [p for p, _, _ in written]
    assert len(paths) >= 2 and len(set(paths)) == len(paths)
    for path, files, ids in written:
        assert _listing(path) == files
        assert _ids(spark.read.parquet(path)) == ids


def test_drain_empty_source_returns_typed_empty_frame(spark):
    calls = []
    out = ops.drain_file_stream(
        spark.range(0).selectExpr("id", "'x' AS tag"),
        "id long, tag string",
        lambda batch, prev: calls.append(batch) or batch,
    )
    assert calls == []
    assert out.count() == 0
    assert out.schema.simpleString() == "struct<id:bigint,tag:string>"


def test_drain_single_non_empty_batch_raises(spark):
    with pytest.raises(RuntimeError, match="one micro-batch"):
        ops.drain_file_stream(
            spark.range(1), "id long", lambda batch, prev: batch
        )


def test_drain_append_returns_every_epoch(spark):
    out = ops.drain_file_stream(
        spark.range(40),
        "id long",
        lambda batch, prev: batch.select((F.col("id") * 10).alias("id")),
        append=True,
    )
    assert _ids(out) == [10 * i for i in range(40)]


def _failing_on(n, step):
    """``step``, except that its n-th call raises."""
    calls = [0]

    def wrapped(batch, prev):
        calls[0] += 1
        if calls[0] == n:
            raise RuntimeError(f"killed at step {n}")
        return step(batch, prev)

    return wrapped


def test_drain_resumes_from_its_checkpoint(spark, tmp_path):
    """Kill an append stream in its third epoch, then run it again on
    the same ``root``: the restart runs only the two missing epochs,
    and the result equals an uninterrupted run, with no epoch lost or
    delivered twice."""
    calls = []

    def tag(batch, prev):
        calls.append(prev is None)
        return batch.select((F.col("id") * 10).alias("id"))

    root = str(tmp_path)
    with pytest.raises(StreamingQueryException):
        ops.drain_file_stream(
            spark.range(40),
            "id long",
            _failing_on(3, tag),
            append=True,
            root=root,
        )
    calls.clear()
    out = ops.drain_file_stream(
        spark.range(40), "id long", tag, append=True, root=root
    )
    assert calls == [False, False]
    whole = ops.drain_file_stream(
        spark.range(40), "id long", tag, append=True
    )
    assert _ids(out) == _ids(whole) == [10 * i for i in range(40)]


@pytest.fixture
def jvm_tmpdir(spark, tmp_path):
    """The session JVM's ``java.io.tmpdir``, pointed at a directory of
    this test's own while it runs (Spark makes the checkpoint directory
    of a query without one there), so no other Spark process on the
    host can add to what the test inspects."""
    system = spark.sparkContext._jvm.System
    host = system.getProperty("java.io.tmpdir")
    mine = tmp_path / "jvm_tmpdir"
    mine.mkdir()
    system.setProperty("java.io.tmpdir", str(mine))
    try:
        yield mine
    finally:
        system.setProperty("java.io.tmpdir", host)


def _temporaries(tmpdir):
    """The checkpoint directories Spark made itself in ``tmpdir``."""
    return [f for f in os.listdir(tmpdir) if f.startswith("temporary-")]


def test_failed_drain_leaves_no_temporary_checkpoint(spark, jvm_tmpdir):
    """Spark deletes a checkpoint it created itself only when the query
    succeeds; the driver's checkpoint lives under its scratch root, so a
    failed stream leaves nothing in the JVM's temp directory."""
    with pytest.raises(StreamingQueryException):
        ops.drain_file_stream(
            spark.range(40),
            "id long",
            _failing_on(2, lambda batch, prev: batch),
        )
    assert _temporaries(jvm_tmpdir) == []


def test_failed_memory_stream_leaves_no_temporary_checkpoint(
    spark, tmp_path, jvm_tmpdir
):
    """The same for ``run_to_memory``: a stateful stream whose UDF
    raises leaves nothing in the JVM's temp directory."""
    src = str(tmp_path / "src")
    spark.range(40).write.parquet(src)
    boom = F.udf(lambda i: i // 0, "long")
    counts = (
        spark.readStream.schema("id long").parquet(src)
        .groupBy(boom("id").alias("k"))
        .count()
    )
    with pytest.raises(StreamingQueryException):
        ops.run_to_memory(counts, "complete")
    assert _temporaries(jvm_tmpdir) == []
