"""Checkpoint recovery for the CDC upsert stream.

Kill the upsert stream mid-run (``merge_upsert`` raises on its n-th
call), restart it on the SAME ``root``, and assert:

* the restart does NOT re-deliver committed epochs (the ledger gains
  only the missing ones, and the old entries are unchanged),
* a replayed epoch rewrites its own version from the same base,
* the drained final snapshot equals the batch latest-wins oracle —
  i.e. the crash/restart left no duplicate, lost or stale rows.
"""

from __future__ import annotations

import json
import os

import pytest
from pyspark.errors import StreamingQueryException
from pyspark.sql import Window, functions as F

from oracle_vector_search_spark.io import load_table
from oracle_vector_search_spark.operators import merge as merge_mod
from oracle_vector_search_spark.streaming.ops import upsert_snapshot_stream


def _batch_oracle(spark, sf_dir):
    """Latest-wins over ALL events — what the snapshot must converge
    to no matter how the stream batched or where it died."""
    ev = load_table(spark, sf_dir, "events").select(
        "user_id",
        F.expr("ts_ns div 1000").alias("ts_us"),
        "event_id",
        "event_type",
        F.floor(F.col("value") * 100).cast("long").alias("value_cents"),
    )
    w = Window.partitionBy("user_id").orderBy(
        F.desc("ts_us"), F.desc("event_id")
    )
    return (
        ev.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )


def _crash_on_merge(spark, sf_dir, root, monkeypatch, n):
    """Run the stream with ``merge_upsert`` failing on its n-th call
    (epoch n: epoch 0 has nothing to merge into); the stream dies."""
    merge = merge_mod.merge_upsert
    calls = [0]

    def failing_merge(*args, **kwargs):
        calls[0] += 1
        if calls[0] == n:
            raise RuntimeError(f"killed at merge {n}")
        return merge(*args, **kwargs)

    with monkeypatch.context() as m:
        m.setattr(merge_mod, "merge_upsert", failing_merge)
        with pytest.raises(StreamingQueryException):
            upsert_snapshot_stream(spark, sf_dir, root=root)


def _ledger(root):
    with open(os.path.join(root, "_ledger.json")) as fh:
        return {int(k): v for k, v in json.load(fh).items()}


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def test_upsert_stream_recovers_from_checkpoint(
    spark, sf_dir, tmp_path, monkeypatch
):
    root = str(tmp_path)
    # the source is 4 files at maxFilesPerTrigger=1, so dying in epoch 2
    # is genuinely mid-run
    _crash_on_merge(spark, sf_dir, root, monkeypatch, n=2)
    led1 = _ledger(root)
    assert sorted(led1) == [0, 1], led1  # exactly the committed prefix
    # parquet part files carry a per-write uuid: a rewrite renames them
    before = {e: sorted(os.listdir(p)) for e, p in led1.items()}

    final = upsert_snapshot_stream(spark, sf_dir, root=root)

    led2 = _ledger(root)
    # committed epochs were not re-delivered; only the tail was run
    assert sorted(led2) == [0, 1, 2, 3], led2
    assert all(led2[e] == led1[e] for e in led1)
    assert all(sorted(os.listdir(led2[e])) == f for e, f in before.items())
    oracle = _rows(_batch_oracle(spark, sf_dir))
    # else the restart proves nothing
    assert _rows(spark.read.parquet(led1[1])) != oracle
    assert _rows(final) == oracle


def test_replayed_epoch_is_idempotent(spark, sf_dir, tmp_path, monkeypatch):
    """A crash after an epoch's version was written but before its
    checkpoint commit makes the restart replay that epoch. Plant such a
    half-done epoch 3 as a garbage version: the replay must rewrite it
    from epoch 2's version, neither keep it nor merge on top of it."""
    root = str(tmp_path)
    _crash_on_merge(spark, sf_dir, root, monkeypatch, n=3)
    led = _ledger(root)
    assert sorted(led) == [0, 1, 2], led

    fake = os.path.join(root, "v3")
    spark.read.parquet(led[2]).limit(1).withColumn(
        "user_id", F.lit(-1).cast("long")
    ).write.mode("overwrite").parquet(fake)
    led[3] = fake
    with open(os.path.join(root, "_ledger.json"), "w") as fh:
        json.dump(led, fh)

    final = upsert_snapshot_stream(spark, sf_dir, root=root)
    assert _rows(final) == _rows(_batch_oracle(spark, sf_dir))
