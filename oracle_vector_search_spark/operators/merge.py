"""Incremental upsert merge — latest-record-wins CDC materialization.

The maintenance loop behind every at-rest table this engine writes
(vector index, LSH buckets, dedup canonical ids): a base snapshot plus
a batch of updates merges into the next snapshot, keeping one row per
key. Without a transactional table format this is the portable way to
express MERGE INTO: union both sides, rank per key by the ordering
columns, keep rank 1 — one shuffle on the key, map-side nothing to
combine but also nothing quadratic; at 100 TB the shuffle is bounded
by |base| + |updates| and AQE's skew split handles hot keys.

Reference parity: the reference rebuilds its FAISS index from scratch
on every change (build_faiss_db.py:138-225 has no incremental path);
this operator is the distributed engine's replacement for a full
rebuild.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, functions as F

from oracle_vector_search_spark.operators.topk import top_k_per_group


def merge_upsert(
    base: DataFrame,
    updates: DataFrame,
    keys: Sequence[str],
    order_cols: Sequence[str],
) -> DataFrame:
    """Merge ``updates`` into ``base``: one row per ``keys``, the row
    with the greatest ``order_cols`` tuple wins; exact ties go to the
    updates side. Schemas must match (unionByName).

    ``order_cols`` must totally order rows within a key on each side
    (include a unique id last) or the winner is nondeterministic.
    """
    tagged = base.withColumn("__src", F.lit(0)).unionByName(
        updates.withColumn("__src", F.lit(1))
    )
    return top_k_per_group(
        tagged, keys, 1, *[F.desc(c) for c in order_cols], F.desc("__src"),
        rank_col="__rn",
    ).drop("__rn", "__src")
