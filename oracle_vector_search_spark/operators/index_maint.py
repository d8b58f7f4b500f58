"""Incremental maintenance of at-rest vector index tables.

The reference rebuilds its FAISS index from scratch on every corpus
change (/root/reference/build_faiss_db.py:138-225 — full directory
re-scan, re-embed, re-add). At 100 TB a nightly full rebuild is the
single most expensive job in the pipeline; the right shape is
*incremental*: hash/assign ONLY the new-or-updated vectors (work
proportional to the batch, not the corpus) and rewrite ONLY the index
partitions those vectors touch.

Mechanics (same for LSH buckets and IVF assignment):

1. ``fresh`` = index rows for the batch vectors only (a map-only pass
   over the batch — the corpus is never re-hashed).
2. ``merge_index_rows`` drops the batch ids' stale rows from the old
   table via a broadcast anti-join (batch ids are small by definition)
   and unions the fresh rows. The result is row-identical to a full
   rebuild over the upserted corpus — that equality is what the
   DuckDB oracles check.
3. ``affected_partitions`` / ``incremental_overwrite`` rewrite only
   the partitions that gained or lost a row, via Spark's dynamic
   partition overwrite. Untouched buckets / cells are never read or
   written. (LSH bucket keys depend only on constant hash-derived
   planes, and IVF uses a frozen codebook between retrains, so an
   upsert can never change a NON-batch vector's partition — the
   precondition for partition-local rewrites.)
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from oracle_vector_search_spark.plans.ckpt import pin, unpin


def merge_index_rows(
    old: DataFrame, fresh: DataFrame, id_col: str = "vec_id"
) -> DataFrame:
    """Upsert ``fresh`` index rows over ``old``: every id present in
    ``fresh`` replaces ALL its old rows (handles both multi-row-per-id
    layouts like LSH's one-row-per-band and single-row layouts like IVF
    assignment). Batch ids are broadcast — the corpus-sized side never
    shuffles."""
    batch_ids = fresh.select(id_col).distinct()
    kept = old.join(F.broadcast(batch_ids), on=id_col, how="left_anti")
    return kept.unionByName(fresh)


def affected_partitions(
    old: DataFrame,
    fresh: DataFrame,
    part_cols: list[str],
    id_col: str = "vec_id",
) -> DataFrame:
    """Partitions that must be rewritten: those receiving a fresh row
    plus those holding a stale row of a batch id. Bounded by the key
    space of ``part_cols`` (e.g. ≤ n_bands × 2^rows_per_band for LSH),
    not by the corpus."""
    batch_ids = fresh.select(id_col).distinct()
    stale = old.join(F.broadcast(batch_ids), on=id_col, how="semi").select(
        *part_cols
    )
    return fresh.select(*part_cols).union(stale).distinct()


def incremental_overwrite(
    spark: SparkSession,
    merged: DataFrame,
    affected: DataFrame,
    path: str,
    part_cols: list[str],
) -> None:
    """Rewrite ONLY the affected partitions of the at-rest table at
    ``path``: restrict ``merged`` to the affected partition keys
    (broadcast semi-join — the key set is metadata-sized) and write
    with dynamic partition overwrite, which replaces exactly the
    partition directories present in the written frame and leaves every
    other directory untouched."""
    # materialize the replacement rows BEFORE the overwrite: the merged
    # plan reads the same path it is about to rewrite, so the lineage
    # must be cut (localCheckpoint) to avoid read-under-overwrite. The
    # checkpoint holds only batch + affected-partition rows, never the
    # corpus; a transactional table format (Iceberg/Delta) would make
    # this staging step implicit.
    rows = pin(merged.join(F.broadcast(affected), on=part_cols, how="semi"))
    old_mode = spark.conf.get(
        "spark.sql.sources.partitionOverwriteMode", "static"
    )
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    try:
        (
            rows.repartition(*[F.col(c) for c in part_cols])
            .write.mode("overwrite")
            .partitionBy(*part_cols)
            .parquet(path)
        )
        # the overwrite was the checkpoint's only consumer — release
        # the staged blocks now (on failure the owning scope does)
        unpin(rows)
    finally:
        spark.conf.set(
            "spark.sql.sources.partitionOverwriteMode", old_mode
        )
