"""Bucketed at-rest tables: the shuffle-free co-located join.

At 100 TB the dominant cost of a fact⋈fact join (lineitem⋈orders,
events⋈events) is the shuffle of both sides on the join key. Bucketing
pays that shuffle ONCE at write time: both tables are hash-partitioned
into the same number of buckets on the join key and written
bucket-per-file, so every subsequent join (and groupBy on the key)
reads matching buckets pairwise and never exchanges — the classic
warehouse layout for repeatedly-joined fact tables.

Spark specifics: bucketing metadata lives in the catalog, so the
tables are written with ``bucketBy(...).sortBy(...).saveAsTable`` and
must be read back via ``spark.table(name)`` (reading the parquet path
directly discards bucket info). ``sortBy`` additionally sorts rows
inside each bucket file, letting SortMergeJoin skip its sort when each
bucket holds a single file.

Reference parity note: the reference (Niobe96/Oracle_vector_search)
has no multi-table storage layer at all — build_faiss_db.py:216-225
writes one flat FAISS index + one metadata pickle. Bucketing is this
engine's scale substitute for "the index and metadata arrive
pre-organized for the lookup pattern".
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame, SparkSession, functions as F


def write_bucketed(
    spark: SparkSession,
    df: DataFrame,
    table: str,
    key: str,
    buckets: int = 16,
    path: str | None = None,
) -> DataFrame:
    """Write ``df`` as a bucketed+sorted catalog table, return the
    catalog-backed DataFrame (bucket metadata intact).

    ``path`` makes the table external (explicit parquet location);
    otherwise it lands in ``spark.sql.warehouse.dir``. Overwrites any
    same-named table so re-materialization is idempotent per session.
    """
    if not re.fullmatch(r"[A-Za-z_][A-Za-z0-9_]*", table):
        raise ValueError(f"unsafe table name: {table!r}")
    spark.sql(f"DROP TABLE IF EXISTS {table}")
    # Pre-shuffle on the bucket expression so each write task holds
    # exactly one bucket -> one file per bucket (repartition and
    # bucketBy share the Murmur3 hash). Without this, every input
    # partition emits a file per bucket it touches and SortMergeJoin
    # must re-sort the multi-file buckets at read time.
    writer = (
        df.repartition(buckets, F.col(key))
        .write.mode("overwrite")
        .format("parquet")
        .bucketBy(buckets, key)
        .sortBy(key)
    )
    if path is not None:
        writer = writer.option("path", path)
    writer.saveAsTable(table)
    return spark.table(table)
