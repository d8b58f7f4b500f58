"""Table loading for the driver-generated synthetic fixtures.

Tables (TESTDATA.md): region nation customer supplier part orders lineitem
events documents embeddings — one parquet file per table under
``/root/testdata/sf{0.001,0.01,0.1}``.

Parquet is the engine's native storage: columnar, predicate-pushdown and
column-pruning friendly (Catalyst pushes filters into the scan), splittable
for parallel reads at cluster scale.

Derived at-rest artifacts (index tables, LSH buckets, postings, ...) are
written and read with ``write_artifact`` / ``read_artifact`` and built
once per session through ``at_rest``.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

from oracle_vector_search_spark.plans.ckpt import owned_by

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load one fixture table as a DataFrame.

    ``events.ts`` has shipped as BOTH parquet TIMESTAMP(NANOS) (older
    fixtures) and timestamp[us] (current fixtures), so we branch on the
    ACTUAL type the reader hands back rather than assuming a physical
    layout. Either way the loaded frame exposes BOTH ``ts_ns BIGINT``
    (exact epoch-nanos, for arithmetic/oracle output) and ``ts
    TIMESTAMP`` (µs precision, for window/streaming functions; hour and
    second boundaries are µs-aligned so precision never flips a bucket).
    """
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    # Oracle comparability + determinism: wall-clock↔epoch conversions
    # (NTZ casts, unix_micros) must not depend on the host timezone.
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    path = os.path.join(sf_dir, f"{name}.parquet")
    if name == "events":
        # nanosAsLong only affects TIMESTAMP(NANOS) columns; harmless
        # (no-op) when the fixture stores µs.
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        raw = spark.read.parquet(path)
        ts_type = raw.schema["ts"].dataType
        if isinstance(ts_type, T.LongType):
            # Legacy nanos fixture: raw int64 nanoseconds.
            return raw.withColumnRenamed("ts", "ts_ns").withColumn(
                "ts", F.timestamp_micros(F.expr("ts_ns div 1000"))
            )
        if isinstance(ts_type, (T.TimestampType, T.TimestampNTZType)):
            # Current fixture: timestamp[us]. Cast NTZ→TIMESTAMP under the
            # UTC session zone (bit-identical instant), derive exact nanos.
            # Column order matches the legacy-nanos branch (ts_ns takes
            # ts's ORIGINAL position, wherever that is; ts appends last)
            # so star-selects are stable across fixture generations.
            order = ["ts_ns" if c == "ts" else c for c in raw.columns]
            return (
                raw.withColumn("ts", F.col("ts").cast("timestamp"))
                .withColumn("ts_ns", F.unix_micros("ts") * F.lit(1000))
                .select(*order, "ts")
            )
        raise TypeError(
            f"events.ts has unsupported parquet-read type {ts_type}; "
            "expected int64 nanos or timestamp"
        )
    return spark.read.parquet(path)


def load_all(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    """Load every fixture table; also registers each as a temp view so the
    SQL surface (spark.sql) can reference them by name."""
    out = {}
    for name in TABLES:
        df = load_table(spark, sf_dir, name)
        df.createOrReplaceTempView(name)
        out[name] = df
    return out


# ------------------------------------------------- at-rest artifact I/O
# Spark writes NO part files for a zero-row DataFrame, and schema
# inference over a file-less directory throws UNABLE_TO_INFER_SCHEMA —
# so every at-rest artifact (LSH buckets, IVF assignments,
# MinHash signatures, postings, int8 codes, ...) would crash its
# readers on an empty corpus. The engine-wide rule is "empty input →
# empty output, never a crash" (the F3/F5 discipline); these helpers
# make artifact round-trips obey it: the writer records its schema, and
# the reader falls back to that schema ONLY when inference fails (the
# non-empty path stays bit-identical to a plain read).
_ARTIFACT_SCHEMAS: dict[str, object] = {}


def write_artifact(df: DataFrame, path: str, partition_by=None) -> None:
    w = df.write.mode("overwrite")
    if partition_by:
        w = w.partitionBy(*partition_by)
    w.parquet(path)
    _ARTIFACT_SCHEMAS[path] = df.schema


def read_artifact(spark: SparkSession, path: str) -> DataFrame:
    from pyspark.errors import AnalysisException

    try:
        return spark.read.parquet(path)
    except AnalysisException:
        schema = _ARTIFACT_SCHEMAS.get(path)
        if schema is None:
            raise
        return spark.read.schema(schema).parquet(path)


# Every at-rest artifact is built ONCE per Spark application and read
# many times — the reference's build-once / read-many split
# (faiss.write_index vs faiss.read_index). at_rest is the one owner of
# that decision: sites key by (their builder function, sf_dir, ...),
# and their build writes under scratch_dir and returns the path(s).
# application id -> {key: value}; holds one application at a time.
_AT_REST: dict[str, dict] = {}


def _at_rest_entries(spark: SparkSession) -> dict:
    app = spark.sparkContext.applicationId
    if app not in _AT_REST:
        # a stopped session's paths and checkpoint pins are dead
        _AT_REST.clear()
        _AT_REST[app] = {}
    return _AT_REST[app]


def at_rest(spark: SparkSession, key, build):
    """``build()``'s value, computed once per (Spark application, key).

    The first call from a new application drops every entry of the
    earlier one. A ``build`` that raises stores nothing, so the next
    call retries. ``build`` may itself call ``at_rest`` (an artifact
    built from another artifact). Its pins are never released by a
    query's re-invocation (``owned_by(None)``, plans/ckpt.py)."""
    entries = _at_rest_entries(spark)
    if key not in entries:
        with owned_by(None):
            entries[key] = build()
    return entries[key]


def at_rest_built(spark: SparkSession, key) -> bool:
    """Whether ``at_rest(spark, key, ...)`` already holds a value."""
    return key in _at_rest_entries(spark)
