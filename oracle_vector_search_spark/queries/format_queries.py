"""Format round-trip audits: ORC and CSV vs the pristine parquet.

The checksum shape mirrors ``compacted_events_checksum``: per
event_type counts + exact-integer sums over every column (ids, users,
value-cents, epoch-µs timestamps, props lengths). The oracle runs on
the ORIGINAL parquet table, so the queries prove the format round-trip
is lossless — a formatting-precision bug, a mangled quote, or a
truncated timestamp changes a sum and fails the hash gate.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from oracle_vector_search_spark.queries import register

# Timestamp checksums split into relative-ms + sub-ms sums: a raw
# epoch-µs sum overflows int64 under ANSI mode already at sf0.1
# (1.5e5 rows × 1.7e15 µs), while the split terms stay < 1e16 even at
# sf100. Together they change if ANY row's µs value changes.
_TS_BASE_US = 1_700_000_000_000_000

_CHECKSUM_ORACLE = f"""
SELECT event_type,
       CAST(count(*) AS BIGINT) AS n_events,
       CAST(sum(event_id) AS BIGINT) AS id_sum,
       CAST(sum(user_id) AS BIGINT) AS user_sum,
       CAST(sum(CAST(floor(value * 100) AS BIGINT)) AS BIGINT)
         AS value_cents_sum,
       CAST(sum((epoch_ns(ts) // 1000 - {_TS_BASE_US}) // 1000) AS BIGINT)
         AS ts_ms_rel_sum,
       CAST(sum(epoch_ns(ts) // 1000 % 1000) AS BIGINT) AS ts_sub_ms_sum,
       CAST(sum(length(props)) AS BIGINT) AS props_chars_sum
FROM events
GROUP BY event_type
ORDER BY event_type
"""


def _checksum(df: DataFrame) -> DataFrame:
    ts_us = F.unix_micros("ts")
    return (
        df.groupBy("event_type")
        .agg(
            F.count("*").alias("n_events"),
            F.sum("event_id").alias("id_sum"),
            F.sum("user_id").alias("user_sum"),
            F.sum(F.floor(F.col("value") * 100).cast("long")).alias(
                "value_cents_sum"
            ),
            F.sum(
                F.expr(f"(unix_micros(ts) - {_TS_BASE_US}) div 1000")
            ).alias("ts_ms_rel_sum"),
            F.sum(ts_us % 1000).alias("ts_sub_ms_sum"),
            F.sum(F.length("props")).alias("props_chars_sum"),
        )
        .orderBy("event_type")
    )


@register("orc_roundtrip_checksum", _CHECKSUM_ORACLE)
def orc_roundtrip_checksum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """events → ORC → events: full-column checksum equality against the
    pristine parquet (sources/formats.py). ORC is the second splittable
    columnar format the engine reads/writes natively."""
    from oracle_vector_search_spark.sources.formats import events_via_orc

    return _checksum(events_via_orc(spark, sf_dir))


@register("csv_roundtrip_checksum", _CHECKSUM_ORACLE)
def csv_roundtrip_checksum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """events → CSV → events with explicit schema, µs timestamp format
    and RFC-4180 quoting; props (JSON text with quotes/commas) is the
    adversarial payload. Checksum equality against pristine parquet
    proves the text round-trip is lossless (sources/formats.py)."""
    from oracle_vector_search_spark.sources.formats import events_via_csv

    return _checksum(events_via_csv(spark, sf_dir))


def _evolved_events_dir(spark: SparkSession, sf_dir: str) -> str:
    """Scratch parquet dir simulating schema evolution: an 'old' file
    set written WITHOUT the props column (events before the field
    existed) and a 'new' file set with it — the layout a long-lived
    100 TB table actually has after a column was added mid-history."""
    from oracle_vector_search_spark.io import at_rest, load_table
    from oracle_vector_search_spark.scratch import scratch_dir

    def build():
        path = scratch_dir("ovs_evolved_")
        ev = load_table(spark, sf_dir, "events")
        old = ev.filter(F.col("event_id") % 2 == 0).drop("props")
        new = ev.filter(F.col("event_id") % 2 == 1)
        old.coalesce(2).write.mode("append").parquet(path)
        new.coalesce(2).write.mode("append").parquet(path)
        return path

    path = at_rest(spark, (_evolved_events_dir, sf_dir), build)
    return path


@register(
    "merge_schema_evolution_audit",
    """
SELECT event_type,
       CAST(count(*) AS BIGINT) AS n_events,
       CAST(sum(CASE WHEN event_id % 2 = 1 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_with_props,
       CAST(sum(CASE WHEN event_id % 2 = 0 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_null_props,
       CAST(sum(CASE WHEN event_id % 2 = 1
                     THEN CAST(json_extract_string(props, '$.k') AS BIGINT)
                     ELSE 0 END) AS BIGINT) AS sum_k_present
FROM events
GROUP BY event_type
ORDER BY event_type
""",
)
def merge_schema_evolution_audit(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Schema-evolution read: half the files lack the ``props`` column
    (written before the field existed), half have it;
    ``mergeSchema=true`` must reconcile them into one frame where the
    missing column reads as NULL — counted per event_type and checked
    against the pristine table's parity split. The audit every
    long-lived table needs after any column addition.

    At 100 TB: mergeSchema pays a footer read per file at planning
    time — production tables pin the merged schema in a catalog; the
    NULL-fill semantics verified here are identical."""
    path = _evolved_events_dir(spark, sf_dir)
    df = spark.read.option("mergeSchema", "true").parquet(path)
    k = F.get_json_object("props", "$.k").cast("long")
    return (
        df.groupBy("event_type")
        .agg(
            F.count("*").alias("n_events"),
            F.sum(F.col("props").isNotNull().cast("long")).alias(
                "n_with_props"
            ),
            F.sum(F.col("props").isNull().cast("long")).alias(
                "n_null_props"
            ),
            F.sum(F.coalesce(k, F.lit(0))).alias("sum_k_present"),
        )
        .orderBy("event_type")
    )


@register("xml_roundtrip_checksum", _CHECKSUM_ORACLE)
def xml_roundtrip_checksum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """events → XML → events via Spark 4's built-in XML source, with
    explicit schema and µs timestamp format; entity-escaping of the
    JSON props payload is the adversarial part. Checksum equality
    against pristine parquet proves the markup round-trip lossless
    (sources/formats.py)."""
    from oracle_vector_search_spark.sources.formats import events_via_xml

    return _checksum(events_via_xml(spark, sf_dir))
