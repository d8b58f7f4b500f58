"""Columnar/text format round-trips beyond parquet: ORC and CSV.

Parquet is the engine's native at-rest format (io.py), JSONL the
permissive text-ingest wire (sources/jsonl.py); this module covers the
other two formats a 100 TB pipeline actually meets — ORC (the other
splittable columnar format, common in Hive-era lakes) and CSV (the
lossy interchange format that only survives a round-trip with an
explicit schema, explicit timestamp format, and RFC-4180 quoting).

Both helpers materialize a scratch copy of the ``events`` fixture ONCE
per (session, sf_dir) in the target format and hand back the re-read
frame; the registered audit queries checksum the re-read data against
the pristine parquet oracle, so any silent lossiness (timestamp
truncation, quote mangling, double formatting) fails the hash gate
rather than lurking.

Scale notes: both formats are splittable (ORC natively; CSV by line
when uncompressed), so reads parallelize; the CSV reader is given the
schema explicitly — schema inference would be an extra full pass.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

from oracle_vector_search_spark.io import at_rest, load_table
from oracle_vector_search_spark.scratch import scratch_dir

# µs-precision timestamps survive CSV only with an explicit format
_CSV_TS_FMT = "yyyy-MM-dd HH:mm:ss.SSSSSS"

EVENTS_CSV_SCHEMA = (
    "event_id long, ts_ns long, user_id long, event_type string, "
    "value double, props string, ts timestamp"
)


def events_via_orc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The events table round-tripped through ORC (written once per
    session, re-read thereafter)."""
    def build():
        path = os.path.join(scratch_dir("ovs_orc_"), "events")
        load_table(spark, sf_dir, "events").repartition(4).write.mode(
            "overwrite"
        ).orc(path)
        return path

    path = at_rest(spark, (events_via_orc, sf_dir), build)
    return spark.read.orc(path)


def events_via_csv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The events table round-tripped through CSV with explicit schema,
    µs timestamp format, and RFC-4180 quote-doubling (props is a JSON
    string full of quotes/commas — the adversarial CSV payload)."""
    def build():
        path = os.path.join(scratch_dir("ovs_csv_"), "events")
        (
            load_table(spark, sf_dir, "events")
            .repartition(4)
            .write.mode("overwrite")
            .option("header", "true")
            .option("quote", '"')
            .option("escape", '"')
            .option("timestampFormat", _CSV_TS_FMT)
            .csv(path)
        )
        return path

    path = at_rest(spark, (events_via_csv, sf_dir), build)
    return (
        spark.read.schema(EVENTS_CSV_SCHEMA)
        .option("header", "true")
        .option("quote", '"')
        .option("escape", '"')
        .option("timestampFormat", _CSV_TS_FMT)
        .csv(path)
    )


def events_via_xml(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The events table round-tripped through XML (Spark 4's built-in
    XML source). Same lossiness discipline as CSV: explicit schema and
    µs timestamp format on BOTH sides; XML entity-escaping of the JSON
    ``props`` payload (quotes, braces, ampersand-free but
    angle-bracket-adjacent text) is the adversarial part the checksum
    guards."""
    def build():
        path = os.path.join(scratch_dir("ovs_xml_"), "events")
        (
            load_table(spark, sf_dir, "events")
            .repartition(4)
            .write.mode("overwrite")
            .format("xml")
            .option("rootTag", "events")
            .option("rowTag", "event")
            .option("timestampFormat", _CSV_TS_FMT)
            .save(path)
        )
        return path

    path = at_rest(spark, (events_via_xml, sf_dir), build)
    return (
        spark.read.schema(EVENTS_CSV_SCHEMA)
        .format("xml")
        .option("rowTag", "event")
        .option("timestampFormat", _CSV_TS_FMT)
        .load(path)
    )
