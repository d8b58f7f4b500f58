"""Scale-tier join strategies, registered as oracle-checked queries.

Two join layouts that matter only at cluster scale but must still be
value-identical to the naive plan (the oracle checks they are):

- **Bucketed co-located join**: both fact tables written bucketed on
  the join key once per session, then joined with zero Exchange on
  either side. The 100 TB layout for repeatedly-joined facts — the
  per-query shuffle of both tables is replaced by one write-time
  shuffle amortized over every later join.
- **Salted skew join**: the left side salts its key into S sub-keys,
  the right side replicates S ways, so a hot key's rows spread over S
  tasks instead of one straggler. Results are salt-invariant, so the
  plain-join oracle checks it exactly.

Reference parity: Niobe96/Oracle_vector_search joins results to
metadata via a dict lookup (app.py:129-141) — single-node, no layout
choice exists. These are the distributed equivalents.
"""

from __future__ import annotations

import re
from oracle_vector_search_spark.scratch import scratch_dir

from pyspark.sql import DataFrame, SparkSession, Window, functions as F

from oracle_vector_search_spark.io import (
    at_rest,
    load_table,
    read_artifact,
    write_artifact,
)
from oracle_vector_search_spark.operators.bucketing import write_bucketed
from oracle_vector_search_spark.operators.skew import (
    profile_guided_salted_join,
    salted_join,
)
from oracle_vector_search_spark.operators.topk import top_k_per_group
from oracle_vector_search_spark.queries import register

_BUCKETS = 16


# Bucketed fact tables, once per session: (orders_table,
# lineitem_table) catalog names. Written once, joined many times — the
# point of bucketing.
def _bucketed_tables(spark: SparkSession, sf_dir: str) -> tuple[str, str]:
    def build():
        suffix = re.sub(r"\W+", "_", sf_dir).strip("_")
        ord_t, li_t = f"ovs_ord_b_{suffix}", f"ovs_li_b_{suffix}"
        orders = load_table(spark, sf_dir, "orders").select(
            "o_orderkey", "o_orderpriority"
        )
        li = load_table(spark, sf_dir, "lineitem").select(
            "l_orderkey", "l_quantity", "l_extendedprice", "l_discount"
        )
        write_bucketed(
            spark, orders, ord_t, "o_orderkey", buckets=_BUCKETS,
            path=scratch_dir("ovs_bucket_ord_"),
        )
        write_bucketed(
            spark, li, li_t, "l_orderkey", buckets=_BUCKETS,
            path=scratch_dir("ovs_bucket_li_"),
        )
        return ord_t, li_t

    return at_rest(spark, (_bucketed_tables, sf_dir), build)


_PRIORITY_REVENUE_SQL = """
SELECT o_orderpriority,
       CAST(count(*) AS BIGINT) AS line_count,
       CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty,
       CAST(sum(CAST(floor(l_extendedprice * (1 - l_discount) * 100)
                     AS BIGINT)) AS BIGINT) AS revenue_cents
FROM lineitem JOIN orders ON l_orderkey = o_orderkey
GROUP BY o_orderpriority
ORDER BY o_orderpriority
"""


@register("bucketed_colocated_join_revenue", _PRIORITY_REVENUE_SQL)
def bucketed_colocated_join_revenue(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Revenue per order priority off session-bucketed fact tables.

    Both sides are read from 16-bucket catalog tables bucketed+sorted
    on the order key, and the join is hinted to sort-merge: the
    physical plan has NO Exchange under the join (asserted by
    tests/test_scale_ops.py::test_bucketed_join_query_plan) — only the
    final small aggregate on o_orderpriority shuffles. Value-identical
    to the plain join, which is exactly what the oracle runs.
    """
    ord_t, li_t = _bucketed_tables(spark, sf_dir)
    orders = spark.table(ord_t)
    li = spark.table(li_t)
    joined = li.hint("merge").join(
        orders, li["l_orderkey"] == orders["o_orderkey"]
    )
    return (
        joined.groupBy("o_orderpriority")
        .agg(
            F.count("*").alias("line_count"),
            F.sum(F.col("l_quantity").cast("long")).alias("sum_qty"),
            F.sum(
                F.floor(
                    F.col("l_extendedprice")
                    * (F.lit(1.0) - F.col("l_discount"))
                    * 100
                ).cast("long")
            ).alias("revenue_cents"),
        )
        .orderBy("o_orderpriority")
    )


@register(
    "salted_skew_join_revenue",
    """
SELECT o.o_orderstatus,
       CAST(count(*) AS BIGINT) AS line_count,
       CAST(sum(CAST(floor(l.l_extendedprice * (1 - l.l_discount) * 100)
                     AS BIGINT)) AS BIGINT) AS revenue_cents
FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
GROUP BY o.o_orderstatus
ORDER BY o.o_orderstatus
""",
)
def salted_skew_join_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lineitem⋈orders with the left side salted 8 ways on the join
    key — the straggler-killer for skewed keys (one hot order's lines
    spread across 8 tasks; the small side replicates 8×, still far
    below broadcast size). The join output is salt-invariant, so the
    plain-join oracle hash-matches it exactly.

    At 100 TB this is the manual fallback when AQE's skew-join split
    (enabled in session.py) can't help — e.g. a hot key inside a
    single unsplittable shuffle block.
    """
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_linenumber", "l_extendedprice", "l_discount"
    )
    orders = load_table(spark, sf_dir, "orders").select(
        F.col("o_orderkey").alias("l_orderkey"), "o_orderstatus"
    )
    joined = salted_join(
        li, orders, "l_orderkey", salt_buckets=8, salt_on="l_linenumber"
    )
    return (
        joined.groupBy("o_orderstatus")
        .agg(
            F.count("*").alias("line_count"),
            F.sum(
                F.floor(
                    F.col("l_extendedprice")
                    * (F.lit(1.0) - F.col("l_discount"))
                    * 100
                ).cast("long")
            ).alias("revenue_cents"),
        )
        .orderBy("o_orderstatus")
    )


def skew_profile_table(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """The events⋈orders user_id skew profile AT REST: written once per
    session (the nightly-ingest stand-in; refresh on upsert like the
    LSH bucket tables in index_maint), then every profile-guided join
    reads ≤20 rows of parquet instead of re-scanning both fact tables."""
    from oracle_vector_search_spark.operators.skew import key_profile
    from oracle_vector_search_spark.scratch import scratch_dir

    def build():
        ev = load_table(spark, sf_dir, "events").select("user_id")
        orders = load_table(spark, sf_dir, "orders").select(
            F.col("o_custkey").alias("user_id")
        )
        path = scratch_dir("ovs_skew_profile_")
        write_artifact(key_profile(ev, orders, "user_id", top_n=20), path)
        return path

    path = at_rest(spark, (skew_profile_table, sf_dir), build)
    return read_artifact(spark, path)


@register(
    "key_profile_at_rest",
    """
WITH lc AS (
  SELECT user_id, CAST(count(*) AS BIGINT) AS n_left
  FROM events GROUP BY user_id
), rc AS (
  SELECT o_custkey AS user_id, CAST(count(*) AS BIGINT) AS n_right
  FROM orders GROUP BY o_custkey
), sides AS (
  SELECT COALESCE(lc.user_id, rc.user_id) AS user_id,
         COALESCE(n_left, 0) AS n_left,
         COALESCE(n_right, 0) AS n_right
  FROM lc FULL OUTER JOIN rc ON lc.user_id = rc.user_id
), tot AS (
  SELECT CAST(sum(n_left) AS BIGINT) AS t_left,
         CAST(sum(CASE WHEN n_left > 0 THEN 1 ELSE 0 END) AS BIGINT)
           AS k_left,
         CAST(sum(n_right) AS BIGINT) AS t_right,
         CAST(sum(CASE WHEN n_right > 0 THEN 1 ELSE 0 END) AS BIGINT)
           AS k_right
  FROM sides
)
SELECT b.user_id, b.n_left, b.n_right,
       t.t_left, t.k_left, t.t_right, t.k_right
FROM sides b CROSS JOIN tot t
ORDER BY greatest(b.n_left, b.n_right) DESC, b.user_id
LIMIT 20
""",
)
def key_profile_at_rest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The WRITTEN two-sided skew-profile table itself (VERDICT r4 #4),
    read back from parquet and oracle-checked row-for-row: top-20
    events⋈orders user_id candidates by max per-side count, with both
    sides' totals. This is the metadata-sized table every
    profile-guided join reads instead of re-scanning the fact tables —
    verifying it at rest verifies the fast path's input."""
    return skew_profile_table(spark, sf_dir).orderBy(
        F.desc(F.greatest("n_left", "n_right")), "user_id"
    )


@register(
    "profile_guided_skew_join_spend",
    """
SELECT e.event_type,
       CAST(count(*) AS BIGINT) AS n_pairs,
       CAST(sum(CAST(floor(o.o_totalprice * 100) AS BIGINT)) AS BIGINT)
         AS spend_cents
FROM events e JOIN orders o ON o.o_custkey = e.user_id
GROUP BY e.event_type
ORDER BY e.event_type
""",
)
def profile_guided_skew_join_spend(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """The skew profiler feeding an actual mitigation: events⋈orders on
    the skewed user_id key via ``profile_guided_salted_join`` — the
    AT-REST ``key_profile`` table (written once per session, metadata
    sized) detects the hot keys, ONLY those are salted (right side
    replicated ×8 for hot keys alone), the cold rest takes the plain
    equi-join. Salt- and split-invariant, so the plain-join oracle
    hash-matches exactly.

    vs ``salted_skew_join_revenue`` (blanket salting): replication cost
    here is proportional to the hot keys' rows, not the whole right
    side — and the profiling scan is amortized into ingest, not paid
    per query. The shape that survives a 100 TB right side."""
    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "user_id", "event_type"
    )
    orders = load_table(spark, sf_dir, "orders").select(
        F.col("o_custkey").alias("user_id"), "o_totalprice"
    )
    joined = profile_guided_salted_join(
        ev, orders, "user_id", top_n=20, skew_mult=2.0,
        salt_buckets=8, salt_on="event_id",
        profile=skew_profile_table(spark, sf_dir),
    )
    return (
        joined.groupBy("event_type")
        .agg(
            F.count("*").alias("n_pairs"),
            F.sum(
                F.floor(F.col("o_totalprice") * 100).cast("long")
            ).alias("spend_cents"),
        )
        .orderBy("event_type")
    )


# 2024-01-16 00:00:00 UTC in epoch micros — mid-range of the events
# fixture (2024-01-01 .. 2024-01-30), so both halves are non-trivial.
_UPSERT_CUT_US = 1_705_363_200_000_000


@register(
    "events_upsert_snapshot",
    f"""
WITH e AS (
  SELECT user_id, epoch_ns(ts) // 1000 AS ts_us, event_id, event_type,
         CAST(floor(value * 100) AS BIGINT) AS value_cents
  FROM events
),
r AS (
  SELECT *, row_number() OVER (PARTITION BY user_id
                               ORDER BY ts_us DESC, event_id DESC) AS rn
  FROM e
)
SELECT user_id, ts_us AS last_ts_us, event_id AS last_event_id,
       event_type AS last_event_type, value_cents AS last_value_cents
FROM r WHERE rn = 1
ORDER BY user_id
""",
)
def events_upsert_snapshot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental CDC materialization: a per-user snapshot built from
    events before a cutoff, merged (latest-record-wins upsert) with the
    raw events after it. The merged result must equal the snapshot a
    full rebuild over all events would produce — which is exactly what
    the oracle computes — so the merge operator itself is what's being
    value-checked.

    Scale shape: the snapshot side is one row per key; the update side
    is the new batch; merge_upsert shuffles once on user_id. This is
    the build-once/update-incrementally path the written index tables
    (ingest.write_index_table) use instead of full rebuilds.
    """
    from oracle_vector_search_spark.operators.merge import merge_upsert

    e = load_table(spark, sf_dir, "events").select(
        "user_id",
        F.expr("ts_ns div 1000").alias("ts_us"),
        "event_id",
        "event_type",
        F.floor(F.col("value") * 100).cast("long").alias("value_cents"),
    )
    old = e.filter(F.col("ts_us") < _UPSERT_CUT_US)
    updates = e.filter(F.col("ts_us") >= _UPSERT_CUT_US)
    base = top_k_per_group(
        old, ["user_id"], 1, F.desc("ts_us"), F.desc("event_id")
    ).drop("rank")
    merged = merge_upsert(
        base, updates, keys=["user_id"], order_cols=["ts_us", "event_id"]
    )
    return merged.select(
        "user_id",
        F.col("ts_us").alias("last_ts_us"),
        F.col("event_id").alias("last_event_id"),
        F.col("event_type").alias("last_event_type"),
        F.col("value_cents").alias("last_value_cents"),
    ).orderBy("user_id")


@register(
    "hourly_agg_partial_merge",
    """
WITH e AS (
  SELECT (epoch_ns(ts) // 1000 // 3600000000) AS hour_id,
         CAST(floor(value * 100) AS BIGINT) AS value_cents
  FROM events
)
SELECT hour_id,
       CAST(count(*) AS BIGINT) AS n_events,
       CAST(sum(value_cents) AS BIGINT) AS sum_value_cents
FROM e
GROUP BY hour_id
ORDER BY hour_id
""",
)
def hourly_agg_partial_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Continuous-aggregate maintenance: an hourly rollup kept fresh by
    MERGING partial aggregates — the precomputed rollup of events
    before the cutoff unions with a fresh rollup of the new batch, and
    (count, sum) re-aggregate by summation. The cutoff falls mid-hour
    on purpose: that hour has partials on both sides and only a
    correct merge reproduces the full-history rollup the oracle
    computes.

    This works because count/sum are commutative monoids — the same
    property Spark's own partial/final HashAggregate exploits. At
    100 TB the old rollup is an at-rest table ~5 orders of magnitude
    smaller than the history; each refresh touches the new batch plus
    one table whose size is the number of hours.
    """
    e = load_table(spark, sf_dir, "events").select(
        F.expr("ts_ns div 1000 div 3600000000").alias("hour_id"),
        F.expr("ts_ns div 1000").alias("ts_us"),
        F.floor(F.col("value") * 100).cast("long").alias("value_cents"),
    )

    def rollup(df: DataFrame) -> DataFrame:
        return df.groupBy("hour_id").agg(
            F.count("*").alias("n_events"),
            F.sum("value_cents").alias("sum_value_cents"),
        )

    old = rollup(e.filter(F.col("ts_us") < _UPSERT_CUT_US + 1_800_000_000))
    new = rollup(e.filter(F.col("ts_us") >= _UPSERT_CUT_US + 1_800_000_000))
    return (
        old.unionByName(new)
        .groupBy("hour_id")
        .agg(
            F.sum("n_events").alias("n_events"),
            F.sum("sum_value_cents").alias("sum_value_cents"),
        )
        .orderBy("hour_id")
    )


@register(
    "bloom_prefiltered_urgent_revenue",
    """
SELECT l_returnflag,
       CAST(count(*) AS BIGINT) AS line_count,
       CAST(sum(CAST(floor(l_extendedprice * (1 - l_discount) * 100)
                     AS BIGINT)) AS BIGINT) AS revenue_cents
FROM lineitem JOIN orders ON l_orderkey = o_orderkey
WHERE o_orderpriority = '1-URGENT'
GROUP BY l_returnflag
ORDER BY l_returnflag
""",
)
def bloom_prefiltered_urgent_revenue(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Revenue of lineitems belonging to urgent orders, with the fact
    side Bloom-prefiltered by the urgent keys BEFORE its shuffle: the
    bitmask (8 KiB) probes inside the lineitem scan, so ~80% of rows
    drop in the scan stage and the join shuffles only plausible
    matches; the join itself then removes the Bloom's false
    positives, making the result exact — the plain-join oracle
    hash-checks it. The manual twin of Spark's runtime bloomFilter
    rewrite (which the toy fixture's cost model never triggers).
    """
    from oracle_vector_search_spark.operators.bloom import (
        bloom_might_contain,
        build_bloom,
    )

    urgent = (
        load_table(spark, sf_dir, "orders")
        .filter(F.col("o_orderpriority") == "1-URGENT")
        .select("o_orderkey")
    )
    words = build_bloom(urgent, "o_orderkey")
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_returnflag", "l_extendedprice", "l_discount"
    )
    prefiltered = li.filter(bloom_might_contain(F.col("l_orderkey"), words))
    joined = prefiltered.join(
        F.broadcast(urgent), prefiltered["l_orderkey"] == urgent["o_orderkey"]
    )
    return (
        joined.groupBy("l_returnflag")
        .agg(
            F.count("*").alias("line_count"),
            F.sum(
                F.floor(
                    F.col("l_extendedprice")
                    * (F.lit(1.0) - F.col("l_discount"))
                    * 100
                ).cast("long")
            ).alias("revenue_cents"),
        )
        .orderBy("l_returnflag")
    )


# ---------------------------------------------------------------------------
# Small-file compaction (operators/compaction.py). Streaming sinks and
# incremental merges fragment tables; compaction rewrites them into few
# near-target-size files with content untouched. The scenario fragments
# events into 64 small files (a streaming sink's output), compacts to a
# handful of range-clustered files, and checksums the result — the
# oracle runs the same checksum on the PRISTINE events table, so any
# row lost, duplicated or mutated by the rewrite hash-mismatches.
# File-count/size mechanics are pinned in tests/test_compaction.py.

def _compacted_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    from oracle_vector_search_spark.operators import compaction

    def build():
        frag = scratch_dir("ovs_events_frag_")
        dest = scratch_dir("ovs_events_compact_")
        events = load_table(spark, sf_dir, "events").select(
            "event_id", "user_id", "event_type", "value", "ts_ns"
        )
        # simulate a streaming sink's fragmentation: 64 tiny files
        events.repartition(64).write.mode("overwrite").parquet(frag)
        total = compaction.parquet_bytes(frag)
        compaction.compact_parquet(
            spark,
            frag,
            dest,
            # local-scale stand-in for the 128 MiB production target:
            # aim for ~4 files so the 64→4 collapse is observable
            target_file_bytes=max(1, total // 4),
            sort_cols=["event_id"],
        )
        return dest

    dest = at_rest(spark, (_compacted_events, sf_dir), build)
    return spark.read.parquet(dest)


@register(
    "compacted_events_checksum",
    """
SELECT event_type,
       CAST(count(*) AS BIGINT) AS n_events,
       CAST(sum(event_id) AS BIGINT) AS id_sum,
       CAST(sum(user_id) AS BIGINT) AS user_sum,
       CAST(sum(CAST(floor(value * 100) AS BIGINT)) AS BIGINT)
         AS value_cents_sum,
       CAST(min(epoch_us(ts)) AS BIGINT) AS min_ts_us,
       CAST(max(epoch_us(ts)) AS BIGINT) AS max_ts_us
FROM events
GROUP BY event_type
ORDER BY event_type
""",
)
def compacted_events_checksum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Content checksum of the fragmented-then-compacted events table,
    oracle-compared against the pristine source: compaction preserved
    every row, column and value. The compacted files are range-
    clustered on event_id so zone maps stay selective."""
    t = _compacted_events(spark, sf_dir)
    return (
        t.groupBy("event_type")
        .agg(
            F.count("*").alias("n_events"),
            F.sum("event_id").alias("id_sum"),
            F.sum("user_id").alias("user_sum"),
            F.sum(F.floor(F.col("value") * 100).cast("long")).alias(
                "value_cents_sum"
            ),
            F.min(F.expr("ts_ns div 1000")).alias("min_ts_us"),
            F.max(F.expr("ts_ns div 1000")).alias("max_ts_us"),
        )
        .orderBy("event_type")
    )


@register(
    "key_skew_profile",
    """
WITH counts AS (
  SELECT user_id, CAST(count(*) AS BIGINT) AS n_rows
  FROM events GROUP BY user_id
),
tot AS (
  SELECT CAST(sum(n_rows) AS BIGINT) AS t,
         CAST(count(*) AS BIGINT) AS k
  FROM counts
)
SELECT user_id, n_rows,
       round(n_rows * 100.0 / t, 6) AS share_pct,
       round(n_rows * k * 1.0 / t, 6) AS skew_factor,
       CAST(rn AS INTEGER) AS rank
FROM (SELECT c.user_id, c.n_rows, tot.t, tot.k,
             row_number() OVER (ORDER BY c.n_rows DESC, c.user_id) AS rn
      FROM counts c CROSS JOIN tot) r
WHERE rn <= 5
ORDER BY rank
""",
)
def key_skew_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Join-key skew diagnostics: the 5 heaviest events.user_id keys
    with their row share and skew factor (key rows ÷ mean rows/key) —
    the telemetry that decides whether a join needs salting
    (operators/skew.py) or AQE skew splitting. One partial-agg shuffle
    on the key plus a broadcast of the 2-value total; the per-key
    count table never leaves the cluster."""
    from oracle_vector_search_spark.operators.topk import global_topn_ranked

    e = load_table(spark, sf_dir, "events")
    counts = e.groupBy("user_id").agg(F.count("*").alias("n_rows"))
    tot = counts.agg(
        F.sum("n_rows").alias("t"), F.count("*").alias("k")
    )
    top = global_topn_ranked(counts, 5, F.desc("n_rows"), F.asc("user_id"))
    return (
        top.crossJoin(F.broadcast(tot))
        .select(
            "user_id",
            "n_rows",
            F.round(F.col("n_rows") * 100.0 / F.col("t"), 6).alias(
                "share_pct"
            ),
            F.round(
                F.col("n_rows") * F.col("k") * 1.0 / F.col("t"), 6
            ).alias("skew_factor"),
            "rank",
        )
        .orderBy("rank")
    )


@register(
    "zorder_layout_stats",
    (lambda duck_z: f"""
WITH d AS (
  SELECT event_id,
         user_id & 65535 AS ux,
         greatest(CAST(epoch_us(ts) // 3600000000 AS BIGINT)
                  - 473352, 0) & 65535 AS tx
  FROM events
),
z AS (SELECT event_id, ux, tx, {duck_z} AS zv FROM d)
SELECT CAST(zv >> 12 AS BIGINT) AS z_bucket,
       CAST(count(*) AS BIGINT) AS n_rows,
       CAST(min(ux) AS BIGINT) AS min_ux,
       CAST(max(ux) AS BIGINT) AS max_ux,
       CAST(min(tx) AS BIGINT) AS min_tx,
       CAST(max(tx) AS BIGINT) AS max_tx,
       CAST(sum(event_id) AS BIGINT) AS id_checksum
FROM z
GROUP BY z_bucket
ORDER BY z_bucket
""")(__import__(
        "oracle_vector_search_spark.operators.zorder",
        fromlist=["duck_z_value"],
    ).duck_z_value("ux", "tx")),
)
def zorder_layout_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-order clustering audit: events Morton-coded on
    (user_id, event-hour), aggregated per z-bucket (the 64-ish
    file-sized cells a ZORDER rewrite would range-partition into).
    Each bucket's bounded (user, hour) rectangle is what makes BOTH
    columns' zone maps selective after the rewrite — min/max per
    bucket IS the pruning metadata a scan would use. The code is a
    pure unrolled bit expression (operators/zorder.py), checked bit
    for bit by the oracle; the file-level layout mechanics (compaction
    with sort_cols=[z], per-file bounding boxes) are pinned in
    tests/test_zorder.py."""
    from oracle_vector_search_spark.operators.zorder import z_value

    e = load_table(spark, sf_dir, "events")
    d = e.select(
        "event_id",
        F.col("user_id").bitwiseAND(F.lit(65535)).alias("ux"),
        F.greatest(
            F.expr("ts_ns div 1000 div 3600000000") - F.lit(473352),
            F.lit(0),
        )
        .bitwiseAND(F.lit(65535))
        .alias("tx"),
    )
    z = d.withColumn("zv", z_value(F.col("ux"), F.col("tx")))
    return (
        z.groupBy(
            F.shiftright("zv", 12).cast("long").alias("z_bucket")
        )
        .agg(
            F.count("*").alias("n_rows"),
            F.min("ux").alias("min_ux"),
            F.max("ux").alias("max_ux"),
            F.min("tx").alias("min_tx"),
            F.max("tx").alias("max_tx"),
            F.sum("event_id").alias("id_checksum"),
        )
        .orderBy("z_bucket")
    )


# ------------------------------------------ dynamic partition pruning
# Events written partitioned by event_type at rest — the layout that
# lets a selective dimension-side filter prune fact partitions at
# RUNTIME (Spark inserts a DynamicPruning subquery into the scan).
def _dpp_events_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    def build():
        path = scratch_dir("ovs_dpp_events_")
        write_artifact(
            load_table(spark, sf_dir, "events").select(
                "event_id",
                "user_id",
                F.floor(F.col("value") * 100).cast("long").alias("cents"),
                "event_type",
            ),
            path,
            partition_by=["event_type"],
        )
        return path

    path = at_rest(spark, (_dpp_events_table, sf_dir), build)
    return read_artifact(spark, path)


@register(
    "dpp_pruned_event_revenue",
    """
WITH dim AS (
  SELECT event_type, CAST(count(*) AS BIGINT) AS n_type
  FROM events GROUP BY event_type
), seldim AS (
  SELECT event_type, n_type FROM dim
  WHERE CAST(('0x' || substr(md5(event_type), 1, 7)) AS BIGINT) % 2 = 0
)
SELECT e.event_type, s.n_type,
       CAST(count(*) AS BIGINT) AS n_events,
       CAST(sum(CAST(floor(e.value * 100) AS BIGINT)) AS BIGINT)
         AS sum_cents
FROM events e JOIN seldim s USING (event_type)
GROUP BY e.event_type, s.n_type
ORDER BY e.event_type
""",
)
def dpp_pruned_event_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dynamic partition pruning end-to-end: the fact table lives at
    rest PARTITIONED BY event_type; the dimension side carries a
    selective filter Catalyst cannot push statically (md5-hash parity
    — portable, so the oracle replays it), so Spark injects a
    DynamicPruning subquery into the fact scan and the join reads ONLY
    the surviving partition directories at runtime. The plan is
    asserted in tests/test_plans.py; at 100 TB this is the difference
    between scanning 2/5 of the fact and scanning all of it.

    The one-time partitioned write is the session's at-rest build (the
    LSH-bucket pattern); the oracle computes the same join from the
    raw table — partition layout never changes results."""
    fact = _dpp_events_table(spark, sf_dir)
    dim = (
        load_table(spark, sf_dir, "events")
        .groupBy("event_type")
        .agg(F.count("*").alias("n_type"))
        .filter(
            F.expr(
                "cast(conv(substr(md5(event_type), 1, 7), 16, 10) "
                "as bigint) % 2 = 0"
            )
        )
    )
    return (
        fact.join(dim, "event_type")
        .groupBy("event_type", "n_type")
        .agg(
            F.count("*").alias("n_events"),
            F.sum("cents").alias("sum_cents"),
        )
        .select("event_type", "n_type", "n_events", "sum_cents")
        .orderBy("event_type")
    )


_TPM_BUCKETS = 256  # pass-1 histogram resolution


@register(
    "two_pass_exact_median",
    """
WITH e AS (
  SELECT event_type, CAST(floor(value * 100) AS BIGINT) AS c
  FROM events
), r AS (
  SELECT event_type, c,
         CAST(row_number() OVER (
           PARTITION BY event_type ORDER BY c
         ) AS BIGINT) AS rk,
         CAST(count(*) OVER (PARTITION BY event_type) AS BIGINT) AS n
  FROM e
)
SELECT event_type,
       CAST(max(n) AS BIGINT) AS n,
       CAST(max(CASE WHEN rk = (n + 1) // 2 THEN c END) AS BIGINT)
         AS median_cents
FROM r GROUP BY event_type
""",
)
def two_pass_exact_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT median with NO global sort — the 100 TB quantile recipe:
    pass 1 builds a 256-bucket equi-width histogram per group and a
    cumulative walk locates the bucket holding rank ⌈n/2⌉; pass 2
    ranks ONLY the rows inside that one bucket. The oracle states the
    naive full-rank form; the two-pass result is mathematically
    identical (the lower median of a multiset does not depend on how
    it is found).

    Scale shape: pass 1 is a map-side-combined (type, bucket) count —
    bounded keys; pass 2 filters to ~1/256 of each group's rows before
    the only per-row window. At 100 TB: two scans, no shuffle larger
    than the histogram, the second scan skipping ~99.6% of rows.
    """
    ev = load_table(spark, sf_dir, "events").select(
        "event_type",
        F.floor(F.col("value") * 100).cast("long").alias("c"),
    )
    bounds = ev.groupBy("event_type").agg(
        F.min("c").alias("mn"),
        F.max("c").alias("mx"),
        F.count(F.lit(1)).alias("n"),
    )
    bucket = F.least(
        F.lit(_TPM_BUCKETS - 1),
        F.greatest(
            F.lit(0),
            F.expr(f"(c - mn) * {_TPM_BUCKETS} div (mx - mn + 1)"),
        ),
    )
    hist = (
        ev.join(F.broadcast(bounds), "event_type")
        .select("event_type", bucket.alias("b"))
        .groupBy("event_type", "b")
        .agg(F.count(F.lit(1)).alias("k"))
    )
    w_cum = (
        Window.partitionBy("event_type")
        .orderBy("b")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    located = (
        hist.join(F.broadcast(bounds.select("event_type", "n")), "event_type")
        .withColumn(
            "below", F.coalesce(F.sum("k").over(w_cum), F.lit(0))
        )
        .filter(
            (F.col("below") < F.expr("(n + 1) div 2"))
            & (
                F.col("below") + F.col("k")
                >= F.expr("(n + 1) div 2")
            )
        )
        .select(
            "event_type",
            F.col("b").alias("tb"),
            (F.expr("(n + 1) div 2") - F.col("below")).alias(
                "rank_in_bucket"
            ),
            "n",
        )
    )
    w_in = Window.partitionBy("event_type").orderBy("c")
    pass2 = (
        ev.join(F.broadcast(bounds.select("event_type", "mn", "mx")), "event_type")
        .join(F.broadcast(located), "event_type")
        .filter(bucket == F.col("tb"))
        .withColumn("rk", F.row_number().over(w_in))
        .filter(F.col("rk") == F.col("rank_in_bucket"))
    )
    return pass2.select(
        "event_type",
        F.col("n").cast("bigint").alias("n"),
        F.col("c").cast("bigint").alias("median_cents"),
    )


@register(
    "join_size_estimate_audit",
    """
WITH a AS (
  SELECT o_custkey AS k, CAST(count(*) AS BIGINT) AS ca
  FROM orders GROUP BY o_custkey
), b AS (
  SELECT user_id AS k, CAST(count(*) AS BIGINT) AS cb
  FROM events GROUP BY user_id
), pred AS (
  SELECT CAST(sum(a.ca * b.cb) AS BIGINT) AS predicted_rows,
         CAST(count(*) AS BIGINT) AS n_shared_keys
  FROM a JOIN b ON b.k = a.k
), act AS (
  SELECT CAST(count(*) AS BIGINT) AS actual_rows
  FROM orders o JOIN events e ON e.user_id = o.o_custkey
)
SELECT pred.n_shared_keys, pred.predicted_rows, act.actual_rows,
       CAST(pred.predicted_rows = act.actual_rows AS BOOLEAN)
         AS estimate_exact
FROM pred CROSS JOIN act
""",
)
def join_size_estimate_audit(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Join-size estimation from per-key count histograms — the
    optimizer statistic behind join reordering: |A⋈B| = Σ_k
    cnt_A(k)·cnt_B(k), computed WITHOUT executing the wide join (the
    count tables join on keys only). The audit runs the real join and
    checks equality — with full histograms the estimate is exact, and
    the query documents the sketch tier (HLL/CMS per key range) that
    replaces full histograms at 100 TB.

    Scale shape: two count-only aggregations + a key-sized join for
    the estimate; the fact-fact join exists here ONLY as the audit.
    """
    orders = load_table(spark, sf_dir, "orders")
    ev = load_table(spark, sf_dir, "events")
    a = orders.groupBy(F.col("o_custkey").alias("k")).agg(
        F.count(F.lit(1)).alias("ca")
    )
    b = ev.groupBy(F.col("user_id").alias("k")).agg(
        F.count(F.lit(1)).alias("cb")
    )
    pred = a.join(b, "k").agg(
        F.sum(F.col("ca") * F.col("cb"))
        .cast("bigint")
        .alias("predicted_rows"),
        F.count(F.lit(1)).alias("n_shared_keys"),
    )
    act = (
        orders.join(ev, orders.o_custkey == ev.user_id)
        .agg(F.count(F.lit(1)).alias("actual_rows"))
    )
    return pred.crossJoin(F.broadcast(act)).select(
        "n_shared_keys",
        "predicted_rows",
        "actual_rows",
        (F.col("predicted_rows") == F.col("actual_rows")).alias(
            "estimate_exact"
        ),
    )
