"""Dataset audit operators: constraint validation, snapshot diff,
reshape (unpivot).

A training-data pipeline ships datasets, and shipping needs gates: a
Deequ-style constraint audit (nulls, uniqueness, ranges, referential
integrity) that runs as a handful of column-pruned aggregates; a
snapshot diff that classifies every key as insert/update/unchanged
between two dataset versions; and measure unpivoting for
metric-per-row exports. All pure DataFrame compositions with exact
DuckDB oracles.

Reference parity: the reference validates nothing — a missing label
file or duplicate id silently skews its index
(build_faiss_db.py:138-186 drops unreadable inputs without counting
them). The audit table is the distributed engine's answer.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window, functions as F

from oracle_vector_search_spark.functions import text as T
from oracle_vector_search_spark.io import load_table
from oracle_vector_search_spark.plans.ckpt import pin
from oracle_vector_search_spark.queries import register

# Snapshot-diff cutoff — same mid-range instant the upsert query uses.
from oracle_vector_search_spark.queries.scale_queries import _UPSERT_CUT_US


@register(
    "dataset_constraint_audit",
    """
SELECT 'customer_key_unique' AS check_name,
       CAST(count(*) AS BIGINT) AS n_checked,
       CAST(count(*) - count(DISTINCT c_custkey) AS BIGINT) AS n_violations
FROM customer
UNION ALL
SELECT 'lineitem_discount_in_range',
       CAST(count(*) AS BIGINT),
       CAST(sum(CASE WHEN l_discount < 0 OR l_discount > 1
                     THEN 1 ELSE 0 END) AS BIGINT)
FROM lineitem
UNION ALL
SELECT 'lineitem_orderkey_resolves',
       CAST(count(*) AS BIGINT),
       CAST(sum(CASE WHEN o_orderkey IS NULL THEN 1 ELSE 0 END) AS BIGINT)
FROM lineitem LEFT JOIN orders ON l_orderkey = o_orderkey
UNION ALL
SELECT 'lineitem_quantity_positive',
       CAST(count(*) AS BIGINT),
       CAST(sum(CASE WHEN l_quantity <= 0 THEN 1 ELSE 0 END) AS BIGINT)
FROM lineitem
UNION ALL
SELECT 'lineitem_shipdate_not_null',
       CAST(count(*) AS BIGINT),
       CAST(sum(CASE WHEN l_shipdate IS NULL THEN 1 ELSE 0 END) AS BIGINT)
FROM lineitem
UNION ALL
SELECT 'orders_custkey_resolves',
       CAST(count(*) AS BIGINT),
       CAST(sum(CASE WHEN c_custkey IS NULL THEN 1 ELSE 0 END) AS BIGINT)
FROM orders LEFT JOIN customer ON o_custkey = c_custkey
ORDER BY check_name
""",
)
def dataset_constraint_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Release-gate audit table: one row per constraint with checked /
    violation counts. Uniqueness and range checks are single
    column-pruned aggregates; referential checks are left joins
    counting unresolved keys (the dim side broadcasts). At 100 TB
    each check stays a scan-local aggregate — the whole audit is a
    handful of map-side-combined passes, no wide row ever shuffles.
    """
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")

    def check(name: str, df: DataFrame, violation: F.Column) -> DataFrame:
        return df.agg(
            F.lit(name).alias("check_name"),
            F.count("*").alias("n_checked"),
            F.sum(F.when(violation, 1).otherwise(0)).alias("n_violations"),
        )

    uniq = cust.agg(
        F.lit("customer_key_unique").alias("check_name"),
        F.count("*").alias("n_checked"),
        (F.count("*") - F.countDistinct("c_custkey")).alias("n_violations"),
    )
    checks = [
        uniq,
        check(
            "lineitem_discount_in_range",
            li,
            (F.col("l_discount") < 0) | (F.col("l_discount") > 1),
        ),
        check(
            "lineitem_orderkey_resolves",
            li.join(
                F.broadcast(orders.select("o_orderkey")),
                li["l_orderkey"] == F.col("o_orderkey"),
                "left",
            ),
            F.col("o_orderkey").isNull(),
        ),
        check("lineitem_quantity_positive", li, F.col("l_quantity") <= 0),
        check(
            "lineitem_shipdate_not_null", li, F.col("l_shipdate").isNull()
        ),
        check(
            "orders_custkey_resolves",
            orders.join(
                F.broadcast(cust.select("c_custkey")),
                orders["o_custkey"] == F.col("c_custkey"),
                "left",
            ),
            F.col("c_custkey").isNull(),
        ),
    ]
    out = checks[0]
    for c in checks[1:]:
        out = out.unionByName(c)
    return out.orderBy("check_name")


@register(
    "snapshot_diff_users",
    f"""
WITH e AS (
  SELECT user_id, epoch_ns(ts) // 1000 AS ts_us, event_id
  FROM events
),
old AS (
  SELECT user_id, event_id AS old_event_id FROM (
    SELECT user_id, event_id,
           row_number() OVER (PARTITION BY user_id
                              ORDER BY ts_us DESC, event_id DESC) AS rn
    FROM e WHERE ts_us < {_UPSERT_CUT_US}
  ) WHERE rn = 1
),
new AS (
  SELECT user_id, event_id AS new_event_id FROM (
    SELECT user_id, event_id,
           row_number() OVER (PARTITION BY user_id
                              ORDER BY ts_us DESC, event_id DESC) AS rn
    FROM e
  ) WHERE rn = 1
)
SELECT coalesce(o.user_id, n.user_id) AS user_id,
       CASE WHEN o.user_id IS NULL THEN 'insert'
            WHEN o.old_event_id <> n.new_event_id THEN 'update'
            ELSE 'unchanged' END AS change_type,
       o.old_event_id, n.new_event_id
FROM old o FULL OUTER JOIN new n ON o.user_id = n.user_id
ORDER BY user_id
""",
)
def snapshot_diff_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Diff two dataset versions (per-user snapshot before the cutoff
    vs. over all events): every key classified insert / update /
    unchanged, with both versions' provenance ids. The
    dataset-versioning complement to `events_upsert_snapshot` — at
    100 TB both snapshots are at-rest tables and the diff is one full
    outer join on the key (nothing here scales with history length).
    Deletes can't occur in an append-only event stream, so the
    'delete' branch is structurally absent rather than untested.
    """
    from pyspark.sql import Window

    e = load_table(spark, sf_dir, "events").select(
        "user_id", F.expr("ts_ns div 1000").alias("ts_us"), "event_id"
    )
    w = Window.partitionBy("user_id").orderBy(
        F.desc("ts_us"), F.desc("event_id")
    )

    def snap(df: DataFrame, out_col: str) -> DataFrame:
        return (
            df.withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") == 1)
            .select("user_id", F.col("event_id").alias(out_col))
        )

    old = snap(e.filter(F.col("ts_us") < _UPSERT_CUT_US), "old_event_id")
    new = snap(e, "new_event_id")
    j = old.join(new, "user_id", "full_outer")
    return j.select(
        "user_id",
        F.when(F.col("old_event_id").isNull(), "insert")
        .when(F.col("old_event_id") != F.col("new_event_id"), "update")
        .otherwise("unchanged")
        .alias("change_type"),
        "old_event_id",
        "new_event_id",
    ).orderBy("user_id")


@register(
    "unpivot_pricing_measures",
    """
WITH agg AS (
  SELECT l_returnflag,
         CAST(sum(CAST(floor(l_extendedprice * 100) AS BIGINT)) AS BIGINT)
           AS base_cents,
         CAST(sum(CAST(floor(l_extendedprice * (1 - l_discount) * 100)
                       AS BIGINT)) AS BIGINT) AS disc_cents,
         CAST(sum(CAST(floor(l_extendedprice * (1 - l_discount)
                             * (1 + l_tax) * 100) AS BIGINT)) AS BIGINT)
           AS charge_cents
  FROM lineitem GROUP BY l_returnflag
)
SELECT l_returnflag, measure, value_cents FROM (
  SELECT l_returnflag, 'base_cents' AS measure, base_cents AS value_cents
  FROM agg
  UNION ALL
  SELECT l_returnflag, 'disc_cents', disc_cents FROM agg
  UNION ALL
  SELECT l_returnflag, 'charge_cents', charge_cents FROM agg
)
ORDER BY l_returnflag, measure
""",
)
def unpivot_pricing_measures(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Melt (unpivot): the three pricing aggregates reshaped to one
    metric per row — the export shape metric stores and long-format
    training logs want. Uses the native ``DataFrame.unpivot`` (Spark's
    UNPIVOT/stack — a zero-shuffle projection over the 3-row-per-group
    aggregate), the inverse of `orderstatus_pivot`."""
    li = load_table(spark, sf_dir, "lineitem")

    def cents(expr: F.Column) -> F.Column:
        return F.sum(F.floor(expr * 100).cast("long"))

    agg = li.groupBy("l_returnflag").agg(
        cents(F.col("l_extendedprice")).alias("base_cents"),
        cents(
            F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount"))
        ).alias("disc_cents"),
        cents(
            F.col("l_extendedprice")
            * (F.lit(1.0) - F.col("l_discount"))
            * (F.lit(1.0) + F.col("l_tax"))
        ).alias("charge_cents"),
    )
    return agg.unpivot(
        ["l_returnflag"],
        ["base_cents", "disc_cents", "charge_cents"],
        "measure",
        "value_cents",
    ).orderBy("l_returnflag", "measure")


@register(
    "feature_correlation_exact",
    """
WITH b AS (
  SELECT CAST(floor(l_quantity) AS BIGINT) AS q,
         CAST(floor(l_extendedprice * 100) AS BIGINT) AS p,
         CAST(floor(l_discount * 100) AS BIGINT) AS d
  FROM lineitem
),
m AS (
  SELECT CAST(count(*) AS DOUBLE) AS n,
         CAST(sum(q) AS DOUBLE) AS sq, CAST(sum(p) AS DOUBLE) AS sp,
         CAST(sum(d) AS DOUBLE) AS sd,
         CAST(sum(q * q) AS DOUBLE) AS sqq,
         CAST(sum(p * p) AS DOUBLE) AS spp,
         CAST(sum(d * d) AS DOUBLE) AS sdd,
         CAST(sum(q * p) AS DOUBLE) AS sqp,
         CAST(sum(q * d) AS DOUBLE) AS sqd,
         CAST(sum(p * d) AS DOUBLE) AS spd
  FROM b
)
SELECT pair, corr FROM (
  SELECT 'price_disc' AS pair,
         round((n * spd - sp * sd)
               / (sqrt(n * spp - sp * sp) * sqrt(n * sdd - sd * sd)), 6)
           AS corr
  FROM m
  UNION ALL
  SELECT 'qty_disc',
         round((n * sqd - sq * sd)
               / (sqrt(n * sqq - sq * sq) * sqrt(n * sdd - sd * sd)), 6)
  FROM m
  UNION ALL
  SELECT 'qty_price',
         round((n * sqp - sq * sp)
               / (sqrt(n * sqq - sq * sq) * sqrt(n * spp - sp * sp)), 6)
  FROM m
)
ORDER BY pair
""",
)
def feature_correlation_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise Pearson correlations computed the engine-exact way: the
    raw moments (sums, squares, cross products) accumulate as EXACT
    integers over integerized columns — immune to float summation
    order, unlike ``F.corr``'s streaming doubles — and one final
    double formula runs on the identical ten numbers in both engines.
    At 100 TB the moment sums overflow int64, so they aggregate as
    DECIMAL(38,0) (Spark) / HUGEINT (DuckDB); per-row products stay
    in int64 by construction (cents² < 2^47). One scan, map-side
    partial aggregation, a 1-row result reshaped to long format.
    """
    li = load_table(spark, sf_dir, "lineitem")
    b = li.select(
        F.floor("l_quantity").cast("long").alias("q"),
        F.floor(F.col("l_extendedprice") * 100).cast("long").alias("p"),
        F.floor(F.col("l_discount") * 100).cast("long").alias("d"),
    )

    def s(expr) -> F.Column:
        return F.sum(expr.cast("decimal(38,0)")).cast("double")

    m = b.agg(
        F.count("*").cast("double").alias("n"),
        s(F.col("q")).alias("sq"),
        s(F.col("p")).alias("sp"),
        s(F.col("d")).alias("sd"),
        s(F.col("q") * F.col("q")).alias("sqq"),
        s(F.col("p") * F.col("p")).alias("spp"),
        s(F.col("d") * F.col("d")).alias("sdd"),
        s(F.col("q") * F.col("p")).alias("sqp"),
        s(F.col("q") * F.col("d")).alias("sqd"),
        s(F.col("p") * F.col("d")).alias("spd"),
    )

    def corr(sxy: str, sx: str, sy: str, sxx: str, syy: str) -> F.Column:
        n = F.col("n")
        num = n * F.col(sxy) - F.col(sx) * F.col(sy)
        den = F.sqrt(n * F.col(sxx) - F.col(sx) * F.col(sx)) * F.sqrt(
            n * F.col(syy) - F.col(sy) * F.col(sy)
        )
        return F.round(num / den, 6)

    wide = m.select(
        corr("sqp", "sq", "sp", "sqq", "spp").alias("qty_price"),
        corr("sqd", "sq", "sd", "sqq", "sdd").alias("qty_disc"),
        corr("spd", "sp", "sd", "spp", "sdd").alias("price_disc"),
    )
    return wide.unpivot([], ["qty_price", "qty_disc", "price_disc"],
                        "pair", "corr").orderBy("pair")


@register(
    "fuzzy_entity_match_pairs",
    """
WITH planted AS (
  SELECT p_partkey + 1000000 AS typo_key,
         concat(substr(p_name, 1, 2), 'x', substr(p_name, 4)) AS typo_name
  FROM part WHERE p_partkey < 5
),
cand AS (
  SELECT p_partkey, p_name,
         list_extract(string_split(p_name, ' '), -1) AS block_key
  FROM part
),
p2 AS (
  SELECT typo_key, typo_name,
         list_extract(string_split(typo_name, ' '), -1) AS block_key
  FROM planted
)
SELECT p.typo_key, p.typo_name, c.p_partkey AS match_key,
       c.p_name AS match_name,
       CAST(levenshtein(p.typo_name, c.p_name) AS INTEGER)
         AS edit_distance
FROM p2 p JOIN cand c ON c.block_key = p.block_key
WHERE levenshtein(p.typo_name, c.p_name) <= 1
ORDER BY typo_key, match_key
""",
)
def fuzzy_entity_match_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Entity resolution with blocking: 5 planted single-character
    typos (derived in-query from real part names, the repo's
    planted-fixture pattern) must resolve back to their source
    entities via Levenshtein ≤ 1 — but ONLY pairs sharing a blocking
    key (the name's last token) are ever compared, so the pair space
    is per-block quadratic, never corpus-quadratic. The blocking
    discipline is what makes edit-distance ER feasible at 100 TB;
    swap the block key for a phonetic/sorted-ngram key for harder
    datasets.
    """
    part = load_table(spark, sf_dir, "part")
    planted = part.filter(F.col("p_partkey") < 5).select(
        (F.col("p_partkey") + 1000000).alias("typo_key"),
        F.concat(
            F.substring("p_name", 1, 2),
            F.lit("x"),
            F.expr("substr(p_name, 4)"),
        ).alias("typo_name"),
    )
    cand = part.select(
        "p_partkey",
        "p_name",
        F.element_at(F.split("p_name", " "), -1).alias("block_key"),
    )
    p2 = planted.withColumn(
        "block_key", F.element_at(F.split("typo_name", " "), -1)
    )
    return (
        p2.join(cand, "block_key")
        .filter(F.levenshtein("typo_name", "p_name") <= 1)
        .select(
            "typo_key",
            "typo_name",
            F.col("p_partkey").alias("match_key"),
            F.col("p_name").alias("match_name"),
            F.levenshtein("typo_name", "p_name")
            .cast("int")
            .alias("edit_distance"),
        )
        .orderBy("typo_key", "match_key")
    )


@register(
    "k_anonymity_audit",
    """
WITH qi AS (
  SELECT c_nationkey,
         c_mktsegment,
         CAST(floor(c_acctbal / 1000) AS BIGINT) AS bal_band
  FROM customer
),
cells AS (
  SELECT c_nationkey, c_mktsegment, bal_band,
         CAST(count(*) AS BIGINT) AS cell_size
  FROM qi GROUP BY c_nationkey, c_mktsegment, bal_band
)
SELECT c_nationkey,
       CAST(count(*) AS BIGINT) AS n_cells,
       CAST(sum(CASE WHEN cell_size < 5 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_small_cells,
       CAST(sum(CASE WHEN cell_size < 5 THEN cell_size ELSE 0 END)
            AS BIGINT) AS n_rows_at_risk,
       CAST(min(cell_size) AS BIGINT) AS k_anonymity
FROM cells
GROUP BY c_nationkey
ORDER BY c_nationkey
""",
)
def k_anonymity_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Privacy-compliance audit for a training-data release: k-anonymity
    over the quasi-identifier tuple (nation, market segment, account-
    balance band). Rows in cells smaller than k=5 are re-identifiable
    joins waiting to happen — the per-nation rollup reports how many
    cells/rows need suppression or coarsening before the table ships.
    Complements the regex tier (``doc_pii_scrub``): that removes direct
    identifiers, this measures indirect ones.

    Shape at 100 TB: one partial-agg shuffle on the QI tuple, one on
    the rollup key — both carry counts only; no raw rows move."""
    qi = load_table(spark, sf_dir, "customer").select(
        "c_nationkey",
        "c_mktsegment",
        F.floor(F.col("c_acctbal") / 1000).cast("long").alias("bal_band"),
    )
    cells = qi.groupBy("c_nationkey", "c_mktsegment", "bal_band").agg(
        F.count("*").alias("cell_size")
    )
    return (
        cells.groupBy("c_nationkey")
        .agg(
            F.count("*").alias("n_cells"),
            F.sum((F.col("cell_size") < 5).cast("long")).alias(
                "n_small_cells"
            ),
            F.sum(
                F.when(F.col("cell_size") < 5, F.col("cell_size")).otherwise(
                    0
                )
            ).alias("n_rows_at_risk"),
            F.min("cell_size").alias("k_anonymity"),
        )
        .orderBy("c_nationkey")
    )


@register(
    "range_checksum_diff",
    """
WITH a AS (
  SELECT event_id, user_id,
         CAST(floor(value * 100) AS BIGINT) AS cents
  FROM events
),
b AS (
  SELECT event_id, user_id,
         CAST(floor(value * 100) AS BIGINT)
           + CASE WHEN event_id % 97 = 0 THEN 1 ELSE 0 END AS cents
  FROM events
),
ca AS (
  SELECT event_id // 1000 AS bucket,
         CAST(count(*) AS BIGINT) AS n_a,
         CAST(sum(event_id * 31 + user_id * 7 + cents) AS BIGINT) AS sum_a
  FROM a GROUP BY bucket
),
cb AS (
  SELECT event_id // 1000 AS bucket,
         CAST(count(*) AS BIGINT) AS n_b,
         CAST(sum(event_id * 31 + user_id * 7 + cents) AS BIGINT) AS sum_b
  FROM b GROUP BY bucket
)
SELECT ca.bucket, ca.n_a, cb.n_b,
       (ca.n_a = cb.n_b AND ca.sum_a = cb.sum_b) AS in_sync
FROM ca JOIN cb USING (bucket)
WHERE NOT (ca.n_a = cb.n_b AND ca.sum_a = cb.sum_b)
ORDER BY ca.bucket
""",
)
def range_checksum_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Replica reconciliation by range checksums (the Merkle-tree
    pattern flattened one level): two copies of the events table — one
    with planted mutations on event_id % 97 — are each reduced to
    per-1000-id-range (count, additive checksum) summaries, and only
    the DIVERGING ranges are reported. At 100 TB you repair by
    re-syncing just those ranges instead of diffing row-by-row: the
    comparison moves two |ranges|-sized summaries, never the tables.
    The additive checksum makes each summary a partial-agg monoid —
    map-side combined, order-independent."""
    e = load_table(spark, sf_dir, "events").select(
        "event_id",
        "user_id",
        F.floor(F.col("value") * 100).cast("long").alias("cents"),
    )
    b = e.withColumn(
        "cents",
        F.col("cents")
        + F.when(F.col("event_id") % 97 == 0, 1).otherwise(0),
    )

    def summarize(df, n, s):
        return df.groupBy(
            F.expr("event_id div 1000").alias("bucket")
        ).agg(
            F.count("*").alias(n),
            F.sum(
                F.col("event_id") * 31 + F.col("user_id") * 7 + F.col("cents")
            ).alias(s),
        )

    ca = summarize(e, "n_a", "sum_a")
    cb = summarize(b, "n_b", "sum_b")
    return (
        ca.join(cb, "bucket")
        .withColumn(
            "in_sync",
            (F.col("n_a") == F.col("n_b"))
            & (F.col("sum_a") == F.col("sum_b")),
        )
        .filter(~F.col("in_sync"))
        .select("bucket", "n_a", "n_b", "in_sync")
        .orderBy("bucket")
    )


# two-level Merkle descent constants: leaves of 250 ids, 8 leaves per
# super-range; the planted deltas are SPARSE (strides 6007 / 8009) so
# the descent genuinely prunes — most super-ranges agree and their
# leaves are never compared
_MK_LEAF = 250
_MK_FAN = 8
_MK_MUT = 6007  # event_id % 6007 = 5 -> +1 cent in replica b
_MK_DEL = 8009  # event_id % 8009 = 3 -> dropped from replica b

_MK_DIGEST_DUCK = T.duck_hash60(
    "'m:' || bucket::VARCHAR || ':' || n::VARCHAR || ':' || ck::VARCHAR"
)
_MK_DIGEST_SPARK = T.hash60_sql(
    "concat('m:', cast(bucket as string), ':', cast(n as string), "
    "':', cast(ck as string))"
)


@register(
    "merkle_range_sync_plan",
    f"""
WITH a AS (
  SELECT event_id, user_id, CAST(floor(value * 100) AS BIGINT) AS cents
  FROM events
),
b AS (
  SELECT event_id, user_id,
         cents + CASE WHEN event_id % {_MK_MUT} = 5 THEN 1 ELSE 0 END
           AS cents
  FROM a WHERE event_id % {_MK_DEL} <> 3
),
la AS (
  SELECT event_id // {_MK_LEAF} AS bucket,
         CAST(count(*) AS BIGINT) AS n,
         CAST(sum(event_id * 31 + user_id * 7 + cents) AS BIGINT) AS ck
  FROM a GROUP BY bucket
),
lb AS (
  SELECT event_id // {_MK_LEAF} AS bucket,
         CAST(count(*) AS BIGINT) AS n,
         CAST(sum(event_id * 31 + user_id * 7 + cents) AS BIGINT) AS ck
  FROM b GROUP BY bucket
),
sa AS (
  SELECT bucket // {_MK_FAN} AS super_id,
         CAST(count(*) AS BIGINT) AS nb,
         CAST(sum({_MK_DIGEST_DUCK}) AS BIGINT) AS dg
  FROM la GROUP BY super_id
),
sb AS (
  SELECT bucket // {_MK_FAN} AS super_id,
         CAST(count(*) AS BIGINT) AS nb,
         CAST(sum({_MK_DIGEST_DUCK}) AS BIGINT) AS dg
  FROM lb GROUP BY super_id
),
flagged AS (
  SELECT coalesce(sa.super_id, sb.super_id) AS super_id
  FROM sa FULL OUTER JOIN sb ON sa.super_id = sb.super_id
  WHERE sa.super_id IS NULL OR sb.super_id IS NULL
     OR sa.nb <> sb.nb OR sa.dg <> sb.dg
),
da AS (
  SELECT * FROM la WHERE bucket // {_MK_FAN} IN
    (SELECT super_id FROM flagged)
),
db AS (
  SELECT * FROM lb WHERE bucket // {_MK_FAN} IN
    (SELECT super_id FROM flagged)
)
SELECT coalesce(da.bucket, db.bucket) // {_MK_FAN} AS super_id,
       coalesce(da.bucket, db.bucket) AS bucket,
       coalesce(da.n, 0) AS n_a,
       coalesce(db.n, 0) AS n_b
FROM da FULL OUTER JOIN db ON da.bucket = db.bucket
WHERE da.bucket IS NULL OR db.bucket IS NULL
   OR da.n <> db.n OR da.ck <> db.ck
ORDER BY bucket
""",
)
def merkle_range_sync_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-level Merkle-style replica sync (the hierarchical form of
    ``range_checksum_diff``): each replica's leaf ranges (250 ids)
    reduce to (count, additive checksum) summaries; each leaf summary
    is hashed into a 60-bit digest and the SUPER-range digest is the
    order-independent SUM of its ≤8 leaf digests — the multiset-hash
    construction, so a super-level match certifies its leaves without
    reading them (defeating cancellation would need md5 sums to
    collide). The descent compares leaves ONLY inside diverging
    super-ranges and reports the exact leaf ranges to re-sync; the
    planted deltas (a sparse +1-cent mutation and a sparse deletion)
    leave most super-ranges clean, so the pruning is live at every
    fixture.

    Scale shape: per replica ONE count-only aggregation to leaves (the
    at-rest summary table a production sync stores — modeled with a
    pin so the super rollup and the descent read it once), a
    |leaves|/8-sized rollup to supers, and a leaf comparison bounded
    by 8·|flagged supers| rows. Generalizes to k levels: each level
    reads 1/fan-out of the one below, so a 100 TB sync walks
    O(log R) summary tables and re-reads only diverging ranges."""
    a = load_table(spark, sf_dir, "events").select(
        "event_id",
        "user_id",
        F.floor(F.col("value") * 100).cast("long").alias("cents"),
    )
    b = a.filter(F.col("event_id") % _MK_DEL != 3).withColumn(
        "cents",
        F.col("cents")
        + F.when(F.col("event_id") % _MK_MUT == 5, 1).otherwise(0),
    )

    def leaves(df: DataFrame) -> DataFrame:
        return pin(
            df.groupBy(
                F.expr(f"event_id div {_MK_LEAF}").alias("bucket")
            ).agg(
                F.count(F.lit(1)).alias("n"),
                F.sum(
                    F.col("event_id") * 31
                    + F.col("user_id") * 7
                    + F.col("cents")
                ).alias("ck"),
            ),
        )

    la, lb = leaves(a), leaves(b)
    # OPTIMIZATION r15 (guide §2.3/§2.4): the replica diff at BOTH
    # levels used to be a full-outer sort-merge join (two sorted
    # exchanges + merge per level). A union with a side tag and ONE
    # conditional aggregation shuffles the same summary rows once and
    # needs no sort: a side absent from a super yields count 0 (≠ the
    # other side's ≥1), reproducing the old IS NULL arm exactly, and
    # the flagged set only ever exposes super_id.
    lvu = la.withColumn("is_b", F.lit(False)).unionByName(
        lb.withColumn("is_b", F.lit(True))
    )
    flagged = (
        lvu.groupBy(F.expr(f"bucket div {_MK_FAN}").alias("super_id"))
        .agg(
            F.count(F.when(~F.col("is_b"), F.lit(1))).alias("nb_a"),
            F.sum(
                F.when(~F.col("is_b"), F.expr(_MK_DIGEST_SPARK))
            ).alias("dg_a"),
            F.count(F.when(F.col("is_b"), F.lit(1))).alias("nb_b"),
            F.sum(
                F.when(F.col("is_b"), F.expr(_MK_DIGEST_SPARK))
            ).alias("dg_b"),
        )
        .filter(
            # dg_a/dg_b are SUM(hash60(concat(...))) over non-null
            # inputs, so a present side's digest is non-null by
            # construction; eqNullSafe (vs a null-propagating !=)
            # intentionally FLAGS a count-equal super where exactly one
            # side's digest were ever NULL. Unreachable today — noted so
            # a future nullable digest expr doesn't silently change
            # flagging semantics (ADVICE r15).
            (F.col("nb_a") != F.col("nb_b"))
            | ~F.col("dg_a").eqNullSafe(F.col("dg_b"))
        )
        .select("super_id")
    )

    def descend(lv: DataFrame) -> DataFrame:
        return lv.join(
            F.broadcast(flagged),
            F.expr(f"bucket div {_MK_FAN}") == F.col("super_id"),
            "left_semi",
        )

    # leaf-level diff inside flagged supers: same union+conditional-
    # aggregation shape as the super diff (buckets are unique per
    # replica, so MAX(when(side)) reproduces the full-outer row pair:
    # NULL ⟺ that replica lacks the bucket)
    du = (
        descend(la)
        .withColumn("is_b", F.lit(False))
        .unionByName(descend(lb).withColumn("is_b", F.lit(True)))
    )
    return (
        du.groupBy("bucket")
        .agg(
            F.max(F.when(~F.col("is_b"), F.col("n"))).alias("n_a"),
            F.max(F.when(~F.col("is_b"), F.col("ck"))).alias("ck_a"),
            F.max(F.when(F.col("is_b"), F.col("n"))).alias("n_b"),
            F.max(F.when(F.col("is_b"), F.col("ck"))).alias("ck_b"),
        )
        .filter(
            F.col("n_a").isNull()
            | F.col("n_b").isNull()
            | (F.col("n_a") != F.col("n_b"))
            | (F.col("ck_a") != F.col("ck_b"))
        )
        .select(
            F.expr(f"bucket div {_MK_FAN}").alias("super_id"),
            "bucket",
            F.coalesce("n_a", F.lit(0)).alias("n_a"),
            F.coalesce("n_b", F.lit(0)).alias("n_b"),
        )
        .orderBy("bucket")
    )


@register(
    "cdc_merge_with_deletes",
    """
WITH feed AS (
  SELECT user_id,
         epoch_ns(ts) AS ts_ns,
         event_id,
         CASE WHEN event_type = 'click' THEN 'D' ELSE 'U' END AS op,
         CAST(floor(value * 100) AS BIGINT) AS cents
  FROM events
), latest AS (
  SELECT user_id, op, cents, ts_ns FROM (
    SELECT *, row_number() OVER (
      PARTITION BY user_id ORDER BY ts_ns DESC, event_id DESC) AS rn
    FROM feed) z
  WHERE rn = 1
)
SELECT user_id, cents AS last_cents, CAST(ts_ns AS BIGINT) AS ts_ns
FROM latest WHERE op = 'U'
""",
)
def cdc_merge_with_deletes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Delete-aware CDC merge: fold a change feed (upserts + 'click'
    tombstones) into final state — a key survives only if its LATEST
    op is an upsert. The rank-1-per-key shape of
    ``streaming_upsert_snapshot`` extended with tombstone semantics:
    the delete doesn't just win the rank, it REMOVES the key from the
    snapshot, which is the part naive last-write-wins merges get wrong.

    One shuffle on the key; at scale this is exactly the foreachBatch
    merge epoch of streaming/ops.py with op-aware filtering, and the
    batch oracle here is its correctness definition."""
    ev = load_table(spark, sf_dir, "events")
    feed = ev.select(
        "user_id",
        "ts_ns",
        "event_id",
        F.when(F.col("event_type") == "click", "D")
        .otherwise("U")
        .alias("op"),
        F.floor(F.col("value") * 100).cast("long").alias("cents"),
    )
    w = Window.partitionBy("user_id").orderBy(
        F.desc("ts_ns"), F.desc("event_id")
    )
    return (
        feed.withColumn("rn", F.row_number().over(w))
        .filter((F.col("rn") == 1) & (F.col("op") == "U"))
        .select(
            "user_id",
            F.col("cents").alias("last_cents"),
            F.col("ts_ns").cast("long").alias("ts_ns"),
        )
    )


@register(
    "null_safe_join_audit",
    """
WITH feed AS (
  SELECT user_id,
         epoch_ns(ts) AS ts_ns,
         event_id,
         CASE WHEN CAST(floor(value * 100) AS BIGINT) % 7 = 0
              THEN NULL
              ELSE CAST(floor(value * 100) AS BIGINT) % 7 END AS k7
  FROM events
), firsts AS (
  SELECT user_id, k7 FROM (
    SELECT *, row_number() OVER (
      PARTITION BY user_id ORDER BY ts_ns, event_id) AS rn
    FROM feed) z WHERE rn = 1
), lasts AS (
  SELECT user_id, k7 FROM (
    SELECT *, row_number() OVER (
      PARTITION BY user_id ORDER BY ts_ns DESC, event_id DESC) AS rn
    FROM feed) z WHERE rn = 1
)
SELECT CAST(coalesce(f.k7, -1) AS BIGINT) AS k7,
       CAST(count(*) AS BIGINT) AS n_pairs
FROM firsts f
JOIN lasts l ON f.k7 IS NOT DISTINCT FROM l.k7
GROUP BY 1
""",
)
def null_safe_join_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NULL-safe equality join (``<=>`` / IS NOT DISTINCT FROM): the
    derived key is NULL for ~1/7 of users, and the join must MATCH
    null-to-null (unlike plain ``=`` which silently drops those rows —
    the classic missed-rows bug in merge keys with optional columns).
    Pairs first-event keys with last-event keys across users and
    counts per key; the NULL bucket reports as -1.

    Spark plans ``eqNullSafe`` as a regular hash join on a
    null-coalesced internal key — same single shuffle as an equi-join,
    NOT a cartesian + filter."""
    ev = load_table(spark, sf_dir, "events")
    cents = F.floor(F.col("value") * 100).cast("long")
    feed = ev.select(
        "user_id",
        "ts_ns",
        "event_id",
        F.when(cents % 7 == 0, F.lit(None).cast("long"))
        .otherwise(cents % 7)
        .alias("k7"),
    )
    wf = Window.partitionBy("user_id").orderBy("ts_ns", "event_id")
    wl = Window.partitionBy("user_id").orderBy(
        F.desc("ts_ns"), F.desc("event_id")
    )
    firsts = (
        feed.withColumn("rn", F.row_number().over(wf))
        .filter(F.col("rn") == 1)
        .select(F.col("k7").alias("f_k7"))
    )
    lasts = (
        feed.withColumn("rn", F.row_number().over(wl))
        .filter(F.col("rn") == 1)
        .select(F.col("k7").alias("l_k7"))
    )
    return (
        firsts.join(lasts, F.col("f_k7").eqNullSafe(F.col("l_k7")))
        .groupBy(F.coalesce("f_k7", F.lit(-1)).alias("k7"))
        .agg(F.count(F.lit(1)).alias("n_pairs"))
    )


@register(
    "incremental_revenue_snapshot",
    """
SELECT n.n_name AS nation,
       CAST(sum(CAST(floor(o.o_totalprice * 100) AS BIGINT)) AS BIGINT)
         AS revenue_cents,
       CAST(count(*) AS BIGINT) AS n_orders
FROM orders o
JOIN customer c ON c.c_custkey = o.o_custkey
JOIN nation n   ON n.n_nationkey = c.c_nationkey
GROUP BY n.n_name
""",
)
def incremental_revenue_snapshot(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Incremental AGGREGATE maintenance (the materialized-view merge,
    sibling of operators.index_maint's incremental index upserts): the
    standing per-nation revenue snapshot (orders before 1999) merges
    with the new batch's partial aggregate via a full-outer
    coalesce-sum — sum/count are commutative monoids, so
    merge(standing, agg(batch)) ≡ full recompute, which is exactly
    what the oracle checks. At 100 TB the standing snapshot is an
    at-rest table and each refresh touches ONLY the new partition's
    rows — never the history."""
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    nation = load_table(spark, sf_dir, "nation")
    cut = F.lit("1999-01-01").cast("timestamp")

    def agg_part(df: DataFrame) -> DataFrame:
        return (
            df.join(F.broadcast(cust), df.o_custkey == cust.c_custkey)
            .join(
                F.broadcast(nation),
                F.col("c_nationkey") == nation.n_nationkey,
            )
            .groupBy(F.col("n_name").alias("nation"))
            .agg(
                F.sum(
                    F.floor(F.col("o_totalprice") * 100).cast("long")
                ).alias("revenue_cents"),
                F.count(F.lit(1)).alias("n_orders"),
            )
        )

    standing = agg_part(orders.filter(F.col("o_orderdate") < cut))
    batch = agg_part(orders.filter(F.col("o_orderdate") >= cut))
    merged = standing.alias("s").join(
        batch.alias("b"), F.col("s.nation") == F.col("b.nation"), "full_outer"
    )
    return merged.select(
        F.coalesce(F.col("s.nation"), F.col("b.nation")).alias("nation"),
        (
            F.coalesce(F.col("s.revenue_cents"), F.lit(0))
            + F.coalesce(F.col("b.revenue_cents"), F.lit(0))
        ).alias("revenue_cents"),
        (
            F.coalesce(F.col("s.n_orders"), F.lit(0))
            + F.coalesce(F.col("b.n_orders"), F.lit(0))
        ).alias("n_orders"),
    )


# ------------------------------------------------ ANALYZE-style stats
def _duck_col_stats(col: str, num_expr: str | None) -> str:
    """One UNION-ALL leg of the DuckDB stats profile for ``col``."""
    if num_expr is not None:
        mn = f"CAST(min({num_expr}) AS BIGINT)"
        mx = f"CAST(max({num_expr}) AS BIGINT)"
        ms = "CAST(NULL AS VARCHAR)"
        xs = "CAST(NULL AS VARCHAR)"
    else:
        mn = "CAST(NULL AS BIGINT)"
        mx = "CAST(NULL AS BIGINT)"
        ms = f"min({col})"
        xs = f"max({col})"
    return f"""
  SELECT '{col}' AS col_name,
         CAST(count(*) AS BIGINT) AS n_rows,
         CAST(count(DISTINCT {col}) AS BIGINT) AS n_distinct,
         CAST(count(*) - count({col}) AS BIGINT) AS n_nulls,
         {mn} AS min_num, {mx} AS max_num,
         {ms} AS min_str, {xs} AS max_str
  FROM lineitem"""


_STATS_COLS: list[tuple[str, str | None]] = [
    ("l_orderkey", "l_orderkey"),
    ("l_partkey", "l_partkey"),
    ("l_suppkey", "l_suppkey"),
    ("l_quantity", "floor(l_quantity * 100)"),
    ("l_extendedprice", "floor(l_extendedprice * 100)"),
    ("l_returnflag", None),
    ("l_linestatus", None),
]


@register(
    "table_stats_profile",
    "\nUNION ALL\n".join(
        _duck_col_stats(c, e) for c, e in _STATS_COLS
    )
    + "\nORDER BY col_name",
)
def table_stats_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANALYZE-style per-column statistics profile of ``lineitem`` —
    the table the optimizer (or a data engineer) asks for first: row
    count, exact NDV, null count, and min/max per column (numerics as
    exact integer cents in ``min_num``/``max_num``, strings
    lexicographic in ``min_str``/``max_str``; one uniform row shape).

    The Spark plan is ONE pass over the table: all seven
    count(DISTINCT) aggregates share a single Expand-based aggregation
    (Catalyst's multi-distinct rewrite), not seven scans. At 100 TB
    the same statement swaps exact NDV for ``approx_count_distinct``
    (HLL, one pass, no expand) — the exact tier here doubles as that
    sketch's error oracle, the ``approx_aggregates`` pattern."""
    li = load_table(spark, sf_dir, "lineitem")
    aggs = []
    for col, num in _STATS_COLS:
        safe = col
        aggs.extend(
            [
                F.count("*").alias(f"{safe}__n"),
                F.countDistinct(F.col(col)).alias(f"{safe}__ndv"),
                (F.count("*") - F.count(F.col(col))).alias(
                    f"{safe}__nulls"
                ),
            ]
        )
        if num is not None:
            num_c = F.expr(num).cast("long")
            aggs.extend(
                [
                    F.min(num_c).alias(f"{safe}__mn"),
                    F.max(num_c).alias(f"{safe}__mx"),
                    F.min(F.lit(None).cast("string")).alias(
                        f"{safe}__ms"
                    ),
                    F.max(F.lit(None).cast("string")).alias(
                        f"{safe}__xs"
                    ),
                ]
            )
        else:
            aggs.extend(
                [
                    F.min(F.lit(None).cast("long")).alias(f"{safe}__mn"),
                    F.max(F.lit(None).cast("long")).alias(f"{safe}__mx"),
                    F.min(F.col(col)).alias(f"{safe}__ms"),
                    F.max(F.col(col)).alias(f"{safe}__xs"),
                ]
            )
    wide = li.agg(*aggs)
    stack_args = ", ".join(
        f"'{c}', {c}__n, {c}__ndv, {c}__nulls, {c}__mn, {c}__mx, "
        f"{c}__ms, {c}__xs"
        for c, _ in _STATS_COLS
    )
    return wide.select(
        F.expr(
            f"stack({len(_STATS_COLS)}, {stack_args}) AS "
            f"(col_name, n_rows, n_distinct, n_nulls, min_num, max_num, "
            f"min_str, max_str)"
        )
    ).orderBy("col_name")


# ----------------------------------------------------- privacy: l-diversity

_LDIV_MIN_L = 3


@register(
    "l_diversity_audit",
    """
WITH qi AS (
  SELECT c_nationkey,
         CAST(floor(c_acctbal / 2000) AS BIGINT) AS bal_band,
         c_mktsegment AS sensitive
  FROM customer
),
cell_sens AS (
  SELECT c_nationkey, bal_band, sensitive,
         CAST(count(*) AS BIGINT) AS cnt
  FROM qi GROUP BY c_nationkey, bal_band, sensitive
),
with_p AS (
  SELECT c_nationkey, bal_band, cnt,
         cnt * 1.0 / sum(cnt) OVER (PARTITION BY c_nationkey, bal_band)
           AS p
  FROM cell_sens
),
cells AS (
  SELECT c_nationkey, bal_band,
         CAST(count(*) AS BIGINT) AS distinct_l,
         CAST(sum(cnt) AS BIGINT) AS cell_size,
         round(exp(-sum(p * ln(p))), 6) AS entropy_l
  FROM with_p
  GROUP BY c_nationkey, bal_band
)
SELECT c_nationkey,
       CAST(count(*) AS BIGINT) AS n_cells,
       CAST(min(distinct_l) AS BIGINT) AS min_distinct_l,
       CAST(sum(CASE WHEN distinct_l < 3 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_cells_below_l,
       CAST(sum(CASE WHEN distinct_l < 3 THEN cell_size ELSE 0 END)
            AS BIGINT) AS n_rows_at_risk,
       round(min(entropy_l), 6) AS min_entropy_l
FROM cells
GROUP BY c_nationkey
ORDER BY c_nationkey
""",
)
def l_diversity_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """l-diversity audit, the companion to ``k_anonymity_audit``:
    k-anonymity alone cannot stop an attribute-disclosure attack — a
    cell of 50 rows that all share one sensitive value reveals that
    value to anyone who can place a person in the cell.  Per
    quasi-identifier cell (nation, coarse balance band) this measures
    how diverse the sensitive attribute (market segment) actually is:
    distinct-l (count of distinct sensitive values) and entropy-l
    (exp of the Shannon entropy of the within-cell sensitive
    distribution — the effective number of values, ≤ distinct-l, low
    when one value dominates).  The per-nation rollup reports the
    worst cell and how many rows sit in cells below l=3 — the rows
    that need generalization before release (Machanavajjhala et al.,
    "l-Diversity: Privacy Beyond k-Anonymity", ICDE 2006).

    Shape at 100 TB: two count-only partial-agg shuffles (QI+sensitive,
    then QI) and a rollup — identical scan economics to the k-anonymity
    audit; raw rows never move."""
    qi = load_table(spark, sf_dir, "customer").select(
        "c_nationkey",
        F.floor(F.col("c_acctbal") / 2000).cast("long").alias("bal_band"),
        F.col("c_mktsegment").alias("sensitive"),
    )
    cell_sens = qi.groupBy("c_nationkey", "bal_band", "sensitive").agg(
        F.count("*").alias("cnt")
    )
    w = Window.partitionBy("c_nationkey", "bal_band")
    p = (F.col("cnt") * F.lit(1.0)) / F.sum("cnt").over(w)
    with_p = cell_sens.select(
        "c_nationkey", "bal_band", "cnt", p.alias("p")
    )
    cells = with_p.groupBy("c_nationkey", "bal_band").agg(
        F.count("*").alias("distinct_l"),
        F.sum("cnt").alias("cell_size"),
        F.round(
            F.exp(-F.sum(F.col("p") * F.log(F.col("p")))), 6
        ).alias("entropy_l"),
    )
    return (
        cells.groupBy("c_nationkey")
        .agg(
            F.count("*").alias("n_cells"),
            F.min("distinct_l").alias("min_distinct_l"),
            F.sum(
                (F.col("distinct_l") < _LDIV_MIN_L).cast("long")
            ).alias("n_cells_below_l"),
            F.sum(
                F.when(
                    F.col("distinct_l") < _LDIV_MIN_L, F.col("cell_size")
                ).otherwise(0)
            ).alias("n_rows_at_risk"),
            F.round(F.min("entropy_l"), 6).alias("min_entropy_l"),
        )
        .orderBy("c_nationkey")
    )


# ------------------------------------- privacy: DP noisy-count release

_DP_EPS = "0.5"  # epsilon as a literal so both engines parse one decimal


@register(
    "dp_noisy_counts_deterministic",
    f"""
WITH counts AS (
  SELECT event_type,
         CAST(strftime(ts, '%H') AS BIGINT) // 6 AS hour_band,
         CAST(count(*) AS BIGINT) AS true_n
  FROM events
  GROUP BY event_type, CAST(strftime(ts, '%H') AS BIGINT) // 6
),
noised AS (
  SELECT event_type, hour_band, true_n,
         greatest(('0x' || substr(md5('dp:' || event_type || ':' ||
             CAST(hour_band AS VARCHAR)), 1, 7))::BIGINT, 1)
           / 268435456.0 - 0.5 AS uc
  FROM counts
)
SELECT event_type, hour_band, true_n,
       round(true_n + (-1.0 / {_DP_EPS}) *
             CASE WHEN uc > 0 THEN 1.0
                  WHEN uc < 0 THEN -1.0 ELSE 0.0 END *
             ln(1 - 2 * abs(uc)), 6) + 0.0 AS noisy_n,
       round(abs((-1.0 / {_DP_EPS}) *
             CASE WHEN uc > 0 THEN 1.0
                  WHEN uc < 0 THEN -1.0 ELSE 0.0 END *
             ln(1 - 2 * abs(uc))), 6) AS abs_noise
FROM noised
ORDER BY event_type, hour_band
""",
)
def dp_noisy_counts_deterministic(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Differentially-private histogram release with DETERMINISTIC
    Laplace noise: the (event_type × 6-hour band) contingency table
    plus Laplace(1/ε) noise at ε=0.5, drawn through the engine's
    portable-hash uniform (u = hash28('dp:'key)/2^28) and the inverse
    CDF −b·sign(u−½)·ln(1−2|u−½|) — no rand(), so both engines
    produce bit-identical releases and the noise calibration itself
    is oracle-checkable (the Dwork et al. 2006 mechanism; counting
    queries have sensitivity 1, so b = 1/ε).  In production the seed
    would be a secret drawn once per release; the mechanism, scale,
    and accounting are exactly what ships.  Emitting true_n next to
    noisy_n here is the calibration AUDIT view (internal), not the
    release view, which projects noisy_n only.

    Shape at 100 TB: a count-only partial-agg shuffle bounded by
    (types × bands); the noise math touches one row per cell."""
    ev = load_table(spark, sf_dir, "events")
    counts = ev.groupBy(
        "event_type",
        F.floor(F.hour("ts") / F.lit(6)).cast("long").alias("hour_band"),
    ).agg(F.count("*").alias("true_n"))
    noised = counts.selectExpr(
        "event_type",
        "hour_band",
        "true_n",
        "greatest(cast(conv(substr(md5(concat('dp:', event_type, ':',"
        " cast(hour_band as string))), 1, 7), 16, 10) as bigint), 1)"
        " / 268435456.0 - 0.5 AS uc",
    )
    sgn = (
        F.when(F.col("uc") > 0, 1.0)
        .when(F.col("uc") < 0, -1.0)
        .otherwise(0.0)
    )
    lap = (
        F.lit(-1.0) / F.expr(_DP_EPS) * sgn
        * F.log(F.lit(1) - F.lit(2) * F.abs(F.col("uc")))
    )
    return noised.select(
        "event_type",
        "hour_band",
        "true_n",
        (F.round(F.col("true_n") + lap, 6) + F.lit(0.0)).alias(
            "noisy_n"
        ),
        F.round(F.abs(lap), 6).alias("abs_noise"),
    ).orderBy("event_type", "hour_band")
