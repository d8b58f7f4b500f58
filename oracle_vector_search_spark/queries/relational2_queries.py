"""Second relational corpus: window frames, exact quantiles, grouping
sets, correlated subqueries, deterministic argmax, vector centroids,
regex tokenization — rounding out the SURVEY.md §2.6 "absent in
reference, free from Spark" operator families.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window, functions as F

from oracle_vector_search_spark.functions.rounding import cents
from oracle_vector_search_spark.io import load_table
from oracle_vector_search_spark.queries import register


@register(
    "window_range_frames",
    """
SELECT o_custkey, o_orderkey,
       CAST(sum(CAST(floor(o_totalprice * 100) AS BIGINT)) OVER (
         PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
         ROWS BETWEEN 2 PRECEDING AND CURRENT ROW) AS BIGINT)
         AS last3_cents,
       CAST(count(*) OVER (
         PARTITION BY o_custkey
         ORDER BY epoch_ns(o_orderdate) // 86400000000000
         RANGE BETWEEN 90 PRECEDING AND CURRENT ROW) AS BIGINT)
         AS n_orders_90d,
       first_value(o_orderkey) OVER (
         PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
         AS first_orderkey,
       last_value(o_orderkey) OVER (
         PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
         ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
         AS last_orderkey
FROM orders
WHERE o_custkey < 100
""",
)
def window_range_frames(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROWS and RANGE window frames + first/last_value. The RANGE frame
    counts orders in a trailing 90-day window (day-integer range key so
    both engines use identical frame arithmetic)."""
    orders = load_table(spark, sf_dir, "orders").filter(
        F.col("o_custkey") < 100
    )
    day = (
        F.unix_micros(F.col("o_orderdate").cast("timestamp")) * 1000
    ) / F.lit(86400000000000)
    orders = orders.withColumn("order_day", day.cast("long"))
    w_rows = Window.partitionBy("o_custkey").orderBy(
        "o_orderdate", "o_orderkey"
    )
    w_range = (
        Window.partitionBy("o_custkey")
        .orderBy("order_day")
        .rangeBetween(-90, 0)
    )
    return orders.select(
        "o_custkey",
        "o_orderkey",
        F.sum(cents("o_totalprice"))
        .over(w_rows.rowsBetween(-2, 0))
        .alias("last3_cents"),
        F.count("*").over(w_range).alias("n_orders_90d"),
        F.first("o_orderkey").over(w_rows).alias("first_orderkey"),
        F.last("o_orderkey")
        .over(
            w_rows.rowsBetween(
                Window.unboundedPreceding, Window.unboundedFollowing
            )
        )
        .alias("last_orderkey"),
    )


@register(
    "ntile_distribution",
    """
SELECT c_custkey,
       CAST(ntile(4) OVER w AS INTEGER) AS quartile,
       round(percent_rank() OVER w, 6) AS pct_rank,
       round(cume_dist() OVER w, 6) AS cume
FROM customer
WINDOW w AS (ORDER BY c_acctbal, c_custkey)
""",
)
def ntile_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ntile / percent_rank / cume_dist over a fully tie-broken global
    ordering — ORACLE TIER: the empty-partition window funnels every
    row through one task. Exact global quantile ranks inherently need
    a total order; ``ntile_distribution_scaled`` computes the
    identical answer with no single-task stage and is the tier a
    100 TB run uses."""
    cust = load_table(spark, sf_dir, "customer")
    w = Window.orderBy("c_acctbal", "c_custkey")
    return cust.select(
        "c_custkey",
        F.ntile(4).over(w).alias("quartile"),
        F.round(F.percent_rank().over(w), 6).alias("pct_rank"),
        F.round(F.cume_dist().over(w), 6).alias("cume"),
    )


@register(
    "ntile_distribution_scaled",
    """
SELECT c_custkey,
       CAST(ntile(4) OVER w AS INTEGER) AS quartile,
       round(percent_rank() OVER w, 6) AS pct_rank,
       round(cume_dist() OVER w, 6) AS cume
FROM customer
WINDOW w AS (ORDER BY c_acctbal, c_custkey)
""",
)
def ntile_distribution_scaled(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The 100 TB tier of ``ntile_distribution`` — same oracle, no
    single-partition window.

    Global rank comes from the two-phase trick (range-partition on the
    order key, rank locally, prefix-sum per-partition counts on the
    driver — ``assign_index_ids_two_phase``); ntile / percent_rank /
    cume_dist are then CLOSED-FORM in (rank, N) because the ordering is
    fully tie-broken (unique ``c_custkey`` tie-break ⇒ cume_dist = r/N,
    percent_rank = (r-1)/(N-1), and SQL ntile(4) puts the first N%4
    buckets one row over size N//4). N is one metadata-sized count.
    Every step is embarrassingly parallel; the only shuffle is the
    range repartition Spark would need for ANY global ordering."""
    from oracle_vector_search_spark.operators.ingest import (
        assign_index_ids_two_phase,
    )

    cust = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_acctbal"
    )
    n = cust.count()
    ranked = assign_index_ids_two_phase(
        cust, ["c_acctbal", "c_custkey"]
    ).withColumnRenamed("id", "__r")
    q, rem = divmod(n, 4)
    big = rem * (q + 1)  # rows covered by the (q+1)-sized leading buckets
    r = F.col("__r")
    quartile = (
        F.when(F.lit(q == 0), r)  # n < 4: ntile degenerates to rank
        .when(r <= big, F.ceil(r / F.lit(q + 1)))
        .otherwise(F.lit(rem) + F.ceil((r - F.lit(big)) / F.lit(q)))
    )
    pct = (r - 1) / F.lit(n - 1) if n > 1 else F.lit(0.0)
    return ranked.select(
        "c_custkey",
        quartile.cast("int").alias("quartile"),
        F.round(pct, 6).alias("pct_rank"),
        F.round(r / F.lit(n), 6).alias("cume"),
    )


@register(
    "exact_quantiles",
    """
SELECT l_returnflag,
       round(quantile_cont(l_extendedprice, 0.25), 6) AS q25,
       round(quantile_cont(l_extendedprice, 0.5), 6) AS median,
       round(quantile_cont(l_extendedprice, 0.75), 6) AS q75,
       round(quantile_cont(l_extendedprice, 0.99), 6) AS q99
FROM lineitem
GROUP BY l_returnflag
""",
)
def exact_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact linear-interpolated quantiles (Spark ``percentile`` ≡
    DuckDB ``quantile_cont``). At 100 TB you'd reach for
    ``percentile_approx`` — kept exact here so it's oracle-checkable."""
    li = load_table(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.round(F.percentile("l_extendedprice", 0.25), 6).alias("q25"),
        F.round(F.percentile("l_extendedprice", 0.5), 6).alias("median"),
        F.round(F.percentile("l_extendedprice", 0.75), 6).alias("q75"),
        F.round(F.percentile("l_extendedprice", 0.99), 6).alias("q99"),
    )


@register(
    "grouping_sets_flags",
    """
SELECT l_returnflag, l_linestatus,
       CAST(GROUPING(l_returnflag) AS INTEGER) AS g_rf,
       CAST(GROUPING(l_linestatus) AS INTEGER) AS g_ls,
       CAST(count(*) AS BIGINT) AS n
FROM lineitem
GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())
""",
)
def grouping_sets_flags(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit GROUPING SETS with grouping() indicator flags
    (disambiguates data NULLs from subtotal NULLs)."""
    li = load_table(spark, sf_dir, "lineitem")
    li.createOrReplaceTempView("lineitem")
    return spark.sql(
        """
        SELECT l_returnflag, l_linestatus,
               CAST(grouping(l_returnflag) AS INT) AS g_rf,
               CAST(grouping(l_linestatus) AS INT) AS g_ls,
               count(*) AS n
        FROM lineitem
        GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())
        """
    )


@register(
    "customers_above_nation_avg",
    """
WITH nation_avg AS (
  SELECT c_nationkey,
         sum(CAST(floor(c_acctbal * 100) AS BIGINT)) / 100.0 / count(*)
           AS avg_bal
  FROM customer GROUP BY c_nationkey
)
SELECT c.c_custkey, c.c_nationkey, c.c_acctbal,
       round(n.avg_bal, 6) AS nation_avg_bal
FROM customer c
JOIN nation_avg n ON n.c_nationkey = c.c_nationkey
WHERE c.c_acctbal > n.avg_bal
""",
)
def customers_above_nation_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated-subquery shape (balance above own nation's average)
    executed as an aggregate + rejoin — the decorrelated plan Catalyst
    produces anyway, spelled explicitly."""
    cust = load_table(spark, sf_dir, "customer")
    nation_avg = cust.groupBy("c_nationkey").agg(
        (F.sum(cents("c_acctbal")) / 100.0 / F.count("*")).alias("avg_bal")
    )
    return (
        cust.join(F.broadcast(nation_avg), "c_nationkey")
        .filter(F.col("c_acctbal") > F.col("avg_bal"))
        .select(
            "c_custkey",
            "c_nationkey",
            "c_acctbal",
            F.round("avg_bal", 6).alias("nation_avg_bal"),
        )
    )


@register(
    "argmax_line_per_order",
    """
WITH ranked AS (
  SELECT l_orderkey, l_linenumber, l_extendedprice,
         row_number() OVER (
           PARTITION BY l_orderkey
           ORDER BY l_extendedprice DESC, l_linenumber DESC) AS rn
  FROM lineitem
)
SELECT l_orderkey,
       CAST(l_linenumber AS INTEGER) AS best_linenumber,
       l_extendedprice AS best_price
FROM ranked WHERE rn = 1 AND l_orderkey < 2000
""",
)
def argmax_line_per_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic argmax via ``max_by`` with a composite (value, id)
    comparator — the reference's best-box pattern (A1) with explicit tie
    handling; oracle expresses the same thing as a window."""
    li = load_table(spark, sf_dir, "lineitem").filter(
        F.col("l_orderkey") < 2000
    )
    best = li.groupBy("l_orderkey").agg(
        F.max_by(
            F.struct("l_linenumber", "l_extendedprice"),
            F.struct("l_extendedprice", "l_linenumber"),
        ).alias("best")
    )
    return best.select(
        "l_orderkey",
        F.col("best.l_linenumber").alias("best_linenumber"),
        F.col("best.l_extendedprice").alias("best_price"),
    )


@register(
    "label_centroids",
    """
SELECT label,
       CAST(t.i - 1 AS INTEGER) AS pos,
       round(avg((embedding::DOUBLE[])[t.i]), 6) AS centroid_val,
       CAST(count(*) AS BIGINT) AS n_vectors
FROM embeddings
CROSS JOIN range(1, 9) AS t(i)
GROUP BY label, t.i
""",
)
def label_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label centroid components (first 8 dims): posexplode →
    group by (label, position) → mean. The distributed way to average
    vectors — one shuffle keyed on (label, pos), no driver collect."""
    emb = load_table(spark, sf_dir, "embeddings")
    exploded = emb.select(
        "label",
        F.posexplode(F.col("embedding").cast("array<double>")).alias(
            "pos", "comp"
        ),
    ).filter(F.col("pos") < 8)
    return exploded.groupBy("label", "pos").agg(
        F.round(F.avg("comp"), 6).alias("centroid_val"),
        F.count("*").alias("n_vectors"),
    )


@register(
    "bpe_ish_tokens",
    """
WITH tok AS (
  SELECT doc_id,
         regexp_extract_all(lower(text), '[a-z]+|[0-9]+|[^a-z0-9\\s]+')
           AS pieces
  FROM documents
)
SELECT doc_id,
       CAST(len(pieces) AS INTEGER) AS n_pieces,
       CAST(len(list_distinct(pieces)) AS INTEGER) AS n_uniq_pieces,
       CAST(CAST(list_sum([length(p) for p in pieces]) AS BIGINT)
            AS BIGINT) AS total_chars
FROM tok
""",
)
def bpe_ish_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE-ish regex tokenization (letter runs / digit runs / symbol
    runs) — the token-counting primitive for data budgeting."""
    docs = load_table(spark, sf_dir, "documents")
    pieces = F.expr(
        r"regexp_extract_all(lower(text), '[a-z]+|[0-9]+|[^a-z0-9\\s]+', 0)"
    )
    d = docs.select("doc_id", pieces.alias("pieces"))
    return d.select(
        "doc_id",
        F.size("pieces").alias("n_pieces"),
        F.size(F.array_distinct("pieces")).alias("n_uniq_pieces"),
        F.expr(
            "aggregate(pieces, cast(0 as bigint), (a, p) -> a + length(p))"
        ).alias("total_chars"),
    )


@register(
    "approx_aggregates",
    """
SELECT l_returnflag,
       CAST(count(DISTINCT l_partkey) AS BIGINT) AS exact_parts,
       CAST(count(DISTINCT l_orderkey) AS BIGINT) AS exact_orders,
       round(quantile_cont(CAST(floor(l_extendedprice * 100) AS BIGINT), 0.5)
             / 100.0, 6) AS exact_median,
       TRUE AS parts_within_15pct,
       TRUE AS orders_within_15pct,
       TRUE AS median_within_2pct
FROM lineitem
GROUP BY l_returnflag
ORDER BY l_returnflag
""",
)
def approx_aggregates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The at-scale approximate aggregates (HyperLogLog distinct,
    sketch-based quantiles) made ORACLE-CHECKABLE (VERDICT r4 #2):
    different engines use different sketches, so the estimates
    themselves can't hash-match — instead the query emits the EXACT
    answers (which DuckDB reproduces) plus bounded-relative-error
    flags computed Spark-side from the sketch estimates. The oracle
    emits literal TRUE for each flag, so a sketch drifting outside its
    error envelope (HLL rsd=0.05 → 15% generous bound; KLL-style
    percentile_approx at accuracy=10000 → 2%) hash-mismatches the
    round's correctness gate instead of passing silently.

    At 100 TB the approx tier is what you'd actually run (one pass, no
    per-group distinct shuffle); the exact tier here doubles as its
    audit, the same shape as the recall audits on the ANN side."""
    li = load_table(spark, sf_dir, "lineitem")
    agg = li.groupBy("l_returnflag").agg(
        F.countDistinct("l_partkey").alias("exact_parts"),
        F.countDistinct("l_orderkey").alias("exact_orders"),
        F.percentile(
            F.floor(F.col("l_extendedprice") * 100).cast("long"), F.lit(0.5)
        ).alias("median_cents"),
        F.approx_count_distinct("l_partkey").alias("approx_parts"),
        F.approx_count_distinct("l_orderkey").alias("approx_orders"),
        F.percentile_approx(
            F.floor(F.col("l_extendedprice") * 100).cast("long"),
            F.lit(0.5),
            F.lit(10000),
        ).alias("approx_median_cents"),
    )

    def _within(approx, exact, tol: float):
        return (
            F.abs(approx.cast("double") - exact.cast("double"))
            <= F.lit(tol) * exact.cast("double")
        )

    return (
        agg.select(
            "l_returnflag",
            "exact_parts",
            "exact_orders",
            F.round(F.col("median_cents") / 100.0, 6).alias("exact_median"),
            _within(
                F.col("approx_parts"), F.col("exact_parts"), 0.15
            ).alias("parts_within_15pct"),
            _within(
                F.col("approx_orders"), F.col("exact_orders"), 0.15
            ).alias("orders_within_15pct"),
            _within(
                F.col("approx_median_cents"), F.col("median_cents"), 0.02
            ).alias("median_within_2pct"),
        )
        .orderBy("l_returnflag")
    )


@register(
    "winsorized_price_stats",
    """
WITH bounds AS (
  SELECT l_returnflag,
         round(quantile_cont(l_extendedprice, 0.05), 6) AS lo,
         round(quantile_cont(l_extendedprice, 0.95), 6) AS hi
  FROM lineitem GROUP BY l_returnflag
),
clipped AS (
  SELECT l.l_returnflag,
         CAST(floor(least(greatest(l.l_extendedprice, b.lo), b.hi) * 100)
              AS BIGINT) AS w_cents,
         CAST(floor(l.l_extendedprice * 100) AS BIGINT) AS raw_cents
  FROM lineitem l JOIN bounds b ON b.l_returnflag = l.l_returnflag
)
SELECT c.l_returnflag, b.lo, b.hi,
       CAST(count(*) AS BIGINT) AS n,
       round(CAST(sum(c.raw_cents) AS DOUBLE) / 100.0 / count(*), 6)
         AS raw_mean,
       round(CAST(sum(c.w_cents) AS DOUBLE) / 100.0 / count(*), 6)
         AS winsorized_mean
FROM clipped c JOIN bounds b ON b.l_returnflag = c.l_returnflag
GROUP BY c.l_returnflag, b.lo, b.hi
ORDER BY c.l_returnflag
""",
)
def winsorized_price_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust (winsorized) means: per-group p05/p95 bounds, values
    clipped into [lo, hi], then the usual exact-integer-cents mean —
    the outlier-resistant statistic a feature pipeline reports next to
    the raw mean. Bounds are rounded to 6 BEFORE clipping so both
    engines clip at the identical threshold. Two passes over the fact
    (bounds, then clip+sum), bounds broadcast back — no row-level
    sort survives to the plan.
    """
    li = load_table(spark, sf_dir, "lineitem")
    bounds = li.groupBy("l_returnflag").agg(
        F.round(F.percentile("l_extendedprice", 0.05), 6).alias("lo"),
        F.round(F.percentile("l_extendedprice", 0.95), 6).alias("hi"),
    )
    clipped = li.join(F.broadcast(bounds), "l_returnflag").select(
        "l_returnflag",
        "lo",
        "hi",
        F.floor(
            F.least(
                F.greatest(F.col("l_extendedprice"), F.col("lo")),
                F.col("hi"),
            )
            * 100
        )
        .cast("long")
        .alias("w_cents"),
        F.floor(F.col("l_extendedprice") * 100).cast("long").alias(
            "raw_cents"
        ),
    )
    return (
        clipped.groupBy("l_returnflag", "lo", "hi")
        .agg(
            F.count("*").alias("n"),
            F.round(
                F.sum("raw_cents").cast("double") / 100.0 / F.count("*"), 6
            ).alias("raw_mean"),
            F.round(
                F.sum("w_cents").cast("double") / 100.0 / F.count("*"), 6
            ).alias("winsorized_mean"),
        )
        .select(
            "l_returnflag", "lo", "hi", "n", "raw_mean", "winsorized_mean"
        )
        .orderBy("l_returnflag")
    )


# ONE SQL string, both engines (like sql_interface_pricing): Spark 4's
# WITH RECURSIVE and DuckDB's execute it verbatim. The synthetic
# parent edge (doc - 7 while doc % 49 >= 7) gives every doc a chain of
# AT MOST 6 hops at ANY scale factor — recursion depth is bounded by
# the formula, not the data, which is what makes a recursive CTE
# scale-safe. (The near-dup graph's transitive closure is NOT safe to
# recurse this way — UNION ALL walk counts explode on its high-degree
# components (degree >100 at sf0.1); that closure belongs to the
# iterative operator dedup_clusters_fixpoint, which converges in
# O(diameter) joins instead of O(degree^diameter) paths.)
_RECURSIVE_CHAIN_TEXT = """
WITH RECURSIVE chain(doc_id, cur, depth) AS (
  SELECT doc_id, doc_id, 0 FROM documents
  UNION ALL
  SELECT doc_id, cur - 7, depth + 1 FROM chain
  WHERE cur % 49 >= 7
)
SELECT depth,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(doc_id) AS BIGINT) AS id_sum,
       CAST(sum(cur) AS BIGINT) AS root_sum
FROM chain
WHERE cur % 49 < 7
GROUP BY depth
ORDER BY depth
"""


@register("recursive_ancestry_rollup", _RECURSIVE_CHAIN_TEXT)
def recursive_ancestry_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark 4 recursive CTE (WITH RECURSIVE ... UNION ALL): every doc
    follows a synthetic parent chain (doc → doc-7 while doc % 49 ≥ 7)
    to its root — formula-bounded at ≤6 hops regardless of scale — and
    the terminal rows roll up per depth. The SAME SQL text runs
    verbatim through spark.sql and DuckDB, extending the SQL-interface
    parity surface to the recursive feature a hierarchy/BOM workload
    needs."""
    load_table(spark, sf_dir, "documents").createOrReplaceTempView(
        "documents"
    )
    return spark.sql(_RECURSIVE_CHAIN_TEXT)
