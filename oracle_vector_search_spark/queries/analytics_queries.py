"""OLAP analytics coverage — multi-level aggregation (ROLLUP), the
ranked-window function suite (ntile / percent_rank / cume_dist /
lag / lead), and exact interpolated quantiles.

These close the "BI surface" gaps a warehouse user would expect from
an engine that already covers joins/top-k/aggregates: super-aggregate
grouping, distribution analytics, and percentile reporting — each with
an exact DuckDB oracle.

Determinism: super-aggregate NULLs are coalesced to out-of-domain
sentinels ('ALL' / -1) on BOTH sides so the hash compare never meets
an engine-specific NULL ordering; every window is totally ordered via
a unique tie-break key; quantiles use linear interpolation (identical
in Spark ``percentile`` and DuckDB ``quantile_cont``) rounded to 6.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window, functions as F

from oracle_vector_search_spark.functions import text as T
from oracle_vector_search_spark.io import load_table
from oracle_vector_search_spark.plans.ckpt import pin
from oracle_vector_search_spark.queries import register


def _cents(col) -> F.Column:
    return F.floor(
        (F.col(col) if isinstance(col, str) else col) * 100
    ).cast("long")


@register(
    "revenue_rollup_nation_year",
    """
WITH base AS (
  SELECT n.n_name,
         CAST(EXTRACT(year FROM o.o_orderdate) AS INTEGER) AS o_year,
         CAST(floor(o.o_totalprice * 100) AS BIGINT) AS cents
  FROM orders o
  JOIN customer c ON c.c_custkey = o.o_custkey
  JOIN nation n   ON n.n_nationkey = c.c_nationkey
)
SELECT coalesce(n_name, 'ALL') AS nation,
       coalesce(o_year, -1) AS o_year,
       CAST(sum(cents) AS BIGINT) AS revenue_cents,
       CAST(count(*) AS BIGINT) AS n_orders
FROM base
GROUP BY ROLLUP(n_name, o_year)
""",
)
def revenue_rollup_nation_year(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Super-aggregates via ROLLUP(nation, year): detail rows plus
    per-nation subtotals plus the grand total in ONE pass — Spark
    computes all grouping levels with a single shuffle (the rollup
    expands grouping sets map-side; no re-scan per level, which is the
    whole point at 100 TB vs running 3 separate aggregations).

    NULL grouping markers are coalesced to out-of-domain sentinels so
    the oracle hash never depends on engine NULL canonicalization.
    """
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    nation = load_table(spark, sf_dir, "nation")
    base = (
        orders.join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(nation), F.col("c_nationkey") == nation.n_nationkey)
        .select(
            "n_name",
            F.year("o_orderdate").alias("o_year"),
            _cents("o_totalprice").alias("cents"),
        )
    )
    return (
        base.rollup("n_name", "o_year")
        .agg(
            F.sum("cents").alias("revenue_cents"),
            F.count(F.lit(1)).alias("n_orders"),
        )
        .select(
            F.coalesce("n_name", F.lit("ALL")).alias("nation"),
            F.coalesce("o_year", F.lit(-1)).alias("o_year"),
            "revenue_cents",
            "n_orders",
        )
    )


@register(
    "customer_spend_window_suite",
    """
WITH spend AS (
  SELECT c.c_custkey, c.c_mktsegment,
         CAST(sum(CAST(floor(o.o_totalprice * 100) AS BIGINT))
              AS BIGINT) AS spend_cents
  FROM customer c
  JOIN orders o ON o.o_custkey = c.c_custkey
  GROUP BY c.c_custkey, c.c_mktsegment
)
SELECT c_custkey, c_mktsegment, spend_cents,
       CAST(ntile(4) OVER w AS INTEGER) AS spend_quartile,
       round(percent_rank() OVER w, 6) AS pct_rank,
       round(cume_dist() OVER w, 6) AS cume,
       CAST(coalesce(lag(spend_cents) OVER w, -1) AS BIGINT)
         AS prev_spend_cents,
       CAST(coalesce(lead(spend_cents) OVER w, -1) AS BIGINT)
         AS next_spend_cents
FROM spend
WINDOW w AS (PARTITION BY c_mktsegment
             ORDER BY spend_cents, c_custkey)
""",
)
def customer_spend_window_suite(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """The ranked-window analytics suite over per-customer spend within
    market segment: quartile buckets (ntile), relative standing
    (percent_rank, cume_dist), and neighbor comparison (lag/lead) — all
    five functions share ONE window spec, so Spark evaluates them in a
    single sort of a single shuffle on c_mktsegment.

    The window order includes c_custkey as a unique tie-break: ntile
    and lag/lead are order-sensitive, so a total order is what makes
    the result engine-exact. NULL frame edges → -1 sentinels.
    """
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    spend = (
        cust.join(orders, cust.c_custkey == orders.o_custkey)
        .groupBy("c_custkey", "c_mktsegment")
        .agg(F.sum(_cents("o_totalprice")).alias("spend_cents"))
    )
    w = Window.partitionBy("c_mktsegment").orderBy(
        "spend_cents", "c_custkey"
    )
    return spend.select(
        "c_custkey",
        "c_mktsegment",
        "spend_cents",
        F.ntile(4).over(w).alias("spend_quartile"),
        F.round(F.percent_rank().over(w), 6).alias("pct_rank"),
        F.round(F.cume_dist().over(w), 6).alias("cume"),
        F.coalesce(F.lag("spend_cents").over(w), F.lit(-1))
        .cast("long")
        .alias("prev_spend_cents"),
        F.coalesce(F.lead("spend_cents").over(w), F.lit(-1))
        .cast("long")
        .alias("next_spend_cents"),
    )


@register(
    "quantity_quantiles_by_flag",
    """
SELECT l_returnflag,
       round(quantile_cont(l_quantity, 0.25), 6) AS p25,
       round(quantile_cont(l_quantity, 0.50), 6) AS p50,
       round(quantile_cont(l_quantity, 0.75), 6) AS p75,
       round(quantile_cont(l_quantity, 0.95), 6) AS p95,
       round(avg(l_quantity), 6) AS mean_qty,
       CAST(count(*) AS BIGINT) AS n_lines
FROM lineitem
GROUP BY l_returnflag
""",
)
def quantity_quantiles_by_flag(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Exact interpolated percentiles per group — Spark's ``percentile``
    aggregate and DuckDB's ``quantile_cont`` share linear-interpolation
    semantics, so the oracle is value-exact (to the 6-decimal policy).

    Scale note: exact percentiles sort each group's values once inside
    the aggregation buffer — fine for bounded groups (3 return flags).
    For high-cardinality groups at 100 TB the approx_percentile /
    t-digest path (sketch_queries family) is the documented alternative;
    this query is the exact tier of that pair.
    """
    li = load_table(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.round(F.expr("percentile(l_quantity, 0.25D)"), 6).alias("p25"),
        F.round(F.expr("percentile(l_quantity, 0.50D)"), 6).alias("p50"),
        F.round(F.expr("percentile(l_quantity, 0.75D)"), 6).alias("p75"),
        F.round(F.expr("percentile(l_quantity, 0.95D)"), 6).alias("p95"),
        F.round(F.avg("l_quantity"), 6).alias("mean_qty"),
        F.count(F.lit(1)).alias("n_lines"),
    )


@register(
    "set_ops_customer_cohorts",
    """
WITH y97 AS (
  SELECT DISTINCT o_custkey FROM orders
  WHERE o_orderdate >= TIMESTAMP '1997-01-01 00:00:00'
    AND o_orderdate <  TIMESTAMP '1998-01-01 00:00:00'
), y98 AS (
  SELECT DISTINCT o_custkey FROM orders
  WHERE o_orderdate >= TIMESTAMP '1998-01-01 00:00:00'
    AND o_orderdate <  TIMESTAMP '1999-01-01 00:00:00'
), l97 AS (
  SELECT l_partkey FROM lineitem
  WHERE l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
    AND l_shipdate <  TIMESTAMP '1998-01-01 00:00:00'
), l98 AS (
  SELECT l_partkey FROM lineitem
  WHERE l_shipdate >= TIMESTAMP '1998-01-01 00:00:00'
    AND l_shipdate <  TIMESTAMP '1999-01-01 00:00:00'
)
SELECT 'repeat' AS cohort,
       CAST((SELECT count(*) FROM (SELECT * FROM y97 INTERSECT SELECT * FROM y98))
            AS BIGINT) AS n
UNION ALL
SELECT 'churned' AS cohort,
       CAST((SELECT count(*) FROM (SELECT * FROM y97 EXCEPT SELECT * FROM y98))
            AS BIGINT) AS n
UNION ALL
SELECT 'part_lines_bag_diff' AS cohort,
       CAST((SELECT count(*) FROM (SELECT * FROM l97 EXCEPT ALL SELECT * FROM l98))
            AS BIGINT) AS n
""",
)
def set_ops_customer_cohorts(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Relational set operators as physical plan nodes: INTERSECT
    (repeat customers 1997∩1998), EXCEPT (churned customers), and
    EXCEPT ALL (bag difference of part-lineitem multisets — duplicates
    preserved, so the count reflects multiplicity, not membership).

    Spark implements these as left-semi / left-anti aggregate joins
    under the hood — each leg is one shuffle on the compared column,
    the same plan you'd hand-write, which is why expressing the intent
    declaratively is free at 100 TB.
    """
    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")

    def year_custs(y: int) -> DataFrame:
        return (
            orders.filter(
                (F.col("o_orderdate") >= F.lit(f"{y}-01-01").cast("timestamp"))
                & (F.col("o_orderdate") < F.lit(f"{y + 1}-01-01").cast("timestamp"))
            )
            .select("o_custkey")
            .distinct()
        )

    def year_parts(y: int) -> DataFrame:
        return li.filter(
            (F.col("l_shipdate") >= F.lit(f"{y}-01-01").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit(f"{y + 1}-01-01").cast("timestamp"))
        ).select("l_partkey")

    y97, y98 = year_custs(1997), year_custs(1998)
    repeat = y97.intersect(y98).agg(
        F.lit("repeat").alias("cohort"), F.count(F.lit(1)).alias("n")
    )
    churned = y97.subtract(y98).agg(
        F.lit("churned").alias("cohort"), F.count(F.lit(1)).alias("n")
    )
    bag_diff = (
        year_parts(1997)
        .exceptAll(year_parts(1998))
        .agg(
            F.lit("part_lines_bag_diff").alias("cohort"),
            F.count(F.lit(1)).alias("n"),
        )
    )
    return repeat.unionAll(churned).unionAll(bag_diff)


@register(
    "copurchase_part_pairs_top20",
    """
WITH pp AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
pairs AS (
  SELECT a.l_partkey AS part_a, b.l_partkey AS part_b,
         CAST(count(*) AS BIGINT) AS n_orders
  FROM pp a
  JOIN pp b ON a.l_orderkey = b.l_orderkey
           AND a.l_partkey < b.l_partkey
  GROUP BY part_a, part_b
)
SELECT part_a, part_b, n_orders, CAST(rn AS INTEGER) AS rank
FROM (
  SELECT part_a, part_b, n_orders,
         row_number() OVER (
           ORDER BY n_orders DESC, part_a, part_b) AS rn
  FROM pairs
) r
WHERE rn <= 20
ORDER BY rank
""",
)
def copurchase_part_pairs_top20(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Market-basket pair mining: the 20 most co-purchased part pairs
    (support counting — the candidate-generation step of frequent-
    itemset mining). Distinct (order, part) FIRST, then the within-
    order self-join: the quadratic blowup is bounded by basket size
    (≤ lines-per-order), never corpus size, and the pair aggregation
    is the only large shuffle. Top-20 compiles to
    TakeOrderedAndProject.
    """
    li = load_table(spark, sf_dir, "lineitem")
    pp = li.select("l_orderkey", "l_partkey").distinct()
    a = pp.select(
        F.col("l_orderkey").alias("ok"), F.col("l_partkey").alias("part_a")
    )
    b = pp.select(
        F.col("l_orderkey").alias("ok"), F.col("l_partkey").alias("part_b")
    )
    pairs = (
        a.join(b, "ok")
        .filter(F.col("part_a") < F.col("part_b"))
        .groupBy("part_a", "part_b")
        .agg(F.count(F.lit(1)).alias("n_orders"))
    )
    from oracle_vector_search_spark.operators.topk import (
        global_topn_ranked,
    )

    return global_topn_ranked(
        pairs, 20, F.desc("n_orders"), F.asc("part_a"), F.asc("part_b")
    ).orderBy("rank")


@register(
    "pareto_skyline_orders",
    """
WITH pts AS (
  SELECT CAST(floor(o_totalprice * 100) AS BIGINT) AS price_cents,
         epoch_ns(o_orderdate) // 1000 AS date_us,
         CAST(count(*) AS BIGINT) AS n_orders
  FROM orders GROUP BY 1, 2
), flagged AS (
  SELECT *, max(date_us) OVER (
    ORDER BY price_cents DESC, date_us DESC
    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prev_max
  FROM pts
)
SELECT price_cents, date_us, n_orders
FROM flagged
WHERE prev_max IS NULL OR prev_max < date_us
""",
)
def pareto_skyline_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skyline (Pareto-dominance) query over distinct
    (price, orderdate) points: keep the points no other point beats on
    BOTH price and recency (≥/≥ with at least one strict; duplicate
    points collapse to one row with a count, which also makes the
    equal-point no-domination case exact).

    The sort-order trick: under (price DESC, date DESC) every potential
    dominator precedes its victim, so a point survives iff the running
    max of preceding dates is strictly below its own. Skyline is
    DECOMPOSABLE — skyline(S) = skyline(∪ skyline(parts)) — so stage 1
    runs that formula per price-bucket in parallel (local windows,
    one shuffle), and stage 2 re-runs it over the few local survivors
    (window over a constant anchor that Spark 4's
    EliminateWindowPartitions can't fold — the bounded-input idiom
    from operators.topk). At 100 TB stage 1 does all the heavy
    lifting; stage 2's input is ~skyline-sized per bucket.
    """
    orders = load_table(spark, sf_dir, "orders")
    pts = (
        orders.groupBy(
            _cents("o_totalprice").alias("price_cents"),
            F.unix_micros(F.col("o_orderdate").cast("timestamp")).alias(
                "date_us"
            ),
        )
        .agg(F.count(F.lit(1)).alias("n_orders"))
    )
    # stage 1: local skyline per fixed-width price bucket
    bucketed = pts.withColumn(
        "bkt", F.col("price_cents") - F.pmod("price_cents", F.lit(5_000_00))
    )
    w1 = (
        Window.partitionBy("bkt")
        .orderBy(F.desc("price_cents"), F.desc("date_us"))
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    local = bucketed.withColumn(
        "prev_max", F.max("date_us").over(w1)
    ).filter(
        F.col("prev_max").isNull()
        | (F.col("prev_max") < F.col("date_us"))
    )
    # stage 2: exact skyline over the (small) union of local survivors;
    # constant-but-unfoldable anchor keeps the single partition silent
    # and deliberate (see operators/topk.py)
    anchor = F.pmod(F.hash("price_cents"), F.lit(1))
    w2 = (
        Window.partitionBy(anchor)
        .orderBy(F.desc("price_cents"), F.desc("date_us"))
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    return (
        local.drop("bkt", "prev_max")
        .withColumn("prev_max", F.max("date_us").over(w2))
        .filter(
            F.col("prev_max").isNull()
            | (F.col("prev_max") < F.col("date_us"))
        )
        .select("price_cents", "date_us", "n_orders")
    )


@register(
    "winsorized_value_sums",
    """
WITH e AS (
  SELECT event_type,
         CAST(floor(value * 100) AS BIGINT) AS cents
  FROM events
), bounds AS (
  SELECT event_type,
         CAST(floor(quantile_cont(cents, 0.05)) AS BIGINT) AS lo,
         CAST(floor(quantile_cont(cents, 0.95)) AS BIGINT) AS hi
  FROM e GROUP BY event_type
)
SELECT e.event_type,
       CAST(count(*) AS BIGINT) AS n_events,
       CAST(sum(least(greatest(e.cents, b.lo), b.hi)) AS BIGINT)
         AS winsorized_cents_sum,
       CAST(sum(CASE WHEN e.cents < b.lo OR e.cents > b.hi
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_clamped,
       b.lo, b.hi
FROM e JOIN bounds b USING (event_type)
GROUP BY e.event_type, b.lo, b.hi
""",
)
def winsorized_value_sums(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winsorized (outlier-clamped) aggregation: per event type, clamp
    values into [⌊p05⌋, ⌊p95⌋] and sum — the robust-statistics
    preprocessing step before any mean-based metric. Bounds floor to
    integers as part of the definition, so after the one float
    interpolation (identical in both engines) every clamp comparison
    and the final sum are exact integer math.

    Two aggregations over one scan: the bounds table is
    group-cardinality-sized and broadcasts back onto the stream —
    no second full shuffle of the fact data at scale."""
    e = load_table(spark, sf_dir, "events").select(
        "event_type",
        F.floor(F.col("value") * 100).cast("long").alias("cents"),
    )
    bounds = e.groupBy("event_type").agg(
        F.floor(F.expr("percentile(cents, 0.05D)"))
        .cast("long")
        .alias("lo"),
        F.floor(F.expr("percentile(cents, 0.95D)"))
        .cast("long")
        .alias("hi"),
    )
    clamped = F.least(F.greatest(F.col("cents"), F.col("lo")), F.col("hi"))
    out_of_range = (F.col("cents") < F.col("lo")) | (
        F.col("cents") > F.col("hi")
    )
    return (
        e.join(F.broadcast(bounds), "event_type")
        .groupBy("event_type", "lo", "hi")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(clamped).alias("winsorized_cents_sum"),
            F.sum(out_of_range.cast("long")).alias("n_clamped"),
        )
        .select(
            "event_type", "n_events", "winsorized_cents_sum",
            "n_clamped", "lo", "hi",
        )
    )


@register(
    "revenue_yoy_growth",
    """
WITH yearly AS (
  SELECT CAST(EXTRACT(year FROM o_orderdate) AS INTEGER) AS o_year,
         CAST(sum(CAST(floor(o_totalprice * 100) AS BIGINT)) AS BIGINT)
           AS revenue_cents
  FROM orders GROUP BY 1
)
SELECT o_year, revenue_cents,
       CAST(coalesce(lag(revenue_cents) OVER (ORDER BY o_year), -1)
            AS BIGINT) AS prev_year_cents,
       round(CASE WHEN lag(revenue_cents) OVER (ORDER BY o_year)
                       IS NULL THEN -999
                  ELSE (CAST(revenue_cents AS DOUBLE)
                        - lag(revenue_cents) OVER (ORDER BY o_year))
                       / lag(revenue_cents) OVER (ORDER BY o_year)
             END, 6) AS yoy_growth
FROM yearly
""",
)
def revenue_yoy_growth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Year-over-year growth: yearly revenue (exact cents) + lag +
    one IEEE division per row from identical integers. The window
    input is years — a handful of rows after full aggregation — so
    the single partition is anchored with the constant-but-unfoldable
    trick (operators/topk.py) rather than left as a warning-prone
    global window. First year reports sentinel growth -999."""
    orders = load_table(spark, sf_dir, "orders")
    yearly = orders.groupBy(
        F.year("o_orderdate").alias("o_year")
    ).agg(
        F.sum(F.floor(F.col("o_totalprice") * 100).cast("long")).alias(
            "revenue_cents"
        )
    )
    anchor = F.pmod(F.hash("o_year"), F.lit(1))
    w = Window.partitionBy(anchor).orderBy("o_year")
    prev = F.lag("revenue_cents").over(w)
    return yearly.select(
        "o_year",
        "revenue_cents",
        F.coalesce(prev, F.lit(-1)).cast("long").alias("prev_year_cents"),
        F.round(
            F.when(prev.isNull(), F.lit(-999.0)).otherwise(
                (F.col("revenue_cents").cast("double") - prev) / prev
            ),
            6,
        ).alias("yoy_growth"),
    )


@register(
    "top_orders_with_ties",
    """
WITH r AS (
  SELECT o_custkey,
         o_orderkey,
         CAST(floor(o_totalprice * 100) AS BIGINT) AS totalprice_cents,
         CAST(rank() OVER (
           PARTITION BY o_custkey
           ORDER BY CAST(floor(o_totalprice * 100) AS BIGINT) DESC
         ) AS INTEGER) AS price_rank
  FROM orders
)
SELECT o_custkey, o_orderkey, totalprice_cents, price_rank
FROM r WHERE price_rank <= 2 AND o_custkey < 100
""",
)
def top_orders_with_ties(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-N WITH ties (``rank()``, not ``row_number()``): every order
    tying a customer's top-2 price levels survives, so the per-key
    output size is data-dependent — the WITH TIES semantics SQL:2008
    FETCH FIRST ... WITH TIES exposes, and the third ranking function
    family member after the suite's row_number (top-k) and dense_rank
    coverage. Spark still plans the rank filter as WindowGroupLimit
    (rank-based group limits push down like row_number ones)."""
    orders = load_table(spark, sf_dir, "orders").filter(
        F.col("o_custkey") < 100
    )
    w = Window.partitionBy("o_custkey").orderBy(
        F.desc(F.floor(F.col("o_totalprice") * 100).cast("long"))
    )
    return (
        orders.select(
            "o_custkey",
            "o_orderkey",
            F.floor(F.col("o_totalprice") * 100)
            .cast("long")
            .alias("totalprice_cents"),
            F.rank().over(w).alias("price_rank"),
        )
        .filter(F.col("price_rank") <= 2)
    )


@register(
    "event_type_value_mode",
    """
WITH c AS (
  SELECT event_type,
         CAST(floor(value * 100) AS BIGINT) AS cents,
         CAST(count(*) AS BIGINT) AS n
  FROM events GROUP BY event_type, cents
)
SELECT event_type, cents AS mode_cents, n AS n_occurrences
FROM (
  SELECT *, row_number() OVER (
    PARTITION BY event_type ORDER BY n DESC, cents ASC) AS rn
  FROM c
) r WHERE rn = 1
""",
)
def event_type_value_mode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic mode: the most frequent value per group with an
    explicit lowest-value tie-break — built-in ``mode()`` returns an
    ARBITRARY element on ties in both engines, which can never pass a
    cross-engine hash gate, so the engine-portable mode is
    count-groupBy + ranked argmax. Two shuffles (value counts, then
    the per-group argmax on the much smaller count table)."""
    ev = load_table(spark, sf_dir, "events")
    c = ev.groupBy(
        "event_type",
        F.floor(F.col("value") * 100).cast("long").alias("cents"),
    ).agg(F.count(F.lit(1)).alias("n"))
    w = Window.partitionBy("event_type").orderBy(
        F.desc("n"), F.asc("cents")
    )
    return (
        c.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            "event_type",
            F.col("cents").alias("mode_cents"),
            F.col("n").alias("n_occurrences"),
        )
    )


_CF_TOP = 3  # similar items kept per item
_CF_MIN_CO = 2  # minimum co-occurrence support


@register(
    "item_cf_similar_parts_top3",
    f"""
WITH lp AS (
  SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem
), supp AS (
  SELECT pk, CAST(count(*) AS BIGINT) AS n FROM lp GROUP BY pk
), co AS (
  SELECT a.pk AS pa, b.pk AS pb, CAST(count(*) AS BIGINT) AS c
  FROM lp a JOIN lp b ON a.ok = b.ok AND a.pk <> b.pk
  GROUP BY a.pk, b.pk
  HAVING count(*) >= {_CF_MIN_CO}
), scored AS (
  SELECT co.pa, co.pb, co.c,
         round(co.c * 1.0 / (sqrt(sa.n * 1.0) * sqrt(sb.n * 1.0)), 6)
           AS cosine
  FROM co
  JOIN supp sa ON sa.pk = co.pa
  JOIN supp sb ON sb.pk = co.pb
), ranked AS (
  SELECT pa, pb, c, cosine,
         CAST(row_number() OVER (
           PARTITION BY pa ORDER BY cosine DESC, pb
         ) AS INTEGER) AS rank
  FROM scored
)
SELECT pa AS part, pb AS similar_part, c AS n_co_orders,
       cosine, rank
FROM ranked WHERE rank <= {_CF_TOP}
""",
)
def item_cf_similar_parts_top3(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Item-item collaborative filtering (Sarwar 2001): cosine over
    order co-occurrence — sim(a,b) = |orders(a)∩orders(b)| /
    √(|orders(a)|·|orders(b)|) — with a support-2 floor, top-3 per
    item, ties on the partner key. The batch that powers an
    'also-bought' surface.

    Scale shape: co-occurrence is per-order quadratic (bounded by
    lines/order) and groups on the pair key — one shuffle; supports
    broadcast back; per-item top-k is WindowGroupLimit-pruned. At
    100 TB you floor support higher and/or LSH-prune the pair space,
    same as the dedup tiers.
    """
    # pin the distinct projection: the self-join reads it twice and the
    # support table a third time
    lp = pin(
        load_table(spark, sf_dir, "lineitem")
        .select(
            F.col("l_orderkey").alias("ok"), F.col("l_partkey").alias("pk")
        )
        .distinct(),
    )
    supp = lp.groupBy("pk").agg(F.count(F.lit(1)).alias("n"))
    a = lp.select("ok", F.col("pk").alias("pa"))
    b = lp.select(F.col("ok").alias("ok2"), F.col("pk").alias("pb"))
    co = (
        a.join(
            b,
            (F.col("ok") == F.col("ok2"))
            & (F.col("pa") != F.col("pb")),
        )
        .groupBy("pa", "pb")
        .agg(F.count(F.lit(1)).alias("c"))
        .filter(F.col("c") >= _CF_MIN_CO)
    )
    scored = (
        co.join(
            F.broadcast(
                supp.select(F.col("pk").alias("pa"), F.col("n").alias("na"))
            ),
            "pa",
        )
        .join(
            F.broadcast(
                supp.select(F.col("pk").alias("pb"), F.col("n").alias("nb"))
            ),
            "pb",
        )
        .select(
            "pa",
            "pb",
            "c",
            F.round(
                F.col("c")
                * F.lit(1.0)
                / (
                    F.sqrt(F.col("na") * F.lit(1.0))
                    * F.sqrt(F.col("nb") * F.lit(1.0))
                ),
                6,
            ).alias("cosine"),
        )
    )
    w = Window.partitionBy("pa").orderBy(F.desc("cosine"), F.asc("pb"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= _CF_TOP)
        .select(
            F.col("pa").alias("part"),
            F.col("pb").alias("similar_part"),
            F.col("c").alias("n_co_orders"),
            "cosine",
            "rank",
        )
    )


_ALS_Q_BITS = 20  # item factors initialized as h/2^20, h in [1, 2^20]
_ALS_Q_MOD = 1 << _ALS_Q_BITS


@register(
    "als_rank1_user_step",
    f"""
WITH r AS (
  SELECT o.o_custkey AS user_id, l.l_partkey AS item_id,
         CAST(sum(CAST(floor(l.l_quantity) AS BIGINT)) AS BIGINT) AS rating
  FROM lineitem l JOIN orders o ON o.o_orderkey = l.l_orderkey
  GROUP BY 1, 2
), q AS (
  SELECT item_id,
         1 + (CAST(('0x' || substr(md5('alsq:' || item_id::VARCHAR), 1, 7))
                   AS BIGINT) % {_ALS_Q_MOD}) AS h
  FROM (SELECT DISTINCT item_id FROM r)
), m AS (
  SELECT r.user_id,
         CAST(count(*) AS BIGINT) AS n_items,
         CAST(sum(r.rating * q.h) AS BIGINT) AS sum_rq,
         CAST(sum(q.h * q.h) AS BIGINT) AS sum_qq
  FROM r JOIN q ON q.item_id = r.item_id
  GROUP BY r.user_id
)
SELECT user_id, n_items, sum_rq, sum_qq,
       round({_ALS_Q_MOD}.0 * sum_rq / sum_qq, 6) AS user_factor
FROM m
""",
)
def als_rank1_user_step(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One exact ALS half-step at rank 1 (the kmeans-chain pattern
    applied to matrix factorization): with item factors initialized as
    portable-hash dyadics q_i = h_i/2^20, the closed-form least-squares
    user factor is u = Σ(r·q)/Σ(q²) = 2^20·Σ(r·h)/Σ(h²). Ratings are
    integer quantities and h is integer, so BOTH moment sums are exact
    BIGINTs (order-free) and only the final division is IEEE double —
    the half-step is engine-exact, not just within rounding.

    Scale shape: ratings = one fact-fact join + (user,item) aggregation;
    factors broadcast; the user step is one user-key aggregation. The
    alternating iteration at scale persists each half-step's factor
    table at rest (kmeans-chain / signature-table discipline).
    """
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    r = (
        li.join(
            orders.select("o_orderkey", "o_custkey"),
            li.l_orderkey == F.col("o_orderkey"),
        )
        .groupBy(
            F.col("o_custkey").alias("user_id"),
            F.col("l_partkey").alias("item_id"),
        )
        .agg(
            F.sum(F.floor("l_quantity").cast("long")).alias("rating")
        )
    )
    q = r.select("item_id").distinct().select(
        "item_id",
        (
            F.lit(1)
            + F.expr(
                T.hash28_sql(
                    "concat('alsq:', cast(item_id as string))"
                )
            )
            % _ALS_Q_MOD
        ).alias("h"),
    )
    m = (
        r.join(F.broadcast(q), "item_id")
        .groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n_items"),
            F.sum(F.col("rating") * F.col("h")).alias("sum_rq"),
            F.sum(F.col("h") * F.col("h")).alias("sum_qq"),
        )
    )
    return m.select(
        "user_id",
        "n_items",
        "sum_rq",
        "sum_qq",
        F.round(
            F.lit(float(_ALS_Q_MOD))
            * F.col("sum_rq")
            / F.col("sum_qq"),
            6,
        ).alias("user_factor"),
    )


_AR_MIN_CO = 3  # minimum pair support (co-orders)


@register(
    "association_rules_pairs",
    f"""
WITH lp AS (
  SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem
), nb AS (
  SELECT CAST(count(DISTINCT ok) AS BIGINT) AS n_baskets FROM lp
), supp AS (
  SELECT pk, CAST(count(*) AS BIGINT) AS n FROM lp GROUP BY pk
), co AS (
  SELECT a.pk AS ante, b.pk AS cons, CAST(count(*) AS BIGINT) AS c
  FROM lp a JOIN lp b ON a.ok = b.ok AND a.pk <> b.pk
  GROUP BY a.pk, b.pk
  HAVING count(*) >= {_AR_MIN_CO}
)
SELECT co.ante, co.cons, co.c AS n_co_baskets,
       round(co.c * 1.0 / nb.n_baskets, 6) AS support,
       round(co.c * 1.0 / sa.n, 6) AS confidence,
       round(co.c * 1.0 * nb.n_baskets / (sa.n * sc.n), 6) AS lift
FROM co
JOIN supp sa ON sa.pk = co.ante
JOIN supp sc ON sc.pk = co.cons
CROSS JOIN nb
""",
)
def association_rules_pairs(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Association rules over order baskets (Agrawal 1993): for every
    directed pair with support ≥ 3 co-orders, emit support,
    confidence(a→b) = c_ab/c_a, and lift = N·c_ab/(c_a·c_b). All
    ratios are single divisions of exact BIGINT counts. The
    market-basket family's rule layer on top of the item-CF cosine.

    Scale shape: identical to the CF query — one per-order-bounded
    pair shuffle, supports broadcast back; the support floor does the
    pruning a-priori style (a pair below floor never joins).
    """
    lp = pin(
        load_table(spark, sf_dir, "lineitem")
        .select(
            F.col("l_orderkey").alias("ok"), F.col("l_partkey").alias("pk")
        )
        .distinct(),
    )
    nb = lp.select("ok").distinct().count()
    supp = lp.groupBy("pk").agg(F.count(F.lit(1)).alias("n"))
    a = lp.select("ok", F.col("pk").alias("ante"))
    b = lp.select(F.col("ok").alias("ok2"), F.col("pk").alias("cons"))
    co = (
        a.join(
            b,
            (F.col("ok") == F.col("ok2"))
            & (F.col("ante") != F.col("cons")),
        )
        .groupBy("ante", "cons")
        .agg(F.count(F.lit(1)).alias("c"))
        .filter(F.col("c") >= _AR_MIN_CO)
    )
    return (
        co.join(
            F.broadcast(
                supp.select(
                    F.col("pk").alias("ante"), F.col("n").alias("na")
                )
            ),
            "ante",
        )
        .join(
            F.broadcast(
                supp.select(
                    F.col("pk").alias("cons"), F.col("n").alias("nc")
                )
            ),
            "cons",
        )
        .select(
            "ante",
            "cons",
            F.col("c").alias("n_co_baskets"),
            F.round(F.col("c") * F.lit(1.0) / F.lit(nb), 6).alias(
                "support"
            ),
            F.round(F.col("c") * F.lit(1.0) / F.col("na"), 6).alias(
                "confidence"
            ),
            F.round(
                F.col("c")
                * F.lit(1.0)
                * F.lit(nb)
                / (F.col("na") * F.col("nc")),
                6,
            ).alias("lift"),
        )
    )
