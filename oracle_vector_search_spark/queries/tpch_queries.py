"""Additional TPC-H-shaped queries (Q2/Q7/Q10/Q12/Q19 analogues,
adapted to the fixture's columns) — breadth for the correctness gate
using the established determinism policies."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window, functions as F

from oracle_vector_search_spark.io import load_table
from oracle_vector_search_spark.plans.ckpt import pin
from oracle_vector_search_spark.queries import register


def _cents(col) -> F.Column:
    return F.floor(
        (F.col(col) if isinstance(col, str) else col) * 100
    ).cast("long")


@register(
    "min_cost_supplier_per_part",
    """
WITH costs AS (
  SELECT l.l_partkey, l.l_suppkey, s.s_name, s.s_acctbal,
         min(l.l_extendedprice / l.l_quantity) AS unit_cost
  FROM lineitem l JOIN supplier s ON s.s_suppkey = l.l_suppkey
  GROUP BY l.l_partkey, l.l_suppkey, s.s_name, s.s_acctbal
), ranked AS (
  SELECT l_partkey, l_suppkey, s_name,
         round(unit_cost, 6) AS best_unit_cost,
         row_number() OVER (
           PARTITION BY l_partkey ORDER BY unit_cost, l_suppkey) AS rn
  FROM costs
)
SELECT l_partkey, l_suppkey, s_name, best_unit_cost
FROM ranked WHERE rn = 1 AND l_partkey < 500
""",
)
def min_cost_supplier_per_part(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q2 shape: cheapest supplier per part (aggregate + ranked
    selection with deterministic tie-break)."""
    li = load_table(spark, sf_dir, "lineitem")
    supp = load_table(spark, sf_dir, "supplier")
    costs = (
        li.join(F.broadcast(supp), li.l_suppkey == supp.s_suppkey)
        .groupBy("l_partkey", "l_suppkey", "s_name", "s_acctbal")
        .agg(
            F.min(F.col("l_extendedprice") / F.col("l_quantity")).alias(
                "unit_cost"
            )
        )
    )
    w = Window.partitionBy("l_partkey").orderBy("unit_cost", "l_suppkey")
    return (
        costs.withColumn("rn", F.row_number().over(w))
        .filter((F.col("rn") == 1) & (F.col("l_partkey") < 500))
        .select(
            "l_partkey",
            "l_suppkey",
            "s_name",
            F.round("unit_cost", 6).alias("best_unit_cost"),
        )
    )


@register(
    "nation_pair_volume",
    """
SELECT sn.n_name AS supp_nation, cn.n_name AS cust_nation,
       CAST(year(l.l_shipdate) AS INTEGER) AS ship_year,
       CAST(sum(CAST(floor(l.l_extendedprice * (1 - l.l_discount) * 100)
                     AS BIGINT)) AS BIGINT) AS volume_cents
FROM lineitem l
JOIN supplier s ON s.s_suppkey = l.l_suppkey
JOIN nation sn ON sn.n_nationkey = s.s_nationkey
JOIN orders o ON o.o_orderkey = l.l_orderkey
JOIN customer c ON c.c_custkey = o.o_custkey
JOIN nation cn ON cn.n_nationkey = c.c_nationkey
WHERE sn.n_nationkey < 3 AND cn.n_nationkey < 3
  AND sn.n_nationkey <> cn.n_nationkey
GROUP BY sn.n_name, cn.n_name, year(l.l_shipdate)
""",
)
def nation_pair_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q7 shape: shipping volume between nation pairs per year —
    a six-way join with two roles for the same dimension table."""
    li = load_table(spark, sf_dir, "lineitem")
    supp = load_table(spark, sf_dir, "supplier")
    nation = load_table(spark, sf_dir, "nation")
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    sn = nation.select(
        F.col("n_nationkey").alias("sn_key"), F.col("n_name").alias("supp_nation")
    ).filter(F.col("sn_key") < 3)
    cn = nation.select(
        F.col("n_nationkey").alias("cn_key"), F.col("n_name").alias("cust_nation")
    ).filter(F.col("cn_key") < 3)
    j = (
        li.join(F.broadcast(supp), li.l_suppkey == supp.s_suppkey)
        .join(F.broadcast(sn), F.col("s_nationkey") == F.col("sn_key"))
        .join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(cn), F.col("c_nationkey") == F.col("cn_key"))
        .filter(F.col("sn_key") != F.col("cn_key"))
    )
    return j.groupBy(
        "supp_nation", "cust_nation", F.year("l_shipdate").alias("ship_year")
    ).agg(
        F.sum(
            _cents(F.col("l_extendedprice") * (1 - F.col("l_discount")))
        ).alias("volume_cents")
    )


@register(
    "top_returning_customers",
    """
SELECT c.c_custkey, c.c_name,
       CAST(sum(CAST(floor(l.l_extendedprice * (1 - l.l_discount) * 100)
                     AS BIGINT)) AS BIGINT) AS returned_cents,
       CAST(count(*) AS BIGINT) AS n_returned_lines
FROM customer c
JOIN orders o ON o.o_custkey = c.c_custkey
JOIN lineitem l ON l.l_orderkey = o.o_orderkey
WHERE l.l_returnflag = 'R'
GROUP BY c.c_custkey, c.c_name
ORDER BY returned_cents DESC, c.c_custkey
LIMIT 20
""",
)
def top_returning_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q10 shape: revenue lost to returns per customer, top-20."""
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem").filter(
        F.col("l_returnflag") == "R"
    )
    j = cust.join(orders, cust.c_custkey == orders.o_custkey).join(
        li, orders.o_orderkey == li.l_orderkey
    )
    return (
        j.groupBy("c_custkey", "c_name")
        .agg(
            F.sum(
                _cents(F.col("l_extendedprice") * (1 - F.col("l_discount")))
            ).alias("returned_cents"),
            F.count("*").alias("n_returned_lines"),
        )
        .orderBy(F.desc("returned_cents"), F.asc("c_custkey"))
        .limit(20)
    )


@register(
    "priority_by_linestatus",
    """
SELECT l.l_linestatus,
       CAST(sum(CASE WHEN o.o_orderpriority IN ('1-URGENT', '2-HIGH')
                     THEN 1 ELSE 0 END) AS BIGINT) AS high_priority_lines,
       CAST(sum(CASE WHEN o.o_orderpriority NOT IN ('1-URGENT', '2-HIGH')
                     THEN 1 ELSE 0 END) AS BIGINT) AS low_priority_lines
FROM lineitem l JOIN orders o ON o.o_orderkey = l.l_orderkey
WHERE l.l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
  AND l.l_shipdate < TIMESTAMP '1998-01-01 00:00:00'
GROUP BY l.l_linestatus
""",
)
def priority_by_linestatus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q12 shape: conditional counts by priority class."""
    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1997-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1998-01-01").cast("timestamp"))
    )
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .groupBy("l_linestatus")
        .agg(
            F.sum(F.when(high, 1).otherwise(0)).alias(
                "high_priority_lines"
            ),
            F.sum(F.when(~high, 1).otherwise(0)).alias(
                "low_priority_lines"
            ),
        )
    )


@register(
    "brand_discount_revenue",
    """
SELECT CAST(sum(CAST(floor(l.l_extendedprice * (1 - l.l_discount) * 100)
                     AS BIGINT)) AS BIGINT) AS revenue_cents
FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
WHERE (p.p_brand = 'Brand#12' AND l.l_quantity BETWEEN 1 AND 11
       AND p.p_size BETWEEN 1 AND 5)
   OR (p.p_brand = 'Brand#23' AND l.l_quantity BETWEEN 10 AND 20
       AND p.p_size BETWEEN 1 AND 10)
   OR (p.p_brand = 'Brand#34' AND l.l_quantity BETWEEN 20 AND 30
       AND p.p_size BETWEEN 1 AND 15)
""",
)
def brand_discount_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q19 shape: disjunctive multi-attribute predicates across a
    join (the optimizer must not push the OR incorrectly)."""
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part")
    j = li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
    cond = (
        (
            (F.col("p_brand") == "Brand#12")
            & F.col("l_quantity").between(1, 11)
            & F.col("p_size").between(1, 5)
        )
        | (
            (F.col("p_brand") == "Brand#23")
            & F.col("l_quantity").between(10, 20)
            & F.col("p_size").between(1, 10)
        )
        | (
            (F.col("p_brand") == "Brand#34")
            & F.col("l_quantity").between(20, 30)
            & F.col("p_size").between(1, 15)
        )
    )
    return j.filter(cond).agg(
        F.sum(
            _cents(F.col("l_extendedprice") * (1 - F.col("l_discount")))
        ).alias("revenue_cents")
    )


@register(
    "customer_order_distribution",
    """
SELECT c_count, CAST(count(*) AS BIGINT) AS custdist
FROM (
  SELECT c.c_custkey,
         CAST(count(o.o_orderkey) AS BIGINT) AS c_count
  FROM customer c LEFT JOIN orders o ON c.c_custkey = o.o_custkey
  GROUP BY c.c_custkey
)
GROUP BY c_count
""",
)
def customer_order_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q13 shape: orders-per-customer histogram via LEFT join +
    two-level aggregation (zero-order customers kept — count(col) not
    count(*)). The outer group is tiny; the inner shuffles once on
    c_custkey."""
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    per_cust = (
        cust.join(
            orders, cust.c_custkey == orders.o_custkey, "left"
        )
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return per_cust.groupBy("c_count").agg(
        F.count("*").alias("custdist")
    )


@register(
    "top_revenue_suppliers",
    """
WITH rev AS (
  SELECT l_suppkey AS supplier_no,
         CAST(sum(CAST(floor(l_extendedprice * (1 - l_discount) * 100)
                       AS BIGINT)) AS BIGINT) AS total_revenue_cents
  FROM lineitem
  WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
    AND l_shipdate < TIMESTAMP '1996-04-01 00:00:00'
  GROUP BY l_suppkey
)
SELECT s.s_suppkey, s.s_name, r.total_revenue_cents
FROM supplier s JOIN rev r ON s.s_suppkey = r.supplier_no
WHERE r.total_revenue_cents = (SELECT max(total_revenue_cents) FROM rev)
""",
)
def top_revenue_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q15 shape: quarter revenue per supplier, keep the max
    (ALL ties, not top-1 — the scalar-subquery pattern). The max is a
    1-row broadcast join against the aggregate, so the revenue table
    is scanned once and never re-derived."""
    li = load_table(spark, sf_dir, "lineitem")
    supp = load_table(spark, sf_dir, "supplier")
    rev = (
        li.filter(
            (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1996-04-01").cast("timestamp"))
        )
        .groupBy(F.col("l_suppkey").alias("supplier_no"))
        .agg(
            F.sum(
                _cents(F.col("l_extendedprice") * (1 - F.col("l_discount")))
            ).alias("total_revenue_cents")
        )
    )
    # materialize the per-supplier aggregate (tiny) so the max
    # subquery and the join both read it — lineitem scans ONCE
    rev = pin(rev)
    mx = rev.agg(
        F.max("total_revenue_cents").alias("total_revenue_cents")
    )
    top = rev.join(F.broadcast(mx), "total_revenue_cents")
    return (
        supp.join(top, supp.s_suppkey == top.supplier_no)
        .select("s_suppkey", "s_name", "total_revenue_cents")
    )


@register(
    "small_order_revenue",
    """
WITH pa AS (
  SELECT l_partkey, avg(l_quantity) AS avg_qty
  FROM lineitem GROUP BY l_partkey
)
SELECT CAST(sum(CAST(floor(l.l_extendedprice * 100) AS BIGINT)) AS BIGINT)
         AS revenue_cents,
       CAST(count(*) AS BIGINT) AS n_lines
FROM lineitem l JOIN pa ON l.l_partkey = pa.l_partkey
WHERE l.l_quantity < 0.5 * pa.avg_qty
""",
)
def small_order_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q17 shape: lines below half their part's average quantity
    — the decorrelated correlated-aggregate pattern (per-part avg
    joined back on the same key, so both sides share one shuffle).
    avg of integral quantities is exact in double, so the comparison
    cannot diverge between engines."""
    li = load_table(spark, sf_dir, "lineitem")
    pa = li.groupBy("l_partkey").agg(F.avg("l_quantity").alias("avg_qty"))
    return (
        li.join(pa, "l_partkey")
        .filter(F.col("l_quantity") < 0.5 * F.col("avg_qty"))
        .agg(
            F.sum(_cents("l_extendedprice")).alias("revenue_cents"),
            F.count("*").alias("n_lines"),
        )
    )


@register(
    "q4_late_orders",
    """
SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS order_count
FROM orders o
WHERE o.o_orderdate >= TIMESTAMP '1996-01-01'
  AND o.o_orderdate < TIMESTAMP '1996-04-01'
  AND EXISTS (
    SELECT 1 FROM lineitem l
    WHERE l.l_orderkey = o.o_orderkey
      AND l.l_shipdate > o.o_orderdate + INTERVAL 60 DAY)
GROUP BY o_orderpriority
ORDER BY o_orderpriority
""",
)
def q4_late_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q4 shape (order-priority checking), adapted to the
    fixture's columns: orders in 1996Q1 having at least one lineitem
    shipped more than 60 days after the order date. The EXISTS compiles
    to a LEFT SEMI join on l_orderkey — at scale the date filter prunes
    the orders side BEFORE the join (predicate pushdown into the scan)
    and the semi join never duplicates order rows."""
    o = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1996-04-01").cast("timestamp"))
    )
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_shipdate"
    )
    late = o.join(
        li,
        (F.col("l_orderkey") == F.col("o_orderkey"))
        & (
            F.col("l_shipdate")
            > F.col("o_orderdate") + F.expr("INTERVAL 60 DAYS")
        ),
        "left_semi",
    )
    return (
        late.groupBy("o_orderpriority")
        .agg(F.count("*").alias("order_count"))
        .orderBy("o_orderpriority")
    )


@register(
    "q14_promo_revenue",
    """
SELECT round(
         100.0 * sum(CASE WHEN p.p_type = 'PROMO'
           THEN CAST(floor(l.l_extendedprice * (1 - l.l_discount) * 100)
                     AS BIGINT) ELSE 0 END)
         / sum(CAST(floor(l.l_extendedprice * (1 - l.l_discount) * 100)
                    AS BIGINT)),
         6) AS promo_pct,
       CAST(sum(CASE WHEN p.p_type = 'PROMO'
         THEN CAST(floor(l.l_extendedprice * (1 - l.l_discount) * 100)
                   AS BIGINT) ELSE 0 END) AS BIGINT) AS promo_cents,
       CAST(count(*) AS BIGINT) AS n_lines
FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
WHERE l.l_shipdate >= TIMESTAMP '1996-03-01'
  AND l.l_shipdate < TIMESTAMP '1996-04-01'
""",
)
def q14_promo_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q14 (promotion effect): share of March-1996 revenue from
    PROMO parts. Part is the small dimension → broadcast join; the
    shipdate filter pushes into the lineitem scan; revenue accumulates
    as exact integer cents so the single output row hash-matches."""
    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-03-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1996-04-01").cast("timestamp"))
    )
    p = load_table(spark, sf_dir, "part").select("p_partkey", "p_type")
    j = li.join(F.broadcast(p), F.col("p_partkey") == F.col("l_partkey"))
    cents = _cents(F.col("l_extendedprice") * (1 - F.col("l_discount")))
    promo = F.sum(
        F.when(F.col("p_type") == "PROMO", cents).otherwise(F.lit(0))
    )
    total = F.sum(cents)
    return j.agg(
        F.round(100.0 * promo / total, 6).alias("promo_pct"),
        promo.cast("long").alias("promo_cents"),
        F.count("*").alias("n_lines"),
    )


@register(
    "q22_idle_rich_customers",
    """
WITH pos AS (
  SELECT CAST(sum(CAST(floor(c_acctbal * 100) AS BIGINT)) AS BIGINT)
           AS sum_cents,
         CAST(count(*) AS BIGINT) AS n
  FROM customer WHERE c_acctbal > 0
)
SELECT c.c_mktsegment,
       CAST(count(*) AS BIGINT) AS n_customers,
       CAST(sum(CAST(floor(c.c_acctbal * 100) AS BIGINT)) AS BIGINT)
         AS total_cents
FROM customer c CROSS JOIN pos
WHERE CAST(floor(c.c_acctbal * 100) AS BIGINT) * pos.n > pos.sum_cents
  AND NOT EXISTS (SELECT 1 FROM orders o
                  WHERE o.o_custkey = c.c_custkey
                    AND o.o_orderdate >= TIMESTAMP '2000-08-01')
GROUP BY c.c_mktsegment
ORDER BY c.c_mktsegment
""",
)
def q22_idle_rich_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q22 shape (global sales opportunity): customers with
    above-average positive balance and no orders in the final year of
    the fixture (every customer has SOME order, so the idle window
    replaces Q22's no-orders-ever), grouped by market segment. The above-average comparison is cross-multiplied in exact
    integer cents (bal·n > sum) — no double division anywhere near a
    threshold, so the boundary can't flip between engines. The NOT
    EXISTS compiles to a LEFT ANTI join; the 2-value average broadcast."""
    c = load_table(spark, sf_dir, "customer")
    o = (
        load_table(spark, sf_dir, "orders")
        .filter(
            F.col("o_orderdate") >= F.lit("2000-08-01").cast("timestamp")
        )
        .select("o_custkey")
    )
    pos = c.filter(F.col("c_acctbal") > 0).agg(
        F.sum(_cents("c_acctbal")).alias("sum_cents"),
        F.count("*").alias("n"),
    )
    rich = c.crossJoin(F.broadcast(pos)).filter(
        _cents("c_acctbal") * F.col("n") > F.col("sum_cents")
    )
    idle = rich.join(
        o, F.col("o_custkey") == F.col("c_custkey"), "left_anti"
    )
    return (
        idle.groupBy("c_mktsegment")
        .agg(
            F.count("*").alias("n_customers"),
            F.sum(_cents("c_acctbal")).alias("total_cents"),
        )
        .orderBy("c_mktsegment")
    )


@register(
    "q3_shipping_priority",
    """
SELECT l.l_orderkey,
       CAST(sum(CAST(floor(l.l_extendedprice * (1 - l.l_discount) * 100)
                     AS BIGINT)) AS BIGINT) AS revenue_cents,
       o.o_orderdate
FROM customer c
JOIN orders o ON o.o_custkey = c.c_custkey
JOIN lineitem l ON l.l_orderkey = o.o_orderkey
WHERE c.c_mktsegment = 'BUILDING'
  AND o.o_orderdate < TIMESTAMP '1998-06-01'
  AND l.l_shipdate > TIMESTAMP '1998-06-01'
GROUP BY l.l_orderkey, o.o_orderdate
ORDER BY revenue_cents DESC, o_orderdate, l_orderkey
LIMIT 10
""",
)
def q3_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3 (shipping priority), adapted — the fixture has no
    o_shippriority column: top-10 unshipped-revenue orders for one
    market segment. Plan shape at scale: the segment filter prunes
    customer to ~1/5 (broadcast side), both date filters push into the
    parquet scans, the fact⋈fact join shuffles on orderkey once, and
    the global top-10 is TakeOrderedAndProject (no full sort).
    Revenue accumulates as exact integer cents."""
    c = load_table(spark, sf_dir, "customer").filter(
        F.col("c_mktsegment") == "BUILDING"
    ).select("c_custkey")
    o = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") < F.lit("1998-06-01").cast("timestamp")
    ).select("o_orderkey", "o_custkey", "o_orderdate")
    li = load_table(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") > F.lit("1998-06-01").cast("timestamp")
    ).select("l_orderkey", "l_extendedprice", "l_discount")
    j = li.join(
        o, F.col("l_orderkey") == F.col("o_orderkey")
    ).join(F.broadcast(c), F.col("o_custkey") == F.col("c_custkey"))
    agg = j.groupBy("l_orderkey", "o_orderdate").agg(
        F.sum(
            _cents(F.col("l_extendedprice") * (1 - F.col("l_discount")))
        )
        .cast("long")
        .alias("revenue_cents")
    )
    return (
        agg.select("l_orderkey", "revenue_cents", "o_orderdate")
        .orderBy(
            F.desc("revenue_cents"), F.asc("o_orderdate"),
            F.asc("l_orderkey"),
        )
        .limit(10)
    )


@register(
    "q18_large_volume_customers",
    """
WITH big AS (
  SELECT l_orderkey
  FROM lineitem
  GROUP BY l_orderkey
  HAVING sum(CAST(floor(l_quantity * 100) AS BIGINT)) > 30000
)
SELECT c.c_name, c.c_custkey, o.o_orderkey, o.o_orderdate,
       CAST(floor(o.o_totalprice * 100) AS BIGINT) AS totalprice_cents,
       CAST(sum(CAST(floor(l.l_quantity * 100) AS BIGINT)) AS BIGINT)
         AS qty_cents
FROM customer c
JOIN orders o ON o.o_custkey = c.c_custkey
JOIN big b ON b.l_orderkey = o.o_orderkey
JOIN lineitem l ON l.l_orderkey = o.o_orderkey
GROUP BY c.c_name, c.c_custkey, o.o_orderkey, o.o_orderdate,
         o.o_totalprice
ORDER BY totalprice_cents DESC, o_orderdate, o_orderkey
LIMIT 100
""",
)
def q18_large_volume_customers(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """TPC-H Q18 (large-volume customers): orders whose total quantity
    exceeds the threshold, with their customers, top-100 by price.
    The HAVING subquery is a pre-aggregation on the fact table that
    SHRINKS it to qualifying orderkeys before any join (the classic
    agg-then-join rewrite); quantities accumulate as exact integer
    hundredths so the threshold and output are engine-exact."""
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", _cents("l_quantity").alias("qc")
    )
    big = (
        li.groupBy("l_orderkey")
        .agg(F.sum("qc").alias("qty_cents"))
        .filter(F.col("qty_cents") > 30000)
    )
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_orderdate",
        _cents("o_totalprice").alias("totalprice_cents"),
    )
    c = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_name"
    )
    j = (
        big.join(o, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(F.broadcast(c), F.col("o_custkey") == F.col("c_custkey"))
    )
    return (
        j.select(
            "c_name", "c_custkey", "o_orderkey", "o_orderdate",
            "totalprice_cents",
            F.col("qty_cents").cast("long").alias("qty_cents"),
        )
        .orderBy(
            F.desc("totalprice_cents"), F.asc("o_orderdate"),
            F.asc("o_orderkey"),
        )
        .limit(100)
    )
