"""Relational oracle corpus — SURVEY.md §7 M4.

Exercises the Spark-built-in operator surface the engine inherits
(SURVEY.md §2.5/2.6 "absent" rows): group-by aggregates, broadcast +
shuffle joins, semi/anti joins, windows, top-k, rollup/pivot, set ops,
string/date/math scalar functions. Each query has a DuckDB oracle.

Cross-engine numeric policy (see tools/oracle_check.py):
- Raw per-row doubles compare exactly (same parquet bits, same IEEE ops).
- Aggregated money/measures are integerized per-row FIRST
  (``floor(x*100)`` — identical in both engines) and summed as BIGINT —
  order-independent, so partial aggregation order can't flip a hash.
- Averages/ratios derive from those exact integer sums (identical
  double division on identical inputs).
- DuckDB type quirks: ``sum(BIGINT)`` → HUGEINT (cast back),
  ``row_number()`` → BIGINT (cast to INTEGER), ``year()`` → BIGINT.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window, functions as F

from oracle_vector_search_spark.functions.rounding import cents
from oracle_vector_search_spark.io import load_table
from oracle_vector_search_spark.operators.topk import (
    top_k_global,
    top_k_per_group,
)
from oracle_vector_search_spark.queries import register


# ---------------------------------------------------------------- Q1-style
@register(
    "q1_pricing_summary",
    """
SELECT l_returnflag, l_linestatus,
       CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty,
       CAST(sum(CAST(floor(l_extendedprice * 100) AS BIGINT)) AS BIGINT)
         AS sum_base_cents,
       CAST(sum(CAST(floor(l_extendedprice * (1 - l_discount) * 100) AS BIGINT))
            AS BIGINT) AS sum_disc_cents,
       CAST(sum(CAST(floor(l_extendedprice * (1 - l_discount) * (1 + l_tax)
                           * 100) AS BIGINT)) AS BIGINT) AS sum_charge_cents,
       round(sum(CAST(l_quantity AS BIGINT)) * 1.0 / count(*), 6) AS avg_qty,
       round(sum(CAST(floor(l_extendedprice * 100) AS BIGINT)) / 100.0
             / count(*), 6) AS avg_price,
       CAST(count(*) AS BIGINT) AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
GROUP BY l_returnflag, l_linestatus
""",
)
def q1_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1 shape: scan-filter-aggregate with 7 aggregates over 6
    groups. Map-side partial aggregation shuffles only |groups| rows per
    task; the l_shipdate filter pushes into the parquet scan."""
    li = load_table(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") <= F.lit("1998-09-02").cast("timestamp")
    )
    return li.groupBy("l_returnflag", "l_linestatus").agg(
        F.sum(F.col("l_quantity").cast("long")).alias("sum_qty"),
        F.sum(cents("l_extendedprice")).alias("sum_base_cents"),
        F.sum(
            cents(F.col("l_extendedprice") * (1 - F.col("l_discount")))
        ).alias("sum_disc_cents"),
        F.sum(
            cents(
                F.col("l_extendedprice")
                * (1 - F.col("l_discount"))
                * (1 + F.col("l_tax"))
            )
        ).alias("sum_charge_cents"),
        F.round(
            F.sum(F.col("l_quantity").cast("long")) * 1.0 / F.count("*"), 6
        ).alias("avg_qty"),
        F.round(
            F.sum(cents("l_extendedprice")) / 100.0 / F.count("*"), 6
        ).alias("avg_price"),
        F.count("*").alias("count_order"),
    )


# ------------------------------------------------------------------ top-k
@register(
    "top_orders_global",
    """
SELECT o_orderkey, o_custkey, o_totalprice, o_orderpriority
FROM orders
ORDER BY o_totalprice DESC, o_orderkey
LIMIT 10
""",
)
def top_orders_global(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global top-10 — Catalyst plans TakeOrderedAndProject (per-partition
    partial top-k + driver merge; no full sort even at 10⁹ rows)."""
    orders = load_table(spark, sf_dir, "orders")
    return top_k_global(
        orders.select(
            "o_orderkey", "o_custkey", "o_totalprice", "o_orderpriority"
        ),
        10,
        F.desc("o_totalprice"),
        F.asc("o_orderkey"),
    )


@register(
    "top3_orders_per_customer",
    """
WITH ranked AS (
  SELECT o_custkey, o_orderkey, o_totalprice,
         CAST(row_number() OVER (
           PARTITION BY o_custkey
           ORDER BY o_totalprice DESC, o_orderkey) AS INTEGER) AS rank
  FROM orders
)
SELECT o_custkey, o_orderkey, o_totalprice, rank
FROM ranked WHERE rank <= 3
""",
)
def top3_orders_per_customer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group top-k via row_number (WindowGroupLimit pushes the limit
    below the shuffle on Spark ≥3.5)."""
    orders = load_table(spark, sf_dir, "orders")
    return top_k_per_group(
        orders.select("o_custkey", "o_orderkey", "o_totalprice"),
        ["o_custkey"],
        3,
        F.desc("o_totalprice"),
        F.asc("o_orderkey"),
    )


# ------------------------------------------------------------------- joins
@register(
    "revenue_by_nation",
    """
SELECT n.n_name,
       CAST(sum(CAST(floor(l.l_extendedprice * (1 - l.l_discount) * 100)
                     AS BIGINT)) AS BIGINT) AS revenue_cents,
       CAST(count(*) AS BIGINT) AS n_lineitems
FROM lineitem l
JOIN orders o ON l.l_orderkey = o.o_orderkey
JOIN customer c ON o.o_custkey = c.c_custkey
JOIN nation n ON c.c_nationkey = n.n_nationkey
JOIN region r ON n.n_regionkey = r.r_regionkey
WHERE r.r_name = 'ASIA'
  AND o.o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
  AND o.o_orderdate < TIMESTAMP '1998-01-01 00:00:00'
GROUP BY n.n_name
""",
)
def revenue_by_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5 shape: multi-hop star join. Dimension tables (region,
    nation, customer) broadcast; only the fact-fact lineitem⋈orders join
    shuffles — and AQE can flip it to broadcast at small SF."""
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1998-01-01").cast("timestamp"))
    )
    cust = load_table(spark, sf_dir, "customer")
    nation = load_table(spark, sf_dir, "nation")
    region = load_table(spark, sf_dir, "region").filter(
        F.col("r_name") == "ASIA"
    )
    joined = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
    )
    return joined.groupBy("n_name").agg(
        F.sum(
            cents(F.col("l_extendedprice") * (1 - F.col("l_discount")))
        ).alias("revenue_cents"),
        F.count("*").alias("n_lineitems"),
    )


@register(
    "orders_with_big_lines",
    """
SELECT o.o_orderpriority, CAST(count(*) AS BIGINT) AS n_orders
FROM orders o
WHERE EXISTS (
  SELECT 1 FROM lineitem l
  WHERE l.l_orderkey = o.o_orderkey AND l.l_quantity >= 49
)
GROUP BY o.o_orderpriority
""",
)
def orders_with_big_lines(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q4 shape: EXISTS as a left-semi join (no fan-out, no
    dedup step; semi-join short-circuits on first match)."""
    orders = load_table(spark, sf_dir, "orders")
    big = load_table(spark, sf_dir, "lineitem").filter(
        F.col("l_quantity") >= 49
    )
    return (
        orders.join(big, orders.o_orderkey == big.l_orderkey, "left_semi")
        .groupBy("o_orderpriority")
        .agg(F.count("*").alias("n_orders"))
    )


@register(
    "customers_without_orders",
    """
SELECT c.c_mktsegment, CAST(count(*) AS BIGINT) AS n_customers
FROM customer c
WHERE NOT EXISTS (
  SELECT 1 FROM orders o
  WHERE o.o_custkey = c.c_custkey
    AND o.o_orderdate < TIMESTAMP '1997-01-01 00:00:00'
)
GROUP BY c.c_mktsegment
""",
)
def customers_without_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NOT EXISTS as a left-anti join (customers with no pre-1997 order)."""
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") < F.lit("1997-01-01").cast("timestamp")
    )
    return (
        cust.join(orders, cust.c_custkey == orders.o_custkey, "left_anti")
        .groupBy("c_mktsegment")
        .agg(F.count("*").alias("n_customers"))
    )


@register(
    "promo_revenue_ratio",
    """
SELECT round(
         100.0 * sum(CASE WHEN p.p_type = 'PROMO'
                          THEN CAST(floor(l.l_extendedprice * (1 - l.l_discount)
                                          * 100) AS BIGINT)
                          ELSE 0 END)
         / sum(CAST(floor(l.l_extendedprice * (1 - l.l_discount) * 100)
                    AS BIGINT)), 6) AS promo_pct
FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
""",
)
def promo_revenue_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q14 shape: conditional aggregation over a broadcast join;
    ratio of two exact integer sums."""
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part")
    disc = cents(F.col("l_extendedprice") * (1 - F.col("l_discount")))
    joined = li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
    return joined.agg(
        F.round(
            100.0
            * F.sum(F.when(F.col("p_type") == "PROMO", disc).otherwise(0))
            / F.sum(disc),
            6,
        ).alias("promo_pct")
    )


# ------------------------------------------------------------- aggregates
@register(
    "mktsegment_stats",
    """
SELECT c_mktsegment,
       CAST(count(*) AS BIGINT) AS n_customers,
       CAST(count(DISTINCT c_nationkey) AS BIGINT) AS n_nations,
       CAST(sum(CAST(floor(c_acctbal * 100) AS BIGINT)) AS BIGINT)
         AS sum_acctbal_cents,
       min(c_acctbal) AS min_acctbal,
       max(c_acctbal) AS max_acctbal,
       round(sum(CAST(floor(c_acctbal * 100) AS BIGINT)) / 100.0
             / count(*), 6) AS avg_acctbal
FROM customer
GROUP BY c_mktsegment
""",
)
def mktsegment_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Aggregate suite: count, distinct count, exact integer sum,
    min/max (value selections — exact), derived average."""
    cust = load_table(spark, sf_dir, "customer")
    return cust.groupBy("c_mktsegment").agg(
        F.count("*").alias("n_customers"),
        F.countDistinct("c_nationkey").alias("n_nations"),
        F.sum(cents("c_acctbal")).alias("sum_acctbal_cents"),
        F.min("c_acctbal").alias("min_acctbal"),
        F.max("c_acctbal").alias("max_acctbal"),
        F.round(F.sum(cents("c_acctbal")) / 100.0 / F.count("*"), 6).alias(
            "avg_acctbal"
        ),
    )


@register(
    "brand_stats",
    """
SELECT p_brand,
       CAST(count(*) AS BIGINT) AS n_parts,
       CAST(count(DISTINCT p_type) AS BIGINT) AS n_types,
       CAST(max(p_size) AS INTEGER) AS max_size,
       CAST(sum(CAST(floor(p_retailprice * 100) AS BIGINT)) AS BIGINT)
         AS sum_price_cents
FROM part
GROUP BY p_brand
""",
)
def brand_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, sf_dir, "part")
    return cust.groupBy("p_brand").agg(
        F.count("*").alias("n_parts"),
        F.countDistinct("p_type").alias("n_types"),
        F.max("p_size").alias("max_size"),
        F.sum(cents("p_retailprice")).alias("sum_price_cents"),
    )


@register(
    "lineitem_rollup",
    """
SELECT l_returnflag, l_linestatus,
       CAST(count(*) AS BIGINT) AS n,
       CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty
FROM lineitem
GROUP BY ROLLUP (l_returnflag, l_linestatus)
""",
)
def lineitem_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROLLUP grouping sets (subtotals + grand total; NULL group keys)."""
    li = load_table(spark, sf_dir, "lineitem")
    return li.rollup("l_returnflag", "l_linestatus").agg(
        F.count("*").alias("n"),
        F.sum(F.col("l_quantity").cast("long")).alias("sum_qty"),
    )


@register(
    "orderstatus_pivot",
    """
SELECT o_orderpriority,
       CAST(count(*) FILTER (WHERE o_orderstatus = 'F') AS BIGINT) AS F,
       CAST(count(*) FILTER (WHERE o_orderstatus = 'O') AS BIGINT) AS O,
       CAST(count(*) FILTER (WHERE o_orderstatus = 'P') AS BIGINT) AS P
FROM orders
GROUP BY o_orderpriority
""",
)
def orderstatus_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot with an explicit value list (never let pivot scan for
    distinct values at scale — that's an extra full pass)."""
    orders = load_table(spark, sf_dir, "orders")
    return (
        orders.groupBy("o_orderpriority")
        .pivot("o_orderstatus", ["F", "O", "P"])
        .count()
        .select(
            "o_orderpriority",
            F.coalesce("F", F.lit(0)).alias("F"),
            F.coalesce("O", F.lit(0)).alias("O"),
            F.coalesce("P", F.lit(0)).alias("P"),
        )
    )


# ---------------------------------------------------------------- windows
@register(
    "supplier_running_revenue",
    """
SELECT l_suppkey, l_orderkey, l_linenumber,
       CAST(row_number() OVER w AS INTEGER) AS rn,
       CAST(sum(CAST(floor(l_extendedprice * 100) AS BIGINT))
            OVER (PARTITION BY l_suppkey
                  ORDER BY l_shipdate, l_orderkey, l_linenumber
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
            AS BIGINT) AS running_cents,
       lag(l_orderkey) OVER w AS prev_orderkey,
       lead(l_orderkey) OVER w AS next_orderkey
FROM lineitem
WHERE l_suppkey < 5
WINDOW w AS (PARTITION BY l_suppkey
             ORDER BY l_shipdate, l_orderkey, l_linenumber)
""",
)
def supplier_running_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Window-function suite: row_number, running sum (exact cents),
    lag/lead — fully tie-broken ordering so results are partition-stable."""
    li = load_table(spark, sf_dir, "lineitem").filter(F.col("l_suppkey") < 5)
    w = Window.partitionBy("l_suppkey").orderBy(
        "l_shipdate", "l_orderkey", "l_linenumber"
    )
    return li.select(
        "l_suppkey",
        "l_orderkey",
        "l_linenumber",
        F.row_number().over(w).alias("rn"),
        F.sum(cents("l_extendedprice"))
        .over(w.rowsBetween(Window.unboundedPreceding, 0))
        .alias("running_cents"),
        F.lag("l_orderkey").over(w).alias("prev_orderkey"),
        F.lead("l_orderkey").over(w).alias("next_orderkey"),
    )


# ----------------------------------------------------------------- set ops
@register(
    "nation_set_ops",
    """
WITH cust_nations AS (SELECT DISTINCT c_nationkey AS nk FROM customer),
     supp_nations AS (SELECT DISTINCT s_nationkey AS nk FROM supplier)
SELECT n.n_name, 'both' AS presence
FROM (SELECT nk FROM cust_nations INTERSECT SELECT nk FROM supp_nations) b
JOIN nation n ON n.n_nationkey = b.nk
UNION ALL
SELECT n.n_name, 'customer_only' AS presence
FROM (SELECT nk FROM cust_nations EXCEPT SELECT nk FROM supp_nations) c
JOIN nation n ON n.n_nationkey = c.nk
""",
)
def nation_set_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INTERSECT / EXCEPT / UNION ALL over distinct key sets."""
    cust = (
        load_table(spark, sf_dir, "customer")
        .select(F.col("c_nationkey").alias("nk"))
        .distinct()
    )
    supp = (
        load_table(spark, sf_dir, "supplier")
        .select(F.col("s_nationkey").alias("nk"))
        .distinct()
    )
    nation = load_table(spark, sf_dir, "nation")
    both = (
        cust.intersect(supp)
        .join(nation, F.col("nk") == F.col("n_nationkey"))
        .select("n_name", F.lit("both").alias("presence"))
    )
    cust_only = (
        cust.exceptAll(supp).distinct()
        .join(nation, F.col("nk") == F.col("n_nationkey"))
        .select("n_name", F.lit("customer_only").alias("presence"))
    )
    return both.unionAll(cust_only)


# ------------------------------------------------------- scalar functions
@register(
    "string_functions",
    """
SELECT p_partkey,
       upper(p_name) AS name_upper,
       lower(p_brand) AS brand_lower,
       CAST(length(p_name) AS INTEGER) AS name_len,
       substr(p_name, 1, 5) AS name_pfx,
       concat(p_brand, ':', p_type) AS brand_type,
       replace(p_type, 'O', '0') AS type_repl,
       regexp_extract(p_brand, '([0-9]+)$', 1) AS brand_num,
       CAST(strpos(p_name, '_') AS INTEGER) AS underscore_pos,
       trim(concat(' ', p_type, ' ')) AS type_trim,
       lpad(CAST(p_size AS VARCHAR), 4, '0') AS size_pad,
       reverse(p_brand) AS brand_rev
FROM part
WHERE p_partkey < 200
""",
)
def string_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """String scalar-function suite (SURVEY.md §2.8) — per-row,
    deterministic, codegen'd JVM expressions."""
    part = load_table(spark, sf_dir, "part").filter(F.col("p_partkey") < 200)
    return part.select(
        "p_partkey",
        F.upper("p_name").alias("name_upper"),
        F.lower("p_brand").alias("brand_lower"),
        F.length("p_name").alias("name_len"),
        F.substring("p_name", 1, 5).alias("name_pfx"),
        F.concat_ws(":", "p_brand", "p_type").alias("brand_type"),
        F.replace(F.col("p_type"), F.lit("O"), F.lit("0")).alias("type_repl"),
        F.regexp_extract("p_brand", r"([0-9]+)$", 1).alias("brand_num"),
        F.instr(F.col("p_name"), "_").alias("underscore_pos"),
        F.trim(F.concat(F.lit(" "), F.col("p_type"), F.lit(" "))).alias(
            "type_trim"
        ),
        F.lpad(F.col("p_size").cast("string"), 4, "0").alias("size_pad"),
        F.reverse(F.col("p_brand")).alias("brand_rev"),
    )


@register(
    "date_functions",
    """
SELECT o_orderkey,
       CAST(year(o_orderdate) AS INTEGER) AS order_year,
       CAST(month(o_orderdate) AS INTEGER) AS order_month,
       CAST(quarter(o_orderdate) AS INTEGER) AS order_quarter,
       CAST(day(o_orderdate) AS INTEGER) AS order_day,
       strftime(date_trunc('month', o_orderdate), '%Y-%m-%d') AS month_start,
       strftime(CAST(o_orderdate + INTERVAL 30 DAY AS DATE), '%Y-%m-%d')
         AS due_date,
       CAST(datediff('day', TIMESTAMP '1995-01-01 00:00:00', o_orderdate)
            AS INTEGER) AS days_since_epoch_start,
       strftime(o_orderdate, '%Y-%m') AS year_month
FROM orders
WHERE o_orderkey < 500
""",
)
def date_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Date/time scalar-function suite: extracts, truncation, interval
    arithmetic, formatting."""
    orders = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderkey") < 500
    )
    return orders.select(
        "o_orderkey",
        F.year("o_orderdate").alias("order_year"),
        F.month("o_orderdate").alias("order_month"),
        F.quarter("o_orderdate").alias("order_quarter"),
        F.dayofmonth("o_orderdate").alias("order_day"),
        # strings, not native DATE/TIMESTAMP: engines stringify temporal
        # types differently, which could trip a value-hash comparator
        F.date_format(F.date_trunc("month", "o_orderdate"), "yyyy-MM-dd").alias(
            "month_start"
        ),
        F.date_format(F.date_add(F.to_date("o_orderdate"), 30), "yyyy-MM-dd").alias(
            "due_date"
        ),
        F.datediff(
            F.to_date("o_orderdate"), F.lit("1995-01-01").cast("date")
        ).alias("days_since_epoch_start"),
        F.date_format("o_orderdate", "yyyy-MM").alias("year_month"),
    )


@register(
    "math_functions",
    """
SELECT l_orderkey, l_linenumber,
       abs(l_extendedprice - 50000.0) AS abs_diff,
       CAST(ceil(l_discount * 100) AS BIGINT) AS disc_pct_ceil,
       CAST(floor(l_tax * 100) AS BIGINT) AS tax_pct_floor,
       round(sqrt(l_extendedprice), 6) AS price_sqrt,
       round(ln(l_extendedprice), 6) AS price_ln,
       l_quantity * l_quantity AS qty_sq,
       CAST(CAST(l_quantity AS BIGINT) % 7 AS BIGINT) AS qty_mod7,
       CAST(sign(l_extendedprice - 50000.0) AS DOUBLE) AS price_sign,
       greatest(l_discount, l_tax) AS max_rate,
       least(l_discount, l_tax) AS min_rate
FROM lineitem
WHERE l_orderkey < 100
""",
)
def math_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Math scalar-function suite. sqrt is IEEE-exact; ln rounded to 6
    (cross-libm agreement far beyond that)."""
    li = load_table(spark, sf_dir, "lineitem").filter(F.col("l_orderkey") < 100)
    return li.select(
        "l_orderkey",
        "l_linenumber",
        F.abs(F.col("l_extendedprice") - 50000.0).alias("abs_diff"),
        F.ceil(F.col("l_discount") * 100).alias("disc_pct_ceil"),
        F.floor(F.col("l_tax") * 100).alias("tax_pct_floor"),
        F.round(F.sqrt("l_extendedprice"), 6).alias("price_sqrt"),
        F.round(F.log("l_extendedprice"), 6).alias("price_ln"),
        (F.col("l_quantity") * F.col("l_quantity")).alias("qty_sq"),
        (F.col("l_quantity").cast("long") % 7).alias("qty_mod7"),
        F.signum(F.col("l_extendedprice") - 50000.0).alias("price_sign"),
        F.greatest("l_discount", "l_tax").alias("max_rate"),
        F.least("l_discount", "l_tax").alias("min_rate"),
    )


@register(
    "null_handling",
    """
SELECT c_custkey,
       coalesce(nullif(c_mktsegment, 'MACHINERY'), 'REDACTED') AS segment_masked,
       CASE WHEN c_acctbal < 0 THEN 'debt'
            WHEN c_acctbal < 5000 THEN 'low'
            ELSE 'high' END AS balance_band,
       (c_acctbal IS NOT NULL AND c_acctbal > 0) AS in_credit
FROM customer
WHERE c_custkey < 300
""",
)
def null_handling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Conditional / null-handling expressions: coalesce, nullif, CASE."""
    cust = load_table(spark, sf_dir, "customer").filter(
        F.col("c_custkey") < 300
    )
    return cust.select(
        "c_custkey",
        F.coalesce(
            F.nullif(F.col("c_mktsegment"), F.lit("MACHINERY")),
            F.lit("REDACTED"),
        ).alias("segment_masked"),
        F.when(F.col("c_acctbal") < 0, "debt")
        .when(F.col("c_acctbal") < 5000, "low")
        .otherwise("high")
        .alias("balance_band"),
        (F.col("c_acctbal").isNotNull() & (F.col("c_acctbal") > 0)).alias(
            "in_credit"
        ),
    )


# ONE SQL string, both engines: runs verbatim through spark.sql() AND
# as the DuckDB oracle — the engine's SQL-interface parity statement
# (dialect-neutral ANSI subset: no ::casts, no engine list functions).
_SQL_INTERFACE_TEXT = """
SELECT l_returnflag, l_linestatus,
       CAST(count(*) AS BIGINT) AS n_lines,
       CAST(sum(CAST(floor(l_extendedprice * 100) AS BIGINT)) AS BIGINT)
         AS base_cents,
       CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS total_qty
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '2000-09-01'
GROUP BY l_returnflag, l_linestatus
ORDER BY l_returnflag, l_linestatus
"""


@register("sql_interface_pricing", _SQL_INTERFACE_TEXT)
def sql_interface_pricing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The SQL front door: the registered oracle string itself executed
    via ``spark.sql`` over a temp view — byte-identical query text in
    Spark and DuckDB, so a user's existing ANSI SQL ports with zero
    translation. Catalyst treats the SQL and DataFrame paths
    identically (same optimized plan as q1_pricing_summary's shape:
    pushed shipdate filter, partial/final HashAggregate)."""
    load_table(spark, sf_dir, "lineitem").createOrReplaceTempView(
        "lineitem"
    )
    return spark.sql(_SQL_INTERFACE_TEXT)


# SQL scalar UDF (Spark 4 CREATE FUNCTION ... RETURN <expression>):
# declarative, expression-backed — Catalyst inlines the body into the
# plan (NOT a Python UDF; stays inside codegen). The engine's mechanism
# for letting SQL-only users define vector kernels.
_SQL_UDF_COS = """
CREATE OR REPLACE TEMPORARY FUNCTION cos_sim(a ARRAY<DOUBLE>, b ARRAY<DOUBLE>)
RETURNS DOUBLE RETURN try_divide(
  aggregate(zip_with(a, b, (x, y) -> x * y), 0.0D, (acc, x) -> acc + x),
  sqrt(aggregate(zip_with(a, a, (x, y) -> x * y), 0.0D, (acc, x) -> acc + x))
  * sqrt(aggregate(zip_with(b, b, (x, y) -> x * y), 0.0D, (acc, x) -> acc + x)))
"""

_SQL_UDF_KNN_TEXT = """
WITH v AS (
  SELECT vec_id, CAST(embedding AS ARRAY<DOUBLE>) AS emb FROM embeddings
),
q AS (SELECT vec_id AS query_id, emb AS qemb FROM v WHERE vec_id < 5),
scored AS (
  SELECT /*+ BROADCAST(q) */
         q.query_id, v.vec_id AS neighbor_id,
         round(cos_sim(q.qemb, v.emb), 6) AS score
  FROM v CROSS JOIN q
  WHERE v.vec_id <> q.query_id
),
ranked AS (
  SELECT query_id, neighbor_id, score,
         row_number() OVER (
           PARTITION BY query_id ORDER BY score DESC, neighbor_id) AS rn
  FROM scored
)
SELECT query_id, CAST(rn AS INT) AS rank, neighbor_id, score
FROM ranked WHERE rn <= 3
ORDER BY query_id, rank
"""


@register(
    "sql_udf_knn_top3",
    """
WITH v AS (
  SELECT vec_id, embedding::DOUBLE[] AS emb FROM embeddings
),
q AS (SELECT vec_id AS query_id, emb AS qemb FROM v WHERE vec_id < 5),
scored AS (
  SELECT q.query_id, v.vec_id AS neighbor_id,
         round(list_dot_product(q.qemb, v.emb)
               / (sqrt(list_dot_product(q.qemb, q.qemb))
                  * sqrt(list_dot_product(v.emb, v.emb))), 6) AS score
  FROM v CROSS JOIN q
  WHERE v.vec_id <> q.query_id
),
ranked AS (
  SELECT query_id, neighbor_id, score,
         row_number() OVER (
           PARTITION BY query_id ORDER BY score DESC, neighbor_id) AS rn
  FROM scored
)
SELECT query_id, CAST(rn AS INTEGER) AS rank, neighbor_id, score
FROM ranked WHERE rn <= 3
ORDER BY query_id, rank
""",
)
def sql_udf_knn_top3(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vector search through the pure-SQL front door: a SQL scalar UDF
    (``CREATE TEMPORARY FUNCTION cos_sim ... RETURN <expr>``, Spark 4)
    wraps the higher-order cosine kernel, and the kNN itself is one
    ANSI SQL statement over a temp view — no DataFrame code, no Python
    UDF, the function body inlined by Catalyst into whole-stage
    codegen. A SQL-only user of the reference gets the same top-k
    semantics (rank window, id tie-break, round-6 scores) as the
    DataFrame tier ``knn_exact_cosine_top5``."""
    load_table(spark, sf_dir, "embeddings").createOrReplaceTempView(
        "embeddings"
    )
    spark.sql(_SQL_UDF_COS)
    return spark.sql(_SQL_UDF_KNN_TEXT)
