"""TPC-H analogues, part 2 — Q8/Q9/Q11/Q16/Q20/Q21 shapes adapted to
the fixture schema (no ``partsupp`` table, no ``l_commitdate`` /
``l_receiptdate`` columns — see TESTDATA.md), completing the
relational-benchmark family started in ``tpch_queries.py``.

Determinism policies follow the registry conventions: money as exact
integer cents (``floor(x*100)`` BIGINT), ratios rounded to 6 decimals,
counts cast BIGINT, every LIMIT query fully tie-broken.

Scale notes are per-query; the common theme is agg-before-join (shrink
the fact table first), broadcast for every dimension, and exactly one
fact-fact shuffle per query.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window, functions as F

from oracle_vector_search_spark.functions.rounding import cents
from oracle_vector_search_spark.io import load_table
from oracle_vector_search_spark.queries import register


@register(
    "q8_market_share",
    """
WITH vol AS (
  SELECT CAST(EXTRACT(year FROM o.o_orderdate) AS INTEGER) AS o_year,
         CAST(floor(l.l_extendedprice * (1 - l.l_discount) * 100)
              AS BIGINT) AS vol_cents,
         sn.n_name AS supp_nation
  FROM lineitem l
  JOIN part p     ON p.p_partkey = l.l_partkey
  JOIN orders o   ON o.o_orderkey = l.l_orderkey
  JOIN customer c ON c.c_custkey = o.o_custkey
  JOIN nation cn  ON cn.n_nationkey = c.c_nationkey
  JOIN region r   ON r.r_regionkey = cn.n_regionkey
  JOIN supplier s ON s.s_suppkey = l.l_suppkey
  JOIN nation sn  ON sn.n_nationkey = s.s_nationkey
  WHERE r.r_name = 'AMERICA' AND p.p_type = 'ECONOMY'
)
SELECT o_year,
       CAST(sum(CASE WHEN supp_nation = 'NATION_3'
                     THEN vol_cents ELSE 0 END) AS BIGINT)
         AS nation_vol_cents,
       CAST(sum(vol_cents) AS BIGINT) AS total_vol_cents,
       round(CAST(sum(CASE WHEN supp_nation = 'NATION_3'
                           THEN vol_cents ELSE 0 END) AS DOUBLE)
             / sum(vol_cents), 6) AS mkt_share
FROM vol GROUP BY o_year
""",
)
def q8_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q8 (national market share): one nation's share of ECONOMY
    part revenue sold into AMERICA customers, per year.

    The nation table joins TWICE in different roles (customer nation →
    region gate; supplier nation → share numerator) — the classic
    aliased-dimension shape. All six dimensions broadcast; lineitem ⋈
    orders is the only shuffle. Share computed from exact integer-cent
    sums so the ratio is engine-portable.
    """
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part").filter(
        F.col("p_type") == "ECONOMY"
    )
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    supp = load_table(spark, sf_dir, "supplier")
    nation = load_table(spark, sf_dir, "nation")
    region = load_table(spark, sf_dir, "region").filter(
        F.col("r_name") == "AMERICA"
    )
    cn = nation.alias("cn")
    sn = nation.alias("sn")
    vol = (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .join(
            F.broadcast(cn),
            F.col("c_nationkey") == F.col("cn.n_nationkey"),
        )
        .join(
            F.broadcast(region),
            F.col("cn.n_regionkey") == region.r_regionkey,
        )
        .join(F.broadcast(supp), li.l_suppkey == supp.s_suppkey)
        .join(
            F.broadcast(sn),
            F.col("s_nationkey") == F.col("sn.n_nationkey"),
        )
        .select(
            F.year("o_orderdate").alias("o_year"),
            cents(
                F.col("l_extendedprice") * (1 - F.col("l_discount"))
            ).alias("vol_cents"),
            F.col("sn.n_name").alias("supp_nation"),
        )
    )
    is_target = F.col("supp_nation") == "NATION_3"
    return vol.groupBy("o_year").agg(
        F.sum(F.when(is_target, F.col("vol_cents")).otherwise(0)).alias(
            "nation_vol_cents"
        ),
        F.sum("vol_cents").alias("total_vol_cents"),
    ).select(
        "o_year",
        "nation_vol_cents",
        "total_vol_cents",
        F.round(
            F.col("nation_vol_cents").cast("double")
            / F.col("total_vol_cents"),
            6,
        ).alias("mkt_share"),
    )


@register(
    "q9_product_profit",
    """
SELECT sn.n_name AS supp_nation,
       CAST(EXTRACT(year FROM o.o_orderdate) AS INTEGER) AS o_year,
       CAST(sum(CAST(floor(
         (l.l_extendedprice * (1 - l.l_discount)
          - 0.1 * p.p_retailprice * l.l_quantity) * 100) AS BIGINT))
         AS BIGINT) AS profit_cents
FROM lineitem l
JOIN part p     ON p.p_partkey = l.l_partkey
JOIN supplier s ON s.s_suppkey = l.l_suppkey
JOIN nation sn  ON sn.n_nationkey = s.s_nationkey
JOIN orders o   ON o.o_orderkey = l.l_orderkey
WHERE p.p_name LIKE '%gear%'
GROUP BY sn.n_name, o_year
""",
)
def q9_product_profit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q9 (product-type profit): profit on gear parts by
    supplier nation and year. The fixture has no partsupp, so supply
    cost is modeled as ``0.1 × p_retailprice × quantity`` (adapted, per
    module docstring) — the operator shape (5-way join, LIKE filter on
    a dimension, two-level group key) is Q9's.

    The part LIKE filter broadcasts pre-filtered (~fraction of 2k
    rows); at 100 TB the same plan holds because the selective
    dimension filter prunes lineitem rows at the (single) fact-fact
    join, never after it.
    """
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part").filter(
        F.col("p_name").like("%gear%")
    )
    supp = load_table(spark, sf_dir, "supplier")
    nation = load_table(spark, sf_dir, "nation")
    orders = load_table(spark, sf_dir, "orders")
    profit = (
        F.col("l_extendedprice") * (1 - F.col("l_discount"))
        - 0.1 * F.col("p_retailprice") * F.col("l_quantity")
    )
    return (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .join(F.broadcast(supp), li.l_suppkey == supp.s_suppkey)
        .join(
            F.broadcast(nation),
            F.col("s_nationkey") == nation.n_nationkey,
        )
        .join(orders, li.l_orderkey == orders.o_orderkey)
        .groupBy(
            F.col("n_name").alias("supp_nation"),
            F.year("o_orderdate").alias("o_year"),
        )
        .agg(F.sum(cents(profit)).alias("profit_cents"))
    )


@register(
    "q11_important_stock",
    """
WITH vals AS (
  SELECT l.l_partkey,
         CAST(sum(CAST(floor(l.l_extendedprice * 100) AS BIGINT))
              AS BIGINT) AS value_cents
  FROM lineitem l
  JOIN supplier s ON s.s_suppkey = l.l_suppkey
  JOIN nation n   ON n.n_nationkey = s.s_nationkey
  WHERE n.n_nationkey < 5
  GROUP BY l.l_partkey
), total AS (
  SELECT sum(value_cents) AS grand_cents,
         CAST(count(*) AS BIGINT) AS n_parts
  FROM vals
)
SELECT v.l_partkey, v.value_cents
FROM vals v, total t
WHERE CAST(v.value_cents AS DOUBLE)
      > 2.4 * (CAST(t.grand_cents AS DOUBLE) / t.n_parts)
""",
)
def q11_important_stock(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q11 (important stock): parts whose traded value through
    suppliers of five nations exceeds 2.4× the mean per-part value (relative threshold, so the
    selectivity survives scale-factor changes — a fixed grand-total
    fraction empties out as the part count grows).
    No partsupp in the fixture → value is lineitem extendedprice cents
    (adapted); the operator shape — grouped agg compared against a
    scalar global aggregate (correlated HAVING subquery) — is Q11's.

    The grand total is a 1-row DataFrame cross-joined via broadcast:
    at any scale the comparison is a map-side filter over the grouped
    output, not a second shuffle. Threshold compares in double to dodge
    int64 overflow on the cross-multiplication (ADVICE r4 precedent).
    """
    li = load_table(spark, sf_dir, "lineitem")
    supp = load_table(spark, sf_dir, "supplier")
    nation = load_table(spark, sf_dir, "nation").filter(
        F.col("n_nationkey") < 5
    )
    vals = (
        li.join(F.broadcast(supp), li.l_suppkey == supp.s_suppkey)
        .join(
            F.broadcast(nation),
            F.col("s_nationkey") == nation.n_nationkey,
        )
        .groupBy("l_partkey")
        .agg(F.sum(cents("l_extendedprice")).alias("value_cents"))
    )
    total = vals.agg(
        F.sum("value_cents").alias("grand_cents"),
        F.count(F.lit(1)).alias("n_parts"),
    )
    return (
        vals.crossJoin(F.broadcast(total))
        .filter(
            F.col("value_cents").cast("double")
            > 2.4
            * (
                F.col("grand_cents").cast("double")
                / F.col("n_parts")
            )
        )
        .select("l_partkey", "value_cents")
    )


@register(
    "q16_parts_supplier",
    """
SELECT p.p_brand, p.p_size,
       CAST(count(DISTINCT l.l_suppkey) AS BIGINT) AS supplier_cnt
FROM lineitem l
JOIN part p ON p.p_partkey = l.l_partkey
WHERE p.p_brand <> 'Brand#45'
  AND p.p_type NOT LIKE 'MEDIUM%'
  AND p.p_size IN (1, 4, 9, 14, 19, 23, 36, 45)
  AND l.l_suppkey NOT IN (
        SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
GROUP BY p.p_brand, p.p_size
""",
)
def q16_parts_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q16 (parts/supplier relationship): distinct suppliers per
    (brand, size) bucket, excluding a brand, a type prefix, and a
    blacklisted supplier set (NOT IN subquery — negative-balance
    suppliers stand in for the spec's complaint filter; the fixture has
    no s_comment).

    The NOT IN becomes an explicit LEFT ANTI join against the (tiny,
    broadcast) blacklist — at scale this is a map-side bloom-style
    filter, never a shuffle. count(DISTINCT) shuffles once on the
    (brand, size) group key with distinct-aggregate expansion.
    """
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part").filter(
        (F.col("p_brand") != "Brand#45")
        & ~F.col("p_type").like("MEDIUM%")
        & F.col("p_size").isin(1, 4, 9, 14, 19, 23, 36, 45)
    )
    blacklist = (
        load_table(spark, sf_dir, "supplier")
        .filter(F.col("s_acctbal") < 0)
        .select("s_suppkey")
    )
    return (
        li.join(
            F.broadcast(blacklist),
            li.l_suppkey == blacklist.s_suppkey,
            "left_anti",
        )
        .join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .groupBy("p_brand", "p_size")
        .agg(F.count_distinct("l_suppkey").alias("supplier_cnt"))
    )


@register(
    "q20_excess_suppliers",
    """
WITH shipped AS (
  SELECT l.l_suppkey,
         CAST(sum(CAST(floor(l.l_quantity * 100) AS BIGINT)) AS BIGINT)
           AS qty_cents
  FROM lineitem l
  JOIN part p ON p.p_partkey = l.l_partkey
  WHERE p.p_name LIKE '%red%'
    AND l.l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
    AND l.l_shipdate <  TIMESTAMP '1998-01-01 00:00:00'
  GROUP BY l.l_suppkey
)
SELECT s.s_suppkey, s.s_name, sh.qty_cents
FROM supplier s
JOIN shipped sh ON sh.l_suppkey = s.s_suppkey
WHERE sh.qty_cents > 10000 AND s.s_acctbal > 0
""",
)
def q20_excess_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q20 (potential part promotion): suppliers who moved more
    than a threshold quantity of red parts in 1997. The spec's
    partsupp half-availability threshold is adapted to a shipped-quantity
    threshold (no partsupp table); the operator shape — a nested
    IN-subquery chain collapsing to agg-then-semi-join — is Q20's.

    Aggregation runs BEFORE the supplier join, shrinking lineitem to
    ≤ one row per supplier; the supplier side then broadcasts.
    Quantities as exact integer hundredths.
    """
    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1997-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1998-01-01").cast("timestamp"))
    )
    part = load_table(spark, sf_dir, "part").filter(
        F.col("p_name").like("%red%")
    )
    supp = load_table(spark, sf_dir, "supplier").filter(
        F.col("s_acctbal") > 0
    )
    shipped = (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .groupBy("l_suppkey")
        .agg(F.sum(cents("l_quantity")).alias("qty_cents"))
        .filter(F.col("qty_cents") > 10000)
    )
    return shipped.join(
        F.broadcast(supp), shipped.l_suppkey == supp.s_suppkey
    ).select("s_suppkey", "s_name", "qty_cents")


@register(
    "q21_waiting_suppliers",
    """
WITH f AS (
  SELECT l.l_orderkey, l.l_suppkey,
         CASE WHEN l.l_shipdate > o.o_orderdate + INTERVAL 90 DAY
              THEN 1 ELSE 0 END AS is_late
  FROM lineitem l
  JOIN orders o ON o.o_orderkey = l.l_orderkey
  WHERE o.o_orderstatus = 'F'
), per_order AS (
  SELECT l_orderkey,
         count(DISTINCT l_suppkey) AS n_supp,
         count(DISTINCT CASE WHEN is_late = 1 THEN l_suppkey END)
           AS n_late_supp
  FROM f GROUP BY l_orderkey
), late AS (
  SELECT DISTINCT l_orderkey, l_suppkey FROM f WHERE is_late = 1
)
SELECT s.s_name,
       CAST(count(*) AS BIGINT) AS numwait
FROM late t
JOIN per_order p ON p.l_orderkey = t.l_orderkey
JOIN supplier s  ON s.s_suppkey = t.l_suppkey
WHERE p.n_supp >= 2 AND p.n_late_supp = 1
GROUP BY s.s_name
ORDER BY numwait DESC, s.s_name
LIMIT 20
""",
)
def q21_waiting_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q21 (suppliers who kept orders waiting): for finalized
    orders, count per supplier the multi-supplier orders where that
    supplier was the ONLY late one. "Late" is adapted to
    ``l_shipdate > o_orderdate + 90 days`` (fixture has no
    commit/receipt dates); the EXISTS / NOT-EXISTS pair is rewritten
    as per-order distinct-supplier aggregates — the scale-correct form:
    the semantics are identical (another supplier exists on the order ⇔
    n_supp ≥ 2; no OTHER late supplier exists ⇔ n_late_supp = 1 given
    this supplier is late), and the whole thing runs in THREE shuffles:
    one distinct-pair aggregation on (orderkey, suppkey), per-order
    counts as windows RIDING that same orderkey partitioning (no
    re-shuffle of the fact table, no correlated self-joins), and the
    tiny final supplier-name rollup.
    """
    orders = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderstatus") == "F"
    )
    li = load_table(spark, sf_dir, "lineitem")
    pairs = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .groupBy("l_orderkey", "l_suppkey")
        .agg(
            F.max(
                (
                    F.col("l_shipdate")
                    > F.col("o_orderdate") + F.expr("INTERVAL 90 DAYS")
                ).cast("int")
            ).alias("late")
        )
    )
    w = Window.partitionBy("l_orderkey")
    ann = pairs.select(
        "l_suppkey",
        "late",
        F.count(F.lit(1)).over(w).alias("n_supp"),
        F.sum("late").over(w).alias("n_late_supp"),
    )
    supp = load_table(spark, sf_dir, "supplier").select(
        "s_suppkey", "s_name"
    )
    return (
        ann.filter(
            (F.col("late") == 1)
            & (F.col("n_supp") >= 2)
            & (F.col("n_late_supp") == 1)
        )
        .join(F.broadcast(supp), ann.l_suppkey == supp.s_suppkey)
        .groupBy("s_name")
        .agg(F.count(F.lit(1)).alias("numwait"))
        .orderBy(F.desc("numwait"), F.asc("s_name"))
        .limit(20)
    )
