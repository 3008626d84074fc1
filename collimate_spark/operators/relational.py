"""Core relational operators: scan/filter/project, hash aggregation,
joins (broadcast + shuffle), rollup/cube/grouping sets, set ops, sorts,
scalar function families.

The reference (/root/reference/index.js) has NONE of these (SURVEY.md §2.2);
they are the query surface its downstream `frame` project would provide.
Everything here is built-in Catalyst — filters and projections push to the
Parquet scan, small dims broadcast, aggregates get map-side partial
combine, AQE handles skew. No Python in the hot path.

Float-aggregate convention: money sums/avgs are ROUNDed identically in the
Spark plan and the DuckDB oracle so order-of-accumulation noise (~1e-7 at
sf0.01) cannot flip the driver's value-hash.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from collimate_spark.catalog import load_table


# --- TPC-H Q1 shape: scan → pushed filter → hash agg (partial+final) → sort
def q1_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, "lineitem", sf_dir)
    return (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-02").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
            F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias("sum_disc_price"),
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount")) * (1 + F.col("l_tax"))), 2
            ).alias("sum_charge"),
            F.round(F.avg("l_quantity"), 4).alias("avg_qty"),
            F.round(F.avg("l_extendedprice"), 4).alias("avg_price"),
            F.round(F.avg("l_discount"), 4).alias("avg_disc"),
            F.count(F.lit(1)).alias("count_order"),
        )
        .orderBy("l_returnflag", "l_linestatus")
    )


Q1_SQL = """
SELECT l_returnflag, l_linestatus,
       ROUND(SUM(l_quantity), 2) AS sum_qty,
       ROUND(SUM(l_extendedprice), 2) AS sum_base_price,
       ROUND(SUM(l_extendedprice * (1 - l_discount)), 2) AS sum_disc_price,
       ROUND(SUM(l_extendedprice * (1 - l_discount) * (1 + l_tax)), 2) AS sum_charge,
       ROUND(AVG(l_quantity), 4) AS avg_qty,
       ROUND(AVG(l_extendedprice), 4) AS avg_price,
       ROUND(AVG(l_discount), 4) AS avg_disc,
       COUNT(*) AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '1998-09-02'
GROUP BY l_returnflag, l_linestatus
ORDER BY l_returnflag, l_linestatus
"""


# --- TPC-H Q3 shape: 3-way join (dim filter → broadcast), agg, top-k
def q3_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, "customer", sf_dir).filter(F.col("c_mktsegment") == "BUILDING")
    orders = load_table(spark, "orders", sf_dir).filter(
        F.col("o_orderdate") < F.lit("1997-03-15").cast("timestamp")
    )
    li = load_table(spark, "lineitem", sf_dir).filter(
        F.col("l_shipdate") > F.lit("1997-03-15").cast("timestamp")
    )
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg(F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias("revenue"))
        .orderBy(F.desc("revenue"), "l_orderkey")
        .limit(10)
    )


Q3_SQL = """
SELECT l_orderkey, o_orderdate, o_orderpriority,
       ROUND(SUM(l_extendedprice * (1 - l_discount)), 2) AS revenue
FROM customer
JOIN orders ON c_custkey = o_custkey
JOIN lineitem ON l_orderkey = o_orderkey
WHERE c_mktsegment = 'BUILDING'
  AND o_orderdate < TIMESTAMP '1997-03-15'
  AND l_shipdate > TIMESTAMP '1997-03-15'
GROUP BY l_orderkey, o_orderdate, o_orderpriority
ORDER BY revenue DESC, l_orderkey
LIMIT 10
"""


# --- TPC-H Q5 shape: 6-way star join; dims broadcast, facts shuffle on keys
def q5_local_supplier_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    region = load_table(spark, "region", sf_dir)
    nation = load_table(spark, "nation", sf_dir)
    cust = load_table(spark, "customer", sf_dir)
    supp = load_table(spark, "supplier", sf_dir)
    orders = load_table(spark, "orders", sf_dir)
    li = load_table(spark, "lineitem", sf_dir)
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(supp), li.l_suppkey == supp.s_suppkey)
        .filter(cust.c_nationkey == supp.s_nationkey)
        .join(F.broadcast(nation), supp.s_nationkey == nation.n_nationkey)
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
        .groupBy("n_name")
        .agg(F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias("revenue"))
        .orderBy(F.desc("revenue"), "n_name")
    )


Q5_SQL = """
SELECT n_name, ROUND(SUM(l_extendedprice * (1 - l_discount)), 2) AS revenue
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN supplier ON l_suppkey = s_suppkey
JOIN nation ON s_nationkey = n_nationkey
JOIN region ON n_regionkey = r_regionkey
WHERE c_nationkey = s_nationkey
GROUP BY n_name
ORDER BY revenue DESC, n_name
"""


# --- TPC-H Q6 shape: pushed-down range predicates → global agg (no shuffle
#     beyond the final single-partition combine)
def q6_forecast_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, "lineitem", sf_dir)
    return (
        li.filter(
            (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1997-01-01").cast("timestamp"))
            & (F.col("l_discount").between(0.05, 0.07))
            & (F.col("l_quantity") < 24)
        )
        .agg(F.round(F.sum(F.col("l_extendedprice") * F.col("l_discount")), 2).alias("revenue"))
    )


Q6_SQL = """
SELECT ROUND(SUM(l_extendedprice * l_discount), 2) AS revenue
FROM lineitem
WHERE l_shipdate >= TIMESTAMP '1996-01-01'
  AND l_shipdate < TIMESTAMP '1997-01-01'
  AND l_discount BETWEEN 0.05 AND 0.07
  AND l_quantity < 24
"""


# --- TPC-H Q10 shape: returned-item revenue by customer, top-k
def q10_returned_items(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, "customer", sf_dir)
    orders = load_table(spark, "orders", sf_dir)
    li = load_table(spark, "lineitem", sf_dir).filter(F.col("l_returnflag") == "R")
    nation = load_table(spark, "nation", sf_dir)
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
        .groupBy("c_custkey", "c_name", "n_name")
        .agg(F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias("revenue"))
        .orderBy(F.desc("revenue"), "c_custkey")
        .limit(20)
    )


Q10_SQL = """
SELECT c_custkey, c_name, n_name,
       ROUND(SUM(l_extendedprice * (1 - l_discount)), 2) AS revenue
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN nation ON c_nationkey = n_nationkey
WHERE l_returnflag = 'R'
GROUP BY c_custkey, c_name, n_name
ORDER BY revenue DESC, c_custkey
LIMIT 20
"""


# --- TPC-H Q4 shape: EXISTS-semi-join + agg
def q4_order_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, "orders", sf_dir).filter(
        (F.col("o_orderdate") >= F.lit("1996-07-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1997-07-01").cast("timestamp"))
    )
    late_li = (
        load_table(spark, "lineitem", sf_dir)
        .filter(F.col("l_returnflag") == "R")
        .select("l_orderkey")
    )
    return (
        orders.join(late_li, orders.o_orderkey == late_li.l_orderkey, "left_semi")
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("order_count"))
        .orderBy("o_orderpriority")
    )


Q4_SQL = """
SELECT o_orderpriority, COUNT(*) AS order_count
FROM orders
WHERE o_orderdate >= TIMESTAMP '1996-07-01'
  AND o_orderdate < TIMESTAMP '1997-07-01'
  AND EXISTS (SELECT 1 FROM lineitem
              WHERE l_orderkey = o_orderkey AND l_returnflag = 'R')
GROUP BY o_orderpriority
ORDER BY o_orderpriority
"""


# --- TPC-H Q12 shape: join + conditional (CASE) aggregation
def q12_shipmode_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, "orders", sf_dir)
    li = load_table(spark, "lineitem", sf_dir).filter(F.col("l_linenumber") <= 2)
    high = F.when(
        F.col("o_orderpriority").isin("1-URGENT", "2-HIGH"), 1
    ).otherwise(0)
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .groupBy("l_returnflag")
        .agg(
            F.sum(high).alias("high_line_count"),
            F.sum(1 - high).alias("low_line_count"),
        )
        .orderBy("l_returnflag")
    )


Q12_SQL = """
SELECT l_returnflag,
       CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH') THEN 1 ELSE 0 END)
            AS BIGINT) AS high_line_count,
       CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH') THEN 0 ELSE 1 END)
            AS BIGINT) AS low_line_count
FROM lineitem JOIN orders ON l_orderkey = o_orderkey
WHERE l_linenumber <= 2
GROUP BY l_returnflag
ORDER BY l_returnflag
"""


# --- TPC-H Q18 shape: HAVING-filtered subquery feeding a join (large-qty orders)
def q18_large_volume_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, "lineitem", sf_dir)
    big_orders = (
        li.groupBy("l_orderkey")
        .agg(F.round(F.sum("l_quantity"), 2).alias("total_qty"))
        .filter(F.col("total_qty") > 150)
    )
    orders = load_table(spark, "orders", sf_dir)
    cust = load_table(spark, "customer", sf_dir)
    return (
        orders.join(big_orders, orders.o_orderkey == big_orders.l_orderkey)
        .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .select(
            "c_custkey",
            "c_name",
            "o_orderkey",
            F.round("o_totalprice", 2).alias("o_totalprice"),
            "total_qty",
        )
        .orderBy(F.desc("total_qty"), "o_orderkey")
        .limit(50)
    )


Q18_SQL = """
SELECT c_custkey, c_name, o_orderkey,
       ROUND(o_totalprice, 2) AS o_totalprice, total_qty
FROM orders
JOIN (SELECT l_orderkey, ROUND(SUM(l_quantity), 2) AS total_qty
      FROM lineitem GROUP BY l_orderkey HAVING ROUND(SUM(l_quantity), 2) > 150) big
  ON o_orderkey = big.l_orderkey
JOIN customer ON o_custkey = c_custkey
ORDER BY total_qty DESC, o_orderkey
LIMIT 50
"""


# --- TPC-H Q19 shape: disjunctive multi-predicate join filter
def q19_discounted_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, "lineitem", sf_dir)
    part = load_table(spark, "part", sf_dir)
    joined = li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
    cond = (
        ((F.col("p_brand") == "Brand#1") & (F.col("l_quantity").between(1, 20)) & (F.col("p_size") <= 10))
        | ((F.col("p_brand") == "Brand#2") & (F.col("l_quantity").between(10, 30)) & (F.col("p_size") <= 20))
        | ((F.col("p_brand") == "Brand#3") & (F.col("l_quantity").between(20, 40)) & (F.col("p_size") <= 30))
    )
    return joined.filter(cond).agg(
        F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias("revenue"),
        F.count(F.lit(1)).alias("n_lines"),
    )


Q19_SQL = """
SELECT ROUND(SUM(l_extendedprice * (1 - l_discount)), 2) AS revenue,
       COUNT(*) AS n_lines
FROM lineitem JOIN part ON l_partkey = p_partkey
WHERE (p_brand = 'Brand#1' AND l_quantity BETWEEN 1 AND 20 AND p_size <= 10)
   OR (p_brand = 'Brand#2' AND l_quantity BETWEEN 10 AND 30 AND p_size <= 20)
   OR (p_brand = 'Brand#3' AND l_quantity BETWEEN 20 AND 40 AND p_size <= 30)
"""


# --- aggregation variants -------------------------------------------------
def agg_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """COUNT(DISTINCT) — expand/partial-dedup plan; plus exact counts."""
    orders = load_table(spark, "orders", sf_dir)
    return orders.groupBy("o_orderstatus").agg(
        F.countDistinct("o_custkey").alias("n_customers"),
        F.countDistinct("o_orderpriority").alias("n_priorities"),
        F.count(F.lit(1)).alias("n_orders"),
    ).orderBy("o_orderstatus")


AGG_DISTINCT_SQL = """
SELECT o_orderstatus,
       COUNT(DISTINCT o_custkey) AS n_customers,
       COUNT(DISTINCT o_orderpriority) AS n_priorities,
       COUNT(*) AS n_orders
FROM orders
GROUP BY o_orderstatus
ORDER BY o_orderstatus
"""


def agg_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROLLUP — hierarchical subtotals in one shuffle (Expand operator)."""
    li = load_table(spark, "lineitem", sf_dir)
    return (
        li.rollup("l_returnflag", "l_linestatus")
        .agg(F.round(F.sum("l_quantity"), 2).alias("sum_qty"), F.count(F.lit(1)).alias("n"))
        .orderBy(F.col("l_returnflag").asc_nulls_first(), F.col("l_linestatus").asc_nulls_first())
    )


AGG_ROLLUP_SQL = """
SELECT l_returnflag, l_linestatus,
       ROUND(SUM(l_quantity), 2) AS sum_qty, COUNT(*) AS n
FROM lineitem
GROUP BY ROLLUP (l_returnflag, l_linestatus)
ORDER BY l_returnflag ASC NULLS FIRST, l_linestatus ASC NULLS FIRST
"""


def agg_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, "lineitem", sf_dir)
    return (
        li.cube("l_returnflag", "l_linestatus")
        .agg(F.round(F.sum("l_extendedprice"), 2).alias("sum_price"), F.count(F.lit(1)).alias("n"))
        .orderBy(F.col("l_returnflag").asc_nulls_first(), F.col("l_linestatus").asc_nulls_first())
    )


AGG_CUBE_SQL = """
SELECT l_returnflag, l_linestatus,
       ROUND(SUM(l_extendedprice), 2) AS sum_price, COUNT(*) AS n
FROM lineitem
GROUP BY CUBE (l_returnflag, l_linestatus)
ORDER BY l_returnflag ASC NULLS FIRST, l_linestatus ASC NULLS FIRST
"""


def agg_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GROUPING SETS via SQL front door (engine registers catalog views)."""
    load_table(spark, "orders", sf_dir).createOrReplaceTempView("orders")
    return spark.sql(
        """
        SELECT o_orderstatus, o_orderpriority,
               ROUND(SUM(o_totalprice), 2) AS sum_price, COUNT(*) AS n
        FROM orders
        GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
        ORDER BY o_orderstatus ASC NULLS FIRST, o_orderpriority ASC NULLS FIRST
        """
    )


AGG_GROUPING_SETS_SQL = """
SELECT o_orderstatus, o_orderpriority,
       ROUND(SUM(o_totalprice), 2) AS sum_price, COUNT(*) AS n
FROM orders
GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
ORDER BY o_orderstatus ASC NULLS FIRST, o_orderpriority ASC NULLS FIRST
"""


def agg_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Statistical aggregates: stddev/var/min/max/median-ish percentile."""
    li = load_table(spark, "lineitem", sf_dir)
    return li.groupBy("l_returnflag").agg(
        F.round(F.stddev_samp("l_quantity"), 4).alias("std_qty"),
        F.round(F.var_samp("l_discount"), 6).alias("var_disc"),
        F.round(F.min("l_extendedprice"), 2).alias("min_price"),
        F.round(F.max("l_extendedprice"), 2).alias("max_price"),
    ).orderBy("l_returnflag")


AGG_STATS_SQL = """
SELECT l_returnflag,
       ROUND(STDDEV_SAMP(l_quantity), 4) AS std_qty,
       ROUND(VAR_SAMP(l_discount), 6) AS var_disc,
       ROUND(MIN(l_extendedprice), 2) AS min_price,
       ROUND(MAX(l_extendedprice), 2) AS max_price
FROM lineitem
GROUP BY l_returnflag
ORDER BY l_returnflag
"""


def agg_boolean_counting(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Boolean/conditional aggregate family: count_if, bool_and (every),
    bool_or (any) — the predicate-summary aggregates, per return flag."""
    li = load_table(spark, "lineitem", sf_dir)
    return (
        li.groupBy("l_returnflag")
        .agg(
            F.count_if(F.col("l_quantity") > 25).alias("n_bulk_lines"),
            F.bool_and(F.col("l_discount") <= F.lit(0.1)).alias("all_discounts_capped"),
            F.bool_or(F.col("l_tax") > F.lit(0.07)).alias("any_high_tax"),
        )
        .orderBy("l_returnflag")
    )


AGG_BOOL_SQL = """
SELECT l_returnflag,
       COUNT(*) FILTER (l_quantity > 25) AS n_bulk_lines,
       BOOL_AND(l_discount <= 0.1) AS all_discounts_capped,
       BOOL_OR(l_tax > 0.07) AS any_high_tax
FROM lineitem
GROUP BY l_returnflag
ORDER BY l_returnflag
"""


# --- set operations -------------------------------------------------------
def set_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UNION / INTERSECT / EXCEPT over derived key sets, tagged + unioned
    into one result (so one query exercises all three)."""
    orders = load_table(spark, "orders", sf_dir)
    big = orders.filter(F.col("o_totalprice") > 200000).select("o_custkey").distinct()
    urgent = orders.filter(F.col("o_orderpriority") == "1-URGENT").select("o_custkey").distinct()
    u = big.union(urgent).distinct().select(F.lit("union").alias("op"), "o_custkey")
    i = big.intersect(urgent).select(F.lit("intersect").alias("op"), "o_custkey")
    e = big.exceptAll(urgent).distinct().select(F.lit("except").alias("op"), "o_custkey")
    return u.union(i).union(e).orderBy("op", "o_custkey")


SET_OPS_SQL = """
WITH big AS (SELECT DISTINCT o_custkey FROM orders WHERE o_totalprice > 200000),
     urgent AS (SELECT DISTINCT o_custkey FROM orders WHERE o_orderpriority = '1-URGENT')
SELECT 'union' AS op, o_custkey FROM (SELECT o_custkey FROM big UNION SELECT o_custkey FROM urgent)
UNION ALL
SELECT 'intersect' AS op, o_custkey FROM (SELECT o_custkey FROM big INTERSECT SELECT o_custkey FROM urgent)
UNION ALL
SELECT 'except' AS op, o_custkey FROM (SELECT o_custkey FROM big EXCEPT SELECT o_custkey FROM urgent)
ORDER BY op, o_custkey
"""


def set_ops_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BAG-semantics set operations (``intersectAll`` / ``exceptAll``):
    duplicates carry multiplicity — intersect keeps min(m_left, m_right)
    copies per value, except keeps max(0, m_left − m_right). Run over
    per-customer order-priority rows (which repeat), then counted per op
    so the multiplicity arithmetic is what the oracle checks. These are
    different OPERATORS from the distinct forms in set_ops (Spark plans
    them as aggregate-count joins, not dedup joins); the distinction
    matters whenever rows are events, not members."""
    orders = load_table(spark, "orders", sf_dir)
    left = orders.filter(F.col("o_totalprice") > 150000).select("o_custkey")
    right = orders.filter(F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")).select(
        "o_custkey"
    )
    ia = left.intersectAll(right).select(F.lit("intersect_all").alias("op"), "o_custkey")
    ea = left.exceptAll(right).select(F.lit("except_all").alias("op"), "o_custkey")
    return (
        ia.union(ea)
        .groupBy("op", "o_custkey")
        .agg(F.count(F.lit(1)).alias("multiplicity"))
        .orderBy("op", "o_custkey")
    )


SET_OPS_ALL_SQL = """
WITH l AS (SELECT o_custkey FROM orders WHERE o_totalprice > 150000),
     r AS (SELECT o_custkey FROM orders WHERE o_orderpriority IN ('1-URGENT', '2-HIGH')),
both_ops AS (
  SELECT 'intersect_all' AS op, o_custkey FROM (SELECT o_custkey FROM l INTERSECT ALL SELECT o_custkey FROM r)
  UNION ALL
  SELECT 'except_all' AS op, o_custkey FROM (SELECT o_custkey FROM l EXCEPT ALL SELECT o_custkey FROM r)
)
SELECT op, o_custkey, COUNT(*) AS multiplicity
FROM both_ops
GROUP BY op, o_custkey
ORDER BY op, o_custkey
"""


def rollup_grouping_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROLLUP disambiguated with grouping()/grouping_id(): a NULL group
    key in rollup output is ambiguous (real NULL data vs subtotal row);
    ``grouping(col)`` says which, ``grouping_id()`` encodes the full
    subtotal level. Every BI tool consuming rollups needs this — without
    it the subtotal rows silently merge with NULL-keyed data groups."""
    li = load_table(spark, "lineitem", sf_dir)
    return (
        li.rollup("l_returnflag", "l_linestatus")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.grouping("l_returnflag").alias("is_flag_subtotal"),
            F.grouping("l_linestatus").alias("is_status_subtotal"),
            F.grouping_id().alias("level"),
        )
        .orderBy("level", "l_returnflag", "l_linestatus")
    )


ROLLUP_GROUPING_ID_SQL = """
SELECT l_returnflag, l_linestatus,
       COUNT(*) AS n,
       CAST(GROUPING(l_returnflag) AS TINYINT) AS is_flag_subtotal,
       CAST(GROUPING(l_linestatus) AS TINYINT) AS is_status_subtotal,
       CAST(GROUPING(l_returnflag) * 2 + GROUPING(l_linestatus) AS BIGINT) AS level
FROM lineitem
GROUP BY ROLLUP (l_returnflag, l_linestatus)
ORDER BY level, l_returnflag, l_linestatus
"""


def union_by_name_evolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema-evolution union: two order 'snapshots' whose column sets
    drifted (the newer adds o_orderpriority, the older lacks it) combine
    via ``unionByName(allowMissingColumns=True)`` — position-independent,
    missing columns null-filled. The query-level twin of a
    ``mergeSchema`` Parquet read (which does the same at the footer
    level); both are how append-only pipelines survive additive schema
    change without rewriting history."""
    orders = load_table(spark, "orders", sf_dir)
    old_snap = orders.filter(F.col("o_orderkey") % 2 == 0).select(
        "o_orderkey", "o_custkey", "o_totalprice"
    )
    new_snap = orders.filter(F.col("o_orderkey") % 2 == 1).select(
        "o_orderkey", "o_custkey", "o_totalprice", "o_orderpriority"
    )
    merged = old_snap.unionByName(new_snap, allowMissingColumns=True)
    return (
        merged.groupBy(F.coalesce("o_orderpriority", F.lit("<pre-schema>")).alias("priority"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum("o_totalprice"), 2).alias("total"),
        )
        .orderBy("priority")
    )


UNION_BY_NAME_SQL = """
WITH old_snap AS (
  SELECT o_orderkey, o_custkey, o_totalprice FROM orders WHERE o_orderkey % 2 = 0
),
new_snap AS (
  SELECT o_orderkey, o_custkey, o_totalprice, o_orderpriority
  FROM orders WHERE o_orderkey % 2 = 1
),
merged AS (
  SELECT * FROM old_snap UNION ALL BY NAME SELECT * FROM new_snap
)
SELECT COALESCE(o_orderpriority, '<pre-schema>') AS priority,
       COUNT(*) AS n,
       ROUND(SUM(o_totalprice), 2) AS total
FROM merged
GROUP BY 1
ORDER BY priority
"""


# --- sorts / limits -------------------------------------------------------
def sort_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global top-k: Spark plans TakeOrderedAndProject — per-partition heap,
    no full sort, no single-node shuffle. The scalable ORDER BY+LIMIT."""
    orders = load_table(spark, "orders", sf_dir)
    return (
        orders.orderBy(F.desc("o_totalprice"), "o_orderkey")
        .select("o_orderkey", "o_custkey", F.round("o_totalprice", 2).alias("o_totalprice"))
        .limit(25)
    )


SORT_TOPK_SQL = """
SELECT o_orderkey, o_custkey, ROUND(o_totalprice, 2) AS o_totalprice
FROM orders
ORDER BY o_totalprice DESC, o_orderkey
LIMIT 25
"""


# --- scalar function families --------------------------------------------
def scalar_string_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    part = load_table(spark, "part", sf_dir)
    return (
        part.select(
            "p_partkey",
            F.upper(F.col("p_brand")).alias("brand_upper"),
            F.substring(F.col("p_name"), 1, 8).alias("name_prefix"),
            F.length(F.col("p_name")).alias("name_len"),
            F.regexp_replace(F.col("p_type"), "[aeiou]", "").alias("type_novowel"),
            F.concat_ws("|", F.col("p_brand"), F.col("p_type")).alias("brand_type"),
            F.when(F.col("p_name").contains("a"), F.lit("has_a")).otherwise(F.lit("no_a")).alias("a_flag"),
        )
        .orderBy("p_partkey")
    )


SCALAR_STRING_SQL = """
SELECT p_partkey,
       UPPER(p_brand) AS brand_upper,
       SUBSTRING(p_name, 1, 8) AS name_prefix,
       LENGTH(p_name) AS name_len,
       REGEXP_REPLACE(p_type, '[aeiou]', '', 'g') AS type_novowel,
       CONCAT_WS('|', p_brand, p_type) AS brand_type,
       CASE WHEN p_name LIKE '%a%' THEN 'has_a' ELSE 'no_a' END AS a_flag
FROM part
ORDER BY p_partkey
"""


def scalar_date_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, "orders", sf_dir)
    return (
        orders.select(
            "o_orderkey",
            F.year("o_orderdate").alias("order_year"),
            F.month("o_orderdate").alias("order_month"),
            F.dayofmonth("o_orderdate").alias("order_day"),
            F.quarter("o_orderdate").alias("order_quarter"),
            F.date_format("o_orderdate", "yyyy-MM-dd").alias("order_iso"),
            F.datediff(F.lit("1999-01-01").cast("date"), F.col("o_orderdate").cast("date")).alias(
                "days_to_1999"
            ),
        )
        .orderBy("o_orderkey")
    )


SCALAR_DATE_SQL = """
SELECT o_orderkey,
       EXTRACT(year FROM o_orderdate) AS order_year,
       EXTRACT(month FROM o_orderdate) AS order_month,
       EXTRACT(day FROM o_orderdate) AS order_day,
       EXTRACT(quarter FROM o_orderdate) AS order_quarter,
       STRFTIME(o_orderdate, '%Y-%m-%d') AS order_iso,
       DATEDIFF('day', CAST(o_orderdate AS DATE), DATE '1999-01-01') AS days_to_1999
FROM orders
ORDER BY o_orderkey
"""


def scalar_math_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, "lineitem", sf_dir).filter(F.col("l_linenumber") == 1)
    return (
        li.select(
            "l_orderkey",
            F.round(F.sqrt("l_quantity"), 6).alias("sqrt_qty"),
            F.round(F.log(F.col("l_extendedprice")), 6).alias("ln_price"),
            F.round(F.pow(F.col("l_discount"), 2), 8).alias("disc_sq"),
            F.ceil("l_quantity").alias("qty_ceil"),
            F.floor("l_quantity").alias("qty_floor"),
            F.abs(F.col("l_quantity") - 25).alias("qty_dev"),
            F.pmod(F.col("l_orderkey"), 7).alias("key_mod7"),
        )
        .orderBy("l_orderkey")
    )


SCALAR_MATH_SQL = """
SELECT l_orderkey,
       ROUND(SQRT(l_quantity), 6) AS sqrt_qty,
       ROUND(LN(l_extendedprice), 6) AS ln_price,
       ROUND(POW(l_discount, 2), 8) AS disc_sq,
       CAST(CEIL(l_quantity) AS BIGINT) AS qty_ceil,
       CAST(FLOOR(l_quantity) AS BIGINT) AS qty_floor,
       ABS(l_quantity - 25) AS qty_dev,
       l_orderkey % 7 AS key_mod7
FROM lineitem
WHERE l_linenumber = 1
ORDER BY l_orderkey
"""


# --- conditional / null-handling expressions ------------------------------
def scalar_conditional(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, "customer", sf_dir)
    return (
        cust.select(
            "c_custkey",
            F.when(F.col("c_acctbal") < 0, "overdrawn")
            .when(F.col("c_acctbal") < 5000, "standard")
            .otherwise("premium")
            .alias("tier"),
            F.coalesce(F.nullif(F.col("c_mktsegment"), F.lit("MACHINERY")), F.lit("OTHER")).alias(
                "segment_masked"
            ),
            F.greatest(F.col("c_acctbal"), F.lit(0.0)).alias("bal_floor0"),
            F.least(F.round("c_acctbal", 0), F.lit(9000.0)).alias("bal_cap9k"),
        )
        .orderBy("c_custkey")
    )


SCALAR_COND_SQL = """
SELECT c_custkey,
       CASE WHEN c_acctbal < 0 THEN 'overdrawn'
            WHEN c_acctbal < 5000 THEN 'standard'
            ELSE 'premium' END AS tier,
       COALESCE(NULLIF(c_mktsegment, 'MACHINERY'), 'OTHER') AS segment_masked,
       GREATEST(c_acctbal, 0.0) AS bal_floor0,
       LEAST(ROUND(c_acctbal, 0), 9000.0) AS bal_cap9k
FROM customer
ORDER BY c_custkey
"""


QUERIES = {
    "q1_pricing_summary": q1_pricing_summary,
    "q3_shipping_priority": q3_shipping_priority,
    "q4_order_priority": q4_order_priority,
    "q5_local_supplier_volume": q5_local_supplier_volume,
    "q6_forecast_revenue": q6_forecast_revenue,
    "q10_returned_items": q10_returned_items,
    "q12_shipmode_priority": q12_shipmode_priority,
    "q18_large_volume_customers": q18_large_volume_customers,
    "q19_discounted_revenue": q19_discounted_revenue,
    "agg_distinct": agg_distinct,
    "agg_rollup": agg_rollup,
    "agg_cube": agg_cube,
    "agg_grouping_sets": agg_grouping_sets,
    "agg_stats": agg_stats,
    "agg_boolean_counting": agg_boolean_counting,
    "set_ops": set_ops,
    "set_ops_all": set_ops_all,
    "union_by_name_evolution": union_by_name_evolution,
    "rollup_grouping_id": rollup_grouping_id,
    "sort_topk": sort_topk,
    "scalar_string_funcs": scalar_string_funcs,
    "scalar_date_funcs": scalar_date_funcs,
    "scalar_math_funcs": scalar_math_funcs,
    "scalar_conditional": scalar_conditional,
}

ORACLES = {
    "q1_pricing_summary": Q1_SQL,
    "q3_shipping_priority": Q3_SQL,
    "q4_order_priority": Q4_SQL,
    "q5_local_supplier_volume": Q5_SQL,
    "q6_forecast_revenue": Q6_SQL,
    "q10_returned_items": Q10_SQL,
    "q12_shipmode_priority": Q12_SQL,
    "q18_large_volume_customers": Q18_SQL,
    "q19_discounted_revenue": Q19_SQL,
    "agg_distinct": AGG_DISTINCT_SQL,
    "agg_rollup": AGG_ROLLUP_SQL,
    "agg_cube": AGG_CUBE_SQL,
    "agg_grouping_sets": AGG_GROUPING_SETS_SQL,
    "agg_stats": AGG_STATS_SQL,
    "agg_boolean_counting": AGG_BOOL_SQL,
    "set_ops": SET_OPS_SQL,
    "set_ops_all": SET_OPS_ALL_SQL,
    "union_by_name_evolution": UNION_BY_NAME_SQL,
    "rollup_grouping_id": ROLLUP_GROUPING_ID_SQL,
    "sort_topk": SORT_TOPK_SQL,
    "scalar_string_funcs": SCALAR_STRING_SQL,
    "scalar_date_funcs": SCALAR_DATE_SQL,
    "scalar_math_funcs": SCALAR_MATH_SQL,
    "scalar_conditional": SCALAR_COND_SQL,
}
