"""Relational surface — the operator categories the reference lacks entirely
(SURVEY §2.2: scans, projections/filters, all join types, aggregations,
grouping sets, sorts/limits, set ops, scalar functions), each exposed as a
named query over the driver's TPC-H-ish tables with a DuckDB oracle twin.

Parity conventions: money aggregates use fixed-point integer sums
(findb_spark.queries.parity) — exact, order-independent, engine-agnostic;
per-row arithmetic written with identical association on both sides; every
top-k totally ordered via a unique tiebreaker.

Scale notes: all aggregates here are partial-aggregatable (map-side
combine); the fact-to-dim joins (orders->customer, lineitem->part/supplier,
nation/region) broadcast the dim side — at 100 TB the lineitem scan is the
only full pass and AQE handles skewed keys.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window, functions as F

from findb_spark.functions.dates import yyyymm_int, yyyymmdd_int
from findb_spark.queries.parity import fxp_avg, fxp_avg_sql, fxp_sum, fxp_sum_sql
from findb_spark.registry import register
from findb_spark.session import load_table, local_relation_df

# --- aggregation ----------------------------------------------------------


@register(
    "q1_pricing_summary",
    f"""
SELECT l_returnflag, l_linestatus,
       {fxp_sum_sql('l_quantity')} AS sum_qty,
       {fxp_sum_sql('l_extendedprice')} AS sum_base_price,
       {fxp_sum_sql('l_extendedprice * (1 - l_discount)')} AS sum_disc_price,
       {fxp_sum_sql('l_extendedprice * (1 - l_discount) * (1 + l_tax)')} AS sum_charge,
       {fxp_avg_sql('l_quantity')} AS avg_qty,
       {fxp_avg_sql('l_extendedprice')} AS avg_price,
       {fxp_avg_sql('l_discount', 10000)} AS avg_disc,
       COUNT(*) AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '1998-09-02'
GROUP BY l_returnflag, l_linestatus
""",
    category="relational",
    description="TPC-H Q1-style pricing summary: multi-aggregate hash aggregation with map-side combine",
)
def q1_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    disc_price = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    charge = F.col("l_extendedprice") * (1 - F.col("l_discount")) * (1 + F.col("l_tax"))
    return (
        li.where(F.col("l_shipdate") <= F.lit("1998-09-02").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            fxp_sum(F.col("l_quantity"), "sum_qty"),
            fxp_sum(F.col("l_extendedprice"), "sum_base_price"),
            fxp_sum(disc_price, "sum_disc_price"),
            fxp_sum(charge, "sum_charge"),
            fxp_avg(F.col("l_quantity"), "avg_qty"),
            fxp_avg(F.col("l_extendedprice"), "avg_price"),
            fxp_avg(F.col("l_discount"), "avg_disc", 10000),
            F.count("*").alias("count_order"),
        )
    )


@register(
    "q3_top_orders",
    f"""
SELECT l_orderkey,
       {fxp_sum_sql('l_extendedprice * (1 - l_discount)')} AS revenue,
       CAST(strftime(o_orderdate, '%Y%m%d') AS INT) AS orderdate
FROM customer JOIN orders ON c_custkey = o_custkey
              JOIN lineitem ON l_orderkey = o_orderkey
WHERE c_mktsegment = 'BUILDING'
  AND o_orderdate < TIMESTAMP '1998-01-01'
  AND l_shipdate > TIMESTAMP '1996-01-01'
GROUP BY l_orderkey, o_orderdate
ORDER BY revenue DESC, l_orderkey
LIMIT 10
""",
    category="relational",
    description="TPC-H Q3-style: 3-way join + aggregate + deterministic top-k",
)
def q3_top_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, sf_dir, "customer").where(F.col("c_mktsegment") == "BUILDING")
    orders = load_table(spark, sf_dir, "orders").where(
        F.col("o_orderdate") < F.lit("1998-01-01").cast("timestamp")
    )
    li = load_table(spark, sf_dir, "lineitem").where(
        F.col("l_shipdate") > F.lit("1996-01-01").cast("timestamp")
    )
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        # cust/supp/part are SF-growing dims: no forced F.broadcast —
        # Catalyst's honest parquet estimate broadcasts them at test scale
        # and degrades to shuffle at 100 TB, where a forced broadcast of a
        # billions-row dimension would OOM every executor. Fixed-size
        # sides (nation/region, 1-row aggregates) keep the explicit hint.
        .join(cust, orders.o_custkey == cust.c_custkey)
        .groupBy("l_orderkey", "o_orderdate")
        .agg(fxp_sum(F.col("l_extendedprice") * (1 - F.col("l_discount")), "revenue"))
        .select(
            "l_orderkey",
            "revenue",
            yyyymmdd_int("o_orderdate").alias("orderdate"),
        )
        .orderBy(F.desc("revenue"), "l_orderkey")
        .limit(10)
    )


@register(
    "q5_region_revenue",
    f"""
SELECT n_name,
       {fxp_sum_sql('l_extendedprice * (1 - l_discount)')} AS revenue
FROM customer
JOIN orders   ON c_custkey = o_custkey
JOIN lineitem ON l_orderkey = o_orderkey
JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
JOIN nation   ON c_nationkey = n_nationkey
JOIN region   ON n_regionkey = r_regionkey
WHERE r_name = 'ASIA'
  AND o_orderdate >= TIMESTAMP '1996-01-01' AND o_orderdate < TIMESTAMP '1998-01-01'
GROUP BY n_name
""",
    category="relational",
    description="TPC-H Q5-style: 6-way star join, dims broadcast, single fact pass",
)
def q5_region_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders").where(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1998-01-01").cast("timestamp"))
    )
    li = load_table(spark, sf_dir, "lineitem")
    supp = load_table(spark, sf_dir, "supplier")
    nation = load_table(spark, sf_dir, "nation")
    region = load_table(spark, sf_dir, "region").where(F.col("r_name") == "ASIA")
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .join(
            supp,
            (li.l_suppkey == supp.s_suppkey) & (cust.c_nationkey == supp.s_nationkey),
        )
        .join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
        .groupBy("n_name")
        .agg(fxp_sum(F.col("l_extendedprice") * (1 - F.col("l_discount")), "revenue"))
    )


@register(
    "agg_having",
    f"""
SELECT o_orderpriority, o_orderstatus, COUNT(*) AS n_orders,
       {fxp_sum_sql('o_totalprice')} AS total_price
FROM orders
GROUP BY o_orderpriority, o_orderstatus
HAVING COUNT(*) > 5
""",
    category="relational",
    description="Grouped aggregation with HAVING filter",
)
def agg_having(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        load_table(spark, sf_dir, "orders")
        .groupBy("o_orderpriority", "o_orderstatus")
        .agg(F.count("*").alias("n_orders"), fxp_sum(F.col("o_totalprice"), "total_price"))
        .where(F.col("n_orders") > 5)
    )


@register(
    "distinct_agg",
    """
SELECT l_returnflag,
       COUNT(DISTINCT l_suppkey) AS n_suppliers,
       COUNT(DISTINCT l_partkey) AS n_parts,
       COUNT(*) AS n_rows
FROM lineitem GROUP BY l_returnflag
""",
    category="relational",
    description="Distinct aggregation (expand-based distinct count)",
)
def distinct_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        load_table(spark, sf_dir, "lineitem")
        .groupBy("l_returnflag")
        .agg(
            F.countDistinct("l_suppkey").alias("n_suppliers"),
            F.countDistinct("l_partkey").alias("n_parts"),
            F.count("*").alias("n_rows"),
        )
    )


@register(
    "rollup_agg",
    f"""
SELECT l_returnflag, l_linestatus, COUNT(*) AS n,
       {fxp_sum_sql('l_quantity')} AS sum_qty
FROM lineitem
GROUP BY ROLLUP (l_returnflag, l_linestatus)
""",
    category="relational",
    description="Hierarchical grouping sets (ROLLUP)",
)
def rollup_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        load_table(spark, sf_dir, "lineitem")
        .rollup("l_returnflag", "l_linestatus")
        .agg(F.count("*").alias("n"), fxp_sum(F.col("l_quantity"), "sum_qty"))
    )


@register(
    "cube_agg",
    """
SELECT o_orderstatus, o_orderpriority, COUNT(*) AS n
FROM orders
GROUP BY CUBE (o_orderstatus, o_orderpriority)
""",
    category="relational",
    description="Full grouping sets (CUBE)",
)
def cube_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        load_table(spark, sf_dir, "orders")
        .cube("o_orderstatus", "o_orderpriority")
        .agg(F.count("*").alias("n"))
    )


# --- join types -----------------------------------------------------------


@register(
    "join_semi",
    """
SELECT p_partkey, p_name FROM part
WHERE EXISTS (SELECT 1 FROM lineitem WHERE l_partkey = p_partkey
              AND l_shipdate >= TIMESTAMP '2001-01-01')
""",
    category="relational",
    description="Left-semi join (EXISTS): parts with recent shipments",
)
def join_semi(spark: SparkSession, sf_dir: str) -> DataFrame:
    part = load_table(spark, sf_dir, "part")
    li = load_table(spark, sf_dir, "lineitem").where(
        F.col("l_shipdate") >= F.lit("2001-01-01").cast("timestamp")
    )
    return part.join(li, part.p_partkey == li.l_partkey, "left_semi").select(
        "p_partkey", "p_name"
    )


@register(
    "join_anti",
    """
SELECT p_partkey, p_brand FROM part
WHERE NOT EXISTS (SELECT 1 FROM lineitem WHERE l_partkey = p_partkey
                  AND l_shipdate >= TIMESTAMP '2001-01-01')
""",
    category="relational",
    description="Left-anti join (NOT EXISTS): parts without recent shipments",
)
def join_anti(spark: SparkSession, sf_dir: str) -> DataFrame:
    part = load_table(spark, sf_dir, "part")
    li = load_table(spark, sf_dir, "lineitem").where(
        F.col("l_shipdate") >= F.lit("2001-01-01").cast("timestamp")
    )
    return part.join(li, part.p_partkey == li.l_partkey, "left_anti").select(
        "p_partkey", "p_brand"
    )


@register(
    "join_left_outer",
    f"""
SELECT c_custkey, c_mktsegment,
       COUNT(o_orderkey) AS n_orders,
       COALESCE({fxp_sum_sql('o_totalprice')}, 0.0) AS total_spend
FROM customer LEFT JOIN orders ON c_custkey = o_custkey
GROUP BY c_custkey, c_mktsegment
""",
    category="relational",
    description="Left-outer join preserving customers with zero orders",
)
def join_left_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    return (
        cust.join(orders, cust.c_custkey == orders.o_custkey, "left")
        .groupBy("c_custkey", "c_mktsegment")
        .agg(
            F.count("o_orderkey").alias("n_orders"),
            F.coalesce(
                fxp_sum(F.col("o_totalprice"), "_s"), F.lit(0.0)
            ).alias("total_spend"),
        )
    )


# --- set operations -------------------------------------------------------


@register(
    "set_ops_nations",
    """
SELECT 'both' AS how, n FROM (
  SELECT DISTINCT c_nationkey AS n FROM customer
  INTERSECT SELECT DISTINCT s_nationkey FROM supplier)
UNION ALL
SELECT 'customer_only' AS how, n FROM (
  SELECT DISTINCT c_nationkey AS n FROM customer
  EXCEPT SELECT DISTINCT s_nationkey FROM supplier)
""",
    category="relational",
    description="Set operations: INTERSECT / EXCEPT / UNION ALL over nation keys",
)
def set_ops_nations(spark: SparkSession, sf_dir: str) -> DataFrame:
    cn = load_table(spark, sf_dir, "customer").select(F.col("c_nationkey").alias("n")).distinct()
    sn = load_table(spark, sf_dir, "supplier").select(F.col("s_nationkey").alias("n")).distinct()
    both = cn.intersect(sn).select(F.lit("both").alias("how"), "n")
    only = cn.exceptAll(sn).select(F.lit("customer_only").alias("how"), "n")
    return both.unionByName(only)


@register(
    "pivot_status",
    """
SELECT o_orderpriority,
       CAST(SUM(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END) AS BIGINT) AS n_f,
       CAST(SUM(CASE WHEN o_orderstatus = 'O' THEN 1 ELSE 0 END) AS BIGINT) AS n_o,
       CAST(SUM(CASE WHEN o_orderstatus = 'P' THEN 1 ELSE 0 END) AS BIGINT) AS n_p
FROM orders GROUP BY o_orderpriority
""",
    category="relational",
    description="Pivot (wide conditional aggregation) of order status by priority",
)
def pivot_status(spark: SparkSession, sf_dir: str) -> DataFrame:
    out = (
        load_table(spark, sf_dir, "orders")
        .groupBy("o_orderpriority")
        .pivot("o_orderstatus", ["F", "O", "P"])
        .agg(F.count(F.lit(1)))
    )
    renamed = out.select(
        "o_orderpriority",
        F.coalesce(F.col("F"), F.lit(0)).alias("n_f"),
        F.coalesce(F.col("O"), F.lit(0)).alias("n_o"),
        F.coalesce(F.col("P"), F.lit(0)).alias("n_p"),
    )
    return renamed


@register(
    "array_agg_orders",
    """
SELECT o_custkey,
       array_to_string(list(CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT)
            ORDER BY CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT)), ',') AS price_cents,
       len(list(o_orderkey)) AS n_orders,
       array_to_string(list_sort(list(o_orderkey))[1:3], ',') AS first_orderkeys
FROM orders GROUP BY o_custkey
""",
    category="relational",
    description=(
        "Array aggregation: per-customer sorted price array + array slicing "
        "(arrays serialized to csv strings so the checked output carries no "
        "raw list columns — the driver's canonicalizer can't sort those)"
    ),
)
def array_agg_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    cents = F.floor(F.col("o_totalprice") * 100 + F.lit(0.5)).cast("bigint")
    return (
        load_table(spark, sf_dir, "orders")
        .groupBy("o_custkey")
        .agg(
            F.array_join(
                F.sort_array(F.collect_list(cents)).cast("array<string>"), ","
            ).alias("price_cents"),
            F.count("*").alias("n_orders"),
            F.array_join(
                F.slice(F.sort_array(F.collect_list("o_orderkey")), 1, 3).cast(
                    "array<string>"
                ),
                ",",
            ).alias("first_orderkeys"),
        )
    )


@register(
    "unnest_top_tokens",
    """
WITH t AS (SELECT unnest(string_split(text, ' ')) AS tok FROM documents)
SELECT tok, COUNT(*) AS n
FROM t GROUP BY tok
ORDER BY n DESC, tok
LIMIT 20
""",
    category="relational",
    description="Explode/unnest + frequency ranking (top tokens corpus-wide)",
)
def unnest_top_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        load_table(spark, sf_dir, "documents")
        .select(F.explode(F.split(F.col("text"), " ")).alias("tok"))
        .groupBy("tok")
        .agg(F.count("*").alias("n"))
        .orderBy(F.desc("n"), "tok")
        .limit(20)
    )


# --- scalar functions -----------------------------------------------------


@register(
    "scalar_string_funcs",
    """
SELECT p_partkey,
       UPPER(p_brand) AS brand_upper,
       LENGTH(p_name) AS name_len,
       LENGTH(p_name) - LENGTH(REPLACE(p_name, ' ', '')) + 1 AS n_words,
       SUBSTRING(p_type, 1, 6) AS type_prefix,
       CONCAT(p_brand, ':', CAST(p_size AS VARCHAR)) AS brand_size
FROM part WHERE p_size >= 25
""",
    category="relational",
    description="Scalar string functions + projection with pushed filter",
)
def scalar_string_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        load_table(spark, sf_dir, "part")
        .where(F.col("p_size") >= 25)
        .select(
            "p_partkey",
            F.upper("p_brand").alias("brand_upper"),
            F.length("p_name").alias("name_len"),
            (
                F.length("p_name") - F.length(F.replace(F.col("p_name"), F.lit(" "), F.lit(""))) + 1
            ).alias("n_words"),
            F.substring("p_type", 1, 6).alias("type_prefix"),
            F.concat_ws("", F.col("p_brand"), F.lit(":"), F.col("p_size").cast("string")).alias(
                "brand_size"
            ),
        )
    )


@register(
    "scalar_date_funcs",
    f"""
SELECT CAST(EXTRACT(year FROM o_orderdate) AS INT) AS order_year,
       CAST(EXTRACT(month FROM o_orderdate) AS INT) AS order_month,
       COUNT(*) AS n_orders,
       {fxp_sum_sql('o_totalprice')} AS revenue
FROM orders
GROUP BY 1, 2
""",
    category="relational",
    description="Date part extraction + time-bucketed aggregation",
)
def scalar_date_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        load_table(spark, sf_dir, "orders")
        .groupBy(
            F.year("o_orderdate").alias("order_year"),
            F.month("o_orderdate").alias("order_month"),
        )
        .agg(F.count("*").alias("n_orders"), fxp_sum(F.col("o_totalprice"), "revenue"))
    )


@register(
    "case_expr_bands",
    """
SELECT CASE WHEN p_retailprice < 500 THEN 'low'
            WHEN p_retailprice < 1200 THEN 'mid'
            ELSE 'high' END AS price_band,
       COUNT(*) AS n_parts,
       CAST(MIN(p_retailprice) AS DOUBLE) AS min_price,
       CAST(MAX(p_retailprice) AS DOUBLE) AS max_price
FROM part GROUP BY 1
""",
    category="relational",
    description="CASE expression classification + min/max aggregation",
)
def case_expr_bands(spark: SparkSession, sf_dir: str) -> DataFrame:
    band = (
        F.when(F.col("p_retailprice") < 500, "low")
        .when(F.col("p_retailprice") < 1200, "mid")
        .otherwise("high")
    )
    return (
        load_table(spark, sf_dir, "part")
        .groupBy(band.alias("price_band"))
        .agg(
            F.count("*").alias("n_parts"),
            F.min("p_retailprice").cast("double").alias("min_price"),
            F.max("p_retailprice").cast("double").alias("max_price"),
        )
    )


@register(
    "sql_q6_forecast_revenue",
    """
SELECT CAST(SUM(CAST(FLOOR((l_extendedprice * l_discount) * 100 + 0.5) AS BIGINT)) AS DOUBLE) / 100
         AS revenue,
       COUNT(*) AS n_rows
FROM lineitem
WHERE l_shipdate >= TIMESTAMP '1996-01-01' AND l_shipdate < TIMESTAMP '1997-01-01'
  AND l_discount BETWEEN 0.03 AND 0.07 AND l_quantity < 24
""",
    category="relational",
    description="TPC-H Q6-style via the spark.sql front end (every op has DataFrame AND SQL form)",
)
def sql_q6_forecast_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    load_table(spark, sf_dir, "lineitem").createOrReplaceTempView("lineitem_v")
    return spark.sql(
        """
        SELECT CAST(SUM(FLOOR((l_extendedprice * l_discount) * 100 + 0.5)) AS DOUBLE) / 100
                 AS revenue,
               COUNT(*) AS n_rows
        FROM lineitem_v
        WHERE l_shipdate >= TIMESTAMP '1996-01-01' AND l_shipdate < TIMESTAMP '1997-01-01'
          AND l_discount BETWEEN 0.03 AND 0.07 AND l_quantity < 24
        """
    )


@register(
    "percentiles",
    """
SELECT l_returnflag,
       quantile_cont(l_extendedprice, 0.5) AS median_price,
       quantile_cont(l_extendedprice, 0.9) AS p90_price,
       quantile_cont(l_quantity, 0.5) AS median_qty
FROM lineitem GROUP BY l_returnflag
""",
    category="relational",
    description="Exact interpolated percentiles (sort-based aggregate)",
)
def percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.expr("percentile(l_extendedprice, 0.5)").alias("median_price"),
        F.expr("percentile(l_extendedprice, 0.9)").alias("p90_price"),
        F.expr("percentile(l_quantity, 0.5)").alias("median_qty"),
    )


@register(
    "above_group_avg",
    """
WITH w AS (
  SELECT p_partkey, p_brand, p_retailprice,
         CAST(SUM(CAST(FLOOR(p_retailprice * 100 + 0.5) AS BIGINT))
              OVER (PARTITION BY p_brand) AS DOUBLE) / 100
           / COUNT(*) OVER (PARTITION BY p_brand) AS brand_avg
  FROM part
)
SELECT p_partkey, p_brand, p_retailprice, brand_avg
FROM w WHERE p_retailprice > brand_avg
""",
    category="relational",
    description="Correlated-subquery pattern (rows above their group mean) via window aggregate",
)
def above_group_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    w = Window.partitionBy("p_brand")
    cents = F.floor(F.col("p_retailprice") * 100 + F.lit(0.5))
    avg = F.sum(cents).over(w).cast("double") / 100 / F.count("*").over(w)
    return (
        load_table(spark, sf_dir, "part")
        .select("p_partkey", "p_brand", "p_retailprice", avg.alias("brand_avg"))
        .where(F.col("p_retailprice") > F.col("brand_avg"))
    )


@register(
    "grouping_sets_agg",
    f"""
SELECT l_returnflag, l_linestatus,
       CAST(GROUPING(l_returnflag) AS INT) AS g_flag,
       CAST(GROUPING(l_linestatus) AS INT) AS g_status,
       COUNT(*) AS n,
       {fxp_sum_sql('l_quantity')} AS sum_qty
FROM lineitem
GROUP BY GROUPING SETS ((l_returnflag, l_linestatus), (l_returnflag), (l_linestatus))
""",
    category="relational",
    description="Explicit GROUPING SETS with GROUPING() markers (generalizes rollup/cube)",
)
def grouping_sets_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    load_table(spark, sf_dir, "lineitem").createOrReplaceTempView("lineitem_gs")
    return spark.sql(
        """
        SELECT l_returnflag, l_linestatus,
               CAST(GROUPING(l_returnflag) AS INT) AS g_flag,
               CAST(GROUPING(l_linestatus) AS INT) AS g_status,
               COUNT(*) AS n,
               CAST(SUM(CAST(FLOOR(l_quantity * 100 + 0.5) AS BIGINT)) AS DOUBLE) / 100
                 AS sum_qty
        FROM lineitem_gs
        GROUP BY GROUPING SETS ((l_returnflag, l_linestatus), (l_returnflag), (l_linestatus))
        """
    )


@register(
    "scalar_subquery_above_avg",
    f"""
SELECT o_orderkey, o_custkey, o_totalprice
FROM orders
WHERE o_totalprice > (SELECT {fxp_avg_sql('o_totalprice')} FROM orders)
""",
    category="relational",
    description="Uncorrelated scalar subquery (global mean) as a broadcast single-row join",
)
def scalar_subquery_above_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    avg = orders.agg(fxp_avg(F.col("o_totalprice"), "thr"))
    return (
        orders.join(F.broadcast(avg))
        .where(F.col("o_totalprice") > F.col("thr"))
        .select("o_orderkey", "o_custkey", "o_totalprice")
    )


@register(
    "join_full_outer",
    """
WITH c AS (SELECT c_nationkey AS nk, COUNT(*) AS n_cust FROM customer GROUP BY 1),
s AS (SELECT s_nationkey AS nk, COUNT(*) AS n_supp FROM supplier GROUP BY 1)
SELECT COALESCE(c.nk, s.nk) AS nationkey,
       COALESCE(n_cust, 0) AS n_customers,
       COALESCE(n_supp, 0) AS n_suppliers
FROM c FULL OUTER JOIN s ON c.nk = s.nk
""",
    category="relational",
    description="Full-outer join of per-nation customer and supplier counts",
)
def join_full_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = (
        load_table(spark, sf_dir, "customer")
        .groupBy(F.col("c_nationkey").alias("nk"))
        .agg(F.count("*").alias("n_cust"))
    )
    s = (
        load_table(spark, sf_dir, "supplier")
        .groupBy(F.col("s_nationkey").alias("nk"))
        .agg(F.count("*").alias("n_supp"))
    )
    return c.join(s, "nk", "full_outer").select(
        F.col("nk").alias("nationkey"),
        F.coalesce("n_cust", F.lit(0)).alias("n_customers"),
        F.coalesce("n_supp", F.lit(0)).alias("n_suppliers"),
    )


@register(
    "regexp_funcs",
    r"""
SELECT p_partkey,
       regexp_extract(p_name, '^([a-z]+)', 1) AS first_word,
       regexp_replace(p_name, '[aeiou]', '', 'g') AS devoweled,
       CASE WHEN regexp_matches(p_type, 'BRUSHED') THEN 1 ELSE 0 END AS is_brushed
FROM part WHERE p_partkey % 10 = 0
""",
    category="relational",
    description="Regular-expression scalar functions: extract, replace-all, match",
)
def regexp_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        load_table(spark, sf_dir, "part")
        .where(F.col("p_partkey") % 10 == 0)
        .select(
            "p_partkey",
            F.regexp_extract("p_name", r"^([a-z]+)", 1).alias("first_word"),
            F.regexp_replace("p_name", "[aeiou]", "").alias("devoweled"),
            F.when(F.col("p_type").rlike("BRUSHED"), 1).otherwise(0).alias("is_brushed"),
        )
    )


@register(
    "window_navigation",
    """
SELECT o_custkey, o_orderkey, o_totalprice,
       DENSE_RANK() OVER w AS drnk,
       CUME_DIST() OVER w AS cdist,
       LEAD(o_orderkey, 1) OVER w AS next_orderkey,
       NTH_VALUE(o_orderkey, 2) OVER (PARTITION BY o_custkey
                                      ORDER BY o_orderdate, o_orderkey
                                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
         AS second_orderkey
FROM orders
WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
""",
    category="relational",
    description="Navigation/distribution window functions: dense_rank, cume_dist, lead, nth_value",
)
def window_navigation(spark: SparkSession, sf_dir: str) -> DataFrame:
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    wf = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    return load_table(spark, sf_dir, "orders").select(
        "o_custkey",
        "o_orderkey",
        "o_totalprice",
        F.dense_rank().over(w).alias("drnk"),
        F.cume_dist().over(w).alias("cdist"),
        F.lead("o_orderkey", 1).over(w).alias("next_orderkey"),
        F.nth_value("o_orderkey", 2).over(wf).alias("second_orderkey"),
    )


@register(
    "q18_big_orders",
    f"""
WITH big AS (
  SELECT l_orderkey, {fxp_sum_sql('l_quantity')} AS sum_qty
  FROM lineitem GROUP BY l_orderkey
  HAVING {fxp_sum_sql('l_quantity')} > 150
)
SELECT o_orderkey, o_custkey, o_totalprice, sum_qty
FROM orders JOIN big ON o_orderkey = l_orderkey
""",
    category="relational",
    description="TPC-H Q18-style: IN-subquery over a grouped HAVING, planned as aggregate + join",
)
def q18_big_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    big = (
        load_table(spark, sf_dir, "lineitem")
        .groupBy("l_orderkey")
        .agg(fxp_sum(F.col("l_quantity"), "sum_qty"))
        .where(F.col("sum_qty") > 150)
    )
    orders = load_table(spark, sf_dir, "orders")
    return orders.join(big, orders.o_orderkey == big.l_orderkey).select(
        "o_orderkey", "o_custkey", "o_totalprice", "sum_qty"
    )


@register(
    "q14_promo_revenue",
    """
SELECT CAST(SUM(CASE WHEN p_type = 'PROMO'
                     THEN CAST(FLOOR(l_extendedprice * (1 - l_discount) * 100 + 0.5) AS BIGINT)
                     ELSE 0 END) AS DOUBLE)
         / CAST(SUM(CAST(FLOOR(l_extendedprice * (1 - l_discount) * 100 + 0.5) AS BIGINT)) AS DOUBLE)
         * 100 AS promo_pct,
       COUNT(*) AS n_rows
FROM lineitem JOIN part ON l_partkey = p_partkey
WHERE l_shipdate >= TIMESTAMP '1996-01-01' AND l_shipdate < TIMESTAMP '1997-01-01'
""",
    category="relational",
    description="TPC-H Q14-style promo revenue share: conditional aggregate over a broadcast dim join",
)
def q14_promo_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem").where(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1997-01-01").cast("timestamp"))
    )
    part = load_table(spark, sf_dir, "part")
    cents = F.floor(F.col("l_extendedprice") * (1 - F.col("l_discount")) * 100 + F.lit(0.5)).cast(
        "bigint"
    )
    return (
        li.join(part, li.l_partkey == part.p_partkey)
        .agg(
            (
                F.sum(F.when(F.col("p_type") == "PROMO", cents).otherwise(F.lit(0))).cast("double")
                / F.sum(cents).cast("double")
                * 100
            ).alias("promo_pct"),
            F.count("*").alias("n_rows"),
        )
    )


@register(
    "q19_disjunctive_predicates",
    f"""
SELECT {fxp_sum_sql('l_extendedprice * (1 - l_discount)')} AS revenue,
       COUNT(*) AS n_rows
FROM lineitem JOIN part ON p_partkey = l_partkey
WHERE (p_brand = 'Brand#1' AND p_size BETWEEN 1 AND 15
       AND l_quantity >= 1 AND l_quantity <= 20)
   OR (p_brand = 'Brand#13' AND p_size BETWEEN 10 AND 30
       AND l_quantity >= 10 AND l_quantity <= 40)
   OR (p_brand = 'Brand#25' AND p_size BETWEEN 20 AND 50
       AND l_quantity >= 20 AND l_quantity <= 50)
""",
    category="relational",
    description="TPC-H Q19-style OR-of-ANDs predicates across both join sides (tests disjunctive pushdown/plan)",
)
def q19_disjunctive_predicates(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part")
    j = li.join(part, li.l_partkey == part.p_partkey)
    cond = (
        (
            (F.col("p_brand") == "Brand#1")
            & F.col("p_size").between(1, 15)
            & F.col("l_quantity").between(1, 20)
        )
        | (
            (F.col("p_brand") == "Brand#13")
            & F.col("p_size").between(10, 30)
            & F.col("l_quantity").between(10, 40)
        )
        | (
            (F.col("p_brand") == "Brand#25")
            & F.col("p_size").between(20, 50)
            & F.col("l_quantity").between(20, 50)
        )
    )
    return j.where(cond).agg(
        fxp_sum(F.col("l_extendedprice") * (1 - F.col("l_discount")), "revenue"),
        F.count("*").alias("n_rows"),
    )


@register(
    "range_join_quarters",
    f"""
WITH w AS (
  SELECT y * 10 + q AS window_id,
         make_date(y, 3 * q - 2, 1) AS ws,
         make_date(y, 3 * q - 2, 1) + INTERVAL 3 MONTH AS we
  FROM (SELECT unnest([1992, 1993, 1994, 1995, 1996, 1997, 1998]) AS y) ys
  CROSS JOIN (SELECT unnest([1, 2, 3, 4]) AS q) qs
)
SELECT window_id, COUNT(*) AS n_rows,
       {fxp_sum_sql('l_extendedprice')} AS revenue
FROM lineitem JOIN w
  ON CAST(l_shipdate AS DATE) >= ws AND CAST(l_shipdate AS DATE) < we
GROUP BY window_id
""",
    category="relational",
    description="Point-in-interval range join via day-binned equi-join + exact post-filter (ops.interval.interval_join — no cartesian blowup at scale)",
)
def range_join_quarters(spark: SparkSession, sf_dir: str) -> DataFrame:
    from findb_spark.ops.interval import interval_join

    quarters = [(y, q) for y in range(1992, 1999) for q in (1, 2, 3, 4)]
    w = local_relation_df(spark, quarters, "y INT, q INT").select(
        (F.col("y") * 10 + F.col("q")).alias("window_id"),
        F.make_date("y", F.col("q") * 3 - 2, F.lit(1)).alias("ws"),
        F.add_months(F.make_date("y", F.col("q") * 3 - 2, F.lit(1)), 3).alias("we"),
    )
    points = load_table(spark, sf_dir, "lineitem").select(
        F.to_date("l_shipdate").alias("pd"), "l_extendedprice"
    )
    return (
        interval_join(points, w, "pd", "ws", "we")
        .groupBy("window_id")
        .agg(F.count("*").alias("n_rows"), fxp_sum(F.col("l_extendedprice"), "revenue"))
    )


@register(
    "agg_filtered_bools",
    """
SELECT l_returnflag,
       COUNT(*) FILTER (WHERE l_discount > 0.05) AS n_high_disc,
       bool_and(l_quantity > 0) AS all_positive_qty,
       bool_or(l_tax > 0.07) AS any_high_tax,
       COUNT(*) AS n_rows
FROM lineitem GROUP BY l_returnflag
""",
    category="relational",
    description="FILTER-clause conditional count + boolean aggregates (bool_and/bool_or)",
)
def agg_filtered_bools(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.count_if(F.col("l_discount") > 0.05).alias("n_high_disc"),
        F.bool_and(F.col("l_quantity") > 0).alias("all_positive_qty"),
        F.bool_or(F.col("l_tax") > 0.07).alias("any_high_tax"),
        F.count("*").alias("n_rows"),
    )


@register(
    "orders_month_over_month",
    f"""
WITH m AS (
  SELECT CAST(strftime(o_orderdate, '%Y%m') AS INT) AS month,
         {fxp_sum_sql('o_totalprice')} AS revenue
  FROM orders GROUP BY 1
)
SELECT month, revenue,
       revenue - LAG(revenue) OVER (ORDER BY month) AS mom_delta
FROM m
""",
    category="relational",
    description="Window over an aggregate: monthly revenue with month-over-month delta",
)
def orders_month_over_month(spark: SparkSession, sf_dir: str) -> DataFrame:
    m = (
        load_table(spark, sf_dir, "orders")
        .groupBy(yyyymm_int("o_orderdate").alias("month"))
        .agg(fxp_sum(F.col("o_totalprice"), "revenue"))
    )
    w = Window.orderBy("month")
    return m.select(
        "month",
        "revenue",
        (F.col("revenue") - F.lag("revenue").over(w)).alias("mom_delta"),
    )


@register(
    "topk_per_group",
    """
SELECT l_returnflag, l_orderkey, l_linenumber, l_extendedprice, rn FROM (
  SELECT l_returnflag, l_orderkey, l_linenumber, l_extendedprice,
         ROW_NUMBER() OVER (PARTITION BY l_returnflag
                            ORDER BY l_extendedprice DESC, l_orderkey, l_linenumber) AS rn
  FROM lineitem)
WHERE rn <= 3
""",
    category="relational",
    description="Top-k per group via ranking window (deterministic tiebreak)",
)
def topk_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    w = Window.partitionBy("l_returnflag").orderBy(
        F.desc("l_extendedprice"), "l_orderkey", "l_linenumber"
    )
    return (
        load_table(spark, sf_dir, "lineitem")
        .select(
            "l_returnflag",
            "l_orderkey",
            "l_linenumber",
            "l_extendedprice",
            F.row_number().over(w).alias("rn"),
        )
        .where(F.col("rn") <= 3)
    )


@register(
    "global_topn",
    """
SELECT l_orderkey, l_linenumber, l_extendedprice
FROM lineitem
ORDER BY l_extendedprice DESC, l_orderkey, l_linenumber
LIMIT 100
""",
    category="relational",
    description="Global top-N (TakeOrderedAndProject: per-partition heaps + driver merge, never a full sort)",
)
def global_topn(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        load_table(spark, sf_dir, "lineitem")
        .select("l_orderkey", "l_linenumber", "l_extendedprice")
        .orderBy(F.desc("l_extendedprice"), "l_orderkey", "l_linenumber")
        .limit(100)
    )


@register(
    "set_ops_bag",
    """
SELECT 'common' AS how, o_orderpriority FROM (
  SELECT o_orderpriority FROM orders
  WHERE o_orderdate >= TIMESTAMP '1997-01-01' AND o_orderdate < TIMESTAMP '1997-02-01'
  INTERSECT ALL
  SELECT o_orderpriority FROM orders
  WHERE o_orderdate >= TIMESTAMP '1997-02-01' AND o_orderdate < TIMESTAMP '1997-03-01')
UNION ALL
SELECT 'jan_surplus' AS how, o_orderpriority FROM (
  SELECT o_orderpriority FROM orders
  WHERE o_orderdate >= TIMESTAMP '1997-01-01' AND o_orderdate < TIMESTAMP '1997-02-01'
  EXCEPT ALL
  SELECT o_orderpriority FROM orders
  WHERE o_orderdate >= TIMESTAMP '1997-02-01' AND o_orderdate < TIMESTAMP '1997-03-01')
""",
    category="relational",
    description=(
        "Bag (multiset) set operations: INTERSECT ALL keeps min multiplicity, "
        "EXCEPT ALL subtracts it — duplicate-preserving twins of the distinct "
        "set ops (one partial-aggregated count per side, no row explosion)"
    ),
)
def set_ops_bag(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")

    def month(lo: str, hi: str) -> DataFrame:
        return orders.where(
            (F.col("o_orderdate") >= F.lit(lo).cast("timestamp"))
            & (F.col("o_orderdate") < F.lit(hi).cast("timestamp"))
        ).select("o_orderpriority")

    jan = month("1997-01-01", "1997-02-01")
    feb = month("1997-02-01", "1997-03-01")
    common = jan.intersectAll(feb).select(F.lit("common").alias("how"), "o_orderpriority")
    surplus = jan.exceptAll(feb).select(F.lit("jan_surplus").alias("how"), "o_orderpriority")
    return common.unionByName(surplus)


@register(
    "stats_profile_lineitem",
    f"""
SELECT 'l_quantity' AS col,
       COUNT(*) AS n_rows,
       CAST(COUNT(l_quantity) AS BIGINT) AS n_nonnull,
       COUNT(DISTINCT l_quantity) AS n_distinct,
       {fxp_sum_sql('l_quantity')} AS sum_val,
       MIN(l_quantity) AS min_val, MAX(l_quantity) AS max_val
FROM lineitem
UNION ALL
SELECT 'l_extendedprice',
       COUNT(*), CAST(COUNT(l_extendedprice) AS BIGINT),
       COUNT(DISTINCT l_extendedprice),
       {fxp_sum_sql('l_extendedprice')},
       MIN(l_extendedprice), MAX(l_extendedprice)
FROM lineitem
UNION ALL
SELECT 'l_discount',
       COUNT(*), CAST(COUNT(l_discount) AS BIGINT),
       COUNT(DISTINCT l_discount),
       {fxp_sum_sql('l_discount')},
       MIN(l_discount), MAX(l_discount)
FROM lineitem
""",
    category="relational",
    description=(
        "ANALYZE-style column profiling (null/distinct/min/max/sum per "
        "column) — the stats pass a table format or CBO runs before layout "
        "decisions; one scan, all columns profiled map-side"
    ),
)
def stats_profile_lineitem(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Single-scan multi-column profile. One groupBy-less aggregate computes
    every column's stats in the same partial-aggregation pass (the
    UNION-ALL shape in the oracle is a presentation of the same numbers;
    Spark computes them in ONE job over ONE scan, then unpivots)."""
    li = load_table(spark, sf_dir, "lineitem")
    cols = ["l_quantity", "l_extendedprice", "l_discount"]
    aggs = []
    for c in cols:
        aggs += [
            F.count("*").alias(f"{c}__n_rows"),
            F.count(c).alias(f"{c}__n_nonnull"),
            F.countDistinct(c).alias(f"{c}__n_distinct"),
            fxp_sum(F.col(c), f"{c}__sum_val"),
            F.min(c).alias(f"{c}__min_val"),
            F.max(c).alias(f"{c}__max_val"),
        ]
    wide = li.agg(*aggs)
    rows = [
        F.struct(
            F.lit(c).alias("col"),
            F.col(f"{c}__n_rows").alias("n_rows"),
            F.col(f"{c}__n_nonnull").alias("n_nonnull"),
            F.col(f"{c}__n_distinct").alias("n_distinct"),
            F.col(f"{c}__sum_val").alias("sum_val"),
            F.col(f"{c}__min_val").alias("min_val"),
            F.col(f"{c}__max_val").alias("max_val"),
        )
        for c in cols
    ]
    return wide.select(F.explode(F.array(*rows)).alias("r")).select("r.*")


@register(
    "string_agg_statuses",
    """
SELECT o_orderpriority,
       STRING_AGG(DISTINCT o_orderstatus, ',' ORDER BY o_orderstatus) AS statuses,
       COUNT(*) AS n_orders
FROM orders GROUP BY o_orderpriority
""",
    category="relational",
    description="Ordered string aggregation (STRING_AGG / LISTAGG): distinct statuses per priority, deterministic via sorted concat",
)
def string_agg_statuses(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    return orders.groupBy("o_orderpriority").agg(
        F.concat_ws(
            ",", F.sort_array(F.collect_set("o_orderstatus"))
        ).alias("statuses"),
        F.count("*").alias("n_orders"),
    )


@register(
    "unpivot_lineitem_measures",
    f"""
WITH t AS (
  SELECT l_returnflag, 'quantity' AS measure, l_quantity AS val FROM lineitem
  UNION ALL
  SELECT l_returnflag, 'extendedprice', l_extendedprice FROM lineitem
  UNION ALL
  SELECT l_returnflag, 'discount', l_discount FROM lineitem
)
SELECT l_returnflag, measure, COUNT(*) AS n, {fxp_sum_sql('val')} AS total
FROM t GROUP BY l_returnflag, measure
""",
    category="relational",
    description="UNPIVOT (wide->long) via native stack(): three measures melted to rows then aggregated; one scan, no self-union",
)
def unpivot_lineitem_measures(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    melted = li.selectExpr(
        "l_returnflag",
        "stack(3, 'quantity', l_quantity, 'extendedprice', l_extendedprice, "
        "'discount', l_discount) AS (measure, val)",
    )
    return melted.groupBy("l_returnflag", "measure").agg(
        F.count("*").alias("n"), fxp_sum(F.col("val"), "total")
    )


@register(
    "customer_rfm",
    f"""
WITH base AS (
  SELECT o_custkey AS c_custkey,
         -- epoch micros, not a raw TIMESTAMP: int64 renders identically
         -- on any engine/canonicalizer; a raw timestamp risks tz-render
         -- divergence at the external comparator
         epoch_us(MAX(o_orderdate)) AS last_order_us,
         COUNT(*) AS n_orders,
         {fxp_sum_sql('o_totalprice')} AS total_spend
  FROM orders GROUP BY o_custkey
)
SELECT c_custkey, last_order_us, n_orders, total_spend,
       NTILE(4) OVER (ORDER BY last_order_us DESC, c_custkey) AS r_band,
       NTILE(4) OVER (ORDER BY n_orders DESC, c_custkey) AS f_band,
       NTILE(4) OVER (ORDER BY total_spend DESC, c_custkey) AS m_band
FROM base
""",
    category="relational",
    description=(
        "RFM customer segmentation: one orders aggregate + three ntile "
        "bands with total deterministic orderings (quartile windows over "
        "the already-aggregated per-customer table, not the fact table)"
    ),
)
def customer_rfm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recency/frequency/monetary quartile bands per customer.

    The heavy input (orders) is reduced by ONE map-side-combined
    aggregate before any window; the three quartile assignments then run
    over the per-customer table via :func:`ops.rank.global_ntile`
    (round 12): a builtin ``NTILE OVER (ORDER BY ...)`` coalesces the
    whole customer dimension into ONE task, so at billions of customers
    the query stops scaling exactly when the dimension does — the
    bucket+offset form is bit-identical (property-pinned) and
    hash-partitioned."""
    from findb_spark.ops.rank import global_ntile

    orders = load_table(spark, sf_dir, "orders")
    base = orders.groupBy(F.col("o_custkey").alias("c_custkey")).agg(
        # NTZ -> session-tz cast first (session is UTC, so epoch preserved)
        F.unix_micros(F.max("o_orderdate").cast("timestamp")).alias("last_order_us"),
        F.count("*").alias("n_orders"),
        fxp_sum(F.col("o_totalprice"), "total_spend"),
    )
    # base feeds three independent rankings — truncate so the orders
    # aggregate runs once, not once per band
    base = base.localCheckpoint(eager=False)
    res = base
    bands = (
        ("r_band", "last_order_us"),
        ("f_band", "n_orders"),
        ("m_band", "total_spend"),
    )
    for i, (band, key) in enumerate(bands):
        # truncate BETWEEN bands too (round 13, advisor): each ntile call
        # internally evaluates its input several times (bounds, bucket
        # counts, total, final join), so without this the third band's
        # aggregates would re-execute the prior two bands' window+join
        # plans repeatedly — only the orders aggregate was truncated
        if i:
            res = res.localCheckpoint(eager=False)
        res = global_ntile(
            res, 4, key, ["c_custkey"], descending=True, out=band
        )
    return res.select(
        "c_custkey",
        "last_order_us",
        "n_orders",
        "total_spend",
        "r_band",
        "f_band",
        "m_band",
    )


@register(
    "winsorize_revenue",
    f"""
WITH cuts AS (
  SELECT l_returnflag,
         quantile_cont(l_extendedprice, 0.01) AS p01,
         quantile_cont(l_extendedprice, 0.99) AS p99
  FROM lineitem GROUP BY l_returnflag
),
w AS (
  SELECT l.l_returnflag,
         CASE WHEN l_extendedprice < p01 THEN p01
              WHEN l_extendedprice > p99 THEN p99
              ELSE l_extendedprice END AS wp,
         CASE WHEN l_extendedprice < p01 OR l_extendedprice > p99
              THEN 1 ELSE 0 END AS clamped
  FROM lineitem l JOIN cuts USING (l_returnflag)
)
SELECT l_returnflag,
       COUNT(*) AS n_rows,
       CAST(SUM(clamped) AS BIGINT) AS n_clamped,
       {fxp_sum_sql('wp')} AS sum_winsorized
FROM w GROUP BY l_returnflag
""",
    category="relational",
    description=(
        "Winsorization (p01/p99 outlier clamping) per group: exact "
        "percentile cuts on a tiny grouped aggregate broadcast back over "
        "the fact scan — the robust-statistics cleaning pass"
    ),
)
def winsorize_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The per-group cut table is |groups| rows — Catalyst broadcasts it,
    so the fact table is scanned twice (once for cuts, once to clamp) but
    never shuffled for the join; both aggregates combine map-side."""
    li = load_table(spark, sf_dir, "lineitem")
    cuts = li.groupBy("l_returnflag").agg(
        F.expr("percentile(l_extendedprice, 0.01)").alias("p01"),
        F.expr("percentile(l_extendedprice, 0.99)").alias("p99"),
    )
    w = li.join(F.broadcast(cuts), "l_returnflag").select(
        "l_returnflag",
        F.when(F.col("l_extendedprice") < F.col("p01"), F.col("p01"))
        .when(F.col("l_extendedprice") > F.col("p99"), F.col("p99"))
        .otherwise(F.col("l_extendedprice"))
        .alias("wp"),
        F.when(
            (F.col("l_extendedprice") < F.col("p01"))
            | (F.col("l_extendedprice") > F.col("p99")),
            1,
        )
        .otherwise(0)
        .alias("clamped"),
    )
    return w.groupBy("l_returnflag").agg(
        F.count("*").alias("n_rows"),
        F.sum("clamped").cast("bigint").alias("n_clamped"),
        fxp_sum(F.col("wp"), "sum_winsorized"),
    )


@register(
    "robust_mad",
    """
WITH med AS (
  SELECT l_returnflag, quantile_cont(l_extendedprice, 0.5) AS med
  FROM lineitem GROUP BY l_returnflag
)
SELECT l.l_returnflag,
       ANY_VALUE(med) AS median_price,
       quantile_cont(abs(l_extendedprice - med), 0.5) AS mad_price,
       COUNT(*) AS n_rows
FROM lineitem l JOIN med USING (l_returnflag)
GROUP BY l.l_returnflag
""",
    category="relational",
    description=(
        "Median absolute deviation per group: exact median cuts broadcast "
        "back over the fact scan, second exact percentile over the "
        "residuals — the robust dispersion twin of winsorize_revenue"
    ),
)
def robust_mad(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    med = li.groupBy("l_returnflag").agg(
        F.expr("percentile(l_extendedprice, 0.5)").alias("med")
    )
    j = li.join(F.broadcast(med), "l_returnflag")
    return j.groupBy("l_returnflag").agg(
        F.first("med").alias("median_price"),
        F.expr("percentile(abs(l_extendedprice - med), 0.5)").alias("mad_price"),
        F.count("*").alias("n_rows"),
    )


@register(
    "pareto_part_revenue",
    f"""
WITH base AS (
  SELECT l_partkey, {fxp_sum_sql('l_extendedprice * (1 - l_discount)')} AS revenue
  FROM lineitem GROUP BY l_partkey
),
cents AS (
  SELECT l_partkey, revenue,
         CAST(FLOOR(revenue * 100 + 0.5) AS BIGINT) AS rc
  FROM base
),
r AS (
  SELECT l_partkey, revenue,
         ROW_NUMBER() OVER (ORDER BY rc DESC, l_partkey) AS rnk,
         CAST(SUM(rc) OVER (ORDER BY rc DESC, l_partkey
                            ROWS UNBOUNDED PRECEDING) AS DOUBLE)
           / CAST(SUM(rc) OVER () AS DOUBLE) AS cum_share
  FROM cents
)
SELECT l_partkey, revenue, rnk, cum_share FROM r WHERE rnk <= 100
""",
    category="relational",
    description=(
        "Pareto concentration: per-part revenue ranked with running share "
        "of total (exact integer cents in both windows) — top-100 cut. "
        "Windows run over the aggregated dimension-sized table"
    ),
)
def pareto_part_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rank + running share via :func:`ops.rank.global_running_sum`
    (round 12): the builtin unpartitioned windows coalesce the whole
    per-part relation into one task — the bucket+offset form yields the
    identical exact-int64 running sums and ranks, hash-partitioned; the
    total is a 1-row broadcast aggregate instead of an
    every-row-to-one-task ``SUM() OVER ()``."""
    from findb_spark.ops.rank import global_running_sum

    li = load_table(spark, sf_dir, "lineitem")
    base = li.groupBy("l_partkey").agg(
        fxp_sum(F.col("l_extendedprice") * (1 - F.col("l_discount")), "revenue")
    )
    cents = base.select(
        "l_partkey",
        "revenue",
        F.floor(F.col("revenue") * 100 + F.lit(0.5)).cast("bigint").alias("rc"),
    )
    # cents feeds the ranking AND the 1-row total — truncate so the
    # lineitem aggregate runs once
    cents = cents.localCheckpoint(eager=False)
    tot = cents.agg(F.sum("rc").cast("bigint").alias("_tot"))
    ranked = global_running_sum(
        cents,
        "rc",
        ["l_partkey"],
        value="rc",
        descending=True,
        out="_cum",
        rn_out="rnk",
    )
    return (
        ranked.where(F.col("rnk") <= 100)
        .crossJoin(F.broadcast(tot))
        .select(
            "l_partkey",
            "revenue",
            "rnk",
            (F.col("_cum").cast("double") / F.col("_tot").cast("double")).alias(
                "cum_share"
            ),
        )
    )


def _px100_case_sql(p: int, idiv: str) -> str:
    """Exact linear-interpolation percentile, scaled x100, as pure int64
    arithmetic over ranked frequencies: with 0-based rank rk over the
    sorted multiset and idx = (p*(n-1)) div 100, rem = (p*(n-1)) mod 100,
    the x100-scaled percentile is v[idx]*(100-rem) + v[idx+1]*rem —
    bit-equal on any engine (no double positions, no 0.99 representation
    drift).  `idiv` is the dialect's integer-division operator."""
    idx = f"(({p} * (n_keys - 1)) {idiv} 100)"
    rem = f"(({p} * (n_keys - 1)) % 100)"
    return (
        f"CAST(SUM(CASE WHEN rk = {idx} THEN freq * (100 - {rem}) ELSE 0 END)"
        f" + SUM(CASE WHEN rk = {idx} + 1 THEN freq * {rem} ELSE 0 END)"
        " AS BIGINT)"
    )


def _skew_profile_sql(table: str, key: str) -> str:
    return f"""
SELECT '{table}.{key}' AS key_col, n_keys, total_rows, max_freq,
       {_px100_case_sql(50, '//')} AS p50_freq_x100,
       {_px100_case_sql(99, '//')} AS p99_freq_x100,
       CAST((max_freq * 1000000 + total_rows // 2) // total_rows AS BIGINT)
         AS top_share_ppm,
       CAST((max_freq * 1000000 + {_px100_case_sql(50, '//')} // 2)
            // {_px100_case_sql(50, '//')} AS BIGINT) AS skew_p50_x10k
FROM (SELECT freq,
             ROW_NUMBER() OVER (ORDER BY freq) - 1 AS rk
      FROM (SELECT {key}, CAST(COUNT(*) AS BIGINT) AS freq
            FROM {table} GROUP BY 1))
CROSS JOIN (SELECT CAST(COUNT(*) AS BIGINT) AS n_keys,
                   CAST(SUM(freq2) AS BIGINT) AS total_rows,
                   CAST(MAX(freq2) AS BIGINT) AS max_freq
            FROM (SELECT {key}, COUNT(*) AS freq2 FROM {table} GROUP BY 1))
GROUP BY key_col, n_keys, total_rows, max_freq
"""


@register(
    "stats_key_skew",
    " UNION ALL ".join(
        _skew_profile_sql(t, k)
        for t, k in [
            ("lineitem", "l_suppkey"),
            ("lineitem", "l_partkey"),
            ("orders", "o_custkey"),
        ]
    ),
    category="relational",
    description=(
        "Join-key skew diagnostic: per candidate join key, the frequency "
        "distribution of the key (cardinality, max frequency, top-key row "
        "share ppm, p50/p99 frequency x100, max/p50 skew ratio x10k) — "
        "the pre-flight profile that decides broadcast vs shuffle vs "
        "salting before a 100 TB join; percentiles computed as EXACT "
        "int64 rank-rational interpolation over the (small) per-key "
        "frequency relation, never over raw rows and never through "
        "double quantile positions"
    ),
)
def stats_key_skew(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew profiling as two-level aggregation: the wide pass is a
    map-side-combinable COUNT per key (output size = key cardinality, not
    row count); percentiles/max run on that small frequency relation as
    exact x100 fixed-point rank interpolation (see _px100_case_sql).
    This is the measurement half of the skew playbook the engine's AQE
    config + salting tests rely on (tests/test_skew.py)."""

    def profile(table: str, key: str) -> DataFrame:
        from pyspark.storagelevel import StorageLevel

        # freq feeds two consumers (the count/sum/max aggregate and the
        # ranked percentile pass): persist the key-cardinality-sized
        # relation so the wide fact scan runs ONCE per profiled key.
        freq = (
            load_table(spark, sf_dir, table)
            .groupBy(key)
            .agg(F.count("*").cast("bigint").alias("freq"))
            .persist(StorageLevel.MEMORY_AND_DISK)
        )
        stats = freq.agg(
            F.count("*").cast("bigint").alias("n_keys"),
            F.sum("freq").cast("bigint").alias("total_rows"),
            F.max("freq").cast("bigint").alias("max_freq"),
        )
        # 0-based rank via ops.rank.global_row_number (round 12): the
        # distinct-key relation is SF-proportional, so the builtin
        # unpartitioned window is a one-task sort at volume; ties carry
        # no tiebreaker on either form — interchangeable equal freqs
        # yield the same percentile values either way
        from findb_spark.ops.rank import global_row_number

        ranked = global_row_number(freq, "freq", out="_rn").select(
            "freq", (F.col("_rn") - 1).alias("rk")
        )
        p50 = _px100_case_sql(50, "DIV")
        p99 = _px100_case_sql(99, "DIV")
        return (
            ranked.crossJoin(F.broadcast(stats))
            .groupBy("n_keys", "total_rows", "max_freq")
            .agg(
                F.expr(p50).alias("p50_freq_x100"),
                F.expr(p99).alias("p99_freq_x100"),
            )
            .select(
                F.lit(f"{table}.{key}").alias("key_col"),
                "n_keys",
                "total_rows",
                "max_freq",
                "p50_freq_x100",
                "p99_freq_x100",
                F.expr(
                    "CAST((max_freq * 1000000 + total_rows DIV 2)"
                    " DIV total_rows AS BIGINT)"
                ).alias("top_share_ppm"),
                F.expr(
                    "CAST((max_freq * 1000000 + p50_freq_x100 DIV 2)"
                    " DIV p50_freq_x100 AS BIGINT)"
                ).alias("skew_p50_x10k"),
            )
        )

    out = profile("lineitem", "l_suppkey")
    for t, k in [("lineitem", "l_partkey"), ("orders", "o_custkey")]:
        out = out.unionByName(profile(t, k))
    return out


@register(
    "orders_market_basket",
    """
WITH items AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
n AS (SELECT CAST(COUNT(DISTINCT l_orderkey) AS BIGINT) AS n_orders FROM items),
freq AS (
  SELECT l_partkey, CAST(COUNT(*) AS BIGINT) AS cnt
  FROM items GROUP BY l_partkey HAVING COUNT(*) >= 2
),
pairs AS (
  SELECT a.l_partkey AS p1, b.l_partkey AS p2, CAST(COUNT(*) AS BIGINT) AS support
  FROM items a JOIN items b
    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
  JOIN freq f1 ON a.l_partkey = f1.l_partkey
  JOIN freq f2 ON b.l_partkey = f2.l_partkey
  GROUP BY 1, 2 HAVING COUNT(*) >= 2
)
SELECT p.p1, p.p2, p.support,
       CAST((p.support * 1000000 + f1.cnt // 2) // f1.cnt AS BIGINT)
         AS confidence_ppm,
       CAST((p.support * n.n_orders * 10000 + (f1.cnt * f2.cnt) // 2)
            // (f1.cnt * f2.cnt) AS BIGINT) AS lift_x10k
FROM pairs p
JOIN freq f1 ON p.p1 = f1.l_partkey
JOIN freq f2 ON p.p2 = f2.l_partkey
CROSS JOIN n
ORDER BY lift_x10k DESC, p1, p2 LIMIT 20
""",
    category="relational",
    description=(
        "Market-basket association rules: part pairs co-purchased in the "
        "same order, scored by support / confidence / lift, top-20 by "
        "lift.  Apriori-style pruning — parts below min-support are "
        "dropped BEFORE the pair self-join, and the join key is the "
        "order id (basket size bounds fan-out, so no hub-key hazard)"
    ),
)
def orders_market_basket(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Association mining Spark-first: distinct (order, part) once, the
    frequency filter (the Apriori downward-closure prune) applied
    BEFORE pair generation so infrequent parts never enter the pair
    space — and pair generation is BASKET-LOCAL: each order's surviving
    parts collect into one sorted array and the (p1 < p2) combinations
    explode from that array in a NARROW projection.  No self-join on the
    order key at all, so the pair pass adds zero shuffles beyond the
    basket groupBy (an order-key self-join re-shuffles the items
    relation twice and re-scans lineitem per branch — measured 7 scans /
    13 exchanges vs 4 / 7 for this shape).  Per-order fan-out is
    basket_size^2/2 — bounded by data semantics, not corpus size.  The
    1-row order-count aggregate broadcasts (same pattern as the bench's
    asof_batch bounds)."""
    li = load_table(spark, sf_dir, "lineitem")
    items = li.select("l_orderkey", "l_partkey").distinct()
    n = items.agg(
        F.countDistinct("l_orderkey").cast("bigint").alias("n_orders")
    )
    freq = (
        items.groupBy("l_partkey")
        .agg(F.count("*").cast("bigint").alias("cnt"))
        .where(F.col("cnt") >= 2)
    )
    # part frequencies ride INSIDE the basket structs, so freq joins the
    # item relation exactly once and the pair rows already carry both
    # endpoint counts — no post-hoc f1/f2 re-joins (each of which would
    # rebuild the freq subtree: measured 5 scans / 11 exchanges vs 3 / 7)
    baskets = (
        items.join(freq, "l_partkey")
        .groupBy("l_orderkey")
        .agg(
            F.sort_array(
                F.collect_list(F.struct("l_partkey", "cnt"))
            ).alias("parts")
        )
    )
    # all i<j combinations of the sorted basket as one array expression
    pair_arr = F.expr(
        "flatten(transform(parts, (x, i) -> "
        "transform(slice(parts, i + 2, size(parts)), "
        "y -> struct(x.l_partkey AS p1, x.cnt AS cnt1, "
        "y.l_partkey AS p2, y.cnt AS cnt2))))"
    )
    pairs = (
        baskets.select(F.explode(pair_arr).alias("pr"))
        .select("pr.p1", "pr.cnt1", "pr.p2", "pr.cnt2")
        .groupBy("p1", "p2", "cnt1", "cnt2")
        .agg(F.count("*").cast("bigint").alias("support"))
        .where(F.col("support") >= 2)
    )
    return (
        pairs.crossJoin(F.broadcast(n))
        .select(
            "p1",
            "p2",
            "support",
            F.expr(
                "CAST((support * 1000000 + cnt1 DIV 2) DIV cnt1 AS BIGINT)"
            ).alias("confidence_ppm"),
            F.expr(
                "CAST((support * n_orders * 10000 + (cnt1 * cnt2) DIV 2)"
                " DIV (cnt1 * cnt2) AS BIGINT)"
            ).alias("lift_x10k"),
        )
        .orderBy(F.desc("lift_x10k"), "p1", "p2")
        .limit(20)
    )


@register(
    "orders_seasonal_naive_mae",
    """
WITH m AS (
  SELECT o_orderpriority AS prio,
         CAST(year(o_orderdate) * 100 + month(o_orderdate) AS INT) AS month,
         CAST(COUNT(*) AS BIGINT) AS n
  FROM orders GROUP BY prio, month
),
f AS (
  SELECT prio, month, n,
         LAG(n, 12) OVER (PARTITION BY prio ORDER BY month) AS forecast
  FROM m
)
SELECT prio,
       CAST(COUNT(*) AS BIGINT) AS n_scored_months,
       CAST(SUM(ABS(n - forecast)) AS BIGINT) AS sum_abs_err,
       CAST(CAST(SUM(ABS(n - forecast)) AS DOUBLE) / COUNT(*) AS DOUBLE)
         AS mae
FROM f WHERE forecast IS NOT NULL
GROUP BY prio
""",
    category="relational",
    description=(
        "Seasonal-naive forecast backtest: predict each month's order "
        "count per priority as the same month last year (LAG 12 over the "
        "monthly grid), score with exact-integer mean absolute error — "
        "the baseline every demand-forecasting pipeline must beat, "
        "evaluated entirely in window algebra"
    ),
)
def orders_seasonal_naive_mae(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Forecast evaluation as relational algebra: the monthly aggregate is
    a map-side-combinable groupBy (bounded grid), the forecast a LAG-12
    window over |priorities| tiny partitions, the error exact int64."""
    o = load_table(spark, sf_dir, "orders")
    m = o.groupBy(
        F.col("o_orderpriority").alias("prio"),
        (F.year("o_orderdate") * 100 + F.month("o_orderdate"))
        .cast("int")
        .alias("month"),
    ).agg(F.count("*").cast("bigint").alias("n"))
    w = Window.partitionBy("prio").orderBy("month")
    f = m.withColumn("forecast", F.lag("n", 12).over(w)).where(
        F.col("forecast").isNotNull()
    )
    return f.groupBy("prio").agg(
        F.count("*").cast("bigint").alias("n_scored_months"),
        F.sum(F.abs(F.col("n") - F.col("forecast")))
        .cast("bigint")
        .alias("sum_abs_err"),
        F.expr(
            "CAST(CAST(SUM(ABS(n - forecast)) AS DOUBLE) / COUNT(*) AS DOUBLE)"
        ).alias("mae"),
    )


@register(
    "customer_segment_migration",
    """
WITH bounds AS (
  SELECT MIN(o_orderdate) AS lo, MAX(o_orderdate) AS hi FROM orders
),
split AS (
  SELECT lo + (hi - lo) / 2 AS mid FROM bounds
),
p1 AS (
  SELECT o_custkey AS ck,
         CAST(SUM(CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT)) AS BIGINT)
           AS spend_cents
  FROM orders CROSS JOIN split WHERE o_orderdate < mid
  GROUP BY o_custkey
),
p2 AS (
  SELECT o_custkey AS ck,
         CAST(SUM(CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT)) AS BIGINT)
           AS spend_cents
  FROM orders CROSS JOIN split WHERE o_orderdate >= mid
  GROUP BY o_custkey
),
b1 AS (
  SELECT ck, NTILE(4) OVER (ORDER BY spend_cents DESC, ck) AS band FROM p1
),
b2 AS (
  SELECT ck, NTILE(4) OVER (ORDER BY spend_cents DESC, ck) AS band FROM p2
)
SELECT COALESCE(CAST(b1.band AS VARCHAR), 'absent') AS from_band,
       COALESCE(CAST(b2.band AS VARCHAR), 'absent') AS to_band,
       CAST(COUNT(*) AS BIGINT) AS n_customers
FROM b1 FULL OUTER JOIN b2 ON b1.ck = b2.ck
GROUP BY from_band, to_band
""",
    category="relational",
    description=(
        "Customer segment-migration matrix: monetary quartile band in "
        "the first half of the timeline vs the second (ntile with total "
        "deterministic orderings over exact cent spends), full-outer "
        "joined so churned ('absent' after) and acquired ('absent' "
        "before) customers appear as first-class flows — the lifecycle "
        "view RFM snapshots cannot show"
    ),
)
def customer_segment_migration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two map-side-combined period aggregates, two dimension-sized ntile
    windows, one full-outer join on the customer key, and a 5x5 output
    matrix regardless of volume.  The period split derives from the
    data's own midpoint (a broadcast 1-row aggregate) so the query is
    scale-factor-agnostic."""
    o = load_table(spark, sf_dir, "orders")
    b = o.agg(F.min("o_orderdate").alias("lo"), F.max("o_orderdate").alias("hi"))
    split = b.select(
        (F.col("lo") + (F.col("hi") - F.col("lo")) / 2).alias("mid")
    )
    # the 1-row midpoint is broadcast into BOTH period scans; pin it so
    # the min/max aggregate's full scan runs once, not once per period
    split = split.localCheckpoint(eager=False)
    cents = F.floor(F.col("o_totalprice") * 100 + F.lit(0.5)).cast("bigint")
    # per-period quartiles via ops.rank.global_ntile (round 12): the
    # builtin unpartitioned NTILE coalesces the whole customer dimension
    # into one task; the bucket+offset form is bit-identical and scales
    from findb_spark.ops.rank import global_ntile

    def period(cond):
        p = (
            o.crossJoin(F.broadcast(split))
            .where(cond)
            .groupBy(F.col("o_custkey").alias("ck"))
            .agg(F.sum(cents).cast("bigint").alias("spend_cents"))
        )
        return global_ntile(
            p, 4, "spend_cents", ["ck"], descending=True, out="band"
        ).select("ck", "band")

    b1 = period(F.col("o_orderdate") < F.col("mid"))
    b2 = period(F.col("o_orderdate") >= F.col("mid")).select(
        F.col("ck").alias("ck2"), F.col("band").alias("band2")
    )
    j = b1.join(b2, b1["ck"] == b2["ck2"], "full_outer")
    return j.groupBy(
        F.coalesce(F.col("band").cast("string"), F.lit("absent")).alias(
            "from_band"
        ),
        F.coalesce(F.col("band2").cast("string"), F.lit("absent")).alias(
            "to_band"
        ),
    ).agg(F.count("*").cast("bigint").alias("n_customers"))


@register(
    "sql_pivot_syntax",
    """
SELECT o_orderpriority AS pri,
       CAST(SUM(CASE WHEN o_orderstatus = 'O' THEN 1 ELSE 0 END) AS BIGINT) AS n_open,
       CAST(SUM(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END) AS BIGINT) AS n_filled,
       CAST(SUM(CASE WHEN o_orderstatus = 'P' THEN 1 ELSE 0 END) AS BIGINT) AS n_partial
FROM orders GROUP BY o_orderpriority
""",
    category="sql",
    description=(
        "SQL-front-end PIVOT syntax cert: the literal PIVOT clause "
        "(Spark SQL grammar) producing status-count columns per priority; "
        "the oracle is the equivalent conditional aggregation — proves the "
        "SQL surface parses and plans PIVOT, not just the DataFrame pivot"
    ),
)
def sql_pivot_syntax(spark: SparkSession, sf_dir: str) -> DataFrame:
    load_table(spark, sf_dir, "orders").createOrReplaceTempView("orders_pivot_v")
    return spark.sql(
        """
        SELECT pri,
               CAST(COALESCE(o, 0) AS BIGINT) AS n_open,
               CAST(COALESCE(f, 0) AS BIGINT) AS n_filled,
               CAST(COALESCE(p, 0) AS BIGINT) AS n_partial
        FROM (SELECT o_orderpriority AS pri, o_orderstatus AS st
              FROM orders_pivot_v)
        PIVOT (COUNT(*) FOR st IN ('O' AS o, 'F' AS f, 'P' AS p))
        """
    )


@register(
    "orders_repeat_purchase_curve",
    """
WITH seq AS (
  SELECT o_custkey,
         CAST(strftime(MIN(o_orderdate) OVER (PARTITION BY o_custkey), '%Y%m')
              AS INT) AS cohort,
         ROW_NUMBER() OVER (PARTITION BY o_custkey
                            ORDER BY o_orderdate, o_orderkey) AS rnk
  FROM orders
),
banded AS (
  SELECT cohort,
         CASE WHEN rnk = 1 THEN '1st'
              WHEN rnk = 2 THEN '2nd'
              WHEN rnk = 3 THEN '3rd'
              ELSE '4plus' END AS order_band
  FROM seq
)
SELECT cohort, order_band, CAST(COUNT(*) AS BIGINT) AS n_orders
FROM banded GROUP BY cohort, order_band
""",
    category="relational",
    description=(
        "Repeat-purchase curve: customers cohorted by first-order month, "
        "orders banded by per-customer sequence rank (1st/2nd/3rd/4+) — "
        "the lifecycle depth grid; one shuffle on custkey for both the "
        "cohort min and the sequence window"
    ),
)
def orders_repeat_purchase_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    wc = Window.partitionBy("o_custkey")
    ws = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    seq = o.select(
        F.date_format(F.min("o_orderdate").over(wc), "yyyyMM")
        .cast("int")
        .alias("cohort"),
        F.row_number().over(ws).alias("rnk"),
    )
    banded = seq.select(
        "cohort",
        F.when(F.col("rnk") == 1, "1st")
        .when(F.col("rnk") == 2, "2nd")
        .when(F.col("rnk") == 3, "3rd")
        .otherwise("4plus")
        .alias("order_band"),
    )
    return banded.groupBy("cohort", "order_band").agg(
        F.count("*").cast("bigint").alias("n_orders")
    )
