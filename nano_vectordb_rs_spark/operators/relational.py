"""TPC-H-shaped relational analytics over the star schema.

The reference has no joins, group-bys or subqueries (SURVEY.md §2.3) — this
module is the north-star extension proving the general analytics surface.

Scale design notes (100 TB):
- Dimension tables (region/nation/customer/supplier/part) are broadcast
  explicitly — the fact table (lineitem/orders) never shuffles for these
  joins. At real TPC-H scale customer stops being broadcastable; AQE then
  picks sort-merge with skew splitting, and the code is unchanged.
- Aggregations go through partial (map-side) combine automatically.
- Money sums are computed per-row in double (bit-deterministic) and summed
  as DECIMAL(28,10) so the aggregate is exact and independent of partition
  order — the reason these queries hash-match a single-threaded oracle.

Determinism: every output value is either integer-exact, decimal-exact, or
round(x, n) of a deterministic double (SURVEY.md §7.4).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from nano_vectordb_rs_spark.sources.tables import load_table

DEC = "decimal(28,10)"


def _dsum(expr: str) -> F.Column:
    """Order-independent exact sum of a per-row double expression."""
    return F.sum(F.expr(expr).cast(DEC))


def _as_dbl(c: F.Column) -> F.Column:
    return c.cast("double")


# --- Q1-style pricing summary ----------------------------------------------

Q1_CUTOFF = "1998-09-02 00:00:00"


def tpch_q1_pricing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pricing summary: the canonical wide-aggregation scan.

    One pass over lineitem; Catalyst pushes the shipdate filter into the
    Parquet scan; partial aggregation means the shuffle carries only
    (flag,status) groups — 6 rows regardless of input size. The scan is
    spread per ``tables.input_sized_width`` (decimal sums are exactly
    associative, so re-splitting cannot change them)."""
    # the spread sits BETWEEN the scan and the decimal projection (Catalyst
    # pushes the filter below it): the casts/products are the expensive
    # per-row work, so they must run on the exchange's output, not on the
    # single scan task
    li = load_table(spark, sf_dir, "lineitem", spread_bytes=1 << 20).filter(
        F.col("l_shipdate") <= F.lit(Q1_CUTOFF).cast("timestamp_ntz")
    )
    # pre-project the five decimal measures once per row — leaving the casts
    # and products inside agg() re-evaluates them per aggregate expression
    # (codegen subexpression elimination does not fully collapse them;
    # measured 1.3s -> 0.87s at sf0.1, results bit-identical)
    pre = li.select(
        "l_returnflag",
        "l_linestatus",
        F.col("l_quantity").cast(DEC).alias("_qty"),
        F.col("l_extendedprice").cast(DEC).alias("_ep"),
        F.expr("l_extendedprice * (1 - l_discount)").cast(DEC).alias("_dp"),
        F.expr("l_extendedprice * (1 - l_discount) * (1 + l_tax)").cast(DEC).alias("_ch"),
        F.col("l_discount").cast(DEC).alias("_disc"),
    )
    return (
        pre.groupBy("l_returnflag", "l_linestatus")
        .agg(
            # round() after the decimal sum: DuckDB's decimal→double cast can
            # be 1 ulp off Spark's correctly-rounded cast; round(x, 4) maps
            # both to the identical double since the data has ≤2 decimals
            F.round(_as_dbl(F.sum("_qty")), 4).alias("sum_qty"),
            F.round(_as_dbl(F.sum("_ep")), 4).alias("sum_base_price"),
            F.round(_as_dbl(F.sum("_dp")), 4).alias("sum_disc_price"),
            F.round(_as_dbl(F.sum("_ch")), 4).alias("sum_charge"),
            F.round(_as_dbl(F.sum("_qty")) / F.count("*"), 6).alias("avg_qty"),
            F.round(_as_dbl(F.sum("_ep")) / F.count("*"), 6).alias("avg_price"),
            F.round(_as_dbl(F.sum("_disc")) / F.count("*"), 6).alias("avg_disc"),
            F.count("*").alias("count_order"),
        )
        .orderBy("l_returnflag", "l_linestatus")
    )


TPCH_Q1_SQL = f"""
SELECT l_returnflag, l_linestatus,
       round(CAST(sum(CAST(l_quantity AS DECIMAL(28,10))) AS DOUBLE), 4) AS sum_qty,
       round(CAST(sum(CAST(l_extendedprice AS DECIMAL(28,10))) AS DOUBLE), 4) AS sum_base_price,
       round(CAST(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(28,10))) AS DOUBLE), 4) AS sum_disc_price,
       round(CAST(sum(CAST(l_extendedprice * (1 - l_discount) * (1 + l_tax) AS DECIMAL(28,10))) AS DOUBLE), 4) AS sum_charge,
       round(CAST(sum(CAST(l_quantity AS DECIMAL(28,10))) AS DOUBLE) / count(*), 6) AS avg_qty,
       round(CAST(sum(CAST(l_extendedprice AS DECIMAL(28,10))) AS DOUBLE) / count(*), 6) AS avg_price,
       round(CAST(sum(CAST(l_discount AS DECIMAL(28,10))) AS DOUBLE) / count(*), 6) AS avg_disc,
       count(*) AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '{Q1_CUTOFF}'
GROUP BY l_returnflag, l_linestatus
ORDER BY l_returnflag, l_linestatus
"""


# --- Q3-style shipping priority --------------------------------------------

Q3_DATE = "1997-01-01 00:00:00"
Q3_SEGMENT = "BUILDING"


def tpch_q3_shipping(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Revenue of unshipped orders for one market segment: the canonical
    3-way join. customer is broadcast; orders⋈lineitem shuffles on orderkey
    once (co-partitioned join keys)."""
    cust = load_table(spark, sf_dir, "customer").filter(F.col("c_mktsegment") == Q3_SEGMENT)
    orders = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") < F.lit(Q3_DATE).cast("timestamp_ntz")
    )
    li = load_table(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") > F.lit(Q3_DATE).cast("timestamp_ntz")
    )
    joined = li.join(
        orders.join(F.broadcast(cust), orders.o_custkey == cust.c_custkey),
        F.col("l_orderkey") == F.col("o_orderkey"),
    )
    return (
        joined.groupBy("l_orderkey", "o_orderpriority")
        .agg(F.round(_as_dbl(_dsum("l_extendedprice * (1 - l_discount)")), 4).alias("revenue"))
        .orderBy(F.col("revenue").desc(), F.col("l_orderkey").asc())
        .limit(10)
    )


TPCH_Q3_SQL = f"""
SELECT l_orderkey, o_orderpriority,
       round(CAST(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(28,10))) AS DOUBLE), 4) AS revenue
FROM customer, orders, lineitem
WHERE c_mktsegment = '{Q3_SEGMENT}'
  AND c_custkey = o_custkey
  AND l_orderkey = o_orderkey
  AND o_orderdate < TIMESTAMP '{Q3_DATE}'
  AND l_shipdate > TIMESTAMP '{Q3_DATE}'
GROUP BY l_orderkey, o_orderpriority
ORDER BY revenue DESC, l_orderkey ASC
LIMIT 10
"""


# --- Q5-style regional revenue ---------------------------------------------

Q5_REGION = "ASIA"
Q5_FROM, Q5_TO = "1996-01-01 00:00:00", "1999-01-01 00:00:00"


def tpch_q5_regional(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Revenue per nation inside one region: a 5-way star join.

    region→nation→customer collapses into one broadcast dimension;
    orders⋈lineitem is the only shuffle."""
    region = load_table(spark, sf_dir, "region").filter(F.col("r_name") == Q5_REGION)
    nation = load_table(spark, sf_dir, "nation")
    cust = load_table(spark, sf_dir, "customer")
    dim = cust.join(
        F.broadcast(nation.join(region, nation.n_regionkey == region.r_regionkey)),
        F.col("c_nationkey") == F.col("n_nationkey"),
    ).select("c_custkey", "n_name")
    orders = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit(Q5_FROM).cast("timestamp_ntz"))
        & (F.col("o_orderdate") < F.lit(Q5_TO).cast("timestamp_ntz"))
    )
    li = load_table(spark, sf_dir, "lineitem")
    joined = li.join(orders, F.col("l_orderkey") == F.col("o_orderkey")).join(
        F.broadcast(dim), F.col("o_custkey") == F.col("c_custkey")
    )
    return (
        joined.groupBy("n_name")
        .agg(F.round(_as_dbl(_dsum("l_extendedprice * (1 - l_discount)")), 4).alias("revenue"))
        .orderBy(F.col("revenue").desc(), F.col("n_name").asc())
    )


TPCH_Q5_SQL = f"""
SELECT n_name,
       round(CAST(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(28,10))) AS DOUBLE), 4) AS revenue
FROM region, nation, customer, orders, lineitem
WHERE r_name = '{Q5_REGION}'
  AND n_regionkey = r_regionkey
  AND c_nationkey = n_nationkey
  AND o_custkey = c_custkey
  AND l_orderkey = o_orderkey
  AND o_orderdate >= TIMESTAMP '{Q5_FROM}' AND o_orderdate < TIMESTAMP '{Q5_TO}'
GROUP BY n_name
ORDER BY revenue DESC, n_name ASC
"""


# --- Q4-style: orders with late-shipping lineitems (semi join) --------------


def order_priority_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-priority count of orders having at least one lineitem shipped
    after the order date — the EXISTS shape.

    Plan (r15): the order's priority rides THROUGH the fact join, so the
    qualifying orders contract to distinct (priority, orderkey) and count
    per priority directly. The old frame materialized the distinct late
    orderkeys and SEMI-JOINED them back against a SECOND orders scan —
    a sort-merge join re-shuffling orders just to re-fetch the priority
    the first join already had (guide §2.4/§3)."""
    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .filter(F.col("l_shipdate") > F.col("o_orderdate"))
        .select("o_orderpriority", "l_orderkey")
        .distinct()
        .groupBy("o_orderpriority")
        .agg(F.count("*").alias("order_count"))
        .orderBy("o_orderpriority")
    )


ORDER_PRIORITY_SQL = """
SELECT o_orderpriority, count(*) AS order_count
FROM orders
WHERE EXISTS (
  SELECT 1 FROM lineitem
  WHERE l_orderkey = o_orderkey AND l_shipdate > o_orderdate)
GROUP BY o_orderpriority
ORDER BY o_orderpriority
"""


# --- top customers by spend -------------------------------------------------


def top_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Aggregate-then-join: orders is reduced to per-customer totals BEFORE
    joining customer/nation (both broadcast) — at 100 TB the join input is
    |customers|, not |orders|."""
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    nation = load_table(spark, sf_dir, "nation")
    totals = orders.groupBy("o_custkey").agg(
        F.round(_as_dbl(_dsum("o_totalprice")), 4).alias("total_spend"),
        F.count("*").alias("n_orders"),
    )
    return (
        totals.join(F.broadcast(cust), totals.o_custkey == cust.c_custkey)
        .join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
        .select("c_name", "n_name", "total_spend", "n_orders")
        .orderBy(F.col("total_spend").desc(), F.col("c_name").asc())
        .limit(10)
    )


TOP_CUSTOMERS_SQL = """
SELECT c_name, n_name, total_spend, n_orders
FROM (
  SELECT o_custkey,
         round(CAST(sum(CAST(o_totalprice AS DECIMAL(28,10))) AS DOUBLE), 4) AS total_spend,
         count(*) AS n_orders
  FROM orders GROUP BY o_custkey) t
JOIN customer ON o_custkey = c_custkey
JOIN nation ON c_nationkey = n_nationkey
ORDER BY total_spend DESC, c_name ASC
LIMIT 10
"""


# --- grouping sets / rollup --------------------------------------------------


def region_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROLLUP(region, nation) over customer counts + account balances —
    grouping-set aggregation, absent from the reference entirely."""
    cust = load_table(spark, sf_dir, "customer")
    nation = load_table(spark, sf_dir, "nation")
    region = load_table(spark, sf_dir, "region")
    full = cust.join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey).join(
        F.broadcast(region), nation.n_regionkey == region.r_regionkey
    )
    return (
        full.rollup("r_name", "n_name")
        .agg(
            F.count("*").alias("n_customers"),
            F.round(_as_dbl(_dsum("c_acctbal")), 4).alias("total_acctbal"),
        )
        .orderBy(
            F.col("r_name").asc_nulls_first(), F.col("n_name").asc_nulls_first()
        )
    )


REGION_ROLLUP_SQL = """
SELECT r_name, n_name, count(*) AS n_customers,
       round(CAST(sum(CAST(c_acctbal AS DECIMAL(28,10))) AS DOUBLE), 4) AS total_acctbal
FROM customer
JOIN nation ON c_nationkey = n_nationkey
JOIN region ON n_regionkey = r_regionkey
GROUP BY ROLLUP (r_name, n_name)
HAVING count(*) > 0  -- Spark grouping sets emit NOTHING on empty input
                     -- (ANSI/DuckDB emit the 0-count grand total); a no-op
                     -- on any non-empty input, aligns the degenerate case
ORDER BY r_name ASC NULLS FIRST, n_name ASC NULLS FIRST
"""


# --- parts brand stats (HAVING) ----------------------------------------------


def parts_brand_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    part = load_table(spark, sf_dir, "part")
    return (
        part.groupBy("p_brand")
        .agg(
            F.count("*").alias("n_parts"),
            F.round(_as_dbl(_dsum("p_retailprice")) / F.count("*"), 6).alias("avg_price"),
            F.min("p_size").alias("min_size"),
            F.max("p_size").alias("max_size"),
            F.countDistinct("p_type").alias("n_types"),
        )
        .filter(F.col("n_parts") > 1)
        .orderBy("p_brand")
    )


PARTS_BRAND_SQL = """
SELECT p_brand, count(*) AS n_parts,
       round(CAST(sum(CAST(p_retailprice AS DECIMAL(28,10))) AS DOUBLE) / count(*), 6) AS avg_price,
       min(p_size) AS min_size, max(p_size) AS max_size,
       count(DISTINCT p_type) AS n_types
FROM part
GROUP BY p_brand
HAVING count(*) > 1
ORDER BY p_brand
"""
