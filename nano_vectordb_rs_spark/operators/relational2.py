"""Second wave of TPC-H-shaped relational queries (q8/q13/q15/q17/q19/q21/q22
adaptations, plus ROLLUP) — filling in the subquery / outer-join / disjunctive
/ multi-semi-join shapes the first wave (relational.py, advanced.py) did not
exercise.

The reference engine has none of these (SURVEY.md §2.3: no joins, no
group-bys, no subqueries anywhere in src/lib.rs); this is north-star
extension surface. Shapes are adapted to the fixture schema (TESTDATA.md):
no partsupp table, no l_commitdate/l_receiptdate (lateness := shipdate vs
orderdate + N days), no c_phone (q22 groups by nation instead of phone
prefix), no p_container (q17/q19 predicates use p_brand/p_size).

Scale design notes (100 TB):
- q13: the customer⋈orders outer join shuffles on custkey once; the second
  aggregation (distribution over order counts) reduces to O(distinct counts)
  rows — partial-aggregated map-side, trivially small shuffle.
- q15: revenue-per-supplier is one shuffle on suppkey; the scalar max is a
  1-row broadcast joined back — never a driver-side collect.
- q17: the per-part average is computed once via groupBy (NOT a correlated
  per-row subquery — that would rescan lineitem per part) and broadcast back
  onto the fact scan.
- q19: the disjunctive predicate stays a single scan; each disjunct is
  plain-column comparisons, so Parquet row-group stats can still skip.
- q21: the EXISTS/NOT-EXISTS pair becomes one aggregated self-profile of
  lineitem per order (counts of suppliers / late suppliers) joined back —
  one shuffle on orderkey instead of two correlated rescans.
- q22: the global average account balance is a 1-row aggregate broadcast
  into the filter; the "has no orders" test is a left-anti join on custkey.
- ROLLUP expands each input row into its grouping sets inside the partial
  aggregate (Expand operator) — the shuffle still carries only group rows.

Determinism: decimal(28,10) sums, round(x, n) on every float output,
explicit total ordering with tie-breaks (SURVEY.md §7.4).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from nano_vectordb_rs_spark.operators.relational import DEC, _as_dbl, _dsum
from nano_vectordb_rs_spark.sources.tables import load_table


# --- q8: national market share ----------------------------------------------

Q8_REGION = "ASIA"
Q8_NATION = "NATION_3"
Q8_TYPE = "PROMO"


def tpch_q8_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-year share of ASIA-region PROMO-part revenue supplied by one
    nation — the two-level-aggregate shape (conditional sum / total sum).

    All five dimension sides (part, supplier, nation×2, region, customer)
    broadcast; lineitem⋈orders shuffles once on orderkey."""
    part = load_table(spark, sf_dir, "part").filter(F.col("p_type") == Q8_TYPE)
    supplier = load_table(spark, sf_dir, "supplier")
    nation_s = load_table(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("sn_key"), F.col("n_name").alias("supp_nation")
    )
    nation_c = load_table(spark, sf_dir, "nation")
    region = load_table(spark, sf_dir, "region").filter(F.col("r_name") == Q8_REGION)
    customer = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")

    cust_in_region = customer.join(
        F.broadcast(nation_c.join(F.broadcast(region), nation_c.n_regionkey == region.r_regionkey)),
        customer.c_nationkey == nation_c.n_nationkey,
    ).select("c_custkey")

    base = (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(cust_in_region), orders.o_custkey == F.col("c_custkey"))
        .join(F.broadcast(supplier), li.l_suppkey == supplier.s_suppkey)
        .join(F.broadcast(nation_s), supplier.s_nationkey == F.col("sn_key"))
    )
    vol = "l_extendedprice * (1 - l_discount)"
    return (
        base.withColumn("o_year", F.year("o_orderdate"))
        .groupBy("o_year")
        .agg(
            _dsum(vol).alias("_total"),
            F.sum(
                F.when(F.col("supp_nation") == Q8_NATION, F.expr(vol)).otherwise(F.lit(0.0)).cast(DEC)
            ).alias("_nation"),
        )
        .select(
            "o_year",
            F.round(_as_dbl(F.col("_nation")) / _as_dbl(F.col("_total")), 6).alias("mkt_share"),
        )
        .orderBy("o_year")
    )


TPCH_Q8_SQL = f"""
SELECT year(o_orderdate) AS o_year,
       round(CAST(sum(CAST(CASE WHEN n2.n_name = '{Q8_NATION}'
                                THEN l_extendedprice * (1 - l_discount) ELSE 0.0 END
                           AS DECIMAL(28,10))) AS DOUBLE)
             / CAST(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(28,10))) AS DOUBLE),
             6) AS mkt_share
FROM lineitem
JOIN part     ON l_partkey = p_partkey
JOIN orders   ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN nation n1 ON c_nationkey = n1.n_nationkey
JOIN region   ON n1.n_regionkey = r_regionkey
JOIN supplier ON l_suppkey = s_suppkey
JOIN nation n2 ON s_nationkey = n2.n_nationkey
WHERE p_type = '{Q8_TYPE}' AND r_name = '{Q8_REGION}'
GROUP BY o_year
ORDER BY o_year
"""


# --- q13: customer order-count distribution ----------------------------------


def tpch_q13_order_dist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distribution of customers by how many orders they placed, including
    zero — the canonical LEFT OUTER JOIN + double aggregation. Customers
    with no orders surface as c_count = 0 via the null-preserving count."""
    customer = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    per_cust = (
        customer.join(orders, customer.c_custkey == orders.o_custkey, "left_outer")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return (
        per_cust.groupBy("c_count")
        .agg(F.count("*").alias("custdist"))
        .orderBy(F.col("custdist").desc(), F.col("c_count").desc())
    )


TPCH_Q13_SQL = """
SELECT c_count, count(*) AS custdist
FROM (
  SELECT c_custkey, count(o_orderkey) AS c_count
  FROM customer LEFT OUTER JOIN orders ON c_custkey = o_custkey
  GROUP BY c_custkey
) c_orders
GROUP BY c_count
ORDER BY custdist DESC, c_count DESC
"""


# --- q15: top supplier by revenue --------------------------------------------

Q15_FROM, Q15_TO = "1997-01-01 00:00:00", "1997-04-01 00:00:00"


def tpch_q15_top_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Supplier(s) whose quarterly shipped revenue equals the maximum —
    the scalar-subquery-on-a-derived-view shape. The 1-row max is joined
    back by equality on the ROUNDED revenue (both sides round before
    comparing, so the float boundary is deterministic). r15: the
    supplier-sized revenue view is checkpointed — it feeds both the max
    contraction and the join-back, and each used to re-scan lineitem and
    re-run the aggregate (guide §2.4)."""
    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit(Q15_FROM).cast("timestamp_ntz"))
        & (F.col("l_shipdate") < F.lit(Q15_TO).cast("timestamp_ntz"))
    )
    revenue = (
        li.groupBy("l_suppkey")
        .agg(F.round(_as_dbl(_dsum("l_extendedprice * (1 - l_discount)")), 4).alias("total_revenue"))
        .localCheckpoint(eager=False)
    )
    max_rev = revenue.agg(F.max("total_revenue").alias("_max"))
    supplier = load_table(spark, sf_dir, "supplier")
    return (
        revenue.join(F.broadcast(max_rev), revenue.total_revenue == max_rev._max)
        .join(F.broadcast(supplier), F.col("l_suppkey") == supplier.s_suppkey)
        .select("s_suppkey", "s_name", "total_revenue")
        .orderBy("s_suppkey")
    )


TPCH_Q15_SQL = f"""
WITH revenue AS (
  SELECT l_suppkey,
         round(CAST(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(28,10))) AS DOUBLE), 4)
           AS total_revenue
  FROM lineitem
  WHERE l_shipdate >= TIMESTAMP '{Q15_FROM}' AND l_shipdate < TIMESTAMP '{Q15_TO}'
  GROUP BY l_suppkey
)
SELECT s_suppkey, s_name, total_revenue
FROM supplier JOIN revenue ON s_suppkey = l_suppkey
WHERE total_revenue = (SELECT max(total_revenue) FROM revenue)
ORDER BY s_suppkey
"""


# --- q17: small-quantity-order revenue ---------------------------------------

Q17_BRAND = "Brand#23"


def tpch_q17_small_qty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Average weekly revenue lost to small orders of one brand: lines with
    quantity below 50% of that part's average quantity.

    The correlated scalar subquery (avg per part) is decorrelated into one
    groupBy over the SAME filtered fact slice, broadcast back — and the
    slice is checkpointed (r15): the per-part average AND the final filter
    both consume it, and each used to re-scan the full lineitem table just
    to re-apply the broadcast brand filter (guide §2.4). The checkpoint
    holds only the brand's lines projected to three columns."""
    part = load_table(spark, sf_dir, "part").filter(F.col("p_brand") == Q17_BRAND)
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_partkey", "l_quantity", "l_extendedprice"
    )
    brand_lines = li.join(
        F.broadcast(part.select("p_partkey")), li.l_partkey == F.col("p_partkey")
    ).localCheckpoint(eager=False)
    part_avg = (
        brand_lines.groupBy(F.col("l_partkey").alias("pa_partkey"))
        .agg((_as_dbl(_dsum("l_quantity")) / F.count("*")).alias("avg_qty"))
    )
    return (
        brand_lines.join(F.broadcast(part_avg), F.col("l_partkey") == F.col("pa_partkey"))
        .filter(_as_dbl(F.col("l_quantity")) < 0.5 * F.col("avg_qty"))
        .agg(F.round(_as_dbl(_dsum("l_extendedprice")) / 7.0, 4).alias("avg_weekly_loss"))
    )


TPCH_Q17_SQL = f"""
SELECT round(CAST(sum(CAST(l_extendedprice AS DECIMAL(28,10))) AS DOUBLE) / 7.0, 4)
         AS avg_weekly_loss
FROM lineitem JOIN part ON l_partkey = p_partkey
WHERE p_brand = '{Q17_BRAND}'
  AND CAST(l_quantity AS DOUBLE) < 0.5 * (
    SELECT CAST(sum(CAST(l2.l_quantity AS DECIMAL(28,10))) AS DOUBLE) / count(*)
    FROM lineitem l2 JOIN part p2 ON l2.l_partkey = p2.p_partkey
    WHERE l2.l_partkey = lineitem.l_partkey AND p2.p_brand = '{Q17_BRAND}')
"""


# --- q19: disjunctive predicate join -----------------------------------------


def tpch_q19_disjunctive(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Revenue matching an OR of three (brand, size-band, quantity-band)
    conjunctions — the shape that exercises predicate normalization. The
    join key is conjunct to every disjunct, so Catalyst still plans an
    equi-join (broadcast on part) with the residual OR as a post-filter."""
    part = load_table(spark, sf_dir, "part")
    li = load_table(spark, sf_dir, "lineitem")
    j = li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
    q = F.col("l_quantity")
    sz = F.col("p_size")
    pred = (
        ((F.col("p_brand") == "Brand#12") & sz.between(1, 15) & q.between(1, 11))
        | ((F.col("p_brand") == "Brand#23") & sz.between(1, 25) & q.between(10, 20))
        | ((F.col("p_brand") == "Brand#34") & sz.between(1, 35) & q.between(20, 30))
    )
    return j.filter(pred).agg(
        F.round(_as_dbl(_dsum("l_extendedprice * (1 - l_discount)")), 4).alias("revenue"),
        F.count("*").alias("n_lines"),
    )


TPCH_Q19_SQL = """
SELECT round(CAST(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(28,10))) AS DOUBLE), 4)
         AS revenue,
       count(*) AS n_lines
FROM lineitem JOIN part ON l_partkey = p_partkey
WHERE (p_brand = 'Brand#12' AND p_size BETWEEN 1 AND 15 AND l_quantity BETWEEN 1 AND 11)
   OR (p_brand = 'Brand#23' AND p_size BETWEEN 1 AND 25 AND l_quantity BETWEEN 10 AND 20)
   OR (p_brand = 'Brand#34' AND p_size BETWEEN 1 AND 35 AND l_quantity BETWEEN 20 AND 30)
"""


# --- q21: suppliers who kept orders waiting ----------------------------------

Q21_LATE_DAYS = 60


def tpch_q21_waiting_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Suppliers who were the SOLE late shipper on a multi-supplier finished
    order (lateness := shipped > 60 days after order date, the fixture's
    proxy for receipt-past-commit).

    The classic formulation is EXISTS(other supplier) AND NOT EXISTS(other
    late supplier) — two correlated rescans of lineitem. Here lineitem is
    read ONCE: the big join collapses to a per-(order, supplier) aggregate
    (distinct pair + did-it-ship-late flag), the per-order profile the two
    EXISTS tests need is a window over that already-distinct frame (count
    of suppliers, count of late suppliers — same key as the aggregate, so
    the window rides the aggregate's partitioning, guide §2.4), and the
    sole-late rows fall out of the same frame with no join-back. One
    corpus-sized shuffle on (orderkey, suppkey) instead of the old shape's
    doubled lineitem⋈orders subtree + Expand'd dual count_distinct +
    sort-merge join-back."""
    orders = load_table(spark, sf_dir, "orders").filter(F.col("o_orderstatus") == "F")
    li = load_table(spark, sf_dir, "lineitem")
    lines = li.join(orders, li.l_orderkey == orders.o_orderkey).withColumn(
        "is_late",
        (F.col("l_shipdate") > F.expr(f"o_orderdate + INTERVAL {Q21_LATE_DAYS} DAYS")).cast("int"),
    )
    # one row per (order, supplier): late iff ANY of its lines shipped late
    per_supp = lines.groupBy("l_orderkey", "l_suppkey").agg(
        F.max("is_late").alias("late")
    )
    w = Window.partitionBy("l_orderkey")
    supplier = load_table(spark, sf_dir, "supplier")
    return (
        per_supp.withColumn("n_supps", F.count("*").over(w))
        .withColumn("n_late_supps", F.sum("late").over(w))
        .filter(
            (F.col("late") == 1)
            & (F.col("n_supps") > 1)
            & (F.col("n_late_supps") == 1)
        )
        .join(F.broadcast(supplier), F.col("l_suppkey") == supplier.s_suppkey)
        .groupBy("s_name")
        .agg(F.count("*").alias("numwait"))
        .orderBy(F.col("numwait").desc(), F.col("s_name"))
    )


TPCH_Q21_SQL = f"""
WITH lines AS (
  SELECT l_orderkey, l_suppkey,
         CASE WHEN l_shipdate > o_orderdate + INTERVAL {Q21_LATE_DAYS} DAY THEN 1 ELSE 0 END AS is_late
  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
  WHERE o_orderstatus = 'F'
), profile AS (
  SELECT l_orderkey AS po_orderkey,
         count(DISTINCT l_suppkey) AS n_supps,
         count(DISTINCT CASE WHEN is_late = 1 THEN l_suppkey END) AS n_late_supps
  FROM lines GROUP BY l_orderkey
)
SELECT s_name, count(*) AS numwait
FROM (
  SELECT DISTINCT l_orderkey, l_suppkey
  FROM lines JOIN profile ON l_orderkey = po_orderkey
  WHERE is_late = 1 AND n_supps > 1 AND n_late_supps = 1
) sole_late
JOIN supplier ON l_suppkey = s_suppkey
GROUP BY s_name
ORDER BY numwait DESC, s_name
"""


# --- q22: idle rich customers ------------------------------------------------


Q22_IDLE_SINCE = "1999-09-01 00:00:00"


def tpch_q22_idle_rich(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per nation: customers with above-average positive balance and no
    recent orders (q22 with nation standing in for the missing phone prefix,
    and "idle since {Q22_IDLE_SINCE}" instead of "never ordered" — at the
    fixture's 10-orders-per-customer ratio a lifetime anti-join is empty).

    The scalar average is a 1-row broadcast; the idle test is a left-anti
    join against the date-filtered orders — the same physical shape as the
    collection's delete() (SURVEY.md O5), applied analytically. The date
    predicate is pushed into the orders scan before the anti join."""
    customer = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") >= F.lit(Q22_IDLE_SINCE).cast("timestamp_ntz")
    )
    nation = load_table(spark, sf_dir, "nation")
    avg_bal = (
        customer.filter(F.col("c_acctbal") > 0.0)
        .agg((_as_dbl(_dsum("c_acctbal")) / F.count("*")).alias("_avg"))
    )
    return (
        customer.join(F.broadcast(avg_bal), F.col("c_acctbal") > F.col("_avg"))
        .join(orders, customer.c_custkey == orders.o_custkey, "left_anti")
        .join(F.broadcast(nation), customer.c_nationkey == nation.n_nationkey)
        .groupBy("n_name")
        .agg(
            F.count("*").alias("numcust"),
            F.round(_as_dbl(_dsum("c_acctbal")), 4).alias("totacctbal"),
        )
        .orderBy("n_name")
    )


TPCH_Q22_SQL = f"""
SELECT n_name, count(*) AS numcust,
       round(CAST(sum(CAST(c_acctbal AS DECIMAL(28,10))) AS DOUBLE), 4) AS totacctbal
FROM customer JOIN nation ON c_nationkey = n_nationkey
WHERE c_acctbal > (
    SELECT CAST(sum(CAST(c_acctbal AS DECIMAL(28,10))) AS DOUBLE) / count(*)
    FROM customer WHERE c_acctbal > 0.0)
  AND NOT EXISTS (SELECT 1 FROM orders
                  WHERE o_custkey = c_custkey
                    AND o_orderdate >= TIMESTAMP '{Q22_IDLE_SINCE}')
GROUP BY n_name
ORDER BY n_name
"""


# --- ROLLUP: hierarchical subtotals ------------------------------------------


def sales_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Revenue by (returnflag, linestatus) with ROLLUP subtotals and a grand
    total — the Expand-operator grouping-sets shape. GROUPING() flags
    disambiguate real NULLs from subtotal rows; subtotal keys render as
    'ALL' so the output is null-free and hash-stable."""
    li = load_table(spark, sf_dir, "lineitem")
    # pre-project the decimal revenue ONCE per input row — the Expand
    # operator replicates each row into its grouping sets, and an expression
    # left inside agg() would be recomputed per replica (3x here)
    pre = li.select(
        "l_returnflag",
        "l_linestatus",
        F.expr("l_extendedprice * (1 - l_discount)").cast(DEC).alias("rev"),
    )
    return (
        pre.rollup("l_returnflag", "l_linestatus")
        .agg(
            F.grouping("l_returnflag").alias("g_flag"),
            F.grouping("l_linestatus").alias("g_status"),
            F.count("*").alias("n_lines"),
            F.round(_as_dbl(F.sum("rev")), 4).alias("revenue"),
        )
        .select(
            F.coalesce("l_returnflag", F.lit("ALL")).alias("returnflag"),
            F.coalesce("l_linestatus", F.lit("ALL")).alias("linestatus"),
            "g_flag",
            "g_status",
            "n_lines",
            "revenue",
        )
        .orderBy("g_flag", "g_status", "returnflag", "linestatus")
    )


SALES_ROLLUP_SQL = """
SELECT coalesce(l_returnflag, 'ALL') AS returnflag,
       coalesce(l_linestatus, 'ALL') AS linestatus,
       CAST(GROUPING(l_returnflag) AS TINYINT) AS g_flag,
       CAST(GROUPING(l_linestatus) AS TINYINT) AS g_status,
       count(*) AS n_lines,
       round(CAST(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(28,10))) AS DOUBLE), 4)
         AS revenue
FROM lineitem
GROUP BY ROLLUP (l_returnflag, l_linestatus)
HAVING count(*) > 0  -- mirror Spark's empty-input grouping-set behavior
ORDER BY g_flag, g_status, returnflag, linestatus
"""


# --- PIVOT: priority × year order counts -------------------------------------

PIVOT_YEARS = list(range(1995, 2002))


def orders_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order counts pivoted to one column per order year.

    The year values are passed to ``pivot()`` explicitly so Spark skips the
    extra distinct-values collection pass — at 100 TB the implicit variant
    would scan the fact table twice. A pivot is just a conditional-sum
    aggregate (one shuffle on the groupBy key); the oracle spells that out."""
    orders = load_table(spark, sf_dir, "orders")
    return (
        orders.withColumn("o_year", F.year("o_orderdate"))
        .groupBy("o_orderpriority")
        .pivot("o_year", PIVOT_YEARS)
        .count()
        .select(
            "o_orderpriority",
            *[F.coalesce(F.col(str(y)), F.lit(0)).alias(f"y{y}") for y in PIVOT_YEARS],
        )
        .orderBy("o_orderpriority")
    )


ORDERS_PIVOT_SQL = f"""
SELECT o_orderpriority,
       {', '.join(f"CAST(sum(CASE WHEN year(o_orderdate) = {y} THEN 1 ELSE 0 END) AS BIGINT) AS y{y}" for y in PIVOT_YEARS)}
FROM orders
GROUP BY o_orderpriority
ORDER BY o_orderpriority
"""


# --- NTILE: balance quartiles -------------------------------------------------


def customer_balance_quartiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Customers bucketed into balance quartiles via ntile(4), with per-
    quartile stats.

    A global ntile needs a total order — one single-partition window, the
    one shape here that does NOT scale horizontally. The 100 TB variant
    computes quartile BOUNDARIES with approx_percentile (map-side sketch
    merge) and buckets by comparison; this exact version exists because the
    fixture sizes allow it and it hash-checks against the oracle."""
    customer = load_table(spark, sf_dir, "customer")
    from pyspark.sql.window import Window

    w = Window.orderBy(F.col("c_acctbal").asc(), F.col("c_custkey").asc())
    return (
        customer.withColumn("quartile", F.ntile(4).over(w))
        .groupBy("quartile")
        .agg(
            F.count("*").alias("n_customers"),
            F.round(F.min("c_acctbal"), 2).alias("min_bal"),
            F.round(F.max("c_acctbal"), 2).alias("max_bal"),
            F.round(_as_dbl(_dsum("c_acctbal")), 4).alias("sum_bal"),
        )
        .orderBy("quartile")
    )


CUSTOMER_QUARTILES_SQL = """
SELECT quartile, count(*) AS n_customers,
       round(min(c_acctbal), 2) AS min_bal,
       round(max(c_acctbal), 2) AS max_bal,
       round(CAST(sum(CAST(c_acctbal AS DECIMAL(28,10))) AS DOUBLE), 4) AS sum_bal
FROM (
  SELECT c_acctbal,
         ntile(4) OVER (ORDER BY c_acctbal ASC, c_custkey ASC) AS quartile
  FROM customer)
GROUP BY quartile
ORDER BY quartile
"""


def customer_balance_quartiles_approx(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The 100 TB twin of customer_balance_quartiles: quartile BOUNDARIES
    from a mergeable approx_percentile sketch (GK, map-side partial merge —
    one pass, no global sort anywhere), then bucket each row by comparison
    against the broadcast 3-value boundary row. The exact ntile version
    needs a single-partition total-order window — the one shape that cannot
    scale horizontally; this one is all scan-local except two tiny shuffles
    (sketch merge to one row, final 4-group aggregate).

    Sketch boundaries are engine-specific, so the hash-checkable surface is
    a TOLERANCE assertion: per quartile the query emits the exact corpus
    totals (row count + decimal-exact balance sum, identical in any engine)
    plus two booleans — the bucket's row count is within max(2, 0.5%) of the
    ideal n/4, and the bucket boundaries are non-overlapping and ordered.
    The oracle emits the same totals and literal TRUEs, so a degenerate
    sketch flips a boolean and fails the value hash (previously rows-only)."""
    from pyspark.sql.window import Window

    customer = load_table(spark, sf_dir, "customer")
    # ONE keyless aggregate carries the sketch AND the exact totals (the
    # old frame ran separate bounds/totals aggregates, each its own
    # customer scan); checkpointed because both the bucketing join and
    # the final report consume the 1-row frame (guide §2.4)
    bounds = customer.agg(
        F.expr(
            "approx_percentile(c_acctbal, array(0.25, 0.5, 0.75), 10000)"
        ).alias("_b"),
        F.count("*").alias("n_total"),
        F.round(_as_dbl(_dsum("c_acctbal")), 4).alias("sum_total"),
    ).localCheckpoint(eager=False)
    quartile = (
        F.when(F.col("c_acctbal") <= F.col("_b")[0], 1)
        .when(F.col("c_acctbal") <= F.col("_b")[1], 2)
        .when(F.col("c_acctbal") <= F.col("_b")[2], 3)
        .otherwise(4)
    )
    per_q = (
        customer.join(F.broadcast(bounds.select("_b")))
        .select(quartile.alias("quartile"), "c_acctbal")
        .groupBy("quartile")
        .agg(
            F.count("*").alias("_n"),
            F.min("c_acctbal").alias("_min"),
            F.max("c_acctbal").alias("_max"),
        )
    )
    # all four quartiles are structural (the oracle generates 1..4): a
    # degenerate corpus (fewer rows than buckets) must still emit every
    # quartile, with an empty bucket's count 0 judged by the same tolerance
    quarters = spark.range(1, 5).select(F.col("id").cast("int").alias("quartile"))
    per_q = quarters.join(per_q, "quartile", "left").select(
        "quartile",
        F.coalesce(F.col("_n"), F.lit(0)).alias("_n"),
        "_min",
        "_max",
    )
    totals = bounds.select("n_total", "sum_total")
    wq = Window.orderBy("quartile")
    return (
        per_q.crossJoin(F.broadcast(totals))
        .select(
            "quartile",
            "n_total",
            "sum_total",
            (
                F.abs(F.col("_n") - F.col("n_total") / 4.0)
                <= F.greatest(F.lit(2.0), F.col("n_total") / 200.0)
            ).alias("count_within_tol"),
            F.coalesce(
                F.lag("_max").over(wq) <= F.col("_min"), F.lit(True)
            ).alias("bounds_ordered"),
        )
        .orderBy("quartile")
    )


CUSTOMER_QUARTILES_APPROX_SQL = """
WITH t AS (
  SELECT count(*) AS n_total,
         round(CAST(sum(CAST(c_acctbal AS DECIMAL(28,10))) AS DOUBLE), 4) AS sum_total
  FROM customer)
SELECT q.g AS quartile, t.n_total, t.sum_total,
       TRUE AS count_within_tol, TRUE AS bounds_ordered
FROM t, UNNEST(generate_series(1, 4)) AS q(g)
ORDER BY quartile
"""


# --- CUBE: part catalog cross-totals -----------------------------------------


def parts_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Part counts/prices across ALL subtotal combinations of (type, brand)
    — CUBE, the full-lattice sibling of ROLLUP's hierarchy. Same Expand-
    operator plan: each row fans into its 4 grouping sets before the partial
    aggregate, so the shuffle still carries only group rows."""
    part = load_table(spark, sf_dir, "part")
    return (
        part.cube("p_type", "p_brand")
        .agg(
            F.grouping("p_type").alias("g_type"),
            F.grouping("p_brand").alias("g_brand"),
            F.count("*").alias("n_parts"),
            F.round(_as_dbl(_dsum("p_retailprice")), 4).alias("sum_price"),
        )
        .select(
            F.coalesce("p_type", F.lit("ALL")).alias("ptype"),
            F.coalesce("p_brand", F.lit("ALL")).alias("brand"),
            "g_type",
            "g_brand",
            "n_parts",
            "sum_price",
        )
        .orderBy("g_type", "g_brand", "ptype", "brand")
    )


PARTS_CUBE_SQL = """
SELECT coalesce(p_type, 'ALL') AS ptype,
       coalesce(p_brand, 'ALL') AS brand,
       CAST(GROUPING(p_type) AS TINYINT) AS g_type,
       CAST(GROUPING(p_brand) AS TINYINT) AS g_brand,
       count(*) AS n_parts,
       round(CAST(sum(CAST(p_retailprice AS DECIMAL(28,10))) AS DOUBLE), 4) AS sum_price
FROM part
GROUP BY CUBE (p_type, p_brand)
HAVING count(*) > 0  -- mirror Spark's empty-input grouping-set behavior
ORDER BY g_type, g_brand, ptype, brand
"""


# --- statistical aggregates ---------------------------------------------------


def lineitem_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-returnflag correlation / spread statistics — the numeric-moment
    aggregate family (corr, covariance, stddev). These merge partial moment
    tuples map-side, so the shuffle carries O(groups) rows.

    Determinism note: moment aggregates are float-order-dependent in ANY
    engine; with ~10^5 well-conditioned doubles the relative wobble is
    ~1e-12, far inside the round() below (corr/1e-6, others/1e-2 of values
    in the 10^3..10^4 range)."""
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.groupBy("l_returnflag")
        .agg(
            F.count("*").alias("n_lines"),
            F.round(F.corr("l_quantity", "l_extendedprice"), 6).alias("qty_price_corr"),
            F.round(F.covar_samp("l_quantity", "l_extendedprice"), 2).alias("qty_price_cov"),
            F.round(F.stddev_samp("l_extendedprice"), 2).alias("price_sd"),
            F.round(F.var_samp("l_discount"), 6).alias("disc_var"),
        )
        .orderBy("l_returnflag")
    )


LINEITEM_STATS_SQL = """
SELECT l_returnflag, count(*) AS n_lines,
       round(corr(l_quantity, l_extendedprice), 6) AS qty_price_corr,
       round(covar_samp(l_quantity, l_extendedprice), 2) AS qty_price_cov,
       round(stddev_samp(l_extendedprice), 2) AS price_sd,
       round(var_samp(l_discount), 6) AS disc_var
FROM lineitem
GROUP BY l_returnflag
ORDER BY l_returnflag
"""


# --- RANGE-frame window: trailing 90-day revenue ------------------------------

TRAIL_EPOCH = "1995-01-01"
TRAIL_DAYS = 90
TRAIL_SUPP_MAX = 5


def supplier_trailing_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-supplier trailing-90-day revenue at each active ship day — the
    RANGE-frame window shape (value-based frame bounds, vs the ROWS frames
    used elsewhere). Days are integers (datediff from a fixed epoch) so the
    frame is integer-exact in both engines; per-day revenue is pre-aggregated
    so the window slides over O(active days), not O(lineitems).

    Scale: one shuffle on suppkey for both the pre-aggregate and the window
    (same key — Catalyst reuses the partitioning); the frame scan is linear
    per partition with a sliding two-pointer, spill-aware WindowExec."""
    from pyspark.sql.window import Window

    li = load_table(spark, sf_dir, "lineitem").filter(F.col("l_suppkey") < TRAIL_SUPP_MAX)
    daily = (
        li.withColumn("day", F.datediff(F.col("l_shipdate"), F.lit(TRAIL_EPOCH).cast("date")))
        .groupBy("l_suppkey", "day")
        .agg(_dsum("l_extendedprice * (1 - l_discount)").alias("day_rev_dec"))
    )
    w = Window.partitionBy("l_suppkey").orderBy("day").rangeBetween(-TRAIL_DAYS, 0)
    return (
        daily.select(
            "l_suppkey",
            "day",
            F.round(_as_dbl(F.col("day_rev_dec")), 4).alias("day_rev"),
            F.round(_as_dbl(F.sum("day_rev_dec").over(w)), 4).alias("trail90_rev"),
        )
        .orderBy("l_suppkey", "day")
    )


SUPPLIER_TRAILING_SQL = f"""
WITH daily AS (
  SELECT l_suppkey, datediff('day', DATE '{TRAIL_EPOCH}', l_shipdate) AS day,
         sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(28,10))) AS day_rev_dec
  FROM lineitem
  WHERE l_suppkey < {TRAIL_SUPP_MAX}
  GROUP BY 1, 2)
SELECT l_suppkey, day,
       round(CAST(day_rev_dec AS DOUBLE), 4) AS day_rev,
       round(CAST(sum(day_rev_dec) OVER (
           PARTITION BY l_suppkey ORDER BY day
           RANGE BETWEEN {TRAIL_DAYS} PRECEDING AND CURRENT ROW) AS DOUBLE), 4)
         AS trail90_rev
FROM daily
ORDER BY l_suppkey, day
"""


# --- relative-rank windows ----------------------------------------------------


def supplier_percent_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """percent_rank + cume_dist of each supplier's balance within its nation
    — the relative-standing window pair ((rank-1)/(n-1) and rank/n, exact
    small rationals, identical doubles in both engines). Tie-break on
    suppkey makes rank assignment total."""
    from pyspark.sql.window import Window

    supplier = load_table(spark, sf_dir, "supplier")
    w = Window.partitionBy("s_nationkey").orderBy(
        F.col("s_acctbal").asc(), F.col("s_suppkey").asc()
    )
    return (
        supplier.select(
            "s_nationkey",
            "s_suppkey",
            F.round(F.col("s_acctbal"), 2).alias("acctbal"),
            F.round(F.percent_rank().over(w), 6).alias("pct_rank"),
            F.round(F.cume_dist().over(w), 6).alias("cume"),
        )
        .orderBy("s_nationkey", "s_suppkey")
    )


SUPPLIER_PERCENT_RANK_SQL = """
SELECT s_nationkey, s_suppkey, round(s_acctbal, 2) AS acctbal,
       round(percent_rank() OVER w, 6) AS pct_rank,
       round(cume_dist() OVER w, 6) AS cume
FROM supplier
WINDOW w AS (PARTITION BY s_nationkey ORDER BY s_acctbal ASC, s_suppkey ASC)
ORDER BY s_nationkey, s_suppkey
"""


# --- nested-array aggregation -------------------------------------------------


def nation_supplier_lists(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per nation: the sorted list of its supplier names plus balance total
    — list-valued aggregation (collect_list → sort_array makes the
    nondeterministic collection order canonical), emitted as a '|'-joined
    string so the result is hashable by flat tabular comparators; DuckDB's
    string_agg orders the same way via ORDER BY inside the aggregate."""
    supplier = load_table(spark, sf_dir, "supplier")
    nation = load_table(spark, sf_dir, "nation")
    return (
        supplier.join(F.broadcast(nation), supplier.s_nationkey == nation.n_nationkey)
        .groupBy("n_name")
        .agg(
            F.array_join(F.sort_array(F.collect_list("s_name")), "|").alias("suppliers"),
            F.count("*").alias("n_suppliers"),
            F.round(_as_dbl(_dsum("s_acctbal")), 4).alias("total_bal"),
        )
        .orderBy("n_name")
    )


NATION_SUPPLIER_LISTS_SQL = """
SELECT n_name,
       string_agg(s_name, '|' ORDER BY s_name) AS suppliers,
       count(*) AS n_suppliers,
       round(CAST(sum(CAST(s_acctbal AS DECIMAL(28,10))) AS DOUBLE), 4) AS total_bal
FROM supplier JOIN nation ON s_nationkey = n_nationkey
GROUP BY n_name
ORDER BY n_name
"""
