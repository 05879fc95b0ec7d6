"""Advanced relational surface: more TPC-H shapes, window analytics, set
ops, and the join kinds the reference lacks entirely (as-of, range).

The reference has no join operator at all (SURVEY.md §2.3 — join-shaped
logic exists only as the get/delete semi/anti scans, src/lib.rs:263-286);
everything here is north-star extension surface proving the engine covers
what a user of a general analytics stack expects.

Scale design notes (100 TB):
- Every dimension side (part, supplier, nation, customer aggregate, the
  band table) is broadcast — the fact scan never shuffles for them.
- The as-of join is implemented as union + one window pass (sort within
  user partitions), NOT a per-row correlated lookup: one shuffle on
  user_id, linear in |events|, skew handled by AQE. A correlated subquery
  would be quadratic per user.
- The range join broadcasts the (tiny) band table through a nested-loop
  join — the correct physical plan when one side is O(10) rows; at scale
  the alternative (bucketize value into a band key, then equi-join) is a
  one-line change noted inline.
- Window queries shuffle once on their partition key and sort within
  partitions — Spark's WindowExec is spill-aware.

Determinism: decimal-cast sums, round(x, n) outputs, total ordering with
explicit tie-breaks everywhere (SURVEY.md §7.4).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from nano_vectordb_rs_spark.operators.events import _events
from nano_vectordb_rs_spark.operators.relational import DEC, _as_dbl, _dsum
from nano_vectordb_rs_spark.sources.tables import load_table


# --- Q6-style revenue-change forecast (pure scan+filter+agg) -----------------

Q6_FROM, Q6_TO = "1997-01-01 00:00:00", "1998-01-01 00:00:00"


def tpch_q6_forecast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Single-row global aggregate under a tight multi-column predicate.

    The whole WHERE clause is plain-column comparisons, so it reaches the
    Parquet scan as PushedFilters + row-group pruning — at 100 TB this query
    reads only the matching row groups and shuffles nothing (partial sums →
    one final row)."""
    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit(Q6_FROM).cast("timestamp_ntz"))
        & (F.col("l_shipdate") < F.lit(Q6_TO).cast("timestamp_ntz"))
        & (F.col("l_discount") >= 0.05)
        & (F.col("l_discount") <= 0.07)
        & (F.col("l_quantity") < 24)
    )
    return li.agg(
        F.round(_as_dbl(_dsum("l_extendedprice * l_discount")), 4).alias("revenue"),
        F.count("*").alias("n_items"),
    )


TPCH_Q6_SQL = f"""
SELECT round(CAST(sum(CAST(l_extendedprice * l_discount AS DECIMAL(28,10))) AS DOUBLE), 4) AS revenue,
       count(*) AS n_items
FROM lineitem
WHERE l_shipdate >= TIMESTAMP '{Q6_FROM}' AND l_shipdate < TIMESTAMP '{Q6_TO}'
  AND l_discount BETWEEN 0.05 AND 0.07
  AND l_quantity < 24
"""


# --- Q10-style returned-item report ------------------------------------------

Q10_FROM, Q10_TO = "1996-01-01 00:00:00", "1997-01-01 00:00:00"


def tpch_q10_returned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 customers by revenue lost to returns: fact⋈fact on orderkey
    (the one unavoidable shuffle), then broadcast customer/nation."""
    li = load_table(spark, sf_dir, "lineitem").filter(F.col("l_returnflag") == "R")
    orders = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit(Q10_FROM).cast("timestamp_ntz"))
        & (F.col("o_orderdate") < F.lit(Q10_TO).cast("timestamp_ntz"))
    )
    cust = load_table(spark, sf_dir, "customer")
    nation = load_table(spark, sf_dir, "nation")
    rev = (
        li.join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .groupBy("o_custkey")
        .agg(F.round(_as_dbl(_dsum("l_extendedprice * (1 - l_discount)")), 4).alias("revenue"))
    )
    return (
        rev.join(F.broadcast(cust), rev.o_custkey == cust.c_custkey)
        .join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
        .select("c_custkey", "c_name", "n_name", "revenue")
        .orderBy(F.col("revenue").desc(), F.col("c_custkey").asc())
        .limit(20)
    )


TPCH_Q10_SQL = f"""
SELECT c_custkey, c_name, n_name, revenue
FROM (
  SELECT o_custkey,
         round(CAST(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(28,10))) AS DOUBLE), 4) AS revenue
  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
  WHERE l_returnflag = 'R'
    AND o_orderdate >= TIMESTAMP '{Q10_FROM}' AND o_orderdate < TIMESTAMP '{Q10_TO}'
  GROUP BY o_custkey) t
JOIN customer ON o_custkey = c_custkey
JOIN nation ON c_nationkey = n_nationkey
ORDER BY revenue DESC, c_custkey ASC
LIMIT 20
"""


# --- Q12-style late-shipment priority split (conditional aggregation) --------

Q12_LATE_DAYS = 60


def tpch_q12_latecount(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per returnflag: how many late-shipped lineitems belong to critical
    (1-URGENT/2-HIGH) vs other orders — TPC-H Q12's CASE-inside-SUM shape
    adapted to the fixture schema (no l_shipmode column)."""
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    late = li.join(orders, li.l_orderkey == orders.o_orderkey).filter(
        F.expr(f"l_shipdate > o_orderdate + INTERVAL {Q12_LATE_DAYS} DAYS")
    )
    crit = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        late.groupBy("l_returnflag")
        .agg(
            F.sum(F.when(crit, 1).otherwise(0)).alias("high_line_count"),
            F.sum(F.when(crit, 0).otherwise(1)).alias("low_line_count"),
        )
        .orderBy("l_returnflag")
    )


TPCH_Q12_SQL = f"""
SELECT l_returnflag,
       CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH') THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
       CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH') THEN 0 ELSE 1 END) AS BIGINT) AS low_line_count
FROM lineitem JOIN orders ON l_orderkey = o_orderkey
WHERE l_shipdate > o_orderdate + INTERVAL {Q12_LATE_DAYS} DAY
GROUP BY l_returnflag
ORDER BY l_returnflag
"""


# --- Q14-style promo revenue share -------------------------------------------

Q14_FROM, Q14_TO = "1997-01-01 00:00:00", "1997-07-01 00:00:00"


def tpch_q14_promo(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Share of revenue from PROMO parts: broadcast part join + two
    conditional decimal sums → one output row."""
    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit(Q14_FROM).cast("timestamp_ntz"))
        & (F.col("l_shipdate") < F.lit(Q14_TO).cast("timestamp_ntz"))
    )
    part = load_table(spark, sf_dir, "part")
    joined = li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
    disc = "l_extendedprice * (1 - l_discount)"
    promo = F.sum(
        F.when(F.col("p_type") == "PROMO", F.expr(disc).cast(DEC)).otherwise(F.lit(0).cast(DEC))
    )
    total = _dsum(disc)
    return joined.agg(
        F.round(_as_dbl(promo) * 100.0 / _as_dbl(total), 6).alias("promo_revenue_pct"),
        F.round(_as_dbl(total), 4).alias("total_revenue"),
    )


TPCH_Q14_SQL = f"""
SELECT round(CAST(sum(CASE WHEN p_type = 'PROMO'
                     THEN CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(28,10))
                     ELSE CAST(0 AS DECIMAL(28,10)) END) AS DOUBLE) * 100.0
             / CAST(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(28,10))) AS DOUBLE), 6) AS promo_revenue_pct,
       round(CAST(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(28,10))) AS DOUBLE), 4) AS total_revenue
FROM lineitem JOIN part ON l_partkey = p_partkey
WHERE l_shipdate >= TIMESTAMP '{Q14_FROM}' AND l_shipdate < TIMESTAMP '{Q14_TO}'
"""


# --- Q18-style large-volume orders -------------------------------------------

Q18_QTY = 250


def tpch_q18_big_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Orders whose total quantity exceeds a threshold (HAVING over a fact
    aggregate), rejoined to orders+customer. The aggregate runs FIRST, so
    the join input shrinks from |lineitem| to the few qualifying orders."""
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    big = (
        li.groupBy("l_orderkey")
        .agg(F.round(_as_dbl(_dsum("l_quantity")), 4).alias("total_qty"))
        .filter(F.col("total_qty") > Q18_QTY)
    )
    return (
        big.join(orders, big.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .select("c_name", "o_orderkey", "o_orderdate", "o_totalprice", "total_qty")
        .orderBy(F.col("total_qty").desc(), F.col("o_orderkey").asc())
        .limit(50)
    )


TPCH_Q18_SQL = f"""
SELECT c_name, o_orderkey, o_orderdate, o_totalprice, total_qty
FROM (
  SELECT l_orderkey,
         round(CAST(sum(CAST(l_quantity AS DECIMAL(28,10))) AS DOUBLE), 4) AS total_qty
  FROM lineitem GROUP BY l_orderkey
  HAVING round(CAST(sum(CAST(l_quantity AS DECIMAL(28,10))) AS DOUBLE), 4) > {Q18_QTY}) t
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
ORDER BY total_qty DESC, o_orderkey ASC
LIMIT 50
"""


# --- Q7-style cross-nation trade flow ----------------------------------------

Q7_NATIONS = ("NATION_1", "NATION_2")


def tpch_q7_nation_trade(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Revenue flowing between two nations (supplier nation ≠ customer
    nation), by ship year — the two-dimension-role join: nation joins the
    fact twice, once through supplier and once through customer/orders.
    Both dimension chains broadcast; lineitem⋈orders is the one shuffle."""
    n1, n2 = Q7_NATIONS
    nation = load_table(spark, sf_dir, "nation")
    supp = load_table(spark, sf_dir, "supplier").join(
        F.broadcast(nation), F.col("s_nationkey") == nation.n_nationkey
    ).select("s_suppkey", F.col("n_name").alias("supp_nation"))
    cust = load_table(spark, sf_dir, "customer").join(
        F.broadcast(load_table(spark, sf_dir, "nation")),
        F.col("c_nationkey") == F.col("n_nationkey"),
    ).select("c_custkey", F.col("n_name").alias("cust_nation"))
    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    joined = (
        li.join(F.broadcast(supp), li.l_suppkey == supp.s_suppkey)
        .join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .filter(
            ((F.col("supp_nation") == n1) & (F.col("cust_nation") == n2))
            | ((F.col("supp_nation") == n2) & (F.col("cust_nation") == n1))
        )
    )
    return (
        joined.groupBy("supp_nation", "cust_nation", F.year("l_shipdate").alias("l_year"))
        .agg(F.round(_as_dbl(_dsum("l_extendedprice * (1 - l_discount)")), 4).alias("revenue"))
        .orderBy("supp_nation", "cust_nation", "l_year")
    )


TPCH_Q7_SQL = f"""
SELECT sn.n_name AS supp_nation, cn.n_name AS cust_nation,
       year(l_shipdate) AS l_year,
       round(CAST(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(28,10))) AS DOUBLE), 4) AS revenue
FROM lineitem
JOIN supplier ON l_suppkey = s_suppkey
JOIN nation sn ON s_nationkey = sn.n_nationkey
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN nation cn ON c_nationkey = cn.n_nationkey
WHERE (sn.n_name = '{Q7_NATIONS[0]}' AND cn.n_name = '{Q7_NATIONS[1]}')
   OR (sn.n_name = '{Q7_NATIONS[1]}' AND cn.n_name = '{Q7_NATIONS[0]}')
GROUP BY 1, 2, 3
ORDER BY 1, 2, 3
"""


# --- Q16-style supplier diversity per brand -----------------------------------


def part_supplier_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct suppliers per part brand, derived from lineitem (the fixture
    has no partsupp table): broadcast part into the fact, then a two-level
    distinct aggregation. The first groupBy dedups (brand, suppkey) pairs —
    the shuffle carries pairs, not lineitems."""
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part")
    pairs = (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .select("p_brand", "l_suppkey")
        .distinct()
    )
    return (
        pairs.groupBy("p_brand")
        .agg(F.count("*").alias("n_suppliers"))
        .orderBy(F.col("n_suppliers").desc(), F.col("p_brand").asc())
    )


PART_SUPPLIER_DIVERSITY_SQL = """
SELECT p_brand, count(*) AS n_suppliers
FROM (
  SELECT DISTINCT p_brand, l_suppkey
  FROM lineitem JOIN part ON l_partkey = p_partkey)
GROUP BY p_brand
ORDER BY n_suppliers DESC, p_brand ASC
"""


# --- INTERSECT / EXCEPT over customer sets ------------------------------------


def customer_set_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Set-operation surface: customers with returned items INTERSECT
    big spenders, and big spenders EXCEPT returners — both counted.

    Plan shape (r15): INTERSECT and EXCEPT each lower to a join that
    re-derives BOTH distinct key sets, so the old two-branch union
    evaluated the lineitem⋈orders returner subtree and the spender
    aggregate twice each (4 corpus-sized derivations). Both segment
    counts are functions of one join of the two key sets. r16 (ADVICE
    r15): that join is a LEFT join from spenders, not a full outer —
    returner-only rows (is_sp null) were consumed by NEITHER count, yet
    the full outer both shipped them and forced a SortMergeJoin
    (broadcast is illegal for full outer). The left join keeps both
    counts bit-identical (spender rows split on returner-membership;
    returners is distinct, so no fan-out) and lets the planner/AQE
    broadcast the narrow returner key set at runtime — no explicit hint,
    because at corpus scale the returner set grows with the customer
    count and must stay shuffleable (guide §3.1). One derivation each,
    one join, one aggregate; the two report rows are inline_outer'd from
    the single aggregate row, so no subtree is consumed twice (guide
    §2.4). The key sets are distinct by construction (distinct() /
    groupBy), so INTERSECT ≡ inner match and EXCEPT ≡ anti match on the
    joined frame."""
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    returners = (
        li.filter(F.col("l_returnflag") == "R")
        .join(orders, li.l_orderkey == orders.o_orderkey)
        .select("o_custkey")
        .distinct()
        .withColumn("is_ret", F.lit(1))
    )
    spenders = (
        orders.groupBy("o_custkey")
        .agg(F.sum(F.col("o_totalprice").cast(DEC)).alias("spend"))
        .filter(F.col("spend") > 1_000_000)
        .select("o_custkey")
    )
    counts = (
        spenders.join(returners, "o_custkey", "left")
        .agg(
            F.count(F.when(F.col("is_ret").isNotNull(), 1)).alias("n_both"),
            F.count(F.when(F.col("is_ret").isNull(), 1)).alias("n_only"),
        )
    )
    return (
        counts.select(
            F.inline_outer(
                F.array(
                    F.struct(
                        F.lit("big_spender_no_returns").alias("segment"),
                        F.col("n_only").alias("n"),
                    ),
                    F.struct(
                        F.lit("returner_and_big_spender").alias("segment"),
                        F.col("n_both").alias("n"),
                    ),
                )
            )
        )
        .orderBy("segment")
    )


CUSTOMER_SET_OPS_SQL = """
WITH returners AS (
  SELECT DISTINCT o_custkey
  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
  WHERE l_returnflag = 'R'),
spenders AS (
  SELECT o_custkey FROM orders
  GROUP BY o_custkey
  HAVING sum(CAST(o_totalprice AS DECIMAL(28,10))) > 1000000)
SELECT 'big_spender_no_returns' AS segment, count(*) AS n
FROM (SELECT o_custkey FROM spenders EXCEPT SELECT o_custkey FROM returners)
UNION ALL
SELECT 'returner_and_big_spender' AS segment, count(*) AS n
FROM (SELECT o_custkey FROM spenders INTERSECT SELECT o_custkey FROM returners)
ORDER BY segment
"""


# --- supplier rank per nation (window rank) ----------------------------------

SUPP_TOP_N = 3


def supplier_nation_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-N suppliers by account balance per nation via row_number() —
    the grouped-top-k window shape (same physical pattern as the KNN join's
    per-query rank). One shuffle on nationkey; WindowExec sorts within."""
    supp = load_table(spark, sf_dir, "supplier")
    nation = load_table(spark, sf_dir, "nation")
    w = Window.partitionBy("s_nationkey").orderBy(
        F.col("s_acctbal").desc(), F.col("s_suppkey").asc()
    )
    return (
        supp.withColumn("rank_in_nation", F.row_number().over(w))
        .filter(F.col("rank_in_nation") <= SUPP_TOP_N)
        .join(F.broadcast(nation), F.col("s_nationkey") == nation.n_nationkey)
        .select("n_name", "rank_in_nation", "s_suppkey", "s_name",
                F.round("s_acctbal", 2).alias("acctbal"))
        .orderBy("n_name", "rank_in_nation")
    )


SUPPLIER_NATION_RANK_SQL = f"""
SELECT n_name, rank_in_nation, s_suppkey, s_name, round(s_acctbal, 2) AS acctbal
FROM (
  SELECT s_suppkey, s_name, s_nationkey, s_acctbal,
         row_number() OVER (PARTITION BY s_nationkey
                            ORDER BY s_acctbal DESC, s_suppkey ASC) AS rank_in_nation
  FROM supplier) r
JOIN nation ON s_nationkey = n_nationkey
WHERE rank_in_nation <= {SUPP_TOP_N}
ORDER BY n_name, rank_in_nation
"""


# --- customers without orders (anti join / EXCEPT) ----------------------------


def customers_without_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-nation split of customers who have vs have never ordered: LEFT
    join against the DISTINCT buyer set (the delete()/anti physical shape,
    O5, but kept as a flag so nations with zero idle customers still
    report). At scale the distinct o_custkey aggregate is tiny vs orders
    and broadcasts."""
    cust = load_table(spark, sf_dir, "customer")
    nation = load_table(spark, sf_dir, "nation")
    buyers = load_table(spark, sf_dir, "orders").select("o_custkey").distinct()
    flagged = cust.join(
        F.broadcast(buyers), cust.c_custkey == buyers.o_custkey, "left"
    ).withColumn("never_ordered", F.col("o_custkey").isNull())
    return (
        flagged.join(F.broadcast(nation), F.col("c_nationkey") == nation.n_nationkey)
        .groupBy("n_name")
        .agg(
            F.count("*").alias("n_customers"),
            F.sum(F.when(F.col("never_ordered"), 1).otherwise(0)).alias("n_never_ordered"),
            F.round(
                _as_dbl(F.sum(F.when(F.col("never_ordered"), F.col("c_acctbal").cast(DEC))
                              .otherwise(F.lit(0).cast(DEC)))),
                4,
            ).alias("idle_acctbal"),
        )
        .orderBy("n_name")
    )


CUSTOMERS_WITHOUT_ORDERS_SQL = """
SELECT n_name, count(*) AS n_customers,
       CAST(sum(CASE WHEN o_custkey IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_never_ordered,
       round(CAST(sum(CASE WHEN o_custkey IS NULL THEN CAST(c_acctbal AS DECIMAL(28,10))
                      ELSE CAST(0 AS DECIMAL(28,10)) END) AS DOUBLE), 4) AS idle_acctbal
FROM customer
LEFT JOIN (SELECT DISTINCT o_custkey FROM orders) b ON c_custkey = b.o_custkey
JOIN nation ON c_nationkey = n_nationkey
GROUP BY n_name
ORDER BY n_name
"""


# --- per-customer running spend (cumulative window) ---------------------------

CUM_CUST_LIMIT = 50


def orders_cumulative(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Running total + previous-order price per customer: cumulative-frame
    window aggregation. The decimal cast makes the running sum exact, so
    the frame-ordered accumulation matches the oracle bit-for-bit.
    Restricted to a deterministic customer slice to keep the hash small."""
    orders = load_table(spark, sf_dir, "orders").filter(F.col("o_custkey") < CUM_CUST_LIMIT)
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    return orders.select(
        "o_custkey",
        "o_orderkey",
        F.round(
            _as_dbl(F.sum(F.col("o_totalprice").cast(DEC)).over(
                w.rowsBetween(Window.unboundedPreceding, Window.currentRow))),
            4,
        ).alias("spend_to_date"),
        F.round(F.lag("o_totalprice", 1).over(w), 2).alias("prev_price"),
        F.row_number().over(w).alias("order_seq"),
    ).orderBy("o_custkey", "order_seq")


ORDERS_CUMULATIVE_SQL = f"""
SELECT o_custkey, o_orderkey,
       round(CAST(sum(CAST(o_totalprice AS DECIMAL(28,10)))
             OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE), 4) AS spend_to_date,
       round(lag(o_totalprice, 1) OVER (PARTITION BY o_custkey
                                        ORDER BY o_orderdate, o_orderkey), 2) AS prev_price,
       row_number() OVER (PARTITION BY o_custkey
                          ORDER BY o_orderdate, o_orderkey) AS order_seq
FROM orders
WHERE o_custkey < {CUM_CUST_LIMIT}
ORDER BY o_custkey, order_seq
"""


# --- as-of join: purchase → most recent prior click ---------------------------

ASOF_USER_LIMIT = 200


def events_asof_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """AS-OF join (absent from both the reference and core Spark SQL):
    attach to every purchase the most recent click at-or-before it by the
    same user.

    Implemented the scalable way: union both sides tagged, ONE window pass
    per user ordered by time, `last(click_ts, ignorenulls)` carries the
    latest click forward — O(n log n) in events with a single shuffle on
    user_id. The naive correlated-subquery formulation (what the oracle
    runs) is quadratic per user and exists only as the checker.

    Tie rule: a click with ts equal to the purchase qualifies (<=); within
    one timestamp clicks order before purchases via the kind tag."""
    ev = _events(spark, sf_dir).filter(F.col("user_id") < ASOF_USER_LIMIT)
    clicks = ev.filter(F.col("event_type") == "click").select(
        "user_id", "ts_us", F.lit(0).alias("kind"),
        F.col("ts_us").alias("click_ts_us"), F.lit(None).cast("bigint").alias("event_id"),
        F.lit(None).cast("double").alias("value"),
    )
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "user_id", "ts_us", F.lit(1).alias("kind"),
        F.lit(None).cast("bigint").alias("click_ts_us"), "event_id", "value",
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts_us", "kind")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        clicks.unionByName(purchases)
        .withColumn("last_click_us", F.last("click_ts_us", ignorenulls=True).over(w))
        .filter(F.col("kind") == 1)
        .select(
            "event_id", "user_id",
            F.col("ts_us").alias("purchase_ts_us"),
            "last_click_us",
            F.round("value", 4).alias("purchase_value"),
        )
        .orderBy("event_id")
    )


EVENTS_ASOF_SQL = f"""
SELECT e.event_id, e.user_id,
       epoch_us(e.ts) AS purchase_ts_us,
       (SELECT max(epoch_us(c.ts)) FROM events c
        WHERE c.user_id = e.user_id AND c.event_type = 'click'
          AND c.ts <= e.ts) AS last_click_us,
       round(e.value, 4) AS purchase_value
FROM events e
WHERE e.event_type = 'purchase' AND e.user_id < {ASOF_USER_LIMIT}
ORDER BY e.event_id
"""


# --- range join: event values into bands --------------------------------------

VALUE_BANDS = [
    ("micro", 0.0, 10.0),
    ("small", 10.0, 50.0),
    ("medium", 50.0, 150.0),
    ("large", 150.0, 300.0),
    ("jumbo", 300.0, 1000.0),
]


def events_value_bands(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Range (interval) join of events against a tiny band table:
    value ∈ [lo, hi). Physical plan: BroadcastNestedLoopJoin — correct for
    an O(10)-row build side. If the band table ever grew, swap to a
    bucketized equi-join (assign floor(value/width) keys to both sides)."""
    ev = _events(spark, sf_dir)
    bands = spark.createDataFrame(VALUE_BANDS, "band string, lo double, hi double")
    return (
        ev.join(
            F.broadcast(bands),
            (F.col("value") >= F.col("lo")) & (F.col("value") < F.col("hi")),
        )
        .groupBy("band")
        .agg(
            F.count("*").alias("n_events"),
            F.round(F.sum(F.col("value").cast(DEC)).cast("double"), 4).alias("sum_value"),
            F.countDistinct("user_id").alias("n_users"),
        )
        .orderBy("band")
    )


# --- skew-salted join ---------------------------------------------------------

N_SALTS = 8


def skew_salted_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hot-key-safe fact⋈dim join via explicit salting: the fact side takes a
    deterministic salt (pmod of a uniform column), the dim side is exploded
    ×N_SALTS, and the join key becomes (user_id, salt) — one hot user now
    lands on N_SALTS reducers instead of one.

    This is the manual fallback for when the dim side is too big to
    broadcast AND AQE's skew-join splitting can't help (e.g. a skewed
    aggregation feeding a co-partitioned join). Results are identical to the
    unsalted join — the oracle runs the plain formulation. Enriches every
    event with its user's activity profile, then aggregates per type."""
    ev = _events(spark, sf_dir)
    user_stats = ev.groupBy("user_id").agg(
        F.count("*").alias("user_events"),
        F.sum(F.col("value").cast(DEC)).alias("user_total_dec"),
    )
    dim = user_stats.withColumn(
        "salt", F.explode(F.expr(f"sequence(0, {N_SALTS - 1})"))
    )
    fact = ev.withColumn("salt", F.pmod(F.col("event_id"), F.lit(N_SALTS)).cast("int"))
    joined = fact.join(dim, ["user_id", "salt"])
    return (
        joined.groupBy("event_type")
        .agg(
            F.count("*").alias("n_events"),
            F.sum("user_events").alias("sum_user_events"),
            F.round(F.sum("user_total_dec").cast("double"), 4).alias("sum_user_totals"),
        )
        .orderBy("event_type")
    )


SKEW_SALTED_JOIN_SQL = """
SELECT event_type, count(*) AS n_events,
       CAST(sum(user_events) AS BIGINT) AS sum_user_events,
       round(CAST(sum(user_total_dec) AS DOUBLE), 4) AS sum_user_totals
FROM events e
JOIN (
  SELECT user_id, count(*) AS user_events,
         sum(CAST(value AS DECIMAL(28,10))) AS user_total_dec
  FROM events GROUP BY user_id) u
ON e.user_id = u.user_id
GROUP BY event_type
ORDER BY event_type
"""


# --- exact quantiles (percentile aggregate) -----------------------------------

QUANTILES = (0.5, 0.9, 0.99)


def order_value_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact interpolated percentiles of order value per status — Spark's
    ``percentile`` and DuckDB's ``quantile_cont`` share the interpolation
    definition, so values match bit-for-bit. Exact percentile sorts within
    groups; at 100 TB swap to ``approx_percentile`` (t-digest, mergeable,
    one pass) — kept exact here because the oracle must hash-match."""
    orders = load_table(spark, sf_dir, "orders")
    return (
        orders.groupBy("o_orderstatus")
        .agg(
            F.count("*").alias("n_orders"),
            *[
                F.round(F.expr(f"percentile(o_totalprice, {q})"), 4).alias(
                    f"p{int(q * 100)}"
                )
                for q in QUANTILES
            ],
        )
        .orderBy("o_orderstatus")
    )


ORDER_VALUE_QUANTILES_SQL = f"""
SELECT o_orderstatus, count(*) AS n_orders,
       {", ".join(f"round(quantile_cont(o_totalprice, {q}), 4) AS p{int(q * 100)}" for q in QUANTILES)}
FROM orders
GROUP BY o_orderstatus
ORDER BY o_orderstatus
"""


_BANDS_VALUES = ", ".join(f"('{b}', {lo}, {hi})" for b, lo, hi in VALUE_BANDS)
EVENTS_VALUE_BANDS_SQL = f"""
SELECT band, count(*) AS n_events,
       round(CAST(sum(CAST(value AS DECIMAL(28,10))) AS DOUBLE), 4) AS sum_value,
       count(DISTINCT user_id) AS n_users
FROM events
JOIN (VALUES {_BANDS_VALUES}) AS bands(band, lo, hi)
  ON value >= lo AND value < hi
GROUP BY band
ORDER BY band
"""


TOP_SKEW_KEYS = 10


def join_skew_advisor(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shuffle-plan advisor for the lineitem⋈supplier join key: per-key row
    counts, the share of the fact table each hot key owns, its factor over
    the average key, and the salt fan-out that would level it — the report
    that decides BEFORE a 100-TB join whether to rely on AQE skew
    splitting, pre-salt (skew_salted_join above), or broadcast.

    Plan shape: one partial+final count aggregate on the join key (the
    map-side combine means each executor ships one row per key it saw,
    never the fact rows), then the corpus totals come from a SECOND
    aggregate over the per-key counts and are broadcast back as a single
    row — deliberately NOT a global window over the key-count frame, which
    would funnel every distinct key through one task at 100 TB. Top-N by
    count is a TakeOrderedAndProject over the key counts."""
    li = load_table(spark, sf_dir, "lineitem")
    counts = li.groupBy("l_suppkey").agg(F.count("*").alias("n_rows"))
    totals = counts.agg(
        F.sum("n_rows").alias("total_rows"), F.count("*").alias("n_keys")
    )
    over_avg = F.col("n_rows") * F.col("n_keys") / F.col("total_rows")
    return (
        counts.join(F.broadcast(totals))
        .select(
            "l_suppkey",
            "n_rows",
            F.round(F.col("n_rows") * 100.0 / F.col("total_rows"), 4).alias(
                "share_pct"
            ),
            F.round(over_avg, 4).alias("over_avg"),
            F.greatest(F.lit(1), F.ceil(over_avg)).cast("int").alias("salt_parts"),
        )
        .orderBy(F.col("n_rows").desc(), F.col("l_suppkey").asc())
        .limit(TOP_SKEW_KEYS)
    )


JOIN_SKEW_ADVISOR_SQL = f"""
WITH counts AS (
  SELECT l_suppkey, count(*) AS n_rows FROM lineitem GROUP BY 1),
totals AS (
  SELECT CAST(sum(n_rows) AS BIGINT) AS total_rows, count(*) AS n_keys
  FROM counts)
SELECT l_suppkey, n_rows,
       round(n_rows * 100.0 / total_rows, 4) AS share_pct,
       round(n_rows * n_keys / total_rows, 4) AS over_avg,
       CAST(greatest(1, ceil(n_rows * n_keys / total_rows)) AS INTEGER)
         AS salt_parts
FROM counts, totals
ORDER BY n_rows DESC, l_suppkey ASC
LIMIT {TOP_SKEW_KEYS}
"""
