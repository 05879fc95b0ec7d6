"""Third wave of TPC-H-shaped relational queries — q4/q9/q11/q16/q20
adaptations plus (r13) q2 itself, completing the 22-query shape catalogue.
q2's minimum-cost-supplier core is inseparable from the partsupp table the
fixture lacks, so it runs over a DETERMINISTIC SYNTHETIC partsupp built
from key arithmetic alone — the same integer expressions on the Spark side
and in the DuckDB oracle (see `_synthetic_partsupp`).

Shapes covered (none of which waves 1-2 exercise):
- q4:  EXISTS subquery → aggregated semi join
- q9:  profit decomposition over a 5-way star join, grouped by nation×year
- q11: fraction-of-TOTAL HAVING (global scalar broadcast into the filter)
- q16: NOT IN exclusion subquery + multi-key COUNT DISTINCT
- q20: correlated 50%-of-total threshold → chained semi joins

Adaptations to the fixture schema (TESTDATA.md; no partsupp,
l_commitdate/l_receiptdate, s_comment): lateness := l_shipdate more than
30 days after o_orderdate; supply cost := 60% of p_retailprice; the q16
"complaints" supplier denylist := s_suppkey % 7 = 0 (deterministic
stand-in for the comment scan); q20's availqty threshold := half of a
part's total shipped quantity.

Scale design (100 TB):
- q4: the EXISTS is ONE aggregated semi join (lineitem pre-filtered to late
  rows, distinct orderkeys) — never a correlated per-order rescan.
- q9: part/supplier/nation are broadcast dims; the only big shuffle is
  lineitem⋈orders on orderkey; the group-by output is nations×years rows.
- q11: the national total is a 1-row aggregate broadcast into HAVING —
  two passes over a pre-aggregated per-part frame, not over lineitem.
- q16: the denylist is a broadcast anti join; count-distinct shuffles on
  (brand, size-bucket, suppkey) then contracts — the two-level exact
  distinct pattern.
- q20: ONE lineitem scan → per-(part,supplier) aggregate → the per-part
  total as a partkey WINDOW over that contracted frame (no self-join, no
  second scan); supplier resolution is broadcast.

Determinism: DECIMAL(28,10) partial sums, round(…, 4) on every double
output (except q2's supplycost, which is exact by construction — integer
tenths divided once by 10.0), explicit ORDER BY with tie-breaks
(SURVEY.md §7.4).

Reference parity note: the reference engine (/root/reference/src/lib.rs)
has no relational surface at all — this whole module is north-star
extension surface per SURVEY.md §2.3.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from nano_vectordb_rs_spark.operators.relational import DEC, _as_dbl, _dsum
from nano_vectordb_rs_spark.sources.tables import load_table


# --- q4: order-priority checking (EXISTS) ------------------------------------

Q4_START = "1996-01-01"
Q4_END = "1996-04-01"
LATE_DAYS = 30


def tpch_q4_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Orders in one quarter with at least one LATE lineitem (shipped >30
    days after the order date), counted per priority — TPC-H q4's EXISTS.

    The correlated EXISTS runs in ONE pass (r15): lateness needs
    o_orderdate, so the filter runs post-join on the orderkey-shuffled
    pair — and the order's priority rides through that same join, so the
    qualifying orders contract to distinct (priority, orderkey) and count
    per priority directly. The old frame semi-joined the distinct late
    orderkeys back against a SECOND orders scan — a join-back that only
    re-fetched the priority the first join already had (guide §2.4/§3;
    the order_priority_counts rewrite, same shape)."""
    orders = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit(Q4_START).cast("timestamp_ntz"))
        & (F.col("o_orderdate") < F.lit(Q4_END).cast("timestamp_ntz"))
    )
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_shipdate")
    return (
        orders.join(li, orders.o_orderkey == li.l_orderkey)
        .filter(
            F.col("l_shipdate")
            > F.col("o_orderdate") + F.expr(f"INTERVAL {LATE_DAYS} DAYS")
        )
        .select("o_orderpriority", "o_orderkey")
        .distinct()
        .groupBy("o_orderpriority")
        .agg(F.count("*").alias("order_count"))
        .orderBy("o_orderpriority")
    )


TPCH_Q4_SQL = f"""
SELECT o_orderpriority, count(*) AS order_count
FROM orders o
WHERE o_orderdate >= TIMESTAMP '{Q4_START}'
  AND o_orderdate < TIMESTAMP '{Q4_END}'
  AND EXISTS (
    SELECT 1 FROM lineitem l
    WHERE l.l_orderkey = o.o_orderkey
      AND l.l_shipdate > o.o_orderdate + INTERVAL {LATE_DAYS} DAY)
GROUP BY o_orderpriority
ORDER BY o_orderpriority
"""


# --- q9: product-type profit by nation and year ------------------------------

Q9_PART_LIKE = "widget"
SUPPLY_COST_FRAC = 0.6


def tpch_q9_profit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Profit per (supplier nation, order year) for one product family —
    TPC-H q9's star join. Supply cost adapts to 60% of p_retailprice
    (fixture has no partsupp). part/supplier/nation broadcast onto the
    lineitem scan; lineitem⋈orders shuffles once on orderkey; output is
    nations × years."""
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part").filter(
        F.col("p_name").contains(Q9_PART_LIKE)
    )
    sup = load_table(spark, sf_dir, "supplier")
    nat = load_table(spark, sf_dir, "nation")
    orders = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_orderdate")
    joined = (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .join(F.broadcast(sup), li.l_suppkey == sup.s_suppkey)
        .join(F.broadcast(nat), sup.s_nationkey == nat.n_nationkey)
        .join(orders, li.l_orderkey == orders.o_orderkey)
    )
    profit = (
        f"l_extendedprice * (1 - l_discount) - "
        f"p_retailprice * {SUPPLY_COST_FRAC} * l_quantity"
    )
    return (
        joined.select(
            F.col("n_name").alias("nation"),
            F.year("o_orderdate").alias("o_year"),
            F.expr(profit).cast(DEC).alias("amount"),
        )
        .groupBy("nation", "o_year")
        .agg(F.round(_as_dbl(F.sum("amount")), 4).alias("sum_profit"))
        .orderBy(F.col("nation").asc(), F.col("o_year").desc())
    )


TPCH_Q9_SQL = f"""
SELECT n_name AS nation,
       CAST(year(o_orderdate) AS BIGINT) AS o_year,
       round(CAST(sum(CAST(l_extendedprice * (1 - l_discount)
             - p_retailprice * {SUPPLY_COST_FRAC} * l_quantity
             AS DECIMAL(28,10))) AS DOUBLE), 4) AS sum_profit
FROM lineitem, part, supplier, nation, orders
WHERE l_partkey = p_partkey
  AND l_suppkey = s_suppkey
  AND s_nationkey = n_nationkey
  AND l_orderkey = o_orderkey
  AND p_name LIKE '%{Q9_PART_LIKE}%'
GROUP BY 1, 2
ORDER BY nation ASC, o_year DESC
"""


# --- q11: important stock (fraction-of-total HAVING) -------------------------

Q11_MEAN_MULT = 1.5


def tpch_q11_important_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Parts whose shipped value exceeds a multiple of the GLOBAL mean part
    value — TPC-H q11's fraction-of-total HAVING (value :=
    l_extendedprice * l_quantity over all lineitems, the fixture's stand-in
    for ps_supplycost * ps_availqty). q11 proper scales its fraction by
    1/SF so the qualifying set stays non-trivial as data grows; the
    mean-multiple form (> {mult} × total/n_parts) is the same shape with
    that scale-invariance built in.

    Plan: one shuffle aggregates per-part value; the global total+count is
    a 1-row contraction of THAT frame, cross-joined (1-row broadcast) into
    the HAVING filter. r15: the per-part frame is checkpointed — without
    it the "contraction of THAT frame" claim was only logical: physically
    both consumers re-scanned lineitem and re-ran the aggregate (2 scans /
    2 aggregate exchanges in the before plan, no ReusedExchange; guide
    §2.4). The checkpoint is parts-sized, bounded far below lineitem."""
    li = load_table(spark, sf_dir, "lineitem")
    per_part = li.groupBy("l_partkey").agg(
        _dsum("l_extendedprice * l_quantity").alias("value")
    ).localCheckpoint(eager=False)
    total = per_part.agg(
        F.sum("value").alias("grand_total"), F.count("*").alias("n_parts")
    )
    return (
        per_part.crossJoin(F.broadcast(total))
        .filter(
            F.col("value")
            > F.col("grand_total") * Q11_MEAN_MULT / F.col("n_parts")
        )
        .select(
            F.col("l_partkey").alias("partkey"),
            F.round(_as_dbl(F.col("value")), 4).alias("value"),
        )
        .orderBy(F.col("value").desc(), F.col("partkey").asc())
    )


TPCH_Q11_SQL = f"""
WITH per_part AS (
  SELECT l_partkey AS partkey,
         sum(CAST(l_extendedprice * l_quantity AS DECIMAL(28,10))) AS value
  FROM lineitem GROUP BY 1)
SELECT partkey, round(CAST(value AS DOUBLE), 4) AS value
FROM per_part
WHERE value > (SELECT sum(value) FROM per_part) * {Q11_MEAN_MULT}
                / (SELECT count(*) FROM per_part)
ORDER BY value DESC, partkey ASC
"""


# --- q16: supplier count by part attributes (NOT IN) -------------------------

Q16_SIZE_BUCKET = 10
DENYLIST_MOD = 7


def tpch_q16_supplier_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct suppliers per (brand, size bucket), excluding denylisted
    suppliers — TPC-H q16's NOT IN + COUNT DISTINCT. The supply relation is
    derived from lineitem (fixture has no partsupp); the denylist
    (s_suppkey % {DENYLIST_MOD} = 0, the deterministic stand-in for the
    complaints-comment scan) lands as a broadcast LEFT ANTI join.
    Exact distinct over (brand, bucket, suppkey) contracts in two hash
    aggregations — the scalable exact-distinct shape."""
    li = load_table(spark, sf_dir, "lineitem").select("l_partkey", "l_suppkey")
    part = load_table(spark, sf_dir, "part")
    sup = load_table(spark, sf_dir, "supplier").filter(
        F.col("s_suppkey") % DENYLIST_MOD == 0
    )
    bucket = (F.col("p_size") / Q16_SIZE_BUCKET).cast("bigint") * Q16_SIZE_BUCKET
    return (
        li.join(F.broadcast(sup), li.l_suppkey == sup.s_suppkey, "left_anti")
        .join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .select("p_brand", bucket.alias("size_bucket"), "l_suppkey")
        .distinct()
        .groupBy("p_brand", "size_bucket")
        .agg(F.count("*").alias("supplier_cnt"))
        .orderBy(
            F.col("supplier_cnt").desc(),
            F.col("p_brand").asc(),
            F.col("size_bucket").asc(),
        )
    )


TPCH_Q16_SQL = f"""
SELECT p_brand,
       CAST(p_size // {Q16_SIZE_BUCKET} AS BIGINT) * {Q16_SIZE_BUCKET} AS size_bucket,
       count(DISTINCT l_suppkey) AS supplier_cnt
FROM lineitem, part
WHERE l_partkey = p_partkey
  AND l_suppkey NOT IN (
    SELECT s_suppkey FROM supplier WHERE s_suppkey % {DENYLIST_MOD} = 0)
GROUP BY 1, 2
ORDER BY supplier_cnt DESC, p_brand ASC, size_bucket ASC
"""


# --- q20: potential part promotion (correlated threshold) --------------------

Q20_YEAR_START = "1997-01-01"
Q20_YEAR_END = "1998-01-01"


def tpch_q20_promotion_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Suppliers who shipped MORE than half of a part's total 1997 volume —
    TPC-H q20's correlated availqty > 0.5 * sum(l_quantity) threshold,
    adapted to the lineitem-derived supply relation: a supplier qualifies
    if for SOME part their own shipped quantity exceeds half that part's
    total. The per-part total is a WINDOW over the per-(part,supplier)
    aggregate — one lineitem scan, no self-join, no second scan; the
    window's partkey exchange carries only the contracted (part, supplier)
    frame. Supplier/nation names resolve by broadcast."""
    from pyspark.sql.window import Window

    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit(Q20_YEAR_START).cast("timestamp_ntz"))
        & (F.col("l_shipdate") < F.lit(Q20_YEAR_END).cast("timestamp_ntz"))
    )
    per_ps = li.groupBy("l_partkey", "l_suppkey").agg(
        _dsum("l_quantity").alias("supp_qty")
    )
    part_total = F.sum("supp_qty").over(Window.partitionBy("l_partkey"))
    dominant = (
        per_ps.withColumn("part_qty", part_total)
        .filter(F.col("supp_qty") > F.col("part_qty") * 0.5)
        .select("l_suppkey")
        .distinct()
    )
    sup = load_table(spark, sf_dir, "supplier")
    nat = load_table(spark, sf_dir, "nation")
    return (
        sup.join(F.broadcast(dominant), sup.s_suppkey == dominant.l_suppkey, "left_semi")
        .join(F.broadcast(nat), sup.s_nationkey == nat.n_nationkey)
        .select("s_suppkey", "s_name", F.col("n_name").alias("nation"))
        .orderBy("s_suppkey")
    )


TPCH_Q20_SQL = f"""
WITH per_ps AS (
  SELECT l_partkey, l_suppkey,
         sum(CAST(l_quantity AS DECIMAL(28,10))) AS supp_qty
  FROM lineitem
  WHERE l_shipdate >= TIMESTAMP '{Q20_YEAR_START}'
    AND l_shipdate < TIMESTAMP '{Q20_YEAR_END}'
  GROUP BY 1, 2),
per_part AS (
  SELECT l_partkey, sum(supp_qty) AS part_qty FROM per_ps GROUP BY 1),
dominant AS (
  SELECT DISTINCT l_suppkey
  FROM per_ps JOIN per_part USING (l_partkey)
  WHERE supp_qty > part_qty * 0.5)
SELECT s_suppkey, s_name, n_name AS nation
FROM supplier
JOIN nation ON s_nationkey = n_nationkey
WHERE s_suppkey IN (SELECT l_suppkey FROM dominant)
ORDER BY s_suppkey
"""


# --- q2: minimum-cost supplier (synthetic partsupp) ---------------------------

Q2_REGION = "EUROPE"
Q2_SIZE = 15
Q2_SUPPLIERS_PER_PART = 4
Q2_LIMIT = 100


def _synthetic_partsupp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic synthetic partsupp (r13, VERDICT r12 task 6): the
    fixture ships no partsupp table, so q2's minimum-cost-supplier core —
    the last unexpressed TPC-H shape — was blocked on data, not on the
    engine. Build the relation from key arithmetic alone, with the SAME
    integer expressions on both engines so the DuckDB oracle constructs an
    identical table:

      for each part p, i in 0..3:
        ps_suppkey    = (p_partkey + i*17) % |supplier|   (keys 0-based
                        contiguous per TESTDATA.md; offsets {0,17,34,51}
                        stay distinct mod 10/100/1000, so no duplicate
                        (part, supplier) pairs at any fixture SF — pinned
                        by tests/test_q2_fixture_guard.py against the
                        ACTUAL fixture supplier counts)
        ps_supplycost_tenths = (p_partkey*7 + i*13) % 9000 + 1000

    All inputs are nonnegative integers, so Spark's % matches DuckDB's %.
    r14 (ADVICE r13): the cost is generated and COMPARED as an exact
    integer number of tenths — the correlated MIN and the min-equality
    filter in q2 are integer operations on both engines, so cross-engine
    parity no longer leans on Spark's BigDecimal HALF_UP round() and
    DuckDB's round() agreeing bit-for-bit on doubles; the single /10.0
    happens once in q2's final projection (the same IEEE divide on both
    sides). Scale: the relation derives from one part scan (no shuffle —
    explode of a 4-element literal array); |supplier| is a 1-row aggregate
    broadcast in via crossJoin, never a collected driver constant."""
    part = load_table(spark, sf_dir, "part").select("p_partkey")
    s_count = (
        load_table(spark, sf_dir, "supplier")
        .agg(F.count("*").alias("s_count"))
    )
    return (
        part.crossJoin(F.broadcast(s_count))
        .select(
            "p_partkey",
            F.explode(
                F.array(*[F.lit(i) for i in range(Q2_SUPPLIERS_PER_PART)])
            ).alias("i"),
            "s_count",
        )
        .select(
            F.col("p_partkey").alias("ps_partkey"),
            ((F.col("p_partkey") + F.col("i") * 17) % F.col("s_count")).alias(
                "ps_suppkey"
            ),
            (
                (F.col("p_partkey") * 7 + F.col("i") * 13) % 9000 + 1000
            ).alias("ps_supplycost_tenths"),
        )
    )


def tpch_q2_min_cost_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H q2: for every size-{Q2_SIZE} part, the supplier(s) in one
    region offering it at that part's minimum supply cost — the classic
    correlated-MIN subquery, over the synthetic partsupp above.

    Spark-first plan: the correlated `ps_supplycost = (SELECT min(...))`
    becomes a window MIN over the candidate frame partitioned by part —
    never a per-part rescan and never a self-join. supplier⋈nation⋈region
    is a filtered dim (|suppliers|/5 rows) joined broadcast; part carries
    the p_size filter to the scan; the window's partkey repartition is the
    plan's ONE data shuffle; ORDER BY + LIMIT contracts via
    TakeOrderedAndProject. At 100 TB: partsupp is the big side and it is
    touched once, pre-filtered by the broadcast semi-shaped region join
    before the window shuffle.

    Ties (two region suppliers at the same min cost for one part) keep
    every minimum row, exactly like q2 proper; (s_name, p_partkey) makes
    the ORDER BY total so LIMIT {Q2_LIMIT} is deterministic."""
    ps = _synthetic_partsupp(spark, sf_dir)
    part = load_table(spark, sf_dir, "part").filter(
        F.col("p_size") == Q2_SIZE
    )
    region_sup = (
        load_table(spark, sf_dir, "supplier")
        .join(
            F.broadcast(load_table(spark, sf_dir, "nation")),
            F.col("s_nationkey") == F.col("n_nationkey"),
        )
        .join(
            F.broadcast(
                load_table(spark, sf_dir, "region").filter(
                    F.col("r_name") == Q2_REGION
                )
            ),
            F.col("n_regionkey") == F.col("r_regionkey"),
        )
        .select("s_suppkey", "s_name", "s_acctbal", "n_name")
    )
    from pyspark.sql.window import Window

    cand = (
        ps.join(F.broadcast(part), ps.ps_partkey == part.p_partkey)
        .join(
            F.broadcast(region_sup),
            ps.ps_suppkey == region_sup.s_suppkey,
        )
        .withColumn(
            "min_cost_tenths",
            F.min("ps_supplycost_tenths").over(
                Window.partitionBy("ps_partkey")
            ),
        )
    )
    return (
        # integer == integer: exact on both engines by construction
        cand.filter(
            F.col("ps_supplycost_tenths") == F.col("min_cost_tenths")
        )
        .select(
            "s_acctbal",
            "s_name",
            "n_name",
            "p_partkey",
            "p_type",
            (F.col("ps_supplycost_tenths") / F.lit(10.0)).alias(
                "supplycost"
            ),
        )
        .orderBy(
            F.col("s_acctbal").desc(),
            F.col("n_name").asc(),
            F.col("s_name").asc(),
            F.col("p_partkey").asc(),
        )
        .limit(Q2_LIMIT)
    )


TPCH_Q2_SQL = f"""
WITH ps AS (
  SELECT p_partkey AS ps_partkey,
         (p_partkey + i * 17) % (SELECT count(*) FROM supplier) AS ps_suppkey,
         (p_partkey * 7 + i * 13) % 9000 + 1000 AS ps_supplycost_tenths
  FROM part CROSS JOIN
       (SELECT unnest([{", ".join(map(str, range(Q2_SUPPLIERS_PER_PART)))}])
        AS i)
),
cand AS (
  SELECT p_partkey, p_type, s_acctbal, s_name, n_name, ps_supplycost_tenths,
         min(ps_supplycost_tenths) OVER (PARTITION BY p_partkey)
           AS min_cost_tenths
  FROM part, ps, supplier, nation, region
  WHERE p_partkey = ps_partkey AND s_suppkey = ps_suppkey
    AND s_nationkey = n_nationkey AND n_regionkey = r_regionkey
    AND r_name = '{Q2_REGION}' AND p_size = {Q2_SIZE}
)
SELECT s_acctbal, s_name, n_name, p_partkey, p_type,
       ps_supplycost_tenths / 10.0 AS supplycost
FROM cand WHERE ps_supplycost_tenths = min_cost_tenths
ORDER BY s_acctbal DESC, n_name ASC, s_name ASC, p_partkey ASC
LIMIT {Q2_LIMIT}
"""
