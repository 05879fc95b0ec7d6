"""Event-stream analytics (batch surface; streaming twin in
``nano_vectordb_rs_spark.streaming``).

The fixture's ``events.ts`` physical type has varied across data drops —
parquet TIMESTAMP(NANOS) (which Spark reads as a long of epoch nanos under
``nanosAsLong``) and plain ``timestamp[us]`` (which Spark reads as
TIMESTAMP_NTZ). ``_events`` normalizes either into an integer ``ts_us``
epoch-microseconds column, the representation every operator here works on.
Integer micros is the *right* representation for oracle parity too: all
bucketing/sessionization below is pure integer arithmetic, immune to
timezone and float effects in both engines (DuckDB side uses
``epoch_us(ts)``, which truncates identically).

Scale notes: hour-bucket and per-user aggregations shuffle once on their
group keys; sessionization is a single window over (user_id, time) — the
standard shape AQE handles well even with skewed users.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from nano_vectordb_rs_spark.operators.relational import DEC
from nano_vectordb_rs_spark.sources.tables import load_table

HOUR_US = 3_600_000_000
SESSION_GAP_US = 30 * 60 * 1_000_000  # 30 min


def _events(spark: SparkSession, sf_dir: str) -> DataFrame:
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    df = load_table(spark, sf_dir, "events")
    ts_type = dict(df.dtypes)["ts"]
    if ts_type in ("bigint", "long"):
        # nanos-as-long fixture: nanos → micros, matching DuckDB's
        # TIMESTAMP_NS → micros truncation
        return df.withColumn("ts_us", F.expr("ts div 1000"))
    # timestamp fixture (NTZ wall clock): interpret as UTC so epoch micros
    # equal DuckDB's epoch_us(ts) on the same naive timestamp
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    return df.withColumn("ts_us", F.unix_micros(F.col("ts").cast("timestamp")))


def events_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling 1-hour windows per event_type: the batch-equivalent of the
    streaming windowed count (SURVEY.md §2.3 streaming row). Bucket key is
    epoch seconds of the hour start — integer-exact in both engines."""
    ev = _events(spark, sf_dir)
    return (
        ev.withColumn("hour_start", F.expr(f"(ts_us div {HOUR_US}) * 3600"))
        .groupBy("hour_start", "event_type")
        .agg(
            F.count("*").alias("n_events"),
            F.round(F.sum(F.col("value").cast(DEC)).cast("double"), 4).alias("sum_value"),
            F.countDistinct("user_id").alias("n_users"),
        )
        .orderBy("hour_start", "event_type")
    )


EVENTS_HOURLY_SQL = f"""
SELECT (epoch_us(ts) // {HOUR_US}) * 3600 AS hour_start,
       event_type,
       count(*) AS n_events,
       round(CAST(sum(CAST(value AS DECIMAL(28,10))) AS DOUBLE), 4) AS sum_value,
       count(DISTINCT user_id) AS n_users
FROM events
GROUP BY 1, 2
ORDER BY 1, 2
"""


def events_user_seq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user event ordering: row_number + lag gap — the per-entity window
    shape every training-data pipeline needs (dedup-by-recency, session
    stitching). Restricted to a deterministic user slice to keep the result
    hash-small at every sf."""
    ev = _events(spark, sf_dir).filter(F.col("user_id") < 20)
    w = Window.partitionBy("user_id").orderBy("ts_us", "event_id")
    return (
        ev.select(
            "user_id",
            "event_id",
            "event_type",
            F.row_number().over(w).alias("seq"),
            (F.col("ts_us") - F.lag("ts_us", 1).over(w)).alias("gap_us"),
        )
        .filter(F.col("seq") <= 5)
        .orderBy("user_id", "seq")
    )


EVENTS_USER_SEQ_SQL = """
SELECT user_id, event_id, event_type, seq, gap_us
FROM (
  SELECT user_id, event_id, event_type,
         row_number() OVER (PARTITION BY user_id ORDER BY epoch_us(ts), event_id) AS seq,
         epoch_us(ts) - lag(epoch_us(ts), 1) OVER (PARTITION BY user_id ORDER BY epoch_us(ts), event_id) AS gap_us
  FROM events
  WHERE user_id < 20)
WHERE seq <= 5
ORDER BY user_id, seq
"""


def events_sessionized(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-based sessionization (30-min inactivity): new-session flag via lag,
    session id via running sum — the batch equivalent of a session window,
    fully integer-deterministic."""
    ev = _events(spark, sf_dir)
    w = Window.partitionBy("user_id").orderBy("ts_us", "event_id")
    sessions = (
        ev.withColumn("prev_us", F.lag("ts_us", 1).over(w))
        .withColumn(
            "new_session",
            F.when(
                F.col("prev_us").isNull()
                | ((F.col("ts_us") - F.col("prev_us")) > SESSION_GAP_US),
                1,
            ).otherwise(0),
        )
        .withColumn("session_id", F.sum("new_session").over(w))
        .groupBy("user_id", "session_id")
        .agg(F.count("*").alias("session_events"))
    )
    return (
        sessions.groupBy("user_id")
        .agg(
            F.count("*").alias("n_sessions"),
            F.max("session_events").alias("max_session_events"),
            F.sum("session_events").alias("n_events"),
        )
        .orderBy("user_id")
    )


EVENTS_SESSIONIZED_SQL = f"""
WITH seq AS (
  SELECT user_id, epoch_us(ts) AS ts_us, event_id,
         lag(epoch_us(ts), 1) OVER (PARTITION BY user_id ORDER BY epoch_us(ts), event_id) AS prev_us
  FROM events),
flagged AS (
  SELECT user_id, ts_us, event_id,
         CASE WHEN prev_us IS NULL OR ts_us - prev_us > {SESSION_GAP_US} THEN 1 ELSE 0 END AS new_session
  FROM seq),
sessioned AS (
  SELECT user_id,
         sum(new_session) OVER (PARTITION BY user_id ORDER BY ts_us, event_id
                                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id
  FROM flagged),
per_session AS (
  SELECT user_id, session_id, count(*) AS session_events
  FROM sessioned GROUP BY user_id, session_id)
SELECT user_id, count(*) AS n_sessions, max(session_events) AS max_session_events,
       CAST(sum(session_events) AS BIGINT) AS n_events
FROM per_session GROUP BY user_id ORDER BY user_id
"""


def events_json_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON props extraction (``get_json_object``) + per-type stats — the
    dynamic-metadata surface: the reference stores free-form JSON fields per
    row (src/lib.rs:37); here they're parsed and aggregated relationally."""
    ev = _events(spark, sf_dir)
    k = F.get_json_object("props", "$.k").cast("long")
    return (
        ev.withColumn("k", k)
        .groupBy("event_type")
        .agg(
            F.count("*").alias("n_events"),
            F.sum("k").alias("sum_k"),
            F.min("k").alias("min_k"),
            F.max("k").alias("max_k"),
            F.countDistinct("k").alias("n_distinct_k"),
        )
        .orderBy("event_type")
    )


EVENTS_JSON_SQL = """
SELECT event_type, count(*) AS n_events,
       CAST(sum(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k,
       min(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS min_k,
       max(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS max_k,
       count(DISTINCT CAST(json_extract_string(props, '$.k') AS BIGINT)) AS n_distinct_k
FROM events
GROUP BY event_type
ORDER BY event_type
"""


def events_top_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 users by total value within each event type: groupBy + ranked
    window — the grouped-top-k generalization of the reference's global
    top-k (SURVEY.md §2.3 window row)."""
    ev = _events(spark, sf_dir)
    totals = ev.groupBy("event_type", "user_id").agg(
        F.sum(F.col("value").cast(DEC)).alias("total_dec"),
        F.count("*").alias("n_events"),
    )
    w = Window.partitionBy("event_type").orderBy(
        F.col("total_dec").desc(), F.col("user_id").asc()
    )
    return (
        totals.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 3)
        .select(
            "event_type",
            "user_id",
            F.round(F.col("total_dec").cast("double"), 4).alias("total_value"),
            "n_events",
            "rank",
        )
        .orderBy("event_type", "rank")
    )


EVENTS_TOP_USERS_SQL = """
SELECT event_type, user_id,
       round(CAST(total_dec AS DOUBLE), 4) AS total_value, n_events, rank
FROM (
  SELECT event_type, user_id, total_dec, n_events,
         row_number() OVER (PARTITION BY event_type ORDER BY total_dec DESC, user_id ASC) AS rank
  FROM (
    SELECT event_type, user_id, sum(CAST(value AS DECIMAL(28,10))) AS total_dec,
           count(*) AS n_events
    FROM events GROUP BY event_type, user_id))
WHERE rank <= 3
ORDER BY event_type, rank
"""


def events_union_slices(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Set operation surface (absent in the reference, SURVEY.md §2.3):
    DISTINCT UNION of two event slices, then per-type counts."""
    ev = _events(spark, sf_dir)
    hi_purchase = ev.filter((F.col("event_type") == "purchase") & (F.col("value") > 100)).select(
        "user_id", "event_type"
    )
    errors = ev.filter(F.col("event_type") == "error").select("user_id", "event_type")
    return (
        hi_purchase.union(errors)
        .distinct()
        .groupBy("event_type")
        .agg(F.count("*").alias("n_users"))
        .orderBy("event_type")
    )


EVENTS_UNION_SQL = """
SELECT event_type, count(*) AS n_users FROM (
  SELECT user_id, event_type FROM events WHERE event_type = 'purchase' AND value > 100
  UNION
  SELECT user_id, event_type FROM events WHERE event_type = 'error')
GROUP BY event_type
ORDER BY event_type
"""


SLIDE_US = 30 * 60 * 1_000_000  # 30-min hop
WIN_HOPS = 2  # 1-hour window = 2 hops


def events_sliding_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding 1-hour windows hopping every 30 min, per event_type — the
    batch equivalent of Structured Streaming's ``window(ts, '1 hour',
    '30 minutes')``. Each event lands in exactly ``WIN_HOPS`` windows
    (explode over hop offsets, scan-local), then one shuffle on
    (window_start, event_type) — the same assign-then-aggregate physical
    shape the streaming engine uses."""
    ev = _events(spark, sf_dir)
    hop_s = SLIDE_US // 1_000_000
    return (
        ev.withColumn("i", F.explode(F.expr(f"sequence(0, {WIN_HOPS - 1})")))
        .withColumn(
            "window_start",
            ((F.col("ts_us") / SLIDE_US).cast("long") - F.col("i")) * hop_s,
        )
        .groupBy("window_start", "event_type")
        .agg(
            F.count("*").alias("n_events"),
            F.round(F.sum(F.col("value").cast(DEC)).cast("double"), 4).alias("sum_value"),
        )
        .orderBy("window_start", "event_type")
    )


EVENTS_SLIDING_SQL = f"""
SELECT ((epoch_us(ts) // {SLIDE_US}) - i.g) * {SLIDE_US // 1_000_000} AS window_start,
       event_type, count(*) AS n_events,
       round(CAST(sum(CAST(value AS DECIMAL(28,10))) AS DOUBLE), 4) AS sum_value
FROM events, UNNEST(generate_series(0, {WIN_HOPS - 1})) AS i(g)
GROUP BY 1, 2
ORDER BY 1, 2
"""


def events_distinct_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate distinct users per event type via HyperLogLog++ — the
    sketch path for cardinality at 100 TB, where exact countDistinct's
    two-phase shuffle (dedup then count) is the bottleneck. HLL registers
    merge map-side and are order-independent, so the estimate is
    deterministic for fixed data.

    Sketch values are engine-specific (DuckDB's approx_count_distinct is a
    different HLL), so the hash-checkable surface is a TOLERANCE assertion:
    the query emits the exact cardinality plus a boolean claiming the HLL
    estimate lands within 5% of it; the oracle emits the same exact value
    and a literal TRUE. A drifting sketch flips the boolean and fails the
    value hash — a hard driver check instead of rows-only."""
    ev = _events(spark, sf_dir)
    return (
        ev.groupBy("event_type")
        .agg(
            F.count("*").alias("n_events"),
            F.approx_count_distinct("user_id", rsd=0.02).alias("_approx"),
            F.countDistinct("user_id").alias("exact_users"),
        )
        .select(
            "event_type",
            "n_events",
            "exact_users",
            (
                F.abs(F.col("_approx").cast("double") - F.col("exact_users"))
                <= F.greatest(F.lit(1.0), F.col("exact_users") * 0.05)
            ).alias("within_5pct"),
        )
        .orderBy("event_type")
    )


EVENTS_DISTINCT_SKETCH_SQL = """
SELECT event_type, count(*) AS n_events,
       count(DISTINCT user_id) AS exact_users,
       TRUE AS within_5pct
FROM events GROUP BY event_type ORDER BY event_type
"""


def events_session_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Native session-window sessionization: ``F.session_window`` with a
    30-min gap — the built-in operator whose streaming form powers
    watermarked session aggregation, checked here against the same
    gaps-and-islands oracle as the lag-based twin (events_sessionized).

    Boundary semantics differ at EXACT gap multiples (session_window splits
    at diff >= gap, the lag twin at diff > gap); the fixtures contain no
    exact 30-min adjacent gaps at any sf, so results are identical. One
    shuffle on user_id; Spark merges overlapping windows internally."""
    ev = _events(spark, sf_dir)
    per_session = (
        ev.withColumn("event_time", F.timestamp_micros(F.col("ts_us")))
        .groupBy("user_id", F.session_window("event_time", "30 minutes"))
        .agg(F.count("*").alias("session_events"))
    )
    return (
        per_session.groupBy("user_id")
        .agg(
            F.count("*").alias("n_sessions"),
            F.max("session_events").alias("max_session_events"),
            F.sum("session_events").alias("n_events"),
        )
        .orderBy("user_id")
    )


def events_value_percentiles_approx(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate per-type value percentiles via percentile_approx
    (Greenwald-Khanna sketch) — the scale path for quantiles: partial
    sketches merge map-side, no global sort, memory bounded by the accuracy
    parameter. The exact twin (order_value_quantiles) global-sorts.

    GK sketch boundaries are engine-specific, so the hash-checkable surface
    is a TOLERANCE assertion: the query emits the exact interpolated
    percentiles (rounded to 4) plus one boolean per quantile claiming the
    sketch estimate lies inside the exact [q-0.02, q+0.02] quantile bracket
    — GK's rank guarantee at accuracy 10000 is 1e-4 quantile units, so a
    healthy sketch sits 200× inside the bracket. The oracle emits
    quantile_cont + literal TRUEs.

    SCALE (round-6 rewrite): the exact brackets are NOT computed with the
    exact-``percentile`` UDAF (ObjectHashAggregate buffers every value per
    group — unbounded memory, the precise shape the sketch path exists to
    avoid). Instead they come from a bounded pre-aggregation:
    ``groupBy(event_type, value).count()`` (map-side combining, state
    bounded by distinct-value cardinality) → a cumulative-count window per
    event_type assigns each distinct value its 0-based rank interval
    ``[lo_rank, hi_rank]`` → one conditional-max aggregate picks the value
    at ``floor(h)``/``ceil(h)`` for each target rank ``h = q*(n-1)`` →
    the same ``lower + (higher-lower)*(h-floor(h))`` interpolation Spark's
    percentile and DuckDB's quantile_cont both use. Window partitions hold
    only the distinct values of one event_type (~18k rows at sf0.1). A
    plan-audit test asserts the exact-percentile UDAF never reappears."""
    ev = _events(spark, sf_dir)
    # bounded pre-aggregation: distinct (event_type, value) with multiplicity
    g = ev.groupBy("event_type", "value").agg(F.count("*").alias("cnt"))
    w_cum = (
        Window.partitionBy("event_type")
        .orderBy("value")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    w_all = Window.partitionBy("event_type")
    ranked = g.filter(F.col("value").isNotNull()).select(
        "event_type",
        "value",
        "cnt",
        (F.sum("cnt").over(w_cum) - F.col("cnt")).alias("lo_rank"),
        (F.sum("cnt").over(w_cum) - F.lit(1)).alias("hi_rank"),
        F.sum("cnt").over(w_all).alias("n"),
    )

    # interpolation targets: [lo, target, hi] per quantile; p99's hi is max
    QS = [0.48, 0.5, 0.52, 0.88, 0.9, 0.92, 0.97, 0.99, 1.0]

    def value_at(rank):  # exactly one distinct value's interval contains rank
        hit = (F.col("lo_rank") <= rank) & (rank <= F.col("hi_rank"))
        return F.max(F.when(hit, F.col("value")))

    agg_exprs = [F.max("n").alias("_n")]
    for i, q in enumerate(QS):
        h = F.lit(q) * (F.col("n") - F.lit(1)).cast("double")
        agg_exprs.append(value_at(F.floor(h)).alias(f"_vf{i}"))
        agg_exprs.append(value_at(F.ceil(h)).alias(f"_vc{i}"))
    ex = ranked.groupBy("event_type").agg(*agg_exprs)

    def exq(i: int, q: float):  # Spark/DuckDB linear interpolation form
        h = F.lit(q) * (F.col("_n") - F.lit(1)).cast("double")
        frac = h - F.floor(h).cast("double")
        return F.col(f"_vf{i}") + (F.col(f"_vc{i}") - F.col(f"_vf{i}")) * frac

    # GK sketch: partial sketches merge map-side, memory bounded by accuracy
    ap = ev.groupBy("event_type").agg(
        F.count("*").alias("n_events"),
        F.expr("percentile_approx(value, array(0.5D, 0.9D, 0.99D), 10000)").alias(
            "_ap"
        ),
    )

    def ok(i: int, lo: int, hi: int, name: str):
        # coalesce(TRUE): a type whose values are ALL NULL has no sketch
        # estimate and no brackets (both sides NULL) — the oracle keeps the
        # group with NULL percentiles and literal TRUE flags, so mirror it
        return F.coalesce(
            (F.col("_ap")[i] >= exq(lo, QS[lo]))
            & (F.col("_ap")[i] <= exq(hi, QS[hi])),
            F.lit(True),
        ).alias(name)

    # both sides are ~#event_type rows. LEFT join FROM the sketch side: the
    # exact-bracket side drops all-NULL-value types (value IS NOT NULL
    # filter) while count(*) groups keep them — a left join preserves the
    # oracle's group set (quantile_cont ignores NULLs but keeps the group)
    return (
        ap.join(F.broadcast(ex), "event_type", "left")
        .select(
            "event_type",
            "n_events",
            F.round(exq(1, 0.5), 4).alias("p50"),
            F.round(exq(4, 0.9), 4).alias("p90"),
            F.round(exq(7, 0.99), 4).alias("p99"),
            ok(0, 0, 2, "p50_ok"),
            ok(1, 3, 5, "p90_ok"),
            ok(2, 6, 8, "p99_ok"),
        )
        .orderBy("event_type")
    )


EVENTS_VALUE_PCTL_SQL = """
SELECT event_type, count(*) AS n_events,
       round(quantile_cont(value, 0.5), 4) AS p50,
       round(quantile_cont(value, 0.9), 4) AS p90,
       round(quantile_cont(value, 0.99), 4) AS p99,
       TRUE AS p50_ok, TRUE AS p90_ok, TRUE AS p99_ok
FROM events GROUP BY event_type ORDER BY event_type
"""


def events_next_transition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Forward-looking window functions per user: next event type + time to
    it (lead), and the user's first/last event types over the full frame —
    the transition-modeling shape (what follows a click?) that completes the
    window family (lag twin: events_user_seq). One shuffle on user_id for
    all four window expressions (same spec)."""
    ev = _events(spark, sf_dir).filter(F.col("user_id") < 20)
    w = Window.partitionBy("user_id").orderBy("ts_us", "event_id")
    w_full = w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    return (
        ev.select(
            "user_id",
            "event_id",
            "event_type",
            F.row_number().over(w).alias("seq"),
            F.lead("event_type", 1).over(w).alias("next_type"),
            (F.lead("ts_us", 1).over(w) - F.col("ts_us")).alias("us_to_next"),
            F.first("event_type").over(w_full).alias("first_type"),
            F.last("event_type").over(w_full).alias("last_type"),
        )
        .filter(F.col("seq") <= 5)
        .orderBy("user_id", "seq")
    )


EVENTS_NEXT_TRANSITION_SQL = """
SELECT user_id, event_id, event_type, seq, next_type, us_to_next, first_type, last_type
FROM (
  SELECT user_id, event_id, event_type,
         row_number() OVER w AS seq,
         lead(event_type, 1) OVER w AS next_type,
         lead(epoch_us(ts), 1) OVER w - epoch_us(ts) AS us_to_next,
         first_value(event_type) OVER w_full AS first_type,
         last_value(event_type) OVER w_full AS last_type
  FROM events
  WHERE user_id < 20
  WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts), event_id),
         w_full AS (PARTITION BY user_id ORDER BY epoch_us(ts), event_id
                    ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING))
WHERE seq <= 5
ORDER BY user_id, seq
"""


DAY_US = 24 * HOUR_US


def events_daily_full_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily purchases vs clicks via FULL OUTER join — days where only one
    side has activity survive with zeros (the reconciliation shape; the one
    join kind not exercised elsewhere). Both sides pre-aggregate to O(days)
    rows before joining, so the outer join is tiny regardless of |events|."""
    ev = _events(spark, sf_dir).withColumn("day", F.expr(f"ts_us div {DAY_US}"))
    p = (
        ev.filter(F.col("event_type") == "purchase")
        .groupBy("day")
        .agg(
            F.count("*").alias("n_purchases"),
            F.round(F.sum(F.col("value").cast(DEC)).cast("double"), 4).alias("purchase_value"),
        )
    )
    c = ev.filter(F.col("event_type") == "click").groupBy(
        F.col("day").alias("c_day")
    ).agg(F.count("*").alias("n_clicks"))
    return (
        p.join(c, p.day == c.c_day, "full_outer")
        .select(
            F.coalesce("day", "c_day").alias("day"),
            F.coalesce("n_purchases", F.lit(0)).alias("n_purchases"),
            F.coalesce("purchase_value", F.lit(0.0)).alias("purchase_value"),
            F.coalesce("n_clicks", F.lit(0)).alias("n_clicks"),
        )
        .orderBy("day")
    )


EVENTS_DAILY_FULL_OUTER_SQL = f"""
WITH p AS (
  SELECT epoch_us(ts) // {DAY_US} AS day, count(*) AS n_purchases,
         round(CAST(sum(CAST(value AS DECIMAL(28,10))) AS DOUBLE), 4) AS purchase_value
  FROM events WHERE event_type = 'purchase' GROUP BY 1),
c AS (
  SELECT epoch_us(ts) // {DAY_US} AS c_day, count(*) AS n_clicks
  FROM events WHERE event_type = 'click' GROUP BY 1)
SELECT coalesce(day, c_day) AS day,
       coalesce(n_purchases, 0) AS n_purchases,
       coalesce(purchase_value, 0.0) AS purchase_value,
       coalesce(n_clicks, 0) AS n_clicks
FROM p FULL OUTER JOIN c ON day = c_day
ORDER BY day
"""


# --- conversion funnel --------------------------------------------------------


def events_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """view → click → purchase conversion funnel: per user, the earliest
    view, the earliest click strictly after it, and the earliest purchase
    strictly after that; reported as one global row of stage counts plus the
    mean full-funnel latency.

    Single-shuffle formulation: one window over (user_id, time) computes the
    running earliest-qualifying-event per stage (each stage's qualification
    reads the previous stage's running min — stacked window expressions, no
    per-stage re-join), then a per-user aggregate and a 1-row global
    aggregate. At 100 TB this is exactly one exchange on user_id; the
    orderBy inside the window is the per-partition sort AQE already
    schedules for sessionization-shaped work."""
    ev = _events(spark, sf_dir).select("user_id", "event_type", "ts_us", "event_id")
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts_us", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    tv_run = F.min(F.when(F.col("event_type") == "view", F.col("ts_us"))).over(w)
    staged = ev.withColumn("tv_run", tv_run).withColumn(
        "click_ts",
        F.when(
            (F.col("event_type") == "click")
            & F.col("tv_run").isNotNull()
            & (F.col("ts_us") > F.col("tv_run")),
            F.col("ts_us"),
        ),
    )
    tc_run = F.min("click_ts").over(w)
    staged = staged.withColumn("tc_run", tc_run).withColumn(
        "purchase_ts",
        F.when(
            (F.col("event_type") == "purchase")
            & F.col("tc_run").isNotNull()
            & (F.col("ts_us") > F.col("tc_run")),
            F.col("ts_us"),
        ),
    )
    per_user = staged.groupBy("user_id").agg(
        F.min(F.when(F.col("event_type") == "view", F.col("ts_us"))).alias("tv"),
        F.min("click_ts").alias("tc"),
        F.min("purchase_ts").alias("tp"),
    )
    return per_user.agg(
        F.count("*").alias("n_users"),
        F.count("tv").alias("n_viewed"),
        F.count("tc").alias("n_clicked_after_view"),
        F.count("tp").alias("n_purchased_after_click"),
        F.round(F.avg(F.col("tp") - F.col("tv")) / 1000000.0, 4).alias(
            "avg_funnel_secs"
        ),
    )


EVENTS_FUNNEL_SQL = """
WITH ev AS (
  SELECT user_id, event_type, epoch_us(ts) AS ts_us, event_id FROM events),
s1 AS (
  SELECT *,
         min(CASE WHEN event_type = 'view' THEN ts_us END)
           OVER (PARTITION BY user_id ORDER BY ts_us, event_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS tv_run
  FROM ev),
s2 AS (
  SELECT *,
         CASE WHEN event_type = 'click' AND tv_run IS NOT NULL AND ts_us > tv_run
              THEN ts_us END AS click_ts
  FROM s1),
s3 AS (
  SELECT *,
         min(click_ts) OVER (PARTITION BY user_id ORDER BY ts_us, event_id
                             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS tc_run
  FROM s2),
s4 AS (
  SELECT *,
         CASE WHEN event_type = 'purchase' AND tc_run IS NOT NULL AND ts_us > tc_run
              THEN ts_us END AS purchase_ts
  FROM s3),
per_user AS (
  SELECT user_id,
         min(CASE WHEN event_type = 'view' THEN ts_us END) AS tv,
         min(click_ts) AS tc,
         min(purchase_ts) AS tp
  FROM s4 GROUP BY user_id)
SELECT count(*) AS n_users,
       count(tv) AS n_viewed,
       count(tc) AS n_clicked_after_view,
       count(tp) AS n_purchased_after_click,
       round(avg(tp - tv) / 1000000.0, 4) AS avg_funnel_secs
FROM per_user
"""


# --- cohort retention ---------------------------------------------------------


def events_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Next-day retention: for each day, how many distinct users were active
    and how many of them were also active the following day — the
    engagement metric every event pipeline reports.

    A self-join of the activity relation on (user, day+1) would scan and
    shuffle the deduplicated relation twice (Spark does not reuse the
    exchange across differently-projected join sides — verified). Instead
    "active tomorrow" is ``lead(day) == day + 1`` over a per-user window:
    ONE fact scan, then distinct → window → day aggregate, all keyed
    shuffles. Rates are exact integer ratios rounded at the end."""
    ev = _events(spark, sf_dir)
    active = (
        ev.select(F.expr(f"ts_us div {DAY_US}").alias("day"), "user_id")
        .distinct()
    )
    w = Window.partitionBy("user_id").orderBy("day")
    flagged = active.withColumn(
        "retained",
        F.when(F.lead("day", 1).over(w) == F.col("day") + 1, 1).otherwise(0),
    )
    per_day = (
        flagged.groupBy("day")
        .agg(
            F.count("*").alias("n_active"),
            F.sum("retained").cast("bigint").alias("n_retained"),
        )
        .withColumn(
            "retention",
            F.round(F.col("n_retained") / F.col("n_active").cast("double"), 6),
        )
    )
    return per_day.orderBy("day")


EVENTS_RETENTION_SQL = f"""
WITH active AS (
  SELECT DISTINCT epoch_us(ts) // {DAY_US} AS day, user_id FROM events),
flagged AS (
  SELECT day,
         CASE WHEN lead(day, 1) OVER (PARTITION BY user_id ORDER BY day) = day + 1
              THEN 1 ELSE 0 END AS retained
  FROM active)
SELECT day,
       count(*) AS n_active,
       CAST(sum(retained) AS BIGINT) AS n_retained,
       round(CAST(sum(retained) AS BIGINT) / CAST(count(*) AS DOUBLE), 6) AS retention
FROM flagged
GROUP BY day
ORDER BY day
"""


# --- per-user anomaly scoring (z-score outliers) -----------------------------

ANOMALY_Z = 2.0
ANOMALY_MIN_EVENTS = 5


def events_anomaly_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user z-score outlier detection over event values — the data-quality
    triage step ingestion pipelines run to catch instrumentation bugs and
    abuse: events whose value sits more than ANOMALY_Z standard deviations
    from that user's own mean, reported per event type.

    Determinism: the user moments go through DECIMAL partial sums
    (order-free), and variance uses the explicit (m2 - s²/n)/(n-1) op
    sequence in BOTH engines, so every z is built from bit-agreed inputs;
    outputs round at 4. Scale shape: one groupBy(user) shuffle for moments
    (map-side combined), one user-keyed join back onto the event scan (both
    sides hash-partition on user_id — co-located), one tiny (event_type)
    contraction. Users with < ANOMALY_MIN_EVENTS events are excluded (a
    2-event user makes every event an 'outlier' of its own mean)."""
    ev = load_table(spark, sf_dir, "events").select(
        "user_id", "event_type", F.col("value").cast("double").alias("v")
    )
    stats = (
        ev.groupBy("user_id")
        .agg(
            F.count("*").alias("n"),
            F.sum(F.col("v").cast(DEC)).cast("double").alias("s"),
            F.sum((F.col("v") * F.col("v")).cast(DEC)).cast("double").alias("m2"),
        )
        .filter(F.col("n") >= ANOMALY_MIN_EVENTS)
        .select(
            "user_id",
            (F.col("s") / F.col("n")).alias("mean_v"),
            F.sqrt(
                (F.col("m2") - F.col("s") * F.col("s") / F.col("n"))
                / (F.col("n") - 1)
            ).alias("std_v"),
        )
        .filter(F.col("std_v") > 0)
    )
    z = (F.col("v") - F.col("mean_v")) / F.col("std_v")
    return (
        ev.join(stats, "user_id")
        .select("event_type", z.alias("z"))
        .groupBy("event_type")
        .agg(
            F.count("*").alias("n_scored"),
            F.sum((F.abs(F.col("z")) > ANOMALY_Z).cast("int")).alias("n_outliers"),
            F.round(F.max(F.abs(F.col("z"))), 4).alias("max_abs_z"),
        )
        .orderBy("event_type")
    )


EVENTS_ANOMALY_SQL = f"""
WITH ev AS (
  SELECT user_id, event_type, CAST(value AS DOUBLE) AS v FROM events),
stats AS (
  SELECT user_id,
         s / n AS mean_v,
         sqrt((m2 - s * s / n) / (n - 1)) AS std_v
  FROM (
    SELECT user_id, count(*) AS n,
           CAST(sum(CAST(v AS DECIMAL(28,10))) AS DOUBLE) AS s,
           CAST(sum(CAST(v * v AS DECIMAL(28,10))) AS DOUBLE) AS m2
    FROM ev GROUP BY user_id)
  WHERE n >= {ANOMALY_MIN_EVENTS})
SELECT event_type,
       count(*) AS n_scored,
       CAST(sum(CASE WHEN abs((v - mean_v) / std_v) > {ANOMALY_Z} THEN 1 ELSE 0 END) AS BIGINT)
         AS n_outliers,
       round(max(abs((v - mean_v) / std_v)), 4) AS max_abs_z
FROM ev JOIN stats USING (user_id)
WHERE std_v > 0
GROUP BY event_type
ORDER BY event_type
"""


# --- weekly value drift -------------------------------------------------------

DAY_US = 86_400_000_000


def events_value_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Week-over-week value-distribution drift per event type — the
    monitoring query a long-running ingest pipeline keys alerts on (a mean
    that jumps between weeks is an upstream schema/unit change; training
    data cut from the drifted window needs re-weighting or exclusion).

    Week bucketing is pure integer arithmetic on epoch micros (Monday-
    aligned: epoch day 0 is a Thursday, so ``(day + 3) div 7`` shifts the
    boundary to Monday) — no date_trunc, so both engines agree on both
    fixture flavors (nanos-as-long AND wall-clock timestamp) by
    construction. Means go through DECIMAL partial sums; drift is the
    double subtraction of two identically-derived means.

    Scale shape: one (week, type)-keyed aggregate over the scan, then a
    lag window over #weeks×#types rows — the window input is tiny at any
    corpus scale, so the global sort it implies is free."""
    ev = _events(spark, sf_dir)
    wk = F.expr(f"((ts_us div {DAY_US}) + 3) div 7")
    agg = (
        ev.groupBy(wk.alias("wk"), "event_type")
        .agg(
            F.count("*").alias("n_events"),
            F.sum(F.col("value").cast(DEC)).alias("sum_dec"),
        )
        .withColumn(
            "mean_raw", F.col("sum_dec").cast("double") / F.col("n_events")
        )
    )
    w = Window.partitionBy("event_type").orderBy("wk")
    return (
        agg.withColumn("prev", F.lag("mean_raw").over(w))
        .select(
            # ISO string, not DATE: date cells are the one dtype the result
            # canonicalizer refuses (same policy as hour_start epoch ints)
            F.date_add(
                F.to_date(F.lit("1970-01-01")),
                (F.col("wk") * 7 - 3).cast("int"),
            )
            .cast("string")
            .alias("week_start"),
            "event_type",
            "n_events",
            F.round("mean_raw", 6).alias("mean_value"),
            F.coalesce(
                F.round(F.col("mean_raw") - F.col("prev"), 6), F.lit(0.0)
            ).alias("drift"),
        )
        .orderBy("week_start", "event_type")
    )


EVENTS_VALUE_DRIFT_SQL = f"""
WITH agg AS (
  SELECT ((epoch_us(ts) // {DAY_US}) + 3) // 7 AS wk, event_type,
         count(*) AS n_events,
         sum(CAST(value AS DECIMAL(28,10))) AS sum_dec
  FROM events GROUP BY 1, 2),
m AS (
  SELECT wk, event_type, n_events,
         CAST(sum_dec AS DOUBLE) / n_events AS mean_raw,
         lag(CAST(sum_dec AS DOUBLE) / n_events)
           OVER (PARTITION BY event_type ORDER BY wk) AS prev
  FROM agg)
SELECT CAST(DATE '1970-01-01' + CAST(wk * 7 - 3 AS INT) AS VARCHAR) AS week_start,
       event_type, n_events,
       round(mean_raw, 6) AS mean_value,
       coalesce(round(mean_raw - prev, 6), 0.0) AS drift
FROM m
ORDER BY week_start, event_type
"""


# --- structured-log scrubbing ------------------------------------------------

NUM_TOKEN = "<NUM>"


def events_props_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Structured-log scrubbing before logs become training data: redact
    every digit run in the semi-structured ``props`` payload with a
    placeholder token and report, per event type, what the scrub did —
    match counts, length delta, surviving distinct payload forms, and an
    order-free checksum of the redacted corpus (so the redaction itself,
    not just its counts, is value-pinned).

    The checksum is SUM over rows of an 8-hex-digit md5 prefix of the
    redacted string — commutative and mergeable, so it map-side combines
    and never needs a sorted collect_list (a per-group list would be
    unbounded memory at corpus scale; the sum is O(1) state per key).
    Everything is built-in JVM regexp/md5 — a scan-local projection
    followed by an #event_type-keyed aggregation."""
    ev = _events(spark, sf_dir)
    redacted = F.regexp_replace(F.col("props"), "[0-9]+", NUM_TOKEN)
    # NULL guard: legacy sizeOfNull makes F.size(NULL) = -1, while the
    # oracle's sum(len(...)) skips NULL rows — coalesce to a NULL count so
    # SUM ignores the row in both engines (delta/h/red are already NULL-
    # propagating and both SUMs/countDistinct skip NULLs)
    n_matches = F.when(
        F.col("props").isNotNull(),
        F.size(F.expr("regexp_extract_all(props, '[0-9]+', 0)")),
    )
    row_hash = (
        F.conv(F.substring(F.md5(redacted), 1, 8), 16, 10).cast("bigint")
    )
    return (
        ev.select(
            "event_type",
            redacted.alias("red"),
            n_matches.alias("m"),
            (F.length(redacted) - F.length("props")).alias("delta"),
            row_hash.alias("h"),
        )
        .groupBy("event_type")
        .agg(
            F.count("*").alias("n_events"),
            F.sum("m").alias("n_num_matches"),
            F.sum("delta").alias("len_delta"),
            F.countDistinct("red").alias("n_distinct_forms"),
            F.sum("h").alias("redacted_checksum"),
        )
        .orderBy("event_type")
    )


EVENTS_PROPS_SCRUB_SQL = """
SELECT event_type,
       count(*) AS n_events,
       CAST(sum(len(regexp_extract_all(props, '[0-9]+'))) AS BIGINT) AS n_num_matches,
       CAST(sum(length(red) - length(props)) AS BIGINT) AS len_delta,
       count(DISTINCT red) AS n_distinct_forms,
       CAST(sum(CAST('0x' || substr(md5(red), 1, 8) AS BIGINT)) AS BIGINT)
         AS redacted_checksum
FROM (
  SELECT event_type, props,
         regexp_replace(props, '[0-9]+', '<NUM>', 'g') AS red
  FROM events)
GROUP BY event_type
ORDER BY event_type
"""


def events_scd2_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD Type-2 history build over the event change log, reported per
    event type: each event is a new version of its user's state, valid
    from its own timestamp until the user's NEXT event (NULL = current
    version) — the slowly-changing-dimension shape every warehouse ingest
    pipeline maintains for entity state (the reference's upsert, O2
    src/lib.rs:150-185, is the degenerate keep-latest-only case; SCD2 is
    the auditable generalization that keeps the full validity history).

    Plan shape: ONE window over (user_id, time) computes every validity
    interval — a single shuffle on user_id, the same key the sessionizers
    use, so at 100 TB this co-partitions with the rest of the per-user
    family and AQE handles user skew. The report aggregate is a second
    bounded shuffle on event_type (#types groups). Durations are exact
    integer micros; the average is computed as one double division of two
    exact values so both engines round identically."""
    ev = _events(spark, sf_dir)
    w = Window.partitionBy("user_id").orderBy("ts_us", "event_id")
    vers = ev.select(
        "user_id",
        "event_type",
        "ts_us",
        F.lead("ts_us").over(w).alias("valid_to_us"),
    )
    dur = F.col("valid_to_us") - F.col("ts_us")
    return (
        vers.groupBy("event_type")
        .agg(
            F.count("*").alias("n_versions"),
            F.sum(F.when(F.col("valid_to_us").isNull(), 1).otherwise(0)).alias(
                "n_current"
            ),
            F.count("valid_to_us").alias("n_closed"),
            F.sum(dur).alias("sum_valid_us"),
            F.max(dur).alias("max_valid_us"),
            F.round(
                F.sum(dur).cast("double") / F.count("valid_to_us"), 4
            ).alias("avg_valid_us"),
        )
        .orderBy("event_type")
    )


EVENTS_SCD2_STATE_SQL = """
SELECT event_type,
       count(*) AS n_versions,
       CAST(sum(CASE WHEN valid_to_us IS NULL THEN 1 ELSE 0 END) AS BIGINT)
         AS n_current,
       count(valid_to_us) AS n_closed,
       CAST(sum(valid_to_us - ts_us) AS BIGINT) AS sum_valid_us,
       CAST(max(valid_to_us - ts_us) AS BIGINT) AS max_valid_us,
       round(CAST(sum(valid_to_us - ts_us) AS DOUBLE) / count(valid_to_us), 4)
         AS avg_valid_us
FROM (
  SELECT event_type, epoch_us(ts) AS ts_us,
         lead(epoch_us(ts)) OVER (PARTITION BY user_id
                                  ORDER BY epoch_us(ts), event_id) AS valid_to_us
  FROM events)
GROUP BY event_type
ORDER BY event_type
"""
