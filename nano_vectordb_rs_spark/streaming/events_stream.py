"""Structured Streaming surface over the ``events`` table.

The reference is strictly batch (SURVEY.md §2.3 "Streaming: none"); this
module is the north-star extension: the same event analytics as
``operators/events.py`` expressed as unbounded streams —

- ``hourly_counts_stream``: tumbling 1-hour windowed counts with an event-time
  watermark for late data. Batch twin: ``events.events_hourly`` (the DuckDB
  oracle checks THAT; the streaming test asserts stream == batch).
- ``sessionize_stream``: gap-based sessionization as a custom stateful
  operator via ``applyInPandasWithState`` — per-user state machine carrying
  (last event time, open-session stats) across micro-batches. Batch twin:
  ``events.events_sessionized``.

Scale design: a windowed streaming agg shuffles once on (window, event_type)
into the state store; state size is O(open windows × types), bounded by the
watermark. Sessionization state is O(active users); the 30-min gap + watermark
bound how long a user entry can stay open. Both survive a 1000-executor
deployment because all state is keyed and Spark's state store partitions it
with the shuffle.

Test harness: ``run_available_now`` drains a finite directory with
``trigger(availableNow=True)`` into a memory sink — the standard way to make
a streaming job terminate for equivalence testing.
"""

from __future__ import annotations

from typing import Any, Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from nano_vectordb_rs_spark.operators.relational import DEC
from nano_vectordb_rs_spark.sources.tables import load_table

SESSION_GAP_US = 30 * 60 * 1_000_000  # 30 min, same as the batch twin

#: sf_dir -> events schema. METADATA memo, not a result cache: the footer
#: schema is a property of the fixture file, and re-deriving it cost a
#: full batch-read plan (~0.3-0.4 s of the ~0.4-0.5 s per-query build time
#: in the r16 drain decomposition) on EVERY streaming-query invocation.
#: Spark itself caches file listings the same way; all data work still
#: happens per run.
_SCHEMA_CACHE: dict[str, T.StructType] = {}


def events_schema(spark: SparkSession, sf_dir: str) -> T.StructType:
    """Peek the fixture's batch schema — the ts physical type has varied
    across data drops (nanos-as-long vs timestamp[us]); see
    operators/events.py preamble. File-source streaming needs an explicit
    schema, so derive it from a cheap batch read of the footer (memoized
    per directory — guide §1.2: don't recompute what cannot change)."""
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    if sf_dir not in _SCHEMA_CACHE:
        _SCHEMA_CACHE[sf_dir] = load_table(spark, sf_dir, "events").schema
    return _SCHEMA_CACHE[sf_dir]


def ts_us_col(spark: SparkSession, schema: T.StructType):
    """Column expression turning either ts physical type into epoch micros."""
    if isinstance(schema["ts"].dataType, T.LongType):
        return F.expr("ts div 1000")
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    return F.unix_micros(F.col("ts").cast("timestamp"))


def read_events_stream(
    spark: SparkSession, sf_dir: str, max_files_per_trigger: int | None = None
) -> DataFrame:
    """``readStream`` over the events fixture directory.

    File-source streaming needs an explicit schema (no inference on streams);
    ``maxFilesPerTrigger`` lets tests force multi-micro-batch execution so the
    stateful operators actually carry state across batches.
    """
    schema = events_schema(spark, sf_dir)
    # the file source requires a directory; select just events.parquet by glob
    reader = (
        spark.readStream.schema(schema)
        .format("parquet")
        .option("pathGlobFilter", "events.parquet")
    )
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    df = reader.load(sf_dir)
    return df.withColumn("ts_us", ts_us_col(spark, schema)).withColumn(
        "event_time", F.timestamp_micros(F.col("ts_us"))
    )


def hourly_counts_stream(events: DataFrame, watermark: str = "2 hours") -> DataFrame:
    """Tumbling-window per-type counts with late-data watermark.

    Emits (hour_start epoch-seconds, event_type, n_events, approx_users).
    User cardinality is ``approx_count_distinct`` (HLL++): exact distinct in
    a streaming agg would hold every user id per open window in the state
    store, while the sketch keeps state O(1) per key — the scale-correct
    choice for an unbounded stream. (The GATED query,
    ``streaming_hourly_counts`` below, instead emits exact counts + a
    DECIMAL sum so its oracle is value-hashable.)
    """
    return (
        events.withWatermark("event_time", watermark)
        .groupBy(F.window("event_time", "1 hour"), F.col("event_type"))
        .agg(F.count("*").alias("n_events"), F.approx_count_distinct("user_id").alias("approx_users"))
        .select(
            F.unix_timestamp(F.col("window.start")).alias("hour_start"),
            "event_type",
            "n_events",
            "approx_users",
        )
    )


SESSION_STATE_SCHEMA = T.StructType(
    [
        T.StructField("last_ts_us", T.LongType()),
        T.StructField("n_sessions", T.LongType()),
        T.StructField("n_events", T.LongType()),
        T.StructField("cur_session_events", T.LongType()),
        T.StructField("max_session_events", T.LongType()),
    ]
)

SESSION_OUTPUT_SCHEMA = T.StructType(
    [
        T.StructField("user_id", T.LongType()),
        T.StructField("n_sessions", T.LongType()),
        T.StructField("max_session_events", T.LongType()),
        T.StructField("n_events", T.LongType()),
    ]
)


def _make_session_fold(session_gap_us: int):
    """Factory so the stateful kernel pickles BY VALUE (module-level defs
    pickle by reference and break when executor Python workers start outside
    this repo's import path — same rationale as fastknn._make_batch_matrix)."""

    def session_fold(
        key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        """Per-user session state machine (the applyInPandasWithState kernel).

        State = (last event time, running session counters). A gap > 30 min
        opens a new session — identical fold to the batch twin's
        lag()+running-sum, but carried across micro-batches. Emits the user's
        current aggregate each time the group appears (update semantics)."""
        if state.exists:
            last_ts, n_sessions, n_events, cur_ev, max_ev = state.get
        else:
            last_ts, n_sessions, n_events, cur_ev, max_ev = None, 0, 0, 0, 0

        ts_all: list[int] = []
        for pdf in pdfs:
            ts_all.extend(pdf["ts_us"].tolist())
        ts_all.sort()

        for t in ts_all:
            if last_ts is None or t - last_ts > session_gap_us:
                n_sessions += 1
                cur_ev = 1
            else:
                cur_ev += 1
            max_ev = max(max_ev, cur_ev)
            n_events += 1
            last_ts = t

        state.update((last_ts, n_sessions, n_events, cur_ev, max_ev))
        yield pd.DataFrame(
            {
                "user_id": [key[0]],
                "n_sessions": [n_sessions],
                "max_session_events": [max_ev],
                "n_events": [n_events],
            }
        )

    return session_fold


_session_fold = _make_session_fold(SESSION_GAP_US)


def sessionize_stream(events: DataFrame) -> DataFrame:
    """Custom stateful operator: gap-based sessionization per user.

    NOTE on ordering: within one micro-batch the kernel sorts that batch's
    events by time, but events arriving in a LATER batch with earlier
    timestamps would be folded late (the price of streaming without a
    sort-buffer). The fixture files arrive in one or few ordered batches, and
    the equivalence test pins stream == batch on the final state.
    """
    return events.select("user_id", "ts_us").groupBy("user_id").applyInPandasWithState(
        _session_fold,
        outputStructType=SESSION_OUTPUT_SCHEMA,
        stateStructType=SESSION_STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def purchase_click_join_stream(
    events: DataFrame,
    lookback: str = "10 minutes",
    watermark: str = "2 hours",
) -> DataFrame:
    """Stream-stream interval self-join: every purchase paired with the same
    user's clicks in the preceding ``lookback`` window (inclusive of equal
    timestamps) — the streaming sibling of the batch as-of join
    (operators/advanced.py events_asof_join, which keeps only the latest).

    Both sides carry watermarks + the event-time range condition, so Spark
    can bound the join state: click state older than watermark+lookback is
    evicted. Without the range condition the state store would grow without
    bound — the canonical stream-join pitfall.
    """
    clicks = (
        events.filter(F.col("event_type") == "click")
        .select(
            F.col("user_id").alias("c_user_id"),
            F.col("event_id").alias("click_id"),
            F.col("event_time").alias("click_time"),
        )
        .withWatermark("click_time", watermark)
    )
    purchases = (
        events.filter(F.col("event_type") == "purchase")
        .select(
            F.col("user_id").alias("p_user_id"),
            F.col("event_id").alias("purchase_id"),
            F.col("event_time").alias("purchase_time"),
            F.col("value"),
        )
        .withWatermark("purchase_time", watermark)
    )
    cond = F.expr(
        f"""
        p_user_id = c_user_id AND
        click_time >= purchase_time - INTERVAL {lookback} AND
        click_time <= purchase_time
        """
    )
    return purchases.join(clicks, cond).select(
        F.col("p_user_id").alias("user_id"),
        "purchase_id",
        "click_id",
        F.unix_timestamp("purchase_time").alias("purchase_s"),
        F.unix_timestamp("click_time").alias("click_s"),
    )


def dedup_counts_stream(events: DataFrame, watermark: str = "2 hours") -> DataFrame:
    """Exactly-once ingestion dedup: at-least-once delivery (replays, retried
    producers) collapsed by ``dropDuplicatesWithinWatermark`` keyed on
    event_id, then the same tumbling per-type counts as
    ``hourly_counts_stream`` — the front door of a streaming training-data
    ingest pipeline.

    State design: the dedup key store holds only ids younger than the
    watermark horizon (older keys are evicted), so state is O(arrival rate ×
    watermark), never O(stream length) — the property that lets this run
    forever. A plain ``dropDuplicates`` on a stream would grow state without
    bound. Keyed state partitions with the shuffle across executors."""
    deduped = events.withWatermark("event_time", watermark).dropDuplicatesWithinWatermark(
        ["event_id"]
    )
    return (
        deduped.groupBy(F.window("event_time", "1 hour"), F.col("event_type"))
        .agg(F.count("*").alias("n_events"))
        .select(
            F.unix_timestamp(F.col("window.start")).alias("hour_start"),
            "event_type",
            "n_events",
        )
    )


#: state-store partition count of every availableNow drain (see
#: run_available_now)
STREAM_PARTITIONS = 2


def run_available_now(
    stream_df: DataFrame,
    query_name: str,
    output_mode: str,
    checkpoint_dir: str,
) -> Any:
    """Drain a finite source to completion into a memory sink and return the
    in-memory table name. ``availableNow`` processes everything currently in
    the source then stops — the deterministic test/backfill trigger.

    State-partition count: a streaming query fixes its state-store partition
    count from ``spark.sql.shuffle.partitions`` at start (AQE does NOT
    coalesce streaming state), and every stateful operator then writes one
    state+commit file per partition per micro-batch — at local drain scale
    that per-partition file overhead dominates the actual state work (the
    stream-stream join alone keeps four state stores). So the drain
    harness starts the query under STREAM_PARTITIONS (2) and restores the
    session setting afterwards. A production deployment sizes this to its
    executor count ONCE at query birth — it is a deployment parameter, not
    plan logic, which is why it lives here in the harness.

    Default 4, not 8 (round-7 variance chase): the r06 bench saw
    streaming_click_attribution swing 3.4 ↔ 7.7 s between runs. Measured
    at sf0.1, 3 runs per setting: 8 partitions → [6.4, 4.4, 3.8] s;
    4 → [3.15, 3.01, 2.97]; 2 → [3.04, 3.06, 2.87]; 1 → [3.16, 3.07,
    3.09]. The swing is per-partition state-file churn (4 join state
    stores × partitions × per-batch state+commit files on the HDFS-backed
    provider), not the join itself — halving the partitions removes the
    variance and ~1.5 s of constant cost while leaving state still keyed
    and distributed.

    Lowered 4 → 2 later in round 7: a warm-JVM sweep put the interval-join
    drain at 2.88 s (4 parts) vs 2.50 s (2) vs 2.52 s (1), and the other
    drains agree (hourly 2.36 → 1.99, dedup 3.19 → 3.01, sessionize
    within noise) — 2 keeps state keyed across >1 store while shedding
    another ~0.4 s of per-partition file churn at drain scale."""
    spark = stream_df.sparkSession
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    prev_ndmb = spark.conf.get(
        "spark.sql.streaming.noDataMicroBatches.enabled", "true"
    )
    spark.conf.set("spark.sql.shuffle.partitions", str(STREAM_PARTITIONS))
    # r16 drain decomposition (recentProgress durationMs, warm runs): the
    # dedup and interval-join drains each ran a ZERO-ROW final micro-batch
    # costing 1.3-1.8 s — almost all of it state-store commit time (up to
    # 1.17 s for the join's four stores) — whose only purpose is EAGER
    # state eviction on a long-running query. A finite availableNow drain
    # terminates immediately after, so the eviction buys nothing here.
    # Disabled for the drain and restored after. Correctness: complete-mode
    # sinks re-emit the full result every data batch, update/append-join
    # sinks emit eagerly on match/update — none of this harness's callers
    # is an append-mode AGGREGATION, the one shape that needs the no-data
    # batch to flush watermark-closed windows (a production deployment of
    # such a query keeps the default).
    spark.conf.set("spark.sql.streaming.noDataMicroBatches.enabled", "false")
    try:
        q = (
            stream_df.writeStream.format("memory")
            .queryName(query_name)
            .outputMode(output_mode)
            .option("checkpointLocation", checkpoint_dir)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        # data micro-batch count, for callers whose semantics assume the
        # drain ran as a single batch (see streaming_dedup_counts)
        _DATA_BATCHES[query_name] = sum(
            1 for p in q.recentProgress if p and p.get("numInputRows", 0) > 0
        )
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)
        spark.conf.set(
            "spark.sql.streaming.noDataMicroBatches.enabled", prev_ndmb
        )
    return query_name


#: query name -> number of micro-batches that carried input rows in the last
#: availableNow drain (bounded: entries are popped by _drain_to_local)
_DATA_BATCHES: dict[str, int] = {}


# --- declared driver-gate query ---------------------------------------------


def streaming_hourly_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The ONE declared query that actually executes as a stream: readStream
    over the events fixture → watermarked tumbling 1-hour agg → availableNow
    drain into a memory sink. With a finite source, availableNow processes
    exactly the full fixture, so the result equals the batch-SQL oracle —
    streaming correctness gets a full value check, not just a rows-only one.

    complete output mode keeps every window in the sink (no late-data
    suppression on a drained source); exact counts and a DECIMAL value sum
    keep the result engine- and shuffle-order-exact. State is keyed by
    (window, event_type) and watermark-bounded — the same plan a production
    deployment runs unbounded."""
    import tempfile
    import uuid

    ev = read_events_stream(spark, sf_dir)
    agg = (
        ev.withWatermark("event_time", "2 hours")
        .groupBy(F.window("event_time", "1 hour"), F.col("event_type"))
        .agg(
            F.count("*").alias("n_events"),
            F.round(F.sum(F.col("value").cast(DEC)).cast("double"), 4).alias(
                "sum_value"
            ),
        )
        .select(
            F.unix_timestamp(F.col("window.start")).alias("hour_start"),
            "event_type",
            "n_events",
            "sum_value",
        )
    )
    ckpt = tempfile.mkdtemp(prefix="nvdb_stream_ckpt_")
    name = run_available_now(
        agg, f"stream_hourly_{uuid.uuid4().hex[:8]}", "complete", ckpt
    )
    # The memory-sink table and the checkpoint dir are per-invocation
    # scaffolding; repeated calls (bench runs ×N + the gate) would leak a
    # temp dir and a registered session table each time.  The result is
    # bounded (hours × event_types rows), so materialize it driver-side,
    # then drop both before returning a self-contained local DataFrame.
    import shutil

    sunk = spark.table(name).orderBy("hour_start", "event_type")
    rows, schema = sunk.collect(), sunk.schema
    spark.catalog.dropTempView(name)
    shutil.rmtree(ckpt, ignore_errors=True)
    return spark.createDataFrame(rows, schema)


HOUR_US = 3_600_000_000

STREAMING_HOURLY_SQL = f"""
SELECT (epoch_us(ts) // {HOUR_US}) * 3600 AS hour_start,
       event_type,
       count(*) AS n_events,
       round(CAST(sum(CAST(value AS DECIMAL(28,10))) AS DOUBLE), 4) AS sum_value
FROM events
GROUP BY 1, 2
ORDER BY 1, 2
"""


def _drain_to_local(
    spark: SparkSession,
    stream_df: DataFrame,
    output_mode: str,
    prefix: str,
    max_data_batches: int | None = None,
) -> DataFrame:
    """availableNow-drain ``stream_df`` into a memory sink, materialize the
    bounded result driver-side, then drop the sink table and checkpoint dir
    (same no-leak contract as streaming_hourly_counts) and hand back a
    self-contained local DataFrame.

    ``max_data_batches``: callers whose CORRECTNESS depends on the drain
    arriving in at most N micro-batches (see streaming_dedup_counts) pass
    it so a config drift (maxFilesPerTrigger in session conf, a multi-file
    fixture) fails loudly here instead of as a puzzling hash mismatch."""
    import shutil
    import tempfile
    import uuid

    ckpt = tempfile.mkdtemp(prefix=f"nvdb_{prefix}_ckpt_")
    name = run_available_now(
        stream_df, f"{prefix}_{uuid.uuid4().hex[:8]}", output_mode, ckpt
    )
    n_batches = _DATA_BATCHES.pop(name, None)
    if (
        max_data_batches is not None
        and n_batches is not None
        and n_batches > max_data_batches
    ):
        raise RuntimeError(
            f"{prefix}: drain split into {n_batches} data micro-batches "
            f"(max {max_data_batches}); the caller's watermark semantics "
            "assume fewer — check maxFilesPerTrigger / source file layout"
        )
    sunk = spark.table(name)
    rows, schema = sunk.collect(), sunk.schema
    spark.catalog.dropTempView(name)
    shutil.rmtree(ckpt, ignore_errors=True)
    return spark.createDataFrame(rows, schema) if rows else spark.createDataFrame(
        [], schema
    )


def streaming_dedup_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Declared gate query for exactly-once ingestion dedup: the events
    fixture is read as TWO file-source streams and unioned — a deterministic
    at-least-once delivery (every event arrives exactly twice) — then
    ``dropDuplicatesWithinWatermark`` on event_id collapses the replay and a
    watermarked tumbling agg counts per (hour, type), drained availableNow.

    The oracle aggregates the fixture ONCE: if the dedup state store missed
    a replayed id the doubled counts (and doubled DECIMAL value sums) hash-
    mismatch immediately, so the state-store semantics — not just the agg —
    are what the value check pins. Dedup-key state is watermark-bounded
    (O(arrival rate x horizon)); both stateful operators key their state
    with the shuffle, so the plan runs unbounded on a real cluster.

    SINGLE-BATCH ASSUMPTION (oracle-side only): the replay collapses to
    exactly one copy only while both copies of an event land inside the
    dedup state horizon. With the one-file fixture and no
    maxFilesPerTrigger, the availableNow drain is one micro-batch, so this
    holds trivially; if a config change ever splits the drain, state older
    than max_ts - 2h could evict between batches and replays double-count.
    The drain therefore asserts ONE data micro-batch (max_data_batches=1)
    and fails with a clear error instead of a puzzling hash mismatch. A
    production at-least-once ingest sizes the dedup watermark to its
    redelivery horizon — the semantics are batch-count-free there."""
    doubled = read_events_stream(spark, sf_dir).unionByName(
        read_events_stream(spark, sf_dir)
    )
    deduped = doubled.withWatermark("event_time", "2 hours").dropDuplicatesWithinWatermark(
        ["event_id"]
    )
    agg = (
        deduped.groupBy(F.window("event_time", "1 hour"), F.col("event_type"))
        .agg(
            F.count("*").alias("n_events"),
            F.round(F.sum(F.col("value").cast(DEC)).cast("double"), 4).alias(
                "sum_value"
            ),
        )
        .select(
            F.unix_timestamp(F.col("window.start")).alias("hour_start"),
            "event_type",
            "n_events",
            "sum_value",
        )
    )
    out = _drain_to_local(
        spark, agg, "complete", "stream_dedup", max_data_batches=1
    )
    return out.orderBy("hour_start", "event_type")


# identical to the hourly oracle: the doubled stream must collapse back to
# exactly one copy of every event
STREAMING_DEDUP_SQL = STREAMING_HOURLY_SQL


CLICK_LOOKBACK = "4 hours"


def streaming_click_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Declared gate query for the stream-stream interval join: every
    purchase joined to the same user's clicks within the preceding
    CLICK_LOOKBACK window (purchase_click_join_stream), drained availableNow
    in append mode — inner interval joins emit eagerly on match, so a
    drained finite source yields exactly the batch join — then a bounded
    per-user attribution report computed batch-side from the sunk pairs:
    pair count, distinct clicks/purchases, min/max click-to-purchase lag.

    State both sides is watermark+range bounded (click state older than
    watermark+lookback is evicted) — the shape that runs forever at
    cluster scale. The DuckDB oracle is the equivalent batch interval
    self-join, so a dropped or duplicated join row hash-mismatches."""
    pairs = purchase_click_join_stream(
        read_events_stream(spark, sf_dir),
        lookback=CLICK_LOOKBACK,
        watermark="2 hours",
    )
    sunk = _drain_to_local(spark, pairs, "append", "stream_attr")
    return (
        sunk.groupBy("user_id")
        .agg(
            F.count("*").alias("n_pairs"),
            F.countDistinct("click_id").alias("n_clicks"),
            F.countDistinct("purchase_id").alias("n_purchases"),
            F.min(F.col("purchase_s") - F.col("click_s")).alias("min_lag_s"),
            F.max(F.col("purchase_s") - F.col("click_s")).alias("max_lag_s"),
        )
        .orderBy("user_id")
    )


SESSION_USER_CAP = 300  # bound the gated result; filter pushes to the scan


def streaming_sessionize_custom(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Declared gate query for the CUSTOM stateful operator API
    (``applyInPandasWithState``): per-user gap-sessionization carried in
    explicit group state (`sessionize_stream` — last event time + running
    session counters per user, new session on a >30-min gap), drained
    availableNow in update mode.

    The other three streaming gate queries cover Spark's BUILT-IN state
    (windowed agg, dropDuplicatesWithinWatermark, stream-stream join);
    this one gates the hand-written state machine — the escape hatch the
    north star names for operators the built-ins can't express.

    Update-mode drains emit a group's running aggregate once per
    micro-batch it appears in; every counter is monotone non-decreasing,
    so the batch-side ``max`` per user reconstructs the FINAL state
    regardless of how many micro-batches the drain split into (no
    single-batch assumption needed, unlike streaming_dedup_counts).

    The oracle is the batch lag()+running-sum sessionization — the
    stream's final state must equal the batch fold exactly (the same
    equivalence tests/test_streaming.py pins, here value-hashed by the
    driver). State is per-user and bounded; keyed state partitions with
    the shuffle at cluster scale."""
    ev = read_events_stream(spark, sf_dir).filter(
        F.col("user_id") < SESSION_USER_CAP
    )
    sess = sessionize_stream(ev)
    sunk = _drain_to_local(spark, sess, "update", "stream_sess")
    return (
        sunk.groupBy("user_id")
        .agg(
            F.max("n_sessions").alias("n_sessions"),
            F.max("max_session_events").alias("max_session_events"),
            F.max("n_events").alias("n_events"),
        )
        .orderBy("user_id")
    )


STREAMING_SESSIONIZE_SQL = f"""
WITH e AS (
  SELECT user_id, epoch_us(ts) AS ts_us FROM events WHERE user_id < {SESSION_USER_CAP}),
d AS (
  SELECT user_id, ts_us,
         CASE WHEN lag(ts_us) OVER (PARTITION BY user_id ORDER BY ts_us) IS NULL
                   OR ts_us - lag(ts_us) OVER (PARTITION BY user_id ORDER BY ts_us)
                      > {SESSION_GAP_US}
              THEN 1 ELSE 0 END AS new_s
  FROM e),
s AS (
  SELECT user_id,
         sum(new_s) OVER (PARTITION BY user_id ORDER BY ts_us
                          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
  FROM d),
ps AS (SELECT user_id, sid, count(*) AS n FROM s GROUP BY 1, 2)
SELECT user_id,
       count(*) AS n_sessions,
       max(n) AS max_session_events,
       CAST(sum(n) AS BIGINT) AS n_events
FROM ps GROUP BY user_id ORDER BY user_id
"""


STREAMING_CLICK_ATTR_SQL = """
SELECT p.user_id AS user_id,
       count(*) AS n_pairs,
       count(DISTINCT c.event_id) AS n_clicks,
       count(DISTINCT p.event_id) AS n_purchases,
       min(epoch_us(p.ts) // 1000000 - epoch_us(c.ts) // 1000000) AS min_lag_s,
       max(epoch_us(p.ts) // 1000000 - epoch_us(c.ts) // 1000000) AS max_lag_s
FROM events p
JOIN events c
  ON c.user_id = p.user_id
 AND p.event_type = 'purchase'
 AND c.event_type = 'click'
 AND c.ts >= p.ts - INTERVAL 4 HOUR
 AND c.ts <= p.ts
GROUP BY p.user_id
ORDER BY user_id
"""
