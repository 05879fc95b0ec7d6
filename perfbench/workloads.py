"""The workloads: one benchmark run from generated inputs to checked results.

Both workloads share one shape. They generate their inputs, start a Spark
session, load the collection their ops read through the public write path
(upsert, delete, save, reopen) and check it survived on disk, set up several
times to measure set-up, and run their timed ops in a closed loop with one
client. Last, on the JVM the run has warmed, they time the write path: six
upsert-and-save cycles into a fresh collection. Results are checked only
after the timed window ends.

* ``serve_query`` serves a seeded mix of top-k, threshold, filtered and
  point-lookup calls over a 20k x 256 collection.
* ``pipeline_suite`` runs four declared batch operators of ``__spark_entry__``
  over generated fixture tables, plus one ``query_batch`` of 16 queries.
"""

from __future__ import annotations

import os
import time
import traceback
from contextlib import contextmanager

import numpy as np

from perfbench import checks, gen
from perfbench.trace import Recorder, median, tail

SETUP_REPS = 3


class Run:
    """One run's session, recorder, failure counts and reported values."""

    def __init__(self, root: str, seed: int, seconds: float, tracing: bool):
        self.root, self.seed, self.seconds = root, seed, seconds
        self.rec = Recorder(tracing)
        self.rngs = [np.random.default_rng(s) for s in np.random.SeedSequence(seed).spawn(7)]
        self.spark = None
        self.attempted = 0
        self.failed = 0
        self.problems: list[dict] = []
        self.values: dict[str, float] = {}
        self.info: dict = {"seed": seed}

    # -- session ------------------------------------------------------------

    def start_session(self) -> None:
        from nano_vectordb_rs_spark import get_spark

        t0 = time.perf_counter()
        with self.rec.span("session.start"):
            self.spark = get_spark("perfbench")
        self.values["session.start_s"] = time.perf_counter() - t0
        self.rec.attach(self.spark)

    def restart_session(self) -> float:
        from nano_vectordb_rs_spark import get_spark

        t0 = time.perf_counter()
        with self.rec.span("session.restart"):
            self.spark.stop()
            self.spark = get_spark("perfbench")
        self.rec.attach(self.spark)
        return time.perf_counter() - t0

    @contextmanager
    def phase(self, name: str):
        """Time one phase of the run into ``info["phases_s"]``."""
        t0 = time.perf_counter()
        with self.rec.span(f"phase.{name}"):
            yield
        self.info.setdefault("phases_s", {})[name] = round(time.perf_counter() - t0, 3)

    # -- outcomes -----------------------------------------------------------

    def outcome(self, what: str, problems: list[str]) -> None:
        self.attempted += 1
        if problems:
            self.failed += 1
            self.problems.append({"op": what, "problems": problems[:3]})

    def call(self, kind: str, build, execute=None):
        """One timed op; a raising op counts as attempted and failed."""
        try:
            return self.rec.op(kind, build, execute)
        except Exception:
            self.outcome(kind, [traceback.format_exc(limit=3)[-600:]])
            return None, None


# ---------------------------------------------------------------------------
# shared phases
# ---------------------------------------------------------------------------


def _dir_bytes(path: str) -> tuple[int, int, int]:
    """(all bytes, parquet bytes, parquet files) under ``path``."""
    total = pq_bytes = pq_files = 0
    for dirpath, _, names in os.walk(path):
        for n in names:
            size = os.path.getsize(os.path.join(dirpath, n))
            total += size
            if n.endswith(".parquet"):
                pq_bytes += size
                pq_files += 1
    return total, pq_bytes, pq_files


def _schema():
    from pyspark.sql import types as T

    return T.StructType(
        [T.StructField("label", T.IntegerType()), T.StructField("category", T.StringType())]
    )


def _get_rows(rows) -> list[tuple]:
    return [(r["__id__"], r["label"], r["category"], r["vector"]) for r in rows]


def play(run: Run, plan: gen.CollectionPlan, path: str, model: checks.VectorModel,
         kind: str) -> tuple[list[float], int]:
    """Play the plan's writes through the public API as ops named
    ``<kind>.upsert`` / ``.delete`` / ``.save``, reopen from disk and check
    every acknowledged write against the model. Returns each upsert's rows
    per second and the parquet bytes the saves wrote."""
    from nano_vectordb_rs_spark import VectorCollection

    spark = run.spark
    coll = VectorCollection.open(spark, plan.dim, path, metadata_schema=_schema())
    known: set[str] = set()
    rates, parquet_written = [], 0
    for step, arg in plan.steps:
        if step == "upsert":
            bdir, ids = plan.batch_dirs[arg], plan.batch_ids[arg]
            rec, report = run.rec.op(
                f"{kind}.upsert", lambda d=bdir: coll.upsert(spark.read.parquet(d))
            )
            rates.append(plan.batch_rows[arg] / rec.wall_s)
            fresh = set(ids)
            run.outcome(f"{kind}.upsert", checks.check_upsert_report(
                report, fresh & known, fresh - known))
            known |= fresh
        elif step == "delete":
            run.rec.op(f"{kind}.delete", lambda ids=arg: coll.delete(ids))
            known -= set(arg)
            run.attempted += 1
        else:
            run.rec.op(f"{kind}.save", coll.save)
            run.attempted += 1
            parquet_written += _dir_bytes(path)[1]
    # durability: a fresh handle reads back exactly the acknowledged state
    reopened = VectorCollection.open(spark, plan.dim, path)
    sample = sorted(run.rngs[5].choice(model.ids, 64, replace=False).tolist())
    run.spark.sparkContext.setJobGroup("check", "check")
    run.outcome(f"{kind}.durability", checks.check_durable(
        reopened.count(), _get_rows(reopened.get(sample).collect()), sample, model))
    return rates, parquet_written


def load(run: Run, plan: gen.CollectionPlan, path: str, model: checks.VectorModel) -> None:
    """Build the collection the timed ops read; its writes are checked but
    feed no metric, as they run while the JIT is still cold."""
    play(run, plan, path, model, "load")
    run.info["collection"] = {
        "rows_upserted": sum(plan.batch_rows),
        "live_rows": len(model.ids),
        "dim": plan.dim,
        "bytes_on_disk": _dir_bytes(path)[0],
    }


# The write path, timed on a warm JVM: six cycles of upserting 1,000 new ids
# (~10% more update earlier ones) and saving, one delete after the first.
# A lone save or upsert early in a run is too few samples, and the JIT is
# still speeding them up then.
WRITE_DIM = 64
WRITE_BATCHES = [1000] * 6


def write_cycles(run: Run) -> None:
    """Time upserts and saves into a fresh collection; the write metrics."""
    plan = gen.collection_plan(
        run.rngs[6], os.path.join(run.root, "write"), WRITE_DIM, WRITE_BATCHES,
        save_after=set(range(len(WRITE_BATCHES))), delete_after=0, n_delete=20,
        files_per_batch=2,
    )
    model = checks.VectorModel(plan.model)
    path = os.path.join(run.root, "collections", "write")
    rates, parquet_written = play(run, plan, path, model, "collection")
    live_bytes = sum(
        gen.row_bytes(plan.dim, rid, model.categories[i]) for i, rid in enumerate(model.ids)
    )
    total, _, files = _dir_bytes(path)
    run.values.update(
        {
            "upsert_rows_per_s": median(rates),
            "write_amp": parquet_written / plan.user_bytes,
            "space_amp": total / live_bytes,
            "storage.bytes_written": float(parquet_written),
            "storage.files": float(files),
        }
    )
    ops = [o for o in run.rec.ops if o.kind.startswith("collection.")]
    by = lambda k: [o for o in ops if o.kind == k]  # noqa: E731
    run.values["save_p50_s"] = median(o.wall_s for o in by("collection.save"))
    run.values["collection.save_s"] = run.values["save_p50_s"]
    run.values["collection.upsert_ms"] = 1e3 * median(o.wall_s for o in by("collection.upsert"))
    run.values["collection.delete_ms"] = 1e3 * median(o.wall_s for o in by("collection.delete"))
    if run.rec.tracing:
        ups = by("collection.upsert")
        run.values["upsert.jobs"] = float(np.mean([o.counters["spark.jobs"] for o in ups]))
        inputs = [o.counters["executor.input_bytes"] for o in ups]
        run.values["upsert.input_bytes"] = float(np.mean(inputs))
        run.info["upsert_input_bytes"] = inputs
    run.info["write_ops_s"] = [(o.kind, round(o.wall_s, 3)) for o in ops]
    run.info["write_inputs"] = {"batches": plan.batch_rows, "dim": WRITE_DIM,
                                "user_bytes": plan.user_bytes}


def setup(run: Run, dim: int, path: str, model: checks.VectorModel):
    """Set up ``SETUP_REPS`` times: restart the session, open the saved
    collection and answer one top-k query. ``setup_s`` is the median time
    to that first answer, so work moved into set-up or left for the first
    call both show."""
    from nano_vectordb_rs_spark import VectorCollection

    first = [float(x) for x in run.rngs[3].standard_normal(dim).astype(np.float32)]
    totals, restarts, opens = [], [], []
    coll = None
    for _ in range(SETUP_REPS):
        t0 = time.perf_counter()
        restarts.append(run.restart_session())
        t1 = time.perf_counter()
        with run.rec.span("collection.open"):
            coll = VectorCollection.open(run.spark, dim, path)
        opens.append(time.perf_counter() - t1)
        _, rows = run.rec.op("first_query", lambda c=coll: c.query(first, top_k=gen.TOP_K),
                             lambda df: df.collect())
        totals.append(time.perf_counter() - t0)
        got = [(r["__id__"], r["__metrics__"]) for r in rows]
        run.outcome("first_query", checks.check_topk(got, model.ids, model.scores(first),
                                                     gen.TOP_K))
    run.values.update(
        {
            "setup_s": median(totals),
            "session.restart_s": median(restarts),
            "collection.open_s": median(opens),
        }
    )
    return coll


def closed_loop(run: Run, calls, seconds: float | None = None):
    """Issue ``calls`` (op, kind, build, execute) one after another, each
    when the previous one has returned, until they run out or ``seconds``
    have passed. Returns the (op, record, result) triples of the calls that
    did not raise, and the window's wall seconds."""
    done = []
    t0 = time.perf_counter()
    for op, kind, build, execute in calls:
        rec, result = run.call(kind, build, execute)
        if rec is not None:
            done.append((op, rec, result))
        if seconds is not None and time.perf_counter() - t0 >= seconds:
            break
    return done, time.perf_counter() - t0


def _op_values(run: Run, done, window_s: float) -> None:
    """End-to-end op metrics and, when tracing, per-op layer means."""
    walls = [rec.wall_s for _, rec, _ in done]
    run.values["op_geomean_ms"] = 1e3 * float(np.exp(np.mean(np.log(walls))))
    run.values["ops_per_s"] = len(walls) / window_s
    if not run.rec.tracing:
        return
    recs = [rec for _, rec, _ in done]
    run.values["op.build_ms"] = 1e3 * median(r.phases["build_s"] for r in recs)
    run.values["op.exec_ms"] = 1e3 * median(r.phases["exec_s"] for r in recs)
    keys = set().union(*(r.counters for r in recs))
    for k in sorted(keys):
        run.values[k] = float(np.mean([r.counters.get(k, 0.0) for r in recs]))
    run.values["driver.gap_ms"] = float(
        np.mean([1e3 * r.wall_s - r.counters["spark.job_wall_ms"] for r in recs])
    )
    n_traced = len(run.rec.ops)
    run.values["trace.overhead_ms"] = 1e3 * run.rec.trace_s / max(n_traced, 1)


# ---------------------------------------------------------------------------
# serve_query
# ---------------------------------------------------------------------------

SERVE_DIM = 256
SERVE_BATCHES = [14000, 6000]  # fresh ids per batch -> ~20k live rows


def serve_query(run: Run) -> None:
    from pyspark.sql import functions as F

    with run.phase("generate"):
        plan = gen.collection_plan(
            run.rngs[0], os.path.join(run.root, "gen"), SERVE_DIM, SERVE_BATCHES,
            save_after={1}, delete_after=1, n_delete=40, files_per_batch=4,
        )
        model = checks.VectorModel(plan.model)
        ops = gen.serve_ops(run.rngs[1], plan, 4000)
        warm = gen.serve_ops(run.rngs[2], plan, 0, kinds=sorted(set(gen.SERVE_BLOCK)))
    run.info["inputs"] = {"batches": plan.batch_rows, "dim": SERVE_DIM, "planned_ops": len(ops)}

    with run.phase("session"):
        run.start_session()
    path = os.path.join(run.root, "collections", "serve")
    with run.phase("load"):
        load(run, plan, path, model)
    with run.phase("setup"):
        coll = setup(run, SERVE_DIM, path, model)

    def call_for(op):
        kind = op["kind"]
        if kind == "get":
            return op, kind, lambda: coll.get(op["ids"]), lambda df: df.collect()
        where = F.col("label") == op["label"] if kind == "where" else None
        return op, kind, (lambda: coll.query(
            op["vector"], top_k=gen.TOP_K, better_than=op.get("better_than"), where=where
        )), lambda df: df.collect()

    with run.phase("warmup"):  # untimed: each kind's first call after a restart
        closed_loop(run, map(call_for, warm))
    with run.phase("window"):
        done, window = closed_loop(run, map(call_for, ops), run.seconds)
    with run.phase("write"):
        write_cycles(run)

    with run.phase("check"):
        _check_serving(run, done, model)

    _op_values(run, done, window)
    per_kind = {}
    for kind in ("query", "better_than", "where", "get"):
        ms = [1e3 * rec.wall_s for op, rec, _ in done if op["kind"] == kind]
        pct, value, n = tail(ms)
        per_kind[kind] = {"n": n, "p50_ms": median(ms), "tail_pct": pct, "tail_ms": value}
    run.info["per_kind"] = per_kind
    run.info["window_s"] = window
    run.info["timed_ops"] = len(done)
    run.info["op_walls_ms"] = [round(1e3 * rec.wall_s, 1) for _, rec, _ in done]


def _check_serving(run: Run, done, model: checks.VectorModel) -> None:
    for op, _, rows in done:
        kind = op["kind"]
        if kind == "get":
            problems = checks.check_get(_get_rows(rows), op["ids"], model)
        else:
            ids, scores = model.ids, model.scores(op["vector"])
            if kind == "where":
                keep = np.flatnonzero(model.labels == op["label"])
                ids, scores = [ids[i] for i in keep], scores[keep]
            got = [(r["__id__"], r["__metrics__"]) for r in rows]
            problems = checks.check_topk(got, ids, scores, gen.TOP_K, op.get("better_than"))
        run.outcome(kind, problems)


# ---------------------------------------------------------------------------
# pipeline_suite
# ---------------------------------------------------------------------------

# One declared operator per family: similarity, dedup, lifecycle and
# relational. cdc_apply_report runs most of its jobs while its DataFrame is
# built.
SUITE = (
    "knn_join",
    "minhash_near_dup_docs",
    "cdc_apply_report",
    "tpch_q8_market_share",
)
BATCH_DIM = 64
BATCH_QUERIES = 16


def oracle_digests(fixture_dir: str) -> dict[str, dict]:
    """Expected frames of the suite, from DuckDB over the same files."""
    import duckdb

    import __spark_entry__ as entry
    from nano_vectordb_rs_spark.sources.tables import TABLES

    sql = entry.oracle_sql()
    con = duckdb.connect()
    try:
        con.execute(f"SET threads={len(os.sched_getaffinity(0))}")
        con.execute("SET memory_limit='1GB'")
        for t in TABLES:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                        f"read_parquet('{fixture_dir}/{t}.parquet')")
        return {name: checks.frame_digest(con.execute(sql[name]).df()) for name in SUITE}
    finally:
        con.close()


def pipeline_suite(run: Run) -> None:
    import __spark_entry__ as entry

    fixture_dir = os.path.join(run.root, "fixture")
    with run.phase("generate"):
        rows = gen.write_fixture(run.rngs[0], fixture_dir, gen.FixtureSizes())
        plan = gen.collection_plan(
            run.rngs[1], os.path.join(run.root, "gen"), BATCH_DIM, [5000],
            save_after={0}, delete_after=0, n_delete=20, files_per_batch=2,
        )
        model = checks.VectorModel(plan.model)
        queries = gen.batch_queries(run.rngs[2], BATCH_QUERIES, BATCH_DIM)
    order_rng = run.rngs[4]
    run.info["inputs"] = {"fixture_rows": rows, "batch_collection": plan.batch_rows,
                          "batch_queries": BATCH_QUERIES, "dim": BATCH_DIM}
    with run.phase("oracle"):
        want = oracle_digests(fixture_dir)

    with run.phase("session"):
        run.start_session()
    path = os.path.join(run.root, "collections", "batch")
    with run.phase("load"):
        load(run, plan, path, model)
    with run.phase("setup"):
        coll = setup(run, BATCH_DIM, path, model)
    declared = entry.queries()

    def batch_call():
        from pyspark.sql import types as T

        schema = T.StructType([T.StructField("__id__", T.StringType()),
                               T.StructField("vector", T.ArrayType(T.FloatType()))])
        return coll.query_batch(run.spark.createDataFrame(queries, schema), top_k=gen.TOP_K)

    def call_for(name):
        if name == "query_batch":
            return name, name, batch_call, lambda df: df.collect()
        return name, name, lambda: declared[name](run.spark, fixture_dir), lambda df: df.toPandas()

    passes = []

    def whole_passes():
        """Seed-shuffled passes over the suite until ``run.seconds`` passed."""
        t0 = time.perf_counter()
        while not passes or time.perf_counter() - t0 < run.seconds:
            passes.append(order_rng.permutation(list(SUITE) + ["query_batch"]).tolist())
            yield from map(call_for, passes[-1])

    with run.phase("window"):
        done, window = closed_loop(run, whole_passes())
    with run.phase("write"):
        write_cycles(run)

    with run.phase("check"):
        _check_suite(run, done, want, queries, model)

    _op_values(run, done, window)
    n_pass = len(passes)
    per_op = {}
    for name in list(SUITE) + ["query_batch"]:
        recs = [rec for n, rec, _ in done if n == name]
        per_op[name] = {
            "wall_s": median(r.wall_s for r in recs),
            "build_s": median(r.phases.get("build_s", 0.0) for r in recs),
            "exec_s": median(r.phases.get("exec_s", 0.0) for r in recs),
        }
        if run.rec.tracing:
            per_op[name]["jobs"] = median(r.counters.get("spark.jobs", 0) for r in recs)
            per_op[name]["build_jobs"] = median(
                r.counters.get("spark.build_jobs", 0) for r in recs)
            per_op[name]["shuffle_bytes"] = median(
                r.counters.get("executor.shuffle_read_bytes", 0)
                + r.counters.get("executor.shuffle_write_bytes", 0) for r in recs)
    run.info["per_op"] = per_op
    run.info["passes"] = n_pass
    run.info["suite_wall_s"] = sum(r.wall_s for n, r, _ in done if n != "query_batch") / n_pass
    run.info["batch_topk_s"] = per_op["query_batch"]["wall_s"]
    run.info["window_s"] = window
    run.info["timed_ops"] = len(done)
    run.info["op_walls_ms"] = [round(1e3 * rec.wall_s, 1) for _, rec, _ in done]


def _check_suite(run: Run, done, want: dict, queries, model: checks.VectorModel) -> None:
    for name, _, result in done:
        if name == "query_batch":
            problems = []
            for qid, vec in queries:
                got = sorted(
                    ((r["__id__"], r["__metrics__"]) for r in result if r["__query_id__"] == qid),
                    key=lambda g: -g[1],
                )
                problems += checks.check_topk(got, model.ids, model.scores(vec), gen.TOP_K)
        else:
            problems = checks.check_frame(checks.frame_digest(result), want[name])
        run.outcome(name, problems)


WORKLOADS = {"serve_query": serve_query, "pipeline_suite": pipeline_suite}
