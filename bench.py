#!/usr/bin/env python
"""Benchmark harness: times every declared query and prints ONE JSON line.

What is timed:
1. every declared query at $SPARK_GRAFT_SF_DIR (default sf0.1) except
   ``SKIP``, plus the NumPy twin ``knn_topk_numpy``; best of $BENCH_RUNS
   runs each. The two index builds are timed the same way but recorded
   under ``builds``, outside the headline total;
2. a microbench shaped like the reference's src/bin/benchmark.rs (insert,
   save and top-10 query over 100k x 1024 f32 vectors), so the record
   compares directly with BASELINE.md's published numbers.

Each run sits inside one ``StructCapture``, so every row carries the jobs,
stages and tasks of its last run under ``structure``.

Output: the payload is written to BENCH.json first (or to the partial-mode
file, see ``resolve_modes``), then Spark stops, and the same JSON is the
last stdout line. Exit code 2 means a tripwire fired: a query ran more than
3x its prior wall time, or more than 1.5x its prior task count. Priors come
only from the committed BENCH.json at HEAD with this run's sf and master.
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil
import subprocess
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from pyspark.sql import functions as F  # noqa: E402

from nano_vectordb_rs_spark.session import get_spark  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
RUNS = int(os.environ.get("BENCH_RUNS", "2"))
# The micros are the baseline comparison and take about 1 s each, so they
# follow the reference's own protocol: 5 runs, mean ± std
# (src/bin/benchmark.rs:10,137-141). Best of 2 swung ±40% with host load.
MICRO_RUNS = 5
MICRO_ROWS = 100_000
MICRO_DIM = 1024

# every declared query except:
# - ann_recall: a driver-side composition of three other timed plans —
#   timing it would double-count them;
# - reference_json_roundtrip: the reference's single-JSON-document format is
#   driver-bound BY DESIGN (orderBy.collect into one document) — at sf0.1 it
#   times driver JSON serialization, not the engine. The oracle parity
#   tests keep its correctness check; the API stays as a migration path.
# - ann_pq_topk: the inline build+probe demo — it re-encodes the whole
#   corpus on every execution, so timing it reports INDEX-BUILD cost as
#   query cost. The build is timed on its own as ``pq_build_codes`` below;
#   the probe is timed as ``ann_pq_codes_topk``.
SKIP = {"ann_recall", "reference_json_roundtrip", "ann_pq_topk"}


def resolve_modes(env=None) -> tuple[bool, set[str], str]:
    """Partial-run switches.

    - ``BENCH_MICRO_ONLY=1``: run only the 100k x 1024 micros.
    - ``BENCH_ONLY=name1,name2``: run only the named headline queries
      (``knn_topk_numpy`` / ``pq_build_codes`` / ``minhash_index_build``
      are addressable too).

    Either switch makes the run partial: output goes to a mode-derived
    default (override: ``BENCH_OUT``) so a subset record never clobbers
    BENCH.json. A BENCH_ONLY default is derived from the query set, so a
    re-run of the same set refreshes its own file and a different set can
    never overwrite it.
    """
    env = os.environ if env is None else env
    micro_only = env.get("BENCH_MICRO_ONLY", "") == "1"
    only = {n.strip() for n in env.get("BENCH_ONLY", "").split(",") if n.strip()}
    partial = micro_only or bool(only)
    out = env.get("BENCH_OUT") or (
        retime_default_out(only)
        if only
        else "MICRO_RETIME.json"
        if micro_only
        else "BENCH.json"
    )
    return micro_only, only, out


def retime_default_out(only: set[str]) -> str:
    """Mode-derived default filename for a BENCH_ONLY run: stable for a
    given query set, distinct for any other set."""
    digest = hashlib.sha1(",".join(sorted(only)).encode()).hexdigest()[:10]
    return f"RETIME_QUERIES_{digest}.json"


def validate_only_names(only: set[str], queries: dict) -> list[str]:
    """The BENCH_ONLY names that name nothing timeable (unknown or
    SKIP-listed); the caller exits non-zero instead of writing an empty
    record that looks valid."""
    addressable = (set(queries) - SKIP) | {
        "knn_topk_numpy",
        "pq_build_codes",
        "minhash_index_build",
    }
    return sorted(only - addressable)


def load_priors(
    names: set[str], sf: str, master: str
) -> tuple[dict[str, float], dict[str, dict]]:
    """``(times, structure)`` for ``names`` from the committed BENCH.json
    at HEAD, or two empty maps when git or that file is missing or the
    record ran at another sf or master (core count alone moves wall time
    by up to 2.5x). Never the working tree: every run overwrites
    BENCH.json, and a slow run must not become the next run's prior."""
    here = os.path.dirname(os.path.abspath(__file__))
    try:
        shown = subprocess.run(
            ["git", "-C", here, "show", "HEAD:./BENCH.json"],
            capture_output=True, text=True, timeout=30,
        )
        rec = json.loads(shown.stdout) if shown.returncode == 0 else {}
    except (OSError, subprocess.SubprocessError, ValueError):
        rec = {}
    if (
        not isinstance(rec, dict)
        or str(rec.get("sf")) != str(sf)
        or (rec.get("config") or {}).get("master") != master
    ):
        return {}, {}
    times = {
        k: float(v)
        for k, v in (rec.get("queries") or {}).items()
        if k in names and isinstance(v, (int, float)) and v > 0
    }
    structure = {
        k: v
        for k, v in (rec.get("structure") or {}).items()
        if k in names and isinstance(v, dict)
    }
    return times, structure


def detect_regressions(
    results: dict[str, float], prior: dict[str, float], factor: float = 3.0
) -> dict[str, dict[str, float]]:
    """Wall tripwire: entries whose best-of-N exceeds ``factor``x their
    prior. A non-empty map lands in BENCH.json and flips the exit code."""
    return {
        name: {"best_sec": t, "prior_best_sec": prior[name]}
        for name, t in results.items()
        if name in prior and t > factor * prior[name]
    }


class StructCapture:
    """Jobs, stages and total tasks one execution launched, read from the
    JVM SparkStatusTracker. Host load inflates wall time but cannot change
    how many tasks a plan runs, so this separates a loud box from a plan
    regression. The job-id snapshot is taken outside the timed window and
    the walk after it, so the clock sees neither."""

    def __init__(self, spark) -> None:
        self._st = spark.sparkContext._jsc.sc().statusTracker()
        self.last: dict[str, int] | None = None

    def snapshot(self) -> set[int]:
        return set(list(self._st.getJobIdsForGroup(None)))

    def record(self, before: set[int]) -> dict[str, int]:
        new_jobs = sorted(self.snapshot() - before)
        n_stages = n_tasks = 0
        for j in new_jobs:
            info = self._st.getJobInfo(j)
            if info.isDefined():
                for s in list(info.get().stageIds()):
                    si = self._st.getStageInfo(s)
                    if si.isDefined():
                        n_stages += 1
                        n_tasks += si.get().numTasks()
        self.last = {"jobs": len(new_jobs), "stages": n_stages, "tasks": n_tasks}
        return self.last


def timed_structured(fn, runs: int, cap: "StructCapture | None") -> float:
    """Best-of-``runs`` wall time, with a structural snapshot around every
    run; ``cap.last`` holds the final (steady-state) run's counts."""
    times = []
    for _ in range(runs):
        before = cap.snapshot() if cap is not None else None
        t0 = time.perf_counter()
        fn()
        times.append(round(time.perf_counter() - t0, 4))
        if cap is not None:
            cap.record(before)
    return round(min(times), 4)


def micro_timed(fn, cap: "StructCapture | None") -> dict:
    """The reference's protocol: MICRO_RUNS runs of ``fn``, recorded as
    runs, mean and std."""
    runs = [timed_structured(fn, 1, cap) for _ in range(MICRO_RUNS)]
    mean = sum(runs) / len(runs)
    std = (sum((t - mean) ** 2 for t in runs) / len(runs)) ** 0.5
    return {"runs": runs, "mean": round(mean, 4), "std": round(std, 4)}


def detect_structure_regressions(
    structure: dict[str, dict],
    prior: dict[str, dict],
    factor: float = 1.5,
    slack: int = 8,
) -> dict[str, dict]:
    """Structural tripwire: entries whose total task count grew past
    ``factor``x their prior, plus ``slack`` tasks of absolute headroom so a
    4-task query cannot flap on an AQE split."""
    out: dict[str, dict] = {}
    for name, s in structure.items():
        p = prior.get(name)
        if not isinstance(p, dict):
            continue
        pt = p.get("tasks") or 0
        if pt and s.get("tasks", 0) > factor * pt + slack:
            out[name] = {
                "tasks": s.get("tasks"),
                "prior_tasks": pt,
                "jobs": s.get("jobs"),
                "prior_jobs": p.get("jobs"),
            }
    return out


def main() -> None:
    import __spark_entry__ as entry_mod
    from nano_vectordb_rs_spark.operators.fastknn import knn_topk_fast

    micro_only, only, out_name = resolve_modes()
    partial = micro_only or bool(only)
    # BENCH_MICRO_ONLY runs the micro group, BENCH_ONLY=a,b exactly those
    # headline/build names; combined, both run. A full run runs everything.
    run_micros = micro_only or not partial

    queries = entry_mod.queries()
    bad = validate_only_names(only, queries)
    if bad:
        print(
            f"[bench] BENCH_ONLY names not addressable (unknown or "
            f"SKIP-listed): {bad}",
            file=sys.stderr,
        )
        sys.exit(3)

    spark = get_spark("nano-vectordb-rs-spark-bench")
    spark.sparkContext.setLogLevel("ERROR")
    sf = SF_DIR.rstrip("/").split("sf")[-1]

    results: dict[str, float] = {}
    errors: dict[str, str] = {}
    # jobs/stages/tasks per entry, from its final timed run
    structure: dict[str, dict] = {}

    def timed_entry(name: str, fn) -> float:
        cap = StructCapture(spark)
        t = timed_structured(fn, RUNS, cap)
        structure[name] = cap.last
        return t

    def wanted(name: str) -> bool:
        return not partial or name in only

    # warmup: JVM + parquet footers (the micros warm their own path)
    if not micro_only or only:
        warm = next((n for n in sorted(only) if n in queries), "knn_topk")
        queries[warm](spark, SF_DIR).collect()

    for name in sorted(queries):
        if name in SKIP or not wanted(name):
            continue
        q = queries[name]
        try:
            results[name] = timed_entry(
                name, lambda q=q: q(spark, SF_DIR).collect()
            )
        except Exception as exc:  # noqa: BLE001 — one bad query must not
            # zero the whole record
            errors[name] = f"{type(exc).__name__}: {exc}"[:500]

    # NumPy fast path vs pure-SQL path for the flagship shape
    if wanted("knn_topk_numpy"):
        results["knn_topk_numpy"] = timed_entry(
            "knn_topk_numpy", lambda: knn_topk_fast(spark, SF_DIR).collect()
        )

    # Index builds are once-per-corpus costs that every probe amortizes, so
    # they sit in their own section, outside the headline total. Each run
    # writes a fresh path so the content-keyed cache cannot hide the work.
    builds: dict[str, float] = {}
    if wanted("pq_build_codes"):
        from nano_vectordb_rs_spark.operators.similarity import pq_codes_df

        pq_tmp = "/tmp/nvdb_bench_pq_codes"
        builds["pq_build_codes"] = timed_entry(
            "pq_build_codes",
            lambda: pq_codes_df(spark, SF_DIR)
            .write.mode("overwrite")
            .parquet(pq_tmp),
        )
        shutil.rmtree(pq_tmp, ignore_errors=True)

    if wanted("minhash_index_build"):
        from nano_vectordb_rs_spark.operators.dedup import _band_index_df

        mh_tmp = "/tmp/nvdb_bench_mh_index"
        builds["minhash_index_build"] = timed_entry(
            "minhash_index_build",
            lambda: _band_index_df(spark, SF_DIR, corpus=True)
            .write.mode("overwrite")
            .partitionBy("band")
            .parquet(mh_tmp),
        )
        shutil.rmtree(mh_tmp, ignore_errors=True)

    micro_stats, size_mb = (
        run_micro_group(spark, results, structure)
        if run_micros
        else ({}, 0.0)
    )

    master = spark.sparkContext.master
    prior, prior_structure = load_priors(set(results) | set(builds), sf, master)
    total = round(sum(results.values()), 4)
    regressions = detect_regressions(results, prior)
    structure_regressions = detect_structure_regressions(
        structure, prior_structure
    )
    # the wall tripwire carries its task counts: flat tasks read as host
    # noise, grown tasks as a plan regression
    for name, row in regressions.items():
        if name in structure:
            row["tasks"] = structure[name].get("tasks")
        if name in prior_structure:
            row["prior_tasks"] = prior_structure[name].get("tasks")
    # the reference's published microbench (BASELINE.md: MacBook M4,
    # 100k x 1024 f32); same workload shape, ours runs the full Spark stack
    baseline = (
        {
            "ref_insert_sec": 0.175,
            "ours_insert_sec": results["micro_insert_100k_1024"],
            "ref_query_sec": 0.013,
            "ours_query_sec": results["micro_query_100k_1024"],
            "ref_file_mb": 540.0,
            "ours_file_mb": round(size_mb, 1),
        }
        if run_micros
        else None
    )
    payload = json.dumps(
        {
            # a partial run reports its subset total under another metric
            # name so it is never compared against a full record
            "metric": "headline_total_sec" if not partial else "partial_total_sec",
            "value": total,
            "unit": "sec",
            "mode": (
                "full"
                if not partial
                else "micro_only"
                if micro_only and not only
                else "only:" + ",".join(sorted(only))
                + (",micros" if micro_only else "")
            ),
            # errored queries shrink the total, so flag them
            "n_errors": len(errors),
            "partial": bool(errors) or partial,
            "regressions": regressions,
            "structure_regressions": structure_regressions,
            "queries": results,
            "structure": structure,
            "builds": builds,
            "errors": errors,
            "sf": sf,
            "baseline": baseline,
            "micro_stats": micro_stats,
            "config": {
                "master": master,
                "cores": spark.sparkContext.defaultParallelism,
                "driver_memory": spark.conf.get("spark.driver.memory", None),
                "shuffle_partitions": spark.conf.get("spark.sql.shuffle.partitions"),
                "runs": RUNS,
                "aqe": spark.conf.get("spark.sql.adaptive.enabled"),
                "micro_file_mb": round(size_mb, 1),
            },
        }
    )
    # Durable copy first: Spark's async stdout chatter can interleave with
    # the printed line.
    out_path = os.path.join(os.path.dirname(os.path.abspath(__file__)), out_name)
    with open(out_path, "w") as fh:
        fh.write(payload + "\n")
    # Stop Spark BEFORE printing so no executor/log output can trail or
    # interleave; then emit the JSON alone as the true final stdout line.
    spark.stop()
    sys.stdout.flush()
    sys.stderr.flush()
    print(payload, flush=True)
    if regressions:
        print(
            f"[bench] REGRESSION TRIPWIRE: {sorted(regressions)} exceed 3x "
            "their committed prior time",
            file=sys.stderr,
        )
    if structure_regressions:
        print(
            f"[bench] STRUCTURE TRIPWIRE: {sorted(structure_regressions)} "
            "run >1.5x the task count of the committed BENCH.json structure "
            "— plan regression, not ambient noise",
            file=sys.stderr,
        )
    if regressions or structure_regressions:
        sys.exit(2)


def run_micro_group(
    spark, results: dict[str, float], structure: dict[str, dict]
) -> tuple[dict, float]:
    """The reference-shaped microbench (100k x 1024, like benchmark.rs).
    Vector generation sits outside the timed window, as in the reference.
    Each micro runs MICRO_RUNS times, recorded as runs, mean and std; its
    best goes to ``results``. Returns (micro_stats, persisted_size_mb)."""
    from nano_vectordb_rs_spark.functions.vector import deterministic_vector
    from nano_vectordb_rs_spark.operators.fastknn import (
        normalize_ml,
        topk_over,
    )

    micro_stats: dict = {}

    def timed_micro(name: str, fn) -> None:
        cap = StructCapture(spark)
        micro_stats[name] = micro_timed(fn, cap)
        results[name] = min(micro_stats[name]["runs"])
        structure[name] = cap.last

    raw_path = "/tmp/nvdb_bench_raw"
    tmp = "/tmp/nvdb_bench_collection"
    shutil.rmtree(raw_path, ignore_errors=True)
    shutil.rmtree(tmp, ignore_errors=True)

    (
        spark.range(MICRO_ROWS)
        .select(
            F.col("id").cast("string").alias("__id__"),
            F.expr(
                f"transform(sequence(0, {MICRO_DIM - 1}), "
                f"j -> CAST(pmod(hash(id * {MICRO_DIM} + j), 1000) / 1000.0 - 0.5 AS FLOAT))"
            ).alias("vector"),
        )
        .write.mode("overwrite")
        .parquet(raw_path)
    )

    # insert = normalize the in-memory matrix (the reference times in-memory
    # upsert only, README.md:120, over vectors generated before the clock,
    # src/bin/benchmark.rs:84-96). normalize_ml is the JVM-side path
    # collection.upsert takes. One cached partition per core keeps the
    # normalize stage gap-free.
    n_cores = spark.sparkContext.defaultParallelism
    raw = spark.read.parquet(raw_path).repartition(n_cores).persist()
    elem1 = F.sum(F.expr("element_at(vector, 1)"))
    raw.agg(elem1).collect()
    normalized = normalize_ml(raw)
    # warm the path once (JIT, code cache); the reference has no cold start
    normalized.agg(elem1).collect()

    # the cached-raw pass with no normalize: micro_insert minus this is the
    # normalize path's own cost
    timed_micro("micro_insert_scan_floor", lambda: raw.agg(elem1).collect())
    # The Normalizer is an opaque Scala UDF, so element_at(, 1) still forces
    # the full normalize per row. No cache churn in the timed loop: repeated
    # unpersist/persist cycles slow every later measurement.
    timed_micro("micro_insert_100k_1024", lambda: normalized.agg(elem1).collect())

    # one persisted copy feeds the save/query micros (materialized once,
    # outside any timed window)
    normalized = normalized.persist()
    normalized.agg(elem1).collect()

    # save = persist the collection to Parquet (reference: 540 MB JSON)
    timed_micro(
        "micro_save_100k_1024",
        lambda: normalized.write.mode("overwrite").parquet(tmp),
    )
    size_mb = sum(
        os.path.getsize(os.path.join(tmp, f)) for f in os.listdir(tmp)
    ) / 1e6

    # query = top-10 cosine over the in-memory collection, NumPy/Arrow path
    # (the reference's 13 ms query is in-memory brute force over 100k x 1024)
    qvec = deterministic_vector(MICRO_DIM, seed=7)

    def micro_query():
        topk_over(normalized, qvec, k=10, assume_normalized=True).collect()

    # warm once like the insert path: the first call after the save micro
    # ran 1.5-3.5x the later ones
    micro_query()
    timed_micro("micro_query_100k_1024", micro_query)
    normalized.unpersist()
    raw.unpersist()
    shutil.rmtree(raw_path, ignore_errors=True)
    return micro_stats, size_mb


if __name__ == "__main__":
    main()
