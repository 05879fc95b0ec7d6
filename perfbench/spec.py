"""What the benchmark reports, and which end-to-end metric each layer moves.

``BENCHMARK.json`` at the repository root lists the same workloads and
metrics; ``perfbench/selftest.py`` checks that the two agree. Every metric is
reported on every workload: each workload loads a collection, sets up, runs
timed ops and then times the write path, so each end-to-end metric has a
measured value on both.
"""

from __future__ import annotations

WORKLOADS = {
    "serve_query": (
        "read-only top-k, threshold, filtered and get calls over a 20k x 256 collection "
        "ingested first by upserts, a delete and a save: scan, kernel and per-query plan "
        "build dominate"
    ),
    "pipeline_suite": (
        "four declared batch operators over generated fixture tables plus one 16-query "
        "query_batch: driver build and job count dominate, the single-query kernel does not"
    ),
}

# name: (unit, better, bound, meaning). Wall times get the largest bound:
# on a shared 4-core host a fixed CPU loop varies by ~9% from one second to
# the next, and whole runs drift by about as much.
END_TO_END = {
    "setup_s": ("s", "lower", 0.25,
                "median over 3 set-ups of restarting the session, opening the saved "
                "collection and answering a first top-10 query"),
    "op_geomean_ms": ("ms", "lower", 0.25,
                      "geometric mean wall of the timed ops: serving calls on serve_query, "
                      "declared operators and query_batch on pipeline_suite"),
    "ops_per_s": ("1/s", "higher", 0.25,
                  "timed ops completed per second of the timed window, one client"),
    "upsert_rows_per_s": ("rows/s", "higher", 0.25,
                          "median over the write cycles' six upserts of batch rows / "
                          "upsert wall"),
    "save_p50_s": ("s", "lower", 0.25, "median wall of the write cycles' six saves"),
    "write_amp": ("ratio", "lower", 0.1,
                  "parquet bytes written by the write cycles' saves / raw bytes of the "
                  "rows they upserted"),
    "space_amp": ("ratio", "lower", 0.1,
                  "bytes of the write cycles' collection on disk / raw bytes of its "
                  "live rows"),
}

_SERVE, _SUITE = "serve_query", "pipeline_suite"
_BOTH = (_SERVE, _SUITE)

# name: (unit, better, [(end-to-end metric, workloads)], meaning)
PER_LAYER = {
    "session.start_s": ("s", "lower", [("setup_s", _BOTH)],
                        "cold get_spark, JVM launch included; set-up repeats it warm"),
    "session.restart_s": ("s", "lower", [("setup_s", _BOTH)],
                          "median stop + get_spark inside a running JVM"),
    "collection.open_s": ("s", "lower", [("setup_s", _BOTH)],
                          "median VectorCollection.open of the saved collection"),
    "collection.upsert_ms": ("ms", "lower", [("upsert_rows_per_s", _BOTH)],
                             "median upsert(read.parquet(batch)) wall"),
    "collection.delete_ms": ("ms", "lower", [("upsert_rows_per_s", _BOTH)],
                             "delete of the plan's ids (lazy: its cost lands in later calls)"),
    "upsert.jobs": ("count", "lower", [("upsert_rows_per_s", _BOTH)],
                    "mean Spark jobs per upsert"),
    "upsert.input_bytes": ("bytes", "lower", [("upsert_rows_per_s", _BOTH)],
                           "mean executor input bytes per upsert"),
    "collection.save_s": ("s", "lower", [("save_p50_s", _BOTH), ("write_amp", _BOTH)],
                          "median save wall"),
    "storage.bytes_written": ("bytes", "lower", [("save_p50_s", _BOTH), ("write_amp", _BOTH)],
                              "parquet bytes the saves wrote, summed over saves"),
    "storage.files": ("count", "lower", [("space_amp", _BOTH)],
                      "parquet files in the write cycles' final collection"),
    "op.build_ms": ("ms", "lower", [("op_geomean_ms", _BOTH), ("ops_per_s", (_SUITE,))],
                    "median DataFrame build of a timed op (array_lit parse on serve_query)"),
    "op.exec_ms": ("ms", "lower", [("op_geomean_ms", _BOTH), ("ops_per_s", _BOTH)],
                   "median materialization (collect / toPandas) of a timed op"),
    "catalyst.analysis_ms": ("ms", "lower", [("op_geomean_ms", (_SERVE,))],
                             "mean per timed op, from the QueryPlanningTracker"),
    "catalyst.optimization_ms": ("ms", "lower", [("op_geomean_ms", (_SERVE,))],
                                 "mean per timed op"),
    "catalyst.planning_ms": ("ms", "lower", [("op_geomean_ms", (_SERVE,))],
                             "mean per timed op"),
    "spark.jobs": ("count", "lower", [("ops_per_s", (_SUITE,))],
                   "mean jobs per timed op, build and execution"),
    "spark.build_jobs": ("count", "lower", [("ops_per_s", (_SUITE,))],
                         "mean jobs run while the op's DataFrame was built"),
    "spark.stages": ("count", "lower", [("ops_per_s", (_SUITE,))], "mean stages run per op"),
    "spark.tasks": ("count", "lower", [("ops_per_s", (_SUITE,)), ("op_geomean_ms", (_SERVE,))],
                    "mean tasks run per op"),
    "spark.job_wall_ms": ("ms", "lower", [("op_geomean_ms", _BOTH)],
                          "mean union of the op's job intervals"),
    "driver.gap_ms": ("ms", "lower", [("ops_per_s", (_SUITE,)), ("op_geomean_ms", (_SERVE,))],
                      "mean op wall minus job wall: driver-side build, planning, collect"),
    "executor.run_ms": ("ms", "lower", [("op_geomean_ms", _BOTH)], "mean task run time per op"),
    "executor.cpu_ms": ("ms", "lower", [("op_geomean_ms", (_SERVE,)), ("ops_per_s", (_SERVE,))],
                        "mean task CPU time per op"),
    "executor.gc_ms": ("ms", "lower", [("op_geomean_ms", _BOTH)], "mean task GC time per op"),
    "executor.input_bytes": ("bytes", "lower", [("op_geomean_ms", (_SERVE,)),
                                                ("ops_per_s", (_SERVE,))],
                             "mean task input bytes per op, as the tasks report them"),
    "scan.files": ("count", "lower", [("op_geomean_ms", (_SERVE,)), ("ops_per_s", (_SERVE,))],
                   "mean files read by the op's file scans (scan node metrics)"),
    "scan.bytes": ("bytes", "lower", [("op_geomean_ms", (_SERVE,)), ("ops_per_s", (_SERVE,))],
                   "mean size of the files the op's scans read: where pruning shows"),
    "executor.shuffle_read_bytes": ("bytes", "lower", [("ops_per_s", (_SUITE,))],
                                    "mean per op; query_batch's ranking shuffle"),
    "executor.shuffle_write_bytes": ("bytes", "lower", [("ops_per_s", (_SUITE,))],
                                     "mean per op"),
    "executor.spill_bytes": ("bytes", "lower", [("op_geomean_ms", _BOTH)],
                             "mean memory + disk spill per op"),
    "jvm.peak_rss_mb": ("MB", "lower", [],
                        "driver JVM resident high-water; the heap starts at full size, so "
                        "it mostly tracks the driver memory setting and is not gated"),
    "trace.overhead_ms": ("ms", "lower", [],
                          "tracing work per op (counter reads between ops): traced minus "
                          "untraced run time, not inside any op's wall"),
}

def benchmark_json(run_seconds: int) -> dict:
    """The BENCHMARK.json this spec describes."""
    return {
        "command": ["python3", "perfbench/run.py"],
        "paths": ["perfbench"],
        "run_seconds": run_seconds,
        "workloads": [{"name": n, "why": w} for n, w in WORKLOADS.items()],
        "end_to_end": [
            {"name": n, "unit": u, "better": b, "bound": bound}
            for n, (u, b, bound, _) in END_TO_END.items()
        ],
        "per_layer": [
            {"name": n, "unit": u, "better": b} for n, (u, b, _, _) in PER_LAYER.items()
        ],
    }
