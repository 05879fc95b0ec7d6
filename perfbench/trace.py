"""Spans and Spark counters, recorded from outside the package.

``Recorder.op`` wraps one public call of the package: it tags the call with
its own Spark job group (``<op id>.build`` while the DataFrame is built,
``<op id>.exec`` while it runs), always measures wall time, and, when
tracing, keeps a span per phase and reads the op's jobs, stages, executor
metrics and Catalyst phases once the call has returned. Counters are read
between ops, outside every timed interval. Spans stay in memory until the
run writes them out.
"""

from __future__ import annotations

import statistics
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

STAGE_FIELDS = {
    "executor.run_ms": lambda s: s.executorRunTime(),
    "executor.cpu_ms": lambda s: s.executorCpuTime() / 1e6,
    "executor.gc_ms": lambda s: s.jvmGcTime(),
    "executor.input_bytes": lambda s: s.inputBytes(),
    "executor.shuffle_read_bytes": lambda s: s.shuffleReadBytes(),
    "executor.shuffle_write_bytes": lambda s: s.shuffleWriteBytes(),
    "executor.spill_bytes": lambda s: s.memoryBytesSpilled() + s.diskBytesSpilled(),
}


@dataclass
class OpRecord:
    """One public call: its kind, wall seconds, phase walls and counters."""

    op_id: str
    kind: str
    wall_s: float
    phases: dict[str, float] = field(default_factory=dict)
    counters: dict[str, float] = field(default_factory=dict)
    error: str | None = None


class SparkCounters:
    """Reads one job group's work from the status tracker and status store.

    Stages are looked up one at a time with ``lastStageAttempt``: the
    store's ``stageList`` does not resolve through py4j.
    """

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.jsc = self.sc._jsc.sc()

    def group(self, name: str) -> None:
        self.sc.setJobGroup(name, name)

    def read(self, group: str) -> dict[str, float]:
        self.jsc.listenerBus().waitUntilEmpty()
        tracker, store = self.sc.statusTracker(), self.jsc.statusStore()
        out = dict.fromkeys(STAGE_FIELDS, 0.0)
        out.update({"spark.jobs": 0, "spark.stages": 0, "spark.tasks": 0})
        intervals = []
        for job in tracker.getJobIdsForGroup(group):
            out["spark.jobs"] += 1
            data = store.job(job)
            if data.submissionTime().isDefined() and data.completionTime().isDefined():
                intervals.append(
                    (
                        data.submissionTime().get().getTime(),
                        data.completionTime().get().getTime(),
                    )
                )
            info = tracker.getJobInfo(job)
            for sid in info.stageIds if info else ():
                stage = store.lastStageAttempt(sid)
                if stage.status().toString() == "SKIPPED":
                    continue
                out["spark.stages"] += 1
                out["spark.tasks"] += stage.numCompleteTasks()
                for name, get in STAGE_FIELDS.items():
                    out[name] += get(stage)
        out["spark.job_wall_ms"] = float(_union_ms(intervals))
        return out

    @staticmethod
    def catalyst(df) -> dict[str, float]:
        """Analysis, optimization and planning ms of ``df``'s last execution."""
        phases = df._jdf.queryExecution().tracker().phases()
        out = {}
        it = phases.iterator()
        while it.hasNext():
            kv = it.next()
            out[f"catalyst.{kv._1()}_ms"] = float(kv._2().durationMs())
        return out


def scanned(df) -> dict[str, float]:
    """Files and bytes that ``df``'s file scans read, from the scan nodes'
    SQL metrics in its executed plan (adaptive stages included)."""
    files = size = 0.0
    stack = [df._jdf.queryExecution().executedPlan()]
    while stack:
        node = stack.pop()
        name = node.getClass().getSimpleName()
        if name == "AdaptiveSparkPlanExec":
            stack.append(node.executedPlan())
            continue
        if name.endswith("QueryStageExec"):
            stack.append(node.plan())
            continue
        metrics = node.metrics()
        if metrics.contains("filesSize"):
            size += metrics.apply("filesSize").value()
            files += metrics.apply("numFiles").value()
        children = node.children()
        stack.extend(children.apply(i) for i in range(children.size()))
    return {"scan.files": files, "scan.bytes": size}


def _union_ms(intervals: list[tuple[int, int]]) -> int:
    total, end = 0, None
    for a, b in sorted(intervals):
        if end is None or a > end:
            total += b - a
            end = b
        elif b > end:
            total += b - end
            end = b
    return total


class Recorder:
    """Times ops always; keeps spans and counters only when ``tracing``."""

    def __init__(self, tracing: bool):
        self.tracing = tracing
        self.t0 = time.perf_counter()
        self.spans: list[dict] = []
        self.ops: list[OpRecord] = []
        self.trace_s = 0.0  # time spent reading counters, between ops
        self.counters: SparkCounters | None = None
        self._stack: list[int] = []
        self._n = 0

    def attach(self, spark) -> None:
        self.counters = SparkCounters(spark)

    @contextmanager
    def span(self, name: str, op_id: str | None = None):
        if not self.tracing:
            yield
            return
        sid = len(self.spans)
        parent = self._stack[-1] if self._stack else None
        rec = {"id": sid, "name": name, "parent": parent, "op": op_id,
               "start": time.perf_counter() - self.t0, "end": None}
        self.spans.append(rec)
        self._stack.append(sid)
        try:
            yield
        finally:
            self._stack.pop()
            rec["end"] = time.perf_counter() - self.t0

    def op(self, kind: str, build, execute=None) -> tuple[OpRecord, object]:
        """Run ``build()`` then ``execute(built)``; returns (record, result).

        ``build`` makes the DataFrame (or does the whole call when
        ``execute`` is None); ``execute`` materializes it. An exception is
        recorded on the op and re-raised to the caller's boundary.
        """
        self._n += 1
        op_id = f"op{self._n:05d}"
        counters = self.counters
        rec = OpRecord(op_id, kind, 0.0)
        built = result = None
        t0 = time.perf_counter()
        try:
            with self.span(kind, op_id):
                counters.group(f"{op_id}.build")
                with self.span(f"{kind}.build", op_id):
                    built = build()
                tb = time.perf_counter()
                rec.phases["build_s"] = tb - t0
                if execute is not None:
                    counters.group(f"{op_id}.exec")
                    with self.span(f"{kind}.exec", op_id):
                        result = execute(built)
                    rec.phases["exec_s"] = time.perf_counter() - tb
                else:
                    result = built
        except Exception as exc:  # recorded per op; the caller counts it failed
            rec.error = f"{type(exc).__name__}: {exc}"[:500]
            raise
        finally:
            rec.wall_s = time.perf_counter() - t0
            self.ops.append(rec)
            if self.tracing and rec.error is None:
                t = time.perf_counter()
                with self.span("trace.read_counters", op_id):
                    rec.counters = self._read(op_id, built if execute else None)
                self.trace_s += time.perf_counter() - t
        return rec, result

    def _read(self, op_id: str, df) -> dict[str, float]:
        build = self.counters.read(f"{op_id}.build")
        out = self.counters.read(f"{op_id}.exec")
        for k, v in build.items():
            out[k] += v  # build and exec run one after the other
        out["spark.build_jobs"] = build["spark.jobs"]
        if df is not None and hasattr(df, "_jdf"):
            out.update(self.counters.catalyst(df))
            out.update(scanned(df))
        return out

    def self_times(self) -> dict[str, dict[str, float]]:
        """Per span name: count, total seconds and self seconds (duration
        minus the part of it that child spans cover)."""
        child: dict[int, float] = {}
        for s in self.spans:
            if s["parent"] is not None and s["end"] is not None:
                child[s["parent"]] = child.get(s["parent"], 0.0) + s["end"] - s["start"]
        out: dict[str, dict[str, float]] = {}
        for s in self.spans:
            if s["end"] is None:
                continue
            d = s["end"] - s["start"]
            row = out.setdefault(s["name"], {"count": 0, "total_s": 0.0, "self_s": 0.0})
            row["count"] += 1
            row["total_s"] += d
            row["self_s"] += d - child.get(s["id"], 0.0)
        return out


def median(xs) -> float:
    xs = list(xs)
    return float(statistics.median(xs)) if xs else float("nan")


def tail(xs) -> tuple[float, float, int]:
    """(percentile, value, n): the highest percentile with at least ten
    samples beyond it, as a nearest-rank order statistic."""
    xs = sorted(xs)
    n = len(xs)
    if n <= 10:
        return float("nan"), float("nan"), n
    rank = n - 10  # 1-based rank with exactly ten samples above it
    return 100.0 * rank / n, xs[rank - 1], n
