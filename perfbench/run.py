"""Run one benchmark workload; the last stdout line is its JSON result.

    python3 perfbench/run.py --workload serve_query --seed 1 --seconds 12 --trace 0

Run it from the repository root. All generated inputs, collections and Spark
temporary files go under ``.perfbench_tmp/run-<pid>/``, removed when the run ends;
the run record (environment, per-kind and per-operator detail) and, with
``--trace 1``, the spans are written to ``.perfbench_out/``. With
``--trace 0`` the result carries the end-to-end metrics, with ``--trace 1``
the per-layer ones. The run exits non-zero without a result when the package
is missing or any step outside the checked ops fails.
"""

from __future__ import annotations

import argparse
import dataclasses
import hashlib
import json
import os
import platform
import shlex
import shutil
import signal
import sys
import tempfile
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(HERE)
TMP_ROOT = os.path.join(REPO, ".perfbench_tmp")
OUT_DIR = os.path.join(REPO, ".perfbench_out")
WATCHDOG_S = 170


def _alive(pid: int) -> bool:
    try:
        os.kill(pid, 0)
    except ProcessLookupError:
        return False
    except PermissionError:
        return True
    return True


def make_root() -> str:
    """A fresh per-run directory; leftovers of dead runs are removed first."""
    os.makedirs(TMP_ROOT, exist_ok=True)
    for name in os.listdir(TMP_ROOT):
        pid = name.rpartition("-")[2]
        if not pid.isdigit() or not _alive(int(pid)):
            shutil.rmtree(os.path.join(TMP_ROOT, name), ignore_errors=True)
    root = os.path.join(TMP_ROOT, f"run-{os.getpid()}")
    os.makedirs(os.path.join(root, "tmp"))
    return root


def driver_heap() -> str:
    """The driver heap ``get_spark`` will ask for."""
    from nano_vectordb_rs_spark import session

    return os.environ.get("SPARK_GRAFT_DRIVER_MEM") or session._default_driver_mem()


def configure_env(root: str) -> int:
    """Pin Spark to this machine's cores, keep its temporary files under ``root``
    and start the driver heap at its full size: letting the JVM grow it
    made query and upsert times differ by ~20% between identical runs."""
    cpus = len(os.sched_getaffinity(0))
    tmp = os.path.join(root, "tmp")
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(root, "spark-local")
    os.environ["TMPDIR"] = tmp
    tmp_opts = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    os.environ["SPARK_LAUNCHER_OPTS"] = tmp_opts  # spark-submit's launcher JVM
    java_opts = f"{tmp_opts} -Xms{driver_heap()}"
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        f"--driver-java-options {shlex.quote(java_opts)} pyspark-shell"
    )
    tempfile.tempdir = tmp
    return cpus


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        kids.setdefault(ppid, []).append(int(name))
    return kids


def descendants(pid: int) -> list[int]:
    kids, out, todo = _children(), [], [pid]
    while todo:
        for k in kids.get(todo.pop(), []):
            out.append(k)
            todo.append(k)
    return out


def shutdown_spark() -> None:
    """Stop the session and the JVM, then wait for every process this run
    started (the JVM and its Python workers) to end."""
    from pyspark import SparkContext

    started = descendants(os.getpid())
    if SparkContext._active_spark_context is not None:
        SparkContext._active_spark_context.stop()
    gateway = SparkContext._gateway
    if gateway is not None:
        proc = gateway.proc
        try:
            gateway.shutdown()
        except Exception:  # the JVM may already be gone
            pass
        if proc is not None:
            proc.stdin.close()  # the gateway JVM exits when its stdin closes
            try:
                proc.wait(timeout=30)
            except Exception:
                proc.kill()
                proc.wait()
        SparkContext._gateway = SparkContext._jvm = None
    deadline = time.monotonic() + 20
    while time.monotonic() < deadline and any(_alive(p) for p in started):
        time.sleep(0.1)
    for p in started:
        if _alive(p):
            try:
                os.kill(p, signal.SIGKILL)
            except ProcessLookupError:
                pass


def jvm_peak_rss_mb(spark) -> float:
    pid = spark._jvm.java.lang.ProcessHandle.current().pid()
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError("no VmHWM for the driver JVM")


def _source_digest() -> str:
    h = hashlib.sha256()
    files = [os.path.join(REPO, "__spark_entry__.py")]
    for dirpath, dirs, names in os.walk(os.path.join(REPO, "nano_vectordb_rs_spark")):
        dirs.sort()
        files += [os.path.join(dirpath, n) for n in sorted(names) if n.endswith(".py")]
    for path in files:
        h.update(os.path.relpath(path, REPO).encode())
        with open(path, "rb") as f:
            h.update(f.read())
    return h.hexdigest()[:16]


def _commit() -> str | None:
    head = os.path.join(REPO, ".git", "HEAD")
    try:
        with open(head) as f:
            ref = f.read().strip()
        if ref.startswith("ref: "):
            with open(os.path.join(REPO, ".git", ref[5:])) as f:
                return f.read().strip()
        return ref
    except OSError:
        return None


def environment(run, cpus: int) -> dict:
    import pyspark

    spark = run.spark
    jvm = spark._jvm
    with open("/proc/meminfo") as f:
        mem_kb = int(next(line for line in f if line.startswith("MemTotal:")).split()[1])
    conf = dict(spark.sparkContext.getConf().getAll())
    return {
        "cores": cpus,
        "memory_gb": round(mem_kb / 2**20, 1),
        "driver_memory": conf.get("spark.driver.memory"),
        "driver_java_options": conf.get("spark.driver.extraJavaOptions"),
        "jvm_max_heap_mb": jvm.java.lang.Runtime.getRuntime().maxMemory() / 2**20,
        "pyspark": pyspark.__version__,
        "java": jvm.java.lang.System.getProperty("java.version"),
        "python": platform.python_version(),
        "spark_conf": {k: v for k, v in sorted(conf.items()) if "JavaOptions" not in k},
        "commit": _commit(),
        "source_digest": _source_digest(),
    }


def _alarm(signum, frame):
    raise TimeoutError(f"run exceeded {WATCHDOG_S} s")


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    sys.path.insert(0, REPO)
    try:
        import __spark_entry__  # noqa: F401
        import nano_vectordb_rs_spark  # noqa: F401
    except ImportError as exc:
        print(f"perfbench: the package is not importable from {REPO}: {exc}", file=sys.stderr)
        return 2
    from perfbench import spec, workloads

    if args.workload not in workloads.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}", file=sys.stderr)
        return 2

    signal.signal(signal.SIGALRM, _alarm)
    signal.alarm(WATCHDOG_S)
    root = make_root()
    cpus = configure_env(root)
    cwd = os.getcwd()
    os.chdir(root)  # anything Spark drops relative to the cwd lands in root
    run = workloads.Run(root, args.seed, args.seconds, bool(args.trace))
    result = record = None
    try:
        workloads.WORKLOADS[args.workload](run)
        run.values["jvm.peak_rss_mb"] = jvm_peak_rss_mb(run.spark)
        names = spec.PER_LAYER if args.trace else spec.END_TO_END
        metrics = {n: {"value": float(run.values[n]), "unit": names[n][0]} for n in names}
        result = {
            "correct": run.failed == 0,
            "attempted": run.attempted,
            "failed": run.failed,
            "metrics": metrics,
        }
        record = {
            "workload": args.workload,
            "seed": args.seed,
            "seconds": args.seconds,
            "trace": args.trace,
            "environment": environment(run, cpus),
            "values": run.values,
            "info": run.info,
            "problems": run.problems,
        }
    except Exception:  # reported as a failed run: no result line, non-zero exit
        traceback.print_exc()
    finally:
        try:
            shutdown_spark()
        finally:
            os.chdir(cwd)
            shutil.rmtree(root, ignore_errors=True)
            signal.alarm(0)
    if result is None:
        return 1
    write_outputs(args, run, record)
    print_summary(record, result)
    print(json.dumps(result))
    return 0


def write_outputs(args, run, record) -> None:
    os.makedirs(OUT_DIR, exist_ok=True)
    stem = f"{args.workload}-seed{args.seed}-trace{args.trace}"
    if run.rec.tracing:
        record["self_times"] = run.rec.self_times()
        with open(os.path.join(OUT_DIR, f"spans-{stem}.json"), "w") as f:
            json.dump({"spans": run.rec.spans,
                       "ops": [dataclasses.asdict(o) for o in run.rec.ops]}, f)
    with open(os.path.join(OUT_DIR, f"record-{stem}.json"), "w") as f:
        json.dump(record, f, indent=1, default=str)


def print_summary(record: dict, result: dict) -> None:
    info = record["info"]
    rate = result["failed"] / result["attempted"]
    print(f"perfbench {record['workload']} seed={record['seed']} trace={record['trace']} "
          f"correct={result['correct']} attempted={result['attempted']} "
          f"failed={result['failed']} error_rate={rate:.4f}")
    for name, m in result["metrics"].items():
        print(f"  {name:30s} {m['value']:14.4f} {m['unit']}")
    for kind, k in info.get("per_kind", {}).items():
        print(f"  {kind:12s} n={k['n']:4d} p50={k['p50_ms']:9.2f} ms  "
              f"tail p{k['tail_pct']:.1f}={k['tail_ms']:9.2f} ms")
    for name, k in info.get("per_op", {}).items():
        extra = "".join(f" {key}={k[key]:.0f}" for key in ("jobs", "build_jobs") if key in k)
        print(f"  {name:30s} build={k['build_s']:7.3f} s exec={k['exec_s']:7.3f} s{extra}")
    if record["trace"]:  # compare with an untraced run of the same seed
        for name in ("op_geomean_ms", "ops_per_s"):
            print(f"  {name + ' (traced)':30s} {record['values'][name]:14.4f}")
    for key in ("suite_wall_s", "batch_topk_s", "timed_ops", "window_s"):
        if key in info:
            print(f"  {key:30s} {info[key]}")
    for name, row in sorted(record.get("self_times", {}).items(),
                            key=lambda kv: -kv[1]["self_s"])[:12]:
        print(f"  self {name:25s} n={row['count']:4d} total={row['total_s']:8.3f} s "
              f"self={row['self_s']:8.3f} s")
    for p in record["problems"][:5]:
        print(f"  FAILED {p['op']}: {p['problems'][0][:300]}")


if __name__ == "__main__":
    sys.exit(main())
