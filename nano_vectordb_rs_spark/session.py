"""SparkSession factory tuned for this engine.

Local testing runs ``local[N]``; the configs below are the ones that matter
at cluster scale too (AQE for runtime re-planning/skew handling, Arrow for
the few pandas-UDF paths, sane shuffle parallelism).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def _default_driver_mem() -> str:
    """Conservative default heap sized from the machine, not a constant.

    Local mode puts executors in the driver JVM, so the default 1g heap
    GC-thrashes on uncompressed vector caches — but hardcoding a big value
    (32g) makes the library's default session fail to launch (or swap) on
    hosts smaller than the 128-GiB test VM.  Use ~25% of physical RAM,
    clamped to [2g, 32g]; the bench/driver environment overrides via
    SPARK_GRAFT_DRIVER_MEM.
    """
    try:
        total_gib = (
            os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") / (1 << 30)
        )
    except (ValueError, OSError, AttributeError):
        return "4g"
    return f"{max(2, min(32, int(total_gib // 4)))}g"


def _local_cores(env_cpus: str | None, available: int) -> tuple[str, int]:
    """``local[N]``'s N and the default shuffle partitions: the
    ``SPARK_GRAFT_CPUS`` value when set, else the ``available`` cores.
    A non-numeric setting (``*``) passes through to the master and leaves
    the partitions at ``available``."""
    cpus = env_cpus or str(available)
    return cpus, int(cpus) if cpus.isdigit() else available


def _available_cores() -> int:
    """Cores this process may run on (its affinity mask, not the host's)."""
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:  # no affinity API on this platform
        return os.cpu_count() or 1


def get_spark(app_name: str = "nano-vectordb-rs-spark", shuffle_partitions: int | None = None) -> SparkSession:
    cpus, default_partitions = _local_cores(
        os.environ.get("SPARK_GRAFT_CPUS"), _available_cores()
    )
    if shuffle_partitions is None:
        shuffle_partitions = default_partitions
    return (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        # AQE post-shuffle coalescing floor. Spark's default (1m) sizes
        # partitions for byte-bound cluster stages; several of this
        # engine's post-shuffle stages are CPU-bound per row (pair-verify
        # dot products, HOF folds), where coalescing a sub-MB shuffle to
        # one partition serializes a 32-core box onto one core (measured
        # 4x on the near-dup verify). The floor is env-tunable because the
        # right value is per-deployment: keep partitions >= cores' worth
        # of CPU work locally; raise toward 1m+ on clusters where tasks
        # are I/O-bound and scheduling dominates.
        .config(
            "spark.sql.adaptive.coalescePartitions.minPartitionSize",
            os.environ.get("SPARK_GRAFT_AQE_MIN_PARTITION_SIZE", "1m"),
        )
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # high-entropy float vectors don't compress; codec CPU was ~10x the
        # cache-materialization cost for array<float> collections
        .config("spark.sql.inMemoryColumnarStorage.compressed", "false")
        .config("spark.sql.session.timeZone", "UTC")
        .config(
            "spark.driver.memory",
            os.environ.get("SPARK_GRAFT_DRIVER_MEM", _default_driver_mem()),
        )
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .getOrCreate()
    )
