"""Parquet table sources for the driver's fixture schema (TESTDATA.md).

One ``spark.read.parquet`` per table — declarative scans so Catalyst gets
predicate pushdown, column pruning and partition/row-group pruning for free.
At cluster scale the same loader works unchanged against a 100 TB dataset
directory; ``spark.sql.files.maxPartitionBytes`` governs split parallelism.

This module is the one place that knows how a fixture table sits on disk:
its path, file count, byte size (``_table_size``) and content identity
(``table_key``).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


def _table_path(sf_dir: str, name: str) -> str:
    if name not in TABLES:
        raise ValueError(f"unknown table {name!r}; expected one of {TABLES}")
    return f"{sf_dir}/{name}.parquet"


def load_table(
    spark: SparkSession, sf_dir: str, name: str, spread_bytes: int | None = None
) -> DataFrame:
    """Scan one fixture table. With ``spread_bytes``, round-robin spread
    the scan to ``input_sized_width(..., spread_bytes)`` tasks when that
    width is > 1, so CPU-heavy work above a single-task scan runs on
    several cores."""
    df = spark.read.parquet(_table_path(sf_dir, name))
    if spread_bytes is not None:
        width = input_sized_width(spark, sf_dir, name, spread_bytes)
        if width > 1:
            df = df.repartition(width)
    return df


def _table_size(sf_dir: str, name: str) -> tuple[int, int] | None:
    """``(parquet files, on-disk bytes)`` of a table, or None when it cannot
    be stat'ed locally (missing, or on an object store)."""
    path = _table_path(sf_dir, name)
    try:
        if os.path.isdir(path):
            parts = [
                os.path.join(path, f)
                for f in os.listdir(path)
                if f.endswith(".parquet")
            ]
            return len(parts), sum(os.path.getsize(p) for p in parts)
        return 1, os.path.getsize(path)
    except OSError:
        return None


def table_key(sf_dir: str, name: str) -> tuple[str, int, int]:
    """Content identity ``(abspath, mtime_ns, size)`` of a table, for keying
    caches derived from it: a table rewritten in place misses the cache.
    Raises OSError when the table cannot be stat'ed."""
    path = os.path.abspath(_table_path(sf_dir, name))
    st = os.stat(path)
    return path, st.st_mtime_ns, st.st_size


def input_sized_width(
    spark: SparkSession, sf_dir: str, name: str, per_task_bytes: int
) -> int:
    """Exchange width for spreading a CPU-heavy stage off a scan with too
    few splits. Every fixture file is one Parquet row group, so its scan is
    ONE task and any compute directly above it runs on one core.

    Returns ~``per_task_bytes`` of on-disk input per task, capped at
    defaultParallelism, or 0 ("add no exchange") when the scan already has
    core-count splits (at corpus scale re-shuffling rows is pure waste),
    when the input is under one task's worth, or when its size is unknown.

    Why input-sized and never bare core count: a 32-wide exchange of
    simhash's 594 KB input (sf0.1) was a measured regression. An
    interleaved A/B sweep of that exchange at sf0.1 on 32 cores gave
    width 0 → 1.44–1.56 s, 4 → 1.08–1.25 s, 8 → 0.94–0.99 s,
    16 → 0.91–1.26 s, 32 → 1.15–1.75 s; 64 KB per task gives width 9,
    next to the optimum."""
    size = _table_size(sf_dir, name)
    if size is None:
        return 0
    cores = spark.sparkContext.defaultParallelism
    n_files, nbytes = size
    if n_files >= cores or nbytes // (128 << 20) >= cores:
        return 0
    return min(cores, int(nbytes // max(1, per_task_bytes)))
