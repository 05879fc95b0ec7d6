from __future__ import annotations

import duckdb
import pytest

from nano_vectordb_rs_spark.session import get_spark
from nano_vectordb_rs_spark.sources.tables import TABLES

import os

SF_DIR = os.environ.get("PARITY_SF_DIR", "/root/testdata/sf0.001")


@pytest.fixture(scope="session")
def spark():
    s = get_spark("nano-vectordb-rs-spark-tests")
    yield s


@pytest.fixture(scope="session")
def duck():
    con = duckdb.connect()
    # out-of-core: a full-surface sf0.01 sweep shares the process with a
    # long-lived local[32] JVM; without a spill dir one big oracle (e.g.
    # ann_recall's exact-KNN CTE) can lose the malloc race and abort the
    # whole session (observed r11: bad allocation at 256 KiB)
    os.makedirs("/tmp/nvdb_duck_spill", exist_ok=True)
    con.execute("SET temp_directory='/tmp/nvdb_duck_spill'")
    # r16 (VERDICT r15 task 7): VERIFY_r15 died in DuckDB itself — a 16 KiB
    # block allocation failed mid-suite on ann_recall. Two causes, both
    # fixed here: (a) DuckDB defaults to one thread per core, and 32
    # threads × per-thread operator state under a small limit starves the
    # buffer manager of evictable blocks; (b) the limit is computed from
    # MemAvailable at FIXTURE time, by which point the co-resident 32g-heap
    # JVM has ballooned, so the old max(1, …) floor could strangle the
    # oracle to 1 GB. 8 threads bounds per-query memory without slowing the
    # tiny fixtures; a 4 GB floor keeps block allocation viable and lets
    # the spill dir absorb the rest.
    # One thread, not 8: the "Failed to allocate block of 16384 bytes (bad
    # allocation)" is malloc itself failing, not the memory limit. Planning
    # ann_recall's 300 KB oracle on 8 threads maps ~50,000 memory regions in
    # this process (measured in /proc/self/maps), against Linux's default
    # vm.max_map_count of 65,530, so the query fails at random even under an
    # 8 GB limit, and the next few DuckDB calls in the same process fail too
    # (seen as bigram_stats failing right after ann_recall). On one thread
    # the same query peaks at ~750 regions and ~1.2 GB RSS (vs ~2.1 GB) and
    # runs no slower; single-threaded sums are also order-stable.
    con.execute("SET threads=1")
    # cap = min(8GB, ~60% of MemAvailable), floor 4GB. 8, not 24 (r16):
    # the ann_recall oracle (a 300KB five-CTE plan) runs at ~2GB peak
    # under a tight limit (measured standalone, 4GB cap) but under the
    # old 24GB cap DuckDB admits far more pinned operator state across
    # its threads before spilling and the buffer manager still died on a
    # 16KiB block mid-suite (VERIFY_r15 and one r16 full-suite run, both
    # on ann_recall; the same test passes in isolation). A small limit
    # with the disk spill dir is strictly more robust here and costs
    # nothing at fixture scale. NVDB_DUCK_MEM overrides (r12, ADVICE).
    mem = os.environ.get("NVDB_DUCK_MEM")
    if mem is None:
        try:
            with open("/proc/meminfo") as fh:
                avail_kb = next(
                    int(line.split()[1])
                    for line in fh
                    if line.startswith("MemAvailable:")
                )
            mem = f"{min(8, max(4, int(avail_kb * 0.6 / 1e6)))}GB"
        except (OSError, StopIteration):
            mem = "8GB"
    con.execute(f"SET memory_limit='{mem}'")
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{SF_DIR}/{t}.parquet')"
        )
    yield con
    con.close()
