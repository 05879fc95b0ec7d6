"""Oracle-differential gate mirror — deliberately STRICTER than the driver.

Runs every ``__spark_entry__.queries()`` entry on sf0.001 and compares it to
its ``oracle_sql()`` DuckDB result through pandas, the way the driver does
(both sides → pandas → columns sorted by name → order-insensitive value
hash).  Two failure modes the driver has that a naive tuple comparison
misses, both now hard failures here:

* list/array-typed output cells — the driver's pandas canonicalizer raises
  ``unhashable type: 'list'`` and aborts the WHOLE gate (CORRECTNESS_r01/r02
  ``nation_supplier_lists``);
* dtype-class mismatches — DuckDB ``sum(<integer>)`` yields HUGEINT which
  lands in pandas as float64/object while Spark emits int64; values that
  print identically then hash differently (the 6 hash-fails of r01/r02).
"""

from __future__ import annotations

import datetime
import hashlib
import math
import re

import numpy as np
import pytest

import __spark_entry__ as entry_mod
from nano_vectordb_rs_spark.plans.audit import audit_plan, plan_string
from nano_vectordb_rs_spark.sources import tables
from tests.conftest import SF_DIR

_UNHASHABLE = (list, tuple, dict, set, np.ndarray)


def _is_missing(v) -> bool:
    return v is None or (isinstance(v, float) and math.isnan(v))


def _col_class(s) -> str:
    """Coarse dtype class for a pandas column; engines must agree on it."""
    k = s.dtype.kind
    if k in "iu":
        return "int"
    if k == "f":
        return "float"
    if k == "b":
        return "bool"
    if k in "mM":
        return "datetime"
    for v in s:
        if _is_missing(v):
            continue
        if isinstance(v, _UNHASHABLE):
            return "unhashable"
        if isinstance(v, (datetime.datetime, datetime.date)):
            return "datetime"
        if isinstance(v, (bool, np.bool_)):
            return "bool"
        if isinstance(v, float):
            return "float"
        # object-boxed ints (e.g. DuckDB HUGEINT overflow path) are NOT the
        # same class as a native int64 column — the driver hashes them apart
        if isinstance(v, (int, np.integer)):
            return "objint"
        if isinstance(v, bytes):
            return "bytes"
        if isinstance(v, str):
            return "str"
        return f"other:{type(v).__name__}"
    return "empty"


def _canon(v):
    if isinstance(v, np.generic):
        v = v.item()
    if _is_missing(v):
        return "∅"
    if isinstance(v, bool):
        return str(int(v))
    if isinstance(v, float):
        if v == int(v) and abs(v) < 1e15:
            return str(int(v))
        return repr(round(v, 9))
    if isinstance(v, (datetime.datetime, datetime.date)):
        return v.isoformat(sep=" ")
    if isinstance(v, bytes):
        return v.hex()
    return str(v)


def _hash_frame(df):
    cols = sorted(df.columns)
    lines = sorted(
        "|".join(_canon(v) for v in row)
        for row in df[cols].itertuples(index=False, name=None)
    )
    return hashlib.sha256("\n".join(lines).encode()).hexdigest()


QUERY_KEYS = sorted(entry_mod.queries().keys())


def _assert_matches_oracle(duck, name, sdf):
    oracles = entry_mod.oracle_sql()
    spdf = sdf.toPandas()

    # list-typed Spark output crashes the driver canonicalizer even for
    # rows-only queries — reject it unconditionally
    for c in spdf.columns:
        assert _col_class(spdf[c]) != "unhashable", (
            f"{name}: spark column {c!r} emits list/array cells — the driver "
            f"gate aborts on these (unhashable in pandas)"
        )

    if name not in oracles:
        assert len(spdf) >= 0  # rows-only check, like the driver
        return

    ddf = duck.execute(oracles[name]).df()

    assert sorted(spdf.columns) == sorted(ddf.columns), (
        f"{name}: column mismatch {list(spdf.columns)} vs {list(ddf.columns)}"
    )
    assert len(spdf) == len(ddf), (
        f"{name}: row count {len(spdf)} vs {len(ddf)}"
    )
    for c in sorted(spdf.columns):
        cs, cd = _col_class(spdf[c]), _col_class(ddf[c])
        assert cd != "unhashable", f"{name}: oracle column {c!r} emits list cells"
        assert cs == cd, (
            f"{name}: column {c!r} dtype-class mismatch — spark {cs} "
            f"({spdf[c].dtype}) vs oracle {cd} ({ddf[c].dtype}); the driver "
            f"hashes these apart (DuckDB HUGEINT sums need CAST AS BIGINT)"
        )
    h_s, h_d = _hash_frame(spdf), _hash_frame(ddf)
    if h_s != h_d:
        cols = sorted(spdf.columns)
        s_sorted = sorted(map(str, spdf[cols].itertuples(index=False, name=None)))[:5]
        d_sorted = sorted(map(str, ddf[cols].itertuples(index=False, name=None)))[:5]
        raise AssertionError(
            f"{name}: value hash mismatch\nspark: {s_sorted}\nduck : {d_sorted}"
        )


@pytest.mark.parametrize("name", QUERY_KEYS)
def test_query_matches_oracle(spark, duck, name):
    _assert_matches_oracle(duck, name, entry_mod.queries()[name](spark, SF_DIR))


# queries that spread their scan per tables.input_sized_width; at sf0.001
# every width but knn_join's is 0, so this test forces the spread
SPREAD_QUERIES = [
    "tpch_q1_pricing",
    "lang_id",
    "quality_scores",
    "doc_fingerprints",
    "pii_scrub_report",
    "bigram_stats",
    "lexical_search_docs",
    "exact_substring_contamination",
    "knn_join",
    "simhash_docs",
]


@pytest.mark.parametrize("name", SPREAD_QUERIES)
def test_forced_spread_matches_oracle(spark, duck, monkeypatch, name):
    monkeypatch.setattr(tables, "input_sized_width", lambda *args: 3)
    sdf = entry_mod.queries()[name](spark, SF_DIR)
    _assert_matches_oracle(duck, name, sdf)
    if name == "simhash_docs":
        plan = plan_string(sdf)
        assert re.search(r"Exchange hashpartitioning\(doc_id#\d+L, 3\)", plan)
    else:
        assert audit_plan(sdf)["n_round_robin"] >= 1


def test_entry_smoke(spark):
    df = entry_mod.entry(spark)
    rows = df.collect()
    assert len(rows) > 0
    assert df.columns == ["vec_id", "label", "score"]


def test_distinct_sketch_within_tolerance(spark, duck):
    """events_distinct_sketch carries its tolerance claim as a boolean
    column; assert every row claims in-tolerance and the exact twin matches
    DuckDB (the parity test re-checks this via the value hash)."""
    from nano_vectordb_rs_spark.operators.events import events_distinct_sketch

    rows = {r["event_type"]: r for r in events_distinct_sketch(spark, SF_DIR).collect()}
    exact = dict(
        duck.execute(
            "SELECT event_type, count(DISTINCT user_id) FROM events GROUP BY 1"
        ).fetchall()
    )
    assert set(rows) == set(exact)
    for et, n in exact.items():
        assert rows[et]["exact_users"] == n
        assert rows[et]["within_5pct"] is True, (et, rows[et])


def test_quartiles_approx_matches_exact_twin(spark):
    """customer_balance_quartiles_approx carries its tolerance claims as
    boolean columns; assert all four quartiles exist, claim in-tolerance
    counts and ordered boundaries, and that n_total matches the exact
    twin's total mass."""
    from nano_vectordb_rs_spark.operators.relational2 import (
        customer_balance_quartiles,
        customer_balance_quartiles_approx,
    )

    exact = {r["quartile"]: r for r in customer_balance_quartiles(spark, SF_DIR).collect()}
    approx = {r["quartile"]: r for r in customer_balance_quartiles_approx(spark, SF_DIR).collect()}
    assert set(approx) == set(exact) == {1, 2, 3, 4}
    n = sum(r["n_customers"] for r in exact.values())
    for q in (1, 2, 3, 4):
        assert approx[q]["n_total"] == n
        assert approx[q]["count_within_tol"] is True, (q, approx[q])
        assert approx[q]["bounds_ordered"] is True, (q, approx[q])


def test_dup_clusters_matches_union_find(spark, duck):
    """dup_clusters (iterative label propagation, rows-only in the driver)
    pinned to an independent pure-Python union-find over the same
    oracle-checked MinHash pair list."""
    from nano_vectordb_rs_spark.operators.dedup import (
        MINHASH_NEAR_DUP_SQL,
        dup_clusters,
    )

    pairs = [(a, b) for a, b, _ in duck.execute(MINHASH_NEAR_DUP_SQL).fetchall()]
    parent: dict[int, int] = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in pairs:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    clusters: dict[int, list[int]] = {}
    for node in parent:
        clusters.setdefault(find(node), []).append(node)
    expected = sorted(
        (root, len(members), "|".join(map(str, sorted(members))))
        for root, members in clusters.items()
        if len(members) > 1
    )
    got = [
        (r["cluster_id"], r["n_docs"], r["members"])
        for r in dup_clusters(spark, SF_DIR).collect()
    ]
    assert got == expected
    assert len(got) > 0


def test_percentile_approx_rank_error(spark, duck):
    """events_value_percentiles_approx has no value oracle (GK sketch);
    assert each estimate's rank in the exact distribution is within 1% of
    the target percentile (accuracy=10000 guarantees 1/10000; 1% is slack
    for the per-partition merge)."""
    from nano_vectordb_rs_spark.operators.events import events_value_percentiles_approx

    rows = events_value_percentiles_approx(spark, SF_DIR).collect()
    for r in rows:
        vals = [
            v[0]
            for v in duck.execute(
                "SELECT value FROM events WHERE event_type = ? ORDER BY value",
                [r["event_type"]],
            ).fetchall()
        ]
        n = len(vals)
        for pct, est in ((0.5, r["p50"]), (0.9, r["p90"]), (0.99, r["p99"])):
            rank = sum(1 for v in vals if v <= est) / n
            assert abs(rank - pct) <= 0.01 + 1.0 / n, (r["event_type"], pct, est, rank)
