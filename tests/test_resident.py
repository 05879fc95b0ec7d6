"""query() on a saved handle is served from the driver-resident copy of its
files; it must equal the Spark plan exactly: the same Rows (ids, metadata
and ``__metrics__`` bits, in the same order) and the same schema.

``where=F.lit(True)`` forces the Spark path without changing the answer.
"""

from __future__ import annotations

import datetime
import decimal

from hypothesis import given, settings, strategies as st
from pyspark.sql import functions as F

from nano_vectordb_rs_spark.collection import VectorCollection
from nano_vectordb_rs_spark.plans import plan_string
from test_property import DIM, vec

SCHEMA = "`__id__` string, vector array<float>, tag string"


def _saved(spark, path, rows, schema=SCHEMA):
    c = VectorCollection.open(spark, DIM, str(path))
    c.upsert(spark.createDataFrame(rows, schema))
    c.save()
    return VectorCollection.open(spark, DIM, str(path))


def _is_resident(df) -> bool:
    return "FileScan" not in plan_string(df)


def assert_same_as_spark(c, q, **kw):
    """Returns the resident answer after checking it against the Spark path."""
    got = c.query(q, **kw)
    want = c.query(q, where=F.lit(True), **kw)
    rows = got.collect()
    assert rows == want.collect()
    assert got.schema == want.schema
    return got, rows


@settings(max_examples=12, deadline=None, derandomize=True)
@given(
    vectors=st.lists(vec, min_size=1, max_size=12),
    calls=st.lists(
        st.tuples(
            vec,
            st.integers(min_value=0, max_value=14),
            st.one_of(st.none(), st.floats(min_value=-1.0, max_value=1.0)),
        ),
        min_size=1,
        max_size=4,
    ),
)
def test_resident_query_matches_spark_path(spark, tmp_path_factory, vectors, calls):
    rows = [(f"v{i:03d}", [float(x) for x in v], f"t{i % 3}") for i, v in enumerate(vectors)]
    c = _saved(spark, tmp_path_factory.mktemp("prop") / "coll", rows)
    for q, k, threshold in calls:
        got, _ = assert_same_as_spark(c, list(q), top_k=k, better_than=threshold)
        assert _is_resident(got)


def test_ties_at_kth_score_break_by_id(spark, tmp_path):
    # planted duplicates tie at the k-th score; only the id decides which
    # survive. The last two ids order differently in UTF-16 and UTF-8.
    tied = ["t5", "t1", "t9", "t3", "ｚ", "\U0001f600"]
    rows = [(i, [1.0, 2.0, 0.01, 0.5], "tie") for i in tied]
    rows += [("best", [1.0, 2.0, 0.0, 0.5], "x"), ("far", [-1.0, 0.0, 0.0, 0.0], "x")]
    c = _saved(spark, tmp_path / "coll", rows)
    for k in range(1, 9):
        _, got = assert_same_as_spark(c, [1.0, 2.0, 0.0, 0.5], top_k=k)
        assert len(got) == k
    _, got = assert_same_as_spark(c, [1.0, 2.0, 0.0, 0.5], top_k=4)
    assert [r["__id__"] for r in got] == ["best", "t1", "t3", "t5"]
    _, got = assert_same_as_spark(c, [1.0, 2.0, 0.0, 0.5], top_k=8)
    assert [r["__id__"] for r in got[-3:]] == ["ｚ", "\U0001f600", "far"]


def test_edge_thresholds_and_sizes(spark, tmp_path):
    rows = [(f"v{i}", [float(i + 1), 1.0, 0.0, -1.0], "x") for i in range(5)]
    c = _saved(spark, tmp_path / "coll", rows)
    q = [1.0, 0.5, 0.0, 0.0]
    assert assert_same_as_spark(c, q, top_k=3, better_than=1.5)[1] == []  # above every score
    assert len(assert_same_as_spark(c, q, top_k=50)[1]) == 5  # top_k > count
    assert assert_same_as_spark(c, q, top_k=0)[1] == []
    assert len(assert_same_as_spark(c, q, top_k=50, better_than=-1.0)[1]) == 5


def test_typed_metadata_and_non_ascii_ids(spark, tmp_path):
    schema = (
        "`__id__` string, vector array<float>, ts timestamp, amount decimal(28,10), "
        "day date, tags array<int>, note string"
    )
    rows = [
        ("a", [1.0, 0.0, 0.0, 0.0], datetime.datetime(2020, 1, 2, 3, 4, 5, 678901),
         decimal.Decimal("1.2345678900"), datetime.date(2021, 5, 6), [1, 2], None),
        ("é漢", [0.5, 0.5, 0.0, 0.0], None, None, None, None, "x"),
        ("b", [1.0, 0.0, 0.0, 0.0], datetime.datetime(1969, 12, 31, 23, 59, 59),
         decimal.Decimal("-3.0000000001"), datetime.date(1970, 1, 1), [], "y"),
        ("c", [0.0, 1.0, 0.0, 0.0], datetime.datetime(2020, 1, 2),
         decimal.Decimal("0"), datetime.date(2000, 2, 29), [3, None], None),
    ]
    c = _saved(spark, tmp_path / "coll", rows, schema)
    got, out = assert_same_as_spark(c, [1.0, 0.2, 0.0, 0.0], top_k=10)
    assert _is_resident(got) and len(out) == 4
    assert out[0]["ts"] == datetime.datetime(2020, 1, 2, 3, 4, 5, 678901)
    assert out[0]["amount"] == decimal.Decimal("1.2345678900")


def test_saved_empty_collection(spark, tmp_path):
    path = str(tmp_path / "coll")
    c = VectorCollection.open(spark, DIM, path)
    c.save()
    c = VectorCollection.open(spark, DIM, path)
    assert assert_same_as_spark(c, [1.0, 0.0, 0.0, 0.0], top_k=3)[1] == []


def test_resident_lifecycle(spark, tmp_path):
    path = tmp_path / "coll"
    c = _saved(spark, path, [("a", [1.0, 0.0, 0.0, 0.0], "x"), ("b", [0.0, 1.0, 0.0, 0.0], "y")])
    q = [0.0, 0.0, 1.0, 0.0]
    got = c.query(q, top_k=1)
    assert _is_resident(got) and got.collect()[0]["__id__"] == "a"
    v1 = c.save_snapshot()
    assert _is_resident(c.query(q, top_k=1))  # the snapshot's own files
    # an unsaved upsert is served by the Spark path and is visible there
    c.upsert(spark.createDataFrame([("new", [0.0, 0.0, 1.0, 0.0], "z")], SCHEMA))
    got = c.query(q, top_k=1)
    assert not _is_resident(got) and got.collect()[0]["__id__"] == "new"
    # saving makes it visible through the resident path
    c.save()
    got, out = assert_same_as_spark(c, q, top_k=1)
    assert _is_resident(got) and out[0]["__id__"] == "new"
    c.delete(["new"])
    assert [r["__id__"] for r in c.query(q, top_k=1).collect()] == ["a"]
    # a snapshot handle serves its own version
    snap = VectorCollection.open_snapshot(spark, DIM, str(path), v1)
    got, out = assert_same_as_spark(snap, q, top_k=5)
    assert _is_resident(got) and [r["__id__"] for r in out] == ["a", "b"]


def test_where_keeps_the_spark_path(spark, tmp_path):
    c = _saved(spark, tmp_path / "coll", [("a", [1.0, 0.0, 0.0, 0.0], "x")])
    assert not _is_resident(c.query([1.0, 0.0, 0.0, 0.0], where=F.col("tag") == "x"))
    assert _is_resident(c.query([1.0, 0.0, 0.0, 0.0]))


def test_over_budget_collection_keeps_the_spark_path(spark, tmp_path, monkeypatch):
    from nano_vectordb_rs_spark import collection

    monkeypatch.setattr(collection, "_RESIDENT_MAX_BYTES", 0)
    c = _saved(spark, tmp_path / "coll", [("a", [1.0, 0.0, 0.0, 0.0], "x")])
    got = c.query([1.0, 0.0, 0.0, 0.0])
    assert not _is_resident(got) and got.collect()[0]["__id__"] == "a"
