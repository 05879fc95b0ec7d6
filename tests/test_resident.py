"""query() and get() on a saved handle are served from the driver-resident
copy of its files; they must equal the Spark plan exactly: the same Rows
(ids, metadata and ``__metrics__`` bits, in the same order) and the same
schema.

``where=F.lit(True)``, or ``pred & F.lit(True)`` for an equality ``pred``,
forces the Spark path without changing the answer; a fresh handle, whose
copy is not loaded yet, serves get() from Spark.
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
    # the analyzed plan, not the physical one: Spark itself folds a filter
    # that can hold for no row (label = 0 AND label = 1, label = 3.5) into
    # an empty LocalTableScan
    return df._jdf.queryExecution().analyzed().nodeName() == "LocalRelation"


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
    got = c.get(["a"], ordered=True)
    assert _is_resident(got) and got.collect() == []
    assert got.schema == VectorCollection.open(spark, DIM, path).get(["a"], ordered=True).schema


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
    q = [1.0, 0.0, 0.0, 0.0]
    assert not _is_resident(c.query(q, where=(F.col("tag") == "x") | (F.col("tag") == "y")))
    assert _is_resident(c.query(q, where=F.col("tag") == "x"))
    assert _is_resident(c.query(q))


def test_over_budget_collection_keeps_the_spark_path(spark, tmp_path, monkeypatch):
    from nano_vectordb_rs_spark import collection

    monkeypatch.setattr(collection, "_RESIDENT_MAX_BYTES", 0)
    c = _saved(spark, tmp_path / "coll", [("a", [1.0, 0.0, 0.0, 0.0], "x")])
    got = c.query([1.0, 0.0, 0.0, 0.0])
    assert not _is_resident(got) and got.collect()[0]["__id__"] == "a"


META = "`__id__` string, vector array<float>, tag string, label int"


def _meta_rows(vectors, tags, labels):
    return [
        (f"v{i:03d}", [float(x) for x in v], tags[i % len(tags)], labels[i % len(labels)])
        for i, v in enumerate(vectors)
    ]


# one equality term, (column name as written, value): "LABEL" and "Tag"
# resolve case-insensitively to the stored "label" and "tag"
term = st.one_of(
    st.tuples(st.sampled_from(["label", "LABEL"]), st.integers(-1, 2)),
    st.tuples(st.sampled_from(["tag", "Tag"]), st.sampled_from(["a", "b", "é"])),
)


@settings(max_examples=10, deadline=None, derandomize=True)
@given(
    vectors=st.lists(vec, min_size=1, max_size=12),
    tags=st.lists(st.sampled_from(["a", "b", "é", None]), min_size=1, max_size=4),
    labels=st.lists(st.one_of(st.none(), st.integers(-1, 2)), min_size=1, max_size=4),
    calls=st.lists(
        st.tuples(
            vec,
            st.integers(min_value=1, max_value=14),
            st.one_of(st.none(), st.floats(min_value=-1.0, max_value=1.0)),
            st.lists(term, min_size=1, max_size=2),
            st.booleans(),
        ),
        min_size=1,
        max_size=3,
    ),
)
def test_resident_where_matches_spark_path(
    spark, tmp_path_factory, vectors, tags, labels, calls
):
    c = _saved(
        spark, tmp_path_factory.mktemp("where") / "coll", _meta_rows(vectors, tags, labels), META
    )
    for q, k, threshold, terms, as_sql in calls:
        if as_sql:
            where = " AND ".join(
                f"{name} = {v!r}" if isinstance(v, int) else f"{name} = '{v}'"
                for name, v in terms
            )
            forced = f"({where}) AND true"
        else:
            where = F.col(terms[0][0]) == terms[0][1]
            for name, v in terms[1:]:
                where = where & (F.col(name) == v)
            forced = where & F.lit(True)
        got = c.query(list(q), top_k=k, better_than=threshold, where=where)
        want = c.query(list(q), top_k=k, better_than=threshold, where=forced)
        assert _is_resident(got) and not _is_resident(want)
        assert got.collect() == want.collect()
        assert got.schema == want.schema


def test_predicates_outside_the_subset_keep_the_spark_path(spark, tmp_path):
    schema = (
        "`__id__` string, vector array<float>, label int, big bigint, f double, "
        "s struct<k: int>, tag string"
    )
    nan = float("nan")
    rows = [
        ("a", [1.0, 0.0, 0.0, 0.0], 3, 3, nan, (3,), "x"),
        ("b", [0.0, 1.0, 0.0, 0.0], 4, 4, 1.5, (4,), "y"),
        ("c", [1.0, 1.0, 0.0, 0.0], None, None, nan, None, None),
    ]
    c = _saved(spark, tmp_path / "coll", rows, schema)
    q = [1.0, 0.5, 0.0, 0.0]
    cases = [
        (F.col("label") == 3.5, set()),  # Cast(label as double)
        ((F.col("label") == 3) | (F.col("tag") == "y"), {"a", "b"}),
        (F.lit(True), {"a", "b", "c"}),
        (F.col("f") == nan, {"a", "c"}),  # Spark's NaN = NaN
        (F.col("f") == 1.5, {"b"}),
        (F.col("s.k") == 3, {"a"}),
        (F.col("big") == 3, {"a"}),  # an int literal casts to bigint
        (F.col("label") == None, set()),  # noqa: E711 (a NULL literal)
        (F.col("label") == F.col("big"), {"a", "b"}),
        ("label = 3 OR label = 4", {"a", "b"}),
        ("label IN (3)", {"a"}),
        ((F.col("label") == 3) & (F.col("big") == 3), {"a"}),  # one term outside
    ]
    for where, want in cases:
        got = c.query(q, top_k=10, where=where)
        # a filter no row can pass folds to an empty scan on the Spark path
        assert not _is_resident(got) and ("FileScan" in plan_string(got) or not want), where
        assert {r["__id__"] for r in got.collect()} == want, where
    # the same handle still serves its subset calls resident
    got = c.query(q, where="3 = label")
    assert _is_resident(got) and [r["__id__"] for r in got.collect()] == ["a"]


def _loaded(spark, path, rows, schema=SCHEMA):
    """A saved handle whose resident copy query() has loaded, and a fresh
    handle on the same files, whose get() runs on Spark."""
    c = _saved(spark, path, rows, schema)
    assert _is_resident(c.query([1.0, 0.0, 0.0, 0.0], top_k=1))
    return c, VectorCollection.open(spark, DIM, str(path))


def _multiset(rows):
    return sorted(rows, key=repr)


GET_ROWS = [(f"v{i}", [1.0, float(i), 0.5, 0.0], f"t{i % 3}") for i in range(8)]


@settings(max_examples=10, deadline=None, derandomize=True)
@given(
    ids=st.lists(
        st.one_of(st.sampled_from([f"v{i}" for i in range(10)]), st.integers(0, 9)),
        max_size=12,
    )
)
def test_resident_get_matches_spark_path(spark, tmp_path_factory, ids):
    rows = GET_ROWS + [(str(i), [0.0, 1.0, 0.0, float(i)], "int") for i in range(3)]
    c, fresh = _loaded(spark, tmp_path_factory.mktemp("get") / "coll", rows)
    got, want = c.get(ids), fresh.get(ids)
    assert _is_resident(got) and not _is_resident(want)
    assert _multiset(got.collect()) == _multiset(want.collect())
    assert got.schema == want.schema
    got, want = c.get(ids, ordered=True), fresh.get(ids, ordered=True)
    assert _is_resident(got) and not _is_resident(want)
    assert got.collect() == want.collect()  # one row per requested position
    assert got.schema == want.schema


def test_resident_get_edge_cases(spark, tmp_path):
    c, fresh = _loaded(spark, tmp_path / "coll", GET_ROWS)
    for ids in ([], ["nope"], ["v3", "v3", "nope", "v1", "v3"]):
        for ordered in (False, True):
            got, want = c.get(ids, ordered=ordered), fresh.get(ids, ordered=ordered)
            assert _is_resident(got)
            assert _multiset(got.collect()) == _multiset(want.collect())
            if ordered:
                assert got.collect() == want.collect()
    ordered = c.get(["v3", "v3", "nope", "v1"], ordered=True).collect()
    assert [r["__id__"] for r in ordered] == ["v3", "v3", "v1"]
    assert [r["__id__"] for r in c.get(["v3", "v3"]).collect()] == ["v3"]


def test_get_returns_duplicate_stored_ids_like_the_in_filter(spark, tmp_path):
    # a store written outside upsert can hold an id twice, and need not put
    # the id column first
    path = str(tmp_path / "coll")
    spark.createDataFrame(
        [("d", [1.0, 0.0, 0.0, 0.0], "x"), ("d", [0.0, 1.0, 0.0, 0.0], "y"),
         ("e", [0.5, 0.0, 0.0, 0.0], "x")],
        "tag string, vector array<float>, `__id__` string",
    ).write.parquet(path)
    c = VectorCollection.open(spark, DIM, path)
    assert _is_resident(c.query([1.0, 0.0, 0.0, 0.0], top_k=1))
    fresh = VectorCollection.open(spark, DIM, path)
    for ordered in (False, True):
        got, want = c.get(["x", "y", "x"], ordered=ordered), fresh.get(["x", "y", "x"], ordered)
        assert _is_resident(got) and got.schema == want.schema
        out = got.collect()
        assert _multiset(out) == _multiset(want.collect())
        assert len(out) == (5 if ordered else 3)
    ids = [r["__id__"] for r in c.get(["y", "x"], ordered=True).collect()]
    assert ids == ["y", "x", "x"]


def test_get_keeps_the_spark_path_until_the_copy_is_loaded(spark, tmp_path):
    path = tmp_path / "coll"
    c = _saved(spark, path, GET_ROWS)
    assert not _is_resident(c.get(["v1"])) and not _is_resident(c.get(["v1"], ordered=True))
    assert not _is_resident(c.query([1.0, 0.0, 0.0, 0.0], where=F.lit(True)))
    assert not _is_resident(c.get(["v1"]))  # a Spark-path query loads nothing
    assert _is_resident(c.query([1.0, 0.0, 0.0, 0.0], where=F.col("tag") == "t1"))
    assert _is_resident(c.get(["v1"]))
    # an unsaved mutation retires the copy
    c.delete(["v2"])
    got = c.get(["v1", "v2"])
    assert not _is_resident(got) and [r["__id__"] for r in got.collect()] == ["v1"]
    c.save()
    assert not _is_resident(c.get(["v1"]))
    assert _is_resident(c.query([1.0, 0.0, 0.0, 0.0]))
    assert [r["__id__"] for r in c.get(["v1", "v2"]).collect()] == ["v1"]


def test_resident_where_and_get_run_no_spark_job(spark, tmp_path):
    c, _ = _loaded(spark, tmp_path / "coll", GET_ROWS)
    sc = spark.sparkContext
    sc.setJobGroup("resident_where_get", "resident_where_get")
    try:
        calls = [
            c.query([1.0, 0.0, 0.0, 0.0], top_k=3, where=F.col("tag") == "t1"),
            c.query([1.0, 0.0, 0.0, 0.0], top_k=3, where="tag = 't2' AND tag = 't2'"),
            c.get(["v1", "v5", "nope"]),
            c.get(["v5", "v1"], ordered=True),
        ]
        assert [len(df.collect()) for df in calls] == [3, 2, 2, 2]
        assert list(sc.statusTracker().getJobIdsForGroup("resident_where_get")) == []
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
