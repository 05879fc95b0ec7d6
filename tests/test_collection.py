"""Unit edge-case suite for VectorCollection — mirrors the reference's test
layers (SURVEY.md §5: tests/unit_tests.rs + integration_tests.rs), adapted to
the divergence decisions Q1-Q7 of SURVEY.md §1.6.

Reference cases covered:
  self-similarity > 0.99 after upsert+query   (tests/unit_tests.rs:6-33)
  persistence round-trip                      (tests/unit_tests.rs:36-52)
  additional_data store/retrieve/persist      (tests/unit_tests.rs:55-79)
  get with missing ids silently dropped       (tests/unit_tests.rs:82-107)
  delete then re-query                        (tests/unit_tests.rs:110-142)
  normalization unit-norm within 1e-5         (tests/unit_tests.rs:208-240)
  zero-vector rejection                       (tests/unit_tests.rs:243-247)
  empty-state lifecycle                       (tests/unit_tests.rs:250-278)
  insert-then-update classification           (tests/integration_tests.rs:41-64)
Divergence checks (ours, not the reference's):
  Q1 delete-after-reload works    Q2 upsert replaces metadata
  Q3 dup-ids-in-batch last-writer-wins        Q4 dim mismatch raises
"""

from __future__ import annotations

import math

import pytest
from pyspark.sql import types as T

from nano_vectordb_rs_spark.collection import (
    DimensionError,
    VectorCollection,
    ZeroVectorError,
)

DIM = 4

SCHEMA = T.StructType(
    [
        T.StructField("__id__", T.StringType(), False),
        T.StructField("vector", T.ArrayType(T.FloatType()), False),
        T.StructField("tag", T.StringType(), True),
    ]
)


def make_batch(spark, rows):
    return spark.createDataFrame(
        [(i, [float(x) for x in v], t) for i, v, t in rows], SCHEMA
    )


@pytest.fixture()
def coll(spark, tmp_path):
    return VectorCollection.open(spark, DIM, str(tmp_path / "coll"), SCHEMA)


def test_empty_lifecycle(coll):
    assert coll.is_empty()
    assert coll.count() == 0
    assert coll.vector_elems() == 0
    assert coll.query([1.0, 0.0, 0.0, 0.0], top_k=5).count() == 0


def test_upsert_query_self_similarity(spark, coll):
    batch = make_batch(
        spark, [("a", [1, 2, 3, 4], "x"), ("b", [4, 3, 2, 1], "y"), ("c", [-1, 0, 0, 1], "x")]
    )
    report = coll.upsert(batch)
    # reference returns (updated_ids, inserted_ids), src/lib.rs:184
    assert report == {"updated": [], "inserted": ["a", "b", "c"]}
    top = coll.query([1.0, 2.0, 3.0, 4.0], top_k=1).collect()
    assert top[0]["__id__"] == "a"
    assert top[0]["__metrics__"] > 0.99  # reference asserts the same bound


def test_stored_vectors_are_unit_norm(spark, coll):
    coll.upsert(make_batch(spark, [("a", [3, 4, 0, 0], None)]))
    v = coll.df.collect()[0]["vector"]
    assert abs(math.sqrt(sum(x * x for x in v)) - 1.0) < 1e-5
    assert abs(v[0] - 0.6) < 1e-6 and abs(v[1] - 0.8) < 1e-6


def test_update_vs_insert_classification(spark, coll):
    coll.upsert(make_batch(spark, [("a", [1, 0, 0, 0], "old"), ("b", [0, 1, 0, 0], "old")]))
    report = coll.upsert(
        make_batch(spark, [("a", [0, 0, 1, 0], "new"), ("z", [0, 0, 0, 1], "new")])
    )
    assert report == {"updated": ["a"], "inserted": ["z"]}
    assert coll.count() == 3
    # Q2 decision: full-row replace — metadata updated too (diverges from
    # the reference, which silently drops metadata updates, src/lib.rs:157-163)
    row = {r["__id__"]: r for r in coll.df.collect()}
    assert row["a"]["tag"] == "new"
    assert row["a"]["vector"][2] == pytest.approx(1.0)


def test_dup_ids_in_batch_last_writer_wins(spark, coll):
    # Q3 decision: the reference would insert both (src/lib.rs:167-170)
    coll.upsert(
        make_batch(spark, [("a", [1, 0, 0, 0], "first"), ("a", [0, 1, 0, 0], "second")])
    )
    rows = coll.df.collect()
    assert len(rows) == 1
    assert rows[0]["tag"] == "second"


def test_get_missing_ids_silently_dropped(spark, coll):
    coll.upsert(make_batch(spark, [("a", [1, 0, 0, 0], None), ("b", [0, 1, 0, 0], None)]))
    got = coll.get(["a", "nope", "b", "also-nope"])
    assert sorted(r["__id__"] for r in got.collect()) == ["a", "b"]
    # duplicate requested ids return their row once; ids compare as strings
    got = coll.get(["a", "a", "nope", "b", "a"])
    assert sorted(r["__id__"] for r in got.collect()) == ["a", "b"]
    coll.upsert(make_batch(spark, [("7", [0, 0, 1, 0], None)]))
    assert [r["__id__"] for r in coll.get([7, 8]).collect()] == ["7"]
    assert coll.get([]).collect() == []


def test_get_ordered_matches_request_order(spark, coll):
    # reference's get() walks the requested ids sequentially
    # (src/lib.rs:263-270) so output order == request order
    coll.upsert(
        make_batch(
            spark,
            [("a", [1, 0, 0, 0], None), ("b", [0, 1, 0, 0], None), ("c", [0, 0, 1, 0], None)],
        )
    )
    got = coll.get(["c", "missing", "a", "b"], ordered=True)
    assert [r["__id__"] for r in got.collect()] == ["c", "a", "b"]
    assert "__pos__" not in got.columns


def test_len_and_dup_batch_report(spark, coll):
    # mirrors reference unit_tests.rs:82-107: upsert report ids + len()
    assert len(coll) == 0
    report = coll.upsert(
        make_batch(spark, [("a", [1, 0, 0, 0], "first"), ("a", [0, 1, 0, 0], "second")])
    )
    # LWW dedup within the batch: one surviving row, reported once
    assert report == {"updated": [], "inserted": ["a"]}
    assert len(coll) == 1
    report = coll.upsert(make_batch(spark, [("a", [0, 0, 1, 0], "third")]))
    assert report == {"updated": ["a"], "inserted": []}
    assert len(coll) == 1


def test_delete_then_requery(spark, coll):
    coll.upsert(
        make_batch(spark, [("a", [1, 0, 0, 0], None), ("b", [0.9, 0.1, 0, 0], None)])
    )
    coll.delete(["a"])
    assert coll.count() == 1
    top = coll.query([1.0, 0.0, 0.0, 0.0], top_k=1).collect()
    assert top[0]["__id__"] == "b"


def test_persistence_roundtrip_and_delete_after_reload(spark, coll, tmp_path):
    coll.upsert(
        make_batch(spark, [("a", [1, 2, 3, 4], "x"), ("b", [4, 3, 2, 1], "y")])
    )
    coll.store_additional_data({"model": "test-embedder", "dim": DIM})
    coll.save()

    re = VectorCollection.open(spark, DIM, coll.path)
    assert re.count() == 2
    assert re.additional_data() == {"model": "test-embedder", "dim": DIM}
    # Q1: the reference corrupts the matrix on delete-after-reload
    # (src/lib.rs:280-285 + serde-skip vectors); ours must survive it.
    re.delete(["a"])
    re.save()
    re2 = VectorCollection.open(spark, DIM, coll.path)
    assert re2.count() == 1
    top = re2.query([4.0, 3.0, 2.0, 1.0], top_k=1).collect()
    assert top[0]["__id__"] == "b" and top[0]["__metrics__"] > 0.99


def test_zero_vector_rejected(spark, coll):
    with pytest.raises(ZeroVectorError):
        coll.upsert(make_batch(spark, [("z", [0, 0, 0, 0], None)]))


def test_non_finite_vectors_rejected_at_ingest(spark, coll):
    # normalizing an infinite element stores NaN, and a NaN row ranks first
    # in every query with __metrics__ = NaN
    for bad in (math.inf, -math.inf, math.nan):
        batch = make_batch(spark, [("ok", [0, 1, 0, 0], None), ("bad", [bad, 1, 0, 0], None)])
        with pytest.raises(ZeroVectorError):
            coll.upsert(batch)
        kept = coll._validate_and_normalize(batch, strict=False).collect()
        assert [r["__id__"] for r in kept] == ["ok"]
        with pytest.raises(ZeroVectorError):
            coll.query_batch(batch)
    assert coll.count() == 0


def test_dimension_mismatch_rejected(spark, coll):
    # Q4 decision: the reference silently corrupts row alignment (src/lib.rs:175)
    bad = spark.createDataFrame(
        [("w", [1.0, 2.0], None)],
        T.StructType(
            [
                T.StructField("__id__", T.StringType(), False),
                T.StructField("vector", T.ArrayType(T.FloatType()), False),
                T.StructField("tag", T.StringType(), True),
            ]
        ),
    )
    with pytest.raises(DimensionError):
        coll.upsert(bad)


def test_query_dim_and_zero_query_guards(coll):
    with pytest.raises(DimensionError):
        coll.query([1.0, 0.0])
    with pytest.raises(ZeroVectorError):
        coll.query([0.0, 0.0, 0.0, 0.0])
    # non-finite input fails typed before any Spark work: a NaN score would
    # sort above every real score and fill the top-k
    for bad in (math.nan, math.inf, -math.inf):
        with pytest.raises(ZeroVectorError):
            coll.query([bad, 1.0, 0.0, 0.0])
    # a negative top_k fails typed too, on the Spark and the resident path
    # and in query_batch (which would otherwise return no rows)
    batch = make_batch(coll.spark, [("a", [1, 0, 0, 0], None), ("b", [0, 1, 0, 0], None)])
    with pytest.raises(ValueError, match="top_k"):
        coll.query_batch(batch, top_k=-1)
    coll.upsert(batch)
    with pytest.raises(ValueError, match="top_k"):
        coll.query([1.0, 0.0, 0.0, 0.0], top_k=-1)
    coll.save()
    saved = VectorCollection.open(coll.spark, DIM, coll.path, SCHEMA)
    with pytest.raises(ValueError, match="top_k"):
        saved.query([1.0, 0.0, 0.0, 0.0], top_k=-1)


def test_threshold_boundary(spark, coll):
    coll.upsert(
        make_batch(
            spark,
            [("pos", [1, 0, 0, 0], None), ("orth", [0, 1, 0, 0], None), ("neg", [-1, 0, 0, 0], None)],
        )
    )
    # better_than is inclusive (score >= t, src/lib.rs:222)
    ids = {r["__id__"] for r in coll.query([1, 0, 0, 0], 10, better_than=0.0).collect()}
    assert ids == {"pos", "orth"}
    ids = {r["__id__"] for r in coll.query([1, 0, 0, 0], 10, better_than=0.5).collect()}
    assert ids == {"pos"}


def test_metadata_filter_pushdown(spark, coll):
    from pyspark.sql import functions as F

    coll.upsert(
        make_batch(
            spark, [("a", [1, 0, 0, 0], "keep"), ("b", [1, 0.01, 0, 0], "drop")]
        )
    )
    rows = coll.query([1, 0, 0, 0], 10, where=F.col("tag") == "keep").collect()
    assert [r["__id__"] for r in rows] == ["a"]


def test_deterministic_tiebreak(spark, coll):
    # Q7 decision: equal scores order by __id__ asc (reference is nondeterministic)
    coll.upsert(
        make_batch(spark, [("b", [1, 0, 0, 0], None), ("a", [2, 0, 0, 0], None)])
    )
    rows = coll.query([1, 0, 0, 0], 2).collect()
    assert [r["__id__"] for r in rows] == ["a", "b"]


def test_query_score_is_left_to_right_double_fold(spark, coll):
    # determinism contract: __metrics__ is exactly (==, not approx) the
    # sequential double sum of the stored float32 vector times the
    # driver-normalized query
    coll.upsert(
        make_batch(
            spark,
            [("a", [0.3, -1.7, 2.9, 0.11], None), ("b", [5.0, 0.2, -0.7, 1.3], None)],
        )
    )
    q = [0.61, 0.2, -1.3, 0.47]
    qn = sum(x * x for x in q) ** 0.5
    unit = [x / qn for x in q]
    stored = {r["__id__"]: r["vector"] for r in coll.df.collect()}
    for r in coll.query(q, top_k=2).collect():
        acc = 0.0
        for v, u in zip(stored[r["__id__"]], unit):
            acc += v * u
        assert r["__metrics__"] == acc


def test_compact_merges_small_files(spark, tmp_path):
    """Many tiny per-batch file sets collapse to the computed file count with
    identical contents."""
    import os

    from nano_vectordb_rs_spark.collection import VectorCollection

    path = str(tmp_path / "frag")
    c = VectorCollection.open(spark, 4, path)
    schema = "`__id__` string, vector array<float>, tag string"
    for b in range(5):  # five upsert+save cycles → five file generations
        c.upsert(
            spark.createDataFrame(
                [(f"id{b}-{i}", [1.0, float(b), float(i), 0.0], f"t{b}") for i in range(4)],
                schema,
            )
        )
        c.save()
    before = {r["__id__"] for r in c.df.collect()}
    n_files = c.compact(target_rows_per_file=10)
    parquet_files = [f for f in os.listdir(path) if f.endswith(".parquet")]
    assert n_files == 2  # 20 rows / 10 per file
    assert len(parquet_files) == n_files
    after = {r["__id__"] for r in VectorCollection.open(spark, 4, path).df.collect()}
    assert after == before and len(after) == 20


def test_query_batch_matches_single_queries(spark, tmp_path):
    """query_batch(N queries) row-for-row equals N single query() calls."""
    from nano_vectordb_rs_spark.collection import VectorCollection

    c = VectorCollection.open(spark, 4, str(tmp_path / "qb"))
    schema = "`__id__` string, vector array<float>, tag string"
    c.upsert(
        spark.createDataFrame(
            [(f"v{i}", [float(i % 3 + 1), float(i % 5), 1.0, 0.5], f"t{i % 2}") for i in range(30)],
            schema,
        )
    )
    qvecs = [[1.0, 0.0, 0.0, 0.0], [0.0, 2.0, 1.0, 0.0]]
    queries = spark.createDataFrame(
        [(f"q{j}", v, "q") for j, v in enumerate(qvecs)], schema
    )
    batch = c.query_batch(queries, top_k=3, better_than=0.1)
    got = {
        (r["__query_id__"], r["rank"]): (r["__id__"], round(r["__metrics__"], 6))
        for r in batch.collect()
    }
    for j, v in enumerate(qvecs):
        singles = c.query(v, top_k=3, better_than=0.1).collect()
        for rank, r in enumerate(singles, start=1):
            assert got[(f"q{j}", rank)] == (r["__id__"], round(r["__metrics__"], 6))
    # where-predicate restriction applies per query
    filtered = c.query_batch(queries, top_k=3, where="tag = 't1'")
    assert all(r["tag"] == "t1" for r in filtered.collect())


# -- snapshots (time travel) ---------------------------------------------


def test_snapshot_versions_are_immutable(spark, coll):
    coll.upsert(
        make_batch(spark, [("a", [1, 0, 0, 0], "x"), ("b", [0, 1, 0, 0], "y")])
    )
    coll.store_additional_data({"stage": "v1"})
    v1 = coll.save_snapshot()
    assert v1 == 1 and coll.snapshots() == [1]
    # mutate AFTER the snapshot: delete one row, edit the other, add one
    coll.delete(["a"])
    coll.upsert(
        make_batch(spark, [("b", [0, 0, 1, 0], "edited"), ("c", [0, 0, 0, 1], "z")])
    )
    coll.store_additional_data({"stage": "v2"})
    v2 = coll.save_snapshot()
    assert v2 == 2 and coll.snapshots() == [1, 2]
    s1 = VectorCollection.open_snapshot(spark, DIM, coll.path, 1)
    s2 = VectorCollection.open_snapshot(spark, DIM, coll.path, 2)
    # v1 unaffected by the later delete/edit/insert — full rows AND sidecar
    assert sorted(r["__id__"] for r in s1.df.collect()) == ["a", "b"]
    assert s1.get(["b"]).collect()[0]["tag"] == "y"
    assert s1.additional_data() == {"stage": "v1"}
    assert sorted(r["__id__"] for r in s2.df.collect()) == ["b", "c"]
    assert s2.get(["b"]).collect()[0]["tag"] == "edited"
    assert s2.additional_data() == {"stage": "v2"}


def test_snapshot_survives_live_save_and_is_queryable(spark, coll):
    coll.upsert(make_batch(spark, [("a", [1, 2, 3, 4], "x")]))
    v1 = coll.save_snapshot()
    # the live store's destructive staged-swap save must not touch v{n}
    coll.upsert(make_batch(spark, [("b", [4, 3, 2, 1], "y")]))
    coll.save()
    snap = VectorCollection.open_snapshot(spark, DIM, coll.path, v1)
    assert snap.count() == 1
    top = snap.query([1.0, 2.0, 3.0, 4.0], top_k=1).collect()
    assert top[0]["__id__"] == "a"
    # a save() through the snapshot handle writes to the SNAPSHOT dir,
    # never the live store
    assert snap.path != coll.path


def test_open_snapshot_missing_version_raises(spark, coll):
    coll.upsert(make_batch(spark, [("a", [1, 0, 0, 0], "x")]))
    coll.save_snapshot()
    with pytest.raises(ValueError, match="no snapshot v9"):
        VectorCollection.open_snapshot(spark, DIM, coll.path, 9)


def test_delete_snapshot_retention(spark, coll):
    coll.upsert(make_batch(spark, [("a", [1, 0, 0, 0], "x")]))
    v1 = coll.save_snapshot()
    coll.upsert(make_batch(spark, [("b", [0, 1, 0, 0], "y")]))
    v2 = coll.save_snapshot()
    # the handle now reads from v2's files — deleting v2 must be refused
    with pytest.raises(ValueError, match="backs this handle"):
        coll.delete_snapshot(v2)
    # v1 is reclaimable; manifest shrinks and reopening v1 fails cleanly
    coll.delete_snapshot(v1)
    assert coll.snapshots() == [v2]
    with pytest.raises(ValueError, match=f"no snapshot v{v1}"):
        VectorCollection.open_snapshot(spark, DIM, coll.path, v1)
    # v2 still opens and still holds both rows
    s2 = VectorCollection.open_snapshot(spark, DIM, coll.path, v2)
    assert s2.count() == 2
    with pytest.raises(ValueError, match="no snapshot v99"):
        coll.delete_snapshot(99)


def test_diff_snapshots_change_feed(spark, coll):
    coll.upsert(
        make_batch(
            spark,
            [("a", [1, 0, 0, 0], "x"), ("b", [0, 1, 0, 0], "y"), ("c", [0, 0, 1, 0], "z")],
        )
    )
    v1 = coll.save_snapshot()
    coll.delete(["a"])  # removed
    coll.upsert(
        make_batch(
            spark,
            [("b", [0, 1, 0, 0], "edited"), ("d", [0, 0, 0, 1], "w")],  # changed, added
        )
    )
    v2 = coll.save_snapshot()
    diff = {r["__id__"]: r["change"] for r in coll.diff_snapshots(v1, v2).collect()}
    # c is identical in both versions — excluded from the feed
    assert diff == {"a": "removed", "b": "changed", "d": "added"}
    # direction matters: swapping versions flips added/removed
    rev = {r["__id__"]: r["change"] for r in coll.diff_snapshots(v2, v1).collect()}
    assert rev == {"a": "added", "b": "changed", "d": "removed"}


def test_diff_snapshots_vector_only_change_detected(spark, coll):
    coll.upsert(make_batch(spark, [("a", [1, 0, 0, 0], "x")]))
    v1 = coll.save_snapshot()
    coll.upsert(make_batch(spark, [("a", [0, 1, 0, 0], "x")]))  # same metadata
    v2 = coll.save_snapshot()
    diff = coll.diff_snapshots(v1, v2).collect()
    assert [(r["__id__"], r["change"]) for r in diff] == [("a", "changed")]


def test_delete_where_predicate(spark, coll):
    from pyspark.sql import functions as F

    coll.upsert(
        make_batch(
            spark,
            [("a", [1, 0, 0, 0], "keep"), ("b", [0, 1, 0, 0], "purge"),
             ("c", [0, 0, 1, 0], None)],
        )
    )
    # null predicate rows must be KEPT (coalesce to False), like SQL DELETE
    coll.delete_where(F.col("tag") == "purge")
    assert sorted(r["__id__"] for r in coll.df.collect()) == ["a", "c"]
    coll.save()
    reopened = VectorCollection.open(spark, DIM, coll.path)
    assert sorted(r["__id__"] for r in reopened.df.collect()) == ["a", "c"]


def test_upsert_metadata_schema_evolution(spark, coll):
    coll.upsert(make_batch(spark, [("a", [1, 0, 0, 0], "x")]))
    # a later batch carries a NEW metadata column: existing rows keep their
    # schema with nulls in the new column (unionByName allowMissingColumns)
    wide = spark.createDataFrame(
        [("b", [0.0, 1.0, 0.0, 0.0], "y", "extra-1")],
        "`__id__` string, vector array<float>, tag string, note string",
    )
    coll.upsert(wide)
    rows = {r["__id__"]: r for r in coll.df.collect()}
    assert rows["b"]["note"] == "extra-1"
    assert rows["a"]["note"] is None
    # and it survives the save/reopen roundtrip
    coll.save()
    re = VectorCollection.open(spark, DIM, coll.path)
    got = {r["__id__"]: r["note"] for r in re.df.collect()}
    assert got == {"a": None, "b": "extra-1"}


def test_delete_snapshot_v1_not_shadowed_by_v10_prefix(spark, coll):
    # regression (r08): the backing-files guard used a SUBSTRING match, and
    # ".snapshots/v1" is a string prefix of ".snapshots/v10", so once the
    # handle read v10's files, deleting v1 (oldest-first retention) was
    # spuriously refused. The guard must match on a path BOUNDARY.
    import os

    coll.upsert(make_batch(spark, [("a", [1, 0, 0, 0], "x")]))
    for _ in range(10):
        coll.save_snapshot()
    assert coll.snapshots() == list(range(1, 11))
    # handle now reads v10; v1 must be reclaimable, v10 refused
    coll.delete_snapshot(1)
    assert coll.snapshots() == list(range(2, 11))
    with pytest.raises(ValueError, match="backs this handle"):
        coll.delete_snapshot(10)
    assert not os.path.isdir(os.path.join(coll.path + ".snapshots", "v1"))
    assert os.path.isdir(os.path.join(coll.path + ".snapshots", "v10"))


def test_save_snapshot_skips_orphan_version_dir(spark, coll):
    # regression (r08): a crash between the data-dir rename and the manifest
    # rename leaves an orphan vN dir the manifest never learned about; the
    # next save_snapshot must not recompute the same N and fail the rename.
    import os

    coll.upsert(make_batch(spark, [("a", [1, 0, 0, 0], "x")]))
    v1 = coll.save_snapshot()
    assert v1 == 1
    os.makedirs(os.path.join(coll.path + ".snapshots", "v2"))  # crash remnant
    v = coll.save_snapshot()
    assert v == 3  # skips the orphan instead of colliding with it
    assert coll.snapshots() == [1, 3]
    s3 = VectorCollection.open_snapshot(spark, DIM, coll.path, 3)
    assert s3.count() == 1


def test_delete_where_accepts_sql_string(spark, coll):
    # regression (r08): delete_where only took a Column; a string predicate
    # was passed to coalesce as a column NAME and failed to resolve. It now
    # accepts the same Column | str union as query(where=...).
    coll.upsert(
        make_batch(
            spark,
            [("a", [1, 0, 0, 0], "keep"), ("b", [0, 1, 0, 0], "purge"),
             ("c", [0, 0, 1, 0], None)],
        )
    )
    coll.delete_where("tag = 'purge'")
    assert sorted(r["__id__"] for r in coll.df.collect()) == ["a", "c"]


def test_expire_snapshots_keeps_newest_tail(spark, coll):
    coll.upsert(make_batch(spark, [("a", [1, 0, 0, 0], "x")]))
    for _ in range(5):
        coll.save_snapshot()
    assert coll.snapshots() == [1, 2, 3, 4, 5]
    dropped = coll.expire_snapshots(keep_last=2)
    assert dropped == [1, 2, 3]
    assert coll.snapshots() == [4, 5]
    # keep_last=0 sweeps everything EXCEPT the version backing the handle
    # (the handle reads v5's files after the last save_snapshot) — a sweep
    # is best-effort, never an error
    dropped = coll.expire_snapshots(keep_last=0)
    assert dropped == [4]
    assert coll.snapshots() == [5]
    with pytest.raises(ValueError, match="keep_last"):
        coll.expire_snapshots(keep_last=-1)


def test_save_crash_between_renames_recovers_staged(spark, tmp_path, monkeypatch):
    # regression (r09): save() used rmtree(live) -> rename(staged, live); a
    # crash between the two left NO live dir and open() silently created an
    # EMPTY collection (data loss). The rename-aside swap plus open()-time
    # replay must finish an interrupted promote instead.
    import os

    path = str(tmp_path / "c1")
    coll = VectorCollection.open(spark, DIM, path, SCHEMA)
    coll.upsert(make_batch(spark, [("a", [1, 0, 0, 0], "x")]))
    coll.save()
    coll.upsert(make_batch(spark, [("b", [0, 1, 0, 0], "y")]))

    real_rename = os.rename

    def crash_on_promote(src, dst):
        if dst == path and src.endswith(".staging"):
            raise OSError("simulated crash between rename-aside and promote")
        real_rename(src, dst)

    monkeypatch.setattr(os, "rename", crash_on_promote)
    with pytest.raises(OSError, match="simulated crash"):
        coll.save()
    monkeypatch.undo()
    # the crash window: no live dir, complete staged dir, aside copy
    assert not os.path.exists(path)
    assert os.path.exists(os.path.join(path + ".staging", "_SUCCESS"))
    assert os.path.isdir(path + ".old")
    # open() replays the tail of the swap: the NEW state wins
    re = VectorCollection.open(spark, DIM, path, SCHEMA)
    assert sorted(r["__id__"] for r in re.df.collect()) == ["a", "b"]
    assert not os.path.isdir(path + ".staging")
    assert not os.path.isdir(path + ".old")


def test_save_retry_after_midswap_crash_preserves_data(spark, tmp_path, monkeypatch):
    # review finding (r09): retrying save() on the SAME handle after a
    # crash between the two renames used to rmtree the .old aside copy —
    # the only committed copy — then fail its own staged write (whose
    # input files lived under the renamed-away dir), leaving open() to
    # create an EMPTY collection: total data loss. save() now replays the
    # interrupted swap at entry; the retry itself may still raise (the
    # handle's lazy plan can reference renamed-away files) but the store
    # on disk must stay whole.
    import os

    path = str(tmp_path / "c4")
    coll = VectorCollection.open(spark, DIM, path, SCHEMA)
    coll.upsert(make_batch(spark, [("a", [1, 0, 0, 0], "x")]))
    coll.save()
    coll.upsert(make_batch(spark, [("b", [0, 1, 0, 0], "y")]))

    real_rename = os.rename

    def crash_on_promote(src, dst):
        if dst == path and src.endswith(".staging"):
            raise OSError("simulated crash between rename-aside and promote")
        real_rename(src, dst)

    monkeypatch.setattr(os, "rename", crash_on_promote)
    with pytest.raises(OSError, match="simulated crash"):
        coll.save()
    monkeypatch.undo()
    try:
        coll.save()  # retry on the same handle — allowed to raise...
    except Exception:
        pass
    # ...but committed data must survive: the staged dir was complete at
    # crash time, so the entry replay promotes the NEW state
    re = VectorCollection.open(spark, DIM, path, SCHEMA)
    assert sorted(r["__id__"] for r in re.df.collect()) == ["a", "b"]


def test_recovery_requires_sidecar_to_promote(spark, tmp_path):
    # review finding (r09): parquet _SUCCESS alone used to count as
    # "staged dir complete", but save() writes the sidecar after the
    # parquet job — a crash in between must NOT promote a half-payload
    # stage. With an aside copy present the rollback wins; on a first
    # save (nothing to roll back) the save simply never happened.
    import os

    # first-save case: staged has _SUCCESS, no sidecar, no live dir
    p1 = str(tmp_path / "c5")
    c1 = VectorCollection.open(spark, DIM, p1, SCHEMA)
    c1.upsert(make_batch(spark, [("a", [1, 0, 0, 0], "x")]))
    c1.df.write.mode("overwrite").parquet(p1 + ".staging")
    re1 = VectorCollection.open(spark, DIM, p1, SCHEMA)
    assert re1.count() == 0  # the interrupted save never happened
    # overwrite-save case: same stage state but an aside copy exists
    p2 = str(tmp_path / "c6")
    c2 = VectorCollection.open(spark, DIM, p2, SCHEMA)
    c2.upsert(make_batch(spark, [("a", [1, 0, 0, 0], "x")]))
    c2.save()
    c2.df.write.mode("overwrite").parquet(p2 + ".staging")  # no sidecar
    os.rename(p2, p2 + ".old")
    re2 = VectorCollection.open(spark, DIM, p2, SCHEMA)
    assert sorted(r["__id__"] for r in re2.df.collect()) == ["a"]
    assert not os.path.isdir(p2 + ".staging")
    assert not os.path.isdir(p2 + ".old")


def test_save_crash_rolls_back_incomplete_staging(spark, tmp_path):
    # an aside copy next to an INCOMPLETE staged dir (no _SUCCESS — the
    # staged write itself never committed) must roll back to the old state
    import os

    path = str(tmp_path / "c2")
    coll = VectorCollection.open(spark, DIM, path, SCHEMA)
    coll.upsert(make_batch(spark, [("a", [1, 0, 0, 0], "x")]))
    coll.save()
    os.rename(path, path + ".old")
    os.makedirs(path + ".staging")  # junk: no _SUCCESS, no data
    re = VectorCollection.open(spark, DIM, path, SCHEMA)
    assert sorted(r["__id__"] for r in re.df.collect()) == ["a"]
    assert not os.path.isdir(path + ".staging")
    assert not os.path.isdir(path + ".old")


def test_save_clears_stray_aside_copy(spark, tmp_path):
    # crash AFTER the promote but before the aside cleanup: the live dir is
    # current, so open() must serve it untouched and the next save() must
    # clear the stray .old (which would otherwise block the rename-aside)
    import os

    path = str(tmp_path / "c3")
    coll = VectorCollection.open(spark, DIM, path, SCHEMA)
    coll.upsert(make_batch(spark, [("a", [1, 0, 0, 0], "x")]))
    coll.save()
    os.makedirs(path + ".old")  # stray remnant
    re = VectorCollection.open(spark, DIM, path, SCHEMA)
    assert re.count() == 1
    re.upsert(make_batch(spark, [("b", [0, 1, 0, 0], "y")]))
    re.save()
    assert not os.path.isdir(path + ".old")
    assert sorted(r["__id__"] for r in re.df.collect()) == ["a", "b"]


def test_expire_snapshots_propagates_unknown_version(spark, coll, monkeypatch):
    # regression (r09 review): expire_snapshots swallowed ANY ValueError as
    # "backs this handle"; a 'no snapshot vN' inconsistency (manifest moved
    # under us) must propagate, only SnapshotInUseError is a benign skip
    from nano_vectordb_rs_spark.collection import SnapshotInUseError

    coll.upsert(make_batch(spark, [("a", [1, 0, 0, 0], "x")]))
    coll.save_snapshot()
    coll.save_snapshot()

    def gone(version):
        raise ValueError(f"no snapshot v{version} at {coll.path}")

    monkeypatch.setattr(coll, "delete_snapshot", gone)
    with pytest.raises(ValueError, match="no snapshot"):
        coll.expire_snapshots(keep_last=0)
    monkeypatch.undo()
    # and the in-use refusal is the distinct subtype
    with pytest.raises(SnapshotInUseError):
        coll.delete_snapshot(2)


def test_vacuum_reclaims_only_crash_droppings(spark, coll):
    import os

    coll.upsert(make_batch(spark, [("a", [1, 0, 0, 0], "x")]))
    coll.save()
    v1 = coll.save_snapshot()
    root = coll.path + ".snapshots"
    os.makedirs(coll.path + ".staging")
    os.makedirs(coll.path + ".old")
    os.makedirs(os.path.join(root, "v99"))
    os.makedirs(os.path.join(root, "v100.staging"))
    with open(os.path.join(root, "manifest.json.tmp"), "w") as f:
        f.write("{")
    removed = coll.vacuum()
    assert removed == {
        "staging": 2, "aside": 1, "orphan_snapshots": 1, "manifest_tmp": 1,
    }
    # live surface untouched
    assert coll.snapshots() == [v1]
    assert os.path.isdir(os.path.join(root, f"v{v1}"))
    assert coll.count() == 1
    assert not os.path.isdir(os.path.join(root, "v99"))
    # idempotent: a second sweep finds nothing
    assert coll.vacuum() == {
        "staging": 0, "aside": 0, "orphan_snapshots": 0, "manifest_tmp": 0,
    }


def test_vacuum_refuses_when_live_dir_missing(spark, coll):
    # while the live dir is missing, .staging/.old are RECOVERY INPUTS, not
    # garbage — vacuum must refuse, and open() must still replay them after
    import os

    coll.upsert(make_batch(spark, [("a", [1, 0, 0, 0], "x")]))
    coll.save()
    os.rename(coll.path, coll.path + ".old")
    with pytest.raises(ValueError, match="refusing to vacuum"):
        coll.vacuum()
    re = VectorCollection.open(spark, DIM, coll.path, SCHEMA)
    assert re.count() == 1


def test_vacuum_skips_orphan_backing_handle(spark, coll):
    # a crash between save_snapshot's data rename and manifest rename
    # leaves the handle reading a vN dir the manifest never listed — the
    # sweep must skip it (best-effort), never break the live handle
    import json
    import os

    coll.upsert(make_batch(spark, [("a", [1, 0, 0, 0], "x")]))
    coll.save()
    v1 = coll.save_snapshot()
    manifest = os.path.join(coll.path + ".snapshots", "manifest.json")
    with open(manifest, "w") as f:
        json.dump({"versions": []}, f)
    removed = coll.vacuum()
    assert removed["orphan_snapshots"] == 0
    assert os.path.isdir(os.path.join(coll.path + ".snapshots", f"v{v1}"))
    assert coll.count() == 1


def test_delete_snapshot_guard_holds_for_relative_path(spark, tmp_path, monkeypatch):
    # regression (r08 review): the path-boundary guard compared the store's
    # RELATIVE target path against the absolute URI paths inputFiles()
    # reports, never matched, and let the sweep delete the snapshot backing
    # the live handle — breaking the handle (data loss). Both sides must be
    # compared as absolute, decoded paths.
    monkeypatch.chdir(tmp_path)
    coll = VectorCollection.open(spark, DIM, "relstore", SCHEMA)
    coll.upsert(make_batch(spark, [("a", [1, 0, 0, 0], "x")]))
    v1 = coll.save_snapshot()
    with pytest.raises(ValueError, match="backs this handle"):
        coll.delete_snapshot(v1)
    # the handle must still answer after the refused delete
    assert coll.count() == 1
    # and a non-backing version still deletes cleanly under a relative path
    v2 = coll.save_snapshot()
    coll.delete_snapshot(v1)
    assert coll.snapshots() == [v2]
    # the abspath fix means NOTHING stages against the JVM's cwd (the repo
    # root) — the pre-fix run left six debris files that got committed in
    # r08; keep the root provably clean
    import os

    repo_root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    assert not os.path.exists(os.path.join(repo_root, "relstore.snapshots"))
    assert not os.path.exists(os.path.join(repo_root, "relstore"))


# ---- changes() / apply_changes(): the CDC replay pair ----------------------


def _two_versions(spark, coll):
    """v1 = {a,b,c}; v2 = b relabeled, c deleted, d added. Unit vectors so
    ingest normalization is the identity and payload equality is exact."""
    coll.upsert(
        make_batch(
            spark,
            [("a", [1, 0, 0, 0], "x"), ("b", [0, 1, 0, 0], "y"), ("c", [0, 0, 1, 0], "z")],
        )
    )
    v1 = coll.save_snapshot()
    coll.delete(["c"])
    coll.upsert(make_batch(spark, [("b", [0, 1, 0, 0], "y2"), ("d", [0, 0, 0, 1], "w")]))
    v2 = coll.save_snapshot()
    return v1, v2


def _state_set(df):
    return {(r["__id__"], tuple(r["vector"]), r["tag"]) for r in df.collect()}


def test_changes_feed_carries_b_side_payload(spark, coll):
    v1, v2 = _two_versions(spark, coll)
    feed = {r["__id__"]: r for r in coll.changes(v1, v2).collect()}
    assert {k: r["change"] for k, r in feed.items()} == {
        "b": "changed",
        "c": "removed",
        "d": "added",
    }
    # removed rows ship id+kind only — payload is all-NULL
    assert feed["c"]["vector"] is None and feed["c"]["tag"] is None
    # added/changed carry the version_b row verbatim
    assert feed["d"]["tag"] == "w" and feed["d"]["vector"] == [0.0, 0.0, 0.0, 1.0]
    assert feed["b"]["tag"] == "y2" and feed["b"]["vector"] == [0.0, 1.0, 0.0, 0.0]


def test_apply_changes_reconstructs_target_version(spark, coll):
    v1, v2 = _two_versions(spark, coll)
    replay = VectorCollection.open_snapshot(spark, DIM, coll.path, v1)
    replay.apply_changes(coll.changes(v1, v2))
    want = _state_set(VectorCollection.open_snapshot(spark, DIM, coll.path, v2).df)
    assert _state_set(replay.df) == want


def test_apply_changes_empty_feed_is_noop(spark, coll):
    coll.upsert(make_batch(spark, [("a", [1, 0, 0, 0], "x")]))
    v1 = coll.save_snapshot()
    v2 = coll.save_snapshot()  # identical content
    feed = coll.changes(v1, v2)
    assert feed.count() == 0
    replay = VectorCollection.open_snapshot(spark, DIM, coll.path, v1)
    replay.apply_changes(feed)
    assert _state_set(replay.df) == {("a", (1.0, 0.0, 0.0, 0.0), "x")}


def test_apply_changes_keeps_vector_bytes_verbatim(spark, coll):
    # non-unit ingest vector: normalized exactly ONCE at upsert; the replay
    # path must apply the feed's bytes verbatim (no re-normalization), so
    # the replayed vector is bit-identical to the target snapshot's
    coll.upsert(make_batch(spark, [("a", [1, 2, 3, 4], "x")]))
    v1 = coll.save_snapshot()
    coll.upsert(make_batch(spark, [("a", [1, 2, 3, 4], "relabeled")]))
    v2 = coll.save_snapshot()
    replay = VectorCollection.open_snapshot(spark, DIM, coll.path, v1)
    replay.apply_changes(coll.changes(v1, v2))
    [got] = replay.df.collect()
    [want] = VectorCollection.open_snapshot(spark, DIM, coll.path, v2).df.collect()
    assert got["vector"] == want["vector"] and got["tag"] == "relabeled"


def test_apply_changes_rejects_unknown_change_kind(spark, coll):
    # a hand-built feed with a NULL/unknown kind must error at evaluation,
    # not silently delete the row (its id anti-joins away while NULL never
    # matches the upsert filter)
    coll.upsert(make_batch(spark, [("a", [1, 0, 0, 0], "x")]))
    feed_schema = "`__id__` string, change string, vector array<float>, tag string"
    for bad_kind in [None, "frobnicate"]:
        replica = VectorCollection.open(spark, DIM, coll.path + "_r", SCHEMA)
        replica.upsert(make_batch(spark, [("a", [1, 0, 0, 0], "x")]))
        replica.apply_changes(
            spark.createDataFrame([("a", bad_kind, None, None)], feed_schema)
        )
        with pytest.raises(Exception, match="unknown change kind"):
            replica.df.collect()


def test_apply_changes_rejects_duplicate_feed_ids(spark, coll):
    # the per-id invariant every mutator preserves: a hand-built feed with
    # the same id twice must error at evaluation (default validation), not
    # silently insert duplicate __id__ rows
    coll.upsert(make_batch(spark, [("a", [1, 0, 0, 0], "x")]))
    feed_schema = "`__id__` string, change string, vector array<float>, tag string"
    dup_feed = spark.createDataFrame(
        [
            ("b", "added", [0.0, 1.0, 0.0, 0.0], "y1"),
            ("b", "added", [0.0, 0.0, 1.0, 0.0], "y2"),
        ],
        feed_schema,
    )
    coll.apply_changes(dup_feed)
    with pytest.raises(Exception, match="duplicate feed id"):
        coll.df.collect()


def test_apply_changes_validate_opt_out_documented_behavior(spark, coll):
    # validate_unique_ids=False is the trusted-feed fast path (changes()
    # output is one-row-per-id by construction): no window shuffle, and a
    # well-formed feed replays identically to the default path
    v1, v2 = _two_versions(spark, coll)
    replay = VectorCollection.open_snapshot(spark, DIM, coll.path, v1)
    replay.apply_changes(coll.changes(v1, v2), validate_unique_ids=False)
    want = _state_set(VectorCollection.open_snapshot(spark, DIM, coll.path, v2).df)
    assert _state_set(replay.df) == want


def test_changes_roundtrip_with_dotted_metadata_column(spark, coll):
    # upsert accepts arbitrary metadata column names; a name containing a
    # dot must survive the CDC pair (struct indexing, not a path lookup)
    dotted = "meta.tag"
    batch_schema = T.StructType(
        [
            T.StructField("__id__", T.StringType()),
            T.StructField("vector", T.ArrayType(T.FloatType())),
            T.StructField(dotted, T.StringType()),
        ]
    )
    c = VectorCollection.open(spark, DIM, coll.path + "_dot", batch_schema)
    c.upsert(
        spark.createDataFrame(
            [("a", [1.0, 0.0, 0.0, 0.0], "x"), ("c", [0.0, 0.0, 1.0, 0.0], "z")],
            batch_schema,
        )
    )
    v1 = c.save_snapshot()
    c.delete(["c"])
    c.upsert(spark.createDataFrame([("b", [0.0, 1.0, 0.0, 0.0], "y")], batch_schema))
    v2 = c.save_snapshot()
    feed = {r["__id__"]: r for r in c.changes(v1, v2).collect()}
    assert {k: r["change"] for k, r in feed.items()} == {
        "b": "added",
        "c": "removed",
    }
    assert feed["b"][dotted] == "y" and feed["c"][dotted] is None
    replay = VectorCollection.open_snapshot(spark, DIM, c.path, v1)
    replay.apply_changes(c.changes(v1, v2))
    got = {(r["__id__"], r[dotted]) for r in replay.df.collect()}
    assert got == {("a", "x"), ("b", "y")}
