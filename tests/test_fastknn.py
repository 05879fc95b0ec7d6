"""Arrow fast path ≡ Catalyst SQL path equivalence.

The declared (oracle-checked) queries use the pure-SQL dot product; the
bench/user fast path uses mapInArrow + BLAS. They must agree after the same
round(·, 6) the declared queries apply — this pins the two implementations
to each other (and transitively to the DuckDB oracle).
"""

from __future__ import annotations

import pytest

from nano_vectordb_rs_spark.operators import knn
from nano_vectordb_rs_spark.operators.fastknn import (
    knn_join_fast,
    knn_topk_fast,
    topk_over,
)
from nano_vectordb_rs_spark.operators.similarity import JOIN_K, N_QUERIES, knn_join
from tests.conftest import SF_DIR


def test_topk_fast_matches_sql(spark):
    fast = [(r["vec_id"], r["label"], r["score"]) for r in knn_topk_fast(spark, SF_DIR).collect()]
    sql = [(r["vec_id"], r["label"], r["score"]) for r in knn.knn_topk(spark, SF_DIR).collect()]
    assert [t[:2] for t in fast] == [t[:2] for t in sql]
    for (_, _, sf), (_, _, ss) in zip(fast, sql):
        # independent float32 vs float64 summation orders; equal to ~1e-6
        assert abs(sf - ss) < 2e-6


def test_join_fast_matches_sql(spark):
    fast = {
        (r["query_id"], r["rank"]): r["neighbor_id"]
        for r in knn_join_fast(spark, SF_DIR, n_queries=N_QUERIES, k=JOIN_K).collect()
    }
    sql = {
        (r["query_id"], r["rank"]): r["neighbor_id"]
        for r in knn_join(spark, SF_DIR).collect()
    }
    assert set(fast) == set(sql)
    mismatches = sum(1 for k in sql if fast[k] != sql[k])
    # float32 rounding may flip near-tied neighbors at the rank boundary
    assert mismatches <= len(sql) // 20


def test_topk_over_keeps_ties_at_batch_kth_score(spark):
    # one Arrow batch holding two rows with the same vector: the per-batch
    # pre-reduction must keep both so ORDER BY score DESC, id ASC picks "a"
    df = spark.createDataFrame(
        [("b", [1.0, 0.0]), ("a", [1.0, 0.0]), ("c", [0.0, 1.0])],
        "`__id__` string, vector array<float>",
    ).coalesce(1)
    got = topk_over(df, [1.0, 0.0], k=1).collect()
    assert [r["__id__"] for r in got] == ["a"]


def test_join_fast_keeps_ties_at_batch_kth_score(spark, tmp_path):
    # one Arrow batch: query 0 scores 0.5 against id 3 and 0.9 against ids
    # 2 and 1; the k=1 answer under score DESC, neighbor_id ASC is id 1
    import pyarrow as pa
    import pyarrow.parquet as pq

    pq.write_table(
        pa.table(
            {
                "vec_id": pa.array([0, 3, 2, 1], pa.int64()),
                "embedding": pa.array(
                    [[1.0, 0.0], [0.5, 0.75**0.5], [0.9, 0.19**0.5], [0.9, 0.19**0.5]],
                    pa.list_(pa.float32()),
                ),
                "label": pa.array([0, 0, 0, 0], pa.int32()),
            }
        ),
        str(tmp_path / "embeddings.parquet"),
    )
    got = knn_join_fast(spark, str(tmp_path), n_queries=1, k=1).collect()
    assert [(r["query_id"], r["neighbor_id"]) for r in got] == [(0, 1)]
