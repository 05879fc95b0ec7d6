"""Vectorized (Arrow + NumPy BLAS) KNN scoring — the performance path.

SURVEY.md §4.3: the reference's hot loop is a SIMD-shaped 4-wide f32 dot
product (/root/reference/src/lib.rs:321-344). The honest Spark analogue is
NOT a per-row Python UDF but ``mapInArrow``: each Arrow batch's
``array<float>`` column arrives as ONE flat float32 buffer, which reshapes
zero-copy into a (batch, dim) NumPy matrix for a single BLAS matmul — SIMD
across the whole batch, no per-row Python objects anywhere. (A pandas_udf
would hand us a Series of per-row list objects; ``np.vstack`` over those is
an O(rows) Python loop that costs more than the matmul itself.)

Math is float32 end-to-end, mirroring the reference's `Float = f32`
(src/lib.rs:24).

Used by bench.py and available to users; the oracle-checked declared queries
use the pure-Catalyst expression (functions/vector.py) because its summation
order is reproducible in DuckDB.
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from nano_vectordb_rs_spark.functions.vector import QUERY_VECTOR
from nano_vectordb_rs_spark.sources.tables import load_table


def _make_batch_matrix():
    """Worker-side helper factory: (rows, dim) float32 matrix from a
    list<float> column — zero-copy: the ListArray's value buffer is already
    the row-major matrix the reference stores explicitly (src/lib.rs:44-45).

    Defined NESTED so cloudpickle serializes it by value; a module-level
    function would pickle by reference and require this package on every
    worker's import path (not true when the driver runs from another cwd).
    """

    def batch_matrix(batch: pa.RecordBatch, col: str) -> np.ndarray:
        arr = batch.column(col)
        flat = arr.flatten()  # honors offsets on sliced arrays
        mat = np.asarray(flat, dtype=np.float32)
        return mat.reshape(len(arr), -1)

    return batch_matrix


def _make_list_array():
    """Row-major float32 matrix back to an Arrow list<float> column
    (nested-def for by-value pickling, see _make_batch_matrix)."""

    def list_array(mat: np.ndarray) -> pa.ListArray:
        n, dim = mat.shape
        offsets = pa.array(np.arange(0, (n + 1) * dim, dim, dtype=np.int32))
        return pa.ListArray.from_arrays(offsets, pa.array(mat.ravel(), type=pa.float32()))

    return list_array


def _make_keep_topk():
    """Indices of every score ≥ the k-th largest (nested-def for by-value
    pickling, see _make_batch_matrix). Rows tying the k-th score all
    survive: the final ORDER BY breaks those ties by id, so dropping one
    in a per-batch pre-reduction could drop the exact answer."""

    def keep_topk(scores: np.ndarray, k: int) -> np.ndarray:
        n = len(scores)
        if n <= k:
            return np.arange(n)
        kth = np.partition(scores, n - k)[n - k]
        return np.flatnonzero(scores >= kth)

    return keep_topk


batch_matrix = _make_batch_matrix()
list_array = _make_list_array()


def normalize_ml(df: DataFrame, vec_col: str = "vector") -> DataFrame:
    """Unit-L2 normalize (O12) entirely JVM-side: ``array_to_vector`` →
    MLlib ``Normalizer`` (a Scala loop over the dense values — no Python
    hop, no Arrow IPC) → ``vector_to_array(dtype='float32')``.

    Numerics match the collection's HOF write path bit-for-bit: both
    promote float→double, take a left-to-right double sum of squares,
    divide in double, and truncate the quotient to float32. Measured on the
    100k×1024 micro: ~0.51 s vs ~0.63 s for a mapInArrow normalize, whose
    floor was the 2×400 MB Arrow IPC transfer; this path never leaves the
    JVM."""
    from pyspark.ml.feature import Normalizer
    from pyspark.ml.functions import array_to_vector, vector_to_array

    from nano_vectordb_rs_spark.functions.vector import qcol

    names = df.columns
    vecs = df.withColumn("__v__", array_to_vector(vec_col))
    normed = Normalizer(inputCol="__v__", outputCol="__nv__", p=2.0).transform(vecs)
    out = normed.withColumn(vec_col, vector_to_array(F.col("__nv__"), dtype="float32"))
    # qcol: metadata column names are user-controlled and may contain '.'
    return out.select(*[qcol(c) for c in names])


def topk_over(
    df: DataFrame,
    query: list[float],
    k: int = 10,
    id_col: str = "__id__",
    vec_col: str = "vector",
    extra_cols: tuple[str, ...] = (),
    assume_normalized: bool = False,
) -> DataFrame:
    """Cosine top-k over any (id, vector, ...) DataFrame on the Arrow path.

    Per Arrow batch: one BLAS matvec + argpartition keeps only k rows, so the
    driver-side merge (`TakeOrderedAndProject`) sees k rows per batch — the
    same bounded-heap shape as the reference's Rayon fold/reduce
    (src/lib.rs:217-242), scaled out."""
    q = np.asarray(query, dtype=np.float32)
    q = q / np.linalg.norm(q)
    keep = [id_col, *extra_cols]
    in_types = dict(zip(df.schema.names, df.schema.fields))
    out_schema = ", ".join(
        [f"`{c}` {in_types[c].dataType.simpleString()}" for c in keep] + ["score double"]
    )
    batch_matrix, keep_topk = _make_batch_matrix(), _make_keep_topk()

    def gen(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for batch in batches:
            mat = batch_matrix(batch, vec_col)
            scores = mat @ q
            if not assume_normalized:
                norms = np.sqrt(np.einsum("ij,ij->i", mat, mat, dtype=np.float32))
                np.maximum(norms, np.float32(1e-30), out=norms)
                scores = scores / norms
            idx = keep_topk(scores, k)
            order = pa.array(idx.astype(np.int64))
            cols = [batch.column(c).take(order) for c in keep]
            cols.append(pa.array(scores[idx].astype(np.float64)))
            yield pa.RecordBatch.from_arrays(cols, keep + ["score"])

    scored = df.mapInArrow(gen, out_schema)
    return scored.orderBy(F.col("score").desc(), F.col(id_col).asc()).limit(k)


def knn_topk_fast(
    spark: SparkSession, sf_dir: str, k: int = 10, query: list[float] | None = None
) -> DataFrame:
    """knn_topk on the Arrow path: same logical result as the SQL flagship,
    scoring vectorized per batch with per-batch top-k pre-reduction."""
    emb = load_table(spark, sf_dir, "embeddings")
    out = topk_over(
        emb, query or QUERY_VECTOR, k=k,
        id_col="vec_id", vec_col="embedding", extra_cols=("label",),
    )
    return out.select("vec_id", "label", F.round("score", 6).alias("score"))


def knn_join_fast(
    spark: SparkSession, sf_dir: str, n_queries: int = 20, k: int = 5
) -> DataFrame:
    """Batched KNN join: one BLAS matmul per (corpus batch × query block)
    instead of |Q| scalar expressions — the bulk-KNN shape of the reference's
    benchmark generalized to many queries.

    The query block is collected once in the driver (it is small by
    construction) and shipped in the closure; corpus-side work is a
    scan-local mapInArrow producing per-batch top-k candidates, so the
    window rank that follows sees batches*k rows per query, not |corpus|."""
    emb = load_table(spark, sf_dir, "embeddings")
    qrows = (
        emb.filter(F.col("vec_id") < n_queries)
        .select("vec_id", "embedding")
        .collect()
    )
    q_ids = np.array([r["vec_id"] for r in qrows])
    q_mat = np.vstack([np.asarray(r["embedding"], dtype=np.float32) for r in qrows])
    q_mat = q_mat / np.linalg.norm(q_mat, axis=1, keepdims=True)
    batch_matrix, keep_topk = _make_batch_matrix(), _make_keep_topk()

    def score_batches(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for batch in batches:
            mat = batch_matrix(batch, "embedding")
            norms = np.sqrt(np.einsum("ij,ij->i", mat, mat, dtype=np.float32))
            np.maximum(norms, np.float32(1e-30), out=norms)
            sims = (mat / norms[:, None]) @ q_mat.T  # (batch, nq)
            ids = batch.column("vec_id").to_numpy()
            labels = batch.column("label").to_numpy()
            out_q, out_n, out_l, out_s = [], [], [], []
            for qi in range(sims.shape[1]):
                col = sims[:, qi]
                mask = ids != q_ids[qi]
                c_ids, c_labels = ids[mask], labels[mask]
                # pre-reduce on the score the final window ranks by
                c_s = np.round(col[mask].astype(np.float64), 6)
                part = keep_topk(c_s, k)
                out_q.append(np.full(len(part), q_ids[qi], dtype=np.int64))
                out_n.append(c_ids[part])
                out_l.append(c_labels[part])
                out_s.append(c_s[part])
            yield pa.RecordBatch.from_arrays(
                [
                    pa.array(np.concatenate(out_q)),
                    pa.array(np.concatenate(out_n).astype(np.int64)),
                    pa.array(np.concatenate(out_l).astype(np.int32)),
                    pa.array(np.concatenate(out_s)),
                ],
                ["query_id", "neighbor_id", "neighbor_label", "score"],
            )

    from pyspark.sql.window import Window

    candidates = emb.mapInArrow(
        score_batches,
        "query_id bigint, neighbor_id bigint, neighbor_label int, score double",
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("score").desc(), F.col("neighbor_id").asc()
    )
    return (
        candidates.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .orderBy("query_id", "rank")
    )
