"""CRUD + maintenance operators (reference O2, O4, O5, O9-O12).

All of these are join/aggregate-shaped in Spark; the id side is tiny, so every
join is an explicit ``broadcast()`` — no shuffle of the big table, which is
the property that matters at 100 TB (the corpus streams through executors;
the id set is replicated).

Divergence decisions vs the reference (SURVEY.md §1.6):
- upsert = full-row replace (Q2) with last-writer-wins within a batch (Q3)
- ingest rejects wrong-dimension (Q4) and zero-norm (Q5) vectors
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from nano_vectordb_rs_spark.functions.vector import (
    EMBEDDING_DIM,
    as_double_array,
    duck_dot_self,
    norm_expr,
)
from nano_vectordb_rs_spark.sources.tables import load_table

# deterministic id sets for declared queries (present at every sf; one absent
# id checks the "missing ids silently dropped" semantics of reference get(),
# /root/reference/src/lib.rs:263-270)
GET_IDS = [1, 5, 10, 23, 42, 99, 123_456_789]
DELETE_IDS = [0, 2, 3, 5, 7, 11, 13, 17, 19, 23, 123_456_789]

_NORM = norm_expr(as_double_array("embedding"))
_DUCK_NORM = f"sqrt({duck_dot_self('embedding', EMBEDDING_DIM)})"


def get_by_ids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O4 ``get``: point lookup by id list → broadcast LEFT SEMI join.

    (src/lib.rs:263-270 does a HashSet membership scan; the semi join is the
    distributed equivalent, and isin() would also compile to the same plan.)
    """
    emb = load_table(spark, sf_dir, "embeddings")
    ids = spark.createDataFrame([(i,) for i in GET_IDS], "vec_id bigint")
    return (
        emb.join(F.broadcast(ids), "vec_id", "left_semi")
        .select("vec_id", "label", F.round(F.expr(_NORM), 6).alias("vec_norm"))
        .orderBy("vec_id")
    )


GET_BY_IDS_SQL = f"""
SELECT vec_id, label, round({_DUCK_NORM}, 6) AS vec_norm
FROM embeddings
WHERE vec_id IN ({", ".join(map(str, GET_IDS))})
ORDER BY vec_id
"""


def delete_by_ids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O5 ``delete``: broadcast LEFT ANTI join; returns the surviving rows.

    No matrix compaction needed (the reference rebuilds its flat matrix,
    src/lib.rs:273-286); a Parquet rewrite on save() plays that role here.
    Survivors are summarized per label so the result stays small at any sf.
    """
    emb = load_table(spark, sf_dir, "embeddings")
    ids = spark.createDataFrame([(i,) for i in DELETE_IDS], "vec_id bigint")
    survivors = emb.join(F.broadcast(ids), "vec_id", "left_anti")
    return (
        survivors.groupBy("label")
        .agg(
            F.count("*").alias("n_vectors"),
            F.sum(F.size("embedding")).alias("vector_elems"),
            F.min("vec_id").alias("min_vec_id"),
            F.max("vec_id").alias("max_vec_id"),
        )
        .orderBy("label")
    )


DELETE_BY_IDS_SQL = f"""
SELECT label,
       count(*) AS n_vectors,
       CAST(sum(len(embedding)) AS BIGINT) AS vector_elems,
       min(vec_id) AS min_vec_id,
       max(vec_id) AS max_vec_id
FROM embeddings
WHERE vec_id NOT IN ({", ".join(map(str, DELETE_IDS))})
GROUP BY label
ORDER BY label
"""


# --- upsert -----------------------------------------------------------------

N_UPDATE = 50  # ids [0, 50) get replaced vectors/labels
N_INSERT = 50  # ids [1_000_000, 1_000_050) are new


def _upsert_batch(spark: SparkSession) -> DataFrame:
    """Deterministic upsert batch: 50 updates of existing ids (label bumped to
    100+old id%10, vector = unit vector e_{id%64}) + 50 brand-new ids, plus a
    duplicated id within the batch to exercise last-writer-wins (Q3)."""
    rows = []
    for i in range(N_UPDATE):
        vec = [0.0] * EMBEDDING_DIM
        vec[i % EMBEDDING_DIM] = 1.0
        rows.append((i, vec, 100 + i % 10, i))
    for i in range(N_INSERT):
        vec = [0.0] * EMBEDDING_DIM
        vec[(i * 7) % EMBEDDING_DIM] = 1.0
        rows.append((1_000_000 + i, vec, 200 + i % 10, N_UPDATE + i))
    # duplicate id 1_000_000 later in the batch with a different label: the
    # later row (higher batch_pos) must win
    vec = [0.0] * EMBEDDING_DIM
    vec[1] = 1.0
    rows.append((1_000_000, vec, 999, N_UPDATE + N_INSERT))
    return spark.createDataFrame(
        rows, "vec_id bigint, embedding array<float>, label int, batch_pos int"
    )


def upsert_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O2 ``upsert`` as a join-based merge (full-row replace, Q2/Q3 decisions).

    base ANTI JOIN batch  →  rows the batch does not touch
    UNION ALL dedup(batch, last-writer-wins by batch position)

    The batch is broadcast both times; the base table never shuffles. The
    reference's (updated_ids, inserted_ids) report is the matched/new flag
    aggregated below. Result: per-label summary of the merged collection.
    """
    base = load_table(spark, sf_dir, "embeddings")
    batch = _upsert_batch(spark)

    from pyspark.sql.window import Window

    w = Window.partitionBy("vec_id").orderBy(F.col("batch_pos").desc())
    batch_dedup = (
        batch.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .drop("rn", "batch_pos")
    )
    merged = base.join(F.broadcast(batch_dedup), "vec_id", "left_anti").select(
        "vec_id", "embedding", "label"
    ).unionByName(batch_dedup.select("vec_id", "embedding", "label"))
    return (
        merged.groupBy("label")
        .agg(F.count("*").alias("n_vectors"), F.min("vec_id").alias("min_vec_id"))
        .orderBy("label")
    )


def _duck_batch_rows() -> str:
    rows = []
    for i in range(N_UPDATE):
        rows.append(f"({i}, 100 + {i % 10}, {i})")
    for i in range(N_INSERT):
        rows.append(f"({1_000_000 + i}, 200 + {i % 10}, {N_UPDATE + i})")
    rows.append(f"(1000000, 999, {N_UPDATE + N_INSERT})")
    return ", ".join(rows)


UPSERT_MERGE_SQL = f"""
WITH batch(vec_id, label, batch_pos) AS (VALUES {_duck_batch_rows()}),
batch_dedup AS (
  SELECT vec_id, label FROM (
    SELECT vec_id, label,
           row_number() OVER (PARTITION BY vec_id ORDER BY batch_pos DESC) rn
    FROM batch) WHERE rn = 1
),
merged AS (
  SELECT e.vec_id, e.label FROM embeddings e
  WHERE e.vec_id NOT IN (SELECT vec_id FROM batch_dedup)
  UNION ALL
  SELECT vec_id, label FROM batch_dedup
)
SELECT label, count(*) AS n_vectors, min(vec_id) AS min_vec_id
FROM merged GROUP BY label ORDER BY label
"""


def count_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O9 ``len`` + O10 ``is_empty`` + O11 ``vector_bytes_len`` in one scan.

    sum(size(vector)) == rows*dim is the load-time invariant the reference
    validates (src/lib.rs:122-129) — exposed here as a query."""
    emb = load_table(spark, sf_dir, "embeddings")
    return emb.agg(
        F.count("*").alias("n_rows"),
        (F.count("*") == 0).cast("int").alias("is_empty"),
        F.sum(F.size("embedding")).alias("vector_elems"),
        F.countDistinct("label").alias("n_labels"),
    )


COUNT_STATS_SQL = """
SELECT count(*) AS n_rows,
       CAST(count(*) = 0 AS INT) AS is_empty,
       CAST(sum(len(embedding)) AS BIGINT) AS vector_elems,
       count(DISTINCT label) AS n_labels
FROM embeddings
"""


def normalize_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O12 ``normalize`` over the whole collection: per-row original norm and
    post-normalization norm (≡1), zero-norm rows filtered per decision Q5.
    Output limited to a deterministic slice so the result is hash-stable and
    small at every sf."""
    emb = load_table(spark, sf_dir, "embeddings")
    norm = F.expr(_NORM)
    renorm = F.expr(
        f"sqrt({duck_like_renorm_spark()})"
    )
    return (
        emb.filter(norm > 0)
        .select(
            "vec_id",
            F.round(norm, 6).alias("orig_norm"),
            F.round(renorm, 6).alias("unit_norm"),
        )
        .filter(F.col("vec_id") < 100)
        .orderBy("vec_id")
    )


def duck_like_renorm_spark() -> str:
    # norm of the normalized vector: dot(n, n) where n = v / |v|. The norm
    # is bound once per row via array_repeat+zip_with — inlining norm_expr
    # in the divide lambda would re-fold the whole vector per ELEMENT,
    # O(dim²) per row
    v = as_double_array("embedding")
    n = f"zip_with({v}, array_repeat({norm_expr(v)}, size({v})), (x, m) -> x / m)"
    return f"aggregate(zip_with({n}, {n}, (x, y) -> x * y), CAST(0 AS DOUBLE), (acc, x) -> acc + x)"


def _duck_renorm() -> str:
    # same operation sequence as Spark: n[i] = v[i]/norm; sum n[i]*n[i]
    # left-to-right. The norm is bound once in an inner SELECT to stay under
    # DuckDB's expression-binder recursion limit.
    terms = [
        f"(CAST(embedding[{i}] AS DOUBLE) / vnorm) * (CAST(embedding[{i}] AS DOUBLE) / vnorm)"
        for i in range(1, EMBEDDING_DIM + 1)
    ]
    return "(" + " + ".join(terms) + ")"


NORMALIZE_ALL_SQL = f"""
SELECT vec_id,
       round(vnorm, 6) AS orig_norm,
       round(sqrt({_duck_renorm()}), 6) AS unit_norm
FROM (
  SELECT vec_id, embedding, {_DUCK_NORM} AS vnorm
  FROM embeddings
  WHERE vec_id < 100
)
WHERE vnorm > 0
ORDER BY vec_id
"""
