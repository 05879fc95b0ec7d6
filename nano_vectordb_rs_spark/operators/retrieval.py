"""Retrieval over the document corpus: lexical scoring + hybrid fusion.

The RAG retrieval stack a training/serving pipeline actually runs is
vector search AND lexical search AND a fusion of the two —
``semantic_search_docs`` (operators/similarity.py) covers the vector leg;
this module adds:

- ``lexical_search_docs``: BM25-shaped keyword scoring. The idf factor is
  the RATIONAL form ``(N − df + ½)/(df + ½)`` — deliberately no ``log``:
  libm log is not required to be correctly rounded and can differ in the
  last ulp across engines, while ratios of integers in doubles are
  bit-identical (same reasoning as textops.idf_top_terms). Monotone in df
  exactly like the logarithmic form, so ranking behavior is BM25's.
- ``hybrid_search_rrf``: reciprocal-rank fusion of the lexical and vector
  top-k lists — ``Σ 1/(60 + rank)``, pure integer-derived arithmetic, the
  standard fusion that needs no score calibration between the two systems.

Scale shape: lexical tf is a scan-local ``filter()`` HOF per query term
(no token explode, no shuffle until the bounded top-k); the corpus-level
constants (N, avg length) broadcast as a 1-row aggregate. Fusion joins two
k-row inputs — trivially broadcastable.

No reference counterpart (the reference is vector-only); the extension is
mandated by the north star's training-pipeline surface.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from nano_vectordb_rs_spark.functions.vector import (
    EMBEDDING_DIM,
    QUERY_VECTOR,
    cosine_expr,
    duck_cosine_lit,
)
from nano_vectordb_rs_spark.sources.tables import load_table

QUERY_TERMS = ["spark", "merge", "window"]  # fixture-vocabulary keyword query
BM25_K1 = 1.2
BM25_B = 0.75
LEX_TOP = 20
RRF_K = 60
FUSED_TOP = 10


def _tf_expr(term: str) -> str:
    """Occurrences of ``term`` among the whitespace tokens — scan-local HOF,
    no explode."""
    return f"size(filter(split(text, ' '), x -> x = '{term}'))"


def lexical_search_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25-shaped lexical top-20 for the literal keyword query.

    score = Σ_t idf_r(t) · tf·(k1+1) / (tf + k1·(1 − b + b·len/avglen))
    with rational idf_r = (N − df + ½)/(df + ½). All inputs are integers or
    fixed literals and every division is written in the same order in both
    engines, so scores are bit-identical; round(·, 6) on top. Both legs
    run on a scan spread per ``tables.input_sized_width``."""
    docs = load_table(spark, sf_dir, "documents", spread_bytes=64 << 10)
    consts = docs.agg(
        F.count("*").alias("n_docs"),
        F.sum(F.size(F.split("text", " "))).alias("sum_len"),
        *[
            F.sum(
                F.when(F.expr(_tf_expr(t)) > 0, 1).otherwise(0)
            ).alias(f"df_{t}")
            for t in QUERY_TERMS
        ],
    )
    scored = docs.join(F.broadcast(consts))
    dl = F.size(F.split("text", " "))
    norm = (
        F.lit(1.0)
        - F.lit(BM25_B)
        + F.lit(BM25_B) * dl / (F.col("sum_len") / F.col("n_docs").cast("double"))
    )
    score = None
    for t in QUERY_TERMS:
        tf = F.expr(_tf_expr(t))
        idf = (F.col("n_docs") - F.col(f"df_{t}") + F.lit(0.5)) / (
            F.col(f"df_{t}") + F.lit(0.5)
        )
        part = idf * (tf * F.lit(BM25_K1 + 1.0)) / (tf + F.lit(BM25_K1) * norm)
        score = part if score is None else score + part
    return (
        scored.select(
            "doc_id", "lang", "source", F.round(score, 6).alias("lex_score")
        )
        .filter(F.col("lex_score") > 0)
        .orderBy(F.col("lex_score").desc(), F.col("doc_id").asc())
        .limit(LEX_TOP)
    )


def _duck_tf(term: str) -> str:
    return f"len(list_filter(string_split(text, ' '), x -> x = '{term}'))"


def _duck_lex_score() -> str:
    parts = []
    norm = (
        f"(1.0 - {BM25_B} + {BM25_B} * len(string_split(text, ' '))"
        f" / (sum_len / CAST(n_docs AS DOUBLE)))"
    )
    for t in QUERY_TERMS:
        tf = _duck_tf(t)
        idf = f"((n_docs - df_{t} + 0.5) / (df_{t} + 0.5))"
        parts.append(
            f"{idf} * ({tf} * {BM25_K1 + 1.0!r}) / ({tf} + {BM25_K1!r} * {norm})"
        )
    return "(" + " + ".join(parts) + ")"


def _duck_lex_consts() -> str:
    dfs = ", ".join(
        f"CAST(sum(CASE WHEN {_duck_tf(t)} > 0 THEN 1 ELSE 0 END) AS BIGINT) AS df_{t}"
        for t in QUERY_TERMS
    )
    return (
        "SELECT count(*) AS n_docs, "
        "CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS sum_len, "
        f"{dfs} FROM documents"
    )


LEXICAL_SEARCH_SQL = f"""
SELECT doc_id, lang, source, round({_duck_lex_score()}, 6) AS lex_score
FROM documents CROSS JOIN ({_duck_lex_consts()})
WHERE round({_duck_lex_score()}, 6) > 0
ORDER BY lex_score DESC, doc_id ASC
LIMIT {LEX_TOP}
"""


def hybrid_search_rrf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reciprocal-rank fusion of the lexical top-20 and the cosine top-20:
    rrf = Σ 1/(60 + rank), ranks from each leg's own deterministic order.
    Rank arithmetic only — no score calibration across systems, and every
    value derives from small integers, so it is exactly reproducible."""
    lex = lexical_search_docs(spark, sf_dir).select("doc_id", "lex_score")
    w_lex = Window.orderBy(F.col("lex_score").desc(), F.col("doc_id").asc())
    lex_ranked = lex.withColumn("lex_rank", F.row_number().over(w_lex)).select(
        "doc_id", "lex_rank"
    )
    emb = load_table(spark, sf_dir, "embeddings")
    vec = (
        emb.select(
            F.col("vec_id").alias("doc_id"),
            F.round(F.expr(cosine_expr("embedding", QUERY_VECTOR)), 6).alias(
                "vec_score"
            ),
        )
        .orderBy(F.col("vec_score").desc(), F.col("doc_id").asc())
        .limit(LEX_TOP)
    )
    w_vec = Window.orderBy(F.col("vec_score").desc(), F.col("doc_id").asc())
    vec_ranked = vec.withColumn("vec_rank", F.row_number().over(w_vec)).select(
        "doc_id", "vec_rank"
    )
    fused = lex_ranked.join(vec_ranked, "doc_id", "full_outer")
    rrf = F.round(
        F.coalesce(F.lit(1.0) / (F.lit(RRF_K) + F.col("lex_rank")), F.lit(0.0))
        + F.coalesce(F.lit(1.0) / (F.lit(RRF_K) + F.col("vec_rank")), F.lit(0.0)),
        6,
    )
    return (
        fused.select(
            "doc_id",
            F.coalesce("lex_rank", F.lit(0)).alias("lex_rank"),
            F.coalesce("vec_rank", F.lit(0)).alias("vec_rank"),
            rrf.alias("rrf_score"),
        )
        .orderBy(F.col("rrf_score").desc(), F.col("doc_id").asc())
        .limit(FUSED_TOP)
    )


HYBRID_RRF_SQL = f"""
WITH lex AS (
  SELECT doc_id, lex_score,
         row_number() OVER (ORDER BY lex_score DESC, doc_id ASC) AS lex_rank
  FROM ({LEXICAL_SEARCH_SQL}) ),
vec AS (
  SELECT doc_id, vec_score,
         row_number() OVER (ORDER BY vec_score DESC, doc_id ASC) AS vec_rank
  FROM (
    SELECT vec_id AS doc_id,
           round({duck_cosine_lit("embedding", QUERY_VECTOR, EMBEDDING_DIM)}, 6) AS vec_score
    FROM embeddings
    ORDER BY vec_score DESC, doc_id ASC
    LIMIT {LEX_TOP}) )
SELECT coalesce(lex.doc_id, vec.doc_id) AS doc_id,
       coalesce(lex_rank, 0) AS lex_rank,
       coalesce(vec_rank, 0) AS vec_rank,
       round(coalesce(1.0 / ({RRF_K} + lex_rank), 0.0)
           + coalesce(1.0 / ({RRF_K} + vec_rank), 0.0), 6) AS rrf_score
FROM lex FULL OUTER JOIN vec ON lex.doc_id = vec.doc_id
ORDER BY rrf_score DESC, doc_id ASC
LIMIT {FUSED_TOP}
"""
