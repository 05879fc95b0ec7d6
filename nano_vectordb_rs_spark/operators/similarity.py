"""Similarity search at scale: KNN join, embedding near-dup, and two
approximate (but deterministic) index paths — IVF cells and random-hyperplane
LSH buckets.

The reference's query() is one query vector × whole corpus (SURVEY.md §3.1).
The distributed generalizations here are what it cannot do:

- ``knn_join``   : k nearest corpus vectors for EACH of N query vectors —
                   broadcast the query block, score corpus-side (scan-local),
                   rank per query with a window. Corpus never shuffles until
                   the (tiny) per-query top-k survive.
- ``near_dup_embeddings``: label-blocked self-join with a cosine floor —
                   the embedding-space near-dup primitive.
- ``ann_ivf_topk``: coarse-quantizer cells from literal centroids; probe the
                   2 cells nearest the query (chosen in the driver — the
                   centroids are literals) and brute-force only those cells.
                   At 100 TB the cell assignment is a write-time partition
                   key, so probing = partition pruning.
- ``ann_lsh_topk``: sign-of-projection bit bucket; scan only the query's
                   bucket.

Both ANN paths are deterministic (literal planes/centroids, fixed
tie-breaks), so they remain oracle-checkable — the oracle replicates the
same approximation, and a separate recall query compares against exact KNN.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from nano_vectordb_rs_spark.functions.vector import (
    EMBEDDING_DIM,
    QUERY_VECTOR,
    as_double_array,
    cosine_expr,
    deterministic_vector,
    dot_expr,
    duck_cosine_lit,
    duck_cosine_pair,
    duck_dot_lit,
    norm_expr,
)
from nano_vectordb_rs_spark.operators.knn import KNN_TOPK_SQL
from nano_vectordb_rs_spark.sources.tables import load_table, table_key

N_QUERIES = 20  # knn_join query block: vec_id < 20
JOIN_K = 5
NEAR_DUP_MIN = 0.35  # fixture max within-label cosine ≈ 0.449
N_CENTROIDS = 8
N_PROBE = 2
CENTROIDS = [deterministic_vector(EMBEDDING_DIM, seed=100 + c) for c in range(N_CENTROIDS)]
N_PLANES = 4
PLANES = [deterministic_vector(EMBEDDING_DIM, seed=200 + p) for p in range(N_PLANES)]


def _materialize_cached(keyed_path: str, write_fn) -> str:
    """Build a content-keyed index directory exactly once, safely under
    concurrency (parallel pytest workers, bench + gate on one fixture).

    A bare ``exists(_SUCCESS)`` check plus ``mode('overwrite')`` races: a
    reader can scan while another process's overwrite deletes the files
    under it. Instead each builder writes to its OWN unique temp directory
    and publishes with ``os.rename`` (atomic on the same filesystem):
    readers only ever see a fully-written directory or none. If another
    builder won the rename, the loser discards its copy — last-writer-
    loses, both copies are identical by construction (deterministic
    codebooks)."""
    import os
    import shutil
    import uuid

    if os.path.exists(os.path.join(keyed_path, "_SUCCESS")):
        return keyed_path
    tmp = f"{keyed_path}.tmp-{os.getpid()}-{uuid.uuid4().hex[:8]}"
    write_fn(tmp)
    try:
        os.rename(tmp, keyed_path)
    except OSError:
        if os.path.exists(os.path.join(keyed_path, "_SUCCESS")):
            shutil.rmtree(tmp, ignore_errors=True)  # concurrent builder won
        else:
            raise
    return keyed_path


# --- KNN similarity join ----------------------------------------------------


def knn_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-5 corpus neighbours for each of the first 20 vectors.

    The query block is broadcast; scoring is a scan-local projection over the
    corpus. Ranking is TWO-LEVEL: a block-local pre-rank partitioned by
    (scan-partition id, query_id) keeps ≤ k candidates per block per query,
    then the global per-query rank runs over only blocks×k×|Q| survivors.
    A single-level window on query_id alone clusters ALL corpus×|Q| scored
    rows into |Q| partitions — a parallelism ceiling of 20 and a skew magnet
    at 100× scale (the SQL analogue of fastknn.knn_join_fast's per-batch
    pre-reduction, which pins the same result on the Arrow path). The
    pre-rank keeps a superset of every global top-k, so results are
    bit-identical to the one-window formulation the oracle runs. With the
    query block broadcast there is no exchange below the pre-rank, so the
    scan is spread per ``tables.input_sized_width``."""
    emb = load_table(spark, sf_dir, "embeddings", spread_bytes=64 << 10)
    queries = emb.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("query_vec"),
    )
    pairs = emb.alias("c").join(
        F.broadcast(queries), F.col("c.vec_id") != F.col("query_id")
    )
    score = F.expr(
        f"({dot_expr(as_double_array('c.embedding'), as_double_array('query_vec'))})"
        f" / ({norm_expr(as_double_array('c.embedding'))}"
        f" * {norm_expr(as_double_array('query_vec'))})"
    )
    scored = pairs.select(
        "query_id",
        F.col("c.vec_id").alias("neighbor_id"),
        F.col("c.label").alias("neighbor_label"),
        F.round(score, 6).alias("score"),
        F.spark_partition_id().alias("_blk"),
    )
    w_local = Window.partitionBy("_blk", "query_id").orderBy(
        F.col("score").desc(), F.col("neighbor_id").asc()
    )
    survivors = (
        scored.withColumn("_lr", F.row_number().over(w_local))
        .filter(F.col("_lr") <= JOIN_K)
        .drop("_lr", "_blk")
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("score").desc(), F.col("neighbor_id").asc()
    )
    return (
        survivors.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= JOIN_K)
        .orderBy("query_id", "rank")
    )


KNN_JOIN_SQL = f"""
WITH scored AS (
  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id, c.label AS neighbor_label,
         round({duck_cosine_pair('c.embedding', 'q.embedding', EMBEDDING_DIM)}, 6) AS score
  FROM embeddings c
  JOIN embeddings q ON q.vec_id < {N_QUERIES} AND c.vec_id != q.vec_id)
SELECT query_id, neighbor_id, neighbor_label, score, rank
FROM (
  SELECT *, row_number() OVER (PARTITION BY query_id
                               ORDER BY score DESC, neighbor_id ASC) AS rank
  FROM scored)
WHERE rank <= {JOIN_K}
ORDER BY query_id, rank
"""


# --- embedding-cosine near-dup ----------------------------------------------


# Cells each vector is assigned to for candidate blocking. 4-of-8 is wide
# because the fixture's NEAR_DUP_MIN (0.35) sits far below a real near-dup
# bar (~0.9): barely-correlated pairs straddle cells, and 4 probes is the
# narrowest assignment that still captures the exact top-100 on the
# fixtures (verified at sf0.001 and sf0.01). At a production threshold the
# same machinery runs with 1-2 probes and a cell count grown ~√N.
N_DUP_PROBE = 4

# Scale guard for the candidate self-join: with a FIXED cell count, block
# size grows ~N/cells, so candidate pairs Σ|block|² — and the exact-cosine
# verifies they feed — grow QUADRATICALLY (measured before the guard on
# self-unioned sf0.1 copies, 3.2 s → 18.2 s from 4x to 8x; at 8x the 80
# (label, cell) blocks held ~800 rows each and emitted ~25M verify pairs;
# SCALE_PROBE_8X.json records the guarded shape at 3.5 s → 4.3 s).
# When the largest block exceeds NEAR_DUP_MAX_BLOCK rows, every block is
# further split by NEAR_DUP_BANDS independent sign-LSH sub-keys (b
# raw-dimension sign bits per band); a pair is a candidate if it matches
# in ANY band (OR-construction). Pair count per block drops from S² to
# R·S²/2^b, and b = ceil(log2(R·S_max/MAX)) bounds it at ~S·MAX — linear
# in N at a fixed bound. Recall for genuinely near-duplicate pairs stays
# high (per-bit sign agreement for a cos≈0.95 pair ≈ 0.94 ⇒
# 1-(1-0.94^b)^4 ≈ 99.9% at b=3, ~97% at b=8), and the top-100-by-score
# output surfaces the closest pairs, which survive banding best. The
# guard NEVER activates at the oracle-checked gate scales (max block ≈
# 110 rows at sf0.1), so gate results and DuckDB parity are untouched;
# it exists for the 10-100x regime.
NEAR_DUP_MAX_BLOCK = 512
NEAR_DUP_BANDS = 4

#: tables.table_key(embeddings) -> max (label, cell) block size — the guard
#: decision is a property of the corpus, and near_dup_embeddings +
#: crossmodal_dup_check both build the candidate engine in one job; caching
#: saves the second count-agg per session
_MAX_BLOCK_CACHE: dict[tuple, int] = {}


def _max_block_size(spark: SparkSession, sf_dir: str, assign: DataFrame) -> int:
    try:
        key = table_key(sf_dir, "embeddings")
    except OSError:
        key = None
    if key is not None and key in _MAX_BLOCK_CACHE:
        return _MAX_BLOCK_CACHE[key]
    n = (
        assign.groupBy("label", "cell").count().agg(F.max("count")).first()[0]
        or 0
    )
    if key is not None:
        _MAX_BLOCK_CACHE[key] = n
    return n


def _blocked_near_dup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(label, id1, id2, score) for every cell-blocked candidate pair with
    cosine ≥ NEAR_DUP_MIN — the shared candidate engine behind
    near_dup_embeddings and crossmodal_dup_check.

    The MinHash-dedup shape (dedup.py minhash_near_dup_docs) applied to
    embedding space: each vector is assigned to its N_DUP_PROBE nearest
    coarse-quantizer cells (multi-probe assignment); candidate pairs share a
    (label, cell) block; only candidates get the exact cosine + threshold
    verify. Label-only blocking was the previous formulation — its block
    COUNT is a constant of the data (10 labels), so pairs grow quadratically
    with the corpus. Cell count is a tunable that scales with corpus size
    (8 here; ~√N at 100 TB), keeping blocks bounded ⇒ Σ|block|² subquadratic.
    At scale the cell id is the write-time partition key (see ann_ivf_topk),
    so the self-join is partition-co-located. The oracle replicates the same
    deterministic blocking (cell scores are bit-identical across engines —
    same left-assoc fold, see functions/vector.py)."""
    emb = load_table(spark, sf_dir, "embeddings")
    # top-N_DUP_PROBE cells: sort (−score, idx) structs — descending score,
    # ascending index tie-break, matching the oracle's row_number ordering
    score_exprs = [
        f"{cosine_expr('embedding', CENTROIDS[c])} AS s{c}" for c in range(N_CENTROIDS)
    ]
    cells = (
        "transform(slice(array_sort(array("
        + ", ".join(f"struct(-s{c} AS ns, {c} AS idx)" for c in range(N_CENTROIDS))
        + f")), 1, {N_DUP_PROBE}), x -> x.idx)"
    )
    # candidate generation shuffles ONLY (vec_id, label, cell) int triples —
    # vectors stay out of the blocking join entirely
    assign = emb.selectExpr("vec_id", "label", *score_exprs).select(
        "vec_id", "label", F.explode(F.expr(cells)).alias("cell")
    )
    # scale guard (see NEAR_DUP_MAX_BLOCK above): one tiny count-agg —
    # cached per corpus fingerprint — decides whether blocks need banded
    # sign-LSH sub-splitting. Inactive at every oracle-checked scale, so
    # the gate plan and results are unchanged.
    max_block = _max_block_size(spark, sf_dir, assign)
    join_keys = [
        (F.col("a.label") == F.col("b.label")),
        (F.col("a.cell") == F.col("b.cell")),
    ]
    if max_block > NEAR_DUP_MAX_BLOCK:
        import math

        bits = min(
            12,
            math.ceil(
                math.log2(NEAR_DUP_BANDS * max_block / NEAR_DUP_MAX_BLOCK)
            ),
        )
        dim = len(CENTROIDS[0])
        # band r's sub-key: b sign bits from a strided dim pattern — plain
        # CASE/adds, fully codegen-able, no extra dot products
        def _subkey(r: int) -> str:
            terms = [
                f"(CASE WHEN element_at(embedding, "
                f"{((r + i * NEAR_DUP_BANDS) % dim) + 1}) > 0D "
                f"THEN {1 << i} ELSE 0 END)"
                for i in range(bits)
            ]
            return "(" + " + ".join(terms) + ")"

        bands = ", ".join(
            f"struct({r} AS band, {_subkey(r)} AS subkey)"
            for r in range(NEAR_DUP_BANDS)
        )
        assign = (
            emb.selectExpr(
                "vec_id", "label", *score_exprs, f"array({bands}) AS _bands"
            )
            .select(
                "vec_id",
                "label",
                F.explode(F.expr(cells)).alias("cell"),
                "_bands",
            )
            .select("vec_id", "label", "cell", F.explode("_bands").alias("_b"))
            .select(
                "vec_id",
                "label",
                "cell",
                F.col("_b.band").alias("band"),
                F.col("_b.subkey").alias("subkey"),
            )
        )
        join_keys += [
            (F.col("a.band") == F.col("b.band")),
            (F.col("a.subkey") == F.col("b.subkey")),
        ]
    # r16 (§2.4 scan audit): assign is consumed by BOTH sides of the
    # blocking self-join, and each evaluation re-ran the N_CENTROIDS
    # cosine folds over every vector (O(dim × cells) per row — the
    # heaviest expression in the query, twice). The checkpoint holds only
    # (vec_id, label, cell[, band, subkey]) int rows — the §8 "decide
    # with small rows" proxy — so the scoring pass runs once. Cluster
    # note: executor-local lineage truncation trades recompute-on-loss
    # for the saved pass; the frame is ints, N_DUP_PROBE rows per vector.
    assign = assign.localCheckpoint(eager=False)
    a, b = assign.alias("a"), assign.alias("b")
    cond = F.col("a.vec_id") < F.col("b.vec_id")
    for k in join_keys:
        cond = cond & k
    cand = (
        a.join(b, cond)
        .select(
            F.col("a.label").alias("label"),
            F.col("a.vec_id").alias("id1"),
            F.col("b.vec_id").alias("id2"),
        )
        # a pair sharing several probed cells (or matching in several
        # bands) appears once per match
        .distinct()
        # the exact-verify stage below does O(dim) work per PAIR; its input
        # here is only int triples, so AQE's byte-targeted coalescing folds
        # the sub-MB shuffle to ~1 partition and serializes the verify onto
        # one core (measured 6 tasks total / 2.1 s for this query on 32
        # cores). An explicit pair-keyed exchange of the lightweight rows
        # pins the verify's parallelism to the cluster's cores; the heavy
        # vectors attach AFTER, via the broadcast joins, so no payload is
        # re-shuffled. Per-pair scores are row-local math — partitioning
        # cannot change any result.
        .repartition(spark.sparkContext.defaultParallelism, "id1", "id2")
    )
    # exact verify: fetch each side's vector once per surviving pair; the
    # O(dim) cast + norm are computed once per ROW in this projection, not
    # once per PAIR
    pre = emb.select(
        "vec_id",
        F.expr(as_double_array("embedding")).alias("demb"),
        F.expr(norm_expr(as_double_array("embedding"))).alias("nrm"),
    )
    p1 = pre.select(
        F.col("vec_id").alias("id1"),
        F.col("demb").alias("demb1"),
        F.col("nrm").alias("nrm1"),
    )
    p2 = pre.select(
        F.col("vec_id").alias("id2"),
        F.col("demb").alias("demb2"),
        F.col("nrm").alias("nrm2"),
    )
    score = F.expr(f"({dot_expr('demb1', 'demb2')}) / (nrm1 * nrm2)")
    return (
        cand.join(p1, "id1")
        .join(p2, "id2")
        .select("label", "id1", "id2", F.round(score, 6).alias("score"))
        .filter(F.col("score") >= NEAR_DUP_MIN)
    )


def near_dup_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-100 embedding near-dup pairs via the cell-blocked candidate
    engine (see _blocked_near_dup_pairs)."""
    pairs = _blocked_near_dup_pairs(spark, sf_dir)
    return pairs.orderBy(F.col("score").desc(), "id1", "id2").limit(100)


def _duck_topcells_sql(n_probe: int) -> str:
    """(vec_id, label, cell) with each vector's n_probe best cells — the
    oracle twin of the array_sort/slice assignment above."""
    unpivot = " ".join(
        f"WHEN {c} THEN s{c}" for c in range(N_CENTROIDS)
    )
    return f"""
  SELECT vec_id, label, idx AS cell
  FROM (
    SELECT vec_id, label, t.i AS idx,
           row_number() OVER (PARTITION BY vec_id
                              ORDER BY (CASE t.i {unpivot} END) DESC, t.i ASC) AS rn
    FROM ({_duck_cell_sql()}) sc, UNNEST(generate_series(0, {N_CENTROIDS - 1})) AS t(i))
  WHERE rn <= {n_probe}"""


# the shared blocked-pairs CTE chain (assign → cand → bpairs) is built by
# _blocked_pairs_cte() below, after _duck_cell_sql is defined
_BLOCKED_PAIRS_CTE_TEMPLATE = f"""assign AS ({{assign}}),
cand AS (
  SELECT DISTINCT a.label AS label, a.vec_id AS id1, b.vec_id AS id2
  FROM assign a
  JOIN assign b ON a.label = b.label AND a.cell = b.cell AND a.vec_id < b.vec_id),
bpairs AS (
  SELECT c.label AS label, id1, id2,
         round({duck_cosine_pair('e1.embedding', 'e2.embedding', EMBEDDING_DIM)}, 6) AS score
  FROM cand c
  JOIN embeddings e1 ON id1 = e1.vec_id
  JOIN embeddings e2 ON id2 = e2.vec_id
  WHERE round({duck_cosine_pair('e1.embedding', 'e2.embedding', EMBEDDING_DIM)}, 6) >= {NEAR_DUP_MIN})"""


# --- IVF (coarse-quantizer cells) -------------------------------------------


def _cell_case_spark() -> str:
    """Argmin-distance == argmax-dot cell assignment (unit centroids),
    deterministic earliest-index tie-break, over score columns s0..s7."""
    branches = []
    for c in range(N_CENTROIDS):
        conds = []
        for o in range(N_CENTROIDS):
            if o == c:
                continue
            op = ">" if o < c else ">="
            conds.append(f"s{c} {op} s{o}")
        branches.append(f"WHEN {' AND '.join(conds)} THEN {c}")
    return "CASE " + " ".join(branches) + " ELSE 0 END"


def _probe_cells() -> list[int]:
    """The query's N_PROBE nearest centroids, computed in the driver — the
    centroids are literals, so this is plan-time constant folding."""
    sims = [
        (sum(q * c for q, c in zip(QUERY_VECTOR, cen)), idx)
        for idx, cen in enumerate(CENTROIDS)
    ]
    sims.sort(key=lambda t: (-t[0], t[1]))
    return sorted(idx for _, idx in sims[:N_PROBE])


def ann_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-style ANN: assign every vector to its nearest of 8 literal
    centroids, scan only the query's 2 nearest cells, brute-force inside.

    At scale the cell id is a write-time partition column, so the cell
    filter is partition pruning — the scan reads 2/8 of the data before any
    scoring happens."""
    emb = load_table(spark, sf_dir, "embeddings")
    scored_cells = emb.select(
        "vec_id",
        "label",
        "embedding",
        *[
            F.expr(cosine_expr("embedding", CENTROIDS[c])).alias(f"s{c}")
            for c in range(N_CENTROIDS)
        ],
    ).withColumn("cell", F.expr(_cell_case_spark()))
    probed = scored_cells.filter(F.col("cell").isin(_probe_cells()))
    return (
        probed.select(
            "vec_id",
            "label",
            "cell",
            F.round(F.expr(cosine_expr("embedding", QUERY_VECTOR)), 6).alias("score"),
        )
        .orderBy(F.col("score").desc(), F.col("vec_id").asc())
        .limit(10)
    )


def _duck_cell_sql() -> str:
    score_cols = ", ".join(
        f"{duck_cosine_lit('embedding', CENTROIDS[c], EMBEDDING_DIM)} AS s{c}"
        for c in range(N_CENTROIDS)
    )
    return f"SELECT vec_id, label, embedding, {score_cols} FROM embeddings"


def _blocked_pairs_cte() -> str:
    return _BLOCKED_PAIRS_CTE_TEMPLATE.format(assign=_duck_topcells_sql(N_DUP_PROBE))


NEAR_DUP_EMB_SQL = f"""
WITH {_blocked_pairs_cte()}
SELECT label, id1, id2, score FROM bpairs
ORDER BY score DESC, id1, id2
LIMIT 100
"""


ANN_IVF_SQL = f"""
SELECT vec_id, label, cell,
       round({duck_cosine_lit("embedding", QUERY_VECTOR, EMBEDDING_DIM)}, 6) AS score
FROM (
  SELECT vec_id, label, embedding, {_cell_case_spark()} AS cell
  FROM ({_duck_cell_sql()})
)
WHERE cell IN ({", ".join(map(str, _probe_cells()))})
ORDER BY score DESC, vec_id ASC
LIMIT 10
"""


def ivf_cell_health(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF index-maintenance report: per-cell population, share, and a
    split recommendation — the health check that decides when the coarse
    quantizer needs re-training or a hot cell needs sub-splitting.

    Why it matters at 100 TB: the IVF layout writes ``partitionBy(cell)``
    (see ann_ivf_topk / ivf_pq), so a cell at 5× the average is a hot
    partition — probe latency on that cell is 5× the budget and its files
    defeat size-targeted compaction. The fix is mechanical (split the cell
    into ``split_parts`` sub-cells by a secondary hash, or re-train the
    codebook), but only a population report can trigger it.

    Plan shape: one partial+final aggregate on the 8-way cell id (the
    assignment is the same scan-local literal-centroid argmax as the probe
    path — no shuffle before the groupBy), then a left join from the
    literal cell list so EMPTY cells surface as zero rows (an empty cell is
    a health signal the groupBy alone would silently drop), then a global
    window over exactly N_CENTROIDS rows for the shares — driver-trivial
    at any corpus size because the aggregate's output is bounded by the
    codebook, not the data."""
    emb = load_table(spark, sf_dir, "embeddings")
    assigned = emb.select(
        "vec_id",
        *[
            F.expr(cosine_expr("embedding", CENTROIDS[c])).alias(f"s{c}")
            for c in range(N_CENTROIDS)
        ],
    ).withColumn("cell", F.expr(_cell_case_spark()))
    counts = assigned.groupBy("cell").agg(F.count("*").alias("n_vecs"))
    cells = spark.range(N_CENTROIDS).select(F.col("id").cast("int").alias("cell"))
    full = cells.join(counts, "cell", "left").select(
        "cell", F.coalesce(F.col("n_vecs"), F.lit(0)).alias("n_vecs")
    )
    # global window over exactly N_CENTROIDS rows (bounded by the codebook,
    # not the corpus) — the single-partition warning does not apply
    w = Window.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    # greatest(total, 1): an EMPTY corpus (total 0) reports every cell at
    # share 0 / over_avg 0 / split_parts 1 instead of dividing by zero —
    # mirrored in the oracle so both engines agree on the degenerate case
    total = F.greatest(F.sum("n_vecs").over(w), F.lit(1).cast("bigint"))
    over_avg = F.col("n_vecs") * N_CENTROIDS / total
    return (
        full.select(
            "cell",
            "n_vecs",
            F.round(F.col("n_vecs") * 100.0 / total, 4).alias("share_pct"),
            F.round(over_avg, 4).alias("over_avg"),
            F.greatest(F.lit(1), F.ceil(over_avg)).cast("int").alias("split_parts"),
        )
        .orderBy("cell")
    )


IVF_CELL_HEALTH_SQL = f"""
WITH assign AS (
  SELECT {_cell_case_spark()} AS cell
  FROM ({_duck_cell_sql()})
),
counts AS (SELECT cell, count(*) AS n FROM assign GROUP BY 1),
cells AS (SELECT CAST(t.i AS INTEGER) AS cell
          FROM UNNEST(generate_series(0, {N_CENTROIDS - 1})) AS t(i)),
full_counts AS (
  SELECT cells.cell, CAST(coalesce(counts.n, 0) AS BIGINT) AS n_vecs
  FROM cells LEFT JOIN counts ON cells.cell = counts.cell)
SELECT cell, n_vecs,
       round(n_vecs * 100.0 / greatest(sum(n_vecs) OVER (), 1), 4) AS share_pct,
       round(n_vecs * {N_CENTROIDS} / greatest(sum(n_vecs) OVER (), 1), 4) AS over_avg,
       CAST(greatest(1, ceil(n_vecs * {N_CENTROIDS} / greatest(sum(n_vecs) OVER (), 1)))
            AS INTEGER) AS split_parts
FROM full_counts
ORDER BY cell
"""


# --- LSH (sign-of-projection buckets) ---------------------------------------


def _bucket_expr_spark() -> str:
    bits = [
        f"(CASE WHEN {dot_expr(as_double_array('embedding'), _plane_lit(p))} >= 0 "
        f"THEN {1 << p} ELSE 0 END)"
        for p in range(N_PLANES)
    ]
    return "(" + " + ".join(bits) + ")"


def _plane_lit(p: int) -> str:
    from nano_vectordb_rs_spark.functions.vector import array_lit

    return array_lit(PLANES[p])


def _query_bucket() -> int:
    b = 0
    for p in range(N_PLANES):
        if sum(q * h for q, h in zip(QUERY_VECTOR, PLANES[p])) >= 0:
            b |= 1 << p
    return b


def ann_lsh_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Random-hyperplane LSH: 4 sign bits → 16 buckets; scan only the
    query's bucket, then exact top-10 inside it. Bucket id is a write-time
    partition key at scale (same pruning argument as IVF)."""
    emb = load_table(spark, sf_dir, "embeddings")
    bucketed = emb.withColumn("bucket", F.expr(_bucket_expr_spark()))
    return (
        bucketed.filter(F.col("bucket") == _query_bucket())
        .select(
            "vec_id",
            "label",
            "bucket",
            F.round(F.expr(cosine_expr("embedding", QUERY_VECTOR)), 6).alias("score"),
        )
        .orderBy(F.col("score").desc(), F.col("vec_id").asc())
        .limit(10)
    )


def _duck_bucket_expr() -> str:
    bits = [
        f"(CASE WHEN {duck_dot_lit('embedding', PLANES[p])} >= 0 THEN {1 << p} ELSE 0 END)"
        for p in range(N_PLANES)
    ]
    return "(" + " + ".join(bits) + ")"


ANN_LSH_SQL = f"""
SELECT vec_id, label, bucket,
       round({duck_cosine_lit("embedding", QUERY_VECTOR, EMBEDDING_DIM)}, 6) AS score
FROM (
  SELECT vec_id, label, embedding, {_duck_bucket_expr()} AS bucket
  FROM embeddings
)
WHERE bucket = {_query_bucket()}
ORDER BY score DESC, vec_id ASC
LIMIT 10
"""


# --- per-label centroids (grouped-map pandas aggregation) --------------------


def label_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label mean-vector stats via ``applyInPandas`` — the grouped-map
    UDAF surface (SURVEY.md §2.3): each label group arrives as one pandas
    DataFrame, NumPy computes the centroid, one row comes back.

    This is the coarse-quantizer *training* step of the IVF path (the
    centroids in ann_ivf_topk are literals; a real index build would use
    exactly this job). One shuffle on label; group payloads stream through
    Arrow. At 100 TB with giant groups, switch to the mergeable formulation
    (groupBy(label).agg(sum per dim / count) via posexplode) — same result,
    partial-aggregatable; kept grouped-map here because exercising the
    pandas UDAF path is the point."""
    import numpy as np
    import pandas as pd

    emb = load_table(spark, sf_dir, "embeddings")

    def centroid(pdf: "pd.DataFrame") -> "pd.DataFrame":
        mat = np.stack(pdf["embedding"].to_numpy()).astype(np.float64)
        c = mat.mean(axis=0)
        lab = pdf["label"].iloc[0]
        return pd.DataFrame(
            {
                # a NULL label is a real group (unlabeled vectors) in both
                # engines' GROUP BY — emit it as null, don't crash on NaN
                "label": [None if pd.isna(lab) else int(lab)],
                "n_vecs": [len(pdf)],
                "centroid_norm": [round(float(np.sqrt(c @ c)), 6)],
                "mean_abs": [round(float(np.abs(c).mean()), 6)],
            }
        )

    return (
        emb.groupBy("label")
        .applyInPandas(
            centroid,
            "label int, n_vecs bigint, centroid_norm double, mean_abs double",
        )
        .orderBy("label")
    )


def label_centroids_mergeable(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The 100-TB twin of ``label_centroids``: identical output, but as a
    MERGEABLE aggregation instead of a grouped-map UDAF.

    ``applyInPandas`` must materialize each label group inside one task — a
    hot label at corpus scale means one straggler task holding the whole
    group. Here the centroid is a plain ``groupBy(label, dim).avg`` over
    ``posexplode(embedding)``: partial aggregation (map-side combine)
    shrinks every partition to ≤ labels×dim rows BEFORE the exchange, so
    the shuffle carries bounded state no matter how skewed the labels are,
    and no group ever sits in one task. Same oracle as label_centroids
    (LABEL_CENTROIDS_SQL)."""
    emb = load_table(spark, sf_dir, "embeddings")
    per_dim = (
        emb.select("label", F.posexplode("embedding").alias("dim", "x"))
        .groupBy("label", "dim")
        .agg(
            F.avg(F.col("x").cast("double")).alias("a"),
            F.count("*").alias("n"),
        )
    )
    return (
        per_dim.groupBy("label")
        .agg(
            F.first("n").alias("n_vecs"),
            F.round(F.sqrt(F.sum(F.col("a") * F.col("a"))), 6).alias(
                "centroid_norm"
            ),
            F.round(F.avg(F.abs(F.col("a"))), 6).alias("mean_abs"),
        )
        .orderBy("label")
    )


LABEL_CENTROIDS_SQL = f"""
WITH cent AS (
  SELECT label, i AS dim, avg(CAST(embedding[i] AS DOUBLE)) AS a
  FROM embeddings, UNNEST(generate_series(1, {EMBEDDING_DIM})) AS t(i)
  GROUP BY label, dim),
ns AS (SELECT label, count(*) AS n_vecs FROM embeddings GROUP BY label)
SELECT c.label, ns.n_vecs,
       round(sqrt(sum(a * a)), 6) AS centroid_norm,
       round(avg(abs(a)), 6) AS mean_abs
FROM cent c JOIN ns ON c.label IS NOT DISTINCT FROM ns.label
GROUP BY c.label, ns.n_vecs
ORDER BY c.label
"""


# --- ANN recall vs exact ----------------------------------------------------


def ann_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@10 of the WHOLE ANN portfolio — IVF cells, LSH buckets,
    PQ/ADC codes, and the combined IVF-PQ partitioned index — against
    exact brute force: the honesty check every approximate index needs.
    One row per method with hits-in-exact-top-10 (r07: grew from 2 to 4
    methods when the PQ paths joined the portfolio).

    Fully declarative (one plan, no driver-side set math): each approximate
    top-10 joins the 10-row exact top-10 (broadcast by size), the hit counts
    cross-join the 1-row k count, and the method rows union. The DuckDB
    oracle is the identical CTE composition of KNN_TOPK_SQL / ANN_IVF_SQL /
    ANN_LSH_SQL / ANN_PQ_SQL / ANN_IVF_PQ_SQL."""
    from nano_vectordb_rs_spark.operators.knn import knn_topk

    exact = knn_topk(spark, sf_dir).select("vec_id")

    def method_row(method: str, approx: DataFrame) -> DataFrame:
        return (
            approx.select("vec_id")
            .join(exact, "vec_id")
            .agg(F.count("*").alias("hits"))
            .crossJoin(exact.agg(F.count("*").alias("k")))
            .select(F.lit(method).alias("method"), "hits", "k")
        )

    return (
        method_row("ivf", ann_ivf_topk(spark, sf_dir))
        .unionAll(method_row("ivfpq", ann_ivf_pq_topk(spark, sf_dir)))
        .unionAll(method_row("lsh", ann_lsh_topk(spark, sf_dir)))
        .unionAll(method_row("pq", ann_pq_topk(spark, sf_dir)))
        .orderBy("method")
    )


def _ann_recall_sql() -> str:
    return f"""
WITH exact AS ({KNN_TOPK_SQL}),
ivf AS ({ANN_IVF_SQL}),
ivfpq AS ({ANN_IVF_PQ_SQL}),
lsh AS ({ANN_LSH_SQL}),
pq AS ({ANN_PQ_SQL})
SELECT method, hits, k FROM (
  SELECT 'ivf' AS method,
         (SELECT count(*) FROM ivf JOIN exact USING (vec_id)) AS hits,
         (SELECT count(*) FROM exact) AS k
  UNION ALL
  SELECT 'ivfpq' AS method,
         (SELECT count(*) FROM ivfpq JOIN exact USING (vec_id)) AS hits,
         (SELECT count(*) FROM exact) AS k
  UNION ALL
  SELECT 'lsh' AS method,
         (SELECT count(*) FROM lsh JOIN exact USING (vec_id)) AS hits,
         (SELECT count(*) FROM exact) AS k
  UNION ALL
  SELECT 'pq' AS method,
         (SELECT count(*) FROM pq JOIN exact USING (vec_id)) AS hits,
         (SELECT count(*) FROM exact) AS k)
ORDER BY method
"""


# --- doc-store retrieval join -------------------------------------------------


def semantic_search_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Retrieval-augmented lookup: cosine top-10 over the embedding index,
    then join the winners back to the document store for their metadata —
    the two-table shape every RAG pipeline runs (index answers WHICH, doc
    store answers WHAT). The 10-row top-k broadcasts into the documents
    join, so the doc store is probed, never shuffled."""
    emb = load_table(spark, sf_dir, "embeddings")
    docs = load_table(spark, sf_dir, "documents")
    topk = (
        emb.select(
            "vec_id",
            F.round(F.expr(cosine_expr("embedding", QUERY_VECTOR)), 6).alias("score"),
        )
        .orderBy(F.col("score").desc(), F.col("vec_id").asc())
        .limit(10)
    )
    return (
        docs.join(F.broadcast(topk), docs.doc_id == topk.vec_id)
        .select("doc_id", "lang", "source", "n_chars", "score")
        .orderBy(F.col("score").desc(), F.col("doc_id").asc())
    )


SEMANTIC_SEARCH_SQL = f"""
WITH topk AS (
  SELECT vec_id, round({duck_cosine_lit("embedding", QUERY_VECTOR, EMBEDDING_DIM)}, 6) AS score
  FROM embeddings
  ORDER BY score DESC, vec_id ASC
  LIMIT 10)
SELECT doc_id, lang, source, n_chars, score
FROM documents JOIN topk ON doc_id = vec_id
ORDER BY score DESC, doc_id ASC
"""


# --- cross-modal duplicate verification ---------------------------------------


def crossmodal_dup_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding near-dup candidates verified against TEXT token-set Jaccard
    — the cross-modal confirmation step real dedup pipelines run before
    dropping documents (embedding similarity proposes, lexical overlap
    confirms or refutes).

    The candidate pair set (small) drives everything: pairs come from the
    cell-blocked candidate engine (_blocked_near_dup_pairs — subquadratic,
    not label-wide all-pairs), and token sets are only computed/joined for
    documents appearing in a pair, never corpus-wide."""
    docs = load_table(spark, sf_dir, "documents")
    # r16 (§2.4 scan audit): pairs fed both the intersection join and the
    # final report join, so the WHOLE candidate engine (blocking self-join
    # + exact verify, 4 embedding scans) was evaluated twice; the
    # checkpoint is the verified near-dup pair list — the decision frame,
    # tiny relative to the corpus (guide §8).
    pairs = (
        _blocked_near_dup_pairs(spark, sf_dir)
        .select("id1", "id2", F.col("score").alias("cos_score"))
        .localCheckpoint(eager=False)
    )
    # token sets only for documents that appear in a pair — the docstring's
    # claim, now physically true BEFORE the explode: the pair-member id set
    # (≤ 2·|pairs| rows) broadcasts into the docs scan, so the corpus-wide
    # explode never runs and the pruned (doc_id, tok) frame is checkpointed
    # once instead of being re-derived for t1/t2/s1/s2 (4 document scans).
    pair_ids = pairs.select(
        F.explode(F.array("id1", "id2")).alias("doc_id")
    ).distinct()
    toks = (
        docs.join(F.broadcast(pair_ids), "doc_id")
        .select(
            "doc_id",
            F.explode(F.array_distinct(F.split("text", " "))).alias("tok"),
        )
        .localCheckpoint(eager=False)
    )
    sizes = toks.groupBy("doc_id").agg(F.count("*").alias("n_tok"))
    t1, t2 = toks.alias("t1"), toks.alias("t2")
    inter = (
        pairs.join(t1, F.col("id1") == F.col("t1.doc_id"))
        .join(
            t2,
            (F.col("id2") == F.col("t2.doc_id"))
            & (F.col("t1.tok") == F.col("t2.tok")),
        )
        .groupBy("id1", "id2", "cos_score")
        .agg(F.count("*").alias("n_inter"))
    )
    s1, s2 = sizes.alias("s1"), sizes.alias("s2")
    joined = (
        pairs.join(inter.drop("cos_score"), ["id1", "id2"], "left_outer")
        .join(s1, F.col("id1") == F.col("s1.doc_id"))
        .join(s2, F.col("id2") == F.col("s2.doc_id"))
    )
    jac = F.round(
        F.coalesce(F.col("n_inter"), F.lit(0))
        / (F.col("s1.n_tok") + F.col("s2.n_tok") - F.coalesce(F.col("n_inter"), F.lit(0))),
        6,
    )
    return (
        joined.select("id1", "id2", "cos_score", jac.alias("text_jaccard"))
        .orderBy(F.col("cos_score").desc(), "id1", "id2")
        .limit(50)
    )


CROSSMODAL_DUP_SQL = f"""
WITH {_blocked_pairs_cte()},
pairs AS (SELECT id1, id2, score AS cos_score FROM bpairs),
toks AS (
  SELECT DISTINCT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents),
sizes AS (SELECT doc_id, count(*) AS n_tok FROM toks GROUP BY doc_id),
inter AS (
  SELECT id1, id2, count(*) AS n_inter
  FROM pairs
  JOIN toks t1 ON id1 = t1.doc_id
  JOIN toks t2 ON id2 = t2.doc_id AND t1.tok = t2.tok
  GROUP BY id1, id2)
SELECT id1, id2, cos_score,
       round(coalesce(n_inter, 0) / CAST(s1.n_tok + s2.n_tok - coalesce(n_inter, 0) AS DOUBLE), 6)
         AS text_jaccard
FROM pairs
LEFT OUTER JOIN inter USING (id1, id2)
JOIN sizes s1 ON id1 = s1.doc_id
JOIN sizes s2 ON id2 = s2.doc_id
ORDER BY cos_score DESC, id1, id2
LIMIT 50
"""


# --- product-quantization ANN ------------------------------------------------

PQ_M = 8  # subspaces
PQ_SUB = EMBEDDING_DIM // PQ_M  # dims per subspace
PQ_K = 16  # codes per subspace
PQ_TOPK = 10
_FP = 1e15


def _pq_codebook() -> list[list[list[float]]]:
    """Deterministic unit codebooks, one K-entry book per subspace (seeds
    1000+). Untrained (the per-subspace Lloyd refinement k-means runs for
    the IVF cells would drop in unchanged), but every PQ mechanism —
    encode, LUT build, ADC scan — is the real algorithm; with unit codes,
    max-dot encoding equals the canonical min-L2 assignment
    (argmin ‖x−c‖² = argmax x·c − ‖c‖²/2, and ‖c‖ ≡ 1)."""
    return [
        [
            deterministic_vector(PQ_SUB, seed=1000 + m * PQ_K + k)
            for k in range(PQ_K)
        ]
        for m in range(PQ_M)
    ]


def _pq_lut_fp(query: list[float]) -> list[list[int]]:
    """ADC lookup table as EXACT fixed-point integers: lut[m][k] =
    Σ_i trunc(q_i · c_i · 1e15). Python float ops are IEEE doubles with the
    same (q·c)·1e15 association both engines use and int() truncates toward
    zero like Spark's double→long cast and DuckDB's trunc, so the literal
    ints embedded into BOTH sides are identical by construction."""
    cb = _pq_codebook()
    return [
        [
            sum(
                int(query[m * PQ_SUB + i] * cb[m][k][i] * _FP)
                for i in range(PQ_SUB)
            )
            for k in range(PQ_K)
        ]
        for m in range(PQ_M)
    ]


def _pq_encode(emb: DataFrame, carry: list[str]) -> DataFrame:
    """Scan-local PQ encode projection: ``vec_id`` + *carry* columns +
    ``code0..code{M-1}`` (each the argmax-dot codeword index in 0..15).

    Zero joins — the codebooks are LITERAL arrays folded into the
    projection (same trick as the k-means assignment). Codes come from
    ×1e15 fixed-point integer dots (truncation + exact long adds), so the
    argmax — and therefore every materialized code — is bit-deterministic
    and reproducible by the DuckDB oracle."""
    cb = _pq_codebook()

    from nano_vectordb_rs_spark.functions.vector import array_lit

    def sub_dot(m: int, code_vec: list[float]):
        # compact HOF fold over the pre-bound subspace slice — an unrolled
        # 8-term expression ×128 codes blows the whole-stage-codegen method
        # limit and falls back to interpreted eval (~10× slower); the
        # zip_with/aggregate form stays inside codegen like the k-means
        # assignment it mirrors. Built as ONE SQL string per codeword, not
        # M×K×dim ``F.lit`` Columns — each F.lit is a py4j round-trip and
        # the old form spent ~1 s of driver time building the projection
        # (the k-means _assign r15 boundary fix); parsed text is
        # operation-identical, so every code is unchanged.
        arr = array_lit([float(v) for v in code_vec])
        return F.expr(
            f"aggregate(zip_with(_s{m}, {arr}, "
            f"(x, y) -> CAST(CAST(x AS DOUBLE) * y * CAST({_FP!r} AS DOUBLE) AS BIGINT)), "
            "CAST(0 AS BIGINT), (acc, x) -> acc + x)"
        )

    # bind each subspace slice once, then each subspace's K dots as a named
    # array column — array_position(array_max) reads it twice, and
    # rebuilding the 16-fold dot array inline would double the projection
    return (
        emb.select(
            "vec_id",
            *carry,
            *[
                F.slice("embedding", m * PQ_SUB + 1, PQ_SUB).alias(f"_s{m}")
                for m in range(PQ_M)
            ],
        )
        .select(
            "vec_id",
            *carry,
            *[
                F.array(*[sub_dot(m, cb[m][k]) for k in range(PQ_K)]).alias(
                    f"_d{m}"
                )
                for m in range(PQ_M)
            ],
        )
        .select(
            "vec_id",
            *carry,
            *[
                (F.expr(f"array_position(_d{m}, array_max(_d{m}))") - 1)
                .cast("int")
                .alias(f"code{m}")
                for m in range(PQ_M)
            ],
        )
    )


def pq_build_codes(spark: SparkSession, sf_dir: str) -> str:
    """Materialize the PQ codes ONCE as a 4-byte packed-int column — the
    index-build half of the 100-TB PQ story (`ann_pq_topk` recomputes the
    encode per query; this writes it per corpus).

    Each vector's 8×4-bit codes pack into one INT (code m in bits
    4m..4m+3): 4 bytes per vector vs 256 for the float embedding — the 64×
    compression the docstring of ann_pq_topk promises, realized as column
    pruning on the probe scan. The build is the same scan-local literal
    projection as the inline path, one pass, no shuffle.

    The output path is content-keyed (source path + mtime + size + codec
    params), so re-builds are no-ops while source changes invalidate."""
    import hashlib
    import os
    import tempfile

    src = ":".join(map(str, table_key(sf_dir, "embeddings")))
    key = hashlib.md5(f"{src}:pq{PQ_M}x{PQ_K}v1".encode()).hexdigest()[:16]
    path = os.path.join(tempfile.gettempdir(), "nano_vdb_pq_codes", key)

    def _write(tmp: str) -> None:
        pq_codes_df(spark, sf_dir).write.mode("overwrite").parquet(tmp)

    return _materialize_cached(path, _write)


def pq_codes_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The PQ index-build plan itself — (vec_id, label, pq_code) with the
    8×4-bit codes packed into one INT — as a DataFrame, so the build cost
    can be timed on its own (bench entry ``pq_build_codes``) separately
    from the probe (``ann_pq_codes_topk``). One scan-local literal-codebook
    projection, zero joins, zero shuffles."""
    emb = load_table(spark, sf_dir, "embeddings")
    packed = None
    for m in range(PQ_M):
        term = F.shiftleft(F.col(f"code{m}"), 4 * m)
        packed = term if packed is None else packed + term
    return _pq_encode(emb, ["label"]).select(
        "vec_id", "label", packed.cast("int").alias("pq_code")
    )


def ann_pq_codes_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PQ ANN over MATERIALIZED codes — the production shape of
    `ann_pq_topk` (same top-10, same oracle): build the 4-byte code column
    once (`pq_build_codes`), then answer queries by scanning ONLY
    (vec_id, label, pq_code) — never the 256-byte float embedding.

    Plan shape: the ADC score is a sum of 8 literal-LUT lookups on
    unpacked 4-bit fields (scan-local, whole-stage codegen); top-k is the
    bounded TakeOrderedAndProject; only the 10 survivors join back to the
    embeddings table (broadcast) to ride the exact cosine along for
    error visibility. At 100 TB the probe reads 1/64th the bytes of the
    inline path and the join back touches k rows."""
    path = pq_build_codes(spark, sf_dir)
    lut = _pq_lut_fp(QUERY_VECTOR)
    codes = spark.read.parquet(path)
    score_fp = None
    for m in range(PQ_M):
        # mask-after-shift keeps only the 4 target bits, so int32 sign
        # extension on code7 is harmless
        code_m = F.expr(f"CAST(shiftright(pq_code, {4 * m}) & 15 AS INT)")
        term = F.element_at(
            F.array(*[F.lit(int(v)) for v in lut[m]]), code_m + 1
        )
        score_fp = term if score_fp is None else score_fp + term
    topk = (
        codes.select("vec_id", "label", score_fp.alias("score_fp"))
        .orderBy(F.col("score_fp").desc(), F.col("vec_id").asc())
        .limit(PQ_TOPK)
    )
    # join FIRST, cosine AFTER: projecting exact_cos below the join would
    # evaluate the full HOF cosine for EVERY corpus row before the 10-row
    # hash probe discards them (measured: slope 1.56 across 1-4x sf0.1 —
    # the full-scan cost PQ exists to avoid; post-join it's k cosines)
    exact = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    return (
        exact.join(F.broadcast(topk), "vec_id")
        .select(
            "vec_id",
            "label",
            "score_fp",
            F.round(F.col("score_fp").cast("double") / F.lit(_FP), 6).alias(
                "pq_dot"
            ),
            F.round(F.expr(cosine_expr("embedding", QUERY_VECTOR)), 6).alias(
                "exact_cos"
            ),
        )
        .orderBy(F.col("score_fp").desc(), F.col("vec_id").asc())
        .drop("score_fp")
    )


def ann_pq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization ANN — the third leg of the ANN portfolio next
    to IVF cells and LSH buckets, and the one that scales MEMORY: each
    vector compresses to M=8 4-bit codes (4 bytes vs 256), and queries
    scan codes with a per-subspace lookup table (ADC) instead of touching
    floats.

    Plan shape (100 TB story): encode is a scan-local projection against
    LITERAL codebooks (zero joins — same trick as the k-means assignment);
    in production the codes materialize once as a 4-byte column and the
    ADC scan reads ONLY that column (column pruning does the 64×
    compression); scoring sums M literal-array lookups per row, and top-k
    is the bounded TakeOrderedAndProject every KNN query here uses. The
    exact cosine rides along per survivor so the approximation error is
    visible in the result itself.

    Determinism: codes come from ×1e15 fixed-point integer dots
    (truncation + exact long adds — order-free); the ADC score is a sum of
    integer LUT entries, compared as the INTEGER before any rounding, so
    ranking ties are impossible to disagree on."""
    emb = load_table(spark, sf_dir, "embeddings")
    lut = _pq_lut_fp(QUERY_VECTOR)
    coded = _pq_encode(emb, ["label", "embedding"])
    score_fp = None
    for m in range(PQ_M):
        term = F.element_at(
            F.array(*[F.lit(int(v)) for v in lut[m]]), F.col(f"code{m}") + 1
        )
        score_fp = term if score_fp is None else score_fp + term
    return (
        coded.withColumn("score_fp", score_fp)
        .select(
            "vec_id",
            "label",
            "score_fp",
            F.round(F.col("score_fp").cast("double") / F.lit(_FP), 6).alias(
                "pq_dot"
            ),
            F.round(F.expr(cosine_expr("embedding", QUERY_VECTOR)), 6).alias(
                "exact_cos"
            ),
        )
        .orderBy(F.col("score_fp").desc(), F.col("vec_id").asc())
        .limit(PQ_TOPK)
        .drop("score_fp")
    )


def _duck_pq_sql() -> str:
    cb = _pq_codebook()
    lut = _pq_lut_fp(QUERY_VECTOR)
    cb_values = ",\n    ".join(
        f"({m}, {k}, {i + 1}, CAST('{cb[m][k][i]!r}' AS DOUBLE))"
        for m in range(PQ_M)
        for k in range(PQ_K)
        for i in range(PQ_SUB)
    )
    lut_values = ",\n    ".join(
        f"({m}, {k}, CAST({lut[m][k]} AS BIGINT))"
        for m in range(PQ_M)
        for k in range(PQ_K)
    )
    exact = duck_cosine_lit("embedding", QUERY_VECTOR, EMBEDDING_DIM)
    return f"""
WITH cb(m, k, pos, val) AS (VALUES
    {cb_values}),
lut(m, k, fp) AS (VALUES
    {lut_values}),
dots AS (
  SELECT e.vec_id, c.m, c.k,
         sum(CAST(trunc(CAST(e.embedding[c.m * {PQ_SUB} + c.pos] AS DOUBLE) * c.val * 1e15) AS BIGINT)) AS dot
  FROM embeddings e, cb c
  GROUP BY 1, 2, 3),
codes AS (
  SELECT vec_id, m, k AS code FROM (
    SELECT *, row_number() OVER (PARTITION BY vec_id, m
                                 ORDER BY dot DESC, k ASC) AS rn
    FROM dots)
  WHERE rn = 1),
scores AS (
  SELECT c.vec_id, sum(l.fp) AS score_fp
  FROM codes c JOIN lut l ON c.m = l.m AND c.code = l.k
  GROUP BY c.vec_id)
SELECT e.vec_id, e.label,
       round(CAST(s.score_fp AS DOUBLE) / 1e15, 6) AS pq_dot,
       round({exact}, 6) AS exact_cos
FROM scores s JOIN embeddings e ON s.vec_id = e.vec_id
ORDER BY s.score_fp DESC, e.vec_id ASC
LIMIT {PQ_TOPK}
"""


ANN_PQ_SQL = _duck_pq_sql()


# --- IVF-PQ: coarse cells + product-quantized codes (the FAISS IVFPQ
# architecture, reference query() generalized to index-backed scale) ---------


def ivf_pq_build_index(spark: SparkSession, sf_dir: str) -> str:
    """Materialize the IVF-PQ index ONCE: (vec_id, label, pq_code) written
    ``partitionBy(cell)`` — the coarse-quantizer cell is a REAL write-time
    partition key, so a probe's ``cell IN (...)`` filter is directory-level
    partition pruning, not a row filter.

    This composes the two index builds already proven separately:
    the IVF cell assignment (scan-local literal-centroid argmax,
    `ann_ivf_topk`) and the PQ encode (fixed-point literal-codebook argmax,
    `pq_build_codes`). One pass over the embeddings, zero joins, zero
    shuffles except the partitioned write itself. At 100 TB this is the
    standard billion-vector layout: ~√N cells × 4-byte codes ⇒ a probe
    touches (n_probe/n_cells) of the files and 1/64th of the bytes.

    Content-keyed output path (source path + mtime + size + params) makes
    re-builds no-ops while source changes invalidate — same contract as
    `pq_build_codes`."""
    import hashlib
    import os
    import tempfile

    src = ":".join(map(str, table_key(sf_dir, "embeddings")))
    key = hashlib.md5(
        f"{src}:ivf{N_CENTROIDS}pq{PQ_M}x{PQ_K}v1".encode()
    ).hexdigest()[:16]
    path = os.path.join(tempfile.gettempdir(), "nano_vdb_ivfpq_index", key)

    def _write(tmp: str) -> None:
        (
            _ivf_pq_index_df(spark, sf_dir)
            .write.mode("overwrite")
            .partitionBy("cell")
            .parquet(tmp)
        )

    return _materialize_cached(path, _write)


_IVF_PQ_SCHEMA_CACHE: dict = {}


def _ivf_pq_read_schema(spark: SparkSession, sf_dir: str):
    """Probe read schema, derived from the builder plan so the two can't
    drift (a zero-row partitionBy write leaves only _SUCCESS — no data
    files to infer from — so the probe needs it explicit). ``partitionBy``
    moves the partition column to the END of the read-back schema.

    Memoized per corpus: analyzing the builder plan means resolving the
    8×16 HOF encode folds, ~4 s of driver-side Catalyst work — fine once,
    not per probe call (the r08 derived-schema change initially paid it
    every call and the scale probe caught the 0.4 → 4.7 s regression)."""
    # content key: a fixture regenerated at the same path with different
    # column types must miss the cache, not serve a stale schema
    key = table_key(sf_dir, "embeddings")
    if key not in _IVF_PQ_SCHEMA_CACHE:
        from pyspark.sql.types import StructType

        plan = _ivf_pq_index_df(spark, sf_dir).schema
        _IVF_PQ_SCHEMA_CACHE[key] = StructType(
            [f for f in plan.fields if f.name != "cell"] + [plan["cell"]]
        )
    return _IVF_PQ_SCHEMA_CACHE[key]


def _ivf_pq_index_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The (unexecuted) IVF-PQ index plan: ``ivf_pq_build_index`` writes it;
    ``ann_ivf_pq_topk`` derives its read schema from it — one definition, so
    a builder select / fixture type change can't silently drift the probe's
    explicit read schema out of sync (same pattern as
    ``dedup.minhash_index_probe`` deriving from ``_band_index_df``)."""
    emb = load_table(spark, sf_dir, "embeddings")
    # cell assignment needs the s0..s7 score columns in scope
    scored = emb.select(
        "vec_id",
        "label",
        "embedding",
        *[
            F.expr(cosine_expr("embedding", CENTROIDS[c])).alias(f"s{c}")
            for c in range(N_CENTROIDS)
        ],
    ).withColumn("cell", F.expr(_cell_case_spark()))
    packed = None
    for m in range(PQ_M):
        term = F.shiftleft(F.col(f"code{m}"), 4 * m)
        packed = term if packed is None else packed + term
    return _pq_encode(
        scored.select("vec_id", "label", "cell", "embedding"),
        ["label", "cell"],
    ).select("vec_id", "label", "cell", packed.cast("int").alias("pq_code"))


def ann_ivf_pq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-PQ ANN probe — coarse cells AND compressed codes in one index
    (`ivf_pq_build_index`): read ONLY the query's N_PROBE cell partitions
    (directory pruning), ADC-score ONLY the 4-byte code column, top-10 by
    the exact integer score, then broadcast-join the 10 survivors back to
    the float embeddings for exact-cosine error visibility.

    vs the flat variants: `ann_ivf_topk` prunes rows but reads full floats;
    `ann_pq_codes_topk` reads 4-byte codes but scans every row. This reads
    n_probe/n_cells of the files × 1/64th of the bytes — multiplicative.
    The reference holds its whole matrix in RAM (src/lib.rs:27-31 Array2 in
    NanoVectorDB); this layout is how the same query survives a corpus that
    does not fit any machine.

    Determinism: cell assignment and codes are both literal-constant
    projections with fixed tie-breaks (proven separately by ANN_IVF_SQL and
    ANN_PQ_SQL); the ADC ranking compares exact fixed-point integers."""
    path = ivf_pq_build_index(spark, sf_dir)
    lut = _pq_lut_fp(QUERY_VECTOR)
    codes = (
        spark.read.schema(_ivf_pq_read_schema(spark, sf_dir))
        .parquet(path)
        .filter(F.col("cell").isin(_probe_cells()))
    )
    score_fp = None
    for m in range(PQ_M):
        code_m = F.expr(f"CAST(shiftright(pq_code, {4 * m}) & 15 AS INT)")
        term = F.element_at(
            F.array(*[F.lit(int(v)) for v in lut[m]]), code_m + 1
        )
        score_fp = term if score_fp is None else score_fp + term
    topk = (
        codes.select(
            "vec_id",
            "label",
            F.col("cell").cast("int").alias("cell"),
            score_fp.alias("score_fp"),
        )
        .orderBy(F.col("score_fp").desc(), F.col("vec_id").asc())
        .limit(PQ_TOPK)
    )
    exact = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    # order by the exact INTEGER score before dropping it (same rule as
    # ann_pq_codes_topk): ordering by the 6-decimal-rounded pq_dot could
    # disagree with the oracle's score_fp ordering on round-equal ties
    return (
        exact.join(F.broadcast(topk), "vec_id")
        .select(
            "vec_id",
            "label",
            "cell",
            "score_fp",
            F.round(F.col("score_fp").cast("double") / F.lit(_FP), 6).alias(
                "pq_dot"
            ),
            F.round(F.expr(cosine_expr("embedding", QUERY_VECTOR)), 6).alias(
                "exact_cos"
            ),
        )
        .orderBy(F.col("score_fp").desc(), F.col("vec_id").asc())
        .drop("score_fp")
    )


def _duck_ivf_pq_sql() -> str:
    """ANN_PQ_SQL with the IVF cell restriction pushed into the scored set:
    identical fixed-point LUT/codebook literals, but only vectors whose
    literal-centroid cell is in the probe list enter the ADC ranking."""
    cb = _pq_codebook()
    lut = _pq_lut_fp(QUERY_VECTOR)
    cb_values = ",\n    ".join(
        f"({m}, {k}, {i + 1}, CAST('{cb[m][k][i]!r}' AS DOUBLE))"
        for m in range(PQ_M)
        for k in range(PQ_K)
        for i in range(PQ_SUB)
    )
    lut_values = ",\n    ".join(
        f"({m}, {k}, CAST({lut[m][k]} AS BIGINT))"
        for m in range(PQ_M)
        for k in range(PQ_K)
    )
    exact = duck_cosine_lit("embedding", QUERY_VECTOR, EMBEDDING_DIM)
    probes = ", ".join(map(str, _probe_cells()))
    return f"""
WITH cb(m, k, pos, val) AS (VALUES
    {cb_values}),
lut(m, k, fp) AS (VALUES
    {lut_values}),
celled AS (
  SELECT vec_id, label, embedding, {_cell_case_spark()} AS cell
  FROM ({_duck_cell_sql()})),
probed AS (
  SELECT * FROM celled WHERE cell IN ({probes})),
dots AS (
  SELECT e.vec_id, c.m, c.k,
         sum(CAST(trunc(CAST(e.embedding[c.m * {PQ_SUB} + c.pos] AS DOUBLE) * c.val * 1e15) AS BIGINT)) AS dot
  FROM probed e, cb c
  GROUP BY 1, 2, 3),
codes AS (
  SELECT vec_id, m, k AS code FROM (
    SELECT *, row_number() OVER (PARTITION BY vec_id, m
                                 ORDER BY dot DESC, k ASC) AS rn
    FROM dots)
  WHERE rn = 1),
scores AS (
  SELECT c.vec_id, sum(l.fp) AS score_fp
  FROM codes c JOIN lut l ON c.m = l.m AND c.code = l.k
  GROUP BY c.vec_id)
SELECT e.vec_id, e.label, e.cell,
       round(CAST(s.score_fp AS DOUBLE) / 1e15, 6) AS pq_dot,
       round({exact}, 6) AS exact_cos
FROM scores s JOIN probed e ON s.vec_id = e.vec_id
ORDER BY s.score_fp DESC, e.vec_id ASC
LIMIT {PQ_TOPK}
"""


ANN_IVF_PQ_SQL = _duck_ivf_pq_sql()

# assembled last: the recall CTE composes every ANN oracle above
ANN_RECALL_SQL = _ann_recall_sql()
