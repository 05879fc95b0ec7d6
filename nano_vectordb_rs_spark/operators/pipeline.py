"""Training-data pipeline operators beyond the survey surface: context-window
sequence packing, stratified sampling, int8 embedding quantization analysis,
and bigram language-model counts.

Like the rest of the extension surface these are JVM-built-in-only plans
(no Python UDFs): scan-local projections + small keyed shuffles, with the
one genuinely order-dependent step (the packing prefix sum) done as a
two-phase bucket cumsum instead of a single global window so it scales past
one partition (the reference engine has no counterpart to any of this; its
whole query surface is src/lib.rs:188-260 cosine top-k).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from nano_vectordb_rs_spark.functions.vector import EMBEDDING_DIM
from nano_vectordb_rs_spark.sources.tables import load_table

# --- sequence packing -------------------------------------------------------

CTX_TOKENS = 512  # context-window size for packing (tokens, whitespace def)
PACK_BUCKET = 1000  # docs per prefix-sum bucket (range key: doc_id div this)


def pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Concat-and-chunk context packing: documents are concatenated in
    doc_id order into one token stream and cut every CTX_TOKENS tokens —
    the standard LLM pre-training packing step. Output: one row per context
    window with its doc count, token count, and how many docs straddle its
    left boundary.

    Scale shape: the global running token offset is NOT one window over an
    unpartitioned sort (a single-partition bottleneck at 100 TB). It is the
    classic two-phase prefix sum: (1) per-bucket token totals — one tiny
    aggregate, (2) bucket offsets via a window over the n_buckets rows
    (thousands of rows at any scale — each bucket covers PACK_BUCKET docs),
    broadcast-joined back, (3) a bucket-partitioned window adds the local
    cumsum. Every heavy stage is partitioned; the only global sort touches
    bucket summaries. A doc spanning [start, end) explodes into its
    floor(start/C)..floor((end-1)/C) chunk range — bounded by doc length,
    not corpus size. Integer arithmetic end-to-end ⇒ engine-exact."""
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", F.size(F.split("text", " ")).alias("tok")
    )
    # three ints per doc, consumed by BOTH the bucket-total aggregate and
    # the span join — without the checkpoint each consumer re-reads the
    # corpus text and re-splits it just to take a size (guide §2.4; the
    # text is the 100-TB mass, this frame is row-count-sized)
    docs = docs.withColumn(
        "bucket", F.expr(f"doc_id div {PACK_BUCKET}")
    ).localCheckpoint(eager=False)
    totals = docs.groupBy("bucket").agg(F.sum("tok").alias("btot"))
    w_b = Window.orderBy("bucket").rowsBetween(Window.unboundedPreceding, -1)
    offsets = totals.withColumn(
        "boff", F.coalesce(F.sum("btot").over(w_b), F.lit(0))
    ).select("bucket", "boff")
    w_local = (
        Window.partitionBy("bucket")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    spans = (
        docs.join(F.broadcast(offsets), "bucket")
        .withColumn("cum_end", F.col("boff") + F.sum("tok").over(w_local))
        .select(
            "doc_id",
            "tok",
            (F.col("cum_end") - F.col("tok")).alias("start"),
            "cum_end",
        )
    )
    chunks = spans.select(
        "start",
        "cum_end",
        F.explode(
            F.expr(f"sequence(start div {CTX_TOKENS}, (cum_end - 1) div {CTX_TOKENS})")
        ).alias("chunk_id"),
    )
    tok_in = F.least(
        F.col("cum_end"), (F.col("chunk_id") + 1) * CTX_TOKENS
    ) - F.greatest(F.col("start"), F.col("chunk_id") * CTX_TOKENS)
    return (
        chunks.select(
            "chunk_id",
            tok_in.alias("tin"),
            (F.col("start") < F.col("chunk_id") * CTX_TOKENS).cast("int").alias("straddle"),
        )
        .groupBy("chunk_id")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("tin").alias("n_tokens"),
            F.sum("straddle").alias("n_straddlers"),
        )
        .orderBy("chunk_id")
    )


PACK_SEQUENCES_SQL = f"""
WITH toks AS (
  SELECT doc_id, len(string_split(text, ' ')) AS tok FROM documents),
spans AS (
  SELECT doc_id, tok,
         CAST(sum(tok) OVER (ORDER BY doc_id
                             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
              AS BIGINT) AS cum_end
  FROM toks),
chunks AS (
  SELECT cum_end - tok AS start, cum_end, c.g AS chunk_id
  FROM spans, UNNEST(generate_series((cum_end - tok) // {CTX_TOKENS},
                                     (cum_end - 1) // {CTX_TOKENS})) AS c(g))
SELECT chunk_id, count(*) AS n_docs,
       CAST(sum(least(cum_end, (chunk_id + 1) * {CTX_TOKENS})
                - greatest(start, chunk_id * {CTX_TOKENS})) AS BIGINT) AS n_tokens,
       CAST(sum(CASE WHEN start < chunk_id * {CTX_TOKENS} THEN 1 ELSE 0 END) AS BIGINT)
         AS n_straddlers
FROM chunks
GROUP BY chunk_id
ORDER BY chunk_id
"""


# --- stratified sampling ----------------------------------------------------

# per-language keep rates in per-mille: downsample the dominant language,
# keep the tail — the data-mixture rebalancing step of corpus prep
SAMPLE_RATES = {"en": 400, "zh": 800, "es": 800, "de": 800, "fr": 800}
SAMPLE_DEFAULT = 600


def stratified_sample_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic hash-based stratified sampling: keep a doc iff its
    md5(doc_id) bucket (mod 1000) falls under its language's per-mille rate.
    Engine-stable (md5 is bit-identical everywhere), seedless-reproducible,
    and embarrassingly parallel — the sample decision is a scan-local
    projection, the report one tiny keyed aggregate. This is how you
    subsample 100 TB without a shuffle or an RNG seed handshake."""
    docs = load_table(spark, sf_dir, "documents")
    bucket = F.expr(
        "CAST(conv(substring(md5(CAST(doc_id AS STRING)), 1, 8), 16, 10) AS BIGINT) % 1000"
    )
    rate = F.coalesce(
        *[F.when(F.col("lang") == k, F.lit(v)) for k, v in SAMPLE_RATES.items()],
        F.lit(SAMPLE_DEFAULT),
    )
    return (
        docs.select("lang", (bucket < rate).cast("int").alias("kept"))
        .groupBy("lang")
        .agg(
            F.count("*").alias("n_total"),
            F.sum("kept").alias("n_kept"),
            F.round(F.sum("kept") / F.count("*"), 4).alias("realized_rate"),
        )
        .orderBy("lang")
    )


def quality_weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Importance sampling by quality: keep a doc with probability q² — the
    curation move that tilts a fixed token budget toward higher-quality
    text instead of cutting a hard threshold (soft weighting preserves
    diversity in the mid-quality band that a cliff filter destroys).

    Determinism without an RNG: the acceptance draw is a per-doc uniform
    from md5(doc_id) (bit-identical in both engines), and the weight is
    q·q (exact IEEE multiply — no pow(), whose libm rounding could differ
    across engines at the acceptance boundary). q is the SAME scoring
    chain the hash-green quality_scores query pins (textops.quality_col).
    Scale shape: the accept decision is a scan-local projection; the
    report is one #lang-keyed aggregate — subsampling 100 TB costs one
    pass and a tiny shuffle."""
    from nano_vectordb_rs_spark.operators.textops import quality_col

    docs = load_table(spark, sf_dir, "documents")
    u = (
        F.expr(
            "CAST(conv(substring(md5(concat('qs:', CAST(doc_id AS STRING))), 1, 8), 16, 10) AS BIGINT)"
        ).cast("double")
        / F.lit(4294967296.0)
    )
    q = quality_col()
    kept = (u < q * q).cast("int")
    return (
        docs.select(
            "lang",
            "doc_id",
            q.alias("q"),
            kept.alias("kept"),
        )
        .groupBy("lang")
        .agg(
            F.count("*").alias("n_total"),
            F.sum("kept").alias("n_kept"),
            F.round(F.sum("kept") / F.count("*"), 4).alias("realized_rate"),
            F.round(
                F.sum(
                    F.when(F.col("kept") == 1, F.col("q")).cast(
                        "decimal(28,10)"
                    )
                ).cast("double"),
                4,
            ).alias("kept_quality"),
            F.sum(F.when(F.col("kept") == 1, F.col("doc_id"))).alias(
                "kept_id_checksum"
            ),
        )
        .orderBy("lang")
    )


def _quality_weighted_sample_sql() -> str:
    from nano_vectordb_rs_spark.operators.textops import DUCK_QUALITY_DOC_ROW

    return f"""
WITH scored AS ({DUCK_QUALITY_DOC_ROW}),
drawn AS (
  SELECT lang, doc_id, q,
         CASE WHEN CAST(concat('0x', substr(md5('qs:' || CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT)
                   / 4294967296.0 < q * q
              THEN 1 ELSE 0 END AS kept
  FROM scored)
SELECT lang,
       count(*) AS n_total,
       CAST(sum(kept) AS BIGINT) AS n_kept,
       round(sum(kept) / CAST(count(*) AS DOUBLE), 4) AS realized_rate,
       round(CAST(sum(CASE WHEN kept = 1 THEN CAST(q AS DECIMAL(28,10)) END) AS DOUBLE), 4)
         AS kept_quality,
       CAST(sum(CASE WHEN kept = 1 THEN doc_id END) AS BIGINT) AS kept_id_checksum
FROM drawn
GROUP BY lang
ORDER BY lang
"""


QUALITY_WEIGHTED_SAMPLE_SQL = _quality_weighted_sample_sql()


CHUNK_W = 64  # chunk width (tokens)
CHUNK_S = 48  # chunk stride (tokens) — overlap = CHUNK_W - CHUNK_S


def doc_chunk_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Overlapping context-window chunking — the RAG/fine-tuning prep twin
    of pack_sequences: instead of concatenating docs into a continuous
    stream, each document is cut into CHUNK_W-token windows every CHUNK_S
    tokens (overlap keeps boundary sentences in two chunks). Output: per
    lang, the chunk counts, expansion factor, short-tail fraction, and an
    order-free content checksum over every chunk's md5 (pins the exact
    chunk texts, not just their count).

    Chunk i of a doc covers tokens [i·S+1, i·S+W]; the last chunk starts at
    i = ceil(max(n_tok-W, 0)/S) so every token is covered and no chunk
    starts past the end. All arithmetic is integer + one exactly-rounded
    double ceil — engine-identical.

    Scale shape: tokenize + index explode + slice are scan-local (flatMap);
    the ONLY shuffle is the final #lang-keyed aggregate. Chunking 100 TB is
    one pass."""
    docs = (
        load_table(spark, sf_dir, "documents")
        .select("doc_id", "lang", F.split("text", " ").alias("toks"))
        .withColumn("n_tok", F.size("toks"))
        .withColumn(
            "i",
            F.explode(
                F.expr(
                    f"sequence(0, CAST(ceil(greatest(n_tok - {CHUNK_W}, 0)"
                    f" / CAST({CHUNK_S} AS DOUBLE)) AS INT))"
                )
            ),
        )
        .withColumn("chunk", F.expr(f"slice(toks, i * {CHUNK_S} + 1, {CHUNK_W})"))
        .select(
            "lang",
            "doc_id",
            F.size("chunk").alias("c_len"),
            F.expr(
                "CAST(conv(substring(md5(concat(CAST(doc_id AS STRING), ':', "
                "CAST(i AS STRING), ':', array_join(chunk, ' '))), 1, 8), 16, 10)"
                " AS BIGINT)"
            ).alias("c_sum"),
        )
    )
    return (
        docs.groupBy("lang")
        .agg(
            F.countDistinct("doc_id").alias("n_docs"),
            F.count("*").alias("n_chunks"),
            F.round(F.count("*") / F.countDistinct("doc_id"), 4).alias(
                "chunks_per_doc"
            ),
            F.sum((F.col("c_len") < CHUNK_W).cast("int")).alias("n_tail_chunks"),
            F.sum("c_sum").alias("chunk_checksum"),
        )
        .orderBy("lang")
    )


DOC_CHUNK_REPORT_SQL = f"""
WITH tok AS (
  SELECT doc_id, lang, string_split(text, ' ') AS toks,
         len(string_split(text, ' ')) AS n_tok
  FROM documents),
idx AS (
  SELECT doc_id, lang, toks, n_tok,
         unnest(range(0,
           CAST(ceil(greatest(n_tok - {CHUNK_W}, 0)
                     / CAST({CHUNK_S} AS DOUBLE)) AS INT) + 1)) AS i
  FROM tok),
chunks AS (
  SELECT lang, doc_id,
         len(list_slice(toks, i*{CHUNK_S} + 1, i*{CHUNK_S} + {CHUNK_W}))
           AS c_len,
         CAST(concat('0x', substr(md5(
             CAST(doc_id AS VARCHAR) || ':' || CAST(i AS VARCHAR) || ':' ||
             array_to_string(list_slice(toks, i*{CHUNK_S} + 1,
                                        i*{CHUNK_S} + {CHUNK_W}), ' ')
           ), 1, 8)) AS BIGINT) AS c_sum
  FROM idx)
SELECT lang,
       count(DISTINCT doc_id) AS n_docs,
       count(*) AS n_chunks,
       round(count(*) / CAST(count(DISTINCT doc_id) AS DOUBLE), 4)
         AS chunks_per_doc,
       CAST(sum(CASE WHEN c_len < {CHUNK_W} THEN 1 ELSE 0 END) AS BIGINT)
         AS n_tail_chunks,
       CAST(sum(c_sum) AS BIGINT) AS chunk_checksum
FROM chunks
GROUP BY lang
ORDER BY lang
"""


def embedding_outlier_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-corpus QA: per label, the peak-component concentration
    (max|x_i| of each vector) mean/std and how many vectors fall outside
    mean ± 2·std — the sanity gate a pipeline runs on a fresh embedding
    dump before building ANN structures on it (a high peak is a one-hot-
    ish/clipped vector, a low peak an over-smoothed one; a label whose
    spread explodes mixed encoder versions). The L2 norm is reported too
    as a coarse unit-normalization check — but the outlier statistic is
    deliberately NOT the norm: on unit-normalized corpora the norm's
    variance is a handful of double ulps (pure encode noise), where
    mean²-cancellation makes any ±kσ rule engine-unstable AND meaningless.
    Peak concentration has real physical variance (~1/√dim scale).

    Exactness: per-vector peak/norm are the same scan-local expressions
    the oracle writes explicitly (array_max over exact |·| casts; the
    norm² left-assoc fold as a 64-term chain); per-label moments go
    through DECIMAL partial sums (shuffle-order-proof); mean, std, and the
    ±2σ comparisons are then the identical sequence of exactly-rounded
    IEEE ops (÷, sqrt, ×, −) in both engines, on a statistic whose
    variance sits ~10¹³ ulps above cancellation noise.

    Scale shape: peak/norm are scan-local; the moment aggregate is one
    #label shuffle; the stats table (K rows) broadcasts back for the
    outlier count — a second #label shuffle. Two tiny shuffles total.
    r15: the (label, norm, peak) projection is checkpointed — the moment
    aggregate and the outlier join-back both consume it, and each used to
    re-read the dim-sized vectors and re-run the O(dim) folds; the
    checkpoint holds three narrow columns per vector (guide §2.4)."""
    emb = load_table(spark, sf_dir, "embeddings")
    d = "CAST(x AS DOUBLE)"
    norm = F.expr(
        f"sqrt(aggregate(embedding, CAST(0.0 AS DOUBLE), (a, x) -> a + {d} * {d}))"
    )
    peak = F.expr(f"array_max(transform(embedding, x -> abs({d})))")
    per = emb.select("label", norm.alias("norm"), peak.alias("peak")).localCheckpoint(
        eager=False
    )
    stats = (
        per.groupBy("label")
        .agg(
            F.count("*").alias("n_vecs"),
            F.sum(F.col("peak").cast("decimal(38,20)")).alias("s1"),
            F.sum((F.col("peak") * F.col("peak")).cast("decimal(38,20)")).alias(
                "s2"
            ),
        )
        .withColumn("mean", F.col("s1").cast("double") / F.col("n_vecs"))
        .withColumn(
            "std",
            F.sqrt(
                F.greatest(
                    F.col("s2").cast("double") / F.col("n_vecs")
                    - F.col("mean") * F.col("mean"),
                    F.lit(0.0),
                )
            ),
        )
        .select("label", "n_vecs", "mean", "std")
    )
    return (
        per.join(F.broadcast(stats), "label")
        .groupBy("label")
        .agg(
            F.first("n_vecs").alias("n_vecs"),
            F.round(
                F.sum(F.col("norm").cast("decimal(38,20)")).cast("double")
                / F.count("*"),
                6,
            ).alias("avg_norm"),
            F.round(F.first("mean"), 9).alias("avg_peak"),
            F.round(F.first("std"), 9).alias("std_peak"),
            F.sum(
                (F.col("peak") > F.col("mean") + 2.0 * F.col("std")).cast("int")
            ).alias("n_hi_outliers"),
            F.sum(
                (F.col("peak") < F.col("mean") - 2.0 * F.col("std")).cast("int")
            ).alias("n_lo_outliers"),
        )
        .orderBy("label")
    )


def _duck_outlier_report_sql() -> str:
    d = "CAST(embedding[{i}] AS DOUBLE)"
    chain = " + ".join(
        f"{d.format(i=i)} * {d.format(i=i)}" for i in range(1, EMBEDDING_DIM + 1)
    )
    peak = ", ".join(f"abs({d.format(i=i)})" for i in range(1, EMBEDDING_DIM + 1))
    return f"""
WITH per AS (
  SELECT label, sqrt({chain}) AS norm, greatest({peak}) AS peak
  FROM embeddings),
stats AS (
  SELECT label, count(*) AS n_vecs,
         sum(CAST(peak AS DECIMAL(38,20))) AS s1,
         sum(CAST(peak * peak AS DECIMAL(38,20))) AS s2
  FROM per GROUP BY label),
ms AS (
  SELECT label, n_vecs,
         CAST(s1 AS DOUBLE) / n_vecs AS mean,
         sqrt(greatest(CAST(s2 AS DOUBLE) / n_vecs
                       - (CAST(s1 AS DOUBLE) / n_vecs)
                         * (CAST(s1 AS DOUBLE) / n_vecs), 0.0)) AS std
  FROM stats)
SELECT p.label,
       CAST(any_value(m.n_vecs) AS BIGINT) AS n_vecs,
       round(CAST(sum(CAST(p.norm AS DECIMAL(38,20))) AS DOUBLE) / count(*), 6)
         AS avg_norm,
       round(any_value(m.mean), 9) AS avg_peak,
       round(any_value(m.std), 9) AS std_peak,
       CAST(sum(CASE WHEN p.peak > m.mean + 2.0 * m.std THEN 1 ELSE 0 END)
            AS BIGINT) AS n_hi_outliers,
       CAST(sum(CASE WHEN p.peak < m.mean - 2.0 * m.std THEN 1 ELSE 0 END)
            AS BIGINT) AS n_lo_outliers
FROM per p JOIN ms m ON p.label = m.label
GROUP BY p.label
ORDER BY p.label
"""


EMBEDDING_OUTLIER_REPORT_SQL = _duck_outlier_report_sql()


RESERVOIR_N = 5  # fixed sample size per source


def reservoir_per_key(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-size-per-group sampling: the N docs per source with the
    smallest md5(doc_id) — a deterministic, order-free stand-in for
    per-key reservoir sampling (same uniform-marginal property, but
    reproducible across engines, retries, and partitionings; a true
    sequential reservoir depends on encounter order, which a distributed
    scan cannot and should not promise). One window per source over its
    own docs; the hash ranking needs no global state, so at 100 TB this is
    a single shuffle on the group key."""
    docs = load_table(spark, sf_dir, "documents")
    h = F.md5(F.col("doc_id").cast("string"))
    w = Window.partitionBy("source").orderBy(h.asc(), F.col("doc_id").asc())
    return (
        docs.select("source", "doc_id", "lang", h.alias("pick_hash"))
        .withColumn("pick", F.row_number().over(w))
        .filter(F.col("pick") <= RESERVOIR_N)
        .select("source", "pick", "doc_id", "lang")
        .orderBy("source", "pick")
    )


RESERVOIR_PER_KEY_SQL = f"""
SELECT source, pick, doc_id, lang
FROM (
  SELECT source, doc_id, lang,
         row_number() OVER (PARTITION BY source
                            ORDER BY md5(CAST(doc_id AS VARCHAR)) ASC,
                                     doc_id ASC) AS pick
  FROM documents)
WHERE pick <= {RESERVOIR_N}
ORDER BY source, pick
"""


_RATE_CASE = " ".join(f"WHEN '{k}' THEN {v}" for k, v in SAMPLE_RATES.items())

STRATIFIED_SAMPLE_SQL = f"""
SELECT lang, count(*) AS n_total,
       CAST(sum(kept) AS BIGINT) AS n_kept,
       round(CAST(sum(kept) AS DOUBLE) / count(*), 4) AS realized_rate
FROM (
  SELECT lang,
         CASE WHEN CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT)
                   % 1000
                   < (CASE lang {_RATE_CASE} ELSE {SAMPLE_DEFAULT} END)
              THEN 1 ELSE 0 END AS kept
  FROM documents)
GROUP BY lang
ORDER BY lang
"""


# --- percentile length filtering --------------------------------------------

LENGTH_KEEP_LO = 0.1
LENGTH_KEEP_HI = 0.9


def length_filter_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language token-length trimming report: keep docs whose length
    percent_rank sits in [0.1, 0.9] — the tail-trimming quality filter every
    corpus pipeline applies before training. percent_rank is (rank−1)/(n−1),
    identical arithmetic in both engines (ties share a rank), so the kept
    set is engine-exact without any float tolerance. One shuffle on lang
    for the rank window, one tiny aggregate."""
    docs = load_table(spark, sf_dir, "documents").select(
        "lang", F.size(F.split("text", " ")).alias("tok")
    )
    w = Window.partitionBy("lang").orderBy("tok")
    pr = F.percent_rank().over(w)
    flagged = docs.withColumn(
        "kept", ((pr >= LENGTH_KEEP_LO) & (pr <= LENGTH_KEEP_HI)).cast("int")
    )
    return (
        flagged.groupBy("lang")
        .agg(
            F.count("*").alias("n_total"),
            F.sum("kept").alias("n_kept"),
            F.min(F.when(F.col("kept") == 1, F.col("tok"))).alias("kept_min_tok"),
            F.max(F.when(F.col("kept") == 1, F.col("tok"))).alias("kept_max_tok"),
        )
        .orderBy("lang")
    )


LENGTH_FILTER_SQL = f"""
SELECT lang, count(*) AS n_total,
       CAST(sum(kept) AS BIGINT) AS n_kept,
       min(CASE WHEN kept = 1 THEN tok END) AS kept_min_tok,
       max(CASE WHEN kept = 1 THEN tok END) AS kept_max_tok
FROM (
  SELECT lang, tok,
         CASE WHEN percent_rank() OVER (PARTITION BY lang ORDER BY tok)
                   BETWEEN {LENGTH_KEEP_LO} AND {LENGTH_KEEP_HI}
              THEN 1 ELSE 0 END AS kept
  FROM (SELECT lang, len(string_split(text, ' ')) AS tok FROM documents))
GROUP BY lang
ORDER BY lang
"""


# --- int8 embedding quantization -------------------------------------------


def embedding_quantize_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Symmetric int8 quantization error analysis per label: each vector is
    quantized with scale = 127/max|x| (round-half-up via floor(x·s + 0.5)),
    dequantized, and the reconstruction error folded left-to-right so the
    oracle's explicit 64-term chain reproduces it bit-for-bit. The compute
    is one scan-local projection; the per-label report is a tiny keyed
    aggregate over DECIMAL partial sums (associative ⇒ shuffle-order-proof).
    This is the storage-shrink trade-off check a pipeline runs before
    switching its ANN corpus to int8."""
    emb = load_table(spark, sf_dir, "embeddings")
    d = "CAST(x AS DOUBLE)"
    m = f"array_max(transform(embedding, x -> abs({d})))"
    # bind the scale and the error array ONCE per row as projected columns —
    # inlining them in the downstream lambdas would re-evaluate the O(dim)
    # array_max per ELEMENT, O(dim²) per row
    s_expr = f"(127.0D / greatest({m}, 1e-30D))"
    err = f"transform(embedding, x -> {d} - CAST(floor({d} * s + 0.5D) AS DOUBLE) / s)"
    mse = f"aggregate(err, CAST(0.0 AS DOUBLE), (a, e) -> a + e * e) / {EMBEDDING_DIM}"
    maxe = "array_max(transform(err, e -> abs(e)))"
    return (
        emb.select("label", "embedding", F.expr(s_expr).alias("s"))
        .select("label", "s", F.expr(err).alias("err"))
        .select(
            "label",
            # decimal partials: associative sum regardless of shuffle order;
            # the ONE double division happens after the exact sum
            F.expr(mse).cast("decimal(38,20)").alias("mse"),
            F.expr(maxe).alias("maxerr"),
        )
        .groupBy("label")
        .agg(
            F.count("*").alias("n_vecs"),
            F.round(F.sum("mse").cast("double") / F.count("*"), 9).alias("avg_mse"),
            F.round(F.max("maxerr"), 9).alias("max_abs_err"),
        )
        .orderBy("label")
    )


def _duck_quant_sql() -> str:
    d = "CAST(embedding[{i}] AS DOUBLE)"
    m_terms = ", ".join(f"abs({d.format(i=i)})" for i in range(1, EMBEDDING_DIM + 1))
    m = f"greatest({m_terms}, 1e-30)"
    # err_i referenced via a computed scale column; the sum is an explicit
    # left-to-right chain matching Spark's aggregate() fold order
    err = (
        "({d} - CAST(floor({d} * s + 0.5) AS DOUBLE) / s)".replace("{d}", d)
    )
    chain = " + ".join(
        f"{err.format(i=i)} * {err.format(i=i)}" for i in range(1, EMBEDDING_DIM + 1)
    )
    maxe = ", ".join(f"abs({err.format(i=i)})" for i in range(1, EMBEDDING_DIM + 1))
    return f"""
WITH scaled AS (
  SELECT label, embedding, 127.0 / {m} AS s FROM embeddings),
per_vec AS (
  SELECT label,
         CAST(({chain}) / {EMBEDDING_DIM} AS DECIMAL(38,20)) AS mse,
         greatest({maxe}) AS maxerr
  FROM scaled)
SELECT label, count(*) AS n_vecs,
       round(CAST(sum(mse) AS DOUBLE) / count(*), 9) AS avg_mse,
       round(max(maxerr), 9) AS max_abs_err
FROM per_vec
GROUP BY label
ORDER BY label
"""


EMBEDDING_QUANTIZE_SQL = _duck_quant_sql()


# --- bigram language-model counts -------------------------------------------

BIGRAM_TOP = 10


def bigram_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-10 bigrams per language with document frequency — the n-gram LM
    count primitive (quality filters and decontamination both consume these).
    Explode is bounded per doc by its token count; the count aggregation
    shuffles once on (lang, bigram); the rank window runs per-language over
    only each language's counted bigrams. The explode and partial count
    run on a scan spread per ``tables.input_sized_width``."""
    docs = load_table(spark, sf_dir, "documents", spread_bytes=64 << 10)
    # bind the token array once per row (re-splitting inside the lambda
    # would be O(tokens²) in characters); guard single-token docs: Spark's
    # sequence(1, 0) yields a DESCENDING [1, 0] (step auto-negates), not
    # the empty list DuckDB's generate_series produces
    bigrams = F.expr(
        "CASE WHEN size(t) < 2 THEN array() "
        "ELSE transform(sequence(1, size(t) - 1), "
        "i -> concat(element_at(t, i), ' ', element_at(t, i + 1))) END"
    )
    counted = (
        docs.select("lang", "doc_id", F.split("text", " ").alias("t"))
        .select("lang", "doc_id", F.explode(bigrams).alias("bigram"))
        .groupBy("lang", "bigram")
        .agg(
            F.count("*").alias("n_occurrences"),
            F.countDistinct("doc_id").alias("n_docs"),
        )
    )
    w = Window.partitionBy("lang").orderBy(
        F.col("n_occurrences").desc(), F.col("bigram").asc()
    )
    return (
        counted.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= BIGRAM_TOP)
        .select("lang", "rank", "bigram", "n_occurrences", "n_docs")
        .orderBy("lang", "rank")
    )



# --- K-means (Lloyd) over embeddings ----------------------------------------

KMEANS_K = 8
KMEANS_ITERS = 2
DECP = "decimal(38,20)"


def _init_centroids() -> list[list[float]]:
    """Same deterministic unit vectors the IVF coarse quantizer uses
    (seeds 100..107) — k-means here literally refines the ANN cell centers."""
    from nano_vectordb_rs_spark.functions.vector import deterministic_vector

    return [
        deterministic_vector(EMBEDDING_DIM, seed=100 + c) for c in range(KMEANS_K)
    ]


def _assign(
    spark: SparkSession,
    emb: DataFrame,
    cents: list[list[float]],
    keep_embedding: bool = False,
) -> DataFrame:
    """(vec_id, cell, dot) under max-dot-product assignment, cell-ascending
    tie-break — SCAN-LOCAL: zero joins, zero shuffles.

    The iteration-k centroids are DATA (collected to the driver each round),
    so they are embedded as K literal arrays in one projection; each dot is
    an ``aggregate(zip_with(...))`` fold over FIXED-POINT terms:
    ``term = CAST(x*val*1e15 AS BIGINT)`` truncates the IEEE-double product
    to an integer at scale 15, and exact long addition is order-free, so the
    scan-local left fold equals DuckDB's
    ``sum(CAST(trunc(x*val*1e15) AS BIGINT))`` bit-for-bit — the same
    cross-engine determinism the round-4 DECIMAL contraction had, without
    its N×K×dim-row shuffle AND without per-element BigDecimal allocation
    (the interpreted-HOF decimal fold measured ~6× slower than this long
    fold). Both engines truncate toward zero (Spark double→long cast,
    DuckDB ``trunc``), and |term| < 1e16 ⇒ |per-vector sum| < 6.4e17 never
    overflows int64. Tie-break: ``array_position`` returns the FIRST index
    equal to ``array_max``, i.e. the lowest cell — exactly the oracle's
    ``row_number() OVER (ORDER BY dot DESC, cell ASC)``.

    r15 boundary note: the fold is built as ONE SQL string per centroid
    (array_lit + aggregate/zip_with text), not as K×dim ``F.lit`` Column
    objects — each ``F.lit`` is a py4j round-trip, and the old form spent
    ~0.7 s per iteration in the DRIVER constructing the expression tree
    before any job ran (guide §4's JVM↔Python boundary, on the plan-build
    side). The parsed expression is operation-identical: same literals
    (repr round-trip), same cast/multiply order, same bigint fold."""
    from nano_vectordb_rs_spark.functions.vector import array_lit

    def dot_col(vec: list[float]):
        arr = array_lit([float(v) for v in vec])
        return F.expr(
            f"aggregate(zip_with(embedding, {arr}, "
            "(x, y) -> CAST(CAST(x AS DOUBLE) * y * CAST(1E15 AS DOUBLE) AS BIGINT)), "
            "CAST(0 AS BIGINT), (acc, x) -> acc + x)"
        )

    carry = ["embedding"] if keep_embedding else []
    return (
        emb.select(
            "vec_id", *carry, F.array(*[dot_col(vec) for vec in cents]).alias("dots")
        )
        .select(
            "vec_id",
            *carry,
            (F.expr("array_position(dots, array_max(dots))") - 1)
            .cast("int")
            .alias("cell"),
            F.array_max("dots").alias("dot"),
        )
    )


def kmeans_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KMEANS_ITERS rounds of Lloyd's algorithm from deterministic seeds,
    then the final assignment report: per cluster, member count and mean
    best-dot (cohesion). The driver-side loop holds only the K×dim centroid
    matrix (the same Pregel-lite shape as dup_clusters: tiny state across
    declarative rounds); per-dimension means use DECIMAL partial sums and a
    single double division, so the refined centroids — and therefore every
    downstream assignment — are bit-identical to the oracle's unrolled CTE
    chain. Empty clusters keep their previous centroid.

    r15 probe note: the old 3.5 s wall was DRIVER-side expression
    construction (K×dim per-element ``F.lit`` py4j round-trips per
    iteration — see _assign), not executor starvation: at dim=64 the
    per-iteration executor work is ~128k decimal partials, and an
    explicit pre-exchange measured SLOWER (2.3–2.6 s vs 1.8–1.9 s) than
    leaving the single-split scan alone, so none is added."""
    emb = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    cents = _init_centroids()
    for _ in range(KMEANS_ITERS):
        # the embedding rides through the assignment projection, so the
        # centroid update is join-free: one scan per iteration, and the only
        # exchange carries K×dim partial sums (the MLlib-KMeans shape)
        assign = _assign(spark, emb, cents, keep_embedding=True)
        upd = (
            assign.select("cell", F.posexplode("embedding").alias("p0", "x"))
            .groupBy("cell", "p0")
            .agg(
                (
                    F.sum(F.col("x").cast("double").cast(DECP)).cast("double")
                    / F.count("*")
                ).alias("val")
            )
            .collect()
        )
        new_cents = [list(v) for v in cents]
        for r in upd:
            new_cents[r["cell"]][r["p0"]] = r["val"]
        cents = new_cents
    final = _assign(spark, emb, cents)
    return (
        final.groupBy("cell")
        .agg(
            F.count("*").alias("n_vecs"),
            # dot is the ×1e15 fixed-point integer; sum exactly in decimal
            # (cluster sums can pass int64), then one double descale — the
            # oracle applies the identical op sequence
            F.round(
                F.sum(F.col("dot").cast("decimal(38,0)")).cast("double")
                / F.lit(1e15)
                / F.count("*"),
                6,
            ).alias("avg_dot"),
        )
        .select(F.col("cell").alias("cluster_id"), "n_vecs", "avg_dot")
        .orderBy("cluster_id")
    )


def _centroid_values_sql() -> str:
    """The seed centroids as a VALUES list for (cell, pos, val) CTEs."""
    return ",\n    ".join(
        f"({c}, {p + 1}, CAST('{v!r}' AS DOUBLE))"
        for c, vec in enumerate(_init_centroids())
        for p, v in enumerate(vec)
    )


def _assign_cte_sql(cent: str, out: str) -> str:
    """DuckDB twin of ``_assign``: ×1e15 fixed-point integer dots against
    centroid table ``cent``, max-dot cell with ascending tie-break. Shared
    by the k-means oracle (every Lloyd round) and cluster_topic_report
    (seed-centroid assignment)."""
    return f"""{out}_dots AS (
  SELECT e.vec_id, c.cell,
         sum(CAST(trunc(CAST(e.embedding[c.pos] AS DOUBLE) * c.val * 1e15) AS BIGINT)) AS dot
  FROM embeddings e, {cent} c
  GROUP BY e.vec_id, c.cell),
{out} AS (
  SELECT vec_id, cell, dot FROM (
    SELECT *, row_number() OVER (PARTITION BY vec_id
                                 ORDER BY dot DESC, cell ASC) AS rn
    FROM {out}_dots)
  WHERE rn = 1)"""


def _duck_kmeans_sql() -> str:
    values = _centroid_values_sql()
    assign_cte = _assign_cte_sql

    def update_cte(assign: str, prev: str, out: str) -> str:
        return f"""{out}_raw AS (
  SELECT a.cell, p.g AS pos,
         CAST(sum(CAST(CAST(e.embedding[p.g] AS DOUBLE) AS DECIMAL(38,20))) AS DOUBLE)
           / count(*) AS val
  FROM {assign} a JOIN embeddings e USING (vec_id),
       UNNEST(generate_series(1, {EMBEDDING_DIM})) AS p(g)
  GROUP BY a.cell, p.g),
{out} AS (
  SELECT pr.cell, pr.pos, coalesce(r.val, pr.val) AS val
  FROM {prev} pr LEFT JOIN {out}_raw r ON pr.cell = r.cell AND pr.pos = r.pos)"""

    return f"""
WITH c0(cell, pos, val) AS (VALUES
    {values}),
{assign_cte('c0', 'a0')},
{update_cte('a0', 'c0', 'c1')},
{assign_cte('c1', 'a1')},
{update_cte('a1', 'c1', 'c2')},
{assign_cte('c2', 'a2')}
SELECT cell AS cluster_id, count(*) AS n_vecs,
       round(CAST(sum(dot) AS DOUBLE) / 1e15 / count(*), 6) AS avg_dot
FROM a2
GROUP BY cell
ORDER BY cluster_id
"""


KMEANS_EMBEDDINGS_SQL = _duck_kmeans_sql()


BIGRAM_STATS_SQL = f"""
WITH toks AS (
  SELECT lang, doc_id, string_split(text, ' ') AS t FROM documents),
bigrams AS (
  SELECT lang, doc_id, t[i.g] || ' ' || t[i.g + 1] AS bigram
  FROM toks, UNNEST(generate_series(1, len(t) - 1)) AS i(g)),
counted AS (
  SELECT lang, bigram, count(*) AS n_occurrences,
         count(DISTINCT doc_id) AS n_docs
  FROM bigrams GROUP BY lang, bigram)
SELECT lang, rank, bigram, n_occurrences, n_docs
FROM (
  SELECT *, row_number() OVER (PARTITION BY lang
                               ORDER BY n_occurrences DESC, bigram ASC) AS rank
  FROM counted)
WHERE rank <= {BIGRAM_TOP}
ORDER BY lang, rank
"""


# --- embedding-cluster topic report ------------------------------------------

TOPIC_TOP_TERMS = 5
TOPIC_STOPWORDS = ("the", "a")


def cluster_topic_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The clustering→inspection composition every corpus-curation pipeline
    runs: assign each embedding to its nearest seed centroid (the
    deterministic IVF/k-means cells), join the assignment back to the
    documents table on the shared id space, and summarize each cluster by
    size, language spread, and its most frequent content terms — the
    human-readable "what IS this cluster" report.

    Plan: the assignment is the scan-local fixed-point projection
    (pipeline._assign — zero joins/shuffles); the doc join hash-shuffles
    both sides on the id once; term counting is one (cell, tok) shuffle; the
    per-cell top-K window runs over K cells. Top-term strings are built via
    array_sort(struct(rank, tok)) so collect_list's arrival order never
    leaks into the output."""
    emb = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    assign = _assign(spark, emb, _init_centroids()).select("vec_id", "cell")
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "lang", "text")
    # r15: BOTH report branches (the per-cell stats aggregate and the token
    # explode) consume this join, and each reference re-derived the whole
    # assign subtree — the K×dim dot projection over every embedding ran
    # twice, and both base tables were scanned twice (8 scans in the plan).
    # Checkpoint the joined frame once; the branches then read the
    # materialized partitions. Same multi-consumer rationale as the
    # dedup_funnel shingle checkpoint.
    joined = (
        assign.join(docs, assign.vec_id == docs.doc_id)
        .select("cell", "doc_id", "lang", "text")
        .localCheckpoint()
    )
    stats = joined.groupBy("cell").agg(
        F.count("*").alias("n_docs"),
        F.countDistinct("lang").alias("n_langs"),
    )
    toks = (
        joined.select("cell", F.explode(F.split("text", " ")).alias("tok"))
        .filter(~F.col("tok").isin(*TOPIC_STOPWORDS))
        .groupBy("cell", "tok")
        .agg(F.count("*").alias("n"))
    )
    w = Window.partitionBy("cell").orderBy(F.col("n").desc(), F.col("tok").asc())
    top = (
        toks.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= TOPIC_TOP_TERMS)
        .groupBy("cell")
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("rk", "tok"))),
                    lambda s: s["tok"],
                ),
                "|",
            ).alias("top_terms")
        )
    )
    return (
        stats.join(top, "cell")
        .select(F.col("cell").alias("cluster_id"), "n_docs", "n_langs", "top_terms")
        .orderBy("cluster_id")
    )


def _duck_topic_sql() -> str:
    stops = ", ".join(f"'{s}'" for s in TOPIC_STOPWORDS)
    return f"""
WITH c0(cell, pos, val) AS (VALUES
    {_centroid_values_sql()}),
{_assign_cte_sql('c0', 'a0')},
joined AS (
  SELECT a0.cell, d.doc_id, d.lang, d.text
  FROM a0 JOIN documents d ON a0.vec_id = d.doc_id),
stats AS (
  SELECT cell, count(*) AS n_docs, count(DISTINCT lang) AS n_langs
  FROM joined GROUP BY cell),
counts AS (
  SELECT cell, tok, count(*) AS n
  FROM (SELECT cell, unnest(string_split(text, ' ')) AS tok FROM joined)
  WHERE tok NOT IN ({stops})
  GROUP BY cell, tok),
top AS (
  SELECT cell, string_agg(tok, '|' ORDER BY rk) AS top_terms
  FROM (
    SELECT cell, tok, row_number() OVER (PARTITION BY cell
                                         ORDER BY n DESC, tok ASC) AS rk
    FROM counts)
  WHERE rk <= {TOPIC_TOP_TERMS}
  GROUP BY cell)
SELECT s.cell AS cluster_id, s.n_docs, s.n_langs, t.top_terms
FROM stats s JOIN top t ON s.cell = t.cell
ORDER BY cluster_id
"""


CLUSTER_TOPIC_SQL = _duck_topic_sql()


# --- dominant principal component (power iteration) --------------------------

PCA_ITERS = 2
PCA_SEED = 7


def _pca_apply(emb: DataFrame, v: list[float]) -> DataFrame:
    """One power-iteration application w = Σ_rows (x·v)·x, engine-exact.

    The iteration-k direction is DATA (collected to the driver), embedded as
    literals: the per-row projection d is the ×1e15 fixed-point integer fold
    (same trick as the k-means assignment — truncation + exact long adds =
    order-free), descaled once per row with the same two ops both engines
    run (CAST(bigint AS DOUBLE) / 1e15). The per-dimension accumulation
    posexplodes the embedding with multiplier d and sums
    CAST(d·x AS DECIMAL(38,20)) — map-side partial aggregation means the
    one exchange carries dim × n_partitions partial rows, never N×dim.

    Built as one SQL string, not per-element ``F.lit`` Columns — the
    k-means assignment's r15 py4j-boundary fix (see _assign)."""
    from nano_vectordb_rs_spark.functions.vector import array_lit

    d_int = F.expr(
        f"aggregate(zip_with(embedding, {array_lit([float(x) for x in v])}, "
        "(x, y) -> CAST(CAST(x AS DOUBLE) * y * CAST(1E15 AS DOUBLE) AS BIGINT)), "
        "CAST(0 AS BIGINT), (acc, x) -> acc + x)"
    )
    d_dbl = (d_int.cast("double") / F.lit(1e15)).alias("d")
    return (
        emb.select(d_dbl, "embedding")
        .select("d", F.posexplode("embedding").alias("pos", "x"))
        .groupBy("pos")
        .agg(
            F.sum((F.col("d") * F.col("x").cast("double")).cast(DECP)).alias("w")
        )
    )


def _pca_normalize(w_by_pos: dict[int, float]) -> list[float]:
    """Driver-side renormalization of the 64 accumulated w values — twin of
    the oracle's decimal-norm CTE: norm² = Σ decimal(w·w), one double sqrt,
    one division per coordinate. The heavy sums are decimal-exact in both
    engines; the renormalization itself passes through double division, so
    the directions can differ in the last ulps — which is why every output
    column rounds at 6 decimals (the same tolerance discipline the rest of
    the float surface uses), not why they would be wrong."""
    from decimal import Decimal

    n2 = sum(Decimal(repr(w * w)) for w in w_by_pos.values())
    norm = float(n2) ** 0.5
    return [w_by_pos[p] / norm for p in sorted(w_by_pos)]


def embedding_top_component(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dominant principal direction of the (uncentered) embedding cloud via
    power iteration — the spectral primitive under PCA whitening, spectral
    dedup and outlier scoring. PCA_ITERS rounds of w = Σ (x·v)x from a
    deterministic seed direction, renormalized each round; output: per
    label, member count and mean projection onto the final component —
    plus the component's leading coordinate so sign/direction is pinned.

    Same Pregel-lite shape as kmeans_embeddings: tiny state (one dim-length
    vector) collected per round, every heavy stage a declarative scan with
    map-side-combined aggregation, and the DuckDB oracle unrolls the same
    rounds as chained CTEs with identical fixed-point/decimal arithmetic,
    so the driver hash-checks an iterative spectral algorithm end-to-end.

    Determinism chain per round: fixed-point projection fold (order-free
    exact) → bigint→double descale → double multiply → DECIMAL(38,20)
    order-free sums → decimal norm² → one double sqrt+divide. The two
    double steps are the only cross-engine wiggle (last-ulp), absorbed by
    the round(…, 6) on every output — the same tolerance discipline the
    rest of the float surface uses.

    r15: the projection folds are built as one SQL string per round (the
    k-means _assign py4j-boundary fix) — the old per-element ``F.lit``
    construction dominated this query's wall; no pre-exchange is added
    (measured slower at dim=64, see kmeans_embeddings)."""
    from nano_vectordb_rs_spark.functions.vector import deterministic_vector

    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", "label", "embedding"
    )
    v = deterministic_vector(EMBEDDING_DIM, seed=PCA_SEED)
    for _ in range(PCA_ITERS):
        rows = _pca_apply(emb, v).collect()
        # decimal -> float via str() matches the oracle's CAST(dec AS DOUBLE)
        w = {r["pos"]: float(r["w"]) for r in rows}
        if not w or all(x == 0.0 for x in w.values()):
            # empty or fully-degenerate cloud: power iteration has no
            # signal — keep the current direction (the output frame is
            # empty/zero anyway) instead of dividing by a zero norm
            break
        v = _pca_normalize(w)
    from nano_vectordb_rs_spark.functions.vector import array_lit

    proj = (
        F.expr(
            f"aggregate(zip_with(embedding, {array_lit([float(x) for x in v])}, "
            "(x, y) -> CAST(CAST(x AS DOUBLE) * y * CAST(1E15 AS DOUBLE) AS BIGINT)), "
            "CAST(0 AS BIGINT), (acc, x) -> acc + x)"
        ).cast("double")
        / F.lit(1e15)
    )
    lead = F.lit(round(v[0], 6))
    return (
        emb.select("label", proj.alias("p"))
        .groupBy("label")
        .agg(
            F.count("*").alias("n_vecs"),
            F.round(
                F.sum(F.col("p").cast(DECP)).cast("double") / F.count("*"), 6
            ).alias("mean_proj"),
            F.round(
                F.max(F.abs(F.col("p").cast(DECP)).cast("double")), 6
            ).alias("max_abs_proj"),
        )
        .withColumn("component_lead", lead)
        .orderBy("label")
    )


def _duck_pca_sql() -> str:
    from nano_vectordb_rs_spark.functions.vector import deterministic_vector

    v0 = deterministic_vector(EMBEDDING_DIM, seed=PCA_SEED)
    values = ",\n    ".join(
        f"({p + 1}, CAST('{x!r}' AS DOUBLE))" for p, x in enumerate(v0)
    )

    def apply_cte(vin: str, out: str) -> str:
        # d: fixed-point projection per row; w: decimal per-dimension sums;
        # norm: decimal sum of squares; vout: renormalized direction
        return f"""{out}_d AS (
  SELECT e.vec_id,
         CAST(sum(CAST(trunc(CAST(e.embedding[v.pos] AS DOUBLE) * v.val * 1e15) AS BIGINT)) AS DOUBLE) / 1e15 AS d
  FROM embeddings e, {vin} v
  GROUP BY e.vec_id),
{out}_w AS (
  SELECT p.g AS pos,
         CAST(sum(CAST(dd.d * CAST(e.embedding[p.g] AS DOUBLE) AS DECIMAL(38,20))) AS DOUBLE) AS w
  FROM {out}_d dd JOIN embeddings e USING (vec_id),
       UNNEST(generate_series(1, {EMBEDDING_DIM})) AS p(g)
  GROUP BY p.g),
{out}_n AS (
  SELECT sqrt(CAST(sum(CAST(w * w AS DECIMAL(38,20))) AS DOUBLE)) AS nrm
  FROM {out}_w),
{out} AS (
  SELECT pos, w / (SELECT nrm FROM {out}_n) AS val FROM {out}_w)"""

    chain = ",\n".join(
        apply_cte(f"v{i}", f"v{i + 1}") for i in range(PCA_ITERS)
    )
    return f"""
WITH v0(pos, val) AS (VALUES
    {values}),
{chain},
final_d AS (
  SELECT e.vec_id, e.label,
         CAST(sum(CAST(trunc(CAST(e.embedding[v.pos] AS DOUBLE) * v.val * 1e15) AS BIGINT)) AS DOUBLE) / 1e15 AS p
  FROM embeddings e, v{PCA_ITERS} v
  GROUP BY e.vec_id, e.label)
SELECT label, count(*) AS n_vecs,
       round(CAST(sum(CAST(p AS DECIMAL(38,20))) AS DOUBLE) / count(*), 6) AS mean_proj,
       round(max(CAST(abs(CAST(p AS DECIMAL(38,20))) AS DOUBLE)), 6) AS max_abs_proj,
       (SELECT round(val, 6) FROM v{PCA_ITERS} WHERE pos = 1) AS component_lead
FROM final_d
GROUP BY label
ORDER BY label
"""


EMBEDDING_TOP_COMPONENT_SQL = _duck_pca_sql()


# --- training shard manifest -------------------------------------------------

N_SHARDS = 16


def train_shard_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic shard assignment for training-data export — the
    "global shuffle" step that materializes a corpus as N fixed shards
    (WebDataset/TFRecord style): shard = md5(doc_id) mod N, so assignment
    is reproducible across runs, engines, and partitionings with no RNG
    seed handshake, and any subset of machines can materialize any subset
    of shards independently. Output: the manifest a trainer consumes —
    per shard, doc/token/byte counts plus the doc_id span — which also
    serves as the balance check (hash sharding ⇒ near-uniform shards).

    Scale shape: the assignment is a scan-local projection; the manifest
    is ONE N-row aggregation. The actual data movement at export time is
    a write partitioned by shard — Spark shuffles once on the shard key,
    exactly the plan this manifest predicts."""
    docs = load_table(spark, sf_dir, "documents")
    shard = F.expr(
        f"CAST(conv(substring(md5(CAST(doc_id AS STRING)), 1, 8), 16, 10) AS BIGINT) % {N_SHARDS}"
    )
    return (
        docs.select(
            shard.alias("shard"),
            "doc_id",
            F.size(F.split("text", " ")).alias("tok"),
            "n_chars",
        )
        .groupBy("shard")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("tok").alias("n_tokens"),
            F.sum("n_chars").alias("n_bytes"),
            F.min("doc_id").alias("min_doc"),
            F.max("doc_id").alias("max_doc"),
        )
        .orderBy("shard")
    )


TRAIN_SHARD_MANIFEST_SQL = f"""
SELECT CAST(CAST('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 8) AS BIGINT) % {N_SHARDS} AS BIGINT) AS shard,
       count(*) AS n_docs,
       CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS n_tokens,
       CAST(sum(n_chars) AS BIGINT) AS n_bytes,
       min(doc_id) AS min_doc,
       max(doc_id) AS max_doc
FROM documents
GROUP BY 1
ORDER BY shard
"""


# --- vocabulary coverage -----------------------------------------------------

VOCAB_TOP_K = 10


def vocab_coverage_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer-vocabulary sizing: build the top-K whole-word vocabulary by
    corpus frequency and report, per language, what fraction of token
    OCCURRENCES the shared top-K vocab covers — the curve a tokenizer team
    reads before fixing a vocab size (coverage of the head vs the long
    tail of out-of-vocab tokens).

    Plan (r15): ONE exploded-token count shuffle — the (lang, tok) counts
    are checkpointed (vocabulary-sized, bounded) and every other frame
    derives from them: the global vocab counts are their tok-keyed sums
    (identical values — per-lang counts partition the global count), the
    top-K cut is a K-row broadcast, and coverage/totals are #lang
    aggregates. The old frame re-derived the corpus explode THREE times
    (vocab branch + per_lang × its two consumers; guide §2.4); the corpus
    never shuffles on anything wider than (lang, token) in either form."""
    from pyspark.sql.window import Window

    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select("lang", F.explode(F.split("text", " ")).alias("tok"))
    per_lang = (
        toks.groupBy("lang", "tok")
        .agg(F.count("*").alias("n"))
        .localCheckpoint(eager=False)
    )
    vocab = (
        per_lang.groupBy("tok")
        .agg(F.sum("n").alias("c"))
        .withColumn(
            "rk",
            F.row_number().over(
                Window.orderBy(F.col("c").desc(), F.col("tok").asc())
            ),
        )
        .filter(F.col("rk") <= VOCAB_TOP_K)
        .select("tok")
    )
    covered = per_lang.join(F.broadcast(vocab), "tok", "left_semi").groupBy(
        "lang"
    ).agg(F.sum("n").alias("n_covered"))
    totals = per_lang.groupBy("lang").agg(
        F.sum("n").alias("n_total"),
        F.count("*").alias("n_distinct_toks"),
    )
    # LEFT join + coalesce(0): a language whose tokens never reach the
    # top-K vocab must surface with coverage 0.0 — the worst-covered
    # languages are exactly what this report exists to expose
    return (
        totals.join(covered, "lang", "left")
        .select(
            "lang",
            "n_total",
            "n_distinct_toks",
            F.coalesce("n_covered", F.lit(0)).alias("n_covered"),
            F.round(
                F.coalesce("n_covered", F.lit(0)) / F.col("n_total"), 6
            ).alias("coverage"),
        )
        .orderBy("lang")
    )


VOCAB_COVERAGE_SQL = f"""
WITH toks AS (
  SELECT lang, unnest(string_split(text, ' ')) AS tok FROM documents),
vocab AS (
  SELECT tok FROM (
    SELECT tok, row_number() OVER (ORDER BY count(*) DESC, tok ASC) AS rk
    FROM toks GROUP BY tok)
  WHERE rk <= {VOCAB_TOP_K}),
per_lang AS (
  SELECT lang, tok, count(*) AS n FROM toks GROUP BY lang, tok),
covered AS (
  SELECT lang, CAST(sum(n) AS BIGINT) AS n_covered
  FROM per_lang WHERE tok IN (SELECT tok FROM vocab)
  GROUP BY lang),
totals AS (
  SELECT lang, CAST(sum(n) AS BIGINT) AS n_total,
         count(*) AS n_distinct_toks
  FROM per_lang GROUP BY lang)
SELECT t.lang, t.n_total, t.n_distinct_toks,
       CAST(coalesce(c.n_covered, 0) AS BIGINT) AS n_covered,
       round(coalesce(c.n_covered, 0) / CAST(t.n_total AS DOUBLE), 6) AS coverage
FROM totals t LEFT JOIN covered c ON t.lang = c.lang
ORDER BY t.lang
"""


# --- per-column data-quality profile ----------------------------------------

# column -> formatting class for the min/max strings; DECIMAL(18,2) for
# doubles so both engines print the identical fixed-point literal
_PROFILE_COLS: list[tuple[str, str]] = [
    ("l_orderkey", "int"),
    ("l_quantity", "num"),
    ("l_extendedprice", "num"),
    ("l_discount", "num"),
    ("l_tax", "num"),
    ("l_returnflag", "str"),
    ("l_shipdate", "date"),
]


def _profile_minmax(col: str, kind: str, agg) -> "F.Column":
    c = agg(F.col(col))
    if kind == "num":
        return c.cast("decimal(18,2)").cast("string")
    if kind == "date":
        return agg(F.to_date(F.col(col))).cast("string")
    return c.cast("string")


def table_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-column data-quality profile of lineitem — row count, null count,
    exact distinct count, and formatted min/max per column — the ANALYZE /
    data-contract check every ingestion pipeline runs before training.

    TWO scans compute every column's stats (vs the textbook
    one-SELECT-per-column oracle below which scans 7x); the per-column
    report rows come from an explode over a literal struct array (a
    driver-free unpivot — no union of scans).

    The split is deliberate plan surgery, not style: putting ``min(string
    col)`` in the same aggregate as the multi-column count(DISTINCT)
    rewrite poisons it — string/variable-width aggregation BUFFERS are
    immutable, so Spark demotes the whole Expand plan to SortAggregate
    (three |cols|x-row sorts on an 8-column key; measured 11.6 s at sf0.1).
    Separated, the distinct aggregate keeps HashAggregate (values are
    GROUP KEYS in the Expand rewrite — strings are fine there) and the
    min/max pass is a keyless single-pass fold (no sort requirement);
    the two 1-row results recombine with a free cross join (0.9 s total).

    Scale shape: the exact multi-distinct is one Expand (|cols| rows per
    input row) + two-phase hash aggregate. At 100 TB swap
    ``F.countDistinct`` for ``F.approx_count_distinct`` (mergeable HLL
    sketch, collapses the Expand) and keep the rest of the plan unchanged;
    exact is kept here because the oracle compares values."""
    li = load_table(spark, sf_dir, "lineitem")
    # r15: the fixture is single-row-group parquet → a 1-task scan, and the
    # Expand (|cols|+… rows per input row) + partial distinct-aggregate ran
    # entirely inside that one task (probe: 3.0 s, the whole query's cost).
    # One orderkey-keyed exchange of JUST the profiled columns spreads the
    # Expand across the cluster's cores; the distinct groups still combine
    # map-side so the agg exchange is unchanged. Distinct counts are
    # partition-order-free by definition. The min/max single-pass fold below
    # stays on the raw scan — it is a cheap keyless fold with no Expand.
    nd_row = (
        li.select(*[c for c, _ in _PROFILE_COLS])
        .repartition(spark.sparkContext.defaultParallelism, "l_orderkey")
        .agg(*[F.countDistinct(c).alias(f"nd_{c}") for c, _ in _PROFILE_COLS])
    )
    aggs = [F.count(F.lit(1)).alias("n_rows")]
    for c, kind in _PROFILE_COLS:
        aggs += [
            F.count(c).alias(f"nn_{c}"),
            _profile_minmax(c, kind, F.min).alias(f"mn_{c}"),
            _profile_minmax(c, kind, F.max).alias(f"mx_{c}"),
        ]
    row = li.agg(*aggs).crossJoin(nd_row)
    structs = [
        F.struct(
            F.lit(c).alias("col_name"),
            F.col("n_rows").alias("n_rows"),
            (F.col("n_rows") - F.col(f"nn_{c}")).alias("n_nulls"),
            F.col(f"nd_{c}").alias("n_distinct"),
            F.col(f"mn_{c}").alias("min_str"),
            F.col(f"mx_{c}").alias("max_str"),
        )
        for c, _ in _PROFILE_COLS
    ]
    return (
        row.select(F.explode(F.array(*structs)).alias("p"))
        .select("p.*")
        .orderBy("col_name")
    )


def _profile_select_sql(col: str, kind: str) -> str:
    if kind == "num":
        mn = f"CAST(CAST(min({col}) AS DECIMAL(18,2)) AS VARCHAR)"
        mx = f"CAST(CAST(max({col}) AS DECIMAL(18,2)) AS VARCHAR)"
    elif kind == "date":
        mn = f"CAST(min(CAST({col} AS DATE)) AS VARCHAR)"
        mx = f"CAST(max(CAST({col} AS DATE)) AS VARCHAR)"
    else:
        mn = f"CAST(min({col}) AS VARCHAR)"
        mx = f"CAST(max({col}) AS VARCHAR)"
    return (
        f"SELECT '{col}' AS col_name, count(*) AS n_rows,"
        f" count(*) - count({col}) AS n_nulls,"
        f" count(DISTINCT {col}) AS n_distinct,"
        f" {mn} AS min_str, {mx} AS max_str FROM lineitem"
    )


TABLE_PROFILE_SQL = (
    "SELECT * FROM ("
    + " UNION ALL ".join(_profile_select_sql(c, k) for c, k in _PROFILE_COLS)
    + ") ORDER BY col_name"
)


# --- small-file compaction planning ------------------------------------------

COMPACT_TARGET_BYTES = 65536  # target output-file size for the plan
DAY_US = 86_400_000_000
# estimated serialized row width: fixed-width cols + struct overhead; the
# variable part is the two strings. An ESTIMATE is the right contract — real
# compaction planners (Delta OPTIMIZE, Iceberg rewrite) bin-pack on file
# statistics, not exact encoded bytes, and the plan only needs proportionality
_ROW_OVERHEAD = 48


def compaction_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Small-file compaction plan for the day-partitioned events log:
    bin-pack consecutive day partitions into target-size output files and
    report each planned file's day range, row count, and estimated bytes.

    The 100-TB problem this solves: streaming ingest writes one (or more)
    small file per day per executor; a year of that is thousands of
    sub-target files whose open/footer overhead dominates scan time. The
    standard fix (Delta OPTIMIZE / Iceberg bin-packing) assigns partitions
    to output files by cumulative size — exactly what this plan computes,
    as data: ``file_id = cumulative_bytes_before DIV target``.

    Plan shape: the per-day sizes come from ONE partial+final aggregate
    over the fact table (map-side combine ships one row per day per
    executor). The running sum then runs over the per-DAY frame — ~365
    rows/year, bounded by the calendar, not the data — so the
    single-partition window the plan audit bans elsewhere is safe here by
    construction (comment the same contract as ivf_cell_health). Exclusive
    cumsum keeps the first day of every file aligned to the bin boundary;
    all arithmetic is integer-exact in both engines."""
    from nano_vectordb_rs_spark.operators.events import _events

    ev = _events(spark, sf_dir)
    per_day = (
        ev.select(
            F.expr(f"ts_us div {DAY_US}").alias("day"),
            (
                F.lit(_ROW_OVERHEAD)
                + F.length("event_type")
                + F.length(F.coalesce(F.col("props"), F.lit("")))
            ).cast("bigint").alias("row_bytes"),
        )
        .groupBy("day")
        .agg(F.count("*").alias("n_rows"), F.sum("row_bytes").alias("day_bytes"))
    )
    # exclusive running sum over the bounded per-day frame (see docstring)
    w = Window.orderBy("day").rowsBetween(Window.unboundedPreceding, -1)
    cum_before = F.coalesce(F.sum("day_bytes").over(w), F.lit(0).cast("bigint"))
    planned = per_day.withColumn("cum_before", cum_before).withColumn(
        "file_id", F.expr(f"cum_before div {COMPACT_TARGET_BYTES}")
    )
    return (
        planned.groupBy("file_id")
        .agg(
            F.count("*").alias("n_days"),
            F.min("day").alias("day_min"),
            F.max("day").alias("day_max"),
            F.sum("n_rows").alias("n_rows"),
            F.sum("day_bytes").alias("est_bytes"),
        )
        .orderBy("file_id")
    )


COMPACTION_PLAN_SQL = f"""
WITH per_day AS (
  SELECT epoch_us(ts) // {DAY_US} AS day,
         count(*) AS n_rows,
         sum({_ROW_OVERHEAD} + len(event_type) + len(coalesce(props, '')))
           AS day_bytes
  FROM events GROUP BY 1),
planned AS (
  SELECT day, n_rows, day_bytes,
         coalesce(sum(day_bytes) OVER (ORDER BY day
             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
           // {COMPACT_TARGET_BYTES} AS file_id
  FROM per_day)
SELECT CAST(file_id AS BIGINT) AS file_id,
       count(*) AS n_days,
       min(day) AS day_min,
       max(day) AS day_max,
       CAST(sum(n_rows) AS BIGINT) AS n_rows,
       CAST(sum(day_bytes) AS BIGINT) AS est_bytes
FROM planned
GROUP BY file_id
ORDER BY file_id
"""
