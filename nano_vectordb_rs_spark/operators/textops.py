"""Text analysis over the documents table — language-ID, quality scoring,
token counting, fingerprinting (north-star LLM-pipeline surface; the
reference has no string functions at all, SURVEY.md §2.3).

All hot-path expressions are built-in JVM functions (split/length/replace/
regexp_extract_all/md5) — no Python UDFs; at 100 TB these are scan-local
projections followed by a small-keyed aggregation, i.e. embarrassingly
parallel with a tiny shuffle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from nano_vectordb_rs_spark.functions.text import (
    LANG_MARKERS,
    lang_score,
    occurrences,
    predicted_lang_case,
)
from nano_vectordb_rs_spark.operators.relational import DEC
from nano_vectordb_rs_spark.sources.tables import _table_size, load_table


# --- token counting ---------------------------------------------------------


def token_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Whitespace token count + BPE-ish subword count (greedy ≤4-char chunks
    via regexp) per source — the budget-estimation primitive for training
    pipelines."""
    docs = load_table(spark, sf_dir, "documents")
    toks = F.size(F.split("text", " "))
    subwords = F.size(F.expr("regexp_extract_all(text, '[a-z]{1,4}', 0)"))
    return (
        docs.select("source", toks.alias("t"), subwords.alias("s"), "n_chars")
        .groupBy("source")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("t").alias("n_tokens"),
            F.sum("s").alias("n_subwords"),
            F.sum("n_chars").alias("n_chars"),
            F.max("t").alias("max_tokens"),
        )
        .orderBy("source")
    )


TOKEN_COUNTS_SQL = """
SELECT source, count(*) AS n_docs,
       CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS n_tokens,
       CAST(sum(len(regexp_extract_all(text, '[a-z]{1,4}'))) AS BIGINT) AS n_subwords,
       CAST(sum(n_chars) AS BIGINT) AS n_chars,
       max(len(string_split(text, ' '))) AS max_tokens
FROM documents
GROUP BY source
ORDER BY source
"""


# --- language identification ------------------------------------------------


def lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """N-gram-marker language ID: per-language marker-occurrence scores →
    argmax with deterministic tie-break → confusion counts vs the labeled
    ``lang`` column. (Heuristic, deliberately cheap: three substring counts
    per language, all scan-local.) The scan is spread per
    ``tables.input_sized_width``."""
    docs = load_table(spark, sf_dir, "documents", spread_bytes=64 << 10)
    scored = docs.select(
        "lang",
        *[
            F.expr(lang_score("text", lang)).alias(f"score_{lang}")
            for lang in sorted(LANG_MARKERS)
        ],
    )
    pred = scored.withColumn("predicted_lang", F.expr(predicted_lang_case()))
    return (
        pred.groupBy("lang", "predicted_lang")
        .agg(F.count("*").alias("n_docs"))
        .orderBy("lang", "predicted_lang")
    )


def _duck_lang_scores() -> str:
    cols = ", ".join(
        f"{lang_score('text', lang)} AS score_{lang}" for lang in sorted(LANG_MARKERS)
    )
    return f"SELECT lang, {cols} FROM documents"


LANG_ID_SQL = f"""
SELECT lang, predicted_lang, count(*) AS n_docs
FROM (
  SELECT lang, {predicted_lang_case()} AS predicted_lang
  FROM ({_duck_lang_scores()})
)
GROUP BY lang, predicted_lang
ORDER BY lang, predicted_lang
"""


# --- quality scoring --------------------------------------------------------


def quality_col():
    """Per-document quality score Column (deterministic heuristic: token
    count, mean word length, stopword ratio → [0,1]-ish, rounded 6).
    Factored out so keeper-selection dedup (operators/dedup.py
    dedup_keep_best) scores with the exact same chain the hash-green
    quality_scores query pins against DuckDB."""
    n_tok = F.size(F.split("text", " "))
    n_stop = F.expr(occurrences("concat(' ', text, ' ')", " the ")) + F.expr(
        occurrences("concat(' ', text, ' ')", " a ")
    )
    mean_wlen = (F.col("n_chars") - (n_tok - F.lit(1))) / n_tok
    stop_ratio = n_stop / n_tok
    length_term = F.least(n_tok / F.lit(100.0), F.lit(1.0))
    return F.round(
        F.lit(0.5) * length_term
        + F.lit(0.3) * (F.lit(1.0) - stop_ratio)
        + F.lit(0.2) * F.least(mean_wlen / F.lit(6.0), F.lit(1.0)),
        6,
    )


def quality_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic doc-quality heuristic: token count, mean word length,
    stopword ratio → a [0,1]-ish score; aggregated per (lang, source-bucket).

    Every intermediate is integer or a per-row double op, the aggregate goes
    through DECIMAL — hash-stable at any parallelism, so the scan is
    spread per ``tables.input_sized_width``."""
    docs = load_table(spark, sf_dir, "documents", spread_bytes=64 << 10)
    return (
        docs.select("lang", quality_col().alias("q"))
        .groupBy("lang")
        .agg(
            F.count("*").alias("n_docs"),
            F.round(F.sum(F.col("q").cast(DEC)).cast("double"), 4).alias("sum_quality"),
            F.min("q").alias("min_quality"),
            F.max("q").alias("max_quality"),
        )
        .orderBy("lang")
    )


_PADDED = "concat(' ', text, ' ')"
_STOPS = f"({occurrences(_PADDED, ' the ')} + {occurrences(_PADDED, ' a ')})"

_DUCK_QUALITY_ROW = """
  SELECT lang,
         round(0.5 * least(len(string_split(text, ' ')) / 100.0, 1.0)
             + 0.3 * (1.0 - CAST({stops} AS DOUBLE) / len(string_split(text, ' ')))
             + 0.2 * least(((n_chars - (len(string_split(text, ' ')) - 1)) / CAST(len(string_split(text, ' ')) AS DOUBLE)) / 6.0, 1.0), 6) AS q
  FROM documents
""".format(stops=_STOPS)

# doc-granularity twin of _DUCK_QUALITY_ROW (keeps doc_id/n_chars) for
# composition into keeper-selection dedup
DUCK_QUALITY_DOC_ROW = """
  SELECT doc_id, lang, n_chars,
         round(0.5 * least(len(string_split(text, ' ')) / 100.0, 1.0)
             + 0.3 * (1.0 - CAST({stops} AS DOUBLE) / len(string_split(text, ' ')))
             + 0.2 * least(((n_chars - (len(string_split(text, ' ')) - 1)) / CAST(len(string_split(text, ' ')) AS DOUBLE)) / 6.0, 1.0), 6) AS q
  FROM documents
""".format(stops=_STOPS)

QUALITY_SCORES_SQL = f"""
SELECT lang, count(*) AS n_docs,
       round(CAST(sum(CAST(q AS DECIMAL(28,10))) AS DOUBLE), 4) AS sum_quality,
       min(q) AS min_quality, max(q) AS max_quality
FROM ({_DUCK_QUALITY_ROW})
GROUP BY lang
ORDER BY lang
"""


# --- fingerprinting ---------------------------------------------------------

# min-4-word-shingle fingerprint over a pre-bound token array column ``w``
# (winnowing-lite); shared by doc_fingerprints and the keeper-selection dedup
# grouping (operators/dedup.py dedup_keep_best)
SHINGLE_FP_EXPR = (
    "substring(array_min(transform(sequence(1, greatest(size(w) - 3, 1)), "
    "i -> md5(concat_ws(' ', element_at(w, i), element_at(w, i + 1), "
    "element_at(w, i + 2), element_at(w, i + 3))))), 1, 16)"
)

# the DuckDB twin (token array bound as ``w``)
DUCK_SHINGLE_FP_EXPR = (
    "substring(list_min(list_transform(range(1, greatest(len(w) - 3, 1) + 1), "
    "i -> md5(concat_ws(' ', w[i], w[i + 1], w[i + 2], w[i + 3])))), 1, 16)"
)


def doc_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling 4-word-shingle fingerprint (winnowing-lite): the minimum md5
    over a doc's shingles is its fingerprint; report per-source distinct
    fingerprints + a deterministic sample of fingerprint prefixes. The
    per-shingle md5 chain runs on a scan spread per
    ``tables.input_sized_width``."""
    docs = load_table(spark, sf_dir, "documents", spread_bytes=64 << 10)
    # bind split() ONCE as a column: Catalyst cannot CSE a subexpression into
    # a lambda body, so inlining split(text) there would re-tokenize the whole
    # document for every shingle term — O(words²) instead of O(words)
    tokenized = docs.select("source", F.split("text", " ").alias("w"))
    fp = F.expr(SHINGLE_FP_EXPR)
    return (
        tokenized.select("source", fp.alias("fingerprint"))
        .groupBy("source")
        .agg(
            F.count("*").alias("n_docs"),
            F.countDistinct("fingerprint").alias("n_distinct_fp"),
            F.min("fingerprint").alias("min_fp"),
        )
        .orderBy("source")
    )


DOC_FINGERPRINTS_SQL = """
WITH words AS (
  SELECT doc_id, source, string_split(text, ' ') AS w FROM documents),
shingled AS (
  SELECT doc_id, source,
         min(md5(w[i.g] || ' ' || w[i.g + 1] || ' ' || w[i.g + 2] || ' ' || w[i.g + 3])) AS full_fp
  FROM words, UNNEST(generate_series(1, greatest(len(w) - 3, 1))) AS i(g)
  GROUP BY doc_id, source),
fps AS (
  SELECT source, substring(full_fp, 1, 16) AS fingerprint FROM shingled)
SELECT source, count(*) AS n_docs,
       count(DISTINCT fingerprint) AS n_distinct_fp,
       min(fingerprint) AS min_fp
FROM fps
GROUP BY source
ORDER BY source
"""


# --- deterministic train/valid/test split -------------------------------------

SPLIT_TRAIN_PCT, SPLIT_VALID_PCT = 80, 10  # remainder = test


def docs_split_assignment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reproducible 80/10/10 train/valid/test split by content-independent id
    hashing — the pattern a training pipeline needs so the split is stable
    across reruns, engines and partitionings (no rand(), no row_number over
    arbitrary order). bucket = first 32 md5 bits of the doc id, mod 100;
    both Spark and DuckDB compute the identical bucket, so the assignment
    itself is oracle-checked, not just the counts."""
    docs = load_table(spark, sf_dir, "documents")
    bucket = (
        F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 8), 16, 10)
        .cast("bigint") % 100
    )
    split = (
        F.when(bucket < SPLIT_TRAIN_PCT, "train")
        .when(bucket < SPLIT_TRAIN_PCT + SPLIT_VALID_PCT, "valid")
        .otherwise("test")
    )
    return (
        docs.select(split.alias("split"), "lang", "doc_id")
        .groupBy("split", "lang")
        .agg(
            F.count("*").alias("n_docs"),
            F.min("doc_id").alias("min_doc"),
            F.max("doc_id").alias("max_doc"),
            F.sum("doc_id").alias("id_checksum"),
        )
        .orderBy("split", "lang")
    )


DOCS_SPLIT_SQL = f"""
SELECT CASE WHEN bucket < {SPLIT_TRAIN_PCT} THEN 'train'
            WHEN bucket < {SPLIT_TRAIN_PCT + SPLIT_VALID_PCT} THEN 'valid'
            ELSE 'test' END AS split,
       lang, count(*) AS n_docs, min(doc_id) AS min_doc, max(doc_id) AS max_doc,
       CAST(sum(doc_id) AS BIGINT) AS id_checksum
FROM (
  SELECT lang, doc_id,
         CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT) % 100
           AS bucket
  FROM documents)
GROUP BY 1, 2
ORDER BY split, lang
"""


# --- end-to-end corpus budget report ------------------------------------------

BUDGET_QUALITY_MIN = 0.5


def corpus_budget_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The pipeline-composition query: per train/valid/test split, how many
    documents and whitespace tokens survive the quality gate vs get dropped
    — split assignment (md5 bucket), quality scoring and token counting
    fused into ONE declarative plan (single scan, single aggregation
    shuffle), exactly how a 100 TB corpus-curation job should run: no
    intermediate materialization between "stages"."""
    docs = load_table(spark, sf_dir, "documents")
    bucket = (
        F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 8), 16, 10)
        .cast("bigint") % 100
    )
    split = (
        F.when(bucket < SPLIT_TRAIN_PCT, "train")
        .when(bucket < SPLIT_TRAIN_PCT + SPLIT_VALID_PCT, "valid")
        .otherwise("test")
    )
    n_tok = F.size(F.split("text", " "))
    n_stop = F.expr(occurrences("concat(' ', text, ' ')", " the ")) + F.expr(
        occurrences("concat(' ', text, ' ')", " a ")
    )
    mean_wlen = (F.col("n_chars") - (n_tok - F.lit(1))) / n_tok
    score = F.round(
        F.lit(0.5) * F.least(n_tok / F.lit(100.0), F.lit(1.0))
        + F.lit(0.3) * (F.lit(1.0) - n_stop / n_tok)
        + F.lit(0.2) * F.least(mean_wlen / F.lit(6.0), F.lit(1.0)),
        6,
    )
    keep = score >= BUDGET_QUALITY_MIN
    return (
        docs.select(split.alias("split"), n_tok.alias("t"), keep.alias("keep"))
        .groupBy("split")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum(F.when(F.col("keep"), 1).otherwise(0)).alias("n_kept"),
            F.sum(F.when(F.col("keep"), F.col("t")).otherwise(0)).alias("kept_tokens"),
            F.sum(F.when(F.col("keep"), 0).otherwise(F.col("t"))).alias("dropped_tokens"),
        )
        .orderBy("split")
    )


# --- distinctive terms (TF-IDF-shaped, rational arithmetic) -------------------

IDF_TOP_K = 5


def idf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language top-5 distinctive terms: tf(lang, term) × N / df(term) —
    TF-IDF with the log dropped in favor of a pure-rational score, because
    log() is not required to be correctly rounded and the last ulp can
    differ between libm implementations; ratios of integers in doubles are
    bit-identical everywhere.

    Plan (r15): ONE token explode feeds a chained aggregation instead of
    two independent passes (the old tf/dfreq branches each re-derived the
    corpus explode, and dfreq's countDistinct shuffled (tok, doc_id) pairs
    through an Expand). groupBy(lang, tok, doc_id) collapses per-doc
    multiplicity map-side; groupBy(lang, tok) then yields tf AND the
    per-lang doc frequency in one row; the GLOBAL doc frequency is a
    tok-partitioned window sum over that vocabulary-sized frame — valid
    because every doc_id carries exactly one lang (documents is one row
    per doc), so per-lang distinct-doc counts partition the global
    distinct count. No join, no second explode, no Expand; everything
    past the first aggregate is vocabulary-sized (guide §2.3/§2.4)."""
    docs = load_table(spark, sf_dir, "documents")
    from pyspark.sql.window import Window

    toks = docs.select("lang", "doc_id", F.explode(F.split("text", " ")).alias("tok"))
    per_doc = toks.groupBy("lang", "tok", "doc_id").agg(F.count("*").alias("c"))
    tf_df = per_doc.groupBy("lang", "tok").agg(
        F.sum("c").alias("tf"), F.count("*").alias("df_l")
    )
    total = docs.agg(F.count("*").alias("n_docs"))
    scored = (
        tf_df.withColumn("df", F.sum("df_l").over(Window.partitionBy("tok")))
        .join(F.broadcast(total))
        .withColumn(
            "score", F.round(F.col("tf") * F.col("n_docs") / F.col("df").cast("double"), 6)
        )
    )
    w = Window.partitionBy("lang").orderBy(F.col("score").desc(), F.col("tok").asc())
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= IDF_TOP_K)
        .select("lang", "rank", "tok", "tf", "df", "score")
        .orderBy("lang", "rank")
    )


IDF_TOP_TERMS_SQL = f"""
WITH toks AS (
  SELECT lang, doc_id, unnest(string_split(text, ' ')) AS tok FROM documents),
tf AS (SELECT lang, tok, count(*) AS tf FROM toks GROUP BY lang, tok),
dfreq AS (SELECT tok, count(DISTINCT doc_id) AS df FROM toks GROUP BY tok),
total AS (SELECT count(*) AS n_docs FROM documents),
scored AS (
  SELECT lang, tok, tf, df,
         round(tf * n_docs / CAST(df AS DOUBLE), 6) AS score
  FROM tf JOIN dfreq USING (tok) CROSS JOIN total)
SELECT lang, rank, tok, tf, df, score
FROM (
  SELECT *, row_number() OVER (PARTITION BY lang ORDER BY score DESC, tok ASC) AS rank
  FROM scored)
WHERE rank <= {IDF_TOP_K}
ORDER BY lang, rank
"""


# --- repetition scoring -------------------------------------------------------

REPETITION_TOP = 20


def repetition_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The 20 most internally-repetitive documents: repetition = 1 −
    distinct_tokens / total_tokens — a standard low-quality signal (boiler-
    plate, keyword stuffing, degenerate generations). Computed entirely
    scan-local with array expressions (size/array_distinct — no explode, no
    shuffle), then a bounded top-k; at 100 TB this is a pure map + per-
    partition heap."""
    docs = load_table(spark, sf_dir, "documents")
    words = F.split("text", " ")
    n_tok = F.size(words)
    n_distinct = F.size(F.array_distinct(words))
    rep = F.round(F.lit(1.0) - n_distinct / n_tok.cast("double"), 6)
    return (
        docs.select(
            "doc_id",
            "lang",
            n_tok.cast("bigint").alias("n_tokens"),
            n_distinct.cast("bigint").alias("n_distinct"),
            rep.alias("repetition"),
        )
        .orderBy(F.col("repetition").desc(), F.col("doc_id").asc())
        .limit(REPETITION_TOP)
    )


REPETITION_SCORES_SQL = f"""
SELECT doc_id, lang,
       CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
       CAST(len(list_distinct(string_split(text, ' '))) AS BIGINT) AS n_distinct,
       round(1.0 - len(list_distinct(string_split(text, ' ')))
                   / CAST(len(string_split(text, ' ')) AS DOUBLE), 6) AS repetition
FROM documents
ORDER BY repetition DESC, doc_id ASC
LIMIT {REPETITION_TOP}
"""


# --- domain mixture weights ---------------------------------------------------

# target language mixture for the training corpus (share of tokens)
MIXTURE_TARGET = [
    ("en", 0.4),
    ("zh", 0.2),
    ("de", 0.15),
    ("fr", 0.15),
    ("es", 0.1),
]


def domain_mixture_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sampling weights that re-shape the corpus to a target language
    mixture: weight = target_share / corpus_token_share (weight > 1 ⇒
    upsample / extra epochs, < 1 ⇒ downsample). The per-lang token counts
    are one scan-local projection + one 5-key aggregate; the corpus total
    broadcasts as a 1-row literal join, and the target mixture is a literal
    VALUES table — nothing here grows with the data except the first scan."""
    docs = load_table(spark, sf_dir, "documents")
    n_tok = F.size(F.split("text", " "))
    per_lang = (
        docs.select("lang", n_tok.alias("t"))
        .groupBy("lang")
        .agg(F.count("*").alias("n_docs"), F.sum("t").alias("n_tokens"))
        # #langs rows, consumed by the total aggregate AND the final join —
        # without the checkpoint each consumer re-scans the corpus and
        # recounts tokens (guide §2.4)
        .localCheckpoint(eager=False)
    )
    total = per_lang.agg(F.sum("n_tokens").alias("total_tokens"))
    target = spark.createDataFrame(MIXTURE_TARGET, "lang string, target_share double")
    share = F.round(F.col("n_tokens") / F.col("total_tokens").cast("double"), 6)
    weight = F.round(
        F.col("target_share") * F.col("total_tokens") / F.col("n_tokens").cast("double"), 6
    )
    return (
        per_lang.join(F.broadcast(total))
        .join(F.broadcast(target), "lang")
        .select(
            "lang",
            "n_docs",
            "n_tokens",
            share.alias("corpus_share"),
            "target_share",
            weight.alias("weight"),
        )
        .orderBy("lang")
    )


_MIXTURE_VALUES = ", ".join(
    f"('{lang}', CAST({share!r} AS DOUBLE))" for lang, share in MIXTURE_TARGET
)

DOMAIN_MIXTURE_SQL = f"""
WITH per_lang AS (
  SELECT lang, count(*) AS n_docs,
         CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS n_tokens
  FROM documents GROUP BY lang),
total AS (SELECT CAST(sum(n_tokens) AS BIGINT) AS total_tokens FROM per_lang)
SELECT lang, n_docs, n_tokens,
       round(n_tokens / CAST(total_tokens AS DOUBLE), 6) AS corpus_share,
       target_share,
       round(target_share * total_tokens / CAST(n_tokens AS DOUBLE), 6) AS weight
FROM per_lang
CROSS JOIN total
JOIN (VALUES {_MIXTURE_VALUES}) AS t(lang, target_share) USING (lang)
ORDER BY lang
"""


def mixture_temperature_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-scaled sampling mixture (the mT5/XLM-R recipe): sampling
    probability q_i ∝ p_i^(1/T) over per-language token shares p_i — the
    exponent flattens the mixture so low-resource languages are upsampled
    without hand-written targets (`domain_mixture_weights` is the explicit-
    target twin). T = 2, i.e. q ∝ sqrt(p).

    Determinism across engines: sqrt is IEEE-correctly-rounded in BOTH
    Spark and DuckDB (unlike pow with an arbitrary exponent, which is only
    ~1-ulp-accurate and engine-specific — the reason T is fixed at 2), and
    the normalizer sums the sqrt terms as DECIMAL(28,10) so the sum is
    exact and addition-order-free; the final ratios divide DOUBLE by
    DOUBLE on identical operands.

    Scale shape: one scan-local token-count projection → one #lang
    aggregate (map-side combining) → a broadcast 1-row total join. Nothing
    after the first scan grows with the corpus."""
    docs = load_table(spark, sf_dir, "documents")
    n_tok = F.size(F.split("text", " "))
    per_lang = (
        docs.select("lang", n_tok.alias("t"))
        .groupBy("lang")
        .agg(F.count("*").alias("n_docs"), F.sum("t").alias("n_tokens"))
        # #langs rows, consumed by total, z, AND the final report — the
        # old frame re-scanned the corpus and recounted tokens for each
        # (4 scans / 8 Exchanges in one plan; guide §2.4)
        .localCheckpoint(eager=False)
    )
    total = per_lang.agg(F.sum("n_tokens").alias("total_tokens"))
    with_p = per_lang.join(F.broadcast(total)).withColumn(
        "s_dec",
        F.sqrt(F.col("n_tokens") / F.col("total_tokens").cast("double")).cast(
            DEC
        ),
    )
    z = with_p.agg(F.sum("s_dec").alias("z"))
    p = F.col("n_tokens") / F.col("total_tokens").cast("double")
    q = F.col("s_dec").cast("double") / F.col("z").cast("double")
    return (
        with_p.join(F.broadcast(z))
        .select(
            "lang",
            "n_docs",
            "n_tokens",
            F.round(p, 6).alias("corpus_share"),
            F.round(q, 6).alias("sample_share"),
            F.round(q / p, 6).alias("boost"),
            F.round(q * F.lit(1e6)).cast("bigint").alias("tokens_per_million"),
        )
        .orderBy("lang")
    )


MIXTURE_TEMPERATURE_SQL = """
WITH per_lang AS (
  SELECT lang, count(*) AS n_docs,
         CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS n_tokens
  FROM documents GROUP BY lang),
total AS (SELECT CAST(sum(n_tokens) AS BIGINT) AS total_tokens FROM per_lang),
sq AS (
  SELECT lang, n_docs, n_tokens, total_tokens,
         CAST(sqrt(n_tokens / CAST(total_tokens AS DOUBLE)) AS DECIMAL(28,10)) AS s_dec
  FROM per_lang CROSS JOIN total),
z AS (SELECT sum(s_dec) AS z FROM sq)
SELECT lang, n_docs, n_tokens,
       round(n_tokens / CAST(total_tokens AS DOUBLE), 6) AS corpus_share,
       round(CAST(s_dec AS DOUBLE) / CAST(z AS DOUBLE), 6) AS sample_share,
       round((CAST(s_dec AS DOUBLE) / CAST(z AS DOUBLE))
             / (n_tokens / CAST(total_tokens AS DOUBLE)), 6) AS boost,
       CAST(round(CAST(s_dec AS DOUBLE) / CAST(z AS DOUBLE) * 1e6, 0) AS BIGINT)
         AS tokens_per_million
FROM sq CROSS JOIN z
ORDER BY lang
"""


def tokenizer_fertility(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer fertility per language: characters per subword and
    subwords per whitespace word — the signal that sizes a multilingual
    tokenizer's vocabulary (a language with high fertility is being
    over-fragmented and needs more vocab share). Uses the same BPE-ish
    ≤4-char-chunk regex as `token_counts` so the two reports agree.

    All-integer sums per lang (one scan-local projection, one #lang
    aggregate); the two ratios are DOUBLE divisions of identical integers,
    so engine-exact."""
    docs = load_table(spark, sf_dir, "documents")
    toks = F.size(F.split("text", " "))
    subwords = F.size(F.expr("regexp_extract_all(text, '[a-z]{1,4}', 0)"))
    return (
        docs.select("lang", toks.alias("t"), subwords.alias("s"), "n_chars")
        .groupBy("lang")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("t").alias("n_words"),
            F.sum("s").alias("n_subwords"),
            F.sum("n_chars").alias("n_chars"),
        )
        .select(
            "lang",
            "n_docs",
            "n_words",
            "n_subwords",
            F.round(F.col("n_chars") / F.col("n_subwords").cast("double"), 4).alias(
                "chars_per_subword"
            ),
            F.round(F.col("n_subwords") / F.col("n_words").cast("double"), 4).alias(
                "fertility"
            ),
        )
        .orderBy("lang")
    )


TOKENIZER_FERTILITY_SQL = """
SELECT lang, count(*) AS n_docs,
       CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS n_words,
       CAST(sum(len(regexp_extract_all(text, '[a-z]{1,4}'))) AS BIGINT) AS n_subwords,
       round(CAST(sum(n_chars) AS BIGINT)
             / CAST(CAST(sum(len(regexp_extract_all(text, '[a-z]{1,4}'))) AS BIGINT) AS DOUBLE), 4)
         AS chars_per_subword,
       round(CAST(sum(len(regexp_extract_all(text, '[a-z]{1,4}'))) AS BIGINT)
             / CAST(CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS DOUBLE), 4)
         AS fertility
FROM documents
GROUP BY lang
ORDER BY lang
"""


CORPUS_BUDGET_SQL = f"""
WITH scored AS (
  SELECT CASE WHEN bucket < {SPLIT_TRAIN_PCT} THEN 'train'
              WHEN bucket < {SPLIT_TRAIN_PCT + SPLIT_VALID_PCT} THEN 'valid'
              ELSE 'test' END AS split,
         t,
         round(0.5 * least(t / 100.0, 1.0)
             + 0.3 * (1.0 - CAST({_STOPS} AS DOUBLE) / t)
             + 0.2 * least(((n_chars - (t - 1)) / CAST(t AS DOUBLE)) / 6.0, 1.0), 6)
           >= {BUDGET_QUALITY_MIN} AS keep
  FROM (
    SELECT text, n_chars, len(string_split(text, ' ')) AS t,
           CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT) % 100
             AS bucket
    FROM documents))
SELECT split, count(*) AS n_docs,
       CAST(sum(CASE WHEN keep THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
       CAST(sum(CASE WHEN keep THEN t ELSE 0 END) AS BIGINT) AS kept_tokens,
       CAST(sum(CASE WHEN keep THEN 0 ELSE t END) AS BIGINT) AS dropped_tokens
FROM scored
GROUP BY split
ORDER BY split
"""


# --- length histogram ---------------------------------------------------------

LEN_BUCKET = 50  # chars per histogram bucket


def docs_length_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document-length histogram in fixed 50-char buckets, per language —
    the first plot anyone makes before setting min/max-length curation
    filters. Integer bucket arithmetic (no width_bucket, whose edge
    semantics differ between engines), one scan + one small aggregate."""
    docs = load_table(spark, sf_dir, "documents")
    bucket = (F.col("n_chars") / LEN_BUCKET).cast("bigint") * LEN_BUCKET
    return (
        docs.select("lang", bucket.alias("len_bucket"))
        .groupBy("lang", "len_bucket")
        .agg(F.count("*").alias("n_docs"))
        .orderBy("lang", "len_bucket")
    )


DOCS_LENGTH_HIST_SQL = f"""
SELECT lang,
       CAST(n_chars // {LEN_BUCKET} AS BIGINT) * {LEN_BUCKET} AS len_bucket,
       count(*) AS n_docs
FROM documents
GROUP BY 1, 2
ORDER BY lang, len_bucket
"""


# --- collocation / phrase detection (word2phrase-style lift) -----------------

COLLOC_MIN_COUNT = 5
COLLOC_TOP = 15

# corpus size below which re-deriving a shared text subtree is cheaper than
# materializing it (r16, VERDICT r15 task 3): the 8x interleaved probe
# (4.8 MB corpus, quiet window) measured the vocabulary-sized checkpoint
# still 0.4 s SLOWER than three re-scans — the rescan is scan-local and
# parallel, the checkpoint serializes. Above this threshold the saved
# corpus passes dominate (corpus >> vocabulary at cluster scale).
CHECKPOINT_MIN_TEXT_BYTES = 64 << 20


def phrase_collocations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Phrase detection via association lift — the word2phrase primitive
    training pipelines run before tokenizer/vocab construction: bigrams that
    co-occur far more than their unigram frequencies predict are merged into
    phrase tokens.

    lift(a,b) = P(ab) / (P(a)·P(b)) = (c_ab · N) / (c_a · c_b), i.e.
    exp(PMI). The lift form avoids ln(), whose last-ulp results differ
    across libm implementations — every factor here is an exact int64 count
    cast to double, and IEEE multiply/divide are correctly rounded, so both
    engines agree bit-for-bit before the round(…, 6).

    Plan shape (scales to a 100 TB corpus): one exploded-token scan feeds
    BOTH count aggregations (unigram and bigram — each one shuffle keyed by
    (lang, token), the word-count shape); per-language totals are a
    broadcast-sized side table; the two unigram joins key on (lang, word)
    — vocabulary-sized, evenly distributed, AQE handles hot stopwords; the
    final top-K window runs per language over only surviving (c_ab ≥ 5)
    bigrams."""
    from pyspark.sql.window import Window

    docs = load_table(spark, sf_dir, "documents")
    # the CORPUS-sized token projection feeds both count aggregations;
    # deliberately NOT persisted — re-tokenizing a scan-local split is
    # cheaper locally than block-manager churn. On a 100 TB corpus you
    # would .persist(DISK_ONLY) this frame to pay the tokenize once.
    toks = docs.select("lang", "doc_id", F.split("text", " ").alias("t"))

    # the VOCABULARY-sized unigram counts, by contrast, feed THREE
    # consumers (totals, u1, u2) and each used to re-derive the whole
    # corpus explode+aggregate — checkpointing the bounded (lang, word,
    # c_w) frame runs that pass once (guide §2.4; the idf_top_terms /
    # ngram_jaccard subtree discipline). Join strategies stay visible to
    # the plan audit: only the subtree BELOW the checkpoint truncates.
    # r16: the checkpoint is GATED on corpus size — the 8x probe measured
    # it still losing to three parallel re-scans on a small corpus (see
    # CHECKPOINT_MIN_TEXT_BYTES); the saved passes win only once the
    # corpus dwarfs the vocabulary. Results are identical either way
    # (same frame, materialized or not).
    uni = (
        toks.select("lang", F.explode("t").alias("word"))
        .groupBy("lang", "word")
        .agg(F.count("*").alias("c_w"))
    )
    # unknown size (object store, missing files) reads as large, so
    # cluster deployments keep the checkpointed single-derivation form
    size = _table_size(sf_dir, "documents")
    if size is None or size[1] >= CHECKPOINT_MIN_TEXT_BYTES:
        uni = uni.localCheckpoint(eager=False)
    totals = uni.groupBy("lang").agg(F.sum("c_w").alias("n_total"))

    bigrams = F.expr(
        "CASE WHEN size(t) < 2 THEN array() "
        "ELSE transform(sequence(1, size(t) - 1), "
        "i -> struct(element_at(t, i) AS w1, element_at(t, i + 1) AS w2)) END"
    )
    bi = (
        toks.select("lang", F.explode(bigrams).alias("b"))
        .select("lang", F.col("b.w1").alias("w1"), F.col("b.w2").alias("w2"))
        .groupBy("lang", "w1", "w2")
        .agg(F.count("*").alias("c_ab"))
        .filter(F.col("c_ab") >= COLLOC_MIN_COUNT)
    )

    u1 = uni.select(F.col("lang"), F.col("word").alias("w1"), F.col("c_w").alias("c_a"))
    u2 = uni.select(F.col("lang"), F.col("word").alias("w2"), F.col("c_w").alias("c_b"))
    lift = F.round(
        (F.col("c_ab").cast("double") * F.col("n_total").cast("double"))
        / (F.col("c_a").cast("double") * F.col("c_b").cast("double")),
        6,
    )
    scored = (
        bi.join(u1, ["lang", "w1"])
        .join(u2, ["lang", "w2"])
        .join(F.broadcast(totals), "lang")
        .select(
            "lang",
            F.concat_ws(" ", "w1", "w2").alias("phrase"),
            "c_ab",
            "c_a",
            "c_b",
            lift.alias("lift"),
        )
    )
    w = Window.partitionBy("lang").orderBy(F.col("lift").desc(), F.col("phrase").asc())
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= COLLOC_TOP)
        .select("lang", "rank", "phrase", "c_ab", "c_a", "c_b", "lift")
        .orderBy("lang", "rank")
    )


PHRASE_COLLOCATIONS_SQL = f"""
WITH toks AS (
  SELECT lang, doc_id, string_split(text, ' ') AS t FROM documents),
uni AS (
  SELECT lang, word, count(*) AS c_w
  FROM (SELECT lang, unnest(t) AS word FROM toks)
  GROUP BY lang, word),
totals AS (
  SELECT lang, CAST(sum(c_w) AS BIGINT) AS n_total FROM uni GROUP BY lang),
bi AS (
  SELECT lang, t[i.g] AS w1, t[i.g + 1] AS w2, count(*) AS c_ab
  FROM toks, UNNEST(generate_series(1, len(t) - 1)) AS i(g)
  GROUP BY 1, 2, 3
  HAVING count(*) >= {COLLOC_MIN_COUNT}),
scored AS (
  SELECT bi.lang, bi.w1 || ' ' || bi.w2 AS phrase, bi.c_ab, u1.c_w AS c_a,
         u2.c_w AS c_b,
         round((CAST(bi.c_ab AS DOUBLE) * CAST(t.n_total AS DOUBLE))
               / (CAST(u1.c_w AS DOUBLE) * CAST(u2.c_w AS DOUBLE)), 6) AS lift
  FROM bi
  JOIN uni u1 ON bi.lang = u1.lang AND bi.w1 = u1.word
  JOIN uni u2 ON bi.lang = u2.lang AND bi.w2 = u2.word
  JOIN totals t ON bi.lang = t.lang)
SELECT lang, rank, phrase, c_ab, c_a, c_b, lift
FROM (
  SELECT *, row_number() OVER (PARTITION BY lang
                               ORDER BY lift DESC, phrase ASC) AS rank
  FROM scored)
WHERE rank <= {COLLOC_TOP}
ORDER BY lang, rank
"""


# --- document-level PII scrubbing --------------------------------------------

# the two redaction kernels under test (Java regex, JVM-side regexp_replace)
_EMAIL_RE = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
_PHONE_RE = r"\b\d{3}[-.]\d{3}[-.]\d{4}\b"


def pii_scrub_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document-level PII redaction before a corpus becomes training data —
    the free-text sibling of the structured-log scrub
    (``events_props_scrub``): redact email addresses and phone numbers with
    placeholder tokens and report, per source, what the scrub did (match
    counts, length delta, order-free checksum of the redacted corpus).

    Oracle design — INJECTION BY CONSTRUCTION, the strongest independence
    this family has: the documents fixture is verified pattern-free (zero
    '@' characters, zero phone shapes, at every SF), so the query first
    appends deterministic PII built from ``doc_id`` arithmetic (an email
    for ids ≡ 0 mod 13, a phone for ids ≡ 0 mod 17), then runs the REAL
    regex kernels over the augmented text.  The DuckDB oracle never
    touches a regex: it constructs the expected redacted string
    analytically from the same arithmetic.  A kernel that over-matches
    (eats legitimate text), under-matches (misses an injected value), or
    redacts in the wrong order diverges from the constructed expectation
    and fails the checksum — unlike a same-regex-both-sides oracle, which
    would share any misunderstanding.

    Scale: scan-local projection (concat + two regexp_replace + md5)
    followed by one source-keyed aggregation whose checksum is a
    commutative SUM (map-side combines; O(1) state per key — the same
    mergeable-checksum trick as events_props_scrub). The regex work runs
    on a scan spread per ``tables.input_sized_width``."""
    docs = load_table(spark, sf_dir, "documents", spread_bytes=64 << 10)
    idc = F.col("doc_id")
    email_sfx = F.when(
        idc % 13 == 0,
        F.concat(
            F.lit(" contact user"), idc.cast("string"), F.lit("@example.com now")
        ),
    ).otherwise(F.lit(""))
    phone_sfx = F.when(
        idc % 17 == 0,
        F.concat(
            F.lit(" call "),
            (idc % 900 + 100).cast("string"),
            F.lit("-555-"),
            F.lpad((idc % 10000).cast("string"), 4, "0"),
            F.lit(" today"),
        ),
    ).otherwise(F.lit(""))
    aug = F.concat(F.col("text"), email_sfx, phone_sfx)
    red = F.regexp_replace(
        F.regexp_replace(aug, _EMAIL_RE, "[EMAIL]"), _PHONE_RE, "[PHONE]"
    )
    row_hash = F.conv(F.substring(F.md5(red), 1, 8), 16, 10).cast("bigint")
    return (
        docs.select(
            "source",
            F.regexp_count(aug, F.lit(_EMAIL_RE)).alias("e"),
            F.regexp_count(aug, F.lit(_PHONE_RE)).alias("p"),
            (F.length(red) - F.length(aug)).alias("delta"),
            row_hash.alias("h"),
        )
        .groupBy("source")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("e").alias("emails_redacted"),
            F.sum("p").alias("phones_redacted"),
            F.sum("delta").alias("len_delta"),
            F.sum("h").alias("redacted_checksum"),
        )
        .orderBy("source")
    )


PII_SCRUB_SQL = """
WITH aug AS (
  SELECT source,
         text
           || CASE WHEN doc_id % 13 = 0
                   THEN ' contact user' || doc_id || '@example.com now'
                   ELSE '' END
           || CASE WHEN doc_id % 17 = 0
                   THEN ' call ' || (doc_id % 900 + 100) || '-555-'
                        || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
                        || ' today'
                   ELSE '' END AS t,
         text
           || CASE WHEN doc_id % 13 = 0 THEN ' contact [EMAIL] now' ELSE '' END
           || CASE WHEN doc_id % 17 = 0 THEN ' call [PHONE] today' ELSE '' END
           AS red,
         CAST(doc_id % 13 = 0 AS INT) AS e,
         CAST(doc_id % 17 = 0 AS INT) AS p
  FROM documents)
SELECT source,
       count(*) AS n_docs,
       CAST(sum(e) AS BIGINT) AS emails_redacted,
       CAST(sum(p) AS BIGINT) AS phones_redacted,
       CAST(sum(length(red) - length(t)) AS BIGINT) AS len_delta,
       CAST(sum(CAST('0x' || substr(md5(red), 1, 8) AS BIGINT)) AS BIGINT)
         AS redacted_checksum
FROM aug
GROUP BY source
ORDER BY source
"""
