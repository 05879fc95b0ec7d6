"""Vector scalar functions as Catalyst-native expressions.

Re-expresses the reference's two scalar kernels (SURVEY.md §2.1):

- O12 ``normalize``  (/root/reference/src/lib.rs:347-359): unit-L2 normalize,
  zero-vector guarded (decision Q5 — filter, never NaN).
- O13 ``dot_product`` (/root/reference/src/lib.rs:321-344): the reference's
  4-wide SIMD-shaped loop. Here it is a ``zip_with``+``aggregate`` higher-order
  expression — whole-stage-codegen'd JVM-side; Tungsten owns the SIMD shape.
  No Python UDF in the hot path.

Determinism contract (SURVEY.md §7.4): every arithmetic step is ``double``
(arrays cast element-wise from float — exact widening) and every reduction is
an explicit left-to-right sequential sum. The DuckDB oracle generators in this
module emit the *same* operation sequence, so per-row results are bit-identical
across engines; declared queries round to 6 decimals on top of that.
"""

from __future__ import annotations

import json

from pyspark.sql import Column
from pyspark.sql import functions as F

# ---------------------------------------------------------------------------
# Spark-side expressions (strings usable in F.expr / selectExpr)
# ---------------------------------------------------------------------------


def dot_expr(a: str, b: str) -> str:
    """Sequential left-to-right double dot product of two numeric array SQL
    expressions.

    Each element is widened to double inside the lambda, so a stored
    ``array<float>`` is folded directly instead of first being copied into
    an ``array<double>`` per row. Float-to-double widening is exact, so the
    sum is bit-identical to casting the whole array first; for arguments
    that already are ``array<double>`` the casts are same-type and the
    optimizer drops them."""
    return (
        f"aggregate(zip_with({a}, {b}, (x, y) -> CAST(x AS DOUBLE) * CAST(y AS DOUBLE)), "
        "CAST(0 AS DOUBLE), (acc, x) -> acc + x)"
    )


def as_double_array(col: str) -> str:
    return f"CAST({col} AS ARRAY<DOUBLE>)"


def norm_expr(a: str) -> str:
    """L2 norm of an array<double> SQL expression."""
    return f"sqrt({dot_expr(a, a)})"


def cosine_expr(vec_col: str, query_lits: list[float]) -> str:
    """Cosine similarity of a stored vector column against a pre-normalized
    python-side query literal: dot(v, q) / norm(v).

    The query literal is normalized in the driver (the reference does the same
    once per query, src/lib.rs:195 — loop-invariant hoisting); the stored-side
    norm division makes the engine correct even for non-normalized input.
    """
    v = as_double_array(vec_col)
    q = array_lit(query_lits)
    return f"({dot_expr(v, q)}) / ({norm_expr(v)})"


def cosine_pair_expr(vec_a: str, vec_b: str) -> str:
    """Cosine similarity between two vector columns (similarity join path)."""
    a, b = as_double_array(vec_a), as_double_array(vec_b)
    return f"({dot_expr(a, b)}) / ({norm_expr(a)} * {norm_expr(b)})"


def array_lit(values: list[float]) -> str:
    """A double array literal. repr() of a python float round-trips exactly,
    and both Spark and DuckDB parse decimal literals to the nearest double,
    so the same text yields the same bits in both engines."""
    return "array(" + ", ".join(f"CAST({v!r} AS DOUBLE)" for v in values) + ")"


def folded_array_lit(values: list[float]) -> str:
    """A double array literal that Spark analyzes as ONE node: a constant
    ``from_json`` the optimizer folds, instead of ``array_lit``'s one
    ``CAST`` child per element (re-analyzing those dominates a per-call
    plan build at dim 256). ``json.dumps`` writes ``repr`` and Spark's JSON
    reader parses to the nearest double, so the bits equal ``array_lit``'s.
    Spark-only (DuckDB cannot parse it) and finite values only (JSON has no
    NaN/Infinity)."""
    return f"from_json('{json.dumps(values)}', 'array<double>')"


def qcol(name: str) -> Column:
    """Column by LITERAL name: backtick-quoted so a user metadata column
    containing '.' (or '`') resolves as itself, never as a struct path —
    upsert accepts arbitrary metadata names, so every dynamic-name select
    on the collection path must go through this."""
    return F.col("`" + name.replace("`", "``") + "`")


# ---------------------------------------------------------------------------
# DuckDB-oracle SQL generators — same operation order, different dialect
# ---------------------------------------------------------------------------


def duck_dot_lit(vec_col: str, query_lits: list[float]) -> str:
    """Explicit left-to-right chain v[1]*q1 + v[2]*q2 + ... (1-based list index).

    Deliberately NOT list_dot_product: an explicit chain guarantees the same
    summation order as Spark's aggregate() fold, so doubles match bit-for-bit.
    """
    terms = [f"CAST({vec_col}[{i + 1}] AS DOUBLE) * {v!r}" for i, v in enumerate(query_lits)]
    return _left_assoc_sum(terms)


def duck_dot_self(vec_col: str, dim: int) -> str:
    terms = [f"CAST({vec_col}[{i}] AS DOUBLE) * CAST({vec_col}[{i}] AS DOUBLE)" for i in range(1, dim + 1)]
    return _left_assoc_sum(terms)


def duck_dot_pair(a: str, b: str, dim: int) -> str:
    terms = [f"CAST({a}[{i}] AS DOUBLE) * CAST({b}[{i}] AS DOUBLE)" for i in range(1, dim + 1)]
    return _left_assoc_sum(terms)


def duck_cosine_lit(vec_col: str, query_lits: list[float], dim: int) -> str:
    return f"({duck_dot_lit(vec_col, query_lits)}) / (sqrt({duck_dot_self(vec_col, dim)}))"


def duck_cosine_pair(a: str, b: str, dim: int) -> str:
    return f"({duck_dot_pair(a, b, dim)}) / (sqrt({duck_dot_self(a, dim)}) * sqrt({duck_dot_self(b, dim)}))"


def _left_assoc_sum(terms: list[str]) -> str:
    # SQL's + is left-associative, so a plain join reproduces a sequential fold.
    return "(" + " + ".join(terms) + ")"


# ---------------------------------------------------------------------------
# Deterministic query/centroid literals (seed-42-style, no RNG at import)
# ---------------------------------------------------------------------------


def deterministic_vector(dim: int, seed: int) -> list[float]:
    """A deterministic pseudo-random unit vector from a pure-integer recurrence.

    Not numpy RNG: the values must be reproducible from the source text alone
    (they are embedded as literals in both Spark and DuckDB SQL)."""
    raw: list[float] = []
    state = (seed * 2654435761 + 1013904223) % (2**32)
    for _ in range(dim):
        state = (state * 1664525 + 1013904223) % (2**32)
        raw.append(((state >> 8) % 10007) / 10007.0 - 0.5)
    norm = sum(x * x for x in raw) ** 0.5
    return [x / norm for x in raw]


EMBEDDING_DIM = 64
# The flagship query vector (SURVEY.md §7.2): deterministic, pre-normalized.
QUERY_VECTOR = deterministic_vector(EMBEDDING_DIM, seed=42)
