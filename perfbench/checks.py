"""Correctness checkers. Each returns a list of problems; empty means right.

They run after the timed windows, against models the benchmark builds
itself: NumPy brute force over the generated vectors, the driver-side model
of acknowledged writes, and DuckDB over the generated fixture tables.
"""

from __future__ import annotations

import datetime
import hashlib
import math

import numpy as np

TIE_TOL = 1e-6


def normalize_like_engine(vecs: np.ndarray) -> np.ndarray:
    """Unit-normalize in double and round to float32, as ingest stores them."""
    v = vecs.astype(np.float64)
    return (v / np.sqrt((v * v).sum(axis=1, keepdims=True))).astype(np.float32)


def query_unit(vector: list[float]) -> np.ndarray:
    """The query as the engine normalizes it, in double on the driver."""
    norm = sum(x * x for x in vector) ** 0.5
    return np.array([x / norm for x in vector], dtype=np.float64)


class VectorModel:
    """The expected live rows: ids, stored (normalized) vectors, metadata."""

    def __init__(self, model: dict[str, tuple[np.ndarray, int, str]]):
        self.ids = sorted(model)
        self.index = {rid: i for i, rid in enumerate(self.ids)}
        self.vectors = normalize_like_engine(np.stack([model[i][0] for i in self.ids]))
        self.labels = np.array([model[i][1] for i in self.ids])
        self.categories = [model[i][2] for i in self.ids]

    def scores(self, vector: list[float]) -> np.ndarray:
        return self.vectors.astype(np.float64) @ query_unit(vector)


def check_topk(
    got: list[tuple[str, float]],
    ids: list[str],
    scores: np.ndarray,
    k: int,
    better_than: float | None = None,
) -> list[str]:
    """``got`` (id, score) must be an exact top-k of (ids, scores), in
    descending score order.

    Ids whose score ties the k-th best within ``TIE_TOL`` may stand in for
    each other; ids within ``TIE_TOL`` of ``better_than`` may be in or out.
    """
    problems = []
    if better_than is None:
        maybe = sure = np.ones(len(ids), bool)
    else:
        maybe = scores >= better_than - TIE_TOL
        sure = scores >= better_than + TIE_TOL
    ranked = np.sort(scores[maybe])[::-1]
    kth = ranked[k - 1] if len(ranked) >= k else -math.inf
    lo, hi = min(k, int(sure.sum())), min(k, int(maybe.sum()))
    if not lo <= len(got) <= hi:
        problems.append(f"returned {len(got)} rows, expected {lo}..{hi}")
    where = {rid: i for i, rid in enumerate(ids)}
    prev = math.inf
    for rid, score in got:
        i = where.get(rid)
        if i is None or not maybe[i]:
            problems.append(f"id {rid!r} is not an eligible row")
            continue
        if abs(scores[i] - score) > 1e-5:
            problems.append(f"id {rid!r} scored {score}, expected {scores[i]}")
        if scores[i] < kth - TIE_TOL:
            problems.append(f"id {rid!r} (score {scores[i]:.6f}) is outside the top {k}")
        if score > prev + 1e-9:
            problems.append("rows are not in descending score order")
        prev = score
    must = {ids[i] for i in np.flatnonzero(sure & (scores > kth + TIE_TOL))}
    missing = must - {rid for rid, _ in got}
    if missing:
        problems.append(f"top-{k} ids missing: {sorted(missing)[:5]}")
    return problems


def check_get(got: list[tuple], requested: list[str], model: VectorModel) -> list[str]:
    """``got`` (id, label, category, vector) must be exactly the requested
    ids that are live, once each, with their acknowledged values."""
    problems = []
    want = {r for r in requested if r in model.index}
    ids = [g[0] for g in got]
    if len(ids) != len(set(ids)):
        problems.append(f"duplicate ids returned: {ids}")
    if set(ids) != want:
        problems.append(f"returned {sorted(set(ids))}, expected {sorted(want)}")
    for rid, label, category, vector in got:
        i = model.index.get(rid)
        if i is None:
            continue
        if label != model.labels[i] or category != model.categories[i]:
            problems.append(f"id {rid!r} has ({label}, {category!r}), expected "
                            f"({model.labels[i]}, {model.categories[i]!r})")
        if np.abs(np.asarray(vector, np.float32) - model.vectors[i]).max() > TIE_TOL:
            problems.append(f"id {rid!r} has a different vector than acknowledged")
    return problems


def check_durable(count: int, sample: list[tuple], sample_ids: list[str],
                  model: VectorModel) -> list[str]:
    """After reopening from disk: the row count matches the model and every
    sampled acknowledged id reads back with its values."""
    problems = []
    if count != len(model.ids):
        problems.append(f"reopened collection has {count} rows, model has {len(model.ids)}")
    return problems + check_get(sample, sample_ids, model)


def check_upsert_report(report: dict, expect_updated: set, expect_inserted: set) -> list[str]:
    problems = []
    if set(report["updated"]) != expect_updated:
        problems.append(f"upsert reported {len(report['updated'])} updated, "
                        f"expected {len(expect_updated)}")
    if set(report["inserted"]) != expect_inserted:
        problems.append(f"upsert reported {len(report['inserted'])} inserted, "
                        f"expected {len(expect_inserted)}")
    return problems


# -- frame comparison, as the oracle parity test compares frames ------------


def _is_missing(v) -> bool:
    return v is None or (isinstance(v, float) and math.isnan(v))


def _canon(v) -> str:
    if isinstance(v, np.generic):
        v = v.item()
    if _is_missing(v):
        return "∅"
    if isinstance(v, bool):
        return str(int(v))
    if isinstance(v, float):
        if v == int(v) and abs(v) < 1e15:
            return str(int(v))
        return repr(round(v, 9))
    if isinstance(v, (datetime.datetime, datetime.date)):
        return v.isoformat(sep=" ")
    if isinstance(v, bytes):
        return v.hex()
    return str(v)


def _col_class(s) -> str:
    """Coarse value class of a pandas column; both engines must agree."""
    if s.dtype.kind in "iufbmM":
        return {"i": "int", "u": "int", "f": "float", "b": "bool"}.get(s.dtype.kind, "datetime")
    for v in s:
        if _is_missing(v):
            continue
        if isinstance(v, (list, tuple, dict, set, np.ndarray)):
            return "unhashable"
        if isinstance(v, (datetime.datetime, datetime.date)):
            return "datetime"
        if isinstance(v, (bool, np.bool_)):
            return "bool"
        if isinstance(v, (int, np.integer)):
            return "objint"  # boxed ints hash apart from a native int64 column
        return type(v).__name__
    return "empty"


def frame_digest(df) -> dict:
    """Sorted columns, their value classes, row count and an
    order-insensitive value hash of a pandas frame."""
    cols = sorted(df.columns)
    lines = sorted(
        "|".join(_canon(v) for v in row)
        for row in df[cols].itertuples(index=False, name=None)
    )
    return {
        "columns": cols,
        "classes": [_col_class(df[c]) for c in cols],
        "rows": len(lines),
        "hash": hashlib.sha256("\n".join(lines).encode()).hexdigest(),
    }


def check_frame(got: dict, want: dict) -> list[str]:
    for key in ("columns", "classes", "rows", "hash"):
        if got[key] != want[key]:
            if key == "hash":
                return ["value hash differs from the oracle"]
            return [f"{key} {got[key]} vs oracle {want[key]}"]
    return []
