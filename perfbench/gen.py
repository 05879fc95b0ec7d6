"""Seeded input generation for the benchmark workloads.

Everything a run hands to the package is made here from the seed: the
collection's upsert batches and the ids it deletes, the serving op stream,
the fixture tables of the pipeline suite and its query_batch queries. The
same seed gives byte-identical files and identical op sequences; nothing
here touches Spark.
"""

from __future__ import annotations

import datetime as dt
import os
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

CATEGORIES = ("news", "code", "web", "books", "forum", "wiki", "paper", "chat")
N_LABELS = 10  # `label = x` selects ~10% of the collection

BATCH_SCHEMA = pa.schema(
    [
        ("__id__", pa.string()),
        ("vector", pa.list_(pa.float32())),
        ("label", pa.int32()),
        ("category", pa.string()),
    ]
)


@dataclass
class CollectionPlan:
    """A seeded write history and the state it must leave behind.

    ``steps`` is the ordered write sequence: ``("upsert", batch_index)``,
    ``("delete", ids)`` or ``("save", None)``. ``model`` maps every live id
    to its last acknowledged ``(raw float32 vector, label, category)``.
    """

    dim: int
    batch_dirs: list[str]
    batch_rows: list[int]
    batch_ids: list[list[str]]
    steps: list[tuple[str, object]]
    model: dict[str, tuple[np.ndarray, int, str]]
    deleted: list[str]
    user_bytes: int  # raw bytes of every upserted row (id + vector + metadata)


def row_bytes(dim: int, rid: str, category: str) -> int:
    return len(rid) + 4 * dim + 4 + len(category)


def collection_plan(
    rng: np.random.Generator,
    out_dir: str,
    dim: int,
    batch_new: list[int],
    save_after: set[int],
    delete_after: int,
    n_delete: int,
    files_per_batch: int,
    update_frac: float = 0.1,
    dups_per_batch: int = 8,
) -> CollectionPlan:
    """Write ``len(batch_new)`` parquet batches with pyarrow and plan the
    writes around them.

    Batch ``k`` holds ``batch_new[k]`` fresh ids plus, from the second batch
    on, ``update_frac`` of that many ids that update earlier rows. A few ids
    repeat inside each batch; both copies sit in the same file with the
    winner later, so "last writer wins" has one meaning whatever order
    Spark lists the files in. After batch ``delete_after`` the plan deletes
    ``n_delete`` live ids plus a few that never existed.
    """
    model: dict[str, tuple[np.ndarray, int, str]] = {}
    next_id = 0
    batch_dirs, batch_rows, batch_ids, steps, deleted = [], [], [], [], []
    user_bytes = 0
    for k, n_new in enumerate(batch_new):
        ids = [f"v{next_id + i:07d}" for i in range(n_new)]
        next_id += n_new
        if model:
            live = sorted(model)
            n_upd = min(len(live), int(round(n_new * update_frac)))
            ids += [live[i] for i in rng.choice(len(live), n_upd, replace=False)]
            ids = [ids[i] for i in rng.permutation(len(ids))]
        n = len(ids)
        vecs = rng.standard_normal((n, dim)).astype(np.float32)
        labels = rng.integers(0, N_LABELS, n).astype(np.int32)
        cats = [CATEGORIES[i] for i in rng.integers(0, len(CATEGORIES), n)]
        bounds = np.linspace(0, n, files_per_batch + 1).astype(int)
        files = []
        for f in range(files_per_batch):
            lo, hi = int(bounds[f]), int(bounds[f + 1])
            f_ids, f_vecs = ids[lo:hi], vecs[lo:hi]
            f_labels, f_cats = labels[lo:hi], cats[lo:hi]
            # in-batch repeats: a second, later copy with new values
            n_dup = min(dups_per_batch // files_per_batch + 1, hi - lo)
            pick = sorted(rng.choice(hi - lo, n_dup, replace=False).tolist())
            f_ids = f_ids + [f_ids[i] for i in pick]
            f_vecs = np.concatenate(
                [f_vecs, rng.standard_normal((n_dup, dim)).astype(np.float32)]
            )
            f_labels = np.concatenate(
                [f_labels, rng.integers(0, N_LABELS, n_dup).astype(np.int32)]
            )
            f_cats = f_cats + [
                CATEGORIES[i] for i in rng.integers(0, len(CATEGORIES), n_dup)
            ]
            files.append((f_ids, f_vecs, f_labels, f_cats))
        bdir = os.path.join(out_dir, f"batch-{k:02d}")
        os.makedirs(bdir)
        rows = 0
        for f, (f_ids, f_vecs, f_labels, f_cats) in enumerate(files):
            table = pa.table(
                {
                    "__id__": f_ids,
                    "vector": pa.FixedSizeListArray.from_arrays(
                        pa.array(f_vecs.reshape(-1)), dim
                    ).cast(pa.list_(pa.float32())),
                    "label": pa.array(f_labels, pa.int32()),
                    "category": f_cats,
                },
                schema=BATCH_SCHEMA,
            )
            pq.write_table(table, os.path.join(bdir, f"part-{f:03d}.parquet"))
            for rid, vec, lab, cat in zip(f_ids, f_vecs, f_labels, f_cats):
                model[rid] = (vec, int(lab), cat)
                user_bytes += row_bytes(dim, rid, cat)
            rows += len(f_ids)
        batch_dirs.append(bdir)
        batch_rows.append(rows)
        batch_ids.append(ids)
        steps.append(("upsert", k))
        if k == delete_after:
            live = sorted(model)
            gone = [live[i] for i in rng.choice(len(live), n_delete, replace=False)]
            ghosts = [f"x{int(i):07d}" for i in rng.integers(0, 10**7, 3)]
            for rid in gone:
                del model[rid]
            deleted += gone
            steps.append(("delete", gone + ghosts))
        if k in save_after:
            steps.append(("save", None))
    return CollectionPlan(
        dim, batch_dirs, batch_rows, batch_ids, steps, model, deleted, user_bytes
    )


# ---------------------------------------------------------------------------
# serving op stream
# ---------------------------------------------------------------------------

# every block of ten serving ops holds this mix, in seeded order, so any
# window of the stream has nearly the same composition
SERVE_BLOCK = ("query",) * 7 + ("better_than", "where", "get")
TOP_K = 10
BETTER_THAN = 0.6  # a stored vector plus noise of half its norm scores ~0.89


def serve_ops(
    rng: np.random.Generator, plan: CollectionPlan, n_ops: int, kinds: list[str] | None = None
) -> list[dict]:
    """A seeded op sequence over the plan's final state, of the given
    ``kinds`` or else of shuffled SERVE_BLOCKs.

    ``better_than`` queries start from a live vector so they return rows;
    each ``get`` asks for 5 ids, one or two of them deleted or never stored.
    """
    live = sorted(plan.model)
    if kinds is None:
        kinds = []
        while len(kinds) < n_ops:
            kinds += [SERVE_BLOCK[i] for i in rng.permutation(len(SERVE_BLOCK))]
        kinds = kinds[:n_ops]
    missing = plan.deleted + [f"x{i:07d}" for i in range(50)]
    ops = []
    for kind in kinds:
        op: dict = {"kind": str(kind)}
        if kind == "get":
            n_miss = int(rng.integers(1, 3))
            ids = [live[i] for i in rng.choice(len(live), 5 - n_miss, replace=False)]
            ids += [missing[i] for i in rng.choice(len(missing), n_miss, replace=False)]
            op["ids"] = [ids[i] for i in rng.permutation(5)]
        else:
            vec = rng.standard_normal(plan.dim).astype(np.float32)
            if kind == "better_than":
                base = plan.model[live[int(rng.integers(len(live)))]][0]
                vec = (base + 0.5 * vec).astype(np.float32)
                op["better_than"] = BETTER_THAN
            if kind == "where":
                op["label"] = int(rng.integers(N_LABELS))
            op["vector"] = [float(x) for x in vec]
        ops.append(op)
    return ops


# ---------------------------------------------------------------------------
# pipeline fixture (the schema of the declared queries' sf_dir tables)
# ---------------------------------------------------------------------------

REGIONS = ("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
P_TYPES = ("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD")
P_ADJ = ("small", "large", "red", "blue", "hot", "cold", "old", "new")
P_NOUN = ("ring", "bolt", "plate", "gear", "widget", "rod", "anvil", "gizmo")
PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
EVENT_TYPES = ("view", "click", "purchase", "signup", "error")
LANGS = ("en", "zh", "es", "fr", "de")
WORDS = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast the row "
    "agg key query a scan batch"
).split()


@dataclass
class FixtureSizes:
    customer: int = 1500
    supplier: int = 100
    part: int = 2000
    orders: int = 15000
    lineitem: int = 60000
    events: int = 10000
    documents: int = 1000
    embeddings: int = 1000
    embedding_dim: int = 64


def _ts(base: dt.datetime, seconds: np.ndarray) -> pa.Array:
    us = (seconds * 1e6).astype(np.int64) + int(base.timestamp() * 1e6)
    return pa.array(us, pa.timestamp("us"))


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _documents(rng: np.random.Generator, n: int) -> pa.Table:
    """Random texts over the fixture vocabulary; ~5% are near-duplicates of
    an earlier doc (one word changed, " dup" appended), so the MinHash and
    n-gram dedup queries have pairs to find."""
    texts: list[str] = []
    for i in range(n):
        if i > 20 and rng.random() < 0.05:
            words = texts[int(rng.integers(i))].split()[:100]
            words[int(rng.integers(len(words)))] = WORDS[int(rng.integers(len(WORDS)))]
            texts.append(" ".join(words) + " dup")
        else:
            k = int(rng.integers(10, 101))
            texts.append(" ".join(WORDS[j] for j in rng.integers(0, len(WORDS), k)))
    lang = rng.choice(LANGS, n, p=[0.4, 0.15, 0.15, 0.15, 0.15])
    return pa.table(
        {
            "doc_id": pa.array(np.arange(n), pa.int64()),
            "text": texts,
            "lang": lang.tolist(),
            "source": [f"src{j}" for j in rng.integers(0, 20, n)],
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )


def fixture_tables(rng: np.random.Generator, sizes: FixtureSizes) -> dict[str, pa.Table]:
    """The ten tables of the declared queries' ``sf_dir`` with the fixture's
    schema and value ranges (keys dense from 0, uniform foreign keys)."""
    s = sizes
    d = s.embedding_dim
    emb = rng.standard_normal((s.embeddings, d))
    emb = (emb / np.linalg.norm(emb, axis=1, keepdims=True)).astype(np.float32)
    day = 86400.0
    orders_span = (dt.datetime(2001, 8, 1) - dt.datetime(1995, 1, 1)).days
    odays = rng.integers(0, orders_span + 1, s.orders)
    qty = rng.integers(1, 51, s.lineitem).astype(np.float64)
    l_order = rng.integers(0, s.orders, s.lineitem)
    ship = odays[l_order] + rng.integers(-2400, 2400, s.lineitem)
    ship = np.clip(ship, 1, orders_span + 100)
    return {
        "region": pa.table(
            {
                "r_regionkey": pa.array(np.arange(5), pa.int32()),
                "r_name": list(REGIONS),
            }
        ),
        "nation": pa.table(
            {
                "n_nationkey": pa.array(np.arange(25), pa.int32()),
                "n_name": [f"NATION_{i}" for i in range(25)],
                "n_regionkey": pa.array(np.arange(25) % 5, pa.int32()),
            }
        ),
        "customer": pa.table(
            {
                "c_custkey": pa.array(np.arange(s.customer), pa.int64()),
                "c_name": [f"Customer#{i:09d}" for i in range(s.customer)],
                "c_nationkey": pa.array(rng.integers(0, 25, s.customer), pa.int32()),
                "c_acctbal": _money(rng, -999.99, 9999.99, s.customer),
                "c_mktsegment": rng.choice(SEGMENTS, s.customer).tolist(),
            }
        ),
        "supplier": pa.table(
            {
                "s_suppkey": pa.array(np.arange(s.supplier), pa.int64()),
                "s_name": [f"Supplier#{i:09d}" for i in range(s.supplier)],
                "s_nationkey": pa.array(rng.integers(0, 25, s.supplier), pa.int32()),
                "s_acctbal": _money(rng, -999.99, 9999.99, s.supplier),
            }
        ),
        "part": pa.table(
            {
                "p_partkey": pa.array(np.arange(s.part), pa.int64()),
                "p_name": [
                    f"{P_ADJ[a]} {P_NOUN[b]}"
                    for a, b in zip(rng.integers(0, 8, s.part), rng.integers(0, 8, s.part))
                ],
                "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, s.part)],
                "p_type": rng.choice(P_TYPES, s.part).tolist(),
                "p_size": pa.array(rng.integers(1, 51, s.part), pa.int32()),
                "p_retailprice": np.round(900 + (np.arange(s.part) % 1000) * 0.1, 2),
            }
        ),
        "orders": pa.table(
            {
                "o_orderkey": pa.array(np.arange(s.orders), pa.int64()),
                "o_custkey": pa.array(rng.integers(0, s.customer, s.orders), pa.int64()),
                "o_orderstatus": rng.choice(["F", "O", "P"], s.orders).tolist(),
                "o_totalprice": _money(rng, 1000, 500000, s.orders),
                "o_orderdate": _ts(dt.datetime(1995, 1, 1), odays * day),
                "o_orderpriority": rng.choice(PRIORITIES, s.orders).tolist(),
            }
        ),
        "lineitem": pa.table(
            {
                "l_orderkey": pa.array(l_order, pa.int64()),
                "l_partkey": pa.array(rng.integers(0, s.part, s.lineitem), pa.int64()),
                "l_suppkey": pa.array(rng.integers(0, s.supplier, s.lineitem), pa.int64()),
                "l_linenumber": pa.array(rng.integers(1, 8, s.lineitem), pa.int32()),
                "l_quantity": qty,
                "l_extendedprice": np.round(qty * rng.uniform(900, 2100, s.lineitem), 2),
                "l_discount": np.round(rng.integers(0, 11, s.lineitem) / 100, 2),
                "l_tax": np.round(rng.integers(0, 9, s.lineitem) / 100, 2),
                "l_returnflag": rng.choice(["A", "N", "R"], s.lineitem).tolist(),
                "l_linestatus": rng.choice(["F", "O"], s.lineitem).tolist(),
                "l_shipdate": _ts(dt.datetime(1995, 1, 1), ship * day),
            }
        ),
        "events": pa.table(
            {
                "event_id": pa.array(np.arange(s.events), pa.int64()),
                "ts": _ts(
                    dt.datetime(2024, 1, 1),
                    np.sort(rng.uniform(0, 30 * day, s.events)),
                ),
                "user_id": pa.array(rng.integers(0, 150, s.events), pa.int64()),
                "event_type": rng.choice(EVENT_TYPES, s.events).tolist(),
                "value": np.round(rng.exponential(50, s.events) + 0.01, 2),
                "props": [f'{{"k": {i}}}' for i in rng.integers(0, 100, s.events)],
            }
        ),
        "documents": _documents(rng, s.documents),
        "embeddings": pa.table(
            {
                "vec_id": pa.array(np.arange(s.embeddings), pa.int64()),
                "embedding": pa.FixedSizeListArray.from_arrays(
                    pa.array(emb.reshape(-1)), d
                ).cast(pa.list_(pa.float32())),
                "label": pa.array(rng.integers(0, 10, s.embeddings), pa.int32()),
            }
        ),
    }


def write_fixture(rng: np.random.Generator, out_dir: str, sizes: FixtureSizes) -> dict[str, int]:
    """Write one ``<table>.parquet`` file per table; returns rows per table."""
    os.makedirs(out_dir, exist_ok=True)
    rows = {}
    for name, table in fixture_tables(rng, sizes).items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
        rows[name] = table.num_rows
    return rows


def batch_queries(rng: np.random.Generator, n: int, dim: int) -> list[tuple[str, list[float]]]:
    return [
        (f"q{i:02d}", [float(x) for x in rng.standard_normal(dim).astype(np.float32)])
        for i in range(n)
    ]
