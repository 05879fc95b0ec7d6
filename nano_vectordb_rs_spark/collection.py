"""VectorCollection — the reference-parity user API (SURVEY.md §2.1).

One collection = one Parquet dataset with the engine schema convention
``__id__ string, vector array<float>, <typed metadata columns>`` plus a tiny
JSON sidecar for collection-level metadata.  Parquet replaces the reference's
JSON+base64 single file (/root/reference/src/lib.rs:289-293): columnar,
compressed, splittable, predicate-pushdown-able — the 100 TB-ready choice.

API parity map (reference method → here):
  new (src/lib.rs:116-147)        → VectorCollection.open / .create
  upsert (src/lib.rs:150-185)     → .upsert          (full-row replace, Q2/Q3)
  query (src/lib.rs:188-260)      → .query
  get (src/lib.rs:263-270)        → .get
  delete (src/lib.rs:273-286)     → .delete
  save (src/lib.rs:289-293)       → .save
  get/store_additional_data
    (src/lib.rs:296-303)          → .additional_data / .store_additional_data
  len / is_empty (src/lib.rs:306-313) → .count / .is_empty
  vector_bytes_len (src/lib.rs:316-318) → .vector_elems

Ingest guards (divergence decisions, SURVEY.md §1.6): wrong-dimension rows
are rejected (Q4), zero-norm vectors are rejected (Q5), vectors are unit-
normalized exactly once at ingest (the reference's normalize-at-write design,
src/lib.rs:158,173) so query time is a single dot product.
"""

from __future__ import annotations

import json
import math
import os
import shutil
from typing import Any, NamedTuple

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from nano_vectordb_rs_spark.functions.vector import (
    as_double_array,
    dot_expr,
    folded_array_lit,
    norm_expr,
    qcol,
)

ID_COL = "__id__"
METRICS_COL = "__metrics__"
VECTOR_COL = "vector"
_SIDECAR = "_additional_data.json"
# Largest saved collection, in Parquet bytes, that query() serves from the
# driver. Float vectors barely compress, so the driver holds about twice
# this: the Arrow table plus the float32 matrix.
_RESIDENT_MAX_BYTES = 256 << 20


class DimensionError(ValueError):
    pass


class ZeroVectorError(ValueError):
    pass


class SnapshotInUseError(ValueError):
    """delete_snapshot refused because the version's files back this
    handle's current in-memory state.  A distinct type (not a bare
    ValueError) so retention sweeps can skip exactly this benign case
    while still surfacing real errors like a vanished version."""


class _Resident(NamedTuple):
    """A saved collection's Parquet files held on the driver, from which
    ``query()`` (no ``where``, or an equality ``where``) and ``get()`` are
    answered without a Spark job."""

    table: Any  # pyarrow.Table in the Arrow form of the Spark schema
    matrix: Any  # (rows, dim) float32 ndarray, column-major
    ids: list[str]
    schema: T.StructType  # the Spark path's query() result schema
    columns: dict[int, str]  # column name by its attribute's exprId


# Column types whose Spark `=` is Arrow's `equal`. Floating point is not one:
# Spark's `=` holds for NaN = NaN.
_EQUALITY_TYPES = {"tinyint", "smallint", "int", "bigint", "string"}


def _equality_terms(filtered: DataFrame) -> list[tuple[int, Any]] | None:
    """The analyzed filter condition of ``filtered`` as ``(exprId, value)``
    pairs when it is ``attribute = literal`` or an AND of such terms, each
    attribute a top-level column of an ``_EQUALITY_TYPES`` type and each
    literal non-null and of exactly that type; None for anything else (a
    cast, an OR, a constant, a nested field, a float column, ...)."""
    terms, todo = [], [filtered._jdf.queryExecution().analyzed().condition()]
    while todo:
        e = todo.pop()
        if e.nodeName() == "And":
            todo += [e.left(), e.right()]
            continue
        if e.nodeName() != "EqualTo":
            return None
        attr, lit = e.left(), e.right()
        if attr.nodeName() == "Literal":
            attr, lit = lit, attr
        if attr.nodeName() != "AttributeReference" or lit.nodeName() != "Literal":
            return None
        t, value = attr.dataType(), lit.value()
        if (
            value is None
            or t.catalogString() not in _EQUALITY_TYPES
            or not t.equals(lit.dataType())
        ):
            return None
        # a string literal arrives as a JVM UTF8String
        terms.append(
            (attr.exprId().id(), value if isinstance(value, int) else value.toString())
        )
    return terms


class VectorCollection:
    """A cosine-similarity vector collection backed by a lazy DataFrame.

    Mutations (upsert/delete) build new logical plans; nothing is persisted
    until ``save()`` — exactly the reference's in-memory-until-save contract
    (its tests call save() explicitly, tests/unit_tests.rs:28).

    Until its next mutation, a handle serves the files it opened or last
    saved. Writers are single-process by contract, so nothing rewrites
    those files meanwhile, and the handle may keep a copy of them on the
    driver: ``query()`` loads it and ``get()`` reuses it once loaded.
    """

    def __init__(self, spark: SparkSession, embedding_dim: int, df: DataFrame, path: str | None):
        self.spark = spark
        self.embedding_dim = embedding_dim
        self.metric = "cosine"  # the only metric, like the reference (src/lib.rs:143)
        self._df = df
        # normalize to absolute ONCE: Spark's JVM resolves relative write
        # paths against ITS working directory, which diverges from the
        # Python process's after any chdir — a relative store path would
        # then stage parquet in one place and look for the sidecar in
        # another (and the snapshot backing-files guard would compare a
        # relative target against absolute inputFiles() URIs)
        self.path = os.path.abspath(path) if path else path
        self._additional: dict[str, Any] = {}
        # True only when this handle PROVABLY holds zero rows (fresh empty
        # create); cleared by the first upsert. Purely an optimization flag:
        # False never changes behavior, it just runs the existing-ids probe.
        self._known_empty = False
        # The DataFrame open()/save() read straight from Parquet, and the
        # driver-resident copy of its files that query() and get() serve
        # from. Every mutation reassigns _df, so `_df is not _files_df`
        # retires both.
        self._files_df: DataFrame | None = None
        self._resident: tuple[DataFrame, _Resident | None] | None = None
        if path and os.path.exists(os.path.join(path, _SIDECAR)):
            with open(os.path.join(path, _SIDECAR)) as f:
                self._additional = json.load(f)

    # -- O1: open/create ----------------------------------------------------

    @staticmethod
    def _empty_df(spark: SparkSession, metadata_schema: T.StructType | None) -> DataFrame:
        fields = [
            T.StructField(ID_COL, T.StringType(), False),
            T.StructField(VECTOR_COL, T.ArrayType(T.FloatType()), False),
        ]
        if metadata_schema:
            # tolerate a full collection schema: reserved cols already present
            fields += [
                f for f in metadata_schema.fields if f.name not in (ID_COL, VECTOR_COL)
            ]
        return spark.createDataFrame([], T.StructType(fields))

    @classmethod
    def open(
        cls,
        spark: SparkSession,
        embedding_dim: int,
        path: str,
        metadata_schema: T.StructType | None = None,
    ) -> "VectorCollection":
        """Load an existing collection or create an empty one (reference new(),
        src/lib.rs:116-147). The load-time matrix-size validation
        (src/lib.rs:122-129) becomes a per-row dimension assertion at ingest,
        which is strictly stronger."""
        path = os.path.abspath(path)  # see __init__: JVM vs Python cwd
        cls._recover_interrupted_save(path)
        if os.path.exists(path) and any(
            n.endswith(".parquet") for n in os.listdir(path) if not n.startswith("_")
        ):
            df = spark.read.parquet(path)
            if VECTOR_COL not in df.columns or ID_COL not in df.columns:
                raise ValueError(f"not a collection: {path} lacks {ID_COL}/{VECTOR_COL}")
            col = cls(spark, embedding_dim, df, path)
            col._files_df = df
            return col
        col = cls(spark, embedding_dim, cls._empty_df(spark, metadata_schema), path)
        # freshly created ⇒ provably no rows: lets the first upsert skip the
        # existing-ids probe (one whole Spark job on the bulk-load path)
        col._known_empty = True
        return col

    # -- ingest guards ------------------------------------------------------

    def _validate_and_normalize(self, batch: DataFrame, strict: bool = True) -> DataFrame:
        """Q4/Q5 guards + normalize-at-write. ``strict`` raises on bad rows
        (reference panics, src/lib.rs:324-328,352-355); non-strict filters."""
        dim_ok = F.size(VECTOR_COL) == self.embedding_dim
        v = as_double_array(VECTOR_COL)
        norm = F.expr(norm_expr(v))
        # 0 < norm < inf, query()'s rule: an infinite element makes the norm
        # inf (normalizing then stores NaN) and a NaN one makes it NaN,
        # which Spark orders above +inf, so both fail the upper bound
        norm_ok = (norm > 0) & (norm < math.inf)
        if strict:
            bad = batch.filter(~dim_ok | ~norm_ok).limit(1).collect()
            if bad:
                row = bad[0]
                if len(row[VECTOR_COL]) != self.embedding_dim:
                    raise DimensionError(
                        f"vector for id={row[ID_COL]!r} has dim {len(row[VECTOR_COL])}, "
                        f"expected {self.embedding_dim}"
                    )
                raise ZeroVectorError(f"zero/invalid-norm vector for id={row[ID_COL]!r}")
        # JVM-side ML normalize (no Python hop); bit-identical to the HOF
        # zip_with/array_repeat formulation — both take a double norm and
        # truncate the double quotient to float32 — and ~40% faster on the
        # 100k×1024 micro (see fastknn.normalize_ml).
        from nano_vectordb_rs_spark.operators.fastknn import normalize_ml

        return normalize_ml(batch.filter(dim_ok & norm_ok), VECTOR_COL)

    # -- O2: upsert ---------------------------------------------------------

    def upsert(self, batch: DataFrame) -> dict[str, list[str]]:
        """Join-based merge with full-row-replace semantics (decision Q2) and
        last-writer-wins for duplicate ids within a batch (decision Q3).

        Returns ``{"updated": [ids...], "inserted": [ids...]}`` — the
        reference's (updated_ids, inserted_ids) report (src/lib.rs:184),
        each list in batch order.  The id lists are driver-side by API
        contract (the reference materializes them too); an upsert batch is
        the small side of the merge, so collecting its ids is O(|batch|),
        never O(|collection|).  The batch is broadcast; the base collection
        does not shuffle.

        One pass over the batch: the strict Q4/Q5 validation and the
        id report used to be two separate full scans of the batch (a
        ``limit(1)`` bad-row probe plus a post-dedup id collect); both now
        ride the SAME job — per-row ``(id, pos, dim, norm)`` is collected
        once (O(|batch|) driver rows, the size the id report already pays
        by contract) and validation, the LWW winner set and the batch-order
        report are derived from it driver-side.  The same driver knowledge
        also elides the in-batch dedup shuffle entirely when the batch has
        no duplicate ids (the common ingest shape — the optimizer cannot
        know this, the collected report proves it), and replaces the merge
        plan's batch-side broadcast subtree with a local id relation, so
        the anti join never re-traverses the batch lineage."""
        from pyspark.sql.window import Window

        from nano_vectordb_rs_spark.operators.fastknn import normalize_ml

        norm = F.expr(norm_expr(as_double_array(VECTOR_COL)))
        # normalize BEFORE the cache so every later consumer (probe-side
        # lineage, dedup, merge, post-merge queries) reads finished rows —
        # the raw norm/dim validation columns are computed off the raw
        # vector in the same projection, so nothing needs a second pass
        annotated = normalize_ml(
            batch.withColumn("__batch_pos__", F.monotonically_increasing_id())
            .withColumn("__dim__", F.size(VECTOR_COL))
            .withColumn("__norm__", norm)
        ).cache()
        # ONE report job: materializes the cache every later consumer
        # reads, and carries validation + the id report
        info = annotated.select(
            ID_COL, "__batch_pos__", "__dim__", "__norm__"
        ).collect()
        for r in info:
            # same per-row rule as _validate_and_normalize, first
            # offender raises
            if r["__dim__"] != self.embedding_dim:
                raise DimensionError(
                    f"vector for id={r[ID_COL]!r} has dim {r['__dim__']}, "
                    f"expected {self.embedding_dim}"
                )
            n = r["__norm__"]
            if n is None or not 0 < n < math.inf:
                raise ZeroVectorError(
                    f"zero/invalid-norm vector for id={r[ID_COL]!r}"
                )
        # LWW winners + batch-order report, derived driver-side
        last_pos: dict[str, int] = {}
        for r in info:
            p = r["__batch_pos__"]
            i = r[ID_COL]
            if i not in last_pos or p > last_pos[i]:
                last_pos[i] = p
        batch_ids = [
            i for i, _ in sorted(last_pos.items(), key=lambda kv: kv[1])
        ]
        if len(last_pos) == len(info):
            # no duplicate ids in the batch (proved by the report rows):
            # the LWW dedup is a no-op — skip its shuffle outright
            deduped = annotated
        else:
            w = Window.partitionBy(ID_COL).orderBy(
                F.col("__batch_pos__").desc()
            )
            deduped = (
                annotated.withColumn("__rn__", F.row_number().over(w))
                .filter(F.col("__rn__") == 1)
                .drop("__rn__")
            )
        batch_clean = deduped.filter(
            (F.col("__dim__") == self.embedding_dim)
            & (F.col("__norm__") > 0)
            & (F.col("__norm__") < math.inf)
        ).drop("__batch_pos__", "__dim__", "__norm__")
        # local id relation (typed like the batch id column): broadcasting
        # it costs no batch re-traversal in the probe or the merge plan
        id_field = batch.schema[ID_COL]
        ids_df = self.spark.createDataFrame(
            [(i,) for i in batch_ids],
            T.StructType(
                [T.StructField(ID_COL, id_field.dataType, id_field.nullable)]
            ),
        )
        if self._known_empty:
            # provably-empty collection (fresh create, nothing upserted yet):
            # every id is an insert — skip the probe job entirely
            existing: set[str] = set()
        else:
            # probe ships ONLY ids: the collection scan reads just the id
            # column (column-pruned), nothing of the batch is recomputed
            existing = {
                r[ID_COL]
                for r in self._df.join(F.broadcast(ids_df), ID_COL, "left_semi")
                .select(ID_COL)
                .collect()
            }
        merged = self._df.join(
            F.broadcast(ids_df), ID_COL, "left_anti"
        ).unionByName(batch_clean, allowMissingColumns=True)
        self._df = merged
        self._known_empty = False
        return {
            "updated": [i for i in batch_ids if i in existing],
            "inserted": [i for i in batch_ids if i not in existing],
        }

    # -- O3: query ----------------------------------------------------------

    def query(
        self,
        query_vector: list[float],
        top_k: int = 10,
        better_than: float | None = None,
        where: Column | str | None = None,
    ) -> DataFrame:
        """The flagship pipeline (src/lib.rs:188-260):

        filter(where) → score = dot(vector, normalize(q)) → score >= t →
        ORDER BY score DESC, __id__ LIMIT k.

        ``where`` may be any Column predicate — the Spark generalization of the
        reference's DataFilter closure (src/lib.rs:112), but optimizable.

        ``__metrics__`` equals, bit for bit, a left-to-right double fold of
        the stored float32 vector against the driver-normalized query. A
        query that is zero, non-finite or whose norm overflows raises
        ``ZeroVectorError`` before any Spark work: a NaN score would sort
        above every real score and fill the top-k.

        Two paths give the same rows, score bits, tie order and schema:

        * Resident: the handle's state is exactly the Parquet files it
          opened or last saved, local and at most ``_RESIDENT_MAX_BYTES``,
          and ``where`` is None or an equality subset: ``col = literal``,
          or an ``AND`` of such terms, where ``col`` is a top-level integer
          or string column and the literal is non-null and of exactly its
          type. The first such call reads the files into a driver-resident
          float32 matrix; every call then scores all rows in one vectorized
          pass, masks them by ``where`` and ``better_than``, and returns a
          local DataFrame, so it runs no Spark job. On the Spark path the
          interpreted ``zip_with``/``aggregate`` fold plus one job per call
          are most of a serving call's time.
        * Spark: everything else (any other ``where``, unsaved mutations,
          larger or non-local files), as one plan: scan → score →
          TakeOrderedAndProject. The query travels as one folded literal
          node (``folded_array_lit``). Floating-point columns stay here
          because Spark's ``=`` holds for NaN = NaN.

        Either way ``where`` is analyzed against the collection first, so an
        invalid predicate raises the same ``AnalysisException``.
        """
        if top_k < 0:
            raise ValueError(f"top_k must be >= 0, got {top_k}")
        if len(query_vector) != self.embedding_dim:
            raise DimensionError(
                f"query dim {len(query_vector)} != collection dim {self.embedding_dim}"
            )
        qnorm = sum(x * x for x in query_vector) ** 0.5
        # a NaN or infinite element makes the norm NaN or inf
        if not 0 < qnorm < math.inf:
            raise ZeroVectorError("zero, non-finite or overflowing query vector")
        q = [x / qnorm for x in query_vector]  # O3a, hoisted to the driver

        df = self._df if where is None else self._df.filter(where)
        terms = [] if where is None else _equality_terms(df)
        resident = None if terms is None else self._resident_state()
        if resident is not None:
            return self._resident_query(resident, q, top_k, better_than, terms)
        df = self._scored(df, q)
        if better_than is not None:
            df = df.filter(F.col(METRICS_COL) >= float(better_than))
        return df.orderBy(F.col(METRICS_COL).desc(), F.col(ID_COL).asc()).limit(top_k)

    @staticmethod
    def _scored(df: DataFrame, q: list[float]) -> DataFrame:
        return df.withColumn(METRICS_COL, F.expr(dot_expr(VECTOR_COL, folded_array_lit(q))))

    def _resident_state(self) -> _Resident | None:
        """The driver-resident copy of this handle's files, read on the
        first call that can use it; None when the state is not exactly the
        files open()/save() read, or they cannot be served resident."""
        df = self._df
        if df is not self._files_df:
            return None
        if self._resident is None or self._resident[0] is not df:
            self._resident = (df, self._read_resident(df))
        return self._resident[1]

    def _read_resident(self, df: DataFrame) -> _Resident | None:
        """Read exactly the files ``df`` scans with pyarrow (not
        ``toArrow()``, which runs a Spark job and is several times slower)."""
        from urllib.parse import unquote, urlparse

        import numpy as np
        import pyarrow.compute as pc
        import pyarrow.parquet as pq
        from pyspark.sql.pandas.types import to_arrow_schema

        uris = [urlparse(u) for u in df.inputFiles()]
        if not uris or any(u.scheme != "file" for u in uris):
            return None
        paths = [unquote(u.path) for u in uris]
        if sum(os.path.getsize(p) for p in paths) > _RESIDENT_MAX_BYTES:
            return None
        # Cast to the Arrow form of the Spark schema: Spark's INT96
        # timestamps read back naive, and this tags them UTC, which they
        # are, whatever the session time zone.
        table = (
            pq.read_table(paths)
            .select(df.columns)
            .cast(to_arrow_schema(df.schema))
            .combine_chunks()
        )
        vectors = table.column(VECTOR_COL).combine_chunks()
        lengths = pc.list_value_length(vectors).to_numpy(zero_copy_only=False)
        # the Spark path scores a NULL or wrong-length vector NULL and sorts
        # a NULL id first: leave such collections to it
        if (
            vectors.null_count
            or table.column(ID_COL).null_count
            or (lengths != self.embedding_dim).any()
        ):
            return None
        # the list column's flat buffer is the row-major matrix (see
        # fastknn.batch_matrix); column-major makes each fold step contiguous
        matrix = np.asfortranarray(
            np.asarray(vectors.flatten(), dtype=np.float32).reshape(
                len(vectors), self.embedding_dim
            )
        )
        # NumPy and Spark order NULL and NaN scores differently. Ingest
        # rejects such elements, but apply_changes replays a feed verbatim.
        if not np.isfinite(matrix).all():
            return None
        schema = self._scored(df, [0.0] * self.embedding_dim).schema
        out = df._jdf.queryExecution().analyzed().output()
        columns = {out.apply(i).exprId().id(): c for i, c in enumerate(df.columns)}
        return _Resident(table, matrix, table.column(ID_COL).to_pylist(), schema, columns)

    def _resident_query(
        self,
        res: _Resident,
        q: list[float],
        top_k: int,
        better_than: float | None,
        equalities: list[tuple[int, Any]],
    ) -> DataFrame:
        import numpy as np
        import pyarrow as pa
        import pyarrow.compute as pc

        from nano_vectordb_rs_spark.operators.fastknn import _make_keep_topk

        # dot_expr's fold, one column at a time: s = 0.0, s += x_j * q_j,
        # each float32 x_j widened exactly and every step rounded in double,
        # as in the JVM. dtype= forces the double product.
        n = res.matrix.shape[0]
        scores, term = np.zeros(n), np.empty(n)
        for j, qj in enumerate(q):
            np.multiply(res.matrix[:, j], qj, out=term, dtype=np.float64)
            scores += term
        keep = np.ones(n, dtype=bool)
        # attributes map to columns by exprId, not name: F.col("LABEL")
        # analyzes to LABEL#2 over a column stored as "label"
        for expr_id, value in equalities:
            column = res.table.column(res.columns[expr_id])
            eq = pc.equal(column, pa.scalar(value, column.type)).fill_null(False)
            keep &= eq.to_numpy(zero_copy_only=False)
        if better_than is not None:
            keep &= scores >= float(better_than)
        cand = np.flatnonzero(keep)
        cand = cand[_make_keep_topk()(scores[cand], top_k)] if top_k else cand[:0]
        # Python str order is code-point order, which is Spark's UTF-8 byte order
        rows = sorted(cand.tolist(), key=lambda i: (-scores[i], res.ids[i]))[:top_k]
        out = res.table.take(pa.array(rows, pa.int64())).append_column(
            METRICS_COL, pa.array(scores[rows], pa.float64())
        )
        return self.spark.createDataFrame(out, schema=res.schema)

    def query_batch(
        self,
        queries: DataFrame,
        top_k: int = 10,
        better_than: float | None = None,
        where: Column | str | None = None,
    ) -> DataFrame:
        """Top-k for EACH row of a query DataFrame (``__id__``, ``vector``)
        in one distributed plan — the scale-out generalization the reference
        lacks (its query() is one vector per call, src/lib.rs:188-260; N
        calls = N full scans; here N queries share ONE corpus scan).

        The query block is broadcast and normalized on the fly; ranking is a
        per-query-id window, so the shuffle carries only scored pairs.
        Returns (query_id, __id__, metadata..., __metrics__, rank)."""
        from pyspark.sql.window import Window

        if top_k < 0:
            raise ValueError(f"top_k must be >= 0, got {top_k}")
        qnorm = self._validate_and_normalize(queries).select(
            F.col(ID_COL).alias("__query_id__"),
            F.col(VECTOR_COL).alias("__query_vec__"),
        )
        df = self._df
        if where is not None:
            df = df.filter(where)
        score = F.expr(dot_expr(VECTOR_COL, "__query_vec__"))
        scored = df.join(F.broadcast(qnorm)).withColumn(METRICS_COL, score)
        if better_than is not None:
            scored = scored.filter(F.col(METRICS_COL) >= float(better_than))
        w = Window.partitionBy("__query_id__").orderBy(
            F.col(METRICS_COL).desc(), F.col(ID_COL).asc()
        )
        return (
            scored.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= top_k)
            .drop("__query_vec__")
            .orderBy("__query_id__", "rank")
        )

    # -- O4/O5: get / delete ------------------------------------------------

    def get(self, ids: list[str], ordered: bool = False) -> DataFrame:
        """Point lookup; missing ids silently dropped (src/lib.rs:263-270).
        Ids are compared as strings. Unordered, each stored row whose id is
        requested comes back once, however often it is requested.
        ``ordered=True`` returns one row per requested position in
        requested-id order, matching the reference's sequential lookup loop.

        When ``query()`` has already loaded this handle's driver-resident
        copy, the lookup is answered from it (an Arrow ``is_in`` and
        ``take``) as a local DataFrame: no Spark job, same rows and schema.
        ``get`` never loads the copy itself: reading the whole collection
        costs more than one pushed-down scan for a few ids.

        Otherwise the unordered lookup is an ``IN`` filter pushed to the
        Parquet scan: the id list is driver-sized by contract, so one
        filtered scan beats a broadcast join, which costs a second Spark
        job. The ordered lookup is a broadcast inner join tagged with the
        request position, so still a single scan, no shuffle."""
        resident = self._resident
        if resident is not None and resident[0] is self._df and resident[1] is not None:
            return self._resident_get(resident[1], [str(i) for i in ids], ordered)
        if ordered:
            ids_df = self.spark.createDataFrame(
                [(str(i), p) for p, i in enumerate(ids)], f"{ID_COL} string, __pos__ int"
            )
            return (
                self._df.join(F.broadcast(ids_df), ID_COL)
                .orderBy("__pos__")
                .drop("__pos__")
            )
        return self._df.filter(F.col(ID_COL).isin([str(i) for i in ids]))

    def _resident_get(self, res: _Resident, ids: list[str], ordered: bool) -> DataFrame:
        import numpy as np
        import pyarrow as pa
        import pyarrow.compute as pc

        stored = res.table.column(ID_COL)
        hit = pc.is_in(stored, value_set=pa.array(ids, stored.type))
        rows = np.flatnonzero(hit.to_numpy(zero_copy_only=False)).tolist()
        schema = self._df.schema
        if ordered:
            by_id: dict[str, list[int]] = {}
            for i in rows:
                by_id.setdefault(res.ids[i], []).append(i)
            rows = [i for k in ids for i in by_id.get(k, ())]
            # the join puts its key column first
            schema = T.StructType(
                [schema[ID_COL]] + [f for f in schema.fields if f.name != ID_COL]
            )
        out = res.table.take(pa.array(rows, pa.int64())).select(schema.fieldNames())
        return self.spark.createDataFrame(out, schema=schema)

    def delete(self, ids: list[str]) -> None:
        """Anti-join removal (src/lib.rs:273-286); cannot desynchronize
        anything because the vector column is canonical (fixes quirk Q1)."""
        ids_df = self.spark.createDataFrame([(str(i),) for i in ids], f"{ID_COL} string")
        self._df = self._df.join(F.broadcast(ids_df), ID_COL, "left_anti")

    # -- O6: save -----------------------------------------------------------

    @staticmethod
    def _recover_interrupted_save(path: str) -> None:
        """Replay the tail of a save() swap that crashed mid-flight (called
        from open() AND from save() itself, before either touches the
        dirs).  save() only starts its rename-aside swap AFTER the staged
        dir is complete (parquet ``_SUCCESS`` committed AND sidecar
        written — both are required below, so a first-save crash between
        the parquet commit and the sidecar write is correctly treated as
        "the save never happened" rather than promoted minus half its
        payload), so if the live dir is missing:

        * a COMPLETE ``.staging`` dir means the crash hit between the two
          renames — finish the swap by promoting it (and drop the aside
          copy, whose content it supersedes);
        * otherwise a ``.old`` aside copy means the staged data never
          finished — roll the aside copy back into place.

        Without this, a crash in that window would leave open() silently
        creating an EMPTY collection while the real data sat in dirs it
        never looks at."""
        if os.path.exists(path):
            return
        staged, old = path + ".staging", path + ".old"
        if (
            os.path.isdir(staged)
            and os.path.exists(os.path.join(staged, "_SUCCESS"))
            and os.path.exists(os.path.join(staged, _SIDECAR))
        ):
            os.rename(staged, path)
            if os.path.isdir(old):
                shutil.rmtree(old)
        elif os.path.isdir(old):
            os.rename(old, path)
            shutil.rmtree(staged, ignore_errors=True)

    def save(self, path: str | None = None) -> None:
        """Persist via a crash-safe rename-aside swap: stage the full
        rewrite (parquet + sidecar) beside the target, move the live dir
        aside, promote the staged dir, drop the aside copy.  Parquet cannot
        overwrite a location it is still reading from, hence the staging;
        the rename-aside (rather than rmtree-then-rename) means NO crash
        window loses committed data — every intermediate state is replayed
        by ``_recover_interrupted_save`` on the next open() OR on a retried
        save() (the replay below).  A retry on the SAME handle after a
        mid-swap crash first restores the target dir; its own write may
        then still fail because the handle's lazy plan can reference
        renamed-away files — reopen to continue — but the store on disk
        stays whole either way."""
        path = os.path.abspath(path) if path else self.path
        if not path:
            raise ValueError("no storage path configured")
        staged = path + ".staging"
        old = path + ".old"
        # replay any interrupted PRIOR swap of this target before touching
        # its dirs: without this, a retry after a crash between the two
        # renames would rmtree the .old aside copy — the only committed
        # copy — and then fail its own staged write (whose input files
        # lived under the renamed-away dir), bricking the store
        self._recover_interrupted_save(path)
        if os.path.isdir(old) and os.path.exists(path):
            # remnant of a crash after a completed promote: the live dir
            # exists, so the aside copy is superseded (and would block the
            # rename-aside below)
            shutil.rmtree(old)
        self._df.write.mode("overwrite").parquet(staged)
        with open(os.path.join(staged, _SIDECAR), "w") as f:
            json.dump(self._additional, f)
        if os.path.exists(path):
            os.rename(path, old)
        os.rename(staged, path)
        if os.path.isdir(old):
            shutil.rmtree(old)
        self.path = path
        self._df = self._files_df = self.spark.read.parquet(path)

    def compact(self, target_rows_per_file: int = 500_000) -> int:
        """Rewrite the collection into ``ceil(count / target)`` parquet files
        and save. The streaming/batch upsert path accretes one file set per
        micro-batch (the classic small-files problem); at scale thousands of
        tiny files dominate scan planning time. No analogue in the reference
        (its whole store is one JSON file, src/lib.rs:289-293).

        Returns the resulting file count. round_robin repartition (no
        column argument) spreads rows evenly without a shuffle key."""
        n = self.count()
        n_files = max(1, -(-n // max(1, target_rows_per_file)))
        self._df = self._df.repartition(n_files)
        self.save()
        return n_files

    # -- snapshots (time travel) ---------------------------------------------
    # No analogue in the reference (save() is a destructive overwrite,
    # src/lib.rs:289-293); this is the lakehouse extension of O6: each
    # snapshot is an immutable versioned copy of the store plus its sidecar,
    # published atomically (staged write → rename), with a manifest listing
    # live versions. Snapshots live BESIDE the data dir (<path>.snapshots/)
    # because save()'s staged swap rmtree-replaces <path> itself.
    #
    # Scale note: this materializes a full copy per version because save()'s
    # contract is a full rewrite; a production variant over immutable data
    # files records file REFERENCES in the manifest instead (the
    # Iceberg/Delta model) so a snapshot is O(manifest), not O(data). The
    # read path here is already that shape — open_snapshot just opens a
    # directory — so swapping the write path later changes no consumer.
    #
    # Durability caveats, stated rather than hidden: the atomic-publish
    # guarantee rides on os.rename, which is atomic on a POSIX filesystem
    # but NOT on object stores (S3 "rename" is copy+delete) — there, the
    # manifest-pointer variant above is the correct design, with the
    # manifest swap as a single small PUT. Writers are single-process by
    # contract (like the reference's &mut self API): two handles snapshotting
    # the same store concurrently can interleave manifest versions.
    #
    # Crash-safety across the WHOLE lifecycle: save() uses a
    # rename-aside swap whose every window is replayed by
    # _recover_interrupted_save on the next open(); save_snapshot()
    # publishes with a single rename and versions past crash-orphaned vN
    # dirs; delete_snapshot() drops the manifest entry before the files, so
    # a crash mid-retention leaves an unreferenced dir (garbage, never a
    # dangling live version); expire_snapshots() sweeps oldest-first so an
    # interrupted sweep leaves a contiguous recent tail.

    def _snapshot_root(self) -> str:
        if not self.path:
            raise ValueError("no storage path configured")
        return self.path + ".snapshots"

    def snapshots(self) -> list[int]:
        """Live snapshot versions, ascending (empty if none ever taken)."""
        manifest = os.path.join(self._snapshot_root(), "manifest.json")
        if not os.path.exists(manifest):
            return []
        with open(manifest) as f:
            return sorted(json.load(f)["versions"])

    def save_snapshot(self) -> int:
        """Persist the current state as the next immutable version and
        return its number. The data dir and any prior snapshot are
        untouched; a crash mid-write leaves only an unpublished .staging
        dir (the manifest is renamed into place last)."""
        root = self._snapshot_root()
        os.makedirs(root, exist_ok=True)
        versions = self.snapshots()
        # next version = max(manifest, v* dirs on disk) + 1: a crash between
        # the data-dir rename and the manifest rename leaves an orphan vN dir
        # the manifest never learned about; recomputing N from the manifest
        # alone would collide with it (os.rename onto an existing dir fails)
        # and wedge snapshotting until manual cleanup. Scanning the disk too
        # makes the orphan inert — it is simply skipped over.
        on_disk = [
            int(d[1:])
            for d in os.listdir(root)
            if d.startswith("v") and d[1:].isdigit()
        ]
        v = max(versions + on_disk, default=0) + 1
        target = os.path.join(root, f"v{v}")
        staged = target + ".staging"
        self._df.write.mode("overwrite").parquet(staged)
        with open(os.path.join(staged, _SIDECAR), "w") as f:
            json.dump(self._additional, f)
        os.rename(staged, target)
        # same lineage collapse save() does: later mutations read the just-
        # written immutable files instead of recomputing the whole merge
        # plan. Safe because snapshots are never deleted or overwritten —
        # a future retention API must re-point readers before reclaiming.
        self._df = self._files_df = self.spark.read.parquet(target)
        manifest = os.path.join(root, "manifest.json")
        tmp = manifest + ".tmp"
        with open(tmp, "w") as f:
            json.dump({"versions": versions + [v]}, f)
        os.rename(tmp, manifest)
        return v

    def _versions_joined(
        self, version_a: int, version_b: int
    ) -> tuple[DataFrame, list[str]]:
        """Shared core of ``diff_snapshots`` (id+kind) and ``changes`` (full
        CDC payload): a full-outer join of two snapshot versions on the id
        with a nullable ``change`` classification column.  Returns the
        joined frame (``ID_COL``, ``__a__``/``__b__`` full-row structs,
        ``change``) plus the unioned metadata column list.  'changed'
        compares the full row: exact f32 vector equality plus every
        metadata column (struct <=> struct is null-safe equality over every
        field, vector arrays included — one codegen'd comparison, no
        per-column chain)."""
        a = VectorCollection.open_snapshot(
            self.spark, self.embedding_dim, self.path, version_a
        ).df
        b = VectorCollection.open_snapshot(
            self.spark, self.embedding_dim, self.path, version_b
        ).df
        meta_cols = sorted(
            (set(a.columns) | set(b.columns)) - {ID_COL, VECTOR_COL}
        )

        def side(df: DataFrame, alias: str) -> DataFrame:
            # qcol (literal-name resolution), not F.col(c): a metadata
            # column named with '.' or '`' would misresolve as a path
            return df.select(
                F.col(ID_COL),
                F.struct(
                    F.col(VECTOR_COL),
                    *[
                        (qcol(c) if c in df.columns else F.lit(None)).alias(c)
                        for c in meta_cols
                    ],
                ).alias(alias),
            )

        joined = side(a, "__a__").join(side(b, "__b__"), ID_COL, "full_outer")
        change = (
            F.when(F.col("__a__").isNull(), F.lit("added"))
            .when(F.col("__b__").isNull(), F.lit("removed"))
            .when(~F.col("__a__").eqNullSafe(F.col("__b__")), F.lit("changed"))
        )
        return joined.withColumn("change", change), meta_cols

    def diff_snapshots(self, version_a: int, version_b: int) -> DataFrame:
        """Row-level change summary between two snapshot versions: one row
        per id whose state differs, ``change ∈ {'added','removed',
        'changed'}`` (ids identical in both versions are excluded — the
        diff of a 100-TB store is read for its delta, not its unchanged
        bulk).  Plan shape: a full outer join of two parquet scans on the
        id — the one unavoidable shuffle of a diff; at scale both snapshot
        writes would bucket by id so the join is co-partitioned
        (save_snapshot writes whatever partitioning the plan carries, so a
        bucketed writer slots in without touching this read path)."""
        joined, _ = self._versions_joined(version_a, version_b)
        return joined.filter(F.col("change").isNotNull()).select(ID_COL, "change")

    def changes(self, version_a: int, version_b: int) -> DataFrame:
        """Full CDC feed between two snapshot versions — ``diff_snapshots``
        with the payload attached (the Delta-CDF / Debezium shape: ship the
        delta, not the table).  One row per differing id with columns
        ``(ID_COL, change, vector, <metadata...>)``; the payload is the
        version_b row for 'added'/'changed' and all-NULL for 'removed'.
        Feeding this frame to ``apply_changes`` on a handle at version_a
        reconstructs version_b exactly — pinned by the cdc_apply_report
        gate query.  Same single full-outer-join plan as diff_snapshots."""
        joined, meta_cols = self._versions_joined(version_a, version_b)
        # struct indexing (col("__b__")[c]), not a dotted f-string path:
        # upsert accepts arbitrary metadata column names, and a name
        # containing '.' or '`' would misresolve as a nested path
        b = F.col("__b__")
        return joined.filter(F.col("change").isNotNull()).select(
            ID_COL,
            "change",
            b[VECTOR_COL].alias(VECTOR_COL),
            *[b[c].alias(c) for c in meta_cols],
        )

    def apply_changes(
        self, feed: DataFrame, validate_unique_ids: bool = True
    ) -> None:
        """Replay a ``changes()`` feed onto the current state — the
        consumer half of CDC: drop every 'removed' id, full-row-replace
        every 'changed' id, insert every 'added' id.  A handle opened at
        version_a becomes exactly version_b after applying
        ``changes(version_a, version_b)``.

        This is a PHYSICAL replay: payload bytes are applied verbatim — no
        re-normalization (the feed's vectors were already normalized at
        their original ingest) and no dim re-validation, so replayed
        vectors stay bit-identical to the source version.  Precondition:
        one row per id (``changes()`` guarantees it by construction).  A
        hand-built feed with an unknown or NULL ``change`` kind, or — with
        ``validate_unique_ids`` (default) — a duplicate id, fails at
        evaluation time via ``raise_error`` (lazy, like the rest of the
        plan): without the kind guard an unknown row would silently act as
        a delete (its id anti-joins away, NULL never matches the upsert
        filter), and without the id guard a duplicate feed id would insert
        duplicate rows, breaking the per-id invariant every other mutator
        (upsert/delete) preserves.  The id guard is a count window keyed
        on the id — the same key the anti join shuffles on, so a shuffled
        feed reuses the exchange; feeds that are one-row-per-id by
        construction (``changes()`` output on a hot path) can pass
        ``validate_unique_ids=False`` to let a small feed broadcast
        without the window shuffle.  Plan: one anti join on the id (drop
        every touched id) + a union of the added/changed payload — both
        partition on the id key; a small nightly feed's anti join
        broadcasts under AQE, a full-corpus feed shuffles like any merge.
        Lazy like delete()/upsert(): nothing persists until save()."""
        payload_cols = [c for c in feed.columns if c != "change"]
        # validated kind column: computed (not a raw parquet column), so the
        # filter below cannot be pushed past it — every feed row's kind is
        # checked on the upsert branch's scan
        kind = F.when(
            F.col("change").isin("added", "changed", "removed"),
            F.col("change"),
        ).otherwise(
            F.raise_error(
                F.concat(
                    F.lit("apply_changes: unknown change kind "),
                    F.coalesce(F.col("change"), F.lit("NULL")),
                )
            )
        )
        if validate_unique_ids:
            from pyspark.sql.window import Window

            n_per_id = F.count("*").over(Window.partitionBy(ID_COL))
            kind = F.when(
                n_per_id > 1,
                F.raise_error(
                    F.concat(
                        F.lit("apply_changes: duplicate feed id "),
                        F.col(ID_COL),
                    )
                ),
            ).otherwise(kind)
        upserts = (
            feed.withColumn("change", kind)
            .filter(F.col("change") != F.lit("removed"))
            .select(*[qcol(c) for c in payload_cols])
        )
        self._df = self._df.join(
            feed.select(ID_COL), ID_COL, "left_anti"
        ).unionByName(upserts, allowMissingColumns=True)

    def delete_where(self, predicate: Column | str) -> None:
        """Predicate delete — the set-based generalization of O5's id-list
        delete (src/lib.rs:273-286): remove every row matching an arbitrary
        Column expression or SQL-string predicate (the same union type
        ``query(where=...)`` accepts) without materializing an id list on
        the driver (a GDPR purge or retention sweep at 100 TB cannot
        collect its ids). Same lazy contract as delete(): nothing persists
        until save()."""
        if isinstance(predicate, str):
            predicate = F.expr(predicate)
        self._df = self._df.filter(~F.coalesce(predicate, F.lit(False)))

    def delete_snapshot(self, version: int) -> None:
        """Retention: drop snapshot ``version`` — manifest first (so a
        concurrent open_snapshot race sees a missing version, never a
        half-deleted directory advertised as live), then the files. The
        live store is untouched; deleting a version this handle's ``_df``
        currently reads from is refused (save_snapshot re-points readers
        at the newest version's files)."""
        versions = self.snapshots()
        if version not in versions:
            raise ValueError(f"no snapshot v{version} at {self.path}")
        target = os.path.join(self._snapshot_root(), f"v{version}")
        if self._dir_backs(target, self._backing_paths()):
            raise SnapshotInUseError(
                f"snapshot v{version} backs this handle's current state; "
                "save() or save_snapshot() first"
            )
        manifest = os.path.join(self._snapshot_root(), "manifest.json")
        tmp = manifest + ".tmp"
        with open(tmp, "w") as f:
            json.dump({"versions": [v for v in versions if v != version]}, f)
        os.rename(tmp, manifest)
        shutil.rmtree(target, ignore_errors=True)

    def _backing_paths(self) -> set[str]:
        """Absolute, URI-decoded paths of the files backing this handle's
        current plan.  inputFiles() returns URIs (``file:/...``, possibly
        percent-encoded), so both this and ``_dir_backs`` compare ABSOLUTE
        decoded path components — a relative collection path must still
        match the absolute URI paths Spark reports, or a guard silently
        passes and a sweep deletes the files backing the live handle."""
        from urllib.parse import unquote, urlparse

        return {
            os.path.abspath(unquote(urlparse(f).path or f))
            for f in self._df.inputFiles()
        }

    @staticmethod
    def _dir_backs(target: str, backing: set[str]) -> bool:
        """True if any backing file IS ``target`` or lives under it.
        Path-BOUNDARY match, never substring: "v1" is a string prefix of
        "v10"/"v11"/..., so a substring test spuriously refuses deleting
        v1 (the normal oldest-first retention pattern) once the handle
        reads v10+.  The single shared implementation for every
        is-this-dir-live guard (delete_snapshot, vacuum) — this logic has
        had one data-loss bug already; keep it in one place."""
        target_abs = os.path.abspath(target)
        sep = target_abs.rstrip(os.sep) + os.sep
        return any(p == target_abs or p.startswith(sep) for p in backing)

    def expire_snapshots(self, keep_last: int) -> list[int]:
        """Retention sweep — drop every snapshot except the newest
        ``keep_last`` (the Iceberg ``expireSnapshots`` / Delta ``VACUUM``
        shape): oldest-first so a crash mid-sweep leaves a contiguous
        recent tail, never a gap. A version the handle currently reads
        (possible when keep_last is 0 and the handle sits on the newest
        snapshot's files) is skipped rather than refused — a sweep is
        best-effort by contract. Returns the versions actually dropped.

        At 100 TB this is the storage-cost control for the full-copy
        snapshot write path: retention × corpus size is the bill, and the
        manifest-pointer variant (module comment above) drops only
        unreferenced files instead."""
        if keep_last < 0:
            raise ValueError("keep_last must be >= 0")
        doomed = self.snapshots()[: -keep_last or None]
        dropped: list[int] = []
        for v in doomed:
            try:
                self.delete_snapshot(v)
            except SnapshotInUseError:
                continue  # backs this handle's current state — skip
            # any OTHER ValueError (e.g. "no snapshot vN" because another
            # handle rewrote the manifest between snapshots() and here)
            # propagates: silently swallowing it would misreport a real
            # inconsistency as a benign skip
            dropped.append(v)
        return dropped

    def vacuum(self) -> dict[str, int]:
        """Reclaim crash droppings the swap/recovery protocol deliberately
        leaves behind — the GC half of crash safety (the Iceberg
        remove-orphan-files / Delta VACUUM shape, applied to this store's
        directory layout; no reference analogue, its store is one file):

          * a stranded ``<path>.staging`` beside the LIVE dir (a save whose
            swap never started — an unswapped save never happened, the live
            dir supersedes it by contract), and likewise an unpublished
            ``vN.staging`` under the snapshot root;
          * a ``<path>.old`` aside copy beside the live dir (crash after
            the promote, before the cleanup);
          * orphan ``vN`` snapshot dirs the manifest never learned about
            (crash between save_snapshot's data rename and manifest
            rename — the version counter already skips them; this reclaims
            the bytes);
          * a half-written ``manifest.json.tmp``.

        REFUSES to run while the live dir is missing: in that state the
        ``.staging``/``.old`` dirs are the recovery INPUTS open() replays,
        not garbage. Any dir whose files back this handle's current state
        is skipped, not an error (same boundary-match guard as
        delete_snapshot) — a GC sweep is best-effort by contract. Returns
        per-kind reclaim counts. At 100 TB this runs as the nightly
        maintenance job beside compact() and expire_snapshots(); all its
        work is O(directory listing), never a data scan."""
        if not self.path:
            raise ValueError("no storage path configured")
        if not os.path.exists(self.path):
            raise ValueError(
                f"live dir missing at {self.path}: refusing to vacuum — "
                "the .staging/.old dirs are recovery inputs until open() "
                "replays them"
            )
        backing = self._backing_paths()
        removed = {"staging": 0, "aside": 0, "orphan_snapshots": 0, "manifest_tmp": 0}
        for kind, d in (
            ("staging", self.path + ".staging"),
            ("aside", self.path + ".old"),
        ):
            if os.path.isdir(d) and not self._dir_backs(d, backing):
                shutil.rmtree(d)
                removed[kind] += 1
        root = self._snapshot_root()
        if os.path.isdir(root):
            live = set(self.snapshots())
            for name in sorted(os.listdir(root)):
                full = os.path.join(root, name)
                if not os.path.isdir(full):
                    if name == "manifest.json.tmp":
                        os.remove(full)
                        removed["manifest_tmp"] += 1
                    continue
                if self._dir_backs(full, backing):
                    continue
                if name.startswith("v") and name[1:].isdigit():
                    if int(name[1:]) not in live:
                        shutil.rmtree(full)
                        removed["orphan_snapshots"] += 1
                elif name.endswith(".staging"):
                    shutil.rmtree(full)
                    removed["staging"] += 1
        return removed

    @classmethod
    def open_snapshot(
        cls, spark: SparkSession, embedding_dim: int, path: str, version: int
    ) -> "VectorCollection":
        """Open snapshot ``version`` of the collection at ``path`` read-only
        in spirit: the returned collection's own path is the snapshot dir,
        so a save() through it cannot clobber the live store."""
        target = os.path.join(os.path.abspath(path) + ".snapshots", f"v{version}")
        if not os.path.isdir(target):
            raise ValueError(f"no snapshot v{version} at {path}")
        return cls.open(spark, embedding_dim, target)

    # -- O7/O8: collection metadata ----------------------------------------

    def additional_data(self) -> dict[str, Any]:
        return dict(self._additional)

    def store_additional_data(self, data: dict[str, Any]) -> None:
        self._additional = dict(data)

    # -- O9/O10/O11: stats --------------------------------------------------

    def count(self) -> int:
        return self._df.count()

    def __len__(self) -> int:
        """``len(collection)`` — the reference's O9 surface verbatim."""
        return self.count()

    def is_empty(self) -> bool:
        return self._df.isEmpty()

    def vector_elems(self) -> int:
        row = self._df.agg(F.sum(F.size(VECTOR_COL)).alias("n")).collect()[0]
        return int(row["n"] or 0)

    # -- escape hatch -------------------------------------------------------

    @property
    def df(self) -> DataFrame:
        return self._df
