"""VectorStore — the engine facade, mirroring the reference's `VerVectorDB`
class surface (vervectordb/__init__.py:221-594) on Spark DataFrames.

A user of the reference can switch 1:1:

    reference                      → vervectordb_spark.VectorStore
    ---------------------------------------------------------------
    VerVectorDB(dim, path)         → VectorStore(spark, dim, path)
    insert / batch_insert          → insert / batch_insert        (S2, S3)
    get_by_id                      → get_by_id                    (P1)
    update / delete                → update / delete              (P2, P3)
    brute_force_search             → brute_force_search           (Q1)
    hnsw_search                    → ann_search (LSH/IVF-backed)  (Q2 intent;
                                      the reference's HNSW is broken — B1)
    build_ivf_index / ivf_search   → build_ivf_index / ivf_search (Q4, Q5)
    batch_search                   → batch_search                 (Q6)
    filtered_search                → filtered_search              (Q7)
    train_pq / compress/decompress → train_pq / compress / decompress (C1-C5)
    save / load                    → save / load (parquet + model artifacts,
                                      not a pickle blob — S4, S5)

Mutability: the reference mutates the matrix in place; DataFrames are
immutable, so update/delete are copy-on-write rewrites. Every assignment
of the store frame (`df`) starts a new store VERSION. Unlike the
reference (which leaves HNSW stale after update/delete —
vervectordb/__init__.py:311-335), no index here can dangle, because the
store's derived state is of two kinds:

  * FITS — IVF centroids, IMI half-centroids, the BRP-LSH model and the
    PQ, SQ, BQ, rotated-BQ and residual codecs. Only a build_*/train_*
    call or load() changes a fit; writes never do (an IVF refit drops
    the residual codec fitted against the old centroids).
  * ROW-DERIVED FRAMES — the serving frame (which carries each row's
    IVF cluster_id), the IMI cells, the ANN featurized rows and the
    residual codes. Each is a function of (fit, version): built lazily
    by the first read of a version, persisted MEMORY_AND_DISK, and
    unpersisted when the next version's replaces it (`_derived`).

So after a write every index keeps its fit and has its rows reassigned
under it — the rule streaming/refresh.py applies to arriving batches.

Serving: brute_force_search, filtered_search, ivf_search and batch_search
read the version's serving frame — the store rows plus their self-dot
(and, with an IVF index, their cluster_id). Every later read of the
version scans cached columns instead of replaying the write lineage, the
per-row norm fold and the cluster predict. Written rows travel as one
Arrow table (a LocalRelation), so no read forks a Python worker for them.

Driver tier: a version whose serving frame is small enough is also held
on the driver, like the reference's one in-memory matrix
(vervectordb/__init__.py:228,248), and brute_force_search, ivf_search,
batch_search and get_by_id answer from NumPy with no Spark job. Scores
are the same left folds in float64 (functions.similarity.fold_scores)
and the order is Spark's (score, then vec_id), so results are
bit-identical to the Spark path. A version gets its matrix one of two
ways:

  * CARRIED — insert/batch_insert, update, delete and checkpoint() hand
    the current version's matrix on to the next one with the write
    queued (`_Delta`; get_by_id reads through the queue). The next read
    that needs the matrix (a tier search, or a Spark read building its
    serving frame) applies every queued write in one edit, the way the
    reference edits its matrix
    (vervectordb/__init__.py:247-267,311-322): minus the touched ids,
    plus the written rows, with their self-dot and IVF cluster_id
    computed on the driver (`_Delta.fold`). No write runs a Spark job
    for it, a run of writes costs what it costs without the tier, and
    the reads after a write stay on the driver.
  * FILLED — every other version (after ingest, merge, restore_version,
    load, a refit, a codec column, a non-finite written vector) starts
    from scratch: its first read is Spark's, and its second collects the
    serving frame once through Arrow (`_Matrix.collect`), so a version
    read once never pays the collect.

Reads with a Column predicate (pre_filter, filtered_search) stay on
Spark; on a carried version their serving frame is the matrix's own
rows as one LocalRelation. "Small enough" is the fixed driver budget
`_TIER_BYTES`, checked at every fill and every fold of a carry by one
measure (`_peak_bytes`): the fill's peak — the Arrow table of the
serving columns plus the float64 matrix — must fit in it
(tools/tier_crossover.py measures where the tier stops paying).

Scale: above that budget vectors never visit the driver. Only query
vectors, centroids (k×dim) and PQ codebooks (8×256×(dim/8)) are
driver/broadcast state.
"""

from __future__ import annotations

import copy
import uuid
from collections.abc import Sequence

import numpy as np
from pyspark import StorageLevel
from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from vervectordb_spark.functions.similarity import (
    SS_COL, fold_scores, self_dot, self_dot_expr)
from vervectordb_spark.operators import search as _search

_ROW_SCHEMA = T.StructType(
    [
        T.StructField("vec_id", T.StringType(), False),
        T.StructField("embedding", T.ArrayType(T.FloatType(), False), False),
        T.StructField("metadata", T.MapType(T.StringType(), T.StringType()), True),
    ]
)
_QUERY_SCHEMA = T.StructType([
    T.StructField("query_id", T.IntegerType(), False),
    T.StructField("q_embedding", T.ArrayType(T.FloatType(), False), False),
])


def _local_frame(spark: SparkSession, schema: T.StructType,
                 columns) -> DataFrame:
    """Driver-side columns (a dict of lists, or an Arrow table) as ONE
    Arrow table. Spark plans it as a LocalRelation; a list of rows
    instead goes through parallelize into a PythonRDD, which forks Python
    workers on every later read of any frame built over it. Arrow's
    double→float conversion rounds to nearest like the JVM cast, so float
    columns store the same values. A table goes in as one record batch:
    Spark drops every batch after an empty one."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema

    arrow = to_arrow_schema(schema)
    table = (columns.cast(arrow).combine_chunks()
             if isinstance(columns, pa.Table)
             else pa.table(columns, schema=arrow))
    return spark.createDataFrame(table, schema)


def _row_table(ids, vectors, metas):
    """Store rows (_ROW_SCHEMA) from ids, vectors and metadata dicts, as
    the Arrow table `_row_frame` hands to Spark."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema

    return pa.table({
        "vec_id": list(ids),
        "embedding": [[float(x) for x in v] for v in vectors],
        "metadata": [[(str(k), str(val)) for k, val in (m or {}).items()]
                     for m in metas],
    }, schema=to_arrow_schema(_ROW_SCHEMA))


def _row_frame(spark: SparkSession, ids, vectors, metas) -> DataFrame:
    """Store rows (_ROW_SCHEMA) from ids, vectors and metadata dicts."""
    return _local_frame(spark, _ROW_SCHEMA, _row_table(ids, vectors, metas))


def _has_row(df: DataFrame) -> bool:
    """Whether `df` has any row: a bounded limit(1).collect(), one job
    over a shuffle-free frame of up to spark.sql.limit.initialNumPartitions
    partitions — limit(1).count() plans a single-partition exchange and
    runs two under AQE."""
    return bool(df.limit(1).collect())


class DimensionError(ValueError):
    """Analogue of the reference's dim-check ValueError
    (vervectordb/__init__.py:243-245)."""


def _over(index, **rows):
    """`index`'s fit serving other rows: a shallow copy with the row
    attributes in `rows` (`assigned`, `featurized`) replaced, so the
    store's kept fit is shared and never re-pinned."""
    view = copy.copy(index)
    vars(view).update(rows)
    return view


#: scores held at once while a batch is scored on the driver tier
_SCORE_BLOCK = 1 << 20
#: driver budget of the serving tier: a version is held on the driver
#: when the fill's peak (Arrow table plus float64 matrix) fits in it.
#: 32 MB is ~40k rows at dim 64, where a fill costs ~1.6 warm Spark
#: reads (tools/tier_crossover.py; 2.2 at 128k rows)
_TIER_BYTES = 32 << 20


def _peak_bytes(table, dim: int) -> int:
    """The driver tier's measure of a version, checked against
    `_TIER_BYTES` at every fill and every carry: the Arrow table of its
    serving columns plus the float64 matrix built from it — a fill's
    peak."""
    return table.nbytes + 8 * dim * table.num_rows


def _top(scores: np.ndarray, k: int, ascending: bool = False) -> np.ndarray:
    """Indices of the first `k` of `scores` in Spark's order, for rows
    already sorted by vec_id: by score — DESC with NaN above every double,
    or ASC with NaN below — then by position, i.e. by id (a stable sort).
    Only the rows whose score reaches the k-th are sorted."""
    if k < 0:
        raise ValueError(f"top_k must be >= 0, got {k}")
    nan = np.isnan(scores)
    key = np.where(nan, np.inf if ascending else -np.inf,
                   scores if ascending else -scores)
    cand = np.arange(len(key))
    if 0 < k < len(key):
        cand = np.flatnonzero(key <= np.partition(key, k - 1)[k - 1])
    first = nan[cand] if ascending else ~nan[cand]
    return cand[np.lexsort((key[cand], first))][:k]


class _Matrix:
    """The driver serving tier: one store version's serving frame held
    in NumPy — vec_id, the float32 embeddings as a float64 matrix (one row
    vector per column, so the fold reads each dimension contiguously),
    the row self-dot, cluster_id (with an IVF index) and the raw Arrow
    metadata column, plus the serving frame's schema. Rows are sorted by
    vec_id, Spark's tie-break."""

    def __init__(self, ids, xt, ss, cluster_id, metadata, schema):
        self.ids, self.xt, self.ss = ids, xt, ss
        self.cluster_id, self.metadata = cluster_id, metadata
        self.schema = schema
        self._pos: dict | None = None

    @classmethod
    def collect(cls, serving: DataFrame, dim: int) -> "_Matrix | None":
        """`serving` collected in one Arrow job, or None when it is over
        the driver budget `_TIER_BYTES` (read now). The fill's peak —
        the collected Arrow table (ids, float32 vectors, metadata) plus
        the float64 matrix built from it — must fit. Spark's size
        estimate of the frame's optimized plan rejects a large frame
        with no job; the collect is limit(cap + 1) with cap the rows
        whose float64 vectors alone fit, so a frame the estimate
        undersized (compressed parquet, metadata text) costs at most
        cap + 1 rows, and its actual bytes decide. Null ids or vector
        elements and ragged vectors, which the Spark folds score as
        NULL, also stay on Spark."""
        import pyarrow.compute as pc

        budget = _TIER_BYTES
        cap = budget // (8 * max(dim, 1))
        if cap == 0 or int(serving._jdf.queryExecution().optimizedPlan()
                           .stats().sizeInBytes()) > budget:
            return None
        cols = ["vec_id", "embedding", SS_COL, "metadata"] + (
            ["cluster_id"] if "cluster_id" in serving.columns else [])
        tbl = serving.select(*cols).limit(cap + 1).toArrow()
        ids = tbl.column("vec_id")
        emb = tbl.column("embedding").combine_chunks()
        vals = emb.flatten()
        if (tbl.num_rows > cap or ids.null_count or emb.null_count
                or vals.null_count
                or _peak_bytes(tbl, dim) > budget
                or pc.any(pc.not_equal(pc.list_value_length(emb), dim)).as_py()):
            return None
        ids = np.array(ids.to_pylist(), dtype=object)
        order = np.argsort(ids, kind="stable")
        x = vals.to_numpy(zero_copy_only=False).reshape(len(ids), dim)[order]
        cluster = (tbl.column("cluster_id").to_numpy()[order]
                   if "cluster_id" in cols else None)
        return cls(ids[order], np.ascontiguousarray(x.T, dtype=np.float64),
                   tbl.column(SS_COL).to_numpy()[order], cluster,
                   tbl.column("metadata").combine_chunks().take(order),
                   serving.schema)

    @property
    def complete(self) -> bool:
        """Whether the matrix holds every column of its serving frame (a
        store frame with codec columns has more)."""
        return set(self.schema.names) <= {
            "vec_id", "embedding", "metadata", "cluster_id", SS_COL}

    def apply(self, drop: set, rows=None, x=None,
              cluster=None) -> "_Matrix":
        """A new matrix: these rows minus every row whose id is in `drop`,
        plus `rows` (an Arrow table of _ROW_SCHEMA) with float32 vectors
        `x` (rows × dim) and, with an IVF index, cluster ids `cluster`,
        kept sorted by vec_id. The new self-dots are similarity.self_dot's
        left fold, the value the Spark frame's SS_COL holds."""
        import pyarrow as pa

        keep = np.fromiter((v not in drop for v in self.ids), bool,
                           len(self.ids))
        ids, xt, ss = self.ids[keep], self.xt[:, keep], self.ss[keep]
        cid = None if self.cluster_id is None else self.cluster_id[keep]
        meta = self.metadata.filter(pa.array(keep))
        if rows is not None:
            ids = np.concatenate([ids, np.array(
                rows.column("vec_id").to_pylist(), dtype=object)])
            order = np.argsort(ids, kind="stable")
            ids = ids[order]
            xt = np.concatenate([xt, x.T], axis=1)[:, order]
            ss = np.concatenate([ss, [self_dot(v) for v in x]])[order]
            if cid is not None:
                cid = np.concatenate([cid, cluster])[order]
            meta = pa.concat_arrays([meta, rows.column("metadata")
                                     .combine_chunks().cast(meta.type)]
                                    ).take(pa.array(order))
        return _Matrix(ids, np.ascontiguousarray(xt, dtype=np.float64), ss,
                       cid, meta, self.schema)

    def table(self):
        """The serving frame these rows stand for, as one Arrow table with
        the serving schema's columns — what a fill of them collects."""
        import pyarrow as pa

        dim, n = self.xt.shape
        cols = {
            "vec_id": pa.array(self.ids.tolist(), pa.string()),
            "embedding": pa.ListArray.from_arrays(
                pa.array(np.arange(0, n * dim + 1, dim, dtype=np.int32)),
                pa.array(self.xt.T.astype(np.float32).ravel())),
            # take() leaves the map column with buffers a collected one
            # lacks; concat rebuilds it compact, so `_peak_bytes` of a
            # carried matrix is what a fill of the same rows measures
            "metadata": pa.concat_arrays([self.metadata]),
            SS_COL: pa.array(self.ss),
        }
        if self.cluster_id is not None:
            cols["cluster_id"] = pa.array(self.cluster_id, pa.int32())
        names = self.schema.names
        return pa.table([cols[c] for c in names], names=names)

    def frame(self, spark: SparkSession) -> DataFrame:
        """The serving frame built from the held columns (`table`) as one
        Arrow LocalRelation — no replay of the store lineage and no
        cluster assignment."""
        return _local_frame(spark, self.schema, self.table())

    def topk(self, queries, k: int, metric: str = "cosine",
             rows: np.ndarray | None = None) -> list[tuple]:
        """Per query: (row indices, scores) of its top k over all rows or
        the row indices `rows`, in Spark's order — the fold vectorized
        over rows and over a block of queries at a time."""
        xt, ss = self.xt, self.ss
        if rows is not None:
            xt, ss = xt[:, rows], ss[rows]
        step = max(1, _SCORE_BLOCK // max(1, xt.shape[1]))
        out = []
        for b in range(0, len(queries), step):
            for s in fold_scores(xt, queries[b:b + step], metric, ss):
                top = _top(s, k, ascending=metric == "l2")
                out.append((top if rows is None else rows[top], s[top]))
        return out

    def meta(self, rows: np.ndarray) -> list[dict]:
        """The metadata dicts of `rows`."""
        return [dict(m or {}) for m in self.metadata.take(rows).to_pylist()]

    def row(self, vec_id: str) -> dict:
        """get_by_id's answer; KeyError if absent."""
        if self._pos is None:
            self._pos = {v: i for i, v in enumerate(self.ids)}
        i = self._pos[vec_id]
        return {"vector_id": self.ids[i], "vector": self.xt[:, i].tolist(),
                "metadata": self.meta([i])[0]}


class _Delta:
    """A driver matrix carried past writes that are not applied to it
    yet: the `base` matrix and, per write in order, (the ids it dropped,
    the rows it added as an Arrow table of _ROW_SCHEMA or None, their
    float32 vectors). A write only appends here; the next read that needs
    the matrix applies them all at once (`fold`), so a run of writes pays
    one cluster assign and one matrix copy, not one of each per write."""

    def __init__(self, base: _Matrix):
        self.base, self.writes = base, []

    def fold(self, spark: SparkSession, index) -> "_Matrix | None":
        """The base matrix with every write applied, or None when it is
        over the driver budget `_TIER_BYTES` (read now). A row survives
        unless a later write dropped its id; `index` (the IVF fit the
        matrix is held under, or None) assigns the surviving new rows'
        cluster_id in one `IVFIndex.assign` over their LocalRelation,
        which Spark evaluates while planning the collect (no job)."""
        import pyarrow as pa

        dropped, tables, xs = set(), [], []
        for drop, rows, x in reversed(self.writes):
            if rows is not None:
                live = [i for i, v in enumerate(
                    rows.column("vec_id").to_pylist()) if v not in dropped]
                if live:
                    tables.append(rows.take(pa.array(live)))
                    xs.append(x[live])
            dropped |= drop
        rows = pa.concat_tables(tables[::-1]) if tables else None
        dim, n = self.base.xt.shape
        # the float64 matrix alone is a floor of the measure: a store
        # over it skips the assign and the copy
        floor = n - len(dropped) + (0 if rows is None else rows.num_rows)
        if 8 * dim * floor > _TIER_BYTES:
            return None
        x = cluster = None
        if rows is not None:
            x = np.concatenate(xs[::-1])
            if index is not None:
                cluster = np.array(
                    [r[0] for r in index.assign(
                        _local_frame(spark, _ROW_SCHEMA, rows))
                     .select("cluster_id").collect()], np.int32)
        m = self.base.apply(dropped, rows, x, cluster)
        return m if _peak_bytes(m.table(), dim) <= _TIER_BYTES else None

    def row(self, vec_id: str) -> dict:
        """get_by_id's answer, read through the queued writes newest
        first (a write drops before it adds) and then the base: no fold,
        so an update() run pays none. KeyError if absent."""
        for drop, rows, x in reversed(self.writes):
            ids = [] if rows is None else rows.column("vec_id").to_pylist()
            if vec_id in ids:
                i = ids.index(vec_id)
                return {"vector_id": vec_id, "vector": x[i].tolist(),
                        "metadata": dict(
                            rows.column("metadata")[i].as_py() or {})}
            if vec_id in drop:
                raise KeyError(vec_id)
        return self.base.row(vec_id)


class VectorStore:
    def __init__(self, spark: SparkSession, vector_dim: int, db_path: str | None = None):
        self.spark = spark
        self.vector_dim = int(vector_dim)
        self.db_path = db_path
        self._version = 0
        #: row-derived frames: name -> [version, fit, persisted frame,
        #: driver matrix]; the matrix slot is the serving frame's tier
        #: (`_matrix`): None until the version's second read asks, False
        #: over the budget
        self._frames: dict[str, list] = {}
        #: blocks pinned by localCheckpoints that `df` reads (same-path
        #: save, ingest's uuid ids), released once the rows are on disk
        #: (finding #15 — DataFrame.unpersist() is a silent no-op here)
        self._df_ckpt_ids: set[int] = set()
        #: (path, version) of the saved store `load` read: while the
        #: version holds, df and every index's own rows ARE that layout
        self._loaded: tuple[str, int] | None = None
        self.df = _row_frame(spark, [], [], [])
        # fits: only build_*/train_*/load change them, never a write
        self._ivf = None
        self._imi = None
        self._ann = None
        self._pq = None
        # residual codec (FAISS-style IVF-PQ): fitted against the IVF
        # centroids, so an IVF refit drops it
        self._pq_res = None
        # SQ8 scalar-quantization stats: per-dimension min/max, dim rows of
        # driver state (centroid-class). Rows ingested outside the fitted
        # range CLAMP to it (standard SQ behavior; refit to re-tighten).
        self._sq_stats_pdf = None
        # BQ binary-quantization thresholds: per-dimension midrange, the
        # same centroid-class driver state and clamp-free semantics (a
        # threshold is a comparison; out-of-range rows just encode as
        # all-0/all-1 bits on the drifted dims — refit to re-center).
        self._bq_thr_pdf = None
        # rotated-BQ codec: (seed, thresholds fit on the ROTATED
        # coordinates) — the rotation's (dim, seed) IS the whole transform
        self._rotbq: tuple[int, object] | None = None
        #: the VersionedTable of checkpoint(versioned=True)
        self._versions = None

    @property
    def df(self) -> DataFrame:
        """The store rows (vec_id, embedding, metadata[, codes])."""
        return self._df

    @df.setter
    def df(self, value: DataFrame) -> None:
        # the one place a version starts: every row-derived frame is
        # rebuilt from the new rows by its next read
        self._df = value
        self._version += 1

    def _derived(self, name: str, fit, build) -> DataFrame:
        """The row-derived frame `name` of the current version under
        `fit`: `build()`, persisted when the first read of the version
        asks for it and reused by every later one. The entry it replaces
        (an older version's, or another fit's) goes whole: its frame is
        unpersisted and its driver matrix, if any, dropped. A serving
        entry a write carried on has a matrix and no frame yet: its frame
        is the matrix's own rows (`_Matrix.frame`), or `build()` when the
        carry ended over the budget."""
        held = self._frames.get(name)
        if held is not None and held[0] == self._version and held[1] is fit:
            if held[2] is None:
                m = self._settle(held)
                held[2] = (m.frame(self.spark) if m else build()).persist(
                    StorageLevel.MEMORY_AND_DISK)
            return held[2]
        if held is not None and held[2] is not None:
            held[2].unpersist()
        frame = build().persist(StorageLevel.MEMORY_AND_DISK)
        self._frames[name] = [self._version, fit, frame, None]
        return frame

    def _pristine(self) -> bool:
        """Whether df is still the layout `load` read."""
        return self._loaded is not None and self._loaded[1] == self._version

    def _index_rows(self, index) -> DataFrame:
        """An IVF or IMI index's rows for the current version: its own
        while the store is pristine (the saved layout `load` read, so no
        assignment runs; or a build's assignment of those same rows),
        else df assigned under the kept fit."""
        return index.assigned if self._pristine() else index.assign(self.df)

    def _serving(self) -> DataFrame:
        """The frame facade reads scan: `df` plus its row self-dot SS_COL
        (cosine then folds once per row, not twice) and, when an IVF
        index exists, each row's cluster_id — once per version, not once
        per query. It doubles as the IVF index's rows (`_ivf_rows`)."""
        ivf = self._ivf
        return self._derived("serving", ivf, lambda: (
            self.df if ivf is None else self._index_rows(ivf)
        ).withColumn(SS_COL, self_dot_expr("embedding")))

    def _matrix(self) -> _Matrix | None:
        """The driver tier of the current version (under the current IVF
        fit), or None. A version a write carried the tier on to has its
        matrix from the start (`_write`), with the writes applied by its
        first read (`_settle`). Any other version's first read is served
        by Spark and builds the serving frame; a read that finds that
        frame built collects it (None for good when the version is over
        the budget). A fill costs more than one Spark top-k read, so a
        version that is read once never pays it
        (tools/tier_crossover.py)."""
        held = self._frames.get("serving")
        if held is None or held[0] != self._version or held[1] is not self._ivf:
            return None
        if held[3] is None:
            held[3] = _Matrix.collect(held[2], self.vector_dim) or False
        return self._settle(held) or None

    def _settle(self, held: list):
        """The matrix slot of the serving entry `held`, with the writes a
        carry queued on it applied (`_Delta.fold`, under the entry's IVF
        fit); False for good when that is over the budget."""
        if isinstance(held[3], _Delta):
            held[3] = held[3].fold(self.spark, held[1]) or False
        return held[3]

    def _write(self, drop: Sequence[str] = (), rows=None) -> None:
        """The copy-on-write edit behind insert, update and delete: a new
        version whose rows are the current ones minus every row whose id
        is in `drop`, plus `rows` (an Arrow table of _ROW_SCHEMA). When
        the current version holds a complete driver matrix under the
        current IVF fit, the new version carries it on with this write
        queued (`_Delta`): the next read applies every queued write in
        one edit — the reference's vstack and row edits — and no write
        runs a Spark job or a cluster assign. A written vector with a
        non-finite element starts the version from scratch (MLlib's
        predict fails on it)."""
        df = self.df
        for vec_id in drop:
            df = df.filter(F.col("vec_id") != vec_id)
        if rows is not None:
            # allowMissingColumns: after compress() the store carries
            # pq_code; new rows land with NULL codes (encode again to
            # fill them)
            df = df.unionByName(_local_frame(self.spark, _ROW_SCHEMA, rows),
                                allowMissingColumns=True)
        slot = self._carried()
        self.df = df
        if slot is None:
            return
        x = None
        if rows is not None:
            x = (rows.column("embedding").combine_chunks().flatten()
                 .to_numpy(zero_copy_only=False).reshape(-1, self.vector_dim))
            if not np.isfinite(x).all():
                return
        delta = slot if isinstance(slot, _Delta) else _Delta(slot)
        delta.writes.append((frozenset(drop), rows, x))
        self._carry(delta)

    def _carried(self) -> "_Matrix | _Delta | None":
        """The current version's driver matrix, filled or carried (its
        writes applied or not) under the current IVF fit, when it can be
        handed on to the next version: it holds every column of the
        serving frame. Never a fill."""
        held = self._frames.get("serving")
        if (held is None or held[0] != self._version
                or held[1] is not self._ivf or not held[3]):
            return None
        slot = held[3]
        return slot if isinstance(slot, _Delta) or slot.complete else None

    def _carry(self, slot) -> None:
        """Make `slot` (a `_Matrix` or `_Delta`) the driver matrix of the
        current version, under the current IVF fit; the entry it replaces
        goes whole. The budget is checked when a read applies the queued
        writes (`_settle`), and the serving frame is built from the
        matrix only when a Spark read asks (`_derived`)."""
        held = self._frames.get("serving")
        if held is not None and held[2] is not None:
            held[2].unpersist()
        self._frames["serving"] = [self._version, self._ivf, None, slot]

    def _held_serving(self) -> list | None:
        """The serving entry a read of the current version already made
        (under any fit: the rows are the same), else None."""
        held = self._frames.get("serving")
        return held if held is not None and held[0] == self._version else None

    def _ivf_rows(self) -> DataFrame:
        """The current rows plus their IVF cluster_id (an index exists)."""
        return self._serving().drop(SS_COL)

    # ------------------------------------------------------------------ DML
    def _check_rows(self, vectors: Sequence[Sequence[float]]) -> None:
        for v in vectors:
            if len(v) != self.vector_dim:
                raise DimensionError(
                    f"vector dim {len(v)} != store dim {self.vector_dim}"
                )

    def insert(self, vector: Sequence[float], metadata: dict | None = None) -> str:
        """S2: single-row append. Returns the assigned uuid id."""
        return self.batch_insert([vector], [metadata] if metadata else None)[0]

    def batch_insert(
        self,
        vectors: Sequence[Sequence[float]],
        metadatas: Sequence[dict | None] | None = None,
    ) -> list[str]:
        """S3: bulk append. Dim-checked before any write; ids assigned here
        (uuid4, like vervectordb/__init__.py:251). Append-only union — the
        100 TB shape is `write.mode('append')` on a partitioned table."""
        self._check_rows(vectors)
        ids = [str(uuid.uuid4()) for _ in vectors]
        self._write(rows=_row_table(ids, vectors,
                                    metadatas or [None] * len(vectors)))
        return ids

    def ingest(self, df: DataFrame, emb_col: str = "embedding") -> None:
        """Bulk ingest an existing DataFrame (the real 100 TB entry point).
        Dim constraint enforced as a plan-level filter + fail-fast probe."""
        if _has_row(df.filter(F.size(F.col(emb_col)) != self.vector_dim)):
            raise DimensionError(f"ingest contains rows with dim != {self.vector_dim}")
        cols = [F.col(c) for c in ("vec_id", "embedding", "metadata") if c in df.columns]
        base = df.select(*cols)
        if "vec_id" not in df.columns:
            # uuid() is nondeterministic: a task retry or AQE re-plan
            # between two actions would re-draw every id, so ids handed
            # out by one query could vanish from the next. A lazy
            # localCheckpoint pins the batch at its first materialization;
            # the next checkpoint() releases the pin once the rows are on
            # disk.
            from vervectordb_spark.functions.checkpoint import eager_checkpoint

            base, ids = eager_checkpoint(
                base.withColumn("vec_id", F.expr("uuid()")), eager=False)
            self._df_ckpt_ids |= ids
        if "metadata" not in df.columns:
            base = base.withColumn(
                "metadata", F.lit(None).cast("map<string,string>")
            )
        self.df = self.df.unionByName(
            base.select(
                F.col("vec_id").cast("string"),
                F.col("embedding").cast("array<float>").alias("embedding"),
                "metadata",
            ),
            allowMissingColumns=True,
        )

    # --------------------------------------------------------- point lookup
    def _point_frame(self, vec_id: str) -> DataFrame:
        """The frame an id probe scans: when this store still serves the
        persisted id-clustered layout (`_pristine`; save() recorded
        per-file vec_id min/max stats), read ONLY the files whose id
        envelope can hold the key — driver-side metadata skipping, the
        primary-key story a 100 TB table needs (proof via executed scan
        metrics in tests/test_layout.py). Any in-memory mutation falls
        back to the live frame, where the equality predicate still
        row-group-skips via pushdown. A serving frame that a read of
        this version already made beats both: the probe filters cached
        rows, and it is never a fill. get_by_id asks only when the
        version has no driver matrix: the tier is off or over the
        budget, or the version started from scratch and no read filled
        it yet."""
        import os as _os

        from vervectordb_spark.sources.layout import STATS_FILE, pruned_scan

        held = self._held_serving()
        if held is not None and held[2] is not None:
            return held[2]
        if self._pristine():
            vectors_dir = _os.path.join(self._loaded[0], "vectors")
            if _os.path.exists(_os.path.join(vectors_dir, STATS_FILE)):
                return pruned_scan(self.spark, vectors_dir,
                                   {"vec_id": (vec_id, vec_id)})
        return self.df

    def get_by_id(self, vec_id: str) -> dict:
        """P1: id → {vector_id, vector, metadata}; KeyError if absent
        (reference vervectordb/__init__.py:301-309). Answered from the
        version's driver matrix when a write carried one on to it (read
        through the writes queued on it, `_Delta.row`, so update()'s
        lookup after a write runs no Spark job and applies nothing) or a
        read filled it — else by a point probe of `_point_frame`; a
        lookup never fills the tier."""
        held = self._held_serving()
        if held is not None and held[3]:
            return held[3].row(vec_id)
        rows = _search.point_lookup(self._point_frame(vec_id), vec_id).collect()
        if not rows:
            raise KeyError(vec_id)
        r = rows[0]
        return {
            "vector_id": r["vec_id"],
            "vector": list(r["embedding"]),
            "metadata": dict(r["metadata"] or {}),
        }

    # ------------------------------------------------------------- mutation
    def update(
        self,
        vec_id: str,
        new_vector: Sequence[float] | None = None,
        new_metadata: dict | None = None,
    ) -> None:
        """P2: copy-on-write row replacement. Unlike the reference, no
        index serves the old vector (fixes the stale-HNSW quirk, SURVEY
        §1.3): every index keeps its fit and reassigns the row."""
        if new_vector is not None:
            self._check_rows([new_vector])
        old = self.get_by_id(vec_id)  # KeyError if absent, like the reference
        self._write(drop=[vec_id], rows=_row_table(
            [vec_id],
            [new_vector if new_vector is not None else old["vector"]],
            [new_metadata if new_metadata is not None else old["metadata"]]))

    def delete(self, vec_id: str) -> None:
        """P3: anti-filter rewrite (Delta DELETE when available)."""
        self._write(drop=[vec_id])

    def merge(self, source: DataFrame) -> None:
        """Bulk upsert: rows in `source` (store schema: vec_id, embedding,
        metadata) REPLACE same-id rows and append otherwise — the batch
        analogue of update()/insert() (operators/merge.merge_upsert), one
        anti-join instead of a per-row loop of plan rewrites. Dim
        constraint enforced as a plan-level fail-fast, like ingest()."""
        from vervectordb_spark.operators.merge import merge_upsert

        if _has_row(source.filter(F.size(F.col("embedding")) != self.vector_dim)):
            raise DimensionError(f"merge contains rows with dim != {self.vector_dim}")
        src = source.select(
            F.col("vec_id").cast("string"),
            F.col("embedding").cast("array<float>").alias("embedding"),
            (F.col("metadata") if "metadata" in source.columns
             else F.lit(None)).cast("map<string,string>").alias("metadata"),
        )
        self.df = merge_upsert(self.df, src, "vec_id")

    # --------------------------------------------------------------- search
    def brute_force_search(
        self,
        query_vector: Sequence[float],
        top_k: int = 5,
        pre_filter: Column | None = None,
        metric: str = "cosine",
    ) -> list[dict]:
        """Q1: exact top-k. Filter runs BEFORE ranking (D1). `metric`:
        cosine (reference) | dot (MIPS) | l2 (nearest-first; the returned
        `similarity` is a distance)."""
        self._check_rows([query_vector])
        m = self._matrix() if pre_filter is None else None
        if m is not None:
            [(rows, sims)] = m.topk([query_vector], top_k, metric)
            return [{"vector_id": m.ids[i], "similarity": float(s),
                     "metadata": meta}
                    for i, s, meta in zip(rows, sims, m.meta(rows))]
        out = _search.brute_force_topk(
            self._serving(), query_vector, top_k, pre_filter=pre_filter,
            extra_cols=("metadata",), metric=metric,
        )
        return [
            {"vector_id": r["vec_id"], "similarity": r["sim"], "metadata": dict(r["metadata"] or {})}
            for r in out.collect()
        ]

    def filtered_search(
        self,
        query_vector: Sequence[float],
        top_k: int = 5,
        keywords: Sequence[str] | None = None,
        metadata_filter: Column | None = None,
    ) -> list[dict]:
        """Q7: keyword OR-containment over metadata['text'] AND a predicate,
        both pushed below ranking. `metadata_filter` accepts either a
        Column (pushdown-eligible) or the reference's raw callable form
        `fn(meta: dict) -> bool` (vervectordb/__init__.py:538-546) —
        routed through search.callable_predicate over this store's
        metadata map; same rows, no scan pushdown (the documented slow
        path for ported closures)."""
        pred = None
        if keywords:
            pred = _search.keyword_filter(F.element_at(F.col("metadata"), "text"), keywords)
        if metadata_filter is not None and not isinstance(metadata_filter, Column):
            if not callable(metadata_filter):
                raise TypeError(
                    f"metadata_filter must be a Column or a callable, got "
                    f"{type(metadata_filter).__name__}")
            metadata_filter = _search.callable_predicate(
                metadata_filter, F.col("metadata"))
        if metadata_filter is not None:
            pred = metadata_filter if pred is None else (pred & metadata_filter)
        return self.brute_force_search(query_vector, top_k, pre_filter=pred)

    def chunk_ingest(self, docs: DataFrame, chunk_tokens: int = 100,
                     overlap: int = 20, text_col: str = "text",
                     id_col: str = "doc_id") -> int:
        """RAG-style corpus ingest in one call: chunk each document into
        overlapping token windows (text.chunk_documents — map-only), embed
        every chunk (embed.embed_documents hashing trick; swap in the
        model slot for production), and ingest (chunk vectors carry
        metadata {doc_id, chunk_id, text}). Returns the number of chunks
        ingested. The whole chain is scan-side projections — the only
        shuffle is none; ingest appends lazily."""
        from vervectordb_spark.operators.embed import embed_documents
        from vervectordb_spark.operators.text import chunk_documents

        chunks = chunk_documents(
            docs, chunk_tokens=chunk_tokens, overlap=overlap,
            text_col=text_col, id_col=id_col,
        ).withColumn(
            "_chunk_key",
            F.concat_ws("#", F.col(id_col).cast("string"),
                        F.col("chunk_id").cast("string")),
        )
        emb = embed_documents(
            chunks, dim=self.vector_dim, text_col="chunk_text",
            id_col="_chunk_key",
        )
        meta = chunks.select(
            F.col("_chunk_key").alias("vec_id"),
            F.map_from_arrays(
                F.array(F.lit("doc_id"), F.lit("chunk_id"), F.lit("text")),
                F.array(F.col(id_col).cast("string"),
                        F.col("chunk_id").cast("string"),
                        F.col("chunk_text")),
            ).alias("metadata"),
        )
        self.ingest(emb.join(meta, on="vec_id"))
        return emb.count()

    def hybrid_search(
        self,
        query_vector: Sequence[float],
        terms: Sequence[str],
        top_k: int = 5,
        n_candidates: int = 50,
        rrf_k: int = 60,
    ) -> list[dict]:
        """Hybrid retrieval over the store: reciprocal-rank fusion of the
        lexical top-R (total term frequency over metadata['text']) and the
        dense top-R (exact cosine) — the upgrade of Q7's binary keyword
        filter (reference vervectordb/__init__.py:540-544) from a
        pre-filter to a ranked modality. Each side is one bounded
        TakeOrderedAndProject; fusion touches 2·R rows."""
        from vervectordb_spark.operators import hybrid as _hybrid

        self._check_rows([query_vector])
        docs = self.df.select(
            F.col("vec_id").alias("doc_id"),
            F.element_at(F.col("metadata"), "text").alias("text"),
        )
        out = _hybrid.hybrid_search(
            docs, self.df, list(terms), list(query_vector),
            n_candidates=n_candidates, top_k=top_k, rrf_k=rrf_k,
        )
        return [
            {
                "vector_id": r["doc_id"],
                "rrf_score": r["rrf_score"],
                "kw_rank": r["kw_rank"],
                "vec_rank": r["vec_rank"],
                "similarity": r["sim"],
            }
            for r in out.collect()
        ]

    def batch_search(
        self, query_vectors: Sequence[Sequence[float]], top_k: int = 5
    ) -> list[list[dict]]:
        """Q6, actually batched: on the driver tier, the brute-force fold
        vectorized over all queries (each result equals that query's
        brute_force_search); off it (a version's first read, or one over
        the budget), one broadcast GEMM + top-k job for ALL queries (the reference loops queries serially despite
        its batch_size arg, vervectordb/__init__.py:524-534)."""
        self._check_rows(query_vectors)
        m = self._matrix()
        if m is not None:
            return [[{"vector_id": m.ids[i], "similarity": float(s)}
                     for i, s in zip(rows, sims)]
                    for rows, sims in m.topk(list(query_vectors), top_k)]
        qdf = _local_frame(self.spark, _QUERY_SCHEMA, {
            "query_id": list(range(len(query_vectors))),
            "q_embedding": [[float(x) for x in v] for v in query_vectors],
        })
        # Q×k rows: order them here — a distributed orderBy costs a
        # sampling job and a range shuffle per call
        out = _search.batch_topk(self._serving(), qdf, top_k).collect()
        results: list[list[dict]] = [[] for _ in query_vectors]
        for r in sorted(out, key=lambda r: (r["query_id"], r["rank"])):
            results[r["query_id"]].append(
                {"vector_id": r["vec_id"], "similarity": r["sim"]}
            )
        return results

    # ----------------------------------------------------- derived indexes
    def build_ivf_index(self, n_clusters: int = 16, seed: int = 42):
        """Q4: fit k-means over the current rows — the one way the
        centroids change. Writes keep them and only reassign rows; call
        this again to re-center clusters that drifted
        (operators.ivf.centroid_drift measures by how much)."""
        from vervectordb_spark.operators.ivf import IVFIndex

        self._ivf = IVFIndex.build(self.df, n_clusters=n_clusters, seed=seed)
        # the residual codec is fitted against the PREVIOUS centroids --
        # combining it with a rebuilt IVF silently mis-scores ADC
        self._pq_res = None
        return self._ivf

    def ivf_search(self, query_vector, top_k: int = 5, nprobe: int | None = None,
                   pre_filter: Column | None = None) -> list[dict]:
        """Q5: probe nprobe clusters (reference default max(k//2, 8),
        vervectordb/__init__.py:441), rescore exactly inside them. On the
        driver tier the probed rows are those whose collected cluster_id
        is in the probe set — the rows the Spark path's filter keeps."""
        if self._ivf is None:
            self.build_ivf_index()
        m = self._matrix() if pre_filter is None else None
        if m is not None:
            probed = self._ivf.probe_set(query_vector, nprobe)
            [(rows, sims)] = m.topk([query_vector], top_k, rows=np.flatnonzero(
                np.isin(m.cluster_id, probed)))
            return [{"vector_id": m.ids[i], "similarity": float(s),
                     "cluster_id": int(m.cluster_id[i])}
                    for i, s in zip(rows, sims)]
        out = self._ivf.search(query_vector, top_k=top_k, nprobe=nprobe,
                               pre_filter=pre_filter, rows=self._serving())
        return [
            {"vector_id": r["vec_id"], "similarity": r["sim"], "cluster_id": r["cluster_id"]}
            for r in out.collect()
        ]

    def build_imi_index(self, k1: int = 8, k2: int = 8, seed: int = 42):
        """Two-level coarse quantizer over the store (operators/imi.py —
        beyond the reference's index set): k1*k2 cells from k1+k2 trained
        half-centroids. The cell-count answer when a flat IVF's k would
        have to be impractically large. Like IVF, the fit is kept across
        writes: each version's rows get their cells from
        `IMIIndex.assign`, the rule streaming appends use."""
        from vervectordb_spark.operators.imi import IMIIndex

        self._imi = IMIIndex.build(self.df, k1=k1, k2=k2,
                                   dim=self.vector_dim, seed=seed)
        return self._imi

    def _imi_rows(self) -> DataFrame:
        """The current rows plus their IMI (cell1, cell2)."""
        imi = self._imi
        return self._derived("imi", imi, lambda: self._index_rows(imi))

    def imi_search(self, query_vector: Sequence[float], top_k: int = 5,
                   a: int = 2, b: int = 2) -> list[dict]:
        """Rectangle-probe serving over the store's IMI layout: the a*b
        best-cell rectangle, exact cosine rescore inside it (builds the
        index first if absent)."""
        if self._imi is None:
            self.build_imi_index()
        out = _over(self._imi, assigned=self._imi_rows()).search(
            query_vector, top_k=top_k, a=a, b=b)
        return [
            {"vector_id": r["vec_id"], "similarity": r["sim"],
             "cell": (r["cell1"], r["cell2"])}
            for r in out.collect()
        ]

    def build_ann_index(self, bucket_length: float = 2.0, num_hash_tables: int = 3, seed: int = 42):
        """Fit the BRP-LSH model. Its random projections are seeded and
        do not depend on the rows, so the fit is kept across writes and
        each version's rows are featurized under it — exactly what a
        rebuild over them would hash."""
        from vervectordb_spark.operators.ann import LSHAnnIndex

        self._ann = LSHAnnIndex.build(
            self.df, bucket_length=bucket_length, num_hash_tables=num_hash_tables, seed=seed
        )
        return self._ann

    def ann_search(self, query_vector, top_k: int = 5,
                   n_probes: int = 1) -> list[dict]:
        """Q2 intent (the reference's HNSW contract — its implementation
        returns ≤1 row due to bug B1 and is deliberately NOT reproduced).
        n_probes > 1 (multi-probe) is a sign-LSH feature
        (operators.ann.SignLSHIndex); the store's BRP-LSH index has no
        margin-ranked neighbor buckets to probe, so it is refused."""
        if n_probes > 1:
            raise ValueError(
                "n_probes > 1 requires the sign-LSH index "
                "(operators.ann.SignLSHIndex); the store's is BRP-LSH")
        if self._ann is None:
            self.build_ann_index()
        ann = self._ann
        rows = self._derived("ann", ann, lambda: ann.featurize(self.df))
        out = _over(ann, featurized=rows).search(query_vector, top_k=top_k)
        return [{"vector_id": r["vec_id"], "similarity": r["sim"]} for r in out.collect()]

    # hnsw_search kept as an alias so reference callers can switch 1:1.
    hnsw_search = ann_search

    def train_pq(self, n_subquantizers: int = 8, n_bits: int = 8,
                 sample_size: int = 10_000, seed: int = 42):
        from vervectordb_spark.operators.pq import PQCodec

        if self.vector_dim % n_subquantizers:
            raise DimensionError(
                f"dim {self.vector_dim} not divisible by {n_subquantizers}"
            )  # reference check: vervectordb/__init__.py:163-164
        self._pq = PQCodec.fit(
            self.df, dim=self.vector_dim, n_subquantizers=n_subquantizers,
            codebook_size=2 ** n_bits, sample_size=sample_size, seed=seed,
        )
        return self._pq

    def mmr_search(self, query_vector: Sequence[float], top_k: int = 5,
                   pool: int | None = None, lam: float = 0.7) -> list[dict]:
        """Diversified search: exact top-`pool` candidates (default
        4*top_k), then MMR greedy down to top_k (operators/rerank.py —
        near-duplicate corpus rows stop monopolizing the result list).
        Returns [{vector_id, similarity, redundancy, mmr}] in pick order."""
        from vervectordb_spark.operators.rerank import mmr_rerank

        self._check_rows([query_vector])
        pool = pool if pool is not None else 4 * top_k
        cand = _search.brute_force_topk(
            self.df, query_vector, pool, extra_cols=("embedding",),
        ).withColumnRenamed("sim", "rel").withColumn("_q", F.lit(0))
        out = mmr_rerank(cand, k=top_k, lam=lam, query_col="_q",
                         rel_col="rel").orderBy("rank")
        return [
            {"vector_id": r["vec_id"], "similarity": r["rel"],
             "redundancy": r["redundancy"], "mmr": r["mmr"]}
            for r in out.collect()
        ]

    def train_sq(self):
        """SQ8 scalar-quantization codec (operators/sq.py) — the 4x
        storage/scan reducer next to PQ's 32x: ONE distributed min/max
        aggregate, stats pinned driver-side at fit time so later
        mutations can't silently shift the code mapping."""
        from vervectordb_spark.operators import sq

        stats_pdf = sq.fit_sq_stats(self.df).toPandas()
        if len(stats_pdf) == 0:
            raise ValueError("train_sq on an empty store")
        self._sq_stats_pdf = stats_pdf
        return self._sq_stats_pdf

    def _sq_stats(self) -> DataFrame:
        if self._sq_stats_pdf is None:
            self.train_sq()
        return self.spark.createDataFrame(self._sq_stats_pdf)

    def sq_compress(self) -> DataFrame:
        """Adds sq_code ARRAY<SMALLINT> (uint8 values, 4x over float32).
        Storage-only like compress(); sq_search reads the codes."""
        from vervectordb_spark.operators import sq

        self.df = sq.with_codes(self.df, self._sq_stats())
        return self.df

    def sq_search(self, query_vector: Sequence[float], top_k: int = 5,
                  rerank_factor: int = 3) -> list[dict]:
        """Asymmetric SQ8 search: full-precision query scored against
        uint8-code reconstructions (1/4 the scan bytes), top
        rerank_factor*top_k via TakeOrderedAndProject, exact cosine rerank
        on the raw vectors of those candidates only (the 3x over-fetch
        ratio shared with the LSH rerank, SURVEY.md §2.5). Rows ingested
        after sq_compress carry NULL codes — adc_search encodes them on
        the fly, so they are searchable immediately."""
        from vervectordb_spark.operators import sq

        out = sq.adc_search(
            self.df, self._sq_stats(), query_vector, top_k=top_k,
            rerank_factor=rerank_factor, scorer="expr",
        )
        return [{"vector_id": r["vec_id"], "similarity": r["sim"]} for r in out.collect()]

    def ivfsq_search(self, query_vector: Sequence[float], top_k: int = 5,
                     nprobe: int | None = None,
                     rerank_factor: int = 3) -> list[dict]:
        """IVF-SQ8 composed serving (FAISS IVF_SQ8): probe the IVF
        clusters (building the index if absent), then the asymmetric SQ8
        scan + exact rerank over ONLY the probed clusters — the
        partition-pruned 1/4-byte scan. Completes the index x codec
        matrix next to ivf_search (flat), ivfpq / ivfpq_residual."""
        from vervectordb_spark.operators import sq

        if self._ivf is None:
            self.build_ivf_index()
        probes = self._ivf.probe_clusters(query_vector, nprobe)
        probed = self._ivf_rows().filter(F.col("cluster_id").isin(probes))
        out = sq.adc_search(probed, self._sq_stats(), query_vector,
                            top_k=top_k, rerank_factor=rerank_factor,
                            scorer="expr")
        return [{"vector_id": r["vec_id"], "similarity": r["sim"]}
                for r in out.collect()]

    def ivfbq_search(self, query_vector: Sequence[float], top_k: int = 5,
                     nprobe: int | None = None,
                     rerank_factor: int = 3) -> list[dict]:
        """IVF-BQ composed serving — the last cell of the index x codec
        matrix: probe the IVF clusters (building the index if absent),
        then the integer Hamming scan + exact rerank over ONLY the
        probed clusters' packed sign words. Thresholds come from the
        full-corpus fit (codec state is probe-independent)."""
        from vervectordb_spark.operators import bq

        if self._ivf is None:
            self.build_ivf_index()
        probes = self._ivf.probe_clusters(query_vector, nprobe)
        probed = self._ivf_rows().filter(F.col("cluster_id").isin(probes))
        out = bq.hamming_search(probed, self._bq_thresholds(), query_vector,
                                top_k=top_k, rerank_factor=rerank_factor)
        return [{"vector_id": r["vec_id"], "similarity": r["sim"],
                 "hamming": r["hamming"]} for r in out.collect()]

    def train_bq(self):
        """Binary-quantization codec (operators/bq.py) — the 16x
        storage/scan reducer next to SQ8's 4x and PQ's 32x: one bit per
        dimension at per-dim midrange thresholds, from the same ONE
        min/max aggregate as SQ8. Thresholds pinned driver-side at fit
        time (dim floats — centroid-class state)."""
        from vervectordb_spark.operators import bq

        thr_pdf = bq.fit_bq_thresholds(self.df).toPandas()
        if len(thr_pdf) == 0:
            raise ValueError("train_bq on an empty store")
        self._bq_thr_pdf = thr_pdf
        return self._bq_thr_pdf

    def _bq_thresholds(self) -> DataFrame:
        if self._bq_thr_pdf is None:
            self.train_bq()
        return self.spark.createDataFrame(self._bq_thr_pdf)

    def bq_compress(self) -> DataFrame:
        """Adds bq_code ARRAY<BIGINT> — ceil(dim/60) packed sign words
        (16x over float32 at dim=64). Storage-only like compress();
        bq_search scans the words."""
        from vervectordb_spark.operators import bq

        self.df = bq.with_codes(self.df, self._bq_thresholds(),
                                self.vector_dim)
        return self.df

    def bq_search(self, query_vector: Sequence[float], top_k: int = 5,
                  rerank_factor: int = 3) -> list[dict]:
        """Hamming-candidate search: the corpus is scanned as packed sign
        words with bit_count(xor) distances in pure integer codegen, top
        rerank_factor*top_k by (hamming ASC, id ASC) via
        TakeOrderedAndProject, exact cosine rerank on the raw vectors of
        those candidates only (the shared 3x over-fetch ratio,
        SURVEY.md §2.5). Rows ingested after bq_compress carry NULL codes
        — hamming_search encodes them on the fly."""
        from vervectordb_spark.operators import bq

        out = bq.hamming_search(
            self.df, self._bq_thresholds(), query_vector, top_k=top_k,
            rerank_factor=rerank_factor,
        )
        return [{"vector_id": r["vec_id"], "similarity": r["sim"],
                 "hamming": r["hamming"]} for r in out.collect()]

    def train_rotated_bq(self, seed: int = 42):
        """Rotated-BQ codec: HD-rotate (operators/rotation.py — balances
        skewed per-dimension distributions so the sign bits carry more
        signal; see RECALL.md for when it wins) and fit the midrange
        thresholds on the ROTATED coordinates. State is (seed, dim-row
        thresholds) — centroid-class, kept across mutations like the
        other codecs."""
        from vervectordb_spark.operators import bq, rotation

        d2 = rotation.next_pow2(self.vector_dim)
        rotated = rotation.with_rotation(self.df, self.vector_dim, seed,
                                         pad=d2 != self.vector_dim)
        thr_pdf = bq.fit_bq_thresholds(rotated, emb_col="emb_rot",
                                       dim=d2).toPandas()
        if len(thr_pdf) == 0:
            raise ValueError("train_rotated_bq on an empty store")
        self._rotbq = (seed, thr_pdf)
        return thr_pdf

    def _rotbq_state(self, seed: int):
        if self._rotbq is None or self._rotbq[0] != seed:
            self.train_rotated_bq(seed)
        return self.spark.createDataFrame(self._rotbq[1])

    def rotated_bq_compress(self, seed: int = 42) -> DataFrame:
        """Adds bq_rot_code ARRAY<BIGINT> — the packed sign words of the
        ROTATED coordinates (trains the codec first if needed). Rows
        ingested afterwards carry NULL codes and are encoded on the fly
        at search time (the with_codes coalesce contract)."""
        from vervectordb_spark.operators import bq, rotation

        thr = self._rotbq_state(seed)
        d2 = rotation.next_pow2(self.vector_dim)
        rotated = rotation.with_rotation(self.df, self.vector_dim, seed,
                                         pad=d2 != self.vector_dim)
        self.df = bq.with_codes(rotated, thr, d2, emb_col="emb_rot",
                                out_col="bq_rot_code").drop("emb_rot")
        return self.df

    def rotated_bq_search(self, query_vector: Sequence[float],
                          top_k: int = 5, rerank_factor: int = 3,
                          seed: int = 42) -> list[dict]:
        """Rotated-BQ serving: Hamming scan in the rotated coordinate
        system, exact cosine rerank on the RAW vectors (rotation is
        metric-preserving, so the reported sim is the same one every
        other path reports). Uses stored bq_rot_code words when
        rotated_bq_compress ran (NULL-code rows encoded on the fly);
        otherwise rotates + encodes in-line."""
        from vervectordb_spark.operators import bq, rotation

        thr = self._rotbq_state(seed)
        d2 = rotation.next_pow2(self.vector_dim)
        # ONE path either way: the store's trained thresholds plus a
        # codes frame that reuses stored bq_rot_code words when compress
        # ran (with_codes coalesces NULL-code rows) and encodes lazily
        # when it didn't — never a silent inline refit.
        rotated = rotation.with_rotation(
            self.df, self.vector_dim, seed, pad=d2 != self.vector_dim)
        codes = bq.with_codes(rotated, thr, d2, emb_col="emb_rot",
                              out_col="bq_rot_code").select(
            "vec_id", F.col("bq_rot_code").alias("bq_code"))
        out = rotation.rotated_bq_search(
            self.df, query_vector, self.vector_dim, top_k=top_k,
            rerank_factor=rerank_factor, seed=seed,
            thresholds=thr, codes=codes,
        )
        return [{"vector_id": r["vec_id"], "similarity": r["sim"],
                 "hamming": r["hamming"]} for r in out.collect()]

    def train_residual_pq(self, n_subquantizers: int = 8, n_bits: int = 8,
                          sample_size: int = 10_000, seed: int = 42):
        """Residual IVF-PQ codec (FAISS-style; beyond the reference's
        raw-vector PQ): fit on (embedding − assigned centroid). Builds the
        IVF index first if absent — the codec is tied to those centroids."""
        if self.vector_dim % n_subquantizers:
            raise DimensionError(
                f"dim {self.vector_dim} not divisible by {n_subquantizers}"
            )
        if self._ivf is None:
            self.build_ivf_index()
        self._pq_res = _over(self._ivf, assigned=self._ivf_rows()).fit_residual_codec(
            n_subquantizers=n_subquantizers, codebook_size=2 ** n_bits,
            sample_size=sample_size, seed=seed,
        )
        return self._pq_res

    def ivfpq_residual_search(self, query_vector, top_k: int = 5,
                              nprobe: int | None = None) -> list[dict]:
        """Serving path over residual codes: probe → fused-LUT ADC →
        exact rerank. The residual codes are a row-derived frame of the
        codec and the version (at scale: persisted partitionBy(cluster_id)
        like the plain codes table, so the probe partition-prunes)."""
        if self._pq_res is None:
            self.train_residual_pq()
        ivf, codec = self._ivf, self._pq_res
        codes = self._derived("residual", codec, lambda: ivf.encode_residual(
            codec, self._ivf_rows()).select("vec_id", "cluster_id", "pq_code"))
        out = ivf.search_residual_pq(
            codec, codes, query_vector, top_k=top_k,
            nprobe=nprobe, rerank=self.df.select("vec_id", "embedding"),
        )
        return [
            {"vector_id": r["vec_id"], "similarity": r["sim"]}
            for r in out.collect()
        ]

    def semdedup(self, threshold: float = 0.95,
                 n_clusters: int = 16) -> DataFrame:
        """Cluster-bounded semantic near-dup pairs over the store — the
        SemDeDup shape riding the store's OWN IVF layout: the fitted
        index's cluster assignment is reused directly (no second
        assignment pass), so dedup cost is Σ|cluster|² ≈ N²/k, and the
        clusters are the same ones search probes. Returns (cluster_id,
        src_id, dst_id, sim) with sim >= threshold, src_id < dst_id."""
        from vervectordb_spark.operators.dedup import within_cluster_pairs

        if self._ivf is None:
            self.build_ivf_index(n_clusters=n_clusters)
        return within_cluster_pairs(self._ivf_rows(), threshold=threshold)

    def compress(self) -> DataFrame:
        """C4: adds pq_code ARRAY<TINYINT>; storage-only codec, like the
        reference (search never reads codes, vervectordb/__init__.py:344)."""
        if self._pq is None:
            self.train_pq()
        self.df = self._pq.encode(self.df)
        return self.df

    def decompress(self) -> DataFrame:
        if self._pq is None:
            raise RuntimeError("train_pq first")
        return self._pq.decode(self.df)

    def checkpoint(self, path: str | None = None,
                   versioned: bool = False) -> None:
        """Collapse the copy-on-write lineage. Every insert/update/delete
        extends the logical plan (union/filter chain); after a mutation
        burst the plan itself becomes the cost (the reference's analogue
        is np.vstack doubling peak memory per batch,
        vervectordb/__init__.py:256,284). Writing and re-reading resets the
        plan to one scan — at scale this is the compaction job.

        versioned=True commits the snapshot to a VersionedTable at
        `{db_path}/_versions` instead of rewriting one directory: each
        checkpoint is an immutable manifest commit, so repeated
        checkpoints never write over the files the current plan reads,
        prior states stay readable (`version_history`), and
        `restore_version` rolls the store back without data loss."""
        from vervectordb_spark.functions.checkpoint import (
            eager_checkpoint, release_blocks)

        carried = self._carried()  # the same rows: the matrix carries as is
        if versioned:
            from vervectordb_spark.sources.versioned import VersionedTable

            vpath = path or (self.db_path and f"{self.db_path}/_versions")
            if not vpath:
                raise ValueError("no db_path for checkpoint")
            vt = VersionedTable.create(self.spark, vpath)  # open-if-exists
            vt.overwrite(self.df)
            self.df = vt.read()
            self._versions = vt
        else:
            # a leaf name Spark's file index lists: it ignores a root path
            # whose own name starts with "_" (and warns on every re-read)
            path = path or (self.db_path and f"{self.db_path}/_checkpoint/rows")
            if not path:
                raise ValueError("no db_path for checkpoint")
            # a SECOND checkpoint reads the very path it overwrites --
            # Spark rejects overwrite-while-reading, so break the lineage
            # first (the bridge pins the rows; older pins are freed)
            self.df, self._df_ckpt_ids = eager_checkpoint(
                self.df, release=self._df_ckpt_ids)
            self.df.write.mode("overwrite").parquet(path)
            self.df = self.spark.read.parquet(path)
        # df now scans the files just written: the blocks pinned for it
        # (the bridge, ingest's uuid batches) are garbage
        release_blocks(self.spark.sparkContext, self._df_ckpt_ids)
        self._df_ckpt_ids = set()
        if carried is not None:
            self._carry(carried)

    def version_history(self) -> list[dict]:
        """Manifests of the versioned-checkpoint log, newest first."""
        if self._versions is None:
            raise ValueError("no versioned checkpoint yet")
        return self._versions.history()

    def restore_version(self, version: int) -> None:
        """Roll the store's vectors back to a prior checkpoint — published
        as a NEW version (append-only log; nothing is destroyed). Like any
        write: every index keeps its fit, and the restored rows are
        reassigned under it by the next read."""
        if self._versions is None:
            raise ValueError("no versioned checkpoint yet")
        self._versions.rollback(version)
        self.df = self._versions.read()

    # ---------------------------------------------------------- persistence
    def save(self, path: str | None = None,
             id_files: int | None = None) -> None:
        """S4: per-component parquet tables instead of one pickle blob —
        scan-able, partition-able, schema-evolvable.

        The whole artifact tree is written under `{path}.__tmp__` and
        rename-swapped in (sources/atomic.py) — an interrupted save leaves
        the previous complete store, never the half-written artifacts the
        load guards detect (the reference's pickle save truncates in
        place, vervectordb/__init__.py:556-573).

        Save-after-load to the SAME path is supported: the store rows are
        materialized (localCheckpoint) first, because the swap retires the
        very files their lineage reads. At 100 TB prefer
        versioned destination dirs or a table format; the same-path
        rewrite is the small-store convenience.

        `id_files` sizes the id-clustered vectors layout (default: the
        frame's current partition count) — more files ⇒ tighter per-file
        id envelopes ⇒ fewer files read per get_by_id."""
        from vervectordb_spark.sources.atomic import atomic_save

        path = path or self.db_path
        if not path:
            raise ValueError("no db_path")
        import os as _os

        if _os.path.isdir(f"{path}/_versions"):
            # the atomic swap would DELETE the versioned log nested under
            # this path -- that history is the durable store; refuse loudly
            raise ValueError(
                f"{path} holds a versioned checkpoint log (_versions); "
                "use checkpoint(versioned=True) for persistence there, or "
                "save() to a different path"
            )
        # materialize whenever the target is this store's own directory:
        # the swap retires _checkpoint files the current plan may read
        # (the old loaded_from==path guard missed the
        # fresh-store-then-checkpoint() case). The bridge is a new
        # version, so the index layouts written below are derived from it
        # too; it replaces the previous save's bridge (finding #15).
        if path == self.db_path or (self._loaded and self._loaded[0] == path):
            from vervectordb_spark.functions.checkpoint import (
                eager_checkpoint)

            self.df, self._df_ckpt_ids = eager_checkpoint(
                self.df, release=self._df_ckpt_ids)
        with atomic_save(path) as tmp:
            # id-clustered base layout: range-partition + sort by vec_id
            # and record per-file min/max id stats (sources/layout.py) so
            # a loaded store serves get_by_id by reading ONLY the file(s)
            # whose id envelope can hold the key — at 100 TB a primary-key
            # fetch must be metadata-driven file skipping, not a full scan
            # with pushdown (VERDICT r6 #7). The clustered write is the
            # standard one-shuffle layout job every table format runs on
            # OPTIMIZE; stats are #files rows of driver-side metadata.
            from vervectordb_spark.sources.layout import collect_file_stats

            n_files = id_files or max(1, self.df.rdd.getNumPartitions())
            (self.df.repartitionByRange(n_files, F.col("vec_id"))
             .sortWithinPartitions("vec_id")
             .write.mode("overwrite").parquet(f"{tmp}/vectors"))
            collect_file_stats(self.spark, f"{tmp}/vectors", ["vec_id"])
            if self._pq is not None:
                self._pq.save(f"{tmp}/pq", self.spark)
            if self._sq_stats_pdf is not None:
                self.spark.createDataFrame(self._sq_stats_pdf).coalesce(
                    1
                ).write.parquet(f"{tmp}/sq")
            if self._bq_thr_pdf is not None:
                self.spark.createDataFrame(self._bq_thr_pdf).coalesce(
                    1
                ).write.parquet(f"{tmp}/bq")
            if self._rotbq is not None:
                # rotated-BQ state is (seed, thresholds-on-rotated-coords);
                # the persisted bq_rot_code words were packed under THESE
                # thresholds — reloading without them would let
                # _rotbq_state silently refit on post-compress rows and
                # disagree with the stored code words (ADVICE r5)
                seed, thr_pdf = self._rotbq
                self.spark.createDataFrame(
                    thr_pdf.assign(rot_seed=seed)
                ).coalesce(1).write.parquet(f"{tmp}/bq_rot")
            if self._pq_res is not None and self._ivf is not None:
                # valid only with the centroids it was fitted against — the
                # IVF artifacts saved below carry them
                self._pq_res.save(f"{tmp}/pq_residual", self.spark)
            # each index layout holds the current version's rows
            if self._ivf is not None:
                _over(self._ivf, assigned=self._ivf_rows()).save(f"{tmp}/ivf")
            if self._ann is not None:
                # MLlib writer; model state is tiny (the random planes), the
                # featurized table re-derives from vectors at load
                self._ann.save(f"{tmp}/ann_model")
            if self._imi is not None:
                _over(self._imi, assigned=self._imi_rows()).save(f"{tmp}/imi")

    @classmethod
    def load(cls, spark: SparkSession, path: str, vector_dim: int | None = None) -> "VectorStore":
        """S5: reconstruct from parquet (+ model artifacts: PQ codebooks and
        the IVF layout are restored when present)."""
        from pyspark.errors import AnalysisException

        df = spark.read.parquet(f"{path}/vectors")
        if vector_dim is None:
            row = df.select(F.size("embedding").alias("d")).limit(1).collect()
            vector_dim = row[0]["d"] if row else 0
        store = cls(spark, vector_dim, db_path=path)
        from vervectordb_spark.operators.pq import PQCodec

        try:
            store._pq = PQCodec.load(spark, f"{path}/pq")
        except AnalysisException:
            pass  # no PQ artifacts saved
        except ValueError as e:  # empty/corrupt artifacts (interrupted save)
            import warnings

            warnings.warn(f"ignoring corrupt PQ artifacts: {e}")
        try:
            store._sq_stats_pdf = spark.read.parquet(f"{path}/sq").toPandas()
        except AnalysisException:
            pass  # no SQ stats saved
        try:
            store._bq_thr_pdf = spark.read.parquet(f"{path}/bq").toPandas()
        except AnalysisException:
            pass  # no BQ thresholds saved
        try:
            rot_pdf = spark.read.parquet(f"{path}/bq_rot").toPandas()
            if len(rot_pdf):
                seed = int(rot_pdf["rot_seed"].iloc[0])
                store._rotbq = (seed, rot_pdf.drop(columns=["rot_seed"]))
        except AnalysisException:
            # no persisted rotated thresholds: any bq_rot_code column in
            # the vectors table was packed under thresholds we no longer
            # have — drop it so search re-encodes consistently instead of
            # silently mixing refit query bits with stale corpus bits
            if "bq_rot_code" in df.columns:
                df = df.drop("bq_rot_code")
        store.df = df
        store._loaded = (path, store._version)
        from vervectordb_spark.operators.ivf import IVFIndex

        try:
            store._ivf = IVFIndex.load(spark, f"{path}/ivf")
        except AnalysisException:
            pass  # no IVF artifacts saved
        except ValueError as e:
            import warnings

            warnings.warn(f"ignoring corrupt IVF artifacts: {e}")
        try:
            store._pq_res = PQCodec.load(spark, f"{path}/pq_residual")
        except AnalysisException:
            pass  # no residual codec saved
        except ValueError as e:
            import warnings

            warnings.warn(f"ignoring corrupt residual-PQ artifacts: {e}")
        if store._pq_res is not None and store._ivf is None:
            import warnings

            warnings.warn(
                "residual-PQ codec found without IVF centroids — dropping it"
            )
            store._pq_res = None
        from vervectordb_spark.operators.imi import IMIIndex as _IMI

        try:
            store._imi = _IMI.load(spark, f"{path}/imi")
        except AnalysisException:
            pass  # no IMI artifacts saved
        except ValueError as e:
            import warnings

            warnings.warn(f"ignoring corrupt IMI artifacts: {e}")
        from vervectordb_spark.operators.ann import LSHAnnIndex

        try:
            store._ann = LSHAnnIndex.load(spark, f"{path}/ann_model", df)
        except Exception as e:  # MLlib load raises broadly on absent/corrupt
            if "ann_model" not in str(e) and "Path does not exist" not in str(e):
                import warnings

                warnings.warn(f"ignoring corrupt ANN artifacts: {e}")
        return store
