"""VectorStore under random op sequences, checked against a NumPy mirror.

Each step runs one facade call (insert, update, delete, merge, ingest,
checkpoint, brute/filtered/IVF/IMI/ANN/batch search, get_by_id) on the
store and the same write on perfbench's Mirror of the live rows: merge
is an upsert, ingest with vec_id an append. At two fixed steps the store
takes a versioned checkpoint and later restores it, and the mirror rolls
back with it; at fixed steps in between it takes two versioned
checkpoints in a row, and after the restore it is saved to another path
and loaded from there (the identity). After every step it asserts:

  * no deleted row and no stale vector is served (every returned row is
    live and carries the similarity of its CURRENT vector; get_by_id
    returns the current vector, or KeyError once deleted);
  * exact top-k (brute force, filtered) equals NumPy's;
  * every IVF hit carries the cluster MLlib's predict rule gives its
    CURRENT vector (Euclidean argmin over the index's centroids), every
    IMI hit the cells of its current vector, and the whole sequence fits
    each index once: writes reassign rows, they never refit;
  * the persisted-RDD count does not grow with the number of store
    versions — at most one frame per row-derived structure in use (the
    serving frame, the IMI cells, the ANN featurized rows) — and the store
    holds at most one driver matrix, dropping the one a newer version
    replaces;
  * a matrix a write carried on to a version, with the writes it queued
    applied, equals bit for bit the one a fill of that version's rows
    would collect, and the driver budget's measure (`_peak_bytes`) gives
    both the same size.

The whole sequence runs with the driver tier on and off, and both runs
must serve identical results. Writes carry the tier's matrix from version
to version, so on the tier most reads after a write never touch Spark;
merge, ingest, the restore and the load start a version from scratch.
"""

import copy
import random
import types
import uuid
import weakref

import numpy as np
import pytest
from pyspark.sql import functions as F

from perfbench.mirror import Mirror
from vervectordb_spark import store as store_module
from vervectordb_spark.functions.checkpoint import persistent_rdd_ids
from vervectordb_spark.functions.similarity import SS_COL, self_dot_expr
from vervectordb_spark.store import (VectorStore, _Delta, _Matrix, _peak_bytes,
                                     _row_frame)
from tests.conftest import tier_bytes
from tests.test_store import nearest_cells

DIM = 8
N_BASE = 120
LABELS = 3
TOP_K = 5
OPS = ("insert", "update", "delete", "merge", "ingest", "checkpoint",
       "brute", "filtered", "ivf", "imi", "ann", "batch", "get")
#: draw weights: reads dominate, like serving
WEIGHTS = np.array([3, 3, 3, 1, 1, 1, 3, 3, 3, 2, 2, 2, 3], dtype=float)
#: the steps that take a versioned checkpoint and restore it
SNAPSHOT, RESTORE = 8, 20
STEPS = 32
#: steps whose op is fixed, so every index serves across writes, the
#: restore and the load, and every op that ends or keeps a carry runs,
#: whatever the draw; "versioned" takes two
#: versioned checkpoints in a row, "reload" saves the store to another
#: path and loads it from there
FORCED = {3: "ivf", 4: "imi", 6: "ann", 10: "merge", 12: "batch",
          14: "versioned", 17: "ingest", 22: "imi", 24: "ann", 26: "reload",
          27: "ivf", 30: "batch"}
#: the row-derived frame each read kind fills
FRAME_OF = {"brute": "serving", "filtered": "serving", "ivf": "serving",
            "batch": "serving", "imi": "imi", "ann": "ann"}


def _vec(rng):
    return [float(x) for x in rng.standard_normal(DIM).astype(np.float32)]


@pytest.mark.parametrize("seed", [1, 2])
def test_random_ops_agree_with_numpy_mirror(spark, tmp_path, seed, ivf_fits,
                                            imi_fits, ann_fits, monkeypatch):
    """The sequence runs twice, on the driver tier (the default budget)
    and with the tier off (budget 0, every read on Spark): each run
    agrees with the mirror, fits each index once, and both runs return
    identical results, step for step. The store's uuid4 ids are drawn
    from a seeded stream, so both runs hold the same ids (and so the
    same id-drawn index fits). Only the store module's uuid is replaced:
    other uuid4 callers (pyspark.ml draws one per Params class the first
    time it is imported) must not shift the stream of one run."""
    def seeded_ids():
        draw = random.Random(seed)
        monkeypatch.setattr(store_module, "uuid", types.SimpleNamespace(
            uuid4=lambda: uuid.UUID(int=draw.getrandbits(128), version=4)))

    fits = (ivf_fits, imi_fits, ann_fits)
    seeded_ids()
    on = _replay(spark, tmp_path / "on", seed, tier=True)
    # each index was fitted by its first read alone, kept across writes
    assert [len(f) for f in fits] == [1, 1, 1]
    seeded_ids()
    with tier_bytes(0):
        off = _replay(spark, tmp_path / "off", seed, tier=False)
    assert [len(f) for f in fits] == [2, 2, 2]
    assert on == off


def _serving_rows(store):
    """A serving frame over the store's current rows, built the Spark
    way."""
    rows = store.df if store._ivf is None else store._ivf.assign(store.df)
    return rows.withColumn(SS_COL, self_dot_expr("embedding"))


def _fill(store):
    """The driver matrix a fill of the store's current version collects."""
    return _Matrix.collect(_serving_rows(store), store.vector_dim)


def _same_matrix(a, b):
    """Same rows in the same order: ids, vector and self-dot bits, cluster
    ids and metadata."""
    return (b is not None and list(a.ids) == list(b.ids)
            and np.array_equal(a.xt, b.xt) and np.array_equal(a.ss, b.ss)
            and (a.cluster_id is None) == (b.cluster_id is None)
            and (a.cluster_id is None
                 or np.array_equal(a.cluster_id, b.cluster_id))
            and a.metadata.to_pylist() == b.metadata.to_pylist())


def _replay(spark, path, seed, tier):
    """One run of the seeded op sequence against a fresh store, checked
    after every step; returns what each step served."""
    rng = np.random.default_rng(seed)
    sc = spark.sparkContext
    x = rng.standard_normal((N_BASE, DIM)).astype(np.float32)
    labels = rng.integers(0, LABELS, N_BASE)
    store = VectorStore(spark, DIM, db_path=str(path / "db"))
    ids = store.batch_insert([[float(v) for v in r] for r in x],
                             [{"label": str(int(lab))} for lab in labels])
    mirror = Mirror(ids, x, labels)
    baseline = persistent_rdd_ids(sc)
    versions = set()
    in_use = set()
    snapshot = None
    transcript = []
    last_matrix = None

    def live_id():
        return mirror.ids[int(rng.choice(np.nonzero(mirror.alive)[0]))]

    def ids_sims(out):
        return [r["vector_id"] for r in out], [r["similarity"] for r in out]

    def rows(vec_ids, labs):
        """Store rows with fresh vectors under `vec_ids`, as the Arrow
        LocalRelation a bulk write reads."""
        vecs = [_vec(rng) for _ in vec_ids]
        return vecs, _row_frame(spark, vec_ids, vecs, [
            {"label": str(int(lab))} for lab in labs])

    for step in range(STEPS):
        op = OPS[rng.choice(len(OPS), p=WEIGHTS / WEIGHTS.sum())]
        op = FORCED.get(step, op)
        where = f"seed {seed} step {step} ({op}, tier {tier})"
        if step == SNAPSHOT:
            store.checkpoint(versioned=True)
            snapshot = (store.version_history()[0]["version"],
                        copy.deepcopy(mirror))
        elif step == RESTORE:
            store.restore_version(snapshot[0])
            mirror = copy.deepcopy(snapshot[1])
        if op == "insert":
            n = int(rng.integers(1, 4))
            vecs = [_vec(rng) for _ in range(n)]
            labs = rng.integers(0, LABELS, n)
            new = store.batch_insert(vecs, [{"label": str(int(lab))} for lab in labs])
            mirror.insert(new, vecs, labs)
        elif op == "update":
            vid, v = live_id(), _vec(rng)
            store.update(vid, v)
            mirror.update(vid, v)
        elif op == "delete":
            vid = live_id()
            store.delete(vid)
            mirror.delete(vid)
            with pytest.raises(KeyError):
                store.get_by_id(vid)
        elif op == "merge":
            # an upsert: live rows replaced (their label kept), new appended
            old = list(dict.fromkeys(live_id() for _ in range(2)))
            new = [f"m{step}-{i}" for i in range(int(rng.integers(1, 3)))]
            labs = [mirror.labels[mirror.pos[v]] for v in old] + \
                list(rng.integers(0, LABELS, len(new)))
            vecs, src = rows(old + new, labs)
            store.merge(src)
            for vid, v in zip(old, vecs):
                mirror.update(vid, v)
            mirror.insert(new, vecs[len(old):], labs[len(old):])
        elif op == "ingest":
            new = [f"g{step}-{i}" for i in range(int(rng.integers(1, 4)))]
            labs = rng.integers(0, LABELS, len(new))
            vecs, src = rows(new, labs)
            store.ingest(src)
            mirror.insert(new, vecs, labs)
        elif op == "checkpoint":
            store.checkpoint()
        elif op == "versioned":
            store.checkpoint(versioned=True)
            store.checkpoint(versioned=True)
        elif op == "reload":
            old = store
            store.save(str(path / "copy"))
            store = VectorStore.load(spark, str(path / "copy"), DIM)
            # the dropped store's persisted frames are its owner's to free
            for held in old._frames.values():
                if held[2] is not None:
                    held[2].unpersist()
            del old
        elif op == "get":
            vid = live_id()
            got = store.get_by_id(vid)
            assert mirror.check_row(vid, got), where
            transcript.append(got)
        elif op == "batch":
            qs = [_vec(rng) for _ in range(3)]
            out = store.batch_search(qs, TOP_K)
            for q, res in zip(qs, out):
                assert mirror.check_topk(*ids_sims(res), q, TOP_K), where
            # off the tier the GEMM kernel's scores agree within 1e-6, not
            # bit for bit: the transcript keeps the ids
            transcript.append([ids_sims(res)[0] for res in out])
            versions.add(store._version)
            in_use.add(FRAME_OF[op])
        else:
            q = _vec(rng)
            if op == "brute":
                out = store.brute_force_search(q, TOP_K)
                assert mirror.check_topk(*ids_sims(out), q, TOP_K), where
            elif op == "filtered":
                lab = int(rng.integers(0, LABELS))
                out = store.filtered_search(
                    q, TOP_K, metadata_filter=F.col("metadata")["label"] == str(lab))
                assert mirror.check_topk(*ids_sims(out), q, TOP_K, label=lab), where
            else:
                if op == "ivf":
                    out = store.ivf_search(q, TOP_K, nprobe=4)
                elif op == "imi":
                    if store._imi is None:
                        store.build_imi_index(k1=4, k2=4)
                    out = store.imi_search(q, TOP_K, a=2, b=2)
                else:
                    out = store.ann_search(q, TOP_K)
                ok, _ = mirror.check_approx(*ids_sims(out), q, TOP_K)
                assert ok and out, where
                for r in out:
                    x = mirror.x[mirror.pos[r["vector_id"]]].astype(np.float64)
                    if op == "ivf":
                        cents = store._ivf.centroids
                        nearest = int(np.argmin(((cents - x) ** 2).sum(axis=1)))
                        assert r["cluster_id"] == nearest, where
                    elif op == "imi":
                        assert r["cell"] == nearest_cells(
                            x, store._imi.cent1, store._imi.cent2), where
            transcript.append(out)
            versions.add(store._version)
            in_use.add(FRAME_OF[op])
        held = store._frames.get("serving")
        if held is not None and held[0] == store._version and held[2] is None:
            # a matrix a write carried on, its queued writes applied (a
            # fold leaves the queue as it is): exactly what a fill collects
            m = held[3]
            if isinstance(m, _Delta):
                m = m.fold(spark, held[1])
            assert _same_matrix(m, _fill(store)), where
            # and the budget measures it as it measures that fill
            tbl = _serving_rows(store).select(*m.schema.names).toArrow()
            assert (_peak_bytes(m.table(), store.vector_dim)
                    == _peak_bytes(tbl, store.vector_dim)), where
            del m, tbl
        # at most ONE frame per row-derived structure in use, whatever
        # the version count
        assert len(persistent_rdd_ids(sc) - baseline) <= len(in_use), where
        # at most one driver matrix (queued writes or not), and none with
        # the tier off; the one a newer version's replaced is gone,
        # arrays and all
        held = [h[3].base if isinstance(h[3], _Delta) else h[3]
                for h in store._frames.values() if h[3]]
        assert len(held) <= (1 if tier else 0), where
        if held and (last_matrix is None or last_matrix() is not held[0]):
            assert last_matrix is None or last_matrix() is None, where
            last_matrix = weakref.ref(held[0])
    assert len(versions) >= 3  # the bound was exercised across versions
    if tier:
        assert last_matrix is not None  # the tier served this run
    return transcript
