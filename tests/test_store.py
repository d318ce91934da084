"""VectorStore facade: the reference's VerVectorDB API surface on Spark
(CRUD semantics from vervectordb/__init__.py:247-335, search :337-365)."""

import math
import os

import numpy as np
import pytest
from pyspark.sql import functions as F

from vervectordb_spark.store import DimensionError, VectorStore


def nearest_centroid(vec, centroids) -> int:
    """IVF predict: the Euclidean argmin over the centroids."""
    v = np.asarray(vec, dtype=np.float32).astype(np.float64)
    return int(np.argmin(((centroids - v) ** 2).sum(axis=1)))


def assert_index_tracks_rows(store, centroids, probe_ids=()):
    """The kept IVF index describes the store's CURRENT rows: the
    centroids are the ones fitted before the writes, the store's IVF rows
    hold exactly the live rows with their current vectors, each in the
    nearest centroid's cluster for that vector, and an all-cluster
    ivf_search finds every row in `probe_ids` by its own vector at
    similarity 1."""
    ivf = store._ivf
    assert ivf is not None
    assert np.array_equal(ivf.centroids, centroids)
    live = {r["vec_id"]: list(r["embedding"])
            for r in store.df.select("vec_id", "embedding").collect()}
    rows = store._ivf_rows().select("vec_id", "embedding", "cluster_id").collect()
    assert len(rows) == len(live)
    assert {r["vec_id"]: list(r["embedding"]) for r in rows} == live
    for r in rows:
        assert r["cluster_id"] == nearest_centroid(r["embedding"], centroids)
    for vid in probe_ids:
        hit = store.ivf_search(live[vid], top_k=1, nprobe=ivf.n_clusters)[0]
        assert hit["vector_id"] == vid
        assert abs(hit["similarity"] - 1.0) < 1e-9


def nearest_cells(vec, cent1, cent2) -> tuple[int, int]:
    """IMI assignment: per half, the argmax-cosine half-centroid (ties to
    the lower cell id)."""
    v = np.asarray(vec, dtype=np.float32).astype(np.float64)
    mid = len(v) // 2
    out = []
    for h, c in ((v[:mid], cent1), (v[mid:], cent2)):
        cs = (c @ h) / (np.linalg.norm(c, axis=1) * np.linalg.norm(h))
        out.append(int(np.argmax(cs)))
    return out[0], out[1]


def assert_imi_tracks_rows(store, cent1, cent2, probe_ids=()):
    """The kept IMI index describes the store's CURRENT rows: a
    whole-grid imi_search finds every row in `probe_ids` by its own
    vector at similarity 1, the half-centroids are the ones fitted before
    the writes, and the store's IMI rows hold exactly the live rows, each
    in the cells `IMIIndex.assign` gives its current vector."""
    imi = store._imi
    live = {r["vec_id"]: list(r["embedding"])
            for r in store.df.select("vec_id", "embedding").collect()}
    for vid in probe_ids:
        hit = store.imi_search(live[vid], top_k=1, a=len(cent1),
                               b=len(cent2))[0]
        assert hit["vector_id"] == vid
        assert abs(hit["similarity"] - 1.0) < 1e-9
    assert np.array_equal(imi.cent1, cent1)
    assert np.array_equal(imi.cent2, cent2)
    rows = store._imi_rows().select(
        "vec_id", "embedding", "cell1", "cell2").collect()
    assert len(rows) == len(live)
    assert {r["vec_id"]: list(r["embedding"]) for r in rows} == live
    for r in rows:
        assert (r["cell1"], r["cell2"]) == nearest_cells(
            r["embedding"], cent1, cent2)


def _random_store(spark, db_path=None, n=60, dim=8, seed=31):
    rng = np.random.default_rng(seed)
    st = VectorStore(spark, vector_dim=dim, db_path=db_path)
    ids = st.batch_insert(rng.normal(size=(n, dim)).tolist())
    return st, ids, rng


@pytest.fixture()
def store(spark):
    st = VectorStore(spark, vector_dim=4)
    st.batch_insert(
        [[1.0, 0.0, 0.0, 0.0], [0.0, 1.0, 0.0, 0.0], [0.9, 0.1, 0.0, 0.0]],
        [{"text": "alpha doc"}, {"text": "beta doc"}, {"text": "alpha beta"}],
    )
    return st


def test_insert_and_get(store):
    vid = store.insert([0.5, 0.5, 0.0, 0.0], {"text": "gamma"})
    got = store.get_by_id(vid)
    assert got["vector"] == [0.5, 0.5, 0.0, 0.0]
    assert got["metadata"] == {"text": "gamma"}


def test_dim_check(store):
    with pytest.raises(DimensionError):
        store.insert([1.0, 2.0])


def test_get_missing_raises(store):
    with pytest.raises(KeyError):
        store.get_by_id("nope")


def test_brute_force_search_order(store):
    res = store.brute_force_search([1.0, 0.0, 0.0, 0.0], top_k=2)
    sims = [r["similarity"] for r in res]
    assert sims == sorted(sims, reverse=True)
    assert math.isclose(res[0]["similarity"], 1.0, abs_tol=1e-9)
    # second hit is the [0.9, 0.1, ...] vector
    assert res[1]["metadata"]["text"] == "alpha beta"


def test_zero_norm_query_guard(store):
    res = store.brute_force_search([0.0, 0.0, 0.0, 0.0], top_k=3)
    assert all(r["similarity"] == 0.0 for r in res)


def test_update_reflected_in_search(store):
    vid = store.insert([0.0, 0.0, 1.0, 0.0], {"text": "victim"})
    store.update(vid, new_vector=[0.0, 0.0, 0.0, 1.0])
    got = store.get_by_id(vid)
    assert got["vector"] == [0.0, 0.0, 0.0, 1.0]
    # searches see the new vector (the reference leaves indexes stale; we must not)
    res = store.brute_force_search([0.0, 0.0, 0.0, 1.0], top_k=1)
    assert res[0]["vector_id"] == vid


def test_delete_removes_row(store):
    vid = store.insert([0.0, 0.0, 1.0, 0.0], {})
    store.delete(vid)
    with pytest.raises(KeyError):
        store.get_by_id(vid)


def test_filtered_search_keywords(store):
    res = store.filtered_search([1.0, 0.0, 0.0, 0.0], top_k=5, keywords=["beta"])
    texts = {r["metadata"]["text"] for r in res}
    assert texts == {"beta doc", "alpha beta"}


def test_hybrid_search_via_store(store):
    """RRF fusion over the store: the doc matching both the query terms and
    the query vector must outrank single-modality docs."""
    res = store.hybrid_search([1.0, 0.0, 0.0, 0.0], ["alpha", "beta"], top_k=3)
    assert res
    # "alpha beta" matches 2 terms AND is cosine-close to the query
    top = res[0]
    assert top["kw_rank"] != -1 and top["vec_rank"] != -1
    scores = [r["rrf_score"] for r in res]
    assert scores == sorted(scores, reverse=True)
    for r in res:
        got = 0.0
        if r["kw_rank"] != -1:
            got += 1.0 / (60 + r["kw_rank"])
        if r["vec_rank"] != -1:
            got += 1.0 / (60 + r["vec_rank"])
        assert abs(r["rrf_score"] - got) < 1e-12


def test_batch_search_batched(store):
    res = store.batch_search([[1.0, 0.0, 0.0, 0.0], [0.0, 1.0, 0.0, 0.0]], top_k=2)
    assert len(res) == 2 and all(len(r) == 2 for r in res)
    assert math.isclose(res[0][0]["similarity"], 1.0, abs_tol=1e-9)
    assert math.isclose(res[1][0]["similarity"], 1.0, abs_tol=1e-9)


def test_save_load_roundtrip(store, spark, tmp_path):
    path = str(tmp_path / "db")
    store.save(path)
    loaded = VectorStore.load(spark, path)
    assert loaded.vector_dim == 4
    assert loaded.df.count() == store.df.count()


@pytest.mark.deep
def test_save_load_roundtrip_with_pq_and_ivf(spark, tmp_path):
    """Artifacts round-trip: PQ codebooks and the IVF layout are saved and
    restored (ADVICE r1: save() passed no spark arg -> TypeError; load()
    never restored PQ)."""
    import numpy as np

    st = VectorStore(spark, vector_dim=8)
    st.batch_insert([[float(i == j) for j in range(8)] for i in range(8)] * 4)
    st.train_pq(n_subquantizers=4, n_bits=2, sample_size=32)
    st.build_ivf_index(n_clusters=2)
    path = str(tmp_path / "db")
    st.save(path)
    loaded = VectorStore.load(spark, path)
    assert loaded._pq is not None
    assert np.allclose(loaded._pq.codebooks, st._pq.codebooks)
    assert loaded._ivf is not None
    assert np.allclose(loaded._ivf.centroids, st._ivf.centroids)
    # restored codec encodes identically
    a = st._pq.encode(st.df).select("vec_id", "pq_code").collect()
    b = loaded._pq.encode(loaded.df).select("vec_id", "pq_code").collect()
    assert {r["vec_id"]: list(r["pq_code"]) for r in a} == {
        r["vec_id"]: list(r["pq_code"]) for r in b
    }


def test_ivf_search_via_store(store):
    res = store.ivf_search([1.0, 0.0, 0.0, 0.0], top_k=2, nprobe=3)
    assert res and res[0]["similarity"] >= res[-1]["similarity"]
    assert all("cluster_id" in r for r in res)


def test_ann_search_via_store(store):
    res = store.ann_search([1.0, 0.0, 0.0, 0.0], top_k=2)
    assert res
    assert math.isclose(res[0]["similarity"], 1.0, abs_tol=1e-9)
    # hnsw_search is the 1:1 alias for reference callers (intent, not B1)
    assert store.hnsw_search([1.0, 0.0, 0.0, 0.0], top_k=2)[0] == res[0]


def test_pq_via_store(spark):
    st = VectorStore(spark, vector_dim=8)
    st.batch_insert([[float(i == j) for j in range(8)] for i in range(8)] * 4)
    st.train_pq(n_subquantizers=4, n_bits=2, sample_size=32)
    df = st.compress()
    assert "pq_code" in df.columns
    rec = st.decompress()
    assert "embedding_hat" in rec.columns
    assert rec.count() == 32


def test_mutation_invalidates_index(store, ivf_fits):
    """No write leaves the IVF index serving the old rows (the stale-HNSW
    bug, SURVEY §1.3, stays fixed) — and none refits KMeans: the fitted
    centroids are kept and only the rows are reassigned."""
    store.build_ivf_index(n_clusters=2)
    centroids = store._ivf.centroids.copy()
    ids = [r["vec_id"] for r in store.df.select("vec_id").collect()]
    new = store.insert([0.2, 0.2, 0.2, 0.2], {})
    assert_index_tracks_rows(store, centroids, [new])
    store.update(ids[0], [0.1, 0.3, 0.5, 0.7])
    assert_index_tracks_rows(store, centroids, [ids[0]])
    store.delete(ids[1])
    assert_index_tracks_rows(store, centroids)
    assert len(ivf_fits) == 1  # the build_ivf_index() call only


def test_index_validity_is_per_index(store, ivf_fits):
    """ADVICE r1 (medium): building ANN after a mutation must not leave
    the IVF index describing the pre-mutation rows — a shared validity
    flag once served a stale IVF."""
    store.build_ivf_index(n_clusters=2)
    centroids = store._ivf.centroids.copy()
    new = store.insert([0.2, 0.2, 0.2, 0.2], {"text": "new row"})
    store.build_ann_index()  # building one index...
    # ...leaves the other on the current rows, without a refit
    assert_index_tracks_rows(store, centroids, [new])
    assert len(ivf_fits) == 1


def test_compress_idempotent(spark):
    """ADVICE r1 (low): a second compress() must replace pq_code, not
    duplicate the column."""
    st = VectorStore(spark, vector_dim=8)
    st.batch_insert([[float(i == j) for j in range(8)] for i in range(8)] * 4)
    st.train_pq(n_subquantizers=4, n_bits=2, sample_size=32)
    st.compress()
    st.compress()
    assert st.df.columns.count("pq_code") == 1
    assert st.df.count() == 32


def test_checkpoint_collapses_lineage(store, tmp_path):
    for i in range(5):
        store.insert([0.1 * i, 0.2, 0.3, 0.4], {"i": str(i)})
    n_before = store.df.count()
    store.checkpoint(str(tmp_path / "ckpt"))
    assert store.df.count() == n_before
    # post-checkpoint plan is a single scan, not a union chain
    plan = store.df._jdf.queryExecution().executedPlan().toString()
    assert "Union" not in plan


@pytest.mark.deep
def test_save_after_load_same_path(spark, tmp_path):
    """load(path) then save(path) must roundtrip: the overwrite targets the
    path the lineage reads from, which save() breaks via localCheckpoint
    (and by not rewriting disk-loaded IVF artifacts)."""
    from vervectordb_spark.store import VectorStore

    path = str(tmp_path / "db")
    st = VectorStore(spark, 4, db_path=path)
    st.batch_insert([[1.0, 0.0, 0.0, 0.0], [0.0, 1.0, 0.0, 0.0],
                     [0.0, 0.0, 1.0, 0.0], [0.0, 0.0, 0.0, 1.0]])
    st.build_ivf_index(n_clusters=2)
    st.train_pq(n_subquantizers=2, sample_size=4)
    st.save()

    st2 = VectorStore.load(spark, path)
    assert st2._ivf is not None and st2._pq is not None
    st2.save()  # same path: must not raise
    # and after a mutation (index invalidated), still saves fine
    st2.insert([0.5, 0.5, 0.0, 0.0])
    st2.save()
    st3 = VectorStore.load(spark, path)
    assert st3.df.count() == 5


def test_load_ignores_empty_pq_artifacts(spark, tmp_path):
    """An interrupted save leaving an empty pq/ dir must not crash load."""
    import os
    import warnings

    from vervectordb_spark.operators.pq import PQCodec
    from vervectordb_spark.store import VectorStore

    path = str(tmp_path / "db2")
    st = VectorStore(spark, 4, db_path=path)
    st.batch_insert([[1.0, 0.0, 0.0, 0.0]])
    st.save()
    # simulate interrupted PQ save: schema-only parquet (zero rows)
    spark.createDataFrame(
        [], "subspace int, code int, centroid array<double>"
    ).write.mode("overwrite").parquet(f"{path}/pq")
    with pytest.raises(ValueError, match="empty"):
        PQCodec.load(spark, f"{path}/pq")
    with warnings.catch_warnings(record=True) as w:
        warnings.simplefilter("always")
        st2 = VectorStore.load(spark, path)
    assert st2._pq is None
    assert any("PQ artifacts" in str(x.message) for x in w)


def test_merge_bulk_upsert(store, spark, ivf_fits):
    """Bulk replace-or-insert by vec_id: updated rows replaced in place,
    new ids appended, untouched rows intact, the IVF index reassigned to
    the merged rows without a refit."""
    ids = [r["vec_id"] for r in store.df.select("vec_id").collect()]
    src = spark.createDataFrame(
        [
            (ids[0], [0.0, 0.0, 1.0, 0.0], {"text": "replaced"}),
            ("brand-new", [0.0, 0.0, 0.0, 1.0], {"text": "inserted"}),
        ],
        "vec_id string, embedding array<float>, metadata map<string,string>",
    )
    store.build_ivf_index(n_clusters=2)
    centroids = store._ivf.centroids.copy()
    store.merge(src)
    assert_index_tracks_rows(store, centroids, [ids[0], "brand-new"])
    assert len(ivf_fits) == 1
    assert store.df.count() == 4
    got = store.get_by_id(ids[0])
    assert got["vector"] == [0.0, 0.0, 1.0, 0.0]
    assert got["metadata"] == {"text": "replaced"}
    assert store.get_by_id("brand-new")["metadata"] == {"text": "inserted"}
    # untouched row survives with its original payload
    assert store.get_by_id(ids[1])["vector"] == [0.0, 1.0, 0.0, 0.0]


def test_kept_index_saves_live_rows_and_loaded_index_survives_writes(
        spark, tmp_path, ivf_fits):
    """Writes → save → load with a kept (fitted) IVF index: the saved
    layout holds exactly the live rows in the pre-write centroids'
    clusters, and the loaded index serves them. The loaded index is just
    its centroids, so a write keeps it and reassigns the rows — no
    refit."""
    path = str(tmp_path / "kept")
    st = VectorStore(spark, vector_dim=4)
    ids = st.batch_insert([[1.0, 0.0, 0.0, 0.0], [0.0, 1.0, 0.0, 0.0],
                           [0.9, 0.1, 0.0, 0.0], [0.0, 0.0, 1.0, 0.0]])
    st.build_ivf_index(n_clusters=2)
    centroids = st._ivf.centroids.copy()
    new_vec = [0.2, 0.3, 0.4, 0.5]
    new = st.insert(new_vec)
    st.update(ids[0], [0.0, 0.5, 0.0, 1.0])
    st.delete(ids[1])
    st.save(path)
    assert len(ivf_fits) == 1

    live = {ids[0]: [0.0, 0.5, 0.0, 1.0], ids[2]: [0.9, 0.1, 0.0, 0.0],
            ids[3]: [0.0, 0.0, 1.0, 0.0], new: new_vec}
    saved = spark.read.parquet(f"{path}/ivf/vectors_by_cluster").collect()
    assert len(saved) == len(live)
    assert {r["vec_id"]: list(r["embedding"]) for r in saved} == {
        k: [float(np.float32(x)) for x in v] for k, v in live.items()}
    for r in saved:
        assert r["cluster_id"] == nearest_centroid(r["embedding"], centroids)

    loaded = VectorStore.load(spark, path)
    kept = loaded._ivf
    assert np.array_equal(kept.centroids, centroids)
    hit = loaded.ivf_search(new_vec, top_k=1, nprobe=2)[0]
    assert hit["vector_id"] == new and abs(hit["similarity"] - 1.0) < 1e-6

    loaded.insert([0.5, 0.5, 0.5, 0.5])
    assert loaded._ivf is kept
    assert_index_tracks_rows(loaded, centroids, [new])
    assert len(ivf_fits) == 1


def test_merge_dim_check(store, spark):
    src = spark.createDataFrame(
        [("x", [1.0, 2.0], None)],
        "vec_id string, embedding array<float>, metadata map<string,string>",
    )
    with pytest.raises(DimensionError):
        store.merge(src)


def test_dim_checks_run_one_job(store, spark):
    """ingest's and merge's dimension checks are one bounded probe each:
    a rejected batch costs one Spark job, not limit(1).count()'s two."""
    from tests.conftest import counting_jobs

    bad = spark.createDataFrame(
        [("x", [1.0, 0.0, 0.0, 0.0], None), ("y", [1.0, 2.0], None)],
        "vec_id string, embedding array<float>, metadata map<string,string>",
    )
    with counting_jobs(spark.sparkContext) as jobs, \
            pytest.raises(DimensionError):
        store.ingest(bad)
    assert jobs == [1]
    with counting_jobs(spark.sparkContext) as jobs, \
            pytest.raises(DimensionError):
        store.merge(bad)
    assert jobs == [1]


def test_save_load_restores_ann_index(spark, tmp_path):
    """The MLlib ANN model rides save/load like IVF/PQ: a loaded store
    serves ann_search without rebuilding, with the same results."""
    st = VectorStore(spark, vector_dim=4)
    st.batch_insert([[1.0, 0.0, 0.0, 0.0], [0.0, 1.0, 0.0, 0.0],
                     [0.9, 0.1, 0.0, 0.0], [0.5, 0.5, 0.0, 0.0]])
    st.build_ann_index(num_hash_tables=2, seed=42)
    before = st.ann_search([1.0, 0.0, 0.0, 0.0], top_k=2)
    path = str(tmp_path / "store_with_ann")
    st.save(path)

    loaded = VectorStore.load(spark, path)
    assert loaded._ann is not None  # restored, not rebuilt
    after = loaded.ann_search([1.0, 0.0, 0.0, 0.0], top_k=2)
    assert [(r["vector_id"], round(r["similarity"], 9)) for r in before] == \
           [(r["vector_id"], round(r["similarity"], 9)) for r in after]


def test_atomic_save_on_exception_keeps_previous(tmp_path):
    """A save that dies mid-write must leave the previous complete
    artifact in place, not a torn one."""
    import os

    from vervectordb_spark.sources.atomic import atomic_save

    p = str(tmp_path / "artifact")
    with atomic_save(p) as tmp:
        os.makedirs(tmp, exist_ok=True)
        with open(f"{tmp}/data", "w") as f:
            f.write("v1")
    with pytest.raises(RuntimeError):
        with atomic_save(p) as tmp:
            os.makedirs(tmp, exist_ok=True)
            with open(f"{tmp}/data", "w") as f:
                f.write("v2-partial")
            raise RuntimeError("killed mid-save")
    with open(f"{p}/data") as f:
        assert f.read() == "v1"
    assert not os.path.exists(p + ".__tmp__")


def test_store_save_interrupted_keeps_previous_loadable(spark, tmp_path, monkeypatch):
    """Kill-mid-save at the store level: the interrupted save raises, and
    load still serves the previous complete store (vectors AND index)."""
    from vervectordb_spark.operators.ivf import IVFIndex

    path = str(tmp_path / "db_atomic")
    st = VectorStore(spark, vector_dim=4)
    st.batch_insert([[1.0, 0.0, 0.0, 0.0], [0.0, 1.0, 0.0, 0.0]])
    st.build_ivf_index(n_clusters=2)
    st.save(path)

    st.batch_insert([[0.5, 0.5, 0.0, 0.0]])
    st.build_ivf_index(n_clusters=2)

    def boom(self, p):
        raise RuntimeError("killed mid-save")

    monkeypatch.setattr(IVFIndex, "save", boom)
    with pytest.raises(RuntimeError):
        st.save(path)

    loaded = VectorStore.load(spark, path)
    assert loaded.df.count() == 2  # previous version, complete
    hits = loaded.ivf_search([1.0, 0.0, 0.0, 0.0], top_k=2, nprobe=2)
    assert len(hits) == 2


def test_versioned_checkpoint_history_and_restore(spark, tmp_path):
    """checkpoint(versioned=True) commits snapshots to an append-only
    manifest log: repeated checkpoints never overwrite what the current
    plan reads, old states stay readable, restore_version rolls back."""
    from vervectordb_spark.store import VectorStore

    store = VectorStore(spark, 4, db_path=str(tmp_path / "vs"))
    store.batch_insert([[0.1, 0.2, 0.3, 0.4], [0.5, 0.6, 0.7, 0.8]])
    store.checkpoint(versioned=True)          # v1: 2 rows
    n_v1 = store.df.count()
    store.insert([0.9, 0.9, 0.9, 0.9])
    store.checkpoint(versioned=True)          # v2: 3 rows
    assert store.df.count() == n_v1 + 1
    ops = [m["op"] for m in store.version_history()]
    assert ops[0] == "overwrite" and ops[-1] == "create"
    store.restore_version(1)                  # publish v3 = v1's files
    assert store.df.count() == n_v1
    # rollback is append-only: v2's 3-row state is still in the log
    assert store._versions.read(version=2).count() == n_v1 + 1


def test_versioned_checkpoint_requires_path(spark):
    from vervectordb_spark.store import VectorStore

    store = VectorStore(spark, 4)
    store.insert([0.1, 0.2, 0.3, 0.4])
    import pytest as _pytest

    with _pytest.raises(ValueError, match="db_path"):
        store.checkpoint(versioned=True)
    with _pytest.raises(ValueError, match="versioned"):
        store.version_history()


@pytest.mark.deep
def test_residual_pq_search_and_roundtrip(spark, tmp_path):
    """Residual IVF-PQ through the store facade: self query is top-1;
    save/load restores the codec WITH its centroids and still serves."""
    import numpy as np

    rng = np.random.RandomState(7)
    st = VectorStore(spark, vector_dim=8)
    vecs = rng.randn(40, 8).astype(float).tolist()
    ids = st.batch_insert(vecs)
    st.build_ivf_index(n_clusters=4)
    st.train_residual_pq(n_subquantizers=4, n_bits=3)
    got = st.ivfpq_residual_search(vecs[5], top_k=3, nprobe=4)
    assert got[0]["vector_id"] == ids[5]

    path = str(tmp_path / "res_store")
    st.save(path)
    loaded = VectorStore.load(spark, path)
    assert loaded._pq_res is not None and loaded._ivf is not None
    got2 = loaded.ivfpq_residual_search(vecs[5], top_k=3, nprobe=4)
    assert got2[0]["vector_id"] == ids[5]
    assert [g["vector_id"] for g in got] == [g["vector_id"] for g in got2]


def test_chunk_ingest_end_to_end(spark):
    """chunk_ingest: documents become searchable chunk vectors with
    doc/chunk provenance in metadata; hybrid search over the chunk store
    returns the ingested chunks."""
    from pyspark.sql import functions as F

    from tests.conftest import SF_DIR
    from vervectordb_spark.schema import load_table

    st = VectorStore(spark, vector_dim=32)
    docs = load_table(spark, SF_DIR, "documents").filter(F.col("doc_id") < 30)
    n = st.chunk_ingest(docs, chunk_tokens=40, overlap=10)
    assert n > 30  # at least one chunk per doc, some docs multi-chunk
    assert st.df.count() == n
    row = st.df.limit(1).collect()[0]
    md = dict(row["metadata"])
    assert {"doc_id", "chunk_id", "text"} <= set(md)
    assert row["vec_id"] == f"{md['doc_id']}#{md['chunk_id']}"
    # chunk store is searchable end-to-end
    qv = [float(x) for x in row["embedding"]]
    res = st.brute_force_search(qv, top_k=3)
    assert res and res[0]["vector_id"] == row["vec_id"]


def test_store_semdedup_reuses_ivf_assignment(spark):
    from vervectordb_spark.store import VectorStore

    store = VectorStore(spark, vector_dim=4)
    vecs = [
        [1.0, 0.0, 0.0, 0.0], [0.999, 0.001, 0.0, 0.0],
        [0.0, 1.0, 0.0, 0.0], [0.0, 0.999, 0.001, 0.0],
        [0.0, 0.0, 1.0, 0.0], [0.5, 0.5, 0.0, 0.0],
    ]
    store.batch_insert(vecs)
    pairs = store.semdedup(threshold=0.99, n_clusters=3).collect()
    # near-identical pairs surface; every pair is within one cluster
    assert len(pairs) >= 2
    assert all(r["sim"] >= 0.99 for r in pairs)
    # and the fitted index is the one the pair stage used
    assert store._ivf is not None


def _small_store(spark, db_path=None):
    st = VectorStore(spark, vector_dim=4, db_path=db_path)
    st.batch_insert(
        [[1.0, 0.0, 0.0, 0.0], [0.0, 1.0, 0.0, 0.0],
         [0.9, 0.1, 0.0, 0.0], [0.2, 0.8, 0.0, 0.0]],
    )
    return st


def test_insert_after_compress_and_double_checkpoint(spark, tmp_path):
    """compress() adds pq_code; later inserts must still union (NULL
    codes), and checkpoint() must be repeatable (the second call
    overwrites the path the plan reads — requires the lineage break)."""
    store = _small_store(spark, db_path=str(tmp_path / "s1"))
    store.train_pq(n_subquantizers=2, n_bits=2, sample_size=4)
    store.compress()
    ids = store.batch_insert([[0.5, 0.5, 0.5, 0.5]])
    assert store.get_by_id(ids[0]) is not None
    store.checkpoint()
    store.batch_insert([[0.1, 0.2, 0.3, 0.4]])
    store.checkpoint()  # second compaction over the same path
    assert store.df.count() >= 6


def test_save_refuses_versioned_path(spark, tmp_path):
    """save()'s atomic swap would delete a nested _versions log — the
    durable history; it must refuse instead."""
    store = _small_store(spark, db_path=str(tmp_path / "s2"))
    store.checkpoint(versioned=True)
    with pytest.raises(ValueError, match="_versions"):
        store.save()


def test_build_ivf_clears_stale_residual_codec(spark):
    """A rebuilt IVF must not be combined with a residual codec fitted
    against the previous centroids: the refit drops the codec, and the
    residual codes a search reads next belong to the codec fitted after
    it, not to the dropped one."""
    store = _small_store(spark)
    q = [1.0, 0.0, 0.0, 0.0]
    store.train_residual_pq(n_subquantizers=2, n_bits=2, sample_size=4)
    store.ivfpq_residual_search(q, top_k=1, nprobe=2)
    old = store._pq_res
    assert old is not None and store._frames["residual"][1] is old
    store.build_ivf_index(n_clusters=2)
    assert store._pq_res is None
    store.train_residual_pq(n_subquantizers=2, n_bits=2, sample_size=4)
    hit = store.ivfpq_residual_search(q, top_k=1, nprobe=2)
    assert store._pq_res is not old
    assert store._frames["residual"][1] is store._pq_res
    assert hit[0]["similarity"] == pytest.approx(1.0)


@pytest.mark.deep
def test_store_imi_facade_and_persistence(spark, tmp_path, imi_fits):
    """IMI via the store: build/search facade, a write that keeps the fit
    and reassigns the rows, and save/load of the cell layout +
    centroids."""
    rng = np.random.default_rng(31)
    st = VectorStore(spark, vector_dim=8)
    ids = st.batch_insert(rng.normal(size=(80, 8)).tolist())
    qv = st.get_by_id(ids[7])["vector"]
    hits = st.imi_search(qv, top_k=3, a=2, b=2)
    assert hits[0]["vector_id"] == ids[7]
    assert abs(hits[0]["similarity"] - 1.0) < 1e-9
    kept = st._imi
    new = st.insert(rng.normal(size=8).tolist())
    assert st._imi is kept  # a write keeps the fit
    assert_imi_tracks_rows(st, kept.cent1, kept.cent2, [new])
    assert len(imi_fits) == 1
    path = str(tmp_path / "imistore")
    st.build_imi_index(k1=4, k2=4)
    st.save(path)
    loaded = VectorStore.load(spark, path)
    assert loaded._imi is not None
    again = loaded.imi_search(qv, top_k=3, a=2, b=2)
    assert again[0]["vector_id"] == ids[7]


def test_imi_keeps_its_fit_across_checkpoints_and_writes(spark, tmp_path,
                                                         imi_fits):
    """An IMI index built over checkpointed rows keeps serving after the
    next checkpoint rewrites those files, and writes keep its
    half-centroids and reassign the rows — one fit for the sequence."""
    st, ids, rng = _random_store(spark, db_path=str(tmp_path / "db"))
    st.checkpoint()
    st.build_imi_index(k1=4, k2=4)
    cents = (st._imi.cent1.copy(), st._imi.cent2.copy())
    st.checkpoint()
    assert_imi_tracks_rows(st, *cents, [ids[7]])
    new = st.insert(rng.normal(size=8).tolist())
    st.update(ids[3], rng.normal(size=8).tolist())
    st.delete(ids[5])
    assert_imi_tracks_rows(st, *cents, [new, ids[3]])
    assert ids[5] not in {h["vector_id"] for h in st.imi_search(
        st.get_by_id(ids[6])["vector"], top_k=60, a=4, b=4)}
    assert len(imi_fits) == 1


def test_loaded_imi_serves_after_same_path_save(spark, tmp_path, imi_fits):
    """A loaded store's IMI index reads the saved cell layout; a save to
    the same path retires those files, and the index keeps serving the
    store's rows from the new version."""
    path = str(tmp_path / "db")
    st, ids, _ = _random_store(spark, db_path=path)
    st.build_imi_index(k1=4, k2=4)
    st.save()
    loaded = VectorStore.load(spark, path)
    cents = (loaded._imi.cent1, loaded._imi.cent2)
    q = loaded.get_by_id(ids[7])["vector"]
    assert loaded.imi_search(q, top_k=1, a=4, b=4)[0]["vector_id"] == ids[7]
    loaded.save()
    assert loaded.imi_search(q, top_k=1, a=4, b=4)[0]["vector_id"] == ids[7]
    assert_imi_tracks_rows(loaded, *cents, [ids[8]])
    assert len(imi_fits) == 1


@pytest.mark.parametrize("read", ["ann", "residual"])
def test_row_derived_frames_do_not_accumulate(spark, read):
    """Write/read cycles hold the same number of persisted RDDs: each
    version's ANN featurized rows or residual codes replace (unpersist)
    the previous version's."""
    from vervectordb_spark.functions.checkpoint import persistent_rdd_ids

    st, ids, rng = _random_store(spark)
    sc = spark.sparkContext
    if read == "ann":
        search = st.ann_search
    else:
        st.build_ivf_index(n_clusters=4)
        st.train_residual_pq(n_subquantizers=2, n_bits=2, sample_size=60)

        def search(q, top_k):
            return st.ivfpq_residual_search(q, top_k=top_k, nprobe=4)
    baseline = persistent_rdd_ids(sc)
    held = []
    for _ in range(4):
        st.insert(rng.normal(size=8).tolist())
        assert search(rng.normal(size=8).tolist(), top_k=3)
        held.append(len(persistent_rdd_ids(sc) - baseline))
    assert held == [held[0]] * 4, held


def test_ann_after_writes_matches_a_fresh_build(spark, ann_fits):
    """Writes keep the BRP-LSH model and featurize the new rows under
    it: ann_search then returns the same ids and similarities as a fresh
    build over the same rows."""
    st, ids, rng = _random_store(spark)
    st.build_ann_index(num_hash_tables=3, seed=7)
    q = rng.normal(size=8).tolist()
    st.ann_search(q, top_k=5)
    kept = st._ann
    new = st.insert(q)
    st.update(ids[0], rng.normal(size=8).tolist())
    st.delete(ids[1])
    got = st.ann_search(q, top_k=5)
    assert st._ann is kept and len(ann_fits) == 1
    assert got[0]["vector_id"] == new
    assert ids[1] not in {r["vector_id"] for r in got}
    st.build_ann_index(num_hash_tables=3, seed=7)
    fresh = st.ann_search(q, top_k=5)
    assert [(r["vector_id"], r["similarity"]) for r in got] == \
        [(r["vector_id"], r["similarity"]) for r in fresh]


def test_ingest_uuid_pins_released_by_checkpoint(spark, tmp_path):
    """ingest without vec_id pins each batch so its uuid ids stay put;
    the next checkpoint() releases the pins once the rows are on disk,
    and the ids survive it."""
    from vervectordb_spark.functions.checkpoint import persistent_rdd_ids

    sc = spark.sparkContext
    st = VectorStore(spark, vector_dim=4, db_path=str(tmp_path / "db"))
    baseline = persistent_rdd_ids(sc)
    for i in range(3):
        st.ingest(spark.createDataFrame([([float(i), 1.0, 0.0, 0.0],)],
                                        "embedding array<float>"))
    assert len(persistent_rdd_ids(sc) - baseline) == 3
    ids = sorted(r["vec_id"] for r in st.df.collect())
    st.checkpoint()
    assert persistent_rdd_ids(sc) - baseline == set()
    assert sorted(r["vec_id"] for r in st.df.collect()) == ids


# ------------------------------------------------------------ driver tier
INF, NAN = float("inf"), float("nan")
#: rows whose scores hit every edge of the folds: a zero vector (cosine
#: 0), NaN and ±inf components, and exact ties (the same vector under
#: ids inserted out of id order, so only the id can order them)
EDGE_ROWS = [
    ("e-zero", [0.0, 0.0, 0.0, 0.0], {"kind": "zero"}),
    ("e-nan", [1.0, NAN, 0.0, 0.0], {"kind": "nan"}),
    ("e-pinf", [INF, 1.0, 0.0, 0.0], None),
    ("e-ninf", [0.0, -INF, 1.0, 0.0], {"kind": "-inf"}),
    ("e-tie-b", [0.5, 0.5, 0.5, 0.5], {"kind": "tie"}),
    ("e-tie-a", [0.5, 0.5, 0.5, 0.5], {"kind": "tie"}),
    ("e-tie-c", [0.5, 0.5, 0.5, 0.5], {}),
]


def _key(v):
    """A float by its bits: NaN as one marker (Spark and NumPy may carry
    different NaN payloads), anything else by float.hex (keeps -0.0)."""
    return "nan" if math.isnan(v) else float(v).hex()


def _exact(results):
    """Search results with every float replaced by _key, so `==` is a
    bit-for-bit comparison that holds for NaN too."""
    if isinstance(results, dict):
        return {k: _exact(v) for k, v in results.items()}
    if isinstance(results, (list, tuple)):
        return [_exact(v) for v in results]
    return _key(results) if isinstance(results, float) else results


def _twin_stores(spark, rows, dim=4, n_clusters=None):
    """Two stores over the same rows and ids: `on` serves from the driver
    tier, `off` from Spark (its version's second read, which fills the
    tier, ran with a zero tier budget, so it stays on Spark). With `n_clusters`, both fit IVF on
    the rows before the finite EDGE_ROWS join them (the MLlib predict
    that assigns clusters fails on a NaN vector, on either path)."""
    from tests.conftest import tier_bytes
    from vervectordb_spark.store import _row_frame

    def frame(part):
        # an Arrow LocalRelation, whose size Spark knows: a frame built
        # from a Python list is an RDD of unknown size, never under a bound
        return _row_frame(spark, *zip(*part)) if part else \
            _row_frame(spark, [], [], [])

    stores = []
    for _ in range(2):
        st = VectorStore(spark, vector_dim=dim)
        st.ingest(frame(rows))
        if n_clusters:
            st.build_ivf_index(n_clusters=n_clusters, seed=3)
            st.ingest(frame([r for r in EDGE_ROWS
                             if all(map(math.isfinite, r[1]))]))
        stores.append(st)
    on, off = stores
    for _ in range(2):                  # the second read fills the tier
        on.brute_force_search([1.0] * dim, 1)
    with tier_bytes(0):
        for _ in range(2):
            off.brute_force_search([1.0] * dim, 1)
    assert on._held_serving()[3] and off._held_serving()[3] is False
    if n_clusters:
        assert np.array_equal(on._ivf.centroids, off._ivf.centroids)
    return on, off


def _base_rows(n=40, dim=4, seed=7):
    rng = np.random.default_rng(seed)
    order = rng.permutation(n)  # insert out of id order
    return [(f"r{i:03d}", [float(v) for v in rng.normal(size=dim)],
             {"i": str(i)}) for i in order]


EDGE_QUERIES = [
    [0.3, -1.2, 0.7, 0.1],      # generic
    [0.5, 0.5, 0.5, 0.5],       # the tie vector itself
    [0.0, 0.0, 0.0, 0.0],       # zero query: every cosine 0, id order
    [NAN, 1.0, 0.0, 0.0],       # every score NaN except cosine's guard
    [INF, 0.0, -1.0, 2.0],
]


@pytest.mark.parametrize("metric", ["cosine", "dot", "l2"])
def test_driver_tier_matches_spark_path_on_edge_values(spark, metric):
    """The driver tier returns what the Spark path returns: the same ids
    in the same order with bit-identical scores (NaN ranked above every
    double, or below it for l2; exact ties by vec_id), the same metadata,
    top_k beyond the live rows included."""
    on, off = _twin_stores(spark, _base_rows() + EDGE_ROWS)
    for q in EDGE_QUERIES:
        for k in (3, 100):
            tier = on.brute_force_search(q, k, metric=metric)
            assert len(tier) == min(k, 47)
            assert _exact(tier) == _exact(off.brute_force_search(
                q, k, metric=metric)), (q, k)
    for vid, _, _ in EDGE_ROWS:
        assert _exact(on.get_by_id(vid)) == _exact(off.get_by_id(vid))
    ranked = on.brute_force_search([0.5, 0.5, 0.5, 0.5], 100, metric=metric)
    ids = [r["vector_id"] for r in ranked]
    at = ids.index("e-tie-a")
    assert ids[at:at + 3] == ["e-tie-a", "e-tie-b", "e-tie-c"]
    nan = [math.isnan(r["similarity"]) for r in ranked]
    assert any(nan) and nan == sorted(nan, reverse=metric != "l2")
    if metric == "cosine":
        assert ranked[ids.index("e-zero")]["similarity"] == 0.0


def test_driver_tier_matches_spark_path_for_ivf_lookup_and_empty_store(spark):
    """ivf_search (same probe set, same cluster_id, same scores and order)
    and get_by_id (same vector, metadata, KeyError) agree on both paths,
    edge rows included; an empty store answers empty both ways."""
    on, off = _twin_stores(spark, _base_rows(), n_clusters=3)
    for q in EDGE_QUERIES:
        for nprobe in (1, 2, 3, "adaptive"):
            tier = on.ivf_search(q, 100, nprobe=nprobe)
            assert _exact(tier) == _exact(off.ivf_search(q, 100, nprobe=nprobe))
    assert {r["cluster_id"] for r in on.ivf_search(EDGE_QUERIES[0], 100,
                                                    nprobe=3)} == {0, 1, 2}
    for vid in [r[0] for r in _base_rows()[:5]] + ["e-zero", "e-tie-c"]:
        assert _exact(on.get_by_id(vid)) == _exact(off.get_by_id(vid))
    for st in (on, off):
        with pytest.raises(KeyError):
            st.get_by_id("missing")

    on, off = _twin_stores(spark, [])
    for st in (on, off):
        assert st.brute_force_search([1.0, 0.0, 0.0, 0.0], 5) == []
        assert st.batch_search([[1.0, 0.0, 0.0, 0.0]], 5) == [[]]
        with pytest.raises(KeyError):
            st.get_by_id("r000")


def test_batch_search_on_the_tier_equals_brute_force(spark):
    """On the driver tier each batch_search result IS that query's
    brute_force_search (same ids, order and score bits); off the tier
    the GEMM kernel keeps its 1e-6 agreement with the exact fold."""
    from tests.conftest import tier_bytes

    st, _, rng = _random_store(spark, n=150, dim=8, seed=5)
    qs = rng.normal(size=(6, 8)).tolist() + [[0.0] * 8]
    exact = [[{"vector_id": r["vector_id"], "similarity": r["similarity"]}
              for r in st.brute_force_search(q, 7)] for q in qs]
    assert st._held_serving()[3]
    assert _exact(st.batch_search(qs, 7)) == _exact(exact)
    with tier_bytes(0):
        st.df = st.df                  # a new version, read over the budget
        gemm = [st.batch_search(qs, 7) for _ in range(2)]
        assert st._held_serving()[3] is False
    for got, want in zip(gemm[0] + gemm[1], exact + exact):
        assert len(got) == len(want)
        for g, w in zip(got, want):
            assert math.isclose(g["similarity"], w["similarity"], abs_tol=1e-6)


def test_driver_tier_reads_run_no_spark_job(spark, tmp_path, monkeypatch):
    """Once a version's matrix is filled, writes carry it on:
    batch_insert, update and delete run no Spark job and no cluster
    assign (they only queue their rows, and update's lookup reads
    through the queue), checkpoint() in either form
    starts a version that has the matrix, and the next brute, ivf, get
    and batch reads run none — the first of them applies every queued
    write with one assign. A carried version's filtered_search runs one
    job over the matrix's own rows. Every other version starts from
    scratch with the counts a store without the carry has: its first
    read runs on Spark, a get_by_id then probes the cached frame in one
    job and fills nothing, the second search fills the tier in one job,
    and later reads run none. That holds after merge, ingest, a refit, a
    NaN insert and compress, and over the budget every read keeps its
    Spark job count. A NaN insert returns its ids with no job and no
    cluster predict."""
    from tests.conftest import counting_jobs, tier_bytes
    from vervectordb_spark.operators.ivf import IVFIndex
    from vervectordb_spark.store import _Delta, _Matrix, _row_frame

    sc = spark.sparkContext
    st, ids, rng = _random_store(spark, db_path=str(tmp_path / "db"),
                                 n=80, dim=8, seed=9)
    st.build_ivf_index(n_clusters=4)
    q = rng.normal(size=8).tolist()
    reads = {
        "brute": lambda: st.brute_force_search(q, 5),
        "ivf": lambda: st.ivf_search(q, 5, nprobe=2),
        "get": lambda: st.get_by_id(ids[0]),
        "batch": lambda: st.batch_search([q, q], 5),
    }
    none = dict.fromkeys(reads, 0)
    assigns = []
    assign = IVFIndex.assign
    monkeypatch.setattr(IVFIndex, "assign", lambda index, df: (
        assigns.append(df), assign(index, df))[1])

    def jobs(call):
        with counting_jobs(sc) as n:
            call()
        return n[0]

    def warm():
        return {kind: jobs(read) for kind, read in reads.items()}

    def matrix():
        """The matrix slot of the current version under the current fit
        (None: no entry yet)."""
        held = st._frames.get("serving")
        return held[3] if held is not None and held[0] == st._version \
            and held[1] is st._ivf else None

    def from_scratch(first=1):
        """The counts without a carry: `first` jobs for the Spark read
        (4 once merge's anti-join shuffle is in the lineage: AQE runs
        each shuffle stage as a job), 1 for a lookup over the cached
        frame (never a fill), 1 for the fill, then none."""
        assert matrix() is None
        assert jobs(reads["ivf"]) == first and matrix() is None
        assert jobs(reads["get"]) == 1 and matrix() is None
        assert jobs(reads["brute"]) == 1 and matrix()
        assert warm() == none

    def vec():
        return rng.normal(size=8).tolist()

    from_scratch()
    assigns.clear()
    assert jobs(lambda: st.batch_insert([vec() for _ in range(3)])) == 0
    added = st.batch_insert([vec()])
    assert jobs(lambda: st.delete(ids[2])) == 0
    assert jobs(lambda: st.delete(added[0])) == 0
    # lookups read through the queue: an update run applies nothing
    assert jobs(lambda: st.update(ids[1], vec())) == 0
    assert jobs(lambda: st.update(ids[1], new_metadata={"k": "v"})) == 0
    assert st.get_by_id(ids[1])["metadata"] == {"k": "v"}
    with pytest.raises(KeyError):
        st.get_by_id(added[0])
    assert isinstance(matrix(), _Delta) and not assigns
    assert warm() == none and isinstance(matrix(), _Matrix)
    # one assign, over the queued rows that survived: 3 inserted, 1 updated
    assert len(assigns) == 1 and assigns[0].count() == 4
    assert jobs(lambda: st.update(ids[1], vec())) == 0 and warm() == none
    assert jobs(lambda: st.delete(ids[3])) == 0 and warm() == none
    for versioned in (False, True):
        st.checkpoint(versioned=versioned)
        assert matrix() and warm() == none
    assert jobs(lambda: st.filtered_search(
        q, 5, metadata_filter=F.col("vec_id") != ids[6])) == 1
    assert warm() == none

    with tier_bytes(1):                          # not one row fits in 1 byte
        st.delete(ids[4])
        counts = warm()
        assert matrix() is False
    assert counts == {"brute": 1, "ivf": 1, "get": 1, "batch": 2}

    st.merge(_row_frame(spark, [ids[5], "m-new"], [vec(), vec()], [None, None]))
    from_scratch(4)
    st.ingest(_row_frame(spark, ["i-new"], [vec()], [None]))
    from_scratch(4)
    st.build_ivf_index(n_clusters=3)
    from_scratch(4)

    assigns.clear()
    st.batch_insert([vec()])
    assert matrix() and not assigns              # queued, not assigned
    with counting_jobs(sc) as n:
        nan_ids = st.batch_insert([[float("nan")] + vec()[1:]])
    assert n == [0] and len(nan_ids) == 1 and not assigns
    st.delete(nan_ids[0])
    from_scratch(4)

    st.train_pq(n_subquantizers=2, n_bits=2)
    st.compress()
    from_scratch(4)
    st.batch_insert([vec()])                     # the store frame has pq_code
    from_scratch(4)


def test_checkpoint_rows_sit_under_a_listed_leaf(spark, tmp_path):
    """checkpoint() writes the rows to {db_path}/_checkpoint/rows. Spark's
    file index skips a root path whose own name starts with "_", so the
    re-read of a `_checkpoint` root would rely on a path Spark ignores;
    under the `rows` leaf it lists the files just written."""
    from urllib.parse import urlparse

    st, ids, _ = _random_store(spark, db_path=str(tmp_path / "db"), n=20)
    for vid in ids[:2]:
        st.delete(vid)
        st.checkpoint()
        files = st.df.inputFiles()
        assert files and {os.path.dirname(urlparse(f).path) for f in files} \
            == {str(tmp_path / "db" / "_checkpoint" / "rows")}
    assert st.df.count() == 18


def test_driver_tier_leaves_null_elements_to_spark(spark):
    """A vector with a NULL element scores NULL on Spark (ranked last),
    which no double can stand for: a version holding one stays on Spark."""
    import pyarrow as pa

    rows = pa.table({
        "vec_id": ["a", "b"],
        "embedding": pa.array([[1.0, None], [0.5, 0.5]], pa.list_(pa.float32())),
        "metadata": pa.array([None, None], pa.map_(pa.string(), pa.string())),
    })
    st = VectorStore(spark, vector_dim=2)
    st.ingest(spark.createDataFrame(rows))
    out = [st.brute_force_search([1.0, 0.0], 2) for _ in range(2)][1]
    assert st._held_serving()[3] is False
    assert [r["vector_id"] for r in out] == ["b", "a"]
    assert out[1]["similarity"] is None


def test_driver_tier_budget_counts_collected_metadata(spark, tmp_path):
    """The tier budget counts every byte the fill collects, not only the
    vectors: rows whose vectors fit but whose metadata text does not stay
    on Spark. That holds after a checkpoint too, where Spark's size
    estimate is the compressed parquet size and lets the frame through,
    so the collected table's own size decides. Either way the reads
    answer exactly as the tier does under a budget they fit. A matrix
    carried past a write is measured the same way when the write is
    applied: over the budget by its metadata, it is dropped."""
    from tests.conftest import tier_bytes
    from vervectordb_spark.store import _row_frame

    def estimate():
        return int(st._serving()._jdf.queryExecution().optimizedPlan()
                   .stats().sizeInBytes())

    rng = np.random.default_rng(11)
    text = "lorem ipsum dolor sit amet " * 200      # ~5.4 KB a row
    rows = [(f"m{i:03d}", rng.normal(size=4).tolist(), {"text": text})
            for i in range(40)]
    st = VectorStore(spark, vector_dim=4, db_path=str(tmp_path / "db"))
    st.ingest(_row_frame(spark, *zip(*rows)))
    q = [1.0, 0.0, 0.5, -0.5]
    budget = 64 << 10        # the vectors are 40·4·8 B, the text ~216 KB

    def reads():  # the version's second read is the one that fills
        return [st.brute_force_search(q, 5) for _ in range(2)][1]

    with tier_bytes(budget):
        assert estimate() < budget
        before = reads()
        assert st._held_serving()[3] is False
        st.checkpoint()
        assert estimate() < budget
        after = reads()
        assert st._held_serving()[3] is False
    with tier_bytes(1 << 20):
        st.df = st.df
        tier = reads()
        assert st._held_serving()[3]
    assert _exact(tier) == _exact(before) == _exact(after)
    assert tier[0]["metadata"] == {"text": text}
    with tier_bytes(budget):   # a carry is measured as a fill is
        gone = tier[0]["vector_id"]
        st.delete(gone)
        carried = st.brute_force_search(q, 5)
        assert st._held_serving()[3] is False
    assert _exact(carried) == _exact(tier)[1:] + _exact(carried)[4:]


def test_local_frame_keeps_rows_after_an_empty_batch(spark):
    """Spark's createDataFrame drops every Arrow record batch after an
    empty one; `_local_frame` hands it one batch, so a table concatenated
    from parts (a carry's queued writes) keeps every row."""
    import pyarrow as pa

    from vervectordb_spark.store import _ROW_SCHEMA, _local_frame, _row_table

    a = _row_table(["a", "b"], [[1.0], [2.0]], [None, None])
    c = _row_table(["c"], [[3.0]], [None])
    df = _local_frame(spark, _ROW_SCHEMA, pa.concat_tables([a, a.slice(0, 0), c]))
    assert sorted(r["vec_id"] for r in df.collect()) == ["a", "b", "c"]
