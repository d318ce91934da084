"""VectorStore under random op sequences, checked against a NumPy mirror.

Each step runs one facade call (insert, update, delete, checkpoint,
brute/filtered/IVF search, get_by_id) on the store and the same write on
perfbench's Mirror of the live rows, then asserts:

  * no deleted row and no stale vector is served (every returned row is
    live and carries the similarity of its CURRENT vector; get_by_id
    returns the current vector, or KeyError once deleted);
  * exact top-k (brute force, filtered) equals NumPy's;
  * every IVF hit carries the cluster MLlib's predict rule gives its
    CURRENT vector (Euclidean argmin over the index's centroids), and the
    whole sequence fits KMeans once: writes reassign rows, they never
    refit;
  * the persisted-RDD count does not grow with the number of store
    versions — the serving frame of an old version is released.
"""

import numpy as np
import pytest
from pyspark.sql import functions as F

from perfbench.mirror import Mirror
from vervectordb_spark.functions.checkpoint import persistent_rdd_ids
from vervectordb_spark.store import VectorStore

DIM = 8
N_BASE = 120
LABELS = 3
TOP_K = 5
OPS = ("insert", "update", "delete", "checkpoint", "brute", "filtered",
       "ivf", "get")
#: draw weights: reads dominate, like serving
WEIGHTS = np.array([3, 3, 3, 1, 3, 3, 3, 3], dtype=float)


def _vec(rng):
    return [float(x) for x in rng.standard_normal(DIM).astype(np.float32)]


@pytest.mark.parametrize("seed", [1, 2])
def test_random_ops_agree_with_numpy_mirror(spark, tmp_path, seed, ivf_fits):
    rng = np.random.default_rng(seed)
    sc = spark.sparkContext
    x = rng.standard_normal((N_BASE, DIM)).astype(np.float32)
    labels = rng.integers(0, LABELS, N_BASE)
    store = VectorStore(spark, DIM, db_path=str(tmp_path / "db"))
    ids = store.batch_insert([[float(v) for v in r] for r in x],
                             [{"label": str(int(lab))} for lab in labels])
    mirror = Mirror(ids, x, labels)
    baseline = persistent_rdd_ids(sc)
    versions = set()

    def live_id():
        return mirror.ids[int(rng.choice(np.nonzero(mirror.alive)[0]))]

    def ids_sims(out):
        return [r["vector_id"] for r in out], [r["similarity"] for r in out]

    for step in range(30):
        op = OPS[rng.choice(len(OPS), p=WEIGHTS / WEIGHTS.sum())]
        where = f"seed {seed} step {step} ({op})"
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
        elif op == "checkpoint":
            store.checkpoint()
        elif op == "get":
            vid = live_id()
            assert mirror.check_row(vid, store.get_by_id(vid)), where
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
                out = store.ivf_search(q, TOP_K, nprobe=4)
                ok, _ = mirror.check_approx(*ids_sims(out), q, TOP_K)
                assert ok and out, where
                cents = store._ivf.centroids
                for r in out:
                    x = mirror.x[mirror.pos[r["vector_id"]]].astype(np.float64)
                    nearest = int(np.argmin(((cents - x) ** 2).sum(axis=1)))
                    assert r["cluster_id"] == nearest, where
            versions.add(store._version)
        # at most ONE serving frame is held, whatever the version count
        assert len(persistent_rdd_ids(sc) - baseline) <= 1, where
    assert len(versions) >= 3  # the bound was exercised across versions
    assert len(ivf_fits) == 1  # the first ivf_search's fit, kept across writes
