"""IVF index (reference Q4/Q5, vervectordb/__init__.py:411-487).

The oracle gate covers the fixed-centroid query path (ivf_search_pruned);
here we grade the k-means build path the way the reference's harness
grades IVF: recall@k vs the brute-force oracle (examples/datawhale.py:142-148,
201-202 — measured 0.748 at nprobe=8/16 clusters). Plus structural checks:
pruning really restricts the scanned clusters.
"""

import numpy as np
import pytest
from pyspark.sql import functions as F

from tests.conftest import SF_DIR
from vervectordb_spark.operators import search as S
from vervectordb_spark.operators.ivf import IVFIndex
from vervectordb_spark.schema import load_table


@pytest.fixture(scope="module")
def emb(spark):
    return load_table(spark, SF_DIR, "embeddings").cache()


@pytest.fixture(scope="module")
def ivf(emb):
    return IVFIndex.build(emb, n_clusters=16, seed=42)


def _qv(emb, vec_id=0):
    row = emb.filter(F.col("vec_id") == vec_id).select("embedding").collect()
    return [float(x) for x in row[0][0]]


def _recall(ivf, emb, qv, k=10, nprobe=8):
    truth = {r["vec_id"] for r in S.brute_force_topk(emb, qv, k).collect()}
    got = {r["vec_id"] for r in ivf.search(qv, top_k=k, nprobe=nprobe).collect()}
    return len(truth & got) / len(truth)


def test_ivf_full_probe_equals_exact(ivf, emb):
    """nprobe = n_clusters ⇒ no pruning ⇒ identical to brute force."""
    qv = _qv(emb, 3)
    assert _recall(ivf, emb, qv, k=10, nprobe=16) == 1.0


def test_ivf_recall_at_reference_nprobe(ivf, emb):
    """Reference default nprobe=max(16//2,8)=8 measured recall 0.748;
    mean over queries must clear 0.6 (centroid quality varies by seed)."""
    recalls = [_recall(ivf, emb, _qv(emb, i), k=10, nprobe=8) for i in range(8)]
    assert sum(recalls) / len(recalls) >= 0.6


def test_ivf_search_scans_only_probed_clusters(ivf, emb):
    qv = _qv(emb, 1)
    probed = ivf.probe_clusters(qv, nprobe=4)
    hits = ivf.search(qv, top_k=50, probed=probed).collect()
    assert hits and {r["cluster_id"] for r in hits} <= set(probed)


def test_ivf_default_nprobe_matches_reference(ivf):
    # max(n_clusters // 2, 8) — vervectordb/__init__.py:441
    assert ivf.default_nprobe() == 8


def test_ivf_save_load_roundtrip(ivf, emb, spark, tmp_path):
    path = str(tmp_path / "ivf")
    ivf.save(path)
    loaded = IVFIndex.load(spark, path)
    assert loaded.n_clusters == ivf.n_clusters
    qv = _qv(emb, 5)
    a = [(r["vec_id"], round(r["sim"], 9)) for r in ivf.search(qv, top_k=5).collect()]
    b = [(r["vec_id"], round(r["sim"], 9)) for r in loaded.search(qv, top_k=5).collect()]
    assert a == b


def test_build_is_partition_independent(emb):
    """The fit sample is drawn by id and sorted on the driver, so the same
    rows give the same centroids under any partitioning."""
    one = IVFIndex.build(emb.repartition(1), n_clusters=16, seed=42)
    seven = IVFIndex.build(emb.repartition(7), n_clusters=16, seed=42)
    assert np.array_equal(one.centroids, seven.centroids)


def test_build_runs_at_most_two_jobs(spark, emb):
    """A build only draws its sample: the fit runs on the driver and rows
    are assigned lazily."""
    sc = spark.sparkContext
    sc.setJobGroup("ivf-build-jobs", "IVFIndex.build")
    try:
        IVFIndex.build(emb, n_clusters=16, seed=42)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert len(sc.statusTracker().getJobIdsForGroup("ivf-build-jobs")) <= 2


def test_loaded_index_assigns_rows_to_l2_argmin(ivf, emb, spark, tmp_path):
    """A loaded index is only its centroids: the predict model built from
    them (ml KMeansModel over an mllib model, a private[ml] constructor)
    keeps the centroids exactly and puts every row in its nearest
    centroid's cluster."""
    from tests.test_store import nearest_centroid

    ivf.save(str(tmp_path / "ivf"))
    loaded = IVFIndex.load(spark, str(tmp_path / "ivf"))
    assert np.array_equal(np.array(loaded._model(spark).clusterCenters()),
                          loaded.centroids)
    rows = loaded.assign(emb).select("embedding", "cluster_id").collect()
    assert len(rows) == emb.count()
    for r in rows:
        assert r["cluster_id"] == nearest_centroid(r["embedding"],
                                                   loaded.centroids)


def test_fixed_centroid_assignment_is_exhaustive(emb, spark):
    """Every row gets exactly one cluster; clusters within centroid range."""
    from vervectordb_spark.functions.similarity import to_double

    cent = emb.filter(F.col("vec_id") < 4).select(
        F.col("vec_id").cast("int").alias("cluster_id"),
        to_double(F.col("embedding")).alias("centroid"),
    )
    idx = IVFIndex.from_centroids(emb, cent)
    n_total = emb.count()
    assert idx.assigned.count() == n_total
    stats = idx.assigned.agg(
        F.min("cluster_id").alias("lo"), F.max("cluster_id").alias("hi")
    ).collect()[0]
    assert 0 <= stats["lo"] and stats["hi"] <= 3


def test_batch_search_matches_serial(ivf, emb):
    """One batched job == the per-query loop, result for result."""
    queries = emb.filter(F.col("vec_id") < 4).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("q_embedding")
    )
    batched = {
        (r["query_id"], r["rank"]): (r["vec_id"], round(r["sim"], 9))
        for r in ivf.batch_search(queries, top_k=5, nprobe=8).collect()
    }
    for r in queries.collect():
        qv = [float(x) for x in r["q_embedding"]]
        serial = ivf.search(qv, top_k=5, nprobe=8).collect()
        for rank, row in enumerate(serial, start=1):
            assert batched[(r["query_id"], rank)] == (row["vec_id"], round(row["sim"], 9))


def test_cluster_stats_shares_sum_to_one(spark, emb):
    from vervectordb_spark.operators.ivf import IVFIndex

    idx = IVFIndex.build(emb, n_clusters=8, seed=42)
    stats = idx.cluster_stats().collect()
    assert len(stats) <= 8
    assert sum(r["n_vectors"] for r in stats) == emb.count()
    assert abs(sum(r["share"] for r in stats) - 1.0) < 1e-4


def test_adaptive_probe_monotone_in_mass(ivf, emb):
    """Higher mass target ⇒ superset of probed clusters; mass→1 probes all."""
    qv = _qv(emb, 7)
    small = ivf.probe_clusters_adaptive(qv, mass=0.3)
    big = ivf.probe_clusters_adaptive(qv, mass=0.9)
    assert set(small) <= set(big)
    assert 1 <= len(small) <= len(big) <= ivf.n_clusters
    assert len(ivf.probe_clusters_adaptive(qv, mass=1.0)) == ivf.n_clusters
    # prefix property: the adaptive set is always the top of the fixed ranking
    fixed = ivf.probe_clusters(qv, nprobe=ivf.n_clusters)
    assert fixed[: len(big)] == big


def test_adaptive_probe_recall_tracks_budget(ivf, emb):
    """nprobe="adaptive" must reach the recall of a fixed budget of the
    same size — it IS the same ranking, cut per-query instead of
    globally."""
    for vid in (0, 5, 11):
        qv = _qv(emb, vid)
        probed = ivf.probe_clusters_adaptive(qv, mass=0.8)
        truth = {r["vec_id"] for r in S.brute_force_topk(emb, qv, 10).collect()}
        got = {
            r["vec_id"]
            for r in ivf.search(qv, top_k=10, nprobe="adaptive", mass=0.8).collect()
        }
        fixed = {
            r["vec_id"]
            for r in ivf.search(qv, top_k=10, nprobe=len(probed)).collect()
        }
        assert got == fixed  # same prefix ⇒ same result set
        assert len(truth & got) / len(truth) >= 0.5


def test_adaptive_probe_respects_cap(ivf, emb):
    qv = _qv(emb, 2)
    assert len(ivf.probe_clusters_adaptive(qv, mass=1.0, max_nprobe=3)) == 3


def test_batch_search_adaptive_matches_per_query_probes(ivf, emb):
    """nprobe="adaptive" in the batched path must equal running each query
    with its own adaptive probe set."""
    queries = emb.filter(F.col("vec_id") < 4).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("q_embedding"),
    )
    batch = ivf.batch_search(queries, top_k=5, nprobe="adaptive").collect()
    by_q = {}
    for r in batch:
        by_q.setdefault(r["query_id"], set()).add(r["vec_id"])
    for vid in range(4):
        qv = _qv(emb, vid)
        serial = {
            r["vec_id"]
            for r in ivf.search(qv, top_k=5, nprobe="adaptive").collect()
        }
        assert by_q[vid] == serial


def test_from_centroids_rejects_noncontiguous_ids(spark, emb):
    """Probe paths return POSITIONS into the centroid array; a 1-based or
    sparse cluster_id table would silently probe the wrong clusters, so
    from_centroids must reject it loudly."""
    import pytest as _pytest

    cent = emb.filter(F.col("vec_id") < 4).select(
        (F.col("vec_id") + 1).cast("int").alias("cluster_id"),
        F.col("embedding").cast("array<double>").alias("centroid"),
    )
    with _pytest.raises(ValueError, match="cluster_id values must be"):
        IVFIndex.from_centroids(emb, cent)


def test_batch_search_string_query_ids(spark, emb):
    ivf = IVFIndex.build(emb, n_clusters=4, seed=42)
    queries = emb.filter(F.col("vec_id") < 2).select(
        F.concat(F.lit("u-"), F.col("vec_id").cast("string")).alias("query_id"),
        F.col("embedding").alias("q_embedding"),
    )
    got = ivf.batch_search(queries, top_k=3, nprobe=2).collect()
    assert {r["query_id"] for r in got} == {"u-0", "u-1"}


def test_batch_search_empty_schema_matches_nonempty(spark, emb):
    """The old empty-path schema had a phantom cluster_id column and a
    different column order — schema must now be identical."""
    ivf = IVFIndex.build(emb, n_clusters=4, seed=42)
    queries = emb.filter(F.col("vec_id") < 2).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("q_embedding"),
    )
    nonempty = ivf.batch_search(queries, top_k=2, nprobe=2)
    empty = ivf.batch_search(queries.filter(F.lit(False)), top_k=2, nprobe=2)
    assert [(f.name, f.dataType) for f in empty.schema.fields] == \
        [(f.name, f.dataType) for f in nonempty.schema.fields]


def test_cluster_outliers_planted(spark):
    """A vector pointing AWAY from every centroid must surface as the
    most-negative-z outlier of whatever cluster it lands in; cluster
    members near their centroid must not outrank it."""
    import numpy as np

    from vervectordb_spark.functions.similarity import to_double
    from vervectordb_spark.operators.ivf import cluster_outliers

    rng = np.random.default_rng(7)
    c0 = np.array([1.0] + [0.0] * 7)
    c1 = np.array([0.0] * 7 + [1.0])
    rows = []
    for i in range(40):
        base = c0 if i % 2 == 0 else c1
        rows.append((i, (base + rng.normal(0, 0.05, 8)).tolist()))
    rows.append((99, (-c0 + rng.normal(0, 0.01, 8)).tolist()))  # planted
    df = spark.createDataFrame(rows, "vec_id bigint, embedding array<double>")
    cent = spark.createDataFrame(
        [(0, c0.tolist()), (1, c1.tolist())],
        "cluster_id int, centroid array<double>",
    )
    out = cluster_outliers(df, cent, worst_k=3).collect()
    assert len(out) == 6  # 3 per cluster
    worst = min(out, key=lambda r: r["z"])
    assert worst["vec_id"] == 99
    assert worst["z"] < -2.0
    for r in out:
        assert r["sim_c"] <= 1.0 and r["n"] > 0


def test_centroid_drift_zero_and_shifted(spark):
    """Members identical to their centroid -> drift 0; members uniformly
    offset by delta -> drift == |delta| (within the round-6 contract)."""
    import numpy as np

    from vervectordb_spark.operators.ivf import centroid_drift

    dim = 8
    c0 = [1.0] + [0.0] * (dim - 1)
    c1 = [0.0] * (dim - 1) + [1.0]
    shift = 0.125  # exact binary fraction: survives the round-6 contract
    rows = [(i, c0) for i in range(10)]
    rows += [(100 + i, [x + shift for x in c1]) for i in range(10)]
    df = spark.createDataFrame(rows, "vec_id bigint, embedding array<double>")
    cent = spark.createDataFrame(
        [(0, c0), (1, c1)], "cluster_id int, centroid array<double>")
    got = {r["cluster_id"]: r for r in centroid_drift(df, cent, dim).collect()}
    assert got[0]["drift"] == 0.0 and got[0]["n"] == 10
    import math
    assert abs(got[1]["drift"] - shift * math.sqrt(dim)) < 1e-6


def test_cluster_outliers_degenerate_cluster_excluded(spark):
    """A cluster whose members all share one sim (var == 0) yields no
    outlier rows; the healthy cluster still reports its worst-k."""
    import numpy as np

    from vervectordb_spark.operators.ivf import cluster_outliers

    c0 = [1.0] + [0.0] * 7
    c1 = [0.0] * 7 + [1.0]
    rng = np.random.default_rng(2)
    rows = [(i, c0) for i in range(8)]                      # var 0 on c0
    rows += [(100 + i, (np.array(c1) + rng.normal(0, 0.2, 8)).tolist())
             for i in range(8)]
    df = spark.createDataFrame(rows, "vec_id bigint, embedding array<double>")
    cent = spark.createDataFrame([(0, c0), (1, c1)],
                                 "cluster_id int, centroid array<double>")
    out = cluster_outliers(df, cent, worst_k=3).collect()
    assert {r["cluster_id"] for r in out} == {1}
    assert len(out) == 3


def test_centroid_drift_empty_cluster_absent(spark):
    """A centroid that captures no rows simply has no drift row (the
    stats join drops it) — callers read absence as 'dead list'."""
    from vervectordb_spark.operators.ivf import centroid_drift

    c0 = [1.0, 0.0]
    c_far = [-1.0, 0.0]
    df = spark.createDataFrame([(i, c0) for i in range(5)],
                               "vec_id bigint, embedding array<double>")
    cent = spark.createDataFrame([(0, c0), (1, c_far)],
                                 "cluster_id int, centroid array<double>")
    rows = centroid_drift(df, cent, dim=2).collect()
    assert [r["cluster_id"] for r in rows] == [0]
    assert rows[0]["drift"] == 0.0


def test_centroid_drift_arrow_bit_identical_to_expr(spark):
    """The Arrow partial-sum drift kernel (production-dim path) is
    bit-equal to the 2*dim-expr spec at dim=64 on the real embeddings
    fixture — same rounded-decimal sums, same mean/fold op sequence."""
    from vervectordb_spark.operators.ivf import centroid_drift
    from vervectordb_spark.schema import load_table

    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    idx = IVFIndex.build(emb, n_clusters=8, seed=42)
    cent = idx.centroids_df()
    expr_rows = centroid_drift(emb, cent, 64, kernel="expr").collect()
    arrow_rows = centroid_drift(emb, cent, 64, kernel="arrow").collect()
    assert [(r["cluster_id"], r["n"], r["drift"]) for r in expr_rows] \
        == [(r["cluster_id"], r["n"], r["drift"]) for r in arrow_rows]
    with pytest.raises(ValueError, match="kernel"):
        centroid_drift(emb, cent, 64, kernel="nope")


def test_centroid_drift_arrow_dim2048_matches_numpy(spark):
    """dim=2048 compiles and matches a NumPy replay of the spec:
    HALF_UP round-to-6 on the shortest repr, exact scaled-integer sums,
    mean = double(decimal)/n, pos-ordered left fold of squared deltas."""
    import numpy as np
    from decimal import ROUND_HALF_UP, Decimal

    from vervectordb_spark.operators.ivf import centroid_drift

    rng = np.random.default_rng(13)
    dim, k = 2048, 3
    C = rng.normal(size=(k, dim))
    rows, members = [], {i: [] for i in range(k)}
    for i in range(90):
        c = i % k
        v = C[c] + rng.normal(0, 0.01, dim)
        rows.append((i, v.tolist()))
        members[c].append(v)
    df = spark.createDataFrame(
        rows, "vec_id bigint, embedding array<double>").repartition(8)
    cent = spark.createDataFrame(
        [(i, C[i].tolist()) for i in range(k)],
        "cluster_id int, centroid array<double>")
    got = {r["cluster_id"]: (r["n"], r["drift"])
           for r in centroid_drift(df, cent, dim, kernel="arrow").collect()}

    def spark_round6(x: float) -> int:
        return int(Decimal(repr(x)).quantize(
            Decimal("0.000001"), rounding=ROUND_HALF_UP) * 1_000_000)

    for c in range(k):
        X = np.stack(members[c])
        n = len(X)
        scaled = np.array([[spark_round6(v) for v in row] for row in X],
                          dtype=object).sum(axis=0)
        drift_sq = 0.0
        for j in range(dim):
            d = float(Decimal(int(scaled[j])) / Decimal(1_000_000)) / n \
                - C[c][j]
            drift_sq = drift_sq + d * d
        import math
        expect = round(math.sqrt(drift_sq), 6)
        assert got[c][0] == n
        assert abs(got[c][1] - expect) < 1e-12, c


def test_ivf_recall_floor_on_real_encoder_corpus(spark):
    """RECALL.md's encoder-corpus transfer check, pinned: on vectors
    from the vendored checkpoint's REAL serving arithmetic (the
    anisotropic real-model distribution), IVF nprobe=4 must hold a
    recall@10 floor vs exact ground truth. The 50k sweep measured
    0.999; this 2000-row twin pins >= 0.85."""
    import numpy as np

    from vervectordb_spark.operators import search as S
    from vervectordb_spark.operators.embed import load_checkpoint

    words, mat_w, dim = load_checkpoint()
    rng = np.random.RandomState(7)
    N = 2000
    mat = np.zeros((N, dim), dtype=np.float32)
    for i in range(N):
        idxs = rng.randint(0, len(words), rng.randint(30, 120))
        s = mat_w[idxs].sum(axis=0)
        n2 = float((s * s).sum())
        mat[i] = (s / np.sqrt(n2)).astype(np.float32)
    corpus = spark.createDataFrame(
        [(i, mat[i].tolist()) for i in range(N)],
        "vec_id long, embedding array<float>")
    queries = corpus.filter(F.col("vec_id") < 20).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("q_embedding"))
    truth: dict = {}
    for r in S.batch_topk(corpus, queries, top_k=10,
                          kernel="gemm").collect():
        truth.setdefault(r["query_id"], set()).add(r["vec_id"])
    idx = IVFIndex.build(corpus, n_clusters=16, seed=42)
    got: dict = {}
    for r in idx.batch_search(queries, top_k=10, nprobe=4).collect():
        got.setdefault(r["query_id"], set()).add(r["vec_id"])
    rec = sum(len(got.get(q, set()) & t) / len(t)
              for q, t in truth.items()) / len(truth)
    assert rec >= 0.85, f"encoder-corpus recall floor broken: {rec:.3f}"
