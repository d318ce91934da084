"""Inverted multi-index (operators/imi.py): cell-count arithmetic
(k1·k2 cells from k1+k2 centroids), numpy-vs-fold probe agreement,
rectangle containment, recall on a clustered corpus, and the
fewer-than-k edge."""

import numpy as np
import pytest

from pyspark.sql import functions as F

from vervectordb_spark.operators.imi import IMIIndex


@pytest.fixture(scope="module")
def corpus(spark):
    """64 Gaussian blobs in 16 dims — the locality IMI exists for."""
    rng = np.random.default_rng(41)
    centers = rng.normal(size=(64, 16))
    centers /= np.linalg.norm(centers, axis=1, keepdims=True)
    rows = []
    for i in range(1024):
        c = centers[i % 64]
        rows.append((i, (c + rng.normal(0, 0.05, 16)).tolist()))
    return spark.createDataFrame(
        rows, "vec_id bigint, embedding array<double>").cache()


@pytest.fixture(scope="module")
def idx(corpus):
    return IMIIndex.build(corpus, k1=8, k2=8, dim=16, seed=42)


def test_cells_from_few_centroids(idx):
    assert idx.cent1.shape == (8, 8) and idx.cent2.shape == (8, 8)
    stats = idx.cell_stats().collect()
    assert sum(r["n"] for r in stats) == 1024
    assert len(stats) <= 64  # k1*k2 cells max, from 16 trained centroids
    assert len(stats) > 8    # genuinely 2-dimensional cell structure


def test_build_is_partition_independent(corpus):
    """One id-drawn, driver-sorted sample feeds both half fits, so the
    same rows give the same half-centroids under any partitioning."""
    one = IMIIndex.build(corpus.repartition(1), k1=8, k2=8, dim=16, seed=42)
    seven = IMIIndex.build(corpus.repartition(7), k1=8, k2=8, dim=16, seed=42)
    assert np.array_equal(one.cent1, seven.cent1)
    assert np.array_equal(one.cent2, seven.cent2)


def test_numpy_probe_matches_fold_probe(corpus, idx):
    qv = [float(x) for x in
          corpus.filter(F.col("vec_id") == 7).first()["embedding"]]
    assert idx.probe_cells(qv, 3, 3) == idx.probe_cells_exact(qv, 3, 3)


def test_search_self_and_rectangle(corpus, idx):
    row = corpus.filter(F.col("vec_id") == 17).first()
    qv = [float(x) for x in row["embedding"]]
    out = idx.search(qv, top_k=5, a=2, b=2).collect()
    assert out[0]["vec_id"] == 17  # self in the probed rectangle, sim 1
    assert abs(out[0]["sim"] - 1.0) < 1e-9
    c1, c2 = idx.probe_cells(qv, 2, 2)
    for r in out:
        assert r["cell1"] in c1 and r["cell2"] in c2


def test_recall_on_clustered(corpus, idx):
    rng = np.random.default_rng(5)
    recalls = []
    for q in rng.choice(1024, size=5, replace=False):
        qv = [float(x) for x in
              corpus.filter(F.col("vec_id") == int(q)).first()["embedding"]]
        recalls.append(idx.recall_at_k(corpus, qv, k=10, a=3, b=3))
    assert sum(recalls) / len(recalls) >= 0.8, recalls


def test_small_rectangle_can_underfill(corpus, idx):
    qv = [float(x) for x in
          corpus.filter(F.col("vec_id") == 3).first()["embedding"]]
    out = idx.search(qv, top_k=10_000, a=1, b=1).collect()
    assert 0 < len(out) < 1024  # one cell only — documented underfill


@pytest.mark.deep
def test_save_load_roundtrip(spark, corpus, idx, tmp_path):
    """The persisted cell1-partitioned layout reloads into an index that
    serves identical results; cell1 partition dirs exist on disk."""
    import glob

    path = str(tmp_path / "imi")
    idx.save(path)
    assert glob.glob(f"{path}/vectors_by_cell/cell1=*")
    back = IMIIndex.load(spark, path)
    assert back.dim == idx.dim
    assert np.array_equal(back.cent1, idx.cent1)
    qv = [float(x) for x in
          corpus.filter(F.col("vec_id") == 29).first()["embedding"]]
    a = [(r["vec_id"], round(r["sim"], 9))
         for r in idx.search(qv, top_k=5, a=2, b=2).collect()]
    b = [(r["vec_id"], round(r["sim"], 9))
         for r in back.search(qv, top_k=5, a=2, b=2).collect()]
    assert a == b


def test_null_embeddings_excluded_from_assignment(spark):
    """ADVICE r5: NULL-embedding rows are filtered before half
    assignment (the ivf._assign_with_sim contract) — they never land in
    an arbitrary unreachable cell or skew cell_stats."""
    rng = np.random.default_rng(5)
    rows = [(i, rng.normal(size=8).tolist()) for i in range(64)]
    rows += [(900, None), (901, None)]
    df = spark.createDataFrame(rows, "vec_id bigint, embedding array<double>")
    idx = IMIIndex.build(df, k1=2, k2=2, dim=8, seed=1)
    assert idx.assigned.count() == 64
    assert idx.assigned.filter(F.col("vec_id") >= 900).count() == 0
    assert sum(r["n"] for r in idx.cell_stats().collect()) == 64


def test_search_pq_recall_and_rerank(spark, corpus, idx):
    """IMI-PQ composed serving: ADC candidates + exact rerank find the
    query row itself and respectable neighbors on the clustered corpus
    (the rectangle bounds candidates; PQ only ranks within it)."""
    from vervectordb_spark.operators.pq import PQCodec

    codec = PQCodec.fit(corpus, dim=16, n_subquantizers=4,
                        codebook_size=16, seed=42)
    encoded = codec.encode(idx.assigned).select(
        "vec_id", "cell1", "cell2", "pq_code")
    row = corpus.filter(F.col("vec_id") == 33).first()
    qv = [float(x) for x in row["embedding"]]
    out = idx.search_pq(codec, encoded, qv, top_k=5, a=3, b=3,
                        rerank=corpus.select("vec_id", "embedding")
                        ).collect()
    assert out[0]["vec_id"] == 33
    assert abs(out[0]["sim"] - 1.0) < 1e-9
    # rectangle containment: every hit's cells lie inside the probe set
    c1, c2 = idx.probe_cells(qv, 3, 3)
    cells = {r["vec_id"]: (r["cell1"], r["cell2"])
             for r in idx.assigned.select("vec_id", "cell1",
                                          "cell2").collect()}
    for r in out:
        assert cells[r["vec_id"]][0] in c1
        assert cells[r["vec_id"]][1] in c2


def test_batch_search_matches_single(spark, corpus, idx):
    """Batch IMI serving is row-for-row the per-query path: same ids,
    same sims, same order, for every query; empty query side returns the
    documented 4-column schema; the 64k guard trips."""
    queries = corpus.filter(F.col("vec_id") < 4).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("q_embedding"))
    batch = idx.batch_search(queries, top_k=5, a=2, b=2).collect()
    by_q = {}
    for r in batch:
        by_q.setdefault(r["query_id"], []).append(
            (r["vec_id"], round(r["sim"], 9)))
    for qid in range(4):
        qv = [float(x) for x in corpus.filter(
            F.col("vec_id") == qid).first()["embedding"]]
        single = [(r["vec_id"], round(r["sim"], 9))
                  for r in idx.search(qv, top_k=5, a=2, b=2).collect()]
        assert by_q[qid] == single, qid
    empty = idx.batch_search(queries.filter(F.lit(False)), top_k=5)
    assert empty.columns == ["query_id", "vec_id", "sim", "rank"]
    assert empty.count() == 0
    with pytest.raises(ValueError, match="query side"):
        idx.batch_search(queries, max_queries=2)


def test_batch_search_null_query_fails_fast(spark, corpus, idx):
    """NULL q_embedding rows get the contract error, not an opaque
    TypeError from the driver-side probe loop (ADVICE r6)."""
    queries = spark.createDataFrame(
        [(0, [1.0] * 16), (1, None)],
        "query_id bigint, q_embedding array<double>")
    with pytest.raises(ValueError, match="NULL q_embedding"):
        idx.batch_search(queries, top_k=3)


def test_adaptive_probe_respects_budget_and_demand(corpus, idx):
    """Adaptive rectangle: never more than `budget` cells, never empty,
    and the cells are prefixes of the per-half cosine ranking (the same
    order fixed probing uses)."""
    qv = [float(x)
          for x in corpus.filter(F.col("vec_id") == 7).first()["embedding"]]
    for budget in (1, 4, 9, 16):
        c1, c2 = idx.probe_cells_adaptive(qv, budget=budget)
        assert 1 <= len(c1) * len(c2) <= budget
        full1, full2 = idx.probe_cells(qv, a=8, b=8)
        assert c1 == full1[:len(c1)] and c2 == full2[:len(c2)]


def test_adaptive_probe_elongates_on_skew(corpus):
    """A query dead-center on one half1 centroid but equidistant from
    every half2 centroid should spend its budget widening half2 — the
    multi-sequence behavior the rectangle bounds. Orthogonal toy
    centroids make the demand unambiguous: half1 mass is all on cell 3
    (demand 1), half2 mass is uniform (demand ~k)."""
    toy = IMIIndex(corpus, np.eye(8), np.eye(8), 16)
    qv = [0.0] * 3 + [1.0] + [0.0] * 4 + [1.0 / np.sqrt(8)] * 8
    c1, c2 = toy.probe_cells_adaptive(qv, budget=16)
    assert len(c1) * len(c2) <= 16
    assert len(c2) > len(c1)
    assert c1[0] == 3


def test_adaptive_batch_matches_single(spark, corpus, idx):
    """adaptive=True batch serving is row-for-row the per-query adaptive
    path (the fixed-rectangle parity contract extended)."""
    queries = corpus.filter(F.col("vec_id") < 4).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("q_embedding"))
    batch = idx.batch_search(queries, top_k=5, a=4, b=4,
                             adaptive=True).collect()
    by_q = {}
    for r in batch:
        by_q.setdefault(r["query_id"], []).append(
            (r["vec_id"], round(r["sim"], 9)))
    for qid in range(4):
        qv = [float(x) for x in corpus.filter(
            F.col("vec_id") == qid).first()["embedding"]]
        single = [(r["vec_id"], round(r["sim"], 9))
                  for r in idx.search(qv, top_k=5, a=4, b=4,
                                      adaptive=True).collect()]
        assert by_q[qid] == single, qid


@pytest.fixture(scope="module")
def skew_corpus(spark):
    """Cluster structure in half1 only, uniform noise in half2 — the
    corpus-level half skew calibration exists to detect."""
    rng = np.random.default_rng(7)
    centers = rng.uniform(0, 1, (16, 8))
    rows = []
    for i in range(2048):
        h1 = centers[i % 16] + rng.normal(0, 0.03, 8)
        h2 = rng.uniform(0, 1, 8)
        rows.append((i, np.concatenate([h1, h2]).tolist()))
    return spark.createDataFrame(
        rows, "vec_id bigint, embedding array<double>").cache()


def test_calibrated_probe_elongates_and_beats_fixed(spark, skew_corpus):
    """calibrate_probe measures the per-half neighbor rank-coverage CDFs
    and the calibrated allocation (a) elongates toward the unreliable
    half and (b) beats the fixed square at the SAME cell budget — the
    behavior no query-side similarity rule can produce (sims are flat in
    value on both halves here)."""
    from vervectordb_spark.operators.search import batch_topk

    idx = IMIIndex.build(skew_corpus, k1=8, k2=8, dim=16, seed=42)
    F1, F2 = idx.calibrate_probe(sample_size=512)
    assert F1[0] > 0.9          # half1 quantizer reliable at rank 1
    assert F2[0] < 0.6          # half2 nearly uninformative
    a, b = idx._alloc_calibrated(8)
    assert a < b                 # elongates toward the noisy half
    assert a * b <= 8

    queries = skew_corpus.filter(F.col("vec_id") < 16).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("q_embedding"))
    truth = {}
    for r in batch_topk(skew_corpus, queries, top_k=5,
                        kernel="gemm").collect():
        truth.setdefault(r["query_id"], set()).add(r["vec_id"])

    def recall(rows):
        got = {}
        for r in rows:
            got.setdefault(r["query_id"], set()).add(r["vec_id"])
        return sum(len(got.get(q, set()) & t) / len(t)
                   for q, t in truth.items()) / len(truth)

    fixed = recall(idx.batch_search(queries, top_k=5, a=2, b=4).collect())
    calib = recall(idx.batch_search(queries, top_k=5, a=2, b=4,
                                    adaptive=True).collect())
    assert calib > fixed, (calib, fixed)


def test_calibrated_batch_matches_single(spark, skew_corpus):
    queries = skew_corpus.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("q_embedding"))
    idx = IMIIndex.build(skew_corpus, k1=8, k2=8, dim=16, seed=42)
    idx.calibrate_probe(sample_size=256)
    batch = idx.batch_search(queries, top_k=5, a=3, b=3,
                             adaptive=True).collect()
    by_q = {}
    for r in batch:
        by_q.setdefault(r["query_id"], []).append(
            (r["vec_id"], round(r["sim"], 9)))
    for qid in range(3):
        qv = [float(x) for x in skew_corpus.filter(
            F.col("vec_id") == qid).first()["embedding"]]
        single = [(r["vec_id"], round(r["sim"], 9))
                  for r in idx.search(qv, top_k=5, a=3, b=3,
                                      adaptive=True).collect()]
        assert by_q[qid] == single, qid


def test_calibration_keeps_square_on_symmetric_corpus(corpus, idx):
    """No regression where halves are exchangeable: the calibrated
    allocation stays (near-)square on the symmetric blob corpus."""
    idx.calibrate_probe(sample_size=512)
    a, b = idx._alloc_calibrated(16)
    assert abs(a - b) <= 2 and a * b <= 16
    idx._probe_cdf = None  # don't leak calibration into other tests


@pytest.mark.deep
def test_calibration_persists_through_save_load(spark, skew_corpus, tmp_path):
    idx = IMIIndex.build(skew_corpus, k1=8, k2=8, dim=16, seed=42)
    idx.calibrate_probe(sample_size=256)
    want = idx._alloc_calibrated(8)
    path = str(tmp_path / "imi_cal")
    idx.save(path)
    back = IMIIndex.load(spark, path)
    assert back._probe_cdf is not None
    assert np.allclose(back._probe_cdf[0], idx._probe_cdf[0])
    assert back._alloc_calibrated(8) == want
    # uncalibrated saves stay loadable with the mass-rule fallback
    idx2 = IMIIndex.build(skew_corpus, k1=8, k2=8, dim=16, seed=42)
    path2 = str(tmp_path / "imi_uncal")
    idx2.save(path2)
    assert IMIIndex.load(spark, path2)._probe_cdf is None


def test_calibration_sample_deterministic_across_partitionings(spark, skew_corpus):
    """Same index (frozen centroids), different physical partitioning:
    the seeded hash-ordered calibration prefix selects the SAME rows, so
    the CDFs are bit-identical (a bare limit() would be
    partitioning-dependent — the _bounded_sample contract)."""
    a = IMIIndex.build(skew_corpus, k1=8, k2=8, dim=16, seed=42)
    b = IMIIndex(a.assigned.repartition(11), a.cent1, a.cent2, 16)
    Fa = a.calibrate_probe(sample_size=300)
    Fb = b.calibrate_probe(sample_size=300)
    assert np.array_equal(Fa[0], Fb[0]) and np.array_equal(Fa[1], Fb[1])


def test_calibration_draw_collects_only_the_sample_vectors(skew_corpus,
                                                           monkeypatch):
    """Only the (hash, id) keys go through the global-sort prefix: the
    collect that carries embeddings returns exactly sample_size rows and
    has no TakeOrderedAndProject, which would send every partition's top
    sample_size rows, embeddings included, to the driver."""
    idx = IMIIndex.build(skew_corpus, k1=8, k2=8, dim=16, seed=42)
    spread = IMIIndex(idx.assigned.repartition(13), idx.cent1, idx.cent2, 16)
    collected = []
    DataFrame = type(skew_corpus)
    collect = DataFrame.collect

    def recording_collect(df):
        plan = df._jdf.queryExecution().executedPlan().toString()
        rows = collect(df)
        collected.append((df.columns, len(rows), plan))
        return rows

    monkeypatch.setattr(DataFrame, "collect", recording_collect)
    spread.calibrate_probe(sample_size=100)
    monkeypatch.undo()
    vectors = [(n, plan) for cols, n, plan in collected if "embedding" in cols]
    assert len(vectors) == 1
    n, plan = vectors[0]
    assert n == 100
    assert "TakeOrderedAndProject" not in plan


def test_calibration_seed_reshuffles_sample(spark, skew_corpus):
    """The seed parameter is live (ADVICE r7): a sub-corpus sample drawn
    with a different seed picks a different row subset, so the CDFs can
    differ; the same seed reproduces bit-identical CDFs."""
    idx = IMIIndex.build(skew_corpus, k1=8, k2=8, dim=16, seed=42)
    n = idx.assigned.count()
    size = max(3, n // 3)  # strict subset so the draw has freedom
    F1a, F2a = idx.calibrate_probe(sample_size=size, seed=1)
    F1b, F2b = idx.calibrate_probe(sample_size=size, seed=1)
    assert np.array_equal(F1a, F1b) and np.array_equal(F2a, F2b)
    F1c, F2c = idx.calibrate_probe(sample_size=size, seed=2)
    assert (not np.array_equal(F1a, F1c)) or (not np.array_equal(F2a, F2c))
    idx._probe_cdf = None


def test_adaptive_and_exact_probe_mutually_exclusive(spark, skew_corpus):
    """search/batch_search fail fast when both flags are set instead of
    silently dropping exact_probe (ADVICE r7)."""
    import pytest

    idx = IMIIndex.build(skew_corpus, k1=8, k2=8, dim=16, seed=42)
    qv = [1.0] * 16
    with pytest.raises(ValueError, match="mutually exclusive"):
        idx.search(qv, top_k=3, adaptive=True, exact_probe=True)
    qdf = spark.createDataFrame([(0, qv)], "query_id int, q_embedding array<double>")
    with pytest.raises(ValueError, match="mutually exclusive"):
        idx.batch_search(qdf, top_k=3, adaptive=True, exact_probe=True)


def test_calibration_artifact_reproducible(spark):
    """The committed models/imi_probe_calib artifact IS
    calibrate_probe's output on the sf0.01 fixture with the gated
    query's exact index construction — recomputing reproduces it
    bit-for-bit (the tiny_ulm vendored-model provenance check)."""
    import numpy as np
    from pyspark.sql import functions as F

    from vervectordb_spark.operators.imi import (
        IMIIndex, load_probe_calibration)
    from vervectordb_spark.schema import load_table

    emb = load_table(spark, "/root/testdata/sf0.01", "embeddings")
    base = emb.filter(F.col("vec_id") < 8)
    cent1 = base.select(
        F.col("vec_id").cast("int").alias("cell_id"),
        F.slice(F.col("embedding").cast("array<double>"), 1, 32)
        .alias("centroid"))
    cent2 = base.select(
        F.col("vec_id").cast("int").alias("cell_id"),
        F.slice(F.col("embedding").cast("array<double>"), 33, 32)
        .alias("centroid"))
    idx = IMIIndex.from_centroids(emb, cent1, cent2, dim=64)
    got = idx.calibrate_probe(sample_size=512, seed=42)
    exp = load_probe_calibration()
    assert np.array_equal(got[0], exp[0])
    assert np.array_equal(got[1], exp[1])


def test_calibrated_allocation_sql_matches_python():
    """The oracle's SQL allocation over the committed CDF parquet picks
    the SAME (a, b) as IMIIndex._alloc_calibrated — for the committed
    artifact AND for synthetic skewed/flat CDF shapes (the elongation
    and noise-guard branches both exercised)."""
    import duckdb
    import numpy as np

    from vervectordb_spark.operators.imi import (
        IMIIndex, load_probe_calibration)

    def sql_alloc(f1, f2, budget, k1, k2):
        rows = [(1, r + 1, float(v)) for r, v in enumerate(f1)] + \
               [(2, r + 1, float(v)) for r, v in enumerate(f2)]
        con = duckdb.connect()
        con.execute("CREATE TABLE calib(half INT, rank INT, cdf DOUBLE)")
        con.executemany("INSERT INTO calib VALUES (?, ?, ?)", rows)
        got = con.execute(f"""
WITH cand AS (
  SELECT r.range + 1 AS a, least({k2}, {budget} // (r.range + 1)) AS b
  FROM range(0, least({k1}, {budget})) r
  WHERE least({k2}, {budget} // (r.range + 1)) >= 1
),
scored AS (
  SELECT c.a, c.b, f1.cdf * f2.cdf AS cov FROM cand c
  JOIN calib f1 ON f1.half = 1 AND f1.rank = c.a
  JOIN calib f2 ON f2.half = 2 AND f2.rank = c.b
),
bal AS (SELECT a, b, cov FROM scored
        ORDER BY a*b DESC, abs(a - b) ASC, a ASC LIMIT 1),
bst AS (SELECT a, b, cov FROM scored
        ORDER BY cov DESC, a*b DESC, abs(a - b) ASC, a ASC LIMIT 1)
SELECT CASE WHEN bst.cov > bal.cov + 0.05 THEN bst.a ELSE bal.a END,
       CASE WHEN bst.cov > bal.cov + 0.05 THEN bst.b ELSE bal.b END
FROM bal, bst""").fetchone()
        con.close()
        return int(got[0]), int(got[1])

    def py_alloc(f1, f2, budget):
        idx = IMIIndex.__new__(IMIIndex)
        idx._probe_cdf = (np.asarray(f1), np.asarray(f2))
        return idx._alloc_calibrated(budget)

    committed = load_probe_calibration()
    shapes = [
        (list(committed[0]), list(committed[1])),
        # hard half-1 skew: elongated rectangle must clear the guard
        ([0.95, 0.97, 0.99, 1.0, 1.0, 1.0, 1.0, 1.0],
         [0.10, 0.15, 0.20, 0.30, 0.45, 0.60, 0.80, 1.0]),
        # flat/noisy: the guard must keep the balanced square
        ([0.26, 0.45, 0.60, 0.71, 0.80, 0.88, 0.96, 1.0],
         [0.25, 0.46, 0.59, 0.72, 0.79, 0.89, 0.95, 1.0]),
    ]
    for f1, f2 in shapes:
        for budget in (4, 8, 16):
            assert sql_alloc(f1, f2, budget, len(f1), len(f2)) == \
                py_alloc(f1, f2, budget), (f1[:2], f2[:2], budget)
