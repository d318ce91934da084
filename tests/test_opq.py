"""Learned orthonormal rotation (operators/opq.py): orthonormality +
metric preservation, expr-kernel fold replay, arrow/expr closeness,
padding, the persisted-artifact serving contract, and fit determinism."""

import numpy as np
import pytest

from pyspark.sql import functions as F

from vervectordb_spark.operators import opq
from vervectordb_spark.operators.kmeans import _bounded_sample
from vervectordb_spark.schema import load_table

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def emb(spark):
    return load_table(spark, SF_DIR, "embeddings").cache()


@pytest.fixture(scope="module")
def R(emb):
    return opq.fit_learned_rotation(emb, 64, seed=42, order_col="vec_id")


def test_rotation_is_orthonormal(R):
    assert R.shape == (64, 64)
    assert np.abs(R @ R.T - np.eye(64)).max() < 1e-9


def test_norms_and_cosines_preserved(spark, emb, R):
    rot = opq.with_learned_rotation(emb, R, 64, kernel="arrow")
    rows = rot.select("embedding", "emb_lrot").limit(50).collect()
    X = np.asarray([list(r["embedding"]) for r in rows], dtype=np.float64)
    Y = np.asarray([list(r["emb_lrot"]) for r in rows], dtype=np.float64)
    assert np.abs(np.linalg.norm(X, axis=1)
                  - np.linalg.norm(Y, axis=1)).max() < 1e-9
    cx = (X @ X.T) / np.outer(np.linalg.norm(X, axis=1),
                              np.linalg.norm(X, axis=1))
    cy = (Y @ Y.T) / np.outer(np.linalg.norm(Y, axis=1),
                              np.linalg.norm(Y, axis=1))
    assert np.abs(cx - cy).max() < 1e-9


def test_expr_kernel_is_the_fold_replay(spark, emb, R):
    """The expr kernel's output dim i == the FIXED left fold
    acc += x_j * R[i,j] in j order — the exact arithmetic DuckDB's
    list_dot_product replays (the cross-engine fold contract)."""
    rows = (opq.with_learned_rotation(emb.limit(8), R, 64, kernel="expr")
            .select("embedding", "emb_lrot").collect())
    for r in rows:
        x = [float(v) for v in r["embedding"]]
        for i in (0, 17, 63):
            acc = 0.0
            for j in range(64):
                acc = acc + x[j] * float(R[i, j])
            assert r["emb_lrot"][i] == acc, i


def test_arrow_matches_expr_within_fold_tolerance(spark, emb, R):
    e = opq.with_learned_rotation(emb.limit(20), R, 64, kernel="expr")
    a = opq.with_learned_rotation(emb.limit(20), R, 64, kernel="arrow")
    ev = {r["vec_id"]: np.asarray(r["emb_lrot"]) for r in
          e.select("vec_id", "emb_lrot").collect()}
    av = {r["vec_id"]: np.asarray(r["emb_lrot"]) for r in
          a.select("vec_id", "emb_lrot").collect()}
    for k in ev:
        assert np.abs(ev[k] - av[k]).max() < 1e-9
    with pytest.raises(ValueError, match="kernel"):
        opq.with_learned_rotation(emb, R, 64, kernel="nope")


def test_non_pow2_dim_pads(spark):
    rng = np.random.default_rng(3)
    df = spark.createDataFrame(
        [(i, rng.normal(size=6).tolist()) for i in range(64)],
        "vec_id bigint, embedding array<double>")
    R = opq.fit_learned_rotation(df, 6, seed=1, order_col="vec_id")
    assert R.shape == (8, 8)
    rows = (opq.with_learned_rotation(df, R, 6, kernel="arrow")
            .limit(10).collect())
    for r in rows:
        x = np.asarray([float(v) for v in r["embedding"]])
        y = np.asarray(r["emb_lrot"])
        assert len(y) == 8
        assert abs(np.linalg.norm(x) - np.linalg.norm(y)) < 1e-9


def test_learned_bq_search_selfhit_and_artifacts(spark, emb, R):
    from vervectordb_spark.operators import bq

    qv = [float(x) for x in
          emb.filter(F.col("vec_id") == 5).first()["embedding"]]
    inline = opq.learned_bq_search(emb, R, qv, 64, top_k=5).collect()
    assert inline[0]["vec_id"] == 5
    assert inline[0]["hamming"] == 0
    assert abs(inline[0]["sim"] - 1.0) < 1e-9
    # persisted-artifact path row-for-row equals the inline path
    rot = opq.with_learned_rotation(emb, R, 64, kernel="expr")
    thr = bq.fit_bq_thresholds(rot, emb_col="emb_lrot", dim=64)
    codes = bq.with_codes(rot, thr, 64, emb_col="emb_lrot").select(
        "vec_id", "bq_code")
    served = opq.learned_bq_search(emb, R, qv, 64, top_k=5,
                                   thresholds=thr, codes=codes).collect()
    assert [(r["vec_id"], r["hamming"]) for r in served] \
        == [(r["vec_id"], r["hamming"]) for r in inline]
    with pytest.raises(ValueError, match="together"):
        opq.learned_bq_search(emb, R, qv, 64, thresholds=thr)


def test_fit_is_deterministic_with_order_col(emb):
    R1 = opq.fit_learned_rotation(emb, 64, seed=42, order_col="vec_id")
    R2 = opq.fit_learned_rotation(emb, 64, seed=42, order_col="vec_id")
    assert np.array_equal(R1, R2)


def test_itq_refinement_stays_orthonormal(emb):
    R = opq.fit_learned_rotation(emb, 64, seed=42, itq_iters=5,
                                 order_col="vec_id")
    assert np.abs(R @ R.T - np.eye(64)).max() < 1e-9


def test_short_code_search_selfhit_and_guards(spark, emb):
    """code_bits < dim: the 32→16-bit prefix path still self-hits (the
    prefix of a rotated corpus row exactly matches the rotated query's
    prefix, so Hamming 0), and bad code_bits / bad mix fail fast."""
    R = opq.fit_learned_rotation(emb, 64, seed=42, order_col="vec_id",
                                 mix="none")
    qv = [float(x) for x in
          emb.filter(F.col("vec_id") == 9).first()["embedding"]]
    hits = opq.learned_bq_search(emb, R, qv, 64, top_k=3,
                                 code_bits=16).collect()
    assert hits[0]["vec_id"] == 9
    assert hits[0]["hamming"] == 0
    assert abs(hits[0]["sim"] - 1.0) < 1e-9
    with pytest.raises(ValueError, match="code_bits"):
        opq.learned_bq_search(emb, R, qv, 64, code_bits=0)
    with pytest.raises(ValueError, match="mix"):
        opq.fit_learned_rotation(emb, 64, mix="whiten")


def test_mix_none_rows_are_principal_directions(emb):
    """mix='none' returns R = P^T: each row is a unit eigenvector of the
    centered sample second moment, rows mutually orthogonal, leading row
    carries the largest variance — the prefix-retrieval contract."""
    R = opq.fit_learned_rotation(emb, 64, seed=42, order_col="vec_id",
                                 mix="none")
    assert np.abs(R @ R.T - np.eye(64)).max() < 1e-9
    X = _bounded_sample(emb, "embedding", 10_000, 42, "vec_id")
    Xc = X - X.mean(axis=0)
    var = ((Xc @ R.T) ** 2).sum(axis=0)
    assert var[0] == max(var)
    assert var[0] >= var[10] >= var[40]


def test_artifact_width_mismatch_fails_fast(spark, emb, R):
    """Width-mismatched persisted thresholds/codes raise the contract
    error instead of producing NULL hamming distances (ADVICE r6)."""
    from vervectordb_spark.operators import bq

    qv = [float(x) for x in
          emb.filter(F.col("vec_id") == 5).first()["embedding"]]
    rot = opq.with_learned_rotation(emb, R, 64, kernel="expr")
    thr = bq.fit_bq_thresholds(rot, emb_col="emb_lrot", dim=64)
    codes = bq.with_codes(rot, thr, 64, emb_col="emb_lrot").select(
        "vec_id", "bq_code")
    # thresholds fit at 64 bits vs code_bits=16
    with pytest.raises(ValueError, match="thresholds artifact"):
        opq.learned_bq_search(emb, R, qv, 64, thresholds=thr, codes=codes,
                              code_bits=16)
    # 16-bit thresholds with 64-bit (2-word would differ; slice thr) codes
    thr16 = thr.filter(F.col("pos") < 16)
    rot16 = rot.withColumn("emb_lrot", F.slice("emb_lrot", 1, 16))
    codes128 = bq.with_codes(
        rot.withColumn("emb_lrot",
                       F.concat("emb_lrot", "emb_lrot")),
        bq.fit_bq_thresholds(
            rot.withColumn("emb_lrot", F.concat("emb_lrot", "emb_lrot")),
            emb_col="emb_lrot", dim=128),
        128, emb_col="emb_lrot").select("vec_id", "bq_code")
    with pytest.raises(ValueError, match="codes artifact"):
        opq.learned_bq_search(emb, R, qv, 64, thresholds=thr16,
                              codes=codes128, code_bits=16)
    del rot16


def test_bounded_sample_overcap_deterministic_across_partitionings(spark, emb):
    """Over-cap selection with order_col is a hash-draw on row identity:
    the SAME rows (and therefore the same R) regardless of partitioning
    (ADVICE r6 — sample()+limit() was partitioning-dependent)."""
    X1 = _bounded_sample(emb, "embedding", 100, 42, "vec_id")
    X2 = _bounded_sample(emb.repartition(13), "embedding", 100, 42,
                         "vec_id")
    assert X1.shape == X2.shape and X1.shape[0] <= 100
    assert np.array_equal(X1, X2)
    R1 = opq.fit_learned_rotation(emb, 64, sample_size=100, seed=42,
                                  order_col="vec_id")
    R2 = opq.fit_learned_rotation(emb.repartition(13), 64, sample_size=100,
                                  seed=42, order_col="vec_id")
    assert np.array_equal(R1, R2)


def test_bounded_sample_overcap_probe_is_a_plain_limit(emb, monkeypatch):
    """The cap probe on an over-cap, many-partition table collects at most
    cap + 1 rows through a plain limit. A global sort under the limit
    (TakeOrderedAndProject) would send every partition's top cap + 1
    rows, embeddings included, to the driver."""
    collected = []
    DataFrame = type(emb)
    collect = DataFrame.collect

    def recording_collect(df):
        plan = df._jdf.queryExecution().executedPlan().toString()
        rows = collect(df)
        collected.append((len(rows), plan))
        return rows

    monkeypatch.setattr(DataFrame, "collect", recording_collect)
    X = _bounded_sample(emb.repartition(13), "embedding", 100, 42, "vec_id")
    monkeypatch.undo()
    n_probe, probe_plan = collected[0]
    assert n_probe == 101
    assert "TakeOrderedAndProject" not in probe_plan
    assert "Sort" not in probe_plan
    assert 0 < len(X) <= 100


def test_artifact_validation_memoized_per_codes_frame(spark, emb, R):
    """The codes word-width probe runs once per artifact object: after
    the first serving call the frame carries the validated width marker,
    so repeat queries on the same persisted codes pay zero validation
    jobs (ADVICE r7)."""
    from vervectordb_spark.operators import bq

    qv = [float(x) for x in
          emb.filter(F.col("vec_id") == 5).first()["embedding"]]
    rot = opq.with_learned_rotation(emb, R, 64, kernel="expr")
    thr = bq.fit_bq_thresholds(rot, emb_col="emb_lrot", dim=64)
    codes = bq.with_codes(rot, thr, 64, emb_col="emb_lrot").select(
        "vec_id", "bq_code").cache()
    assert getattr(codes, "_vvdb_code_words_ok", None) is None
    r1 = opq.learned_bq_search(emb, R, qv, 64, thresholds=thr,
                               codes=codes).collect()
    assert codes._vvdb_code_words_ok == bq.n_words(64)
    r2 = opq.learned_bq_search(emb, R, qv, 64, thresholds=thr,
                               codes=codes).collect()
    assert [tuple(r) for r in r1] == [tuple(r) for r in r2]
