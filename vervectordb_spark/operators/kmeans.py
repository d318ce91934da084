"""Driver-side k-means: the one fit behind every trained quantizer.

IVF centroids, the two IMI half-quantizers and the PQ codebooks are all
fitted by `_lloyd_kmeans` on a matrix drawn by `_bounded_sample` (OPQ's
rotation reads the same sample). The sample is driver-sized by
construction, so the fit is NumPy on the driver, as the reference fits
sklearn (vervectordb/__init__.py:161-180, 416-418); the distributed part
of each index is assigning or encoding the full corpus, not the fit.
"""

from __future__ import annotations

import numpy as np

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def _bounded_sample(df: DataFrame, emb_col: str, sample_size: int,
                    seed: int, order_col: str | None) -> np.ndarray:
    """At most `sample_size` non-NULL rows of `emb_col` as a float64
    matrix. One probe collects at most sample_size + 1 rows (a limit, so
    the driver never receives more); under the cap those rows are the
    sample. Only an over-cap corpus is subsampled, with a second collect.

    With order_col the sample is partition-independent: over the cap the
    rows are drawn by an xxhash64(seed, order_col) threshold, so which
    rows survive depends only on row identity (sample()+limit() would
    pick a partitioning-dependent subset), and the rows are sorted by
    order_col on the driver (then truncated to sample_size), so a fit on
    the matrix is reproducible across partitionings and runs. Without
    order_col the rows keep the frame's order and an over-cap subset is
    seed-stable per partitioning only (the cheap path)."""
    cols = [emb_col] if order_col is None else [order_col, emb_col]
    sample = df.select(*cols).filter(F.col(emb_col).isNotNull())
    rows = sample.limit(sample_size + 1).collect()
    if len(rows) > sample_size:
        frac = min(1.0, 1.2 * sample_size / sample.count())
        if order_col is None:
            rows = sample.sample(fraction=frac, seed=seed).limit(
                sample_size).collect()
        else:
            denom = 1_000_000
            rows = sample.filter(
                F.pmod(F.xxhash64(F.lit(seed), F.col(order_col)),
                       F.lit(denom)) < F.lit(max(1, int(denom * frac)))
            ).collect()
    if order_col is not None:
        rows = sorted(rows, key=lambda r: r[order_col])[:sample_size]
    return np.array([list(r[emb_col]) for r in rows], dtype=np.float64)


def _kmeans_pp(X: np.ndarray, k: int, rng: np.random.RandomState) -> np.ndarray:
    """k-means++ seeding: the first centre is a uniform row, each next one
    a row drawn with probability ∝ its squared distance to the nearest
    centre so far (a row already at a centre is never drawn again while
    another row is farther)."""
    centers = np.empty((k, X.shape[1]))
    centers[0] = X[rng.randint(len(X))]
    d2 = ((X - centers[0]) ** 2).sum(axis=1)
    for j in range(1, k):
        total = d2.sum()
        i = rng.choice(len(X), p=d2 / total) if total > 0 else rng.randint(len(X))
        centers[j] = X[i]
        d2 = np.minimum(d2, ((X - centers[j]) ** 2).sum(axis=1))
    return centers


def _lloyd_kmeans(X: np.ndarray, k: int, seed: int, max_iter: int = 20,
                  init: str = "random") -> np.ndarray:
    """Seeded vectorized Lloyd's over a driver-resident sample. Empty
    clusters keep their previous centroid (deterministic).

    init="random" starts from k distinct sample rows (the PQ codebooks);
    init="k-means++" from `_kmeans_pp` (the IVF and IMI coarse
    quantizers, which the reference fits with sklearn's k-means++ and the
    engine used to fit with MLlib's k-means||). From random rows, near
    duplicates that both get drawn stay split into two clusters for good:
    on the 6-row, k=3 store of tests/test_store.py's semdedup test, 10%
    of row orders split a near-duplicate pair from random rows, none
    from k-means++ (2000 orders each).

    Assignment scores are float32 and skip the ‖x‖² term (constant per row
    — argmin_c ‖x−c‖² == argmin_c (‖c‖² − 2x·c)), with in-place GEMM +
    axpy so the (n × k) score matrix is allocated once, not 3× per
    iteration. That's ~7× over the naive float64 broadcast expression
    (26 → 4 ms/iter at n=10k, k=256, d=16 — the float64 temporaries, not
    the GEMM, were the cost). Centroid UPDATES stay float64 (bincount
    sums over the original X), so precision loss is confined to
    assignment rounding on near-ties."""
    rng = np.random.RandomState(seed)
    if init == "k-means++":
        centers = _kmeans_pp(X, k, rng)
    else:
        centers = X[rng.choice(len(X), size=k, replace=False)].copy()
    Xf = np.ascontiguousarray(X, dtype=np.float32)
    scores = np.empty((len(X), k), dtype=np.float32)
    for _ in range(max_iter):
        cf = np.ascontiguousarray(centers.T, dtype=np.float32)
        np.matmul(Xf, cf, out=scores)
        scores *= -2.0
        scores += (cf ** 2).sum(0)[None, :]
        assign = scores.argmin(axis=1)
        counts = np.bincount(assign, minlength=k)
        sums = np.empty((k, X.shape[1]))
        for j in range(X.shape[1]):  # d bincounts beat a k-loop of masks
            sums[:, j] = np.bincount(assign, weights=X[:, j], minlength=k)
        nonempty = counts > 0
        new = centers.copy()
        new[nonempty] = sums[nonempty] / counts[nonempty, None]
        if np.allclose(new, centers):
            break
        centers = new
    return centers
