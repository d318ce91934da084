"""Learned orthonormal rotation (OPQ-lite / ITQ-style) — the trained
upgrade above the deterministic HD stand-in (operators/rotation.py).

Reference scope: beyond nev8rz/VerVectorDB (no pre-transform exists
there, vervectordb/__init__.py:152-218); this is the FAISS
OPQMatrix / ITQMatrix slot (Ge et al., "Optimized Product Quantization",
CVPR 2013; Gong & Lazebnik, "Iterative Quantization", CVPR 2011): fit an
orthonormal R on a bounded sample so downstream per-dimension codecs see
coordinates aligned to the DATA, not to a fixed random mix.

Construction (fit_learned_rotation):

    R = H_norm @ diag(signs) @ P^T          (the energy-balanced init)
    optionally refined by ITQ procrustes iterations

  * P: eigenbasis of the UNCENTERED sample second-moment X^T X
    (descending eigenvalue order). No centering — a translation is not
    cosine-preserving, and every serving path reports exact raw cosine.
  * diag(signs) @ H_norm: the deterministic HD mix applied IN EIGENSPACE.
    Pure PCA concentrates variance into the leading output dims — the
    worst case for sign/range codecs (a handful of hot bits, the rest
    dead). Mixing the eigen-directions through the normalized Hadamard
    gives every output dimension the SAME variance (the mean eigenvalue):
    Var(y_i) = (1/d)·Σλ_j for every i — the per-dimension balance
    midrange-threshold sign bits want, now aligned to the data's actual
    principal structure instead of the raw coordinate axes.
  * ITQ refinement (itq_iters > 0): classic procrustes alternation on the
    (optionally centered) sample — B = sign(V Rᵀ >= 0), R ← (UVᵀ)ᵀ from
    the SVD of VᵀB — rotating so sample coordinates agree with their own
    zero-threshold sign codes (Gong & Lazebnik's original form). The
    zero threshold is deliberate: with center=True V is the centered
    sample so zero IS its per-dim center, and the downstream BQ stage
    re-estimates its own midrange thresholds on the rotated corpus
    anyway — a median offset here would be estimated twice.

Every factor is orthonormal, so R is orthonormal: norms and cosines are
preserved (pytest-gated to 1e-9, oracle-gated to round-4 on the fixture —
the profile query checks rotated norms/cosines against values DuckDB
computes from the RAW vectors, so the data-dependent R never has to cross
engines).

State: R is a d2×d2 float64 matrix (d2 = next_pow2(dim)) — driver/
broadcast-class like IVF centroids (64 KB at dim=64, 128 MB at dim=4096;
at the top end persist it like a PQ codebook, still executor-RAM-trivial).

Kernels:
  * expr (oracle-replayable spec): per output dim, the dot product as the
    house FIXED left fold (zip_with multiply, sequential aggregate) —
    bit-identical to DuckDB list_dot_product by the cross-engine fold
    contract (functions/similarity.py).
  * arrow (serving): one BLAS matmul per batch. Accumulation order
    differs from the fold by ~1e-15 relative; the exact raw-vector rerank
    in every serving chain absorbs it (same contract as sq's arrow
    scorer). NOT the oracle path.

100 TB posture: fit is one bounded-sample collect (the shared k-means
sample, operators/kmeans.py); apply is map-only (d² multiply-adds per row —
at dim ≥ 1024 prefer the arrow kernel, one GEMM per Arrow batch); serving
scans never change shape (the rotation only moves WHICH bits the codec
packs).
"""

from __future__ import annotations

from collections.abc import Sequence

import numpy as np

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from vervectordb_spark.functions.similarity import to_double
from vervectordb_spark.operators.kmeans import _bounded_sample
from vervectordb_spark.operators.rotation import hd_signs, next_pow2, pad_np


def hadamard(d: int) -> np.ndarray:
    """Sylvester Walsh-Hadamard matrix, normalized (orthonormal); d must
    be a power of two."""
    if d <= 0 or (d & (d - 1)) != 0:
        raise ValueError(f"Hadamard needs a power-of-two size, got {d}")
    H = np.array([[1.0]])
    while H.shape[0] < d:
        H = np.block([[H, H], [H, -H]])
    return H / np.sqrt(d)


def fit_learned_rotation(df: DataFrame, dim: int, sample_size: int = 10_000,
                         seed: int = 42, itq_iters: int = 0,
                         emb_col: str = "embedding",
                         order_col: str | None = None,
                         center: bool = True,
                         mix: str = "hadamard") -> np.ndarray:
    """Fit the (d2, d2) orthonormal R on a bounded sample (see module
    docstring). Returns R such that y = R @ pad(x). Pass order_col (the
    id column) when R must be bit-reproducible across runs — the
    second-moment sum is order-sensitive in float64.

    center: estimate the eigenbasis from the CENTERED sample (the cluster
    structure, not the corpus offset — what the short-code win in
    RECALL.md uses). Centering affects only which R is LEARNED; the
    applied transform is still the pure rotation y = R x, so cosine
    preservation is untouched.

    mix="hadamard": spread eigen-directions across all output dims
    (balanced full-length codes). mix="none": R = P^T — the leading
    OUTPUT dims are the leading principal directions, the form short-code
    prefix retrieval needs (learned_bq_search code_bits, or MRL-style
    prefix scans over the rotated column)."""
    if mix not in ("hadamard", "none"):
        raise ValueError(f"unknown mix {mix!r}")
    X = _bounded_sample(df, emb_col, sample_size, seed, order_col)
    if len(X) == 0:
        raise ValueError("fit_learned_rotation on an empty corpus")
    d2 = next_pow2(dim)
    X = pad_np(X, d2)
    # centering here only shapes the LEARNED basis; the transform applied
    # to data is y = R x (no translation), so cosine is preserved exactly
    Xf = X - X.mean(axis=0) if center else X
    C = Xf.T @ Xf
    w, P = np.linalg.eigh(C)          # ascending eigenvalues
    P = P[:, ::-1]                     # descending — leading PCs first
    if mix == "hadamard":
        R = hadamard(d2) @ np.diag(np.asarray(hd_signs(d2, seed),
                                              dtype=np.float64)) @ P.T
    else:
        R = P.T.copy()
    V = Xf
    for _ in range(itq_iters):
        Y = V @ R.T
        B = np.where(Y >= 0.0, 1.0, -1.0)
        U, _s, Vt = np.linalg.svd(V.T @ B, full_matrices=False)
        R = (U @ Vt).T
    return R


def rotate_query_learned(query_vec: Sequence[float],
                         R: np.ndarray) -> list[float]:
    """Driver-side query rotation — the q_pretransform hook shape
    (operators/bq.batch_hamming_search). BLAS path; exact reranks absorb
    the fold-order delta like every arrow serving kernel."""
    q = pad_np(np.asarray(query_vec, dtype=np.float64), R.shape[0])
    return [float(v) for v in R @ q]


def _padded(emb_col: str, dim: int, d2: int) -> Column:
    e = to_double(F.col(emb_col))
    if d2 == dim:
        return e
    return F.concat(e, F.array(*[F.lit(0.0) for _ in range(d2 - dim)]))


def with_learned_rotation(df: DataFrame, R: np.ndarray, dim: int,
                          emb_col: str = "embedding",
                          out_col: str = "emb_lrot",
                          kernel: str = "expr") -> DataFrame:
    """Append out_col = R @ pad(emb).

    kernel="expr": one FIXED-fold dot product per output dim (the
    oracle-replayable spec — each fold is bit-identical to DuckDB
    list_dot_product). kernel="arrow": one GEMM per Arrow batch (serving;
    ~fold +-1e-15, absorbed by exact reranks)."""
    d2 = R.shape[0]
    if R.shape != (d2, d2):
        raise ValueError(f"R must be square, got {R.shape}")
    if kernel == "arrow":
        return _with_rotation_arrow(df, R, dim, emb_col, out_col)
    if kernel != "expr":
        raise ValueError(f"unknown kernel {kernel!r}")
    e = _padded(emb_col, dim, d2)
    dims = []
    for i in range(d2):
        row = F.array(*[F.lit(float(R[i, j])) for j in range(d2)])
        dims.append(F.aggregate(
            F.zip_with(e, row, lambda x, r: x * r),
            F.lit(0.0), lambda acc, v: acc + v,
        ))
    return df.withColumn(out_col, F.array(*dims))


def _with_rotation_arrow(df: DataFrame, R: np.ndarray, dim: int,
                         emb_col: str, out_col: str) -> DataFrame:
    from pyspark.sql.types import (
        ArrayType,
        DoubleType,
        StructField,
        StructType,
    )

    d2 = R.shape[0]
    out_schema = StructType(
        list(df.schema.fields)
        + [StructField(out_col, ArrayType(DoubleType()))]
    )

    def kern(batches):
        for pdf in batches:
            if len(pdf) == 0:
                pdf[out_col] = []
                yield pdf
                continue
            X = pad_np(np.asarray(pdf[emb_col].tolist(), dtype=np.float64),
                       d2)
            Y = X @ R.T
            pdf = pdf.copy()
            pdf[out_col] = [row.tolist() for row in Y]
            yield pdf

    return df.mapInPandas(kern, out_schema)


def learned_bq_search(df: DataFrame, R: np.ndarray, query_vec,
                      dim: int, top_k: int = 5, rerank_factor: int = 3,
                      emb_col: str = "embedding", id_col: str = "vec_id",
                      thresholds: DataFrame | None = None,
                      codes: DataFrame | None = None,
                      kernel: str = "expr",
                      code_bits: int | None = None) -> DataFrame:
    """BQ serving behind the LEARNED rotation — the exact
    rotation.rotated_bq_search chain with R in place of the HD transform:
    rotate corpus + query with the SAME R, midrange thresholds on the
    rotated coordinates, Hamming scan, exact raw-cosine rerank.
    thresholds/codes accept persisted artifacts of one fit/encode pass
    (pass BOTH or NEITHER — the rotated_bq_search contract).

    code_bits < d2 keeps only the FIRST code_bits rotated coordinates —
    SHORT codes, the memory-bound regime (code_bits/8 bytes per vector)
    and the one where the learned rotation measurably beats the
    deterministic HD mix: R's leading rows are the sample's principal
    directions, so a b-bit prefix captures the most cosine-relevant
    subspace, where a random/HD projection's b-bit prefix is an
    arbitrary one (RECALL.md 'Short codes'). At full length
    (code_bits=None) prefer rotation.rotated_bq_search — measured
    equal-or-better and stateless."""
    from vervectordb_spark.functions.similarity import cosine_expr
    from vervectordb_spark.operators import bq

    if (thresholds is None) != (codes is None):
        raise ValueError(
            "pass thresholds AND codes together (artifacts of ONE "
            "fit/encode pass) — or neither")
    d2 = R.shape[0]
    b = d2 if code_bits is None else int(code_bits)
    if not 1 <= b <= d2:
        raise ValueError(f"code_bits must be in [1, {d2}], got {code_bits}")
    if thresholds is None or codes is None:
        rotated = with_learned_rotation(df, R, dim, emb_col=emb_col,
                                        kernel=kernel)
        if b != d2:
            rotated = rotated.withColumn(
                "emb_lrot", F.slice("emb_lrot", 1, b))
        thr = bq.fit_bq_thresholds(rotated, emb_col="emb_lrot", dim=b)
        coded = bq.with_codes(rotated, thr, b, emb_col="emb_lrot")
    else:
        thr, coded = thresholds, codes
    thr_pdf = thr.toPandas()
    if thresholds is not None:
        # fail-fast artifact validation (ADVICE r6): width-mismatched
        # artifacts would make hamming_words_expr emit NULL distances and
        # silently wrong rankings — the same error class
        # bq._require_rerank_vectors exists to prevent. Validated off the
        # already-collected thr_pdf (no extra count() job) and the codes
        # word-width probe runs once per artifact object, not per query
        # (ADVICE r7) — repeat serving calls on the same persisted codes
        # frame pay zero validation jobs.
        if len(thr_pdf) != b:
            raise ValueError(
                f"thresholds artifact has {len(thr_pdf)} rows but "
                f"code_bits={b}: pass the thresholds/codes of ONE "
                "fit/encode pass at this code width")
        want_words = bq.n_words(b)
        if getattr(coded, "_vvdb_code_words_ok", None) != want_words:
            first = coded.select(F.size("bq_code").alias("nw")).first()
            if first is not None and first["nw"] != want_words:
                raise ValueError(
                    f"codes artifact packs {first['nw']} words but "
                    f"code_bits={b} needs {want_words}: pass the "
                    "thresholds/codes of ONE fit/encode pass at this "
                    "code width")
            coded._vvdb_code_words_ok = want_words
    qwords = bq.encode_query(rotate_query_learned(query_vec, R)[:b],
                             thr_pdf)
    qcol = F.array(*[F.lit(w).cast("bigint") for w in qwords])
    cand = (
        coded.select(
            id_col,
            bq.hamming_words_expr(F.col("bq_code"), qcol).alias("hamming"),
        )
        .orderBy(F.asc("hamming"), F.asc(id_col))
        .limit(rerank_factor * top_k)
    )
    return (
        df.select(id_col, emb_col).join(cand, on=id_col)
        .select(id_col, "hamming",
                cosine_expr(emb_col, list(query_vec)).alias("sim"))
        .orderBy(F.desc("sim"), F.asc(id_col))
        .limit(top_k)
    )
