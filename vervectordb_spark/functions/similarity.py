"""Vector similarity kernels as Catalyst column expressions.

The reference computes cosine three ways that must agree
(vervectordb/__init__.py:31-36 dot/norm formula; :344 and :438,:454 sklearn
batch calls). Here cosine is ONE definition, expressed as a native Catalyst
fold so it runs JVM-side inside whole-stage codegen — no Python in the hot
path, no UDF serialization, and the expression is pushdown/pruning friendly.

Numeric contract (verified bit-exact vs DuckDB): every element is cast to
double FIRST, then multiplied pairwise and folded left-to-right. DuckDB's
`list_dot_product(a::DOUBLE[], b::DOUBLE[])` performs the identical
sequential double accumulation, so similarity values agree to the last bit
with the DuckDB oracles — rounding to 6 decimals for display is safe.

Zero-norm guard mirrors the reference (vervectordb/__init__.py:34-35):
cosine(0, y) = 0.0.

Scale path: for very high dim × very large N, `cosine_scores_batch` scores
Arrow record batches with NumPy/BLAS via mapInPandas (one GEMV per batch,
the distributed analogue of the reference's single vectorized kernel per
query, vervectordb/__init__.py:344).
"""

from __future__ import annotations

import math
from collections.abc import Iterator, Sequence

from pyspark.sql import Column
from pyspark.sql import functions as F

from vervectordb_spark.functions.identifiers import sql_ident


def to_double(arr: Column | str) -> Column:
    """array<float> → array<double>, element-wise, JVM-side."""
    arr = F.col(arr) if isinstance(arr, str) else arr
    return F.transform(arr, lambda x: x.cast("double"))


# ---------------------------------------------------------------------------
# Parsed scoring. Every PySpark Column op is a py4j round-trip (~1.6 ms
# measured), so a cosine built as a Column tree cost ~0.1 s of DRIVER time
# per query — more than scanning a 4k-row store. The functions below emit
# the same folds as SQL text, parsed by ONE F.expr call: double casts,
# pairwise products folded left from 0.0D, one division — so every value
# is bit-unchanged.
# ---------------------------------------------------------------------------

def _digits(v: float) -> str:
    """repr's shortest round-trip digits of a double, or the name of a
    non-finite one."""
    if math.isfinite(v):
        return repr(v)
    return "NaN" if math.isnan(v) else ("Infinity" if v > 0 else "-Infinity")


def _double_sql(v: float) -> str:
    """One double as a SQL literal that parses back to exactly `v` (the
    `D` suffix makes it a double, not a decimal; non-finite values have
    no literal spelling and are cast from their names)."""
    v = float(v)
    return repr(v) + "D" if math.isfinite(v) else f"CAST('{_digits(v)}' AS DOUBLE)"


def vector_sql(vec: Sequence[float]) -> str:
    """A vector as a SQL array<double> constant: ONE string literal that
    from_json parses and the optimizer folds to the literal array —
    parsing and analysing `array(d1, ..., d64)` costs ~4x more driver
    time per query. The JSON reader parses repr's digits correctly
    rounded and reads NaN/±Infinity as non-numeric number tokens, so the
    folded literal holds exactly the driver's doubles (pinned with -0.0,
    denormals, ±DBL_MAX and the non-finite values in tests)."""
    return ("from_json('[" + ",".join(_digits(float(v)) for v in vec)
            + "]', 'array<double>')")


def query_lit(vec: Sequence[float]) -> Column:
    """A query vector as a literal array<double> column (plan-time constant,
    shipped with the plan — the analogue of the reference's query argument),
    parsed from ONE SQL string instead of dim× F.lit().cast() calls."""
    return F.expr(vector_sql(vec))


def to_double_sql(a: str) -> str:
    """to_double as SQL text over the SQL expression `a`."""
    return f"transform({a}, x -> cast(x as double))"


def dot_sql(a: str, b: str) -> str:
    """dot_expr as SQL text: pairwise double products, folded left from
    0.0D."""
    return f"aggregate(zip_with({a}, {b}, (x, y) -> x * y), 0.0D, (acc, x) -> acc + x)"


def self_dot(vec: Sequence[float]) -> float:
    """dot(v, v) of a driver-side vector, summed in the fold's order: the
    same double products added left to right from 0.0, so it equals the
    value dot_sql computes for the same literal bit for bit."""
    acc = 0.0
    for v in vec:
        v = float(v)
        acc += v * v
    return acc


#: the row self-dot column of a serving frame (self_dot_expr)
SS_COL = "_ss"


def self_dot_expr(emb_col: str) -> Column:
    """dot(e, e) of an array column — the per-row self-dot a serving frame
    keeps next to the vector, so scoring a query against that frame
    folds once per row instead of twice (cosine_sql's `ss_col`)."""
    e = to_double_sql(sql_ident(emb_col))
    return F.expr(dot_sql(e, e))


def _operand(x: str | Sequence[float]) -> tuple[str, str]:
    """(double-array SQL, self-dot SQL) of a column name or a vector; a
    vector's self-dot is computed here, on the driver."""
    if isinstance(x, str):
        d = to_double_sql(sql_ident(x))
        return d, dot_sql(d, d)
    return vector_sql(x), _double_sql(self_dot(x))


def cosine_sql(a: str, b: str | Sequence[float],
               ss_col: str | None = None) -> str:
    """Cosine of column `a` against column `b` or a query vector, as SQL
    text, with the zero-norm guard (reference formula,
    vervectordb/__init__.py:31-36). `ss_col` names a column that already
    holds dot(a, a) (self_dot_expr); the query's self-dot is a driver
    constant. The cosine_from_ss form throughout: sqrt of the identical
    double, ss == 0 iff sqrt(ss) == 0 for the non-negative self-dot, one
    division — bit-identical to the three-fold cosine."""
    ad, ssa = _operand(a)
    bd, ssb = _operand(b)
    if ss_col is not None:
        ssa = sql_ident(ss_col)
    return (f"CASE WHEN {ssa} = 0.0D OR {ssb} = 0.0D THEN 0.0D "
            f"ELSE {dot_sql(ad, bd)} / (sqrt({ssa}) * sqrt({ssb})) END")


def l2_sql(a: str, b: str | Sequence[float]) -> str:
    """Euclidean distance (the PQ codebook assignment metric,
    vervectordb/__init__.py:198-199) of column `a` to column `b` or a
    vector, as SQL text: Σ(a−b)² folded left from 0.0D, then sqrt."""
    ad, _ = _operand(a)
    bd, _ = _operand(b)
    return (f"sqrt(aggregate(zip_with({ad}, {bd}, (x, y) -> x - y), 0.0D, "
            "(acc, x) -> acc + x * x))")


def fold_scores(xt, queries, metric: str = "cosine", ss=None):
    """The parsed folds above over a driver matrix: `xt` holds one row
    vector per COLUMN (dim × n, float64), `queries` one query per row
    (Q × dim); returns Q × n scores. Vectorized over rows and queries,
    folded left over dimensions from 0.0 in float64 — the products and
    additions dot_sql, cosine_sql and l2_sql evaluate, in their order, so
    every score equals the Spark value for the same row bit for bit.
    Cosine reads each row's self-dot from `ss` (a serving frame's SS_COL)
    and applies cosine_sql's zero guard."""
    import numpy as np

    q = np.asarray(queries, dtype=np.float64)
    if metric not in ("cosine", "dot", "l2"):
        raise ValueError(f"unknown metric {metric!r}")
    acc = np.zeros((len(q), xt.shape[1]))
    with np.errstate(all="ignore"):  # NaN and ±inf fold as IEEE, like Spark
        for d in range(xt.shape[0]):
            if metric == "l2":
                t = xt[d] - q[:, d, None]
                acc += t * t
            else:
                acc += xt[d] * q[:, d, None]
        if metric == "l2":
            return np.sqrt(acc)
        if metric == "dot":
            return acc
        qss = np.array([self_dot(v) for v in q])[:, None]
        return np.where((ss == 0.0) | (qss == 0.0), 0.0,
                        acc / (np.sqrt(ss) * np.sqrt(qss)))


def dot_expr(a: Column, b: Column) -> Column:
    """Sequential fold-left dot product in double precision."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def norm_expr(a: Column) -> Column:
    return F.sqrt(dot_expr(a, a))


def cosine_expr(a: Column | str, b: Column | str | Sequence[float]) -> Column:
    """Cosine similarity with zero-norm guard (reference formula,
    vervectordb/__init__.py:31-36). Inputs may be float arrays; both are
    double-cast before any arithmetic. A column NAME against a name or a
    vector is one parsed expression (cosine_sql); Column operands, which
    have no SQL text, compose as a Column tree of the same shape."""
    if isinstance(a, str) and not isinstance(b, Column):
        return F.expr(cosine_sql(a, b))
    a = to_double(a)
    b = query_lit(b) if isinstance(b, (list, tuple)) else to_double(b)
    na, nb = norm_expr(a), norm_expr(b)
    return F.when((na == 0.0) | (nb == 0.0), F.lit(0.0)).otherwise(
        dot_expr(a, b) / (na * nb)
    )


def cosine_from_ss(a: Column, b: Column, ssa: Column, ssb: Column) -> Column:
    """cosine_expr with the self-dots HOISTED: callers that join a row
    set against itself (within-cluster pair scoring) compute
    dot_expr(v, v) once per ROW and pass it here, so each PAIR costs one
    fold plus scalars instead of five (measured: the sf1 semdedup check
    entry was ~500 s of per-pair norm recompute, engine side). Bit-exact
    with cosine_expr: sqrt of the identical double, same guard (ss == 0
    iff sqrt(ss) == 0 for the non-negative self-dot), same single
    division."""
    return F.when((ssa == 0.0) | (ssb == 0.0), F.lit(0.0)).otherwise(
        dot_expr(a, b) / (F.sqrt(ssa) * F.sqrt(ssb))
    )


def normalize_expr(a: Column | str) -> Column:
    """Unit-normalize an array<float|double> column (zero vectors pass
    through unchanged, preserving the cosine(0, ·) = 0 contract).

    Normalize-once-score-many: at 100 TB the corpus is normalized at ingest
    so every subsequent similarity is a single dot product — N element-ops
    instead of 3 folds per scored pair.
    """
    a = to_double(a)
    n = norm_expr(a)
    return F.when(n == 0.0, a).otherwise(F.transform(a, lambda x: x / n))


def cosine_scores_batch(query_vec, emb_col: str = "embedding", out_col: str = "sim"):
    """Factory for a mapInPandas function that scores every row of each Arrow
    batch against `query_vec` with one BLAS matrix-vector product.

    This is the throughput path for wide embeddings / huge N: Python cost is
    amortized per-batch (thousands of rows), compute is C-speed GEMV —
    the distributed analogue of the reference's single vectorized
    cosine_similarity call (vervectordb/__init__.py:344).

    Usage:
        df.mapInPandas(cosine_scores_batch(q, schema_of(df) + sim double), ...)
    """
    import numpy as np

    q = np.asarray(query_vec, dtype=np.float64)
    qn = np.linalg.norm(q)

    def score(batches: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:  # noqa: F821
        import pandas as pd  # noqa: F401

        for pdf in batches:
            mat = np.asarray(pdf[emb_col].tolist(), dtype=np.float64)
            if len(mat) == 0:
                pdf[out_col] = []
                yield pdf
                continue
            norms = np.linalg.norm(mat, axis=1)
            denom = norms * qn
            with np.errstate(divide="ignore", invalid="ignore"):
                sims = np.where(denom == 0.0, 0.0, mat @ q / denom)
            pdf[out_col] = sims
            yield pdf

    return score
