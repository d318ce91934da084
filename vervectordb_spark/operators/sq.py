"""Scalar quantization codec (SQ8) — the second compression family next to
PQ (reference C1-C5, vervectordb/__init__.py:152-218).

The reference ships one codec (product quantization). Real vector stores
(FAISS ScalarQuantizer, Milvus SQ8, Lucene int8 HNSW) pair it with scalar
quantization: per-DIMENSION linear maps instead of per-SUBSPACE codebooks.

    scale[i] = (max[i] - min[i]) / 255
    code[i]  = clamp(floor((x[i] - min[i]) / scale[i] + 0.5), 0, 255)
    x̂[i]     = min[i] + code[i] * scale[i]

Trade-off vs PQ: 4x compression (float32 -> uint8) instead of 32x, but
training is ONE min/max aggregate over the corpus (no k-means), encode is
a pure element-wise expression (no argmin against a codebook tensor), and
reconstruction error is uniformly bounded: |x[i] - x̂[i]| <= scale[i]/2,
so quantized-domain scores track exact scores far more tightly than PQ at
the same speed class. The right default when the corpus fits 1/4 of raw.

Spark-first design:
  * fit: posexplode -> groupBy(pos).agg(min, max) — ONE shuffle whose
    width is `dim` keys (map-side partial aggregation reduces each task
    to dim rows), independent of corpus size. Stats live as a dim-row
    DataFrame (pos, mn, mx) — KB-sized, broadcastable, the same state
    class as IVF centroids.
  * encode/decode: pure Catalyst zip_with/transform expressions — stats
    ship as broadcast 1-row array columns via crossJoin (NOT inlined
    literals: a withColumn literal referenced by k conjuncts is
    duplicated k times by CollapseProject). An Arrow mapInPandas kernel
    (`encode_batches`) is the throughput path, pytest-pinned
    value-identical to the expression spec.
  * asymmetric search: the query stays full-precision; corpus scores are
    cosine(q, decode(code)) — reconstruction is a fold over the code
    column, never a materialized second copy of the corpus.

Numeric contract (bit-exact vs DuckDB): all arithmetic in double, in the
written order; floor(z + 0.5) is the rounding (both engines run identical
IEEE ops, so codes — and therefore reconstructions and scores — replay
exactly; `round()` half-even/half-up conventions differ across engines and
are avoided).

100 TB posture: fit is one bounded-width aggregate; encode is map-only;
the encoded table is scanned with codes only (pruned columns), reconstruct
+ score inside whole-stage codegen, TakeOrderedAndProject top-R, exact
rerank joins back to raw vectors by id for R rows only.
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from vervectordb_spark.functions.identifiers import sql_ident

N_LEVELS = 256  # uint8


def fit_sq_stats(df: DataFrame, emb_col: str = "embedding") -> DataFrame:
    """Per-dimension (pos, mn, mx) over the corpus — 0-based pos.

    One posexplode + groupBy(pos) aggregate: map-side partials reduce
    every task's contribution to `dim` rows before the exchange, so the
    shuffle is O(partitions x dim), not O(rows)."""
    return (
        df.select(F.posexplode(F.col(emb_col).cast("array<double>"))
                  .alias("pos", "_v"))
        .groupBy("pos")
        .agg(F.min("_v").alias("mn"), F.max("_v").alias("mx"))
    )


def fit_sq_stats_wide(df: DataFrame, emb_col: str, dim: int) -> DataFrame:
    """Generate-free fit_sq_stats: per-dimension (pos, mn, mx) as ONE
    aggregate of 2*dim min/max expressions over element_at(col, i),
    unpivoted to the dim-row shape AFTER the aggregate (the explode then
    runs on one dim-array row, not the corpus).

    Use this instead of fit_sq_stats whenever emb_col is a COMPUTED
    column (e.g. the HD rotation's chained butterfly projections):
    posexplode over a computed chain trips InferFiltersFromGenerate +
    PushPredicateThroughNonJoin into substituting the whole chain into an
    inferred size(...) > 0 predicate, which re-evaluates the chain per
    element (see operators/rotation._stage_expr). Same reduction shape as
    fit_sq_stats at scale: map-side partials reduce each task to 2*dim
    scalars before the exchange, and min/max see the same doubles, so the
    stats are bit-identical."""
    # parsed SQL strings, not per-dim Column calls: the Column form cost
    # ~1 s of py4j round-trips per invocation at dim=64 (identical trees)
    aggs = [
        F.expr(f"{fn}(cast(element_at({sql_ident(emb_col)}, {j + 1}) as double)) "
               f"as _{al}{j}")
        for j in range(dim) for fn, al in (("min", "mn"), ("max", "mx"))
    ]
    row = df.agg(*aggs)
    packed = F.expr("array(" + ", ".join(
        f"struct(cast({j} as int) as pos, _mn{j} as mn, _mx{j} as mx)"
        for j in range(dim)) + ")")
    return (row.select(F.explode(packed).alias("_s"))
            .select("_s.pos", "_s.mn", "_s.mx"))


#: widest fit that stays on the expr kernels — beyond this, ONE GroupBy
#: carrying 2*dim aggregate expressions stops fitting whole-stage codegen
#: (janino falls back / compile time blows up at dim 1024-4096, the real
#: embedding-model range), so auto-dispatch switches to the Arrow
#: partial-aggregation kernel
MAX_EXPR_FIT_DIM = 256


def fit_sq_stats_arrow(df: DataFrame, emb_col: str, dim: int) -> DataFrame:
    """Arrow partial-aggregation twin of fit_sq_stats_wide for production
    embedding dims: each PARTITION reduces to one dim-row (pos, mn, mx)
    frame inside a mapInPandas kernel (vectorized column-wise min/max —
    no 2*dim aggregate expressions for codegen to choke on at dim
    1024-4096), then a dim-key groupBy merges partition partials.
    Shuffle volume: O(partitions x dim) rows, same reduction shape as the
    expr fit.

    Bit-identical to fit_sq_stats_wide by construction — min/max over
    doubles is exact comparison, order-independent — pinned at dim=64 in
    tests/test_sq.py. Contract: NaN-free input (shared by every kernel
    in this module); NULL embeddings are excluded like the expr fit
    (min/max aggregates skip NULL rows)."""
    import pandas as pd

    src = (df.select(F.col(emb_col).cast("array<double>").alias("_e"))
           .filter(F.col("_e").isNotNull()))

    def part(batches: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        mn = np.full(dim, np.inf)
        mx = np.full(dim, -np.inf)
        seen = False
        for pdf in batches:
            if len(pdf) == 0:
                continue
            X = np.asarray(pdf["_e"].tolist(), dtype=np.float64)
            mn = np.minimum(mn, X.min(axis=0))
            mx = np.maximum(mx, X.max(axis=0))
            seen = True
        if seen:
            yield pd.DataFrame({"pos": np.arange(dim, dtype=np.int32),
                                "mn": mn, "mx": mx})

    partials = src.mapInPandas(part, "pos int, mn double, mx double")
    return partials.groupBy("pos").agg(F.min("mn").alias("mn"),
                                       F.max("mx").alias("mx"))


def fit_sq_stats_auto(df: DataFrame, emb_col: str, dim: int) -> DataFrame:
    """Dispatch: expr wide fit (oracle-replayable, whole-stage codegen)
    up to MAX_EXPR_FIT_DIM; Arrow partial-agg kernel beyond — the two are
    bit-identical, so callers never see the seam."""
    if dim <= MAX_EXPR_FIT_DIM:
        return fit_sq_stats_wide(df, emb_col, dim)
    return fit_sq_stats_arrow(df, emb_col, dim)


def stats_row(stats: DataFrame) -> DataFrame:
    """Fold the dim-row stats table into ONE row of (mns, mxs) arrays,
    ordered by pos — the broadcastable plan constant encode/decode
    crossJoin against."""
    return stats.agg(
        F.array_sort(F.collect_list(F.struct("pos", "mn", "mx"))).alias("_s")
    ).select(
        F.transform("_s", lambda s: s["mn"]).alias("mns"),
        F.transform("_s", lambda s: s["mx"]).alias("mxs"),
    )


def _scale(mn: Column, mx: Column) -> Column:
    return (mx - mn) / float(N_LEVELS - 1)


def encode_expr(emb: Column, mns: Column, mxs: Column) -> Column:
    """array<double|float> -> array<smallint> codes (0..255; smallint
    because Spark tinyint is signed). Degenerate dims encode as 0 and
    decode back to mn exactly — guarded on scale == 0, not mx == mn:
    a SUBNORMAL range (0 < mx-mn < ~1.3e-321) underflows the scale to
    exactly 0.0 while mx != mn, and dividing by it would send NaN/Inf
    through the clamp (hypothesis-found, tests/test_properties.py);
    with the scale-0 guard such dims degrade to the constant case and
    the half-step bound holds trivially (error <= the subnormal range)."""
    emb = emb.cast("array<double>")
    return F.zip_with(
        F.zip_with(emb, mns, lambda x, mn: F.struct(
            x.alias("x"), mn.alias("mn"))),
        mxs,
        lambda s, mx: F.when(
            _scale(s["mn"], mx) == 0.0, F.lit(0)
        ).otherwise(
            F.greatest(
                F.lit(0.0),
                F.least(
                    F.lit(float(N_LEVELS - 1)),
                    F.floor((s["x"] - s["mn"]) / _scale(s["mn"], mx) + 0.5)
                    .cast("double"),
                ),
            )
        ).cast("smallint"),
    )


def decode_expr(code: Column, mns: Column, mxs: Column) -> Column:
    """array<smallint> codes -> array<double> reconstruction."""
    return F.zip_with(
        F.zip_with(code, mns, lambda c, mn: F.struct(
            c.cast("double").alias("c"), mn.alias("mn"))),
        mxs,
        lambda s, mx: s["mn"] + s["c"] * _scale(s["mn"], mx),
    )


def with_codes(df: DataFrame, stats: DataFrame, emb_col: str = "embedding",
               out_col: str = "sq_code") -> DataFrame:
    """Append the SQ8 code column via a broadcast 1-row stats crossJoin.
    Map-only; the stats arrays ship once per task, not once per use site.

    If `out_col` already exists, rows with NULL codes — rows ingested
    AFTER a compress pass (mutations union with allowMissingColumns) —
    are encoded from their embeddings; non-NULL codes are kept as stored.
    Out-of-range values (the fitted min/max predates those rows) clamp to
    the range, the standard SQ behavior."""
    joined = df.crossJoin(F.broadcast(stats_row(stats)))
    enc = encode_expr(F.col(emb_col), F.col("mns"), F.col("mxs"))
    code = F.coalesce(F.col(out_col), enc) if out_col in df.columns else enc
    return joined.withColumn(out_col, code).drop("mns", "mxs")


def with_reconstruction(df: DataFrame, stats: DataFrame,
                        code_col: str = "sq_code",
                        out_col: str = "sq_recon") -> DataFrame:
    """Append the reconstructed array<double> from the code column."""
    return (
        df.crossJoin(F.broadcast(stats_row(stats)))
        .withColumn(out_col, decode_expr(F.col(code_col), F.col("mns"), F.col("mxs")))
        .drop("mns", "mxs")
    )


def adc_search(df: DataFrame, stats: DataFrame, query_vec,
               top_k: int = 5, rerank_factor: int = 3,
               emb_col: str = "embedding", id_col: str = "vec_id",
               code_col: str = "sq_code", scorer: str = "expr",
               rerank: DataFrame | None = None) -> DataFrame:
    """The ONE asymmetric SQ8 serving chain (store facade, oracle query,
    and bench all ride this — tie-break and over-fetch semantics live
    here, nowhere else): ensure codes (NULL codes from post-compress
    ingests are filled) → quantized-domain cosine → top
    rerank_factor*top_k by (score DESC, id ASC) → exact cosine rerank on
    raw vectors of those candidates only. Returns (id_col, sim), top_k.

    NULL-code fill needs the embeddings: when `df` carries `emb_col`,
    uncoded rows are encoded on the fly (searchable immediately). A
    codes-ONLY `df` (the persisted artifact) has nothing to encode from —
    NULL-code rows are dropped from the candidate scan (never scored as
    NULL, which would crash the arrow kernel / silently rank last); pass
    the raw-vector table as `df` instead if such rows must be searchable.

    scorer="expr": decode+cosine as Catalyst folds — bit-exact with the
    DuckDB oracle replay. scorer="arrow": the BLAS kernel (~10x on wide
    corpora; accumulation order differs from the fold by ~1e-15, which the
    exact rerank absorbs unless the over-fetch boundary lands on a
    near-tie — serving path, not the oracle path).

    `rerank` supplies raw vectors (id_col, emb_col) when `df` is a
    codes-only table (the persisted artifact); defaults to `df`."""
    from vervectordb_spark.functions.similarity import cosine_expr

    if emb_col in df.columns:
        coded = with_codes(df, stats, emb_col=emb_col, out_col=code_col)
    elif code_col in df.columns:
        coded = df.filter(F.col(code_col).isNotNull())
    else:
        raise ValueError(f"df needs {emb_col!r} or {code_col!r}")
    if scorer == "expr":
        scored = with_reconstruction(coded, stats, code_col=code_col) \
            .select(id_col, cosine_expr("sq_recon",
                                        list(query_vec)).alias("_sq"))
    elif scorer == "arrow":
        id_type = coded.schema[id_col].dataType.simpleString()
        scored = coded.select(id_col, code_col).mapInPandas(
            adc_scores_batch(query_vec, stats.toPandas(),
                             code_col=code_col, out_col="_sq"),
            schema=f"{id_col} {id_type}, {code_col} array<smallint>, _sq double",
        )
    else:
        raise ValueError(f"unknown scorer {scorer!r}")
    cand = (scored.orderBy(F.desc("_sq"), F.asc(id_col))
            .limit(rerank_factor * top_k).select(id_col))
    base = rerank if rerank is not None else df
    return (
        base.join(cand, on=id_col)
        .select(id_col,
                cosine_expr(emb_col, list(query_vec)).alias("sim"))
        .orderBy(F.desc("sim"), F.asc(id_col))
        .limit(top_k)
    )


def adc_scores_batch(query_vec, stats_pdf, code_col: str = "sq_code",
                     out_col: str = "sim"):
    """Arrow mapInPandas asymmetric scorer: reconstruct (mn + c*scale) and
    cosine against the full-precision query in one vectorized pass per
    batch — the throughput twin of decode_expr + cosine_expr (same math;
    BLAS accumulation order differs from the sequential fold, so parity is
    ~1e-15 np.allclose, not bit-exact — oracle queries stay on the expr
    path, serving uses this). Appends `out_col` to each batch."""
    import pandas as pd  # noqa: F401

    order = np.argsort(stats_pdf["pos"].to_numpy())
    mn = stats_pdf["mn"].to_numpy(dtype=np.float64)[order]
    mx = stats_pdf["mx"].to_numpy(dtype=np.float64)[order]
    scale = np.where(mx == mn, 0.0, (mx - mn) / float(N_LEVELS - 1))
    q = np.asarray(query_vec, dtype=np.float64)
    qn = np.linalg.norm(q)

    def score(batches: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:  # noqa: F821
        for pdf in batches:
            if len(pdf) == 0:
                pdf[out_col] = []
                yield pdf
                continue
            C = np.asarray(pdf[code_col].tolist(), dtype=np.float64)
            X = mn + C * scale
            norms = np.linalg.norm(X, axis=1)
            denom = norms * qn
            with np.errstate(divide="ignore", invalid="ignore"):
                sims = np.where(denom == 0.0, 0.0, X @ q / denom)
            pdf[out_col] = sims
            yield pdf

    return score


def encode_batches(stats_pdf, emb_col: str = "embedding",
                   out_col: str = "sq_code"):
    """Arrow mapInPandas twin of `encode_expr` — value-identical by
    construction (same double ops: subtract, divide, +0.5, floor, clamp;
    pytest-pinned in tests/test_sq.py). `stats_pdf` is the collected
    (pos, mn, mx) pandas frame — dim rows, centroid-class driver state.

    ~10x over the interpreted zip_with chain on wide corpora: higher-order
    array expressions are interpreted per element, the kernel does three
    vectorized ops per batch."""
    import pandas as pd  # noqa: F401

    order = np.argsort(stats_pdf["pos"].to_numpy())
    mn = stats_pdf["mn"].to_numpy(dtype=np.float64)[order]
    mx = stats_pdf["mx"].to_numpy(dtype=np.float64)[order]
    scale = (mx - mn) / float(N_LEVELS - 1)
    # scale == 0, not mx == mn: subnormal ranges underflow the scale
    # (see encode_expr) — value-identical guards for all normal inputs
    degenerate = scale == 0.0
    safe_scale = np.where(degenerate, 1.0, scale)

    def encode(batches: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:  # noqa: F821
        for pdf in batches:
            if len(pdf) == 0:
                pdf[out_col] = []
                yield pdf
                continue
            X = np.asarray(pdf[emb_col].tolist(), dtype=np.float64)
            z = np.floor((X - mn) / safe_scale + 0.5)
            z = np.clip(z, 0.0, float(N_LEVELS - 1))
            z[:, degenerate] = 0.0
            codes = z.astype(np.int16)
            pdf[out_col] = list(codes)
            yield pdf

    return encode
