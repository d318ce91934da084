"""Binary quantization (BQ) codec — the third compression family next to
PQ and SQ8 (reference codec surface C1-C5, vervectordb/__init__.py:152-218;
BQ itself is beyond the reference — the FAISS binary-index /
Milvus-BIN_FLAT / Weaviate-BQ counterpart).

One bit per dimension: bit[i] = (x[i] > thr[i]), packed into 60-bit words.
At dim=64/float32 that is 256 B -> 16 B per vector (16x; 32x vs float64),
and the Hamming scan is pure integer codegen — `bit_count(xor(a, b))`
summed over ceil(dim/60) BIGINT words — with no floats, no Python, and no
codebook state at all beyond the dim thresholds.

Threshold choice: per-dimension MIDRANGE (mn + mx) / 2 from the same
one-aggregate min/max fit as SQ8 (`sq.fit_sq_stats`). Midrange, not mean,
deliberately: min/max are ORDER-INDEPENDENT aggregates, so the DuckDB
oracle recomputes identical thresholds from the same corpus and the whole
fit -> encode -> Hamming-search chain replays bit-exactly with no frozen
inputs. A float mean is an order-dependent IEEE sum that need not agree
across engines; midrange also centers each dimension of the fixture's
near-uniform embeddings the same way the mean would.

Packing contract (shared by the expr kernel, the Arrow kernel, and the
DuckDB oracle): word w = SUM over j in [0, 60) of bit[60w + j] << j,
missing tail dims are 0. 60-bit words keep every value strictly positive
in both engines (no sign-bit edge cases in <<, xor, or bit_count), the
same envelope as the md5-60 hash family used throughout
(`functions/hashing.py`).

Hamming ranks CANDIDATES only (like PQ/SQ8 ADC): top
rerank_factor * top_k by (hamming ASC, id ASC), then an exact cosine
rerank on the raw vectors of those rows. sim_est = cos(pi * h / dim) is
monotone in h, so ordering by h is ordering by estimated cosine.

100 TB posture: fit is the SQ8 one-aggregate (shuffle width = dim keys,
corpus-size independent); encode is map-only; serving scans ceil(dim/60)
BIGINTs per row (1/16 of raw bytes) entirely inside whole-stage codegen,
TakeOrderedAndProject keeps per-partition heaps of R rows, and the exact
rerank touches raw vectors for R rows only. Driver state is `dim`
thresholds — the same KB-class as IVF centroids.
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from vervectordb_spark.operators.sq import fit_sq_stats, fit_sq_stats_auto

BITS_PER_WORD = 60


def n_words(dim: int) -> int:
    return (dim + BITS_PER_WORD - 1) // BITS_PER_WORD


def fit_bq_thresholds(df: DataFrame, emb_col: str = "embedding",
                      dim: int | None = None) -> DataFrame:
    """Per-dimension (pos, thr) with thr = midrange — ONE min/max
    aggregate, order-independent and therefore oracle-replayable.

    Pass dim when emb_col is a COMPUTED column (e.g. the HD rotation):
    that routes through the Generate-free fit (sq.fit_sq_stats_auto —
    the 2*dim-expr wide fit up to dim 256, the Arrow partial-agg kernel
    beyond, bit-identical either way) instead of the posexplode fit,
    dodging the InferFiltersFromGenerate chain-substitution blowup."""
    stats = (fit_sq_stats_auto(df, emb_col, dim) if dim is not None
             else fit_sq_stats(df, emb_col))
    return stats.select(
        "pos", ((F.col("mn") + F.col("mx")) / 2.0).alias("thr")
    )


def thresholds_row(thresholds: DataFrame) -> DataFrame:
    """Fold the dim-row threshold table into ONE (thrs array) row — the
    broadcastable plan constant encode crossJoins against."""
    return thresholds.agg(
        F.array_sort(F.collect_list(F.struct("pos", "thr"))).alias("_s")
    ).select(F.transform("_s", lambda s: s["thr"]).alias("thrs"))


def encode_expr(emb: Column, thrs: Column, dim: int) -> Column:
    """array<float|double> -> array<bigint> of ceil(dim/60) packed words.

    bits = (x > thr) as 0/1 longs; each word folds its 60-slice with a
    (word, p) struct accumulator where p is the current power-of-two
    multiplier (exact BIGINT arithmetic below 2^60; Spark's shiftleft
    only takes a literal shift, and b*p == b<<shift here) — bit positions
    are disjoint so + and OR coincide, and the DuckDB oracle replays the
    pack as SUM(b << (pos % 60))."""
    bits = F.zip_with(
        emb.cast("array<double>"), thrs,
        lambda x, t: F.when(x > t, F.lit(1).cast("bigint"))
        .otherwise(F.lit(0).cast("bigint")),
    )
    words = []
    for w in range(n_words(dim)):
        chunk = F.slice(bits, w * BITS_PER_WORD + 1, BITS_PER_WORD)
        packed = F.aggregate(
            chunk,
            F.struct(F.lit(0).cast("bigint").alias("word"),
                     F.lit(1).cast("bigint").alias("p")),
            lambda acc, b: F.struct(
                (acc["word"] + b * acc["p"]).alias("word"),
                (acc["p"] * F.lit(2).cast("bigint")).alias("p"),
            ),
            lambda acc: acc["word"],
        )
        words.append(packed)
    return F.array(*words)


def with_codes(df: DataFrame, thresholds: DataFrame, dim: int,
               emb_col: str = "embedding", out_col: str = "bq_code") -> DataFrame:
    """Append the packed-word code column via a broadcast 1-row threshold
    crossJoin. Map-only. Rows ingested AFTER a compress pass (NULL codes
    from allowMissingColumns unions) are encoded from their embeddings;
    stored codes are kept as-is."""
    joined = df.crossJoin(F.broadcast(thresholds_row(thresholds)))
    enc = encode_expr(F.col(emb_col), F.col("thrs"), dim)
    code = F.coalesce(F.col(out_col), enc) if out_col in df.columns else enc
    return joined.withColumn(out_col, code).drop("thrs")


def hamming_words_expr(a: Column, b: Column) -> Column:
    """Hamming distance between two packed-word arrays: sum of
    bit_count(xor) per word — pure integer codegen."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: F.bit_count(x.bitwiseXOR(y))
                   .cast("bigint")),
        F.lit(0).cast("bigint"),
        lambda acc, h: acc + h,
    )


def encode_query(query_vec, thresholds_pdf) -> list[int]:
    """Driver-side pack of ONE query vector against the collected
    (pos, thr) frame — same contract as encode_expr (strict >, 60-bit
    words), NumPy-exact because thresholding is a comparison, not
    arithmetic."""
    order = np.argsort(thresholds_pdf["pos"].to_numpy())
    thr = thresholds_pdf["thr"].to_numpy(dtype=np.float64)[order]
    q = np.asarray(query_vec, dtype=np.float64)
    bits = (q > thr).astype(np.int64)
    out = []
    for w in range(n_words(len(thr))):
        chunk = bits[w * BITS_PER_WORD:(w + 1) * BITS_PER_WORD]
        out.append(int((chunk << np.arange(len(chunk), dtype=np.int64)).sum()))
    return out


def _require_rerank_vectors(rerank, emb_col: str, code_col: str) -> None:
    """Codes-only corpus needs raw vectors for the exact-rerank stage —
    fail NOW with the module's contract message, not later with an opaque
    unresolved-column AnalysisException from cosine_expr (ADVICE r5)."""
    if rerank is None:
        raise ValueError(
            f"df has {code_col!r} but no embedding column: pass the "
            f"raw-vector table as rerank= so the exact stage can score"
        )
    if emb_col not in rerank.columns:
        raise ValueError(f"rerank is missing {emb_col!r}")


def hamming_search(df: DataFrame, thresholds: DataFrame, query_vec,
                   top_k: int = 5, rerank_factor: int = 3,
                   emb_col: str = "embedding", id_col: str = "vec_id",
                   code_col: str = "bq_code",
                   rerank: DataFrame | None = None) -> DataFrame:
    """The ONE BQ serving chain (store facade, oracle query, and bench all
    ride this): ensure codes → Hamming scan against the packed query →
    top rerank_factor*top_k by (hamming ASC, id ASC) → exact cosine
    rerank on raw vectors of those candidates only. Returns
    (id_col, hamming, sim), top_k by (sim DESC, id ASC).

    A codes-ONLY `df` (the persisted artifact) drops NULL-code rows from
    the candidate scan; pass the raw-vector table as `rerank` so the
    exact stage still sees embeddings (mirrors sq.adc_search)."""
    from vervectordb_spark.functions.similarity import cosine_expr

    thr_pdf = thresholds.toPandas()
    dim = len(thr_pdf)
    if emb_col in df.columns:
        coded = with_codes(df, thresholds, dim, emb_col=emb_col,
                           out_col=code_col)
    elif code_col in df.columns:
        _require_rerank_vectors(rerank, emb_col, code_col)
        coded = df.filter(F.col(code_col).isNotNull())
    else:
        raise ValueError(f"df needs {emb_col!r} or {code_col!r}")
    qwords = encode_query(query_vec, thr_pdf)
    qcol = F.array(*[F.lit(w).cast("bigint") for w in qwords])
    cand = (
        coded.select(
            id_col,
            hamming_words_expr(F.col(code_col), qcol).alias("hamming"),
        )
        .orderBy(F.asc("hamming"), F.asc(id_col))
        .limit(rerank_factor * top_k)
    )
    base = rerank if rerank is not None else df
    return (
        base.join(cand, on=id_col)
        .select(id_col, "hamming",
                cosine_expr(emb_col, list(query_vec)).alias("sim"))
        .orderBy(F.desc("sim"), F.asc(id_col))
        .limit(top_k)
    )


def batch_hamming_search(df: DataFrame, thresholds: DataFrame,
                         queries: DataFrame, top_k: int = 5,
                         rerank_factor: int = 3,
                         emb_col: str = "embedding", id_col: str = "vec_id",
                         query_id_col: str = "query_id",
                         q_emb_col: str = "q_embedding",
                         code_col: str = "bq_code",
                         rerank: DataFrame | None = None,
                         max_queries: int = 65536,
                         q_pretransform=None) -> DataFrame:
    """Genuinely batched BQ serving: ONE job for all queries. The query
    side is collected under the house 64k guard (the ivf.py:176-189
    contract — a corpus-sized query side belongs in knn_self_join, not
    here), packed driver-side, and broadcast as (query_id, q_code,
    q_emb) rows; the corpus code table is scanned ONCE with the Hamming
    fold against every query's words, per-query top-R via a
    query_id-partitioned window rank (never a global window), and the
    exact cosine rerank touches raw vectors for R rows per query only.

    Returns (query_id_col, id_col, hamming, sim), top_k per query,
    ordered (sim DESC, id ASC) within each query — row-for-row the
    per-query `hamming_search` results (batch-vs-single parity pinned in
    tests/test_bq.py).

    q_pretransform (driver-side vec -> vec, e.g. the HD rotation) is
    applied to each query BEFORE packing against `thresholds` — for
    codecs fit in a transformed coordinate system — while the exact
    rerank still scores the RAW query embedding (the transform is
    metric-preserving by contract, rotation.py)."""
    from pyspark.sql import Window

    from vervectordb_spark.functions.similarity import cosine_expr

    rows = queries.select(query_id_col, q_emb_col).limit(max_queries + 1).collect()
    if len(rows) > max_queries:
        raise ValueError(
            f"batch_hamming_search collects the query side to the driver; "
            f"got more than max_queries={max_queries} rows — for a "
            f"corpus-sized query side use the self-join/dedup operators"
        )
    thr_pdf = thresholds.toPandas()
    dim = len(thr_pdf)
    if emb_col in df.columns:
        coded = with_codes(df, thresholds, dim, emb_col=emb_col,
                           out_col=code_col)
    elif code_col in df.columns:
        _require_rerank_vectors(rerank, emb_col, code_col)
        coded = df.filter(F.col(code_col).isNotNull())
    else:
        raise ValueError(f"df needs {emb_col!r} or {code_col!r}")
    spark = df.sparkSession
    qid_type = queries.schema[query_id_col].dataType.simpleString()
    qdf = spark.createDataFrame(
        [(r[query_id_col],
          encode_query(
              q_pretransform([float(v) for v in r[q_emb_col]])
              if q_pretransform is not None
              else [float(v) for v in r[q_emb_col]], thr_pdf),
          [float(v) for v in r[q_emb_col]]) for r in rows],
        f"{query_id_col} {qid_type}, _q_code array<bigint>, "
        f"_q_emb array<double>",
    )
    scored = coded.join(F.broadcast(qdf)).select(
        query_id_col, id_col, "_q_emb",
        hamming_words_expr(F.col(code_col), F.col("_q_code"))
        .alias("hamming"),
    )
    wc = Window.partitionBy(query_id_col).orderBy(F.asc("hamming"),
                                                 F.asc(id_col))
    cand = (
        scored.withColumn("_rk", F.row_number().over(wc))
        .filter(F.col("_rk") <= rerank_factor * top_k)
        .select(query_id_col, id_col, "_q_emb", "hamming")
    )
    base = rerank if rerank is not None else df
    rescored = cand.join(base.select(id_col, emb_col), on=id_col).select(
        query_id_col, id_col, "hamming",
        cosine_expr(emb_col, "_q_emb").alias("sim"),
    )
    wf = Window.partitionBy(query_id_col).orderBy(F.desc("sim"),
                                                 F.asc(id_col))
    return (
        rescored.withColumn("_rk", F.row_number().over(wf))
        .filter(F.col("_rk") <= top_k)
        .drop("_rk")
        .orderBy(query_id_col, F.desc("sim"), F.asc(id_col))
    )


def encode_batches(thresholds_pdf, dim: int, emb_col: str = "embedding",
                   out_col: str = "bq_code"):
    """Arrow mapInPandas twin of `encode_expr` — bit-identical by
    construction (thresholding is a comparison; packing is exact integer
    arithmetic; pytest-pinned in tests/test_bq.py). `thresholds_pdf` is
    the collected (pos, thr) frame — dim rows of driver state.

    One vectorized compare + one matmul against the power-of-two column
    per 60-word — the throughput path for bulk encode."""
    import pandas as pd  # noqa: F401

    order = np.argsort(thresholds_pdf["pos"].to_numpy())
    thr = thresholds_pdf["thr"].to_numpy(dtype=np.float64)[order]
    pows = np.arange(BITS_PER_WORD, dtype=np.int64)

    def encode(batches: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:  # noqa: F821
        for pdf in batches:
            if len(pdf) == 0:
                pdf[out_col] = []
                yield pdf
                continue
            X = np.asarray(pdf[emb_col].tolist(), dtype=np.float64)
            bits = (X > thr).astype(np.int64)
            words = []
            for w in range(n_words(dim)):
                chunk = bits[:, w * BITS_PER_WORD:(w + 1) * BITS_PER_WORD]
                words.append(chunk @ (np.int64(1) << pows[: chunk.shape[1]]))
            codes = np.stack(words, axis=1)
            pdf[out_col] = list(codes)
            yield pdf

    return encode
