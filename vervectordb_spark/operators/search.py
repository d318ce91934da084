"""Search operators: exact top-k, filtered search, batched multi-query top-k.

Reference surface (SURVEY.md §2.3):
  Q1 brute_force_search  (vervectordb/__init__.py:337-365)
  Q6 batch_search        (vervectordb/__init__.py:517-536)
  Q7 filtered_search     (vervectordb/__init__.py:538-554)
  Q8 post-filter         (vervectordb/__init__.py:348-363)

Spark-first translation:
  * score = cosine fold expression, parsed from one SQL string (JVM
    codegen, no UDF, ~1 driver round-trip instead of ~25 Column ops);
  * top-k  = orderBy(desc).limit(k) → Catalyst plans TakeOrderedAndProject:
    each partition keeps a k-heap, the driver merges k-per-partition — the
    distributed analogue of the reference's argsort (and it never
    materializes a global sort);
  * filters run BEFORE ranking (deviation D1, SURVEY.md §2.3): Catalyst
    pushes them into the parquet scan, so a selective filter *reduces* work
    instead of requiring the reference's 3×k over-fetch
    (vervectordb/__init__.py:345);
  * batch search is genuinely batched (the reference's batch_size is a
    no-op, vervectordb/__init__.py:524-534): queries become a broadcast
    side of a join and ranking is one window — N×Q scoring in one stage,
    no per-query jobs.

Scale notes (100 TB): the corpus never moves — scoring is a map-side
projection over the scan; only k rows per partition reach the driver. For
batch search the query set is broadcast (queries ≪ corpus always holds);
per-query ranking shuffles by query_id which is uniform by construction.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from vervectordb_spark.functions.identifiers import sql_ident
from vervectordb_spark.functions.similarity import (
    SS_COL,
    cosine_expr,
    cosine_sql,
    dot_sql,
    l2_sql,
    to_double_sql,
    vector_sql,
)


def brute_force_topk(
    df: DataFrame,
    query_vec: Sequence[float],
    top_k: int = 5,
    emb_col: str = "embedding",
    id_col: str = "vec_id",
    pre_filter: Column | None = None,
    extra_cols: Sequence[str] = (),
    metric: str = "cosine",
) -> DataFrame:
    """Exact top-k (reference Q1). Ties broken by id for determinism.

    `metric`: "cosine" (reference default) | "dot" (inner product — the
    MIPS form, right when corpus norms carry meaning) | "l2" (Euclidean,
    the PQ/FAISS METRIC_L2 twin — nearest first, so the `sim` column is a
    DISTANCE and ranks ascending). All three are fold expressions from
    functions/similarity, parsed from ONE SQL string — same scan, same
    plan shape. When `df` carries the row self-dot column (SS_COL, a
    serving frame's), cosine reads it instead of folding it again.

    Plan shape: Scan(pushed filter) → Project(sim expr) → TakeOrderedAndProject.
    """
    q = [float(v) for v in query_vec]
    if metric == "cosine":
        # read before the filter: a reused frame's schema is cached
        ss = SS_COL if SS_COL in df.columns else None
        score, order = cosine_sql(emb_col, q, ss_col=ss), F.desc("sim")
    elif metric == "dot":
        score = dot_sql(to_double_sql(sql_ident(emb_col)), vector_sql(q))
        order = F.desc("sim")
    elif metric == "l2":
        # asc_nulls_last: a NULL distance (NULL/ragged embedding) must not
        # outrank every real neighbor (asc default is NULLS FIRST; the
        # desc paths already put NULL sims last)
        score, order = l2_sql(emb_col, q), F.asc_nulls_last("sim")
    else:
        raise ValueError(f"unknown metric {metric!r}")
    if pre_filter is not None:
        df = df.filter(pre_filter)
    scored = df.selectExpr(sql_ident(id_col), *map(sql_ident, extra_cols),
                           f"{score} AS sim")
    return scored.orderBy(order, F.asc(id_col)).limit(top_k)


def keyword_filter(text_col: Column | str, keywords: Sequence[str]) -> Column:
    """Reference keyword semantics: case-insensitive substring containment,
    OR over keywords (vervectordb/__init__.py:540-544)."""
    text_col = F.col(text_col) if isinstance(text_col, str) else text_col
    lowered = F.lower(text_col)
    pred = F.lit(False)
    for kw in keywords:
        pred = pred | lowered.contains(kw.lower())
    return pred


def callable_predicate(fn, metadata_col: Column | str = "metadata") -> Column:
    """Port slot for the reference's arbitrary Python `metadata_filter`
    callable (vervectordb/__init__.py:538-546, used at
    examples/datawhale.py:125-134): `fn(meta: dict) -> bool` over the
    metadata map column, wrapped in an Arrow-batched pandas_udf (maps
    arrive as plain dicts; NULL metadata is passed as {} — the
    reference's meta.get() contract).

    THE PUSHDOWN CLIFF: a Python closure is opaque to Catalyst — this
    predicate cannot reach the parquet scan, prune partitions, or fold;
    it evaluates AFTER the scan reads every row. Prefer the Column form
    (`F.element_at(F.col("metadata"), "lang") == "en"`) whenever the
    predicate is expressible — same rows, scan-level pushdown."""
    import pandas as pd

    def _pred(meta):
        return meta.apply(lambda m: bool(fn(m if m is not None else {})))

    # real class annotations (not postponed strings — this module has
    # `from __future__ import annotations`, which pandas_udf's type-hint
    # resolver cannot evaluate against a locally-imported pandas)
    _pred.__annotations__ = {"meta": pd.Series, "return": pd.Series}
    udf = F.pandas_udf(_pred, "boolean")
    col = F.col(metadata_col) if isinstance(metadata_col, str) else metadata_col
    return udf(col)


def filtered_search(
    df: DataFrame,
    query_vec: Sequence[float],
    top_k: int = 5,
    keywords: Sequence[str] | None = None,
    metadata_filter: Column | None = None,
    text_col: str = "text",
    emb_col: str = "embedding",
    id_col: str = "vec_id",
    extra_cols: Sequence[str] = (),
    metadata_col: str = "metadata",
) -> DataFrame:
    """Reference Q7: keyword OR-match AND arbitrary predicate, then top-k.

    The reference composes a Python closure and post-filters ranked
    candidates (3×k over-fetch); here both predicates are column
    expressions pushed below the ranking — strictly better recall (D1) and
    scan-level pushdown. `metadata_filter` also accepts the reference's
    raw callable form (`fn(meta: dict) -> bool`), routed through
    `callable_predicate` over `metadata_col` — same rows as the Column
    twin, but opaque to Catalyst (no scan pushdown; the slow path).
    """
    pred = None
    if keywords:
        pred = keyword_filter(text_col, keywords)
    if metadata_filter is not None and not isinstance(metadata_filter, Column):
        if not callable(metadata_filter):
            raise TypeError(
                f"metadata_filter must be a Column or a callable, got "
                f"{type(metadata_filter).__name__}")
        metadata_filter = callable_predicate(metadata_filter, metadata_col)
    if metadata_filter is not None:
        pred = metadata_filter if pred is None else (pred & metadata_filter)
    return brute_force_topk(
        df, query_vec, top_k, emb_col=emb_col, id_col=id_col,
        pre_filter=pred, extra_cols=extra_cols,
    )


def range_search(
    df: DataFrame,
    query_vec: Sequence[float],
    threshold: float,
    emb_col: str = "embedding",
    id_col: str = "vec_id",
    extra_cols: Sequence[str] = (),
) -> DataFrame:
    """All rows with cosine >= threshold — the FAISS `range_search`
    counterpart (the reference exposes only top-k, vervectordb/
    __init__.py:337-365; radius queries are the standard companion).

    Plan shape: Scan → Project(sim) → Filter. Map-only — no top-k heap, no
    shuffle, no driver state. The result size is DATA-dependent, not
    k-bounded: at 100 TB a too-low threshold returns the corpus, so
    serving callers should compose `.limit(cap)` or aggregate downstream;
    unlike top-k this plan streams matches as the scan finds them."""
    scored = df.select(
        id_col, *extra_cols,
        cosine_expr(emb_col, list(query_vec)).alias("sim"),
    )
    return scored.filter(F.col("sim") >= float(threshold))


def prefix_topk(
    df: DataFrame,
    query_vec: Sequence[float],
    top_k: int = 5,
    prefix_dim: int = 16,
    rerank_factor: int = 3,
    emb_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Matryoshka (MRL) adaptive retrieval: candidates are scored by
    cosine over only the FIRST `prefix_dim` dimensions (Kusupati et al.,
    Matryoshka Representation Learning — MRL-trained embeddings
    front-load information, the serving trick behind OpenAI/Google
    dimension-truncatable embeddings), then the exact full-dimension
    cosine reranks the top rerank_factor*top_k. Candidate-scan compute
    drops ∝ prefix_dim/dim with NO auxiliary index or codec state at all
    — the prefix IS the coarse representation.

    On non-MRL embeddings (the fixtures) the prefix is an unbiased
    random-projection-like proxy — recall comes from the rerank pool,
    same contract as BQ/SQ8. prefix_dim >= dim degenerates to exact
    search (pytest-pinned).

    Plan shape: Scan → Project(slice fold) → TakeOrderedAndProject →
    broadcast-semi candidate join → exact rerank. Returns
    (id_col, prefix_sim, sim), top_k by (sim DESC, id ASC)."""
    q = list(query_vec)
    qp = q[:prefix_dim]
    cand = (
        df.select(id_col, F.slice(emb_col, 1, prefix_dim).alias("_pre"))
        .select(id_col, cosine_expr("_pre", qp).alias("prefix_sim"))
        .orderBy(F.desc("prefix_sim"), F.asc(id_col))
        .limit(rerank_factor * top_k)
    )
    return (
        df.join(cand, on=id_col)
        .select(id_col, "prefix_sim",
                cosine_expr(emb_col, q).alias("sim"))
        .orderBy(F.desc("sim"), F.asc(id_col))
        .limit(top_k)
    )


def topk_per_group(
    df: DataFrame,
    query_vec: Sequence[float],
    group_col: str,
    k_per_group: int = 2,
    emb_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Attribute-diversified retrieval: the best k PER GROUP (language,
    source, shard, ...) instead of a global top-k that one dense cluster
    can monopolize — the cheap, exact cousin of MMR (operators/rerank.py)
    when diversity is already captured by a column.

    Plan shape: map-side sim projection, then ONE window rank partitioned
    by the group — shuffle keyed on group_col only (skew follows group
    cardinality; salt via functions/skew.py if one group dominates)."""
    w = Window.partitionBy(group_col).orderBy(F.desc("sim"), F.asc(id_col))
    scored = df.select(
        group_col, id_col,
        cosine_expr(emb_col, list(query_vec)).alias("sim"),
    )
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= k_per_group)
    )


def filtered_search_auto(
    df: DataFrame,
    query_vec: Sequence[float],
    top_k: int = 5,
    pre_filter: Column | None = None,
    ivf_index=None,
    nprobe: int | None = None,
    brute_cutoff: float = 0.05,
    selectivity: float | None = None,
    emb_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Cost-based filtered search: pick the physical strategy from the
    filter's selectivity — the optimizer decision every vector DB with
    metadata filters makes (and the reference hard-codes as post-filter,
    vervectordb/__init__.py:348-363).

      selective filter (fraction <= brute_cutoff): exact brute force over
        the survivors — the filter already shrank the scan below any
        index's candidate set, probing would only lose recall;
      dense filter: IVF probe FIRST (cluster pruning does the heavy
        lifting) — `df` is semi-joined by id to the probed clusters'
        members, then the filter and exact rescore run on df's own rows
        and columns. The probe prunes df even when df is a view of the
        indexed corpus (tenant filter, join with metadata, post-delete);
        rows of df the index has never seen are dropped like any
        unprobed row — rebuild/refresh the index after bulk ingest.

    `selectivity` is the estimated surviving fraction. When None it is
    measured with ONE aggregate (count + conditional count in the same
    scan) — exact but a full predicate pass; at 100 TB hand in an
    estimate from column stats / a fixed-seed sample instead (the
    decision needs 1 significant digit, not exactness).

    The brute branch is exact; the probe branch inherits IVF recall on the
    filtered corpus (`nprobe=` widens it). Returns (id_col, sim)."""
    if pre_filter is None:
        return brute_force_topk(df, query_vec, top_k,
                                emb_col=emb_col, id_col=id_col)
    if selectivity is None:
        row = df.agg(
            F.count(F.lit(1)).alias("_n"),
            F.count(F.when(pre_filter, F.lit(1))).alias("_k"),
        ).first()
        selectivity = (row["_k"] / row["_n"]) if row["_n"] else 0.0
    if selectivity <= brute_cutoff:
        return brute_force_topk(df, query_vec, top_k, emb_col=emb_col,
                                id_col=id_col, pre_filter=pre_filter)
    if ivf_index is None:
        raise ValueError(
            f"filter keeps ~{selectivity:.0%} of rows (> brute_cutoff="
            f"{brute_cutoff:.0%}): the probe strategy needs ivf_index= "
            "(or raise brute_cutoff to force the exact scan)"
        )
    probed = ivf_index.probe_clusters(query_vec, nprobe)
    members = ivf_index.assigned.filter(
        F.col("cluster_id").isin(list(probed))
    ).select(F.col(ivf_index.id_col).alias(id_col))
    # left_semi: membership only — a duplicated id in the assigned table
    # must not duplicate df rows (and ranks) in the result
    return brute_force_topk(
        df.join(members, on=id_col, how="left_semi"), query_vec, top_k,
        emb_col=emb_col, id_col=id_col, pre_filter=pre_filter,
    )


def batch_topk(
    corpus: DataFrame,
    queries: DataFrame,
    top_k: int = 5,
    corpus_emb: str = "embedding",
    query_emb: str = "q_embedding",
    query_id: str = "query_id",
    id_col: str = "vec_id",
    kernel: str = "gemm",
    block_size: int | None = None,
) -> DataFrame:
    """Genuinely batched multi-query top-k (reference Q6, fixed — its
    batch_size arg never batches, vervectordb/__init__.py:524-534).
    Returns (query_id, vec_id, rank, sim).

    kernel="gemm" (default): broadcast-matrix BLAS scoring with per-batch
    candidate pruning — the throughput/scale path (operators/topk.py).
    kernel="fold": pure Catalyst crossJoin + fold expression — bit-exact
    with the DuckDB oracle contract; used by the correctness gate.
    """
    if kernel == "gemm":
        from vervectordb_spark.operators.topk import DEFAULT_QUERY_BLOCK, gemm_topk

        return gemm_topk(
            corpus, queries, top_k,
            corpus_emb=corpus_emb, query_emb=query_emb,
            query_id=query_id, id_col=id_col,
            block_size=block_size or DEFAULT_QUERY_BLOCK,
        )
    scored = corpus.crossJoin(F.broadcast(queries)).select(
        query_id,
        id_col,
        cosine_expr(corpus_emb, query_emb).alias("sim"),
    )
    w = Window.partitionBy(query_id).orderBy(F.desc("sim"), F.asc(id_col))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= top_k)
    )


def hard_negatives(
    corpus: DataFrame,
    queries: DataFrame,
    top_k: int = 5,
    dup_threshold: float = 0.95,
    corpus_emb: str = "embedding",
    query_emb: str = "q_embedding",
    query_id: str = "query_id",
    id_col: str = "vec_id",
    anchors_in_corpus: bool = True,
) -> DataFrame:
    """Hard-negative mining for contrastive training data: per query, the
    top_k MOST similar corpus rows that are NOT the anchor itself and NOT
    near-duplicates of it (sim >= dup_threshold is a positive/duplicate,
    excluded) — the highest-value negatives an embedding-model trainer
    can ask this store for. Returns (query_id, vec_id, rank, sim).

    anchors_in_corpus=True (default) means query ids LIVE IN the corpus
    id space (anchors are corpus rows), so the row whose id equals the
    query_id is excluded as the anchor itself. Pass False when mining
    for out-of-corpus query embeddings — otherwise corpus rows that
    merely share an id value with a query would be silently dropped.
    (For nonzero-norm anchors the exact self-row is excluded by the dup
    gate either way — its sim is 1.0 >= dup_threshold; a zero-norm anchor
    scores 0 against everything under the cosine zero-norm guard, so
    mining negatives for it is meaningless rather than wrong.)

    Shape: the bit-exact batch fold (broadcast query side, one corpus
    scan, per-query window rank). The dup gate is a pre-rank filter, so
    excluded rows never enter the window. For corpus-sized query sides
    ride the blocked-GEMM path (operators/topk.gemm_topk) with the same
    post-filter instead."""
    gate = F.col("sim") < dup_threshold
    if anchors_in_corpus:
        gate = gate & (F.col(id_col) != F.col(query_id))
    scored = corpus.crossJoin(F.broadcast(queries)).select(
        query_id, id_col,
        cosine_expr(corpus_emb, query_emb).alias("sim"),
    ).filter(gate)
    w = Window.partitionBy(query_id).orderBy(F.desc("sim"), F.asc(id_col))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= top_k)
    )


def knn_self_join(
    df: DataFrame,
    top_k: int = 3,
    emb_col: str = "embedding",
    id_col: str = "vec_id",
    kernel: str = "gemm",
    block_size: int | None = None,
) -> DataFrame:
    """Exact k-nearest-neighbors for EVERY row (similarity self-join) —
    the all-pairs primitive behind near-dup detection and 'related items'.
    Returns (src_id, dst_id, rank, sim).

    kernel="gemm" (default): one side broadcast as a matrix, BLAS scoring,
    pairs never materialized (38× faster than the fold at sf0.1 —
    measured 4.5s vs 171s on 4M pairs). The query side (here: the whole
    corpus) streams through the driver in bounded blocks
    (topk.DEFAULT_QUERY_BLOCK), one corpus scan per block — never one
    unbounded collect. Prune with IVF/LSH first (operators/ann.py) when
    block count grows — O(N²) must never materialize at 100 TB.
    kernel="fold": Catalyst pair join + fold cosine, bit-exact with the
    DuckDB oracle; normalize-once so each pair costs ONE fold, not three.
    """
    if kernel == "gemm":
        from vervectordb_spark.operators.topk import DEFAULT_QUERY_BLOCK, gemm_topk

        out = gemm_topk(
            corpus=df,
            queries=df.select(
                F.col(id_col).alias("query_id"), F.col(emb_col).alias("q_emb")
            ),
            top_k=top_k,
            corpus_emb=emb_col,
            query_emb="q_emb",
            id_col=id_col,
            exclude_self=True,
            block_size=block_size or DEFAULT_QUERY_BLOCK,
        )
        return out.select(
            F.col("query_id").alias("src_id"),
            F.col(id_col).alias("dst_id"),
            "rank",
            "sim",
        )
    from vervectordb_spark.functions.similarity import dot_expr, normalize_expr

    normed = df.select(
        F.col(id_col), normalize_expr(F.col(emb_col)).alias("_ne")
    )
    left = normed.select(F.col(id_col).alias("src_id"), F.col("_ne").alias("src_emb"))
    right = normed.select(F.col(id_col).alias("dst_id"), F.col("_ne").alias("dst_emb"))
    pairs = left.join(F.broadcast(right), F.col("src_id") != F.col("dst_id"))
    scored = pairs.select(
        "src_id",
        "dst_id",
        dot_expr(F.col("src_emb"), F.col("dst_emb")).alias("sim"),
    )
    w = Window.partitionBy("src_id").orderBy(F.desc("sim"), F.asc("dst_id"))
    return scored.withColumn("rank", F.row_number().over(w)).filter(
        F.col("rank") <= top_k
    )


def point_lookup(df: DataFrame, vec_id, id_col: str = "vec_id") -> DataFrame:
    """Reference P1 get_by_id (vervectordb/__init__.py:301-309): equality
    predicate pushed to the parquet scan (min/max + dictionary row-group
    skipping; at scale, a partition/bucket column makes this a pruned read).
    """
    return df.filter(F.col(id_col) == vec_id)
