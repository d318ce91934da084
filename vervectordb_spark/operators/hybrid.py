"""Hybrid keyword + vector search with reciprocal-rank fusion.

The reference is a pure vector store whose only text facility is the
case-insensitive keyword substring filter (`/root/reference/vervectordb/
__init__.py:540-544`). Real retrieval over a large corpus fuses BOTH
signals: a lexical score (term frequency / BM25 over the text column) and
a dense score (cosine over the embedding column), combined by reciprocal
rank fusion — RRF(d) = Σ_modalities 1/(k + rank_m(d)) (Cormack &
Clarke-Buettcher, SIGIR'09), the standard score-free fusion because it
needs no cross-modality score calibration.

Scale shape: each modality produces its top-R candidates with a
TakeOrderedAndProject (no global sort, no global window over the corpus);
ranking then happens on the two ≤R-row candidate sets — the only window
functions run on bounded constants, never on corpus-sized input. The
lexical scorer is a map-only column expression (no explode, no shuffle);
BM25's corpus stats (N, avgdl, per-term df) arrive via a broadcast 1-row
aggregate, house style.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from vervectordb_spark.functions.similarity import cosine_expr
from vervectordb_spark.operators.dedup import tokens_expr


def _eq_term(term: str):
    """Single-arg lambda factory for F.filter — a 2-arg lambda would be
    interpreted as (element, index) by the higher-order function."""
    lit = F.lit(term)
    return lambda x: x == lit


def term_tf_expr(text_col: Column | str, terms: Sequence[str]) -> Column:
    """Total term frequency of `terms` in the token list — an INTEGER
    lexical score, map-only (array filter per term, no explode/shuffle).
    Integer on purpose: it is bit-exact replayable on any SQL engine,
    unlike float BM25 whose log() differs across libm implementations."""
    toks = tokens_expr(text_col)
    score: Column | None = None
    for t in terms:
        c = F.size(F.filter(toks, _eq_term(t.lower())))
        score = c if score is None else score + c
    if score is None:
        return F.lit(0)
    return score


def keyword_topk(
    df: DataFrame,
    terms: Sequence[str],
    top_k: int = 50,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Top-R docs by total query-term frequency (ties by id). Plan:
    Scan → map-only tf expression → TakeOrderedAndProject."""
    scored = df.select(
        id_col, term_tf_expr(text_col, terms).cast("long").alias("kw_score")
    ).filter(F.col("kw_score") > 0)
    return scored.orderBy(F.desc("kw_score"), F.asc(id_col)).limit(top_k)


def bm25_topk(
    df: DataFrame,
    terms: Sequence[str],
    top_k: int = 50,
    k1: float = 1.2,
    b: float = 0.75,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Okapi BM25 top-R:

        score(d) = Σ_t idf(t) · tf_t·(k1+1) / (tf_t + k1·(1−b+b·|d|/avgdl))
        idf(t)   = ln( (N − df_t + 0.5) / (df_t + 0.5) + 1 )

    Corpus stats (N, avgdl, one df per term) are ONE 1-row aggregate over
    the corpus, broadcast-crossJoined back — at 100 TB that is a partial-
    aggregated scan plus a KB broadcast, not a join. Per-doc scoring is
    then a map-only expression; top-R via TakeOrderedAndProject.

    Float caveat: ln() is not bit-portable across engines, so BM25 is
    validated by pytest against an independent NumPy computation rather
    than by the DuckDB hash gate (the oracle-gated hybrid query uses the
    integer `term_tf_expr` scorer instead)."""
    toks = tokens_expr(text_col)
    dl = F.size(toks).alias("_dl")
    tf_cols = [
        F.size(F.filter(toks, _eq_term(t.lower()))).alias(f"_tf_{i}")
        for i, t in enumerate(terms)
    ]
    base = df.select(id_col, dl, *tf_cols)
    stats = base.agg(
        F.count("*").alias("_n"),
        F.avg("_dl").alias("_avgdl"),
        *[
            F.sum((F.col(f"_tf_{i}") > 0).cast("long")).alias(f"_df_{i}")
            for i in range(len(terms))
        ],
    )
    scored = base.crossJoin(F.broadcast(stats))
    n, avgdl = F.col("_n"), F.col("_avgdl")
    score: Column = F.lit(0.0)
    for i in range(len(terms)):
        tf = F.col(f"_tf_{i}").cast("double")
        dfc = F.col(f"_df_{i}").cast("double")
        idf = F.log((n - dfc + 0.5) / (dfc + 0.5) + 1.0)
        denom = tf + k1 * (1.0 - b + b * F.col("_dl") / avgdl)
        score = score + idf * (tf * (k1 + 1.0)) / denom
    out = scored.select(id_col, score.alias("bm25"))
    return (
        out.filter(F.col("bm25") > 0.0)
        .orderBy(F.desc("bm25"), F.asc(id_col))
        .limit(top_k)
    )


def _rank_bounded(df: DataFrame, order: list[Column], rank_name: str) -> DataFrame:
    """row_number over an explicitly BOUNDED candidate set (≤ top-R rows —
    the callers produce it via TakeOrderedAndProject). The single-partition
    window is fine here precisely because the input is a constant-sized
    candidate list, never the corpus."""
    w = Window.orderBy(*order)
    return df.withColumn(rank_name, F.row_number().over(w).cast("long"))


def rrf_fuse(
    kw_top: DataFrame,
    vec_top: DataFrame,
    rrf_k: int = 60,
    top_k: int = 10,
    id_col: str = "doc_id",
    vec_id_col: str = "vec_id",
) -> DataFrame:
    """Fuse the two ranked candidate lists: full outer join on id, then
    RRF(d) = 1/(k+kw_rank) + 1/(k+vec_rank), absent modality contributing
    0. Missing ranks surface as -1 sentinels and a missing dense score
    as -2.0 (outside cosine's [-1, 1] range — a -1.0 sentinel collided
    with a legitimate antipodal similarity), not NULL, so the
    result is engine-portable without nullable-int coercion drift.

    The float arithmetic is two IEEE divisions and one addition in a fixed
    order — bit-exact replayable, which keeps the whole hybrid pipeline
    inside the DuckDB hash gate."""
    kw_ranked = _rank_bounded(
        kw_top, [F.desc("kw_score"), F.asc(id_col)], "kw_rank"
    )
    vec_ranked = _rank_bounded(
        vec_top, [F.desc("sim"), F.asc(vec_id_col)], "vec_rank"
    ).withColumnRenamed(vec_id_col, "_vid")
    fused = kw_ranked.join(
        vec_ranked, kw_ranked[id_col] == F.col("_vid"), "full_outer"
    )
    one = F.lit(1.0)
    rrf = (
        F.coalesce(one / (F.lit(rrf_k) + F.col("kw_rank")), F.lit(0.0))
        + F.coalesce(one / (F.lit(rrf_k) + F.col("vec_rank")), F.lit(0.0))
    )
    return (
        fused.select(
            F.coalesce(F.col(id_col), F.col("_vid")).alias(id_col),
            F.coalesce(F.col("kw_score"), F.lit(-1).cast("long")).alias("kw_score"),
            F.coalesce(F.col("kw_rank"), F.lit(-1).cast("long")).alias("kw_rank"),
            F.coalesce(F.round("sim", 6), F.lit(-2.0)).alias("sim"),
            F.coalesce(F.col("vec_rank"), F.lit(-1).cast("long")).alias("vec_rank"),
            rrf.alias("rrf_score"),
        )
        .orderBy(F.desc("rrf_score"), F.asc(id_col))
        .limit(top_k)
    )


def hybrid_search(
    docs: DataFrame,
    emb: DataFrame,
    terms: Sequence[str],
    query_vec: Sequence[float],
    n_candidates: int = 50,
    top_k: int = 10,
    rrf_k: int = 60,
    text_col: str = "text",
    doc_id_col: str = "doc_id",
    emb_col: str = "embedding",
    vec_id_col: str = "vec_id",
) -> DataFrame:
    """End-to-end hybrid retrieval: lexical top-R (integer tf scorer) +
    dense top-R (exact cosine), fused by RRF. Each side is one bounded
    TakeOrderedAndProject over its scan; fusion touches 2·R rows."""
    kw_top = keyword_topk(
        docs, terms, top_k=n_candidates, text_col=text_col, id_col=doc_id_col
    )
    vec_scored = emb.select(
        vec_id_col, cosine_expr(emb_col, list(query_vec)).alias("sim")
    )
    vec_top = vec_scored.orderBy(F.desc("sim"), F.asc(vec_id_col)).limit(
        n_candidates
    )
    return rrf_fuse(
        kw_top, vec_top, rrf_k=rrf_k, top_k=top_k,
        id_col=doc_id_col, vec_id_col=vec_id_col,
    )


# ---------------------------------------------------------------------------
# batched hybrid: Q queries, per-query term lists, ONE job
# ---------------------------------------------------------------------------

def keyword_topk_batch(
    docs: DataFrame,
    term_table: DataFrame,
    top_k: int = 50,
    text_col: str = "text",
    id_col: str = "doc_id",
    query_id: str = "query_id",
) -> DataFrame:
    """Per-query lexical top-R for MANY queries in one pass. `term_table`
    is the tiny (query_id, term) relation (API argument — broadcast).
    Shape: map-side token explode → broadcast join prunes to query-term
    hits immediately (non-matching tokens never shuffle) → ONE
    (query, doc) count shuffle → per-query rank window. Returns
    (query_id, doc_id, kw_score, kw_rank) with kw_rank ≤ top_k."""
    tok = docs.select(
        F.col(id_col), F.explode(tokens_expr(text_col)).alias("_term")
    )
    terms = term_table.select(
        # tokens are lower-cased (tokens_expr); terms must match — the
        # single-query path lowercases, so user-cased batch terms were
        # silently matching nothing
        F.col(query_id), F.lower(F.col("term")).alias("_term")
    )
    hits = tok.join(F.broadcast(terms), on="_term")
    kw = hits.groupBy(query_id, id_col).agg(
        F.count("*").cast("long").alias("kw_score")
    )
    w = Window.partitionBy(query_id).orderBy(F.desc("kw_score"), F.asc(id_col))
    return (
        kw.withColumn("kw_rank", F.row_number().over(w).cast("long"))
        .filter(F.col("kw_rank") <= top_k)
    )


def hybrid_search_batch(
    docs: DataFrame,
    emb: DataFrame,
    term_table: DataFrame,
    queries: DataFrame,
    n_candidates: int = 50,
    top_k: int = 10,
    rrf_k: int = 60,
    kernel: str = "gemm",
    text_col: str = "text",
    doc_id_col: str = "doc_id",
    emb_col: str = "embedding",
    vec_id_col: str = "vec_id",
    query_id: str = "query_id",
    query_emb: str = "q_embedding",
) -> DataFrame:
    """Many-query hybrid retrieval in ONE plan: batched lexical top-R
    (keyword_topk_batch), batched dense top-R (search.batch_topk — GEMM
    kernel by default, kernel="fold" for the bit-exact oracle path), RRF
    fusion, per-query final rank. All windows partition by query_id over
    ≤2R candidate rows per query — nothing corpus-sized is sorted.
    Returns (query_id, doc_id, kw_score, kw_rank, sim, vec_rank,
    rrf_score, rank)."""
    from vervectordb_spark.operators.search import batch_topk

    kw = keyword_topk_batch(
        docs, term_table, top_k=n_candidates, text_col=text_col,
        id_col=doc_id_col, query_id=query_id,
    ).withColumnRenamed(query_id, "_kq")
    vec = batch_topk(
        emb, queries, top_k=n_candidates, corpus_emb=emb_col,
        query_emb=query_emb, query_id=query_id, id_col=vec_id_col,
        kernel=kernel,
    ).select(
        F.col(query_id).alias("_vq"),
        F.col(vec_id_col).alias("_vid"),
        F.col("rank").cast("long").alias("vec_rank"),
        "sim",
    )
    fused = kw.join(
        vec,
        (F.col("_kq") == F.col("_vq")) & (kw[doc_id_col] == F.col("_vid")),
        "full_outer",
    )
    one = F.lit(1.0)
    rrf = (
        F.coalesce(one / (F.lit(rrf_k) + F.col("kw_rank")), F.lit(0.0))
        + F.coalesce(one / (F.lit(rrf_k) + F.col("vec_rank")), F.lit(0.0))
    )
    out = fused.select(
        F.coalesce(F.col("_kq"), F.col("_vq")).alias(query_id),
        F.coalesce(F.col(doc_id_col), F.col("_vid")).alias(doc_id_col),
        F.coalesce(F.col("kw_score"), F.lit(-1).cast("long")).alias("kw_score"),
        F.coalesce(F.col("kw_rank"), F.lit(-1).cast("long")).alias("kw_rank"),
        F.coalesce(F.round("sim", 6), F.lit(-2.0)).alias("sim"),
        F.coalesce(F.col("vec_rank"), F.lit(-1).cast("long")).alias("vec_rank"),
        rrf.alias("rrf_score"),
    )
    w = Window.partitionBy(query_id).orderBy(
        F.desc("rrf_score"), F.asc(doc_id_col)
    )
    return (
        out.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= top_k)
    )


# ---------------------------------------------------------------------------
# cross-encoder rerank tier (model slot — env-guarded, like
# embed.model_embedding and multimodal's real codecs)
# ---------------------------------------------------------------------------

def rerank_cross_encoder(
    candidates: DataFrame,
    query_text: str,
    model_name: str = "cross-encoder/ms-marco-MiniLM-L-6-v2",
    text_col: str = "text",
    id_col: str = "doc_id",
    top_k: int = 10,
    batch_size: int = 64,
) -> DataFrame:
    """Final-stage rerank of a BOUNDED candidate set with a cross-encoder
    (query, doc) relevance model — the production tier above RRF fusion.
    One batched forward pass per Arrow batch via mapInPandas; candidates
    are the ≤2R fused rows, so the model cost is R·queries, never corpus-
    sized. Raises NotImplementedError when the model stack is absent
    (this container); `rerank_scored` below is the deterministic fake
    with the identical batch/schema contract, used by tests."""
    try:
        import sentence_transformers  # noqa: F401
    except ImportError as e:
        raise NotImplementedError(
            "sentence-transformers not available in this environment; "
            "use rerank_scored (deterministic fake) or RRF order"
        ) from e

    out_schema = f"{id_col} long, ce_score double"

    def score(batches):  # pragma: no cover - needs the model stack
        import pandas as pd
        from sentence_transformers import CrossEncoder

        model = CrossEncoder(model_name)
        for pdf in batches:
            pairs = [(query_text, t) for t in pdf[text_col]]
            s = model.predict(pairs, batch_size=batch_size)
            yield pd.DataFrame({id_col: pdf[id_col].to_numpy(),
                                "ce_score": s})

    scored = candidates.select(id_col, text_col).mapInPandas(score, out_schema)
    return scored.orderBy(F.desc("ce_score"), F.asc(id_col)).limit(top_k)


def load_ce_weights(model_dir: str | None = None) -> dict:
    """The vendored trained cross-encoder weights (tools/
    train_tiny_cross_encoder.py): integer numerators over 2^shift — the
    exactly-representable form both engines reconstruct identically."""
    import json
    import os

    d = model_dir or os.path.abspath(os.path.join(
        os.path.dirname(__file__), "..", "..", "models",
        "tiny_cross_encoder"))
    with open(os.path.join(d, "weights.json")) as f:
        return json.load(f)


def rerank_checkpoint_ce(
    candidates: DataFrame,
    query_text: str,
    model_dir: str | None = None,
    text_col: str = "text",
    id_col: str = "doc_id",
    top_k: int = 10,
) -> DataFrame:
    """The REAL (offline-trained) cross-encoder tier: score each
    (query, candidate) pair jointly with the vendored pairwise logistic
    model — checkpoint-embedding cosine + distinct-term overlap +
    tf density + brevity prior, combined by the trained weights — and
    rank by the LINEAR LOGIT (monotone in the sigmoid; fixed-order
    multiply-adds of n/2^20 weights, so the score replays bit-exact on
    any engine — hash-gated by queries_hybrid.hybrid_ce_rerank). Same
    bounded-candidates contract as rerank_cross_encoder/rerank_scored:
    the model cost is |candidates|, never corpus-sized. Returns
    (id, ce_score) top-k, score rounded to 6dp."""
    from vervectordb_spark.functions.similarity import cosine_expr
    from vervectordb_spark.operators.embed import (
        checkpoint_embed_text, checkpoint_embedding)

    wj = load_ce_weights(model_dir)
    denom = float(1 << int(wj["denom_shift"]))
    w = [n / denom for n in wj["w_num"]]
    bias = wj["b_num"] / denom
    from vervectordb_spark.functions.words import ws_tokens_py

    qv = [float(x) for x in checkpoint_embed_text(query_text)]
    qterms = list(dict.fromkeys(ws_tokens_py(query_text)))
    if not qterms:
        raise ValueError(
            "rerank_checkpoint_ce: query_text has no tokens under the "
            "pinned whitespace contract (empty/whitespace-only query) — "
            "the f2 term-overlap feature would divide by zero")

    with_emb = checkpoint_embedding(
        candidates.select(id_col, text_col), text_col=text_col,
        id_col=id_col, passthrough=True)
    toks = F.coalesce(tokens_expr(text_col),
                      F.array().cast("array<string>"))
    n_toks = F.size(toks).cast("double")
    qv_lit = F.array(*[F.lit(x) for x in qv]).cast("array<float>")
    f1 = cosine_expr(F.col("embedding"), qv_lit)
    f2 = (F.size(F.array_intersect(
        F.array_distinct(toks),
        F.array(*[F.lit(t) for t in qterms]))).cast("double")
        / F.lit(float(len(qterms))))
    f3 = term_tf_expr(text_col, qterms).cast("double") / (1.0 + n_toks)
    f4 = n_toks / (n_toks + 100.0)
    logit = (F.lit(bias) + F.lit(w[0]) * f1 + F.lit(w[1]) * f2
             + F.lit(w[2]) * f3 + F.lit(w[3]) * f4)
    scored = with_emb.select(
        id_col, F.round(logit, 6).alias("ce_score"))
    return scored.orderBy(F.desc("ce_score"), F.asc(id_col)).limit(top_k)


def rerank_checkpoint_ce_batch(
    candidates: DataFrame,
    queries: Sequence[tuple[int, str]],
    model_dir: str | None = None,
    text_col: str = "text",
    id_col: str = "doc_id",
    query_id_col: str = "query_id",
    top_k: int = 10,
) -> DataFrame:
    """Batched trained-CE rerank: ONE plan scores every (query,
    candidate) pair and takes top-k per query — the batch==single
    convention every other serving path pins (VERDICT r10 task #6).

    `candidates` carries per-query candidate sets (query_id, doc_id,
    text); `queries` is the bounded [(query_id, query_text), ...] list
    (driver-side checkpoint embedding per query, the single-path rule).
    Per-query state — checkpoint query vector, distinct term array,
    term count — becomes a Q-row broadcast side; the features are the
    SAME expressions as rerank_checkpoint_ce with literals swapped for
    broadcast columns, arithmetically identical per pair:

      f2  size(array_intersect(distinct toks, qterms)) / n_qterms —
          same integers, same single division;
      f3  size(filter(toks, t -> array_contains(qterms, t))) == the
          single path's per-term count sum (terms are DISTINCT, so each
          token matches at most one term — integer equality);
      f1/f4 column-for-literal swaps of the same folds.

    Cost: |pairs| feature evaluations + one Q-row broadcast join + one
    per-query top-k window — candidates-bounded, corpus untouched.
    Row-for-row equality with the single-query path is pytest-pinned
    (tests/test_hybrid.py::test_ce_batch_matches_single)."""
    from pyspark.sql import Window

    from vervectordb_spark.functions.similarity import cosine_expr
    from vervectordb_spark.functions.words import ws_tokens_py
    from vervectordb_spark.operators.embed import (
        checkpoint_embed_text, checkpoint_embedding)

    wj = load_ce_weights(model_dir)
    denom = float(1 << int(wj["denom_shift"]))
    w = [n / denom for n in wj["w_num"]]
    bias = wj["b_num"] / denom

    qrows = []
    for qid, qtext in queries:
        qterms = list(dict.fromkeys(ws_tokens_py(qtext)))
        if not qterms:
            raise ValueError(
                f"rerank_checkpoint_ce_batch: query {qid!r} has no tokens "
                "under the pinned whitespace contract")
        qv = [float(x) for x in checkpoint_embed_text(qtext)]
        qrows.append((int(qid), qv, qterms, float(len(qterms))))
    spark = candidates.sparkSession
    qdf = F.broadcast(spark.createDataFrame(
        qrows,
        f"{query_id_col} long, _qv array<float>, _qterms array<string>, "
        "_nq double"))

    with_emb = checkpoint_embedding(
        candidates.select(query_id_col, id_col, text_col),
        text_col=text_col, id_col=id_col, passthrough=True)
    joined = with_emb.join(qdf, on=query_id_col)
    toks = F.coalesce(tokens_expr(text_col),
                      F.array().cast("array<string>"))
    n_toks = F.size(toks).cast("double")
    f1 = cosine_expr("embedding", "_qv")
    f2 = (F.size(F.array_intersect(F.array_distinct(toks),
                                   F.col("_qterms"))).cast("double")
          / F.col("_nq"))
    f3 = (F.size(F.filter(toks,
                          lambda t: F.array_contains(F.col("_qterms"), t)))
          .cast("double") / (1.0 + n_toks))
    f4 = n_toks / (n_toks + 100.0)
    logit = (F.lit(bias) + F.lit(w[0]) * f1 + F.lit(w[1]) * f2
             + F.lit(w[2]) * f3 + F.lit(w[3]) * f4)
    scored = joined.select(
        query_id_col, id_col, F.round(logit, 6).alias("ce_score"))
    win = Window.partitionBy(query_id_col).orderBy(
        F.desc("ce_score"), F.asc(id_col))
    return (scored.withColumn("_rk", F.row_number().over(win))
            .filter(F.col("_rk") <= int(top_k))
            .drop("_rk"))


def rerank_scored(
    candidates: DataFrame,
    query_terms: Sequence[str],
    text_col: str = "text",
    id_col: str = "doc_id",
    top_k: int = 10,
) -> DataFrame:
    """Deterministic stand-in for the cross-encoder tier with the same
    contract (bounded candidates in → (id, ce_score) top-k out): scores by
    exact term-frequency density tf/(1+n_tokens) — a real, if crude,
    relevance signal that is bit-exact replayable and keeps the rerank
    stage testable without the model stack."""
    toks = tokens_expr(text_col)
    tf = term_tf_expr(text_col, query_terms).cast("double")
    score = tf / (1.0 + F.size(toks).cast("double"))
    scored = candidates.select(
        id_col, F.round(score, 9).alias("ce_score")
    )
    return scored.orderBy(F.desc("ce_score"), F.asc(id_col)).limit(top_k)
