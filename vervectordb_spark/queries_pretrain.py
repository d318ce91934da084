"""THE product query: the full pretraining-export chain composed as ONE
oracle-gated plan (VERDICT r8 #2) — every curation stage this engine
implements, in the order a real LLM training-data export runs them:

    span-level dedup (ExactSubstr cut, operators/spans.py)
  → heuristic quality gate (C4/Gopher rules, operators/text.py)
  → TRAINED quality classifier (frozen weights, linear fold threshold)
  → exact document dedup (content hash, lowest-id survivor)
  → MinHash-LSH near dedup (verified pairs, larger-id loser)
  → n-gram benchmark decontamination (3-gram anti-join vs eval split)
  → SEMANTIC benchmark decontamination (embedding cosine >= 0.90,
    REUSING the classifier's hashed-BoW embedding — one embed pass
    feeds both stages)
  → temperature-flattened domain mix (shares ∝ sqrt(n_lang), in-plan)
  → BPE tokenization (merges trained on the raw corpus — the usual
    separately-trained tokenizer — applied to the cleaned text)
  → tokenizer-aware 2048-token packing per lang stream
  → training-shard assignment (the write_training_shards membership
    expr, pinned n_shards=8)

reported as per-lang export accounting. `pipeline_spancut_e2e` and
`curation_pipeline_trained` prove two prefixes compose; this is the full
chain ending in real token-packed shard assignments.

The DuckDB oracle replays EVERY stage — the span cut (gaps-and-islands),
the classifier fold, LSH band candidacy + Jaccard verification, the
re-normalized embedding dot, the sorted-stratum temperature fold, BPE
training itself, and the packing window — by composing the same CTE
fragments the per-stage oracles gate in isolation.

Eval split = doc_id % 97 == 0 (the decontaminate_ngrams convention);
train corpus = the complement.

Plan shape / 100 TB posture: four stage frames feed two or more
consumers each, and Spark reuses identical exchanges, not arbitrary
subplans — left lazy, every consumer re-planned and re-ran its whole
upstream chain (a 1000-document export planned 225 parquet scans of
`documents` and ran 56 jobs). export_frame persists exactly those four
(StorageLevel.MEMORY_AND_DISK): `dd` (exact-dedup output: MinHash pairs
+ survivor anti-join), `surv` (corpus n-grams + n-gram anti-join),
`clean1` (semantic pairs + semantic anti-join) and `clean` (read three
times by the temperature mix). persist runs no job at mark time; each frame is computed once,
inside the first job that reads it, and spills to local disk past
executor memory. Everything else stays lazy. Corpus-sized shuffles:
span gram-key agg + join, the doc-key span window, the exact-dedup hash
window, MinHash band agg, the n-gram join, the mix count agg, the BPE
word-count job, the token-count agg, the packing window — each audited
by its per-stage query. The persisted frames (and the trained BPE
vocabulary's checkpoint blocks) ride on the returned frame and on the
pretraining_export_e2e aggregate; release_checkpoint(frame) after the
collect unpersists them all (functions/checkpoint.py). Broadcasts are
bounded sides only: dup-span lists, rate tables, the eval n-gram set,
the eval embedding matrix (GEMM prescreen, 65k fail-fast), the gated
BPE vocabulary. The trained filter + semantic decontam share ONE
embedding projection (map-only, Arrow-batched).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from vervectordb_spark.functions.oracle_fragments import (
    MD5T as _QP_MD5T, MIXED_TOKS as _QP_MIXED_TOKS, SHINGLES as _SHINGLES,
    TOKS as _TOKS, band_keys, bpe_ctes as _bpe_ctes,
    jaccard_sql as _jaccard_sql, md5_sql as _md5_sql, sig_mins,
    spancut_ctes, split_of as _split_of)
from vervectordb_spark.functions.words import WS_REGEX as _WS_REGEX
from vervectordb_spark.functions.words import words_sql
from vervectordb_spark.operators.quality import (
    FROZEN_QPB as _QPB, FROZEN_QPW as _QPW, FROZEN_QPW_SQL as _QP_W_SQL)
from vervectordb_spark.queries import query
from vervectordb_spark.schema import load_table

#: the dedup_minhash LSH config (8 hashes x 4 bands) — the fragments are
#: built from the SAME leaf builders queries_dedup uses, so the chain's
#: near-dup stage replays the exact per-stage oracle
_SIG_MINS = sig_mins(8)
_BAND_KEYS = band_keys(8, 4)

_L = 8              # span gram length (tokens)
_DIM = 32           # hashed-BoW embedding dim (classifier + decontam)
_NH, _NB = 8, 4     # MinHash hashes / bands (the dedup_minhash config)
_NEAR_TAU = 0.3     # verified-Jaccard near-dup threshold
_SEM_TAU = 0.90     # semantic decontamination cosine threshold
_MIX_TOTAL = 150    # temperature-mix target corpus size
_BPE_STEPS = 3      # BPE merges (frozen by deterministic training)
_PACK = 2048        # context-window token budget
_N_SHARDS = 8       # pinned shard modulus

#: the hashed-BoW embed chain over a (doc_id, text) relation `{src}` —
#: the queries_embed._EMBED_SQL shape, parameterized by source.
def _emb_cte(name: str, src: str) -> str:
    return f"""{name} AS (
  SELECT doc_id,
    list_transform(CASE WHEN nrm = 0 THEN counts
                        ELSE list_transform(counts, x -> x / nrm) END,
                   x -> x::FLOAT)::DOUBLE[] AS ne
  FROM (
    SELECT doc_id, counts, sqrt(list_dot_product(counts, counts)) AS nrm
    FROM (
      SELECT doc_id,
        list_transform(range(0, {_DIM}),
          i -> len(list_filter(bks, b -> b = i))::DOUBLE) AS counts
      FROM (
        SELECT doc_id,
          list_transform({_QP_MIXED_TOKS}, t -> {_QP_MD5T} % {_DIM}) AS bks
        FROM {src}
      )
    )
  ))"""


#: re-normalize a float32-rounded embedding (the decontam_embeddings
#: `n`-CTE shape — membership must be decided on unit vectors).
def _renorm_cte(name: str, src: str) -> str:
    return f"""{name} AS (
  SELECT doc_id,
         CASE WHEN list_dot_product(ne, ne) = 0 THEN ne
              ELSE list_transform(ne,
                     x -> x / sqrt(list_dot_product(ne, ne)))
         END AS ne
  FROM {src})"""


def _materialize_ctes(sql: str) -> str:
    """Force every CTE in the composed replay to MATERIALIZED: DuckDB
    inlines CTEs by default, and this oracle references most of its
    stages more than once (mix counts + join, token counts + export,
    LSH shingles ×3 …) — inlining re-evaluates the ENTIRE upstream chain
    per reference, compounding stage-over-stage (measured 404 s → 0.5 s
    at sf0.01, identical rows). DuckDB-only syntax, which is the oracle
    contract's bar.

    Fails loudly when the substitution count drifts from the number of
    CTE headers in the composed SQL (round-9 advice): the column-0
    anchor is the contract every fragment module follows, and a future
    fragment whose `name AS (` lands indented would otherwise be
    silently left inline — reintroducing the measured 404 s exponential
    re-evaluation with no signal."""
    import re

    out, n_subbed = re.subn(
        r"(?m)^(WITH )?(\w+ AS) \(", r"\1\2 MATERIALIZED (", sql)
    n_headers = len(re.findall(r"(?m)\b\w+ AS \(", sql))
    if n_subbed != n_headers:
        raise AssertionError(
            f"_materialize_ctes matched {n_subbed} CTE headers but the "
            f"SQL contains {n_headers} ' AS (' sites — a fragment's CTE "
            "header is not at column 0; fix the fragment (the column-0 "
            "anchor is the composability contract)")
    return out


_ORACLE_RAW = f"""
WITH corpus AS (
  SELECT doc_id, lang, text FROM documents WHERE doc_id % 97 <> 0),
{spancut_ctes(_L, src="corpus", extra_cols=("lang",))},
-- stage 2+: the cleaned text IS the pipeline's text from here on
cbase AS (
  SELECT doc_id, lang, n_removed, clean_text AS text, n_tokens AS n_raw
  FROM cleaned),
feats AS (
  SELECT doc_id, lang, n_removed, text,
    len({_TOKS}) AS q_n_tokens,
    CASE WHEN len({_TOKS}) = 0 THEN 0.0
         ELSE list_sum(list_transform({_TOKS}, t -> length(t)))::DOUBLE
              / len({_TOKS}) END AS avg_token_len,
    CASE WHEN length(text) = 0 THEN 0.0
         ELSE (length(text) - length(regexp_replace(text, '[^A-Za-z0-9 \t\n\x0B\f\r]', '', 'g')))::DOUBLE
              / length(text) END AS punct_ratio,
    CASE WHEN len({_TOKS}) = 0 THEN 0.0
         ELSE len(list_filter({_TOKS}, t -> list_contains(
                ['the','a','an','and','or','of','to','in','is','are',
                 'for','on','with','as','by','at','from','that','this','it'], t)))::DOUBLE
              / len({_TOKS}) END AS stopword_ratio
  FROM cbase),
gated AS (
  SELECT doc_id, lang, n_removed, text FROM feats
  WHERE (CASE WHEN q_n_tokens >= 20 AND q_n_tokens <= 1000 THEN 0.3 ELSE 0.0 END
       + CASE WHEN avg_token_len >= 3.0 AND avg_token_len <= 12.0 THEN 0.3 ELSE 0.0 END
       + CASE WHEN punct_ratio < 0.3 THEN 0.2 ELSE 0.0 END
       + CASE WHEN stopword_ratio > 0.01 THEN 0.2 ELSE 0.0 END) >= 0.8),
{_emb_cte("gemb", "gated")},
trained AS (
  SELECT g.doc_id, g.lang, g.n_removed, g.text
  FROM gated g JOIN gemb e USING (doc_id)
  WHERE ({_QPB!r} + list_dot_product(e.ne, {_QP_W_SQL})) >= 0.0),
dd AS (
  SELECT doc_id, lang, n_removed, text FROM (
    SELECT *, ROW_NUMBER() OVER (
      PARTITION BY {_md5_sql("text")} ORDER BY doc_id) AS rk
    FROM trained) WHERE rk = 1),
-- MinHash-LSH near dedup over the deduped clean text
t AS (SELECT doc_id, {_TOKS} AS toks FROM dd),
sh AS (SELECT doc_id, {_SHINGLES} AS s FROM t),
hb AS (SELECT doc_id, s, list_transform(s, t -> {_md5_sql("t")}) AS hs FROM sh),
sig AS (SELECT doc_id, s, [{_SIG_MINS}] AS sig FROM hb),
bands AS ({_BAND_KEYS}),
cand AS (
  SELECT DISTINCT a.doc_id AS src_id, b.doc_id AS dst_id
  FROM bands a JOIN bands b
    ON a.band = b.band AND a.band_key = b.band_key AND a.doc_id < b.doc_id),
losers AS (
  SELECT DISTINCT c.dst_id AS doc_id
  FROM cand c
  JOIN sh x ON x.doc_id = c.src_id
  JOIN sh y ON y.doc_id = c.dst_id
  WHERE {_jaccard_sql("x.s", "y.s")} >= {_NEAR_TAU}),
surv AS (SELECT d.* FROM dd d ANTI JOIN losers l ON d.doc_id = l.doc_id),
-- n-gram benchmark decontamination (3-gram anti-join vs the eval split)
sng AS (
  SELECT doc_id, unnest({_SHINGLES}) AS ng
  FROM (SELECT doc_id, {_TOKS} AS toks FROM surv)),
bng AS (
  SELECT DISTINCT unnest({_SHINGLES}) AS ng
  FROM (SELECT {_TOKS} AS toks FROM documents WHERE doc_id % 97 = 0)),
ngcont AS (SELECT DISTINCT s.doc_id FROM sng s JOIN bng USING (ng)),
clean1 AS (SELECT s.* FROM surv s ANTI JOIN ngcont c ON s.doc_id = c.doc_id),
-- semantic decontamination: re-normalized cosine vs eval embeddings
evdocs AS (SELECT doc_id, text FROM documents WHERE doc_id % 97 = 0),
{_emb_cte("bemb", "evdocs")},
{_renorm_cte("trn", "(SELECT e.* FROM gemb e JOIN clean1 c USING (doc_id))")},
{_renorm_cte("evn", "bemb")},
semcont AS (
  SELECT DISTINCT a.doc_id
  FROM trn a JOIN evn b ON list_dot_product(a.ne, b.ne) >= {_SEM_TAU}),
clean AS (
  SELECT c.* FROM clean1 c ANTI JOIN semcont s ON c.doc_id = s.doc_id),
-- temperature-flattened mix (alpha = 1/2, sorted-stratum fold)
mcounts AS (SELECT lang, COUNT(*) AS n FROM clean GROUP BY lang),
mrun AS (
  SELECT lang, n, sqrt(n::DOUBLE) AS w,
         SUM(sqrt(n::DOUBLE)) OVER (
           ORDER BY lang
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS run
  FROM mcounts),
mD AS (SELECT MAX(run) AS D FROM mrun),
mrates AS (
  SELECT r.lang,
         least(1.0, ((r.w / d.D) * {_MIX_TOTAL}.0) / r.n::DOUBLE) AS rate
  FROM mrun r CROSS JOIN mD d),
mkept AS (
  SELECT c.* FROM clean c JOIN mrates r USING (lang)
  WHERE (r.rate >= 1.0 OR
         (('0x' || substr(md5('sample:42:' || c.doc_id), 1, 15))::BIGINT)::DOUBLE
         / 1152921504606846976.0 < r.rate)),
-- BPE merges trained on the RAW corpus, applied to the kept clean text
{_bpe_ctes(_BPE_STEPS)},
kw AS (SELECT doc_id, word
       FROM {words_sql("mkept", id_col="doc_id")}),
tc AS (
  SELECT k.doc_id, SUM(len({_split_of("v.s")}))::BIGINT AS n_tok
  FROM kw k JOIN (SELECT word, s FROM s{_BPE_STEPS}) v USING (word)
  GROUP BY k.doc_id),
exp AS (
  SELECT m.doc_id, m.lang, m.n_removed, t.n_tok
  FROM mkept m JOIN tc t USING (doc_id)),
pk AS (
  SELECT doc_id, lang, n_removed, n_tok,
    SUM(n_tok) OVER (PARTITION BY lang ORDER BY doc_id
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
      - n_tok AS start
  FROM exp),
packed AS (
  SELECT lang, doc_id, n_removed, n_tok,
         CAST(FLOOR(start::DOUBLE / {_PACK}.0) AS BIGINT) AS bin_id,
         (('0x' || substr(md5('42:' || doc_id), 1, 15))::BIGINT)
           % {_N_SHARDS} AS shard
  FROM pk)
SELECT lang,
  CAST(COUNT(*) AS BIGINT) AS n_docs,
  CAST(COUNT(DISTINCT bin_id) AS BIGINT) AS n_bins,
  CAST(COUNT(DISTINCT shard) AS BIGINT) AS n_shards,
  CAST(SUM(n_tok) AS BIGINT) AS sum_tokens,
  CAST(SUM(n_removed) AS BIGINT) AS tokens_cut
FROM packed GROUP BY 1
"""

_ORACLE = _materialize_ctes(_ORACLE_RAW)


def export_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The per-document export frame the aggregate below reports on:
    (doc_id, lang, clean_text, n_tokens_removed, n_tok, bin_id) — also
    the frame tests hand to sources.tables.write_training_shards for the
    real shard sink (pinned n_shards = 8 matches the in-plan membership
    expr).

    It pins four persisted stage frames and the trained BPE vocabulary
    (module docstring): release_checkpoint(frame) after consuming it."""
    held: list[DataFrame] = []
    try:
        out = _export_chain(spark, sf_dir, held)
    except BaseException:
        for df in held:
            df.unpersist()
        raise
    out._persisted = held  # type: ignore[attr-defined]
    return out


def _export_chain(spark: SparkSession, sf_dir: str,
                  held: list[DataFrame]) -> DataFrame:
    from pyspark import StorageLevel

    from vervectordb_spark.functions.checkpoint import carry_release
    from vervectordb_spark.operators import text as TX
    from vervectordb_spark.operators.bpe import (
        maybe_broadcast_vocab, train_bpe)
    from vervectordb_spark.operators.dedup import (
        drop_exact_dups, embedding_contamination_pairs,
        minhash_near_dup_pairs, shingle_table)
    from vervectordb_spark.operators.embed import embed_documents
    from vervectordb_spark.operators.packing import pack_by_token_offset
    from vervectordb_spark.operators.quality import classifier_logit_expr
    from vervectordb_spark.operators.sampling import mix_by_temperature
    from vervectordb_spark.operators.spans import remove_duplicate_spans

    def shared(df: DataFrame) -> DataFrame:
        # a stage frame with two or more consumers: computed once, at its
        # first read (persist runs no job at mark time), and kept in
        # `held` for the caller to release
        held.append(df.persist(StorageLevel.MEMORY_AND_DISK))
        return df

    docs = load_table(spark, sf_dir, "documents")
    corpus = docs.filter(F.col("doc_id") % 97 != 0).select(
        "doc_id", "lang", "text")
    evals_docs = docs.filter(F.col("doc_id") % 97 == 0)

    # 1) ExactSubstr span cut
    cut = remove_duplicate_spans(corpus, _L).select(
        "doc_id", "lang", F.col("clean_text").alias("ctext"),
        "n_tokens_removed")
    # 2) heuristic gate on the CLEANED text
    gated = (TX.quality_filter(cut, text_col="ctext", min_score=0.8)
             .filter("keep")
             .select("doc_id", "lang", "ctext", "n_tokens_removed"))
    # 3) trained classifier — ONE embed pass, reused by stage 7
    feats = embed_documents(gated, dim=_DIM, text_col="ctext",
                            passthrough=True)
    trained = feats.filter(
        classifier_logit_expr(F.col("embedding"), _QPW, _QPB) >= 0.0)
    # 4) exact dedup (lowest-id survivor)
    dd = shared(drop_exact_dups(trained, text_col="ctext"))
    # 5) MinHash-LSH near dedup: larger id of each verified pair loses
    pairs = minhash_near_dup_pairs(
        dd, text_col="ctext", num_hashes=_NH, bands=_NB, shingle_n=3,
        threshold=_NEAR_TAU)
    losers = pairs.select(F.col("dst_id").alias("doc_id")).distinct()
    surv = shared(dd.join(losers, on="doc_id", how="left_anti"))
    # 6) n-gram benchmark decontamination
    bench_ngrams = (shingle_table(evals_docs, shingle_n=3)
                    .select(F.explode("shingles").alias("ng")).distinct())
    corpus_ngrams = shingle_table(surv, text_col="ctext", shingle_n=3) \
        .select("doc_id", F.explode("shingles").alias("ng"))
    ngcont = (corpus_ngrams.join(F.broadcast(bench_ngrams), on="ng")
              .select("doc_id").distinct())
    clean1 = shared(surv.join(ngcont, on="doc_id", how="left_anti"))
    # 7) semantic decontamination — reuses the stage-3 embedding column
    ev_emb = embed_documents(evals_docs, dim=_DIM)
    sem = embedding_contamination_pairs(
        clean1.select(F.col("doc_id").alias("vec_id"), "embedding"),
        ev_emb, _SEM_TAU)
    semcont = sem.select(F.col("train_id").alias("doc_id")).distinct()
    clean = shared(clean1.join(semcont, on="doc_id", how="left_anti")
                   .drop("embedding"))
    # 8) temperature mix (alpha = 1/2, in-plan shares)
    kept = mix_by_temperature(clean, "lang", id_col="doc_id",
                              total=_MIX_TOTAL, alpha=0.5, seed=42)
    # 9) BPE token counts: merges trained on the RAW corpus, applied to
    #    the kept clean text (gated vocabulary broadcast). The per-doc
    #    carry columns (lang, n_tokens_removed) ride the word explode
    #    into the count aggregate instead of joining back against `kept`
    #    — a join-back would reference the whole curation lineage TWICE
    #    (Spark only reuses identical exchanges, not arbitrary subplans)
    kw = (kept.select("doc_id", "lang", "n_tokens_removed",
                      F.explode(F.split(F.lower("ctext"), _WS_REGEX))
                      .alias("word"))
          .filter((F.col("word") != "") & F.col("word").rlike("^[a-z]+$")))
    _merges, vocab = train_bpe(docs, n_merges=_BPE_STEPS)
    seg = vocab.select("word", F.size("symbols").alias("_wtoks"))
    exp = (kw.join(maybe_broadcast_vocab(seg), on="word")
           .groupBy("doc_id", "lang", "n_tokens_removed")
           .agg(F.sum("_wtoks").cast("bigint").alias("n_tok")))
    # 10) tokenizer-aware packing per lang stream; the vocabulary's
    #     checkpoint blocks travel with the frame
    return carry_release(
        pack_by_token_offset(exp, token_col="n_tok", budget=_PACK,
                             order_col="doc_id", stream_col="lang"), vocab)


@query("pretraining_export_e2e", oracle=_ORACLE)
def pretraining_export_e2e(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full pretraining-export chain (module docstring) — per-lang
    export accounting: surviving docs, packed context windows, shard
    spread, BPE tokens exported, span tokens cut. Stage 11's shard
    membership is the write_training_shards expr (sources/tables.py)
    evaluated in-plan at the pinned modulus. The aggregate carries the
    export frame's pinned stages: release_checkpoint(result) after
    collecting it."""
    from vervectordb_spark.functions.checkpoint import carry_release
    from vervectordb_spark.functions.hashing import seeded_md5_long

    frame = export_frame(spark, sf_dir)
    packed = frame.withColumn(
        "shard",
        F.pmod(seeded_md5_long(F.col("doc_id").cast("string"), 42),
               F.lit(_N_SHARDS)))
    return carry_release(packed.groupBy("lang").agg(
        F.count("*").cast("long").alias("n_docs"),
        F.count_distinct("bin_id").cast("long").alias("n_bins"),
        F.count_distinct("shard").cast("long").alias("n_shards"),
        F.sum("n_tok").cast("long").alias("sum_tokens"),
        F.sum("n_tokens_removed").cast("long").alias("tokens_cut")), frame)
