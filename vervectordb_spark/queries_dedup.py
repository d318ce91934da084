"""Dedup + text-analysis query registrations (north-star extensions,
SURVEY.md §2.8) with bit-exact DuckDB oracle twins.

Portability contract (same as queries.py):
  * all hashing via the md5-60-bit family (functions/hashing.py);
  * Jaccard = distinct-set intersect/union sizes, double division;
  * fingerprints/simhash are exact 64-bit integer arithmetic;
  * ratios are single int/int double divisions, rounded only at the end.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from vervectordb_spark.operators import dedup as D
from vervectordb_spark.operators import text as TX
from vervectordb_spark.queries import query
from vervectordb_spark.schema import load_table

# ---------------------------------------------------------------------------
# shared DuckDB fragments (twins of operators/dedup.py expressions)
# ---------------------------------------------------------------------------

#: lower-cased whitespace tokens, empties dropped == dedup.tokens_expr
_TOKS = r"list_filter(regexp_split_to_array(lower(text), '[ \t\n\x0B\f\r]+'), x -> x <> '')"

#: distinct word 3-gram shingles == dedup.shingles_expr(n=3) —
#: single-sourced in functions/oracle_fragments (leaf; shared with the
#: composed pretraining-export replay)
from vervectordb_spark.functions.oracle_fragments import (  # noqa: E402
    SHINGLES as _SHINGLES, jaccard_sql as _jaccard_sql)


def _md5_sql(expr: str) -> str:
    return f"(('0x' || substr(md5({expr}), 1, 15))::BIGINT)"


# ---------------------------------------------------------------------------
# exact dedup — the fixture has no byte dups, so the query plants 20
# deterministic copies (negative ids — collision-proof at any scale
# factor, unlike a fixed offset) and must find exactly those groups.
# ---------------------------------------------------------------------------

@query(
    "dedup_exact",
    oracle=f"""
WITH base AS (
  SELECT doc_id, text FROM documents
  UNION ALL
  SELECT -(doc_id + 1) AS doc_id, text FROM documents WHERE doc_id < 20
)
SELECT {_md5_sql('text')} AS content_hash,
       COUNT(*) AS n_dups,
       array_to_string(list_sort(list(doc_id)), ',') AS ids
FROM base GROUP BY 1 HAVING COUNT(*) >= 2
""",
)
def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    planted = docs.filter(F.col("doc_id") < 20).select(
        (-(F.col("doc_id") + 1)).alias("doc_id"), "text"
    )
    groups = D.exact_dup_groups(docs.unionByName(planted))
    return groups.select(
        "content_hash",
        "n_dups",
        F.concat_ws(",", F.col("doc_ids").cast("array<string>")).alias("ids"),
    )


# ---------------------------------------------------------------------------
# MinHash + LSH banding (8 hashes, 4 bands) — the oracle mirrors the exact
# candidate generation (band collision), then Jaccard-verifies, so LSH
# recall behavior itself is graded, not just the final filter.
# ---------------------------------------------------------------------------

_NUM_HASHES = 8
_BANDS = 4
_ROWS_PER_BAND = _NUM_HASHES // _BANDS

#: affine family over one md5 base hash per shingle (== operators/dedup
#: minhash_signature_expr; see functions/hashing.affine_hash)
from vervectordb_spark.functions.hashing import affine_hash_sql  # noqa: E402

from vervectordb_spark.functions.oracle_fragments import (  # noqa: E402
    band_keys as _band_keys, sig_mins as _sig_mins)

_SIG_MINS = _sig_mins(_NUM_HASHES)
_BAND_KEYS = _band_keys(_NUM_HASHES, _BANDS)


@query(
    "dedup_minhash",
    oracle=f"""
WITH t AS (SELECT doc_id, {_TOKS} AS toks FROM documents),
sh AS (SELECT doc_id, {_SHINGLES} AS s FROM t),
hb AS (SELECT doc_id, s, list_transform(s, t -> {_md5_sql('t')}) AS hs FROM sh),
sig AS (SELECT doc_id, s, [{_SIG_MINS}] AS sig FROM hb),
bands AS ({_BAND_KEYS}),
cand AS (
  SELECT DISTINCT a.doc_id AS src_id, b.doc_id AS dst_id
  FROM bands a JOIN bands b
    ON a.band = b.band AND a.band_key = b.band_key AND a.doc_id < b.doc_id
),
verified AS (
  SELECT c.src_id, c.dst_id, {_jaccard_sql('x.s', 'y.s')} AS jacc
  FROM cand c
  JOIN sh x ON x.doc_id = c.src_id
  JOIN sh y ON y.doc_id = c.dst_id
)
SELECT src_id, dst_id, ROUND(jacc, 6) AS jaccard
FROM verified WHERE jacc >= 0.3
""",
)
def dedup_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    pairs = D.minhash_near_dup_pairs(
        docs, num_hashes=_NUM_HASHES, bands=_BANDS, shingle_n=3, threshold=0.3
    )
    return pairs.select(
        "src_id", "dst_id", F.round("jaccard", 6).alias("jaccard")
    )


# ---------------------------------------------------------------------------
# near-dup connected components — survivor selection needs "keep one doc per
# CLUSTER", not per pair: min-label propagation over the verified pair set.
# Planted exact copies of docs 0..9 enrich the graph (each copy inherits all
# of its original's collisions → triangles + multi-hop components), and the
# oracle replays the closure with a recursive CTE.
# ---------------------------------------------------------------------------

_CC_BAND_KEYS = " UNION ALL ".join(
    f"SELECT doc_id, s, {b} AS band, "
    f"sig[{b * _ROWS_PER_BAND + 1}]::VARCHAR || '_' || "
    f"sig[{b * _ROWS_PER_BAND + 2}]::VARCHAR AS band_key FROM sig"
    for b in range(_BANDS)
)


@query(
    "dedup_components",
    oracle=f"""
WITH RECURSIVE
base AS (
  SELECT doc_id, text FROM documents
  UNION ALL
  SELECT -(doc_id + 1) AS doc_id, text FROM documents WHERE doc_id < 10
),
t AS (SELECT doc_id, {_TOKS} AS toks FROM base),
sh AS (SELECT doc_id, {_SHINGLES} AS s FROM t),
hb AS (SELECT doc_id, s, list_transform(s, t -> {_md5_sql('t')}) AS hs FROM sh),
sig AS (SELECT doc_id, s, [{_SIG_MINS}] AS sig FROM hb),
bands AS ({_CC_BAND_KEYS}),
cand AS (
  SELECT DISTINCT a.doc_id AS src_id, b.doc_id AS dst_id
  FROM bands a JOIN bands b
    ON a.band = b.band AND a.band_key = b.band_key AND a.doc_id < b.doc_id
),
vp AS (
  SELECT c.src_id, c.dst_id
  FROM cand c
  JOIN sh x ON x.doc_id = c.src_id
  JOIN sh y ON y.doc_id = c.dst_id
  WHERE {_jaccard_sql('x.s', 'y.s')} >= 0.3
),
nodes AS (
  SELECT DISTINCT n FROM (
    SELECT src_id AS n FROM vp UNION ALL SELECT dst_id FROM vp
  )
),
edges AS (
  SELECT src_id AS a, dst_id AS b FROM vp
  UNION
  SELECT dst_id AS a, src_id AS b FROM vp
),
reach(node, r) AS (
  SELECT n, n FROM nodes
  UNION
  SELECT re.node, e.b FROM reach re JOIN edges e ON re.r = e.a
),
comp AS (SELECT node, MIN(r) AS component FROM reach GROUP BY node)
SELECT component, COUNT(*) AS n_members,
       array_to_string(list_sort(list(node)), ',') AS ids
FROM comp GROUP BY component
""",
)
def dedup_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    planted = docs.filter(F.col("doc_id") < 10).select(
        (-(F.col("doc_id") + 1)).alias("doc_id"), "text"
    )
    base = docs.unionByName(planted)
    pairs = D.minhash_near_dup_pairs(
        base, num_hashes=_NUM_HASHES, bands=_BANDS, shingle_n=3, threshold=0.3
    )
    comp = D.connected_components(pairs)
    return comp.groupBy("component").agg(
        F.count("*").alias("n_members"),
        F.concat_ws(
            ",", F.array_sort(F.collect_list("node")).cast("array<string>")
        ).alias("ids"),
    )


# ---------------------------------------------------------------------------
# exact n-gram Jaccard — top-20 most similar pairs (the verifier path)
# ---------------------------------------------------------------------------

@query(
    "dedup_ngram_jaccard",
    oracle=f"""
WITH n AS (SELECT COUNT(*) AS n FROM documents),
t AS (
  SELECT doc_id, {_TOKS} AS toks FROM documents, n
  WHERE (('0x' || substr(md5('sample:13:' || doc_id), 1, 15))::BIGINT)::DOUBLE
        / 1152921504606846976.0 < least(1.0, 600.0 / n.n)
),
sh AS (SELECT doc_id, {_SHINGLES} AS s FROM t),
pairs AS (
  SELECT a.doc_id AS src_id, b.doc_id AS dst_id, {_jaccard_sql('a.s', 'b.s')} AS jacc
  FROM sh a JOIN sh b ON a.doc_id < b.doc_id
)
SELECT src_id, dst_id, ROUND(jacc, 6) AS jaccard
FROM (SELECT * FROM pairs ORDER BY jacc DESC, src_id, dst_id LIMIT 20)
""",
)
def dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact all-pairs n-gram Jaccard — the GROUND-TRUTH verifier — on a
    count-adaptive hash-draw sample (~600 docs at any sf; under-cap
    corpora keep every doc, so fixture outputs are unchanged). The
    bound is the point: the global O(N²) form was measured pathological
    at sf1 (50k docs → 1.25B broadcast-nested-loop pairs × shingle-array
    intersections — the round-7 full-registry sf1 gate stalled on it for
    an hour), and at scale exact Jaccard only ever runs per capped LSH
    bucket (dedup_minhash / minhash_near_dup_pairs — the production
    path). The count-adaptive rate least(1.0, 600/n) is one count
    aggregate broadcast into a pure row filter — SQL-replayable, so the
    oracle samples identically."""
    from vervectordb_spark.operators.sampling import hash_uniform_expr

    docs = load_table(spark, sf_dir, "documents")
    n = docs.agg(F.count("*").cast("long").alias("_n"))
    bounded = docs.crossJoin(F.broadcast(n)).filter(
        hash_uniform_expr("doc_id", 13)
        < F.least(F.lit(1.0), F.lit(600.0) / F.col("_n"))
    ).drop("_n")
    pairs = D.ngram_jaccard_pairs(bounded, shingle_n=3, threshold=0.0)
    top = pairs.orderBy(
        F.desc("jaccard"), F.asc("src_id"), F.asc("dst_id")
    ).limit(20)
    return top.select("src_id", "dst_id", F.round("jaccard", 6).alias("jaccard"))


# ---------------------------------------------------------------------------
# SimHash fingerprints — all 500 docs, exact 32-bit integers (the strongest
# possible check of the whole token→hash→vote→bit pipeline)
# ---------------------------------------------------------------------------

_SIMHASH_TERMS = " + ".join(
    f"(CASE WHEN list_sum(list_transform(hs, "
    f"x -> CASE WHEN (x >> {b}) & 1 = 1 THEN 1 ELSE -1 END)) > 0 "
    f"THEN {1 << b}::BIGINT ELSE 0::BIGINT END)"
    for b in range(D.SIMHASH_BITS)
)


@query(
    "dedup_simhash",
    oracle=f"""
WITH t AS (SELECT doc_id, {_TOKS} AS toks FROM documents),
h AS (SELECT doc_id, list_transform(toks, t -> {_md5_sql('t')}) AS hs FROM t)
SELECT doc_id, ({_SIMHASH_TERMS}) AS simhash FROM h
""",
)
def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return D.simhash_fingerprints(docs).select("doc_id", "simhash")


# ---------------------------------------------------------------------------
# embedding-cosine near-dup: the 20 globally most-similar distinct pairs.
# Spark finds them through multi-probe SemDeDup candidates (k-means sized
# for constant occupancy, each row probing its 2 nearest centroids, pairs
# scored only within a shared probe cluster — linear candidate volume);
# the oracle scores all pairs. Near-identical vectors share a nearest
# centroid, so the pruned candidate set covers the global top pairs —
# hash-gated here at sf0.01 AND sf1 against the all-pairs oracle. The
# exhaustive kNN self-join is still available behind
# embedding_near_dup_pairs(exact=True) for ground-truth runs; it is no
# longer the registered path (248 s at sf1 — round-9 verdict).
# ---------------------------------------------------------------------------

@query(
    "dedup_embedding_cosine",
    oracle="""
WITH n AS (
  SELECT vec_id,
         CASE WHEN list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[]) = 0
              THEN embedding::DOUBLE[]
              ELSE list_transform(embedding::DOUBLE[],
                     x -> x / sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[])))
         END AS ne
  FROM embeddings
),
pairs AS (
  SELECT a.vec_id AS src_id, b.vec_id AS dst_id, list_dot_product(a.ne, b.ne) AS sim
  FROM n a JOIN n b ON a.vec_id < b.vec_id
)
SELECT src_id, dst_id, ROUND(sim, 6) AS sim
FROM (SELECT * FROM pairs ORDER BY sim DESC, src_id, dst_id LIMIT 20)
""",
)
def dedup_embedding_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    from vervectordb_spark.functions.similarity import cosine_expr
    from vervectordb_spark.operators.ivf import IVFIndex

    emb = load_table(spark, sf_dir, "embeddings")
    n = emb.count()
    if n <= 2048:
        # below the quadratic-affordability line the exact fold IS the
        # cheap path AND the guaranteed-superset one — at a few hundred
        # rows k-means degenerates to a handful of clusters whose
        # 2-probe cover can miss a boundary pair (caught by the sf0.001
        # parity gate); the pruned path takes over where it matters
        from vervectordb_spark.operators.search import knn_self_join

        knn = knn_self_join(emb, top_k=20, kernel="fold")
        pairs = (knn.filter(F.col("src_id") < F.col("dst_id"))
                 .select("src_id", "dst_id", "sim")
                 .dropDuplicates(["src_id", "dst_id"]))
        top = pairs.orderBy(F.desc("sim"), F.asc("src_id"),
                            F.asc("dst_id")).limit(20)
        return top.select("src_id", "dst_id",
                          F.round("sim", 6).alias("sim"))
    k = max(4, min(4096, n // 256))
    idx = IVFIndex.build(emb.select("vec_id", "embedding"), n_clusters=k,
                         seed=42, max_iter=8)
    # BLAS candidate scoring, each probe-cluster emitting only its own
    # top-200 pairs (a provable superset of the global top-20); the
    # bounded winner set is then RE-SCORED with the bit-exact cosine
    # fold so the emitted sims hash-match the DuckDB replay.
    cand = D.multiprobe_semdedup_pairs(emb, idx.centroids_df(),
                                       n_probes=2, kernel="gemm",
                                       per_cluster_top=200)
    short = (cand.orderBy(F.desc("sim"), F.asc("src_id"), F.asc("dst_id"))
             .limit(200).select("src_id", "dst_id"))
    a = emb.select(F.col("vec_id").alias("src_id"),
                   F.col("embedding").alias("_a"))
    b = emb.select(F.col("vec_id").alias("dst_id"),
                   F.col("embedding").alias("_b"))
    rescored = (short.join(a, on="src_id").join(b, on="dst_id")
                .withColumn("sim", cosine_expr("_a", "_b")))
    top = rescored.orderBy(F.desc("sim"), F.asc("src_id"),
                           F.asc("dst_id")).limit(20)
    return top.select("src_id", "dst_id", F.round("sim", 6).alias("sim"))


# ---------------------------------------------------------------------------
# text profile — full 500-row profile, every metric exact
# ---------------------------------------------------------------------------

_STOP_SQL = "[" + ", ".join(f"'{w}'" for w in TX.STOPWORDS) + "]"
_FP_HASH = _md5_sql("t") + f" % {TX.FP_MOD}"


@query(
    "text_profile",
    oracle=f"""
WITH base AS (SELECT doc_id, text, {_TOKS} AS toks FROM documents),
ext AS (
  SELECT doc_id,
    length(text) AS n_chars,
    len(toks) AS n_tokens,
    len(regexp_extract_all(text, '{TX.TOKEN_REGEX}', 0)) AS n_bpe_tokens,
    list_sum(list_transform(toks, t -> length(t))) AS tok_chars,
    length(text) - length(regexp_replace(text, '{TX.PUNCT_REGEX}', '', 'g')) AS n_punct,
    len(list_filter(toks, t -> list_contains({_STOP_SQL}, t))) AS n_stop,
    length(text) - length(regexp_replace(text, '[\\x{{4e00}}-\\x{{9fff}}]', '', 'g')) AS n_cjk,
    list_reduce(
      list_prepend(0::BIGINT, list_transform(toks, t -> {_FP_HASH})),
      (acc, x) -> (acc * {TX.FP_BASE} + x) % {TX.FP_MOD}
    ) AS fingerprint
  FROM base
),
m AS (
  SELECT doc_id, n_chars, n_tokens, n_bpe_tokens, fingerprint,
    CASE WHEN n_tokens = 0 THEN 0.0 ELSE tok_chars::DOUBLE / n_tokens END AS avg_token_len,
    CASE WHEN n_chars = 0 THEN 0.0 ELSE n_punct::DOUBLE / n_chars END AS punct_ratio,
    CASE WHEN n_tokens = 0 THEN 0.0 ELSE n_stop::DOUBLE / n_tokens END AS stopword_ratio,
    CASE WHEN n_chars = 0 THEN 0.0 ELSE n_cjk::DOUBLE / n_chars END AS cjk_ratio
  FROM ext
)
SELECT doc_id, n_chars::BIGINT AS n_chars, n_tokens::BIGINT AS n_tokens,
  n_bpe_tokens::BIGINT AS n_bpe_tokens,
  ROUND(avg_token_len, 6) AS avg_token_len,
  ROUND(punct_ratio, 6) AS punct_ratio,
  ROUND(stopword_ratio, 6) AS stopword_ratio,
  CASE WHEN cjk_ratio > 0.2 THEN 'zh'
       WHEN stopword_ratio > 0.08 THEN 'en'
       ELSE 'unknown' END AS lang_id,
  ROUND(
    (CASE WHEN n_tokens >= 20 AND n_tokens <= 1000 THEN 0.3 ELSE 0.0 END
     + CASE WHEN avg_token_len >= 3.0 AND avg_token_len <= 12.0 THEN 0.3 ELSE 0.0 END)
     + CASE WHEN punct_ratio < 0.3 THEN 0.2 ELSE 0.0 END
     + CASE WHEN stopword_ratio > 0.01 THEN 0.2 ELSE 0.0 END, 6) AS quality_score,
  fingerprint
FROM m
""",
)
def text_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    prof = TX.profile(docs)
    return prof.select(
        "doc_id",
        F.col("n_chars").cast("long").alias("n_chars"),
        F.col("n_tokens").cast("long").alias("n_tokens"),
        F.col("n_bpe_tokens").cast("long").alias("n_bpe_tokens"),
        "avg_token_len", "punct_ratio", "stopword_ratio",
        "lang_id", "quality_score", "fingerprint",
    )


# ---------------------------------------------------------------------------
# dedup survivors: drop_exact_dups keeps the lowest-id doc per content group
# ---------------------------------------------------------------------------

@query(
    "dedup_drop_survivors",
    oracle=f"""
WITH base AS (
  SELECT doc_id, text FROM documents
  UNION ALL
  SELECT -(doc_id + 1) AS doc_id, text FROM documents WHERE doc_id < 20
),
g AS (
  SELECT {_md5_sql('text')} AS h, MIN(doc_id) AS keeper
  FROM base GROUP BY 1
)
SELECT COUNT(*) AS n_docs, CAST(SUM(keeper) AS BIGINT) AS id_sum FROM g
""",
)
def dedup_drop_survivors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The pipeline-facing dedup: after dropping exact dups (lowest id
    survives), the corpus state is verified as an aggregate."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    planted = docs.filter(F.col("doc_id") < 20).select(
        (-(F.col("doc_id") + 1)).alias("doc_id"), "text"
    )
    survivors = D.drop_exact_dups(docs.unionByName(planted))
    return survivors.agg(
        F.count("*").alias("n_docs"), F.sum("doc_id").alias("id_sum")
    )


# ---------------------------------------------------------------------------
# MinHash estimator accuracy — the sketch-vs-truth face of dedup. The same
# affine family is bit-exact replayable in SQL, so the ESTIMATE itself (not
# just a bound) crosses the hash gate: per verified near-dup pair we emit
# exact shingle Jaccard, the 16-wide signature-agreement estimate, and the
# absolute error. At 100 TB the estimate is what the banding actually
# ranks on; this query measures how far it sits from the truth it proxies.
# ---------------------------------------------------------------------------

_EST_HASHES = 16
_EST_BANDS = 8

_EST_SIG_MINS = ", ".join(
    f"list_min(list_transform(hs, x -> {affine_hash_sql('x', i)}))"
    for i in range(_EST_HASHES)
)
_EST_BAND_KEYS = " UNION ALL ".join(
    f"SELECT doc_id, s, {b} AS band, "
    f"sig[{b * 2 + 1}]::VARCHAR || '_' || "
    f"sig[{b * 2 + 2}]::VARCHAR AS band_key FROM sig"
    for b in range(_EST_BANDS)
)


@query(
    "dedup_minhash_estimate",
    oracle=f"""
WITH t AS (SELECT doc_id, {_TOKS} AS toks FROM documents),
sh AS (SELECT doc_id, {_SHINGLES} AS s FROM t),
hb AS (SELECT doc_id, s, list_transform(s, t -> {_md5_sql('t')}) AS hs FROM sh),
sig AS (SELECT doc_id, s, [{_EST_SIG_MINS}] AS sig FROM hb),
bands AS ({_EST_BAND_KEYS}),
cand AS (
  SELECT DISTINCT a.doc_id AS src_id, b.doc_id AS dst_id
  FROM bands a JOIN bands b
    ON a.band = b.band AND a.band_key = b.band_key AND a.doc_id < b.doc_id
),
verified AS (
  SELECT c.src_id, c.dst_id, {_jaccard_sql('x.s', 'y.s')} AS jacc
  FROM cand c
  JOIN sh x ON x.doc_id = c.src_id
  JOIN sh y ON y.doc_id = c.dst_id
)
SELECT v.src_id, v.dst_id, ROUND(v.jacc, 6) AS jaccard,
  len(list_filter(range(1, {_EST_HASHES} + 1), i -> a.sig[i] = b.sig[i]))::DOUBLE
    / CAST({_EST_HASHES} AS DOUBLE) AS jaccard_est,
  ROUND(ABS(len(list_filter(range(1, {_EST_HASHES} + 1), i -> a.sig[i] = b.sig[i]))::DOUBLE
    / CAST({_EST_HASHES} AS DOUBLE) - v.jacc), 6) AS abs_err
FROM verified v
JOIN sig a ON a.doc_id = v.src_id
JOIN sig b ON b.doc_id = v.dst_id
WHERE v.jacc >= 0.3
""",
)
def dedup_minhash_estimate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Signature-agreement Jaccard estimate next to the exact value for
    every verified near-dup pair (16-wide signature, 8 bands × 2 rows).
    The agreement count is an integer and the exact Jaccard a ratio of
    set sizes, so every output float is bit-exact replayable."""
    docs = load_table(spark, sf_dir, "documents")
    pairs = D.minhash_near_dup_pairs(
        docs, num_hashes=_EST_HASHES, bands=_EST_BANDS, shingle_n=3,
        threshold=0.3,
    )
    sigs = D.minhash_signatures(docs, num_hashes=_EST_HASHES, shingle_n=3)
    sa = sigs.select(
        F.col("doc_id").alias("_sa_id"), F.col("signature").alias("_sa")
    )
    sb = sigs.select(
        F.col("doc_id").alias("_sb_id"), F.col("signature").alias("_sb")
    )
    agree = F.size(
        F.filter(
            F.zip_with(F.col("_sa"), F.col("_sb"), lambda x, y: x == y),
            lambda m: m,
        )
    )
    est = agree.cast("double") / F.lit(float(_EST_HASHES))
    return (
        pairs.join(sa, pairs.src_id == F.col("_sa_id"))
        .join(sb, pairs.dst_id == F.col("_sb_id"))
        .select(
            "src_id",
            "dst_id",
            F.round("jaccard", 6).alias("jaccard"),
            est.alias("jaccard_est"),
            F.round(F.abs(est - F.col("jaccard")), 6).alias("abs_err"),
        )
    )


# ---------------------------------------------------------------------------
# band-bucket observability — the cap's dashboard (operators/dedup.py
# band_bucket_stats). A tiny cap (2) is used so the fixture actually
# exercises the capped branch; production uses DEFAULT_MAX_BUCKET_SIZE.
# ---------------------------------------------------------------------------

@query(
    "dedup_band_stats",
    oracle=f"""
WITH t AS (SELECT doc_id, {_TOKS} AS toks FROM documents),
sh AS (SELECT doc_id, {_SHINGLES} AS s FROM t),
hb AS (SELECT doc_id, s, list_transform(s, t -> {_md5_sql('t')}) AS hs FROM sh),
sig AS (SELECT doc_id, s, [{_SIG_MINS}] AS sig FROM hb),
bands AS ({_BAND_KEYS}),
sizes AS (
  SELECT band, band_key, COUNT(*) AS bucket_size
  FROM bands GROUP BY band, band_key
)
SELECT band, COUNT(*) AS n_buckets, MAX(bucket_size) AS max_bucket,
  CAST(SUM(CASE WHEN bucket_size > 2 THEN 1 ELSE 0 END) AS BIGINT)
    AS n_capped_buckets,
  CAST(SUM(CASE WHEN bucket_size > 2 THEN bucket_size ELSE 0 END) AS BIGINT)
    AS rows_in_capped
FROM sizes GROUP BY band
""",
)
def dedup_band_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-band LSH bucket-size distribution + how much the size cap would
    degrade to hub-star candidates — the observability that tells an
    operator whether a corpus is boilerplate-skewed BEFORE the pair join
    runs. Two grouped aggregates, no joins."""
    docs = load_table(spark, sf_dir, "documents")
    sk = D.minhash_signatures(docs, num_hashes=_NUM_HASHES, shingle_n=3)
    entries = D.minhash_band_entries(
        sk, num_hashes=_NUM_HASHES, bands=_BANDS
    )
    return D.band_bucket_stats(entries, max_bucket_size=2)


# ---------------------------------------------------------------------------
# language-ID evaluation — the predicted-vs-gold confusion matrix, the eval
# primitive every heuristic labeler in a training-data pipeline needs. The
# fixture's `lang` column is the gold label; the heuristic's per-cell counts
# (and per-gold-language hit rates) are the accuracy surface.
# ---------------------------------------------------------------------------

@query(
    "lang_id_confusion",
    oracle=f"""
WITH base AS (SELECT doc_id, lang, text, {_TOKS} AS toks FROM documents),
ext AS (
  SELECT doc_id, lang,
    length(text) AS n_chars,
    len(toks) AS n_tokens,
    len(list_filter(toks, t -> list_contains({_STOP_SQL}, t))) AS n_stop,
    length(text) - length(regexp_replace(text, '[\\x{{4e00}}-\\x{{9fff}}]', '', 'g')) AS n_cjk
  FROM base
),
pred AS (
  SELECT lang,
    CASE WHEN (CASE WHEN n_chars = 0 THEN 0.0
               ELSE n_cjk::DOUBLE / n_chars END) > 0.2 THEN 'zh'
         WHEN (CASE WHEN n_tokens = 0 THEN 0.0
               ELSE n_stop::DOUBLE / n_tokens END) > 0.08 THEN 'en'
         ELSE 'unknown' END AS lang_pred
  FROM ext
)
SELECT lang, lang_pred, COUNT(*) AS n_docs
FROM pred GROUP BY lang, lang_pred
""",
)
def lang_id_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(gold lang, predicted lang, count) over the corpus — one map-side
    projection + one grouped count on a tiny (|langs|²) domain."""
    docs = load_table(spark, sf_dir, "documents")
    return (
        docs.select("lang", TX.lang_id_expr("text").alias("lang_pred"))
        .groupBy("lang", "lang_pred")
        .agg(F.count("*").alias("n_docs"))
    )


# ---------------------------------------------------------------------------
# chunking — overlapping token windows (text.chunk_documents)
# ---------------------------------------------------------------------------

_CHUNK, _OVERLAP = 40, 10
_STRIDE = _CHUNK - _OVERLAP


@query(
    "documents_chunked",
    oracle=f"""
WITH t AS (
  SELECT doc_id, {_TOKS} AS toks FROM documents WHERE doc_id < 200
),
n AS (
  SELECT doc_id, toks,
    GREATEST(1, CAST((len(toks) - 10 + 29) // 30 AS INT)) AS nc
  FROM t
),
expl AS (
  SELECT doc_id, toks, unnest(range(0, nc)) AS chunk_id FROM n
)
SELECT doc_id, CAST(chunk_id AS INT) AS chunk_id,
  array_to_string(list_slice(toks, chunk_id * {_STRIDE} + 1,
                             chunk_id * {_STRIDE} + {_CHUNK}), ' ')
    AS chunk_text,
  CAST(len(list_slice(toks, chunk_id * {_STRIDE} + 1,
                      chunk_id * {_STRIDE} + {_CHUNK})) AS BIGINT)
    AS n_chunk_tokens
FROM expl
""",
)
def documents_chunked(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Overlapping 40-token windows with 10-token overlap over the first
    200 docs — the RAG-prep chunker as a map-only scan projection
    (text.chunk_documents)."""
    docs = load_table(spark, sf_dir, "documents").filter(
        F.col("doc_id") < 200
    )
    return TX.chunk_documents(docs, chunk_tokens=_CHUNK, overlap=_OVERLAP)


# ---------------------------------------------------------------------------
# chunk-level exact dedup — boilerplate chunks repeating ACROSS documents
# (headers, disclaimers, license blocks): the chunk-table twin of
# dedup_exact, over the chunk_documents projection.
# ---------------------------------------------------------------------------

@query(
    "dedup_chunk_exact",
    oracle=f"""
WITH t AS (
  SELECT doc_id, {_TOKS} AS toks FROM documents WHERE doc_id < 500
),
n AS (
  SELECT doc_id, toks,
    GREATEST(1, CAST((len(toks) - 10 + 29) // 30 AS INT)) AS nc
  FROM t
),
chunks AS (
  SELECT doc_id,
    array_to_string(list_slice(toks, chunk_id * 30 + 1, chunk_id * 30 + 40),
                    ' ') AS chunk_text
  FROM (SELECT doc_id, toks, unnest(range(0, nc)) AS chunk_id FROM n)
),
grouped AS (
  SELECT {_md5_sql('chunk_text')} AS chunk_hash,
    COUNT(*) AS n_occurrences,
    COUNT(DISTINCT doc_id) AS n_docs,
    MIN(doc_id) AS first_doc
  FROM chunks GROUP BY 1
)
SELECT chunk_hash, n_occurrences, n_docs, first_doc
FROM grouped WHERE n_docs > 1
ORDER BY n_occurrences DESC, chunk_hash
LIMIT 20
""",
)
def dedup_chunk_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chunks (40 tokens, 10 overlap) shared verbatim by MULTIPLE docs —
    the boilerplate detector a chunk-level RAG corpus runs before
    embedding (embedding the same disclaimer 10k times wastes index space
    and poisons retrieval). Shuffle carries (60-bit hash, counts), never
    chunk text; top-20 via TakeOrderedAndProject."""
    from vervectordb_spark.functions.hashing import md5_long
    from vervectordb_spark.operators.text import chunk_documents

    docs = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 500)
    chunks = chunk_documents(docs, chunk_tokens=40, overlap=10)
    grouped = (
        chunks.groupBy(md5_long(F.col("chunk_text")).alias("chunk_hash"))
        .agg(
            F.count("*").alias("n_occurrences"),
            F.countDistinct("doc_id").alias("n_docs"),
            F.min("doc_id").alias("first_doc"),
        )
        .filter(F.col("n_docs") > 1)
    )
    return grouped.orderBy(
        F.desc("n_occurrences"), F.asc("chunk_hash")
    ).limit(20)


# ---------------------------------------------------------------------------
# SimHash hamming-distance histogram — the threshold-tuning dashboard:
# how many doc pairs sit at each hamming distance ≤ 8. At 100 TB this runs
# over the BANDED candidate pairs (bounded); the all-pairs form here is the
# small-N oracle shape, like dedup_ngram_jaccard.
# ---------------------------------------------------------------------------

_POPCNT_TERMS = " + ".join(
    f"((x >> {b}) & 1)" for b in range(D.SIMHASH_BITS)
)


@query(
    "simhash_hamming_hist",
    oracle=f"""
WITH t AS (SELECT doc_id, {_TOKS} AS toks FROM documents WHERE doc_id < 300),
h AS (SELECT doc_id, list_transform(toks, t -> {_md5_sql('t')}) AS hs FROM t),
fp AS (SELECT doc_id, ({_SIMHASH_TERMS}) AS simhash FROM h),
pairs AS (
  SELECT xor(a.simhash, b.simhash) AS x
  FROM fp a JOIN fp b ON a.doc_id < b.doc_id
),
dist AS (SELECT ({_POPCNT_TERMS}) AS hamming FROM pairs)
SELECT CAST(hamming AS INT) AS hamming, COUNT(*) AS n_pairs
FROM dist WHERE hamming <= 8 GROUP BY hamming
""",
)
def simhash_hamming_hist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pair count per hamming distance (≤ 8) over SimHash fingerprints of
    the first 300 docs — the histogram that picks max_hamming: the gap
    between the near-dup mass at 0-3 and the random-pair mass tells an
    operator where to cut (operators/dedup.simhash_expr + hamming_expr)."""
    docs = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 300)
    fp = docs.select(
        "doc_id", D.simhash_expr("text").alias("simhash")
    )
    a = fp.select(F.col("doc_id").alias("_a"), F.col("simhash").alias("_fa"))
    b = fp.select(F.col("doc_id").alias("_b"), F.col("simhash").alias("_fb"))
    pairs = a.join(b, F.col("_a") < F.col("_b"))
    dist = pairs.select(
        D.hamming_expr(F.col("_fa"), F.col("_fb")).cast("int").alias("hamming")
    )
    return (
        dist.filter(F.col("hamming") <= 8)
        .groupBy("hamming")
        .agg(F.count("*").alias("n_pairs"))
    )


# ---------------------------------------------------------------------------
# SemDeDup — cluster-bounded embedding near-dup (the published scale path)
# ---------------------------------------------------------------------------

from vervectordb_spark.queries import _cos as _COS_SQL  # noqa: E402


@query(
    "dedup_semdedup",
    # Self-dots are hoisted into MATERIALIZED per-row columns: _COS_SQL
    # inline evaluates FIVE list_dot_product folds per pair (a·a twice in
    # the CASE, b·b twice, a·b once); with ss/css precomputed each pair
    # costs ONE fold plus scalar ops, and sqrt(a.ss) is the sqrt of the
    # identical double — bit-exact to the inline form (VERDICT r10 task
    # #3: this replay was 448 s of the sf1 gate).
    oracle="""
WITH cent AS MATERIALIZED (
  SELECT vec_id::INTEGER AS cluster_id, embedding::DOUBLE[] AS cv,
         list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[]) AS css
  FROM embeddings WHERE vec_id < 8
),
emb2 AS MATERIALIZED (
  SELECT vec_id, embedding::DOUBLE[] AS v,
         list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[]) AS ss
  FROM embeddings
),
assign AS (
  SELECT e.vec_id, e.v, e.ss, c.cluster_id,
         row_number() OVER (
           PARTITION BY e.vec_id
           ORDER BY (CASE WHEN e.ss = 0 OR c.css = 0 THEN 0.0
                          ELSE list_dot_product(e.v, c.cv)
                               / (sqrt(e.ss) * sqrt(c.css)) END) DESC,
                    c.cluster_id
         ) AS rk
  FROM emb2 e CROSS JOIN cent c
),
a2 AS MATERIALIZED (SELECT vec_id, v, ss, cluster_id FROM assign WHERE rk = 1),
pairs AS (
  SELECT a.cluster_id, a.vec_id AS src_id, b.vec_id AS dst_id,
         CASE WHEN a.ss = 0 OR b.ss = 0 THEN 0.0
              ELSE list_dot_product(a.v, b.v)
                   / (sqrt(a.ss) * sqrt(b.ss)) END AS sim
  FROM a2 a JOIN a2 b
    ON a.cluster_id = b.cluster_id AND a.vec_id < b.vec_id
)
SELECT cluster_id, src_id, dst_id, ROUND(sim, 6) AS sim
FROM (SELECT * FROM pairs ORDER BY sim DESC, src_id, dst_id LIMIT 20)
""",
)
def dedup_semdedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup-shaped embedding dedup (operators/dedup.semdedup_pairs):
    nearest-centroid assignment (8 fixture rows as centroids, matching the
    ivf_cluster_stats convention) bounds the candidate pairs to
    within-cluster — Σ|cluster|² ≈ N²/k work instead of the all-pairs N²
    that `dedup_embedding_cosine`'s exact kNN baseline pays. Top-20 pairs
    by cosine; at production thresholds pass `threshold=` and drop the
    top-k. One cluster_id-keyed shuffle; centroids broadcast.

    This fold variant with a FIXED k is the bit-exact oracle spec only:
    the production path sizes k for constant occupancy (k ≈ N/256 — a
    constant k makes pair volume quadratic, SCALE.md round-5 finding) and
    scores each cluster with the blocked-GEMM kernel
    (within_cluster_pairs(kernel="gemm"), what bench.py measures)."""
    emb = load_table(spark, sf_dir, "embeddings")
    cent = (
        emb.filter(F.col("vec_id") < 8)
        .select(
            F.col("vec_id").cast("int").alias("cluster_id"),
            F.transform(F.col("embedding"),
                        lambda x: x.cast("double")).alias("centroid"),
        )
    )
    pairs = D.semdedup_pairs(emb, cent)
    return (
        pairs.orderBy(F.desc("sim"), F.asc("src_id"), F.asc("dst_id"))
        .limit(20)
        .select("cluster_id", "src_id", "dst_id",
                F.round("sim", 6).alias("sim"))
    )


# ---------------------------------------------------------------------------
# winnowing fingerprints (MOSS) — positional k-gram hashes, min per sliding
# window, distinct. k=3 words, w=4 windows (expected density 2/(w+1)=0.4).
# The oracle rebuilds the identical pipeline in DuckDB list functions.
# ---------------------------------------------------------------------------

_WK = D.DEFAULT_WINNOW_K  # 3
_WW = D.DEFAULT_WINNOW_W  # 4

#: positional word k-grams — like _SHINGLES but ORDER KEPT, dupes kept
_PSHINGLES = (
    "list_transform("
    f"range(1, greatest(len(toks) - {_WK - 1}, 1) + 1), "
    f"i -> array_to_string(list_slice(toks, i, i + {_WK - 1}), ' '))"
)

#: window minima over the hash sequence hs (clamped slice = short-doc rule)
_WMINS = (
    "list_transform("
    f"range(1, greatest(len(hs) - {_WW - 1}, 1) + 1), "
    f"j -> list_min(list_slice(hs, j, j + {_WW - 1})))"
)


@query(
    "winnow_fingerprint_profile",
    oracle=f"""
WITH toked AS (SELECT doc_id, {_TOKS} AS toks FROM documents),
hashed AS (
  SELECT doc_id,
         list_transform({_PSHINGLES}, s -> {_md5_sql('s')}) AS hs
  FROM toked
),
fps AS (
  SELECT doc_id, list_sort(list_distinct({_WMINS})) AS fps FROM hashed
)
SELECT doc_id,
       len(fps)::BIGINT AS n_fps,
       fps[1] AS fp_min,
       fps[len(fps)] AS fp_max
FROM fps
""",
)
def winnow_fingerprint_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document winnowed fingerprint profile via the Arrow kernel
    (the production path — the oracle gate thereby pins kernel == spec
    == DuckDB on the full corpus every round)."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    fps = D.winnow_table(docs, k=_WK, w=_WW, kernel="arrow")
    return fps.groupBy("doc_id").agg(
        F.count("*").cast("long").alias("n_fps"),
        F.min("fp").alias("fp_min"),
        F.max("fp").alias("fp_max"),
    )


@query(
    "winnow_overlap",
    oracle=f"""
WITH base AS (
  SELECT doc_id, text FROM documents
  UNION ALL
  SELECT -(doc_id + 1) AS doc_id,
         'planted preamble boilerplate ' || text AS text
  FROM documents WHERE doc_id < 20
),
toked AS (SELECT doc_id, {_TOKS} AS toks FROM base),
hashed AS (
  SELECT doc_id,
         list_transform({_PSHINGLES}, s -> {_md5_sql('s')}) AS hs
  FROM toked
),
fpe AS (
  SELECT doc_id, unnest(list_distinct({_WMINS})) AS fp FROM hashed
),
sized AS (
  SELECT * FROM fpe
  QUALIFY COUNT(*) OVER (PARTITION BY fp) <= 1000
),
pairs AS (
  SELECT a.doc_id AS src_id, b.doc_id AS dst_id
  FROM sized a JOIN sized b USING (fp)
  WHERE a.doc_id < b.doc_id
)
SELECT src_id, dst_id, COUNT(*)::BIGINT AS n_shared
FROM pairs
GROUP BY src_id, dst_id
HAVING COUNT(*) >= 2
ORDER BY n_shared DESC, src_id, dst_id
LIMIT 50
""",
)
def winnow_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MOSS-style contiguous-passage overlap: pairs sharing >= 2 winnowed
    fingerprints, top-50 by shared count. 20 planted copies carry a
    3-word prefix — a pure position SHIFT plus novel leading k-grams —
    and must still surface: winnowing fingerprints by value, not
    position, so every surviving window minimum of the original text
    reappears in the planted copy. Planted ids are NEGATIVE (-(id+1)) so
    they can never collide with an organic doc_id at any scale factor
    (a fixed +30000 offset conflated documents at sf1+).
    Prefix-planting (vs dedup_exact's
    byte copies) is what separates this from exact/MinHash dedup in the
    test matrix. Fingerprints shared by > 1000 docs are dropped on BOTH
    engines (stop-fingerprint cap, operators/dedup.winnow_overlap_pairs)."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    planted = docs.filter(F.col("doc_id") < 20).select(
        (-(F.col("doc_id") + 1)).alias("doc_id"),
        F.concat(F.lit("planted preamble boilerplate "), F.col("text")).alias(
            "text"
        ),
    )
    base = docs.unionByName(planted)
    fps = D.winnow_table(base, k=_WK, w=_WW, kernel="arrow")
    pairs = D.winnow_overlap_pairs(fps, min_shared=2, max_bucket_size=1000)
    return pairs.orderBy(
        F.desc("n_shared"), F.asc("src_id"), F.asc("dst_id")
    ).limit(50)


# ---------------------------------------------------------------------------
# incremental near-dup — new batch vs historical corpus (the daily-crawl
# dedup shape: history×history pairs are never generated). History =
# doc_id < 400; new batch = the rest plus 10 planted copies of history
# docs (negative ids, collision-proof at any scale) that MUST be flagged.
# ---------------------------------------------------------------------------


@query(
    "dedup_incremental",
    oracle=f"""
WITH base AS (
  SELECT doc_id, text FROM documents
  UNION ALL
  SELECT -(doc_id + 1) AS doc_id, text FROM documents WHERE doc_id < 10
),
t AS (SELECT doc_id, {_TOKS} AS toks FROM base),
sh AS (SELECT doc_id, {_SHINGLES} AS s FROM t),
hb AS (SELECT doc_id, s, list_transform(s, t -> {_md5_sql('t')}) AS hs FROM sh),
sig AS (SELECT doc_id, s, [{_SIG_MINS}] AS sig FROM hb),
bands AS ({_BAND_KEYS}),
hist AS (
  SELECT doc_id, band, band_key FROM bands
  WHERE doc_id >= 0 AND doc_id < 400
  QUALIFY COUNT(*) OVER (PARTITION BY band, band_key) <= 1000
),
newb AS (SELECT doc_id, band, band_key FROM bands
         WHERE doc_id >= 400 OR doc_id < 0),
cand AS (
  SELECT DISTINCT n.doc_id AS new_id, h.doc_id AS hist_id
  FROM newb n JOIN hist h ON n.band = h.band AND n.band_key = h.band_key
),
verified AS (
  SELECT c.new_id, c.hist_id, {_jaccard_sql('x.s', 'y.s')} AS jacc
  FROM cand c
  JOIN sh x ON x.doc_id = c.new_id
  JOIN sh y ON y.doc_id = c.hist_id
)
SELECT new_id, hist_id, ROUND(jacc, 6) AS jaccard
FROM verified WHERE jacc >= 0.3
""",
)
def dedup_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental-crawl dedup: which NEW documents near-duplicate the
    history (operators/dedup.incremental_near_dup_pairs — |new|·occupancy
    cost, never |corpus|²). The 10 planted history copies in the new
    batch carry NEGATIVE ids (-(id+1) — collision-proof at any scale
    factor, unlike a fixed offset) and are guaranteed catches; organic new-vs-history collisions ride
    along at the same 0.3 threshold as dedup_minhash."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    hist = docs.filter(F.col("doc_id") < 400)
    planted = docs.filter(F.col("doc_id") < 10).select(
        (-(F.col("doc_id") + 1)).alias("doc_id"), "text"
    )
    new = docs.filter(F.col("doc_id") >= 400).unionByName(planted)
    pairs = D.incremental_near_dup_pairs(
        new, hist, num_hashes=_NUM_HASHES, bands=_BANDS,
        shingle_n=3, threshold=0.3,
    )
    return pairs.select(
        "new_id", "hist_id", F.round("jaccard", 6).alias("jaccard")
    )
