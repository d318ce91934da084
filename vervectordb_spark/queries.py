"""Query registry — the driver-facing contract.

Every implemented operator from SURVEY.md §2 (plus the pipeline extensions)
registers here as a pair:

  * a PySpark query  (spark, sf_dir) -> DataFrame
  * a DuckDB oracle  ANSI-SQL string over the same parquet views

The driver hash-compares both at sf0.01, order-insensitively, after sorting
columns by name — so column NAMES and TYPES are aligned on both sides, ties
are broken deterministically (ORDER BY sim DESC, id), and every float column
is derived from arithmetic that is bit-identical across engines:

  * cosine/dot: double-cast elements + sequential fold == DuckDB
    list_dot_product(x::DOUBLE[], y::DOUBLE[]) — verified bit-exact;
  * money aggregates: DECIMAL sums (exact, order-independent), cast to
    double and rounded only at the end;
  * ratios: single int/int divisions;
  * SIGNED near-zero outputs (z-scores, rotated coordinates): append
    `+ 0.0` after the final ROUND on BOTH sides — duckdb's ROUND of a
    tiny negative yields -0.0 where Spark's yields +0.0, the hash gate
    compares reprs, and IEEE guarantees -0.0 + 0.0 == +0.0 everywhere
    (first hit by hd_rotate_profile at the 20k-row sf1 fixture).

Registration is via the @query decorator; `vervectordb_spark.queries.QUERIES`
and `.ORACLES` feed `__spark_entry__.py` directly.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from vervectordb_spark.functions.similarity import cosine_expr, norm_expr, to_double
from vervectordb_spark.operators import search as S
from vervectordb_spark.schema import load_table

QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {}
ORACLES: dict[str, str] = {}


def query(name: str, oracle: str | None = None):
    def deco(fn):
        QUERIES[name] = fn
        if oracle is not None:
            ORACLES[name] = oracle
        return fn

    return deco


# --------------------------------------------------------------------------
# Shared SQL fragments (DuckDB side of the bit-exact cosine contract).
# --------------------------------------------------------------------------

def _dot(a: str, b: str) -> str:
    return f"list_dot_product({a}, {b})"


def _cos(a: str, b: str) -> str:
    """DuckDB twin of functions.similarity.cosine_expr (zero-norm guard
    mirrors vervectordb/__init__.py:34-35)."""
    return (
        f"(CASE WHEN {_dot(a, a)} = 0 OR {_dot(b, b)} = 0 THEN 0.0 "
        f"ELSE {_dot(a, b)} / (sqrt({_dot(a, a)}) * sqrt({_dot(b, b)})) END)"
    )


_E = "e.embedding::DOUBLE[]"
_QV = "q.qv"
_Q0 = "SELECT embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id = 0"


def _query_vec(spark: SparkSession, sf_dir: str, vec_id: int = 0) -> list[float]:
    """Fetch a fixture row to use as the query vector — the analogue of the
    reference caller passing `query_vector` (vervectordb/__init__.py:341)."""
    row = (
        load_table(spark, sf_dir, "embeddings")
        .filter(F.col("vec_id") == vec_id)
        .select("embedding")
        .collect()
    )
    return [float(x) for x in row[0][0]]


# --------------------------------------------------------------------------
# Q1 — exact brute-force top-k (reference vervectordb/__init__.py:337-365)
# --------------------------------------------------------------------------

@query(
    "topk_brute_force",
    oracle=f"""
WITH q AS ({_Q0}),
scored AS (
  SELECT e.vec_id, e.label, {_cos(_E, _QV)} AS sim
  FROM embeddings e CROSS JOIN q
)
SELECT vec_id, label, ROUND(sim, 6) AS sim
FROM (SELECT * FROM scored ORDER BY sim DESC, vec_id LIMIT 10)
""",
)
def topk_brute_force(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    qv = _query_vec(spark, sf_dir)
    out = S.brute_force_topk(emb, qv, top_k=10, extra_cols=("label",))
    return out.select("vec_id", "label", F.round("sim", 6).alias("sim"))


# --------------------------------------------------------------------------
# Q7/Q8 — filtered search, pre-filter semantics (D1)
# --------------------------------------------------------------------------

@query(
    "topk_filtered_label",
    oracle=f"""
WITH q AS ({_Q0}),
scored AS (
  SELECT e.vec_id, e.label, {_cos(_E, _QV)} AS sim
  FROM embeddings e CROSS JOIN q
  WHERE e.label IN (1, 3)
)
SELECT vec_id, label, ROUND(sim, 6) AS sim
FROM (SELECT * FROM scored ORDER BY sim DESC, vec_id LIMIT 10)
""",
)
def topk_filtered_label(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Metadata-predicate search (reference filter_func surface,
    vervectordb/__init__.py:337,352) — predicate pushed into the scan."""
    emb = load_table(spark, sf_dir, "embeddings")
    qv = _query_vec(spark, sf_dir)
    out = S.brute_force_topk(
        emb, qv, top_k=10, pre_filter=F.col("label").isin(1, 3),
        extra_cols=("label",),
    )
    return out.select("vec_id", "label", F.round("sim", 6).alias("sim"))


@query(
    "topk_keyword_filter",
    oracle=f"""
WITH q AS ({_Q0}),
scored AS (
  SELECT e.vec_id, d.lang, {_cos(_E, _QV)} AS sim
  FROM embeddings e
  JOIN documents d ON d.doc_id = e.vec_id
  CROSS JOIN q
  WHERE lower(d.text) LIKE '%spark%' OR lower(d.text) LIKE '%window%'
)
SELECT vec_id, lang, ROUND(sim, 6) AS sim
FROM (SELECT * FROM scored ORDER BY sim DESC, vec_id LIMIT 10)
""",
)
def topk_keyword_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Keyword OR-containment over the text corpus joined to vectors
    (reference vervectordb/__init__.py:540-544: case-insensitive substring,
    OR over keywords)."""
    emb = load_table(spark, sf_dir, "embeddings")
    docs = load_table(spark, sf_dir, "documents")
    qv = _query_vec(spark, sf_dir)
    joined = emb.join(docs, emb.vec_id == docs.doc_id).filter(
        S.keyword_filter("text", ["spark", "window"])
    )
    out = S.brute_force_topk(joined, qv, top_k=10, extra_cols=("lang",))
    return out.select("vec_id", "lang", F.round("sim", 6).alias("sim"))


@query(
    "filtered_search_combined",
    oracle=f"""
WITH q AS ({_Q0}),
scored AS (
  SELECT e.vec_id, e.label, {_cos(_E, _QV)} AS sim
  FROM embeddings e
  JOIN documents d ON d.doc_id = e.vec_id
  CROSS JOIN q
  WHERE (lower(d.text) LIKE '%scan%' OR lower(d.text) LIKE '%batch%')
    AND e.label <> 2
)
SELECT vec_id, label, ROUND(sim, 6) AS sim
FROM (SELECT * FROM scored ORDER BY sim DESC, vec_id LIMIT 10)
""",
)
def filtered_search_combined(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q7 full surface: keywords AND metadata predicate combined
    (vervectordb/__init__.py:538-554)."""
    emb = load_table(spark, sf_dir, "embeddings")
    docs = load_table(spark, sf_dir, "documents")
    qv = _query_vec(spark, sf_dir)
    joined = emb.join(docs, emb.vec_id == docs.doc_id)
    out = S.filtered_search(
        joined, qv, top_k=10,
        keywords=["scan", "batch"],
        metadata_filter=F.col("label") != 2,
        extra_cols=("label",),
    )
    return out.select("vec_id", "label", F.round("sim", 6).alias("sim"))


# --------------------------------------------------------------------------
# Q6 — batched multi-query search (fixed to actually batch)
# --------------------------------------------------------------------------

@query(
    "batch_topk",
    oracle=f"""
WITH qs AS (
  SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id < 8
),
scored AS (
  SELECT q.query_id, e.vec_id, {_cos(_E, _QV)} AS sim
  FROM embeddings e CROSS JOIN qs q
),
ranked AS (
  SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, vec_id) AS rk
  FROM scored
)
SELECT query_id, vec_id, rk::INTEGER AS rank, ROUND(sim, 6) AS sim
FROM ranked WHERE rk <= 5
""",
)
def batch_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("q_embedding")
    )
    out = S.batch_topk(emb, queries, top_k=5, kernel="fold")
    return out.select(
        "query_id", "vec_id", F.col("rank").cast("int").alias("rank"),
        F.round("sim", 6).alias("sim"),
    )


# --------------------------------------------------------------------------
# P1 — point lookup
# --------------------------------------------------------------------------

@query(
    "point_lookup",
    oracle=f"""
SELECT e.vec_id, e.label, len(e.embedding) AS dim,
       ROUND(sqrt({_dot(_E, _E)}), 6) AS norm
FROM embeddings e WHERE e.vec_id = 42
""",
)
def point_lookup(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    return S.point_lookup(emb, 42).select(
        "vec_id",
        "label",
        F.size("embedding").alias("dim"),
        F.round(norm_expr(to_double(F.col("embedding"))), 6).alias("norm"),
    )


# --------------------------------------------------------------------------
# P2/P3/S3 — copy-on-write mutation + append (CRUD on immutable storage)
# --------------------------------------------------------------------------

_UPD_VEC = [0.1] * 64  # replacement embedding for the update query


@query(
    "crud_update",
    oracle=f"""
WITH updated AS (
  SELECT vec_id, embedding::DOUBLE[] AS emb, label FROM embeddings WHERE vec_id <> 7
  UNION ALL
  SELECT 7 AS vec_id, list_transform(range(64), i -> 0.1) AS emb, 99 AS label
)
SELECT vec_id, label, len(emb) AS dim, ROUND(sqrt(list_dot_product(emb, emb)), 6) AS norm
FROM updated WHERE vec_id = 7
""",
)
def crud_update(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P2 as copy-on-write: anti-filter + union of the replacement row
    (reference mutates in place, vervectordb/__init__.py:311-322; Spark
    rewrites — and derived indexes are invalidated, fixing SURVEY §1.3)."""
    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", to_double(F.col("embedding")).alias("emb"), "label"
    )
    new_row = spark.range(1).select(
        F.lit(7).cast("long").alias("vec_id"),
        F.array([F.lit(0.1).cast("double")] * 64).alias("emb"),
        F.lit(99).cast("int").alias("label"),
    )
    updated = emb.filter(F.col("vec_id") != 7).unionByName(new_row)
    return updated.filter(F.col("vec_id") == 7).select(
        "vec_id", "label", F.size("emb").alias("dim"),
        F.round(norm_expr(F.col("emb")), 6).alias("norm"),
    )


@query(
    "crud_delete",
    oracle="""
SELECT COUNT(*) AS n_rows, CAST(SUM(label) AS BIGINT) AS label_sum
FROM embeddings WHERE vec_id >= 5
""",
)
def crud_delete(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P3: delete = anti-filter rewrite; result state is verifiable as the
    aggregate over the surviving rows."""
    emb = load_table(spark, sf_dir, "embeddings")
    surviving = emb.filter(~(F.col("vec_id") < 5))
    return surviving.agg(
        F.count("*").alias("n_rows"), F.sum("label").alias("label_sum")
    )


@query(
    "ingest_append",
    oracle="""
WITH appended AS (
  SELECT vec_id, label FROM embeddings
  UNION ALL SELECT * FROM (VALUES (9001, 1), (9002, 3)) t(vec_id, label)
)
SELECT label, COUNT(*) AS cnt FROM appended GROUP BY label
""",
)
def ingest_append(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S2/S3: append-only ingest (reference batch_insert,
    vervectordb/__init__.py:269-299) verified via post-append aggregate."""
    emb = load_table(spark, sf_dir, "embeddings").select("vec_id", "label")
    new_rows = spark.createDataFrame(
        [(9001, 1), (9002, 3)],
        T.StructType([
            T.StructField("vec_id", T.LongType(), False),
            T.StructField("label", T.IntegerType(), False),
        ]),
    )
    return emb.unionByName(new_rows).groupBy("label").agg(F.count("*").alias("cnt"))


# --------------------------------------------------------------------------
# Similarity self-join: exact kNN for every row (pipeline primitive)
# --------------------------------------------------------------------------

@query(
    "knn_self_join",
    # Oracle mirrors the engine's normalize-once-then-dot formulation
    # element-for-element (division then sequential fold), keeping the
    # cross-engine bit-exact contract with one fold per pair.
    # Parity-gate cost bound (full-registry sf1 gate, VERDICT r10 task
    # #3): the gated query ranks neighbors for a deterministic
    # _KNN_SRC_CAP-source slab against the FULL corpus — identical to the
    # unbounded query at the driver's sf0.01 gate (500 rows < cap, so
    # that hash is unchanged) while the sf1 replay drops from 3.6e9 pair
    # dots + a 3.6e9-row window sort (~594 s measured) to cap x N. The
    # unbounded operator itself stays exercised end-to-end by
    # bench.knn_self_join_top3 and the recall harness; MATERIALIZED n
    # keeps normalization once per row, not once per join side.
    oracle=f"""
WITH n AS MATERIALIZED (
  SELECT vec_id,
         CASE WHEN {_dot('embedding::DOUBLE[]', 'embedding::DOUBLE[]')} = 0
              THEN embedding::DOUBLE[]
              ELSE list_transform(embedding::DOUBLE[],
                     x -> x / sqrt({_dot('embedding::DOUBLE[]', 'embedding::DOUBLE[]')}))
         END AS ne
  FROM embeddings
),
pairs AS (
  SELECT a.vec_id AS src_id, b.vec_id AS dst_id, {_dot('a.ne', 'b.ne')} AS sim
  FROM n a JOIN n b ON a.vec_id <> b.vec_id
  WHERE a.vec_id < {{KNN_SRC_CAP}}
),
ranked AS (
  SELECT *, row_number() OVER (PARTITION BY src_id ORDER BY sim DESC, dst_id) AS rk
  FROM pairs
)
SELECT src_id, dst_id, rk::INTEGER AS rank, ROUND(sim, 6) AS sim
FROM ranked WHERE rk <= 3
""".replace("{KNN_SRC_CAP}", "2048"),
)
def knn_self_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    out = S.knn_self_join(emb, top_k=3, kernel="fold")
    # deterministic source slab (oracle comment above); a no-op filter at
    # sf <= 0.01 fixtures. Catalyst pushes it below the rank window
    # (src_id is the partition key) into the join's src side.
    out = out.filter(F.col("src_id") < 2048)
    return out.select(
        "src_id", "dst_id", F.col("rank").cast("int").alias("rank"),
        F.round("sim", 6).alias("sim"),
    )


# --------------------------------------------------------------------------
# Q4/Q5 — IVF: assignment → probe → partition-pruned rescore
# (vervectordb/__init__.py:411-487). Oracle-checkable via FIXED centroids
# (= first 16 fixture embeddings): assignment/probing/rescoring all use the
# fold cosine on both engines. The k-means build path (IVFIndex.build)
# is graded by the recall harness in tests/test_ivf.py instead.
# --------------------------------------------------------------------------

@query(
    "ivf_search_pruned",
    oracle=f"""
WITH cent AS (
  SELECT vec_id::INTEGER AS cluster_id, embedding::DOUBLE[] AS cv
  FROM embeddings WHERE vec_id < 16
),
q AS ({_Q0}),
assign AS (
  SELECT e.vec_id, e.embedding::DOUBLE[] AS emb, c.cluster_id,
         row_number() OVER (
           PARTITION BY e.vec_id
           ORDER BY {_cos('e.embedding::DOUBLE[]', 'c.cv')} DESC, c.cluster_id
         ) AS rk
  FROM embeddings e CROSS JOIN cent c
),
assigned AS (SELECT vec_id, emb, cluster_id FROM assign WHERE rk = 1),
probed AS (
  SELECT c.cluster_id FROM cent c CROSS JOIN q
  ORDER BY {_cos('c.cv', _QV)} DESC, c.cluster_id LIMIT 8
),
scored AS (
  SELECT a.vec_id, a.cluster_id, {_cos('a.emb', _QV)} AS sim
  FROM assigned a CROSS JOIN q
  WHERE a.cluster_id IN (SELECT cluster_id FROM probed)
)
SELECT vec_id, cluster_id, ROUND(sim, 6) AS sim
FROM (SELECT * FROM scored ORDER BY sim DESC, vec_id LIMIT 10)
""",
)
def ivf_search_pruned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q5 with the reference's defaults (nprobe = max(16//2, 8) = 8,
    vervectordb/__init__.py:441). Results carry the TRUE cluster_id —
    quirk B2 not reproduced."""
    from vervectordb_spark.operators.ivf import IVFIndex

    emb = load_table(spark, sf_dir, "embeddings")
    cent = emb.filter(F.col("vec_id") < 16).select(
        F.col("vec_id").cast("int").alias("cluster_id"),
        to_double(F.col("embedding")).alias("centroid"),
    )
    idx = IVFIndex.from_centroids(emb, cent)
    qv = _query_vec(spark, sf_dir)
    probed = idx.probe_clusters_exact(qv, nprobe=8)
    out = idx.search(qv, top_k=10, probed=probed)
    return out.select("vec_id", "cluster_id", F.round("sim", 6).alias("sim"))


# --------------------------------------------------------------------------
@query(
    "topk_dot_product",
    oracle=f"""
WITH q AS ({_Q0})
SELECT vec_id, ROUND(dp, 6) AS dot FROM (
  SELECT e.vec_id, {_dot(_E, _QV)} AS dp
  FROM embeddings e CROSS JOIN q
  ORDER BY dp DESC, e.vec_id LIMIT 10
)
""",
)
def topk_dot_product(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inner-product (MIPS) top-k — the FAISS METRIC_INNER_PRODUCT twin;
    right when corpus norms carry meaning (popularity-weighted item
    vectors, unnormalized encoders). Same scan/fold/TakeOrdered shape as
    cosine, one fold fewer."""
    emb = load_table(spark, sf_dir, "embeddings")
    qv = _query_vec(spark, sf_dir)
    out = S.brute_force_topk(emb, qv, top_k=10, metric="dot")
    return out.select("vec_id", F.round("sim", 6).alias("dot"))


@query(
    "topk_l2_nearest",
    oracle=f"""
WITH q AS ({_Q0}),
d AS (
  SELECT e.vec_id,
         list_transform(range(1, 65),
                        i -> (e.embedding::DOUBLE[])[i] - q.qv[i]) AS diff
  FROM embeddings e CROSS JOIN q
)
SELECT vec_id, ROUND(dist, 6) AS dist FROM (
  SELECT vec_id, sqrt(list_dot_product(diff, diff)) AS dist FROM d
  ORDER BY dist ASC, vec_id LIMIT 10
)
""",
)
def topk_l2_nearest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Euclidean nearest-10 — METRIC_L2, the PQ codebook-assignment
    metric served as a query (functions/similarity.l2_sql: sequential
    Σ(a−b)² fold == DuckDB list_dot_product(diff, diff), bit-exact).
    `sim` is a DISTANCE here: ascending rank."""
    emb = load_table(spark, sf_dir, "embeddings")
    qv = _query_vec(spark, sf_dir)
    out = S.brute_force_topk(emb, qv, top_k=10, metric="l2")
    return out.select("vec_id", F.round("sim", 6).alias("dist"))


@query(
    "topk_prefix_mrl",
    oracle=f"""
WITH q AS ({_Q0}),
p AS (
  SELECT e.vec_id,
         list_slice(e.embedding::DOUBLE[], 1, 16) AS pe,
         list_slice(q.qv, 1, 16) AS pq
  FROM embeddings e CROSS JOIN q
),
cand AS (
  SELECT vec_id, {_cos('pe', 'pq')} AS prefix_sim
  FROM p ORDER BY prefix_sim DESC, vec_id LIMIT 30
)
SELECT vec_id, ROUND(prefix_sim, 6) AS prefix_sim, ROUND(sim, 6) AS sim
FROM (
  SELECT e.vec_id, c.prefix_sim, {_cos(_E, _QV)} AS sim
  FROM embeddings e JOIN cand c USING (vec_id) CROSS JOIN q
  ORDER BY sim DESC, e.vec_id LIMIT 10
)
""",
)
def topk_prefix_mrl(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Matryoshka adaptive retrieval (operators/search.prefix_topk):
    candidates by cosine over the FIRST 16 of 64 dimensions (1/4 the
    candidate-scan arithmetic, zero index state — MRL-trained embeddings
    front-load information; on these fixtures the prefix is a
    random-projection-like proxy and the rerank pool supplies recall),
    exact full-dimension rerank of the top-30. Both the prefix sims and
    the final sims cross the hash gate — slice folds are the same
    sequential double arithmetic on both engines."""
    emb = load_table(spark, sf_dir, "embeddings")
    qv = _query_vec(spark, sf_dir)
    out = S.prefix_topk(emb, qv, top_k=10, prefix_dim=16, rerank_factor=3)
    return out.select("vec_id", F.round("prefix_sim", 6).alias("prefix_sim"),
                      F.round("sim", 6).alias("sim"))


@query(
    "range_search_radius",
    oracle=f"""
WITH q AS ({_Q0})
SELECT e.vec_id, ROUND({_cos(_E, _QV)}, 6) AS sim
FROM embeddings e CROSS JOIN q
WHERE {_cos(_E, _QV)} >= 0.25
""",
)
def range_search_radius(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Radius query (FAISS range_search counterpart; the reference is
    top-k-only): every row with cosine >= 0.25 to query vec 0. Map-only
    Scan → Project → Filter — no heap, no shuffle; the result cardinality
    is data-dependent (grows with the corpus), which is exactly what the
    oracle's row-count compare checks."""
    emb = load_table(spark, sf_dir, "embeddings")
    qv = _query_vec(spark, sf_dir)
    out = S.range_search(emb, qv, threshold=0.25)
    return out.select("vec_id", F.round("sim", 6).alias("sim"))


@query(
    "topk_per_label",
    oracle=f"""
WITH q AS ({_Q0}),
scored AS (
  SELECT e.label, e.vec_id, {_cos(_E, _QV)} AS sim
  FROM embeddings e CROSS JOIN q
)
SELECT label, vec_id, ROUND(sim, 6) AS sim, rk
FROM (
  SELECT *, row_number() OVER (
    PARTITION BY label ORDER BY sim DESC, vec_id
  ) AS rk FROM scored
) WHERE rk <= 2
""",
)
def topk_per_label(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Attribute-diversified retrieval: best 2 per label instead of a
    global top-k one dense cluster can monopolize — the exact, windowed
    cousin of MMR (operators/rerank.py). One window shuffle keyed on the
    group column."""
    emb = load_table(spark, sf_dir, "embeddings")
    qv = _query_vec(spark, sf_dir)
    out = S.topk_per_group(emb, qv, group_col="label", k_per_group=2)
    return out.select(
        "label", "vec_id", F.round("sim", 6).alias("sim"),
        F.col("rk").cast("int").alias("rk"),
    )


@query(
    "filtered_search_auto_selective",
    oracle=f"""
WITH q AS ({_Q0}),
scored AS (
  SELECT e.vec_id, {_cos(_E, _QV)} AS sim
  FROM embeddings e
  JOIN documents d ON d.doc_id = e.vec_id
  CROSS JOIN q
  WHERE e.label = 7 AND d.lang = 'zh'
)
SELECT vec_id, ROUND(sim, 6) AS sim
FROM (SELECT * FROM scored ORDER BY sim DESC, vec_id LIMIT 5)
""",
)
def filtered_search_auto_selective(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cost-based strategy dispatch (operators/search.filtered_search_auto):
    label=7 AND lang='zh' keeps ~2% of rows — below the 5% cutoff, so the
    dispatcher measures selectivity and routes to EXACT brute force over
    the survivors (probing an index would only lose recall once the filter
    already shrank the scan). The dense-filter branch routes through the
    IVF probe instead — plan-asserted in tests/test_search_ops.py (it is
    approximate, so it can't sit behind this exact-match gate)."""
    emb = load_table(spark, sf_dir, "embeddings")
    docs = load_table(spark, sf_dir, "documents")
    qv = _query_vec(spark, sf_dir)
    joined = emb.join(docs, emb.vec_id == docs.doc_id)
    out = S.filtered_search_auto(
        joined, qv, top_k=5,
        pre_filter=(F.col("label") == 7) & (F.col("lang") == "zh"),
    )
    return out.select("vec_id", F.round("sim", 6).alias("sim"))


# Extension registrations (import side effect): dedup + text analysis.
# Kept in their own modules; importing them populates QUERIES/ORACLES.
# --------------------------------------------------------------------------

from vervectordb_spark import queries_dedup  # noqa: E402,F401  (registration)
from vervectordb_spark import queries_relational  # noqa: E402,F401  (registration)
from vervectordb_spark import queries_pq  # noqa: E402,F401  (registration)
from vervectordb_spark import queries_ann  # noqa: E402,F401  (registration)
from vervectordb_spark import queries_multimodal  # noqa: E402,F401  (registration)
from vervectordb_spark import queries_embed  # noqa: E402,F401  (registration)
from vervectordb_spark import queries_pipeline  # noqa: E402,F401  (registration)
from vervectordb_spark import queries_tpch  # noqa: E402,F401  (registration)
from vervectordb_spark import queries_sketch  # noqa: E402,F401  (registration)
from vervectordb_spark import queries_hybrid  # noqa: E402,F401  (registration)
from vervectordb_spark import queries_curation  # noqa: E402,F401  (registration)
from vervectordb_spark import queries_sq  # noqa: E402,F401  (registration)
from vervectordb_spark import queries_rerank  # noqa: E402,F401  (registration)
from vervectordb_spark import queries_bq  # noqa: E402,F401  (registration)
from vervectordb_spark import queries_rotation  # noqa: E402,F401  (registration)
from vervectordb_spark import queries_bpe  # noqa: E402,F401  (registration)
from vervectordb_spark import queries_imi  # noqa: E402,F401  (registration)
from vervectordb_spark import queries_spans  # noqa: E402,F401  (registration)
from vervectordb_spark import queries_pretrain  # noqa: E402,F401  (registration)
from vervectordb_spark import queries_ulm  # noqa: E402,F401  (registration)


@query(
    "ivf_cluster_stats",
    oracle=f"""
WITH cent AS (
  SELECT vec_id::INTEGER AS cluster_id, embedding::DOUBLE[] AS cv
  FROM embeddings WHERE vec_id < 16
),
assign AS (
  SELECT e.vec_id, c.cluster_id,
         row_number() OVER (
           PARTITION BY e.vec_id
           ORDER BY {_cos('e.embedding::DOUBLE[]', 'c.cv')} DESC, c.cluster_id
         ) AS rk
  FROM embeddings e CROSS JOIN cent c
),
counts AS (
  SELECT cluster_id, CAST(COUNT(*) AS BIGINT) AS n_vectors
  FROM assign WHERE rk = 1 GROUP BY 1
)
SELECT cluster_id, n_vectors,
       ROUND(n_vectors::DOUBLE / SUM(n_vectors) OVER (), 6) AS share
FROM counts
""",
)
def ivf_cluster_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Index-layout observability: per-cluster occupancy + corpus share
    (IVFIndex.cluster_stats) over the frozen-centroid assignment — the
    skew report that decides when to raise k or re-fit."""
    from vervectordb_spark.operators.ivf import IVFIndex

    emb = load_table(spark, sf_dir, "embeddings")
    cent = emb.filter(F.col("vec_id") < 16).select(
        F.col("vec_id").cast("int").alias("cluster_id"),
        to_double(F.col("embedding")).alias("centroid"),
    )
    idx = IVFIndex.from_centroids(emb, cent)
    return idx.cluster_stats()


_DRIFT_SUMS = ",\n         ".join(
    f"SUM(ROUND((e.embedding::DOUBLE[])[{j + 1}], 6)::DECIMAL(24,6)) AS s{j}"
    for j in range(64)
)
_DRIFT_FOLD = " + ".join(
    f"(s{j}::DOUBLE / n - (c.cv)[{j + 1}]) * (s{j}::DOUBLE / n - (c.cv)[{j + 1}])"
    for j in range(64)
)


@query(
    "centroid_drift",
    oracle=f"""
WITH cent AS (
  SELECT vec_id::INTEGER AS cluster_id, embedding::DOUBLE[] AS cv
  FROM embeddings WHERE vec_id < 16
),
sc AS (
  SELECT e.vec_id, c.cluster_id,
         {_cos('e.embedding::DOUBLE[]', 'c.cv')} AS csim
  FROM embeddings e CROSS JOIN cent c
),
a AS (
  SELECT vec_id, cluster_id FROM (
    SELECT vec_id, cluster_id,
           row_number() OVER (PARTITION BY vec_id
                              ORDER BY csim DESC, cluster_id) AS rk
    FROM sc
  ) WHERE rk = 1
),
stats AS (
  SELECT a.cluster_id, COUNT(*)::BIGINT AS n,
         {_DRIFT_SUMS}
  FROM a JOIN embeddings e USING (vec_id)
  GROUP BY 1
)
SELECT s.cluster_id, s.n, ROUND(sqrt(0.0 + {_DRIFT_FOLD}), 6) AS drift
FROM stats s JOIN cent c ON c.cluster_id = s.cluster_id
""",
)
def centroid_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Index-maintenance trigger (operators/ivf.centroid_drift): per
    cluster, the L2 distance between the frozen centroid and the current
    member mean — the drift streaming/refresh.py's rebuild cadence
    should watch. One wide aggregate (Generate-free per-dim decimal
    sums), means by single divisions, drift as a fixed left-fold of
    squared deltas — bit-replayed end-to-end."""
    from vervectordb_spark.operators.ivf import centroid_drift as drift_op

    emb = load_table(spark, sf_dir, "embeddings")
    cent = emb.filter(F.col("vec_id") < 16).select(
        F.col("vec_id").cast("int").alias("cluster_id"),
        to_double(F.col("embedding")).alias("centroid"),
    )
    return drift_op(emb, cent, dim=64)


@query(
    "embedding_outliers",
    oracle=f"""
WITH cent AS (
  SELECT vec_id::INTEGER AS cluster_id, embedding::DOUBLE[] AS cv
  FROM embeddings WHERE vec_id < 16
),
sc AS (
  SELECT e.vec_id, c.cluster_id,
         {_cos('e.embedding::DOUBLE[]', 'c.cv')} AS csim
  FROM embeddings e CROSS JOIN cent c
),
a AS (
  SELECT vec_id, cluster_id, ROUND(csim, 6) + 0.0 AS sim_c FROM (
    SELECT vec_id, cluster_id, csim,
           row_number() OVER (PARTITION BY vec_id
                              ORDER BY csim DESC, cluster_id) AS rk
    FROM sc
  ) WHERE rk = 1
),
stats AS (
  SELECT cluster_id, COUNT(*)::BIGINT AS n,
         SUM(sim_c::DECIMAL(8,6)) AS s1,
         SUM(sim_c::DECIMAL(8,6) * sim_c::DECIMAL(8,6)) AS s2
  FROM a GROUP BY 1
),
st AS (
  SELECT cluster_id, n, mean, ex2 - mean * mean AS vr FROM (
    SELECT cluster_id, n, s1::DOUBLE / n AS mean, s2::DOUBLE / n AS ex2
    FROM stats
  )
)
SELECT cluster_id, vec_id, n, sim_c, z FROM (
  SELECT a.cluster_id, a.vec_id, s.n, a.sim_c,
         ROUND((a.sim_c - s.mean) / sqrt(s.vr), 4) + 0.0 AS z,
         row_number() OVER (PARTITION BY a.cluster_id
                            ORDER BY a.sim_c, a.vec_id) AS wrk
  FROM a JOIN st s USING (cluster_id) WHERE s.vr > 0
) WHERE wrk <= 3
""",
)
def embedding_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-quality audit (operators/ivf.cluster_outliers): the 3
    worst-fitting rows per cluster, z-scored against the cluster's own
    cosine-to-centroid distribution — the mislabeled/corrupt-vector
    detector. Moment sums are exact decimals; the mean/var/z chain is a
    fixed double-op sequence both engines replay verbatim, so sims AND
    z-scores cross the hash gate."""
    from vervectordb_spark.operators.ivf import cluster_outliers

    emb = load_table(spark, sf_dir, "embeddings")
    cent = emb.filter(F.col("vec_id") < 16).select(
        F.col("vec_id").cast("int").alias("cluster_id"),
        to_double(F.col("embedding")).alias("centroid"),
    )
    return cluster_outliers(emb, cent, worst_k=3)


# --------------------------------------------------------------------------
# store health audit — the data-quality face of S-ops: dim violations,
# zero-norm rows (the kernel's guard case), norm envelope. Counts and
# min/max only — no float sums, so every value is order-independent and
# bit-exact replayable.
# --------------------------------------------------------------------------

@query(
    "store_health_audit",
    oracle=f"""
WITH n AS (
  SELECT vec_id, len(embedding) AS dim, {_dot(_E, _E)} AS sq
  FROM embeddings e
)
SELECT COUNT(*) AS n_vectors,
  CAST(SUM(CASE WHEN dim <> 64 THEN 1 ELSE 0 END) AS BIGINT) AS n_wrong_dim,
  CAST(SUM(CASE WHEN sq = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_zero_norm,
  ROUND(MIN(sqrt(sq)), 6) AS min_norm,
  ROUND(MAX(sqrt(sq)), 6) AS max_norm
FROM n
""",
)
def store_health_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus invariants every ingest gate checks before search quality
    degrades silently: row count, dimension violations (the reference
    raises per-row, vervectordb/__init__.py:163 — at scale you COUNT
    first), zero-norm rows (the cosine kernel's guard case, :34-35), and
    the norm envelope. One map-side projection + one 1-row aggregate; no
    float additions cross the hash gate (counts and min/max only)."""
    from vervectordb_spark.functions.similarity import dot_expr

    emb = load_table(spark, sf_dir, "embeddings")
    e = to_double(F.col("embedding"))
    sq = dot_expr(e, e)
    base = emb.select(
        F.size("embedding").alias("_dim"), sq.alias("_sq")
    )
    return base.agg(
        F.count("*").alias("n_vectors"),
        F.sum(F.when(F.col("_dim") != 64, 1).otherwise(0))
        .cast("long")
        .alias("n_wrong_dim"),
        F.sum(F.when(F.col("_sq") == 0.0, 1).otherwise(0))
        .cast("long")
        .alias("n_zero_norm"),
        F.round(F.min(F.sqrt("_sq")), 6).alias("min_norm"),
        F.round(F.max(F.sqrt("_sq")), 6).alias("max_norm"),
    )
