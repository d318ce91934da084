"""Radius search, grouped top-k, and the cost-based filtered-search
dispatcher (operators/search.py round-5 additions)."""

import pytest

from pyspark.sql import functions as F

from vervectordb_spark.operators import search as S
from vervectordb_spark.schema import load_table

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def emb(spark):
    return load_table(spark, SF_DIR, "embeddings").cache()


@pytest.fixture(scope="module")
def qv(emb):
    return [float(v) for v in emb.filter(F.col("vec_id") == 0)
            .select("embedding").first()["embedding"]]


def test_range_search_matches_filtered_bruteforce(emb, qv):
    from vervectordb_spark.functions.similarity import cosine_expr

    got = {r["vec_id"]: r["sim"]
           for r in S.range_search(emb, qv, threshold=0.25).collect()}
    want = {
        r["vec_id"]: r["sim"]
        for r in emb.select("vec_id", cosine_expr("embedding", qv).alias("sim"))
        .filter(F.col("sim") >= 0.25).collect()
    }
    assert got == want and len(got) > 0


def test_range_search_plan_is_maponly(emb, qv):
    plan = S.range_search(emb, qv, threshold=0.25)._jdf.queryExecution() \
        .executedPlan().toString()
    assert "Exchange" not in plan  # scan -> project -> filter, no shuffle


def test_topk_per_group_every_group_capped(emb, qv):
    out = S.topk_per_group(emb, qv, group_col="label", k_per_group=2).collect()
    by_label = {}
    for r in out:
        by_label.setdefault(r["label"], []).append(r)
    n_labels = emb.select("label").distinct().count()
    assert len(by_label) == n_labels
    for rows in by_label.values():
        assert 1 <= len(rows) <= 2
        assert sorted(r["rk"] for r in rows) == list(range(1, len(rows) + 1))


def test_topk_per_group_best_is_global_best_of_group(emb, qv):
    from vervectordb_spark.functions.similarity import cosine_expr

    out = S.topk_per_group(emb, qv, group_col="label", k_per_group=1)
    got = {r["label"]: r["vec_id"] for r in out.collect()}
    for label, vid in got.items():
        best = (
            emb.filter(F.col("label") == label)
            .select("vec_id", cosine_expr("embedding", qv).alias("s"))
            .orderBy(F.desc("s"), "vec_id").first()
        )
        assert best["vec_id"] == vid


def test_metric_variants_match_numpy(emb, qv):
    import numpy as np

    rows = emb.select("vec_id", "embedding").collect()
    ids = [r["vec_id"] for r in rows]
    X = np.asarray([r["embedding"] for r in rows], dtype=np.float64)
    q = np.asarray(qv, dtype=np.float64)
    want_dot = [ids[i] for i in sorted(range(len(ids)),
                key=lambda i: (-(X[i] @ q), ids[i]))[:5]]
    want_l2 = [ids[i] for i in sorted(range(len(ids)),
               key=lambda i: (np.linalg.norm(X[i] - q), ids[i]))[:5]]
    got_dot = [r["vec_id"] for r in
               S.brute_force_topk(emb, qv, 5, metric="dot").collect()]
    got_l2 = [r["vec_id"] for r in
              S.brute_force_topk(emb, qv, 5, metric="l2").collect()]
    assert got_dot == want_dot
    assert got_l2 == want_l2
    # l2 rank 1 is the query row itself at distance 0
    first = S.brute_force_topk(emb, qv, 1, metric="l2").first()
    assert first["vec_id"] == 0 and first["sim"] == 0.0


def test_metric_unknown_raises(emb, qv):
    with pytest.raises(ValueError, match="metric"):
        S.brute_force_topk(emb, qv, 5, metric="hamming")


def test_auto_selective_routes_to_brute(emb, qv):
    """A 10%-selectivity filter with cutoff 0.2 takes the exact branch:
    results equal filtered brute force, and no IVF artifacts are needed."""
    out = S.filtered_search_auto(
        emb, qv, top_k=3, pre_filter=F.col("label") == 7, brute_cutoff=0.2,
    )
    want = S.brute_force_topk(emb, qv, top_k=3,
                              pre_filter=F.col("label") == 7)
    assert [r["vec_id"] for r in out.collect()] == \
           [r["vec_id"] for r in want.select("vec_id", "sim").collect()]


def test_auto_dense_routes_through_ivf_probe(emb, qv):
    """A dense filter goes to the index: the plan carries the probe's
    IN-list (column pruning collapses the cluster_id alias into the
    assignment expression, so assert the probed ids themselves), and the
    results are exactly IVFIndex.search's."""
    from vervectordb_spark.operators.ivf import IVFIndex

    idx = IVFIndex.build(emb, n_clusters=16, seed=42)
    out = S.filtered_search_auto(
        idx.assigned, qv, top_k=3,
        pre_filter=F.col("label") >= 0,  # keeps everything
        ivf_index=idx, brute_cutoff=0.05,
    )
    plan = out._jdf.queryExecution().optimizedPlan().toString()
    probed = set(idx.probe_clusters(qv))
    assert len(probed) < 16  # real pruning, not probe-everything
    in_lists = [
        set(int(x) for x in m.split(","))
        for m in __import__("re").findall(r" IN \(([0-9,]+)\)", plan)
    ]
    assert probed in in_lists
    want = [r["vec_id"] for r in idx.search(qv, top_k=3,
                                            pre_filter=F.col("label") >= 0)
            .select("vec_id").collect()]
    assert [r["vec_id"] for r in out.collect()] == want


def test_auto_dense_without_index_raises(emb, qv):
    with pytest.raises(ValueError, match="ivf_index"):
        S.filtered_search_auto(
            emb, qv, pre_filter=F.col("label") >= 0, brute_cutoff=0.05,
        )


def test_auto_selectivity_override_skips_measurement(emb, qv):
    """Passing selectivity= (the 100 TB path: column stats / fixed-seed
    sample) must not trigger the exact COUNT scans."""
    out = S.filtered_search_auto(
        emb, qv, top_k=3, pre_filter=F.col("label") == 7,
        selectivity=0.01, brute_cutoff=0.05,
    )
    assert out.count() == 3


def test_prefix_topk_degenerates_to_exact_at_full_dim(spark):
    """prefix_dim == dim makes the candidate stage the exact scan: the
    result equals brute_force_topk row-for-row (prefix_sim == sim)."""
    from vervectordb_spark.operators.search import brute_force_topk, prefix_topk
    from vervectordb_spark.schema import load_table

    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    qv = [float(v) for v in emb.filter(F.col("vec_id") == 0)
          .select("embedding").first()["embedding"]]
    exact = [(r["vec_id"], r["sim"])
             for r in brute_force_topk(emb, qv, top_k=10).collect()]
    via_prefix = prefix_topk(emb, qv, top_k=10, prefix_dim=64,
                             rerank_factor=3).collect()
    assert [(r["vec_id"], r["sim"]) for r in via_prefix] == exact
    for r in via_prefix:
        assert r["prefix_sim"] == pytest.approx(r["sim"], abs=1e-12)


def test_prefix_topk_recall_with_pool(spark):
    """A 16-of-64 prefix with a generous rerank pool recovers most of the
    exact top-10 and always finds the query row itself first."""
    from vervectordb_spark.operators.search import brute_force_topk, prefix_topk
    from vervectordb_spark.schema import load_table

    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    qv = [float(v) for v in emb.filter(F.col("vec_id") == 0)
          .select("embedding").first()["embedding"]]
    exact = {r["vec_id"] for r in brute_force_topk(emb, qv, top_k=10).collect()}
    got = prefix_topk(emb, qv, top_k=10, prefix_dim=16,
                      rerank_factor=10).collect()
    assert got[0]["vec_id"] == 0
    assert got[0]["sim"] == pytest.approx(1.0)
    assert len({r["vec_id"] for r in got} & exact) >= 5


def test_hard_negatives_excludes_self_and_dups(spark):
    """The anchor and its near-duplicates (sim >= threshold) must never
    appear; the returned rows are the best remaining sims in order."""
    import numpy as np

    from vervectordb_spark.operators.search import hard_negatives

    rng = np.random.default_rng(13)
    base = rng.normal(size=16)
    rows = [(0, base.tolist()),
            (1, (base + rng.normal(0, 0.001, 16)).tolist()),   # near-dup
            (2, (base + rng.normal(0, 1.0, 16)).tolist()),     # hard neg
                                                # sigma 1.0: cos ~ 0.7 —
                                                # clearly under the 0.95 gate
            (3, (-base).tolist()),                             # far
            (4, rng.normal(size=16).tolist())]
    df = spark.createDataFrame(rows, "vec_id bigint, embedding array<double>")
    queries = df.filter("vec_id = 0").selectExpr(
        "vec_id as query_id", "embedding as q_embedding")
    out = hard_negatives(df, queries, top_k=3, dup_threshold=0.95).collect()
    ids = [r["vec_id"] for r in out]
    assert 0 not in ids and 1 not in ids          # self + near-dup gated
    assert ids[0] == 2                            # hardest negative first
    sims = [r["sim"] for r in out]
    assert sims == sorted(sims, reverse=True)
    assert all(s < 0.95 for s in sims)


def test_callable_metadata_filter_matches_column_twin(spark):
    """VERDICT r5 gap #1: the reference's arbitrary Python
    metadata_filter callable (vervectordb/__init__.py:538-546) has a
    slot — a lambda over the metadata dict returns the SAME rows as its
    Column twin (rows, order, sims), and non-Column/non-callable input
    fails with a TypeError."""
    from vervectordb_spark.operators.search import filtered_search

    rows = [
        (1, [1.0, 0.0, 0.0], {"lang": "en", "text": "alpha"}),
        (2, [0.9, 0.1, 0.0], {"lang": "de", "text": "beta"}),
        (3, [0.8, 0.2, 0.0], {"lang": "en", "text": "gamma"}),
        (4, [0.0, 1.0, 0.0], None),
    ]
    df = spark.createDataFrame(
        rows,
        "vec_id bigint, embedding array<double>, metadata map<string,string>")
    qv = [1.0, 0.0, 0.0]
    via_callable = filtered_search(
        df, qv, top_k=3,
        metadata_filter=lambda meta: meta.get("lang") == "en").collect()
    via_column = filtered_search(
        df, qv, top_k=3,
        metadata_filter=F.element_at(F.col("metadata"), "lang") == "en"
    ).collect()
    assert [(r["vec_id"], r["sim"]) for r in via_callable] \
        == [(r["vec_id"], r["sim"]) for r in via_column]
    assert {r["vec_id"] for r in via_callable} == {1, 3}
    # NULL metadata reaches the callable as {} (the reference's .get path)
    none_safe = filtered_search(
        df, qv, top_k=5,
        metadata_filter=lambda meta: meta.get("lang") is None).collect()
    assert {r["vec_id"] for r in none_safe} == {4}
    with pytest.raises(TypeError, match="Column or a callable"):
        filtered_search(df, qv, top_k=3, metadata_filter="lang = 'en'")


def test_store_filtered_search_accepts_reference_callable(spark):
    """Store facade: a reference-style closure composing keyword +
    metadata predicates returns the same hits as the Column form."""
    from vervectordb_spark.store import VectorStore

    st = VectorStore(spark, vector_dim=4)
    st.batch_insert(
        [[1.0, 0.0, 0.0, 0.0], [0.9, 0.1, 0.0, 0.0], [0.0, 1.0, 0.0, 0.0]],
        [{"text": "alpha doc", "source": "web"},
         {"text": "alpha beta", "source": "book"},
         {"text": "beta doc", "source": "web"}],
    )
    got_callable = st.filtered_search(
        [1.0, 0.0, 0.0, 0.0], top_k=5, keywords=["alpha"],
        metadata_filter=lambda meta: meta.get("source") == "web")
    got_column = st.filtered_search(
        [1.0, 0.0, 0.0, 0.0], top_k=5, keywords=["alpha"],
        metadata_filter=F.element_at(F.col("metadata"), "source") == "web")
    assert got_callable == got_column
    assert [r["metadata"]["text"] for r in got_callable] == ["alpha doc"]


def test_query_literal_is_exact_doubles(spark):
    """query_lit parses to exactly the driver's doubles — denormals,
    ±DBL_MAX, -0.0 and the non-finite values included."""
    import math
    import struct

    from vervectordb_spark.functions.similarity import query_lit

    vals = [-0.0, 0.0, 1e-300, 5e-324, -5e-324, 1.7976931348623157e308,
            0.1, 1 / 3, 2.2250738585072014e-308, 1e23, float("nan"),
            float("inf"), float("-inf")]
    got = spark.range(1).select(query_lit(vals).alias("v")).first()["v"]
    assert len(got) == len(vals)
    for a, b in zip(got, vals):
        assert (math.isnan(a) and math.isnan(b)) or \
            struct.pack("<d", a) == struct.pack("<d", b)


def test_parsed_cosine_bit_identical_to_column_tree(emb, qv):
    """The parsed cosine (column name operands) and its hoisted form over
    a self-dot column return the very doubles of the Column-tree cosine,
    for a vector query and for a column query — zero vectors included."""
    from vervectordb_spark.functions.similarity import (
        SS_COL, cosine_expr, cosine_sql, self_dot_expr)

    zero = [0.0] * len(qv)
    rows = emb.select("vec_id", "embedding").unionByName(
        emb.sparkSession.createDataFrame(
            [(-1, zero)], "vec_id long, embedding array<float>"))
    framed = rows.withColumn(SS_COL, self_dot_expr("embedding")) \
        .withColumn("q", F.array(*[F.lit(v) for v in qv]))
    for q in (qv, zero):
        got = framed.select(
            "vec_id",
            cosine_expr(F.col("embedding"), q).alias("tree"),
            cosine_expr("embedding", q).alias("parsed"),
            F.expr(cosine_sql("embedding", q, ss_col=SS_COL)).alias("hoisted"),
            cosine_expr(F.col("embedding"), F.col("q")).alias("tree_col"),
            cosine_expr("embedding", "q").alias("parsed_col"),
        ).collect()
        assert len(got) > 1
        for r in got:
            assert r["tree"] == r["parsed"] == r["hoisted"], r
            assert r["tree_col"] == r["parsed_col"], r
