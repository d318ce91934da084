"""Dedup + text-analysis operator tests (north-star extensions,
SURVEY.md §2.8). The oracle gate covers cross-engine value parity; these
check operator semantics on controlled inputs."""

import pytest
from pyspark.sql import functions as F

from vervectordb_spark.operators import dedup as D
from vervectordb_spark.operators import text as TX
from vervectordb_spark.functions.words import ws_tokens_py


@pytest.fixture(scope="module")
def docs(spark):
    rows = [
        (1, "the quick brown fox jumps over the lazy dog"),
        (2, "the quick brown fox jumps over the lazy dog"),          # exact dup of 1
        (3, "the quick brown fox jumps over a lazy dog"),            # near dup of 1
        (4, "completely different content about spark partitions"),
        (5, ""),                                                     # empty
        (6, "单 一 中 文 文 档 测 试"),                                  # CJK
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_exact_dup_groups(docs):
    groups = D.exact_dup_groups(docs).collect()
    assert len(groups) == 1
    assert groups[0]["n_dups"] == 2
    assert groups[0]["doc_ids"] == [1, 2]


def test_drop_exact_dups_keeps_lowest_id(docs):
    kept = {r["doc_id"] for r in D.drop_exact_dups(docs).collect()}
    assert kept == {1, 3, 4, 5, 6}


def test_minhash_identical_docs_share_full_signature(docs):
    sigs = {
        r["doc_id"]: r["signature"]
        for r in D.minhash_signatures(docs, num_hashes=8).collect()
    }
    assert sigs[1] == sigs[2]
    assert sigs[1] != sigs[4]


def test_minhash_near_dup_pairs_finds_planted_pair(docs):
    pairs = D.minhash_near_dup_pairs(
        docs, num_hashes=8, bands=4, shingle_n=3, threshold=0.5
    ).collect()
    found = {(r["src_id"], r["dst_id"]) for r in pairs}
    assert (1, 2) in found            # exact dup: jaccard 1.0
    got = {p: r["jaccard"] for p, r in zip(found, pairs)}
    assert all(r["jaccard"] >= 0.5 for r in pairs)


def test_ngram_jaccard_exact_values(docs):
    pairs = {
        (r["src_id"], r["dst_id"]): r["jaccard"]
        for r in D.ngram_jaccard_pairs(docs, threshold=0.0).collect()
    }
    assert pairs[(1, 2)] == 1.0
    assert 0.0 < pairs[(1, 3)] < 1.0
    assert pairs[(1, 4)] == 0.0


def test_simhash_identical_and_near(docs):
    fps = {r["doc_id"]: r["simhash"] for r in D.simhash_fingerprints(docs).collect()}
    assert fps[1] == fps[2]
    assert 0 <= fps[1] < 2**D.SIMHASH_BITS
    near = D.simhash_near_dup_pairs(docs, max_hamming=3, bands=4).collect()
    assert (1, 2) in {(r["src_id"], r["dst_id"]) for r in near}
    for r in near:
        assert r["hamming"] <= 3


def test_simhash_empty_text_is_zero(docs):
    fps = {r["doc_id"]: r["simhash"] for r in D.simhash_fingerprints(docs).collect()}
    assert fps[5] == 0


def test_embedding_near_dup_pairs(spark):
    rows = [
        (1, [1.0, 0.0, 0.0]),
        (2, [1.0, 0.001, 0.0]),   # near dup of 1
        (3, [0.0, 1.0, 0.0]),     # orthogonal
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    pairs = D.embedding_near_dup_pairs(df, threshold=0.99, kernel="fold").collect()
    assert {(r["src_id"], r["dst_id"]) for r in pairs} == {(1, 2)}


def test_text_profile_values(spark):
    df = spark.createDataFrame(
        [(1, "The quick fox! It runs."), (2, ""), (3, "中文 中文 中文 文档")],
        "doc_id long, text string",
    )
    prof = {r["doc_id"]: r for r in TX.profile(df).collect()}
    p1 = prof[1]
    assert p1["n_chars"] == 23
    assert p1["n_tokens"] == 5
    # "The","quick","fox","!","It","runs","." -> 7 BPE-ish tokens
    assert p1["n_bpe_tokens"] == 7
    assert p1["punct_ratio"] > 0
    assert p1["lang_id"] == "en"          # "the"+"it" = 2/5 stopwords
    p2 = prof[2]
    assert p2["n_tokens"] == 0 and p2["quality_score"] <= 0.4
    assert p2["fingerprint"] == 0
    p3 = prof[3]
    assert p3["lang_id"] == "zh"


def test_fingerprint_order_sensitive(spark):
    df = spark.createDataFrame(
        [(1, "alpha beta gamma"), (2, "gamma beta alpha")],
        "doc_id long, text string",
    )
    fps = {r["doc_id"]: r["fingerprint"] for r in TX.profile(df).collect()}
    assert fps[1] != fps[2]


def test_quality_score_rewards_normal_text(spark):
    good = "the data pipeline reads parquet files and writes clean shuffled " \
           "batches of tokens for training language models at scale " * 2
    bad = "!!! ??? ### $$$ %%% ^^^ &&& *** ((( )))"
    df = spark.createDataFrame([(1, good), (2, bad)], "doc_id long, text string")
    scores = {r["doc_id"]: r["quality_score"] for r in TX.profile(df).collect()}
    assert scores[1] > scores[2]
    assert scores[1] >= 0.8


def test_tokenize_zh_fallback(spark):
    df = spark.createDataFrame(
        [(1, "spark 处理 中文 text")], "doc_id long, text string"
    )
    out = TX.tokenize_zh(df).collect()[0]["tokens"]
    # jieba absent here -> CJK-per-char fallback; schema contract holds
    assert "spark" in out and "text" in out
    assert all(len(t) > 0 for t in out)


# ---------------------------------------------------------------------------
# band-bucket capping (100 TB hazard: boilerplate-heavy buckets)
# ---------------------------------------------------------------------------


@pytest.fixture(scope="module")
def boilerplate(spark):
    """Pathological corpus: 300 byte-identical boilerplate docs + 4 distinct
    ones — uncapped LSH banding would emit 300·299/2 = 44850 candidate
    pairs from ONE bucket."""
    boiler = "all rights reserved cookie policy accept terms and conditions apply"
    rows = [(i, boiler) for i in range(300)] + [
        (1000, "a unique document about spark adaptive query execution"),
        (1001, "another unique document about parquet row group pruning"),
        (1002, "vectors and embeddings and approximate nearest neighbors"),
        (1003, "watermarks state stores and streaming sessionization"),
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_minhash_bucket_cap_bounds_pairs(boilerplate):
    pairs = D.minhash_near_dup_pairs(
        boilerplate, num_hashes=8, bands=4, threshold=0.5, max_bucket_size=50
    ).collect()
    found = {(r["src_id"], r["dst_id"]) for r in pairs}
    # hub-star: every boilerplate doc links to the min-id hub (0) — linear,
    # not quadratic, and the full cluster is recoverable via components
    assert found == {(0, i) for i in range(1, 300)}
    assert all(r["jaccard"] == 1.0 for r in pairs)


def test_minhash_cap_noop_on_small_buckets(docs):
    capped = D.minhash_near_dup_pairs(
        docs, num_hashes=8, bands=4, threshold=0.5, max_bucket_size=50
    ).collect()
    uncapped = D.minhash_near_dup_pairs(
        docs, num_hashes=8, bands=4, threshold=0.5, max_bucket_size=10**9
    ).collect()
    key = lambda r: (r["src_id"], r["dst_id"], r["jaccard"])
    assert sorted(map(key, capped)) == sorted(map(key, uncapped))


def test_simhash_bucket_cap_bounds_pairs(boilerplate):
    pairs = D.simhash_near_dup_pairs(
        boilerplate, max_hamming=3, bands=4, max_bucket_size=50
    ).collect()
    found = {(r["src_id"], r["dst_id"]) for r in pairs}
    assert found == {(0, i) for i in range(1, 300)}
    assert all(r["hamming"] == 0 for r in pairs)


def test_band_bucket_stats_reports_capped(boilerplate):
    sk = D.minhash_signatures(boilerplate, num_hashes=8)
    entries = D.minhash_band_entries(sk, num_hashes=8, bands=4)
    stats = D.band_bucket_stats(entries, max_bucket_size=50).collect()
    assert len(stats) == 4  # one row per band
    for r in stats:
        assert r["max_bucket"] == 300
        assert r["n_capped_buckets"] == 1
        assert r["rows_in_capped"] == 300


# ---------------------------------------------------------------------------
# connected components + near-dup survivor selection
# ---------------------------------------------------------------------------


def test_connected_components_transitive_chain(spark):
    # chain 1-2-3-4 plus isolated pair 10-11: two components
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (10, 11)], "src_id long, dst_id long"
    )
    comp = {r["node"]: r["component"]
            for r in D.connected_components(pairs).collect()}
    assert comp == {1: 1, 2: 1, 3: 1, 4: 1, 10: 10, 11: 10}


def test_connected_components_merges_through_shared_node(spark):
    # two stars sharing node 5 → one component rooted at the global min
    pairs = spark.createDataFrame(
        [(5, 6), (5, 7), (2, 5), (2, 9)], "src_id long, dst_id long"
    )
    comp = {r["node"]: r["component"]
            for r in D.connected_components(pairs).collect()}
    assert set(comp.values()) == {2}


def test_drop_near_dups_keeps_one_per_cluster(docs):
    pairs = D.minhash_near_dup_pairs(
        docs, num_hashes=8, bands=4, threshold=0.5
    )
    kept = {r["doc_id"] for r in D.drop_near_dups(docs, pairs).collect()}
    # docs 1,2 (exact) and possibly 3 (near) collapse to doc 1; others stay
    assert 1 in kept and 2 not in kept
    assert {4, 5, 6} <= kept


def test_minhash_arrow_expr_kernels_identical(spark):
    """The Arrow (mapInPandas) and expression sketch kernels must produce
    IDENTICAL (shingles, signature) values — same shingle strings, exact
    integer hash arithmetic. Checked exceptAll both ways over the real
    fixture (all langs, accents, CJK)."""
    from tests.conftest import SF_DIR
    from vervectordb_spark.schema import load_table

    real = load_table(spark, SF_DIR, "documents")
    a = D.minhash_signatures(real, kernel="arrow").select(
        "doc_id", "shingles", "signature")
    e = D.minhash_signatures(real, kernel="expr").select(
        "doc_id", "shingles", "signature")
    assert a.exceptAll(e).count() == 0
    assert e.exceptAll(a).count() == 0


def test_simhash_arrow_expr_kernels_identical(spark):
    from tests.conftest import SF_DIR
    from vervectordb_spark.schema import load_table

    real = load_table(spark, SF_DIR, "documents")
    a = D.simhash_fingerprints(real, kernel="arrow")
    e = D.simhash_fingerprints(real, kernel="expr")
    assert a.exceptAll(e).count() == 0
    assert e.exceptAll(a).count() == 0


def test_minhash_arrow_kernel_edge_docs(docs):
    """Empty text and CJK docs survive the Arrow kernel with the same
    semantics as the expr path (incl. the short-doc single shingle)."""
    a = {r["doc_id"]: (r["shingles"], r["signature"]) for r in
         D.minhash_signatures(docs, kernel="arrow").collect()}
    e = {r["doc_id"]: (r["shingles"], r["signature"]) for r in
         D.minhash_signatures(docs, kernel="expr").collect()}
    assert a == e


def test_profile_arrow_expr_kernels_identical(spark):
    """Arrow profile kernel must be value-identical to the expression
    path — ratios, rounding (decimal HALF_UP), fingerprint fold, lang-ID
    thresholds — over the real fixture and the null/empty/CJK edges."""
    from tests.conftest import SF_DIR
    from vervectordb_spark.schema import load_table

    real = load_table(spark, SF_DIR, "documents")
    a = TX.profile(real, kernel="arrow")
    e = TX.profile(real, kernel="expr")
    assert a.exceptAll(e).count() == 0
    assert e.exceptAll(a).count() == 0

    edge = spark.createDataFrame(
        [(1, None), (2, ""), (3, "the of to in is hello"),
         (4, "中文文本测试内容在这里"), (5, "!!! ??? ###")],
        "doc_id long, text string",
    )
    ae = {r["doc_id"]: tuple(r) for r in TX.profile(edge, kernel="arrow").collect()}
    ee = {r["doc_id"]: tuple(r) for r in TX.profile(edge, kernel="expr").collect()}
    assert ae == ee


def test_chunking_covers_all_tokens_with_overlap(spark):
    """Every token appears in at least one chunk; consecutive chunks share
    exactly `overlap` tokens; short docs yield one chunk."""
    from tests.conftest import SF_DIR
    from vervectordb_spark.operators.text import chunk_documents
    from vervectordb_spark.schema import load_table

    docs = load_table(spark, SF_DIR, "documents").limit(50)
    out = chunk_documents(docs, chunk_tokens=40, overlap=10).collect()
    by_doc = {}
    for r in out:
        by_doc.setdefault(r["doc_id"], []).append(r)
    src = {r["doc_id"]: ws_tokens_py(r["text"]) for r in docs.collect()}
    for doc_id, chunks in by_doc.items():
        chunks.sort(key=lambda r: r["chunk_id"])
        toks = src[doc_id]
        if len(toks) <= 40:
            assert len(chunks) == 1
        rebuilt = ws_tokens_py(chunks[0]["chunk_text"])
        for c in chunks[1:]:
            piece = ws_tokens_py(c["chunk_text"])
            assert rebuilt[-10:] == piece[:10]  # the shared overlap
            rebuilt.extend(piece[10:])
        assert rebuilt == toks  # full coverage, order preserved


def test_chunking_rejects_bad_overlap(spark):
    from tests.conftest import SF_DIR
    from vervectordb_spark.operators.text import chunk_documents
    from vervectordb_spark.schema import load_table

    docs = load_table(spark, SF_DIR, "documents")
    import pytest as _p

    with _p.raises(ValueError):
        chunk_documents(docs, chunk_tokens=20, overlap=20)


def test_semdedup_prunes_cross_cluster_pairs(spark):
    from pyspark.sql import functions as F

    from vervectordb_spark.operators.dedup import semdedup_pairs

    # two well-separated clusters: axis-aligned groups in 4-d
    rows = [
        (0, [1.0, 0.0, 0.0, 0.0]), (1, [0.9, 0.1, 0.0, 0.0]),
        (2, [0.95, 0.05, 0.0, 0.0]),
        (10, [0.0, 0.0, 1.0, 0.0]), (11, [0.0, 0.0, 0.9, 0.1]),
        (12, [0.0, 0.0, 0.95, 0.05]),
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    cent = spark.createDataFrame(
        [(0, [1.0, 0.0, 0.0, 0.0]), (1, [0.0, 0.0, 1.0, 0.0])],
        "cluster_id int, centroid array<double>",
    )
    pairs = semdedup_pairs(df, cent).collect()
    # within-cluster pairs only: C(3,2) per cluster = 6 total, never the
    # 15 all-pairs — cross-cluster pairs are pruned by construction
    assert len(pairs) == 6
    assert all(
        (r["src_id"] < 10) == (r["dst_id"] < 10) for r in pairs
    )
    # high threshold keeps only the near-identical pairs
    thr = semdedup_pairs(df, cent, threshold=0.998).collect()
    assert 0 < len(thr) < 6


def test_semdedup_gemm_kernel_matches_fold(spark):
    from pyspark.sql import functions as F

    from vervectordb_spark.operators.dedup import within_cluster_pairs
    from vervectordb_spark.operators.ivf import IVFIndex
    from vervectordb_spark.schema import load_table

    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    idx = IVFIndex.build(emb, n_clusters=4, seed=42)
    fold = within_cluster_pairs(idx.assigned, threshold=0.3, kernel="fold")
    gemm = within_cluster_pairs(idx.assigned, threshold=0.3, kernel="gemm")
    f = {(r["src_id"], r["dst_id"]): r["sim"] for r in fold.collect()}
    g = {(r["src_id"], r["dst_id"]): r["sim"] for r in gemm.collect()}
    # identical pair sets (threshold boundary ties are ~impossible at 1e-15
    # BLAS-vs-fold divergence) and sims equal to float tolerance
    assert set(f) == set(g) and len(f) > 0
    assert all(abs(f[k] - g[k]) < 1e-9 for k in f)


# ---------------------------------------------------------------------------
# winnowing fingerprints (MOSS)
# ---------------------------------------------------------------------------


@pytest.mark.deep
def test_winnow_arrow_expr_kernels_identical(spark):
    """Arrow sliding-window-min kernel == interpreted expr spec, exploded
    (doc_id, fp) compared exceptAll both ways over the real fixture."""
    from tests.conftest import SF_DIR
    from vervectordb_spark.schema import load_table

    real = load_table(spark, SF_DIR, "documents")
    a = D.winnow_table(real, kernel="arrow")
    e = D.winnow_table(real, kernel="expr")
    assert a.exceptAll(e).count() == 0
    assert e.exceptAll(a).count() == 0


def test_winnow_edge_docs(docs):
    """Empty / CJK / short docs fingerprint without error on both kernels
    and produce at least one fingerprint each (short-doc single window)."""
    for kernel in ("arrow", "expr"):
        out = D.winnow_table(docs, kernel=kernel).groupBy("doc_id").count()
        got = {r["doc_id"]: r["count"] for r in out.collect()}
        assert set(got) == {1, 2, 3, 4, 5, 6}
        assert all(v >= 1 for v in got.values())


def test_winnow_shared_run_guarantee(spark):
    """The winnowing guarantee: two docs sharing a run of w+k-1 = 6
    consecutive tokens share at least one fingerprint — even when the
    shared passage sits at different positions in each doc."""
    shared = "alpha bravo charlie delta echo foxtrot"
    rows = [
        (1, "intro words here " + shared + " trailing stuff"),
        (2, shared + " entirely different ending material now"),
        (3, "no overlap with anything else at all whatsoever"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    fps = D.winnow_table(df, kernel="arrow")
    pairs = D.winnow_overlap_pairs(fps, min_shared=1).collect()
    got = {(r["src_id"], r["dst_id"]) for r in pairs}
    assert (1, 2) in got
    assert not any(3 in p for p in got)


def test_winnow_permutation_robust_vs_rolling_fingerprint(spark):
    """Winnowing vs fingerprint_expr contrast: a doc with a PREFIX added
    keeps (almost all) winnow fingerprints but changes the order-sensitive
    rolling-hash fingerprint."""
    base = "one two three four five six seven eight nine ten eleven twelve"
    df = spark.createDataFrame(
        [(1, base), (2, "shifted prefix " + base)], "doc_id long, text string"
    )
    fp = df.select("doc_id", TX.fingerprint_expr("text").alias("f")).collect()
    assert fp[0]["f"] != fp[1]["f"]  # rolling hash: any shift changes it
    fps = D.winnow_table(df, kernel="arrow")
    pairs = D.winnow_overlap_pairs(fps, min_shared=2).collect()
    assert {(r["src_id"], r["dst_id"]) for r in pairs} == {(1, 2)}


def test_winnow_stop_fingerprint_cap(boilerplate):
    """Fingerprints shared by > max_bucket_size docs are dropped before
    pairing: the 300-copy boilerplate bucket emits ZERO pairs at cap=100
    instead of 44850, while distinct docs are unaffected."""
    fps = D.winnow_table(boilerplate, kernel="arrow")
    capped = D.winnow_overlap_pairs(fps, min_shared=1, max_bucket_size=100)
    assert capped.count() == 0  # all shared fps are 300-doc boilerplate
    uncapped = D.winnow_overlap_pairs(fps, min_shared=1, max_bucket_size=1000)
    assert uncapped.count() == 300 * 299 // 2


# ---------------------------------------------------------------------------
# incremental near-dup (new batch vs history)
# ---------------------------------------------------------------------------


def test_incremental_never_pairs_history_with_itself(spark):
    """Two identical docs both in HISTORY must produce no pair; the same
    doc arriving in the NEW batch must pair with both."""
    hist = spark.createDataFrame(
        [(1, "the quick brown fox jumps over the lazy dog"),
         (2, "the quick brown fox jumps over the lazy dog"),
         (3, "entirely unrelated text about columnar storage")],
        "doc_id long, text string",
    )
    new = spark.createDataFrame(
        [(100, "the quick brown fox jumps over the lazy dog"),
         (101, "fresh novel content never seen before anywhere")],
        "doc_id long, text string",
    )
    got = D.incremental_near_dup_pairs(new, hist, threshold=0.5).collect()
    pairs = {(r["new_id"], r["hist_id"]) for r in got}
    assert pairs == {(100, 1), (100, 2)}


def test_incremental_hot_history_bucket_dropped(boilerplate):
    """A history band bucket above the cap (300 boilerplate copies) is a
    stop-bucket: a new boilerplate doc matches NOTHING through it at
    cap=100, everything at cap=1000."""
    new = boilerplate.filter(F.col("doc_id") == 0).select(
        (F.col("doc_id") + 9000).alias("doc_id"), "text"
    )
    hist = boilerplate.filter(F.col("doc_id") < 5000)
    few = D.incremental_near_dup_pairs(
        new, hist, threshold=0.5, max_bucket_size=100
    ).count()
    assert few == 0
    many = D.incremental_near_dup_pairs(
        new, hist, threshold=0.5, max_bucket_size=1000
    ).count()
    assert many == 300


# ---------------------------------------------------------------------------
# semantic decontamination (embedding_contamination_pairs)
# ---------------------------------------------------------------------------

def _emb_frames(spark):
    import numpy as np

    rng = np.random.default_rng(3)
    evals = [(100 + i, (rng.normal(size=8) / 3).tolist()) for i in range(4)]
    # train: 2 planted near-copies of eval vectors + noise rows
    train = [(0, [x * 1.001 + 1e-4 for x in evals[0][1]]),
             (1, [x * 0.999 - 1e-4 for x in evals[2][1]])]
    train += [(10 + i, rng.normal(size=8).tolist()) for i in range(30)]
    mk = lambda rows: spark.createDataFrame(
        rows, "vec_id long, embedding array<double>")
    return mk(train), mk(evals)


def test_embedding_contamination_gemm_matches_fold(spark):
    """The GEMM margin prescreen + exact rescore returns the identical
    pair set and sims as the fold cross join — BLAS order never decides
    membership."""
    from vervectordb_spark.operators.dedup import (
        embedding_contamination_pairs)

    train, evals = _emb_frames(spark)
    key = lambda df: sorted(
        (r["train_id"], r["eval_id"], round(r["sim"], 12))
        for r in df.collect())
    g = key(embedding_contamination_pairs(train, evals, 0.95,
                                          kernel="gemm"))
    f = key(embedding_contamination_pairs(train, evals, 0.95,
                                          kernel="fold"))
    assert g == f and len(g) >= 2
    assert {(t, e) for t, e, _s in g} >= {(0, 100), (1, 102)}


def test_embedding_contamination_eval_bound_fails_fast(spark):
    from vervectordb_spark.operators.dedup import (
        embedding_contamination_pairs)

    train, evals = _emb_frames(spark)
    with pytest.raises(ValueError, match="eval side exceeds"):
        embedding_contamination_pairs(train, evals, 0.9, max_eval=2)


def test_embedding_contamination_empty_eval(spark):
    from vervectordb_spark.operators.dedup import (
        embedding_contamination_pairs)

    train, evals = _emb_frames(spark)
    out = embedding_contamination_pairs(
        train, evals.filter(F.col("vec_id") < 0), 0.9)
    assert out.count() == 0
    assert out.columns == ["train_id", "eval_id", "sim"]


def test_embedding_near_dup_exact_flag_matches_default(spark):
    """The pruned (multi-probe SemDeDup) default finds the same pair set
    as the exhaustive exact=True baseline on a separated fixture."""
    import math
    rows = []
    for i in range(40):                     # 20 near-dup pairs, well apart
        base = [0.0] * 8
        base[i % 8] = 1.0
        base[(i * 3 + 1) % 8] = 0.5 + (i % 5) * 0.1
        rows.append((2 * i, [float(x) for x in base]))
        rows.append((2 * i + 1, [float(x + (0.001 if j == 0 else 0.0))
                                 for j, x in enumerate(base)]))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    got_pruned = {(r["src_id"], r["dst_id"]) for r in
                  D.embedding_near_dup_pairs(
                      df, threshold=0.999, target_occupancy=8).collect()}
    got_exact = {(r["src_id"], r["dst_id"]) for r in
                 D.embedding_near_dup_pairs(
                     df, threshold=0.999, exact=True,
                     kernel="fold").collect()}
    assert got_exact and got_pruned == got_exact


def test_multiprobe_per_cluster_top_superset_of_global_top(spark):
    """per_cluster_top=m emission still contains the global top pairs
    (a pair's within-cluster rank never exceeds its global rank)."""
    import numpy as np

    rng = np.random.default_rng(7)
    M = rng.normal(size=(120, 8))
    df = spark.createDataFrame(
        [(i, [float(x) for x in M[i]]) for i in range(120)],
        "vec_id long, embedding array<float>")
    from vervectordb_spark.operators.ivf import IVFIndex
    idx = IVFIndex.build(df, n_clusters=6, seed=1)
    full = D.multiprobe_semdedup_pairs(df, idx.centroids_df(), n_probes=2)
    capped = D.multiprobe_semdedup_pairs(df, idx.centroids_df(),
                                         n_probes=2, kernel="gemm",
                                         per_cluster_top=10)
    top5 = [ (r["src_id"], r["dst_id"]) for r in
             full.orderBy(F.desc("sim")).limit(5).collect() ]
    got = {(r["src_id"], r["dst_id"]) for r in capped.collect()}
    assert set(top5) <= got
