"""Recall@10 vs latency sweep across every ANN serving path.

Two corpora, both n=50,000 × dim=128, 100 queries:

  uniform    the reference harness config (examples/datawhale.py:162-175,
             uniform [0,1) — ADVERSARIAL for ANN: all pairwise cosines
             concentrate near 0.75, so quantized/bucketed methods have
             almost no signal to separate neighbors with. Kept as the
             reference-parity anchor.
  clustered  mixture of 64 Gaussians (sigma=0.05 around unit-ish
             centers) — the realistic shape embedding models produce,
             where locality actually exists.

Ground truth = exact GEMM top-10. All timings are the BATCHED paths (one
job per 100 queries), median of $SPARK_GRAFT_BENCH_REPEATS (default 3).
Writes RECALL.md and prints one JSON line.

Run: python tools/recall_sweep.py
"""

from __future__ import annotations

import json
import os
import statistics
import sys
import time

import numpy as np

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

REPEATS = max(1, int(os.environ.get("SPARK_GRAFT_BENCH_REPEATS", "3")))
N, DIM, N_QUERIES, TOP_K = 50_000, 128, 100, 10


def _median_time(fn):
    samples, result = [], None
    for _ in range(REPEATS):
        t0 = time.perf_counter()
        result = fn()
        samples.append(time.perf_counter() - t0)
    return statistics.median(samples), result


def _mean_recall(rows, truth):
    got: dict[int, set] = {}
    for r in rows:
        got.setdefault(r["query_id"], set()).add(r["vec_id"])
    recalls = [len(got.get(q, set()) & t) / len(t) for q, t in truth.items()]
    return sum(recalls) / len(recalls)


def _make_corpus(spark, kind: str):
    rng = np.random.RandomState(42)
    if kind == "uniform":
        mat = rng.uniform(0, 1, (N, DIM)).astype(np.float32)
    elif kind == "anisotropic":
        # clustered signal under heavy-tailed per-axis scales (1..~31.6)
        # hidden behind a fixed dense rotation — raw coordinates are
        # correlated and nothing is axis-aligned: the shape real
        # embedding-model outputs have (dominant directions, correlated
        # blocks) and the one the LEARNED rotation exists for
        centers = rng.normal(size=(64, DIM))
        assign = rng.randint(0, 64, N)
        Z = centers[assign] + rng.normal(0, 0.3, (N, DIM))
        scales = np.logspace(0, 1.5, DIM)
        Q = np.linalg.qr(rng.normal(size=(DIM, DIM)))[0]
        mat = ((Z * scales) @ Q.T).astype(np.float32)
    elif kind == "halfclustered":
        # cluster structure confined to the FIRST half, uniform noise in
        # the second — the asymmetric shape adaptive IMI sizing exists
        # for (some dims carry topic signal, some carry style/noise)
        mid = DIM // 2
        centers = rng.uniform(0, 1, (64, mid)).astype(np.float32)
        assign = rng.randint(0, 64, N)
        h1 = centers[assign] + rng.normal(0, 0.05, (N, mid)).astype(np.float32)
        h2 = rng.uniform(0, 1, (N, DIM - mid)).astype(np.float32)
        mat = np.hstack([h1, h2]).astype(np.float32)
    elif kind == "encoder":
        # REAL-encoder distribution: 50k synthetic documents drawn from
        # the fixture corpus's word frequencies, embedded with the
        # vendored int8 SGNS checkpoint's EXACT serving arithmetic
        # (operators/embed.checkpoint_embedding: order-free integer sum,
        # L2 normalize, float32). dim comes from the checkpoint (16) —
        # callers set the module DIM before sweeping. The distribution
        # is the genuinely anisotropic one a trained model produces
        # (vectors live on the vocabulary simplex's image, heavy common
        # directions), vs the synthetic rotated-mixture proxy.
        import duckdb

        from vervectordb_spark.operators.embed import load_checkpoint

        words, mat_w, dim = load_checkpoint()
        assert dim == DIM, f"set DIM={dim} before the encoder sweep"
        freq = dict(duckdb.sql(
            "SELECT t, count(*) FROM (SELECT unnest(list_filter("
            "regexp_split_to_array(lower(text), '[ \\t\\n\\x0B\\f\\r]+'), x -> x <> '')) t "
            "FROM '/root/testdata/sf0.01/documents.parquet') GROUP BY t"
        ).fetchall())
        w_idx = np.array([i for i, w in enumerate(words) if w in freq])
        p = np.array([freq[words[i]] for i in w_idx], dtype=np.float64)
        p /= p.sum()
        lens = rng.randint(30, 120, N)
        mat = np.zeros((N, DIM), dtype=np.float32)
        for i in range(N):
            idxs = w_idx[rng.choice(len(w_idx), size=lens[i], p=p)]
            s = mat_w[idxs].sum(axis=0)
            n2 = float((s * s).sum())
            mat[i] = (s / np.sqrt(n2)).astype(np.float32) if n2 else 0.0
    else:  # clustered: 64-component Gaussian mixture
        centers = rng.uniform(0, 1, (64, DIM)).astype(np.float32)
        assign = rng.randint(0, 64, N)
        mat = (centers[assign] +
               rng.normal(0, 0.05, (N, DIM))).astype(np.float32)
    corpus = spark.createDataFrame(
        [(i, mat[i].tolist()) for i in range(N)],
        "vec_id long, embedding array<float>",
    ).repartition(32).cache()
    corpus.count()
    return corpus


def sweep(spark, corpus, methods: set[str]) -> list[dict]:
    from pyspark.sql import functions as F

    from vervectordb_spark.operators import search as S
    from vervectordb_spark.operators.ann import SignLSHIndex
    from vervectordb_spark.operators.ivf import IVFIndex
    from vervectordb_spark.operators.pq import PQCodec

    queries = corpus.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("q_embedding")
    ).cache()
    queries.count()

    truth_rows = S.batch_topk(corpus, queries, top_k=TOP_K, kernel="gemm").collect()
    truth: dict[int, set] = {}
    for r in truth_rows:
        truth.setdefault(r["query_id"], set()).add(r["vec_id"])

    results: list[dict] = []

    def record(method, fn, extra=None):
        dt, rows = _median_time(fn)
        rec = _mean_recall(rows, truth)
        entry = {"method": method, "recall_at_10": round(rec, 4),
                 "ms_per_query": round(dt * 1000 / N_QUERIES, 2)}
        entry.update(extra or {})
        results.append(entry)
        print(f"  {method:30s} recall={rec:.3f}  {entry['ms_per_query']:7.2f} ms/q",
              file=sys.stderr)

    ivf = IVFIndex.build(corpus, n_clusters=16, seed=42)
    for nprobe in (1, 2, 4, 8, 16):
        if f"ivf{nprobe}" in methods:
            record(f"ivf nprobe={nprobe}",
                   lambda nprobe=nprobe: ivf.batch_search(
                       queries, top_k=TOP_K, nprobe=nprobe).collect())
    if "adaptive" in methods:
        qvecs = {r["query_id"]: [float(x) for x in r["q_embedding"]]
                 for r in queries.collect()}
        mean_np = sum(len(ivf.probe_clusters_adaptive(v))
                      for v in qvecs.values()) / len(qvecs)
        record("ivf adaptive (mass=0.8)",
               lambda: ivf.batch_search(queries, top_k=TOP_K,
                                        nprobe="adaptive").collect(),
               {"mean_nprobe": round(mean_np, 2)})

    if "imi" in methods:
        from vervectordb_spark.operators.imi import IMIIndex

        imi = IMIIndex.build(corpus, k1=16, k2=16, dim=DIM, seed=42)
        imi.assigned.cache().count()
        # candidate-volume accounting: occupancy per cell pair is k1·k2
        # bounded driver state — lets the table show the adaptive and
        # fixed rectangles scan the SAME volume (equal cell budget)
        occ = {(r["cell1"], r["cell2"]): r["count"]
               for r in imi.assigned.groupBy("cell1", "cell2").count()
               .collect()}
        qvecs = [([float(x) for x in r["q_embedding"]])
                 for r in queries.collect()]

        def mean_cand(probe_fn):
            tot = 0
            for v in qvecs:
                c1, c2 = probe_fn(v)
                tot += sum(occ.get((x, y), 0) for x in c1 for y in c2)
            return tot / len(qvecs)

        record("imi 4x4 fixed",
               lambda: imi.batch_search(queries, top_k=TOP_K,
                                        a=4, b=4).collect(),
               {"mean_cand": round(mean_cand(
                   lambda v: imi.probe_cells(v, 4, 4)), 0)})
        record("imi adaptive budget=16 (mass)",
               lambda: imi.batch_search(queries, top_k=TOP_K, a=4, b=4,
                                        adaptive=True).collect(),
               {"mean_cand": round(mean_cand(
                   lambda v: imi.probe_cells_adaptive(v, budget=16)), 0)})
        F1, F2 = imi.calibrate_probe()
        a_cal, b_cal = imi._alloc_calibrated(16)
        record(f"imi adaptive budget=16 (calibrated {a_cal}x{b_cal})",
               lambda: imi.batch_search(queries, top_k=TOP_K, a=4, b=4,
                                        adaptive=True).collect(),
               {"mean_cand": round(mean_cand(
                   lambda v: imi.probe_cells_adaptive(v, budget=16)), 0)})
        imi._probe_cdf = None
        imi.assigned.unpersist()

    for tables in (2, 4, 8):
        if f"lsh{tables}" in methods:
            idx = SignLSHIndex.build(corpus, n_tables=tables, bits="auto",
                                     target_occupancy=64)
            record(f"signlsh tables={tables}",
                   lambda idx=idx: idx.batch_search(
                       queries, top_k=TOP_K).collect())
            if tables <= 4:
                # multi-probe: recall from probing low-margin neighbor
                # buckets instead of from more tables (same index bytes)
                record(f"signlsh tables={tables} probes=4",
                       lambda idx=idx: idx.batch_search(
                           queries, top_k=TOP_K, n_probes=4).collect())

    rerank_src = corpus.select("vec_id", "embedding")
    if "bq" in methods:
        from vervectordb_spark.operators import bq as BQ

        thr = BQ.fit_bq_thresholds(corpus)
        bq_coded = BQ.with_codes(corpus, thr, DIM).select(
            "vec_id", "bq_code").cache()
        bq_coded.count()
        for rf in (3, 10, 50):
            record(f"bq hamming rerank_f={rf}",
                   lambda rf=rf: BQ.batch_hamming_search(
                       bq_coded, thr, queries, top_k=TOP_K,
                       rerank_factor=rf, rerank=rerank_src).collect())
        bq_coded.unpersist()
    if "rotbq" in methods:
        from vervectordb_spark.operators import bq as BQ
        from vervectordb_spark.operators import rotation as HD

        signs = HD.hd_signs(DIM)
        rotated = HD.with_rotation(corpus, DIM)
        thr_rot = BQ.fit_bq_thresholds(rotated, emb_col="emb_rot", dim=DIM)
        rot_coded = BQ.with_codes(rotated, thr_rot, DIM,
                                  emb_col="emb_rot").select(
            "vec_id", "bq_code").cache()
        rot_coded.count()
        for rf in (3, 10, 50):
            record(f"bq-rotated hamming rerank_f={rf}",
                   lambda rf=rf: BQ.batch_hamming_search(
                       rot_coded, thr_rot, queries, top_k=TOP_K,
                       rerank_factor=rf, rerank=rerank_src,
                       q_pretransform=lambda v: HD.rotate_query(v, signs),
                   ).collect())
        rot_coded.unpersist()
    if "opq" in methods:
        from vervectordb_spark.operators import bq as BQ
        from vervectordb_spark.operators import opq
        from vervectordb_spark.operators import rotation as HDR

        # full-length learned codes (hadamard-mixed eigenbasis)
        R_full = opq.fit_learned_rotation(corpus, DIM, seed=42,
                                          order_col="vec_id")
        rotF = opq.with_learned_rotation(corpus, R_full, DIM,
                                         kernel="arrow")
        thr_f = BQ.fit_bq_thresholds(rotF, emb_col="emb_lrot", dim=DIM)
        cod_f = BQ.with_codes(rotF, thr_f, DIM, emb_col="emb_lrot").select(
            "vec_id", "bq_code").cache()
        cod_f.count()
        for rf in (10, 50):
            record(f"bq-learned hamming rerank_f={rf}",
                   lambda rf=rf: BQ.batch_hamming_search(
                       cod_f, thr_f, queries, top_k=TOP_K,
                       rerank_factor=rf, rerank=rerank_src,
                       q_pretransform=lambda v: opq.rotate_query_learned(
                           v, R_full)).collect())
        cod_f.unpersist()

        # SHORT codes (32 of 128 bits — the memory-bound regime):
        # learned PCA prefix vs the HD prefix of the same length
        B_SHORT = 32
        signs = np.asarray(HDR.hd_signs(DIM), dtype=np.float64)
        R_hd = opq.hadamard(DIM) @ np.diag(signs)
        R_pca = opq.fit_learned_rotation(corpus, DIM, seed=42,
                                         order_col="vec_id", mix="none")
        for name, R in (("hd", R_hd), ("learned", R_pca)):
            rotS = opq.with_learned_rotation(corpus, R, DIM, kernel="arrow")
            short = rotS.select(
                "vec_id", F.slice("emb_lrot", 1, B_SHORT).alias("emb_s"))
            thr_s = BQ.fit_bq_thresholds(short, emb_col="emb_s",
                                         dim=B_SHORT)
            cod_s = BQ.with_codes(short, thr_s, B_SHORT,
                                  emb_col="emb_s").select(
                "vec_id", "bq_code").cache()
            cod_s.count()
            for rf in (10, 50):
                record(f"bq32-{name} rerank_f={rf}",
                       lambda rf=rf, R=R: BQ.batch_hamming_search(
                           cod_s, thr_s, queries, top_k=TOP_K,
                           rerank_factor=rf, rerank=rerank_src,
                           q_pretransform=lambda v:
                               opq.rotate_query_learned(v, R)[:B_SHORT],
                       ).collect())
            cod_s.unpersist()
    if "respq" in methods:
        codec = ivf.fit_residual_codec(n_subquantizers=8, codebook_size=256,
                                       seed=42)
        encoded = ivf.encode_residual(codec).cache()
        encoded.count()
        record("ivfpq residual adc np=8",
               lambda: ivf.batch_search_residual_pq(
                   codec, encoded, queries, top_k=TOP_K, nprobe=8).collect())
        record("ivfpq residual adc+rerank np=8",
               lambda: ivf.batch_search_residual_pq(
                   codec, encoded, queries, top_k=TOP_K, nprobe=8,
                   rerank=rerank_src).collect())
        record("ivfpq residual rerank_f=50 np=8",
               lambda: ivf.batch_search_residual_pq(
                   codec, encoded, queries, top_k=TOP_K, nprobe=8,
                   rerank=rerank_src, rerank_factor=50).collect())
        encoded.unpersist()
    if "pq" in methods:
        pq = PQCodec.fit(corpus, dim=DIM, n_subquantizers=8,
                         codebook_size=256, seed=42)
        enc = pq.encode(ivf.assigned).select(
            "vec_id", "cluster_id", "pq_code").cache()
        enc.count()
        record("ivfpq adc np=8",
               lambda: ivf.batch_search_pq(
                   pq, enc, queries, top_k=TOP_K, nprobe=8).collect())
        record("ivfpq adc+rerank np=8",
               lambda: ivf.batch_search_pq(
                   pq, enc, queries, top_k=TOP_K, nprobe=8,
                   rerank=rerank_src).collect())
        record("ivfpq adc rerank_f=50 np=8",
               lambda: ivf.batch_search_pq(
                   pq, enc, queries, top_k=TOP_K, nprobe=8,
                   rerank=rerank_src, rerank_factor=50).collect())
        enc.unpersist()
    queries.unpersist()
    return results


def ceiling_sweep(spark, corpus) -> list[dict]:
    """Graph-free recall CEILING study (the HNSW question): recall@100 on
    the ADVERSARIAL uniform corpus — the regime where a graph index's
    advantage is largest (no cluster structure for IVF/IMI to exploit, no
    margins for hashes/codes). Measures the best config of each family at
    top_k=100 so RECALL.md records with data — not by omission — what the
    bucketed/probed paths cannot reach."""
    from pyspark.sql import functions as F

    from vervectordb_spark.operators import bq as BQ
    from vervectordb_spark.operators import search as S
    from vervectordb_spark.operators.ann import SignLSHIndex
    from vervectordb_spark.operators.imi import IMIIndex
    from vervectordb_spark.operators.ivf import IVFIndex

    K = 100
    queries = corpus.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("q_embedding")).cache()
    queries.count()
    results: list[dict] = []

    def record(method, fn, extra=None):
        dt, rows = _median_time(fn)
        rec = _mean_recall(rows, truth)
        entry = {"method": method, "recall_at_100": round(rec, 4),
                 "ms_per_query": round(dt * 1000 / N_QUERIES, 2)}
        entry.update(extra or {})
        results.append(entry)
        print(f"  {method:34s} recall@100={rec:.3f}  "
              f"{entry['ms_per_query']:7.2f} ms/q", file=sys.stderr)

    t0 = time.perf_counter()
    truth_rows = S.batch_topk(corpus, queries, top_k=K,
                              kernel="gemm").collect()
    exact_ms = (time.perf_counter() - t0) * 1000 / N_QUERIES
    truth = {}
    for r in truth_rows:
        truth.setdefault(r["query_id"], set()).add(r["vec_id"])
    results.append({"method": "exact gemm (anchor)", "recall_at_100": 1.0,
                    "ms_per_query": round(exact_ms, 2), "scan_frac": 1.0})

    ivf = IVFIndex.build(corpus, n_clusters=16, seed=42)
    for nprobe in (2, 4, 8):
        record(f"ivf nprobe={nprobe}",
               lambda nprobe=nprobe: ivf.batch_search(
                   queries, top_k=K, nprobe=nprobe).collect(),
               {"scan_frac": round(nprobe / 16, 3)})
    imi = IMIIndex.build(corpus, k1=16, k2=16, dim=DIM, seed=42)
    imi.assigned.cache().count()
    record("imi adaptive budget=32",
           lambda: imi.batch_search(queries, top_k=K, a=8, b=4,
                                    adaptive=True).collect(),
           {"scan_frac": round(32 / 256, 3)})
    imi.assigned.unpersist()
    lsh = SignLSHIndex.build(corpus, n_tables=8, bits="auto",
                             target_occupancy=64)
    record("signlsh tables=8 probes=4",
           lambda: lsh.batch_search(queries, top_k=K,
                                    n_probes=4).collect())
    thr = BQ.fit_bq_thresholds(corpus)
    coded = BQ.with_codes(corpus, thr, DIM).select("vec_id",
                                                   "bq_code").cache()
    coded.count()
    record("bq hamming rerank_f=10",
           lambda: BQ.batch_hamming_search(
               coded, thr, queries, top_k=K, rerank_factor=10,
               rerank=corpus.select("vec_id", "embedding")).collect())
    coded.unpersist()
    queries.unpersist()
    return results


_ENCODER_HEADER = "## Encoder corpus (vendored int8 SGNS checkpoint"


def encoder_main() -> None:
    """Standalone `python tools/recall_sweep.py encoder`: sweep ONLY the
    real-encoder-distribution corpus (dim = checkpoint dim) and splice
    its section into RECALL.md without re-running the 128-d corpora."""
    global DIM

    from vervectordb_spark.session import get_spark

    spark = get_spark("recall-sweep-encoder",
                      extra_conf={"spark.ui.showConsoleProgress": "false"})
    spark.sparkContext.setLogLevel("ERROR")
    from vervectordb_spark.operators.embed import load_checkpoint

    DIM = load_checkpoint()[2]
    methods = {"ivf1", "ivf2", "ivf4", "ivf8", "ivf16", "adaptive",
               "lsh4", "imi", "bq", "pq"}
    print("encoder corpus:", file=sys.stderr)
    results = sweep(spark, _make_corpus(spark, "encoder"), methods)
    print(json.dumps({"metric": "recall_sweep_encoder", "n": N,
                      "dim": DIM, "n_queries": N_QUERIES, "top_k": TOP_K,
                      "repeats": REPEATS, "encoder": results}))

    lines = [
        _ENCODER_HEADER + f", dim={DIM}) — the real-model distribution",
        "",
        f"50k synthetic documents drawn from the fixture word frequencies,",
        "embedded with the committed checkpoint's exact serving arithmetic",
        "(L2-normalized int8 sums). Genuinely anisotropic: vectors",
        "concentrate on the image of the vocabulary simplex with heavy",
        "common directions — the transfer check for the synthetic",
        "rotated-mixture proxy above.",
        "",
        "| method | recall@10 | ms/query | notes |",
        "|---|---|---|---|",
    ]
    for e in results:
        notes = []
        if "mean_nprobe" in e:
            notes.append(f"mean nprobe {e['mean_nprobe']}")
        if "mean_cand" in e:
            notes.append(f"mean candidates {e['mean_cand']:.0f}")
        lines.append(f"| {e['method']} | {e['recall_at_10']:.3f} | "
                     f"{e['ms_per_query']:.2f} | {'; '.join(notes)} |")
    lines.append("")
    path = os.path.join(os.path.dirname(__file__), "..", "RECALL.md")
    with open(path) as f:
        doc = f.read()
    if _ENCODER_HEADER in doc:
        # replace the existing section (up to the next ## header or EOF)
        import re as _re

        doc = _re.sub(
            _re.escape(_ENCODER_HEADER) + r".*?(?=\n## |\Z)",
            "\n".join(lines) + "\n", doc, flags=_re.S)
    else:
        doc = doc.rstrip() + "\n\n" + "\n".join(lines) + "\n"
    with open(path, "w") as f:
        f.write(doc)


def main() -> None:
    from vervectordb_spark.session import get_spark

    if "encoder" in sys.argv[1:]:
        encoder_main()
        return

    spark = get_spark("recall-sweep",
                      extra_conf={"spark.ui.showConsoleProgress": "false"})
    spark.sparkContext.setLogLevel("ERROR")

    all_m = {"ivf1", "ivf2", "ivf4", "ivf8", "ivf16", "adaptive",
             "lsh2", "lsh4", "lsh8", "respq", "pq", "bq", "rotbq", "imi"}
    trimmed = {"ivf2", "ivf4", "ivf8", "adaptive", "lsh4", "respq", "pq",
               "bq", "rotbq", "opq", "imi"}
    aniso_m = {"ivf8", "bq", "rotbq", "opq"}

    print("uniform corpus:", file=sys.stderr)
    uni_corpus = _make_corpus(spark, "uniform")
    uniform = sweep(spark, uni_corpus, all_m)
    print("uniform corpus, recall@100 ceiling:", file=sys.stderr)
    ceiling = ceiling_sweep(spark, uni_corpus)
    print("clustered corpus:", file=sys.stderr)
    clustered = sweep(spark, _make_corpus(spark, "clustered"), trimmed)
    print("half-clustered corpus (IMI sizing habitat):", file=sys.stderr)
    halfc = sweep(spark, _make_corpus(spark, "halfclustered"), {"imi"})
    print("anisotropic corpus:", file=sys.stderr)
    aniso = sweep(spark, _make_corpus(spark, "anisotropic"), aniso_m)

    out = {"metric": "recall_sweep", "n": N, "dim": DIM,
           "n_queries": N_QUERIES, "top_k": TOP_K, "repeats": REPEATS,
           "uniform": uniform, "clustered": clustered,
           "halfclustered": halfc,
           "anisotropic": aniso, "ceiling_at_100": ceiling}
    print(json.dumps(out))

    def table(results, rec_key="recall_at_10", rec_head="recall@10"):
        lines = [f"| method | {rec_head} | ms/query | notes |",
                 "|---|---|---|---|"]
        for e in results:
            notes = []
            if "mean_nprobe" in e:
                notes.append(f"mean nprobe {e['mean_nprobe']}")
            if "mean_cand" in e:
                notes.append(f"mean candidates {e['mean_cand']:.0f}")
            if "scan_frac" in e:
                notes.append(f"scans {e['scan_frac']:.1%} of corpus")
            lines.append(f"| {e['method']} | {e[rec_key]:.3f} | "
                         f"{e['ms_per_query']:.2f} | {'; '.join(notes)} |")
        return lines

    lines = [
        "# RECALL — recall@10 vs latency across the ANN serving paths",
        "",
        f"All corpora n={N:,} × dim={DIM}, 100 queries, ground truth =",
        f"exact GEMM top-10, batched serving paths, median of {REPEATS} runs",
        "on local[32]. Reference baseline (BASELINE.md, same uniform",
        "config): exact 77.9 ms/q; IVF nprobe=8 87.5 ms/q at recall 0.748.",
        "",
        "## Uniform corpus (reference config — adversarial for ANN)",
        "",
        "Uniform [0,1)^128 concentrates every pairwise cosine near 0.75:",
        "neighbors are barely closer than strangers, so bucketing (LSH) and",
        "8-byte quantization (PQ) have almost no margin to work with — their",
        "recall here is a floor, not a representative number. IVF probing",
        "still ranks well because the exact rescore inside probed clusters",
        "does the separating.",
        "",
        *table(uniform),
        "",
        "## Clustered corpus (64-Gaussian mixture — the realistic shape)",
        "",
        "With real locality, every approximate path sharpens; the per-query",
        "adaptive probe budget buys near-exact recall at a fraction of the",
        "fixed-nprobe cost because most queries sit inside one cluster.",
        "8-byte ADC ranking alone is noisy at dim=128 (known PQ behavior —",
        "quantization error rivals within-cluster margins); the exact-rerank",
        "pool size is the recovery lever: rerank_factor 5 → 50 takes recall",
        "0.26 → 0.87 (m=8) while still scanning only codes + 500 raw rows.",
        "",
        *table(clustered),
        "",
        "## Anisotropic corpus (scaled + densely-rotated mixture — the",
        "## embedding-model shape; learned-rotation habitat)",
        "",
        "Clustered signal under heavy-tailed per-axis scales (1..~31.6)",
        "behind a fixed dense rotation: raw coordinates are correlated and",
        "nothing is axis-aligned — the spectrum real embedding models",
        "produce.",
        "",
        *table(aniso),
        "",
        "## Reading the learned-rotation (OPQ-lite) rows",
        "",
        "Measured across all three corpora (operators/opq.py), the honest",
        "split is by CODE LENGTH, not by corpus:",
        "",
        "- Full-length codes (bits == dim): the learned rotation ties or",
        "  loses to the deterministic HD mix everywhere — including the",
        "  anisotropic corpus built for it. Cosine is dominated by the",
        "  high-variance directions, and Hamming ranking wants those",
        "  directions SPREAD across all bits; any dense mix achieves that",
        "  spread, data-aligned or not, so learning buys nothing and adds",
        "  dim² state. (ITQ refinement measured strictly worse here — it",
        "  optimizes binary reconstruction, not Hamming-rank agreement",
        "  with cosine under a downstream exact rerank.)",
        "- SHORT codes (bq32: 32 of 128 bits, the memory-bound regime at",
        "  100 TB): the learned rotation WINS on the anisotropic corpus —",
        "  its 32-bit prefix is the sample's top principal subspace where",
        "  the HD prefix is an arbitrary one — and loses on the",
        "  dimension-exchangeable clustered mixture, where there is",
        "  nothing to learn by symmetry.",
        "",
        "Default guidance unchanged: stateless HD for full-length codes;",
        "fit_learned_rotation(mix='none') + code_bits only when codes are",
        "shorter than dims AND the corpus is anisotropic — measure first.",
        "",
        "## Half-clustered corpus (cluster structure in half1 only — the",
        "## adaptive-IMI-sizing habitat)",
        "",
        "Topic signal confined to the first 64 dims, uniform noise in the",
        "rest: half1's quantizer is near-perfectly reliable for neighbors,",
        "half2's is nearly useless — the asymmetry rectangle SIZING exists",
        "for.",
        "",
        *table(halfc),
        "",
        "## Reading the IMI rows (adaptive rectangle)",
        "",
        "Every IMI row spends the SAME 16-cell budget out of 256; only",
        "WHICH cells differ (same ONE conjunctive IN-filter plan, same",
        "partition pruning; resizing is driver-side NumPy over k1+k2",
        "centroids + k1 floats of calibration state). Measured findings,",
        "honest split:",
        "",
        "- The query-side mass rule ties the fixed square everywhere: on",
        "  half-EXCHANGEABLE corpora (uniform / clustered / anisotropic —",
        "  all three generators are symmetric across halves) per-query",
        "  half-similarity masses come out equal and ~96% of rectangles",
        "  stay 4×4. Value-based signals also CANNOT see real half skew:",
        "  on the half-clustered corpus centroid sims are near-flat in",
        "  VALUE on both halves even though half1's top-1 identity is",
        "  perfectly reliable — the mass rule still picks squares there.",
        "- The CALIBRATED rectangle (calibrate_probe: measure, on a",
        "  bounded sample, the per-half CDF of 'exact NN's cell rank in",
        "  my own centroid ranking'; size a×b to maximize F1(a)·F2(b))",
        "  finds the real win: on the half-clustered corpus it allocates",
        "  1×16 and nearly DOUBLES recall over the square at the same",
        "  cell count (and slightly LOWER candidate volume). On the",
        "  symmetric corpora it keeps the square via a noise guard — an",
        "  elongated shape must beat the balanced one's estimated",
        "  coverage by > ε = 0.05, because on structureless data both",
        "  CDFs are shallow and the raw argmax is sampling noise",
        "  (measured: unguarded it drifted to 8×2 on uniform for a small",
        "  recall loss; real skew clears ε by an order of magnitude).",
        "  The reliability of a half's quantizer is a CORPUS property,",
        "  not a query property — so it must be measured once per index,",
        "  not inferred per query.",
        "",
        "## Graph-free recall ceiling — the HNSW decision, with data",
        "",
        "The reference declares an hnsw_search surface (its implementation",
        "is a brute-force scan — SURVEY.md §2 B1); this repo serves that",
        "contract with LSH/IVF/IMI + exact rerank and deliberately ships",
        "NO distributed graph index. The ceiling study quantifies what",
        "that decision costs, at the hardest setting we have: recall@100",
        "on the UNIFORM corpus (no cluster structure to probe, no margin",
        "for codes — the regime where a graph's greedy walk would help",
        "most).",
        "",
        *table(ceiling, "recall_at_100", "recall@100"),
        "",
        "Reading the measured frontier: on structureless data, probed",
        "recall@100 tracks scan fraction almost exactly (IVF: 0.30 at",
        "12.5%, 0.52 at 25%, 0.82 at 50% — there is no locality for any",
        "coarse quantizer to exploit, so coverage is proportional to",
        "volume; IMI inherits the same line at finer cells). The one path",
        "that clears 0.9 (multi-probe LSH at 0.97) does it by inflating",
        "its candidate union toward a full scan — ~22× the exact GEMM",
        "anchor's cost per query here. An HNSW would sit on the same",
        "wall: with neighbors barely closer than strangers its greedy",
        "walk needs ef ≈ corpus-scale candidate pools (plus an N·log N",
        "sequentially-inserted build a Spark cluster can't parallelize",
        "cleanly). Where locality EXISTS (clustered / half-clustered /",
        "anisotropic above) the probed paths already reach 0.96–1.0",
        "recall at single-digit-percent scans, which is precisely where a",
        "graph index's advantage evaporates. Decision recorded: serve the",
        "reference's hnsw_search intent via probed paths + exact rerank;",
        "revisit only for a workload that is BOTH structureless AND needs",
        "recall@100 ≥ 0.9 at sublinear cost — a combination the data says",
        "is information-theoretically unavailable to graphs too.",
        "",
        "## Reading the multi-probe rows",
        "",
        "Multi-probe LSH (probes=4: each query also probes the 3",
        "lowest-hyperplane-margin neighbor buckets per table) buys recall",
        "from the SAME index bytes instead of from more tables — on the",
        "uniform corpus tables=2 probes=4 out-recalls tables=4 single-probe",
        "and tables=4 probes=4 out-recalls tables=8, at comparable or lower",
        "candidate volume per unit recall. When index storage or build time",
        "is the constraint, raise probes before tables.",
        "",
        "## Reading the rotated-BQ rows",
        "",
        "The HD rotation (operators/rotation.py) splits cleanly by corpus:",
        "",
        "- clustered (realistic): rotation wins at every rerank budget at",
        "  the same ms/query — per-dim mixtures have midranges off the",
        "  mass; rotated coordinates symmetrize, so the sign bits carry",
        "  more between-cluster signal.",
        "- uniform (adversarial anchor): rotation loses — raw uniform dims",
        "  already have midrange ≈ median (every bit maximally",
        "  informative), and rotating concentrates the corpus's common",
        "  mean into a subset of output dims whose bits then agree across",
        "  most vectors (dead bits). Rotation is a fix for skewed or",
        "  structured coordinates, not a free win; it is opt-in state",
        "  ((dim, seed)) for exactly that reason.",
        "",
        "Timing caveat: ms/query columns are comparable WITHIN one sweep",
        "run; cross-run deltas of ±2× reflect shared-host load, the recall",
        "columns are load-independent.",
        "",
        "Regenerate: `python tools/recall_sweep.py`.",
        "",
    ]
    with open(os.path.join(os.path.dirname(__file__), "..", "RECALL.md"), "w") as f:
        f.write("\n".join(lines))


if __name__ == "__main__":
    main()
