"""Benchmark at the REFERENCE's own scale: n=50,000 × dim=128, 100 queries,
top_k=10, IVF k=16 — the exact config of examples/datawhale.py:162-175
(random vectors, as the reference's own harness uses). Prints one JSON line
comparing against the measured BASELINE.md numbers.

Run: python tools/bench_reference_scale.py
"""

from __future__ import annotations

import json
import os
import statistics
import sys
import time

import numpy as np

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

#: median-of-N timing (JVM/GC noise at these sizes is ±30%; the reference's
#: own numbers in BASELINE.md are single-shot, so the comparison is
#: conservative in the reference's favor)
REPEATS = max(1, int(os.environ.get("SPARK_GRAFT_BENCH_REPEATS", "3")))


def _median_time(fn) -> tuple[float, object]:
    """Run fn REPEATS times; return (median seconds, last result)."""
    samples, result = [], None
    for _ in range(REPEATS):
        t0 = time.perf_counter()
        result = fn()
        samples.append(time.perf_counter() - t0)
    return statistics.median(samples), result

BASELINE = {  # BASELINE.md, measured reference on this machine
    "brute_force_ms_per_query": 77.90,
    "ivf_search_ms_per_query": 87.53,
    "ivf_build_s": 40.6,
    "ivf_recall_at_10": 0.748,
    "pq_train_s": 1.58,
    "pq_encode_s_5k": 3.23,
    "pq_ratio": 64.0,
    "pq_mae": 0.170,
}

N, DIM, N_QUERIES, TOP_K = 50_000, 128, 100, 10


def main() -> None:
    from pyspark.sql import functions as F

    from vervectordb_spark import harness as H
    from vervectordb_spark.operators import search as S
    from vervectordb_spark.operators.ivf import IVFIndex
    from vervectordb_spark.operators.pq import PQCodec
    from vervectordb_spark.session import get_spark

    spark = get_spark("bench-reference-scale")
    spark.sparkContext.setLogLevel("ERROR")

    rng = np.random.RandomState(42)  # reference uses uniform [0,1) (:163)
    mat = rng.uniform(0, 1, (N, DIM)).astype(np.float32)
    corpus = spark.createDataFrame(
        [(i, mat[i].tolist()) for i in range(N)], "vec_id long, embedding array<float>"
    ).repartition(32).cache()
    corpus.count()
    queries = corpus.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("q_embedding")
    ).cache()
    queries.count()

    out: dict[str, float] = {}

    # exact search, 100 queries in one batched job (GEMM kernel)
    dt, _ = _median_time(lambda: S.batch_topk(
        corpus, queries, top_k=TOP_K, kernel="gemm"
    ).write.mode("overwrite").format("noop").save())
    out["brute_force_ms_per_query"] = round(dt * 1000 / N_QUERIES, 3)

    # IVF build + batched search + recall
    def build_ivf():
        idx = IVFIndex.build(corpus, n_clusters=16, seed=42)
        idx.assigned.cache().count()
        return idx

    ivf_holder: list = []

    def build_ivf_fresh():
        if ivf_holder:
            ivf_holder.pop().assigned.unpersist()
        idx = build_ivf()
        ivf_holder.append(idx)
        return idx

    dt, ivf = _median_time(build_ivf_fresh)
    out["ivf_build_s"] = round(dt, 2)
    dt, _ = _median_time(lambda: ivf.batch_search(
        queries, top_k=TOP_K, nprobe=8
    ).write.mode("overwrite").format("noop").save())
    out["ivf_search_ms_per_query"] = round(dt * 1000 / N_QUERIES, 3)
    out["ivf_recall_at_10"] = round(H.batch_recall(
        corpus, queries,
        lambda c, q, k: ivf.batch_search(q, top_k=k, nprobe=8), top_k=TOP_K,
    ), 4)

    # PQ: train on 10k sample (ref train_pq cap), encode 5k (ref demo size)
    dt, codec = _median_time(lambda: PQCodec.fit(
        corpus, dim=DIM, n_subquantizers=8, codebook_size=256,
        seed=42, sample_size=10_000))
    out["pq_train_s"] = round(dt, 2)
    sub5k = corpus.filter(F.col("vec_id") < 5000).cache()
    sub5k.count()
    dt, _ = _median_time(lambda: codec.encode(sub5k).select(
        "vec_id", "pq_code").write.mode("overwrite").format("noop").save())
    out["pq_encode_s_5k"] = round(dt, 2)
    out["pq_ratio"] = codec.compression_ratio()
    out["pq_mae"] = round(codec.reconstruction_error(sub5k), 4)

    speedups = {
        k: round(BASELINE[k] / v, 2)
        for k, v in out.items()
        if k in BASELINE and "recall" not in k and "ratio" not in k and "mae" not in k and v
    }
    print(json.dumps({
        "config": {"n": N, "dim": DIM, "queries": N_QUERIES, "top_k": TOP_K,
                   "repeats": REPEATS},
        "spark": out,
        "reference_baseline": BASELINE,
        "speedup_vs_reference": speedups,
    }))


if __name__ == "__main__":
    main()
