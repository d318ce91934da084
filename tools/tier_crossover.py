"""Where the store's driver serving tier stops paying.

For each store size it builds one saved, loaded, IVF-indexed store (16
clusters) and then runs versions in pairs: a one-row batch_insert starts
a version, whose reads run with the tier (the driver budget
`store._TIER_BYTES` raised so every size fits) or without it (budget 0,
every read on Spark), the two sides alternating version by version so
drift and warm-up favour neither. Each version is read three ways:

  first    its first brute_force_search, a Spark top-k job on both
           sides. A workload that writes before every read pays only
           this;
  second   its second brute_force_search: on the tier the fill (a full
           Arrow collect of the cached serving frame), on Spark a warm
           top-k job;
  warm     then brute_force_search, ivf_search (nprobe 2), get_by_id and
           batch_search(32), `--reps` each: what a workload that reads a
           version many times pays per read.

Prints one JSON line per size: per side, the median of each kind of read
in ms; tier hits (reads answered from the driver matrix) of all reads;
the fill's peak bytes (the collected Arrow table plus the float64
matrix, what the budget counts) and the driver Python process's RSS.

Run from the repository root:

    SPARK_GRAFT_CPUS=4 python tools/tier_crossover.py --sizes 4000 16000 64000
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import tempfile
import time

import numpy as np

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def _rows(spark, ids, x, labels):
    """Store rows as one Arrow table built from NumPy (no Python floats)."""
    import pyarrow as pa

    from vervectordb_spark.store import _ROW_SCHEMA

    n, dim = x.shape
    emb = pa.ListArray.from_arrays(
        pa.array(np.arange(0, n * dim + 1, dim, dtype=np.int32)),
        pa.array(x.ravel(), pa.float32()))
    meta = pa.array([[("label", str(v))] for v in labels],
                    pa.map_(pa.string(), pa.string()))
    return spark.createDataFrame(
        pa.table({"vec_id": ids, "embedding": emb, "metadata": meta}),
        _ROW_SCHEMA)


def _rss_mb():
    """The driver Python process's resident set now (Linux)."""
    with open("/proc/self/status") as f:
        kb = next(int(ln.split()[1]) for ln in f if ln.startswith("VmRSS:"))
    return round(kb / 1024, 1)


def _ms(fn):
    t0 = time.perf_counter()
    fn()
    return (time.perf_counter() - t0) * 1e3


def run(spark, n, dim, reps, versions, work):
    from vervectordb_spark import store as store_mod

    last = []  # the latest fill only: older ones must be freed
    collect = store_mod._Matrix.collect.__func__
    budget = store_mod._TIER_BYTES

    def recording(cls, serving, d):
        m = collect(cls, serving, d)
        if m is not None:
            last[:] = [m]
        return m

    store_mod._Matrix.collect = classmethod(recording)
    try:
        rng = np.random.default_rng(n)
        x = rng.standard_normal((n, dim)).astype(np.float32)
        ids = [f"v{i:09d}" for i in range(n)]
        path = os.path.join(work, f"db-{n}")
        st = store_mod.VectorStore(spark, dim)
        st.ingest(_rows(spark, ids, x, rng.integers(0, 10, n)))
        st.save(path)
        st = store_mod.VectorStore.load(spark, path, vector_dim=dim)
        st.build_ivf_index(16, seed=1)
        q = rng.standard_normal(dim).tolist()
        qs = rng.standard_normal((32, dim)).tolist()
        reads = {
            "brute": lambda: st.brute_force_search(q, 10),
            "ivf": lambda: st.ivf_search(q, 10, nprobe=2),
            "get": lambda: st.get_by_id(ids[n // 2]),
            "batch32": lambda: st.batch_search(qs, 10),
        }
        ms = {side: {k: [] for k in ("first", "second", *reads)}
              for side in (0, 1)}
        hits = {0: 0, 1: 0}
        for v in range(versions):
            tier = (v + n) % 2
            store_mod._TIER_BYTES = (1 << 33) if tier else 0
            st.batch_insert([rng.standard_normal(dim).tolist()])
            ms[tier]["first"].append(_ms(reads["brute"]))
            ms[tier]["second"].append(_ms(reads["brute"]))
            for _ in range(reps):
                for kind, read in reads.items():
                    ms[tier][kind].append(_ms(read))
            held = st._held_serving()[3]
            hits[tier] += (len(reads) * reps) if held else 0
        out = {"n": n, "dim": dim, "versions_per_side": versions // 2}
        for tier, name in ((0, "spark"), (1, "tier")):
            out[name] = {k: round(statistics.median(v), 2)
                         for k, v in ms[tier].items()}
            total = sum(len(v) for v in ms[tier].values())
            out[name]["tier_hits"] = f"{hits[tier]}/{total}"
        m = last[0]
        out["matrix_mb"] = round((m.xt.nbytes + m.metadata.nbytes) / 2**20, 1)
        # the Arrow table the fill collects, as _Matrix.collect selects it
        tbl = st._serving().select(
            "vec_id", "embedding", store_mod.SS_COL, "metadata",
            "cluster_id").toArrow()
        out["fill_peak_mb"] = round((m.xt.nbytes + tbl.nbytes) / 2**20, 1)
        out["rss_mb"] = _rss_mb()
        return out
    finally:
        store_mod._Matrix.collect = classmethod(collect)
        store_mod._TIER_BYTES = budget


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--sizes", type=int, nargs="+",
                    default=[4000, 8000, 16000, 32000, 64000, 128000])
    ap.add_argument("--dim", type=int, default=64)
    ap.add_argument("--reps", type=int, default=3)
    ap.add_argument("--versions", type=int, default=12,
                    help="versions per size, split evenly between the sides")
    args = ap.parse_args()

    from vervectordb_spark.session import get_spark

    spark = get_spark("tier-crossover",
                      extra_conf={"spark.ui.showConsoleProgress": "false"})
    spark.sparkContext.setLogLevel("ERROR")
    work = tempfile.mkdtemp(prefix="tier-crossover-")
    try:
        for n in args.sizes:
            print(json.dumps(run(spark, n, args.dim, args.reps,
                                 args.versions, work)), flush=True)
    finally:
        spark.stop()
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    main()
