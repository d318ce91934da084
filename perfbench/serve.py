"""serve_mixed: one closed-loop client driving the VectorStore facade.

Set-up: ingest(parquet) -> save -> load -> build_ivf_index(N_CLUSTERS),
then one warm-up call of every read kind.

Timed phase: a fixed call schedule sized from --seconds (one round per
ROUND_SECONDS, at least one), so a faster program runs the same calls in
less time. Each round has two parts:
  read   READ_PATTERNS x a 10-call pattern — 5 ivf_search, 2 filtered_search
         (label predicate, ~10% selective), 1 brute_force_search,
         2 get_by_id — each followed by batch_search(32). In the first
         round the store is the freshly loaded, index-backed layout.
  mixed  EPOCH_CYCLES write cycle(s): batch_insert(16), 2 x update,
         2 x delete, then brute_force_search for a just-inserted vector,
         filtered_search, and get_by_id of a just-updated id; then
         checkpoint(), which collapses the copy-on-write lineage, and one
         ivf_search, which rebuilds the index the writes invalidated.
"""

from __future__ import annotations

import os
import time
import traceback

import numpy as np

from perfbench import gen
from perfbench.calls import Calls
from perfbench.host import gc_ms
from perfbench.mirror import Mirror

N_VECTORS = 4000
TINY_VECTORS = 1000
DIM = 64
N_CLUSTERS = 16
NPROBE = 2
TOP_K = 10
BATCH = 32
ROUND_SECONDS = 10
READ_PATTERNS = 2
EPOCH_CYCLES = 1
READ_PATTERN = ("ivf_search", "ivf_search", "filtered_search", "ivf_search",
                "get_by_id", "ivf_search", "brute_force_search",
                "filtered_search", "get_by_id", "ivf_search")
N_QUERIES = 512


def _parquet_bytes(path: str) -> int:
    return sum(os.path.getsize(os.path.join(d, f))
               for d, _, fs in os.walk(path) for f in fs
               if f.endswith(".parquet"))


class LayerProbe:
    """Trace-only readings taken around each read, outside its timed
    window: logical-plan size of the store frame, rows an IVF probe scans
    (from the probed clusters' sizes) and rows each search scores."""

    def __init__(self, tracer, layer, mirror):
        self.tracer, self.layer, self.mirror = tracer, layer, mirror
        self._sizes: dict[int, dict[int, int]] = {}
        layer.update(plan_nodes=[], ivf_rows_per_result=[], rows_scored=0)

    def before_read(self, store):
        if self.tracer.enabled:
            tree = store.df._jdf.queryExecution().logical().treeString()
            self.layer["plan_nodes"].append(len(tree.strip().splitlines()))

    def after_search(self, kind, label):
        if not self.tracer.enabled:
            return
        if kind == "ivf_search":
            index = self.tracer.of("ivf.build")[-1]["result"]
            if id(index) not in self._sizes:
                self._sizes[id(index)] = {
                    r["cluster_id"]: r["n_vectors"]
                    for r in index.cluster_stats().collect()}
            sizes = self._sizes[id(index)]
            n = sum(sizes.get(c, 0) for c in self.tracer.of("ivf.probe")[-1]["result"])
            self.layer["ivf_rows_per_result"].append(n / TOP_K)
        elif kind == "filtered_search":
            n = self.mirror.n_matching(int(label))
        else:
            n = self.mirror.n_live
        self.layer["rows_scored"] += n


def run(spark, seed: int, seconds: float, workdir: str, tracer,
        fault: bool = False, tiny: bool = False):
    from pyspark.sql import functions as F

    from vervectordb_spark.store import VectorStore

    n_vectors = TINY_VECTORS if tiny else N_VECTORS
    src, vs = gen.write_vectors(seed, n_vectors, DIM)
    qs = gen.queries(seed, vs["centres"], N_QUERIES)
    rounds = max(1, round(seconds / ROUND_SECONDS))
    sched = gen.write_schedule(seed, vs["ids"], vs["centres"],
                               n_cycles=EPOCH_CYCLES * rounds)
    q_labels = np.random.default_rng([seed, 5]).integers(0, 10, N_QUERIES)
    lookup_ids = np.random.default_rng([seed, 6]).integers(0, n_vectors, N_QUERIES)
    mirror = Mirror(vs["ids"], vs["x"], vs["labels"])
    layer: dict = {}

    # ------------------------------------------------------------ set-up
    path = os.path.join(workdir, "store")
    t0 = time.perf_counter()
    store = VectorStore(spark, DIM)
    store.ingest(spark.read.parquet(src))
    t1 = time.perf_counter()
    store.save(path)
    t2 = time.perf_counter()
    store = VectorStore.load(spark, path, DIM)
    t3 = time.perf_counter()
    store.build_ivf_index(N_CLUSTERS)
    t4 = time.perf_counter()
    q = [float(v) for v in qs[-1]]
    store.ivf_search(q, TOP_K, nprobe=NPROBE)
    store.filtered_search(q, TOP_K, metadata_filter=F.col("metadata")["label"] == "0")
    store.brute_force_search(q, TOP_K)
    store.get_by_id(vs["ids"][0])
    store.batch_search([[float(v) for v in x] for x in qs[-BATCH:]], TOP_K)
    layer.update(setup_cycles_s=[t4 - t0], warmup_s=time.perf_counter() - t4,
                 ingest_s=[t1 - t0], save_s=[t2 - t1], load_s=[t3 - t2])

    # ------------------------------------------------------- timed phase
    calls = Calls()
    probe = LayerProbe(tracer, layer, mirror)
    recalls: list[float] = []
    state = {"qi": 0, "fault": fault}

    def next_q():
        i = state["qi"] % N_QUERIES
        state["qi"] += 1
        return [float(v) for v in qs[i]], str(int(q_labels[i]))

    def timed(kind, fn):
        """Run one facade call; a call that raises returns None (and is
        then counted as failed by its caller) — the run goes on."""
        with tracer.op(kind):
            t0 = time.perf_counter()
            try:
                out = fn()
            except Exception:  # noqa: BLE001 — a failed call is a result
                traceback.print_exc()
                out = None
            dt = time.perf_counter() - t0
        if out and state["fault"] and kind in ("brute_force_search", "filtered_search"):
            out = out[:-1]           # injected wrong answer: one row dropped
            state["fault"] = False
        return out, dt

    def ids_sims(out):
        return [r["vector_id"] for r in out], [r["similarity"] for r in out]

    def search(kind, q, label=None):
        probe.before_read(store)
        if kind == "ivf_search":
            out, dt = timed(kind, lambda: store.ivf_search(q, TOP_K, nprobe=NPROBE))
            ok, rec = mirror.check_approx(*ids_sims(out or []), q, TOP_K)
            recalls.append(rec)
        elif kind == "filtered_search":
            pred = F.col("metadata")["label"] == label
            out, dt = timed(kind, lambda: store.filtered_search(
                q, TOP_K, metadata_filter=pred))
            ok = mirror.check_topk(*ids_sims(out or []), q, TOP_K, label=int(label))
        else:
            out, dt = timed(kind, lambda: store.brute_force_search(q, TOP_K))
            ok = mirror.check_topk(*ids_sims(out or []), q, TOP_K)
        calls.add(kind, dt, 1, out is not None and ok)
        probe.after_search(kind, label)
        return out

    def lookup(vec_id):
        probe.before_read(store)
        out, dt = timed("get_by_id", lambda: store.get_by_id(vec_id))
        calls.add("get_by_id", dt, 1, out is not None and mirror.check_row(vec_id, out))

    def live_id(i):
        """A base-row id that the writes so far left alive."""
        j = int(lookup_ids[i % N_QUERIES])
        while not mirror.alive[j]:
            j = (j + 1) % n_vectors
        return vs["ids"][j]

    def batch():
        qb = [next_q()[0] for _ in range(BATCH)]
        out, dt = timed("batch_search", lambda: store.batch_search(qb, TOP_K))
        ok = out is not None and len(out) == BATCH and all(
            mirror.check_topk(*ids_sims(res), q, TOP_K) for q, res in zip(qb, out))
        calls.add("batch_search", dt, BATCH, ok)

    def write_cycle(w):
        metas = [{"label": str(int(lab)), "text": "new"} for lab in w["insert_labels"]]
        vecs = [[float(v) for v in x] for x in w["insert"]]
        new_ids, dt = timed("batch_insert", lambda: store.batch_insert(vecs, metas))
        ok = new_ids is not None and len(set(new_ids)) == len(vecs)
        calls.add("batch_insert", dt, len(vecs), ok)
        if ok:
            mirror.insert(new_ids, w["insert"], w["insert_labels"])
        for vid, v in zip(w["update_ids"], w["update_vecs"]):
            done, dt = timed("update", lambda: store.update(vid, [float(x) for x in v]) or True)
            calls.add("update", dt, 1, done)
            mirror.update(vid, v)
        for vid in w["delete_ids"]:
            done, dt = timed("delete", lambda: store.delete(vid) or True)
            calls.add("delete", dt, 1, done)
            mirror.delete(vid)
        # the just-inserted vector must come back first with similarity 1
        out = search("brute_force_search", vecs[0])
        if not ok or not out or out[0]["vector_id"] != new_ids[0] or \
                abs(out[0]["similarity"] - 1.0) > 1e-6:
            calls.fail_last()
        search("filtered_search", *next_q())
        lookup(w["update_ids"][0])      # must return the updated vector

    store.db_path = os.path.join(workdir, "live")
    gc0 = gc_ms(spark)
    t_start = time.perf_counter()
    for r in range(rounds):
        for n in range(READ_PATTERNS * len(READ_PATTERN)):
            kind = READ_PATTERN[n % len(READ_PATTERN)]
            q, label = next_q()
            if kind == "get_by_id":
                lookup(live_id(state["qi"]))
            else:
                search(kind, q, label)
            if (n + 1) % len(READ_PATTERN) == 0:
                batch()
        for c in range(EPOCH_CYCLES):
            write_cycle(sched[r * EPOCH_CYCLES + c])
        done, dt = timed("checkpoint", lambda: store.checkpoint() or True)
        calls.add("checkpoint", dt, 0, done)
        search("ivf_search", next_q()[0])     # rebuilds the invalidated index
    t_total = time.perf_counter() - t_start

    layer.update(
        gc_ms=gc_ms(spark) - gc0,
        recall=float(np.mean(recalls)),
        checkpoint_ms=calls.lat_ms(("checkpoint",)),
        disk_bytes_per_vector=_parquet_bytes(
            os.path.join(store.db_path, "_checkpoint")) / mirror.n_live)
    return calls, t_total, layer
