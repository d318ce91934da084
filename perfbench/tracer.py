"""Per-layer tracing from outside the program.

`Tracer.install()` wraps public functions of the program's layers (the
store facade, the IVF index, the search/top-k operators, the curation
operators, DataFrame.collect) with span recorders. A span is
(name, start, end, parent, op) plus, in memory only, the call's arguments
and result; spans stay in memory and are written out once, at the end of
the run. Each timed facade call runs
inside `op()`, which also tags its Spark jobs with a job group so the
jobs, stages and tasks it caused can be counted afterwards.

`NullTracer` has the same surface and records nothing; the untraced runs
that produce the end-to-end numbers use it.
"""

from __future__ import annotations

import contextlib
import functools
import importlib
import json
import time
from collections import defaultdict


class NullTracer:
    enabled = False

    def install(self):
        return self

    def uninstall(self):
        pass

    @contextlib.contextmanager
    def op(self, kind: str):
        yield None


#: (module, attribute, span name) — functions wrapped in place. Modules
#: that bind a function by `from x import f` at import time keep their own
#: reference, so those bindings are listed separately.
FUNCTIONS = (
    ("vervectordb_spark.session", "get_spark", "session.get_spark"),
    ("vervectordb_spark.operators.search", "brute_force_topk", "search.brute_force_topk"),
    ("vervectordb_spark.operators.ivf", "brute_force_topk", "search.brute_force_topk"),
    ("vervectordb_spark.operators.search", "point_lookup", "search.point_lookup"),
    ("vervectordb_spark.operators.topk", "gemm_topk", "topk.gemm_topk"),
    ("vervectordb_spark.operators.spans", "remove_duplicate_spans", "spans.cut"),
    ("vervectordb_spark.operators.text", "quality_filter", "text.gate"),
    ("vervectordb_spark.operators.embed", "embed_documents", "embed.embed"),
    ("vervectordb_spark.operators.dedup", "drop_exact_dups", "dedup.exact"),
    ("vervectordb_spark.operators.dedup", "minhash_near_dup_pairs", "dedup.minhash"),
    ("vervectordb_spark.operators.dedup", "shingle_table", "dedup.shingle_table"),
    ("vervectordb_spark.operators.dedup", "embedding_contamination_pairs", "dedup.semantic_decontam"),
    ("vervectordb_spark.operators.sampling", "mix_by_temperature", "sampling.mix"),
    ("vervectordb_spark.operators.bpe", "train_bpe", "bpe.train"),
    ("vervectordb_spark.operators.packing", "pack_by_token_offset", "packing.pack"),
)

#: (module, class, method, span name)
METHODS = (
    ("vervectordb_spark.store", "VectorStore", "ingest", "store.ingest"),
    ("vervectordb_spark.store", "VectorStore", "save", "store.save"),
    ("vervectordb_spark.store", "VectorStore", "load", "store.load"),
    ("vervectordb_spark.store", "VectorStore", "checkpoint", "store.checkpoint"),
    ("vervectordb_spark.store", "VectorStore", "batch_insert", "store.batch_insert"),
    ("vervectordb_spark.store", "VectorStore", "update", "store.update"),
    ("vervectordb_spark.store", "VectorStore", "delete", "store.delete"),
    ("vervectordb_spark.store", "VectorStore", "get_by_id", "store.get_by_id"),
    ("vervectordb_spark.store", "VectorStore", "brute_force_search", "store.brute_force_search"),
    ("vervectordb_spark.store", "VectorStore", "filtered_search", "store.filtered_search"),
    ("vervectordb_spark.store", "VectorStore", "ivf_search", "store.ivf_search"),
    ("vervectordb_spark.store", "VectorStore", "batch_search", "store.batch_search"),
    ("vervectordb_spark.operators.ivf", "IVFIndex", "build", "ivf.build"),
    ("vervectordb_spark.operators.ivf", "IVFIndex", "search", "ivf.search"),
    ("vervectordb_spark.operators.ivf", "IVFIndex", "probe_clusters", "ivf.probe"),
    ("pyspark.sql.classic.dataframe", "DataFrame", "collect", "spark.collect"),
)


class Tracer:
    enabled = True

    def __init__(self, spark_getter):
        self._spark = spark_getter
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self._op_id: int | None = None
        self._n_ops = 0
        self._restore: list[tuple] = []
        #: per op kind: [calls, jobs, stages, tasks]
        self.spark_counts: dict[str, list[int]] = defaultdict(lambda: [0, 0, 0, 0])
        #: time the tracer spends on its own work — span records, job
        #: groups, job counting — the tracing overhead of a traced run (s)
        self.bookkeeping_s = 0.0
        #: forced-frame timings: [(name, seconds)]
        self.forced: list[tuple[str, float]] = []

    # ------------------------------------------------------------ spans
    def _wrap(self, fn, name):
        tracer = self

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            t_in = time.perf_counter()
            parent = tracer._stack[-1] if tracer._stack else None
            idx = len(tracer.spans)
            span = {"name": name, "start": None, "end": None,
                    "parent": parent, "op": tracer._op_id}
            tracer.spans.append(span)
            tracer._stack.append(idx)
            span["start"] = time.perf_counter()
            tracer.bookkeeping_s += span["start"] - t_in
            try:
                out = fn(*args, **kwargs)
                span["result"] = out
                span["args"] = args
                return out
            finally:
                span["end"] = time.perf_counter()
                tracer._stack.pop()
                tracer.bookkeeping_s += time.perf_counter() - span["end"]
        return traced

    def install(self):
        for mod, attr, name in FUNCTIONS:
            m = importlib.import_module(mod)
            orig = getattr(m, attr)
            setattr(m, attr, self._wrap(orig, name))
            self._restore.append((m, attr, orig))
        for mod, cls_name, attr, name in METHODS:
            cls = getattr(importlib.import_module(mod), cls_name)
            orig = cls.__dict__[attr]
            if isinstance(orig, classmethod):
                new = classmethod(self._wrap(orig.__func__, name))
            else:
                new = self._wrap(orig, name)
            setattr(cls, attr, new)
            self._restore.append((cls, attr, orig))
        return self

    def uninstall(self):
        for obj, attr, orig in reversed(self._restore):
            setattr(obj, attr, orig)
        self._restore.clear()

    # -------------------------------------------------------------- ops
    @contextlib.contextmanager
    def op(self, kind: str):
        """One timed facade call: spans opened inside it carry its op id,
        and its Spark jobs are counted under `kind` afterwards."""
        t0 = time.perf_counter()
        sc = self._spark().sparkContext
        self._n_ops += 1
        self._op_id = self._n_ops
        group = f"bench-op-{self._n_ops}"
        sc.setJobGroup(group, kind)
        self.bookkeeping_s += time.perf_counter() - t0
        try:
            yield self._op_id
        finally:
            t1 = time.perf_counter()
            self._op_id = None
            sc.setLocalProperty("spark.jobGroup.id", None)
            self._count_jobs(sc, group, kind)
            self.bookkeeping_s += time.perf_counter() - t1

    def _count_jobs(self, sc, group, kind):
        st = sc.statusTracker()
        c = self.spark_counts[kind]
        c[0] += 1
        for jid in st.getJobIdsForGroup(group):
            info = st.getJobInfo(jid)
            if info is None:
                continue
            c[1] += 1
            for sid in info.stageIds:
                c[2] += 1
                sinfo = st.getStageInfo(sid)
                if sinfo is not None:
                    c[3] += sinfo.numTasks

    def force(self, name: str, df) -> float:
        """Execute `df` completely (noop sink) and record the wall time."""
        t0 = time.perf_counter()
        df.write.format("noop").mode("overwrite").save()
        dt = time.perf_counter() - t0
        self.forced.append((name, dt))
        return dt

    # ---------------------------------------------------------- queries
    def of(self, name: str) -> list[dict]:
        return [s for s in self.spans if s["name"] == name
                and s["end"] is not None]

    def durations(self, name: str) -> list[float]:
        return [s["end"] - s["start"] for s in self.of(name)]

    def self_times(self) -> dict[str, float]:
        """Per span name: total duration minus the time covered by its
        direct child spans (children of one span never overlap — the
        driver is single-threaded)."""
        child = defaultdict(float)
        for s in self.spans:
            if s["parent"] is not None and s["end"] is not None:
                child[s["parent"]] += s["end"] - s["start"]
        out = defaultdict(float)
        for i, s in enumerate(self.spans):
            if s["end"] is not None:
                out[s["name"]] += (s["end"] - s["start"]) - child[i]
        return dict(out)

    def dump(self, path: str, extra: dict | None = None) -> None:
        """Write the spans (result/argument objects dropped) as JSON."""
        rows = [{k: v for k, v in s.items() if k not in ("result", "args")}
                for s in self.spans]
        doc = {"spans": rows, "self_s": self.self_times(),
               "spark_counts": {k: dict(zip(("calls", "jobs", "stages", "tasks"), v))
                                for k, v in self.spark_counts.items()},
               "forced": self.forced, **(extra or {})}
        with open(path, "w") as f:
            json.dump(doc, f, indent=1, default=str)
