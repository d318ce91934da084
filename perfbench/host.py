"""Host-side readings taken from /proc and the driver JVM: CPU steal, GC
time, memory in use. None of these touch the program under test."""

from __future__ import annotations

import hashlib
import json
import os
import time

RUNS_LOG = os.path.join(".bench_cache", "runs.jsonl")


def steal_frac(t0: tuple[int, int], t1: tuple[int, int]) -> float:
    return (t1[0] - t0[0]) / max(1, t1[1] - t0[1])


def gc_ms(spark) -> int:
    """Total collection time of every JVM garbage collector, in ms."""
    mf = spark.sparkContext._jvm.java.lang.management.ManagementFactory
    return sum(max(0, int(b.getCollectionTime()))
               for b in mf.getGarbageCollectorMXBeans())


def jvm_mem_mb(spark) -> float:
    """Memory the driver JVM holds for the program: the heap still in use
    after a full collection, plus non-heap in use (metaspace, code cache).
    Unlike RSS this does not follow the heap's size, only what lives in
    it."""
    jvm = spark.sparkContext._jvm
    jvm.java.lang.System.gc()
    mem = jvm.java.lang.management.ManagementFactory.getMemoryMXBean()
    used = mem.getHeapMemoryUsage().getUsed() + mem.getNonHeapMemoryUsage().getUsed()
    return used / 2**20


def source_hash() -> str:
    """Hash of the program's and the benchmark's source files, so that
    logged runs can be matched to the code they measured (the checkout
    need not be a git repository)."""
    h = hashlib.sha1()
    for top in ("vervectordb_spark", "perfbench"):
        for d, dirs, files in os.walk(top):
            dirs[:] = sorted(x for x in dirs if x != "__pycache__")
            for name in sorted(files):
                path = os.path.join(d, name)
                with open(path, "rb") as f:
                    h.update(path.encode() + b"\0" + f.read())
    return h.hexdigest()[:12]


def untraced_p50s(workload: str, seed: int, tree: str) -> list[float]:
    """`p50_ms` of every logged untraced run of this workload, seed and
    source hash — the baseline a traced run's overhead is taken against."""
    if not os.path.exists(RUNS_LOG):
        return []
    with open(RUNS_LOG) as f:
        recs = [json.loads(line) for line in f if line.strip()]
    return [r["p50_ms"] for r in recs if r.get("trace") == 0
            and (r.get("workload"), r.get("seed"), r.get("tree")) == (workload, seed, tree)]


def log_run(record: dict) -> int:
    """Append one run record (with its position in this checkout's run
    order) to the runs log; returns the run index."""
    os.makedirs(os.path.dirname(RUNS_LOG), exist_ok=True)
    n = 0
    if os.path.exists(RUNS_LOG):
        with open(RUNS_LOG) as f:
            n = sum(1 for _ in f)
    record = {"run_index": n, "unix_time": round(time.time(), 3), **record}
    with open(RUNS_LOG, "a") as f:
        f.write(json.dumps(record, sort_keys=True) + "\n")
    return n
