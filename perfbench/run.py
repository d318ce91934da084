"""Benchmark entry point.

    python3 perfbench/run.py --workload serve_mixed --seed 1 --seconds 20 --trace 0

Run from the root of a checkout. Generates the workload's inputs from
the seed (cached under .bench_cache/), starts a Spark session through the
program's own session factory on 4 cores, sets up, measures for about
--seconds, checks every answer, and prints one JSON line last:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

--trace 0 prints the end-to-end metrics of BENCHMARK.json; --trace 1
wraps the program's layer functions, prints the per-layer metrics and
writes the spans to .bench_cache/trace-<workload>-s<seed>.json, with
the tracing overhead on p50_ms against logged untraced runs of the same
seed and source code. Every run except --tiny ones is logged to
.bench_cache/runs.jsonl. Everything the run writes stays under the
working directory. The run itself happens in a child process; this one
exits only when that child and every process it started have ended.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import tempfile
import time

ROOT = os.getcwd()
sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import numpy as np  # noqa: E402

WORKLOADS = ("serve_mixed", "curate_export")
CORES = 4
SERVE_KINDS = ("ivf_search", "filtered_search", "brute_force_search")
WRITE_KINDS = ("batch_insert", "update", "delete", "checkpoint")
OP_KINDS = SERVE_KINDS + ("get_by_id", "batch_search") + WRITE_KINDS + ("export",)
CURATE_STAGES = ("spans.cut_s", "text.gate_s", "embed.embed_s", "dedup.exact_s",
                 "dedup.minhash_s", "dedup.ngram_decontam_s",
                 "dedup.semantic_decontam_s", "sampling.mix_s", "bpe.train_s",
                 "packing.pack_s")
#: set in the child process that runs the benchmark under `supervise`:
#: the child's scratch directory, which `supervise` removes at the end
CHILD_ENV = "PERFBENCH_WORKDIR"
PR_SET_CHILD_SUBREAPER = 36
#: how long processes left after the run may take to end on their own
GRACE_S = 10.0


def _env(workdir: str) -> None:
    """Keep every file the run (and the JVM and Python workers it starts)
    writes inside the working directory, and let Python workers import
    the program."""
    tmp = os.path.join(workdir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    tempfile.tempdir = tmp
    os.environ.update({
        "JAVA_TOOL_OPTIONS": f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}",
        "PYTHONPATH": os.pathsep.join(p for p in (ROOT, os.environ.get("PYTHONPATH")) if p),
        "TMPDIR": tmp,
        "SPARK_LOCAL_DIRS": os.path.join(workdir, "spark-local"),
        "SPARK_GRAFT_CPUS": str(CORES),
        "SPARK_DRIVER_MEM": "4g",
        "PYSPARK_PYTHON": sys.executable,
    })


def _conf(workdir: str) -> dict:
    return {
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": os.path.join(workdir, "warehouse"),
        "spark.local.dir": os.path.join(workdir, "spark-local"),
        "spark.driver.extraJavaOptions": "-Xms4g",
    }


def pct(values, q: float) -> float:
    """q-th percentile (0-100); 0 for a call kind the workload never makes."""
    return float(np.percentile(values, q)) if values else 0.0


def end_to_end(calls, t_total, layer, start_s, mem_mb) -> dict:
    return {
        "setup_s": (start_s + statistics.median(layer["setup_cycles_s"])
                    + layer.get("warmup_s", 0.0), "s"),
        "p50_ms": (pct(calls.lat_ms(), 50), "ms"),
        "items_per_s": (calls.items / t_total, "1/s"),
        "jvm_mem_mb": (mem_mb, "MB"),
    }


def summary(calls, t_total, layer, start_s) -> str:
    """Human-readable breakdown for stderr: calls and median ms per kind."""
    lines = [f"session start {start_s:.2f}s, set-up cycles "
             + " ".join(f"{s:.2f}" for s in layer["setup_cycles_s"])
             + f", timed {t_total:.2f}s"]
    for kind in OP_KINDS:
        lat = calls.lat_ms((kind,))
        if lat:
            lines.append(f"  {kind:<20} n={len(lat):<4} p50={pct(lat, 50):9.1f}ms "
                         f"max={max(lat):9.1f}ms")
    return "\n".join(lines)


def per_layer(calls, t_total, layer, start_s, tracer) -> dict:
    def mean(xs):
        return statistics.fmean(xs) if xs else 0.0

    def span_mean_ms(name, ops=None):
        d = [(s["end"] - s["start"]) * 1e3 for s in tracer.of(name)
             if ops is None or op_kind.get(s["op"]) in ops]
        return mean(d)

    # op id -> kind, from the order ops were recorded
    op_kind = {i + 1: r[0] for i, r in enumerate(calls.rows)}
    m = {
        "session.start_s": (start_s, "s"),
        "jvm.gc_ms_per_op": (layer.get("gc_ms", 0) / max(1, calls.attempted), "ms"),
        "store.ingest_s": (mean(layer.get("ingest_s", [])), "s"),
        "store.save_s": (mean(layer.get("save_s", [])), "s"),
        "store.load_s": (mean(layer.get("load_s", [])), "s"),
        "store.checkpoint_ms": (mean(layer.get("checkpoint_ms", [])), "ms"),
        "store.plan_nodes": (mean(layer.get("plan_nodes", [])), "count"),
        "store.disk_bytes_per_vector": (layer.get("disk_bytes_per_vector", 0.0), "bytes"),
        "store.search_p50_ms": (pct(calls.lat_ms(SERVE_KINDS), 50), "ms"),
        "store.search_p90_ms": (pct(calls.lat_ms(SERVE_KINDS), 90), "ms"),
        "store.lookup_p50_ms": (pct(calls.lat_ms(("get_by_id",)), 50), "ms"),
        "store.write_p50_ms": (pct(calls.lat_ms(WRITE_KINDS), 50), "ms"),
        "store.write_p90_ms": (pct(calls.lat_ms(WRITE_KINDS), 90), "ms"),
        "store.batch_qps": (sum(r[2] for r in calls.rows if r[0] == "batch_search")
                            / max(1e-9, sum(r[1] for r in calls.rows
                                            if r[0] == "batch_search")), "1/s"),
        "ivf.build_s": (mean(tracer.durations("ivf.build")), "s"),
        "ivf.rebuilds": (sum(1 for s in tracer.of("ivf.build") if s["op"] is not None),
                         "count"),
        "ivf.probe_ms": (span_mean_ms("ivf.probe", ("ivf_search",)), "ms"),
        "ivf.rows_scanned_per_result": (mean(layer.get("ivf_rows_per_result", [])), "count"),
        "ivf.recall_at_10": (layer.get("recall", 0.0), "fraction"),
        "search.plan_ms": (span_mean_ms("search.brute_force_topk", SERVE_KINDS), "ms"),
        "search.exec_ms": (span_mean_ms("spark.collect", SERVE_KINDS), "ms"),
        "similarity.rows_scored_per_s": (
            layer.get("rows_scored", 0) / max(1e-9, sum(
                (s["end"] - s["start"]) for s in tracer.of("spark.collect")
                if op_kind.get(s["op"]) in SERVE_KINDS)), "1/s"),
        "topk.batch_exec_ms": (span_mean_ms("spark.collect", ("batch_search",)), "ms"),
    }
    for kind in OP_KINDS:
        c = tracer.spark_counts.get(kind, [0, 0, 0, 0])
        for j, what in enumerate(("jobs", "stages", "tasks"), start=1):
            m[f"spark.{what}.{kind}"] = (c[j] / max(1, c[0]), "count")
    for name in CURATE_STAGES:
        m[name] = (layer.get(name, 0.0), "s")
    m["dedup.survivor_frac"] = (layer.get("dedup.survivor_frac", 0.0), "fraction")
    m["bench.failed_frac"] = (calls.failed / max(1, calls.attempted), "fraction")
    m["host.steal_frac"] = (layer["steal_frac"], "fraction")
    m["trace.bookkeeping_frac"] = (tracer.bookkeeping_s / max(1e-9, t_total), "fraction")
    return m


def stop_spark(spark) -> None:
    """Stop the session, then the driver JVM, and wait for it to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def _descendants() -> list[int]:
    """Pids of every process below this one, from the parent links in /proc."""
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue                             # ended while we looked
        kids.setdefault(ppid, []).append(int(name))
    out, todo = [], [os.getpid()]
    while todo:
        for pid in kids.get(todo.pop(), []):
            out.append(pid)
            todo.append(pid)
    return out


def _reap() -> None:
    while True:
        try:
            if os.waitpid(-1, os.WNOHANG)[0] == 0:
                return
        except ChildProcessError:
            return


def supervise(argv: list[str]) -> int:
    """Run the benchmark in a child process and return its exit code once
    the child and every process below it have ended. This process is made
    a child subreaper, so processes orphaned on the way (Spark's Python
    worker daemon outlives the driver JVM for a moment) are re-parented to
    it, and it waits for each of them; any still running GRACE_S after the
    child ends, or when this process is told to stop, are killed."""
    import ctypes
    import signal

    ctypes.CDLL(None, use_errno=True).prctl(PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0)
    stopping = []
    for sig in (signal.SIGTERM, signal.SIGINT, signal.SIGHUP):
        signal.signal(sig, lambda signum, _: stopping.append(signum))
    workdir = os.path.join(ROOT, ".bench_work", f"run-{os.getpid()}")
    child = subprocess.Popen([sys.executable, os.path.abspath(__file__), *argv],
                             env={**os.environ, CHILD_ENV: workdir})
    while child.poll() is None and not stopping:
        time.sleep(0.1)
    rc = child.returncode if not stopping else 128 + stopping[0]
    deadline = time.monotonic() + (0 if stopping else GRACE_S)
    seen, killed = set(), set()
    while left := _descendants():
        seen.update(left)
        if time.monotonic() >= deadline:
            killed.update(left)
            for pid in left:
                try:
                    os.kill(pid, signal.SIGKILL)
                except ProcessLookupError:
                    pass
        _reap()
        time.sleep(0.05)
    _reap()
    shutil.rmtree(workdir, ignore_errors=True)
    if seen:
        print(f"waited for {len(seen)} process(es) left after the run, "
              f"killed {len(killed)}", file=sys.stderr)
    return rc


def main(argv=None) -> int:
    workdir = os.environ.get(CHILD_ENV)
    if not workdir:
        return supervise(sys.argv[1:] if argv is None else argv)
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--inject-fault", action="store_true",
                    help="drop one row from one checked answer (self-test)")
    ap.add_argument("--tiny", action="store_true",
                    help="tiny inputs, for the self-test smoke runs")
    args = ap.parse_args(argv)

    shutil.rmtree(workdir, ignore_errors=True)
    os.makedirs(workdir)
    _env(workdir)

    from perfbench import host
    from perfbench.tracer import NullTracer, Tracer

    spark = None
    tracer = Tracer(lambda: spark) if args.trace else NullTracer()
    try:
        tracer.install()
        import vervectordb_spark.session as session  # fails outside a checkout
        from bench import _cpu_ticks

        ticks0 = _cpu_ticks()
        t0 = time.perf_counter()
        spark = session.get_spark("perfbench", extra_conf=_conf(workdir))
        spark.sparkContext.setLogLevel("ERROR")
        start_s = time.perf_counter() - t0
        if args.workload == "serve_mixed":
            from perfbench import serve as wl
        else:
            from perfbench import curate as wl
        calls, t_total, layer = wl.run(spark, args.seed, args.seconds, workdir,
                                       tracer, fault=args.inject_fault, tiny=args.tiny)
        layer["steal_frac"] = host.steal_frac(ticks0, _cpu_ticks())
        e2e = end_to_end(calls, t_total, layer, start_s, host.jvm_mem_mb(spark))
        print(summary(calls, t_total, layer, start_s), file=sys.stderr)
        metrics = per_layer(calls, t_total, layer, start_s, tracer) if args.trace else e2e
        tree = host.source_hash()
        if args.trace:
            # tracing overhead: this run's p50 against untraced runs of the
            # same seed and code; None until such a run has been logged
            base = host.untraced_p50s(args.workload, args.seed, tree)
            overhead = (e2e["p50_ms"][0] / statistics.median(base) - 1.0) if base else None
            print(f"tracing overhead on p50_ms: {overhead} "
                  f"(against {len(base)} untraced run(s) of seed {args.seed})",
                  file=sys.stderr)
            tracer.dump(os.path.join(
                ROOT, ".bench_cache", f"trace-{args.workload}-s{args.seed}.json"),
                {"per_layer": {k: v for k, (v, _) in metrics.items()},
                 "overhead_p50_frac": overhead, "untraced_runs": len(base)})
        if not args.tiny:
            host.log_run({"workload": args.workload, "seed": args.seed, "tree": tree,
                          "trace": args.trace, "steal_frac": layer["steal_frac"],
                          **{k: v for k, (v, _) in e2e.items()},
                          "attempted": calls.attempted, "failed": calls.failed,
                          "calls": [[k, round(t * 1e3, 3)] for k, t, _, _ in calls.rows]})
    finally:
        tracer.uninstall()
        if spark is not None:
            stop_spark(spark)
        shutil.rmtree(workdir, ignore_errors=True)

    result = {
        "correct": calls.failed == 0,
        "attempted": calls.attempted,
        "failed": calls.failed,
        "metrics": {k: {"value": float(v), "unit": u} for k, (v, u) in metrics.items()},
    }
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
