"""curate_export: the pretraining export (`pretraining_export_e2e`) over a
generated corpus, checked against the export's DuckDB oracle.

The export is one call that runs far longer than a serving call, so the
timed phase is one export per EXPORT_SECONDS of --seconds, at least one.
The first export in the process is measured: a curation export normally
runs once per job, so its cold cost is what users of it pay.

Traced runs additionally time each stage of the measured export on its
own, from the stage frames its wrapped operators returned
(stage_self_times).
"""

from __future__ import annotations

import time

from perfbench import gen
from perfbench.calls import Calls

N_DOCS = 1000
TINY_DOCS = 300
SETUPS = 3
#: one export per EXPORT_SECONDS of --seconds (an export takes ~50 s cold)
EXPORT_SECONDS = 60

#: stage order: (stage metric, span whose frame is forced, which frame,
#: occurrence of that span). The minhash stage forces the MinHash
#: survivors (the argument the chain hands to its second shingle_table
#: call); the n-gram stage forces the decontaminated frame handed to the
#: semantic stage.
STAGES = (
    ("spans.cut_s", "spans.cut", "result", 0),
    ("text.gate_s", "text.gate", "result", 0),
    ("embed.embed_s", "embed.embed", "result", 0),
    ("dedup.exact_s", "dedup.exact", "result", 0),
    ("dedup.minhash_s", "dedup.shingle_table", "arg0", 1),
    ("dedup.ngram_decontam_s", "dedup.semantic_decontam", "arg0", 0),
    ("dedup.semantic_decontam_s", "dedup.semantic_decontam", "result", 0),
    ("sampling.mix_s", "sampling.mix", "result", 0),
    ("packing.pack_s", "packing.pack", "result", 0),
)


def _rows(rows) -> list[tuple]:
    return sorted(tuple(v if isinstance(v, str) else int(v) for v in r)
                  for r in rows)


def run(spark, seed: int, seconds: float, workdir: str, tracer,
        fault: bool = False, tiny: bool = False):
    from vervectordb_spark.queries_pretrain import pretraining_export_e2e
    from vervectordb_spark.schema import load_table

    sf_dir = gen.write_documents(seed, TINY_DOCS if tiny else N_DOCS)
    expected = _rows(r.values() for r in gen.export_oracle(sf_dir))
    layer = {"setup_cycles_s": []}
    for _ in range(SETUPS):
        t0 = time.perf_counter()
        n_docs = load_table(spark, sf_dir, "documents").count()
        layer["setup_cycles_s"].append(time.perf_counter() - t0)

    calls = Calls()
    t_start = time.perf_counter()
    for _ in range(max(1, round(seconds / EXPORT_SECONDS))):
        n_spans = len(tracer.spans) if tracer.enabled else 0
        with tracer.op("export"):
            t0 = time.perf_counter()
            rows = pretraining_export_e2e(spark, sf_dir).collect()
            dt = time.perf_counter() - t0
        got = _rows(rows)
        if fault:
            got, fault = got[:-1], False         # injected: one row dropped
        calls.add("export", dt, n_docs, got == expected)
    t_total = time.perf_counter() - t_start
    if tracer.enabled:
        layer.update(stage_self_times(tracer, tracer.spans[n_spans:]))
    return calls, t_total, layer


def stage_self_times(tracer, built: list[dict]) -> dict:
    """From the spans of the last timed export (its operators are wrapped,
    so every stage's frame is captured), cache and force each stage's
    frame in chain order: with every earlier stage's output cached, a
    forced run costs that stage's own work. The n-gram anti-join output is
    not a frame the chain hands to an operator, so sampling.mix re-runs
    it."""
    def frame(span_name, which, nth=0):
        s = [s for s in built if s["name"] == span_name][nth]
        return s["result"] if which == "result" else s["args"][0]

    out, cached = {}, []
    try:
        for metric, span_name, which, nth in STAGES:
            df = frame(span_name, which, nth).cache()
            cached.append(df)
            out[metric] = tracer.force(metric, df)
        out["bpe.train_s"] = next(s["end"] - s["start"] for s in built
                                  if s["name"] == "bpe.train")
        entering = frame("dedup.exact", "arg0").count()
        survivors = frame("dedup.shingle_table", "arg0", 1).count()
        out["dedup.survivor_frac"] = survivors / max(1, entering)
    finally:
        for df in cached:
            df.unpersist()
    return out
