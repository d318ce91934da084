"""Benchmark self-test: a tiny-size smoke run of every workload.

    python3 perfbench/selftest.py

For each workload in BENCHMARK.json it runs the benchmark twice at tiny
size: untraced, where every end-to-end metric must be printed with its
unit and every answer must check out; and traced with one injected wrong
answer (a dropped result row), where every per-layer metric must be
printed with its unit and the wrong answer must be counted as failed.
Exits non-zero on the first violation.
"""

from __future__ import annotations

import json
import subprocess
import sys


def run(bench: dict, workload: str, trace: int, fault: bool) -> dict:
    cmd = [*bench["command"], "--workload", workload, "--seed", "7",
           "--seconds", "2", "--trace", str(trace), "--tiny"]
    if fault:
        cmd.append("--inject-fault")
    out = subprocess.run(cmd, capture_output=True, text=True, check=True).stdout
    return json.loads(out.strip().splitlines()[-1])


def check(res: dict, specs: list[dict], fault: bool) -> list[str]:
    errs = []
    if set(res) != {"correct", "attempted", "failed", "metrics"}:
        errs.append(f"result keys {sorted(res)}")
    for m in specs:
        got = res["metrics"].get(m["name"])
        if got is None:
            errs.append(f"metric {m['name']} missing")
        elif got["unit"] != m["unit"]:
            errs.append(f"metric {m['name']} unit {got['unit']} != {m['unit']}")
    extra = set(res["metrics"]) - {m["name"] for m in specs}
    if extra:
        errs.append(f"unlisted metrics {sorted(extra)}")
    if fault and (res["failed"] < 1 or res["correct"]):
        errs.append("injected wrong answer was not counted as failed")
    if not fault and (res["failed"] or not res["correct"]):
        errs.append(f"{res['failed']} of {res['attempted']} answers failed")
    return errs


def main() -> int:
    with open("BENCHMARK.json") as f:
        bench = json.load(f)
    bad = 0
    for w in bench["workloads"]:
        for trace, fault, specs in ((0, False, bench["end_to_end"]),
                                    (1, True, bench["per_layer"])):
            errs = check(run(bench, w["name"], trace, fault), specs, fault)
            print(f"{w['name']} trace={trace} fault={fault}: "
                  + ("ok" if not errs else "; ".join(errs)), flush=True)
            bad += bool(errs)
    return 1 if bad else 0


if __name__ == "__main__":
    sys.exit(main())
