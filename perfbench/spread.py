"""Run one workload on several seeds and report, per end-to-end metric, the
median and the inter-quartile spread as a share of the median — the
steadiness figure each metric's bound in BENCHMARK.json is judged by.

    python3 perfbench/spread.py --workload serve_mixed --seeds 1 2 3 4 5
"""

from __future__ import annotations

import argparse
import json
import statistics
import subprocess
import sys


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", type=int, nargs="+", required=True)
    args = ap.parse_args()
    with open("BENCHMARK.json") as f:
        bench = json.load(f)
    specs = bench["end_to_end"]
    values: dict[str, list[float]] = {m["name"]: [] for m in specs}
    for seed in args.seeds:
        out = subprocess.run(
            [*bench["command"], "--workload", args.workload, "--seed", str(seed),
             "--seconds", str(bench["run_seconds"]), "--trace", "0"],
            capture_output=True, text=True, check=True).stdout
        res = json.loads(out.strip().splitlines()[-1])
        print(json.dumps({"seed": seed, "correct": res["correct"],
                          "attempted": res["attempted"], "failed": res["failed"],
                          **{k: round(v["value"], 4) for k, v in res["metrics"].items()
                             if k in values}}), flush=True)
        for k in values:
            values[k].append(res["metrics"][k]["value"])
    bounds = {m["name"]: m["bound"] for m in specs}
    for k, v in values.items():
        med = statistics.median(v)
        q1, _, q3 = statistics.quantiles(v, n=4)
        spread = (q3 - q1) / med if med else float("nan")
        print(f"{k:<28} median {med:12.4f}  spread {spread:6.3f}  bound {bounds[k]}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
