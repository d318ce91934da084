#!/usr/bin/env python
"""Spark-side scale probe: run a subset of queries() at a fixture dir and
print one JSON line of per-query wall seconds (median of N runs).

Usage: python tools/probe_scale.py SF_DIR query [query ...] [--repeats 3]

Unlike check_correctness.py this runs NO DuckDB oracle — it exists for
fixture scales where the single-threaded oracle replay would dwarf the
measurement (the sf100 probe, VERDICT r5 #8). Correctness at probe scale
is the same code the oracle gates at sf0.01/sf1; what the probe proves is
the SHAPE of the time curve.
"""

from __future__ import annotations

import json
import statistics
import os
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)


def main() -> int:
    argv = list(sys.argv[1:])
    repeats = 3
    if "--repeats" in argv:
        i = argv.index("--repeats")
        repeats = int(argv[i + 1])
        del argv[i:i + 2]
    if len(argv) < 2:
        print(__doc__, file=sys.stderr)
        return 2
    sf_dir, names = argv[0], argv[1:]

    import __spark_entry__ as entrymod
    from vervectordb_spark.session import get_spark

    spark = get_spark("scale-probe")
    spark.sparkContext.setLogLevel("ERROR")
    qs = entrymod.queries()
    out: dict[str, float] = {}
    rows: dict[str, int] = {}
    for name in names:
        if name not in qs:
            print(f"unknown query {name}", file=sys.stderr)
            return 2
        samples = []
        for _ in range(repeats):
            t0 = time.perf_counter()
            # noop sink: full computation of every column, zero driver
            # transfer — a corpus-sized result must not turn the probe
            # into a measurement of collect()
            qs[name](spark, sf_dir).write.format("noop").mode(
                "overwrite").save()
            samples.append(time.perf_counter() - t0)
        out[name] = round(statistics.median(samples), 2)
        rows[name] = qs[name](spark, sf_dir).count()
        print(f"{name}: {out[name]}s  ({rows[name]} rows)", file=sys.stderr)
    print(json.dumps({"sf_dir": sf_dir, "repeats": repeats,
                      "seconds": out, "rows": rows}))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
