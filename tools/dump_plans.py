"""Dump `.explain("formatted")` for named registry queries to files.

Usage: python tools/dump_plans.py OUTDIR SUFFIX query [query ...]

Writes OUTDIR/<query>_<SUFFIX>.txt for each named query (built lazily at
sf0.01 — plan shape, not execution). The optimization-round deliverable:
plans/r11/<query>_before.txt / _after.txt.
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> int:
    outdir, suffix = sys.argv[1], sys.argv[2]
    names = sys.argv[3:]
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    os.makedirs(outdir, exist_ok=True)

    import __spark_entry__ as entry
    from vervectordb_spark.functions.checkpoint import release_checkpoint
    from vervectordb_spark.session import get_spark

    spark = get_spark("dump-plans",
                      extra_conf={"spark.ui.showConsoleProgress": "false"})
    spark.sparkContext.setLogLevel("ERROR")
    qs = entry.queries()
    for name in names:
        df = qs[name](spark, sf_dir)
        try:
            plan = df._sc._jvm.PythonSQLUtils.explainString(
                df._jdf.queryExecution(), "formatted")
        finally:
            release_checkpoint(df)  # as check_correctness.py does
        path = os.path.join(outdir, f"{name}_{suffix}.txt")
        with open(path, "w") as f:
            f.write(plan)
        print(f"wrote {path} ({len(plan)} bytes)")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
