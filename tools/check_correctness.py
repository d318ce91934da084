"""Driver-mimic correctness gate: run every queries() entry on Spark AND its
oracle_sql() twin on DuckDB at a given sf, compare row count, column names,
and an order-insensitive value hash. Exits nonzero on any mismatch.

Usage: python tools/check_correctness.py [sf_dir] [query ...] [--json PATH]

--json PATH additionally writes the machine-readable artifact the round
commits (CORRECTNESS_FULL_r{N}_*.json): per-query status/rows/seconds,
totals, sf_dir, and the git HEAD it ran at — so the driver-unsampled
registry entries have an auditable in-repo record (VERDICT r5 #3).
"""

from __future__ import annotations

import os
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)


def value_key(df_pandas):
    """Order-insensitive canonical form: sort columns by name, stringify
    values (floats via repr of round-tripped double), sort rows."""
    import math

    cols = sorted(df_pandas.columns)
    rows = []
    for _, r in df_pandas[cols].iterrows():
        cells = []
        for c in cols:
            v = r[c]
            if isinstance(v, float):
                cells.append("nan" if math.isnan(v) else repr(float(v)))
            else:
                cells.append(repr(v))
        rows.append("|".join(cells))
    rows.sort()
    return cols, rows


def main() -> int:
    argv = list(sys.argv[1:])
    json_path = None
    if "--json" in argv:
        i = argv.index("--json")
        json_path = argv[i + 1]
        del argv[i:i + 2]
    sf_dir = argv[0] if argv else "/root/testdata/sf0.01"
    only = set(argv[1:])

    import duckdb

    import __spark_entry__ as entrymod
    from vervectordb_spark.session import get_spark
    from vervectordb_spark.functions.checkpoint import release_checkpoint

    spark = get_spark("correctness-check")
    con = duckdb.connect()
    for t in (
        "region nation customer supplier part orders lineitem events documents embeddings"
    ).split():
        # driver fixtures are single files; gen_sf_fixtures writes Spark
        # directories of part files — glob handles both
        import os as _os

        pat = (
            f"{sf_dir}/{t}.parquet/*.parquet"
            if _os.path.isdir(f"{sf_dir}/{t}.parquet")
            else f"{sf_dir}/{t}.parquet"
        )
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{pat}')")

    qs, oracles = entrymod.queries(), entrymod.oracle_sql()
    failures = []
    checked = 0
    records = {}
    for name, fn in qs.items():
        if only and name not in only:
            continue
        checked += 1
        t0 = time.time()
        try:
            df = fn(spark, sf_dir)
            try:
                sdf = df.toPandas()
            finally:
                # operators that pin type tables (localCheckpoint, the
                # bpe/ulm _ckpt_ids convention) release here, also when
                # the collect fails, so a 165-query gate run doesn't
                # accumulate blocks (finding #15)
                release_checkpoint(df)
        except Exception as e:  # noqa: BLE001
            failures.append((name, f"SPARK ERROR: {e}"))
            records[name] = {"status": "spark_error", "err": str(e)[:500]}
            print(f"FAIL  {name}: spark error: {e}")
            continue
        if name not in oracles:
            records[name] = {"status": "rows_only", "rows": len(sdf),
                             "seconds": round(time.time() - t0, 2)}
            print(f"rows-only  {name}: {len(sdf)} rows  ({time.time()-t0:.1f}s)")
            continue
        try:
            ddf = con.sql(oracles[name]).df()
        except Exception as e:  # noqa: BLE001
            failures.append((name, f"DUCKDB ERROR: {e}"))
            records[name] = {"status": "duckdb_error", "err": str(e)[:500]}
            print(f"FAIL  {name}: duckdb error: {e}")
            continue
        scols, srows = value_key(sdf)
        dcols, drows = value_key(ddf)
        status = []
        if len(sdf) != len(ddf):
            status.append(f"rowcount {len(sdf)} vs {len(ddf)}")
        if scols != dcols:
            status.append(f"cols {scols} vs {dcols}")
        if srows != drows:
            diff = sum(1 for a, b in zip(srows, drows) if a != b) + abs(
                len(srows) - len(drows)
            )
            status.append(f"values differ ({diff} rows)")
            for a, b in list(zip(srows, drows))[:3]:
                if a != b:
                    status.append(f"  spark={a}")
                    status.append(f"  duck ={b}")
        if status:
            failures.append((name, "; ".join(status)))
            records[name] = {"status": "mismatch",
                             "detail": "; ".join(status)[:500]}
            print(f"FAIL  {name}: " + "\n".join(status))
        else:
            records[name] = {"status": "ok", "rows": len(sdf),
                             "seconds": round(time.time() - t0, 2)}
            print(f"OK    {name}: {len(sdf)} rows  ({time.time()-t0:.1f}s)")

    print(f"\n{checked - len(failures)}/{checked} checked OK"
          + (f"  (subset of {len(qs)})" if only else ""))
    if json_path is not None:
        import json as _json
        import subprocess as _sp

        try:
            head = _sp.run(["git", "-C", REPO, "rev-parse", "HEAD"],
                           capture_output=True, text=True).stdout.strip()
        except Exception:  # noqa: BLE001
            head = None
        with open(json_path, "w") as fh:
            _json.dump({
                "sf_dir": sf_dir,
                "git_head": head,
                "checked": checked,
                "ok": checked - len(failures),
                "registry_total": len(qs),
                "queries": records,
            }, fh, indent=1, sort_keys=True)
        print(f"artifact -> {json_path}")
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
