"""Physical-plan audit over the ENTIRE query registry: for every
registered query, build the DataFrame (no execution) and extract the
plan-shape facts that decide 100 TB behavior — shuffle count, broadcast
joins, TakeOrderedAndProject vs global Sort, pushed filters,
whole-stage-codegen spans, and red flags (CartesianProduct,
unpartitioned windows, global sorts).

Writes PLANS.md. Run: python tools/plan_report.py [sf_dir]
"""

from __future__ import annotations

import os
import re
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

#: windows over bounded candidate sets (documented in the operator) —
#: anything else that windows without a partition key is a bug
_BOUNDED_WINDOW_OK = {"hybrid_search_rrf", "keyword_topk_tf"}


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"

    import __spark_entry__ as entry
    from vervectordb_spark.functions.checkpoint import release_checkpoint
    from vervectordb_spark.plans import audit as A
    from vervectordb_spark.session import get_spark

    # AQE defers codegen-id assignment (and can re-plan at runtime) — for a
    # compile-time plan audit the static plan is the honest artifact
    spark = get_spark("plan-report",
                      extra_conf={"spark.ui.showConsoleProgress": "false",
                                  "spark.sql.adaptive.enabled": "false"})
    spark.sparkContext.setLogLevel("ERROR")

    rows = []
    for name, fn in sorted(entry.queries().items()):
        try:
            df = fn(spark, sf_dir)
            try:
                plan = A.physical_plan(df)
            finally:
                # frames and blocks a query pins (check_correctness.py
                # does the same) must not leak into the next query's plan
                release_checkpoint(df)
        except Exception as e:  # pragma: no cover - report, don't die
            rows.append((name, "-", "-", "-", "-", f"ERROR {type(e).__name__}"))
            continue
        shuffles = A.count_shuffles(plan)
        bcasts = len(re.findall(r"\(\d+\) BroadcastExchange", plan))
        wscg = len(set(re.findall(r"\[codegen id : (\d+)\]", plan)))
        topk = "TakeOrderedAndProject" in plan
        pushed = len([l for l in re.findall(r"PushedFilters: \[([^\]]*)\]", plan)
                      if l.strip()])
        flags = []
        if "CartesianProduct" in plan:
            flags.append("cartesian")
        if re.search(r"Sort \[[^\]]*\], true", plan) and not topk:
            flags.append("global-sort")
        if "Window" in plan and "partitionBy" not in plan:
            # formatted plans show window specs inline; flag only the
            # queries not documented as bounded-candidate windows
            if name not in _BOUNDED_WINDOW_OK and not re.search(
                r"windowspecdefinition\(\w", plan
            ):
                flags.append("check-window")
        rows.append((name, shuffles, bcasts, wscg,
                     f"{'TOP-K' if topk else '-'}/{pushed}",
                     ",".join(flags) or "-"))

    lines = [
        "# PLANS — physical-plan audit of every registered query",
        "",
        f"Generated by `tools/plan_report.py` at `{os.path.basename(sf_dir)}`"
        " (plan compilation only — no execution). Columns:",
        "**shuffles** = distinct Exchanges (the scale budget is 1–2 for",
        "aggregations, 2–3 for fact-fact joins); **bcasts** =",
        "BroadcastExchanges (dims, probe sets, 1-row aggregates);",
        "**wscg** = whole-stage-codegen spans; **topk/pushed** =",
        "TakeOrderedAndProject present / scans carrying pushed filters;",
        "**flags** = red flags (cartesian product, global sort, suspicious",
        "window). A `-` flag row means the plan passes the audit.",
        "",
        "| query | shuffles | bcasts | wscg | topk/pushed | flags |",
        "|---|---|---|---|---|---|",
    ]
    for r in rows:
        lines.append("| " + " | ".join(str(x) for x in r) + " |")
    flagged = [r for r in rows if r[5] not in ("-",) and not str(r[5]).startswith("ERROR")]
    lines += [
        "",
        f"{len(rows)} queries audited; {len(flagged)} flagged.",
        "",
    ]
    with open(os.path.join(REPO, "PLANS.md"), "w") as f:
        f.write("\n".join(lines))
    print(f"{len(rows)} queries audited; {len(flagged)} flagged -> PLANS.md")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
