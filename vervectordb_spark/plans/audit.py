"""Physical-plan audit helpers — the optimizer contract as testable
assertions.

The reference hand-codes its few optimizations (candidate over-fetch,
cluster probing, vectorized kernels — SURVEY.md §4.1); on Spark the
equivalents are Catalyst behaviors that silently disappear when a query is
written wrong (a cast blocks pushdown, a UDF breaks codegen, a missing
hint turns broadcast into sort-merge). These helpers pin them in pytest so
plan regressions fail CI, not the 100 TB run.

Usage:
    plan = physical_plan(df)
    assert_pushed_filter(plan, "label")        # filter reached the scan
    assert_read_schema_only(plan, {"vec_id", "embedding"})  # column pruning
    assert_broadcast_join(plan)                # no shuffled dim join
    assert_operator(plan, "TakeOrderedAndProject")
    assert_no_shuffle(plan)                    # map-only pipeline
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame


def physical_plan(df: DataFrame, mode: str = "formatted") -> str:
    """The physical plan as text (same as df.explain(mode), captured)."""
    jdf = df._jdf
    jvm = df.sparkSession._jvm
    return jdf.queryExecution().explainString(
        jvm.org.apache.spark.sql.execution.ExplainMode.fromString(mode)
    )


def assert_operator(plan: str, op: str) -> None:
    assert op in plan, f"expected operator {op!r} in plan:\n{plan[:2000]}"


def assert_not_operator(plan: str, op: str) -> None:
    assert op not in plan, f"unexpected operator {op!r} in plan:\n{plan[:2000]}"


def assert_pushed_filter(plan: str, column: str) -> None:
    """The parquet scan carries a pushed filter on `column` (predicate
    reached the data source — row-group/page skipping applies).
    Word-bounded match: a filter on `vec_id` must NOT satisfy an
    assertion about `id` (substring matching green-lit regressions)."""
    lists = re.findall(r"PushedFilters: \[([^\]]*)\]", plan)
    pat = re.compile(r"(?<![A-Za-z0-9_])" + re.escape(column) + r"(?![A-Za-z0-9_])")
    assert any(pat.search(l) for l in lists), (
        f"no pushed filter on {column!r} in any scan; PushedFilters="
        f"{lists or 'MISSING'}"
    )


def _schema_top_cols(s: str) -> set[str] | None:
    """Top-level column names of a ReadSchema struct body, splitting on
    commas at bracket depth 0 (naive split mangles nested map/struct/array
    types). Returns None when Spark truncated the schema ("... N more
    fields") — an unverifiable scan, not a mismatch."""
    if "..." in s:
        return None
    cols, depth, cur = set(), 0, []
    for ch in s:
        if ch == "," and depth == 0:
            frag = "".join(cur)
            if frag:
                cols.add(frag.split(":", 1)[0].strip())
            cur = []
            continue
        if ch in "<([":
            depth += 1
        elif ch in ">)]":
            depth -= 1
        cur.append(ch)
    frag = "".join(cur)
    if frag:
        cols.add(frag.split(":", 1)[0].strip())
    return cols


def assert_read_schema_only(plan: str, columns: set[str]) -> None:
    """Column pruning: some scan reads exactly `columns` (a scan that reads
    all columns for a narrow projection is wrong at any scale)."""
    schemas = re.findall(r"ReadSchema: struct<(.*?)>(?=$|\n)", plan, re.M)
    assert schemas, f"no ReadSchema in plan:\n{plan[:2000]}"
    parsed = [_schema_top_cols(s) for s in schemas]
    for cols in parsed:
        if cols is not None and cols == columns:
            return
    raise AssertionError(
        f"no scan reads exactly {sorted(columns)}; saw "
        f"{[sorted(c) if c is not None else 'TRUNCATED' for c in parsed]}"
    )


def assert_broadcast_join(plan: str) -> None:
    assert_operator(plan, "BroadcastHashJoin")


def assert_no_shuffle(plan: str) -> None:
    """Map-only pipeline: no Exchange anywhere (scan→project→filter→write
    shapes — ingest, scoring, encode — must never shuffle)."""
    assert "Exchange" not in plan, f"unexpected Exchange in plan:\n{plan[:3000]}"


def exchange_partitionings(plan: str) -> list[str]:
    """Partitioning scheme of every shuffle Exchange in a FORMATTED plan.
    The scheme is NOT on the header line — a formatted detail block reads

        (8) Exchange
        Input [3]: [doc_id#52L, band#65, band_key#66]
        Arguments: hashpartitioning(band#65, band_key#66, 32), ENSURE_...

    so the old header-line regex `\\(\\d+\\) Exchange ([A-Za-z]+)` matched
    NOTHING and the keyed-shuffle contracts passed vacuously (ADVICE r11,
    high). Parse the Arguments line of each block instead.

    Plan text without a single formatted `(N) Node` header is refused:
    simple-mode text (`+- Exchange hashpartitioning(...)`) has none, and
    a zero-match parse of it would let every shuffle contract pass
    vacuously."""
    assert re.search(r"^\(\d+\) \S", plan, re.M), (
        "not a FORMATTED plan (no '(N) Node' header) — pass "
        f"physical_plan(df), mode='formatted':\n{plan[:2000]}")
    return re.findall(
        r"^\(\d+\) Exchange\n(?:[^\n]+\n)*?Arguments: (\w+)", plan, re.M)


def assert_no_keyed_shuffle(plan: str) -> None:
    """Map-only pipeline up to the narrow-scan widener: no DATA-KEYED
    exchange (hash/range/single-partition). The conditional round-robin
    split that functions/partitioning.widen_narrow_scan inserts on
    single-row-group fixture scans is allowed — it is a structural no-op
    at production layouts, moves no keys, and exists precisely so the
    fixture's 1-task scans don't serialize the heavy map stage."""
    parts = exchange_partitionings(plan)
    assert plan.count(") Exchange\n") == len(parts), (
        f"unparsed Exchange block (format drift?) in plan:\n{plan[:3000]}")
    for p in parts:
        assert p == "RoundRobinPartitioning", (
            f"unexpected keyed Exchange {p} in plan:\n{plan[:3000]}")


def keyed_shuffle_count(plan: str) -> int:
    """DATA-KEYED exchanges only (everything except the round-robin
    widener splits) — the number the scale shuffle budgets count."""
    return sum(1 for p in exchange_partitionings(plan)
               if p != "RoundRobinPartitioning")


def count_shuffles(plan: str) -> int:
    """Number of DISTINCT exchanges in the formatted plan (AQE reuse not
    double-counted). The scale budget for a query is usually 1-2."""
    return len(re.findall(r"\(\d+\) Exchange", plan))


def executed_scan_metrics(df: DataFrame,
                          path_substr: str | None = None) -> dict[str, int]:
    """Execute `df` (collect) and return the runtime SQL metrics of its
    first parquet scan node, e.g. {"numFiles": 4, "numPartitions": 2,
    "numOutputRows": 50, ...}. `numPartitions` is the number of partition
    DIRECTORIES actually read after partition pruning — the ground-truth
    proof that a partitioned layout pruned, stronger than the plan text.

    `path_substr` selects WHICH scan when the plan reads several tables
    (composed serving paths join a codes layout against a raw-vector
    rerank table): the first scan whose Location contains the substring."""
    df.collect()
    root = df._jdf.queryExecution().executedPlan()

    def iter_nodes(node):
        yield node
        # AQE wrappers hide their subtree from children(): descend explicitly
        for unwrap in ("executedPlan", "plan"):
            try:
                yield from iter_nodes(getattr(node, unwrap)())
                return
            except Exception:
                pass
        ch = node.children()
        for i in range(ch.size()):
            yield from iter_nodes(ch.apply(i))

    def scan_location(node) -> str:
        # node.toString() truncates Location at
        # spark.sql.maxMetadataStringLength (100) — long tmp paths lose
        # their tail; the relation's rootPaths are never truncated
        try:
            paths = node.relation().location().rootPaths()
            return ";".join(str(paths.apply(i)) for i in range(paths.size()))
        except Exception:
            return node.toString()

    for node in iter_nodes(root):
        if node.nodeName().startswith("Scan parquet"):
            if path_substr is not None and path_substr not in scan_location(node):
                continue
            out: dict[str, int] = {}
            it = node.metrics().iterator()
            while it.hasNext():
                kv = it.next()
                out[kv._1()] = kv._2().value()
            return out
    raise AssertionError("no parquet scan node in executed plan")


def file_scan_count(df: DataFrame) -> int:
    """File-scan leaves of `df`'s physical plan, each cached relation's
    plan counted once however many times the query reads it — the scans
    one run of the query actually pays for. Plans only, no job:
    AdaptiveSparkPlanExec is walked through its inputPlan()."""
    jvm = df.sparkSession._jvm
    seen: set[int] = set()

    def walk(node) -> int:
        name = node.getClass().getSimpleName()
        if name == "AdaptiveSparkPlanExec":
            return walk(node.inputPlan())
        n = int(name == "FileSourceScanExec")
        if name == "InMemoryTableScanExec":
            rel = node.relation()
            key = jvm.java.lang.System.identityHashCode(rel.cacheBuilder())
            if key not in seen:
                seen.add(key)
                n += walk(rel.cachedPlan())
        ch = node.children()
        return n + sum(walk(ch.apply(i)) for i in range(ch.size()))

    return walk(df._jdf.queryExecution().executedPlan())


def codegen_stage_count(plan: str) -> int:
    """How many whole-stage-codegen spans the plan compiled (wider is
    better — Python UDFs and some exprs break spans)."""
    ids = set(re.findall(r"codegen id : (\d+)", plan))
    return len(ids)
