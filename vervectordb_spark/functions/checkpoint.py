"""Leak-free localCheckpoint plumbing (SCALE.md finding #15).

`DataFrame.localCheckpoint(eager=True)` persists the physical RDD of the
plan for the LIFETIME OF THE SESSION — and `DataFrame.unpersist()` on the
checkpointed frame is a silent no-op (the persisted entity is the internal
RDD, not the new frame's plan). Iterative algorithms that re-checkpoint a
frame per round (BPE merges, connected components, streaming refresh,
store compaction) therefore leak one blocks-set per round; round 9's
bench showed leaked blocks taxing ~40 downstream entries 1.3-2.2x.

This module is the ONE sanctioned way to localCheckpoint:

    df, tok = eager_checkpoint(df)            # first round
    df, tok = eager_checkpoint(df, release=tok)   # later rounds: frees prev
    ...
    release_blocks(spark.sparkContext, tok)   # when df is consumed

For frames returned to callers (a trained vocab, an encoded corpus), the
newly-persisted ids are attached as `df._ckpt_ids`; call
`release_checkpoint(df)` when done instead of `df.unpersist()`. A frame
built over `DataFrame.persist`ed stages (the pretraining export) lists
them as `df._persisted`, and the same `release_checkpoint(df)` unpersists
them; `carry_release` moves both handles onto a frame derived from it.
bench.py's post-entry state-hygiene assertion is the regression gate.
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def persistent_rdd_ids(sc) -> set[int]:
    """Ids of every RDD the JVM currently holds persisted — cache(),
    persist(), AND localCheckpoint blocks."""
    return {int(k) for k in sc._jsc.getPersistentRDDs().keySet().toArray()}


def release_blocks(sc, ids) -> None:
    """Unpersist the given persistent-RDD ids (non-blocking). Unknown /
    already-released ids are ignored."""
    if not ids:
        return
    jmap = sc._jsc.getPersistentRDDs()
    for i in ids:
        jrdd = jmap.get(i)
        if jrdd is not None:
            jrdd.unpersist(False)


def eager_checkpoint(df: DataFrame,
                     release: set[int] | None = None,
                     eager: bool = True,
                     ) -> tuple[DataFrame, set[int]]:
    """localCheckpoint that (a) reports which RDD ids it persisted and
    (b) optionally frees a previous round's ids — the iterate-and-replace
    pattern without the per-round block leak.

    eager=False does NOT defer the whole build under AQE: marking
    executes the frame's physical plan, and AdaptiveSparkPlanExec runs
    every shuffle and broadcast stage below the root right then (one
    job per stage — a one-shuffle frame ran 1 job at mark time, the
    pretraining export's exact-dedup frame over 1000 documents ran 7).
    Only the final, shuffle-free stage is left to the first job that
    reads the frame, which then computes and pins it once for every
    consumer. The persistence registers at mark time, so the ids are
    captured (and released) the same way. A frame that must run no job
    until it is read wants DataFrame.persist (release_checkpoint frees
    those too)."""
    sc = df.sparkSession.sparkContext
    before = persistent_rdd_ids(sc)
    try:
        out = df.localCheckpoint(eager=eager)
    except BaseException:
        # the RDD is marked before the eager job runs: a failed job
        # must not leave it pinned
        release_blocks(sc, persistent_rdd_ids(sc) - before)
        raise
    new_ids = persistent_rdd_ids(sc) - before
    if release:
        release_blocks(sc, release)
    out._ckpt_ids = new_ids  # type: ignore[attr-defined]
    return out, new_ids


def carry_release(dst: DataFrame, src: DataFrame) -> DataFrame:
    """Hand the frames and blocks `src` pins (_ckpt_ids, _persisted) to
    `dst`, a frame built from it, so ONE release_checkpoint(dst) after
    consuming `dst` frees them."""
    for attr in ("_ckpt_ids", "_persisted"):
        if hasattr(src, attr):
            setattr(dst, attr, getattr(src, attr))
    return dst


def release_checkpoint(df: DataFrame) -> None:
    """Free what a frame pins: the localCheckpoint blocks attached as
    _ckpt_ids (eager_checkpoint) and the persisted frames attached as
    _persisted (DataFrame.persist — unpersist drops their CacheManager
    entries and blocks). The frame must not be used afterwards. Safe on
    frames with neither attached (no-op)."""
    ids = getattr(df, "_ckpt_ids", None)
    if ids:
        release_blocks(df.sparkSession.sparkContext, ids)
    for held in getattr(df, "_persisted", ()):
        held.unpersist()
