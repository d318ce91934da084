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
`release_checkpoint(df)` when done instead of `df.unpersist()`.
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

    eager=False defers materialization to the first job that touches the
    frame: the plan becomes ONE RDD instance, so every consumer in the
    final query shares its computation (and its persisted blocks) WITHOUT
    a synchronous build-time job per table — measured on the r12 n-gram
    type tables: eager barriers serialized work the old redundant plan
    overlapped (trigram 1.5 → 3.4 s), lazy keeps the sharing and loses
    the barriers. The persistence registers at mark time, so the ids are
    still captured (and released) the same way."""
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


def release_checkpoint(df: DataFrame) -> None:
    """Free the checkpoint blocks backing a frame produced by
    eager_checkpoint (attached as _ckpt_ids). The frame must not be used
    afterwards. Safe on frames without attached ids (no-op)."""
    ids = getattr(df, "_ckpt_ids", None)
    if ids:
        release_blocks(df.sparkSession.sparkContext, ids)
