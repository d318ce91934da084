"""Streaming ingest with periodic index rebuilds and appends in between.

The reference builds its indexes in batch over a mutable store
(build_hnsw_index/build_ivf_index, vervectordb/__init__.py:367,411) and
maintains its HNSW on every insert (__init__.py:295-297 → :91-135). The
streaming analogue keeps every derived layout current by one rule:

  * every N micro-batches a foreachBatch hook REFITS each layout on the
    FULL table (IVF centroids, codebooks, thresholds, ...), keeps the
    fitted objects and rewrites the layout from the full table;
  * each micro-batch in between goes through the SAME rows → layout
    writer, under the kept fits, in append mode — so new rows are
    searchable at once, and each appended row is exactly what a rebuild
    with the same fit would have written.

Queries read the last published layout: derived state lags the stream by
at most one micro-batch for MEMBERSHIP and N micro-batches for fit
QUALITY (drift until the next rebuild refits; recall within a probed
cluster is exact either way because rescoring is the exact kernel).

At scale: the rebuild is the same partitionBy job as offline; an append
writes only the arriving rows into their partition directories (dynamic
partition append). A production deployment would put the layouts behind
a table format (Delta/Iceberg) so readers never see a half-appended
batch; plain parquet append is fine for the single-writer test harness
here."""

from __future__ import annotations

from collections import Counter
from contextlib import contextmanager

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from vervectordb_spark.functions.checkpoint import (
    eager_checkpoint, release_blocks)


@contextmanager
def _materialized(df: DataFrame, shared: bool):
    """`df`, computed once when two layouts are written from it. Its
    localCheckpoint blocks are released when the writes end, also when
    one of them raises."""
    if not shared:
        yield df
        return
    df, ids = eager_checkpoint(df)
    try:
        yield df
    finally:
        release_blocks(df.sparkSession.sparkContext, ids)


def ingest_with_index_refresh(
    stream_df: DataFrame,
    store_path: str,
    checkpoint: str,
    refresh_every: int = 2,
    n_clusters: int = 4,
    seed: int = 42,
    dim: int | None = None,
    ann_tables: int | None = None,
    ann_bits: int = 6,
    pq_subquantizers: int | None = None,
    pq_codebook_size: int = 16,
    bq_enabled: bool = False,
    sq_enabled: bool = False,
    imi: tuple[int, int] | None = None,
    imi_pq_subquantizers: int | None = None,
    imi_pq_codebook_size: int = 16,
    learned_bq_bits: int | None = None,
):
    """Start a streaming query that appends vectors to
    `{store_path}/vectors`, refits and rewrites every enabled layout from
    the full table every `refresh_every` micro-batches, and appends each
    micro-batch in between to every layout under the last rebuild's fits.
    Returns the StreamingQuery; `q._refresh_state` holds the fits and the
    per-kind `appends` counts.

    Layouts by kind (directory under `store_path`; the fit):
      ivf    ivf/ (IVFIndex.save): MLlib KMeans with n_clusters; rows go
             to the fitted model's predict (IVFIndex.assign, as in the
             facade). Always on.
      ann    ann/ (SignLSHIndex.save): ann_tables × ann_bits hyperplanes,
             derived deterministically from (tables, bits, dim).
      pq     codes/ (vec_id, cluster_id, pq_code), the IVF-PQ serving
             layout; codec at pq/. Needs pq_subquantizers.
      bq     bq/codes/; midrange thresholds at bq/thresholds/.
      sq     sq/codes/; per-dim (min, max) at sq/stats/.
      imi    imi/ (IMIIndex.save): one KMeans per half, k1 × k2 cells
             from imi=(k1, k2).
      imipq  imipq/codes/ (vec_id, cell1, cell2, pq_code; partitioned by
             cell1); codec at imipq/pq/. Needs imi_pq_subquantizers and
             imi.
      lbq    lbq/codes/: learned_bq_bits-wide short codes of the rotated
             vector; rotation R (opq.fit_learned_rotation, mix='none') at
             lbq/rotation/, thresholds on the rotated corpus at
             lbq/thresholds/."""
    from vervectordb_spark.operators import bq as bq_op
    from vervectordb_spark.operators import opq
    from vervectordb_spark.operators import sq as sq_op
    from vervectordb_spark.operators.ann import SignLSHIndex
    from vervectordb_spark.operators.imi import IMIIndex
    from vervectordb_spark.operators.ivf import IVFIndex
    from vervectordb_spark.operators.pq import PQCodec

    if imi_pq_subquantizers is not None and imi is None:
        raise ValueError("imi_pq_subquantizers requires imi=(k1, k2)")

    state = {
        "batches_since_refresh": 0,
        "refreshes": 0,
        "dim": dim,
        "fits": {},  # kind -> the last rebuild's fitted object
        "appends": Counter(),  # kind -> micro-batches appended since start
    }
    fits = state["fits"]

    def at(sub: str) -> str:
        return f"{store_path}/{sub}"

    def save_table(df: DataFrame, sub: str) -> None:
        df.coalesce(1).write.mode("overwrite").parquet(at(sub))

    def write_codes(df: DataFrame, cols, sub: str, mode: str,
                    by: str | None = None) -> None:
        w = df.select(*cols).write.mode(mode)
        (w.partitionBy(by) if by else w).parquet(at(sub))

    def rotated(df: DataFrame, R, bits: int) -> DataFrame:
        rot = opq.with_learned_rotation(df, R, state["dim"], kernel="arrow")
        if bits == R.shape[0]:
            return rot
        return rot.withColumn("emb_lrot", F.slice("emb_lrot", 1, bits))

    def rebuild(full: DataFrame) -> None:
        """Fit every enabled layout on the full table and save each fit.
        The IVF, sign-LSH and IMI saves write their rows too, through the
        same writers an append uses."""
        spark, d = full.sparkSession, state["dim"]
        fits["ivf"] = IVFIndex.build(full, n_clusters=n_clusters, seed=seed)
        fits["ivf"].save(at("ivf"))
        if ann_tables is not None:
            fits["ann"] = SignLSHIndex.build(full, n_tables=ann_tables,
                                             bits=ann_bits)
            fits["ann"].save(at("ann"))
        if pq_subquantizers is not None:
            fits["pq"] = PQCodec.fit(
                full, dim=d, n_subquantizers=pq_subquantizers,
                codebook_size=pq_codebook_size, seed=seed)
            fits["pq"].save(at("pq"), spark)
        if bq_enabled:
            fits["bq"] = bq_op.fit_bq_thresholds(full).toPandas()
            save_table(spark.createDataFrame(fits["bq"]), "bq/thresholds")
        if sq_enabled:
            fits["sq"] = sq_op.fit_sq_stats(full).toPandas()
            save_table(spark.createDataFrame(fits["sq"]), "sq/stats")
        if imi is not None:
            fits["imi"] = IMIIndex.build(full, k1=imi[0], k2=imi[1], dim=d,
                                         seed=seed)
            fits["imi"].save(at("imi"))
        if imi_pq_subquantizers is not None:
            fits["imipq"] = PQCodec.fit(
                full, dim=d, n_subquantizers=imi_pq_subquantizers,
                codebook_size=imi_pq_codebook_size, seed=seed)
            fits["imipq"].save(at("imipq/pq"), spark)
        if learned_bq_bits is not None:
            R = opq.fit_learned_rotation(full, d, seed=seed,
                                         order_col="vec_id", mix="none")
            bits = min(int(learned_bq_bits), R.shape[0])
            thr = bq_op.fit_bq_thresholds(rotated(full, R, bits),
                                          emb_col="emb_lrot",
                                          dim=bits).toPandas()
            fits["lbq"] = (R, thr, bits)
            save_table(spark.createDataFrame(
                [(i, [float(x) for x in R[i]]) for i in range(R.shape[0])],
                "row int, vals array<double>"), "lbq/rotation")
            save_table(spark.createDataFrame(thr), "lbq/thresholds")

    def publish(rows: DataFrame, mode: str) -> None:
        """Write `rows` into every layout under the current fits: the full
        table with mode "overwrite" after a rebuild (whose index saves
        have already written the IVF, sign-LSH and IMI rows), a
        micro-batch with mode "append" between rebuilds."""
        spark, appending = rows.sparkSession, mode == "append"
        with _materialized(fits["ivf"].assign(rows),
                           appending and "pq" in fits) as a:
            if appending:
                IVFIndex.write_layout(a, at("ivf"), mode)
            if "pq" in fits:
                write_codes(fits["pq"].encode(a),
                            ("vec_id", "cluster_id", "pq_code"), "codes", mode)
        if "imi" in fits:
            with _materialized(fits["imi"].assign(rows),
                               appending and "imipq" in fits) as c:
                if appending:
                    IMIIndex.write_layout(c, at("imi"), mode)
                if "imipq" in fits:
                    write_codes(fits["imipq"].encode(c),
                                ("vec_id", "cell1", "cell2", "pq_code"),
                                "imipq/codes", mode, by="cell1")
        if "ann" in fits and appending:
            fits["ann"].write_layout(fits["ann"].sign(rows), at("ann"), mode)
        if "bq" in fits:
            write_codes(bq_op.with_codes(rows, spark.createDataFrame(fits["bq"]),
                                         state["dim"]),
                        ("vec_id", "bq_code"), "bq/codes", mode)
        if "sq" in fits:
            write_codes(sq_op.with_codes(rows, spark.createDataFrame(fits["sq"])),
                        ("vec_id", "sq_code"), "sq/codes", mode)
        if "lbq" in fits:
            R, thr, bits = fits["lbq"]
            write_codes(bq_op.with_codes(rotated(rows, R, bits),
                                         spark.createDataFrame(thr), bits,
                                         emb_col="emb_lrot"),
                        ("vec_id", "bq_code"), "lbq/codes", mode)

    def handle(batch_df: DataFrame, batch_id: int) -> None:
        rows = batch_df
        if dim is not None:
            rows = rows.filter(F.size("embedding") == dim)
        rows.write.mode("append").parquet(at("vectors"))
        state["batches_since_refresh"] += 1
        if state["batches_since_refresh"] >= refresh_every:
            full = batch_df.sparkSession.read.parquet(at("vectors"))
            if state["dim"] is None:
                row = full.select(F.size("embedding").alias("d")).first()
                if row is None:
                    return  # nothing ingested yet: no fit to run
                state["dim"] = row["d"]
            rebuild(full)
            publish(full, "overwrite")
            state["batches_since_refresh"] = 0
            state["refreshes"] += 1
        elif fits:
            publish(rows, "append")
            state["appends"].update(fits.keys())

    q = (
        stream_df.writeStream.foreachBatch(handle)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )
    q._refresh_state = state  # test introspection
    return q
