"""Approximate nearest neighbor search — the reference's HNSW *contract*
(Q2/Q3, vervectordb/__init__.py:367-409) served Spark-first.

The reference's HNSW is unusable as a spec: search_layer terminates on its
first pop, so hnsw_search returns at most ONE row (bug B1, SURVEY.md §2.3
— measured recall@10 = 0.0). What we implement is the intended contract —
approximate top-k with tunable recall vs exact — with two batch-friendly
strategies, neither of which needs an online graph:

  SignLSHIndex   random-hyperplane (sign) LSH with portable Rademacher
                 planes derived from md5 — fully deterministic, so the
                 whole pipeline (signature → bucket probe → exact rescore)
                 is DuckDB-oracle-checkable. Multi-table OR-probing:
                 recall = 1 - (1 - p^b)^t, tuned via (tables, bits).
  LSHAnnIndex    MLlib BucketedRandomProjectionLSH over unit-normalized
                 vectors (Euclidean on the unit sphere is monotone in
                 cosine) — the stock-MLlib alternative; graded by the
                 recall harness only.

Scale posture (100 TB): signatures are computed ONCE at build (map-only
pass) and stored as int columns; a query probes t buckets → with the table
written `partitionBy(bucket_0)` (or clustered), the probe is partition
pruning, exactly like IVF. Candidates per query ≈ t · N/2^b rows — tune b
so buckets are a few MB. The rescore is the exact kernel over candidates.
"""

from __future__ import annotations

import hashlib
from collections.abc import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from vervectordb_spark.functions.similarity import to_double
from vervectordb_spark.operators.search import brute_force_topk


def rademacher_planes(n_planes: int, dim: int) -> list[list[float]]:
    """±1 hyperplanes derived from md5 — deterministic and portable (any
    engine that can md5 derives the identical planes; sign-LSH needs only
    sub-gaussian components, Rademacher qualifies)."""
    planes = []
    for p in range(n_planes):
        row = []
        for i in range(dim):
            h = hashlib.md5(f"plane:{p}:{i}".encode()).hexdigest()
            row.append(1.0 if int(h[:15], 16) & 1 else -1.0)
        planes.append(row)
    return planes


def _dot_lit(emb: Column, plane: Sequence[float]) -> Column:
    """Fold dot product against a literal plane — same sequential double
    arithmetic as functions.similarity.dot_expr / DuckDB list_dot_product."""
    lit = F.array(*[F.lit(float(x)).cast("double") for x in plane])
    return F.aggregate(
        F.zip_with(emb, lit, lambda x, y: x * y), F.lit(0.0), lambda a, x: a + x
    )


def bucket_expr(emb: Column, planes: Sequence[Sequence[float]]) -> Column:
    """Bucket id for one table: bit j = (emb · plane_j) > 0; bucket = Σ 2^j."""
    out = F.lit(0).cast("long")
    for j, plane in enumerate(planes):
        out = out + F.when(_dot_lit(emb, plane) > 0.0, F.lit(1 << j)).otherwise(0).cast("long")
    return out


def _sign_gemm(df: DataFrame, planes: Sequence[Sequence[float]],
               n_tables: int, bits: int, emb_col: str, dim: int) -> DataFrame:
    """GEMM signature kernel: all rows pass through untouched; bucket_<t>
    columns are appended from one (batch × dim)·(dim × n_planes) multiply
    per Arrow batch. Map-only — no shuffle, no pair relation."""
    import numpy as np
    from pyspark.sql.types import LongType, StructField, StructType

    spark = df.sparkSession
    pmat = np.asarray(planes, dtype=np.float64).reshape(len(planes), dim)
    bc = spark.sparkContext.broadcast(pmat)
    out_schema = StructType(
        list(df.schema.fields)
        + [StructField(f"bucket_{t}", LongType(), False) for t in range(n_tables)]
    )
    weights = (1 << np.arange(bits)).astype(np.int64)

    def sign(batches):
        P = bc.value
        for pdf in batches:
            if len(pdf) == 0:
                for t in range(n_tables):
                    pdf[f"bucket_{t}"] = np.empty(0, dtype=np.int64)
                yield pdf
                continue
            mat = np.array(pdf[emb_col].tolist(), dtype=np.float64)
            sign_bits = (mat @ P.T > 0.0).reshape(len(pdf), n_tables, bits)
            buckets = sign_bits.astype(np.int64) @ weights  # (rows, n_tables)
            for t in range(n_tables):
                pdf[f"bucket_{t}"] = buckets[:, t]
            yield pdf

    return df.mapInPandas(sign, out_schema)


class SignLSHIndex:
    """Multi-table sign-LSH: `signed` carries bucket_<t> int columns."""

    #: max partition-directory fan-out for the persisted layout: beyond
    #: 2^12 = 4096 directories the partitionBy itself becomes the scale
    #: bug (bits="auto" can reach 24 → 16.7M dirs would kill any
    #: filesystem/metastore listing) — wider hashes partition by a
    #: bucket_0 PREFIX instead.
    MAX_PARTITION_BITS = 12

    def __init__(self, signed: DataFrame, planes: list[list[float]],
                 n_tables: int, bits: int,
                 id_col: str = "vec_id", emb_col: str = "embedding",
                 prefix_shift: int = 0):
        self.signed = signed
        self.planes = planes
        self.n_tables = n_tables
        self.bits = bits
        self.id_col = id_col
        self.emb_col = emb_col
        #: loaded prefix layouts carry bucket_p0 = bucket_0 >> prefix_shift
        #: as their partition column; 0 = plain bucket_0 layout
        self.prefix_shift = prefix_shift

    @classmethod
    def build(cls, df: DataFrame, n_tables: int = 8, bits: int | str = 8,
              id_col: str = "vec_id", emb_col: str = "embedding",
              kernel: str = "gemm", target_occupancy: int = 32) -> "SignLSHIndex":
        """One map-only pass adds bucket_<t> columns. At scale, persist
        partitioned/clustered by bucket_0 so probes prune partitions.

        bits="auto" sizes the hash width to the corpus: bits =
        log2(n / target_occupancy), clamped to [4, 24], so expected bucket
        occupancy stays ~constant as the corpus grows. This is what keeps
        self_join linear — its candidate volume is Σ_buckets |b|² ≈
        t·N²/2^bits, so FIXED bits turns 10× rows into 100× pairs (measured
        at sf1: 25 s vs the exact GEMM's 13 s), while constant occupancy c
        gives t·N·c pairs, linear in N. The standard LSH trade rides along:
        wider hashes lower per-table collision recall (p^bits), so a larger
        corpus that must hold recall adds tables (t ~ N^ρ) — callers that
        need a fixed (tables, bits) for oracle determinism pass ints.
        Costs one count() job at build (build is already a full pass).

        Two signature kernels (pytest-checked equivalent):

          kernel="gemm" (default): one BLAS (batch × dim)·(dim × planes)
            multiply per Arrow batch via mapInPandas — n_tables·bits dots
            per row in one matmul instead of that many codegen'd folds.
          kernel="fold": Catalyst fold expressions — sequential-sum
            arithmetic identical to DuckDB list_dot_product, so the whole
            signature → probe → rescore path is oracle-checkable.

        Sign agreement: the kernels differ only in float summation order
        (~1e-13 relative), so a signature bit could differ only when a
        plane dot is within rounding of 0 — never observed on real data,
        and oracle-gated queries pin kernel="fold" regardless.
        """
        # r12: the r11 widen_narrow_scan call here is REVERTED with paired
        # interleaved A/B evidence (the words()/shingle_table protocol):
        # ann_build 0.348 s without vs 0.584 s with the split (1.68×,
        # min-of-9-repeats each side, steal <0.4%; r10 driver time was
        # 0.349 s — the split WAS the r11 ann_build/knn_lsh regression).
        # The GEMM signature kernel is too light per row at bench scale to
        # amortize a round-robin exchange of the whole corpus, and at
        # production layouts the widener is a structural no-op anyway —
        # so there is no scale win to trade against the local cost.
        if bits == "auto":
            import math

            n = df.count()
            bits = max(4, min(24, math.ceil(math.log2(max(n, 1) / target_occupancy))))
        dim = df.select(F.size(emb_col).alias("d")).first()["d"]
        planes = rademacher_planes(n_tables * bits, dim)
        if kernel == "gemm":
            out = _sign_gemm(df, planes, n_tables, bits, emb_col, dim)
        else:
            # stage the double-cast array once: every plane fold references
            # the projected column instead of re-casting per fold
            out = df.withColumn("_embd", to_double(F.col(emb_col)))
            for t in range(n_tables):
                table_planes = planes[t * bits : (t + 1) * bits]
                out = out.withColumn(
                    f"bucket_{t}", bucket_expr(F.col("_embd"), table_planes)
                )
            out = out.drop("_embd")
        return cls(out, planes, n_tables, bits, id_col=id_col, emb_col=emb_col)

    def query_buckets(self, query_vec: Sequence[float]) -> list[int]:
        """Driver-side signature of the query — the same sequential fold
        arithmetic as the column expression, so buckets agree bit-for-bit."""
        buckets = []
        for t in range(self.n_tables):
            b = 0
            for j in range(self.bits):
                plane = self.planes[t * self.bits + j]
                acc = 0.0
                for x, p in zip(query_vec, plane):
                    acc = acc + float(x) * p
                if acc > 0.0:
                    b |= 1 << j
            buckets.append(b)
        return buckets

    def candidates(self, query_vec: Sequence[float]) -> DataFrame:
        """Rows sharing ANY table bucket with the query (OR-probe)."""
        qb = self.query_buckets(query_vec)
        pred = F.lit(False)
        for t, b in enumerate(qb):
            term = F.col(f"bucket_{t}") == b
            if t == 0 and self.prefix_shift:
                # redundant conjunct (prefix is determined by the bucket)
                # that the scan CAN prune on for the prefix layout
                term = term & (F.col("bucket_p0") == (b >> self.prefix_shift))
            pred = pred | term
        return self.signed.filter(pred)

    def query_buckets_multiprobe(self, query_vec: Sequence[float],
                                 n_probes: int = 4) -> list[list[int]]:
        """Per table: the base bucket plus the n_probes−1 next-likeliest
        buckets — flip the bits whose hyperplane margin |q·plane| is
        smallest (multi-probe LSH, Lv et al. VLDB'07). A near neighbor
        that lands one low-confidence bit away is recovered WITHOUT more
        tables or a bigger index: recall rises at the cost of probing
        n_probes buckets per table instead of 1.

        Flip subsets of size ≤ 2 are ranked by their summed margin (the
        likelihood a neighbor crossed exactly those hyperplanes); that
        covers every useful probe sequence for the bit widths this index
        uses (n_probes ≤ 1 + b + b(b−1)/2)."""
        out = []
        for t in range(self.n_tables):
            base = 0
            margins = []
            for j in range(self.bits):
                plane = self.planes[t * self.bits + j]
                acc = 0.0
                for x, p in zip(query_vec, plane):
                    acc = acc + float(x) * p
                if acc > 0.0:
                    base |= 1 << j
                margins.append(abs(acc))
            flips: list[tuple[float, int]] = []
            for j in range(self.bits):
                flips.append((margins[j], 1 << j))
                for i in range(j):
                    flips.append((margins[j] + margins[i], (1 << j) | (1 << i)))
            flips.sort()
            buckets = [base] + [base ^ m for _, m in flips[: max(0, n_probes - 1)]]
            out.append(buckets[:n_probes])
        return out

    def candidates_multiprobe(self, query_vec: Sequence[float],
                              n_probes: int = 4) -> DataFrame:
        """Rows landing in ANY of the n_probes probed buckets of ANY table.
        The per-table predicate is an IN-list over literal bucket ids, so
        it pushes to the scan (and prunes partitions on a
        bucket-partitioned layout) exactly like the single-probe path."""
        probes = self.query_buckets_multiprobe(query_vec, n_probes)
        pred = F.lit(False)
        for t, bl in enumerate(probes):
            term = F.col(f"bucket_{t}").isin(bl)
            if t == 0 and self.prefix_shift:
                term = term & F.col("bucket_p0").isin(
                    sorted({b >> self.prefix_shift for b in bl})
                )
            pred = pred | term
        return self.signed.filter(pred)

    def search(self, query_vec: Sequence[float], top_k: int = 5,
               pre_filter: Column | None = None,
               extra_cols: Sequence[str] = (),
               n_probes: int = 1) -> DataFrame:
        """Probe → exact cosine rescore → top-k. Returns (id, sim).
        `n_probes > 1` probes low-margin neighbor buckets per table
        (multi-probe LSH) — higher recall, same index."""
        cand = (
            self.candidates(query_vec)
            if n_probes <= 1
            else self.candidates_multiprobe(query_vec, n_probes)
        )
        if pre_filter is not None:
            cand = cand.filter(pre_filter)
        return brute_force_topk(
            cand, query_vec, top_k, emb_col=self.emb_col, id_col=self.id_col,
            extra_cols=extra_cols,
        )

    def batch_search(self, queries: DataFrame, top_k: int = 5,
                     query_id: str = "query_id",
                     query_emb: str = "q_embedding",
                     n_probes: int = 1) -> DataFrame:
        """Many-query ANN in ONE job (a per-query driver loop pays ~300 ms
        Spark scheduling per query — the loop, not the scan, dominates).

        Query signatures are computed driver-side (Q × planes dots, NumPy)
        into a broadcast (query_id, table, bucket, all-buckets, qv) probe
        relation; the index side unpivots its bucket columns into
        (row, table, bucket) entries (map-side explode) and broadcast-joins
        on (table, bucket). A (query, row) pair that matches in several
        tables is kept ONLY at its first matching table — the
        earlier-match exclusion is a column predicate over the row's own
        bucket columns vs the probe's bucket vector — so the candidate set
        needs no distinct, no rejoin by id, and nothing but the final
        per-query window ever shuffles. Returns (query_id, vec_id, rank,
        sim) with the exact fold-kernel rescore (bit-exact with the
        per-query search path).

        n_probes > 1 = batched multi-probe (Lv et al. VLDB'07): each
        query probes its n_probes likeliest buckets PER TABLE (lowest
        hyperplane margins, query_buckets_multiprobe). Within one table a
        row matches at most one probe (probes are distinct bucket ids),
        so dedup still only needs the earlier-TABLE exclusion — now a
        NOT array_contains against that table's probe list. The probe
        relation grows n_probes×, the scan and everything else is
        unchanged; batch==single parity pinned in tests/test_ann.py.

        At 100 TB the unpivot multiplies scanned rows by n_tables but
        stays map-side; with the signed table persisted partitioned by
        bucket_0, single-table probes prune the scan instead."""
        from pyspark.sql import Window

        from vervectordb_spark.functions.similarity import cosine_expr

        spark = self.signed.sparkSession
        # same driver guard as IVFIndex.batch_search (operators/ivf.py):
        # queries are API arguments (bounded), never the corpus — trip
        # BEFORE an accidental corpus-sized collect hurts the driver
        max_q = 65_536
        qrows = queries.select(query_id, query_emb).limit(max_q + 1).collect()
        if len(qrows) > max_q:
            raise ValueError(
                f"batch_search query side exceeds {max_q} rows; for "
                "corpus-scale query sets use operators.topk.gemm_topk "
                "(blocked broadcast) or knn_self_join"
            )
        qid_type = queries.schema[query_id].dataType.simpleString()
        vid_type = self.signed.schema[self.id_col].dataType.simpleString()
        if not qrows:
            return spark.createDataFrame(
                [], f"{query_id} {qid_type}, {self.id_col} {vid_type}, "
                    "sim double, rank int")
        probe_rows = []
        for r in qrows:
            qv = [float(x) for x in r[1]]
            if n_probes <= 1:
                qbm = [[b] for b in self.query_buckets(qv)]
            else:
                qbm = self.query_buckets_multiprobe(qv, n_probes)
            for t, bl in enumerate(qbm):
                for b in bl:
                    probe_rows.append((r[0], t, b, qbm, qv))
        probes = spark.createDataFrame(
            probe_rows,
            f"{query_id} {qid_type}, _tbl int, _bkt long, "
            "_qb array<array<long>>, _qv array<double>",
        )
        entries = self.signed.select(
            self.id_col,
            self.emb_col,
            *[F.col(f"bucket_{t}") for t in range(self.n_tables)],
            F.explode(F.array(*[
                F.struct(F.lit(t).alias("_tbl"), F.col(f"bucket_{t}").alias("_bkt"))
                for t in range(self.n_tables)
            ])).alias("_e"),
        ).select(self.id_col, self.emb_col,
                 *[f"bucket_{t}" for t in range(self.n_tables)],
                 "_e._tbl", "_e._bkt")
        joined = entries.join(F.broadcast(probes), on=["_tbl", "_bkt"])
        # keep the pair only at its FIRST matching table: for every earlier
        # table t', this row's bucket_t' must miss ALL of that table's
        # probed buckets (one probe per table in the single-probe case)
        first_match = F.lit(True)
        for tp in range(self.n_tables):
            first_match = first_match & (
                (F.col("_tbl") <= tp)
                | ~F.array_contains(F.col("_qb")[tp], F.col(f"bucket_{tp}"))
            )
        scored = joined.filter(first_match).select(
            query_id, self.id_col,
            cosine_expr(self.emb_col, "_qv").alias("sim"),
        )
        w = Window.partitionBy(query_id).orderBy(F.desc("sim"), F.asc(self.id_col))
        return scored.withColumn("rank", F.row_number().over(w)).filter(
            F.col("rank") <= top_k
        )

    def self_join(self, top_k: int = 3, rescore: str = "arrow") -> DataFrame:
        """LSH-pruned kNN self-join: the corpus-scale answer the blocked
        GEMM path (operators/topk.gemm_topk) deliberately is not. No
        driver collect, no Q×N pair relation — candidates are rows
        sharing a (table, bucket) signature:

          1. unpivot the signed table into (row, table, bucket) entries
             (map-side explode, t rows per input row);
          2. self-join on (table, bucket) — a key shuffle whose pair
             volume is Σ_buckets |b|², i.e. ~t·N²/2^bits for balanced
             buckets, NOT N². Skewed (hub) buckets are the hazard; AQE
             skew-join splits them (session default);
          3. keep each (query, cand) pair only at its FIRST matching
             table — a column predicate, no distinct shuffle;
          4. exact rescore + per-query window top-k.

        Two rescore kernels: "arrow" (default) computes the pair cosines
        with one einsum per Arrow batch — the fold expression interprets
        ~400 sub-expressions per pair and was 25× slower end-to-end at
        7M pairs (sf1: 323 s → 13 s); "fold" is the bit-exact
        oracle-checkable path (queries_ann.knn_self_join_lsh pins it).

        Approximate: a true neighbor sharing no bucket is missed (recall
        tunable via tables/bits). Returns (query_id, vec_id, rank, sim);
        rows with zero collisions emit nothing."""
        from pyspark.sql import Window

        from vervectordb_spark.functions.similarity import cosine_expr

        bucket_cols = [f"bucket_{t}" for t in range(self.n_tables)]
        unpivot = F.explode(F.array(*[
            F.struct(F.lit(t).alias("_tbl"), F.col(c).alias("_bkt"))
            for t, c in enumerate(bucket_cols)
        ])).alias("_e")
        qside = self.signed.select(
            F.col(self.id_col).alias("query_id"),
            F.col(self.emb_col).alias("_q_emb"),
            F.array(*bucket_cols).alias("_qb"),
            unpivot,
        ).select("query_id", "_q_emb", "_qb", "_e._tbl", "_e._bkt")
        cside = self.signed.select(
            self.id_col, self.emb_col, *bucket_cols, unpivot
        ).select(self.id_col, self.emb_col, *bucket_cols, "_e._tbl", "_e._bkt")
        joined = cside.join(qside, on=["_tbl", "_bkt"]).filter(
            F.col("query_id") != F.col(self.id_col)
        )
        first_match = F.lit(True)
        for tp in range(self.n_tables):
            first_match = first_match & (
                (F.col("_tbl") <= tp)
                | (F.col(f"bucket_{tp}") != F.col("_qb")[tp])
            )
        pairs = joined.filter(first_match)
        if rescore == "fold":
            scored = pairs.select(
                "query_id",
                self.id_col,
                cosine_expr(self.emb_col, "_q_emb").alias("sim"),
            )
        else:
            import numpy as np

            id_col, emb_col = self.id_col, self.emb_col
            qid_t = self.signed.schema[id_col].dataType.simpleString()
            out_schema = f"query_id {qid_t}, {id_col} {qid_t}, sim double"

            def score(batches):
                import pandas as pd

                for pdf in batches:
                    if len(pdf) == 0:
                        continue
                    a = np.array(pdf[emb_col].tolist(), dtype=np.float64)
                    b = np.array(pdf["_q_emb"].tolist(), dtype=np.float64)
                    dots = np.einsum("ij,ij->i", a, b)
                    denom = np.linalg.norm(a, axis=1) * np.linalg.norm(b, axis=1)
                    with np.errstate(divide="ignore", invalid="ignore"):
                        sims = np.where(denom == 0.0, 0.0, dots / denom)
                    yield pd.DataFrame({
                        "query_id": pdf["query_id"].to_numpy(),
                        id_col: pdf[id_col].to_numpy(),
                        "sim": sims,
                    })

            scored = pairs.select(
                "query_id", id_col, emb_col, "_q_emb"
            ).mapInPandas(score, out_schema)
        w = Window.partitionBy("query_id").orderBy(
            F.desc("sim"), F.asc(self.id_col)
        )
        return scored.withColumn("rank", F.row_number().over(w)).filter(
            F.col("rank") <= top_k
        )

    def recall_at_k(self, df: DataFrame, query_vec: Sequence[float], k: int = 10) -> float:
        """H1 harness hook (examples/datawhale.py:142-148)."""
        truth = {r[self.id_col] for r in brute_force_topk(
            df, query_vec, k, emb_col=self.emb_col, id_col=self.id_col).collect()}
        got = {r[self.id_col] for r in self.search(query_vec, top_k=k).collect()}
        return len(truth & got) / max(len(truth), 1)

    # ------------------------------------------------------------ storage
    def save(self, path: str) -> None:
        """Persist the signed table partitioned by bucket_0 plus a one-row
        meta table. Planes are NOT stored — they re-derive from md5
        (rademacher_planes is deterministic), so the artifact is just data.

        Layout note: partitioning by bucket_0 makes SINGLE-TABLE (t=0)
        probes pure partition pruning (proven by scan metrics in
        tests/test_plans.py); the multi-table OR-probe still scans the
        other buckets. The full multi-index layout — one replica per
        table, each partitioned by its own bucket column, probes as a
        union of t pruned reads — is the t× storage trade a 100 TB
        deployment makes deliberately; this single layout is the
        1× default."""
        from vervectordb_spark.sources.atomic import atomic_save

        with atomic_save(path) as tmp:
            shift = self.write_layout(self.signed, tmp, "overwrite")
            spark = self.signed.sparkSession
            dim = len(self.planes[0]) if self.planes else 0
            meta = spark.createDataFrame(
                [(self.n_tables, self.bits, dim, self.id_col, self.emb_col,
                  shift)],
                "n_tables int, bits int, dim int, id_col string, "
                "emb_col string, prefix_shift int",
            )
            meta.coalesce(1).write.mode("overwrite").parquet(f"{tmp}/meta")

    def sign(self, df: DataFrame) -> DataFrame:
        """`df` plus this index's bucket_<t> columns (the GEMM kernel) —
        how rows arriving after the build are signed."""
        return _sign_gemm(df, self.planes, self.n_tables, self.bits,
                          self.emb_col, len(self.planes[0]))

    def write_layout(self, signed: DataFrame, path: str, mode: str) -> int:
        """Write signed rows into the bucket-partitioned layout under
        `path` — `save` writes the whole index this way, and a streaming
        append adds a batch's rows to it. Returns the prefix shift.

        Hashes up to MAX_PARTITION_BITS wide partition by bucket_0. Wider
        hashes partition by its prefix bucket_p0 = bucket_0 >> shift (at
        most 2^MAX_PARTITION_BITS directories); bucket_0 stays a data
        column and probes add the prefix conjunct for pruning."""
        shift = max(self.bits - self.MAX_PARTITION_BITS, 0)
        if shift:
            signed = signed.withColumn(
                "bucket_p0", F.expr(f"shiftright(bucket_0, {shift})"))
        signed.write.mode(mode).partitionBy(
            "bucket_p0" if shift else "bucket_0").parquet(f"{path}/signed")
        return shift

    @classmethod
    def load(cls, spark, path: str) -> "SignLSHIndex":
        rows = spark.read.parquet(f"{path}/meta").collect()
        if not rows:
            raise ValueError(
                f"sign-LSH meta at {path} is empty (interrupted save?) — "
                "rebuild or delete the directory"
            )
        m = rows[0]
        # older artifacts (pre prefix-layout) have no prefix_shift column
        shift = m["prefix_shift"] if "prefix_shift" in m.__fields__ else 0
        signed = spark.read.parquet(f"{path}/signed")
        if shift == 0:
            signed = signed.withColumn(
                "bucket_0", F.col("bucket_0").cast("long")  # partition col reads as int
            )
        else:
            signed = signed.withColumn(
                "bucket_p0", F.col("bucket_p0").cast("long")
            )
        planes = rademacher_planes(m["n_tables"] * m["bits"], m["dim"])
        return cls(signed, planes, m["n_tables"], m["bits"],
                   id_col=m["id_col"], emb_col=m["emb_col"],
                   prefix_shift=shift)


class LSHAnnIndex:
    """MLlib BucketedRandomProjectionLSH over unit-normalized vectors.

    Euclidean distance on the unit sphere is 2-2·cos, so bucket locality in
    L2 == cosine locality. Stock estimator/model — save/load via MLlib."""

    def __init__(self, model, featurized: DataFrame,
                 id_col: str = "vec_id", emb_col: str = "embedding"):
        self.model = model
        self.featurized = featurized
        self.id_col = id_col
        self.emb_col = emb_col

    @classmethod
    def build(cls, df: DataFrame, bucket_length: float = 2.0,
              num_hash_tables: int = 3, seed: int = 42,
              id_col: str = "vec_id", emb_col: str = "embedding") -> "LSHAnnIndex":
        from pyspark.ml.feature import BucketedRandomProjectionLSH
        from pyspark.ml.functions import array_to_vector

        from vervectordb_spark.functions.similarity import normalize_expr

        feats = df.withColumn(
            "_features",
            array_to_vector(normalize_expr(F.col(emb_col))),
        )
        lsh = BucketedRandomProjectionLSH(
            inputCol="_features", outputCol="_hashes",
            bucketLength=bucket_length, numHashTables=num_hash_tables, seed=seed,
        )
        model = lsh.fit(feats)
        return cls(model, model.transform(feats).cache(), id_col=id_col, emb_col=emb_col)

    def save(self, path: str) -> None:
        """Persist the fitted MLlib model (its random planes are the only
        state; the featurized table re-derives from the base vectors)."""
        self.model.write().overwrite().save(path)

    @classmethod
    def load(cls, spark, path: str, df: DataFrame,
             id_col: str = "vec_id", emb_col: str = "embedding") -> "LSHAnnIndex":
        """Restore the model and re-featurize `df` (the base vector table
        the index serves — hashes recompute deterministically from the
        loaded planes)."""
        from pyspark.ml.feature import BucketedRandomProjectionLSHModel
        from pyspark.ml.functions import array_to_vector

        from vervectordb_spark.functions.similarity import normalize_expr

        model = BucketedRandomProjectionLSHModel.load(path)
        feats = df.withColumn(
            "_features", array_to_vector(normalize_expr(F.col(emb_col)))
        )
        return cls(model, model.transform(feats).cache(),
                   id_col=id_col, emb_col=emb_col)

    def search(self, query_vec: Sequence[float], top_k: int = 5) -> DataFrame:
        """approxNearestNeighbors over-fetches 3×k candidates in hash space,
        then exact cosine rescore (the reference's own over-fetch ratio,
        vervectordb/__init__.py:345 — here it buys recall, not filter
        survival)."""
        import numpy as np
        from pyspark.ml.linalg import Vectors

        q = np.asarray(query_vec, dtype=np.float64)
        n = np.linalg.norm(q)
        key = Vectors.dense((q / n if n else q).tolist())
        cand = self.model.approxNearestNeighbors(
            self.featurized, key, 3 * top_k, distCol="_dist"
        ).drop("_dist", "_hashes", "_features")
        return brute_force_topk(
            cand, query_vec, top_k, emb_col=self.emb_col, id_col=self.id_col
        )
