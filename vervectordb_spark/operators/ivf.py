"""IVF index: k-means partitioning + cluster-probed search.

Reference Q4/Q5 (vervectordb/__init__.py:411-487): sklearn KMeans(k=16,
seed=42) over the store, inverted lists cluster→row positions; search
scores the query against centroids, probes nprobe = max(n_clusters//2, 8)
clusters (:441), and rescores candidates exactly.

Spark-first: the inverted list IS the partition layout.

  * build  = seeded driver-side Lloyd k-means on a bounded sample
             (operators/kmeans.py) → `cluster_id` by MLlib predict
             → `write.partitionBy("cluster_id")` for persisted stores;
  * search = centroid scoring happens on the DRIVER against k×dim floats
             (broadcast-scale state, exactly like the reference's 16-row
             scoring, :438) — NO Spark job; the probed-cluster filter
             `cluster_id IN (...)` is pruned AT PLAN TIME: unprobed
             partitions are never read. Rescoring inside probed clusters
             is the exact brute-force kernel + TakeOrderedAndProject.

At 100 TB: raise k so each cluster ≈ a few GB (k ≈ thousands); centroid
set stays driver-sized (4k × 1024 dims × 8B = 32 MB). Skewed clusters are
split by AQE; nprobe trades recall for scan volume linearly.

Unlike the reference, results carry the candidate's TRUE cluster_id
(quirk B2: the reference labels every hit with the best probed cluster,
vervectordb/__init__.py:463,481 — not reproduced).
"""

from __future__ import annotations

from collections.abc import Sequence

import numpy as np

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from vervectordb_spark.operators.kmeans import _bounded_sample, _lloyd_kmeans
from vervectordb_spark.operators.search import brute_force_topk
from vervectordb_spark.functions.identifiers import sql_ident


def _cosine_to_centroids(query_vec: Sequence[float], centroids: np.ndarray) -> np.ndarray:
    q = np.asarray(query_vec, dtype=np.float64)
    qn = np.linalg.norm(q)
    cn = np.linalg.norm(centroids, axis=1)
    denom = cn * qn
    with np.errstate(divide="ignore", invalid="ignore"):
        return np.where(denom == 0.0, 0.0, centroids @ q / denom)


def assign_by_centroids(df: DataFrame, centroids_df: DataFrame,
                        id_col: str = "vec_id", emb_col: str = "embedding") -> DataFrame:
    """Add `cluster_id` = argmax cosine(row, centroid) over a broadcast
    centroid table (cluster_id int, centroid array<double>).

    Shape: Scan → BroadcastNestedLoopJoin(k rows) → fold sim → window rank
    per row → rk=1. The corpus never shuffles on data volume — the window
    partitions by row id over k candidate rows each. At 100 TB with large k,
    swap the fold for the GEMM batch kernel (operators/topk.gemm_topk) —
    this fold variant is the bit-exact oracle-checkable path.
    """
    from pyspark.sql import Window
    from vervectordb_spark.functions.similarity import cosine_expr

    scored = df.crossJoin(F.broadcast(centroids_df)).withColumn(
        "_csim", cosine_expr(emb_col, "centroid")
    )
    w = Window.partitionBy(id_col).orderBy(F.desc("_csim"), F.asc("cluster_id"))
    return (
        scored.withColumn("_rk", F.row_number().over(w))
        .filter(F.col("_rk") == 1)
        .drop("_rk", "_csim", "centroid")
    )


def _assign_with_sim(df: DataFrame, centroids_df: DataFrame,
                     id_col: str, emb_col: str,
                     keep_emb: bool = False) -> DataFrame:
    """(id, cluster_id, _csim) argmax-cosine assignment for the
    diagnostics: ONE max_by aggregate instead of the per-row window
    (measured 4.5x faster at sf0.1, identical assignments — the
    struct(csim, -cluster_id) order key reproduces the window's
    (csim DESC, cluster_id ASC) tie-break exactly and is total since
    cluster ids are distinct). Rows with NULL embeddings are excluded
    from the audit (a NULL ordering key has no defined argmax)."""
    from vervectordb_spark.functions.similarity import (
        cosine_from_ss, dot_expr, to_double)

    # self-dots HOISTED out of the k-way pair scoring (the cosine_from_ss
    # convention): dot(row,row) folds once per ROW and dot(c,c) once per
    # CENTROID instead of once per (row, centroid) pair — the pair kernel
    # drops from 3 dim-folds to 1. Bit-identical to cosine_expr: same
    # element doubles, same fold, sqrt(ssa)*sqrt(ssb) == norm(a)*norm(b)
    # exactly, same zero guard (ss == 0 iff norm == 0).
    cent = centroids_df.withColumn(
        "_cd", to_double(F.col("centroid"))).withColumn(
        "_ssc", dot_expr(F.col("_cd"), F.col("_cd")))
    scored = (df.filter(F.col(emb_col).isNotNull())
              .withColumn("_ad", to_double(F.col(emb_col)))
              .withColumn("_ssa", dot_expr(F.col("_ad"), F.col("_ad")))
              .crossJoin(F.broadcast(cent))
              .withColumn("_csim",
                          cosine_from_ss(F.col("_ad"), F.col("_cd"),
                                         F.col("_ssa"), F.col("_ssc"))))
    fields = [F.col("cluster_id"), F.col("_csim")]
    if keep_emb:
        fields.append(F.col(emb_col))
    best = F.max_by(
        F.struct(*fields),
        F.struct(F.col("_csim"), (-F.col("cluster_id")).alias("_nc")),
    ).alias("_b")
    out_cols = [id_col, F.col("_b.cluster_id").alias("cluster_id"),
                F.col("_b._csim").alias("_csim")]
    if keep_emb:
        out_cols.append(F.col(f"_b.{emb_col}").alias(emb_col))
    return scored.groupBy(id_col).agg(best).select(*out_cols)


def cluster_outliers(df: DataFrame, centroids_df: DataFrame,
                     worst_k: int = 3, id_col: str = "vec_id",
                     emb_col: str = "embedding") -> DataFrame:
    """Embedding-quality audit: the worst_k WORST-FITTING rows per
    cluster, scored as a z-score of the cosine to the assigned centroid
    against that cluster's own (mean, std) — the mislabeled/corrupt-
    vector detector an embedding pipeline runs before index quality
    degrades silently.

    Shape: one broadcast assignment (assign_by_centroids' fold), ONE
    per-cluster aggregate for the moment sums, a broadcast join of the
    k-row stats back, and a per-cluster window rank — two small shuffles
    regardless of corpus size.

    Cross-engine float contract: sims are rounded to 6 then summed as
    DECIMALs (exact, order-independent), and the mean/var/std/z chain is
    a FIXED sequence of double ops both engines replay verbatim:
    mean = s1/n; ex2 = s2/n; var = ex2 - mean*mean; z = (sim-mean)/sqrt.
    Degenerate clusters (var <= 0) produce no rows."""
    from pyspark.sql import Window

    a = _assign_with_sim(df, centroids_df, id_col, emb_col).select(
        id_col, "cluster_id",
        (F.round("_csim", 6) + 0.0).alias("sim_c"))  # -0.0 canon
    d = F.col("sim_c").cast("decimal(8,6)")
    stats = a.groupBy("cluster_id").agg(
        F.count("*").cast("bigint").alias("n"),
        F.sum(d).alias("_s1"),
        F.sum(d * d).alias("_s2"),
    ).select(
        "cluster_id", "n",
        (F.col("_s1").cast("double") / F.col("n")).alias("_mean"),
        (F.col("_s2").cast("double") / F.col("n")).alias("_ex2"),
    ).withColumn("_var", F.col("_ex2") - F.col("_mean") * F.col("_mean"))
    wz = Window.partitionBy("cluster_id").orderBy(F.asc("sim_c"),
                                                  F.asc(id_col))
    return (
        a.join(F.broadcast(stats.filter(F.col("_var") > 0)), on="cluster_id")
        .withColumn("z", F.round((F.col("sim_c") - F.col("_mean"))
                                 / F.sqrt(F.col("_var")), 4) + 0.0)
        .withColumn("_wrk", F.row_number().over(wz))
        .filter(F.col("_wrk") <= worst_k)
        .select("cluster_id", id_col, "n", "sim_c", "z")
    )


def _centroid_drift_arrow(df: DataFrame, centroids_df: DataFrame, dim: int,
                          id_col: str, emb_col: str) -> DataFrame:
    """Arrow partial-aggregation twin of the 2*dim-expr centroid_drift
    for production embedding dims (1024-4096, where one GroupBy carrying
    thousands of decimal aggregate expressions stops fitting whole-stage
    codegen). Bit-identical to the expr spec (pinned at dim=64 in
    tests/test_ivf.py) because every float decision is replicated
    exactly:

      * elements are rounded JVM-side (F.round(x, 6), the same call the
        expr path makes) BEFORE the kernel — the Python side never
        re-implements Spark's HALF_UP-on-shortest-repr rounding;
      * the kernel scales rounded values by 1e6 to int64 (exact for
        |x| < ~2e9/1e6, far beyond any embedding range) and sums
        INTEGERS per (partition, cluster) — associative and exact, the
        same algebra as the expr path's decimal(24,6) sums;
      * the final merge sums int64 partials as decimal, rebuilds the
        exact decimal mean (one scale shift, no rounding), casts to
        double and divides by n — the expr spec's op sequence verbatim;
      * drift folds d*d in pos order via F.aggregate from F.lit(0.0) —
        the expr path's literal left fold.

    Shuffle: partitions x k partial rows (dim-long int arrays) +
    k x dim exploded sum rows — independent of corpus size."""
    import pandas as pd

    a = _assign_with_sim(df, centroids_df, id_col, emb_col,
                         keep_emb=True).select("cluster_id", emb_col)
    rounded = a.select(
        "cluster_id",
        F.transform(F.col(emb_col).cast("array<double>"),
                    lambda x: F.round(x, 6)).alias("_r"))

    def part(batches):
        acc: dict[int, list] = {}
        for pdf in batches:
            if len(pdf) == 0:
                continue
            for cid, grp in pdf.groupby("cluster_id"):
                X = np.asarray(grp["_r"].tolist(), dtype=np.float64)
                s = np.rint(X * 1e6).astype(np.int64).sum(axis=0)
                ent = acc.setdefault(int(cid), [0, np.zeros(dim, np.int64)])
                ent[0] += len(grp)
                ent[1] += s
        if acc:
            yield pd.DataFrame(
                [(cid, n, s.tolist()) for cid, (n, s) in acc.items()],
                columns=["cluster_id", "n", "s"])

    partials = rounded.mapInPandas(
        part, "cluster_id int, n bigint, s array<bigint>")
    ns = partials.groupBy("cluster_id").agg(F.sum("n").alias("n"))
    sums = (partials.select("cluster_id",
                            F.posexplode("s").alias("pos", "_sv"))
            .groupBy("cluster_id", "pos")
            .agg(F.sum(F.col("_sv").cast("decimal(30,0)")).alias("_sv")))
    cent = centroids_df.select(
        "cluster_id", F.posexplode("centroid").alias("pos", "_c"))
    per = (sums.join(F.broadcast(ns), on="cluster_id")
           .join(F.broadcast(cent), on=["cluster_id", "pos"])
           .withColumn("_mean",
                       (F.col("_sv") / F.lit(1000000).cast("decimal(10,0)"))
                       .cast("double") / F.col("n"))
           .withColumn("_d", F.col("_mean") - F.col("_c")))
    fold = per.groupBy("cluster_id", "n").agg(
        F.array_sort(F.collect_list(F.struct("pos", "_d"))).alias("_ds"))
    return (fold.select(
        "cluster_id", "n",
        F.round(F.sqrt(F.aggregate(
            "_ds", F.lit(0.0),
            lambda acc2, s: acc2 + s["_d"] * s["_d"])), 6).alias("drift"))
        .orderBy("cluster_id"))


def centroid_drift(df: DataFrame, centroids_df: DataFrame, dim: int,
                   id_col: str = "vec_id",
                   emb_col: str = "embedding",
                   kernel: str = "auto") -> DataFrame:
    """Index-maintenance trigger metric: per cluster, the L2 distance
    between the FROZEN centroid and the CURRENT member mean — the number
    streaming/refresh.py's rebuild cadence should watch (drift ~ 0 means
    the periodic re-fit is wasted work; drift >> typical intra-cluster
    spread means probes are landing in the wrong lists).

    ONE aggregate: per-dimension element sums as 2*dim wide agg
    expressions over element_at (the Generate-free shape of
    sq.fit_sq_stats_wide — no explode, no per-row blowup of the
    assignment chain), means by single double divisions, and the drift
    as a FIXED left-fold sum of squared per-dim deltas — every float op
    replays verbatim in the DuckDB oracle. Elements are rounded to 6 and
    summed as exact DECIMALs (order-independent across partitions).

    kernel: "expr" (the 2*dim aggregate expressions below — the
    oracle-replayable form), "arrow" (_centroid_drift_arrow — the
    mapInPandas partial-sum kernel that survives dim 1024-4096), or
    "auto" (= arrow). The two are bit-identical (pinned in
    tests/test_ivf.py), so the seam is invisible to callers. auto
    resolved to expr below dim 256 through round 10; measured at r11
    (sf0.1, dim 64, 32 cores) the arrow kernel is ~1.5x faster there
    too (1.0 s vs 1.6 s exec — JVM decimal aggregation is the slow
    half), so auto now always takes the production kernel and "expr"
    remains the oracle-replayable spec."""
    if kernel not in ("auto", "expr", "arrow"):
        raise ValueError(f"unknown kernel {kernel!r}")
    if kernel in ("arrow", "auto"):
        return _centroid_drift_arrow(df, centroids_df, dim, id_col, emb_col)
    a = _assign_with_sim(df, centroids_df, id_col, emb_col,
                         keep_emb=True).select(id_col, "cluster_id", emb_col)
    # expressions built as parsed SQL STRINGS, not per-dim Column calls:
    # the Column form cost ~1.5 s of py4j round-trips per invocation at
    # dim=64 (~10 driver calls per dim) — measured 40% of the benched
    # entry. The parsed trees are identical, so values are bit-unchanged.
    aggs = [F.count("*").cast("bigint").alias("n")] + [
        F.expr(f"sum(cast(round(cast(element_at({sql_ident(emb_col)}, {j + 1}) as"
               f" double), 6) as decimal(24,6))) as _s{j}")
        for j in range(dim)
    ]
    stats = a.groupBy("cluster_id").agg(*aggs)
    joined = stats.join(F.broadcast(centroids_df), on="cluster_id")
    # 0.0D + (d0*d0) + (d1*d1) + ... parses left-associative — the exact
    # fold order of the old `drift_sq = drift_sq + d * d` loop
    terms = " + ".join(
        f"((cast(_s{j} as double) / n - element_at(centroid, {j + 1})) * "
        f"(cast(_s{j} as double) / n - element_at(centroid, {j + 1})))"
        for j in range(dim)
    )
    drift = F.expr(f"round(sqrt(0.0D + {terms}), 6)")
    return (joined.select("cluster_id", "n", drift.alias("drift"))
            .orderBy("cluster_id"))


def _predict_model(sc, centroids: np.ndarray):
    """A `pyspark.ml` KMeansModel that predicts over `centroids` (the L2
    argmin) in SparkContext `sc`, reading `_features` and writing
    `cluster_id`. No fit runs: an mllib `KMeansModel(Vector[])` is built
    from the centroids (each through `Vectors.parse` of its repr, which
    round-trips every double) and wrapped by ml's
    `KMeansModel(uid, parentModel)` constructor. That constructor is
    `private[ml]` in Scala but public in the bytecode py4j calls;
    tests/test_ivf.py pins that its predict is the L2 argmin."""
    from pyspark.ml.clustering import KMeansModel

    linalg = sc._jvm.org.apache.spark.mllib.linalg
    centers = sc._gateway.new_array(linalg.Vector, len(centroids))
    for i, c in enumerate(centroids):
        centers[i] = linalg.Vectors.parse(repr([float(x) for x in c]))
    parent = sc._jvm.org.apache.spark.mllib.clustering.KMeansModel(centers)
    model = KMeansModel(
        sc._jvm.org.apache.spark.ml.clustering.KMeansModel("ivf_predict", parent))
    return model.setFeaturesCol("_features").setPredictionCol("cluster_id")


class IVFIndex:
    """cluster-assigned DataFrame + centroid matrix (driver state). The
    centroids are the whole index: rows are assigned by a predict model
    built from them, so a fitted, loaded or streamed index behaves the
    same."""

    def __init__(self, assigned: DataFrame, centroids: np.ndarray,
                 id_col: str = "vec_id", emb_col: str = "embedding"):
        self.assigned = assigned
        self.centroids = centroids
        self.id_col = id_col
        self.emb_col = emb_col
        #: (SparkContext, predict model over `centroids`), built by _model
        self._predict = None

    @property
    def n_clusters(self) -> int:
        return len(self.centroids)

    @classmethod
    def build(cls, df: DataFrame, n_clusters: int = 16, seed: int = 42,
              id_col: str = "vec_id", emb_col: str = "embedding",
              max_iter: int = 20) -> "IVFIndex":
        """Seeded Lloyd k-means on the driver (the reference fits sklearn
        on a float64 copy of the whole matrix, :416-418). The fit reads at
        most 256 × n_clusters rows (FAISS's points-per-centroid default),
        drawn by `id_col` so the same rows give the same centroids under
        any partitioning; k is clamped to the rows drawn. Under the cap
        the draw is one Spark job; `assigned` is the lazy `assign(df)`."""
        X = _bounded_sample(df, emb_col, 256 * n_clusters, seed, id_col)
        centroids = _lloyd_kmeans(X, max(1, min(n_clusters, len(X))), seed,
                                  max_iter, init="k-means++")
        index = cls(None, centroids, id_col=id_col, emb_col=emb_col)
        index.assigned = index.assign(df)
        return index

    def _model(self, spark: SparkSession):
        """The predict model over `centroids` in `spark`'s JVM: built on
        first use and again only when the session's context changes."""
        sc = spark.sparkContext
        if self._predict is None or self._predict[0] is not sc:
            self._predict = (sc, _predict_model(sc, self.centroids))
        return self._predict[1]

    def assign(self, df: DataFrame) -> DataFrame:
        """`df` plus `cluster_id` = the nearest centroid by L2, by MLlib
        predict — lazy, so every plan over the result reruns predict on
        every row: cache the result when it is read more than once (the
        store's serving frame does)."""
        from pyspark.ml.functions import array_to_vector

        feats = df.withColumn("_features", array_to_vector(
            F.col(self.emb_col).cast("array<double>")))
        model = self._model(df.sparkSession)
        return model.transform(feats).drop("_features").withColumn(
            "cluster_id", F.col("cluster_id").cast("int"))

    def default_nprobe(self) -> int:
        """Reference default: max(n_clusters // 2, 8) — vervectordb/__init__.py:441."""
        return max(self.n_clusters // 2, 8)

    def probe_clusters(self, query_vec: Sequence[float], nprobe: int | None = None) -> list[int]:
        """Driver-side: rank centroids by cosine to the query, take nprobe.
        k×dim floats — never a Spark job (reference :438-442)."""
        nprobe = min(nprobe or self.default_nprobe(), self.n_clusters)
        sims = _cosine_to_centroids(query_vec, self.centroids)
        order = np.lexsort((np.arange(len(sims)), -sims))
        return [int(c) for c in order[:nprobe]]

    def probe_clusters_adaptive(
        self, query_vec: Sequence[float], mass: float = 0.8,
        max_nprobe: int | None = None,
    ) -> list[int]:
        """Per-query probe budget instead of a fixed nprobe: rank centroids
        by cosine, then probe the minimal prefix whose share of the total
        (min-shifted) similarity mass reaches `mass`. A query that lands
        squarely in one cluster probes 1–2 partitions; a query near a
        Voronoi boundary probes more — the latency/recall knob follows the
        query instead of the worst case. Driver-side on k×dim floats like
        probe_clusters; never a Spark job."""
        sims = _cosine_to_centroids(query_vec, self.centroids)
        order = np.lexsort((np.arange(len(sims)), -sims))
        ranked = sims[order]
        w = ranked - ranked.min() + 1e-12
        cum = np.cumsum(w) / w.sum()
        n = int(np.searchsorted(cum, mass) + 1)
        cap = min(max_nprobe or self.n_clusters, self.n_clusters)
        return [int(c) for c in order[: max(1, min(n, cap))]]

    def probe_set(self, query_vec: Sequence[float], nprobe=None,
                  mass: float = 0.8) -> list[int]:
        """The clusters a query probes: nprobe="adaptive" sizes the set
        from centroid-similarity mass (probe_clusters_adaptive), anything
        else takes the nprobe nearest by cosine (probe_clusters)."""
        if nprobe == "adaptive":
            return self.probe_clusters_adaptive(query_vec, mass=mass)
        return self.probe_clusters(query_vec, nprobe)

    def search(self, query_vec: Sequence[float], top_k: int = 5,
               nprobe: int | None = None, pre_filter: Column | None = None,
               probed: Sequence[int] | None = None,
               mass: float = 0.8, rows: DataFrame | None = None) -> DataFrame:
        """`cluster_id IN probed` → partition pruning → exact rescore →
        TakeOrderedAndProject. Returns (vec_id, cluster_id, sim).
        `probed` overrides probe-set selection (oracle-gated callers pass
        the bit-exact set from probe_clusters_exact); nprobe="adaptive"
        sizes the probe set per query from centroid-similarity mass.
        `rows` replaces `assigned` as the frame searched — a cached copy
        carrying the same cluster_id (the store's serving frame)."""
        if probed is None:
            probed = self.probe_set(query_vec, nprobe, mass=mass)
        # one parsed predicate: Column.isin pays a py4j call per value
        pred = F.expr(f"cluster_id IN ({', '.join(str(int(c)) for c in probed)})"
                      if len(probed) else "false")
        if pre_filter is not None:
            pred = pred & pre_filter
        return brute_force_topk(
            self.assigned if rows is None else rows, query_vec, top_k,
            emb_col=self.emb_col, id_col=self.id_col,
            pre_filter=pred, extra_cols=("cluster_id",),
        )

    def batch_search(self, queries: DataFrame, top_k: int = 5,
                     nprobe: int | None = None,
                     query_id: str = "query_id",
                     query_emb: str = "q_embedding",
                     kernel: str = "gemm") -> DataFrame:
        """Many-query IVF search in ONE job (vs a driver loop of per-query
        jobs — at ~300 ms Spark job overhead each, the loop is the
        bottleneck long before the scan is).

        Probe sets are computed driver-side per query (Q × k centroid dots,
        NumPy). Two rescore kernels:

          kernel="gemm" (default, serving): one BLAS GEMM per Arrow batch
            scores all queries at once; a (Q × k) boolean probe mask zeroes
            out query×row pairs whose cluster wasn't probed, then per-batch
            top-k — candidate rows reach the window, Q×N never
            materializes. 7× the fold at reference scale (50k×128×100q:
            417 → 60 ms/query).
          kernel="fold": broadcast (query, probed-cluster, vector) join +
            Catalyst fold cosine — bit-exact with the serial/oracle path.

        At 100 TB the probed-cluster union also prunes the SCAN when the
        layout is partitioned by cluster (save/load path).
        Returns (query_id, vec_id, [cluster_id,] rank, sim).
        """
        import numpy as np

        from pyspark.sql import Window

        spark = self.assigned.sparkSession
        adaptive = nprobe == "adaptive"
        if not adaptive:
            nprobe = min(nprobe or self.default_nprobe(), self.n_clusters)
        # queries are API arguments (bounded), never the corpus — but guard
        # the driver against an accidental corpus-sized query side instead
        # of silently OOMing (the self-join path is gemm_topk's BLOCKED
        # kernel, operators/topk.py, which never collects unboundedly)
        # 64k queries × dim 128 × 8 B ≈ 64 MB collected — the guard must
        # trip BEFORE the collect itself hurts the driver
        max_q = 65_536
        qrows = queries.select(query_id, query_emb).limit(max_q + 1).collect()
        if len(qrows) > max_q:
            raise ValueError(
                f"batch_search query side exceeds {max_q} rows; for "
                "corpus-scale query sets use operators.topk.gemm_topk "
                "(blocked broadcast) or knn_self_join"
            )
        qid_type = queries.schema[query_id].dataType.simpleString()
        vid_type = self.assigned.schema[self.id_col].dataType.simpleString()
        if not qrows:
            # schema matches the non-empty paths exactly (both kernels
            # return (query_id, id, sim, rank) — the old empty schema had a
            # phantom cluster_id column that broke schema-sensitive callers
            # only at the empty boundary)
            return spark.createDataFrame(
                [], f"{query_id} {qid_type}, {self.id_col} {vid_type}, "
                    "sim double, rank int")
        if adaptive:
            probe_sets = {
                r[0]: self.probe_clusters_adaptive([float(x) for x in r[1]])
                for r in qrows
            }
        else:
            probe_sets = {
                r[0]: self.probe_clusters([float(x) for x in r[1]], nprobe)
                for r in qrows
            }

        if kernel == "fold":
            from vervectordb_spark.functions.similarity import cosine_expr

            probe_rows = [
                (r[0], c, [float(x) for x in r[1]])
                for r in qrows for c in probe_sets[r[0]]
            ]
            probes = spark.createDataFrame(
                probe_rows,
                f"{query_id} {qid_type}, cluster_id int, _qv array<double>",
            )
            scored = self.assigned.join(
                F.broadcast(probes), on="cluster_id"
            ).select(
                query_id,
                self.id_col,
                cosine_expr(self.emb_col, "_qv").alias("sim"),
            )
            w = Window.partitionBy(query_id).orderBy(F.desc("sim"), F.asc(self.id_col))
            return scored.withColumn("rank", F.row_number().over(w)).filter(
                F.col("rank") <= top_k
            )

        # GEMM kernel with probe masking
        from vervectordb_spark.operators.topk import _normalize_rows

        # dtype=object keeps string query ids intact (uuid keys supported)
        qids = np.array([r[0] for r in qrows], dtype=object)
        qmat = _normalize_rows(
            np.array([list(r[1]) for r in qrows], dtype=np.float64)
        )
        mask = np.zeros((len(qids), self.n_clusters), dtype=bool)
        for i, qid in enumerate(qids):
            mask[i, probe_sets[qid]] = True
        bc = spark.sparkContext.broadcast((qids, qmat, mask))
        # scan only clusters probed by at least one query (partition-prunes
        # on the persisted layout)
        probed_union = sorted({c for s in probe_sets.values() for c in s})
        src = self.assigned.filter(F.col("cluster_id").isin(probed_union))
        out_schema = f"{query_id} {qid_type}, {self.id_col} {vid_type}, sim double"
        id_col, emb_col = self.id_col, self.emb_col

        def score(batches):
            import pandas as pd

            b_qids, b_qmat, b_mask = bc.value
            for pdf in batches:
                if len(pdf) == 0:
                    continue
                mat = _normalize_rows(
                    np.array(pdf[emb_col].tolist(), dtype=np.float64)
                )
                cl = pdf["cluster_id"].to_numpy()
                vids = pdf[id_col].to_numpy()
                kk = min(top_k, len(vids))
                # chunk the query axis: keep the (chunk, batch) score
                # matrix ~8 MB so numpy reuses heap instead of churning
                # mmap/THP (same pathology and fix as topk.gemm_topk)
                q_chunk = max(256, (1 << 20) // max(1, len(vids)))
                out_q, out_v, out_s = [], [], []
                for lo in range(0, len(b_qids), q_chunk):
                    sims = b_qmat[lo : lo + q_chunk] @ mat.T  # (chunk, batch)
                    sims = np.where(b_mask[lo : lo + q_chunk, cl], sims, -2.0)
                    idx = np.argpartition(-sims, kk - 1, axis=1)[:, :kk]
                    out_q.append(np.repeat(b_qids[lo : lo + q_chunk], kk))
                    out_v.append(vids[idx].ravel())
                    out_s.append(np.take_along_axis(sims, idx, 1).ravel())
                yield pd.DataFrame({
                    query_id: np.concatenate(out_q),
                    id_col: np.concatenate(out_v),
                    "sim": np.concatenate(out_s),
                })

        cand = src.select(id_col, emb_col, "cluster_id").mapInPandas(
            score, out_schema
        ).filter(F.col("sim") > -2.0)
        w = Window.partitionBy(query_id).orderBy(F.desc("sim"), F.asc(id_col))
        return cand.withColumn("rank", F.row_number().over(w)).filter(
            F.col("rank") <= top_k
        )

    def search_pq(self, codec, encoded: DataFrame, query_vec: Sequence[float],
                  top_k: int = 5, nprobe: int | None = None,
                  rerank: DataFrame | None = None,
                  probed: Sequence[int] | None = None) -> DataFrame:
        """IVF-PQ: cluster probe → ADC over codes in probed clusters →
        optional exact rerank — the FAISS-style serving layout, composed
        from this index and a PQCodec.

        `encoded` is the codes table carrying (id, cluster_id, pq_code);
        persisted partitionBy(cluster_id), the probe is partition pruning
        and the ADC scan touches m bytes/row of ~nprobe/k of the corpus:
        at 100 TB with k=4096, nprobe=64 and m=16, a query reads
        ~100TB × (64/4096) × (16/(dim·4)) ≈ 25 GB — executor-parallel,
        driver state = one (m×256) LUT pair.

        `probed` overrides probe-set selection (oracle-gated callers pass
        the bit-exact set from probe_clusters_exact)."""
        if probed is None:
            probed = self.probe_clusters(query_vec, nprobe)
        cand = encoded.filter(F.col("cluster_id").isin(probed))
        return codec.adc_search(
            cand, query_vec, top_k=top_k, id_col=self.id_col, rerank=rerank,
            emb_col=self.emb_col,
        )

    def centroids_df(self) -> DataFrame:
        """The centroid matrix as a broadcastable (cluster_id, centroid)
        table — k×dim floats, the only driver state this index holds."""
        spark = self.assigned.sparkSession
        rows = [
            (int(i), [float(x) for x in c]) for i, c in enumerate(self.centroids)
        ]
        return spark.createDataFrame(rows, "cluster_id int, centroid array<double>")

    def fit_residual_codec(self, n_subquantizers: int = 8,
                           codebook_size: int = 256, seed: int = 42,
                           sample_size: int = 10_000, max_iter: int = 20):
        """Fit a PQ codec on RESIDUALS (embedding − assigned centroid) —
        true FAISS-style IVF-PQ. Residuals concentrate around 0 far more
        tightly than raw vectors, so the same m×k codebook budget yields a
        lower reconstruction error and a sharper ADC ranking (gain pinned
        by tests/test_pq.py::test_residual_beats_plain_reconstruction)."""
        from vervectordb_spark.operators.pq import PQCodec, with_residual

        dim = int(self.centroids.shape[1])
        res = with_residual(
            self.assigned, self.centroids_df(), emb_col=self.emb_col
        )
        return PQCodec.fit(
            res, dim, n_subquantizers=n_subquantizers,
            codebook_size=codebook_size, seed=seed, emb_col="_residual",
            sample_size=sample_size, max_iter=max_iter,
        )

    def encode_residual(self, codec, df: DataFrame | None = None,
                        code_col: str = "pq_code") -> DataFrame:
        """Residual-encode `df` (default: the assigned corpus) with a
        residual-fitted codec. Map-only after the broadcast centroid join."""
        src = df if df is not None else self.assigned
        return codec.encode_residual(
            src, self.centroids_df(), emb_col=self.emb_col, code_col=code_col
        )

    def search_residual_pq(self, codec, encoded: DataFrame,
                           query_vec: Sequence[float], top_k: int = 5,
                           nprobe: int | None = None,
                           rerank: DataFrame | None = None,
                           probed: Sequence[int] | None = None) -> DataFrame:
        """IVF-PQ over residual codes: probe → per-probed-cluster fused
        LUTs (centroid ⊕ codebook) → ADC scan of the probed partitions →
        optional exact rerank. Same scan economics as search_pq (m
        bytes/row over ~nprobe/k of the corpus); LUT state is nprobe·m·k.

        `probed` overrides probe-set selection (oracle-gated callers pass
        the bit-exact set from probe_clusters_exact)."""
        if probed is None:
            probed = self.probe_clusters(query_vec, nprobe)
        return codec.adc_search_residual(
            encoded, self.centroids, query_vec, probed, top_k=top_k,
            id_col=self.id_col, rerank=rerank, emb_col=self.emb_col,
        )

    def batch_search_pq(self, codec, encoded: DataFrame, queries: DataFrame,
                        top_k: int = 5, nprobe: int | None = None,
                        rerank: DataFrame | None = None,
                        rerank_factor: int = 5,
                        query_id: str = "query_id",
                        query_emb: str = "q_embedding",
                        probe_sets: dict | None = None) -> DataFrame:
        """Many-query IVF-PQ in ONE job: per-query probe sets are computed
        driver-side (Q × k centroid dots, NumPy — no Spark job), the codes
        table is scanned ONCE over the UNION of probed clusters (partition
        pruning on a cluster-partitioned layout), and the stacked-LUT ADC
        kernel masks query×row pairs whose cluster the query didn't probe
        (codec.batch_adc_search). vs the per-query driver loop of
        `search_pq`: one scan + one job instead of Q of each.

        `probe_sets` overrides probing (oracle-gated callers pass bit-exact
        sets from probe_clusters_exact per query).
        Returns (query_id, vec_id, rank, sim)."""
        nprobe = min(nprobe or self.default_nprobe(), self.n_clusters)
        max_q = 65_536
        qrows = queries.select(query_id, query_emb).limit(max_q + 1).collect()
        if len(qrows) > max_q:
            raise ValueError(
                f"batch_search_pq query side exceeds {max_q} rows; prune "
                "first or use operators.topk.gemm_topk (blocked broadcast)"
            )
        if probe_sets is None:
            probe_sets = {
                r[0]: self.probe_clusters([float(x) for x in r[1]], nprobe)
                for r in qrows
            }
        probed_union = sorted({c for s in probe_sets.values() for c in s})
        src = encoded.filter(F.col("cluster_id").isin(probed_union))
        return codec.batch_adc_search(
            src, top_k=top_k, id_col=self.id_col, query_id=query_id,
            query_emb=query_emb, rerank=rerank, rerank_factor=rerank_factor,
            emb_col=self.emb_col,
            probe_sets=probe_sets, n_clusters=self.n_clusters,
            _qrows=qrows,
        )

    def batch_search_residual_pq(self, codec, encoded: DataFrame,
                                 queries: DataFrame, top_k: int = 5,
                                 nprobe: int | None = None,
                                 rerank: DataFrame | None = None,
                                 rerank_factor: int = 5,
                                 query_id: str = "query_id",
                                 query_emb: str = "q_embedding",
                                 probe_sets: dict | None = None) -> DataFrame:
        """Many-query residual IVF-PQ in ONE job — the residual twin of
        batch_search_pq: per-query probe sets driver-side, one scan of the
        probed-cluster union, fused (query × cluster) LUT broadcast.
        Returns (query_id, vec_id, rank, sim)."""
        nprobe = min(nprobe or self.default_nprobe(), self.n_clusters)
        max_q = 4_096  # LUT is Q × |union| × m × k doubles — tighter than
        # the plain-ADC 64k guard (fused per-cluster LUTs cost |union|×)
        qrows = queries.select(query_id, query_emb).limit(max_q + 1).collect()
        if len(qrows) > max_q:
            raise ValueError(
                f"batch_search_residual_pq query side exceeds {max_q} rows; "
                "prune first or use operators.topk.gemm_topk"
            )
        if probe_sets is None:
            probe_sets = {
                r[0]: self.probe_clusters([float(x) for x in r[1]], nprobe)
                for r in qrows
            }
        return codec.batch_adc_search_residual(
            encoded, self.centroids, probe_sets, qrows, top_k=top_k,
            id_col=self.id_col, query_id=query_id, rerank=rerank,
            rerank_factor=rerank_factor, emb_col=self.emb_col,
        )

    def cluster_stats(self) -> DataFrame:
        """Per-cluster occupancy: (cluster_id, n_vectors, share) — the
        observability feed for layout skew. A cluster holding a large
        share of the corpus makes every probe that touches it scan-heavy;
        the remedies are raising k, re-fitting, or AQE skew-split on the
        rescore join. One partial-agg shuffle; the corpus total arrives as
        a broadcast 1-row aggregate crossJoin (house style — no global
        no-partition window, which single-threads through one task)."""
        counts = self.assigned.groupBy("cluster_id").agg(
            F.count("*").alias("n_vectors")
        )
        total = counts.agg(F.sum("n_vectors").alias("_total"))
        return counts.crossJoin(F.broadcast(total)).select(
            "cluster_id",
            "n_vectors",
            F.round(F.col("n_vectors") / F.col("_total"), 6).alias("share"),
        )

    # ------------------------------------------------------------ storage
    @classmethod
    def from_centroids(cls, df: DataFrame, centroids_df: DataFrame,
                       id_col: str = "vec_id", emb_col: str = "embedding") -> "IVFIndex":
        """Build the inverted layout from a FIXED centroid table
        (cluster_id, centroid array<double>) instead of a k-means fit.

        Assignment = argmax cosine(row, centroid) computed with the fold
        kernel on both engines, so the whole IVF query path — assignment,
        probing, pruning, rescoring — is DuckDB-oracle-checkable (the
        k-means build path is graded by the recall harness instead; its
        centroids are not reproducible in SQL).
        """
        assigned = assign_by_centroids(df, centroids_df, id_col=id_col, emb_col=emb_col)
        rows = centroids_df.orderBy("cluster_id").collect()
        ids = [int(r["cluster_id"]) for r in rows]
        if ids != list(range(len(ids))):
            # every probe path returns POSITIONS into the centroid array
            # and filters cluster_id.isin(positions) — non-contiguous or
            # non-zero-based ids would silently probe the wrong clusters
            raise ValueError(
                "centroids_df cluster_id values must be exactly "
                f"0..{len(ids) - 1} (got {ids[:8]}{'...' if len(ids) > 8 else ''})"
            )
        centroids = np.array([list(r["centroid"]) for r in rows], dtype=np.float64)
        return cls(assigned, centroids, id_col=id_col, emb_col=emb_col)

    def probe_clusters_exact(self, query_vec: Sequence[float], nprobe: int | None = None) -> list[int]:
        """Probe-set selection via the Catalyst fold kernel (bit-exact with
        the DuckDB oracle's ORDER BY sim DESC, cluster_id LIMIT nprobe).
        k rows — the job is trivial; used by oracle-gated queries, while
        `probe_clusters` (NumPy, no job) is the serving path."""
        from vervectordb_spark.functions.similarity import cosine_expr

        nprobe = min(nprobe or self.default_nprobe(), self.n_clusters)
        spark = self.assigned.sparkSession
        cent = self.centroids_df()
        ranked = cent.select(
            "cluster_id", cosine_expr("centroid", list(query_vec)).alias("sim")
        ).orderBy(F.desc("sim"), F.asc("cluster_id")).limit(nprobe)
        return [r["cluster_id"] for r in ranked.collect()]

    def save(self, path: str) -> None:
        """Persist the inverted layout: data partitioned BY cluster —
        reading a probe set touches only those directories. Write-then-swap
        (sources/atomic.py): an interrupted save leaves the previous
        complete artifact, never the torn one the load guard detects."""
        from vervectordb_spark.sources.atomic import atomic_save

        with atomic_save(path) as tmp:
            self.write_layout(self.assigned, tmp, "overwrite")
            cent = self.centroids_df()
            cent.coalesce(1).write.mode("overwrite").parquet(f"{tmp}/centroids")

    @staticmethod
    def write_layout(assigned: DataFrame, path: str, mode: str) -> None:
        """Write rows carrying `cluster_id` into the inverted layout under
        `path`, one directory per cluster: `save` writes the whole index
        this way, and a streaming append adds a batch's rows to it."""
        assigned.write.mode(mode).partitionBy("cluster_id").parquet(
            f"{path}/vectors_by_cluster")

    @classmethod
    def load(cls, spark, path: str, id_col: str = "vec_id",
             emb_col: str = "embedding") -> "IVFIndex":
        assigned = spark.read.parquet(f"{path}/vectors_by_cluster")
        rows = spark.read.parquet(f"{path}/centroids").orderBy("cluster_id").collect()
        if not rows:
            raise ValueError(
                f"IVF centroids at {path} are empty (interrupted save?) — "
                "rebuild or delete the directory"
            )
        centroids = np.array([r["centroid"] for r in rows])
        return cls(assigned, centroids, id_col=id_col, emb_col=emb_col)
