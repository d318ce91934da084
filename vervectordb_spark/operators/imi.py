"""Inverted multi-index (IMI) — the two-level coarse quantizer for cell
counts a flat IVF cannot reach (Babenko & Lempitsky, CVPR 2012 "The
Inverted Multi-Index").

Beyond the reference's scope (its IVF is flat,
vervectordb/__init__.py:219-246); included because this is the standard
production answer at 100 TB: a flat IVF needs ~N/occupancy cells, and
fitting 2^20 centroids is infeasible — the IMI gets k1·k2 cells from only
k1 + k2 trained centroids by splitting the vector into two halves and
quantizing each independently. Cell id = (argmax_half1, argmax_half2).

Spark shape:
  - assignment: TWO broadcast argmax passes (each a max_by aggregate over
    k candidates — map-side partial, no window) appending (cell1, cell2);
  - layout: partition by cell1 (fan-out bounded by k1, safe for any
    filesystem), sort/cluster by cell2 within — a probe prunes partitions
    on cell1 and row groups on cell2;
  - probe: rectangle probing — the top-a cells on half1 × top-b on half2
    (a·b cells scanned out of k1·k2). True IMI orders cells by SUMMED
    distance with a multi-sequence heap; the rectangle is its bounding
    box (every multi-sequence probe set of length <= a·b lies inside some
    rectangle), trades a little scan volume for a plan that is ONE
    pushdown-able conjunctive IN-filter — no per-cell loop, no driver
    state beyond the k1 + k2 centroid matrices.

Halves: dim split at dim//2 (power-of-two fixture dims split evenly; the
HD rotation — operators/rotation.py — is the standard pre-transform when
raw halves carry unbalanced energy).

Cosine per half uses the SAME bit-exact fold as every other kernel, so
the frozen-centroid path replays in DuckDB verbatim.
"""

from __future__ import annotations

from collections.abc import Sequence

import numpy as np

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from vervectordb_spark.functions.similarity import cosine_expr, to_double
from vervectordb_spark.operators.kmeans import _bounded_sample, _lloyd_kmeans


def _half_expr(emb_col: str, dim: int, half: int):
    """half 1 = dims [1, dim//2], half 2 = (dim//2, dim] — F.slice is
    1-based; both engines slice identically."""
    mid = dim // 2
    if half == 1:
        return F.slice(to_double(F.col(emb_col)), 1, mid)
    return F.slice(to_double(F.col(emb_col)), mid + 1, dim - mid)


def _assign_half(df: DataFrame, cent: DataFrame, emb_col: str, dim: int,
                 half: int, out_col: str, id_col: str) -> DataFrame:
    """Append out_col = argmax cosine(half(emb), centroid) over the
    broadcast half-centroid table (cell_id int, centroid array<double>).
    One max_by aggregate — the diagnostics' assignment shape
    (operators/ivf._assign_with_sim), partial-aggregatable at scale.

    NULL-embedding rows are excluded up front (the _assign_with_sim
    contract): cosine over a NULL half is NULL for every centroid, so
    max_by would otherwise assign an arbitrary cell silently — a row no
    rectangle probe can ever reach (ADVICE r5)."""
    df = df.filter(F.col(emb_col).isNotNull())
    scored = df.crossJoin(F.broadcast(
        cent.select(F.col("cell_id").alias("_cid"),
                    F.col("centroid").alias("_cv"))
    )).withColumn("_cs", cosine_expr(_half_expr(emb_col, dim, half),
                                     F.col("_cv")))
    grouped = scored.groupBy(*df.columns).agg(
        F.max_by("_cid", F.struct(F.col("_cs"),
                                  (-F.col("_cid")).alias("_n"))).alias(out_col)
    )
    return grouped


class IMIIndex:
    """Two-level coarse quantizer: assigned frame carries (cell1, cell2);
    centroid halves live driver-side (k1 + k2 rows of KB-class state)."""

    def __init__(self, assigned: DataFrame, cent1: np.ndarray,
                 cent2: np.ndarray, dim: int,
                 id_col: str = "vec_id", emb_col: str = "embedding"):
        self.assigned = assigned
        self.cent1 = cent1
        self.cent2 = cent2
        self.dim = dim
        self.id_col = id_col
        self.emb_col = emb_col
        #: per-half rank-coverage CDFs from calibrate_probe() — None until
        #: calibrated; adaptive probing falls back to the query-side mass
        #: rule without it
        self._probe_cdf: tuple[np.ndarray, np.ndarray] | None = None

    def _cent_df(self, half: int, spark=None) -> DataFrame:
        cent = self.cent1 if half == 1 else self.cent2
        return (spark or self.assigned.sparkSession).createDataFrame(
            [(i, [float(x) for x in c]) for i, c in enumerate(cent)],
            "cell_id int, centroid array<double>",
        )

    def assign(self, df: DataFrame) -> DataFrame:
        """`df` plus (cell1, cell2): each half of the vector goes to its
        argmax-cosine half-centroid; rows with NULL embeddings are
        dropped. The rule `from_centroids` indexes with, and the one a
        streaming append assigns arriving rows by."""
        spark = df.sparkSession
        a = _assign_half(df, self._cent_df(1, spark), self.emb_col, self.dim,
                         1, "cell1", self.id_col)
        return _assign_half(a, self._cent_df(2, spark), self.emb_col,
                            self.dim, 2, "cell2", self.id_col)

    @staticmethod
    def write_layout(assigned: DataFrame, path: str, mode: str) -> None:
        """Write rows carrying (cell1, cell2) into the two-level layout
        under `path`: partitioned BY cell1 (fan-out bounded by k1 —
        filesystem-safe at any k1·k2) and SORTED by cell2 within each
        file, so a rectangle probe prunes partitions on cell1 and row
        groups on cell2. `save` writes the whole index this way, and a
        streaming append adds a batch's rows to it."""
        (assigned.repartition("cell1").sortWithinPartitions("cell2")
         .write.mode(mode).partitionBy("cell1")
         .parquet(f"{path}/vectors_by_cell"))

    # -- construction ------------------------------------------------

    @classmethod
    def from_centroids(cls, df: DataFrame, cent1_df: DataFrame,
                       cent2_df: DataFrame, dim: int,
                       id_col: str = "vec_id",
                       emb_col: str = "embedding") -> "IMIIndex":
        """Frozen-centroid construction — the oracle-replayable path.
        cent{1,2}_df: (cell_id int, centroid array<double>) of dim//2 and
        dim - dim//2 element centroids respectively."""
        def mat(cdf):
            rows = sorted(cdf.collect(), key=lambda r: r["cell_id"])
            return np.asarray([list(r["centroid"]) for r in rows],
                              dtype=np.float64)

        index = cls(None, mat(cent1_df), mat(cent2_df), dim,
                    id_col=id_col, emb_col=emb_col)
        index.assigned = index.assign(df)
        return index

    @classmethod
    def build(cls, df: DataFrame, k1: int = 32, k2: int = 32,
              dim: int | None = None, seed: int = 42,
              id_col: str = "vec_id",
              emb_col: str = "embedding") -> "IMIIndex":
        """Production fit: one driver-side Lloyd k-means per half
        (operators/kmeans.py) on ONE bounded sample of 256 × max(k1, k2)
        rows drawn by id, so the same rows give the same centroids under
        any partitioning — k1 + k2 centroids TOTAL for k1*k2 cells, the
        whole point. Rows are then assigned by `assign`; NULL embeddings
        neither train nor get a cell."""
        if dim is None:
            dim = df.select(F.size(emb_col).alias("d")).first()["d"]
        X = _bounded_sample(df, emb_col, 256 * max(k1, k2), seed, id_col)
        mid = dim // 2
        cent1 = _lloyd_kmeans(X[:, :mid], min(k1, len(X)), seed,
                              init="k-means++")
        cent2 = _lloyd_kmeans(X[:, mid:], min(k2, len(X)), seed,
                              init="k-means++")
        index = cls(None, cent1, cent2, dim, id_col=id_col, emb_col=emb_col)
        index.assigned = index.assign(df)
        return index

    # -- serving -----------------------------------------------------

    @staticmethod
    def _rank_half(cent: np.ndarray, qs: np.ndarray):
        """(sims, order) of one half's centroids vs the query half —
        cosine, ties broken on cell id (the assignment's tie rule)."""
        qn = float(np.sqrt((qs * qs).sum()))
        cn = np.sqrt((cent * cent).sum(axis=1))
        den = cn * qn
        sims = np.where(den == 0, 0.0,
                        (cent @ qs) / np.where(den == 0, 1.0, den))
        order = sorted(range(len(cent)), key=lambda i: (-sims[i], i))
        return sims, [int(i) for i in order]

    def probe_cells(self, query_vec: Sequence[float],
                    a: int = 2, b: int = 2) -> tuple[list[int], list[int]]:
        """Rectangle probe: the a best half1 cells × b best half2 cells,
        ranked by the SAME cosine the assignment used (driver-side NumPy
        over k1 + k2 centroids, no Spark job — the serving path). Ties
        break on cell id."""
        q = np.asarray(query_vec, dtype=np.float64)
        mid = self.dim // 2
        out = []
        for cent, qs, k in ((self.cent1, q[:mid], a),
                            (self.cent2, q[mid:], b)):
            _sims, order = self._rank_half(cent, qs)
            out.append(order[:k])
        return out[0], out[1]

    def calibrate_probe(self, sample_size: int = 1024,
                        seed: int = 42) -> tuple[np.ndarray, np.ndarray]:
        """Estimate the per-half rank-coverage CDFs F_i on a bounded
        corpus sample: F_i[a-1] = P(a point's exact nearest neighbor's
        half-i cell lies within the top-a cells of the point's OWN half-i
        centroid ranking). This is the statistic rectangle sizing actually
        needs — which half's quantizer is RELIABLE for neighbors — and it
        is invisible to any query-side similarity rule: centroid sims can
        be flat in value while top-1 identity is near-perfectly reliable
        (measured on the half-clustered corpus, RECALL.md 'Reading the
        IMI rows').

        Cost shape: two bounded collects (sample_size keys per partition,
        then sample_size vectors) + one sample² NumPy pass driver-side; the CDFs are k1+k2 floats of
        driver state, centroid-class. Call once per index build (or after
        drift); probe_cells_adaptive uses the calibration automatically."""
        # deterministic seeded sample: the sample_size rows first in
        # (xxhash64(seed, id), id) order. Row membership depends only on
        # (seed, row identity), never on partitioning (the _bounded_sample
        # contract, operators/kmeans.py), and the seed parameter actually
        # reshuffles which rows are drawn. Only the (hash, id) keys go
        # through the global-sort prefix (TakeOrderedAndProject sends
        # every partition's top sample_size to the driver); the vectors
        # are then fetched by a hash threshold — sample_size rows.
        df = self.assigned.select(self.id_col, self.emb_col).filter(
            F.col(self.emb_col).isNotNull()).withColumn(
            "_h", F.xxhash64(F.lit(int(seed)), F.col(self.id_col)))
        keys = [(r[0], r[1]) for r in
                df.select("_h", self.id_col)
                .orderBy("_h", self.id_col).limit(int(sample_size)).collect()]
        rank = {k: i for i, k in enumerate(keys)}
        fetched = df.filter(F.col("_h") <= keys[-1][0]).collect() if keys else []
        rows = [r[self.emb_col] for r in sorted(
            (r for r in fetched if (r["_h"], r[self.id_col]) in rank),
            key=lambda r: rank[(r["_h"], r[self.id_col])])][:len(keys)]
        if len(rows) < 3:
            raise ValueError("calibrate_probe needs >= 3 sampled vectors")
        X = np.asarray([list(v) for v in rows], dtype=np.float64)
        n = np.linalg.norm(X, axis=1)
        n = np.where(n == 0, 1.0, n)
        sims = (X / n[:, None]) @ (X / n[:, None]).T
        np.fill_diagonal(sims, -np.inf)
        nn = sims.argmax(axis=1)
        mid = self.dim // 2
        cdfs = []
        for cent, lo, hi in ((self.cent1, 0, mid), (self.cent2, mid, None)):
            H = X[:, lo:hi]
            hn = np.linalg.norm(H, axis=1)
            cn = np.linalg.norm(cent, axis=1)
            den = np.outer(hn, cn)
            cs = np.where(den == 0, 0.0, (H @ cent.T) / np.where(den == 0, 1.0, den))
            # per-point centroid ranking (desc sim, cell id tiebreak — the
            # probe's rule; stable argsort of -sims == that) and the NN's
            # assigned cell = its own argmax
            order = np.argsort(-cs, axis=1, kind="stable")
            assign = order[:, 0]
            rank_of = np.empty_like(order)
            rows_idx = np.arange(len(cs))[:, None]
            rank_of[rows_idx, order] = np.arange(cs.shape[1])[None, :]
            nn_rank = rank_of[np.arange(len(cs)), assign[nn]]
            counts = np.bincount(nn_rank, minlength=cs.shape[1])
            cdfs.append(np.cumsum(counts) / len(cs))
        self._probe_cdf = (cdfs[0], cdfs[1])
        return self._probe_cdf

    def _alloc_calibrated(self, budget: int,
                          eps: float = 0.05) -> tuple[int, int]:
        """(a, b) maximizing estimated coverage F1(a)·F2(b) subject to
        a·b <= budget — exhaustive over a (k1 candidates, driver-side) —
        with a NOISE GUARD: the balanced rectangle is the default, and an
        elongated one is chosen only when its estimated coverage beats
        the balanced one by more than `eps`. On structureless corpora
        both CDFs are shallow and the argmax is sampling noise (measured:
        an unguarded allocation drifted to 8×2 on the uniform corpus for
        a small recall LOSS); real half skew clears any reasonable eps by
        an order of magnitude (0.60 vs 0.37 estimated on the
        half-clustered corpus)."""
        F1, F2 = self._probe_cdf
        k1, k2 = len(F1), len(F2)
        cands = []
        for a in range(1, min(k1, budget) + 1):
            b = min(k2, budget // a)
            if b < 1:
                break
            cands.append((a, b, float(F1[a - 1] * F2[b - 1])))
        balanced = max(cands, key=lambda c: (c[0] * c[1],
                                             -abs(c[0] - c[1]), -c[0]))
        best = max(cands, key=lambda c: (c[2], c[0] * c[1],
                                         -abs(c[0] - c[1]), -c[0]))
        if best[2] > balanced[2] + eps:
            return best[0], best[1]
        return balanced[0], balanced[1]

    def probe_cells_adaptive(self, query_vec: Sequence[float],
                             budget: int = 16, mass: float = 0.8
                             ) -> tuple[list[int], list[int]]:
        """Rectangle SIZING under a fixed cell budget — the IMI twin of
        ivf.probe_clusters_adaptive. Two signals, best available wins:

        * CALIBRATED (after calibrate_probe): pick the a×b <= budget
          maximizing estimated neighbor coverage F1(a)·F2(b) from the
          measured per-half rank-coverage CDFs. This is the signal that
          actually finds the win: on a corpus whose half1 carries the
          cluster structure and half2 noise, it allocates 1×budget and
          doubles recall over the square at the same cell count
          (RECALL.md); on half-exchangeable corpora it keeps the square.
        * query-side fallback: the similarity-mass rule per half (the
          minimal centroid prefix holding `mass` of the min-shifted
          cosine mass = that half's demand), greedy-filling toward the
          side with more unmet demand — catches per-query boundary
          ambiguity, but NOT corpus-level half skew (sim values can be
          flat while top-1 identity is reliable — measured, RECALL.md).

        Either way the probe set stays a rectangle of the per-half
        rankings: same ONE conjunctive IN-filter plan, same partition
        pruning, same cell count as fixed — only WHICH cells move.
        Driver-side NumPy over k1 + k2 centroids, never a Spark job."""
        q = np.asarray(query_vec, dtype=np.float64)
        mid = self.dim // 2
        budget = max(1, int(budget))
        k1, k2 = len(self.cent1), len(self.cent2)
        demands, orders = [], []
        for cent, qs in ((self.cent1, q[:mid]), (self.cent2, q[mid:])):
            sims, order = self._rank_half(cent, qs)
            ranked = sims[np.asarray(order)]
            w = ranked - ranked.min() + 1e-12
            cum = np.cumsum(w) / w.sum()
            demands.append(int(np.searchsorted(cum, mass) + 1))
            orders.append(order)
        if self._probe_cdf is not None:
            a, b = self._alloc_calibrated(budget)
            return orders[0][:a], orders[1][:b]
        n1, n2 = demands
        a = b = 1
        while True:
            grow_a = a < k1 and (a + 1) * b <= budget
            grow_b = b < k2 and a * (b + 1) <= budget
            if not grow_a and not grow_b:
                break
            if grow_a and (not grow_b or n1 / a >= n2 / b):
                a += 1
            else:
                b += 1
        return orders[0][:a], orders[1][:b]

    def probe_cells_exact(self, query_vec: Sequence[float],
                          a: int = 2, b: int = 2) -> tuple[list[int], list[int]]:
        """Probe via the Catalyst fold kernel — bit-exact with the DuckDB
        oracle's ORDER BY sim DESC, cell_id LIMIT; 2 trivial k-row jobs
        (the ivf.probe_clusters_exact pattern). Oracle-gated queries use
        this; serving uses the NumPy probe_cells."""
        q = np.asarray(query_vec, dtype=np.float64)
        mid = self.dim // 2
        out = []
        for half, qs, k in ((1, q[:mid], a), (2, q[mid:], b)):
            ranked = (self._cent_df(half).select(
                "cell_id",
                cosine_expr("centroid",
                            [float(x) for x in qs]).alias("sim"))
                .orderBy(F.desc("sim"), F.asc("cell_id")).limit(k))
            out.append([r["cell_id"] for r in ranked.collect()])
        return out[0], out[1]

    def search(self, query_vec: Sequence[float], top_k: int = 5,
               a: int = 2, b: int = 2, exact_probe: bool = False,
               adaptive: bool = False, mass: float = 0.8) -> DataFrame:
        """Probe the a×b cell rectangle, exact-cosine rescore inside it,
        top-k. The cell filter is a conjunctive IN-pair — pushdown-able,
        partition-pruning on a cell1-partitioned layout. Returns
        (id, cell1, cell2, sim); may return fewer than top_k rows when
        the rectangle holds fewer (raise a/b, like nprobe).

        adaptive=True re-shapes the rectangle per query under the SAME
        a·b cell budget (probe_cells_adaptive) — equal scan volume,
        better-aimed cells. adaptive and exact_probe are mutually
        exclusive (the adaptive sizing is NumPy-side by design)."""
        if adaptive and exact_probe:
            raise ValueError(
                "adaptive=True and exact_probe=True are mutually exclusive: "
                "the adaptive rectangle is sized from the NumPy half "
                "rankings; pass one or the other")
        if adaptive:
            c1, c2 = self.probe_cells_adaptive(query_vec, budget=a * b,
                                               mass=mass)
        else:
            probe = self.probe_cells_exact if exact_probe else self.probe_cells
            c1, c2 = probe(query_vec, a, b)
        cand = self.assigned.filter(
            F.col("cell1").isin(c1) & F.col("cell2").isin(c2))
        return (
            cand.select(
                self.id_col, "cell1", "cell2",
                cosine_expr(self.emb_col, list(query_vec))
                .alias("sim"),
            )
            .orderBy(F.desc("sim"), F.asc(self.id_col))
            .limit(top_k)
        )

    def batch_search(self, queries: DataFrame, top_k: int = 5,
                     a: int = 2, b: int = 2,
                     query_id: str = "query_id",
                     query_emb: str = "q_embedding",
                     exact_probe: bool = False,
                     adaptive: bool = False, mass: float = 0.8,
                     max_queries: int = 65_536) -> DataFrame:
        """Many-query IMI search in ONE job (the ivf.batch_search fold
        shape): rectangle probes are computed driver-side per query
        (Q × (k1+k2) half-centroid dots, NumPy), expanded to
        (query, cell1, cell2, qv) rows — a·b rows per query — broadcast,
        and joined against the assigned layout on BOTH cell keys; the
        exact rescore is the bit-exact fold, per-query top-k via a
        query-partitioned window. Row-for-row the per-query `search`
        results (parity pinned in tests/test_imi.py).

        At 100 TB the probed-cell union prunes the persisted
        cell1-partitioned scan exactly like the single-query path; the
        broadcast is Q·a·b rows of KB-class state."""
        from pyspark.sql import Window

        if adaptive and exact_probe:
            raise ValueError(
                "adaptive=True and exact_probe=True are mutually exclusive: "
                "the adaptive rectangle is sized from the NumPy half "
                "rankings; pass one or the other")
        spark = self.assigned.sparkSession
        qrows = queries.select(query_id, query_emb).limit(
            max_queries + 1).collect()
        if len(qrows) > max_queries:
            raise ValueError(
                f"batch_search query side exceeds {max_queries} rows; "
                "for corpus-scale query sets use knn_self_join")
        qid_type = queries.schema[query_id].dataType.simpleString()
        vid_type = self.assigned.schema[self.id_col].dataType.simpleString()
        if not qrows:
            return spark.createDataFrame(
                [], f"{query_id} {qid_type}, {self.id_col} {vid_type}, "
                    "sim double, rank int")
        probe = self.probe_cells_exact if exact_probe else self.probe_cells
        # NULL query embeddings can't be probed — fail fast with the
        # contract message (the corpus side already excludes NULLs in
        # build/_assign_half; an unguarded row would raise an opaque
        # TypeError in the float() loop below) (ADVICE r6)
        null_q = [r[0] for r in qrows if r[1] is None]
        if null_q:
            raise ValueError(
                f"batch_search got NULL {query_emb} for query ids "
                f"{null_q[:5]}{'...' if len(null_q) > 5 else ''}: filter "
                "NULL-embedding queries out before probing (the corpus "
                "side excludes NULLs the same way)")
        probe_rows = []
        for r in qrows:
            qv = [float(x) for x in r[1]]
            if adaptive:
                c1s, c2s = self.probe_cells_adaptive(qv, budget=a * b,
                                                     mass=mass)
            else:
                c1s, c2s = probe(qv, a, b)
            probe_rows += [(r[0], c1, c2, qv) for c1 in c1s for c2 in c2s]
        probes = spark.createDataFrame(
            probe_rows,
            f"{query_id} {qid_type}, cell1 int, cell2 int, "
            "_qv array<double>",
        )
        scored = self.assigned.join(
            F.broadcast(probes), on=["cell1", "cell2"]
        ).select(
            query_id, self.id_col,
            cosine_expr(self.emb_col, "_qv").alias("sim"),
        )
        w = Window.partitionBy(query_id).orderBy(F.desc("sim"),
                                                 F.asc(self.id_col))
        return scored.withColumn("rank", F.row_number().over(w)).filter(
            F.col("rank") <= top_k)

    def search_pq(self, codec, encoded: DataFrame,
                  query_vec: Sequence[float], top_k: int = 5,
                  a: int = 2, b: int = 2,
                  rerank: DataFrame | None = None,
                  exact_probe: bool = False) -> DataFrame:
        """IMI-PQ: rectangle probe → ADC over codes in the probed cells →
        optional exact rerank — the FAISS billion-scale layout (IMI coarse
        quantizer + PQ codes) composed from this index and a PQCodec,
        exactly the ivf.search_pq shape with the cluster probe replaced
        by the two-level rectangle.

        `encoded` carries (id, cell1, cell2, pq_code); persisted
        partitionBy(cell1), the rectangle probe is partition pruning on
        cell1 plus row-group pruning on cell2, and the ADC scan touches
        m bytes/row of ~(a·b)/(k1·k2) of the corpus — the cell-count
        arithmetic that makes 100 TB work: k1=k2=1024 gives 1 M cells
        from 2048 trained centroids, so a 4×4 probe reads ~16/1M of the
        codes table. Driver state = one (m×256) LUT pair + the two
        half-centroid tables."""
        probe = self.probe_cells_exact if exact_probe else self.probe_cells
        c1, c2 = probe(query_vec, a, b)
        cand = encoded.filter(
            F.col("cell1").isin(c1) & F.col("cell2").isin(c2))
        return codec.adc_search(
            cand, query_vec, top_k=top_k, id_col=self.id_col,
            rerank=rerank, emb_col=self.emb_col,
        )

    # -- persistence ---------------------------------------------------

    def save(self, path: str) -> None:
        """Persist the two-level layout (`write_layout`), the centroid
        halves and the dim. Write-then-swap (sources/atomic.py): an
        interrupted save leaves the previous complete artifact (the
        ivf.save contract)."""
        from vervectordb_spark.sources.atomic import atomic_save

        with atomic_save(path) as tmp:
            self.write_layout(self.assigned, tmp, "overwrite")
            for half, cent in ((1, self.cent1), (2, self.cent2)):
                self._cent_df(half).coalesce(1).write.mode(
                    "overwrite").parquet(f"{tmp}/centroids{half}")
            spark = self.assigned.sparkSession
            spark.createDataFrame([(self.dim,)], "dim int").coalesce(1) \
                .write.mode("overwrite").parquet(f"{tmp}/meta")
            if self._probe_cdf is not None:
                # calibration is centroid-class driver state: persist it so
                # a loaded index keeps its adaptive rectangle sizing
                spark.createDataFrame(
                    [(half, [float(x) for x in cdf])
                     for half, cdf in enumerate(self._probe_cdf, start=1)],
                    "half int, cdf array<double>",
                ).coalesce(1).write.mode("overwrite").parquet(
                    f"{tmp}/probe_cdf")

    @classmethod
    def load(cls, spark, path: str, id_col: str = "vec_id",
             emb_col: str = "embedding") -> "IMIIndex":
        assigned = spark.read.parquet(f"{path}/vectors_by_cell")
        cents = []
        for half in (1, 2):
            rows = (spark.read.parquet(f"{path}/centroids{half}")
                    .orderBy("cell_id").collect())
            if not rows:
                raise ValueError(
                    f"IMI centroids{half} at {path} are empty (interrupted "
                    "save?) — rebuild or delete the directory")
            cents.append(np.asarray([list(r["centroid"]) for r in rows],
                                    dtype=np.float64))
        dim = spark.read.parquet(f"{path}/meta").first()["dim"]
        idx = cls(assigned, cents[0], cents[1], dim,
                  id_col=id_col, emb_col=emb_col)
        from pyspark.errors import AnalysisException

        try:
            cdf_rows = (spark.read.parquet(f"{path}/probe_cdf")
                        .orderBy("half").collect())
            if len(cdf_rows) == 2:
                idx._probe_cdf = (
                    np.asarray(list(cdf_rows[0]["cdf"]), dtype=np.float64),
                    np.asarray(list(cdf_rows[1]["cdf"]), dtype=np.float64),
                )
        except AnalysisException:
            pass  # uncalibrated save — adaptive falls back to the mass rule
        return idx

    def cell_stats(self) -> DataFrame:
        """(cell1, cell2, n) occupancy — the skew report; k1*k2 rows max."""
        return (self.assigned.groupBy("cell1", "cell2")
                .agg(F.count("*").cast("bigint").alias("n")))

    def recall_at_k(self, df: DataFrame, query_vec: Sequence[float],
                    k: int = 10, a: int = 4, b: int = 4) -> float:
        from vervectordb_spark.operators.search import brute_force_topk

        truth = {r[self.id_col] for r in brute_force_topk(
            df, query_vec, k, emb_col=self.emb_col,
            id_col=self.id_col).collect()}
        got = {r[self.id_col]
               for r in self.search(query_vec, top_k=k, a=a, b=b).collect()}
        return len(truth & got) / max(len(truth), 1)


def default_calibration_dir() -> str:
    """The committed probe-calibration artifact (tools/
    freeze_imi_calibration.py — the models/tiny_ulm vendoring pattern)."""
    import os

    return os.path.abspath(os.path.join(
        os.path.dirname(__file__), "..", "..", "models",
        "imi_probe_calib"))


def save_probe_calibration(cdfs, out_dir: str) -> None:
    """Freeze calibrate_probe's per-half rank-coverage CDFs as a
    committed artifact: cdfs.parquet (half, rank 1-based, cdf) +
    meta.json provenance."""
    import json
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq_mod

    os.makedirs(out_dir, exist_ok=True)
    halves, ranks, vals = [], [], []
    for h, cdf in ((1, cdfs[0]), (2, cdfs[1])):
        for r, v in enumerate(cdf, start=1):
            halves.append(h); ranks.append(r); vals.append(float(v))
    pq_mod.write_table(pa.table({
        "half": pa.array(halves, pa.int32()),
        "rank": pa.array(ranks, pa.int32()),
        "cdf": pa.array(vals, pa.float64()),
    }), os.path.join(out_dir, "cdfs.parquet"))
    with open(os.path.join(out_dir, "meta.json"), "w") as f:
        json.dump({"k1": len(cdfs[0]), "k2": len(cdfs[1])}, f)


def load_probe_calibration(calib_dir: str | None = None
                           ) -> tuple[np.ndarray, np.ndarray]:
    """(F1, F2) from the committed artifact — assign to
    IMIIndex._probe_cdf to serve with the frozen calibration."""
    import os

    import pyarrow.parquet as pq_mod

    d = calib_dir or default_calibration_dir()
    tbl = pq_mod.read_table(os.path.join(d, "cdfs.parquet"))
    halves = tbl.column("half").to_pylist()
    ranks = tbl.column("rank").to_pylist()
    vals = tbl.column("cdf").to_pylist()
    out = {1: {}, 2: {}}
    for h, r, v in zip(halves, ranks, vals):
        out[h][r] = v
    f1 = np.array([out[1][r] for r in sorted(out[1])], dtype=np.float64)
    f2 = np.array([out[2][r] for r in sorted(out[2])], dtype=np.float64)
    return f1, f2
