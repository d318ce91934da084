"""Product Quantization codec (reference C1–C5,
vervectordb/__init__.py:152-218, 489-515).

Reference behavior reproduced:
  * dim must divide evenly into n_subquantizers (:163-164);
  * per-subspace k-means codebooks (256 centroids default, seeded);
  * encode = per-subspace **L2** argmin (:198-199) — note the deliberate
    metric mismatch with cosine search; PQ is a storage codec, codes never
    participate in search (SURVEY.md §2.4);
  * decode = codebook gather; compression ratio = dim·4B → m·1B.

Spark-first design:
  * fit: one seeded driver-side Lloyd k-means per subspace
    (operators/kmeans.py) over a bounded sample collected once
    (reference train_pq samples min(10k, N), :493-494 → df.sample/limit);
  * codebooks: tiny (m × 256 × dim/m floats) — broadcast, never joined;
  * encode/decode: Arrow-batched mapInPandas, vectorized argmin/gather per
    batch (NumPy/BLAS) — the UDF is unavoidable (argmin against a 3-D
    codebook tensor is not a Catalyst expression) but runs per-batch, not
    per-row;
  * persistence: codebooks as one small parquet table; codes are a column
    (`pq_code array<tinyint>`) on the main table — Parquet RLE/dict packs
    them tightly.

100 TB posture: fit cost is bounded by the sample; encode is a map-only
pass (no shuffle); the broadcast is ≤ 256·dim·8B. Re-encoding after
codebook refresh is an idempotent full-scan rewrite.

Oracle path: with codebooks FROZEN as a table, encode is expressible in
SQL (argmin over 256 rows per subspace) — see queries_pq.py; the fitted
codebooks themselves are graded by reconstruction-error tests (the
reference's own acceptance metric, examples/datawhale.py:59-61).
"""

from __future__ import annotations

from collections.abc import Iterator, Sequence

import numpy as np

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from vervectordb_spark.operators.kmeans import _bounded_sample, _lloyd_kmeans


def with_residual(df: DataFrame, centroids_df: DataFrame,
                  emb_col: str = "embedding", cluster_col: str = "cluster_id",
                  out_col: str = "_residual") -> DataFrame:
    """Append `out_col` = embedding − centroid[cluster_id] (double), via a
    broadcast centroid join + zip_with subtraction. The residual is what
    IVF-PQ quantizes: after the coarse assignment, residual magnitudes are
    much smaller than raw vectors, so the same codebook budget spends its
    centroids on a tighter distribution (FAISS-style IVFPQ; the reference
    quantizes raw vectors only — vervectordb/__init__.py:182-201)."""
    cent = centroids_df.select(
        F.col("cluster_id").alias(cluster_col), F.col("centroid").alias("_cent")
    )
    return (
        df.join(F.broadcast(cent), on=cluster_col)
        .withColumn(
            out_col,
            F.zip_with(
                F.col(emb_col).cast("array<double>"),
                F.col("_cent"),
                lambda x, y: x - y,
            ),
        )
        .drop("_cent")
    )


class PQCodec:
    """Product quantizer: `codebooks` is (m, k, sub_dim) float64."""

    def __init__(self, codebooks: np.ndarray, dim: int):
        m, k, sub_dim = codebooks.shape
        if m * sub_dim != dim:
            raise ValueError(f"codebooks {codebooks.shape} inconsistent with dim={dim}")
        self.codebooks = codebooks
        self.dim = dim
        self.n_subquantizers = m
        self.codebook_size = k
        self.sub_dim = sub_dim

    # ------------------------------------------------------------------ fit
    @classmethod
    def fit(
        cls,
        df: DataFrame,
        dim: int,
        n_subquantizers: int = 8,
        codebook_size: int = 256,
        seed: int = 42,
        emb_col: str = "embedding",
        sample_size: int = 10_000,
        max_iter: int = 20,
    ) -> "PQCodec":
        """Per-subspace k-means on a bounded sample.

        Mirrors the reference's divisibility check (:163-164) and sampling
        cap (:493-494). The sample is collected once; each subspace is one
        seeded driver-side Lloyd fit (operators/kmeans.py) over its dim/m
        columns.
        """
        if dim % n_subquantizers != 0:
            raise ValueError(
                f"vector dim {dim} must be divisible by n_subquantizers "
                f"{n_subquantizers}"  # reference raise, vervectordb/__init__.py:163-164
            )
        if not 2 <= codebook_size <= 256:
            raise ValueError(
                f"codebook_size must be in [2, 256] (codes are stored as "
                f"tinyint c-128, bijective only for k <= 256), got "
                f"{codebook_size}"
            )
        sub_dim = dim // n_subquantizers
        # cap 10k rows × dim floats ≈ 5 MB at dim=128: 8 × maxIter Spark
        # jobs to cluster it cost ~10× the arithmetic in scheduling
        # (measured 14.5s MLlib vs ~1s local at the reference geometry)
        X = _bounded_sample(df, emb_col, sample_size, seed, None)
        k = min(codebook_size, len(X))
        books = []
        for s in range(n_subquantizers):
            centers = _lloyd_kmeans(
                X[:, s * sub_dim:(s + 1) * sub_dim], k, seed=seed + s,
                max_iter=max_iter,
            )
            if len(centers) < codebook_size:  # pad so codes stay uint8-stable
                pad = np.repeat(centers[-1:], codebook_size - len(centers), axis=0)
                centers = np.vstack([centers, pad])
            books.append(centers)
        return cls(np.stack(books), dim)

    # -------------------------------------------------------------- encode
    def encode(self, df: DataFrame, emb_col: str = "embedding",
               code_col: str = "pq_code") -> DataFrame:
        """Append `code_col array<tinyint>`: per-subspace L2 argmin against
        the broadcast codebooks, one ||x-c||² GEMM per Arrow batch.

        tinyint is signed; code c is stored as c-128 (bijective, recovered
        at decode) so 256-entry codebooks fit Spark's ByteType exactly.

        Idempotent: an existing `code_col` (e.g. a second compress(), or a
        table whose canonical schema already carries pq_code) is replaced,
        not duplicated."""
        if code_col in df.columns:
            df = df.drop(code_col)
        spark = df.sparkSession
        bc = spark.sparkContext.broadcast(self.codebooks)
        m, sub_dim = self.n_subquantizers, self.sub_dim
        fields = ", ".join(f"{f.name} {f.dataType.simpleString()}" for f in df.schema)
        out_schema = f"{fields}, {code_col} array<tinyint>"

        def enc(batches: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:  # noqa: F821
            books = bc.value  # (m, k, sub_dim)
            # ||x - c||² = ||x||² - 2x·c + ||c||²; argmin drops ||x||²
            cnorm = (books ** 2).sum(axis=2)  # (m, k)
            for pdf in batches:
                if len(pdf) == 0:
                    continue
                mat = np.asarray(pdf[emb_col].tolist(), dtype=np.float64)
                codes = np.empty((len(mat), m), dtype=np.int16)
                # one (n, k) score buffer reused across subspaces (a fresh
                # ~20 MB temp per subspace per batch churns mmap/THP — the
                # kernel-compaction pathology documented in topk.gemm_topk)
                scores = np.empty((len(mat), books.shape[1]))
                for s in range(m):
                    x = mat[:, s * sub_dim : (s + 1) * sub_dim]  # (n, sub)
                    np.matmul(x, books[s].T, out=scores)
                    scores *= -2.0
                    scores += cnorm[s]
                    codes[:, s] = np.argmin(scores, axis=1)
                pdf[code_col] = list((codes - 128).astype(np.int8))
                yield pdf

        return df.mapInPandas(enc, out_schema)

    # -------------------------------------------------------------- decode
    def decode(self, df: DataFrame, code_col: str = "pq_code",
               out_col: str = "embedding_hat") -> DataFrame:
        """Append `out_col array<float>`: codebook gather (reconstruction).
        Idempotent: replaces an existing `out_col`."""
        if out_col in df.columns:
            df = df.drop(out_col)
        spark = df.sparkSession
        bc = spark.sparkContext.broadcast(self.codebooks)
        m, sub_dim = self.n_subquantizers, self.sub_dim
        fields = ", ".join(f"{f.name} {f.dataType.simpleString()}" for f in df.schema)
        out_schema = f"{fields}, {out_col} array<float>"

        def dec(batches: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:  # noqa: F821
            books = bc.value
            for pdf in batches:
                if len(pdf) == 0:
                    continue
                codes = np.asarray(pdf[code_col].tolist(), dtype=np.int16) + 128
                out = np.empty((len(codes), m * sub_dim), dtype=np.float32)
                for s in range(m):
                    out[:, s * sub_dim : (s + 1) * sub_dim] = books[s][codes[:, s]]
                pdf[out_col] = list(out)
                yield pdf

        return df.mapInPandas(dec, out_schema)

    # ---------------------------------------------------- residual encoding
    def encode_residual(self, df: DataFrame, centroids_df: DataFrame,
                        emb_col: str = "embedding",
                        cluster_col: str = "cluster_id",
                        code_col: str = "pq_code") -> DataFrame:
        """Encode residuals (embedding − assigned centroid) instead of raw
        vectors — the codec must have been fitted on residuals. Same
        map-only GEMM argmin as `encode`, over the joined residual column."""
        res = with_residual(df, centroids_df, emb_col=emb_col,
                            cluster_col=cluster_col)
        return self.encode(res, emb_col="_residual", code_col=code_col).drop(
            "_residual"
        )

    # ------------------------------------------------------ residual ADC
    def adc_search_residual(self, encoded: DataFrame, centroids,
                            query_vec, probed: Sequence[int],
                            top_k: int = 10,
                            code_col: str = "pq_code", id_col: str = "vec_id",
                            cluster_col: str = "cluster_id",
                            rerank: DataFrame | None = None,
                            rerank_factor: int = 5,
                            emb_col: str = "embedding") -> DataFrame:
        """ADC over RESIDUAL codes: reconstruction x̂ = centroid[j] + r̂, so
        the LUTs fuse the coarse centroid into the fine codebook per probed
        cluster —

            lut_dot[j][s][c]  = (centroid_j⊕codebook)[s][c] · q_s
            lut_norm[j][s][c] = ‖(centroid_j⊕codebook)[s][c]‖²

        i.e. plain ADC against a per-cluster SHIFTED codebook. LUT state is
        nprobe·m·k entries (probed clusters only — at k_clusters=4096 a
        full-cluster LUT would be 100× the probe set's), built driver-side
        and broadcast; the scan still reads m bytes/row.

        Numerics contract: identical to `adc_search` — LUT entries are
        sequential folds over sub_dim (vectorized across the 256 codes,
        preserving per-code fold order), per-row sums accumulate in
        subspace order, per-batch pruning tie-breaks (sim desc, id asc) —
        so the path is oracle-checkable (queries_pq.ivfpq_residual_adc)."""
        q = np.asarray(query_vec, dtype=np.float64)
        cents = np.asarray(centroids, dtype=np.float64)
        m, sub_dim, k = self.n_subquantizers, self.sub_dim, self.codebook_size
        probed = [int(c) for c in probed]
        acc = 0.0
        for x in q:
            acc += x * x
        qn = float(np.sqrt(acc))
        cmap = {c: i for i, c in enumerate(probed)}
        lut_dot = np.empty((len(probed), m, k))
        lut_norm = np.empty((len(probed), m, k))
        for pi, j in enumerate(probed):
            cj = cents[j]
            for s in range(m):
                d = np.zeros(k)
                n = np.zeros(k)
                for i in range(sub_dim):  # sequential fold, vectorized over codes
                    rv = self.codebooks[s, :, i] + cj[s * sub_dim + i]
                    d += rv * q[s * sub_dim + i]
                    n += rv * rv
                lut_dot[pi, s] = d
                lut_norm[pi, s] = n
        spark = encoded.sparkSession
        bc = spark.sparkContext.broadcast((cmap, lut_dot, lut_norm, qn))
        fetch = rerank_factor * top_k if rerank is not None else top_k
        vid_type = encoded.schema[id_col].dataType.simpleString()
        out_schema = f"{id_col} {vid_type}, sim double"

        def score(batches):
            import pandas as pd

            b_cmap, b_dot, b_norm, b_qn = bc.value
            n_sub = b_dot.shape[1]
            for pdf in batches:
                if len(pdf) == 0:
                    continue
                codes = np.asarray(pdf[code_col].tolist(), dtype=np.int16) + 128
                ci = pdf[cluster_col].map(b_cmap).to_numpy(dtype=np.int64)
                dots = np.zeros(len(codes))
                norms_sq = np.zeros(len(codes))
                for s in range(n_sub):  # subspace order (fold)
                    dots += b_dot[ci, s, codes[:, s]]
                    norms_sq += b_norm[ci, s, codes[:, s]]
                denom = np.sqrt(norms_sq) * b_qn
                with np.errstate(divide="ignore", invalid="ignore"):
                    sims = np.where(denom == 0.0, 0.0, dots / denom)
                kk = min(fetch, len(sims))
                vids = pdf[id_col].to_numpy()
                idx = np.lexsort((vids, -sims))[:kk]
                yield pd.DataFrame({id_col: vids[idx], "sim": sims[idx]})

        cand = (
            encoded.filter(F.col(cluster_col).isin(probed))
            .select(id_col, code_col, cluster_col)
            .mapInPandas(score, out_schema)
        )
        approx_top = cand.orderBy(F.desc("sim"), F.asc(id_col)).limit(fetch)
        if rerank is None:
            return approx_top.orderBy(F.desc("sim"), F.asc(id_col)).limit(top_k)
        from vervectordb_spark.operators.search import brute_force_topk

        exact_pool = rerank.join(approx_top.select(id_col), on=id_col)
        return brute_force_topk(
            exact_pool, query_vec, top_k, emb_col=emb_col, id_col=id_col
        )

    # ----------------------------------------------------------- ADC search
    def adc_search(self, encoded: DataFrame, query_vec, top_k: int = 10,
                   code_col: str = "pq_code", id_col: str = "vec_id",
                   rerank: DataFrame | None = None,
                   rerank_factor: int = 5,
                   emb_col: str = "embedding") -> DataFrame:
        """Asymmetric-distance search over PQ codes (scale extension; the
        reference never searches its codes — SURVEY.md §2.4 notes PQ is
        storage-only there). Scores cosine(query, reconstruction) without
        reconstructing: two driver-built lookup tables per query,

            lut_dot[s][k]  = q_s · codebook[s][k]
            lut_norm[s][k] = ‖codebook[s][k]‖²

        give dot(q, x̂) = Σ_s lut_dot[s][code_s] and ‖x̂‖² = Σ_s
        lut_norm[s][code_s] — the scan reads m bytes/row instead of dim·4
        (32× less I/O at the default geometry), compute is a table gather.

        With `rerank` (the raw-vector table), the top rerank_factor·k ADC
        candidates are re-scored exactly — recall of exact search on the
        candidate set, I/O of the compressed scan on the corpus.
        Returns (id, sim[, rank]).

        Numerics contract: every float in the ADC score follows the
        bit-exact sequential-fold convention shared with the DuckDB oracle
        (queries.py header) — LUT entries are sequential dot folds, the
        per-row sums accumulate in subspace order, and per-batch candidate
        pruning tie-breaks by id — so the whole probe → ADC → rerank path
        is oracle-checkable (queries_pq.ivfpq_search_adc)."""
        import numpy as np

        q = np.asarray(query_vec, dtype=np.float64)
        m, sub_dim = self.n_subquantizers, self.sub_dim
        k = self.codebook_size
        # Sequential folds (NOT BLAS / numpy reductions, whose summation
        # order differs in the last bit): trivial cost at m·k·sub_dim.
        acc = 0.0
        for x in q:
            acc += x * x
        qn = float(np.sqrt(acc))
        lut_dot = np.empty((m, k))
        lut_norm = np.empty((m, k))
        for s in range(m):
            for c in range(k):
                d = 0.0
                n = 0.0
                for i in range(sub_dim):
                    cv = float(self.codebooks[s, c, i])
                    d += cv * q[s * sub_dim + i]
                    n += cv * cv
                lut_dot[s, c] = d
                lut_norm[s, c] = n
        spark = encoded.sparkSession
        bc = spark.sparkContext.broadcast((lut_dot, lut_norm, qn))
        fetch = rerank_factor * top_k if rerank is not None else top_k
        vid_type = encoded.schema[id_col].dataType.simpleString()
        out_schema = f"{id_col} {vid_type}, sim double"

        def score(batches):
            import pandas as pd

            b_dot, b_norm, b_qn = bc.value
            n_sub = b_dot.shape[0]
            for pdf in batches:
                if len(pdf) == 0:
                    continue
                codes = np.asarray(pdf[code_col].tolist(), dtype=np.int16) + 128
                # accumulate in subspace order: a sequential fold per row
                # (vectorized across rows) — matches the oracle's
                # left-associative lut[1]+lut[2]+...+lut[m]
                dots = np.zeros(len(codes))
                norms_sq = np.zeros(len(codes))
                for s in range(n_sub):
                    dots += b_dot[s, codes[:, s]]
                    norms_sq += b_norm[s, codes[:, s]]
                denom = np.sqrt(norms_sq) * b_qn
                with np.errstate(divide="ignore", invalid="ignore"):
                    sims = np.where(denom == 0.0, 0.0, dots / denom)
                kk = min(fetch, len(sims))
                vids = pdf[id_col].to_numpy()
                # deterministic per-batch prune: (sim desc, id asc) — with
                # quantized codes, ADC sims TIE often; an unstable partial
                # sort at the batch boundary would desync from the oracle
                idx = np.lexsort((vids, -sims))[:kk]
                yield pd.DataFrame({id_col: vids[idx], "sim": sims[idx]})

        cand = encoded.select(id_col, code_col).mapInPandas(score, out_schema)
        # orderBy().limit() → TakeOrderedAndProject: per-partition `fetch`-heaps
        # merged at the driver. (A row_number over a global no-partition window
        # funnels every candidate through ONE partition — the scale cliff.)
        approx_top = cand.orderBy(F.desc("sim"), F.asc(id_col)).limit(fetch)
        if rerank is None:
            return approx_top.orderBy(F.desc("sim"), F.asc(id_col)).limit(top_k)
        from vervectordb_spark.operators.search import brute_force_topk

        exact_pool = rerank.join(approx_top.select(id_col), on=id_col)
        return brute_force_topk(
            exact_pool, query_vec, top_k, emb_col=emb_col, id_col=id_col
        )

    # ----------------------------------------------------- batched ADC
    def batch_adc_search(self, encoded: DataFrame, queries: DataFrame | None = None,
                         top_k: int = 10, code_col: str = "pq_code",
                         id_col: str = "vec_id",
                         query_id: str = "query_id",
                         query_emb: str = "q_embedding",
                         rerank: DataFrame | None = None,
                         rerank_factor: int = 5,
                         emb_col: str = "embedding",
                         probe_sets: dict | None = None,
                         n_clusters: int | None = None,
                         cluster_col: str = "cluster_id",
                         max_q: int = 65_536,
                         _qrows: list | None = None) -> DataFrame:
        """Many-query ADC in ONE job: the per-query LUT pair of
        `adc_search` stacks into a (Q, m, k) dot tensor plus the shared
        query-independent (m, k) norm table, broadcast once; one scan over
        the codes scores every query per Arrow batch with a LUT gather.
        vs the driver loop of Q jobs this trades Q× scheduling overhead
        (~300 ms each) for one pass — the same batching economics as
        IVFIndex.batch_search.

        `probe_sets` (qid → probed cluster list, with `n_clusters`) masks
        query×row pairs whose cluster the query didn't probe — the batched
        IVF-PQ path scans the UNION of probed clusters once (partition
        pruning on the persisted layout) and masks per query in-kernel.

        Numerics contract: identical to `adc_search` — LUT dot folds are
        sequential over sub_dim (vectorized ACROSS queries, preserving
        per-query fold order), per-row sums accumulate in subspace order,
        per-batch candidate pruning tie-breaks (sim desc, id asc) per
        query — so the batch path is oracle-checkable row-for-row against
        the single-query SQL replayed per query (queries_pq.ivfpq_adc_batch).

        Memory: kernel holds a (Q × arrow-batch) score block; the `max_q`
        guard bounds it (64k queries × 10k-row batch ≈ 5 GB — lower max_q
        for thin executors; corpus-scale query sides belong in gemm_topk's
        blocked kernel after IVF pruning).
        Returns (query_id, id, rank, sim), rank 1..top_k per query."""
        from pyspark.sql import Window

        spark = encoded.sparkSession
        if _qrows is None:
            qrows = queries.select(query_id, query_emb).limit(max_q + 1).collect()
            if len(qrows) > max_q:
                raise ValueError(
                    f"batch_adc_search query side exceeds {max_q} rows; for "
                    "corpus-scale query sets prune with IVF/LSH and use "
                    "operators.topk.gemm_topk (blocked broadcast)"
                )
        else:
            qrows = _qrows
        vid_type = encoded.schema[id_col].dataType.simpleString()
        qid_type = (
            queries.schema[query_id].dataType.simpleString()
            if queries is not None
            else ("string" if qrows and isinstance(qrows[0][0], str) else "long")
        )
        if not qrows:
            return spark.createDataFrame(
                [], f"{query_id} {qid_type}, {id_col} {vid_type}, sim double, rank int"
            )
        m, sub_dim, k = self.n_subquantizers, self.sub_dim, self.codebook_size
        # dtype=object keeps string query ids intact (FIXTURES.md: uuid
        # string keys are supported; int64 casting crashed on them)
        qids = np.array([r[0] for r in qrows], dtype=object)
        qmat = np.array([list(r[1]) for r in qrows], dtype=np.float64)
        nq = len(qids)
        # ‖q‖ per query: sequential fold over dim, vectorized across queries
        # (elementwise float64 — bit-identical per query to the serial path)
        acc = np.zeros(nq)
        for i in range(self.dim):
            acc += qmat[:, i] * qmat[:, i]
        qn = np.sqrt(acc)
        lut_dot = np.empty((nq, m, k))
        lut_norm = np.empty((m, k))
        for s in range(m):
            for c in range(k):
                d = np.zeros(nq)
                n = 0.0
                for i in range(sub_dim):
                    cv = float(self.codebooks[s, c, i])
                    d += cv * qmat[:, s * sub_dim + i]
                    n += cv * cv
                lut_dot[:, s, c] = d
                lut_norm[s, c] = n
        mask = None
        if probe_sets is not None:
            if n_clusters is None:
                n_clusters = 1 + max(c for s in probe_sets.values() for c in s)
            mask = np.zeros((nq, n_clusters), dtype=bool)
            for i, qid in enumerate(qids):
                mask[i, list(probe_sets[qid])] = True
        bc = spark.sparkContext.broadcast((qids, lut_dot, lut_norm, qn, mask))
        fetch = rerank_factor * top_k if rerank is not None else top_k
        out_schema = f"{query_id} {qid_type}, {id_col} {vid_type}, sim double"
        cols = [id_col, code_col] + ([cluster_col] if mask is not None else [])

        def score(batches):
            import pandas as pd

            b_qids, b_dot, b_norm, b_qn, b_mask = bc.value
            for pdf in batches:
                if len(pdf) == 0:
                    continue
                codes = np.asarray(pdf[code_col].tolist(), dtype=np.int16) + 128
                nr = len(codes)
                dots = np.zeros((len(b_qids), nr))
                norms_sq = np.zeros(nr)
                for s in range(b_dot.shape[1]):  # subspace order (fold)
                    dots += b_dot[:, s, codes[:, s]]
                    norms_sq += b_norm[s, codes[:, s]]
                denom = np.sqrt(norms_sq)[None, :] * b_qn[:, None]
                with np.errstate(divide="ignore", invalid="ignore"):
                    sims = np.where(denom == 0.0, 0.0, dots / denom)
                if b_mask is not None:
                    # rows in clusters no query probed (possible when the
                    # caller scans an unfiltered codes table with explicit
                    # probe_sets) must MASK OUT, not index out of bounds
                    cids = pdf[cluster_col].to_numpy()
                    in_range = (cids >= 0) & (cids < b_mask.shape[1])
                    safe = np.where(in_range, cids, 0)
                    sims = np.where(
                        b_mask[:, safe] & in_range[None, :], sims, -2.0
                    )
                vids = pdf[id_col].to_numpy()
                kk = min(fetch, nr)
                out_q, out_v, out_s = [], [], []
                for qi in range(len(b_qids)):  # deterministic per-query prune
                    idx = np.lexsort((vids, -sims[qi]))[:kk]
                    out_q.append(np.full(kk, b_qids[qi]))
                    out_v.append(vids[idx])
                    out_s.append(sims[qi, idx])
                yield pd.DataFrame({
                    query_id: np.concatenate(out_q),
                    id_col: np.concatenate(out_v),
                    "sim": np.concatenate(out_s),
                })

        cand = (
            encoded.select(*cols)
            .mapInPandas(score, out_schema)
            .filter(F.col("sim") > -2.0)
        )
        w = Window.partitionBy(query_id).orderBy(F.desc("sim"), F.asc(id_col))
        pool = cand.withColumn("rank", F.row_number().over(w)).filter(
            F.col("rank") <= fetch
        )
        if rerank is None:
            return pool.filter(F.col("rank") <= top_k)
        from vervectordb_spark.functions.similarity import cosine_expr

        probes = spark.createDataFrame(
            [(r[0], [float(x) for x in r[1]]) for r in qrows],
            f"{query_id} {qid_type}, _qv array<double>",
        )
        exact = (
            rerank.join(pool.select(query_id, id_col), on=id_col)
            .join(F.broadcast(probes), on=query_id)
            .select(
                query_id,
                id_col,
                cosine_expr(emb_col, "_qv").alias("sim"),
            )
        )
        return exact.withColumn("rank", F.row_number().over(w)).filter(
            F.col("rank") <= top_k
        )

    # ------------------------------------------- batched residual ADC
    def batch_adc_search_residual(self, encoded: DataFrame, centroids,
                                  probe_sets: dict, qrows: list,
                                  top_k: int = 10,
                                  code_col: str = "pq_code",
                                  id_col: str = "vec_id",
                                  cluster_col: str = "cluster_id",
                                  query_id: str = "query_id",
                                  rerank: DataFrame | None = None,
                                  rerank_factor: int = 5,
                                  emb_col: str = "embedding") -> DataFrame:
        """Many-query RESIDUAL ADC in ONE job: per-(query, probed-cluster)
        fused LUTs (centroid ⊕ codebook — the dot LUT is NOT separable into
        centroid + codebook terms without changing the float fold, so it
        stays fused) broadcast once; one scan of the probed-cluster union
        scores every query per Arrow batch.

        LUT memory is Q × max_probes × m × k doubles (slot-compressed —
        each query stores LUTs only for clusters it probes), with a hard
        2 GiB guard; 32 queries × nprobe 8 × 8 × 256 ≈ 4 MB.

        Numerics contract: identical to `adc_search_residual` — per-code
        fold over sub_dim (vectorized across the queries probing a
        cluster), subspace-ordered row sums, (sim desc, id asc) per-batch
        prune — oracle-checkable per query (queries_pq.ivfpq_residual_batch).
        Returns (query_id, id, rank, sim)."""
        from pyspark.sql import Window

        spark = encoded.sparkSession
        vid_type = encoded.schema[id_col].dataType.simpleString()
        qid_type = (
            "string" if qrows and isinstance(qrows[0][0], str) else "long"
        )
        if not qrows:
            return spark.createDataFrame(
                [], f"{query_id} {qid_type}, {id_col} {vid_type}, sim double, rank int"
            )
        cents = np.asarray(centroids, dtype=np.float64)
        m, sub_dim, k = self.n_subquantizers, self.sub_dim, self.codebook_size
        qids = np.array([r[0] for r in qrows], dtype=object)
        qmat = np.array([list(r[1]) for r in qrows], dtype=np.float64)
        nq = len(qids)
        acc = np.zeros(nq)
        for i in range(self.dim):  # ‖q‖: sequential fold, vectorized across q
            acc += qmat[:, i] * qmat[:, i]
        qn = np.sqrt(acc)
        union = sorted({c for s in probe_sets.values() for c in s})
        uidx = {c: i for i, c in enumerate(union)}
        n_clusters = len(cents)
        mask = np.zeros((nq, n_clusters), dtype=bool)
        for qi, qid in enumerate(qids):
            mask[qi, list(probe_sets[qid])] = True
        # SLOT-COMPRESSED fused LUT: (nq, max_probes, m, k) instead of the
        # dense (nq, |union|, m, k) — a query stores LUTs only for the
        # clusters IT probes (slot = smap[q, union_index]). At nprobe=8
        # over a 64-cluster union the dense form was 8× larger and mostly
        # zeros; at max_q=4096 that dense worst case reached ~4 GB on the
        # driver, defeating the guard's intent.
        max_probes = max(len(s) for s in probe_sets.values())
        lut_bytes = nq * max_probes * m * k * 8
        if lut_bytes > 2 << 30:
            raise ValueError(
                f"residual LUT would need {lut_bytes >> 20} MiB "
                f"({nq} queries x {max_probes} probes x {m} x {k}); "
                "lower the query batch size or pass tighter probe_sets"
            )
        smap = np.zeros((nq, len(union)), dtype=np.int32)
        for qi, qid in enumerate(qids):
            for slot, cl in enumerate(sorted(probe_sets[qid])):
                smap[qi, uidx[cl]] = slot
        lut_dot = np.zeros((nq, max_probes, m, k))
        lut_norm = np.empty((len(union), m, k))
        for ui, cl in enumerate(union):
            cj = cents[cl]
            qsel = np.nonzero(mask[:, cl])[0]
            for s in range(m):
                d = np.zeros((len(qsel), k))
                n = np.zeros(k)
                for i in range(sub_dim):  # sequential fold over sub_dim
                    rv = self.codebooks[s, :, i] + cj[s * sub_dim + i]  # (k,)
                    d += rv[None, :] * qmat[qsel, s * sub_dim + i][:, None]
                    n += rv * rv
                lut_dot[qsel, smap[qsel, ui], s] = d
                lut_norm[ui, s] = n
        bc = spark.sparkContext.broadcast(
            (qids, uidx, smap, lut_dot, lut_norm, qn, mask)
        )
        fetch = rerank_factor * top_k if rerank is not None else top_k
        out_schema = f"{query_id} {qid_type}, {id_col} {vid_type}, sim double"

        def score(batches):
            import pandas as pd

            b_qids, b_uidx, b_smap, b_dot, b_norm, b_qn, b_mask = bc.value
            n_sub = b_norm.shape[1]
            qix = np.arange(len(b_qids))[:, None]
            for pdf in batches:
                if len(pdf) == 0:
                    continue
                codes = np.asarray(pdf[code_col].tolist(), dtype=np.int16) + 128
                cl = pdf[cluster_col].to_numpy()
                uv = np.array([b_uidx[c] for c in cl], dtype=np.int64)
                sl = b_smap[:, uv]  # (nq, nr) per-query LUT slot per row
                nr = len(codes)
                dots = np.zeros((len(b_qids), nr))
                norms_sq = np.zeros(nr)
                for s in range(n_sub):  # subspace order (fold)
                    dots += b_dot[qix, sl, s, codes[None, :, s]]
                    norms_sq += b_norm[uv, s, codes[:, s]]
                denom = np.sqrt(norms_sq)[None, :] * b_qn[:, None]
                with np.errstate(divide="ignore", invalid="ignore"):
                    sims = np.where(denom == 0.0, 0.0, dots / denom)
                sims = np.where(b_mask[:, cl], sims, -2.0)
                vids = pdf[id_col].to_numpy()
                kk = min(fetch, nr)
                out_q, out_v, out_s = [], [], []
                for qi in range(len(b_qids)):  # deterministic per-query prune
                    idx = np.lexsort((vids, -sims[qi]))[:kk]
                    out_q.append(np.full(kk, b_qids[qi]))
                    out_v.append(vids[idx])
                    out_s.append(sims[qi, idx])
                yield pd.DataFrame({
                    query_id: np.concatenate(out_q),
                    id_col: np.concatenate(out_v),
                    "sim": np.concatenate(out_s),
                })

        cand = (
            encoded.filter(F.col(cluster_col).isin(union))
            .select(id_col, code_col, cluster_col)
            .mapInPandas(score, out_schema)
            .filter(F.col("sim") > -2.0)
        )
        w = Window.partitionBy(query_id).orderBy(F.desc("sim"), F.asc(id_col))
        pool = cand.withColumn("rank", F.row_number().over(w)).filter(
            F.col("rank") <= fetch
        )
        if rerank is None:
            return pool.filter(F.col("rank") <= top_k)
        from vervectordb_spark.functions.similarity import cosine_expr

        probes = spark.createDataFrame(
            [(r[0], [float(x) for x in r[1]]) for r in qrows],
            f"{query_id} {qid_type}, _qv array<double>",
        )
        exact = (
            rerank.join(pool.select(query_id, id_col), on=id_col)
            .join(F.broadcast(probes), on=query_id)
            .select(
                query_id,
                id_col,
                cosine_expr(emb_col, "_qv").alias("sim"),
            )
        )
        return exact.withColumn("rank", F.row_number().over(w)).filter(
            F.col("rank") <= top_k
        )

    # ------------------------------------------------------------- metrics
    def compression_ratio(self) -> float:
        """Raw float32 bytes / code bytes (reference prints this,
        vervectordb/__init__.py:507-510): dim·4 / m."""
        return (self.dim * 4.0) / self.n_subquantizers

    def reconstruction_error(self, df: DataFrame, emb_col: str = "embedding") -> float:
        """Mean absolute reconstruction error (reference acceptance metric,
        examples/datawhale.py:59-61). One distributed pass."""
        rec = self.decode(self.encode(df.select(emb_col)))
        err = rec.select(
            F.aggregate(
                F.zip_with(
                    F.col(emb_col).cast("array<double>"),
                    F.col("embedding_hat").cast("array<double>"),
                    lambda x, y: F.abs(x - y),
                ),
                F.lit(0.0),
                lambda acc, v: acc + v,
            ).alias("abs_err")
        ).agg((F.sum("abs_err") / (F.count("*") * self.dim)).alias("mae"))
        return err.collect()[0]["mae"]

    # --------------------------------------------------------- persistence
    def save(self, path: str, spark) -> None:
        rows = [
            (s, k, [float(x) for x in self.codebooks[s, k]])
            for s in range(self.n_subquantizers)
            for k in range(self.codebook_size)
        ]
        from vervectordb_spark.sources.atomic import atomic_save

        with atomic_save(path) as tmp:
            spark.createDataFrame(
                rows, "subspace int, code int, centroid array<double>"
            ).coalesce(1).write.mode("overwrite").parquet(tmp)

    @classmethod
    def load(cls, spark, path: str) -> "PQCodec":
        rows = spark.read.parquet(path).orderBy("subspace", "code").collect()
        if not rows:
            raise ValueError(
                f"PQ artifacts at {path} are empty (interrupted save?) — "
                "retrain or delete the directory"
            )
        m = max(r["subspace"] for r in rows) + 1
        k = max(r["code"] for r in rows) + 1
        sub_dim = len(rows[0]["centroid"])
        books = np.zeros((m, k, sub_dim))
        for r in rows:
            books[r["subspace"], r["code"]] = r["centroid"]
        return cls(books, m * sub_dim)

    # ------------------------------------------------- oracle-exact encode
    @staticmethod
    def encode_with_expr(
        df: DataFrame,
        codebooks_df: DataFrame,
        emb_col: str = "embedding",
        id_col: str = "vec_id",
        sub_dim: int | None = None,
    ) -> DataFrame:
        """Encode via pure Catalyst expressions against a FROZEN codebook
        table (subspace int, code int, centroid array<double>) → one row per
        (id, subspace) with the argmin code.

        Same L2 fold arithmetic as the DuckDB oracle (squared-diff fold, no
        GEMM expansion), so codes are bit-exact across engines; ties break
        to the lowest code. The GEMM path (encode) is the throughput
        kernel; equivalence of the two is pytest-gated.
        """
        from pyspark.sql import Window

        if sub_dim is None:
            first = codebooks_df.select(F.size("centroid").alias("d")).first()
            sub_dim = first["d"]
        sub = df.select(
            F.col(id_col),
            F.col(emb_col).cast("array<double>").alias("_emb"),
        ).crossJoin(F.broadcast(codebooks_df))
        diff = F.zip_with(
            F.slice(F.col("_emb"), F.col("subspace") * sub_dim + 1, sub_dim),
            F.col("centroid"),
            lambda x, y: x - y,
        )
        dist = F.aggregate(
            F.zip_with(diff, diff, lambda x, y: x * y),
            F.lit(0.0),
            lambda acc, v: acc + v,
        )
        w = Window.partitionBy(id_col, "subspace").orderBy(
            F.asc("_dist"), F.asc("code")
        )
        return (
            sub.withColumn("_dist", dist)
            .withColumn("_rk", F.row_number().over(w))
            .filter(F.col("_rk") == 1)
            .select(id_col, "subspace", "code")
        )

    @classmethod
    def from_codebook_df(cls, codebooks_df: DataFrame) -> "PQCodec":
        """Build from a frozen (subspace, code, centroid) table — the
        oracle-checkable path (queries_pq.py) where DuckDB replays the same
        argmin against the same table."""
        rows = codebooks_df.orderBy("subspace", "code").collect()
        m = max(r["subspace"] for r in rows) + 1
        k = max(r["code"] for r in rows) + 1
        sub_dim = len(rows[0]["centroid"])
        books = np.zeros((m, k, sub_dim))
        for r in rows:
            books[r["subspace"], r["code"]] = r["centroid"]
        return cls(books, m * sub_dim)
