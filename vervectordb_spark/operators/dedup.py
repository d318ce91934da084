"""Deduplication operators for the training-data pipeline surface.

Not present in the reference (SURVEY.md §2.6 — grep-verified: no dedup code
in vervectordb/__init__.py); required by the north-star extensions
(SURVEY.md §2.8). Five strategies, cheapest to most semantic:

  exact          md5(text) group-by                     — one shuffle on a
                                                          64-bit key
  minhash + LSH  shingle → k minhashes → b bands →       — near-dup without
                 bucket join → Jaccard verify              O(N²)
  simhash        per-token hash bit-votes → 32-bit       — one fingerprint
                 fingerprint → hamming pairs               per doc
  n-gram Jaccard exact set overlap on shingles           — the verifier /
                                                          small-N oracle
  embedding      cosine self-join ≥ threshold            — semantic dups

Everything is built on the portable md5 hash family (functions/hashing.py)
so each operator has a bit-exact DuckDB oracle twin.

Scale notes (100 TB):
  * exact: shuffle keys are 60-bit ints, not document bodies — project
    (id, md5) first, join bodies back only for the survivors.
  * minhash: the only shuffle is on (band, band_key); the pair join happens
    per-bucket (bucket×bucket, not N×N). Skewed buckets (boilerplate docs)
    are the known hazard — buckets above `max_bucket_size` degrade to
    hub-star candidates (O(bucket) rows, cluster recovered via connected
    components), with `band_bucket_stats` reporting what was capped.
  * simhash: fingerprints are 32-bit ints; candidate pairing joins on
    rotated fingerprint bands, never all-pairs — same bucket cap.
  * embedding: delegate to gemm_topk / IVF pruning — never a raw N² join.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from vervectordb_spark.functions.partitioning import widen_narrow_scan

from vervectordb_spark.functions.words import WS_REGEX

from vervectordb_spark.functions.hashing import md5_long, seeded_md5_long

# ---------------------------------------------------------------------------
# shingling
# ---------------------------------------------------------------------------


def tokens_expr(text_col: Column | str) -> Column:
    """Lower-cased whitespace tokens (empty strings dropped)."""
    c = F.col(text_col) if isinstance(text_col, str) else text_col
    return F.filter(F.split(F.lower(c), WS_REGEX), lambda t: t != "")


def shingles_expr(text_col: Column | str, n: int = 3) -> Column:
    """Word n-gram shingles as an array<string>: ["a b c", "b c d", ...],
    first-occurrence distinct (set semantics for Jaccard/MinHash).

    Defined as array_distinct over `positional_shingles_expr`, which is
    the single owner of the n-gram join and the short-doc rule (a doc
    with fewer than n tokens yields its whole token string as the single
    shingle, so short docs still participate)."""
    return F.array_distinct(positional_shingles_expr(text_col, n))


# ---------------------------------------------------------------------------
# exact dedup
# ---------------------------------------------------------------------------


def exact_dup_groups(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Groups of byte-identical documents: (content_hash, n_dups, doc_ids).

    Shuffle carries only (id, 60-bit hash); document bodies never move.
    Returns one row per duplicated content hash (n_dups >= 2), doc_ids
    sorted for determinism.
    """
    hashed = df.select(
        F.col(id_col), md5_long(F.col(text_col)).alias("content_hash")
    )
    return (
        hashed.groupBy("content_hash")
        .agg(
            F.count("*").alias("n_dups"),
            F.array_sort(F.collect_list(id_col)).alias("doc_ids"),
        )
        .filter(F.col("n_dups") >= 2)
    )


def drop_exact_dups(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Keep the lowest-id representative of each content group (the
    pipeline-facing `dropDuplicates` with deterministic survivor choice)."""
    w_cols = [md5_long(F.col(text_col)).alias("_h"), F.col(id_col).alias("_i")]
    from pyspark.sql import Window

    win = Window.partitionBy("_h").orderBy("_i")
    return (
        df.withColumns({"_h": w_cols[0], "_i": F.col(id_col)})
        .withColumn("_rk", F.row_number().over(win))
        .filter(F.col("_rk") == 1)
        .drop("_h", "_i", "_rk")
    )


# ---------------------------------------------------------------------------
# MinHash + LSH banding
# ---------------------------------------------------------------------------


def _affine_min_fn(i: int):
    # NB: a `lambda h, i=i:` default-arg capture would NOT work here —
    # PySpark binds a lambda variable for every parameter, defaults included,
    # turning the captured int into a Column. Close over it instead.
    from vervectordb_spark.functions.hashing import affine_hash

    return lambda h: affine_hash(h, i)


def minhash_signature_expr(shingles: Column, num_hashes: int) -> Column:
    """k-wide MinHash signature: element i = min over shingles of the i-th
    affine transform of ONE md5 base hash per shingle. One array
    expression, JVM-side, no UDF; md5 cost is paid once regardless of
    signature width (the seeded-md5 family re-hashed every shingle k
    times — 16× more md5 for a 16-wide signature)."""
    base = F.transform(shingles, md5_long)
    return F.array(
        *[
            F.array_min(F.transform(base, _affine_min_fn(i)))
            for i in range(num_hashes)
        ]
    )


def _py_shingles(toks: list[str], n: int) -> list[str]:
    """Python twin of shingles_expr over an ALREADY-TOKENIZED list:
    n-gram joins over sequence(1, greatest(len-(n-1), 1)), first-occurrence
    distinct (== array_distinct). Tokenization itself stays JVM-side
    (tokens_expr) so lower()/split() semantics have exactly one owner."""
    m = max(len(toks) - (n - 1), 1)
    seen: set[str] = set()
    out: list[str] = []
    for i in range(m):
        s = " ".join(toks[i : i + n])
        if s not in seen:
            seen.add(s)
            out.append(s)
    return out


def shingle_table(df: DataFrame, text_col: str = "text",
                  id_col: str = "doc_id", shingle_n: int = 3,
                  kernel: str = "arrow") -> DataFrame:
    """(id, shingles) — the shared shingle-set table (Jaccard verifiers,
    MinHash sketches). kernel="arrow" shingles in Python over JVM tokens
    (the expr path's per-element slice/concat lambdas are interpreted —
    see minhash_signatures); values identical either way."""
    # NOT widened: paired-run measured the added exchange costing more
    # than the parallel shingling buys on this light kernel (+0.25 s on
    # decontam_ngrams; the heavy sketchers widen at their own roots)
    if kernel != "arrow":
        return df.select(
            F.col(id_col), shingles_expr(text_col, shingle_n).alias("shingles")
        )
    from pyspark.sql.types import ArrayType, StringType, StructField, StructType

    toked = df.select(F.col(id_col), tokens_expr(text_col).alias("_toks"))
    out_schema = StructType(
        [f for f in toked.schema.fields if f.name != "_toks"]
        + [StructField("shingles", ArrayType(StringType(), False), False)]
    )

    def kern(batches):
        import pandas as pd

        for pdf in batches:
            lists = [
                _py_shingles(list(t) if t is not None else [], shingle_n)
                for t in pdf["_toks"]
            ]
            pdf = pdf.drop(columns=["_toks"])
            pdf["shingles"] = lists
            yield pdf

    return toked.mapInPandas(kern, out_schema)


def _minhash_arrow_kernel(toked: DataFrame, num_hashes: int,
                          shingle_n: int) -> DataFrame:
    """Arrow-batched MinHash kernel over a (…, _toks) DataFrame: Python
    shingling (cheap), one flattened md5 pass, and a vectorized
    (k × n_shingles) affine-min per batch. Same shingle strings and
    md5-60/affine/min INTEGER arithmetic as the expression path — output
    is bit-identical (pytest-pinned), nothing here is float. Map-only:
    no shuffle, rows pass through untouched."""
    import numpy as np
    from pyspark.sql.types import ArrayType, LongType, StringType, StructField, StructType

    from vervectordb_spark.functions.hashing import AFFINE_MOD, affine_params

    params = [affine_params(i) for i in range(num_hashes)]
    out_schema = StructType(
        [f for f in toked.schema.fields if f.name != "_toks"]
        + [StructField("shingles", ArrayType(StringType(), False), False),
           StructField("signature", ArrayType(LongType(), True), True)]
    )

    def kern(batches):
        import hashlib

        A = np.array([p[0] for p in params], dtype=np.int64)[:, None]
        B = np.array([p[1] for p in params], dtype=np.int64)[:, None]
        for pdf in batches:
            if len(pdf) == 0:
                pdf = pdf.drop(columns=["_toks"])
                pdf["shingles"] = []
                pdf["signature"] = []
                yield pdf
                continue
            # null text -> null token array; the expr path shingles it to
            # [''] (concat_ws over a null slice) — reproduce exactly
            lists = [
                _py_shingles(list(t) if t is not None else [], shingle_n)
                for t in pdf["_toks"]
            ]
            lens = np.array([len(s) for s in lists], dtype=np.int64)
            sigs: list = [None] * len(lists)
            # chunk at DOC boundaries: the (k × shingles) affine matrix and
            # its modulo temps stay ~8 MB instead of ~100+ MB per batch
            # (kernel page-compaction churn — see topk.gemm_topk). Integer
            # affine/min arithmetic is unchanged by chunking.
            FLAT = 1 << 16
            start = 0
            while start < len(lists):
                end, tot = start, 0
                while end < len(lists) and (tot == 0 or tot + lens[end] <= FLAT):
                    tot += lens[end]
                    end += 1
                flat = [s for sl in lists[start:end] for s in sl]
                if flat:
                    hs = np.array(
                        [int(hashlib.md5(s.encode()).hexdigest()[:15], 16)
                         for s in flat],
                        dtype=np.int64,
                    ) % AFFINE_MOD
                    vals = (A * hs[None, :] + B) % AFFINE_MOD  # (k, ≤FLAT)
                else:
                    vals = np.empty((num_hashes, 0), dtype=np.int64)
                local = np.concatenate([[0], np.cumsum(lens[start:end])[:-1]])
                for i in range(start, end):
                    n = lens[i]
                    if n == 0:  # parity with array_min(empty) -> null
                        sigs[i] = [None] * num_hashes
                    else:
                        s = local[i - start]
                        sigs[i] = vals[:, s : s + n].min(axis=1).tolist()
                start = end
            pdf = pdf.drop(columns=["_toks"])
            pdf["shingles"] = lists
            pdf["signature"] = sigs
            yield pdf

    return toked.mapInPandas(kern, out_schema)


def minhash_signatures(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 16,
    shingle_n: int = 3,
    kernel: str = "arrow",
) -> DataFrame:
    """(id, shingles, signature) — the MinHash sketch table.

    kernel="arrow" (default): mapInPandas — Python shingling, one md5 per
    shingle, vectorized affine-min. kernel="expr": pure column
    expressions (transform/array_min). Both produce IDENTICAL
    (shingles, signature) values (same shingle strings, exact integer
    arithmetic; pytest-pinned). The expr path's lambda higher-order
    functions run on Spark's interpreted evaluator — per-element
    slicing/concat for shingles plus k re-evaluations of the md5 base
    hash make it ~4× slower at sf0.1. Tokenization stays JVM-side in
    BOTH kernels (tokens_expr is the single owner of lower()/split()
    semantics). The expr path remains as the no-Python-worker fallback
    and the living spec."""
    if kernel == "arrow":
        toked = widen_narrow_scan(df).select(F.col(id_col), tokens_expr(text_col).alias("_toks"))
        return _minhash_arrow_kernel(toked, num_hashes, shingle_n)
    sh = df.select(F.col(id_col), shingles_expr(text_col, shingle_n).alias("shingles"))
    hashed = sh.withColumn("_h", F.transform(F.col("shingles"), md5_long))
    sig = F.array(
        *[
            F.array_min(F.transform(F.col("_h"), _affine_min_fn(i)))
            for i in range(num_hashes)
        ]
    )
    return hashed.withColumn("signature", sig).drop("_h")


def jaccard_expr(a: Column, b: Column) -> Column:
    """Exact Jaccard over two string arrays (distinct semantics)."""
    inter = F.size(F.array_intersect(a, b)).cast("double")
    union = F.size(F.array_union(a, b)).cast("double")
    return F.when(union == 0.0, F.lit(0.0)).otherwise(inter / union)


# ---------------------------------------------------------------------------
# band-bucket capping (shared by MinHash and SimHash candidate generation)
# ---------------------------------------------------------------------------

#: Buckets larger than this degrade from all-pairs to hub-star candidates.
#: At web scale a boilerplate-heavy bucket (cookie banners, license headers)
#: can hold 10^5+ docs — all-pairs there is quadratic in the bucket. Tune
#: down (100–500) for boilerplate-heavy corpora.
DEFAULT_MAX_BUCKET_SIZE = 1_000


def _capped_band_candidates(
    band_entries: DataFrame,
    id_col: str,
    max_bucket_size: int,
    payload_col: str | None = None,
    pair_pred=None,
) -> DataFrame:
    """Candidate pairs from (id, band, band_key[, payload]) band entries,
    with per-bucket size capping.

    Buckets with <= max_bucket_size members produce ALL intra-bucket pairs
    (the exact LSH contract). Oversized buckets degrade to a hub-star: every
    member pairs with the bucket's min-id member only — O(bucket) candidate
    rows instead of O(bucket²), and downstream connected components
    (near_dup_components) still recovers the full duplicate cluster through
    the hub. Pair loss is bounded to cross-member links whose hub link fails
    verification — the documented price of not going quadratic.

    One shuffle on (band, band_key) computes bucket size + hub via window
    functions; the dense self-join reuses that partitioning. Returns
    (src_id, dst_id[, src_p, dst_p]) with src_id < dst_id, deduped.

    `pair_pred(df) -> Column`: optional verification predicate evaluated
    on the RAW pair stream (before the pair-dedup shuffle). When the
    payload rides the band entries (SimHash), verifying here means the
    dedup shuffle moves only SURVIVING pairs instead of every intra-bucket
    candidate — filter commutes with distinct, so results are identical
    (measured: 2.4M candidate rows → the verified few at sf0.1).
    """
    from pyspark.sql import Window

    w = Window.partitionBy("band", "band_key")
    sized = band_entries.withColumn("_bsize", F.count("*").over(w)).withColumn(
        "_hub", F.min(F.col(id_col)).over(w)
    )
    if payload_col is not None:
        sized = sized.withColumn(
            "_hub_p", F.min_by(F.col(payload_col), F.col(id_col)).over(w)
        )
    small = sized.filter(F.col("_bsize") <= max_bucket_size)
    lcols = [F.col("band"), F.col("band_key"), F.col(id_col).alias("src_id")]
    rcols = [F.col("band"), F.col("band_key"), F.col(id_col).alias("dst_id")]
    if payload_col is not None:
        lcols.append(F.col(payload_col).alias("src_p"))
        rcols.append(F.col(payload_col).alias("dst_p"))
    dense = (
        small.select(*lcols)
        .join(small.select(*rcols), on=["band", "band_key"])
        .filter(F.col("src_id") < F.col("dst_id"))
        .drop("band", "band_key")
    )
    big = sized.filter(
        (F.col("_bsize") > max_bucket_size) & (F.col(id_col) != F.col("_hub"))
    )
    scols = [F.col("_hub").alias("src_id"), F.col(id_col).alias("dst_id")]
    if payload_col is not None:
        scols += [F.col("_hub_p").alias("src_p"), F.col(payload_col).alias("dst_p")]
    star = big.select(*scols)  # hub == min(id) ⇒ src_id < dst_id holds
    if pair_pred is not None:
        dense = dense.filter(pair_pred(dense))
        star = star.filter(pair_pred(star))
    return dense.unionByName(star).dropDuplicates(["src_id", "dst_id"])


def _drop_oversized_buckets(df, partition_cols: list, cap: int):
    """Drop every row belonging to a bucket with more than `cap` members
    (one window pass). This is the STOP-BUCKET form of capping — used
    where pair SCORES must not be diluted by fake links (winnow overlap
    counts, incremental dedup evidence) — as opposed to
    `_capped_band_candidates`' hub-star degradation, which preserves
    connectivity for components at the price of unscored hub links."""
    from pyspark.sql import Window

    w = Window.partitionBy(*partition_cols)
    return (
        df.withColumn("_bsize", F.count("*").over(w))
        .filter(F.col("_bsize") <= cap)
        .drop("_bsize")
    )


def band_bucket_stats(
    band_entries: DataFrame,
    max_bucket_size: int = DEFAULT_MAX_BUCKET_SIZE,
) -> DataFrame:
    """Observability for the cap: per-band bucket-size distribution and how
    many buckets/rows exceeded max_bucket_size (and thus degraded to star
    candidates). Feed `minhash_band_entries`/`simhash_band_entries` output.
    Returns (band, n_buckets, max_bucket, n_capped_buckets, rows_in_capped).
    """
    sizes = band_entries.groupBy("band", "band_key").agg(
        F.count("*").alias("bucket_size")
    )
    return sizes.groupBy("band").agg(
        F.count("*").alias("n_buckets"),
        F.max("bucket_size").alias("max_bucket"),
        F.sum(
            F.when(F.col("bucket_size") > max_bucket_size, 1).otherwise(0)
        ).alias("n_capped_buckets"),
        F.sum(
            F.when(
                F.col("bucket_size") > max_bucket_size, F.col("bucket_size")
            ).otherwise(0)
        ).alias("rows_in_capped"),
    )


def minhash_band_entries(
    sk: DataFrame,
    id_col: str = "doc_id",
    num_hashes: int = 16,
    bands: int = 4,
) -> DataFrame:
    """(id, band, band_key) rows from a MinHash sketch table — the LSH
    join key surface, also consumable by `band_bucket_stats`."""
    rows_per_band = num_hashes // bands
    return sk.select(
        F.col(id_col),
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band"),
                        F.concat_ws(
                            "_",
                            *[
                                F.col("signature")[b * rows_per_band + r].cast("string")
                                for r in range(rows_per_band)
                            ],
                        ).alias("band_key"),
                    )
                    for b in range(bands)
                ]
            )
        ).alias("bk"),
    ).select(id_col, "bk.band", "bk.band_key")


def minhash_near_dup_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 16,
    bands: int = 4,
    shingle_n: int = 3,
    threshold: float = 0.5,
    max_bucket_size: int = DEFAULT_MAX_BUCKET_SIZE,
) -> DataFrame:
    """Near-duplicate pairs via LSH banding, Jaccard-verified.

    num_hashes/bands rows per band; a pair is a candidate iff ANY band of
    the signature matches exactly. Candidates are verified with exact
    Jaccard over the shingle sets (so the output has no false positives —
    LSH only bounds recall). Returns (src_id, dst_id, jaccard) with
    src_id < dst_id.

    Plan shape: sketch (map-side) → explode bands (map-side) →
    size-capped self-join on (band, band_key) → distinct pair →
    verify. The join key is (band_id, band_hash-concat): only docs sharing
    a band collide, so join fan-out is bucket-sized, never N² — and buckets
    above `max_bucket_size` (boilerplate-heavy corpora) degrade to hub-star
    candidates instead of going quadratic (see _capped_band_candidates;
    `band_bucket_stats` reports what was capped).
    """
    assert num_hashes % bands == 0, "bands must divide num_hashes"

    sk = minhash_signatures(df, text_col, id_col, num_hashes, shingle_n)

    # Band rows carry (id, band, band_key) ONLY — never the shingle arrays.
    # The self-join + pair-dedup shuffle moves 3 scalars per row; shingle
    # sets rejoin by id AFTER the candidate set is deduped (measured 30×
    # on sf0.1: shuffling arrays through the band join was the whole cost).
    band_entries = minhash_band_entries(sk, id_col, num_hashes, bands)
    cand = _capped_band_candidates(band_entries, id_col, max_bucket_size)
    sh = sk.select(F.col(id_col), F.col("shingles"))
    verified = (
        cand.join(sh.select(F.col(id_col).alias("src_id"),
                            F.col("shingles").alias("src_sh")), on="src_id")
        .join(sh.select(F.col(id_col).alias("dst_id"),
                        F.col("shingles").alias("dst_sh")), on="dst_id")
    )
    return (
        verified.select(
            "src_id",
            "dst_id",
            jaccard_expr(F.col("src_sh"), F.col("dst_sh")).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= threshold)
    )


# ---------------------------------------------------------------------------
# n-gram Jaccard (exact all-pairs verifier; small-N / per-bucket use)
# ---------------------------------------------------------------------------


def ngram_jaccard_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    shingle_n: int = 3,
    threshold: float = 0.5,
) -> DataFrame:
    """Exact pairwise n-gram Jaccard >= threshold. O(N²) by construction —
    the ground-truth/verifier path; at scale this runs per-LSH-bucket, never
    globally (see minhash_near_dup_pairs)."""
    sh = shingle_table(df, text_col, id_col, shingle_n).select(
        F.col(id_col), F.col("shingles").alias("sh")
    )
    left = sh.select(F.col(id_col).alias("src_id"), F.col("sh").alias("src_sh"))
    right = sh.select(F.col(id_col).alias("dst_id"), F.col("sh").alias("dst_sh"))
    pairs = left.join(F.broadcast(right), F.col("src_id") < F.col("dst_id"))
    return pairs.select(
        "src_id",
        "dst_id",
        jaccard_expr(F.col("src_sh"), F.col("dst_sh")).alias("jaccard"),
    ).filter(F.col("jaccard") >= threshold)


# ---------------------------------------------------------------------------
# SimHash
# ---------------------------------------------------------------------------

SIMHASH_BITS = 32


def simhash_expr(text_col: Column | str, bits: int = SIMHASH_BITS) -> Column:
    """SimHash fingerprint: per token, hash to `bits` bits; each bit votes
    +1/−1; fingerprint bit = 1 iff the vote sum is positive.

    Pure column expressions (token hash once, then `bits` masked vote
    sums) — no UDF, portable to the DuckDB oracle bit-for-bit."""
    toks = tokens_expr(text_col)
    hashes = F.transform(toks, md5_long)

    def _vote(b: int):
        # closure, not default-arg capture — see _seeded_hash_fn note
        def fn(acc, h):
            bit = F.shiftright(h, b).bitwiseAND(F.lit(1))
            return acc + F.when(bit == 1, 1).otherwise(-1)

        return fn

    bit_cols = []
    for b in range(bits):
        votes = F.aggregate(hashes, F.lit(0).cast("long"), _vote(b))
        bit_cols.append(
            F.when(votes > 0, F.lit(2**b).cast("long")).otherwise(F.lit(0).cast("long"))
        )
    out = bit_cols[0]
    for c in bit_cols[1:]:
        out = out + c
    return out


def hamming_expr(a: Column, b: Column) -> Column:
    """Hamming distance between two integer fingerprints."""
    return F.bit_count(a.bitwiseXOR(b))


def _simhash_from_hashes(hashes: Column, bits: int = SIMHASH_BITS) -> Column:
    """Vote/bit expression over a PRE-STAGED base-hash array column."""

    def _vote(b: int):
        def fn(acc, h):
            bit = F.shiftright(h, b).bitwiseAND(F.lit(1))
            return acc + F.when(bit == 1, 1).otherwise(-1)

        return fn

    out = F.lit(0).cast("long")
    for b in range(bits):
        votes = F.aggregate(hashes, F.lit(0).cast("long"), _vote(b))
        out = out + F.when(votes > 0, F.lit(2**b).cast("long")).otherwise(
            F.lit(0).cast("long")
        )
    return out


def _simhash_arrow_kernel(toked: DataFrame, bits: int) -> DataFrame:
    """Arrow-batched SimHash over a (…, _toks) DataFrame: one md5 per
    token, then all `bits` vote sums as one vectorized (bits × n_tokens)
    pass with per-doc segment sums. Same md5-60 + ±1-vote integer
    arithmetic as the expression path — fingerprints are bit-identical
    (pytest-pinned). Map-only, no shuffle."""
    import numpy as np
    from pyspark.sql.types import LongType, StructField, StructType

    out_schema = StructType(
        [f for f in toked.schema.fields if f.name != "_toks"]
        + [StructField("simhash", LongType(), False)]
    )
    shifts = np.arange(bits, dtype=np.int64)[:, None]
    weights = (1 << np.arange(bits, dtype=np.int64))

    def kern(batches):
        import hashlib

        for pdf in batches:
            if len(pdf) == 0:
                pdf = pdf.drop(columns=["_toks"])
                pdf["simhash"] = np.empty(0, dtype=np.int64)
                yield pdf
                continue
            # null text -> null token array == no tokens (fold over an
            # empty array -> all-zero votes -> fingerprint 0, like expr)
            lists = [list(t) if t is not None else [] for t in pdf["_toks"]]
            lens = np.array([len(t) for t in lists], dtype=np.int64)
            fp = np.empty(len(lists), dtype=np.int64)
            # chunk at DOC boundaries so the (bits × tokens) vote matrix and
            # its cumsum stay ~8 MB — unchunked, an sf10 batch allocated
            # 2 × ~400 MB temps per batch, hitting the kernel
            # page-compaction churn documented in topk.gemm_topk (measured
            # there: 12× on the identical arithmetic). Integer votes chunk
            # exactly: per-doc sums are unchanged.
            FLAT = 1 << 15
            start = 0
            while start < len(lists):
                end, tot = start, 0
                while end < len(lists) and (tot == 0 or tot + lens[end] <= FLAT):
                    tot += lens[end]
                    end += 1
                flat = [t for tl in lists[start:end] for t in tl]
                if flat:
                    hs = np.array(
                        [int(hashlib.md5(t.encode()).hexdigest()[:15], 16)
                         for t in flat],
                        dtype=np.int64,
                    )
                    votes = (((hs[None, :] >> shifts) & 1) * 2 - 1)
                    bounds = np.concatenate([[0], np.cumsum(lens[start:end])])
                    # segment-sum per doc; docs with 0 tokens sum to 0 (==
                    # fold over an empty array)
                    csum = np.concatenate(
                        [np.zeros((bits, 1), dtype=np.int64),
                         votes.cumsum(axis=1)], axis=1
                    )
                    sums = csum[:, bounds[1:]] - csum[:, bounds[:-1]]
                else:
                    sums = np.zeros((bits, end - start), dtype=np.int64)
                fp[start:end] = ((sums > 0).astype(np.int64).T * weights).sum(axis=1)
                start = end
            pdf = pdf.drop(columns=["_toks"])
            pdf["simhash"] = fp
            yield pdf

    return toked.mapInPandas(kern, out_schema)


def simhash_fingerprints(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id",
    kernel: str = "arrow",
) -> DataFrame:
    """(id, simhash) fingerprint table.

    kernel="arrow" (default): mapInPandas vectorized votes — one md5 per
    token, all 32 bit-sums in one pass. kernel="expr": staged
    tokenize→hash→votes column expressions (the base-hash array is one
    projected column consumed by all 32 bit-votes; a single nested
    expression re-tokenizes per bit — measured 30× slower at sf0.1). The
    32 interpreted fold evaluations still make the expr path several
    times slower than Arrow; fingerprints are bit-identical either way
    (pytest-pinned), tokenization stays JVM-side in both."""
    if kernel == "arrow":
        toked = widen_narrow_scan(df).select(F.col(id_col), tokens_expr(text_col).alias("_toks"))
        return _simhash_arrow_kernel(toked, SIMHASH_BITS)
    staged = df.select(
        F.col(id_col),
        F.transform(tokens_expr(text_col), md5_long).alias("_hs"),
    )
    return staged.select(
        F.col(id_col), _simhash_from_hashes(F.col("_hs")).alias("simhash")
    )


def simhash_band_entries(
    fp: DataFrame, id_col: str = "doc_id", bands: int = 4
) -> DataFrame:
    """(id, simhash, band, band_key) rows from a fingerprint table."""
    bits_per_band = SIMHASH_BITS // bands
    mask = (1 << bits_per_band) - 1
    return fp.select(
        id_col,
        "simhash",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band"),
                        F.shiftright(F.col("simhash"), b * bits_per_band)
                        .bitwiseAND(F.lit(mask))
                        .alias("band_key"),
                    )
                    for b in range(bands)
                ]
            )
        ).alias("bk"),
    ).select(id_col, "simhash", "bk.band", "bk.band_key")


def simhash_near_dup_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_hamming: int = 3,
    bands: int = 4,
    max_bucket_size: int = DEFAULT_MAX_BUCKET_SIZE,
) -> DataFrame:
    """Near-dup pairs with hamming(simhash) <= max_hamming.

    Candidate generation: split the fingerprint into `bands` bit-bands; by
    pigeonhole, any pair within max_hamming <= bands-1 differing bits shares
    at least one exact band. Join per band key → verify hamming. Never
    all-pairs — and band buckets above `max_bucket_size` degrade to
    hub-star candidates (same cap as MinHash; a bucket full of identical
    boilerplate would otherwise make the self-join quadratic in it).
    Returns (src_id, dst_id, hamming), src_id < dst_id.
    """
    fp = simhash_fingerprints(df, text_col, id_col)
    banded = simhash_band_entries(fp, id_col, bands)
    # hamming verification runs on the raw pair stream, BEFORE the
    # pair-dedup shuffle — the simhash payload is already in the band
    # entries, so only verified pairs shuffle (filter ∘ distinct ==
    # distinct ∘ filter)
    cand = _capped_band_candidates(
        banded, id_col, max_bucket_size, payload_col="simhash",
        pair_pred=lambda d: hamming_expr(
            F.col("src_p"), F.col("dst_p")) <= max_hamming,
    )
    return cand.select(
        "src_id",
        "dst_id",
        hamming_expr(F.col("src_p"), F.col("dst_p")).alias("hamming"),
    )


# ---------------------------------------------------------------------------
# embedding-cosine near-dup
# ---------------------------------------------------------------------------


def embedding_near_dup_pairs(
    df: DataFrame,
    threshold: float = 0.95,
    emb_col: str = "embedding",
    id_col: str = "vec_id",
    kernel: str = "gemm",
    top_k: int = 10,
    exact: bool = False,
    n_probes: int = 2,
    target_occupancy: int = 256,
    seed: int = 42,
) -> DataFrame:
    """Semantic near-dups: pairs with cosine >= threshold. Returns
    (src_id, dst_id, sim) with src_id < dst_id.

    RECALL CONTRACT — the default is APPROXIMATE. exact=False prunes
    candidates to pairs sharing at least one of each row's n_probes
    nearest centroids: a qualifying pair whose two vectors share none of
    their probed centroids is silently missed. Recall is pinned by the
    fixture tests (and the registered query keeps an exact fold below
    2048 rows, where degenerate k-means geometries can split a boundary
    pair), NOT guaranteed at untested scales/geometries. For
    correctness-critical uses — contamination checks, legal/compliance
    dedup — pass exact=True.

    DEFAULT (exact=False) is the scale path: multi-probe SemDeDup
    candidates — k-means centroids sized for constant cluster occupancy
    (k ≈ N / target_occupancy), every row assigned to its n_probes
    nearest centroids, pairs scored only within a shared probe cluster.
    Candidate volume is Σ|cluster_probed|² ≈ N · occupancy · p² — linear
    in N, never the N² GEMM (which took 248 s at a 20k-row fixture and
    is a scale-killer; round-9 verdict). Near-dup pairs at thresholds
    like 0.95 are near-identical vectors, which land in the same nearest
    centroids — the multi-probe union covers centroid boundary splits.
    When the centroid set is SMALL (k within 4× n_probes — coarse
    clusters, boundary-split risk concentrated), probes widen to cover
    at least half the centroids, so the pruned path degrades toward
    exhaustive instead of silently losing recall.

    exact=True is the exhaustive baseline: kNN self-join (top_k per row,
    kernel= fold|gemm) — quadratic, for fixture-scale ground truth only.
    """
    if exact:
        from vervectordb_spark.operators.search import knn_self_join

        knn = knn_self_join(df, top_k=top_k, emb_col=emb_col,
                            id_col=id_col, kernel=kernel)
        return (
            knn.filter((F.col("sim") >= threshold)
                       & (F.col("src_id") < F.col("dst_id")))
            .select("src_id", "dst_id", "sim")
            .dropDuplicates(["src_id", "dst_id"])
        )
    from vervectordb_spark.operators.ivf import IVFIndex

    n = df.count()
    k = max(4, min(4096, n // max(1, target_occupancy)))
    if k <= 4 * n_probes:
        # small-k geometry: widen probes to >= half the centroid set —
        # the boundary-pair miss probability collapses while candidate
        # volume stays bounded (k is tiny here by construction)
        n_probes = min(k, max(n_probes, (k + 1) // 2))
    idx = IVFIndex.build(df.select(id_col, emb_col), n_clusters=k,
                         seed=seed, id_col=id_col, emb_col=emb_col)
    return multiprobe_semdedup_pairs(
        df, idx.centroids_df(), n_probes=n_probes, threshold=threshold,
        emb_col=emb_col, id_col=id_col,
    ).select("src_id", "dst_id", "sim")


# ---------------------------------------------------------------------------
# near-dup clustering: connected components + survivor selection
# ---------------------------------------------------------------------------


def connected_components(
    pairs: DataFrame,
    src_col: str = "src_id",
    dst_col: str = "dst_id",
    max_iter: int = 30,
) -> DataFrame:
    """Connected components over a near-dup pair set via iterative
    min-label propagation: component id = min doc id reachable through the
    pair graph. Returns (node, component) for every node in `pairs`.

    Each iteration is one join + groupBy (label = min(own, neighbors'));
    iterations needed = graph diameter, which for near-dup clusters is tiny
    (clusters are dense — with hub-star capped buckets the hub keeps the
    diameter ≤ 2 per bucket). Labels localCheckpoint per iteration so the
    plan doesn't grow unboundedly; convergence is detected with a bounded
    `limit(1)` probe, not a full count.
    """
    # materialize the edge set ONCE — every iteration joins against it, and
    # without this the full upstream pair pipeline (LSH banding + verify)
    # re-executes per iteration
    from vervectordb_spark.functions.checkpoint import (
        eager_checkpoint, release_blocks)

    edges, edge_ids = eager_checkpoint(
        pairs.select(F.col(src_col).alias("a"), F.col(dst_col).alias("b"))
        .unionByName(
            pairs.select(F.col(dst_col).alias("a"), F.col(src_col).alias("b"))
        )
        .distinct()
    )
    labels, label_ids = eager_checkpoint(
        edges.select(F.col("a").alias("node")).distinct().withColumn(
            "component", F.col("node")))
    for _ in range(max_iter):
        neigh = (
            edges.join(labels, edges.b == labels.node)
            .groupBy(F.col("a").alias("node"))
            .agg(F.min("component").alias("_n_min"))
        )
        # eager checkpoint + release of the PREVIOUS round's label blocks
        # — iterate-and-replace without one leaked blocks-set per round
        updated, label_ids = eager_checkpoint(
            labels.join(neigh, on="node", how="left")
            .select(
                "node",
                F.least(
                    F.col("component"), F.coalesce("_n_min", "component")
                ).alias("component"),
                (F.coalesce("_n_min", "component") < F.col("component")).alias(
                    "_changed"
                ),
            ),
            release=label_ids,
        )
        changed = updated.filter(F.col("_changed")).limit(1).count()
        labels = updated.drop("_changed")
        if not changed:
            break
    # the final labels checkpoint is already materialized: the edge blocks
    # are no longer reachable from it and can be freed now. The final
    # label blocks travel with the result (release_checkpoint when done).
    release_blocks(pairs.sparkSession.sparkContext, edge_ids)
    labels._ckpt_ids = label_ids
    return labels


def drop_near_dups(
    df: DataFrame,
    pairs: DataFrame,
    id_col: str = "doc_id",
    src_col: str = "src_id",
    dst_col: str = "dst_id",
) -> DataFrame:
    """Keep ONE document per near-dup cluster (the min-id representative) —
    the pipeline-facing companion to drop_exact_dups for the fuzzy
    strategies: feed it the verified pair set from minhash/simhash/
    embedding near-dup detection. Rows not in any pair survive untouched."""
    comp = connected_components(pairs, src_col, dst_col)
    losers = comp.filter(F.col("node") != F.col("component")).select(
        F.col("node").alias(id_col)
    )
    return df.join(losers, on=id_col, how="left_anti")


def semdedup_pairs(
    df: DataFrame,
    centroids_df: DataFrame,
    threshold: float | None = None,
    emb_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Cluster-bounded embedding near-dup — the SemDeDup shape (Abbas et
    al. 2023, "SemDeDup: Data-efficient learning at web-scale through
    semantic deduplication"): assign every row to its nearest centroid,
    then compare pairs ONLY within a cluster.

    Candidate volume drops from N² to Σ|cluster|² ≈ N²/k for balanced
    clusters — with k sized ~N/target_occupancy this is linear in N, the
    same occupancy argument as the LSH band caps. The centroid table rides
    the IVF build (operators/ivf.IVFIndex) or any small sample-KMeans.

    Plan shape: broadcast-centroid assignment (corpus never shuffles for
    it) → ONE shuffle keying both self-join sides on cluster_id → pairs
    scored with the bit-exact cosine fold. Returns (cluster_id, src_id,
    dst_id, sim), src_id < dst_id, optionally thresholded.
    """
    from vervectordb_spark.operators.ivf import assign_by_centroids

    assigned = assign_by_centroids(df, centroids_df, id_col=id_col,
                                   emb_col=emb_col)
    return within_cluster_pairs(assigned, threshold=threshold,
                                emb_col=emb_col, id_col=id_col)


def assign_multiprobe(
    df: DataFrame,
    centroids_df: DataFrame,
    n_probes: int = 2,
    id_col: str = "vec_id",
    emb_col: str = "embedding",
) -> DataFrame:
    """Multi-probe centroid assignment: one row per (id, probe) for the
    n_probes nearest centroids by cosine — the ivf.assign_by_centroids
    shape with rank <= p instead of rank == 1. Same broadcast-centroid
    plan: the corpus never shuffles for the assignment (the window
    partitions by row id over k candidate rows)."""
    from pyspark.sql import Window

    from vervectordb_spark.functions.similarity import cosine_expr

    scored = df.crossJoin(F.broadcast(centroids_df)).withColumn(
        "_csim", cosine_expr(emb_col, "centroid")
    )
    w = Window.partitionBy(id_col).orderBy(
        F.desc("_csim"), F.asc("cluster_id"))
    return (
        scored.withColumn("_rk", F.row_number().over(w))
        .filter(F.col("_rk") <= int(n_probes))
        .drop("_rk", "_csim", "centroid")
    )


def multiprobe_semdedup_pairs(
    df: DataFrame,
    centroids_df: DataFrame,
    n_probes: int = 2,
    threshold: float | None = None,
    emb_col: str = "embedding",
    id_col: str = "vec_id",
    kernel: str = "fold",
    per_cluster_top: int | None = None,
) -> DataFrame:
    """SemDeDup with multi-probe assignment: pairs are scored when the
    two rows share ANY of their n_probes nearest centroids — covering
    the centroid-boundary splits single-assignment SemDeDup misses,
    at p²× the (still linear) candidate volume. A pair that shares
    several probe clusters is emitted once (its cosine is a pure
    function of the two vectors, so dropDuplicates on the ids is
    exact). Returns (src_id, dst_id, sim), src_id < dst_id."""
    assigned = assign_multiprobe(df, centroids_df, n_probes=n_probes,
                                 id_col=id_col, emb_col=emb_col)
    return (
        within_cluster_pairs(assigned, threshold=threshold,
                             emb_col=emb_col, id_col=id_col, kernel=kernel,
                             per_cluster_top=per_cluster_top)
        .select("src_id", "dst_id", "sim")
        .dropDuplicates(["src_id", "dst_id"])
    )


def within_cluster_pairs(
    assigned: DataFrame,
    threshold: float | None = None,
    emb_col: str = "embedding",
    id_col: str = "vec_id",
    cluster_col: str = "cluster_id",
    kernel: str = "fold",
    per_cluster_top: int | None = None,
) -> DataFrame:
    """The pair stage of semdedup_pairs over an ALREADY-assigned table
    (e.g. a fitted IVFIndex.assigned layout — no second assignment pass).
    One shuffle keying the corpus on the cluster id.

    kernel="fold": self-join + bit-exact cosine fold — the oracle path.
    kernel="gemm": per-cluster dense BLAS scoring via applyInPandas —
    each cluster's normalized matrix multiplies itself once (row-chunked
    so memory stays ~chunk×|cluster| doubles), upper-triangle pairs only.
    ~100× the fold path on real cluster sizes; sims are BLAS float64
    (not bit-exact to the fold — use it with a threshold, as SemDeDup
    does, not for hash-gated output).

    SIZE K FOR OCCUPANCY, NOT AS A CONSTANT: pair volume is Σ|cluster|²,
    so a fixed k turns 10× rows into 100× pairs (the measured r5 trap —
    same law as the LSH bits="auto" fix). k ≈ N/target_occupancy keeps
    |cluster| and therefore per-row work constant at any scale.
    """
    if kernel == "gemm":
        return _within_cluster_pairs_gemm(
            assigned, threshold, emb_col, id_col, cluster_col,
            per_cluster_top=per_cluster_top,
        )
    if per_cluster_top is not None:
        raise ValueError("per_cluster_top requires kernel='gemm'")
    from vervectordb_spark.functions.similarity import (
        cosine_from_ss, dot_expr, to_double)

    # self-dots hoisted to one fold per ROW (cosine_from_ss docstring):
    # the inline cosine_expr costs five folds per PAIR, which at sf1 made
    # the semdedup check entry ~500 s engine-side
    dd = to_double(F.col(emb_col))
    a = assigned.select(
        cluster_col,
        F.col(id_col).alias("src_id"),
        dd.alias("_src_emb"),
        dot_expr(dd, dd).alias("_src_ss"),
    )
    b = assigned.select(
        cluster_col,
        F.col(id_col).alias("dst_id"),
        dd.alias("_dst_emb"),
        dot_expr(dd, dd).alias("_dst_ss"),
    )
    pairs = (
        a.join(b, on=cluster_col)
        .filter(F.col("src_id") < F.col("dst_id"))
        .withColumn("sim", cosine_from_ss(
            F.col("_src_emb"), F.col("_dst_emb"),
            F.col("_src_ss"), F.col("_dst_ss")))
        .select(cluster_col, "src_id", "dst_id", "sim")
    )
    if threshold is not None:
        pairs = pairs.filter(F.col("sim") >= float(threshold))
    return pairs


def _within_cluster_pairs_gemm(
    assigned: DataFrame,
    threshold: float | None,
    emb_col: str,
    id_col: str,
    cluster_col: str,
    chunk_rows: int = 4096,
    per_cluster_top: int | None = None,
) -> DataFrame:
    """Per-cluster blocked GEMM pair scorer (see within_cluster_pairs).

    per_cluster_top=m bounds EMISSION to each cluster's m most-similar
    pairs — the global top-t pairs (t <= m) are provably inside the
    union of per-cluster top-m sets (a pair's rank within its own
    cluster can't exceed its global rank), so k·m candidate rows replace
    the full Σ|cluster|² pair stream for global-top queries."""
    import pandas as pd  # noqa: F401  (applyInPandas dependency)
    from pyspark.sql.types import StructField, StructType
    from pyspark.sql.types import DoubleType

    id_field = assigned.schema[id_col].dataType
    cl_field = assigned.schema[cluster_col].dataType
    out_schema = StructType([
        StructField(cluster_col, cl_field),
        StructField("src_id", id_field),
        StructField("dst_id", id_field),
        StructField("sim", DoubleType()),
    ])
    thr = None if threshold is None else float(threshold)

    def kern(pdf):
        import numpy as np
        import pandas as pd

        m = len(pdf)
        if m < 2:
            return pd.DataFrame(
                {cluster_col: [], "src_id": [], "dst_id": [], "sim": []}
            )
        M = np.asarray([list(v) for v in pdf[emb_col]], dtype=np.float64)
        norms = np.linalg.norm(M, axis=1)
        safe = np.where(norms == 0.0, 1.0, norms)
        N = M / safe[:, None]  # zero-norm rows stay all-zero -> sim 0
        ids = pdf[id_col].to_numpy()
        cl = pdf[cluster_col].iloc[0]
        outs = []
        for lo in range(0, m, chunk_rows):
            hi = min(lo + chunk_rows, m)
            S = N[lo:hi] @ N.T  # (chunk, m)
            # upper triangle only: global col index > global row index
            r, c = np.nonzero(
                np.arange(m)[None, :] > np.arange(lo, hi)[:, None]
            )
            sims = S[r, c]
            if thr is not None:
                keep = sims >= thr
                r, c, sims = r[keep], c[keep], sims[keep]
            a, b = ids[r + lo], ids[c]
            # src_id < dst_id contract regardless of row order
            src = np.minimum(a, b)
            dst = np.maximum(a, b)
            outs.append(pd.DataFrame({
                cluster_col: np.repeat(cl, len(sims)),
                "src_id": src, "dst_id": dst, "sim": sims,
            }))
        res = pd.concat(outs, ignore_index=True)
        if per_cluster_top is not None and len(res) > per_cluster_top:
            # (sim desc, src_id, dst_id) — the SAME total order the
            # downstream global top-t uses. nlargest breaks ties by
            # incoming row order, which varies with partitioning: a pair
            # tied at the emission boundary would be kept on one run and
            # dropped on another.
            res = res.sort_values(
                ["sim", "src_id", "dst_id"],
                ascending=[False, True, True],
            ).head(per_cluster_top)
        return res

    return assigned.select(cluster_col, id_col, emb_col).groupBy(
        cluster_col
    ).applyInPandas(kern, out_schema)


# ---------------------------------------------------------------------------
# winnowing fingerprints (MOSS — Schleimer/Wilkerson/Aiken, SIGMOD 2003)
# ---------------------------------------------------------------------------

#: word k-grams hashed; windows of w consecutive hashes; min per window.
DEFAULT_WINNOW_K = 3
DEFAULT_WINNOW_W = 4


def positional_shingles_expr(text_col: Column | str, n: int = 3) -> Column:
    """Word n-gram shingles IN POSITION ORDER, duplicates kept — winnowing
    consumes the positional hash sequence; `shingles_expr` is its
    array_distinct (this function owns the n-gram join and the short-doc
    rule: < n tokens yields one whole-text shingle)."""
    toks = tokens_expr(text_col)
    return F.transform(
        F.sequence(F.lit(1), F.greatest(F.size(toks) - (n - 1), F.lit(1))),
        lambda i: F.concat_ws(" ", F.slice(toks, i, n)),
    )


def winnow_fingerprints_expr(
    text_col: Column | str,
    k: int = DEFAULT_WINNOW_K,
    w: int = DEFAULT_WINNOW_W,
) -> Column:
    """Winnowed fingerprint SET of a document (sorted array<long>).

    hashes  h[1..n] = md5_60 of the positional word k-gram shingles;
    windows j = 1 .. max(n-w+1, 1) of w consecutive hashes
    (short docs: one window over everything — slice clamps);
    fingerprints = DISTINCT window minima.

    Selecting by VALUE makes the set independent of any tie-break rule
    (the original algorithm's rightmost-min rule only changes which
    *position* is recorded, never the value set). Guarantee: two docs
    sharing any run of w+k-1 consecutive tokens share >= 1 fingerprint;
    expected density 2/(w+1). This is the bit-exact oracle SPEC — the
    per-window slice/array_min lambdas run on Spark's interpreted
    evaluator (SCALE.md finding: higher-order exprs don't codegen);
    `winnow_table(kernel="arrow")` is the production path, pinned
    value-identical by pytest.

    Unlike the reference's set-similarity sketches (MinHash over
    /root/reference/vervectordb-style corpora), winnowing is
    order-sensitive locally but robust to global reordering/insertion —
    the standard fingerprint for contiguous-passage overlap."""
    hs = F.transform(positional_shingles_expr(text_col, k), md5_long)
    mins = F.transform(
        F.sequence(F.lit(1), F.greatest(F.size(hs) - (w - 1), F.lit(1))),
        lambda j: F.array_min(F.slice(hs, j, w)),
    )
    return F.array_sort(F.array_distinct(mins))


def winnow_table(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = DEFAULT_WINNOW_K,
    w: int = DEFAULT_WINNOW_W,
    kernel: str = "arrow",
) -> DataFrame:
    """(id, fp) — exploded winnowed fingerprints, one row per distinct
    fingerprint per document (~2·n_shingles/(w+1) rows/doc). Map-only:
    fingerprinting never shuffles; only downstream overlap joins do.

    kernel="arrow": JVM tokens → one mapInPandas pass doing k-gram join,
    md5-60, and a vectorized sliding-window min (np.minimum.reduce over w
    shifted views — O(n·w) C ops, no Python loop per window). Values are
    pinned identical to the expr spec by tests/test_dedup_text.py.

    Measured non-win: a per-batch gram→hash memo (the embed kernel's
    token-memoization trick) ran 1.7× SLOWER at sf10 (7.2 → 12.3 s) —
    word 3-grams are nearly unique within a batch, so the memo is pure
    dict churn. Memoize single-token hash families, not shingles."""
    if kernel != "arrow":
        fps = df.select(
            F.col(id_col), winnow_fingerprints_expr(text_col, k, w).alias("_fps")
        )
        return fps.select(F.col(id_col), F.explode("_fps").alias("fp"))

    from pyspark.sql.types import ArrayType, LongType, StructField, StructType

    toked = widen_narrow_scan(df).select(F.col(id_col), tokens_expr(text_col).alias("_toks"))
    out_schema = StructType(
        [toked.schema[id_col], StructField("_fps", ArrayType(LongType()), False)]
    )

    def kern(batches):
        import hashlib

        import numpy as np
        import pandas as pd

        for pdf in batches:
            fps_out = []
            for toks in pdf["_toks"]:
                toks = list(toks) if toks is not None else []
                m = max(len(toks) - (k - 1), 1)
                grams = [" ".join(toks[i : i + k]) for i in range(m)]
                hs = np.array(
                    [
                        int(hashlib.md5(g.encode()).hexdigest()[:15], 16)
                        for g in grams
                    ],
                    dtype=np.int64,
                )
                n = len(hs)
                if n <= w:
                    mins = hs.min(keepdims=True)
                else:
                    # min over w shifted views == per-window minima
                    mins = np.minimum.reduce(
                        [hs[j : n - w + 1 + j] for j in range(w)]
                    )
                fps_out.append(np.unique(mins).tolist())
            yield pd.DataFrame({pdf.columns[0]: pdf.iloc[:, 0], "_fps": fps_out})

    fps = toked.mapInPandas(kern, out_schema)
    return fps.select(F.col(id_col), F.explode("_fps").alias("fp"))


def winnow_overlap_pairs(
    fps: DataFrame,
    id_col: str = "doc_id",
    min_shared: int = 2,
    max_bucket_size: int = DEFAULT_MAX_BUCKET_SIZE,
) -> DataFrame:
    """(src_id, dst_id, n_shared) — document pairs sharing >= min_shared
    winnowed fingerprints, the MOSS overlap report.

    Shape: ONE shuffle on fp sizes the buckets (window count), the
    self-join reuses that partitioning, then a (src,dst) shuffle
    aggregates shared counts. Fingerprints shared by more than
    max_bucket_size documents are DROPPED before pairing (boilerplate
    stop-fingerprints — license headers, cookie banners; at web scale such
    a bucket is 10^5+ docs and contributes quadratic pairs while carrying
    no discriminative signal). Unlike `_capped_band_candidates`'s hub-star
    (where components recover clusters), overlap SCORES must not be
    diluted by fake hub links, so the cap here is an explicit drop —
    mirrored in the oracle SQL via QUALIFY."""
    sized = _drop_oversized_buckets(fps, ["fp"], max_bucket_size)
    left = sized.select(F.col("fp"), F.col(id_col).alias("src_id"))
    right = sized.select(F.col("fp"), F.col(id_col).alias("dst_id"))
    pairs = left.join(right, on="fp").filter(F.col("src_id") < F.col("dst_id"))
    return (
        pairs.groupBy("src_id", "dst_id")
        .agg(F.count("*").cast("long").alias("n_shared"))
        .filter(F.col("n_shared") >= min_shared)
    )


def incremental_near_dup_pairs(
    new_df: DataFrame,
    history_df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 16,
    bands: int = 4,
    shingle_n: int = 3,
    threshold: float = 0.5,
    max_bucket_size: int = DEFAULT_MAX_BUCKET_SIZE,
) -> DataFrame:
    """(new_id, hist_id, jaccard) — new-batch documents near-duplicating
    the HISTORICAL corpus: the daily-crawl dedup shape.

    The new batch's band entries join the history's band entries on
    (band, band_key); history×history pairs are NEVER generated, so each
    increment costs |new|·occupancy, not |corpus|² — dedup of a 100 TB
    corpus amortizes into per-batch joins against a persisted band table
    (a real pipeline computes the history side ONCE and appends each
    batch's bands to it; both sides are sketched here for
    self-containment). History band buckets larger than max_bucket_size
    are dropped before pairing (boilerplate stop-buckets, same rationale
    as winnow_overlap_pairs' cap: a 10^5-doc bucket contributes
    |new_bucket|·10^5 candidate rows and no discriminative signal).
    Candidates are Jaccard-verified over the shingle sets, so the output
    has no false positives; pairs are (new, hist) directed — a new doc
    with ANY surviving pair is the one your pipeline drops or routes to
    review."""
    sk_new = minhash_signatures(new_df, text_col, id_col, num_hashes, shingle_n)
    sk_hist = minhash_signatures(
        history_df, text_col, id_col, num_hashes, shingle_n
    )
    be_new = minhash_band_entries(sk_new, id_col, num_hashes, bands).select(
        F.col(id_col).alias("new_id"), "band", "band_key"
    )
    be_hist = _drop_oversized_buckets(
        minhash_band_entries(sk_hist, id_col, num_hashes, bands).select(
            F.col(id_col).alias("hist_id"), "band", "band_key"
        ),
        ["band", "band_key"],
        max_bucket_size,
    )
    cand = (
        be_new.join(be_hist, on=["band", "band_key"])
        .select("new_id", "hist_id")
        .distinct()
    )
    sh_new = sk_new.select(
        F.col(id_col).alias("new_id"), F.col("shingles").alias("new_sh")
    )
    sh_hist = sk_hist.select(
        F.col(id_col).alias("hist_id"), F.col("shingles").alias("hist_sh")
    )
    return (
        cand.join(sh_new, on="new_id")
        .join(sh_hist, on="hist_id")
        .withColumn("jaccard", jaccard_expr(F.col("new_sh"), F.col("hist_sh")))
        .filter(F.col("jaccard") >= threshold)
        .select("new_id", "hist_id", "jaccard")
    )


def embedding_contamination_pairs(
    train: DataFrame,
    evals: DataFrame,
    threshold: float = 0.9,
    emb_col: str = "embedding",
    id_col: str = "vec_id",
    kernel: str = "gemm",
    margin: float = 1e-6,
    max_eval: int = 65_536,
) -> DataFrame:
    """(train_id, eval_id, sim) — training items whose embedding cosine
    vs ANY benchmark/eval item reaches `threshold`: SEMANTIC benchmark
    decontamination, the embedding-space twin of the shared-n-gram
    decontaminators (text.decontaminate_ngrams / functions/bloom). N-gram
    overlap misses paraphrased leakage; this catches it.

    kernel="gemm" (default, the 100 TB shape): the eval side is bounded
    (benchmark-sized — max_eval fail-fast, the batch_search contract) and
    broadcast as ONE float64 matrix; each Arrow batch of the train side
    does a single matmul and emits only candidate pairs with GEMM cosine
    >= threshold - margin. Candidates then get the EXACT normalize+fold
    rescore (the knn_self_join fold convention) and the >= threshold cut,
    so BLAS summation order never decides membership (margin absorbs
    float64 GEMM error, ~1e-12 at these dims) — output is bit-identical
    to the fold kernel. Train side: map-only, zero shuffles, candidates
    sized by contamination volume.

    kernel="fold": broadcast cross join + fold cosine — the
    oracle-replayable spec, |train|x|eval| scored rows; fixture scale
    only."""
    from vervectordb_spark.functions.similarity import (
        dot_expr, normalize_expr)

    # bound-check inside the one collect below (gemm) / a limit probe
    # (fold) — never a separate full count pass over the eval side
    ev = evals.select(F.col(id_col).alias("eval_id"),
                      normalize_expr(F.col(emb_col)).alias("_ev_ne"))
    if kernel == "fold":
        if evals.limit(max_eval + 1).count() > max_eval:
            raise ValueError(
                f"eval side exceeds {max_eval} rows; benchmark suites "
                "are bounded — pre-aggregate or raise max_eval "
                "deliberately")
        tr = train.select(F.col(id_col).alias("train_id"),
                          normalize_expr(F.col(emb_col)).alias("_tr_ne"))
        return (tr.join(F.broadcast(ev))
                .withColumn("sim", dot_expr(F.col("_tr_ne"),
                                            F.col("_ev_ne")))
                .filter(F.col("sim") >= threshold)
                .select("train_id", "eval_id", "sim"))
    if kernel != "gemm":
        raise ValueError(f"unknown kernel {kernel!r}: use 'gemm' or 'fold'")

    import numpy as np

    from pyspark.sql.types import StructField, StructType

    erows = evals.select(id_col, emb_col).filter(
        F.col(emb_col).isNotNull()).limit(max_eval + 1).collect()
    if len(erows) > max_eval:
        raise ValueError(
            f"eval side exceeds {max_eval} rows; benchmark suites are "
            "bounded — pre-aggregate or raise max_eval deliberately")
    spark = train.sparkSession
    id_type = train.schema[id_col].dataType
    emb_type = train.schema[emb_col].dataType
    out_schema = StructType([
        StructField("train_id", id_type),
        StructField("_tr_emb", emb_type),
        StructField("eval_id", evals.schema[id_col].dataType),
    ])
    if not erows:
        return spark.createDataFrame([], out_schema).withColumn(
            "sim", F.lit(0.0)).select("train_id", "eval_id", "sim")
    eids = [r[0] for r in erows]
    E = np.asarray([[float(x) for x in r[1]] for r in erows],
                   dtype=np.float64)
    en = np.linalg.norm(E, axis=1)
    En = E / np.where(en == 0, 1.0, en)[:, None]
    cut = float(threshold) - float(margin)

    def kern(batches):
        import pandas as pd

        for pdf in batches:
            X = np.asarray([[float(x) for x in v] for v in pdf[emb_col]],
                           dtype=np.float64)
            if X.size == 0:
                continue
            xn = np.linalg.norm(X, axis=1)
            S = (X / np.where(xn == 0, 1.0, xn)[:, None]) @ En.T
            ti, ei = np.nonzero(S >= cut)
            if len(ti) == 0:
                continue
            yield pd.DataFrame({
                "train_id": pdf[id_col].iloc[ti].to_numpy(),
                "_tr_emb": pdf[emb_col].iloc[ti].to_numpy(),
                "eval_id": [eids[j] for j in ei],
            })

    cand = train.select(id_col, emb_col).filter(
        F.col(emb_col).isNotNull()).mapInPandas(kern, out_schema)
    return (cand.join(F.broadcast(ev), on="eval_id")
            .withColumn("sim", dot_expr(normalize_expr(F.col("_tr_emb")),
                                        F.col("_ev_ne")))
            .filter(F.col("sim") >= threshold)
            .select("train_id", "eval_id", "sim"))
