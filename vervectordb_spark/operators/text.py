"""Text analysis operators for the training-data pipeline surface.

Not in the reference (SURVEY.md §2.6) but implied by its dependency set —
it ships jieba + a Chinese corpus it never tokenizes
(/root/reference/pyproject.toml:12, data/datawhale.txt); these operators
realize that intended text pipeline, Spark-first (SURVEY.md §2.8).

All pure column expressions (whole-stage codegen, no UDF) and portable to
the DuckDB oracle:

  profile          length / token / punctuation / stopword stats + a
                   composable quality score
  language-ID      n-gram/charset heuristic: CJK ratio → zh, else
                   stopword-hit ratio → en, else unknown
  token counting   whitespace tokens AND a BPE-ish regex segmentation
                   (letters | digits | single punctuation)
  fingerprint      order-sensitive polynomial rolling hash over tokens

Scale: every operator is a map-side projection — zero shuffles; aggregates
over them are one partial-agg shuffle. At 100 TB these run in the same scan
as ingest.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from vervectordb_spark.functions.partitioning import widen_narrow_scan

from vervectordb_spark.functions.hashing import md5_long
from vervectordb_spark.functions.words import NONWORD_CCLASS, WS_REGEX
from vervectordb_spark.operators.dedup import tokens_expr
from vervectordb_spark.functions.identifiers import sql_ident

# A tiny fixed English stopword list — deterministic, mirrored in oracle SQL.
STOPWORDS = (
    "the", "a", "an", "and", "or", "of", "to", "in", "is", "are",
    "for", "on", "with", "as", "by", "at", "from", "that", "this", "it",
)

#: BPE-ish segmentation: letter runs | digit runs | one non-space symbol.
TOKEN_REGEX = r"[A-Za-z]+|[0-9]+|[^" + NONWORD_CCLASS + "]"


# ---------------------------------------------------------------------------
# counting expressions
# ---------------------------------------------------------------------------


def n_tokens_expr(text_col: Column | str) -> Column:
    """Whitespace token count."""
    return F.size(tokens_expr(text_col))


def n_bpe_tokens_expr(text_col: Column | str) -> Column:
    """BPE-ish token count: regex segmentation into letter runs, digit runs,
    and individual symbols — a deterministic proxy for subword token cost."""
    c = F.col(text_col) if isinstance(text_col, str) else text_col
    return F.size(F.regexp_extract_all(c, F.lit(TOKEN_REGEX), F.lit(0)))


def _regexp_count(c: Column, pattern: str) -> Column:
    """Occurrences of `pattern` — portable as length-delta arithmetic
    (DuckDB twin uses the same regexp_replace trick)."""
    return F.length(c) - F.length(F.regexp_replace(c, pattern, ""))


#: "punctuation" = any non-alphanumeric, non-space char — one portable class.
PUNCT_REGEX = "[^" + NONWORD_CCLASS + "]"


def punct_ratio_expr(text_col: Column | str) -> Column:
    """Punctuation chars / total chars (0 for empty text)."""
    c = F.col(text_col) if isinstance(text_col, str) else text_col
    n = F.length(c).cast("double")
    p = _regexp_count(c, PUNCT_REGEX).cast("double")
    return F.when(n == 0.0, F.lit(0.0)).otherwise(p / n)


def stopword_ratio_expr(text_col: Column | str) -> Column:
    """Stopword tokens / total tokens (0 for empty)."""
    toks = tokens_expr(text_col)
    n = F.size(toks).cast("double")
    hits = F.size(F.filter(toks, lambda t: t.isin(*STOPWORDS))).cast("double")
    return F.when(n == 0.0, F.lit(0.0)).otherwise(hits / n)


def avg_token_len_expr(text_col: Column | str) -> Column:
    toks = tokens_expr(text_col)
    n = F.size(toks).cast("double")
    total = F.aggregate(
        toks, F.lit(0).cast("long"), lambda acc, t: acc + F.length(t)
    ).cast("double")
    return F.when(n == 0.0, F.lit(0.0)).otherwise(total / n)


# ---------------------------------------------------------------------------
# language ID
# ---------------------------------------------------------------------------


def cjk_ratio_expr(text_col: Column | str) -> Column:
    """Fraction of CJK-ideograph characters."""
    c = F.col(text_col) if isinstance(text_col, str) else text_col
    n = F.length(c).cast("double")
    cjk = _regexp_count(c, r"[\x{4e00}-\x{9fff}]").cast("double")
    return F.when(n == 0.0, F.lit(0.0)).otherwise(cjk / n)


def lang_id_expr(text_col: Column | str) -> Column:
    """Charset/stopword heuristic language ID:
    cjk_ratio > 0.2 → 'zh'; stopword_ratio > 0.08 → 'en'; else 'unknown'.
    (An n-gram model would slot in the same shape — this is the
    deterministic, oracle-checkable baseline.)"""
    return (
        F.when(cjk_ratio_expr(text_col) > 0.2, F.lit("zh"))
        .when(stopword_ratio_expr(text_col) > 0.08, F.lit("en"))
        .otherwise(F.lit("unknown"))
    )


# ---------------------------------------------------------------------------
# quality score
# ---------------------------------------------------------------------------


def quality_score_expr(text_col: Column | str) -> Column:
    """Composite [0,1] quality score (Gopher/C4-style cheap filters):
      0.3 · (20 <= n_tokens <= 1000)
    + 0.3 · (3 <= avg_token_len <= 12)
    + 0.2 · (punct_ratio < 0.3)
    + 0.2 · (stopword_ratio > 0.01)
    Deterministic rule weights — the pipeline filter is `score >= cut`."""
    nt = n_tokens_expr(text_col)
    atl = avg_token_len_expr(text_col)
    pr = punct_ratio_expr(text_col)
    sr = stopword_ratio_expr(text_col)
    return (
        F.when((nt >= 20) & (nt <= 1000), 0.3).otherwise(0.0)
        + F.when((atl >= 3.0) & (atl <= 12.0), 0.3).otherwise(0.0)
        + F.when(pr < 0.3, 0.2).otherwise(0.0)
        + F.when(sr > 0.01, 0.2).otherwise(0.0)
    )


# ---------------------------------------------------------------------------
# fingerprint (order-sensitive rolling hash)
# ---------------------------------------------------------------------------

FP_MOD = 2_147_483_647  # 2^31 - 1 (Mersenne prime)
FP_BASE = 1_000_003


def fingerprint_expr(text_col: Column | str) -> Column:
    """Polynomial rolling hash over whitespace tokens:
    fp = fold(tokens, 0, (acc, t) -> (acc·B + md5_60(t) mod M) mod M).

    Order-SENSITIVE (unlike the shingle-set sketches): permuted documents
    get different fingerprints. All intermediates stay < 2^61, so the fold
    is exact in 64-bit integers on both engines."""
    toks = tokens_expr(text_col)
    return F.aggregate(
        toks,
        F.lit(0).cast("long"),
        lambda acc, t: (acc * FP_BASE + md5_long(t) % FP_MOD) % FP_MOD,
    )


def normalize_text_expr(text_col: Column | str,
                        lowercase: bool = False) -> Column:
    """Canonical text cleanup — the step every dedup/quality pass runs
    FIRST so near-identical documents actually hash together:

      1. strip HTML/XML tags (`<...>` non-greedy);
      2. drop control characters (C0 except \\t \\n \\r);
      3. collapse all whitespace runs to one space;
      4. trim; optionally lowercase.

    Pure column expressions (regexp_replace chains, codegen) — and every
    regex is portable to the DuckDB oracle verbatim."""
    c = F.col(text_col) if isinstance(text_col, str) else text_col
    out = F.regexp_replace(c, r"<[^>]*>", " ")
    out = F.regexp_replace(out, r"[\x00-\x08\x0B\x0C\x0E-\x1F]", "")
    out = F.trim(F.regexp_replace(out, WS_REGEX, " "))
    return F.lower(out) if lowercase else out


#: the quality gate's individual rules: (tag, passing-predicate builder)
_QUALITY_RULES = (
    ("n_tokens", lambda t: (n_tokens_expr(t) >= 20) & (n_tokens_expr(t) <= 1000)),
    ("avg_token_len", lambda t: (avg_token_len_expr(t) >= 3.0) & (avg_token_len_expr(t) <= 12.0)),
    ("punct_ratio", lambda t: punct_ratio_expr(t) < 0.3),
    ("stopword_ratio", lambda t: stopword_ratio_expr(t) > 0.01),
)


def _quality_filter_exprs(text_col: str):
    """(score, reasons) Column pair for `text_col`, memoized: the rule
    trees cost ~0.6 s of py4j round-trips to construct (every Column op
    is a driver round-trip) and depend only on the column NAME — Columns
    are immutable unresolved expression trees, safe to reuse across
    frames. Cached ON the active SparkContext object (not the function):
    Columns hold py4j gateway references, so a cache keyed only by
    text_col would serve stale java handles after a JVM restart in a
    long-lived process (ADVICE r11, low). The per-context dict dies with
    its context."""
    from pyspark import SparkContext

    sc = SparkContext._active_spark_context
    cache = (sc.__dict__.setdefault("_vv_quality_filter_exprs", {})
             if sc is not None else {})
    got = cache.get(text_col)
    if got is None:
        failed = [
            F.when(~rule(text_col), F.lit(tag)).otherwise(F.lit(None))
            for tag, rule in _QUALITY_RULES
        ]
        reasons = F.array_join(
            F.filter(F.array(*failed), lambda x: x.isNotNull()), ","
        )
        score = F.round(quality_score_expr(text_col), 6)
        got = cache[text_col] = (score, reasons)
    return got


def quality_filter(df: DataFrame, text_col: str = "text",
                   min_score: float = 0.8) -> DataFrame:
    """The C4/Gopher-style corpus gate: appends `quality_score`,
    `keep` (score >= min_score), and `fail_reasons` (comma-joined tags of
    the rules that failed — the observability a filtering pipeline needs
    to tune thresholds). Pure map-side projection; the downstream pipeline
    is `df.filter("keep")`."""
    score, reasons = _quality_filter_exprs(text_col)
    return df.withColumns({
        "quality_score": score,
        "keep": score >= F.lit(float(min_score)),
        "fail_reasons": reasons,
    })


# ---------------------------------------------------------------------------
# vocabulary: top n-grams
# ---------------------------------------------------------------------------


#: candidate-prune fan-in for top_ngrams' two-phase top-k
_NGRAM_PRUNE_BUCKETS = 64


def top_ngrams(df: DataFrame, text_col: str = "text", n: int = 1,
               top_k: int = 20, by_col: str | None = None) -> DataFrame:
    """Most frequent word n-grams, globally or per `by_col` (e.g. lang):
    (by?, ngram, n_occurrences, rank) with rank 1..top_k, ties broken by
    ngram ascending — fully deterministic.

    Plan shape at scale: explode → partial-agg count (map-side combine
    absorbs the head-token skew) → TWO-PHASE top-k over the
    VOCABULARY-sized count table: a local rank inside (by, ngram-hash
    bucket) prunes to ≤ buckets·top_k candidates per group, then the final
    rank runs over that bounded set. A single window partitioned only by
    `by_col` would funnel the whole vocabulary of each group through one
    partition — the global-window cliff. Bucketing is internal: any
    bucket's local top-k is a superset of its members in the true top-k,
    so the result is exact for every hash. n=1 uses the whitespace
    tokens; n>1 uses POSITIONAL word shingles (duplicates kept) so
    n_occurrences counts occurrences for every n — the earlier
    set-semantics shingles silently turned n>1 counts into document
    frequency (a doc repeating a bigram 100x counted once)."""
    from pyspark.sql import Window

    from vervectordb_spark.operators.dedup import positional_shingles_expr

    grams = (
        tokens_expr(text_col) if n == 1
        else positional_shingles_expr(text_col, n)
    )
    keys = [by_col] if by_col else []
    counts = (
        widen_narrow_scan(df).select(*keys, F.explode(grams).alias("ngram"))
        .groupBy(*keys, "ngram")
        .agg(F.count("*").alias("n_occurrences"))
    )
    order = [F.desc("n_occurrences"), F.asc("ngram")]
    bucket = F.pmod(F.xxhash64("ngram"), F.lit(_NGRAM_PRUNE_BUCKETS))
    w_local = Window.partitionBy(*keys, "_bkt").orderBy(*order)
    pruned = (
        counts.withColumn("_bkt", bucket)
        .withColumn("_lrk", F.row_number().over(w_local))
        .filter(F.col("_lrk") <= top_k)
        .drop("_bkt", "_lrk")
    )
    w_final = (
        Window.partitionBy(*keys) if keys else Window.partitionBy(F.lit(0))
    ).orderBy(*order)
    return (
        pruned.withColumn("rank", F.row_number().over(w_final))
        .filter(F.col("rank") <= top_k)
    )


# ---------------------------------------------------------------------------
# zh segmentation (the reference ships jieba but never calls it —
# pyproject.toml:12; this is its production slot)
# ---------------------------------------------------------------------------


def tokenize_zh(df, text_col: str = "text", id_col: str = "doc_id",
                out_col: str = "tokens"):
    """jieba word segmentation via mapInPandas (Arrow-batched, the model
    loads once per worker). Falls back to the deterministic CJK-per-char +
    whitespace tokenizer (embed.mixed_tokens_expr) when jieba is absent —
    same output schema, so downstream operators are tokenizer-agnostic."""
    try:
        import jieba  # noqa: F401
    except ImportError:
        from vervectordb_spark.operators.embed import mixed_tokens_expr

        return df.select(
            F.col(id_col), mixed_tokens_expr(text_col).alias(out_col)
        )

    id_type = df.schema[id_col].dataType.simpleString()
    out_schema = f"{id_col} {id_type}, {out_col} array<string>"

    def seg(batches):
        import jieba
        import pandas as pd

        for pdf in batches:
            yield pd.DataFrame({
                id_col: pdf[id_col].to_numpy(),
                out_col: [
                    [t for t in jieba.lcut(t_ or "") if t.strip()]
                    for t_ in pdf[text_col]
                ],
            })

    return df.select(id_col, text_col).mapInPandas(seg, out_schema)


# ---------------------------------------------------------------------------
# the profile operator
# ---------------------------------------------------------------------------


def _profile_arrow(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """Arrow-batched profile kernel. Tokens come from the JVM
    (tokens_expr — single owner of lower/split); the raw-text regexes use
    Python `re` over the spelled-out words.NONWORD_CCLASS (re.ASCII kept
    as belt-and-braces) so the class means the same in every dialect.
    Ratios are the same single int/int IEEE divisions, the fingerprint
    fold is exact int64, rounding is decimal HALF_UP == Spark F.round —
    output is value-identical to the expr path (pytest-pinned, incl.
    null/empty/CJK text)."""
    import re
    from decimal import ROUND_HALF_UP, Decimal

    from pyspark.sql.types import (
        DoubleType, IntegerType, LongType, StringType, StructField, StructType,
    )

    id_type = df.schema[id_col].dataType
    out_schema = StructType([
        StructField(id_col, id_type),
        StructField("n_chars", IntegerType()),
        StructField("n_tokens", IntegerType()),
        StructField("n_bpe_tokens", IntegerType()),
        StructField("avg_token_len", DoubleType()),
        StructField("punct_ratio", DoubleType()),
        StructField("stopword_ratio", DoubleType()),
        StructField("lang_id", StringType()),
        StructField("quality_score", DoubleType()),
        StructField("fingerprint", LongType()),
    ])
    bpe_re = re.compile(TOKEN_REGEX, re.ASCII)
    punct_re = re.compile(PUNCT_REGEX, re.ASCII)
    cjk_re = re.compile(r"[一-鿿]")
    stop = set(STOPWORDS)
    q6 = Decimal("0.000001")

    def r6(x):
        return float(Decimal(repr(x)).quantize(q6, rounding=ROUND_HALF_UP))

    def kern(batches):
        import hashlib

        import pandas as pd

        for pdf in batches:
            rows = []
            for rid, text, toks in zip(pdf[id_col], pdf["_text"], pdf["_toks"]):
                if text is None:
                    # expr semantics: numeric fields null, lang 'unknown',
                    # quality 0.0 (every when(null) falls to otherwise(0))
                    rows.append((rid, None, None, None, None, None, None,
                                 "unknown", 0.0, None))
                    continue
                toks = list(toks) if toks is not None else []
                nc = len(text)
                nt = len(toks)
                nb = len(bpe_re.findall(text))
                tok_chars = sum(len(t) for t in toks)
                np_ = len(punct_re.findall(text))
                ncjk = len(cjk_re.findall(text))
                nstop = sum(1 for t in toks if t in stop)
                avg = 0.0 if nt == 0 else tok_chars / nt
                pr = 0.0 if nc == 0 else np_ / nc
                sr = 0.0 if nt == 0 else nstop / nt
                cjk = 0.0 if nc == 0 else ncjk / nc
                lang = ("zh" if cjk > 0.2
                        else "en" if sr > 0.08 else "unknown")
                score = ((0.3 if 20 <= nt <= 1000 else 0.0)
                         + (0.3 if 3.0 <= avg <= 12.0 else 0.0)
                         + (0.2 if pr < 0.3 else 0.0)
                         + (0.2 if sr > 0.01 else 0.0))
                fp = 0
                for t in toks:
                    h = int(hashlib.md5(t.encode()).hexdigest()[:15], 16)
                    fp = (fp * FP_BASE + h % FP_MOD) % FP_MOD
                rows.append((rid, nc, nt, nb, r6(avg), r6(pr), r6(sr),
                             lang, r6(score), fp))
            yield pd.DataFrame(rows, columns=[f.name for f in out_schema.fields])

    src = df.select(
        F.col(id_col),
        F.col(text_col).alias("_text"),
        tokens_expr(text_col).alias("_toks"),
    )
    return src.mapInPandas(kern, out_schema)


def profile(df: DataFrame, text_col: str = "text", id_col: str = "doc_id",
            kernel: str = "arrow") -> DataFrame:
    """Per-document text profile — one map-side projection.

    kernel="arrow" (default): mapInPandas — the interpreted
    higher-order-function tax on the expr path (stopword filter, length
    folds, fingerprint fold) is ~360 µs/doc vs ~20 µs/doc here, a real
    constant factor at corpus scale. kernel="expr": the original column
    expressions — no Python workers, and the living spec the Arrow path
    is pytest-pinned value-identical to."""
    df = widen_narrow_scan(df)  # per-doc regex folds are the heavy part
    if kernel == "arrow":
        return _profile_arrow(df, text_col, id_col)
    return df.select(
        F.col(id_col),
        F.length(text_col).alias("n_chars"),
        n_tokens_expr(text_col).alias("n_tokens"),
        n_bpe_tokens_expr(text_col).alias("n_bpe_tokens"),
        F.round(avg_token_len_expr(text_col), 6).alias("avg_token_len"),
        F.round(punct_ratio_expr(text_col), 6).alias("punct_ratio"),
        F.round(stopword_ratio_expr(text_col), 6).alias("stopword_ratio"),
        lang_id_expr(text_col).alias("lang_id"),
        F.round(quality_score_expr(text_col), 6).alias("quality_score"),
        fingerprint_expr(text_col).alias("fingerprint"),
    )


# ---------------------------------------------------------------------------
# chunking — overlapping token windows (the RAG/embedding prep primitive)
# ---------------------------------------------------------------------------


def chunk_documents(df: DataFrame, chunk_tokens: int = 100,
                    overlap: int = 20, text_col: str = "text",
                    id_col: str = "doc_id") -> DataFrame:
    """Split each document into overlapping token windows: chunk i covers
    tokens [i·stride, i·stride + chunk_tokens) with stride = chunk_tokens −
    overlap. Returns (id, chunk_id, chunk_text, n_chunk_tokens); a doc
    shorter than one window yields a single chunk. Pure column expressions
    (sequence → transform → explode), map-only — chunking 100 TB is one
    scan-side projection, no shuffle, and the chunk table feeds the
    embed/dedup/pack operators unchanged."""
    if overlap >= chunk_tokens:
        raise ValueError("overlap must be < chunk_tokens")
    stride = chunk_tokens - overlap
    toks = tokens_expr(text_col)
    n = F.size(toks)
    # ceil((n - overlap) / stride), clamped to >= 1 — integer arithmetic
    n_chunks = F.greatest(
        F.lit(1), (n - F.lit(overlap) + F.lit(stride - 1)) / F.lit(stride)
    ).cast("int")
    chunk = F.explode(F.sequence(F.lit(0), n_chunks - 1)).alias("chunk_id")
    out = df.select(F.col(id_col), toks.alias("_toks"), chunk)
    piece = F.slice(
        F.col("_toks"), F.col("chunk_id") * stride + 1, chunk_tokens
    )
    return out.select(
        id_col,
        "chunk_id",
        F.array_join(piece, " ").alias("chunk_text"),
        F.size(piece).cast("long").alias("n_chunk_tokens"),
    )


# ---------------------------------------------------------------------------
# repetition metrics — Gopher-style "repetitive document" signals
# ---------------------------------------------------------------------------
# Public heuristics from the Gopher corpus-filtering recipe (Rae et al.
# 2021, "Scaling Language Models", table A1): documents dominated by
# repeated words / n-grams are boilerplate or spam and get dropped before
# training. Re-expressed as pure array expressions — map-only, whole-stage
# codegen, no shuffle — so profiling 100 TB is a single scan projection.


def frac_dup_words_expr(text_col: Column | str) -> Column:
    """Fraction of word occurrences that are repeats of an earlier word:
    1 − |distinct words| / |words|. 0 = all unique, →1 = one word repeated."""
    toks = tokens_expr(text_col)
    n = F.size(toks)
    return F.when(
        n > 0,
        F.lit(1.0) - F.size(F.array_distinct(toks)).cast("double") / n,
    )  # 0-token doc -> NULL (undefined), matching the Arrow kernel


def frac_dup_ngrams_expr(text_col: Column | str, n: int = 3) -> Column:
    """Fraction of word n-gram occurrences that are duplicates:
    1 − |distinct n-grams| / |n-grams| (n-grams overlap, stride 1).
    Short docs (< n words) have one n-gram and score 0."""
    toks = tokens_expr(text_col)
    total = F.greatest(F.size(toks) - (n - 1), F.lit(1))
    distinct = F.size(
        F.array_distinct(
            F.transform(
                F.sequence(F.lit(1), total),
                lambda i: F.concat_ws(" ", F.slice(toks, i, n)),
            )
        )
    )
    # explicit null-text guard: greatest(NULL,1)=1 and concat_ws skips
    # nulls, so without it a NULL doc would score 0.0 instead of NULL
    return F.when(
        F.size(toks).isNotNull(), F.lit(1.0) - distinct.cast("double") / total
    )


def _repetition_arrow(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """Arrow-batched repetition kernel — the fast path for the same values
    the expr spec produces (higher-order array exprs are interpreted, not
    codegen'd; at sf0.1 this kernel is ~10× the expr path). Tokens come
    from the JVM (tokens_expr stays the single owner of lower/split);
    fractions are the same 1.0 − distinct/total IEEE divisions, rounding
    is decimal HALF_UP == Spark F.round. Pytest-pinned value-identical to
    kernel="expr", including null/empty/short docs."""
    from decimal import ROUND_HALF_UP, Decimal

    from pyspark.sql.types import (
        DoubleType, LongType, StructField, StructType,
    )

    id_type = df.schema[id_col].dataType
    out_schema = StructType([
        StructField(id_col, id_type),
        StructField("n_words", LongType()),
        StructField("frac_dup_words", DoubleType()),
        StructField("frac_dup_3grams", DoubleType()),
    ])
    q6 = Decimal("0.000001")

    def r6(x):
        return float(Decimal(repr(x)).quantize(q6, rounding=ROUND_HALF_UP))

    def kern(batches):
        import pandas as pd

        for pdf in batches:
            rows = []
            for rid, toks in zip(pdf[id_col], pdf["_toks"]):
                if toks is None:
                    rows.append((rid, None, None, None))
                    continue
                toks = list(toks)
                n = len(toks)
                fdw = None if n == 0 else r6(1.0 - len(set(toks)) / n)
                total = max(n - 2, 1)
                grams = {
                    " ".join(toks[i:i + 3]) for i in range(total)
                }
                rows.append((rid, n, fdw, r6(1.0 - len(grams) / total)))
            yield pd.DataFrame(
                rows, columns=[f.name for f in out_schema.fields]
            )

    src = df.select(F.col(id_col), tokens_expr(text_col).alias("_toks"))
    return src.mapInPandas(kern, out_schema)


def repetition_profile(df: DataFrame, text_col: str = "text",
                       id_col: str = "doc_id",
                       kernel: str = "arrow") -> DataFrame:
    """Per-document repetition profile: (id, n_words, frac_dup_words,
    frac_dup_3grams), each rounded to 6 places for the oracle contract.
    kernel="expr" is the oracle-shaped spec; "arrow" (default) computes
    identical values in one mapInPandas pass."""
    if kernel == "arrow":
        return _repetition_arrow(df, text_col, id_col)
    return df.select(
        F.col(id_col),
        n_tokens_expr(text_col).cast("long").alias("n_words"),
        F.round(frac_dup_words_expr(text_col), 6).alias("frac_dup_words"),
        F.round(frac_dup_ngrams_expr(text_col, 3), 6).alias("frac_dup_3grams"),
    )


def unigram_surprisal(df: DataFrame, text_col: str = "text",
                      id_col: str = "doc_id",
                      word_pattern: str | None = "ASCII") -> DataFrame:
    """Per-document mean unigram surprisal in bits/word against the
    corpus's OWN unigram distribution — the CCNet/RedPajama-style cheap
    LM proxy: word salad drawn from the corpus distribution scores near
    the corpus entropy, gibberish (rare-word soup) scores high, boiler-
    plate (head-word soup) scores low.

    Shape: one corpus word-count aggregate (the same distinct-word
    reduction as bpe.word_counts), a 1-row total crossJoin, a broadcast
    join of exploded doc words against the KB..MB unigram table, one
    groupBy(doc_id). Float contract: p = cnt/total single division,
    surprisal term rounded to 9dp (ln libm drift — the
    queries_pipeline.py precedent) then summed as exact DECIMALs;
    bits/word = one final division, rounded at the end. Word extraction
    is the shared functions/words contract."""
    from vervectordb_spark.functions.words import ASCII_WORDS
    from vervectordb_spark.functions.words import words as words_of

    # "ASCII" sentinel = the shared oracle-scope default; None passes
    # through to words()'s keep-every-non-empty-word semantics
    pat = ASCII_WORDS if word_pattern == "ASCII" else word_pattern
    words = words_of(df, text_col, id_col=id_col, word_pattern=pat)
    counts = words.groupBy("word").agg(
        F.count("*").cast("bigint").alias("cnt"))
    total = counts.agg(F.sum("cnt").cast("bigint").alias("total"))
    uni = counts.crossJoin(F.broadcast(total)).select(
        "word",
        F.round(-F.log2(F.col("cnt").cast("double") / F.col("total")), 9)
        .cast("decimal(24,9)").alias("_bits"),
    )
    return (
        words.join(F.broadcast(uni), on="word")
        .groupBy(id_col)
        .agg(F.count("*").cast("bigint").alias("n_words"),
             F.sum("_bits").alias("_sb"))
        .select(id_col, "n_words",
                F.round(F.col("_sb").cast("double") / F.col("n_words"), 6)
                .alias("bits_per_word"))
    )


def repetition_gate(text_col: str = "text",
                    max_dup_word_frac: float = 0.55,
                    max_dup_3gram_frac: float = 0.05) -> Column:
    """Boolean keep/drop column for the repetition gate (thresholds are
    the tunable analog of Gopher's published cutoffs)."""
    return (
        (frac_dup_words_expr(text_col) <= F.lit(float(max_dup_word_frac)))
        & (frac_dup_ngrams_expr(text_col, 3) <= F.lit(float(max_dup_3gram_frac)))
    )


def _pin_types(df: DataFrame, ids: set[int], checkpoint: bool) -> DataFrame:
    """Materialize a TYPE table once (localCheckpoint, leak-tracked ids —
    functions/checkpoint contract): Catalyst cannot reuse these subtrees
    across their 2-4 consumers (each consumer prunes different columns,
    so no canonicalized Exchange matches and AQE re-executes the whole
    corpus subtree per reference — measured: kn5's plan ran ~11 separate
    corpus passes, 6.4 s where the distinct work is ~3 s). Type tables
    grow with vocabulary (Heaps), not corpus, so the materialized state
    is small at any scale. Callers release via release_checkpoint(out)
    (the bpe/ulm convention); the ids accumulate in `ids`."""
    if not checkpoint:
        return df
    from vervectordb_spark.functions.checkpoint import eager_checkpoint

    # eager=False: all consumers share the one RDD instance. Under AQE
    # marking still runs the table's shuffle stages (its gram-count
    # aggregate) as build-time jobs; only the final map-side stage waits
    # for the first job that reads the table
    out, new = eager_checkpoint(df, eager=False)
    ids |= new
    return out


def bigram_surprisal(df: DataFrame, text_col: str = "text",
                     id_col: str = "doc_id",
                     lam: float = 0.75) -> DataFrame:
    """Per-document mean INTERPOLATED-BIGRAM surprisal in bits per
    transition — the step up from unigram_surprisal toward the KenLM
    perplexity filter CCNet actually ships: P(w|v) = λ·c(v,w)/c(v·) +
    (1-λ)·c(w)/N over the corpus's own counts. Unigram surprisal can't
    see scrambled word order; this does (a shuffled document keeps its
    unigram score and loses its bigram score).

    Shape at 100 TB: the unigram table stays a broadcast (Heaps-law
    vocabulary); the BIGRAM table does NOT (distinct bigrams grow far
    past broadcast size on web corpora), so the doc transition stream
    joins it key-partitioned on the bigram — one corpus-sized hash
    shuffle, the decontaminate/dup-gram class — then one groupBy(doc).
    Transitions pair consecutive SCOPE-SURVIVING words (the shared
    functions/words ASCII scope), map-only per doc.

    Float contract (the unigram_surprisal precedent): each probability
    is single divisions + one λ-mix in fixed order, the log2 term rounds
    to 9dp (libm drift) and sums as exact DECIMAL; bits/transition is
    one final division rounded to 6dp. λ defaults to 0.75 — exactly
    representable, so the mix arithmetic is engine-identical."""
    from vervectordb_spark.functions.words import ASCII_WORDS

    lam = float(lam)
    toks = F.expr(
        f"filter(split(lower({sql_ident(text_col)}), '[ \\\\t\\\\n\\\\x0B\\\\f\\\\r]+'), "
        f"t -> t != '' AND t rlike '{ASCII_WORDS}')")
    # r12: root widener removed on paired evidence — it measured slower
    # at BOTH scales here (isolated widener on/off: trigram 1.93 vs
    # 1.55 s at sf0.1, bigram 6.5 vs 2.1 s at sf1): the widened subtree
    # is consumed by several independent count passes, each re-running
    # the payload exchange (no Catalyst reuse)
    staged = df.select(F.col(id_col), toks.alias("_toks"))
    tcol = F.col("_toks")
    pairs = F.when(
        F.size(tcol) >= 2,
        F.transform(
            F.sequence(F.lit(1), F.greatest(F.size(tcol) - 1, F.lit(1))),
            lambda i: F.struct(
                F.element_at(tcol, i).alias("w1"),
                F.element_at(tcol, i + 1).alias("w2")),
        ),
    ).otherwise(F.array().cast("array<struct<w1:string,w2:string>>"))
    trans = (staged.select(F.col(id_col), F.explode(pairs).alias("t"))
             .select(id_col, F.col("t.w1").alias("w1"),
                     F.col("t.w2").alias("w2")))
    uni = (staged.select(F.explode(tcol).alias("word"))
           .groupBy("word").agg(F.count("*").cast("bigint").alias("cnt")))
    total = uni.agg(F.sum("cnt").cast("bigint").alias("total"))
    bi = (trans.groupBy("w1", "w2")
          .agg(F.count("*").cast("bigint").alias("bcnt")))
    # r12: the r11 per-TYPE scoring (assemble _bits on the bigram type
    # table, attach to the stream with one extra join) is REVERTED here
    # on paired sf1 evidence: 1.92 s direct vs 5.69 s per-type (2.96x)
    # at sf1 c32, parity at sf0.1 — at the bigram level the unigram
    # lookups are already BROADCASTS against the stream, so the type
    # restructure saved no shuffle and only added a second corpus-sized
    # join. (Trigram/kn5 keep their per-type form: their lookup chains
    # are key-partitioned, and they measure at parity or better.)
    scored = (
        trans
        .join(bi, on=["w1", "w2"])  # key-partitioned: bigrams don't broadcast
        .join(F.broadcast(uni.withColumnRenamed("word", "w1")
                          .withColumnRenamed("cnt", "c1")), on="w1")
        .join(F.broadcast(uni.withColumnRenamed("word", "w2")
                          .withColumnRenamed("cnt", "c2")), on="w2")
        .crossJoin(F.broadcast(total))
        .withColumn(
            "_p",
            F.lit(lam) * (F.col("bcnt").cast("double")
                          / F.col("c1").cast("double"))
            + F.lit(1.0 - lam) * (F.col("c2").cast("double")
                                  / F.col("total").cast("double")))
        .withColumn("_bits",
                    F.round(-F.log2(F.col("_p")), 9).cast("decimal(24,9)"))
    )
    return (scored.groupBy(id_col)
            .agg(F.count("*").cast("bigint").alias("n_transitions"),
                 F.sum("_bits").alias("_sb"))
            .select(id_col, "n_transitions",
                    F.round(F.col("_sb").cast("double")
                            / F.col("n_transitions"), 6)
                    .alias("bits_per_transition")))


def trigram_surprisal(df: DataFrame, text_col: str = "text",
                      id_col: str = "doc_id",
                      lam3: float = 0.5, lam2: float = 0.375) -> DataFrame:
    """Per-document mean INTERPOLATED-TRIGRAM surprisal in bits per
    transition — the last step of the unigram → bigram → trigram LM-proxy
    ladder (KenLM-class filters are 5-gram Kneser–Ney; the measured
    decision to stop here is recorded in SCALE.md round-9 notes):

        P(w | u,v) = λ3·c(u,v,w)/c(u,v) + λ2·c(v,w)/c(v) + λ1·c(w)/N

    with λ1 = 1 − λ3 − λ2. Defaults (1/2, 3/8, 1/8) are DYADIC — exactly
    representable, so the three-term mix is engine-identical arithmetic
    (the bigram λ=0.75 precedent). c(u,v) is the full corpus bigram
    count (the standard practical normalizer; prefix-only counting would
    differ at document ends). Observed transitions always have
    c(u,v,w) ≥ 1 — the model scores the corpus that trained it — so the
    mix is never log2(0).

    Shape at 100 TB: unigram table broadcasts (Heaps-law); the bigram
    normalizer tables join KEY-PARTITIONED into the trigram TYPE table
    (both outgrow broadcast on web corpora — the bigram_surprisal
    rationale), and the document stream attaches the per-type surprisal
    with ONE key-partitioned join; one groupBy(doc). Float contract: single
    divisions, fixed-order λ-mix, 9dp-rounded log2 terms summed as exact
    DECIMAL, one final division rounded to 6dp."""
    from vervectordb_spark.functions.words import ASCII_WORDS

    lam3, lam2 = float(lam3), float(lam2)
    lam1 = 1.0 - lam3 - lam2
    toks = F.expr(
        f"filter(split(lower({sql_ident(text_col)}), '[ \\\\t\\\\n\\\\x0B\\\\f\\\\r]+'), "
        f"t -> t != '' AND t rlike '{ASCII_WORDS}')")
    # r12: root widener removed on paired evidence — it measured slower
    # at BOTH scales here (isolated widener on/off: trigram 1.93 vs
    # 1.55 s at sf0.1, bigram 6.5 vs 2.1 s at sf1): the widened subtree
    # is consumed by several independent count passes, each re-running
    # the payload exchange (no Catalyst reuse)
    staged = df.select(F.col(id_col), toks.alias("_toks"))
    tcol = F.col("_toks")
    triples = F.when(
        F.size(tcol) >= 3,
        F.transform(
            F.sequence(F.lit(1), F.greatest(F.size(tcol) - 2, F.lit(1))),
            lambda i: F.struct(
                F.element_at(tcol, i).alias("w1"),
                F.element_at(tcol, i + 1).alias("w2"),
                F.element_at(tcol, i + 2).alias("w3")),
        ),
    ).otherwise(
        F.array().cast("array<struct<w1:string,w2:string,w3:string>>"))
    pairs = F.when(
        F.size(tcol) >= 2,
        F.transform(
            F.sequence(F.lit(1), F.greatest(F.size(tcol) - 1, F.lit(1))),
            lambda i: F.struct(
                F.element_at(tcol, i).alias("w1"),
                F.element_at(tcol, i + 1).alias("w2")),
        ),
    ).otherwise(F.array().cast("array<struct<w1:string,w2:string>>"))
    trans = (staged.select(F.col(id_col), F.explode(triples).alias("t"))
             .select(id_col, F.col("t.w1").alias("w1"),
                     F.col("t.w2").alias("w2"), F.col("t.w3").alias("w3")))
    uni = (staged.select(F.explode(tcol).alias("word"))
           .groupBy("word").agg(F.count("*").cast("bigint").alias("cnt")))
    total = uni.agg(F.sum("cnt").cast("bigint").alias("total"))
    bi = (staged.select(F.explode(pairs).alias("p"))
          .select(F.col("p.w1").alias("w1"), F.col("p.w2").alias("w2"))
          .groupBy("w1", "w2").agg(F.count("*").cast("bigint").alias("bcnt")))
    tri = (trans.groupBy("w1", "w2", "w3")
           .agg(F.count("*").cast("bigint").alias("tcnt")))
    # per-TYPE scoring (r11, the kn5/bigram convention): the two
    # key-partitioned lookup joins run over the trigram TYPE table and
    # the document stream attaches the finished _bits with ONE join —
    # two fewer corpus-sized shuffles of the stream
    type_bits = (
        tri
        # key-partitioned: neither the trigram nor the bigram table
        # broadcasts on a web corpus
        .join(bi, on=["w1", "w2"])
        .join(bi.select(F.col("w1").alias("w2"), F.col("w2").alias("w3"),
                        F.col("bcnt").alias("bcnt23")), on=["w2", "w3"])
        .join(F.broadcast(uni.select(F.col("word").alias("w2"),
                                     F.col("cnt").alias("c2"))), on="w2")
        .join(F.broadcast(uni.select(F.col("word").alias("w3"),
                                     F.col("cnt").alias("c3"))), on="w3")
        .crossJoin(F.broadcast(total))
        .withColumn(
            "_p",
            F.lit(lam3) * (F.col("tcnt").cast("double")
                           / F.col("bcnt").cast("double"))
            + F.lit(lam2) * (F.col("bcnt23").cast("double")
                             / F.col("c2").cast("double"))
            + F.lit(lam1) * (F.col("c3").cast("double")
                             / F.col("total").cast("double")))
        .withColumn("_bits",
                    F.round(-F.log2(F.col("_p")), 9).cast("decimal(24,9)"))
        .select("w1", "w2", "w3", "_bits")
    )
    scored = trans.join(type_bits, on=["w1", "w2", "w3"])
    return (scored.groupBy(id_col)
            .agg(F.count("*").cast("bigint").alias("n_transitions"),
                 F.sum("_bits").alias("_sb"))
            .select(id_col, "n_transitions",
                    F.round(F.col("_sb").cast("double")
                            / F.col("n_transitions"), 6)
                    .alias("bits_per_transition")))


def kn5_surprisal(df: DataFrame, text_col: str = "text",
                  id_col: str = "doc_id", discount: float = 0.75,
                  prune_min_count: int | None = None,
                  checkpoint: bool = True) -> DataFrame:
    """Per-document mean INTERPOLATED KNESER–NEY 5-GRAM surprisal in bits
    per transition — the KenLM-class rung the ladder previously stopped
    below (SCALE.md finding #13), now implemented with real continuation
    counts (Chen & Goodman 1999; Kneser & Ney 1995):

        p5(w|h4) = max(c5(h4,w)−D, 0)/Σc5(h4,·) + D·N5(h4)/Σc5(h4,·)·p4
        pk(w|hk) = max(cck(hk,w)−D, 0)/Σcck(hk,·)
                   + D·Nk(hk)/Σcck(hk,·)·p_{k−1}        (k = 4, 3, 2)
        p1(w)    = cc1(w)/T2

    where cck(g) = |{x : c_{k+1}(x·g) > 0}| is the CONTINUATION count
    (distinct left-extensions in the raw (k+1)-gram type table — "how
    many contexts has this n-gram completed", the KN innovation over
    raw frequency), Nk(h) the distinct continuations of context h at
    level k, T2 the total distinct bigram types. Denominators are
    Σ-over-continuations (each level a proper distribution). D = 0.75 is
    DYADIC — the max(c−D,0) subtraction and the D·N product are exact,
    so the whole mix is engine-identical IEEE arithmetic and the rung is
    hash-gated against a full-SQL DuckDB replay (doc_kn5_surprisal),
    like every rung below it. Every observed transition has c5 ≥ 1 and
    each continuation count ≥ 1 (the transition itself witnesses the
    left-extension), so no log2(0).

    prune_min_count=k drops raw 5-grams with count < k from the TOP
    lookup only (scoring falls through to the D-weighted backoff;
    denominators and continuation tables stay exact) — count-threshold
    pruning without renormalization, the standard practical shortcut
    (KenLM re-estimates instead). Model size is the point: the 5-gram
    table is the largest state by far, and singleton pruning removes
    most of it.

    Shape at 100 TB: the SEVEN key-partitioned lookup joins (prefix
    context, cc4/cc3/cc2 + their context tables) run over the 5-GRAM
    TYPE TABLE, not the transition stream — every probability is a pure
    function of the 5-gram, so the per-type surprisal is assembled once
    on type-sized inputs and the document stream joins it with ONE
    key-partitioned join (r11: the stream previously flowed through all
    seven joins, paying ~6 extra corpus-sized shuffles; types ≪ tokens
    on real corpora, so the join chain now scales with vocabulary
    growth, not corpus size). Only vocabulary-sized tables broadcast
    (cc1, den2/n2) — SCALE.md finding #16. Float contract unchanged:
    single divisions, fixed-order mix, 9dp-rounded log2 summed as exact
    DECIMAL, final division rounded to 6dp; per-type doubles are the
    identical op sequence, so results are bit-unchanged."""
    from vervectordb_spark.functions.words import ASCII_WORDS

    D = float(discount)
    toks = F.expr(
        f"filter(split(lower({sql_ident(text_col)}), '[ \\\\t\\\\n\\\\x0B\\\\f\\\\r]+'), "
        f"t -> t != '' AND t rlike '{ASCII_WORDS}')")
    staged = widen_narrow_scan(df).select(F.col(id_col),
                                           toks.alias("_toks"))
    tcol = F.col("_toks")

    def windows(n: int, names: list[str]):
        # one parsed SQL string — the Column form cost ~0.2 s of py4j
        # round-trips per call (5 calls per invocation); identical tree
        fields = ", ".join(f"element_at(_toks, i + {j}) AS {names[j]}"
                           for j in range(n))
        cast_t = ("array<struct<"
                  + ",".join(f"{c}:string" for c in names) + ">>")
        return F.expr(
            f"CASE WHEN size(_toks) >= {n} THEN "
            f"transform(sequence(1, greatest(size(_toks) - {n - 1}, 1)), "
            f"i -> struct({fields})) "
            f"ELSE cast(array() as {cast_t}) END")

    W = ["w1", "w2", "w3", "w4", "w5"]

    def gram_counts(n: int) -> DataFrame:
        cols = W[:n]
        return (staged.select(F.explode(windows(n, cols)).alias("g"))
                .select(*[F.col(f"g.{c}").alias(c) for c in cols])
                .groupBy(*cols)
                .agg(F.count("*").cast("bigint").alias("cnt")))

    ckpt_ids: set[int] = set()
    # Each type table is pinned once (localCheckpoint, eager=False —
    # which still runs its aggregate's shuffle stage at mark time): its 2-4
    # consumers prune different columns, so no Exchange canonicalizes
    # equal and Catalyst/AQE re-ran the whole corpus subtree per
    # reference (measured: ~11 corpus passes in the r11 plan). The four
    # tables stay INDEPENDENT gram counts (not derived from each other):
    # a c5→c4→c3→c2 prefix-sum chain was built and measured — integer-
    # exact, 3 fewer corpus explodes — but its sequential critical path
    # lost more than the removed work saved at both sf0.1 and sf1
    # (paired A/B in OPTIMIZATION_r12.md); parallel independent counts
    # keep the stage waves overlapped.
    c5 = _pin_types(gram_counts(5), ckpt_ids, checkpoint)
    c4t = _pin_types(gram_counts(4), ckpt_ids, checkpoint)
    c3t = _pin_types(gram_counts(3), ckpt_ids, checkpoint)
    c2t = _pin_types(gram_counts(2), ckpt_ids, checkpoint)

    # top level: prefix-sum context + distinct-continuation counts
    ctx5 = (c5.groupBy("w1", "w2", "w3", "w4")
            .agg(F.sum("cnt").cast("bigint").alias("den5"),
                 F.count("*").cast("bigint").alias("n5")))

    def cont_tables(types_above: DataFrame, n_above: int):
        """(cc table keyed on the LAST n_above-1 words, its context
        table) from the raw type table one order above."""
        keep = W[1:n_above]                     # drop the left extension
        cc = (types_above.groupBy(*[F.col(c) for c in keep])
              .agg(F.count("*").cast("bigint").alias("cc")))
        ctx = (cc.groupBy(*[F.col(c) for c in keep[:-1]])
               .agg(F.sum("cc").cast("bigint").alias("den"),
                    F.count("*").cast("bigint").alias("n")))
        return cc, ctx

    cc4, ctx4 = cont_tables(c5, 5)              # keyed (w2,w3,w4,w5)
    cc3, ctx3 = cont_tables(c4t, 4)             # keyed (w2,w3,w4)->renamed
    cc2, ctx2 = cont_tables(c3t, 3)             # keyed (w2,w3)
    cc1, _ = cont_tables(c2t, 2)                # keyed (w2,)
    t2 = c2t.agg(F.count("*").cast("bigint").alias("t2"))

    trans = (staged.select(F.col(id_col), F.explode(windows(5, W)).alias("g"))
             .select(id_col, *[F.col(f"g.{c}").alias(c) for c in W]))

    # the TOP lookup count, nulled where pruned — replicates the old
    # `trans LEFT JOIN (c5 WHERE cnt >= k)` semantics on the type table
    # (every observed type stays a row; only its c5 value disappears)
    c5_val = (F.col("cnt") if prune_min_count is None
              else F.when(F.col("cnt") >= int(prune_min_count),
                          F.col("cnt")))

    def ren(t: DataFrame, mapping: dict[str, str],
            vals: dict[str, str]) -> DataFrame:
        """ONE atomic select — chained withColumnRenamed would collide
        when the mapping shifts names onto each other (w2→w3, w3→w4)."""
        m = {**mapping, **vals}
        return t.select(*[F.col(c).alias(m.get(c, c)) for c in t.columns])

    scored = (
        c5.select(*W, c5_val.alias("c5"))
        .join(ctx5, on=["w1", "w2", "w3", "w4"])
        # level 4: continuation tables are keyed on the last 4/3 words
        .join(ren(cc4, {"w2": "w2", "w3": "w3", "w4": "w4", "w5": "w5"},
                  {"cc": "cc4"}), on=["w2", "w3", "w4", "w5"])
        .join(ren(ctx4, {}, {"den": "den4", "n": "n4"}),
              on=["w2", "w3", "w4"])
        # level 3: cc3 keyed (w2,w3,w4) in ITS OWN table == our (w3,w4,w5)
        .join(ren(cc3, {"w2": "w3", "w3": "w4", "w4": "w5"},
                  {"cc": "cc3"}), on=["w3", "w4", "w5"])
        .join(ren(ctx3, {"w2": "w3", "w3": "w4"},
                  {"den": "den3", "n": "n3"}), on=["w3", "w4"])
        # level 2: cc2 keyed (w2,w3) == our (w4,w5)
        .join(ren(cc2, {"w2": "w4", "w3": "w5"}, {"cc": "cc2"}),
              on=["w4", "w5"])
        .join(F.broadcast(ren(ctx2, {"w2": "w4"},
                              {"den": "den2", "n": "n2"})), on="w4")
        # level 1: vocabulary-sized, broadcast
        .join(F.broadcast(ren(cc1, {"w2": "w5"}, {"cc": "cc1"})), on="w5")
        .crossJoin(F.broadcast(t2))
    )
    dd = F.lit(D)
    p1 = F.col("cc1").cast("double") / F.col("t2").cast("double")
    p2 = (F.greatest(F.col("cc2").cast("double") - dd, F.lit(0.0))
          / F.col("den2").cast("double")
          + (dd * F.col("n2").cast("double")
             / F.col("den2").cast("double")) * p1)
    p3 = (F.greatest(F.col("cc3").cast("double") - dd, F.lit(0.0))
          / F.col("den3").cast("double")
          + (dd * F.col("n3").cast("double")
             / F.col("den3").cast("double")) * p2)
    p4 = (F.greatest(F.col("cc4").cast("double") - dd, F.lit(0.0))
          / F.col("den4").cast("double")
          + (dd * F.col("n4").cast("double")
             / F.col("den4").cast("double")) * p3)
    p5 = (F.greatest(F.coalesce(F.col("c5"), F.lit(0)).cast("double") - dd,
                     F.lit(0.0))
          / F.col("den5").cast("double")
          + (dd * F.col("n5").cast("double")
             / F.col("den5").cast("double")) * p4)
    # per-TYPE surprisal, attached to the document stream by ONE join:
    # _bits is a pure function of (w1..w5), so each type's double chain
    # is computed exactly once and every transition inner-joins its own
    # type (always present — c5 was built from the same stream)
    type_bits = scored.withColumn(
        "_bits", F.round(-F.log2(p5), 9).cast("decimal(24,9)")
    ).select(*W, "_bits")
    scored = trans.join(type_bits, on=W)
    out = (scored.groupBy(id_col)
           .agg(F.count("*").cast("bigint").alias("n_transitions"),
                F.sum("_bits").alias("_sb"))
           .select(id_col, "n_transitions",
                   F.round(F.col("_sb").cast("double")
                           / F.col("n_transitions"), 6)
                   .alias("bits_per_transition")))
    out._ckpt_ids = ckpt_ids  # type: ignore[attr-defined]
    return out
