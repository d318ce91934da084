"""Shared DuckDB oracle-SQL fragment builders — a LEAF module.

Query-registration modules (queries_dedup, queries_curation, queries_spans,
queries_bpe, queries_pretrain, …) all need the same fragment text so their
oracles can never drift apart — but importing fragments ACROSS query
modules creates a cycle: every query module imports
`vervectordb_spark.queries` (for the @query decorator), whose bottom
imports every query module for registration, so `import queries_curation`
as an entry point re-enters queries.py, which imports queries_pretrain,
which would find queries_curation only partially initialized. This module
imports nothing from the query layer (only the leaf hashing/words
contracts), so any import order works — the bug this fixed surfaced as
bench.py silently skipping five entries behind an ImportError-guarded
section.

Every string here is the single source the per-stage oracles AND the
composed pretraining-export replay share; the Spark twins live in the
operators (functions/words.py documents the pairing pattern).
"""

from __future__ import annotations

from vervectordb_spark.functions.hashing import affine_hash_sql

#: lowercase pinned-whitespace tokens, empties dropped (== operators/text token
#: expressions over a column named `text`).
TOKS = r"list_filter(regexp_split_to_array(lower(text), '[ \t\n\x0B\f\r]+'), x -> x <> '')"

#: distinct word 3-gram shingles over a token array named `toks`
#: (== dedup.shingles_expr(n=3)).
SHINGLES = (
    "list_distinct(list_transform("
    "range(1, greatest(len(toks) - 2, 1) + 1), "
    "i -> array_to_string(list_slice(toks, i, i + 2), ' ')))"
)

#: CJK chars spaced out, then whitespace tokens, over a column named
#: `text` (== embed.mixed_tokens_expr).
MIXED_TOKS = (
    r"list_filter(regexp_split_to_array(lower("
    r"regexp_replace(text, '([\x{4e00}-\x{9fff}])', ' \1 ', 'g')"
    r"), '[ \t\n\x0B\f\r]+'), x -> x <> '')"
)

#: portable 60-bit md5 of a value named `t` (== functions/hashing.md5_long).
MD5T = "(('0x' || substr(md5(t), 1, 15))::BIGINT)"


def md5_sql(expr: str) -> str:
    """== functions/hashing.md5_long_sql (local copy keeps this a leaf
    of exactly two imports)."""
    return f"(('0x' || substr(md5({expr}), 1, 15))::BIGINT)"


def jaccard_sql(a: str, b: str) -> str:
    """Exact Jaccard of two DuckDB lists (== dedup.jaccard_expr)."""
    return (
        f"(len(list_intersect({a}, {b}))::DOUBLE"
        f" / len(list_distinct(list_concat({a}, {b}))))"
    )


def sig_mins(num_hashes: int) -> str:
    """MinHash signature columns over a per-doc hash list `hs`
    (== dedup.minhash_signature_expr's affine family)."""
    return ", ".join(
        f"list_min(list_transform(hs, x -> {affine_hash_sql('x', i)}))"
        for i in range(num_hashes)
    )


def band_keys(num_hashes: int, bands: int, src: str = "sig") -> str:
    """LSH band rows from a `{src}`(doc_id, s, sig) relation
    (== dedup.minhash_band_entries)."""
    rows_per_band = num_hashes // bands
    return " UNION ALL ".join(
        f"SELECT doc_id, s, {b} AS band, "
        + " || '_' || ".join(
            f"sig[{b * rows_per_band + r + 1}]::VARCHAR"
            for r in range(rows_per_band)
        )
        + f" AS band_key FROM {src}"
        for b in range(bands)
    )


# ---------------------------------------------------------------------------
# span-dedup replay (operators/spans.py)
# ---------------------------------------------------------------------------

def spans_ctes(L: int, src: str = "documents") -> str:
    """CTEs ending at `spans` = (doc_id, span_start, span_end, n_grams),
    over any (doc_id, text) relation `src` — parameterized so composed
    pipelines can span-profile a filtered corpus."""
    return f"""
toks AS (
  SELECT doc_id,
         list_filter(regexp_split_to_array(lower(text), '[ \t\n\x0B\f\r]+'),
                     t -> t <> '') AS a
  FROM {src}),
pos AS (
  SELECT doc_id, g.p AS p,
         ('0x' || substr(g.m, 1, 15))::BIGINT AS gram_h,
         ('0x' || substr(g.m, 16, 15))::BIGINT AS gram_h2
  FROM (
    SELECT doc_id,
           unnest(list_transform(range(0, greatest(len(a) - {L} + 1, 0)),
                  i -> {{'p': i::INT,
                        'm': md5(array_to_string(
                              a[i + 1 : i + {L}], ' '))}}))
           AS g
    FROM toks) t(doc_id, g)),
dup AS (SELECT gram_h, gram_h2 FROM pos
        GROUP BY gram_h, gram_h2 HAVING COUNT(*) >= 2),
marks AS (SELECT doc_id, p AS s, p + {L} AS e
          FROM pos JOIN dup USING (gram_h, gram_h2)),
flagged AS (
  SELECT doc_id, s, e,
         CASE WHEN s > COALESCE(MAX(e) OVER (
                PARTITION BY doc_id ORDER BY s
                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), -1)
              THEN 1 ELSE 0 END AS nw
  FROM marks),
isl AS (
  SELECT doc_id, s, e,
         SUM(nw) OVER (PARTITION BY doc_id ORDER BY s
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
         AS island
  FROM flagged),
spans AS (
  SELECT doc_id, MIN(s)::INT AS span_start, MAX(e)::INT AS span_end,
         COUNT(*)::BIGINT AS n_grams
  FROM isl GROUP BY doc_id, island)
"""


def spancut_ctes(L: int, src: str = "documents",
                 extra_cols: tuple[str, ...] = ()) -> str:
    """spans_ctes + the removal replay, ending at `cleaned` =
    (doc_id, *extra_cols, n_tokens, n_removed, clean_text) — the full
    ExactSubstr cut over any (doc_id, text, *extra_cols) relation."""
    xs = "".join(f"{c}, " for c in extra_cols)
    xo = "".join(f"o.{c}, " for c in extra_cols)
    return f"""{spans_ctes(L, src)},
orig AS (
  SELECT doc_id, {xs}
         list_filter(regexp_split_to_array(text, '[ \t\n\x0B\f\r]+'), t -> t <> '') AS a
  FROM {src}),
tok_rows AS (
  SELECT doc_id, ti.i AS i, ti.t AS t FROM (
    SELECT doc_id,
           unnest(list_transform(range(0, len(a)),
                  i -> {{'i': i::INT, 't': a[i + 1]}})) AS ti
    FROM orig) q(doc_id, ti)),
kept_toks AS (
  SELECT tr.doc_id, tr.i, tr.t
  FROM tok_rows tr LEFT JOIN spans sp
    ON tr.doc_id = sp.doc_id
   AND tr.i >= sp.span_start AND tr.i < sp.span_end
  WHERE sp.doc_id IS NULL),
cleaned AS (
  SELECT o.doc_id, {xo}
         len(o.a)::BIGINT AS n_tokens,
         (len(o.a) - COALESCE(k.nk, 0))::BIGINT AS n_removed,
         COALESCE(k.clean_text, '') AS clean_text
  FROM orig o LEFT JOIN (
    SELECT doc_id, COUNT(*) AS nk,
           string_agg(t, ' ' ORDER BY i) AS clean_text
    FROM kept_toks GROUP BY doc_id) k USING (doc_id))
"""


# ---------------------------------------------------------------------------
# BPE training replay (operators/bpe.py; DuckDB-replay notes in
# queries_bpe.py — list_reduce lambda limits force the token-string
# replace form)
# ---------------------------------------------------------------------------

def split_of(col: str) -> str:
    """Token string '<a><bc>' -> VARCHAR[] ['a','bc'] (symbols never
    contain '<' or '>', so trim + split is exact)."""
    return f"regexp_split_to_array(trim({col}, '<>'), '><')"


_PAIRS = """
  SELECT pr.lft AS lft, pr.rgt AS rgt, SUM(n)::BIGINT AS cnt FROM (
    SELECT n, unnest(list_transform(range(1, len(syms)),
                     i -> {{'lft': syms[i], 'rgt': syms[i + 1]}})) AS pr
    FROM (SELECT n, {split} AS syms FROM s{prev}) WHERE len(syms) >= 2
  ) GROUP BY 1, 2
"""


def bpe_ctes(steps: int) -> str:
    """The training replay: w0 word counts, s0..s{steps} per-word token
    strings after each merge (word is carried through so consumers can
    join segmentations back to documents)."""
    from vervectordb_spark.functions.words import words_sql

    split = split_of("s")
    parts = [
        f"""w0 AS (
  SELECT word, COUNT(*)::BIGINT AS n
  FROM {words_sql('documents')}
  GROUP BY word
)""",
        "s0 AS (SELECT word, n, '<' || array_to_string("
        "regexp_split_to_array(word, ''), '><') || '>' AS s FROM w0)",
    ]
    for k in range(1, steps + 1):
        parts.append(f"p{k} AS ({_PAIRS.format(prev=k - 1, split=split)})")
        parts.append(f"m{k} AS (SELECT lft, rgt, cnt FROM p{k} "
                     f"ORDER BY cnt DESC, lft, rgt LIMIT 1)")
        # mf{k} is ALWAYS one row: when no pair is learnable at step k
        # (m{k} empty — Spark's train_bpe breaks out of its loop there),
        # the COALESCEd '' pair makes the replace a no-op ('<><>' can
        # never occur: symbols are non-empty), instead of the bare cross
        # join collapsing the whole vocabulary to zero rows.
        parts.append(f"mf{k} AS (SELECT COALESCE(MIN(lft), '') AS lft, "
                     f"COALESCE(MIN(rgt), '') AS rgt FROM m{k})")
        parts.append(
            f"s{k} AS (SELECT word, n, replace(s, '<' || m.lft || '><' || "
            f"m.rgt || '>', '<' || m.lft || m.rgt || '>') AS s "
            f"FROM s{k - 1}, mf{k} m)"
        )
    return ",\n".join(parts)


#: canonical hashed-BoW embedding dimension for the query registry —
#: the SINGLE source both queries_embed and queries_hybrid derive their
#: Spark-side dim and oracle SQL from (a hardcoded twin desyncs the
#: hybrid e2e oracle silently; round-9 advice).
EMBED_DIM = 32


def ckpt_embed_sql(ckpt_path: str, dim: int, src: str = "documents",
                   id_col: str = "doc_id") -> str:
    """Vendored-checkpoint embedding replay over `src` (==
    operators/embed.checkpoint_embedding: CJK-aware tokens, ORDER-FREE
    int8-row sums — exact in int64/float64 — L2 normalize, float32
    round). The chain both text_embed_checkpoint and the cross-encoder
    rerank oracle derive their vectors from. `src` must expose
    ({id_col}, text)."""
    return f"""
  SELECT {id_col} AS vec_id,
         CASE WHEN nrm = 0
              THEN list_transform(sv, x -> (x)::FLOAT)::DOUBLE[]
              ELSE list_transform(sv, x -> (x / nrm)::FLOAT)::DOUBLE[]
         END AS ne
  FROM (
    SELECT {id_col}, sv, sqrt(list_dot_product(sv, sv)) AS nrm
    FROM (
      SELECT d.{id_col},
             coalesce(s.sv, list_transform(range({dim}), x -> 0.0)) AS sv
      FROM {src} d LEFT JOIN (
        SELECT {id_col}, list(s ORDER BY p)::DOUBLE[] AS sv
        FROM (
          SELECT {id_col}, r.p, SUM(vec[r.p + 1]) AS s
          FROM (
            SELECT tok.{id_col}, v.vec
            FROM (SELECT {id_col}, unnest({MIXED_TOKS}) AS word
                  FROM {src}) tok
            JOIN (SELECT word, vec
                  FROM read_parquet('{ckpt_path}')) v USING (word)
          ) j, (SELECT unnest(range({dim})) AS p) r
          GROUP BY {id_col}, r.p
        ) GROUP BY {id_col}
      ) s USING ({id_col})
    )
  )
"""


def embed_sql(dim: int = EMBED_DIM) -> str:
    """Hashed-BoW document-embedding replay over the `documents` table
    (== operators/embed.embed_documents: CJK-aware tokens, md5 buckets,
    L2-normalized counts, float32 storage rounding)."""
    return f"""
  SELECT doc_id AS vec_id,
    list_transform(CASE WHEN nrm = 0 THEN counts
                        ELSE list_transform(counts, x -> x / nrm) END,
                   x -> x::FLOAT)::DOUBLE[] AS ne
  FROM (
    SELECT doc_id, counts, sqrt(list_dot_product(counts, counts)) AS nrm
    FROM (
      SELECT doc_id,
        list_transform(range(0, {dim}),
          i -> len(list_filter(bks, b -> b = i))::DOUBLE) AS counts
      FROM (
        SELECT doc_id,
          list_transform({MIXED_TOKS}, t -> {MD5T} % {dim}) AS bks
        FROM documents
      )
    )
  )
"""
