"""Seeded input generators for the benchmark workloads.

Everything here is a pure function of the seed: the same seed gives
byte-identical parquet files. The program under test only ever sees
those files (plus the query vectors and write schedule the workload
hands to the facade one call at a time).

Generated inputs are cached per (workload, seed, size) under
`.bench_cache/` in the working directory, so generation is never part of
a timed or set-up number. Inputs and answers that depend on the program
(the corpus on its frozen classifier weights, the export oracle on its
SQL) are also keyed by a hash of what they depend on, so a cache left by
another version of the program is never reused.
"""

from __future__ import annotations

import hashlib
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

CACHE_DIR = ".bench_cache"

#: the hashed-BoW bucket count of the export's classifier/decontam embedding
EMBED_DIM = 32
STOPWORDS = ("the", "a", "an", "and", "or", "of", "to", "in", "is", "are",
             "for", "on", "with", "as", "by", "at", "from", "that", "this", "it")
LANGS = ("en", "de", "fr", "es", "zh")
LANG_P = (0.40, 0.25, 0.15, 0.12, 0.08)


def digest(value) -> str:
    return hashlib.sha1(repr(value).encode()).hexdigest()[:12]


def cache_path(kind: str, seed: int, **size) -> str:
    tag = "-".join(f"{k}{v}" for k, v in sorted(size.items()))
    path = os.path.join(CACHE_DIR, f"{kind}-s{seed}-{tag}")
    os.makedirs(path, exist_ok=True)
    return path


# --------------------------------------------------------------- vectors
def vector_set(seed: int, n: int, dim: int = 64, n_centres: int = 64,
               n_labels: int = 10) -> dict:
    """Gaussian-mixture corpus: `n` vectors around `n_centres` random
    centres, a `label` drawn from `n_labels` values and a short `text`.
    Returns ids, the float32 matrix, labels and the centres."""
    rng = np.random.default_rng([seed, 1])
    centres = rng.normal(size=(n_centres, dim))
    comp = rng.integers(0, n_centres, n)
    x = (centres[comp] + 0.35 * rng.normal(size=(n, dim))).astype(np.float32)
    labels = rng.integers(0, n_labels, n)
    ids = [f"v{seed}-{i:07d}" for i in range(n)]
    return {"ids": ids, "x": x, "labels": labels, "centres": centres}


def vector_table(ids, x, labels) -> pa.Table:
    meta = [[("label", str(int(l))), ("text", f"item {i} group {int(l)}")]
            for i, l in zip(ids, labels)]
    return pa.table({
        "vec_id": pa.array(ids, pa.string()),
        "embedding": pa.array(list(x), pa.list_(pa.float32())),
        "metadata": pa.array(meta, pa.map_(pa.string(), pa.string())),
    })


def write_vectors(seed: int, n: int, dim: int = 64) -> tuple[str, dict]:
    """The store's input parquet (cached) and the in-memory mirror."""
    vs = vector_set(seed, n, dim)
    path = os.path.join(cache_path("vectors", seed, n=n, d=dim), "in.parquet")
    if not os.path.exists(path):
        pq.write_table(vector_table(vs["ids"], vs["x"], vs["labels"]),
                       path + ".tmp")
        os.replace(path + ".tmp", path)
    return path, vs


def queries(seed: int, centres: np.ndarray, n: int) -> np.ndarray:
    """Query vectors: half near one centre, half between two centres (the
    hard case for a cluster-probed index)."""
    rng = np.random.default_rng([seed, 2])
    k, dim = centres.shape
    a = centres[rng.integers(0, k, n)]
    b = centres[rng.integers(0, k, n)]
    near = a + 0.35 * rng.normal(size=(n, dim))
    between = 0.5 * (a + b) + 0.35 * rng.normal(size=(n, dim))
    pick = (np.arange(n) % 2 == 0)[:, None]
    return np.where(pick, near, between).astype(np.float32)


def write_schedule(seed: int, ids: list[str], centres: np.ndarray,
                   n_cycles: int, insert_batch: int = 16,
                   n_update: int = 2, n_delete: int = 2) -> list[dict]:
    """Per-cycle writes for the mixed workload: vectors to insert, ids to
    update (with their new vectors) and ids to delete. Updated and deleted
    ids are disjoint, and every id is touched at most once, so the
    schedule never fails on a missing key."""
    rng = np.random.default_rng([seed, 3])
    k, dim = centres.shape
    order = rng.permutation(len(ids))
    need = n_cycles * (n_update + n_delete)
    if need > len(ids):
        raise ValueError("store too small for the write schedule")
    touched = [ids[i] for i in order[:need]]
    out = []
    for c in range(n_cycles):
        base = c * (n_update + n_delete)
        new = (centres[rng.integers(0, k, insert_batch)]
               + 0.35 * rng.normal(size=(insert_batch, dim))).astype(np.float32)
        upd = (centres[rng.integers(0, k, n_update)]
               + 0.35 * rng.normal(size=(n_update, dim))).astype(np.float32)
        out.append({
            "insert": new,
            "insert_labels": rng.integers(0, 10, insert_batch),
            "update_ids": touched[base:base + n_update],
            "update_vecs": upd,
            "delete_ids": touched[base + n_update:base + n_update + n_delete],
        })
    return out


# ------------------------------------------------------------- documents
def _bucket(token: str) -> int:
    """The export's hashed-BoW bucket of a token (md5 60-bit % dim)."""
    return int(hashlib.md5(token.encode()).hexdigest()[:15], 16) % EMBED_DIM


def _vocabulary(rng: np.random.Generator, size: int) -> list[str]:
    letters = np.array(list("abcdefghijklmnopqrstuvwxyz"))
    words: set[str] = set()
    while len(words) < size:
        n = int(rng.integers(3, 10))
        words.add("".join(rng.choice(letters, n)))
    return sorted(words)


def documents(seed: int, n_docs: int, vocab_size: int = 4000) -> pa.Table:
    """Curation corpus with planted structure for every export stage:

    * Zipf-distributed vocabulary, 5 langs with skewed shares (the
      temperature mix has something to flatten);
    * ~4% too-short docs (heuristic quality gate) and a slice drawn from
      words the frozen classifier scores low (trained gate);
    * repeated 12-token boilerplate spans in ~12% of docs (span cut);
    * ~3% exact copies of earlier docs (the span cut removes them whole,
      so exact dedup after it finds nothing left) and ~3% near copies that
      share no 8-token run with their source (MinHash dedup);
    * eval split = doc_id % 97 == 0; ~2% of train docs quote a 10-token
      run from an eval doc (n-gram decontamination) and ~1% are word
      shuffles of an eval doc (semantic decontamination: same bag of
      words, different 3-grams)."""
    from vervectordb_spark.operators.quality import FROZEN_QPW

    rng = np.random.default_rng([seed, 4])
    vocab = _vocabulary(rng, vocab_size)
    w = np.asarray(FROZEN_QPW)
    hi = [t for t in vocab if w[_bucket(t)] >= 2.0]
    z_hi = 1.0 / np.arange(1, len(hi) + 1) ** 0.6
    z_hi /= z_hi.sum()
    z_all = 1.0 / np.arange(1, len(vocab) + 1) ** 0.9
    z_all /= z_all.sum()
    boiler = [" ".join(rng.choice(hi, 12)) for _ in range(6)]

    def body(n_tok: int, good: bool) -> list[str]:
        pool, p = (hi, z_hi) if good else (vocab, z_all)
        toks = list(rng.choice(pool, n_tok, p=p))
        for i in np.nonzero(rng.random(n_tok) < 0.12)[0]:
            toks[i] = STOPWORDS[int(rng.integers(0, len(STOPWORDS)))]
        return toks

    texts: list[str] = []
    for d in range(n_docs):
        r = rng.random()
        train = d % 97 != 0
        evals = [e for e in range(0, d, 97)]
        if train and d > 20 and r < 0.03:                      # exact copy
            src = int(rng.integers(0, d))
            texts.append(texts[src])
            continue
        if train and d > 20 and r < 0.06:                      # near copy
            # every 6th token replaced: no 8-token run survives (so the
            # span cut leaves it), ~60% of its 3-grams do (MinHash finds it)
            toks = texts[int(rng.integers(0, d))].split()
            for i in range(int(rng.integers(0, 6)), len(toks), 6):
                toks[i] = str(rng.choice(hi))
            texts.append(" ".join(toks))
            continue
        if train and evals and r < 0.08:                       # eval quote
            ev = texts[evals[int(rng.integers(0, len(evals)))]].split()
            s = int(rng.integers(0, max(1, len(ev) - 10)))
            toks = body(int(rng.integers(40, 120)), True)
            toks[5:5] = ev[s:s + 10]
            texts.append(" ".join(toks))
            continue
        if train and evals and r < 0.09:                       # eval shuffle
            ev = texts[evals[int(rng.integers(0, len(evals)))]].split()
            texts.append(" ".join(rng.permutation(ev)))
            continue
        if r < 0.13:                                           # too short
            texts.append(" ".join(body(int(rng.integers(5, 15)), True)))
            continue
        toks = body(int(rng.integers(40, 160)), r > 0.25)
        if rng.random() < 0.12:                                # boilerplate
            at = int(rng.integers(0, len(toks)))
            toks[at:at] = boiler[int(rng.integers(0, len(boiler)))].split()
        texts.append(" ".join(toks))
    langs = rng.choice(LANGS, n_docs, p=LANG_P)
    return pa.table({
        "doc_id": pa.array(np.arange(n_docs, dtype=np.int64)),
        "text": pa.array(texts, pa.string()),
        "lang": pa.array(list(langs), pa.string()),
        "source": pa.array([f"src{d % 7}" for d in range(n_docs)], pa.string()),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })


def write_documents(seed: int, n_docs: int) -> str:
    """Directory holding `documents.parquet` (the layout the export reads)."""
    from vervectordb_spark.operators.quality import FROZEN_QPW

    path = cache_path("docs", seed, n=n_docs, w=digest(list(FROZEN_QPW)))
    f = os.path.join(path, "documents.parquet")
    if not os.path.exists(f):
        pq.write_table(documents(seed, n_docs), f + ".tmp")
        os.replace(f + ".tmp", f)
    return path


def export_oracle(sf_dir: str) -> list[dict]:
    """The export's DuckDB oracle over the same documents, cached beside
    them (it runs once per seed, never inside a timed phase)."""
    from vervectordb_spark.queries_pretrain import _ORACLE

    out = os.path.join(sf_dir, f"oracle-{digest(_ORACLE)}.json")
    if os.path.exists(out):
        with open(out) as fh:
            return json.load(fh)
    import duckdb

    con = duckdb.connect()
    con.sql("CREATE VIEW documents AS SELECT * FROM read_parquet("
            f"'{os.path.join(sf_dir, 'documents.parquet')}')")
    cur = con.execute(_ORACLE)
    cols = [c[0] for c in cur.description]
    rows = [dict(zip(cols, (int(v) if not isinstance(v, str) else v
                            for v in r))) for r in cur.fetchall()]
    con.close()
    with open(out + ".tmp", "w") as fh:
        json.dump(rows, fh)
    os.replace(out + ".tmp", out)
    return rows
