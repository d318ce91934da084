"""Corpus-curation operators: repetition metrics, PII scrubbing,
target-mix resampling, decontamination plumbing."""

import pytest
from pyspark.sql import functions as F

from vervectordb_spark.operators import pii as PII
from vervectordb_spark.operators import text as TX
from vervectordb_spark.operators.sampling import mix_to_target
from vervectordb_spark.functions.checkpoint import release_checkpoint
from vervectordb_spark.functions.words import ws_tokens_py


# ---------------------------------------------------------------------------
# repetition metrics
# ---------------------------------------------------------------------------

def _rep(spark, text):
    df = spark.createDataFrame([(1, text)], "doc_id long, text string")
    return TX.repetition_profile(df).collect()[0]


def test_repetition_all_unique(spark):
    r = _rep(spark, "a b c d e f")
    assert r["n_words"] == 6
    assert r["frac_dup_words"] == 0.0
    assert r["frac_dup_3grams"] == 0.0


def test_repetition_one_word_repeated(spark):
    r = _rep(spark, "x x x x x x x x")
    assert r["frac_dup_words"] == pytest.approx(1 - 1 / 8)
    # 6 identical 3-grams -> 1 distinct of 6
    assert r["frac_dup_3grams"] == pytest.approx(1 - 1 / 6)


def test_repetition_short_doc_scores_zero_ngrams(spark):
    # < 3 words: a single (whole-doc) n-gram, duplicate fraction 0
    r = _rep(spark, "hello world")
    assert r["frac_dup_3grams"] == 0.0


def test_repetition_gate_splits(spark):
    df = spark.createDataFrame(
        [(1, "spam spam spam spam spam spam"), (2, "clean unique words only here")],
        "doc_id long, text string",
    )
    kept = df.filter(TX.repetition_gate("text")).collect()
    assert [r["doc_id"] for r in kept] == [2]


# ---------------------------------------------------------------------------
# PII scrubbing
# ---------------------------------------------------------------------------

def test_pii_redact_all_four_patterns(spark):
    txt = (
        "mail alice.smith+x@example.co.uk call +1 (415) 555-0199 "
        "host 192.168.10.250 ssn 123-45-6789 end"
    )
    df = spark.createDataFrame([(1, txt)], "id long, text string")
    out = PII.redact(df).collect()[0]
    assert "<EMAIL>" in out["text"]
    assert "<PHONE>" in out["text"]
    assert "<IP>" in out["text"]
    assert "<SSN>" in out["text"]
    assert "@" not in out["text"]
    assert "555" not in out["text"]
    assert out["n_email"] == 1
    assert out["n_phone"] == 1
    assert out["n_ipv4"] == 1
    assert out["n_ssn"] == 1


def test_pii_clean_text_untouched(spark):
    txt = "no personal data in this perfectly ordinary sentence"
    df = spark.createDataFrame([(1, txt)], "id long, text string")
    out = PII.redact(df).collect()[0]
    assert out["text"] == txt
    assert out["n_email"] == out["n_phone"] == out["n_ipv4"] == out["n_ssn"] == 0


def test_pii_out_col_preserves_original(spark):
    df = spark.createDataFrame([(1, "a@b.io")], "id long, text string")
    out = PII.redact(df, out_col="clean").collect()[0]
    assert out["text"] == "a@b.io"
    assert out["clean"] == "<EMAIL>"


# ---------------------------------------------------------------------------
# target-mix resampling
# ---------------------------------------------------------------------------

def _mix_df(spark):
    rows = [(i, "en" if i < 800 else "zh") for i in range(1000)]
    return spark.createDataFrame(rows, "doc_id long, lang string")


def test_mix_to_target_hits_target_shares(spark):
    df = _mix_df(spark)
    out = mix_to_target(df, "lang", {"en": 0.5, "zh": 0.5},
                        id_col="doc_id", total=300)
    counts = {r["lang"]: r["n"] for r in
              out.groupBy("lang").agg(F.count("*").alias("n")).collect()}
    # expect ~150 each despite the 4:1 input skew (hash draw is uniform)
    assert 110 <= counts["en"] <= 190
    assert 110 <= counts["zh"] <= 190


def test_mix_to_target_never_upsamples(spark):
    df = _mix_df(spark)
    # zh has 200 rows; target asks for 450 -> rate clamps to 1, keeps all 200
    out = mix_to_target(df, "lang", {"en": 0.1, "zh": 0.9},
                        id_col="doc_id", total=500)
    counts = {r["lang"]: r["n"] for r in
              out.groupBy("lang").agg(F.count("*").alias("n")).collect()}
    assert counts["zh"] == 200


def test_mix_to_target_stable_under_repartition(spark):
    df = _mix_df(spark)
    kw = dict(strata_col="lang", targets={"en": 0.5, "zh": 0.5},
              id_col="doc_id", total=400)
    a = {r["doc_id"] for r in mix_to_target(df, **kw).collect()}
    b = {r["doc_id"] for r in mix_to_target(df.repartition(13), **kw).collect()}
    assert a == b


def test_mix_to_target_drops_unlisted_strata(spark):
    df = spark.createDataFrame(
        [(1, "en"), (2, "xx")], "doc_id long, lang string"
    )
    out = mix_to_target(df, "lang", {"en": 1.0}, id_col="doc_id", total=10)
    assert [r["doc_id"] for r in out.collect()] == [1]


# ---------------------------------------------------------------------------
# kernel parity: arrow fast path == expr oracle spec
# ---------------------------------------------------------------------------

def test_repetition_kernels_agree(spark):
    texts = [
        None, "", "   ", "a", "a b", "x x x x x x",
        "one two three one two three one two three",
        "Mixed CASE Mixed case tokens tokens",
        "unique words only in this sentence of sorts",
    ]
    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )
    key = lambda r: r["doc_id"]  # noqa: E731
    a = sorted(TX.repetition_profile(df, kernel="arrow").collect(), key=key)
    e = sorted(TX.repetition_profile(df, kernel="expr").collect(), key=key)
    assert [tuple(r) for r in a] == [tuple(r) for r in e]


def test_unigram_surprisal_separates_gibberish(spark):
    """Rare-word soup must score more bits/word than head-word
    boilerplate under the corpus's own unigram model; a doc whose words
    all share one frequency scores exactly -log2(cnt/total)."""
    from vervectordb_spark.operators.text import unigram_surprisal

    common = "the " * 50
    docs = [
        (0, common + "the the"),
        (1, "zyx qwv kjh"),          # singletons: rarest possible
        (2, common),
    ]
    df = spark.createDataFrame(docs, "doc_id bigint, text string")
    got = {r["doc_id"]: r for r in unigram_surprisal(df).collect()}
    assert got[1]["bits_per_word"] > got[0]["bits_per_word"]
    assert got[1]["n_words"] == 3
    import math
    total = 102 + 3  # 'the' x102 + 3 singletons
    want = round(round(-math.log2(1.0 / total), 9), 6)
    assert abs(got[1]["bits_per_word"] - want) < 1e-6


# ---------------------------------------------------------------------------
# interpolated bigram surprisal (text.bigram_surprisal)
# ---------------------------------------------------------------------------

def test_bigram_surprisal_sees_scrambled_word_order(spark):
    """The discriminative claim: a SHUFFLED copy of a repetitive
    natural-order corpus keeps (roughly) its unigram score but scores
    strictly higher on bigram surprisal — word-order damage is exactly
    what the bigram term adds over unigram_surprisal."""
    base = "the cat sat on the mat and the dog sat on the rug " * 4
    toks = base.split()
    scrambled = " ".join(toks[::2] + toks[1::2][::-1])
    bg = [(100 + i, "the cat sat on the mat and the dog sat on the rug")
          for i in range(20)]  # corpus mass pinning natural transitions
    docs = spark.createDataFrame(
        [(1, base.strip()), (2, scrambled)] + bg,
        "doc_id long, text string")
    out = {r["doc_id"]: r["bits_per_transition"]
           for r in TX.bigram_surprisal(docs).collect()}
    assert out[2] > out[1] + 0.5, out


def test_bigram_surprisal_short_docs_absent_and_counts(spark):
    docs = spark.createDataFrame(
        [(1, "only"), (2, ""), (3, "a b c d")],
        "doc_id long, text string")
    rows = {r["doc_id"]: r for r in TX.bigram_surprisal(docs).collect()}
    assert set(rows) == {3}
    assert rows[3]["n_transitions"] == 3


def test_bigram_surprisal_partitioning_independent(spark):
    docs = spark.createDataFrame(
        [(i, "alpha beta gamma delta " * (1 + i % 3)) for i in range(30)],
        "doc_id long, text string")
    a = sorted(map(tuple, TX.bigram_surprisal(docs).collect()))
    b = sorted(map(tuple,
                   TX.bigram_surprisal(docs.repartition(7)).collect()))
    assert a == b


def test_clamped_rate_strata_are_exact_keep(spark):
    """A stratum whose acceptance rate clamps to 1.0 keeps EVERY row —
    the keep predicate is (rate >= 1.0) OR (u < rate), so the ~128 hash
    values whose 60-bit draw rounds up to exactly 1.0 in the double cast
    can never be dropped from a keep-everything stratum (mirrored in the
    mix oracle SQL)."""
    df = spark.createDataFrame(
        [(i, "en" if i % 2 == 0 else "zh") for i in range(200)],
        "doc_id long, lang string")
    # en: target mass far above its 100 rows -> rate clamps to 1.0
    out = mix_to_target(df, "lang", {"en": 1.0, "zh": 0.0},
                        id_col="doc_id", total=10_000)
    assert out.filter(F.col("lang") == "en").count() == 100
    from vervectordb_spark.operators.sampling import mix_by_temperature
    # alpha=1 natural mix with total >= corpus -> every rate clamps to 1
    kept = mix_by_temperature(df, "lang", id_col="doc_id",
                              total=1_000, alpha=0.5)
    assert kept.count() == 200


def test_trigram_surprisal_sees_scrambled_word_order(spark):
    """The ladder's discriminative claim at order 3: a shuffled copy of
    a repetitive natural-order corpus scores strictly higher bits per
    transition than the natural original under the trigram mix."""
    base = "the cat sat on the mat and the dog sat on the rug " * 4
    toks = base.split()
    scrambled = " ".join(toks[::2] + toks[1::2][::-1])
    bg = [(100 + i, "the cat sat on the mat and the dog sat on the rug")
          for i in range(20)]
    docs = spark.createDataFrame(
        [(1, base.strip()), (2, scrambled)] + bg,
        "doc_id long, text string")
    out = {r["doc_id"]: r["bits_per_transition"]
           for r in TX.trigram_surprisal(docs).collect()}
    assert out[2] > out[1] + 0.5, out


@pytest.mark.deep
def test_trigram_surprisal_short_docs_and_partitioning(spark):
    docs = spark.createDataFrame(
        [(1, "a b"), (2, ""), (3, "a b c d e")],
        "doc_id long, text string")
    rows = {r["doc_id"]: r for r in TX.trigram_surprisal(docs).collect()}
    assert set(rows) == {3} and rows[3]["n_transitions"] == 3
    many = spark.createDataFrame(
        [(i, "alpha beta gamma delta epsilon " * (1 + i % 3))
         for i in range(30)], "doc_id long, text string")
    a = sorted(map(tuple, TX.trigram_surprisal(many).collect()))
    b = sorted(map(tuple,
                   TX.trigram_surprisal(many.repartition(7)).collect()))
    assert a == b


def test_ntile_bucket_sample_head_exact_keep_and_determinism(spark):
    """The CCNet bucket sampler: bucket-1 (head) at rate 1.0 keeps every
    row; buckets are a pure function of (score, id) so membership is
    identical under repartitioning; tail thins."""
    from vervectordb_spark.operators.sampling import ntile_bucket_sample

    rows = [(i, "en", float(i % 30)) for i in range(300)]
    df = spark.createDataFrame(rows, "doc_id long, lang string, s double")
    kw = dict(score_col="s", id_col="doc_id",
              rates={1: 1.0, 2: 0.5, 3: 0.1}, strata_col="lang")
    out = ntile_bucket_sample(df, **kw)
    got = {r["doc_id"]: r["bucket"] for r in out.collect()}
    head = {i for i, b in got.items() if b == 1}
    assert len(head) == 100            # tercile 1 kept WHOLE
    assert all(r[2] <= 9 for r in rows if r[0] in head)  # lowest scores
    n2 = sum(1 for b in got.values() if b == 2)
    n3 = sum(1 for b in got.values() if b == 3)
    assert 25 <= n2 <= 75 and n3 <= 30  # thinned middle/tail
    again = {r["doc_id"]: r["bucket"] for r in
             ntile_bucket_sample(df.repartition(7), **kw).collect()}
    assert again == got


# ---------------------------------------------------------------------------
# Kneser-Ney 5-gram rung (round-10)
# ---------------------------------------------------------------------------


def _kn5_reference(docs, D=0.75, prune=None):
    """Independent pure-Python interpolated KN-5 (Chen & Goodman shapes)
    to pin the Spark arithmetic."""
    import math
    import re
    from collections import Counter, defaultdict

    tok = lambda t: [w for w in ws_tokens_py(t)
                     if re.fullmatch(r"[a-z]+", w)]
    corpora = {d: tok(t) for d, t in docs}
    grams = {n: Counter() for n in (2, 3, 4, 5)}
    for toks in corpora.values():
        for n in (2, 3, 4, 5):
            for i in range(len(toks) - n + 1):
                grams[n][tuple(toks[i:i + n])] += 1
    c5 = grams[5]
    den5, n5 = Counter(), Counter()
    for g, c in c5.items():
        den5[g[:4]] += c
        n5[g[:4]] += 1
    def cont(n_above):
        cc = Counter()
        for g in grams[n_above]:
            cc[g[1:]] += 1
        den, nn = Counter(), Counter()
        for g, c in cc.items():
            den[g[:-1]] += c
            nn[g[:-1]] += 1
        return cc, den, nn
    cc4, den4, n4 = cont(5)
    cc3, den3, n3 = cont(4)
    cc2, den2, n2 = cont(3)
    cc1, _, _ = cont(2)
    t2 = len(grams[2])
    out = {}
    for d, toks in corpora.items():
        if len(toks) < 5:
            continue
        sbits = 0
        n_tr = 0
        for i in range(len(toks) - 4):
            g = tuple(toks[i:i + 5])
            p1 = cc1[g[4:]] / t2
            p2 = (max(cc2[g[3:]] - D, 0.0) / den2[g[3:4]]
                  + (D * n2[g[3:4]] / den2[g[3:4]]) * p1)
            p3 = (max(cc3[g[2:]] - D, 0.0) / den3[g[2:4]]
                  + (D * n3[g[2:4]] / den3[g[2:4]]) * p2)
            p4 = (max(cc4[g[1:]] - D, 0.0) / den4[g[1:4]]
                  + (D * n4[g[1:4]] / den4[g[1:4]]) * p3)
            c5v = c5[g] if (prune is None or c5[g] >= prune) else 0
            p5 = (max(c5v - D, 0.0) / den5[g[:4]]
                  + (D * n5[g[:4]] / den5[g[:4]]) * p4)
            sbits += round(-math.log2(p5), 9)
            n_tr += 1
        out[d] = (n_tr, round(sbits / n_tr, 6))
    return out


_KN_DOCS = [
    (1, "the cat sat on the mat and the cat sat on the rug"),
    (2, "the dog sat on the mat and the dog ran to the rug"),
    (3, "a completely different sentence structure appears right here now"),
    (4, "the cat sat on the mat and the cat sat on the mat again"),
    (5, "too short"),
]


def _kn5_rows(df, **kw):
    """kn5_surprisal(df).collect(), with the type tables it pins released
    even when the collect fails."""
    out = TX.kn5_surprisal(df, **kw)
    try:
        return out.collect()
    finally:
        release_checkpoint(out)


def test_kn5_matches_reference_implementation(spark):
    df = spark.createDataFrame(_KN_DOCS, "doc_id long, text string")
    got = {r["doc_id"]: (r["n_transitions"], r["bits_per_transition"])
           for r in _kn5_rows(df)}
    exp = _kn5_reference(_KN_DOCS)
    assert got == exp
    assert 5 not in got                       # <5 tokens -> no transitions


@pytest.mark.deep
def test_kn5_pruning_backs_off_not_crashes(spark):
    df = spark.createDataFrame(_KN_DOCS, "doc_id long, text string")
    got = {r["doc_id"]: (r["n_transitions"], r["bits_per_transition"])
           for r in _kn5_rows(df, prune_min_count=2)}
    exp = _kn5_reference(_KN_DOCS, prune=2)
    assert got == exp
    # pruned singles score HIGHER surprisal than unpruned (mass backed off)
    full = {r["doc_id"]: r["bits_per_transition"]
            for r in _kn5_rows(df)}
    assert got[3][1] > full[3]


def test_kn5_sees_scrambled_word_order(spark):
    base = ("the quick brown fox jumps over the lazy dog and then "
            "the quick brown fox jumps over the lazy dog again") * 3
    words = base.split()
    import random
    rng = random.Random(5)
    shuffled = words[:]
    rng.shuffle(shuffled)
    df = spark.createDataFrame(
        [(1, " ".join(words)), (2, " ".join(shuffled))],
        "doc_id long, text string")
    got = {r["doc_id"]: r["bits_per_transition"]
           for r in _kn5_rows(df)}
    assert got[2] > got[1]
