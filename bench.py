#!/usr/bin/env python
"""Benchmark driver — runs the headline queries at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and prints ONE
JSON line:

    {"metric": "...", "value": N, "unit": "sec", "queries": {...}, "sf": ...}

Anchors (BASELINE.md, measured reference on this machine):
  * brute-force exact search  77.90 ms/query (n=50k, dim=128, top_k=10,
    100 queries ⇒ 7.79 s total)  → `brute_force_100q`
  * IVF build 40.6 s / search 87.5 ms/query → `ivf_build`, `ivf_search_32q`
  * batch_insert 192k vec/s → ingest is parquet append (not timed here;
    dominated by the scan at these sizes)

Each query is forced with a noop-format write (full computation, no
driver-side materialization cost) or a bounded collect for top-k results.

Each query runs $SPARK_GRAFT_BENCH_REPEATS times (default 3) and reports
the MEDIAN — run-to-run JVM/GC noise at these sizes is ±30%, which
otherwise hides real regressions between rounds (the round-2 bench deltas
were pure noise on unchanged code). `repeats` also appears in the JSON so
rounds are comparable.
"""

from __future__ import annotations

import json
import os
import statistics
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))


def _cpu_ticks() -> tuple[int, int]:
    """(steal, total) jiffies from /proc/stat — shared-host CPU steal is
    the measured cause of cross-run bench spread on this class of box
    (r11: 1127 s of steal during one 12-min run inflated the median
    total 88 s → 128 s on unchanged code). Recording it per run lets a
    reader classify a slow artifact as host noise vs regression."""
    try:
        with open("/proc/stat") as f:
            parts = f.readline().split()
        vals = [int(x) for x in parts[1:]]
        steal = vals[7] if len(vals) > 7 else 0
        return steal, sum(vals)
    except Exception:  # noqa: BLE001 — non-Linux: no steal accounting
        return 0, 0


def _sf_of(sf_dir: str) -> float:
    tail = os.path.basename(sf_dir.rstrip("/"))
    try:
        return float(tail.replace("sf", ""))
    except ValueError:
        return -1.0


#: entries ALLOWED to leave persistent RDDs behind: each builds a cached
#: index/codes/state artifact on its first repeat (the "persisted index"
#: convention — build cost amortizes out of the serving median) that later
#: entries reuse. Everything else must leave the CacheManager exactly as
#: it found it; bench asserts this after every entry (finding #15).
KEEPS_STATE = frozenset({
    "ivf_build", "ivf_search_32q", "ivf_search_adaptive_32q",  # ivf holder
    "ann_build",                                   # sign-LSH signatures
    "rollup_refresh",                              # standing rollup state
    "embedding_outliers", "centroid_drift",        # frozen centroids
    "imi_search_1q", "imipq_search_1q",            # IMI layout + PQ codes
    "ivfpq_adc_8q", "ivfpq_residual_1q",           # PQ/residual codes
    "sq8_search_1q", "bq_search_1q",               # SQ8/BQ codes tables
    "bq_rotated_search_1q", "bq_learned32_search_1q",
    "dedup_semdedup",                              # semdedup k-means
    "ivf_search_real_32q",                         # real-geometry corpus
})


def _persistent_rdd_ids(spark) -> set[int]:
    """Ids of every RDD the JVM currently holds persisted (cache(),
    persist(), OR localCheckpoint — the round-9 leak class that
    DataFrame.unpersist() silently misses)."""
    jmap = spark.sparkContext._jsc.getPersistentRDDs()
    return {int(k) for k in jmap.keySet().toArray()}


def _force(df, limit: int | None = None) -> int:
    """Execute the plan. Bounded results are collected (the reference's
    search API materializes its top-k too); unbounded ones go to a noop sink
    so we time computation, not driver transfer."""
    if limit is not None:
        return len(df.limit(limit).collect())
    df.write.mode("overwrite").format("noop").save()
    return -1


def build_benches(spark, sf_dir: str):
    """name → thunk. Ordered: cheap scans first so JVM/codegen warmup noise
    lands on the cheapest query."""
    from pyspark.sql import functions as F

    from vervectordb_spark.functions.checkpoint import release_checkpoint
    from vervectordb_spark.operators import search as S
    from vervectordb_spark.operators.ivf import IVFIndex
    from vervectordb_spark.schema import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    docs = load_table(spark, sf_dir, "documents")
    try:
        # the sf100 fixture carries only documents+embeddings
        # (gen_sf_fixtures --tables, SCALE.md) — relational entries are
        # simply absent from that run's registry
        lineitem = load_table(spark, sf_dir, "lineitem")
    except Exception:
        lineitem = None

    qrow = emb.filter(F.col("vec_id") == 0).select("embedding").collect()
    qv = [float(x) for x in qrow[0][0]]

    benches: dict[str, callable] = {}
    # post-entry hooks: run ONCE after an entry's repeats finish, to
    # release any cached/checkpointed state the entry built. Cached
    # blocks pin storage memory for the REST of the run otherwise —
    # round 9's un-unpersisted span-gram localCheckpoint taxed every
    # later serving entry 1.3-2.2× (BENCH A/B, SCALE.md finding #15).
    cleanups: dict[str, callable] = {}

    def bench(name):
        def deco(fn):
            benches[name] = fn
            return fn
        return deco

    def cleanup(name):
        def deco(fn):
            cleanups[name] = fn
            return fn
        return deco

    @bench("point_lookup")
    def _point():
        return _force(S.point_lookup(emb, 42), limit=10)

    @bench("brute_force_topk")
    def _bf():
        return _force(S.brute_force_topk(emb, qv, top_k=10), limit=10)

    @bench("brute_force_100q")
    def _bf100():
        # BASELINE anchor: 100 queries × exact top-10 (77.9 ms/query ref).
        queries = emb.filter(F.col("vec_id") < 100).select(
            F.col("vec_id").alias("query_id"),
            F.col("embedding").alias("q_embedding"),
        )
        return _force(S.batch_topk(emb, queries, top_k=10, kernel="gemm"))

    @bench("filtered_topk")
    def _filtered():
        joined = emb.join(docs, emb.vec_id == docs.doc_id)
        return _force(
            S.filtered_search(
                joined, qv, top_k=10, keywords=["spark", "window"],
                metadata_filter=F.col("label") != 2,
            ),
            limit=10,
        )

    @bench("knn_self_join_top3")
    def _knn():
        return _force(S.knn_self_join(emb, top_k=3, kernel="gemm"))

    @bench("knn_self_join_lsh")
    def _knn_lsh():
        # the corpus-scale path: bucket-collision candidates instead of the
        # exact Q×N GEMM. bits="auto" holds bucket occupancy constant so
        # pair volume is t·N·c (linear in N) — fixed bits made 10× rows
        # cost 100× pairs (sf1: 25 s, slower than the exact GEMM's 13 s)
        from vervectordb_spark.operators.ann import SignLSHIndex

        idx = SignLSHIndex.build(emb, n_tables=4, bits="auto",
                                 target_occupancy=16)
        return _force(idx.self_join(top_k=3))

    _ivf_holder: list = []

    @bench("ivf_build")
    def _ivf_build():
        if _ivf_holder:  # repeat runs: drop the previous cached assignment
            _ivf_holder.pop().assigned.unpersist()
        idx = IVFIndex.build(emb, n_clusters=16, seed=42)
        idx.assigned.cache().count()  # materialize assignments, like the ref build
        _ivf_holder.append(idx)
        return idx.n_clusters

    @bench("ivf_search_32q")
    def _ivf_search():
        # one batched job for all 32 queries (a per-query driver loop pays
        # ~300ms Spark job overhead each — the loop, not the scan, is the
        # bottleneck; IVFIndex.batch_search amortizes it away)
        if not _ivf_holder:  # BENCH_ONLY runs without ivf_build
            _ivf_holder.append(IVFIndex.build(emb, n_clusters=16, seed=42))
        idx = _ivf_holder[0]
        queries = emb.filter(F.col("vec_id") < 32).select(
            F.col("vec_id").alias("query_id"),
            F.col("embedding").alias("q_embedding"),
        )
        return _force(idx.batch_search(queries, top_k=10, nprobe=8))

    _real_holder: list = []

    @bench("ivf_search_real_32q")
    def _ivf_search_real():
        # serving latency on REALISTIC embedding geometry (VERDICT r10
        # task #8): the RECALL.md encoder corpus — 50k synthetic docs
        # drawn from the fixture word frequencies, embedded with the
        # vendored int8 SGNS checkpoint's exact serving arithmetic
        # (anisotropic, heavy common directions; recall_sweep.py
        # provenance) — indexed once (occupancy-sized k, cached holder
        # state), then 32 queries through the batched IVF path at the
        # RECALL.md operating point (nprobe=4, recall 0.999 there).
        if not _real_holder:
            import numpy as np

            import duckdb as _dk

            from vervectordb_spark.operators.embed import load_checkpoint
            from vervectordb_spark.functions.words import WS_REGEX

            words, mat_w, dim = load_checkpoint()
            freq = dict(_dk.sql(
                "SELECT t, count(*) FROM (SELECT unnest(list_filter("
                f"regexp_split_to_array(lower(text), '{WS_REGEX}'), "
                "x -> x <> '')) t "
                "FROM '/root/testdata/sf0.01/documents.parquet"
                "') GROUP BY t").fetchall())
            rng = np.random.RandomState(7)
            w_idx = np.array([i for i, w in enumerate(words) if w in freq])
            pr = np.array([freq[words[i]] for i in w_idx], dtype=np.float64)
            pr /= pr.sum()
            n_corp = 50_000
            lens = rng.randint(30, 120, n_corp)
            mat = np.zeros((n_corp, dim), dtype=np.float32)
            for i in range(n_corp):
                idxs = w_idx[rng.choice(len(w_idx), size=lens[i], p=pr)]
                s = mat_w[idxs].sum(axis=0)
                n2 = float((s * s).sum())
                mat[i] = (s / np.sqrt(n2)).astype(np.float32) if n2 \
                    else 0.0
            corpus = spark.createDataFrame(
                [(i, mat[i].tolist()) for i in range(n_corp)],
                "vec_id long, embedding array<float>",
            ).repartition(32).cache()
            corpus.count()
            idx = IVFIndex.build(corpus, n_clusters=n_corp // 256,
                                 seed=42)
            idx.assigned.cache().count()
            _real_holder.append((corpus, idx))
        corpus, idx = _real_holder[0]
        queries = corpus.filter(F.col("vec_id") < 32).select(
            F.col("vec_id").alias("query_id"),
            F.col("embedding").alias("q_embedding"),
        )
        return _force(idx.batch_search(queries, top_k=10, nprobe=4))

    @bench("ivf_search_adaptive_32q")
    def _ivf_search_adaptive():
        # per-query probe budgets from centroid-similarity mass: an easy
        # query probes 1-2 clusters, a boundary query more (RECALL.md:
        # 0.96 recall at fixed-nprobe-8 cost on the reference corpus)
        if not _ivf_holder:  # BENCH_ONLY runs without ivf_build
            _ivf_holder.append(IVFIndex.build(emb, n_clusters=16, seed=42))
        idx = _ivf_holder[0]
        queries = emb.filter(F.col("vec_id") < 32).select(
            F.col("vec_id").alias("query_id"),
            F.col("embedding").alias("q_embedding"),
        )
        return _force(idx.batch_search(queries, top_k=10, nprobe="adaptive"))

    @bench("pricing_summary")
    def _tpch_q1():
        if lineitem is None:
            raise RuntimeError("fixture has no lineitem table")
        # Relational posture probe: full-scan group-by over the largest
        # fixture table (600k rows at sf0.1) — exercises scan + partial agg.
        out = (
            lineitem.filter(F.col("l_shipdate") <= F.lit("1998-09-02"))
            .groupBy("l_returnflag", "l_linestatus")
            .agg(
                F.sum("l_quantity").alias("sum_qty"),
                F.sum("l_extendedprice").alias("sum_base_price"),
                F.avg("l_discount").alias("avg_disc"),
                F.count("*").alias("count_order"),
            )
        )
        return _force(out, limit=100)

    # Optional benches — registered only when the operator modules exist.
    try:
        from vervectordb_spark.operators import dedup as D

        @bench("dedup_minhash")
        def _dedup():
            return _force(D.minhash_near_dup_pairs(docs, num_hashes=16, bands=4))

        @bench("dedup_exact")
        def _dedup_exact():
            return _force(D.exact_dup_groups(docs))

        @bench("dedup_simhash_pairs")
        def _dedup_simhash():
            return _force(D.simhash_near_dup_pairs(docs, max_hamming=3, bands=4))

        from vervectordb_spark.operators import spans as SP

        @bench("dedup_remove_spans")
        def _dedup_spans():
            # ExactSubstr span cut: map-only gram emit, one gram-key
            # shuffle, one doc-key rejoin — linear in corpus tokens
            return _force(SP.remove_duplicate_spans(docs, 8)
                          .select("doc_id", "n_tokens_removed"))

        _span_hist_holder: list = []

        @bench("dedup_spans_incremental")
        def _dedup_spans_inc():
            # daily-crawl ExactSubstr: new batch (2nd half of doc ids)
            # vs the persisted gram history of the 1st half. History is
            # a one-time state build (first repeat only, the ivf_build
            # convention); the timed steady state is |new| gram work +
            # one key join against state (SCALE.md finding #12)
            mid = docs.agg(
                F.expr("percentile_approx(doc_id, 0.5)")).collect()[0][0]
            if not _span_hist_holder:
                # cache (not localCheckpoint): registers in the
                # CacheManager so the post-entry cleanup's unpersist
                # actually frees the blocks
                h = SP.gram_history(
                    docs.filter(F.col("doc_id") < mid), 8).cache()
                h.count()
                _span_hist_holder.append(h)
            new = docs.filter(F.col("doc_id") >= mid).select("doc_id", "text")
            return _force(SP.incremental_remove_duplicate_spans(
                new, _span_hist_holder[0], 8)
                .select("doc_id", "n_tokens_removed"))

        @cleanup("dedup_spans_incremental")
        def _dedup_spans_inc_cleanup():
            # release the checkpointed gram history: its blocks pinned
            # storage memory through ~40 later entries in round 9
            if _span_hist_holder:
                _span_hist_holder.pop().unpersist()
    except ImportError:
        pass

    try:
        from vervectordb_spark.operators.ann import SignLSHIndex

        _ann_holder: list = []

        @bench("ann_build")
        def _ann_build():
            if _ann_holder:  # repeat runs: drop the previous cached signatures
                _ann_holder.pop().signed.unpersist()
            idx = SignLSHIndex.build(emb, n_tables=8, bits=6)
            idx.signed.cache().count()
            _ann_holder.append(idx)
            return idx.n_tables

        @bench("ann_search_8q")
        def _ann_search():
            # 8 queries through the batched path: ONE job (the r3 plan
            # audit showed the per-query driver loop paying ~300 ms Spark
            # scheduling each — 423 ms/query vs 33 ms/query batched)
            idx = _ann_holder[0]
            queries = emb.filter(F.col("vec_id") < 8).select(
                F.col("vec_id").alias("query_id"),
                F.col("embedding").alias("q_embedding"),
            )
            return _force(idx.batch_search(queries, top_k=10))

        @bench("ann_search_1q")
        def _ann_search_single():
            # per-query serving latency floor (kept so the latency story
            # stays measured, not just throughput)
            idx = _ann_holder[0]
            row = emb.filter(F.col("vec_id") == 0).select("embedding").collect()[0]
            return _force(idx.search([float(x) for x in row[0]], top_k=10), limit=10)

        @bench("ann_batch_32q")
        def _ann_batch():
            # throughput model: ONE job for 32 queries (first-match
            # candidate generation, no distinct/rejoin shuffles)
            idx = _ann_holder[0]
            queries = emb.filter(F.col("vec_id") < 32).select(
                F.col("vec_id").alias("query_id"),
                F.col("embedding").alias("q_embedding"),
            )
            return _force(idx.batch_search(queries, top_k=10))
    except ImportError:
        pass

    try:
        from vervectordb_spark.operators.embed import embed_documents

        @bench("text_embed")
        def _embed():
            # the default path — rides the Arrow kernel since r6
            return _force(embed_documents(docs, dim=32))

        @bench("text_embed_expr")
        def _embed_expr():
            # the oracle-replayable expr spec (bit-identical, slower) —
            # benched for the kernel-gap observability, never the default
            return _force(embed_documents(docs, dim=32, kernel="expr"))

        @bench("text_embed_arrow")
        def _embed_arrow():
            # explicit-kernel alias of the default — kept so BENCH history
            # comparisons across rounds stay apples-to-apples
            return _force(embed_documents(docs, dim=32, kernel="arrow"))
    except ImportError:
        pass

    try:
        from vervectordb_spark.operators import quality as Q

        _qf_weights: list = []

        @bench("quality_filter")
        def _quality_filter():
            # trained-classifier corpus scoring (the CCNet stage): train
            # ONCE on the bounded split (weights are KB-class driver state,
            # amortized across serving), then time the map-only
            # featurize → fold/sigmoid → filter pass over the whole corpus
            if not _qf_weights:
                tf = Q.training_frame(
                    docs.filter(F.col("doc_id") % 5 != 0), dim=64,
                    cap=100_000)
                _qf_weights.append(Q.train_quality_classifier(tf))
            w, b = _qf_weights[0]
            return _force(Q.quality_filter(docs, w, b, threshold=0.5,
                                           dim=64))
    except ImportError:
        pass

    try:
        from vervectordb_spark import queries_curation as QC

        @bench("curation_pipeline_trained")
        def _pipeline_trained():
            # the full curation chain incl. the trained stage (frozen
            # weights — no fitting in the timed path), ONE lazy plan
            return _force(QC.curation_pipeline_trained(spark, sf_dir),
                          limit=100)

        @bench("domain_mix_temperature")
        def _mix_temp():
            # shares ∝ sqrt(n) computed in-plan: one strata-sized count
            # agg + 5-row window + broadcast rate join + map-side filter
            return _force(QC.domain_mix_temperature(spark, sf_dir))
    except ImportError:
        pass

    try:
        from vervectordb_spark.operators.dedup import (
            embedding_contamination_pairs)
        from vervectordb_spark.operators.embed import (
            embed_documents as _ed2)

        @bench("decontam_embeddings")
        def _decontam_emb():
            # semantic decontamination: eval matrix broadcast into an
            # Arrow GEMM over the map-only train side + exact rescore.
            # Filter before embed (pushdown stops at mapInPandas), and
            # cap the eval side at the first 512 eval ids: real
            # benchmark suites are FIXED-size, while the fixture's %97
            # split grows with sf — uncapped, the sf10 entry measures
            # the |train|x|eval| split artifact (264 s), not the
            # operator (SCALE.md round-8 note)
            ev = _ed2(docs.filter((F.col("doc_id") % 97 == 0)
                                  & (F.col("doc_id") < 97 * 512)), dim=32)
            tr = _ed2(docs.filter(F.col("doc_id") % 97 != 0), dim=32)
            return _force(embedding_contamination_pairs(tr, ev, 0.90))
    except ImportError:
        pass

    try:
        from vervectordb_spark import queries_relational as QR

        @bench("revenue_by_nation")
        def _rev():
            return _force(QR.revenue_by_nation(spark, sf_dir), limit=100)

        @bench("events_hourly")
        def _ev_hourly():
            return _force(QR.events_hourly(spark, sf_dir))

        @bench("events_sessionize")
        def _ev_sess():
            return _force(QR.events_sessionize(spark, sf_dir))

        from vervectordb_spark.operators import rollup as _ru
        from vervectordb_spark.schema import load_events as _le

        _ru_holder: list = []

        @bench("rollup_refresh")
        def _rollup_refresh():
            # steady-state continuous-aggregate refresh: ONE batch (1/10
            # of events) partial-aggregated and merged into the cached
            # standing state — never a history rescan (the standing state
            # is built+cached on the first repeat)
            keys = ["hour_bucket", "event_type"]
            ev = _le(spark, sf_dir).withColumn(
                "hour_bucket", F.expr("ts div 3600000000000"))
            if not _ru_holder:
                state = _ru.merge_rollup(
                    _ru.partial_rollup(
                        ev.filter(F.col("event_id") % 10 != 0),
                        keys, "value", distinct_col="user_id"),
                    keys).cache()
                state.count()
                _ru_holder.append(state)
            batch = _ru.partial_rollup(
                ev.filter(F.col("event_id") % 10 == 0), keys, "value",
                distinct_col="user_id")
            merged = _ru.merge_rollup(
                _ru_holder[0].unionByName(batch), keys)
            return _force(_ru.finalize_rollup(merged))
    except ImportError:
        pass

    try:
        from vervectordb_spark import queries_tpch as QT

        @bench("tpch_q3_shipping")
        def _tpch_q3():
            # 3-way join + grouped revenue + top-10: the pre-aggregate-
            # before-join shape (shuffle carries orderkey groups, not rows)
            return _force(QT.tpch_shipping_priority(spark, sf_dir), limit=10)

        @bench("tpch_q18_large_volume")
        def _tpch_q18():
            return _force(QT.tpch_large_volume_customers(spark, sf_dir), limit=100)

        @bench("tpch_q8_market_share")
        def _tpch_q8():
            # widest relational shape in the suite: 7 joins (4 SF-scaling
            # shuffle sides + 3 broadcast dims) + per-year conditional agg
            return _force(QT.tpch_market_share(spark, sf_dir))
    except ImportError:
        pass

    try:
        from vervectordb_spark import queries_hybrid as QH

        @bench("hybrid_rrf_search")
        def _hybrid():
            # lexical top-50 (map-only integer tf) + dense top-50 (exact
            # cosine), RRF-fused; two TakeOrderedAndProject scans + a
            # 100-row fusion
            return _force(QH.hybrid_search_rrf(spark, sf_dir), limit=10)

        @bench("hybrid_batch_3q")
        def _hybrid_batch():
            # 3 hybrid queries in ONE plan: token explode -> broadcast term
            # join -> one (query, doc) shuffle + GEMM dense side
            from vervectordb_spark.operators import hybrid as HY

            term_table = spark.createDataFrame(
                QH._BATCH_TERMS, "query_id long, term string")
            queries = emb.filter(F.col("vec_id") < 3).select(
                F.col("vec_id").alias("query_id"),
                F.col("embedding").alias("q_embedding"))
            return _force(HY.hybrid_search_batch(
                docs, emb, term_table, queries, kernel="gemm"), limit=30)

        @bench("hybrid_ce_batch_4q")
        def _hybrid_ce_batch():
            # 4 trained-CE rerank queries in ONE plan (batch==single
            # parity pytest-pinned): bounded candidate slab x 4 queries,
            # Q-row broadcast of per-query state, one top-k window —
            # model cost stays |candidates|, corpus untouched
            from vervectordb_spark.operators import hybrid as HY2

            ce_queries = [(0, "spark table scan fast"),
                          (1, "window join revenue"),
                          (2, "the customer batch"),
                          (3, "parquet filter pushdown")]
            cand = docs.select("doc_id", "text").filter(
                F.col("doc_id") < 512)
            paired = cand.crossJoin(spark.createDataFrame(
                [(q,) for q, _ in ce_queries], "query_id long"))
            return _force(HY2.rerank_checkpoint_ce_batch(
                paired, ce_queries, top_k=10), limit=40)
    except ImportError:
        pass

    try:
        from vervectordb_spark import queries_sketch as QS

        @bench("events_hll_distinct")
        def _hll():
            # sketch path: per-type daily Datasketches HLL union vs direct,
            # KB-sized mergeable state per group instead of a distinct
            # shuffle of every (type, user) pair
            return _force(QS.events_hll_mergeable(spark, sf_dir))
    except ImportError:
        pass

    try:
        from vervectordb_spark.operators import text as TX

        @bench("text_profile")
        def _text():
            return _force(TX.profile(docs))

        @bench("vocab_top_ngrams")
        def _vocab():
            return _force(TX.top_ngrams(docs, n=1, top_k=20, by_col="lang"))

        @bench("repetition_profile")
        def _rep():
            # Gopher-style dup-word/dup-3gram rates: map-only array exprs
            return _force(TX.repetition_profile(docs))

        from vervectordb_spark.operators.bpe import train_bpe

        @bench("bpe_train_3merges")
        def _bpe():
            # tokenizer training: ONE corpus word-count job, then 3
            # pair-count/argmax/fold rounds on the distinct-word table
            # (corpus-size-independent iterations)
            merges, vocab = train_bpe(docs, n_merges=3)
            release_checkpoint(vocab)  # DataFrame.unpersist() is a no-op
            return len(merges)

        from vervectordb_spark.operators.bpe import encode_documents

        @bench("bpe_encode_docs")
        def _bpe_encode():
            # corpus tokenization under a trained vocab: map-only word
            # explode + 2 broadcast vocab joins — zero corpus shuffles
            _m, vocab = train_bpe(docs, n_merges=3)
            n = encode_documents(docs, vocab).count()
            release_checkpoint(vocab)
            return n

        from vervectordb_spark.operators.text import unigram_surprisal

        @bench("unigram_surprisal")
        def _surprisal():
            # corpus unigram fit + broadcast join + one groupBy(doc)
            return _force(unigram_surprisal(docs))

        from vervectordb_spark.operators.text import bigram_surprisal

        @bench("bigram_surprisal")
        def _bigram_surprisal():
            # interpolated bigram LM: broadcast unigram + key-partitioned
            # bigram join + one groupBy(doc). Pins nothing; the release
            # is the defensive bpe/ulm convention (a no-op here)
            out = bigram_surprisal(docs)
            try:
                return _force(out)
            finally:
                release_checkpoint(out)

        from vervectordb_spark.operators.text import trigram_surprisal

        @bench("trigram_surprisal")
        def _trigram_surprisal():
            # the JM ladder's last rung (SCALE.md finding #13): trigram,
            # bigram and unigram types each counted from the staged
            # tokens; pins nothing (defensive release, a no-op)
            out = trigram_surprisal(docs)
            try:
                return _force(out)
            finally:
                release_checkpoint(out)

        from vervectordb_spark.operators.text import kn5_surprisal

        @bench("kn5_surprisal")
        def _kn5_surprisal():
            # the KenLM-class rung (finding #16): 5-gram types counted
            # once, c4/c3/c2 + continuation tables derived per type (r12)
            out = kn5_surprisal(docs)
            try:
                return _force(out)
            finally:
                # its four pinned type tables, also when _force raises
                release_checkpoint(out)

        from vervectordb_spark.operators import ulm as ULM

        @bench("ulm_encode_docs")
        def _ulm_encode():
            # corpus tokenization under the committed unigram-LM model:
            # distinct-word Viterbi (Arrow kernel, inventory broadcast)
            # + map-only positional join — the bpe_encode_docs twin for
            # the second tokenizer family
            scores, max_len = ULM.load_ulm_model()
            out = ULM.encode_documents(docs, scores=scores,
                                       max_len=max_len)
            n = _force(out)
            release_checkpoint(out)  # frees the distinct-word checkpoint
            return n
    except ImportError:
        pass

    try:
        from vervectordb_spark.operators.ivf import (
            centroid_drift,
            cluster_outliers,
        )
        from vervectordb_spark.operators.search import hard_negatives

        _cent_holder: list = []

        def _frozen_cent():
            if not _cent_holder:
                c = emb.filter(F.col("vec_id") < 16).select(
                    F.col("vec_id").cast("int").alias("cluster_id"),
                    F.col("embedding").cast("array<double>").alias("centroid"),
                ).cache()
                c.count()
                _cent_holder.append(c)
            return _cent_holder[0]

        @bench("embedding_outliers")
        def _outliers():
            # broadcast assign + k-row moment stats + per-cluster window
            return _force(cluster_outliers(emb, _frozen_cent(), worst_k=3))

        @bench("centroid_drift")
        def _drift():
            # ONE wide aggregate of 2*dim decimal sums + k-row join
            return _force(centroid_drift(emb, _frozen_cent(), dim=len(qv)))

        from vervectordb_spark.operators.imi import IMIIndex

        _imi_holder: list = []

        @bench("imi_search_1q")
        def _imi():
            # two-level coarse quantizer serving: 2x2 rectangle probe of
            # 64 cells (16 trained centroids), exact rescore inside.
            # Build is a one-time cost cached on the first repeat.
            if not _imi_holder:
                idx = IMIIndex.build(emb, k1=8, k2=8, dim=len(qv), seed=42)
                idx.assigned.cache().count()  # the persisted layout
                _imi_holder.append(idx)
            return _force(_imi_holder[0].search(qv, top_k=10, a=2, b=2),
                          limit=10)

        _imipq_holder: list = []

        @bench("imipq_search_1q")
        def _imipq():
            # IMI-PQ composed serving: rectangle probe -> ADC over PQ
            # codes inside probed cells -> exact rerank. Build + encode
            # are one-time costs cached on the first repeat.
            from vervectordb_spark.operators.pq import PQCodec

            if not _imi_holder:
                idx = IMIIndex.build(emb, k1=8, k2=8, dim=len(qv), seed=42)
                idx.assigned.cache().count()
                _imi_holder.append(idx)
            if not _imipq_holder:
                codec = PQCodec.fit(emb, dim=len(qv), n_subquantizers=8,
                                    codebook_size=16, seed=42)
                enc = codec.encode(_imi_holder[0].assigned).select(
                    "vec_id", "cell1", "cell2", "pq_code").cache()
                enc.count()
                _imipq_holder.append((codec, enc))
            codec, enc = _imipq_holder[0]
            return _force(
                _imi_holder[0].search_pq(
                    codec, enc, qv, top_k=10, a=2, b=2,
                    rerank=emb.select("vec_id", "embedding")),
                limit=10)

        @bench("hard_negatives_4q")
        def _hardneg():
            qs = emb.filter(F.col("vec_id") < 4).select(
                F.col("vec_id").alias("query_id"),
                F.col("embedding").alias("q_embedding"),
            )
            return _force(hard_negatives(emb, qs, top_k=5))
    except ImportError:
        pass

    try:
        from vervectordb_spark.queries_curation import (
            decontaminate_ngrams as _decon,
        )
        from vervectordb_spark.queries_tpch import (
            tpch_product_type_profit as _q9,
        )

        @bench("decontam_ngrams")
        def _decontam():
            # benchmark-overlap scan: explode 3-grams, broadcast the eval
            # set's distinct n-grams, one groupBy on doc_id
            return _force(_decon(spark, sf_dir))

        _semdedup_holder: list = []

        @bench("dedup_semdedup")
        def _semdedup():
            # cluster-bounded embedding near-dup (SemDeDup): k-means with
            # k sized for ~256-row cluster occupancy (constant per-row
            # work at any N — a FIXED k is quadratic at scale), then
            # per-cluster blocked-GEMM pair scoring. The k-means fit is a
            # one-time build cost (first repeat only, like ivf_build).
            from vervectordb_spark.operators.dedup import within_cluster_pairs

            if not _semdedup_holder:
                n = emb.count()
                k = max(8, n // 256)
                _semdedup_holder.append(
                    IVFIndex.build(emb, n_clusters=k, seed=42)
                )
            idx = _semdedup_holder[0]
            return _force(within_cluster_pairs(
                idx.assigned, threshold=0.9, kernel="gemm"
            ))

        @bench("tpch_q9_profit")
        def _tpch9():
            # heaviest new TPC-H shape: lineitem ⋈ orders fact-fact join
            # + 3 dim joins, grouped by (nation, year)
            return _force(_q9(spark, sf_dir))
    except ImportError:
        pass

    try:
        from vervectordb_spark.operators.pq import PQCodec

        @bench("pq_train_encode")
        def _pq():
            codec = PQCodec.fit(emb, dim=len(qv), n_subquantizers=8,
                                codebook_size=16, seed=42)
            return _force(codec.encode(emb).select("vec_id", "pq_code"))

        _ivfpq_holder: list = []

        @bench("ivfpq_adc_8q")
        def _ivfpq():
            # flagship serving path: cluster probe -> ADC over codes in
            # probed clusters -> top-k. Codec fit + encode are one-time
            # index-build costs (first repeat only; the median reads the
            # steady-state search repeats).
            if not _ivf_holder:  # BENCH_ONLY runs without ivf_build
                _ivf_holder.append(IVFIndex.build(emb, n_clusters=16, seed=42))
            if not _ivfpq_holder:
                codec = PQCodec.fit(emb, dim=len(qv), n_subquantizers=8,
                                    codebook_size=16, seed=42)
                encoded = codec.encode(_ivf_holder[0].assigned).select(
                    "vec_id", "cluster_id", "pq_code"
                ).cache()
                encoded.count()
                _ivfpq_holder.append((codec, encoded))
            codec, encoded = _ivfpq_holder[0]
            idx = _ivf_holder[0]
            # 8 queries through the batched ADC: one stacked-LUT broadcast,
            # ONE masked scan of the probed-cluster union (vs 8 driver-loop
            # jobs at ~300 ms scheduling each in r3)
            queries = emb.filter(F.col("vec_id") < 8).select(
                F.col("vec_id").alias("query_id"),
                F.col("embedding").alias("q_embedding"),
            )
            return _force(
                idx.batch_search_pq(codec, encoded, queries, top_k=10, nprobe=8)
            )

        _res_holder: list = []

        @bench("ivfpq_residual_1q")
        def _ivfpq_res():
            # residual IVF-PQ serving latency: probe -> fused-LUT ADC over
            # residual codes -> top-k. Fit + encode are one-time build
            # costs (first repeat only, like ivfpq_adc_8q).
            if not _ivf_holder:  # BENCH_ONLY runs without ivf_build
                _ivf_holder.append(IVFIndex.build(emb, n_clusters=16, seed=42))
            idx = _ivf_holder[0]
            if not _res_holder:
                codec = idx.fit_residual_codec(
                    n_subquantizers=8, codebook_size=16, seed=42
                )
                encoded = idx.encode_residual(codec).select(
                    "vec_id", "cluster_id", "pq_code"
                ).cache()
                encoded.count()
                _res_holder.append((codec, encoded))
            codec, encoded = _res_holder[0]
            return _force(
                idx.search_residual_pq(codec, encoded, qv, top_k=10, nprobe=8),
                limit=10,
            )
    except ImportError:
        pass

    try:
        from vervectordb_spark.functions.similarity import cosine_expr
        from vervectordb_spark.operators import sq
        from vervectordb_spark.operators.rerank import mmr_rerank

        _sq_holder: list = []

        def _sq_stats():
            if not _sq_holder:
                _sq_holder.append(sq.fit_sq_stats(emb).toPandas())
            return _sq_holder[0]

        @bench("sq8_encode")
        def _sq_encode():
            # fit (one min/max aggregate) + Arrow-kernel encode of the
            # whole corpus to uint8 codes (the 4x storage/scan reducer)
            stats_pdf = _sq_stats()
            fields = ", ".join(f"{f.name} {f.dataType.simpleString()}"
                               for f in emb.schema.fields)
            out = emb.mapInPandas(sq.encode_batches(stats_pdf),
                                  schema=f"{fields}, sq_code array<smallint>")
            return _force(out.select("vec_id", "sq_code"))

        _sq_coded_holder: list = []

        @bench("sq8_search_1q")
        def _sq_search():
            # steady-state asymmetric serving: the uint8 codes table is the
            # persisted artifact (encode is a one-time build cost, cached on
            # the first repeat); per query = Arrow ADC scan over codes ->
            # top-30 TakeOrderedAndProject -> exact rerank of 30 rows
            stats_pdf = _sq_stats()
            if not _sq_coded_holder:
                fields = ", ".join(f"{f.name} {f.dataType.simpleString()}"
                                   for f in emb.schema.fields)
                coded = emb.mapInPandas(
                    sq.encode_batches(stats_pdf),
                    schema=f"{fields}, sq_code array<smallint>",
                ).select("vec_id", "sq_code").cache()
                coded.count()
                # stats as a Spark frame, built once — the timed body
                # must measure the serving chain, not a pandas round-trip
                _sq_coded_holder.append((coded, spark.createDataFrame(stats_pdf)))
            coded, stats_df = _sq_coded_holder[0]
            out = sq.adc_search(coded, stats_df, qv,
                                top_k=10, rerank_factor=3, scorer="arrow",
                                rerank=emb)
            return _force(out, limit=10)

        from vervectordb_spark.operators import bq

        _bq_holder: list = []

        @bench("bq_encode")
        def _bq_encode():
            # fit (the same one min/max aggregate as SQ8) + Arrow-kernel
            # pack of the whole corpus to 60-bit sign words (16x reducer)
            thr_pdf = bq.fit_bq_thresholds(emb).toPandas()
            fields = ", ".join(f"{f.name} {f.dataType.simpleString()}"
                               for f in emb.schema.fields)
            out = emb.mapInPandas(bq.encode_batches(thr_pdf, 64),
                                  schema=f"{fields}, bq_code array<bigint>")
            return _force(out.select("vec_id", "bq_code"))

        @bench("bq_search_1q")
        def _bq_search():
            # steady-state Hamming serving: codes table is the persisted
            # artifact (built+cached on the first repeat); per query = an
            # integer-codegen bit_count(xor) scan over 2 BIGINTs/row ->
            # top-30 TakeOrderedAndProject -> exact rerank of 30 rows
            if not _bq_holder:
                thr = bq.fit_bq_thresholds(emb)
                thr_pdf = thr.toPandas()
                fields = ", ".join(f"{f.name} {f.dataType.simpleString()}"
                                   for f in emb.schema.fields)
                coded = emb.mapInPandas(
                    bq.encode_batches(thr_pdf, 64),
                    schema=f"{fields}, bq_code array<bigint>",
                ).select("vec_id", "bq_code").cache()
                coded.count()
                _bq_holder.append((coded, spark.createDataFrame(thr_pdf)))
            coded, thr_df = _bq_holder[0]
            out = bq.hamming_search(coded, thr_df, qv, top_k=10,
                                    rerank_factor=3, rerank=emb)
            return _force(out, limit=10)

        @bench("mmr_rerank_64")
        def _mmr():
            # diversify exact top-64 down to 10 (greedy is per-query over
            # the bounded pool; the corpus scan is the candidate fetch)
            cand = (emb.select("vec_id", cosine_expr("embedding", qv).alias("rel"),
                               "embedding")
                    .orderBy(F.desc("rel"), "vec_id").limit(64)
                    .withColumn("query_id", F.lit(0)))
            return _force(mmr_rerank(cand, k=10, lam=0.7), limit=10)

        from vervectordb_spark.operators.ivf import IVFIndex
        from vervectordb_spark.operators.search import prefix_topk

        @bench("mrl_search_1q")
        def _mrl():
            # Matryoshka prefix retrieval: candidate scan scores only the
            # first 16 of 64 dims (1/4 arithmetic, zero index state), exact
            # full-dim rerank of 30
            return _force(
                prefix_topk(emb, qv, top_k=10, prefix_dim=16, rerank_factor=3),
                limit=10,
            )

        _ivfsq_holder: list = []

        @bench("ivfsq_search_1q")
        def _ivfsq():
            # composed IVF-SQ8 serving (FAISS IVF_SQ8): probe 8/16 clusters
            # -> SQ8 quantized-domain scan over probed partitions only ->
            # exact rerank. Index build + encode are one-time costs cached
            # on the first repeat.
            if not _ivfsq_holder:
                idx = IVFIndex.build(emb, n_clusters=16, seed=42)
                stats_pdf = _sq_stats()
                # the PERSISTED index layout, sq8_search convention:
                # (cluster_id, vec_id, sq_code) columns of the stored
                # table, built once. Round-9's entry recomputed the
                # KMeans transform AND the SQ encode per repeat, and its
                # expr scorer re-PLANNED a dim-sized Catalyst decode tree
                # per query (~1 s of pure planning) — the Arrow scorer is
                # the documented serving path (sq.py docstring), the expr
                # path stays the oracle contract in queries_sq
                fields = ", ".join(
                    f"{f.name} {f.dataType.simpleString()}"
                    for f in idx.assigned.schema.fields)
                coded = (idx.assigned.mapInPandas(
                    sq.encode_batches(stats_pdf),
                    schema=f"{fields}, sq_code array<smallint>")
                    .select("cluster_id", "vec_id", "sq_code").cache())
                coded.count()
                _ivfsq_holder.append(
                    (idx, spark.createDataFrame(stats_pdf), coded))
            idx, stats_df, coded = _ivfsq_holder[0]
            probes = idx.probe_clusters_exact(qv, nprobe=8)
            probed = coded.filter(F.col("cluster_id").isin(probes))
            out = sq.adc_search(probed, stats_df, qv, top_k=10,
                                rerank_factor=3, scorer="arrow",
                                rerank=emb)
            return _force(out, limit=10)

        @cleanup("ivfsq_search_1q")
        def _ivfsq_cleanup():
            if _ivfsq_holder:
                _ivfsq_holder.pop()[2].unpersist()

        from vervectordb_spark.operators import rotation as hd

        _rotbq_holder: list = []

        @bench("bq_rotated_search_1q")
        def _rotbq():
            # rotated-BQ serving: HD rotation (log2(d) fused map-side
            # butterflies) balances per-dim distributions before the
            # midrange sign bits. Rotate + fit + encode are one-time build
            # costs cached on the first repeat; steady state is the same
            # 2-BIGINT/row Hamming scan + exact raw-cosine rerank as bq.
            if not _rotbq_holder:
                rotated = hd.with_rotation(emb, 64)
                thr = bq.fit_bq_thresholds(rotated, emb_col="emb_rot", dim=64)
                # materialize thresholds locally: rotated_bq_search calls
                # thr.toPandas(), which on the LAZY fit frame would re-run
                # the corpus rotation + min/max fit every benched query
                thr_local = spark.createDataFrame(thr.toPandas())
                coded = bq.with_codes(rotated, thr, 64, emb_col="emb_rot") \
                    .select("vec_id", "bq_code").cache()
                coded.count()
                _rotbq_holder.append((coded, thr_local))
            coded, thr = _rotbq_holder[0]
            # the PRODUCTION single-query serving path with the persisted
            # artifacts (thresholds + codes) passed in — steady state is
            # the TakeOrdered Hamming scan + exact raw-cosine rerank
            out = hd.rotated_bq_search(emb, qv, 64, top_k=10,
                                       rerank_factor=3,
                                       thresholds=thr, codes=coded)
            return _force(out, limit=10)

        from vervectordb_spark.operators import opq

        _opq_holder: list = []

        @bench("bq_learned32_search_1q")
        def _opqbq():
            # learned-rotation SHORT codes (32 of 64 bits): the PCA-prefix
            # regime where the trained transform beats the HD mix
            # (RECALL.md 'Short codes'). Fit + rotate + encode cached on
            # the first repeat; steady state is a 1-BIGINT/row Hamming
            # scan + exact raw-cosine rerank.
            if not _opq_holder:
                R = opq.fit_learned_rotation(emb, 64, seed=42,
                                             order_col="vec_id",
                                             mix="none")
                rot = opq.with_learned_rotation(emb, R, 64, kernel="arrow")
                short = rot.select(
                    "vec_id", F.slice("emb_lrot", 1, 32).alias("emb_lrot"))
                thr = bq.fit_bq_thresholds(short, emb_col="emb_lrot",
                                           dim=32)
                thr_local = spark.createDataFrame(thr.toPandas())
                coded = bq.with_codes(short, thr, 32, emb_col="emb_lrot") \
                    .select("vec_id", "bq_code").cache()
                coded.count()
                _opq_holder.append((R, thr_local, coded))
            R, thr, coded = _opq_holder[0]
            out = opq.learned_bq_search(emb, R, qv, 64, top_k=10,
                                        rerank_factor=3, code_bits=32,
                                        thresholds=thr, codes=coded)
            return _force(out, limit=10)
    except ImportError:
        pass

    try:
        from vervectordb_spark.operators.dedup import (
            winnow_overlap_pairs,
            winnow_table,
        )
        from vervectordb_spark.queries_relational import bloom_prune_join

        @bench("winnow_overlap")
        def _winnow():
            # MOSS fingerprint overlap: Arrow sliding-window-min kernel,
            # fp-bucket join with the stop-fingerprint drop
            fps = winnow_table(docs, kernel="arrow")
            return _force(winnow_overlap_pairs(fps, min_shared=2))

        @bench("bloom_prune_join")
        def _bloom():
            # semi-join reduction: dim-side bloom build (one job) + a
            # map-side codegen probe at the fact scan, then exact join
            return _force(bloom_prune_join(spark, sf_dir))
    except ImportError:
        pass

    return benches, cleanups


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    from vervectordb_spark.session import get_spark

    # size the INITIAL shuffle-partition count to the data, not the core
    # count: AQE coalesces small stages back down for free, but it can
    # only split what the map side produced — at sf100 a ~1e9-row
    # trigram/bigram hash aggregate over 32 partitions is ~30M rows per
    # reducer and dies with UNABLE_TO_ACQUIRE_MEMORY. The 100 TB posture
    # is a generous initial count + AQE coalesce (SCALE.md finding #14).
    sf = _sf_of(sf_dir)
    init_parts = min(1024, max(32, int(32 * (sf if sf > 0 else 1))))
    spark = get_spark("vervectordb-bench", extra_conf={
        "spark.sql.adaptive.coalescePartitions.initialPartitionNum":
            str(init_parts),
    })
    spark.sparkContext.setLogLevel("ERROR")
    spark.range(10_000).selectExpr("sum(id * 2)").collect()  # JVM warmup

    repeats = max(1, int(os.environ.get("SPARK_GRAFT_BENCH_REPEATS", "3")))
    benches, cleanups = build_benches(spark, sf_dir)
    # subset hooks for scale runs (e.g. skip the deliberately-quadratic
    # exact-GEMM baseline at sf10): comma-separated query names. Search
    # entries need their build entry (ivf_search/ivfpq need ivf_build,
    # ann_search/ann_batch need ann_build) — keep them together.
    only = {s for s in os.environ.get("SPARK_GRAFT_BENCH_ONLY", "").split(",") if s}
    skip = {s for s in os.environ.get("SPARK_GRAFT_BENCH_SKIP", "").split(",") if s}
    benches = {
        k: v for k, v in benches.items()
        if (not only or k in only) and k not in skip
    }
    steal0, total0 = _cpu_ticks()
    timings: dict[str, float] = {}
    dispersion: dict[str, list[float]] = {}
    entry_steal: dict[str, list[float]] = {}
    failed: list[str] = []
    leaks: dict[str, list[int]] = {}
    held = _persistent_rdd_ids(spark)  # pre-run baseline (normally empty)
    for name, thunk in benches.items():
        samples = []
        steals = entry_steal[name] = []
        try:
            for _ in range(repeats):
                es0, et0 = _cpu_ticks()
                t0 = time.perf_counter()
                thunk()
                samples.append(time.perf_counter() - t0)
                # per-REPEAT steal fraction (VERDICT r11 item 5): lets a
                # reader classify each repeat — and thus the median — as
                # burst-polluted or clean, mechanically
                es1, et1 = _cpu_ticks()
                steals.append(round((es1 - es0) / max(1, et1 - et0), 4))
        except Exception as e:  # noqa: BLE001 — one entry must not
            # abort the whole artifact; the failure is recorded, not
            # silently dropped
            print(f"bench entry {name} FAILED: {e}", file=sys.stderr)
            failed.append(name)
            continue
        finally:
            cl = cleanups.get(name)
            if cl is not None:
                try:
                    cl()
                except Exception as e:  # noqa: BLE001
                    print(f"cleanup for {name} failed: {e}",
                          file=sys.stderr)
            # state-hygiene check (SCALE.md finding #15, mechanically):
            # any persistent RDD this entry leaves behind must be a
            # DECLARED amortized-build artifact (KEEPS_STATE); anything
            # else is exactly the leak class that taxed ~40 downstream
            # entries 1.3-2.2x in round 9. Recorded in the artifact AND
            # shouted on stderr so a regression is visible both ways.
            now = _persistent_rdd_ids(spark)
            new_ids = sorted(now - held)
            if new_ids and name not in KEEPS_STATE:
                leaks[name] = new_ids
                print(f"STATE LEAK after {name}: persistent RDD ids "
                      f"{new_ids} not declared in KEEPS_STATE",
                      file=sys.stderr)
            held = now
        timings[name] = round(statistics.median(samples), 4)
        # per-entry dispersion: [min, median, max] over the repeats —
        # round-10's driver-vs-builder ±2x disagreement on sub-second
        # entries could not be classified as host noise because the
        # artifact recorded only the median (VERDICT r10 task #2)
        dispersion[name] = [round(min(samples), 4),
                            round(statistics.median(samples), 4),
                            round(max(samples), 4)]

    steal1, total1 = _cpu_ticks()
    total = round(sum(timings.values()), 4)
    out = {
        "metric": "bench_total",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "sf": _sf_of(sf_dir),
        "repeats": repeats,
        "dispersion": dispersion,
        # host-noise classifier: fraction of this run's CPU jiffies the
        # hypervisor stole from the guest (see _cpu_ticks docstring)
        "host_steal_ticks": steal1 - steal0,
        "host_steal_frac": round((steal1 - steal0)
                                 / max(1, total1 - total0), 4),
        # per-repeat steal fractions, aligned with each entry's repeats
        # (additive, VERDICT r11 item 5): a slow repeat with high steal is
        # host noise; slow repeats at ~0 steal are a real regression
        "entry_steal": {k: v for k, v in entry_steal.items() if v},
    }
    if failed:
        out["failed"] = failed
    if leaks:
        out["state_leaks"] = leaks
    print(json.dumps(out))


if __name__ == "__main__":
    main()
