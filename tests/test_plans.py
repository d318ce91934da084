"""Plan-shape regression tests: the optimizer behaviors the engine's 100 TB
posture depends on, pinned as assertions (SURVEY.md §4 — what the
reference hand-codes, Catalyst must provably provide here)."""

import pytest
from pyspark.sql import functions as F

from tests.conftest import SF_DIR
from vervectordb_spark.operators import search as S
from vervectordb_spark.plans import audit as A
from vervectordb_spark.schema import load_table


@pytest.fixture(scope="module", autouse=True)
def _fresh_plans(spark):
    """Other modules cache() the same parquet scans; a cache hit swaps the
    FileScan (and its PushedFilters) for InMemoryTableScan and breaks scan
    assertions. Plan tests must see cold plans."""
    spark.catalog.clearCache()
    yield


@pytest.fixture(scope="module")
def emb(spark):
    return load_table(spark, SF_DIR, "embeddings")


@pytest.fixture(scope="module")
def qv(emb):
    row = emb.filter(F.col("vec_id") == 0).select("embedding").collect()
    return [float(x) for x in row[0][0]]


def test_topk_is_take_ordered_not_global_sort(emb, qv):
    plan = A.physical_plan(S.brute_force_topk(emb, qv, 10))
    A.assert_operator(plan, "TakeOrderedAndProject")
    # top-k must not shuffle: per-partition heaps merge at the driver
    A.assert_no_shuffle(plan)


def test_metadata_filter_is_pushed_to_scan(emb, qv):
    plan = A.physical_plan(
        S.brute_force_topk(emb, qv, 10, pre_filter=F.col("label").isin(1, 3))
    )
    A.assert_pushed_filter(plan, "label")


def test_column_pruning_reads_only_needed_columns(emb, qv):
    plan = A.physical_plan(S.brute_force_topk(emb, qv, 10))
    # label is not projected -> the scan must not read it
    A.assert_read_schema_only(plan, {"vec_id", "embedding"})


def test_point_lookup_pushes_id_equality(emb):
    plan = A.physical_plan(S.point_lookup(emb, 42))
    A.assert_pushed_filter(plan, "vec_id")


def test_dim_join_broadcasts(spark):
    nat = load_table(spark, SF_DIR, "nation")
    cust = load_table(spark, SF_DIR, "customer")
    plan = A.physical_plan(
        cust.join(F.broadcast(nat), cust.c_nationkey == nat.n_nationkey)
    )
    A.assert_broadcast_join(plan)
    A.assert_not_operator(plan, "SortMergeJoin")


def test_scoring_projection_is_map_only(emb, qv):
    """Similarity scoring (the ingest-time/scan-time hot path) must be a
    pure projection: no exchange, one codegen span over scan+project."""
    from vervectordb_spark.functions.similarity import cosine_expr

    scored = emb.select("vec_id", cosine_expr(F.col("embedding"), qv).alias("sim"))
    plan = A.physical_plan(scored)
    A.assert_no_shuffle(plan)
    assert A.codegen_stage_count(plan) >= 1


def test_ivf_probe_prunes_partitions(spark, emb, tmp_path):
    """The persisted IVF layout: probing clusters reads ONLY the probed
    partition directories (partition pruning at plan time — the Spark
    equivalent of the reference's inverted lists)."""
    from vervectordb_spark.operators.ivf import IVFIndex

    idx = IVFIndex.build(emb, n_clusters=4, seed=42)
    path = str(tmp_path / "ivf_store")
    idx.save(path)
    loaded = IVFIndex.load(spark, path)
    probed = loaded.assigned.filter(F.col("cluster_id").isin([0, 1]))
    plan = A.physical_plan(probed)
    # partition filters appear in the scan node, not PushedFilters
    assert "PartitionFilters" in plan and "cluster_id" in plan.split("PartitionFilters", 1)[1][:200]


def test_ivf_load_search_reads_only_probed_partitions(spark, emb, qv, tmp_path):
    """Files-read proof for the persisted layout (verdict task #10): the
    load→search path must touch only the probed cluster directories —
    runtime scan metrics, not just plan text."""
    import glob

    from vervectordb_spark.operators.ivf import IVFIndex

    idx = IVFIndex.build(emb, n_clusters=4, seed=42)
    path = str(tmp_path / "ivf_prune_metrics")
    idx.save(path)
    loaded = IVFIndex.load(spark, path)
    out = loaded.search(qv, top_k=5, nprobe=2)

    plan = A.physical_plan(out)
    assert "PartitionFilters" in plan
    assert "cluster_id" in plan.split("PartitionFilters", 1)[1][:200]

    metrics = A.executed_scan_metrics(out)
    assert 1 <= metrics["numPartitions"] <= 2  # nprobe=2 of 4 clusters
    on_disk = glob.glob(f"{path}/vectors_by_cluster/cluster_id=*/*.parquet")
    assert metrics["numFiles"] < len(on_disk)


def test_group_by_has_partial_aggregation(spark):
    li = load_table(spark, SF_DIR, "lineitem")
    agg = li.groupBy("l_returnflag").agg(F.count("*").alias("n"))
    plan = A.physical_plan(agg)
    # two HashAggregate nodes (partial + final) around one exchange
    assert plan.count("HashAggregate") >= 2
    assert A.count_shuffles(plan) == 1


def test_pricing_summary_single_shuffle(spark):
    from vervectordb_spark.queries_relational import pricing_summary

    plan = A.physical_plan(pricing_summary(spark, SF_DIR))
    assert A.count_shuffles(plan) == 1


def test_adc_search_is_take_ordered_not_global_window(spark, emb):
    """ADC candidate ranking must be TakeOrderedAndProject (per-partition
    heaps), NOT a row_number over a no-partition window — that funnels
    every candidate through one partition at scale."""
    import numpy as np
    from vervectordb_spark.operators.pq import PQCodec

    codec = PQCodec.fit(emb, dim=64, n_subquantizers=8, codebook_size=16,
                        seed=42, sample_size=200)
    encoded = codec.encode(emb)
    qv = [0.1] * 64
    plan = A.physical_plan(codec.adc_search(encoded, qv, top_k=5))
    A.assert_operator(plan, "TakeOrderedAndProject")
    A.assert_not_operator(plan, "Window")
    A.assert_no_shuffle(plan)


def test_merge_upsert_small_source_broadcasts(spark, emb):
    """MERGE with a small change batch must anti-join via broadcast —
    no shuffle of the (huge) target side."""
    from vervectordb_spark.operators.merge import merge_upsert

    source = emb.filter(F.col("vec_id") < 5)
    plan = A.physical_plan(merge_upsert(emb, F.broadcast(source), "vec_id"))
    assert "BroadcastHashJoin" in plan and "LeftAnti" in plan
    A.assert_not_operator(plan, "SortMergeJoin")


def test_pack_summary_bounded_shuffles(spark):
    """Packing = one window shuffle per stream key; the per-bin group-by
    reuses that partitioning (grouping keys ⊇ window partition keys)."""
    from vervectordb_spark.operators.packing import pack_summary

    docs = load_table(spark, SF_DIR, "documents")
    plan = A.physical_plan(pack_summary(
        docs, token_col="n_chars", budget=4000,
        order_col="doc_id", stream_col="lang",
    ))
    assert A.count_shuffles(plan) <= 2


def test_signlsh_persisted_bucket0_probe_prunes(spark, emb, qv, tmp_path):
    """The persisted sign-LSH layout: a single-table (bucket_0) probe on
    the loaded index reads only that bucket's partition directory —
    runtime scan metrics, same proof as the IVF layout."""
    import glob

    from vervectordb_spark.operators.ann import SignLSHIndex

    idx = SignLSHIndex.build(emb, n_tables=2, bits=4)
    path = str(tmp_path / "signlsh_prune")
    idx.save(path)
    loaded = SignLSHIndex.load(spark, path)
    b0 = loaded.query_buckets(qv)[0]
    probe = loaded.signed.filter(F.col("bucket_0") == b0)
    metrics = A.executed_scan_metrics(probe)
    dirs_on_disk = len(glob.glob(f"{path}/signed/bucket_0=*"))
    assert metrics["numPartitions"] == 1 < dirs_on_disk


# ---------------------------------------------------------------------------
# TPC-H breadth (queries_tpch.py): the plan shapes that keep the classic
# decision-support queries scan-bound at 100 TB
# ---------------------------------------------------------------------------


def test_tpch_q3_takeordered_and_pushdown(spark):
    from vervectordb_spark.queries_tpch import tpch_shipping_priority

    plan = A.physical_plan(tpch_shipping_priority(spark, SF_DIR))
    A.assert_operator(plan, "TakeOrderedAndProject")  # top-10, no global sort
    A.assert_pushed_filter(plan, "l_shipdate")        # date reaches the scan
    A.assert_pushed_filter(plan, "c_mktsegment")      # segment reaches the scan


def test_tpch_q4_semi_join(spark):
    from vervectordb_spark.queries_tpch import tpch_order_priority

    plan = A.physical_plan(tpch_order_priority(spark, SF_DIR))
    assert "LeftSemi" in plan, plan[:2000]            # EXISTS stays a semi-join
    A.assert_pushed_filter(plan, "l_returnflag")


def test_tpch_q7_double_nation_broadcast(spark):
    from vervectordb_spark.queries_tpch import tpch_volume_shipping

    plan = A.physical_plan(tpch_volume_shipping(spark, SF_DIR))
    A.assert_broadcast_join(plan)
    # both nation aliases broadcast: two BroadcastExchanges minimum
    assert plan.count("BroadcastExchange") >= 2, plan[:3000]


def test_tpch_q18_preaggregates_before_join(spark):
    from vervectordb_spark.queries_tpch import tpch_large_volume_customers

    df = tpch_large_volume_customers(spark, SF_DIR)
    plan = A.physical_plan(df)
    A.assert_operator(plan, "TakeOrderedAndProject")
    # the HAVING filter must run on the AGGREGATED rows (one per orderkey),
    # i.e. appear as a post-agg Filter, not a pushed scan predicate
    assert "HashAggregate" in plan


def test_tpch_q22_anti_join_no_driver_collect(spark):
    from vervectordb_spark.queries_tpch import tpch_top_acctbal_no_orders

    plan = A.physical_plan(tpch_top_acctbal_no_orders(spark, SF_DIR))
    assert "LeftAnti" in plan, plan[:2000]            # NOT EXISTS anti-join
    # the global average arrives via a broadcast 1-row agg, not a collect
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastExchange" in plan


def test_tpch_q5_intra_nation_region_broadcast(spark):
    from vervectordb_spark.queries_tpch import tpch_local_supplier_volume

    plan = A.physical_plan(tpch_local_supplier_volume(spark, SF_DIR))
    A.assert_broadcast_join(plan)                     # nation⋈region dim
    A.assert_pushed_filter(plan, "o_orderdate")       # year reaches the scan
    A.assert_pushed_filter(plan, "r_name")


def test_tpch_q6_single_scan_all_filters_pushed(spark):
    from vervectordb_spark.queries_tpch import tpch_forecast_revenue

    plan = A.physical_plan(tpch_forecast_revenue(spark, SF_DIR))
    # every predicate reaches the parquet scan
    for col in ("l_shipdate", "l_discount", "l_quantity"):
        A.assert_pushed_filter(plan, col)
    A.assert_not_operator(plan, "SortMergeJoin")      # no join at all
    A.assert_not_operator(plan, "BroadcastHashJoin")
    # only the single agg exchange moves data
    assert A.count_shuffles(plan) <= 1, plan[:3000]


def test_tpch_q13_preaggregates_orders_before_outer_join(spark):
    from vervectordb_spark.queries_tpch import tpch_customer_distribution

    df = tpch_customer_distribution(spark, SF_DIR)
    plan = A.physical_plan(df)
    # the left join must see the PRE-AGGREGATED per-custkey counts, so a
    # HashAggregate appears below the outer join in the plan text
    assert "HashAggregate" in plan
    assert "LeftOuter" in plan or "BuildRight" in plan, plan[:3000]
    A.assert_pushed_filter(plan, "o_orderpriority")


def test_tpch_q15_max_via_broadcast_not_collect(spark):
    from vervectordb_spark.queries_tpch import tpch_top_supplier

    plan = A.physical_plan(tpch_top_supplier(spark, SF_DIR))
    # the global max arrives as a broadcast 1-row aggregate
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastExchange" in plan
    A.assert_not_operator(plan, "Window")             # no global window
    A.assert_pushed_filter(plan, "l_shipdate")


def test_tpch_q17_decorrelated_single_lineitem_avg(spark):
    from vervectordb_spark.queries_tpch import tpch_small_qty_revenue

    plan = A.physical_plan(tpch_small_qty_revenue(spark, SF_DIR))
    assert "LeftSemi" in plan, plan[:3000]            # brand prune is a semi
    assert "HashAggregate" in plan                    # per-part avg, once


def test_tpch_q19_brand_envelope_pushed(spark):
    from vervectordb_spark.queries_tpch import tpch_discounted_revenue

    plan = A.physical_plan(tpch_discounted_revenue(spark, SF_DIR))
    # the derivable envelopes reach both scans even though the OR can't
    A.assert_pushed_filter(plan, "p_brand")
    A.assert_pushed_filter(plan, "l_quantity")


def test_tpch_q21_decorrelated_no_per_row_rescan(spark):
    from vervectordb_spark.queries_tpch import tpch_waiting_suppliers

    plan = A.physical_plan(tpch_waiting_suppliers(spark, SF_DIR))
    A.assert_operator(plan, "TakeOrderedAndProject")
    assert "LeftSemi" in plan, plan[:3000]            # both EXISTS as semis
    # decorrelation: lineitem aggregates ONCE (distinct-count pair), it is
    # not re-scanned per outer row — no nested-loop join against lineitem
    A.assert_not_operator(plan, "CartesianProduct")


def test_sketch_quantile_rank_check_broadcasts_not_collects(spark):
    from vervectordb_spark.queries_sketch import events_quantile_bound

    plan = A.physical_plan(events_quantile_bound(spark, SF_DIR))
    # the 1-row approx aggregate reaches the rank re-scan as a broadcast
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastExchange" in plan
    A.assert_not_operator(plan, "CartesianProduct")
    A.assert_pushed_filter(plan, "value")             # isNotNull reaches scan


def test_tpch_q16_distinct_agg_not_raw_shuffle(spark):
    from vervectordb_spark.queries_tpch import tpch_parts_supplier_counts

    plan = A.physical_plan(tpch_parts_supplier_counts(spark, SF_DIR))
    # two-phase distinct: partial aggregates run before the exchange
    assert plan.count("HashAggregate") >= 2, plan[:3000]
    A.assert_pushed_filter(plan, "p_brand")
    A.assert_pushed_filter(plan, "p_size")


def test_tpch_q20_two_level_agg_shares_scan(spark):
    from vervectordb_spark.queries_tpch import tpch_dominant_suppliers

    plan = A.physical_plan(tpch_dominant_suppliers(spark, SF_DIR))
    A.assert_operator(plan, "TakeOrderedAndProject")
    assert "LeftSemi" in plan, plan[:3000]      # PROMO prune is a semi
    A.assert_not_operator(plan, "Window")       # totals via agg, not window


# ---------------------------------------------------------------------------
# curation queries (round 5): plan shapes for the 100 TB posture
# ---------------------------------------------------------------------------

def test_repetition_profile_is_map_only(spark):
    from vervectordb_spark.operators.text import repetition_profile

    docs = load_table(spark, SF_DIR, "documents")
    for kernel in ("arrow", "expr"):
        plan = A.physical_plan(repetition_profile(docs, kernel=kernel))
        A.assert_no_shuffle(plan)  # profiling 100 TB = one scan projection


def test_decontaminate_broadcasts_benchmark_side(spark):
    from vervectordb_spark.queries_curation import decontaminate_ngrams

    plan = A.physical_plan(decontaminate_ngrams(spark, SF_DIR))
    # the eval-suite n-gram set is the broadcast side; the corpus n-grams
    # must NOT shuffle into a sort-merge join. The allowed exchanges are
    # all small or post-prune: benchmark-side distinct (eval-suite sized),
    # the doc_id aggregate over join survivors, and the output sort.
    A.assert_broadcast_join(plan)
    A.assert_not_operator(plan, "SortMergeJoin")
    # budget counts DATA-KEYED exchanges; the conditional round-robin
    # widener splits on the narrow fixture scans sit outside it
    assert A.keyed_shuffle_count(plan) <= 3, plan[:3000]


def test_mix_to_target_rates_broadcast_no_extra_shuffle(spark):
    from vervectordb_spark.operators.sampling import mix_to_target

    docs = load_table(spark, SF_DIR, "documents")
    out = mix_to_target(docs, "lang", {"en": 0.5, "zh": 0.5},
                        id_col="doc_id", total=100)
    plan = A.physical_plan(out)
    A.assert_broadcast_join(plan)  # tiny rate table joins map-side
    # one shuffle for the per-stratum counts; the corpus scan itself
    # never repartitions
    assert A.count_shuffles(plan) <= 1


def test_pii_scrub_is_map_only(spark):
    from vervectordb_spark.operators.pii import redact

    docs = load_table(spark, SF_DIR, "documents")
    plan = A.physical_plan(redact(docs))
    A.assert_no_shuffle(plan)


def test_tpch_q9_prefilters_part_before_fact_join(spark):
    from vervectordb_spark.queries_tpch import tpch_product_type_profit

    plan = A.physical_plan(tpch_product_type_profit(spark, SF_DIR))
    # the p_name LIKE filter must reach the part scan (semi-filter prunes
    # lineitem before the fact-fact join with orders)
    A.assert_pushed_filter(plan, "p_name")
    A.assert_operator(plan, "BroadcastHashJoin")


def test_semdedup_single_cluster_shuffle_broadcast_centroids(spark):
    from vervectordb_spark.operators.dedup import semdedup_pairs

    emb = load_table(spark, SF_DIR, "embeddings")
    cent = emb.filter(F.col("vec_id") < 4).select(
        F.col("vec_id").cast("int").alias("cluster_id"),
        F.transform("embedding", lambda x: x.cast("double")).alias("centroid"),
    )
    plan = A.physical_plan(semdedup_pairs(emb, cent))
    # centroids ride a broadcast; the only data-volume shuffle keys the
    # self-join sides on cluster_id (window partitioning reuses it)
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan
    A.assert_not_operator(plan, "CartesianProduct")


def test_bloom_prune_filter_sits_below_join_exchange(spark):
    """bloom_prune_join's fact side: the Bloom membership predicate
    (element_at over the broadcast word array) must evaluate in the scan
    stage — BEFORE any Exchange — so only candidate rows shuffle."""
    from vervectordb_spark.queries_relational import bloom_prune_join

    plan = A.physical_plan(bloom_prune_join(spark, SF_DIR))
    assert "element_at" in plan
    # the detailed section order follows the tree bottom-up per branch:
    # between the lineitem scan's section and the bloom probe there may
    # be the 1-row words BroadcastExchange (how the filter array ships —
    # see bloom_prune docstring) but never a SHUFFLE of the fact rows.
    scan_at = plan.index("lineitem.parquet")
    probe_at = plan.index("element_at", scan_at)
    between = plan[scan_at:probe_at]
    assert "hashpartitioning" not in between, between
    assert "ShuffleExchange" not in between, between
    # and the probe is over the fact join key
    assert "l_orderkey" in plan[probe_at : probe_at + 1200]


def test_filtered_search_column_form_still_pushes_down(emb, qv):
    """The Q7 Column path keeps scan-level pushdown after the callable
    surface landed: a Column metadata_filter reaches PushedFilters; a
    ported Python closure (opaque to Catalyst, the documented cliff)
    does not — but still plans and filters."""
    col_plan = A.physical_plan(S.filtered_search(
        emb, qv, 10, metadata_filter=F.col("label").isin(1, 3)))
    A.assert_pushed_filter(col_plan, "label")
    fn_plan = A.physical_plan(S.filtered_search(
        emb, qv, 10, metadata_filter=lambda meta: True,
        metadata_col="label"))
    assert "ArrowEvalPython" in fn_plan or "BatchEvalPython" in fn_plan


@pytest.mark.deep
def test_imi_persisted_rectangle_probe_prunes(spark, emb, qv, tmp_path):
    """VERDICT r5 #5: the persisted IMI layout (cell1-partitioned,
    imi.save) — a loaded rectangle probe reads ONLY the a probed cell1
    partition directories, proven by runtime scan metrics."""
    import glob

    from vervectordb_spark.operators.imi import IMIIndex

    idx = IMIIndex.build(emb, k1=4, k2=4, dim=64, seed=42)
    path = str(tmp_path / "imi_prune")
    idx.save(path)
    loaded = IMIIndex.load(spark, path)
    out = loaded.search(qv, top_k=5, a=2, b=2)

    plan = A.physical_plan(out)
    assert "PartitionFilters" in plan
    assert "cell1" in plan.split("PartitionFilters", 1)[1][:200]

    metrics = A.executed_scan_metrics(out)
    dirs_on_disk = len(glob.glob(f"{path}/vectors_by_cell/cell1=*"))
    assert dirs_on_disk == 4
    assert 1 <= metrics["numPartitions"] <= 2 < dirs_on_disk


def test_ivfsq_persisted_codes_probe_prunes(spark, emb, qv, tmp_path):
    """Persisted IVF-SQ8 serving: cluster_id-partitioned uint8 codes
    layout; probe → pruned quantized scan → exact rerank against the raw
    table. Scan metrics on the CODES scan prove only probed partitions
    were read (path-selected — the rerank join also scans parquet)."""
    import glob

    from vervectordb_spark.operators import sq
    from vervectordb_spark.operators.ivf import IVFIndex

    idx = IVFIndex.build(emb, n_clusters=4, seed=42)
    stats = sq.fit_sq_stats(emb)
    path = str(tmp_path / "ivfsq_codes")
    sq.with_codes(idx.assigned, stats).select(
        "vec_id", "cluster_id", "sq_code"
    ).write.partitionBy("cluster_id").parquet(path)

    codes = spark.read.parquet(path)
    probes = idx.probe_clusters(qv, nprobe=2)
    probed = codes.filter(F.col("cluster_id").isin(probes))
    out = sq.adc_search(probed, stats, qv, top_k=5,
                        rerank=emb.select("vec_id", "embedding"))
    assert out.count() == 5
    metrics = A.executed_scan_metrics(out, path_substr="ivfsq_codes")
    dirs_on_disk = len(glob.glob(f"{path}/cluster_id=*"))
    assert dirs_on_disk == 4
    assert 1 <= metrics["numPartitions"] <= 2 < dirs_on_disk


def test_ivfbq_persisted_codes_probe_prunes(spark, emb, qv, tmp_path):
    """Persisted IVF-BQ serving: cluster_id-partitioned packed-word codes
    layout; probe → pruned Hamming scan → exact rerank. Same
    metrics-based proof as IVF-SQ8."""
    import glob

    from vervectordb_spark.operators import bq
    from vervectordb_spark.operators.ivf import IVFIndex

    idx = IVFIndex.build(emb, n_clusters=4, seed=42)
    thr = bq.fit_bq_thresholds(emb)
    path = str(tmp_path / "ivfbq_codes")
    bq.with_codes(idx.assigned, thr, 64).select(
        "vec_id", "cluster_id", "bq_code"
    ).write.partitionBy("cluster_id").parquet(path)

    codes = spark.read.parquet(path)
    probes = idx.probe_clusters(qv, nprobe=2)
    probed = codes.filter(F.col("cluster_id").isin(probes))
    out = bq.hamming_search(probed, thr, qv, top_k=5,
                            rerank=emb.select("vec_id", "embedding"))
    assert out.count() == 5
    metrics = A.executed_scan_metrics(out, path_substr="ivfbq_codes")
    dirs_on_disk = len(glob.glob(f"{path}/cluster_id=*"))
    assert dirs_on_disk == 4
    assert 1 <= metrics["numPartitions"] <= 2 < dirs_on_disk


def test_curation_pipeline_trained_stage_adds_no_shuffle(spark):
    """Pipeline v2 == v1 + the trained stage; the new stage (Arrow
    featurize + linear-fold filter) must be a pure map insertion. Pinned
    two ways: the gate→trained prefix alone plans with ZERO exchanges,
    and the composed plan's shuffle budget stays at the stage count of
    its v1 ingredients (gate/decontaminate/mix from curation_pipeline_e2e
    + dedup/pack/shard-distinct from corpus_pipeline_e2e)."""
    from vervectordb_spark.operators import quality as Q
    from vervectordb_spark.operators import text as TX
    from vervectordb_spark.operators.embed import embed_documents
    from vervectordb_spark.queries_curation import (_QPB, _QPW,
                                                    curation_pipeline_trained)

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    gated = TX.quality_filter(docs, min_score=0.8).filter("keep").select(
        "doc_id", "lang", "n_chars", "text")
    feats = embed_documents(gated, dim=32, passthrough=True)
    trained = feats.filter(
        Q.classifier_logit_expr(F.col("embedding"), _QPW, _QPB) >= 0.0
    ).drop("embedding")
    # no DATA-KEYED exchange: the one allowed round-robin split is the
    # narrow-fixture-scan widener (no-op at production layouts)
    A.assert_no_keyed_shuffle(A.physical_plan(trained))

    plan = A.physical_plan(curation_pipeline_trained(spark, SF_DIR))
    # v1 shuffle budget unchanged for DATA-KEYED exchanges; round-robin
    # widener splits (fixture-only, no-op at scale) sit outside it
    assert A.keyed_shuffle_count(plan) <= 10, plan[:3000]


def test_exchange_partitioning_parser_sees_keyed_blocks():
    """The r11 header-line regex matched NOTHING in formatted output (the
    partitioning is on the Arguments line), so every keyed-shuffle
    contract passed vacuously (ADVICE r11, high). Pin the parser against
    the real formatted block shape so format drift fails loudly instead
    of silently re-vacuating the contracts."""
    plan = (
        "(2) Exchange\n"
        "Input [2]: [doc_id#43L, text#44]\n"
        "Arguments: RoundRobinPartitioning(32), REPARTITION_BY_NUM, "
        "[plan_id=267]\n"
        "\n"
        "(8) Exchange\n"
        "Input [3]: [doc_id#52L, band#65, band_key#66]\n"
        "Arguments: hashpartitioning(band#65, band_key#66, 32), "
        "ENSURE_REQUIREMENTS, [plan_id=318]\n"
    )
    assert A.exchange_partitionings(plan) == [
        "RoundRobinPartitioning", "hashpartitioning"]
    assert A.keyed_shuffle_count(plan) == 1
    with pytest.raises(AssertionError):
        A.assert_no_keyed_shuffle(plan)
    # widener-only plans still pass
    roundrobin_only = plan.split("\n\n")[0] + "\n"
    A.assert_no_keyed_shuffle(roundrobin_only)
    # an Exchange block the parser cannot read must fail, not pass
    with pytest.raises(AssertionError):
        A.assert_no_keyed_shuffle("(3) Exchange\nInput [1]: [x#1]\n")


def test_exchange_parser_rejects_simple_mode_plan(spark):
    """Simple-mode plan text has no formatted `(N) Node` headers, so a
    zero-match parse of it must fail loudly instead of reporting no
    keyed shuffle (ADVICE r12)."""
    simple = (
        "== Physical Plan ==\n"
        "AdaptiveSparkPlan isFinalPlan=false\n"
        "+- HashAggregate(keys=[k#1], functions=[count(1)])\n"
        "   +- Exchange hashpartitioning(k#1, 8), ENSURE_REQUIREMENTS\n"
        "      +- *(1) Scan ExistingRDD[k#1]\n"
    )
    df = spark.range(20).selectExpr("id % 3 AS k").groupBy("k").count()
    for plan in (simple, A.physical_plan(df, mode="simple")):
        for check in (A.exchange_partitionings, A.assert_no_keyed_shuffle,
                      A.keyed_shuffle_count):
            with pytest.raises(AssertionError, match="FORMATTED"):
                check(plan)
    # the formatted plan of the same frame parses its keyed exchange
    assert A.keyed_shuffle_count(A.physical_plan(df)) == 1


def _per_query_plan(df) -> str:
    """Executed plan text of `df` down to the first cached relation —
    the part a query runs itself (an InMemoryRelation prints the plan
    that filled it underneath)."""
    df.collect()
    plan = df._jdf.queryExecution().executedPlan().toString()
    return plan.split("InMemoryRelation")[0]


def test_store_reads_scan_the_cached_serving_frame(spark, tmp_path):
    """Facade reads scan the version's persisted serving frame: ivf_search
    runs no KMeans predict per query (cluster_id is cached), and after a
    write burst the store frame has no PythonRDD branch — written rows
    are LocalRelations."""
    import numpy as np

    from vervectordb_spark.operators.search import brute_force_topk
    from vervectordb_spark.store import VectorStore

    rng = np.random.default_rng(3)
    vecs = [[float(x) for x in r] for r in rng.standard_normal((200, 8))]
    store = VectorStore(spark, 8, db_path=str(tmp_path / "db"))
    store.batch_insert(vecs)
    store.checkpoint()                       # base = one parquet scan
    store.build_ivf_index(n_clusters=4)
    q = vecs[5]
    store.ivf_search(q, 5, nprobe=2)         # first read fills the frame
    ivf_plan = _per_query_plan(
        store._ivf.search(q, 5, nprobe=2, rows=store._serving()))
    assert "InMemoryTableScan" in ivf_plan, ivf_plan
    assert "UDF" not in ivf_plan, ivf_plan

    fresh = [[float(x) for x in r] for r in rng.standard_normal((17, 8))]
    ids = store.batch_insert(fresh[:16])
    store.update(ids[0], fresh[16])
    store.delete(ids[1])
    assert "LogicalRDD" not in store.df._jdf.queryExecution() \
        .optimizedPlan().toString()
    res = store.brute_force_search(fresh[16], 1)
    assert res[0]["vector_id"] == ids[0]     # refilled for the new version
    bf_plan = _per_query_plan(
        brute_force_topk(store._serving(), q, 5, extra_cols=("metadata",)))
    assert "InMemoryTableScan" in bf_plan and "Scan parquet" not in bf_plan
