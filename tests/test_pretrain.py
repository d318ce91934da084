"""The composed pretraining-export chain (queries_pretrain.py): shard
sink round-trip + in-plan/manifest shard-membership parity."""

import json

from pyspark.sql import functions as F

import pytest

from tests.conftest import SF_DIR


@pytest.fixture(scope="module")
def exp(spark):
    """ONE materialized run of the chain shared by the module (the
    chain itself is oracle-gated; these tests pin the sink). The stages
    the export pins are released as soon as the checkpoint holds its
    rows — left cached, the session's CacheManager would substitute them
    into later tests' plans — and the checkpoint at teardown."""
    from vervectordb_spark.functions.checkpoint import (
        eager_checkpoint, release_checkpoint)
    from vervectordb_spark.queries_pretrain import export_frame

    frame = export_frame(spark, SF_DIR)
    out, _ = eager_checkpoint(frame)
    release_checkpoint(frame)
    yield out
    release_checkpoint(out)


def test_export_reads_each_stage_once_and_releases(spark, monkeypatch):
    """pretraining_export_e2e plans each shared stage once: with every
    cached relation counted once, its plan scans `documents` a handful
    of times (225 before its multi-consumer stages were persisted).
    Building it runs no widener probe job, and releasing the collected
    aggregate frees every persisted RDD and CacheManager entry it made."""
    from tests.conftest import counting_jobs
    from vervectordb_spark.functions import partitioning
    from vervectordb_spark.functions.checkpoint import (
        persistent_rdd_ids, release_checkpoint)
    from vervectordb_spark.plans.audit import file_scan_count
    from vervectordb_spark.queries_pretrain import pretraining_export_e2e

    sc = spark.sparkContext
    cache_manager = spark._jsparkSession.sharedState().cacheManager()
    # earlier modules' cached fixtures (a cached `documents` scan) would
    # be substituted into this plan and hide its scans
    spark.catalog.clearCache()
    baseline = persistent_rdd_ids(sc)

    probe_jobs: list[int] = []
    real_probe = partitioning._plan_partitions

    def probe(df):
        with counting_jobs(sc) as jobs:
            got = real_probe(df)
        probe_jobs.extend(jobs)
        return got

    monkeypatch.setattr(partitioning, "_plan_partitions", probe)
    df = pretraining_export_e2e(spark, SF_DIR)
    assert probe_jobs and sum(probe_jobs) == 0, probe_jobs
    assert len(df._persisted) == 4
    assert file_scan_count(df) <= 6
    try:
        assert df.collect()
    finally:
        release_checkpoint(df)
    assert persistent_rdd_ids(sc) == baseline
    assert cache_manager.isEmpty()


def test_export_frame_to_training_shards_manifest(spark, tmp_path, exp):
    """export_frame -> write_training_shards at the pinned modulus:
    the manifest accounts for every exported row across all 8 shards,
    and the sink's hash membership equals the in-plan `shard` column
    pretraining_export_e2e aggregates (same seed, same modulus — the
    report and the physical export can never disagree)."""
    from vervectordb_spark.functions.hashing import seeded_md5_long
    from vervectordb_spark.queries_pretrain import _N_SHARDS
    from vervectordb_spark.sources.tables import write_training_shards

    n = exp.count()
    assert n > 0
    out = str(tmp_path / "shards")
    manifest_df = write_training_shards(
        exp, out, rows_per_shard=max(1, n // _N_SHARDS),
        id_col="doc_id", n_shards=_N_SHARDS)
    man = json.load(open(f"{out}/_shards_manifest.json"))
    assert man["n_shards"] == _N_SHARDS
    assert man["total_rows"] == n
    assert sum(man["shards"].values()) == n
    assert {int(r["shard"]): int(r["n_rows"])
            for r in manifest_df.collect()} == {
        int(k): v for k, v in man["shards"].items()}

    written = spark.read.parquet(out)
    assert written.count() == n
    # in-plan membership expr == sink membership, row by row
    mismatch = written.withColumn(
        "_expected",
        F.pmod(seeded_md5_long(F.col("doc_id").cast("string"), 42),
               F.lit(_N_SHARDS)).cast("int"),
    ).filter(F.col("shard") != F.col("_expected")).count()
    assert mismatch == 0


def test_export_frame_packs_within_budget_per_doc_cap(exp):
    """bin boundaries: within every (lang, bin) the summed tokens stay
    under budget + one document's overflow (the end-to-end layout
    contract of pack_by_token_offset), and bins are contiguous 0..max
    per lang."""
    from vervectordb_spark.queries_pretrain import _PACK

    per_bin = (exp.groupBy("lang", "bin_id")
               .agg(F.sum("n_tok").alias("s"), F.max("n_tok").alias("m"))
               .collect())
    assert per_bin
    for r in per_bin:
        assert r["s"] < _PACK + r["m"], (r["lang"], r["bin_id"])
    bins = (exp.groupBy("lang")
            .agg(F.count_distinct("bin_id").alias("nb"),
                 F.max("bin_id").alias("mx")).collect())
    for r in bins:
        assert r["nb"] == r["mx"] + 1, r["lang"]
