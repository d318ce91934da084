"""Structured Streaming tests: file-source ingest → watermarked window agg
→ memory sink; stateful sessionization; streaming vector ingest. All run
with trigger(availableNow=True) so they process the fixture and stop."""

import shutil

import pytest
from pyspark.sql import functions as F

from tests.conftest import SF_DIR
from vervectordb_spark.schema import load_events
from vervectordb_spark.streaming import ingest as SI


@pytest.fixture()
def events_dir(spark, tmp_path):
    """Stage the events fixture as a streaming source dir (2 part files so
    the source sees multiple files)."""
    src = str(tmp_path / "events_src")
    load_events(spark, SF_DIR).repartition(2).write.mode("overwrite").parquet(src)
    return src


def _run_to_memory(df, name, mode="update"):
    q = (
        df.writeStream.format("memory")
        .queryName(name)
        .outputMode(mode)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    return q


def test_hourly_window_agg_matches_batch(spark, events_dir):
    stream = SI.stream_events(spark, events_dir, max_files_per_trigger=1)
    assert stream.isStreaming
    agg = SI.hourly_event_counts(stream)
    _run_to_memory(agg, "hourly_counts")
    got = {
        (r["window_start"], r["event_type"]): r["n_events"]
        for r in spark.sql("SELECT * FROM hourly_counts").collect()
    }
    batch = (
        SI.with_event_time(load_events(spark, SF_DIR))
        .groupBy(F.window("event_time", "1 hour").alias("win"), "event_type")
        .agg(F.count("*").alias("n"))
        .select(F.col("win.start").alias("ws"), "event_type", "n")
        .collect()
    )
    assert len(got) == len(batch) > 0
    for r in batch:
        assert got[(r["ws"], r["event_type"])] == r["n"]


@pytest.mark.deep
def test_stateful_sessionization(spark, events_dir):
    stream = SI.stream_events(spark, events_dir)
    sess = SI.sessionize_stateful(stream)
    _run_to_memory(sess, "sessions", mode="append")
    rows = spark.sql("SELECT * FROM sessions").collect()
    # sessions CLOSED by a later event in the same run (timeout-closed ones
    # need a subsequent microbatch); the 30-day fixture closes thousands
    assert len(rows) > 100
    assert all(r["n_events"] >= 1 for r in rows)
    # closed sessions must respect the gap invariant per user: no session
    # may contain a gap > 30 min -> avg events/session sanity only
    assert all(r["sum_value"] >= 0 for r in rows[:50])


def test_streaming_vector_ingest(spark, tmp_path):
    src = str(tmp_path / "vec_src")
    out = str(tmp_path / "vec_table")
    ckpt = str(tmp_path / "ckpt")
    from vervectordb_spark.schema import load_table

    emb = load_table(spark, SF_DIR, "embeddings")
    emb.limit(100).write.mode("overwrite").parquet(src)

    stream = (
        spark.readStream.schema(emb.schema).option("maxFilesPerTrigger", 1).parquet(src)
    )
    q = SI.stream_ingest_vectors(stream, out, ckpt, dim=64)
    q.awaitTermination(120)
    got = spark.read.parquet(out)
    assert got.count() == 100
    assert got.schema["embedding"].dataType.simpleString() == "array<float>"


def test_streaming_ingest_drops_bad_dims(spark, tmp_path):
    src = str(tmp_path / "bad_src")
    out = str(tmp_path / "bad_table")
    ckpt = str(tmp_path / "bad_ckpt")
    rows = [(1, [0.1] * 64), (2, [0.2] * 32), (3, [0.3] * 64)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    df.coalesce(1).write.mode("overwrite").parquet(src)
    stream = spark.readStream.schema(df.schema).parquet(src)
    q = SI.stream_ingest_vectors(stream, out, ckpt, dim=64)
    q.awaitTermination(120)
    kept = {r["vec_id"] for r in spark.read.parquet(out).collect()}
    assert kept == {1, 3}


def _vector_stream(spark, tmp_path, name):
    """The 120 fixture vectors as a 4-file stream source read one file per
    micro-batch, and the source frame."""
    from vervectordb_spark.schema import load_table

    src = str(tmp_path / f"vec_stream_{name}")
    emb = load_table(spark, SF_DIR, "embeddings").limit(120)
    emb.repartition(4).write.mode("overwrite").parquet(src)
    stream = (
        spark.readStream.schema(emb.schema).option("maxFilesPerTrigger", 1).parquet(src)
    )
    return stream, emb


def test_incremental_refresh_new_rows_searchable_before_rebuild(spark, tmp_path):
    """Rows arriving AFTER the last full rebuild are assigned by the
    rebuild's own rule (the fitted model's predict) and appended into the
    partitioned layout — the loaded index serves them without waiting for
    the next rebuild, and the PQ codes table carries the same clusters."""
    from tests.test_store import nearest_centroid
    from vervectordb_spark.operators.ivf import IVFIndex
    from vervectordb_spark.streaming.refresh import ingest_with_index_refresh

    store = str(tmp_path / "store_inc")
    stream, emb = _vector_stream(spark, tmp_path, "inc")
    # 4 micro-batches, rebuild after the 3rd: the 4th batch reaches the
    # index only via the append path
    q = ingest_with_index_refresh(
        stream, store, str(tmp_path / "inc_ckpt"), refresh_every=3,
        n_clusters=4, dim=64, pq_subquantizers=8, pq_codebook_size=16,
    )
    q.awaitTermination(180)
    assert q._refresh_state["refreshes"] == 1
    assert q._refresh_state["appends"]["ivf"] == 1

    idx = IVFIndex.load(spark, f"{store}/ivf")
    ingested = {r["vec_id"] for r in emb.select("vec_id").collect()}
    layout = {r["vec_id"]: (r["cluster_id"], r["embedding"]) for r in
              idx.assigned.select("vec_id", "cluster_id", "embedding").collect()}
    assert set(layout) == ingested  # batch-4 rows present pre-rebuild
    # every row, appended or rebuilt, sits in the cluster MLlib's predict
    # (Euclidean argmin over the saved centroids) gives its vector
    misplaced = sorted(vid for vid, (c, v) in layout.items()
                       if c != nearest_centroid(v, idx.centroids))
    assert misplaced == []
    codes = spark.read.parquet(f"{store}/codes").select("vec_id", "cluster_id")
    assert {r["vec_id"]: r["cluster_id"] for r in codes.collect()} \
        == {vid: c for vid, (c, _v) in layout.items()}
    qv = [float(x) for x in emb.limit(1).collect()[0]["embedding"]]
    hits = idx.search(qv, top_k=5, nprobe=4).collect()
    assert len(hits) == 5


def test_refresh_appends_every_layout(spark, tmp_path):
    """Every layout on in one small stream: the rebuild after batch 3
    fits all eight, batch 4 reaches each of them only through its append,
    and each layout then holds every ingested row exactly once."""
    from vervectordb_spark.streaming.refresh import ingest_with_index_refresh

    store = str(tmp_path / "store_all")
    stream, emb = _vector_stream(spark, tmp_path, "all")
    q = ingest_with_index_refresh(
        stream, store, str(tmp_path / "all_ckpt"), refresh_every=3,
        n_clusters=4, dim=64, ann_tables=2, ann_bits=6,
        pq_subquantizers=8, pq_codebook_size=16, bq_enabled=True,
        sq_enabled=True, imi=(4, 4), imi_pq_subquantizers=8,
        imi_pq_codebook_size=16, learned_bq_bits=32,
    )
    q.awaitTermination(300)
    st = q._refresh_state
    assert st["refreshes"] == 1
    layouts = {"ivf": "ivf/vectors_by_cluster", "ann": "ann/signed",
               "pq": "codes", "bq": "bq/codes", "sq": "sq/codes",
               "imi": "imi/vectors_by_cell", "imipq": "imipq/codes",
               "lbq": "lbq/codes"}
    assert dict(st["appends"]) == {kind: 1 for kind in layouts}
    ingested = sorted(r["vec_id"] for r in emb.select("vec_id").collect())
    for kind, sub in layouts.items():
        ids = sorted(r["vec_id"] for r in
                     spark.read.parquet(f"{store}/{sub}").select("vec_id").collect())
        assert ids == ingested, kind


def test_refresh_append_releases_shared_blocks_when_a_write_fails(
        spark, tmp_path, monkeypatch):
    """The IVF assignment an append shares between the layout and the PQ
    codes is pinned for the two writes; when the codes write raises, the
    pin is released before the query fails (no leaked blocks)."""
    from vervectordb_spark.functions.checkpoint import persistent_rdd_ids
    from vervectordb_spark.operators.pq import PQCodec
    from vervectordb_spark.streaming.refresh import ingest_with_index_refresh

    real_encode = PQCodec.encode
    sc = spark.sparkContext
    baseline = persistent_rdd_ids(sc)
    pinned = []  # ids pinned beyond the baseline at each encode call

    def encode_fails_on_append(self, df, *args, **kwargs):
        pinned.append(persistent_rdd_ids(sc) - baseline)
        if len(pinned) > 1:  # the rebuild encodes first, the append second
            raise RuntimeError("injected encode failure")
        return real_encode(self, df, *args, **kwargs)

    monkeypatch.setattr(PQCodec, "encode", encode_fails_on_append)
    stream, _emb = _vector_stream(spark, tmp_path, "leak")
    q = ingest_with_index_refresh(
        stream, str(tmp_path / "store_leak"), str(tmp_path / "leak_ckpt"),
        refresh_every=3, n_clusters=4, dim=64, pq_subquantizers=8,
        pq_codebook_size=16,
    )
    with pytest.raises(Exception, match="injected encode failure"):
        q.awaitTermination(180)
    assert len(pinned) == 2 and pinned[1]  # the append had pinned blocks
    assert persistent_rdd_ids(sc) - baseline == set()


def test_failed_eager_checkpoint_releases_its_blocks(spark):
    """localCheckpoint marks the RDD persistent before its eager job runs:
    when that job fails, eager_checkpoint must unmark it before raising."""
    from vervectordb_spark.functions.checkpoint import (
        eager_checkpoint, persistent_rdd_ids)

    @F.udf("int")
    def fails(x):
        raise ValueError("injected row failure")

    sc = spark.sparkContext
    baseline = persistent_rdd_ids(sc)
    with pytest.raises(Exception, match="injected row failure"):
        eager_checkpoint(spark.range(4).withColumn("y", fails("id")))
    assert persistent_rdd_ids(sc) - baseline == set()


@pytest.mark.deep
def test_ingest_with_index_refresh(spark, tmp_path):
    """Milestone-6 pattern: stream appends + periodic IVF rebuild; the
    published index serves searches over everything ingested so far."""
    from vervectordb_spark.operators.ivf import IVFIndex
    from vervectordb_spark.schema import load_table
    from vervectordb_spark.streaming.refresh import ingest_with_index_refresh

    src = str(tmp_path / "vec_stream")
    store = str(tmp_path / "store")
    ckpt = str(tmp_path / "refresh_ckpt")
    emb = load_table(spark, SF_DIR, "embeddings").limit(120)
    emb.repartition(4).write.mode("overwrite").parquet(src)

    stream = (
        spark.readStream.schema(emb.schema).option("maxFilesPerTrigger", 1).parquet(src)
    )
    q = ingest_with_index_refresh(
        stream, store, ckpt, refresh_every=2, n_clusters=4, dim=64
    )
    q.awaitTermination(180)
    assert q._refresh_state["refreshes"] >= 1

    table = spark.read.parquet(f"{store}/vectors")
    assert table.count() == 120
    idx = IVFIndex.load(spark, f"{store}/ivf")
    qv = [float(x) for x in emb.limit(1).collect()[0]["embedding"]]
    hits = idx.search(qv, top_k=5, nprobe=4).collect()
    assert len(hits) == 5


@pytest.mark.deep
def test_incremental_ann_signing_before_rebuild(spark, tmp_path):
    """Rows arriving AFTER the last full rebuild are signed with the
    deterministic planes and appended into the bucket-partitioned layout —
    the loaded sign-LSH index serves them before the next rebuild, with
    signatures identical to what a full rebuild would produce."""
    from vervectordb_spark.operators.ann import SignLSHIndex
    from vervectordb_spark.schema import load_table
    from vervectordb_spark.streaming.refresh import ingest_with_index_refresh

    src = str(tmp_path / "vec_stream_ann")
    store = str(tmp_path / "store_ann")
    ckpt = str(tmp_path / "ann_ckpt")
    emb = load_table(spark, SF_DIR, "embeddings").limit(120)
    emb.repartition(4).write.mode("overwrite").parquet(src)

    stream = (
        spark.readStream.schema(emb.schema).option("maxFilesPerTrigger", 1).parquet(src)
    )
    # 4 micro-batches, rebuild after the 3rd: batch 4 reaches the ANN
    # layout only via the incremental signing path
    q = ingest_with_index_refresh(
        stream, store, ckpt, refresh_every=3, n_clusters=4, dim=64,
        ann_tables=4, ann_bits=6,
    )
    q.awaitTermination(180)
    assert q._refresh_state["refreshes"] == 1
    assert q._refresh_state["appends"]["ann"] == 1

    idx = SignLSHIndex.load(spark, f"{store}/ann")
    ingested = {r["vec_id"] for r in emb.select("vec_id").collect()}
    indexed = {r["vec_id"] for r in idx.signed.select("vec_id").collect()}
    assert indexed == ingested  # batch-4 rows present pre-rebuild

    # incremental signatures == full-rebuild signatures (deterministic planes)
    rebuilt = SignLSHIndex.build(
        spark.read.parquet(f"{store}/vectors"), n_tables=4, bits=6
    )
    want = {
        r["vec_id"]: tuple(r[f"bucket_{t}"] for t in range(4))
        for r in rebuilt.signed.collect()
    }
    got = {
        r["vec_id"]: tuple(r[f"bucket_{t}"] for t in range(4))
        for r in idx.signed.collect()
    }
    assert got == want

    # a batch-4 row must be ANN-searchable now (self-hit is its own bucket)
    batch4_id = sorted(ingested)[-1]
    qv = [float(x) for x in
          emb.filter(F.col("vec_id") == batch4_id).collect()[0]["embedding"]]
    hits = idx.search(qv, top_k=5)
    assert any(r["vec_id"] == batch4_id for r in hits.collect())


@pytest.mark.deep
def test_incremental_pq_codes_before_rebuild(spark, tmp_path):
    """Rows arriving after the last rebuild are PQ-encoded against the
    current codebooks and appended to the ADC serving layout — searchable
    through the compressed path before the next rebuild."""
    from vervectordb_spark.operators.ivf import IVFIndex
    from vervectordb_spark.operators.pq import PQCodec
    from vervectordb_spark.schema import load_table
    from vervectordb_spark.streaming.refresh import ingest_with_index_refresh

    src = str(tmp_path / "vec_stream_pq")
    store = str(tmp_path / "store_pq")
    ckpt = str(tmp_path / "pq_ckpt")
    emb = load_table(spark, SF_DIR, "embeddings").limit(120)
    emb.repartition(4).write.mode("overwrite").parquet(src)

    stream = (
        spark.readStream.schema(emb.schema).option("maxFilesPerTrigger", 1).parquet(src)
    )
    q = ingest_with_index_refresh(
        stream, store, ckpt, refresh_every=3, n_clusters=4, dim=64,
        pq_subquantizers=8, pq_codebook_size=16,
    )
    q.awaitTermination(180)
    assert q._refresh_state["refreshes"] == 1
    assert q._refresh_state["appends"]["pq"] == 1

    codes = spark.read.parquet(f"{store}/codes")
    ingested = {r["vec_id"] for r in emb.select("vec_id").collect()}
    assert {r["vec_id"] for r in codes.select("vec_id").collect()} == ingested

    # a batch-4 row is servable through probe -> ADC -> rerank now
    codec = PQCodec.load(spark, f"{store}/pq")
    idx = IVFIndex.load(spark, f"{store}/ivf")
    batch4_id = sorted(ingested)[-1]
    qv = [float(x) for x in
          emb.filter(F.col("vec_id") == batch4_id).collect()[0]["embedding"]]
    rer = spark.read.parquet(f"{store}/vectors").select("vec_id", "embedding")
    hits = idx.search_pq(codec, codes, qv, top_k=5, nprobe=4, rerank=rer).collect()
    assert any(r["vec_id"] == batch4_id for r in hits)


@pytest.fixture()
def docs_dir(spark, tmp_path):
    """Stage documents as a 2-file streaming source — the fixture corpus
    contains byte-identical duplicate texts by construction, so dedup has
    real work across file boundaries."""
    from vervectordb_spark.schema import load_table

    src = str(tmp_path / "docs_src")
    load_table(spark, SF_DIR, "documents").repartition(2).write.mode(
        "overwrite"
    ).parquet(src)
    return src


def test_streaming_corpus_gate_dedup_matches_batch(spark, docs_dir):
    """The streaming gate→dedup pipeline must land exactly the batch
    result: every kept content hash once (dup arrivals within the
    watermark dropped), low-quality docs gated out."""
    from vervectordb_spark.operators.dedup import md5_long
    from vervectordb_spark.operators.text import quality_filter
    from vervectordb_spark.schema import load_table

    stream = SI.stream_documents(spark, docs_dir, max_files_per_trigger=1)
    assert stream.isStreaming
    out = SI.corpus_gate_dedup(stream, min_score=0.8)
    _run_to_memory(out, "corpus_ingest", mode="append")
    got = spark.sql("SELECT content_hash FROM corpus_ingest").collect()
    got_hashes = [r["content_hash"] for r in got]

    batch = (
        quality_filter(load_table(spark, SF_DIR, "documents"), min_score=0.8)
        .filter(F.col("keep"))
        .select(md5_long(F.col("text")).alias("content_hash"))
        .distinct()
    )
    want_hashes = {r["content_hash"] for r in batch.collect()}
    assert len(got_hashes) == len(set(got_hashes))  # no dup landed
    assert set(got_hashes) == want_hashes


def test_streaming_chunking_matches_batch(spark, docs_dir):
    """chunk_documents is a stateless map projection, so it must apply to
    a readStream unchanged and land exactly the batch chunk set."""
    from vervectordb_spark.operators.text import chunk_documents
    from vervectordb_spark.schema import load_table

    stream = SI.stream_documents(spark, docs_dir, max_files_per_trigger=1)
    chunked = chunk_documents(stream.filter(F.col("doc_id") < 100),
                              chunk_tokens=40, overlap=10)
    assert chunked.isStreaming
    _run_to_memory(chunked.drop("ingest_time", "source_file"),
                   "stream_chunks", mode="append")
    got = {
        (r["doc_id"], r["chunk_id"], r["chunk_text"])
        for r in spark.sql(
            "SELECT doc_id, chunk_id, chunk_text FROM stream_chunks"
        ).collect()
    }
    want = {
        (r["doc_id"], r["chunk_id"], r["chunk_text"])
        for r in chunk_documents(
            load_table(spark, SF_DIR, "documents").filter(F.col("doc_id") < 100),
            chunk_tokens=40, overlap=10,
        ).collect()
    }
    assert got == want


def test_stream_stream_interval_join_matches_batch(spark, events_dir):
    clicks = SI.stream_events(spark, events_dir).filter(
        F.col("event_type") == "click"
    )
    purchases = SI.stream_events(spark, events_dir).filter(
        F.col("event_type") == "purchase"
    )
    joined = SI.click_purchase_attribution(clicks, purchases)
    _run_to_memory(joined, "attribution", mode="append")
    got = {
        (r["click_id"], r["purchase_id"])
        for r in spark.sql("SELECT * FROM attribution").collect()
    }

    ev = SI.with_event_time(load_events(spark, SF_DIR))
    c = ev.filter(F.col("event_type") == "click").select(
        F.col("user_id").alias("cu"), F.col("event_id").alias("cid"),
        F.col("event_time").alias("ct"),
    )
    p = ev.filter(F.col("event_type") == "purchase").select(
        F.col("user_id").alias("pu"), F.col("event_id").alias("pid"),
        F.col("event_time").alias("pt"),
    )
    want = {
        (r["cid"], r["pid"])
        for r in c.join(
            p,
            F.expr("cu = pu AND pt >= ct AND "
                   "pt <= ct + INTERVAL 30 minutes"),
        ).collect()
    }
    assert len(want) > 0
    # append-mode stream-stream join emits exactly the batch join pairs
    # (availableNow processes the whole fixture; final watermark may hold
    # back pairs near the stream end, so allow got ⊆ want but demand the
    # overwhelming majority materialized)
    assert got <= want
    assert len(got) >= 0.9 * len(want)


def test_streaming_repetition_gate_matches_batch(spark, docs_dir):
    """The round-5 repetition gate is a pure map-side expression, so it
    applies to readStream unchanged — batch/stream parity for the newest
    curation stage (same proof as the quality gate above)."""
    from vervectordb_spark.operators.text import repetition_gate
    from vervectordb_spark.schema import load_table

    stream = SI.stream_documents(spark, docs_dir)
    out = stream.filter(repetition_gate("text")).select("doc_id")
    _run_to_memory(out, "rep_gate_stream", mode="append")
    got = {r["doc_id"] for r in spark.sql("SELECT * FROM rep_gate_stream").collect()}
    want = {
        r["doc_id"]
        for r in load_table(spark, SF_DIR, "documents")
        .filter(repetition_gate("text")).select("doc_id").collect()
    }
    assert got == want and 0 < len(want)


def test_streaming_bloom_decontamination_matches_batch(spark, docs_dir):
    """bloom_prune is a stateless per-row filter (the words ride a
    broadcast), so the SAME BloomFilter applies to a readStream unchanged
    — the streaming form of constant-size decontamination: build the
    eval-set filter once, screen the crawl as it arrives. Landed n-gram
    set must equal the batch run's exactly."""
    from vervectordb_spark.functions.bloom import bloom_build, bloom_prune
    from vervectordb_spark.operators import dedup as D
    from vervectordb_spark.schema import load_table

    docs = load_table(spark, SF_DIR, "documents")
    sh_batch = D.shingle_table(docs, shingle_n=3).select(
        "doc_id", F.explode("shingles").alias("ng")
    )
    bench = sh_batch.filter(F.col("doc_id") % 97 == 0).select("ng").distinct()
    bf = bloom_build(bench, "ng", num_bits=1 << 15, num_hashes=4)

    stream = SI.stream_documents(spark, docs_dir, max_files_per_trigger=1)
    sh_stream = D.shingle_table(
        stream.select("doc_id", "text"), shingle_n=3, kernel="expr"
    ).select("doc_id", F.explode("shingles").alias("ng"))
    flagged = bloom_prune(sh_stream.filter(F.col("doc_id") % 97 != 0), "ng", bf)
    assert flagged.isStreaming
    _run_to_memory(flagged, "stream_bloom_flags", mode="append")
    got = {
        (r["doc_id"], r["ng"])
        for r in spark.sql("SELECT doc_id, ng FROM stream_bloom_flags").collect()
    }
    want = {
        (r["doc_id"], r["ng"])
        for r in bloom_prune(
            sh_batch.filter(F.col("doc_id") % 97 != 0), "ng", bf
        ).collect()
    }
    assert got == want


def test_streaming_winnow_fingerprints_match_batch(spark, docs_dir):
    """winnow_table is a stateless map (JVM tokens → Arrow kernel), so
    streamed documents fingerprint identically to batch — the streaming
    half of incremental overlap detection (new docs' fingerprints join
    the historical fingerprint table)."""
    from vervectordb_spark.operators import dedup as D
    from vervectordb_spark.schema import load_table

    stream = SI.stream_documents(spark, docs_dir, max_files_per_trigger=1)
    fps = D.winnow_table(
        stream.select("doc_id", "text").filter(F.col("doc_id") < 100),
        kernel="arrow",
    )
    assert fps.isStreaming
    _run_to_memory(fps, "stream_winnow_fps", mode="append")
    got = {
        (r["doc_id"], r["fp"])
        for r in spark.sql("SELECT doc_id, fp FROM stream_winnow_fps").collect()
    }
    docs = load_table(spark, SF_DIR, "documents").filter(F.col("doc_id") < 100)
    want = {
        (r["doc_id"], r["fp"])
        for r in D.winnow_table(docs.select("doc_id", "text"),
                                kernel="arrow").collect()
    }
    assert got == want


@pytest.mark.deep
def test_incremental_ann_wide_bits_matches_prefix_layout(spark, tmp_path):
    """ann_bits > MAX_PARTITION_BITS: the rebuild saves a bucket_p0 prefix
    layout; incremental appends must land in the SAME layout or the
    directory mixes partition schemes and the next load fails."""
    from vervectordb_spark.operators.ann import SignLSHIndex
    from vervectordb_spark.schema import load_table
    from vervectordb_spark.streaming.refresh import ingest_with_index_refresh

    src = str(tmp_path / "vec_stream_wide")
    store = str(tmp_path / "store_wide")
    ckpt = str(tmp_path / "wide_ckpt")
    emb = load_table(spark, SF_DIR, "embeddings").limit(120)
    emb.repartition(4).write.mode("overwrite").parquet(src)
    stream = (
        spark.readStream.schema(emb.schema)
        .option("maxFilesPerTrigger", 1).parquet(src)
    )
    q = ingest_with_index_refresh(
        stream, store, ckpt, refresh_every=3, n_clusters=4, dim=64,
        ann_tables=2, ann_bits=16,
    )
    q.awaitTermination(180)
    assert q._refresh_state["appends"]["ann"] == 1
    idx = SignLSHIndex.load(spark, f"{store}/ann")  # loads = layout intact
    assert idx.prefix_shift == 4
    ingested = {r["vec_id"] for r in emb.select("vec_id").collect()}
    indexed = {r["vec_id"] for r in idx.signed.select("vec_id").collect()}
    assert indexed == ingested


def test_streaming_sq8_encode_matches_batch(spark, tmp_path):
    """SQ8 encode is a stateless map against a broadcast stats constant,
    so streamed vectors get byte-identical codes to batch — arriving rows
    are compressible on ingest with the codec fitted on the base corpus
    (the streaming half of the sq_compress story; out-of-range values
    clamp, like any post-fit row)."""
    from vervectordb_spark.operators import sq
    from vervectordb_spark.schema import load_table

    emb = load_table(spark, SF_DIR, "embeddings")
    stats = sq.fit_sq_stats(emb)
    src = str(tmp_path / "vec_src")
    emb.repartition(2).write.mode("overwrite").parquet(src)
    stream = (
        spark.readStream.schema(emb.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    coded = sq.with_codes(stream, stats).select("vec_id", "sq_code")
    assert coded.isStreaming
    _run_to_memory(coded, "stream_sq_codes", mode="append")
    got = {
        r["vec_id"]: list(r["sq_code"])
        for r in spark.sql("SELECT * FROM stream_sq_codes").collect()
    }
    want = {
        r["vec_id"]: list(r["sq_code"])
        for r in sq.with_codes(emb, stats).select("vec_id", "sq_code").collect()
    }
    assert got == want


@pytest.mark.deep
def test_incremental_bq_sq_imi_before_rebuild(spark, tmp_path):
    """VERDICT r5 #4: rows arriving AFTER the last rebuild become
    searchable via the BQ / SQ8 / IMI serving paths WITHOUT a rebuild —
    encoded/assigned against the CURRENT fit — and the incremental codes
    are byte-identical to a full recompute with that fit (encode is a
    pure function of (fit, vector); batch==stream parity)."""
    from vervectordb_spark.operators import bq as bq_op
    from vervectordb_spark.operators import sq as sq_op
    from vervectordb_spark.operators.imi import IMIIndex
    from vervectordb_spark.schema import load_table
    from vervectordb_spark.streaming.refresh import ingest_with_index_refresh

    src = str(tmp_path / "vec_stream_codec")
    store = str(tmp_path / "store_codec")
    ckpt = str(tmp_path / "codec_ckpt")
    emb = load_table(spark, SF_DIR, "embeddings").limit(120)
    emb.repartition(4).write.mode("overwrite").parquet(src)

    stream = (
        spark.readStream.schema(emb.schema)
        .option("maxFilesPerTrigger", 1).parquet(src)
    )
    # 4 micro-batches, rebuild after the 3rd: the 4th batch reaches every
    # derived layout only via the incremental paths
    q = ingest_with_index_refresh(
        stream, store, ckpt, refresh_every=3, n_clusters=4, dim=64,
        bq_enabled=True, sq_enabled=True, imi=(4, 4),
    )
    q.awaitTermination(240)
    st = q._refresh_state
    assert st["refreshes"] == 1
    assert st["appends"]["bq"] == 1
    assert st["appends"]["sq"] == 1
    assert st["appends"]["imi"] == 1

    vectors = spark.read.parquet(f"{store}/vectors")
    ingested = {r["vec_id"] for r in vectors.select("vec_id").collect()}
    assert len(ingested) == 120

    # --- BQ: codes table covers every row; serving finds a batch-4 row;
    # incremental codes == recompute under the persisted thresholds
    thr = spark.read.parquet(f"{store}/bq/thresholds")
    codes = spark.read.parquet(f"{store}/bq/codes")
    assert {r["vec_id"] for r in codes.select("vec_id").collect()} == ingested
    recompute = {r["vec_id"]: list(r["bq_code"]) for r in
                 bq_op.with_codes(vectors, thr, 64)
                 .select("vec_id", "bq_code").collect()}
    for r in codes.collect():
        assert list(r["bq_code"]) == recompute[r["vec_id"]], r["vec_id"]
    # a row from the LAST batch (post-rebuild) is Hamming-searchable
    last_id = sorted(ingested)[-1]
    lv = [float(x) for x in vectors.filter(
        F.col("vec_id") == last_id).first()["embedding"]]
    hits = bq_op.hamming_search(
        codes, thr, lv, top_k=3,
        rerank=vectors.select("vec_id", "embedding")).collect()
    assert hits[0]["vec_id"] == last_id and hits[0]["hamming"] == 0

    # --- SQ8: same contract
    stats = spark.read.parquet(f"{store}/sq/stats")
    sq_codes = spark.read.parquet(f"{store}/sq/codes")
    assert {r["vec_id"] for r in sq_codes.select("vec_id").collect()} \
        == ingested
    sq_recompute = {r["vec_id"]: list(r["sq_code"]) for r in
                    sq_op.with_codes(vectors, stats)
                    .select("vec_id", "sq_code").collect()}
    for r in sq_codes.collect():
        assert list(r["sq_code"]) == sq_recompute[r["vec_id"]], r["vec_id"]
    got = sq_op.adc_search(sq_codes, stats, lv, top_k=3,
                           rerank=vectors.select("vec_id", "embedding"),
                           ).collect()
    assert got[0]["vec_id"] == last_id

    # --- IMI: batch-4 rows are in the persisted layout, assigned to the
    # SAME cells the frozen half-centroids would assign, and the
    # rectangle probe finds them
    idx = IMIIndex.load(spark, f"{store}/imi")
    assigned_ids = {r["vec_id"]
                    for r in idx.assigned.select("vec_id").collect()}
    assert assigned_ids == ingested
    c1 = spark.createDataFrame(
        [(i, [float(x) for x in c]) for i, c in enumerate(idx.cent1)],
        "cell_id int, centroid array<double>")
    c2 = spark.createDataFrame(
        [(i, [float(x) for x in c]) for i, c in enumerate(idx.cent2)],
        "cell_id int, centroid array<double>")
    expect = IMIIndex.from_centroids(vectors, c1, c2, 64)
    want = {r["vec_id"]: (r["cell1"], r["cell2"])
            for r in expect.assigned.select("vec_id", "cell1",
                                            "cell2").collect()}
    for r in idx.assigned.select("vec_id", "cell1", "cell2").collect():
        assert (r["cell1"], r["cell2"]) == want[r["vec_id"]], r["vec_id"]
    ihits = idx.search(lv, top_k=3, a=2, b=2).collect()
    assert ihits and ihits[0]["vec_id"] == last_id


@pytest.mark.deep
def test_incremental_imipq_and_learned_bq_before_rebuild(spark, tmp_path):
    """VERDICT r6 #6: the round-6 serving layouts — IMI-PQ codes and the
    learned-rotation short codes — are maintained between rebuilds by
    stateless encodes against the frozen fits: rows from the post-rebuild
    micro-batch are searchable through BOTH composed paths without a
    rebuild, and the incremental codes are byte-identical to a recompute
    under the same fit."""
    import numpy as np

    from vervectordb_spark.operators import bq as bq_op
    from vervectordb_spark.operators import opq
    from vervectordb_spark.operators.imi import IMIIndex
    from vervectordb_spark.operators.pq import PQCodec
    from vervectordb_spark.schema import load_table
    from vervectordb_spark.streaming.refresh import ingest_with_index_refresh

    src = str(tmp_path / "vec_stream_r7")
    store = str(tmp_path / "store_r7")
    ckpt = str(tmp_path / "r7_ckpt")
    emb = load_table(spark, SF_DIR, "embeddings").limit(120)
    emb.repartition(4).write.mode("overwrite").parquet(src)

    stream = (
        spark.readStream.schema(emb.schema)
        .option("maxFilesPerTrigger", 1).parquet(src)
    )
    # 4 micro-batches, rebuild after the 3rd: batch 4 reaches the
    # composed layouts only via the incremental encode paths
    q = ingest_with_index_refresh(
        stream, store, ckpt, refresh_every=3, n_clusters=4, dim=64,
        imi=(4, 4), imi_pq_subquantizers=8, imi_pq_codebook_size=16,
        learned_bq_bits=32,
    )
    q.awaitTermination(240)
    st = q._refresh_state
    assert st["refreshes"] == 1
    assert st["appends"]["imi"] == 1
    assert st["appends"]["imipq"] == 1
    assert st["appends"]["lbq"] == 1

    vectors = spark.read.parquet(f"{store}/vectors")
    ingested = {r["vec_id"] for r in vectors.select("vec_id").collect()}
    assert len(ingested) == 120
    last_id = sorted(ingested)[-1]
    lv = [float(x) for x in vectors.filter(
        F.col("vec_id") == last_id).first()["embedding"]]

    # --- IMI-PQ: coverage, byte parity under the frozen (cents, codec),
    # and a batch-4 row servable through probe -> ADC -> rerank
    codec = PQCodec.load(spark, f"{store}/imipq/pq")
    codes = spark.read.parquet(f"{store}/imipq/codes")
    assert {r["vec_id"] for r in codes.select("vec_id").collect()} \
        == ingested
    idx = IMIIndex.load(spark, f"{store}/imi")
    c1 = spark.createDataFrame(
        [(i, [float(x) for x in c]) for i, c in enumerate(idx.cent1)],
        "cell_id int, centroid array<double>")
    c2 = spark.createDataFrame(
        [(i, [float(x) for x in c]) for i, c in enumerate(idx.cent2)],
        "cell_id int, centroid array<double>")
    expect = codec.encode(
        IMIIndex.from_centroids(vectors, c1, c2, 64).assigned)
    want = {r["vec_id"]: (r["cell1"], r["cell2"], list(r["pq_code"]))
            for r in expect.select("vec_id", "cell1", "cell2",
                                   "pq_code").collect()}
    for r in codes.collect():
        assert (r["cell1"], r["cell2"], list(r["pq_code"])) \
            == want[r["vec_id"]], r["vec_id"]
    hits = idx.search_pq(codec, codes, lv, top_k=5, a=4, b=4,
                         rerank=vectors.select("vec_id",
                                               "embedding")).collect()
    assert any(r["vec_id"] == last_id for r in hits)

    # --- learned-rotation short codes: coverage, byte parity under the
    # frozen (R, thresholds), and batch-4 servable via the persisted
    # artifacts (width-validated path)
    R = np.asarray([list(r["vals"]) for r in
                    spark.read.parquet(f"{store}/lbq/rotation")
                    .orderBy("row").collect()])
    thr = spark.read.parquet(f"{store}/lbq/thresholds")
    lcodes = spark.read.parquet(f"{store}/lbq/codes")
    assert {r["vec_id"] for r in lcodes.select("vec_id").collect()} \
        == ingested
    rot = opq.with_learned_rotation(vectors, R, 64, kernel="arrow") \
        .withColumn("emb_lrot", F.slice("emb_lrot", 1, 32))
    lrecompute = {r["vec_id"]: list(r["bq_code"]) for r in
                  bq_op.with_codes(rot, thr, 32, emb_col="emb_lrot")
                  .select("vec_id", "bq_code").collect()}
    for r in lcodes.collect():
        assert list(r["bq_code"]) == lrecompute[r["vec_id"]], r["vec_id"]
    got = opq.learned_bq_search(vectors, R, lv, 64, top_k=3,
                                thresholds=thr, codes=lcodes,
                                code_bits=32).collect()
    assert got[0]["vec_id"] == last_id and got[0]["hamming"] == 0


@pytest.mark.deep
def test_streaming_neardup_gate_matches_batch_replay(spark, tmp_path):
    """Persisted-band-state near-dup gate: driving the foreachBatch
    closure over 3 controlled batches accepts exactly the set a batch
    replay (incremental_near_dup_pairs vs accepted history + within-batch
    pairs) accepts; rejected rows carry a verified (dup_of, jaccard)
    witness; state grows by accepted content only."""
    from vervectordb_spark.operators import dedup as D
    from vervectordb_spark.streaming.ingest import make_neardup_handler

    base = ("the quick brown fox jumps over the lazy dog while the "
            "rain falls on the quiet gray town every single day")
    alt = ("completely different words about spark shuffles and "
           "partition pruning at warehouse scale with broadcast joins")
    third = ("yet another unrelated passage concerning minhash bands "
             "and jaccard verification over shingle sets in pipelines")
    batches = [
        [(1, base), (2, alt)],
        [(3, base + " tonight"),          # near-dups history doc 1
         (4, third), (5, third + " ok")], # 5 near-dups batch peer 4
        [(6, third + " ok indeed")],      # near-dups ACCEPTED 4
    ]
    state = str(tmp_path / "state")
    handler = make_neardup_handler(state, threshold=0.5)
    mk = lambda rows: spark.createDataFrame(rows, "doc_id long, text string")
    for i, rows in enumerate(batches):
        handler(mk(rows), i)

    accepted = {r["doc_id"] for r in
                spark.read.parquet(f"{state}/accepted").collect()}
    rejected = {r["doc_id"]: (r["dup_of"], r["jaccard"]) for r in
                spark.read.parquet(f"{state}/rejected").collect()}
    assert accepted == {1, 2, 4}
    assert set(rejected) == {3, 5, 6}
    assert rejected[3][0] == 1 and rejected[5][0] == 4
    assert rejected[6][0] in accepted          # witness is accepted content
    assert all(j >= 0.5 for _d, j in rejected.values())

    # batch replay parity: same per-batch rule over the same history
    replay_accepted: list = []
    for rows in batches:
        bdf = mk(rows)
        rej = set()
        if replay_accepted:
            hist = mk(replay_accepted)
            rej |= {r["new_id"] for r in D.incremental_near_dup_pairs(
                bdf, hist, threshold=0.5).collect()}
        rej |= {max(r["src_id"], r["dst_id"]) for r in
                D.minhash_near_dup_pairs(bdf, threshold=0.5).collect()}
        replay_accepted += [t for t in rows if t[0] not in rej]
    assert {t[0] for t in replay_accepted} == accepted

    # state is sized by ACCEPTED content only
    assert {r["doc_id"] for r in
            spark.read.parquet(f"{state}/shingles").collect()} == accepted


def test_stream_neardup_ingest_end_to_end(spark, tmp_path):
    """The writeStream plumbing: a file-source document stream through
    stream_neardup_ingest lands accepted/rejected parquet."""
    from vervectordb_spark.streaming import ingest as SI2

    src = str(tmp_path / "src")
    txt = ("alpha beta gamma delta epsilon zeta eta theta iota kappa "
           "lambda mu nu xi omicron pi rho sigma tau upsilon")
    docs = spark.createDataFrame(
        [(1, txt, "en", "web", len(txt)),
         (2, txt + " end", "en", "web", len(txt) + 4),
         (3, "short unrelated thing entirely different from the rest "
             "of the corpus in every shingle", "en", "web", 90)],
        "doc_id long, text string, lang string, source string, n_chars long")
    docs.coalesce(1).write.mode("overwrite").parquet(src)
    stream = SI2.stream_documents(spark, src)
    q = SI2.stream_neardup_ingest(
        stream, str(tmp_path / "state2"), str(tmp_path / "ckpt"),
        threshold=0.5)
    q.awaitTermination(120)
    acc = {r["doc_id"] for r in
           spark.read.parquet(str(tmp_path / "state2/accepted")).collect()}
    rej = {r["doc_id"] for r in
           spark.read.parquet(str(tmp_path / "state2/rejected")).collect()}
    assert acc == {1, 3} and rej == {2}


@pytest.mark.deep
def test_streaming_neardup_gate_retry_is_idempotent(spark, tmp_path):
    """foreachBatch is at-least-once: replaying a batch whose writes all
    landed but whose checkpoint commit was lost (marker deleted to
    simulate the crash window) must leave state IDENTICAL — dynamic
    partition overwrite replaces the first attempt, and the history read
    excludes the batch's own _batch_id so its docs never near-dup their
    own first-attempt state and stay accepted."""
    import shutil

    from vervectordb_spark.streaming.ingest import make_neardup_handler

    base = ("the quick brown fox jumps over the lazy dog while the "
            "rain falls on the quiet gray town every single day")
    alt = ("completely different words about spark shuffles and "
           "partition pruning at warehouse scale with broadcast joins")
    third = ("yet another unrelated passage concerning minhash bands "
             "and jaccard verification over shingle sets in pipelines")
    state = str(tmp_path / "state")
    handler = make_neardup_handler(state, threshold=0.5)
    mk = lambda rows: spark.createDataFrame(rows, "doc_id long, text string")
    handler(mk([(1, base), (2, alt)]), 0)
    batch1 = [(3, base + " tonight"), (4, third)]
    handler(mk(batch1), 1)

    def snapshot():
        out = {}
        for t in ("accepted", "rejected", "bands", "shingles"):
            out[t] = sorted(
                tuple(str(v) for v in r)
                for r in spark.read.parquet(f"{state}/{t}").collect())
        return out

    before = snapshot()
    # crash window: writes committed, checkpoint commit lost -> retry
    shutil.rmtree(f"{state}/committed/_batch_id=1")
    handler(mk(batch1), 1)
    assert snapshot() == before
    acc = {r["doc_id"] for r in
           spark.read.parquet(f"{state}/accepted").collect()}
    assert acc == {1, 2, 4}  # 3 rejected vs history 1; 4 stays accepted

    # clean replay (marker present) is a no-op too
    handler(mk(batch1), 1)
    assert snapshot() == before


@pytest.mark.deep
def test_streaming_spancut_matches_batch_incremental_chain(spark, tmp_path):
    """Streaming span dedup parity: driving the foreachBatch closure over
    3 controlled batches produces cuts BYTE-IDENTICAL to chaining the
    batch operators (incremental_remove_duplicate_spans +
    update_gram_history) over the same splits — and a retried batch
    (marker deleted) leaves state unchanged."""
    import shutil

    from vervectordb_spark.operators import spans as SP
    from vervectordb_spark.streaming.ingest import make_spancut_handler

    L = 3
    boiler = "shared boiler plate block here"
    batches = [
        [(1, f"{boiler} first unique tail"), (2, "clean words only")],
        [(3, f"second doc with {boiler} inside"),       # cuts vs history
         (4, "rep rep rep x rep rep rep")],             # within-batch
        [(5, f"third time {boiler} appears"), (6, "still clean")],
    ]
    state = str(tmp_path / "state")
    handler = make_spancut_handler(state, gram_len=L)
    mk = lambda rows: spark.createDataFrame(rows, "doc_id long, text string")
    for i, rows in enumerate(batches):
        handler(mk(rows), i)

    streamed = {r["doc_id"]: (r["clean_text"], r["n_tokens"],
                              r["n_tokens_removed"])
                for r in spark.read.parquet(f"{state}/cleaned").collect()}

    # batch replay: same splits through the batch operators
    hist = spark.createDataFrame(
        [], "gram_h long, gram_h2 long, n_occurrences long")
    replay = {}
    for rows in batches:
        bdf = mk(rows)
        for r in SP.incremental_remove_duplicate_spans(bdf, hist, L).collect():
            replay[r["doc_id"]] = (r["clean_text"], r["n_tokens"],
                                   r["n_tokens_removed"])
        hist = SP.update_gram_history(
            hist, SP.gram_history(bdf, L)).localCheckpoint(eager=True)
    assert streamed == replay
    # the boilerplate block cut in batches 1 and 2 (history carries SEEN
    # grams, so later occurrences keep cutting)
    assert streamed[3][2] > 0 and streamed[5][2] > 0
    assert streamed[4][0] == "x"          # within-batch repeat cut
    assert streamed[2][2] == 0 and streamed[6][2] == 0

    # retry idempotence (the near-dup gate contract)
    before = sorted(map(tuple, spark.read.parquet(f"{state}/cleaned")
                        .collect()))
    shutil.rmtree(f"{state}/committed/_batch_id=2")
    handler(mk(batches[2]), 2)
    after = sorted(map(tuple, spark.read.parquet(f"{state}/cleaned")
                       .collect()))
    assert after == before


def test_stream_spancut_ingest_end_to_end(spark, tmp_path):
    """The writeStream plumbing: a file-source document stream through
    stream_spancut_ingest lands cleaned parquet + gram state."""
    from vervectordb_spark.streaming import ingest as SI3

    src = str(tmp_path / "src")
    txt = ("alpha beta gamma delta epsilon zeta eta theta iota kappa "
           "lambda mu alpha beta gamma delta epsilon zeta eta theta")
    docs = spark.createDataFrame(
        [(1, txt, "en", "web", len(txt)),
         (2, "totally different words here now forever", "en", "web", 41)],
        "doc_id long, text string, lang string, source string, n_chars long")
    docs.coalesce(1).write.mode("overwrite").parquet(src)
    stream = SI3.stream_documents(spark, src)
    q = SI3.stream_spancut_ingest(
        stream, str(tmp_path / "state2"), str(tmp_path / "ckpt"),
        gram_len=8)
    q.awaitTermination(120)
    got = {r["doc_id"]: r["n_tokens_removed"] for r in
           spark.read.parquet(str(tmp_path / "state2/cleaned")).collect()}
    assert got[1] > 0 and got[2] == 0      # within-doc repeat cut
    assert spark.read.parquet(str(tmp_path / "state2/grams")).count() > 0


def test_spancut_survives_empty_gram_batch(spark, tmp_path):
    """Round-9 advice: a micro-batch where NO doc reaches gram_len tokens
    writes an empty gram-state directory (only _SUCCESS); the next batch
    must treat that history as absent instead of dying on parquet schema
    inference — and cuts must still work from the first non-empty batch."""
    from vervectordb_spark.streaming.ingest import make_spancut_handler

    L = 3
    state = str(tmp_path / "state")
    handler = make_spancut_handler(state, gram_len=L)
    mk = lambda rows: spark.createDataFrame(rows, "doc_id long, text string")
    # batch 0: every doc shorter than gram_len -> zero gram rows
    handler(mk([(1, "too short"), (2, "tiny")]), 0)
    boiler = "shared boiler plate block here"
    # batch 1 must read history without wedging
    handler(mk([(3, f"{boiler} first"), (4, f"again {boiler} tail")]), 1)
    # batch 2 cuts against batch 1's grams
    handler(mk([(5, f"{boiler} third time")]), 2)
    cleaned = {r["doc_id"]: r["n_tokens_removed"]
               for r in spark.read.parquet(f"{state}/cleaned").collect()}
    assert cleaned[1] == 0 and cleaned[2] == 0
    assert cleaned[5] > 0


def test_state_fs_helpers(spark, tmp_path):
    """sources/fs probes resolve through the Hadoop FS API and require
    real data files, not just directories (round-9 advice medium)."""
    from vervectordb_spark.sources.fs import (
        state_exists, state_has_data, state_mkdirs)

    p = str(tmp_path / "x")
    assert not state_exists(spark, p)
    state_mkdirs(spark, p)
    assert state_exists(spark, p)
    assert not state_has_data(spark, p)          # dir but no files
    open(f"{p}/_SUCCESS", "w").close()
    assert not state_has_data(spark, p)          # marker is not data
    (tmp_path / "x" / "part-00000.parquet").write_bytes(b"notreally")
    assert state_has_data(spark, p)
    # nested partition layout counts too
    q = str(tmp_path / "y")
    state_mkdirs(spark, f"{q}/_batch_id=0")
    assert not state_has_data(spark, q)
    (tmp_path / "y" / "_batch_id=0" / "part-0.parquet").write_bytes(b"d")
    assert state_has_data(spark, q)
