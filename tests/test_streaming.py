"""Structured Streaming surfaces: availableNow ingest drains the backlog,
streaming window aggs match their batch analogs, session windows work
end-to-end, and the idempotent-sink re-run is safe."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from biodata_pipeline_spark.streaming.ingest import (
    read_events_stream,
    run_available_now,
)
from biodata_pipeline_spark.streaming.windows import (
    session_counts,
    sliding_counts,
    tumbling_counts,
)


@pytest.fixture(scope="module")
def events_dir(spark, tmp_path_factory):
    """A small µs-precision events directory (streaming file source)."""
    path = str(tmp_path_factory.mktemp("events_stream"))
    rows = []
    base = 1_700_000_000_000  # ms
    for i in range(200):
        # two users, events every 7 minutes, a 90-minute gap in the middle
        gap = 90 * 60_000 if i >= 100 else 0
        rows.append((i, base + i * 7 * 60_000 + gap, i % 2, "click", float(i % 10)))
    df = spark.createDataFrame(
        rows, "event_id long, ms long, user_id long, event_type string, value double"
    ).select(
        "event_id",
        F.timestamp_millis(F.col("ms")).alias("ts"),
        "user_id",
        "event_type",
        "value",
    )
    df.withColumn("props", F.lit('{"k": 1}')).write.mode("overwrite").parquet(path)
    return path


def _batch(spark, events_dir):
    return spark.read.parquet(events_dir)


def test_available_now_tumbling_matches_batch(spark, events_dir, tmp_path):
    stream = read_events_stream(spark, events_dir)
    agg = tumbling_counts(stream, "1 hour", watermark="10 minutes")
    q = run_available_now(
        agg,
        str(tmp_path / "ckpt"),
        query_name="tumbling_out",
        output_mode="complete",
    )
    assert q.lastProgress is not None
    got = {
        r.window_start_ms: (r.n_events, r.sum_value)
        for r in spark.sql("SELECT * FROM tumbling_out").collect()
    }
    expected = {
        r.window_start_ms: (r.n_events, r.sum_value)
        for r in tumbling_counts(_batch(spark, events_dir), "1 hour").collect()
    }
    assert got == expected


def test_sliding_counts_batch_each_event_in_two_windows(spark, events_dir):
    batch = _batch(spark, events_dir)
    out = sliding_counts(batch, "1 hour", "30 minutes")
    assert out.agg(F.sum("n_events")).collect()[0][0] == 2 * batch.count()


def test_streaming_session_window(spark, events_dir, tmp_path):
    stream = read_events_stream(spark, events_dir)
    sess = session_counts(stream, gap="30 minutes", watermark="1 minute")
    run_available_now(
        sess,
        str(tmp_path / "ckpt2"),
        query_name="session_out",
        output_mode="complete",
    )
    rows = spark.sql("SELECT * FROM session_out").collect()
    # 7-minute cadence per user = 14 min between a user's events (< 30 min
    # gap) and one 90-minute break → exactly 2 sessions per user
    per_user = {}
    for r in rows:
        per_user.setdefault(r.user_id, []).append(r)
    assert set(per_user) == {0, 1}
    for u, sessions in per_user.items():
        assert len(sessions) == 2, f"user {u}: {sessions}"
        assert sum(s.n_events for s in sessions) == 100


def test_available_now_rerun_processes_nothing_new(spark, events_dir, tmp_path):
    """Checkpoint replaces the reference's filename-existence gating:
    draining twice with the same checkpoint must not reprocess rows."""
    out_dir = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt3")
    stream = read_events_stream(spark, events_dir).select(
        "event_id", "user_id", "value"
    )
    run_available_now(stream, ckpt, sink="parquet", path=out_dir)
    first = spark.read.parquet(out_dir).count()
    run_available_now(stream, ckpt, sink="parquet", path=out_dir)
    second = spark.read.parquet(out_dir).count()
    assert first == 200
    assert second == first  # exactly-once effect on re-drive


def test_streaming_exactly_once_survives_checkpoint_loss(spark, events_dir, tmp_path):
    """End-to-end exactly-once in stream mode: availableNow source →
    foreachBatch idempotent parquet+manifest sink. A FRESH checkpoint on
    the second run replays every file (at-least-once delivery), and the
    manifest layer alone must keep the sink duplicate-free — the streaming
    form of tests/test_manifest.py's run-twice guarantee."""
    from biodata_pipeline_spark.sources.manifest import Manifest
    from biodata_pipeline_spark.streaming.ingest import run_available_now_idempotent

    out_dir = str(tmp_path / "out")
    manifest = Manifest(str(tmp_path / "manifest"), ("event_id",))
    stream = read_events_stream(spark, events_dir).select(
        "event_id", "user_id", "value"
    )
    run_available_now_idempotent(stream, str(tmp_path / "ckpt_a"), out_dir, manifest)
    assert spark.read.parquet(out_dir).count() == 200

    # checkpoint lost → full replay; manifest still dedups every row
    run_available_now_idempotent(stream, str(tmp_path / "ckpt_b"), out_dir, manifest)
    out = spark.read.parquet(out_dir)
    assert out.count() == 200
    assert out.select("event_id").distinct().count() == 200

    # same checkpoint → offsets committed, nothing even reaches the sink
    run_available_now_idempotent(stream, str(tmp_path / "ckpt_b"), out_dir, manifest)
    assert spark.read.parquet(out_dir).count() == 200


def test_rate_limited_backlog_drains_in_bounded_batches(spark, tmp_path):
    """maxFilesPerTrigger bounds each micro-batch (the reference's ≤N-jobs
    queue gate): a 6-file backlog with limit 2 drains in ≥3 batches, every
    row exactly once."""
    src = str(tmp_path / "rated")
    total = 0
    for part in range(6):
        n = 10 + part
        total += n
        spark.createDataFrame(
            [(part * 1000 + i, 1_700_000_000_000 + i * 1000, part, "click", 1.0, "{}")
             for i in range(n)],
            "event_id long, ms long, user_id long, event_type string, value double, props string",
        ).select(
            "event_id",
            F.timestamp_millis(F.col("ms")).alias("ts"),
            "user_id", "event_type", "value", "props",
        ).coalesce(1).write.mode("append").parquet(src)

    stream = read_events_stream(spark, src, max_files_per_trigger=2)
    q = run_available_now(
        stream.select("event_id"),
        str(tmp_path / "ckpt_rate"),
        query_name="rated_out",
    )
    out = spark.sql("SELECT * FROM rated_out")
    assert out.count() == total
    assert out.distinct().count() == total
    batches = [p for p in q.recentProgress if p["numInputRows"] > 0]
    assert len(batches) >= 3  # the backlog was NOT swallowed in one batch
    # parquet writes may emit >1 file per append; the cap still bounds
    # rows per batch below the full backlog
    assert max(b["numInputRows"] for b in batches) < total


def test_incremental_shard_export_stream(spark, tmp_path):
    """Streaming shard export: multi-batch drain packs contiguously
    across batches, manifest deltas reconcile with the sink, and a
    re-drive with the same checkpoint adds nothing."""
    from biodata_pipeline_spark.streaming.export import (
        read_shard_manifest,
        run_incremental_shard_export,
    )

    src = str(tmp_path / "docs_src")
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    n_docs = docs.count()
    # two source files -> two microbatches with maxFilesPerTrigger=1
    docs.filter(F.col("doc_id") % 2 == 0).coalesce(1).write.parquet(
        src, mode="overwrite"
    )
    docs.filter(F.col("doc_id") % 2 == 1).coalesce(1).write.mode(
        "append"
    ).parquet(src)

    stream = (
        spark.readStream.schema(docs.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    sink = str(tmp_path / "shards")
    man = str(tmp_path / "manifest")
    ckpt = str(tmp_path / "ckpt")
    budget = 3000
    run_incremental_shard_export(
        stream, ckpt, sink, man, token_budget=budget
    )

    out = spark.read.parquet(sink)
    assert out.count() == n_docs
    assert out.select("doc_id").distinct().count() == n_docs
    assert out.select("batch_id").distinct().count() == 2

    # offsets are globally contiguous across batches (exclusive cumsum)
    rows = sorted(out.collect(), key=lambda r: r.token_offset)
    total = 0
    for r in rows:
        assert r.token_offset == total
        assert r.shard_id == r.token_offset // budget
        total += len(r.text.split()) if r.text.strip() else 0

    # manifest reconciles with the sink
    got = {
        (r.shard_id): (r.n_docs, r.shard_tokens)
        for r in read_shard_manifest(spark, man).collect()
    }
    sunk = {
        r.shard_id: r.n
        for r in out.groupBy("shard_id").agg(F.count("*").alias("n")).collect()
    }
    assert {s: n for s, (n, _) in got.items()} == sunk
    assert sum(t for _, t in got.values()) == total

    # re-drive with the same checkpoint: nothing new
    stream2 = (
        spark.readStream.schema(docs.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    run_incremental_shard_export(stream2, ckpt, sink, man, token_budget=budget)
    assert spark.read.parquet(sink).count() == n_docs
    assert read_shard_manifest(spark, man).agg(
        F.sum("n_docs")
    ).first()[0] == n_docs


def test_incremental_shard_export_crash_resume_byte_identical(
    spark, tmp_path, monkeypatch
):
    """Exactly-once across a mid-batch crash (VERDICT r6 #7): kill the
    export BETWEEN the shard write and the manifest commit of batch 1,
    resume from the same checkpoint, and the final sink + manifest must
    be row-identical to a no-crash export of the same source — the
    incremental contract (operators/sharding.py::incremental_shard_plan)
    says a replayed batch recomputes the identical plan and dynamic
    overwrite replaces exactly its own partitions."""
    from biodata_pipeline_spark.streaming import export as X

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    src = str(tmp_path / "src")
    docs.filter(F.col("doc_id") % 2 == 0).coalesce(1).write.parquet(
        src, mode="overwrite"
    )
    docs.filter(F.col("doc_id") % 2 == 1).coalesce(1).write.mode(
        "append"
    ).parquet(src)
    budget = 3000

    def stream():
        return (
            spark.readStream.schema(docs.schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
        )

    def sink_key(path):
        return sorted(
            (r.doc_id, r.batch_id, r.shard_id, r.token_offset, r["__ord"])
            for r in spark.read.parquet(path).collect()
        )

    # ---- reference: same source, no crash --------------------------------
    ref = {k: str(tmp_path / f"ref_{k}") for k in ("sink", "man", "ckpt")}
    X.run_incremental_shard_export(
        stream(), ref["ckpt"], ref["sink"], ref["man"], token_budget=budget
    )

    # ---- crash run: fail after batch 1's shard write, before its commit --
    run = {k: str(tmp_path / f"run_{k}") for k in ("sink", "man", "ckpt")}
    real_append = X._append_manifest

    def crash_on_batch1(plan, batch_id, manifest_dir):
        if batch_id == 1:
            raise RuntimeError("injected crash before commit marker")
        real_append(plan, batch_id, manifest_dir)

    monkeypatch.setattr(X, "_append_manifest", crash_on_batch1)
    with pytest.raises(Exception, match="injected crash|Terminated"):
        X.run_incremental_shard_export(
            stream(), run["ckpt"], run["sink"], run["man"], token_budget=budget
        )
    monkeypatch.setattr(X, "_append_manifest", real_append)

    # mid-crash state: batch 1's orphaned shard files may exist, but the
    # manifest (the commit marker) records batch 0 only
    committed = {
        r.batch_id
        for r in spark.read.parquet(run["man"]).select("batch_id").collect()
    }
    assert committed == {0}

    # ---- resume from the same checkpoint ---------------------------------
    X.run_incremental_shard_export(
        stream(), run["ckpt"], run["sink"], run["man"], token_budget=budget
    )

    assert sink_key(run["sink"]) == sink_key(ref["sink"])
    man_key = lambda p: sorted(  # noqa: E731
        (r.batch_id, r.shard_id, r.n_docs, r.shard_tokens)
        for r in spark.read.parquet(p).collect()
    )
    assert man_key(run["man"]) == man_key(ref["man"])


def test_export_with_corrupt_manifest_raises_before_writing(spark, tmp_path):
    """A corrupt shard manifest is an error, not "nothing exported yet":
    the next export must raise before it writes a shard or appends a
    commit, instead of packing from offset 0 over the existing shards."""
    import os

    from biodata_pipeline_spark.streaming.export import export_packed_sequences

    seqs = spark.createDataFrame(
        [(i, list(range(8)), 8) for i in range(12)],
        "seq_id long, ids array<int>, n_tokens int",
    )
    sink, man = str(tmp_path / "shards"), str(tmp_path / "manifest")
    export_packed_sequences(seqs, sink, man, token_budget=32, batch_id=0)
    parts = sorted(f for f in os.listdir(man) if f.endswith(".parquet"))
    assert parts
    for f in parts:
        with open(os.path.join(man, f), "wb") as fh:
            fh.write(b"not a parquet file")
    before = sorted(os.listdir(man))
    with pytest.raises(Exception):
        export_packed_sequences(seqs, sink, man, token_budget=32, batch_id=1)
    assert not os.path.exists(os.path.join(sink, "batch_id=1"))
    assert sorted(os.listdir(man)) == before


def test_dedup_ingest_stream_gates_across_batches(spark, tmp_path):
    """The gated ingest end to end: a 2-batch stream where batch 2
    repeats batch-1 content — accepted corpus holds one copy per
    distinct content, drops are reported with scopes, and a re-drive of
    the same source adds nothing."""
    from biodata_pipeline_spark.streaming.dedup_ingest import run_dedup_ingest

    base = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    b1 = [
        (1, base),
        (2, "a first unique document with its own body of words here"),
    ]
    b2 = [
        (10, base),  # exact dup of accepted doc 1, later batch
        (11, "a second unique document unlike anything else in the set"),
        (12, "a second unique document unlike anything else in the set"),
    ]
    src = str(tmp_path / "din_src")
    spark.createDataFrame(b1, ["doc_id", "text"]).coalesce(1).write.parquet(
        src, mode="overwrite"
    )
    spark.createDataFrame(b2, ["doc_id", "text"]).coalesce(1).write.mode(
        "append"
    ).parquet(src)
    dirs = {k: str(tmp_path / f"din_{k}") for k in ("idx", "acc", "rep", "ckpt")}
    schema = "doc_id long, text string"

    def stream():
        return (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
        )

    run_dedup_ingest(
        stream(), dirs["ckpt"], dirs["idx"], dirs["acc"], dirs["rep"], 0.5
    )
    acc = spark.read.parquet(dirs["acc"])
    assert sorted(r.doc_id for r in acc.collect()) == [1, 2, 11]
    rep = {r.id: r.scope for r in spark.read.parquet(dirs["rep"]).collect()}
    assert rep[10] == "index" and rep[12] == "exact"
    assert set(rep) == {10, 12}

    # re-drive with the same checkpoint: nothing new anywhere
    run_dedup_ingest(
        stream(), dirs["ckpt"], dirs["idx"], dirs["acc"], dirs["rep"], 0.5
    )
    assert spark.read.parquet(dirs["acc"]).count() == 3
    assert spark.read.parquet(dirs["rep"]).count() == 2


def test_vector_ingest_stream_enrolls_clean_batches(spark, tmp_path):
    """The embedding-side gated ingest end to end: a 2-batch stream
    where batch 2 carries defective vectors — only geometrically valid
    vectors enroll, the per-batch census reports what was lost, newly
    enrolled vectors are immediately searchable, and a re-drive of the
    same source adds nothing."""
    from biodata_pipeline_spark.operators.ann_store import VectorIndexStore
    from biodata_pipeline_spark.streaming.vector_ingest import (
        process_vector_ingest_batch,
        run_vector_ingest,
    )

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    store = VectorIndexStore(str(tmp_path / "vin_idx"))
    store.build(emb.filter(F.col("vec_id") < 100), k=4, iters=1)

    b1 = emb.filter((F.col("vec_id") >= 100) & (F.col("vec_id") < 110)).select(
        "vec_id", F.col("embedding").cast("array<float>").alias("embedding")
    )
    b2 = spark.createDataFrame(
        [(900, None), (901, [1.0, 2.0])],
        "vec_id long, embedding array<float>",
    ).unionByName(
        emb.filter((F.col("vec_id") >= 110) & (F.col("vec_id") < 115)).select(
            "vec_id",
            F.col("embedding").cast("array<float>").alias("embedding"),
        )
    )
    src = str(tmp_path / "vin_src")
    b1.coalesce(1).write.parquet(src, mode="overwrite")
    b2.coalesce(1).write.mode("append").parquet(src)
    rep = str(tmp_path / "vin_rep")
    ckpt = str(tmp_path / "vin_ckpt")

    def stream():
        return (
            spark.readStream.schema("vec_id long, embedding array<float>")
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
        )

    run_vector_ingest(stream(), ckpt, store.path, rep, dim=64)
    assert spark.read.parquet(f"{store.path}/assignments").count() == 115
    census = {
        (r.batch_id, r.defect): r.n_vecs
        for r in spark.read.parquet(rep).collect()
    }
    # one batch is all-ok, the other carries the two defects
    assert sum(n for (_, d), n in census.items() if d == "ok") == 15
    assert sum(n for (_, d), n in census.items() if d == "null") == 1
    assert sum(n for (_, d), n in census.items() if d == "wrong_dim") == 1

    # a newly enrolled vector is searchable as its own nearest neighbor
    probe = emb.filter(F.col("vec_id") == 112).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("query_emb"),
    )
    got = store.query(probe, k=1, n_probe=4).collect()
    assert [r.vec_id for r in got] == [112]

    # re-drive with the same checkpoint: nothing new anywhere
    run_vector_ingest(stream(), ckpt, store.path, rep, dim=64)
    assert spark.read.parquet(f"{store.path}/assignments").count() == 115

    # direct crash-replay of one batch id: partition overwrite, no dupes
    process_vector_ingest_batch(b1, 0, store.path, rep, 64)
    process_vector_ingest_batch(b1, 0, store.path, rep, 64)
    assert spark.read.parquet(f"{store.path}/assignments").count() == 115


def test_vector_ingest_requires_built_store(spark, tmp_path):
    from biodata_pipeline_spark.streaming.vector_ingest import (
        process_vector_ingest_batch,
    )

    emb = spark.read.parquet(
        "/root/testdata/sf0.001/embeddings.parquet"
    ).limit(3)
    with pytest.raises(ValueError, match="build\\(\\) trains"):
        process_vector_ingest_batch(
            emb, 0, str(tmp_path / "missing_idx"), str(tmp_path / "r"), 64
        )


def test_vector_ingest_stream_encodes_pq_per_batch(spark, tmp_path):
    """Streamed IVF-PQ: with a PQ layer enabled, every micro-batch's
    vectors are encoded on enroll (store.add does it — the stream sink
    needs no PQ awareness), newly streamed vectors are immediately
    searchable through the codes-only ADC path, and a crash-replay of a
    batch id overwrites both components without duplicates."""
    from biodata_pipeline_spark.operators.ann_store import VectorIndexStore
    from biodata_pipeline_spark.streaming.vector_ingest import (
        process_vector_ingest_batch,
        run_vector_ingest,
    )

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    store = VectorIndexStore(str(tmp_path / "vpq_idx"))
    store.build(emb.filter(F.col("vec_id") < 100), k=4, iters=1)
    store.enable_pq(spark)

    batch = emb.filter(
        (F.col("vec_id") >= 100) & (F.col("vec_id") < 110)
    ).select(
        "vec_id", F.col("embedding").cast("array<float>").alias("embedding")
    )
    src = str(tmp_path / "vpq_src")
    batch.coalesce(1).write.parquet(src, mode="overwrite")
    rep = str(tmp_path / "vpq_rep")
    ckpt = str(tmp_path / "vpq_ckpt")
    stream = (
        spark.readStream.schema("vec_id long, embedding array<float>")
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    run_vector_ingest(stream, ckpt, store.path, rep, dim=64)

    # codes exist for every enrolled vector, old and streamed
    n_codes = spark.read.parquet(f"{store.path}/pq_codes").count()
    assert n_codes == 110

    # a streamed vector is its own ADC nearest neighbor (identical
    # codes to its own encoding -> ADC sim 1.0)
    probe = emb.filter(F.col("vec_id") == 105).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("query_emb"),
    )
    fresh = VectorIndexStore(store.path)  # no warm caches
    got = fresh.query(probe, k=1, n_probe=4, scoring="adc").collect()
    assert [r.vec_id for r in got] == [105]

    # crash-replay: partition overwrite on BOTH components, no dupes
    process_vector_ingest_batch(batch, 0, store.path, rep, 64)
    assert spark.read.parquet(f"{store.path}/assignments").count() == 110
    assert spark.read.parquet(f"{store.path}/pq_codes").count() == 110
