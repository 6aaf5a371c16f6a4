"""Sinks (partitioned layout, dynamic overwrite, report split, idempotent
append) and stateful streaming (dedup-within-watermark, late-row routing,
applyInPandasWithState running totals)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from biodata_pipeline_spark.sources.manifest import Manifest
from biodata_pipeline_spark.sources.sinks import (
    idempotent_append,
    overwrite_vector_store,
    write_partitioned,
    write_report,
)
from biodata_pipeline_spark.streaming.ingest import (
    read_events_stream,
    run_available_now,
)
from biodata_pipeline_spark.streaming.stateful import (
    dedup_within_watermark,
    running_user_totals,
    split_late,
)


def test_write_partitioned_layout_and_pruning(spark, tmp_path):
    df = spark.createDataFrame(
        [("a", 1, 10.0), ("a", 2, 20.0), ("b", 1, 30.0)],
        ["adapter_type", "epoch", "metric"],
    )
    path = str(tmp_path / "metrics")
    write_partitioned(df, path, ["adapter_type", "epoch"])
    back = spark.read.parquet(path)
    assert back.count() == 3
    # partition pruning: a filter on the partition column scans one dir
    plan = back.filter(F.col("adapter_type") == "a")._jdf.queryExecution().executedPlan().toString()
    assert "adapter_type" not in plan.split("ReadSchema")[-1][:200]


def test_dynamic_overwrite_replaces_only_touched_partition(spark, tmp_path):
    path = str(tmp_path / "dyn")
    v1 = spark.createDataFrame(
        [("a", 1.0), ("b", 2.0)], ["cell", "metric"]
    )
    write_partitioned(v1, path, ["cell"])
    # re-run just cell 'a' with a new value; 'b' must survive
    v2 = spark.createDataFrame([("a", 9.0)], ["cell", "metric"])
    write_partitioned(v2, path, ["cell"])
    got = {r.cell: r.metric for r in spark.read.parquet(path).collect()}
    assert got == {"a": 9.0, "b": 2.0}


def test_store_batch_writes_leave_the_session_conf_alone(
    spark, tmp_path, monkeypatch
):
    """The stores' batch-partition writes set their overwrite mode on
    the write itself: no ``RuntimeConfig.set`` of
    ``partitionOverwriteMode`` during a batch-id add, admit or gate."""
    from pyspark.sql.conf import RuntimeConfig

    from biodata_pipeline_spark.operators.ann_store import VectorIndexStore
    from biodata_pipeline_spark.operators.dedup import (
        SignatureStore,
        incremental_near_dup_filter,
    )

    vecs = spark.createDataFrame(
        [(i, [float(i % 3), float(i % 5), 1.0]) for i in range(24)],
        "vec_id long, embedding array<double>",
    )
    docs = spark.createDataFrame(
        [(1, "alpha beta gamma delta epsilon zeta eta theta"),
         (2, "one more entirely separate body of words here")],
        "doc_id long, text string",
    )
    store = VectorIndexStore(str(tmp_path / "ivf"))
    store.build(vecs.filter(F.col("vec_id") < 12), k=2, iters=1)
    sets = []
    real_set = RuntimeConfig.set

    def recording_set(self, key, value):
        sets.append(key)
        return real_set(self, key, value)

    monkeypatch.setattr(RuntimeConfig, "set", recording_set)
    store.add(vecs.filter(F.col("vec_id") >= 12), batch_id="1")
    SignatureStore(str(tmp_path / "sig")).admit(docs, 0.5, batch_id="1")
    incremental_near_dup_filter(docs, str(tmp_path / "gate"), 0.5, batch_id="1")
    assert not [k for k in sets if "partitionOverwriteMode" in k], sets


def test_write_report_splits_detail_and_summary(spark, tmp_path):
    detail = spark.createDataFrame([("q1", 3), ("q2", 7)], ["query", "rank"])
    summary = detail.agg(F.avg("rank").alias("avg_rank"))
    base = str(tmp_path / "report")
    write_report(detail, summary, base)
    assert spark.read.parquet(f"{base}/detail").count() == 2
    assert spark.read.parquet(f"{base}/summary").collect()[0].avg_rank == 5.0


def test_idempotent_append_with_manifest(spark, tmp_path):
    path = str(tmp_path / "narratives")
    manifest = Manifest(str(tmp_path / "manifest"), ("key",))
    work = spark.createDataFrame([("k1", "v1"), ("k2", "v2")], ["key", "text"])
    todo = manifest.pending(work)
    idempotent_append(todo, path, manifest)
    assert spark.read.parquet(path).count() == 2
    # second cycle: nothing pending, nothing appended
    again = manifest.pending(work)
    assert again.isEmpty()


def test_overwrite_vector_store(spark, tmp_path, sf_dir):
    from biodata_pipeline_spark.sources.tables import load_table

    emb = load_table(spark, sf_dir, "embeddings").limit(20)
    path = str(tmp_path / "store")
    overwrite_vector_store(emb, path, id_col="vec_id")
    overwrite_vector_store(emb, path, id_col="vec_id")  # rebuild is clean
    back = spark.read.parquet(path)
    assert back.columns == ["vec_id", "embedding"]
    assert back.count() == 20


# --- stateful streaming ------------------------------------------------------


@pytest.fixture()
def dup_events_dir(spark, tmp_path):
    """Events with duplicate deliveries of the same event_id."""
    path = str(tmp_path / "dup_events")
    rows = []
    base = 1_700_000_000_000
    for i in range(50):
        rows.append((i, base + i * 60_000, i % 3, "click", float(i)))
    # duplicate deliveries (same id/ts) for 10 of them
    for i in range(0, 50, 5):
        rows.append((i, base + i * 60_000, i % 3, "click", float(i)))
    df = spark.createDataFrame(
        rows, "event_id long, ms long, user_id long, event_type string, value double"
    ).select(
        "event_id",
        F.timestamp_millis(F.col("ms")).alias("ts"),
        "user_id",
        "event_type",
        "value",
    ).withColumn("props", F.lit("{}"))
    df.coalesce(1).write.mode("overwrite").parquet(path)
    return path


def test_dedup_within_watermark_drops_redeliveries(spark, dup_events_dir, tmp_path):
    stream = read_events_stream(spark, dup_events_dir)
    deduped = dedup_within_watermark(stream, ["event_id"], watermark="1 hour")
    run_available_now(
        deduped, str(tmp_path / "ckpt"), query_name="dedup_out"
    )
    out = spark.sql("SELECT * FROM dedup_out")
    assert out.count() == 50
    assert out.select("event_id").distinct().count() == 50


def test_split_late_routes_dead_letters(spark):
    base = 1_700_000_000_000
    df = spark.createDataFrame(
        [(1, base), (2, base + 60_000), (3, base - 30 * 60_000)],
        ["event_id", "ms"],
    ).select("event_id", F.timestamp_millis(F.col("ms")).alias("ts"))
    on_time, late = split_late(df, allowed_delay="10 minutes")
    assert {r.event_id for r in on_time.collect()} == {1, 2}
    assert {r.event_id for r in late.collect()} == {3}
    # nothing dropped: the two splits partition the batch
    assert on_time.count() + late.count() == df.count()


def test_running_user_totals_state(spark, dup_events_dir, tmp_path):
    stream = read_events_stream(spark, dup_events_dir)
    totals = running_user_totals(stream)
    run_available_now(
        totals,
        str(tmp_path / "ckpt2"),
        query_name="totals_out",
        output_mode="update",
    )
    got = {
        r.user_id: (r.n_events, r.sum_value)
        for r in spark.sql(
            "SELECT user_id, n_events, sum_value FROM totals_out"
        ).collect()
    }
    batch = spark.read.parquet(dup_events_dir)
    expected = {
        r.user_id: (r.n, r.s)
        for r in batch.groupBy("user_id")
        .agg(F.count("*").alias("n"), F.sum("value").alias("s"))
        .collect()
    }
    assert got == expected


def test_foreachbatch_dead_letter_routing(spark, dup_events_dir, tmp_path):
    """End-to-end: an availableNow stream whose sink splits each micro-batch
    into main + dead-letter parquet via split_late — late rows are diverted,
    never dropped (the reference's sentinel-not-drop rule, streaming-side)."""
    main_dir, late_dir = str(tmp_path / "main"), str(tmp_path / "late")
    stream = read_events_stream(spark, dup_events_dir)

    def route(batch_df, batch_id):
        on_time, late = split_late(batch_df, allowed_delay="30 minutes")
        on_time.write.mode("append").parquet(main_dir)
        late.write.mode("append").parquet(late_dir)

    q = (
        stream.writeStream.foreachBatch(route)
        .option("checkpointLocation", str(tmp_path / "ckpt_dl"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    n_main = spark.read.parquet(main_dir).count()
    n_late = spark.read.parquet(late_dir).count()
    assert n_main + n_late == 60  # every delivered row lands somewhere
    assert n_late > 0  # the backdated rows were diverted, not dropped


def test_write_json_metrics_roundtrip(spark, tmp_path):
    from biodata_pipeline_spark.sources.sinks import write_json_metrics

    metrics = spark.createDataFrame(
        [("base", 0.5, "gsm8k", 0.41), ("lora", 0.5, "gsm8k", 0.47)],
        ["adapter_type", "epoch", "task", "acc"],
    )
    path = str(tmp_path / "metrics_json")
    write_json_metrics(metrics, path)
    back = spark.read.json(path)
    assert back.count() == 2
    assert {r.adapter_type: r.acc for r in back.collect()} == {"base": 0.41, "lora": 0.47}
