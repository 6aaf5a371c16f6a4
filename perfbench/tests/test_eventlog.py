"""The event-log fold: a hand-written log pins the arithmetic, a live
two-job query pins Spark's log format and job-group attribution."""

import json
import os

import pytest

from perfbench import eventlog, inputs
from perfbench.eventlog import SQL_START, fold
from perfbench.tracer import Tracer


def _events():
    site = "collect at /src/biodata_pipeline_spark/operators/sharding.py:125"
    props = {"spark.jobGroup.id": "q#0", "callSite.short": site,
             "spark.sql.execution.id": "3"}
    plan = {"nodeName": "MapInPandas", "metrics": [], "children": [
        {"nodeName": "Scan parquet ", "children": [], "metrics": [
            {"name": "number of output rows", "accumulatorId": 7}]}]}
    task = {"Executor CPU Time": 2_000_000, "Executor Run Time": 9,
            "Memory Bytes Spilled": 5, "Disk Bytes Spilled": 6,
            "Shuffle Write Metrics": {"Shuffle Bytes Written": 100}}
    return [
        {"Event": SQL_START, "executionId": 3, "sparkPlanInfo": plan},
        {"Event": "SparkListenerJobStart", "Job ID": 0, "Properties": props},
        {"Event": "SparkListenerStageSubmitted", "Stage Info": {"Stage ID": 0},
         "Properties": props},
        {"Event": "SparkListenerTaskEnd", "Stage ID": 0, "Task Metrics": task},
        {"Event": "SparkListenerStageCompleted", "Stage Info": {
            "Stage ID": 0, "Submission Time": 1000, "Completion Time": 1300,
            "Accumulables": [{"ID": 7, "Name": "number of output rows",
                              "Value": "42"}]}},
        {"Event": "SparkListenerStageSubmitted", "Stage Info": {"Stage ID": 1},
         "Properties": props},
        {"Event": "SparkListenerStageCompleted", "Stage Info": {
            "Stage ID": 1, "Submission Time": 1200, "Completion Time": 1500}},
        # a job outside any group is attributed to no span
        {"Event": "SparkListenerJobStart", "Job ID": 1, "Properties": {}},
        {"Event": "SparkListenerJobStart", "Job ID": 2,
         "Properties": {"spark.jobGroup.id": "q#0"}},
    ]


def test_fold_synthetic(tmp_path):
    path = tmp_path / "log"
    path.write_text("".join(json.dumps(e) + "\n" for e in _events()))
    rec = fold(str(path))["q#0"]
    assert rec.jobs == 2
    assert rec.sites == {"operators.sharding": 1, "unattributed": 1}
    # stages [1000,1300] and [1200,1500] overlap: union 500 ms
    assert rec.stage_union_ms(1000, 2000) == 500
    assert rec.driver_gap_ms(1000, 2000) == 500
    # clipped to the span window
    assert rec.stage_union_ms(1100, 1400) == 300
    assert rec.executor_cpu_ms == 2
    assert rec.shuffle_bytes == 100 and rec.spill_bytes == 11
    assert rec.python_exec_nodes == 1 and rec.input_rows == 42


@pytest.fixture
def traced_spark(tmp_path):
    from pyspark.sql import SparkSession

    os.makedirs(tmp_path / "log")
    spark = (SparkSession.builder.master("local[2]")
             .config("spark.ui.enabled", "false")
             .config("spark.sql.adaptive.enabled", "true")
             .config("spark.eventLog.enabled", "true")
             .config("spark.eventLog.dir", f"file://{tmp_path}/log")
             .config("spark.eventLog.compress", "false")
             .config("spark.eventLog.rolling.enabled", "false")
             .getOrCreate())
    yield spark, tmp_path
    spark.stop()


def test_fold_live_two_job_query(traced_spark):
    import numpy as np

    spark, tmp = traced_spark
    # sf0.001-sized documents table
    inputs.write_parquet(inputs.documents(np.random.default_rng(0), 50),
                         f"{tmp}/docs.parquet")
    docs = spark.read.parquet(f"{tmp}/docs.parquet")
    tracer = Tracer(enabled=True)
    tracer.spark = spark
    docs.collect()  # untagged job before the span
    with tracer.span("q"):
        rows = docs.groupBy("lang").count().collect()  # AQE: map job + result job
    docs.collect()  # untagged job after the span
    assert sum(r["count"] for r in rows) == 50
    spark.stop()
    (log,) = os.listdir(tmp / "log")
    recs = fold(str(tmp / "log" / log))
    assert set(recs) == {"q#0"}
    (span,) = tracer.spans
    rec = recs["q#0"]
    assert rec.jobs == 2
    assert len(rec.stages) == 2
    union = rec.stage_union_ms(span.start_ms, span.end_ms)
    assert 0 < union <= span.end_ms - span.start_ms
    assert rec.driver_gap_ms(span.start_ms, span.end_ms) == pytest.approx(
        span.end_ms - span.start_ms - union)
    assert rec.sites.get("unattributed", 0) + sum(
        n for m, n in rec.sites.items() if m != "unattributed") == 2
    assert rec.executor_cpu_ms > 0 and rec.shuffle_bytes > 0
    assert rec.python_exec_nodes == 0
    assert rec.input_rows == 50


def test_call_site_module():
    assert eventlog.call_site_module(
        "count at /x/biodata_pipeline_spark/operators/tokenizer.py:148"
    ) == "operators.tokenizer"
    assert eventlog.call_site_module(
        "collect at /x/biodata_pipeline_spark/pipelines.py:9") == "pipelines"
    assert eventlog.call_site_module("count at NativeMethodAccessorImpl.java:0") \
        == "unattributed"
    assert eventlog.call_site_module(None) == "unattributed"
