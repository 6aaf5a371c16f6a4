"""Job budgets of the stage-C serving calls: building a
``VectorIndexStore.query`` frame, the RAG summary after its detail, and
a warm recall audit start no Spark job beyond the ones their inputs
require. The stage-B pretraining chain computes each stage once and
runs no Python plan node."""

from __future__ import annotations

import contextlib
import re
import uuid

import pytest
from pyspark.sql import functions as F

from biodata_pipeline_spark.operators.ann_store import VectorIndexStore
from biodata_pipeline_spark.sources.local import local_frame

SF = "/root/testdata/sf0.001"


@contextlib.contextmanager
def jobs_started(spark):
    """Yield a list that holds, on exit, the ids of every Spark job the
    block started (its own job group, read once the listener bus has
    delivered the block's events)."""
    sc = spark.sparkContext
    group = f"budget-{uuid.uuid4().hex}"
    ids: list[int] = []
    sc.setJobGroup(group, group)
    try:
        yield ids
    finally:
        sc._jsc.clearJobGroup()
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        ids.extend(sc.statusTracker().getJobIdsForGroup(group))


def test_query_construction_job_budget(spark, tmp_path):
    """With the coarse quantizer, the PQ books and the kernel gate's
    row count warm, building a query frame runs only the footer read of
    each index component it scans: one for ``exact`` (assignments), two
    for ``adc_refine`` (pq_codes, then assignments for the refine). The
    query batch is a driver-built frame, so its collect runs no job."""
    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    store = VectorIndexStore(str(tmp_path / "ivf_budget"))
    store.build(emb.filter(F.col("vec_id") < 120), k=4, iters=1)
    store.enable_pq(spark, m=2, k_sub=8, iters=1)
    q = local_frame(
        spark,
        [(r.vec_id, list(r.embedding)) for r in emb.limit(4).collect()],
        "query_id long, query_emb array<double>",
    )
    for scoring, budget in (("exact", 1), ("adc_refine", 2)):
        store.query(q, 5, scoring=scoring).collect()  # warm the caches
        with jobs_started(spark) as ids:
            store.query(q, 5, scoring=scoring)
        assert len(ids) <= budget, (scoring, ids)


def test_rag_summary_reads_the_computed_detail(spark):
    """``summary.collect()`` after ``detail.collect()`` aggregates the
    persisted |Q|-row detail instead of re-running the ranking."""
    from biodata_pipeline_spark.operators.caching import cache_scope
    from biodata_pipeline_spark.pipelines import rag_evaluation
    from biodata_pipeline_spark.registry.vector import _flagship_inputs

    with cache_scope():
        queries, chunks = _flagship_inputs(spark, SF)
        detail, summary = rag_evaluation(queries, chunks)
        detail.collect()
        with jobs_started(spark) as ids:
            summary.collect()
    assert len(ids) <= 2, ids


def test_read_index_delta_checks_existence_first(spark, tmp_path):
    """A missing store path reads as None (or an empty manifest) without
    a ``spark.read``, whose PATH_NOT_FOUND would cost a py4j exception
    round trip: a component dir, ``Manifest.read`` and the export's
    shard-manifest read."""
    from biodata_pipeline_spark.sources.manifest import Manifest
    from biodata_pipeline_spark.sources.store import read_if_present
    from biodata_pipeline_spark.streaming.export import read_shard_manifest

    class NoRead:
        def __getattr__(self, name):
            return getattr(spark, name)

        @property
        def read(self):
            raise AssertionError("spark.read called for a missing dir")

    missing = str(tmp_path / "missing")
    assert read_if_present(NoRead(), f"{tmp_path}/tombstones") is None
    assert Manifest(missing, ("key",)).read(NoRead()).count() == 0
    assert read_shard_manifest(NoRead(), missing) is None


@pytest.mark.parametrize(
    "key, budget",
    [
        ("q_pq_recall_audit", 18),
        ("q_pq_residual_audit", 18),
        ("q_sq8_recall_audit", 18),
        ("q_bq_recall_audit", 17),
    ],
)
def test_recall_audit_warm_job_budget(spark, key, budget):
    """With the fits memoized, a recall audit scores its representation
    once (both variants read one checkpointed ranked stream) and takes
    ``n_truth`` from the ground truth's checkpoint job, so a warm run
    (build + collect) stays within ``budget`` jobs. Scoring the stream
    once per variant and counting ``n_truth`` with its own job ran
    21 / 21 / 22 / 19."""
    from biodata_pipeline_spark.registry import vector

    audit = getattr(vector, key)
    want = sorted(map(tuple, audit(spark, SF).collect()))  # warm the fits
    with jobs_started(spark) as ids:
        got = sorted(map(tuple, audit(spark, SF).collect()))
    assert got == want
    assert len(ids) <= budget, (key, len(ids))


PYTHON_NODE = re.compile(r"InPandas|InArrow|EvalPython|Python")


@contextlib.contextmanager
def plans_executed(spark):
    """Yield a list that holds, on exit, the final physical plan of
    every SQL execution the block started (read from the SQL status
    store once the listener bus has drained)."""
    bus = spark.sparkContext._jsc.sc().listenerBus()
    store = spark._jsparkSession.sharedState().statusStore()
    bus.waitUntilEmpty()
    execs = store.executionsList()
    last = execs.apply(execs.size() - 1).executionId() if execs.size() else -1
    plans: list[str] = []
    yield plans
    bus.waitUntilEmpty()
    execs = store.executionsList()
    for i in range(execs.size() - 1, -1, -1):
        e = execs.apply(i)
        if e.executionId() <= last:
            break
        plans.append(e.physicalPlanDescription())


def test_pretraining_pipeline_stages_run_once_without_python(spark, tmp_path):
    """A small ``run_pretraining_pipeline`` runs no Python plan node in
    any executed plan (exact copies leave through the MinHash collapse;
    the vocabulary and word→ids table come from the in-memory BPE
    training, not an Arrow encode) and stays within its job budget.
    With a separate exact-dedup pass and the kernel encode it ran 93
    jobs, and four executed plans held a MapInPandas node; now 72."""
    from biodata_pipeline_spark.pipelines import run_pretraining_pipeline

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    with plans_executed(spark) as plans, jobs_started(spark) as ids:
        _, report = run_pretraining_pipeline(
            docs, str(tmp_path / "run"), seq_len=64, n_merges=8,
            token_budget=2000, min_quality=0.3,
        )
        census = {r.metric: r.value for r in report.collect()}
    assert census["final_docs"] > 0 and census["vocab_size"] > 0
    assert plans
    python = [p for p in plans if PYTHON_NODE.search(p)]
    assert not python, python[0]
    assert len(ids) <= 78, len(ids)
