"""Job budgets of the stage-C serving calls: building a
``VectorIndexStore.query`` frame, the RAG summary after its detail, and
a warm recall audit start no Spark job beyond the ones their inputs
require."""

from __future__ import annotations

import contextlib
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
    """A missing component dir reads as None without a ``spark.read``
    (whose PATH_NOT_FOUND would cost a py4j exception round trip)."""
    from biodata_pipeline_spark.operators.dedup import _read_index_delta

    class NoRead:
        _jvm, _jsc = spark._jvm, spark._jsc

        @property
        def read(self):
            raise AssertionError("spark.read called for a missing dir")

    assert _read_index_delta(NoRead(), str(tmp_path), "tombstones") is None


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
