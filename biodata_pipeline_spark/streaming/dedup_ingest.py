"""Streaming document ingest with the cross-batch near-dup gate.

Each microbatch flows through ``incremental_near_dup_filter``
(operators/dedup.py): exact/near duplicates of anything accepted in any
earlier batch — or earlier in this batch — are dropped and reported;
survivors land in the accepted corpus AND enroll their LSH state in the
index, so the next batch joins against them without re-banding history.

Replay safety without a separate commit marker: every write this sink
performs is scoped to the microbatch's own ``batch_id=`` partition via
dynamic partition overwrite — the index enrollment (the filter's
``batch_id`` mode), the accepted rows, and the drop report. A crashed
batch replays with the same batch_id, re-derives the SAME decision (the
filter's index read EXCLUDES the batch's own partition, so the replay
sees exactly the pre-crash index — even transitive batch chains like
a~b, b~c, a≁c resolve identically), and overwrites exactly its own
partitions. The at-least-once → exactly-once-effect pattern of
``streaming/export.py``, with partition scoping playing the marker's
role because every output here is idempotent per batch.

Reference anchor: the reference drives ingest as repeated script runs
with skip-if-exists filenames (generate_narratives_from_data.py:63-65);
this is that loop as one Structured Streaming query with content-keyed,
near-duplicate-aware admission.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

from biodata_pipeline_spark.operators.dedup import incremental_near_dup_filter
from biodata_pipeline_spark.sources.store import write_batch


def process_dedup_ingest_batch(
    batch_df: DataFrame,
    batch_id: int,
    index_dir: str,
    accepted_dir: str,
    report_dir: str,
    threshold: float,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> None:
    """One microbatch of the gated ingest — the foreachBatch body.

    The filter's operator-internal persists are scoped to the batch
    (``cache_scope``): a long-lived stream otherwise accumulates four
    cached frames per microbatch for the session lifetime (the r8
    100-batch probe measured a 6 s → 17 s per-batch latency drift
    before this scope existed). The filter's outputs are
    localCheckpointed before the scope exits, so releasing the
    internals costs nothing."""
    from biodata_pipeline_spark.operators.caching import cache_scope

    if batch_df.isEmpty():
        return
    with cache_scope():
        kept, report = incremental_near_dup_filter(
            batch_df,
            index_dir,
            threshold,
            id_col=id_col,
            text_col=text_col,
            batch_id=str(batch_id),
        )
        write_batch(kept, accepted_dir, str(batch_id))
        write_batch(report, report_dir, str(batch_id))


def run_dedup_ingest(
    stream_df: DataFrame,
    checkpoint_dir: str,
    index_dir: str,
    accepted_dir: str,
    report_dir: str,
    threshold: float,
    id_col: str = "doc_id",
    text_col: str = "text",
):
    """Drain a document stream through the near-dup gate
    (availableNow); returns the finished StreamingQuery."""

    def _batch(batch_df: DataFrame, batch_id: int) -> None:
        process_dedup_ingest_batch(
            batch_df,
            batch_id,
            index_dir,
            accepted_dir,
            report_dir,
            threshold,
            id_col=id_col,
            text_col=text_col,
        )

    q = (
        stream_df.writeStream.foreachBatch(_batch)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return q
